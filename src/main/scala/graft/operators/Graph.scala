package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Tables, Warehouse}

/** Graph analytics over the part co-purchase graph (parts that appear in
  * the same order are connected). The reference's star schema is a graph
  * in disguise — FK edges between facts and dims (`main.py`'s dependency
  * DAG, `loaders/base_loader.py:176-211`'s lookup maps); these operators
  * are the warehouse-side analytics a graph-shaped corpus needs at scale:
  * entity importance (PageRank) and community density (triangles).
  *
  * Scale design:
  *  - The edge list is built ONCE (distinct (order, part) pairs →
  *    within-order pairing → symmetric closure), checkpointed, and
  *    reused by every iteration — the quadratic within-order pairing is
  *    bounded by lines-per-order (~4), never by table size.
  *  - PageRank is the canonical pregel-as-joins loop: each round is one
  *    equi-join (ranks ⋈ edges on src) plus one aggregation (sum by
  *    dst) — compact (node, rank) longs shuffle, never adjacency lists.
  *    Every loop runs through [[Loop]], which cuts lineage per round
  *    so the plan stays flat at any iteration count. For graphs whose
  *    rank table outgrows the broadcast pin, [[buildEdgeStore]] persists the edges bucketed
  *    by src and the `*AgainstStore` loops co-locate the per-round join
  *    on that layout (edge side exchange-free — the deployment path
  *    measured in SURVEY.md's "Measured design decisions"); the loop
  *    shape is unchanged.
  *  - All rank arithmetic is INTEGER (micro-units, floor division) —
  *    Long sums are associative, so results are bit-identical under any
  *    partitioning AND exactly replayable by the DuckDB oracle
  *    (float PageRank is neither).
  *  - Triangle counting uses the degree-ordering optimization (direct
  *    each undirected edge from its lower-(degree, id) endpoint to the
  *    higher): every triangle is generated exactly once, and wedge
  *    fan-out is bounded by Σ outdeg² where outdeg ≤ O(√m) for every
  *    node — the hub that would generate deg² wedges in the naive plan
  *    generates none, which is the difference between hours and minutes
  *    on a power-law graph at 100 TB.
  */
object Graph {

  /** PageRank damping in percent and per-node teleport in micro-units:
    * rank'(v) = Teleport + Σ_{u→v} (Damping · (rank(u) div deg(u))) div 100.
    * With rank0 = 1_000_000 this is the standard d=0.85 un-normalized
    * PageRank in exact integer arithmetic.
    */
  val Damping = 85L
  val Teleport = 150000L
  val Rank0 = 1000000L

  /** Undirected co-purchase edges: distinct part pairs sharing an order,
    * emitted once per unordered pair with `src < dst`.
    */
  def copurchaseEdges(t: Tables): DataFrame = {
    val op = t.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    op.as("a").join(op.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  /** g1: integer-arithmetic PageRank over the symmetric co-purchase
    * graph. Returns the topK parts by rank (ties broken by part key) —
    * (part_key, deg, rank), rank in exact micro-units.
    */
  def pagerank(t: Tables, iters: Int = 5, topK: Int = 100): DataFrame =
    pagerankFromEdges(copurchaseEdges(t), iters, topK)

  /** PageRank over any undirected edge list (`src`, `dst`, one row per
    * unordered pair) — the loop [[pagerank]] runs on the co-purchase
    * graph, exposed for crafted-graph specs and reuse.
    */
  def pagerankFromEdges(und: DataFrame, iters: Int, topK: Int): DataFrame = {
    val (deg, edgesDeg) = closureWithDegree(und, count(lit(1)).as("deg"), broadcastDeg = true)
    pagerankCore("pagerank", deg, edgesDeg, iters, topK, broadcastRanks = true)
  }

  /** Both directions of every undirected edge (`src`, `dst`, `extra`):
    * every node appears as a src, so out-degree enumerates the node set
    * and no dangling mass exists.
    */
  private def bothWays(und: DataFrame, extra: String*): DataFrame =
    und.select((Seq("src", "dst") ++ extra).map(col): _*)
      .union(und.select(Seq(col("dst").as("src"), col("src").as("dst")) ++ extra.map(col): _*))

  /** A loop's static side, checkpointed once: the closure and each
    * src's `degree` over it.
    */
  private def closureAndDegree(und: DataFrame, degree: Column,
      extra: String*): (DataFrame, DataFrame) = {
    val edges = bothWays(und, extra: _*).localCheckpoint(eager = true)
    (edges, edges.groupBy("src").agg(degree).localCheckpoint(eager = true))
  }

  /** The rank loops' `(deg, edgesDeg)`: the degree attached to every
    * edge ONCE, so a round is one (ranks ⋈ edgesDeg) join + one
    * aggregation. `broadcastDeg` pins the degree side broadcast like the
    * loop's ranks: the checkpointed edges carry no stats, so without the
    * pin the attach shuffle-writes the edge side first.
    */
  private def closureWithDegree(und: DataFrame, degree: Column, broadcastDeg: Boolean,
      extra: String*): (DataFrame, DataFrame) = {
    val (edges, deg) = closureAndDegree(und, degree, extra: _*)
    (deg, edges.join(if (broadcastDeg) broadcast(deg) else deg, "src")
      .localCheckpoint(eager = true))
  }

  /** The g1/g9 loop over pre-built (deg, edgesDeg) frames — shared by
    * the in-memory path (checkpointed inputs, ranks broadcast pinned)
    * and the bucketed-store path (bucketed scans, shuffle-joined ranks).
    */
  private def pagerankCore(name: String, deg: DataFrame, edgesDeg: DataFrame,
      iters: Int, topK: Int, broadcastRanks: Boolean,
      share: String = "rank div deg"): DataFrame = {
    val (ranks, _, _) = Loop(name, deg.select(col("src").as("node"), lit(Rank0).as("rank")),
      iters)(pagerankRound(_, edgesDeg, broadcastRanks, share))
    topRanked(ranks, deg, topK)
  }

  /** The `topK` nodes by rank, ties by id: (part_key, deg, rank). */
  private def topRanked(ranks: DataFrame, deg: DataFrame, topK: Int): DataFrame =
    ranks.join(deg, ranks("node") === deg("src"))
      .select(col("node").as("part_key"), col(deg.columns(1)), col("rank"))
      .orderBy(col("rank").desc, col("part_key"))
      .limit(topK)

  /** The hub seed (highest degree, lowest id): one driver-side row. */
  private def hub(deg: DataFrame): Option[Long] =
    deg.orderBy(col(deg.columns(1)).desc, col("src")).limit(1)
      .collect().headOption.map(_.getLong(0))

  /** One PageRank round. `broadcastRanks` (the default, correct while
    * the node set is dimension-sized — here it's parts) pins the
    * broadcast STATICALLY: the checkpointed inputs carry no stats, so
    * without the hint the planner sort-merge-joins and AQE's late
    * broadcast conversion still shuffle-WRITES the edge side every
    * round before converting — the write the hint exists to avoid.
    * With it, edges never enter an exchange and only compact
    * (dst, contrib) longs shuffle, with map-side partial sums
    * (PlanShapeSpec locks this). On a billion-node graph pass false:
    * the shuffle join co-locates if the edge table is bucketed by src
    * (the deployment note above). `share` is the mass each edge carries
    * before damping: g1 splits a rank equally over the degree, g9 by
    * weight (`(rank * w) div wdeg`). Package-visible for the plan lock.
    */
  private[graft] def pagerankRound(ranks: DataFrame, edgesDeg: DataFrame,
      broadcastRanks: Boolean = true, share: String = "rank div deg"): DataFrame =
    (if (broadcastRanks) broadcast(ranks) else ranks)
      .join(edgesDeg, col("node") === edgesDeg("src"))
      .groupBy(col("dst"))
      .agg((lit(Teleport) +
        sum(expr(s"($Damping * ($share)) div 100"))).as("rank"))
      .select(col("dst").as("node"), col("rank"))

  /** Weighted undirected co-purchase edges: one row per unordered part
    * pair with `w` = the number of distinct orders the pair shares —
    * the tie-strength signal the unweighted graph discards.
    */
  def weightedCopurchaseEdges(t: Tables): DataFrame = {
    val op = t.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    op.as("a").join(op.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** g9: WEIGHTED PageRank — g1 with rank mass split proportionally to
    * edge weight instead of equally: contribution u→v per round is
    * `(Damping · ((rank_u · w_uv) div W_u)) div 100` with W_u = Σ_v
    * w_uv, so frequently-co-purchased neighbors inherit more mass (the
    * multiplicity the unweighted graph flattens to 1). Same exact Long
    * floor-division discipline as g1: every intermediate is a positive
    * Long, so results are bit-identical under any partitioning and the
    * oracle replays the chain round for round. Per round ONE
    * (ranks ⋈ weighted-edges) join + a (dst)-keyed partial agg —
    * compact longs shuffle; ranks broadcast statically (g1's pin).
    */
  def weightedPagerank(t: Tables, iters: Int = 5, topK: Int = 100): DataFrame =
    weightedPagerankFromEdges(weightedCopurchaseEdges(t), iters, topK)

  /** g9 over any weighted undirected edge list (src, dst, w) — exposed
    * for crafted-graph specs.
    */
  def weightedPagerankFromEdges(wund: DataFrame, iters: Int, topK: Int,
      broadcastRanks: Boolean = true): DataFrame = {
    val (wdeg, edgesW) =
      closureWithDegree(wund, sum(col("w")).as("wdeg"), broadcastRanks, "w")
    pagerankCore("weighted_pagerank", wdeg, edgesW, iters, topK, broadcastRanks,
      WeightedShare)
  }

  /** g9's per-edge share of a rank (g1's is `rank div deg`). */
  private val WeightedShare = "(rank * w) div wdeg"

  // ---------------------------------------------------------------------
  // Bucketed edge store — the billion-node deployment path. The
  // in-memory loops pin a ranks BROADCAST, which is correct while the
  // node set is dimension-sized; on a graph whose rank table no longer
  // fits an executor, the per-round join must co-locate on storage
  // layout instead. The store persists the symmetric closure (degree
  // attached) bucketed+sorted by src, so every round's (ranks ⋈ edges)
  // join reads co-bucketed files: the EDGE side — the 100 TB side —
  // never enters an exchange; only the compact (node, rank) longs
  // shuffle into the bucket layout, plus the (dst) partial agg. Same
  // claim/publish generation protocol as the dedup/BM25/IVF stores
  // (racing rebuilds get distinct generations; probes pin a published
  // one). WarehouseSpec asserts the exchange shape via PlanAudit and
  // bit-identity of store-path ranks vs the in-memory loops; SURVEY.md's
  // "Measured design decisions" records it against the broadcast pin.
  // ---------------------------------------------------------------------

  /** Build (or rebuild) the co-purchase edge store: `edges`
    * (src, dst, deg) and `wedges` (src, dst, w, wdeg), both
    * bucketed+sorted by src. Returns the published generation.
    */
  def buildEdgeStore(t: Tables, store: String = "graphedges", buckets: Int = 0): Long = {
    val und = copurchaseEdges(t)
    val wund = weightedCopurchaseEdges(t)
    val spark = und.sparkSession
    val edges = bothWays(und)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val wedges = bothWays(wund, "w")
    val wdeg = wedges.groupBy("src").agg(sum(col("w")).as("wdeg"))
    Warehouse.build(Warehouse.tableStore(spark, store, Seq("edges", "wedges"))) { gen =>
      // independent frames — publish both tables concurrently
      // (guide §2.6, the signature-store pattern)
      Warehouse.writeBucketedConcurrently(Seq(
        (edges.join(deg, "src"), Warehouse.storeTableName(store, gen, "edges"), "src"),
        (wedges.join(wdeg, "src"), Warehouse.storeTableName(store, gen, "wedges"), "src")),
        buckets)
    }
  }

  /** The live generation's bucketed table — package-visible so specs
    * can audit the raw scan shape.
    */
  private[graft] def storeTable(spark: SparkSession, store: String, suffix: String): DataFrame =
    Warehouse.table(spark,
      Warehouse.storeTableName(store, Warehouse.resolveGeneration(spark, store), suffix))

  /** Per-node degree off the bucketed edge table: groupBy(src) is
    * satisfied by the bucket clustering, so this is exchange-free; min
    * is degenerate (deg is constant per src) but deterministic.
    */
  private def storeDeg(edgesDeg: DataFrame, degCol: String): DataFrame =
    edgesDeg.groupBy(col("src")).agg(min(col(degCol)).as(degCol))

  /** g1 against the persisted store: the identical integer loop (results
    * BIT-IDENTICAL to [[pagerank]] — spec-pinned), ranks shuffle-joined
    * into the bucket layout each round, the edge side read co-bucketed
    * with no exchange. The bucketed scan replaces the in-memory path's
    * checkpoint, so each round re-reads the (pruned two-column) edge
    * files — the trade that makes the loop independent of executor
    * memory.
    */
  def pagerankAgainstStore(spark: SparkSession, store: String = "graphedges",
      iters: Int = 5, topK: Int = 100): DataFrame = {
    val edgesDeg = storeTable(spark, store, "edges")
    pagerankCore("pagerank", storeDeg(edgesDeg, "deg"), edgesDeg, iters, topK,
      broadcastRanks = false)
  }

  /** g9 against the persisted store ([[pagerankAgainstStore]]'s shape on
    * the weighted table).
    */
  def weightedPagerankAgainstStore(spark: SparkSession, store: String = "graphedges",
      iters: Int = 5, topK: Int = 100): DataFrame = {
    val edgesW = storeTable(spark, store, "wedges")
    pagerankCore("weighted_pagerank", storeDeg(edgesW, "wdeg"), edgesW, iters, topK,
      broadcastRanks = false, WeightedShare)
  }

  /** g5 against the persisted store — the frontier starts seed-only, so
    * early rounds shuffle a frontier-sized rank table into the bucket
    * layout while the edge side still never moves.
    */
  def personalizedPagerankAgainstStore(spark: SparkSession, store: String = "graphedges",
      iters: Int = 4, topK: Int = 50): DataFrame = {
    val edgesDeg = storeTable(spark, store, "edges")
    personalizedCore(storeDeg(edgesDeg, "deg"), edgesDeg, iters, topK, broadcastRanks = false)
  }

  /** g5: PERSONALIZED PageRank from the graph's hub (highest-degree,
    * lowest-id tie-break) — the "parts bought around X" recommendation
    * primitive: teleport mass returns only to the SEED, so rank decays
    * with distance from it instead of measuring global importance.
    * Same integer floor-division arithmetic as g1 (bit-identical under
    * any partitioning, exactly replayable as the oracle's CTE chain);
    * the rank frontier starts seed-only and grows along reachability,
    * so early rounds join a frontier-sized rank table, not the node
    * set.
    */
  def personalizedPagerank(t: Tables, iters: Int = 4, topK: Int = 50): DataFrame =
    personalizedFromEdges(copurchaseEdges(t), iters, topK)

  def personalizedFromEdges(und: DataFrame, iters: Int, topK: Int,
      broadcastRanks: Boolean = true): DataFrame = {
    val (deg, edgesDeg) = closureWithDegree(und, count(lit(1)).as("deg"), broadcastRanks)
    personalizedCore(deg, edgesDeg, iters, topK, broadcastRanks)
  }

  /** The g5 loop over pre-built (deg, edgesDeg) frames — shared with the
    * bucketed-store path like [[pagerankCore]].
    */
  private def personalizedCore(deg: DataFrame, edgesDeg: DataFrame,
      iters: Int, topK: Int, broadcastRanks: Boolean): DataFrame = {
    val spark = deg.sparkSession
    // an empty graph yields an empty result like pagerankFromEdges, not
    // a crash
    hub(deg) match {
      case None =>
        spark.range(0).select(col("id").as("part_key"),
          col("id").as("deg"), col("id").as("rank"))
      case Some(seed) =>
        def seedRow(amount: Long): DataFrame =
          spark.range(1).select(lit(seed).as("node"), lit(amount).as("rank"))
        val (ranks, _, _) = Loop("personalized_pagerank", seedRow(Rank0), iters)(
          pprRound(_, edgesDeg, seedRow(Teleport), broadcastRanks))
        topRanked(ranks.filter(col("rank") > 0), deg, topK)
    }
  }

  /** g6: bounded BFS — exact hop distance from the hub seed for every
    * node within `maxHops`, the shortest-path layer structure g5's
    * rank decay approximates. FIXED-round semantics by contract (nodes
    * beyond `maxHops` are absent, not ∞): both engines run the
    * identical `maxHops` relaxation rounds, so equality holds by
    * construction with no convergence-detection asymmetry. Per round
    * ONE frontier⋈edges join + a node-keyed min — compact (node, hop)
    * longs shuffle, never adjacency lists; the distance table grows
    * with the reached set, so early rounds are frontier-sized.
    */
  def hopDistance(t: Tables, maxHops: Int = 6): DataFrame =
    hopDistanceFromEdges(copurchaseEdges(t), maxHops)

  def hopDistanceFromEdges(und: DataFrame, maxHops: Int): DataFrame = {
    val (edges, deg) = closureAndDegree(und, count(lit(1)).as("deg"))
    val spark = und.sparkSession
    hub(deg) match {
      case None =>
        spark.range(0).select(col("id").as("node"), col("id").as("hops"))
      case Some(seed) =>
        val (dist, _, _) = Loop("hop_distance",
          spark.range(1).select(lit(seed).as("node"), lit(0L).as("hops")), maxHops) { dist =>
          val relaxed = dist
            .join(edges, dist("node") === edges("src"))
            .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
          dist.unionByName(relaxed)
            .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        }
        dist.orderBy(col("hops"), col("node"))
    }
  }

  /** g7: deterministic label-propagation communities (Raghavan et al.
    * 2007, the synchronous form made engine-exact): every node's next
    * label is the MOST FREQUENT label among its neighbors (ties → the
    * smallest label value), run for a FIXED `rounds` rounds — g6's
    * fixed-round contract, so equality with the replayed oracle holds
    * by construction and synchronous LPA's possible label oscillation
    * needs no convergence-detection asymmetry. Seed labels are node
    * ids; only edge-connected vertices participate (the d6/g4
    * convention). Communities are the densely-linked part clusters the
    * co-purchase graph's components are too coarse to show.
    *
    * Scale shape: per round ONE ranks-sized join against the edge list
    * + a (node, label) count + a node-keyed argmax — compact longs
    * shuffle, never adjacency lists; the label table is node-sized and
    * the argmax is `max_by` partial aggregation (no per-node sort).
    */
  def labelCommunities(t: Tables, rounds: Int = 4): DataFrame =
    labelCommunitiesFromEdges(copurchaseEdges(t), rounds)

  /** g7 over any undirected edge list — exposed for crafted-graph
    * specs.
    */
  def labelCommunitiesFromEdges(und: DataFrame, rounds: Int,
      broadcastLabels: Boolean = true): DataFrame = {
    val edges = bothWays(und).localCheckpoint(eager = true)
    val seeds = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(eager = true)
    // the label table is node-sized and the checkpointed loop inputs
    // carry no stats: without the static broadcast pin the planner
    // sort-merge-joins and shuffle-WRITES the edge side every round
    // before AQE converts (g1's measured lesson — pagerankRound). On a
    // billion-node graph pass broadcastLabels = false and bucket the
    // edge table by dst.
    val (labels, _, _) = Loop("label_communities", seeds, rounds) { labels =>
      edges.join(
          if (broadcastLabels) broadcast(labels) else labels,
          edges("dst") === labels("node"))
        .groupBy(edges("src"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("nl"))).as("label"))
        .select(col("src").as("node"), col("label"))
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node").as("part_key"), col("label").as("community_id"),
        col("community_size"))
      .orderBy(col("community_id"), col("part_key"))
  }

  /** One personalized round: neighbor contributions (g1's floor
    * arithmetic) plus teleport to the SEED ONLY, folded in one
    * node-keyed sum. The seed row rides as a union so the seed exists
    * in the output even on rounds where no neighbor returns mass.
    */
  private[graft] def pprRound(ranks: DataFrame, edgesDeg: DataFrame,
      seedTeleport: DataFrame, broadcastRanks: Boolean = true): DataFrame =
    (if (broadcastRanks) broadcast(ranks) else ranks)
      .join(edgesDeg, col("node") === edgesDeg("src"))
      .groupBy(col("dst"))
      .agg(sum(expr(s"($Damping * (rank div deg)) div 100")).as("rank"))
      .select(col("dst").as("node"), col("rank"))
      .unionByName(seedTeleport)
      .groupBy(col("node"))
      .agg(sum(col("rank")).as("rank"))

  /** g2: exact per-node triangle counts via degree-ordered wedge
    * closing. Edges are directed low→high by (degree, id); a triangle
    * {u,v,w} with u < v < w in that order is found exactly once as the
    * wedge (u→v, u→w) closed by the edge v→w. Each of its three nodes
    * is credited. Returns nodes with ≥1 triangle: (part_key, n_tri).
    */
  def triangleCounts(t: Tables, broadcastClosing: Boolean = true): DataFrame =
    triangleCountsFromEdges(copurchaseEdges(t), broadcastClosing)

  /** Triangle counts over any undirected edge list (`src`, `dst`, one
    * row per unordered pair) — exposed for crafted-graph specs.
    * `broadcastClosing` — see [[trianglesFromEdges]].
    */
  def triangleCountsFromEdges(und: DataFrame,
      broadcastClosing: Boolean = true): DataFrame =
    trianglesFromEdges(und, broadcastClosing)
      .select(explode(array(col("u"), col("v"), col("w"))).as("part_key"))
      .groupBy("part_key")
      .agg(count(lit(1)).as("n_tri"))
      .orderBy(col("part_key"))

  /** Every triangle exactly once as (u, v, w): u first in the
    * (degree, id) order, v < w by id — the shared degree-ordered core of
    * g2, g3 and g8, computed by ADJACENCY INTERSECTION: for each
    * degree-ordered edge (a → b), the triangles through it as its
    * lowest-ordered corner are exactly N⁺(a) ∩ N⁺(b) (the forward
    * neighbors both endpoints point to). The row set is identical to the
    * classic wedge-generate-then-close plan (each triangle {x,y,z} with
    * x first surfaces exactly once, at edge (x → min-order sibling)),
    * but the Σ outdeg² wedge stream is never MATERIALIZED as rows: it
    * becomes per-row array-hash probes inside `array_intersect` — the
    * same element-visit count at a fraction of the per-element cost
    * (no 41M-row join probe, no explode-to-aggregate of wedge rows;
    * measured 2-3× on the dominant stage at sf0.1), and the at-scale
    * exchange drops from Σ outdeg² wedge ROWS to the Σ outdeg = 2|E|
    * adjacency-array elements.
    *
    * `broadcastClosing` is g1's `broadcastRanks` escape hatch for the
    * adjacency attach: the default (true) pins the (node, out-neighbors)
    * table broadcast — correct while Σ outdeg (= 2|E| longs) fits the
    * broadcast envelope — but the edge list GROWS WITH THE CORPUS, and
    * at 100× it passes Spark's 8 GB broadcast hard cap and driver
    * memory: the job fails, not slows. Pass false to attach via
    * single-key shuffle joins instead (the edge list exchanges on lo
    * and hi — E-sized rows, a sort of which is benign; the quadratic
    * wedge stream the old escape hatch guarded never exists here).
    * PlanShapeSpec locks both shapes.
    */
  /** Per-task row target for the triangle fan-out when the edge count
    * is known: ~6k degree-ordered edge rows keeps g2's full graph at
    * the measured-good 4x-parallelism width while a sparsified graph
    * gets proportionally fewer, fuller tasks.
    */
  private val FanoutRowsPerTask = 6000L

  private[graft] def trianglesFromEdges(und: DataFrame,
      broadcastClosing: Boolean = true, knownEdges: Option[Long] = None): DataFrame = {
    val sym = bothWays(und)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("n"), col("deg"))
    // order endpoints by (degree, id): lo → hi (explicit lexicographic
    // boolean, written identically in the DuckDB oracle)
    val srcFirst = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    // the deg attaches ride the same dimension-sized envelope as the
    // adjacency broadcast: pinned statically (g1's pagerankRound
    // lesson — without the pin the planner sort-merges and the edge
    // list shuffle-WRITES twice before AQE's late conversion), and the
    // broadcastClosing=false at-scale escape turns the pins off with it
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcastClosing) broadcast(df) else df
    // the intersect stage's parallelism is pinned EXPLICITLY before the
    // checkpoint: AQE coalesces the few-MB edge exchange by map-output
    // bytes, blind to the Σ outdeg² element visits the stage performs
    // (measured: the fan-out stage ran 8 tasks on 32 cores before the
    // pin). Round-robin (keyless) spreads a hot node's edges across
    // tasks — hashing a key cannot balance per-row outdeg² variance —
    // and the width derives from cluster parallelism, not a constant.
    // When the caller KNOWS the edge count (g10's sampled graph — an
    // eager checkpoint, so the count is free), the width additionally
    // caps at ~6k edge rows per task: a p=1/4-sparsified graph carries
    // ~1/16 of the wedge work, and launching 128 near-empty tasks per
    // stage was measurable overhead on a sub-second stage (the r18
    // disclosed g10 trade this gate recovers).
    val para = und.sparkSession.sparkContext.defaultParallelism
    val fanoutParts = knownEdges match {
      case Some(n) =>
        math.max(1L, math.min(4L * para, (n + FanoutRowsPerTask - 1) / FanoutRowsPerTask)).toInt
      case None => 4 * para
    }
    val ordered = und
      .join(maybeBroadcast(
        deg.withColumnRenamed("n", "src").withColumnRenamed("deg", "dsrc")), "src")
      .join(maybeBroadcast(
        deg.withColumnRenamed("n", "dst").withColumnRenamed("deg", "ddst")), "dst")
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("lo"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("hi"))
      .repartition(fanoutParts)
      .localCheckpoint(eager = true)
    // per-node forward-neighbor arrays (out-degree ≤ O(√m) by the
    // degree ordering, so no array is hub-sized)
    val adj = ordered.groupBy(col("lo")).agg(collect_list(col("hi")).as("nbrs"))
    val triangles = ordered
      .join(maybeBroadcast(adj.select(col("lo"), col("nbrs").as("na"))), Seq("lo"))
      .join(maybeBroadcast(adj.select(col("lo").as("hi"), col("nbrs").as("nb"))), Seq("hi"))
      .select(col("lo").as("u"), col("hi").as("vb"),
        explode(array_intersect(col("na"), col("nb"))).as("wv"))
    triangles.select(col("u"), least(col("vb"), col("wv")).as("v"),
      greatest(col("vb"), col("wv")).as("w"))
  }

  /** g10: SAMPLED triangle estimation — the sketch twin of g2's exact
    * wedge stream (the repo's exact→approx pairing: q16→q24, t5→t5's
    * sketch, exact counts→HLL/KMV). DOULION (Tsourakakis, Kang, Miller,
    * Faloutsos — KDD 2009): keep each undirected edge with probability
    * p = keepNum/keepDen, count triangles on the sparsified graph, and
    * scale the count by 1/p³ — an unbiased estimator whose variance
    * concentrates once the graph has ω(1/p³) triangles. The wedge
    * stream (g2's Σ outdeg² cost — THE growth term: 15× on 10× data at
    * sf1, because wedge count IS the statistic) shrinks ~p² and the
    * closure probe ~p, so the default p = 1/4 cuts the exact path's
    * dominant cost ~16× while the estimate stays within a few percent
    * on any triangle-rich graph.
    *
    * The sampling coin is DETERMINISTIC — an md5 prefix test on the
    * canonical `src:dst` pair (q19's hash-split trick), so the sampled
    * subgraph is a pure function of the edge set: bit-stable across
    * partitionings, engines and reruns, and the oracle replays the
    * whole chain (sample → degree-order → wedge-close → scale) exactly.
    * Output: one row — (n_edges, n_edges_sampled, n_tri_sampled,
    * est_triangles) with est = (count · keepDen³) div keepNum³.
    */
  def triangleSample(t: Tables, keepNum: Int = 1, keepDen: Int = 4): DataFrame =
    triangleSampleFromEdges(copurchaseEdges(t), keepNum, keepDen)

  /** g10 over any undirected edge list (`src`, `dst`, one row per
    * unordered pair) — exposed for crafted-graph specs.
    * `broadcastClosing` — see [[trianglesFromEdges]].
    */
  def triangleSampleFromEdges(und: DataFrame, keepNum: Int = 1, keepDen: Int = 4,
      broadcastClosing: Boolean = true): DataFrame = {
    require(keepNum >= 1 && keepDen >= keepNum && keepDen <= 256,
      s"need 1 <= keepNum=$keepNum <= keepDen=$keepDen <= 256")
    // md5-prefix coin at p = keepNum/keepDen over the first 32 hex bits
    // (uniform on the canonical pair string; q19_hash_split's exact
    // mechanism, so DuckDB replays it with the same literal). p = 1 is
    // the keep-everything identity — the threshold form would need a
    // 9-hex-digit prefix, which no 32-char digest compares below
    val threshold = f"${keepNum.toLong * 0x100000000L / keepDen}%08x" + "0" * 24
    val coin =
      if (keepNum == keepDen) lit(true)
      else md5(concat_ws(":", col("src"), col("dst"))) < lit(threshold)
    val edges = und.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val (coined, sampledRows) = counted(edges.filter(coin))
    val sampled = coined.localCheckpoint(eager = true)
    val den3 = keepDen.toLong * keepDen * keepDen
    val num3 = keepNum.toLong * keepNum * keepNum
    // degree ordering recomputes ON THE SAMPLED GRAPH (sparsification
    // changes degrees, and the estimator only needs the sampled graph's
    // own triangle count — the oracle orders by the same sampled degrees);
    // the sampled checkpoint's count (observed by its own job) sizes the
    // intersect fan-out
    trianglesFromEdges(sampled, broadcastClosing, knownEdges = Some(sampledRows()))
      .agg(count(lit(1)).as("n_tri_sampled"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(sampled.agg(count(lit(1)).as("n_edges_sampled")))
      .select(col("n_edges"), col("n_edges_sampled"), col("n_tri_sampled"),
        expr(s"(n_tri_sampled * ${den3}L) div ${num3}L").as("est_triangles"))
  }

  /** g3: per-edge EMBEDDEDNESS — the number of triangles through each
    * edge (= common neighbors of its endpoints), the tie-strength
    * metric graph sparsifiers and community detectors rank edges by:
    * a co-purchase edge inside a dense cluster closes many triangles,
    * a bridge between clusters closes none. Returns the topK edges by
    * (n_common desc, src, dst), endpoints canonicalized src < dst.
    *
    * Scale shape: the triangle stream is g2's — each triangle
    * generated exactly once by degree-ordered wedge closing (hub
    * fan-out bounded, never Σdeg² over the raw orientation) — plus ONE
    * (src, dst)-keyed count of compact id pairs and a top-K. The
    * all-pairs common-neighbor variant (scores for NON-edges too) is
    * deliberately not offered at this grain: without the closing-edge
    * filter the wedge stream is Σdeg² with no ordering escape.
    */
  def edgeEmbeddedness(t: Tables, topK: Int = 100,
      broadcastClosing: Boolean = true): DataFrame =
    edgeEmbeddednessFromEdges(copurchaseEdges(t), topK, broadcastClosing)

  /** Edge embeddedness over any undirected edge list — exposed for
    * crafted-graph specs. `broadcastClosing` — see [[trianglesFromEdges]].
    */
  def edgeEmbeddednessFromEdges(und: DataFrame, topK: Int = 100,
      broadcastClosing: Boolean = true): DataFrame =
    trianglesFromEdges(und, broadcastClosing)
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b")))).as("e"))
      .select(col("e.a").as("src"), col("e.b").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n_common"))
      .orderBy(col("n_common").desc, col("src"), col("dst"))
      .limit(topK)

  /** g8: per-node LOCAL CLUSTERING COEFFICIENT — c(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) for deg ≥ 2: the graph-health panel metric
    * (how clique-like each node's neighborhood is; the global average
    * is the classic small-world diagnostic). Composes g2's
    * degree-ordered triangle stream with the degree table — the
    * triangle count is the only non-trivial term and it reuses the
    * bounded wedge-close core unchanged; the final join is compact
    * (node, count) rows.
    */
  def clusteringCoeff(t: Tables, broadcastClosing: Boolean = true): DataFrame =
    clusteringCoeffFromEdges(copurchaseEdges(t), broadcastClosing)

  /** g8 over any undirected edge list — exposed for crafted-graph
    * specs. `broadcastClosing` — see [[trianglesFromEdges]].
    */
  def clusteringCoeffFromEdges(und: DataFrame,
      broadcastClosing: Boolean = true): DataFrame = {
    val tri = triangleCountsFromEdges(und, broadcastClosing)
      .select(col("part_key"), col("n_tri"))
    val deg = bothWays(und)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(tri, deg("src") === tri("part_key"), "left")
      .select(deg("src").as("part_key"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("clustering_coeff"))
      .orderBy(col("part_key"))
  }

  /** g4: connected components over the full part node set — every part
    * appearing in lineitem gets a component id (the component's minimum
    * part key); parts never co-purchased with another are singleton
    * components of themselves. The propagation core is d6's min-label +
    * pointer-jumping loop ([[graft.operators.Dedup.clustersOfPairs]] —
    * O(log diameter) rounds, each a fixed number of compact (node,
    * label) shuffles regardless of graph size), applied to the
    * co-purchase edge list instead of dedup candidate pairs: one
    * propagation engine, two domains. Isolated nodes never enter the
    * loop — they attach in a final map-side coalesce, so the iteration
    * cost scales with EDGE-connected vertices only.
    */
  def connectedComponents(t: Tables, oracleRounds: Option[Int] = None): DataFrame =
    componentsFromEdges(copurchaseEdges(t),
      t.lineitem.select(col("l_partkey").as("node")).distinct(), oracleRounds)

  /** g4 over any undirected edge list + node universe — exposed for
    * crafted-graph specs. `oracleRounds`: the gate's DuckDB oracle
    * replays a FIXED number of pointer-jumping generations; when set,
    * the operator asserts it converged within that budget
    * ([[Dedup.clustersOfPairs]]).
    */
  def componentsFromEdges(und: DataFrame, nodes: DataFrame,
      oracleRounds: Option[Int] = None): DataFrame = {
    val clusters = Dedup.clustersOfPairs(
      und.select(col("src").as("doc_a"), col("dst").as("doc_b")), oracleRounds = oracleRounds)
    val labeled = clusters
      .select(col("doc_id").as("node"), col("cluster_id").as("cid"))
    nodes
      .join(labeled, Seq("node"), "left")
      .select(col("node"), coalesce(col("cid"), col("node")).as("component_id"))
      .orderBy(col("component_id"), col("node"))
  }
}
