package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Repartition, RepartitionByExpression}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.operators.{Curation, Dedup, Graph, Multimodal, Relational, Similarity, TextAnalysis}
import graft.sources.Tables

/** Plan-shape assertions for the scale-critical fixes: these lock the
  * SHAPE of the plan (what shuffles, what broadcasts), not its result —
  * the properties a 100 TB run depends on and a correctness oracle
  * cannot see.
  */
class PlanShapeSpec extends SparkSpecBase {

  private lazy val t = Tables(spark, sfDir)

  /** The initial (pre-AQE) physical plan — where forced hints and static
    * pushdown decisions live.
    */
  private def phys(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  private def scansOf(plan: SparkPlan, table: String): Seq[FileSourceScanExec] =
    plan.collect {
      case s: FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains(s"$table.parquet")) => s
    }

  private def pushed(s: FileSourceScanExec): String =
    s.metadata.getOrElse("PushedFilters", "")

  /** Execute `df` and return the FINAL adaptive plan's formatted explain
    * (AQE's runtime decisions — broadcast promotions — only exist after
    * execution).
    */
  private def finalExplain(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** The `Input [...]` column lists of every Exchange node in a formatted
    * explain — i.e. WHAT each shuffle/broadcast actually carries.
    */
  private def exchangeInputs(explain: String): Seq[String] =
    explain.split("\n\n").toSeq
      .filter(b => b.linesIterator.hasNext &&
        b.linesIterator.next().matches("""\(\d+\) (Exchange|AQEShuffleRead).*"""))
      .flatMap(_.linesIterator.filter(_.startsWith("Input ")))

  test("t6 tfidf: the vocabulary join carries no broadcast hint; only the 1-row doc count does") {
    // at web-corpus scale the distinct-token table is billions of rows —
    // a forced broadcast OOMs; AQE may still broadcast it when it
    // measures small, but the PLAN must not demand it
    val plan = TextAnalysis.tfidf(Tables(spark, sfDir)).queryExecution.optimizedPlan
    val hintedJoins = plan.collect {
      case j: Join if j.hint.leftHint.orElse(j.hint.rightHint).isDefined => j
    }
    assert(hintedJoins.length == 1,
      s"expected exactly one hinted join (the n_docs single-row cross join), got:\n$plan")
    // no separate driver-side count() action: the doc count is a plan node
    assert(plan.toString.contains("n_docs"), "doc count must fold into the plan")
  }

  test("m1 multimodal: the binary payload never shuffles on a key before decode") {
    // decode is per-row work needing no co-location; a keyed exchange of
    // the full payload (the former repartition on ~20-value meta.source)
    // collapses parallelism to #sources tasks at corpus scale
    val plan = Multimodal.pipeline(Tables(spark, sfDir)).queryExecution.optimizedPlan
    val keyed = plan.collect { case r: RepartitionByExpression => r }
    assert(keyed.isEmpty,
      s"payload must reach the decode pass with no keyed exchange, got:\n$plan")
    // source rides along the decode — no join may reappear to re-attach
    // columns the metadata struct already carries
    assert(plan.collect { case j: Join => j }.isEmpty,
      s"m1 must not re-join documents for metadata columns:\n$plan")
  }

  test("q2/q17: all three dimension joins broadcast; the fact never pre-join shuffles") {
    // the distributed form of the reference's in-memory FK lookup maps —
    // at 100 TB a sort-merge join here would shuffle the full fact 3×
    for ((name, df) <- Seq("q2" -> Relational.q2LookupJoin(t), "q17" -> Relational.q17Rollup(t))) {
      val p = phys(df)
      assert(p.collect { case b: BroadcastHashJoinExec => b }.length == 3,
        s"$name must broadcast supplier/nation/region, got:\n$p")
      assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
        s"$name must not sort-merge any dim join:\n$p")
    }
  }

  test("q13: segment and both date filters are pushed to their parquet scans") {
    val p = phys(Relational.q13OrderRevenue(t))
    assert(scansOf(p, "customer").exists(pushed(_).contains("EqualTo(c_mktsegment,BUILDING)")),
      s"customer segment filter must reach the scan:\n$p")
    assert(scansOf(p, "orders").exists(pushed(_).contains("LessThan(o_orderdate")),
      s"orders date filter must reach the scan:\n$p")
    assert(scansOf(p, "lineitem").exists(pushed(_).contains("GreaterThan(l_shipdate")),
      s"lineitem date filter must reach the scan:\n$p")
  }

  test("q9: both watermark predicates are pushed in the ts column's native domain") {
    // a predicate through a conversion expression cannot prune row
    // groups; one in the stored domain (timestamp literal vs timestamp
    // column, or raw nanos vs legacy INT64 data) reaches PushedFilters
    // and prunes files at 100 TB
    val p = phys(Relational.q9Incremental(t))
    val evScans = scansOf(p, "events")
    // besides the predicate shape, pin the pushed VALUE to the watermark
    // instant: a timezone-shifted literal would still render
    // "GreaterThan(ts," but carry the wrong instant. Accepted renderings:
    // the legacy INT64(NANOS) branch's exact nanos, or the timestamp
    // branch's java.sql.Timestamp rendering of the SAME instant — which
    // prints in the JVM default zone, so compute it rather than
    // hard-coding "2024-01-15" (a non-UTC JVM renders the correct
    // instant with a different wall-clock date)
    val wmRendered = java.sql.Timestamp
      .from(java.time.Instant.parse("2024-01-15T00:00:00Z")).toString
      .stripSuffix(".0")
    def carriesWatermark(s: String): Boolean =
      s.contains(wmRendered) || s.contains("1705276800000000000") ||
        s.contains("2024-01-15T00:00") // TimestampNTZ branch: zone-less LocalDateTime rendering
    assert(evScans.exists(sc => pushed(sc).contains("GreaterThan(ts,") && carriesWatermark(pushed(sc))),
      s"fresh-side watermark must push down with the watermark value:\n$p")
    assert(evScans.exists(sc => pushed(sc).contains("LessThanOrEqual(ts,") && carriesWatermark(pushed(sc))),
      s"known-entity-side watermark must push down with the watermark value:\n$p")
  }

  test("dc1: exactly one broadcast-hinted join (the benchmark shingles); no sort-merge join") {
    val df = Curation.decontaminate(t)
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.orElse(j.hint.rightHint).isDefined => j
    }
    assert(hinted.length == 1,
      s"the benchmark shingle set is the one forced broadcast:\n${df.queryExecution.optimizedPlan}")
    val p = phys(df)
    assert(p.collect { case b: BroadcastHashJoinExec => b }.length == 1 &&
      p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"corpus shingles must probe a broadcast, never sort-merge:\n$p")
  }

  test("dc12: the bench band table broadcasts; corpus bands never sort-merge against it") {
    // the eval suite is tiny by construction — its band keys must reach
    // the corpus side as a broadcast so corpus bands are checked
    // map-side and the corpus never self-pairs through an exchange
    val df = Curation.neardupDecontaminate(t)
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.orElse(j.hint.rightHint).isDefined => j
    }
    assert(hinted.length == 1,
      s"exactly one forced broadcast (the bench bands):\n${df.queryExecution.optimizedPlan}")
    val p = phys(df)
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"the candidate probe must be a broadcast join:\n$p")
  }

  test("g2/g3: the adjacency attaches broadcast and the wedge stream never exists as rows") {
    Seq("g2" -> Graph.triangleCounts(t), "g3" -> Graph.edgeEmbeddedness(t)).foreach {
      case (name, df) =>
        val p = phys(df)
        assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
          s"$name: the per-node adjacency arrays must broadcast against the edge list:\n$p")
        // the old wedge-generate-then-close plan carried a 2-key
        // (v, w) closing join over a Σ outdeg² wedge-row stream; the
        // adjacency-intersection core has NO multi-key join at all —
        // its absence is the witness the wedge stream was never
        // materialized as rows
        assert(p.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.length >= 2 => j
        }.isEmpty, s"$name: no 2-key join may exist (no materialized wedge stream):\n$p")
    }
  }

  test("g2/g3/g8 at-scale shape: broadcastClosing=false attaches adjacency by shuffle, no pinned broadcast") {
    // when the adjacency table outgrows broadcast (Σ outdeg = 2|E|
    // longs grows with the corpus — past the 8 GB broadcast cap the
    // default shape FAILS, not slows), the escape hatch must attach via
    // single-key shuffle joins of the E-sized edge list — and still
    // never materialize a wedge-row stream (no 2-key join)
    Seq(
      "g2" -> Graph.triangleCounts(t, broadcastClosing = false),
      "g3" -> Graph.edgeEmbeddedness(t, broadcastClosing = false),
      "g8" -> Graph.clusteringCoeff(t, broadcastClosing = false)
    ).foreach { case (name, df) =>
      // the escape hatch's contract is that every STATIC pin is gone —
      // the planner (and AQE at runtime) then sizes the attaches from
      // real stats, which is exactly the adaptive behavior wanted when
      // the adjacency table is too big to pin
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.orElse(j.hint.rightHint).isDefined => j
      }
      assert(hinted.isEmpty,
        s"$name(false): no broadcast pin may survive the escape hatch:\n" +
          df.queryExecution.optimizedPlan)
      val p = phys(df)
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.length >= 2 => j
      }.isEmpty, s"$name(false): no 2-key join may exist (no materialized wedge stream):\n$p")
    }
  }

  test("dc6: zero shuffles before the presentation sort") {
    // all nine gate metrics are one map-side codegen projection over one
    // scan; the only exchange the plan may contain is the final orderBy's
    // range partitioning. (`sparkPlan` predates EnsureRequirements, so
    // shuffles are only visible in the prepared plan's explain.)
    val explain = Curation.qualityGate(t).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = explain.split("\n\n").toSeq.filter(b =>
      b.linesIterator.hasNext && b.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
    assert(exchanges.length == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected only the presentation-sort exchange, got:\n$explain")
  }

  test("s3: no exchange ever carries an embedding payload (corpus never shuffles)") {
    // query bands / query embeddings / candidate set broadcast; every
    // shuffle moves ids and scalars only — the invariant that makes the
    // ANN probe read-mostly at 100 TB
    val inputs = exchangeInputs(finalExplain(Similarity.lshTopK(t)))
    assert(inputs.nonEmpty, "expected at least one exchange Input line")
    val carrying = inputs.filter(_.contains("emb"))
    assert(carrying.isEmpty,
      s"an exchange carries embedding payloads:\n${carrying.mkString("\n")}")
  }

  test("d8: no exchange carries an embedding payload except the within-cluster join sides") {
    // the two cluster_id-keyed exchanges ARE the algorithm (embeddings
    // shuffle once per side); nothing else — in particular the output
    // agg/sort — may move vectors
    val inputs = exchangeInputs(finalExplain(Dedup.semDedup(t)))
    val carrying = inputs.filter(_.contains("emb"))
    assert(carrying.length <= 2,
      s"only the two join-side exchanges may carry embeddings:\n${carrying.mkString("\n")}")
  }

  test("d9: no hash/range exchange carries document text or token arrays") {
    // the substring index shuffles only (h, doc_id, pos) triples; the
    // heavy text may appear in at most the round-robin spread of a
    // degenerate few-split LOCAL scan (spreadIfNarrow — absent at scale)
    val df = Dedup.substringSpans(t)
    df.collect()
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val offending = explain.split("\n\n").toSeq
      .filter(b => b.linesIterator.hasNext &&
        b.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
      .filter(b => b.linesIterator.exists(l =>
        // \b-guarded: `span_tokens#...` (an output measure) must not
        // trip the payload check aimed at `text#`/`tokens#` columns
        l.startsWith("Input ") && "(?<![\\w])(text|tokens)#\\d".r.findFirstIn(l).isDefined))
      .filterNot(_.contains("roundrobinpartitioning"))
    assert(offending.isEmpty,
      s"a keyed exchange carries the text payload:\n${offending.mkString("\n\n")}")
  }

  test("t8 unigram logprob: the corpus-frequency join carries no broadcast hint; only the 1-row total does") {
    // same scale contract as t6: the distinct-token table is unbounded at
    // web scale, so the tf↔ctf join must stay un-hinted (AQE promotes it
    // when it measures small); the corpus token total folds into the plan
    // as a one-row aggregate, never a driver-side action
    val plan = TextAnalysis.unigramLogprob(t).queryExecution.optimizedPlan
    val hintedJoins = plan.collect {
      case j: Join if j.hint.leftHint.orElse(j.hint.rightHint).isDefined => j
    }
    assert(hintedJoins.length == 1,
      s"expected exactly one hinted join (the n_total single-row cross join), got:\n$plan")
    assert(plan.toString.contains("n_total"), "token total must fold into the plan")
  }

  test("t9 pii redact: zero shuffles before the presentation sort") {
    // counting + redaction is one map-side codegen projection over one
    // scan — the 100 TB shape for a scrubbing pass every document crosses
    val explain = TextAnalysis.piiScrub(t).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = explain.split("\n\n").toSeq.filter(b =>
      b.linesIterator.hasNext && b.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
    assert(exchanges.length == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected only the presentation-sort exchange, got:\n$explain")
  }

  test("s4 kNN graph: embeddings shuffle only on the two attach-join sides") {
    // the band self-join — the quadratic-risk stage — exchanges only
    // (vec_id, band) keys; vectors move solely to attach onto the (small)
    // candidate pair set, at most once per side
    val inputs = exchangeInputs(finalExplain(Similarity.knnGraph(t)))
    val carrying = inputs.filter(_.contains("emb"))
    assert(carrying.length <= 2,
      s"only the two attach-join exchanges may carry embeddings:\n${carrying.mkString("\n")}")
  }

  test("s5 PQ: raw embeddings move only in the rerank attach and the query broadcast") {
    // the ADC scoring chain runs on codes + the broadcast LUT; raw
    // vectors may appear in at most the candidate-attach exchange and the
    // (tiny) query-embedding broadcast — at 100 TB everything else
    // touches the ~1/32-sized code table
    val inputs = exchangeInputs(finalExplain(graft.operators.ProductQuant.pqTopK(t)))
    val carrying = inputs.filter(_.contains("emb"))
    assert(carrying.length <= 2,
      s"only the rerank attach + query broadcast may carry embeddings:\n${carrying.mkString("\n")}")
  }

  test("dc9 full curation: no keyed exchange in ANY stage job carries text or token arrays") {
    assertNoTextCarryingExchange(Curation.fullCuration(t).collect())
  }

  test("dc10 attrition audit inherits dc9's shape: stage counts never shuffle text") {
    // the audit shares curationStages with the run it audits, so the
    // same invariant must hold across its jobs — six single-row count
    // aggregates shuffle nothing wider than the compact base
    assertNoTextCarryingExchange(Curation.fullCurationAudit(t).collect())
  }

  /** Runs `job` and asserts no keyed exchange in ANY of its stage jobs
    * carries text or token arrays. The fused curation pipelines run as
    * several jobs (checkpoint materializations + the propagation loop +
    * the final query), so the invariant is checked across EVERY executed
    * plan, not just the returned frame's: text and token arrays die
    * map-side in the one heavy scan; all later stages shuffle
    * ids/hashes/signatures/counts only. The only tolerated text-carrying
    * exchange is spreadIfNarrow's round-robin spread of a degenerate
    * few-split LOCAL scan (absent at scale).
    */
  private def assertNoTextCarryingExchange(job: => Unit): Unit = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      job
      // listener callbacks are async — flush the shared listener bus
      // deterministically (via the compile-checked GraftSparkInterop
      // bridge; the old reflective lookup skipped the drain silently on
      // a method-name miss), then confirm the count is quiescent so a
      // late-reported stage job can't slip past the assertion
      org.apache.spark.sql.GraftSparkInterop.drainListenerBus(spark.sparkContext)
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      val offending = plans.asScala.toSeq.flatMap { ex =>
        ex.split("\n\n").toSeq
          .filter(b => b.linesIterator.hasNext &&
            b.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
          .filter(b => b.linesIterator.exists(l =>
            l.startsWith("Input ") && "(?<![\\w])(text|toks|tokens)#\\d".r.findFirstIn(l).isDefined))
          .filterNot(_.toLowerCase.contains("roundrobinpartitioning"))
      }
      assert(plans.size() > 1, "expected multiple stage jobs (checkpoints + final query)")
      assert(offending.isEmpty,
        s"a keyed exchange in a stage job carries text/tokens:\n${offending.mkString("\n\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q28 bloom join: the prefilter sits on the scan side of the fact's first exchange") {
    // the operator's whole point: bloom_hits runs MAP-SIDE, so only
    // (possibly-)matching lineitem rows enter any exchange. Locate every
    // Exchange whose subtree scans lineitem and assert the bloom filter
    // is INSIDE that subtree (scan side), not above it.
    val plan = phys(Relational.q28BloomJoin(t))
    val exchangesOverLineitem = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange
        if scansOf(e, "lineitem").nonEmpty => e
    }
    val filterBelow = exchangesOverLineitem.forall(e =>
      e.exists { case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("bloom_hits")
      case _ => false })
    assert(filterBelow,
      s"bloom_hits must prefilter BELOW every lineitem exchange:\n$plan")
    // and the scan is pruned to the three columns the query needs
    val scan = scansOf(plan, "lineitem").head
    assert(scan.schema.fieldNames.toSet
      == Set("l_orderkey", "l_extendedprice", "l_discount"),
      s"lineitem scan must read exactly the projected columns, got ${scan.schema.fieldNames.toSeq}")
  }

  test("g1 pagerank round: edges never enter an exchange — only (dst, contrib) longs do") {
    import spark.implicits._
    // edge-sized side large enough that a shuffle join would be visible;
    // ranks node-sized (broadcasts). The round's ONLY exchange must be
    // the (dst)-keyed partial-sum aggregation.
    val und = (0L until 2000L).map(i => (i % 50, (i % 49) + 50)).toDF("src", "dst")
    val edges = und.union(und.select($"dst".as("src"), $"src".as("dst")))
    val deg = edges.groupBy("src").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src").localCheckpoint(true)
    val ranks = deg.select($"src".as("node"),
      org.apache.spark.sql.functions.lit(1000000L).as("rank")).localCheckpoint(true)
    val explain = finalExplain(graft.operators.Graph.pagerankRound(ranks, edgesDeg))
    val inputs = exchangeInputs(explain)
    assert(inputs.nonEmpty, s"expected the (dst) aggregation exchange:\n$explain")
    assert(inputs.forall(i => !i.contains("src")),
      s"an exchange carries edge rows (src column) — edges must never shuffle in a round:\n$explain")
  }

  /** The physical plans of the SQL executions `body` starts under a
    * phase path ending in `phase`, read off the context's listener bus:
    * a SparkContext listener sees the queries of every session, a child
    * session's included, where a session's QueryExecutionListener would
    * miss them.
    */
  private def startedPlans(phase: String)(body: => Unit): Seq[SparkPlanInfo] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlanInfo)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.description -> s.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try graft.Phase("plan_lock")(body)
    finally {
      org.apache.spark.sql.GraftSparkInterop.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.asScala.toSeq.collect { case (d, p) if d.endsWith(phase) => p }
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** A 99-hop path pair graph whose ESTIMATED size is far past the
    * broadcast threshold, as candidate pairs out of LSH joins are at
    * bench scale: the 1:1 self-joins keep the rows and multiply the
    * estimate, so the neighbor join sort-merges instead of broadcasting
    * the tiny edge list.
    */
  private def inflatedPath99: DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    (1 to 4).foldLeft(path) { (df, i) =>
      df.join(path.select(col("doc_a"), col("doc_b").as(s"b$i")), "doc_a")
        .select(col("doc_a"), col("doc_b"))
    }
  }

  test("propagation round, latency-bound: the checkpointed edge scan feeds its join with no exchange and no sort") {
    val pairs = inflatedPath99
    val rounds = startedPlans("propagation.round")(Dedup.clustersOfPairsCounted(pairs): Unit)
      .filter(nodes(_).exists(_.nodeName.endsWith("Join")))
    assert(rounds.nonEmpty, "every round plans its joins under propagation.round")
    def isEdgeScan(n: SparkPlanInfo): Boolean =
      n.simpleString.replaceAll("#\\d+L?", "") == "Scan ExistingRDD[doc_a,doc_b]"
    // the nodes from `n` down to the edge scan, when n's subtree holds it
    def pathToEdges(n: SparkPlanInfo): Option[Seq[SparkPlanInfo]] =
      if (isEdgeScan(n)) Some(Seq(n))
      else n.children.iterator.flatMap(pathToEdges).nextOption().map(n +: _)
    for (round <- rounds) {
      assert(!nodes(round).exists(_.nodeName == "AdaptiveSparkPlan"),
        "latency-bound rounds plan statically while the caller's session keeps AQE on")
      val feeds = for {
        join <- nodes(round) if join.nodeName.endsWith("Join")
        child <- join.children
        path <- pathToEdges(child)
      } yield join.nodeName -> path
      assert(feeds.nonEmpty && feeds.forall(_._1 == "SortMergeJoin"),
        s"the edge scan feeds a sort-merge join: ${feeds.map(_._1)}")
      for ((_, path) <- feeds) assert(
        !path.exists(n => n.nodeName.contains("Exchange") || n.nodeName == "Sort"),
        s"the edge side re-exchanged or re-sorted: ${path.map(_.simpleString).mkString(" <- ")}")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("q36 cube: the 4-way Expand runs over finest-grain partials, never raw lineitem") {
    val plan = phys(Relational.q36GroupingSets(t)).toString
    val expandIdx = plan.indexOf("Expand")
    assert(expandIdx >= 0, s"cube must plan an Expand:\n$plan")
    // an aggregate must sit BETWEEN the Expand and the parquet scan
    // (plan strings print root-first): Expand over raw rows would push
    // 4x the fact through the aggregation at 100 TB
    val below = plan.substring(expandIdx)
    val aggBelow = below.indexOf("HashAggregate")
    val scanBelow = below.indexOf("Scan parquet")
    assert(aggBelow >= 0 && scanBelow >= 0 && aggBelow < scanBelow,
      s"Expand must consume the finest-grain pre-aggregation, not the raw scan:\n$plan")
  }

  test("q37 outliers: the fence table broadcasts — pass 2 never sort-merges the fact") {
    // pass 1's exact-percentile partial buffers legitimately carry the
    // grouped values (inherent to exact quantiles, q16's shape); the
    // lock is on pass 2: fences must come back as a BROADCAST, so the
    // counting re-scan joins map-side instead of shuffling events
    val explain = finalExplain(Relational.q37Outliers(t))
    assert(explain.contains("BroadcastExchange"),
      s"the per-type fence table must broadcast back:\n$explain")
    assert(!explain.contains("SortMergeJoin"),
      s"the fence join must never sort-merge (that shuffles the fact):\n$explain")
  }

  test("dc15: the partition-local prune window executes before the per-stratum window") {
    val plan = phys(Curation.stratifiedSample(t)).toString
    // root-first print order: the (lang)-only selection window prints
    // FIRST, the (lang, pid) prune window prints below it — a dominant
    // stratum reaches one task only after every task was bounded at k.
    val firstWin = plan.indexOf("Window")
    val lastWin = plan.lastIndexOf("Window")
    assert(firstWin >= 0 && lastWin > firstWin, s"two window stages must survive planning:\n$plan")
    val selectionWin = plan.substring(firstWin, lastWin)
    val pruneWin = plan.substring(lastWin)
    assert(!selectionWin.split("\n").head.contains("pid"),
      s"the top (selection) window must partition by the stratum alone:\n$plan")
    assert(pruneWin.split("\n").head.contains("pid"),
      s"the bottom (prune) window must partition by (stratum, pid):\n$plan")
  }

  test("q39: the MoM window consumes the monthly aggregate, never raw orders") {
    val plan = phys(Relational.momRevenue(t)).toString
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, s"q39 must plan a lag window:\n$plan")
    // an aggregate must sit BETWEEN the window and the parquet scan
    // (root-first print): a window over raw orders would single-task
    // the fact at 100 TB; over the ~84-row calendar grain it is free
    val below = plan.substring(winIdx)
    val aggBelow = below.indexOf("HashAggregate")
    val scanBelow = below.indexOf("Scan parquet")
    assert(aggBelow >= 0 && scanBelow >= 0 && aggBelow < scanBelow,
      s"the lag window must run over the monthly pre-aggregation:\n$plan")
  }

  test("every unpartitioned window is limit- or grain-bounded on its own input chain") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Month, Year}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LeafNode, LogicalPlan, UnaryNode, Window => LWindow}

    // Window.orderBy with no partitionBy single-tasks its input — safe
    // ONLY when something upstream caps the row count. Each declared
    // site relies on one of three bounds; this spec asserts the bound is
    // STRUCTURAL (on the window's own input chain), so a future edit
    // that reorders a limit after its window, or swaps a calendar grain
    // for a data-sized key, fails here instead of silently single-
    // tasking the corpus at scale.
    //
    // the walk passes through row-preserving/reducing unary nodes only —
    // a limit below a join or union does not cap the window's input
    @annotation.tailrec
    def boundOf(p: LogicalPlan): Option[Either[Long, Aggregate]] = p match {
      case g: GlobalLimit => Some(Left(g.maxRows.getOrElse(Long.MaxValue)))
      case a: Aggregate => Some(Right(a))
      case u: UnaryNode => boundOf(u.child)
      case _ => None
    }
    def assertBounded(df: DataFrame, name: String, cap: Long): Unit = {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(wins.nonEmpty, s"$name: the declared unpartitioned window vanished — update this spec")
      wins.foreach { w =>
        boundOf(w.child) match {
          case Some(Left(n)) =>
            assert(n <= cap, s"$name: unpartitioned window's limit-bound $n exceeds $cap")
          case Some(Right(agg)) =>
            // alias definitions below the aggregate, so a grain computed
            // in a pre-projection (year(d) AS yr) still resolves
            val defs = agg.child.collect { case n => n.expressions }.flatten
              .flatMap(_.collect { case al: Alias => al.exprId -> al.child }).toMap
            def isBoundedGrain(e: Expression): Boolean = e match {
              case a: AttributeReference =>
                // the distributed-ranking partition grain (≤ shuffle
                // partitions rows) — defined behind a checkpoint, so it
                // resolves by its reserved name
                a.name == "__pid" || defs.get(a.exprId).exists(isBoundedGrain)
              case _ =>
                e.collectFirst { case _: Year => (); case _: Month => () }.isDefined
            }
            assert(agg.groupingExpressions.nonEmpty &&
              agg.groupingExpressions.forall(isBoundedGrain),
              s"$name: unpartitioned window runs over a DATA-SIZED aggregate grain " +
                s"(${agg.groupingExpressions.mkString(", ")}) — calendar/partition grains only")
          case None =>
            fail(s"$name: unpartitioned window has NO row-count bound on its input chain")
        }
      }
    }

    assertBounded(TextAnalysis.zipfFit(t), "t18 zipf head rank", 1000L)
    assertBounded(TextAnalysis.bm25(t), "t17 bm25 top-k rank", 20L)
    assertBounded(Similarity.hybridRrf(t), "s7 rrf top-k rank", 10L)
    assertBounded(Relational.momRevenue(t), "q39 month-grain lag", Long.MaxValue)
    graft.sources.Warehouse.dropStore(spark, "planshape_bm25", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents, "planshape_bm25", buckets = 8)
    assertBounded(TextAnalysis.bm25AgainstStore(spark, "planshape_bm25"),
      "t17 store-probe top-k rank", 20L)

    // negative controls — the checker must actually reject (a) a window
    // with no bound at all and (b) a data-sized aggregate grain
    import org.apache.spark.sql.expressions.{Window => EWindow}
    import org.apache.spark.sql.functions.{col, count, lit, row_number}
    val noBound = t.documents.withColumn("r",
      row_number().over(EWindow.orderBy(col("doc_id"))))
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertBounded(noBound, "negative control (unbounded)", Long.MaxValue)
    }
    val dataGrain = t.documents.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(EWindow.orderBy(col("n").desc)))
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertBounded(dataGrain, "negative control (data-sized grain)", Long.MaxValue)
    }
  }

  test("spreadIfNarrow: narrow scans spread to full parallelism, well-split scans pass through") {
    val cores = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert(operators.spreadIfNarrow(narrow).rdd.getNumPartitions == cores,
      "a single-split input must spread over all cores")

    val wide = spark.range(0, 100, 1, cores * 2).toDF("id")
    val out = operators.spreadIfNarrow(wide)
    val exchanges = out.queryExecution.optimizedPlan.collect {
      case r: Repartition => r
      case r: RepartitionByExpression => r
    }
    assert(exchanges.isEmpty,
      "an input already split past cluster parallelism must not grow a full-corpus exchange")
    assert(out.rdd.getNumPartitions == cores * 2, "pass-through keeps the scan's own splits")
  }
}
