package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Graph

/** Crafted-graph checks for the §2.9 graph analytics (g1/g2); the
  * co-purchase-graph forms are oracle-verified through the gate.
  */
class GraphSpec extends SparkSpecBase {

  private def edges(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toSeq.toDF("src", "dst")
  }

  test("g1: one integer PageRank round on the 3-node path, hand-computed") {
    // a–b–c: deg a=1 b=2 c=1. r0 = 1_000_000 each.
    // r1(a) = r1(c) = 150_000 + (85·(1_000_000 div 2)) div 100 = 575_000
    // r1(b) = 150_000 + 2·((85·1_000_000) div 100)          = 1_850_000
    val out = Graph.pagerankFromEdges(edges((1L, 2L), (2L, 3L)), iters = 1, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((2L, 2L, 1850000L), (1L, 1L, 575000L), (3L, 1L, 575000L)))
  }

  test("g1: rank mass is conserved up to floor loss, ordering is hub-first") {
    // star: center 1 with leaves 2..6 plus a 2-path 6–7. 5 iterations.
    val g = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (6L, 7L))
    val rows = Graph.pagerankFromEdges(g, iters = 5, topK = 10).collect()
    assert(rows.head.getLong(0) == 1L, "the star center must rank first")
    // un-normalized PageRank with teleport 0.15·1e6 per node: total mass
    // stays within N·1e6 and above the pure-teleport floor
    val total = rows.map(_.getLong(2)).sum
    assert(total > 7L * 150000L && total <= 7L * 1000000L)
  }

  test("g1: result is invariant to input partitioning") {
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = Graph.pagerankFromEdges(g, iters = 3, topK = 10).collect().toSeq
    val b = Graph.pagerankFromEdges(g.repartition(7), iters = 3, topK = 10).collect().toSeq
    assert(a == b)
  }

  test("g2: K4 has four triangles, every node in three") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.triangleCountsFromEdges(k4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("g2: a triangle-free path yields no rows; a chorded cycle counts exactly") {
    assert(Graph.triangleCountsFromEdges(edges((1L, 2L), (2L, 3L), (3L, 4L))).count() == 0L)
    // 5-cycle 1..5 plus chord 1–3: exactly one triangle {1,2,3}
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (1L, 3L))
    val out = Graph.triangleCountsFromEdges(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("g2/g3/g8: the shuffle-hash closing probe (broadcastClosing=false) is result-identical") {
    // the at-scale escape hatch must be a pure plan-shape change: same
    // triangles, same counts, on a graph with hubs, chords and bridges
    val g = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (4L, 5L), (5L, 6L), (6L, 7L), (5L, 7L), // tail with one triangle
      (8L, 9L)) // disconnected bridge, closes nothing
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(Graph.triangleCountsFromEdges(g, broadcastClosing = false)) ==
      rows(Graph.triangleCountsFromEdges(g)))
    assert(rows(Graph.edgeEmbeddednessFromEdges(g, broadcastClosing = false)) ==
      rows(Graph.edgeEmbeddednessFromEdges(g)))
    assert(rows(Graph.clusteringCoeffFromEdges(g, broadcastClosing = false)) ==
      rows(Graph.clusteringCoeffFromEdges(g)))
  }

  test("g3: edge embeddedness — K4 edges close two triangles each, a bridge closes none") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.edgeEmbeddednessFromEdges(k4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // every K4 edge lies in exactly 2 of the 4 triangles; ties order by (src, dst)
    assert(out == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (3L, 4L, 2L), (2L, 4L, 2L)).sortBy(p => (-p._3, p._1, p._2)))
    // two triangles joined by a bridge: the bridge edge has no common
    // neighbor, so it never appears; within-triangle edges score 1
    val g = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val emb = Graph.edgeEmbeddednessFromEdges(g)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(!emb.contains((3L, 4L)), "the bridge closes no triangle")
    assert(emb == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L,
      (4L, 5L) -> 1L, (4L, 6L) -> 1L, (5L, 6L) -> 1L))
    // cross-check vs g2: per-node triangle counts are recoverable as
    // half the sum of embeddedness over incident edges
    val tri = Graph.triangleCountsFromEdges(k4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val byNode = out.flatMap(e => Seq(e._1 -> e._3, e._2 -> e._3))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / 2 }
    assert(byNode == tri)
  }

  test("g2: hub graph — degree ordering still counts each triangle once") {
    // wheel: hub 0 connected to cycle 1..6 (hub degree 6, rim degree 3)
    val rim = (1L to 6L).map(i => (i, if (i == 6L) 1L else i + 1L))
    val g = edges(((1L to 6L).map(i => (0L, i)) ++ rim): _*)
    val out = Graph.triangleCountsFromEdges(g).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 6 hub triangles; hub in all 6, each rim node in 2
    assert(out(0L) == 6L && (1L to 6L).forall(i => out(i) == 2L))
    assert(out.values.sum == 3L * 6L)
  }

  test("g5: personalized PageRank on a star, two rounds hand-computed, seeded at the hub") {
    // star: center 1, leaves 2..5 → hub seed = 1 (deg 4).
    // r1: leaves get (85·(1e6 div 4)) div 100 = 212_500; seed teleport 150_000.
    // r2: center gets 4·((85·212_500) div 100) + 150_000 = 872_500;
    //     leaves get (85·(150_000 div 4)) div 100 = 31_875.
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val out = Graph.personalizedFromEdges(star, iters = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.head == ((1L, 4L, 872500L)), "hub rank, hand-computed")
    assert(out.tail.toSet == (2L to 5L).map(i => (i, 1L, 31875L)).toSet)
  }

  test("g5: rank decays with distance from the seed (locality, unlike global g1)") {
    // path 1-2-3-4-5-6-7 with an extra edge at 1 to make it the hub
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (1L, 8L))
    val out = Graph.personalizedFromEdges(g, iters = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // seed = node 1 (deg 2, tie-broken lowest id among deg-2 nodes)
    assert(out.contains(1L))
    val near = out.getOrElse(2L, 0L)
    val far = out.getOrElse(5L, 0L)
    assert(near > far, s"rank at distance 1 ($near) must exceed distance 4 ($far)")
    assert(!out.contains(7L) || out(7L) < near, "frontier barely reaches distance 6")
  }

  test("g6: bounded BFS — exact layers on a path, the bound truncates, star is all-ones") {
    // path 1-2-3-4-5 seeded at hub 2 (deg 2, lowest id among deg-2)
    val path = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.hopDistanceFromEdges(path, maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L),
      "node 5 is 3 hops out and must be ABSENT at maxHops = 2")
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L))
    val s = Graph.hopDistanceFromEdges(star, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("g4: components — two paths and an isolated node label to their minima") {
    import spark.implicits._
    // path 1-2-3, pair 10-11; node 20 exists but has no edges
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("node")
    val out = Graph.componentsFromEdges(edges((2L, 3L), (1L, 2L), (10L, 11L)), nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L)))
  }

  test("g4: co-purchase components match a brute-force union-find on the collected edges") {
    val t = graft.sources.Tables(spark, sfDir)
    val es = Graph.copurchaseEdges(t).collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = Graph.connectedComponents(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty)
    out.foreach { case (n, cid) => assert(cid == find(n), s"node $n component") }
  }

  /** Driver-side replay of g7's exact vote rule: next label = most
    * frequent among neighbors, ties → smallest label, fixed rounds.
    */
  private def lpaSim(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var labels = nbrs.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      labels = nbrs.map { case (n, ns) =>
        val votes = ns.map(labels).groupBy(identity)
          .map { case (l, o) => (l, o.size) }
        n -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    labels
  }

  test("g7: two cliques over a bridge separate into two communities; sizes are right") {
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val out = Graph.labelCommunitiesFromEdges(g, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byNode = out.map { case (n, c, _) => n -> c }.toMap
    assert(byNode == lpaSim(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)), 4))
    assert(Set(byNode(1L), byNode(2L), byNode(3L)).size == 1, "left clique agrees")
    assert(Set(byNode(10L), byNode(11L), byNode(12L)).size == 1, "right clique agrees")
    assert(byNode(1L) != byNode(10L), "the bridge does not merge the cliques")
    assert(out.forall { case (_, c, s) => s == byNode.values.count(_ == c) },
      "community_size counts members")
  }

  test("g9: one weighted round hand-computed — heavier edges inherit more mass") {
    import spark.implicits._
    // a–b w=3, b–c w=1. wdeg a=3 b=4 c=1, r0=1e6. Contributions divide
    // by the SENDER's weighted out-degree:
    // r1(a) = 150k + (85·((1e6·3) div 4)) div 100 (from b)   =   787_500
    // r1(b) = 150k + 850_000 (from a, 3/3) + 850_000 (from c, 1/1) = 1_850_000
    // r1(c) = 150k + (85·((1e6·1) div 4)) div 100 (from b)   =   362_500
    val g = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val out = Graph.weightedPagerankFromEdges(g, iters = 1, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((2L, 4L, 1850000L), (1L, 3L, 787500L), (3L, 1L, 362500L)))
  }

  test("g9: mass stays within the teleport floor and total-input ceiling; heavier edge wins") {
    import spark.implicits._
    // star with one heavy spoke: center 1, leaves 2..5, extra weight to 2
    val g = Seq((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 5L, 1L)).toDF("src", "dst", "w")
    val rows = Graph.weightedPagerankFromEdges(g, iters = 3, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val byNode = rows.toMap
    assert(byNode(2L) > byNode(3L), "the heavy spoke outranks the light ones")
    assert(byNode(3L) == byNode(4L) && byNode(4L) == byNode(5L), "symmetric spokes tie")
    val total = rows.map(_._2).sum
    assert(total > 5L * 150000L && total <= 5L * 1000000L,
      s"mass $total must sit between the teleport floor and the conserved input")
  }

  test("g9 with unit weights equals unweighted g1 exactly") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 5L))
    val unw = Graph.pagerankFromEdges(pairs.toDF("src", "dst"), iters = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val w1 = Graph.weightedPagerankFromEdges(
        pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"), iters = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(w1 == unw, "w=1 must degenerate to g1's exact ranks")
  }

  test("g8: K4 coefficients are 1, a path center is 0, leaves are excluded") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.clusteringCoeffFromEdges(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 3L, 3L, 1.0), (2L, 3L, 3L, 1.0),
      (3L, 3L, 3L, 1.0), (4L, 3L, 3L, 1.0)))
    val path = edges((1L, 2L), (2L, 3L))
    val p = Graph.clusteringCoeffFromEdges(path).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(p.toSeq == Seq((2L, 0.0)), "only the degree-2 center qualifies, and it closes nothing")
  }

  test("g8: co-purchase coefficients reconcile with g2 triangles and degrees") {
    val t = graft.sources.Tables(spark, sfDir)
    val tri = Graph.triangleCounts(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val out = Graph.clusteringCoeff(t).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, deg, nt, c) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nt == tri.getOrElse(n, 0L), s"node $n triangle count")
      val exp = BigDecimal(2.0 * nt / (deg * (deg - 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == exp, s"node $n coefficient")
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("g7: co-purchase communities match the driver-side vote replay") {
    val t = graft.sources.Tables(spark, sfDir)
    val es = Graph.copurchaseEdges(t).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = lpaSim(es, 4)
    val got = Graph.labelCommunities(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("g10: p=1 sampling IS the exact count; the estimator is an integer-exact ×den³ scale") {
    import spark.implicits._
    // K5: C(5,3) = 10 triangles; p = 1 keeps every edge, so the
    // 'estimate' must equal the exact count with no variance term
    val k5 = (for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)).toDF("src", "dst")
    val full = Graph.triangleSampleFromEdges(k5, keepNum = 1, keepDen = 1).head()
    assert((full.getLong(0), full.getLong(1), full.getLong(2), full.getLong(3)) ==
      ((10L, 10L, 10L, 10L)), s"p=1 on K5 must report exactly 10 triangles: $full")

    // p = 1/4 on K5 is a deterministic md5 coin: whatever survives, the
    // estimate is exactly 64 × the sampled count, and the sampled edge
    // set is a pure function of the edge list (re-run = same row)
    val s1 = Graph.triangleSampleFromEdges(k5).head()
    assert(s1.getLong(3) == 64L * s1.getLong(2), "est = 64 × sampled count, integer-exact")
    assert(Graph.triangleSampleFromEdges(k5).head() == s1, "the md5 coin is deterministic")
  }

  test("g10: co-purchase estimate brackets g2's exact total (DOULION at the default p=1/4)") {
    val t = graft.sources.Tables(spark, sfDir)
    // exact total: each triangle credits its three nodes once in g2
    val exact = Graph.triangleCounts(t).collect().map(_.getLong(1)).sum / 3
    val row = Graph.triangleSample(t).head()
    val (nEdges, nSampled, nTri, est) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(exact > 100, s"precondition: the sf0.001 graph is triangle-rich (got $exact)")
    // the md5 coin is uniform: the kept-edge fraction concentrates near
    // 1/4 (band checked loosely — it is deterministic, not flaky)
    assert(nSampled > nEdges / 8 && nSampled < nEdges * 3 / 8,
      s"sampled $nSampled of $nEdges edges — the coin must be ~1/4")
    assert(est == nTri * 64, "integer-exact scale")
    // DOULION's concentration at p=1/4 on a triangle-rich graph: the
    // deterministic estimate sits well within a factor-2 band of exact
    assert(est > exact / 2 && est < exact * 2,
      s"estimate $est vs exact $exact — outside the factor-2 band")
  }

  test("g2: hub-plus-chords graph — degree-ordered total equals the naive symmetric wedge count") {
    import org.apache.spark.sql.functions._
    // hub 0 adjacent to every rim node, a rim ring, seeded chords; one
    // row per unordered pair, src < dst
    val nRim = 300L
    val hub = spark.range(1, nRim + 1).select(lit(0L).as("src"), col("id").as("dst"))
    val ring = spark.range(1, nRim).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val chords = spark.range(0, 2000).select(
        (pmod(xxhash64(col("id")), lit(nRim - 1)) + 1).as("a"),
        (pmod(xxhash64(col("id") + 2000), lit(nRim - 1)) + 1).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
    val und = hub.unionAll(ring).unionAll(chords).distinct().localCheckpoint(true)
    // naive: wedges at every center of the symmetric adjacency, closed by
    // the canonical edge; each triangle closes at all 3 centers
    val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val naive = sym.select(col("src").as("u"), col("dst").as("v"))
      .join(sym.select(col("src").as("u"), col("dst").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .join(und.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .count() / 3
    val ordered = Graph.triangleCountsFromEdges(und).agg(sum(col("n_tri")))
      .collect()(0).getLong(0) / 3
    assert(naive > nRim, s"the chords close triangles beyond the hub's: $naive")
    assert(ordered == naive, s"triangle totals must agree: naive=$naive ordered=$ordered")
  }
}
