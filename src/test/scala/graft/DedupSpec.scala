package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis, Multimodal}
import graft.sources.{Tables, Warehouse}

class DedupSpec extends SparkSpecBase {
  private lazy val t = Tables(spark, sfDir)

  test("d1 exact dedup covers every document exactly once") {
    val rows = Dedup.exact(t).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == t.documents.count())
  }

  test("d2 minhash-LSH finds the planted near-duplicates and estimates track exact jaccard") {
    val pairs = Dedup.minhashLsh(t).collect()
    assert(pairs.nonEmpty, "testdata plants near-dup pairs; LSH must surface them")
    val exact = Dedup.ngramJaccard(t, minJaccard = 0.0).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard"))).toMap
    pairs.foreach { p =>
      val key = (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))
      exact.get(key).foreach { j =>
        assert(math.abs(p.getAs[Double]("est_jaccard") - j) < 0.25,
          s"minhash estimate too far from exact for $key")
      }
    }
  }

  test("d3 simhash pairs have verified-low hamming distance") {
    val rows = Dedup.simhash(t).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("hamming") <= 6))
  }

  test("d4 jaccard verification only keeps pairs above threshold") {
    val rows = Dedup.ngramJaccard(t).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.3))
  }

  test("d12 containment matches brute-force directed shingle-set containment") {
    val rows = Dedup.containment(t).collect()
      .map(r => (r.getAs[Long]("doc_inner"), r.getAs[Long]("doc_outer"),
        r.getAs[Double]("containment"))).sorted
    assert(rows.nonEmpty, "the corpus plants exact/near duplicates — containment-1.0 pairs exist")
    // brute force over collected text: distinct word-2-gram sets
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq)
      .filter(_._2.length > 1)
      .map { case (id, toks) => id -> toks.sliding(2).map(_.mkString(" ")).toSet }
    val expected = (for {
      (ia, sa) <- docs; (ib, sb) <- docs if ia != ib
      shared = (sa intersect sb).size
      c = shared.toDouble / sa.size if c >= 0.8
      // Spark's round() is HALF_UP, not rint's HALF_EVEN
      rounded = BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    } yield (ia, ib, rounded)).sorted
    assert(rows.toSeq == expected.toSeq,
      "directed containment must agree pair for pair with the brute-force sets")
    // an exact duplicate pair appears in BOTH directions at 1.0
    val ones = rows.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
    assert(ones.exists { case (i, o) => ones.contains((o, i)) },
      "exact copies are mutually contained")
  }

  test("d13 boilerplate coverage matches brute-force hot-shingle interval union") {
    val k = 3; val minDf = 5
    val rows = Dedup.boilerplate(t).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("n_tokens"), r.getAs[Long]("bp_tokens"), r.getAs[Double]("bp_frac"))))
      .toMap
    assert(rows.nonEmpty && rows.values.exists(_._3 > 0), "planted duplicates make hot shingles")
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq)
    val shingles = docs.map { case (id, toks) =>
      id -> (if (toks.length < k) Seq.empty
             else toks.sliding(k).map(_.mkString(" ")).toSeq)
    }
    val hot = shingles.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.length >= minDf).keySet
    docs.foreach { case (id, toks) =>
      val positions = shingles.toMap.apply(id).zipWithIndex
        .collect { case (s, i) if hot(s) => i + 1 }
      // union of [p, p+k-1] windows
      val covered = positions.foldLeft(Seq.empty[(Int, Int)]) { case (acc, p) =>
        acc match {
          case init :+ ((a, b)) if p <= b + 1 => init :+ (a, math.max(b, p + k - 1))
          case _ => acc :+ (p, p + k - 1)
        }
      }.map { case (a, b) => b - a + 1 }.sum
      val (n, bp, frac) = rows(id)
      assert(n == toks.length, s"doc $id token count")
      assert(bp == covered.toLong, s"doc $id covered tokens: got $bp, expected $covered")
      val expFrac = if (n == 0) 0.0
        else BigDecimal(covered.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(frac == expFrac, s"doc $id fraction")
    }
  }

  test("d5 embedding near-dup returns ranked bucket-collision pairs") {
    val rows = Dedup.embeddingNearDup(t).collect()
    assert(rows.nonEmpty)
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs.forall(_ >= 0.15))
    assert(cs.sameElements(cs.sortBy(-(_: Double))))
  }

  test("d8 semdedup drop list equals brute-force within-cluster cosine domination") {
    val vecs = t.embeddings.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    // dominated by ANY lower-id cluster-mate (ids decide, not survivorship)
    val expected = (for {
      byCluster <- vecs.groupBy(_._2).values.toSeq
      sorted = byCluster.sortBy(_._1)
      (jId, _, jEmb) <- sorted
      doms = sorted.takeWhile(_._1 < jId).map { case (i, _, e) => (i, cos(e, jEmb)) }
        .filter(_._2 >= 0.3)
      if doms.nonEmpty
    } yield {
      val (keptBy, c) = doms.minBy(_._1)
      // HALF_UP, not math.rint (half-even): Spark's round() and DuckDB's
      // ROUND are half-away-from-zero, so a cosine landing exactly on a
      // .00005 boundary must round the same way here
      jId -> (keptBy,
        BigDecimal(c).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toMap
    assert(expected.nonEmpty, "the corpus has within-cluster semantic dups at tau=0.3")

    val out = Dedup.semDedup(t).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("kept_by"), r.getAs[Double]("cos_to_keeper"))).toMap
    assert(out == expected, s"drop list must equal pairwise ground truth (${out.size} vs ${expected.size})")
    // a dropped doc may itself dominate: the rule is order-free by design
    val droppedIds = expected.keySet
    assert(expected.values.exists { case (k, _) => droppedIds.contains(k) } ||
      expected.values.forall { case (k, _) => !droppedIds.contains(k) })
  }

  test("d8 maxClusterSize guard raises on a degenerate giant cluster, naming it") {
    // a buggy upstream assigning every vector one label turns the
    // within-cluster join quadratic; the guard must fail loudly first
    val degenerate = t.embeddings.withColumn("label", lit(7))
    val e = intercept[Exception] {
      Dedup.semDedupOf(degenerate, maxClusterSize = Some(50)).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxClusterSize=50") && msg.contains("cluster 7"),
      s"error must name the bound and the violating cluster, got: $msg")
  }

  test("d8 maxClusterSize guard is transparent when no cluster violates it") {
    val unguarded = Dedup.semDedup(t, maxClusterSize = None).collect().toSeq
    val guarded = Dedup.semDedup(t, maxClusterSize = Some(1000000L)).collect().toSeq
    assert(guarded == unguarded, "a satisfied guard must not change the output")
  }

  test("d8 guard defaults ON: a degenerate giant cluster fails loudly with NO explicit bound") {
    // no maxClusterSize argument — the default must catch a cluster
    // larger than QuadraticGuardDefault before the quadratic join forms
    val big = spark.range(0, operators.QuadraticGuardDefault + 1007)
      .select(col("id").as("vec_id"), lit(0).as("label"),
        array(lit(1.0f)).as("embedding"))
    val e = intercept[IllegalStateException] { Dedup.semDedupOf(big) }
    assert(e.getMessage.contains("maxClusterSize") && e.getMessage.contains("cluster 0"),
      s"default guard must fire and name the cluster: ${e.getMessage}")
  }

  test("substring store build refuses to publish a corpus-hot shingle index (default maxDf)") {
    Warehouse.dropStore(spark, "guard_sub", Seq("shingles"))
    // one doc of >2^20 identical tokens: every k-shingle hashes alike,
    // so that hash's df exceeds the default guard — the build must fail
    // loudly and publish NO generation
    val docs = spark.range(0, 1).select(col("id").as("doc_id"),
      rtrim(repeat(lit("a "), (operators.QuadraticGuardDefault + 1007).toInt)).as("text"))
    val e = intercept[IllegalStateException] { Dedup.buildSubstringStore(docs, "guard_sub") }
    assert(e.getMessage.contains("maxDf") && e.getMessage.contains("not published"),
      s"default guard must fire: ${e.getMessage}")
    assert(Warehouse.currentGeneration(spark, "guard_sub").isEmpty,
      "a tripped guard must not publish a generation")
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("guard_sub", 1, "shingles")),
      "a tripped guard must drop the poisoned generation's table")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "_generations", "guard_sub", "claim-1")),
      "a tripped guard must burn its own claim marker")
  }

  test("signature store build guard names a corpus-hot band bucket and refuses to publish") {
    Warehouse.dropStore(spark, "guard_sig", Seq("bands", "sigs"))
    // 500 identical docs collapse every band into one bucket; the
    // explicit bound exercises the same code path the default runs at
    // QuadraticGuardDefault (same shared constant)
    val docs = spark.range(0, 500).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta").as("text"))
    val e = intercept[IllegalStateException] {
      Dedup.buildSignatureStore(docs, "guard_sig", maxBandBucket = Some(100L))
    }
    assert(e.getMessage.contains("maxBandBucket=100") && e.getMessage.contains("500"),
      s"guard must name the bound and the bucket size: ${e.getMessage}")
    assert(Warehouse.currentGeneration(spark, "guard_sig").isEmpty,
      "a tripped guard must not publish a generation")
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("guard_sig", 1, "bands")) &&
      !spark.catalog.tableExists(Warehouse.storeTableName("guard_sig", 1, "sigs")),
      "a tripped guard must drop both of the generation's tables")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "_generations", "guard_sig", "claim-1")),
      "a tripped guard must burn its own claim marker")
  }

  test("d9 substring spans equal brute-force maximal common token runs") {
    val k = 8
    val minSpan = 16
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.toLowerCase.split("\\s+"))
      .sortBy(_._1)
    // brute force: walk every alignment diagonal of every doc pair and
    // keep maximal equal-token runs ≥ minSpan (1-based starts)
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Long)]
    for (i <- docs.indices; j <- i + 1 until docs.length) {
      val (ida, a) = docs(i)
      val (idb, b) = docs(j)
      if (a.length >= k && b.length >= k) {
        for (d <- -(b.length - 1) to (a.length - 1)) {
          var pa = math.max(0, d)
          var run = 0
          var startA = 0
          while (pa <= a.length) {
            val pb = pa - d
            val ok = pa < a.length && pb >= 0 && pb < b.length && a(pa) == b(pb)
            if (ok) { if (run == 0) startA = pa; run += 1 }
            else {
              if (run >= minSpan) expected += ((ida, idb, startA + 1, startA - d + 1, run.toLong))
              run = 0
            }
            pa += 1
          }
        }
      }
    }
    val got = Dedup.substringSpans(t, k, minSpan).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
    assert(got.nonEmpty, "the corpus plants shared-boilerplate spans")
    assert(got.toVector.sorted == expected.toVector.sorted,
      s"spans must equal token-level ground truth (${got.length} vs ${expected.length})")
  }

  test("d9 maxDf cap: transparent above the max df; capped spans stay inside true spans") {
    val loose = Dedup.substringSpans(t, maxDf = Some(1000000L)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
    val uncapped = Dedup.substringSpans(t).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
    assert(loose.toVector.sorted == uncapped.toVector.sorted,
      "a cap above the hottest shingle's df must not change the output")

    // a tight cap may split/shrink spans (declared recall trade) but
    // every emitted span must remain a sub-span of a genuine duplicated
    // run on the same alignment diagonal — precision is never traded
    val capped = Dedup.substringSpans(t, maxDf = Some(3L)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
    capped.foreach { case (a, b, sa, sb, n) =>
      val contained = uncapped.exists { case (ua, ub, usa, usb, un) =>
        ua == a && ub == b && (sa - sb) == (usa - usb) &&
          sa >= usa && sa + n <= usa + un
      }
      assert(contained, s"capped span ($a,$b,$sa,$sb,$n) not inside any true span")
    }
  }

  test("d10 incremental substring spans equal the full d9 restricted to cross-split pairs") {
    val split = 250L
    // d9 orders pairs (doc_a < doc_b); cross-split pairs have doc_a on
    // the existing side and doc_b in the new batch — remap to the
    // incremental output's ingest roles
    val cross = Dedup.substringSpans(t).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
      .filter { case (a, b, _, _, _) => a < split && b >= split }
      .map { case (a, b, sa, sb, n) => (b, a, sb, sa, n) }
    val incr = Dedup.substringSpansIncremental(t, splitId = split).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Int]("start_new"), r.getAs[Int]("start_old"), r.getAs[Long]("span_tokens")))
    assert(incr.nonEmpty, "the corpus plants duplicated spans across the split")
    assert(incr.toVector.sorted == cross.toVector.sorted,
      "one-sided indexing finds exactly the full self-join's cross-split spans")
    assert(incr.forall { case (n, o, _, _, _) => n >= split && o < split })
  }

  test("d20 rewrite: the cut set is exactly the union of doc_b-side spans, untouched docs round-trip, and re-running d9 on the rewritten corpus finds nothing") {
    import org.apache.spark.sql.functions.col
    val k = 8
    val minSpan = 16
    // ground truth from d9's (independently brute-force-verified) spans:
    // every doc_b-side span interval is cut; the kept tokens splice back
    // in order with single spaces
    val spans = Dedup.substringSpans(t, k, minSpan).collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens")))
    val cutsByDoc = spans.groupBy(_._1).map { case (d, ss) =>
      d -> ss.flatMap { case (_, s, n) => s until (s + n.toInt) }.toSet
    }
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+"))
      .toMap
    val got = Dedup.substringRewrite(t, k, minSpan).collect()
    assert(got.length == docs.size, "every document appears in the rewritten corpus")
    var removedTotal = 0L
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = docs(id)
      val cut = cutsByDoc.getOrElse(id, Set.empty[Int])
      val keptExpected = toks.zipWithIndex
        .collect { case (tok, i) if !cut.contains(i + 1) => tok }
      assert(r.getAs[Int]("n_tokens") == toks.length, s"doc $id token count")
      assert(r.getAs[Int]("removed_tokens") == cut.size, s"doc $id removed count")
      assert(r.getAs[String]("text") == keptExpected.mkString(" "),
        s"doc $id spliced text diverges from the ground-truth cut")
      removedTotal += cut.size
    }
    assert(removedTotal > 0, "the corpus plants duplicated spans — the rewrite must cut")
    assert(cutsByDoc.keySet.exists(id => cutsByDoc(id).nonEmpty))

    // the FIXED POINT the operator exists for: the rewritten corpus has
    // no remaining cross-doc duplicated span at the same threshold
    val rewritten = Dedup.substringRewrite(t, k, minSpan)
      .select(col("doc_id"), col("text"))
    val again = Dedup.substringSpansOfDocs(rewritten, k, minSpan).collect()
    assert(again.isEmpty,
      s"rewritten corpus must contain zero >=$minSpan-token cross-doc spans, found ${again.length}")
  }

  test("d21 ingest rewrite against the persisted span store equals the in-job one-sided splice; re-probing the cleaned batch finds nothing") {
    import org.apache.spark.sql.functions.col
    val split = 250L
    graft.sources.Warehouse.dropStore(spark, "d21s_store", Seq("shingles"))
    Dedup.buildSubstringStore(t.documents.filter(col("doc_id") < split), "d21s_store")
    val got = Dedup.substringRewriteAgainstStore("d21s_store",
      t.documents.filter(col("doc_id") >= split)).collect()
    // ground truth: d10's (independently cross-split-verified) one-sided
    // spans, cut driver-side from the batch docs
    val spans = Dedup.substringSpansIncremental(t, split).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Int]("start_new"),
        r.getAs[Long]("span_tokens")))
    val cutsByDoc = spans.groupBy(_._1).map { case (d, ss) =>
      d -> ss.flatMap { case (_, s, n) => s until (s + n.toInt) }.toSet
    }
    val docs = t.documents.filter(col("doc_id") >= split)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+")).toMap
    assert(got.length == docs.size, "every batch doc appears, corpus docs never do")
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = docs(id)
      val cut = cutsByDoc.getOrElse(id, Set.empty[Int])
      val kept = toks.zipWithIndex.collect { case (tok, i) if !cut.contains(i + 1) => tok }
      assert(r.getAs[Int]("n_tokens") == toks.length, s"doc $id token count")
      assert(r.getAs[Int]("removed_tokens") == cut.size, s"doc $id removed count")
      assert(r.getAs[String]("text") == kept.mkString(" "), s"doc $id spliced text")
    }
    assert(cutsByDoc.values.map(_.size).sum > 0, "the corpus plants cross-split spans")

    // the fixed point at the ingest boundary: the cleaned batch shares
    // no remaining >=16-token span with the indexed corpus
    val again = Dedup.substringSpansAgainstStore("d21s_store",
      Dedup.substringRewriteAgainstStore("d21s_store",
        t.documents.filter(col("doc_id") >= split))
        .select(col("doc_id"), col("text"))).collect()
    assert(again.isEmpty,
      s"the cleaned batch must share nothing with the corpus, found ${again.length}")
    graft.sources.Warehouse.dropStore(spark, "d21s_store", Seq("shingles"))
  }

  test("propagation closes a 100-node path graph in O(log n) rounds, far from the maxIter backstop") {
    // adversarial shape for min-label propagation: a pure path
    // 0-1-2-...-99 (diameter 99). Plain propagation needs ~99 rounds;
    // pointer jumping must compress the chain exponentially — the
    // sequential-round count is the dominant cost of the loop at scale,
    // so this is a performance contract, not just a correctness one.
    val path = spark.range(0, 99)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (labels, rounds, converged) = Dedup.clustersOfPairsCounted(path)
    assert(converged, "the 99-hop path must converge, not hit maxIter")
    val rows = labels.collect()
    assert(rows.length == 100 && rows.forall(_.getAs[Long]("cluster_id") == 0L),
      "every path node must reach the component minimum label 0")
    // log2(99) ≈ 6.6; allow headroom for the label-vs-jump interleave,
    // but far below the linear 99 and the maxIter=100 backstop
    assert(rounds <= 16, s"pointer jumping took $rounds rounds on a 99-hop path — not logarithmic")
    assert(rounds < 100, "the maxIter backstop must never be the terminator")
  }

  test("d6 clusters equal union-find connected components of the pair graph") {
    val pairs = Dedup.minhashLsh(t).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    // reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    val got = Dedup.clusters(t).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == expected)
  }

  test("d7 incremental dedup equals the full LSH restricted to cross-split pairs") {
    val split = 250L
    val full = Dedup.minhashLsh(t).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("est_jaccard")))
    val crossSplit = full.filter { case (a, b, _) => a < split && b >= split }
      .map { case (a, b, e) => (b, a, e) }.sorted // (new_id, dup_of, est)
    val incr = Dedup.minhashIncremental(t, splitId = split).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"), r.getAs[Double]("est_jaccard")))
      .sorted
    assert(incr.nonEmpty, "the corpus plants near-dups spanning the split")
    assert(incr.sameElements(crossSplit),
      "one-sided banding finds exactly the full self-join's cross-split pairs")
    assert(incr.forall { case (n, o, _) => n >= split && o < split })
  }

  test("s1 brute-force ANN ranks by cosine, no self-matches") {
    val rows = Similarity.bruteForce(t).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      val cos = sorted.map(_.getAs[Double]("cos"))
      assert(cos.sameElements(cos.sortBy(-(_: Double))))
      assert(g.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
  }

  test("s2 IVF recall vs brute force is high on this corpus") {
    val brute = Similarity.bruteForce(t).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivf(t).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("s3 LSH ANN: candidates share a sketch band, recall vs brute is reasonable") {
    val brute = Similarity.bruteForce(t).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rows = Similarity.lshTopK(t).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      val cos = sorted.map(_.getAs[Double]("cos"))
      assert(cos.sameElements(cos.sortBy(-(_: Double))), "ranked by cosine desc")
      assert(g.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }
    val lsh = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall $recall vs brute force too low for 4x4-bit bands")
    // every emitted pair genuinely collides on at least one 4-bit band —
    // the bucketing, not a fallback scan, produced the candidates
    val sketches = t.embeddings
      .select(col("vec_id"), graft.functions.GraftFunctions.sign_sketch(col("embedding"), 16, 7L).as("sk"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("sk")).toMap
    lsh.foreach { case (q, n) =>
      val collide = (0 until 4).exists(b => ((sketches(q) >> (4 * b)) & 15) == ((sketches(n) >> (4 * b)) & 15))
      assert(collide, s"pair ($q,$n) does not share any band")
    }
  }

  test("persisted IVF index prunes cluster partitions and matches in-memory IVF") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_").resolve("idx").toString
    Similarity.buildIvfIndex(t, path)
    val fromIndex = Similarity.searchIvfIndex(t, path)
    // partition pruning visible in the scan: PartitionFilters on cid
    val planStr = fromIndex.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cid"), planStr)
    // results agree with the self-contained IVF operator
    val a = fromIndex.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    val b = Similarity.ivf(t).collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(a.sameElements(b))
    // the radius probe against the same index equals in-job s9 (same
    // deterministic k-means => same cells => same admitted set)
    val q = t.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("query_emb"))
    val ri = Similarity.searchIvfIndexRange(q, path).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"), r.getAs[Double]("cos"))).toSet
    val rj = Similarity.ivfRange(t).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"), r.getAs[Double]("cos"))).toSet
    assert(ri == rj && ri.nonEmpty, "index radius probe must equal in-job s9")
  }

  test("t4 fingerprint is shift-stable: shared window survives a prefix edit") {
    import spark.implicits._
    import graft.functions.GraftHash
    import org.apache.spark.unsafe.types.UTF8String
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val shifted = "PREFIX " + base
    // min-window hash over k=16-byte windows: every window of `base` also
    // appears in `shifted`, so the min can only stay equal or decrease via
    // windows spanning the new prefix.
    val f1 = GraftHash.rollingFingerprint(UTF8String.fromString(base), 16)
    val f2 = GraftHash.rollingFingerprint(UTF8String.fromString(shifted), 16)
    assert(f2 <= f1)
    val viaDf = TextAnalysis.fingerprint(Tables(spark, sfDir)).collect()
    assert(viaDf.map(_.getAs[Long]("doc_id")).distinct.length == viaDf.length)
  }

  test("m1b frame-sample expands each payload to n frames with bounded size") {
    val rows = Multimodal.frames(t, nFrames = 3, frameLen = 32).collect()
    assert(rows.length == t.documents.count() * 3)
    assert(rows.forall(_.getAs[Int]("frame_bytes") <= 32))
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(perDoc.values.forall(_.map(_.getAs[Int]("frame_idx")).sorted.sameElements(Seq(0, 1, 2))))
  }

  test("m1 multimodal pipeline produces per-source features with exact byte accounting") {
    val rows = Multimodal.pipeline(t).collect()
    assert(rows.nonEmpty)
    val totalBytes = rows.map(_.getAs[Long]("total_bytes")).sum
    val expected = t.documents.select(sum(length(col("text")))).collect()(0).getLong(0)
    assert(totalBytes == expected, "UTF-8 payload bytes must equal total text length (ascii corpus)")
  }

  test("d14 fuzzy join: typo pairs match within a block, cross-block and far pairs don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha red widget spins fast"),
      (2L, "alpha red wdget spins fast"),      // 1 deletion from doc 1
      (3L, "alpha completely different sentence here"), // same block, far
      (4L, "beta red widget spins fast"),      // different first token: never paired
      (5L, "alpha red widget spins last")      // 1 substitution from doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.fuzzyJoinOf(docs, prefixLen = 80, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out.contains((1L, 2L, 1)), "one-char typo at distance 1")
    assert(out.contains((1L, 5L, 1)), "one substitution at distance 1")
    assert(out.contains((2L, 5L, 2)), "typo chain at distance 2")
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L), "blocking excludes other first tokens")
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), "over-threshold pair dropped")
  }

  test("d14 fuzzy join: brute-force Levenshtein agrees on the real corpus") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val pre = t.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").trim.toLowerCase.take(80)))
    val byBlock = pre.groupBy(_._2.split(" ", 2)(0))
    val expected = byBlock.values.flatMap { ds =>
      for {
        (ia, pa) <- ds.toSeq; (ib, pb) <- ds.toSeq if ia < ib
        dist = lev(pa, pb) if dist <= 10
      } yield (ia, ib, dist)
    }.toSet
    val got = Dedup.fuzzyJoin(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("d14 fuzzy join: a hot block trips the quadratic guard loudly") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"hot block doc number $i")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.fuzzyJoinOf(docs, maxBlock = Some(10L)).collect()
    }
    assert(e.getMessage.contains("hot") && e.getMessage.contains("quadratic"))
  }

  // ---------------------------------------------------------------- d15

  test("d15 shingle novelty matches a brute-force text-shingle recompute on the corpus") {
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(s: String): Set[Seq[String]] = {
      val toks = s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      if (toks.length < 3) Set.empty else toks.sliding(3).map(_.toSeq).toSet
    }
    val perDoc = docs.map { case (id, s) => id -> shingles(s) }
    val df = perDoc.values.flatten
      .groupBy(identity).map { case (sh, o) => sh -> o.size }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = perDoc.map { case (id, sh) =>
      val novel = sh.count(df(_) == 1).toLong
      id -> ((sh.size.toLong, novel,
        if (sh.isEmpty) 0.0 else r4(novel.toDouble / sh.size)))
    }
    val got = Dedup.shingleNovelty(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0) && got.values.exists(_._3 < 1),
      "the corpus exercises both novel and shared shingles")
  }

  test("d15: sub-k docs score explicit zero, a pure-duplicate pair scores zero novelty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d15crafted").toString
    Seq(
      (0L, "alpha beta gamma delta", "en", "s", 20L), // "b g d" novel, "a b g" shared w/ 1
      (1L, "alpha beta gamma", "en", "s", 15L),       // its one shingle shared with 0
      (2L, "tiny", "en", "s", 4L),                    // < k tokens: 0 shingles
      (3L, "x y z w", "en", "s", 7L),
      (4L, "x y z w", "en", "s", 7L))                 // exact dup of 3: novelty 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.shingleNovelty(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((2L, 1L, 0.5)) && got(1L) == ((1L, 0L, 0.0)))
    assert(got(2L) == ((0L, 0L, 0.0)), "sub-k doc is present with explicit zeros")
    assert(got(3L) == ((2L, 0L, 0.0)) && got(4L) == ((2L, 0L, 0.0)),
      "exact duplicates annihilate each other's novelty")
  }

  // ---------------------------------------------------------------- s8

  test("s8 range search equals a driver-side cosine threshold recompute") {
    val embs = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val expected = (for {
      (q, qe) <- embs.toSeq if q < 10
      (m, me) <- embs.toSeq if m != q
      c = cos(qe, me) if c >= 0.2
    } yield (q, m)).toSet
    val got = Similarity.rangeSearch(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "the threshold admits matches on this corpus")
    // presentation order: per query, cosine descending
    val rows = Similarity.rangeSearch(t).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val cs = g.map(_.getAs[Double]("cos"))
      assert(cs.sameElements(cs.sortBy(-(_: Double))))
    }
  }

  test("s8: a higher threshold returns a subset of a lower one") {
    val lo = Similarity.rangeSearch(t, minCos = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hi = Similarity.rangeSearch(t, minCos = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.subsetOf(lo) && hi.size < lo.size)
  }

  // ---------------------------------------------------------------- s9

  test("s9 IVF range is a subset of exact s8 with identical scores, and covers s2's in-radius hits") {
    val exact = Similarity.rangeSearch(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val ivf = Similarity.ivfRange(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (pair, c) =>
      assert(exact.get(pair).contains(c),
        s"IVF-admitted pair $pair must appear in the exact radius set with the same score")
    }
    // s2 and s9 share the admitted-candidate set, so every s2 top-k
    // neighbor whose cosine clears the radius must be in s9
    Similarity.ivf(t).collect().foreach { r =>
      val pair = (r.getLong(0), r.getAs[Long]("neighbor_id"))
      // strictly above the rounding envelope: a displayed 0.2 could be
      // an unrounded 0.1999996 the radius filter legitimately excludes
      if (r.getAs[Double]("cos") >= 0.200001)
        assert(ivf.contains(pair), s"s2 hit $pair clears the radius but is missing from s9")
    }
  }

  test("scale-safe LSH derivation: occupancy-capped ladder, and the gate corpus pins the oracle geometry") {
    import graft.operators.scaleSafeLsh
    // the pure step function: expected bucket occupancy capped at 64
    assert(scaleSafeLsh(0L) == ((16, 4)))
    assert(scaleSafeLsh(1024L) == ((16, 4)))
    assert(scaleSafeLsh(1025L) == ((32, 8)))
    assert(scaleSafeLsh(16384L) == ((32, 8)))
    assert(scaleSafeLsh(16385L) == ((64, 16)))
    assert(scaleSafeLsh(64L << 16) == ((64, 16)))
    assert(scaleSafeLsh((64L << 16) + 1) == ((64, 32)))
    assert(scaleSafeLsh(10_000_000_000L) == ((64, 32)),
      "the 32-bit rung covers any real corpus (occupancy 64 holds to 2.7e11)")
    // ORACLE PIN: d5/s4/dc8's DuckDB replicas replay the 16-bit sketch /
    // 4-bit bands arithmetic. The operators derive their geometry from
    // the corpus count, so the gate stays hash-exact ONLY while the
    // gate corpus sits on the ladder's first rung. If this fails, the
    // driver regenerated testdata past 1,024 embeddings: re-pin
    // OracleReplicas.d5PairCtes / s4KnnGraph at the new derived width.
    val n = graft.sources.Tables(spark, sfDir).embeddings.count()
    assert(scaleSafeLsh(n) == ((16, 4)),
      s"gate corpus has $n embeddings — derived geometry ${scaleSafeLsh(n)} no " +
        "longer matches the (16, 4) the oracle replicas pin; re-pin the replicas")
  }

  test("d5 band-width lever: exact twins collide at EVERY band width; guards reject bad configs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 64-dim crafted corpus: vectors 1 and 2 identical (the dedup
    // target), the rest deterministic pseudo-noise — identical vectors
    // have identical sketches at any width, so the pair must survive
    // every (nbits, bandBits) config including the at-scale 64x16
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 2654435761L + i * 40503L) % 997).toFloat / 997f) - 0.5f)
    val emb = (Seq(1L -> vec(42L), 2L -> vec(42L)) ++
      (3L to 40L).map(i => i -> vec(i))).toDF("vec_id", "embedding")
    for ((nb, bb) <- Seq((16, 4), (64, 8), (64, 16))) {
      val pairs = graft.operators.Dedup.embeddingPairsOf(emb, 0.99, nb, bb)
        .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((1L, 2L)), s"config ($nb, $bb) must find the exact twin pair")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.embeddingPairsOf(emb, 0.5, nbits = 16, bandBits = 5)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnGraph(graft.sources.Tables(spark, sfDir),
        nbits = 128, bandBits = 16)
    }
    // degenerate configs the arithmetic would accept silently:
    // bandBits=64 → (1L << 64) - 1 wraps to mask 0 (full cross-product);
    // negative bandBits → zero bands (empty result); nbits < bandBits in
    // knnGraph → zero bands (empty graph)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.embeddingPairsOf(emb, 0.5, nbits = 64, bandBits = 64)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.embeddingPairsOf(emb, 0.5, nbits = 16, bandBits = -4)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnGraph(graft.sources.Tables(spark, sfDir),
        nbits = 0, bandBits = 4)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnGraph(graft.sources.Tables(spark, sfDir),
        nbits = 64, bandBits = 64)
    }
  }

  test("d9 maxDf cap below a hot boilerplate shingle's df leaves the spans unchanged") {
    // 2,000 docs of 34 tokens, mostly unique per doc; every 200th doc
    // carries one shared 8-token boilerplate block (one shingle with
    // df = 10, above the cap of 4) and docs 1/2 and 1001/1002 share a
    // 20-token block — the planted duplicates. The boilerplate run is
    // shorter than minSpanTokens = 16, so the cap drops only work that
    // can never produce a reportable span.
    val k = 8
    def uniq(tag: String, m: Int) =
      transform(sequence(lit(0), lit(m - 1)), i => concat(lit("u"), col("id"), lit(tag), i))
    val boiler = array((0 until k).map(i => lit(s"bp$i")): _*)
    val shared = transform(sequence(lit(0), lit(19)),
      i => concat(lit("d"), floor(col("id") / 1000), lit("t"), i))
    val docs = spark.range(0, 2000).select(col("id").as("doc_id"),
      concat_ws(" ", concat(
        uniq("f", 4),
        when(col("id") % 200 === 0, boiler).otherwise(uniq("g", k)),
        when(col("id") % 1000 === 1 || col("id") % 1000 === 2, shared).otherwise(uniq("h", 20)),
        uniq("t", 2))).as("text"))
    def spans(maxDf: Option[Long]) = Dedup.substringSpansOfDocs(docs, k = k, maxDf = maxDf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens"))).toSet
    val uncapped = spans(None)
    assert(uncapped.map(s => (s._1, s._2)) == Set((1L, 2L), (1001L, 1002L)),
      s"exactly the planted 20-token blocks are found: $uncapped")
    assert(spans(Some(4L)) == uncapped, "the cap must not change the answer on this corpus")
  }
}
