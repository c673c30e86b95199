package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{MetadataStore, Pipeline, PipelineRunner}
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Driver-job budgets, counted with [[Phase.record]]: each case pins the
  * Spark jobs one operation launches as an upper bound. A change may
  * lower a bound; raising one is a regression to declare. The compile
  * gates below pin, the same way, the generated classes a repeated call
  * or a store probe after an append compiles
  * ([[GraftSession.CodegenCacheEntries]]).
  */
class JobBudgetSpec extends SparkSpecBase {

  /** The jobs `body` launches, counted under a fresh phase path and
    * the engine phases nested in it.
    */
  private def jobsOf(path: String)(body: => Unit): Long = {
    val r = Phase.record(spark)
    try {
      Phase(path)(body)
      r.snapshot().collect {
        case (p, s) if p == path || p.startsWith(s"$path/") => s.jobs
      }.sum
    } finally r.close()
  }

  test("sync-log reads and writes launch no Spark job") {
    val store = new MetadataStore(spark, Files.createTempDirectory("graft_md_").toString)
    val jobs = jobsOf("budget.sync_log") {
      val id = store.startSync("results")
      store.completeSync("results", id, success = true, 3L, Some(30L))
      assert(store.watermark("results").contains(30L))
      assert(store.history("results").map(_.status) == Seq("running", "success"))
    }
    assert(jobs == 0L, s"the sync log is driver metadata, yet launched $jobs jobs")
  }

  test("a one-table post-race run plus a backfill stays within its job budget") {
    val wh = Files.createTempDirectory("graft_wh_").toString
    val md = Files.createTempDirectory("graft_md_").toString
    val specs = Seq(Pipeline.TableSpec("fact_events", Pipeline.PostRace, Nil,
      Seq("event_id"), versionColumn = Some("ts")))
    val events: Pipeline.Extract = (s, _) =>
      Tables(s, sfDir).events.withColumn("round", month(col("ts")))
    val runner = new PipelineRunner(spark, wh, new MetadataStore(spark, md), specs,
      Map("fact_events" -> events))
    val jobs = jobsOf("budget.sync") {
      runner.run(Pipeline.PostRace, newWatermark = Some(1L))
      runner.backfill("fact_events", Map("round" -> 1))
    }
    // measured: 7 jobs, the two loads' merge checkpoints and the run's
    // data write plus one schema inference for the events file (8 when
    // the backfill inferred it again); the backfill re-delivers unchanged
    // rows, which replace nothing, so it writes nothing; the sync log and
    // the row counts add none
    assert(jobs <= 7L, s"run + backfill launched $jobs jobs, budget 7")
  }

  test("one partitioned publish stays within its job budget") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_part_").toString + "/t"
    val initial = (0 until 40).map(i => (i.toLong, i % 4, 1L, s"v$i"))
      .toDF("id", "day", "ver", "payload")
    Pipeline.mergeIntoPartitioned(spark, target, initial, Seq("id"), Some("ver"), "day")
    val fresh = (30 until 50).map(i => (i.toLong, i % 4, 2L, s"w$i"))
      .toDF("id", "day", "ver", "payload")
    var rows = 0L
    val jobs = jobsOf("budget.partitioned") {
      rows = Pipeline.mergeIntoPartitioned(spark, target, fresh, Seq("id"), Some("ver"), "day")
    }
    assert(rows == 50L, "the publish reports the touched partitions' merged rows")
    // 8 when the row count was a count() after the checkpoint; the
    // checkpoint's Observation now supplies it
    assert(jobs <= 7L, s"one partitioned publish launched $jobs jobs, budget 7")
  }

  test("a 99-hop propagation stays within its job budget") {
    import spark.implicits._
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    var rounds = 0
    val jobs = jobsOf("budget.propagation") {
      rounds = graft.operators.Dedup.clustersOfPairsCounted(pairs)._2
    }
    assert(rounds == 9, s"the path closes in 9 rounds, got $rounds")
    // measured: 3 setup jobs plus 19 over the 9 rounds (24 when the edge
    // count was a count() after the pair checkpoint)
    assert(jobs <= 22L, s"the 99-hop propagation launched $jobs jobs, budget 22")
  }

  // The store layer. Each store is built outside the counted phase; the
  // counted operation is the call plus, for a probe, collecting its rows.
  // Reading the store's layout launches no job.
  private def docs(lo: Int, hi: Int) =
    Tables(spark, sfDir).documents.filter(col("doc_id") >= lo && col("doc_id") < hi)

  /** Jobs of `op` against a store `build` made fresh over docs < 200. */
  private def storeJobs(name: String, suffixes: Seq[String], build: => Unit)(
      op: => Unit): Long = {
    graft.sources.Warehouse.dropStore(spark, name, suffixes)
    build
    try jobsOf(s"budget.$name")(op)
    finally graft.sources.Warehouse.dropStore(spark, name, suffixes)
  }

  private def signatureJobs(name: String)(op: => Unit): Long =
    storeJobs(name, Seq("sigs", "bands"), Dedup.buildSignatureStore(docs(0, 200), name))(op)

  test("a signature-store probe stays within its job budget") {
    val jobs = signatureJobs("budget_sig_probe") {
      Dedup.minhashIncrementalAgainstStore("budget_sig_probe", docs(200, 250)).collect()
    }
    assert(jobs <= 8L, s"the signature probe launched $jobs jobs, budget 8")
  }

  test("a signature-store append stays within its job budget") {
    val jobs = signatureJobs("budget_sig_append") {
      Dedup.appendToSignatureStore(docs(200, 250), "budget_sig_append")
    }
    // 9 when an isEmpty action preceded the append's hashing checkpoint;
    // that checkpoint's Observation now counts the batch
    assert(jobs <= 8L, s"the signature append launched $jobs jobs, budget 8")
  }

  test("a signature-store takedown fold stays within its job budget") {
    val jobs = signatureJobs("budget_sig_fold") {
      Dedup.removeFromSignatureStore(docs(0, 20).select(col("doc_id")), "budget_sig_fold")
    }
    assert(jobs <= 7L, s"the signature takedown fold launched $jobs jobs, budget 7")
  }

  test("a novelty-store probe stays within its job budget") {
    val jobs = storeJobs("budget_nov_probe", Seq("shdf"),
      Dedup.buildNoveltyStore(docs(0, 200), "budget_nov_probe")) {
      Dedup.noveltyAgainstStore("budget_nov_probe", docs(200, 250)).collect()
    }
    assert(jobs <= 10L, s"the novelty probe launched $jobs jobs, budget 10")
  }

  test("a substring-store probe stays within its job budget") {
    val jobs = storeJobs("budget_sub_probe", Seq("shingles"),
      Dedup.buildSubstringStore(docs(0, 200), "budget_sub_probe")) {
      Dedup.substringSpansAgainstStore("budget_sub_probe", docs(200, 250)).collect()
    }
    assert(jobs <= 5L, s"the substring probe launched $jobs jobs, budget 5")
  }

  /** One evaluation of a `SparkEntry.queries` key: construct, then a
    * full execution through the noop sink (as `Bench` runs it).
    */
  private def runKey(key: String): Unit =
    SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** Read every testdata table once, so that a key's count holds no
    * schema inference of a table the JVM has not read yet: the count
    * is then the same in a fresh JVM as in suite order.
    */
  private def readTestdata(): Unit = {
    val t = Tables(spark, sfDir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem,
      t.events, t.documents, t.embeddings): Unit
  }

  /** The jobs of one `key` call, after [[readTestdata]]. */
  private def keyJobs(key: String, path: String): Long = {
    readTestdata()
    jobsOf(path)(runKey(key))
  }

  test("dc3_canonical stays within its job budget; its propagation setup within its own") {
    readTestdata()
    val r = Phase.record(spark)
    try {
      Phase("budget.dc3")(runKey("dc3_canonical"))
      val s = r.snapshot()
      val total = s.collect { case (p, st) if p.startsWith("budget.dc3") => st.jobs }.sum
      val setup = s.get("budget.dc3/propagation.setup").fold(0L)(_.jobs)
      // measured: 21 and 10 while the pair source range-sorted its output
      // and the setup counted edges and vertices with count() actions;
      // 17 while every read of the documents table inferred its schema
      assert(setup <= 6L, s"dc3's propagation setup launched $setup jobs, budget 6")
      assert(total <= 15L, s"one dc3_canonical call launched $total jobs, budget 15")
    } finally r.close()
  }

  test("q40_delete_where stays within its job budget") {
    val jobs = keyJobs("q40_delete_where", "budget.q40")
    // measured: 30 while each sidecar write read its directory back
    // (an emptiness check plus a min/max job) and each delete rewrite
    // checked emptiness before writing; the write's Observation now
    // supplies the row count and the sidecars; 13 while every read of a
    // snapshot directory inferred its schema, 11 while the delete's scan
    // and the final read inferred the schema of directories the table
    // had just written
    assert(jobs <= 9L, s"one q40_delete_where call launched $jobs jobs, budget 9")
  }

  test("q41_restore stays within its job budget") {
    val jobs = keyJobs("q41_restore", "budget.q41")
    // measured: 23 with the read-back sidecars, 11 with a schema
    // inference per read (see q40); then 10 or 11, as the restored
    // read's first directory was or was not the one the delete's scan
    // had inferred
    assert(jobs <= 9L, s"one q41_restore call launched $jobs jobs, budget 9")
  }

  test("g2_triangle_count stays within its job budget") {
    val jobs = keyJobs("g2_triangle_count", "budget.g2")
    // 16 when the count held the JVM's first read of the graph's table
    assert(jobs <= 15L, s"one g2_triangle_count call launched $jobs jobs, budget 15")
  }

  test("g10_triangle_sample stays within its job budget") {
    val jobs = keyJobs("g10_triangle_sample", "budget.g10")
    // measured: 22 while the sampled edges were counted with a count()
    // after their checkpoint and every read inferred its schema
    assert(jobs <= 19L, s"one g10_triangle_sample call launched $jobs jobs, budget 19")
  }

  /** Schema-inference jobs (`parquet.schema`) `body` launches. */
  private def inferenceJobs(path: String)(body: => Unit): Long = {
    val r = Phase.record(spark)
    try {
      Phase(path)(body)
      r.snapshot().collect {
        case (p, s) if p.startsWith(s"$path/") && p.endsWith("/parquet.schema") => s.jobs
      }.sum
    } finally r.close()
  }

  test("a second read of an unchanged table or snapshot infers no schema and launches no job") {
    import spark.implicits._
    val snap = new graft.etl.SnapshotTable(spark, Files.createTempDirectory("graft_snap_").toString)
    snap.append(Seq((1L, "a")).toDF("id", "s"))
    snap.append(Seq((2L, "b")).toDF("id", "s"))
    def reads(): Unit = { Tables(spark, sfDir).orders; snap.read() }
    reads()
    val inferred = inferenceJobs("budget.reread")(reads())
    val jobs = jobsOf("budget.reread")(reads())
    assert(inferred == 0L, s"the repeated reads inferred $inferred schemas")
    assert(jobs == 0L, s"the repeated reads launched $jobs jobs")
  }

  test("a second pass over the five analytics_mix keys infers no schema") {
    val keys = Seq("q1_agg", "q12_pivot", "q22_hll_distinct", "q28_bloom_join", "dc3_canonical")
    keys.foreach(runKey)
    val n = inferenceJobs("budget.pass")(keys.foreach(runKey))
    assert(n == 0L, s"the repeated pass launched $n schema-inference jobs")
  }

  /** Generated classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second dc3_canonical call in one session compiles no generated class") {
    runKey("dc3_canonical")
    val n = compiles(runKey("dc3_canonical"))
    assert(n == 0L, s"the repeated dc3 call compiled $n classes; the cache must hold its working set")
  }

  test("a second pass over the five analytics_mix keys compiles no generated class") {
    val keys = Seq("q1_agg", "q12_pivot", "q22_hll_distinct", "q28_bloom_join", "dc3_canonical")
    keys.foreach(runKey)
    val n = compiles(keys.foreach(runKey))
    assert(n == 0L, s"the repeated pass compiled $n classes; the cache must hold its working set")
  }

  /** Generated classes compiled by the probe after each of three 50-doc
    * appends to a store `build` made fresh over docs < 200. Each probe
    * is the first over its segment count; a probe over one more segment
    * differs from the one before only in one more union branch, whose
    * classes differ only in their stage numbers.
    */
  private def probeCompilesAfterAppends(name: String, suffixes: Seq[String], build: => Unit)(
      append: DataFrame => Unit)(probe: => Unit): Seq[Long] = {
    graft.sources.Warehouse.dropStore(spark, name, suffixes)
    build
    try Seq(200, 250, 300).map { lo => append(docs(lo, lo + 50)); compiles(probe) }
    finally graft.sources.Warehouse.dropStore(spark, name, suffixes)
  }

  test("a signature-store probe after its third append compiles no generated class") {
    val name = "budget_sig_segments"
    val n = probeCompilesAfterAppends(name, Seq("sigs", "bands"),
      Dedup.buildSignatureStore(docs(0, 200), name))(Dedup.appendToSignatureStore(_, name)) {
      Dedup.minhashIncrementalAgainstStore(name, docs(400, 450)).collect()
    }
    assert(n.last == 0L, s"the probes after each append compiled ${n.mkString(", ")} classes")
  }

  test("a BM25-store probe after its third append compiles no generated class") {
    val name = "budget_bm25_segments"
    val n = probeCompilesAfterAppends(name, Seq("postings", "stats"),
      TextAnalysis.buildBm25Store(docs(0, 200), name))(TextAnalysis.appendToBm25Store(_, name)) {
      TextAnalysis.bm25AgainstStore(spark, name).collect()
    }
    assert(n.last == 0L, s"the probes after each append compiled ${n.mkString(", ")} classes")
  }
}
