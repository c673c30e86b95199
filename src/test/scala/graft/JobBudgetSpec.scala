package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.etl.{MetadataStore, Pipeline, PipelineRunner}
import graft.operators.Dedup
import graft.sources.Tables

/** Driver-job budgets, counted with [[Phase.record]]: each case pins the
  * Spark jobs one operation launches as an upper bound. A change may
  * lower a bound; raising one is a regression to declare. The compile
  * gates below pin, the same way, the generated classes a repeated call
  * compiles ([[GraftSession.CodegenCacheEntries]]).
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
    // measured: 8 jobs, all of them the two loads' merge checkpoints and
    // the run's data write; the backfill re-delivers unchanged rows, which
    // replace nothing, so it writes nothing; the sync log and the row
    // counts add none
    assert(jobs <= 8L, s"run + backfill launched $jobs jobs, budget 8")
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

  test("dc3_canonical stays within its job budget; its propagation setup within its own") {
    val r = Phase.record(spark)
    try {
      Phase("budget.dc3")(runKey("dc3_canonical"))
      val s = r.snapshot()
      val total = s.collect { case (p, st) if p.startsWith("budget.dc3") => st.jobs }.sum
      val setup = s.get("budget.dc3/propagation.setup").fold(0L)(_.jobs)
      // measured: 21 and 10 while the pair source range-sorted its output
      // and the setup counted edges and vertices with count() actions
      assert(setup <= 6L, s"dc3's propagation setup launched $setup jobs, budget 6")
      assert(total <= 17L, s"one dc3_canonical call launched $total jobs, budget 17")
    } finally r.close()
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
}
