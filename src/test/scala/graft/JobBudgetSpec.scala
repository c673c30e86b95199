package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{MetadataStore, Pipeline, PipelineRunner}
import graft.sources.Tables

/** Driver-job budgets, counted with [[Phase.record]]: each case pins the
  * Spark jobs one operation launches as an upper bound. A change may
  * lower a bound; raising one is a regression to declare.
  */
class JobBudgetSpec extends SparkSpecBase {

  /** The jobs `body` launches, counted under a fresh phase path. */
  private def jobsOf(path: String)(body: => Unit): Long = {
    val r = Phase.record(spark)
    try {
      Phase(path)(body)
      r.snapshot().get(path).fold(0L)(_.jobs)
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
    // measured: 9 jobs, all of them the two loads' merge checkpoints and
    // data writes; the sync log and the row counts add none
    assert(jobs <= 9L, s"run + backfill launched $jobs jobs, budget 9")
  }
}
