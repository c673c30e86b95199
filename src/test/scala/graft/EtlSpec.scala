package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{MetadataStore, Pipeline, PipelineRunner, SnapshotTable}
import graft.sources.{CsvSource, Tables}

class EtlSpec extends SparkSpecBase {

  private def freshDirs(): (String, String) = {
    val wh = Files.createTempDirectory("graft_wh_").toString
    val md = Files.createTempDirectory("graft_md_").toString
    (wh, md)
  }

  private val specs = Seq(
    Pipeline.TableSpec("dim_customer", Pipeline.PreSeason, Nil, Seq("c_custkey")),
    Pipeline.TableSpec("dim_nation", Pipeline.PreSeason, Nil, Seq("n_nationkey")),
    Pipeline.TableSpec("fact_events", Pipeline.PostRace, Seq("dim_customer"),
      Seq("event_id"), versionColumn = Some("ts")))

  private def extracts(wm: Long => Long = identity): Map[String, Pipeline.Extract] = Map(
    "dim_customer" -> ((s, _) => Tables(s, sfDir).customer),
    "dim_nation" -> ((s, _) => Tables(s, sfDir).nation),
    "fact_events" -> ((s, since) => {
      val ev = Tables(s, sfDir).events
      since match {
        case Some(mark) => ev.filter(unix_timestamp(col("ts")) > mark)
        case None => ev.filter(unix_timestamp(col("ts")) <= 1705276800L) // first chunk only
      }
    }))

  test("load order respects dependencies deterministically") {
    val order = Pipeline.loadOrder(specs)
    assert(order.indexOf("dim_customer") < order.indexOf("fact_events"))
    assert(order == Pipeline.loadOrder(specs), "stable ordering")
  }

  test("pre-season run loads dimensions; rerun is idempotent") {
    val (wh, md) = freshDirs()
    val runner = new PipelineRunner(spark, wh, new MetadataStore(spark, md), specs, extracts())
    val first = runner.run(Pipeline.PreSeason)
    assert(first("dim_customer") == Tables(spark, sfDir).customer.count())
    val second = runner.run(Pipeline.PreSeason, force = true)
    assert(second == first, "re-running must not duplicate rows")
  }

  test("post-race incremental run merges only past-watermark rows and upserts by key") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val runner = new PipelineRunner(spark, wh, store, specs, extracts())
    runner.run(Pipeline.PreSeason)

    val wm = 1705276800L // 2024-01-15
    val r1 = runner.run(Pipeline.PostRace, newWatermark = Some(wm))
    val expected1 = Tables(spark, sfDir).events.filter(unix_timestamp(col("ts")) <= wm).count()
    assert(r1("fact_events") == expected1)
    assert(store.watermark("fact_events").contains(wm))

    val r2 = runner.run(Pipeline.PostRace)
    val total = Tables(spark, sfDir).events.count()
    assert(r2("fact_events") == total, s"incremental merge should reach $total")
    // key uniqueness preserved (upsert, not append)
    val dupes = runner.table("fact_events").groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dupes == 0)
    // audit log recorded each run
    assert(store.history("fact_events").count(_.status == "success") == 2)
  }

  test("a failing run leaves the previous table generation intact (atomic publish)") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val okExtracts = extracts()
    val runner1 = new PipelineRunner(spark, wh, store, specs, okExtracts)
    runner1.run(Pipeline.PreSeason)
    val before = runner1.table("dim_customer").count()

    val poison: Map[String, Pipeline.Extract] = okExtracts.updated(
      "dim_customer", (s, _) => {
        import org.apache.spark.sql.functions.udf
        val boom = udf((x: Long) => { throw new RuntimeException("extract blew up"); x })
        Tables(s, sfDir).customer.withColumn("c_custkey", boom(org.apache.spark.sql.functions.col("c_custkey")))
      })
    val runner2 = new PipelineRunner(spark, wh, store, specs, poison)
    intercept[Exception] { runner2.run(Pipeline.PreSeason, force = true) }
    assert(runner1.table("dim_customer").count() == before, "old generation must survive the failed run")
    assert(store.history("dim_customer").last.status == "failed")
  }

  test("freshness gate skips fresh tables; events past the buffer trigger loads; force overrides") {
    val (wh, md) = freshDirs()
    var now = 1705276800L // 2024-01-15
    val store = new MetadataStore(spark, md, clock = () => now)
    // calendar: one event settled long ago, one event on 2024-01-20
    val calendar: org.apache.spark.sql.SparkSession => Seq[Long] =
      _ => Seq(1704067200L /* 2024-01-01 */, 1705708800L /* 2024-01-20 */)
    val runner = new PipelineRunner(spark, wh, store, specs, extracts(), Some(calendar))

    val first = runner.run(Pipeline.PreSeason)
    assert(first.contains("dim_customer"), "never-loaded tables must load")
    // same period, already loaded -> skipped with an audit row
    val second = runner.run(Pipeline.PreSeason)
    assert(second.isEmpty, "fresh pre-season tables must be skipped")
    assert(store.currentStatus("dim_customer").contains("skipped"))
    // force bypasses the gate
    val forced = runner.run(Pipeline.PreSeason, force = true)
    assert(forced.contains("dim_customer"))
    // next year -> pre-season loads again
    now = 1737072000L // 2025-01-17
    assert(runner.run(Pipeline.PreSeason).contains("dim_customer"))

    // post-race: load (event settled), then skip (no new settled event)
    now = 1705276800L
    assert(runner.run(Pipeline.PostRace).contains("fact_events"))
    assert(runner.run(Pipeline.PostRace).isEmpty, "no settled event since last sync")
    // the 2024-01-20 event settles after the 2-day buffer -> load again
    now = 1705708800L + 3 * 86400
    assert(runner.run(Pipeline.PostRace).contains("fact_events"))
  }

  test("two-phase sync: a hung run is visible as a trailing running row") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val logId = store.startSync("fact_events")
    assert(store.currentStatus("fact_events").contains("running"), "in-flight run must be visible")
    store.completeSync("fact_events", logId, success = false, 0L, None, Some("executor lost"))
    assert(store.currentStatus("fact_events").contains("failed"))
    assert(store.history("fact_events").last.error.contains("executor lost"))
    assert(store.history("fact_events").last.refId.contains(logId))
    // a completed run via the runner ends in success, not running
    val runner = new PipelineRunner(spark, wh, store, specs, extracts())
    runner.run(Pipeline.PreSeason)
    assert(store.currentStatus("dim_customer").contains("success"))
  }

  /** The committed versions of `md`'s sync log. */
  private def logVersions(io: graft.sources.StoreIO, md: String): Seq[String] =
    io.list(s"$md/sync_log_v").filter(_.startsWith("v"))

  test("sync-log trims keep history, ids, refIds, errors and watermarks unchanged") {
    val (_, md) = freshDirs()
    // every version reads as committed at epoch 0: all but the newest 16
    // are past the one-minute floor at the first trim
    val io = new graft.sources.InMemoryStoreIO(clock = () => 0L)
    val store = new MetadataStore(spark, md, io = io)
    // a realistic chain: successes with advancing watermarks, a failure,
    // a two-phase running+terminal pair, a second entity
    val id1 = store.startSync("fact_events")
    store.completeSync("fact_events", id1, success = true, 10L, Some(100L))
    val id2 = store.startSync("fact_events")
    store.completeSync("fact_events", id2, success = false, 0L, None, Some("boom: a b\nc ~ %"))
    val id3 = store.startSync("fact_events")
    store.completeSync("fact_events", id3, success = true, 5L, Some(200L))
    store.appendLog("dim nation", "success", 25L, None)
    val historyBefore = store.history("fact_events")
    assert(historyBefore.map(_.id) == (1L to 6L))
    assert(historyBefore.map(_.refId) == Seq(None, Some(1L), None, Some(3L), None, Some(5L)))
    assert(historyBefore(3).error.contains("boom: a b\nc ~ %"), "strings round-trip verbatim")
    (1 to 40).foreach(i => store.appendLog("dim_customer", "success", i.toLong, Some(i.toLong)))
    assert(logVersions(io, md).size == 16, "the log trims itself to 16 versions")
    val reopened = new MetadataStore(spark, md, io = io)
    for (s <- Seq(store, reopened)) {
      assert(s.history("fact_events") == historyBefore,
        "trimmed versions preserve history verbatim — ids, statuses, refIds, errors")
      assert(s.watermark("fact_events").contains(200L))
      assert(s.currentStatus("dim nation").contains("success"))
      assert(s.watermark("dim_customer").contains(40L))
      assert(s.history("dim_customer").map(_.id) == (8L to 47L))
    }
    assert(reopened.appendLog("fact_events", "success", 1L, Some(300L)) == 48L,
      "the id chain continues across trims")
    assert(store.watermark("fact_events").contains(300L))
  }

  test("4 threads x 5 racing appendLogs mint ids 1..20 with no duplicates") {
    // every append is one optimistic commit whose transition assigns
    // max id + 1: of two appenders racing for a version exactly one
    // wins, and the loser re-derives its id from the winner's head
    val (_, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val minted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 5).foreach { i =>
        minted.add(store.appendLog("entity_x", "success", 1L, Some(t * 10L + i)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = minted.asScala.toSeq
    assert(ids.size == 20 && ids.distinct.size == 20,
      s"20 racing appends must mint 20 distinct ids, got ${ids.sorted}")
    assert(ids.toSet == (1L to 20L).toSet, "ids stay dense from 1")
    val logged = store.history("entity_x")
    assert(logged.map(_.id) == (1L to 20L), "every append is in the log, once")
    assert(logged.flatMap(_.watermark).toSet == (for (t <- 0 until 4; i <- 0 until 5)
      yield t * 10L + i).toSet, "no racing append's row is lost")
    assert(store.appendLog("entity_x", "success", 1L, None) == 21L)
  }

  test("a crash at either put of a startSync/completeSync pair leaves a readable, untorn log") {
    for (crashAt <- Seq(1, 2)) {
      val (_, md) = freshDirs()
      val io = new graft.sources.InMemoryStoreIO()
      io.failAfterCommit(crashAt)
      val store = new MetadataStore(spark, md, io = io)
      val err = intercept[java.io.IOException] {
        val id = store.startSync("results")
        store.completeSync("results", id, success = true, 7L, Some(70L))
      }
      assert(err.getMessage.contains("injected crash"))
      val after = new MetadataStore(spark, md, io = io)
      val rows = after.history("results")
      crashAt match {
        case 1 =>
          assert(rows.map(r => (r.id, r.status)) == Seq(1L -> "running"),
            s"a crash after the start commit shows the run as running: $rows")
          assert(after.watermark("results").isEmpty)
        case 2 =>
          assert(rows.map(r => (r.id, r.status, r.refId)) ==
            Seq((1L, "running", None), (2L, "success", Some(1L))),
            s"a crash after the terminal commit shows the run closed: $rows")
          assert(after.watermark("results").contains(70L) && rows.last.records == 7L)
      }
      assert(after.appendLog("results", "success", 1L, Some(80L)) == crashAt + 1L,
        "appends continue past the crash")
    }
  }

  test("a parquet sync log from earlier versions imports once with its ids, watermarks and history") {
    import spark.implicits._
    val (_, md) = freshDirs()
    val legacy = Seq(
      MetadataStore.LogRow(1L, "fact_events", "running", 0L, None, syncedAt = 100L),
      MetadataStore.LogRow(2L, "fact_events", "success", 10L, Some(500L), Some(1L), syncedAt = 101L),
      MetadataStore.LogRow(3L, "dim_nation", "success", 25L, None, syncedAt = 102L),
      // id 4 was burned by a reservation whose append crashed
      MetadataStore.LogRow(5L, "fact_events", "failed", 0L, Some(500L), Some(4L),
        Some("executor lost"), syncedAt = 103L))
    // the parquet pile: one file per append
    legacy.foreach(r => Seq(r).toDS().write.mode("append").parquet(s"$md/sync_log"))
    val pile = java.nio.file.Paths.get(s"$md/sync_log")
    def pileFiles(): Map[String, Long] = {
      val s = Files.list(pile)
      try s.iterator().asScala.map(p => p.getFileName.toString ->
        Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    // the id reservations an earlier version kept beside the pile
    Files.createDirectories(java.nio.file.Paths.get(s"$md/sync_log_ids"))
    Files.createFile(java.nio.file.Paths.get(s"$md/sync_log_ids/4"))
    val before = pileFiles()
    // two processes opening the log at once import it once
    val stores = Seq.fill(2)(new MetadataStore(spark, md))
    val threads = stores.map(s => new Thread(() => { s.history("fact_events"); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(logVersions(graft.sources.PosixStoreIO, md).size == 1, "one import version")
    for (s <- stores) {
      assert(s.history("fact_events") == legacy.filter(_.entity == "fact_events"))
      assert(s.history("dim_nation") == legacy.filter(_.entity == "dim_nation"))
      assert(s.watermark("fact_events").contains(500L))
      assert(s.currentStatus("fact_events").contains("failed"))
      assert(s.lastSuccessAt("fact_events").contains(101L))
    }
    assert(stores.head.appendLog("fact_events", "success", 1L, Some(600L)) == 6L,
      "the next append gets the legacy max id + 1")
    assert(stores.last.watermark("fact_events").contains(600L))
    assert(new MetadataStore(spark, md).history("fact_events").size == 4)
    assert(pileFiles() == before, "the parquet pile is never written again")
    // age the import version past the trim's one-minute floor, then push
    // it out of the newest 16: the trim that retires it deletes the pile
    // and the reservations
    Files.setLastModifiedTime(java.nio.file.Paths.get(s"$md/sync_log_v/v000000000000"),
      java.nio.file.attribute.FileTime.fromMillis(0L))
    (1 to 16).foreach(i => stores.head.appendLog("dim_region", "success", i.toLong, None))
    assert(!logVersions(graft.sources.PosixStoreIO, md).contains("v000000000000"))
    assert(!Files.exists(pile) && !Files.exists(java.nio.file.Paths.get(s"$md/sync_log_ids")),
      "both legacy directories go with the import version")
    // reopening reads the log as it stands and imports nothing again
    val versions = logVersions(graft.sources.PosixStoreIO, md)
    val reopened = new MetadataStore(spark, md)
    assert(reopened.history("fact_events") == stores.head.history("fact_events"))
    assert(reopened.history("fact_events").size == 4 && reopened.history("dim_region").size == 16)
    assert(logVersions(graft.sources.PosixStoreIO, md) == versions, "no second import")
  }

  test("single-table targeted run loads exactly one entity") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val runner = new PipelineRunner(spark, wh, store, specs, extracts())
    val n = runner.runTable("dim_nation")
    assert(n.contains(Tables(spark, sfDir).nation.count()))
    assert(store.history("dim_customer").isEmpty, "other tables untouched")
    intercept[IllegalArgumentException] { runner.runTable("nope") }
  }

  test("withRetry retries transient extract failures with backoff, not fatal ones") {
    var attempts = 0
    val sleeps = scala.collection.mutable.ListBuffer.empty[Long]
    val flaky: Pipeline.Extract = (s, _) => {
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
      Tables(s, sfDir).nation
    }
    val wrapped = Pipeline.withRetry(flaky, maxAttempts = 3, sleep = sleeps += _)
    assert(wrapped(spark, None).count() == Tables(spark, sfDir).nation.count())
    assert(attempts == 3)
    assert(sleeps.toSeq == Seq(200L, 400L), "exponential backoff between attempts")

    attempts = 0
    val fatal: Pipeline.Extract = (_, _) => {
      attempts += 1
      throw Pipeline.FatalExtractException("bad request")
    }
    intercept[Pipeline.FatalExtractException] {
      Pipeline.withRetry(fatal, maxAttempts = 3, sleep = _ => ())(spark, None)
    }
    assert(attempts == 1, "client-error analogs must not retry")

    attempts = 0
    val alwaysDown: Pipeline.Extract = (_, _) => {
      attempts += 1
      throw new RuntimeException("still down")
    }
    intercept[RuntimeException] {
      Pipeline.withRetry(alwaysDown, maxAttempts = 3, sleep = _ => ())(spark, None)
    }
    assert(attempts == 3, "transient failures exhaust all attempts")
  }

  test("partitioned merge rewrites only touched partitions; untouched files survive unmodified") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_pm_").toString + "/t"
    val initial = Seq(
      (1L, "a", 10L, "2024-01-01"), (2L, "b", 10L, "2024-01-01"),
      (3L, "c", 10L, "2024-01-02")).toDF("id", "v", "ver", "day")
    Pipeline.mergeIntoPartitioned(spark, target, initial, Seq("id"), Some("ver"), "day")

    def snapshot(day: String): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$target/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val day1Before = snapshot("2024-01-01")
    assert(day1Before.nonEmpty)
    Thread.sleep(20) // make mtime changes observable

    // increment touches only day 2: upsert id=3, insert id=4
    val fresh = Seq((3L, "C", 20L, "2024-01-02"), (4L, "d", 5L, "2024-01-02"))
      .toDF("id", "v", "ver", "day")
    val n = Pipeline.mergeIntoPartitioned(spark, target, fresh, Seq("id"), Some("ver"), "day")
    assert(n == 2, "merged count covers touched partitions only")

    assert(snapshot("2024-01-01") == day1Before,
      "files of untouched partitions must survive a merge byte-for-byte")
    val rows = spark.read.parquet(target).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(rows.sameElements(Array((1L, "a"), (2L, "b"), (3L, "C"), (4L, "d"))))
  }

  test("partition-stability guard rejects upserts that move a key across partitions") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_ps_").toString + "/t"
    val initial = Seq((1L, "a", 10L, "2024-01-01"), (2L, "b", 10L, "2024-01-02"))
      .toDF("id", "v", "ver", "day")
    Pipeline.mergeIntoPartitioned(spark, target, initial, Seq("id"), Some("ver"), "day")

    // id=1 tries to move from day 1 to day 3: the stale day-1 row would
    // survive in its (untouched) old partition — the guard must refuse
    val moving = Seq((1L, "A", 20L, "2024-01-03")).toDF("id", "v", "ver", "day")
    val err = intercept[IllegalArgumentException] {
      Pipeline.mergeIntoPartitioned(spark, target, moving, Seq("id"), Some("ver"), "day",
        checkPartitionStability = true)
    }
    assert(err.getMessage.contains("partition"), s"unexpected message: ${err.getMessage}")

    // a stable upsert passes the guard
    val stable = Seq((1L, "A", 20L, "2024-01-01")).toDF("id", "v", "ver", "day")
    val n = Pipeline.mergeIntoPartitioned(spark, target, stable, Seq("id"), Some("ver"), "day",
      checkPartitionStability = true)
    assert(n == 1)
  }

  test("runner with a partitioned table spec merges increments through the partition path") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val pSpecs = Seq(Pipeline.TableSpec("fact_p", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver"), partitionColumn = Some("day")))
    var batch = Seq((1L, "a", 1L, "d1"), (2L, "b", 1L, "d2"))
    val ex: Map[String, Pipeline.Extract] = Map(
      "fact_p" -> ((s, _) => { import s.implicits._; batch.toDF("id", "v", "ver", "day") }))
    val runner = new PipelineRunner(spark, wh, store, pSpecs, ex)
    runner.run(Pipeline.PostRace)
    batch = Seq((2L, "B", 2L, "d2"))
    runner.run(Pipeline.PostRace)
    val rows = runner.table("fact_p").orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(rows.sameElements(Array((1L, "a"), (2L, "B"))), "upsert within touched partition")
  }

  test("period-scoped backfill re-syncs one round only, watermark untouched") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    val history = Seq(
      (1L, 2024, 1, "a", 1L), (2L, 2024, 1, "b", 1L),
      (3L, 2024, 2, "WRONG", 1L), (4L, 2024, 2, "d", 1L),
      (5L, 2024, 3, "e", 1L))
    val full: Map[String, Pipeline.Extract] = Map(
      "results" -> ((s, _) => { import s.implicits._
        history.toDF("id", "year", "round", "v", "ver") }))
    // the scoped extract records what period it was asked for and serves
    // ONLY that slice — plus one out-of-period row that the runner's
    // defensive filter must drop before it can clobber round-1 history
    var askedFor: Map[String, Any] = Map.empty
    val scoped: Map[String, Pipeline.ScopedExtract] = Map(
      "results" -> ((s, period) => { import s.implicits._
        askedFor = period
        Seq((3L, 2024, 2, "fixed", 1L), (4L, 2024, 2, "d", 1L),
          (1L, 2024, 1, "CLOBBER", 9L)).toDF("id", "year", "round", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, rSpecs, full, scopedExtracts = scoped)
    runner.run(Pipeline.PostRace, newWatermark = Some(777L))
    assert(store.watermark("results").contains(777L))

    val n = runner.backfill("results", Map("year" -> 2024, "round" -> 2))
    assert(askedFor == Map("year" -> 2024, "round" -> 2), "scoped extract receives the period")
    assert(n == history.length, "merged table keeps every row")
    val rows = runner.table("results").orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toMap
    assert(rows(3L) == "fixed", "the targeted round's bad row is repaired")
    assert(rows(1L) == "a", "out-of-period rows from the scoped extract must not touch history")
    assert(rows(5L) == "e", "other rounds untouched")
    assert(store.watermark("results").contains(777L), "a repair is not forward progress")
    assert(store.history("results").last.status == "success")

    // a table without a scoped extract falls back to the filtered full
    // extract: same result, correct if slower
    val runner2 = new PipelineRunner(spark, wh, store, rSpecs, full)
    assert(runner2.backfill("results", Map("round" -> 3)) == history.length)
    assert(runner2.table("results").count() == history.length)
    intercept[IllegalArgumentException] { runner.backfill("nope", Map("round" -> 1)) }
    intercept[IllegalArgumentException] { runner.backfill("results", Map.empty) }
  }

  test("the sync log's records equal the published table's row count after a run and a backfill") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    var batch = Seq((1L, 1, "a", 1L), (2L, 1, "b", 1L), (3L, 2, "c", 1L))
    val full: Map[String, Pipeline.Extract] = Map(
      "results" -> ((s, _) => { import s.implicits._; batch.toDF("id", "round", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, rSpecs, full)
    def logged() = store.history("results").last
    assert(runner.run(Pipeline.PostRace) == Map("results" -> 3L))
    assert(logged().status == "success" && logged().records == runner.table("results").count())
    // an upsert of one key plus one new key: the merged table grows by one
    batch = Seq((2L, 1, "B", 2L), (4L, 2, "d", 1L))
    runner.run(Pipeline.PostRace)
    assert(logged().records == 4L && logged().records == runner.table("results").count())
    batch = Seq((3L, 2, "C", 3L), (5L, 2, "e", 1L), (9L, 1, "outside the period", 1L))
    assert(runner.backfill("results", Map("round" -> 2)) == 5L)
    assert(logged().records == runner.table("results").count() && logged().records == 5L)
  }

  test("backfill keeps a watermark advanced concurrently, not its pre-backfill snapshot") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    val full: Map[String, Pipeline.Extract] = Map(
      "results" -> ((s, _) => { import s.implicits._
        Seq((1L, 2024, 1, "a", 1L)).toDF("id", "year", "round", "v", "ver") }))
    // the scoped extract simulates a concurrent incremental run finishing
    // mid-backfill: it advances the watermark as a side effect
    val scoped: Map[String, Pipeline.ScopedExtract] = Map(
      "results" -> ((s, _) => { import s.implicits._
        store.completeSync("results", store.startSync("results"),
          success = true, 1L, Some(888L))
        Seq((1L, 2024, 1, "a2", 2L)).toDF("id", "year", "round", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, rSpecs, full, scopedExtracts = scoped)
    runner.run(Pipeline.PostRace, newWatermark = Some(777L))
    assert(store.watermark("results").contains(777L))
    runner.backfill("results", Map("round" -> 1))
    assert(store.watermark("results").contains(888L),
      "the concurrent advance must survive the backfill's completion record")
  }

  test("a manifest-less snapshot root with staged data dirs is never dirty-read as parquet") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val uSpecs = Seq(Pipeline.TableSpec("tbl", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    val ex: Map[String, Pipeline.Extract] = Map(
      "tbl" -> ((s, _) => { import s.implicits._; Seq((1L, "fresh", 1L)).toDF("id", "v", "ver") }))

    // simulate a first commit crashed after writeData: root/data/d-*/ has
    // parquet, no manifest exists yet
    Seq((99L, "STAGED", 9L)).toDF("id", "v", "ver")
      .write.parquet(s"$wh/tbl/data/d-inflight")
    val runner = new PipelineRunner(spark, wh, store, uSpecs, ex)
    intercept[IllegalStateException] { runner.table("tbl") }

    // a run sees "no committed state" (not the staged rows) and publishes
    // v0 containing only the fresh extract
    val n = runner.run(Pipeline.PostRace)
    assert(n("tbl") == 1)
    val vs = runner.table("tbl").collect().map(_.getAs[String]("v"))
    assert(vs.sameElements(Array("fresh")),
      s"staged data must not leak into the first committed version, got ${vs.toSeq}")

    // a committed root reads through the manifest: a second
    // staged-but-uncommitted dir stays invisible
    Seq((98L, "STAGED2", 9L)).toDF("id", "v", "ver")
      .write.parquet(s"$wh/tbl/data/d-inflight2")
    val vs2 = runner.table("tbl").collect().map(_.getAs[String]("v"))
    assert(vs2.sameElements(Array("fresh")),
      s"recursive parquet fallback must not read snapshot data dirs, got ${vs2.toSeq}")
  }

  test("a plain-parquet table root is refused before the first snapshot commit, its files untouched") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val uSpecs = Seq(Pipeline.TableSpec("tbl", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    val ex: Map[String, Pipeline.Extract] = Map(
      "tbl" -> ((s, _) => { import s.implicits._; Seq((3L, "c", 1L)).toDF("id", "v", "ver") }))
    // a table written as plain parquet (no manifests, no data/ dir)
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver").write.parquet(s"$wh/tbl")
    def listing(): Map[String, (Long, Long)] = {
      val s = Files.walk(java.nio.file.Paths.get(s"$wh/tbl"))
      try s.iterator().asScala.map(p => p.toString -> ((Files.size(p),
        Files.getLastModifiedTime(p).toMillis))).toMap
      finally s.close()
    }
    val before = listing()
    val runner = new PipelineRunner(spark, wh, store, uSpecs, ex)
    // committing v0 over the root would hide both legacy rows behind a
    // manifest that lists only the fresh one
    val e = intercept[IllegalStateException] { runner.run(Pipeline.PostRace) }
    assert(e.getMessage.contains(s"$wh/tbl"), s"the error names the table: ${e.getMessage}")
    assert(listing() == before, "the refusal writes nothing under the legacy root")
    assert(spark.read.parquet(s"$wh/tbl").count() == 2, "the legacy rows are intact")
    assert(store.currentStatus("tbl").contains("failed"))
  }

  test("a failing sync-log write rides on the load's error as suppressed; the load's error is rethrown") {
    val (wh, md) = freshDirs()
    // id reservations go through putIfAbsent: startSync's passes, the
    // failed-run record's (the second) throws
    def failingSecondPut(): graft.sources.StoreIO = {
      val io = new graft.sources.InMemoryStoreIO()
      io.failAfterCommit(2)
      io
    }
    val boom: Pipeline.Extract = (_, _) => throw new RuntimeException("extract blew up")
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil, Seq("id")))
    def check(e: Exception): Unit = {
      assert(e.getMessage == "extract blew up", s"the load's own error, got: ${e.getMessage}")
      assert(e.getSuppressed.toSeq.map(_.getClass) == Seq(classOf[java.io.IOException]) &&
        e.getSuppressed.head.getMessage.contains("injected crash"),
        s"the log failure rides along: ${e.getSuppressed.toSeq}")
    }
    // runOne (mode runs)
    val runner = new PipelineRunner(spark, wh,
      new MetadataStore(spark, s"$md/a", io = failingSecondPut()), rSpecs, Map("results" -> boom))
    check(intercept[RuntimeException] { runner.run(Pipeline.PostRace) })
    // runSlice (backfills and scheduler steps)
    val sliced = new PipelineRunner(spark, wh,
      new MetadataStore(spark, s"$md/b", io = failingSecondPut()), rSpecs, Map("results" -> boom))
    check(intercept[RuntimeException] { sliced.backfill("results", Map("round" -> 1)) })
  }

  test("snapshot mode: partitioned tables stay readable and mergeable (parquet path)") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val mixedSpecs = Seq(
      Pipeline.TableSpec("fact_p", Pipeline.PostRace, Nil,
        Seq("id"), versionColumn = Some("ver"), partitionColumn = Some("day")),
      Pipeline.TableSpec("dim_u", Pipeline.PostRace, Nil, Seq("id"), versionColumn = Some("ver")))
    var batch = Seq((1L, "a", 1L, "d1"), (2L, "b", 1L, "d2"))
    val ex: Map[String, Pipeline.Extract] = Map(
      "fact_p" -> ((s, _) => { import s.implicits._; batch.toDF("id", "v", "ver", "day") }),
      "dim_u" -> ((s, _) => { import s.implicits._
        batch.map { case (i, v, ver, _) => (i, v, ver) }.toDF("id", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, mixedSpecs, ex)
    runner.run(Pipeline.PostRace)
    // partitioned table: no manifest was (or should be) written; reads go
    // through plain partitioned parquet, not SnapshotTable
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/fact_p/_manifests")),
      "partitioned tables must not grow a manifest chain")
    assert(runner.table("fact_p").count() == 2)
    // second increment merges through the partition path under snapshot mode
    batch = Seq((2L, "B", 2L, "d2"), (3L, "c", 1L, "d3"))
    runner.run(Pipeline.PostRace)
    val rows = runner.table("fact_p").orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(rows.sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"))))
    // the unpartitioned sibling DID publish through manifests in the same run
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/dim_u/_manifests")))
    assert(runner.table("dim_u").count() == 3)
    intercept[IllegalArgumentException] { runner.tableAt("fact_p", 0L) }
  }

  test("merge keeps the freshest version per key") {
    import spark.implicits._
    val old = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "v", "ver")
    val fresh = Seq((2L, "B", 20L), (3L, "c", 5L)).toDF("id", "v", "ver")
    val merged = Pipeline.merge(Some(old), fresh, Seq("id"), Some("ver"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(merged.sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"))))
  }

  test("bad rows are quarantined with reasons, clean rows load (row-level error skip)") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("active", BooleanType)))
    val raw = Seq(
      ("1", "alpha", "1.5", "true"),   // clean
      ("x", "beta", "2.0", "true"),    // id fails long coercion
      ("3", "", "3.0", "false"),       // required name missing
      ("4", "delta", "oops", "maybe"), // bad double AND bad boolean
      ("5", "epsilon", null, "f"))     // null score is fine (absent, not bad)
      .toDF("id", "name", "score", "active")
    val (clean, quarantine) = CsvSource.sanitizeWithQuarantine(raw, schema, required = Seq("name"))
    assert(clean.select("id").as[Long].collect().sorted.sameElements(Array(1L, 5L)))
    assert(clean.schema("id").dataType == LongType, "clean side is sanitized to the schema")
    val reasons = quarantine.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("_reason")).toMap
    assert(reasons("x") == "id:bad_value")
    assert(reasons("3") == "name:missing")
    assert(reasons("4") == "score:bad_value,active:bad_value")
    assert(clean.count() + quarantine.count() == raw.count(), "nothing silently dropped")

    // out-of-32-bit-range values quarantine instead of crashing the
    // clean side's ANSI cast; shorts still clamp (not quarantine) within
    // int range
    val intSchema = StructType(Seq(StructField("id", IntegerType), StructField("sz", ShortType)))
    val wide = Seq(("3000000000", "12"), ("7", "3000000000"), ("8", "99999"))
      .toDF("id", "sz")
    val (okRows, badRows) = CsvSource.sanitizeWithQuarantine(wide, intSchema)
    assert(okRows.collect().map(r => (r.getAs[Int]("id"), r.getAs[Short]("sz"))).toSet ==
      Set((8, 32767.toShort)), "99999 clamps to short max; >int values never reach the cast")
    assert(badRows.collect().map(_.getAs[String]("_reason")).sorted.toSeq ==
      Seq("id:bad_value", "sz:bad_value"))

    // a required column absent entirely is schema drift -> loud failure
    intercept[IllegalArgumentException] {
      CsvSource.sanitizeWithQuarantine(raw.drop("name"), schema, required = Seq("name"))
    }
  }

  test("csv-from-zip roundtrip with schema-driven sanitize (reference pre-season path)") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("size", ShortType),
      StructField("active", BooleanType)))
    val zipPath = Files.createTempFile("graft_dump_", ".zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("things.csv"))
    zos.write("id,name,size,active\n1,  alpha ,99999,true\n2,,-99999,f\n3,gamma,12,1\n".getBytes)
    zos.closeEntry(); zos.close()

    val dfs = CsvSource.fromZip(spark, zipPath.toString, Map("things.csv" -> schema))
    val clean = CsvSource.sanitize(dfs("things.csv"), schema).orderBy("id").collect()
    assert(clean.length == 3)
    assert(clean(0).getAs[String]("name") == "alpha", "trimmed")
    assert(clean(1).isNullAt(1), "empty string -> null")
    assert(clean(0).getAs[Short]("size") == 32767.toShort, "smallint clamp high")
    assert(clean(1).getAs[Short]("size") == -32768.toShort, "smallint clamp low")
    assert(clean(2).getAs[Boolean]("active"), "'1' -> true")
    assert(!clean(1).getAs[Boolean]("active"), "'f' -> false")
  }

  test("mergeSink seam: every publish routes through the sink; orchestration is unchanged") {
    // a fake ON CONFLICT (key) DO UPDATE destination: an in-memory keyed
    // map the sink upserts into — the JDBC-warehouse stand-in the seam
    // exists for (reference loaders/__init__.py:253-276)
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val upserted = scala.collection.mutable.Map.empty[(String, Seq[Any]), Seq[Any]]
    val published = scala.collection.mutable.ListBuffer.empty[String]
    val sink = new Pipeline.MergeSink {
      def publish(spec: Pipeline.TableSpec, fresh: org.apache.spark.sql.DataFrame): Long = {
        published += spec.name
        val cols = fresh.columns.toSeq
        val keyIdx = spec.keyColumns.map(cols.indexOf)
        // last-write-wins within the increment by versionColumn, like the
        // DB would resolve successive ON CONFLICT updates
        val verIdx = spec.versionColumn.map(cols.indexOf)
        val rows = fresh.collect().toSeq.sortBy(r =>
          verIdx.map(i => r.get(i).toString).getOrElse(""))
        rows.foreach { r =>
          upserted(spec.name -> keyIdx.map(r.get)) = r.toSeq
        }
        upserted.count(_._1._1 == spec.name).toLong
      }
    }
    val runner = new PipelineRunner(spark, wh, store, specs, extracts(),
      mergeSink = Some(sink))
    val counts = runner.run(Pipeline.PreSeason)
    assert(published.toSet == Set("dim_customer", "dim_nation"))
    assert(counts("dim_customer") == Tables(spark, sfDir).customer.count())
    // the built-in parquet path must NOT have produced tables
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/dim_customer")),
      "with a sink, nothing may be written to the parquet warehouse")
    // metadata flow unchanged: success rows + watermark logic still run
    assert(store.currentStatus("dim_customer").contains("success"))

    // incremental fact run: only past-watermark rows reach the sink
    runner.run(Pipeline.PostRace, newWatermark = Some(1705276800L))
    val afterFirst = upserted.count(_._1._1 == "fact_events")
    runner.run(Pipeline.PostRace)
    val afterSecond = upserted.count(_._1._1 == "fact_events")
    assert(afterSecond > afterFirst, "the second increment upserts new keys")
    assert(store.watermark("fact_events").contains(1705276800L))

    // idempotence is the sink's contract: replaying an increment must
    // not change the keyed state (the fake's upsert makes it so)
    val snapshot = upserted.toMap
    runner.run(Pipeline.PostRace, force = true)
    assert(upserted.toMap.keySet == snapshot.keySet)
  }

  test("runSummarized returns the reference's execution summary and continues past a failed table") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    // dim_customer's extract blows up; dim_nation sorts AFTER it in load
    // order, so its success proves the run continued (main.py:229-237)
    val failing: Map[String, Pipeline.Extract] = extracts() +
      ("dim_customer" -> ((_, _) => throw new RuntimeException("boom")))
    val runner = new PipelineRunner(spark, wh, store, specs, failing)
    val sum = runner.runSummarized(Pipeline.PreSeason)
    assert(sum.mode == "pre_season")
    assert(sum.processed == 2 && sum.succeeded == 1 && sum.failed == 1 && sum.skipped == 0)
    val byName = sum.details.map(d => d.table -> d).toMap
    assert(byName("dim_customer").status == "failed" &&
      byName("dim_customer").error.exists(_.contains("boom")))
    assert(byName("dim_nation").status == "success" &&
      byName("dim_nation").records == Tables(spark, sfDir).nation.count())
    assert(sum.details.forall(_.durationSec >= 0) && sum.durationSec >= 0)
    // the failed table's sync log still records the failure (two-phase)
    assert(store.currentStatus("dim_customer").contains("failed"))

    // the details expose as ONE frame with the reference's record shape
    val df = sum.toDF(spark)
    assert(df.columns.toSeq == Seq("table", "status", "records", "duration_sec", "error"))
    assert(df.count() == 2)
    assert(sum.render.contains("Failed: 1") &&
      sum.render.contains("Pipeline completed with failures"))

    // freshness-gated tables surface as skipped, not absent
    val (wh2, md2) = freshDirs()
    val runner2 = new PipelineRunner(spark, wh2, new MetadataStore(spark, md2),
      specs.filter(_.strategy == Pipeline.PreSeason), extracts(),
      calendar = Some(_ => Seq(0L)))
    assert(runner2.runSummarized(Pipeline.PreSeason).succeeded == 2)
    val sum2 = runner2.runSummarized(Pipeline.PreSeason)
    assert(sum2.skipped == 2 && sum2.succeeded == 0 && sum2.failed == 0,
      "a same-period re-run must report the gate's skips")
    assert(sum2.render.contains("Pipeline completed successfully"))
  }

  test("nextPeriod mirrors get_next_round_to_load; runNextPeriod loops the calendar to exhaustion") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rounds = Seq(1L, 2L, 3L)
    // fresh entity (no watermark) → the calendar's first period
    assert(store.nextPeriod("fact_rounds", rounds).contains(1L))

    val pspec = Seq(Pipeline.TableSpec("fact_rounds", Pipeline.PostRace, Nil, Seq("event_id")))
    val ex: Map[String, Pipeline.Extract] = Map(
      "fact_rounds" -> ((s, _) => Tables(s, sfDir).events
        .withColumn("round", pmod(col("event_id"), lit(3)) + 1)))
    val runner = new PipelineRunner(spark, wh, store, pspec, ex)

    // scheduler loop: each step loads exactly one period slice and
    // ADVANCES the watermark (backfill's repair path never moves it)
    val s1 = runner.runNextPeriod("fact_rounds", rounds, "round")
    assert(s1.map(_._1).contains(1L))
    assert(store.watermark("fact_rounds").contains(1L))
    val r1Expected = Tables(spark, sfDir).events
      .withColumn("round", pmod(col("event_id"), lit(3)) + 1)
      .filter(col("round") === 1).count()
    assert(s1.map(_._2).contains(r1Expected))

    // mid-calendar watermark → last + 1
    assert(store.nextPeriod("fact_rounds", rounds).contains(2L))
    assert(runner.runNextPeriod("fact_rounds", rounds, "round").map(_._1).contains(2L))
    assert(runner.runNextPeriod("fact_rounds", rounds, "round").map(_._1).contains(3L))

    // exhausted calendar → None from both the resolver and the step
    assert(store.nextPeriod("fact_rounds", rounds).isEmpty)
    assert(runner.runNextPeriod("fact_rounds", rounds, "round").isEmpty)

    // the per-period slices reassembled the full keyed table exactly
    assert(runner.table("fact_rounds").count() == Tables(spark, sfDir).events.count())

    // season rollover (the reference's last_season < current_season → 1):
    // absolute period keys of a NEW calendar all sort past the watermark,
    // so its first period resolves — no special-case branch needed
    assert(store.nextPeriod("fact_rounds", Seq(202401L, 202402L)).contains(202401L))
  }

  /** The data directories of `table`'s head (None: a pinned version). */
  private def dirsOf(wh: String, table: String, version: Option[Long] = None): Seq[String] =
    new SnapshotTable(spark, s"$wh/$table").snapshot(version).get.dirs

  test("a post-race sync of new keys keeps every directory of the previous version") {
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val runner = new PipelineRunner(spark, wh, store, specs, extracts())
    val wm = 1705276800L
    runner.run(Pipeline.PostRace, newWatermark = Some(wm))
    val before = dirsOf(wh, "fact_events")
    val n = runner.run(Pipeline.PostRace)("fact_events")
    val after = dirsOf(wh, "fact_events")
    assert(before.forall(after.contains), "every directory of the previous version stays by reference")
    assert(after.size == before.size + 1, "the increment lands as one new directory")
    val added = new SnapshotTable(spark, s"$wh/fact_events").read()
    assert(n == added.count() && n == Tables(spark, sfDir).events.count())
    assert(store.history("fact_events").last.records == n)
  }

  test("a backfill keeps every directory and writes only the revised keys") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    var batch = Seq((1L, 1, "a", 1L), (2L, 1, "b", 1L))
    val full: Map[String, Pipeline.Extract] = Map(
      "results" -> ((s, _) => { import s.implicits._; batch.toDF("id", "round", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, rSpecs, full)
    runner.run(Pipeline.PostRace)
    val round1 = dirsOf(wh, "results")
    batch = Seq((3L, 2, "c", 1L), (4L, 2, "d", 1L))
    runner.run(Pipeline.PostRace)
    val round2 = dirsOf(wh, "results").filterNot(round1.contains)
    batch = Seq((5L, 3, "e", 1L))
    runner.run(Pipeline.PostRace)
    val round3 = dirsOf(wh, "results").filterNot((round1 ++ round2).contains)
    assert(Seq(round1, round2, round3).map(_.size) == Seq(1, 1, 1))

    // round 2 revises key 3 and re-delivers key 4 unchanged; the extract
    // also carries round-1 rows the period filter must drop
    batch = Seq((3L, 2, "C", 2L), (4L, 2, "d", 1L), (1L, 1, "CLOBBER", 9L))
    assert(runner.backfill("results", Map("round" -> 2)) == 5L)
    val head = dirsOf(wh, "results")
    assert((round1 ++ round2 ++ round3).forall(head.contains), "every directory stays by reference")
    val added = head.filterNot((round1 ++ round2 ++ round3).contains)
    assert(added.size == 2, s"one directory and one delete file, got $added")
    val (deletes, data) = added.partition(_.startsWith("x-"))
    assert(spark.read.parquet(s"$wh/results/data/${data.head}").as[(Long, Int, String, Long)]
      .collect().toSeq == Seq((3L, 2, "C", 2L)),
      "the new directory holds the revised key alone; the re-delivered row replaces nothing")
    assert(deletes.size == 1)
    val rows = runner.table("results").as[(Long, Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 1, "a", 1L), (2L, 1, "b", 1L), (3L, 2, "C", 2L),
      (4L, 2, "d", 1L), (5L, 3, "e", 1L)))
    assert(store.history("results").last.records == 5L)
  }

  test("keyed merges over seeded deliveries equal Pipeline.merge over the full table") {
    import spark.implicits._
    val (wh, md) = freshDirs()
    val store = new MetadataStore(spark, md)
    val rSpecs = Seq(Pipeline.TableSpec("results", Pipeline.PostRace, Nil,
      Seq("id"), versionColumn = Some("ver")))
    val rnd = new scala.util.Random(7)
    var batch = Seq.empty[(Long, Long, String)]
    val full: Map[String, Pipeline.Extract] = Map(
      "results" -> ((s, _) => { import s.implicits._; batch.toDF("id", "ver", "v") }))
    val runner = new PipelineRunner(spark, wh, store, rSpecs, full)
    var expected = Seq.empty[(Long, Long, String)]
    (1 to 8).foreach { d =>
      // distinct ids per delivery: a mix of new keys and revisions of old
      // ones, each revision at a random (possibly older) version
      batch = rnd.shuffle((0L until 40L).toList).take(3 + rnd.nextInt(8))
        .map(id => (id, rnd.nextInt(4).toLong, s"d$d-$id"))
      val prev = if (expected.isEmpty) None else Some(expected.toDF("id", "ver", "v"))
      expected = Pipeline.merge(prev, batch.toDF("id", "ver", "v"), Seq("id"), Some("ver"))
        .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
      val n = runner.run(Pipeline.PostRace)("results")
      val table = runner.table("results").select("id", "ver", "v")
        .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
      assert(table == expected, s"delivery $d: the keyed merge diverged from Pipeline.merge")
      assert(n == expected.size && store.history("results").last.records == n,
        s"delivery $d: the sync log's records must equal the table's row count")
    }

    // vacuum keeps every directory the head references
    val st = new SnapshotTable(spark, s"$wh/results")
    val head = st.snapshot().get.dirs
    st.vacuum(keepVersions = 1, minAgeMs = 0L)
    head.foreach(d => assert(Files.exists(java.nio.file.Paths.get(s"$wh/results/data/$d")),
      s"vacuum removed $d, which the head references"))
    assert(runner.table("results").select("id", "ver", "v")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1) == expected)
  }
}
