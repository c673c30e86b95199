package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** ETL orchestration — the Spark-first re-expression of the reference's
  * pipeline surface (/root/reference/main.py, metadata.py,
  * loaders/base_loader.py): dependency-ordered table loads in two modes
  * (pre-season bulk / post-race incremental), watermark-based skip
  * logic, idempotent merge into the warehouse, and a sync audit log.
  *
  * Differences from the reference are deliberate Spark-isms: the
  * warehouse is parquet directories (not Postgres rows) — an
  * unpartitioned table is a [[SnapshotTable]] (one atomic manifest
  * commit per load), a partitioned one merges per touched partition —
  * the merge is a window dedup (not per-row ON CONFLICT), and the
  * sync log is a small driver-read commit log ([[MetadataStore]]) —
  * table data scales by partitioning, and no table row is iterated on
  * the driver.
  */
object Pipeline {

  sealed trait Strategy
  case object PreSeason extends Strategy
  case object PostRace extends Strategy

  /** Table configuration (reference: config.py TableConfig).
    * `partitionColumn` opts the table into partitioned storage +
    * partition-scoped merges; a row's partition value must be stable
    * under upsert (derive it from the business key or an immutable
    * event time, or the "old" row survives in its old partition).
    */
  final case class TableSpec(
      name: String,
      strategy: Strategy,
      dependencies: Seq[String],
      keyColumns: Seq[String],
      versionColumn: Option[String] = None,
      partitionColumn: Option[String] = None)

  /** A loader produces the fresh extract for its entity; the runner owns
    * transform-order, merge and metadata (reference: BaseLoader.run).
    */
  type Extract = (SparkSession, Option[Long]) => DataFrame

  /** A period-scoped loader for targeted backfills (reference:
    * api_client.py takes `(year, round)` everywhere): given period
    * bindings like `Map("year" -> 2024, "round" -> 5)`, fetch ONLY that
    * slice of the entity — the point of the repair workflow is not
    * re-extracting the whole history to fix one round.
    */
  type ScopedExtract = (SparkSession, Map[String, Any]) => DataFrame

  /** Resolve a dependency-respecting load order (reference: main.py's
    * manual ordering; here an explicit deterministic topo sort).
    */
  def loadOrder(specs: Seq[TableSpec]): Seq[String] = {
    val byName = specs.map(s => s.name -> s).toMap
    val visiting = scala.collection.mutable.LinkedHashSet.empty[String]
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String): Unit = {
      if (done.contains(n)) return
      require(!visiting.contains(n), s"dependency cycle at $n")
      visiting += n
      byName.get(n).toSeq.flatMap(_.dependencies).sorted.foreach(visit)
      visiting -= n
      done += n
    }
    specs.map(_.name).sorted.foreach(visit)
    done.toSeq.filter(byName.contains)
  }

  /** Incremental merge into a PARTITIONED parquet target, rewriting only
    * the partitions `fresh` touches (dynamic partition overwrite). The
    * whole-table merge of an unpartitioned table reads and rewrites every
    * byte of the target per run — fatal once the table is 1000× the
    * increment.
    * Here: existing rows are read ONLY from touched partitions (partition
    * pruning at the scan), merged last-write-wins with the increment, and
    * written back in overwrite-dynamic mode, which replaces exactly the
    * partition directories present in the output. Untouched partitions'
    * files are never read or rewritten. Returns the merged row count of
    * the touched partitions.
    *
    * Atomicity tradeoff vs the unpartitioned [[SnapshotTable]] path:
    * dynamic overwrite replaces each touched partition directory at
    * commit, so a crash mid-commit can leave a touched partition between
    * generations (untouched partitions are never at risk), and racing
    * writers are not serialized. Closing that window needs partition-
    * aware manifests. The merge itself is idempotent, so rerunning the
    * increment repairs an interrupted commit.
    */
  def mergeIntoPartitioned(spark: SparkSession, targetPath: String, fresh: DataFrame,
      keys: Seq[String], version: Option[String], partitionCol: String,
      checkPartitionStability: Boolean = false): Long = {
    // touched partition values: driver-sized by construction (an
    // increment spans few coarse partitions — days, not keys)
    val touched = fresh.select(col(partitionCol)).distinct().collect().map(_.get(0))
    val exists = Files.exists(Paths.get(targetPath))
    // debug guard for the TableSpec partition-stability contract: an
    // upsert that MOVES a key to a new partition value would leave the
    // stale row alive in its old (untouched) partition — a duplicate-key
    // table. Opt-in because it scans the target's key+partition columns.
    if (checkPartitionStability && exists) {
      val moved = ParquetSource.read(spark, targetPath)
        .select(col(partitionCol).as("__old_part") +: keys.map(col): _*)
        .join(fresh.select(col(partitionCol).as("__new_part") +: keys.map(col): _*), keys)
        .filter(col("__old_part") =!= col("__new_part"))
        .limit(1).count()
      require(moved == 0L,
        s"mergeIntoPartitioned: fresh rows change $partitionCol for existing keys; " +
          "the stale rows would survive in their old partitions (partition values " +
          "must be stable under upsert — derive them from the business key or an " +
          "immutable event time)")
    }
    val existing =
      if (exists)
        Some(ParquetSource.read(spark, targetPath)
          .filter(col(partitionCol).isin(touched.toSeq: _*)))
      else None
    // the eager checkpoint severs lineage from the files being replaced;
    // its one job sees every row, so it also counts them
    val rows = Observation()
    val merged = merge(existing, fresh, keys, version)
      .observe(rows, count(lit(1)).as("rows"))
      .localCheckpoint(eager = true)
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(targetPath)
    rows.get("rows").asInstanceOf[Long]
  }

  /** Thrown by extracts for non-retryable failures — the analog of the
    * reference's 4xx client errors, which its retry loop surfaces
    * immediately (/root/reference/api_client.py:71-73).
    */
  final case class FatalExtractException(message: String, cause: Throwable = null)
      extends RuntimeException(message, cause)

  /** Retry combinator for extracts (reference: api_client.py:33-84's
    * request loop): transient failures retry with exponential backoff,
    * [[FatalExtractException]] (client-error analog) does not retry.
    * `sleep` is injectable so specs run without wall-clock delays.
    */
  def withRetry(extract: Extract, maxAttempts: Int = 3,
      backoffMs: Int => Long = a => 100L << a,
      sleep: Long => Unit = Thread.sleep): Extract = (spark, since) => {
    var attempt = 0
    var out: Option[DataFrame] = None
    var lastErr: Throwable = null
    while (out.isEmpty && attempt < maxAttempts) {
      try out = Some(extract(spark, since))
      catch {
        case e: FatalExtractException => throw e
        case e: Throwable =>
          lastErr = e
          attempt += 1
          if (attempt < maxAttempts) sleep(backoffMs(attempt))
      }
    }
    out.getOrElse(throw lastErr)
  }

  /** The merge-publish seam (reference: `loaders/__init__.py:253-276`'s
    * `ON CONFLICT (key) DO UPDATE` — the loader's write side is a
    * pluggable destination, not always a parquet directory). The runner's
    * built-in paths (partitioned dynamic-overwrite, snapshot-manifest
    * commit) stay the default; a warehouse-bound
    * user plugs a sink that pushes the upsert down to their store (a JDBC
    * sink issues the actual ON CONFLICT statement — which is why the
    * interface hands over the FRESH increment and the spec, not a
    * pre-merged table: conflict resolution belongs to the destination).
    * Implementations own idempotence (re-publishing the same increment
    * must not duplicate) and the atomicity of their publish. Returns the
    * merged row count recorded in the sync log.
    */
  trait MergeSink {
    def publish(spec: TableSpec, fresh: DataFrame): Long
  }

  /** One table's outcome in an execution summary (reference:
    * main.py:191-237 `_process_table`'s per-table result record).
    */
  final case class TableRun(table: String, status: String, records: Long,
      durationSec: Long, error: Option[String] = None)

  /** The reference's execution summary (main.py:239-280 `_print_summary`)
    * as a RETURNED structure instead of console side effects: mode, run
    * duration, the succeeded/failed/skipped counts and the per-table
    * records/duration/error details. [[toDF]] exposes the details as one
    * frame; [[render]] reproduces the report text for CLI use.
    */
  final case class RunSummary(mode: String, durationSec: Long, details: Seq[TableRun]) {
    def processed: Int = details.size
    def succeeded: Int = details.count(_.status == "success")
    def failed: Int = details.count(_.status == "failed")
    def skipped: Int = details.count(_.status == "skipped")

    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      details.map(d => (d.table, d.status, d.records, d.durationSec, d.error))
        .toDF("table", "status", "records", "duration_sec", "error")
    }

    def render: String = {
      val header = Seq(
        s"Mode: $mode",
        s"Duration: ${durationSec}s",
        s"Tables Processed: $processed",
        s"  Succeeded: $succeeded",
        s"  Failed: $failed",
        s"  Skipped: $skipped")
      val lines = details.flatMap { d =>
        Seq(f"  [${d.status}%-7s] ${d.table}%-25s | ${d.records}%6d records | ${d.durationSec}%3ds") ++
          d.error.map(e => s"     Error: $e")
      }
      val verdict = if (failed == 0) "Pipeline completed successfully"
        else "Pipeline completed with failures"
      (header ++ lines :+ verdict).mkString("\n")
    }
  }

  /** Idempotent merge: last-write-wins per business key — the distributed
    * form of `INSERT ... ON CONFLICT (key) DO UPDATE`
    * (/root/reference/loaders/__init__.py:253-276). One shuffle on the
    * key; existing rows only for the touched keys move. At warehouse
    * scale the target would be partitioned and only affected partitions
    * rewritten (dynamic partition overwrite).
    */
  def merge(existing: Option[DataFrame], fresh: DataFrame, keys: Seq[String],
      version: Option[String]): DataFrame =
    ranked(existing, fresh, keys, version).filter(col(Rank) === 1).drop(Rank)

  /** The rank column of [[ranked]]: 1 marks a key's winner. */
  private[etl] val Rank = "__rn"

  /** [[merge]] before its filter: every existing and fresh row, numbered
    * within its key in [[Rank]]. A fresh row equal on the columns `same`
    * to its key's existing row is a re-delivery: it ranks behind that
    * row, so it replaces nothing (the merged content is the same either
    * way; a keyed merge then writes only the rows that changed).
    */
  private[etl] def ranked(existing: Option[DataFrame], fresh: DataFrame, keys: Seq[String],
      version: Option[String], same: Seq[String] = Nil): DataFrame = {
    val gen = col("__gen")
    val byKey = Window.partitionBy(keys.map(col): _*)
    val unioned = existing match {
      case Some(e) =>
        // old rows rank behind fresh rows at equal version
        val u = e.withColumn("__gen", lit(0))
          .unionByName(fresh.withColumn("__gen", lit(1)), allowMissingColumns = true)
        if (same.isEmpty) u
        else {
          // each column against the key's first row in __gen order, an
          // existing row whenever the key has one: per-column window
          // values, so no copy of the row is built below the exchange
          val byGen = byKey.orderBy(gen)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          val unchanged = same.map(c => col(c) <=> first(col(c)).over(byGen)).reduce(_ && _)
          u.withColumn("__gen", when(gen === 1 && first(gen).over(byGen) === 0 && unchanged,
            lit(-1)).otherwise(gen))
        }
      case None => fresh.withColumn("__gen", lit(1))
    }
    val ordering = (version.map(col(_).desc_nulls_last).toSeq :+ gen.desc)
    unioned.withColumn(Rank, row_number().over(byKey.orderBy(ordering: _*))).drop("__gen")
  }
}

/** Freshness gating — the reference's "smart loading" decisions
  * (metadata.py:196-316 should_load + the race-since-last-sync buffer
  * check), generalized: PreSeason entities load once per period (year),
  * PostRace entities load only when an event old enough to be final
  * (bufferSec, the reference's penalty window) postdates the last sync.
  * Pure functions — the runner supplies the calendar and the clock.
  */
object Freshness {
  private def yearOf(epochSec: Long): Int =
    java.time.Instant.ofEpochSecond(epochSec).atZone(java.time.ZoneOffset.UTC).getYear

  /** Should `strategy` load now? `eventTimes` is the event calendar
    * (epoch seconds); `graceSec` re-examines events slightly older than
    * the last sync, mirroring the reference's 1-day lookback.
    */
  def shouldLoad(strategy: Pipeline.Strategy, lastSuccessAt: Option[Long], nowSec: Long,
      eventTimes: => Seq[Long], bufferSec: Long = 2 * 86400L, graceSec: Long = 86400L): Boolean =
    lastSuccessAt match {
      case None => true // never loaded
      case Some(last) => strategy match {
        case Pipeline.PreSeason => yearOf(last) < yearOf(nowSec)
        case Pipeline.PostRace =>
          val settled = eventTimes.filter(_ <= nowSec - bufferSec)
          settled.nonEmpty && settled.max > last - graceSec
      }
    }
}

/** Sync metadata (reference: metadata.py sync_status + sync_log) as one
  * [[graft.sources.CommitLog]]: version N holds the whole log as of its
  * N-th append. Two-phase: [[startSync]] appends a `running` row before
  * work begins, [[completeSync]] appends the terminal row referencing
  * it — so a hung or crashed run is VISIBLE as a trailing `running`
  * entry instead of silently absent (reference: start_sync/complete_sync,
  * metadata.py:11-113).
  *
  * Every read is of the head on the driver and launches no Spark job: a
  * deployment's log holds one row of under a hundred bytes per
  * table-load, and the head is one listing plus one object read, the
  * same precedent as a [[SnapshotTable]] manifest. An append is one commit
  * whose transition assigns `id = max id + 1`, so racing appenders mint
  * unique, dense ids through the log's put-if-absent; after it the log
  * trims itself like a store's generation chain (16 versions, a
  * one-minute floor). A parquet `sync_log` pile written by earlier
  * versions is imported once, as the first version, and is never read
  * or written again; the trim that retires that version deletes the
  * pile and its `sync_log_ids` reservations. `clock` is injectable for
  * deterministic specs.
  */
final class MetadataStore(spark: SparkSession, root: String,
    clock: () => Long = () => System.currentTimeMillis() / 1000,
    io: graft.sources.StoreIO = graft.sources.PosixStoreIO) {
  import MetadataStore._

  /** The earlier versions' parquet pile and its id reservations. */
  private val legacyDirs = Seq("sync_log", "sync_log_ids").map(d => Paths.get(root, d))

  private lazy val log = {
    val l = new graft.sources.CommitLog[Vector[LogRow]](s"$root/sync_log_v", io, encode, decode)
    // the transition runs only on an empty log, so of two processes
    // opening it at once exactly one imports
    if (Files.exists(legacyDirs.head))
      l.commit("sync-log import")(cur =>
        if (cur.isEmpty) Some(readLegacy(legacyDirs.head.toString)) else None)
    l
  }

  /** The parquet pile's rows, read the way its writer did: absent
    * columns of older files read as null / epoch 0, and the bit-identical
    * duplicates of an interrupted fold collapse.
    */
  private def readLegacy(path: String): Vector[LogRow] = {
    import spark.implicits._
    val raw = ParquetSource.read(spark, path, mergeSchema = true)
    def orNull(c: String, t: String) = if (raw.columns.contains(c)) col(c) else lit(null).cast(t)
    raw.select(col("id"), col("entity"), col("status"), col("records"), col("watermark"),
        orNull("refId", "long").as("refId"), orNull("error", "string").as("error"),
        coalesce(orNull("syncedAt", "long"), lit(0L)).as("syncedAt"))
      .dropDuplicates().as[LogRow].collect().sortBy(_.id).toVector
  }

  def nowSec: Long = clock()

  def appendLog(entity: String, status: String, records: Long, watermark: Option[Long],
      refId: Option[Long] = None, error: Option[String] = None): Long = {
    var id = 0L
    log.commit("sync-log append") { cur =>
      val all = cur.getOrElse(Vector.empty)
      id = all.map(_.id).maxOption.getOrElse(0L) + 1L
      Some(all :+ LogRow(id, entity, status, records, watermark, refId, error, clock()))
    }
    // readers load only the head (and list again if a trim removes it
    // mid-read), so the generation chain's retention is ample here too
    val now = System.currentTimeMillis()
    log.trim(16, now - 60_000L)
    log.sweepTmp(now)
    // the pile's import is version 0: once a trim has retired it, the log
    // is long non-empty, so no opener imports again and the pile goes
    if (legacyDirs.exists(Files.exists(_)) && log.committedAt(0L).isEmpty)
      legacyDirs.foreach(d => graft.sources.HadoopFs.deleteRecursive(d.toString))
    id
  }

  /** Phase 1: record the run as in-flight; returns the log id to close. */
  def startSync(entity: String): Long =
    appendLog(entity, "running", 0L, None)

  /** Phase 2: close the in-flight row with the terminal outcome. */
  def completeSync(entity: String, logId: Long, success: Boolean, records: Long,
      watermark: Option[Long], error: Option[String] = None): Unit = {
    appendLog(entity, if (success) "success" else "failed", records, watermark, Some(logId), error)
    ()
  }

  /** Latest successful watermark per entity (reference: get_watermark). */
  def watermark(entity: String): Option[Long] =
    history(entity).filter(_.status == "success").lastOption.flatMap(_.watermark)

  /** Wall-clock of the last successful sync (freshness-gate input). */
  def lastSuccessAt(entity: String): Option[Long] =
    history(entity).filter(_.status == "success").lastOption.map(_.syncedAt)

  /** The entity's current state = its latest log row. A hung run shows
    * as `running` here until its terminal row lands.
    */
  def currentStatus(entity: String): Option[String] =
    history(entity).lastOption.map(_.status)

  /** The entity's rows in id order (appends land in id order). */
  def history(entity: String): Seq[LogRow] =
    log.head().getOrElse(Vector.empty).filter(_.entity == entity)

  /** The reference's `get_next_round_to_load` (metadata.py:150-190),
    * generalized to graft's Long period keys: the first calendar period
    * no successful sync has covered yet. A never-loaded entity starts at
    * the calendar's first period (the reference's "start from round 1" —
    * which also covers its season-rollover branch, since a new season's
    * absolute period keys all sort after the old watermark); a
    * mid-calendar watermark resolves to the smallest period AFTER it;
    * a watermark at or past the calendar's end returns None — the
    * scheduler loop's "all loaded, stop" signal.
    */
  def nextPeriod(entity: String, calendar: Seq[Long]): Option[Long] = {
    val sorted = calendar.distinct.sorted
    watermark(entity) match {
      case None => sorted.headOption
      case Some(w) => sorted.find(_ > w)
    }
  }
}

object MetadataStore {
  final case class LogRow(id: Long, entity: String, status: String, records: Long,
      watermark: Option[Long], refId: Option[Long] = None, error: Option[String] = None,
      syncedAt: Long = 0L)

  /** One line per row, in id order: eight space-separated fields, the
    * strings URL-encoded and an absent value as `~` (which URL encoding
    * always escapes, so no present value reads as absent).
    */
  private def encode(rows: Vector[LogRow]): Array[Byte] = {
    def str(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    rows.map { r =>
      Seq(r.id, str(r.entity), str(r.status), r.records, r.watermark.getOrElse("~"),
        r.refId.getOrElse("~"), r.error.fold("~")(str), r.syncedAt).mkString(" ")
    }.mkString("\n").getBytes("UTF-8")
  }

  private def decode(version: Long, bytes: Array[Byte]): Vector[LogRow] = {
    def str(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    def opt(s: String) = Option.when(s != "~")(s)
    new String(bytes, "UTF-8").split("\n").iterator.filter(_.nonEmpty).map { line =>
      line.split(" ", -1) match {
        case Array(id, entity, status, records, wm, ref, err, at) =>
          LogRow(id.toLong, str(entity), str(status), records.toLong, opt(wm).map(_.toLong),
            opt(ref).map(_.toLong), opt(err).map(str), at.toLong)
        case _ => throw new IllegalStateException(s"corrupt sync-log line in version $version: '$line'")
      }
    }.toVector
  }
}

/** The orchestrator (reference: main.py run loop). Warehouse tables are
  * dirs under `warehouseRoot`; each run is extract → merge → publish →
  * metadata, in dependency order. An unpartitioned table is a
  * [[SnapshotTable]]: every load is one keyed-merge manifest commit
  * ([[SnapshotTable.mergeKeyed]]), which writes the increment's winners
  * and a delete file hiding the rows they replace, so a sync writes the
  * increment, not a copy of the table or of the directories it revises.
  * Racing runners compose instead of clobbering, every load is a
  * version ([[tableAt]]), and readers see one snapshot. A partitioned
  * table merges in place per touched partition
  * ([[Pipeline.mergeIntoPartitioned]]); a `mergeSink` replaces both.
  */
final class PipelineRunner(
    spark: SparkSession,
    warehouseRoot: String,
    metadata: MetadataStore,
    specs: Seq[Pipeline.TableSpec],
    extracts: Map[String, Pipeline.Extract],
    // event calendar for freshness gating (reference: the round table);
    // None = no gating, every run loads (the pre-gating behavior)
    calendar: Option[SparkSession => Seq[Long]] = None,
    // accepts only true (the one unpartitioned path); the next benchmark change drops it
    useSnapshotTables: Boolean = true,
    // period-scoped loaders for [[backfill]]; tables without one fall
    // back to the full extract filtered to the period (correct, but
    // re-fetches history — provide a scoped extract where the source
    // supports period queries, as the reference API does)
    scopedExtracts: Map[String, Pipeline.ScopedExtract] = Map.empty,
    // destination override (reference: the Postgres ON CONFLICT loaders)
    // — when set, EVERY publish (mode runs, targeted runs, backfills)
    // routes through it instead of the built-in parquet/snapshot paths;
    // extract ordering, freshness gating, watermarks and the sync log
    // are unchanged, so a migrating user keeps the orchestration and
    // swaps only the warehouse
    mergeSink: Option[Pipeline.MergeSink] = None) {

  require(useSnapshotTables, "unpartitioned tables always publish through SnapshotTable")

  private def targetPath(name: String) = s"$warehouseRoot/$name"

  private def snapshotTable(name: String) = new SnapshotTable(spark, targetPath(name))

  private def partitioned(name: String): Boolean =
    specs.find(_.name == name).exists(_.partitionColumn.isDefined)

  /** The table's current state: partitioned tables are plain
    * partitioned parquet; every other table reads its latest snapshot
    * (and fails loudly before its first commit).
    */
  def table(name: String): DataFrame =
    if (partitioned(name)) ParquetSource.read(spark, targetPath(name))
    else snapshotTable(name).read()

  /** Time travel: the table as of `version`. Partitioned tables merge in
    * place (no manifest chain), so they have no version history to
    * travel to — rejected up front.
    */
  def tableAt(name: String, version: Long): DataFrame = {
    require(!partitioned(name),
      s"$name is partitioned: partitioned tables merge in place and keep no version history")
    snapshotTable(name).read(Some(version))
  }

  /** Run one mode (reference: --mode pre_season|post_race). `force`
    * bypasses both the watermark skip and the freshness gate (reference:
    * --force). Tables the freshness gate skips get a `skipped` audit row
    * and are absent from the returned counts. Returns per-table merged
    * record counts.
    */
  def run(strategy: Pipeline.Strategy, force: Boolean = false,
      newWatermark: Option[Long] = None): Map[String, Long] =
    orderedSpecs(strategy).flatMap(runOne(_, force, newWatermark)).toMap

  /** The mode's table specs in dependency load order — the single
    * definition [[run]] and [[runSummarized]] share.
    */
  private def orderedSpecs(strategy: Pipeline.Strategy): Seq[Pipeline.TableSpec] = {
    val selected = specs.filter(_.strategy == strategy).map(_.name).toSet
    Pipeline.loadOrder(specs).filter(selected.contains)
      .map(name => specs.find(_.name == name).get)
  }

  /** [[run]] plus the reference's execution summary (main.py:239-280):
    * per-table status/records/duration/error as a returned
    * [[Pipeline.RunSummary]]. Errors are caught PER TABLE and recorded
    * (`status = failed`) while the run CONTINUES to the next table —
    * `_process_table`'s contract (main.py:229-237) — where [[run]]
    * itself stays fail-fast. Durations come from the metadata clock, so
    * specs with an injected clock get deterministic summaries.
    */
  def runSummarized(strategy: Pipeline.Strategy, force: Boolean = false,
      newWatermark: Option[Long] = None): Pipeline.RunSummary = {
    val t0 = metadata.nowSec
    val mode = strategy match {
      case Pipeline.PreSeason => "pre_season"
      case Pipeline.PostRace => "post_race"
    }
    val details = orderedSpecs(strategy).map { spec =>
      val s0 = metadata.nowSec
      try {
        runOne(spec, force, newWatermark) match {
          case Some((_, n)) => Pipeline.TableRun(spec.name, "success", n, metadata.nowSec - s0)
          case None => Pipeline.TableRun(spec.name, "skipped", 0L, metadata.nowSec - s0)
        }
      } catch {
        case e: Exception =>
          Pipeline.TableRun(spec.name, "failed", 0L, metadata.nowSec - s0,
            Option(e.getMessage).orElse(Some(e.getClass.getName)))
      }
    }
    Pipeline.RunSummary(mode, metadata.nowSec - t0, details)
  }

  /** Targeted single-table run (reference: main.py run_table / --table):
    * same extract→merge→publish→metadata path, one entity, no mode
    * filter. Returns the merged count, or None if the freshness gate
    * skipped it.
    */
  def runTable(name: String, force: Boolean = false,
      newWatermark: Option[Long] = None): Option[Long] = {
    val spec = specs.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
    runOne(spec, force, newWatermark).map(_._2)
  }

  /** Year/round-scoped targeted backfill (reference: main.py's
    * `run_table(table_name, year, round_num)` repair workflow): re-sync
    * ONE period slice of one table, leaving every other row AND the
    * watermark untouched. `period` binds period columns to values, e.g.
    * `Map("year" -> 2024, "round" -> 5)`.
    *
    * The scoped extract (or, failing that, the full extract filtered to
    * the period) produces the slice; rows OUTSIDE the period are dropped
    * defensively before the merge, so a buggy scoped extract can never
    * clobber history it was not asked to repair. The merge itself is the
    * normal last-write-wins upsert on the business key — same semantics
    * as the reference's ON CONFLICT DO UPDATE re-load of a round. The
    * sync log records the run; the watermark is left unchanged (a repair
    * is not forward progress). "Unchanged" is read at COMPLETION time,
    * not captured up front: a concurrent incremental run may legitimately
    * advance the watermark while the backfill merges, and re-asserting a
    * pre-backfill snapshot would silently roll that advance back (benign
    * only because merges are idempotent — but it forces the next
    * incremental to re-extract the increment).
    */
  def backfill(name: String, period: Map[String, Any]): Long =
    runSlice(name, period, advanceTo = None)

  /** One scheduler step over a period calendar (the reference's
    * `get_next_round_to_load` docstring loop, metadata.py:159-163:
    * resolve the next round, fetch exactly that round, repeat): the
    * first `periods` entry past the watermark is extracted as a
    * `periodColumn`-bound slice (scoped extract when one exists, the
    * backfill path), merged, and — unlike [[backfill]], which repairs
    * history without touching sync state — the watermark ADVANCES to
    * the loaded period, so the next call resolves the period after it.
    * Returns (period, mergedCount); None = calendar exhausted, the
    * loop's stop signal:
    * {{{
    * var step = runner.runNextPeriod("fact_results", rounds, "round")
    * while (step.isDefined) step = runner.runNextPeriod("fact_results", rounds, "round")
    * }}}
    */
  def runNextPeriod(name: String, periods: Seq[Long],
      periodColumn: String): Option[(Long, Long)] =
    metadata.nextPeriod(name, periods).map { p =>
      p -> runSlice(name, Map(periodColumn -> p), advanceTo = Some(p))
    }

  /** Shared body of [[backfill]] and [[runNextPeriod]]: extract one
    * period slice, merge-publish it, close the sync-log entry.
    * `advanceTo` distinguishes the two callers' watermark semantics —
    * a repair leaves the watermark untouched, a scheduler step moves it.
    */
  private def runSlice(name: String, period: Map[String, Any],
      advanceTo: Option[Long]): Long = {
    val spec = specs.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
    require(period.nonEmpty, "a period slice needs at least one binding")
    val logId = metadata.startSync(name)
    try {
      val slice = period.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      val extracted = scopedExtracts.get(name) match {
        case Some(scoped) => scoped(spark, period)
        case None => extracts(name)(spark, None)
      }
      val fresh = extracted.filter(slice)
      val n = mergeAndPublish(spec, fresh)
      metadata.completeSync(name, logId, success = true, n,
        advanceTo.orElse(metadata.watermark(name)))
      n
    } catch {
      case e: Exception =>
        closeFailed(e, name, logId, metadata.watermark(name))
        throw e
    }
  }

  /** Record a failed load's terminal sync-log row. A log write that
    * fails too rides on the load's error as suppressed: the load's own
    * error is the one the caller sees.
    */
  private def closeFailed(e: Exception, name: String, logId: Long,
      watermark: => Option[Long]): Unit =
    try metadata.completeSync(name, logId, success = false, 0L, watermark, Option(e.getMessage))
    catch { case logErr: Exception => e.addSuppressed(logErr) }

  /** The shared merge→publish tail of [[runOne]] and [[backfill]]:
    * partitioned tables merge in place per touched partition; every
    * other table commits a keyed-merge snapshot version. Returns
    * the merged row count (touched partitions for partitioned tables,
    * full table otherwise).
    */
  private def mergeAndPublish(spec: Pipeline.TableSpec, fresh: DataFrame): Long =
    mergeSink match {
      case Some(sink) => sink.publish(spec, fresh)
      case None => builtinPublish(spec, fresh)
    }

  private def builtinPublish(spec: Pipeline.TableSpec, fresh: DataFrame): Long =
    spec.partitionColumn match {
      case Some(pc) =>
        Pipeline.mergeIntoPartitioned(spark, targetPath(spec.name), fresh,
          spec.keyColumns, spec.versionColumn, pc)
      case None =>
        // a keyed merge: on a version conflict with a racing runner it
        // re-merges against the winner's snapshot, so neither runner's
        // increment is lost
        snapshotTable(spec.name).mergeKeyed(fresh, spec.keyColumns, spec.versionColumn)._2
    }

  private def runOne(spec: Pipeline.TableSpec, force: Boolean,
      newWatermark: Option[Long]): Option[(String, Long)] = {
    val name = spec.name
    val since = if (force) None else metadata.watermark(name)
    val fresh0 = calendar match {
      case Some(cal) if !force =>
        Freshness.shouldLoad(spec.strategy, metadata.lastSuccessAt(name), metadata.nowSec, cal(spark))
      case _ => true
    }
    if (!fresh0) {
      metadata.appendLog(name, "skipped", 0L, since)
      None
    } else {
      val logId = metadata.startSync(name)
      try {
        val fresh = extracts(name)(spark, since)
        val n = mergeAndPublish(spec, fresh)
        metadata.completeSync(name, logId, success = true, n, newWatermark.orElse(since))
        Some(name -> n)
      } catch {
        case e: Exception =>
          closeFailed(e, name, logId, since)
          throw e
      }
    }
  }
}
