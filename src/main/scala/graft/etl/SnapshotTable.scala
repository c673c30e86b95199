package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession, functions => F}

import graft.functions.GraftBloom
import graft.sources.{CommitLog, ParquetSource, PosixStoreIO, StoreIO}

/** Version-conflict signal for optimistic commits: the table advanced
  * between snapshot resolution and manifest publication. Writers re-read
  * the fresh snapshot and retry (the one commit loop every
  * [[SnapshotTable]] writer runs); `restore` surfaces it to the caller.
  */
final case class VersionConflictException(expected: Long)
  extends RuntimeException(s"snapshot version $expected was superseded by a concurrent commit")

/** The rows a [[SnapshotTable]] read or delete selects. Each case
  * carries both its exact row filter (`rows`) and the test that admits a
  * data directory from its sidecars (`admits`), so what a delete filters
  * and what it prunes can never disagree. A directory without the
  * sidecar a case looks at is always admitted: skipping is never unsafe.
  */
sealed trait Where {
  def rows: Column

  /** Whether a directory whose zone map is `zone` and whose Bloom
    * filters are `bloom` (both by column) can hold a selected row.
    */
  private[etl] def admits(zone: String => Option[(Long, Long)],
      bloom: String => Option[Array[Byte]]): Boolean = true
}

object Where {
  /** Any predicate: every directory is read. */
  final case class Rows(predicate: Column) extends Where {
    def rows: Column = predicate
  }

  /** `col` in `[lo, hi]`: directories whose zone map excludes the range
    * are skipped.
    */
  final case class Range(col: String, lo: Long, hi: Long) extends Where {
    def rows: Column = F.col(col) >= lo && F.col(col) <= hi
    override private[etl] def admits(zone: String => Option[(Long, Long)],
        bloom: String => Option[Array[Byte]]): Boolean =
      zone(col).forall { case (mn, mx) => mx >= lo && mn <= hi }
  }

  /** `col = value`: directories whose zone map excludes the value, or
    * whose Bloom filter says it is absent (no false negatives), are
    * skipped — for an id or hash column, whose min/max spans everything,
    * only the Bloom prunes at all.
    */
  final case class Eq(col: String, value: Long) extends Where {
    def rows: Column = F.col(col) === value
    override private[etl] def admits(zone: String => Option[(Long, Long)],
        bloom: String => Option[Array[Byte]]): Boolean =
      zone(col).forall { case (mn, mx) => value >= mn && value <= mx } &&
        bloom(col).forall { bytes =>
          val (nbits, k, words) = GraftBloom.fromBytes(bytes)
          GraftBloom.probe(words, nbits, k, value)
        }
  }
}

/** A minimal snapshot-isolated table format — the one way
  * [[PipelineRunner]] publishes an unpartitioned table, through the
  * keyed merge [[mergeKeyed]] — re-expressing at file level what
  * Delta/Iceberg-class formats do with transaction logs:
  *
  *  - data files are IMMUTABLE parquet directories under `root/data/`;
  *    a write never mutates an existing file
  *  - table state is a [[graft.sources.CommitLog]] of manifests under
  *    `root/_manifests/` (the log a store's generation chain also
  *    rides); each version lists exactly the data directories visible
  *    at that version, plus the delete files that hide single rows of
  *    them (merge-on-read: a keyed merge records the rows it replaces
  *    instead of rewriting their directories; every read filters them
  *    out, and a [[compact]] folds them away)
  *  - a commit is an ATOMIC create-new of manifest N+1, so of two racing
  *    writers exactly ONE wins; the loser re-reads the new snapshot and
  *    reapplies its change (optimistic concurrency, no locks). Every
  *    writer hands the log the same prepare-once/rebase-per-attempt
  *    transition ([[commit]]); `restore` alone commits once and surfaces
  *    [[VersionConflictException]]
  *  - readers resolve a manifest once and then read only immutable
  *    files: every query sees one consistent snapshot regardless of
  *    concurrent commits (snapshot isolation); older versions stay
  *    readable (time travel) until explicitly vacuumed
  *  - an append may record zone-map and Bloom sidecars in its data
  *    directory; a [[Where]] prunes a [[read]] or a [[deleteWhere]] by
  *    them, and every read of a data directory goes through one private
  *    `scan`, which applies the delete files
  *  - the first commit refuses a root that already holds anything but
  *    `data/` and `_manifests/` (a plain-parquet table written another
  *    way): committing over it would hide its rows
  *
  * Portability: every metadata-plane operation (the manifest log,
  * sidecars) goes through the injected [[graft.sources.StoreIO]] seam.
  * The default [[PosixStoreIO]] commits with POSIX `link(2)` (shared
  * filesystems); an object-store deployment
  * implements the six StoreIO operations once — `putIfAbsent` as a
  * conditional PUT (`If-None-Match: *`) — and the whole table format
  * carries over unchanged. The DATA plane (immutable parquet dirs) is
  * Spark's, which already speaks object stores via the Hadoop FS layer
  * — and [[vacuum]]'s data-directory sweep deletes through that same
  * layer, so reclamation works wherever the write path does.
  * Reference analog: the sync metadata + idempotent loads of
  * /root/reference/metadata.py, hardened for concurrent writers.
  *
  * Picking `io` per deployment: [[graft.sources.StoreIO.forScheme]]
  * encodes the table (and refuses schemes it cannot serve). One caveat
  * it cannot arbitrate here: the io receives `root`-prefixed paths
  * VERBATIM, so a `file:`-SCHEME root pairs with [[graft.sources
  * .HadoopFsStoreIO]] (in-process writers only — see its header), while
  * the cross-process [[PosixStoreIO]] wants the root as a PLAIN path
  * (java.nio treats "file:" as a relative path component).
  */
final class SnapshotTable(spark: SparkSession, root: String, io: StoreIO = PosixStoreIO) {

  /** One version: `dirs` are its manifest entries, the data directories
    * ([[Snapshot.data]]) and the delete files ([[Snapshot.deletes]]).
    */
  final case class Snapshot(version: Long, dirs: Seq[String]) {
    def data: Seq[String] = dirs.filterNot(isDeletes)
    def deletes: Seq[String] = dirs.filter(isDeletes)
  }

  /** A delete file's entry name: `x-<id>`, a directory under `data/`
    * holding one `_deletes` file (data directories are `d-<id>`).
    */
  private def isDeletes(entry: String): Boolean = entry.startsWith("x-")

  /** The table's root directory (specs inspect the on-disk layout). */
  def rootPath: String = root

  private val dataDir = s"$root/data"

  private def dataPath(name: String): String = s"$dataDir/$name"

  /** The manifest log: version N lists the data directories visible at N. */
  private val log = new CommitLog[Snapshot](s"$root/_manifests", io,
    _.dirs.mkString("\n").getBytes("UTF-8"),
    (v, bytes) => Snapshot(v, new String(bytes, "UTF-8").split("\n", -1).toSeq.filter(_.nonEmpty)))

  def currentVersion: Option[Long] = log.versions().lastOption

  /** Resolve one immutable snapshot: the latest, or a pinned version,
    * which fails loudly once vacuumed.
    */
  def snapshot(version: Option[Long] = None): Option[Snapshot] = version match {
    case None => log.head()
    case Some(v) => Some(log.at(v).getOrElse(
      throw new IllegalStateException(s"version $v vanished at $root (vacuumed?)")))
  }

  /** The latest version committed at or before `tsMillis` — the
    * manifest hard-link's mtime IS the commit instant (each commit
    * writes a fresh temp file immediately before linking). Time travel
    * by wall clock: "what did this table look like when that run
    * started" is `read(Some(v))` with this `v`. Among versions with
    * mtime ≤ `tsMillis` the HIGHEST wins, so pathological clock skew
    * between racing writers can widen but never un-order a pick;
    * vacuumed versions are simply gone (their read fails loudly).
    */
  def versionAsOf(tsMillis: Long): Option[Long] =
    log.versions().filter { v =>
      // a concurrent vacuum may remove an old manifest between the
      // listing and this stat — a vanished version simply doesn't
      // qualify; it must not crash the lookup of versions that do
      log.committedAt(v).exists(_ <= tsMillis)
    }.lastOption

  /** Read the rows `where` selects at a snapshot (the head, or a pinned
    * version). Every file in the manifest is immutable, so the returned
    * DataFrame is stable under concurrent commits — snapshot isolation
    * without any read lock. Only the directories `where` admits
    * ([[dirsMatching]]) are listed and read: on object storage every
    * skipped directory saves its LIST and footer round-trips.
    *
    * `mergeSchema` is the SCHEMA-EVOLUTION read: the union schema across
    * every read directory, with rows from pre-evolution appends
    * null-filled in the columns they predate. A plain read takes the
    * schema of ONE file, the first in path order, which lives in the
    * directory whose name sorts first; so a column added by a later
    * append can silently VANISH from the result if that file predates
    * it — evolution is an explicit, loud choice: widened schemas merge,
    * and a TYPE conflict on a same-named column fails the read with
    * Spark's merge error instead of returning either type silently.
    * Data directories never change, so a plain read's schema is
    * known from the directory's write, or inferred once per first
    * directory, and then reused with no Spark job
    * ([[graft.sources.ParquetSource.readImmutable]]); a merged read
    * reads one footer per file, every time.
    */
  def read(version: Option[Long] = None, where: Where = Where.Rows(F.lit(true)),
      mergeSchema: Boolean = false): DataFrame = {
    val snap = committed(version)
    if (snap.data.isEmpty) spark.emptyDataFrame
    else {
      val dirs = dirsMatching(where, snap)
      // no directory can match: an empty frame with the table's schema
      if (dirs.isEmpty) scan(snap, snap.data, mergeSchema).limit(0)
      else scan(snap, dirs, mergeSchema).filter(where.rows)
    }
  }

  private def noCommittedVersion(version: Option[Long] = None): Nothing =
    throw new IllegalStateException(
      s"no committed version${version.fold("")(v => s" $v")} at $root")

  /** [[snapshot]] that must exist: fails loudly before the first commit. */
  private def committed(version: Option[Long] = None): Snapshot =
    snapshot(version).getOrElse(noCommittedVersion(version))

  /** The data directory a scanned row came from: its file's parent. */
  private def dirOfRow: Column = F.element_at(F.split(F.input_file_name(), "/"), -2)

  /** A deleted row's identity: its directory and its key as JSON. A
    * keyed merge records the rows it replaces in this form, and every
    * read compares each row's own against them. Each key is JSON'd as
    * its full string form (binary as hex): `to_json` of a timestamp
    * keeps milliseconds only, and two keys must never share an id.
    */
  private def rowId(schema: org.apache.spark.sql.types.StructType, dir: Column,
      keys: Seq[String]): Column = {
    val exact = keys.map { k =>
      (if (schema(k).dataType == org.apache.spark.sql.types.BinaryType) F.hex(F.col(k))
       else F.col(k).cast("string")).as(k)
    }
    F.concat(dir, F.lit("\t"), F.to_json(F.struct(exact: _*)))
  }

  /** Read data directories `dirs` of `snap`, minus the rows its delete
    * files hide: the only code that reads a data directory. The delete
    * files are read on the driver and applied as a filter, so a read
    * launches no job of its own for them; a row's id is built only when
    * its directory is one a delete file names.
    */
  private def scan(snap: Snapshot, dirs: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    val scanned = dirs.toSet
    val data = ParquetSource.readImmutable(spark, dirs.map(dataPath), mergeSchema)
    deletesOf(snap).foldLeft(data) { case (df, (keys, ids)) =>
      val hit = ids.filter(id => scanned(id.takeWhile(_ != '\t'))).toSeq
      if (hit.isEmpty) df
      else {
        // one array literal: unlike an IN list, its generated code does
        // not change with the number of directories named
        val named = F.array_contains(F.typedLit(hit.map(_.takeWhile(_ != '\t')).distinct), dirOfRow)
        df.filter(!(named && rowId(df.schema, dirOfRow, keys).isin(hit: _*)))
      }
    }
  }

  /** The rows `snap`'s delete files hide, grouped by the key columns
    * their ids were taken on.
    */
  private def deletesOf(snap: Snapshot): Map[Seq[String], Set[String]] =
    snap.deletes.map { x =>
      val bytes = io.get(s"${dataPath(x)}/$DeletesFile").getOrElse(
        throw new IllegalStateException(s"delete file $x is gone at $root (vacuumed?)"))
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val lines = try new String(in.readAllBytes(), "UTF-8").split("\n", -1).toSeq finally in.close()
      (lines.head.split("\t").toSeq, lines.tail.filter(_.nonEmpty).toSet)
    }.groupMapReduce(_._1)(_._2)(_ ++ _)

  private val DeletesFile = "_deletes.gz"

  /** Write a delete file hiding the rows `ids` (see [[rowId]]): the key
    * columns, then one id a line, gzipped (ids of one directory share
    * its name as a prefix). Returns its entry name. Like a data
    * directory it is invisible until a manifest names it.
    */
  private def writeDeletes(keys: Seq[String], ids: Seq[String]): String = {
    val name = s"x-${java.util.UUID.randomUUID().toString.take(18)}"
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bytes)
    try out.write((keys.mkString("\t") +: ids.sorted).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    io.put(s"${dataPath(name)}/$DeletesFile", bytes.toByteArray)
    name
  }

  /** Row-level CHANGES between two committed versions (CDC/change-data-
    * feed semantics without a key): multiset row differences tagged
    * `change_type` = `insert` (in `to`, not in `from`) or `delete` (in
    * `from`, not in `to`); an update surfaces as its delete+insert pair.
    *
    * Scale shape: manifests are DIRECTORY sets and data dirs are
    * immutable, so any directory present in BOTH snapshots contributes
    * identical rows to both sides and cancels exactly — the diff only
    * READS directories added or removed between the versions. A small
    * append's diff therefore scans just that append, never table
    * history (the Delta/Iceberg CDF shortcut at file granularity). A
    * compaction rewrite shares no dirs, so both rewritten sides are
    * read — and cancel to an EMPTY diff, spec-pinned. Versions whose
    * delete files differ hide different rows of the directories they
    * share, so their diff reads both versions whole.
    */
  def diff(from: Long, to: Long): DataFrame = {
    val sf = committed(Some(from))
    val st = committed(Some(to))
    val sameDeletes = sf.deletes.toSet == st.deletes.toSet
    val fromSet = if (sameDeletes) sf.data.toSet else Set.empty[String]
    val toSet = if (sameDeletes) st.data.toSet else Set.empty[String]
    def readDirs(snap: Snapshot, dirs: Seq[String]): Option[DataFrame] =
      if (dirs.isEmpty) None else Some(scan(snap, dirs))
    val added = readDirs(st, st.data.filterNot(fromSet))
    val removed = readDirs(sf, sf.data.filterNot(toSet))
    (added, removed) match {
      case (None, None) =>
        // identical manifests (or both empty): an empty, SCHEMA-FUL diff
        // when any side has data, else the canonical empty frame
        readDirs(st, st.data).orElse(readDirs(sf, sf.data)) match {
          case Some(any) => any.limit(0).withColumn("change_type", F.lit(""))
          case None => spark.emptyDataFrame
        }
      case (Some(a), None) => a.withColumn("change_type", F.lit("insert"))
      case (None, Some(r)) => r.withColumn("change_type", F.lit("delete"))
      case (Some(a), Some(r)) =>
        a.exceptAll(r).withColumn("change_type", F.lit("insert"))
          .unionByName(r.exceptAll(a).withColumn("change_type", F.lit("delete")))
    }
  }

  /** Bloom sidecar geometry: 2^17 bits (16 KiB) and 4 probes per column
    * and directory. A probe decodes the geometry from each blob.
    */
  private val BloomBits = 1 << 17
  private val BloomK = 4

  /** Write `df` as a new immutable data directory, with a zone-map
    * sidecar (`_stats.json`: min/max of each long-typed `zoneCols`
    * column) and a Bloom sidecar (`_bloom.json`: one filter per
    * `bloomCols` column) inside it — underscore files, which parquet
    * readers ignore. Returns its name and row count. Not yet visible:
    * only a committed manifest publishes it.
    *
    * The row count and the sidecars' aggregates ride an `Observation`
    * on the write job itself, so the input is evaluated exactly once
    * and nothing is read back. A 0-row write records no sidecar, and a
    * column NULL in every row gets no zone: a column without one is
    * never pruned on. The directory's schema is kept for its reads
    * ([[ParquetSource.written]]), so none of them infers it.
    */
  private def writeData(df: DataFrame, zoneCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): (String, Long) = {
    import graft.functions.GraftFunctions.bloom_build
    val name = s"d-${java.util.UUID.randomUUID().toString.take(18)}"
    val path = dataPath(name)
    val zones = zoneCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(F.min(F.col(c)).cast("long").as(s"lo$i"), F.max(F.col(c)).cast("long").as(s"hi$i"))
    }
    val blooms = bloomCols.zipWithIndex.map { case (c, i) =>
      bloom_build(F.col(c).cast("long"), BloomBits, BloomK).as(s"bloom$i")
    }
    val stats = Observation()
    df.observe(stats, F.count(F.lit(1)).as("rows"), zones ++ blooms: _*).write.parquet(path)
    val m = stats.get
    val rows = m("rows").asInstanceOf[Long]
    def sidecar(file: String, entries: Seq[Option[String]]): Unit =
      if (rows > 0 && entries.exists(_.nonEmpty))
        io.put(s"$path/$file", entries.flatten.mkString("{", ",", "}").getBytes("UTF-8"))
    sidecar("_stats.json", zoneCols.zipWithIndex.map { case (c, i) =>
      (m(s"lo$i"), m(s"hi$i")) match {
        case (lo: Long, hi: Long) => Some(s""""$c":{"min":$lo,"max":$hi}""")
        case _ => None
      }
    })
    sidecar("_bloom.json", bloomCols.zipWithIndex.map { case (c, i) =>
      Option(m(s"bloom$i").asInstanceOf[Array[Byte]])
        .map(b => s""""$c":"${java.util.Base64.getEncoder.encodeToString(b)}"""")
    })
    ParquetSource.written(spark, path, df.schema)
    (name, rows)
  }

  /** Publish `dirs` as version `expected + 1` (expected = -1 for the
    * first commit) through the [[CommitLog]]: a concurrent commit of the
    * same version loses deterministically and no reader ever sees a
    * partial manifest. Only `restore` commits this way; every other
    * writer runs [[commit]]'s loop.
    */
  private def tryCommit(expected: Long, dirs: Seq[String]): Long =
    if (log.tryCommit(expected, Snapshot(expected + 1, dirs))) expected + 1
    else throw VersionConflictException(expected)

  /** A writer's prepared change, rebased onto the then-current head:
    * the directory list to commit, or None when the prepared data is
    * stale and must be prepared again.
    */
  private type Rebase = Option[Snapshot] => Option[Seq[String]]

  /** The transition every writer hands the manifest log's
    * [[CommitLog.commit]]. `prepare` writes the writer's data
    * directories against a head (None before the first commit) and
    * returns its [[Rebase]], or None when there is nothing to commit (a
    * no-op: that head's version is returned). Each attempt rebases the
    * prepared change onto the fresh head and prepares again only when
    * the rebase reports it stale. Prepared data is reused across lost
    * races: it is invisible until a manifest names it, so a lost race
    * leaks nothing into readers.
    *
    * The whole loop runs as one [[graft.Phase]] named `phase` (one per
    * writer: `snapshot.append`, `snapshot.delete`, `snapshot.overwrite`,
    * `snapshot.merge`, `snapshot.compact`, `snapshot.zorder`), so every
    * job a commit launches, retries included, is traced to its writer.
    */
  private def commit(phase: String)(prepare: Option[Snapshot] => Option[Rebase]): Long =
    graft.Phase(phase) {
      var rebase: Option[Rebase] = None
      log.commit(phase) { head =>
        rebase.flatMap(_(head)).orElse {
          if (head.isEmpty) requireOwnLayout()
          rebase = prepare(head)
          rebase.flatMap(_(head))
        }.map(Snapshot(-1L, _))
      }
    }

  /** Before the first commit the root may hold only this format's own
    * entries (`data/`, possibly with staged directories of a crashed
    * first commit, and `_manifests/`). Anything else is a table written
    * another way, e.g. plain parquet: a first commit would hide its rows
    * from every read, so refuse before writing anything.
    */
  private def requireOwnLayout(): Unit = {
    val foreign = graft.sources.HadoopFs.listNames(root).filterNot(Set("data", "_manifests"))
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"table at $root holds entries outside the snapshot layout " +
          s"(${foreign.sorted.take(3).mkString(", ")}): refusing the first commit, " +
          "which would hide them; migrate or move the old table first")
  }

  /** Rebase of a layout rewrite that read `inputs` and wrote `outputs`:
    * directories committed since are kept; stale once any input is no
    * longer current (a concurrent overwrite, compaction or delete
    * replaced it, and publishing the rewrite could resurrect its rows).
    */
  private def replacing(inputs: Seq[String], outputs: Seq[String]): Rebase =
    _.filter(cur => inputs.forall(cur.dirs.contains))
      .map(cur => cur.dirs.filterNot(inputs.contains) ++ outputs)


  /** Rebase of an append of directory `d`. */
  private def appending(d: String): Rebase = cur => Some(cur.fold(Seq.empty[String])(_.dirs) :+ d)

  /** Append `df` as a new data directory (existing data untouched),
    * recording a zone map on each of `zoneCols` and a Bloom filter on
    * each of `bloomCols` (see [[writeData]]). A [[Where]] then prunes
    * whole directories BEFORE any file listing or footer I/O — the
    * data-skipping layer that matters on object storage, where a 100 TB
    * table's read cost starts at the LIST call; parquet footers still
    * prune row groups inside the directories that survive. A zone map
    * cannot prune a point lookup on a column whose values interleave
    * across appends (ids, hashes); a 16 KiB Bloom filter per directory
    * can.
    */
  def append(df: DataFrame, zoneCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    commit("snapshot.append")(_ => Some(appending(writeData(df, zoneCols, bloomCols)._1)))

  private val StatsEntryRe = """"([^"]+)":\{"min":(-?\d+),"max":(-?\d+)\}""".r

  private def statsOf(dir: String): Map[String, (Long, Long)] =
    io.get(s"${dataPath(dir)}/_stats.json") match {
      case None => Map.empty
      case Some(bytes) => StatsEntryRe.findAllMatchIn(new String(bytes, "UTF-8"))
        .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
    }

  private val BloomEntryRe = """"([^"]+)":"([A-Za-z0-9+/=]+)"""".r

  private def bloomsOf(dir: String): Map[String, Array[Byte]] =
    io.get(s"${dataPath(dir)}/_bloom.json") match {
      case None => Map.empty
      case Some(bytes) => BloomEntryRe.findAllMatchIn(new String(bytes, "UTF-8"))
        .map(m => m.group(1) -> java.util.Base64.getDecoder.decode(m.group(2))).toMap
    }

  /** The data directories of `snap` that `where` admits from their
    * sidecars: the directories a read or a delete of `where` must look
    * at. A sidecar is read only when `where` asks for it. Exposed for
    * specs to assert the pruning itself.
    */
  private[graft] def dirsMatching(where: Where, snap: Snapshot = committed()): Seq[String] =
    snap.data.filter(d => where.admits(c => statsOf(d).get(c), c => bloomsOf(d).get(c)))

  /** Row-level DELETE, copy-on-write — the takedown/right-to-be-
    * forgotten primitive (opt-out lists, legal removals): rewrite ONLY
    * the data directories that actually hold rows `where` selects,
    * publish the untouched directories plus the rewrites as a new
    * version. Earlier versions keep the deleted rows readable (time
    * travel) until [[vacuum]] ages them out — PERMANENT erasure is
    * deleteWhere + a vacuum with `keepVersions` small enough to drop
    * every pre-delete manifest; document retention accordingly.
    * `diff(before, after)` shows exactly the deleted multiset
    * (change_type = delete). A row where the predicate evaluates NULL
    * did not match and is kept.
    *
    * Candidates are the directories `where` admits from their sidecars
    * (a [[Where.Range]] or [[Where.Eq]] skips the rest with no data
    * I/O — on a 100 TB table the probe scan itself is the cost), then
    * ONE distributed probe job keeps those that hold a matching row, so
    * a needle delete rewrites one directory, not the table.
    *
    * Each rewrite records the sidecars its source directory carried, so
    * data-skipping keeps working after the delete. A rewrite that keeps
    * no row drops its directory; when every data directory empties, one
    * such rewrite stays as the table's empty, schema-carrying directory.
    * Concurrency follows [[compact]]'s rules: concurrent appends fold in
    * untouched; if a touched directory vanished (concurrent
    * overwrite/compaction) the rewrite is stale — discarded and redone
    * from the fresh snapshot.
    */
  def deleteWhere(where: Where): Long = {
    // NOT(NULL) is NULL, which a bare filter(not(p)) would drop: in a
    // takedown primitive that is data loss
    val keep = F.coalesce(!where.rows, F.lit(true))
    commit("snapshot.delete") { head =>
      val snap = head.getOrElse(noCommittedVersion())
      // input_file_name() maps hits back to their directories (names are
      // UUIDs, so the /<name>/ segment match is unambiguous)
      val candidates = dirsMatching(where, snap)
      val hitFiles =
        if (candidates.isEmpty) Array.empty[String]
        else scan(snap, candidates).filter(where.rows)
          .select(F.input_file_name()).distinct().collect().map(_.getString(0))
      val touched = candidates.filter(d => hitFiles.exists(_.contains(s"/$d/")))
      if (touched.isEmpty) None
      else {
        // each touched directory rewrites as its own CONCURRENT Spark job:
        // a wide takedown range can touch hundreds, and a sequential
        // driver loop would serialize cluster-sized work
        import scala.collection.parallel.CollectionConverters._
        val phase = graft.Phase.path
        val rewrites = touched.par.map { d =>
          d -> graft.Phase.resume(phase)(writeData(scan(snap, Seq(d)).filter(keep),
            statsOf(d).keys.toSeq.sorted, bloomsOf(d).keys.toSeq.sorted))
        }.seq.toMap
        val kept = rewrites.collect { case (d, (name, rows)) if rows > 0 => d -> name }
        // stale once a touched directory is no longer current (a
        // concurrent overwrite/compaction replaced it): publishing the
        // rewrite could resurrect rows the other writer removed
        Some(_.filter(cur => touched.forall(cur.dirs.contains)).map { cur =>
          val dirs = cur.dirs.flatMap(d => if (touched.contains(d)) kept.get(d) else Some(d))
          // delete files alone hold no rows (and no schema)
          if (dirs.exists(!isDeletes(_))) dirs else Seq(rewrites(touched.head)._1)
        })
      }
    }
  }

  /** RESTORE the table to historical `version`'s content, committed as
    * a NEW version — the recovery flip side of [[deleteWhere]] /
    * [[overwriteWith]]: a mistaken delete or overwrite is undone by ONE
    * manifest commit naming the old version's (immutable, still-present)
    * data directories, no data rewrite at any scale. History stays
    * intact — the mistaken version remains readable, and
    * [[diff]](mistake, restored) shows exactly what the restore brought
    * back — until [[vacuum]] ages it out.
    *
    * Concurrency: restore is deliberately SINGLE-ATTEMPT — on a version
    * conflict it throws [[VersionConflictException]] instead of blindly
    * retrying, because a retry would silently drop the racing writer's
    * rows from the restored head; the caller re-examines the fresh state
    * and decides. Refuses loudly when the target version's manifest or
    * any of its data directories are gone (vacuumed): restore targets
    * must be within the vacuum retention, and the pre-commit existence
    * check turns the restore-vs-vacuum race from silent data loss on a
    * later read into an immediate error (the residual window between
    * check and commit is the same leak-beats-loss envelope vacuum's age
    * gate already bounds).
    */
  def restore(version: Long): Long = restoreWithHook(version, () => ())

  private[graft] def restoreWithHook(version: Long, beforeCommit: () => Unit): Long = {
    // snapshot(Some(v)) throws on a vanished manifest; both that and the
    // never-committed case surface as the same refusal
    val target =
      (try snapshot(Some(version))
       catch { case _: IllegalStateException => None })
        .getOrElse(throw new IllegalArgumentException(
          s"restore: version $version is not available at $root (vacuumed or never committed)"))
    val dd = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dd.getFileSystem(graft.sources.HadoopFs.conf())
    target.dirs.foreach { d =>
      val present =
        if (isDeletes(d)) io.get(s"${dataPath(d)}/$DeletesFile").isDefined
        else fs.exists(new org.apache.hadoop.fs.Path(dataPath(d)))
      if (!present)
        throw new IllegalArgumentException(
          s"restore: version $version's data directory $d is gone (vacuumed) — cannot restore")
    }
    val current = snapshot().map(_.version).getOrElse(-1L)
    beforeCommit()
    tryCommit(current, target.dirs)
  }

  /** Read-modify-write overwrite: `derive` maps the CURRENT table state
    * (None before the first commit) to the new contents. On a version
    * conflict the derivation re-runs against the winner's fresh snapshot
    * — so concurrent read-modify-writes COMPOSE instead of losing the
    * earlier writer's change. Returns (committed version, the derived
    * frame as committed) — the frame is checkpointed, safe to count.
    * A blind replace is `overwriteWith(_ => df)`.
    */
  def overwriteWith(derive: Option[DataFrame] => DataFrame): (Long, DataFrame) = {
    var derived: DataFrame = null
    val version = commit("snapshot.overwrite") { head =>
      derived = derive(head.map(s => read(Some(s.version))))
        .localCheckpoint(true) // pin the derivation to THIS snapshot's files
      val (d, _) = writeData(derived)
      Some(cur => if (cur.map(_.version) == head.map(_.version)) Some(Seq(d)) else None)
    }
    (version, derived)
  }

  /** Keyed merge: [[Pipeline.merge]]'s last-write-wins upsert of `fresh`
    * on `keys`, committed as a version that writes only what changed:
    * the winners of `fresh` land as ONE new directory, the rows they
    * replace are hidden by ONE delete file (merge-on-read), and every
    * existing directory stays in the manifest by reference. A sync
    * writes the increment alone, whether it adds new keys or revises
    * old ones, so what a merge stores follows what it was given, not
    * the size of the directories its keys happen to live in. A fresh
    * row equal in every column to the row it would replace is a
    * re-delivery and replaces nothing.
    *
    * One job reads the table once: the merged frame is checkpointed,
    * and an `Observation` on that same job yields the table's row count
    * and the ids of the replaced rows. A merge that neither adds a
    * winner nor replaces a row commits nothing and returns the head's
    * version. A merge whose result schema differs from the table's
    * rewrites every directory, since a plain [[read]] takes its schema
    * from one file. Each merge adds at most one directory and one
    * delete file; [[compact]] folds both away.
    *
    * Concurrency is [[overwriteWith]]'s: any commit since the merge
    * read its snapshot makes the attempt stale, and it merges again
    * against the winner's. Two merges can never both keep a key.
    * Returns (committed version, the merged table's row count).
    */
  def mergeKeyed(fresh: DataFrame, keys: Seq[String], version: Option[String]): (Long, Long) =
    mergeKeyedWithHook(fresh, keys, version, () => ())

  /** [[mergeKeyed]] with a test seam fired between the data write and
    * the commit: specs inject a racing commit deterministically.
    */
  private[graft] def mergeKeyedWithHook(fresh: DataFrame, keys: Seq[String],
      version: Option[String], beforeCommit: () => Unit): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit, when}
    val Dir = "__graft_dir"
    val dir = col(Dir)
    val rank = col(Pipeline.Rank)
    var rows = 0L
    val committedVersion = commit("snapshot.merge") { head =>
      val live = head.filter(_.data.nonEmpty)
      // each existing row carries its directory: the parent of its file
      val existing = live.map(s => read(Some(s.version)).withColumn(Dir, dirOfRow))
      // map columns cannot be compared: a table holding one replaces
      // re-delivered rows too
      val same = Option.when(!fresh.schema.catalogString.contains("map<"))(fresh.columns.toSeq)
      val stats = Observation()
      val ranked = Pipeline.ranked(existing,
        fresh.withColumn(Dir, lit(null).cast("string")), keys, version, same.getOrElse(Nil))
      val merged = ranked
        .observe(stats, count(when(rank === 1, 1)).as("rows"),
          count(when(rank === 1 && dir.isNull, 1)).as("fresh"),
          // a fresh loser has no directory, so its id is null
          collect_set(when(rank > 1, rowId(ranked.schema, dir, keys))).as("replaced"))
        .filter(rank === 1).drop(Pipeline.Rank)
        .localCheckpoint(true)
      val m = stats.get
      rows = m("rows").asInstanceOf[Long]
      val replaced = m("replaced").asInstanceOf[Iterable[String]].toSeq
      val all = live.fold(Seq.empty[String])(_.dirs)
      def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString)
      if (!existing.forall(e => shape(e) == shape(merged))) {
        // a changed schema rewrites the whole table as one directory
        val (d, _) = writeData(merged.drop(Dir))
        beforeCommit()
        Some(cur => if (cur.map(_.version) == head.map(_.version)) Some(Seq(d)) else None)
      } else if (head.isDefined && replaced.isEmpty && m("fresh") == 0L) None
      else {
        // rows replaced by another existing row (duplicates a blind append
        // planted) need a delete file but no directory
        val d = Option.when(head.isEmpty || m("fresh") != 0L)(
          writeData(merged.filter(dir.isNull).drop(Dir))._1)
        val x = Option.when(replaced.nonEmpty)(writeDeletes(keys, replaced))
        beforeCommit()
        val dirs = all ++ d ++ x
        Some(cur => if (cur.map(_.version) == head.map(_.version)) Some(dirs) else None)
      }
    }
    (committedVersion, rows)
  }

  /** Compact the table's physical layout: rewrite the current
    * snapshot's data directories into `numPartitions` coalesced files
    * and commit a manifest referencing only the rewrite — the lakehouse
    * OPTIMIZE maintenance step. The rewrite reads through the delete
    * files, so it drops them too. A long-lived table accretes one
    * directory per append; at 100 TB that's the small-files problem
    * (listing cost, tiny scans, scheduler overhead), and compaction
    * restores a dense layout WITHOUT changing content: `coalesce`, not
    * `repartition`, so the rewrite itself never shuffles.
    *
    * Concurrency: compaction is a read-modify-write over the LAYOUT.
    * Appends that land while the rewrite runs must survive, so the
    * commit folds the fresh snapshot's extra directories in unchanged
    * and replaces only the directories the compaction actually read; if
    * any of THOSE vanished (a concurrent overwrite/compaction), this
    * rewrite is stale — it is discarded and the whole pass restarts
    * from the new snapshot. Old versions stay readable (time travel)
    * until [[vacuum]] ages them out.
    */
  def compact(numPartitions: Int = 1): Long = compactWithHook(numPartitions, () => ())

  /** [[compact]] with a test seam fired between the rewrite and the
    * commit — specs inject a racing append/overwrite deterministically.
    */
  private[graft] def compactWithHook(numPartitions: Int, beforeCommit: () => Unit): Long =
    commit("snapshot.compact") { head =>
      val snap = head.getOrElse(noCommittedVersion())
      if (snap.dirs.size <= 1) None
      else {
        val (c, _) = writeData(read(Some(snap.version)).coalesce(numPartitions))
        beforeCommit()
        Some(replacing(snap.dirs, Seq(c)))
      }
    }

  /** Z-ORDER clustering rewrite: reorganize the whole table into
    * `buckets` data directories ordered by the bit-interleaved
    * (Morton) value of the given long columns, each directory carrying
    * zone-map sidecars on ALL of them. After a linear sort only the
    * leading column's zones are narrow; after a Z-order rewrite a
    * range scan on ANY of the clustered columns prunes directories
    * (a [[read]] of a [[Where.Range]]), because the space-filling curve keeps every
    * dimension locally bounded within each z-range — the
    * OPTIMIZE ZORDER BY of the lakehouse formats, at directory
    * granularity.
    *
    * Mechanics: each column is normalized to a 16-bit grid over its
    * observed [min, max], grids interleave into one z value, directory
    * cuts come from z quantiles (so dirs are balanced even under value
    * skew), and the same stale-rewrite/race rules as [[compact]] apply
    * (a concurrent overwrite discards this rewrite; concurrent appends
    * fold in untouched). Content is unchanged — `diff` across the
    * rewrite is empty, spec-pinned.
    */
  def compactZordered(cols: Seq[String], buckets: Int = 8): Long = {
    require(cols.nonEmpty && cols.size <= 4, s"1-4 cluster columns, got ${cols.size}")
    import org.apache.spark.sql.functions._
    commit("snapshot.zorder") { head =>
      val snap = head.getOrElse(noCommittedVersion())
      val base = read(Some(snap.version))
      if (base.isEmpty) None
      else {
        // per-column observed range → 16-bit grid → interleaved z
        val mmAggs = cols.flatMap(c => Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
        val mm = base.agg(mmAggs.head, mmAggs.tail: _*).head()
        val grids = cols.zipWithIndex.map { case (c, j) =>
          val (lo, hi) = (mm.getLong(2 * j), mm.getLong(2 * j + 1))
          val span = math.max(1L, hi - lo)
          (((col(c).cast("long") - lit(lo)) * lit(65535L)) / lit(span)).as(s"__g$j")
        }
        val nc = cols.size
        val withG = base.select(col("*") +: grids: _*)
        val z = (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
          cols.indices.foldLeft(acc) { (a, j) =>
            a.bitwiseOR(shiftleft(shiftright(col(s"__g$j"), i).bitwiseAND(lit(1L)),
              i * nc + j))
          }
        }
        val zdf = withG.withColumn("__z", z).localCheckpoint(true)
        val cuts = zdf.stat
          .approxQuantile("__z", (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
          .map(_.toLong).distinct.sorted
        val ranges = (Long.MinValue +: cuts.map(_ + 1)).zip(cuts :+ Long.MaxValue)
        val newDirs = ranges.map { case (lo, hi) =>
          val slice = zdf.filter(col("__z") >= lo && col("__z") <= hi)
            .sortWithinPartitions(col("__z"))
            .drop(("__z" +: cols.indices.map(j => s"__g$j")): _*)
          writeData(slice, cols)._1
        }
        // same stale/race rules as compact: a folded-in dir vanishing means
        // a concurrent overwrite removed rows this rewrite would resurrect
        Some(replacing(snap.dirs, newDirs))
      }
    }
  }

  /** Drop data directories no committed manifest references and
    * manifests older than `keepVersions` — the maintenance step that
    * bounds storage. Never touches dirs reachable from a kept manifest,
    * so concurrent readers of kept versions are safe. `minAgeMs` guards
    * IN-FLIGHT commits: a dir a writer has created but not yet named in
    * a manifest is unreferenced too — deleting it would corrupt the
    * commit the moment it lands. Only dirs older than the age floor
    * (default 1 h, far beyond any write-to-commit window) are eligible;
    * pass 0 only when no writer can be active.
    */
  def vacuum(keepVersions: Int = 2, minAgeMs: Long = 3600_000L): Unit = {
    // keeping no version would delete every manifest (and, past the age
    // floor, every data directory): the table itself would be gone
    require(keepVersions >= 1, s"vacuum must keep at least the head version, got $keepVersions")
    val now = System.currentTimeMillis()
    // manifests carry no age gate: only the newest `keepVersions` survive
    val live = log.trim(keepVersions, Long.MaxValue).flatMap(v => committed(Some(v)).dirs).toSet
    log.sweepTmp(now, minAgeMs)
    // data-plane sweep: parquet dirs are Spark's (Hadoop FS) world, not
    // StoreIO's — the LIST, mtime gate and recursive DELETE all resolve
    // through the path's own filesystem connector (same layer the write
    // path used), so an `s3a://` table's unreferenced directories are
    // actually reclaimed instead of surviving a local-only walk forever
    val cutoff = now - minAgeMs
    val dd = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dd.getFileSystem(graft.sources.HadoopFs.conf())
    if (fs.exists(dd)) {
      fs.listStatus(dd).toSeq
        .filter(st => !live.contains(st.getPath.getName))
        // the age gate runs on the NEWEST FILE under the candidate, not
        // the directory status: S3A reports modification time 0 for
        // directories, which would void the floor (0 <= cutoff always)
        // on exactly the object-store deployments the Hadoop-FS sweep
        // targets — a writer's just-written data dir, not yet named in
        // any manifest, could be swept mid-commit. Files carry real
        // mtimes on S3A; an unknown age (no files, stat failure, zero
        // mtimes) means KEEP, the same keep-on-unknown rule every other
        // deletion gate follows (leak-beats-loss; a kept orphan is
        // re-examined next pass)
        .filter(st => newestMtimeUnder(fs, st) match {
          case Some(newest) => newest <= cutoff
          case None => false
        })
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The newest known modification instant under a data-dir candidate:
    * the max of the directory's own status mtime and every file's mtime
    * beneath it (recursive). None — unknown — when no positive mtime
    * exists or the walk fails; callers must KEEP on None.
    */
  private def newestMtimeUnder(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Option[Long] =
    try {
      var newest = st.getModificationTime
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      if (newest > 0L) Some(newest) else None
    } catch { case scala.util.control.NonFatal(_) => None }
}
