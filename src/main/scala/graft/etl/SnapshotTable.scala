package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{CommitLog, PosixStoreIO, StoreIO}

/** Version-conflict signal for optimistic commits: the table advanced
  * between snapshot resolution and manifest publication. Writers re-read
  * the fresh snapshot and retry (the one commit loop every
  * [[SnapshotTable]] writer runs); `restore` surfaces it to the caller.
  */
final case class VersionConflictException(expected: Long)
  extends RuntimeException(s"snapshot version $expected was superseded by a concurrent commit")

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
    * manifest hard-link's mtime IS the commit instant (each tryCommit
    * writes a fresh temp file immediately before linking). Time travel
    * by wall clock: "what did this table look like when that run
    * started". Among versions with mtime ≤ `tsMillis` the HIGHEST wins,
    * so pathological clock skew between racing writers can widen but
    * never un-order a pick; vacuumed versions are simply gone (their
    * read fails loudly, same as `read(Some(v))`).
    */
  def versionAsOf(tsMillis: Long): Option[Long] =
    log.versions().filter { v =>
      // a concurrent vacuum may remove an old manifest between the
      // listing and this stat — a vanished version simply doesn't
      // qualify; it must not crash the lookup of versions that do
      log.committedAt(v).exists(_ <= tsMillis)
    }.lastOption

  /** Read the table as of a wall-clock instant (see [[versionAsOf]]). */
  def readAsOf(tsMillis: Long): DataFrame =
    read(Some(versionAsOf(tsMillis).getOrElse(throw new IllegalStateException(
      s"no version committed at or before $tsMillis at $root"))))

  /** Read the table at a snapshot. Every file in the manifest is
    * immutable, so the returned DataFrame is stable under concurrent
    * commits — snapshot isolation without any read lock.
    */
  def read(version: Option[Long] = None): DataFrame =
    readWith(version, mergeSchema = false)

  private def noCommittedVersion(version: Option[Long] = None): Nothing =
    throw new IllegalStateException(
      s"no committed version${version.fold("")(v => s" $v")} at $root")

  /** [[snapshot]] that must exist: fails loudly before the first commit. */
  private def committed(version: Option[Long] = None): Snapshot =
    snapshot(version).getOrElse(noCommittedVersion(version))

  private def readWith(version: Option[Long], mergeSchema: Boolean): DataFrame = {
    val snap = committed(version)
    if (snap.data.isEmpty) spark.emptyDataFrame
    else scan(snap, snap.data, mergeSchema)
  }

  /** The data directory a scanned row came from: its file's parent. */
  private def dirOfRow: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{element_at, input_file_name, split}
    element_at(split(input_file_name(), "/"), -2)
  }

  /** A deleted row's identity: its directory and its key as JSON. A
    * keyed merge records the rows it replaces in this form, and every
    * read compares each row's own against them. Each key is JSON'd as
    * its full string form (binary as hex): `to_json` of a timestamp
    * keeps milliseconds only, and two keys must never share an id.
    */
  private def rowId(schema: org.apache.spark.sql.types.StructType, dir: org.apache.spark.sql.Column,
      keys: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, concat, hex, lit, struct, to_json}
    val exact = keys.map { k =>
      (if (schema(k).dataType == org.apache.spark.sql.types.BinaryType) hex(col(k))
       else col(k).cast("string")).as(k)
    }
    concat(dir, lit("\t"), to_json(struct(exact: _*)))
  }

  /** Read data directories `dirs` of `snap`, minus the rows its delete
    * files hide. The delete files are read on the driver and applied as
    * a filter, so a read launches no job of its own for them.
    */
  private def scan(snap: Snapshot, dirs: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.not
    val r = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    val scanned = dirs.toSet
    deletesOf(snap).foldLeft(r.parquet(dirs.map(d => dataPath(d)): _*)) { case (df, (keys, ids)) =>
      val hit = ids.filter(id => scanned(id.takeWhile(_ != '\t')))
      if (hit.isEmpty) df else df.filter(not(rowId(df.schema, dirOfRow, keys).isin(hit.toSeq: _*)))
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

  /** SCHEMA-EVOLUTION read: the union schema across every committed
    * directory, with rows from pre-evolution appends null-filled in the
    * columns they predate. Plain [[read]] samples ONE file for the
    * schema, so after `append(df.withColumn("new_col", …))` a column
    * added by a later append can silently VANISH from the result if the
    * sampled file predates it — this read exists so evolution is an
    * explicit, loud choice: widened schemas merge, and a TYPE conflict
    * on a same-named column fails the read with Spark's merge error
    * instead of returning either type silently (spec-asserted).
    * Cost: one footer read per file instead of per sample — pay it on
    * evolved tables, keep [[read]] for fixed-schema ones.
    */
  def readMerged(version: Option[Long] = None): DataFrame =
    readWith(version, mergeSchema = true)

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
    import org.apache.spark.sql.functions.lit
    (added, removed) match {
      case (None, None) =>
        // identical manifests (or both empty): an empty, SCHEMA-FUL diff
        // when any side has data, else the canonical empty frame
        readDirs(st, st.data).orElse(readDirs(sf, sf.data)) match {
          case Some(any) => any.limit(0).withColumn("change_type", lit(""))
          case None => spark.emptyDataFrame
        }
      case (Some(a), None) => a.withColumn("change_type", lit("insert"))
      case (None, Some(r)) => r.withColumn("change_type", lit("delete"))
      case (Some(a), Some(r)) =>
        a.exceptAll(r).withColumn("change_type", lit("insert"))
          .unionByName(r.exceptAll(a).withColumn("change_type", lit("delete")))
    }
  }

  /** Write `df` as a new immutable data directory; returns its name.
    * Not yet visible — only a committed manifest publishes it.
    */
  private def writeData(df: DataFrame): String = {
    val name = s"d-${java.util.UUID.randomUUID().toString.take(18)}"
    df.write.parquet(dataPath(name))
    name
  }

  /** Publish `dirs` as version `expected + 1` (expected = -1 for the
    * first commit) through the [[CommitLog]]: a concurrent commit of the
    * same version loses deterministically and no reader ever sees a
    * partial manifest.
    */
  def tryCommit(expected: Long, dirs: Seq[String]): Long =
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
    */
  private def commit(what: String)(prepare: Option[Snapshot] => Option[Rebase]): Long = {
    var rebase: Option[Rebase] = None
    log.commit(what) { head =>
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

  /** Append `df` as a new data directory (existing data untouched). */
  def append(df: DataFrame): Long = commit("append")(_ => Some(appending(writeData(df))))

  /** Append with a directory-level ZONE MAP: after writing, record
    * min/max of the (long-typed) `statsCols` in a `_stats.json` sidecar
    * inside the data directory (underscore prefix — parquet readers
    * ignore it). [[readWhere]] then prunes whole directories whose
    * range cannot match BEFORE any file listing or footer I/O — the
    * data-skipping layer that matters on object storage, where a
    * 100 TB table's read cost starts at the LIST call; parquet footers
    * still prune row groups inside the directories that survive. The
    * stats pass reads the just-written files back (footer-cheap
    * min/max), so the input frame is evaluated exactly once.
    */
  def appendIndexed(df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 17, bloomK: Int = 4): Long = {
    commit("append") { _ =>
      val name = writeData(df)
      writeSidecars(name, statsCols, bloomCols, bloomBits, bloomK)
      Some(appending(name))
    }
  }

  /** Record zone-map and Bloom sidecars for an already-written data
    * directory (shared by [[appendIndexed]] and [[compactZordered]]).
    * The stats pass reads the just-written files back (footer-cheap
    * min/max), so the input frame is evaluated exactly once.
    *
    * Bloom sidecar per column: the equality-predicate complement of
    * the zone map — min/max cannot prune a point lookup on a column
    * whose values interleave across appends (ids, hashes); a 16 KiB
    * filter per directory can. No false negatives, so skipping on a
    * negative probe is always safe.
    */
  private def writeSidecars(name: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 17, bloomK: Int = 4): Unit = {
    val dirPath = dataPath(name)
    val back = spark.read.parquet(dirPath)
    if (!back.isEmpty) {
      if (statsCols.nonEmpty) {
        val aggs = statsCols.flatMap(c =>
          Seq(org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col(c)).cast("long"),
            org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col(c)).cast("long")))
        val row = back.agg(aggs.head, aggs.tail: _*).head()
        // a column that is NULL in every surviving row (reachable since
        // the delete keep-side retains NULL-evaluating rows) has no
        // zone — OMIT its entry: a stat-less column is never pruned on,
        // so skipping stays safe, where an unboxed getLong would NPE
        val entries = statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) None
          else Some(s""""$c":{"min":${row.getLong(2 * i)},"max":${row.getLong(2 * i + 1)}}""")
        }
        if (entries.nonEmpty)
          io.put(s"$dirPath/_stats.json", entries.mkString("{", ",", "}").getBytes("UTF-8"))
      }
      if (bloomCols.nonEmpty) {
        import graft.functions.GraftFunctions.bloom_build
        val aggs = bloomCols.map(c =>
          bloom_build(org.apache.spark.sql.functions.col(c).cast("long"), bloomBits, bloomK))
        val row = back.agg(aggs.head, aggs.tail: _*).head()
        val entries = bloomCols.zipWithIndex.flatMap { case (c, i) =>
          if (row.isNullAt(i)) None // all-NULL column: no filter, never pruned
          else Some {
            val b64 = java.util.Base64.getEncoder.encodeToString(row.getAs[Array[Byte]](i))
            s""""$c":"$b64""""
          }
        }
        if (entries.nonEmpty)
          io.put(s"$dirPath/_bloom.json", entries.mkString("{", ",", "}").getBytes("UTF-8"))
      }
    }
  }

  private val StatsEntryRe = """"([^"]+)":\{"min":(-?\d+),"max":(-?\d+)\}""".r

  private def statsOf(dir: String): Map[String, (Long, Long)] =
    io.get(s"${dataPath(dir)}/_stats.json") match {
      case None => Map.empty
      case Some(bytes) => StatsEntryRe.findAllMatchIn(new String(bytes, "UTF-8"))
        .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
    }

  /** The directories a `[lo, hi]` range scan on `colName` must read at
    * a snapshot: a directory is skipped ONLY when its recorded zone
    * says no row can match; directories without stats (plain appends,
    * compaction rewrites) are always read — skipping is never unsafe.
    * Exposed for specs to assert the pruning itself, not just results.
    */
  private[graft] def dirsMatching(colName: String, lo: Long, hi: Long,
      version: Option[Long] = None): Seq[String] = {
    committed(version).data.filter { d =>
      statsOf(d).get(colName) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }
  }

  /** Range-scan `colName` in `[lo, hi]` with zone-map directory
    * pruning, then the exact filter on the survivors.
    */
  def readWhere(colName: String, lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dirs = dirsMatching(colName, lo, hi, version)
    val base =
      if (dirs.isEmpty) read(version).limit(0)
      else scan(committed(version), dirs)
    base.filter(col(colName) >= lo && col(colName) <= hi)
  }

  private val BloomEntryRe = """"([^"]+)":"([A-Za-z0-9+/=]+)"""".r

  private def bloomsOf(dir: String): Map[String, Array[Byte]] =
    io.get(s"${dataPath(dir)}/_bloom.json") match {
      case None => Map.empty
      case Some(bytes) => BloomEntryRe.findAllMatchIn(new String(bytes, "UTF-8"))
        .map(m => m.group(1) -> java.util.Base64.getDecoder.decode(m.group(2))).toMap
    }

  /** The directories a point lookup `colName = value` must read at a
    * snapshot: a directory is skipped when its zone map excludes the
    * value OR its Bloom sidecar says the value is definitely absent
    * (no false negatives ⇒ skipping is never unsafe). Directories with
    * neither sidecar (plain appends, compaction rewrites) are always
    * read. Exposed for specs to assert the pruning itself.
    */
  private[graft] def dirsMatchingEq(colName: String, value: Long,
      version: Option[Long] = None): Seq[String] = {
    committed(version).data.filter { d =>
      val zoneOk = statsOf(d).get(colName) match {
        case Some((mn, mx)) => value >= mn && value <= mx
        case None => true
      }
      zoneOk && (bloomsOf(d).get(colName) match {
        case Some(bytes) =>
          val (nbits, k, words) = graft.functions.GraftBloom.fromBytes(bytes)
          graft.functions.GraftBloom.probe(words, nbits, k, value)
        case None => true
      })
    }
  }

  /** Point lookup `colName = value` with zone-map AND Bloom-sidecar
    * directory pruning, then the exact filter on the survivors — the
    * needle-in-100-TB read: on object storage every skipped directory
    * saves its LIST and footer round-trips, and for an id/hash column
    * (where min/max spans everything) only the Bloom prunes at all.
    */
  def readWhereEq(colName: String, value: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dirs = dirsMatchingEq(colName, value, version)
    val base =
      if (dirs.isEmpty) read(version).limit(0)
      else scan(committed(version), dirs)
    base.filter(col(colName) === value)
  }

  /** Row-level DELETE, copy-on-write — the takedown/right-to-be-
    * forgotten primitive (opt-out lists, legal removals): rewrite ONLY
    * the data directories that actually hold matching rows, publish the
    * untouched directories plus the rewrites as a new version. Earlier
    * versions keep the deleted rows readable (time travel) until
    * [[vacuum]] ages them out — PERMANENT erasure is deleteWhere + a
    * vacuum with `keepVersions` small enough to drop every pre-delete
    * manifest; document retention accordingly. `diff(before, after)`
    * shows exactly the deleted multiset (change_type = delete).
    *
    * Candidate selection: a cheap matching-row probe per directory
    * (parquet footer/row-group pushdown applies), so a needle delete
    * rewrites one directory, not the table. Use [[deleteWhereRange]] /
    * [[deleteWhereEq]] to prune candidates from zone-map/Bloom sidecars
    * BEFORE any data read — on a 100 TB table the probe scan itself is
    * the cost, and the sidecar variants skip it for every directory
    * whose recorded zones/filters exclude the predicate.
    *
    * Rewritten directories re-derive the sidecars their source carried
    * (same columns), so data-skipping keeps working after the delete.
    * Concurrency follows [[compact]]'s rules: concurrent appends fold
    * in untouched; if a touched directory vanished (concurrent
    * overwrite/compaction) the rewrite is stale — discarded and redone
    * from the fresh snapshot.
    */
  def deleteWhere(predicate: org.apache.spark.sql.Column): Long =
    deleteRewrite(snap => snap.data, predicate)

  /** [[deleteWhere]] for a `[lo, hi]` range on a zone-mapped column:
    * candidates prune to the directories whose recorded zones admit the
    * range — no data I/O at all for the rest.
    */
  def deleteWhereRange(colName: String, lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.col
    deleteRewrite(snap => dirsMatching(colName, lo, hi, Some(snap.version)),
      col(colName) >= lo && col(colName) <= hi)
  }

  /** [[deleteWhere]] for a point predicate on a Bloom-indexed column:
    * candidates prune by zone map AND Bloom sidecar (no false
    * negatives, so skipping is always safe) — the needle-takedown path.
    */
  def deleteWhereEq(colName: String, value: Long): Long = {
    import org.apache.spark.sql.functions.col
    deleteRewrite(snap => dirsMatchingEq(colName, value, Some(snap.version)),
      col(colName) === value)
  }

  private def deleteRewrite(admit: Snapshot => Seq[String],
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // a DELETE removes rows the predicate MATCHES; a row where it
    // evaluates NULL did not match and must be KEPT — three-valued
    // logic makes bare not(p) drop those rows silently (NOT(null) =
    // null = filtered out), which in a takedown primitive is data loss
    val keepCond = coalesce(not(predicate), lit(true))
    commit("deleteWhere") { head =>
      val snap = head.getOrElse(noCommittedVersion())
      // sidecar-admitted candidates, then the matching-row probe: only
      // directories that HOLD a matching row are rewritten (a zone/Bloom
      // false positive costs a pushed-down probe read, never a write).
      // ONE distributed job probes every candidate together —
      // input_file_name() maps hits back to their directories (names
      // are UUIDs, so the /<name>/ segment match is unambiguous); a
      // per-directory driver loop would run thousands of tiny jobs on
      // a 100 TB table
      val candidates = admit(snap)
      val touched =
        if (candidates.isEmpty) Seq.empty[String]
        else {
          import org.apache.spark.sql.functions.input_file_name
          val hitFiles = scan(snap, candidates)
            .filter(predicate)
            .select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0))
          candidates.filter(d => hitFiles.exists(_.contains(s"/$d/")))
        }
      if (touched.isEmpty) None
      else {
        // each touched directory rewrites independently — run them as
        // CONCURRENT Spark jobs (needle deletes touch one dir; a wide
        // takedown range can touch hundreds, and a sequential driver loop
        // would serialize cluster-sized work behind driver round-trips)
        import scala.collection.parallel.CollectionConverters._
        val rewrites = touched.par.flatMap { d =>
          // persist so the emptiness check and the write share ONE scan of
          // the surviving rows (unpersisted as soon as the dir is written —
          // on a wide takedown the double read would dominate the rewrite)
          val kept = scan(snap, Seq(d)).filter(keepCond)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (kept.isEmpty) None // every row deleted: the dir just drops
            else {
              val name = writeData(kept)
              // re-derive exactly the sidecars the source directory carried,
              // including its Bloom geometry (not the defaults)
              val blooms = bloomsOf(d)
              val (bBits, bK) = blooms.headOption.map { case (_, bytes) =>
                val (nbits, k, _) = graft.functions.GraftBloom.fromBytes(bytes)
                (nbits, k)
              }.getOrElse((1 << 17, 4))
              writeSidecars(name, statsOf(d).keys.toSeq.sorted,
                blooms.keys.toSeq.sorted, bBits, bK)
              Some(d -> name)
            }
          } finally { kept.unpersist(false); () }
        }.seq.toMap
        // a delete that empties the whole table keeps the table's schema:
        // it commits one empty, schema-carrying directory instead of an
        // empty manifest (which reads as a zero-column frame)
        val emptied =
          if (rewrites.isEmpty && snap.data.forall(touched.contains))
            Some(writeData(read(Some(snap.version)).limit(0)))
          else None
        // stale once a touched directory is no longer current (a
        // concurrent overwrite/compaction replaced it): publishing the
        // rewrite could resurrect rows the other writer removed
        Some(_.filter(cur => touched.forall(cur.dirs.contains)).flatMap { cur =>
          val dirs = cur.dirs.flatMap(d => if (touched.contains(d)) rewrites.get(d) else Some(d))
          // delete files alone hold no rows (and no schema)
          if (dirs.exists(!isDeletes(_))) Some(dirs) else emptied.map(Seq(_))
        })
      }
    }
  }

  /** Replace the table contents with `df` at the next version.
    * NOTE: overwrite is last-writer-wins BY DEFINITION — of two racing
    * overwrites, the later version's content stands (each remains
    * readable at its own version; nothing tears). A writer whose new
    * content DEPENDS on the current content (read-modify-write, e.g. a
    * merge) must use [[overwriteWith]] or [[mergeKeyed]], which
    * recompute from the fresh snapshot on conflict instead of
    * republishing a stale derivation.
    */
  def overwrite(df: DataFrame): Long = commit("overwrite") { _ =>
    val d = writeData(df)
    Some(_ => Some(Seq(d)))
  }

  /** RESTORE the table to historical `version`'s content, committed as
    * a NEW version — the recovery flip side of [[deleteWhere]] /
    * [[overwrite]]: a mistaken delete or overwrite is undone by ONE
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
    */
  def overwriteWith(derive: Option[DataFrame] => DataFrame): (Long, DataFrame) = {
    var derived: DataFrame = null
    val version = commit("read-modify-write") { head =>
      derived = derive(head.map(s => read(Some(s.version))))
        .localCheckpoint(true) // pin the derivation to THIS snapshot's files
      val d = writeData(derived)
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
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, collect_set, count, lit, when}
    val Dir = "__graft_dir"
    val dir = col(Dir)
    val rank = col(Pipeline.Rank)
    var rows = 0L
    val committedVersion = commit("keyed merge") { head =>
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
        val d = writeData(merged.drop(Dir))
        beforeCommit()
        Some(cur => if (cur.map(_.version) == head.map(_.version)) Some(Seq(d)) else None)
      } else if (head.isDefined && replaced.isEmpty && m("fresh") == 0L) None
      else {
        // rows replaced by another existing row (duplicates a blind append
        // planted) need a delete file but no directory
        val d = Option.when(head.isEmpty || m("fresh") != 0L)(
          writeData(merged.filter(dir.isNull).drop(Dir)))
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
    commit("compaction") { head =>
      val snap = head.getOrElse(noCommittedVersion())
      if (snap.dirs.size <= 1) None
      else {
        val c = writeData(read(Some(snap.version)).coalesce(numPartitions))
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
    * ([[readWhere]]), because the space-filling curve keeps every
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
    commit("z-order rewrite") { head =>
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
          val name = writeData(slice)
          writeSidecars(name, cols)
          name
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
