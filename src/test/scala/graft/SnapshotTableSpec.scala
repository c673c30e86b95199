package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, sum}

import graft.etl.{SnapshotTable, VersionConflictException, Where}

class SnapshotTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(): SnapshotTable =
    new SnapshotTable(spark, Files.createTempDirectory("graft_snap_").toString + "/t")

  test("append/overwrite produce a version chain with time travel") {
    val t = fresh()
    assert(t.currentVersion.isEmpty)
    val v0 = t.append(Seq((1L, "a")).toDF("id", "v"))
    val v1 = t.append(Seq((2L, "b")).toDF("id", "v"))
    assert((v0, v1) == (0L, 1L))
    assert(t.read().count() == 2)
    assert(t.read(Some(0L)).count() == 1, "older snapshots stay readable")
    val v2 = t.overwriteWith(_ => Seq((9L, "z")).toDF("id", "v"))._1
    assert(v2 == 2L)
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(t.read(Some(1L)).count() == 2, "overwrite does not destroy history")
  }

  test("time travel by wall clock: versionAsOf resolves the version live at that instant") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v")) // v0
    Thread.sleep(25)
    val mid = System.currentTimeMillis()
    Thread.sleep(25)
    t.append(Seq((2L, "b")).toDF("id", "v")) // v1
    assert(t.versionAsOf(mid) == Some(0L))
    assert(t.read(t.versionAsOf(mid)).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.versionAsOf(System.currentTimeMillis()) == Some(1L))
    assert(t.read(t.versionAsOf(System.currentTimeMillis())).count() == 2)
    // before the first commit there is nothing to travel to, and a
    // pinned read of a version never committed fails loudly
    assert(t.versionAsOf(mid - 3600_000L).isEmpty)
    intercept[IllegalStateException] { t.read(Some(2L)) }
  }

  test("a stale commit loses deterministically; the retry path composes changes") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v")) // v0
    t.append(Seq((2L, "b")).toDF("id", "v")) // v1
    // a restore that resolved v1 but finds v2 published must conflict
    intercept[VersionConflictException] {
      t.restoreWithHook(0L, () => { t.append(Seq((3L, "c")).toDF("id", "v")); () }) // v2
    }
    // the retrying append re-reads fresh state: nothing is lost
    t.append(Seq((4L, "d")).toDF("id", "v")) // v3
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("concurrent appends from many threads all land; reads see consistent snapshots") {
    val t = fresh()
    val threads = (1 to 6).map { i =>
      new Thread(() => { t.append(Seq((i.toLong, s"w$i")).toDF("id", "v")); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.currentVersion.contains(5L), "six commits -> versions 0..5")
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (1L to 6L),
      "every writer's rows survive the races")
    // each intermediate snapshot has exactly version+1 data dirs
    (0L to 5L).foreach { v =>
      assert(t.read(Some(v)).count() == v + 1)
    }
  }

  test("pipeline runner in snapshot mode: merges version-chain, history stays readable") {
    import graft.etl.{MetadataStore, Pipeline, PipelineRunner}
    val wh = Files.createTempDirectory("graft_snapwh_").toString
    val md = Files.createTempDirectory("graft_snapmd_").toString
    val store = new MetadataStore(spark, md)
    val specs = Seq(Pipeline.TableSpec("dim", Pipeline.PreSeason, Nil, Seq("id"), Some("ver")))
    var batch = Seq((1L, "a", 1L), (2L, "b", 1L))
    val ex: Map[String, Pipeline.Extract] = Map(
      "dim" -> ((s, _) => { import s.implicits._; batch.toDF("id", "v", "ver") }))
    val runner = new PipelineRunner(spark, wh, store, specs, ex)
    runner.run(Pipeline.PreSeason, force = true)
    batch = Seq((2L, "B", 2L), (3L, "c", 1L))
    runner.run(Pipeline.PreSeason, force = true)
    val now = runner.table("dim").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sortBy(_._1)
    assert(now.sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"))), "merged upsert at v1")
    val v0 = runner.tableAt("dim", 0L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sortBy(_._1)
    assert(v0.sameElements(Array((1L, "a"), (2L, "b"))), "pre-merge snapshot still readable")
  }

  test("diff: appends surface as inserts, overwrites as delete+insert, compaction as empty") {
    val t = fresh()
    val v0 = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = t.append(Seq((3L, "c")).toDF("id", "v"))
    // append diff = exactly the appended rows, tagged insert
    val d01 = t.diff(v0, v1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d01 == Set((3L, "c", "insert")))
    // reverse direction flips the tag
    val d10 = t.diff(v1, v0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d10 == Set((3L, "c", "delete")))
    // overwrite replacing (2,b) with (2,B): CDF shows the update as its
    // delete+insert pair; untouched rows cancel
    val v2 = t.overwriteWith(_ => Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"))._1
    val d12 = t.diff(v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d12 == Set((2L, "b", "delete"), (2L, "B", "insert")))
    // compaction rewrites every dir but changes no rows: diff is EMPTY
    val v3 = t.compact()
    assert(t.diff(v2, v3).count() == 0L, "a pure rewrite is not a change")
    // self-diff shares every dir: empty, and schema-ful
    val selfd = t.diff(v2, v2)
    assert(selfd.count() == 0L && selfd.columns.toSeq == Seq("id", "v", "change_type"))
    // duplicate rows diff with multiset semantics: adding a second copy
    // of an existing row IS an insert
    val v4 = t.append(Seq((1L, "a")).toDF("id", "v"))
    val d34 = t.diff(v3, v4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(d34 == Seq((1L, "a", "insert")))
  }

  test("compact rewrites many data dirs into one without changing content") {
    val t = fresh()
    (0 until 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val before = t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(t.snapshot().get.dirs.size == 4)
    val v = t.compact()
    assert(v == 4L, "compaction commits a new version")
    assert(t.snapshot().get.dirs.size == 1, "layout collapses to one directory")
    val after = t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == before, "compaction must not change content")
    assert(t.read(Some(3L)).count() == 4, "pre-compaction snapshot stays readable")
    // already-compact: no-op, no new version
    assert(t.compact() == v)
  }

  test("keyed merge: delete files hide replaced rows on every read path; compact folds them") {
    val t = fresh()
    t.append(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver"),
      Seq("id"), Seq("id"))
    val v0 = t.currentVersion.get
    val (v1, n) = t.mergeKeyed(Seq((2L, "B", 2L), (4L, "d", 1L)).toDF("id", "v", "ver"),
      Seq("id"), Some("ver"))
    assert(n == 4L, "the merge reports the table's row count")
    assert(t.mergeKeyed(Seq((3L, "c", 1L)).toDF("id", "v", "ver"), Seq("id"), Some("ver"))._1 == v1,
      "a re-delivered row replaces nothing, so the merge commits nothing")
    val snap = t.snapshot().get
    assert(snap.data.size == 2 && snap.deletes.size == 1,
      "the indexed directory stays; one delete file hides (2, b)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v").as[(Long, String)].collect().toSeq.sorted
    val merged = Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
    assert(rows(t.read()) == merged)
    assert(rows(t.read(mergeSchema = true)) == merged)
    assert(rows(t.read(where = Where.Range("id", 2L, 2L))) == Seq((2L, "B")),
      "zone-map reads honor the delete file")
    assert(rows(t.read(where = Where.Eq("id", 2L))) == Seq((2L, "B")), "Bloom reads honor the delete file")
    assert(t.diff(v0, v1).select("id", "v", "change_type").as[(Long, String, String)].collect()
      .toSet == Set((2L, "b", "delete"), (2L, "B", "insert"), (4L, "d", "insert")),
      "the update surfaces as its delete + insert pair")
    // the copy-on-write delete rewrites the indexed directory through the
    // delete file: the hidden (2, b) must not come back
    t.deleteWhere(Where.Eq("id", 1L))
    assert(rows(t.read()) == merged.tail)
    t.compact()
    val compacted = t.snapshot().get
    assert(compacted.data.size == 1 && compacted.deletes.isEmpty, "compaction folds the delete file")
    assert(rows(t.read()) == merged.tail)
    assert(rows(t.read(Some(v0))) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the version before the merge stays readable")
  }

  test("compact preserves an append that races the rewrite") {
    val t = fresh()
    (0 until 3).foreach(i => t.append(Seq((i.toLong, "x")).toDF("id", "v")))
    t.compactWithHook(1, () => { t.append(Seq((99L, "late")).toDF("id", "v")); () })
    val rows = t.read().collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(0L, 1L, 2L, 99L),
      "the racing append must survive compaction, with no duplicates")
    assert(t.snapshot().get.dirs.size == 2,
      "layout = the compacted dir + the raced append's dir")
  }

  test("compact discards a stale rewrite when a concurrent overwrite removed its inputs") {
    val t = fresh()
    (0 until 3).foreach(i => t.append(Seq((i.toLong, "x")).toDF("id", "v")))
    var fired = false
    t.compactWithHook(1, () => {
      if (!fired) { fired = true; t.overwriteWith(_ => Seq((7L, "only")).toDF("id", "v"))._1; () }
    })
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(7L),
      "the overwrite's deletion must not be resurrected by a stale compaction")
  }

  test("z-order rewrite: range scans on EITHER clustered column prune dirs; content unchanged") {
    val t = fresh()
    // 64×64 grid appended in row-major order: a linear layout keeps `a`
    // zones narrow but every append spans the full `b` range
    (0 until 8).foreach { chunk =>
      val rows = (chunk * 512 until (chunk + 1) * 512)
        .map(i => (i.toLong / 64L, i.toLong % 64L))
      t.append(rows.toDF("a", "b"), Seq("a", "b"))
    }
    val preDirsB = t.dirsMatching(Where.Range("b", 10, 12))
    assert(preDirsB.size == 8, "row-major appends cannot prune on b")
    val vPre = t.currentVersion.get
    val vZ = t.compactZordered(Seq("a", "b"), buckets = 8)
    // pruning now works on BOTH dimensions
    val dirsA = t.dirsMatching(Where.Range("a", 10, 12))
    val dirsB = t.dirsMatching(Where.Range("b", 10, 12))
    val all = t.snapshot(Some(vZ)).get.dirs.size
    assert(all >= 4, s"rewrite must produce multiple dirs, got $all")
    assert(dirsA.size < all, s"a-scan must prune: ${dirsA.size} of $all")
    assert(dirsB.size < all, s"b-scan must prune: ${dirsB.size} of $all")
    // scans stay exact on both columns
    assert(t.read(where = Where.Range("a", 10, 12)).count() == 3 * 64)
    assert(t.read(where = Where.Range("b", 10, 12)).count() == 3 * 64)
    assert(t.read(where = Where.Range("a", 10, 12)).agg(sum(col("b"))).head().getLong(0) ==
      3L * (0 until 64).map(_.toLong).sum)
    // a pure reorganization is not a change
    assert(t.diff(vPre, vZ).count() == 0L, "z-order rewrite diffs empty")
  }

  test("zone maps: a Range read prunes whole directories and stays exact") {
    val t = fresh()
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"), Seq("id"))
    t.append((100L until 110L).map(i => (i, s"b$i")).toDF("id", "v"), Seq("id"))
    t.append((200L until 210L).map(i => (i, s"c$i")).toDF("id", "v"), Seq("id"))
    // the middle range must read exactly one directory
    assert(t.dirsMatching(Where.Range("id", 100L, 150L)).size == 1,
      "two of three directories must be zone-skipped")
    assert(t.read(where = Where.Range("id", 100L, 150L)).collect().map(_.getLong(0)).sorted.toSeq
      == (100L until 110L))
    // a range outside every zone reads nothing and returns empty
    assert(t.dirsMatching(Where.Range("id", 500L, 600L)).isEmpty)
    assert(t.read(where = Where.Range("id", 500L, 600L)).count() == 0)
    // results are IDENTICAL to the unpruned filter (pruning is exact)
    val pruned = t.read(where = Where.Range("id", 5L, 205L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val full = t.read().filter(
        org.apache.spark.sql.functions.col("id") >= 5L
          && org.apache.spark.sql.functions.col("id") <= 205L).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(pruned == full)
  }

  test("zone maps: stat-less directories are never skipped (plain append, compaction)") {
    val t = fresh()
    t.append((0L until 10L).map(i => (i, "x")).toDF("id", "v"), Seq("id"))
    t.append(Seq((999L, "plain")).toDF("id", "v")) // no sidecar
    assert(t.dirsMatching(Where.Range("id", 900L, 1000L)).size == 1,
      "the stat-less dir must be read, the indexed out-of-range dir skipped")
    assert(t.read(where = Where.Range("id", 900L, 1000L)).collect().map(_.getLong(0)).toSeq == Seq(999L))
    // after compaction the rewrite has no stats — everything is read,
    // nothing is wrong, and re-indexing is a policy choice
    t.compact()
    assert(t.dirsMatching(Where.Range("id", 900L, 1000L)).size == 1)
    assert(t.read(where = Where.Range("id", 900L, 1000L)).collect().map(_.getLong(0)).toSeq == Seq(999L))
  }

  test("bloom sidecars: point lookups prune dirs a zone map cannot") {
    val t = fresh()
    // ids INTERLEAVE across appends (evens vs odds over the same range):
    // every directory's [min,max] spans every probe value, so the zone
    // map alone prunes NOTHING — the equality case the bloom exists for
    t.append((0L until 200L by 2).map(i => (i, "even")).toDF("id", "v"),
      Seq("id"), bloomCols = Seq("id"))
    t.append((1L until 200L by 2).map(i => (i, "odd")).toDF("id", "v"),
      Seq("id"), bloomCols = Seq("id"))
    assert(t.dirsMatching(Where.Range("id", 42L, 42L)).size == 2, "zone maps cannot split interleaved ids")
    assert(t.dirsMatching(Where.Eq("id", 42L)).size == 1, "the bloom must prune the odd dir")
    assert(t.read(where = Where.Eq("id", 42L)).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((42L, "even")))
    // absent value: possibly zero dirs (false positives allowed), empty result always
    assert(t.read(where = Where.Eq("id", 4242L)).count() == 0)
    // results identical to the unpruned filter for every probed value
    (0L until 10L).foreach { v =>
      val pruned = t.read(where = Where.Eq("id", v)).collect().map(_.getLong(0)).toSeq
      val full = t.read().filter(org.apache.spark.sql.functions.col("id") === v)
        .collect().map(_.getLong(0)).toSeq
      assert(pruned == full)
    }
  }

  test("bloom sidecars: sidecar-less directories are never skipped") {
    val t = fresh()
    t.append((0L until 10L).map(i => (i, "x")).toDF("id", "v"),
      Seq("id"), bloomCols = Seq("id"))
    t.append(Seq((999L, "plain")).toDF("id", "v")) // no sidecars at all
    assert(t.dirsMatching(Where.Eq("id", 999L)).size == 1,
      "the sidecar-less dir must be read; the indexed dir is bloom- AND zone-skipped")
    assert(t.read(where = Where.Eq("id", 999L)).collect().map(_.getLong(0)).toSeq == Seq(999L))
    t.compact() // rewrite has no sidecars — read everything, still exact
    assert(t.read(where = Where.Eq("id", 999L)).collect().map(_.getLong(0)).toSeq == Seq(999L))
    assert(t.read(where = Where.Eq("id", 5L)).collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("vacuum drops unreachable data but keeps retained versions intact") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v")) // v0
    t.overwriteWith(_ => Seq((2L, "b")).toDF("id", "v"))._1 // v1 — v0's dir now unreachable from v1
    t.append(Seq((3L, "c")).toDF("id", "v")) // v2
    // default minAge protects in-flight commits: fresh DATA dirs survive
    // an age-guarded vacuum even when unreferenced (old manifests are
    // still dropped — only data deletion is age-gated)
    def dataDirCount(st: SnapshotTable): Int = {
      val f = new java.io.File(st.rootPath + "/data")
      if (f.isDirectory) f.listFiles().length else 0
    }
    val before = dataDirCount(t)
    t.vacuum(keepVersions = 2)
    assert(dataDirCount(t) == before, "age floor keeps just-written dirs")
    // age floor lifted (no active writers): unreachable data goes
    t.vacuum(keepVersions = 2, minAgeMs = 0L)
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(t.read(Some(1L)).collect().map(_.getLong(0)).toSeq == Seq(2L))
    intercept[Exception] { t.read(Some(0L)).collect() } // vacuumed away
  }

  test("vacuum refuses keepVersions = 0, leaving the head readable") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    // keeping no version would delete every manifest and, with the age
    // floor lifted, every data directory
    intercept[IllegalArgumentException] { t.vacuum(keepVersions = 0, minAgeMs = 0L) }
    assert(t.currentVersion.contains(1L))
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(t.read(Some(0L)).count() == 1, "history is untouched too")
  }

  test("vacuum's data-plane age gate runs on the newest FILE mtime, not the directory stat") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v")) // v0
    t.overwriteWith(_ => Seq((2L, "b")).toDF("id", "v"))._1 // v1 — v0's dir unreferenced
    val dataRoot = new java.io.File(t.rootPath + "/data")
    def dirs() = dataRoot.listFiles().filter(_.isDirectory)
    val live = t.snapshot().get.dirs.toSet
    val unref = dirs().filter(d => !live.contains(d.getName))
    assert(unref.length == 1)
    // Backdate ONLY the directory inode, keep its files fresh — the
    // S3A shape inverted (there the DIR reports 0 while files carry
    // real mtimes): a gate on the directory stat would sweep this dir
    // out from under its fresh files; the newest-FILE gate must keep it
    val old = System.currentTimeMillis() - 48L * 3600_000L
    unref.head.setLastModified(old)
    // keepVersions=1 drops v0's manifest → the dir is a true sweep
    // candidate (unreferenced by every KEPT manifest), gated on age only
    t.vacuum(keepVersions = 1, minAgeMs = 3600_000L)
    assert(dirs().exists(_.getName == unref.head.getName),
      "a dir with fresh files survives, whatever the directory inode says")
    // backdate everything beneath it too → genuinely old, swept
    def walk(f: java.io.File): Unit = {
      f.setLastModified(old)
      if (f.isDirectory) f.listFiles().foreach(walk)
    }
    walk(unref.head)
    t.vacuum(keepVersions = 1, minAgeMs = 3600_000L)
    assert(!dirs().exists(_.getName == unref.head.getName),
      "an aged-out unreferenced dir is reclaimed")
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(2L), "live data intact")
  }

  test("overwriteWith composes racing read-modify-writes (no lost update)") {
    val t = fresh()
    t.overwriteWith(_ => Seq((0L, "base")).toDF("id", "v"))._1
    // two writers, each adding its own row to whatever the current
    // contents are; the conflict loser must re-derive, not clobber
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        t.overwriteWith { cur =>
          cur.get.unionByName(Seq((i.toLong, s"w$i")).toDF("id", "v"))
        }
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (0L to 4L),
      "every writer's row must survive — a stale republish would drop some")
  }

  test("schema evolution: a mergeSchema read unions schemas, null-fills old rows, and type conflicts fail loudly") {
    val t = fresh()
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b", 7.5)).toDF("id", "v", "score"))
    val merged = t.read(mergeSchema = true).collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(r.fieldIndex("score"))) None else Some(r.getDouble(r.fieldIndex("score"))))).toSet
    assert(merged == Set((1L, "a", None), (2L, "b", Some(7.5))),
      "union schema with pre-evolution rows null-filled")
    // history stays readable at each version's own schema
    assert(!t.read(Some(0L), mergeSchema = true).columns.contains("score"))
    // a same-named column with a CONFLICTING type must fail the merged
    // read loudly, never silently pick one type
    val t2 = fresh()
    t2.append(Seq((1L, 10L)).toDF("id", "x"))
    t2.append(Seq((2L, "oops")).toDF("id", "x"))
    val e = intercept[org.apache.spark.SparkException] { t2.read(mergeSchema = true).collect() }
    assert(e.getMessage.toLowerCase.contains("merg"), s"expected a merge error, got: ${e.getMessage}")
  }

  private val mainSrc = java.nio.file.Paths.get("src/main/scala")

  /** A source file with its comments stripped. */
  private def code(p: java.nio.file.Path): String = {
    val blockComment = "(?s)/\\*.*?\\*/".r
    val lineComment = "//[^\n]*".r
    lineComment.replaceAllIn(
      blockComment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), ""), "")
  }

  /** The names of the defs that call `name(` in `src`, its own def excluded. */
  private def callers(src: String, name: String): Set[String] = {
    val defName = "def (\\w+)".r
    (java.util.regex.Pattern.quote(name) + "\\(").r.findAllMatchIn(src).map(_.start)
      .filterNot(i => src.substring(0, i).endsWith("def "))
      .map(i => defName.findAllMatchIn(src.substring(0, i)).toSeq.last.group(1)).toSet
  }

  private def mainFiles(): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(mainSrc)
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.nonEmpty, s"no sources under ${mainSrc.toAbsolutePath}")
    files
  }

  test("one ETL table path: one commit loop, no plain-parquet publish, no --snapshot flag") {
    // tryCommit is called only by restore (single-attempt by design) and
    // by the table's own tryCommit, which delegates to the manifest log;
    // the log's commit loop is its only other caller, so no writer
    // hand-writes its own loop
    val st = code(mainSrc.resolve("graft/etl/SnapshotTable.scala"))
    assert(callers(st, "tryCommit") == Set("tryCommit", "restoreWithHook"),
      s"tryCommit outside the commit log and restore: ${callers(st, "tryCommit").mkString(", ")}")
    assert(callers(code(mainSrc.resolve("graft/sources/CommitLog.scala")), "tryCommit") == Set("commit"))
    // no publish path for unpartitioned tables besides SnapshotTable
    val offenders = mainFiles().flatMap { f =>
      val c = code(f)
      Seq("atomicPublish", "hasSnapshotLayout").filter(c.contains).map(b => s"${f.getFileName}: $b")
    }
    assert(offenders.isEmpty, s"unpartitioned tables publish through SnapshotTable: ${offenders.mkString(", ")}")
    // the CLI has no flag choosing between table paths
    assert(!code(mainSrc.resolve("graft/etl/Main.scala")).contains("\"--snapshot\""))
    assert(graft.etl.Main.parse(Array("--mode", "pre_season", "--snapshot")).isLeft)
  }

  test("one commit log: only CommitLog and StoreIO impls use putIfAbsent or v%012d") {
    val putters = mainFiles().flatMap { f =>
      val c = code(f)
      if (c.contains("putIfAbsent(")) Some(f.getFileName.toString -> c) else None
    }.toMap
    assert(putters.keySet == Set("StoreIO.scala", "HadoopFsStoreIO.scala", "CommitLog.scala"),
      s"putIfAbsent outside the commit log: ${putters.keySet.toSeq.sorted.mkString(", ")}")
    assert(callers(putters("CommitLog.scala"), "putIfAbsent") == Set("tryCommit"))
    val versionFormats = mainFiles().filter(f => code(f).contains("%012d")).map(_.getFileName.toString)
    assert(versionFormats == Seq("CommitLog.scala"),
      s"the version file name is CommitLog's alone: ${versionFormats.mkString(", ")}")
  }
}
