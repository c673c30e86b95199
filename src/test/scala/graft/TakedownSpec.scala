package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{SnapshotTable, Where}
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.{Tables, Warehouse}

/** Takedown / right-to-be-forgotten, end to end: SnapshotTable's
  * copy-on-write row deletes and the persisted-store removal cascade.
  * The store contracts are IDENTITY contracts (the d16/d17 pattern):
  * after removal, every probe is bit-identical to the same store
  * REBUILT from the filtered corpus.
  */
class TakedownSpec extends SparkSpecBase {
  import spark.implicits._

  private def t = Tables(spark, sfDir)

  private def fresh(): SnapshotTable =
    new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("graft_takedown_").toString + "/t")

  // ----------------------------------------------------------------- //
  // SnapshotTable.deleteWhere
  // ----------------------------------------------------------------- //

  test("deleteWhere: copy-on-write rewrite of only the matching directories; diff shows exactly the deleted rows; history time-travels") {
    val st = fresh()
    st.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    st.append((100L until 200L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    st.append((200L until 300L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val before = st.currentVersion.get
    val dirsBefore = st.snapshot().get.dirs

    val after = st.deleteWhere(Where.Range("id", 120L, 140L))
    assert(after == before + 1)
    // zone-map pruning: only the [100, 200) directory was touched — the
    // other two survive into the new manifest under their OLD names
    val dirsAfter = st.snapshot().get.dirs
    assert(dirsBefore.count(dirsAfter.contains) == 2,
      s"exactly one directory rewritten: $dirsBefore -> $dirsAfter")
    // content: the range is gone, everything else intact
    val ids = st.read().collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 300L).toSet -- (120L to 140L))
    // diff(before, after) is exactly the deleted multiset
    val d = st.diff(before, after).collect()
    assert(d.forall(_.getAs[String]("change_type") == "delete"))
    assert(d.map(_.getLong(0)).toSet == (120L to 140L).toSet)
    // time travel still reads the pre-delete rows (until vacuumed)
    assert(st.read(Some(before)).count() == 300)
    // the rewritten directory re-derived its zone map: a range read on
    // the new version still prunes to one directory per 100-block
    assert(st.dirsMatching(Where.Range("id", 150L, 160L)).size == 1)
    // deleting every row of a directory drops the dir entirely
    st.deleteWhere(Where.Range("id", 200L, 299L))
    assert(st.snapshot().get.dirs.size == 2)
    assert(st.read().count() == 300 - 21 - 100)
  }

  test("an Eq delete prunes by Bloom sidecar; a Rows delete probes before rewriting; racing appends compose") {
    val st = fresh()
    st.append((0L until 100L).map(i => (i, i % 7)).toDF("id", "grp"),
      Seq("id"), bloomCols = Seq("id"))
    st.append((100L until 200L).map(i => (i, i % 7)).toDF("id", "grp"),
      Seq("id"), bloomCols = Seq("id"))
    val dirsBefore = st.snapshot().get.dirs
    st.deleteWhere(Where.Eq("id", 42L))
    val dirsAfter = st.snapshot().get.dirs
    assert(dirsBefore.count(dirsAfter.contains) == 1,
      "the Bloom/zone sidecars admit exactly the one holding directory")
    assert(st.read().count() == 199)
    assert(st.read(where = Where.Eq("id", 42L)).isEmpty)

    // generic-predicate delete: the matching-row probe leaves
    // directories with no matches untouched
    val before2 = st.snapshot().get.dirs
    st.deleteWhere(Where.Rows(col("grp") === 3 && col("id") >= 100L && col("id") < 110L))
    val after2 = st.snapshot().get.dirs
    assert(before2.count(after2.contains) == 1,
      "only the directory holding matching rows is rewritten")
    assert(st.read().filter(col("grp") === 3 && col("id") < 110L && col("id") >= 100L).isEmpty)

    // a delete of nothing commits nothing
    val v = st.currentVersion.get
    assert(st.deleteWhere(Where.Eq("id", 999999L)) == v)
    assert(st.currentVersion.get == v)

    // an append landing between the rewrite and the commit folds in
    // (same composition rule as compact: only touched dirs replace)
    val t2 = new java.util.concurrent.atomic.AtomicLong()
    val appender = new Thread(() => t2.set(st.append(Seq((5000L, 0L)).toDF("id", "grp"))))
    appender.start(); appender.join()
    st.deleteWhere(Where.Eq("id", 43L))
    assert(st.read().filter(col("id") === 5000L).count() == 1,
      "appended rows survive a delete commit")
  }

  test("deleting every row keeps the table's schema; a directory emptied beside survivors still drops") {
    val st = fresh()
    val v0 = st.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      bloomCols = Seq("id"))
    val columns = st.read().columns.toSeq
    val v1 = st.deleteWhere(Where.Range("id", 0L, 10L))
    assert(v1 == v0 + 1)
    assert(st.read().columns.toSeq == columns, "the emptied table keeps its columns")
    assert(st.read().count() == 0)
    assert(st.read(where = Where.Range("id", 0L, 10L)).count() == 0)
    assert(st.read(where = Where.Eq("id", 1L)).count() == 0)
    val d = st.diff(v0, v1).collect()
    assert(d.map(r => (r.getLong(0), r.getAs[String]("change_type"))).sorted.toSeq ==
      Seq((1L, "delete"), (2L, "delete")))
    // a later append lands beside the schema-carrying empty directory
    st.append(Seq((3L, "c")).toDF("id", "v"))
    assert(st.read().collect().map(_.getLong(0)).toSeq == Seq(3L))

    // with a surviving directory, an emptied one just drops
    val st2 = fresh()
    st2.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    st2.append(Seq((100L, "x")).toDF("id", "v"), Seq("id"))
    val survivor = st2.snapshot().get.dirs.last
    st2.deleteWhere(Where.Range("id", 0L, 10L))
    assert(st2.snapshot().get.dirs == Seq(survivor))
  }

  test("restore: one manifest commit returns the pre-delete state; history intact; refuses races and vacuumed targets") {
    val st = fresh()
    st.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    st.append((100L until 200L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val before = st.append((200L until 300L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val dirsBefore = st.snapshot().get.dirs
    val afterDelete = st.deleteWhere(Where.Range("id", 120L, 140L))

    val restored = st.restore(before)
    assert(restored == afterDelete + 1)
    // the restored manifest NAMES the original immutable directories —
    // zero data rewrite, at any scale
    assert(st.snapshot().get.dirs == dirsBefore)
    assert(st.read().collect().map(_.getLong(0)).toSet == (0L until 300L).toSet)
    // history intact: the mistaken version still reads filtered
    assert(st.read(Some(afterDelete)).count() == 300 - 21)
    // diff(mistake, restored) is exactly the deleted multiset, re-inserted
    val d = st.diff(afterDelete, restored).collect()
    assert(d.forall(_.getAs[String]("change_type") == "insert"))
    assert(d.map(_.getLong(0)).toSet == (120L to 140L).toSet)
    // sidecars live inside the data dirs, so zone-map pruning works on
    // the restored head unchanged
    assert(st.dirsMatching(Where.Range("id", 150L, 160L)).size == 1)
    // life goes on: appends after a restore compose
    st.append(Seq((900L, "x")).toDF("id", "v"))
    assert(st.read().count() == 301)

    // single-attempt by design: a commit landing between the resolve and
    // the publish REFUSES (a blind retry would silently drop the racing
    // writer's rows from the restored head)
    intercept[graft.etl.VersionConflictException] {
      st.restoreWithHook(before, () => { st.append(Seq((901L, "y")).toDF("id", "v")); () })
    }
    assert(st.read().count() == 302, "the racer's append survived the refusal")

    // a target whose DATA directory is gone refuses loudly BEFORE any
    // commit (the restore-vs-vacuum crash window, staged directly)
    val victim = fresh()
    victim.append(Seq((1L, "a")).toDF("id", "v"))
    val gone = victim.snapshot().get.dirs.head
    victim.overwriteWith(_ => Seq((2L, "b")).toDF("id", "v"))
    graft.sources.HadoopFs.deleteRecursive(s"${victim.rootPath}/data/$gone")
    val eDir = intercept[IllegalArgumentException](victim.restore(0L))
    assert(eDir.getMessage.contains("gone"))

    // a vacuumed target's manifest refuses loudly
    st.vacuum(keepVersions = 2, minAgeMs = 0L)
    val eMan = intercept[IllegalArgumentException](st.restore(before))
    assert(eMan.getMessage.contains("not available"))
  }

  test("permanent erasure = deleteWhere + vacuum: the deleted rows leave the disk, not just the manifest") {
    import org.apache.spark.sql.functions.col
    val st = fresh()
    st.append((0L until 100L).map(i => (i, s"secret$i")).toDF("id", "v"), Seq("id"))
    st.append((100L until 200L).map(i => (i, s"other$i")).toDF("id", "v"), Seq("id"))
    val preDelete = st.currentVersion.get
    st.deleteWhere(Where.Range("id", 10L, 20L))
    // history still readable — by design, until retention ends it
    assert(st.read(Some(preDelete)).count() == 200)
    // retention ends: drop every pre-delete manifest and its data
    st.vacuum(keepVersions = 1, minAgeMs = 0L)
    intercept[Exception] { st.read(Some(preDelete)).collect() }
    assert(st.read().count() == 189)
    // the erased values exist in NO parquet file under the table root
    val remaining = spark.read.parquet(st.rootPath + "/data/*")
      .filter(col("id") >= 10L && col("id") <= 20L)
    assert(remaining.isEmpty,
      "no data directory under the root may still hold an erased row")
  }

  // ----------------------------------------------------------------- //
  // The store removal cascade: identity vs rebuild-from-filtered-corpus
  // ----------------------------------------------------------------- //

  private val removedCond =
    (col("doc_id") >= 100 && col("doc_id") < 150) ||
      (col("doc_id") >= 210 && col("doc_id") < 220)
  private def corpus: DataFrame = t.documents.filter(col("doc_id") < 250)
  private def filteredCorpus: DataFrame = corpus.filter(!removedCond)
  private def removedDocs: DataFrame = corpus.filter(removedCond)
  private def probeBatch: DataFrame = t.documents.filter(col("doc_id") >= 250)

  test("signature-store removal across base ∪ segments probes identically to a rebuild from the filtered corpus") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet
    Warehouse.dropStore(spark, "tk_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_sig_ref", Seq("bands", "sigs"))
    Dedup.buildSignatureStore(t.documents.filter(col("doc_id") < 200), "tk_sig")
    Dedup.appendToSignatureStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "tk_sig")
    Dedup.removeFromSignatureStore(removedDocs.select(col("doc_id")), "tk_sig")
    Dedup.buildSignatureStore(filteredCorpus, "tk_sig_ref")
    val got = key(Dedup.minhashIncrementalAgainstStore("tk_sig", probeBatch))
    val want = key(Dedup.minhashIncrementalAgainstStore("tk_sig_ref", probeBatch))
    assert(got == want, s"takedown probe must equal the filtered rebuild: got $got want $want")
    assert(got.nonEmpty, "the filtered corpus still has cross-split near-dups")
    // the removal folded to ONE full build (no live segments) and no
    // removed id survives in any live table
    val (base, segs) = Warehouse.resolveSegmented(spark, "tk_sig")
    assert(segs.isEmpty)
    val liveIds = Warehouse.table(spark, Warehouse.storeTableName("tk_sig", base, "sigs"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(removedDocs.select(col("doc_id")).collect().map(_.getLong(0)).forall(!liveIds.contains(_)),
      "no removed id remains in the live generation")
    Seq("tk_sig", "tk_sig_ref").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
  }

  test("takedown → append → takedown probes identically to a one-shot rebuild of the filtered corpus") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet
    Warehouse.dropStore(spark, "tk_twice", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_twice_ref", Seq("bands", "sigs"))
    Dedup.buildSignatureStore(corpus.filter(col("doc_id") < 200), "tk_twice")
    Dedup.removeFromSignatureStore(
      corpus.filter(col("doc_id") >= 100 && col("doc_id") < 150).select(col("doc_id")), "tk_twice")
    // the takedown fold keeps the build's band-index column order
    val folded = Warehouse.resolveGeneration(spark, "tk_twice")
    assert(Warehouse.table(spark, Warehouse.storeTableName("tk_twice", folded, "bands"))
      .columns.toSeq == Seq("band_idx", "band_hash", "doc_id"))
    Dedup.appendToSignatureStore(corpus.filter(col("doc_id") >= 200), "tk_twice")
    Dedup.removeFromSignatureStore(
      corpus.filter(col("doc_id") >= 210 && col("doc_id") < 220).select(col("doc_id")), "tk_twice")
    Dedup.buildSignatureStore(filteredCorpus, "tk_twice_ref")
    val got = key(Dedup.minhashIncrementalAgainstStore("tk_twice", probeBatch))
    val want = key(Dedup.minhashIncrementalAgainstStore("tk_twice_ref", probeBatch))
    assert(got == want, s"the second takedown must equal the filtered rebuild: got $got want $want")
    assert(got.nonEmpty, "the filtered corpus still has cross-split near-dups")
    Seq("tk_twice", "tk_twice_ref").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
  }

  test("removal-vs-append race: a segment published mid-removal refuses the publish; the re-fold keeps the segment AND the removal") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"))).toSet
    Warehouse.dropStore(spark, "tk_race", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_race_ref", Seq("bands", "sigs"))
    Dedup.buildSignatureStore(t.documents.filter(col("doc_id") < 200), "tk_race")
    var raced = false
    Dedup.removeFromSignatureStoreHooked(
      t.documents.filter(col("doc_id") >= 100 && col("doc_id") < 150).select(col("doc_id")),
      "tk_race",
      beforePublish = () => if (!raced) {
        raced = true
        assert(Dedup.appendToSignatureStore(
          t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250),
          "tk_race", dedupeTag = Some("tkrace:0")).nonEmpty)
      })
    assert(raced)
    Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250 && !(col("doc_id") >= 100 && col("doc_id") < 150)),
      "tk_race_ref")
    assert(key(Dedup.minhashIncrementalAgainstStore("tk_race", probeBatch)) ==
      key(Dedup.minhashIncrementalAgainstStore("tk_race_ref", probeBatch)),
      "the re-fold must keep the mid-removal segment's rows and drop the removed ids")
    Seq("tk_race", "tk_race_ref").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
  }

  test("substring-store removal probes identically to a rebuild from the filtered corpus") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Int]("start_new"), r.getAs[Int]("start_old"),
        r.getAs[Long]("span_tokens"))).toSet
    Warehouse.dropStore(spark, "tk_sub", Seq("shingles"))
    Warehouse.dropStore(spark, "tk_sub_ref", Seq("shingles"))
    Dedup.buildSubstringStore(corpus, "tk_sub")
    Dedup.removeFromSubstringStore(removedDocs.select(col("doc_id")), "tk_sub")
    Dedup.buildSubstringStore(filteredCorpus, "tk_sub_ref")
    val got = key(Dedup.substringSpansAgainstStore("tk_sub", probeBatch))
    assert(got == key(Dedup.substringSpansAgainstStore("tk_sub_ref", probeBatch)))
    assert(got.nonEmpty)
    Seq("tk_sub", "tk_sub_ref").foreach(Warehouse.dropStore(spark, _, Seq("shingles")))
  }

  test("novelty-store removal (df subtraction) scores identically to a rebuild from the filtered corpus") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("novel_shingles"), r.getAs[Double]("novelty_frac"))).toSet
    Warehouse.dropStore(spark, "tk_nov", Seq("shdf"))
    Warehouse.dropStore(spark, "tk_nov_ref", Seq("shdf"))
    Dedup.buildNoveltyStore(corpus, "tk_nov")
    Dedup.removeFromNoveltyStore(removedDocs.select(col("doc_id"), col("text")), "tk_nov")
    Dedup.buildNoveltyStore(filteredCorpus, "tk_nov_ref")
    assert(key(Dedup.noveltyAgainstStore("tk_nov", probeBatch)) ==
      key(Dedup.noveltyAgainstStore("tk_nov_ref", probeBatch)))
    // the subtracted df table IS the filtered build's, row for row
    def dfRows(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "shdf"))
        .collect().map(r => (r.getAs[Long]("h"), r.getAs[Long]("df"))).toSet
    }
    assert(dfRows("tk_nov") == dfRows("tk_nov_ref"),
      "df'(h) = df(h) - removed contributions, zero rows dropped")
    Seq("tk_nov", "tk_nov_ref").foreach(Warehouse.dropStore(spark, _, Seq("shdf")))
  }

  test("removeDocs cascade: cluster relabel splits bridged clusters and re-mins, identical to the filtered rebuild") {
    Warehouse.dropStore(spark, "tk_casc_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_casc_cl", Seq("labels"))
    Warehouse.dropStore(spark, "tk_ref_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_ref_cl", Seq("labels"))
    Dedup.buildSignatureStore(corpus, "tk_casc_sig")
    Dedup.buildClusterStoreFromSignatureStore(spark, "tk_casc_sig", "tk_casc_cl")
    Dedup.removeDocs(removedDocs.select(col("doc_id"), col("text")),
      Dedup.DedupStoreFamily(signature = Some("tk_casc_sig"), clusters = Some("tk_casc_cl")))
    Dedup.buildSignatureStore(filteredCorpus, "tk_ref_sig")
    Dedup.buildClusterStoreFromSignatureStore(spark, "tk_ref_sig", "tk_ref_cl")
    def labels(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "labels"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    }
    val got = labels("tk_casc_cl")
    assert(got == labels("tk_ref_cl"), "relabel after removal equals the filtered rebuild")
    assert(got.nonEmpty)
    assert(!got.exists { case (d, c) =>
      (d >= 100 && d < 150) || (d >= 210 && d < 220) ||
        (c >= 100 && c < 150) || (c >= 210 && c < 220)
    }, "no removed id survives as a member OR a label")
    Seq("tk_casc_sig", "tk_ref_sig").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
    Seq("tk_casc_cl", "tk_ref_cl").foreach(Warehouse.dropStore(spark, _, Seq("labels")))
  }

  test("BM25-store removal queries identically to a rebuild from the filtered corpus") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    Warehouse.dropStore(spark, "tk_bm", Seq("postings", "stats"))
    Warehouse.dropStore(spark, "tk_bm_ref", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(corpus, "tk_bm")
    TextAnalysis.removeFromBm25Store(removedDocs.select(col("doc_id"), col("text")), "tk_bm")
    TextAnalysis.buildBm25Store(filteredCorpus, "tk_bm_ref")
    val got = key(TextAnalysis.bm25AgainstStore(spark, "tk_bm"))
    assert(got == key(TextAnalysis.bm25AgainstStore(spark, "tk_bm_ref")),
      "scores after removal are bit-identical to the filtered rebuild's")
    assert(got.nonEmpty)
    Seq("tk_bm", "tk_bm_ref").foreach(Warehouse.dropStore(spark, _, Seq("postings", "stats")))
  }

  test("IVF removal: content equals the prior live set minus the removed ids, centroids frozen, no removed id ever probed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tk_ivf_").toString + "/idx"
    Similarity.buildIvfIndex(t, dir)
    Similarity.appendToIvfIndex(
      t.embeddings.filter(col("vec_id") < 0), dir) // empty: exercises the no-op path
    val (b0, _) = Warehouse.pathStore(dir).resolveSegmented()
    val beforeRows = spark.read.parquet(Warehouse.pathGenData(dir, b0))
      .select(col("vec_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val beforeCentroids = spark.read
      .parquet(Warehouse.pathGenModel(dir, b0))
      .collect().map(_.toString).sorted.toSeq
    val victims = Seq(3L, 7L, 11L)
    def queries = t.embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val rangeBefore = Similarity.searchIvfIndexRange(queries, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Similarity.removeFromIvfIndex(victims.toDF("vec_id"), dir)
    val (b1, segs1) = Warehouse.pathStore(dir).resolveSegmented()
    assert(b1 != b0 && segs1.isEmpty)
    val afterRows = spark.read.parquet(Warehouse.pathGenData(dir, b1))
      .select(col("vec_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(afterRows == beforeRows.filterNot(r => victims.contains(r._1)),
      "the new generation holds exactly the old rows minus the removed ids, cid routing intact")
    val afterCentroids = spark.read
      .parquet(Warehouse.pathGenModel(dir, b1))
      .collect().map(_.toString).sorted.toSeq
    assert(afterCentroids == beforeCentroids, "removal never re-trains centroids")
    // probe semantics: the radius search after removal is the radius
    // search before it, minus pairs whose neighbor was removed
    val rangeAfter = Similarity.searchIvfIndexRange(queries, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rangeAfter == rangeBefore.filterNot(r => victims.contains(r._2)),
      "after ≡ before minus removed neighbors, every surviving pair unchanged")
    assert(rangeAfter.nonEmpty)
  }

  // ----------------------------------------------------------------- //
  // Review regressions: three-valued logic, duplicate listings, empty
  // stores, legacy stats, recorded cluster thresholds
  // ----------------------------------------------------------------- //

  test("deleteWhere KEEPS rows where the predicate evaluates NULL (three-valued logic is not data loss)") {
    val st = fresh()
    st.append(Seq((1L, Option("a")), (2L, None), (3L, Option("b"))).toDF("id", "v"))
    st.deleteWhere(Where.Rows(col("v") === "a"))
    // NOT(v = 'a') is NULL for row 2 — a bare filter(not(p)) would drop
    // it; the delete's keep-side must treat did-not-match as KEEP
    assert(st.read().collect().map(_.getLong(0)).toSet == Set(2L, 3L),
      "the NULL-valued row never matched the delete predicate and survives")
  }

  test("novelty removal dedupes a doubly-listed doc (two opt-out lists concatenated subtract once)") {
    Warehouse.dropStore(spark, "tk_nov2", Seq("shdf"))
    Warehouse.dropStore(spark, "tk_nov2_ref", Seq("shdf"))
    Dedup.buildNoveltyStore(corpus, "tk_nov2")
    val doubled = removedDocs.select(col("doc_id"), col("text"))
      .unionAll(removedDocs.select(col("doc_id"), col("text")))
    Dedup.removeFromNoveltyStore(doubled, "tk_nov2")
    Dedup.buildNoveltyStore(filteredCorpus, "tk_nov2_ref")
    def dfRows(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "shdf"))
        .collect().map(r => (r.getAs[Long]("h"), r.getAs[Long]("df"))).toSet
    }
    assert(dfRows("tk_nov2") == dfRows("tk_nov2_ref"),
      "df subtracts each removed doc ONCE however many times it is listed")
    Seq("tk_nov2", "tk_nov2_ref").foreach(Warehouse.dropStore(spark, _, Seq("shdf")))
  }

  test("a full takedown keeps the recorded k: novelty and substring probes derive it") {
    Warehouse.dropStore(spark, "tk_nov3", Seq("shdf"))
    Warehouse.dropStore(spark, "tk_sub3", Seq("shingles"))
    val small = corpus.filter(col("doc_id") < 20)
    Dedup.buildNoveltyStore(small, "tk_nov3")
    Dedup.removeFromNoveltyStore(small.select(col("doc_id"), col("text")), "tk_nov3")
    Dedup.buildSubstringStore(small, "tk_sub3")
    Dedup.removeFromSubstringStore(small.select(col("doc_id")), "tk_sub3")
    def table(name: String, sfx: String) =
      spark.table(Warehouse.storeTableName(name, Warehouse.resolveGeneration(spark, name), sfx))
    assert(table("tk_nov3", "shdf").isEmpty && table("tk_sub3", "shingles").isEmpty)
    assert(table("tk_nov3", "shdf").columns.toSeq == Seq("h", "df"),
      "k is a layout record, never a column")
    assert(table("tk_sub3", "shingles").columns.toSeq == Seq("h", "doc_id", "pos"))
    // the emptied novelty store still derives its build k = 3: the probe
    // without k shingles exactly like the one naming it
    val batch = probeBatch.limit(5)
    def scores(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Double]("novelty_frac"))).toSet
    val derived = scores(Dedup.noveltyAgainstStore("tk_nov3", batch))
    assert(derived.nonEmpty && derived == scores(Dedup.noveltyAgainstStore("tk_nov3", batch, k = 3)))
    assert(derived.forall { case (_, n, f) => n == 0 || f == 1.0 },
      "an empty index scores every probed shingle novel")
    // the substring store derives its build k = 8 and finds no spans
    assert(Dedup.substringSpansAgainstStore("tk_sub3", batch).isEmpty)
    Dedup.substringSpansAgainstStore("tk_sub3", batch, k = 8).collect()
    // drifted explicit widths still refuse with their messages
    val eN = intercept[IllegalArgumentException](
      Dedup.noveltyAgainstStore("tk_nov3", batch, k = 5))
    assert(eN.getMessage.contains("built width") && eN.getMessage.contains("pass 0 to derive"))
    val eS = intercept[IllegalArgumentException](
      Dedup.substringSpansAgainstStore("tk_sub3", batch, k = 5))
    assert(eS.getMessage.contains("differs from substring store"))
    Warehouse.dropStore(spark, "tk_nov3", Seq("shdf"))
    Warehouse.dropStore(spark, "tk_sub3", Seq("shingles"))
  }

  test("BM25 removal handles a legacy (n_docs, avgdl)-only stats table, and removing every doc reproduces the empty rebuild's stats") {
    Warehouse.dropStore(spark, "tk_bm2", Seq("postings", "stats"))
    Warehouse.dropStore(spark, "tk_bm2_ref", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(corpus, "tk_bm2")
    // regress the stats table to the pre-dl_sum wire shape the query
    // path still back-compats — the remover must too
    val g0 = Warehouse.resolveGeneration(spark, "tk_bm2")
    val statsT = Warehouse.storeTableName("tk_bm2", g0, "stats")
    val legacy = spark.table(statsT).select(col("n_docs"), col("avgdl")).collect()
    Warehouse.drop(spark, statsT)
    Seq((legacy.head.getDouble(0), legacy.head.getDouble(1)))
      .toDF("n_docs", "avgdl").write.format("parquet").saveAsTable(statsT)
    TextAnalysis.removeFromBm25Store(removedDocs.select(col("doc_id"), col("text")), "tk_bm2")
    TextAnalysis.buildBm25Store(filteredCorpus, "tk_bm2_ref")
    // avgdl reconstructed as dl_sum = avgdl x n_docs differs from the
    // exact sum only at float-product rounding, so compare per-doc
    // scores with a 1e-9 tolerance (rank tuples could flip on an ulp)
    def scoresOf(name: String) = TextAnalysis.bm25AgainstStore(spark, name).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val got = scoresOf("tk_bm2")
    val want = scoresOf("tk_bm2_ref")
    assert(got.nonEmpty && got.keySet == want.keySet &&
      got.forall { case (d, s) => math.abs(s - want(d)) < 1e-9 },
      "legacy-stats removal matches the filtered rebuild")
    // remove-all: stats must be the empty rebuild's (0, null, null) row,
    // never a NaN-propagating 0/0
    TextAnalysis.removeFromBm25Store(filteredCorpus.select(col("doc_id"), col("text")), "tk_bm2")
    val g1 = Warehouse.resolveGeneration(spark, "tk_bm2")
    val row = spark.table(Warehouse.storeTableName("tk_bm2", g1, "stats")).collect().head
    assert(row.getDouble(0) == 0.0 && row.isNullAt(1) && row.isNullAt(2),
      s"remove-all stats row is (0, null, null), got $row")
    Seq("tk_bm2", "tk_bm2_ref").foreach(Warehouse.dropStore(spark, _, Seq("postings", "stats")))
  }

  test("cluster removal derives the RECORDED build threshold; a drifted explicit value and an incomplete family refuse") {
    Warehouse.dropStore(spark, "tk_th_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_th_cl", Seq("labels"))
    Warehouse.dropStore(spark, "tk_th_ref_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_th_ref_cl", Seq("labels"))
    Dedup.buildSignatureStore(corpus, "tk_th_sig")
    Dedup.buildClusterStoreFromSignatureStore(spark, "tk_th_sig", "tk_th_cl",
      threshold = 0.7)
    // maintain with a drifted explicit threshold refuses loudly (the
    // batch would be absorbed under a different clustering definition)
    val eM = intercept[IllegalArgumentException](
      Dedup.maintainClustersAgainstStore("tk_th_cl", "tk_th_sig",
        probeBatch.limit(5), threshold = 0.5))
    assert(eM.getMessage.contains("recorded build threshold"))
    // the removal cascade relabels at the RECORDED 0.7, not a default
    Dedup.removeFromSignatureStore(
      removedDocs.select(col("doc_id")).distinct(), "tk_th_sig")
    Dedup.removeFromClusterStore(spark, "tk_th_cl", "tk_th_sig")
    Dedup.buildSignatureStore(filteredCorpus, "tk_th_ref_sig")
    Dedup.buildClusterStoreFromSignatureStore(spark, "tk_th_ref_sig", "tk_th_ref_cl",
      threshold = 0.7)
    def labels(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "labels"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    }
    assert(labels("tk_th_cl") == labels("tk_th_ref_cl"),
      "the relabel used the store's recorded 0.7, identical to a 0.7 rebuild")
    // a family naming clusters without the signature store refuses: the
    // relabel NEEDS the filtered pair graph, silence would be an
    // incomplete takedown
    val eF = intercept[IllegalArgumentException](
      Dedup.removeDocs(removedDocs.select(col("doc_id"), col("text")),
        Dedup.DedupStoreFamily(clusters = Some("tk_th_cl"))))
    assert(eF.getMessage.contains("requires signature"))
    Seq("tk_th_sig", "tk_th_ref_sig").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
    Seq("tk_th_cl", "tk_th_ref_cl").foreach(Warehouse.dropStore(spark, _, Seq("labels")))
  }

  test("the d22 oracle replica degenerates to the plain probe on an empty removal list (no dangling AND)") {
    val sql = graft.OracleReplicas.d22TakedownProbe(removed = Seq.empty)
    assert(!sql.contains("AND  AND") && sql.contains("TRUE"))
  }

  test("deleteWhere surviving only NULL rows in a zone-mapped column rewrites without stats, never crashing or unsafely pruning") {
    val st = fresh()
    st.append(
      Seq((Option(5L), "m"), (Option.empty[Long], "n")).toDF("x", "v"), Seq("x"))
    // the rewrite keeps ONLY the x=null row: min/max over it are null,
    // and the sidecar pass must omit the column (a stat-less column is
    // never pruned on) instead of NPE-ing on an unboxed null
    st.deleteWhere(Where.Range("x", 0L, 10L))
    val rows = st.read().collect()
    assert(rows.length == 1 && rows.head.isNullAt(0) && rows.head.getString(1) == "n")
    // the surviving dir has no x-zone, so a later range read still scans
    // it (safe) and returns nothing (the null row matches no range)
    assert(st.read(where = Where.Range("x", 0L, 10L)).count() == 0)
  }

  test("a second takedown through the cascade is a no-op on an emptied novelty store, not a wedge") {
    Warehouse.dropStore(spark, "tk_nov4", Seq("shdf"))
    val small = corpus.filter(col("doc_id") < 20)
    Dedup.buildNoveltyStore(small, "tk_nov4")
    Dedup.removeFromNoveltyStore(small.select(col("doc_id"), col("text")), "tk_nov4")
    // the emptied store can no longer record k; removing MORE docs from
    // it must no-op (the subtraction result is empty under any k), not
    // throw mid-cascade on a k the caller cannot know
    val before = Warehouse.resolveGeneration(spark, "tk_nov4")
    Dedup.removeFromNoveltyStore(
      corpus.filter(col("doc_id") >= 20 && col("doc_id") < 30)
        .select(col("doc_id"), col("text")), "tk_nov4")
    assert(Warehouse.resolveGeneration(spark, "tk_nov4") == before,
      "the no-op publishes no new generation")
    Warehouse.dropStore(spark, "tk_nov4", Seq("shdf"))
  }

  test("after a full takedown an append takes the recorded k; a drifted explicit k refuses") {
    Warehouse.dropStore(spark, "tk_nov5", Seq("shdf"))
    val small = corpus.filter(col("doc_id") < 20)
    Dedup.buildNoveltyStore(small, "tk_nov5", k = 3)
    Dedup.removeFromNoveltyStore(small.select(col("doc_id"), col("text")), "tk_nov5")
    val batch = corpus.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    // a drifted k refuses before anything publishes (an index at k = 5
    // would never match the k = 3 probes)
    val e = intercept[IllegalArgumentException](
      Dedup.appendToNoveltyStore(batch, "tk_nov5", k = 5))
    assert(e.getMessage.contains("built width"))
    assert(Warehouse.resolveSegmented(spark, "tk_nov5")._2.isEmpty)
    // the append without k takes the recorded 3, and probing the
    // absorbed batch itself finds every shingle seen
    assert(Dedup.appendToNoveltyStore(batch, "tk_nov5").nonEmpty)
    val probed = Dedup.noveltyAgainstStore("tk_nov5", batch).collect()
    assert(probed.nonEmpty && probed.forall(r =>
      r.getAs[Long]("n_shingles") == 0 || r.getAs[Double]("novelty_frac") == 0.0),
      "the segment was written at the recorded k")
    Warehouse.dropStore(spark, "tk_nov5", Seq("shdf"))
  }

  test("substring takedown → append → grow probes identically to a one-shot rebuild") {
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Int]("start_new"), r.getAs[Int]("start_old"),
        r.getAs[Long]("span_tokens"))).toSet
    Warehouse.dropStore(spark, "tk_sub4", Seq("shingles"))
    Warehouse.dropStore(spark, "tk_sub4_ref", Seq("shingles"))
    Dedup.buildSubstringStore(corpus.filter(col("doc_id") < 200), "tk_sub4")
    Dedup.removeFromSubstringStore(
      corpus.filter(col("doc_id") >= 100 && col("doc_id") < 150).select(col("doc_id")), "tk_sub4")
    // the takedown fold keeps the build's column order, so the grow
    // fold's positional union with the segment lines up
    val folded = Warehouse.resolveGeneration(spark, "tk_sub4")
    assert(spark.table(Warehouse.storeTableName("tk_sub4", folded, "shingles"))
      .columns.toSeq == Seq("h", "doc_id", "pos"))
    Dedup.appendToSubstringStore(corpus.filter(col("doc_id") >= 200), "tk_sub4")
    Dedup.growSubstringStore("tk_sub4", spark)
    Dedup.buildSubstringStore(corpus.filter(col("doc_id") < 100 || col("doc_id") >= 150),
      "tk_sub4_ref")
    val got = key(Dedup.substringSpansAgainstStore("tk_sub4", probeBatch))
    assert(got == key(Dedup.substringSpansAgainstStore("tk_sub4_ref", probeBatch)))
    assert(got.nonEmpty)
    Seq("tk_sub4", "tk_sub4_ref").foreach(Warehouse.dropStore(spark, _, Seq("shingles")))
  }

  test("maintain on an emptied cluster store derives the recorded threshold; publish keeps the layout") {
    Warehouse.dropStore(spark, "tk_cl2_sig", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "tk_cl2", Seq("labels"))
    val half = corpus.filter(col("doc_id") < 50)
    Dedup.buildSignatureStore(half, "tk_cl2_sig")
    Dedup.buildClusterStoreFromSignatureStore(spark, "tk_cl2_sig", "tk_cl2",
      threshold = 0.7, buckets = 16)
    // a maintained publish derives the 16-bucket layout from the prior
    // generation, never the session's default fan-out
    val batch = corpus.filter(col("doc_id") >= 50 && col("doc_id") < 60)
    val labels = Dedup.maintainClustersAgainstStore("tk_cl2", "tk_cl2_sig",
      batch, threshold = 0.0)
    Dedup.publishMaintainedClusters(labels, "tk_cl2")
    val g1 = Warehouse.resolveGeneration(spark, "tk_cl2")
    val layout = Warehouse.storeLayout(spark, "cluster", "tk_cl2", g1, "labels")
    assert(layout.buckets == 16, "the maintained generation keeps the build's bucket count")
    // and it carried the recorded threshold forward, as a layout record
    assert(layout.double("threshold") == 0.7)
    assert(spark.table(Warehouse.storeTableName("tk_cl2", g1, "labels"))
      .columns.toSeq == Seq("doc_id", "cluster_id"))
    // empty the store: the takedown relabel over the emptied sig store
    Dedup.removeFromSignatureStore(half.select(col("doc_id")).distinct(), "tk_cl2_sig")
    Dedup.removeFromClusterStore(spark, "tk_cl2", "tk_cl2_sig")
    val g2 = Warehouse.resolveGeneration(spark, "tk_cl2")
    assert(spark.table(Warehouse.storeTableName("tk_cl2", g2, "labels")).isEmpty)
    // the emptied store still records 0.7: a defaulted maintain derives
    // it (never the 0.5 default) and equals the explicit 0.7 one
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(rows(Dedup.maintainClustersAgainstStore("tk_cl2", "tk_cl2_sig", corpus)) ==
      rows(Dedup.maintainClustersAgainstStore("tk_cl2", "tk_cl2_sig", corpus, threshold = 0.7)))
    val eM = intercept[IllegalArgumentException](
      Dedup.maintainClustersAgainstStore("tk_cl2", "tk_cl2_sig", batch, threshold = 0.5))
    assert(eM.getMessage.contains("recorded build threshold"))
    Seq("tk_cl2_sig").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
    Seq("tk_cl2").foreach(Warehouse.dropStore(spark, _, Seq("labels")))
  }
}
