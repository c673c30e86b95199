package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{Tables, Warehouse}

class WarehouseSpec extends SparkSpecBase {

  /** Drop leftover catalog entries AND their on-disk locations from a
    * previous JVM (the in-memory catalog forgets, the dir persists).
    */
  private def cleanTables(names: String*): Unit =
    names.foreach(Warehouse.drop(spark, _))

  /** The generation chain of the table store `store`. */
  private def chain(store: String): graft.sources.GenerationChain =
    Warehouse.tableStore(spark, store, Nil).chain

  test("co-bucketed tables join without any shuffle exchange") {
    val t = Tables(spark, sfDir)
    cleanTables("wh_orders", "wh_lineitem")
    Warehouse.writeBucketed(t.orders, "wh_orders", "o_orderkey", 8)
    Warehouse.writeBucketed(
      t.lineitem.select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "wh_lineitem", "l_orderkey", 8)

    val joined = Warehouse.table(spark, "wh_lineitem")
      .join(Warehouse.table(spark, "wh_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))

    val physical = joined.queryExecution.executedPlan.toString
    // the join itself must be exchange-free; only the final aggregation
    // may shuffle (different key)
    val joinPart = physical.split("HashAggregate").last
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$physical")

    // and results equal the plain-parquet join
    val expected = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val got = joined.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == expected)
  }

  test("persisted signature store: ingest probe equals d7 and never shuffles the store side") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "sigstore", Seq("bands", "sigs"))

    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "sigstore")
    val probe = graft.operators.Dedup.minhashIncrementalAgainstStore(
      "sigstore", t.documents.filter(col("doc_id") >= 250))
    val got = probe.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet

    // bit-equivalent to recomputing the corpus signatures in-job (d7)
    val want = graft.operators.Dedup.minhashIncremental(t, 250).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(got == want, s"store probe diverged from d7: got $got want $want")
    assert(got.nonEmpty, "the sf0.001 corpus has cross-split near-dups")

    // the store-side band table must be read co-partitioned: the only
    // hash exchange on band keys is the batch side's explicit
    // repartition (fband_hash) — a store-side shuffle would re-move the
    // whole corpus index on every ingest
    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(band_hash"),
      s"store bands must never shuffle:\n$physical")
    assert(physical.contains("hashpartitioning(fband_hash"),
      s"the batch side aligns to the store's bucket layout:\n$physical")
  }

  test("signature store SEGMENT append: probe ≡ one-shot rebuild, per-generation reads stay co-partitioned, committed tags skip replays") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet

    // base over the first 200 docs; docs 200-250 arrive as an append
    // SEGMENT; the probe (docs >= 250) must see base ∪ segment exactly
    // as a one-shot store over the first 250 would
    Warehouse.dropStore(spark, "sigseg", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "sigseg_ref", Seq("bands", "sigs"))
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 200), "sigseg")
    val seg = graft.operators.Dedup.appendToSignatureStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "sigseg",
      dedupeTag = Some("sigb:0"))
    assert(seg.nonEmpty, "the segment publishes")
    val (base, segs) = Warehouse.resolveSegmented(spark, "sigseg")
    assert(segs == Seq(seg.get), s"the live read set is (base=$base, segments=$segs)")
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "sigseg_ref")
    val probe = graft.operators.Dedup.minhashIncrementalAgainstStore(
      "sigseg", t.documents.filter(col("doc_id") >= 250))
    assert(key(probe) == key(graft.operators.Dedup.minhashIncrementalAgainstStore(
      "sigseg_ref", t.documents.filter(col("doc_id") >= 250))),
      "base ∪ segment must probe exactly like a one-shot store over the union")
    assert(key(probe).nonEmpty)

    // the at-scale property survives segments: NO store-side band-key
    // shuffle — each generation's bucketed table is read co-partitioned
    // (a union-then-join would re-shuffle the whole index per ingest)
    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(band_hash"),
      s"store bands must never shuffle, even segmented:\n$physical")

    // committed tag skips the replay; the derived cluster build reads
    // base ∪ segments (labels ≡ a build from the one-shot twin store)
    assert(graft.operators.Dedup.appendToSignatureStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "sigseg",
      dedupeTag = Some("sigb:0")).isEmpty,
      "a committed segment batch must never re-append")
    Warehouse.dropStore(spark, "sigseg_cl", Seq("labels"))
    Warehouse.dropStore(spark, "sigseg_cl_ref", Seq("labels"))
    graft.operators.Dedup.buildClusterStoreFromSignatureStore(spark, "sigseg", "sigseg_cl")
    graft.operators.Dedup.buildClusterStoreFromSignatureStore(spark, "sigseg_ref", "sigseg_cl_ref")
    def storeLabels(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "labels"))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    }
    assert(storeLabels("sigseg_cl") == storeLabels("sigseg_cl_ref") &&
      storeLabels("sigseg_cl").nonEmpty,
      "labels derived from the segmented store equal the one-shot twin's")
    Seq("sigseg", "sigseg_ref").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
    Seq("sigseg_cl", "sigseg_cl_ref").foreach(Warehouse.dropStore(spark, _, Seq("labels")))
  }

  test("substring store SEGMENT append: probe ≡ one-shot rebuild, k derived from the store, grow folds losslessly under race") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Int]("start_new"), r.getAs[Int]("start_old"),
        r.getAs[Long]("span_tokens"))).toSet
    Warehouse.dropStore(spark, "subseg", Seq("shingles"))
    Warehouse.dropStore(spark, "subseg_ref", Seq("shingles"))
    graft.operators.Dedup.buildSubstringStore(
      t.documents.filter(col("doc_id") < 200), "subseg")
    val seg = graft.operators.Dedup.appendToSubstringStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "subseg",
      dedupeTag = Some("subb:0"))
    assert(seg.nonEmpty, "the segment publishes")
    graft.operators.Dedup.buildSubstringStore(
      t.documents.filter(col("doc_id") < 250), "subseg_ref")
    val probe = graft.operators.Dedup.substringSpansAgainstStore(
      "subseg", t.documents.filter(col("doc_id") >= 250))
    val want = key(graft.operators.Dedup.substringSpansAgainstStore(
      "subseg_ref", t.documents.filter(col("doc_id") >= 250)))
    assert(key(probe) == want && want.nonEmpty,
      "base ∪ segment must probe exactly like a one-shot store over the union")
    // at-scale shape survives segments: the only hash exchange on the
    // shingle key is the batch side's explicit repartition
    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(h#"),
      s"store occurrences must never shuffle, even segmented:\n$physical")
    // committed tag skips the replay
    assert(graft.operators.Dedup.appendToSubstringStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "subseg",
      dedupeTag = Some("subb:0")).isEmpty)
    // drifted k fails loudly instead of silently missing every span
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.substringSpansAgainstStore(
        "subseg", t.documents.filter(col("doc_id") >= 250), k = 5)
    }
    assert(e.getMessage.contains("pass 0 to derive"))
    // GROW: fold base ∪ segment to the next full build, racing a
    // mid-fold segment append — the conditional publish refuses, the
    // re-fold absorbs it, and probing still equals the one-shot store
    Warehouse.dropStore(spark, "subseg_ref2", Seq("shingles"))
    var raced = false
    graft.operators.Dedup.growSubstringStoreHooked("subseg", spark,
      beforePublish = () => if (!raced) {
        raced = true
        assert(graft.operators.Dedup.appendToSubstringStore(
          t.documents.filter(col("doc_id") >= 250 && col("doc_id") < 300),
          "subseg", dedupeTag = Some("subb:1")).nonEmpty)
      })
    assert(raced)
    graft.operators.Dedup.buildSubstringStore(
      t.documents.filter(col("doc_id") < 300), "subseg_ref2")
    val probe2 = graft.operators.Dedup.substringSpansAgainstStore(
      "subseg", t.documents.filter(col("doc_id") >= 300))
    assert(key(probe2) == key(graft.operators.Dedup.substringSpansAgainstStore(
      "subseg_ref2", t.documents.filter(col("doc_id") >= 300))),
      "the re-fold absorbed the mid-fold segment losslessly")
    val (_, segsAfter) = Warehouse.resolveSegmented(spark, "subseg")
    assert(segsAfter.isEmpty, "the fold's winner is a full build")
    Seq("subseg", "subseg_ref", "subseg_ref2")
      .foreach(Warehouse.dropStore(spark, _, Seq("shingles")))
  }

  test("novelty store SEGMENT append: seen-anywhere probe ≡ one-shot rebuild; grow sum-merges df exactly") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("novel_shingles"), r.getAs[Double]("novelty_frac"))).toSet
    Warehouse.dropStore(spark, "novseg", Seq("shdf"))
    Warehouse.dropStore(spark, "novseg_ref", Seq("shdf"))
    graft.operators.Dedup.buildNoveltyStore(
      t.documents.filter(col("doc_id") < 200), "novseg")
    assert(graft.operators.Dedup.appendToNoveltyStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "novseg",
      dedupeTag = Some("novb:0")).nonEmpty)
    graft.operators.Dedup.buildNoveltyStore(
      t.documents.filter(col("doc_id") < 250), "novseg_ref")
    val probe = graft.operators.Dedup.noveltyAgainstStore(
      "novseg", t.documents.filter(col("doc_id") >= 250))
    assert(key(probe) == key(graft.operators.Dedup.noveltyAgainstStore(
      "novseg_ref", t.documents.filter(col("doc_id") >= 250))),
      "seen-anywhere over base ∪ segment ≡ the one-shot index")
    // replay skip
    assert(graft.operators.Dedup.appendToNoveltyStore(
      t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250), "novseg",
      dedupeTag = Some("novb:0")).isEmpty)
    // grow: the folded df table IS the one-shot build's, row for row
    // (df additive across the disjoint doc sets)
    graft.operators.Dedup.growNoveltyStore("novseg", spark)
    def dfRows(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "shdf"))
        .collect().map(r => (r.getAs[Long]("h"), r.getAs[Long]("df"))).toSet
    }
    assert(dfRows("novseg") == dfRows("novseg_ref") && dfRows("novseg").nonEmpty,
      "sum-merged df ≡ one-shot df")
    val (_, segsAfter) = Warehouse.resolveSegmented(spark, "novseg")
    assert(segsAfter.isEmpty)
    Seq("novseg", "novseg_ref").foreach(Warehouse.dropStore(spark, _, Seq("shdf")))
  }

  test("a store table written without a layout record refuses with the rebuild message") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, size, array_distinct}
    import graft.functions.GraftFunctions.{ws_tokens, shingle_hashes}
    val t = Tables(spark, sfDir)
    // hand-write a novelty generation (h, df) bucketed like a build but
    // with no recorded k, and publish it under the generation protocol
    Warehouse.dropStore(spark, "novbare", Seq("shdf"))
    val gen = chain("novbare").claim()
    val dsh = t.documents.filter(col("doc_id") < 250)
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), 3))).as("h"))
    Warehouse.writeBucketed(
      dsh.groupBy(col("h")).agg(count(lit(1)).as("df")),
      Warehouse.storeTableName("novbare", gen, "shdf"), "h", 32)
    chain("novbare").publishFull(gen)
    val batch = t.documents.filter(col("doc_id") >= 250)
    // neither a derived nor an explicit k probes a store whose width is
    // unknown: a guessed one reads every shingle novel
    for (k <- Seq(0, 3)) {
      val e = intercept[IllegalStateException](
        graft.operators.Dedup.noveltyAgainstStore("novbare", batch, k = k))
      assert(e.getMessage.contains("rebuild the store") && e.getMessage.contains("'k'"),
        e.getMessage)
    }
    val eA = intercept[IllegalStateException](
      graft.operators.Dedup.appendToNoveltyStore(batch, "novbare", k = 3))
    assert(eA.getMessage.contains("rebuild the store"))
    assert(Warehouse.resolveSegmented(spark, "novbare")._2.isEmpty, "nothing published")
    Warehouse.dropStore(spark, "novbare", Seq("shdf"))
  }

  test("drop deletes managed data but never an external table's foreign location") {
    import spark.implicits._
    // EXTERNAL table at a location outside the warehouse root: drop
    // must forget the catalog entry and leave the data untouched (the
    // catalog never owned it — a shared remote path would be destroyed)
    val extDir = java.nio.file.Files.createTempDirectory("graft_ext_").toString + "/shared"
    Seq((1L, "keep"), (2L, "me")).toDF("id", "v").write.parquet(extDir)
    spark.sql("DROP TABLE IF EXISTS ext_keep")
    spark.sql(s"CREATE TABLE ext_keep (id BIGINT, v STRING) USING parquet LOCATION '$extDir'")
    assert(spark.table("ext_keep").count() == 2)
    Warehouse.drop(spark, "ext_keep")
    assert(!spark.catalog.tableExists("ext_keep"))
    assert(new java.io.File(extDir).isDirectory &&
      spark.read.parquet(extDir).count() == 2,
      "external data at a foreign location survives the drop")
    // MANAGED table: drop reclaims the warehouse-owned location
    cleanTables("managed_gone")
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("managed_gone")
    val loc = spark.sql("DESCRIBE EXTENDED managed_gone").collect()
      .find(_.getString(0) == "Location").get.getString(1).stripPrefix("file:")
    assert(new java.io.File(loc).isDirectory)
    Warehouse.drop(spark, "managed_gone")
    assert(!new java.io.File(loc).exists(), "managed data is reclaimed on drop")
  }

  test("fold-vs-append race: a segment published mid-fold refuses the fold's publish; the re-fold absorbs it losslessly") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"))).toSet

    // base < 150; the fold absorbs batch [150, 200); a RACING ingest
    // publishes segment [200, 250) inside the fold window (the
    // documented compact-while-streaming usage). Without the
    // conditional publish, the fold's full build would supersede that
    // segment WITHOUT its rows while its committed tag blocks the
    // replay — docs 200-249's signatures silently and permanently gone.
    Warehouse.dropStore(spark, "foldrace", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "foldrace_ref", Seq("bands", "sigs"))
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 150), "foldrace")
    var raced = false
    graft.operators.Dedup.growSignatureStoreHooked(
      t.documents.filter(col("doc_id") >= 150 && col("doc_id") < 200), "foldrace",
      beforePublish = () => if (!raced) {
        raced = true
        assert(graft.operators.Dedup.appendToSignatureStore(
          t.documents.filter(col("doc_id") >= 200 && col("doc_id") < 250),
          "foldrace", dedupeTag = Some("race:0")).nonEmpty,
          "the mid-fold segment publishes against the still-live base")
      })
    assert(raced, "the seam fired")

    // the racing segment's rows survived the fold: probing the folded
    // store equals a one-shot store over ALL 250 docs
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "foldrace_ref")
    val probe = graft.operators.Dedup.minhashIncrementalAgainstStore(
      "foldrace", t.documents.filter(col("doc_id") >= 250))
    val want = key(graft.operators.Dedup.minhashIncrementalAgainstStore(
      "foldrace_ref", t.documents.filter(col("doc_id") >= 250)))
    assert(key(probe) == want && want.nonEmpty,
      "the re-fold must absorb the mid-fold segment's rows exactly")
    // the racing batch's tag stays committed (its rows ARE in the live
    // read set, via the re-fold) and the live set is one full build
    assert(chain("foldrace").tagCommitted("race:0"))
    val (_, segsAfter) = Warehouse.resolveSegmented(spark, "foldrace")
    assert(segsAfter.isEmpty, "the fold's winner is a full build with no live segments")
    Seq("foldrace", "foldrace_ref").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
  }

  test("probe layout derives from the store; a drifted caller parameter fails loudly") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    // a NON-default build (numHashes=32, bands=8, buckets=16): probes
    // called with defaults must derive this layout from the store
    Warehouse.dropStore(spark, "oddlayout", Seq("bands", "sigs"))
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "oddlayout",
      numHashes = 32, bands = 8, buckets = 16)
    val probe = graft.operators.Dedup.minhashIncrementalAgainstStore(
      "oddlayout", t.documents.filter(col("doc_id") >= 250))
    val rows = probe.collect()
    assert(rows.nonEmpty, "the derived-layout probe finds the cross-split dups")
    assert(rows.forall(_.getAs[Double]("est_jaccard") <= 1.0))
    // an explicit matching parameter validates fine…
    graft.operators.Dedup.minhashIncrementalAgainstStore(
      "oddlayout", t.documents.filter(col("doc_id") >= 250),
      numHashes = 32, bands = 8, buckets = 16).collect()
    // …and a drifted one fails loudly instead of silently missing dups
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.minhashIncrementalAgainstStore(
        "oddlayout", t.documents.filter(col("doc_id") >= 250), numHashes = 64)
    }
    assert(e.getMessage.contains("differs from signature store"))
    // the substring/novelty probes share the rule through their bucket
    // derivation: default derives the non-default build's count, a
    // drifted explicit count refuses
    Warehouse.dropStore(spark, "oddsub", Seq("shingles"))
    graft.operators.Dedup.buildSubstringStore(
      t.documents.filter(col("doc_id") < 250), "oddsub", buckets = 16)
    assert(graft.operators.Dedup.substringSpansAgainstStore("oddsub",
      t.documents.filter(col("doc_id") >= 250)).collect().nonEmpty)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.substringSpansAgainstStore("oddsub",
        t.documents.filter(col("doc_id") >= 250), buckets = 7)
    }
    assert(e2.getMessage.contains("pass 0 to derive"),
      s"substring probe bucket drift fails loudly: ${e2.getMessage}")
    Warehouse.dropStore(spark, "oddsub", Seq("shingles"))
    Warehouse.dropStore(spark, "oddlayout", Seq("bands", "sigs"))
  }

  test("persisted BPE dict store: encode equals t14 bit-identically and never shuffles the dict") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "bpestore", Seq("dict", "merges"))

    graft.operators.Bpe.buildDictStore(t, "bpestore")
    val probe = graft.operators.Bpe.bpeEncodeAgainstStore(t, "bpestore")
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Bpe.bpeEncode(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "store encode diverged from the in-job t14")
    assert(got.nonEmpty)

    // the persisted merge table is the same merges.txt artifact t13 emits
    val gen = Warehouse.resolveGeneration(spark, "bpestore")
    val merges = Warehouse.table(spark, Warehouse.storeTableName("bpestore", gen, "merges"))
      .orderBy(col("step")).collect().map(_.toSeq).toSeq
    val t13 = graft.operators.Bpe.bpeMerges(t).collect().map(_.toSeq).toSeq
    assert(merges == t13)

    // the dict is read co-partitioned: the only word-key exchange is the
    // probe side's explicit repartition (pword)
    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(word"),
      s"the dict store must never shuffle:\n$physical")
    assert(physical.contains("hashpartitioning(pword"),
      s"the probe side aligns to the store's bucket layout:\n$physical")
  }

  test("store encode falls back to true BPE for out-of-vocabulary words") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Warehouse.dropStore(spark, "bpestore2", Seq("dict", "merges"))
    graft.operators.Bpe.buildDictStore(Tables(spark, sfDir), "bpestore2")

    val dir = java.nio.file.Files.createTempDirectory("bpeoov").toString
    Seq((0L, "zzqx zzqx the", "en", "srcX", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Bpe.bpeEncodeAgainstStore(Tables(spark, dir), "bpestore2").collect()
    assert(rows.length == 1, "a doc of unseen words must not vanish from the output")
    assert(rows(0).getLong(1) == 3L, "OOV occurrences still count as words")

    // reference: the stored merges applied in rank order to 'zzqx'
    def scanMerge(s: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.result()
    }
    val gen = Warehouse.resolveGeneration(spark, "bpestore2")
    val merges = Warehouse.table(spark, Warehouse.storeTableName("bpestore2", gen, "merges"))
      .orderBy(col("step")).collect()
    var syms = "zzqx".map(_.toString).toVector :+ graft.operators.Bpe.EndMark
    merges.foreach(m => syms = scanMerge(syms, m.getString(1), m.getString(2)))
    val theBpe = Warehouse.table(spark, Warehouse.storeTableName("bpestore2", gen, "dict"))
      .filter(col("word") === "the").collect()(0).getAs[Long]("word_bpe")
    assert(rows(0).getLong(2) == 2L * syms.length + theBpe)
  }

  test("persisted substring store: ingest probe equals d10 and never shuffles the store side") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "substore", Seq("shingles"))

    graft.operators.Dedup.buildSubstringStore(
      t.documents.filter(col("doc_id") < 250), "substore")
    val probe = graft.operators.Dedup.substringSpansAgainstStore(
      "substore", t.documents.filter(col("doc_id") >= 250))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Int]("start_new"), r.getAs[Int]("start_old"),
        r.getAs[Long]("span_tokens"))
    val got = probe.collect().map(key).toSet
    val want = graft.operators.Dedup.substringSpansIncremental(t, 250).collect().map(key).toSet
    assert(got == want, s"store probe diverged from d10: got $got want $want")
    assert(got.nonEmpty, "the sf0.001 corpus has cross-split duplicated spans")

    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(h#"),
      s"store shingles must never shuffle:\n$physical")
    assert(physical.contains("hashpartitioning(fh#"),
      s"the batch side aligns to the store's bucket layout:\n$physical")
  }

  test("persisted novelty store: ingest probe equals an absent-from-corpus recompute, store never shuffles") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "novstore", Seq("shdf"))
    graft.operators.Dedup.buildNoveltyStore(
      t.documents.filter(col("doc_id") < 250), "novstore")
    val probe = graft.operators.Dedup.noveltyAgainstStore(
      "novstore", t.documents.filter(col("doc_id") >= 250))

    // brute force: a new doc's shingle is novel iff NO corpus doc has it
    def shingles(s: String): Set[Seq[String]] = {
      val toks = s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      if (toks.length < 3) Set.empty else toks.sliding(3).map(_.toSeq).toSet
    }
    val all = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1)))
    val corpusSh = all.filter(_._1 < 250).flatMap(_._2).toSet
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = all.filter(_._1 >= 250).map { case (id, sh) =>
      val novel = sh.count(!corpusSh.contains(_)).toLong
      id -> ((sh.size.toLong, novel, if (sh.isEmpty) 0.0 else r4(novel.toDouble / sh.size)))
    }.toMap
    val got = probe.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, "store probe diverged from the absent-from-corpus recompute")
    assert(got.values.exists(_._2 > 0), "the increment carries genuinely novel shingles")
    assert(got.values.exists(v => v._2 < v._1), "the increment shares shingles with the corpus")

    val physical = probe.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange hashpartitioning(h#"),
      s"store df table must never shuffle:\n$physical")
    assert(physical.contains("hashpartitioning(fh#"),
      s"the batch side aligns to the store's bucket layout:\n$physical")
  }

  test("store rebuild publishes a new generation; a probe racing it reads the old one bit-identically") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "genstore", Seq("bands", "sigs"))
    val batch = t.documents.filter(col("doc_id") >= 250)

    // generation 1: a SMALLER corpus than the rebuild will use, so the
    // two generations genuinely differ
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 150), "genstore")
    val g1 = Warehouse.currentGeneration(spark, "genstore").get
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"), r.getAs[Double]("est_jaccard"))
    // the in-flight probe: generation resolved NOW, before the rebuild
    val probe = graft.operators.Dedup.minhashIncrementalAgainstStore("genstore", batch)
    val before = probe.collect().map(key).toSet
    assert(before.nonEmpty)

    // the rebuild the verdict's race describes: under drop-and-overwrite
    // the racing probe read a dropped or half-written table; under
    // generations it must keep reading g1 unchanged
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "genstore")
    val g2 = Warehouse.currentGeneration(spark, "genstore").get
    assert(g2 > g1, "the rebuild must publish a NEW generation")
    val after = probe.collect().map(key).toSet
    assert(after == before, "the pre-rebuild probe must read its generation bit-identically")
    assert(spark.catalog.tableExists(Warehouse.storeTableName("genstore", g1, "bands")) &&
      spark.catalog.tableExists(Warehouse.storeTableName("genstore", g1, "sigs")),
      "the old generation must remain on disk until vacuumed")

    // a probe constructed AFTER the publish resolves g2 and equals the
    // in-job operator over the rebuilt corpus
    val fresh = graft.operators.Dedup.minhashIncrementalAgainstStore("genstore", batch)
      .collect().map(key).toSet
    val want = graft.operators.Dedup.minhashIncremental(t, 250).collect().map(key).toSet
    assert(fresh == want, "a fresh probe must see the new generation")
    assert(fresh != before, "the two generations differ on this corpus split")

    // vacuum reclaims everything but the current generation (minAgeMs=0:
    // no builder is active and no probe stays pinned past this line)
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "genstore", Seq("bands", "sigs")),
      keep = 1, minAgeMs = 0L)
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("genstore", g1, "bands")) &&
      !spark.catalog.tableExists(Warehouse.storeTableName("genstore", g1, "sigs")),
      "vacuum must drop the superseded generation")
    assert(Warehouse.currentGeneration(spark, "genstore").contains(g2),
      "vacuum must keep the current generation")
  }

  /** Chain-state helpers: the marker files are gone — protocol state
    * lives in the store's [[graft.sources.GenerationChain]].
    */
  private def chainEntry(store: String, gen: Long): Option[graft.sources.GenerationChain.Entry] =
    Warehouse.chainOf(spark, store).state().entry(gen)

  private def entryStatus(store: String, gen: Long): Option[String] =
    chainEntry(store, gen).map(_.status.wire)

  test("vacuum age gate: a seconds-old superseded generation survives the default floor") {
    Warehouse.dropStore(spark, "agestore", Seq("x"))
    val g1 = chain("agestore").claim()
    Warehouse.writeBucketed(spark.range(3).toDF("id"),
      Warehouse.storeTableName("agestore", g1, "x"), "id", 2)
    chain("agestore").publishFull(g1)
    val g2 = chain("agestore").claim()
    Warehouse.writeBucketed(spark.range(5).toDF("id"),
      Warehouse.storeTableName("agestore", g2, "x"), "id", 2)
    chain("agestore").publishFull(g2)
    assert(chainEntry("agestore", g1).exists(_.supersededAt > 0L),
      "publishing g2 must stamp g1's superseded instant — the age-gate clock " +
        "runs from when a generation LEFT the live read set, not from its publish")

    // default minAgeMs (1 h): g1 left the live set seconds ago — a probe
    // could still be pinned to it, so vacuum must leave it alone
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "agestore", Seq("x")),
      keep = 1, minAgeMs = 3600_000L)
    assert(spark.catalog.tableExists(Warehouse.storeTableName("agestore", g1, "x")),
      "the age gate must protect a freshly-superseded generation")
    assert(entryStatus("agestore", g1).contains("published"))

    // explicit 0 (caller asserts no pinned probes): g1 is reclaimed, g2 kept
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "agestore", Seq("x")),
      keep = 1, minAgeMs = 0L)
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("agestore", g1, "x")))
    assert(spark.catalog.tableExists(Warehouse.storeTableName("agestore", g2, "x")))
    assert(chainEntry("agestore", g1).isEmpty,
      "the reclaimed generation's chain entry is removed after its data delete")
    Warehouse.dropStore(spark, "agestore", Seq("x"))
  }

  test("vacuum never reclaims an in-flight build's claim") {
    Warehouse.dropStore(spark, "claimstore", Seq("x"))
    // an in-flight FIRST build: a claim with half-written tables and
    // nothing published — vacuum must not treat it as burned (deleting
    // its tables would let the build publish a broken generation)
    val g1 = chain("claimstore").claim()
    Warehouse.writeBucketed(spark.range(3).toDF("id"),
      Warehouse.storeTableName("claimstore", g1, "x"), "id", 2)
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "claimstore", Seq("x")),
      keep = 1, minAgeMs = 0L)
    assert(entryStatus("claimstore", g1).contains("claimed"),
      "with nothing published, every claim may be an in-flight first build")
    assert(spark.catalog.tableExists(Warehouse.storeTableName("claimstore", g1, "x")),
      "the in-flight build's tables must survive the claim sweep")

    // after the first publish: EVERY claim at or above the newest
    // published generation is protected — with two concurrent appenders
    // both hold such claims, and sweeping the lower one would fail that
    // append mid-write under a minAgeMs=0 vacuum
    chain("claimstore").publishFull(g1)
    val lower = chain("claimstore").claim()
    val upper = chain("claimstore").claim()
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "claimstore", Seq("x")),
      keep = 1, minAgeMs = 0L)
    assert(entryStatus("claimstore", lower).contains("claimed") &&
      entryStatus("claimstore", upper).contains("claimed"),
      "claims above the newest published generation may all be in-flight builds — none is swept")
    assert(entryStatus("claimstore", g1).contains("published"),
      "the kept generation stays published")
    // once a later build PUBLISHES past a claim, that claim is provably
    // dead (its number can never be the live generation) and reclaimed
    chain("claimstore").publishFull(upper)
    Warehouse.vacuumGenerations(Warehouse.tableStore(spark, "claimstore", Seq("x")),
      keep = 1, minAgeMs = 0L)
    assert(chainEntry("claimstore", lower).isEmpty,
      "a claim surpassed by a published generation is dead and reclaimed")
    Warehouse.dropStore(spark, "claimstore", Seq("x"))
  }

  test("IVF index rebuild publishes a new generation; a pinned probe survives; vacuum reclaims") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfgen_").resolve("idx").toString
    // generation 1 over a SUBSET corpus so the two generations genuinely
    // differ: neighbors past vec_id 60 only exist in generation 2
    val subDir = java.nio.file.Files.createTempDirectory("graft_ivfsub_").toString
    t.embeddings.filter(col("vec_id") < 60).write.parquet(s"$subDir/embeddings.parquet")
    graft.operators.Similarity.buildIvfIndex(Tables(spark, subDir), root)
    assert(graft.sources.Warehouse.pathStore(root).chain.state().current.contains(1L))

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val p1 = graft.operators.Similarity.searchIvfIndex(t, root)
    val r1 = p1.collect().map(key).toSeq
    assert(r1.nonEmpty)

    // rebuild over the FULL corpus: racing probes must see no clobber
    graft.operators.Similarity.buildIvfIndex(t, root)
    assert(graft.sources.Warehouse.pathStore(root).chain.state().current.contains(2L),
      "a rebuild claims and publishes the NEXT generation, never overwrites")
    assert(p1.collect().map(key).toSeq == r1,
      "a probe planned before the rebuild stays pinned to its generation bit-identically")
    val r2 = graft.operators.Similarity.searchIvfIndex(t, root).collect().map(key).toSeq
    assert(r2 != r1, "the full-corpus generation finds neighbors the subset lacked")

    // vacuum reclaims the old generation but never the kept one
    graft.sources.Warehouse.vacuumGenerations(
      graft.sources.Warehouse.pathStore(root), keep = 1, minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(graft.sources.Warehouse.pathGenData(root, 1L))),
      "vacuum deletes the superseded generation's data directory")
    assert(graft.sources.Warehouse.pathStore(root).chain.state().current.contains(2L))
    assert(graft.operators.Similarity.searchIvfIndex(t, root).collect().map(key).toSeq == r2,
      "the surviving generation reads back identically after vacuum")
  }

  test("IVF segment append: probe spans base ∪ segments, layout-invariant; rebuild supersedes; vacuum keeps the live set") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val half = emb.count() / 2
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))

    // one-segment layout: base = first half, one appended segment
    val root1 = java.nio.file.Files.createTempDirectory("graft_ivfseg1_").resolve("idx").toString
    graft.operators.Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root1)
    val pre = graft.operators.Similarity.searchIvfIndex(t, root1).collect().map(key).toSeq
    val seg = graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= half), root1)
    assert(seg.contains(2L), "the append claims and publishes the next generation")
    // an EMPTY increment publishes nothing: no schema-less parquet dir
    // may ever enter the probe's read set
    assert(graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") < 0), root1).isEmpty,
      "an empty increment must not publish a segment")
    val one = graft.operators.Similarity.searchIvfIndex(t, root1).collect().map(key).toSeq
    assert(one != pre && one.exists(_._3 >= half),
      "appended vectors must be reachable through the probe")

    // two-segment layout over the same rows must probe IDENTICALLY:
    // the read set is base ∪ segments regardless of how ingest batched
    val root2 = java.nio.file.Files.createTempDirectory("graft_ivfseg2_").resolve("idx").toString
    graft.operators.Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root2)
    val mid = half + (emb.count() - half) / 2
    graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= half && col("vec_id") < mid), root2)
    graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= mid), root2)
    assert(graft.operators.Similarity.searchIvfIndex(t, root2).collect().map(key).toSeq == one,
      "segment batching must not change probe results")

    // a rebuild over the full corpus supersedes the segments: the old
    // base's segment must NOT leak into the new base's probe (equality
    // with the in-job full-corpus IVF pins both absence and content)
    graft.operators.Similarity.buildIvfIndexOf(emb, root1)
    val rebuilt = graft.operators.Similarity.searchIvfIndex(t, root1).collect().map(key).toSeq
    assert(rebuilt == graft.operators.Similarity.ivf(t).collect().map(key).toSeq,
      "after a rebuild the probe equals the one-shot full-corpus IVF — superseded segments are ignored")

    // vacuum keeps the live base (and would keep its segments), reclaims
    // the superseded base + segment chain
    graft.operators.Similarity.vacuumIvfIndex(root1, minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(graft.sources.Warehouse.pathGenData(root1, 1L))) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(graft.sources.Warehouse.pathGenData(root1, 2L))),
      "vacuumIvfIndex reclaims the superseded base and its segment")
    assert(graft.operators.Similarity.searchIvfIndex(t, root1).collect().map(key).toSeq == rebuilt,
      "the live base reads back identically after vacuum")
  }

  test("IVF centroids live beside their generation: no hidden-path read from build to vacuum, and vacuum reclaims them") {
    import org.apache.spark.sql.functions.col
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import graft.operators.Similarity
    val t = Tables(spark, sfDir)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val half = emb.count() / 2
    val root = java.nio.file.Files.createTempDirectory("graft_ivfmodel_").resolve("idx").toString
    // Spark logs this when every path a read names looks hidden (a `_`-
    // or `.`-prefixed name), as a centroid directory inside a generation did
    val ignored = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new AbstractAppender("ignored-path-reads", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("All paths were ignored"))
          ignored.incrementAndGet(): Unit
    }
    counter.start()
    val dataSourceLog = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[CoreLogger]
    dataSourceLog.addAppender(counter)
    try {
      Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root) // g1
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= half), root) // g2, segment of g1
      assert(Similarity.searchIvfIndex(t, root).collect().nonEmpty)
      Similarity.removeFromIvfIndex(spark.range(3L, 4L).toDF("vec_id"), root) // g3
      assert(Similarity.searchIvfIndex(t, root).collect().nonEmpty)
      Similarity.vacuumIvfIndex(root, minAgeMs = 0L)
    } finally {
      dataSourceLog.removeAppender(counter)
      counter.stop()
    }
    assert(ignored.get() == 0, s"${ignored.get()} IVF reads named only hidden paths")
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    assert(Warehouse.pathStore(root).resolveSegmented() == ((3L, Seq.empty[Long])))
    assert(!exists(Warehouse.pathGenModel(root, 1L)) && !exists(Warehouse.pathGenData(root, 1L)) &&
      !exists(Warehouse.pathGenData(root, 2L)),
      "vacuum reclaims the superseded generations' data and centroids")
    assert(exists(Warehouse.pathGenModel(root, 3L)), "the live generation keeps its centroids")
  }

  test("segment probes keep their pruning: cid PartitionFilters on EVERY IVF scan, bucket pruning on EVERY postings scan") {
    import graft.operators.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)

    // IVF: base + one segment = two index data scans, each must carry
    // the cid IN-list in PartitionFilters (an unpruned segment scan
    // would silently read the whole segment at 100 TB)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfprune_").resolve("idx").toString
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val half = emb.count() / 2
    graft.operators.Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root)
    graft.operators.Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= half), root)
    val plan = Similarity.searchIvfIndex(t, root).queryExecution.executedPlan.toString
    val cidPruned = "PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r.findAllIn(plan).size
    assert(cidPruned >= 2, s"both the base and the segment scan must prune on cid:\n$plan")

    // BM25: base + one segment = two postings scans, each must
    // bucket-prune to the query terms' buckets
    Warehouse.dropStore(spark, "bm25prune", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25prune", buckets = 8)
    TextAnalysis.appendToBm25Store(t.documents.filter(col("doc_id") >= half), "bm25prune")
    val bplan = TextAnalysis.bm25AgainstStore(spark, "bm25prune")
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findAllMatchIn(bplan).map(_.group(1).toInt).toSeq
    assert(sel.size >= 2 && sel.forall(_ < 8),
      s"both postings scans must bucket-prune on the IN-list (got $sel):\n$bplan")
    Warehouse.dropStore(spark, "bm25prune", Seq("postings", "stats"))
  }

  test("a guard-tripped rebuild burns its claim and a fresh probe resolves the prior generation") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "guardprobe", Seq("bands", "sigs"))
    graft.operators.Dedup.buildSignatureStore(
      t.documents.filter(col("doc_id") < 250), "guardprobe")
    val g1 = Warehouse.currentGeneration(spark, "guardprobe").get
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"), r.getAs[Double]("est_jaccard"))
    val batch = t.documents.filter(col("doc_id") >= 250)
    val before = graft.operators.Dedup.minhashIncrementalAgainstStore("guardprobe", batch)
      .collect().map(key).toSet
    assert(before.nonEmpty)

    // the rebuild trips its guard (bound 0: any non-empty bucket fails)
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.buildSignatureStore(
        t.documents.filter(col("doc_id") < 250), "guardprobe",
        maxBandBucket = Some(0L))
    }
    assert(e.getMessage.contains("not published"))

    // probe side of the guard contract: a probe constructed AFTER the
    // tripped rebuild still resolves g1 and reads it bit-identically
    assert(Warehouse.currentGeneration(spark, "guardprobe").contains(g1),
      "a tripped rebuild must leave the prior generation current")
    val after = graft.operators.Dedup.minhashIncrementalAgainstStore("guardprobe", batch)
      .collect().map(key).toSet
    assert(after == before, "a fresh probe after a tripped rebuild must equal the pre-trip probe")
    // and the failed build reclaimed its own claim entry
    assert(chainEntry("guardprobe", g1 + 1).isEmpty,
      "a tripped guard must burn its claim so the generation number is not leaked forever")
    Warehouse.dropStore(spark, "guardprobe", Seq("bands", "sigs"))
  }

  test("persisted BM25 index: store query equals in-job t17 and prunes to the terms' buckets") {
    import graft.operators.TextAnalysis
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "bm25idx", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents, "bm25idx", buckets = 8)
    val probe = TextAnalysis.bm25AgainstStore(spark, "bm25idx")
    // the scan must touch only the query terms' buckets, never all 8
    val physical = probe.queryExecution.executedPlan.toString
    val selected = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(physical).map(_.group(1).toInt)
    assert(selected.exists(_ < 8),
      s"postings scan must bucket-prune on the IN-list:\n$physical")
    val got = probe.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val exp = TextAnalysis.bm25(t).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exp, "store query equals the in-job operator on the indexed corpus")
    Warehouse.dropStore(spark, "bm25idx", Seq("postings", "stats"))
  }

  test("BM25 segment append: probe equals a one-shot build over the union, batching-invariant; rebuild supersedes") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    val half = t.documents.count() / 2
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

    // base on the first half, one appended segment = bit-identity with
    // the full one-shot store (t22's probe) AND the in-job t17
    Warehouse.dropStore(spark, "bm25seg", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25seg", buckets = 8)
    val pre = key(TextAnalysis.bm25AgainstStore(spark, "bm25seg"))
    val seg = TextAnalysis.appendToBm25Store(
      t.documents.filter(col("doc_id") >= half), "bm25seg")
    assert(seg.contains(2L), "the append claims and publishes the next generation")
    assert(TextAnalysis.appendToBm25Store(
      t.documents.filter(col("doc_id") < 0), "bm25seg").isEmpty,
      "an empty increment must not publish a segment")
    val one = key(TextAnalysis.bm25AgainstStore(spark, "bm25seg"))
    assert(one != pre, "appended documents must be reachable (and shift df/avgdl)")
    assert(one == key(TextAnalysis.bm25(t)),
      "after the append the probe is bit-identical to in-job t17 over the union corpus")

    // two-segment batching over the same rows probes identically
    Warehouse.dropStore(spark, "bm25seg2", Seq("postings", "stats"))
    val mid = half + (t.documents.count() - half) / 2
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25seg2", buckets = 8)
    TextAnalysis.appendToBm25Store(
      t.documents.filter(col("doc_id") >= half && col("doc_id") < mid), "bm25seg2")
    TextAnalysis.appendToBm25Store(
      t.documents.filter(col("doc_id") >= mid), "bm25seg2")
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25seg2")) == one,
      "segment batching must not change probe results")

    // a rebuild over a DIFFERENT corpus slice supersedes the segments:
    // the old base's segment must not leak into the new base's probe
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25seg", buckets = 8)
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25seg")) == pre,
      "after a rebuild the probe reads the new full build alone — superseded segments are ignored")

    // vacuum keeps the live base, reclaims the superseded chain
    Warehouse.vacuumSegmentedStore(spark, "bm25seg", Seq("postings", "stats"), minAgeMs = 0L)
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("bm25seg", 1L, "postings")) &&
      !spark.catalog.tableExists(Warehouse.storeTableName("bm25seg", 2L, "postings")),
      "vacuumSegmentedStore reclaims the superseded base and its segment")
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25seg")) == pre,
      "the live base reads back identically after vacuum")
    Warehouse.dropStore(spark, "bm25seg", Seq("postings", "stats"))
    Warehouse.dropStore(spark, "bm25seg2", Seq("postings", "stats"))
  }

  test("dedupe-tagged appends are replay-idempotent; keep-count vacuums protect a kept segment's base") {
    import graft.operators.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    val half = t.documents.count() / 2
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

    // BM25: the same streamId:batchId tag appended twice publishes once
    // (foreachBatch's at-least-once replay after crash recovery)
    Warehouse.dropStore(spark, "bm25replay", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25replay", buckets = 8)
    val inc = t.documents.filter(col("doc_id") >= half)
    val first = TextAnalysis.appendToBm25Store(inc, "bm25replay",
      dedupeTag = Some("q1:7"))
    assert(first.nonEmpty)
    val scores = key(TextAnalysis.bm25AgainstStore(spark, "bm25replay"))
    assert(TextAnalysis.appendToBm25Store(inc, "bm25replay",
      dedupeTag = Some("q1:7")).isEmpty,
      "a replayed batch (same tag) must not publish a second segment")
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25replay")) == scores,
      "the store must be unchanged after the replayed append")
    // the derived bucket layout: the segment must carry the BASE's 8
    // buckets, not the session's default fan-out
    assert(Warehouse.storeLayout(spark, "BM25", "bm25replay", first.get, "postings")
      .buckets == 8,
      "the segment must inherit the base build's bucket layout")
    Warehouse.dropStore(spark, "bm25replay", Seq("postings", "stats"))

    // IVF: same replay rule, and the keep-count vacuum cannot drop a
    // base that a kept segment names
    val root = java.nio.file.Files.createTempDirectory("graft_ivfreplay_").resolve("idx").toString
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root)
    val inc2 = emb.filter(col("vec_id") >= half)
    assert(Similarity.appendToIvfIndex(inc2, root, dedupeTag = Some("q2:3")).nonEmpty)
    val probe = Similarity.searchIvfIndex(t, root).collect().length
    assert(Similarity.appendToIvfIndex(inc2, root, dedupeTag = Some("q2:3")).isEmpty,
      "a replayed vector batch must not publish a second segment")
    assert(Similarity.searchIvfIndex(t, root).collect().length == probe)
    // a SECOND live segment: a keep=1 vacuum must drop NEITHER the base
    // nor either sibling segment (the whole live group is protected)
    val mid = half + (emb.count() - half) / 2
    // (re-split the original increment so ids stay disjoint)
    Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root + "2")
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= half && col("vec_id") < mid), root + "2", Some("s:0"))
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= mid), root + "2", Some("s:1"))
    val full = Similarity.searchIvfIndex(t, root + "2").collect().length
    Warehouse.vacuumGenerations(Warehouse.pathStore(root + "2"), keep = 1, minAgeMs = 0L)
    assert((1L to 3L).forall(g => java.nio.file.Files.exists(
      java.nio.file.Paths.get(Warehouse.pathGenData(root + "2", g)))),
      "a keep-count vacuum must never delete any member of the live group (base + its segments)")
    assert(Similarity.searchIvfIndex(t, root + "2").collect().length == full)

    // keep=1 would keep only the segment (gen 2) — the base it names
    // must survive anyway
    Warehouse.vacuumGenerations(Warehouse.pathStore(root), keep = 1, minAgeMs = 0L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(Warehouse.pathGenData(root, 1L))),
      "a keep-count vacuum must never delete the live base out from under its kept segment")
    assert(Similarity.searchIvfIndex(t, root).collect().length == probe,
      "the probe still spans base ∪ segment after the vacuum")

    // the tag survives the segment's vacuum: after a rebuild supersedes
    // it and the segmented vacuum reclaims it, a replay of the same
    // batch must STILL skip (the tagdone echo), not double-append onto
    // the new base
    Similarity.buildIvfIndexOf(emb, root)
    Similarity.vacuumIvfIndex(root, minAgeMs = 0L)
    assert(Similarity.appendToIvfIndex(inc2, root, dedupeTag = Some("q2:3")).isEmpty,
      "a committed batch id must never re-append, even across rebuild + vacuum")
  }

  test("a failed append burns its segment mark: the re-issued generation number is a clean full build") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "bm25burn", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < 100), "bm25burn", buckets = 8)

    // the append fails mid-write (the text column is missing, so the
    // generation writer's plan fails to resolve); its claim AND its
    // would-be segment mark must both burn
    intercept[Throwable] {
      TextAnalysis.appendToBm25Store(
        t.documents.filter(col("doc_id") >= 100).drop("text"), "bm25burn")
    }
    assert(chain("bm25burn").segmentBase(2L).isEmpty,
      "the failed append's segment mark must not survive its burned claim")

    // gen 2 is re-issuable; a FULL rebuild published under it must
    // resolve as the live base — NOT as a segment of gen 1 (which would
    // double-count the base corpus in every probe)
    TextAnalysis.buildBm25Store(t.documents, "bm25burn", buckets = 8)
    val (base, segs) = Warehouse.resolveSegmented(spark, "bm25burn")
    assert(base == 2L && segs.isEmpty,
      s"the re-issued generation must be a clean full build, got base=$base segs=$segs")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25burn")) == key(TextAnalysis.bm25(t)),
      "probes of the re-issued generation must score the full corpus exactly once")
    Warehouse.dropStore(spark, "bm25burn", Seq("postings", "stats"))
  }

  test("cluster maintenance equals the full recompute, composes across batches, and relabels merged clusters") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSeq

    // identity with d6 on the real corpus (the gate's contract at spec scale)
    Warehouse.dropStore(spark, "d19s_sigs", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "d19s_cl", Seq("labels"))
    Dedup.buildSignatureStore(t.documents.filter(col("doc_id") < 50), "d19s_sigs")
    Dedup.buildClusterStore(t.documents.filter(col("doc_id") < 50), "d19s_cl")
    val maintained = Dedup.maintainClustersAgainstStore(
      "d19s_cl", "d19s_sigs", t.documents.filter(col("doc_id") >= 50))
    assert(key(maintained) == key(Dedup.clusters(t)) && key(maintained).nonEmpty,
      "maintenance must equal d6's full recompute bit-for-bit")

    // the store-derived build (the gate row's composition: labels from
    // the PERSISTED sigs/bands, text hashed exactly once) is
    // bit-identical to the text-sourced build over the same docs
    Warehouse.dropStore(spark, "d19s_cl2", Seq("labels"))
    Dedup.buildClusterStoreFromSignatureStore(spark, "d19s_sigs", "d19s_cl2")
    def storeLabels(name: String) = {
      val g = Warehouse.resolveGeneration(spark, name)
      Warehouse.table(spark, Warehouse.storeTableName(name, g, "labels"))
        .orderBy(col("cluster_id"), col("doc_id"))
    }
    assert(key(storeLabels("d19s_cl2")) == key(storeLabels("d19s_cl")) &&
      key(storeLabels("d19s_cl2")).nonEmpty,
      "labels derived from the signature store must equal the text-sourced build")

    // the INGEST LOOP composes: publish the maintained labeling, rebuild
    // the signature store over the grown corpus, absorb a second batch —
    // still identical to the one-shot recompute. A crafted corpus makes
    // the interesting event certain: batch 2's bridge doc (jaccard 0.5
    // to each side at threshold 0.3) MERGES two previously separate
    // clusters, so old docs must RELABEL to the merged min
    val c1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val c2 = "one two three four five six seven eight nine ten"
    val crafted = Seq(
      (0L, c1), (1L, c1 + " extra"),                    // cluster {0,1}
      (2L, c2), (3L, c2 + " more"),                     // cluster {2,3}
      (4L, c1 + " " + c2))                              // batch-2 bridge
      .toDF("doc_id", "text")
    // 32 two-hash bands: at the bridge's true jaccard ≈ 0.47 a band
    // collision is near-certain (1 − (1 − 0.47²)³² ≈ 1), where the
    // default 4-hash bands collide only ~55% — the craft must not
    // depend on seed luck
    val full = Dedup.clustersOfPairs(
      Dedup.minhashPairsOf(crafted, bands = 32, threshold = 0.3)
        .select(col("doc_a"), col("doc_b")))
    val fullRows = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fullRows.map(_._2).distinct == Seq(0L),
      s"crafting precondition: the bridge doc must merge everything into cluster 0, got $fullRows")

    Warehouse.dropStore(spark, "d19c_sigs", Seq("bands", "sigs"))
    Warehouse.dropStore(spark, "d19c_cl", Seq("labels"))
    Dedup.buildSignatureStore(crafted.filter(col("doc_id") < 4), "d19c_sigs",
      bands = 32, maxBandBucket = None)
    Dedup.buildClusterStore(crafted.filter(col("doc_id") < 4), "d19c_cl",
      bands = 32, threshold = 0.3)
    val before = Dedup.maintainClustersAgainstStore("d19c_cl", "d19c_sigs",
      crafted.filter(col("doc_id") < 0), bands = 32, threshold = 0.3) // empty batch: unchanged labeling
    assert(before.collect().map(_.getLong(1)).distinct.sorted.toSeq == Seq(0L, 2L),
      "precondition: two separate clusters before the bridge arrives")
    Dedup.publishMaintainedClusters(before, "d19c_cl")
    // the next batch probes a REBUILT signature store over the grown corpus
    Dedup.buildSignatureStore(crafted.filter(col("doc_id") < 4), "d19c_sigs",
      bands = 32, maxBandBucket = None)
    val after = Dedup.maintainClustersAgainstStore("d19c_cl", "d19c_sigs",
      crafted.filter(col("doc_id") === 4L), bands = 32, threshold = 0.3)
    assert(after.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == fullRows,
      "the bridge batch must merge and RELABEL the old clusters to the one-shot recompute's labels")
    Seq("d19s_sigs", "d19c_sigs").foreach(Warehouse.dropStore(spark, _, Seq("bands", "sigs")))
    Seq("d19s_cl", "d19s_cl2", "d19c_cl").foreach(Warehouse.dropStore(spark, _, Seq("labels")))
  }

  test("d16 gate row: the registered store-probe query is row-identical to d7's recompute") {
    // the queries() entry owns drop -> build -> publish -> probe; its
    // declared oracle contract is output-identity with d7, pinned here
    // at spec scale before the DuckDB gate sees it at sf0.01
    val d16 = SparkEntry.queries("d16_store_probe")(spark, sfDir).collect().map(_.toSeq).toSet
    val d7 = SparkEntry.queries("d7_dedup_incremental")(spark, sfDir).collect().map(_.toSeq).toSet
    assert(d16 == d7 && d16.nonEmpty)
  }

  test("append-vs-rebuild race: the lost publish is refused atomically and the appender re-appends against the winner") {
    import graft.operators.{Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)
    val half = t.documents.count() / 2
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

    // BM25: a rebuild publishes between the segment's table write and
    // its publish — the publish commit itself detects the superseded
    // base and REFUSES (nothing becomes visible), and the appender
    // re-appends as a segment of the winner
    Warehouse.dropStore(spark, "bm25race", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25race", buckets = 8)
    val batch = t.documents.filter(col("doc_id") >= half)
    var rebuilt = false
    val seg = TextAnalysis.appendToBm25StoreHooked(batch, "bm25race", Some("r:1"), () => {
      if (!rebuilt) { rebuilt = true
        TextAnalysis.buildBm25Store(t.documents.filter(col("doc_id") < half), "bm25race", buckets = 8)
      }
    })
    assert(seg.contains(4L),
      "attempt 1 (gen 2) lost to the rebuild (gen 3); the re-append must publish gen 4")
    assert(Warehouse.resolveSegmented(spark, "bm25race") == ((3L, Seq(4L))),
      "the live read set is the winning rebuild plus the re-appended segment")
    assert(chain("bm25race").tagCommitted("r:1"))
    assert(TextAnalysis.appendToBm25Store(batch, "bm25race", dedupeTag = Some("r:1")).isEmpty,
      "the re-appended batch's tag commits exactly once")
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25race")) == key(TextAnalysis.bm25(t)),
      "after the lost race the batch is in the index — never silently dropped")
    // NO ORPHAN: the refused generation was never published, so no probe
    // can hold it — its tables are dropped and its claim burned on the
    // spot (the old protocol's published-orphan grace period is gone
    // because the state it protected is unreachable)
    assert(!spark.catalog.tableExists(Warehouse.storeTableName("bm25race", 2L, "postings")),
      "the refused segment's tables are reclaimed immediately")
    assert(chainEntry("bm25race", 2L).isEmpty,
      "the refused segment leaves no chain entry")
    Warehouse.vacuumSegmentedStore(spark, "bm25race", Seq("postings", "stats"), minAgeMs = 0L)
    assert(Warehouse.resolveSegmented(spark, "bm25race") == ((3L, Seq(4L))),
      "the vacuum never touches the live group")
    Warehouse.dropStore(spark, "bm25race", Seq("postings", "stats"))

    // IVF: same protocol on the path store
    val root = java.nio.file.Files.createTempDirectory("graft_ivfrace_").resolve("idx").toString
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val vhalf = emb.count() / 2
    Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < vhalf), root)
    var vrebuilt = false
    val vseg = Similarity.appendToIvfIndexHooked(
      emb.filter(col("vec_id") >= vhalf), root, Some("v:1"), () => {
        if (!vrebuilt) { vrebuilt = true
          Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < vhalf), root)
        }
      })
    assert(vseg.contains(4L))
    assert(Warehouse.pathStore(root).resolveSegmented() == ((3L, Seq(4L))))
    assert(Warehouse.pathStore(root).chain.tagCommitted("v:1"))
    assert(Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= vhalf), root, Some("v:1")).isEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(Warehouse.pathGenData(root, 2L))),
      "the refused segment's data dir is reclaimed immediately (it was never visible)")
    Similarity.vacuumIvfIndex(root, minAgeMs = 0L)
    assert(Warehouse.pathStore(root).resolveSegmented() == ((3L, Seq(4L))))
  }

  test("segment publish is the single atomic commit point: stale publishes refuse, committed tags are durable forever") {
    import graft.sources.SupersededBaseException
    val store = "tagproto"
    Warehouse.dropStore(spark, store, Seq("x"))

    val g1 = chain(store).claim() // full build
    chain(store).publishFull(g1)
    val g2 = chain(store).claim() // segment of g1
    chain(store).publishSegment(g2, g1, Some("commit:1"))
    // the tag commits ATOMICALLY with the publish — no confirmation
    // step, no window where the rows are live but the tag is not
    assert(chain(store).tagCommitted("commit:1"))

    val g3 = chain(store).claim() // rebuild
    chain(store).publishFull(g3)
    assert(chain(store).tagCommitted("commit:1"),
      "a committed tag stays committed after the rebuild (the rebuild absorbed its batch)")

    // the old protocol's ORPHAN shape — an appender publishing a
    // segment of a superseded base — is now a REFUSED commit: the
    // publish throws, nothing becomes visible, the tag never commits
    val g4 = chain(store).claim()
    intercept[SupersededBaseException] {
      chain(store).publishSegment(g4, g1, Some("stale:1"))
    }
    assert(!chain(store).tagCommitted("stale:1"),
      "a refused publish must not commit its tag — the replay re-appends")
    assert(entryStatus(store, g4).contains("claimed"),
      "the refused generation is still just a claim (the appender burns it)")
    chain(store).burn(g4)

    // a live-base segment whose appender then crashes: its tag committed
    // at publish and STAYS committed through the next rebuild — under
    // atomic publish there is no 'unconfirmed' state to lose
    val g5 = chain(store).claim()
    chain(store).publishSegment(g5, g3, Some("crash:1"))
    val g6 = chain(store).claim()
    chain(store).publishFull(g6)
    assert(chain(store).tagCommitted("crash:1"),
      "rows that were in the live read set at publish are never silently re-appended")

    // vacuum reclaims the superseded chain; every committed tag survives
    Warehouse.vacuumSegmentedStore(spark, store, Seq("x"), minAgeMs = 0L)
    assert(chain(store).tagCommitted("commit:1") &&
      chain(store).tagCommitted("crash:1"),
      "committed tags survive their segments' vacuum")
    assert(!chain(store).tagCommitted("stale:1"),
      "vacuum never resurrects a refused tag")
    assert(chainEntry(store, g2).isEmpty && chainEntry(store, g3).isEmpty &&
      chainEntry(store, g5).isEmpty,
      "the superseded base and its segments are reclaimed")

    // claim protection: EVERY claim above the newest published generation
    // survives a minAgeMs=0 vacuum (two concurrent in-flight appends)
    val c7 = chain(store).claim()
    val c8 = chain(store).claim()
    Warehouse.vacuumSegmentedStore(spark, store, Seq("x"), minAgeMs = 0L)
    assert(entryStatus(store, c7).contains("claimed") &&
      entryStatus(store, c8).contains("claimed"),
      "in-flight claims above the newest published generation are never swept")
    // once a later build PUBLISHES, a dead lower claim is reclaimed
    chain(store).publishFull(c8)
    Warehouse.vacuumSegmentedStore(spark, store, Seq("x"), minAgeMs = 0L)
    assert(chainEntry(store, c7).isEmpty,
      "a claim surpassed by a published generation is dead and reclaimed")
    Warehouse.dropStore(spark, store, Seq("x"))
  }

  test("bm25AgainstStore reads stores persisted before dl_sum existed") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = Tables(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    Warehouse.dropStore(spark, "bm25legacy", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents, "bm25legacy", buckets = 8)
    val gen = Warehouse.resolveGeneration(spark, "bm25legacy")
    val statsT = Warehouse.storeTableName("bm25legacy", gen, "stats")
    // rewrite the stats table in the pre-dl_sum shape (n_docs, avgdl)
    val old = spark.table(statsT).select(col("n_docs"), col("avgdl")).collect()(0)
    Warehouse.drop(spark, statsT)
    Seq((old.getDouble(0), old.getDouble(1))).toDF("n_docs", "avgdl")
      .write.format("parquet").saveAsTable(statsT)
    assert(key(TextAnalysis.bm25AgainstStore(spark, "bm25legacy")) == key(TextAnalysis.bm25(t)),
      "a single-generation legacy store must score with its stored avgdl, not fail")
    Warehouse.dropStore(spark, "bm25legacy", Seq("postings", "stats"))
  }

  test("graph edge store: store-path ranks are bit-identical and the per-round join never moves the edge side") {
    import graft.operators.Graph
    import graft.sources.PlanAudit
    import org.apache.spark.sql.functions.{col, lit, min}
    val t = Tables(spark, sfDir)
    Warehouse.dropStore(spark, "graphedges", Seq("edges", "wedges"))
    Graph.buildEdgeStore(t, "graphedges", buckets = 32)

    // bit-identity with the in-memory loops: identical integer
    // arithmetic, identical rounds — the deployment path changes ONLY
    // the physical join shape, never a rank value
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(Graph.pagerankAgainstStore(spark, "graphedges")) == rows(Graph.pagerank(t)),
      "g1 against the store must be bit-identical to the in-memory loop")
    assert(rows(Graph.weightedPagerankAgainstStore(spark, "graphedges")) ==
      rows(Graph.weightedPagerank(t)),
      "g9 against the store must be bit-identical to the in-memory loop")
    assert(rows(Graph.personalizedPagerankAgainstStore(spark, "graphedges")) ==
      rows(Graph.personalizedPagerank(t)),
      "g5 against the store must be bit-identical to the in-memory loop")

    // exchange shape of ONE round under a forced shuffle join (broadcast
    // disabled — the billion-node regime the store exists for): the
    // bucketed edge side must NEVER enter an exchange, and dropping the
    // bucket layout must cost exactly one more shuffle (the edge side)
    val edgesDeg = Graph.storeTable(spark, "graphedges", "edges")
    val ranks0 = edgesDeg.groupBy(col("src")).agg(min(col("deg")).as("deg"))
      .select(col("src").as("node"), lit(Graph.Rank0).as("rank"))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = PlanAudit.planAudit(
        Graph.pagerankRound(ranks0, edgesDeg, broadcastRanks = false)).collect()
      assert(bucketed.exists(r => r.getString(0) == "scan" &&
        r.getString(1).contains("graphedges")), "the round must scan the store table")
      val bucketedShuffles = bucketed.filter(_.getString(0) == "shuffle").map(_.getString(6))
      assert(!bucketedShuffles.exists(_.contains("src#")),
        s"the edge side must never shuffle (bucket layout co-locates it): " +
          bucketedShuffles.mkString("; "))
      // same round, same inputs, bucket layout stripped (localCheckpoint
      // rematerializes the rows without the catalog bucketing)
      val plain = PlanAudit.planAudit(Graph.pagerankRound(
        ranks0, edgesDeg.localCheckpoint(true), broadcastRanks = false)).collect()
      val nPlain = plain.count(_.getString(0) == "shuffle")
      assert(bucketedShuffles.length == nPlain - 1,
        s"dropping the bucket layout must cost exactly the edge-side exchange: " +
          s"bucketed=${bucketedShuffles.length} plain=$nPlain")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    Warehouse.dropStore(spark, "graphedges", Seq("edges", "wedges"))
  }

  test("PlanAudit surfaces the store layer's plan shape as data") {
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    import graft.sources.PlanAudit
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sfDir)

    // BM25 probe: the postings scan must show bucket pruning (|terms|
    // of 8 buckets) and the term filter pushed to parquet
    Warehouse.dropStore(spark, "auditbm25", Seq("postings", "stats"))
    TextAnalysis.buildBm25Store(t.documents, "auditbm25", buckets = 8)
    val bmAudit = PlanAudit.planAudit(
      TextAnalysis.bm25AgainstStore(spark, "auditbm25")).collect()
    val postingScans = bmAudit.filter(r => r.getString(0) == "scan" &&
      r.getString(1).contains("auditbm25") && r.getString(1).contains("postings"))
    assert(postingScans.nonEmpty, "the probe must scan the postings table")
    assert(postingScans.forall(_.getString(5).matches("\\d+ out of 8")),
      s"bucket pruning must select from the base's 8 buckets: ${postingScans.mkString}")
    assert(postingScans.exists(_.getString(3).contains("In(token")),
      "the term filter must reach the parquet scan")
    Warehouse.dropStore(spark, "auditbm25", Seq("postings", "stats"))

    // signature-store ingest probe: NO shuffle moves store-side band
    // keys; the only band-key exchange is the batch side's explicit
    // alignment (fband_hash) — WarehouseSpec's string assertion, as data
    Warehouse.dropStore(spark, "auditsig", Seq("bands", "sigs"))
    Dedup.buildSignatureStore(t.documents.filter(col("doc_id") < 250), "auditsig")
    val sigAudit = PlanAudit.planAudit(Dedup.minhashIncrementalAgainstStore(
      "auditsig", t.documents.filter(col("doc_id") >= 250))).collect()
    val shuffles = sigAudit.filter(_.getString(0) == "shuffle").map(_.getString(6))
    assert(!shuffles.exists(_.contains("(band_hash#")),
      s"store bands must never shuffle: ${shuffles.mkString("; ")}")
    assert(shuffles.exists(_.contains("fband_hash")),
      "the batch side aligns to the store's bucket layout")
    Warehouse.dropStore(spark, "auditsig", Seq("bands", "sigs"))

    // IVF probe: the index scan must carry a cid partition filter
    // (directory pruning — the index's load-bearing scale property)
    val root = java.nio.file.Files.createTempDirectory("graft_audit_").resolve("idx").toString
    Similarity.buildIvfIndex(t, root)
    val ivfProbe = Similarity.searchIvfIndex(t, root)
    ivfProbe.collect() // execute THIS plan: AQE inserts codegen per stage
    val ivfAudit = PlanAudit.planAudit(ivfProbe).collect()
    val idxScans = ivfAudit.filter(r => r.getString(0) == "scan" &&
      r.getString(1).contains("/idx/"))
    assert(idxScans.nonEmpty && idxScans.forall(_.getString(4).contains("cid")),
      s"the IVF index scan must prune on cid: ${idxScans.mkString}")

    // codegen rows: every audited plan runs at least one whole-stage
    // span, and spans report their fused operator count
    val spans = ivfAudit.filter(_.getString(0) == "codegen")
    assert(spans.nonEmpty && spans.forall(_.getString(6).matches("fused=[1-9]\\d*")),
      s"codegen spans must surface with their fused sizes: ${spans.mkString}")
  }

  test("runConcurrently rethrows one failure carrying every other task's as suppressed") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException](Warehouse.runConcurrently(Seq(
      () => throw new IllegalStateException("left write failed"),
      () => { ran.incrementAndGet(); () },
      () => throw new IllegalStateException("right write failed"))))
    assert(ran.get == 1, "every task runs to completion before the rethrow")
    val messages = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(messages == Set("left write failed", "right write failed"),
      s"both failures must be reachable from the rethrown one: $messages")
  }

  test("runConcurrently cancels a running sibling job on the first failure and keeps its error as suppressed") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val longJob = "warehouse-spec: sibling long job"
    val started = new java.util.concurrent.CountDownLatch(1)
    val jobIds = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val results = new java.util.concurrent.ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == longJob)) {
          jobIds.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = results.put(e.jobId, e.jobResult): Unit
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val e = try intercept[IllegalStateException](Warehouse.runConcurrently(Seq(
      () => {
        assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS), "the long job started")
        throw new IllegalStateException("first failure")
      },
      () => {
        sc.setJobDescription(longJob)
        // each task idles until it is killed, or for at most 60 s
        sc.parallelize(1 to 2, 2).map { x =>
          val ctx = org.apache.spark.TaskContext.get()
          val deadline = System.currentTimeMillis() + 60000L
          while (!ctx.isInterrupted() && System.currentTimeMillis() < deadline) Thread.sleep(10)
          x
        }.count(): Unit
      })))
    finally {
      org.apache.spark.sql.GraftSparkInterop.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert((System.nanoTime() - t0) / 1e9 < 45, "the sibling did not run to its deadline")
    assert(e.getMessage == "first failure", "the first failure is the one rethrown")
    val suppressed = e.getSuppressed.toSeq
    assert(suppressed.size == 1 && suppressed.head.getMessage.toLowerCase.contains("cancel"),
      s"the cancelled sibling's error rides along: ${suppressed.map(_.getMessage)}")
    val ids = jobIds.asScala.toSeq
    // JobFailed is Spark-private: its rendering carries the cancellation
    assert(ids.size == 1 && results.get(ids.head) != JobSucceeded &&
      String.valueOf(results.get(ids.head)).toLowerCase.contains("cancel"),
      s"the sibling's job ended cancelled: ${ids.map(results.get)}")
  }

  test("IVF segment-union probe returns k neighbors for every query") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sfDir).embeddings.select(col("vec_id"), col("embedding"))
    val half = emb.count() / 2
    val root = java.nio.file.Files.createTempDirectory("graft_ivfshape_").resolve("idx").toString
    graft.operators.Similarity.buildIvfIndexOf(emb.filter(col("vec_id") < half), root)
    assert(graft.operators.Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= half), root).nonEmpty)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val perQuery = graft.operators.Similarity.searchIvfIndexWith(q, root).collect()
      .groupBy(_.getAs[Long]("query_id")).map { case (id, rows) => id -> rows.length }
    assert(perQuery == (0L until 10L).map(_ -> 5).toMap,
      s"base ∪ segment probe: 10 queries × top-5, got $perQuery")
  }
}
