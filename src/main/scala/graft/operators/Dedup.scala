package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSparkInterop, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.GraftFunctions._
import graft.sources.{Tables, Warehouse}

/** Document deduplication family. The common scale shape: compute a
  * compact per-row sketch map-side (custom codegen expressions), shuffle
  * only on small bucket keys, and verify candidates — never materialize
  * the O(n²) pair space.
  */
object Dedup {

  /** d1: exact dedup — content-hash groupBy, keep min doc_id. One shuffle
    * on a 128-bit hash; at 100 TB this is the canonical "hash-groupBy"
    * exact dedup (no raw-text shuffle: only (hash, id) pairs move).
    */
  def exact(t: Tables): DataFrame =
    t.documents
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
      .orderBy(col("content_hash"))

  /** Tokenized view shared by the text-dedup ops. [[spreadIfNarrow]]
    * spreads a degenerate few-split input over all cores before the
    * CPU-heavy hash work, and passes a well-split (at-scale) scan through
    * with NO text exchange — only the signatures derived from it ever
    * need spreading.
    */
  private def tokenized(t: Tables): DataFrame =
    spreadIfNarrow(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))

  /** d2: MinHash + LSH banding. numHashes=64 split into 16 bands of 4 —
    * S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5 Jaccard. The self-join runs
    * on (band_idx, band_hash) bucket keys only; candidate pairs are then
    * scored by signature agreement. Pairs, not clusters, are the output —
    * transitive closure is a separate (cheap) connected-components pass.
    */
  /** LSH candidate pair ids (deduped). Only (band, hash, id) triples ever
    * shuffle — signatures and text stay columnar at their source until a
    * pair survives banding. This is the shape that holds at 100 TB: the
    * wide payload is re-attached to the (tiny) surviving pair set by join.
    */
  private[operators] def lshCandidates(sigs: DataFrame, bands: Int): DataFrame = {
    val banded = sigs.select(
      col("doc_id"),
      posexplode(sig_bands(col("sig"), bands)))
      .select(col("doc_id"), col("pos").as("band_idx"), col("col").as("band_hash"))
    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  def minhashLsh(t: Tables, numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame =
    minhashPairsOf(t.documents, numHashes, bands, threshold)

  /** d2 over any (doc_id, text) frame — also the batch-internal pair
    * source for d19's cluster maintenance (the new×new side the d7
    * cross-probe cannot see).
    */
  def minhashPairsOf(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame =
    minhashPairsOfSigs(hashedSigsOf(docs, numHashes), numHashes, bands, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The d2 hash pass alone — (doc_id, sig) materialized once (the
    * signatures feed three plan branches: banding + both sig-attach
    * joins; at scale a checkpoint of n×(64 longs), tiny next to the
    * corpus text). Shared by [[minhashPairsOf]], the store probe and
    * d19's maintenance so a composed caller hashes the batch text
    * exactly once.
    */
  private def hashedSigsOf(docs: DataFrame, numHashes: Int): DataFrame =
    spreadIfNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), shingle_minhash(col("tokens"), 2, numHashes, 42L).as("sig"))
      .localCheckpoint(true)

  /** d2's pair scoring over PRE-HASHED signatures — UNordered (the
    * composing callers union into a checkpoint, where a presentation
    * sort is a wasted range exchange; [[minhashPairsOf]] re-adds it).
    */
  private def minhashPairsOfSigs(sigs: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame =
    lshCandidates(sigs, bands)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard",
        sig_agreement(col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))

  /** d7: INCREMENTAL dedup — a batch of new documents against the
    * EXISTING corpus (the shape of every real ingest: the corpus only
    * grows, and each increment must not re-pair the history against
    * itself). One-sided LSH: new docs' band keys join existing docs'
    * band keys — history×history pairs never form, so the work is
    * O(increment × collisions), not O(corpus²). At 100 TB the existing
    * side is a PRECOMPUTED signature store (n×64 longs, the d2
    * checkpoint persisted); an increment reads bands, not text.
    * `splitId` stands in for the ingest boundary (doc_id >= splitId =
    * the new batch), like dc1's benchmark split.
    */
  def minhashIncremental(t: Tables, splitId: Long = 250, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val sigs = tokenized(t)
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), shingle_minhash(col("tokens"), 2, numHashes, 42L).as("sig"))
      .localCheckpoint(true) // the signature store: banding + both attaches read it
    val banded = sigs.select(
      col("doc_id"),
      posexplode(sig_bands(col("sig"), bands)))
      .select(col("doc_id"), col("pos").as("band_idx"), col("col").as("band_hash"))
    val existing = banded.filter(col("doc_id") < splitId)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("dup_of"))
    val fresh = banded.filter(col("doc_id") >= splitId)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("new_id"))
    fresh.join(existing, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("dup_of"))
      .distinct()
      .join(sigs.select(col("doc_id").as("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(sigs.select(col("doc_id").as("dup_of"), col("sig").as("sig_b")), Seq("dup_of"))
      .withColumn("est_jaccard",
        sig_agreement(col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("dup_of"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** The PERSISTED form of d7's signature store: at 100 TB the existing
    * corpus's MinHash signatures are computed ONCE per corpus generation
    * and written as bucketed warehouse tables, so every subsequent
    * ingest batch probes band hashes from disk instead of re-scanning
    * and re-hashing corpus text:
    *
    *   - `<name>_bands` (band_idx, band_hash, doc_id), bucketed on
    *     band_hash — the ingest probe's join side, read co-partitioned
    *     with zero store-side shuffle;
    *   - `<name>_sigs` (doc_id, sig), bucketed on doc_id — the verify
    *     stage's signature attach.
    *
    * Same kernels and constants as d2/d7 (shingle_minhash seed 42), so
    * probing the store is bit-equivalent to recomputing — spec-verified
    * against [[minhashIncremental]].
    *
    * The signature length and band count are the store's layout record
    * (`numHashes`, `bands` — [[Warehouse.writeBucketed]]'s catalog
    * properties, beside the bucket spec): appends, folds and probes read
    * them back instead of trusting a caller-repeated parameter.
    *
    * GENERATIONS: each build writes fresh `<name>__g<N>_{sigs,bands}`
    * tables and atomically publishes N only when both are complete
    * ([[Warehouse.build]]) —
    * a rebuild never touches the live generation, so probes racing it
    * keep reading their resolved generation bit-identically
    * (spec-verified). Old generations are reclaimed by
    * [[Warehouse.vacuumGenerations]].
    */
  def buildSignatureStore(docs: DataFrame, name: String, numHashes: Int = 64,
      bands: Int = 16, buckets: Int = 0,
      maxBandBucket: Option[Long] = Some(QuadraticGuardDefault)): Unit = {
    val layout = Warehouse.Layout(buckets,
      Map("numHashes" -> numHashes.toString, "bands" -> bands.toString))
    Warehouse.build(signatureStore(docs.sparkSession, name)) { gen =>
      writeSignatureGeneration(docs, name, gen, layout, maxBandBucket)
    }: Unit
  }

  private def signatureStore(spark: SparkSession, name: String): Warehouse.Store =
    Warehouse.tableStore(spark, name, Seq("sigs", "bands"))

  /** ONE definition of a signature-store generation's content — the
    * sigs table (bucketed doc_id) and the band index derived from
    * READING IT BACK (bucketed band_hash) — shared by the full build
    * and the segment append so the hash→band chain cannot drift between
    * them (the append ≡ one-shot contract rests on both writing exactly
    * this). Corpus text is hashed exactly once: the sigs table streams
    * to disk in the hash pass; nothing corpus-sized is ever held
    * resident (an eager checkpoint here grew superlinearly past ~1M
    * docs on a single host). The quadratic guard (ON by default) checks
    * the compact band index after the single-pass write: a band bucket
    * holding B docs makes every probe hitting it emit B candidate rows,
    * so a corpus-hot bucket (near-constant documents, a broken
    * tokenizer) refuses publication by throwing — the caller's guarded
    * cleanup unpublishes.
    */
  private def writeSignatureGeneration(docs: DataFrame, name: String, gen: Long,
      layout: Warehouse.Layout, maxBandBucket: Option[Long]): Long = {
    val spark = docs.sparkSession
    // hash the batch text ONCE into an eager checkpoint, then publish
    // the sigs table and the band index from the same frame
    // CONCURRENTLY (guide §2.6): both write jobs are mostly fixed cost
    // at ingest-batch sizes, and the band derivation is a row-for-row
    // function of the checkpointed frame — exactly what the sigs table
    // will contain — so the hash→band chain keeps its single
    // definition. (Measured: the two sequential publishes were ~2/3 of
    // every store phase's wall at sf0.1.)
    val (input, rows) = counted(spreadIfNarrow(docs.select(col("doc_id"), col("text"))))
    val hashed = input
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"),
        shingle_minhash(col("tokens"), 2, layout.int("numHashes"), 42L).as("sig"))
      .localCheckpoint(true)
    writeSignatureTables(spark, name, gen, layout, hashed, bandsOf(hashed, layout),
      maxBandBucket)
    rows()
  }

  /** The band index of (doc_id, sig) rows under `layout`'s band count,
    * in the build's (band_idx, band_hash, doc_id) column order.
    */
  private def bandsOf(sigs: DataFrame, layout: Warehouse.Layout): DataFrame =
    sigs.select(col("doc_id"), posexplode(sig_bands(col("sig"), layout.int("bands"))))
      .select(col("pos").as("band_idx"), col("col").as("band_hash"), col("doc_id"))

  /** Publish one generation's sigs and band index CONCURRENTLY under
    * `layout` (both frames must depend only on inputs that exist before
    * either write), then run the quadratic guard over the band index.
    */
  private def writeSignatureTables(spark: SparkSession, name: String, gen: Long,
      layout: Warehouse.Layout, sigs: DataFrame, bands: DataFrame,
      maxBandBucket: Option[Long]): Unit = {
    val bandsT = Warehouse.storeTableName(name, gen, "bands")
    Warehouse.writeBucketedConcurrently(Seq(
      (sigs, Warehouse.storeTableName(name, gen, "sigs"), "doc_id"),
      (bands, bandsT, "band_hash")), layout.buckets, layout.constants)
    checkBandBuckets(spark, name, bandsT, maxBandBucket)
  }

  /** The quadratic guard over a just-written band index: a band bucket
    * holding more than `maxBandBucket` docs throws, refusing the
    * publish (the caller's guarded cleanup drops the generation).
    */
  private def checkBandBuckets(spark: SparkSession, name: String, bandsT: String,
      maxBandBucket: Option[Long]): Unit =
    maxBandBucket.foreach { m =>
      val worst = Warehouse.table(spark, bandsT)
        .groupBy(col("band_idx"), col("band_hash")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).limit(1).collect()
      worst.headOption.foreach { r =>
        throw new IllegalStateException(
          s"signature store '$name' band bucket exceeds maxBandBucket=$m: " +
            s"band ${r.get(0)} hash ${r.get(1)} holds ${r.getAs[Long]("n")} docs — " +
            "every probe hitting it would be quadratic; store not published " +
            "(fix the corpus or opt out with maxBandBucket = None)")
      }
    }

  /** The signature store's layout: its base generation's record. */
  private def signatureLayout(spark: SparkSession, name: String, base: Long,
      values: Seq[Warehouse.Given] = Nil, buckets: Int = 0): Warehouse.Layout =
    Warehouse.storeLayout(spark, "signature", name, base, "bands", buckets, values)

  /** Segment-append for the SIGNATURE store — the t23/s11 incremental
    * model at the dedup layer: a batch of NEW documents lands as a
    * SEGMENT generation (its own sigs + bands tables in the base's
    * exact layout, every constant derived from the store), published
    * through the shared [[Warehouse.appendSegmentWith]] protocol
    * (committed-tag skip, atomic publish-or-refuse, guarded cleanup).
    * Probes ([[minhashIncrementalAgainstStore]]) read base ∪ segments,
    * each per-generation join still co-partitioned against its bucketed
    * table. Work per ingest batch is O(batch) — the corpus is hashed
    * once per rebuild, not once per batch ([[growSignatureStore]] is
    * the corresponding COMPACTION: it folds base + segments + batch
    * into the next full build, superseding the segments). Callers
    * append NEW doc_ids only (the d7/d16 ingest contract).
    */
  def appendToSignatureStore(docs: DataFrame, name: String,
      dedupeTag: Option[String] = None,
      maxBandBucket: Option[Long] = Some(QuadraticGuardDefault)): Option[Long] = {
    val spark = docs.sparkSession
    Warehouse.appendSegmentWith[Warehouse.Layout](signatureStore(spark, name),
      dedupeTag,
      prepare = base => signatureLayout(spark, name, base),
      writeData = (gen, layout) =>
        writeSignatureGeneration(docs, name, gen, layout, maxBandBucket))
  }

  /** COMPACT the segmented signature store (optionally absorbing one
    * more batch): fold base ∪ published segments ∪ `batch` into the
    * next FULL generation without re-hashing corpus text — stored sigs
    * union the batch's freshly-hashed signatures (doc_id-deduped, so an
    * at-least-once replay is idempotent), and the band index derives
    * from reading the new sigs table back. Every layout constant comes
    * from the store's record ([[Warehouse.storeLayout]]). Publishing the full build
    * supersedes the folded segments ([[Warehouse.vacuumSegmentedStore]]
    * reclaims them age-gated) — the maintenance step that bounds the
    * per-probe segment count, exactly [[appendToSignatureStore]]'s
    * Lucene-model complement. A crash mid-fold publishes nothing.
    *
    * Scale note: the fold rewrites O(corpus) SIGNATURE rows (compact
    * longs, never text) — run it on the rebuild cadence; per-batch
    * ingest uses [[appendToSignatureStore]]'s O(batch) segments.
    *
    * FOLD-vs-APPEND race: the fold resolves (base, segments) up front
    * and its window is corpus-sized, so a segment published DURING it
    * (the documented compact-while-streaming usage) would be superseded
    * without its rows — and its committed dedupe tag would make the
    * replay skip: silent permanent loss. The publish therefore runs
    * through [[Warehouse.fold]], which publishes conditionally on the
    * resolved set and re-folds against the fresh set when it changed,
    * absorbing the new segments.
    */
  def growSignatureStore(batch: DataFrame, name: String,
      maxBandBucket: Option[Long] = Some(QuadraticGuardDefault)): Unit =
    growSignatureStoreHooked(batch, name, maxBandBucket)

  /** [[growSignatureStore]] with a test seam: `beforePublish` runs after
    * the folded tables are written, immediately before the conditional
    * publish — specs inject a racing segment append there to exercise
    * the stale-fold refusal deterministically.
    */
  private[graft] def growSignatureStoreHooked(batch: DataFrame, name: String,
      maxBandBucket: Option[Long] = Some(QuadraticGuardDefault),
      beforePublish: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    refoldSignatureStore(spark, name,
      fold = (oldSigs, layout) => {
        val fresh = spreadIfNarrow(batch.select(col("doc_id"), col("text")))
          .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
          .filter(size(col("tokens")) > 1)
          .select(col("doc_id"),
            shingle_minhash(col("tokens"), 2, layout.int("numHashes"), 42L).as("sig"))
        oldSigs.unionByName(fresh).dropDuplicates("doc_id")
      },
      maxBandBucket, beforePublish)
  }

  /** TAKEDOWN at the signature layer: fold base ∪ segments MINUS the
    * removed doc_ids into the next full generation — after this, every
    * probe is bit-identical to probing a store rebuilt from the
    * filtered corpus (remaining docs' signatures are pure functions of
    * their text, so the filtered fold IS the rebuild, minus the
    * re-hash). Same conditional publish as the grow fold — a segment
    * landing mid-removal refuses the publish and the removal re-folds,
    * so an ingest racing a takedown loses neither rows nor removals.
    * No quadratic guard: a row subset cannot mint a hot bucket the
    * build's guard didn't already refuse.
    */
  def removeFromSignatureStore(docIds: DataFrame, name: String): Unit =
    removeFromSignatureStoreHooked(docIds, name)

  private[graft] def removeFromSignatureStoreHooked(docIds: DataFrame, name: String,
      beforePublish: () => Unit = () => ()): Unit = {
    val spark = docIds.sparkSession
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint(true)
    refoldSignatureStore(spark, name,
      fold = (oldSigs, _) => oldSigs.join(broadcast(ids), Seq("doc_id"), "left_anti"),
      maxBandBucket = None, beforePublish,
      // a removal only filters rows: the stored band index anti-joins
      // the same ids instead of re-hashing every surviving signature.
      // The USING join moves doc_id first; the select restores the
      // build's (band_idx, band_hash, doc_id) column order
      foldBands = Some(b => b.join(broadcast(ids), Seq("doc_id"), "left_anti")
        .select(col("band_idx"), col("band_hash"), col("doc_id"))))
  }

  /** The shared FOLD core of [[growSignatureStore]] and
    * [[removeFromSignatureStore]]: derive the layout from the live
    * base, `fold` the unioned stored signatures into the next full
    * build, and publish it through [[Warehouse.fold]] (see the
    * fold-vs-append note on [[growSignatureStore]]).
    */
  private def refoldSignatureStore(spark: SparkSession, name: String,
      fold: (DataFrame, Warehouse.Layout) => DataFrame,
      maxBandBucket: Option[Long], beforePublish: () => Unit,
      foldBands: Option[DataFrame => DataFrame] = None): Unit =
    Warehouse.fold(signatureStore(spark, name))(
      prepare = (base, segs) => Some((base +: segs, signatureLayout(spark, name, base))))(
      write = { case (gen, (gens, layout)) =>
        // generations union BY NAME: a band index written by an older
        // takedown fold carries (doc_id, band_idx, band_hash), and a
        // positional union with a segment's (band_idx, band_hash, doc_id)
        // would publish a corrupt index
        def stored(sfx: String) = gens
          .map(g => Warehouse.table(spark, Warehouse.storeTableName(name, g, sfx)))
          .reduce(_ unionByName _)
        // the band index: a fold that only FILTERS rows (takedown) passes
        // `foldBands` and the stored index is filtered the same way —
        // the stored bands derive row-for-row from the stored sigs, so
        // filtering both by the same doc_id set is bit-identical to
        // re-deriving from the filtered sigs, without re-hashing
        // 16 bands × every surviving signature (the dominant compute of
        // a takedown refold). Structural folds (grow/absorb) derive the
        // index from the CHECKPOINTED folded signatures — exactly what
        // the sigs table will contain — keeping the hash→band chain's
        // single definition. Either way the two tables depend only on
        // inputs that exist before any write, so both generations'
        // tables publish CONCURRENTLY (guide §2.6 — the sequential
        // publishes were ~2/3 of every store phase's wall at sf0.1).
        val (sigsDf, bandsDf) = foldBands match {
          case Some(fb) => (fold(stored("sigs"), layout), fb(stored("bands")))
          case None =>
            val foldedSigs = fold(stored("sigs"), layout).localCheckpoint(true)
            (foldedSigs, bandsOf(foldedSigs, layout))
        }
        // the same quadratic guard as the full build — a batch can mint a
        // corpus-hot bucket too
        writeSignatureTables(spark, name, gen, layout, sigsDf, bandsDf, maxBandBucket)
      },
      beforePublish)

  /** d7 against the persisted store: the new batch's band keys
    * (explicitly partitioned to the store's bucket layout) join the
    * bucketed band table co-partitioned — the corpus side NEVER
    * shuffles, and history×history pairs never form. Work per ingest is
    * O(batch × collisions) plus a store read; the batch's own text is
    * hashed exactly once.
    *
    * LAYOUT: the probe's numHashes/bands/buckets derive from the store's
    * record ([[Warehouse.storeLayout]] — pass 0, the default) exactly like the
    * append and fold paths: a probe hashed with parameters that differ
    * from the store's build silently misses duplicates (band/bucket
    * mismatch, sig_agreement over different-length arrays). A nonzero
    * caller value is VALIDATED against the derived layout and a drift
    * fails loudly instead.
    */
  def minhashIncrementalAgainstStore(name: String, newDocs: DataFrame,
      numHashes: Int = 0, bands: Int = 0, threshold: Double = 0.5,
      buckets: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    // segment-aware resolve, ONCE, so every store-side read (each
    // generation's bands + sigs) pins to the same immutable snapshot
    // even if a rebuild or append publishes mid-construction
    // ([[appendToSignatureStore]]; a no-append store reads exactly its
    // base as before)
    val (base, segs) = Warehouse.resolveSegmented(spark, name)
    val miss = "the probe would silently miss duplicates"
    val layout = signatureLayout(spark, name, base, Seq(
      Warehouse.Given("numHashes", numHashes, miss),
      Warehouse.Given("bands", bands, miss)), buckets)
    probeSignatureStoreWithSigs(spark, name, base, segs, layout,
      hashedSigsOf(newDocs, layout.int("numHashes")), threshold)
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** The d16 probe body over PRE-HASHED batch signatures (doc_id, sig)
    * — split out so [[maintainClustersAgainstStore]] can feed the SAME
    * hash pass to both the cross-probe and the batch-internal pairs
    * instead of tokenizing and MinHashing the batch text twice.
    * UNordered like [[minhashPairsOfSigs]]; the public probe re-adds
    * its presentation sort.
    */
  private def probeSignatureStoreWithSigs(spark: SparkSession, name: String,
      base: Long, segs: Seq[Long], layout: Warehouse.Layout,
      sigs: DataFrame, threshold: Double): DataFrame = {
    val gens = base +: segs
    val freshSigs = sigs.select(col("doc_id").as("new_id"), col("sig").as("sig_a"))
    // fresh band keys carry distinct names so the plan (and its spec)
    // can tell the batch-side exchange from a store-side one
    val freshBands = freshSigs
      .select(col("new_id"), posexplode(sig_bands(col("sig_a"), layout.int("bands"))))
      .select(col("new_id"), col("pos").as("fband_idx"), col("col").as("fband_hash"))
      .repartition(layout.buckets, col("fband_hash"))
    // per-GENERATION joins unioned, not a join against a unioned store:
    // a union of bucketed tables loses its bucketing and would shuffle
    // the whole corpus index on every ingest — joining each generation's
    // table separately keeps every store-side read co-partitioned
    // (segments share the base's exact layout by construction)
    val pairs = gens.map { g =>
      freshBands.join(
        Warehouse.table(spark, Warehouse.storeTableName(name, g, "bands")),
        col("fband_idx") === col("band_idx") && col("fband_hash") === col("band_hash"))
        .select(col("new_id"), col("doc_id").as("dup_of"))
    }.reduce(_ unionAll _).distinct()
    // the sig attach joins per generation too (doc_ids are disjoint
    // across generations — the NEW-doc_ids append contract — so each
    // pair's dup_of resolves in exactly one table); the fresh-side
    // attach happens FIRST, preserving the single-generation plan
    // byte-for-byte, and the shared subtree's exchanges are physically
    // reused across branches (ReusedExchange), so the band work runs
    // once regardless of segment count
    val withFresh = pairs.join(freshSigs, Seq("new_id"))
    gens.map { g =>
      withFresh.join(
        Warehouse.table(spark, Warehouse.storeTableName(name, g, "sigs"))
          .select(col("doc_id").as("dup_of"), col("sig").as("sig_b")), Seq("dup_of"))
    }.reduce(_ unionAll _)
      .withColumn("est_jaccard",
        sig_agreement(col("sig_a"), col("sig_b")).cast("double") / layout.int("numHashes"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("dup_of"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** The PERSISTED cluster store — the third layer of the dedup ingest
    * stack (signatures d16, spans d17, LABELS here): the corpus's
    * connected-component labeling (d6's output, min doc_id per
    * component) written once per generation as `<name>_labels(doc_id,
    * cluster_id)` bucketed on doc_id, under the claim/publish protocol.
    * The build's pair threshold is the store's layout record
    * (`threshold`, beside the bucket spec), so every maintain, relabel
    * and publish continues the same clustering definition.
    * [[maintainClustersAgainstStore]] absorbs each ingest batch against
    * it without ever re-pairing history.
    */
  def buildClusterStore(docs: DataFrame, name: String, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5, buckets: Int = 0,
      maxIter: Int = 100): Unit =
    publishClusters(docs.sparkSession, name,
      Warehouse.Layout(buckets, Map("threshold" -> threshold.toString)))(
      clustersOfPairs(minhashPairsOf(docs, numHashes, bands, threshold)
        .select(col("doc_a"), col("doc_b")), maxIter))

  private def clusterStore(spark: SparkSession, name: String): Warehouse.Store =
    Warehouse.tableStore(spark, name, Seq("labels"))

  /** Publish (doc_id, cluster_id) `labels`, computed inside the build,
    * as the cluster store's next FULL generation under `layout`.
    */
  private def publishClusters(spark: SparkSession, name: String,
      layout: Warehouse.Layout)(labels: => DataFrame): Unit =
    Warehouse.build(clusterStore(spark, name)) { gen =>
      Warehouse.writeBucketed(labels.select(col("doc_id"), col("cluster_id")),
        Warehouse.storeTableName(name, gen, "labels"), "doc_id",
        layout.buckets, layout.constants)
    }: Unit

  /** The cluster store's layout at `gen`; a nonzero `threshold`
    * validates against the recorded one.
    */
  private def clusterLayout(spark: SparkSession, name: String, gen: Long,
      threshold: Double, buckets: Int = 0): Warehouse.Layout =
    Warehouse.storeLayout(spark, "cluster", name, gen, "labels", buckets,
      Seq(Warehouse.Given("threshold", threshold,
        "the batch would cluster under a different pair definition than the store",
        "recorded build threshold")))

  /** [[buildClusterStore]] FROM an already-published signature store —
    * the composition a real ingest loop runs: the corpus's signatures
    * and band index are already on disk (d16's build), so the labeling
    * derives from a band self-join over the PERSISTED bucketed tables
    * and the corpus text is never read, let alone re-hashed. BOTH scale
    * constants come from the store itself — the band count is baked
    * into the bands table and the signature length is the stored
    * array's size — which removes the parameter-drift risk the
    * text-sourced build has. Output is bit-identical to
    * [[buildClusterStore]] over the same documents (same kernels, same
    * seed, spec-pinned).
    *
    * Scale shape: the self-join reads two co-partitioned streams of the
    * SAME bucketed table (3 longs/row) — zero text, zero re-hash; the
    * signature attach joins the bucketed sigs table twice on its bucket
    * key. At 100 TB this is the only affordable way to (re)derive the
    * labeling layer.
    */
  def buildClusterStoreFromSignatureStore(spark: SparkSession, sigStore: String,
      name: String, threshold: Double = 0.5,
      buckets: Int = 0, maxIter: Int = 100): Unit = {
    // segment-aware: the labeling derives from base ∪ published append
    // segments (one union per table kind; this is a REBUILD-time pass,
    // so the union's lost bucketing costs one shuffle here, never on
    // the per-ingest probe path)
    val (sbase, ssegs) = Warehouse.resolveSegmented(spark, sigStore)
    val storeBands = (sbase +: ssegs)
      .map(g => Warehouse.table(spark, Warehouse.storeTableName(sigStore, g, "bands")))
      .reduce(_ unionByName _)
    val storeSigs = (sbase +: ssegs)
      .map(g => Warehouse.table(spark, Warehouse.storeTableName(sigStore, g, "sigs")))
      .reduce(_ unionByName _)
    val a = storeBands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = storeBands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .join(storeSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(storeSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      // the signature length comes from the stored array, never a
      // caller-repeated parameter (a mismatched divisor would silently
      // shift the Jaccard threshold)
      .filter(sig_agreement(col("sig_a"), col("sig_b")).cast("double") /
        size(col("sig_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    publishClusters(spark, name,
      Warehouse.Layout(buckets, Map("threshold" -> threshold.toString)))(
      clustersOfPairs(pairs, maxIter))
  }

  /** TAKEDOWN at the cluster layer: relabel the components AFTER the
    * signature store was filtered ([[removeFromSignatureStore]] first)
    * — a removed doc can be the BRIDGE holding a cluster together, so
    * dropping its label row is not enough (the cluster must split
    * exactly as a rebuild over the filtered corpus would, and a
    * cluster whose min member left needs its new min). The labeling
    * therefore re-derives from the filtered signature store's pair
    * graph ([[buildClusterStoreFromSignatureStore]] — compact longs,
    * zero text), which is bit-identical to d6 over the filtered corpus
    * by that builder's own gate-pinned contract.
    */
  def removeFromClusterStore(spark: SparkSession, clusterStore: String,
      sigStore: String, threshold: Double = 0.0, buckets: Int = 0,
      maxIter: Int = 100): Unit = {
    // the relabel must use the BUILD's threshold and bucket layout or
    // the published labeling silently diverges from "rebuild over the
    // filtered corpus" — both come from the store's record (a
    // caller-repeated parameter is never trusted; explicit nonzero
    // values validate against it)
    val layout = clusterLayout(spark, clusterStore,
      Warehouse.resolveGeneration(spark, clusterStore), threshold, buckets)
    buildClusterStoreFromSignatureStore(spark, sigStore, clusterStore,
      layout.double("threshold"), layout.buckets, maxIter)
  }

  /** The dedup store family a [[removeDocs]] takedown cascades through
    * — name each persisted store the deployment maintains; None skips
    * that layer.
    */
  final case class DedupStoreFamily(
      signature: Option[String] = None,
      substring: Option[String] = None,
      novelty: Option[String] = None,
      clusters: Option[String] = None)

  /** TAKEDOWN / right-to-be-forgotten across the persisted dedup store
    * family — the cascade an opt-out or legal-removal request runs
    * after [[graft.etl.SnapshotTable.deleteWhere]] removes the rows
    * from the corpus table itself: every named store re-publishes a
    * generation whose probes are BIT-IDENTICAL to the same store
    * rebuilt from the filtered corpus (spec-pinned per layer). Order
    * matters only for the cluster layer, which relabels from the
    * FILTERED signature store; the cascade runs signature → clusters →
    * substring → novelty. `removedDocs` carries (doc_id, text) — text
    * is required by the novelty layer's df subtraction (and must be the
    * exact ingested text); id-only layers ignore it.
    *
    * Scale shape: each layer is one fold of compact longs (signatures /
    * occurrences / df counters — never corpus text) plus the cluster
    * relabel's pair pass, all publish-protocol-raced against concurrent
    * ingest (conditional publishes refuse and re-fold). Old generations
    * still hold the removed rows until the store vacuum ages them out —
    * permanent erasure is this cascade plus
    * [[graft.sources.Warehouse.vacuumSegmentedStore]] /
    * [[graft.sources.Warehouse.vacuumGenerations]], exactly like
    * deleteWhere + table vacuum.
    *
    * SCOPE — records vs models: the cascade covers the stores whose
    * rows can REPRODUCE a removed document's content or identity
    * (signatures, occurrence positions, df counters, labels — plus
    * BM25 postings and IVF vectors via their own removers). Aggregate
    * artifacts trained OVER the corpus — the BPE merge list (t21), the
    * IVF centroids, the DSIR bucket weights (dc11), the KL drift
    * reference (t19) — hold no per-document rows and are treated as
    * MODELS: they re-derive on the rebuild cadence from the filtered
    * corpus (exactly the posture [[graft.operators.Similarity
    * .removeFromIvfIndex]] documents for centroids), which is also how
    * takedown obligations conventionally distinguish records from
    * model parameters. A deployment that must retrain immediately runs
    * the artifact's build over the post-takedown corpus.
    */
  def removeDocs(removedDocs: DataFrame, family: DedupStoreFamily): Unit = {
    val spark = removedDocs.sparkSession
    require(family.clusters.isEmpty || family.signature.nonEmpty,
      "removeDocs: the cluster layer relabels from the FILTERED signature " +
        "store (a removed doc can be the bridge holding a cluster together), " +
        "so DedupStoreFamily(clusters = ...) requires signature = ... too — " +
        "a label-row drop alone would be an incomplete takedown")
    val ids = removedDocs.select(col("doc_id")).distinct().localCheckpoint(true)
    family.signature.foreach(n => removeFromSignatureStore(ids, n))
    for (c <- family.clusters; s <- family.signature)
      removeFromClusterStore(spark, c, s)
    family.substring.foreach(n => removeFromSubstringStore(ids, n))
    family.novelty.foreach(n => removeFromNoveltyStore(
      removedDocs.select(col("doc_id"), col("text")), n))
  }

  /** d19: cluster MAINTENANCE — absorb a new batch into the persisted
    * clustering without recomputing history. The stored labeling
    * re-enters the propagation as STAR EDGES (each doc → its cluster
    * min): two longs per historical doc carrying EXACTLY the old pair
    * graph's connectivity, so history×history pairs never re-form. The
    * batch contributes its cross pairs (the d7/d16 signature-store
    * probe) and its batch-internal pairs (d2 over the batch alone);
    * min-label components of (star ∪ cross ∪ batch) equal d6's
    * components over the FULL union pair graph — the declared,
    * gate-pinned contract (d6's oracle verbatim). New clusters merging
    * two old clusters relabel correctly: the star edges put both old
    * components in one connected region and the min wins.
    *
    * Scale shape: the batch's text is hashed once; the store sides read
    * bucketed tables; the propagation loop moves only (doc_id, label)
    * longs. At 100 TB the cost is O(batch + corpus-doc-count scalars) —
    * the corpus TEXT is never touched. The returned labeling is the
    * next generation: publish it with [[buildClusterStore]]'s writer via
    * [[publishMaintainedClusters]] to continue the ingest loop.
    */
  def maintainClustersAgainstStore(clusterStore: String, sigStore: String,
      batch: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.0, maxIter: Int = 100,
      oracleRounds: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val gen = Warehouse.resolveGeneration(spark, clusterStore)
    // the batch's pair threshold must be the STORE's (a different one
    // would absorb the batch under a different clustering definition
    // than the labels being continued): the recorded value wins —
    // explicit nonzero validates, 0.0 derives
    val th = clusterLayout(spark, clusterStore, gen, threshold).double("threshold")
    val starEdges = Warehouse
      .table(spark, Warehouse.storeTableName(clusterStore, gen, "labels"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // ONE hash pass over the batch text feeds BOTH pair sources (the
    // cross-probe used to hash it once and minhashPairsOf a second
    // time), and both read the store's derived layout — caller values
    // still validate loudly against it exactly as the probe's do. The
    // pair frames stay UNordered here: they union into the propagation
    // loop's eager checkpoint, where the public forms' presentation
    // sorts were two wasted range exchanges.
    val (sbase, ssegs) = Warehouse.resolveSegmented(spark, sigStore)
    val geometry = "the batch would pair under a different hash geometry than the store"
    val layout = signatureLayout(spark, sigStore, sbase, Seq(
      Warehouse.Given("numHashes", numHashes, geometry),
      Warehouse.Given("bands", bands, geometry)))
    val sigs = hashedSigsOf(batch, layout.int("numHashes"))
    val cross = probeSignatureStoreWithSigs(spark, sigStore, sbase, ssegs,
      layout, sigs, th)
      .select(col("new_id").as("doc_a"), col("dup_of").as("doc_b"))
    val fresh = minhashPairsOfSigs(sigs, layout.int("numHashes"), layout.int("bands"), th)
      .select(col("doc_a"), col("doc_b"))
    clustersOfPairs(starEdges.unionByName(cross).unionByName(fresh),
      maxIter, oracleRounds)
  }

  /** Publish a maintained labeling as the cluster store's next FULL
    * generation (labels are a complete snapshot, not a segment) —
    * the write half of the d19 ingest loop. A maintained generation
    * CONTINUES the store's clustering, so it carries the prior
    * generation's layout record forward (explicit nonzero values
    * validate against it); a FIRST publish records the caller's
    * threshold, which it therefore requires, and buckets (defaulting to
    * the session's fan-out, as every build does).
    */
  def publishMaintainedClusters(labels: DataFrame, name: String,
      buckets: Int = 0, threshold: Double = 0.0): Unit = {
    val spark = labels.sparkSession
    val layout = Warehouse.currentGeneration(spark, name) match {
      case Some(g) => clusterLayout(spark, name, g, threshold, buckets)
      case None =>
        require(threshold > 0.0, s"cluster store '$name' has no generation to " +
          "continue — pass the threshold its labels were clustered at")
        Warehouse.Layout(buckets, Map("threshold" -> threshold.toString))
    }
    publishClusters(spark, name, layout)(labels)
  }

  /** d3: SimHash near-dup. 64-bit signature map-side; pigeonhole banding
    * (4 × 16-bit bands guarantees recall for hamming ≤ 3; larger radii
    * are best-effort, standard SimHash practice). Final filter is exact
    * hamming on the full signature.
    */
  def simhash(t: Tables, maxHamming: Int = 6): DataFrame = {
    val sigs = tokenized(t).select(col("doc_id"), simhash64(col("tokens")).as("sig"))
    // plain column expressions, not a transform() lambda — HOFs run
    // interpreted per row; these four shifts stay in codegen
    val bandCols = (0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(lit(65535L)))
    val banded = sigs.select(col("doc_id"), col("sig"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val a = banded.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sig_a ^ sig_b")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d4: EXACT n-gram Jaccard dedup via inverted-index blocking. Jaccard
    * over distinct word-2-gram shingle sets, computed entirely with
    * joins/aggregations: explode (doc, shingle), self-join on the shingle
    * to count |A∩B| per pair, attach |A|/|B|, filter on the ratio.
    * Recall is exactly 1.0 — Jaccard > 0 implies a shared shingle, so
    * every qualifying pair survives blocking (unlike the probabilistic
    * d2 LSH path, this is the reproducible ground-truth operator).
    *
    * Scale shape: the self-join's output is Σ_shingle df² — fine while
    * no shingle is corpus-hot; production corpora drop ultra-common
    * shingles (df cap) or fall back to d2's LSH where the exact pair set
    * itself would be quadratic. Only (shingle-hash, doc_id) pairs and
    * small count rows ever shuffle; shingle strings leave the map side
    * only as join keys.
    */
  def ngramJaccard(t: Tables, minJaccard: Double = 0.3): DataFrame = {
    // 8-byte FNV shingle hashes as the join/count domain: same Jaccard as
    // string shingles modulo 64-bit collisions (~df²/2^64, negligible),
    // at a fraction of the shuffle bytes and key-compare cost
    val sets = tokenized(t)
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), 2))).as("shingle"))
      .localCheckpoint(true) // feeds the size agg and both join sides
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val shared = sets.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(sets.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d12: asymmetric CONTAINMENT detection — C(A→B) = |A∩B| / |A| over
    * distinct shingle sets (Broder 1997's second resemblance measure).
    * Symmetric Jaccard (d2/d4) misses the quote-and-extend case: a short
    * document wholly embedded in a much longer one scores
    * |A|/|B| ≈ 0 Jaccard but containment 1.0. Output is one DIRECTED
    * row per (inner, outer) pair with C(inner→outer) ≥ `minContainment`
    * — an exact copy therefore appears in both directions at 1.0.
    *
    * Scale shape: d4's inverted-index blocking verbatim (shared
    * shingle-hash join, Σdf² ground-truth cost, same mitigations —
    * `maxDf`-style capping or LSH pre-gating); the directed expansion
    * happens AFTER the pair aggregation, on the contamination-sized
    * pair set. Note MinHash cannot stand in here: a symmetric MinHash
    * signature estimates Jaccard, not containment, so the exact
    * inverted index IS the scale path's verify stage.
    */
  def containment(t: Tables, minContainment: Double = 0.8): DataFrame = {
    val sets = tokenized(t)
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), 2))).as("shingle"))
      .localCheckpoint(true) // feeds the size agg and both join sides
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val shared = sets.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(sets.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), Seq("doc_b"))
    // both directions in ONE pass over the (Σdf²-sized, pre-filter)
    // pair aggregation — a two-branch union would run the inverted-index
    // join twice, and materializing it costs more than recomputing
    shared
      .select(explode(array(
        struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
          (col("shared").cast("double") / col("na")).as("containment")),
        struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
          (col("shared").cast("double") / col("nb")).as("containment")))).as("e"))
      .select(col("e.doc_inner").as("doc_inner"), col("e.doc_outer").as("doc_outer"),
        col("e.containment").as("containment"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_inner"), col("doc_outer"), round(col("containment"), 4).as("containment"))
      .orderBy(col("doc_inner"), col("doc_outer"))
  }

  /** d9: substring-level exact dedup (the Lee et al. 2022,
    * arXiv:2107.06499 "ExactSubstr" granularity) — maximal duplicated
    * token SPANS across documents, the one duplication d1 (whole-doc
    * exact) and d2/d3 (whole-doc approximate) cannot see: a 50-token
    * boilerplate paragraph shared by otherwise-distinct documents.
    *
    * Spark-first shape instead of the paper's suffix array: positional
    * k-token shingle hashes (same FNV domain as d4/dc1) form an
    * inverted index; matching (doc_a, doc_b) shingle positions that are
    * CONSECUTIVE on one alignment diagonal (pos_a - pos_b constant)
    * merge into maximal spans via a gaps-and-islands window — a shared
    * span of S tokens is exactly S-k+1 consecutive diagonal matches, so
    * every span ≥ `minSpanTokens` is found with recall 1.0 (modulo
    * 64-bit FNV collisions, ~df²/2^64).
    *
    * Output: one row per maximal span — (doc_a, doc_b, start_a,
    * start_b, span_tokens), 1-based token positions.
    *
    * Scale shape: only (hash, doc_id, pos) triples shuffle; the
    * self-join costs Σ_shingle df² like d4 — exact ground truth by
    * design. At corpus scale the standard mitigations compose: drop
    * ultra-common shingles (`maxDf` — boilerplate hot enough to hit a
    * df cap is its own dedup signal) or gate the pair space through
    * d2's LSH first and run this only on candidate pairs.
    *
    * With `maxDf` set, occurrences of any shingle appearing in more
    * than `maxDf` (doc, pos) slots are dropped BEFORE the self-join, so
    * the join cost is bounded by Σ min(df, maxDf)². Precision is kept —
    * every emitted span is still a sub-span of a genuine duplicated
    * run — but a long span crossing a corpus-hot shingle may split or
    * shrink below `minSpanTokens` (the declared recall trade of the
    * scale path; spec-pinned containment property).
    *
    * 100 TB NOTE: this self-contained form `localCheckpoint`s the full
    * positional shingle index — executor-local, unreplicated storage
    * sized O(corpus tokens), where one lost executor kills the job. It
    * is the right shape for a one-shot batch job or the oracle gate;
    * the sanctioned corpus-scale shape is the PERSISTED index —
    * [[buildSubstringStore]] once per generation +
    * [[substringSpansAgainstStore]] per ingest — which keeps nothing
    * corpus-sized in executor storage.
    */
  /** d13: corpus BOILERPLATE coverage — the C4/CCNet cleaning signal at
    * token granularity: a k-token shingle occurring in ≥ `minDf`
    * distinct documents is boilerplate (navigation chrome, license
    * headers, templated footers), and each document reports how much of
    * it is covered by such shingles. Output per doc: token count,
    * boilerplate-covered token count (union of hot-shingle windows,
    * merged gaps-and-islands style), and the covered fraction — the
    * number a quality gate thresholds on and a trimmer would cut.
    *
    * Relation to neighbors: d9 finds WHICH span is shared between WHICH
    * pair; this asks the corpus-frequency question (how templated is
    * each document overall) without materializing any pair — so its
    * cost has no Σdf² term at all. Scale shape: one positional shingle
    * pass, one (h)-keyed distinct-doc count to find hot shingles (tiny
    * survivor set, broadcast-joined back), one per-doc window over hot
    * positions only. Text never shuffles; (h, doc, pos) triples do.
    */
  def boilerplate(t: Tables, k: Int = 3, minDf: Long = 5): DataFrame = {
    val toks = tokenized(t)
    val nTok = toks.select(col("doc_id"), size(col("tokens")).as("n_tokens"))
    val psh = toks.filter(size(col("tokens")) >= k)
      .select(col("doc_id"), posexplode(shingle_hashes(col("tokens"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .localCheckpoint(true) // feeds the df count and the hot-position probe
    val hot = psh.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    // hot is the templated-shingle vocabulary — survivor-set sized
    val hotPos = psh.join(broadcast(hot), Seq("h")).select(col("doc_id"), col("pos"))
    // union of [pos, pos+k-1] windows per doc: merge when the next hot
    // position starts within (or adjacent to) the running cover
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = hotPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + k).as("cov"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).as("bp_tokens"))
    nTok.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("bp_tokens"), lit(0L)).as("bp_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("bp_tokens"), lit(0L)).cast("double") /
            col("n_tokens"), 4)).as("bp_frac"))
      .orderBy(col("doc_id"))
  }

  /** d15: per-doc shingle NOVELTY — the dual of d13's boilerplate
    * coverage: the fraction of a document's DISTINCT k-shingles that
    * appear in NO other document (corpus doc-frequency 1). High novelty
    * marks genuinely fresh content; a novelty collapse across an ingest
    * batch is the earliest template-flood/dup-leak signal, and the
    * per-doc score is the memorization-risk complement dedup thresholds
    * are tuned against. Docs with fewer than k tokens have no shingles
    * and score 0 over 0 → novelty 0.0 (explicit, not NULL).
    *
    * Scale shape: d13's exactly — text dies at the map-side shingle
    * hash; one (doc, h) distinct + one (h) df aggregation + the join
    * back, all on compact (h, doc_id) longs; no pair term anywhere (the
    * corpus-frequency question, not d9's which-pair question). The df
    * join is un-hinted: the df table is vocabulary-sized and AQE
    * broadcasts it only when it measures small.
    */
  def shingleNovelty(t: Tables, k: Int = 3): DataFrame = {
    val dsh = tokenized(t)
      .filter(size(col("tokens")) >= k)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), k))).as("h"))
      .localCheckpoint(true) // feeds the df count and the join back
    val df = dsh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val perDoc = dsh.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_shingles"))
    t.documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("novel_shingles"), lit(0L)).as("novel_shingles"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("novel_shingles").cast("double") /
            col("n_shingles"), 4)).as("novelty_frac"))
      .orderBy(col("doc_id"))
  }

  /** The PERSISTED form of d15's corpus shingle-frequency index: the
    * distinct-doc df per k-shingle hash, written once per generation as
    * a warehouse table bucketed on the hash (`<name>_shdf`), under the
    * dedup stores' claim/publish protocol. An ingest batch probes it
    * co-partitioned — corpus text is never re-tokenized and the store
    * side never shuffles. The shingle width k is the store's layout
    * record (beside the bucket spec), so appenders and probes derive it
    * from the store, also once a takedown has emptied it.
    */
  def buildNoveltyStore(docs: DataFrame, name: String, k: Int = 3,
      buckets: Int = 0): Unit = {
    Warehouse.build(noveltyStore(docs.sparkSession, name)) { gen =>
      writeNoveltyGeneration(docs, name, gen, Warehouse.Layout(buckets, Map("k" -> k.toString)))
    }: Unit
  }

  private def noveltyStore(spark: SparkSession, name: String): Warehouse.Store =
    Warehouse.tableStore(spark, name, Seq("shdf"))

  /** ONE definition of a novelty-store generation's content — the
    * (h, df) distinct-doc frequency table bucketed on the hash —
    * shared by the full build and the segment append. df is ADDITIVE
    * across disjoint doc sets (the NEW-doc_ids append contract), so
    * base ∪ segments merged by sum is bit-identical to a one-shot build
    * over the union corpus (t23's stats rule at shingle granularity).
    */
  private def writeNoveltyGeneration(docs: DataFrame, name: String, gen: Long,
      layout: Warehouse.Layout): Long = {
    val k = layout.int("k")
    val (input, rows) = counted(spreadIfNarrow(docs.select(col("doc_id"), col("text"))))
    val dsh = input
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= k)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), k))).as("h"))
    writeNoveltyTable(dsh.groupBy(col("h")).agg(count(lit(1)).as("df")), name, gen, layout)
    rows()
  }

  private def writeNoveltyTable(hdf: DataFrame, name: String, gen: Long,
      layout: Warehouse.Layout): Unit =
    Warehouse.writeBucketed(hdf, Warehouse.storeTableName(name, gen, "shdf"), "h",
      layout.buckets, layout.constants)

  /** The novelty store's layout at `base`; a nonzero `k` or `buckets`
    * validates against the record.
    */
  private def noveltyLayout(spark: SparkSession, name: String, base: Long,
      k: Int = 0, buckets: Int = 0): Warehouse.Layout =
    Warehouse.storeLayout(spark, "novelty", name, base, "shdf", buckets,
      Seq(Warehouse.Given("k", k,
        "probe hashes would never match the index (every shingle reads novel)",
        "built width")))

  /** Segment-append for the NOVELTY store: the batch's own distinct-doc
    * df table lands as an O(batch) SEGMENT in the base's layout through
    * the shared [[Warehouse.appendSegmentWith]] protocol. df is
    * additive across the disjoint doc sets (NEW-doc_ids contract), so
    * probes treat a shingle as seen iff ANY generation holds it and
    * [[growNoveltyStore]]'s sum-merge compaction is exact.
    */
  def appendToNoveltyStore(docs: DataFrame, name: String,
      dedupeTag: Option[String] = None, k: Int = 0): Option[Long] = {
    val spark = docs.sparkSession
    Warehouse.appendSegmentWith[Warehouse.Layout](noveltyStore(spark, name),
      dedupeTag,
      prepare = base => noveltyLayout(spark, name, base, k),
      writeData = (gen, layout) => writeNoveltyGeneration(docs, name, gen, layout))
  }

  /** COMPACT the segmented novelty store: merge base ∪ segments by
    * df-SUM into the next full generation (exact — the doc sets are
    * disjoint), no text ever re-tokenized. Conditional publish, the
    * shared fold discipline. NOTE: unlike [[growSignatureStore]] this
    * fold takes no batch — a df absorb is NOT replay-idempotent (no
    * doc_ids survive in the counters to dedupe on), so batches land
    * only through [[appendToNoveltyStore]]'s tagged segments.
    */
  def growNoveltyStore(name: String, spark: SparkSession): Unit =
    Warehouse.fold(noveltyStore(spark, name))(
      prepare = (base, segs) =>
        Some((summedNoveltyDf(spark, name, base +: segs), noveltyLayout(spark, name, base))))(
      write = { case (gen, (folded, layout)) => writeNoveltyTable(folded, name, gen, layout) },
      beforePublish = () => ())

  /** The (h, df) sum-merge of a novelty store's generations `gens`. */
  private def summedNoveltyDf(spark: SparkSession, name: String,
      gens: Seq[Long]): DataFrame =
    gens.map(g => Warehouse.table(spark, Warehouse.storeTableName(name, g, "shdf"))
        .select(col("h"), col("df")))
      .reduce(_ unionAll _)
      .groupBy(col("h")).agg(sum(col("df")).as("df"))

  /** d15 at ingest: the NEW batch's novelty AGAINST the persisted
    * corpus index — a shingle is novel when the corpus has never seen
    * it (no store row), the incremental twin of d15's within-corpus
    * df = 1 rule. The batch's distinct (doc, h) rows repartition to the
    * store's bucket layout and LEFT-join the df table co-partitioned;
    * work per ingest is O(batch shingles) plus a pruned store read.
    */
  def noveltyAgainstStore(name: String, newDocs: DataFrame, k: Int = 0,
      buckets: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    // layout derives from the store's record (0 = derive; nonzero
    // validates). Segment-aware resolve, ONCE: a shingle is SEEN iff any
    // live generation holds it — per-generation co-partitioned LEFT
    // joins (the fresh exchange is physically reused across branches),
    // novel = unseen in every one (df is additive across the disjoint
    // generation doc sets, so presence-anywhere is exactly the
    // one-shot df > 0).
    val (base, segs) = Warehouse.resolveSegmented(spark, name)
    val layout = noveltyLayout(spark, name, base, k, buckets)
    val kk = layout.int("k")
    val fresh = spreadIfNarrow(newDocs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= kk)
      .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), kk))).as("fh"))
      .repartition(layout.buckets, col("fh"))
    // CHAINED per-generation left joins, each co-partitioned on the
    // bucket key (store h unique per generation, so row counts are
    // preserved) — a union-then-regroup would add a batch-side
    // exchange; the chain keeps the single-generation plan shape
    // byte-identical when no segments exist
    val gens = base +: segs
    val joined = gens.zipWithIndex.foldLeft(fresh) { case (acc, (g, i)) =>
      acc.join(
        Warehouse.table(spark, Warehouse.storeTableName(name, g, "shdf"))
          .select(col("h").as(s"h_$i"), lit(1).as(s"seen_$i")),
        col("fh") === col(s"h_$i"), "left")
        .drop(s"h_$i")
    }
    val seenAny = gens.indices.map(i => col(s"seen_$i").isNotNull).reduce(_ || _)
    val perDoc = joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(seenAny, 0L).otherwise(1L)).as("novel_shingles"))
    newDocs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("novel_shingles"), lit(0L)).as("novel_shingles"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("novel_shingles").cast("double") /
            col("n_shingles"), 4)).as("novelty_frac"))
      .orderBy(col("doc_id"))
  }

  /** TAKEDOWN at the novelty layer: subtract the removed documents'
    * distinct-shingle contributions from the persisted df index and
    * publish the result as the next full generation — df'(h) =
    * Σdf(h) − |removed docs containing h|, rows reaching 0 dropped, so
    * the published index is bit-identical to [[buildNoveltyStore]] over
    * the filtered corpus (df counts are pure functions of which docs
    * contain which shingles). `removedDocs` must carry (doc_id, text)
    * with the EXACT text the store ingested, and only docs that were
    * ingested — the df counters have no per-doc rows to validate
    * against (that compactness is the store's whole point), so the
    * contract is the caller's; the identity spec pins it. Conditional
    * publish: the resolved live set must still be current at commit.
    */
  def removeFromNoveltyStore(removedDocs: DataFrame, name: String, k: Int = 0): Unit = {
    val spark = removedDocs.sparkSession
    Warehouse.fold(noveltyStore(spark, name))(
      prepare = (base, segs) => {
        val layout = noveltyLayout(spark, name, base, k)
        // a removal from a fully-EMPTY store is a no-op (the subtraction
        // result is empty): publish nothing. The emptiness check stops
        // at the first generation holding a row
        val gens = base +: segs
        if (gens.forall(g => Warehouse.table(spark,
            Warehouse.storeTableName(name, g, "shdf")).isEmpty)) None
        else Some((summedNoveltyDf(spark, name, gens), layout))
      })(
      write = { case (gen, (oldDf, layout)) =>
        val kk = layout.int("k")
        // dedupe by doc_id like every sibling remover: a doc listed twice
        // (two opt-out lists concatenated) would otherwise subtract its
        // shingles' df twice — dropping rows the filtered corpus still
        // holds, a violated identity contract, not just a wrong count
        val rdf = spreadIfNarrow(
            removedDocs.select(col("doc_id"), col("text")).dropDuplicates("doc_id"))
          .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
          .filter(size(col("tokens")) >= kk)
          .select(col("doc_id"), explode(array_distinct(shingle_hashes(col("tokens"), kk))).as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("rdf"))
        val subtracted = oldDf.join(rdf, Seq("h"), "left")
          .select(col("h"), (col("df") - coalesce(col("rdf"), lit(0L))).as("df"))
          .filter(col("df") > 0)
        writeNoveltyTable(subtracted, name, gen, layout)
      },
      beforePublish = () => ())
  }

  def substringSpans(t: Tables, k: Int = 8, minSpanTokens: Int = 16,
      maxDf: Option[Long] = None): DataFrame =
    substringSpanCore(tokenized(t), k, minSpanTokens, maxDf)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))

  /** d9 over an arbitrary (doc_id, text) frame — the entry point specs
    * use to re-run span detection on a REWRITTEN corpus (the
    * [[substringRewrite]] fixed-point check) or any non-Tables source.
    */
  def substringSpansOfDocs(docs: DataFrame, k: Int = 8, minSpanTokens: Int = 16,
      maxDf: Option[Long] = None): DataFrame =
    substringSpanCore(
      spreadIfNarrow(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), ws_tokens(col("text")).as("tokens")),
      k, minSpanTokens, maxDf)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))

  /** The d9 engine (unordered): positional k-shingle inverted index +
    * alignment-diagonal gaps-and-islands over a tokenized frame.
    */
  private def substringSpanCore(toks: DataFrame, k: Int, minSpanTokens: Int,
      maxDf: Option[Long]): DataFrame = {
    val psh0 = toks
      .filter(size(col("tokens")) >= k)
      .select(col("doc_id"), posexplode(shingle_hashes(col("tokens"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .localCheckpoint(true) // feeds both self-join sides
    val psh = maxDf.fold(psh0) { m =>
      // unordered count window = one hash shuffle on h, which the
      // self-join needs anyway — the cap costs no extra exchange kind
      psh0.withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
        .filter(col("__df") <= m)
        .drop("__df")
    }
    val matches = psh.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(psh.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pos_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
    // gaps-and-islands on the alignment diagonal: consecutive matches
    // (pos_a and pos_b both advancing by 1) share pos_a - row_number()
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    matches
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(
        min(col("pos_a")).as("start_a"),
        min(col("pos_b")).as("start_b"),
        (count(lit(1)) + lit(k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("span_tokens"))
  }

  /** d20: the CLEANED corpus — the transform the whole substring family
    * exists to enable. d9 reports WHERE the duplicated spans are; this
    * emits the deduplicated TEXT a training pipeline actually feeds the
    * tokenizer (Lee et al. 2022's ExactSubstr step DELETES the spans —
    * packing raw text re-trains on every copy). Keep rule: the lowest
    * doc_id containing a span keeps its copy; every later document's
    * copy (each d9 pair's `doc_b` side) is cut, token-boundary spliced.
    * Transitive chains fall out of the pair set: if docs 1<2<3 share a
    * span, pairs (1,2)/(1,3)/(2,3) cut it from 2 and 3 and doc 1 keeps
    * the only copy. Within-document repetition is untouched (d9 is
    * cross-doc by construction; t7 measures self-repetition).
    *
    * Output per doc: original token count, removed token count, and the
    * rewritten text (kept tokens of the canonical whitespace/lowercase
    * token stream, single-space joined — the normalized form every
    * downstream operator tokenizes back to bit-identically).
    *
    * Fixed point (spec-pinned): re-running d9 on the rewritten corpus
    * finds zero ≥`minSpanTokens` cross-doc spans among kept text.
    *
    * Scale shape: span detection is d9's (the maxDf-capped index is the
    * 100 TB path; at corpus scale the spans come from
    * [[substringSpansAgainstStore]] instead); interval merging moves
    * (doc, start, end) longs through one per-doc window; the splice is
    * one higher-order-function pass over each document's token array
    * (HOF lambdas run interpreted per ROW, not per token-row — the
    * array never explodes and no text shuffles beyond the tokenize
    * scan itself).
    */
  def substringRewrite(t: Tables, k: Int = 8, minSpanTokens: Int = 16,
      maxDf: Option[Long] = None): DataFrame = {
    val toks = tokenized(t)
    val spans = substringSpanCore(toks, k, minSpanTokens, maxDf)
    spliceAroundCuts(toks, spans.select(col("doc_b").as("doc_id"),
      col("start_b").cast("long").as("s"),
      (col("start_b") + col("span_tokens") - 1).cast("long").as("e")))
  }

  /** d21 (d20 at d10/d17's ingest shape): the CLEANED INGEST BATCH —
    * spans of NEW documents against the PERSISTED substring store
    * ([[substringSpansAgainstStore]]'s one-sided probe) are cut from
    * the NEW side (the corpus keeps its copies), token-boundary
    * spliced. Within-batch duplication is untouched, exactly d10's
    * one-sided contract — run [[substringRewrite]] over the batch
    * first (or fold the batch into the next store generation) when
    * batch-internal dedup is also wanted. This is the transform a
    * continuous training-data pipeline runs on every arriving shard:
    * work per ingest is O(batch × collisions) span detection plus one
    * splice pass over the batch's own tokens — corpus text never read.
    */
  def substringRewriteAgainstStore(name: String, newDocs: DataFrame, k: Int = 0,
      minSpanTokens: Int = 16, buckets: Int = 0): DataFrame = {
    val toks = spreadIfNarrow(newDocs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
    val spans = substringSpansAgainstStore(name, newDocs, k, minSpanTokens, buckets)
    spliceAroundCuts(toks, spans.select(col("new_id").as("doc_id"),
      col("start_new").cast("long").as("s"),
      (col("start_new") + col("span_tokens") - 1).cast("long").as("e")))
  }

  /** The shared splice kernel of d20/d21: merge each document's cut
    * intervals (gaps-and-islands on the running max end, so the splice
    * probes O(merged spans) per token), then keep exactly the tokens no
    * interval covers and re-join with single spaces. One
    * higher-order-function pass per document's token array — the array
    * never explodes and no text shuffles beyond the caller's scan.
    */
  private def spliceAroundCuts(toks: DataFrame, cuts: DataFrame): DataFrame =
    spliceKeptTokens(toks, cuts)
      .select(col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        (size(col("tokens")) - size(col("kept"))).as("removed_tokens"),
        array_join(transform(col("kept"), x => x.getField("tok")), " ").as("text"))
      .orderBy(col("doc_id"))

  /** [[spliceAroundCuts]] keeping the spliced TOKEN ARRAY — (doc_id,
    * tokens, kept) — so a composition (dc9's rewrite stage) can derive
    * its downstream signals (decon shingles, mixture token counts) from
    * the kept tokens map-side without a round-trip through joined text.
    *
    * The merged cut table BROADCASTS into the splice join: cuts are
    * span-count-sized — per ingest shard at the production scale
    * (d21/[[substringRewriteAgainstStore]], where the batch bounds
    * them) and duplication-bounded for the in-job/backfill d20 — while
    * the token side is corpus-sized, so broadcasting the cuts keeps
    * token arrays out of EVERY exchange (the curation pipelines'
    * text-never-shuffles discipline). The concrete envelope: the merged
    * cut table (one row per rewritten doc) must fit Spark's broadcast
    * hard limit (8 GB) and driver heap — a corpus whose DUPLICATED-doc
    * count alone breaks that is far past the in-job form's design point
    * and should be running the store-backed shard form (d21 /
    * [[substringRewriteAgainstStore]]) where the batch bounds the cuts,
    * exactly d9's 100 TB note. Un-hinting would not widen the envelope:
    * AQE's SMJ fallback materializes the corpus-sized TOKEN side to
    * shuffle storage first, the very cost this hint exists to avoid.
    */
  private[operators] def spliceKeptTokens(toks: DataFrame, cuts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val prevMaxE = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = cuts
      .withColumn("fresh", when(prevMaxE.isNull || col("s") > prevMaxE, 1).otherwise(0))
      .withColumn("island", sum(col("fresh")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"))
    toks.join(broadcast(merged), Seq("doc_id"), "left")
      .withColumn("cuts",
        coalesce(col("cuts"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("kept", filter(
        zip_with(col("tokens"), sequence(lit(1), size(col("tokens"))),
          (tok, pos) => struct(tok.as("tok"), pos.as("pos"))),
        x => !exists(col("cuts"), c =>
          x.getField("pos") >= c.getField("s") && x.getField("pos") <= c.getField("e"))))
  }

  /** d20's engine over an arbitrary (doc_id, text) frame, emitting the
    * kept TOKEN ARRAY per doc — (doc_id, n_tokens, removed_tokens,
    * kept: array<string>) — the form [[graft.operators.Curation]]'s
    * composed pipeline consumes (its decon shingles and mixture counts
    * derive from the kept tokens map-side). Same span engine and splice
    * kernel as [[substringRewrite]]/[[substringRewriteAgainstStore]],
    * shared so the composition cannot drift from the gate-verified
    * operators.
    */
  private[operators] def substringRewriteKept(docs: DataFrame, k: Int = 8,
      minSpanTokens: Int = 16, maxDf: Option[Long] = None): DataFrame = {
    val toks = spreadIfNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
    val spans = substringSpanCore(toks, k, minSpanTokens, maxDf)
    spliceKeptTokens(toks, spans.select(col("doc_b").as("doc_id"),
      col("start_b").cast("long").as("s"),
      (col("start_b") + col("span_tokens") - 1).cast("long").as("e")))
      .select(col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        (size(col("tokens")) - size(col("kept"))).as("removed_tokens"),
        transform(col("kept"), x => x.getField("tok")).as("kept"))
  }

  /** d10: INCREMENTAL substring dedup — d9's spans for a NEW batch
    * against the EXISTING corpus only (d7's ingest shape at substring
    * granularity). One-sided inverted index: fresh (h, pos) occurrences
    * join existing ones, so history×history span pairs never form and
    * the work is O(increment × collisions). At 100 TB the existing side
    * is the PERSISTED positional shingle store (the d9 checkpoint kept
    * as a table); an increment reads hashes, not text. Output names the
    * ingest roles: (new_id, dup_of, start_new, start_old, span_tokens).
    *
    * 100 TB NOTE: like d9, this self-contained form checkpoints the
    * whole index executor-locally — use [[buildSubstringStore]] +
    * [[substringSpansAgainstStore]] as the only sanctioned shape at
    * corpus scale (see [[substringSpans]]).
    */
  def substringSpansIncremental(t: Tables, splitId: Long = 250, k: Int = 8,
      minSpanTokens: Int = 16): DataFrame = {
    val psh = tokenized(t)
      .filter(size(col("tokens")) >= k)
      .select(col("doc_id"), posexplode(shingle_hashes(col("tokens"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .localCheckpoint(true) // the occurrence store: both one-sided halves read it
    val fresh = psh.filter(col("doc_id") >= splitId)
      .select(col("h"), col("doc_id").as("new_id"), col("pos").as("pos_new"))
    val existing = psh.filter(col("doc_id") < splitId)
      .select(col("h"), col("doc_id").as("dup_of"), col("pos").as("pos_old"))
    val w = Window.partitionBy(col("new_id"), col("dup_of"), col("diag")).orderBy(col("pos_new"))
    fresh.join(existing, Seq("h"))
      .select(col("new_id"), col("dup_of"), col("pos_new"), col("pos_old"))
      .withColumn("diag", col("pos_new") - col("pos_old"))
      .withColumn("island", col("pos_new") - row_number().over(w))
      .groupBy(col("new_id"), col("dup_of"), col("diag"), col("island"))
      .agg(
        min(col("pos_new")).as("start_new"),
        min(col("pos_old")).as("start_old"),
        (count(lit(1)) + lit(k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("new_id"), col("dup_of"), col("start_new"), col("start_old"), col("span_tokens"))
      .orderBy(col("new_id"), col("dup_of"), col("start_new"), col("start_old"))
  }

  /** The PERSISTED form of d10's positional shingle store: the corpus's
    * (shingle_hash, doc_id, pos) occurrence table written ONCE per
    * generation as a warehouse table bucketed on the hash, so each
    * ingest batch joins its own occurrences co-partitioned against disk
    * — corpus text is never re-tokenized and the store side never
    * shuffles. Same FNV shingle kernel as d9/d10, so probing is
    * bit-equivalent to the in-job recompute (spec-verified). The
    * shingle width `k` is the store's layout record (beside the bucket
    * spec): k is baked into every hash, so appenders and probes DERIVE
    * it from the store instead of trusting a caller-repeated parameter
    * (a drifted k means probe hashes never collide — a silent total
    * miss).
    */
  def buildSubstringStore(docs: DataFrame, name: String, k: Int = 8,
      buckets: Int = 0,
      maxDf: Option[Long] = Some(QuadraticGuardDefault)): Unit = {
    Warehouse.build(substringStore(docs.sparkSession, name)) { gen =>
      writeSubstringGeneration(docs, name, gen,
        Warehouse.Layout(buckets, Map("k" -> k.toString)), maxDf)
    }: Unit
  }

  private def substringStore(spark: SparkSession, name: String): Warehouse.Store =
    Warehouse.tableStore(spark, name, Seq("shingles"))

  /** ONE definition of a substring-store generation's content — the
    * (h, doc_id, pos) occurrence table bucketed on the hash — shared
    * by the full build and the segment append so the tokenize→shingle
    * chain cannot drift between them. The quadratic maxDf guard (ON by
    * default, same shape as the signature store's): a shingle occupying
    * `df` (doc, pos) slots emits df rows per probe occurrence, so
    * corpus-hot boilerplate refuses publication by throwing — the
    * caller's guarded cleanup unpublishes.
    */
  private def writeSubstringGeneration(docs: DataFrame, name: String, gen: Long,
      layout: Warehouse.Layout, maxDf: Option[Long]): Long = {
    val spark = docs.sparkSession
    val shinglesT = Warehouse.storeTableName(name, gen, "shingles")
    val k = layout.int("k")
    val (input, rows) = counted(spreadIfNarrow(docs.select(col("doc_id"), col("text"))))
    val psh = input
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= k)
      .select(col("doc_id"), posexplode(shingle_hashes(col("tokens"), k)))
      .select(col("col").as("h"), col("doc_id"), (col("pos") + 1).as("pos"))
    Warehouse.writeBucketed(psh, shinglesT, "h", layout.buckets, layout.constants)
    maxDf.foreach { m =>
      val worst = Warehouse.table(spark, shinglesT)
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).limit(1).collect()
      worst.headOption.foreach { r =>
        throw new IllegalStateException(
          s"substring store '$name' shingle df exceeds maxDf=$m: " +
            s"hash ${r.get(0)} occupies ${r.getAs[Long]("n")} (doc, pos) slots — " +
            "probes joining it would be quadratic; store not published " +
            "(cap with d9's maxDf upstream or opt out with maxDf = None)")
      }
    }
    rows()
  }

  /** The substring store's layout at `base`; a nonzero `k` or
    * `buckets` validates against the record.
    */
  private def substringLayout(spark: SparkSession, name: String, base: Long,
      k: Int = 0, buckets: Int = 0): Warehouse.Layout =
    Warehouse.storeLayout(spark, "substring", name, base, "shingles", buckets,
      Seq(Warehouse.Given("k", k, "hashes would never collide (a silent total miss)",
        "built width")))

  /** Segment-append for the SUBSTRING store — the r17 signature-store
    * pattern verbatim at occurrence granularity: a batch of NEW
    * documents lands as an O(batch) (h, doc_id, pos) SEGMENT in the
    * base's exact bucket layout and shingle width (both derived from
    * the store), published through the shared
    * [[Warehouse.appendSegmentWith]] protocol (committed-tag skip,
    * atomic publish-or-refuse, guarded cleanup). Probes
    * ([[substringSpansAgainstStore]]) read base ∪ segments per
    * generation, co-partitioned; [[growSubstringStore]] is the
    * compaction. The heaviest rebuild in the store family (tokenize +
    * shingle the corpus) now costs O(batch) per ingest. Callers append
    * NEW doc_ids only (the d7/d16 ingest contract).
    */
  def appendToSubstringStore(docs: DataFrame, name: String,
      dedupeTag: Option[String] = None, k: Int = 0,
      maxDf: Option[Long] = Some(QuadraticGuardDefault)): Option[Long] = {
    val spark = docs.sparkSession
    Warehouse.appendSegmentWith[Warehouse.Layout](substringStore(spark, name),
      dedupeTag,
      prepare = base => substringLayout(spark, name, base, k),
      writeData = (gen, layout) => writeSubstringGeneration(docs, name, gen, layout, maxDf))
  }

  /** COMPACT the segmented substring store: fold base ∪ published
    * segments into the next FULL generation WITHOUT re-tokenizing any
    * text — the stored occurrence rows union as-is (compact longs; the
    * fold is a bucketed rewrite, not a rebuild). Publishing is
    * CONDITIONAL on the folded live set ([[Warehouse.fold]]), so a
    * segment landing mid-fold is never superseded unfolded. Run on the rebuild cadence; per-batch ingest uses
    * [[appendToSubstringStore]]'s O(batch) segments.
    */
  def growSubstringStore(name: String, spark: SparkSession): Unit =
    growSubstringStoreHooked(name, spark)

  private[graft] def growSubstringStoreHooked(name: String, spark: SparkSession,
      beforePublish: () => Unit = () => ()): Unit =
    refoldSubstringStore(spark, name, identity, beforePublish)

  /** The shared FOLD core of [[growSubstringStore]] and
    * [[removeFromSubstringStore]]: the stored occurrence rows of base ∪
    * segments, passed through `fold`, become the next full generation.
    */
  private def refoldSubstringStore(spark: SparkSession, name: String,
      fold: DataFrame => DataFrame, beforePublish: () => Unit): Unit =
    Warehouse.fold(substringStore(spark, name))(
      prepare = (base, segs) => Some((base +: segs, substringLayout(spark, name, base))))(
      write = { case (gen, (gens, layout)) =>
        Warehouse.writeBucketed(
          fold(gens.map(g =>
            Warehouse.table(spark, Warehouse.storeTableName(name, g, "shingles")))
            .reduce(_ unionAll _)),
          Warehouse.storeTableName(name, gen, "shingles"), "h",
          layout.buckets, layout.constants)
      },
      beforePublish)

  /** d10 against the persisted store: the new batch's positional
    * shingles (partitioned to the store's bucket layout) join the
    * occurrence table co-partitioned, then the same alignment-diagonal
    * islands as d9/d10 rebuild maximal spans. Work per ingest is
    * O(batch × collisions) plus a store read.
    */
  def substringSpansAgainstStore(name: String, newDocs: DataFrame, k: Int = 0,
      minSpanTokens: Int = 16, buckets: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    // the layout derives from the store's record (0 = derive; nonzero
    // validates). Segment-aware resolve, ONCE, pins every store-side
    // read to one immutable snapshot.
    val (base, segs) = Warehouse.resolveSegmented(spark, name)
    val layout = substringLayout(spark, name, base, k, buckets)
    val kk = layout.int("k")
    // batch-side columns carry distinct names so the plan (and spec) can
    // tell the batch exchange from a store-side one; the fresh side
    // repartitions ONCE and the per-generation co-partitioned joins
    // physically reuse it (ReusedExchange), so segment count never
    // multiplies batch work
    val fresh = spreadIfNarrow(newDocs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ws_tokens(col("text")).as("tokens"))
      .filter(size(col("tokens")) >= kk)
      .select(col("doc_id"), posexplode(shingle_hashes(col("tokens"), kk)))
      .select(col("col").as("fh"), col("doc_id").as("new_id"), (col("pos") + 1).as("pos_new"))
      .repartition(layout.buckets, col("fh"))
    // per-GENERATION joins unioned, not a join against a unioned store
    // (a union of bucketed tables loses its bucketing — the whole index
    // would re-shuffle per ingest); a (new_id, dup_of) pair's matches
    // all live in the one generation holding dup_of (NEW-doc_ids append
    // contract), so the island windows after the union see exactly the
    // single-store row set
    val matches = (base +: segs).map { g =>
      fresh.join(
        Warehouse.table(spark, Warehouse.storeTableName(name, g, "shingles"))
          .select(col("h"), col("doc_id").as("dup_of"), col("pos").as("pos_old")),
        col("fh") === col("h"))
        .select(col("new_id"), col("dup_of"), col("pos_new"), col("pos_old"))
    }.reduce(_ unionAll _)
    val w = Window.partitionBy(col("new_id"), col("dup_of"), col("diag")).orderBy(col("pos_new"))
    matches
      .withColumn("diag", col("pos_new") - col("pos_old"))
      .withColumn("island", col("pos_new") - row_number().over(w))
      .groupBy(col("new_id"), col("dup_of"), col("diag"), col("island"))
      .agg(
        min(col("pos_new")).as("start_new"),
        min(col("pos_old")).as("start_old"),
        (count(lit(1)) + lit(kk - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("new_id"), col("dup_of"), col("start_new"), col("start_old"), col("span_tokens"))
      .orderBy(col("new_id"), col("dup_of"), col("start_new"), col("start_old"))
  }

  /** TAKEDOWN at the substring layer: the removed doc_ids' (h, doc_id,
    * pos) occurrence rows drop from base ∪ segments into the next full
    * generation — occurrences are pure per-doc functions of text, so
    * the filtered fold is bit-identical to [[buildSubstringStore]] over
    * the filtered corpus. Conditional publish, same rules as the
    * signature fold.
    */
  def removeFromSubstringStore(docIds: DataFrame, name: String): Unit = {
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint(true)
    // the USING join moves doc_id first; the select restores the
    // build's (h, doc_id, pos) order, which a later fold's positional
    // union with an append segment relies on
    refoldSubstringStore(docIds.sparkSession, name,
      _.join(broadcast(ids), Seq("doc_id"), "left_anti")
        .select(col("h"), col("doc_id"), col("pos")), () => ())
  }

  /** d6: near-duplicate clusters — connected components over the LSH
    * pair graph, so "keep one per cluster" decisions are possible (pairs
    * alone under-delete transitive groups). Iterative min-label
    * propagation: each round every vertex takes the min label in its
    * neighborhood; converges in O(component diameter) rounds (dedup
    * clusters are near-cliques, so 2–3 in practice). The driver loop only
    * orchestrates — per-round work is joins/aggregations on the cluster;
    * this is the GraphX/GraphFrames pattern without the dependency.
    */
  def clusters(t: Tables, maxIter: Int = 100,
      oracleRounds: Option[Int] = None): DataFrame =
    // edges from the LSH pair graph — the pair source that scales (d4's
    // exact graph costs Σdf² and is the ground-truth/verify path, not the
    // production one). The propagation is identical for any edge source,
    // so it takes the unordered pairs: d2's presentation sort would be a
    // range exchange the propagation's checkpoint throws away.
    clustersOfPairs(minhashPairsOfSigs(hashedSigsOf(t.documents, 64), 64, 16, 0.5)
      .select(col("doc_a"), col("doc_b")), maxIter, oracleRounds)

  /** The d6 propagation over ANY undirected pair graph (doc_a, doc_b) —
    * minhash pairs (d6 itself), embedding-cosine pairs (dc8's semantic
    * clusters), or any candidate source with the same two columns.
    * `oracleRounds`: the gate's DuckDB oracle replays a FIXED number of
    * pointer-jumping generations; when set, the operator asserts it
    * converged within that budget instead of silently assuming it (a
    * pathological long-chain graph would otherwise surface as a
    * spurious gate divergence instead of this loud error).
    */
  def clustersOfPairs(pairGraph: DataFrame, maxIter: Int = 100,
      oracleRounds: Option[Int] = None): DataFrame = {
    val (df, rounds, converged) = clustersOfPairsCounted(pairGraph, maxIter)
    // `rounds` counts the final no-change DETECTION iteration too, so a
    // graph converging in exactly `b` productive generations (which the
    // b-generation oracle chain replays correctly) reports b+1 — compare
    // the converged-by round, not the loop count. The subtraction is only
    // sound when the last round WAS the detection round: a maxIter exit
    // while still productive must fail the budget gate, not undercount.
    oracleRounds.foreach(b => require(converged,
      s"min-label propagation hit maxIter=$maxIter unconverged — the " +
        s"$b-generation oracle replay cannot match an unconverged labeling"))
    oracleRounds.foreach(b => require(rounds - 1 <= b,
      s"min-label propagation converged in ${rounds - 1} productive rounds > " +
        s"the oracle's $b-generation replay budget — regenerate the " +
        "pointer-jump chain with more iters (OracleReplicas.PointerJumpIters)"))
    df
  }

  /** [[clustersOfPairs]] plus the number of propagation rounds actually
    * run — the observable the adversarial convergence spec pins: pointer
    * jumping must close a diameter-D component in O(log D) rounds, and
    * the `maxIter` backstop must never be the terminator on real shapes.
    */
  private[graft] def clustersOfPairsCounted(pairGraph: DataFrame,
      maxIter: Int = 100): (DataFrame, Int, Boolean) = {
    // maxIter is a runaway cap, not the expected round count: min-label
    // propagation needs O(min-label distance) rounds, so a 10-cap could
    // stop a >10-hop chain before the true component min arrives (real
    // dedup clusters are near-cliques and converge in 2-3; the oracle
    // computes the full closure, so early truncation would also diverge
    // from verification)
    val spark = pairGraph.sparkSession
    val (edges, labels0) = graft.Phase("propagation.setup") {
      val (counting, pairCount) = counted(pairGraph.select(col("doc_a"), col("doc_b")))
      val pairs = counting.localCheckpoint(true)
      // Scale-adaptive loop layout (guide §2): derive the layout from the
      // MATERIALIZED edge count instead of inheriting a cluster-wide
      // default that is 32× too wide at bench scale and could be 1000×
      // too narrow at corpus scale. Two measured regimes:
      //  - LATENCY-BOUND (under ~50k edge rows per core): a round's join
      //    work is microseconds per task, so every extra partition and
      //    every adaptive re-planning round-trip is pure overhead on a
      //    sequential O(log diameter) loop. Collapse to
      //    ceil(rows / 50k) partitions and plan the rounds STATICALLY —
      //    adaptive execution materializes each exchange as its own query
      //    stage, measured as ~6 driver round-trip jobs of 20-140 ms per
      //    round on the dc8 forest (22 rounds), i.e. nearly the whole
      //    per-round wall. Static rounds run as ONE job over 1-2
      //    partitions. (Measured both ways: static 1-2 partitions ≈ 2×
      //    faster on dc8; the same static treatment on g4's ~2M-row edge
      //    joins was 3× SLOWER — hence the gate.)
      //  - COMPUTE-BOUND (above the floor): keep adaptive execution — its
      //    per-round coalescing/broadcast decisions earn their latency —
      //    and spread the edge list across the cluster parallelism,
      //    capped at ~2M compact rows per task so per-task volume stays
      //    bounded no matter the corpus.
      // In BOTH regimes the edge list — the loop's static side, scanned
      // once per round — is pinned onto the neighbor-lookup join's layout
      // once (hash-partitioned and sorted by the far end;
      // `localCheckpoint` preserves both), so no round ever exchanges or
      // sorts the 2|E| edge rows again. Only label-sized streams move per
      // round.
      val nEdges = 2L * pairCount()
      val para = spark.sparkContext.defaultParallelism
      val latencyBound = nEdges < PropagationRowsPerCoreFloor * para
      val parts =
        if (latencyBound)
          // floor 2, not 1: a single-partition checkpoint surfaces as
          // SinglePartition, which EnsureRequirements does not treat as
          // hash-compatible with the join's clustered requirement — the
          // edge side would re-exchange every round (measured in the plan)
          math.max(2L, (nEdges + PropagationRowsPerCoreFloor - 1) /
            PropagationRowsPerCoreFloor).toInt
        else
          math.max(para.toLong,
            (nEdges + PropagationRowsPerPartition - 1) / PropagationRowsPerPartition).toInt
      // the setup checkpoints are built in a static child session in
      // BOTH regimes: a checkpoint materialized under adaptive execution
      // surfaces as UnknownPartitioning (measured — the per-round join
      // then re-sorts and re-exchanges the edge side it was pinned to
      // avoid), while a statically-planned one carries its hash
      // partitioning and sort order into every round. The latency-bound
      // rounds run in that child too; compute-bound rounds run in the
      // caller's session. The caller's conf is never touched.
      val static = GraftSession.scoped(spark, Map(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts.toString))
      val staticPairs = GraftSparkInterop.ofRows(static, pairs)
      val (labeling, verts) = counted(staticPairs.select(col("doc_a").as("doc_id"))
        .unionByName(staticPairs.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("label", col("doc_id")))
      val l = labeling.localCheckpoint(true)
      // pre-partitioning the edge list pays exactly when the per-round
      // neighbor join will NOT broadcast the labeling: in the
      // latency-bound regime (static SMJ rounds), and at vert counts
      // past broadcast size (where each adaptive round would otherwise
      // re-exchange + re-sort the 2|E| side every round). When the
      // labeling is small enough that adaptive execution broadcasts it,
      // the edge side is streamed in place and a setup
      // shuffle-and-sort of millions of edge rows is pure overhead
      // (measured +1.9 s on g4's ~2M-row edge list for zero per-round
      // benefit).
      val eBase = staticPairs
        .unionByName(staticPairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val e =
        (if (latencyBound || verts() > PropagationBroadcastableVerts)
          eBase.repartition(parts, col("doc_b")).sortWithinPartitions("doc_b")
        else eBase).localCheckpoint(true)
      val roundSession = if (latencyBound) static else spark
      (GraftSparkInterop.ofRows(roundSession, e), GraftSparkInterop.ofRows(roundSession, l))
    }
    // each round is ONE Spark job: the round's checkpoint is lazy and the
    // convergence count below materializes it
    val (labels, rounds, converged) = Loop("propagation", labels0, maxIter,
      changed = Some(_.filter(col("label") =!= col("__old")).count()))(
      propagationRound(edges, _))
    (GraftSparkInterop.ofRows(spark, labels)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("cluster_id"), col("doc_id")), rounds, converged)
  }

  /** Target rows per partition for the propagation loop's derived
    * layout: compact 16-byte label/edge rows, so ~2M rows is tens of MB
    * per task — large enough to amortize task launch, small enough to
    * stay far from per-task memory pressure.
    */
  private val PropagationRowsPerPartition = 2000000L

  /** Below this many edge rows PER CORE the loop stops fanning out to
    * the full parallelism: a round's join work at that size is
    * microseconds per task and the fan-out is pure task-launch tax on a
    * latency-bound sequential loop (measured: the dc8 forest's 22
    * rounds at 1-2 partitions beat 32 partitions by ~2×, while g4's
    * ~1M-row edge joins serialized on 1 partition cost 3× — both sides
    * of the trade are real).
    */
  private val PropagationRowsPerCoreFloor = 50000L

  /** Above this many vertices the per-round labeling stops being
    * broadcastable (~16-byte rows against the 10 MB adaptive broadcast
    * threshold, with margin) and the neighbor join shuffles — from
    * there the one-off pre-partition+sort of the edge list is cheaper
    * than re-exchanging it every round.
    */
  private val PropagationBroadcastableVerts = 400000L

  /** One min-label + pointer-jump generation over `edges(doc_a, doc_b)`
    * (both directions present, checkpointed) × `labels(doc_id, label)`:
    * emits `(doc_id, label, __old)` — the next labeling plus the
    * previous one for the convergence count.
    *
    * r19 shape (guide §2.3/§2.4 — fewer exchanges, fewer bytes): two
    * lookup joins feeding ONE min aggregation instead of the r18
    * three-join chain (neighbor-min join → fold join → compress join)
    * whose second and third joins each re-exchanged label-sized frames.
    * The vertex's own label needs no join at all: it enters the same
    * aggregation as a self-contribution, which also carries `__old` out
    * through `min(when(self...))` (one self row per vertex) and keeps
    * isolated-roster rows alive. Because the caller pins the edge list
    * onto the neighbor join's layout once (see
    * `clustersOfPairsCounted`), a round exchanges ONLY label-sized
    * streams — ~4|V| compact rows — where the r18 chain re-shuffled the
    * 2|E| edge rows plus ~5|V| every round; the sequential stage count
    * per round is the loop's dominant cost at bench scale, the exchange
    * bytes at corpus scale.
    *
    * Recurrence note: the jump compresses through the vertex's label
    * from the PREVIOUS generation — next = min(old, neighbor labels,
    * prev(old)) — where the r18 chain jumped through the already
    * neighbor-folded label (next = min(s, prev(s)), s = min(old,
    * neighbor labels)). Both recurrences are monotone, keep every label
    * inside the vertex's component, and fix exactly at the per-component
    * min, so the CONVERGED labeling — the only thing any declared query
    * emits — is bit-identical; only the round count moves (measured +1
    * round on the dc8 forest, still O(log diameter): the jump alone
    * doubles the closed distance per round). The oracle chains replay
    * this exact recurrence ([[graft.OracleReplicas.PointerJumpIters]]),
    * and `clustersOfPairs` still asserts convergence within their
    * generation budget.
    *
    * A second compress through the SAME stale map was tried (r15) and
    * measured a no-op round-for-round — identical changed-counts on the
    * sparse derived-LSH graphs — so one compress per generation stays
    * the contract the oracle chains replay.
    */
  private[graft] def propagationRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    // neighbor contributions: the only stream that touches the 2|E| edge
    // rows — and the caller pre-partitioned+sorted the checkpointed edge
    // list on doc_b, so this join exchanges and sorts ONLY the
    // label-sized side, every round
    val nbr = edges.join(labels, edges("doc_b") === labels("doc_id"))
      .select(edges("doc_a").as("dst"), col("label").as("cand"), lit(false).as("self"))
    val lmap = labels.select(col("doc_id").as("jk"), col("label").as("cand"))
    val jump = labels.join(lmap, labels("label") === lmap("jk"))
      .select(labels("doc_id").as("dst"), lmap("cand"), lit(false).as("self"))
    nbr
      .unionByName(jump)
      .unionByName(labels.select(col("doc_id").as("dst"), col("label").as("cand"),
        lit(true).as("self")))
      .groupBy(col("dst"))
      .agg(min(col("cand")).as("label"),
        min(when(col("self"), col("cand"))).as("__old"))
      .select(col("dst").as("doc_id"), col("label"), col("__old"))
  }

  /** d5: embedding-cosine near-dup. Random-hyperplane sign sketch
    * map-side, bucket-join on bands (geometry derived scale-safe from
    * the corpus count — [[graft.operators.scaleSafeLsh]]), exact cosine
    * only on bucket collisions. The full pair matrix never exists.
    */
  def embeddingNearDup(t: Tables, minCosine: Double = 0.15, topN: Int = 50): DataFrame =
    embeddingPairs(t, minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topN)

  /** d5's full threshold pair set — (id_a, id_b, cos) with the cosine
    * cut applied but NO presentation ordering/limit: the pair-graph form
    * dc8's semantic clustering consumes.
    *
    * `nbits`/`bandBits` size the LSH: `nbits/bandBits` bands of
    * `bandBits` bits each. Band WIDTH is the scale lever (SCALECHECK):
    * a band collapses the corpus into 2^bandBits buckets, so candidate
    * pairs grow ~bands · N²/2^bandBits for uncorrelated vectors —
    * CONSTANT bucket space means quadratic growth no matter how the
    * corpus shards. The DEFAULT (both 0) derives the geometry from the
    * corpus row count via [[graft.operators.scaleSafeLsh]] — expected
    * bucket occupancy capped at 64, so candidates stay linear in n at
    * any corpus size, with the documented recall trade at LOW
    * thresholds (near-identical vectors, the dedup targets, collide at
    * every width). Pass both explicitly to pin a geometry (the oracle
    * replicas and crafted specs do).
    */
  private[graft] def embeddingPairs(t: Tables, minCosine: Double,
      nbits: Int = 0, bandBits: Int = 0, seed: Long = 7L): DataFrame =
    embeddingPairsOf(t.embeddings, minCosine, nbits, bandBits, seed)

  /** [[embeddingPairs]] over an explicit `(vec_id, embedding)` frame —
    * the unit crafted-input specs drive (the semDedupOf pattern).
    */
  private[graft] def embeddingPairsOf(embeddings: DataFrame, minCosine: Double,
      nbits: Int = 0, bandBits: Int = 0, seed: Long = 7L): DataFrame = {
    val (nb, bb) = resolveLshGeometry(embeddings, nbits, bandBits)
    val bands = nb / bb
    val mask = (1L << bb) - 1
    val sk = embeddings.select(col("vec_id"),
      sign_sketch(col("embedding"), nb, seed).as("sketch"))
    // plain column expressions, not a transform() lambda (see simhash)
    val bandCols = (0 until bands).map(b =>
      shiftright(col("sketch"), b * bb).bitwiseAND(lit(mask)))
    val banded = sk.select(col("vec_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val a = banded.select(col("band_idx"), col("band_val"), col("vec_id").as("id_a"))
    val b = banded.select(col("band_idx"), col("band_val"), col("vec_id").as("id_b"))
    val emb = embeddings
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      // plain shuffle joins: the surviving pair set keys on vec_id, the
      // corpus shuffles once per side on its own id. A forced broadcast
      // of the FULL embeddings table here OOMs executors at corpus scale;
      // AQE still converts these to broadcasts when the table is small.
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** d8: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup WITHIN embedding clusters. Clustering is the upstream job
    * (s2's IVF k-means at corpus scale; here the persisted `label`
    * assignment stands in), and this operator is the paper's second
    * stage: inside each cluster, a vector is a semantic duplicate when
    * some lower-id cluster-mate has cosine ≥ `tau` with it. We use the
    * order-free "dominated by ANY lower id" rule rather than the
    * paper's keep-farthest-from-centroid, so the drop set falls out of
    * one distributed pass with no sequential within-cluster scan — a
    * dominated doc can itself dominate (ids, not survivorship, decide),
    * which the spec pins against a brute-force replica.
    *
    * Output is the drop list: each dropped vec_id with its cluster, the
    * lowest dominating id, and the (rounded) cosine to that keeper.
    *
    * Scale shape: pairs exist only inside a cluster, so the join keys
    * on cluster_id and the quadratic term is bounded by the upstream
    * choice of k (E[size] = n/k); the embeddings shuffle once per side
    * and nothing else moves. No broadcast hint — AQE promotes the small
    * side when it fits.
    *
    * `maxClusterSize` guards the quadratic term: the per-cluster pair
    * count is size², so one degenerate label (a buggy upstream assigning
    * everything cluster 0) silently turns this into an all-pairs join.
    * With a bound set, any cluster exceeding it fails loudly NAMING the
    * worst cluster and its size (same philosophy as dc4's weight check)
    * instead of grinding through n² pairs. The check is an EAGER
    * fail-fast job at operator-construction time — one (cluster_id)-only
    * partial agg, the embedding payload never moves for it — run BEFORE
    * the quadratic join is even built. (Eager on purpose: an in-plan
    * raise_error guard hangs off a column the optimizer is free to
    * prune, and a pruned guard is no guard; an action cannot be pruned.
    * Precedent: d2/d4's eager localCheckpoint.) A satisfied guard leaves
    * the returned plan bit-identical to the unguarded one.
    *
    * The guard defaults ON at [[QuadraticGuardDefault]] — degenerate
    * inputs fail loudly unless the caller explicitly opts out with
    * `maxClusterSize = None`.
    */
  def semDedup(t: Tables, tau: Double = 0.3,
      maxClusterSize: Option[Long] = Some(QuadraticGuardDefault)): DataFrame =
    semDedupOf(t.embeddings, tau, maxClusterSize)

  /** d8 over an explicit `(vec_id, label, embedding)` frame — the unit
    * the spec drives with adversarial labelings.
    */
  def semDedupOf(embeddings: DataFrame, tau: Double = 0.3,
      maxClusterSize: Option[Long] = Some(QuadraticGuardDefault)): DataFrame = {
    val e = embeddings.select(
      col("vec_id"), col("label").as("cluster_id"), col("embedding"))
    maxClusterSize.foreach { m =>
      val worst = e.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).limit(1).collect()
      worst.headOption.foreach { r =>
        throw new IllegalStateException(
          s"d8 cluster exceeds maxClusterSize=$m: cluster ${r.get(0)} has " +
            s"${r.getAs[Long]("n")} vectors — within-cluster pairs would be " +
            "quadratic; re-cluster upstream with larger k")
      }
    }
    val a = e.select(col("cluster_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("cluster_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(
        min(col("cluster_id")).as("cluster_id"),
        min(col("id_a")).as("kept_by"),
        round(min_by(col("cos"), col("id_a")), 4).as("cos_to_keeper"))
      .select(col("vec_id"), col("cluster_id"), col("kept_by"), col("cos_to_keeper"))
      .orderBy(col("vec_id"))
  }

  /** d14: blocked fuzzy join — edit-distance near-matches over
    * normalized document prefixes, the record-linkage primitive exact
    * and shingle dedup both miss (a typo inside the first shingle
    * breaks every exact k-gram, but moves Levenshtein by 1). Blocking
    * key = the prefix's first token: candidate pairs exist ONLY within
    * a block (never all-pairs), and Levenshtein runs ONLY on
    * block-collided pairs. Two scale guards: the block-size quadratic
    * guard (d8's pattern — a hot first token fails loudly before the
    * within-block self-join goes quadratic) and Spark's
    * threshold-bounded Levenshtein (the DP early-exits past `maxDist`
    * — O(maxDist·n) instead of O(n²) per pair; -1 marks "over", which
    * the post-filter drops, so results equal the plain distance's
    * ≤ maxDist set exactly).
    */
  def fuzzyJoin(t: Tables, prefixLen: Int = 80, maxDist: Int = 10,
      maxBlock: Option[Long] = Some(QuadraticGuardDefault)): DataFrame =
    fuzzyJoinOf(t.documents, prefixLen, maxDist, maxBlock)

  /** d14 over any (doc_id, text) frame — exposed for crafted-corpus
    * specs.
    */
  def fuzzyJoinOf(docs: DataFrame, prefixLen: Int = 80, maxDist: Int = 10,
      maxBlock: Option[Long] = Some(QuadraticGuardDefault)): DataFrame = {
    val pre = spreadIfNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        substring(trim(lower(col("text"))), 1, prefixLen).as("p"))
      .withColumn("blk", split_part(col("p"), lit(" "), lit(1)))
      .localCheckpoint(true) // feeds the hot-block guard and BOTH join sides
    maxBlock.foreach { m =>
      val hot = pre.groupBy(col("blk")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).limit(1).collect()
      hot.headOption.foreach { r =>
        throw new IllegalStateException(
          s"fuzzy-join block '${r.getString(0)}' holds ${r.getAs[Long]("n")} docs" +
            s" (> maxBlock=$m) — the within-block self-join would be quadratic;" +
            " widen the blocking key or opt out with maxBlock = None")
      }
    }
    val a = pre.select(col("doc_id").as("doc_a"), col("p").as("pa"), col("blk"))
    val b = pre.select(col("doc_id").as("doc_b"), col("p").as("pb"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
