package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.{GraftSparkInterop => EU}

/** Column-API and SQL-registry surface for graft's native expressions.
  * Everything here is a codegen'd Catalyst expression — no Scala UDFs on
  * any hot path.
  */
object GraftFunctions {

  /** `"M:SS.mmm"` → milliseconds (null on malformed). */
  def race_time_ms(c: Column): Column = EU.column(RaceTimeMillis(EU.expression(c)))

  /** array<long> shingle hashes → MinHash signature (array<long>). */
  def minhash_sig(c: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    EU.column(MinHashSignature(EU.expression(c), numHashes, seed))

  /** array<string> tokens → array<long> k-token shingle hashes (codegen). */
  def shingle_hashes(c: Column, k: Int = 2): Column =
    EU.column(ShingleHashes(EU.expression(c), k))

  /** array<string> tokens → MinHash signature, fused single pass. */
  def shingle_minhash(c: Column, k: Int = 2, numHashes: Int = 64, seed: Long = 42L): Column =
    EU.column(ShingleMinHash(EU.expression(c), k, numHashes, seed))

  /** array<long> signature → array<long> LSH band bucket keys. */
  def sig_bands(c: Column, bands: Int = 16): Column =
    EU.column(SignatureBands(EU.expression(c), bands))

  /** array<string> tokens → 64-bit SimHash. */
  def simhash64(c: Column): Column = EU.column(SimHash64(EU.expression(c)))

  /** string → min rolling k-byte-window hash (winnowing fingerprint). */
  def rolling_fingerprint(c: Column, k: Int = 16): Column =
    EU.column(RollingFingerprint(EU.expression(c), k))

  /** array<long> → int count of elements in the fixed long set. */
  def long_set_hits(c: Column, values: Seq[Long]): Column =
    EU.column(LongSetHits(EU.expression(c), values))

  /** array<long> positional k-shingle hashes → tokens covered by the
    * union of hot-shingle windows (d13's kernel, one codegen pass).
    */
  def covered_tokens(c: Column, hotSet: Seq[Long], k: Int): Column =
    EU.column(CoveredTokens(EU.expression(c), hotSet, k))

  /** The canonical whitespace tokenization every text operator AND its
    * DuckDB oracle mirror (`regexp_split_to_array(trim(lower(text)),
    * '\s+')`) — single definition so batch, streaming and oracle
    * tokenizations cannot drift apart.
    */
  def ws_tokens(c: Column): Column =
    org.apache.spark.sql.functions.split(
      org.apache.spark.sql.functions.trim(org.apache.spark.sql.functions.lower(c)), "\\s+")

  /** array<long> feature hashes → Σ weights[pmod(h, B)] (B = weights
    * length, power of two) — map-side hashed-feature linear scoring.
    */
  def bucket_weight_sum(c: Column, weights: Seq[Double]): Column =
    EU.column(BucketWeightSum(EU.expression(c), weights))

  /** (array<long>, array<long>) → int count of agreeing positions. */
  def sig_agreement(a: Column, b: Column): Column =
    EU.column(SigAgreement(EU.expression(a), EU.expression(b)))

  /** array<string> tokens → int count of tokens in `words` (dups counted). */
  def stopword_hits(c: Column, words: Seq[String]): Column =
    EU.column(StopwordHits(EU.expression(c), words))

  /** cosine(array<float>, array<float>) → double. */
  def cosine_sim(a: Column, b: Column): Column =
    EU.column(CosineSimilarity(EU.expression(a), EU.expression(b)))

  /** array<float> → 64-bit random-hyperplane sign sketch. */
  def sign_sketch(c: Column, nbits: Int = 16, seed: Long = 7L): Column =
    EU.column(SignSketch(EU.expression(c), nbits, seed))

  /** array<float> → array<long> of floor(x·scale + 0.5) — exact,
    * engine-portable integer quantization (see [[GraftVec.quantize]]).
    */
  def quantize_vec(c: Column, scale: Double): Column =
    EU.column(QuantizeVec(EU.expression(c), scale))

  /** Heavy-hitters aggregate over token arrays: SpaceSaving sketch,
    * fixed memory, mergeable partials.
    */
  def approx_top_k_tokens(c: Column, k: Int = 20, capacity: Int = 4096): Column =
    EU.column(ApproxTopKTokens(EU.expression(c), k, capacity).toAggregateExpression())

  /** Distinct-count sketch aggregate: deterministic HLL, 2^p-byte
    * mergeable partials, exact-integer estimator (DuckDB-replayable).
    */
  def hll_distinct(c: Column, p: Int = 6): Column =
    EU.column(HllDistinctAgg(EU.expression(c), p).toAggregateExpression())

  /** array<string> tokens → struct of within-doc repetition counters. */
  def repetition_stats(c: Column, k: Int = 2): Column =
    EU.column(RepetitionStats(EU.expression(c), k))

  /** Build a binary HLL sketch VALUE (store/re-aggregate later). */
  def hll_sketch(c: Column, p: Int = 6): Column =
    EU.column(HllSketchAgg(EU.expression(c), p).toAggregateExpression())

  /** Union already-built binary sketches (register max). */
  def hll_merge(c: Column, p: Int = 6): Column =
    EU.column(HllMergeAgg(EU.expression(c), p).toAggregateExpression())

  /** Scalar distinct-count estimate of a binary sketch. */
  def hll_estimate(c: Column): Column = EU.column(HllEstimate(EU.expression(c)))

  /** Build a binary Bloom filter over long keys (or array<long> rows). */
  def bloom_build(c: Column, nbits: Int = 1 << 20, k: Int = 4): Column =
    EU.column(BloomBuildAgg(EU.expression(c), nbits, k).toAggregateExpression())

  /** array<long> → int count of elements the filter (possibly) contains. */
  def bloom_hits(c: Column, filter: Seq[Byte]): Column =
    EU.column(BloomHits(EU.expression(c), filter))

  /** KMV bottom-k distinct estimate over long keys (exact below k). */
  def kmv_distinct(c: Column, k: Int = 256): Column =
    EU.column(KmvDistinctAgg(EU.expression(c), k).toAggregateExpression())

  /** Build a binary KMV sketch VALUE (store / intersect later). */
  def kmv_sketch(c: Column, k: Int = 256): Column =
    EU.column(KmvSketchAgg(EU.expression(c), k).toAggregateExpression())

  /** STRUCT(inter_k, est_union, est_shared) from two kmv_sketch blobs. */
  def kmv_overlap(a: Column, b: Column): Column =
    EU.column(KmvOverlap(EU.expression(a), EU.expression(b)))

  /** Build a binary Count-Min frequency sketch (d rows × w counters). */
  def cms_sketch(c: Column, d: Int = 4, w: Int = 512): Column =
    EU.column(CmsSketchAgg(EU.expression(c), d, w).toAggregateExpression())

  /** Estimated count of `key` in a CMS sketch (≥ the true count). */
  def cms_estimate(sketch: Column, key: Column): Column =
    EU.column(CmsEstimate(EU.expression(sketch), EU.expression(key)))

  /** Optional trailing INT argument (precision / shingle width): honor
    * it when present — silently ignoring a user-supplied literal would
    * produce wrong-precision results with no error.
    */
  private def intArg(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      idx: Int, default: Int, what: String): Int =
    exprs.lift(idx).map {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an INT literal, got $other")
    }.getOrElse(default)

  /** Single source of the SQL surface — consumed by [[registerAll]]
    * (imperative per-session) AND [[graft.plans.GraftExtensions]]
    * (spark.sql.extensions packaging), so the two registration paths
    * cannot drift.
    */
  private[graft] val sqlFunctionBuilders: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "race_time_ms" -> (exprs => RaceTimeMillis(exprs.head)),
    "graft_simhash64" -> (exprs => SimHash64(exprs.head)),
    "graft_cosine" -> (exprs => CosineSimilarity(exprs.head, exprs(1))),
    "graft_fingerprint" -> (exprs => RollingFingerprint(exprs.head, 16)),
    "graft_hll_distinct" -> (exprs =>
      HllDistinctAgg(exprs.head, intArg(exprs, 1, 6, "precision")).toAggregateExpression()),
    "graft_hll_sketch" -> (exprs =>
      HllSketchAgg(exprs.head, intArg(exprs, 1, 6, "precision")).toAggregateExpression()),
    "graft_hll_merge" -> (exprs =>
      HllMergeAgg(exprs.head, intArg(exprs, 1, 6, "precision")).toAggregateExpression()),
    "graft_hll_estimate" -> (exprs => HllEstimate(exprs.head)),
    "graft_repetition_stats" -> (exprs =>
      RepetitionStats(exprs.head, intArg(exprs, 1, 2, "shingle width"))),
    "graft_kmv_distinct" -> (exprs =>
      KmvDistinctAgg(exprs.head, intArg(exprs, 1, 256, "k")).toAggregateExpression()))

  /** Register every graft function for SQL use. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctionBuilders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
