package graft

import org.apache.spark.sql.DataFrame

/** Shared plumbing for the operator family. */
package object operators {

  /** Spread a narrow scan over all cores ONLY when it actually is narrow.
    *
    * The local testdata parquet is a single row-group, so the scan yields
    * 1-3 splits and every CPU-heavy per-row stage (shingling, hashing,
    * tokenizing) would run near-serially without a repartition. But the
    * repartition must not be unconditional: at 100 TB the same scan has
    * thousands of splits, and a full-corpus exchange of the heaviest
    * column (the text itself) is exactly the shuffle the bucketed designs
    * exist to avoid — the signatures need spreading, the text does not.
    * So: repartition only when the scan's split count is below the
    * cluster's parallelism; otherwise pass the input through untouched.
    *
    * `df.rdd.getNumPartitions` compiles the physical plan but runs no
    * job — the check itself is free.
    */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Rebuild a (checkpointed) frame over its own RDD, dropping the
    * producing plan's INHERITED `sizeInBytes` estimate — the fix for the
    * iterative-loop stats blowup (diagnosed r15 in the d6 min-label
    * engine): a `localCheckpoint` keeps its producer's estimated stats,
    * each round's joins MULTIPLY those BigInts, and the estimate's digit
    * count roughly triples per round — by round ~20 the driver sits in
    * million-digit `BigInteger.multiply` inside the stats visitor
    * (measured 0.25 s → 200 s per round; jstack pinned Toom-Cook
    * multiplication). Re-framing over the checkpointed RDD resets every
    * round to flat default stats; the extra row conversion is a few
    * longs per node per round — noise next to the round's own shuffles —
    * and AQE still sizes joins from RUNTIME shuffle stats, so no
    * planning quality is lost. Only [[Loop]] calls it, once per round,
    * so every loop keeps the invariant whatever its caller-settable
    * round count; IterativeStatsSpec pins it.
    */
  private[graft] def reframed(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Scale-safe sign-LSH geometry `(nbits, bandBits)` derived from the
    * corpus row count — the default for d5/s4/dc8's banded embedding
    * LSH. A band of width w collapses the corpus into 2^w buckets, so
    * RANDOM candidate pairs grow ~bands·n²/2^w: any FIXED width is
    * quadratic past some corpus size (SCALECHECK measured the old 4-bit
    * default at 17-26× on 10× data). Deriving the width caps expected
    * bucket occupancy at 64 rows — candidate pairs stay ~bands·32·n,
    * LINEAR in n with a constant the exact-cosine rerank absorbs:
    *
    *   n ≤ 1,024   → 16-bit sketch, 4 bands × 4 bits
    *   n ≤ 16,384  → 32-bit sketch, 4 bands × 8 bits
    *   n ≤ 4.2e6   → 64-bit sketch, 4 bands × 16 bits
    *   above       → 64-bit sketch, 2 bands × 32 bits (covers any real
    *                 corpus: occupancy 64 holds to n = 2.7e11)
    *
    * Recall trade, stated honestly (SCALECHECK's measured table): wide
    * bands only catch NEAR-IDENTICAL vectors — exactly the dedup
    * contract (exact twins share the whole sketch and collide at every
    * width; cos≈0.97 pairs survive a 16-bit band with p ≈ 0.86^16 per
    * band). Moderate-threshold similarity (cos ~0.5) at scale is the
    * IVF family's job (s2/s9), not banding's. Callers needing a pinned
    * geometry (the oracle replicas, crafted specs) pass both values
    * explicitly; the derivation is a pure step function of the count,
    * so a gate corpus crossing a ladder boundary fails LOUDLY in the
    * oracle-pin spec rather than silently drifting.
    */
  def scaleSafeLsh(n: Long): (Int, Int) = {
    val bandBits = Seq(4, 8, 16, 32).find(w => n <= (64L << w)).getOrElse(32)
    (math.min(4 * bandBits, 64), bandBits)
  }

  /** Resolve a caller's `(nbits, bandBits)` against the derive-default
    * contract: both 0 → [[scaleSafeLsh]] of the corpus count (one cheap
    * count job, the eager-guard precedent); both set → validated as
    * given; mixed → refused (a half-pinned geometry is always a bug).
    * bandBits is capped at 63 because `(1L << 64) - 1` wraps to 0 on
    * the JVM — a silent full cross-product.
    */
  private[graft] def resolveLshGeometry(embeddings: DataFrame,
      nbits: Int, bandBits: Int): (Int, Int) = {
    val (nb, bb) =
      if (nbits == 0 && bandBits == 0) scaleSafeLsh(embeddings.count())
      else {
        require(nbits != 0 && bandBits != 0,
          s"pass BOTH nbits=$nbits and bandBits=$bandBits to pin an LSH " +
            "geometry, or NEITHER (0, 0) to derive it from the corpus count")
        (nbits, bandBits)
      }
    require(bb >= 1 && bb <= 63 && nb >= bb && nb <= 64 && nb % bb == 0,
      s"need 1 <= bandBits=$bb <= 63, bandBits <= nbits=$nb <= 64, nbits % bandBits == 0")
    (nb, bb)
  }

  /** Default bound for the quadratic-blowup guards (d8 `maxClusterSize`,
    * s4 `maxBucketSize`, the store builds' `maxDf`/`maxBandBucket`): the
    * guards are ON by default, opt-out via explicit `None`. 2^20 is
    * generous — a key reaching it implies ~10^12 candidate pairs, a job
    * that would never finish anyway — so healthy corpora never trip it,
    * while a degenerate input (constant embeddings, a buggy upstream
    * labeler, corpus-hot boilerplate shingles) fails LOUDLY naming the
    * offending key instead of silently going quadratic at scale.
    */
  val QuadraticGuardDefault: Long = 1L << 20
}
