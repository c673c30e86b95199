package graft

import org.apache.spark.sql.functions._

/** The iterative-loop stats invariant ([[graft.operators.reframed]]):
  * checkpointed loop frames must NOT carry their producer's compounding
  * `sizeInBytes` estimate into the next round. The r15 diagnosis (d6's
  * min-label engine): the estimate's digit count roughly triples per
  * round, and by round ~20 the driver stalls in million-digit BigInt
  * multiplication inside the stats visitor. The fix is a shared helper
  * the iteration engine ([[graft.operators.Loop]]) applies to every
  * round; this spec pins the helper's effect, a 30-round loop's health
  * and the training loops' outputs at 10 iterations — `iters` is
  * caller-settable, so "the default only runs 5 rounds" is no defense.
  */
class IterativeStatsSpec extends SparkSpecBase {

  private def statsDigits(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length

  test("reframed drops an inherited multi-digit stats estimate back to the default") {
    import spark.implicits._
    var df = (1L to 8L).map(i => (i, i)).toDF("a", "b")
    // joins MULTIPLY size estimates — a few self-joins inflate the
    // estimate far past any physical size, and a localCheckpoint
    // INHERITS it (the compounding carrier in an iterative loop)
    (1 to 4).foreach { i =>
      df = df.join(df.select(col("a"), col("b").as(s"b$i")), "a")
        .select(col("a"), col("b"))
    }
    val checkpointed = df.localCheckpoint(true)
    val inflated = statsDigits(checkpointed)
    val reset = statsDigits(graft.operators.reframed(checkpointed))
    assert(reset <= 20,
      s"reframed must reset to a default-sized estimate, got $reset digits")
    assert(inflated > reset,
      s"precondition: the checkpoint inherited an inflated estimate " +
        s"($inflated digits) for the reset to be observable")
  }

  test("30 rounds on a chain graph: the loop's final plan carries flat stats and finishes promptly") {
    import spark.implicits._
    // a 60-node path graph — the long-convergence shape (near-cliques
    // converge in 2-3 rounds and would never reach the blowup horizon)
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    val t0 = System.nanoTime()
    val ranked = graft.operators.Graph.pagerankFromEdges(chain, iters = 30, topK = 10)
    val rows = ranked.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 10 && rows.forall(_.getLong(2) > 0L),
      "30-round chain PageRank must still produce positive integer ranks")
    // pre-fix the estimate digits tripled per round (3^30 ≈ 10^14 digits
    // — the driver never gets here); with the per-round reframe the
    // final plan's estimate stays within join-of-defaults range
    assert(statsDigits(ranked) < 100,
      s"the loop's final plan must carry flat stats, got ${statsDigits(ranked)} digits")
    // generous wall bound: the failure mode is minutes-per-round BigInt
    // planning, not a slow shuffle — this is a 60-node graph
    assert(secs < 180.0, f"30 rounds took $secs%.1f s — per-round cost is compounding")
  }

  /** The corpus embeddings the IVF and PQ training loops read. */
  private def embeddings = graft.sources.Tables(spark, sfDir).embeddings
    .select(col("vec_id"), col("embedding"))

  test("k-means training at 10 iterations returns centroids with flat stats") {
    val centroids = graft.operators.Similarity.kmeansCentroids(embeddings, nlist = 16, iters = 10)
    assert(statsDigits(centroids) <= 20,
      s"the centroid frame's estimate must not compound per round, got ${statsDigits(centroids)} digits")
  }

  test("PQ codebook training at 10 iterations returns codebooks with flat stats") {
    val sv = graft.operators.ProductQuant.subvectors(embeddings, m = 4, subDim = 16)
    val books = graft.operators.ProductQuant.codebooks(sv, nlist = 16, iters = 10, trainSize = 1024L)
    assert(statsDigits(books) <= 20,
      s"the codebook frame's estimate must not compound per round, got ${statsDigits(books)} digits")
  }
}
