package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew handling for shuffled joins. AQE's skew-join split covers most
  * cases at runtime; explicit salting is the plan-level tool when one
  * hot key dominates a shuffle (the classic "one driver has half the
  * telemetry" shape). Semantics-preserving: results equal the unsalted
  * join (spec-verified).
  *
  * Shape: the skewed (large) side gets a deterministic salt derived from
  * a high-cardinality column, widening one hot key into `factor`
  * shuffle keys; the small side is replicated `factor` times with every
  * salt value. Replication cost is `factor × |small|` — bounded and
  * map-side — while the hot partition shrinks by `factor`.
  */
object Skew {

  /** Inner-join `large ⋈ small` on `key`, salting the shuffle. `saltBy`
    * must be a column of `large` with per-row variation (a row id);
    * using a hash of it keeps the salt deterministic run-to-run (no
    * `rand()` — reruns and retries stay idempotent).
    *
    * `smallHint` optionally pins the join strategy (e.g. "shuffle_hash"
    * when the replicated dim fits a per-partition hash relation but not
    * a broadcast). It must be applied HERE, after the salt explode — a
    * hint the caller puts on `small` is detached by the Generate node
    * the replication inserts, and the join silently falls back to
    * sort-merge: the full salted fact gets sorted, measured 2× slower
    * (SURVEY.md, "Measured design decisions").
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltBy: String, factor: Int = 8, smallHint: Option[String] = None): DataFrame = {
    val salted = large.withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(factor)).cast("int"))
    val replicated0 = small
      .withColumn("__salt", explode(expr(s"sequence(0, ${factor - 1})")))
    val replicated = smallHint.fold(replicated0)(replicated0.hint(_))
    salted
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }
}
