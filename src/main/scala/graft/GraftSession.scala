package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Session factory for the graft engine.
  *
  * Local testing runs `local[32]` in one JVM; the configs below are the
  * ones that carry to a real cluster: AQE (runtime re-planning + skew-join
  * handling), a broadcast threshold sized for dimension tables, and UTC
  * session time so event-time semantics are stable across executors.
  */
object GraftSession {
  /** `shufflePartitions` is the AQE coalesce FLOOR (and the static plan
    * width when AQE can't apply); `initialPartitions` is where every
    * shuffle STARTS before AQE coalesces — sized well above the core
    * count so a heavy partial aggregation (the declared Σdf² ground-truth
    * ops at sf1+) spreads its spill across many small sorters instead of
    * starving at 32 fixed partitions, while small inputs coalesce
    * straight back down to the floor. On a real cluster, scale
    * `initialPartitions` with input splits (rule of thumb: total input
    * bytes / 128 MB, min 2× total cores) — it is the one knob here that
    * must grow with data volume.
    *
    * `shufflePartitions` is also the width of every partition count
    * graft picks explicitly ([[fanOut]]): range-partitioned rankings,
    * the as-of join's clustering, and the default bucket count of every
    * persisted store.
    */
  def builder(master: String = "local[32]", shufflePartitions: Int = 32,
      initialPartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS", "256").toInt): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(initialPartitions, shufflePartitions).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // OFF for correctness: when ON (the 4.x default), UnionExec
      // reports its children's common partitioning, and a keyed
      // aggregate over a union of SAME-BUCKETED scans skips its
      // exchange. The claim is honored on the row path (same-index
      // partitions zip) but NOT on the COLUMNAR path (partitions
      // concatenate while still claiming clustering) — a columnar
      // union of two co-bucketed tables + groupBy on the bucket key
      // returns per-child partials as final rows (reproduced on
      // 4.1.2: two 4-bucket tables sharing key h=1 → groupBy(h) emits
      // h=1 twice). Every segmented-store fold/probe unions
      // co-bucketed generations, so this library cannot run with the
      // optimization on; the exchanges it legitimately saved (dfT over
      // filtered postings unions) return, priced into the audited
      // plans.
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")

  /** The ONE fan-out rule: every partition count graft picks
    * explicitly — range-partition widths (`Ranking`, `AsOfJoin`) and
    * the default bucket count of a store build — is the session's
    * configured `spark.sql.shuffle.partitions`, which is also AQE's
    * coalesce floor above. Never `SQLConf.numShufflePartitions`: under
    * AQE coalescing that getter returns `initialPartitionNum` (the wide
    * START of a coalescable shuffle), and an explicit count is never
    * coalesced, so every stage would run that many mostly-empty tasks.
    */
  def fanOut(conf: SQLConf): Int = conf.defaultNumShufflePartitions

  def fanOut(spark: SparkSession): Int = fanOut(spark.sessionState.conf)

  /** A child of `spark` for work that must plan under another conf: a
    * `newSession()` (same context, cache manager and catalog) holding
    * the caller's modifiable SQL confs plus `overrides`, with graft's
    * functions registered. Its conf is written once, here, so the
    * caller's conf is never flipped under concurrent work. Frames cross
    * with [[org.apache.spark.sql.GraftSparkInterop.ofRows]]. Children are
    * cached per (caller, confs, overrides): a fresh child's first query
    * measured 226 ms, a reused one's 104 ms.
    */
  def scoped(spark: SparkSession, overrides: Map[String, String]): SparkSession = {
    val conf = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) } ++ overrides
    children.synchronized {
      children.computeIfAbsent(spark, _ => mutable.Map.empty)
        .getOrElseUpdate(conf, {
          val child = spark.newSession()
          conf.foreach { case (k, v) => child.sessionState.conf.setConfString(k, v) }
          functions.GraftFunctions.registerAll(child)
          child
        })
    }
  }

  private val children =
    new java.util.WeakHashMap[SparkSession, mutable.Map[Map[String, String], SparkSession]]()

  /** Create (or reuse) a session and register graft SQL functions. */
  def getOrCreate(master: String = "local[32]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    functions.GraftFunctions.registerAll(spark)
    spark
  }
}
