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
    *
    * The codegen cache holds [[CodegenCacheEntries]] compiled classes,
    * and generated class names carry no stage number, so the cache
    * matches a stage by its code alone; see there.
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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Size of Spark's JVM-wide cache of compiled generated classes (a
    * static conf: the first session of the JVM fixes it). Spark keys the
    * cache by (class loader, generated code), and a
    * [[scoped]] child runs its tasks under its own executor class
    * loader, so a child's classes are cached apart from its caller's.
    * The builder sets `spark.sql.codegen.useIdInClassName=false`, so a
    * whole-stage class's name, and so its code, no longer holds its
    * stage number: two stages whose code is the same byte for byte
    * share one compiled class, and a plan that differs from an earlier
    * one only in stage numbering (one more union branch or store
    * segment) compiles nothing new. Any other difference in the code
    * still misses, so sharing is as safe as Spark's own cache key.
    * Spark's default of 100 entries is below graft's working set. One
    * sf0.01 `dc3_canonical` call uses ~115 generated classes, the five
    * keys of perfbench's `analytics_mix` ~185, and a whole
    * `analytics_mix` run ~320 (set-up, ETL syncs, standings reads and
    * the keys; 4 cores). At 100 every dc3 call missed the cache, and
    * ~0.9 s of its ~2.2 s went to the compiler. Measured per timed
    * `analytics_mix` iteration: 250 entries still recompiled 25–80
    * classes; 500 and 1000 both compiled only the 2–4 whose code is new
    * each round (literals of that round's sync). 500 is the smallest
    * round size that holds the working set. These figures were taken
    * with stage numbers in class names; shared classes can only shrink
    * the working set. Each cached class keeps its
    * bytecode in metaspace (a few KB to tens of KB, so a few MB at the
    * cap); a JVM run with `-XX:MaxMetaspaceSize` must leave room for it.
    */
  val CodegenCacheEntries: Int = 500

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
