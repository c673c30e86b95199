package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup}
import graft.sources.{Tables, Warehouse}

/** Work that plans under its own conf ([[GraftSession.scoped]]) never
  * flips the caller's session conf: a reader on another thread sees only
  * the session's own values, concurrent work in the same session plans
  * and computes as it would alone, and state handed back through the
  * shared cache manager is released.
  */
class SessionScopeSpec extends SparkSpecBase {
  import spark.implicits._

  private val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")

  private def path99 = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")

  /** Every value of the watched confs a sampler thread read off the
    * caller's session while `body` ran.
    */
  private def sampledWhile(body: => Unit): Map[String, Set[String]] = {
    val seen = new ConcurrentHashMap[String, Set[String]]()
    def sample(): Unit = watched.foreach { k =>
      val v = spark.conf.get(k)
      seen.merge(k, Set(v), _ ++ _)
    }
    @volatile var running = true
    val sampler = new Thread(() => while (running) { sample(); LockSupport.parkNanos(100000L) })
    sampler.start()
    try body finally { running = false; sampler.join() }
    sample()
    seen.asScala.toMap
  }

  test("the caller's conf reads its own values throughout a latency-bound propagation and a BPE training") {
    val own = watched.map(k => k -> Set(spark.conf.get(k))).toMap
    var rounds = 0
    val seen = sampledWhile {
      val (labels, n, converged) = Dedup.clustersOfPairsCounted(path99)
      assert(converged)
      assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(0L))
      rounds = n
      val (steps, dict) = Bpe.train(Tables(spark, sfDir), 4)
      assert(steps.size == 4)
      dict.unpersist()
    }
    assert(rounds > 1)
    assert(seen == own, s"the caller's conf changed while the loops ran: $seen, own $own")
  }

  test("a scoped child names generated classes by their code, as its caller does") {
    val key = "spark.sql.codegen.useIdInClassName"
    val child = GraftSession.scoped(spark, Map("spark.sql.adaptive.enabled" -> "false"))
    assert(spark.conf.get(key) == "false" && child.conf.get(key) == "false",
      s"caller ${spark.conf.get(key)}, child ${child.conf.get(key)}")
  }

  test("a labeling computed while a store build runs in the same session equals the solo labeling") {
    def labeling(): Seq[(Long, Long)] =
      Dedup.clustersOfPairsCounted(path99)._1.as[(Long, Long)].collect().toSeq
    val solo = labeling()
    val name = "scope_race"
    val docs = Tables(spark, sfDir).documents.filter(col("doc_id") < 200)
    Warehouse.dropStore(spark, name, Seq("sigs", "bands"))
    var raced = Seq.empty[(Long, Long)]
    try {
      Warehouse.runConcurrently(Seq(
        () => raced = labeling(),
        () => Dedup.buildSignatureStore(docs, name): Unit))
      assert(raced == solo, "the labeling must not depend on concurrent work in the session")
      // a default build takes the session's width; a conf flipped by the
      // loop would have leaked its width into the racing build's buckets
      val built = Warehouse.storeLayout(spark, "signature", name,
        Warehouse.resolveGeneration(spark, name), "bands").buckets
      assert(built == spark.conf.get("spark.sql.shuffle.partitions").toInt, s"$built")
    } finally Warehouse.dropStore(spark, name, Seq("sigs", "bands"))
  }

  test("BPE training's dict is served by the shared cache in the caller's session and released after t13 and t14") {
    val t = Tables(spark, sfDir)
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val (_, dict) = Bpe.train(t, 4)
    assert(dict.sparkSession eq spark, "the dict comes back in the caller's session")
    assert(dict.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty,
      "the caller's plan over the dict must read the training cache")
    dict.unpersist()
    assert(cache.isEmpty, "unpersisting the dict from the caller releases the training cache")
    Bpe.bpeMerges(t, 4).collect()
    assert(cache.isEmpty, "t13 leaves no cache entry from training")
    Bpe.bpeEncode(t, 4).collect()
    assert(cache.isEmpty, "t14 leaves no cache entry from training")
  }
}
