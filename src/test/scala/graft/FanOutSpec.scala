package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, Ranking, TextAnalysis}
import graft.sources.{Tables, Warehouse}

/** The fan-out rule ([[GraftSession.fanOut]]): every partition count
  * graft picks explicitly is the session's `spark.sql.shuffle.partitions`
  * — never AQE's `initialPartitionNum`, which `SQLConf.numShufflePartitions`
  * returns while coalescing is on, and never a per-call-site constant.
  */
class FanOutSpec extends SparkSpecBase {
  import spark.implicits._

  private def width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("globalRowNumber range-partitions to the session width, not AQE's initial partition count") {
    val init = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    assume(init != width, "the suite's session must start AQE shuffles wider than its floor")
    val df = (0 until 100).map(i => (i.toLong, (i * 37) % 100)).toDF("id", "score")
    val order = Seq(col("score").desc, col("id"))
    val ranked = Ranking.globalRowNumber(df, order, "position")
    val checkpointParts = ranked.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd.getNumPartitions }.distinct
    assert(checkpointParts == Seq(width),
      s"the ranking's checkpoint must hold $width partitions, got $checkpointParts")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("position"))).sortBy(_._1).toSeq
    val wide = Ranking.globalRowNumber(df, order, "position", numPartitions = Some(256))
    assert(rows(ranked) == rows(wide), "the numbering must not depend on the range width")
    assert(rows(ranked).map(_._2).sorted == (1 to 100))
  }

  test("default-built signature, BM25 and BPE-dict stores take the session width; an explicit count wins") {
    val t = Tables(spark, sfDir)
    val docs = t.documents.filter(col("doc_id") < 200)
    val stores = Seq(
      ("fan_sig", Seq("sigs", "bands"), "bands",
        (b: Int) => Dedup.buildSignatureStore(docs, "fan_sig", buckets = b)),
      ("fan_bm25", Seq("postings", "stats"), "postings",
        (b: Int) => TextAnalysis.buildBm25Store(docs, "fan_bm25", buckets = b)),
      ("fan_bpe", Seq("dict", "merges"), "dict",
        (b: Int) => Bpe.buildDictStore(t, "fan_bpe", numMerges = 2, buckets = b)))
    def built(name: String, suffix: String): Int = Warehouse.storeLayout(spark,
      "fan-out", name, Warehouse.resolveGeneration(spark, name), suffix).buckets
    for ((name, suffixes, bucketed, build) <- stores) {
      Warehouse.dropStore(spark, name, suffixes)
      build(0)
      assert(built(name, bucketed) == width, s"$name default build")
      build(8)
      assert(built(name, bucketed) == 8, s"$name explicit buckets = 8")
      Warehouse.dropStore(spark, name, suffixes)
    }
  }

  /** The main sources whose code, comments stripped, contains `token`. */
  private def mainSourcesUsing(token: String): Seq[java.nio.file.Path] =
    mainSourcesMatching(java.util.regex.Pattern.quote(token))

  /** The main sources whose code, comments stripped, matches `regex`. */
  private def mainSourcesMatching(regex: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val blockComment = "(?s)/\\*.*?\\*/".r
    val lineComment = "//[^\n]*".r
    files.filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      regex.r.findFirstIn(lineComment.replaceAllIn(blockComment.replaceAllIn(src, ""), "")).isDefined
    }
  }

  test("no main source asks SQLConf.numShufflePartitions for a width") {
    val offenders = mainSourcesUsing("numShufflePartitions")
    assert(offenders.isEmpty,
      s"use GraftSession.fanOut instead of numShufflePartitions in: ${offenders.mkString(", ")}")
  }

  test("no main source runs DESCRIBE EXTENDED for catalog metadata") {
    // the command is two Spark jobs per call; the session catalog
    // answers the same questions on the driver
    val offenders = mainSourcesUsing("DESCRIBE EXTENDED")
    assert(offenders.isEmpty,
      s"read spark.sessionState.catalog instead of DESCRIBE EXTENDED in: ${offenders.mkString(", ")}")
  }

  test("no main source sets or unsets a session conf") {
    // work that needs another conf runs in GraftSession.scoped's child,
    // whose conf is written once at creation; flipping a live session's
    // conf leaks into every query the session runs concurrently
    val offenders = mainSourcesMatching("""conf\.(set|unset)\(""")
    assert(offenders.isEmpty,
      s"plan under GraftSession.scoped instead of conf.set/unset in: ${offenders.mkString(", ")}")
  }

  test("only the iteration engine re-frames a loop's round") {
    val offenders = mainSourcesMatching("""(?<!def )reframed\(""")
      .filterNot(_.endsWith("graft/operators/Loop.scala"))
    assert(offenders.isEmpty,
      s"run the loop through graft.operators.Loop instead of calling reframed in: ${offenders.mkString(", ")}")
  }

  test("only the warehouse names the store layout record's property prefix") {
    // a store's build constants are read and written through
    // Warehouse.writeBucketed and Warehouse.storeLayout alone; an
    // operator touching the catalog properties itself would fork the rule
    val users = mainSourcesUsing("graft.layout.")
    assert(users.map(_.toString) == Seq("src/main/scala/graft/sources/Warehouse.scala"),
      s"only Warehouse may name the layout prefix, found in: ${users.mkString(", ")}")
  }

  test("only the session factory names a codegen conf key") {
    // the codegen cache is JVM-wide and sized once, from the working set
    // GraftSession.CodegenCacheEntries records; a second writer of a
    // codegen key would fork that rule
    val users = mainSourcesUsing("spark.sql.codegen.")
    assert(users.map(_.toString) == Seq("src/main/scala/graft/GraftSession.scala"),
      s"only GraftSession may name a spark.sql.codegen key, found in: ${users.mkString(", ")}")
  }
}
