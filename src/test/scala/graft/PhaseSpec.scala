package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, Graph, ProductQuant, Similarity}
import graft.sources.Warehouse

/** The measurement instrument ([[Phase]]): scopes label jobs with a
  * nested phase path and restore the caller's properties; the recorder
  * attributes jobs to the path they ran under; the engines label
  * themselves once.
  */
class PhaseSpec extends SparkSpecBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Run `body` under a fresh recorder and return what it recorded. */
  private def recorded(body: => Unit): Map[String, Phase.Stats] = {
    val r = Phase.record(spark)
    try { body; r.snapshot() }
    finally r.close()
  }

  test("nested scopes extend the path and restore the outer path and the caller's description") {
    sc.setJobDescription("caller's own description")
    try {
      Phase("outer") {
        assert(sc.getLocalProperty(Phase.Property) == "outer")
        Phase("inner") {
          assert(sc.getLocalProperty(Phase.Property) == "outer/inner")
          assert(sc.getLocalProperty("spark.job.description") == "outer/inner")
        }
        assert(sc.getLocalProperty(Phase.Property) == "outer", "the outer path is back")
        intercept[IllegalStateException](Phase("failing") { throw new IllegalStateException("x") })
        assert(sc.getLocalProperty(Phase.Property) == "outer", "a throwing scope restores too")
        assert(sc.getLocalProperty("spark.job.description") == "outer")
      }
      assert(sc.getLocalProperty(Phase.Property) == null, "no path outside every scope")
      assert(sc.getLocalProperty("spark.job.description") == "caller's own description")
    } finally sc.setJobDescription(null)
  }

  test("a scope leaves the caller's job group in force") {
    sc.setJobGroup("phase-spec-group", "group description")
    try Phase("grouped") {
      assert(sc.getLocalProperty("spark.jobGroup.id") == "phase-spec-group")
    } finally sc.clearJobGroup()
  }

  test("jobs submitted from runConcurrently threads carry the opener's phase") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Phase.Property))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    val stats = try recorded {
      Phase("opener") {
        Warehouse.runConcurrently(Seq(
          () => spark.range(0, 100, 1, 2).count(): Unit,
          () => spark.range(0, 100, 1, 2).count(): Unit))
      }
    } finally sc.removeSparkListener(listener)
    assert(seen.asScala.toSeq.count(_ == "opener") >= 2,
      s"both threads' jobs carry the opener's path: ${seen.asScala.toSeq}")
    assert(stats("opener").jobs >= 2 && stats("opener").instances == 1, s"$stats")
  }

  test("a 99-hop path graph records one propagation.round instance per loop round") {
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    var rounds = -1
    val stats = recorded {
      Phase("path99") {
        val (labels, n, converged) = Dedup.clustersOfPairsCounted(pairs)
        assert(converged)
        assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(0L))
        rounds = n
      }
    }
    assert(rounds > 1, "a 99-hop path takes more than one round")
    assert(stats("path99/propagation.round").instances == rounds,
      s"round instances vs the loop's count $rounds: ${stats.get("path99/propagation.round")}")
    assert(stats("path99/propagation.round").jobs >= rounds, "every round runs a job")
    assert(stats("path99/propagation.setup").instances == 1)
    assert(stats("path99/propagation.setup").jobs >= 1)
  }

  test("every Loop caller records one <name>.round instance per round; BPE keeps bpe.round") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    val t = sources.Tables(spark, sfDir)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val loops: Seq[(String, Int, () => Any)] = Seq(
      ("pagerank", 5, () => Graph.pagerankFromEdges(und, iters = 5, topK = 3).collect()),
      ("weighted_pagerank", 3, () => Graph.weightedPagerankFromEdges(
        und.withColumn("w", lit(2L)), iters = 3, topK = 3).collect()),
      ("personalized_pagerank", 4, () => Graph.personalizedFromEdges(und, iters = 4, topK = 3).collect()),
      ("hop_distance", 6, () => Graph.hopDistanceFromEdges(und, maxHops = 6).collect()),
      ("label_communities", 4, () => Graph.labelCommunitiesFromEdges(und, rounds = 4).collect()),
      ("kmeans", 2, () => Similarity.kmeansCentroids(emb, nlist = 8, iters = 2).collect()),
      ("codebooks", 2, () => ProductQuant.codebooks(ProductQuant.subvectors(emb, 4, 16),
        nlist = 8, iters = 2, trainSize = 256L).collect()),
      ("bpe", 3, () => Bpe.train(t, 3)._2.unpersist()))
    for ((name, rounds, run) <- loops) {
      val stats = recorded(Phase("caller")(run(): Unit))
      val round = stats.get(s"caller/$name.round")
      assert(round.exists(_.instances == rounds), s"$name: $rounds round instances, got $round")
      assert(round.exists(_.jobs >= rounds), s"$name: every round runs a job, got $round")
    }
  }

  test("a table store's build, append and fold each record one instance of their phase with jobs") {
    val name = "phase_store"
    Warehouse.dropStore(spark, name, Seq("ids"))
    val store = Warehouse.tableStore(spark, name, Seq("ids"))
    def write(g: Long, ids: Seq[Long]): Unit =
      ids.toDF("id").write.format("parquet").saveAsTable(Warehouse.storeTableName(name, g, "ids"))
    def read(g: Long): Seq[Long] =
      spark.table(Warehouse.storeTableName(name, g, "ids")).as[Long].collect().toSeq
    try {
      val stats = recorded {
        Phase("lifecycle") {
          Warehouse.build(store)(write(_, Seq(1L, 2L)))
          Warehouse.appendSegmentWith[Unit](store, None,
            prepare = _ => (), writeData = (g, _) => { write(g, Seq(3L)); 1L })
          Warehouse.fold(store)((base, segs) => Some(base +: segs))(
            write = (g, gens) => write(g, gens.flatMap(read)), beforePublish = () => ())
        }
      }
      for (phase <- Seq("store.build", "store.append", "store.fold")) {
        val s = stats.get(s"lifecycle/$phase")
        assert(s.exists(_.instances == 1), s"$phase: one instance, got $s")
        assert(s.exists(_.jobs >= 1), s"$phase: its writes ran as its jobs, got $s")
      }
      val (base, segs) = store.resolveSegmented()
      assert(segs.isEmpty && read(base).sorted == Seq(1L, 2L, 3L), "the fold published base ∪ segment")
    } finally Warehouse.dropStore(spark, name, Seq("ids"))
  }

  test("every SnapshotTable commit runs under its writer's snapshot.* phase") {
    // an earlier call leaves the delete's pooled rewrite threads holding
    // its own path, and reads the key's table
    Phase("earlier")(SparkEntry.queries("q40_delete_where")(spark, sfDir): Unit)
    val q40 = recorded(Phase("q40")(SparkEntry.queries("q40_delete_where")(spark, sfDir): Unit))
    assert(q40.get("q40/snapshot.append").exists(s => s.instances == 3 && s.jobs >= 3),
      s"three appends, each writing its directory: ${q40.get("q40/snapshot.append")}")
    assert(q40.get("q40/snapshot.delete").exists(s => s.instances == 1 && s.jobs >= 1),
      s"one delete: ${q40.get("q40/snapshot.delete")}")
    val outside = q40.collect { case (p, s) if !p.startsWith("q40/snapshot.") && s.jobs > 0 => p }
    assert(outside.isEmpty, s"building q40 launched jobs outside its commits: ${outside.mkString(", ")}")

    val table = new graft.etl.SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("graft_phase_snap_").toString)
    table.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val merge = recorded(Phase("sync")(table.mergeKeyed(Seq((2L, "c")).toDF("id", "s"), Seq("id"), None)))
    assert(merge.get("sync/snapshot.merge").exists(s => s.instances == 1 && s.jobs >= 1),
      s"one keyed merge: ${merge.get("sync/snapshot.merge")}")
    assert(table.read().as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "c")))
  }

  test("one listener and six mains in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val blockComment = "(?s)/\\*.*?\\*/".r
    val lineComment = "//[^\n]*".r
    val code = files.map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      root.relativize(f).toString -> lineComment.replaceAllIn(blockComment.replaceAllIn(src, ""), "")
    }
    val listeners = code.collect { case (f, c) if c.contains("addSparkListener") => f }
    assert(listeners == Seq("graft/Phase.scala"),
      s"install listeners through Phase.record only: ${listeners.mkString(", ")}")
    val kept = Set("graft/Bench.scala", "graft/Verify.scala", "graft/Explain.scala",
      "graft/PlanAuditDump.scala", "graft/ScaleData.scala", "graft/etl/Main.scala")
    val mains = code.collect { case (f, c) if c.contains("def main(") => f }
    assert(mains.toSet == kept && mains.size == kept.size,
      s"measure through Phase and Bench, not a new main: ${mains.sorted.mkString(", ")}")
  }
}
