package graft

import scala.jdk.CollectionConverters._

import graft.sources.{GenerationChain, Warehouse}

/** The store lifecycle engine — [[Warehouse.build]], [[Warehouse.fold]]
  * and [[Warehouse.appendSegmentWith]] — driven directly on both store
  * kinds: a catalog table store ([[Warehouse.tableStore]]) and a path
  * store ([[Warehouse.pathStore]]). Every case runs on both.
  */
class StoreLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  /** One store kind: the handle, how to write generation `g` holding
    * `ids`, how to read a generation back, whether its data exists, and
    * how to remove the whole store afterwards.
    */
  private case class Kind(label: String, store: Warehouse.Store,
      write: (Long, Seq[Long]) => Unit, read: Long => Set[Long],
      exists: Long => Boolean, dispose: () => Unit)

  private def tableKind(name: String): Kind = {
    def table(g: Long) = Warehouse.storeTableName(name, g, "ids")
    Warehouse.dropStore(spark, name, Seq("ids"))
    Kind("table", Warehouse.tableStore(spark, name, Seq("ids")),
      (g, ids) => ids.toDF("id").write.format("parquet").saveAsTable(table(g)),
      g => spark.table(table(g)).as[Long].collect().toSet,
      g => spark.catalog.tableExists(table(g)),
      () => Warehouse.dropStore(spark, name, Seq("ids")))
  }

  private def pathKind(name: String): Kind = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_$name").resolve("idx").toString
    def dir(g: Long) = Warehouse.pathGenData(root, g)
    Kind("path", Warehouse.pathStore(root),
      (g, ids) => ids.toDF("id").write.parquet(dir(g)),
      g => spark.read.parquet(dir(g)).as[Long].collect().toSet,
      g => java.nio.file.Files.exists(java.nio.file.Paths.get(dir(g))),
      () => ())
  }

  private def forEachKind(name: String)(body: Kind => Unit): Unit =
    Seq(tableKind(s"${name}_t"), pathKind(s"${name}_p")).foreach { k =>
      try body(k) finally k.dispose()
    }

  private def claimed(k: Kind): Seq[Long] =
    k.store.chain.state().entries.filter(_.status == GenerationChain.Claimed).map(_.gen)

  /** Append `ids` as a segment of the live base. */
  private def append(k: Kind, ids: Seq[Long]): Unit =
    Warehouse.appendSegmentWith[Unit](k.store, None, isEmpty = false,
      prepare = _ => (), writeData = (g, _) => k.write(g, ids)): Unit

  /** Fold base ∪ segments into the next full generation, running
    * `beforePublish` before each conditional publish. Returns the
    * generation every attempt wrote.
    */
  private def foldAll(k: Kind, beforePublish: () => Unit): Seq[Long] = {
    val written = scala.collection.mutable.ListBuffer.empty[Long]
    Warehouse.fold(k.store)((base, segs) => Some(base +: segs))(
      write = (g, gens) => { written += g; k.write(g, gens.flatMap(k.read)) },
      beforePublish)
    written.toSeq
  }

  test("a build whose write throws rethrows that error and leaves no claim and no data") {
    forEachKind("lc_fail") { k =>
      val boom = new RuntimeException("write failed")
      var gen = -1L
      val e = intercept[RuntimeException] {
        Warehouse.build(k.store) { g => gen = g; k.write(g, Seq(1L, 2L)); throw boom }
      }
      assert(e eq boom, s"${k.label}: the write's own error surfaces")
      assert(claimed(k).isEmpty, s"${k.label}: the failed build's claim is burned")
      assert(!k.exists(gen), s"${k.label}: the half-written generation is deleted")
      assert(k.store.chain.state().current.isEmpty, s"${k.label}: nothing published")
    }
  }

  test("a fold that loses to a segment published before its publish re-folds and absorbs the segment") {
    forEachKind("lc_race") { k =>
      val base = Warehouse.build(k.store)(k.write(_, Seq(1L, 2L)))
      var raced = false
      val written = foldAll(k, () => if (!raced) { raced = true; append(k, Seq(3L)) })
      val (live, segs) = k.store.resolveSegmented()
      assert(written.size == 2 && live == written.last && live > base && segs.isEmpty,
        s"${k.label}: the refused fold re-folds once and publishes the next full build")
      assert(k.read(live) == Set(1L, 2L, 3L),
        s"${k.label}: the published fold holds the segment that raced it")
      assert(!k.exists(written.head), s"${k.label}: the refused fold's data is deleted")
      assert(claimed(k).isEmpty, s"${k.label}: no claim left behind")
    }
  }

  test("a fold that loses five consecutive races fails with the replay hint and leaves no claim") {
    forEachKind("lc_lost") { k =>
      Warehouse.build(k.store)(k.write(_, Seq(1L)))
      var next = 10L
      val e = intercept[IllegalStateException] {
        foldAll(k, () => { next += 1; append(k, Seq(next)) })
      }
      assert(e.getMessage.contains("lost to 5 consecutive") &&
        e.getMessage.contains("safe to replay"), s"${k.label}: ${e.getMessage}")
      assert(claimed(k).isEmpty, s"${k.label}: every refused fold's claim is burned")
      assert(k.store.resolveSegmented()._2.size == 5,
        s"${k.label}: every racing segment stays live")
    }
  }

  test("a cleanup whose data delete throws keeps the original error, attaches the delete's, and leaks the claim") {
    forEachKind("lc_leak") { k =>
      val deleteFailure = new java.io.IOException("delete failed")
      val failing = k.store.copy(dropGen = _ => throw deleteFailure)
      val boom = new RuntimeException("write failed")
      var gen = -1L
      val e = intercept[RuntimeException] {
        Warehouse.build(failing) { g => gen = g; throw boom }
      }
      assert(e eq boom, s"${k.label}: the original error is rethrown")
      assert(e.getSuppressed.toSeq == Seq(deleteFailure),
        s"${k.label}: the delete's failure rides along as suppressed")
      assert(claimed(k) == Seq(gen),
        s"${k.label}: the claim is left for the age-gated vacuum, not burned")
      val next = Warehouse.build(k.store)(k.write(_, Seq(1L)))
      assert(next > gen, s"${k.label}: the leaked claim's number is never re-issued")
      Warehouse.vacuumGenerations(k.store, keep = 1, minAgeMs = 0L)
      assert(claimed(k).isEmpty, s"${k.label}: the vacuum reclaims the leaked claim")
    }
  }

  test("no operator source drives the generation chain by hand") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val blockComment = "(?s)/\\*.*?\\*/".r
    val lineComment = "//[^\n]*".r
    val banned = Seq("claimGeneration", ".claim()", "publishGeneration", "StaleFoldException")
    val offenders = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val code = lineComment.replaceAllIn(blockComment.replaceAllIn(src, ""), "")
      banned.filter(code.contains).map(b => s"${f.getFileName}: $b")
    }
    assert(offenders.isEmpty,
      s"run store lifecycles through Warehouse.build/fold/appendSegmentWith: ${offenders.mkString(", ")}")
  }
}
