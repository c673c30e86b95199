package graft

import graft.etl.SnapshotTable
import graft.sources.{GenerationChain, InMemoryStoreIO, PosixStoreIO, StoreIO, SupersededBaseException}

/** The [[StoreIO]] seam: conformance of both implementations to the
  * create-new-or-fail contract, and the protocols (SnapshotTable's
  * manifest chain, the warehouse GenerationChain) driven through the
  * fault-injecting in-memory impl — losing races, crashing after the
  * commit point — to prove the optimistic machinery converges on a
  * store that fights back. This is the object-store portability
  * evidence: everything above the seam is impl-agnostic.
  */
class StoreIOSpec extends SparkSpecBase {

  private def posixIn(prefix: String): (StoreIO, String) =
    (PosixStoreIO, java.nio.file.Files.createTempDirectory(prefix).toString + "/io")

  test("conformance: putIfAbsent admits exactly one winner of N racing writers (all three impls)") {
    val impls = Seq(
      ("posix", posixIn("graft_ioconf_")),
      ("memory", (new InMemoryStoreIO(): StoreIO, "/mem/conf")),
      ("hadoopfs", (new graft.sources.HadoopFsStoreIO(): StoreIO,
        java.nio.file.Files.createTempDirectory("graft_hfsconf_").toString + "/io")))
    impls.foreach { case (label, (io, root)) =>
      // 8 threads race one key; exactly one putIfAbsent returns true and
      // the surviving content is the winner's (never torn, never mixed)
      val winners = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          if (io.putIfAbsent(s"$root/key", s"writer-$i".getBytes("UTF-8"))) winners.add(i)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(winners.size == 1, s"[$label] exactly one racing writer must win")
      val content = new String(io.get(s"$root/key").get, "UTF-8")
      assert(content == s"writer-${winners.peek()}",
        s"[$label] the committed content is the winner's, atomically")
      // a second putIfAbsent on the same key loses without clobbering
      assert(!io.putIfAbsent(s"$root/key", "late".getBytes("UTF-8")))
      assert(new String(io.get(s"$root/key").get, "UTF-8") == s"writer-${winners.peek()}")

      // put = atomic replace; list sees exactly the children; delete is
      // idempotent; mtime exists for existing keys only
      io.put(s"$root/key", "replaced".getBytes("UTF-8"))
      assert(new String(io.get(s"$root/key").get, "UTF-8") == "replaced")
      io.put(s"$root/other", "x".getBytes("UTF-8"))
      assert(io.list(root).toSet == Set("key", "other"), s"[$label] list mismatch")
      assert(io.list(s"$root/absent").isEmpty, s"[$label] listing an absent dir is empty")
      assert(io.mtime(s"$root/key").nonEmpty && io.mtime(s"$root/gone").isEmpty)
      assert(io.delete(s"$root/other") && !io.delete(s"$root/other"))
      assert(io.get(s"$root/other").isEmpty)
    }
  }

  test("SnapshotTable converges when the injected store loses every race to a rival commit") {
    import spark.implicits._
    val io = new InMemoryStoreIO()
    val root = "/mem/snap"
    val table = new SnapshotTable(spark, root, io)
    val rival = new SnapshotTable(spark, root, io)
    table.append(Seq((1L, "a")).toDF("k", "v"))

    // every commit attempt for the next 5 tries finds the version taken
    // by a rival no-op commit (a restore of the head: same dirs, next
    // version) — the appender's optimistic retry must re-read and
    // eventually land WITHOUT losing the rival's committed versions or
    // its own rows
    io.loseRaces(5, beforeEach = () => {
      rival.restore(rival.snapshot().get.version): Unit
    })
    val v = table.append(Seq((2L, "b")).toDF("k", "v"))
    assert(v == rival.snapshot().get.version, "the append lands on the latest version")
    assert(table.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "both the original and the raced append's rows survive")
    assert(v >= 6L, "the five stolen versions are real commits in the chain, not retries in place")
  }

  test("SnapshotTable's head read survives a rival commit and vacuum landing between its listing and its read; a pinned read of the vacuumed version still fails") {
    import spark.implicits._
    val inner = new InMemoryStoreIO()
    val root = java.nio.file.Files.createTempDirectory("graft_vanish_").resolve("t").toString
    val rival = new SnapshotTable(spark, root, inner)
    rival.append(Seq((1L, "a")).toDF("k", "v"))
    // the reader's first object read runs after a rival append and a
    // vacuum that trims away the version the reader just listed as head
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val io: StoreIO = new StoreIO {
      def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = inner.putIfAbsent(path, bytes)
      def put(path: String, bytes: Array[Byte]): Unit = inner.put(path, bytes)
      def get(path: String): Option[Array[Byte]] = {
        if (raced.compareAndSet(false, true)) {
          rival.append(Seq((2L, "b")).toDF("k", "v"))
          rival.vacuum(1, 0L)
        }
        inner.get(path)
      }
      def list(dir: String): Seq[String] = inner.list(dir)
      def delete(path: String): Boolean = inner.delete(path)
      def mtime(path: String): Option[Long] = inner.mtime(path)
    }
    val table = new SnapshotTable(spark, root, io)
    assert(table.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "the head read lists again and reads the newer head")
    assert(raced.get() && table.currentVersion.contains(1L))
    val e = intercept[IllegalStateException] { table.read(Some(0L)) }
    assert(e.getMessage.contains("vanished"), s"a pinned read of a vacuumed version fails loudly: ${e.getMessage}")
  }

  test("GenerationChain: crash AFTER the publish commit leaves the tag committed (replay skips); a lost race leaves nothing (replay re-appends)") {
    val io = new InMemoryStoreIO()
    val chain = new GenerationChain("/mem/chain", io)
    val base = chain.claim()
    chain.publishFull(base)

    // failure AFTER the atomic commit point: the publish lands, THEN
    // the store throws (an object store's ambiguous PUT). The publish
    // SELF-VERIFIES — a re-read proves the commit landed, so the caller
    // sees SUCCESS instead of an exception whose cleanup would delete a
    // live segment's data while the committed tag makes replays skip.
    val seg = chain.claim()
    io.failAfterCommit(1)
    chain.publishSegment(seg, base, Some("b:1")) // no throw: verified landed
    assert(chain.tagCommitted("b:1"),
      "the commit preceded the failure — the tag reads committed")
    assert(chain.resolveSegmented("mem")._2 == Seq(seg),
      "the segment is in the live read set despite the store error")

    // lost race BEFORE the commit point: a rebuild steals the chain
    // version and supersedes the base — the publish must refuse with
    // nothing visible and the tag uncommitted
    val seg2 = chain.claim()
    io.loseRaces(1, beforeEach = () => {
      val g = chain.claim(); chain.publishFull(g)
    })
    intercept[SupersededBaseException] { chain.publishSegment(seg2, base, Some("b:2")) }
    assert(!chain.tagCommitted("b:2"),
      "a refused publish leaves the tag uncommitted — the replay re-appends")
    chain.burn(seg2)
    assert(chain.state().entry(seg2).isEmpty)
  }

  test("GenerationChain under REAL thread races (POSIX impl): distinct claims, one live base, every tag committed exactly once") {
    // the model sweep is sequential; this drives 8 OS threads through
    // the actual filesystem CAS — claims must come out distinct, every
    // appender must either commit its tag or observe the refusal, and
    // the final state must be internally consistent
    val dir = java.nio.file.Files.createTempDirectory("graft_chainrace_").toString + "/chain"
    val chain = new GenerationChain(dir, PosixStoreIO)
    val base = chain.claim()
    chain.publishFull(base)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        val tag = s"race:$i"
        try {
          var done = false
          var attempts = 0
          while (!done && attempts < 6) {
            val b = chain.state().liveBase.get
            val g = chain.claim()
            if (i % 4 == 0 && attempts == 0) {
              // a quarter of the writers REBUILD instead (full publish),
              // forcing real supersede races onto the appenders
              chain.publishFull(g)
              outcomes.add(tag -> "rebuilt")
              done = true
            } else {
              try { chain.publishSegment(g, b, Some(tag)); outcomes.add(tag -> "appended"); done = true }
              catch { case _: SupersededBaseException => chain.burn(g); attempts += 1 }
            }
          }
          if (!done) outcomes.add(tag -> "gave-up")
        } catch {
          // Thread.join does not propagate: an unexpected throw must
          // surface as an outcome or the test passes with fewer
          // writers than it claims to race
          case e: Throwable => outcomes.add(tag -> s"error: $e")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val byOutcome = outcomes.asScala.toSeq.groupBy(_._2)
    assert(outcomes.size == threads.size,
      s"every writer must report an outcome: $byOutcome")
    assert(byOutcome.keySet.forall(k => k == "rebuilt" || k == "appended"),
      s"appenders must converge without errors: $byOutcome")
    val s = chain.state()
    // claims all distinct by construction of the chain — the entries
    // (and the vacuumed numbers) can never collide
    assert(s.entries.map(_.gen).distinct.size == s.entries.size)
    // every appended tag committed; segments in the live group all name
    // the live base
    byOutcome.getOrElse("appended", Nil).foreach { case (tag, _) =>
      assert(chain.tagCommitted(tag), s"appended tag $tag must be committed")
    }
    val live = s.liveBase.get
    assert(s.liveSegments.forall(g => s.entry(g).get.base.contains(live)))
    // and a published segment of a non-live base exists nowhere
    assert(s.entries.filter(e => e.status == GenerationChain.Published && e.base.nonEmpty)
      .forall(e => e.base.contains(live) || e.supersededAt > 0L),
      "published segments are live-group members or stamped superseded")
  }

  test("crash sweep: an appender killed after EVERY commit index recovers to exactly-once") {
    // systematic crash-point enumeration: the append flow commits
    // (claim, publish); for each k, run a fresh store, crash on the
    // k-th successful commit of the append, then RECOVER with the
    // at-least-once replay (tag check -> re-append) and assert the
    // batch lands exactly once. The invariant is the protocol's whole
    // point: no crash index yields zero copies or two copies.
    (1 to 2).foreach { crashAt =>
      val io = new InMemoryStoreIO()
      val chain = new GenerationChain(s"/mem/crash$crashAt", io)
      val base = chain.claim()
      chain.publishFull(base)

      def appendOnce(tag: String): Unit = {
        if (chain.tagCommitted(tag)) return // replay: already landed
        val g = chain.claim()               // commit 1
        // (data write happens here in real appenders — no chain commit)
        chain.publishSegment(g, base, Some(tag)) // commit 2 (self-verifying)
      }

      io.failAfterCommit(crashAt)
      if (crashAt == 1) {
        // the CLAIM commit crashes post-commit: the claim number is lost
        // to the caller, the error propagates, the replay re-appends
        intercept[java.io.IOException] { appendOnce("crash:batch") }
        appendOnce("crash:batch") // recovery
      } else {
        // the PUBLISH commit crashes post-commit: the publish
        // self-verifies against the chain and reports SUCCESS — no
        // retry needed, and a retry (below) skips on the committed tag
        appendOnce("crash:batch")
        appendOnce("crash:batch") // idempotent replay
      }
      val s = chain.state()
      assert(chain.tagCommitted("crash:batch"),
        s"[crash@$crashAt] the batch must be committed after recovery")
      val published = s.entries.filter(e =>
        e.status == GenerationChain.Published && e.tag.contains("crash:batch"))
      assert(published.size == 1,
        s"[crash@$crashAt] exactly one published copy, got ${s.entries}")
      // a crash after claim leaves a dead claim the age-gated sweep
      // reclaims — it must never block or double-count
      if (crashAt == 1)
        assert(s.entries.count(_.status == GenerationChain.Claimed) == 1,
          s"[crash@$crashAt] the crashed claim lingers (burned-claim shape) until vacuumed")
    }
  }

  test("vacuum crash between the retire commit and the data delete: probes are unaffected and the next pass finishes the reclaim") {
    val io = new InMemoryStoreIO()
    val chain = new GenerationChain("/mem/vaccrash", io)
    val g1 = chain.claim(); chain.publishFull(g1)
    val g2 = chain.claim(); chain.publishFull(g2) // supersedes g1
    def select(s: GenerationChain.State): Seq[Long] =
      s.liveBase.fold(Seq.empty[Long])(b => s.entries
        .filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))
    val deleted = scala.collection.mutable.ListBuffer.empty[Long]
    io.failAfterCommit(1) // the RETIRE commit lands, then the store dies
    intercept[java.io.IOException] { chain.vacuum(select, 0L)(g => deleted += g) }
    assert(deleted.isEmpty, "the crash precedes any data delete")
    val s = chain.state()
    assert(s.entry(g1).exists(_.status == GenerationChain.Retired),
      "the retire commit is durable")
    assert(s.current.contains(g2) && chain.resolveSegmented("mem")._1 == g2,
      "retired entries are invisible to resolution — probes are unaffected")
    // recovery: the next pass re-processes the lingering retired entry
    chain.vacuum(select, 0L)(g => deleted += g)
    assert(deleted.toSeq == Seq(g1), "the data delete runs exactly once, on recovery")
    assert(chain.state().entry(g1).isEmpty, "the finished reclaim removes the entry")
  }

  test("GenerationChain folds committed tags into an archive once the inline set grows; commitment survives the fold; superseded archives retire age-gated") {
    var now = 1000_000_000L
    val io = new InMemoryStoreIO(() => now)
    val chain = new GenerationChain("/mem/tags", io, () => now)
    var base = chain.claim()
    chain.publishFull(base)
    def addTags(prefix: String): Seq[String] = {
      val ts = (0 until 70).map(i => s"$prefix:$i")
      ts.foreach { t => val g = chain.claim(); chain.publishSegment(g, base, Some(t)) }
      ts
    }
    val tags = addTags("batch")
    def select(s: GenerationChain.State): Seq[Long] =
      s.liveBase.fold(Seq.empty[Long])(b => s.entries
        .filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))
    chain.vacuum(select, 0L)(_ => ())
    val folded = chain.state()
    assert(folded.tags.isEmpty && folded.tagFiles.size == 1,
      s"70 inline tags must fold into one archive, got inline=${folded.tags.size} " +
        s"files=${folded.tagFiles.size}")
    tags.foreach(t => assert(chain.tagCommitted(t), s"tag $t lost in the fold"))

    // a rebuild + vacuum later, archived tags still count and NEW tags
    // keep committing inline
    val g2 = chain.claim(); chain.publishFull(g2); base = g2
    val g3 = chain.claim(); chain.publishSegment(g3, base, Some("fresh:1"))
    chain.vacuum(select, 0L)(_ => ())
    assert(chain.tagCommitted("batch:13") && chain.tagCommitted("fresh:1"))

    // a SECOND fold retires the first archive instead of deleting it:
    // a reader who loaded the pre-fold state may still be about to read
    // it, so it survives for the age floor FROM ITS UNREFERENCE INSTANT
    // (a creation-mtime gate would let a days-old archive die the
    // moment it was folded, under that reader's feet)
    val firstArchive = folded.tagFiles.head
    addTags("more")
    chain.vacuum(select, 0L)(_ => ())
    val s2 = chain.state()
    assert(s2.tagFiles.size == 1 && s2.tagFiles.head != firstArchive,
      "the second fold produced a fresh archive")
    assert(s2.retiredFiles.exists(_._1 == firstArchive),
      "the folded-in archive is RETIRED, not deleted")
    assert(io.get(s"/mem/tags/$firstArchive").nonEmpty,
      "the retired archive's bytes survive for pre-fold readers")
    assert(chain.tagCommitted("batch:13") && chain.tagCommitted("more:13"))

    // past the hour floor it is reclaimed
    now += 3700_000L
    chain.vacuum(select, 0L)(_ => ())
    assert(io.get(s"/mem/tags/$firstArchive").isEmpty,
      "an hour past unreference the retired archive is swept")
    assert(chain.state().retiredFiles.isEmpty)
    assert(chain.tagCommitted("batch:13") && chain.tagCommitted("more:13"),
      "commitment survives the retirement sweep (content lives in the new archive)")
  }

  test("tagCommitted fails loudly on an unreadable referenced archive instead of answering 'not committed'") {
    // a fresh state's tagFiles reference must exist until retired past
    // the age floor, so a miss is corruption or transience — answering
    // false would make an at-least-once replay re-append an
    // already-committed batch (duplicated rows, silently)
    val io = new InMemoryStoreIO()
    io.put("/mem/tagmiss/v000000000000", "v 1\ntf tags-gone".getBytes("UTF-8"))
    val chain = new GenerationChain("/mem/tagmiss", io)
    val e = intercept[IllegalStateException] { chain.tagCommitted("batch:1") }
    assert(e.getMessage.contains("unreadable") && e.getMessage.contains("retry"))
    // once the archive is readable the same call decides normally
    io.put("/mem/tagmiss/tags-gone", "batch:1".getBytes("UTF-8"))
    assert(chain.tagCommitted("batch:1") && !chain.tagCommitted("batch:2"))
  }

  test("chain format version: every state leads with the v record; a FUTURE format fails with an upgrade message; legacy states parse as format 1") {
    val io = new InMemoryStoreIO()
    val chain = new GenerationChain("/mem/fmt", io)
    val g = chain.claim(); chain.publishFull(g)
    val head = new String(io.get("/mem/fmt/v000000000001").get, "UTF-8")
    assert(head.startsWith(s"v ${GenerationChain.FormatVersion}\n"),
      s"state must lead with the format record, got: ${head.take(20)}")
    assert(chain.state().current.contains(g), "same-version round trip")

    // a state written by a NEWER library fails with an explicit upgrade
    // message — not the misleading 'corrupt line' the strict parser
    // gives unknown record types
    io.put("/mem/fmt2/v000000000000",
      s"v ${GenerationChain.FormatVersion + 1}\nq some-future-record".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { new GenerationChain("/mem/fmt2", io).state() }
    assert(e.getMessage.contains(s"format ${GenerationChain.FormatVersion + 1}") &&
      e.getMessage.contains("upgrade"), s"got: ${e.getMessage}")
    assert(!e.getMessage.contains("corrupt"))

    // a pre-record state (no v line) is exactly format 1's record set
    io.put("/mem/fmt3/v000000000000", "g 1 - published 0 5 0 -\nt old:tag".getBytes("UTF-8"))
    val legacy = new GenerationChain("/mem/fmt3", io)
    assert(legacy.state().current.contains(1L) && legacy.tagCommitted("old:tag"))
  }

  test("PosixStoreIO: absent maps to None; an unreadable object propagates instead of masquerading as absent") {
    val root = java.nio.file.Files.createTempDirectory("graft_absent_").toString
    assert(PosixStoreIO.get(s"$root/missing").isEmpty)
    assert(PosixStoreIO.mtime(s"$root/missing").isEmpty)
    // a directory where an object is expected is UNREADABLE, not absent
    // — deletion gates treating unknown-mtime as infinitely old would
    // otherwise sweep objects they merely failed to stat
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$root/adir"))
    intercept[java.io.IOException] { PosixStoreIO.get(s"$root/adir") }
  }

  test("deletion gates keep, not sweep, on an unknown mtime; orphaned .tmp files are swept age-gated") {
    var now = 1000_000_000L
    // an impl that answers None for a transiently-unstattable object —
    // the shape the .exists age gates must treat as KEEP
    val inner = new InMemoryStoreIO(() => now)
    val io: StoreIO = new StoreIO {
      def putIfAbsent(path: String, bytes: Array[Byte]): Boolean = inner.putIfAbsent(path, bytes)
      def put(path: String, bytes: Array[Byte]): Unit = inner.put(path, bytes)
      def get(path: String): Option[Array[Byte]] = inner.get(path)
      def list(dir: String): Seq[String] = inner.list(dir)
      def delete(path: String): Boolean = inner.delete(path)
      def mtime(path: String): Option[Long] =
        if (path.endsWith("tags-unstattable") || path.endsWith(".tmp-unstattable")) None
        else inner.mtime(path)
    }
    val chain = new GenerationChain("/mem/tmpsweep", io, () => now)
    val g = chain.claim(); chain.publishFull(g)
    // orphans: never referenced by any state (lost fold races, crashed publishes)
    io.put("/mem/tmpsweep/tags-unstattable", "t".getBytes("UTF-8"))
    io.put("/mem/tmpsweep/.tmp-unstattable", "x".getBytes("UTF-8"))
    io.put("/mem/tmpsweep/.tmp-old", "x".getBytes("UTF-8"))
    now += 7200_000L
    io.put("/mem/tmpsweep/.tmp-fresh", "x".getBytes("UTF-8"))
    chain.vacuum(_ => Seq.empty, 3600_000L)(_ => ())
    assert(inner.get("/mem/tmpsweep/tags-unstattable").nonEmpty,
      "an orphan archive with an unknown mtime is KEPT (it may be a just-written fold)")
    assert(inner.get("/mem/tmpsweep/.tmp-unstattable").nonEmpty,
      "a tmp orphan with an unknown mtime is KEPT")
    assert(inner.get("/mem/tmpsweep/.tmp-old").isEmpty,
      "an hour-old tmp orphan is swept")
    assert(inner.get("/mem/tmpsweep/.tmp-fresh").nonEmpty,
      "a fresh tmp file (a publish possibly in flight) survives the floor")
    // past the floor the unstattable orphans are still kept — sweeping
    // is only ever justified by a READABLE, expired mtime
    now += 7200_000L
    chain.vacuum(_ => Seq.empty, 3600_000L)(_ => ())
    assert(inner.get("/mem/tmpsweep/tags-unstattable").nonEmpty)
    assert(inner.get("/mem/tmpsweep/.tmp-fresh").isEmpty, "now aged past the floor: swept")
  }

  test("CROSS-PROCESS chain races (POSIX impl): two JVMs commit through one directory — every commit lands exactly once, no torn reads") {
    // every other race sweep runs in one JVM; this is the one that
    // would catch an FS-semantics surprise (NFS client caching, a
    // non-atomic link) before a user does: a second OS process races
    // claim+publishSegment commits against the same chain directory.
    // link(2)'s EEXIST contract is cross-process by definition — this
    // proves the whole protocol stack above it is too.
    val dir = java.nio.file.Files.createTempDirectory("graft_xproc_").toString + "/chain"
    val chain = new GenerationChain(dir, PosixStoreIO)
    val base = chain.claim()
    chain.publishFull(base)
    val n = 25
    val cp = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(f => new java.io.File(f).getAbsolutePath).mkString(":") + ":/opt/spark/jars/*"
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val proc = new ProcessBuilder(javaBin, "-cp", cp, "graft.ChainRacerMain",
      dir, base.toString, n.toString, "theirs").redirectErrorStream(true).start()
    // the parent JVM races the same commit mix concurrently
    (1 to n).foreach { i =>
      val g = chain.claim()
      chain.publishSegment(g, base, Some(s"ours:$i"))
    }
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0 && out.contains("RACER_DONE"),
      s"the second JVM must finish cleanly, got:\n$out")
    val s = chain.state()
    assert(s.liveSegments.size == 2 * n,
      s"every cross-process publish landed exactly once, got ${s.liveSegments.size}")
    assert(s.liveSegments.distinct.size == 2 * n && s.entries.map(_.gen).distinct.size == s.entries.size,
      "claims are globally distinct across processes")
    assert(s.version == 1 + 4 * n,
      s"one chain version per commit (2 setup + ${4 * n} raced), got ${s.version}")
    (1 to n).foreach { i =>
      assert(chain.tagCommitted(s"ours:$i") && chain.tagCommitted(s"theirs:$i"))
    }
    // every committed version file is fully-formed — a torn read shape
    // (partial line, foreign record) would also have crashed either
    // process's strict parser mid-race
    val lineRe = "^(v \\d+|g \\d+ (-|\\d+) (claimed|published|retired) \\d+ \\d+ \\d+ [^ ]+|t [^ ]+|tf [^ ]+|rtf [^ ]+ \\d+)$".r
    PosixStoreIO.list(dir).filter(_.startsWith("v")).foreach { f =>
      val content = new String(PosixStoreIO.get(s"$dir/$f").get, "UTF-8")
      content.linesIterator.foreach(l =>
        assert(lineRe.matches(l), s"malformed line in $f: '$l'"))
    }
  }

  test("file://-scheme SnapshotTable end-to-end: manifests commit via HadoopFsStoreIO and the vacuum data sweep dispatches on the path's scheme") {
    import spark.implicits._
    // an explicit scheme on the root proves BOTH planes resolve through
    // the Hadoop filesystem layer: PosixStoreIO/java.io would treat
    // "file:" as a relative path component and fail or silently no-op —
    // exactly the object-store-leak shape the dispatch exists to close
    val local = java.nio.file.Files.createTempDirectory("graft_fsscheme_")
    val root = "file:" + local.toString + "/t"
    val st = new SnapshotTable(spark, root, new graft.sources.HadoopFsStoreIO())
    st.append(Seq((1L, "a")).toDF("k", "v"))
    st.overwriteWith(_ => Seq((2L, "b")).toDF("k", "v"))
    assert(st.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
    val dataDir = local.resolve("t").resolve("data")
    def dirCount: Long = {
      val s = java.nio.file.Files.list(dataDir)
      try s.count() finally s.close()
    }
    assert(dirCount == 2, "both committed data dirs exist before the vacuum")
    st.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(dirCount == 1,
      "the unreferenced data dir is reclaimed through the file:-scheme Hadoop dispatch")
    assert(st.read().collect().map(_.getString(1)).toSeq == Seq("b"),
      "the kept version is untouched")
  }

  test("forScheme encodes the impl-per-deployment table and refuses schemes without create-new-or-fail") {
    // local paths — scheme-less, relative, file: URI, bare nfs — all
    // route to the cross-process link(2) impl
    assert(StoreIO.forScheme("/tmp/wh/_generations/x") eq PosixStoreIO)
    assert(StoreIO.forScheme("relative/dir") eq PosixStoreIO)
    assert(StoreIO.forScheme("file:/tmp/wh") eq PosixStoreIO)
    assert(StoreIO.forScheme("file:///tmp/wh") eq PosixStoreIO)
    assert(StoreIO.forScheme("nfs") eq PosixStoreIO)
    // HDFS-family: server-side rename-without-overwrite carries the race
    Seq("hdfs://nn:8020/wh", "viewfs://cluster/wh",
      "abfss://c@acct.dfs.core.windows.net/wh", "abfs").foreach { s =>
      assert(StoreIO.forScheme(s).isInstanceOf[graft.sources.HadoopFsStoreIO], s)
    }
    // object stores whose connector rename is copy-then-delete REFUSE
    // (the honest answer is the SDK conditional-PUT impl, not a
    // silently-racy chain), naming the needed primitive
    Seq("s3a://bucket/key", "s3://bucket/key", "gs://bucket/key",
      "wasbs://c@acct.blob.core.windows.net/x").foreach { s =>
      val e = intercept[IllegalArgumentException](StoreIO.forScheme(s))
      assert(e.getMessage.contains("conditional-PUT"), s)
    }
    // unknown schemes refuse rather than guessing atomicity — including
    // a bare word that is neither a known scheme nor path-shaped
    Seq("zz9://somewhere/x", "notascheme").foreach { s =>
      val e = intercept[IllegalArgumentException](StoreIO.forScheme(s))
      assert(e.getMessage.contains("refusing to guess"), s)
    }
    // a colon later in a plain path never reads as a scheme
    assert(StoreIO.forScheme("/tmp/odd:name/dir") eq PosixStoreIO)
    // and the selected impl actually drives a chain end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft_forscheme_").toString + "/chain"
    val chain = new GenerationChain(dir, StoreIO.forScheme(dir))
    val g = chain.claim()
    chain.publishFull(g)
    assert(chain.state().liveBase.contains(g))
  }

  test("appendSegmentWith: a vacuum that retires the expired claim mid-cleanup wins the handoff — the appender retries instead of erroring") {
    var now = 1000_000_000L
    val io = new InMemoryStoreIO(() => now)
    val chain = new GenerationChain("/mem/retiredclaim", io, () => now)
    val g1 = chain.claim(); chain.publishFull(g1)
    var rivalFired = false
    val written = scala.collection.mutable.ListBuffer.empty[Long]
    val dropped = scala.collection.mutable.ListBuffer.empty[Long]
    val store = graft.sources.Warehouse.Store(chain, "probe store", dropGen = { g =>
        dropped += g
        // the injected interleaving: the appender's lost-race cleanup
        // passed its provably-unpublished check; NOW a vacuum retires
        // the (minAge-expired) claim and crashes before removing the
        // entry — the claim sits RETIRED when the appender's burn runs
        now += 7200_000L
        scala.util.Try(chain.vacuum(_ => Seq.empty, 3600_000L)(_ =>
          throw new RuntimeException("injected crash mid-delete"))): Unit
      })
    val res = graft.sources.Warehouse.appendSegmentWith[Long](store,
      dedupeTag = Some("batch:1"),
      prepare = identity,
      writeData = (g, _) => { written += g; 1L },
      beforePublish = () => {
        if (!rivalFired) {
          rivalFired = true
          val r = chain.claim(); chain.publishFull(r) // supersedes g1
        }
      })
    assert(res.nonEmpty, "the re-append against the winner lands")
    assert(written.size == 2 && dropped.toSeq == Seq(written.head),
      "exactly the first attempt's data was written-then-dropped")
    val s = chain.state()
    assert(s.entry(res.get).exists(_.status == GenerationChain.Published))
    assert(chain.tagCommitted("batch:1"), "the tag committed with the surviving segment")
    assert(s.entry(written.head).forall(_.status == GenerationChain.Retired),
      "the lost claim is vacuum's to finish (retired or already gone), never re-burned")
  }
}
