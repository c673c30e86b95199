package graft

import scala.util.Random

import graft.sources.{GenerationChain, InMemoryStoreIO, SupersededBaseException, Warehouse}

/** Model-based check of the chain-backed generation/segment/tag
  * protocol: a seeded random interleaving of rebuilds, appends, STALE
  * appends (the lost append-vs-rebuild race, which the chain must
  * refuse atomically), failed builds and minAge=0 vacuums is replayed
  * against a driver-side model, asserting after EVERY operation:
  *
  *   1. the segmented resolve = (model live base, model live segments)
  *      — no interleaving can surface a superseded segment, and a
  *      refused publish surfaces nothing at all;
  *   2. a tag whose segment publish SUCCEEDED reports committed forever
  *      (through supersede and vacuum — the chain's tag set and archive
  *      fold preserve it);
  *   3. a tag whose publish was REFUSED ([[SupersededBaseException]])
  *      never reports committed — its batch re-appends (at-least-once,
  *      duplicates over loss).
  *
  * The sweep runs over THREE backends through one parameterized body so
  * they cannot drift apart: the table-store protocol, its path-store
  * twin (both on [[graft.sources.PosixStoreIO]]), and the raw
  * [[GenerationChain]] over the fault-injecting [[InMemoryStoreIO]] —
  * where every commit additionally loses `loseEvery`-spaced CAS races
  * to prove optimistic retry converges on a store that fights back.
  */
class WarehouseModelSpec extends SparkSpecBase {

  /** The protocol entry points a backend exposes to the sweep.
    * `publishSegment` throws [[SupersededBaseException]] on a stale
    * base — that refusal IS part of the contract under test.
    */
  private case class Proto(
      claim: () => Long,
      publishFull: Long => Unit,
      publishSegment: (Long, Long, String) => Unit,
      burn: Long => Unit,
      vacuum: () => Unit,
      resolve: () => (Long, Seq[Long]),
      tagPublished: String => Boolean)

  private def sweep(seed: Int, p: Proto): Unit = {
    val rnd = new Random(seed)
    var liveBase: Option[Long] = None
    var liveSegs: Vector[Long] = Vector.empty
    var oldBases: Vector[Long] = Vector.empty
    var committed = Set.empty[String]
    var refused = Set.empty[String]
    var nextTag = 0

    def checkInvariants(): Unit = {
      liveBase.foreach { b =>
        val (gotBase, gotSegs) = p.resolve()
        assert(gotBase == b && gotSegs == liveSegs,
          s"[seed $seed] resolve=(${gotBase}, $gotSegs) model=($b, $liveSegs)")
      }
      committed.foreach(t => assert(p.tagPublished(t),
        s"[seed $seed] committed tag $t must stay committed forever"))
      refused.foreach(t => assert(!p.tagPublished(t),
        s"[seed $seed] refused tag $t must never read committed"))
    }

    (1 to 60).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => // REBUILD: new full build supersedes the group
          val g = p.claim()
          p.publishFull(g)
          liveBase.foreach(b => oldBases :+= b)
          liveBase = Some(g); liveSegs = Vector.empty
        case 3 | 4 | 5 => // APPEND to the live base: atomic publish + tag
          liveBase.foreach { b =>
            val g = p.claim()
            val t = s"s:$nextTag"; nextTag += 1
            p.publishSegment(g, b, t)
            liveSegs :+= g; committed += t
          }
        case 6 => // STALE APPEND: a base superseded before the publish —
          // the chain must REFUSE atomically; the appender burns and
          // (in real code) re-appends. Nothing becomes visible.
          oldBases.filterNot(liveBase.contains) match {
            case old if old.nonEmpty =>
              val b = old(rnd.nextInt(old.size))
              val g = p.claim()
              val t = s"s:$nextTag"; nextTag += 1
              intercept[SupersededBaseException] { p.publishSegment(g, b, t) }
              p.burn(g)
              refused += t
            case _ =>
          }
        case 7 => // FAILED build: claim burned, invisible forever
          p.burn(p.claim())
        case _ => // VACUUM at minAge=0 (gate-caller shape)
          p.vacuum()
      }
      checkInvariants()
    }
  }

  test("random op interleavings preserve the resolve and tag-commit invariants (table store)") {
    Seq(1, 7, 42).foreach { seed =>
      val store = s"protomodel$seed"
      Warehouse.dropStore(spark, store, Seq("x"))
      val chain = Warehouse.tableStore(spark, store, Seq("x")).chain
      sweep(seed, Proto(
        claim = () => chain.claim(),
        publishFull = chain.publishFull,
        publishSegment = (g, b, t) => chain.publishSegment(g, b, Some(t)),
        burn = chain.burn,
        vacuum = () => Warehouse.vacuumSegmentedStore(spark, store, Seq("x"), minAgeMs = 0L),
        resolve = () => Warehouse.resolveSegmented(spark, store),
        tagPublished = chain.tagCommitted))
      Warehouse.dropStore(spark, store, Seq("x"))
    }
  }

  test("the PATH-store protocol preserves the same invariants under random interleavings") {
    Seq(5, 23).foreach { seed =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_pathmodel$seed").resolve("idx").toString
      val store = Warehouse.pathStore(root)
      sweep(seed, Proto(
        claim = () => store.chain.claim(),
        publishFull = store.chain.publishFull,
        publishSegment = (g, b, t) => store.chain.publishSegment(g, b, Some(t)),
        burn = store.chain.burn,
        vacuum = () => Warehouse.vacuumSegmented(store, minAgeMs = 0L),
        resolve = () => store.resolveSegmented(),
        tagPublished = store.chain.tagCommitted))
    }
  }

  test("the raw chain over HadoopFsStoreIO preserves the same invariants (the rename-without-overwrite commit primitive)") {
    Seq(13, 31).foreach { seed =>
      val io = new graft.sources.HadoopFsStoreIO()
      val chain = new GenerationChain(java.nio.file.Files
        .createTempDirectory(s"graft_hfsmodel$seed").resolve("chain").toString, io)
      def select(s: GenerationChain.State): Seq[Long] =
        s.liveBase.fold(Seq.empty[Long])(b => s.entries
          .filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))
      sweep(seed, Proto(
        claim = () => chain.claim(),
        publishFull = chain.publishFull,
        publishSegment = (g, b, t) => chain.publishSegment(g, b, Some(t)),
        burn = chain.burn,
        vacuum = () => chain.vacuum(select, 0L)(_ => ()),
        resolve = () => chain.resolveSegmented("hfs store"),
        tagPublished = chain.tagCommitted))
    }
  }

  test("the raw chain over the fault-injecting in-memory store preserves the invariants while losing every 3rd CAS race") {
    Seq(11, 29).foreach { seed =>
      val io = new InMemoryStoreIO()
      val chain = new GenerationChain(s"/mem/protomodel$seed", io)
      // every third putIfAbsent loses a race spuriously — the commit
      // loop must re-read and retry until it lands; the protocol's
      // outcomes must be indistinguishable from the clean backends
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      def flaky[A](op: => A): A = {
        if (counter.incrementAndGet() % 3 == 0) io.loseRaces(1)
        op
      }
      def select(s: GenerationChain.State): Seq[Long] =
        s.liveBase.fold(Seq.empty[Long])(b => s.entries
          .filter(e => e.status == GenerationChain.Published && e.gen < b).map(_.gen))
      sweep(seed, Proto(
        claim = () => flaky(chain.claim()),
        publishFull = g => flaky(chain.publishFull(g)),
        publishSegment = (g, b, t) => flaky(chain.publishSegment(g, b, Some(t))),
        burn = g => flaky(chain.burn(g)),
        vacuum = () => flaky(chain.vacuum(select, 0L)(_ => ())),
        resolve = () => chain.resolveSegmented("mem store"),
        tagPublished = chain.tagCommitted))
    }
  }
}
