package graft

import scala.util.Random

import graft.etl.SnapshotTable

/** Model-based sweep of SnapshotTable's commit machinery — seeded
  * random interleavings of appends, overwrites, read-modify-writes,
  * compactions, restores (to a random retained version) and minAge=0
  * vacuums replayed against a driver-side model, asserting after EVERY
  * operation:
  *
  *   1. the current read equals the model multiset;
  *   2. TIME TRAVEL: every retained version still reads exactly the
  *      multiset it committed (vacuum trims history to `keepVersions`
  *      but must never corrupt a kept version);
  *   3. compaction is content-neutral.
  *
  * SnapshotTableSpec pins chosen interleavings (races, stale rewrites);
  * this sweeps random ones.
  */
class SnapshotModelSpec extends SparkSpecBase {

  test("random op interleavings preserve content, retained history and compaction neutrality") {
    import spark.implicits._
    // seed 3 runs on the default POSIX StoreIO; seed 11 runs the SAME
    // sweep with the manifest plane on the in-memory impl; seed 17 on
    // the Hadoop-FS impl (the API family real clusters deploy) — the
    // three commit backends cannot drift apart in what the model checks
    Seq(3, 11, 17).foreach { seed =>
      val rnd = new Random(seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_snapmodel$seed").resolve("t").toString
      val st =
        if (seed == 3) new SnapshotTable(spark, root)
        else if (seed == 11) new SnapshotTable(spark, root, new graft.sources.InMemoryStoreIO())
        else new SnapshotTable(spark, root, new graft.sources.HadoopFsStoreIO())

      def batch(): Seq[(Long, Long)] =
        Seq.fill(1 + rnd.nextInt(8))(
          (rnd.nextInt(10).toLong, rnd.nextInt(100).toLong))
      def readBack(v: Option[Long]): Seq[(Long, Long)] =
        st.read(v).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

      var current: Seq[(Long, Long)] = Seq.empty
      var history = Map.empty[Long, Seq[(Long, Long)]]

      (1 to 20).foreach { _ =>
        rnd.nextInt(11) match {
          case 0 | 1 | 2 | 3 =>
            val b = batch()
            val v = st.append(b.toDF("k", "v"))
            current = (current ++ b).sorted
            history += v -> current
          case 4 | 5 =>
            val b = batch()
            val v = st.overwrite(b.toDF("k", "v"))
            current = b.sorted
            history += v -> current
          case 6 if st.currentVersion.isDefined && current.nonEmpty =>
            val v = st.compact(2) // content-neutral rewrite
            history += v -> current
          case 7 if st.currentVersion.isDefined =>
            // read-modify-write: derive = existing plus one marker row
            val marker = (99L, rnd.nextInt(100).toLong)
            val (v, _) = st.overwriteWith { ex =>
              ex.map(_.unionByName(Seq(marker).toDF("k", "v")))
                .getOrElse(Seq(marker).toDF("k", "v"))
            }
            current = (current :+ marker).sorted
            history += v -> current
          case 8 | 9 =>
            st.vacuum(keepVersions = 2, minAgeMs = 0L)
            val kept = history.keys.toSeq.sorted.takeRight(2).toSet
            history = history.view.filterKeys(kept.contains).toMap
          case 10 if history.nonEmpty =>
            // restore to any RETAINED version: one manifest commit, the
            // head becomes that version's content, nothing else moves
            val keys = history.keys.toSeq.sorted
            val target = keys(rnd.nextInt(keys.size))
            val v = st.restore(target)
            current = history(target)
            history += v -> current
          case _ => // compact/derive/restore drawn before anything committed: no-op
        }
        if (st.currentVersion.isDefined) {
          assert(readBack(None) == current, s"[seed $seed] current read diverged")
          history.foreach { case (v, rows) =>
            assert(readBack(Some(v)) == rows,
              s"[seed $seed] retained version $v no longer reads its committed content")
          }
        }
      }
    }
  }

  test("racing keyed merges keep one row per key and lose no update") {
    import spark.implicits._
    // keyed merges on k (version v: the larger v wins) interleaved with
    // blind appends, which plant duplicate keys for the next merge to
    // collapse. Every second merge is raced: between its data write and
    // its commit another keyed merge commits, so the first must merge
    // again against the winner's snapshot. The model of a merge is the
    // largest v per key over the table and the batch.
    Seq(5, 13).foreach { seed =>
      val rnd = new Random(seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_keyedmodel$seed").resolve("t").toString
      val st =
        if (seed == 5) new SnapshotTable(spark, root)
        else new SnapshotTable(spark, root, new graft.sources.InMemoryStoreIO())
      def batch(): Seq[(Long, Long)] =
        Seq.fill(1 + rnd.nextInt(6))((rnd.nextInt(12).toLong, rnd.nextInt(100).toLong))
          .groupBy(_._1).map(_._2.head).toSeq
      def keyed(rows: Seq[(Long, Long)]): Seq[(Long, Long)] =
        rows.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }.toSeq.sorted
      def merge(b: Seq[(Long, Long)]): Long =
        st.mergeKeyed(b.toDF("k", "v"), Seq("k"), Some("v"))._1
      def readBack(v: Option[Long]): Seq[(Long, Long)] =
        st.read(v).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

      var current: Seq[(Long, Long)] = Seq.empty
      var history = Map.empty[Long, Seq[(Long, Long)]]
      (1 to 12).foreach { i =>
        if (i % 4 == 1) {
          val b = batch()
          val v = st.append(b.toDF("k", "v"))
          current = (current ++ b).sorted
          history += v -> current
        } else if (i % 2 == 0) {
          val b = batch()
          val v = merge(b)
          current = keyed(current ++ b)
          history += v -> current
        } else {
          // a carries a key no batch draws, so it always changes the table
          val (a, b) = (batch() :+ ((100L + i, 0L)), batch())
          var raced = false
          val (v, rows) = st.mergeKeyedWithHook(a.toDF("k", "v"), Seq("k"), Some("v"), () =>
            if (!raced) {
              raced = true
              val rival = merge(b)
              history += rival -> keyed(current ++ b)
            })
          assert(raced, s"[seed $seed] the rival merge ran")
          current = keyed(current ++ b ++ a)
          history += v -> current
          assert(rows == current.size, s"[seed $seed] the merge counts the table it committed")
        }
        val now = readBack(None)
        assert(now == current, s"[seed $seed] op $i: the head diverged from the model")
        if (i % 4 != 1)
          assert(now.map(_._1).distinct.size == now.size, s"[seed $seed] op $i: a key is duplicated")
        history.foreach { case (v, rows) =>
          assert(readBack(Some(v)) == rows, s"[seed $seed] version $v no longer reads its content")
        }
      }
    }
  }
}
