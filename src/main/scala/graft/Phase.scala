package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** graft's one measurement instrument: a named scope plus one recorder.
  *
  * `Phase(name) { body }` labels every Spark job the body submits with
  * the `graft.phase` local property and the job description. Scopes
  * nest as a path (`dc3_canonical/propagation.round`), and on exit the
  * caller's property and description come back. The job group is left
  * alone, so a caller's `cancelJobGroup` still reaches the body's jobs.
  * Threads started inside a scope inherit its path (Spark's local
  * properties are inheritable). Without a live session the body just
  * runs.
  *
  * A [[Recorder]] is installed explicitly ([[record]]). Until one is,
  * a scope costs two local-property writes and launches no job.
  *
  * The engines are labelled once where they are centralised: the store
  * lifecycle (`store.build`, `store.fold`, `store.append` in
  * [[graft.sources.Warehouse]]), the iteration engine
  * ([[graft.operators.Loop]]: one `<name>.round` per round of every
  * driver loop — `propagation`, `pagerank`, `weighted_pagerank`,
  * `personalized_pagerank`, `hop_distance`, `label_communities`,
  * `kmeans`, `codebooks`), propagation's setup (`propagation.setup` in
  * `Dedup.clustersOfPairsCounted`), BPE training (one `bpe.round` per
  * merge round in `Bpe.train`), parquet schema inference (one
  * `parquet.schema` per read whose schema is not yet known, in
  * [[graft.sources.ParquetSource]]) and every snapshot-table commit
  * (`snapshot.append`, `snapshot.delete`, `snapshot.overwrite`,
  * `snapshot.merge`, `snapshot.compact`, `snapshot.zorder` in
  * [[graft.etl.SnapshotTable]]'s commit loop).
  */
object Phase {
  /** The local property holding the open phase path. */
  val Property = "graft.phase"

  private val DescriptionProperty = "spark.job.description"

  @volatile private var recorders = List.empty[Recorder]

  /** The live session's context: the thread's active session, else the
    * default one.
    */
  private[graft] def activeContext: Option[SparkContext] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)

  def apply[T](name: String)(body: => T): T = activeContext match {
    case None => body
    case Some(sc) =>
      val outer = sc.getLocalProperty(Property)
      val path = if (outer == null) name else s"$outer/$name"
      val t0 = System.nanoTime()
      resume(path) {
        try body finally recorders.foreach(_.ended(path, System.nanoTime() - t0))
      }
  }

  /** The phase path open on this thread (null outside every scope). */
  private[graft] def path: String = activeContext.map(_.getLocalProperty(Property)).orNull

  /** `body` under `path`, a path read with [[path]] on another thread.
    * A pooled thread (a parallel collection's) keeps the local
    * properties of whatever created it, not of the task's submitter, so
    * work handed to one re-opens its submitter's path here. The
    * thread's own path and description come back after.
    */
  private[graft] def resume[T](path: String)(body: => T): T = activeContext match {
    case None => body
    case Some(sc) =>
      val (outer, outerDescription) =
        (sc.getLocalProperty(Property), sc.getLocalProperty(DescriptionProperty))
      sc.setLocalProperty(Property, path)
      sc.setLocalProperty(DescriptionProperty, path)
      try body
      finally {
        sc.setLocalProperty(Property, outer)
        sc.setLocalProperty(DescriptionProperty, outerDescription)
      }
  }

  /** Install a recorder on `spark`'s context; it records until closed. */
  def record(spark: SparkSession): Recorder = {
    val r = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(r)
    synchronized { recorders = r :: recorders }
    r
  }

  /** One phase path's totals. `instances` counts scope exits and
    * `wallNs` sums their driver wall time; the rest is the Spark work of
    * the jobs submitted directly under the path (not under a nested
    * scope). Shuffle and spill figures are bytes.
    */
  final case class Stats(instances: Long, wallNs: Long, jobs: Long, stages: Long,
      tasks: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def +(o: Stats): Stats = Stats(instances + o.instances, wallNs + o.wallNs,
      jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes)

    /** This record scaled by `1 / n`, e.g. per repetition of the key. */
    def per(n: Long): Seq[(String, Double)] = {
      val d = math.max(1L, n).toDouble
      Seq("n" -> instances / d, "wall_s" -> wallNs / 1e9 / d, "jobs" -> jobs / d,
        "stages" -> stages / d, "tasks" -> tasks / d,
        "shuffle_read_bytes" -> shuffleReadBytes / d,
        "shuffle_write_bytes" -> shuffleWriteBytes / d, "spill_bytes" -> spillBytes / d)
    }
  }

  object Stats {
    val Zero: Stats = Stats(0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** The listener that folds jobs, stages and task metrics into
    * [[Stats]] per phase path. Jobs, stages and tasks outside every
    * scope are not recorded.
    */
  final class Recorder private[Phase] (sc: SparkContext) extends SparkListener {
    private val totals = new ConcurrentHashMap[String, Stats]()
    private val stagePath = new ConcurrentHashMap[Int, String]()

    private def add(path: String, s: Stats): Unit = totals.merge(path, s, _ + _): Unit

    private def pathOf(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(Property)))

    private[Phase] def ended(path: String, wallNs: Long): Unit =
      add(path, Stats.Zero.copy(instances = 1, wallNs = wallNs))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      pathOf(e.properties).foreach(add(_, Stats.Zero.copy(jobs = 1)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      pathOf(e.properties).foreach { p =>
        stagePath.put(e.stageInfo.stageId, p)
        add(p, Stats.Zero.copy(stages = 1))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (p <- Option(stagePath.get(e.stageId)); m <- Option(e.taskMetrics))
        add(p, Stats.Zero.copy(tasks = 1,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))

    /** Every path's totals so far, after the listener bus has delivered
      * the events already posted.
      */
    def snapshot(): Map[String, Stats] = {
      org.apache.spark.sql.GraftSparkInterop.drainListenerBus(sc)
      totals.asScala.toMap
    }

    def close(): Unit = {
      Phase.synchronized { recorders = recorders.filterNot(_ eq this) }
      sc.removeSparkListener(this)
    }
  }
}
