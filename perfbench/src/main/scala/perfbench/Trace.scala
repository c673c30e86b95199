package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans around the benchmark's calls into graft's layers,
  * plus a listener that attributes Spark jobs and task metrics to them.
  *
  * A span is opened only while tracing is on; it tags every job it
  * submits with the `perfbench.span` local property (child threads
  * inherit it). A job without the tag is charged to the innermost span
  * open when it started. Nothing is aggregated until [[summary]], so the
  * per-event cost while the workload runs is a map update.
  */
final class Tracer(spark: SparkSession, workload: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val listener = new Listener
  @volatile var on = false

  sc.addSparkListener(listener)

  /** Run `body` inside a span named `name` for operation `op`. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Property, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Property, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Per-class medians (over calls) of every counter, keyed
    * `<class>.<counter>`, for the classes in `classes`.
    */
  def summary(classes: Seq[String]): Map[String, Double] = {
    listener.awaitJobEnds()
    val closed = spans.filter(_.endNs > 0).toIndexedSeq
    // jobs → owning span (tag, else innermost span open at job start)
    val jobs = listener.jobs.values.asScala.toSeq
    val owner: Map[Int, Int] = jobs.flatMap { j =>
      j.span.orElse(closed.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => -s.startMs).headOption.map(_.id)).map(j.id -> _)
    }.toMap
    val descendants = mutable.Map[Int, Set[Int]]().withDefaultValue(Set.empty)
    closed.reverseIterator.foreach { s =>
      descendants(s.id) = descendants(s.id) + s.id
      if (s.parent >= 0) descendants(s.parent) = descendants(s.parent) ++ descendants(s.id)
    }
    def counters(s: Span): Map[String, Double] = {
      val own = descendants(s.id)
      val mine = jobs.filter(j => owner.get(j.id).exists(own.contains))
      val stages = mine.flatMap(_.stages).distinct.flatMap(id => Option(listener.stages.get(id)))
      val wall = (s.endNs - s.startNs) / 1e9
      val busy = covered(jobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs) / 1e3
      Map("wall_s" -> wall, "driver_s" -> math.max(0.0, wall - busy),
        "jobs" -> mine.size.toDouble, "tasks" -> stages.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
        "output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
        "shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> stages.map(_.spillBytes).sum.toDouble)
    }
    val byClass = closed.groupBy(_.name).map { case (k, ss) => k -> ss.map(counters) }
    classes.flatMap { c =>
      val calls = byClass.getOrElse(c, Seq.empty)
      Counters.map(k => s"$c.$k" -> Stats.median(calls.map(_(k))).getOrElse(0.0))
    }.toMap
  }

  /** Every span as one JSON object per line, with its self time (its
    * wall time minus the part its child spans cover).
    */
  def spanLines: Seq[String] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.filter(_.endNs > 0).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      val self = (s.endNs - s.startNs) / 1e9 - covered(kids, s.startMs, s.endMs) / 1e3
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"workload":"$workload",""" +
        f""""op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""wall_s":${(s.endNs - s.startNs) / 1e9}%.6f,"self_s":${math.max(0.0, self)}%.6f}"""
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Property = "perfbench.span"
  val Counters: Seq[String] = Seq("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s",
    "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes")

  final case class Span(id: Int, name: String, parent: Int, op: Long, startMs: Long,
      startNs: Long) {
    var endNs: Long = 0L
    var endMs: Long = 0L
  }

  final case class Job(id: Int, span: Option[Int], startMs: Long, stages: Seq[Int]) {
    var endMs: Long = Long.MaxValue
  }

  final class StageTotals {
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private final class Listener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()

    /** Listener events arrive asynchronously: wait (bounded) until every
      * job seen so far has delivered its end event.
      */
    def awaitJobEnds(): Unit = {
      val deadline = System.currentTimeMillis() + 5000L
      while (jobs.values.asScala.exists(_.endMs == Long.MaxValue) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Property))).map(_.toInt)
      jobs.put(e.jobId, Job(e.jobId, tag, e.time, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
