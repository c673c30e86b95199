package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop client: times each operation, counts attempts and
  * failures, and (in a traced run) wraps operations in spans.
  *
  * A traced run traces everything. To price the tracing, each timed read
  * there also runs once with tracing off, the two runs in alternating
  * order; reads leave the stores and tables as they were, so running
  * one twice changes nothing the workload goes on to do.
  */
final class Harness(val spark: SparkSession, val workload: String, val traced: Boolean) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark, workload)) else None

  final case class Sample(kind: String, key: String, seconds: Double)

  val samples = mutable.ArrayBuffer[Sample]()
  private val notes = mutable.ArrayBuffer[String]()
  /** (traced, untraced) seconds of each read run both ways. */
  private val pairs = mutable.ArrayBuffer[(Double, Double)]()
  var attempted = 0L
  var failed = 0L
  var timing = false
  private var nextOp = 0L

  /** Trace everything (set-up and the loop) or nothing (the checks). */
  def traceAll(on: Boolean): Unit = tracer.foreach(_.on = on)

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, nextOp)(body)
    case None => body
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def untraced[T](body: => T): (T, Double) = {
    tracer.foreach(_.on = false)
    try timed(body)
    finally tracer.foreach(_.on = true)
  }

  /** One operation: timed as `kind` (if the loop is timing), run inside
    * a span named `spanName`, counted in attempted/failed. A thrown
    * exception fails the operation and yields None.
    */
  def op[T](kind: String, key: String, spanName: String)(body: => T): Option[T] = {
    nextOp += 1
    attempted += 1
    try {
      val (r, s) =
        if (traced && timing && kind == "read") {
          val before = Option.when(pairs.size % 2 == 1)(untraced(body)._2)
          val (r, on) = timed(span(spanName)(body))
          val off = before.getOrElse(untraced(body)._2)
          pairs += ((on, off))
          (r, on)
        } else timed(span(spanName)(body))
      if (timing) samples += Sample(kind, key, s)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        note(s"$kind $key failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  /** Summed traced over summed untraced seconds of the reads run both ways. */
  def overheadRatio: Double =
    if (pairs.isEmpty) Double.NaN else pairs.map(_._1).sum / pairs.map(_._2).sum

  /** An output check: `result` is None when the output holds, else what
    * differs. A failed or throwing check counts as a failed operation.
    * Thread-safe, so independent checks can run concurrently.
    */
  def check(what: String)(result: => Option[String]): Unit = {
    val failure =
      try result
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    synchronized {
      attempted += 1
      failure.foreach { why => failed += 1; note(s"check '$what' failed: $why") }
    }
  }

  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
  def notesSeen: Seq[String] = notes.toSeq

  /** Timed latencies of `kind`, optionally of one key only. */
  def latencies(kind: String, key: Option[String] = None): Seq[Double] =
    samples.filter(s => s.kind == kind && key.forall(_ == s.key)).map(_.seconds).toSeq
}
