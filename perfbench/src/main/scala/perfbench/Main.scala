package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload in one process and writes
  * its figures as JSON (see `perfbench/README.md` for every field).
  *
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE [--spans FILE] [--t0-ms EPOCH_MS]
  * }}}
  * `--work` must be an empty directory; every table, store and spill
  * file of the run lives under it. `--t0-ms` is when the caller's process
  * started, so `setup_s` covers process start-up too.
  */
object Main {

  /** Per-layer call classes, in report order. */
  val Classes: Seq[String] = Seq("etl.sync", "etl.preseason", "etl.read", "entry.construct",
    "entry.execute", "store.build", "store.append", "store.probe", "store.remove",
    "curation.construct", "curation.execute")
  val LayerCounters: Seq[String] = Seq("etl.metadata_files", "etl.snapshot_versions",
    "etl.warehouse_bytes", "store.live_segments", "store.warehouse_bytes")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    require(Workloads.Names.contains(name), s"unknown workload '$name'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val t0Ms = opts.get("t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = Runtime.getRuntime.availableProcessors()
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage

    val spark = graft.GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    val h = new Harness(spark, name, traced)
    h.traceAll(true)
    val w = Workloads(name, h, seed, work.resolve("data").toString)
    val ts = System.nanoTime()
    w.setup()
    val loadS = (System.nanoTime() - ts) / 1e9
    // a traced run traces the set-up and the timed loop, not the warm-up
    h.traceAll(false)
    w.warmup()
    val warmupS = (System.nanoTime() - ts) / 1e9 - loadS
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    // a collection now keeps the warm-up's garbage out of the timed loop
    System.gc()
    // whole iterations until `seconds` have passed, and at least one
    h.traceAll(true)
    h.timing = true
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    var more = true
    while (more && (i == 0 || elapsed < seconds)) {
      val t = System.nanoTime()
      more = w.iterate(i)
      if (more) { walls += (System.nanoTime() - t) / 1e9; i += 1 }
      else h.note(s"workload complete after $i iterations")
    }
    val wall = elapsed
    h.timing = false
    h.traceAll(false)

    val stored = w.storedBytes
    val input = w.inputBytes
    val counters = if (traced) w.layerCounters else Map.empty[String, Double]
    val tc = System.nanoTime()
    w.checks()
    val checksS = (System.nanoTime() - tc) / 1e9
    val reads = h.latencies("read")
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "query_geomean_s" -> Stats.geomean(reads).getOrElse(0.0),
      "queries_per_s" -> reads.size / wall,
      "storage_amplification" -> stored.toDouble / math.max(1L, input))
    val perLayer = h.tracer.fold(Seq.empty[(String, Double)]) { t =>
      val summary = t.summary(Classes)
      Classes.flatMap(c => Tracer.Counters.map(k => s"$c.$k")).map(k => k -> summary(k)) ++
        LayerCounters.map(k => k -> counters.getOrElse(k, 0.0)) ++ Seq(
          "jvm.peak_heap_bytes" -> peakHeap.toDouble,
          "trace.overhead_ratio" -> h.overheadRatio)
    }
    for (t <- h.tracer; f <- opts.get("spans"))
      Files.write(Paths.get(f), t.spanLines.asJava)

    val kinds = h.samples.map(_.kind).distinct
    val json = obj(Seq(
      "workload" -> str(name), "seed" -> seed.toString, "traced" -> traced.toString,
      "attempted" -> h.attempted.toString, "failed" -> h.failed.toString,
      "iterations" -> i.toString, "timed_s" -> num(wall),
      "end_to_end" -> obj(endToEnd.map { case (k, v) => k -> num(v) }),
      "details" -> obj(w.details.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "latencies" -> obj(kinds.map { k =>
        val xs = h.latencies(k)
        k -> obj(Seq("n" -> xs.size.toString, "quartiles_s" -> Workloads.quartiles(xs)))
      }.toSeq),
      "key_median_s" -> obj(h.samples.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, ss) =>
        k -> num(Stats.median(ss.map(_.seconds).toSeq).get) }),
      "setup_breakdown" -> obj(Seq("session_s" -> num(sessionS), "load_s" -> num(loadS),
        "warmup_s" -> num(warmupS), "checks_s" -> num(checksS))),
      "iteration_s" -> walls.map(num).mkString("[", ",", "]"),
      "per_layer" -> obj(perLayer.map { case (k, v) => k -> num(v) }),
      "properties" -> obj(w.properties),
      "context" -> obj(Seq("nproc" -> cpus.toString, "master" -> str(spark.sparkContext.master),
        "spark" -> str(spark.version), "load_avg_start" -> num(loadStart),
        "load_avg_end" -> num(os.getSystemLoadAverage))),
      "notes" -> h.notesSeen.map(str).mkString("[", ",", "]")))
    Files.write(Paths.get(need("out")), json.getBytes("UTF-8"))
    h.tracer.foreach(_.close())
    spark.stop()
  }

  private def peakHeap: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
