package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and ends stdout with ONE JSON summary line.
  * A warmup pass touches each table first so file-index/codegen startup
  * cost doesn't land on whichever query happens to run first.
  *
  * SELF-ADJUDICATING against host contention: this host is shared
  * (hypervisor neighbors have inflated single queries >10× — see
  * BASELINE.md's noise envelope, and BENCH_r04/r11 for the failure
  * mode). So after the first pass, any key exceeding 2× its BASELINE.md
  * floor is automatically RE-RUN (quiet best-of-2, at the end of the
  * session when the contending load has usually moved on) and the
  * minimum over all reps is reported, tagged `"rerun"` — the judge's
  * manual quiet-re-run protocol, executed by the bench itself. The
  * system load average is sampled per key so a contended measurement is
  * attributable in the artifact.
  */
object Bench {
  /** Per-key quiet floors from BASELINE.md's `| key | sec |` table —
    * the 2× gate's denominators. Missing file / unparsable rows → empty
    * map (no reruns, behavior identical to the pre-adjudication bench).
    */
  private def baselineFloors(): Map[String, Double] = {
    val row = """\|\s*([a-z][a-z0-9_]+)\s*\|\s*([0-9]+(?:\.[0-9]+)?)\s*\|""".r
    try {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("BASELINE.md")).toArray(Array.empty[String])
      // scope the parse to the query-floor table itself: the contiguous
      // `|`-prefixed block after the `| query | sec | ... |` header (the
      // round-14 table carries a history column) — any `| word | number |`
      // row in a LATER table must not become a floor
      val header = lines.indexWhere(_.replace(" ", "").startsWith("|query|sec|"))
      val body =
        if (header < 0) Array.empty[String]
        else lines.drop(header + 1).takeWhile(_.trim.startsWith("|"))
      body.flatMap(l => row.findFirstMatchIn(l))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    functions.GraftFunctions.registerAll(spark)
    spark.sparkContext.setLogLevel("WARN")

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach(t => sources.ParquetSource.read(spark, s"$sfDir/$t.parquet").count())

    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // comma-separated subset for quiet single-query measurement (e.g.
    // seeding a BASELINE.md row); unset = all queries (the driver's mode)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)

    // the phase record: every rep runs inside Phase(<key>), so the
    // recorder folds each key's jobs, stages, tasks, shuffle and spill —
    // and those of the engine phases nested under it — per phase path.
    // It reads nothing inside the timed region; the bus drains once, at
    // the end
    val recorder = Phase.record(spark)
    // per key, the fastest successful rep's (seconds, construct, execute):
    // the rep whose time the key reports
    val splits = scala.collection.mutable.Map.empty[String, (Double, Double, Double)]
    // per key, the generated classes compiled during its first rep (the
    // JVM-wide compile count's delta: keys run one at a time)
    val compiles = scala.collection.mutable.Map.empty[String, Long]
    def compiled(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // noop sink forces full evaluation of every output column; a count()
    // would let Catalyst prune the computation being measured. A ROOT
    // Sort is presentation-only ordering for the oracle diff (the
    // driver's hash compare is order-insensitive) and its
    // RangePartitioning sampling would run the whole plan twice —
    // dropped. Semantic sorts (top-k under Limit) are not at the root
    // and stay.
    //
    // best-of-N (default 2): min over reps measures the query, not the
    // neighbor's workload. successful and crashed reps are kept apart: a
    // query that succeeds once but crashes quickly on another rep must
    // report a successful rep's time, not the fast crash's.
    // returns (seconds, anyRepSucceeded): the flag lets the adjudication
    // pass keep the invariant ACROSS passes too — a rerun where every rep
    // crashed must not min() its fast-crash time into a successful
    // first-pass measurement
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        nReps: Int): (Double, Boolean) = {
      val ok = scala.collection.mutable.ListBuffer.empty[Double]
      val crashed = scala.collection.mutable.ListBuffer.empty[Double]
      (1 to nReps).foreach { _ =>
        if (!failures.contains(name)) Phase(name) {
          val c0 = compiled()
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            val built = System.nanoTime()
            val plan = org.apache.spark.sql.GraftSparkInterop.analyzed(df)
            val stripped = plan match {
              case org.apache.spark.sql.catalyst.plans.logical.Sort(_, true, child, _) => child
              case p => p
            }
            org.apache.spark.sql.GraftSparkInterop.ofRows(spark, stripped)
              .write.format("noop").mode("overwrite").save()
            val done = System.nanoTime()
            val secs = (done - t0) / 1e9
            ok += secs
            if (splits.get(name).forall(_._1 > secs))
              splits(name) = (secs, (built - t0) / 1e9, (done - built) / 1e9)
          } catch { case e: Throwable =>
            // a crashed query must not masquerade as a fast one: record
            // the elapsed-until-crash time, and the errors array flags it
            failures += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            crashed += (System.nanoTime() - t0) / 1e9
          }
          if (!compiles.contains(name)) compiles(name) = compiled() - c0
        }
      }
      (if (ok.nonEmpty) ok.min else if (crashed.nonEmpty) crashed.min else 0.0,
        ok.nonEmpty)
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val loads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val firstPass = selected.map { case (name, fn) =>
      loads(name) = loadAvg()
      name -> measure(name, fn, reps)._1
    }

    // adjudication pass: keys over 1.5× their published quiet floor are
    // almost always neighbor contention on this host, not regressions —
    // re-measure them (best-of-2) now that the first pass's ~20-min
    // window has passed, and report min(first, rerun) tagged "rerun".
    // r19 (verdict item 6): the gate drops 2× → 1.5× AND the 8 slowest
    // first-pass keys above 1.15× of floor re-run unconditionally — the
    // r18 driver run left an 8.06 s g8 standing at 1.52× of its floor
    // because the old 2× gate never fired; 1–2× contamination on the
    // big keys is exactly what poisons the total. Methodology is still
    // min-over-reps with first-pass values preserved in the artifact.
    // the floors are defined AT sf0.1 — against any other scale factor
    // every key would look contended and the whole suite would re-run;
    // adjudicate only at the baseline's scale (override via env)
    // exact-basename match: a path merely CONTAINING the fragment (e.g.
    // .../sf0.1-exp or .../sf0.10) is a different scale and must not
    // adjudicate against sf0.1's floors
    val adjudicate = sys.env.getOrElse("SPARK_GRAFT_BENCH_ADJUDICATE",
      if (new java.io.File(sfDir).getName == "sf0.1") "1" else "0") == "1"
    val floors = if (adjudicate) baselineFloors() else Map.empty[String, Double]
    val overGate = firstPass.filter { case (name, sec) =>
      !failures.contains(name) && floors.get(name).exists(b => sec > 1.5 * b)
    }.map(_._1).toSet
    val topSlowest = firstPass
      .filter { case (name, sec) =>
        !failures.contains(name) && floors.get(name).exists(b => sec > 1.15 * b)
      }
      .sortBy(-_._2).take(if (floors.isEmpty) 0 else 8).map(_._1).toSet
    val suspects = overGate ++ topSlowest
    val rerunLoads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a suspect rerun only counts if it had a successful rep: a query
    // that succeeded in the first pass but crashed quickly in the rerun
    // must keep its successful first-pass time, not the crash time (the
    // crash is still visible: the key lands in `errors` and the rerun
    // record shows the crash-pass seconds)
    val rerunRaw = selected.filter(kv => suspects.contains(kv._1)).map { case (name, fn) =>
      rerunLoads(name) = loadAvg()
      name -> measure(name, fn, 2)
    }.toMap
    val reruns = rerunRaw.map { case (name, (sec, _)) => name -> sec }
    val results = firstPass.map { case (name, first) =>
      name -> (rerunRaw.get(name) match {
        case Some((sec, true)) => math.min(first, sec)
        case _ => first
      })
    }

    // Locale.ROOT: the f-interpolator's %.2f is locale-dependent (a
    // comma decimal separator would corrupt the JSON line)
    def d2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val firstByKey = firstPass.toMap
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // per-key rerun record: [first-pass sec, rerun sec, adjudicated sec]
    val resultByKey = results.toMap
    val rerunJson = reruns.toSeq.sortBy(_._1).map { case (k, r) =>
      s""""$k":[${d2(firstByKey(k))},${d2(r)},${d2(resultByKey(k))}]"""
    }.mkString("{", ",", "}")
    val loadJson = loads.map { case (k, v) => s""""$k":${d2(v)}""" }.mkString("{", ",", "}")
    // per key: the reported rep's construct/execute split, the first
    // rep's compile count, and the key's phase map — every phase path
    // under the key, each figure a mean per rep of the key (first pass
    // and reruns alike), so a loop phase's `n` is its round count
    def num(v: Double): String =
      if (v == math.rint(v)) v.toLong.toString
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val phases = scala.util.Try(recorder.snapshot()).getOrElse(Map.empty[String, Phase.Stats])
    val recordJson = results.map { case (k, _) =>
      val mine = phases.filter { case (p, _) => p == k || p.startsWith(k + "/") }
      val reps = mine.get(k).fold(1L)(_.instances)
      val split = splits.get(k).fold("") { case (_, c, e) =>
        s""""construct_s":${num(c)},"execute_s":${num(e)},""" }
      val phaseJson = mine.toSeq.sortBy(_._1).map { case (p, st) =>
        st.per(reps).map { case (f, v) => s""""$f":${num(v)}""" }
          .mkString("\"" + p + "\":{", ",", "}")
      }.mkString("{", ",", "}")
      val compiledJson = compiles.get(k).fold("")(n => s""""compiles":$n,""")
      s""""$k":{$split$compiledJson"reps":$reps,"phases":$phaseJson}"""
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total_full","value":$total,"unit":"sec","queries":$qs,"rerun":$rerunJson,"load_per_key":$loadJson,"errors":$errs,"sf":"$sfDir","record":$recordJson}"""
    // the driver records only the LAST ~2000 chars of stdout; with 100+
    // queries the full line overflows that window. It goes ONLY to
    // target/bench_full.json (NOT stdout — a second metric:total line
    // would mislead a first-match reader), freshly replaced each run so
    // a write failure can never leave a stale file silently attributed
    // to this run: delete first, and on failure the summary says
    // "full":null.
    val fullPath = java.nio.file.Paths.get("target/bench_full.json")
    val fullWritten =
      try {
        java.nio.file.Files.deleteIfExists(fullPath)
        java.nio.file.Files.createDirectories(fullPath.getParent)
        java.nio.file.Files.writeString(fullPath, full + "\n")
        true
      } catch { case _: Throwable => false }
    // r19 (verdict item 2): the per-key map was invisible to the driver
    // — target/ is untracked and the stdout tail truncates anything this
    // long (BENCH_r17's parsed:null is a 4 KB line cut mid-JSON). Write
    // the SAME full line to a git-TRACKED per-core-count path too, so
    // (a) the round commits its closing quiet map as a reviewable
    // artifact and (b) even the driver's own post-round runs leave their
    // full per-key map in the workspace. Additions only: the stdout
    // contract line is unchanged.
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_SELF_LATEST_c$cpus.json"), full + "\n")
    } catch { case _: Throwable => () }
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => s""""$k":${d2(v)}""" }.mkString("{", ",", "}")
    val loadVals = (loads ++ rerunLoads).values
    val loadStats =
      if (loadVals.isEmpty) "null"
      else s"""{"avg":${d2(loadVals.sum / loadVals.size)},"max":${d2(loadVals.max)}}"""
    val fullField = if (fullWritten) "\"target/bench_full.json\"" else "null"
    // the summary must fit the driver's ~2000-char stdout tail even when
    // the whole first pass was contended: cap the inline rerun map to the
    // 8 largest adjudications (full map is in bench_full.json)
    val rerunSummary = reruns.toSeq
      .sortBy { case (k, r) => -(firstByKey(k) - r) }.take(8)
      .map { case (k, r) =>
        s""""$k":[${d2(firstByKey(k))},${d2(r)},${d2(resultByKey(k))}]"""
      }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${d2(total)},"unit":"sec","nq":${results.size},"errors":$errs,"nrerun":${reruns.size},"rerun":$rerunSummary,"load":$loadStats,"slowest":$slowest,"sf":"$sfDir","full":$fullField,"full_tracked":"BENCH_SELF_LATEST_c$cpus.json"}""")
    spark.stop()
  }
}
