package graft

/** Plan-audit tool: `runMain graft.Explain <sfDir> <queryName> [fmt]` —
  * prints the formatted physical plan and wall time for one query, so
  * shuffle/broadcast/pushdown regressions are visible per operator.
  * `fmt` = `audit` prints [[graft.sources.PlanAudit]]'s row form
  * instead of EXPLAIN text (post-execution, so AQE's final exchanges
  * and codegen spans are included). After each query it prints the
  * query's [[Phase]] record: per phase path, instances, wall time, jobs,
  * stages, tasks, shuffle and spill bytes.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq else SparkEntry.queries.keys.toSeq.sorted
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = GraftSession.getOrCreate(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")
    val recorder = Phase.record(spark)
    names.foreach { name =>
      Phase(name) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(s"\n===== $name =====")
        if (mode != "none" && mode != "audit") df.explain(mode)
        val t0 = System.nanoTime()
        // audit mode executes THIS df's plan (toRdd finalizes AQE without
        // materializing rows on the driver) so the audit sees the final
        // exchanges and codegen spans; other modes keep the count shortcut
        val n = if (mode == "audit") df.queryExecution.toRdd.count() else df.count()
        println(f"[$name] rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        if (mode == "audit")
          graft.sources.PlanAudit.planAudit(df).show(200, truncate = false)
      }
      // the query's phase record: one line per phase path under it
      recorder.snapshot().toSeq.sortBy(_._1)
        .filter { case (p, _) => p == name || p.startsWith(name + "/") }
        .foreach { case (p, st) =>
          println(st.per(1).map { case (f, v) => f"$f=$v%.3f" }.mkString(s"  phase $p ", " ", ""))
        }
    }
    spark.stop()
  }
}
