package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** The runnable CLI entrypoint — the reference's orchestrator surface
  * (/root/reference/main.py:282-407: argparse `--mode pre_season|
  * post_race --table NAME --year N --round N --force`) mapped onto
  * [[PipelineRunner]]:
  *
  *   --table NAME                      → runTable (targeted single-entity run)
  *   --table NAME --year Y [--round R] → backfill (period-scoped repair)
  *   --mode pre_season|post_race       → run (dependency-ordered mode run)
  *   --force                           → bypass watermark + freshness gates
  *
  * Branch order mirrors the reference exactly (main.py:371-385: the
  * `--table` branch wins when both are given; `--year` is ignored on
  * mode runs, as `run_mode(args.mode)` ignores it there). Exit codes:
  * 0 = success, 1 = usage error or any table failure — the reference's
  * `tables_failed == 0` contract.
  *
  * The wiring (`specs`/`extracts`) is the demo pipeline over the driver
  * testdata: three PreSeason dimensions (region → nation → customer, the
  * reference's CSV dimension loads) and one PostRace fact (orders, the
  * reference's result upserts), with `year`/`round` derived from
  * `o_orderdate` (year/month — the testdata's analog of the reference's
  * (season, round) period columns). `parse` and `execute` are pure and
  * spec-tested; `main` only assembles them.
  */
object Main {

  final case class Config(
      mode: Option[Pipeline.Strategy] = None,
      table: Option[String] = None,
      year: Option[Int] = None,
      round: Option[Int] = None,
      force: Boolean = false,
      warehouse: String = "spark-warehouse/etl",
      source: String = "/root/testdata/sf0.001",
  )

  val usage: String =
    """usage: graft.etl.Main [--mode pre_season|post_race] [--table NAME]
      |                      [--year N] [--round N] [--force]
      |                      [--warehouse DIR] [--source DIR]
      |
      |  --table NAME                      targeted single-table run
      |  --table NAME --year Y [--round R] period-scoped backfill of one slice
      |  --mode pre_season|post_race       dependency-ordered mode run
      |  --force                           bypass watermark + freshness gates
      |
      |one of --mode or --table is required (--table wins when both are given)
      |""".stripMargin

  /** Pure argument parser (reference: main.py's argparse block).
    * Left = usage error message; unknown flags, missing values, a bad
    * mode, `--round` without `--year`, and the no-op invocation (neither
    * mode nor table) all fail loudly instead of silently doing nothing.
    */
  def parse(args: Array[String]): Either[String, Config] = {
    def go(rest: List[String], cfg: Config): Either[String, Config] = rest match {
      case Nil => Right(cfg)
      case "--mode" :: v :: t => v match {
        case "pre_season" => go(t, cfg.copy(mode = Some(Pipeline.PreSeason)))
        case "post_race" => go(t, cfg.copy(mode = Some(Pipeline.PostRace)))
        case other => Left(s"unknown mode '$other' (choices: pre_season, post_race)")
      }
      case "--table" :: v :: t if !v.startsWith("--") => go(t, cfg.copy(table = Some(v)))
      case "--year" :: v :: t => v.toIntOption match {
        case Some(n) => go(t, cfg.copy(year = Some(n)))
        case None => Left(s"--year needs an integer, got '$v'")
      }
      case "--round" :: v :: t => v.toIntOption match {
        case Some(n) => go(t, cfg.copy(round = Some(n)))
        case None => Left(s"--round needs an integer, got '$v'")
      }
      case "--force" :: t => go(t, cfg.copy(force = true))
      case "--warehouse" :: v :: t if !v.startsWith("--") => go(t, cfg.copy(warehouse = v))
      case "--source" :: v :: t if !v.startsWith("--") => go(t, cfg.copy(source = v))
      case flag :: _ if flag.startsWith("--") => Left(s"$flag: unknown flag or missing value")
      case other :: _ => Left(s"unexpected argument '$other'")
    }
    go(args.toList, Config()).flatMap { cfg =>
      if (cfg.mode.isEmpty && cfg.table.isEmpty)
        Left("one of --mode or --table is required")
      else if (cfg.round.isDefined && cfg.table.isEmpty)
        Left("--round scopes a --table backfill; give --table too")
      else if (cfg.round.isDefined && cfg.year.isEmpty)
        Left("--round needs --year (the reference scopes rounds within a season)")
      else Right(cfg)
    }
  }

  /** The demo table DAG over the driver testdata: the reference's 7
    * dimension / 5 fact split reduced to its shape — chained PreSeason
    * dimensions and a PostRace fact depending on them.
    */
  def specs: Seq[Pipeline.TableSpec] = Seq(
    Pipeline.TableSpec("region", Pipeline.PreSeason, Nil, Seq("r_regionkey")),
    Pipeline.TableSpec("nation", Pipeline.PreSeason, Seq("region"), Seq("n_nationkey")),
    Pipeline.TableSpec("customer", Pipeline.PreSeason, Seq("nation"), Seq("c_custkey")),
    Pipeline.TableSpec("orders", Pipeline.PostRace, Seq("customer"), Seq("o_orderkey")))

  /** The orders fact with the period columns the backfill binds
    * (`year`/`round` from o_orderdate — the testdata's (season, round)).
    */
  private def ordersWithPeriod(spark: SparkSession, source: String): DataFrame =
    ParquetSource.read(spark, s"$source/orders.parquet")
      .withColumn("year", year(col("o_orderdate")))
      .withColumn("round", month(col("o_orderdate")))

  /** Extracts over the source directory. The orders watermark is epoch
    * seconds of o_orderdate: an incremental run re-reads only
    * past-watermark rows (reference: get_watermark / incremental sync).
    */
  def extracts(source: String): Map[String, Pipeline.Extract] = {
    def dim(name: String): Pipeline.Extract =
      (spark, _) => ParquetSource.read(spark, s"$source/$name.parquet")
    Map(
      "region" -> dim("region"), "nation" -> dim("nation"), "customer" -> dim("customer"),
      "orders" -> ((spark, since) => {
        val all = ordersWithPeriod(spark, source)
        since.fold(all)(wm => all.filter(unix_timestamp(col("o_orderdate")) > wm))
      }))
  }

  /** Period-scoped orders extract for backfills: the period filter runs
    * at the SCAN (the reference re-fetches one (year, round) from the
    * API, not the whole history).
    */
  def scopedExtracts(source: String): Map[String, Pipeline.ScopedExtract] = Map(
    "orders" -> ((spark, period) => {
      val slice = period.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      ordersWithPeriod(spark, source).filter(slice)
    }))

  /** Execute a parsed config against a runner; returns the process exit
    * code (reference: main.py:371-385's branch order and 0/1 contract).
    */
  def execute(cfg: Config, runner: PipelineRunner, out: String => Unit = println): Int =
    try {
      cfg.table match {
        case Some(name) if cfg.year.isDefined || cfg.round.isDefined =>
          val period: Map[String, Any] =
            cfg.year.map("year" -> (_: Int)).toMap ++ cfg.round.map("round" -> (_: Int)).toMap
          val n = runner.backfill(name, period)
          out(s"backfilled $name ${period.toSeq.sortBy(_._1).mkString(", ")}: $n rows")
          0
        case Some(name) =>
          runner.runTable(name, cfg.force) match {
            case Some(n) => out(s"loaded $name: $n rows"); 0
            case None => out(s"skipped $name (fresh; --force overrides)"); 0
          }
        case None =>
          val counts = runner.run(cfg.mode.get, cfg.force)
          counts.toSeq.sortBy(_._1).foreach { case (k, n) => out(s"loaded $k: $n rows") }
          0
      }
    } catch {
      case e: Exception =>
        out(s"pipeline failed: ${e.getMessage}")
        1
    }

  def main(args: Array[String]): Unit = parse(args) match {
    case Left(err) =>
      System.err.println(err)
      System.err.println(usage)
      sys.exit(1)
    case Right(cfg) =>
      val spark = graft.GraftSession
        .builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"), shufflePartitions = 8)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val runner = new PipelineRunner(spark, cfg.warehouse,
        new MetadataStore(spark, s"${cfg.warehouse}/_metadata"), specs,
        extracts(cfg.source), scopedExtracts = scopedExtracts(cfg.source))
      val code = execute(cfg, runner)
      spark.stop()
      sys.exit(code)
  }
}
