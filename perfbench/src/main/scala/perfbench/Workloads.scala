package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{MetadataStore, Pipeline, PipelineRunner, SnapshotTable}
import graft.operators.{Dedup, Ranking, TextAnalysis}
import graft.sources.Warehouse

/** One workload: set-up under a fresh directory, a warm-up, closed-loop
  * iterations, and the output checks run after the timed loop. Reads
  * (the operations behind `query_geomean_s`) are timed as kind `read`.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  /** Loop iteration `i`; false when the workload's inputs are exhausted. */
  def iterate(i: Int): Boolean
  def checks(): Unit
  /** Bytes of generated input delivered to the program so far. */
  def inputBytes: Long
  /** Bytes the program keeps on disk for this workload. */
  def storedBytes: Long
  /** Workload-specific figures for the run summary: name → (value, unit). */
  def details: Map[String, (Double, String)]
  /** Filesystem and store counters for the per-layer report. */
  def layerCounters: Map[String, Double]
  /** Properties of the generated inputs, as JSON object members. */
  def properties: Seq[(String, String)]
}

object Workloads {
  val Names: Seq[String] = Seq("store_ingest", "analytics_mix")

  def apply(name: String, h: Harness, seed: Long, dir: String): Workload = name match {
    case "store_ingest" => new StoreIngest(h, seed, dir)
    case "analytics_mix" => new AnalyticsMix(h, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(Files.isRegularFile(_)).toLong

  def quartiles(xs: Seq[Double]): String =
    Seq(0.25, 0.5, 0.75).map(q => Stats.quantile(xs, q).fold("null")(v => f"$v%.4f"))
      .mkString("[", ",", "]")

  def p50(h: Harness, kind: String, key: Option[String] = None): Double =
    Stats.median(h.latencies(kind, key)).getOrElse(0.0)

  /** Run independent pieces of Spark work at once: each is a few small
    * jobs, so running them one by one would leave most cores idle.
    */
  def concurrently(work: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(work)(w => Future(w())), scala.concurrent.duration.Duration.Inf)
  }
}

/** analytics_mix: a season of F1-style post-race syncs beside passes
  * over `SparkEntry` keys, on one session.
  *
  * Set-up writes the star schema, then runs the pre-season load through
  * [[PipelineRunner]] (snapshot tables): region → nation → customer,
  * then the order history. Each iteration (the first is the warm-up)
  * is one post-race round — deliver the round's orders increment, sync
  * it, read the standings — followed by one pass over [[AnalyticsMix.Keys]]
  * in an order shuffled from the seed.
  */
final class AnalyticsMix(h: Harness, seed: Long, dir: String) extends Workload {
  private val data = s"$dir/data"
  private val in = new Inputs(h.spark, seed)
  private val season = new Season(h, in, data, dir)
  private val keys = new KeyPasses(h, seed, data, AnalyticsMix.Keys)

  def setup(): Unit = {
    Workloads.concurrently(Seq(() => in.writeStarSchema(data, AnalyticsMix.ScaleFactor),
      () => season.writeFeed()))
    season.preseason()
  }

  private def step(i: Int): Boolean = season.round(i + 1) && { keys.pass(i); true }

  def warmup(): Unit = step(0)

  def iterate(i: Int): Boolean = step(i + 1)

  def checks(): Unit = { season.checks(); keys.checks() }

  def inputBytes: Long = season.inputBytes
  def storedBytes: Long = season.storedBytes

  def details: Map[String, (Double, String)] = season.details ++ keys.details

  def layerCounters: Map[String, Double] = season.layerCounters

  def properties: Seq[(String, String)] =
    ("scale_factor" -> AnalyticsMix.ScaleFactor.toString) +: (season.properties ++ keys.properties)
}

object AnalyticsMix {
  val ScaleFactor = 0.01

  /** One or two keys per module: Relational (aggregate, pivot),
    * functions (HLL sketch, bloom join) and the min-label propagation
    * loop behind `dc3_canonical` (Curation).
    */
  val Keys: Seq[String] = Seq("q1_agg", "q12_pivot", "q22_hll_distinct", "q28_bloom_join",
    "dc3_canonical")

  /** Keys traced as `curation.*`; the others are traced as `entry.*`. */
  val CurationKeys: Set[String] = Set("dc3_canonical")
}

/** Passes over a fixed key set of `SparkEntry.queries`, each pass in a
  * seeded order. One key = construct (the call returning its DataFrame)
  * plus execute (a full evaluation into [[HashSink]]); every pass must
  * reproduce each key's first hash.
  */
final class KeyPasses(h: Harness, seed: Long, data: String, keys: Seq[String]) {
  private val spark = h.spark
  private val hashes = mutable.Map[String, (Long, Long)]()
  private val orders = mutable.ArrayBuffer[Seq[String]]()

  private def runKey(k: String): Unit = {
    val layer = if (AnalyticsMix.CurationKeys.contains(k)) "curation" else "entry"
    h.op("read", k, s"$layer.query") {
      val df = h.span(s"$layer.construct")(graft.SparkEntry.queries(k)(spark, data))
      val out = h.span(s"$layer.execute")(HashSink.run(df))
      val first = hashes.getOrElseUpdate(k, out)
      if (first != out) throw new IllegalStateException(
        s"$k output changed between passes: $first then $out")
    }
  }

  def pass(p: Int): Unit = {
    val order = new scala.util.Random(seed * 7919L + p).shuffle(keys)
    orders += order
    order.foreach(runKey)
  }

  def checks(): Unit = h.check("every key has a result") {
    Some(keys.filterNot(hashes.contains)).filter(_.nonEmpty).map(_.mkString("missing: ", ",", ""))
  }

  def details: Map[String, (Double, String)] = {
    val lat = keys.flatMap(k => h.latencies("read", Some(k)))
    Map("key_p50_s" -> (Stats.median(lat).getOrElse(0.0), "s"),
      "key_p90_s" -> (Stats.quantile(lat, 0.9).getOrElse(0.0), "s"))
  }

  def properties: Seq[(String, String)] = Seq(
    "keys" -> keys.size.toString,
    "key_order_first_timed_pass" -> orders.drop(1).headOption.getOrElse(Nil)
      .map(k => "\"" + k + "\"").mkString("[", ",", "]"))
}

/** F1-style syncs through [[PipelineRunner]] with snapshot tables. The
  * dimensions are the star schema's region, nation and customer files;
  * the `orders` fact arrives in rounds. Delivery 0 is the history; each
  * later delivery carries one round's new orders (past the watermark,
  * picked up by the post-race mode run) plus a seeded 5–25 % share of
  * revisions to one earlier round (behind the watermark, picked up by a
  * `backfill` of that round). Each round ends with a standings read over
  * the fact table.
  */
final class Season(h: Harness, in: Inputs, dims: String, dir: String) {
  import Season._
  private val spark = h.spark
  private val source = s"$dir/source"
  private val feed = s"$dir/feed"
  private val warehouse = s"$dir/warehouse"
  private var runner: PipelineRunner = _
  private var metadata: MetadataStore = _
  private var revised: Map[Int, Seq[Int]] = Map.empty
  private val shares = mutable.ArrayBuffer[Double]()
  private var delivered = 0
  private var syncCalls = 0

  private def periodStart(p: Int): java.time.LocalDate = Start.plusMonths(p.toLong)
  private def watermark(p: Int): Long =
    periodStart(p + 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond - 1

  private def ordersWithPeriod: DataFrame = spark.read.parquet(s"$source/orders")
    .withColumn("year", year(col("o_orderdate")))
    .withColumn("round", month(col("o_orderdate")))

  private val specs = Seq(
    Pipeline.TableSpec("region", Pipeline.PreSeason, Nil, Seq("r_regionkey")),
    Pipeline.TableSpec("nation", Pipeline.PreSeason, Seq("region"), Seq("n_nationkey")),
    Pipeline.TableSpec("customer", Pipeline.PreSeason, Seq("nation"), Seq("c_custkey")),
    Pipeline.TableSpec("orders", Pipeline.PostRace, Seq("customer"), Seq("o_orderkey"),
      versionColumn = Some("o_rev")))

  private def extracts: Map[String, Pipeline.Extract] = {
    def dim(name: String): Pipeline.Extract = (s, _) => s.read.parquet(s"$dims/$name.parquet")
    Map("region" -> dim("region"), "nation" -> dim("nation"), "customer" -> dim("customer"),
      "orders" -> ((_, since) => since.fold(ordersWithPeriod)(wm =>
        ordersWithPeriod.filter(unix_timestamp(col("o_orderdate")) > wm))))
  }

  private def scoped: Map[String, Pipeline.ScopedExtract] = Map("orders" -> ((_, period) =>
    ordersWithPeriod.filter(period.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))))

  /** Every delivery in one seeded frame, with its `delivery` number and
    * the round (`o_period`) each order belongs to.
    */
  private def deliveries: DataFrame = {
    val n = OrdersPerRound.toLong
    def rows(k: org.apache.spark.sql.Column, period: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = {
      val date = timestamp_seconds(unix_timestamp(add_months(lit(Start.toString),
        period.cast("int")).cast("timestamp")) + in.pick(14, 28, k) * 86400L)
      in.orderColumns(k, Customers, date, d) ++ Seq(d.cast("int").as("o_rev"),
        period.cast("int").as("o_period"), d.cast("int").as("delivery"))
    }
    val id = col("id")
    val j = id % n
    // delivery number of row `id` in a frame of n rows per delivery
    val dOf = floor(id / n) + 1
    val history = spark.range(History * n).select(rows(id, floor(id / n), lit(0L)): _*)
    val fresh = spark.range(Deliveries * n)
      .select(rows((lit(History.toLong) + dOf - 1) * n + j, lit(History.toLong) + dOf - 1, dOf): _*)
    val target = in.pick(42, Long.MaxValue, dOf) % (lit(History.toLong) + dOf - 1)
    val revs = spark.range(Deliveries * n)
      .filter(j < (lit(0.05) + in.unit(44, dOf) * 0.2) * n)
      .select(rows(target * n + in.pick(43, n, dOf, j), target, dOf): _*)
      .dropDuplicates("o_orderkey", "o_rev")
    history.unionByName(fresh).unionByName(revs)
  }

  /** Write every delivery to the feed directory and note which rounds
    * each one revises.
    */
  def writeFeed(): Unit = {
    deliveries.repartition(col("delivery")).write.partitionBy("delivery").parquet(feed)
    val f = spark.read.parquet(feed).filter(col("delivery") > 0)
    val isRevision = col("o_period") < col("delivery") + History - 1
    revised = f.filter(isRevision).select(col("delivery"), col("o_period")).distinct().collect()
      .groupBy(_.getInt(0)).map { case (d, rs) => d -> rs.map(_.getInt(1)).toSeq.sorted }
    f.groupBy("delivery")
      .agg(sum(when(isRevision, 1).otherwise(0)).as("rev"), count(lit(1)).as("n"))
      .orderBy("delivery").collect()
      .foreach(r => shares += r.getLong(1).toDouble / (r.getLong(2) - r.getLong(1)))
  }

  /** The pre-season dimension load and the sync of the order history. */
  def preseason(): Unit = {
    metadata = new MetadataStore(spark, s"$warehouse/_metadata")
    runner = new PipelineRunner(spark, warehouse, metadata, specs, extracts,
      useSnapshotTables = true, scopedExtracts = scoped)
    h.span("etl.preseason") {
      runner.run(Pipeline.PreSeason)
      deliver(0)
      runner.run(Pipeline.PostRace, newWatermark = Some(watermark(History - 1)))
    }
    syncCalls += 1
  }

  /** Move delivery `d`'s files into the source directory. */
  private def deliver(d: Int): Unit = {
    val to = Paths.get(s"$source/orders")
    Files.createDirectories(to)
    Files.list(Paths.get(s"$feed/delivery=$d")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, to.resolve(s"d$d-${p.getFileName}")))
    delivered = d
  }

  private def standings: DataFrame = {
    val points = runner.table("orders").groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("points"),
        count(lit(1)).as("orders"))
    val table = points.join(runner.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(runner.table("nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_custkey"), col("c_name"), col("n_name"), col("points"), col("orders"))
    Ranking.globalRowNumber(table, Seq(col("points").desc, col("o_custkey")), "position")
  }

  /** Round `d` (d ≥ 1): deliver, sync (mode run, then one backfill per
    * revised round), read the standings. False once the feed is spent.
    */
  def round(d: Int): Boolean =
    d <= Deliveries && {
      deliver(d)
      val period = History + d - 1
      val backfills = revised.getOrElse(d, Nil)
      h.op("sync", "round", "etl.sync") {
        runner.run(Pipeline.PostRace, newWatermark = Some(watermark(period)))
        backfills.foreach { p =>
          val start = periodStart(p)
          runner.backfill("orders", Map("year" -> start.getYear, "round" -> start.getMonthValue))
        }
      }
      syncCalls += 1 + backfills.size
      h.op("read", "standings", "etl.read")(HashSink.run(standings))
      true
    }

  def checks(): Unit = {
    h.check("orders equal the last-write-wins fold of every delivery") {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", "o_rev").map(col)
      val latest = org.apache.spark.sql.expressions.Window.partitionBy("o_orderkey")
        .orderBy(col("o_rev").desc)
      val expected = HashSink.run(spark.read.parquet(s"$source/orders")
        .withColumn("rn", row_number().over(latest)).filter(col("rn") === 1).select(cols: _*))
      val actual = HashSink.run(runner.table("orders").select(cols: _*))
      Option.when(expected != actual)(s"table $actual, fold $expected")
    }
    h.check("one sync-log success row per sync call") {
      val successes = metadata.history("orders").count(_.status == "success")
      Option.when(successes != syncCalls)(s"$successes rows for $syncCalls calls")
    }
  }

  /** The dimension files and every orders file delivered so far. */
  def inputBytes: Long = Workloads.du(Paths.get(source)) +
    Seq("region", "nation", "customer").map(t => Workloads.du(Paths.get(s"$dims/$t.parquet"))).sum

  /** Every table version and the sync log the runner keeps. */
  def storedBytes: Long = Workloads.du(Paths.get(warehouse))

  def details: Map[String, (Double, String)] = Map(
    "sync_p50_s" -> (Workloads.p50(h, "sync"), "s"),
    "standings_p50_s" -> (Workloads.p50(h, "read", Some("standings")), "s"))

  def layerCounters: Map[String, Double] = Map(
    "etl.metadata_files" -> Workloads.countFiles(Paths.get(s"$warehouse/_metadata")).toDouble,
    "etl.snapshot_versions" ->
      new SnapshotTable(spark, s"$warehouse/orders").currentVersion.fold(0.0)(_ + 1.0),
    "etl.warehouse_bytes" -> storedBytes.toDouble)

  def properties: Seq[(String, String)] = Seq(
    "orders_per_round" -> OrdersPerRound.toString,
    "history_rounds" -> History.toString,
    "rounds_delivered" -> delivered.toString,
    "revised_share_per_round" ->
      shares.take(delivered).map(v => f"$v%.4f").mkString("[", ",", "]"),
    "revised_rounds_per_round" -> (1 to delivered)
      .map(d => revised.getOrElse(d, Nil).mkString("[", ",", "]")).mkString("[", ",", "]"))
}

object Season {
  val Start: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  /** The star schema's customer count at [[AnalyticsMix.ScaleFactor]]. */
  val Customers = 1500L
  val OrdersPerRound = 1000
  val History = 6
  val Deliveries = 24
}

/** A signature store and a BM25 store over a seeded base corpus, fed
  * one season of ingest batches. Before each batch is ingested, its
  * near-duplicates are probed for and the BM25 store is searched; then
  * the batch is appended to both stores, which publishes one segment in
  * each. Batch 0 is the warm-up. The one timed iteration ingests the
  * next [[StoreIngest.TakedownEvery]] batches, so its probes read a base
  * plus a growing number of live segments, probes the batch after them,
  * and ends in a takedown of seeded documents from both stores, which
  * refolds base and segments into a new base.
  */
final class StoreIngest(h: Harness, seed: Long, dir: String) extends Workload {
  import StoreIngest._
  private val spark = h.spark
  private val in = new Inputs(spark, seed)
  private val sig = "pb_sig"
  private val bm = "pb_bm25"
  private val corpusPath = s"$dir/corpus"
  private val batchesPath = s"$dir/batches"
  private val removed = mutable.LinkedHashSet[Long]()
  private val segments = mutable.ArrayBuffer[Int]()
  private var ingested = 0
  private val rnd = new scala.util.Random(seed)

  private def batch(b: Int): DataFrame = spark.read.parquet(s"$batchesPath/batch=$b")
  private def corpus: DataFrame = spark.read.parquet(corpusPath)

  def setup(): Unit = {
    Workloads.concurrently(Seq(
      () => in.documents(0, BaseDocs, BaseDocs).write.parquet(corpusPath),
      () => in.documents(BaseDocs, BatchDocs * Batches, BaseDocs)
        .withColumn("batch", ((col("doc_id") - BaseDocs) / BatchDocs).cast("int"))
        .repartition(col("batch")).write.partitionBy("batch").parquet(batchesPath)))
    h.span("store.build") {
      Dedup.buildSignatureStore(corpus, sig)
      TextAnalysis.buildBm25Store(corpus, bm)
    }
  }

  private def terms(b: Int): Seq[String] =
    new scala.util.Random(seed * 31L + b).shuffle(in.Vocabulary).take(3)

  /** Near-dup probe of batch `b` and one BM25 search, both timed as reads. */
  private def probes(b: Int): Unit = {
    segments += Warehouse.resolveSegmented(spark, sig)._2.size
    h.op("read", "minhash", "store.probe")(
      HashSink.run(Dedup.minhashIncrementalAgainstStore(sig, batch(b))))
    h.op("read", "bm25", "store.probe")(
      HashSink.run(TextAnalysis.bm25AgainstStore(spark, bm, terms(b))))
  }

  // the bookkeeping behind the end-of-run rebuild follows only the
  // operations that succeeded
  private def append(b: Int): Unit =
    if (h.op("ingest", "batch", "store.append") {
      val docs = batch(b)
      Dedup.appendToSignatureStore(docs, sig)
      TextAnalysis.appendToBm25Store(docs, bm)
    }.isDefined) ingested = b + 1

  /** Probe and append batch 0. The warm-up takes nothing down: the
    * main stores are taken down once per run, see `perfbench/README.md`
    * on the defect a second takedown after an append meets at this commit.
    */
  def warmup(): Unit = { probes(0); append(0) }

  /** The one timed iteration: probe and append batches 1..k, probe batch
    * k + 1, take down.
    */
  def iterate(i: Int): Boolean = i == 0 && {
    (1 to TakedownEvery).foreach { b => probes(b); append(b) }
    probes(TakedownEvery + 1)
    val ids = rnd.shuffle((0L until BaseDocs + ingested.toLong * BatchDocs).toVector)
      .take(TakedownDocs)
    val gone = deliveredDocs.filter(col("doc_id").isin(ids: _*))
    if (h.op("takedown", "cascade", "store.remove") {
      Dedup.removeDocs(gone, Dedup.DedupStoreFamily(signature = Some(sig)))
      TextAnalysis.removeFromBm25Store(gone, bm)
    }.isDefined) removed ++= ids
    true
  }

  /** (doc_id, text) of the base corpus and every batch ingested so far. */
  private def deliveredDocs: DataFrame = corpus.select("doc_id", "text").unionByName(
    spark.read.parquet(batchesPath).filter(col("batch") < ingested).select("doc_id", "text"))

  /** Probe equality against a one-shot rebuild over base ∪ batches −
    * takedowns, probing with the next unseen batch.
    */
  def checks(): Unit = {
    val probe = batch(TakedownEvery + 1)
    val live = deliveredDocs.filter(!col("doc_id").isin(removed.toSeq: _*)).localCheckpoint(true)
    def same(a: (Long, Long), b: (Long, Long)) = Option.when(a != b)(s"live $a, rebuilt $b")
    // the two stores are independent: check them concurrently (the
    // rebuilds are mostly fixed cost, so this halves the check's wall time)
    Workloads.concurrently(Seq(
      () => h.check("signature store probe equals a one-shot rebuild's") {
        Dedup.buildSignatureStore(live, s"${sig}_rebuilt")
        same(HashSink.run(Dedup.minhashIncrementalAgainstStore(sig, probe)),
          HashSink.run(Dedup.minhashIncrementalAgainstStore(s"${sig}_rebuilt", probe)))
      },
      () => h.check("BM25 store probe equals a one-shot rebuild's") {
        TextAnalysis.buildBm25Store(live, s"${bm}_rebuilt")
        same(HashSink.run(TextAnalysis.bm25AgainstStore(spark, bm, terms(-1))),
          HashSink.run(TextAnalysis.bm25AgainstStore(spark, s"${bm}_rebuilt", terms(-1))))
      }))
  }

  def inputBytes: Long = Workloads.du(Paths.get(corpusPath)) +
    (0 until ingested).map(b => Workloads.du(Paths.get(s"$batchesPath/batch=$b"))).sum

  private def warehouseDir = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))

  /** The stores' generation tables plus their generation chains. */
  def storedBytes: Long = {
    def under(dir: Path, keep: String => Boolean): Long =
      if (!Files.isDirectory(dir)) 0L
      else Files.list(dir).iterator().asScala
        .filter(p => keep(p.getFileName.toString)).map(Workloads.du).sum
    under(warehouseDir, n => Seq(sig, bm).exists(s => n.startsWith(s"${s}__g"))) +
      under(warehouseDir.resolve("_generations"), n => n == sig || n == bm)
  }

  def details: Map[String, (Double, String)] = Map(
    "ingest_p50_s" -> (Workloads.p50(h, "ingest"), "s"),
    "probe_p50_s" -> (Workloads.p50(h, "read"), "s"),
    "takedown_p50_s" -> (Workloads.p50(h, "takedown"), "s"))

  def layerCounters: Map[String, Double] = Map(
    // the warm-up's probe is not timed
    "store.live_segments" -> Stats.median(segments.drop(1).map(_.toDouble).toSeq).getOrElse(0.0),
    "store.warehouse_bytes" -> storedBytes.toDouble)

  def properties: Seq[(String, String)] = Seq(
    "base_docs" -> BaseDocs.toString,
    "batch_docs" -> BatchDocs.toString,
    "batch_to_corpus" -> f"${BatchDocs.toDouble / BaseDocs}%.4f",
    "batches_ingested" -> ingested.toString,
    "takedown_docs" -> removed.size.toString,
    "live_segments_at_probe" -> segments.mkString("[", ",", "]"))
}

object StoreIngest {
  val BaseDocs = 1500L
  val BatchDocs = 150L
  /** Batches appended between takedowns: one per timed probe but the last. */
  val TakedownEvery = 2
  /** The warm-up batch, the timed batches and the last probe's batch. */
  val Batches: Int = TakedownEvery + 2
  val TakedownDocs = 10
}
