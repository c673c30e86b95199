package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table the workloads read is a pure
  * function of (seed, scale): each value is an `xxhash64` of the seed, a
  * per-column salt and the row id, so one seed always yields the same
  * bytes and the program under test receives only the generated files.
  *
  * The star schema mirrors the shapes and value domains of graft's
  * sf-scaled testdata (TPC-H-like dimensions and facts, an `events`
  * stream, a `documents` corpus with planted near-duplicates).
  */
final class Inputs(spark: SparkSession, seed: Long) {

  private def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  /** Uniform integer in [0, n). */
  def pick(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
  /** Uniform double in [0, 1). */
  def unit(salt: Int, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble
  private def oneOf(salt: Int, values: Seq[String], cs: Column*): Column =
    array(values.map(lit): _*).getItem(pick(salt, values.size.toLong, cs: _*).cast("int"))

  private val id = col("id")
  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(salt, id) * (hi - lo), 2)
  def dayStamp(from: String, days: Long, salt: Int, key: Column): Column =
    timestamp_seconds(unix_timestamp(lit(from)) + pick(salt, days, key) * 86400L)

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  val Vocabulary: Seq[String] = Seq("a", "the", "data", "spark", "query", "table", "row",
    "column", "key", "value", "join", "group", "order", "sort", "hash", "scan", "filter",
    "window", "stream", "batch", "line", "part", "customer", "vector", "merge", "agg",
    "big", "small", "fast", "slow", "index")

  def region: DataFrame = rows(5).select(id.cast("int").as("r_regionkey"),
    array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*)
      .getItem(id.cast("int")).as("r_name"))

  def nation: DataFrame = rows(25).select(id.cast("int").as("n_nationkey"),
    concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))

  def customer(n: Long): DataFrame = rows(n).select(id.as("c_custkey"),
    format_string("Customer#%09d", id).as("c_name"),
    pick(1, 25, id).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
    oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
      .as("c_mktsegment"))

  /** Order columns for key `k` dated `date`; status and price also
    * depend on the revision `rev`, so a revised order differs from the
    * original in its measures only.
    */
  def orderColumns(k: Column, nCust: Long, date: Column, rev: Column): Seq[Column] =
    Seq(k.as("o_orderkey"), pick(11, nCust, k).as("o_custkey"),
      oneOf(12, Seq("F", "O", "P"), k, rev).as("o_orderstatus"),
      round(lit(1000.0) + unit(13, k, rev) * 499000.0, 2).as("o_totalprice"),
      date.as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), k)
        .as("o_orderpriority"))

  def orders(n: Long, nCust: Long): DataFrame = rows(n).select(
    orderColumns(id, nCust, dayStamp("1995-01-01 00:00:00", 2403, 14, id), lit(0)): _*)

  def lineitem(n: Long, nOrders: Long, nPart: Long, nSupp: Long): DataFrame = rows(n).select(
    pick(16, nOrders, id).as("l_orderkey"), pick(17, nPart, id).as("l_partkey"),
    pick(18, nSupp, id).as("l_suppkey"), (pick(19, 7, id) + 1).cast("int").as("l_linenumber"),
    (pick(20, 50, id) + 1).cast("double").as("l_quantity"),
    money(21, 900.0, 105000.0).as("l_extendedprice"),
    (pick(22, 11, id) / 100.0).as("l_discount"), (pick(23, 9, id) / 100.0).as("l_tax"),
    oneOf(24, Seq("A", "N", "R"), id).as("l_returnflag"),
    oneOf(25, Seq("F", "O"), id).as("l_linestatus"),
    dayStamp("1995-01-02 00:00:00", 2498, 26, id).as("l_shipdate"))

  def events(n: Long, nUsers: Long): DataFrame = {
    val spanMicros = 30L * 86400L * 1000000L
    val step = math.max(1L, spanMicros / n)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    rows(n).select(id.as("event_id"),
      timestamp_micros(lit(base) + id * step + pick(27, step, id)).as("ts"),
      pick(28, nUsers, id).as("user_id"),
      oneOf(29, Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      greatest(lit(0.01), round(-log(lit(1.0) - unit(30, id)) * 50.0, 2)).as("value"),
      concat(lit("{\"k\": "), pick(31, 100, id), lit("}")).as("props"))
  }

  /** Text of document `d`: 10–99 words drawn by the hash of its template
    * id. A planted near-duplicate (`dupShare` of the ids) reuses an
    * earlier id's template and swaps one word for a token of its own.
    */
  def documentText(d: Column, dupShare: Double, dupPool: Column): Column = {
    val isDup = d >= 10 && unit(32, d) < dupShare
    val template = when(isDup, pick(33, Long.MaxValue, d) % dupPool).otherwise(d)
    val len = pick(34, 90, template) + 10
    val swapAt = pick(35, 10, d) + 1
    val vocab = array(Vocabulary.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(1L), len), i =>
      when(isDup && i === swapAt, concat(lit("x"), d))
        .otherwise(vocab.getItem(pick(36, Vocabulary.size.toLong, template, i).cast("int")))))
  }

  /** `n` documents with ids starting at `from`; near-duplicates point
    * into ids `[0, dupPool)`.
    */
  def documents(from: Long, n: Long, dupPool: Long, dupShare: Double = 0.1): DataFrame =
    spark.range(from, from + n, 1, 4).select(id.as("doc_id"),
      documentText(id, dupShare, lit(dupPool)).as("text"))
      .select(col("doc_id"), col("text"),
        oneOf(37, Seq("en", "en", "en", "de", "es", "fr", "zh"), col("doc_id")).as("lang"),
        concat(lit("src"), pick(38, 20, col("doc_id"))).as("source"),
        length(col("text")).cast("long").as("n_chars"))

  /** The star schema's tables that the benchmarked keys and the ETL
    * dimensions read, at scale factor `sf` (sf 1 ≈ 6M lineitems), written
    * concurrently as `<dir>/<table>.parquet`.
    */
  def writeStarSchema(dir: String, sf: Double): Unit = {
    def n(base: Double, floor: Long): Long = math.max(floor, math.round(base * sf))
    val (nCust, nSupp, nPart, nOrd) = (n(150000, 150), n(10000, 10), n(200000, 200), n(1500000, 1500))
    val tables = Seq(
      "region" -> region, "nation" -> nation, "customer" -> customer(nCust),
      "orders" -> orders(nOrd, nCust),
      "lineitem" -> lineitem(n(6000000, 6000), nOrd, nPart, nSupp),
      "events" -> events(n(1000000, 1000), n(15000, 15)),
      "documents" -> documents(0, n(50000, 50), n(50000, 50)))
    Workloads.concurrently(tables.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") })
  }
}
