package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet readers for the testdata star schema.
  *
  * Each accessor is a plain parquet scan ([[ParquetSource.read]]) so
  * Catalyst owns column pruning and predicate pushdown — callers
  * `.select`/`.filter` and the scan reads only what the plan needs
  * (verify via `PushedFilters` / `ReadSchema` in `.explain("formatted")`).
  * A table's schema is inferred on its first read and reused while its
  * files are unchanged, so a repeated accessor launches no Spark job.
  *
  * At 100 TB the fact tables (`lineitem`, `events`) would be
  * date-partitioned directories; the same read of the directory picks
  * up partition pruning for free. The small dimensions are broadcast-sized
  * by design (mirrors the reference's in-memory FK lookup maps,
  * `/root/reference/loaders/base_loader.py:176-211`, distributed-safe).
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    val df = ParquetSource.read(spark, s"$dir/$name.parquet")
    Tables.assertSchema(name, df.schema)
    df
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** events with `ts` exactly as stored — microsecond timestamp in
    * current testdata; raw INT64 nanoseconds (LongType, via
    * `spark.sql.legacy.parquet.nanosAsLong=true`) in legacy drops. For
    * operators that need parquet filter pushdown on event time: the
    * predicate must be written in the stored domain (a comparison through
    * a conversion expression cannot push to the scan).
    */
  def eventsRaw: DataFrame = t("events")

  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV, not `/`: float division of ~2^60 ns values loses
        // the low bits (double ulp at that magnitude is 256 ns) and can
        // shift boundary-aligned timestamps by 1us
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  import org.apache.spark.sql.types._

  /** Event-time columns may arrive as TIMESTAMP(MICROS) (current
    * testdata), TIMESTAMP_NTZ, or raw INT64 nanos surfaced as LongType
    * under `spark.sql.legacy.parquet.nanosAsLong` (legacy drops) — the
    * operators branch on the stored type (`Tables.events`,
    * `Relational.q9Incremental`).
    */
  private val Timestampish: Seq[DataType] = Seq(TimestampType, TimestampNTZType, LongType)

  /** What each operator in the library assumes about the driver's
    * testdata. A regeneration that changes a column's physical type
    * (round 9: `events.ts` INT64(NANOS) → TIMESTAMP(MICROS)) fails HERE
    * with the drifted column named, instead of surfacing as an opaque
    * mid-query cast error — or worse, an empty gate artifact. Only
    * PRESENT columns are type-checked: synthetic subset tables (specs
    * and bench mains write just the columns an operator reads) are
    * sanctioned, and a dropped/renamed column already fails loudly at
    * plan time with Spark's own unresolved-column error naming it.
    */
  private val expected: Map[String, Seq[(String, Seq[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> Seq(IntegerType), "r_name" -> Seq(StringType)),
    "nation" -> Seq("n_nationkey" -> Seq(IntegerType), "n_name" -> Seq(StringType),
      "n_regionkey" -> Seq(IntegerType)),
    "customer" -> Seq("c_custkey" -> Seq(LongType), "c_name" -> Seq(StringType),
      "c_nationkey" -> Seq(IntegerType), "c_acctbal" -> Seq(DoubleType),
      "c_mktsegment" -> Seq(StringType)),
    "supplier" -> Seq("s_suppkey" -> Seq(LongType), "s_name" -> Seq(StringType),
      "s_nationkey" -> Seq(IntegerType), "s_acctbal" -> Seq(DoubleType)),
    "part" -> Seq("p_partkey" -> Seq(LongType), "p_name" -> Seq(StringType),
      "p_brand" -> Seq(StringType), "p_type" -> Seq(StringType),
      "p_size" -> Seq(IntegerType), "p_retailprice" -> Seq(DoubleType)),
    "orders" -> Seq("o_orderkey" -> Seq(LongType), "o_custkey" -> Seq(LongType),
      "o_orderstatus" -> Seq(StringType), "o_totalprice" -> Seq(DoubleType),
      "o_orderdate" -> Timestampish, "o_orderpriority" -> Seq(StringType)),
    "lineitem" -> Seq("l_orderkey" -> Seq(LongType), "l_partkey" -> Seq(LongType),
      "l_suppkey" -> Seq(LongType), "l_linenumber" -> Seq(IntegerType),
      "l_quantity" -> Seq(DoubleType), "l_extendedprice" -> Seq(DoubleType),
      "l_discount" -> Seq(DoubleType), "l_tax" -> Seq(DoubleType),
      "l_returnflag" -> Seq(StringType), "l_linestatus" -> Seq(StringType),
      "l_shipdate" -> Timestampish),
    "events" -> Seq("event_id" -> Seq(LongType), "ts" -> Timestampish,
      "user_id" -> Seq(LongType), "event_type" -> Seq(StringType),
      "value" -> Seq(DoubleType), "props" -> Seq(StringType)),
    "documents" -> Seq("doc_id" -> Seq(LongType), "text" -> Seq(StringType),
      "lang" -> Seq(StringType), "source" -> Seq(StringType),
      "n_chars" -> Seq(LongType)),
    "embeddings" -> Seq("vec_id" -> Seq(LongType),
      "embedding" -> Seq(ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false)),
      "label" -> Seq(IntegerType)))

  private[sources] def assertSchema(name: String, schema: StructType): Unit =
    expected.get(name).foreach { cols =>
      val present = schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (cname, allowed) =>
        present.get(cname).foreach { dt =>
          if (!allowed.contains(dt)) throw new IllegalStateException(
            s"testdata drift in table '$name': column '$cname' is ${dt.simpleString}, " +
              s"expected one of ${allowed.map(_.simpleString).mkString("/")}. A physical-type " +
              "regeneration (like round 9's events.ts INT64(NANOS) → TIMESTAMP(MICROS)) " +
              "must be adapted deliberately, not discovered as a mid-query cast error.")
        }
      }
    }
}
