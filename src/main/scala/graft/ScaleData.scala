package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** SCALECHECK data generator: scales the driver's sf0.1 testdata 10× to
  * an sf1-equivalent (`args = srcDir destDir [replicas]`) so the full
  * suite's cost CURVE can be measured one decade up — the check that
  * catches a key whose cost bends (wedge streams, pair joins, BPE
  * rounds) before a 100× claim rests on sf0.1 alone.
  *
  * Construction: `replicas` disjoint shards of the source, each a
  * structure-preserving copy —
  *  - every entity key is offset by `r × (max_key + 1)` (contiguous id
  *    spaces, so id-range conventions like the d7/d16 ingest split or
  *    the dc1 bench-suite head stay head-sized);
  *  - FK columns get the SAME offset as the key they reference, so each
  *    shard's join graph is exactly the source's (region/nation are
  *    fixed enum dims and are not replicated);
  *  - document TEXT gets a per-shard token suffix (`tok` → `tok~r`,
  *    r ≥ 1): shards share no shingles, so dedup/similarity work scales
  *    like 10 independent shards (≈ linear), not like a corpus where
  *    every doc suddenly has 9 exact twins (a complexity-class change a
  *    scale check must not inject); n_chars is recomputed to match;
  *  - embeddings get deterministic per-shard noise (±0.35/component),
  *    detaching replica vectors the way the text suffix detaches text.
  *
  * Timestamps, enums and measures are kept: the time range is constant
  * and densities grow 10× — how a real corpus scales within a window.
  */
object ScaleData {

  private def hashUnit(cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(2001L)).cast("double") / 1000.0 - 1.0

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = ParquetSource.read(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")

    // fixed enum dimensions: copied, never replicated
    Seq("region", "nation").foreach(t => write(read(t), t))

    /** Union of `replicas` shards of `df`, each transformed by `shard(r)`. */
    def replicate(df: DataFrame)(shard: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(r => shard(df, r)).reduce(_ unionByName _)

    /** key + r·(max+1), preserving the column's type (int64 keys here). */
    def off(c: String, r: Int, span: Long): Column = (col(c) + lit(r * span)).as(c)

    // spans = max_key + 1 at the SOURCE scale, computed not assumed
    def span(t: String, c: String): Long =
      read(t).agg(max(col(c))).collect()(0).getLong(0) + 1L
    val cSpan = span("customer", "c_custkey")
    val sSpan = span("supplier", "s_suppkey")
    val pSpan = span("part", "p_partkey")
    val oSpan = span("orders", "o_orderkey")
    val eSpan = span("events", "event_id")
    val uSpan = span("events", "user_id")
    val dSpan = span("documents", "doc_id")
    val vSpan = span("embeddings", "vec_id")

    write(replicate(read("customer")) { (df, r) =>
      df.select(off("c_custkey", r, cSpan), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    write(replicate(read("supplier")) { (df, r) =>
      df.select(off("s_suppkey", r, sSpan), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }, "supplier")

    write(replicate(read("part")) { (df, r) =>
      df.select(off("p_partkey", r, pSpan), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part")

    write(replicate(read("orders")) { (df, r) =>
      df.select(off("o_orderkey", r, oSpan), off("o_custkey", r, cSpan),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }, "orders")

    write(replicate(read("lineitem")) { (df, r) =>
      df.select(off("l_orderkey", r, oSpan), off("l_partkey", r, pSpan),
        off("l_suppkey", r, sSpan), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    write(replicate(read("events")) { (df, r) =>
      df.select(off("event_id", r, eSpan), col("ts"), off("user_id", r, uSpan),
        col("event_type"), col("value"), col("props"))
    }, "events")

    write(replicate(read("documents")) { (df, r) =>
      val text =
        if (r == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), x =>
            when(x === "", x).otherwise(concat(x, lit(s"~$r")))), " ")
      df.select(off("doc_id", r, dSpan), text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }, "documents")

    write(replicate(read("embeddings")) { (df, r) =>
      val emb =
        if (r == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x + hashUnit(col("vec_id"), i, lit(r)) * 0.35).cast("float"))
      df.select(off("vec_id", r, vSpan), emb.as("embedding"), col("label"))
    }, "embeddings")

    val counts = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .map(t => s""""$t":${ParquetSource.read(spark, s"$dest/$t.parquet").count()}""")
    println(s"""{"metric":"scale_data","dest":"$dest","replicas":$replicas,"rows":{${counts.mkString(",")}}}""")
    spark.stop()
  }
}
