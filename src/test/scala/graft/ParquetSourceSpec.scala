package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.SnapshotTable
import graft.sources.{HadoopFs, ParquetSource}

/** [[ParquetSource]] keeps an inferred schema only while the files it
  * was inferred from are unchanged: each case changes them and compares
  * the reader's schema, on the first and the repeated read, with Spark's
  * own inference over the same files.
  */
class ParquetSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def inferred(s: SparkSession, paths: String*): StructType = s.read.parquet(paths: _*).schema

  /** The reader's schema, read twice (the second from the kept schema). */
  private def twice(read: => DataFrame): StructType = {
    val first = read.schema
    val again = read.schema
    assert(again == first, "a repeated read must return the schema of the first")
    first
  }

  test("a path rewritten in place with an added column, then a changed type, infers again") {
    val path = tmp("graft_pq_") + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(twice(ParquetSource.read(spark, path)) == inferred(spark, path))

    Seq((1L, "a", 2.0)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val added = twice(ParquetSource.read(spark, path))
    assert(added == inferred(spark, path))
    assert(added.fieldNames.toSeq == Seq("id", "s", "x"))

    Seq((1, "a", 2.0)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val retyped = twice(ParquetSource.read(spark, path))
    assert(retyped == inferred(spark, path))
    assert(retyped("id").dataType == IntegerType)
    assert(ParquetSource.read(spark, path).as[(Int, String, Double)].collect().toSeq == Seq((1, "a", 2.0)))
  }

  test("a partitioned path infers again when a partition changes its column's type") {
    val path = tmp("graft_pq_") + "/t"
    Seq((1L, "1")).toDF("id", "day").write.partitionBy("day").parquet(path)
    val numeric = twice(ParquetSource.read(spark, path))
    assert(numeric == inferred(spark, path))
    assert(numeric("day").dataType == IntegerType)
    Seq((2L, "mon")).toDF("id", "day").write.mode("append").partitionBy("day").parquet(path)
    val text = twice(ParquetSource.read(spark, path))
    assert(text == inferred(spark, path))
    assert(text("day").dataType == StringType)
  }

  test("a SnapshotTable whose directories differ in schema reads as Spark infers, plainly and merged") {
    val t = new SnapshotTable(spark, tmp("graft_pq_snap_"))
    t.append(Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b", 3.0)).toDF("id", "s", "x"))
    def dirs = t.snapshot().get.data.map(d => s"${t.rootPath}/data/$d")
    assert(twice(t.read()) == inferred(spark, dirs: _*))
    val merged = twice(t.read(mergeSchema = true))
    assert(merged == spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema)
    assert(merged.fieldNames.toSeq == Seq("id", "s", "x"))

    // a rewrite replaces every directory, so the sampled one changes
    t.overwriteWith(_ => Seq((3, "c", true)).toDF("id", "s", "y"))
    val rewritten = twice(t.read())
    assert(rewritten == inferred(spark, dirs: _*))
    assert(rewritten.fieldNames.toSeq == Seq("id", "s", "y") && rewritten("id").dataType == IntegerType)
  }

  test("an immutable directory deleted and written again at the same path infers again") {
    val dir = tmp("graft_pq_gen_") + "/g0"
    Seq((1L, 1.0f)).toDF("vec_id", "x").write.parquet(dir)
    assert(twice(ParquetSource.readImmutable(spark, Seq(dir))) == inferred(spark, dir))
    HadoopFs.deleteRecursive(dir)
    Thread.sleep(20) // a new modification time, at millisecond resolution
    Seq((1, 1.0)).toDF("vec_id", "x").write.parquet(dir)
    val again = twice(ParquetSource.readImmutable(spark, Seq(dir)))
    assert(again == inferred(spark, dir))
    assert(again("vec_id").dataType == IntegerType && again("x").dataType == DoubleType)
  }

  test("immutable directories are known by the one Spark samples, the first in path order") {
    val root = tmp("graft_pq_dirs_")
    Seq(1L).toDF("a").write.parquet(s"$root/d")
    Seq(1).toDF("b").write.parquet(s"$root/d-x")
    Seq(1.0).toDF("c").write.parquet(s"$root/c")
    def both(dirs: String*): StructType = {
      val ours = twice(ParquetSource.readImmutable(spark, dirs.map(d => s"$root/$d")))
      assert(ours == inferred(spark, dirs.map(d => s"$root/$d"): _*), dirs.mkString(", "))
      ours
    }
    assert(both("d").fieldNames.toSeq == Seq("a"))
    // `d-x/part-…` sorts before `d/part-…` ('-' < '/'), though `d` < `d-x`
    assert(both("d", "d-x").fieldNames.toSeq == Seq("b"))
    assert(both("d-x", "d", "c").fieldNames.toSeq == Seq("c"))
  }

  /** A parquet file holding one unannotated binary column and no Spark
    * schema in its footer (Spark's own footer schema would override
    * `binaryAsString`), as a non-Spark writer leaves it.
    */
  private def writeRawBinary(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("b", "hi"))
    finally w.close()
  }

  test("a scoped child with another parquet conf keeps its own schema") {
    val path = tmp("graft_pq_") + "/t"
    writeRawBinary(path)
    val child = GraftSession.scoped(spark, Map("spark.sql.parquet.binaryAsString" -> "true"))
    val plain = twice(ParquetSource.read(spark, path))
    assert(plain == inferred(spark, path) && plain("b").dataType == BinaryType)
    val asString = twice(ParquetSource.read(child, path))
    assert(asString == inferred(child, path) && asString("b").dataType == StringType)
    assert(ParquetSource.read(child, path).select("b").as[String].collect().toSeq == Seq("hi"))
    assert(twice(ParquetSource.read(spark, path)) == plain)
    // the same holds for an immutable directory
    assert(twice(ParquetSource.readImmutable(child, Seq(path)))("b").dataType == StringType)
    assert(twice(ParquetSource.readImmutable(spark, Seq(path)))("b").dataType == BinaryType)
  }

  test("a directory SnapshotTable writes reads with the schema Spark infers, and no read infers it") {
    import org.apache.spark.sql.functions._
    val t = new SnapshotTable(spark, tmp("graft_pq_written_"))
    // non-nullable, nested, keyed, binary, decimal and time columns
    val rows = spark.range(0, 3).select(col("id"), col("id").cast("int").as("i"),
      lit("x").as("s"), (col("id") / 2).as("d"), col("id").cast("decimal(12,2)").as("m"),
      timestamp_seconds(col("id")).as("ts"), current_date().as("day"),
      array(col("id"), lit(null).cast("long")).as("xs"),
      struct(col("id").as("a"), lit(null).cast("string").as("b")).as("st"),
      map(lit("k"), col("id")).as("kv"), hex(col("id")).cast("binary").as("bin"),
      (col("id") > 0).as("flag"))
    t.append(rows)
    t.append(rows.filter(col("id") > 0))
    def dirs = t.snapshot().get.data.map(d => s"${t.rootPath}/data/$d")
    val r = graft.Phase.record(spark)
    val read = try {
      val df = graft.Phase("written")(t.read())
      assert(r.snapshot().get("written/parquet.schema").isEmpty, "the read inferred a schema")
      df
    } finally r.close()
    assert(read.schema == inferred(spark, dirs: _*))
    assert(read.count() == 5L)
  }

  test("a missing path fails as Spark's own read does") {
    val missing = tmp("graft_pq_") + "/absent"
    val ours = intercept[Exception](ParquetSource.read(spark, missing))
    val spark0 = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getClass == spark0.getClass && ours.getMessage == spark0.getMessage)
    assert(intercept[Exception](ParquetSource.readImmutable(spark, Seq(missing))).getClass ==
      spark0.getClass)
  }
}
