package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** graft's one parquet reader: every `src/main` read of a parquet path
  * goes through here (`FanOutSpec` enforces it).
  *
  * A plain `spark.read.parquet` launches one Spark job before it returns
  * its DataFrame, only to read a footer for the schema. graft reads the
  * same star-schema tables and the same immutable snapshot directories
  * over and over, so this reader keeps the schema Spark inferred and
  * hands it back through `spark.read.schema(...)` while the files are
  * known not to have changed: a repeated read launches no job. On a miss
  * Spark infers as usual (one job, labelled `parquet.schema` in the
  * [[graft.Phase]] record) and the result is kept. The writer of an
  * immutable directory keeps its schema up front ([[written]]).
  *
  * A kept schema is found by the session's parquet confs (they change
  * what inference returns, e.g. `binaryAsString` or `nanosAsLong`) and
  * the identity of the files:
  *
  *  - [[read]] is for paths whose files may change in place (the
  *    testdata tables, partitioned ETL tables, stream sinks): one
  *    driver-side listing, keyed on every leaf file's path, length and
  *    modification time, so any rewrite infers again;
  *  - [[readImmutable]] is for directories that never change once
  *    written (snapshot data directories, store generations): no
  *    listing. Spark samples the first leaf file in path order, which
  *    lives in the directory whose `dir/` sorts first, so that one
  *    directory (and its modification time, which a delete and rewrite
  *    at the same path changes) is the key.
  *
  * A `mergeSchema` read always infers: it must read every footer.
  */
object ParquetSource {

  /** Bound on kept schemas. One analytics session keeps a few dozen
    * (one per testdata table and per table's first snapshot directory);
    * reaching the bound drops them all and inference starts over.
    */
  val MaxSchemas: Int = 1024

  /** What a kept schema was inferred from: the parquet confs, and either
    * a listing (path, length, mtime per leaf file) or the sampled
    * immutable directory and its mtime.
    */
  private final case class Key(confs: Map[String, String], files: Seq[(String, Long, Long)])

  private val schemas = new ConcurrentHashMap[Key, StructType]()

  /** The confs that change what parquet inference returns: the parquet
    * ones, and partition-column type inference (a partitioned table's
    * schema holds its partition columns).
    */
  private def confsOf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") &&
        (k.contains("parquet") || k.startsWith("spark.sql.sources.partitionColumnTypeInference"))
    }

  /** Read the parquet file or directory tree at `path`, whose files may
    * change between reads.
    */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean = false): DataFrame =
    load(spark, Seq(path), mergeSchema) {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        files += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      files.result().sorted
    }

  /** Read the union of `dirs`, each a directory that never changes once
    * written.
    */
  def readImmutable(spark: SparkSession, dirs: Seq[String],
      mergeSchema: Boolean = false): DataFrame =
    load(spark, dirs, mergeSchema)(dirIdentity(spark, dirs.minBy(_ + "/")))

  /** Keep the schema of the immutable directory `dir`, just written in
    * full from a frame of schema `schema`, so that a [[readImmutable]]
    * sampling `dir` infers nothing. Spark's writer stores the frame's
    * schema in each file's footer and inference reads it back from
    * there, so this keeps what inference would return, as a read
    * resolves it (every field nullable).
    */
  def written(spark: SparkSession, dir: String, schema: StructType): Unit =
    keep(Key(confsOf(spark), dirIdentity(spark, dir)), spark.read.schema(schema).parquet(dir).schema)

  /** An immutable directory's identity: its path and modification time. */
  private def dirIdentity(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    Seq((dir, 0L, p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getModificationTime))
  }

  private def keep(key: Key, schema: StructType): Unit = {
    if (schemas.size >= MaxSchemas) schemas.clear()
    schemas.put(key, schema)
  }

  /** `paths` read with the schema kept for `files`, or inferred and kept.
    * A path that cannot be identified (it does not exist) is left to
    * Spark's own read, which reports it.
    */
  private def load(spark: SparkSession, paths: Seq[String], mergeSchema: Boolean)(
      files: => Seq[(String, Long, Long)]): DataFrame =
    if (mergeSchema)
      graft.Phase("parquet.schema")(spark.read.option("mergeSchema", "true").parquet(paths: _*))
    else {
      val key =
        try Some(Key(confsOf(spark), files))
        catch { case _: java.io.FileNotFoundException => None }
      key.flatMap(k => Option(schemas.get(k))) match {
        case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
        case None =>
          val df = graft.Phase("parquet.schema")(spark.read.parquet(paths: _*))
          key.foreach(keep(_, df.schema))
          df
      }
    }
}
