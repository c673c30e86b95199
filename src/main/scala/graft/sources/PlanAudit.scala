package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** The store layer's plan-shape invariants as a USER-FACING diagnostic:
  * the facts WarehouseSpec asserts (co-partitioned store reads shuffle
  * nothing, bucket pruning selects few buckets, IVF probes prune at the
  * directory level, filters reach the parquet scan) emitted as one
  * DataFrame row per plan node instead of buried in EXPLAIN text — so a
  * production operator can assert "this probe reads N of M buckets and
  * shuffles only the batch side" programmatically, per query, at any
  * scale.
  *
  * Row kinds: `scan` (one per parquet scan: source table/location,
  * ReadSchema, PushedFilters, PartitionFilters, SelectedBucketsCount),
  * `shuffle` / `broadcast` (one per exchange: its output partitioning),
  * `reused_exchange` (a reused subtree — its scans already counted once;
  * not descended, mirroring the actual single read), and `codegen` (one
  * per WholeStageCodegen span: its root operator and fused node count —
  * a hot path that fragments into many small spans has fallen out of
  * codegen somewhere).
  */
object PlanAudit {

  final case class AuditRow(op: String, source: String, read_schema: String,
      pushed_filters: String, partition_filters: String,
      selected_buckets: String, partitioning: String)

  /** Walk the physical plan across the boundaries plain `collect` stops
    * at: AQE wrappers descend into the current physical plan, query
    * stages into their substituted plan. Reused exchanges are reported
    * but NOT descended (the data moves once).
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  /** Audit `df`'s physical plan. Call BEFORE or AFTER an action — under
    * AQE the pre-execution audit reads the initial plan (static shape:
    * scans, pushdowns, bucket selection); after an action it reads the
    * final adaptively-replanned tree (true exchange count). `codegen`
    * rows exist only AFTER an action when AQE is on — codegen collapse
    * runs at stage materialization, so their pre-execution absence
    * means "not executed yet", never "fell out of codegen".
    */
  def planAudit(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    auditRows(df).toDF()
  }

  private def auditRows(df: DataFrame): Seq[AuditRow] =
    flatten(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec =>
        val m = s.metadata
        AuditRow("scan",
          s.tableIdentifier.map(_.unquotedString)
            .getOrElse(m.getOrElse("Location", "")),
          m.getOrElse("ReadSchema", ""),
          m.getOrElse("PushedFilters", ""),
          m.getOrElse("PartitionFilters", ""),
          m.getOrElse("SelectedBucketsCount", ""),
          "")
      case e: ShuffleExchangeLike =>
        AuditRow("shuffle", "", "", "", "", "", e.outputPartitioning.toString)
      case b: BroadcastExchangeLike =>
        AuditRow("broadcast", "", "", "", "", "", b.outputPartitioning.toString)
      case r: ReusedExchangeExec =>
        AuditRow("reused_exchange", "", "", "", "", "", r.outputPartitioning.toString)
      case w: WholeStageCodegenExec =>
        AuditRow("codegen", w.child.nodeName, "", "", "", "",
          s"fused=${fusedCount(w.child)}")
    }

  /** Operators fused inside one codegen span — descent stops at
    * InputAdapter (the boundary to the span's inputs, which are other
    * spans or exchanges and report themselves).
    */
  private def fusedCount(p: SparkPlan): Int = p match {
    case _: org.apache.spark.sql.execution.InputAdapter => 0
    case other => 1 + other.children.map(fusedCount).sum
  }
}
