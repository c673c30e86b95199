package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.GraftSparkInterop
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

import graft.GraftSession

/** As-of join — for every left row, the single latest right row (per join
  * key) whose time is <= (or < when strict) the left row's time. The
  * operator Spark's built-ins lack; implemented the whole-operator way:
  * logical node → planner strategy → physical exec, so Catalyst still
  * owns shuffles/sorts and AQE around it.
  *
  * Physical contract: both children hash-clustered on the join keys with
  * a pinned partition count (AQE must not coalesce the two sides
  * differently) and sorted by (keys, time) — EnsureRequirements inserts
  * the exchanges and sorts. Execution is then a single streaming merge
  * pass per co-partition: O(n+m), no buffering beyond one match row.
  * That plan shape is exactly a sort-merge join's, which is what holds at
  * 100 TB.
  */
object AsOfJoinPlans {

  /** Logical node. Built from analyzed child plans, so it is resolved on
    * construction; attribute disambiguation is the API wrapper's job.
    */
  case class AsOfJoin(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKeys: Seq[Attribute],
      rightKeys: Seq[Attribute],
      leftTime: Attribute,
      rightTime: Attribute,
      strict: Boolean) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsOfJoin =
      copy(left = l, right = r)
  }

  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoin(l, r, lk, rk, lt, rt, strict) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, strict) :: Nil
      case _ => Nil
    }
  }

  case class AsOfJoinExec(
      left: SparkPlan,
      right: SparkPlan,
      leftKeys: Seq[Attribute],
      rightKeys: Seq[Attribute],
      leftTime: Attribute,
      rightTime: Attribute,
      strict: Boolean) extends BinaryExecNode {

    override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] = {
      val n = Some(GraftSession.fanOut(conf))
      ClusteredDistribution(leftKeys, requireAllClusterKeys = true, n) ::
        ClusteredDistribution(rightKeys, requireAllClusterKeys = true, n) :: Nil
    }

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

    override def outputOrdering: Seq[SortOrder] =
      (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

    override protected def doExecute(): RDD[InternalRow] = {
      val leftOut = left.output
      val rightOut = right.output
      val numRightFields = rightOut.length
      val strictLocal = strict
      val keyTypes = leftKeys.map(_.dataType)
      val lKeyIdx = leftKeys.map(k => leftOut.indexWhere(_.exprId == k.exprId))
      val rKeyIdx = rightKeys.map(k => rightOut.indexWhere(_.exprId == k.exprId))
      val lTimeIdx = leftOut.indexWhere(_.exprId == leftTime.exprId)
      val rTimeIdx = rightOut.indexWhere(_.exprId == rightTime.exprId)
      val lTimeType = leftTime.dataType
      val rTimeType = rightTime.dataType
      val keyTypesArr = keyTypes.toArray
      val keyOrderings: Array[Ordering[AnyRef]] = keyTypesArr.map(dt =>
        org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
          .asInstanceOf[Ordering[AnyRef]])

      val outputAttrs = output
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        // normalize to UnsafeRow: parents (collect, exchanges) require it
        val toUnsafe = UnsafeProjection.create(outputAttrs, outputAttrs)
        val merged = new Iterator[InternalRow] {
          private val joined = new JoinedRow
          private val nullRight = InternalRow.fromSeq(Seq.fill(numRightFields)(null))
          private val rBuf = rIter.buffered

          private def keyOf(row: InternalRow, idx: Seq[Int]): Array[Any] = {
            val a = new Array[Any](idx.length)
            var i = 0
            while (i < idx.length) { a(i) = row.get(idx(i), keyTypesArr(i)); i += 1 }
            a
          }
          private def cmpKeys(a: Array[Any], b: Array[Any]): Int = {
            var i = 0
            while (i < a.length) {
              val c = keyOrderings(i).compare(a(i).asInstanceOf[AnyRef], b(i).asInstanceOf[AnyRef])
              if (c != 0) return c
              i += 1
            }
            0
          }
          private def timeOf(row: InternalRow, idx: Int, dt: org.apache.spark.sql.types.DataType): Long =
            dt match {
              case LongType | TimestampType | org.apache.spark.sql.types.TimestampNTZType => row.getLong(idx)
              case DateType => row.getInt(idx).toLong
              case org.apache.spark.sql.types.IntegerType => row.getInt(idx).toLong
              case other => throw new IllegalArgumentException(s"unsupported as-of time type $other")
            }

          // last right row whose (key, time) qualifies for the current left key
          private var matchKey: Array[Any] = _
          private var matchRow: InternalRow = _

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val lk = keyOf(l, lKeyIdx)
            val lNullKey = lk.exists(_ == null)
            val lTimeNull = l.isNullAt(lTimeIdx)
            if (lNullKey || lTimeNull) return joined(l, nullRight)
            val lt = timeOf(l, lTimeIdx, lTimeType)

            // drop the remembered match if the key moved past it
            if (matchKey != null && cmpKeys(matchKey, lk) != 0) { matchKey = null; matchRow = null }

            // advance right while its (key, time) still qualifies for this left row
            var advancing = true
            while (advancing && rBuf.hasNext) {
              val r = rBuf.head
              val rk = keyOf(r, rKeyIdx)
              val rNull = rk.exists(_ == null) || r.isNullAt(rTimeIdx)
              if (rNull) { rBuf.next() } // unmatched garbage, skip
              else {
                val kc = cmpKeys(rk, lk)
                if (kc < 0) { rBuf.next() } // behind current key, discard
                else if (kc > 0) advancing = false // ahead: stop
                else {
                  val rt = timeOf(r, rTimeIdx, rTimeType)
                  val ok = if (strictLocal) rt < lt else rt <= lt
                  if (ok) { matchKey = rk; matchRow = r.copy(); rBuf.next() }
                  else advancing = false
                }
              }
            }
            if (matchRow != null && cmpKeys(matchKey, lk) == 0) joined(l, matchRow)
            else joined(l, nullRight)
          }
        }
        merged.map(toUnsafe)
      }
    }

    override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsOfJoinExec =
      copy(left = l, right = r)
  }

  @volatile private var registered = false

  /** Inject the planner strategy once per JVM (public experimental hook —
    * no session rebuild needed; SparkSessionExtensions would be the
    * packaged-library form).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(PushFilterThroughAsOfJoin)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushFilterThroughAsOfJoin
    }
  }

  /** Public API: as-of join two DataFrames on equal keys + time ordering.
    * Right columns are renamed with `rightPrefix` (also making self-joins
    * unambiguous — fresh attribute ids via the rename projection).
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: Seq[String], timeCol: String,
      rightPrefix: String = "r_", strict: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val renamed = right.toDF(right.columns.map(rightPrefix + _).toIndexedSeq: _*)
    val lPlan = GraftSparkInterop.analyzed(left)
    val rPlan = GraftSparkInterop.analyzed(renamed)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${plan.output.map(_.name)}"))
    val lKeys = on.map(attr(lPlan, _))
    val rKeys = on.map(n => attr(rPlan, rightPrefix + n))
    val lTime = attr(lPlan, timeCol)
    val rTime = attr(rPlan, rightPrefix + timeCol)
    // the exec reads right values with the LEFT side's types (shared key
    // ordering / time comparison), so mismatched types would silently
    // compare garbage — reject them here instead
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"as-of join key type mismatch: ${l.name}:${l.dataType.catalogString} vs ${r.name}:${r.dataType.catalogString}")
    }
    require(lTime.dataType == rTime.dataType,
      s"as-of join time type mismatch: ${lTime.dataType.catalogString} vs ${rTime.dataType.catalogString}")
    val node = AsOfJoin(lPlan, rPlan, lKeys, rKeys, lTime, rTime, strict)
    GraftSparkInterop.ofRows(spark, node)
  }
}
