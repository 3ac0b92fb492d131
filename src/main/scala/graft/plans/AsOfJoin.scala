package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Native as-of join — the engine's whole-operator Catalyst extension
  * (custom LogicalPlan → Strategy → SparkPlan; the strategy is listed in
  * `GraftFunctions.strategies`, which `GraftExtensions` and
  * `GraftFunctions.ensureRegistered` install).
  *
  * Semantics: for every left row, attach the payload of the LAST right row
  * with the same key whose time is <= the left row's time (ASOF LEFT JOIN;
  * null payload when no such row). The composed window form
  * (`join_asof`, TemporalQueries.scala:24) can only carry the time itself
  * through its running max; this operator carries arbitrary payload
  * columns, and is the shape Spark lacks natively.
  *
  * Physical plan: both sides hash-cluster on the key (EnsureRequirements
  * co-partitions — ONE shuffle per side), each partition sorts by
  * (key, time), then a single O(n+m) merge pass per partition walks both
  * sorted streams with an O(1) carry (the last matching payload) — no
  * buffering of whole key groups, no window state. At 100 TB: shuffle is
  * the same volume a sort-merge join would pay; the merge itself is
  * a streaming pass.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightPayload: Seq[Attribute]) extends LogicalPlan with BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKey,
        j.rightKey, j.leftTime, j.rightTime, j.rightPayload) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightPayload: Seq[Attribute]) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  /** Hash-cluster both sides on the key; EnsureRequirements makes the two
    * clusterings compatible (co-partitioned), exactly as for sort-merge
    * joins.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Within each partition both sides arrive sorted by (key, time) — the
    * planner inserts the SortExecs.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val (lk, rk, lt, rt, payload) =
      (leftKey, rightKey, leftTime, rightTime, rightPayload)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lk.dataType))
      val lKeyProj = UnsafeProjection.create(Seq(lk), lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val payloadProj = UnsafeProjection.create(payload, rOut)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullPayload = new GenericInternalRow(payload.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // one-row lookahead into the right stream, plus the O(1) carry:
        // the latest payload seen for the key currently being merged
        private var rHead: InternalRow = _
        private var matchKey: UnsafeRow = _
        private var matchPayload: UnsafeRow = _
        // pull the next right row whose key AND time are both non-null:
        // a null right key can never equal any left key (SQL equi-join
        // semantics — the natural ordering would treat NULL==NULL as a
        // match) and a null right time has no "getLong" value, so both
        // kinds of row are skipped outright
        private def advanceRight(): Unit =
          while (rHead == null && rIter.hasNext) {
            val cand = rIter.next()
            if (!rKeyProj(cand).isNullAt(0) && !rTimeProj(cand).isNullAt(0))
              rHead = cand
          }
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKeyRow = lKeyProj(l)
          val lTimeRow = lTimeProj(l)
          // null left key or time: no right row can match (equality and
          // the <= comparison are both NULL-valued in SQL) — emit the
          // null payload without touching the right stream
          if (lKeyRow.isNullAt(0) || lTimeRow.isNullAt(0))
            return outProj(joined(l, nullPayload))
          val lTimeUs = lTimeRow.getLong(0)
          var done = false
          while (!done) {
            if (rHead == null) advanceRight()
            if (rHead == null) done = true
            else {
              val c = keyOrd.compare(rKeyProj(rHead), lKeyRow)
              if (c < 0) rHead = null // right key already passed by the left
              else if (c > 0) done = true // right stream ahead; keep lookahead
              else if (rTimeProj(rHead).getLong(0) <= lTimeUs) {
                // newest match so far for this key — copy out of the
                // iterator's reused buffers, consume the row
                matchKey = rKeyProj(rHead).copy()
                matchPayload = payloadProj(rHead).copy()
                rHead = null
              } else done = true // right row is in the future; keep it
            }
          }
          val p =
            if (matchKey != null && keyOrd.compare(matchKey, lKeyRow) == 0)
              matchPayload
            else nullPayload
          outProj(joined(l, p))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the custom operator. */
object AsOf {

  /** ASOF LEFT JOIN: every left row gets `payload` columns (suffixed
    * `__r`) from the last right row with equal `key` and `rightTime` <=
    * `leftTime`. Time columns must be long microseconds or timestamps
    * (both compare as longs internally). The right side is internally
    * re-aliased so self-joins (left and right derived from the same scan)
    * can never capture each other's expression ids.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    graft.core.GraftFunctions.ensureStrategies(spark)
    val rAliased = right.select(
      right.columns.toSeq.map(c => col(c).as(c + "__r")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rAliased.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(",")}"))
    GraftInternal.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, key + "__r"),
      attr(lPlan, leftTime), attr(rPlan, rightTime + "__r"),
      payload.map(p => attr(rPlan, p + "__r"))))
  }
}
