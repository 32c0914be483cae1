package graft.plans

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, AttributeSet, BindReferences, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** As-of match direction/variant. All four modes share the same
  * one-merge-pass-per-partition physical shape; only the candidate
  * selection at each left row differs:
  *  - [[AsOfMode.Backward]]  greatest right time ≤ left time (ties match)
  *  - [[AsOfMode.Forward]]   smallest right time ≥ left time (ties match)
  *  - [[AsOfMode.Nearest]]   whichever of backward/forward minimizes
  *    |Δt|, the EARLIER side winning exact distance ties
  *  - tolerance (Backward + `toleranceMicros`): backward, nulled when
  *    the match is staler than the bound
  */
object AsOfMode extends Enumeration {
  val Backward, Forward, Nearest = Value
}

/** Native AS-OF JOIN — the §2.10 *whole-operator* extension path:
  * a custom `LogicalPlan` node, planned by a custom `SparkStrategy`
  * into a custom `SparkPlan`, demonstrating the full
  * plan → strategy → physical-operator pipeline (preference (c) in the
  * build brief, one level below composing built-ins and one above
  * `mapPartitions`).
  *
  * Semantics: for each left row, the value of `rightValue` from the
  * right row with the same key selected by `mode` (see [[AsOfMode]]),
  * or null when no such row exists (or, with `toleranceMicros`, when
  * the backward match is staler than the bound). Identical to the
  * window-composition `join_asof*` operators
  * (operators/Relational.scala), which stay registered as the
  * compose-built-ins twins; each native key hash-matches the same
  * DuckDB correlated-min/max oracle as its twin.
  *
  * Scale shape: `requiredChildDistribution` clusters both sides on the
  * key (with a pinned partition count so the two shuffles stay
  * zip-compatible under AQE) and `requiredChildOrdering` sorts each
  * partition by (key, time) — Catalyst's EnsureRequirements inserts
  * exactly the two hash exchanges + sorts a sort-merge join would get.
  * The merge itself is a single forward pass over both sorted streams
  * per partition — in EVERY mode: forward/nearest peek one row ahead
  * (`BufferedIterator.head`) instead of buffering a side — O(|L|+|R|),
  * no window state — on 1000 executors each task streams its key range.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightValue: Expression, valueAttr: AttributeReference,
    mode: AsOfMode.Value = AsOfMode.Backward,
    toleranceMicros: Option[Long] = None)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ valueAttr
  override def producedAttributes: AttributeSet = AttributeSet(valueAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Physical sort-merge as-of join, all modes. Non-null keys and times
  * are required (the API pre-filters); null right keys/times are
  * skipped defensively, a null left key yields a null value.
  *
  * Nearest/tolerance need Δt arithmetic, not just ordering, so they
  * require a time type whose internal value is integral (timestamp =
  * Long µs, date = Int days, or any integral numeric); backward and
  * forward work for any ordered time type. */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightValue: Expression, valueAttr: Attribute,
    mode: AsOfMode.Value, toleranceMicros: Option[Long],
    left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ valueAttr

  // pin the partition count: both children must hash to the SAME
  // partitioning or zipPartitions would pair unrelated key ranges;
  // the explicit requiredNumPartitions also keeps AQE's partition
  // coalescing from resizing one side independently
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftKey :: Nil,
      requiredNumPartitions = Some(conf.numShufflePartitions)),
    ClusteredDistribution(rightKey :: Nil,
      requiredNumPartitions = Some(conf.numShufflePartitions)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output; val rOut = right.output; val outAttrs = output
    val keyType = leftKey.dataType; val timeType = leftTime.dataType
    val (lkU, ltU) = (leftKey, leftTime)
    val (rkU, rtU, rvU) = (rightKey, rightTime, rightValue)
    val theMode = mode; val tol = toleranceMicros
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(lkU, lOut)
      val lt = BindReferences.bindReference(ltU, lOut)
      val rk = BindReferences.bindReference(rkU, rOut)
      val rt = BindReferences.bindReference(rtU, rOut)
      val rv = BindReferences.bindReference(rvU, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
      // Δt arithmetic (nearest distance, tolerance staleness) on the
      // integral internal representation: Long µs for timestamps, Int
      // days for dates
      def micros(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
        case b: java.lang.Byte => b.toLong
        case other => throw new IllegalArgumentException(
          s"as-of ${theMode}/tolerance needs an integral time, got $other")
      }
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val valRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // sorted rows may reuse their backing buffer between next()
      // calls, so every value carried across an advance is copied
      def copied(v: Any): Any =
        v match { case s: UTF8String => s.copy(); case other => other }
      def headKey(): Any = rk.eval(rBuf.head)
      new Iterator[InternalRow] {
        private var haveKey = false
        private var curKey: Any = null
        private var lastVal: Any = null   // backward candidate value
        private var lastTime: Any = null  // backward candidate time
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lRow = lIter.next()
          val k = lk.eval(lRow)
          if (k == null) { // null key matches nothing
            valRow.update(0, null)
            return proj(joined(lRow, valRow))
          }
          if (!haveKey || keyOrd.compare(k, curKey) != 0) {
            // new left key: skip right rows sorting before it (nulls
            // sort first under Ascending and are drained here too)
            while (rBuf.hasNext && {
              val hk = headKey()
              hk == null || keyOrd.compare(hk, k) < 0
            }) rBuf.next()
            haveKey = true
            curKey = copied(k)
            lastVal = null
            lastTime = null
          }
          val t = lt.eval(lRow)
          // consume right rows strictly before the left time in
          // Forward mode (an equal-time right row must stay visible as
          // the forward head), at-or-before it otherwise (an
          // equal-time right row IS the backward match)
          val keepTies = theMode == AsOfMode.Forward
          while (rBuf.hasNext && {
            val hk = headKey()
            hk != null && keyOrd.compare(hk, k) == 0 && {
              val ht = rt.eval(rBuf.head)
              ht != null && {
                val c = timeOrd.compare(ht, t)
                if (keepTies) c < 0 else c <= 0
              }
            }
          }) {
            val row = rBuf.next()
            lastVal = copied(rv.eval(row))
            lastTime = copied(rt.eval(row))
          }
          // forward candidate = the (unconsumed) head, if same key;
          // null right times were never consumed above, so guard again
          def forwardRow(): Option[InternalRow] =
            if (rBuf.hasNext && {
              val hk = headKey()
              hk != null && keyOrd.compare(hk, k) == 0 &&
                rt.eval(rBuf.head) != null
            }) Some(rBuf.head) else None
          val answer: Any = theMode match {
            case AsOfMode.Backward =>
              tol match {
                case Some(bound) =>
                  if (lastTime != null &&
                    micros(t) - micros(lastTime) <= bound) lastVal
                  else null
                case None => lastVal
              }
            case AsOfMode.Forward =>
              forwardRow().map(r => copied(rv.eval(r))).orNull
            case AsOfMode.Nearest =>
              forwardRow() match {
                case None => lastVal
                case Some(r) =>
                  val nextT = micros(rt.eval(r))
                  if (lastTime == null) copied(rv.eval(r))
                  // earlier side wins exact-distance ties: ≤ keeps prev
                  else if (micros(t) - micros(lastTime) <= nextT - micros(t))
                    lastVal
                  else copied(rv.eval(r))
              }
          }
          valRow.update(0, answer)
          proj(joined(lRow, valRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] into [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, rv, attr, mode, tolMicros) =>
      AsOfJoinExec(lk, rk, lt, rt, rv, attr, mode, tolMicros,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOfJoinPlans {

  /** As-of join by column NAME (columns must exist on the respective
    * side; rows with null key/time on either side never match and are
    * pre-filtered from the right). */
  def asofJoin(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightValue: String, outName: String,
      mode: AsOfMode.Value = AsOfMode.Backward,
      toleranceMicros: Option[Long] = None): DataFrame = {
    val spark = leftDf.sparkSession
    graft.functions.GraftExtensions.install(spark)
    val l = leftDf.queryExecution.analyzed
    val r = rightDf.filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .queryExecution.analyzed
    def resolve(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${p.output}"))
    val rValue = resolve(r, rightValue)
    val attr = AttributeReference(outName, rValue.dataType, nullable = true)()
    GraftSqlBridge.ofRows(spark, AsOfJoin(l, r,
      resolve(l, leftKey), resolve(r, rightKey),
      resolve(l, leftTime), resolve(r, rightTime), rValue, attr,
      mode, toleranceMicros))
  }

  /** A native as-of key: each purchase with the click ts matched in
    * `mode` (and `toleranceMicros`) as column `out`, by event_id —
    * same query and oracle as its window-composition twin in
    * operators/Relational.scala. */
  private def nativeAsof(out: String, mode: AsOfMode.Value = AsOfMode.Backward,
      toleranceMicros: Option[Long] = None): QFn = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
    asofJoin(purchases, clicks, "user_id", "c_uid", "ts", "c_ts", "c_ts", out,
      mode, toleranceMicros)
      .select("event_id", "user_id", "ts", out)
      .orderBy("event_id")
  }

  /** `join_asof_native`: latest click at-or-before each purchase. */
  val joinAsofNative: QFn = nativeAsof("last_click_ts")
  /** `join_asof_forward_native`: next click at-or-after each purchase. */
  val joinAsofForwardNative: QFn = nativeAsof("next_click_ts", AsOfMode.Forward)
  /** `join_asof_nearest_native`: click minimizing |Δt|, earlier side
    * winning ties. */
  val joinAsofNearestNative: QFn = nativeAsof("near_click_ts", AsOfMode.Nearest)
  /** `join_asof_tolerance_native`: backward match nulled when staler
    * than 1 hour. */
  val joinAsofToleranceNative: QFn =
    nativeAsof("last_click_1h", toleranceMicros = Some(3600L * 1000000L))

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("join_asof_native", joinAsofNative, shuffles = 3,
      graft.operators.Relational.asofBackwardSql),
    KeySpec.batch("join_asof_forward_native", joinAsofForwardNative, shuffles = 3,
      graft.operators.Relational.asofForwardSql),
    KeySpec.batch("join_asof_nearest_native", joinAsofNearestNative, shuffles = 3,
      graft.operators.Relational.asofNearestSql),
    KeySpec.batch("join_asof_tolerance_native", joinAsofToleranceNative, shuffles = 3,
      graft.operators.Relational.asofToleranceSql))
}
