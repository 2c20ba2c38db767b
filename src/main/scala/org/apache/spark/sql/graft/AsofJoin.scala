/** Whole-operator as-of join: logical node + planner strategy + sort-merge
  * physical exec. Lives under `org.apache.spark.sql` for access to the
  * `private[sql]` planner surface (`Dataset.ofRows`, execution internals) —
  * the same bridge arrangement every out-of-tree Spark operator library uses.
  *
  * Why a physical operator when [[graft.operators.Temporal.asofJoin]] already
  * answers backward as-of with one shuffle: the union+window encoding cannot
  * express a match TOLERANCE (how stale may the matched row be) or the
  * FORWARD direction (nearest right row at-or-after the left time) without a
  * second pass re-deriving the matched timestamp, and it pays window-function
  * machinery (frame evaluation, `last(ignoreNulls)` per payload column) for
  * what is structurally a single merge scan.
  *
  * Why not Catalyst's own `AsOfJoin` node: Spark 4 ships a logical
  * `AsOfJoin` (surfaced only through pandas-on-Spark `merge_asof`, no
  * Scala DataFrame API) whose `RewriteAsOfJoin` lowers it to a RANGE
  * inner join + per-left-row `min_by` aggregate — the intermediate is
  * every (left, candidate-right) pair inside the tolerance window, then a
  * full re-shuffle to aggregate it away; with an unbounded tolerance and
  * a long history per key that intermediate is |left| × |history|. This
  * exec is the plan a column-store would pick instead: exchange both
  * sides on the key, sort by (key, time), then one forward-only merge per
  * partition holding exactly ONE buffered right row — no pair blowup, no
  * window state, and the 100 TB cost is identical to a sort-merge join of
  * the two tables.
  *
  * Reference behavior being generalized: megalista's "latest state as of"
  * lookups are anti-join + max-timestamp shapes over the `_uploaded` control
  * table (`data_sources/big_query/big_query_data_source.py:89-100`); this
  * operator is that semantics as a first-class relational node.
  */
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Logical as-of join. `left`/`right` outputs must carry disjoint attribute
  * ids (alias one side of a self-join first); time expressions must be
  * `LongType` (project timestamps to epoch micros first — keeps the operator
  * unit-agnostic and the tolerance arithmetic exact).
  *
  * Semantics: LEFT OUTER. For every left row, the single right row with equal
  * keys and — backward: the LARGEST rightTime <= leftTime with
  * leftTime - rightTime <= toleranceUs; forward: the SMALLEST
  * rightTime >= leftTime with rightTime - leftTime <= toleranceUs.
  * `toleranceUs < 0` means unbounded. Null keys and null times never match.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Long,
    forward: Boolean) extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs at least one equi-key and equally many on both sides")
  // no implicit coercion: this node bypasses the analyzer's join type
  // coercion, and mismatched key types would hash AND sort differently per
  // side — silently empty output. Cast explicitly before joining.
  leftKeys.zip(rightKeys).zipWithIndex.foreach { case ((lk, rk), i) =>
    require(lk.dataType == rk.dataType,
      s"as-of key $i type mismatch: ${lk.dataType} vs ${rk.dataType} — cast the columns to a common type first")
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]. Injected by
  * `graft.GraftExtensions`; [[AsofJoinDF]] also registers it on
  * `spark.experimental.extraStrategies` so the operator works in sessions
  * built without the extension wiring.
  */
object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, tol, fwd) =>
      AsofJoinExec(lk, rk, lt, rt, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join exec.
  *
  * Plan shape: `requiredChildDistribution` clusters both sides on the keys
  * (EnsureRequirements inserts co-partitioned exchanges exactly as for a
  * shuffled equi-join; note AQE partition COALESCING applies to these
  * exchanges but skew SPLITTING does not — OptimizeSkewedJoin matches only
  * the stock join execs, and splitting a key's partition would break the
  * single-buffered-row merge, so one pathological key runs as one task —
  * pre-aggregate the right side per (key, time) and salt-split upstream if
  * a key's LEFT side is that hot) and `requiredChildOrdering` sorts each
  * partition by (keys, time).
  * `doExecute` then merges each co-partition pair in ONE forward pass:
  * - backward: right rows with (key, time) <= the current left row are
  *   consumed eagerly, the latest key-equal one kept in a single buffered
  *   copy; the match test is a key compare + tolerance check against that
  *   buffer. O(1) state per partition regardless of key cardinality or skew.
  * - forward: the right cursor parks at the first row with
  *   (key, time) >= the current left row — nothing is buffered at all, and
  *   one right row can serve many left rows (it is not consumed by a match).
  * Left row order is preserved, so `outputOrdering` re-exposes the sorted
  * (keys, time) order for downstream reuse.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    toleranceUs: Long,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    "as-of time expressions must be LongType (project to epoch micros first)")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def ordering(keys: Seq[Expression], time: Expression): Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) :+ SortOrder(time, Ascending)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(ordering(leftKeys, leftTime), ordering(rightKeys, rightTime))

  override def outputOrdering: Seq[SortOrder] = ordering(leftKeys, leftTime)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val tol = toleranceUs
    val fwd = forward
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      // codegen'd ordering over the projected key schema (falls back to
      // interpreted via CodeGeneratorWithInterpretedFallback)
      val keyAttrs = lKeyExprs.zipWithIndex.map { case (e, i) =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(s"k$i", e.dataType, e.nullable)()
      }
      val keyOrd = RowOrdering.create(
        keyAttrs.map(SortOrder(_, Ascending)), keyAttrs)
      val lTimeB = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeB = BindReferences.bindReference(rTimeExpr, rOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)

      // Overflow-safe "gap within tolerance" over arbitrary longs: hi >= lo
      // always holds at the call sites, so a wrapped (negative) difference
      // means the true gap exceeds Long.MaxValue > any tolerance.
      def withinTol(hi: Long, lo: Long): Boolean =
        tol < 0L || { val gap = hi - lo; gap >= 0L && gap <= tol }

      new Iterator[InternalRow] {
        // lookahead right row; sorter iterators reuse their row object, so
        // rHead is only valid until the next rIt.next() — by then it has
        // been either discarded or handed off to the match buffer. Its key
        // is projected ONCE at pull time (rHeadKey, an owned copy) so the
        // per-left-row compares don't re-project a parked row.
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTime = 0L
        // backward mode: the latest key-equal right row seen so far
        private var mKey: UnsafeRow = _
        private var mRow: InternalRow = _
        private var mTime = 0L

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          val lt = lTimeB.eval(l)
          var matched: InternalRow = null
          if (lt != null) {
            val ltime = lt.asInstanceOf[Long]
            val lk = lKeyProj(l)
            if (!lk.anyNull) {
              // advance the right cursor to this left row's (key, time)
              var advance = true
              while (advance) {
                if (rHead == null) {
                  var ok = false
                  while (!ok && rIt.hasNext) {
                    val r = rIt.next()
                    val rt = rTimeB.eval(r)
                    // null right key/time rows can never match — drop here
                    if (rt != null) {
                      val rk = rKeyProj(r)
                      if (!rk.anyNull) {
                        rHead = r; rHeadKey = rk.copy()
                        rHeadTime = rt.asInstanceOf[Long]; ok = true
                      }
                    }
                  }
                  if (!ok) advance = false
                }
                if (rHead != null) {
                  val cmp = keyOrd.compare(rHeadKey, lk)
                  if (cmp < 0) rHead = null // key exhausted on the right
                  else if (cmp == 0 &&
                      (if (fwd) rHeadTime < ltime else rHeadTime <= ltime)) {
                    if (!fwd) {
                      // hand off to the best-so-far backward buffer (the key
                      // copy transfers; only the row bytes need copying out
                      // of the sorter's reused object)
                      mKey = rHeadKey
                      mRow = rHead.copy()
                      mTime = rHeadTime
                    }
                    rHead = null // stale for every later left row too
                  } else advance = false // right cursor is ahead; park it
                }
              }
              if (fwd) {
                if (rHead != null && keyOrd.compare(rHeadKey, lk) == 0 &&
                    withinTol(rHeadTime, ltime)) matched = rHead
              } else {
                if (mRow != null && keyOrd.compare(mKey, lk) == 0 &&
                    withinTol(ltime, mTime)) matched = mRow
              }
            }
          }
          numOutputRows += 1
          if (matched != null) {
            numMatched += 1
            resultProj(joined(l, matched))
          } else resultProj(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level constructor for the native as-of join. */
object AsofJoinDF {

  /** As-of join `left` to `right` on `leftKeys(i) == rightKeys(i)` with the
    * backward/forward nearest `rightTs` to `leftTs` within `toleranceUs`
    * (-1 = unbounded). Both time columns must already be LongType (epoch
    * micros by convention). Output = all left columns + all right columns
    * (null-padded where no right row qualifies) — name the right side's
    * columns distinctly if downstream code selects by name.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: String, rightTs: String, toleranceUs: Long = -1L,
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[ClassicSession]
    ensureStrategy(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join sides share attribute ids — alias one side (e.g. df.select(cols.map(c => col(c).as(c)))) first")
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(a => spark.sessionState.conf.resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not found among ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous (${many.size} matches) — alias the side's columns uniquely first")
      }
    val node = AsofJoinPlan(lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), toleranceUs, forward)
    Dataset.ofRows(spark, node)
  }

  /** Idempotently register [[AsofStrategy]] for sessions not built with
    * `spark.sql.extensions=graft.GraftExtensions`.
    */
  def ensureStrategy(spark: ClassicSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsofStrategy) &&
        !spark.sessionState.planner.strategies.contains(AsofStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofStrategy
    }
}
