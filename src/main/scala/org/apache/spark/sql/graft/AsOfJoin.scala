// Hosted inside the org.apache.spark.sql package scope: a whole-operator
// extension needs private[sql] surface (Dataset.ofRows, execution
// internals) — the standard shape for a Spark extension library.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN — the canonical "operator Spark lacks" (SURVEY §7 preference
  * ladder, rung (c): custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`,
  * registered through `SparkSessionExtensions`).
  *
  * Semantics (left-outer as-of): for every left row, attach the single
  * right row with the same key and the GREATEST right timestamp ≤ the
  * left timestamp; null-extended when no such row exists. Identical to
  * DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND l.ts >= r.ts`, which is
  * the correctness oracle.
  *
  * Why a physical operator instead of the built-in composition
  * (`join(key && r.ts <= l.ts)` + window max): the composed plan
  * materializes EVERY (left, right-before-it) pair before ranking —
  * O(n·m) per key — while this operator makes one merge pass over the
  * two key-sorted streams, O(n+m) per key with O(1) state. At 100 TB the
  * composition is not runnable on skewed keys; the merge is.
  *
  * Execution contract: both children hash-clustered on the key and
  * sorted by (key, ts) — declared via requiredChildDistribution/Ordering
  * so EnsureRequirements inserts exactly the exchanges/sorts needed (and
  * elides them when the child is already partitioned, e.g. bucketed
  * tables).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Right rows that tie on (key, ts) would otherwise be retained in
    * whichever order the (non-total) sort emitted them — nondeterministic
    * across runs. Appending every remaining orderable right column makes the
    * right-side sort total, so the retained match (the LAST among ties, i.e.
    * the greatest under this ordering) is stable run-to-run. */
  private def rightTieBreak: Seq[SortOrder] =
    right.output
      .filterNot(a => a.semanticEquals(rightKey) || a.semanticEquals(rightTs))
      .filter(a => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(a.dataType))
      .map(a =>
        SortOrder(a, org.apache.spark.sql.catalyst.expressions.Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTs, org.apache.spark.sql.catalyst.expressions.Ascending)) ++
      rightTieBreak)

  override def outputOrdering: Seq[SortOrder] = Seq(
    SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
    SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference
    val lKeyBound = bindReference(leftKey, left.output)
    val rKeyBound = bindReference(rightKey, right.output)
    val lTsBound = bindReference(leftTs, left.output)
    val rTsBound = bindReference(rightTs, right.output)
    val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftKey.dataType)
    val tsOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftTs.dataType)
    val rightSchema = right.output
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(rightSchema.length)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)

      // single merge pass: both streams sorted by (key, ts). For the
      // current left row, advance the right stream while its (key, ts)
      // is ≤ (left key, left ts), remembering the last right row whose
      // key matches — that row IS the as-of match.
      val rBuf = rIter.buffered
      var lastKeyVal: Any = null
      var lastRow: InternalRow = null

      lIter.map { lRow =>
        val lKey = lKeyBound.eval(lRow)
        val lTs = lTsBound.eval(lRow)
        // SQL join-key null semantics: a null never equals anything, so a
        // left row with null key or ts is null-extended without touching
        // the right stream (the interpreted orderings would NPE on null).
        if (lKey == null || lTs == null) {
          outProj(joined(lRow, nullRight))
        } else {
          // drop remembered state from a previous (smaller) key
          if (lastKeyVal != null && !keyOrd.equiv(lastKeyVal, lKey)) {
            lastKeyVal = null; lastRow = null
          }
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rKey = rKeyBound.eval(rBuf.head)
            val rTsPeek = rTsBound.eval(rBuf.head)
            if (rKey == null || rTsPeek == null) {
              // null-keyed right rows can match no left row: skip. The sort
              // emits nulls first, so these drain before any comparisons.
              rBuf.next()
            } else {
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) { rBuf.next() } // right key behind: skip
              else if (cmp > 0) { advancing = false } // right key ahead: stop
              else {
                if (tsOrd.lteq(rTsPeek, lTs)) {
                  // copy: iterator rows reuse their buffers; re-eval the key
                  // from the copy so it doesn't alias the consumed row
                  lastRow = rBuf.next().copy()
                  lastKeyVal = rKeyBound.eval(lastRow)
                } else advancing = false
              }
            }
          }
          val matched = lastKeyVal != null && keyOrd.equiv(lastKeyVal, lKey)
          outProj(joined(lRow, if (matched) lastRow else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoin logical node → AsOfJoinExec. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

object AsOfJoinApi {
  /** Left-outer as-of join: for each left row, the matching right row with
    * the greatest `rightTs` ≤ `leftTs` on the same key. Columns are named
    * (resolved against each side's analyzed output). Registers the
    * planner strategy on first use (idempotent). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lPlan = left.queryExecution.analyzed
    val rPlanRaw = right.queryExecution.analyzed
    // Self-join dedup (what DeduplicateRelations does for Join): if both
    // sides derive from the same base plan, their outputs share exprIds and
    // BindReferences would resolve right-side columns to LEFT ordinals,
    // silently returning wrong values. Re-alias every right column with a
    // fresh exprId whenever any overlap exists.
    val rPlan: LogicalPlan =
      if (rPlanRaw.output.exists(a => lPlan.outputSet.contains(a))) {
        import org.apache.spark.sql.catalyst.expressions.Alias
        org.apache.spark.sql.catalyst.plans.logical.Project(
          rPlanRaw.output.map(a => Alias(a, a.name)()), rPlanRaw)
      } else rPlanRaw
    def attr(name: String, plan: LogicalPlan): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val (lk, rk) = (attr(leftKey, lPlan), attr(rightKey, rPlan))
    val (lt, rt) = (attr(leftTs, lPlan), attr(rightTs, rPlan))
    // the merge-scan exec compares right values with orderings built from
    // the LEFT side's types — a type mismatch would surface as an
    // executor-side ClassCastException AFTER the shuffle ran; fail at
    // call time with the actual problem instead (no implicit coercion:
    // an as-of join across types is a caller bug, not a cast)
    require(lk.dataType == rk.dataType,
      s"as-of join key types differ: $leftKey is ${lk.dataType.sql}, " +
        s"$rightKey is ${rk.dataType.sql} — cast one side first")
    require(lt.dataType == rt.dataType,
      s"as-of join time types differ: $leftTs is ${lt.dataType.sql}, " +
        s"$rightTs is ${rt.dataType.sql} — cast one side first")
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AsOfJoin(lPlan, rPlan, lk, rk, lt, rt))
  }
}
