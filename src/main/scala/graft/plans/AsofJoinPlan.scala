package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join as a FIRST-CLASS operator — the deepest tier of the
  * custom-operator ladder: a library-defined [[LogicalPlan]] node, a
  * planner [[SparkStrategy]], and a physical [[SparkPlan]] that executes
  * the join as ONE streaming merge over co-partitioned, co-sorted
  * children.
  *
  * Why a physical operator when the union-window formulation
  * ([[graft.ops.TableJoins.asofJoin]]) already avoids the pair blow-up:
  * the window shape still materializes a unioned row layout (left
  * columns null-padded onto right rows and vice versa), sorts the
  * UNION, and runs a WindowExec with running-`last` state per row. The
  * merge exec sorts each side separately (narrower rows), keeps exactly
  * ONE buffered right row of state, and emits left rows in a single
  * forward pass — the textbook merge-join memory profile (O(1) state
  * beyond the sorts, no union row widening, no window frame machinery).
  *
  * Semantics are identical to `asofJoin` (law-tested): most recent
  * right row with `rts <= lts` (strict: `<`) per key, same-timestamp
  * right duplicates resolved to the greatest payload tuple — here by
  * REQUIRING the right child sorted on (keys, ts, payload…): the last
  * row the merge retains at any eligible timestamp IS the payload
  * maximum. Tolerance nulls out stale matches. Backward direction.
  *
  * Null keys follow SQL equi-join semantics: a key with any null
  * component never matches (null-keyed right rows are consumed but
  * never retained; null-keyed left rows emit null payloads) — the same
  * contract as `asofJoin`, diverging from a naive natural-ordering
  * merge where NULL == NULL would pair null-keyed rows.
  */
case class AsofJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute],
    strict: Boolean, toleranceMicros: Option[Long])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: [[AsofJoinPlan]] → [[AsofJoinExec]], registered at
  * session build by [[graft.GraftExtensions]] (`injectPlannerStrategy`). */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      AsofJoinExec(planLater(p.left), planLater(p.right),
        p.leftKeys, p.rightKeys, p.leftTs, p.rightTs, p.payload,
        p.output.drop(p.left.output.length),
        p.strict, p.toleranceMicros) :: Nil
    case _ => Nil
  }
}

/** Physical single-pass merge as-of join.
  *
  * Children are required hash-clustered on the keys (EnsureRequirements
  * inserts the exchanges and co-partitions them, exactly as for a
  * shuffled join) and sorted: left by (keys, ts), right by
  * (keys, ts, payload…) — the payload suffix makes the retained "last
  * right row at an eligible timestamp" the deterministic struct-max.
  * Per partition the merge advances a single buffered right cursor:
  * state is ONE copied key + timestamp + payload row, regardless of
  * key cardinality or skew. Timestamps read as their internal long
  * micros (no conversion).
  */
case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    strict: Boolean, toleranceMicros: Option[Long])
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTs +: payload)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val isStrict = strict
    val tol = toleranceMicros
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTsB = leftTs
    val rTsB = rightTs
    val payloadB = payload
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyGen = UnsafeProjection.create(lKeysB, lOut)
      val rKeyGen = UnsafeProjection.create(rKeysB, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(
        lKeysB.map(_.dataType))
      val lTsGen = UnsafeProjection.create(Seq(lTsB: Expression), lOut)
      val rTsGen = UnsafeProjection.create(Seq(rTsB: Expression), rOut)
      val pGen = UnsafeProjection.create(payloadB.map(e => e: Expression), rOut)
      val resultProj = UnsafeProjection.create(
        outAttrs.map(e => e: Expression), outAttrs)
      val nullPayload = new GenericInternalRow(payloadB.length)
      val joined = new JoinedRow
      val bufR = rIt.buffered
      // O(1) merge state: the most recently PASSED right row
      var haveLast = false
      var lastKey: UnsafeRow = null
      var lastTs = 0L
      var lastPayload: UnsafeRow = null
      lIt.map { lRow =>
        val lKey = lKeyGen(lRow)
        val lTs = lTsGen(lRow).getLong(0)
        var advance = true
        while (advance && bufR.hasNext) {
          val head = bufR.head
          val c = keyOrd.compare(rKeyGen(head), lKey)
          val eligible = c < 0 || (c == 0 && {
            val rTs = rTsGen(head).getLong(0)
            rTs < lTs || (!isStrict && rTs == lTs)
          })
          if (eligible) {
            val r = bufR.next()
            val rKey = rKeyGen(r)
            // SQL equi-join semantics: a null (any component) key never
            // matches — consume but never retain null-keyed right rows
            if (!rKey.anyNull) {
              lastKey = rKey.copy()
              lastTs = rTsGen(r).getLong(0)
              lastPayload = pGen(r).copy()
              haveLast = true
            }
          } else advance = false
        }
        val matched = haveLast && !lKey.anyNull &&
          keyOrd.compare(lastKey, lKey) == 0 &&
          tol.forall(t => lTs - lastTs <= t)
        resultProj(joined(lRow, if (matched) lastPayload else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
