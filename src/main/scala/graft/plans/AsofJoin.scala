package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** AS-OF JOIN as a first-class operator — the tier-(c) custom-operator
  * path (LogicalPlan + Strategy + SparkPlan, injected via
  * [[graft.GraftExtensions]]): whole-operator semantics Spark's built-ins
  * lack, planned and executed natively.
  *
  * Semantics: each left row matches the SINGLE right row of the same key
  * whose `on` tuple is the greatest one STRICTLY lexicographically below
  * the left row's `on` tuple (no match → nulls, left-outer style). With
  * `on = (ts, id)` this is exactly the "most recent strictly-preceding
  * event, ties broken by id" contract of the composed j2 query — whose
  * DuckDB oracle therefore grades this operator too.
  *
  * Why a physical operator when j2's union+window trick already works:
  * the window formulation materializes the UNION of both streams through
  * one sort and carries last-seen state per row — fine, but it sorts
  * |L|+|R| rows as ONE relation and its output schema contortions (tag
  * columns, struct carry, post-filter) are per-query boilerplate. The
  * operator form declares the join ONCE: each side hash-partitions on
  * its own key and sorts (key, on...) — the standard shuffled-join
  * requirements, so AQE/EnsureRequirements place or elide the exchanges
  * exactly as for a sort-merge join (a pre-bucketed side shuffles ZERO
  * rows) — and the per-partition merge is a single forward walk holding
  * ONE buffered build row (the running best match), not a window buffer:
  * O(|L|+|R|) comparisons, O(1) state, no union materialization. At
  * 100 TB that is sort-merge-join economics applied to temporal
  * point-lookup semantics.
  *
  * Restriction (checked at construction): key and `on` expressions must
  * be long-backed (LongType / TimestampType) — covers keys, event times,
  * and id tiebreaks, and keeps the hot comparison loop primitive (no
  * generic ordering dispatch in the per-row path).
  *
  * NULL semantics (SQL join rules): a NULL key or on-value compares
  * UNKNOWN, so a NULL-keyed LEFT row emits with nulls on the right and a
  * NULL-keyed RIGHT row matches nothing — never the rows whose key is
  * literally 0.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOn: Seq[Expression], rightOn: Seq[Expression],
    forward: Boolean = false) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftOn.length == rightOn.length,
    "asof join: key/on lists must pair up")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lo, ro, fwd) =>
      AsofJoinExec(lk, rk, lo, ro, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** `forward = false` (default): match = greatest same-key right tuple
  * STRICTLY below the left tuple (most recent preceding). `forward =
  * true`: match = least same-key right tuple STRICTLY above (next
  * following — pandas merge_asof's `direction='forward'`). Both are the
  * same monotone walk: consume right rows up to the left tuple
  * (strictly-below for backward, non-strictly for forward); the last
  * consumed same-key row is the backward match, the cursor HEAD is the
  * forward match — consuming ≤-tuples is safe for forward because left
  * tuples only grow, so a consumed right can never be strictly above a
  * later left.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftOn: Seq[Expression], rightOn: Seq[Expression],
    forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  (leftKeys ++ rightKeys ++ leftOn ++ rightOn).foreach { e =>
    require(e.dataType == LongType || e.dataType == TimestampType,
      s"asof join: long-backed key/on expressions only, got ${e.dataType.sql} in $e")
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the standard shuffled-join contract: co-cluster each side on its key,
  // co-sort by (key, on...) — EnsureRequirements inserts or ELIDES the
  // exchanges exactly as for SortMergeJoin
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ leftOn).map(SortOrder(_, Ascending)),
    (rightKeys ++ rightOn).map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyExprs = leftKeys; val rKeyExprs = rightKeys
    val lOnExprs = leftOn; val rOnExprs = rightOn
    val lOut = left.output; val rOut = right.output
    val outAttrs = output
    val rightArity = rOut.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lOnProj = UnsafeProjection.create(lOnExprs, lOut)
      val rOnProj = UnsafeProjection.create(rOnExprs, rOut)
      val nKeys = lKeyExprs.length; val nOn = lOnExprs.length
      val nullRight = new GenericInternalRow(rightArity)
      val joined = new JoinedRow
      // physical-operator contract: emit UnsafeRow (consumers like
      // getByteArrayRdd cast); one reused buffer, standard operator style.
      // Bind against `output` (right side forced nullable), NOT the raw
      // child attributes — codegen elides null checks on non-nullable
      // fields and would read garbage where the unmatched side is null
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)

      // long-vector lexicographic compare (all fields long-backed)
      def cmp(a: UnsafeRow, b: UnsafeRow, n: Int): Int = {
        var i = 0
        while (i < n) {
          val c = java.lang.Long.compare(a.getLong(i), b.getLong(i))
          if (c != 0) return c
          i += 1
        }
        0
      }

      new Iterator[InternalRow] {
        // right cursor: the one row of lookahead...
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadOn: UnsafeRow = _
        // SQL join semantics for NULLs: a NULL key or on-value compares
        // UNKNOWN, so such a row can never match — without this check the
        // long-vector compare would read a NULL slot as 0 and silently
        // match NULL-keyed rows against key 0. Ascending sort puts NULLs
        // first, so the skip loop runs once at partition start.
        private def advanceRight(): Unit = {
          rHead = null; rHeadKey = null; rHeadOn = null
          while (rHead == null && rIter.hasNext) {
            val cand = rIter.next()
            val k = rKeyProj(cand)
            val o = rOnProj(cand)
            if (!k.anyNull && !o.anyNull) {
              rHead = cand
              rHeadKey = k.copy()
              rHeadOn = o.copy()
            }
          }
        }
        advanceRight()
        // ...plus the running best match and the key it belongs to
        private var bestKey: UnsafeRow = _
        private var best: InternalRow = _

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lOnV = lOnProj(lRow)
          // a NULL-keyed left row matches nothing (left-outer nulls out),
          // mirroring the right-side skip above
          if (lKey.anyNull || lOnV.anyNull)
            return outProj(joined(lRow, nullRight))
          // consume right rows up to (lKey, lOn) — strictly below for
          // backward, non-strictly for forward; the last same-key row
          // consumed is the backward match, the head the forward one
          while (rHead != null && {
            val kc = cmp(rHeadKey, lKey, nKeys)
            kc < 0 || (kc == 0 && {
              val oc = cmp(rHeadOn, lOnV, nOn)
              oc < 0 || (forward && oc == 0)
            })
          }) {
            bestKey = rHeadKey
            best = rHead.copy()
            advanceRight()
          }
          val matched =
            if (forward) {
              if (rHead != null && cmp(rHeadKey, lKey, nKeys) == 0) rHead
              else nullRight
            } else {
              if (best != null && cmp(bestKey, lKey, nKeys) == 0) best else nullRight
            }
          outProj(joined(lRow, matched))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing constructor: `AsofJoin(left, right, keys, on)` with column
  * names resolved against each side. Left/right attribute names must be
  * disjoint (alias before joining — also what keeps self-joins sound).
  */
object AsofJoin {
  def apply(leftDf: DataFrame, rightDf: DataFrame,
            keys: Seq[(String, String)], on: Seq[(String, String)],
            forward: Boolean = false): DataFrame = {
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    val overlap = lPlan.output.map(_.name).toSet intersect rPlan.output.map(_.name).toSet
    require(overlap.isEmpty,
      s"asof join: alias overlapping columns first: ${overlap.mkString(", ")}")
    def resolve(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: no column `$n` in [${p.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      AsofJoinPlan(lPlan, rPlan,
        keys.map(k => resolve(lPlan, k._1)), keys.map(k => resolve(rPlan, k._2)),
        on.map(o => resolve(lPlan, o._1)), on.map(o => resolve(rPlan, o._2)),
        forward))
  }
}
