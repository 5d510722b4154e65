package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst AGGREGATE — the per-group bounded top-k the built-in
  * API cannot express efficiently. The idiomatic alternative is a window
  * (`row_number` over value DESC, filter ≤ k), which SORTS every group's
  * full row set; this aggregate keeps a k-element ordered buffer per
  * group instead, so the map side reduces each partition's contribution
  * to ≤ k rows BEFORE the shuffle (classic partial aggregation) and the
  * reducer merges k-lists. At 100 TB with millions of rows per group and
  * k = 3, that is the difference between shuffling the fact table and
  * shuffling |groups|·k rows. Planned as ObjectHashAggregate
  * (partial + final), pinned in NativeAggSpec.
  *
  * Determinism contract: order by (value DESC, id ASC); (value, id) pairs
  * are unique whenever id is unique, so the result replays exactly in
  * the DuckDB window-based oracle. NOTE the SET semantics this implies:
  * if the same (value, id) pair appears on multiple input rows, the
  * buffer keeps ONE entry while a `row_number` window would rank each
  * occurrence — callers feeding duplicated ids get top-k over the
  * distinct pairs, not the row multiset. Enforced nowhere; documented
  * here and at the registration site.
  */
case class TopKPairsAgg(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]] {

  require(k > 0 && k <= 1024, s"graft_topk_pairs: k must be in (0, 1024], got $k")

  // Analysis-time contract: (DOUBLE value, BIGINT id). Mis-typed columns
  // fail the analyzer with a named message instead of an executor-side
  // ClassCastException mid-job. (ExpectsInputTypes would be the idiomatic
  // spelling, but AbstractDataType is private[sql] in Spark 4.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (valueExpr.dataType == DoubleType && idExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk_pairs expects (value DOUBLE, id BIGINT, k INT); got " +
        s"(${valueExpr.dataType.sql}, ${idExpr.dataType.sql}) — cast the inputs explicitly")
  }

  // best-first: highest value, then lowest id
  private def ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](ord)

  override def update(buf: java.util.TreeSet[(Double, Long)],
                      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      buf.add((v.asInstanceOf[Double], id.asInstanceOf[Long]))
      while (buf.size > k) buf.pollLast()
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[(Double, Long)],
                     b2: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = b2.iterator()
    while (it.hasNext) {
      b1.add(it.next())
      while (b1.size > k) b1.pollLast()
    }
    b1
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (v, id) = it.next()
      out(i) = new GenericInternalRow(Array[Any](v, id))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val (v, id) = it.next()
      out.writeDouble(v)
      out.writeLong(id)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val in = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = in.getInt
    var i = 0
    while (i < n) {
      buf.add((in.getDouble, in.getLong))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", DoubleType), StructField("id", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "graft_topk_pairs"
}

/** Bounded exact-distinct — the cardinality GUARD aggregate. The built-in
  * `count(DISTINCT x)` answers "how many" by materializing every distinct
  * value through an Expand + second aggregate: per-group state is
  * unbounded, which is exactly the failure mode when a group explodes at
  * 100 TB. This aggregate answers the question guards actually ask —
  * "is the cardinality still under k, and what is it if so" — with
  * per-group state HARD-CAPPED at k+1 longs: the map side saturates,
  * clears its set, and from then on contributes a constant-size buffer.
  * Output: struct(n_distinct = min(distinct, k), saturated = distinct > k)
  * — both EXACT (saturation loses the count, never the verdict), so the
  * DuckDB oracle (`least(count(DISTINCT x), k)`, `> k`) hash-checks it.
  * Nulls are ignored, like the built-in distinct count. Planned as
  * ObjectHashAggregate partial+final (NativeAggSpec pins it).
  */
case class BoundedDistinctAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedDistinctAgg.Buf] {
  import BoundedDistinctAgg.Buf

  require(k > 0 && k <= (1 << 20), s"graft_distinct_cap: k must be in (0, 2^20], got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_distinct_cap expects (x BIGINT, k INT); got ${child.dataType.sql} — " +
        "cast the input explicitly")
  }

  override def createAggregationBuffer(): Buf = new Buf(new java.util.HashSet[Long](), false)

  private def saturate(b: Buf): Unit = { b.saturated = true; b.seen.clear() }

  override def update(b: Buf, input: InternalRow): Buf = {
    if (!b.saturated) {
      val v = child.eval(input)
      if (v != null) {
        b.seen.add(v.asInstanceOf[Long])
        if (b.seen.size > k) saturate(b)
      }
    }
    b
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    if (b1.saturated || b2.saturated) saturate(b1)
    else {
      b1.seen.addAll(b2.seen)
      if (b1.seen.size > k) saturate(b1)
    }
    b1
  }

  override def eval(b: Buf): Any =
    new GenericInternalRow(Array[Any](
      if (b.saturated) k.toLong else b.seen.size.toLong, b.saturated))

  override def serialize(b: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(b.saturated)
    out.writeInt(if (b.saturated) 0 else b.seen.size)
    if (!b.saturated) { val it = b.seen.iterator(); while (it.hasNext) out.writeLong(it.next()) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = ByteBuffer.wrap(bytes)
    val saturated = in.get() != 0
    val n = in.getInt
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < n) { seen.add(in.getLong); i += 1 }
    new Buf(seen, saturated)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_distinct", LongType, nullable = false),
    StructField("saturated", BooleanType, nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedDistinctAgg =
    copy(child = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "graft_distinct_cap"
}

object BoundedDistinctAgg {
  /** Mutable pair: the (≤ k+1)-element set while exact, or the saturated
    * flag alone once the cap is crossed (the set is cleared — constant
    * state from then on).
    */
  final class Buf(val seen: java.util.HashSet[Long], var saturated: Boolean)
}

object NativeAgg {

  /** (name, builder) pairs, installed by [[graft.GraftSession.install]]
    * and [[graft.GraftExtensions]], like NativeText/NativeVector.
    */
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // Set semantics: duplicate (value, id) pairs collapse to one entry —
    // see the multiset caveat in the TopKPairsAgg Scaladoc.
    "graft_topk_pairs" -> (exprs => {
      if (exprs.length != 3) throw new IllegalArgumentException(
        s"graft_topk_pairs(value DOUBLE, id BIGINT, k INT) takes exactly 3 " +
          s"arguments, got ${exprs.length}")
      val k = exprs(2) match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) if v.isValidInt => v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_topk_pairs: k must be an integer literal, got $other")
      }
      TopKPairsAgg(exprs(0), exprs(1), k).toAggregateExpression()
    }),
    "graft_distinct_cap" -> (exprs => {
      if (exprs.length != 2) throw new IllegalArgumentException(
        s"graft_distinct_cap(x BIGINT, k INT) takes exactly 2 arguments, " +
          s"got ${exprs.length}")
      val k = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) if v.isValidInt => v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_distinct_cap: k must be an integer literal, got $other")
      }
      BoundedDistinctAgg(exprs(0), k).toAggregateExpression()
    })
  )
}
