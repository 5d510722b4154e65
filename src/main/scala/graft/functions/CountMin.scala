package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Count-min sketch: the fixed-size frequency summary for heavy-hitter
  * estimation over keys too numerous to count exactly. The sketch is a
  * d×w grid of counters; every key increments one counter per row (d
  * independent hashes) and a point query takes the MIN across rows —
  * always an OVERESTIMATE (one-sided error), off by more than εN =
  * 2N/w with probability ≤ 2^−d.
  *
  * Why a custom TypedImperativeAggregate and not `groupBy(key).count()`:
  * the exact rollup shuffles |distinct keys| rows and its state grows
  * with the key space; the sketch's state is CONSTANT (d·w longs, ~160 KB
  * at the registered 5×4096) no matter whether the input has 10³ or 10¹²
  * distinct keys. The map side reduces each partition to one grid before
  * the shuffle (classic partial aggregation — grids merge by element-wise
  * ADD, a pure counter property), so at 100 TB the shuffle moves
  * |partitions| grids, not the key space. Same deployment shape as the
  * HLL/KMV legs: per-day partial sketches persist and merge.
  *
  * Determinism contract: the d hash functions are fixed (splitmix64 with
  * per-row seeds — public-domain constants from Steele et al.,
  * "Fast Splittable Pseudorandom Number Generators", OOPSLA'14), so the
  * grid, and every lookup, is a pure function of the input multiset and
  * replays bit-identically across runs, engines, and partitionings.
  */
object CountMin {

  /** splitmix64 finalizer — avalanches a 64-bit key. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Counter index of `key` in sketch row `row` (0-based), width `w`. */
  private[functions] def bucket(key: Long, row: Int, w: Int): Int = {
    val h = mix(key ^ ((row + 1) * 0x632BE59BD9B4E019L))
    (((h % w) + w) % w).toInt
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** (name, builder) pairs, installed by [[graft.GraftSession.install]]
    * and [[graft.GraftExtensions]], like NativeText/NativeVector/NativeAgg.
    */
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cms_sketch" -> (exprs => {
      if (exprs.length != 3) throw new IllegalArgumentException(
        s"graft_cms_sketch(key BIGINT, d INT, w INT) takes exactly 3 " +
          s"arguments, got ${exprs.length}")
      CountMinAgg(exprs.head,
        intLit(exprs(1), "graft_cms_sketch", "d"),
        intLit(exprs(2), "graft_cms_sketch", "w")).toAggregateExpression()
    }),
    "graft_cms_lookup" -> (exprs => {
      if (exprs.length != 4) throw new IllegalArgumentException(
        s"graft_cms_lookup(sketch ARRAY<BIGINT>, key BIGINT, d INT, w INT) " +
          s"takes exactly 4 arguments, got ${exprs.length}")
      CmsLookup(exprs.head, exprs(1),
        intLit(exprs(2), "graft_cms_lookup", "d"),
        intLit(exprs(3), "graft_cms_lookup", "w"))
    })
  )
}

/** The sketch-building aggregate: `graft_cms_sketch(key, d, w)` →
  * ARRAY<BIGINT> of length d·w (row-major grid). Null keys are skipped
  * (they are absent from frequency questions, matching COUNT(col)).
  */
case class CountMinAgg(
    keyExpr: Expression,
    d: Int,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(d > 0 && d <= 16, s"graft_cms_sketch: d must be in (0, 16], got $d")
  require(w > 0 && w <= (1 << 20), s"graft_cms_sketch: w must be in (0, 2^20], got $w")

  override def checkInputDataTypes(): TypeCheckResult =
    if (keyExpr.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_sketch expects key BIGINT (hash wider types first, e.g. " +
        s"xxhash64(col)); got ${keyExpr.dataType.sql}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val k = keyExpr.eval(input)
    if (k != null) {
      val key = k.asInstanceOf[Long]
      var i = 0
      while (i < d) {
        buf(i * w + CountMin.bucket(key, i, w)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(x => x: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(keyExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(keyExpr = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "graft_cms_sketch"
}

/** Point query: `graft_cms_lookup(sketch, key, d, w)` → BIGINT, the min
  * across the key's d counters. CodegenFallback is deliberate: lookups
  * run on the PROBE side (top-k candidates, audit rows — O(answer), never
  * O(input)), so interpreting d array reads per row is off the hot path
  * by construction; the O(input) half (CountMinAgg.update) is imperative
  * array math already.
  */
case class CmsLookup(sketchExpr: Expression, keyExpr: Expression, d: Int, w: Int)
  extends Expression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType == ArrayType(LongType, containsNull = false) &&
        keyExpr.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_lookup expects (sketch ARRAY<BIGINT> NOT NULL elements, key BIGINT); " +
        s"got (${sketchExpr.dataType.sql}, ${keyExpr.dataType.sql})")

  override def eval(input: InternalRow): Any = {
    val sk = sketchExpr.eval(input)
    val k = keyExpr.eval(input)
    if (sk == null || k == null) null
    else {
      val arr = sk.asInstanceOf[ArrayData]
      require(arr.numElements() == d * w,
        s"graft_cms_lookup: sketch has ${arr.numElements()} counters, expected d*w = ${d * w}")
      val key = k.asInstanceOf[Long]
      var best = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = arr.getLong(i * w + CountMin.bucket(key, i, w))
        if (c < best) best = c
        i += 1
      }
      best
    }
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = sketchExpr.nullable || keyExpr.nullable
  override def children: Seq[Expression] = Seq(sketchExpr, keyExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsLookup =
    copy(sketchExpr = newChildren(0), keyExpr = newChildren(1))
  override def prettyName: String = "graft_cms_lookup"
}
