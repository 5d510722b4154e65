package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native (codegen'd) vector math for the similarity hot path — the vector
  * counterpart of [[NativeText]].
  *
  * The composable formulation (`zip_with`/`aggregate` for cosine, a 64-way
  * posexplode → groupBy for sign-LSH signatures) is correct but pays
  * Spark's interpreted-lambda tax per element AND — for signatures — a
  * dim× row expansion feeding a shuffle. These expressions do the whole
  * per-vector computation in one compiled pass: map-only signature
  * generation, no Exchange before the bucket join.
  *
  * Float elements are widened to double exactly as the composable versions
  * do (`x.cast("double")`), and sums accumulate in array order, so results
  * are bit-identical to the `VectorFunctions` formulations (asserted in
  * NativeVectorSpec) and oracle rounding margins are unchanged.
  */
object NativeVector {

  /** Cosine similarity of two float vectors, accumulating the dot product
    * and both self-dots in one pass, each in array order (same IEEE op
    * sequence as three separate `aggregate` calls). Null on length
    * mismatch or zero norms — mirrors the composable version's null/NaN
    * behavior conservatively.
    */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // null elements null-propagate, matching the zip_with/aggregate
      // formulation (ArrayData.getFloat would silently read them as 0.0)
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Deterministic hyperplane component for (plane, dim): two chained
    * xxhash64 rounds → uniform double in [-1, 1). Symmetric around 0,
    * which is all sign-LSH needs (P[sign flip] = angle/π holds for any
    * sign-symmetric projection distribution).
    */
  private def planeComponent(plane: Int, j: Int, seed: Long): Double = {
    val h = XXH64.hashLong(j.toLong, XXH64.hashLong(plane.toLong, seed))
    ((h >>> 11) * (1.0 / (1L << 52))) - 1.0
  }

  /** Sign-LSH band keys in one compiled pass: `nBands` independent hash
    * tables of `bitsPerBand` hyperplanes each. Key t packs
    * `(t << bitsPerBand) | bits_t`, so a plain equality join on the
    * exploded key is simultaneously a join on (table, band-bits). Keys are
    * scale-invariant (sign(k·v·h) = sign(v·h) for k > 0).
    *
    * `probeRadius` = 0 emits the L index keys (corpus side); 1 additionally
    * emits every 1-bit flip of each band (multi-probe query side:
    * L × (bitsPerBand + 1) keys) — a query then reaches every corpus
    * vector within hamming ≤ 1 of any of its bands, with candidate
    * generation still a narrow equality join, never a cross join.
    */
  def lshKeys(v: ArrayData, nBands: Int, bitsPerBand: Int, seed: Long,
              probeRadius: Int): ArrayData = {
    val dim = v.numElements()
    // a vector with null elements has no meaningful signature — null out
    // rather than silently hashing nulls as 0.0
    var chk = 0
    while (chk < dim) { if (v.isNullAt(chk)) return null; chk += 1 }
    val perKey = 1 + (if (probeRadius >= 1) bitsPerBand else 0)
    val out = new Array[Long](nBands * perKey)
    var t = 0
    var o = 0
    while (t < nBands) {
      var bits = 0L
      var i = 0
      while (i < bitsPerBand) {
        val plane = t * bitsPerBand + i
        var proj = 0.0
        var j = 0
        while (j < dim) {
          proj += v.getFloat(j).toDouble * planeComponent(plane, j, seed)
          j += 1
        }
        if (proj >= 0) bits |= (1L << i)
        i += 1
      }
      val base = t.toLong << bitsPerBand
      out(o) = base | bits
      o += 1
      if (probeRadius >= 1) {
        var i = 0
        while (i < bitsPerBand) {
          out(o) = base | (bits ^ (1L << i))
          o += 1
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest centroid under the k-means integer metric, one compiled pass.
    *
    * Bit-identical to the composable `array_min(transform(cents,
    * struct(dist, cid)))` formulation in [[graft.ops.EmbedClusterOps]]:
    * per centroid `acc = Σ (n·qᵢ − sᵢ)²` in int64 array order (overflow
    * wraps identically), `d = (double) acc / (double)(n·n)`, winner by
    * lexicographic (d, cid). The HOF version allocates a zip_with array
    * and evaluates interpreted lambdas per (row × centroid); this is the
    * k-means hot path (n·k evaluations per Lloyd pass), so it gets the
    * same native treatment as cosine. Null on any null element or a
    * length mismatch — the conservative mirror of null propagation
    * through zip_with/aggregate.
    */
  def intArgmin(q: ArrayData, cents: ArrayData): Any = {
    val k = cents.numElements()
    val dim = q.numElements()
    if (k == 0) return null
    var i = 0
    while (i < dim) { if (q.isNullAt(i)) return null; i += 1 }
    var bestD = Double.PositiveInfinity
    var bestCid = Int.MaxValue
    var any = false
    var t = 0
    while (t < k) {
      if (cents.isNullAt(t)) return null
      val c = cents.getStruct(t, 3)
      val cid = c.getInt(0)
      val s = c.getArray(1)
      val n = c.getLong(2)
      if (s.numElements() != dim) return null
      var acc = 0L
      var j = 0
      while (j < dim) {
        if (s.isNullAt(j)) return null
        val d0 = n * q.getLong(j) - s.getLong(j)
        acc += d0 * d0
        j += 1
      }
      val d = acc.toDouble / (n * n).toDouble
      if (!any || d < bestD || (d == bestD && cid < bestCid)) {
        any = true; bestD = d; bestCid = cid
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestCid))
  }

  /** (name, builder) pairs — SQL functions `graft_cosine(a, b)`,
    * `graft_lsh_keys(vec, nBands, bitsPerBand, seed, probeRadius)` (the
    * four config args must be literals) and `graft_int_argmin(q, cents)`,
    * installed by [[graft.GraftSession.install]] and
    * [[graft.GraftExtensions]] (`spark.sql.extensions` wiring).
    */
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (exprs => CosineExpr(exprs(0), exprs(1))),
    "graft_int_argmin" -> (exprs => IntArgminExpr(exprs(0), exprs(1))),
    "graft_lsh_keys" -> (exprs => {
      def intLit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) if v.isValidInt => v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_lsh_keys: $what must be an int-range integer literal, got $other")
      }
      // the seed is a genuine Long — routing it through intLit would
      // silently truncate seeds outside int range to a different seed
      def longLit(e: Expression, what: String): Long = e match {
        case Literal(v: Int, IntegerType) => v.toLong
        case Literal(v: Long, LongType) => v
        case other => throw new IllegalArgumentException(
          s"graft_lsh_keys: $what must be an integer literal, got $other")
      }
      LshKeysExpr(exprs(0), intLit(exprs(1), "nBands"), intLit(exprs(2), "bitsPerBand"),
        longLit(exprs(3), "seed"), intLit(exprs(4), "probeRadius"))
    })
  )
}

case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> columns, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeVector.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""
      java.lang.Double $tmp = graft.functions.NativeVector$$.MODULE$$.cosine($a, $b);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
      """
    })
  override def prettyName: String = "graft_cosine"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

case class IntArgminExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _),
          ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, ArrayType(LongType, _), _, _),
            StructField(_, LongType, _, _))), _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<long>, array<struct<cid:int, s:array<long>, n:long>>), " +
        s"got ${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(q: Any, cents: Any): Any =
    NativeVector.intArgmin(q.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val tmp = ctx.freshName("argmin")
      s"""
      Object $tmp = graft.functions.NativeVector$$.MODULE$$.intArgmin($q, $c);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp; }
      """
    })
  override def prettyName: String = "graft_int_argmin"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntArgminExpr =
    copy(left = newLeft, right = newRight)
}

case class LshKeysExpr(child: Expression, nBands: Int, bitsPerBand: Int,
                       seed: Long, probeRadius: Int) extends UnaryExpression {
  require(bitsPerBand >= 1 && bitsPerBand <= 32, "bitsPerBand out of range")
  require(nBands >= 1, "nBands out of range")
  require(probeRadius == 0 || probeRadius == 1,
    "probeRadius supports 0 (index keys) or 1 (keys + 1-bit flips)")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> column, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    NativeVector.lshKeys(input.asInstanceOf[ArrayData], nBands, bitsPerBand, seed, probeRadius)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.NativeVector$$.MODULE$$.lshKeys($c, $nBands, $bitsPerBand, ${seed}L, $probeRadius);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override def prettyName: String = "graft_lsh_keys"
  override protected def withNewChildInternal(newChild: Expression): LshKeysExpr =
    copy(child = newChild)
}
