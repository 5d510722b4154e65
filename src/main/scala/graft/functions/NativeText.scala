package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen'd) text hashing for the dedup hot path.
  *
  * The composable formulation — `array_distinct(transform(sequence(...),
  * i -> concat_ws(...)))` then `transform(..., xxhash64)` — is correct but
  * pays Spark's interpreted-lambda tax on every element AND materializes a
  * trigram *string* per position just to hash it. These expressions do
  * tokenize → hash → position-tagged shingle mix in one compiled pass with
  * zero intermediate strings: text in, long array out. `doGenCode` emits a
  * direct static call, so the whole stage stays in generated code.
  *
  * Token semantics match [[TextFunctions.tokens]] exactly (lowercase,
  * split `\s+`, drop empties); shingle-set cardinalities match
  * [[TextFunctions.trigrams]] (words contain no spaces, so string trigrams
  * and token triples are in bijection) — which is what keeps the DuckDB
  * oracles valid modulo 64-bit hash collisions.
  */
object NativeText {

  private final val Seed = 42L

  private def hashWord(w: String): Long = {
    val u = UTF8String.fromString(w)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Seed)
  }

  private def tokenHashArray(s: UTF8String): Array[Long] = {
    val words = s.toString.toLowerCase(Locale.ROOT).split("\\s+")
    var n = 0
    var i = 0
    while (i < words.length) { if (words(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Long](n)
    var j = 0
    i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) { out(j) = hashWord(words(i)); j += 1 }
      i += 1
    }
    out
  }

  /** Lowercased-token xxhash64s, in document order (bag semantics). */
  def tokenHashes(s: UTF8String): ArrayData =
    new GenericArrayData(tokenHashArray(s))

  /** Position-ordered n-gram hashes (slot i = the window starting at token
    * i; bag semantics — no sort, no dedup): each window of `n` token hashes
    * is folded through chained xxhash rounds — non-linear in each slot (a
    * GF(2)-linear mix like xor-shift collides on small vocabularies where
    * a^c == d^e). The positional form feeds the duplicated-SPAN detector,
    * where WHERE a window sits matters as much as what it hashes to.
    */
  private def ngramPosHashArray(th: Array[Long], n: Int): Array[Long] = {
    if (th.length < n) return Array.empty[Long]
    val mixed = new Array[Long](th.length - n + 1)
    var i = 0
    while (i < mixed.length) {
      var acc = Seed
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      mixed(i) = acc
      i += 1
    }
    mixed
  }

  /** Distinct n-gram hashes (sorted; set semantics): the positional stream
    * above, sorted and deduplicated in place (the positional array is
    * freshly allocated per call, so the in-place sort is private).
    */
  private def ngramHashArray(th: Array[Long], n: Int): Array[Long] = {
    if (th.length < n) return Array.empty[Long]
    val mixed = ngramPosHashArray(th, n)
    java.util.Arrays.sort(mixed)
    var uniq = 1
    var i = 1
    while (i < mixed.length) { if (mixed(i) != mixed(i - 1)) uniq += 1; i += 1 }
    val out = new Array[Long](uniq)
    out(0) = mixed(0)
    var j = 1
    i = 1
    while (i < mixed.length) {
      if (mixed(i) != mixed(i - 1)) { out(j) = mixed(i); j += 1 }
      i += 1
    }
    out
  }

  /** Distinct position-mixed trigram hashes (sorted; set semantics). */
  def shingleHashes(s: UTF8String): ArrayData =
    new GenericArrayData(ngramHashArray(tokenHashArray(s), 3))

  /** Exact Jaccard of two SORTED DISTINCT long arrays in ONE merge pass —
    * the verify-stage hot path. The generic
    * `array_intersect`/`array_union` formulation builds two boxed hash
    * sets per PAIR (and the union twice); with millions of candidate
    * pairs per corpus that dominates every exact-verify stage. Every
    * caller feeds arrays from [[ngramHashArray]] (sorted, distinct by
    * construction — the contract is the function name); J = inter /
    * (|A| + |B| − inter), 0.0 when both sides are empty.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return 0.0
    var i = 0
    var jj = 0
    var inter = 0
    while (i < na && jj < nb) {
      val x = a.getLong(i)
      val y = b.getLong(jj)
      if (x == y) { inter += 1; i += 1; jj += 1 }
      else if (x < y) i += 1
      else jj += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Distinct 8-gram hashes — the exact-overlap decontamination feature
    * (GPT-3-style n-gram contamination checks use 8–13-gram windows; 8
    * fits this corpus's shortest documents).
    */
  def ngram8Hashes(s: UTF8String): ArrayData =
    new GenericArrayData(ngramHashArray(tokenHashArray(s), 8))

  /** Position-ordered 8-gram hashes (slot i = window at token i) — the
    * per-position feature stream for exact duplicated-span detection.
    */
  def ngram8PosHashes(s: UTF8String): ArrayData =
    new GenericArrayData(ngramPosHashArray(tokenHashArray(s), 8))

  /** 60-bit SimHash in one compiled pass (same token hashes as
    * `graft_token_hashes`, so identical to the explode+aggregate
    * formulation — minus its shuffle).
    */
  def simhash60(s: UTF8String): Long = simhash60Of(tokenHashArray(s))

  /** SimHash over TRIGRAM features: unigram features barely discriminate on
    * small-vocabulary corpora (similar word frequencies → similar signs →
    * candidate explosion); shingles encode order and make unrelated docs
    * land ~30 bits apart while true near-dups stay within a few bits.
    * Null for docs with no shingles — there is no meaningful signature, and
    * a degenerate shared value would make every such doc collide.
    */
  def simhash60ShinglesBoxed(s: UTF8String): java.lang.Long = {
    val sh = shingleHashes(s).toLongArray()
    if (sh.isEmpty) null else java.lang.Long.valueOf(simhash60Of(sh))
  }

  private def simhash60Of(th: Array[Long]): Long = {
    val counts = new Array[Int](60)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (counts(b) >= 0) out |= (1L << b); b += 1 }
    out
  }

  /** 64-slot MinHash signature in one compiled pass over the shingle
    * hashes, using the SAME xorshift permutation keys as
    * [[TextFunctions.minhashKeys]] — signatures (and therefore LSH bands
    * and candidates) are bit-identical to the aggregate formulation.
    */
  private lazy val MinhashA: Array[Long] = TextFunctions.minhashKeys(64).toArray

  def minhashSig64(s: UTF8String): ArrayData = {
    val sh = shingleHashes(s).toLongArray()
    if (sh.isEmpty) return null // no shingles → no signature (see simhash note)
    val out = new Array[Long](64)
    var k = 0
    while (k < 64) {
      val a = MinhashA(k)
      var best = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        var x = sh(i) ^ a
        x ^= (x >>> 12)
        x ^= (x << 25)
        x ^= (x >>> 27)
        if (x < best) best = x
        i += 1
      }
      out(k) = best
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Repetition-profile counters in one compiled pass (the Gopher-style
    * repetition filters a web corpus is screened with): returns
    * `[n_words, n_distinct_words, dup_word_occurrences, n_bigrams,
    * top_bigram_count]` so the ratios (duplicated-word fraction, type-token
    * ratio, top-bigram mass) stay exact int/int divisions at the query
    * layer. Counting runs over the same xxh64 token hashes as everything
    * else here (collision probability ~n²/2⁶⁴ per doc — nil), so no token
    * strings are materialized and the whole filter is map-only: the one
    * screening pass over 100 TB that must never shuffle, doesn't.
    */
  def repetitionStats(s: UTF8String): ArrayData = {
    val th = tokenHashArray(s)
    val n = th.length
    if (n == 0) return new GenericArrayData(Array(0L, 0L, 0L, 0L, 0L))
    val ws = th.clone()
    java.util.Arrays.sort(ws)
    var distinct = 1L
    var dupOcc = 0L
    var run = 1
    var i = 1
    while (i < n) {
      if (ws(i) == ws(i - 1)) run += 1
      else {
        if (run > 1) dupOcc += run
        distinct += 1
        run = 1
      }
      i += 1
    }
    if (run > 1) dupOcc += run
    var nBigrams = 0L
    var topBigram = 0L
    if (n >= 2) {
      val bg = new Array[Long](n - 1)
      i = 0
      while (i < n - 1) {
        // same chained-xxhash pair mix as the shingle path (GF(2)-linear
        // mixes collide on small vocabularies)
        bg(i) = XXH64.hashLong(th(i + 1), XXH64.hashLong(th(i), Seed))
        i += 1
      }
      java.util.Arrays.sort(bg)
      nBigrams = bg.length.toLong
      var best = 1
      run = 1
      i = 1
      while (i < bg.length) {
        if (bg(i) == bg(i - 1)) { run += 1; if (run > best) best = run }
        else run = 1
        i += 1
      }
      topBigram = best.toLong
    }
    new GenericArrayData(Array(n.toLong, distinct, dupOcc, nBigrams, topBigram))
  }

  /** Unicode text normalization — the canonicalization pass that must run
    * BEFORE any hash-based dedup on real web text, where the same rendered
    * string arrives in both precomposed (U+00E9) and decomposed (e +
    * U+0301) forms and would otherwise fingerprint differently. NFC
    * composition first (java.text.Normalizer — the JDK's ICU-derived
    * implementation of UAX #15), then locale-independent lowercasing
    * (Locale.ROOT — never the JVM default locale, whose Turkish-İ dotting
    * would make results machine-dependent), then whitespace-run collapse
    * and trim. Mirrored by DuckDB's `lower(nfc_normalize(..))` +
    * regexp collapse; both engines' `\\s` agree on all fixture/corpus
    * whitespace (the engine's Java `\\s` additionally matches U+000B,
    * which never survives web-text extraction).
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    UTF8String.fromString(lower.replaceAll("\\s+", " ").trim)
  }

  /** Arity guard shared by every registry builder: a SQL call with the
    * wrong argument count must fail at ANALYSIS time with the function's
    * name and expected arity, not leak a NoSuchElementException /
    * IndexOutOfBoundsException from `exprs.head` / `exprs(1)` out of the
    * resolver.
    */
  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects exactly $n argument${if (n == 1) "" else "s"}, " +
            s"got ${exprs.length}")
      f(exprs)
    }

  /** (name, builder) pairs — SQL functions such as
    * `graft_token_hashes(text)` and `graft_shingle_hashes(text)`, installed
    * per session by [[graft.GraftSession.install]] and cluster-wide by
    * [[graft.GraftExtensions]] (`spark.sql.extensions`).
    */
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_token_hashes" -> arity("graft_token_hashes", 1)(exprs => TokenHashesExpr(exprs.head)),
    "graft_shingle_hashes" -> arity("graft_shingle_hashes", 1)(exprs => ShingleHashesExpr(exprs.head)),
    "graft_simhash60" -> arity("graft_simhash60", 1)(exprs => Simhash60Expr(exprs.head)),
    "graft_simhash60_shingles" -> arity("graft_simhash60_shingles", 1)(exprs => Simhash60ShinglesExpr(exprs.head)),
    "graft_minhash_sig64" -> arity("graft_minhash_sig64", 1)(exprs => MinhashSig64Expr(exprs.head)),
    "graft_repetition_stats" -> arity("graft_repetition_stats", 1)(exprs => RepetitionStatsExpr(exprs.head)),
    "graft_ngram8_hashes" -> arity("graft_ngram8_hashes", 1)(exprs => Ngram8HashesExpr(exprs.head)),
    "graft_ngram8_pos_hashes" -> arity("graft_ngram8_pos_hashes", 1)(exprs => Ngram8PosHashesExpr(exprs.head)),
    "graft_normalize_text" -> arity("graft_normalize_text", 1)(exprs => NormalizeTextExpr(exprs.head)),
    "graft_jaccard_sorted" -> arity("graft_jaccard_sorted", 2)(exprs => JaccardSortedExpr(exprs(0), exprs(1)))
  )
}

/** String→string codegen expression for [[NativeText.normalizeText]]:
  * map-only, stays inside whole-stage codegen like the hash expressions.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeText$$.MODULE$$.normalizeText($c)")
  override def prettyName: String = "graft_normalize_text"
  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

abstract class NativeTextExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def methodName: String
  override protected def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])
  protected def compute(s: UTF8String): ArrayData
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeText$$.MODULE$$.$methodName($c)")
}

case class TokenHashesExpr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "tokenHashes"
  override protected def compute(s: UTF8String): ArrayData = NativeText.tokenHashes(s)
  override def prettyName: String = "graft_token_hashes"
  override protected def withNewChildInternal(newChild: Expression): TokenHashesExpr =
    copy(child = newChild)
}

case class ShingleHashesExpr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "shingleHashes"
  override protected def compute(s: UTF8String): ArrayData = NativeText.shingleHashes(s)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

case class Ngram8HashesExpr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "ngram8Hashes"
  override protected def compute(s: UTF8String): ArrayData = NativeText.ngram8Hashes(s)
  override def prettyName: String = "graft_ngram8_hashes"
  override protected def withNewChildInternal(newChild: Expression): Ngram8HashesExpr =
    copy(child = newChild)
}

case class Ngram8PosHashesExpr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "ngram8PosHashes"
  override protected def compute(s: UTF8String): ArrayData = NativeText.ngram8PosHashes(s)
  override def prettyName: String = "graft_ngram8_pos_hashes"
  override protected def withNewChildInternal(newChild: Expression): Ngram8PosHashesExpr =
    copy(child = newChild)
}

case class RepetitionStatsExpr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "repetitionStats"
  override protected def compute(s: UTF8String): ArrayData = NativeText.repetitionStats(s)
  override def prettyName: String = "graft_repetition_stats"
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

case class MinhashSig64Expr(child: Expression) extends NativeTextExpr {
  override protected def methodName: String = "minhashSig64"
  override protected def compute(s: UTF8String): ArrayData = NativeText.minhashSig64(s)
  override def prettyName: String = "graft_minhash_sig64"
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.NativeText$$.MODULE$$.minhashSig64($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): MinhashSig64Expr =
    copy(child = newChild)
}

case class Simhash60ShinglesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    NativeText.simhash60ShinglesBoxed(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("sim")
      s"""
      java.lang.Long $tmp = graft.functions.NativeText$$.MODULE$$.simhash60ShinglesBoxed($c);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
      """
    })
  override def prettyName: String = "graft_simhash60_shingles"
  override protected def withNewChildInternal(newChild: Expression): Simhash60ShinglesExpr =
    copy(child = newChild)
}

case class Simhash60Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.simhash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeText$$.MODULE$$.simhash60($c)")
  override def prettyName: String = "graft_simhash60"
  override protected def withNewChildInternal(newChild: Expression): Simhash60Expr =
    copy(child = newChild)
}

/** One-pass merge Jaccard over two sorted-distinct long arrays — see
  * [[NativeText.jaccardSorted]] for the contract and why it replaces the
  * `array_intersect`/`array_union` formulation on the verify hot path.
  */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  // containsNull = false is REQUIRED, not just preferred: the merge pass
  // reads primitive longs, so a null element would silently read garbage.
  // Every producer (the graft_*_hashes family) declares non-null arrays;
  // an ad-hoc SQL caller with a nullable array gets an analysis error
  // here instead of a plausible wrong answer. (Sortedness is the other
  // half of the contract and is in the function's NAME — it cannot be
  // checked at analysis time; unsorted input belongs to plain set-op
  // jaccard.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> columns with non-null " +
        s"elements (the graft_*_hashes contract), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeText.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.NativeText$$.MODULE$$.jaccardSorted($a, $b)")
  override def prettyName: String = "graft_jaccard_sorted"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedExpr =
    copy(left = newLeft, right = newRight)
}
