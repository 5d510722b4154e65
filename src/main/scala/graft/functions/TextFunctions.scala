package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar text-preparation primitives shared by the dedup / text-analysis
  * operators. Everything here is built-in Catalyst expressions (split /
  * higher-order functions / hash functions) — no UDFs — so the whole prep
  * chain stays inside whole-stage codegen and scales linearly with no
  * shuffle. Formulas are deliberately mirror-able in DuckDB SQL so every
  * consumer query can be oracle-checked.
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Distinct word trigrams ("a b c") of a token array — the shingle set for
    * Jaccard similarity. Empty when the doc has fewer than 3 tokens.
    */
  def trigrams(toks: Column): Column =
    when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
            element_at(toks, i + 3)))))

  /** Exact Jaccard similarity of two (already-distinct) shingle arrays, as
    * an integer-ratio double: identical across engines bit-for-bit because
    * both sides divide the same two ints.
    */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** [[jaccard]] specialized to SORTED DISTINCT hash arrays (the
    * `graft_shingle_hashes` / `graft_ngram8_hashes` output contract):
    * one merge pass in generated code instead of three boxed hash-set
    * builds per pair — the exact-verify stages run millions of pairs, so
    * this is the dedup family's hot inner loop. Same value as [[jaccard]]
    * on such inputs (property-pinned in NativeTextSpec); requires
    * [[graft.GraftSession.install]] on the session.
    */
  def jaccardSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_jaccard_sorted", a, b)

  /** Hash each shingle once — the input to the MinHash permutation family.
    * Materialize this as its own column so the k permutations below reuse
    * it instead of re-hashing strings k times.
    */
  def shingleHashes(shingles: Column): Column = transform(shingles, s => xxhash64(s))

  /** MinHash signature from pre-hashed shingles: slot i = min over shingles
    * of an xorshift permutation keyed by a_i. Shift/xor only — a few cheap
    * codegen'd ops per element (no string rehash per slot, and no multiply,
    * which would throw under Spark 4's default ANSI overflow checking).
    */
  /** Xorshift permutation of a 64-bit hash, keyed by `a`. Shift/xor only —
    * cheap, codegen-friendly, and immune to ANSI overflow checks.
    */
  def xorshift(h: Column, a: Long): Column = {
    val x1 = h.bitwiseXOR(lit(a))
    val x2 = x1.bitwiseXOR(shiftrightunsigned(x1, 12))
    val x3 = x2.bitwiseXOR(shiftleft(x2, 25))
    x3.bitwiseXOR(shiftrightunsigned(x3, 27))
  }

  /** Deterministic permutation keys for the k MinHash slots. */
  def minhashKeys(k: Int, seed: Long = 42L): IndexedSeq[Long] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(k)(rnd.nextLong())
  }

  def minhashSignature(hashes: Column, k: Int, seed: Long = 42L): Column =
    array(minhashKeys(k, seed).map(a => array_min(transform(hashes, h => xorshift(h, a)))): _*)

  /** LSH band hashes of a minhash signature: `bands` buckets of `rowsPerBand`
    * consecutive slots, each band summarized by one 64-bit hash. Two docs
    * are near-dup candidates iff they collide on ANY (band_idx, band_hash).
    */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** 60-bit SimHash of a token multiset (15 hex chars of headroom under a
    * signed long). Per token, xxhash64 supplies the bit pattern; each bit
    * position accumulates +1/−1 and the sign becomes the output bit.
    */
  def simhash60(toks: Column): Column =
    simhash60FromHashes(transform(toks, w => xxhash64(w)))

  /** SimHash from pre-hashed tokens: 60 flat bit-count aggregates (one
    * multiply-free pass per bit, no per-token array allocation), sign of
    * each count becomes the output bit.
    */
  def simhash60FromHashes(hashes: Column): Column = {
    val bits = (0 until 60).map { i =>
      val count = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(count >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b))

  /** Block-PAIR probe keys: the 60-bit hash splits into `blocks` equal
    * chunks, and there is one key per unordered block pair (i<j), each the
    * concatenation of the two block values. h bit errors dirty at most h
    * blocks, so two hashes within hamming ≤ blocks−2 share at least one
    * clean pair → equality join on (pair_idx, key) finds them. Doubling the
    * key width (vs single blocks) makes buckets ~2^width times sparser —
    * the difference between O(n²/64) and O(n²/4096) candidate pairs.
    */
  def simhashPairBlockKeys(sim: Column, blocks: Int): Column = {
    val width = 60 / blocks
    val mask = (1L << width) - 1
    def block(b: Int): Column = shiftright(sim, b * width).bitwiseAND(mask)
    val keys = for (i <- 0 until blocks; j <- i + 1 until blocks)
      yield shiftleft(block(i), width).bitwiseOR(block(j))
    array(keys: _*)
  }
}
