package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operator family over `documents` — language ID, quality
  * scoring, token counting, and content fingerprinting. All pure columnar
  * expressions (split/HOF/regexp/md5): one narrow scan per query, no
  * shuffle except the final ORDER BY, trivially 100 TB-safe. Every formula
  * is mirrored in DuckDB SQL, integer-ratio arithmetic keeps the doubles
  * bit-identical across engines, and md5 is the shared hash.
  */
object TextAnalysisOps extends QueryFamily {

  /** Tiny function-word list: enough signal for a synthetic-corpus heuristic. */
  private val Stopwords = Seq("a", "an", "the", "of", "to", "in", "and", "is", "on", "for")

  private def documents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def toks: Column = tokens(col("text"))

  private def stopwordCount(t: Column): Column =
    size(filter(t, w => w.isin(Stopwords.map(x => x: Any): _*)))

  /** Language ID, n-gram/function-word heuristic: the stopword ratio of a
    * document is a cheap, surprisingly strong English detector. Emits the
    * ratio (exact int ratio) and the decision.
    */
  private def taLangid(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        (stopwordCount(col("w")).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("stopword_ratio"))
      .withColumn("lang_pred", when(col("stopword_ratio") >= 0.03, "en").otherwise("und"))
      .select(col("doc_id"), col("stopword_ratio"), col("lang_pred"))
      .orderBy(col("doc_id"))

  /** Classifier-evaluation confusion matrix: the `ta_langid` heuristic's
    * predictions crossed with the labeled `lang` column — the eval table
    * every filter model ships with (here it also quantifies exactly how
    * blunt the stopword heuristic is: it can only say en/und). One
    * partial-agg shuffle on the (label, prediction) pair.
    */
  private def taLangidConfusion(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"), toks.as("w"))
      .select(col("lang"),
        when((stopwordCount(col("w")).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")) >= 0.03, "en")
          .otherwise("und").as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Quality score: mean word length, type-token ratio, stopword ratio, and
    * a length prior, combined with fixed weights. Every term is a ratio of
    * ints → the double is engine-exact.
    */
  private def taQuality(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("n_chars"), toks.as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n_words"),
        (size(array_distinct(col("w"))).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("ttr"),
        (stopwordCount(col("w")).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("stop_ratio"))
      .withColumn("quality",
        round(col("ttr") * 0.5 + col("stop_ratio") * 0.3 +
          when(col("n_words") >= 30, 0.2).otherwise(0.0), 6))
      .select(col("doc_id"), col("n_words"), round(col("ttr"), 6).as("ttr"),
        round(col("stop_ratio"), 6).as("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  /** Token counting two ways: whitespace words and a BPE-ish sub-token
    * regex (letter runs / digit runs / single other-symbols) — the standard
    * cheap proxy for LLM token budgets.
    */
  private def taTokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("bpeish_tokens"))
      .orderBy(col("doc_id"))

  /** Document fingerprints: whole-content md5 over normalized text, plus a
    * winnowing-style shingle fingerprint (lexicographic min of the trigram
    * md5s) that survives local edits — both reproducible in any engine.
    */
  private def taFingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("content_fp"),
        array_min(transform(trigrams(toks), t => md5(t))).as("min_shingle_fp"))
      .orderBy(col("doc_id"))

  /** Keep-gate thresholds for the repetition screen. Both are exact binary
    * fractions (7/8, 1/16), so the boundary compare of the bit-exact
    * int/int ratios is engine-portable; both sit inside the corpus's
    * interquartile spread, so the gate actually splits (≈ median dup-word
    * fraction is 0.83, ≈ p75 top-bigram mass is 0.048 at sf0.01).
    */
  private[ops] val MaxDupWordFrac = 0.875
  private[ops] val MaxTopBigramFrac = 0.0625

  /** Gopher-style repetition screen: duplicated-word mass, type-token
    * ratio, and top-bigram mass per document, plus the keep/drop verdict.
    * The counters come from the one-pass native expression
    * (`graft_repetition_stats`) — a map-only projection, no explode, no
    * per-doc groupBy shuffle — and every emitted ratio is an int/int
    * division, bit-identical in DuckDB.
    */
  private def taRepetition(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir)
      .select(col("doc_id"), expr("graft_repetition_stats(text)").as("r"))
      .select(col("doc_id"),
        element_at(col("r"), 1).as("n_words"),
        element_at(col("r"), 2).as("n_distinct"),
        element_at(col("r"), 3).as("dup_occ"),
        element_at(col("r"), 4).as("n_bg"),
        element_at(col("r"), 5).as("top_bg"))
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") > 0,
          col("dup_occ").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("dup_word_frac"),
        when(col("n_words") > 0,
          col("n_distinct").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("ttr"),
        when(col("n_bg") > 0,
          col("top_bg").cast("double") / col("n_bg").cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= MaxDupWordFrac &&
          col("top_bigram_frac") <= MaxTopBigramFrac)
      .orderBy(col("doc_id"))
  }

  /** Email/phone patterns shared by engine and oracle. RE2-safe subset
    * (no lookaround, no backreferences) so Java regex and DuckDB RE2 agree
    * character-for-character; the corpus vocabulary is letters-only, so
    * every match comes from the injected fixture and the oracle is
    * non-vacuous.
    */
  private[ops] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** PII fixture rows: the raw corpus carries no contact strings
    * (letters-only vocabulary), so redaction is made observable the same
    * way exact dedup is — deterministic injected rows, mirrored literally
    * in the oracles (here and in the ingest-screen pipeline).
    */
  private[ops] val PiiFixture: Seq[(Long, String)] = Seq(
    (9000001L, "contact alice.smith@example.com or bob@test.org for the full report"),
    (9000002L, "call 555-123-4567 or +1 415 555 2671 before friday"),
    (9000003L, "email carol_j@sub.domain.example.net and phone 212-555-0198 thanks"),
    (9000004L, "no contact info here just words")
  )

  /** The same rows as a VALUES clause for DuckDB oracles. */
  private[ops] def piiFixtureSql: String =
    PiiFixture.map { case (id, t) => s"($id, '$t')" }.mkString(",\n    ")

  private[ops] def piiFixtureDf(s: SparkSession): DataFrame = {
    import s.implicits._
    PiiFixture.toDF("doc_id", "text")
  }

  private def withPiiDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(piiFixtureDf(docs.sparkSession))

  /** Quality-PROPORTIONAL sampling — each document's keep probability IS
    * its quality score (the continuous-rate counterpart of
    * `mix_stratified_sample`'s fixed per-lang rates, the shape modern
    * web-corpus curation uses: don't binarize quality, sample by it).
    * Deterministic: the per-doc uniform draw is two md5 hex chars (256
    * buckets, positions 29-30 — independent of the nibble gates other
    * samplers use), compared against the quality mapped to a 0..255 hex
    * threshold. No RNG state — reruns and the DuckDB oracle keep the
    * identical document set. Map-only over 100 TB.
    */
  private def mixQualityWeighted(s: SparkSession, dir: String): DataFrame = {
    val q = documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .select(col("doc_id"), col("lang"),
        size(col("w")).as("n_words"),
        (size(array_distinct(col("w"))).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("ttr"),
        (stopwordCount(col("w")).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("stop_ratio"))
      .withColumn("quality",
        round(col("ttr") * 0.5 + col("stop_ratio") * 0.3 +
          when(col("n_words") >= 30, 0.2).otherwise(0.0), 6))
    q.withColumn("q256", least(round(col("quality") * 256).cast("int"), lit(255)))
      .where(substring(md5(col("doc_id").cast("string")), 29, 2) <
        format_string("%02x", col("q256")))
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic code-shaped rows (no apostrophes — they feed a VALUES
    * clause): Python, C, SQL, and a prose control. The corpus itself is
    * symbol-free word text, so every positive comes from the fixture and
    * the negative space is the whole corpus.
    */
  private[ops] val CodeFixture: Seq[(Long, String)] = Seq(
    (9100001L, "def load(path): return [int(x) for x in open(path)] # parse"),
    (9100002L, "for (int i = 0; i < n; i++) { sum += a[i] * b[i]; }"),
    (9100003L, "SELECT user_id, count(*) FROM events GROUP BY 1 ORDER BY 2 DESC;"),
    (9100004L, "plain prose about tables and queries with no syntax at all")
  )

  private[ops] def codeFixtureSql: String =
    CodeFixture.map { case (id, t) => s"($id, '$t')" }.mkString(",\n    ")

  private def withCodeDocs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text"))
      .unionByName(CodeFixture.toDF("doc_id", "text"))
  }

  /** Code-vs-prose routing — the corpus-mix gate every LLM data pipeline
    * runs (code to the code pile, prose to the text pile, each with its
    * own dedup/quality settings). The signal is the punctuation-symbol
    * ratio with an integer cross-multiplied threshold (> 4% of chars in
    * `{}()[];=<>*+#`), computed as two codegen'd lengths — map-only over
    * 100 TB, no shuffle except the final sort, and the flag replays
    * bit-exactly in the oracle.
    */
  private val CodeSymRe = "[{}()\\[\\];=<>*+#]"
  private def taCodeDetect(s: SparkSession, dir: String): DataFrame =
    withCodeDocs(documents(s, dir))
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), CodeSymRe, ""))).as("n_sym"))
      .withColumn("is_code", col("n_sym") * 25 > col("n_chars"))
      .orderBy(col("doc_id"))

  /** PII scrubbing: count and redact email/phone matches — the compliance
    * pass a web corpus must run before training. Pure columnar regex
    * (codegen'd `regexp_extract_all`/`regexp_replace`): map-only over
    * 100 TB, no shuffle except the final sort. Emails are redacted before
    * phones so digit-bearing addresses can't double-count.
    */
  private def taPiiRedact(s: SparkSession, dir: String): DataFrame =
    withPiiDocs(documents(s, dir))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        regexp_replace(col("text"), EmailRe, "<EMAIL>").as("__t"))
      .select(col("doc_id"), col("n_emails"),
        size(regexp_extract_all(col("__t"), lit(PhoneRe), lit(0))).as("n_phones"),
        regexp_replace(col("__t"), PhoneRe, "<PHONE>").as("redacted"))
      .orderBy(col("doc_id"))

  /** Top-K vocabulary induction: corpus-wide word frequencies, highest
    * first — the first step of tokenizer training. The explode feeds a
    * partial-aggregated groupBy on the word (map-side combine collapses
    * each partition to its distinct vocabulary before the shuffle, so the
    * exchange carries ~|vocab| rows per partition, not corpus tokens), and
    * the top-K lands as TakeOrderedAndProject — per-partition heaps, no
    * global sort materialization.
    */
  private val VocabK = 20

  private def taVocabTopK(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(VocabK)

  /** Unicode fixture rows: the raw corpus is ASCII-lowercase by
    * construction, so normalization is made observable the PII way —
    * injected rows mirrored literally in the oracle. Rows 1 and 2 are the
    * same rendered text in precomposed vs decomposed form (é = U+00E9 vs
    * e+U+0301): after NFC they hash identically, which is exactly why the
    * pass must run before dedup.
    */
  private[ops] val UnicodeFixture: Seq[(Long, String)] = Seq(
    (9100001L, "Café   au\tLait"),
    (9100002L, "Café au Lait\n"),
    (9100003L, "  À É Î Õ Ü  "),
    (9100004L, "already normalized text")
  )

  private[ops] def unicodeFixtureSql: String =
    UnicodeFixture.map { case (id, t) =>
      s"($id, '${t.replace("'", "''")}')"
    }.mkString(",\n    ")

  /** Unicode normalization (NFC + root-locale lowercase + whitespace
    * collapse) over corpus ∪ fixture — the canonicalization every
    * hash-keyed op (dedup, fingerprint, decontamination) must agree on.
    * One native codegen expression ([[graft.functions.NormalizeTextExpr]]):
    * map-only over 100 TB, no shuffle except the final sort.
    */
  private def taNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(UnicodeFixture.toDF("doc_id", "text"))
      .select(col("doc_id"),
        expr("graft_normalize_text(text)").as("norm_text"),
        (expr("graft_normalize_text(text)") =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-LM familiarity scoring — the integer-exact skeleton of the
    * KenLM-style "perplexity filter" every web-scale pipeline runs: train an
    * n-gram model ON the corpus itself, then score each document by how
    * familiar its n-grams are to the model. The model here is the trigram
    * shingle → document-frequency table (shared tokenization with the dedup
    * family, so the gram index is literally reusable between the two); the
    * score stays in integers (Σ df, count, df==1 novelty count) so the
    * DuckDB oracle is bit-exact — a float log-prob would be engine-divergent,
    * and the RANKING the filter needs is preserved by the monotone integer
    * sums.
    *
    * Scale shape: model build = one partial-agg shuffle on the 8-byte gram
    * hash; scoring = inverted-index equi-join on the same hash (never
    * all-pairs, no text through the shuffle). At 100 TB the model is built
    * once per snapshot and persisted; the df head (the only skewed keys) is
    * tiny and broadcastable, so the scoring join salts/splits naturally.
    * Hashed grams vs the oracle's string grams: identical counts modulo
    * 64-bit collisions (same caveat as `decontaminate_ngram_overlap`).
    */
  private def taLmFamiliarity(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val grams = DedupOps.shingled(docs)
      .select(col("doc_id"), explode(col("sh_hashes")).as("g"))
    val model = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val scored = grams.join(model, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("familiarity"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
    // short docs (<3 tokens) have no shingles: keep them, scored zero —
    // a perplexity filter must not silently drop them
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("familiarity"), lit(0L)).as("familiarity"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .orderBy(col("doc_id"))
  }

  private[graft] val BpeRounds = 16

  /** BPE merge induction — the first `BpeRounds` merges of byte-pair
    * encoding learned FROM the corpus, the tokenizer-training primitive of
    * every LLM data stack. Classic two-phase shape: ONE corpus shuffle
    * builds the word-frequency table (at 100 TB that is the whole cost —
    * the iteration then runs on the |vocab|-sized relation), then each
    * round counts weighted adjacent symbol pairs, takes the
    * (count DESC, pair ASC) argmax — a 1-row control-plane decision, like
    * the watermark reads — and applies the merge as TWO non-overlapping
    * left-to-right replaces on the space-joined symbol string (both
    * engines' `replace` contract; the second pass catches back-to-back
    * repeats of the pair whose shared boundary space the first pass
    * consumed, so application matches standard greedy BPE exactly —
    * [a,b,a,b] merges to [ab,ab]). All counts are exact integers; the
    * DuckDB oracle replays the rounds unrolled and must produce the
    * identical merge table.
    *
    * Why rounds are NOT batched (one count job selecting the top-K
    * non-interacting pairs): batching is only semantics-preserving if no
    * pair CREATED by merge #1 can outrank the pre-selected pair #2 — and
    * that can happen. If (a,b) has 100 occurrences and (c,d) 50,
    * sequential BPE may find (x,ab) at 90 after the first merge and pick
    * it next; a batch that pre-committed to (c,d) diverges from every
    * standard tokenizer. The new pair's count is bounded only by the
    * FIRST pair's count, so no cheap gap test makes a batch safe.
    * The scalable shape is therefore one 1-row argmax job per round over
    * the checkpointed |vocab|-row relation (~100 ms/round flat): 50 k
    * merges ≈ 1.5 h of driver-paced control-plane decisions driving
    * cluster-sized counting jobs — the same shape as any iterative
    * trainer, and the corpus-sized work (the initial word-frequency
    * shuffle) happens exactly once.
    */
  // merges are a pure function of the corpus dir (data is immutable), and
  // both ta_bpe_merges and ta_bpe_encode need them — train once per dir
  private val bpeMemo =
    scala.collection.concurrent.TrieMap.empty[String, List[(Int, String, String, String, Long)]]

  private def trainedMerges(s: SparkSession, dir: String): List[(Int, String, String, String, Long)] =
    bpeMemo.getOrElseUpdate(dir, trainMergesImpl(s, dir))

  private def taBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir).toDF("rnk", "left_sym", "right_sym", "merged", "n_pairs")
      .orderBy(col("rnk"))
  }

  private def trainMergesImpl(s: SparkSession, dir: String): List[(Int, String, String, String, Long)] = {
    val wf = documents(s, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .select(col("wf"), concat(lit(" "),
        array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          " "), lit(" ")).as("syms"))
      .cache()
    def topPair(cur: DataFrame): (String, String, Long) = {
      val row = cur
        .select(col("wf"), expr("filter(split(syms, ' '), x -> x != '')").as("a"))
        .select(col("wf"), explode(expr(
          "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
            "(l, r) -> struct(l, r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()(0)
      (row.getString(0), row.getString(1), row.getLong(2))
    }
    val merges = (1 to BpeRounds).foldLeft(
      (wf, List.empty[(Int, String, String, String, Long)])) {
      case ((cur, acc), k) =>
        val (l, r, n) = topPair(cur)
        // localCheckpoint truncates the replace-on-replace lineage: without
        // it round K carries a K-deep expression chain through analysis and
        // execution, so per-round cost grows with K — invisible at 3
        // rounds, fatal at a real tokenizer's 30-50k merges. With it every
        // round re-plans from a materialized |vocab|-row relation and
        // per-round wall time stays flat.
        // Two replace passes per merge = standard greedy left-to-right BPE.
        // A single non-overlapping replace misses back-to-back repeats of
        // the pair (the match consumes the shared boundary space:
        // " a b a b " -> " ab a b "); every miss sits between pass-1
        // merges, so the second pass catches exactly the missed
        // occurrences and nothing more — [a,b,a,b] -> [ab,ab], matching
        // reference BPE.
        val next = cur.select(col("wf"),
          call_function("replace",
            call_function("replace", col("syms"),
              lit(s" $l $r "), lit(s" $l$r ")),
            lit(s" $l $r "), lit(s" $l$r ")).as("syms"))
          .localCheckpoint()
        // the superseded round's blocks are dead the moment `next` is
        // materialized (no-op for the cached round-0 seed)
        org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(cur)
        (next, acc :+ ((k, l, r, l + r, n)))
    }
    // the final round's checkpoint is equally dead: the merge list is all
    // that leaves this function (results are memoized driver-side)
    org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(merges._1)
    wf.unpersist()
    merges._2
  }

  /** Tokenizer APPLICATION — the other half of the BPE loop: encode every
    * document with the [[BpeRounds]] learned merges. The merge table is
    * kilobytes of driver state; encoding is the merge chain folded into ONE
    * whole-stage-codegen projection (two chained `replace` calls per
    * merge on the space-joined symbol string — the same two-pass greedy
    * contract training used), so the corpus is tokenized in a single
    * map-only pass with no shuffle before the per-doc rollup: exactly how
    * a 100 TB corpus meets a trained tokenizer. Output is the per-doc
    * ledger (words, post-merge tokens) — n_tokens < chars proves merges
    * fired; the DuckDB oracle re-derives the merges AND re-encodes, so
    * train and apply are cross-checked end to end.
    */
  /** The learned merge chain folded into ONE codegen projection over a
    * `word` column: chained double-`replace` per merge (same two-pass
    * greedy contract as training — back-to-back repeats of a pair merge
    * like standard BPE).
    */
  private def encodedSyms(merges: List[(Int, String, String, String, Long)]):
      org.apache.spark.sql.Column = {
    val syms0 = concat(lit(" "),
      array_join(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        " "), lit(" "))
    merges.foldLeft(syms0) { case (c, (_, l, r, _, _)) =>
      call_function("replace",
        call_function("replace", c, lit(s" $l $r "), lit(s" $l$r ")),
        lit(s" $l $r "), lit(s" $l$r "))
    }
  }

  private def taBpeEncode(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), explode(toks).as("word"))
      .select(col("doc_id"), encodedSyms(trainedMerges(s, dir)).as("syms"),
        length(col("word")).as("n_chars"))
      .select(col("doc_id"),
        size(expr("filter(split(syms, ' '), x -> x != '')")).as("n_toks"),
        col("n_chars"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Tokenizer FERTILITY by language — tokens per word and per 1000 chars,
    * the standard report for judging how a trained tokenizer treats each
    * language slice of the corpus (high fertility = the vocabulary
    * under-serves that language). Integer milli-metrics (exact `div`) so
    * both engines agree bit-exactly; same map-only encode projection as
    * [[taBpeEncode]], one |langs|-row aggregate.
    */
  private def taBpeFertility(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"), explode(toks).as("word"))
      .select(col("lang"), encodedSyms(trainedMerges(s, dir)).as("syms"),
        length(col("word")).as("n_chars"))
      .select(col("lang"),
        size(expr("filter(split(syms, ' '), x -> x != '')")).as("n_toks"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        expr("(n_tokens * 1000) div n_words").as("toks_per_kword"),
        expr("(n_tokens * 1000) div n_chars").as("toks_per_kchar"))
      .orderBy(col("lang"))

  /** K-ANONYMITY audit over quasi-identifiers (extension, governance twin
    * of the PII scrub): a released training corpus leaks identity not
    * through direct identifiers but through RARE combinations of
    * innocuous attributes — any (lang, source, length-band) cell with
    * fewer than k = 5 members re-identifies its documents. The audit is
    * ONE partial-agg rollup over the quasi-id tuple (never a self-join),
    * emitting the violating cells + member counts — the suppression list
    * a release pipeline withholds or generalizes. Length is banded to
    * 200-char buckets (generalization is the point: raw n_chars would
    * make every row its own cell).
    */
  private def privacyKAnon(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"), col("source"),
        (col("n_chars") / 200).cast("long").as("len_band"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") < 5)
      .orderBy(col("lang"), col("source"), col("len_band"))

  /** Column masking + row-level security as a governed VIEW — the second
    * governance leg beside the k-anonymity audit: what an analyst role
    * actually reads. Row policy: only the tenant's nations (1–3). Column
    * policy: c_custkey → deterministic PSEUDONYM (md5-derived token —
    * stable across runs and tables, so governed joins still work, yet
    * irreversible without the mapping), c_name → masked to its last 3
    * chars, c_acctbal → a 500-unit BAND (generalization), segment kept
    * (analytic utility). Map-only over the dimension — the policy
    * composes under any downstream plan because it IS a projection; at
    * scale the same select wraps fact tables at zero shuffle cost.
    * Everything is deterministic standard SQL (md5/substr/div), so the
    * oracle replays the governed view bit-for-bit.
    */
  /** Column-level LINEAGE extraction ([[graft.plans.ColumnLineage]]): the
    * data-catalog feed, computed from the analyzed plan of a
    * representative two-table rollup — which physical source columns
    * feed each output's VALUE (join keys steer rows, not bytes, so they
    * are not lineage; `COUNT(*)` has no source). Pure plan metadata —
    * zero data work at any scale, which is the whole point: the audit
    * runs as a pre-flight against a 100 TB pipeline's plan. The oracle
    * is the literal expected edge set; a multi-source expression
    * (`l_extendedprice·(1−l_discount)`) must emit one edge per source.
    */
  private def govColumnLineage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
    val pipeline = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("net_revenue"),
        count(lit(1)).as("n_items"))
    graft.plans.ColumnLineage.of(pipeline)
      .toDF("out_col", "src_table", "src_col")
  }

  private def govColumnMask(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .where(col("c_nationkey").between(1, 3))
      .select(
        substring(md5(col("c_custkey").cast("string")), 1, 16).as("pseudo_id"),
        concat(lit("***"), substring(col("c_name"), -3, 3)).as("name_masked"),
        col("c_nationkey"),
        // floor (not truncate): negative balances must band downward the
        // same way in both engines
        floor(round(col("c_acctbal") * 100).cast("long") / 50000.0)
          .cast("long").as("acct_band"),
        col("c_mktsegment"))
      .orderBy(col("pseudo_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gov_column_mask" -> (govColumnMask _),
    "gov_column_lineage" -> (govColumnLineage _),
    "privacy_k_anon" -> (privacyKAnon _),
    "ta_bpe_merges" -> (taBpeMerges _),
    "ta_bpe_encode" -> (taBpeEncode _),
    "ta_bpe_fertility" -> (taBpeFertility _),
    "ta_langid" -> (taLangid _),
    "ta_langid_confusion" -> (taLangidConfusion _),
    "ta_quality_score" -> (taQuality _),
    "ta_token_count" -> (taTokenCount _),
    "ta_fingerprint" -> (taFingerprint _),
    "ta_repetition" -> (taRepetition _),
    "ta_pii_redact" -> (taPiiRedact _),
    "ta_code_detect" -> (taCodeDetect _),
    "ta_vocab_topk" -> (taVocabTopK _),
    "ta_normalize" -> (taNormalize _),
    "ta_lm_familiarity" -> (taLmFamiliarity _),
    "mix_topk_quality" -> (mixTopkQuality _),
    "mix_quality_weighted" -> (mixQualityWeighted _)
  )

  /** Docs kept per language in the quality-selection pass. */
  private val TopKPerLang = 5

  /** Per-language quality selection: keep the top-K docs per lang by the
    * `ta_quality_score` formula (ties broken by doc_id — fully
    * deterministic). The rank-filter idiom is what Catalyst's
    * WindowGroupLimit rule needs: Spark plans a PARTIAL group-limit before
    * the lang shuffle and a FINAL one after (asserted in PlanSpec), so
    * each map task forwards at most K rows per group — the per-partition
    * top-K-heap shape, for free, at any group size.
    */
  private def mixTopkQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents(s, dir)
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .select(col("doc_id"), col("lang"),
        size(col("w")).as("n_words"),
        (size(array_distinct(col("w"))).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("ttr"),
        (stopwordCount(col("w")).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("stop_ratio"))
      .withColumn("quality",
        round(col("ttr") * 0.5 + col("stop_ratio") * 0.3 +
          when(col("n_words") >= 30, 0.2).otherwise(0.0), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))))
      .where(col("rnk") <= TopKPerLang)
      .select(col("lang"), col("rnk"), col("doc_id"), col("quality"))
      .orderBy(col("lang"), col("rnk"))
  }

  private val duckToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

  /** The BPE training replay as a CTE chain (w0 … w[[BpeRounds]]), shared
    * by the train and encode oracles. `word` is carried through every
    * round so the encode oracle can join documents back to their token
    * counts; MATERIALIZED is load-bearing (each w(k) is referenced twice —
    * inlining would re-evaluate the chain 2^rounds times).
    */
  private lazy val bpeOracleChain: String = {
    def round(k: Int): String =
      s""",
         |p$k AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(wf) AS BIGINT) AS n
         |  FROM (
         |    SELECT wf, unnest(a[1:len(a)-1]) AS l, unnest(a[2:len(a)]) AS r
         |    FROM (SELECT wf, list_filter(string_split(syms, ' '), x -> x <> '') AS a
         |          FROM w${k - 1}))
         |  GROUP BY l, r),
         |m$k AS MATERIALIZED (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT word, wf,
         |    replace(replace(syms, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' '),
         |            ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS syms
         |  FROM w${k - 1} CROSS JOIN m$k)""".stripMargin
    s"""w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS wf,
       |    ' ' || array_to_string(
       |      list_transform(range(1, len(word)+1), i -> word[i]), ' ') || ' ' AS syms
       |  FROM (SELECT unnest($duckToks) AS word FROM documents)
       |  GROUP BY word)""".stripMargin + (1 to BpeRounds).map(round).mkString
  }
  private val duckStop =
    Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracleSql: Map[String, String] = Map(
    "gov_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('net_revenue', 'lineitem', 'l_discount'),
        |  ('net_revenue', 'lineitem', 'l_extendedprice'),
        |  ('o_orderpriority', 'orders', 'o_orderpriority'))
        |  AS t(out_col, src_table, src_col)
        |ORDER BY 1, 2, 3""".stripMargin,
    "gov_column_mask" ->
      """SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudo_id,
        |  '***' || substr(c_name, length(c_name) - 2, 3) AS name_masked,
        |  c_nationkey,
        |  CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 50000.0) AS BIGINT)
        |    AS acct_band,
        |  c_mktsegment
        |FROM customer
        |WHERE c_nationkey BETWEEN 1 AND 3
        |ORDER BY pseudo_id""".stripMargin,
    "privacy_k_anon" ->
      """SELECT lang, source, n_chars // 200 AS len_band,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM documents
        |GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY lang, source, len_band""".stripMargin,
    "ta_langid" ->
      s"""SELECT doc_id, stopword_ratio,
         |  CASE WHEN stopword_ratio >= 0.03 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM (
         |  SELECT doc_id,
         |    len(list_filter(w, x -> list_contains($duckStop, x)))::DOUBLE /
         |      greatest(len(w), 1)::DOUBLE AS stopword_ratio
         |  FROM (SELECT doc_id, $duckToks w FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "ta_langid_confusion" ->
      s"""SELECT lang, lang_pred, count(*) AS n FROM (
         |  SELECT lang,
         |    CASE WHEN len(list_filter(w, x -> list_contains($duckStop, x)))::DOUBLE /
         |              greatest(len(w), 1)::DOUBLE >= 0.03
         |         THEN 'en' ELSE 'und' END AS lang_pred
         |  FROM (SELECT lang, $duckToks w FROM documents))
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    "ta_quality_score" ->
      s"""SELECT doc_id, n_words, round(ttr, 6) AS ttr, round(stop_ratio, 6) AS stop_ratio,
         |  round(ttr * 0.5 + stop_ratio * 0.3 +
         |    CASE WHEN n_words >= 30 THEN 0.2 ELSE 0.0 END, 6) AS quality
         |FROM (
         |  SELECT doc_id, len(w) AS n_words,
         |    len(list_distinct(w))::DOUBLE / greatest(len(w), 1)::DOUBLE AS ttr,
         |    len(list_filter(w, x -> list_contains($duckStop, x)))::DOUBLE /
         |      greatest(len(w), 1)::DOUBLE AS stop_ratio
         |  FROM (SELECT doc_id, $duckToks w FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "ta_token_count" ->
      s"""SELECT doc_id, CAST(len($duckToks) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER)
         |    AS bpeish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_fp,
         |  list_min(list_transform(t, x -> md5(x))) AS min_shingle_fp
         |FROM (
         |  SELECT doc_id, text,
         |    CASE WHEN len(w) < 3 THEN []
         |         ELSE list_distinct(list_transform(range(1, len(w)-1),
         |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |    END AS t
         |  FROM (SELECT doc_id, text, $duckToks w FROM documents))
         |ORDER BY doc_id""".stripMargin,
    // Word/bigram histograms rebuilt relationally (unnest → count); the
    // engine counts xxh64 token hashes instead of strings — identical
    // counters modulo 64-bit collisions (~n²/2⁶⁴ per doc).
    "ta_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckToks w FROM documents),
         |wc AS (
         |  SELECT doc_id, word, count(*) AS c
         |  FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY doc_id, word),
         |ws AS (
         |  SELECT doc_id, count(*) AS n_distinct,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
         |  FROM wc GROUP BY doc_id),
         |bc AS (
         |  SELECT doc_id, bg, count(*) AS c
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
         |        FROM t WHERE len(w) >= 2)
         |  GROUP BY doc_id, bg),
         |bs AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |  CASE WHEN len(w) > 0 THEN coalesce(dup_occ, 0)::DOUBLE / len(w)::DOUBLE
         |       ELSE 0.0 END AS dup_word_frac,
         |  CASE WHEN len(w) > 0 THEN coalesce(n_distinct, 0)::DOUBLE / len(w)::DOUBLE
         |       ELSE 0.0 END AS ttr,
         |  CASE WHEN len(w) >= 2 THEN coalesce(top_bg, 0)::DOUBLE / (len(w) - 1)::DOUBLE
         |       ELSE 0.0 END AS top_bigram_frac,
         |  (CASE WHEN len(w) > 0 THEN coalesce(dup_occ, 0)::DOUBLE / len(w)::DOUBLE
         |        ELSE 0.0 END) <= $MaxDupWordFrac
         |    AND (CASE WHEN len(w) >= 2 THEN coalesce(top_bg, 0)::DOUBLE / (len(w) - 1)::DOUBLE
         |             ELSE 0.0 END) <= $MaxTopBigramFrac AS keep
         |FROM t LEFT JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "ta_code_detect" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $codeFixtureSql) AS v(doc_id, text)),
         |m AS (
         |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[{}()\\[\\];=<>*+#]', '', 'g')) AS INTEGER) AS n_sym
         |  FROM docs)
         |SELECT doc_id, n_chars, n_sym, n_sym * 25 > n_chars AS is_code
         |FROM m ORDER BY doc_id""".stripMargin,
    "ta_pii_redact" ->
      s"""WITH fixture AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $piiFixtureSql) AS v(doc_id, text))
         |SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INTEGER) AS n_phones,
         |  regexp_replace(t, '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_emails,
         |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS t
         |  FROM fixture)
         |ORDER BY doc_id""".stripMargin,
    "ta_vocab_topk" ->
      s"""SELECT word, count(*) AS n
         |FROM (SELECT unnest($duckToks) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word LIMIT $VocabK""".stripMargin,
    // the merge rounds unrolled; parallel unnest zips the adjacent
    // symbol slices, and the double replace() shares the engine's
    // two-pass greedy contract. Every per-round CTE is MATERIALIZED — each
    // w(k) is referenced twice (pair count + next round's replace), so
    // inlined CTEs would re-evaluate the whole chain per reference:
    // 2^rounds scans of the corpus at 16 rounds (the engine's
    // localCheckpoint plays the same lineage-capping role)
    "ta_bpe_merges" -> {
      val out = (1 to BpeRounds).map(k =>
        s"SELECT $k AS rnk, l AS left_sym, r AS right_sym, l || r AS merged, n AS n_pairs FROM m$k")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeOracleChain
         |$out
         |ORDER BY rnk""".stripMargin
    },
    // same training replay, then the APPLY side: every word's w16 symbol
    // string IS its token sequence, joined back to the per-doc word list
    "ta_bpe_encode" ->
      s"""WITH $bpeOracleChain,
         |tok AS MATERIALIZED (
         |  SELECT word, len(list_filter(string_split(syms, ' '), x -> x <> '')) AS n_toks
         |  FROM w$BpeRounds)
         |SELECT d.doc_id, count(*) AS n_words, CAST(sum(t.n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(d.word)) AS BIGINT) AS n_chars
         |FROM (SELECT doc_id, unnest($duckToks) AS word FROM documents) d
         |JOIN tok t ON d.word = t.word
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // fertility = the encode replay grouped by language; integer
    // milli-metrics via floor division (both operands positive, so
    // DuckDB's // and Spark's div agree)
    "ta_bpe_fertility" ->
      s"""WITH $bpeOracleChain,
         |tok AS MATERIALIZED (
         |  SELECT word, len(list_filter(string_split(syms, ' '), x -> x <> '')) AS n_toks
         |  FROM w$BpeRounds)
         |SELECT d.lang, count(*) AS n_words, CAST(sum(t.n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(d.word)) AS BIGINT) AS n_chars,
         |  CAST((CAST(sum(t.n_toks) AS BIGINT) * 1000) // count(*) AS BIGINT) AS toks_per_kword,
         |  CAST((CAST(sum(t.n_toks) AS BIGINT) * 1000) // CAST(sum(len(d.word)) AS BIGINT)
         |    AS BIGINT) AS toks_per_kchar
         |FROM (SELECT lang, unnest($duckToks) AS word FROM documents) d
         |JOIN tok t ON d.word = t.word
         |GROUP BY d.lang
         |ORDER BY d.lang""".stripMargin,
    // lower(nfc_normalize(..)) mirrors the engine's NFC-then-lowercase
    // order; RE2's \s and Java's \s agree on every whitespace char that
    // can appear here (divergence is only U+000B, absent by construction).
    "ta_normalize" ->
      s"""WITH alldocs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $unicodeFixtureSql) AS v(doc_id, text))
         |SELECT doc_id,
         |  trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm_text,
         |  (trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) <> text)
         |    AS changed
         |FROM alldocs ORDER BY doc_id""".stripMargin,
    // String trigram shingles mirror the engine's hashed ones — identical
    // counts modulo 64-bit collisions (the decontaminate_ngram_overlap
    // caveat). The left join keeps shingle-less (<3-token) docs at zero.
    "ta_lm_familiarity" ->
      s"""WITH tok AS (${DedupOps.duckShingled("")}),
         |g AS (SELECT doc_id, unnest(t) AS g FROM tok),
         |m AS (SELECT g, count(*) AS df FROM g GROUP BY g),
         |s AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    CAST(sum(df) AS BIGINT) AS familiarity,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM g JOIN m USING (g) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(s.n_shingles, 0) AS n_shingles,
         |  coalesce(s.familiarity, 0) AS familiarity,
         |  coalesce(s.n_novel, 0) AS n_novel
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "mix_quality_weighted" ->
      s"""SELECT doc_id, lang, quality FROM (
         |  SELECT doc_id, lang,
         |    round(ttr * 0.5 + stop_ratio * 0.3 +
         |      CASE WHEN n_words >= 30 THEN 0.2 ELSE 0.0 END, 6) AS quality
         |  FROM (
         |    SELECT doc_id, lang, len(w) AS n_words,
         |      len(list_distinct(w))::DOUBLE / greatest(len(w), 1)::DOUBLE AS ttr,
         |      len(list_filter(w, x -> list_contains($duckStop, x)))::DOUBLE /
         |        greatest(len(w), 1)::DOUBLE AS stop_ratio
         |    FROM (SELECT doc_id, lang, $duckToks w FROM documents)))
         |WHERE substr(md5(doc_id::VARCHAR), 29, 2) <
         |  printf('%02x', least(CAST(round(quality * 256) AS INTEGER), 255))
         |ORDER BY doc_id""".stripMargin,
    "mix_topk_quality" ->
      s"""SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id, quality FROM (
         |  SELECT lang, doc_id, quality,
         |    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rnk
         |  FROM (
         |    SELECT doc_id, lang,
         |      round(ttr * 0.5 + stop_ratio * 0.3 +
         |        CASE WHEN n_words >= 30 THEN 0.2 ELSE 0.0 END, 6) AS quality
         |    FROM (
         |      SELECT doc_id, lang, len(w) AS n_words,
         |        len(list_distinct(w))::DOUBLE / greatest(len(w), 1)::DOUBLE AS ttr,
         |        len(list_filter(w, x -> list_contains($duckStop, x)))::DOUBLE /
         |          greatest(len(w), 1)::DOUBLE AS stop_ratio
         |      FROM (SELECT doc_id, lang, $duckToks w FROM documents))))
         |WHERE rnk <= $TopKPerLang ORDER BY lang, rnk""".stripMargin
  )
}
