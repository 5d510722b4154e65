package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.{jaccardSorted, tokens}

/** Reproducible corpus sampling and splitting — the training-mix
  * construction ops a 100 TB pipeline runs daily (downsample dominant
  * languages, carve stable train/val/test splits, audit length
  * distributions).
  *
  * Everything gates on a content-stable hash of the document identity
  * (the last hex nibble of `md5(doc_id)` — 16 uniform buckets), NOT on
  * `rand()`: retries, re-runs on different cluster sizes, and other
  * engines (the DuckDB oracle recomputes the same md5) select the exact
  * same rows, so a training snapshot is a pure function of the corpus.
  * The gate is a map-only filter evaluated at the scan — no shuffle, no
  * sampling state, no seed bookkeeping — and the split assignment never
  * has to be stored: it can always be re-derived from the id.
  */
object SamplingOps extends QueryFamily {

  /** Last hex nibble of md5(doc_id): '0'..'f', uniform by construction. */
  private def bucket: Column =
    substring(md5(col("doc_id").cast("string")), 32, 1)

  private def documents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Stratified mix sampling: keep 8/16 of English, 12/16 of Chinese, all
    * of everything else — the classic rebalance of a web-crawl corpus
    * before training. Hex-string compares make the keep-rate an exact
    * bucket count in both engines.
    */
  private def mixStratifiedSample(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .where(
        when(col("lang") === "en", bucket < lit("8"))
          .when(col("lang") === "zh", bucket < lit("c"))
          .otherwise(lit(true)))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split (12/2/2 of 16 buckets), reported
    * as per-(split, lang) counts — the mix audit a pipeline prints before
    * a training run.
    */
  private def sampleSplit(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"),
        when(bucket < lit("c"), lit("train"))
          .when(bucket < lit("e"), lit("val"))
          .otherwise(lit("test")).as("split"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))

  /** Exact length-distribution quartiles per language (ordered-statistics
    * aggregate). Exact `percentile`, not `approx_percentile`: the sketch
    * is engine-specific, the interpolated exact quantile is portable (and
    * per-group exact percentiles over a pre-aggregated (value, count)
    * domain stay cheap at corpus scale when values are bounded ints).
    */
  private def statsPercentiles(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_chars, 0.25)"), 6).as("p25"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.75)"), 6).as("p75"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))
      .orderBy(col("lang"))

  /** Test-set decontamination: every test-split document that is a
    * near-duplicate (trigram Jaccard ≥ [[DedupOps.JaccardThreshold]]) of a
    * TRAIN-split document — the leakage check every training pipeline must
    * run before evaluating. Candidates come from the same MinHash banded
    * equality join as `dedup_minhash_lsh`, restricted across the splits
    * (test bands ⋈ train bands — at 100 TB the test side is tiny and
    * broadcastable, the train side reuses the persisted signature index),
    * then exact-Jaccard verified. Same completeness argument as the dedup
    * family: no corpus pair sits in the (0.15, 0.8) Jaccard gap, and the
    * 21 × 3 banding misses a J ≥ 0.8 pair with p ≤ 2.9e-7 (≥5σ — see the
    * DedupOps banding constants).
    */
  private def decontaminateTestSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val train = docs.where(bucket < lit("c"))
    val test = docs.where(bucket >= lit("e"))
    val candidates = IncrementalDedupOps.bandRows(test).as("te")
      .join(IncrementalDedupOps.bandRows(train).as("tr"),
        col("te.band_idx") === col("tr.band_idx") &&
          col("te.band_hash") === col("tr.band_hash"))
      .select(col("te.doc_id").as("test_id"), col("tr.doc_id").as("train_id"))
      .distinct()
    val testSh = DedupOps.shingled(test)
      .select(col("doc_id").as("test_id"), col("sh_hashes").as("te_sh"))
    val trainSh = DedupOps.shingled(train)
      .select(col("doc_id").as("train_id"), col("sh_hashes").as("tr_sh"))
    candidates
      .join(testSh, "test_id")
      .join(trainSh, "train_id")
      .select(col("test_id"), col("train_id"),
        jaccardSorted(col("te_sh"), col("tr_sh")).as("j"))
      .where(col("j") >= DedupOps.JaccardThreshold)
      .orderBy(col("test_id"), col("train_id"))
  }

  /** Doc-frequency cap for contamination n-grams: a gram seen in more
    * training docs than this is boilerplate, not leakage signal — and at
    * corpus scale those grams are exactly the skew hot keys of the
    * inverted-index join, so the cap is both a semantic and a shuffle
    * guard. No fixture gram comes near it (SamplingSpec asserts), so the
    * oracle stays an exact mirror.
    */
  private[graft] val NgramDocFreqCap = 100L

  /** Exact n-gram-overlap decontamination (the GPT-3-style check, distinct
    * from the Jaccard one): every (test, train) pair sharing at least one
    * exact 8-token window, with the count of shared distinct windows.
    * Engine shape: native one-pass 8-gram hashes (map-only), explode to an
    * inverted index of NARROW (id, gram-hash) rows, doc-frequency-cap the
    * training side, then an equality join on the hash — the test side is
    * tiny by construction and broadcasts. No text moves through the
    * shuffle, and nothing is ever all-pairs.
    */
  private def decontaminateNgramOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    def grams(df: DataFrame, idCol: String): DataFrame =
      df.select(col("doc_id").as(idCol),
        explode(expr("graft_ngram8_hashes(text)")).as("g"))
    val test = grams(docs.where(bucket >= lit("e")), "test_id")
    val train = grams(docs.where(bucket < lit("c")), "train_id")
    val capped = train.join(
      train.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .where(col("df") <= NgramDocFreqCap)
        .select(col("g")),
      "g")
    test.join(capped, "g")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("test_id"), col("train_id"))
  }

  /** Token budget per pack — a handful of documents per pack at the
    * corpus's typical document length.
    */
  private[graft] val PackBudget = 2000

  /** Token-budget packing: assign documents to fixed-budget shards by a
    * running token sum — the sequence-packing / sharding pass that turns a
    * filtered corpus into trainer-sized chunks. The running sum is
    * PARTITIONED (here by lang; at 100 TB by hash shard): each partition's
    * prefix sum is an independent window, so there is never a global
    * single-partition sort — the sequential dependency is bounded by shard
    * size by construction. Integer division keeps pack ids engine-exact.
    */
  private def packTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    documents(s, dir)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - tok) div $PackBudget"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy(col("lang"), col("pack_id"))
  }

  /** Epoch-expansion weights: sources ending in an even digit are seen
    * twice per training epoch, a designated high-quality source four
    * times, everything else once — the standard up-weighting move when
    * composing a training mix from heterogeneous sources.
    */
  private def epochFactor: Column =
    when(col("source") === "src7", 4)
      .when(substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"), 2)
      .otherwise(1)

  /** Weighted mixture expansion: materialize per-source repeat factors as
    * (doc_id, copy_idx) rows — the deterministic replacement for "sample
    * with replacement by source weight". Map-only row generation (explode
    * of a tiny per-row sequence; no shuffle except the final sort); at
    * corpus scale the expansion factor is the storage cost, which is the
    * point of making it an explicit, auditable operator rather than a
    * sampler's side effect.
    */
  private def mixEpochExpand(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("source"), epochFactor.as("n_epochs"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_epochs"))).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))

  private[graft] val ChunkSize = 50
  private[graft] val ChunkStride = 40

  /** Fixed-token chunking with overlap (size 50, stride 40): the map-only
    * explode that turns documents into trainer-context windows. Chunk idx
    * ranges over every stride offset that still has tokens; the trailing
    * chunk is short. Pure per-row row generation — no shuffle except the
    * final sort; at 100 TB this runs as a projection in the ingest pass.
    */
  private def chunkFixedTokens(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), expr(s"(n_tok - 1) div $ChunkStride"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("start_tok"),
        least(lit(ChunkSize.toLong), col("n_tok") - col("chunk_idx") * ChunkStride)
          .as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Sentence-BOUNDARY-aware chunking (the quality upgrade over
    * [[chunkFixedTokens]]'s mid-sentence cuts): sentences are the atoms —
    * split on terminal punctuation, token-counted, and packed greedily
    * into ≤ 50-token chunks by the reset-free prefix-sum trick
    * `chunk_id = (cum − 1) div 50` (a sentence goes wholly to the chunk
    * its cumulative END lands in, so no sentence is ever split;
    * a sentence longer than the budget overflows its chunk rather than
    * splitting — exactly the property trainers want at context
    * boundaries). Chunk ids are budget-WINDOW indexes: strictly
    * increasing per doc, but an oversized sentence skips windows, so
    * they are not dense (a trainer wanting dense ranks applies one more
    * window over this |chunks|-sized output). One doc_id shuffle for the ordered window, rollup per
    * (doc, chunk) after; both split regexes and the integer assignment
    * replay bit-exactly in DuckDB.
    *
    * Boundary set: terminal punctuation — plus the standalone token
    * "the" as a corpus-appropriate stand-in, because the synthetic
    * fixture text is punctuation-free (one giant "sentence" per doc
    * would make the packing vacuous); with a ~30-word vocabulary the
    * article fires every ~2-3 dozen tokens, giving realistic
    * multi-sentence packing. No lookaround in the pattern — the oracle
    * runs on RE2, which has none.
    */
  private[graft] val SentBoundary = "[.!?]\\s+|\\sthe\\s"

  private def chunkSentenceBound(s: SparkSession, dir: String): DataFrame = {
    val sents = documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), SentBoundary)).as(Seq("sent_idx", "sent")))
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
        size(expr("filter(split(lower(sent), '\\\\s+'), x -> x != '')"))
          .cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
    sents.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk_id", expr(s"(cum - 1) div $ChunkSize"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sents"), sum(col("n_tok")).as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  private[graft] val LenBucket = 64

  /** Length-bucketed batching audit: bucket documents by token count
    * (width 64) and report per-bucket document count, the bucket's max
    * length, and the padding the bucket would waste if padded to its own
    * max — the score a batch scheduler minimizes (pad-to-longest cost).
    * All integer math; one partial-agg shuffle on the bucket id.
    */
  private def batchLengthBuckets(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bucket", expr(s"n_tok div $LenBucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_tok"),
        (max(col("n_tok")) * count(lit(1)) - sum(col("n_tok"))).as("pad_tokens"))
      .orderBy(col("bucket"))

  /** Exact per-stratum quota sampling: exactly `QuotaPerLang` docs per
    * language (or the whole stratum when it's smaller), selected by
    * hash order so the choice is reproducible and unbiased — the eval-set
    * construction shape ("exactly 1 000 held-out docs per language"),
    * complementing `mix_stratified_sample`'s keep-RATE gating. Ordering by
    * (md5(doc_id), doc_id) is a random-but-stable permutation per stratum;
    * `row_number ≤ quota` plans a map-side partial WindowGroupLimit, so
    * each partition forwards at most `quota` rows per stratum into the
    * single stratum shuffle — no global sort, no full-stratum
    * materialization.
    */
  private val QuotaPerLang = 40

  private def mixExactQuota(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= QuotaPerLang)
      .orderBy(col("lang"), col("rnk"))
  }

  /** Pearson correlation (chars vs tokens, per language) from EXACT integer
    * moments. Spark's `corr` (and DuckDB's) accumulates doubles in
    * partition order — non-deterministic across engines and cluster
    * layouts. Here the whole integer pipeline — per-row products, the five
    * moment sums (Σx, Σy, Σxy, Σx², Σy²), and the discriminant products —
    * runs in DECIMAL(38,0) on the engine side and HUGEINT (128-bit) on the
    * oracle side: exact to ~1e38 on both, which covers 1e12 rows of
    * 1e9-char documents (a 100 TB corpus leaves the moments near 1e20 —
    * far past BIGINT's 9.2e18, where a long sum would WRAP SILENTLY, the
    * worst divergence mode). Past 1e38 both engines fail loudly/nullably
    * rather than producing a plausible wrong number. The only float ops
    * are one exact-integer→double cast each, one product, one sqrt, one
    * division: every step correctly rounded, so round(·, 6) is
    * bit-identical everywhere.
    * One partial-agg shuffle on lang; the formula runs on |langs| rows.
    */
  private def statsCorrExact(s: SparkSession, dir: String): DataFrame =
    corrExactByGroup(
      documents(s, dir)
        .select(col("lang"), col("n_chars").as("x"),
          size(tokens(col("text"))).cast("long").as("y")),
      "lang")

  /** Schema/data profiling — the first pass every pipeline runs on a new
    * source: per-column row count, null count, and EXACT distinct count
    * over the events table, one row per column. All six distinct-counts
    * run in ONE aggregation job (Catalyst plans multi-distinct via Expand
    * — a single pass over the fact table, ×|columns| expanded rows, each
    * with map-side partial aggregation), then the 1-row aggregate unpivots
    * via `stack`. At 100 TB swap `countDistinct` for
    * `approx_count_distinct` per column (the HLL++ audit shape
    * `stats_approx_distinct` already grades that trade).
    */
  private def statsColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val cols = Seq("event_id", "event_type", "props", "ts", "user_id", "value")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      countDistinct(col(c)).as(s"dist_$c")))
    ev.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', n, null_$c, dist_$c").mkString(", ") +
          ") as (col_name, n_rows, n_null, n_distinct)"))
      .orderBy(col("col_name"))
  }

  /** The exact-moment corr pipeline over arbitrary (group, x, y) rows —
    * factored out so the overflow spec can drive it at adversarial
    * magnitudes that the documents fixture never reaches.
    */
  private[graft] def corrExactByGroup(rows: DataFrame, groupCol: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    rows
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("x"))).as("sx"), sum(d19(col("y"))).as("sy"),
        sum(d19(col("x")) * d19(col("y"))).as("sxy"),
        sum(d19(col("x")) * d19(col("x"))).as("sxx"),
        sum(d19(col("y")) * d19(col("y"))).as("syy"))
      .select(col(groupCol), col("n"),
        when(
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) === 0 ||
            (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))) === 0, lit(null))
          .otherwise(round(
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast("double") /
              sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast("double") *
                (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).cast("double")), 6))
          .as("corr_chars_tokens"))
      .orderBy(col(groupCol))
  }

  /** Temperature-scaled source rebalance (α = 0.5): the standard move that
    * up-weights small high-quality sources relative to the dominant crawl
    * before composing a training mix. Weights are RELATIVE to the largest
    * source — `rel_weight = sqrt(n_i / n_max)` — deliberately NOT
    * normalized over a Σ of square roots: a sum of irrationals is
    * float-order-dependent across engines, while one exact integer ratio
    * into one correctly-rounded sqrt is bit-identical everywhere. One
    * partial-agg shuffle collapses the corpus to |sources| rows; the max
    * is a window over that tiny rollup.
    */
  private def mixTemperatureWeights(s: SparkSession, dir: String): DataFrame = {
    val counts = documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    counts
      .withColumn("n_max", max(col("n_docs")).over(Window.partitionBy()))
      .select(col("source"), col("n_docs"),
        round(sqrt(col("n_docs").cast("double") / col("n_max").cast("double")), 6)
          .as("rel_weight"))
      .orderBy(col("source"))
  }

  /** Languages present at every shipped SF — the pivot's EXPLICIT value
    * list (an implicit pivot would run an extra distinct-values job and
    * make the output schema data-dependent; at 100 TB the schema must be
    * declared, not discovered).
    */
  private[graft] val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  /** Pivot (reshape) operator: the source × language document-count matrix
    * as a WIDE table — the mix-composition report read side-by-side. One
    * partial-agg shuffle on source; the lang dimension folds into
    * conditional aggregates (exactly how the DuckDB oracle expresses it,
    * and how Catalyst lowers pivot with an explicit value list).
    * SamplingSpec round-trips it through `unpivot` back to the long form.
    */
  private def mixPivotMatrix(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)))
      .na.fill(0L, PivotLangs)
      .orderBy(col("source"))

  /** Set operations over two sampling gates — INTERSECT / EXCEPT / UNION
    * with set (dedup) semantics, the split-audit algebra ("how much does
    * the quota eval set overlap the stratified training mix?"). Spark's
    * set operators plan as aggregates/joins on the key — at 100 TB each is
    * one shuffle on doc_id, no driver materialization. Reported as counts
    * so the output is a 4-row audit.
    */
  private def setOpsSplits(s: SparkSession, dir: String): DataFrame = {
    val strat = mixStratifiedSample(s, dir).select(col("doc_id"))
    val quota = mixExactQuota(s, dir).select(col("doc_id"))
    def tagged(df: DataFrame, op: String): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    tagged(strat.intersect(quota), "intersect")
      .unionByName(tagged(strat.except(quota), "strat_minus_quota"))
      .unionByName(tagged(quota.except(strat), "quota_minus_strat"))
      .unionByName(tagged(strat.union(quota).distinct(), "union"))
      .orderBy(col("op"))
  }

  /** Deterministic global training order ("the shuffle" in the data-prep
    * sense): every epoch's example order is the sort by a content-stable
    * hash key, so it is reproducible across reruns, cluster sizes, and
    * engines — no RNG state, no materialized permutation table (the order
    * re-derives from the ids). At scale the full order is never collected:
    * a trainer's reader range-partitions on the same key (Spark's sort IS
    * range partitioning + per-partition sort), and this query pins the
    * head-of-order preview via TakeOrderedAndProject — the top-100 is
    * found with a per-partition heap, not a global sort. Salting the hash
    * with an epoch number reshuffles every epoch; epoch 0 shown here.
    */
  private def mixGlobalShuffle(s: SparkSession, dir: String): DataFrame = {
    val skey = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
    val head = documents(s, dir)
      .select(col("doc_id"), col("lang"), skey.as("skey"))
      .orderBy(col("skey")).limit(100)
    // rank the 100-row preview (window over the already-limited set)
    head.withColumn("pos", row_number().over(Window.orderBy(col("skey"))))
      .select(col("pos").cast("long").as("pos"), col("doc_id"), col("lang"), col("skey"))
  }

  /** MULTISET set operations (INTERSECT ALL / EXCEPT ALL), completing
    * §2.7 beside the set-semantic `set_ops_splits`: per-user event
    * multiplicities matter here — a user with 3 views and 1 click
    * contributes 1 to the intersection and 2 to the difference, which
    * DISTINCT set ops collapse to 1/0. Spark plans both as a single
    * count-aggregate per side + generator replay (never a join per
    * duplicate), the scalable multiset shape.
    */
  private def setOpsMultiset(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val views = ev.where(col("event_type") === "view").select(col("user_id"))
    val clicks = ev.where(col("event_type") === "click").select(col("user_id"))
    def tagged(df: DataFrame, op: String): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    tagged(views.intersectAll(clicks), "intersect_all")
      .unionByName(tagged(views.exceptAll(clicks), "views_minus_clicks_all"))
      .unionByName(tagged(clicks.exceptAll(views), "clicks_minus_views_all"))
      .unionByName(tagged(views.union(clicks), "union_all"))
      .orderBy(col("op"))
  }

  /** Curriculum ordering — the training-data sequencing op: documents
    * march through difficulty PHASES (length bands as the difficulty
    * proxy), and WITHIN a phase the sources interleave round-robin so no
    * contiguous run over-exposes one source. The scale trick is the
    * CLOSED-FORM sequence key: `seq = rank_in_source · 100 + src_idx`
    * (100 > source count) reproduces the round-robin order with only a
    * per-(phase, source) window — there is NO global row_number over the
    * corpus, which at 100 TB would funnel every row through one
    * partition. Writers emit in (phase, seq_key) order via an ordinary
    * range-partitioned sort.
    */
  private def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("phase"), col("source")).orderBy(col("doc_id"))
    documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("phase",
        when(col("n_chars") < 256, 0L).when(col("n_chars") < 512, 1L)
          .when(col("n_chars") < 1024, 2L).otherwise(3L))
      .withColumn("src_idx",
        regexp_extract(col("source"), "(\\d+)", 1).cast("long"))
      .withColumn("seq_key",
        row_number().over(w).cast("long") * 100 + col("src_idx"))
      .select(col("doc_id"), col("phase"), col("src_idx"), col("seq_key"))
      .orderBy(col("phase"), col("seq_key"), col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "set_ops_multiset" -> (setOpsMultiset _),
    "mix_global_shuffle" -> (mixGlobalShuffle _),
    "set_ops_splits" -> (setOpsSplits _),
    "mix_temperature_weights" -> (mixTemperatureWeights _),
    "mix_curriculum" -> (mixCurriculum _),
    "mix_pivot_matrix" -> (mixPivotMatrix _),
    "stats_corr_exact" -> (statsCorrExact _),
    "stats_column_profile" -> (statsColumnProfile _),
    "chunk_fixed_tokens" -> (chunkFixedTokens _),
    "chunk_sentence_bound" -> (chunkSentenceBound _),
    "batch_length_buckets" -> (batchLengthBuckets _),
    "mix_stratified_sample" -> (mixStratifiedSample _),
    "mix_exact_quota" -> (mixExactQuota _),
    "mix_split_counts" -> (sampleSplit _),
    "stats_length_percentiles" -> (statsPercentiles _),
    "decontaminate_test_split" -> (decontaminateTestSplit _),
    "decontaminate_ngram_overlap" -> (decontaminateNgramOverlap _),
    "pack_token_budget" -> (packTokenBudget _),
    "mix_epoch_expand" -> (mixEpochExpand _)
  )

  val oracleSql: Map[String, String] = Map(
    "set_ops_multiset" ->
      """WITH v AS (SELECT user_id FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id FROM events WHERE event_type = 'click')
        |SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT user_id FROM v INTERSECT ALL SELECT user_id FROM c)
        |UNION ALL
        |SELECT 'views_minus_clicks_all', CAST(count(*) AS BIGINT)
        |  FROM (SELECT user_id FROM v EXCEPT ALL SELECT user_id FROM c)
        |UNION ALL
        |SELECT 'clicks_minus_views_all', CAST(count(*) AS BIGINT)
        |  FROM (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM v)
        |UNION ALL
        |SELECT 'union_all', CAST(count(*) AS BIGINT)
        |  FROM (SELECT user_id FROM v UNION ALL SELECT user_id FROM c)
        |ORDER BY op""".stripMargin,
    "mix_global_shuffle" ->
      """SELECT CAST(row_number() OVER (ORDER BY skey) AS BIGINT) AS pos,
        |  doc_id, lang, skey
        |FROM (
        |  SELECT doc_id, lang, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents ORDER BY skey LIMIT 100)
        |ORDER BY pos""".stripMargin,
    "mix_curriculum" ->
      """SELECT doc_id, phase, src_idx, seq_key FROM (
        |  SELECT doc_id, phase,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) AS src_idx,
        |    CAST(row_number() OVER (PARTITION BY phase, source ORDER BY doc_id)
        |      AS BIGINT) * 100
        |      + CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) AS seq_key
        |  FROM (
        |    SELECT doc_id, source,
        |      CASE WHEN n_chars < 256 THEN 0 WHEN n_chars < 512 THEN 1
        |           WHEN n_chars < 1024 THEN 2 ELSE 3 END AS phase
        |    FROM documents))
        |ORDER BY phase, seq_key, doc_id""".stripMargin,
    "mix_pivot_matrix" -> {
      val cells = PivotLangs.map(l =>
        s"CAST(count(*) FILTER (lang = '$l') AS BIGINT) AS \"$l\"").mkString(",\n  ")
      s"""SELECT source,
         |  $cells
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "stats_column_profile" -> {
      val cols = Seq("event_id", "event_type", "props", "ts", "user_id", "value")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM events""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "stats_corr_exact" ->
      """WITH t AS (
        |  SELECT lang, n_chars AS x,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                         v -> v <> '')) AS BIGINT) AS y
        |  FROM documents),
        |m AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
        |    CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy
        |  FROM t GROUP BY lang)
        |SELECT lang, n,
        |  CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0
        |         OR n::HUGEINT * syy - sy::HUGEINT * sy = 0 THEN NULL
        |       ELSE round((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE /
        |              sqrt((n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE
        |                 * (n::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE), 6)
        |  END AS corr_chars_tokens
        |FROM m ORDER BY lang""".stripMargin,
    "mix_temperature_weights" ->
      """SELECT source, n_docs,
        |  round(sqrt(n_docs::DOUBLE / (max(n_docs) OVER ())::DOUBLE), 6) AS rel_weight
        |FROM (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        |ORDER BY source""".stripMargin,
    "set_ops_splits" ->
      s"""WITH strat AS (
         |  SELECT doc_id FROM documents
         |  WHERE CASE WHEN lang = 'en' THEN substr(md5(doc_id::VARCHAR), 32, 1) < '8'
         |             WHEN lang = 'zh' THEN substr(md5(doc_id::VARCHAR), 32, 1) < 'c'
         |             ELSE true END),
         |quota AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rnk
         |    FROM documents)
         |  WHERE rnk <= $QuotaPerLang)
         |SELECT 'intersect' AS op, count(*) AS n
         |  FROM (SELECT doc_id FROM strat INTERSECT SELECT doc_id FROM quota)
         |UNION ALL
         |SELECT 'strat_minus_quota', count(*)
         |  FROM (SELECT doc_id FROM strat EXCEPT SELECT doc_id FROM quota)
         |UNION ALL
         |SELECT 'quota_minus_strat', count(*)
         |  FROM (SELECT doc_id FROM quota EXCEPT SELECT doc_id FROM strat)
         |UNION ALL
         |SELECT 'union', count(*)
         |  FROM (SELECT doc_id FROM strat UNION SELECT doc_id FROM quota)
         |ORDER BY op""".stripMargin,
    "chunk_sentence_bound" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(text, '[.!?]\\s+|\\sthe\\s')) AS sent,
         |    generate_subscripts(string_split_regex(text, '[.!?]\\s+|\\sthe\\s'), 1) AS sent_idx
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, sent_idx,
         |    CAST(len(list_filter(string_split_regex(lower(sent), '\\s+'),
         |                         x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM s),
         |c AS (
         |  SELECT doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY doc_id ORDER BY sent_idx) AS cum
         |  FROM tk WHERE n_tok > 0)
         |SELECT doc_id, CAST((cum - 1) // $ChunkSize AS BIGINT) AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_sents,
         |  CAST(sum(n_tok) AS BIGINT) AS chunk_tokens
         |FROM c GROUP BY doc_id, 2
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "chunk_fixed_tokens" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                         x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT doc_id, unnest(range(0, (n_tok - 1) // $ChunkStride + 1)) AS chunk_idx,
         |  unnest(range(0, (n_tok - 1) // $ChunkStride + 1)) * $ChunkStride AS start_tok,
         |  least($ChunkSize,
         |    n_tok - unnest(range(0, (n_tok - 1) // $ChunkStride + 1)) * $ChunkStride)
         |    AS chunk_tokens
         |FROM t WHERE n_tok > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "batch_length_buckets" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                         x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT n_tok // $LenBucket AS bucket, count(*) AS n_docs,
         |  max(n_tok) AS max_tok,
         |  CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS pad_tokens
         |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    "mix_epoch_expand" ->
      """SELECT doc_id, source, unnest(range(1, n_epochs + 1)) AS copy_idx
        |FROM (
        |  SELECT doc_id, source,
        |    CASE WHEN source = 'src7' THEN 4
        |         WHEN substr(source, len(source), 1) IN ('0','2','4','6','8') THEN 2
        |         ELSE 1 END AS n_epochs
        |  FROM documents)
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "mix_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE WHEN lang = 'en' THEN substr(md5(doc_id::VARCHAR), 32, 1) < '8'
        |           WHEN lang = 'zh' THEN substr(md5(doc_id::VARCHAR), 32, 1) < 'c'
        |           ELSE true END
        |ORDER BY doc_id""".stripMargin,
    "mix_exact_quota" ->
      s"""SELECT doc_id, lang, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= $QuotaPerLang ORDER BY lang, rnk""".stripMargin,
    "mix_split_counts" ->
      """SELECT split, lang, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN substr(md5(doc_id::VARCHAR), 32, 1) < 'c' THEN 'train'
        |         WHEN substr(md5(doc_id::VARCHAR), 32, 1) < 'e' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "stats_length_percentiles" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 6) AS p75,
        |  round(quantile_cont(n_chars, 0.95), 6) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Exhaustive test×train trigram-Jaccard truth the banded candidate
    // generation must equal (same completeness argument as
    // dedup_minhash_lsh: no corpus pair sits in the (0.15, 0.8) Jaccard
    // gap, and the 21 × 3 banding is a ≥5σ bet at J ≥ 0.8).
    // Enumerated via posting-list candidates — provably the same pair set
    // as the cross theta join it replaced (J ≥ 0.5 > 0 requires a shared
    // shingle; see DedupOps.duckPairs), tractable inside the oracle box.
    "decontaminate_test_split" ->
      s"""WITH tok AS (${DedupOps.duckShingled("")}),
         |post AS (SELECT doc_id, unnest(t) AS g FROM tok),
         |cand AS (
         |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id, count(*) AS inter
         |  FROM (SELECT * FROM post WHERE substr(md5(doc_id::VARCHAR), 32, 1) >= 'e') te
         |  JOIN (SELECT * FROM post WHERE substr(md5(doc_id::VARCHAR), 32, 1) < 'c') tr
         |    ON te.g = tr.g
         |  GROUP BY 1, 2)
         |SELECT test_id, train_id,
         |  inter::DOUBLE / (ta.n + tb.n - inter)::DOUBLE AS j
         |FROM cand
         |JOIN (SELECT doc_id, len(t) AS n FROM tok) ta ON ta.doc_id = test_id
         |JOIN (SELECT doc_id, len(t) AS n FROM tok) tb ON tb.doc_id = train_id
         |WHERE inter::DOUBLE / (ta.n + tb.n - inter)::DOUBLE
         |  >= ${DedupOps.JaccardThreshold}
         |ORDER BY test_id, train_id""".stripMargin,
    // String 8-grams mirror the engine's hashed ones — identical pair
    // counts modulo 64-bit collisions. Same doc-frequency cap both sides.
    "decontaminate_ngram_overlap" ->
      s"""WITH w8 AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) < 8 THEN []
         |    ELSE list_distinct(list_transform(range(1, len(w)-6), i ->
         |      w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
         |      w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]))
         |    END) AS g
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
         |        FROM documents)),
         |te AS (SELECT doc_id AS test_id, g FROM w8
         |       WHERE substr(md5(doc_id::VARCHAR), 32, 1) >= 'e'),
         |tr AS (SELECT doc_id AS train_id, g FROM w8
         |       WHERE substr(md5(doc_id::VARCHAR), 32, 1) < 'c'),
         |trc AS (SELECT train_id, g FROM tr
         |        JOIN (SELECT g FROM tr GROUP BY g
         |              HAVING count(*) <= $NgramDocFreqCap) USING (g))
         |SELECT test_id, train_id, count(*) AS n_shared
         |FROM te JOIN trc USING (g)
         |GROUP BY test_id, train_id
         |ORDER BY test_id, train_id""".stripMargin,
    "pack_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                         x -> x <> '')) AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT lang, tok,
         |    CAST(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM t)
         |SELECT lang, (cum - tok) // $PackBudget AS pack_id,
         |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin
  )
}
