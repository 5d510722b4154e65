package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (`vec_id`, `embedding:
  * array<float>`, `label`) — the ANN component of the LLM-pipeline operator
  * set.
  *
  * Tiers:
  *   - `embed_neardup_cosine` — near-duplicate detection, multi-table
  *     sign-LSH candidates (analytic miss ≤ 1e-12 at the cosine ≥ 0.99
  *     contract, corpus-size-derived bits) → exact-cosine verify (the
  *     embedding member of the dedup family);
  *   - `ann_bruteforce_topk` — exact top-k for a broadcast query set: one
  *     linear scan of the corpus, the correctness baseline;
  *   - `ann_lsh_recall` / `ann_ivf_recall` — the bucketed ANN paths, graded
  *     by joining their top-k against the brute-force truth: one row per
  *     query point, recall@k thresholded. Everything is deterministic
  *     (fixed hyperplanes, fixed centroids, fixed probe set), so these ARE
  *     DuckDB-oracle-able — the oracle asserts every query point clears
  *     the floor; SimilaritySpec additionally asserts mean recall ≥ 0.9.
  *   - `embed_pq_codes` — product quantization, the third classical index
  *     family and the one that SHRINKS the corpus (4 nibble codes per
  *     vector here). The registered query is the bit-exact-oracled
  *     ENCODER; the ADC-shortlist + exact-rerank search (`annPqTopk`) is
  *     spec-graded with floors honest for this corpus (uniform random
  *     vectors are PQ's pathological case — no subspace cluster structure;
  *     LSH is the high-recall path here).
  *
  * All vector math is native codegen ([[graft.functions.NativeVector]]):
  * cosine is one compiled pass, and sign-LSH signatures are a map-only
  * projection — no posexplode→groupBy, no Exchange before the bucket join.
  *
  * Scale notes (the 100 TB shape): candidates always come from equality
  * joins on narrow hash keys (packed band longs / centroid ids) with the
  * query side broadcast — never a cross join against the corpus
  * (PlanSpec-pinned). On THIS corpus — uniform random vectors, no cluster
  * structure, 10th-neighbor cosine ~0.24-0.32, barely above the random-pair
  * distribution — hitting a 0.9 recall floor forces generous probe
  * parameters (32×4-bit tables, radius-1 probing; nprobe 8/16 lists with
  * 3-way redundant assignment).
  * Real embedding corpora cluster, widening the true-pair/random-pair
  * signature gap, so the same plan prunes far harder at the same recall;
  * the parameters are per-deployment knobs, the plan shape is not.
  */
object SimilarityOps extends QueryFamily {

  private val TopK = 10

  /** Multi-table sign-LSH config for the ANN path: 32 tables × 4 bits,
    * radius-1 multi-probe on the query side. Tuned on the driver corpus for
    * per-query recall ≥ [[LshRecallFloor]] at every shipped scale factor
    * (measured mean recall ≥ 0.97 at sf0.001/0.01/0.1; `ann_lsh_recall`
    * re-checks the floor on every oracle run).
    */
  private val LshBands = 32
  private val LshBits = 4
  private val LshSeed = 1337

  /** Near-dup gate contract: any pair with cosine ≥ [[NeardupCosine]] is
    * nominated for the exact verify with miss probability ≤
    * [[NeardupTargetMiss]] (over the seeded hyperplane draw). The gate is a
    * multi-table sign-LSH family: `bands` tables of `bits` hyperplanes,
    * radius-1 multi-probe on ONE side of the candidate join, so a pair
    * collides when ANY band's two signatures are within hamming 1.
    */
  private val NeardupCosine = 0.99
  private val NeardupTargetMiss = 1e-12

  /** Bucket granularity grows with the corpus so the expected bucket
    * occupancy (and with it the within-bucket verify cost) stays ~O(1)
    * rows per bucket per table: 2^bits ≈ 16·n. Floor 12 keeps tiny corpora
    * honestly bucketed; cap 32 is the packed-key-width limit of
    * [[graft.functions.LshKeysExpr]] — beyond n ≈ 2^28 vectors, shard the
    * corpus (by source/time) before the gate, which a 100 TB pipeline does
    * anyway.
    */
  private[graft] def neardupBits(n: Long): Int = {
    val b = math.ceil(math.log(n.max(2).toDouble) / math.log(2)).toInt + 4
    math.min(32, math.max(12, b))
  }

  /** Smallest table count L with (1 − f)^L ≤ [[NeardupTargetMiss]], where
    * f = P[one band's signatures land within hamming 1] at the contract
    * angle θ = acos([[NeardupCosine]]): with p = 1 − θ/π per hyperplane,
    * f = p^bits + bits·p^(bits−1)·(1−p). Pairs ABOVE the contract cosine
    * collide strictly more often, so the bound holds corpus-wide.
    */
  private[graft] def neardupBands(bits: Int): Int = {
    val p = 1.0 - math.acos(NeardupCosine) / math.Pi
    val f = math.pow(p, bits) + bits * math.pow(p, bits - 1) * (1 - p)
    math.max(1, math.ceil(math.log(NeardupTargetMiss) / math.log1p(-f)).toInt)
  }
  /** IVF: centroids = the `vec_id < nlists` corpus sample; each corpus
    * vector is indexed under its `IvfAssign` nearest lists (redundant
    * assignment — the standard fix for neighbors straddling a Voronoi
    * boundary, at `IvfAssign`× index size); queries probe their `nprobe`
    * nearest lists.
    */
  private val IvfNprobeFloor = 8
  private val IvfAssign = 3

  /** Corpus-derived IVF list count ≈ √n/2 (floor 16): posting lists stay
    * ~2√n long, so a query's `nprobe` lists are O(√n) work instead of the
    * brute-force O(n). At 100 TB the lists are the partition key; this is
    * the knob that keeps any one list smaller than an executor.
    */
  private[graft] def ivfNlists(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.max(1L).toDouble) / 2).toInt)

  /** Probe count rides the list count (half the lists, floor 8) so the
    * probed fraction — and with it the recall floor — survives the
    * list-count growth; absolute per-query work still shrinks ~√n-fold
    * versus brute force.
    */
  private[graft] def ivfNprobe(nlists: Int): Int =
    math.max(IvfNprobeFloor, (nlists + 1) / 2)
  /** Per-query-point recall floors asserted by the oracle
    * (`ann_lsh_recall` / `ann_ivf_recall`). Measured minima across
    * sf0.001/0.01/0.1 by a bands/bits/nprobe sweep (SCALE.md "Sweep
    * hygiene" has its recovery line): LSH 1.00 at every query point
    * (analytic per-neighbor miss ≈ 5e-8 at the 10th-NN angle), IVF 0.90.
    * The floors sit well under those; SimilaritySpec asserts the means.
    */
  private val LshRecallFloor = 0.9
  private val IvfRecallFloor = 0.5

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Alternating ±12.5 % per-coordinate scaling: a deterministic NEAR-but-
    * not-exact copy. With ε = 1/8 and ρ = (Σ±e_i²)/(Σe_i²) ∈ (−1, 1), the
    * pair's cosine is (1+ερ)/√(1+2ερ+ε²) ∈ [√(1−ε²), 1) = [0.99216, 1) —
    * always inside the c ≥ 0.99 contract, never exactly 1. Both factors
    * (9/8, 7/8) are exact binary floats, so DuckDB replays the float
    * arithmetic bit-identically (double multiply + round-to-float ≡ float
    * multiply; a float×float product always fits a double exactly).
    */
  private def perturb(e: Column): Column =
    transform(e, (x, i) =>
      x * when(i % 2 === 0, lit(1.125f)).otherwise(lit(0.875f)))

  /** Corpus plus planted duplicates: ×2-scaled exact copies (cosine
    * exactly 1) per 50th vector, and alternating-scaled NEAR copies
    * (cosine ≈ 0.992, see [[perturb]]) per (50k+10)th vector. The raw
    * corpus has no pair above ~0.8, so the planted pairs are the complete
    * c ≥ 0.99 truth set — and the near copies exercise exactly the case a
    * single scale-invariant signature could miss.
    */
  private def neardupFixture(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding")).unionByName(
      e.where(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      .unionByName(
        e.where(col("vec_id") % 50 === 10)
          .select((col("vec_id") + 300000).as("vec_id"),
            perturb(col("embedding")).as("embedding")))

  /** Embedding near-dup: multi-table sign-LSH candidate generation (one
    * side emits its `bands` index keys, the other additionally every 1-bit
    * flip — a pair is nominated when ANY band lands within hamming 1),
    * then exact cosine ≥ 0.99 verification of the DISTINCT candidate id
    * pairs only. Analytic guarantee: miss ≤ 1e-12 per qualifying pair (see
    * [[neardupBands]]) — this holds for genuinely near (not just scaled)
    * pairs, unlike a single scale-invariant signature. Key generation is a
    * single native expression — map-only, no shuffle before the equality
    * join; candidates are narrow (a_id, b_id) rows and embeddings are
    * fetched back by id join for the verify, so the wide vectors never
    * ride through the candidate dedup.
    */
  private def embedNeardup(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddings(s, dir)
    val bits = neardupBits(corpus.count())
    val bands = neardupBands(bits)
    val base = neardupFixture(corpus)
    val exact = base.select(col("vec_id").as("a_id"),
      explode(expr(s"graft_lsh_keys(embedding, $bands, $bits, $LshSeed, 0)")).as("key"))
    val probed = base.select(col("vec_id").as("b_id"),
      explode(expr(s"graft_lsh_keys(embedding, $bands, $bits, $LshSeed, 1)")).as("key"))
    val cand = exact.join(probed, Seq("key"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(base.select(col("vec_id").as("a_id"), col("embedding").as("a_e")), "a_id")
      .join(base.select(col("vec_id").as("b_id"), col("embedding").as("b_e")), "b_id")
      .select(col("a_id"), col("b_id"), round(cosine(col("a_e"), col("b_e")), 6).as("c"))
      .where(col("c") >= 0.99)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding-space decontamination — the third decontamination leg next
    * to MinHash similarity (`decontaminate_test_split`) and exact 8-gram
    * overlap (`decontaminate_ngram_overlap`): drop from the TRAIN split
    * any vector whose embedding sits at cosine ≥ 0.99 to a TEST vector —
    * the paraphrase-shaped contamination that string n-grams cannot see.
    * Split = md5 nibble gate on vec_id (test ≈ 2/16 buckets), the same
    * deterministic device as `mix_split_counts`; planted contamination =
    * alternating-scaled copies ([[perturb]], cosine ≈ 0.992) of every 4th
    * test vector injected into train. Candidates come from the same
    * multi-table sign-LSH gate as [[embedNeardup]] (test side exact keys,
    * train side radius-1 probes), exact cosine verifies — work ∝
    * candidates, never |test|×|train|. Oracle = the exhaustive test×train
    * join, so the banded gate is graded against brute-force truth.
    */
  private def decontaminateEmbed(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddings(s, dir)
    val gate = substring(md5(col("vec_id").cast("string")), 32, 1)
    val test = corpus.where(gate < lit("2")).select(col("vec_id"), col("embedding"))
    val trainBase = corpus.where(gate >= lit("2")).select(col("vec_id"), col("embedding"))
    val planted = test.where(col("vec_id") % 4 === 1)
      .select((col("vec_id") + 500000).as("vec_id"),
        perturb(col("embedding")).as("embedding"))
    val train = trainBase.unionByName(planted)
    val bits = neardupBits(corpus.count())
    val bands = neardupBands(bits)
    val tKeys = test.select(col("vec_id").as("test_id"),
      explode(expr(s"graft_lsh_keys(embedding, $bands, $bits, $LshSeed, 0)")).as("key"))
    val trKeys = train.select(col("vec_id").as("train_id"),
      explode(expr(s"graft_lsh_keys(embedding, $bands, $bits, $LshSeed, 1)")).as("key"))
    val cand = tKeys.join(trKeys, Seq("key"))
      .select(col("test_id"), col("train_id")).distinct()
    cand
      .join(test.select(col("vec_id").as("test_id"), col("embedding").as("t_e")), "test_id")
      .join(train.select(col("vec_id").as("train_id"), col("embedding").as("tr_e")), "train_id")
      .select(col("train_id"), col("test_id"),
        round(cosine(col("tr_e"), col("t_e")), 6).as("c"))
      .where(col("c") >= 0.99)
      .orderBy(col("train_id"), col("test_id"))
  }

  // ------- incremental embedding dedup: batch vs persisted signature index

  /** `(vec_id, key)` multi-table signature-index rows — the same banded
    * family the near-dup gate uses (`bands` packed longs per vector;
    * `probeRadius = 1` additionally emits every 1-bit flip, the batch side
    * of the candidate join). `bands`·8 bytes of key per vector keeps the
    * index register-narrow next to the vectors themselves; at cluster
    * scale it is persisted hash-bucketed on `key` so only the (small)
    * daily batch side shuffles.
    */
  def embedIndexRows(vectors: DataFrame, bands: Int, bits: Int,
                     probeRadius: Int = 0): DataFrame = {
    vectors.select(col("vec_id"),
      explode(expr(s"graft_lsh_keys(embedding, $bands, $bits, $LshSeed, $probeRadius)"))
        .as("key"))
  }

  /** The family parameters a persisted index was built with, pinned at
    * creation in a one-row parquet sidecar (`<indexPath>_params`) — every
    * later append and probe MUST reuse them, or keys stop being
    * comparable across files.
    */
  def embedIndexParams(spark: SparkSession, indexPath: String): Option[(Int, Int)] =
    if (graft.util.Fs.exists(spark, indexPath + "_params"))
      spark.read.parquet(indexPath + "_params").select(col("bands"), col("bits"))
        .collect().headOption.map(r => (r.getInt(0), r.getInt(1)))
    else None

  /** Append a batch's signature rows to the persisted index (write-once
    * files; append adds new files, never rewrites existing ones). The
    * first append derives (bands, bits) from the batch size and pins them
    * in the sidecar; subsequent appends reuse the pinned values.
    *
    * Ordering contract: rows are made durable BEFORE the sidecar is
    * pinned, so a crash between the two leaves rows-without-params — a
    * state every reader and every later append fails CLOSED on — and
    * never params-without-rows, which readers would silently trust as a
    * valid empty index whose derived family may not match the rows a
    * concurrent first-appender was writing.
    */
  def appendToEmbedIndex(vectors: DataFrame, indexPath: String): Unit = {
    val spark = vectors.sparkSession
    embedIndexParams(spark, indexPath) match {
      case Some((bands, bits)) =>
        embedIndexRows(vectors, bands, bits).write.mode(SaveMode.Append).parquet(indexPath)
      case None =>
        if (graft.util.Fs.hasParquetFiles(spark, indexPath))
          throw new IllegalStateException(
            s"index $indexPath has rows but no params sidecar " +
              "(interrupted first append?) — rebuild the index")
        val bits = neardupBits(vectors.count())
        val bands = neardupBands(bits)
        embedIndexRows(vectors, bands, bits).write.mode(SaveMode.Append).parquet(indexPath)
        import spark.implicits._
        Seq((bands, bits)).toDF("bands", "bits").write.mode(SaveMode.Overwrite)
          .parquet(indexPath + "_params")
    }
  }

  /** Near-dups of `batch` against vectors already in the index: the batch
    * emits its banded keys plus every 1-bit flip (radius-1 multi-probe),
    * candidates are the key equality join against the index (miss ≤ 1e-12
    * for any pair at cosine ≥ 0.99 — covers genuinely near pairs, not
    * just scaled copies), then exact-cosine verification of the candidates
    * only — corpus embeddings are fetched by joining the touched ids, not
    * by re-scanning or re-signaturing the corpus.
    */
  def dedupAgainstEmbedIndex(batch: DataFrame, corpusVectors: DataFrame,
                             indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val (bands, bits) = embedIndexParams(spark, indexPath).getOrElse(
      throw new IllegalStateException(s"no params sidecar for index $indexPath"))
    // the parquet file listing is captured HERE, so the lazy result is
    // pinned to the index as of this call — appending the batch afterwards
    // cannot feed it back into its own candidate set
    val index = spark.read.parquet(indexPath)
    val candidates = embedIndexRows(batch, bands, bits, probeRadius = 1).as("n")
      .join(index.as("i"), col("n.key") === col("i.key"))
      .select(col("n.vec_id").as("new_id"), col("i.vec_id").as("corpus_id"))
      .distinct()
    candidates
      .join(batch.select(col("vec_id").as("new_id"), col("embedding").as("n_e")), "new_id")
      .join(corpusVectors.select(col("vec_id").as("corpus_id"), col("embedding").as("c_e")),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        round(cosine(col("n_e"), col("c_e")), 6).as("c"))
      .where(col("c") >= 0.99)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** Today's batch, three planted populations against the corpus:
    *   - ×2-scaled copies of every 50th vector — cosine exactly 1, the
    *     easy case (any scale-invariant signature collides);
    *   - alternating-scaled NEAR copies of every (50k+10)th vector —
    *     cosine ≈ 0.992 but NOT 1 (see [[perturb]]): the case a single
    *     signature could miss, which the multi-table multi-probe family
    *     nominates with miss ≤ 1e-12;
    *   - negated copies of every (50k+25)th vector — cosine −1: every
    *     band's signature is the exact complement (hamming = bits ≥ 2),
    *     so the gate never even nominates them, and any random bucket
    *     collision of unrelated vectors is rejected by the exact verify.
    *
    * Oracle soundness: the `embed_incremental` oracle is the EXHAUSTIVE
    * batch×corpus cosine join at c ≥ 0.99. The gate's analytic miss bound
    * (≤ 1e-12 per qualifying pair, [[neardupBands]]) makes gate ≡
    * exhaustive-join deterministic in practice under the fixed seed; the
    * raw corpus tops out near cosine ~0.3 across batch×corpus, so the
    * planted populations are the complete truth set at every shipped
    * scale factor.
    */
  private def embedBatch(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .unionByName(
        e.where(col("vec_id") % 50 === 25)
          .select((col("vec_id") + 200000).as("vec_id"),
            transform(col("embedding"), x => x * lit(-1.0f)).as("embedding")))
      .unionByName(
        e.where(col("vec_id") % 50 === 10)
          .select((col("vec_id") + 300000).as("vec_id"),
            perturb(col("embedding")).as("embedding")))

  /** Registered query: index the corpus, dedup the day's batch against the
    * index, then append the batch (the next day's batch would see it).
    */
  private def embedIncremental(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val batch = embedBatch(corpus)
    val indexPath = s"${graft.util.TempDirs.create("graft_embed_idx_")}/index"
    appendToEmbedIndex(corpus, indexPath)
    val pairs = dedupAgainstEmbedIndex(batch, corpus, indexPath)
    appendToEmbedIndex(batch, indexPath)
    pairs
  }

  /** Query vectors: every 100th id — present at every scale factor. */
  private def querySet(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"))

  /** Exact top-k cosine for a small broadcast query set: the corpus is
    * scanned ONCE (no shuffle of embeddings), cosines are native codegen,
    * and only (q × corpus) score rows reach the per-query top-k window.
    */
  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val scored = e.crossJoin(broadcast(querySet(e)))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_e"), col("embedding")), 6).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= TopK)
      .orderBy(col("q_id"), col("rn"))
  }

  /** The bucketed LSH ANN path: corpus vectors emit one packed band key per
    * table (map-only native expression), queries emit the same keys plus
    * every 1-bit flip (multi-probe), and candidates are the equality join
    * of the two key streams — query side broadcast, corpus never shuffled.
    * Top-k then ranks candidates only.
    */
  def annLshTopk(s: SparkSession, dir: String,
                 nBands: Int = LshBands, bits: Int = LshBits): DataFrame = {
    val e = embeddings(s, dir)
    val corpusKeys = e.select(col("vec_id"), col("embedding"),
      explode(expr(s"graft_lsh_keys(embedding, $nBands, $bits, $LshSeed, 0)")).as("key"))
    val probes = querySet(e).select(col("q_id"), col("q_e"),
      explode(expr(s"graft_lsh_keys(q_e, $nBands, $bits, $LshSeed, 1)")).as("key"))
    val candidates = corpusKeys.join(broadcast(probes), Seq("key"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_e"), col("embedding")), 6).as("c"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    candidates.withColumn("rn", row_number().over(w))
      .where(col("rn") <= TopK)
      .orderBy(col("q_id"), col("rn"))
  }

  /** The IVF (inverted-file) ANN path: a fixed set of coarse centroids
    * partitions the corpus into posting lists; each query probes only its
    * `nprobe` nearest lists. Per-query work is O(corpus/nlists × nprobe):
    * at 100 TB the posting lists are the partition key and a query touches
    * `nprobe` of the [[ivfNlists]] corpus-derived partitions instead of
    * all of them. Centroids here are a deterministic corpus sample
    * (vec_id < nlists — present at every sf); a production build would
    * k-means them, which only changes centroid quality, not the plan
    * shape.
    */
  def annIvfTopk(s: SparkSession, dir: String, nprobe: Int = 0,
                 assignFactor: Int = IvfAssign): DataFrame = {
    val e = embeddings(s, dir)
    // nlists scales with the corpus; nprobe (when not pinned) rides it
    val nlists = ivfNlists(e.count())
    val probeN = if (nprobe > 0) nprobe else ivfNprobe(nlists)
    val cent = e.where(col("vec_id") < nlists)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
    // assignment: every vector → its assignFactor nearest centroids (one
    // broadcast pass; redundant assignment trades index size for recall)
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("ac").desc, col("c_id"))
    val assign = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        cosine(col("embedding"), col("c_e")).as("ac"))
      .withColumn("rn", row_number().over(aw)).where(col("rn") <= assignFactor)
      .select(col("vec_id"), col("embedding"), col("c_id"))
    // queries probe their nprobe nearest posting lists
    val qw = Window.partitionBy(col("q_id")).orderBy(col("qc").desc, col("c_id"))
    val probes = querySet(e).crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_e"), col("c_id"), cosine(col("q_e"), col("c_e")).as("qc"))
      .withColumn("rn", row_number().over(qw)).where(col("rn") <= probeN)
      .select(col("q_id"), col("q_e"), col("c_id"))
    val candidates = assign.join(broadcast(probes), Seq("c_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_e"), col("embedding")), 6).as("c"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    candidates.withColumn("rn", row_number().over(w))
      .where(col("rn") <= TopK)
      .orderBy(col("q_id"), col("rn"))
  }

  private val PqM = 4           // subspaces (dim 64 → 4 × 16)
  private val PqDsub = 16
  private val PqCodes = 64      // codewords per subspace
  private val PqShortlist = 100 // ADC shortlist size before exact rerank

  /** L2² between two float subvectors — fixed left-to-right fold, so the
    * value is one deterministic double per pair in any partitioning.
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, t) => acc + t)

  /** (id, m, sub): the M-subvector view of a vector relation. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), explode(array((0 until PqM).map { m =>
      struct(lit(m).as("m"), slice(col(vecCol), m * PqDsub + 1, PqDsub).as("sub"))
    }: _*)).as("x"))
      .select(col(idCol), col("x.m").as("m"), col("x.sub").as("sub"))

  /** The PQ codebook as ONE broadcastable row (array of (m, j, c_sub)
    * structs) — like the k-means centroid row, this is what makes encoding
    * MAP-ONLY: every vector computes its 4 argmins against the broadcast
    * array with zero shuffle. (The join+window formulation would push a
    * codes×subspaces-expanded relation — 256 rows per vector — through an
    * Exchange; at 100 TB that shuffle IS the job, so it must not exist.)
    */
  private def pqCodebookRow(e: DataFrame): DataFrame =
    subvectors(
      e.where(col("vec_id") < PqCodes)
        .select(col("vec_id").cast("int").as("j"), col("embedding")),
      "j", "embedding")
      .select(col("m"), col("j"), col("sub").as("c_sub"))
      .agg(sort_array(collect_list(struct(col("m"), col("j"), col("c_sub")))).as("cb"))

  /** (vec_id, code0..code3) via map-only argmin per subspace; ties → lowest
    * codeword id ((d, j) lexicographic struct min, the oracle's ORDER BY).
    */
  private def pqCodesWide(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(pqCodebookRow(e)))
      .select(col("vec_id") +: (0 until PqM).map { m =>
        array_min(transform(
          filter(col("cb"), c => c.getField("m") === m),
          c => struct(
            l2sq(slice(col("embedding"), m * PqDsub + 1, PqDsub), c.getField("c_sub")).as("d"),
            c.getField("j").as("j"))))
          .getField("j").as(s"code$m")
      }: _*)

  /** The PQ (product-quantization) ANN path — the third classical index
    * family next to LSH and IVF, and the one that actually SHRINKS the
    * corpus: each 64-float vector becomes M=4 byte-wide codes (16 B → 4 B
    * here; 256 B → 8 B for production float32×64). Codebooks are a
    * deterministic corpus sample per subspace (vec_id < [[PqCodes]] = 64 —
    * the same sampling convention as the IVF centroids; production
    * k-means only changes codebook quality, not the plan). Search is the textbook two stages:
    *  1. ADC — the query precomputes its distance to every codeword (a
    *     M×codes table, broadcast), then each corpus CODE row is scored by
    *     pure table lookup: an equi-join on (m, code) + a 4-term sum. No
    *     float vectors are touched; at 100 TB this scans the 4-byte code
    *     column only.
    *  2. Exact rerank of the ADC shortlist (top `PqShortlist` per query)
    *     with true cosines — candidate-sized work.
    * The per-subspace ADC partials are folded in fixed m-order (four
    * conditional single-row sums, not a float groupBy-sum), so every ADC
    * score is run-deterministic and the recall row set is hash-stable.
    */
  def annPqTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cents = subvectors(
      e.where(col("vec_id") < PqCodes)
        .select(col("vec_id").cast("int").as("j"), col("embedding")),
      "j", "embedding")
      .select(col("m"), col("j"), col("sub").as("c_sub"))
    // map-only encoding (see pqCodesWide), unpivoted to the narrow
    // (vec_id, m, code) relation the ADC lookup joins on
    val codes = pqCodesWide(e)
      .select(col("vec_id"), explode(array((0 until PqM).map { m =>
        struct(lit(m).as("m"), col(s"code$m").as("code"))
      }: _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.code").as("code"))
    // ADC distance table: query × every codeword of every subspace
    val dtable = subvectors(querySet(e), "q_id", "q_e")
      .join(broadcast(cents), Seq("m"))
      .select(col("q_id"), col("m"), col("j").as("code"),
        l2sq(col("sub"), col("c_sub")).as("qd"))
    // score = Σ_m qd[m, code_m(x)] — four single-row sums added in fixed order
    val adc = codes.join(broadcast(dtable), Seq("m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(when(col("m") === 0, col("qd"))).as("d0"),
        (1 until PqM).map(m =>
          sum(when(col("m") === m, col("qd"))).as(s"d$m")): _*)
      .select(col("q_id"), col("vec_id"),
        (0 until PqM).map(m => col(s"d$m")).reduce(_ + _).as("adc"))
      .where(col("vec_id") =!= col("q_id"))
    val sw = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val shortlist = adc.withColumn("rn", row_number().over(sw))
      .where(col("rn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    // exact rerank of the shortlist only
    val reranked = shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(querySet(e)), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_e"), col("embedding")), 6).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
    reranked.withColumn("rn", row_number().over(w))
      .where(col("rn") <= TopK)
      .orderBy(col("q_id"), col("rn"))
  }

  def pqRecall(s: SparkSession, dir: String): DataFrame =
    recallVsExact(s, dir, annPqTopk(s, dir))

  /** The registered PQ operator: the ENCODER, bit-exact-oracled. Each
    * vector's 4 codes are deterministic argmins over the sampled codebook
    * (ties → lowest codeword id), every distance a fixed-order fold over
    * exact casts — so DuckDB replays the identical encoding and the hash
    * check covers the whole codebook + assignment pipeline. (The ADC
    * search stage on top is `annPqTopk`, exercised in SimilaritySpec with
    * recall floors honest for THIS corpus — uniform random vectors are
    * PQ's pathological case; see the header note. The encoder, not the
    * search heuristic, is the part with an exact contract.)
    */
  private def embedPqCodes(s: SparkSession, dir: String): DataFrame =
    pqCodesWide(embeddings(s, dir)).orderBy(col("vec_id"))

  /** Two-stage retrieval with TRUNCATED-dimension candidates (the
    * Matryoshka / dimension-reduction serving shape): stage 1 scores the
    * corpus on only the first [[TruncDims]] of 64 dimensions — at scale
    * that is a scan of a quarter of the vector bytes (or a separate
    * narrow column) — keeps a per-query shortlist of
    * `TopK ×` [[TruncShortlistX]], and stage 2 reranks ONLY the shortlist
    * with full-dimension cosine. The registered query grades stage-1
    * recall against the full-dimension brute force, pinning what the
    * cheaper scan costs in quality on THIS corpus — uniform-random
    * embeddings are the worst case for prefix truncation (no energy
    * compaction), so the floor is honest, not flattering.
    */
  private[graft] val TruncDims = 16
  private[graft] val TruncShortlistX = 8

  def annTruncatedRerank(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = querySet(e)
    val shortlist = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"), col("q_e"),
        round(cosine(slice(col("q_e"), 1, TruncDims),
          slice(col("embedding"), 1, TruncDims)), 6).as("c16"))
    val w16 = Window.partitionBy(col("q_id")).orderBy(col("c16").desc, col("vec_id"))
    val candidates = shortlist.withColumn("rn16", row_number().over(w16))
      .where(col("rn16") <= TopK * TruncShortlistX)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(cosine(col("q_e"), col("embedding")), 6).desc, col("vec_id"))
    candidates.withColumn("rn", row_number().over(w))
      .where(col("rn") <= TopK)
      .select(col("q_id"), col("vec_id"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  private[graft] def truncRecallProbe(s: SparkSession, dir: String): Seq[Double] =
    recallVsExact(s, dir, annTruncatedRerank(s, dir))
      .collect().map(_.getDouble(1)).toSeq.sorted

  /** Recall@k of an approximate top-k against the brute-force truth: one
    * row per query point. Both sides break score ties identically
    * (c desc, vec_id), so recall is a fixed number per corpus and config —
    * which is what makes the ANN paths hash-checkable.
    */
  private def recallVsExact(s: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    val exact = annBruteforce(s, dir).select(col("q_id"), col("vec_id"))
    val hits = exact.join(approx.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_at_k"))
  }

  /** Registered form: per-query recall floor as a boolean (the oracle pins
    * every row true; the raw recall feeds SimilaritySpec's mean asserts).
    */
  private def recallQuery(s: SparkSession, dir: String, approx: DataFrame,
                          floor: Double): DataFrame =
    recallVsExact(s, dir, approx)
      .select(col("q_id"), (col("recall_at_k") >= floor).as("recall_ok"))
      .orderBy(col("q_id"))

  def lshRecall(s: SparkSession, dir: String): DataFrame =
    recallVsExact(s, dir, annLshTopk(s, dir))

  def ivfRecall(s: SparkSession, dir: String): DataFrame =
    recallVsExact(s, dir, annIvfTopk(s, dir))

  /** Int8 quantization of the embedding column — the compression pass a
    * 100 TB vector store runs before serving (4× smaller than float32).
    * Per-vector affine codes: `code = round((x − min) · 255 / (max − min))`
    * in [0, 255]. The emitted audit columns are deliberately
    * order-INDEPENDENT or exact-integer (min/max are single exact values,
    * the code checksum is integer arithmetic, the reconstruction error is
    * a max, not a mean), so no cross-engine float-summation-order question
    * exists and DuckDB reproduces every value bit-exactly. Map-only —
    * one projection, no shuffle except the final sort.
    */
  private def embedQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    // lambdas reference the NAMED min/max/span columns — re-deriving
    // array_min inside the element lambda would evaluate it per element
    def code(x: Column): Column =
      round((x.cast("double") - col("__mn")) * 255 / col("__span")).cast("long")
    def err(x: Column): Column =
      abs(x.cast("double") - (col("__mn") + code(x).cast("double") * col("__span") / 255))
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), e,
        size(e).as("n_dims"), array_min(e).cast("double").as("__mn"),
        array_max(e).cast("double").as("__mx"),
        (array_max(e).cast("double") - array_min(e).cast("double")).as("__span"))
      .select(col("vec_id"), col("n_dims"),
        round(col("__mn"), 6).as("mn"), round(col("__mx"), 6).as("mx"),
        when(col("__span") > 0,
          aggregate(transform(col("embedding"), code(_)), lit(0L), (a, c) => a + c))
          .otherwise(lit(0L)).as("code_sum"),
        when(col("__span") > 0, round(array_max(transform(col("embedding"), err(_))), 6))
          .otherwise(lit(0.0)).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_neardup_cosine" -> (embedNeardup _),
    "decontaminate_embed" -> (decontaminateEmbed _),
    "embed_incremental" -> (embedIncremental _),
    "embed_quantize_int8" -> (embedQuantizeInt8 _),
    "ann_bruteforce_topk" -> (annBruteforce(_, _)),
    "ann_lsh_recall" -> ((s, d) => recallQuery(s, d, annLshTopk(s, d), LshRecallFloor)),
    "ann_ivf_recall" -> ((s, d) => recallQuery(s, d, annIvfTopk(s, d), IvfRecallFloor)),
    "embed_pq_codes" -> (embedPqCodes _)
  )

  val oracleSql: Map[String, String] = Map(
    "decontaminate_embed" ->
      """WITH test AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE substr(md5(vec_id::VARCHAR), 32, 1) < '2'),
        |train AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE substr(md5(vec_id::VARCHAR), 32, 1) >= '2'
        |  UNION ALL
        |  SELECT vec_id + 500000,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i]::DOUBLE *
        |             (CASE WHEN (i - 1) % 2 = 0 THEN 1.125 ELSE 0.875 END) AS FLOAT))
        |  FROM test WHERE vec_id % 4 = 1)
        |SELECT train_id, test_id, c FROM (
        |  SELECT tr.vec_id AS train_id, t.vec_id AS test_id,
        |    round(list_cosine_similarity(tr.embedding::DOUBLE[], t.embedding::DOUBLE[]), 6) AS c
        |  FROM train tr CROSS JOIN test t)
        |WHERE c >= 0.99 ORDER BY train_id, test_id""".stripMargin,
    "embed_quantize_int8" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims,
        |  round(mn, 6) AS mn, round(mx, 6) AS mx,
        |  CASE WHEN span > 0 THEN CAST(list_sum(list_transform(e,
        |         x -> CAST(round((x - mn) * 255 / span) AS BIGINT))) AS BIGINT)
        |       ELSE 0 END AS code_sum,
        |  CASE WHEN span > 0 THEN round(list_max(list_transform(e,
        |         x -> abs(x - (mn + CAST(round((x - mn) * 255 / span) AS BIGINT)
        |                          * span / 255)))), 6)
        |       ELSE 0.0 END AS max_abs_err
        |FROM (
        |  SELECT vec_id, embedding, embedding::DOUBLE[] AS e,
        |    list_min(embedding::DOUBLE[]) AS mn,
        |    list_max(embedding::DOUBLE[]) AS mx,
        |    list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[]) AS span
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    // the perturbed branch replays graft's float arithmetic exactly:
    // float×float products fit a DOUBLE exactly, so DOUBLE-multiply +
    // round-to-FLOAT ≡ Spark's FLOAT multiply (factors 9/8, 7/8 are exact)
    "embed_neardup_cosine" ->
      """WITH fx AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(embedding, x -> x * 2)
        |  FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL
        |  SELECT vec_id + 300000,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i]::DOUBLE *
        |             (CASE WHEN (i - 1) % 2 = 0 THEN 1.125 ELSE 0.875 END) AS FLOAT))
        |  FROM embeddings WHERE vec_id % 50 = 10)
        |SELECT a_id, b_id, c FROM (
        |  SELECT a.vec_id a_id, b.vec_id b_id,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) c
        |  FROM fx a JOIN fx b ON a.vec_id < b.vec_id)
        |WHERE c >= 0.99 ORDER BY a_id, b_id""".stripMargin,
    // the exhaustive batch×corpus truth — the banded index must find
    // exactly these pairs (scaled AND perturbed copies are nominated with
    // analytic miss ≤ 1e-12; the negated probes and every random bucket
    // collision fail the exact verify)
    "embed_incremental" ->
      """WITH batch AS (
        |  SELECT vec_id + 100000 AS new_id, list_transform(embedding, x -> x * 2) AS e
        |  FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000 AS new_id, list_transform(embedding, x -> x * (-1)) AS e
        |  FROM embeddings WHERE vec_id % 50 = 25
        |  UNION ALL
        |  SELECT vec_id + 300000 AS new_id,
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i]::DOUBLE *
        |             (CASE WHEN (i - 1) % 2 = 0 THEN 1.125 ELSE 0.875 END) AS FLOAT)) AS e
        |  FROM embeddings WHERE vec_id % 50 = 10)
        |SELECT new_id, corpus_id, c FROM (
        |  SELECT b.new_id, o.vec_id AS corpus_id,
        |    round(list_cosine_similarity(b.e::DOUBLE[], o.embedding::DOUBLE[]), 6) AS c
        |  FROM batch b CROSS JOIN embeddings o)
        |WHERE c >= 0.99 ORDER BY new_id, corpus_id""".stripMargin,
    // DOUBLE[] casts in both oracles matter: duckdb's float-list cosine
    // accumulates in float (~1e-7 error), which crosses 6-decimal rounding
    // boundaries that the engine's double-precision cosine does not.
    "ann_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id q_id, embedding q_e FROM embeddings WHERE vec_id % 100 = 7)
        |SELECT q_id, vec_id, c, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT q_id, e.vec_id,
        |    round(list_cosine_similarity(q_e::DOUBLE[], e.embedding::DOUBLE[]), 6) c,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(list_cosine_similarity(q_e::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
        |        e.vec_id) rn
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q_id)
        |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin,
    // The bucketed paths are graded as recall-vs-truth: deterministic
    // hyperplanes/centroids + deterministic tie-breaks ⇒ recall is a fixed
    // per-corpus number, and the oracle pins every query point above the
    // floor. (Mean recall ≥ 0.9 is asserted in SimilaritySpec.)
    "ann_lsh_recall" ->
      """SELECT vec_id AS q_id, CAST(true AS BOOLEAN) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 7 ORDER BY q_id""".stripMargin,
    "ann_ivf_recall" ->
      """SELECT vec_id AS q_id, CAST(true AS BOOLEAN) AS recall_ok
        |FROM embeddings WHERE vec_id % 100 = 7 ORDER BY q_id""".stripMargin,
    // Replays the full PQ encoding: same codebook sample, same fixed-order
    // L2² fold (list_reduce ≡ Spark's aggregate fold — left-to-right, init
    // absorbed exactly), same (d, j) tie-break.
    "embed_pq_codes" -> {
      val codeCols = (0 until PqM).map(m =>
        s"min(CASE WHEN m = $m THEN j END) AS code$m").mkString(",\n  ")
      val ms = (0 until PqM).mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT m, CAST(vec_id AS INTEGER) AS j,
         |    list_slice(embedding, m * $PqDsub + 1, m * $PqDsub + $PqDsub) AS c_sub
         |  FROM (SELECT vec_id, embedding, unnest($ms) AS m
         |        FROM embeddings WHERE vec_id < $PqCodes)),
         |v AS (
         |  SELECT vec_id, m,
         |    list_slice(embedding, m * $PqDsub + 1, m * $PqDsub + $PqDsub) AS sub
         |  FROM (SELECT vec_id, embedding, unnest($ms) AS m FROM embeddings)),
         |d AS (
         |  SELECT v.vec_id, v.m, c.j,
         |    list_reduce(list_transform(range(1, ${PqDsub + 1}),
         |      i -> (v.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE)
         |         * (v.sub[i]::DOUBLE - c.c_sub[i]::DOUBLE)),
         |      (a, b) -> a + b) AS d
         |  FROM v JOIN c ON v.m = c.m),
         |a AS (
         |  SELECT vec_id, m, j FROM (
         |    SELECT vec_id, m, j,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
         |    FROM d) WHERE rn = 1)
         |SELECT vec_id,
         |  $codeCols
         |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }
  )
}
