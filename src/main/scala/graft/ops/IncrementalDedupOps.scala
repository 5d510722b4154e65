package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.{bandHashes, jaccardSorted}

/** Incremental near-dup detection: a NEW BATCH of documents deduped against
  * a PERSISTED signature index, without re-signaturing (or even re-reading)
  * the existing corpus — the operational shape of a 100 TB corpus that
  * grows daily, where whole-corpus self-joins stop being an option.
  *
  * The index is a parquet table of `(doc_id, band_idx, band_hash)` MinHash
  * LSH band rows — ~16 rows × 16 bytes per document regardless of document
  * size. Per batch:
  *
  *   1. the batch's band rows are computed (map-only native signatures,
  *      same `graft_minhash_sig64` family as [[DedupOps]] — identical keys,
  *      so an index built yesterday matches a batch signed today);
  *   2. candidates = batch-bands ⋈ index on (band_idx, band_hash) — an
  *      equality join keyed on 16-byte hashes; at cluster scale the index
  *      is persisted hash-bucketed on band_hash
  *      ([[ScaleOps.writeBucketed]] — co-located join, BucketedJoinSpec)
  *      so only the (small) batch side shuffles;
  *   3. candidate pairs are verified by exact shingle-set Jaccard, pulling
  *      shingles for just the touched corpus docs (a semi-join against the
  *      document store, not a scan);
  *   4. the batch's band rows are APPENDED to the index — existing index
  *      files are never rewritten (asserted in IncrementalDedupSpec).
  */
object IncrementalDedupOps extends QueryFamily {

  /** Batch membership: the ~12.5 % md5-nibble bucket of docs arrives as
    * "today's batch", the rest is the standing corpus — sf-stable,
    * oracle-reproducible, and (round 17, the uniform-idiom sweep) robust
    * on ANY id space: the previous `doc_id % 10 = 3` residue could model
    * an empty batch on sparse/offset ids, silently vacating the
    * incremental path. Same hash-bucket idiom as SamplingOps and the
    * containment suspect stratum; `NOT (batch)` is the corpus, so the
    * two sides partition the snapshot by construction.
    */
  private[graft] val BatchPred =
    "substring(md5(cast(doc_id as string)), 32, 1) < '2'"

  /** The DuckDB spelling of [[BatchPred]] (identical md5-hex semantics). */
  private[graft] val BatchPredDuck =
    "substr(md5(doc_id::VARCHAR), 32, 1) < '2'"

  private def documents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** `(doc_id, band_idx, band_hash)` index rows for a set of documents.
    * Shingleless docs carry no signature and are excluded (they can never
    * verify above threshold; see the DedupOps note). The banding
    * parameters default to the current engine constants; index probes and
    * appends pass a persisted index's PINNED parameters instead (the
    * 64-slot signature itself is generation-stable, banding is
    * post-processing — so an old-generation index stays probeable).
    */
  def bandRows(docs: DataFrame,
               bands: Int = DedupOps.Bands,
               rowsPerBand: Int = DedupOps.RowsPerBand): DataFrame = {
    docs.select(col("doc_id"), expr("graft_minhash_sig64(text)").as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id"),
        posexplode(bandHashes(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
  }

  /** The banding a persisted index was built with, pinned at creation in
    * a one-row parquet sidecar (`<indexPath>_params`) — same contract as
    * [[SimilarityOps.embedIndexParams]]: band hashes from different
    * (bands, rowsPerBand) generations never match, so a constants bump
    * (16×4 → 21×3 in round 15) would otherwise make every probe of an
    * old index silently return ZERO candidates and admit duplicates.
    */
  def indexParams(spark: SparkSession, indexPath: String): Option[(Int, Int)] =
    if (graft.util.Fs.exists(spark, indexPath + "_params"))
      spark.read.parquet(indexPath + "_params")
        .select(col("bands"), col("rows_per_band"))
        .collect().headOption.map(r => (r.getInt(0), r.getInt(1)))
    else None

  /** Append a batch's band rows to the persisted index (write-once files;
    * append adds new files, never rewrites existing ones). The first
    * append pins the current banding constants in the sidecar; later
    * appends REUSE the pinned values so the index stays internally
    * consistent across engine upgrades. Rows are made durable before the
    * sidecar (crash leaves rows-without-params, which every reader fails
    * CLOSED on — never params-without-rows; see the embed-index twin).
    *
    * CONCURRENCY CONTRACT: one writer per index path. The check-then-write
    * sidecar protocol is NOT safe under concurrent FIRST appends — two
    * writers can both observe "no sidecar", both append rows, and race the
    * sidecar overwrite (harmless only while the banding constants agree).
    * That matches the index's intended role — the serialized ingest step
    * of a streaming/batch dedup pipeline, where exactly one job owns an
    * index generation — and is the same single-writer assumption every
    * non-transactional parquet append carries. Once the sidecar exists,
    * concurrent row appends are safe (append-only files; readers take the
    * pinned params). A multi-writer deployment needs an external lock or
    * a transactional table format underneath this path.
    */
  def appendToIndex(docs: DataFrame, indexPath: String): Unit = {
    val spark = docs.sparkSession
    indexParams(spark, indexPath) match {
      case Some((b, r)) =>
        bandRows(docs, b, r).write.mode(SaveMode.Append).parquet(indexPath)
      case None =>
        if (graft.util.Fs.hasParquetFiles(spark, indexPath))
          throw new IllegalStateException(
            s"index $indexPath has rows but no params sidecar " +
              "(interrupted first append?) — rebuild the index")
        bandRows(docs).write.mode(SaveMode.Append).parquet(indexPath)
        import spark.implicits._
        Seq((DedupOps.Bands, DedupOps.RowsPerBand))
          .toDF("bands", "rows_per_band")
          .write.mode(SaveMode.Overwrite).parquet(indexPath + "_params")
    }
  }

  /** Near-dups of `batch` against the documents already in the index:
    * bucket-join candidates, exact-Jaccard verify (shingles for corpus
    * candidates come from `corpusDocs` restricted to the touched ids).
    * Returns (new_id, corpus_id, j).
    */
  def dedupAgainstIndex(batch: DataFrame, corpusDocs: DataFrame,
                        indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    // NOTE: the parquet file listing is captured HERE (InMemoryFileIndex is
    // built when the DataFrame is defined), so the returned — lazy — result
    // is pinned to the index as of this call: rows appended afterwards
    // (e.g. this very batch) do not leak into its own candidate set.
    // probe with the index's PINNED banding — a generation mismatch
    // between engine constants and persisted rows must never silently
    // empty the candidate set (fail closed when the sidecar is missing)
    val (pb, pr) = indexParams(spark, indexPath).getOrElse(
      throw new IllegalStateException(s"no params sidecar for index $indexPath"))
    val index = spark.read.parquet(indexPath)
    val batchBands = bandRows(batch, pb, pr)
    val candidates = batchBands.as("n")
      .join(index.as("i"),
        col("n.band_idx") === col("i.band_idx") &&
          col("n.band_hash") === col("i.band_hash"))
      .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("corpus_id"))
      .distinct()
    val newSh = DedupOps.shingled(batch)
      .select(col("doc_id").as("new_id"), col("sh_hashes").as("n_sh"))
    val corpusSh = DedupOps.shingled(corpusDocs)
      .select(col("doc_id").as("corpus_id"), col("sh_hashes").as("c_sh"))
    candidates
      .join(newSh, "new_id")
      .join(corpusSh, "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccardSorted(col("n_sh"), col("c_sh")).as("j"))
      .where(col("j") >= DedupOps.JaccardThreshold)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** Registered query: build the corpus index, dedup the day's batch
    * against it, then append the batch (so the next batch would see it).
    * The returned pairs equal the exhaustive batch×corpus Jaccard join —
    * same completeness argument as `dedup_minhash_lsh` (no corpus pair in
    * the (0.15, 0.8) Jaccard gap ⇒ the 21 × 3 banded LSH misses a
    * qualifying pair with p ≤ 2.9e-7, a ≥5σ bet — see DedupOps).
    *
    * Optimized path (round 17; guide §2.3 "don't compute things twice"):
    * the batch's band rows are computed ONCE and cached — the candidate
    * probe and the closing index append both read the cache, where the
    * lazy public [[dedupAgainstIndex]] + [[appendToIndex]] composition
    * re-signatures the batch per consumer. Result identical (pinned by
    * IncrementalDedupSpec's equivalence test and the DuckDB oracle);
    * measured −11% at sf0.1 (interleaved in-JVM A/B, OPTIMIZATION_r17.md).
    * A further restriction — left-semi-limiting the exact-Jaccard verify's
    * shingling to candidate docs — was measured a net REGRESSION at bench
    * SF (the candidate cache materialization + probes cost more than the
    * corpus-wide native shingling they avoid) and deliberately NOT taken;
    * see OPTIMIZATION_r17.md "dead ends" before re-trying it.
    */
  private[graft] def dedupIncrementalStaged(s: SparkSession, dir: String): QueryHygiene.Staged = {
    val docs = documents(s, dir)
    val corpus = docs.where(s"NOT ($BatchPred)")
    val batch = docs.where(BatchPred)
    val indexPath = s"${graft.util.TempDirs.create("graft_dedup_idx_")}/index"
    appendToIndex(corpus, indexPath)
    val (pb, pr) = indexParams(s, indexPath).getOrElse(
      throw new IllegalStateException(s"no params sidecar for index $indexPath"))
    // listing captured here — the batch rows appended below stay invisible
    // to this probe (same pinning contract as dedupAgainstIndex)
    val index = s.read.parquet(indexPath)
    val batchBands = bandRows(batch, pb, pr).cache()
    val candidates = batchBands.as("n")
      .join(index.as("i"),
        col("n.band_idx") === col("i.band_idx") &&
          col("n.band_hash") === col("i.band_hash"))
      .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("corpus_id"))
      .distinct()
    val newSh = DedupOps.shingled(batch)
      .select(col("doc_id").as("new_id"), col("sh_hashes").as("n_sh"))
    val corpusSh = DedupOps.shingled(corpus)
      .select(col("doc_id").as("corpus_id"), col("sh_hashes").as("c_sh"))
    val pairs = candidates
      .join(newSh, "new_id")
      .join(corpusSh, "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccardSorted(col("n_sh"), col("c_sh")).as("j"))
      .where(col("j") >= DedupOps.JaccardThreshold)
      .orderBy(col("new_id"), col("corpus_id"))
    // the closing append writes the CACHED band rows (this is also the
    // action that fills the cache) — byte-identical to
    // appendToIndex(batch, indexPath) because the sidecar pins (pb, pr)
    batchBands.write.mode(SaveMode.Append).parquet(indexPath)
    QueryHygiene.Staged(pairs, batchBands)
  }

  override val pipelines: Map[String, (SparkSession, String) => QueryHygiene.Staged] =
    Map("dedup_incremental" -> (dedupIncrementalStaged _))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryHygiene.served(pipelines)

  // posting-list candidate generation (provably ≡ the corpus × batch
  // theta join it replaced: J ≥ 0.5 > 0 requires a shared shingle, and
  // J = inter/(n_a + n_b − inter) is the same number — see
  // DedupOps.duckPairs; the theta form was quadratic and blew the sf0.1
  // oracle box)
  val oracleSql: Map[String, String] = Map(
    "dedup_incremental" ->
      s"""WITH tok AS (${DedupOps.duckShingled("")}),
         |post AS (SELECT doc_id, unnest(t) AS g FROM tok),
         |cand AS (
         |  SELECT b.doc_id AS new_id, a.doc_id AS corpus_id, count(*) AS inter
         |  FROM (SELECT * FROM post WHERE NOT ($BatchPredDuck)) a
         |  JOIN (SELECT * FROM post WHERE $BatchPredDuck) b ON a.g = b.g
         |  GROUP BY 1, 2)
         |SELECT new_id, corpus_id,
         |  inter::DOUBLE / (ta.n + tb.n - inter)::DOUBLE AS j
         |FROM cand
         |JOIN (SELECT doc_id, len(t) AS n FROM tok) ta ON ta.doc_id = corpus_id
         |JOIN (SELECT doc_id, len(t) AS n FROM tok) tb ON tb.doc_id = new_id
         |WHERE inter::DOUBLE / (ta.n + tb.n - inter)::DOUBLE
         |  >= ${DedupOps.JaccardThreshold}
         |ORDER BY new_id, corpus_id""".stripMargin
  )
}
