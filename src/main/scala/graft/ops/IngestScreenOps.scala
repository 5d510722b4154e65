package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.jaccardSorted

/** The daily-ingest screening pipeline, end to end: a new batch of
  * documents arrives, and every doc gets exactly one disposition —
  *
  *   `dup_exact`   already in the corpus verbatim (content-hash match)
  *   `dup_near`    near-duplicate of a corpus doc (banded MinHash
  *                 candidates vs the corpus index, exact-Jaccard verified)
  *   `pii_flagged` carries contact strings (email/phone) and needs the
  *                 redaction pass before it may enter the corpus
  *   `repetitive`  fails the Gopher-style repetition gate
  *   `accepted`    clean: joins the corpus
  *
  * — i.e. the composite the single-purpose operators exist for: a user of
  * this library runs their whole arrival screen as ONE DataFrame program.
  * Precedence is dedup → PII → quality (cheap content-hash identity first,
  * then compliance, then quality), each stage only refining the previous
  * verdict.
  *
  * Scale shape: the per-doc stages (hashing, regex, repetition counters)
  * are map-only native/codegen expressions; both dedup stages shuffle only
  * narrow keys (16-byte content hash; (band_idx, band_hash) pairs) — the
  * batch side of every join is the day's arrivals, orders of magnitude
  * smaller than the corpus, and broadcasts. Within-batch duplicates are
  * deliberately NOT resolved here — that is `dedup_clusters`' job on the
  * accepted set.
  *
  * Fixture: batch = the 'e'..'f' md5-bucket slice of `documents` (the
  * same "new arrivals" split the decontamination queries use) + verbatim
  * copies of every 50th corpus doc (re-crawls → dup_exact) + the PII rows.
  */
object IngestScreenOps extends QueryFamily {

  private def bucket: Column =
    substring(md5(col("doc_id").cast("string")), 32, 1)

  private def documents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def corpusDocs(docs: DataFrame): DataFrame =
    docs.where(bucket < lit("e")).select(col("doc_id"), col("text"))

  private[graft] def batchDocs(docs: DataFrame): DataFrame =
    docs.where(bucket >= lit("e")).select(col("doc_id"), col("text"))
      .unionByName(
        docs.where(bucket < lit("e") && col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(TextAnalysisOps.piiFixtureDf(docs.sparkSession))

  private def ingestScreenStaged(s: SparkSession, dir: String): QueryHygiene.Staged = {
    val docs = documents(s, dir)
    val corpus = corpusDocs(docs).cache()
    val batch = batchDocs(docs).cache()

    // Stage 1 — exact identity vs the corpus: semi-join on the 16-byte
    // content hash (the corpus side collapses to distinct hashes first).
    val dupExact = batch
      .join(corpus.select(md5(col("text")).as("__h")).distinct(),
        md5(col("text")) === col("__h"), "left_semi")
      .select(col("doc_id"))

    // Stage 2 — near-dup vs the corpus: banded equality join on
    // (band_idx, band_hash) for candidates, exact-Jaccard verify.
    val candidates = IncrementalDedupOps.bandRows(batch).as("b")
      .join(IncrementalDedupOps.bandRows(corpus).as("c"),
        col("b.band_idx") === col("c.band_idx") &&
          col("b.band_hash") === col("c.band_hash"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val dupNear = candidates
      .join(DedupOps.shingled(batch)
        .select(col("doc_id").as("batch_id"), col("sh_hashes").as("bsh")), "batch_id")
      .join(DedupOps.shingled(corpus)
        .select(col("doc_id").as("corpus_id"), col("sh_hashes").as("csh")), "corpus_id")
      .where(jaccardSorted(col("bsh"), col("csh")) >= DedupOps.JaccardThreshold)
      .select(col("batch_id").as("doc_id"))
      .distinct()

    // Stages 3+4 — map-only per-doc flags: PII regexes and the native
    // repetition counters, evaluated in one projection over the batch.
    val flagged = batch
      .select(col("doc_id"),
        (size(regexp_extract_all(col("text"), lit(TextAnalysisOps.EmailRe), lit(0))) +
          size(regexp_extract_all(col("text"), lit(TextAnalysisOps.PhoneRe), lit(0)))
          > 0).as("__pii"),
        expr("graft_repetition_stats(text)").as("__r"))
      .select(col("doc_id"), col("__pii"),
        element_at(col("__r"), 1).as("__nw"), element_at(col("__r"), 3).as("__dup"),
        element_at(col("__r"), 4).as("__nbg"), element_at(col("__r"), 5).as("__top"))
      .select(col("doc_id"), col("__pii"),
        (when(col("__nw") > 0, col("__dup").cast("double") / col("__nw").cast("double"))
          .otherwise(lit(0.0)) <= TextAnalysisOps.MaxDupWordFrac &&
          when(col("__nbg") > 0, col("__top").cast("double") / col("__nbg").cast("double"))
            .otherwise(lit(0.0)) <= TextAnalysisOps.MaxTopBigramFrac).as("__keep"))

    QueryHygiene.Staged(
      flagged
        .join(dupExact.withColumn("__de", lit(true)), Seq("doc_id"), "left")
        .join(dupNear.withColumn("__dn", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__de"), "dup_exact")
            .when(col("__dn"), "dup_near")
            .when(col("__pii"), "pii_flagged")
            .when(!col("__keep"), "repetitive")
            .otherwise("accepted").as("disposition"))
        .orderBy(col("doc_id")),
      corpus, batch)
  }

  // ---------------------------------------------------------------------
  // Corrupt-drop handling: a cross-environment landing zone receives
  // whatever upstream wrote, including torn/garbage files (a crashed
  // writer, a partial copy). The ingest edge must route around them —
  // never crash the whole batch, never silently drop good rows.

  /** Probe every data file's parquet footer; return (readable, quarantined)
    * path lists. Driver-side loop here — the probe is one footer read per
    * file, and a landing zone's file count is control-plane sized; at
    * cluster scale the same probe runs as a mapPartitions over the file
    * list with the quarantine rename per task.
    */
  private[graft] def probeFooters(s: SparkSession, landing: String): (Seq[String], Seq[String]) = {
    val conf = s.sessionState.newHadoopConf()
    val visible = graft.util.Fs.listParquetFiles(s, landing).map(_._1)
      // Spark's reader convention: dot-prefixed path segments are invisible
      // — which also keeps an earlier sweep's .quarantine out of the probe
      .filterNot(_.split('/').exists(seg => seg.startsWith(".") || seg.startsWith("_")))
    val (good, bad) = visible.partition { p =>
      try {
        org.apache.parquet.hadoop.ParquetFileReader
          .open(org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), conf))
          .close()
        true
      } catch { case _: Throwable => false }
    }
    (good, bad)
  }

  /** Destructive variant: rename unreadable drops into `$landing/.quarantine/`
    * so subsequent whole-directory reads are clean (exercised by
    * IngestScreenSpec; the registered query uses the non-destructive probe
    * so bench runs stay idempotent).
    */
  private[graft] def quarantineSweep(s: SparkSession, landing: String): Seq[String] = {
    val conf = s.sessionState.newHadoopConf()
    val (_, bad) = probeFooters(s, landing)
    val qdir = new org.apache.hadoop.fs.Path(landing, ".quarantine")
    val fsys = qdir.getFileSystem(conf)
    fsys.mkdirs(qdir)
    bad.foreach { p =>
      val src = new org.apache.hadoop.fs.Path(p)
      if (!fsys.rename(src, new org.apache.hadoop.fs.Path(qdir, src.getName)))
        throw new java.io.IOException(s"failed to quarantine $src")
    }
    bad
  }

  // landing fixture: the events table as 3 good drops + one torn file
  // (valid parquet truncated mid-footer) + one non-parquet garbage drop
  private val corruptLandingMemo = new graft.util.SessionMemo[String, String]

  private def corruptLanding(s: SparkSession, dir: String): String =
    corruptLandingMemo.getOrElseUpdate(s, dir) {
      val landing = graft.util.TempDirs.create("graft_corrupt_landing_")
      Tables.load(s, dir, "events").repartition(3)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(landing)
      val aGood = java.nio.file.Files.list(java.nio.file.Paths.get(landing))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val bytes = java.nio.file.Files.readAllBytes(aGood)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "torn-drop.parquet"),
        java.util.Arrays.copyOf(bytes, math.max(64, bytes.length / 3)))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "garbage-drop.parquet"),
        Array.fill[Byte](512)(0x5A))
      landing
    }

  /** The quarantine screen as a query: survivors of the footer probe read
    * normally and aggregate to the full events table (proof no good row
    * was lost), with the quarantined-drop count alongside.
    */
  private def ingestCorruptQuarantine(s: SparkSession, dir: String): DataFrame = {
    val (good, bad) = probeFooters(s, corruptLanding(s, dir))
    require(good.nonEmpty, "corrupt-landing fixture lost its good files")
    s.read.parquet(good: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .withColumn("n_quarantined", lit(bad.size))
  }

  /** The tolerate-don't-quarantine strategy, and its streaming shape: the
    * file stream consumes the same corrupt landing zone with the
    * `ignoreCorruptFiles` reader option — tasks skip unreadable files
    * instead of failing the batch — drains through the parquet sink, and
    * must still aggregate to the FULL events table. The probe supplies the
    * skipped-drop count for the report (in production that number comes
    * from the same footer sweep, run as the landing zone's audit).
    */
  private def streamCorruptTolerant(s: SparkSession, dir: String): DataFrame = {
    val landing = corruptLanding(s, dir)
    val (_, bad) = probeFooters(s, landing)
    val stream = s.readStream
      .schema(Tables.load(s, dir, "events").schema)
      .option("ignoreCorruptFiles", "true")
      .parquet(landing)
    graft.streaming.StreamingIngest.runToParquet(stream)
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .withColumn("n_quarantined", lit(bad.size))
  }

  override val pipelines: Map[String, (SparkSession, String) => QueryHygiene.Staged] =
    Map("ingest_screen_pipeline" -> (ingestScreenStaged _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_corrupt_quarantine" -> (ingestCorruptQuarantine _),
    "stream_corrupt_tolerant" -> (streamCorruptTolerant _)
  ) ++ QueryHygiene.served(pipelines)

  /** Oracle: the same five-way disposition rebuilt relationally in DuckDB —
    * exhaustive Jaccard for the near-dup stage (the engine's banded
    * MinHash equals brute force on this corpus; same completeness argument
    * as `dedup_minhash_lsh`), unnest histograms for the repetition gate.
    */
  /** Shared oracle fragments (also used by the streaming screen's oracle):
    * the arrival-batch fixture CTE and the repetition-gate CTE chain over a
    * table named `batch`.
    */
  private[ops] def duckBatchCte: String =
    s"""batch AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE substr(md5(doc_id::VARCHAR), 32, 1) >= 'e'
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents
       |  WHERE substr(md5(doc_id::VARCHAR), 32, 1) < 'e' AND doc_id % 50 = 0
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ${TextAnalysisOps.piiFixtureSql}) AS v(doc_id, text))""".stripMargin

  private[ops] def duckPiiRepCtes: String =
    s"""pii AS (
       |  SELECT doc_id FROM batch
       |  WHERE len(regexp_extract_all(text, '${TextAnalysisOps.EmailRe}'))
       |      + len(regexp_extract_all(text, '${TextAnalysisOps.PhoneRe}')) > 0),
       |t AS (SELECT doc_id,
       |        list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
       |      FROM batch),
       |wc AS (SELECT doc_id, word, count(*) AS c
       |       FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY doc_id, word),
       |ws AS (SELECT doc_id,
       |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
       |       FROM wc GROUP BY doc_id),
       |bc AS (SELECT doc_id, bg, count(*) AS c
       |       FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
       |             FROM t WHERE len(w) >= 2)
       |       GROUP BY doc_id, bg),
       |bs AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY doc_id),
       |rep AS (
       |  SELECT t.doc_id,
       |    (CASE WHEN len(w) > 0 THEN coalesce(dup_occ, 0)::DOUBLE / len(w)::DOUBLE
       |          ELSE 0.0 END) <= ${TextAnalysisOps.MaxDupWordFrac}
       |      AND (CASE WHEN len(w) >= 2 THEN coalesce(top_bg, 0)::DOUBLE / (len(w) - 1)::DOUBLE
       |               ELSE 0.0 END) <= ${TextAnalysisOps.MaxTopBigramFrac} AS keep
       |  FROM t LEFT JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // survivors == the whole events table; the two planted bad drops are a
    // fixture constant
    "ingest_corrupt_quarantine" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |  2 AS n_quarantined
        |FROM events""".stripMargin,
    // the streaming tolerate-strategy lands in the same relation
    "stream_corrupt_tolerant" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |  2 AS n_quarantined
        |FROM events""".stripMargin,
    "ingest_screen_pipeline" ->
      s"""WITH $duckBatchCte,
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE substr(md5(doc_id::VARCHAR), 32, 1) < 'e'),
         |de AS (SELECT DISTINCT b.doc_id FROM batch b
         |       JOIN corpus c ON md5(b.text) = md5(c.text)),
         |tokb AS (
         |  SELECT doc_id, CASE WHEN len(w) < 3 THEN [] ELSE list_distinct(
         |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |  END AS t
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
         |        FROM batch)),
         |tokc AS (
         |  SELECT doc_id, CASE WHEN len(w) < 3 THEN [] ELSE list_distinct(
         |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |  END AS t
         |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
         |        FROM corpus)),
         |postb AS (SELECT doc_id, unnest(t) AS g FROM tokb),
         |postc AS (SELECT doc_id, unnest(t) AS g FROM tokc),
         |candn AS (
         |  SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS inter
         |  FROM postb b JOIN postc c ON b.g = c.g GROUP BY 1, 2),
         |dn AS (
         |  SELECT DISTINCT b_id AS doc_id FROM candn
         |  JOIN (SELECT doc_id, len(t) AS n FROM tokb) nb ON nb.doc_id = b_id
         |  JOIN (SELECT doc_id, len(t) AS n FROM tokc) nc ON nc.doc_id = c_id
         |  WHERE inter::DOUBLE / (nb.n + nc.n - inter)::DOUBLE
         |    >= ${DedupOps.JaccardThreshold}),
         |$duckPiiRepCtes
         |SELECT b.doc_id,
         |  CASE WHEN b.doc_id IN (SELECT doc_id FROM de) THEN 'dup_exact'
         |       WHEN b.doc_id IN (SELECT doc_id FROM dn) THEN 'dup_near'
         |       WHEN b.doc_id IN (SELECT doc_id FROM pii) THEN 'pii_flagged'
         |       WHEN NOT rep.keep THEN 'repetitive'
         |       ELSE 'accepted' END AS disposition
         |FROM batch b JOIN rep ON b.doc_id = rep.doc_id
         |ORDER BY b.doc_id""".stripMargin
  )
}
