package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord

/** Multimodal queries over a deterministic media fixture with REAL payloads:
  * image rows are actual PNGs (grayscale rasters from a closed-form pixel
  * formula), audio rows actual RIFF/WAV streams (8-bit PCM from a sample
  * formula), video rows actual GMV1 motion-PNG containers (per-frame PNGs
  * from a (t, x, y) pixel formula). Because the pixel/sample formulas are
  * closed-form, DuckDB reproduces the DECODED statistics without any codec
  * — so the JDK ImageIO/AudioSystem round-trips (including the per-frame
  * video decode) are themselves oracle-checked: a codec bug breaks the
  * hash match.
  *
  * Formulas (id = doc_id):
  *   image: w = id%16+4, h = id%12+4, pixel(x,y) = (id·31 + x·7 + y·13) % 256
  *   audio: n = id%200+8, sample(i) = (id·17 + i·5) % 256
  *   video: frames = id%6+2, w/h as image,
  *          pixel(t,x,y) = (id·31 + t·11 + x·7 + y·13) % 256
  */
object MultimodalOps extends QueryFamily {

  /** The typed media fixture: one MediaRecord per document, modality by
    * doc_id mod 3, payloads generated in partition-parallel map tasks
    * (the ingest edge of the pipeline — the decode edge reads them back).
    *
    * `only` restricts to one modality BEFORE the encode: the modality is a
    * pure function of doc_id, so the restriction is a relational predicate
    * on the scan (Catalyst sees it; at 100 TB the other two thirds of the
    * corpus are never materialized, let alone encoded). Filtering the typed
    * records after the map instead would pay the full three-modality codec
    * cost and discard two thirds of it.
    */
  // The encode is the INGEST edge and runs once per (dir, modality): the
  // first call materializes the encoded records to a parquet landing zone
  // and every later call reads them back — the real pipeline shape (media
  // is encoded on arrival, decoded many times downstream), and it keeps
  // the decode queries' cost a property of DECODE, not of re-running
  // ingest per query.
  // keyed by (dir, modality, source mtime, source length): a REGENERATED
  // fixture invalidates the landing zone instead of silently serving the
  // old corpus's encodes — the cache-coherence rule any ingest memo needs
  // (MultimodalSpec pins: same source hits, touched source rebuilds once)
  private val fixtureMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long, Long), String]

  private[graft] def fixtureKey(s: SparkSession, dir: String,
                                only: Option[String]): (String, String, Long, Long) = {
    val src = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val st = src.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(src)
    (dir, only.getOrElse("all"), st.getModificationTime, st.getLen)
  }

  private[graft] def mediaFixturePath(s: SparkSession, dir: String,
                                      only: Option[String]): String =
    fixtureMemo.getOrElseUpdate(fixtureKey(s, dir, only), {
      val out = graft.util.TempDirs.create("graft_media_fixture_")
      buildFixture(s, dir, only).write.mode("overwrite").parquet(out)
      out
    })

  private def mediaFixture(s: SparkSession, dir: String,
                           only: Option[String] = None): Dataset[MediaRecord] = {
    import s.implicits._
    s.read.parquet(mediaFixturePath(s, dir, only)).as[MediaRecord]
  }

  private def buildFixture(s: SparkSession, dir: String,
                           only: Option[String]): Dataset[MediaRecord] = {
    import s.implicits._
    val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
    val scoped = only match {
      case Some("image") => ids.where(col("doc_id") % 3 === 0)
      case Some("audio") => ids.where(col("doc_id") % 3 === 1)
      case Some("video") => ids.where(col("doc_id") % 3 === 2)
      case _ => ids
    }
    scoped.as[Long]
      .map { id =>
        (id % 3) match {
          case 0 =>
            val w = (id % 16 + 4).toInt
            val h = (id % 12 + 4).toInt
            val px = Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              ((id * 31 + x * 7 + y * 13) % 256).toInt
            }
            MediaRecord(id, "image", w, h, Multimodal.encodePng(px, w, h))
          case 1 =>
            val n = (id % 200 + 8).toInt
            val smp = Array.tabulate(n)(i => ((id * 17 + i * 5) % 256).toInt)
            MediaRecord(id, "audio", n, 1, Multimodal.encodeWav(smp))
          case _ =>
            val w = (id % 16 + 4).toInt
            val h = (id % 12 + 4).toInt
            val frames = (0 until (id % 6 + 2).toInt).map { t =>
              val px = Array.tabulate(w * h) { i =>
                val x = i % w; val y = i / w
                ((id * 31 + t * 11 + x * 7 + y * 13) % 256).toInt
              }
              Multimodal.encodePng(px, w, h)
            }
            MediaRecord(id, "video", w, h, Multimodal.encodeVideo(frames))
        }
      }
  }

  /** Decode round-trip + metadata: every modality is REALLY decoded
    * (ImageIO / AudioSystem / GMV1 container + per-frame ImageIO) and the
    * recovered shape is emitted. All three reproduce in DuckDB from the
    * formulas.
    */
  private def mmDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    mediaFixture(s, dir).map { m =>
      val check = m.media_type match {
        case "image" =>
          val (w, h, _) = Multimodal.decodeImagePixels(m.payload)
          s"${w}x$h"
        case "audio" =>
          Multimodal.decodeWavSamples(m.payload).length.toString
        case _ =>
          val (w, h, frames) = Multimodal.decodeVideoFrames(m.payload)
          s"${frames.length}f:${w}x$h"
      }
      (m.media_id, m.media_type, m.width, m.height, check)
    }.toDF("media_id", "media_type", "width", "height", "content_check")
      .orderBy(col("media_id"))
  }

  /** REAL video frame sampling: parse the container, ImageIO-decode the
    * kept frames (every 2nd — the stride sample a training pipeline takes
    * before feature extraction), and emit exact integer per-frame stats.
    * The oracle re-derives every value from the (t, x, y) pixel formula,
    * so the check covers container parse + per-frame decode + selection.
    * (The byte-level chunker [[Multimodal.sampleFrames]] remains the
    * codec-free path for OPAQUE payloads — spec-covered, not oracled.)
    */
  private def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    mediaFixture(s, dir, Some("video")).flatMap { m =>
      val (w, h, frames) = Multimodal.decodeVideoFrames(m.payload)
      frames.zipWithIndex.collect { case (px, t) if t % 2 == 0 =>
        var sum = 0L; var sq = 0L
        px.foreach { v => sum += v; sq += v.toLong * v }
        (m.media_id, t, w, h, sum, sq)
      }
    }.toDF("media_id", "frame_idx", "w", "h", "sum_px", "sumsq_px")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** The decode → feature-extract path via typed mapPartitions: real codec
    * per modality, exact integer stats over the DECODED values (×10⁴ so
    * the DuckDB oracle — recomputing from the same formulas with the same
    * two IEEE-double ops — hash-matches; see Multimodal.extractFeatures).
    */
  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.extractFeatures(mediaFixture(s, dir)).toDF()
      .select(col("media_id"), col("n_vals"),
        round(col("mean_val") * 10000).cast("long").as("mean_val_e4"),
        round(col("var_val") * 10000).cast("long").as("var_val_e4"),
        size(col("feature")).as("feature_dim"))
      .orderBy(col("media_id"))
  }

  /** Perceptual image hash (4×4 aHash): the image member of the dedup
    * family — REAL pipeline: decode the actual PNG (ImageIO), box-downscale
    * to 4×4 with rounded-mean integer math ([[Multimodal.resizeImage]]),
    * threshold each cell against the 16-cell total (strict `p·16 > Σp`;
    * ties → 0 — no float mean anywhere), pack 16 bits row-major. Two
    * renderings of the same image (e.g. re-encoded PNGs) hash identically;
    * the DuckDB oracle re-derives every bit from the closed-form pixel
    * formula, so the hash check covers decode + resize + threshold
    * end-to-end. 4×4, not 8×8, because the fixture's smallest rasters are
    * 4×4 (downscale-only contract).
    */
  /** 4×4 aHash of a PNG payload: real decode → box-mean downscale →
    * strict integer threshold (shared by the fingerprint query and the
    * near-dup join).
    */
  private def phashOf(payload: Array[Byte]): Long = {
    val resized = Multimodal
      .decodeImagePixels(Multimodal.resizeImage(payload, 4, 4))._3
    val total = resized.map(_.toLong).sum
    var hash = 0L
    var i = 0
    while (i < 16) {
      if (resized(i) * 16L > total) hash |= (1L << i)
      i += 1
    }
    hash
  }

  private def mmPhash(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    mediaFixture(s, dir, Some("image")).map { r =>
      (r.media_id, r.width.toLong, r.height.toLong, phashOf(r.payload))
    }.toDF("media_id", "w", "h", "phash").orderBy(col("media_id"))
  }

  /** Audio fingerprint (8-box energy signature): the audio twin of
    * [[mmPhash]] — decode the REAL RIFF/WAV stream (AudioSystem), split
    * the PCM samples into 8 equal-count boxes (same floor-ratio split as
    * the image resize), rounded mean per box, strict `p·8 > Σp` threshold,
    * pack 8 bits. Re-encoded identical audio fingerprints identically;
    * the oracle re-derives every bit from the closed-form sample formula.
    */
  private def mmAudioFp(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    mediaFixture(s, dir, Some("audio")).map { r =>
      val smp = Multimodal.decodeWavSamples(r.payload)
      val n = smp.length
      val boxes = (0 until 8).map { b =>
        val i0 = b * n / 8
        val i1 = math.max(i0 + 1, (b + 1) * n / 8)
        val cnt = (i1 - i0).toLong
        (smp.slice(i0, i1).map(_.toLong).sum + cnt / 2) / cnt
      }
      val total = boxes.sum
      var fp = 0L
      var b = 0
      while (b < 8) {
        if (boxes(b) * 8L > total) fp |= (1L << b)
        b += 1
      }
      (r.media_id, n.toLong, fp)
    }.toDF("media_id", "n_samples", "afp").orderBy(col("media_id"))
  }

  /** Shot-boundary (scene-cut) detection over the REAL video decode — the
    * pre-step of every frame-dedup / clip-sampling pipeline: per-frame
    * luminance sums from the GMV1 container (full stride, unlike
    * mm_frame_sample's stride-2), then a per-video lag window flags frames
    * whose mean shifted by > 4 grey levels vs the previous frame. The flag
    * is integer cross-multiplication (|Δsum| > n_px·4 — no float mean), so
    * the whole cut ledger replays closed-form in DuckDB. Decode is
    * executor-side typed flatMap (map-only); the only shuffle is the
    * per-video window, keyed on media_id.
    */
  private def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    implicit val sp: SparkSession = s
    import sp.implicits._
    val frames = mediaFixture(s, dir, Some("video")).flatMap { m =>
      val (w, h, fr) = Multimodal.decodeVideoFrames(m.payload)
      fr.zipWithIndex.map { case (px, t) =>
        var sum = 0L
        px.foreach(sum += _)
        (m.media_id, t, w.toLong * h, sum)
      }
    }.toDF("media_id", "frame_idx", "n_px", "sum_px")
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    frames
      .withColumn("prev", lag(col("sum_px"), 1).over(w))
      .withColumn("is_cut", col("prev").isNotNull &&
        abs(col("sum_px") - col("prev")) > col("n_px") * 4)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        min(when(col("is_cut"), col("frame_idx"))).as("first_cut"))
      .orderBy(col("media_id"))
  }

  /** Format SNIFFING at the media ingest edge: re-derive each payload's
    * actual container from its MAGIC BYTES (PNG `89504E47`, RIFF/WAV
    * `52494646`, GMV1 `474D5631`) and cross-tabulate against the declared
    * media_type — the declared-vs-actual validation a landing zone runs
    * before routing to per-format decoders (a mislabeled payload crashes
    * the wrong codec mid-job otherwise; here it would surface as an
    * off-diagonal row). Columnar and map-only: `hex(substring(payload))`
    * over the first 4 bytes, no decode. The oracle states the expected
    * DIAGONAL from the fixture's closed-form construction, so a broken
    * encoder (wrong magic) hash-fails the query.
    */
  private def mmSniffRoute(s: SparkSession, dir: String): DataFrame =
    mediaFixture(s, dir).toDF()
      .select(col("media_type").as("declared"),
        substring(hex(substring(col("payload"), 1, 4)), 1, 8).as("magic"))
      .select(col("declared"),
        when(col("magic") === "89504E47", "image")
          .when(col("magic") === "52494646", "audio")
          .when(col("magic") === "474D5631", "video")
          .otherwise("unknown").as("sniffed"))
      .groupBy(col("declared"), col("sniffed"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("declared"), col("sniffed"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_sniff_route" -> (mmSniffRoute _),
    "mm_decode_meta" -> (mmDecodeMeta _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_scene_cuts" -> (mmSceneCuts _),
    "mm_features" -> (mmFeatures _),
    "mm_phash" -> (mmPhash _),
    "mm_afp" -> (mmAudioFp _)
  )

  val oracleSql: Map[String, String] = Map(
    // the sniffed format must be the declared one for every payload the
    // fixture encodes — the oracle states that diagonal from the
    // closed-form construction (doc_id mod 3 picks the modality)
    "mm_sniff_route" ->
      """SELECT declared, declared AS sniffed, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
        |                             WHEN 1 THEN 'audio'
        |                             ELSE 'video' END AS declared
        |      FROM documents)
        |GROUP BY declared ORDER BY declared, sniffed""".stripMargin,
    // frame sums re-derived from the closed-form pixel formula (no codec),
    // same lag window, same integer cross-multiplied cut threshold
    "mm_scene_cuts" ->
      """WITH vid AS (
        |  SELECT doc_id AS media_id, doc_id % 16 + 4 AS w,
        |    doc_id % 12 + 4 AS h, doc_id % 6 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, w * h AS n_px, t.t AS frame_idx,
        |    CAST(list_sum(list_transform(range(0, w*h), i ->
        |      (media_id*31 + t.t*11 + (i%w)*7 + (i//w)*13) % 256)) AS BIGINT) AS sum_px
        |  FROM vid, LATERAL (SELECT unnest(range(0, nf)) AS t) t),
        |lagged AS (
        |  SELECT media_id, frame_idx, n_px, sum_px,
        |    lag(sum_px) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
        |  FROM fr),
        |flagged AS (
        |  SELECT media_id, frame_idx,
        |    (prev IS NOT NULL AND abs(sum_px - prev) > n_px * 4) AS is_cut
        |  FROM lagged)
        |SELECT media_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  CAST(min(CASE WHEN is_cut THEN frame_idx END) AS INTEGER) AS first_cut
        |FROM flagged GROUP BY media_id ORDER BY media_id""".stripMargin,
    // every aHash bit re-derived from the closed-form pixel formula:
    // same box split (floor ratios, min-1-wide), same rounded mean,
    // same strict p·16 > Σp threshold, same row-major bit order
    "mm_phash" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id, CAST(doc_id % 16 + 4 AS BIGINT) AS w,
        |    CAST(doc_id % 12 + 4 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |cell AS (
        |  SELECT media_id, w, h, ox, oy,
        |    (ox*w)//4 AS x0, greatest((ox*w)//4 + 1, ((ox+1)*w)//4) AS x1,
        |    (oy*h)//4 AS y0, greatest((oy*h)//4 + 1, ((oy+1)*h)//4) AS y1
        |  FROM img
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS ox)
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS oy)),
        |p AS (
        |  SELECT media_id, w, h, ox, oy, (s + n // 2) // n AS p
        |  FROM (
        |    SELECT media_id, w, h, ox, oy,
        |      CAST(list_sum(list_transform(range(y0, y1), y ->
        |        list_sum(list_transform(range(x0, x1), x ->
        |          (media_id*31 + x*7 + y*13) % 256)))) AS BIGINT) AS s,
        |      (x1 - x0) * (y1 - y0) AS n
        |    FROM cell)),
        |t AS (SELECT media_id, CAST(sum(p) AS BIGINT) AS total FROM p GROUP BY media_id)
        |SELECT p.media_id, p.w, p.h,
        |  CAST(sum(CASE WHEN p.p * 16 > t.total
        |                THEN CAST(1 AS BIGINT) << CAST(p.oy*4 + p.ox AS INTEGER)
        |                ELSE 0 END) AS BIGINT) AS phash
        |FROM p JOIN t USING (media_id)
        |GROUP BY p.media_id, p.w, p.h ORDER BY p.media_id""".stripMargin,
    // audio fixture: n = id%200+8 samples, smp(i) = (id*17 + i*5) % 256,
    // audio rows are doc_id % 3 = 1
    "mm_afp" ->
      """WITH au AS (
        |  SELECT doc_id AS media_id, CAST(doc_id % 200 + 8 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |box AS (
        |  SELECT media_id, n, b,
        |    (b*n)//8 AS i0, greatest((b*n)//8 + 1, ((b+1)*n)//8) AS i1
        |  FROM au CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
        |p AS (
        |  SELECT media_id, n, b, (s + cnt // 2) // cnt AS p
        |  FROM (
        |    SELECT media_id, n, b,
        |      CAST(list_sum(list_transform(range(i0, i1), i ->
        |        (media_id*17 + i*5) % 256)) AS BIGINT) AS s,
        |      i1 - i0 AS cnt
        |    FROM box)),
        |t AS (SELECT media_id, CAST(sum(p) AS BIGINT) AS total FROM p GROUP BY media_id)
        |SELECT p.media_id, p.n AS n_samples,
        |  CAST(sum(CASE WHEN p.p * 8 > t.total
        |                THEN CAST(1 AS BIGINT) << CAST(p.b AS INTEGER)
        |                ELSE 0 END) AS BIGINT) AS afp
        |FROM p JOIN t USING (media_id)
        |GROUP BY p.media_id, p.n ORDER BY p.media_id""".stripMargin,
    "mm_decode_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 200 + 8 AS INTEGER)
        |       ELSE CAST(doc_id % 16 + 4 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(1 AS INTEGER)
        |       ELSE CAST(doc_id % 12 + 4 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id % 16 + 4) || 'x' || (doc_id % 12 + 4)
        |       WHEN doc_id % 3 = 1 THEN CAST(doc_id % 200 + 8 AS VARCHAR)
        |       ELSE (doc_id % 6 + 2) || 'f:' || (doc_id % 16 + 4) || 'x' || (doc_id % 12 + 4)
        |  END AS content_check
        |FROM documents ORDER BY media_id""".stripMargin,
    // every kept frame's exact pixel sums re-derived from the (t, x, y)
    // formula — the codec-free replay of container parse + frame decode +
    // stride-2 selection
    "mm_frame_sample" ->
      """WITH vid AS (
        |  SELECT doc_id AS media_id, CAST(doc_id % 16 + 4 AS INTEGER) AS w,
        |    CAST(doc_id % 12 + 4 AS INTEGER) AS h, doc_id % 6 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, w, h, t.t FROM vid,
        |    LATERAL (SELECT unnest(range(0, nf)) AS t) t
        |  WHERE t.t % 2 = 0)
        |SELECT media_id, CAST(t AS INTEGER) AS frame_idx, w, h,
        |  CAST(list_sum(list_transform(range(0, w*h), i ->
        |    (media_id*31 + t*11 + (i%w)*7 + (i//w)*13) % 256)) AS BIGINT) AS sum_px,
        |  CAST(list_sum(list_transform(range(0, w*h), i ->
        |    ((media_id*31 + t*11 + (i%w)*7 + (i//w)*13) % 256)
        |      * ((media_id*31 + t*11 + (i%w)*7 + (i//w)*13) % 256))) AS BIGINT) AS sumsq_px
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,
    "mm_features" ->
      // per-modality stats recomputed WITHOUT a codec, from the same
      // closed-form values the engine encoded — a codec round-trip check
      """WITH img AS (
        |  SELECT doc_id, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS sq
        |  FROM (SELECT d.doc_id, (d.doc_id * 31 + x.xi * 7 + y.yi * 13) % 256 AS v
        |        FROM documents d,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 16 + 4)) AS xi) x,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 12 + 4)) AS yi) y
        |        WHERE d.doc_id % 3 = 0)
        |  GROUP BY doc_id
        |), aud AS (
        |  SELECT doc_id, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS sq
        |  FROM (SELECT d.doc_id, (d.doc_id * 17 + f.i * 5) % 256 AS v
        |        FROM documents d,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 200 + 8)) AS i) f
        |        WHERE d.doc_id % 3 = 1)
        |  GROUP BY doc_id
        |), vid AS (
        |  SELECT doc_id, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS sq
        |  FROM (SELECT d.doc_id,
        |          (d.doc_id * 31 + t.ti * 11 + x.xi * 7 + y.yi * 13) % 256 AS v
        |        FROM documents d,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 6 + 2)) AS ti) t,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 16 + 4)) AS xi) x,
        |          LATERAL (SELECT unnest(range(0, d.doc_id % 12 + 4)) AS yi) y
        |        WHERE d.doc_id % 3 = 2)
        |  GROUP BY doc_id
        |), uni AS (
        |  SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
        |)
        |SELECT doc_id AS media_id, CAST(n AS INTEGER) AS n_vals,
        |  CAST(round(CASE WHEN n = 0 THEN 0 ELSE s::DOUBLE / n END * 10000) AS BIGINT) AS mean_val_e4,
        |  CAST(round(CASE WHEN n = 0 THEN 0
        |    ELSE sq::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n) END * 10000) AS BIGINT) AS var_val_e4,
        |  CAST(16 AS INTEGER) AS feature_dim
        |FROM uni ORDER BY media_id""".stripMargin
  )
}
