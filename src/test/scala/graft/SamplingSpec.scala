package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hash-gated sampling: the split partitions the corpus exactly, rates land
  * near their bucket fractions, and reruns are bit-identical (no rand()).
  */
class SamplingSpec extends AnyFunSuite {
  import SparkTestBase._

  test("train/val/test split partitions the corpus exactly once") {
    val counts = ops.SamplingOps.queries("mix_split_counts")(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    val total = Tables.load(spark, Sf0001, "documents").count()
    assert(counts.map(_._2).sum == total, "every document lands in exactly one split")
    assert(counts.map(_._1).toSet == Set("train", "val", "test"))
    val train = counts.filter(_._1 == "train").map(_._2).sum.toDouble / total
    assert(train > 0.6 && train < 0.9, s"train fraction ~12/16, got $train")
  }

  test("stratified sampling is deterministic across runs and keeps non-target langs intact") {
    val run1 = ops.SamplingOps.queries("mix_stratified_sample")(spark, Sf0001).collect().toSeq
    val run2 = ops.SamplingOps.queries("mix_stratified_sample")(spark, Sf0001).collect().toSeq
    assert(run1 == run2, "hash-gated sampling must be a pure function of the corpus")
    val docs = Tables.load(spark, Sf0001, "documents")
    val keptByLang = run1.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    val allByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    allByLang.foreach { case (lang, n) =>
      if (lang != "en" && lang != "zh")
        assert(keptByLang.getOrElse(lang, 0) == n, s"non-target lang $lang must be kept whole")
    }
    val enKept = keptByLang.getOrElse("en", 0).toDouble / allByLang("en")
    assert(enKept > 0.3 && enKept < 0.7, s"en keep-rate ~8/16, got $enKept")
  }

  test("token packing: packs partition each lang and never overshoot budget + one doc") {
    import org.apache.spark.sql.functions._
    val packs = ops.SamplingOps.queries("pack_token_budget")(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.load(spark, Sf0001, "documents")
      .select(col("lang"), size(functions.TextFunctions.tokens(col("text"))).cast("long").as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("tok")).as("toks"), max(col("tok")).as("maxTok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    docs.foreach { case (lang, (nDocs, totToks, maxTok)) =>
      val langPacks = packs.filter(_._1 == lang)
      assert(langPacks.map(_._3).sum == nDocs, s"$lang: every doc lands in exactly one pack")
      assert(langPacks.map(_._4).sum == totToks, s"$lang: token mass is conserved")
      assert(langPacks.map(_._2).sorted.toSeq == (0L until langPacks.size).toSeq,
        s"$lang: pack ids are contiguous from 0")
      langPacks.foreach { case (_, pid, _, nTok) =>
        assert(nTok < ops.SamplingOps.PackBudget + maxTok,
          s"$lang pack $pid: $nTok tokens breaches budget + one-doc overshoot bound")
      }
    }
  }

  test("epoch expansion repeats every doc exactly its source factor, contiguously") {
    import org.apache.spark.sql.functions._
    val rows = ops.SamplingOps.queries("mix_epoch_expand")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    def factor(src: String): Int =
      if (src == "src7") 4
      else if ("02468".contains(src.last)) 2
      else 1
    rows.groupBy(_._1).foreach { case (id, copies) =>
      val src = copies.head._2
      assert(copies.map(_._3).sorted.toSeq == (1 to factor(src)).toSeq,
        s"doc $id ($src): copies must be exactly 1..${factor(src)}")
    }
    val nDocs = Tables.load(spark, Sf0001, "documents").count()
    assert(rows.map(_._1).distinct.length.toLong == nDocs, "every doc appears")
    assert(rows.exists(_._3 == 4) && rows.exists(r => factor(r._2) == 1))
  }

  test("ngram-overlap decontamination equals brute force; fixture is far from the df cap") {
    import org.apache.spark.sql.functions._
    val engine = ops.SamplingOps.queries("decontaminate_ngram_overlap")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.load(spark, Sf0001, "documents")
    val nib = substring(md5(col("doc_id").cast("string")), 32, 1)
    val g8 = docs.select(col("doc_id"), expr("graft_ngram8_hashes(text)").as("g8"))
      .withColumn("__b", nib)
    // no training gram approaches the boilerplate cap, so the capped and
    // uncapped joins are the same relation on this fixture
    val maxDf = g8.where(col("__b") < "c")
      .select(explode(col("g8")).as("g")).groupBy("g").count()
      .agg(max(col("count"))).head.getLong(0)
    assert(maxDf <= ops.SamplingOps.NgramDocFreqCap / 2,
      s"fixture doc-freq $maxDf too close to the cap for the brute-force check")
    val brute = g8.where(col("__b") >= "e").select(col("doc_id").as("test_id"), col("g8").as("te"))
      .crossJoin(g8.where(col("__b") < "c").select(col("doc_id").as("train_id"), col("g8").as("tr")))
      .select(col("test_id"), col("train_id"),
        size(array_intersect(col("te"), col("tr"))).as("n"))
      .where(col("n") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(engine == brute,
      s"inverted-index overlap must equal brute force; engine=$engine brute=$brute")
  }

  test("decontamination equals the exhaustive test×train Jaccard join") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.jaccard
    val engine = ops.SamplingOps.queries("decontaminate_test_split")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.load(spark, Sf0001, "documents")
    val nib = substring(md5(col("doc_id").cast("string")), 32, 1)
    val sh = ops.DedupOps.shingled(docs).withColumn("__b", nib)
    val te = sh.where(col("__b") >= "e")
      .select(col("doc_id").as("test_id"), col("sh_hashes").as("te_sh"))
    val tr = sh.where(col("__b") < "c")
      .select(col("doc_id").as("train_id"), col("sh_hashes").as("tr_sh"))
    val exhaustive = te.crossJoin(tr)
      .where(jaccard(col("te_sh"), col("tr_sh")) >= ops.DedupOps.JaccardThreshold)
      .select("test_id", "train_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engine == exhaustive,
      s"banded candidates must equal brute-force truth; engine=$engine exhaustive=$exhaustive")
  }

  test("fixed-token chunks tile every document: start 0, full coverage, stride overlap") {
    import org.apache.spark.sql.functions._
    import ops.SamplingOps.{ChunkSize, ChunkStride}
    val chunks = ops.SamplingOps.queries("chunk_fixed_tokens")(spark, Sf0001)
    val perDoc = chunks.groupBy("doc_id").agg(
      min("start_tok").as("first"),
      max(col("start_tok") + col("chunk_tokens")).as("covered"),
      count(lit(1)).as("n_chunks"),
      max("chunk_tokens").as("max_len")).collect()
    val nTok = Tables.load(spark, Sf0001, "documents")
      .select(col("doc_id"), size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      val (id, n) = (r.getLong(0), nTok(r.getLong(0)))
      assert(r.getLong(1) == 0L, s"doc $id first chunk must start at 0")
      assert(r.getLong(2) == n, s"doc $id chunks must cover all $n tokens")
      assert(r.getLong(3) == (n - 1) / ChunkStride + 1, s"doc $id chunk count")
      assert(r.getLong(4) <= ChunkSize, s"doc $id chunk over size")
    }
  }

  test("sentence-bound chunks: contiguous ids, bounded overflow, sentences never split") {
    import org.apache.spark.sql.functions._
    import ops.SamplingOps.ChunkSize
    val chunks = ops.SamplingOps.queries("chunk_sentence_bound")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(chunks.nonEmpty)
    // per doc: chunk ids are the budget-WINDOW indexes ((cum−1) div B),
    // strictly increasing but not dense — an oversized sentence can skip
    // windows (and an oversized FIRST sentence starts past window 0)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val ids = cs.map(_._2).sorted
      assert(ids.distinct.length == ids.length,
        s"doc $doc chunk ids must be unique: ${ids.toSeq}")
    }
    assert(chunks.groupBy(_._1).exists(_._2.length >= 2),
      "some doc must pack into multiple chunks (non-vacuous)")
    // budget-aligned packing invariant: a chunk exceeds 2×budget only
    // never; it exceeds the budget itself only via early-ended
    // predecessors or a single oversized sentence
    chunks.foreach { case (doc, cid, nSents, toks) =>
      assert(nSents >= 1)
      assert(toks < 2L * ChunkSize || nSents == 1L,
        s"doc $doc chunk $cid: $toks tokens across $nSents sentences breaks the 2B bound")
    }
  }

  test("length buckets conserve tokens and never pad negatively") {
    import org.apache.spark.sql.functions._
    val b = ops.SamplingOps.queries("batch_length_buckets")(spark, Sf0001).collect()
    assert(b.nonEmpty)
    b.foreach(r => assert(r.getLong(3) >= 0, "padding is nonnegative"))
    val totalFromBuckets = b.map(r => r.getLong(2) * r.getLong(1) - r.getLong(3)).sum
    val total = Tables.load(spark, Sf0001, "documents")
      .select(sum(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")))
      .head.getLong(0)
    assert(totalFromBuckets == total, "max*n - pad must reconstruct the exact token mass")
  }

  test("exact quota sampling: min(quota, stratum) rows per lang, stable across runs") {
    val q1 = ops.SamplingOps.queries("mix_exact_quota")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val q2 = ops.SamplingOps.queries("mix_exact_quota")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(q1.toSeq == q2.toSeq, "hash-ordered selection must be run-stable")
    val strata = Tables.load(spark, Sf0001, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q1.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    strata.foreach { case (lang, n) =>
      assert(got.getOrElse(lang, 0L) == math.min(40L, n),
        s"$lang: expected min(40, $n)")
    }
    // ranks within each stratum are 1..k with no gaps
    q1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
  }

  test("pivot matrix unpivots back to the long-form counts exactly") {
    import org.apache.spark.sql.functions.col
    val wide = ops.SamplingOps.queries("mix_pivot_matrix")(spark, Sf0001)
    val long = wide.unpivot(Array(col("source")), "lang", "n")
      .where(col("n") > 0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = Tables.load(spark, Sf0001, "documents")
      .groupBy("source", "lang").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(long == truth, "unpivot(pivot(x)) must reproduce the long form")
    // total mass conserved through the reshape
    assert(long.values.sum == Tables.load(spark, Sf0001, "documents").count())
  }

  test("exact-moments corr matches Spark's native corr to float precision") {
    import org.apache.spark.sql.functions.{col, corr, size}
    val engine = ops.SamplingOps.queries("stats_corr_exact")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val native = Tables.load(spark, Sf0001, "documents")
      .select(col("lang"), col("n_chars").cast("double").as("x"),
        size(functions.TextFunctions.tokens(col("text"))).cast("double").as("y"))
      .groupBy("lang").agg(corr(col("x"), col("y")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(engine.keySet == native.keySet)
    engine.foreach { case (lang, c) =>
      assert(c >= -1.0 && c <= 1.0)
      assert(math.abs(c - native(lang)) < 1e-4,
        s"$lang: exact-moments $c vs native ${native(lang)}")
    }
  }

  test("exact-moments corr survives magnitudes where BIGINT moments wrap") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 12 rows of ~3e9-char "documents": Σx² ≈ 1.1e20, an order of magnitude
    // past Long.MaxValue (9.2e18) — the 100 TB moment regime. A long-based
    // moment pipeline wraps silently here; prove that, then prove the
    // DECIMAL pipeline doesn't.
    val xs = (0 until 12).map(i => 3_000_000_000L + i)
    val longSxx = xs.map(x => x * x).sum // wrapped
    val exactSxx = xs.map(x => BigInt(x) * BigInt(x)).sum
    assert(BigInt(longSxx) != exactSxx, "fixture must actually exceed the long range")
    // y = 2x exactly: corr is exactly 1. The discriminant (~1.7e3) is a
    // tiny difference of ~1e20 moments, so any wrap or rounding upstream
    // destroys the value rather than nudging it.
    val rows = xs.map(x => ("g", x, 2L * x)).toDF("grp", "x", "y")
    val out = ops.SamplingOps.corrExactByGroup(rows, "grp").collect()
    assert(out.length == 1 && out(0).getLong(1) == 12L)
    assert(out(0).getDouble(2) == 1.0,
      s"perfectly-correlated adversarial-magnitude corr must be exactly 1.0, got ${out(0).getDouble(2)}")
    // and a non-degenerate case checked against exact driver-side BigInt math
    val ys = xs.zipWithIndex.map { case (x, i) => x + i.toLong * i }
    val rows2 = xs.zip(ys).map { case (x, y) => ("g", x, y) }.toDF("grp", "x", "y")
    val n = BigInt(xs.size)
    val (sx, sy) = (xs.map(BigInt(_)).sum, ys.map(BigInt(_)).sum)
    val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val syy = ys.map(y => BigInt(y) * BigInt(y)).sum
    val expected = (n * sxy - sx * sy).toDouble /
      math.sqrt((n * exactSxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    val got = ops.SamplingOps.corrExactByGroup(rows2, "grp").collect()(0).getDouble(2)
    assert(math.abs(got - BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"decimal pipeline $got vs exact BigInt reference $expected")
  }

  test("set-ops audit obeys inclusion-exclusion and both gates are non-trivial") {
    val m = ops.SamplingOps.queries("set_ops_splits")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("intersect", "strat_minus_quota", "quota_minus_strat", "union"))
    assert(m("intersect") + m("strat_minus_quota") + m("quota_minus_strat") == m("union"),
      s"inclusion-exclusion violated: $m")
    assert(m("intersect") > 0 && m("strat_minus_quota") > 0,
      s"gates must genuinely overlap AND differ for the audit to be non-vacuous: $m")
  }
}
