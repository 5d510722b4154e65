package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints exactly one JSON line. Failed queries are reported in an `errors`
  * object and excluded from `value` — a fast failure must never masquerade
  * as a fast query.
  *
  * Methodology — TWO modes, because they answer different questions:
  *
  *  - default (medians): per query, one untimed warmup then
  *    SPARK_GRAFT_BENCH_RUNS timed runs (default 3), reporting the
  *    MEDIAN, with an explicit GC + cache clear between queries — a
  *    timing measures the query's PLAN, not whatever shared-JVM debris
  *    the alphabetical sweep accumulated before it.
  *  - SPARK_GRAFT_BENCH_MODE=sweep: one cold timed pass per query, no
  *    per-query warmup, no forced GC, no cache clearing — the
  *    driver-style contended single-session sweep. This is the mode that
  *    exposes cross-query leaks (a cache or state store left behind by
  *    query N bills query N+40); the queries release their own caches,
  *    so sweep totals should land near the summed medians plus cold-start
  *    costs, not multiples of them.
  *
  * SCALE.md's bench-history table records which mode a number came from.
  *
  * SELF-DIAGNOSIS (round 16): a median alone cannot defend itself — a
  * machine-contended run (round 15's driver artifact: graph_pagerank
  * median 9.73 s where the plan costs ~1.9 s) is indistinguishable from
  * a plan regression after the fact. The archived BENCH_FULL.json
  * therefore carries, per query, the full [min … median … max] spread
  * plus the warmup time, and a run-environment stamp (1-minute load
  * average before/after the sweep, availableProcessors, the TempDirs
  * scratch root, mode, runs-per-query). Reading rule (SCALE.md "Reading
  * a bench artifact"): median >> min on the same tree means contention,
  * not regression — trust min for plan-cost trending and check the
  * loadavg stamp; a REAL regression moves min.
  */
object Bench {

  /** JSON string-body escape for the mains' output (Bench's line and
    * archive, Verify's oracle_sql.json): quote, backslash, and EVERY
    * control char (<0x20) as a hex unicode escape — a tab or CR in a
    * query name or oracle SQL must never break the consumer's json.load.
    */
  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.harnessCpus
    val timedRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.forHarness(cpus)

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage // -1.0 where unsupported

    // untimed JVM warmup: JIT/codegen/session setup must not bill to the
    // alphabetically-first query
    spark.range(1000000).selectExpr("sum(id)").collect()
    try Tables.load(spark, sfDir, "lineitem").count() catch { case _: Throwable => () }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query evidence for the archive: (warmup, sorted timed runs) —
    // the spread is what lets a later reader tell contention (median >>
    // min) from regression (min moved)
    val details = scala.collection.mutable.LinkedHashMap[String, (Double, Seq[Double])]()
    // per-query wall position: seconds from sweep start to this query's
    // first timed activity. In sweep mode (single cold pass, no spread)
    // this is the only leak detector the artifact has: a cross-query leak
    // shows as a monotone RAMP of per-query time against `at`, while host
    // contention inflates queries uniformly regardless of position.
    val ats = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional query-name args restrict the sweep (local iteration only;
    // the round driver passes none, so it always times the full surface)
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }.toSeq
    val sweepMode = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("sweep")
    val sweepT0 = System.nanoTime()
    selected.sortBy(_._1).foreach { case (name, fn) =>
      ats(name) = (System.nanoTime() - sweepT0) / 1e9
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        // hygienic queries return a materialized local checkpoint; its
        // blocks are dead after the count — free them in BOTH modes (this
        // is the query's own lifecycle, not harness hygiene).
        // INVARIANT: registry queries must not return plans referencing a
        // SHARED checkpointed Dataset — this call unpersists every
        // LogicalRDD in the plan, and local checkpoints are unrecoverable
        // once unpersisted.
        org.apache.spark.sql.graft.GraftSqlBridge.releaseLocalCheckpoint(df)
        if (!sweepMode)
          spark.catalog.clearCache() // per-query caches must not leak across timings
        dt
      }
      try {
        if (sweepMode) {
          // contended single pass: no warmup, no GC, no cache clearing —
          // queries must clean up after THEMSELVES for this to stay flat
          timings(name) = once()
          details(name) = (0.0, Seq(timings(name)))
        } else {
          // Sweep hygiene: earlier queries' dead shuffles/broadcasts/
          // accumulators are only reclaimed when the ContextCleaner's weak
          // refs are processed — i.e. on GC. On a large heap GC is rare, so
          // a late-alphabet query otherwise executes amid hundreds of MBs
          // of another query's debris and bills for it (the full sweep was
          // timing stream_* 2-4x slower than an isolated run). One explicit
          // GC per query, outside the timed window, keeps each timing a
          // property of the query's plan rather than of its sweep position.
          System.gc()
          val warmup = once() // per-query warmup (plan compilation, first-touch I/O)
          val runs = Seq.fill(timedRuns)(once()).sorted
          // true median: middle value, or mean of the two middles when even
          timings(name) =
            if (runs.size % 2 == 1) runs(runs.size / 2)
            else (runs(runs.size / 2 - 1) + runs(runs.size / 2)) / 2.0
          details(name) = (warmup, runs)
        }
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          spark.catalog.clearCache()
      }
    }
    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // ONE builder for both outputs: the stdout line and the archive share
    // the same core field string, so they can never drift apart — the
    // previous string-surgery assembly (line.dropRight(1) + suffix) would
    // silently corrupt the archive on any change to the line's tail
    val core = s""""metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"sf":"${esc(sfDir)}","cpus":$cpus"""
    val line = "{" + core + "}"
    println(line)
    // driver-proof summary: the big line above is ~15 kB and a log-tail
    // capture truncates it mid-JSON (the round-16 driver artifact kept
    // only the last ~56 of 307 timings and lost the total). Print the
    // HEADLINE a second time as a separate compact line AFTER it, so any
    // tail capture that keeps the sweep's last lines records the total,
    // the ok/err counts, the slowest five, and the tree it ran on.
    val slowest = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val summary = s"""{"metric":"summary","total":$total,"n_ok":${timings.size},""" +
      s""""n_err":${errors.size},"slowest":$slowest,""" +
      s""""git_sha":"${esc(graft.util.GitInfo.headSha())}","sf":"${esc(sfDir)}"}"""
    println(summary)
    // archive the complete per-query map to a repo file as well — log-tail
    // capture truncates long lines, and the full map is what makes
    // cross-round trending possible. The archive is a SUPERSET of the
    // stdout line: per-query [min, median, max] + warmup evidence, the
    // query's wall position in the sweep (`at`), and a run-environment
    // stamp, so a contended run is identifiable from the artifact alone
    // (SCALE.md "Reading a bench artifact").
    val loadAfter = osBean.getSystemLoadAverage
    val det = details.map { case (k, (warm, runs)) =>
      val rs = runs.mkString("[", ",", "]")
      // sweep mode runs NO warmup — null, not a fabricated 0.0, so the
      // artifact never claims a warmup that didn't happen
      val w = if (sweepMode) "null" else warm.toString
      s""""${esc(k)}":{"min":${runs.min},"median":${timings(k)},"max":${runs.max},"warmup":$w,"at":${ats(k)},"runs":$rs}"""
    }.mkString("{", ",", "}")
    // the stamped timed_runs must describe what THIS run did: sweep mode
    // executes exactly one cold pass regardless of SPARK_GRAFT_BENCH_RUNS
    val env =
      s"""{"load_avg_before":$loadBefore,"load_avg_after":$loadAfter,""" +
        s""""available_processors":${Runtime.getRuntime.availableProcessors},""" +
        s""""scratch_root":"${esc(graft.util.TempDirs.rootDescription)}",""" +
        s""""mode":"${if (sweepMode) "sweep" else "median"}",""" +
        s""""timed_runs":${if (sweepMode) 1 else timedRuns},""" +
        // two artifacts with the same sha AND the same src-content stamp
        // ran the same binary: per-query drift between them is host noise
        // by construction, and bench_trend.py's same_tree_drift rule uses
        // exactly these fields (src_hash closes the dirty-tree hole —
        // uncommitted src/ edits change it while HEAD stays put)
        s""""git_sha":"${esc(graft.util.GitInfo.headSha())}",""" +
        s""""src_hash":"${esc(graft.util.GitInfo.srcHash())}"}"""
    val full = "{" + core + s""","detail":$det,"env":$env}"""
    // parse-back assertion: a malformed archive OR summary line must fail
    // HERE, loudly, not in some later round's trend tooling (jackson
    // ships with Spark)
    try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readTree(full)
      m.readTree(summary)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] archive JSON failed to parse back: ${e.getMessage}")
      throw e
    }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] archive write failed: ${e.getMessage}") }
    spark.stop()
  }
}
