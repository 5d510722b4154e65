package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Drain time vs STATE-KEY CARDINALITY — the streaming family's real
  * scaling axis.
  *
  * SCALING.json grades every batch query on corpus-row growth, but the 27
  * stream queries scale on STATE (keys held across micro-batches) and
  * horizon, not input rows: their row-scaling slopes are floor-dominated
  * (a drain pays a fixed ~0.5-0.9 s of micro-batch planning + state-store
  * commit machinery regardless of input — SCALE.md "Streaming drain
  * floor", round 19, records the per-batch decomposition). This main
  * measures the axis that actually grows at 100 TB: it drains the SAME
  * input through the registry's stateful shapes at a ladder of state-key
  * counts, and fits the log-log slope of drain time vs MEASURED state
  * rows on the largest pair.
  *
  * Making the ladder load-bearing (round 19): the fixture's events table
  * caps distinct keys at its row count (100 k at sf0.1), which left the
  * top rung's state term SMALLER than the drain floor — a slope fit on a
  * weak signal. Each event is therefore fanned into `fanout` (default 16)
  * sub-rows inside the stream — `explode(sequence(0, fanout-1))`, keyed
  * by `pmod(xxhash64(event_id, rep), K)` — so the top rung holds
  * ~1.1 M state rows at sf0.1 and the state term DOMINATES the floor
  * for every shape, including the cheapest-per-row one (mgws at
  * ~1.4 us/row needed the 16x fanout; 8x left its state term at 0.76 s
  * under a 1.1 s floor)
  * (the per-shape `state_dominated` field asserts it in the artifact).
  * The fanout is FIXED across the ladder, so it is part of the floor and
  * K stays the only variable.
  *
  * Reading rules (mirrors scaling_slopes.py):
  *  - per-(shape, K) time is the MIN over reps — the plan-cost statistic;
  *  - state grain (shuffle partitions) is held FIXED across the ladder
  *    (the same 4-partition grain the registry's stateful drains use), so
  *    K is the only variable; a real deployment re-grains per key count,
  *    which would only flatten the curve further;
  *  - acceptable slope is <= ~1: per-batch state commit is O(touched
  *    keys) for every store, and with a fixed input every key is touched
  *    once — LINEAR in K is the structural expectation, and a measured
  *    slope above ~1.2 would mean commit cost growing super-linearly in
  *    state size (the falsifier this artifact exists to catch);
  *  - the smallest rung IS the drain floor (reported per shape as
  *    `floor_sec`); the graded pair is the two LARGEST key counts, and
  *    `state_term_sec_top` = top-rung time − floor must exceed the floor
  *    (`state_dominated: true`) for the fit to be load-bearing.
  *
  * Shapes: `keyed_agg` (engine-managed aggregation state — the
  * tumbling/sliding/drift/topk family), `mgws` (arbitrary per-key state
  * via mapGroupsWithState, HDFS-backed — watermark machines,
  * sessionization), and `mgws_rocksdb` (the same state machine on the
  * RocksDB provider the registry exercises in
  * `stream_sessionize_rocksdb`/the transformWithState ops).
  *
  * Emits one JSON line (and a file, SPARK_GRAFT_BENCH_OUT or
  * STREAM_SCALING.json) with per-shape per-K times and graded slopes.
  */
object StateScaleBench {

  /** Fan each event into `fanout` distinct sub-rows (rep = 0..fanout-1)
    * so the key space can exceed the fixture's row count; fanout = 1 is
    * the identity (rep = 0 on every row, so the spec's batch twins stay
    * exact).
    */
  private def fannedEvents(spark: SparkSession, dir: String, fanout: Int): DataFrame = {
    val src = StreamingIngest.eventsStream(spark, dir)
      .select(col("event_id"), round(col("value") * 100).cast("long").as("vcents"))
    if (fanout == 1) src.withColumn("rep", lit(0))
    else src.withColumn("rep", explode(expr(s"sequence(0, ${fanout - 1})")))
  }

  /** Keyed streaming aggregation — the shape of the windowed-agg family
    * (tumbling/sliding/drift/topk): engine-managed aggregation state, one
    * state row per group, Complete-mode drain of the bounded group table.
    */
  private[graft] def keyedAggDrain(spark: SparkSession, dir: String, k: Long,
                                   fanout: Int = 1): DataFrame = {
    val agg = fannedEvents(spark, dir, fanout)
      .groupBy(pmod(xxhash64(col("event_id"), col("rep")), lit(k)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("vcents")).as("cents"))
    StreamingIngest.runToMemory(agg,
      s"state_scale_agg_${System.nanoTime()}", OutputMode.Complete())
  }

  /** Arbitrary per-key state — the shape of the mapGroupsWithState family
    * (watermark state machines, sessionization): a user state object per
    * key, Update-mode emissions.
    */
  private[graft] def mgwsDrain(spark: SparkSession, dir: String, k: Long,
                               fanout: Int = 1): DataFrame = {
    import spark.implicits._
    val updates = fannedEvents(spark, dir, fanout)
      .select(pmod(xxhash64(col("event_id"), col("rep")), lit(k)).as("bucket"),
        col("vcents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (bucket: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          (bucket, total)
      }
      .toDF("bucket", "cents")
    StreamingIngest.runToMemory(updates,
      s"state_scale_mgws_${System.nanoTime()}", OutputMode.Update())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val fanout = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STATE_FANOUT", "16").toInt)
    // default ladder: floor anchor 64, then 16384 -> 131072 -> 2097152 —
    // the graded (top) pair carries ~8x measured state-row growth at
    // sf0.1 under fanout 16; override via args
    val keyCounts: Seq[Long] =
      if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(64L, 16384L, 131072L, 2097152L)
    // fail BEFORE the bench runs, not during JSON assembly afterwards
    require(keyCounts.length >= 2,
      s"need at least two key counts to grade a slope, got $keyCounts")
    require(keyCounts == keyCounts.sorted && keyCounts.distinct == keyCounts,
      s"key counts must be strictly increasing, got $keyCounts")
    val spark = graft.GraftSession.forHarness()
    // FIXED state grain across the ladder — the registry's stateful
    // drains run at this grain (StreamingIngest.withStateGrain); K must
    // be the only variable
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def withRocks[A](f: => A): A =
      graft.util.ScopedConf.withConfs(spark, StreamingIngest.RocksDbProvider)(f)

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage

    // untimed warmup: session/codegen/stream-machinery (and the RocksDB
    // native library load) costs must not bill to the first rung
    keyedAggDrain(spark, sfDir, 16L, fanout)
    mgwsDrain(spark, sfDir, 16L, fanout)
    withRocks { mgwsDrain(spark, sfDir, 16L, fanout) }

    val shapes: Seq[(String, Long => DataFrame)] = Seq(
      "keyed_agg" -> (k => keyedAggDrain(spark, sfDir, k, fanout)),
      "mgws" -> (k => mgwsDrain(spark, sfDir, k, fanout)),
      "mgws_rocksdb" -> (k => withRocks { mgwsDrain(spark, sfDir, k, fanout) }))
    // interleave reps across the full ladder (rep-major order) so a host
    // contention episode inflates one REP, not one RUNG — the per-rung
    // min then survives it
    val times = scala.collection.mutable.LinkedHashMap[(String, Long), Double]()
    val groups = scala.collection.mutable.LinkedHashMap[(String, Long), Long]()
    (1 to reps).foreach { _ =>
      shapes.foreach { case (shape, fn) =>
        keyCounts.foreach { k =>
          // runToMemory awaits full drain termination, so the timed
          // section is the stream's real work and ONLY that: the
          // state-row census below runs OUTSIDE the window — it scales
          // with the graded axis itself (distinct over up to |K| sink
          // rows), and billing it to the drain would inflate exactly the
          // slope this artifact grades
          val t0 = System.nanoTime()
          val drained = fn(k)
          val dt = (System.nanoTime() - t0) / 1e9
          // census: distinct buckets, not raw emissions (Update mode can
          // emit a key once per micro-batch)
          groups((shape, k)) = drained.select(col("bucket")).distinct().count()
          val key = (shape, k)
          times(key) = times.get(key).fold(dt)(math.min(_, dt))
        }
      }
    }

    // graded on MEASURED state rows, not the K knob: hash collisions and
    // input cardinality cap rows below K at the top rungs, and grading on
    // K would understate the slope exactly where it matters
    def topPair(shape: String): (Long, Long, Double, Double) = {
      val (kLo, kHi) = (keyCounts(keyCounts.length - 2), keyCounts.last)
      (groups((shape, kLo)), groups((shape, kHi)),
        times((shape, kLo)), times((shape, kHi)))
    }
    // None when the top rungs SATURATE: on a small corpus every fanned
    // event already has its own bucket, so the measured row counts
    // converge — a zero or tiny log(rHi/rLo) denominator turns timing
    // noise into slopes of ±5 exactly where the artifact claims a graded
    // number. Grade only when the pair carries at least 2x real row
    // growth.
    val MinRowGrowth = 2.0
    def slope(shape: String): Option[Double] = {
      val (rLo, rHi, tLo, tHi) = topPair(shape)
      if (rHi >= rLo * MinRowGrowth && tLo > 0 && tHi > 0)
        Some(math.log(tHi / tLo) / math.log(rHi.toDouble / rLo))
      else None
    }
    /** Marginal drain seconds per additional state row on the top pair —
      * the number a capacity plan multiplies by expected key count.
      */
    def marginalSecPerRow(shape: String): Option[Double] = {
      val (rLo, rHi, tLo, tHi) = topPair(shape)
      if (rHi >= rLo * MinRowGrowth) Some((tHi - tLo) / (rHi - rLo).toDouble)
      else None
    }

    val loadAfter = osBean.getSystemLoadAverage
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("metric", "stream_state_scaling")
    root.put("sf", sfDir)
    root.put("statistic", s"per-rung min over $reps interleaved reps")
    val ks = root.putArray("key_counts")
    keyCounts.foreach(ks.add)
    val shapesNode = root.putObject("shapes")
    shapes.foreach { case (shape, _) =>
      val s = shapesNode.putObject(shape)
      val t = s.putObject("drain_sec")
      keyCounts.foreach(k => t.put(k.toString, math.rint(times((shape, k)) * 1000) / 1000))
      val g = s.putObject("state_rows")
      keyCounts.foreach(k => g.put(k.toString, groups((shape, k))))
      val (rLo, rHi, _, tHi) = topPair(shape)
      s.put("graded_pair_state_rows", s"$rLo->$rHi")
      // the load-bearing criterion: the top rung's state term must
      // exceed the drain floor (smallest rung's time) for the slope fit
      // to measure state cost rather than floor noise
      val floor = times((shape, keyCounts.head))
      val stateTerm = tHi - floor
      s.put("floor_sec", math.rint(floor * 1000) / 1000)
      s.put("state_term_sec_top", math.rint(stateTerm * 1000) / 1000)
      s.put("state_dominated", stateTerm >= floor)
      slope(shape) match {
        case Some(v) => s.put("graded_slope", math.rint(v * 1000) / 1000)
        case None => s.putNull("graded_slope")
          s.put("graded_slope_note",
            "top rungs saturated (under 2x state-row growth) — corpus too small to grade this pair")
      }
      marginalSecPerRow(shape).foreach(v =>
        s.put("marginal_usec_per_state_row", math.rint(v * 1e6 * 100) / 100))
    }
    val env = root.putObject("env")
    env.put("load_avg_before", loadBefore)
    env.put("load_avg_after", loadAfter)
    env.put("shuffle_partitions", 4)
    env.put("reps", reps)
    env.put("fanout", fanout)
    env.put("git_sha", graft.util.GitInfo.headSha())
    env.put("src_hash", graft.util.GitInfo.srcHash())
    val json = mapper.writeValueAsString(root)
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "STREAM_SCALING.json")
    // a failed write must be LOUD and fatal: this file is committed as
    // evidence, and a silently-swallowed failure leaves a STALE artifact
    // on disk masquerading as this run's output
    val writeOk =
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[state-scale] artifact write to $outFile FAILED " +
          s"(any existing file there is STALE): $e")
        false
      }
    spark.stop()
    if (!writeOk) sys.exit(1)
  }
}
