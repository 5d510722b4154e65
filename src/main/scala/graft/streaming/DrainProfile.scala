package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Where does a micro-batch drain's fixed cost actually go?
  *
  * The 27 streaming registry queries each pay ~0.9–2.4 s regardless of
  * input — the biggest block in the full-sweep floor total. Before
  * cutting anything, measure: this main drains representative shapes and
  * prints, per micro-batch, Spark's own `durationMs` breakdown
  * (triggerExecution = the whole batch; queryPlanning, getBatch,
  * walCommit, commitOffsets, addBatch = its parts) plus the batch count
  * and the wall time around the whole drain — so "the floor is
  * structural" or "the floor is N avoidable batches of WAL fsyncs"
  * becomes a measured claim either way (SCALE.md "Streaming drain
  * floor").
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.streaming.DrainProfile"
  */
object DrainProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = graft.GraftSession.harnessCpus
    val spark = graft.GraftSession.forHarness(cpus)

    // untimed warmup: JIT + first-touch I/O must not bill to the profile
    spark.range(1000000).selectExpr("sum(id)").collect()
    StreamingIngest.eventsStream(spark, sfDir).writeStream
      .format("noop").trigger(Trigger.AvailableNow()).start().awaitTermination()

    // 3 drains per shape: run 1 pays codegen/plan-compile warmup, runs
    // 2-3 are what the bench's post-warmup floor is made of
    def profile(name: String, reps: Int = 3)
               (drain: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val walls = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val q = drain
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        if (i == reps) {
          val progs = q.recentProgress
          println(f"== $name: ${progs.length} micro-batch(es) in the last drain")
          progs.foreach { p =>
            val d = p.durationMs
            def g(k: String) = Option(d.get(k)).map(_.toString).getOrElse("-")
            println(s"  batch ${p.batchId}: rows=${p.numInputRows} " +
              s"trigger=${g("triggerExecution")}ms plan=${g("queryPlanning")}ms " +
              s"getBatch=${g("getBatch")}ms latestOffset=${g("latestOffset")}ms " +
              s"wal=${g("walCommit")}ms commit=${g("commitOffsets")}ms " +
              s"addBatch=${g("addBatch")}ms stateCommit=${g("stateCommit")}ms")
          }
          val summed = progs.map(p =>
            Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)).sum
          println(f"  outside-batch overhead ${wall - summed / 1000.0}%.3f s " +
            "(query start/stop, source init, listing)")
        }
        StreamingIngest.unloadStateStoresForProfile()
        wall
      }
      println(("  walls: " + walls.map(w => f"$w%.3f").mkString(" ")) + " s")
    }

    val grain = spark.conf.get("spark.sql.shuffle.partitions")
    println(s"sfDir=$sfDir cpus=$cpus grain=$grain")

    // shape 1: stateless append -> parquet sink (the ETL slice)
    profile("stateless_parquet") {
      val root = graft.util.TempDirs.create("graft_prof_etl_")
      StreamingIngest.eventsStream(spark, sfDir)
        .select(col("event_id"), col("ts"))
        .writeStream.format("parquet")
        .option("path", s"$root/data").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    }

    // shape 2: keyed agg with watermark, Complete to memory (tumbling family)
    profile("keyed_agg_memory") {
      StreamingIngest.eventsStream(spark, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("win"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"prof_${System.nanoTime()}")
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    }

    // shape 3: stream-stream interval join -> parquet (the 2.3 s floor family)
    profile("stream_stream_join") {
      val ev = StreamingIngest.eventsStream(spark, sfDir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts")).withWatermark("v_ts", "1 hour")
      val root = graft.util.TempDirs.create("graft_prof_join_")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("p_ts"))
        .select(col("purchase_id"), col("view_id"))
        .writeStream.format("parquet")
        .option("path", s"$root/data").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    }

    // variant A: inner join WITHOUT the trailing no-data micro-batch —
    // inner matches emit eagerly, so that batch only evicts state
    def joinDrain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val ev = StreamingIngest.eventsStream(spark, sfDir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts")).withWatermark("v_ts", "1 hour")
      val root = graft.util.TempDirs.create("graft_prof_join_")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("p_ts"))
        .select(col("purchase_id"), col("view_id"))
        .writeStream.format("parquet")
        .option("path", s"$root/data").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    }
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    profile("join_no_nodata")(joinDrain())
    spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")

    // variant B: join at state grain 4 (registry value) vs 2
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    profile("join_grain2")(joinDrain())
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    // variant C: RocksDB-backed join state
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    profile("join_rocksdb")(joinDrain())
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // variant F: LEFT OUTER join (needs its no-data batch) at grain 4 vs 2
    def outerDrain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val ev = StreamingIngest.eventsStream(spark, sfDir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts")).withWatermark("p_ts", "1 hour")
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts")).withWatermark("v_ts", "1 hour")
      val root = graft.util.TempDirs.create("graft_prof_louter_")
      p.join(v, col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") < col("p_ts"), "leftOuter")
        .select(col("purchase_id"), coalesce(col("view_id"), lit(-1L)).as("view_id"))
        .writeStream.format("parquet")
        .option("path", s"$root/data").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    }
    Seq("4", "2").foreach { g =>
      spark.conf.set("spark.sql.shuffle.partitions", g)
      profile(s"louter_grain$g")(outerDrain())
    }
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    // variant G: mgws shape (sessionize-like) at grain 8 vs 4, HDFS store,
    // then RocksDB with and without changelog checkpointing
    def mgwsDrain(): org.apache.spark.sql.streaming.StreamingQuery = {
      import spark.implicits._
      StreamingIngest.eventsStream(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
          (u: Long, rows: Iterator[(Long, Long)],
           st: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val mx = rows.foldLeft(st.getOption.getOrElse(Long.MinValue))((a, r) =>
              math.max(a, r._2))
            st.update(mx); (u, mx)
        }
        .toDF("user_id", "us")
        .writeStream.format("memory").queryName(s"prof_m_${System.nanoTime()}")
        .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
    }
    Seq("8", "4").foreach { g =>
      spark.conf.set("spark.sql.shuffle.partitions", g)
      profile(s"mgws_grain$g")(mgwsDrain())
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    profile("mgws_rocksdb_g8")(mgwsDrain())
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    profile("mgws_rocksdb_changelog")(mgwsDrain())
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // variant D: keyed agg at grain 8 / 4 / 2 — how much of the Complete-
    // drain floor is per-partition state-store commit + task overhead?
    def aggDrain(): org.apache.spark.sql.streaming.StreamingQuery =
      StreamingIngest.eventsStream(spark, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("win"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"prof_${System.nanoTime()}")
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    Seq("8", "4", "2").foreach { g =>
      spark.conf.set("spark.sql.shuffle.partitions", g)
      profile(s"agg_grain$g")(aggDrain())
    }
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    // variant E: exact dedup with and without the trailing no-data batch
    def dedupDrain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val root = graft.util.TempDirs.create("graft_prof_dedup_")
      StreamingIngest.eventsStream(spark, sfDir, copies = 2)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"))
        .writeStream.format("parquet")
        .option("path", s"$root/data").option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    }
    profile("dedup_nodata_on")(dedupDrain())
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    profile("dedup_nodata_off")(dedupDrain())
    spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")

    spark.stop()
  }
}
