package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE --data DIR`. A closed loop with one client drives
  * the workload's ops for S seconds; prints one result line prefixed
  * `PERFBENCH ` and writes the run record (stamp, input sizes, spans) to
  * FILE.
  */
object Main {
  /** Input generation is repeated this many times per run; `setup_s` is
    * session start + the median generation time + the warm pass.
    */
  val SetupReps = 2

  final case class Timed(out: OpOut, seconds: Double, traced: Boolean)

  /** Destination footprint is read after this many timed ops (or at the
    * end of a shorter run), so it does not depend on how fast ops ran.
    */
  val FootprintOps = 16

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")
    val data = arg("data")

    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(if (trace) Some(sc) else None)
    val probe = new SparkProbe
    if (trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }

    // set-up: input generation, repeated (the last repetition's inputs are
    // the ones measured), then one untimed warm pass
    val genTimes = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    (0 until SetupReps).foreach { r =>
      if (w != null) { w.cleanup(); deleteTree(s"$work/rep${r - 1}") }
      tracer.spans.clear()
      tracer.enabled = trace
      tracer.op = Tracer.SetupOp
      val t0 = System.nanoTime()
      w = Workload(name, spark, seed, tracer, data)
      w.prepare(s"$work/rep$r")
      genTimes += (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
    }
    val warmT0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + Stats.median(genTimes.toSeq) + warmS

    // timed phase
    val load0 = Host.loadAvg1()
    val ticks0 = Host.cpuTicks()
    val cpu0 = Host.processCpuS()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    tracer.enabled = trace
    tracer.op = Tracer.StartOp
    tracer.span("op")(w.startTimed())
    val shareS = elapsed / w.startTimedShareOps
    val ops = mutable.ArrayBuffer.empty[Timed]
    // (parquet bytes, files, partitions, distinct source rows)
    def measureFootprint() = {
      val (b, f, p) = destFootprint(w.destDirs)
      (b, f, p, w.destDistinctRows)
    }
    var footprint: Option[(Long, Long, Long, Long)] = None
    val statusFilesSeen = mutable.ArrayBuffer.empty[Long]
    var drained = false
    while (!drained && (elapsed < seconds || !w.atBoundary)) {
      w.next() match {
        case None => drained = true
        case Some(op) =>
          val i = ops.size
          val traced = trace && i % 2 == 0
          tracer.enabled = traced
          tracer.op = i
          if (traced) statusFilesSeen += w.statusFiles
          val a = System.nanoTime()
          val out =
            try tracer.span("op")(op())
            catch { case NonFatal(e) =>
              System.err.println(s"[perfbench] op $i threw: $e")
              OpOut("?", ok = false, 0)
            }
          ops += Timed(out, (System.nanoTime() - a) / 1e9 + shareS, traced)
          if (ops.size == FootprintOps) footprint = Some(measureFootprint())
      }
    }
    val wall = elapsed
    val cpuS = Host.processCpuS() - cpu0
    val ticks1 = Host.cpuTicks()
    val load1 = Host.loadAvg1()
    tracer.enabled = false
    require(ops.nonEmpty, "no op completed in the timed phase")

    System.err.println(s"[perfbench] timed phase done: ${ops.size} ops in $wall s")
    val failedGroups = (w.gate() ++ w.warmFailed).toSet
    System.err.println(s"[perfbench] gate done, failed groups: ${failedGroups.mkString(",")}")
    val failed = ops.count(o => !o.out.ok || failedGroups(o.out.group))
    val correct = failed == 0 && failedGroups.isEmpty
    val (steal, idle) = Host.stealIdle(ticks0, ticks1)
    val n = ops.size
    val lat = ops.map(_.seconds).toSeq

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val (bytes, files, parts, distinct) = footprint.getOrElse(measureFootprint())
        // registry_micro writes no destination: its dest_* are the neutral 1
        val etl = w.destDirs.nonEmpty
        Seq(
          ("setup_s", "s", setupS),
          ("op_p50_s", "s", Stats.median(lat)),
          ("op_tail_s", "s", Stats.percentile(lat, w.tailP)),
          ("ops_per_s", "1/s", n / wall),
          ("rows_per_s", "rows/s", ops.map(_.out.rows).sum / wall),
          ("cpu_s_per_op", "s", cpuS / n),
          ("ok_frac", "ratio", 1.0 - failed.toDouble / n),
          ("dest_bytes_per_row", "B", if (etl && distinct > 0) bytes.toDouble / distinct else 1.0),
          ("dest_files_per_partition", "files", if (etl && parts > 0) files.toDouble / parts else 1.0),
          ("peak_rss_mb", "MB", Host.peakRssMb()))
      } else {
        org.apache.spark.PerfbenchBridge.drainListeners(sc)
        val attribution = Attribution(tracer.spans.toSeq, probe)
        val tracedOps = ops.filter(_.traced)
        val nT = math.max(1, tracedOps.size)
        // timed ops weigh 1 / traced ops; start-of-phase work is shared by
        // all ops; provisioning during set-up counts per provisioned tenant
        // and only in the CatalogOps layer
        val layer = Layers.perLayer(tracer.spans.toSeq, attribution, s =>
          if (s.op >= 0) 1.0 / nT
          else if (s.op == Tracer.StartOp) 1.0 / n
          else if (s.layer == "CatalogOps") 1.0 / math.max(1, w.provisioned)
          else 0.0)
        val opSpans = tracer.spans.filter(s => s.name == "op" && s.op >= 0).toSeq
        val untraced = ops.filterNot(_.traced)
        val overhead =
          if (untraced.isEmpty || tracedOps.isEmpty) 0.0
          else (untraced.size / untraced.map(_.seconds).sum) / (tracedOps.size / tracedOps.map(_.seconds).sum) - 1.0
        val values = layer ++ Map(
          "MessageFrontEnd.quarantined" -> w.quarantined.toDouble / n,
          "MetaStore.status_files" -> (if (statusFilesSeen.isEmpty) 0.0 else statusFilesSeen.sum.toDouble / statusFilesSeen.size),
          "EtlJob.retries" -> tracedOps.map(_.out.retries).sum.toDouble / nT,
          "host.steal_frac" -> steal,
          "trace.overhead_frac" -> overhead,
          "trace.job_covered_frac" -> Layers.jobCoveredFrac(opSpans, tracer.spans.toSeq, attribution))
        Layers.All.map { case (k, u) => (k, u, values.getOrElse(k, 0.0)) }
      }

    val stamp = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"),
      "nproc" -> cpus.toString, "master" -> Json.str(sc.master),
      "steal_frac" -> Json.num(steal), "idle_frac" -> Json.num(idle),
      "load_avg_before" -> Json.num(load0), "load_avg_after" -> Json.num(load1),
      "git_sha" -> Json.str(graft.util.GitInfo.headSha(sys.env.getOrElse("PERFBENCH_ROOT", "."))),
      "src_hash" -> Json.str(graft.util.GitInfo.srcHash(sys.env.getOrElse("PERFBENCH_ROOT", "."))),
      "session_s" -> Json.num(sessionS),
      "generate_s" -> genTimes.map(Json.num).mkString("[", ",", "]"), "warm_s" -> Json.num(warmS),
      "timed_wall_s" -> Json.num(wall), "ops" -> n.toString, "traced_ops" -> ops.count(_.traced).toString,
      "tail_percentile" -> Json.num(w.tailP),
      "tail_rule_percentile" -> Stats.tailPercentile(n).fold("null")(Json.num),
      "queue_drained" -> drained.toString,
      "inputs" -> Json.obj(w.inputSizes.map { case (k, v) => k -> v.toString }),
      "failed_groups" -> failedGroups.toSeq.sorted.map(Json.str).mkString("[", ",", "]"),
      "op_groups" -> Json.obj(ops.groupBy(_.out.group).toSeq.sortBy(_._1).map { case (g, os) => g -> os.size.toString }),
      "failed_ops_by_group" -> Json.obj(ops.filter(o => !o.out.ok || failedGroups(o.out.group))
        .groupBy(_.out.group).toSeq.sortBy(_._1).map { case (g, os) => g -> os.size.toString }),
      "op_latencies_s" -> lat.map(Json.num).mkString("[", ",", "]"),
      "group_p50_s" -> Json.obj(ops.groupBy(_.out.group).toSeq.sortBy(_._1).map { case (g, os) =>
        g -> Json.num(Stats.median(os.map(_.seconds).toSeq)) }),
      "registry_dumps" -> (w match {
        case r: RegistryMicro => Json.str(r.dumps)
        case _ => "null"
      }))
    val record = Json.obj(stamp :+ ("metrics" -> Json.obj(metrics.map { case (k, u, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
    Files.writeString(Paths.get(arg("out")), record + "\n")
    if (trace) {
      val spansOut = tracer.spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "op" -> s.op.toString,
          "parent" -> s.parent.toString, "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
      }.mkString("", "\n", "\n")
      Files.writeString(Paths.get(arg("out").stripSuffix(".json") + ".spans.jsonl"), spansOut)
    }
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> n.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println("PERFBENCH " + result)
    spark.stop()
    System.err.println("[perfbench] session stopped")
  }

  /** (parquet bytes, parquet files, partition directories) under `dirs`. */
  def destFootprint(dirs: Seq[String]): (Long, Long, Long) = {
    var bytes = 0L; var files = 0L; var parts = 0L
    dirs.filter(d => Files.isDirectory(Paths.get(d))).foreach { d =>
      val s = Files.walk(Paths.get(d))
      try s.forEach { p =>
        val f = p.getFileName.toString
        if (Files.isDirectory(p) && f.startsWith("export_date=")) parts += 1
        else if (Files.isRegularFile(p) && f.endsWith(".parquet") && !f.startsWith(".")) {
          files += 1; bytes += Files.size(p)
        }
      } finally s.close()
    }
    (bytes, files, parts)
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }
}

/** The session `graft.Bench` builds, at the machine's core count. */
object Session {
  def start(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.util.TempDirs.create("graft_local_"))
      .config("spark.sql.warehouse.dir", graft.util.TempDirs.create("graft_wh_"))
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.suppressExpectedUnpersistWarnings()
    spark
  }
}
