package perfbench

/** Per-op, per-layer numbers from a traced run. */
object Layers {
  val Names: Seq[String] = Seq("MessageFrontEnd", "MetaStore", "CatalogOps", "EtlJob", "ops")

  /** Call timings: metric name -> (span name, self time instead of duration). */
  val Calls: Seq[(String, String, Boolean)] = Seq(
    ("MessageFrontEnd.decode_s", "MessageFrontEnd.decode", false),
    ("MetaStore.configFor_s", "MetaStore.configFor", false),
    ("MetaStore.lastSuccessWatermark_s", "MetaStore.lastSuccessWatermark", false),
    ("MetaStore.nextStatusSeq_s", "MetaStore.nextStatusSeq", false),
    ("MetaStore.appendStatus_s", "MetaStore.appendStatus", false),
    ("CatalogOps.provision_s", "CatalogOps.provision", false),
    ("EtlJob.self_s", "EtlJob.run", true),
    ("ops.build_s", "ops.build", false),
    ("ops.action_s", "ops.action", false),
    ("ops.release_s", "ops.release", false))

  val SparkCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "executor_run_s" -> "s", "executor_cpu_s" -> "s",
    "gc_s" -> "s", "shuffle_write_mb" -> "MB", "input_mb" -> "MB", "output_mb" -> "MB",
    "catalyst_analysis_s" -> "s", "catalyst_optimization_s" -> "s", "catalyst_planning_s" -> "s",
    "driver_s" -> "s")

  val Counts: Seq[(String, String)] = Seq(
    "MessageFrontEnd.quarantined" -> "count", "MetaStore.status_files" -> "count",
    "EtlJob.retries" -> "count")

  val Extra: Seq[(String, String)] = Seq(
    "host.steal_frac" -> "ratio", "trace.overhead_frac" -> "ratio",
    "trace.job_covered_frac" -> "ratio")

  /** Every per-layer metric with its unit, in output order. */
  val All: Seq[(String, String)] =
    Calls.map(c => c._1 -> "s") ++
      (for (l <- Names; (m, u) <- SparkCounters) yield s"$l.$m" -> u) ++ Counts ++ Extra

  private val Mb = 1024.0 * 1024.0

  /** Sums each span's numbers into its layer, weighting a span by
    * `weight(span)` (1 / number of ops it is shared by).
    */
  def perLayer(spans: Seq[Span], a: Attribution.Result, weight: Span => Double): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    Calls.foreach { case (metric, spanName, self) =>
      add(metric, 0.0)
      spans.filter(_.name == spanName).foreach { s =>
        val ms = if (self) a.selfMs(s.id) else s.end - s.start
        add(metric, ms / 1000.0 * weight(s))
      }
    }
    for (l <- Names; (m, _) <- SparkCounters) add(s"$l.$m", 0.0)
    spans.filter(s => Names.contains(s.layer)).foreach { s =>
      val w = weight(s)
      val l = s.layer
      a.counters.get(s.id).foreach { c =>
        add(s"$l.jobs", c.jobs * w)
        add(s"$l.tasks", c.tasks * w)
        add(s"$l.executor_run_s", c.runMs / 1000.0 * w)
        add(s"$l.executor_cpu_s", c.cpuNs / 1e9 * w)
        add(s"$l.gc_s", c.gcMs / 1000.0 * w)
        add(s"$l.shuffle_write_mb", c.shuffleWriteB / Mb * w)
        add(s"$l.input_mb", c.inputB / Mb * w)
        add(s"$l.output_mb", c.outputB / Mb * w)
        add(s"$l.catalyst_analysis_s", c.analysisMs / 1000.0 * w)
        add(s"$l.catalyst_optimization_s", c.optimizationMs / 1000.0 * w)
        add(s"$l.catalyst_planning_s", c.planningMs / 1000.0 * w)
      }
      add(s"$l.driver_s", a.driverMs(s.id) / 1000.0 * w)
    }
    out.toMap
  }

  /** Share of op wall time during which at least one of the op's jobs ran. */
  def jobCoveredFrac(opSpans: Seq[Span], spans: Seq[Span], a: Attribution.Result): Double = {
    val byOp = spans.groupBy(_.op)
    var covered = 0.0
    var wall = 0.0
    opSpans.foreach { op =>
      val jobs = byOp.getOrElse(op.op, Nil).flatMap(s => a.jobIntervals.getOrElse(s.id, Nil))
        .map { case (s, e) => (math.max(s, op.start), math.min(e, op.end)) }
      covered += Stats.measure(jobs)
      wall += op.end - op.start
    }
    if (wall > 0) covered / wall else 0.0
  }
}
