package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are milliseconds on the epoch clock
  * Spark's listener events use, taken from a monotonic clock.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Double, var end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def interval: (Double, Double) = (start, end)
}

/** Spans recorded by the harness around each call into a layer. Kept in
  * memory and written out at the end. While a span is open, its id is the
  * thread's Spark local property [[Tracer.SpanKey]], so every job submitted
  * inside it carries the id to [[SparkProbe]].
  */
final class Tracer(sc: Option[SparkContext]) {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil
  private var nextId = 0
  /** Ops whose calls are recorded; others run untraced. */
  var enabled = false
  /** The op the next spans belong to: its index in the timed phase, or
    * [[Tracer.StartOp]] / [[Tracer.SetupOp]].
    */
  var op = Tracer.StartOp

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(nextId, name, op, open.headOption.fold(-1)(_.id), nowMs, Double.NaN)
      nextId += 1
      spans += s
      open = s :: open
      val prev = sc.map(_.getLocalProperty(Tracer.SpanKey))
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, s.id.toString))
      try f
      finally {
        s.end = nowMs
        open = open.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prev.orNull))
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Work done once at the start of the timed phase, shared by all ops. */
  val StartOp = -1
  /** The last set-up repetition (tenant provisioning). */
  val SetupOp = -2

  /** Self time: the span's interval minus what its children cover. */
  def selfIntervals(s: Span, children: Seq[Span]): Seq[(Double, Double)] =
    Stats.subtract(Seq(s.interval), children.map(_.interval))
}

/** Spark counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var shuffleWriteB = 0.0
  var inputB = 0.0
  var outputB = 0.0
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
}

/** A job seen by the listener: the span id its submitting thread carried,
  * its SQL execution id, and its wall interval.
  */
final case class JobRec(id: Int, span: Option[Int], execution: Option[Long],
                        start: Double, var end: Double, stages: Seq[Int])

final case class PhaseRec(execution: Long, start: Double,
                          analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** The benchmark's SparkListener and QueryExecutionListener: raw job, task
  * and Catalyst-phase records, attributed to spans after the run.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** per job: tasks, run ms, cpu ns, gc ms, shuffle write, input, output bytes */
  val taskSums = mutable.HashMap.empty[Int, Array[Double]]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = JobRec(e.jobId, span, exec, e.time.toDouble, Double.NaN, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = taskSums.getOrElseUpdate(job, new Array[Double](7))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.jvmGCTime
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.inputMetrics.bytesRead
      a(6) += m.outputMetrics.bytesWritten
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).fold(0.0)(p => (p.endTimeMs - p.startTimeMs).toDouble)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    phases += PhaseRec(qe.id, start, dur("analysis"), dur("optimization"), dur("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Folds spans and probe records into per-op, per-layer numbers. */
object Attribution {

  final case class Result(
      counters: Map[Int, Counters],         // span id -> Spark counters
      jobIntervals: Map[Int, Seq[(Double, Double)]], // span id -> its jobs
      selfMs: Map[Int, Double],
      driverMs: Map[Int, Double])

  /** The innermost span containing time `t`; jobs submitted from threads
    * that do not carry the span property (pools created before the span
    * opened) are attributed this way.
    */
  private def innermost(spans: Seq[Span], t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)

  def apply(spans: Seq[Span], probe: SparkProbe): Result = probe.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    val counters = mutable.HashMap.empty[Int, Counters]
    val jobIv = mutable.HashMap.empty[Int, Vector[(Double, Double)]]
    val execSpan = mutable.HashMap.empty[Long, Int]
    probe.jobs.values.foreach { j =>
      val owner = j.span.filter(byId.contains).orElse(innermost(spans, j.start).map(_.id))
      owner.foreach { sid =>
        val c = counters.getOrElseUpdate(sid, new Counters)
        c.jobs += 1
        probe.taskSums.get(j.id).foreach { a =>
          c.tasks += a(0).toLong; c.runMs += a(1); c.cpuNs += a(2); c.gcMs += a(3)
          c.shuffleWriteB += a(4); c.inputB += a(5); c.outputB += a(6)
        }
        val end = if (j.end.isNaN) byId(sid).end else j.end
        jobIv(sid) = jobIv.getOrElse(sid, Vector.empty) :+ (j.start -> end)
        j.execution.foreach(execSpan.getOrElseUpdate(_, sid))
      }
    }
    probe.phases.foreach { p =>
      execSpan.get(p.execution).orElse(innermost(spans, p.start).map(_.id)).foreach { sid =>
        val c = counters.getOrElseUpdate(sid, new Counters)
        c.analysisMs += p.analysisMs; c.optimizationMs += p.optimizationMs
        c.planningMs += p.planningMs
      }
    }
    val self = spans.map(s => s.id -> Tracer.selfIntervals(s, children.getOrElse(s.id, Nil))).toMap
    Result(counters.toMap, jobIv.toMap,
      self.map { case (id, iv) => id -> Stats.measure(iv) },
      self.map { case (id, iv) =>
        id -> Stats.measure(Stats.subtract(iv, jobIv.getOrElse(id, Vector.empty)))
      })
  }
}
