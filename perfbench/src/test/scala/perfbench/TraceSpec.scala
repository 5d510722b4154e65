package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  // op [0, 100] > EtlJob.run [10, 90] > two overlapping MetaStore calls
  // [20, 40] and [30, 50], and one disjoint [60, 70]
  private val spans = Seq(
    Span(0, "op", 1, -1, 0, 100),
    Span(1, "EtlJob.run", 1, 0, 10, 90),
    Span(2, "MetaStore.nextStatusSeq", 1, 1, 20, 40),
    Span(3, "MetaStore.appendStatus", 1, 1, 30, 50),
    Span(4, "MetaStore.nextStatusSeq", 1, 1, 60, 70))

  test("self time is the span minus the union of its children") {
    val children = spans.groupBy(_.parent)
    def self(id: Int) = Stats.measure(Tracer.selfIntervals(spans(id), children.getOrElse(id, Nil)))
    assert(self(0) == 20.0)
    // 80 ms run, children cover [20, 50] and [60, 70]: 40 ms
    assert(self(1) == 40.0)
    assert(self(2) == 20.0)
  }

  test("driver time excludes the span's own job intervals; jobs go to the span they name") {
    val probe = new SparkProbe
    // job 0 carries span 1's id and overlaps child span 3: only [50, 55]
    // of it lies in span 1's self time
    probe.jobs(0) = JobRec(0, Some(1), Some(7L), 45, 55, Seq(0))
    // job 1 has no span property: attributed to the innermost span open at its start
    probe.jobs(1) = JobRec(1, None, None, 61, 65, Seq(1))
    probe.taskSums(0) = Array(4, 40, 2e7, 1, 0, 1048576, 0)
    probe.phases += PhaseRec(7L, 44, 1.5, 2.5, 3.5)
    val a = Attribution(spans, probe)
    assert(a.counters(1).jobs == 1 && a.counters(1).tasks == 4)
    assert(a.counters(1).optimizationMs == 2.5)
    assert(a.counters(4).jobs == 1)
    assert(a.selfMs(1) == 40.0)
    assert(a.driverMs(1) == 35.0)
    assert(a.driverMs(4) == 6.0)

    val per = Layers.perLayer(spans, a, _ => 0.5)
    assert(near(per("EtlJob.self_s"), 0.020))
    assert(near(per("EtlJob.jobs"), 0.5))
    assert(near(per("EtlJob.input_mb"), 0.5))
    assert(near(per("MetaStore.nextStatusSeq_s"), 0.015))
    assert(near(per("MetaStore.jobs"), 0.5))
    // op [0, 100]: jobs cover [45, 55] and [61, 65]
    assert(near(Layers.jobCoveredFrac(Seq(spans.head), spans, a), 0.14))
  }
}
