package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Destination, EtlJob, MetaStore}
import graft.model.{ClientBillingConfig, EtlJobMessage}

/** SURVEY §5 item 3 — property-based batch semantics over randomly-timed
  * event batches: after any run schedule,
  *   (a) the destination multiset equals the source window plus exactly the
  *       boundary-row replays (parity N1), and
  *   (b) the persisted watermark never regresses.
  */
class WatermarkPropertySpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  private val base = utcTs("2024-03-01 00:00:00").getTime

  // batches of events at random second offsets within a 10-day span
  private val offsetsGen: Gen[List[Int]] =
    Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 864000)))
  // 2-4 strictly increasing run times inside the same span (plus one past it)
  private val runTimesGen: Gen[List[Int]] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 864000)))
      .map(ts => (ts.sorted.distinct :+ 864001).map(_ * 1000))

  test("property: destination = source window + boundary replays; watermark monotone") {
    import sp.implicits._
    val prop = Prop.forAll(offsetsGen, runTimesGen) { (offsets, runMillis) =>
      val root = tmpDir("wm_prop_")
      val meta = MetaStore(s"$root/meta")
      meta.putConfigs(Seq(ClientBillingConfig(1, "p", "d", "t", None, None, None)))
      val src = offsets.zipWithIndex
        .map { case (off, i) => (i.toLong, new Timestamp(base + off * 1000L)) }
        .toDF("event_id", "ts")

      var prevWm: Option[Timestamp] = None
      // true when the rows at ts == prevWm were actually loaded by a prior
      // run (false after a W7 empty-window jump, where wm = jobTime and any
      // rows at exactly that instant were NOT yet read)
      var wmRowLoaded = false
      var expectedDupes = 0L
      var monotone = true
      runMillis.foreach { rm =>
        val jobTime = new Timestamp(base + rm)
        prevWm.foreach { w =>
          if (wmRowLoaded && w.before(jobTime))
            expectedDupes += src.where(col("ts") === lit(w)).count()
        }
        val r = EtlJob.run(spark, meta, src, "ts", s"$root/dest", EtlJobMessage(1),
          jobTime, sleeper = _ => ())
        val wm = meta.lastSuccessWatermark(1, "p")
        val stepOk = (prevWm, wm) match {
          case (Some(a), Some(b)) => !b.before(a)
          case (Some(_), None) => false
          case _ => true
        }
        monotone = monotone && stepOk
        prevWm = wm
        wmRowLoaded = r.toOption.exists(_.rowsExtracted > 0)
      }
      val lastRun = new Timestamp(base + runMillis.last)
      val expected = src.where(col("ts") < lit(lastRun)).count() + expectedDupes
      val dest = Destination.read(spark, s"$root/dest").count()
      val ok = dest == expected && monotone
      if (!ok) println(s"FAIL: dest=$dest expected=$expected dupes=$expectedDupes monotone=$monotone runs=$runMillis")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
