package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's smoke check: entry must return rows on the sf0.001 fixture
  * regardless of the events table's date span (the window is data-driven).
  */
class EntrySpec extends AnyFunSuite {
  import SparkTestBase._

  test("entry returns a non-empty destination read-back") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("event_id") && df.columns.contains("ts"))
  }

  test("the mains' JSON escaper round-trips control chars and every oracle SQL") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def roundTrip(s: String): String = m.readTree("\"" + Bench.esc(s) + "\"").asText()
    val awkward = (0 until 0x80).map(_.toChar).mkString + "é→"
    assert(roundTrip(awkward) == awkward)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(roundTrip(k) == k && roundTrip(v) == v, k)
    }
  }
}
