package perfbench

import scala.collection.mutable

/** What the destination and the status log must hold, simulated from the
  * generated inputs and the reference's watermark rules alone.
  *
  * Parity: window `[start, jobTime)`, so a boundary batch is admitted again
  * by the next run. Exact: `(start, jobTime)`, or `< jobTime` from the
  * epoch. Either way the new watermark is the window's max `export_time`,
  * or `jobTime` when the window is empty; a run resumes from the highest
  * SUCCESS watermark, or the epoch when there is none.
  */
final class Expect(sources: Map[Int, TenantSource], exact: Boolean,
                   initialWm: Map[Int, Long]) {
  /** per tenant: batch index -> number of windows that admitted it */
  val mult: Map[Int, Array[Int]] = sources.map { case (o, s) => o -> new Array[Int](s.batchTimes.length) }
  /** per tenant: the watermark each processed message committed, in order */
  val committed = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val wm = mutable.HashMap.empty[Int, Long] ++ initialWm

  /** Applies one successful run; returns the distinct rows it committed
    * for the first time.
    */
  def run(org: Int, jobTime: Long): Long = {
    val s = sources(org)
    val start = wm.get(org)
    val lo = start match {
      case None => 0
      case Some(w) if exact => upper(s.batchTimes, w)
      case Some(w) => lower(s.batchTimes, w)
    }
    val hi = lower(s.batchTimes, jobTime)
    var fresh = 0L
    val m = mult(org)
    for (i <- lo until hi) {
      if (m(i) == 0 || !exact) {
        if (m(i) == 0) fresh += s.batchRows(i)
        m(i) += 1
      }
    }
    val newWm = if (hi > lo) s.batchTimes(hi - 1) else jobTime
    wm(org) = math.max(wm.getOrElse(org, Long.MinValue), newWm)
    committed.getOrElseUpdate(org, mutable.ArrayBuffer.empty) += newWm
    fresh
  }

  def watermark(org: Int): Option[Long] = wm.get(org)

  def distinctRows: Long =
    mult.iterator.map { case (o, m) =>
      m.indices.iterator.filter(m(_) > 0).map(i => sources(o).batchRows(i).toLong).sum
    }.sum

  /** first index with times(i) >= t */
  private def lower(times: Array[Long], t: Long): Int = {
    val i = java.util.Arrays.binarySearch(times, t)
    if (i >= 0) i else -i - 1
  }

  /** first index with times(i) > t */
  private def upper(times: Array[Long], t: Long): Int = {
    val i = java.util.Arrays.binarySearch(times, t)
    if (i >= 0) i + 1 else -i - 1
  }
}
