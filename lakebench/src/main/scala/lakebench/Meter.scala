package lakebench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Closed-loop bookkeeping for one run: one timing per batch write (from
  * the start of its write until its data is visible) and one per read
  * (until the result is collected), input volume, and operations
  * attempted and failed. A failed operation keeps no timing. */
final class Meter(tr: Tracer) {
  val writeS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  val readNames = mutable.ArrayBuffer.empty[String]
  var inputRows, inputBytes = 0L
  var attempted, failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  def write(rows: Long, bytes: Long)(body: => Unit): Unit =
    if (timed(writeS)(body)) { inputRows += rows; inputBytes += bytes }

  /** Forget timings and input volume (after a warm-up batch); attempts
    * and failures stay counted. */
  def clearTimings(): Unit = {
    writeS.clear(); readS.clear(); readNames.clear(); inputRows = 0L; inputBytes = 0L
  }

  def read(span: String)(body: => Any): Unit =
    if (timed(readS)(tr.span(span)(body))) readNames += span

  private def timed(into: mutable.ArrayBuffer[Double])(body: => Any): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; into += (System.nanoTime() - t0) / 1e9; true }
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 5) errors += e.toString.take(300)
        false
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * value with exactly ten larger samples, labelled with its rank as a
    * percentage. Below twenty samples that rank falls under the median,
    * so the maximum (p100) stands in for the tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 100.0)
    else if (s.size < 20) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, hi = Long.MinValue
    total = 0L
    for ((a, b) <- iv.sortBy(_._1)) {
      val lo = math.max(a, hi)
      if (b > lo) total += b - lo
      hi = math.max(hi, b)
    }
    total
  }
}
