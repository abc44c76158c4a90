package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** Heap in use after a full collection, in MB. The second collection
    * frees what Spark's cleaner released after the first. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The operations of one measured run: each is attempted, timed, and then
  * checked outside its timing. An operation that throws or fails its check
  * counts as failed, contributes no time and is a mismatch: no known defect
  * of the engine makes these operations fail, so any failure fails the run. */
final class Ops(val workload: String) {
  val latMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var items = 0L
  var busyS = 0.0
  val mismatches = ArrayBuffer.empty[String]
  private var peakHeapMb = 0.0

  /** Time `body`; then `check` its result, returning an error or None. */
  def run[T](label: String, nItems: Long)(body: => T)(check: T => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    out match {
      case Left(e) =>
        failed += 1
        mismatches += s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        Console.err.println(s"[$workload] $label threw: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        (try check(v) catch { case NonFatal(e) => Some(s"check threw ${e.getMessage}") }) match {
          case Some(err) =>
            failed += 1
            mismatches += s"$label: $err"
            Console.err.println(s"[$workload] $label output check failed: $err")
          case None =>
            Console.err.println(f"[$workload] $label: ${dt * 1000}%.0f ms")
            latMs += dt * 1000
            items += nItems
            busyS += dt
        }
    }
  }

  /** Count `other`'s operations and failures in this run, not its times. */
  def countAlso(other: Ops): Unit = {
    attempted += other.attempted
    failed += other.failed
    mismatches ++= other.mismatches
  }

  def sampleHeap(): Unit = peakHeapMb = math.max(peakHeapMb, Stats.heapAfterGcMb())
  def peakHeap: Double = { sampleHeap(); peakHeapMb }
}
