package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the engine's public functions.
  *
  * Each span tags the jobs its thread submits with a local property; a
  * listener attributes every job and task to the span that submitted it, so
  * concurrent spans (and threads the engine starts inside a span, such as a
  * streaming query) are counted apart. Spans are kept in memory and turned
  * into metrics once, at the end of the run. When tracing is off, `span`
  * only runs its body: no listener is attached and no property is set.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val drained = new CountDownLatch(1)
  private val values = mutable.Map.empty[String, Double]
  @volatile private var sentinelJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong).foreach { id =>
        if (id == SentinelId) sentinelJob = e.jobId
        else {
          acc(id).jobs += 1
          e.stageIds.foreach(s => stageSpan.put(s, id))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val a = acc(id)
        a.tasks += 1
        a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) drained.countDown()
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def acc(id: Long): Acc = accs.computeIfAbsent(id, _ => new Acc)

  /** Run `body` as one occurrence of span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - t0
        sc.setLocalProperty(Key, prev)
        spans.synchronized(spans += Span(name, id, startMs, startMs + nanos / 1000000L, nanos))
      }
    }

  /** A value measured by the traced run itself (a ratio, a latency). */
  def record(name: String, value: Double): Unit = if (enabled) values.synchronized(values(name) = value)

  /** Per-layer metrics: for each span name, the median over its occurrences
    * of `<name>.ms`, `.jobs`, `.tasks`, `.exec_cpu_ms`, `.gc_ms`,
    * `.shuffle_write_bytes`, `.spill_bytes` and `.driver_ms` (the span's
    * wall time during which none of its tasks ran). */
  def metrics(): Map[String, Double] = {
    if (!enabled) return Map.empty
    drain()
    val perSpan = spans.synchronized(spans.toList).groupBy(_.name).toList.flatMap { case (name, occ) =>
      val rows = occ.map { s =>
        val a = Option(accs.get(s.id)).getOrElse(new Acc)
        Map(
          "ms" -> s.nanos / 1e6,
          "jobs" -> a.jobs.toDouble,
          "tasks" -> a.tasks.toDouble,
          "exec_cpu_ms" -> a.cpuNs / 1e6,
          "gc_ms" -> a.gcMs.toDouble,
          "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
          "spill_bytes" -> a.spill.toDouble,
          "driver_ms" -> math.max(0.0, s.nanos / 1e6 - busyMs(a.intervals.toSeq, s.startMs, s.endMs)))
      }
      rows.head.keys.map(f => s"$name.$f" -> Stats.median(rows.map(_(f))))
    }
    perSpan.toMap ++ values.synchronized(values.toMap)
  }

  /** Wait until the listener has seen every event posted so far: a sentinel
    * job's end arrives after the events of all jobs submitted before it. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, SentinelId.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Key, prev)
    require(drained.await(60, TimeUnit.SECONDS), "the Spark listener did not drain")
  }
}

object Trace {
  val Key = "perfbench.span"

  def off(spark: SparkSession): Trace = new Trace(spark, enabled = false)
  private val SentinelId = -1L

  private final case class Span(name: String, id: Long, startMs: Long, endMs: Long, nanos: Long)
  private final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }

  /** Length of the union of `intervals` clipped to [from, to]. */
  def busyMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var busy = 0L
    var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    busy.toDouble
  }
}
