package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import graft.core.GraftSession

/** What a workload measured. `prepS` is the median time of its repeated
  * set-up; `itemsPerS` counts the workload's items (cities, requests, docs). */
final case class Result(ops: Ops, prepS: Double, itemsPerS: Double)

object Result {
  /** Batch workloads: items over the time spent in successful operations. */
  def batch(ops: Ops, prepTimes: Seq[Double]): Result =
    Result(ops, Stats.median(prepTimes), ops.items / math.max(ops.busyS, 1e-9))
}

/** Runs one workload and prints one JSON line of raw metrics; `run.py`
  * attaches the units named in BENCHMARK.json.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  */
object Main {
  val SetupReps = 3

  /** Run `prep` `reps` times, timing each; returns (seconds, result) per rep. */
  def setupTimes[T](reps: Int)(prep: Int => T): Seq[(Double, T)] =
    (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      val out = prep(rep)
      ((System.nanoTime() - t0) / 1e9, out)
    }

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Files.createDirectories(Path.of(opt("work")))

    val code = try {
      val spark = GraftSession.local(s"perfbench-$workload")
      // session start: from JVM launch until the session is ready
      val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val trace = new Trace(spark, traced)
      val r = workload match {
        case "weather_etl" => Weather.etl(spark, seed, seconds, trace, work, SetupReps)
        case "weather_serve" => Weather.serve(spark, seed, seconds, trace, work, SetupReps)
        case "corpus_curate" => Corpus.curate(spark, seed, seconds, trace, work, SetupReps)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val ops = r.ops
      val correct = ops.mismatches.isEmpty && ops.latMs.nonEmpty
      ops.mismatches.foreach(m => Console.err.println(s"[$workload] MISMATCH $m"))
      val metrics =
        if (traced) trace.metrics() ++ (if (ops.latMs.isEmpty) Map.empty else Map(
          // the headline figures with tracing on: their distance from an
          // untraced run's is the tracing overhead
          "trace.items_per_s" -> r.itemsPerS,
          "trace.op_p50_ms" -> Stats.median(ops.latMs.toSeq)))
        else if (ops.latMs.isEmpty) Map.empty[String, Double]
        else Map(
          "setup_s" -> (sessionS + r.prepS),
          "peak_heap_mb" -> ops.peakHeap,
          "items_per_s" -> r.itemsPerS,
          "op_p50_ms" -> Stats.median(ops.latMs.toSeq),
          "op_p95_ms" -> Stats.percentile(ops.latMs.toSeq, 95))
      println(f"$workload: session ${sessionS}%.2f s, set-up ${r.prepS}%.2f s (median of $SetupReps), " +
        s"${ops.attempted} operations, ${ops.failed} failed, ${ops.latMs.size} timed")
      println(s"""{"correct": $correct, "attempted": ${ops.attempted}, "failed": ${ops.failed}, """ +
        s""""metrics": ${json(metrics)}}""")
      if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        Console.err.println(s"[$workload] aborted: $e")
        e.printStackTrace()
        2
    }
    // WeatherServer.stop() leaves its request pool running, so the JVM
    // would not end on its own.
    sys.exit(code)
  }
}
