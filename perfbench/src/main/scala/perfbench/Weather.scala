package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.core.Config
import graft.weather.{WeatherCli, WeatherServer, WeatherSources}

/** The weather products: the per-city batch pipeline (`WeatherCli`) and the
  * HTTP service over its processed zone (`WeatherServer`). */
object Weather {

  private val Json = new ObjectMapper()

  private def config(dataDir: Path, city: String): Config =
    Config(city = city, days = Gen.Days, dataDir = dataDir.toString)

  /** Stage a city's generated payloads where `WeatherCli.fetch` reads them. */
  def writeSamples(dataDir: Path, p: Gen.CityPayload): Unit = {
    val dir = Files.createDirectories(dataDir.resolve("samples"))
    val slug = WeatherSources.slug(p.name)
    Files.writeString(dir.resolve(s"${slug}_weather.json"), p.weatherJson)
    Files.writeString(dir.resolve(s"${slug}_air.json"), p.airJson)
  }

  /** Spark's `bround(x, 2)` rule, computed here in plain Scala. */
  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** The engine rounds its own sum or mean; where the exact value sits on a
    * half-cent tie, summation order may legitimately tip it either way. */
  private def sameRounded(engine: Double, exact: Double): Boolean =
    engine == round2(exact) ||
      (math.abs(math.abs(exact * 100 - math.floor(exact * 100)) - 0.5) < 1e-6 &&
        math.abs(engine - exact) <= 0.0051)

  /** Compare the processed daily table with the plain-Scala rollup. */
  def checkDaily(spark: SparkSession, dataDir: Path, p: Gen.CityPayload): Option[String] = {
    val slug = WeatherSources.slug(p.name)
    val rows = spark.read.parquet(dataDir.resolve(s"processed/${slug}_daily.parquet").toString)
      .select("date", "temp_min", "temp_max", "total_rain", "pm25_avg", "pm10_avg")
      .collect().map(r => r.get(0).toString -> r).toMap
    if (rows.size != p.daily.size) return Some(s"${p.name}: ${rows.size} daily rows, expected ${p.daily.size}")
    p.daily.iterator.flatMap { d =>
      rows.get(d.date) match {
        case None => Some(s"${p.name}: no row for ${d.date}")
        case Some(r) =>
          def num(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          val expect = Seq(Some(d.tempMin), Some(d.tempMax), Some(d.totalRain), d.pm25Avg, d.pm10Avg)
          expect.zipWithIndex.collectFirst {
            case (e, i) if !((num(i + 1), e) match {
              case (Some(a), Some(b)) => sameRounded(a, b)
              case (None, None) => true
              case _ => false
            }) => s"${p.name} ${d.date}: column ${r.schema(i + 1).name} is ${num(i + 1)}, expected $e"
          }
      }
    }.nextOption()
  }

  // ----------------------------------------------------------- weather_etl

  /** One client runs fetch -> transform -> report, city after city. */
  def etl(spark: SparkSession, seed: Long, seconds: Double, trace: Trace, work: Path,
          setupReps: Int): Result = {
    val ops = new Ops("weather_etl")
    val names = Gen.cityNames(seed, 400).iterator
    def pipeline(dataDir: Path, p: Gen.CityPayload, t: Trace): Option[String] = {
      val cfg = config(dataDir, p.name)
      t.span("weather.fetch")(WeatherCli.fetch(cfg))
      t.span("weather.transform")(WeatherCli.transform(spark, cfg))
      t.span("weather.report")(WeatherCli.report(spark, cfg))
    }
    // set-up: a fresh zone and one warm-up city through the pipeline, untraced
    val setup = Main.setupTimes(setupReps) { rep =>
      val dir = work.resolve(s"etl$rep")
      val p = Gen.cityPayload(seed, names.next())
      writeSamples(dir, p)
      pipeline(dir, p, Trace.off(spark))
      dir
    }
    val dataDir = setup.last._2
    ops.sampleHeap()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val p = Gen.cityPayload(seed, names.next())
      writeSamples(dataDir, p)
      ops.run(p.name, 1)(pipeline(dataDir, p, trace)) {
        case None => Some(s"${p.name}: no report written")
        case Some(path) if Files.size(Path.of(path)) == 0 => Some(s"${p.name}: empty report")
        case Some(_) => checkDaily(spark, dataDir, p)
      }
    }
    Result.batch(ops, setup.map(_._1))
  }

  // --------------------------------------------------------- weather_serve

  /** Traffic of weather_serve; notes.md gives the reasons for each value.
    * The reads go to `ServeCities` cities and the refreshes to one more city
    * that no read touches: a refresh overwrites its city's processed table in
    * place, so a read of that city overlapping it fails at random (defect 1
    * of notes.md), and a failure count that changes from run to run cannot
    * be compared between runs. */
  val ServeCities = 4
  val ZipfS = 1.1
  val Rate = 6.0 // requests per second, open loop: half the closed-loop capacity
  /** Connections, one thread each: three send the reads and one sends the
    * refreshes, in order. Two refreshes of one city that overlap both write
    * its processed table and can leave it with every row twice (defect 4 of
    * notes.md); so writes come from a single writer. */
  val ReadClients = 3
  /** Request kinds per deck of 20 (a refresh is 5% of requests). Every deck
    * sends them in the same order, spread evenly by `interleave`, so each run
    * has the same kinds at the same times and the same reads overlap each
    * refresh; the seed picks the cities. */
  val Deck: Seq[(String, Int)] = Seq("daily" -> 9, "hourly" -> 4, "search" -> 2, "compare" -> 4, "refresh" -> 1)
  /** Generator lateness (p95) above which the run measured the client, not
    * the server: it is reported invalid rather than slow. */
  val MaxLateMs = 50.0

  private val BuiltinCities = Seq("Jakarta", "Bandung", "Surabaya", "Medan", "Semarang",
    "Yogyakarta", "Makassar", "Denpasar")
  private val SearchPrefixes = Seq("ja", "band", "s", "m", "yog", "de", "ma", "x")

  final case class Req(rid: Int, kind: String, path: String, params: Seq[(String, String)],
                       dueNs: Long, expect: JsonNode => Option[String])

  private def expectCount(n: Int)(js: JsonNode): Option[String] = {
    val c = js.path("count").asInt(-1)
    if (c == n) None else Some(s"count $c, expected $n")
  }

  /** /search: the prefix matches among the built-in cities, at most 5. */
  private def searchCount(q: String): Int = BuiltinCities.count(_.toLowerCase.startsWith(q)).min(5)

  /** Smooth weighted round robin: each kind `count` times, each as evenly
    * spaced through the deck as the others allow. */
  def interleave(deck: Seq[(String, Int)]): Seq[String] = {
    val total = deck.map(_._2).sum
    val credit = Array.fill(deck.size)(0)
    Seq.fill(total) {
      deck.indices.foreach(i => credit(i) += deck(i)._2)
      val pick = deck.indices.maxBy(i => credit(i)) // the first of equals
      credit(pick) -= total
      deck(pick)._1
    }
  }

  def schedule(seed: Long, cities: Seq[String], refreshCity: String, seconds: Double,
               startNs: Long): Seq[Req] = {
    val r = Gen.rng(seed, 4)
    val weights = cities.indices.map(k => 1 / math.pow(k + 1, ZipfS))
    def city(): String = {
      var u = r.nextDouble() * weights.sum
      cities.zip(weights).find { case (_, w) => u -= w; u < 0 }.fold(cities.last)(_._1)
    }
    val n = (seconds * Rate).toInt
    val kinds = Iterator.continually(interleave(Deck)).flatten
    (0 until n).map { rid =>
      val due = startNs + (rid / Rate * 1e9).toLong
      kinds.next() match {
        case kind @ "daily" => Req(rid, kind, "/data/daily", Seq("city" -> city()), due, expectCount(Gen.Days))
        case kind @ "hourly" =>
          Req(rid, kind, "/data/hourly", Seq("city" -> city()), due, expectCount(Gen.Days * 24))
        case kind @ "search" =>
          val q = SearchPrefixes(r.nextInt(SearchPrefixes.size))
          Req(rid, kind, "/search", Seq("q" -> q, "count" -> "5"), due, expectCount(searchCount(q)))
        case kind @ "compare" =>
          val three = Iterator.continually(city()).distinct.take(3).toSeq
          Req(rid, kind, "/compare", Seq("cities" -> three.mkString(","), "days" -> Gen.Days.toString), due,
            expectCount(3 * Gen.Days))
        case kind =>
          Req(rid, kind, "/data/daily", Seq("city" -> refreshCity, "refresh" -> "true"), due,
            expectCount(Gen.Days))
      }
    }
  }

  /** A request's reply: its status and body, when the client sent it and
    * when the reply arrived. */
  final case class Done(status: Int, body: String, sentNs: Long, doneNs: Long)

  /** Request-scoped service time, taken around `route` inside the server. */
  final class TimedServer(spark: SparkSession, cfg: Config) extends WeatherServer(spark, cfg) {
    val serviceMs = new ConcurrentHashMap[String, Double]()
    override def route(path: String, params: Map[String, String]): String = {
      val t0 = System.nanoTime()
      try super.route(path, params)
      finally params.get("rid").foreach(id => serviceMs.put(id, (System.nanoTime() - t0) / 1e6))
    }
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def get(port: Int, q: Req): (Int, String) = {
    val query = (q.params :+ ("rid" -> q.rid.toString)).map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    val c = URI.create(s"http://127.0.0.1:$port${q.path}?$query").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (status, body)
    } finally c.disconnect()
  }

  def serve(spark: SparkSession, seed: Long, seconds: Double, trace: Trace, work: Path,
            setupReps: Int): Result = {
    val names = Gen.cityNames(seed, ServeCities + 1)
    val (cities, refreshCity) = (names.init, names.last)
    val payloads = names.map(Gen.cityPayload(seed, _))
    // set-up: materialise the processed zone and warm each endpoint once
    val setup = Main.setupTimes(setupReps) { rep =>
      val dir = work.resolve(s"serve$rep")
      payloads.foreach { p =>
        writeSamples(dir, p)
        val cfg = config(dir, p.name)
        WeatherCli.fetch(cfg)
        WeatherCli.transform(spark, cfg)
      }
      val server = new WeatherServer(spark, config(dir, cities.head))
      server.route("/data/daily", Map("city" -> cities.head))
      server.route("/data/hourly", Map("city" -> cities.head))
      server.route("/search", Map("q" -> "ba"))
      server.route("/compare", Map("cities" -> cities.take(3).mkString(","), "days" -> "16"))
      dir
    }
    val dataDir = setup.last._2
    val bad = payloads.flatMap(checkDaily(spark, dataDir, _))
    require(bad.isEmpty, s"processed zone is wrong after set-up: ${bad.mkString("; ")}")

    val ops = new Ops("weather_serve")
    ops.sampleHeap()
    val server = if (trace.enabled) new TimedServer(spark, config(dataDir, cities.head))
      else new WeatherServer(spark, config(dataDir, cities.head))
    val port = server.start()

    val startNs = System.nanoTime() + 50000000L
    val reqs = schedule(seed, cities, refreshCity, seconds, startNs)
    val readQ = new LinkedBlockingQueue[Option[Req]]()
    val writeQ = new LinkedBlockingQueue[Option[Req]]()
    val queues = Seq.fill(ReadClients)(readQ) :+ writeQ
    val lateMs = new Array[Double](reqs.size)
    val done = new ConcurrentHashMap[Int, Done]()
    val workers = queues.map { queue =>
      val t = new Thread(() => {
        Iterator.continually(queue.take()).takeWhile(_.isDefined).flatten.foreach { q =>
          val sentNs = System.nanoTime()
          val (status, body) = try get(port, q) catch { case e: Exception => (-1, e.toString) }
          done.put(q.rid, Done(status, body, sentNs, System.nanoTime()))
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    reqs.foreach { q =>
      var now = System.nanoTime()
      while (now < q.dueNs) { LockSupport.parkNanos(q.dueNs - now); now = System.nanoTime() }
      lateMs(q.rid) = (now - q.dueNs) / 1e6
      (if (q.kind == "refresh") writeQ else readQ).put(Some(q))
    }
    val sentS = (System.nanoTime() - startNs) / 1e9
    queues.foreach(_.put(None))
    workers.foreach(_.join(120000))

    val latency = ArrayBuffer.empty[(String, Double)]
    val waits = ArrayBuffer.empty[Double]
    var lastReadNs = startNs
    reqs.foreach { q =>
      ops.attempted += 1
      val what = s"${q.kind} ${q.params.mkString(" ")}"
      Option(done.get(q.rid)) match {
        case None =>
          ops.failed += 1
          ops.mismatches += s"$what: never completed"
        case Some(d) =>
          val js = try Json.readTree(d.body) catch { case _: Exception => Json.createObjectNode() }
          // a failed city of a /compare is listed in its payload, which carries the rest
          val failedCities = if (q.kind == "compare") js.path("failed") else Json.createArrayNode()
          if (d.status != 200 || failedCities.size() > 0) {
            ops.failed += 1
            ops.mismatches += (if (d.status != 200) s"$what: HTTP ${d.status} ${d.body.take(600)}"
              else s"$what: partial, failed $failedCities")
          } else q.expect(js) match {
            case Some(err) =>
              ops.failed += 1
              ops.mismatches += s"$what: $err"
            case None =>
              val ms = (d.doneNs - q.dueNs) / 1e6
              latency += q.kind -> ms
              if (q.kind != "refresh") {
                ops.items += 1
                lastReadNs = math.max(lastReadNs, d.doneNs)
              }
              server match {
                case t: TimedServer => Option(t.serviceMs.get(q.rid.toString)).foreach(s => waits += ms - s)
                case _ =>
              }
          }
      }
    }
    val reads = latency.collect { case (k, ms) if k != "refresh" => ms }.toSeq
    ops.latMs ++= reads
    val late95 = Stats.percentile(lateMs.toSeq, 95)
    val achieved = reqs.size / sentS
    println(f"loadgen: target ${Rate}%.2f req/s, achieved $achieved%.2f req/s over $sentS%.1f s, " +
      f"lateness p95 $late95%.2f ms, ${reqs.size} requests, ${ops.failed} failed")
    val valid = late95 <= MaxLateMs && achieved >= 0.9 * Rate
    if (!valid) ops.mismatches += f"INVALID RUN: the load generator fell behind its schedule (lateness p95 $late95%.1f ms, achieved $achieved%.2f of $Rate%.2f req/s)"

    def p50Of(kind: String): Double = {
      val xs = latency.collect { case (`kind`, ms) => ms }.toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    trace.record("serve.compare_p50_ms", p50Of("compare"))
    trace.record("serve.refresh_p50_ms", p50Of("refresh"))
    trace.record("loadgen.late_p95_ms", late95)
    trace.record("loadgen.achieved_rate", achieved)
    if (waits.nonEmpty) {
      trace.record("server.wait_p50_ms", Stats.median(waits.toSeq))
      trace.record("server.wait_p95_ms", Stats.percentile(waits.toSeq, 95))
    }
    server.stop()
    // every city's processed table, the refreshed one included, still holds
    // the rollup of its payloads
    ops.mismatches ++= payloads.flatMap(checkDaily(spark, dataDir, _))

    if (trace.enabled) {
      // service time and job counts of each endpoint, called in-process
      val c = cities.head
      for (_ <- 1 to 3) {
        trace.span("server.daily")(server.route("/data/daily", Map("city" -> c)))
        trace.span("server.hourly")(server.route("/data/hourly", Map("city" -> c)))
        trace.span("server.search")(server.route("/search", Map("q" -> "s", "count" -> "5")))
        trace.span("server.compare")(server.route("/compare", Map("cities" -> cities.take(3).mkString(","), "days" -> "16")))
        trace.span("server.refresh")(server.route("/data/daily", Map("city" -> refreshCity, "refresh" -> "true")))
      }
    }
    // goodput of the reads: successful reads over the time from the first
    // due time to the last read's reply, so a server that falls behind its
    // schedule lowers it
    Result(ops, Stats.median(setup.map(_._1)), ops.items / ((lastReadNs - startNs) / 1e9))
  }
}
