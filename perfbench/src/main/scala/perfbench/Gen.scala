package perfbench

import java.time.LocalDate

import scala.util.Random

/** Seeded input generators. The same seed always gives the same inputs; the
  * engine only ever sees the files written from them. */
object Gen {

  def rng(seed: Long, stream: Long): Random = new Random(seed * 1000003L + stream)

  // ---------------------------------------------------------------- weather

  /** One city's generated Open-Meteo-shaped payloads and the plain-Scala
    * daily rollup the engine's output is checked against. */
  final case class CityPayload(name: String, weatherJson: String, airJson: String,
                               daily: Seq[DailyRow])
  final case class DailyRow(date: String, tempMin: Double, tempMax: Double, totalRain: Double,
                            pm25Avg: Option[Double], pm10Avg: Option[Double])

  val Days = 16
  private val Syllables = Seq("ba", "ka", "ra", "ma", "ta", "su", "lo", "di", "ne", "ja",
    "po", "wi", "ge", "sa", "tu", "mi")

  def cityName(r: Random): String =
    "Kota " + (1 to 3).map(_ => Syllables(r.nextInt(Syllables.size))).mkString.capitalize

  /** `n` distinct city names. */
  def cityNames(seed: Long, n: Int): Seq[String] = {
    val r = rng(seed, 1)
    Iterator.continually(cityName(r)).distinct.take(n).toSeq
  }

  private def d1(x: Double): Double = math.round(x * 10) / 10.0

  def cityPayload(seed: Long, name: String): CityPayload = {
    val r = rng(seed, name.hashCode.toLong)
    val start = LocalDate.of(2026, 1, 1).plusDays(r.nextInt(300).toLong)
    val hours = Days * 24
    val times = (0 until hours).map(h => f"${start.plusDays(h / 24L)}T${h % 24}%02d:00")
    val base = 20 + r.nextDouble() * 10
    val temp = (0 until hours).map(h =>
      d1(base + 5 * math.sin((h % 24 - 9) / 24.0 * 2 * math.Pi) + r.nextGaussian()))
    val rain = (0 until hours).map(_ => if (r.nextDouble() < 0.15) d1(r.nextDouble() * 8) else 0.0)
    val rh = (0 until hours).map(_ => d1(60 + r.nextDouble() * 35))
    val wind = (0 until hours).map(_ => d1(r.nextDouble() * 20))
    val feels = temp.map(t => d1(t + 1.5))
    val wcode = (0 until hours).map(_ => Seq(0, 1, 2, 3, 61, 80)(r.nextInt(6)))
    val dew = temp.map(t => d1(t - 4))
    val wdir = (0 until hours).map(_ => r.nextInt(360))
    // about 3% of the air readings are missing, as the Open-Meteo air API has
    val pm25 = (0 until hours).map(_ => if (r.nextDouble() < 0.03) None else Some(d1(5 + r.nextDouble() * 60)))
    val pm10 = pm25.map(_.map(v => d1(v * 1.6)))
    val dates = (0 until Days).map(d => start.plusDays(d.toLong).toString)

    def arr(xs: Seq[Any]): String = xs.map {
      case s: String => "\"" + s + "\""
      case None => "null"
      case Some(v) => v.toString
      case v => v.toString
    }.mkString("[", ",", "]")
    val weatherJson =
      s"""{"latitude": -6.9, "longitude": 107.6, "timezone": "Asia/Jakarta", "hourly": {""" +
        s""""time": ${arr(times)}, "temperature_2m": ${arr(temp)}, "precipitation": ${arr(rain)}, """ +
        s""""relative_humidity_2m": ${arr(rh)}, "windspeed_10m": ${arr(wind)}, """ +
        s""""apparent_temperature": ${arr(feels)}, "weathercode": ${arr(wcode)}, """ +
        s""""dew_point_2m": ${arr(dew)}, "winddirection_10m": ${arr(wdir)}}, """ +
        s""""daily": {"time": ${arr(dates)}, "sunrise": ${arr(dates.map(_ + "T05:41"))}, """ +
        s""""sunset": ${arr(dates.map(_ + "T17:52"))}}}"""
    val airJson = s"""{"hourly": {"time": ${arr(times)}, "pm2_5": ${arr(pm25)}, "pm10": ${arr(pm10)}}}"""

    def mean(xs: Seq[Option[Double]]): Option[Double] = {
      val v = xs.flatten
      if (v.isEmpty) None else Some(v.sum / v.size)
    }
    val daily = (0 until Days).map { d =>
      val ix = d * 24 until (d + 1) * 24
      DailyRow(dates(d), ix.map(temp).min, ix.map(temp).max, ix.map(rain).sum,
        mean(ix.map(pm25)), mean(ix.map(pm10)))
    }
    CityPayload(name, weatherJson, airJson, daily)
  }

  // ----------------------------------------------------------------- corpus

  final case class Doc(id: Long, source: String, text: String, lang: String)
  /** A generated corpus and the (original, copy) ids of its planted exact duplicates. */
  final case class Corpus(docs: Seq[Doc], exactCopies: Seq[(Long, Long)])

  /** Each language's text carries its `TextFunctions.LangMarkers` words, as
    * real text carries its function words; content words are pseudo-words
    * from a per-language syllable set. */
  private val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with", "a", "to", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des"),
    "de" -> Seq("der", "die", "und", "ist", "das", "ein", "mit"))
  private val LangSyllables: Map[String, Seq[String]] = Map(
    "en" -> Seq("ter", "ing", "con", "ment", "pro", "ver", "sta", "ble", "light", "form", "wor", "ness"),
    "es" -> Seq("ción", "ra", "mien", "to", "cas", "ble", "dad", "par", "co", "rro"),
    "fr" -> Seq("tion", "eau", "gne", "ment", "ré", "pou", "oir", "chan", "qu", "ette"),
    "de" -> Seq("schaft", "ung", "keit", "ge", "sch", "lich", "ber", "stein", "wald", "zug"))

  private def word(r: Random, lang: String): String = {
    val s = LangSyllables(lang)
    (1 to 2 + r.nextInt(2)).map(_ => s(r.nextInt(s.size))).mkString
  }

  def prose(r: Random, lang: String, nTokens: Int): String = {
    val m = Markers(lang)
    val toks = (0 until nTokens).map(i => if (i % 3 == 1) m(r.nextInt(m.size)) else word(r, lang))
    toks.grouped(10 + r.nextInt(5)).map(s => s.mkString(" ").capitalize + ".").mkString(" ")
  }

  /** Short, symbol-heavy text with no function words: scores below the
    * curation quality threshold. */
  def spam(r: Random): String =
    (0 until 6).map(_ => Seq("$$$", "!!!", "###", "win", "cash", "click", ">>>", "free", "***")(r.nextInt(9)))
      .mkString(" ") + s" ${r.nextInt(1000)}"

  /** Replace about 3% of the tokens, at least one: a near-duplicate of `text`. */
  def perturb(r: Random, text: String): String = {
    val toks = text.split(" ")
    val forced = r.nextInt(toks.length)
    toks.indices.foreach { i =>
      if (i == forced || r.nextDouble() < 0.03)
        toks(i) = Iterator.continually(word(r, "en")).find(_ != toks(i)).get
    }
    toks.mkString(" ")
  }

  /** Curation corpus: English prose plus about 12% Spanish/French/German,
    * 8% low-quality spam, 10% near-duplicates of English docs and 10% exact
    * duplicates of earlier docs, spread over `sources` sources. */
  def curationCorpus(seed: Long, nDocs: Int, sources: Int = 20): Corpus = {
    val r = rng(seed, 2)
    def src(): String = f"src${r.nextInt(sources)}%02d"
    val nBase = (nDocs * 0.8).toInt
    val base = (1 to nBase).map { i =>
      val u = r.nextDouble()
      if (u < 0.12) {
        val lang = Seq("es", "fr", "de")(r.nextInt(3))
        Doc(i.toLong, src(), prose(r, lang, 60 + r.nextInt(120)), lang)
      } else if (u < 0.20) Doc(i.toLong, src(), spam(r), "und")
      else Doc(i.toLong, src(), prose(r, "en", 60 + r.nextInt(120)), "en")
    }
    val english = base.filter(_.lang == "en")
    val nNear = (nDocs - nBase) / 2
    val near = (1 to nNear).map { j =>
      val d = english(r.nextInt(english.size))
      Doc((nBase + j).toLong, src(), perturb(r, d.text), "en")
    }
    val copies = (nBase + nNear + 1 to nDocs).map { id =>
      val d = base(r.nextInt(base.size))
      (d.id, Doc(id.toLong, src(), d.text, d.lang))
    }
    Corpus(base ++ near ++ copies.map(_._2), copies.map { case (o, c) => (o, c.id) })
  }

  /** Ingest inputs: an English corpus and a series of arrival batches. Each
    * batch holds about 20% exact copies of corpus docs (fresh ids), 10%
    * near-duplicates of corpus docs and the rest new docs. Returns the
    * corpus and, per batch, its docs and the ids of its planted copies. */
  def ingestInputs(seed: Long, nCorpus: Int, nBatches: Int, batchSize: Int)
      : (Seq[Doc], Seq[(Seq[Doc], Set[Long])]) = {
    val r = rng(seed, 3)
    val corpus = (1 to nCorpus).map(i => Doc(i.toLong, "corpus", prose(r, "en", 60 + r.nextInt(120)), "en"))
    val batches = (0 until nBatches).map { b =>
      val ids = Iterator.from(0).map(i => 1000000L + b.toLong * batchSize + i)
      val nCopy = batchSize / 5
      val nNear = batchSize / 10
      val copies = r.shuffle(corpus).take(nCopy).map(d => Doc(ids.next(), "arrival", d.text, "en"))
      val near = (0 until nNear).map(_ =>
        Doc(ids.next(), "arrival", perturb(r, corpus(r.nextInt(nCorpus)).text), "en"))
      val fresh = (0 until batchSize - nCopy - nNear).map(_ =>
        Doc(ids.next(), "arrival", prose(r, "en", 60 + r.nextInt(120)), "en"))
      (r.shuffle(copies ++ near ++ fresh), copies.map(_.id).toSet)
    }
    (corpus, batches)
  }
}
