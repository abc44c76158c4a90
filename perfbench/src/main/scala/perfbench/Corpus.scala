package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CorpusCli, IngestCli}
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, LangClassifier, QualityClassifier, Sampling}
import graft.sources.Export

/** The corpus products: batch curation (`CorpusCli`) and streaming ingest
  * against a persisted corpus index (`IngestCli`). */
object Corpus {

  private val Json = new ObjectMapper()

  /** corpus_curate sizing; notes.md gives the reasons. */
  val CurateDocs = 500
  val Shards = 4
  val Budget = 6000L
  val MinQuality = 0.4

  /** Sizing of the ingest layers. */
  val IngestCorpus = 2000
  val BatchSize = 500
  val IngestBatches = 2

  private def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], dir: Path): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.source, d.text, d.lang)).toDF("doc_id", "source", "text", "lang")
      .repartition(8).write.parquet(dir.resolve("documents.parquet").toString)
  }

  private def tokenCount(text: String): Int = text.split("\\s+").count(_.nonEmpty)

  // --------------------------------------------------------- corpus_curate

  def curate(spark: SparkSession, seed: Long, seconds: Double, trace: Trace, work: Path,
             setupReps: Int): Result = {
    val corpus = Gen.curationCorpus(seed, CurateDocs)
    val setup = Main.setupTimes(setupReps) { rep =>
      val dir = work.resolve(s"corpus$rep")
      writeDocs(spark, corpus.docs, dir)
      dir.toString
    }
    val inDir = setup.last._2
    val ops = new Ops("corpus_curate")
    ops.sampleHeap()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var call = 0
    while (System.nanoTime() < end) {
      val out = work.resolve(s"curated$call").toString
      ops.run(s"curate $call", CurateDocs)(trace.span("curate.total")(
        CorpusCli.curate(spark, inDir, out, shards = Shards, budgetTokensPerSource = Budget,
          minQuality = MinQuality, nearDup = true)))(
        s => checkCurated(spark, corpus, s, Path.of(out)))
      call += 1
    }
    val result = Result.batch(ops, setup.map(_._1))
    if (trace.enabled) {
      replayCuration(spark, trace, inDir, work.resolve("replay").toString)
      ops.countAlso(ingestLayers(spark, seed, trace, work))
    }
    result
  }

  /** Every input id audited once; the exported corpus holds exactly the
    * docs audited as kept, no two with equal text, with correct token
    * counts and each source within its budget; and every planted exact
    * copy is dropped as a duplicate when its original passed the screen. */
  def checkCurated(spark: SparkSession, corpus: Gen.Corpus, s: CorpusCli.Summary,
                   out: Path): Option[String] = {
    if (!s.shardsOk) return Some("export validation failed")
    val audit = spark.read.parquet(out.resolve("audit").toString).select("doc_id", "verdict")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val verdict = audit.toMap
    val inputIds = corpus.docs.map(_.id).toSet
    if (audit.length != inputIds.size || verdict.keySet != inputIds)
      return Some(s"audit has ${audit.length} rows for ${verdict.size} ids, expected ${inputIds.size}")
    val kept = Using.resource(Files.walk(out.resolve("corpus"))) { paths =>
      paths.iterator.asScala.filter(p => p.getFileName.toString.startsWith("part-")).toList
    }.flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala).map(Json.readTree)
    val keptIds = kept.map(_.get("doc_id").asLong)
    val auditKept = audit.collect { case (id, "kept") => id }.toSet
    if (keptIds.size != keptIds.toSet.size || keptIds.toSet != auditKept)
      return Some(s"${keptIds.size} exported docs, ${auditKept.size} audited as kept")
    if (kept.map(_.get("text").asText).toSet.size != kept.size)
      return Some("two kept docs have equal text")
    kept.find(k => k.get("n_tokens").asLong != tokenCount(k.get("text").asText)).foreach { k =>
      return Some(s"doc ${k.get("doc_id")} has n_tokens ${k.get("n_tokens")}")
    }
    // the budget admits a doc while the tokens kept before it are under budget
    kept.groupBy(_.get("source").asText).foreach { case (src, docs) =>
      val ordered = docs.sortBy(k => (-k.get("quality").asDouble, k.get("doc_id").asLong))
      val before = ordered.map(_.get("n_tokens").asLong).sum - ordered.last.get("n_tokens").asLong
      if (before >= Budget) return Some(s"source $src keeps $before tokens before its last doc, budget $Budget")
    }
    corpus.exactCopies.foreach { case (orig, copy) =>
      val expect = verdict(orig) match {
        case v @ ("quality" | "lang") => v
        case _ => "duplicate"
      }
      if (verdict(copy) != expect)
        return Some(s"planted copy $copy of $orig (${verdict(orig)}) is ${verdict(copy)}, expected $expect")
    }
    None
  }

  /** The stages `CorpusCli.curate` chains, called one by one with its
    * parameters, each stage's output written out so the next stage starts
    * from stored input: a span per stage. */
  private def replayCuration(spark: SparkSession, trace: Trace, inDir: String, out: String): Unit = {
    def save(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$out/$name")
      spark.read.parquet(s"$out/$name")
    }
    val docs0 = Tables.documents(spark, inDir)
    val raw = docs0.select("doc_id", "source", "text")
    val screened = trace.span("functions.screen")(save(raw
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("marker_lang", TextFunctions.langId(col("text"))), "screened"))
    // the trained language model is measured on its own: the timed call
    // screens on the marker heuristic, and so does the rest of the replay
    trace.span("operators.langid") {
      val fold = QualityClassifier.tokenFold(raw, "doc_id", "text", buckets = 4096, salt = ":cli1")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val train = docs0.select("doc_id", "lang")
          .filter(Sampling.split(col("doc_id"), 80, 10, salt = ":cli1s") === "train")
        val m = LangClassifier.trainLangNb(fold, train, buckets = 4096, salt = ":cli1")
        save(LangClassifier.scoreLang(raw.select("doc_id"), "doc_id", fold, m)
          .select(col("doc_id"), col("lang_pred").as("lang")), "lang")
      } finally fold.unpersist()
    }
    val passing = save(screened.filter(col("quality") >= MinQuality && col("marker_lang") === "en"), "passing")
    val exact = trace.span("operators.dedup_exact")(
      save(Dedup.exact(passing, "doc_id", "text").select("doc_id", "is_keeper"), "exact"))
    val afterExact = save(passing.join(exact.filter(col("is_keeper")), Seq("doc_id"), "left_semi"), "after_exact")
    val pairs = trace.span("operators.lsh_pairs")(save(
      Dedup.minhashLshPairs(afterExact, "doc_id", "text", k = 32, rowsPerBand = 4, threshold = 0.5), "pairs"))
    val labels = trace.span("operators.components")(
      save(Dedup.connectedComponents(pairs.select("id_a", "id_b")), "labels"))
      .select(col("id").as("doc_id"), col("comp"))
    val cols = Seq("doc_id", "source", "text", "n_tokens", "quality")
    val clean = save(afterExact.join(labels, Seq("doc_id"), "left_anti").select(cols.map(col): _*)
      .unionByName(Dedup.clusterKeepersBy(afterExact.join(labels, Seq("doc_id")),
        col("doc_id"), col("comp"), col("quality")).select(cols.map(col): _*)), "clean")
    val kept = trace.span("operators.budget")(save(Curation.capTokensPerKey(clean, col("source"),
      col("n_tokens"), Budget, order = Seq(col("quality").desc, col("doc_id")), idCol = col("doc_id")), "kept"))
      .select(cols.map(col): _*)
    val manifest = trace.span("sources.export")(
      save(Export.jsonlSharded(kept, col("doc_id"), Shards, s"$out/corpus"), "manifest"))
    trace.span("sources.validate")(Export.validateShardsBytes(spark, s"$out/corpus", kept.schema,
      manifest, requiredCol = "doc_id").collect())
  }

  // ---------------------------------------------------------------- ingest

  private def writeArrivals(dir: Path, name: String, docs: Seq[Gen.Doc]): Path = {
    val tmp = dir.resolveSibling(s".$name")
    Files.write(tmp, docs.map(d => s"""{"doc_id": ${d.id}, "text": ${Json.writeValueAsString(d.text)}}""").asJava)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The ingest layers, measured in the traced run of corpus_curate (the
    * standalone workload did not fit the run budget; notes.md): build the
    * index of a corpus with one `IngestCli.run` over no arrivals, ingest
    * `IngestBatches` arrival files one run each, then call the stored-index
    * probe and the label fold-in on the next file. Batches count as
    * operations of the run (not timed in its end-to-end figures) and are
    * checked: planted corpus copies are
    * rejected and every other arrival survives. */
  def ingestLayers(spark: SparkSession, seed: Long, trace: Trace, work: Path): Ops = {
    val ops = new Ops("ingest")
    val (corpus, batches) = Gen.ingestInputs(seed, IngestCorpus, IngestBatches + 1, BatchSize)
    val dir = work.resolve("ingest")
    val (corpusDir, inDir, stateDir) = (dir.resolve("corpus"), dir.resolve("in"), dir.resolve("state"))
    writeDocs(spark, corpus, corpusDir)
    Files.createDirectories(inDir)
    val built = trace.span("ingest.index_build")(
      IngestCli.run(spark, corpusDir.toString, inDir.toString, stateDir.toString))
    if (built.nCorpus != IngestCorpus || built.nDocs != 0) ops.mismatches += s"index build gave $built"
    var stored = 0L
    batches.take(IngestBatches).zipWithIndex.foreach { case ((docs, copies), b) =>
      writeArrivals(inDir, f"batch$b%03d.jsonl", docs)
      ops.run(s"ingest batch $b", 0)(trace.span("ingest.batch")(
        IngestCli.run(spark, corpusDir.toString, inDir.toString, stateDir.toString))) { s =>
        val grew = s.nDocs - stored
        stored = s.nDocs
        val ids = spark.read.parquet(stateDir.resolve("docs").toString).select("doc_id")
          .collect().map(_.getLong(0)).toSet
        if (copies.exists(ids.contains)) Some(s"batch $b: a planted corpus copy was ingested")
        else if (grew != docs.size - copies.size) Some(s"batch $b: $grew survivors, expected ${docs.size - copies.size}")
        else None
      }
    }
    trace.record("ingest.survivor_ratio", stored.toDouble / (IngestBatches * BatchSize))
    val next = spark.read.schema(IngestCli.ArrivalSchema).json(
      writeArrivals(Files.createDirectories(dir.resolve("probe")), "next.jsonl", batches.last._1).toString)
    val idx = stateDir.resolve("index")
    val edges = trace.span("operators.lsh_increment") {
      Dedup.minhashLshIncrementIndexed(next, spark.read.parquet(s"$idx/bands"),
          spark.read.parquet(s"$idx/sets"), "doc_id", "text", k = 16, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
        .write.parquet(dir.resolve("probe_edges").toString)
      spark.read.parquet(dir.resolve("probe_edges").toString)
    }
    trace.span("operators.components_increment")(
      Dedup.componentsIncrement(spark.read.parquet(stateDir.resolve("labels").toString), edges)
        .write.parquet(dir.resolve("probe_labels").toString))
    ops
  }
}
