package jbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Multimodal, QualityModel, Retrieval, Similarity}
import graft.streaming.PipelineDeployment

/** The `curation` workload: a seeded corpus (documents over a Zipf
  * vocabulary, their int8 vector codes and media bytes) run through
  * `streaming.PipelineDeployment`.
  *
  * Set-up generates the history and the batch that will arrive, runs
  * `bootstrap` over the history and one untimed search. The timed region
  * lands the batch of documents, codes and media, runs one `tick` (the
  * four ingest loops and maintenance) and then stored hybrid searches
  * until the time is up. Outside the timed region every search result is
  * compared with the same search over stores built batch-wise from the
  * same corpus.
  */
object CurationWorkload {
  // Traffic dimensions. Corpus size (500 documents, 60 of them in the
  // batch that arrives), document length and vector width follow the
  // repository's test corpus; queries per search is `search`'s default.
  // That corpus has a flat 31-word vocabulary; this one is Zipf(1.05) over
  // 2000 terms, near the exponent of about 1 that natural text shows, so
  // posting lists are skewed as in a real text index.
  val HistoryDocs = 440
  val DropDocs = 60
  val Vocab = 2000
  val VocabSkew = 1.05
  val Dim = 64
  val Queries = 5
  val MinSearches = 2
  /** The role readings, under the names of the layers they measure here. */
  val LayerNames: Map[String, String] = Map(
    "build.jobs" -> "pipeline.bootstrap.jobs",
    "build.shuffle_bytes" -> "pipeline.bootstrap.shuffle_bytes",
    "tick.maintenance_s" -> "streaming.curation_tick.maintenance_s",
    "tick.streams_started" -> "streaming.curation_tick.streams_started",
    "read.jobs" -> "pipeline.search.jobs",
    "read.shuffle_bytes" -> "pipeline.search.shuffle_bytes",
    "read.codegen_fallbacks" -> "pipeline.search.codegen_fallbacks")

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("qid", "doc_id", "rank", "rrf_ppm")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
      .toSeq

  def run(spark: SparkSession, work: String, seed: Long, seconds: Int, run: Run): Report = {
    val tracer = run.tracer
    val gen = new CorpusGen(seed, Vocab, VocabSkew, Dim)
    val corpus = s"$work/corpus"
    val hist = s"$corpus/hist"
    val drop = s"$corpus/drop"
    def docs(d: String) = spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    def codes(d: String) = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q8"))
    def media(d: String) = Multimodal.mediaTable(spark, d)
    val staged = s"$work/staged"
    val streams = Seq("docs", "codes", "media")
    def in(stream: String) = s"$work/in-$stream"
    val dep = PipelineDeployment(s"$work/stores")
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Long, Long)]]
    var rowsReturned = 0L // by traced, timed searches
    def search(kind: String, timed: Boolean): Unit =
      run.op(kind, timed)(rows(dep.search(spark, hist, nQueries = Queries))) { r =>
        if (timed) results += r
        if (timed && tracer.exists(_.enabled)) rowsReturned += r.size
        r.nonEmpty && r.forall(t => t._1 >= 0 && t._1 < Queries)
      }

    // ---- set-up: the corpus and the batch (staged as files, with their
    // schemas), the bootstrap over the history and one warm search
    gen.write(spark, 0, HistoryDocs, hist)
    gen.write(spark, HistoryDocs, HistoryDocs + DropDocs, drop)
    docs(drop).write.parquet(s"$staged/docs")
    codes(drop).write.parquet(s"$staged/codes")
    media(drop).write.parquet(s"$staged/media")
    val schema = streams.map(st => st -> spark.read.parquet(s"$staged/$st").schema).toMap
    val bootT0 = System.nanoTime()
    run.op("bootstrap", timed = false)(dep.bootstrap(spark, docs(hist), codes(hist), media(hist)))(_ => true)
    val bootSecs = (System.nanoTime() - bootT0) / 1e9
    search("warmup.search", timed = false)
    val setupSecs = Proc.uptime

    // ---- timed region: the batch arrives (one atomic rename per
    // stream), one tick ingests it, then searches
    val gc0 = Proc.gcSeconds
    val cpu0 = Proc.cpuSeconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    streams.foreach { st =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in(st)))
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$staged/$st"), java.nio.file.Paths.get(s"${in(st)}/drop_0"))
    }
    var compactions = 0L
    run.op("curation_tick")(dep.tick(
      spark, s"${in("docs")}/drop_*", schema("docs"), s"${in("codes")}/drop_*", schema("codes"),
      s"${in("media")}/drop_*", schema("media")).collect()) { out =>
      compactions += out.count(_.getAs[Boolean]("compacted"))
      true
    }
    var searches = 0
    while (searches < MinSearches || elapsed < seconds) {
      tracer.foreach(_.enable(searches % 2 == 0))
      search("search", timed = true)
      searches += 1
    }
    tracer.foreach(_.enable(true))
    val timedSecs = elapsed
    val gcSecs = Proc.gcSeconds - gc0
    val cpuSecs = Proc.cpuSeconds - cpu0

    // ---- the batch-equivalence law, outside the timed region: the same
    // search over stores built batch-wise from the history plus the batch
    val ref = s"$work/ref"
    val checkT0 = System.nanoTime()
    val want = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      // the two reference stores are independent: build them side by side
      val text = Future {
        Retrieval.writeInvertedIndexOf(spark, docs(hist), s"$ref/text", withPositions = true)
        Retrieval.appendToInvertedIndex(spark, docs(drop), s"$ref/text")
      }
      val vec = Future {
        Similarity.writeIvfIndexExactOf(spark, codes(hist), s"$ref/vec")
        Similarity.appendToIvfIndexExact(spark, codes(drop), s"$ref/vec")
      }
      Await.result(text.zip(vec), Duration.Inf)
      rows(Retrieval.hybridStoredTopK(spark, hist, s"$ref/text", s"$ref/vec", nQueries = Queries))
    }
    // every search ran after the batch: each must equal the reference
    results.filter(_ != want).foreach(_ => run.lateFail("search"))
    val checkSecs = (System.nanoTime() - checkT0) / 1e9

    val ticks = run.sample("curation_tick")
    val searchT = run.sample("search")
    val named = Seq(
      ("bootstrap_s", bootSecs, "s"),
      ("curation_tick_p50_s", Stats.median(ticks), "s"),
      ("search_p50_s", Stats.median(searchT), "s"),
      ("curation_tick_cpu_p50_s", Stats.median(run.sample("curation_tick.cpu")), "s"),
      ("search_cpu_p50_s", Stats.median(run.sample("search.cpu")), "s")
    )
    val (bytes, files) = Fs.usage(Seq(dep.base))
    val util = Seq(
      "util.store.files" -> files.toDouble, "util.store.bytes" -> bytes.toDouble,
      "util.maintenance.compactions" -> compactions.toDouble)
    val (perLayer, layerNames) = tracer.fold((Seq.empty[(String, Double)], Seq.empty[(String, Double)])) { tr =>
      val tick = tr.spansNamed("curation_tick").head
      val roles = tr.roles(
        build = tr.spansNamed("bootstrap").head,
        tick = tick,
        reads = tr.tracedSpans("search"),
        rowsArrived = 3L * DropDocs, rowsReturned = rowsReturned,
        readOverhead = tr.overhead("search"))
      // loops in the tick's start order: text index (documents), vectors
      // (codes), LM (documents), media; each loop's source is in the spans
      val byLayer = roles.flatMap { case (r, v) => LayerNames.get(r).map(_ -> v) } ++
        tr.loopWalls(tick.op, Seq(
          "streaming.curation_tick.text_ingest_s", "streaming.curation_tick.vec_ingest_s",
          "streaming.curation_tick.lm_train_s", "streaming.curation_tick.media_ingest_s")) ++
        warmBuilds(spark, tr, work, docs(hist), codes(hist), media(hist)) ++ util
      (roles ++ util, byLayer)
    }
    Report(
      endToEnd = Seq(
        ("setup_s", setupSecs),
        ("tick_p50_s", Stats.median(ticks)),
        ("read_p50_s", Stats.median(searchT))
      ),
      perLayer = perLayer ++ Seq(("jvm.gc_s", gcSecs), ("jvm.cpu_s", cpuSecs)),
      layers = layerNames,
      named = named,
      context = Seq(
        "history_docs" -> HistoryDocs, "drop_docs" -> DropDocs, "vocab" -> Vocab,
        "vocab_skew" -> VocabSkew, "dim" -> Dim, "queries_per_search" -> Queries,
        "timed_ticks" -> 1, "searches" -> searches, "timed_s" -> timedSecs, "check_s" -> checkSecs
      )
    )
  }

  /** Each store build the bootstrap overlaps, timed alone (warm). */
  private def warmBuilds(
      spark: SparkSession, tr: Tracer, work: String,
      histDocs: DataFrame, histCodes: DataFrame, histMedia: DataFrame
  ): Seq[(String, Double)] = {
    def build(name: String)(f: String => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      tr.span(name, name, parent = "bootstrap")(f(s"$work/trace-builds/$name"))
      (name, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      build("pipeline.bootstrap.text_index_s")(Retrieval.writeInvertedIndexOf(spark, histDocs, _, withPositions = true)),
      build("pipeline.bootstrap.vec_index_s")(Similarity.writeIvfIndexExactOf(spark, histCodes, _)),
      build("pipeline.bootstrap.lm_model_s")(QualityModel.writeLmModelOf(spark, histDocs, _)),
      build("pipeline.bootstrap.media_index_s")(out =>
        Multimodal.writeMediaIvfIndex(spark, Multimodal.mediaCodesOf(histMedia), out))
    )
  }
}
