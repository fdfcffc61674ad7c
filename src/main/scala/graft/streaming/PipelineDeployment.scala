package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.StoreHealth.Store

/** ONE deployment wiring for the RETRIEVAL/MODEL plane — the
  * [[Deployment]] composition applied to the persisted pipeline stores
  * (the reference's `Replicator.make` posture,
  * replicator/src/main/scala/com/evolution/kafka/journal/replicator/Replicator.scala:44-100:
  * every duty runs from one resource graph — here: every ingest loop,
  * the maintainer, and the search service run from one wiring instead of
  * only meeting in per-store specs).
  *
  * Stores (all DirSwap-layered, all under the unified health surface):
  *
  *   - '''positional inverted index''' (`text-index`) — the p33 lexical
  *     plane; ingested by [[StreamingRetrieval.ingestStream]].
  *   - '''exact-integer IVF vector index''' (`vec-index`) — the k10/p36d
  *     dense plane; ingested by [[StreamingSimilarity.ingestExactStream]]
  *     against the quantizer frozen at [[bootstrap]].
  *   - '''LM count model''' (`lm-model`) — the p35 familiarity plane;
  *     trained by [[StreamingCuration.lmTrainStream]].
  *   - '''media ANN index''' (`media-index`) — the k16 multimodal plane;
  *     arriving assets feature-extract row-locally
  *     ([[graft.pipeline.Multimodal.mediaCodesOf]]) and append through
  *     the same generic exact-IVF ingest as the vec plane.
  *
  * A [[tick]] drains the four ingest streams (`AvailableNow`), then runs
  * `Maintenance.maintainAll` with `protectLayersAbove` computed from each
  * ingest's OWN committed micro-batch id ([[committedBatchId]] reads the
  * checkpoint's commit log) — the maintainer-BESIDE-live-ingest posture
  * graft.Maintenance documents: a compactor must not fold a layer whose
  * offsets are not yet committed (under T1 the last micro-batch can
  * redeliver; folding it and then dynamic-overwriting it back
  * double-counts the sum-merged df/stats/LM members). After a CLEAN drain
  * every processed batch is committed, so the protection is exactly the
  * no-op it should be; after a crashed/aborted drain the uncommitted
  * layer stays unfolded until its batch commits — enforced, not assumed
  * (PipelineDeploymentSpec forces the redelivery).
  *
  * Read-side: [[search]] is the p36d batch query over the deployment's
  * stores; [[searchStream]] the continuous service
  * ([[StreamingRetrieval.hybridSearchStream]], external-qid posture).
  * Search ≡ the batch-built store over every tick boundary because every
  * store read is a layer-merge (the per-store lifecycle laws) — the spec
  * re-pins it from THIS wiring.
  */
final case class PipelineDeployment(
    base: String,
    kCentroids: Int = 16,
    compactOverLayers: Long = 8L
) {

  val textIndexDir = s"$base/text-index"
  val vecIndexDir = s"$base/vec-index"
  val lmDir = s"$base/lm-model"
  val mediaIndexDir = s"$base/media-index"
  val ckText = s"$base/ck-text"
  val ckVec = s"$base/ck-vec"
  val ckLm = s"$base/ck-lm"
  val ckMedia = s"$base/ck-media"

  /** Highest COMMITTED micro-batch id in a foreachBatch checkpoint's
    * commit log (−1 on a virgin checkpoint): Structured Streaming writes
    * `commits/<batchId>` only after the batch's foreachBatch body
    * returned, so batches ≤ this id can never redeliver — their layers
    * (layer = batchId + 1) are final and safe to fold.
    *
    * Resolved through Hadoop's `FileSystem` — the same abstraction the
    * checkpoint was WRITTEN through — so the committed frontier is
    * correct wherever the checkpoint lives (local disk, HDFS, an
    * S3-class store), not only under `java.nio` POSIX paths. Failure
    * posture is deliberately loud: a MISSING `commits` dir is the
    * legitimate virgin/never-committed state (−1 → protect everything —
    * correct, nothing is committed), but an UNREADABLE one (bad scheme,
    * auth failure, dead namenode) throws instead of silently returning
    * −1: over-protection is safe for one tick but wedges compaction
    * forever, and a deployment must see the outage, not a stuck
    * maintainer.
    */
  def committedBatchId(checkpointDir: String): Long = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val commits = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    // getFileSystem throws on an unresolvable scheme — loud by design
    val fs = commits.getFileSystem(conf)
    val listed =
      try fs.listStatus(commits)
      catch {
        // the one benign miss: the stream never started / never committed
        case _: java.io.FileNotFoundException => return -1L
      }
    listed.iterator
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** The fold boundary for an ingest that keys layers on batchId + 1:
    * layers ABOVE this may belong to an uncommitted (redeliverable)
    * batch and must stay unfolded.
    */
  private def protectAbove(checkpointDir: String): Long =
    committedBatchId(checkpointDir) + 1L

  /** The deployment's maintainable stores with the fold protection read
    * from the ingests' CURRENT commit logs — built per call, because the
    * committed frontier advances with every drain.
    */
  def registry: Seq[Store] = Seq(
    graft.Maintenance
      .invertedIndex(textIndexDir, protectAbove(ckText))
      .copy(compactOverLayers = compactOverLayers),
    graft.Maintenance
      .ivfVectors(vecIndexDir, protectAbove(ckVec))
      .copy(compactOverLayers = compactOverLayers),
    graft.Maintenance
      .lmModel(lmDir, protectAbove(ckLm))
      .copy(compactOverLayers = compactOverLayers),
    graft.Maintenance
      .mediaIvfVectors(mediaIndexDir, protectAbove(ckMedia))
      .copy(compactOverLayers = compactOverLayers)
  )

  /** The batch build that precedes the streaming lifecycle: the
    * positional inverted index and the LM counts over the history
    * corpus, and the exact-integer IVF index TRAINED on the history
    * codes — the one step that must see a batch (the quantizer is frozen
    * here; every later ingest assigns against it row-locally).
    */
  def bootstrap(
      spark: SparkSession,
      historyDocs: DataFrame, // (doc_id, text)
      historyCodes: DataFrame, // (vec_id, q8)
      historyMedia: DataFrame // (doc_id, payload, media_type)
  ): Unit =
    // the four stores are DISJOINT roots with no cross-dependency — they
    // bootstrap CONCURRENTLY, the same posture as [[tick]]'s concurrent
    // drains (and the spark_optimization_guide §2.6 overlap rule: the
    // bootstrap's wall is the slowest build, not the sum of four)
    graft.util.Par.run(
      () =>
        graft.pipeline.Retrieval
          .writeInvertedIndexOf(spark, historyDocs, textIndexDir, withPositions = true),
      () =>
        graft.pipeline.Similarity
          .writeIvfIndexExactOf(spark, historyCodes, vecIndexDir, kCentroids),
      () => graft.pipeline.QualityModel.writeLmModelOf(spark, historyDocs, lmDir),
      () =>
        graft.pipeline.Multimodal.writeMediaIvfIndex(
          spark,
          graft.pipeline.Multimodal.mediaCodesOf(historyMedia),
          mediaIndexDir,
          kCentroids
        )
    )

  /** One deployment tick: drain the four ingest loops CONCURRENTLY over
    * whatever the input globs hold that their checkpoints have not
    * consumed (disjoint stores and checkpoints — no ordering contract;
    * `drainTimeoutMs` budgets the WHOLE tick), then maintain every store
    * with the fold boundary at each ingest's own committed frontier,
    * returning the maintenance decisions (store, compacted) — the
    * post-maintenance state is [[health]]. A drain exceeding the budget
    * ABORTS the tick before maintenance ([[Deployment.drain]], the drain
    * rule both deployments share) — and thanks to the commit-log-derived
    * protection, even a maintainer racing the aborted ingest's
    * uncommitted layer would leave it unfolded.
    */
  def tick(
      spark: SparkSession,
      docsGlob: String,
      docsSchema: StructType,
      codesGlob: String,
      codesSchema: StructType,
      mediaGlob: String,
      mediaSchema: StructType,
      drainTimeoutMs: Long = 120000L
  ): DataFrame = {
    def docsIn: DataFrame =
      spark.readStream.schema(docsSchema).parquet(docsGlob)
    // the four ingests touch DISJOINT stores and checkpoints, so they
    // drain CONCURRENTLY (the reference's duties run concurrently from
    // its resource graph too) — the tick's wall is the slowest drain,
    // not the sum of four streaming-machinery startups. Contrast the
    // journal-plane Deployment.tick, whose one stream applies each batch
    // in statement order (the head cache before the replicator advances
    // the watermark it evicts against); no such order exists here.
    // The media loop: arriving assets feature-extract ROW-LOCALLY
    // (mediaCodesOf — the scrub stream's extractor seam on a streaming
    // select) and append to the frozen media quantizer through the SAME
    // generic exact-IVF ingest the vec plane uses; the perceptual scrub
    // service (StreamingDedup.mediaScrubStream) runs beside it over the
    // same extractor.
    Deployment.drain(drainTimeoutMs)(
      "text-index ingest" -> (() =>
        StreamingRetrieval.ingestStream(docsIn, textIndexDir, ckText)()),
      "vector ingest" -> (() =>
        StreamingSimilarity.ingestExactStream(
          spark.readStream.schema(codesSchema).parquet(codesGlob),
          vecIndexDir,
          ckVec
        )),
      "lm train" -> (() => StreamingCuration.lmTrainStream(docsIn, lmDir, ckLm)()),
      "media ingest" -> (() =>
        StreamingSimilarity.ingestExactStream(
          graft.pipeline.Multimodal.mediaCodesOf(
            spark.readStream.schema(mediaSchema).parquet(mediaGlob)
          ),
          mediaIndexDir,
          ckMedia
        ))
    )
    graft.Maintenance.maintainAll(spark, registry)
  }

  /** Media retrieval through the deployment's maintained media store
    * (the k16 read path; queryCodes = (vec_id, q8) media feature codes).
    */
  def mediaSearch(
      spark: SparkSession,
      queryCodes: DataFrame,
      nQueries: Long = 5L,
      k: Int = 3,
      nprobe: Int = 2
  ): DataFrame =
    graft.pipeline.Multimodal
      .mediaKnnIvfStored(spark, queryCodes, mediaIndexDir, nQueries, k, nprobe)

  /** The p36d batch search over the deployment's stores (corpus query
    * protocol; the continuous service is [[searchStream]]): the
    * `nQueries` lowest doc_ids of `dir` against the text and vector
    * stores, as [[graft.pipeline.Retrieval.hybridStoredTopK]]'s one keyed
    * pass — a lazy frame of `(qid, doc_id, rank, rrf_ppm, n_legs)` in
    * `(qid, rank)` order that costs 6 Spark jobs to collect.
    */
  def search(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10
  ): DataFrame =
    graft.pipeline.Retrieval
      .hybridStoredTopK(spark, dir, textIndexDir, vecIndexDir, nQueries, poolK, k)

  /** The continuous search service over the deployment's stores —
    * external-qid posture (no corpus self-exclusion).
    */
  def searchStream(
      queryDocs: DataFrame, // (qid, text, embedding)
      checkpointDir: String,
      k: Int = 10
  )(sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingRetrieval.hybridSearchStream(
      queryDocs,
      textIndexDir,
      vecIndexDir,
      checkpointDir,
      k = k
    )(sink)

  /** The unified health report (one row per store). */
  def health(spark: SparkSession): DataFrame =
    graft.Maintenance.healthAll(spark, registry)
}

object PipelineDeployment {

  /** P36e — the deployment lifecycle as one oracle-replayable query:
    * [[PipelineDeployment.bootstrap]] over the history splits (the p36d
    * protocol: text below the d9 boundary, quantizer trained on the
    * vec_id % 4 < 3 codes), ONE [[PipelineDeployment.tick]] ingesting the
    * daily splits as file streams through the three ingest loops (layers
    * keyed on their micro-batch ids, maintenance at the committed
    * frontier), then the stored hybrid search. The merged layer views are
    * definitionally the full-corpus stores, so the result is
    * row-identical to [[graft.pipeline.Retrieval.hybridStoredLifecycle]]
    * — p36d's oracle carries over (the d9b/p33b reuse argument, now for
    * the whole deployment wiring).
    */
  def lifecycleQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val split = graft.pipeline.Dedup.incrementalBoundary(spark, dir)
    val codes =
      graft.pipeline.Similarity.quantized(spark, dir).select("vec_id", "q8")
    val media = graft.pipeline.Multimodal.mediaTable(spark, dir)
    graft.pipeline.Eager.withTempStore("graft-p36e-deploy") { tmp =>
      val dep = PipelineDeployment(s"$tmp/stores")
      dep.bootstrap(
        spark,
        d.filter(col("doc_id") < split),
        codes.filter(col("vec_id") % 4 < 3),
        // the media quantizer trains on the k16 protocol's 3/4 ingest
        media.filter(col("doc_id") % 4 < 3)
      )
      // the daily batches arrive as files — the tick's streams consume
      // them through their checkpoints exactly once
      val inDocs = s"$tmp/in-docs"
      val inCodes = s"$tmp/in-codes"
      val inMedia = s"$tmp/in-media"
      // three independent staging writes — overlapped like the bootstrap
      graft.util.Par.run(
        () => d.filter(col("doc_id") >= split).write.parquet(inDocs),
        () => codes.filter(col("vec_id") % 4 >= 3).write.parquet(inCodes),
        () => media.filter(col("doc_id") % 4 >= 3).write.parquet(inMedia)
      )
      dep.tick(
        spark,
        inDocs,
        spark.read.parquet(inDocs).schema,
        inCodes,
        spark.read.parquet(inCodes).schema,
        inMedia,
        spark.read.parquet(inMedia).schema
      )
      dep.search(spark, dir)
    }
  }
}
