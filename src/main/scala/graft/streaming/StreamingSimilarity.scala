package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Similarity

/** Continuous ANN search — the streaming form of the persisted-IVF-index
  * plane, completing batch/streaming parity for the last plane that lacked
  * it (dedup, curation, as-of, range join, and the sketches all have both).
  *
  * Shape: query vectors ARRIVE (a stream of `(qid, q)` rows); the index is
  * the FROZEN side ([[Similarity.writeIvfIndex]] /
  * [[Similarity.appendToIvfIndex]] maintain it between batches, exactly the
  * train-once/ingest-daily lifecycle k10 demonstrates). Each micro-batch is
  * scored with [[Similarity.knnIvfIndexedOf]] — centroids load bounded
  * (kCentroids×dim), probe cells resolve row-locally, and the vectors scan
  * is partition-pruned to the batch's probed cells, so per-batch cost is
  * O(batch × probed cells), never O(index).
  *
  * Law (IndexStoreSpec): queries streamed in chunks ≡ one batch search,
  * row-for-row. This holds STRUCTURALLY — queries are independent rows and
  * the index is immutable during a run — which is why `foreachBatch` (T1
  * commit-after-write ordering, checkpointed offsets) is the whole
  * machinery: no cross-batch state exists to manage. Contrast the dedup
  * stream, where cross-batch state is the operator.
  *
  * At 100 TB: the index's cid partitioning is what keeps the continuous
  * form viable — each arriving batch touches only its probed cells' files;
  * a brute-force streaming scorer would re-scan the corpus per batch.
  */
object StreamingSimilarity {

  /** Starts the continuous search: `queries` is a STREAMING frame with
    * columns `(qid: Long, q: Array[Double])`; each micro-batch's top-k
    * results (qid, vec_id, rank, sim) are handed to `sink` with the batch
    * id. `checkpointDir` makes delivery resumable (a replayed batch
    * re-scores the same queries — idempotent for any sink keyed on qid).
    */
  def searchStream(
      queries: DataFrame,
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      nprobe: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          // excludeSelf = false: arriving qids are an external id space;
          // the corpus protocol's self-exclusion must not drop a corpus
          // vector whose vec_id happens to equal a query's qid
          Similarity.knnIvfIndexedOf(
            batch.sparkSession,
            batch,
            indexDir,
            k,
            nprobe,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous index-health monitoring — k13's streaming form: arriving
    * vector batches `(vec_id, q8)` are assigned to the FROZEN integer
    * quantizer and each micro-batch's raw cell-stats DELTA (cid,
    * n_vectors, sum_cohesion, min_cohesion) is handed to `sink`, which
    * folds it into the running view with [[Similarity.mergeCellStats]] —
    * correct in any batch order because the raw stats are additive over
    * row partitions under frozen centroids (the CellStats merge law).
    * Per-batch cost is O(batch × kCentroids) row-local work + one
    * kCentroids-row aggregation; history is never rescanned. Same
    * stateless foreachBatch shape as [[searchStream]]: a replayed batch
    * re-emits the same delta, so a sink keyed on batchId stays
    * idempotent through T1 redelivery.
    */
  def cellStatsStream(
      vectors: DataFrame,
      centroids: Seq[(Int, Seq[Long])],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Similarity.cellStatsRaw(batch, centroids), batchId)
      }
      .start()

  /** Continuous ingest into the EXACT-INTEGER persisted IVF store (the
    * p36d/hybrid dense leg's store): each micro-batch of arriving codes
    * `(vec_id, q8)` is assigned row-locally to the FROZEN exact quantizer
    * and appended under its own layer
    * ([[Similarity.appendToIvfIndexExact]]) — the [[maintenanceStream]]
    * discipline on the integer twin. Layer = batchId + 1, so a
    * T1-redelivered batch REWRITES its own layer via dynamic partition
    * overwrite and never stacks duplicate vector rows; `compactEvery`
    * folds accreted layers with the just-written (possibly uncommitted)
    * layer protected. A deployment that defers compaction to its own
    * maintainer ([[PipelineDeployment]]) leaves `compactEvery` 0.
    */
  def ingestExactStream(
      newCodes: DataFrame,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Int = 0
  ): StreamingQuery =
    newCodes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val layer = batchId + 1L
        Similarity.appendToIvfIndexExact(
          batch.sparkSession,
          batch,
          indexDir,
          layer
        )
        if (compactEvery > 0 && layer % compactEvery == 0)
          Similarity.compactIvfIndex(
            batch.sparkSession,
            indexDir,
            protectLayersAbove = layer - 1L
          )
      }
      .start()

  /** The continuous index-maintenance loop — k10's append lifecycle and
    * k14's health row composed as a retrain TRIGGER: each arriving
    * micro-batch of `(vec_id, embedding)` rows is appended to the stored
    * index (row-local assignment against the frozen quantizer, O(batch)),
    * and every `healthEvery` batches the index's self-monitoring row
    * ([[Similarity.indexHealthOf]] — recall@k vs probe-all truth, max
    * cell ppm, min mean cohesion, `retrain_recommended`) goes to
    * `healthSink`. ACTING on a fired flag stays with the operator:
    * [[Similarity.retrainIvfIndex]] builds a NEW generation and readers
    * swap over — retraining in-stream would mutate the frozen-index
    * contract the concurrent search plane ([[searchStream]]) relies on.
    * The append is keyed on the micro-batch id (`layer = batchId + 1`),
    * so a T1-redelivered batch REWRITES its own layer via dynamic
    * partition overwrite instead of stacking duplicate vector rows — the
    * retrieval ingest's exactness argument applied to the vector store
    * (the caller's vec_id-uniqueness contract still covers DISTINCT
    * batches). `compactEvery` folds accreted layers with the just-written
    * (possibly uncommitted) layer protected; IndexStoreSpec drives the
    * full degrade → fire → retrain → clear cycle through this entry
    * point.
    */
  def maintenanceStream(
      newVectors: DataFrame,
      indexDir: String,
      checkpointDir: String,
      healthEvery: Int = 1,
      maxCellPpm: Long = 250000L,
      minRecallPpm: Long = 600000L,
      compactEvery: Int = 0
  )(healthSink: (DataFrame, Long) => Unit): StreamingQuery =
    newVectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Similarity.appendToIvfIndex(spark, batch, indexDir, batchId + 1L)
        if (compactEvery > 0 && (batchId + 1L) % compactEvery == 0)
          Similarity.compactIvfIndex(
            spark,
            indexDir,
            protectLayersAbove = batchId
          )
        if ((batchId + 1) % healthEvery == 0)
          healthSink(
            Similarity.indexHealthOf(
              spark, indexDir,
              maxCellPpm = maxCellPpm, minRecallPpm = minRecallPpm),
            batchId
          )
      }
      .start()
}
