package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.StoreHealth.Store

/** The ONE-app composition — both planes from one resource graph, the
  * reference's single-`Replicator.make` posture
  * (replicator/src/main/scala/com/evolution/kafka/journal/replicator/Replicator.scala:44-100:
  * one application owns every duty — consume, replicate, head plane,
  * maintenance) extended to the repo's whole surface: the JOURNAL plane
  * ([[Deployment]] — replicator, head cache, snapshot maintenance) and
  * the RETRIEVAL/MODEL plane ([[PipelineDeployment]] — text index,
  * vector index, LM model, media index) tick together and report ONE
  * health frame across every store.
  *
  * Why one wiring matters (and not just two apps): the operational
  * surface is a single [[registry]] — one `healthAll` row shape covers
  * all six maintained stores, one scheduler drives one [[tick]], and the
  * per-plane laws (replay exactness, cache ≡ fold, search ≡ batch
  * stores, fold protection at each ingest's committed frontier) hold
  * SIMULTANEOUSLY from the same composition — FullDeploymentSpec pins
  * them from one composed tick rather than meeting only in per-plane
  * specs.
  *
  * Tick order: journal plane first (one stream: head cache → snapshots
  * → replicator per batch, then its maintainAll), then the retrieval plane (four ingest drains →
  * its maintainAll, each store's fold boundary from its own streaming
  * commit log). The planes share no store, so the order between them is
  * free; within each plane the documented orderings are preserved by
  * delegation.
  */
final case class FullDeployment(
    base: String,
    snapshotThreshold: Long = 25L,
    snapshotRing: Int = 3,
    kCentroids: Int = 16,
    compactOverLayers: Long = 8L
) {

  val journal: Deployment = Deployment(
    s"$base/journal",
    snapshotThreshold = snapshotThreshold,
    snapshotRing = snapshotRing,
    compactOverLayers = compactOverLayers
  )

  val pipeline: PipelineDeployment = PipelineDeployment(
    s"$base/pipeline",
    kCentroids = kCentroids,
    compactOverLayers = compactOverLayers
  )

  /** Every maintained store of both planes, in one registry — the one
    * health/maintenance surface (built per call: the pipeline stores'
    * fold boundaries advance with their commit logs).
    */
  def registry: Seq[Store] = journal.registry ++ pipeline.registry

  /** One composed tick: the journal plane's drain + maintenance, then
    * the retrieval plane's, returning the UNION of both maintenance
    * decision frames (store, compacted). The post-tick state is
    * [[health]] — one frame, all stores. A drain overrunning its budget
    * aborts the whole tick exactly as in the per-plane ticks (committed
    * offsets persist; the next composed tick resumes both planes).
    */
  def tick(
      spark: SparkSession,
      actionsGlob: String,
      actionsSchema: StructType,
      docsGlob: String,
      docsSchema: StructType,
      codesGlob: String,
      codesSchema: StructType,
      mediaGlob: String,
      mediaSchema: StructType,
      drainTimeoutMs: Long = 120000L
  ): DataFrame = {
    val j = journal.tick(spark, actionsGlob, actionsSchema, drainTimeoutMs)
    val p = pipeline.tick(
      spark,
      docsGlob,
      docsSchema,
      codesGlob,
      codesSchema,
      mediaGlob,
      mediaSchema,
      drainTimeoutMs
    )
    j.unionByName(p)
  }

  /** ONE health frame — a row per store across BOTH planes. */
  def health(spark: SparkSession): DataFrame =
    graft.Maintenance.healthAll(spark, registry)
}
