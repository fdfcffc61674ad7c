package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.StoreHealth.Store

/** ONE deployment wiring — the reference's `Replicator.make` composition
  * (replicator/src/main/scala/com/evolution/kafka/journal/replicator/Replicator.scala:44-100:
  * consume the topic, replicate into the eventual store, keep the head
  * plane current, run the maintenance duties) expressed as sequenced
  * `AvailableNow` drains of ONE action-file stream. Until round 12 the
  * loops only ran in isolation in their own specs; this object is the
  * composition a deployment actually schedules, and DeploymentSpec pins
  * its four laws end to end from one wiring.
  *
  * A [[tick]] drains, in order:
  *
  *   1. '''head cache''' ([[StreamingHeadCache.headStream]]) — folds the
  *      arriving actions ABOVE the replicated watermark read from the
  *      replicator's OWN pointer2 ([[replicatedWatermark]]) — no caller
  *      lambda to get wrong. The cache drains BEFORE the replicator
  *      advances, so it deliberately fronts the unreplicated tail (the
  *      reference's whole point: the cache covers exactly the
  *      replication lag).
  *   2. '''snapshot maintenance''' ([[StreamingSnapshots.maintenanceStream]])
  *      — pointer partials + debt-triggered snapshot saves.
  *   3. '''replicator''' ([[StreamingReplicator.streamFrom]]) — journal/
  *      metajournal materialization; its pointer2 commit is what advances
  *      the watermark the NEXT tick's head batch evicts against.
  *   4. '''store maintenance''' (graft.Maintenance.maintainAll over
  *      [[registry]]) — the between-batches batch-maintainer posture: all
  *      stream offsets are committed by the clean drains above, so no
  *      layer is still redeliverable and the compactors may fold
  *      everything (running a maintainer BESIDE live ingest instead
  *      requires threading protectLayersAbove — see graft.Maintenance).
  *
  * Read-side contract: `Replay.mergedReadGated` / `api.Journal.readCached`
  * over [[readHeads]] stays row-identical to the ungated read PROVIDED
  * the cache's watermark trails the read's staleness bound (a journal
  * evicted from the cache must have no log rows above the read's
  * replicated watermark). The tick order guarantees the cache watermark
  * trails replication by one tick; size the read's bound to at least
  * that lag.
  */
final case class Deployment(
    base: String,
    snapshotThreshold: Long = 25L,
    snapshotRing: Int = 3,
    compactOverLayers: Long = 8L
) {

  val storeDir = s"$base/store"
  val headDir = s"$base/head"
  val snapDir = s"$base/snaps"

  /** The deployment's maintainable stores, in the unified registry row
    * shape (the replicated journal store maintains itself through the
    * commit protocol's generation retention — it is not DirSwap-layered).
    */
  def registry: Seq[Store] = Seq(
    graft.Maintenance
      .headCache(headDir)
      .copy(compactOverLayers = compactOverLayers),
    graft.Maintenance
      .snapshotStore(snapDir, bufferSize = snapshotRing)
      .copy(compactOverLayers = compactOverLayers)
  )

  /** (topic, part_no, wm) from the replicator's committed pointer2 —
    * empty on a virgin store (every partition wholly unreplicated, which
    * is exactly what appendBatch's full-outer watermark union expects).
    */
  def replicatedWatermark(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (cur, epoch) = StreamingReplicator.resolveCurrent(storeDir)
    if (epoch == 0L) Seq.empty[(String, Int, Long)].toDF("topic", "part_no", "wm")
    else
      spark.read
        .schema(graft.journal.Replicate.Layout.pointer2)
        .parquet(graft.util.Loc.join(cur, "pointer2"))
        .select(col("topic"), col("part_no"), (col("next_offset") - 1L).as("wm"))
  }

  /** One maintenance tick over whatever `inputGlob` currently holds that
    * the checkpoints have not consumed yet. Returns the post-maintenance
    * health report (one row per registry store).
    */
  def tick(
      spark: SparkSession,
      inputGlob: String,
      schema: StructType,
      drainTimeoutMs: Long = 120000L
  ): DataFrame = {
    // a drain that exceeds its budget ABORTS the tick before maintenance:
    // proceeding would run maintainAll beside a still-live ingest (the
    // protectLayersAbove hazard) and the next tick would start a second
    // query on the same checkpoint. The stream is stopped; offsets
    // already committed stay committed, and the next tick resumes them.
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery, what: String): Unit =
      if (!q.awaitTermination(drainTimeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"$what drain exceeded $drainTimeoutMs ms — tick aborted before " +
            "maintenance; committed offsets persist and the next tick resumes"
        )
      }
    def in: DataFrame = spark.readStream.schema(schema).parquet(inputGlob)
    drain(
      StreamingHeadCache.headStream(
        in,
        headDir,
        s"$base/ck-head",
        sp => replicatedWatermark(sp)
      ),
      "head cache"
    )
    drain(
      StreamingSnapshots.maintenanceStream(
        in,
        snapDir,
        s"$base/ck-snaps",
        threshold = snapshotThreshold,
        bufferSize = snapshotRing
      ),
      "snapshot maintenance"
    )
    drain(
      StreamingReplicator.streamFrom(
        spark,
        inputGlob,
        storeDir,
        s"$base/ck-repl",
        schema
      ),
      "replicator"
    )
    graft.Maintenance.maintainAll(spark, registry)
  }

  /** The maintained head table (the reader's tail-decision input). */
  def readHeads(spark: SparkSession): DataFrame =
    StreamingHeadCache.readHeads(spark, headDir)

  /** The maintained snapshot table (recovery input). */
  def storedSnapshots(spark: SparkSession): DataFrame =
    StreamingSnapshots.storedSnapshots(spark, snapDir)

  /** The replicated store (journal / metajournal / pointer2). */
  def readStore(spark: SparkSession): graft.journal.Replicate.Store =
    StreamingReplicator.readStore(spark, storeDir)
}
