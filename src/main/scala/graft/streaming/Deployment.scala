package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.util.StoreHealth.Store

/** ONE deployment wiring — the reference's `Replicator.make` composition
  * (replicator/src/main/scala/com/evolution/kafka/journal/replicator/Replicator.scala:44-100:
  * one consumer of the topic feeds every duty — replicate into the
  * eventual store, keep the head plane current, run the maintenance
  * duties) expressed as ONE `AvailableNow` stream over the action files,
  * checkpointed at [[ckJournal]]. DeploymentSpec pins its laws end to end
  * from this one wiring.
  *
  * A [[tick]] materializes each micro-batch once and applies it, in
  * statement order, to:
  *
  *   1. '''head cache''' ([[StreamingHeadCache.appendBatch]]) — folds the
  *      arriving actions ABOVE the replicated watermark read from the
  *      replicator's OWN pointer2 ([[replicatedWatermark]]) — no caller
  *      lambda to get wrong. The cache is written BEFORE the replicator
  *      advances, so it deliberately fronts the unreplicated tail (the
  *      reference's whole point: the cache covers exactly the
  *      replication lag).
  *   2. '''snapshot maintenance''' ([[StreamingSnapshots.appendMaintenanceBatch]])
  *      — pointer partials + debt-triggered snapshot saves.
  *   3. '''replicator''' ([[StreamingReplicator.applyBatch]]) — journal/
  *      metajournal materialization; its pointer2 commit is what advances
  *      the watermark the NEXT batch's head fold evicts against.
  *
  * Each sink is idempotent under redelivery: the head and snapshot layers
  * are `batchId + 1` (a redelivered batch rewrites its own layers) and the
  * replicator's pointer2 offset guard skips what it already applied.
  *
  * After the drain, '''store maintenance''' (graft.Maintenance.maintainAll
  * over [[registry]]) runs in the between-batches batch-maintainer
  * posture: the clean drain committed every offset, so no layer is still
  * redeliverable and the compactors may fold everything (running a
  * maintainer BESIDE live ingest instead requires threading
  * protectLayersAbove — see graft.Maintenance).
  *
  * Read-side contract: `Replay.mergedReadGated` / `api.Journal.readCached`
  * over [[readHeads]] stays row-identical to the ungated read PROVIDED
  * the cache's watermark trails the read's staleness bound (a journal
  * evicted from the cache must have no log rows above the read's
  * replicated watermark). The batch order guarantees the cache watermark
  * trails replication by one batch; size the read's bound to at least
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
  val ckJournal = s"$base/ck-journal"

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
    * [[ckJournal]] has not consumed yet. Returns the post-maintenance
    * health report (one row per registry store). A drain that exceeds
    * `drainTimeoutMs` aborts the tick before maintenance
    * ([[Deployment.drain]]).
    */
  def tick(
      spark: SparkSession,
      inputGlob: String,
      schema: StructType,
      drainTimeoutMs: Long = 120000L
  ): DataFrame = {
    // the checkpoints of the three-stream tick this one replaced: a
    // fresh ck-journal beside them would re-ingest every file as layer 1
    // under the layers they already wrote
    val old = Seq("ck-head", "ck-snaps", "ck-repl").filter(c => graft.util.Blob.exists(s"$base/$c"))
    if (old.nonEmpty && !graft.util.Blob.exists(ckJournal))
      throw new IllegalStateException(
        s"$base holds ${old.mkString(", ")} of the three-stream tick and no " +
          "ck-journal — a fresh base is required")
    Deployment.drain(drainTimeoutMs)("journal ingest" -> (() =>
      spark.readStream
        .schema(schema)
        .parquet(inputGlob)
        .writeStream
        .option("checkpointLocation", ckJournal)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val layer = batchId + 1L
          // materialized once, by the first job that reads it: a lazy
          // local checkpoint adds no job of its own, where a cached frame
          // costs one more under adaptive execution
          val b = batch.localCheckpoint(eager = false)
          try {
            StreamingHeadCache.appendBatch(sp, b, headDir, replicatedWatermark(sp), layer)
            StreamingSnapshots.appendMaintenanceBatch(sp, b, snapDir, snapshotThreshold, layer)
            StreamingReplicator.applyBatch(sp, storeDir, b)
          } finally graft.pipeline.Eager.releaseCheckpoint(b)
        }
        .start()))
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

object Deployment {

  /** Starts the named streams, then awaits them all within ONE budget for
    * the whole tick. A stream that overruns it, fails, or fails to start
    * aborts the tick before maintenance: proceeding would run maintainAll
    * beside a still-live ingest (the protectLayersAbove hazard) and the
    * next tick would start a second query on the same checkpoint. Every
    * stream already started is stopped on every abort path, so nothing
    * keeps running behind the aborted tick; committed offsets persist and
    * the next tick resumes them.
    */
  private[streaming] def drain(budgetMs: Long)(
      streams: (String, () => StreamingQuery)*
  ): Unit = {
    val t0 = System.nanoTime()
    val started = scala.collection.mutable.ArrayBuffer.empty[(String, StreamingQuery)]
    try {
      streams.foreach { case (what, start) => started += what -> start() }
      started.foreach { case (what, q) =>
        val left = budgetMs - (System.nanoTime() - t0) / 1000000L
        if (left <= 0L || !q.awaitTermination(left))
          throw new IllegalStateException(
            s"$what drain exceeded the $budgetMs ms tick budget — tick " +
              "aborted before maintenance; committed offsets persist and " +
              "the next tick resumes")
      }
    } catch {
      case t: Throwable =>
        started.foreach { case (_, q) =>
          try q.stop()
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw t
    }
  }
}
