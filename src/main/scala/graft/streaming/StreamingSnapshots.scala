package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The snapshot MAINTENANCE loop — the s10 plane's k14: a persisted
  * snapshot store plus the continuous maintainer that watches per-journal
  * replay-length debt and saves a snapshot at the journal's head whenever
  * the debt crosses the threshold, so recovery cost
  * ([[graft.journal.Snapshots.recoveryWith]]) stays bounded regardless of
  * journal length. Reference intent: snapshot/.../SnapshotStore.scala:11-62
  * (save) + SnapshotSelectionCriteria-driven retention, run as a process
  * instead of left to the application.
  *
  * Store layout under `$storeDir/` (every directory layer-keyed, written
  * via dynamic partition overwrite — the repo-wide exactly-once ingest
  * discipline; compaction behind [[graft.util.DirSwap]]):
  *
  *   - `snaps/layer=*` — saved snapshot rows (topic, id, seq_nr, koffset,
  *     ts, payload): presence facts, deduped on read.
  *   - `ptr/layer=*`  — per-(journal, batch) POINTER PARTIALS
  *     (saw_purge, ptr, purge_koffset): the A2 pointer is not a plain max
  *     (a purge resets it), so batches store partial folds merged in
  *     layer order with the purge-replace Semigroup — the head cache's
  *     entry model applied to a single Long. `purge_koffset` (max-merged)
  *     additionally invalidates snapshots taken before a purge: a purged
  *     journal's old snapshots are filtered from every read and dropped
  *     at compaction (the reference drops snapshots with the journal).
  *
  * Per batch the maintainer folds ONLY the batch (O(batch)); the debt
  * check joins the batch's journals against journal-grain stored state.
  * A journal fires only when its pointer EVENT arrived in the current
  * batch — which is exactly when its debt last grew — so the saved
  * payload is at hand and no historical read happens.
  */
object StreamingSnapshots {

  private val Dirs = Seq("snaps", "ptr")

  private def live(storeDir: String, sub: String): String =
    graft.util.DirSwap
      .resolve(storeDir, sub)
      .toString

  def repairSnapshotStore(storeDir: String): Unit = {
    val root = storeDir
    Dirs.foreach(graft.util.DirSwap.repair(root, _))
  }

  // explicit schemas: a batch with nothing to fire writes a zero-row
  // layer; reads must not infer
  private val snapsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "topic STRING, id STRING, seq_nr BIGINT, koffset BIGINT, " +
      "ts TIMESTAMP, payload DOUBLE, layer BIGINT"
  )
  private val ptrSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "topic STRING, id STRING, saw_purge BOOLEAN, ptr BIGINT, " +
      "purge_koffset BIGINT, layer BIGINT"
  )

  private def readSnaps(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(snapsSchema).parquet(live(storeDir, "snaps"))

  private def readPtr(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(ptrSchema).parquet(live(storeDir, "ptr"))

  /** One batch's per-journal pointer partial: post-purge max appended
    * seq_nr (−1 = none), whether the batch purged, and the purge offset.
    */
  private[graft] def ptrPartials(actions: DataFrame): DataFrame = {
    val perKey = Window.partitionBy("topic", "id")
    actions
      .withColumn(
        "lp",
        max(when(col("action") === "purge", col("koffset"))).over(perKey)
      )
      .withColumn("after_purge", col("lp").isNull || col("koffset") > col("lp"))
      .groupBy("topic", "id")
      .agg(
        max(when(col("action") === "purge", lit(1)))
          .isNotNull
          .as("saw_purge"),
        coalesce(
          max(
            when(
              col("action") === "append" && col("after_purge"),
              col("seq_nr")
            )
          ),
          lit(-1L)
        ).as("ptr"),
        coalesce(
          max(when(col("action") === "purge", col("koffset"))),
          lit(-1L)
        ).as("purge_koffset")
      )
  }

  /** (saw_purge, ptr, purge_koffset) partials merged in arrival order —
    * the purge-replace Semigroup on a single Long.
    */
  private def mergePtr(
      key: (String, String),
      parts: Iterator[(String, String, Boolean, Long, Long, Long)]
  ): (String, String, Boolean, Long, Long) = {
    val ordered = parts.toArray.sortBy(_._6) // by layer = arrival order
    val merged = ordered
      .map(p => (p._3, p._4, p._5))
      .reduceLeft { (a, b) =>
        (
          a._1 || b._1,
          if (b._1) b._2 else math.max(a._2, b._2),
          math.max(a._3, b._3)
        )
      }
    (key._1, key._2, merged._1, merged._2, merged._3)
  }

  /** The merged per-journal pointer state (topic, id, saw_purge, ptr,
    * purge_koffset); ptr = −1 means no post-purge appends (nothing to
    * recover). Equals the A2 pointer over everything ingested
    * (SnapshotMaintenanceSpec law).
    */
  def mergedPointers(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    readPtr(spark, storeDir)
      .as[(String, String, Boolean, Long, Long, Long)]
      .groupByKey(p => (p._1, p._2))
      .mapGroups(mergePtr _)
      .toDF("topic", "id", "saw_purge", "ptr", "purge_koffset")
  }

  /** The stored snapshot table's read view: purge-invalidated rows
    * filtered (a snapshot taken before the journal's last purge describes
    * a dead incarnation), duplicates collapsed.
    *
    * One keyed pass: the snaps and ptr rows are unioned, and the
    * journal's purge offset (the max of its pointer partials', as
    * [[mergedPointers]] merges it) reaches its snapshot rows through a
    * window on (topic, id); the dedup reuses that partitioning. Every
    * operator is keyed on (topic, id), so a key filter on the result
    * reaches both scans — a one-journal recovery reads only that
    * journal's rows.
    */
  def storedSnapshots(spark: SparkSession, storeDir: String): DataFrame = {
    val cols = Seq("topic", "id", "seq_nr", "koffset", "ts", "payload")
    readSnaps(spark, storeDir)
      .select(cols.map(col) :+ lit(true).as("is_snap"): _*)
      .unionByName(
        readPtr(spark, storeDir).select("topic", "id", "purge_koffset"),
        allowMissingColumns = true // a ptr row's is_snap is null
      )
      .withColumn("pk", max("purge_koffset").over(Window.partitionBy("topic", "id")))
      .filter(
        col("is_snap") && (col("pk").isNull || col("pk") < 0 || col("koffset") > col("pk"))
      )
      .select(cols.map(col): _*)
      .dropDuplicates("topic", "id", "seq_nr")
  }

  /** Ingests one micro-batch of actions: stores the batch's pointer
    * partial, computes every touched journal's debt against the merged
    * state, and SAVES a snapshot at the pointer for journals over
    * `threshold` — the pointer event is in this batch by construction
    * (debt grew here), so its payload rides along. Layer-keyed: a
    * T1-redelivered batch rewrites its own layers, never double-fires.
    */
  def appendMaintenanceBatch(
      spark: SparkSession,
      batch: DataFrame,
      storeDir: String,
      threshold: Long,
      layer: Long
  ): Unit = {
    require(layer > 0L, "append layers must be > 0; layer 0 is the base")
    repairSnapshotStore(storeDir)
    val parts = ptrPartials(batch).cache()
    val virgin = !graft.util.Blob.exists(
      live(storeDir, "ptr")
    )
    val stored =
      if (virgin)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "topic STRING, id STRING, saw_purge BOOLEAN, ptr BIGINT, " +
              "purge_koffset BIGINT"
          )
        )
      else mergedPointers(spark, storeDir)
    // merged state INCLUDING this batch (batch is the later operand)
    val merged = stored
      .select(
        col("topic"),
        col("id"),
        col("saw_purge").as("s_saw"),
        col("ptr").as("s_ptr"),
        col("purge_koffset").as("s_pk")
      )
      .join(parts, Seq("topic", "id"), "full_outer")
      .select(
        col("topic"),
        col("id"),
        when(
          col("saw_purge").isNotNull && col("saw_purge"),
          col("ptr")
        ).otherwise(greatest(coalesce(col("s_ptr"), lit(-1L)), coalesce(col("ptr"), lit(-1L))))
          .as("ptr_m"),
        greatest(coalesce(col("s_pk"), lit(-1L)), coalesce(col("purge_koffset"), lit(-1L)))
          .as("pk_m")
      )
    val snapSeq =
      (if (virgin)
         spark.createDataFrame(
           spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
           org.apache.spark.sql.types.StructType.fromDDL(
             "topic STRING, id STRING, seq_nr BIGINT, koffset BIGINT"
           )
         )
       else readSnaps(spark, storeDir).select("topic", "id", "seq_nr", "koffset"))
        .join(merged.select("topic", "id", "pk_m"), Seq("topic", "id"))
        .filter(col("pk_m") < 0 || col("koffset") > col("pk_m"))
        .groupBy("topic", "id")
        .agg(max("seq_nr").as("snap_seq"))
    val due = merged
      .filter(col("ptr_m") >= 0)
      .join(snapSeq, Seq("topic", "id"), "left")
      .filter(
        col("ptr_m") - coalesce(col("snap_seq"), lit(0L)) > threshold
      )
      .select(col("topic"), col("id"), col("ptr_m"))
    // fire: the pointer event must be IN this batch (post-purge)
    val perKey = Window.partitionBy("topic", "id")
    val fired = batch
      .withColumn(
        "lp",
        max(when(col("action") === "purge", col("koffset"))).over(perKey)
      )
      .filter(
        col("action") === "append" &&
          (col("lp").isNull || col("koffset") > col("lp"))
      )
      .join(due, Seq("topic", "id"))
      .filter(col("seq_nr") === col("ptr_m"))
      .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
    fired
      .withColumn("layer", lit(layer))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("layer")
      .parquet(live(storeDir, "snaps"))
    parts
      .withColumn("layer", lit(layer))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("layer")
      .parquet(live(storeDir, "ptr"))
    parts.unpersist(false)
  }

  /** Folds the store: pointer partials merge into one base row per
    * journal; snapshots drop purge-invalidated rows and apply the RING
    * retention (keep each journal's newest `bufferSize` — the s10c
    * BufferNr discipline enforced at maintenance time). Layers above
    * `protectLayersAbove` stay verbatim (redeliverable); reads are
    * row-identical before/after for the retained window
    * (SnapshotMaintenanceSpec law).
    */
  def compactSnapshotStore(
      spark: SparkSession,
      storeDir: String,
      bufferSize: Int = 3,
      protectLayersAbove: Long = Long.MaxValue
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    storeDir
  ) {
    import spark.implicits._
    repairSnapshotStore(storeDir)
    val root = storeDir
    val pointers = mergedPointers(spark, storeDir).cache()
    graft.util.DirSwap.swap(root, "snaps") { tmp =>
      val all = readSnaps(spark, storeDir)
      val protectedRows = all.filter(col("layer") > lit(protectLayersAbove))
      val ring = Window
        .partitionBy("topic", "id")
        .orderBy(col("seq_nr").desc)
      val folded = all
        .filter(col("layer") <= lit(protectLayersAbove))
        .join(
          pointers.select("topic", "id", "purge_koffset"),
          Seq("topic", "id"),
          "left"
        )
        .filter(
          col("purge_koffset").isNull || col("purge_koffset") < 0 ||
            col("koffset") > col("purge_koffset")
        )
        .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
        .dropDuplicates("topic", "id", "seq_nr")
        .withColumn("rn", row_number().over(ring))
        .filter(col("rn") <= bufferSize)
        .drop("rn")
        .withColumn("layer", lit(0L))
      folded
        .unionByName(protectedRows)
        .write
        .partitionBy("layer")
        .parquet(tmp.toString)
    }
    graft.util.DirSwap.swap(root, "ptr") { tmp =>
      val all = readPtr(spark, storeDir)
      val protectedRows = all.filter(col("layer") > lit(protectLayersAbove))
      val folded = all
        .filter(col("layer") <= lit(protectLayersAbove))
        .as[(String, String, Boolean, Long, Long, Long)]
        .groupByKey(p => (p._1, p._2))
        .mapGroups(mergePtr _)
        .toDF("topic", "id", "saw_purge", "ptr", "purge_koffset")
        .withColumn("layer", lit(0L))
      folded
        .unionByName(protectedRows)
        .write
        .partitionBy("layer")
        .parquet(tmp.toString)
    }
    pointers.unpersist(false)
  }

  /** The continuous maintainer: arriving actions update the pointer
    * state, debt fires snapshot saves, and every `compactEvery` batches
    * the store folds (ring retention applied) with the just-written layer
    * protected — the k14 monitor loop applied to recovery debt. This is
    * the standalone loop for one store; [[Deployment.tick]] calls
    * [[appendMaintenanceBatch]] from its one shared stream.
    */
  def maintenanceStream(
      actions: DataFrame,
      storeDir: String,
      checkpointDir: String,
      threshold: Long = 25L,
      bufferSize: Int = 3,
      compactEvery: Int = 0
  ): StreamingQuery =
    actions.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val layer = batchId + 1L
        appendMaintenanceBatch(spark, batch, storeDir, threshold, layer)
        if (compactEvery > 0 && layer % compactEvery == 0)
          compactSnapshotStore(
            spark,
            storeDir,
            protectLayersAbove = layer - 1L
          )
      }
      .start()
}
