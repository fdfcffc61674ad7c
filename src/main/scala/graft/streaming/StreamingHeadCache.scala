package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.journal.{ActionRow, HeadInfo}

/** The live head plane — the streaming analogue of the reference's
  * HeadCache/PartitionCache (journal/.../HeadCache.scala:19-186,
  * PartitionCache.scala:21-93): a compact per-journal summary of the
  * UNREPLICATED log tail, maintained incrementally from arriving actions,
  * that lets a reader decide whether the tail holds anything worth
  * replaying without re-folding the log.
  *
  * == Model: persisted partial folds, merged on read ==
  *
  * The reference's PartitionCache keeps per-offset-range ENTRIES and
  * derives the head by merging the entries above the replicated offset —
  * eviction is dropping fully-replicated entries, never un-folding. This
  * store is that model in parquet:
  *
  *   - `entries/layer=*` — one row per (journal, micro-batch): the A1 fold
  *     of the journal's actions IN THAT BATCH ([[HeadInfo.step]], sorted by
  *     offset), packed flat, with the chunk's (min, max) offsets and a
  *     `saw_purge` flag. A batch append folds ONLY the batch — history is
  *     never re-read (the cost is O(batch), the ingest shape of every
  *     store in this repo).
  *   - `wm/layer=*` — per-partition (replicated watermark, end offset)
  *     rows; both MAX-merged on read, so layers are trivially redelivery-
  *     safe.
  *
  * The READ merges each journal's surviving entries in offset order with
  * the reference's Semigroup ([[HeadInfo.combine]]) — the job that
  * Semigroup exists for — with the purge discipline of
  * [[HeadInfo.perJournalSalted]]: a chunk that saw a purge REPLACES the
  * accumulated state (the bare Semigroup cannot represent "purged then
  * appended" inside the right operand). The merge is over at most
  * (replication lag / batch size) partials per journal, bounded exactly as
  * the reference's in-memory entry list is.
  *
  * Eviction = the reference's remove-on-replicate: an entry whose
  * `max_koffset` is at or below its partition's replicated watermark can
  * never influence a tail decision again and is dropped — logically on
  * every read, physically at [[compactHeadCache]]. A journal whose entries
  * are all evicted leaves the cache; if it writes again, a fresh entry
  * re-creates it from the new actions alone.
  *
  * Exactly-once under T1 redelivery: appends are layer-keyed on the
  * micro-batch id, each written (overwrite-mode) to its OWN
  * `layer=N` directory, so a redelivered batch REWRITES its own layer
  * (the store-wide invariant pinned by StoreInterleavingSpec for the
  * other planes) and concurrent chunk ingests never share a commit
  * staging directory; compaction protects the possibly-uncommitted
  * newest layer. The entry fold itself
  * additionally ignores actions at or below the arrival watermark — the
  * F7 replicated-offset skip, applied at the cache boundary.
  *
  * Scale shape: entry rows shuffle once per batch on (topic, id) — the
  * batch's OWN rows only; the read merges lag-bounded partials keyed per
  * journal; nothing is ever broadcast except the per-partition watermark
  * table (one row per Kafka partition). At 100 TB of log the cache is
  * still replication-lag-sized, which is the entire point of the
  * reference's design.
  */
object StreamingHeadCache {

  private val Dirs = Seq("entries", "wm")

  private def live(storeDir: String, sub: String): String =
    graft.util.DirSwap
      .resolve(storeDir, sub)
      .toString

  // explicit schemas: an early micro-batch can be entirely below the
  // watermark and write a ZERO-row layer — a schema-inferring read of the
  // resulting empty directory would throw, so every store read declares
  // its schema (the layout is fixed by this object anyway)
  private val entriesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "topic STRING, id STRING, part_no INT, min_koffset BIGINT, " +
        "max_koffset BIGINT, saw_purge BOOLEAN, kind STRING, " +
        "a_offset BIGINT, a_seq_nr BIGINT, a_delete_to BIGINT, layer BIGINT"
    )
  private val wmSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "topic STRING, part_no INT, wm BIGINT, end_offset BIGINT, layer BIGINT"
    )

  private def readEntries(spark: SparkSession, storeDir: String): DataFrame =
    readMember(spark, live(storeDir, "entries"), entriesSchema)

  private def readWm(spark: SparkSession, storeDir: String): DataFrame =
    readMember(spark, live(storeDir, "wm"), wmSchema)

  /** A member's layers, a committed layer held aside by a [[writeLayer]]
    * publish ([[hiddenLayers]]) read in place under its own layer number.
    */
  private def readMember(
      spark: SparkSession,
      member: String,
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame =
    hiddenLayers(member).foldLeft(spark.read.schema(schema).parquet(member)) {
      case (df, (n, aside)) =>
        df.unionByName(spark.read.schema(schema).parquet(aside).withColumn("layer", lit(n)))
    }

  private val LayerName = """^layer=(\d+)$""".r
  private val AsideName = """^\.layer-(\d+)-old-""".r

  /** One listing of `member`: its `layer=N` numbers and its aside copies
    * `.layer-N-old-*` as (N, location).
    */
  private def layersAndAsides(member: String): (Set[Long], Seq[(Long, String)]) = {
    val names = graft.util.Blob.children(member).map(c => graft.util.Loc.name(c) -> c)
    (
      names.flatMap { case (n, _) => LayerName.findFirstMatchIn(n).map(_.group(1).toLong) }.toSet,
      names.flatMap { case (n, c) => AsideName.findFirstMatchIn(n).map(_.group(1).toLong -> c) }
    )
  }

  /** The aside copies whose `layer=N` is absent, one per layer: the
    * committed copy of a layer whose publish stopped (or is, live)
    * between [[writeLayer]]'s two renames.
    */
  private def hiddenLayers(member: String): Seq[(Long, String)] = {
    val (present, asides) = layersAndAsides(member)
    asides.filterNot(a => present(a._1)).sortBy(_._2).distinctBy(_._1)
  }

  /** Crash repair — every consumer calls it, the standard swapped-store
    * posture: pointer validation, then the stale half of the
    * [[writeLayer]] crash window — an aside copy whose `layer=N` is
    * present (the publish landed, only the delete was lost) is deleted.
    * Repair never moves a layer back: an aside copy whose `layer=N` is
    * absent may belong to a live writer between its two renames, so
    * readers read it in place ([[readMember]]) and only the next write
    * of that layer (the redelivered batch) moves it back. One listing per
    * member; no Spark job.
    */
  def repairHeadCache(storeDir: String): Unit =
    Dirs.foreach { sub =>
      graft.util.DirSwap.repair(storeDir, sub)
      val (present, asides) = layersAndAsides(live(storeDir, sub))
      asides.filter(a => present(a._1)).foreach(a => graft.util.Blob.deleteTree(a._2))
    }

  /** Crash-safe per-layer write: the frame is FULLY written to a hidden
    * staging directory (Spark's file index skips dot-prefixed entries),
    * then published without ever destroying the committed copy first:
    * the current `layer=N` (a redelivered batch's earlier write) is
    * renamed aside, staging is moved into place, and only then is the
    * aside copy deleted. A failed move puts the aside copy back, so a
    * failed publish leaves the prior layer readable; readers read an
    * aside copy in place while `layer=N` is absent, and a crash between
    * the renames is undone by the next write of the layer. A crash mid-WRITE
    * leaves the committed layer untouched; orphaned staging dirs are
    * invisible to readers and ignored thereafter. `publish` is the
    * staging → target move (a seam for the failed-publish spec).
    */
  private[graft] def writeLayer(
      df: DataFrame,
      memberDir: String,
      layer: Long,
      publish: (String, String) => Boolean = graft.util.Blob.move
  ): Unit = {
    // Blob-backed (URI-aware): the store root can be a plain path or a
    // hadoop-file-uri root (the UriStoreSpec deployments)
    val run = java.util.UUID.randomUUID()
    val staging = graft.util.Loc.join(memberDir, s".layer-$layer-staging-$run")
    df.write.mode("overwrite").parquet(staging)
    val target = graft.util.Loc.join(memberDir, s"layer=$layer")
    // an earlier publish of this layer stopped between its two renames:
    // its committed copy goes back first, so a failed publish below
    // still leaves it readable
    hiddenLayers(memberDir).find(_._1 == layer).foreach(h => graft.util.Blob.move(h._2, target))
    val aside = graft.util.Loc.join(memberDir, s".layer-$layer-old-$run")
    val hadOld = graft.util.Blob.exists(target) && graft.util.Blob.move(target, aside)
    def restore(): Unit = if (hadOld) { graft.util.Blob.move(aside, target); () }
    val published =
      try publish(staging, target)
      catch { case e: Throwable => restore(); throw e }
    if (!published) {
      restore()
      throw new IllegalStateException(
        s"head-cache layer publish failed: $staging -> $target")
    }
    if (hadOld) graft.util.Blob.deleteTree(aside)
  }

  /** The per-(journal, batch) partial fold of `actions` (an action-log
    * frame): one row per journal touched, carrying the packed
    * [[HeadInfo]], the chunk's offset extent, and the purge flag. The
    * fold sorts the journal's BATCH rows by offset in-memory — bounded by
    * the journal's share of one micro-batch.
    */
  private[graft] def partialFolds(
      spark: SparkSession,
      actions: DataFrame
  ): DataFrame = {
    import spark.implicits._
    actions
      .select(
        col("topic"),
        col("part_no"),
        col("koffset"),
        col("id"),
        col("action"),
        coalesce(col("seq_nr"), lit(0L)).as("seqNr"),
        coalesce(col("delete_to"), lit(0L)).as("deleteTo")
      )
      .as[ActionRow]
      .groupByKey(a => (a.topic, a.id))
      .mapGroups { (key: (String, String), rows: Iterator[ActionRow]) =>
        val sorted = rows.toArray.sortBy(_.koffset)
        val (kind, aOff, aSeq, aDel) =
          HeadInfo.pack(sorted.foldLeft(HeadInfo.Empty: HeadInfo)(HeadInfo.step))
        (
          key._1,
          key._2,
          sorted.head.part_no,
          sorted.head.koffset,
          sorted.last.koffset,
          sorted.exists(_.action == "purge"),
          kind,
          aOff,
          aSeq,
          aDel
        )
      }
      .toDF(
        "topic",
        "id",
        "part_no",
        "min_koffset",
        "max_koffset",
        "saw_purge",
        "kind",
        "a_offset",
        "a_seq_nr",
        "a_delete_to"
      )
  }

  /** Appends one micro-batch of actions to the head store under `layer`
    * (> 0; layer 0 is the compaction base). `watermark` is the
    * per-partition replicated-offset table (topic, part_no, wm) at batch
    * time — actions at or below it are already in the eventual store and
    * are NOT folded (the F7 skip); partitions absent from it are treated
    * as wholly unreplicated. Distinct ingests need distinct layers; a
    * REDELIVERED (batch, layer) rewrites its own layer.
    */
  def appendBatch(
      spark: SparkSession,
      actions: DataFrame,
      storeDir: String,
      watermark: DataFrame,
      layer: Long
  ): Unit = {
    require(layer > 0L, "append layers must be > 0; layer 0 is the base")
    repairHeadCache(storeDir)
    val wmB = broadcast(watermark.select("topic", "part_no", "wm"))
    // Each layer writes to ITS OWN directory (`<member>/layer=N` — the
    // identical on-disk layout a partitionBy("layer") write produces, and
    // the readers' schema'd partition discovery is unchanged), NOT via
    // dynamic partition overwrite of the shared member root: concurrent
    // layer appends (j1b/j1c/t6b chunk ingests run under Par) must never
    // share a commit-protocol staging directory — two jobs committing
    // into one root can race each other's `_temporary`/staging cleanup
    // and fail spuriously. A REDELIVERED (batch, layer) still rewrites
    // exactly its own layer: the overwrite is scoped to the layer dir.
    // watermark progress + partition extent: both MAX-merged on read, so
    // the layer rows are pure facts (no additivity to protect). The
    // watermark side drives the union — an EMPTY batch still advances the
    // stored watermark (eviction must progress while a partition idles,
    // the reference's remove-on-replicate)
    val wmRows = watermark
      .select("topic", "part_no", "wm")
      .join(
        actions
          .groupBy("topic", "part_no")
          .agg((max("koffset") + 1L).as("end_offset")),
        Seq("topic", "part_no"),
        "full_outer"
      )
      .select(
        col("topic"),
        col("part_no"),
        coalesce(col("wm"), lit(-1L)).as("wm"),
        coalesce(col("end_offset"), lit(0L)).as("end_offset")
      )
    writeLayer(wmRows, live(storeDir, "wm"), layer)
    val tail = actions
      .join(wmB, Seq("topic", "part_no"), "left")
      .filter(col("wm").isNull || col("koffset") > col("wm"))
      .drop("wm")
    writeLayer(partialFolds(spark, tail), live(storeDir, "entries"), layer)
  }

  /** The cache's own replicated-offset table
    * (topic, part_no, wm, end_offset) — `wm` is the boundary
    * [[graft.journal.Replay.mergedReadAtWatermark]] positions the
    * eventual/tail split at (skip-on-absence is sound against exactly
    * the watermark the cache evicted at), and `end_offset` is how far
    * the cache has CONSUMED the partition — the staleness bound the
    * gated read enforces (journals with log rows at or past it un-gate:
    * the cache knows nothing about those appends).
    */
  def watermark(spark: SparkSession, storeDir: String): DataFrame = {
    repairHeadCache(storeDir)
    wmView(spark, storeDir)
      .select("topic", "part_no", "wm", "end_offset")
  }

  /** The raw entry and watermark rows — for `key`, its entry rows and
    * its topic's watermark rows, each scan carrying the key predicate —
    * the head-cache inputs of the replay fold ([[graft.journal.CachedReplay]]).
    */
  private[graft] def layers(
      spark: SparkSession,
      storeDir: String,
      key: Option[(String, String)]
  ): (DataFrame, DataFrame) = {
    repairHeadCache(storeDir)
    val (entries, wm) = (readEntries(spark, storeDir), readWm(spark, storeDir))
    key.fold((entries, wm)) { case (topic, id) =>
      (entries.filter(col("topic") === topic && col("id") === id), wm.filter(col("topic") === topic))
    }
  }

  /** The merged per-partition (watermark, end offset) view. */
  private def wmView(spark: SparkSession, storeDir: String): DataFrame =
    readWm(spark, storeDir)
      .groupBy("topic", "part_no")
      .agg(max("wm").as("wm"), max("end_offset").as("end_offset"))

  /** (sawPurge, state) is itself a Semigroup — the purge-replace
    * discipline of [[HeadInfo.perJournalSalted]] made associative, so
    * read-merge and compaction-merge compose in any grouping.
    */
  private[graft] def combinePurged(
      a: (Boolean, HeadInfo),
      b: (Boolean, HeadInfo)
  ): (Boolean, HeadInfo) =
    (a._1 || b._1, if (b._1) b._2 else HeadInfo.combine(a._2, b._2))

  /** Merges one journal's surviving entry rows (offset-ordered tuples of
    * the persisted shape) into a single entry-shaped tuple.
    */
  private def mergeEntries(
      key: (String, String),
      parts: Iterator[
        (String, String, Int, Long, Long, Boolean, String, Long, Long, Long)
      ]
  ): (String, String, Int, Long, Long, Boolean, String, Long, Long, Long) = {
    val ordered = parts.toArray.sortBy(_._4) // by min_koffset
    val merged = ordered
      .map(e => (e._6, HeadInfo.unpack((e._7, e._8, e._9, e._10))))
      .reduceLeft(combinePurged)
    val (kind, aOff, aSeq, aDel) = HeadInfo.pack(merged._2)
    (
      key._1,
      key._2,
      ordered.head._3,
      ordered.head._4,
      ordered.last._5,
      merged._1,
      kind,
      aOff,
      aSeq,
      aDel
    )
  }

  /** The maintained head table: per live journal, the merged
    * [[HeadInfo]] plus its partition's replication state — everything a
    * reader needs for the tail decision, FROM THE CACHE (no log re-fold):
    *
    *   - `kind` / `head_offset` / `head_seq_nr` / `head_delete_to` — the
    *     A1 fold of the journal's unreplicated tail;
    *   - `lag` — the partition's unreplicated depth;
    *   - `tail_skippable` — true when the tail holds no user actions for
    *     this journal (only marks), the reader's skip decision.
    *
    * Entries wholly at or below the watermark are evicted here (and
    * physically at compaction); a journal with no surviving entries is
    * absent — its tail is fully replicated, the store alone serves it.
    */
  def readHeads(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    repairHeadCache(storeDir)
    val wm = wmView(spark, storeDir)
    val entries = readEntries(spark, storeDir)
      .join(broadcast(wm), Seq("topic", "part_no"), "left")
      .filter(col("wm").isNull || col("max_koffset") > col("wm"))
    entries
      .select(
        col("topic"),
        col("id"),
        col("part_no"),
        col("min_koffset"),
        col("max_koffset"),
        col("saw_purge"),
        col("kind"),
        col("a_offset"),
        col("a_seq_nr"),
        col("a_delete_to")
      )
      .as[(String, String, Int, Long, Long, Boolean, String, Long, Long, Long)]
      .groupByKey(e => (e._1, e._2))
      .mapGroups(mergeEntries _)
      .toDF(
        "topic",
        "id",
        "part_no",
        "min_koffset",
        "max_koffset",
        "saw_purge",
        "kind",
        "a_offset",
        "a_seq_nr",
        "a_delete_to"
      )
      .select(
        col("topic"),
        col("id"),
        col("part_no"),
        when(col("kind") === "e", "empty")
          .when(col("kind") === "p", "purge")
          .when(col("kind") === "d", "delete")
          .otherwise("append")
          .as("kind"),
        when(col("kind") === "a", col("a_offset")).as("head_offset"),
        when(col("kind") === "a", col("a_seq_nr")).as("head_seq_nr"),
        when(
          col("a_delete_to") >= 0 && col("kind").isin("a", "d"),
          col("a_delete_to")
        ).as("head_delete_to"),
        col("max_koffset")
      )
      .join(broadcast(wm), Seq("topic", "part_no"), "left")
      .select(
        col("topic"),
        col("id"),
        col("part_no"),
        col("kind"),
        col("head_offset"),
        col("head_seq_nr"),
        col("head_delete_to"),
        (col("end_offset") - col("wm") - 1L).as("lag"),
        (col("kind") === "empty").as("tail_skippable")
      )
  }

  /** Folds the accreted entry layers: evicts fully-replicated entries,
    * merges each journal's remaining partials into ONE entry row in the
    * base layer, and collapses the wm layers to one row per partition —
    * each behind a [[graft.util.DirSwap]] swap, reads row-identical
    * before/after. `protectLayersAbove` keeps possibly-redeliverable
    * layers verbatim (the streaming loop protects the just-written one).
    */
  def compactHeadCache(
      spark: SparkSession,
      storeDir: String,
      protectLayersAbove: Long = Long.MaxValue
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    storeDir
  ) {
    import spark.implicits._
    repairHeadCache(storeDir)
    val root = storeDir
    val wm = wmView(spark, storeDir)
    graft.util.DirSwap.swap(root, "entries") { tmp =>
      val all = readEntries(spark, storeDir)
      val protectedRows = all.filter(col("layer") > lit(protectLayersAbove))
      val folded = all
        .filter(col("layer") <= lit(protectLayersAbove))
        .join(broadcast(wm), Seq("topic", "part_no"), "left")
        .filter(col("wm").isNull || col("max_koffset") > col("wm")) // evict
        .select(
          col("topic"),
          col("id"),
          col("part_no"),
          col("min_koffset"),
          col("max_koffset"),
          col("saw_purge"),
          col("kind"),
          col("a_offset"),
          col("a_seq_nr"),
          col("a_delete_to")
        )
        .as[(String, String, Int, Long, Long, Boolean, String, Long, Long, Long)]
        .groupByKey(e => (e._1, e._2))
        .mapGroups(mergeEntries _)
        .toDF(
          "topic",
          "id",
          "part_no",
          "min_koffset",
          "max_koffset",
          "saw_purge",
          "kind",
          "a_offset",
          "a_seq_nr",
          "a_delete_to"
        )
        .withColumn("layer", lit(0L))
      folded
        .unionByName(protectedRows)
        .write
        .partitionBy("layer")
        .parquet(tmp.toString)
    }
    graft.util.DirSwap.swap(root, "wm") { tmp =>
      val all = readWm(spark, storeDir)
      val protectedRows = all.filter(col("layer") > lit(protectLayersAbove))
      all
        .filter(col("layer") <= lit(protectLayersAbove))
        .groupBy("topic", "part_no")
        .agg(max("wm").as("wm"), max("end_offset").as("end_offset"))
        .withColumn("layer", lit(0L))
        .unionByName(protectedRows)
        .write
        .partitionBy("layer")
        .parquet(tmp.toString)
    }
  }

  /** Continuous maintenance: each micro-batch of arriving ACTIONS is
    * folded and appended under its batch-id layer; `watermarkOf` snapshots
    * the replicated-offset table at batch time. This is the standalone
    * loop for one store; [[Deployment.tick]] calls [[appendBatch]] from
    * the one stream it shares with the snapshots and the replicator.
    * Every `compactEvery` batches the entry layers fold with the
    * just-written layer protected (it may still be redelivered; its
    * predecessor is committed by then). The reference's flow, verbatim:
    * consume headers, fold, merge with the cached head, evict below the
    * replicated offset (HeadCache.scala:19-186).
    */
  def headStream(
      actions: DataFrame,
      storeDir: String,
      checkpointDir: String,
      watermarkOf: SparkSession => DataFrame,
      compactEvery: Int = 0
  ): StreamingQuery =
    actions.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val layer = batchId + 1L
        appendBatch(spark, batch, storeDir, watermarkOf(spark), layer)
        if (compactEvery > 0 && layer % compactEvery == 0)
          compactHeadCache(spark, storeDir, protectLayersAbove = layer - 1L)
      }
      .start()

  /** Folds `actions` into a fresh head cache in `nChunks` offset-ordered
    * layers at the default watermark, then runs `read` over the cache
    * directory, materialized before the cache is deleted. Each chunk
    * folds independently into its OWN layer (appends never read or
    * rewrite each other's layers), so the ingests run concurrently
    * (guide §2.6) and the cache is bit-identical to the sequential
    * arrival, layer by layer. With `compactAfter = Some(m)` the chunks
    * run in two groups around one compaction that folds layers 1..m+1,
    * bit-identical to a mid-stream compaction of the sequential arrival.
    * `None` for an EMPTY log: zero chunks have no layers to append.
    */
  private def throughChunkedCache(
      spark: SparkSession,
      actions: DataFrame,
      nChunks: Int,
      name: String,
      compactAfter: Option[Int] = None
  )(read: String => DataFrame): Option[DataFrame] =
    Option(actions.agg(max("koffset")).head().getAs[java.lang.Long](0)).map { maxOff =>
      val wm = graft.journal.JournalOps.defaultWatermark(actions)
      val step = maxOff / nChunks + 1
      graft.pipeline.Eager.withTempStore(s"graft-$name-head") { tmp =>
        def append(chunks: Range): Unit =
          graft.util.Par.run(chunks.map { i => () =>
            val chunk = actions.filter(
              col("koffset") >= i * step && col("koffset") < (i + 1) * step
            )
            appendBatch(spark, chunk, tmp, wm, layer = i + 1L)
          }: _*)
        compactAfter match {
          case None => append(0 until nChunks)
          case Some(mid) =>
            append(0 to mid)
            compactHeadCache(spark, tmp, protectLayersAbove = mid + 1L)
            append((mid + 1) until nChunks)
        }
        read(tmp)
      }
    }

  /** J1b — the HEAD-CACHE-GATED replay as one oracle-replayable lifecycle
    * query: maintain the cache over the chunked log (the t6b flow), then
    * read every journal through it (api.Journal.readCached with no key
    * predicate): one replay fold over the log and the cache's entry rows,
    * the tail read only where the cached head is an append or the cache
    * has not seen a row, at the cache's own stored watermark.
    * Row-identical to the ungated J1 (HeadCacheSpec law), so it carries
    * J1's oracle.
    */
  def gatedReplayQuery(
      spark: SparkSession,
      actions: DataFrame,
      nChunks: Int = 4
  ): DataFrame =
    throughChunkedCache(spark, actions, nChunks, "j1b") { tmp =>
      graft.journal.CachedReplay
        .throughCache(spark, actions, tmp, snapshots = None)
        .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
    }.getOrElse(actions.select("topic", "id", "seq_nr", "koffset", "ts", "payload"))

  /** J1c — the reference client's FULL recovery flow as one
    * oracle-replayable lifecycle query (api.Journal.recoverCached over
    * every journal): the log arrives in `nChunks` offset-ordered batches
    * folded into the maintained head cache, then ONE fold recovers every
    * journal with BOTH accelerators — the snapshot floor (the fixture
    * snapshot table) and the cache-GATED tail at the cache's own stored
    * watermark: the semantics of [[graft.journal.Snapshots.recoveryOver]]
    * ∘ [[graft.journal.Replay.mergedReadAtWatermark]]. Row-identical to
    * the ungated [[graft.journal.Snapshots.recovery]] by composition of
    * the gated-read law (j1b) and the snapshot-floor law (s10d), so the
    * query carries s10d's oracle. An empty log recovers through
    * [[graft.journal.Snapshots.recovery]] (both legs empty).
    */
  def cachedRecoveryQuery(
      spark: SparkSession,
      actions: DataFrame,
      nChunks: Int = 4
  ): DataFrame = {
    val snapshots = graft.journal.Snapshots
      .table(actions)
      .select("topic", "id", "seq_nr", "koffset", "payload")
    throughChunkedCache(spark, actions, nChunks, "j1c") { tmp =>
      graft.journal.CachedReplay.throughCache(spark, actions, tmp, Some(snapshots))
    }.getOrElse(graft.journal.Snapshots.recovery(actions))
  }

  /** T6b — the reader's decision table THROUGH the cache, as one
    * oracle-replayable lifecycle query: the action log arrives in
    * `nChunks` offset-ordered batches, each folded and appended (never
    * re-folding history), with a mid-stream compaction; the output is
    * [[readHeads]] — per-journal head + partition staleness, the
    * replay-or-skip decision a reader takes from the CACHE. The
    * maintained table ≡ the whole-log A1 fold (HeadCacheSpec law), so the
    * query carries a headInfo ∘ staleness oracle.
    */
  def lifecycleQuery(
      spark: SparkSession,
      actions: DataFrame,
      nChunks: Int = 4
  ): DataFrame =
    // the MID-STREAM compaction is this query's point: it folds exactly
    // the layers appended so far
    throughChunkedCache(spark, actions, nChunks, "t6b", compactAfter = Some(nChunks / 2)) { tmp =>
      // head_delete_to stays cache-internal here: the typed fold CLAMPS
      // deleteTo to the seqNr seen at each step (the reference's
      // semantics, HeadInfo.scala:222-236) while the SQL-expressible
      // window form takes the unclamped max — the same exclusion the
      // typed-vs-declarative law in JournalOpsSpec makes
      readHeads(spark, tmp)
        .select(
          "topic",
          "id",
          "part_no",
          "kind",
          "head_offset",
          "head_seq_nr",
          "lag",
          "tail_skippable"
        )
        .orderBy("topic", "id")
    }.getOrElse {
      // empty log: no journals, no heads — the readHeads row shape with
      // zero rows
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(
          Seq(
            StructField("topic", StringType),
            StructField("id", StringType),
            StructField("part_no", IntegerType),
            StructField("kind", StringType),
            StructField("head_offset", LongType),
            StructField("head_seq_nr", LongType),
            StructField("lag", LongType),
            StructField("tail_skippable", BooleanType)
          )
        )
      )
    }
}
