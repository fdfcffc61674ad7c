package graft.journal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Materializer: actions → eventual store (journal / metajournal / pointer2
  * parquet tables) — the batch analogue of the reference's replicator sink
  * (replicator/.../TopicReplicator.scala, eventual-cassandra/.../
  * ReplicatedCassandra.scala:57-470).
  *
  * Layout: `journal` is partitioned by topic (at 100 TB: additionally
  * bucketed by id so replay reads prune to one bucket and the per-key sort
  * is within-partition); `metajournal`/`pointer2` are small head tables.
  *
  * Idempotence contract (T2): callers merge with `offset > stored offset`
  * guards — see [[graft.streaming.StreamingReplicator]]. On plain parquet
  * the merge is read-modify-write + atomic directory swap; on a real
  * deployment the same plan lands on Delta/Iceberg `MERGE INTO`.
  */
object Replicate {

  final case class Store(
      journal: DataFrame,
      metajournal: DataFrame,
      pointer2: DataFrame
  )

  /** Physical bucketing of the journal store: `abs(javaHash(lower(id)))
    * % n` — the reference's metajournal segmentation function
    * (SegmentNr.scala:146-150) reused as the partition key, so one
    * journal's rows always land in one (topic, bucket) partition and a
    * batch touches only the partitions of the journals it contains.
    */
  val DefaultBuckets = 64

  def bucketOf(id: org.apache.spark.sql.Column, n: Int = DefaultBuckets): org.apache.spark.sql.Column =
    abs(graft.functions.JavaStringHash.javaHash(lower(id)).cast("long") % n)
      .cast("int")

  /** The replicated store's tables as [[graft.streaming.StreamingReplicator]]
    * writes them, in the column order a schema-inferring read yields
    * (partition columns last): a read that declares them pays no
    * schema-inference job. `journal` and `metajournal` are partitioned by
    * `(topic, bucket)`; `pointer2` is one row per Kafka partition.
    */
  object Layout {
    import org.apache.spark.sql.types.StructType
    val journal: StructType = StructType.fromDDL(
      "part_no INT, id STRING, seq_nr BIGINT, koffset BIGINT, ts TIMESTAMP, " +
        "payload DOUBLE, payload_type STRING, payload_txt STRING, " +
        "payload_bin BINARY, tags ARRAY<STRING>, origin STRING, " +
        "version STRING, metadata STRING, meta_record_id STRING, " +
        "topic STRING, bucket INT")
    val metajournal: StructType = StructType.fromDDL(
      "id STRING, part_no INT, koffset BIGINT, seq_nr BIGINT, " +
        "delete_to BIGINT, created TIMESTAMP, created_date DATE, " +
        "updated TIMESTAMP, first_koffset BIGINT, record_id STRING, " +
        "origin STRING, last_append_koffset BIGINT, properties STRING, " +
        "expire_after_days INT, expire_on DATE, topic STRING, bucket INT")
    val pointer2: StructType = StructType.fromDDL(
      "topic STRING, part_no INT, next_offset BIGINT, records BIGINT")
  }

  /** The journal-table projection of surviving appends: the reference's
    * event-row schema (JournalStatements.scala:32-53) — dual-column typed
    * payload, tags as a real ARRAY (SET<TEXT>), origin/version/metadata
    * envelope columns.
    */
  private def journalRows(survivors: DataFrame): DataFrame =
    survivors.select(
      col("topic"), col("part_no"), col("id"), col("seq_nr"),
      col("koffset"), col("ts"), col("payload"),
      col("payload_type"), col("payload_txt"), col("payload_bin"),
      split(col("tags_csv"), ",").as("tags"),
      col("origin"), col("version"), col("metadata")
    )

  /** Stamps each journal row with its head's record_id at write time
    * (reference ReplicatedCassandra writes `meta_record_id` from the head
    * it maintains; EventualCassandra.scala:132-168 correlates on read to
    * drop orphans of purged-and-recreated journals). Co-keyed (topic, id)
    * join against the per-journal head table — broadcast/AQE territory at
    * any scale (one row per journal vs the event rows).
    */
  private def stamped(rows: DataFrame, metajournal: DataFrame): DataFrame =
    rows.join(
      metajournal.select(
        col("topic"), col("id"), col("record_id").as("meta_record_id")),
      Seq("topic", "id"),
      "left"
    )

  /** Pure computation of the three store tables from an action log. */
  def compute(actions: DataFrame): Store = {
    val meta = JournalOps.metajournal(actions)
    Store(
      journal = stamped(journalRows(JournalOps.survivors(actions)), meta),
      metajournal = meta,
      pointer2 = JournalOps.pointer2(actions)
    )
  }

  def write(store: Store, outDir: String): Unit = {
    store.journal.write
      .mode(SaveMode.Overwrite)
      .partitionBy("topic")
      .parquet(s"$outDir/journal")
    store.metajournal.write
      .mode(SaveMode.Overwrite)
      .parquet(s"$outDir/metajournal")
    store.pointer2.write
      .mode(SaveMode.Overwrite)
      .parquet(s"$outDir/pointer2")
  }

  def read(spark: SparkSession, dir: String): Store = Store(
    journal = spark.read.parquet(s"$dir/journal"),
    metajournal = spark.read.parquet(s"$dir/metajournal"),
    pointer2 = spark.read.parquet(s"$dir/pointer2")
  )

  /** Merge one micro-batch of actions into the existing store — the
    * per-batch body of the streaming replicator, applying the reference's
    * order (ReplicateRecords.scala:35-183 after Batch.of compaction): purge
    * cut, delete truncation, then append — idempotent under redelivery:
    *
    *   - offset guard (F7, TopicReplicator.scala:148-153): batch rows below
    *     the stored per-partition watermark (pointer2) are dropped — a
    *     redelivered micro-batch becomes a no-op
    *   - appends additionally dedup on (topic, id, seq_nr) vs kept state
    *
    * Invariant (tested): folding a log chunk-by-chunk through mergeBatch
    * equals computing the store over the whole log, provided deletes never
    * overshoot their journal's current max seq_nr — which is exactly the
    * client-side clamp the reference enforces (Journals.scala:326-332).
    *
    * Plan shape: batch folds shuffle once on (topic, id); the existing
    * journal joins per-key batch heads (one row per touched key) on the
    * same (topic, id) key — left to AQE, which broadcasts when the batch is
    * genuinely small and shuffle-joins when a backfill touches millions of
    * keys. On Delta/Iceberg this whole function is one MERGE INTO with the
    * same guards.
    */
  def mergeBatch(store: Store, batch: DataFrame): Store = {
    // F7 offset guard vs replicated watermark
    val guarded = batch
      .join(
        broadcast(
          store.pointer2.select("topic", "part_no", "next_offset")
        ),
        Seq("topic", "part_no"),
        "left"
      )
      .filter(
        col("next_offset").isNull || col("koffset") >= col("next_offset")
      )
      .drop("next_offset")

    // per-key compacted view of the batch: purge cut + effective delete
    val heads = JournalOps
      .annotate(guarded)
      .groupBy("topic", "id")
      .agg(
        max(when(col("action") === "purge", col("koffset"))).as("b_purge"),
        max(
          when(
            col("action") === "delete" && col("after_purge"),
            col("delete_to")
          )
        ).as("b_dt")
      )

    // existing journal rows survive unless purged or truncated by the batch
    val kept = store.journal
      .join(heads, Seq("topic", "id"), "left")
      .filter(
        col("b_purge").isNull &&
          col("seq_nr") > coalesce(col("b_dt"), lit(0L))
      )
      .drop("b_purge", "b_dt")

    // batch appends surviving the batch's own fold state, deduped vs kept;
    // stamped with the post-merge head's record_id (kept rows retain the
    // record_id they were written under — exactly what lets F6 spot
    // orphans of a purged-and-recreated journal)
    val newRows0 = journalRows(JournalOps.survivors(guarded))
      .join(
        kept.select(col("topic"), col("id"), col("seq_nr")),
        Seq("topic", "id", "seq_nr"),
        "left_anti"
      )

    // metajournal combine (reference ReplicatedCassandra.scala:186-260):
    // purge deletes the head row; batch meta (post-purge) re-creates it
    val bm = JournalOps.metajournal(guarded)
    val purgeKeys = heads.filter(col("b_purge").isNotNull).select("topic", "id")
    val base = store.metajournal.join(purgeKeys, Seq("topic", "id"), "left_anti")
    // combine rules mirror the reference's per-statement update semantics
    // (MetaJournalStatements.Update*):
    //   - monotone watermarks (koffset/seq_nr/delete_to/updated): max
    //   - creation-time facts (created/origin/first_koffset): the side that
    //     saw the journal first (batches arrive in offset order, so that is
    //     the existing side when both exist)
    //   - expiry + properties (UpdateExpiry/DeleteExpiry): the side holding
    //     the LATEST append rewrites them wholesale — they travel as a unit
    //     with last_append_koffset
    //   - record_id: pure function of first_koffset, recomputed over the
    //     merged value (rotates after purge, when the anti-join dropped the
    //     old row and the batch re-created the journal)
    val bWins = col("b_lak").isNotNull &&
      (col("e_lak").isNull || col("b_lak") >= col("e_lak"))
    val metajournal = base
      .select(
        col("topic"), col("id"),
        col("part_no").as("e_part"), col("koffset").as("e_koff"),
        col("seq_nr").as("e_seq"), col("delete_to").as("e_dt"),
        col("created").as("e_created"),
        col("created_date").as("e_cd"), col("updated").as("e_upd"),
        col("first_koffset").as("e_first"), col("origin").as("e_origin"),
        col("last_append_koffset").as("e_lak"),
        col("properties").as("e_props"),
        col("expire_after_days").as("e_ead"), col("expire_on").as("e_eon")
      )
      .join(
        bm.select(
          col("topic"), col("id"),
          col("part_no").as("b_part"), col("koffset").as("b_koff"),
          col("seq_nr").as("b_seq"), col("delete_to").as("b_dt2"),
          col("created").as("b_created"),
          col("created_date").as("b_cd"), col("updated").as("b_upd"),
          col("first_koffset").as("b_first"), col("origin").as("b_origin"),
          col("last_append_koffset").as("b_lak"),
          col("properties").as("b_props"),
          col("expire_after_days").as("b_ead"), col("expire_on").as("b_eon")
        ),
        Seq("topic", "id"),
        "full_outer"
      )
      .select(
        col("topic"),
        col("id"),
        coalesce(col("e_part"), col("b_part")).as("part_no"),
        greatest(col("e_koff"), col("b_koff")).as("koffset"),
        greatest(col("e_seq"), col("b_seq")).as("seq_nr"),
        greatest(col("e_dt"), col("b_dt2")).as("delete_to"),
        coalesce(col("e_created"), col("b_created")).as("created"),
        coalesce(col("e_cd"), col("b_cd")).as("created_date"),
        greatest(col("e_upd"), col("b_upd")).as("updated"),
        least(col("e_first"), col("b_first")).as("first_koffset"),
        JournalOps.recordId(col("topic"), col("id"),
          least(col("e_first"), col("b_first"))).as("record_id"),
        when(col("e_first").isNull, col("b_origin"))
          .when(col("b_first").isNull, col("e_origin"))
          .when(col("e_first") <= col("b_first"), col("e_origin"))
          .otherwise(col("b_origin")).as("origin"),
        greatest(col("e_lak"), col("b_lak")).as("last_append_koffset"),
        when(bWins, col("b_props")).otherwise(col("e_props"))
          .as("properties"),
        when(bWins, col("b_ead")).otherwise(col("e_ead"))
          .as("expire_after_days"),
        when(bWins, col("b_eon")).otherwise(col("e_eon"))
          .as("expire_on")
      )

    // pointer2: advance watermark, accumulate record count
    val bp = guarded
      .groupBy("topic", "part_no")
      .agg(
        (max("koffset") + 1L).as("b_next"),
        count(lit(1)).as("b_records")
      )
    val pointer2 = store.pointer2
      .select(
        col("topic"), col("part_no"),
        col("next_offset").as("e_next"), col("records").as("e_records")
      )
      .join(bp, Seq("topic", "part_no"), "full_outer")
      .select(
        col("topic"),
        col("part_no"),
        greatest(col("e_next"), col("b_next")).as("next_offset"),
        (coalesce(col("e_records"), lit(0L)) +
          coalesce(col("b_records"), lit(0L))).as("records")
      )

    val journal = kept.unionByName(stamped(newRows0, metajournal))

    Store(journal, metajournal, pointer2)
  }

  /** Empty store with the right schemas (for bootstrapping a stream). */
  def empty(spark: SparkSession, like: DataFrame): Store = {
    val none = like.filter(lit(false))
    compute(none)
  }
}
