package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.journal.{JournalOps, Replicate, Replay}

/** User-facing journal API — the Spark-native counterpart of the
  * reference's client surface (journal/.../Journal.scala:20-40:
  * append / read / pointer / delete / purge, plus EventualJournal's
  * ids / topics / offsets).
  *
  * The reference's `Journal` is a per-entity handle over Kafka+Cassandra;
  * here the handle is over (log DataFrame, materialized Store). Writes are
  * log appends (the caller's sink decides Kafka vs files); reads are
  * merged two-source queries bounded exactly like the reference's
  * marker/head-info branch.
  *
  * All methods return lazy DataFrames — composition stays inside one
  * Catalyst plan, so e.g. `journal.read(id).filter(...)` pushes the filter
  * into the store scan.
  */
final class Journal(
    val spark: SparkSession,
    log: DataFrame,
    replicated: => Replicate.Store
) {

  // only [[offsets]] reads the replicated store: build (and analyse) it
  // on first use, not per handle
  private lazy val store = replicated

  private def keyed(df: DataFrame, topic: String, id: String): DataFrame =
    df.filter(col("topic") === topic && col("id") === id)

  /** Events of one journal from `fromSeqNr`, replay order — the recovery
    * query (reference Journals.scala:194-301): merged store prefix + log
    * tail with dedup and delete/purge semantics, as
    * [[graft.journal.Replay.mergedRead]] over the key-filtered log (its
    * fractions positioned over this journal's offsets): one driver
    * collect of the bounds, then one keyed fold.
    *
    * `strict` enables the F5 seqNr-uniqueness check on the replicated
    * prefix (reference `seqNrUniqueness` config, Journal.scala:458-480):
    * a store row surviving the merge with a duplicated seq_nr raises the
    * reference's "Data integrity violated" error instead of being
    * silently dropped.
    */
  def read(
      topic: String,
      id: String,
      fromSeqNr: Long = 1L,
      strict: Boolean = false
  ): DataFrame =
    Replay
      .mergedRead(
        keyed(log, topic, id),
        strictUniqueness = strict
      )
      .filter(col("seq_nr") >= fromSeqNr)

  /** Typed replay — `Dataset[EventRecord]`, the reference's
    * `Stream[F, EventRecord[A]]` as a typed Dataset (EventRecord.scala:13-30):
    * the full envelope (tags / origin / version / metadata) plus the typed
    * dual-column payload (PayloadType.scala:10-87 — Json/Text in
    * `payload_txt`, Binary in `payload_bin`, both empty = payload-less).
    * Absent envelope columns (a bare log) surface as None/empty.
    */
  def readTyped(topic: String, id: String, fromSeqNr: Long = 1L): org.apache.spark.sql.Dataset[EventRecord] = {
    implicit val enc: org.apache.spark.sql.Encoder[EventRecord] =
      org.apache.spark.sql.Encoders.product[EventRecord]
    val r = read(topic, id, fromSeqNr)
    def opt(name: String, typ: String) =
      if (r.columns.contains(name)) col(name)
      else lit(null).cast(typ).as(name)
    r.select(
        col("topic"), col("id"), col("seq_nr"), col("koffset"),
        col("ts"), col("payload"),
        opt("payload_type", "string").as("payload_type"),
        opt("payload_txt", "string").as("payload_txt"),
        opt("payload_bin", "binary").as("payload_bin"),
        // '' encodes "no tags" in the IR — filter the phantom empty
        // element so tag-less events get an empty Seq, not Seq("")
        filter(
          coalesce(split(opt("tags_csv", "string"), ","), array()),
          t => t =!= ""
        ).as("tags"),
        opt("origin", "string").as("origin"),
        opt("version", "string").as("version"),
        opt("metadata", "string").as("metadata")
      )
      .as[EventRecord]
  }

  /** [[read]] THROUGH the maintained head cache — the reference client's
    * actual read flow (Journals.scala:141-175: every read first consults
    * the HeadCache and skips the Kafka tail when the cached head proves it
    * holds nothing to replay). The semantics of
    * [[graft.journal.Replay.mergedReadAtWatermark]] over the key's log,
    * cached head and the cache's stored watermark, and row-identical to
    * [[read]] (the gated-read law, re-proved at this surface in
    * JournalOpsSpec).
    *
    * It runs the replay fold ([[graft.journal.CachedReplay.read]]) with
    * every input read under the key predicate: the log, the journal's
    * head-cache entries and its topic's watermark rows are unioned,
    * grouped once on (topic, id) and folded in Scala — no driver
    * collect, one exchange, no global sort.
    *
    * The eventual/tail boundary of each log row is the cache's stored
    * watermark for that row's partition — the mark the cache evicted at
    * — so a journal ABSENT from the cache (fully replicated) is served
    * completely by the eventual leg. The tail of appends above it is read
    * only when the gate opens:
    *   - the cached head is an `append`;
    *   - or the journal has a row in a partition the cache never covered
    *     (no stored end offset: absence from the cache is only evidence
    *     where the cache has coverage);
    *   - or the journal has a row at or past its partition's stored
    *     `end_offset` — the cache is STALE (appends after the last
    *     drain), so its silence is not trusted.
    * A reader of a stale cache therefore pays the tail on exactly the
    * stale journals and stays row-identical to [[read]].
    */
  def readCached(
      topic: String,
      id: String,
      cacheDir: String,
      fromSeqNr: Long = 1L,
      strict: Boolean = false
  ): DataFrame =
    graft.journal.CachedReplay
      .read(spark, keyed(log, topic, id), cacheDir, topic, id, strict)
      .filter(col("seq_nr") >= fromSeqNr)

  /** [[pointer]] with the head-cache fast path — the reference's pointer
    * flow verbatim (Journals.scala:303-323): an `append` head answers from
    * the CACHE ALONE (its head_seq_nr is the journal's last appended
    * seq_nr — no log or store scan runs at all); a `purge` head answers
    * "no pointer" likewise for free; an `empty`/`delete` head — or a
    * journal absent from the cache (fully replicated) — falls back to the
    * eventual [[pointer]] query. The head comes from one collect of the
    * journal's key-filtered entry rows and its topic's watermark rows,
    * merged on the driver exactly as [[readCached]]'s fold merges them;
    * the cache answers are local relations (no further job).
    */
  def pointerCached(topic: String, id: String, cacheDir: String): DataFrame = {
    import graft.journal.{CachedReplay, HeadInfo}
    def answer(seqNrs: Long*): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(seqNrs.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType.fromDDL("seq_nr BIGINT")
      )
    CachedReplay.headOf(CachedReplay.cacheRows(spark, cacheDir, topic, id).collect().toSeq) match {
      case Some(HeadInfo.Append(_, seqNr, _)) => answer(seqNr)
      case Some(HeadInfo.Purge)               => answer() // no pointer
      case _ => pointer(topic, id) // empty/delete head, or fully replicated
    }
  }

  /** Snapshot-accelerated recovery of one journal — the reference's actual
    * recovery flow (SnapshotStore.scala:26-34 + Journals.read): the latest
    * snapshot plus only the events after its seq_nr, `src`-tagged rows in
    * fold order ([[graft.journal.Snapshots.recovery]] over the
    * key-filtered log: the fixture snapshots join the replay fold's
    * union). A journal with no snapshot replays in full — recover ≡ read
    * for it; with one, recover's event leg is exactly read's suffix above
    * the snapshot (the api-spec law).
    */
  def recover(topic: String, id: String): DataFrame =
    graft.journal.Snapshots.recovery(
      keyed(log, topic, id)
    )

  /** [[recover]] through an EXPLICIT snapshot table — the read path of
    * the MAINTAINED snapshot store
    * ([[graft.streaming.StreamingSnapshots.storedSnapshots]] output, or
    * any (topic, id, seq_nr, koffset, payload) frame): the latest stored
    * snapshot plus only the events after it. With the maintenance loop
    * keeping per-journal debt below its threshold
    * (SnapshotMaintenanceSpec), this read's replay suffix is bounded by
    * that threshold — the reference's recovery-cost contract made
    * operational. One replay fold over the key-filtered log and snapshots
    * ([[graft.journal.Snapshots.recoveryWith]]).
    */
  def recoverThrough(
      snapshots: DataFrame,
      topic: String,
      id: String
  ): DataFrame =
    graft.journal.Snapshots.recoveryWith(
      keyed(log, topic, id),
      keyed(snapshots, topic, id)
        .select("topic", "id", "seq_nr", "koffset", "payload")
    )

  /** The reference client's FULL recovery flow — BOTH accelerators at
    * once (Journals.scala:141-175 feeding the recovery flow: the
    * SnapshotStore supplies the fold floor AND the HeadCache gates the
    * Kafka tail): the latest snapshot plus only the events after it, with
    * the event leg read THROUGH the maintained head cache ([[readCached]]'s
    * gate and staleness contract, verbatim). The semantics of
    * [[graft.journal.Snapshots.recoveryOver]] of the gated read and the
    * key's snapshots, row-identical to [[recoverThrough]], including the
    * evicted-journal and stale-cache paths (CachedReplaySpec checks it
    * against the join/window composition the fold replaced).
    *
    * One keyed fold ([[graft.journal.CachedReplay.recover]]): the log,
    * the head-cache rows and the key-filtered `snapshots` frame
    * (e.g. [[graft.streaming.StreamingSnapshots.storedSnapshots]], which
    * lets the key predicate reach its scans) are unioned and grouped once
    * on (topic, id); the `src`-tagged rows come out in seq_nr order.
    */
  def recoverCached(
      topic: String,
      id: String,
      snapshots: DataFrame,
      cacheDir: String
  ): DataFrame =
    graft.journal.CachedReplay.recover(
      spark,
      keyed(log, topic, id),
      keyed(snapshots, topic, id),
      cacheDir,
      topic,
      id
    )

  /** Highest appended seqNr of one journal (None ⇒ empty row set). */
  def pointer(topic: String, id: String): DataFrame =
    JournalOps
      .pointer(keyed(log, topic, id))
      .select("seq_nr")

  /** Append actions for a key onto the caller-provided log sink: stamps
    * topic/partition/id columns the way the producer does (key = id,
    * partition by id hash — reference ActionToProducerRecord).
    */
  def append(
      topic: String,
      id: String,
      events: DataFrame, // (seq_nr LONG, ts TIMESTAMP, payload DOUBLE
      //                    [, payload_type/payload_txt/payload_bin/tags_csv
      //                       /metadata — typed envelope, optional])
      numPartitions: Int = 8
  ): DataFrame = {
    def opt(name: String, typ: String): org.apache.spark.sql.Column =
      if (events.columns.contains(name)) col(name)
      else lit(null).cast(typ).as(name)
    events.select(
      lit(topic).as("topic"),
      (abs(hash(lit(id))) % numPartitions).cast("int").as("part_no"),
      lit(null).cast("long").as("koffset"), // assigned by the sink/broker
      lit(id).as("id"),
      lit("append").as("action"),
      col("ts"),
      col("seq_nr"),
      lit(null).cast("long").as("delete_to"),
      col("payload"),
      opt("payload_type", "string").as("payload_type"),
      opt("payload_txt", "string").as("payload_txt"),
      opt("payload_bin", "binary").as("payload_bin"),
      opt("tags_csv", "string").as("tags_csv"),
      lit("graft-client").as("origin"),
      lit("1.0.0").as("version"),
      opt("metadata", "string").as("metadata"),
      lit(0L).as("event_id"),
      lit("{}").as("props")
    )
  }

  /** delete(to) clamped to the current pointer — reference
    * Journals.scala:326-332. Returns the action row to produce.
    */
  def delete(topic: String, id: String, to: Long): DataFrame = {
    val ptr = JournalOps
      .pointer(keyed(log, topic, id))
      .select(col("seq_nr").as("ptr"))
    ptr.select(
      lit(topic).as("topic"),
      lit(id).as("id"),
      lit("delete").as("action"),
      least(lit(to), col("ptr")).as("delete_to")
    )
  }

  /** Purge action row for a key — drops the whole journal (reference
    * Journal.scala:20-40 puts `purge` at the same level as `delete`;
    * Journals.scala:334-338 produces it unconditionally — purging an
    * absent journal is an idempotent no-op at the replicator). Emits a
    * FULL log-schema row (same column set as [[append]]) so the result
    * unions straight onto the caller's log; `koffset` is null until the
    * sink/broker assigns it, `ts` defaults to wall clock like the
    * reference's producer stamp (Produce.scala:81-110).
    */
  def purge(
      topic: String,
      id: String,
      ts: Option[java.sql.Timestamp] = None,
      numPartitions: Int = 8
  ): DataFrame =
    spark.range(1).select(
      lit(topic).as("topic"),
      (abs(hash(lit(id))) % numPartitions).cast("int").as("part_no"),
      lit(null).cast("long").as("koffset"),
      lit(id).as("id"),
      lit("purge").as("action"),
      ts.map(lit(_)).getOrElse(current_timestamp()).as("ts"),
      lit(null).cast("long").as("seq_nr"),
      lit(null).cast("long").as("delete_to"),
      lit(null).cast("double").as("payload"),
      lit(null).cast("string").as("payload_type"),
      lit(null).cast("string").as("payload_txt"),
      lit(null).cast("binary").as("payload_bin"),
      lit(null).cast("string").as("tags_csv"),
      lit("graft-client").as("origin"),
      lit("1.0.0").as("version"),
      lit(null).cast("string").as("metadata"),
      lit(0L).as("event_id"),
      lit("{}").as("props")
    )

  /** Marker action row — the read-barrier protocol (reference
    * `Journal.scala:60` `mark(id)`): a mark is invisible to replay (every
    * read filters non-user actions) but advances the journal's offset
    * bound, letting a reader prove it has consumed the log up to the
    * marker (F2 stream-bound termination, T6 staleness checks).
    */
  def mark(
      topic: String,
      id: String,
      ts: Option[java.sql.Timestamp] = None,
      numPartitions: Int = 8
  ): DataFrame =
    spark.range(1).select(
      lit(topic).as("topic"),
      (abs(hash(lit(id))) % numPartitions).cast("int").as("part_no"),
      lit(null).cast("long").as("koffset"),
      lit(id).as("id"),
      lit("mark").as("action"),
      ts.map(lit(_)).getOrElse(current_timestamp()).as("ts"),
      lit(null).cast("long").as("seq_nr"),
      lit(null).cast("long").as("delete_to"),
      lit(null).cast("double").as("payload"),
      lit(null).cast("string").as("payload_type"),
      lit(null).cast("string").as("payload_txt"),
      lit(null).cast("binary").as("payload_bin"),
      lit(null).cast("string").as("tags_csv"),
      lit("graft-client").as("origin"),
      lit("1.0.0").as("version"),
      lit(null).cast("string").as("metadata"),
      lit(0L).as("event_id"),
      lit("{}").as("props")
    )

  def ids(topic: String): DataFrame =
    JournalOps.ids(log.filter(col("topic") === topic)).select("id")

  def topics: DataFrame = JournalOps.topics(log)

  /** Replicated offsets per partition (reference
    * EventualJournal.offset / pointer2). */
  def offsets(topic: String): DataFrame =
    store.pointer2.filter(col("topic") === topic)
}

/** Typed event row (reference EventRecord.scala:13-30 projection): the
  * event + its envelope (tags, origin, version, metadata) and the typed
  * dual-column payload (EventualPayloadAndType.scala:25-28).
  */
final case class EventRecord(
    topic: String,
    id: String,
    seq_nr: Long,
    koffset: Long,
    ts: java.sql.Timestamp,
    payload: Option[Double],
    payload_type: Option[String],
    payload_txt: Option[String],
    payload_bin: Option[Array[Byte]],
    tags: Seq[String],
    origin: Option[String],
    version: Option[String],
    metadata: Option[String]
)

object Journal {
  /** Handle over a raw action log: materializes the store lazily. */
  def apply(spark: SparkSession, log: DataFrame): Journal =
    new Journal(spark, log, Replicate.compute(log))
}
