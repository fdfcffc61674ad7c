package graft.journal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S10 — snapshot store semantics (reference snapshot/.../SnapshotStore
  * .scala:11-62, SnapshotSelectionCriteria.scala:12-17): save keyed by
  * (id, topic, buffer_nr), load = highest-seqNr snapshot matching a
  * criteria box, delete = drop matches.
  *
  * The snapshot fixture: every surviving append whose seq_nr % 10 == 0 is a
  * snapshot of its journal at that point (buffer_nr = seq_nr / 10).
  */
object Snapshots {

  final case class Criteria(
      maxSeqNr: Long = Long.MaxValue,
      minSeqNr: Long = 0L,
      maxTimestamp: Option[String] = None,
      minTimestamp: Option[String] = None
  )

  /** The snapshot table derived from an action log. */
  def table(actions: DataFrame): DataFrame =
    JournalOps
      .survivors(actions)
      .filter(col("seq_nr") % 10 === 0)
      .select(
        col("topic"),
        col("id"),
        (col("seq_nr") / 10).cast("int").as("buffer_nr"),
        col("seq_nr"),
        col("koffset"),
        col("ts"),
        col("payload")
      )

  private def matches(c: Criteria) = {
    val seqBox =
      col("seq_nr") <= c.maxSeqNr && col("seq_nr") >= c.minSeqNr
    val tsMax = c.maxTimestamp
      .map(t => col("ts") <= lit(t).cast("timestamp"))
      .getOrElse(lit(true))
    val tsMin = c.minTimestamp
      .map(t => col("ts") >= lit(t).cast("timestamp"))
      .getOrElse(lit(true))
    seqBox && tsMax && tsMin
  }

  /** load: per journal, the highest-seqNr snapshot inside the criteria box
    * (reference picks max-seqNr match, SnapshotStore.scala:26-34).
    */
  def load(actions: DataFrame, c: Criteria): DataFrame = {
    val pick = Window.partitionBy("topic", "id").orderBy(col("seq_nr").desc)
    table(actions)
      .filter(matches(c))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select("topic", "id", "buffer_nr", "seq_nr", "koffset", "payload")
      .orderBy("topic", "id")
  }

  /** The SAVE path: snapshots upsert into a per-journal ring buffer of
    * `bufferSize` slots keyed `(topic, id, buffer_nr)` — the n-th save of
    * a journal lands in slot `n % bufferSize`, overwriting the slot's
    * previous occupant (BufferNr wraparound; reference BufferNr.scala:
    * ring index, SnapshotStore.scala:11-62 save contract, slot column
    * `buffer_idx` per BufferNrExtension.scala). The surviving state after
    * a save sequence is therefore each journal's LAST `bufferSize`
    * snapshots, tagged with their slot.
    *
    * Declarative batch formulation of the upsert fold: slot occupancy is
    * a pure function of the save ordinal, so the final table needs no
    * iteration — one window over (topic, id).
    */
  def ringUpsert(actions: DataFrame, bufferSize: Int = 3): DataFrame = {
    val byJournal = Window.partitionBy("topic", "id")
    val w = byJournal.orderBy("seq_nr")
    JournalOps
      .survivors(actions)
      .filter(col("seq_nr") % 10 === 0)
      .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
      .withColumn("ordinal", row_number().over(w) - 1)
      .withColumn("total", count(lit(1)).over(byJournal))
      // a later save into the same slot overwrites: only the last
      // bufferSize ordinals survive the ring
      .filter(col("ordinal") >= col("total") - bufferSize)
      .withColumn("buffer_nr", (col("ordinal") % bufferSize).cast("int"))
  }

  /** S10c — full lifecycle: save every fixture snapshot through the ring
    * (wraparound), then delete-by-criteria (maxSeqNr box), report what
    * remains per slot.
    */
  def lifecycle(
      actions: DataFrame,
      bufferSize: Int = 3,
      deleteToSeqNr: Long = 20L
  ): DataFrame =
    ringUpsert(actions, bufferSize)
      .filter(col("seq_nr") > deleteToSeqNr) // delete(criteria max=deleteTo)
      .select("topic", "id", "buffer_nr", "seq_nr", "koffset", "payload")
      .orderBy("topic", "id", "buffer_nr")

  /** S10d — snapshot-accelerated recovery, the reference's actual recovery
    * flow (snapshot/.../SnapshotStore.scala:26-34 composed with
    * Journals.read): per journal, load the LATEST snapshot and replay only
    * the events AFTER its seq_nr; a journal with no snapshot replays in
    * full. Output rows carry `src` ('snapshot' | 'event') so the consumer
    * sees exactly what a recovering entity would fold: at most one
    * snapshot row, then the event suffix in seq order. The event with
    * seq_nr = snapshot seq_nr is excluded (the snapshot subsumes it), so
    * recovery reads shrink by exactly the snapshotted prefix.
    */
  def recovery(actions: DataFrame): DataFrame =
    recoveryWith(
      actions,
      table(actions).select("topic", "id", "seq_nr", "koffset", "payload")
    )

  /** [[recovery]] against an EXPLICIT snapshot table (topic, id, seq_nr,
    * koffset, payload — several rows per journal allowed; the latest
    * wins), the form the maintenance loop recovers through: the fixture
    * rule stops being the source of snapshots once [[applySnapshots]] /
    * the streaming saver writes real ones. The event leg is
    * [[Replay.mergedRead]]; the snapshot rows join the replay's keyed
    * union, so the whole recovery is ONE fold per journal
    * ([[CachedReplay]]), in (topic, id, seq_nr) order.
    */
  def recoveryWith(actions: DataFrame, snapshots: DataFrame): DataFrame =
    CachedReplay.recoveryWith(actions, snapshots)

  /** The snapshot floor over an EXPLICIT replay frame (topic, id, seq_nr,
    * koffset, payload) — the seam that lets the event leg come from ANY
    * read formulation, e.g. the head-cache-GATED
    * [[Replay.mergedReadAtWatermark]], composing the reference client's
    * two recovery accelerators (snapshot floor + cache-gated tail). The
    * replay and snapshot rows are grouped once per journal and floored
    * by the same step [[recoveryWith]] and the api's one-journal
    * `recoverCached` run ([[CachedReplay]]), in (topic, id, seq_nr)
    * order.
    */
  def recoveryOver(replay: DataFrame, snapshots: DataFrame): DataFrame =
    CachedReplay.recoveryOver(replay, snapshots)

  // ---------------------------------------------------------------------
  // S10e — snapshot MAINTENANCE: the s10 plane's k14. A deployment's
  // recovery cost is the replay-suffix length (pointer − latest snapshot),
  // so the maintainer reports that debt per journal, fires when it crosses
  // a threshold, and saves a snapshot at the journal's current head —
  // reference intent: SnapshotStore.scala:11-62 save +
  // SnapshotSelectionCriteria-driven retention, operated continuously by
  // [[graft.streaming.StreamingSnapshots]].
  // ---------------------------------------------------------------------

  /** Per-journal replay-length debt: `pointer − latest snapshot seq_nr`
    * (0 when no snapshot), with the maintainer's fire flag. `pointer` is
    * the A2 pointer (max appended seq_nr after the last purge) — the
    * seq_nr a recovery must reach; journals with no post-purge appends
    * have nothing to recover and are absent.
    *
    * Scale shape: one keyed aggregation per side joined on the journal
    * key — the snapshot table is journal-grain (bufferSize rows each),
    * the pointer an aggregation the metajournal already maintains; AQE
    * territory at any corpus size.
    */
  def snapshotDebt(
      actions: DataFrame,
      snapshots: DataFrame,
      threshold: Long = 25L
  ): DataFrame =
    JournalOps
      .pointer(actions)
      .select(col("topic"), col("id"), col("seq_nr").as("pointer"))
      .join(
        snapshots
          .groupBy("topic", "id")
          .agg(max("seq_nr").as("snap_seq")),
        Seq("topic", "id"),
        "left"
      )
      .select(
        col("topic"),
        col("id"),
        col("pointer"),
        col("snap_seq"),
        (col("pointer") - coalesce(col("snap_seq"), lit(0L))).as("debt"),
        (col("pointer") - coalesce(col("snap_seq"), lit(0L)) > threshold)
          .as("snapshot_recommended")
      )
      .orderBy("topic", "id")

  /** Fires the maintainer: journals whose debt exceeds `threshold` get a
    * snapshot AT THEIR POINTER — the post-purge append row carrying that
    * seq_nr supplies koffset/ts/payload (the fixture's payload-as-state
    * stand-in; a deployment folds real state, same plumbing). Returns the
    * updated snapshot table (existing ∪ fired); the ring/retention
    * discipline is the save path's own concern ([[ringUpsert]] for the
    * batch store, compaction for the persisted one).
    *
    * The pointer event may itself be delete-marked — a deleted EVENT no
    * longer replays, but the STATE at its seq_nr is exactly what a
    * snapshot preserves (the reference's snapshots outlive journal
    * deletion; that is their point), so the save reads the post-purge
    * append row regardless of delete status.
    */
  def applySnapshots(
      actions: DataFrame,
      snapshots: DataFrame,
      threshold: Long = 25L
  ): DataFrame = {
    val due = snapshotDebt(actions, snapshots, threshold)
      .filter(col("snapshot_recommended"))
      .select(col("topic"), col("id"), col("pointer"))
    val fired = JournalOps
      .annotate(actions)
      .filter(col("action") === "append" && col("after_purge"))
      .join(due, Seq("topic", "id"))
      .filter(col("seq_nr") === col("pointer"))
      .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
    snapshots
      .select("topic", "id", "seq_nr", "koffset", "ts", "payload")
      .unionByName(fired)
  }

  /** S10e as one oracle-replayable query: the debt report over the
    * fixture snapshot store — what the maintainer alerts on. Threshold 5
    * keeps the fire flag non-vacuous at every test SF (max fixture debt
    * is 9 at sf0.001, 64 at sf0.01).
    */
  def debtReport(actions: DataFrame, threshold: Long = 5L): DataFrame =
    snapshotDebt(
      actions,
      table(actions).select("topic", "id", "seq_nr"),
      threshold
    )
}
