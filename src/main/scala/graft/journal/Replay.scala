package graft.journal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J1 — the reference's signature operation: merged two-source replay.
  *
  * A journal read stitches the *eventual* store (complete but stale: offsets
  * <= the replicated watermark) with the *log tail* (fresh but truncated:
  * offsets above a lower bound that may overlap the replicated prefix), then
  * deduplicates by (journal, seq_nr) and replays in order
  * (reference journal/.../Journals.scala:194-301: eventual scan, switch to
  * Kafka at last seq_nr, stateful seq_nr dedup at :244-254).
  *
  * Every form here is that stateful scan as ONE keyed fold per journal
  * ([[CachedReplay]]): the eventual leg (survivors of the replicated
  * prefix — delete/purge state as of the watermark, exactly what the
  * materialized store holds), the tail leg (raw appends above `tail_from`,
  * Kafka's redelivery overlap), the journal's global delete/purge state
  * over its whole log (HeadInfo's deleteTo branch, Journals.scala:272-292),
  * and the dedup that keeps the first-offset copy of each (topic, id,
  * seq_nr) — the row the stateful scan keeps (F4). The per-partition
  * bounds are collected once on the driver; the log is exchanged once on
  * (topic, id) and comes out in (topic, id, seq_nr) order.
  */
object Replay {

  /** Envelope/payload columns carried through the replay when the input
    * log has them (hand-built spec fixtures may not — the projection
    * adapts; the query contract's six base columns are always present).
    */
  private val carried = Seq(
    "payload_type", "payload_txt", "payload_bin",
    "tags_csv", "origin", "version", "metadata"
  )

  /** The replay's output columns over `actions`: the contract's six plus
    * whichever [[carried]] columns the log has.
    */
  private[graft] def outColumns(actions: DataFrame): Seq[String] =
    Seq("topic", "id", "seq_nr", "koffset", "ts", "payload") ++
      carried.filter(actions.columns.contains)

  /** Merged replay of every journal. `wmFrac` positions the replicated
    * watermark, `tailFrac` the (earlier) tail start, per Kafka partition,
    * as fractions of the partition's highest offset in `actions` exactly
    * as passed (a key-filtered log positions them over that journal) —
    * the gap between them is the duplicated-delivery overlap the dedup
    * must resolve.
    *
    * `strictUniqueness` is F5 STRICT mode (reference
    * EventualCassandra.scala:170-191 behind the `seqNrUniqueness` config,
    * Journal.scala:458-480): the eventual prefix must never hold two
    * events with the same (topic, id, seq_nr) — that is corruption, not
    * redelivery — so the read RAISES the reference's "Data integrity
    * violated" error on the first duplicate instead of deduplicating it.
    */
  def mergedRead(
      actions: DataFrame,
      wmFrac: Double = 0.8,
      tailFrac: Double = 0.6,
      strictUniqueness: Boolean = false
  ): DataFrame =
    CachedReplay.mergedRead(actions, wmFrac, tailFrac, strictUniqueness, None)

  /** [[mergedRead]] with the tail leg GATED by the live head cache — the
    * reference's actual read flow (journal/.../HeadCache.scala:19-186:
    * the reader consults the cached head and SKIPS the Kafka tail when
    * the head proves it holds nothing to replay). `cacheHeads` is
    * [[graft.streaming.StreamingHeadCache.readHeads]] output (any
    * (topic, id, kind) frame works): only journals whose maintained head
    * kind is 'append' have tail APPENDS, so only they read their tail —
    * their keys join the fold's union as gate rows. Row-identical to the
    * ungated read (HeadCacheSpec law): a skipped journal's tail rows are
    * either exact duplicates of the eventual prefix (the redelivery
    * overlap, F4-dropped anyway) or non-appends the tail leg never takes;
    * the delete/purge state still comes from the full log. The cache
    * must be maintained at the same watermark the read's `wmFrac`
    * positions.
    */
  def mergedReadGated(
      actions: DataFrame,
      cacheHeads: DataFrame,
      wmFrac: Double = 0.8,
      tailFrac: Double = 0.6,
      strictUniqueness: Boolean = false
  ): DataFrame =
    CachedReplay.mergedRead(actions, wmFrac, tailFrac, strictUniqueness, Some(cacheHeads))

  /** The gated read at an EXPLICIT replicated watermark — the deployment
    * read path over any number of journals (for ONE journal,
    * api.Journal.readCached runs it with every input under the key
    * predicate). The eventual/tail boundary is the CACHE'S OWN stored
    * `wm`, not a wmFrac positioned over the (possibly key-filtered) log:
    * that is what makes skip-on-absence sound — a journal evicted from
    * the cache has no rows above THIS watermark, so the eventual leg
    * covers it completely (a lower boundary would drop its rows between
    * the two marks, the round-12 review finding).
    *
    * The tail of a journal is read on an append head, and also where the
    * cache's silence is no evidence: a row in a partition ABSENT from
    * `watermark` (uncovered: wm = −1, the tail is the whole read), or —
    * when the frame carries the cache's consumed `end_offset`, as the
    * stored wm member does — a row at or past it (STALE: appends the cache
    * never folded) or in a partition whose `end_offset` is null. Without
    * an `end_offset` column staleness goes unenforced. The frame is
    * collected once on the driver (one row per partition).
    */
  def mergedReadAtWatermark(
      actions: DataFrame,
      cacheHeads: DataFrame,
      watermark: DataFrame, // (topic, part_no, wm[, end_offset])
      strictUniqueness: Boolean = false
  ): DataFrame =
    CachedReplay.readAtWatermark(actions, cacheHeads, watermark, strictUniqueness)

  /** F4/F5 — seq_nr dedup under duplicated delivery: replays a log whose
    * tail was delivered twice (at-least-once redelivery) and proves the
    * dedup keeps exactly one copy per (journal, seq_nr)
    * (reference Journals.scala:244-254 stateful scan;
    * EventualCassandra.scala:170-191 uniqueness check).
    */
  def dedupReplay(actions: DataFrame, tailFrac: Double = 0.7): DataFrame = {
    val bounds = actions
      .groupBy("topic", "part_no")
      .agg(floor(max("koffset") * tailFrac).cast("long").as("tail_from"))
    val dup = actions
      .join(broadcast(bounds), Seq("topic", "part_no"))
      .filter(col("koffset") > col("tail_from"))
      .drop("tail_from")
    val redelivered = actions.unionByName(dup)

    val pick = Window
      .partitionBy("topic", "id", "seq_nr")
      .orderBy(col("koffset"))
    JournalOps
      .survivors(redelivered)
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select("topic", "id", "seq_nr", "koffset", "payload")
      .orderBy("topic", "id", "seq_nr")
  }
}
