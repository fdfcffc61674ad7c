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
  * The Spark formulation is a union + window dedup, NOT a stateful stream:
  *   - eventual leg: survivors of the replicated prefix only (delete/purge
  *     state as of the watermark — exactly what the materialized store holds)
  *   - tail leg: raw appends above `tailFrom` (Kafka's redelivery overlap)
  *   - global delete/purge state from the union (HeadInfo's deleteTo branch,
  *     Journals.scala:272-292)
  *   - dedup keeps the first-offset copy of each (topic, id, seq_nr) — the
  *     same row the stateful scan would keep (F4).
  *
  * Scale: both legs are scans with pushed filters; the dedup window shares
  * the (topic, id) shuffle with the delete/purge window. The overlap region
  * is bounded by the replication lag, so the tail leg is small in practice —
  * Catalyst sees an ordinary union, no custom operator needed.
  */
object Replay {

  /** Merged replay of every journal. `wmFrac` positions the replicated
    * watermark, `tailFrac` the (earlier) tail start, per Kafka partition —
    * the gap between them is the duplicated-delivery overlap the dedup must
    * resolve.
    */
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

  def mergedRead(
      actions: DataFrame,
      wmFrac: Double = 0.8,
      tailFrac: Double = 0.6,
      strictUniqueness: Boolean = false
  ): DataFrame =
    mergedReadImpl(actions, wmFrac, tailFrac, strictUniqueness, None)

  /** [[mergedRead]] with the tail leg GATED by the live head cache — the
    * reference's actual read flow (journal/.../HeadCache.scala:19-186:
    * the reader consults the cached head and SKIPS the Kafka tail when
    * the head proves it holds nothing to replay). `cacheHeads` is
    * [[graft.streaming.StreamingHeadCache.readHeads]] output (any
    * (topic, id, kind) frame works): only journals whose maintained head
    * kind is 'append' have tail APPENDS, so only they enter the tail
    * scan — a semi-join against the lag-bounded (hence broadcastable)
    * cache table. Row-identical to the ungated read (HeadCacheSpec law):
    * a skipped journal's tail rows are either exact duplicates of the
    * eventual prefix (the redelivery overlap, F4-dropped anyway) or
    * non-appends the tail leg never takes; the global delete/purge state
    * still comes from the full log. The cache must be maintained at the
    * same watermark the read's `wmFrac` positions.
    */
  def mergedReadGated(
      actions: DataFrame,
      cacheHeads: DataFrame,
      wmFrac: Double = 0.8,
      tailFrac: Double = 0.6,
      strictUniqueness: Boolean = false
  ): DataFrame =
    mergedReadImpl(
      actions,
      wmFrac,
      tailFrac,
      strictUniqueness,
      Some(
        cacheHeads
          .filter(col("kind") === "append")
          .select("topic", "id")
      )
    )

  /** The gated read at an EXPLICIT replicated watermark — the deployment
    * read path over any number of journals (the j1c query; for ONE
    * journal, api.Journal.readCached runs the same semantics as a keyed
    * fold, [[CachedReplay]], checked against this form): the eventual/tail
    * boundary is the CACHE'S OWN stored watermark instead of a wmFrac
    * positioned over the (possibly key-filtered) log, which is what makes the gate's
    * skip-on-absence sound — a journal evicted from the cache has no
    * rows above THIS watermark by the eviction invariant, so the eventual
    * leg (≤ wm) covers it completely. Positioning the boundary anywhere
    * below the cache's watermark (e.g. 0.8 × a single journal's own max
    * offset) would silently drop the evicted journal's rows between the
    * two marks — the round-12 review finding this function closes.
    *
    * Partitions ABSENT from `watermark` (the cache has never processed
    * them) read wm = −1 with their tail UNGATED: absence from the cache
    * is only evidence where the cache has covered the partition.
    *
    * STALE partitions are likewise un-gated, ENFORCING the staleness
    * bound instead of documenting it: when `watermark` carries the
    * cache's consumed `end_offset` (the stored wm member does), any
    * journal with log rows at or above it has appends the cache never
    * folded — its absence from the cache (or an `empty` head) is NOT
    * evidence of full replication, so it enters the tail scan like an
    * uncovered-partition journal. A reader consulting a cache that
    * trails the log therefore pays an ungated tail scan on exactly the
    * stale journals rather than silently dropping their fresh rows
    * (the round-12 advice finding). The eventual/tail boundary stays
    * the stored wm — the un-gated tail covers everything above it.
    */
  def mergedReadAtWatermark(
      actions: DataFrame,
      cacheHeads: DataFrame,
      watermark: DataFrame, // (topic, part_no, wm[, end_offset])
      strictUniqueness: Boolean = false
  ): DataFrame = {
    val wmT = watermark.select("topic", "part_no", "wm")
    val bounds = actions
      .select("topic", "part_no")
      .distinct()
      .join(wmT, Seq("topic", "part_no"), "left")
      .select(
        col("topic"),
        col("part_no"),
        coalesce(col("wm"), lit(-1L)).as("wm"),
        coalesce(col("wm"), lit(-1L)).as("tail_from")
      )
    // gate: journals whose cached head says the tail holds appends, PLUS
    // every journal of an uncovered partition (their wm is −1, so the
    // tail IS their whole read — it must not be gated away), PLUS
    // journals with rows the cache never consumed (koffset at or past
    // the partition's stored end_offset) — row-grain, so only journals
    // with ACTUAL unseen appends pay the un-gate, not every journal of a
    // slightly-stale partition. Uncovered and stale were two separate
    // log scans + distinct exchanges feeding the same semi-join gate
    // set; when the watermark carries end_offset they fuse into ONE
    // left-join pass (round-17, guide §2.4): an absent partition reads a
    // null end_offset (uncovered), a present one filters on it (stale) —
    // the produced (topic, id) set is identical.
    val appendGate = cacheHeads
      .filter(col("kind") === "append")
      .select("topic", "id")
    val uncoveredOrStale =
      if (watermark.columns.contains("end_offset"))
        actions
          .join(
            broadcast(watermark.select("topic", "part_no", "end_offset")),
            Seq("topic", "part_no"),
            "left"
          )
          .filter(col("end_offset").isNull || col("koffset") >= col("end_offset"))
          .select("topic", "id")
          .distinct()
      else
        actions
          .join(
            broadcast(wmT.select("topic", "part_no")),
            Seq("topic", "part_no"),
            "left_anti"
          )
          .select("topic", "id")
          .distinct()
    mergedReadBounded(
      actions,
      bounds,
      strictUniqueness,
      Some(appendGate.unionByName(uncoveredOrStale))
    )
  }

  private def mergedReadImpl(
      actions: DataFrame,
      wmFrac: Double,
      tailFrac: Double,
      strictUniqueness: Boolean,
      tailGate: Option[DataFrame]
  ): DataFrame =
    mergedReadBounded(
      actions,
      actions
        .groupBy("topic", "part_no")
        .agg(
          floor(max("koffset") * wmFrac).cast("long").as("wm"),
          floor(max("koffset") * tailFrac).cast("long").as("tail_from")
        ),
      strictUniqueness,
      tailGate
    )

  private def mergedReadBounded(
      actions: DataFrame,
      bounds: DataFrame, // (topic, part_no, wm, tail_from)
      strictUniqueness: Boolean,
      tailGate: Option[DataFrame]
  ): DataFrame = {
    val outCols = outColumns(actions)
    val bounded = actions.join(broadcast(bounds), Seq("topic", "part_no"))

    // Eventual leg: what the replicator materialized — delete/purge state
    // computed over the replicated prefix only. The F5 uniqueness check
    // sits HERE (the reference checks on the eventual read,
    // EventualCassandra.scala:170-191): duplicates in the replicated
    // prefix are corruption; duplicates in the tail are redelivery, and
    // the merge's F4 dedup handles those silently either way.
    val eventual = withUniquenessCheck(
      JournalOps
        .survivors(bounded.filter(col("koffset") <= col("wm")))
        .select(outCols.map(col): _*),
      strictUniqueness
    )

    // Tail leg: raw appends from the log above tail_from (overlaps the
    // replicated prefix — Kafka gives at-least-once). With a head-cache
    // gate, only journals the cache says HAVE tail appends are scanned.
    val rawTail = bounded
      .filter(col("koffset") > col("tail_from") && col("action") === "append")
      .select(outCols.map(col): _*)
    val tail = tailGate.fold(rawTail)(g =>
      rawTail.join(broadcast(g), Seq("topic", "id"), "left_semi")
    )

    val merged = eventual.unionByName(tail)

    // Global head state (purge cut + widest delete) over the full log —
    // the HeadInfo branch of the read (Journals.scala:272-292). Only
    // delete/purge rows can contribute, so the log is filtered to that
    // (small) control subset BEFORE the per-journal window — the filter
    // pushes into the scan and the window sorts a fraction of the log.
    // Restricting the subset preserves semantics: lp/after_purge/dt only
    // ever compare delete/purge rows against each other, and journals with
    // no control actions simply get no head row (the left join below
    // null-handles them). One row per journal with a control action —
    // still grows with the corpus, so it is NOT broadcast-hinted; AQE
    // promotes it to a runtime broadcast when it really is small.
    val heads = JournalOps
      .annotate(
        actions.filter(col("action") === "delete" || col("action") === "purge")
      )
      .groupBy("topic", "id")
      .agg(
        max(when(col("action") === "purge", col("koffset"))).as("g_lp"),
        max(
          when(
            col("action") === "delete" && col("after_purge"),
            col("delete_to")
          )
        ).as("g_dt")
      )

    val pick = Window
      .partitionBy("topic", "id", "seq_nr")
      .orderBy(col("koffset"))

    merged
      .join(heads, Seq("topic", "id"), "left")
      .filter(
        (col("g_lp").isNull || col("koffset") > col("g_lp")) &&
          col("seq_nr") > coalesce(col("g_dt"), lit(0L))
      )
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(outCols.map(col): _*)
      .orderBy("topic", "id", "seq_nr")
  }

  /** F5 STRICT mode (reference EventualCassandra.scala:170-191 behind the
    * `seqNrUniqueness` config, Journal.scala:458-480): the eventual store
    * must never hold two events with the same (topic, id, seq_nr) — that
    * is data corruption, not redelivery (redelivery dedup is F4 and
    * happens on the log tail, before the store). In strict mode the scan
    * RAISES the reference's "Data integrity violated" error on the first
    * duplicate instead of silently deduplicating; with `strict = false`
    * it is the identity.
    *
    * One window count over the same (topic, id) key family the read
    * already shuffles on; the raise_error sits behind a when() so the
    * happy path stays codegen'd and row-cheap.
    */
  def withUniquenessCheck(journal: DataFrame, strict: Boolean = true): DataFrame =
    if (!strict) journal
    else {
      val w = Window.partitionBy("topic", "id", "seq_nr")
      journal
        .withColumn("_n", count(lit(1)).over(w))
        .withColumn(
          "_chk",
          when(
            col("_n") > 1,
            raise_error(concat(
              lit("Data integrity violated: duplicate seq_nr "),
              col("seq_nr").cast("string"),
              lit(" for journal "),
              col("topic"), lit("/"), col("id")
            ))
          ).otherwise(lit(true))
        )
        .filter(col("_chk"))
        .drop("_n", "_chk")
    }

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
