package graft.journal

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingHeadCache

/** The journal replay — the reference's per-journal stateful scan
  * (Journals.scala:194-301, seq_nr dedup at :244-254) — as ONE keyed
  * fold, the only replay in the engine. Every source a read consults is
  * tagged and unioned:
  *
  *   - the journal's log rows,
  *   - its head-cache entry rows and (one-journal reads) its topic's
  *     head-cache watermark rows, stamped with the key, or the key rows
  *     of a [[StreamingHeadCache.readHeads]] frame whose head is an
  *     append,
  *   - for a recovery, its snapshots.
  *
  * The union is grouped ONCE on `(topic, id)` and a plain Scala fold per
  * journal merges the eventual prefix with the log tail, cuts at the
  * purge and the widest delete, keeps the first-offset copy of each
  * seq_nr and, for a recovery, floors the events at the latest snapshot.
  * Besides the journal's rows the fold takes three inputs:
  *
  *   - per `(topic, part_no)`, the eventual boundary `wm` and the tail
  *     start `tail_from` — fractions of the partition's highest offset,
  *     or the head cache's stored watermark (−1 where it holds none);
  *   - a [[Gate]] rule: when the tail is read at all;
  *   - optionally, the snapshot rows that floor a recovery.
  *
  * Two runners share the fold. The one-journal reads (`api.Journal`
  * `readCached`, `recoverCached`) scan every source with the key
  * predicate and derive every input inside the group from the tagged
  * cache rows — no driver collect, one exchange, and the single group
  * needs no sort. The whole-log forms ([[Replay]]'s merged reads,
  * [[Snapshots]]' recoveries, the j1b and j1c queries) collect the
  * per-partition inputs once on the driver, range-partition the union on
  * `(topic, id)` and fold each task's journals in key order — one
  * exchange, plus the range partitioner's sampling (a sketch job, and a
  * re-sample job where the union's partitions are imbalanced), with the
  * output in global `(topic, id, seq_nr)` order.
  *
  * Memory: the fold holds ONE journal's rows per task (the whole-log
  * sort spills; the group does not), so the largest journal must fit a
  * task's memory. The join/window composition this replaced (kept in
  * the specs as `ReplayComposition`, the law anchor the fold is checked
  * against) could spill its windows instead.
  */
object CachedReplay {

  // source tags
  private final val LogRow = "log"
  private final val EntryRow = "entry"
  private final val MarkRow = "wm"
  private final val GateRow = "gate" // a key whose cached head is an append
  private final val SnapRow = "snap"
  private final val EventRow = "event" // an already replayed row

  // the tagged layout's columns, by ordinal: a source fills its own
  // columns and leaves the rest null
  private final val Src = 0
  private final val Topic = 1
  private final val Id = 2
  private final val Part = 3
  private final val Koff = 4 // log/snapshot koffset; entry min_koffset
  private final val Hi = 5 // entry max_koffset; watermark wm
  private final val End = 6 // watermark end_offset
  private final val Action = 7 // log action; entry packed kind
  private final val SeqNr = 8 // log/snapshot seq_nr; entry a_seq_nr
  private final val DelTo = 9 // log delete_to; entry a_delete_to
  private final val AOff = 10 // entry a_offset
  private final val Purged = 11 // entry saw_purge
  private final val Ev = 12 // the output row a log/snapshot/event row carries

  private val layout: Seq[(String, DataType)] = Seq(
    "_src" -> StringType, "topic" -> StringType, "id" -> StringType,
    "part_no" -> IntegerType, "koffset" -> LongType, "k_hi" -> LongType,
    "end_offset" -> LongType, "action" -> StringType, "seq_nr" -> LongType,
    "delete_to" -> LongType, "a_offset" -> LongType, "saw_purge" -> BooleanType
  )

  /** A recovery's columns: the snapshot floor and the events above it. */
  private val recoveryCols = Seq("topic", "id", "seq_nr", "koffset", "payload")

  /** When the fold reads a journal's tail: always; on an append head; or
    * on an append head or a row the cache has not seen — in a partition
    * with no consumed end offset (uncovered) or at or past it (stale).
    * An extra read is safe; a skipped one would lose rows.
    */
  private sealed trait Gate extends Serializable
  private object Gate {
    case object Open extends Gate
    case object OnAppend extends Gate
    case object OnAppendOrUnseen extends Gate
  }

  /** A replay's inputs fixed on the driver, by `(topic, part_no)`:
    * `bounds` = (wm, tail_from) when positioned by fractions — otherwise
    * the boundary of both legs is the stored watermark `wm`, −1 where
    * there is none — and the consumed `end` offsets [[Gate.OnAppendOrUnseen]]
    * reads. The one-journal runner leaves the maps empty: its watermark
    * rows sit in the group.
    */
  private final case class Setup(
      gate: Gate,
      bounds: Option[Map[(String, Int), (Long, Long)]] = None,
      wm: Map[(String, Int), Long] = Map.empty,
      end: Map[(String, Int), Long] = Map.empty
  )

  private def tag(
      src: String,
      df: DataFrame,
      ev: DataType,
      filled: (String, Column)*
  ): DataFrame = {
    val g = filled.toMap + ("_src" -> lit(src))
    df.select(
      (layout.map { case (n, t) => g.getOrElse(n, lit(null)).cast(t).as(n) } :+
        g.getOrElse("ev", lit(null)).cast(ev).as("ev")): _*
    )
  }

  private def entryRows(entries: DataFrame, ev: DataType): DataFrame =
    tag(
      EntryRow, entries, ev,
      "topic" -> col("topic"), "id" -> col("id"), "part_no" -> col("part_no"),
      "koffset" -> col("min_koffset"), "k_hi" -> col("max_koffset"),
      "action" -> col("kind"), "seq_nr" -> col("a_seq_nr"),
      "delete_to" -> col("a_delete_to"), "a_offset" -> col("a_offset"),
      "saw_purge" -> col("saw_purge")
    )

  /** The head cache's rows for one journal, tagged: its entry rows and
    * its topic's watermark rows stamped with the key. `ev` only types the
    * (null) output column, so the frame unions with the log's.
    */
  private[graft] def cacheRows(
      spark: SparkSession,
      cacheDir: String,
      topic: String,
      id: String,
      ev: DataType = NullType
  ): DataFrame = {
    val (entries, wm) = StreamingHeadCache.layers(spark, cacheDir, Some((topic, id)))
    entryRows(entries, ev).unionByName(
      tag(
        MarkRow, wm, ev,
        "topic" -> col("topic"), "id" -> lit(id), "part_no" -> col("part_no"),
        "k_hi" -> col("wm"), "end_offset" -> col("end_offset")
      )
    )
  }

  /** The key rows of a [[StreamingHeadCache.readHeads]]-shaped frame
    * (any (topic, id, kind) frame) whose head is an append, tagged.
    */
  private def gateRows(cacheHeads: DataFrame, ev: DataType): DataFrame =
    tag(
      GateRow, cacheHeads.filter(col("kind") === "append"), ev,
      "topic" -> col("topic"), "id" -> col("id")
    )

  /** The log's rows, tagged; `ev` carries `outCols` as a nullable struct
    * (a snapshot row's `ev` must cast to the same type).
    */
  private def logRows(log: DataFrame, outCols: Seq[String]): DataFrame =
    tagged(LogRow, log, outCols,
      "part_no" -> col("part_no"), "koffset" -> col("koffset"),
      "action" -> col("action"), "seq_nr" -> col("seq_nr"),
      "delete_to" -> col("delete_to"))

  /** `df`'s rows tagged `src`, carrying `outCols` as the nullable `ev`. */
  private def tagged(src: String, df: DataFrame, outCols: Seq[String], filled: (String, Column)*): DataFrame = {
    val ev = struct(outCols.map(col): _*)
    tag(src, df, evType(df, outCols),
      Seq("topic" -> col("topic"), "id" -> col("id"), "ev" -> ev) ++ filled: _*)
  }

  private def evType(df: DataFrame, outCols: Seq[String]): StructType =
    StructType(
      df.select(struct(outCols.map(col): _*)).schema.head.dataType
        .asInstanceOf[StructType].map(_.copy(nullable = true))
    )

  /** Snapshot rows (topic, id, seq_nr, koffset, payload), tagged with
    * `ev` cast to the events' type.
    */
  private def snapRows(snapshots: DataFrame, ev: DataType): DataFrame =
    tag(
      SnapRow, snapshots, ev,
      "topic" -> col("topic"), "id" -> col("id"), "seq_nr" -> col("seq_nr"),
      "ev" -> struct(recoveryCols.map(col): _*)
    )

  /** The recovery output: `ev`'s columns with `src` after the key. */
  private def recoveryType(ev: StructType): StructType =
    StructType(ev.fields.take(2) ++ (StructField("src", StringType) +: ev.fields.drop(2)))

  /** The cache-gated read of ONE journal — `Replay.mergedReadAtWatermark`
    * over the key-filtered log, the key-filtered
    * [[StreamingHeadCache.readHeads]] and the cache's
    * [[StreamingHeadCache.watermark]], with every input derived inside
    * the group. `log` must hold that journal only. Output columns are the
    * replay contract's plus whichever envelope columns the log carries,
    * in seq_nr order.
    */
  def read(
      spark: SparkSession,
      log: DataFrame,
      cacheDir: String,
      topic: String,
      id: String,
      strict: Boolean = false
  ): DataFrame =
    fold(log, Setup(Gate.OnAppendOrUnseen), floor = false, strict, whole = false)(ev =>
      Seq(cacheRows(spark, cacheDir, topic, id, ev)))

  /** Snapshot-floored recovery of ONE journal — [[Snapshots.recoveryOver]]
    * of [[read]] and the key-filtered `snapshots` (topic, id, seq_nr,
    * koffset, payload): the latest snapshot, then the events above it,
    * `src`-tagged, in seq_nr order.
    */
  def recover(
      spark: SparkSession,
      log: DataFrame,
      snapshots: DataFrame,
      cacheDir: String,
      topic: String,
      id: String
  ): DataFrame =
    fold(log, Setup(Gate.OnAppendOrUnseen), floor = true, strict = false, whole = false)(ev =>
      Seq(cacheRows(spark, cacheDir, topic, id, ev), snapRows(snapshots, ev)))

  /** [[read]] (`snapshots` = None) or [[recover]] of EVERY journal — the
    * j1b and j1c queries: the head cache's raw entry rows join the union
    * and its watermark rows are collected on the driver.
    */
  private[graft] def throughCache(
      spark: SparkSession,
      log: DataFrame,
      cacheDir: String,
      snapshots: Option[DataFrame]
  ): DataFrame = {
    val (entries, wm) = StreamingHeadCache.layers(spark, cacheDir, None)
    fold(log, marked(wm), floor = snapshots.nonEmpty, strict = false, whole = true)(ev =>
      entryRows(entries, ev) +: snapshots.map(snapRows(_, ev)).toSeq)
  }

  /** `Replay.mergedRead` (`cacheHeads` = None) and
    * `Replay.mergedReadGated`: the boundaries at `wmFrac` / `tailFrac` of
    * each partition's highest offset in `log`, as passed.
    */
  private[graft] def mergedRead(
      log: DataFrame,
      wmFrac: Double,
      tailFrac: Double,
      strict: Boolean,
      cacheHeads: Option[DataFrame]
  ): DataFrame =
    fold(log, fractions(log, wmFrac, tailFrac, if (cacheHeads.isEmpty) Gate.Open else Gate.OnAppend),
      floor = false, strict, whole = true)(ev => cacheHeads.map(gateRows(_, ev)).toSeq)

  /** `Replay.mergedReadAtWatermark`: the marks of the `watermark` frame. */
  private[graft] def readAtWatermark(
      log: DataFrame,
      cacheHeads: DataFrame,
      watermark: DataFrame,
      strict: Boolean
  ): DataFrame =
    fold(log, marked(watermark), floor = false, strict, whole = true)(ev => Seq(gateRows(cacheHeads, ev)))

  /** `Snapshots.recoveryWith`: the ungated merged read at its default
    * fractions, floored at the latest of `snapshots`.
    */
  private[graft] def recoveryWith(log: DataFrame, snapshots: DataFrame): DataFrame =
    fold(log, fractions(log, 0.8, 0.6, Gate.Open), floor = true, strict = false, whole = true)(ev =>
      Seq(snapRows(snapshots, ev)))

  /** `Snapshots.recoveryOver`: the snapshot floor alone, over an already
    * replayed frame (topic, id, seq_nr, koffset, payload).
    */
  private[graft] def recoveryOver(replay: DataFrame, snapshots: DataFrame): DataFrame = {
    val rows = tagged(EventRow, replay, recoveryCols)
    val ev = rows.schema("ev").dataType.asInstanceOf[StructType]
    inKeyOrder(rows.unionByName(snapRows(snapshots, ev)))((_, group) => {
      val bySrc = group.groupBy(_.getString(Src)).withDefaultValue(Seq.empty)
      floored(bySrc(EventRow).sortBy(r => opt(r.getStruct(Ev), 2)), bySrc(SnapRow))
    })(recoveryType(ev))
  }

  /** The log's rows, carrying the replay's columns (a recovery's when
    * `floor`), unioned with `sources` (given the output rows' type) and
    * folded per journal under `setup` — by the one-journal runner, or by
    * the whole-log one in key order.
    */
  private def fold(log: DataFrame, setup: Setup, floor: Boolean, strict: Boolean, whole: Boolean)(
      sources: StructType => Seq[DataFrame]
  ): DataFrame = {
    val rows = logRows(log, if (floor) recoveryCols else Replay.outColumns(log))
    val ev = rows.schema("ev").dataType.asInstanceOf[StructType]
    val f: JournalFold = (topic, group) => {
      val (events, snaps) = replay(topic, group, setup, strict)
      if (floor) floored(events, snaps) else events.map(_.getStruct(Ev))
    }
    val union = sources(ev).foldLeft(rows)(_.unionByName(_))
    val out = if (floor) recoveryType(ev) else ev
    if (whole) inKeyOrder(union)(f)(out) else byKey(union)(f)(out)
  }

  /** Bounds at `wmFrac` / `tailFrac` of each partition's highest offset. */
  private def fractions(log: DataFrame, wmFrac: Double, tailFrac: Double, gate: Gate): Setup =
    Setup(gate, bounds = Some(maxima(log.select(col("topic"), col("part_no"), col("koffset"), lit(null))).collect {
      case (k, (Some(m), _)) => k -> (math.floor(m * wmFrac).toLong, math.floor(m * tailFrac).toLong)
    }))

  /** Bounds at a head-cache watermark frame (topic, part_no, wm[,
    * end_offset]), the tail opened on an append head or an unseen row.
    * With an `end_offset` column a partition with a null or absent end is
    * unseen; without one only a partition absent from the frame is, and
    * staleness goes unenforced.
    */
  private def marked(watermark: DataFrame): Setup = {
    val hasEnd = watermark.columns.contains("end_offset")
    val m = maxima(watermark.select(col("topic"), col("part_no"), col("wm"),
      if (hasEnd) col("end_offset") else lit(null)))
    Setup(
      Gate.OnAppendOrUnseen,
      wm = m.collect { case (k, (Some(w), _)) => k -> w },
      end = if (hasEnd) m.collect { case (k, (_, Some(e))) => k -> e } else m.map(_._1 -> Long.MaxValue)
    )
  }

  /** Per partition of a (topic, part_no, a, b) frame, the maxima of `a`
    * and `b` (None where every value is null), in ONE job and no
    * exchange: each task reduces its own rows, the driver merges them.
    */
  private def maxima(frame: DataFrame): Map[(String, Int), (Option[Long], Option[Long])] = {
    val out = StructType.fromDDL("topic STRING, part_no INT, a BIGINT, b BIGINT")
    def max2(x: Option[Long], y: Option[Long]) = (x ++ y).maxOption
    def merge(x: (Option[Long], Option[Long]), y: (Option[Long], Option[Long])) =
      (max2(x._1, y._1), max2(x._2, y._2))
    frame
      .toDF(out.fieldNames.toSeq: _*)
      .select(out.fields.toSeq.map(o => col(o.name).cast(o.dataType)): _*)
      .filter(col("part_no").isNotNull)
      .mapPartitions { (rows: Iterator[Row]) =>
        val acc = mutable.HashMap.empty[(String, Int), (Option[Long], Option[Long])]
        rows.foreach { r =>
          val k = (r.getString(0), r.getInt(1))
          acc(k) = merge(acc.getOrElse(k, (None, None)), (opt(r, 2), opt(r, 3)))
        }
        acc.iterator.map { case ((t, p), (a, b)) => Row(t, p, a.map(Long.box).orNull, b.map(Long.box).orNull) }
      }(Encoders.row(out))
      .collect()
      .groupMapReduce(r => (r.getString(0), r.getInt(1)))(r => (opt(r, 2), opt(r, 3)))(merge)
  }

  /** One journal's group function: `(topic, rows) => output rows`. */
  private type JournalFold = (String, Seq[Row]) => Seq[Row]

  /** The one-journal runner: one exchange on the key; groups come out in
    * no particular order (a keyed read has one).
    */
  private def byKey(tagged: DataFrame)(f: JournalFold)(out: StructType): DataFrame =
    tagged
      .groupByKey((r: Row) => (r.getString(Topic), r.getString(Id)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING)
      )
      .flatMapGroups((k: (String, String), group: Iterator[Row]) => f(k._1, group.toSeq))(
        Encoders.row(out)
      )

  /** The whole-log runner: ONE range exchange on the key, each task's
    * rows sorted by key and folded journal by journal — the output is in
    * global (topic, id) order, each journal's rows in the fold's order.
    */
  private def inKeyOrder(tagged: DataFrame)(f: JournalFold)(out: StructType): DataFrame =
    tagged
      .repartitionByRange(col("topic"), col("id"))
      .sortWithinPartitions("topic", "id")
      .mapPartitions { (rows: Iterator[Row]) =>
        val in = rows.buffered
        Iterator
          .continually(in)
          .takeWhile(_.hasNext)
          .flatMap { _ =>
            val (topic, id) = (in.head.getString(Topic), in.head.getString(Id))
            val group = mutable.ArrayBuffer.empty[Row]
            while (in.hasNext && in.head.getString(Topic) == topic && in.head.getString(Id) == id)
              group += in.next()
            f(topic, group.toSeq)
          }
      }(Encoders.row(out))

  private def opt(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  private def part(r: Row): Option[Int] =
    if (r.isNullAt(Part)) None else Some(r.getInt(Part))

  /** Per partition, the replicated watermark and the consumed end offset,
    * each max-merged over the layers (nulls ignored, as SQL `max` does).
    * A partition with no non-null value is absent from that map.
    */
  private def marks(ws: Seq[Row]): (Map[Int, Long], Map[Int, Long]) = {
    def merged(i: Int) =
      ws.filter(r => !r.isNullAt(Part) && !r.isNullAt(i))
        .groupMapReduce(_.getInt(Part))(_.getLong(i))(math.max)
    (merged(Hi), merged(End))
  }

  /** The journal's cached head: its entries above their partition's
    * watermark merged in offset order — [[StreamingHeadCache.readHeads]]
    * for one key. `None` = the journal is absent from the cache.
    */
  private def headOf(entries: Seq[Row], wm: Int => Option[Long]): Option[HeadInfo] = {
    val live = entries
      .filter(e => wm(e.getInt(Part)).forall(e.getLong(Hi) > _))
      .sortBy(_.getLong(Koff))
    if (live.isEmpty) None
    else
      Some(
        live
          .map(e =>
            (
              e.getBoolean(Purged),
              HeadInfo.unpack((e.getString(Action), e.getLong(AOff), e.getLong(SeqNr), e.getLong(DelTo)))
            )
          )
          .reduceLeft(StreamingHeadCache.combinePurged)
          ._2
      )
  }

  /** The cached head from collected [[cacheRows]] — the pointer fast
    * path's decision input.
    */
  private[graft] def headOf(cache: Seq[Row]): Option[HeadInfo] =
    headOf(
      cache.filter(_.getString(Src) == EntryRow),
      marks(cache.filter(_.getString(Src) == MarkRow))._1.get
    )

  /** The snapshot floor: the latest snapshot by seq_nr (a null seq_nr
    * sorts lowest, as a descending window puts it last), then the events
    * above it — all of them where the floor's seq_nr is null — each
    * `src`-tagged.
    */
  private def floored(events: Seq[Row], snaps: Seq[Row]): Seq[Row] = {
    val latest = snaps
      .map(_.getStruct(Ev))
      .maxByOption(s => if (s.isNullAt(2)) Long.MinValue else s.getLong(2))
    val floor = latest.flatMap(opt(_, 2))
    def emit(src: String, e: Row) =
      Row(e.get(0), e.get(1), src, e.get(2), e.get(3), e.get(4))
    latest.map(emit("snapshot", _)).toSeq ++ events
      .map(_.getStruct(Ev))
      .filter(e => floor.forall(f => opt(e, 2).exists(_ > f)))
      .map(emit("event", _))
  }

  /** The fold: one journal's surviving log rows in seq_nr order, plus the
    * group's snapshot rows untouched.
    */
  private def replay(
      topic: String,
      group: Seq[Row],
      setup: Setup,
      strict: Boolean
  ): (Seq[Row], Seq[Row]) = {
    val bySrc = group.groupBy(_.getString(Src)).withDefaultValue(Seq.empty)
    val log = bySrc(LogRow)
    // a partition's watermark and consumed end: the group's own mark
    // rows (one-journal reads), else the ones collected on the driver
    val (wmIn, endIn) = marks(bySrc(MarkRow))
    def wm(p: Int) = wmIn.get(p).orElse(setup.wm.get((topic, p)))
    def end(p: Int) = endIn.get(p).orElse(setup.end.get((topic, p)))
    def is(r: Row, a: String) = a == r.getString(Action)
    def koff(r: Row) = opt(r, Koff)
    // a row's (wm, tail_from): its OWN partition's
    val bound: Row => Option[(Long, Long)] = setup.bounds match {
      case Some(b) => r => part(r).flatMap(p => b.get((topic, p)))
      case None    => r => part(r).map(p => wm(p).getOrElse(-1L)).map(w => (w, w))
    }

    def appendHead =
      bySrc(GateRow).nonEmpty ||
        headOf(bySrc(EntryRow), wm).exists(_.isInstanceOf[HeadInfo.Append])
    // a partition without a consumed end offset — never covered, or
    // covered only by layers that did not record how far they consumed —
    // counts as uncovered
    def unseen(r: Row) = part(r).flatMap(end) match {
      case None    => true
      case Some(e) => koff(r).exists(_ >= e)
    }
    val open = setup.gate match {
      case Gate.Open             => true
      case Gate.OnAppend         => appendHead
      case Gate.OnAppendOrUnseen => appendHead || log.exists(unseen)
    }

    // a row set's purge cut and the widest delete after it
    // (JournalOps.annotate), and whether a row survives both; eta-expanded
    // as `survives(cut(rows))`, the cut is computed once
    def cut(rows: Seq[Row]): (Option[Long], Long) = {
      val lp = rows.filter(is(_, "purge")).flatMap(koff).maxOption
      val dt = rows
        .filter(r => is(r, "delete") && !r.isNullAt(DelTo) && lp.forall(l => koff(r).exists(_ > l)))
        .map(_.getLong(DelTo))
        .maxOption
      (lp, dt.getOrElse(0L))
    }
    def survives(c: (Option[Long], Long))(r: Row) =
      c._1.forall(l => koff(r).exists(_ > l)) && opt(r, SeqNr).exists(_ > c._2)

    // eventual leg: survivors of the replicated prefix (delete/purge
    // state as of the watermark). F5 strict mode: a duplicate here is
    // corruption (the reference checks the eventual read,
    // EventualCassandra.scala:170-191), not redelivery
    val prefix = log.filter(r => koff(r).exists(k => bound(r).exists(b => k <= b._1)))
    val eventual = prefix.filter(is(_, "append")).filter(survives(cut(prefix)))
    if (strict)
      eventual.groupBy(_.getLong(SeqNr)).collectFirst {
        case (s, copies) if copies.size > 1 =>
          throw new IllegalStateException(
            s"Data integrity violated: duplicate seq_nr $s for journal " +
              s"${copies.head.getString(Topic)}/${copies.head.getString(Id)}"
          )
      }

    // tail leg: raw appends above tail_from, when the gate is open
    val tail =
      if (!open) Seq.empty
      else log.filter(r => is(r, "append") && koff(r).exists(k => bound(r).exists(b => k > b._2)))

    // the journal's global purge cut and widest delete, over the whole log
    val events = (eventual ++ tail)
      .filter(survives(cut(log)))
      // F4: the first-koffset copy of each seq_nr
      .groupBy(_.getLong(SeqNr))
      .values
      .map(_.minBy(_.getLong(Koff)))
      .toSeq
      .sortBy(_.getLong(SeqNr))
    (events, bySrc(SnapRow))
  }
}
