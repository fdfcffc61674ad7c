package graft.journal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingHeadCache

/** One journal's cache-gated read and recovery as ONE keyed fold — the
  * reference's per-journal stateful scan (Journals.scala:194-301, seq_nr
  * dedup at :244-254) over every source a client read consults:
  *
  *   - the journal's log rows,
  *   - its head-cache entry rows and its topic's head-cache watermark
  *     rows (one per partition per layer, stamped with the key),
  *   - for a recovery, its stored snapshots.
  *
  * Every source is scanned with the `(topic, id)` predicate, tagged, and
  * the union is grouped ONCE on the key; a plain Scala fold then does
  * what the DataFrame composition [[Replay.mergedReadAtWatermark]] ∘
  * [[Snapshots.recoveryOver]] does with a chain of joins, windows and
  * sorts. A one-journal read therefore costs one exchange instead of
  * dozens, and returns a lazy DataFrame whose single group needs no
  * global sort. The DataFrame composition stays as the whole-log form
  * and as the reference the fold is checked against (CachedReplaySpec).
  */
object CachedReplay {

  // source tags
  private final val LogRow = "log"
  private final val EntryRow = "entry"
  private final val MarkRow = "wm"
  private final val SnapRow = "snap"

  // the tagged layout's columns, by ordinal: a source fills its own
  // columns and leaves the rest null
  private final val Src = 0
  private final val Part = 3
  private final val Koff = 4 // log/snapshot koffset; entry min_koffset
  private final val Hi = 5 // entry max_koffset; watermark wm
  private final val End = 6 // watermark end_offset
  private final val Action = 7 // log action; entry packed kind
  private final val SeqNr = 8 // log/snapshot seq_nr; entry a_seq_nr
  private final val DelTo = 9 // log delete_to; entry a_delete_to
  private final val AOff = 10 // entry a_offset
  private final val Purged = 11 // entry saw_purge
  private final val Ev = 12 // the output row a log/snapshot row carries

  private val layout: Seq[(String, DataType)] = Seq(
    "_src" -> StringType,
    "topic" -> StringType,
    "id" -> StringType,
    "part_no" -> IntegerType,
    "koffset" -> LongType,
    "k_hi" -> LongType,
    "end_offset" -> LongType,
    "action" -> StringType,
    "seq_nr" -> LongType,
    "delete_to" -> LongType,
    "a_offset" -> LongType,
    "saw_purge" -> BooleanType
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
    val (entries, wm) = StreamingHeadCache.keyedLayers(spark, cacheDir, topic, id)
    tag(
      EntryRow, entries, ev,
      "topic" -> col("topic"), "id" -> col("id"), "part_no" -> col("part_no"),
      "koffset" -> col("min_koffset"), "k_hi" -> col("max_koffset"),
      "action" -> col("kind"), "seq_nr" -> col("a_seq_nr"),
      "delete_to" -> col("a_delete_to"), "a_offset" -> col("a_offset"),
      "saw_purge" -> col("saw_purge")
    ).unionByName(
      tag(
        MarkRow, wm, ev,
        "topic" -> col("topic"), "id" -> lit(id), "part_no" -> col("part_no"),
        "k_hi" -> col("wm"), "end_offset" -> col("end_offset")
      )
    )
  }

  /** The log's rows, tagged; `ev` carries `outCols` as a nullable struct
    * (a snapshot row's `ev` must cast to the same type).
    */
  private def logRows(log: DataFrame, outCols: Seq[String]): DataFrame = {
    val ev = struct(outCols.map(col): _*)
    val evType = StructType(
      log.select(ev).schema.head.dataType.asInstanceOf[StructType].map(_.copy(nullable = true))
    )
    tag(
      LogRow, log, evType,
      "topic" -> col("topic"), "id" -> col("id"), "part_no" -> col("part_no"),
      "koffset" -> col("koffset"), "action" -> col("action"),
      "seq_nr" -> col("seq_nr"), "delete_to" -> col("delete_to"), "ev" -> ev
    )
  }

  /** The cache-gated read of ONE journal — row-identical to
    * [[Replay.mergedReadAtWatermark]] over the key-filtered log, the
    * key-filtered [[StreamingHeadCache.readHeads]] and the cache's
    * [[StreamingHeadCache.watermark]]. `log` must hold that journal
    * only. Output columns are the replay contract's plus whichever
    * envelope columns the log carries, in seq_nr order.
    */
  def read(
      spark: SparkSession,
      log: DataFrame,
      cacheDir: String,
      topic: String,
      id: String,
      strict: Boolean = false
  ): DataFrame = {
    val rows = logRows(log, Replay.outColumns(log))
    val evType = rows.schema("ev").dataType.asInstanceOf[StructType]
    fold(rows.unionByName(cacheRows(spark, cacheDir, topic, id, evType)))(
      (group: Iterator[Row]) => replay(group, strict)._1.map(_.getStruct(Ev))
    )(evType)
  }

  /** Snapshot-floored recovery of ONE journal — row-identical to
    * [[Snapshots.recoveryOver]] of [[read]] and the key-filtered
    * `snapshots` (topic, id, seq_nr, koffset, payload): the latest
    * snapshot, then the events above it, `src`-tagged, in seq_nr order.
    */
  def recover(
      spark: SparkSession,
      log: DataFrame,
      snapshots: DataFrame,
      cacheDir: String,
      topic: String,
      id: String
  ): DataFrame = {
    val cols = Seq("topic", "id", "seq_nr", "koffset", "payload")
    val rows = logRows(log, cols)
    val evType = rows.schema("ev").dataType.asInstanceOf[StructType]
    val snaps = tag(
      SnapRow, snapshots, evType,
      "topic" -> col("topic"), "id" -> col("id"), "seq_nr" -> col("seq_nr"),
      "ev" -> struct(cols.map(col): _*)
    )
    val out = StructType(
      evType.fields.take(2) ++ (StructField("src", StringType) +: evType.fields.drop(2))
    )
    fold(
      rows
        .unionByName(cacheRows(spark, cacheDir, topic, id, evType))
        .unionByName(snaps)
    )((group: Iterator[Row]) => {
      val (events, snapRows) = replay(group, strict = false)
      // latest snapshot by seq_nr (a null seq_nr sorts lowest, as the
      // composition's descending window puts it last)
      val latest = snapRows
        .map(_.getStruct(Ev))
        .maxByOption(s => if (s.isNullAt(2)) Long.MinValue else s.getLong(2))
      def emit(src: String, e: Row) =
        Row(e.get(0), e.get(1), src, e.get(2), e.get(3), e.get(4))
      latest.map(emit("snapshot", _)).toSeq ++ events
        .map(_.getStruct(Ev))
        .filter(e => latest.forall(s => s.isNullAt(2) || e.getLong(2) > s.getLong(2)))
        .map(emit("event", _))
    })(out)
  }

  /** The one exchange: group the tagged rows on the key, fold each group. */
  private def fold(tagged: DataFrame)(f: Iterator[Row] => Seq[Row])(
      out: StructType
  ): DataFrame =
    tagged
      .groupByKey((r: Row) => (r.getString(1), r.getString(2)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING)
      )
      .flatMapGroups((_: (String, String), group: Iterator[Row]) => f(group))(
        Encoders.row(out)
      )

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
  private def headOf(entries: Seq[Row], wm: Map[Int, Long]): Option[HeadInfo] = {
    val live = entries
      .filter(e => wm.get(e.getInt(Part)).forall(e.getLong(Hi) > _))
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
      marks(cache.filter(_.getString(Src) == MarkRow))._1
    )

  /** The fold: the replay's surviving log rows in seq_nr order, plus the
    * group's snapshot rows untouched.
    */
  private def replay(group: Iterator[Row], strict: Boolean): (Seq[Row], Seq[Row]) = {
    val bySrc = group.toSeq.groupBy(_.getString(Src)).withDefaultValue(Seq.empty)
    val log = bySrc(LogRow)
    val (wm, end) = marks(bySrc(MarkRow))
    def is(r: Row, a: String) = a == r.getString(Action)
    def koff(r: Row) = opt(r, Koff)
    // the eventual/tail boundary of a row: its OWN partition's stored
    // watermark; −1 where the cache holds none
    def bound(r: Row): Option[Long] = part(r).map(wm.getOrElse(_, -1L))

    // the gate: an append head, or a row the cache never consumed. A
    // partition whose merged end_offset is null — never covered, or
    // covered only by layers that did not record how far they consumed —
    // counts as uncovered, so its journals' tails are UN-gated: the extra
    // read is safe, a skipped one would lose rows (the same choice as
    // the composition's null end_offset branch).
    val gated =
      headOf(bySrc(EntryRow), wm).exists(_.isInstanceOf[HeadInfo.Append]) ||
        log.exists(r =>
          part(r).flatMap(end.get) match {
            case None    => true
            case Some(e) => koff(r).exists(_ >= e)
          }
        )

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
    // state as of the watermark), F5-checked in strict mode
    val prefix = log.filter(r => koff(r).exists(k => bound(r).exists(k <= _)))
    val eventual = prefix.filter(is(_, "append")).filter(survives(cut(prefix)))
    if (strict)
      eventual.groupBy(_.getLong(SeqNr)).collectFirst {
        case (s, copies) if copies.size > 1 =>
          throw new IllegalStateException(
            s"Data integrity violated: duplicate seq_nr $s for journal " +
              s"${copies.head.getString(1)}/${copies.head.getString(2)}"
          )
      }

    // tail leg: raw appends above the boundary, when the gate is open
    val tail =
      if (!gated) Seq.empty
      else log.filter(r => is(r, "append") && koff(r).exists(k => bound(r).exists(k > _)))

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
