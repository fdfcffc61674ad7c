package graft.journal

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One replication micro-batch as ONE keyed fold — the write-path twin of
  * [[CachedReplay]]. The batch's rows and the stored journal and
  * metajournal rows of the partitions it touches are tagged, unioned and
  * exchanged ONCE on the store's partition key `(topic, bucket)`; a plain
  * Scala fold then applies, per journal, what [[Replicate.mergeBatch]]
  * does with a chain of joins, windows and aggregates:
  *
  *   - the offset guard against the stored pointer2 watermark,
  *   - the purge cut and the widest delete after it,
  *   - append dedup on `seq_nr` against the kept rows,
  *   - the metajournal combine rules listed in `mergeBatch`'s comments.
  *
  * Every derived column (`record_id`, `meta_record_id`, `tags`,
  * `created_date`, the expiry pair) is computed after the fold by the
  * same column expressions the DataFrame form uses, so the two forms
  * cannot drift; `mergeBatch` stays the law anchor the fold is checked
  * against (ReplicateFoldSpec). The folded frame keeps each `(topic,
  * bucket)` partition inside one task, so writing it partitioned by that
  * key yields one data file per partition. pointer2 — one row per Kafka
  * partition — is merged on the driver ([[touches]], [[pointer2]]).
  *
  * Kafka coordinates (`topic`, `part_no`, `koffset`) and `id` are
  * non-null in every batch row.
  */
object ReplicateFold {

  // row tags: the sources going in, the kinds coming out
  private final val Batch = "b"
  private final val Kept = "j" // a stored journal row, kept as it is
  private final val Head = "m" // a head whose expiry the stored side decides
  private final val Appended = "n" // a surviving batch append
  private final val BatchHead = "mb" // a head whose expiry the batch decides

  // the tagged layout's columns, by ordinal
  private final val Src = 0
  private final val Topic = 1
  private final val Id = 2
  private final val Part = 4
  private final val Koff = 5
  private final val SeqNr = 6
  private final val Ts = 7
  private final val Origin = 14
  private final val Metadata = 16
  private final val Action = 18
  private final val DelTo = 19
  private final val Created = 20
  private final val CreatedDate = 21
  private final val Updated = 22
  private final val First = 23
  private final val Lak = 24
  private final val Props = 25
  private final val Ead = 26
  private final val Eon = 27
  private final val BCreated = 28 // the batch head's `created`
  private final val LastTs = 29 // the batch's last append `ts`

  /** Input and output share one layout; a source fills its own columns. */
  private val layout: StructType = {
    val j = Replicate.Layout.journal
    val m = Replicate.Layout.metajournal
    StructType(Seq(
      StructField("_src", StringType), j("topic"), j("id"), j("bucket"),
      j("part_no"), j("koffset"), j("seq_nr"), j("ts"), j("payload"),
      j("payload_type"), j("payload_txt"), j("payload_bin"), j("tags"),
      StructField("tags_csv", StringType), j("origin"), j("version"),
      j("metadata"), j("meta_record_id"), StructField("action", StringType),
      m("delete_to"), m("created"), m("created_date"), m("updated"),
      m("first_koffset"), m("last_append_koffset"), m("properties"),
      m("expire_after_days"), m("expire_on"),
      StructField("b_created", TimestampType), StructField("last_ts", TimestampType)
    ))
  }

  private val journalCols = Seq("topic", "id", "part_no", "koffset", "seq_nr",
    "ts", "payload", "payload_type", "payload_txt", "payload_bin", "tags",
    "origin", "version", "metadata", "meta_record_id")
  private val headCols = Seq("topic", "id", "part_no", "koffset", "seq_nr",
    "delete_to", "created", "created_date", "updated", "first_koffset",
    "origin", "last_append_koffset", "properties", "expire_after_days",
    "expire_on")
  private val batchCols = Seq("topic", "id", "part_no", "koffset", "seq_nr",
    "ts", "payload", "payload_type", "payload_txt", "payload_bin", "tags_csv",
    "origin", "version", "metadata", "action", "delete_to")

  private def tag(src: String, df: DataFrame, filled: Seq[String]): DataFrame = {
    val have = filled.toSet
    df.select(layout.map { f =>
      val c =
        if (f.name == "_src") lit(src)
        else if (f.name == "bucket") Replicate.bucketOf(col("id"))
        else if (have(f.name)) col(f.name)
        else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The watermark guard of `Replicate.mergeBatch`: a row below its
    * partition's stored `next_offset` was replicated already.
    */
  private def admitted(next: Map[(String, Int), Long], topic: String, part: Int, koffset: Any): Boolean =
    next.get((topic, part)).forall(n => koffset != null && koffset.asInstanceOf[Long] >= n)

  /** `(topic, part_no) -> next_offset` of stored pointer2 rows. */
  def nextOffsets(pointer2: Seq[Row]): Map[(String, Int), Long] =
    pointer2.collect {
      case r if !r.isNullAt(2) => (r.getString(0), r.getInt(1)) -> r.getLong(2)
    }.toMap

  /** What a batch holds per `(topic, part_no, bucket)`: its rows that pass
    * the guard and the highest offset among them.
    */
  final case class Touch(topic: String, part: Int, bucket: Int, maxKoffset: Option[Long], rows: Long)

  /** The batch's [[Touch]]es in ONE job and no exchange: each task sums its
    * own rows, the driver adds the tasks up.
    */
  def touches(batch: DataFrame, next: Map[(String, Int), Long]): Seq[Touch] = {
    val out = StructType.fromDDL(
      "topic STRING, part_no INT, bucket INT, max_koffset BIGINT, n BIGINT")
    batch
      .select(col("topic"), col("part_no"), col("koffset"), Replicate.bucketOf(col("id")))
      .mapPartitions { (rows: Iterator[Row]) =>
        val acc = mutable.HashMap.empty[(String, Int, Int), (Option[Long], Long)]
        rows.foreach { r =>
          val k = (r.getString(0), r.getInt(1), r.getInt(3))
          val (mx, n) = acc.getOrElse(k, (None, 0L))
          acc(k) =
            if (!admitted(next, k._1, k._2, r.get(2))) (mx, n)
            else (greatestL(mx, opt(r, 2)), n + 1)
        }
        acc.iterator.map { case ((t, p, b), (mx, n)) => Row(t, p, b, boxed(mx), n) }
      }(Encoders.row(out))
      .collect()
      .groupBy(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      .map { case ((t, p, b), rs) =>
        Touch(t, p, b, rs.flatMap(opt(_, 3)).maxOption, rs.map(_.getLong(4)).sum)
      }
      .toSeq
  }

  /** pointer2 after the batch, as `mergeBatch` computes it: each partition
    * the guard admitted rows of advances to its highest offset + 1 and
    * adds their count; the others keep their row.
    */
  def pointer2(stored: Seq[Row], touched: Seq[Touch]): Seq[Row] = {
    val old = stored.map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val batch = touched
      .groupBy(t => (t.topic, t.part))
      .view
      .mapValues(ts => (ts.flatMap(_.maxKoffset).maxOption.map(_ + 1L), ts.map(_.rows).sum))
      .filter(_._2._2 > 0L)
      .toMap
    (old.keySet ++ batch.keySet).toSeq.sorted.map { k =>
      val e = old.get(k)
      val b = batch.get(k)
      Row(k._1, k._2,
        boxed(greatestL(e.flatMap(opt(_, 2)), b.flatMap(_._1))),
        e.flatMap(opt(_, 3)).getOrElse(0L) + b.fold(0L)(_._2))
    }
  }

  /** The folded frame: each touched partition's journal and metajournal
    * rows after the batch, in `slots` tasks, every `(topic, bucket)`
    * inside one task. `journal` and `metajournal` hold the stored rows of
    * the batch's partitions (extra columns such as `bucket` are ignored).
    * Read it through [[journalOf]] and [[metajournalOf]].
    */
  def fold(
      journal: DataFrame,
      metajournal: DataFrame,
      batch: DataFrame,
      next: Map[(String, Int), Long],
      slots: Int
  ): DataFrame =
    tag(Kept, journal, journalCols)
      .unionByName(tag(Head, metajournal, headCols))
      .unionByName(tag(Batch, batch, batchCols))
      // an explicit partition count: adaptive execution must not coalesce
      // the write that follows into one task
      .repartition(slots, col("topic"), col("bucket"))
      .sortWithinPartitions("topic", "id")
      .mapPartitions((rows: Iterator[Row]) => foldSorted(rows, next))(Encoders.row(layout))

  /** The journal table of a folded frame: [[Replicate.Layout.journal]]. */
  def journalOf(folded: DataFrame): DataFrame = {
    val appended = col("_src") === Appended
    folded
      .filter(col("_src").isin(Kept, Appended))
      .select(
        col("part_no"), col("id"), col("seq_nr"), col("koffset"), col("ts"),
        col("payload"), col("payload_type"), col("payload_txt"), col("payload_bin"),
        when(appended, split(col("tags_csv"), ",")).otherwise(col("tags")).as("tags"),
        col("origin"), col("version"), col("metadata"),
        // a new row is stamped with its head's record_id after the batch
        when(appended, JournalOps.recordId(col("topic"), col("id"), col("first_koffset")))
          .otherwise(col("meta_record_id")).as("meta_record_id"),
        col("topic"), col("bucket")
      )
  }

  /** The metajournal table of a folded frame: [[Replicate.Layout.metajournal]]. */
  def metajournalOf(folded: DataFrame): DataFrame = {
    val batchWins = col("_src") === BatchHead
    folded
      .filter(col("_src").isin(Head, BatchHead))
      .select(
        col("id"), col("part_no"), col("koffset"), col("seq_nr"), col("delete_to"),
        col("created"),
        coalesce(col("created_date"), to_date(col("b_created"))).as("created_date"),
        col("updated"), col("first_koffset"),
        JournalOps.recordId(col("topic"), col("id"), col("first_koffset")).as("record_id"),
        col("origin"), col("last_append_koffset"), col("properties"),
        when(batchWins, JournalOps.expireAfterDays(col("properties")))
          .otherwise(col("expire_after_days")).as("expire_after_days"),
        when(batchWins, JournalOps.expireOn(col("last_ts"), col("properties")))
          .otherwise(col("expire_on")).as("expire_on"),
        col("topic"), col("bucket")
      )
  }

  /** Folds each journal's run of a `(topic, id)`-sorted partition. */
  private def foldSorted(rows: Iterator[Row], next: Map[(String, Int), Long]): Iterator[Row] = {
    val in = rows.buffered
    Iterator
      .continually(in)
      .takeWhile(_.hasNext)
      .flatMap { _ =>
        val (topic, id) = (in.head.getString(Topic), in.head.getString(Id))
        val group = mutable.ArrayBuffer.empty[Row]
        while (in.hasNext && in.head.getString(Topic) == topic && in.head.getString(Id) == id)
          group += in.next()
        foldJournal(group.toSeq, next)
      }
  }

  /** One journal: the stored rows of its partition plus its batch rows. */
  private def foldJournal(rows: Seq[Row], next: Map[(String, Int), Long]): Seq[Row] = {
    def is(action: String)(r: Row) = action == r.getString(Action)
    val batch = rows.filter { r =>
      r.getString(Src) == Batch && admitted(next, r.getString(Topic), r.getInt(Part), r.get(Koff))
    }
    val stored = rows.filter(_.getString(Src) == Kept)
    val heads = rows.filter(_.getString(Src) == Head)

    // the batch's purge cut and its widest delete after the cut
    val purge = batch.filter(is("purge")).flatMap(opt(_, Koff)).maxOption
    def afterPurge(r: Row) = purge.forall(p => !r.isNullAt(Koff) && r.getLong(Koff) > p)
    val deleteTo = batch.filter(r => is("delete")(r) && afterPurge(r)).flatMap(opt(_, DelTo)).maxOption
    def aboveDelete(r: Row) = !r.isNullAt(SeqNr) && r.getLong(SeqNr) > deleteTo.getOrElse(0L)

    // stored rows survive unless purged or truncated; batch appends that
    // survive the batch's own cut are new unless a kept row has their seq_nr
    val kept = if (purge.isEmpty) stored.filter(aboveDelete) else Seq.empty
    val keptSeqNrs = kept.map(_.getLong(SeqNr)).toSet
    val appends = batch.filter(r => is("append")(r) && afterPurge(r))
    val newRows = appends.filter(r => aboveDelete(r) && !keptSeqNrs(r.getLong(SeqNr)))

    // the batch's head (JournalOps.metajournal over its user actions)
    val user = batch.filter(r => !r.isNullAt(Action) && !is("mark")(r) && afterPurge(r))
    val batchHead =
      if (user.isEmpty) None
      else {
        val lastAppend = appends.maxByOption(r => (r.get(Koff), r.get(Metadata)))(nullsFirst)
        Some(new Array[Any](layout.size).tap { h =>
          h(Part) = least(user.map(_.get(Part)))
          h(Koff) = greatest(user.map(_.get(Koff)))
          h(SeqNr) = math.max(appends.flatMap(opt(_, SeqNr)).maxOption.getOrElse(0L), deleteTo.getOrElse(0L))
          h(DelTo) = boxed(deleteTo)
          h(Created) = least(user.map(_.get(Ts)))
          h(Updated) = greatest(user.map(_.get(Ts)))
          h(First) = least(user.map(_.get(Koff)))
          h(Origin) = user.minBy(r => (r.get(Koff), r.get(Origin)))(nullsFirst).get(Origin)
          h(Lak) = lastAppend.map(_.get(Koff)).orNull
          h(Props) = lastAppend.map(_.get(Metadata)).orNull
          h(LastTs) = appends.maxByOption(r => (r.get(Koff), r.get(Ts)))(nullsFirst).map(_.get(Ts)).orNull
        })
      }

    // a purge drops the stored head; the batch's head then re-creates it
    val kept0 = if (purge.isEmpty) heads.map(Option(_)) else Seq.empty
    val merged = (if (kept0.isEmpty && batchHead.nonEmpty) Seq(None) else kept0)
      .map(combine(rows.head, _, batchHead))
    val headFirst = merged.headOption.map(_.get(First)).orNull

    kept ++ newRows.map { r =>
      Row.fromSeq(r.toSeq.updated(Src, Appended).updated(First, headFirst))
    } ++ merged
  }

  /** The metajournal combine of `Replicate.mergeBatch`: the stored head
    * `e` (if any) with the batch's head `b` (if any).
    */
  private def combine(key: Row, e: Option[Row], b: Option[Array[Any]]): Row = {
    def ev(i: Int): Any = e.map(_.get(i)).orNull
    def bv(i: Int): Any = b.map(_(i)).orNull
    val out = new Array[Any](layout.size)
    out(Topic) = key.get(Topic)
    out(Id) = key.get(Id)
    out(3) = key.get(3) // bucket
    out(Part) = Option(ev(Part)).getOrElse(bv(Part))
    Seq(Koff, SeqNr, DelTo, Updated, Lak).foreach(i => out(i) = greatest(Seq(ev(i), bv(i))))
    out(Created) = Option(ev(Created)).getOrElse(bv(Created))
    out(CreatedDate) = ev(CreatedDate) // else to_date(b_created), after the fold
    out(BCreated) = bv(Created)
    out(First) = least(Seq(ev(First), bv(First)))
    // creation-time facts come from the side that saw the journal first
    out(Origin) =
      if (ev(First) == null) bv(Origin)
      else if (bv(First) == null) ev(Origin)
      else if (cmp(ev(First), bv(First)) <= 0) ev(Origin)
      else bv(Origin)
    // expiry and properties travel with the latest append
    val batchWins = bv(Lak) != null && (ev(Lak) == null || cmp(bv(Lak), ev(Lak)) >= 0)
    if (batchWins) {
      out(Src) = BatchHead
      out(Props) = bv(Props)
      out(LastTs) = bv(LastTs)
    } else {
      out(Src) = Head
      out(Props) = ev(Props)
      out(Ead) = ev(Ead)
      out(Eon) = ev(Eon)
    }
    Row.fromSeq(out.toSeq)
  }

  private def opt(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))

  private def boxed(o: Option[Long]): java.lang.Long = o.map(Long.box).orNull

  private def greatestL(a: Option[Long], b: Option[Long]): Option[Long] = (a ++ b).maxOption

  private def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** SQL `greatest` / `least`: nulls skipped, null when all are null. */
  private def greatest(xs: Seq[Any]): Any = xs.filter(_ != null).reduceOption((a, b) => if (cmp(a, b) >= 0) a else b).orNull
  private def least(xs: Seq[Any]): Any = xs.filter(_ != null).reduceOption((a, b) => if (cmp(a, b) <= 0) a else b).orNull

  /** Struct order as SQL `min`/`max` of `struct(k, v)` compare it: field
    * by field, a null field lowest.
    */
  private val nullsFirst: Ordering[(Any, Any)] = (x, y) => {
    def f(a: Any, b: Any) =
      if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else cmp(a, b)
    val c = f(x._1, y._1)
    if (c != 0) c else f(x._2, y._2)
  }
}
