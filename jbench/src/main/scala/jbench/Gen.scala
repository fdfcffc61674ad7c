package jbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: scala.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The plain-Scala model of one journal, kept independently of the
  * engine: every append (seq_nr → payload), the last purge and the
  * widest delete after it. Seq_nrs run monotonically per journal and are
  * never reset by a purge, as in the repository's action-log derivation.
  */
final class JournalModel {
  val payloads = mutable.LinkedHashMap.empty[Long, Double] // live incarnation
  var lastSeq = 0L // highest seq_nr ever appended
  var deleteTo = 0L // widest delete since the last purge
  def append(p: Double): Long = { lastSeq += 1; payloads(lastSeq) = p; lastSeq }
  def purge(): Unit = { payloads.clear(); deleteTo = 0L }
  def delete(to: Long): Unit = deleteTo = math.max(deleteTo, to)
  /** Highest appended seq_nr since the last purge (deletes keep it). */
  def pointer: Option[Long] = if (payloads.isEmpty) None else Some(payloads.keys.max)
  /** Seq_nrs a replay must return, in order. */
  def visible: Seq[Long] = payloads.keys.filter(_ > deleteTo).toSeq.sorted
}

/** Seeded action-log generator. Journal sizes are Zipf-skewed (a seeded
  * permutation decides which journals are hot). The action mix is the one
  * the repository's action-log derivation (`graft.model.ActionLog`) gives
  * over its five equally likely event types: an `error` is a delete (every
  * third a mark), one `signup` in five a purge, anything else an append,
  * so 76 % appends, 13.3 % deletes, 6.7 % marks and 4 % purges. A delete
  * truncates to half the journal's appends so far, as in the derivation;
  * a delete of a journal with no live event degrades to a mark, since a
  * client clamps its delete to the pointer. Offsets are dense per
  * (topic, part_no).
  */
final class LogGen(seed: Long, nJournals: Int, skew: Double) {
  private val rnd = new scala.util.Random(seed)
  private val zipf = new Zipf(nJournals, skew)
  private val perm = rnd.shuffle((0 until nJournals).toVector)
  val topics = 2
  val partitions = 4
  val models: Array[JournalModel] = Array.fill(nJournals)(new JournalModel)
  private val nextOffset = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
  private var eventId = 0L
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  def topicOf(j: Int): String = s"t${j % topics}"
  def partOf(j: Int): Int = (j / topics) % partitions
  def idOf(j: Int): String = f"j$j%05d"
  def idIndex(id: String): Int = id.drop(1).toInt
  def key(j: Int): (String, String) = (topicOf(j), idOf(j))

  /** Draws a journal with the generator's skew. */
  def pick(r: scala.util.Random): Int = perm(zipf.sample(r))

  /** Actions of the journals drawn for `n` arrivals, as log rows. */
  def chunk(n: Int): Seq[Row] = (0 until n).map { _ =>
    val j = pick(rnd)
    val m = models(j)
    val kind = rnd.nextInt(15) match {
      case 0 => "mark"
      case 1 | 2 => if (m.payloads.isEmpty) "mark" else "delete"
      case _ => if (rnd.nextInt(20) == 0) "purge" else "append"
    }
    val (t, p) = (topicOf(j), partOf(j))
    val off = nextOffset((t, p)); nextOffset((t, p)) = off + 1
    eventId += 1
    val ts = new Timestamp(t0 + eventId * 1000L)
    kind match {
      case "append" =>
        val payload = rnd.nextInt(1000000) / 100.0
        val seq = m.append(payload)
        LogGen.row(t, p, off, idOf(j), kind, ts, seq, null, payload, eventId)
      case "delete" =>
        val to = (m.lastSeq + 1) / 2
        m.delete(to)
        LogGen.row(t, p, off, idOf(j), kind, ts, null, to, null, eventId)
      case "purge" =>
        m.purge()
        LogGen.row(t, p, off, idOf(j), kind, ts, null, null, null, eventId)
      case _ =>
        LogGen.row(t, p, off, idOf(j), kind, ts, null, null, null, eventId)
    }
  }

  /** Writes `rows` as one parquet chunk directory. */
  def write(spark: SparkSession, rows: Seq[Row], dir: String): Unit =
    spark
      .createDataFrame(spark.sparkContext.parallelize(rows, 1), LogGen.schema)
      .write
      .parquet(dir)
}

object LogGen {
  /** The repository's action-log schema (graft.model.ActionLog). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("part_no", IntegerType),
    StructField("koffset", LongType),
    StructField("id", StringType),
    StructField("action", StringType),
    StructField("ts", TimestampType),
    StructField("seq_nr", LongType),
    StructField("delete_to", LongType),
    StructField("payload", DoubleType),
    StructField("payload_type", StringType),
    StructField("payload_txt", StringType),
    StructField("payload_bin", BinaryType),
    StructField("tags_csv", StringType),
    StructField("origin", StringType),
    StructField("version", StringType),
    StructField("metadata", StringType),
    StructField("event_id", LongType),
    StructField("props", StringType)
  ))

  private def row(
      topic: String, part: Int, off: Long, id: String, action: String,
      ts: Timestamp, seq: Any, deleteTo: Any, payload: Any, eventId: Long
  ): Row = {
    val append = action == "append"
    Row(
      topic, part, off, id, action, ts, seq, deleteTo, payload,
      if (append) "json" else null,
      if (append) s"""{"e":$eventId}""" else null,
      null,
      if (append) (if (eventId % 2 == 0) "tag-a" else "") else null,
      s"origin-${eventId % 3}",
      "1.0.0",
      if (append) "{}" else null,
      eventId,
      "{}"
    )
  }
}

/** Seeded retrieval corpus: documents of 10–99 words over a Zipf
  * vocabulary, float embeddings (the store keeps their int8 codes) and
  * media bytes derived from the text. Written in the layout the pipeline
  * reads (`documents.parquet`, `embeddings.parquet`); document lengths
  * follow the repository's test corpus in that layout.
  */
final class CorpusGen(seed: Long, vocabSize: Int, vocabSkew: Double, dim: Int) {
  private val rnd = new scala.util.Random(seed * 31 + 7)
  private val zipf = new Zipf(vocabSize, vocabSkew)
  private val vocab = Vector.tabulate(vocabSize)(i => s"w${Integer.toString(i, 36)}")

  def doc(id: Long): (Long, String) = {
    val n = 10 + rnd.nextInt(90)
    (id, Seq.fill(n)(vocab(zipf.sample(rnd))).mkString(" "))
  }

  def embedding(): Array[Float] = Array.fill(dim)((rnd.nextGaussian() * 0.1).toFloat)

  /** Documents and embeddings for ids [from, until), written under `dir`
    * as parquet directories with the corpus file names.
    */
  def write(spark: SparkSession, from: Long, until: Long, dir: String): Unit = {
    import spark.implicits._
    val docs = (from until until).map(doc)
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    (from until until).map(i => (i, embedding()))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}

/** On-disk footprint of store directories. */
object Fs {
  /** (bytes of data files, number of parquet files) under `dirs`. */
  def usage(dirs: Seq[String]): (Long, Long) = {
    var bytes, files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.endsWith(".crc")) {
        bytes += f.length
        if (f.getName.endsWith(".parquet")) files += 1
      }
    dirs.foreach(d => walk(new java.io.File(d)))
    (bytes, files)
  }
}
