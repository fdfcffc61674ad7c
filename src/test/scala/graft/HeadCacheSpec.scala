package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.journal.JournalOps
import graft.model.ActionLog
import graft.streaming.StreamingHeadCache

/** Laws of the live head plane (the reference's HeadCache analogue):
  *
  *   - maintained ≡ whole-log fold: at EVERY chunk boundary, with the
  *     replicated watermark advancing chunk-aligned behind the arrivals,
  *     the cache-merged heads equal `JournalOps.headInfo` over the log
  *     prefix at that watermark (the repo's chunking-independence
  *     standard, here with eviction live);
  *   - redelivery no-op: re-appending a batch under its own layer leaves
  *     the read identical (T1 exactly-once), including the just-written
  *     layer after a protected compaction;
  *   - compaction: row-identical reads, fully-replicated entries
  *     physically evicted, layers folded;
  *   - remove-on-replicate round trip: a journal whose tail replicates
  *     leaves the cache; a fresh action re-creates it from the new
  *     actions alone;
  *   - streaming twin: headStream over a file source materializes the
  *     same table.
  *
  * head_delete_to is compared through the typed fold only (the
  * declarative window form takes the unclamped max — the JournalOpsSpec
  * exclusion).
  */
class HeadCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-headcache-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def actions = ActionLog.fromEvents(spark, sfDir)

  test("lifecycle queries tolerate an EMPTY action log (no null-primitive throw)") {
    val empty = actions.limit(0)
    assert(StreamingHeadCache.gatedReplayQuery(spark, empty).count() == 0L)
    assert(StreamingHeadCache.cachedRecoveryQuery(spark, empty).count() == 0L)
    assert(StreamingHeadCache.lifecycleQuery(spark, empty).count() == 0L)
    // the empty short-circuits keep the non-empty column contract
    assert(
      StreamingHeadCache
        .gatedReplayQuery(spark, empty)
        .columns
        .toSeq == Seq("topic", "id", "seq_nr", "koffset", "ts", "payload")
    )
    assert(
      StreamingHeadCache
        .lifecycleQuery(spark, empty)
        .columns
        .toSeq == Seq(
        "topic", "id", "part_no", "kind",
        "head_offset", "head_seq_nr", "lag", "tail_skippable")
    )
  }

  private val HeadCols = Seq("topic", "id", "kind", "head_offset", "head_seq_nr")

  private def heads(storeDir: String): DataFrame =
    StreamingHeadCache
      .readHeads(spark, storeDir)
      .select(HeadCols.map(col).toIndexedSeq: _*)

  private def batchHeads(prefix: DataFrame, wmVal: Long): DataFrame =
    JournalOps
      .headInfo(
        prefix,
        prefix.select("topic", "part_no").distinct().withColumn("wm", lit(wmVal))
      )
      .select(HeadCols.map(col).toIndexedSeq: _*)

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.exceptAll(want).count() == 0, s"$clue: extra rows")
    assert(want.exceptAll(got).count() == 0, s"$clue: missing rows")
  }

  private def rows(storeDir: String): Seq[String] =
    StreamingHeadCache
      .readHeads(spark, storeDir)
      .collect()
      .map(_.mkString("|"))
      .sorted
      .toSeq

  test(
    "maintained heads equal the whole-log fold at every chunk boundary, " +
      "watermark advancing chunk-aligned (eviction live)"
  ) {
    val a = actions.cache()
    val n = 4
    val maxOff = a.agg(max("koffset")).head().getLong(0)
    val step = maxOff / n + 1
    val tmp = Files.createTempDirectory("graft-head-law").toString
    val parts = a.select("topic", "part_no").distinct().cache()
    (0 until n).foreach { i =>
      // replication lags one full chunk: while chunk i arrives, chunks
      // up to i-2 are replicated — the cache holds a two-chunk window
      val wmVal = math.max(-1L, (i - 1).toLong * step - 1L)
      val chunk =
        a.filter(col("koffset") >= i * step && col("koffset") < (i + 1) * step)
      StreamingHeadCache.appendBatch(
        spark,
        chunk,
        tmp,
        parts.withColumn("wm", lit(wmVal)),
        layer = i + 1L
      )
      val prefix = a.filter(col("koffset") < (i + 1) * step)
      assertSame(heads(tmp), batchHeads(prefix, wmVal), s"boundary $i")
    }
    parts.unpersist(false)
    a.unpersist(false)
  }

  test("redelivery no-op, compaction row-identity, physical eviction") {
    val a = actions.cache()
    val n = 4
    val maxOff = a.agg(max("koffset")).head().getLong(0)
    val step = maxOff / n + 1
    val tmp = Files.createTempDirectory("graft-head-redeliver").toString
    val parts = a.select("topic", "part_no").distinct().cache()
    def chunk(i: Int): DataFrame =
      a.filter(col("koffset") >= i * step && col("koffset") < (i + 1) * step)
    def wmDf(i: Int): DataFrame =
      parts.withColumn("wm", lit(math.max(-1L, (i - 1).toLong * step - 1L)))
    (0 until n).foreach(i =>
      StreamingHeadCache.appendBatch(spark, chunk(i), tmp, wmDf(i), i + 1L)
    )
    val before = rows(tmp)

    // T1 redelivery of the LAST batch (the uncommitted one): no-op
    StreamingHeadCache.appendBatch(spark, chunk(n - 1), tmp, wmDf(n - 1), n.toLong)
    assert(rows(tmp) == before, "redelivered batch must rewrite its own layer")

    // compaction with the just-written layer protected: reads identical,
    // and the protected layer can STILL be redelivered afterwards
    StreamingHeadCache.compactHeadCache(spark, tmp, protectLayersAbove = n - 1L)
    assert(rows(tmp) == before, "protected compaction must not change reads")
    StreamingHeadCache.appendBatch(spark, chunk(n - 1), tmp, wmDf(n - 1), n.toLong)
    assert(rows(tmp) == before, "post-compaction redelivery must be a no-op")

    // full compaction: row-identical, layers folded, replicated entries
    // physically gone
    StreamingHeadCache.compactHeadCache(spark, tmp)
    assert(rows(tmp) == before, "full compaction must not change reads")
    val raw = spark.read.parquet(
      graft.util.DirSwap
        .resolve(tmp, "entries")
        .toString
    )
    assert(
      raw.select("layer").distinct().count() == 1,
      "delta layers must fold into the base"
    )
    val wmNow = math.max(-1L, (n - 2).toLong * step - 1L)
    assert(
      raw.filter(col("max_koffset") <= wmNow).count() == 0,
      "fully-replicated entries must be physically evicted at compaction"
    )
    parts.unpersist(false)
    a.unpersist(false)
  }

  test("remove-on-replicate round trip: a journal leaves the cache and a fresh action re-creates it") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-head-evict").toString
    val parts = a.select("topic", "part_no").distinct().cache()
    val maxOff = a.agg(max("koffset")).head().getLong(0)

    StreamingHeadCache.appendBatch(
      spark,
      a,
      tmp,
      parts.withColumn("wm", lit(-1L)),
      layer = 1L
    )
    val live0 = StreamingHeadCache.readHeads(spark, tmp)
    assert(live0.count() > 0)
    val probe = live0.select("topic", "id", "part_no").head()
    val (topic, id, partNo) =
      (probe.getString(0), probe.getString(1), probe.getInt(2))

    // the whole log replicates: every journal leaves the cache
    StreamingHeadCache.appendBatch(
      spark,
      a.limit(0),
      tmp,
      parts.withColumn("wm", lit(maxOff)),
      layer = 2L
    )
    assert(
      StreamingHeadCache.readHeads(spark, tmp).count() == 0,
      "fully-replicated journals must leave the cache"
    )

    // a fresh append re-creates the head from the NEW action alone
    val s2 = spark
    import s2.implicits._
    val fresh = Seq(
      (topic, partNo, maxOff + 1L, id, "append", 1000L, Option.empty[Long])
    ).toDF("topic", "part_no", "koffset", "id", "action", "seq_nr", "delete_to")
    StreamingHeadCache.appendBatch(
      spark,
      fresh,
      tmp,
      parts.withColumn("wm", lit(maxOff)),
      layer = 3L
    )
    val back = StreamingHeadCache.readHeads(spark, tmp).collect()
    assert(back.length == 1)
    val r = back.head
    assert(r.getAs[String]("topic") == topic && r.getAs[String]("id") == id)
    assert(r.getAs[String]("kind") == "append")
    assert(r.getAs[Long]("head_offset") == maxOff + 1L)
    assert(r.getAs[Long]("head_seq_nr") == 1000L)
    parts.unpersist(false)
    a.unpersist(false)
  }

  test("head-cache-gated replay is row-identical to the ungated merged read, and the gate actually prunes") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-head-gate").toString
    val wm = JournalOps.defaultWatermark(a)
    StreamingHeadCache.appendBatch(spark, a, tmp, wm, layer = 1L)
    val cache = StreamingHeadCache.readHeads(spark, tmp).cache()
    // the gate is a strict decision: some journals skip the tail scan
    val appendHeads = cache.filter(col("kind") === "append").count()
    val allJournals = a.select("topic", "id").distinct().count()
    assert(appendHeads > 0 && appendHeads < allJournals,
      s"gate must prune: $appendHeads append-heads of $allJournals journals")
    val cols = Seq("topic", "id", "seq_nr", "koffset", "payload").map(col)
    val gated = graft.journal.Replay
      .mergedReadGated(a, cache)
      .select(cols.toIndexedSeq: _*)
    val ungated = graft.journal.Replay
      .mergedRead(a)
      .select(cols.toIndexedSeq: _*)
    assert(gated.exceptAll(ungated).count() == 0)
    assert(ungated.exceptAll(gated).count() == 0)
    // the registered lifecycle query IS this composition (oracle reuse)
    val viaQuery = StreamingHeadCache
      .gatedReplayQuery(spark, a)
      .select(cols.toIndexedSeq: _*)
    assert(viaQuery.exceptAll(ungated).count() == 0)
    assert(ungated.exceptAll(viaQuery).count() == 0)
    cache.unpersist(false)
    a.unpersist(false)
  }

  test("streaming headStream over a file source materializes the whole-log fold") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-head-stream").toString
    val inDir = s"$tmp/in"
    val storeDir = s"$tmp/store"
    val n = 3
    val maxOff = a.agg(max("koffset")).head().getLong(0)
    val step = maxOff / n + 1
    (0 until n).foreach { i =>
      a.filter(col("koffset") >= i * step && col("koffset") < (i + 1) * step)
        .coalesce(1)
        .write
        .parquet(s"$inDir/chunk_$i")
    }
    val wmVal = -1L // nothing replicated: the cache must hold the full fold
    val parts = a.select("topic", "part_no").distinct().cache()
    val stream = spark.readStream
      .schema(a.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inDir/chunk_*")
    val q = StreamingHeadCache.headStream(
      stream,
      storeDir,
      s"$tmp/ck",
      watermarkOf = _ => parts.withColumn("wm", lit(wmVal)),
      compactEvery = 2
    )
    q.awaitTermination(120000)
    assertSame(heads(storeDir), batchHeads(a, wmVal), "streamed cache")
    parts.unpersist(false)
    a.unpersist(false)
  }

  test("a failed layer publish leaves the committed layer readable") {
    val a = actions.cache()
    val storeDir = Files.createTempDirectory("graft-head-publish").toString
    val wm = JournalOps.defaultWatermark(a)
    StreamingHeadCache.appendBatch(spark, a, storeDir, wm, layer = 1L)
    val before = rows(storeDir)
    assert(before.nonEmpty)
    // a redelivery rewrites layer 1 with different rows; its move into
    // place fails — by a lost rename, then by a storage error
    val entries = graft.util.DirSwap.resolve(storeDir, "entries").toString
    val other = StreamingHeadCache.partialFolds(spark, a.filter(col("koffset") < 5))
    intercept[IllegalStateException] {
      StreamingHeadCache.writeLayer(other, entries, 1L, publish = (_, _) => false)
    }
    assert(rows(storeDir) == before, "the prior layer survives a refused move")
    intercept[java.io.IOException] {
      StreamingHeadCache.writeLayer(
        other, entries, 1L, publish = (_, _) => throw new java.io.IOException("disk gone"))
    }
    assert(rows(storeDir) == before, "the prior layer survives a failing move")
    // a working publish replaces the layer and leaves no aside copy
    StreamingHeadCache.writeLayer(other, entries, 1L)
    assert(rows(storeDir) != before)
    assert(!graft.util.Blob.children(entries).exists(graft.util.Loc.name(_).contains("-old-")))
    a.unpersist(false)
  }

  test("a layer a crash left renamed aside stays readable until its next write puts it back") {
    val a = actions.cache()
    val storeDir = Files.createTempDirectory("graft-head-crash").toString
    val wm = JournalOps.defaultWatermark(a)
    StreamingHeadCache.appendBatch(spark, a, storeDir, wm, layer = 1L)
    val before = rows(storeDir)
    assert(before.nonEmpty)
    val entries = graft.util.DirSwap.resolve(storeDir, "entries").toString
    val target = graft.util.Loc.join(entries, "layer=1")
    def asides = graft.util.Blob.children(entries).filter(graft.util.Loc.name(_).contains("-old-"))
    // a redelivery whose process stops right after writeLayer's first
    // rename: the committed layer=1 sits aside and no layer=1 exists
    assert(graft.util.Blob.move(target, graft.util.Loc.join(entries, ".layer-1-old-crashed")))
    assert(rows(storeDir) == before, "readers read the aside copy in place")
    StreamingHeadCache.repairHeadCache(storeDir)
    assert(asides.size == 1 && !graft.util.Blob.exists(target), "repair moves no layer")
    assert(rows(storeDir) == before)
    // the next write of the layer puts the copy back before its own
    // publish, so a refused publish still leaves it in place
    val other = StreamingHeadCache.partialFolds(spark, a.filter(col("koffset") < 5))
    intercept[IllegalStateException] {
      StreamingHeadCache.writeLayer(other, entries, 1L, publish = (_, _) => false)
    }
    assert(graft.util.Blob.exists(target) && asides.isEmpty)
    assert(rows(storeDir) == before)
    // a stop after the move but before the delete: layer=1 is the new
    // copy, the aside copy is stale — never read, and repair drops it
    StreamingHeadCache.writeLayer(other, entries, 1L)
    val after = rows(storeDir)
    assert(after != before)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(entries, ".layer-1-old-stale"))
    assert(rows(storeDir) == after, "a present layer wins over a stale aside copy")
    StreamingHeadCache.repairHeadCache(storeDir)
    assert(asides.isEmpty)
    a.unpersist(false)
  }

  test("readers and repair inside a live publish's window fail nothing") {
    val a = actions.cache()
    val wm = JournalOps.defaultWatermark(a)
    val other = StreamingHeadCache.partialFolds(spark, a.filter(col("koffset") < 5))
    def store() = {
      val dir = Files.createTempDirectory("graft-head-live").toString
      StreamingHeadCache.appendBatch(spark, a, dir, wm, layer = 1L)
      dir -> graft.util.DirSwap.resolve(dir, "entries").toString
    }
    val (plain, plainEntries) = store()
    StreamingHeadCache.writeLayer(other, plainEntries, 1L)
    val want = rows(plain)
    val (storeDir, entries) = store()
    val before = rows(storeDir)
    var mid = Seq.empty[String]
    // between the first rename and the publish: a reader repairs and
    // reads, then the publish goes ahead
    StreamingHeadCache.writeLayer(other, entries, 1L, publish = (staging, target) => {
      StreamingHeadCache.repairHeadCache(storeDir)
      mid = rows(storeDir)
      graft.util.Blob.move(staging, target)
    })
    assert(mid == before, "the reader saw the committed layer")
    assert(rows(storeDir) == want, "the writer published")
    assert(!graft.util.Blob.children(entries).exists(graft.util.Loc.name(_).contains("-old-")))
    a.unpersist(false)
  }
}
