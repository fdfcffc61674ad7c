package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.journal.{CachedReplay, JournalOps, Replay, Snapshots}
import graft.model.ActionLog
import graft.streaming.{StreamingHeadCache, StreamingSnapshots}

/** The keyed replay fold (graft.journal.CachedReplay) against the
  * join/window composition it replaced ([[ReplayComposition]]), row for
  * row, in order. The one-journal forms `api.Journal.readCached` /
  * `recoverCached` against the composed `mergedReadAtWatermark` over the
  * key-filtered log, `readHeads` and `watermark`, with `recoveryOver` on
  * top:
  *
  *   - a spread of the fixture's journals under a chunked cache, and the
  *     evicted journals of a nearly caught-up cache;
  *   - a stale cache (appends past the consumed end offset);
  *   - an uncovered partition, and watermark layers with a null
  *     `end_offset`;
  *   - purge-then-recreate, redelivered duplicates, a snapshot older
  *     than the purge, and the strict-mode integrity error;
  *
  * every whole-log form over the whole fixture (the merged reads, the
  * recoveries, and the j1b and j1c queries), and the job counts of one
  * recovery, read and pointer and of the j1b and j1c read steps,
  * listener-counted.
  */
class CachedReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-cached-replay-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def actions = ActionLog.fromEvents(spark, sfDir)

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-cached-replay-$name").toString

  private def key(df: DataFrame, t: String, i: String): DataFrame =
    df.filter(col("topic") === t && col("id") === i)

  /** The composition, for one journal. */
  private def composedRead(
      log: DataFrame, t: String, i: String, dir: String, strict: Boolean = false
  ): DataFrame =
    ReplayComposition.mergedReadAtWatermark(
      key(log, t, i),
      key(StreamingHeadCache.readHeads(spark, dir), t, i),
      StreamingHeadCache.watermark(spark, dir),
      strictUniqueness = strict
    )

  private def composedRecover(
      log: DataFrame, t: String, i: String, snaps: DataFrame, dir: String
  ): DataFrame =
    ReplayComposition.recoveryOver(
      composedRead(log, t, i, dir).select("topic", "id", "seq_nr", "koffset", "payload"),
      key(snaps, t, i).select("topic", "id", "seq_nr", "koffset", "payload")
    )

  private def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (
      df.columns.toSeq,
      df.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v              => v
      })
    )

  /** readCached and recoverCached ≡ the composition for (t, i); returns
    * the fold's recovery rows for further assertions.
    */
  private def assertSame(
      log: DataFrame, t: String, i: String, snaps: DataFrame, dir: String
  ): Seq[Seq[Any]] = {
    val journal = graft.api.Journal(spark, log)
    assert(
      rows(journal.readCached(t, i, dir)) == rows(composedRead(log, t, i, dir)),
      s"readCached ≡ composition for ($t, $i)"
    )
    val (cols, got) = rows(journal.recoverCached(t, i, snaps, dir))
    assert(
      (cols, got) == rows(composedRecover(log, t, i, snaps, dir)),
      s"recoverCached ≡ composition for ($t, $i)"
    )
    got
  }

  private def keysOf(df: DataFrame): Seq[(String, String)] =
    df.select("topic", "id").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** The log in `nChunks` offset-ordered layers at the 0.8 watermark. */
  private def chunkedCache(a: DataFrame, dir: String, nChunks: Int = 4): Unit = {
    val wm = JournalOps.defaultWatermark(a)
    val step = a.agg(max("koffset")).head().getLong(0) / nChunks + 1
    (0 until nChunks).foreach { c =>
      StreamingHeadCache.appendBatch(
        spark,
        a.filter(col("koffset") >= c * step && col("koffset") < (c + 1) * step),
        dir, wm, layer = c + 1L)
    }
  }

  /** A cache one step behind: every partition's last three offsets
    * unreplicated, so nearly every journal is evicted.
    */
  private def hotCache(a: DataFrame, dir: String): Unit =
    StreamingHeadCache.appendBatch(
      spark, a, dir,
      a.groupBy("topic", "part_no").agg((max("koffset") - 2L).as("wm")),
      layer = 1L)

  private def storedSnaps(a: DataFrame): DataFrame = {
    val dir = tmp("snaps")
    StreamingSnapshots.appendMaintenanceBatch(spark, a, dir, threshold = 5L, layer = 1L)
    StreamingSnapshots.storedSnapshots(spark, dir)
  }

  test("a spread of the fixture's journals, under a chunked cache: fold ≡ composition") {
    val a = actions.cache()
    val dir = tmp("chunked")
    chunkedCache(a, dir)
    val snaps = storedSnaps(a).cache()
    val heads = StreamingHeadCache.readHeads(spark, dir).select("kind").collect().map(_.getString(0)).toSet
    assert(Set("append", "purge").subsetOf(heads), s"cache head kinds: $heads")
    val someTopic = a.select("topic").head().getString(0)
    // every third journal, spread over the topics, and one
    // the log does not hold
    val probes = keysOf(a).zipWithIndex.collect { case (k, n) if n % 3 == 0 => k }
    val recovered = (probes :+ ((someTopic, "no-such-journal"))).map {
      case (t, i) => assertSame(a, t, i, snaps, dir)
    }
    assert(recovered.exists(_.exists(_(2) == "snapshot")), "some recovery starts at a snapshot")
    snaps.unpersist(false)
    a.unpersist(false)
  }

  test("evicted journals of a nearly caught-up cache: fold ≡ composition") {
    val a = actions.cache()
    val dir = tmp("hot")
    hotCache(a, dir)
    val cached = keysOf(StreamingHeadCache.readHeads(spark, dir)).toSet
    val (stillCached, evicted) = keysOf(a).partition(cached)
    assert(evicted.nonEmpty && stillCached.nonEmpty)
    val snaps = storedSnaps(a).cache()
    (evicted.take(5) ++ stillCached.take(2)).foreach { case (t, i) =>
      assertSame(a, t, i, snaps, dir)
    }
    snaps.unpersist(false)
    a.unpersist(false)
  }

  test("stale cache: appends past the consumed end_offset reach the fold") {
    val a = actions.cache()
    val dir = tmp("stale")
    hotCache(a, dir)
    val cached = keysOf(StreamingHeadCache.readHeads(spark, dir)).toSet
    val (t0, i0) = keysOf(a.filter(col("action") === "append")).find(!cached(_)).get
    val last = key(a, t0, i0).filter(col("action") === "append")
      .orderBy(col("koffset").desc).limit(1).collect().head
    val partMax = a.filter(col("topic") === t0 && col("part_no") === last.getAs[Int]("part_no"))
      .agg(max("koffset")).head().getLong(0)
    val seqMax = last.getAs[Long]("seq_nr")
    val extra = spark.createDataFrame(
      java.util.Arrays.asList((1 to 3).map { k =>
        Row.fromSeq(a.columns.toSeq.map {
          case "koffset" => partMax + k
          case "seq_nr"  => seqMax + k
          case c         => last.getAs[Any](c)
        })
      }: _*),
      a.schema)
    val log2 = a.unionByName(extra)
    val got = assertSame(log2, t0, i0, storedSnaps(a), dir)
    assert((1 to 3).forall(k => got.exists(_(3) == seqMax + k)), "fresh appends recovered")
    a.unpersist(false)
  }

  test("uncovered partition and null end_offset layers: fold ≡ composition, tails un-gated") {
    val a = actions.cache()
    val parts = a.select("topic", "part_no").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted
    val (ut, up) = parts.head // never covered by the cache
    val (nt, np) = parts(1) // covered only by a layer without end_offset
    val (mt, mp) = parts(2) // one null-end_offset layer beside a normal one
    def in(t: String, p: Int) = col("topic") === t && col("part_no") === p
    val dir = tmp("uncovered")
    hotCache(a.filter(!in(ut, up) && !in(nt, np)), dir)
    // a watermark layer that records no end_offset: partition (nt, np) at
    // its hot watermark, (mt, mp) beside its normal layer
    val wmOnly = a.filter(in(nt, np) || in(mt, mp))
      .groupBy("topic", "part_no")
      .agg((max("koffset") - 2L).as("wm"))
      .withColumn("end_offset", lit(null).cast("long"))
    wmOnly.write.parquet(
      graft.util.Loc.join(graft.util.DirSwap.resolve(dir, "wm").toString, "layer=9"))
    val ends = StreamingHeadCache.watermark(spark, dir)
      .collect().map(r => ((r.getString(0), r.getInt(1)), Option(r.get(3)))).toMap
    assert(!ends.contains((ut, up)))
    assert(ends((nt, np)).isEmpty, "only null end_offset layers merge to null")
    assert(ends((mt, mp)).nonEmpty, "max-merge ignores the null layer")
    val snaps = storedSnaps(a).cache()
    def journalsOf(t: String, p: Int) = keysOf(a.filter(in(t, p))).take(2)
    (journalsOf(ut, up) ++ journalsOf(nt, np) ++ journalsOf(mt, mp)).foreach {
      case (t, i) => assertSame(a, t, i, snaps, dir)
    }
    // the choice made explicit: a journal of the null-end_offset partition
    // reads its tail although the cache holds no head for it — its read
    // equals the ungated replay
    journalsOf(nt, np).foreach { case (t, i) =>
      val journal = graft.api.Journal(spark, a)
      assert(
        rows(journal.readCached(t, i, dir).select("seq_nr"))._2 ==
          rows(journal.read(t, i).select("seq_nr"))._2
      )
    }
    snaps.unpersist(false)
    a.unpersist(false)
  }

  /** One journal ("t", "j") on partition 0, beside a neighbour ("t", "n"),
    * from (koffset, id, action, seq_nr, delete_to) rows.
    */
  private def handLog(rows: (Long, String, String, Option[Long], Option[Long])*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows
      .map { case (k, id, action, seq, del) =>
        ("t", 0, k, id, action, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          seq, del, seq.map(_ * 1.5))
      }
      .toDF("topic", "part_no", "koffset", "id", "action", "ts", "seq_nr", "delete_to", "payload")
  }

  private def app(k: Long, s: Long, id: String = "j") = (k, id, "append", Option(s), Option.empty[Long])
  private def del(k: Long, to: Long) = (k, "j", "delete", Option.empty[Long], Option(to))
  private def purge(k: Long) = (k, "j", "purge", Option.empty[Long], Option.empty[Long])

  private def cacheAt(log: DataFrame, wm: Long): String = {
    val sp = spark
    import sp.implicits._
    val dir = tmp("hand")
    StreamingHeadCache.appendBatch(spark, log, dir, Seq(("t", 0, wm)).toDF("topic", "part_no", "wm"), 1L)
    dir
  }

  test("purge-then-recreate, with a snapshot older than the purge: fold ≡ composition") {
    val log = handLog(
      app(0, 1), app(1, 2), app(2, 3, "n"), app(3, 3), del(4, 2), app(5, 4),
      purge(6), app(7, 1), app(8, 2), app(9, 4, "n"), app(10, 3))
    val sp = spark
    import sp.implicits._
    // a raw snapshot frame holding the dead incarnation's seq 4 (the
    // composition takes the latest by seq_nr regardless), and the
    // maintained store, which invalidates it
    val raw = Seq(("t", "j", 2L, 1L, 3.0), ("t", "j", 4L, 5L, 6.0))
      .toDF("topic", "id", "seq_nr", "koffset", "payload")
    val stored = {
      val dir = tmp("hand-snaps")
      StreamingSnapshots.appendMaintenanceBatch(spark, log, dir, threshold = 1L, layer = 1L)
      StreamingSnapshots.storedSnapshots(spark, dir)
    }
    assert(key(stored, "t", "j").filter(col("koffset") < 6).count() == 0)
    // the purge in the replicated prefix, in the tail, and nothing cached
    Seq(8L, 5L, -1L).foreach { wm =>
      val dir = cacheAt(log, wm)
      val viaRaw = assertSame(log, "t", "j", raw, dir)
      assert(viaRaw.head.take(4) == Seq("t", "j", "snapshot", 4L))
      val viaStored = assertSame(log, "t", "j", stored, dir)
      assert(viaStored.filter(_(2) == "event").map(_(3)).forall(_.asInstanceOf[Long] <= 3L))
      assertSame(log, "t", "n", raw, dir)
    }
  }

  test("redelivered duplicates: the first-koffset copy survives, in both legs") {
    // seq 2..3 delivered twice (at-least-once): the copies sit below and
    // above the watermark, and a delete covers seq 1
    val log = handLog(
      app(0, 1), app(1, 2), app(2, 3), del(3, 1), app(4, 2), app(5, 3), app(6, 4), app(7, 1, "n"))
    val sp = spark
    import sp.implicits._
    val none = Seq.empty[(String, String, Long, Long, Double)]
      .toDF("topic", "id", "seq_nr", "koffset", "payload")
    Seq(6L, 3L, 1L).foreach { wm =>
      val got = assertSame(log, "t", "j", none, cacheAt(log, wm))
      assert(got.map(r => (r(3), r(4))) == Seq((2L, 1L), (3L, 2L), (4L, 6L)))
    }
  }

  test("strict mode: a duplicate in the replicated prefix raises in both forms") {
    val log = handLog(app(0, 1), app(1, 2), app(2, 2), app(3, 3), app(4, 4))
    val dir = cacheAt(log, 3L)
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    val journal = graft.api.Journal(spark, log)
    Seq(
      () => journal.readCached("t", "j", dir, strict = true).collect(),
      () => composedRead(log, "t", "j", dir, strict = true).collect()
    ).foreach { read =>
      val err = intercept[Exception](read())
      assert(rootMessages(err).exists(_.contains("Data integrity violated: duplicate seq_nr 2")))
    }
    // lax: the same rows, deduplicated
    assert(rows(journal.readCached("t", "j", dir)) == rows(composedRead(log, "t", "j", dir)))
  }

  private val recoveryCols = Seq("topic", "id", "seq_nr", "koffset", "payload")

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g._2.nonEmpty, s"$what: non-vacuous")
    assert(g == w, s"$what ≡ composition")
  }

  test("whole log: mergedRead, lax and strict, ≡ composition") {
    val a = actions.cache()
    assertSameRows(Replay.mergedRead(a), ReplayComposition.mergedRead(a), "mergedRead")
    assertSameRows(
      Replay.mergedRead(a, strictUniqueness = true),
      ReplayComposition.mergedRead(a, strictUniqueness = true),
      "strict mergedRead")
    a.unpersist(false)
  }

  test("whole log: mergedReadGated over a chunked cache and the j1b query ≡ composition") {
    val a = actions.cache()
    val dir = tmp("whole-gated")
    chunkedCache(a, dir)
    val heads = StreamingHeadCache.readHeads(spark, dir)
    val want = ReplayComposition.mergedReadGated(a, heads)
    assertSameRows(Replay.mergedReadGated(a, heads), want, "mergedReadGated")
    assertSameRows(
      StreamingHeadCache.gatedReplayQuery(spark, a),
      want.select("topic", "id", "seq_nr", "koffset", "ts", "payload"),
      "j1b")
    a.unpersist(false)
  }

  test("whole log: mergedReadAtWatermark with end_offset, wm only, and an uncovered partition ≡ composition") {
    val a = actions.cache()
    val chunked = tmp("whole-wm-chunked")
    chunkedCache(a, chunked)
    val hot = tmp("whole-wm-hot")
    hotCache(a, hot)
    Seq(chunked, hot).foreach { dir =>
      val heads = StreamingHeadCache.readHeads(spark, dir)
      val wm = StreamingHeadCache.watermark(spark, dir)
      val first = wm.orderBy("topic", "part_no").head()
      val uncovered = wm.filter(!(col("topic") === first.getString(0) && col("part_no") === first.getInt(1)))
      Seq(
        "end_offset" -> wm,
        "wm only" -> wm.select("topic", "part_no", "wm"),
        "uncovered" -> uncovered,
        "uncovered, wm only" -> uncovered.select("topic", "part_no", "wm")
      ).foreach { case (what, frame) =>
        assertSameRows(
          Replay.mergedReadAtWatermark(a, heads, frame),
          ReplayComposition.mergedReadAtWatermark(a, heads, frame),
          s"mergedReadAtWatermark ($what)")
      }
    }
    a.unpersist(false)
  }

  test("whole log: recovery, recoveryWith, recoveryOver and the j1c query ≡ composition") {
    val a = actions.cache()
    val snaps = storedSnaps(a).select(recoveryCols.map(col): _*).cache()
    assertSameRows(Snapshots.recovery(a), ReplayComposition.recovery(a), "recovery")
    assertSameRows(Snapshots.recoveryWith(a, snaps), ReplayComposition.recoveryWith(a, snaps), "recoveryWith")
    val dir = tmp("whole-recovery")
    chunkedCache(a, dir)
    val heads = StreamingHeadCache.readHeads(spark, dir)
    val wm = StreamingHeadCache.watermark(spark, dir)
    val table = Snapshots.table(a).select(recoveryCols.map(col): _*)
    Seq("stored" -> snaps, "fixture" -> table).foreach { case (what, sn) =>
      assertSameRows(
        Snapshots.recoveryOver(Replay.mergedReadAtWatermark(a, heads, wm).select(recoveryCols.map(col): _*), sn),
        ReplayComposition.recoveryOver(
          ReplayComposition.mergedReadAtWatermark(a, heads, wm).select(recoveryCols.map(col): _*), sn),
        s"recoveryOver ($what snapshots)")
    }
    assertSameRows(
      StreamingHeadCache.cachedRecoveryQuery(spark, a),
      ReplayComposition.recoveryOver(
        ReplayComposition.mergedReadAtWatermark(a, heads, wm).select(recoveryCols.map(col): _*), table),
      "j1c")
    snaps.unpersist(false)
    a.unpersist(false)
  }

  test("job count: one recovery, read and pointer stay a fixed handful of jobs") {
    val a = actions.cache()
    a.count()
    val dir = tmp("jobs")
    chunkedCache(a, dir)
    val snaps = storedSnaps(a)
    val journal = graft.api.Journal(spark, a)
    val (t, i) = keysOf(StreamingHeadCache.readHeads(spark, dir).filter(col("kind") === "append")).head
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(f: => Any): Int = {
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the snapshot pass's exchange, the fold's exchange, the result
      assert(jobsOf(journal.recoverCached(t, i, snaps, dir).collect()) <= 3)
      assert(jobsOf(journal.readCached(t, i, dir).collect()) <= 2)
      // an append head answers from one collect of the cache rows
      assert(jobsOf(journal.pointerCached(t, i, dir).collect()) <= 1)
      // the whole-log read steps of j1b and j1c over the built cache: the
      // driver collect of the cache's watermark rows, the range
      // partitioner's sketch and its re-sample of the log's partitions
      // (the union's small cache partitions leave them imbalanced), the
      // fold's exchange and the result — and for j1c the fixture
      // snapshot table's own window exchange
      val j1b = jobsOf(CachedReplay.throughCache(spark, a, dir, None).collect())
      val table = Snapshots.table(a).select(recoveryCols.map(col): _*)
      val j1c = jobsOf(CachedReplay.throughCache(spark, a, dir, Some(table)).collect())
      // the public forms those queries answer for, over readHeads
      val gated = jobsOf(Replay.mergedReadGated(a, StreamingHeadCache.readHeads(spark, dir)).collect())
      val composed = jobsOf(
        Snapshots.recoveryOver(
          Replay
            .mergedReadAtWatermark(a, StreamingHeadCache.readHeads(spark, dir), StreamingHeadCache.watermark(spark, dir))
            .select(recoveryCols.map(col): _*),
          table
        ).collect())
      info(s"jobs: j1b read $j1b, j1c read $j1c, mergedReadGated over readHeads $gated, " +
        s"recoveryOver ∘ mergedReadAtWatermark $composed")
      assert(j1b <= 5)
      assert(j1c <= 6)
    } finally spark.sparkContext.removeSparkListener(listener)
    a.unpersist(false)
  }
}
