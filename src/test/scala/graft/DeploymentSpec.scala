package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.journal.{JournalOps, Replay, Replicate, Snapshots}
import graft.model.ActionLog
import graft.streaming.{Deployment, StreamingReplicator, StreamingSnapshots}
import graft.util.{Blob, ConcurrentStoreWriteException, DirSwap, Loc}

/** The ONE-deployment integration law: a single action stream wired
  * through replicator + head cache (watermark from the replicator's own
  * pointer2) + snapshot maintenance + store maintenance — the reference's
  * Replicator.make composition — must, after N chunk ticks, satisfy every
  * loop's own law AT ONCE from the one wiring:
  *
  *   - replay ≡ whole-log (the replicated store is exact);
  *   - cache ≡ fold (the maintained heads equal the whole-log A1 fold at
  *     the cache's replication-lagged watermark), and the GATED replay
  *     through those heads is row-identical to the ungated read;
  *   - snapshots bound debt (no journal's replay suffix exceeds the
  *     threshold against the maintained snapshot store);
  *   - healthAll clears (the tick's maintainAll keeps every registry
  *     store below its debt threshold).
  *
  * The one shared stream is pinned too: a batch that fails after its
  * head and snapshot layers landed is redelivered under its batch id and
  * converges to an uninterrupted twin; a tick starts one query and reads
  * each arriving row once; a base of the three-stream tick is refused.
  */
class DeploymentSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-deployment-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.exceptAll(want).count() == 0, s"$clue: extra rows")
    assert(want.exceptAll(got).count() == 0, s"$clue: missing rows")
  }

  /** Runs `f` with a streaming listener attached: the queries started,
    * and each progress event's (batchId, numInputRows). Started events
    * reach a session listener before `start()` returns; the rest arrive
    * on the asynchronous listener bus, each query's termination after
    * its progress, so the wait ends once every started query terminated.
    */
  private def observed[A](f: => A): (A, Int, Seq[(Long, Long)]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.batchId -> e.progress.numInputRows): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.incrementAndGet(): Unit
    }
    spark.streams.addListener(listener)
    try {
      val out = scala.util.Try(f)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (terminated.get < started.get && System.nanoTime() < deadline) Thread.sleep(20L)
      (out.get, started.get, progress.toArray(Array.empty[(Long, Long)]).toSeq)
    } finally spark.streams.removeListener(listener)
  }

  private def halves(a: DataFrame): (DataFrame, DataFrame) = {
    val mid = a.agg(max("event_id")).head().getLong(0) / 2
    (a.filter(col("event_id") <= mid), a.filter(col("event_id") > mid))
  }

  test("one wiring drives all four loops: replay exact, cache ≡ fold + gated read identical, debt bounded, health clear") {
    val a = ActionLog.fromEvents(spark, sfDir).cache()
    val n = 4
    val threshold = 10L
    // PER-PARTITION proportional chunks (offset-ordered): every partition
    // replicates at the same fractional pace, so the cache's final
    // watermark sits at ~3/4 of every partition — strictly below the
    // read's 0.8 staleness bound, the gate law's precondition
    val bounds = a
      .groupBy("topic", "part_no")
      .agg((max("koffset") + 1L).as("cnt"))
    def chunk(i: Int): DataFrame =
      a.join(broadcast(bounds), Seq("topic", "part_no"))
        .filter(
          col("koffset") >= expr(s"(cnt * $i) DIV $n") &&
            col("koffset") < expr(s"(cnt * ${i + 1}) DIV $n")
        )
        .drop("cnt")

    val tmp = Files.createTempDirectory("graft-deploy").toString
    val inDir = s"$tmp/in"
    val dep = Deployment(
      s"$tmp/dep",
      snapshotThreshold = threshold,
      compactOverLayers = 2L
    )
    val schema = a.schema
    val healths = (0 until n).map { i =>
      chunk(i).coalesce(1).write.parquet(s"$inDir/chunk_$i")
      dep.tick(spark, s"$inDir/chunk_*", schema)
    }

    // 1. replay ≡ whole-log: the replicated store is the batch derivation
    val store = dep.readStore(spark)
    val want = Replicate.compute(a)
    def aligned(df: DataFrame, ref: DataFrame): DataFrame =
      df.select(ref.columns.sorted.map(col).toIndexedSeq: _*)
    assertSame(
      aligned(store.journal, want.journal),
      aligned(want.journal, want.journal),
      "journal"
    )
    assertSame(
      aligned(store.pointer2, want.pointer2),
      aligned(want.pointer2, want.pointer2),
      "pointer2"
    )

    // 2a. cache ≡ fold: the maintained heads equal the whole-log A1 fold
    // at the cache's watermark — pointer2 as of the LAST head batch,
    // i.e. after n-1 chunks (the cache fronts replication by one tick)
    val prefixWm = JournalOps
      .pointer2(
        a.join(broadcast(bounds), Seq("topic", "part_no"))
          .filter(col("koffset") < expr(s"(cnt * ${n - 1}) DIV $n"))
      )
      .select(col("topic"), col("part_no"), (col("next_offset") - 1L).as("wm"))
    val headCols = Seq("topic", "id", "kind", "head_offset", "head_seq_nr")
    assertSame(
      dep.readHeads(spark).select(headCols.map(col): _*),
      JournalOps.headInfo(a, prefixWm).select(headCols.map(col): _*),
      "cache vs whole-log fold"
    )

    // 2b. the gated read through the maintained cache is row-identical
    val outCols = Seq("topic", "id", "seq_nr", "koffset", "payload")
    assertSame(
      Replay.mergedReadGated(a, dep.readHeads(spark)).select(outCols.map(col): _*),
      Replay.mergedRead(a).select(outCols.map(col): _*),
      "gated replay"
    )

    // 2c. the CLIENT surface over the deployment's cache: readCached ≡
    // read for both an evicted journal (served wholly by the eventual
    // leg at the cache's watermark) and a cached one
    val journal = graft.api.Journal(spark, a)
    val headKeys = dep
      .readHeads(spark)
      .select("topic", "id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    val allIds = JournalOps
      .ids(a)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val apiProbes =
      allIds.filterNot(headKeys.contains).take(2) ++ headKeys.take(2)
    assert(apiProbes.nonEmpty)
    apiProbes.foreach { case (t, i) =>
      val got = journal
        .readCached(t, i, dep.headDir)
        .select("seq_nr")
        .collect()
        .map(_.getLong(0))
        .sorted
        .toSeq
      val ref = journal
        .read(t, i)
        .select("seq_nr")
        .collect()
        .map(_.getLong(0))
        .sorted
        .toSeq
      assert(got == ref, s"readCached ≡ read over the deployment cache ($t, $i)")
    }

    // 3. snapshots bound debt: nobody's replay suffix exceeds threshold
    val stored = dep.storedSnapshots(spark)
    assert(stored.count() > 0, "the snapshot loop must have fired")
    assert(
      Snapshots
        .snapshotDebt(a, stored, threshold)
        .filter(col("snapshot_recommended"))
        .count() == 0,
      "debt bounded by the maintenance loop"
    )
    // and recovery through the maintained store replays exactly
    val rec = Snapshots.recoveryWith(
      a,
      stored.select("topic", "id", "seq_nr", "koffset", "payload")
    )
    assert(rec.count() > 0)
    // 3b. the FULL client recovery over the deployment's OWN stores —
    // snapshot floor from its snapshot loop + cache-gated tail from its
    // head loop (recoverCached composes both accelerators; both laws
    // must hold simultaneously from this one wiring)
    def recRows(df: DataFrame): Seq[(String, Long)] =
      df.select("src", "seq_nr")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .sortBy(t => (t._1, t._2))
        .toSeq
    apiProbes.foreach { case (t, i) =>
      assert(
        recRows(journal.recoverCached(t, i, stored, dep.headDir)) ==
          recRows(journal.recoverThrough(stored, t, i)),
        s"recoverCached ≡ recoverThrough over the deployment stores ($t, $i)"
      )
    }

    // 4. the tick's maintainAll kept the stores maintained: the final
    // health report recommends nothing, and at least one tick compacted
    val lastHealth = graft.Maintenance.healthAll(spark, dep.registry).collect()
    assert(lastHealth.nonEmpty)
    assert(
      lastHealth.forall(!_.getAs[Boolean]("compact_recommended")),
      s"health must be clear after the final tick: ${lastHealth.mkString("; ")}"
    )
    assert(
      healths.exists(_.collect().exists(_.getAs[Boolean]("compacted"))),
      "the composition must have driven at least one compaction"
    )

    a.unpersist(false)
  }

  test("redelivery through the shared loop: a batch refused at the replicator after its head and snapshot layers landed redelivers under its batch id and converges to the uninterrupted twin") {
    val a = ActionLog.fromEvents(spark, sfDir).cache()
    val (c0, c1) = halves(a)
    val tmp = Files.createTempDirectory("graft-deploy-redeliver").toString
    val in = s"$tmp/in"
    val dep = Deployment(s"$tmp/dep", snapshotThreshold = 10L)
    val twin = Deployment(s"$tmp/twin", snapshotThreshold = 10L)
    c0.coalesce(1).write.parquet(s"$in/c0")
    Seq(dep, twin).foreach(_.tick(spark, s"$in/c*", a.schema))
    c1.coalesce(1).write.parquet(s"$in/c1")
    twin.tick(spark, s"$in/c*", a.schema)

    // a live foreign claim on the epoch the next batch would commit: the
    // replicator, last in the batch, refuses after the head cache and the
    // snapshots wrote their layers, so the batch fails before it commits
    val epoch = StreamingReplicator.resolveCurrent(dep.storeDir)._2
    val claim = Loc.join(dep.storeDir, s"claim-${epoch + 1}")
    assert(Blob.createNew(claim, s"foreign/1 ${System.currentTimeMillis()}".getBytes("UTF-8")))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      dep.tick(spark, s"$in/c*", a.schema))
    assert(
      Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ConcurrentStoreWriteException]),
      s"the replicator's claim refusal must abort the tick: $err")
    def layerLanded(root: String, member: String): Boolean =
      Blob.exists(Loc.join(DirSwap.resolve(root, member), "layer=2"))
    assert(layerLanded(dep.headDir, "entries") && layerLanded(dep.headDir, "wm"), "head layer 2")
    assert(layerLanded(dep.snapDir, "ptr"), "snapshot layer 2")
    def logged(dir: String, batchId: Long): Boolean =
      Files.exists(java.nio.file.Paths.get(dep.ckJournal, dir, batchId.toString))
    assert(logged("offsets", 1L) && !logged("commits", 1L), "batch 1 planned, not committed")
    assert(StreamingReplicator.resolveCurrent(dep.storeDir)._2 == epoch, "pointer2 did not advance")

    // the claim goes; the next tick redelivers batch 1 and commits it
    Blob.deleteIfExists(claim)
    val (_, _, progress) = observed(dep.tick(spark, s"$in/c*", a.schema))
    assert(progress.filter(_._2 > 0).map(_._1) == Seq(1L), s"batch 1 again: $progress")
    assert(logged("commits", 1L) && !logged("offsets", 2L))

    // rows compared by value after collect: exceptAll (assertSame) over
    // these frames fails inside Spark's planner
    def same(got: DataFrame, want: DataFrame, clue: String): Unit = {
      def rows(df: DataFrame) =
        df.select(got.columns.sorted.map(col).toIndexedSeq: _*).collect()
          .map(_.toSeq.map {
            case b: Array[Byte] => b.mkString(",") // payload bytes, by value
            case v => String.valueOf(v)
          }.mkString("|"))
          .sorted.toSeq
      assert(rows(got) == rows(want), clue)
    }
    val (got, want) = (dep.readStore(spark), twin.readStore(spark))
    assert(got.pointer2.count() > 0 && dep.storedSnapshots(spark).count() > 0)
    same(got.journal, want.journal, "journal")
    same(got.metajournal, want.metajournal, "metajournal")
    same(got.pointer2, want.pointer2, "pointer2")
    same(dep.readHeads(spark), twin.readHeads(spark), "heads")
    same(dep.storedSnapshots(spark), twin.storedSnapshots(spark), "snapshots")
    val health = graft.Maintenance.healthAll(spark, dep.registry).collect()
    assert(health.forall(!_.getAs[Boolean]("compact_recommended")), health.mkString("; "))
    a.unpersist(false)
  }

  test("one stream per tick: one query started, and its input rows are the rows that arrived") {
    val a = ActionLog.fromEvents(spark, sfDir).cache()
    val (c0, c1) = halves(a)
    val tmp = Files.createTempDirectory("graft-deploy-listener").toString
    val dep = Deployment(s"$tmp/dep")
    Seq(c0, c1).zipWithIndex.foreach { case (c, i) =>
      c.coalesce(1).write.parquet(s"$tmp/in/c$i")
      val (_, started, progress) = observed(dep.tick(spark, s"$tmp/in/c*", a.schema))
      assert(started == 1, s"tick $i starts one stream")
      assert(progress.map(_._2).sum == c.count(), s"tick $i reads each arriving row once")
    }
    a.unpersist(false)
  }

  test("a base written by the three-stream tick is refused before any stream starts, at a plain and a URI base") {
    val a = ActionLog.fromEvents(spark, sfDir)
    val tmp = Files.createTempDirectory("graft-deploy-old-base").toString
    a.coalesce(1).write.parquet(s"$tmp/in/c0")
    Seq(s"$tmp/plain", s"file://$tmp/uri").zip(Seq("ck-head", "ck-repl")).foreach {
      case (base, old) =>
        val dep = Deployment(base)
        Blob.mkdirs(Loc.join(base, old))
        val (err, started, _) = observed(
          intercept[IllegalStateException](dep.tick(spark, s"$tmp/in/c*", a.schema)))
        assert(err.getMessage.contains("a fresh base is required"), err.getMessage)
        assert(started == 0 && !Blob.exists(dep.ckJournal), s"$base: no stream started")
    }
  }
}
