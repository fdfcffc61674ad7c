package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, QualityModel, Retrieval, Similarity}
import graft.streaming.{StreamingHeadCache, StreamingSnapshots}
import graft.util.StoreHealth

/** The unified store-health surface, driven GENERICALLY: every persisted
  * store (inverted index, LM model, IVF vectors, span index, paragraph
  * index, head cache, snapshot store) goes through ONE
  * accrete → recommend → compact → clear loop via
  * `Maintenance.healthAll` / `maintainAll` — one row schema, one listing
  * API, each store's own compactor behind the scenes — with a read probe
  * pinned row-identical across the maintenance pass, and a second
  * maintainAll proving the loop idles below threshold.
  */
class StoreHealthSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-storehealth-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("empty or partially-materialized store members report zero debt instead of failing") {
    val base = Files.createTempDirectory("graft-health-empty").toString
    // an existing-but-empty layered member (a store whose first batch
    // had nothing to write) and an absent optional member
    Files.createDirectories(java.nio.file.Paths.get(s"$base/hc/entries"))
    val row = Maintenance
      .healthAll(spark, Seq(Maintenance.headCache(s"$base/hc")))
      .head()
    assert(row.getAs[Long]("n_layers") == 1L)
    assert(row.getAs[Long]("n_files") == 0L)
    assert(!row.getAs[Boolean]("compact_recommended"))
  }

  test("all seven stores: accrete -> recommend -> maintainAll -> clear, reads identical") {
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .cache()
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .cache()
    val actions = graft.model.ActionLog.fromEvents(spark, sfDir).cache()
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)
    def dSlice(lo: Long, hi: Long): DataFrame =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val maxVec = emb.agg(max("vec_id")).head().getLong(0)
    def eSlice(lo: Long, hi: Long): DataFrame =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    val maxOff = actions.agg(max("koffset")).head().getLong(0)
    val aStep = maxOff / 3 + 1
    def aSlice(i: Int): DataFrame =
      actions.filter(
        col("koffset") >= i * aStep && col("koffset") < (i + 1) * aStep
      )
    val parts = actions.select("topic", "part_no").distinct().cache()

    val base = Files.createTempDirectory("graft-health").toString

    // --- accrete: base build + two appends per store (3 layers / 3+ files)
    val iiDir = s"$base/ii"
    Retrieval.writeInvertedIndexOf(spark, dSlice(0, c1), iiDir)
    Retrieval.appendToInvertedIndex(spark, dSlice(c1, c2), iiDir)
    Retrieval.appendToInvertedIndex(spark, dSlice(c2, maxId + 1), iiDir)

    val lmDir = s"$base/lm"
    QualityModel.writeLmModelOf(spark, dSlice(0, c1), lmDir)
    QualityModel.appendToLmModel(spark, dSlice(c1, c2), lmDir)
    QualityModel.appendToLmModel(spark, dSlice(c2, maxId + 1), lmDir)

    val ivfDir = s"$base/ivf"
    Similarity.writeIvfIndexOf(spark, eSlice(0, maxVec / 2), ivfDir, 4, 1)
    Similarity.appendToIvfIndex(spark, eSlice(maxVec / 2, maxVec * 3 / 4), ivfDir)
    Similarity.appendToIvfIndex(spark, eSlice(maxVec * 3 / 4, maxVec + 1), ivfDir)

    val spanDir = s"$base/span"
    Dedup.writeSpanIndex(spark, dSlice(0, c1), spanDir)
    Dedup.appendToSpanIndex(spark, spanDir, dSlice(c1, c2))
    Dedup.appendToSpanIndex(spark, spanDir, dSlice(c2, maxId + 1))

    val paraDir = s"$base/para"
    Dedup.writeParagraphIndex(spark, dSlice(0, c1), paraDir)
    Dedup.appendToParagraphIndex(spark, paraDir, dSlice(c1, c2))
    Dedup.appendToParagraphIndex(spark, paraDir, dSlice(c2, maxId + 1))

    val headDir = s"$base/head"
    (0 until 3).foreach(i =>
      StreamingHeadCache.appendBatch(
        spark,
        aSlice(i),
        headDir,
        parts.withColumn("wm", lit(-1L)),
        layer = i + 1L
      )
    )

    val snapDir = s"$base/snap"
    (0 until 3).foreach(i =>
      StreamingSnapshots.appendMaintenanceBatch(
        spark,
        aSlice(i),
        snapDir,
        threshold = 5L,
        layer = i + 1L
      )
    )

    // thresholds lowered so three ingests fire every store
    val stores = Seq(
      Maintenance.invertedIndex(iiDir).copy(compactOverLayers = 2),
      Maintenance.lmModel(lmDir).copy(compactOverLayers = 2),
      Maintenance.ivfVectors(ivfDir).copy(compactOverLayers = 2),
      Maintenance.spanIndex(spanDir, targetFiles = 1).copy(compactOverFiles = 1),
      Maintenance
        .paragraphIndex(paraDir, targetFiles = 1)
        .copy(compactOverFiles = 1),
      Maintenance.headCache(headDir).copy(compactOverLayers = 2),
      Maintenance.snapshotStore(snapDir).copy(compactOverLayers = 2)
    )

    // one report, one row shape, every store recommended
    val h1 = Maintenance.healthAll(spark, stores).collect()
    assert(h1.length == stores.length)
    assert(
      h1.forall(_.getAs[Boolean]("compact_recommended")),
      s"every accreted store must fire: ${h1.mkString("; ")}"
    )
    assert(h1.forall(_.getAs[Long]("debt") > 0))
    assert(
      h1.map(_.getAs[String]("debt_metric")).toSet ==
        Set("delta_layers", "data_files")
    )

    // read probes BEFORE maintenance
    def probes(): Map[String, Seq[String]] = Map(
      "ii" -> rowsOf(Retrieval.keywordTopKIndexed(spark, sfDir, iiDir)),
      "lm" -> rowsOf(
        QualityModel.scoreWithLmModel(spark, dSlice(c2, maxId + 1), lmDir)
      ),
      "ivf" -> rowsOf(
        spark.read
          .parquet(
            graft.util.DirSwap
              .resolve(ivfDir, "vectors")
              .toString
          )
          .select("vec_id", "cid")
      ),
      "span" -> rowsOf(
        spark.read
          .parquet(
            graft.util.DirSwap
              .resolve(spanDir, "windows")
              .toString
          )
      ),
      "para" -> rowsOf(
        spark.read
          .parquet(
            graft.util.DirSwap
              .resolve(paraDir, "windows")
              .toString
          )
      ),
      "head" -> rowsOf(StreamingHeadCache.readHeads(spark, headDir)),
      "snap" -> rowsOf(StreamingSnapshots.storedSnapshots(spark, snapDir))
    )
    val before = probes()

    // ONE maintenance call drives every compactor
    val m1 = Maintenance.maintainAll(spark, stores).collect()
    assert(m1.forall(_.getAs[Boolean]("compacted")))

    // cleared, and reads row-identical through the pass
    val h2 = Maintenance.healthAll(spark, stores).collect()
    assert(
      h2.forall(!_.getAs[Boolean]("compact_recommended")),
      s"maintenance must clear every store: ${h2.mkString("; ")}"
    )
    assert(probes() == before, "maintainAll must not change any read")

    // below threshold the loop idles — compaction is not free
    val m2 = Maintenance.maintainAll(spark, stores).collect()
    assert(m2.forall(!_.getAs[Boolean]("compacted")))

    Seq(docs, emb, actions, parts).foreach(_.unpersist(false))
  }

  test("maintainer fencing, generic: a held lease makes every store's compactor fail fast, publishing nothing") {
    import graft.util.{ConcurrentStoreWriteException, MaintainerLease}
    val base = Files.createTempDirectory("graft-health-fence").toString
    // the fence throws BEFORE the compactor reads anything, so an empty
    // directory suffices to drive the loss path for every registry member
    val stores = Seq(
      Maintenance.invertedIndex(s"$base/ii"),
      Maintenance.lmModel(s"$base/lm"),
      Maintenance.ivfVectors(s"$base/ivf"),
      Maintenance.spanIndex(s"$base/span"),
      Maintenance.paragraphIndex(s"$base/para"),
      Maintenance.headCache(s"$base/head"),
      Maintenance.snapshotStore(s"$base/snap")
    )
    stores.foreach { st =>
      val root = java.nio.file.Paths.get(st.root)
      val token = MaintainerLease.claim(st.root)
      val lost = intercept[ConcurrentStoreWriteException](st.compact(spark))
      assert(lost.getMessage.contains("live maintainer"))
      // nothing published: the store root still holds only the claim files
      val names = Option(root.toFile.listFiles())
        .getOrElse(Array.empty)
        .map(_.getName)
        .toSet
      assert(names.forall(_.startsWith("maintainer.claim")), s"${st.name}: $names")
      MaintainerLease.release(root.toString, token)
    }
  }

  test("rebuild writers are fenced: a held lease makes every write*/retract path fail fast, publishing nothing") {
    import graft.util.{ConcurrentStoreWriteException, MaintainerLease}
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .limit(50)
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
      .limit(50)
    val codes = emb.select(
      col("vec_id"),
      Similarity.quantize(col("embedding")).as("q8")
    )
    val base = Files.createTempDirectory("graft-rebuild-fence").toString
    val rebuilds: Seq[(String, String => Unit)] = Seq(
      ("ii", out => Retrieval.writeInvertedIndexOf(spark, docs, out)),
      ("ivf", out => Similarity.writeIvfIndexOf(spark, emb, out, 2, 1)),
      ("ivfx", out => Similarity.writeIvfIndexExactOf(spark, codes, out, 2, 1)),
      ("lm", out => QualityModel.writeLmModelOf(spark, docs, out)),
      ("span", out => Dedup.writeSpanIndex(spark, docs, out)),
      ("para", out => Dedup.writeParagraphIndex(spark, docs, out))
    )
    rebuilds.foreach { case (name, rebuild) =>
      val root = java.nio.file.Paths.get(s"$base/$name")
      val token = MaintainerLease.claim(root.toString)
      intercept[ConcurrentStoreWriteException](rebuild(root.toString))
      // nothing published: the root still holds only the claim files
      val names = Option(root.toFile.listFiles())
        .getOrElse(Array.empty)
        .map(_.getName)
        .toSet
      assert(names.forall(_.startsWith("maintainer.claim")), s"$name: $names")
      MaintainerLease.release(root.toString, token)
      // and uncontended the same rebuild goes through
      rebuild(root.toString)
    }
  }

  test("maintainer heartbeat: a maintenance job outliving its lease stays fenced against rivals") {
    import graft.util.{ConcurrentStoreWriteException, MaintainerLease}
    val root = java.nio.file.Files
      .createTempDirectory("graft-heartbeat")
      .toAbsolutePath
      .toString
    val leaseMs = 1000L
    val entered = new java.util.concurrent.CountDownLatch(1)
    val rivalOutcome =
      new java.util.concurrent.atomic.AtomicReference[Option[Throwable]](None)
    val rival = new Thread(() => {
      entered.await()
      Thread.sleep(leaseMs * 3) // well past the nominal lease
      rivalOutcome.set(
        try { MaintainerLease.claim(root, leaseMs); None }
        catch { case t: Throwable => Some(t) }
      )
    })
    rival.start()
    val out = MaintainerLease.withMaintainer(root, leaseMs) {
      entered.countDown()
      Thread.sleep(leaseMs * 4) // the body outlives the lease 4×
      42
    }
    rival.join()
    assert(out == 42)
    assert(
      rivalOutcome.get().exists(_.isInstanceOf[ConcurrentStoreWriteException]),
      s"rival must stay fenced while the heartbeat renews: ${rivalOutcome.get()}"
    )
    // and the release was clean: a later maintainer claims immediately
    val t = MaintainerLease.claim(root, leaseMs)
    MaintainerLease.release(root.toString, t)
  }

  test("maintainer fencing: two concurrent maintainers on one store — one wins, reads row-identical throughout") {
    import graft.util.ConcurrentStoreWriteException
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val iiDir = Files.createTempDirectory("graft-fence-race").toString
    Retrieval.writeInvertedIndexOf(
      spark,
      docs.filter(col("doc_id") < maxId / 2),
      iiDir
    )
    Retrieval.appendToInvertedIndex(
      spark,
      docs.filter(col("doc_id") >= maxId / 2),
      iiDir
    )
    val before = rowsOf(Retrieval.keywordTopKIndexed(spark, sfDir, iiDir))

    val gate = new java.util.concurrent.CountDownLatch(1)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        gate.await()
        results.add(
          try Right(Retrieval.compactInvertedIndex(spark, iiDir))
          catch { case t: Throwable => Left(t) }
        )
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())

    val (losses, wins) = results.toArray(Array.empty[Either[Throwable, Unit]])
      .partition(_.isLeft)
    assert(wins.nonEmpty, "at least one maintainer must win the store")
    // every loss is the fencing signal, never a torn swap or an IO error
    losses.foreach {
      case Left(t) =>
        assert(
          t.isInstanceOf[ConcurrentStoreWriteException],
          s"loser must fail with the fencing signal, got: $t"
        )
      case Right(_) => ()
    }
    // the store reads row-identical whoever won (and however many did)
    assert(
      rowsOf(Retrieval.keywordTopKIndexed(spark, sfDir, iiDir)) == before
    )
    // the lease is released: a follow-up maintainer is not wedged
    Retrieval.compactInvertedIndex(spark, iiDir)
    assert(
      rowsOf(Retrieval.keywordTopKIndexed(spark, sfDir, iiDir)) == before
    )
  }

  test("a layer whose files hold no rows is not counted, nor is an aside copy") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft-health-rows").toString
    val entries = s"$dir/entries"
    val rows = Seq(("t", "a", 1L)).toDF("topic", "id", "koffset")
    StreamingHeadCache.writeLayer(rows, entries, 1L)
    StreamingHeadCache.writeLayer(rows.filter(lit(false)), entries, 2L)
    // a writeLayer crash leftover: hidden, so no read sees it
    StreamingHeadCache.writeLayer(rows, s"$dir/scratch", 3L)
    Files.move(java.nio.file.Paths.get(s"$dir/scratch/layer=3"),
      java.nio.file.Paths.get(s"$entries/.layer-3-old-x"))
    StreamingHeadCache.writeLayer(rows, s"$dir/wm", 1L)
    assert(graft.util.Fs.countParquetFiles(s"$entries/layer=2") > 0, "fixture: layer 2 has a file")
    val seen = spark.read.parquet(entries).select("layer").distinct().count()
    val row = Maintenance.healthAll(spark, Seq(Maintenance.headCache(dir))).head()
    assert(seen == 1L && row.getAs[Long]("n_layers") == seen)
  }

  test("healthAll, and a maintainAll with nothing due, run no Spark job") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft-health-jobs").toString
    val rows = Seq(("t", "a", 1L)).toDF("topic", "id", "koffset")
    (1L to 3L).foreach { l =>
      StreamingHeadCache.writeLayer(rows, s"$dir/head/entries", l)
      StreamingHeadCache.writeLayer(rows, s"$dir/head/wm", l)
    }
    val stores = Seq(Maintenance.headCache(s"$dir/head"), Maintenance.snapshotStore(s"$dir/snap"))
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
      var health: Array[org.apache.spark.sql.Row] = null
      var maintained: Array[org.apache.spark.sql.Row] = null
      assert(jobsOf { health = Maintenance.healthAll(spark, stores).collect() } == 0)
      assert(jobsOf { maintained = Maintenance.maintainAll(spark, stores).collect() } == 0)
      assert(health.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq("head_cache" -> 3L, "snapshot_store" -> 1L))
      assert(maintained.forall(!_.getAs[Boolean]("compacted")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
