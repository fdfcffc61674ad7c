package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.journal.{Replicate, ReplicateFold}
import graft.model.ActionLog
import graft.streaming.StreamingReplicator

/** The replicator's keyed fold against its law anchor: every batch folded
  * through [[ReplicateFold]] leaves the store row-identical to
  * [[Replicate.mergeBatch]] — over the sf0.001 log chunk by chunk and
  * over hand-built batches for the edge cases — and the on-disk form
  * writes one data file per touched partition in a fixed handful of
  * Spark jobs.
  */
class ReplicateFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-replicate-fold-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def actions = ActionLog.fromEvents(spark, sfDir)

  private def chunks(a: DataFrame, n: Int): Seq[DataFrame] = {
    val mx = a.agg(max("event_id")).head().getLong(0)
    val step = mx / n + 1
    (0 until n).map(i => a.filter(col("event_id") >= i * step && col("event_id") < (i + 1) * step))
  }

  /** One batch through the fold, with the driver-side pointer2 merge —
    * the in-memory form of what `applyBatch` writes.
    */
  private def foldBatch(st: Replicate.Store, batch: DataFrame): Replicate.Store = {
    val p2 = st.pointer2.collect().toSeq
    val next = ReplicateFold.nextOffsets(p2)
    val folded = ReplicateFold.fold(st.journal, st.metajournal, batch, next, 4).localCheckpoint(true)
    Replicate.Store(
      ReplicateFold.journalOf(folded).drop("bucket"),
      ReplicateFold.metajournalOf(folded).drop("bucket"),
      spark.createDataFrame(
        ReplicateFold.pointer2(p2, ReplicateFold.touches(batch, next)).asJava,
        Replicate.Layout.pointer2)
    )
  }

  /** `mergeBatch`, materialized so a chain of batches stays shallow. */
  private def mergeBatch(st: Replicate.Store, batch: DataFrame): Replicate.Store = {
    val m = Replicate.mergeBatch(st, batch)
    Replicate.Store(
      m.journal.localCheckpoint(true),
      m.metajournal.localCheckpoint(true),
      m.pointer2.localCheckpoint(true))
  }

  private def assertStoreEquals(got: Replicate.Store, want: Replicate.Store, step: String): Unit =
    for ((g, w, name) <- Seq(
        (got.journal, want.journal, "journal"),
        (got.metajournal, want.metajournal, "metajournal"),
        (got.pointer2, want.pointer2, "pointer2"))) {
      val cols = w.columns.sorted.map(col).toIndexedSeq
      val gs = g.select(cols: _*)
      val ws = w.select(cols: _*)
      assert(gs.exceptAll(ws).count() == 0, s"$step $name: extra rows")
      assert(ws.exceptAll(gs).count() == 0, s"$step $name: missing rows")
    }

  /** Folds `batches` both ways from `start`, comparing after each one. */
  private def foldsAgree(start: Replicate.Store, batches: Seq[(String, DataFrame)]): Replicate.Store =
    batches.foldLeft((start, start)) { case ((got, want), (step, b)) =>
      val (g, w) = (foldBatch(got, b), mergeBatch(want, b))
      assertStoreEquals(g, w, step)
      (g, w)
    }._1

  /** Hand-built action rows on the log's schema. */
  private def batchOf(rows: (String, Long, String, Option[Long], Option[Long])*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows
      .map { case (id, koffset, action, seqNr, deleteTo) =>
        ("t9", 0, koffset, id, action,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + koffset * 86400000L,
          seqNr, deleteTo, Option.when(action == "append")(1.0),
          Option.when(action == "append")("json"), Option.when(action == "append")("{}"),
          Option.empty[Array[Byte]], Option.when(action == "append")("a,b"), s"o$koffset", "1.0.0",
          Option.when(action == "append")(s"""{"expireAfter":"${koffset + 1}"}"""))
      }
      .toDF("topic", "part_no", "koffset", "id", "action", "ts_ms", "seq_nr", "delete_to",
        "payload", "payload_type", "payload_txt", "payload_bin", "tags_csv", "origin",
        "version", "metadata")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .drop("ts_ms")
  }

  test("the fold equals mergeBatch chunk by chunk from a virgin store, and a redelivered batch is a no-op") {
    val a = actions.cache()
    val cs = chunks(a, 4)
    foldsAgree(
      Replicate.empty(spark, a),
      cs.zipWithIndex.map { case (c, i) => s"chunk $i" -> c } :+ ("redelivered chunk 1" -> cs(1))
    )
    a.unpersist()
  }

  test("offset guard: a batch straddling the watermark folds only its rows above it") {
    val a = actions.cache()
    val cs = chunks(a, 3)
    // chunk 1 again, with chunk 2: half the batch sits below pointer2
    foldsAgree(
      Replicate.empty(spark, a),
      Seq("chunk 0" -> cs(0), "chunk 1" -> cs(1), "chunk 1 + 2" -> cs(1).unionByName(cs(2)))
    )
    a.unpersist()
  }

  test("purge empties a partition, purge-then-recreate rotates record_id, an overshooting delete widens seq_nr") {
    val b1 = batchOf(("solo", 0, "append", Some(1L), None), ("solo", 1, "append", Some(2L), None),
      ("other", 2, "append", Some(1L), None))
    val b2 = batchOf(("solo", 3, "purge", None, None), ("other", 4, "purge", None, None))
    val b3 = batchOf(("solo", 5, "append", Some(1L), None), ("solo", 6, "mark", None, None),
      ("solo", 7, "append", Some(2L), None), ("solo", 8, "delete", None, Some(5L)))
    val empty = Replicate.empty(spark, b1)
    def recordId(st: Replicate.Store) =
      st.metajournal.filter(col("id") === "solo").select("record_id").collect().map(_.getString(0)).toSeq
    val s1 = foldsAgree(empty, Seq("appends" -> b1))
    val s2 = foldsAgree(s1, Seq("purge" -> b2))
    assert(s2.journal.count() == 0 && s2.metajournal.count() == 0, "the purge emptied the store")
    val s3 = foldsAgree(s2, Seq("recreate" -> b3))
    assert(recordId(s1).size == 1 && recordId(s3).size == 1)
    assert(recordId(s1) != recordId(s3), "record_id rotates with the re-created journal")
    val head = s3.metajournal.filter(col("id") === "solo").head()
    assert(head.getAs[Long]("seq_nr") == 5L && head.getAs[Long]("delete_to") == 5L)
    assert(s3.journal.filter(col("id") === "solo").count() == 0)
  }

  test("four chunked batches leave one data file per partition, and the store equals compute") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-fold-files").toString
    chunks(a, 4).foreach(StreamingReplicator.applyBatch(spark, tmp, _))
    for (table <- Seq("journal", "metajournal")) {
      val s = Files.walk(Paths.get(tmp, table))
      val perPartition =
        try s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
          .toSeq.groupBy(_.getParent).view.mapValues(_.size).toMap
        finally s.close()
      assert(perPartition.nonEmpty)
      assert(perPartition.values.forall(_ == 1), s"$table: ${perPartition.filter(_._2 != 1)}")
    }
    assertStoreEquals(StreamingReplicator.readStore(spark, tmp), Replicate.compute(a), "store")
    a.unpersist()
  }

  test("the declared layout is the one the writer wrote") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-fold-layout").toString
    StreamingReplicator.applyBatch(spark, tmp, a)
    def check(layout: org.apache.spark.sql.types.StructType, loc: String): Unit = {
      val inferred = spark.read.parquet(loc)
      assert(inferred.schema.fieldNames.toSeq == layout.fieldNames.toSeq, loc)
      spark.read.parquet(inferred.inputFiles.head).schema.fields.foreach { f =>
        assert(f.dataType.catalogString == layout(f.name).dataType.catalogString, s"$loc: ${f.name}")
      }
    }
    check(Replicate.Layout.journal, s"$tmp/journal")
    check(Replicate.Layout.metajournal, s"$tmp/metajournal")
    check(Replicate.Layout.pointer2, s"${StreamingReplicator.recoverCurrent(tmp)}/pointer2")
    a.unpersist()
  }

  test("one non-empty applyBatch is a fixed handful of Spark jobs") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-fold-jobs").toString
    val cs = chunks(a, 4).map(_.cache())
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    cs.foreach(_.count())
    StreamingReplicator.applyBatch(spark, tmp, cs(0))
    spark.sparkContext.addSparkListener(listener)
    try cs.drop(1).foreach { c =>
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      jobs.set(0)
      StreamingReplicator.applyBatch(spark, tmp, c)
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      assert(jobs.get() <= 10, s"${jobs.get()} jobs per batch")
    } finally spark.sparkContext.removeSparkListener(listener)
    cs.foreach(_.unpersist())
    a.unpersist()
  }
}
