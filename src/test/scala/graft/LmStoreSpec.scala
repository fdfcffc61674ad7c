package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, QualityModel}

/** Laws for the persisted LM count tables — the p35 model must behave as
  * an additive stored model:
  *
  *   - stored ≡ inline: scoring against the written model equals the
  *     inline train+score at the same boundary, row-for-row;
  *   - append ≡ rebuild, batch-insensitive: delta layers merged by sum
  *     equal the one-shot counts, however training was chunked;
  *   - the p35b lifecycle query equals inline p35 (the oracle-reuse law);
  *   - empty training batches append nothing and change nothing.
  */
class LmStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-lmstore-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  private def live(dir: String, sub: String): String =
    graft.util.DirSwap.resolve(dir, sub)

  private def uniTable(dir: String): Map[String, Long] =
    spark.read
      .parquet(live(dir, "uni").toString)
      .groupBy("w")
      .agg(sum("cu").as("cu"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap

  private def biTable(dir: String): Map[(String, String), Long] =
    spark.read
      .parquet(live(dir, "bi").toString)
      .groupBy("a", "b2")
      .agg(sum("cb").as("cb"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

  test("stored-model scoring equals the inline train+score") {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val tmp = Files.createTempDirectory("graft-lm-full").toString
    QualityModel.writeLmModelOf(
      spark,
      docs.filter(col("doc_id") < boundary),
      tmp
    )
    val stored = rows(
      QualityModel
        .scoreWithLmModel(spark, docs.filter(col("doc_id") >= boundary), tmp)
    )
    val inline = rows(QualityModel.lmFamiliarity(spark, sfDir))
    assert(stored == inline)
  }

  test("append ≡ rebuild: merged delta layers equal one-shot counts, batch-insensitive") {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val hist = docs.filter(col("doc_id") < boundary)

    val full = Files.createTempDirectory("graft-lm-onepass").toString
    QualityModel.writeLmModelOf(spark, hist, full)

    // three chunks appended in sequence
    val chunks = Files.createTempDirectory("graft-lm-chunks").toString
    val third = boundary / 3
    QualityModel.writeLmModelOf(spark, hist.filter(col("doc_id") < third), chunks)
    QualityModel.appendToLmModel(
      spark,
      hist.filter(col("doc_id") >= third && col("doc_id") < 2 * third),
      chunks
    )
    QualityModel.appendToLmModel(
      spark,
      hist.filter(col("doc_id") >= 2 * third),
      chunks
    )

    assert(uniTable(chunks) == uniTable(full))
    assert(biTable(chunks) == biTable(full))

    val batch = docs.filter(col("doc_id") >= boundary)
    assert(
      rows(QualityModel.scoreWithLmModel(spark, batch, chunks)) ==
        rows(QualityModel.scoreWithLmModel(spark, batch, full))
    )
  }

  test("the p35b lifecycle query equals inline p35 (the oracle-reuse law)") {
    assert(
      rows(QualityModel.lmLifecycle(spark, sfDir)) ==
        rows(QualityModel.lmFamiliarity(spark, sfDir))
    )
  }

  test("an empty training batch appends nothing and changes nothing") {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val hist = docs.filter(col("doc_id") < boundary)
    val tmp = Files.createTempDirectory("graft-lm-empty").toString
    QualityModel.writeLmModelOf(spark, hist, tmp)
    val before = (uniTable(tmp), biTable(tmp))
    QualityModel.appendToLmModel(spark, docs.filter(lit(false)), tmp)
    assert((uniTable(tmp), biTable(tmp)) == before)
    val batch = docs.filter(col("doc_id") >= boundary)
    assert(
      rows(QualityModel.scoreWithLmModel(spark, batch, tmp)) ==
        rows(QualityModel.lmFamiliarity(spark, sfDir))
    )
  }

  test("model compaction collapses delta layers, preserves scores, survives a crashed swap") {
    val tmp = Files.createTempDirectory("graft-lm-compact").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val d = docs
    QualityModel.writeLmModelOf(
      spark, d.filter(col("doc_id") < boundary / 2), tmp)
    QualityModel.appendToLmModel(
      spark,
      d.filter(col("doc_id") >= boundary / 2 && col("doc_id") < boundary),
      tmp)
    val batch = d.filter(col("doc_id") >= boundary)

    def uniFiles(): Int = {
      val w = Files.walk(java.nio.file.Paths.get(live(tmp, "uni")))
      try w.filter(_.toString.endsWith(".parquet")).count().toInt
      finally w.close()
    }
    def score(): Seq[(Long, Long, Long)] =
      rows(QualityModel.scoreWithLmModel(spark, batch, tmp))

    val (tablesBefore, scoreBefore, filesBefore) =
      ((uniTable(tmp), biTable(tmp)), score(), uniFiles())
    QualityModel.compactLmModel(spark, tmp, targetFiles = 1)
    assert((uniTable(tmp), biTable(tmp)) == tablesBefore) // merged counts identical
    assert(score() == scoreBefore)                        // scores row-identical
    assert(uniFiles() == 1 && filesBefore > 1)            // layers collapsed

    // crash model of the generation swap: an orphan generation and a
    // stale pointer tmp leave scores untouched; the next swap sweeps
    // both once aged past the slow-reader grace window
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/uni.gen-999"))
    Files.write(
      java.nio.file.Paths.get(s"$tmp/uni.current.tmp-999"),
      "uni.gen-999".getBytes)
    assert(score() == scoreBefore)
    TestFs.ageOutGenerations(tmp, "uni")
    QualityModel.compactLmModel(spark, tmp, targetFiles = 1)
    assert(score() == scoreBefore)
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/uni.gen-999")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/uni.current.tmp-999")))
  }

  test("layer-keyed append: a redelivered training batch never double-counts") {
    val tmp = Files.createTempDirectory("graft-lm-redeliver").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val d = docs
    QualityModel.writeLmModelOf(
      spark, d.filter(col("doc_id") < boundary / 2), tmp)
    val b1 = d.filter(col("doc_id") >= boundary / 2 && col("doc_id") < boundary)
    QualityModel.appendToLmModel(spark, b1, tmp, layer = 1L)
    val once = (uniTable(tmp), biTable(tmp))
    // T1 redelivery: the same batch re-runs under the same layer
    QualityModel.appendToLmModel(spark, b1, tmp, layer = 1L)
    assert((uniTable(tmp), biTable(tmp)) == once)

    // the crash-window interleaving: compaction between first delivery
    // and redelivery PROTECTS the redeliverable layer, so the fold and
    // the rewrite never stack
    QualityModel.compactLmModel(spark, tmp, protectLayersAbove = 0L)
    QualityModel.appendToLmModel(spark, b1, tmp, layer = 1L)
    assert((uniTable(tmp), biTable(tmp)) == once)
    // once committed, the next compaction folds it — counts unchanged
    QualityModel.compactLmModel(spark, tmp)
    assert((uniTable(tmp), biTable(tmp)) == once)

    intercept[IllegalArgumentException] {
      QualityModel.appendToLmModel(spark, b1, tmp, layer = 0L)
    }
  }

  test("streaming trainer: chunked ingest with interleaved compaction equals one-shot training") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val hist = docs
      .filter(col("doc_id") < boundary)
      .as[(Long, String)]
      .collect()
      .toSeq
    val tmp = Files.createTempDirectory("graft-lm-train-stream").toString
    val ckpt = Files.createTempDirectory("graft-lm-train-ckpt").toString
    // the stream owns the store from batch 0: an empty base, the
    // write-side twin of the scoring stream's frozen store
    QualityModel.writeLmModelOf(spark, docs.filter(lit(false)), tmp)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val in = MemoryStream[(Long, String)]
    // one AvailableNow run per chunk over the one checkpoint: each run is
    // the trainer's next micro-batch
    hist.grouped((hist.size / 3).max(1)).foreach { c =>
      in.addData(c): Unit
      graft.streaming.StreamingCuration
        .lmTrainStream(in.toDF().toDF("doc_id", "text"), tmp, ckpt, compactEvery = 2)()
        .awaitTermination()
    }

    val full = Files.createTempDirectory("graft-lm-train-full").toString
    QualityModel.writeLmModelOf(spark, docs.filter(col("doc_id") < boundary), full)
    assert(uniTable(tmp) == uniTable(full))
    assert(biTable(tmp) == biTable(full))
    val batch = docs.filter(col("doc_id") >= boundary)
    assert(
      rows(QualityModel.scoreWithLmModel(spark, batch, tmp)) ==
        rows(QualityModel.scoreWithLmModel(spark, batch, full))
    )
  }

  test("model health: layer debt reported, recommendation fires and clears") {
    val tmp = Files.createTempDirectory("graft-lm-health").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val d = docs
    QualityModel.writeLmModelOf(
      spark, d.filter(col("doc_id") < boundary / 2), tmp)
    def health(threshold: Int) = QualityModel
      .lmModelHealth(spark, tmp, compactOverLayers = threshold)
      .head()
    assert(health(8).getAs[Long]("n_layers") == 1L)
    QualityModel.appendToLmModel(
      spark,
      d.filter(col("doc_id") >= boundary / 2 && col("doc_id") < boundary),
      tmp)
    assert(health(8).getAs[Long]("n_layers") == 2L)
    assert(!health(8).getAs[Boolean]("compact_recommended"))
    assert(health(1).getAs[Boolean]("compact_recommended"))
    QualityModel.compactLmModel(spark, tmp)
    assert(health(1).getAs[Long]("n_layers") == 1L)
    assert(!health(1).getAs[Boolean]("compact_recommended"))
  }
}
