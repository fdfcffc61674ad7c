package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Retrieval, Similarity, StoredHybrid}

/** The stored hybrid search's one keyed pass (`StoredHybrid`, behind
  * `Retrieval.hybridStoredTopK`, `PipelineDeployment.search` and the
  * unfiltered `hybridSearchStream`) against the composition of the
  * public legs it replaces — BM25, ordered proximity and exact IVF
  * cosine through the stores, fused by `rrfFuse` — row for row, in
  * `(qid, rank)` order, with the same schema.
  *
  * The stores hold the sf0.001 corpus plus exact copies of some
  * documents and vectors (BM25, proximity and cosine ties), are built,
  * appended twice and compacted with the last layer protected (df still
  * sums two layers), and the vector store carries a code of another
  * width. The cases: the standard protocol with and without
  * self-exclusion, narrow pools that cut through ties, external queries
  * with a term absent from df, a phrase shorter than the global one, a
  * mismatched-width query code (null cosine keys), text-only and
  * code-only queries (fewer than three legs), and an empty query set.
  * A listener pins the jobs per search, and the members' declared
  * read layouts are checked against what the writers wrote.
  */
class StoredHybridSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var dir: String = _ // the corpus with its copies
  private var tIdx: String = _
  private var vIdx: String = _

  // documents (and vectors) copied under new ids: ties in every leg
  private val Copied = Seq(0L, 1L, 10L, 11L, 12L)
  private val CopyOffset = 100000L
  private val OddWidth = 200000L // a stored vector of another width

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-stored-hybrid-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = Files.createTempDirectory("graft-hybfold-corpus").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    docs
      .unionByName(docs.filter(col("doc_id").isin(Copied: _*))
        .withColumn("doc_id", col("doc_id") + CopyOffset))
      .write.parquet(s"$dir/documents.parquet")
    emb
      .unionByName(emb.filter(col("vec_id").isin(Copied: _*))
        .withColumn("vec_id", col("vec_id") + CopyOffset))
      .write.parquet(s"$dir/embeddings.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val codes = Similarity.quantized(spark, dir).select("vec_id", "q8")
    tIdx = Files.createTempDirectory("graft-hybfold-ti").toString
    Retrieval.writeInvertedIndexOf(spark, d.filter(col("doc_id") % 5 < 3), tIdx, withPositions = true)
    Retrieval.appendToInvertedIndex(spark, d.filter(col("doc_id") % 5 === 3), tIdx, layer = 1L)
    Retrieval.appendToInvertedIndex(spark, d.filter(col("doc_id") % 5 === 4), tIdx, layer = 2L)
    Retrieval.compactInvertedIndex(spark, tIdx, protectLayersAbove = 1L)
    vIdx = Files.createTempDirectory("graft-hybfold-vi").toString
    Similarity.writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), vIdx)
    Similarity.appendToIvfIndexExact(
      spark,
      codes.filter(col("vec_id") % 4 >= 3)
        .unionByName(spark.range(1).select(lit(OddWidth).as("vec_id"), typedLit(Seq(3L, -2L, 1L)).as("q8"))),
      vIdx,
      layer = 1L)
    Similarity.compactIvfIndex(spark, vIdx)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The law anchor: the composition of the public legs. */
  private def composed(
      text: DataFrame, // (doc_id = qid, text)
      codes: DataFrame, // (vec_id = qid, q8)
      poolK: Int,
      k: Int,
      excludeSelf: Boolean,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8,
      nprobe: Int = 2
  ): DataFrame = {
    val bm25 = Retrieval
      .bm25TopKIndexedOf(
        spark, Retrieval.postings(text).select(col("doc_id").as("qid"), col("w")), tIdx, poolK, excludeSelf)
      .select("qid", "doc_id", "rank")
    val dense = Similarity
      .knnIvfIndexedExactOf(spark, codes, vIdx, Long.MaxValue, poolK, nprobe, excludeSelf)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    val prox = Retrieval
      .proximityTopKIndexedOf(spark, Retrieval.phrasesOf(text, phraseLen), tIdx, poolK, window, excludeSelf)
      .select("qid", "doc_id", "rank")
    Retrieval.rrfFuse(Seq(bm25, dense, prox), rrfK, k)
  }

  private def folded(
      text: DataFrame,
      codes: DataFrame,
      poolK: Int,
      k: Int,
      excludeSelf: Boolean
  ): DataFrame =
    StoredHybrid.search(
      spark, text, codes.select(col("vec_id").as("qid"), col("q8")),
      tIdx, vIdx, poolK, k, 60, 3, 8, 2, excludeSelf)

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Seq[Row] = {
    assert(got.schema == want.schema, clue)
    val w = rows(want)
    assert(rows(got) == w, clue)
    w
  }

  private def protocolText(n: Int) =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").filter(col("doc_id") < n)
  private def protocolCodes(n: Int) =
    Similarity.quantized(spark, dir).select("vec_id", "q8").filter(col("vec_id") < n)

  test("the standard protocol: hybridStoredTopK equals the composition, with and without self-exclusion") {
    Seq(true, false).foreach { ex =>
      val want = assertSame(
        Retrieval.hybridStoredTopK(spark, dir, tIdx, vIdx, excludeSelf = ex),
        composed(protocolText(5), protocolCodes(5), 20, 10, ex),
        s"excludeSelf=$ex")
      assert(want.map(_.getLong(0)).distinct.size == 5)
      // the copies tie their originals in all three legs
      assert(want.exists(r => r.getLong(1) >= CopyOffset), s"no copy ranked (excludeSelf=$ex)")
      if (!ex) assert(want.exists(r => r.getLong(0) == r.getLong(1)), "no self-hit without exclusion")
      else assert(!want.exists(r => r.getLong(0) == r.getLong(1)), "a self-hit under exclusion")
    }
  }

  test("narrow pools cut through ties the same way") {
    Seq((3, 4), (1, 2)).foreach { case (poolK, k) =>
      Seq(true, false).foreach { ex =>
        assertSame(
          folded(protocolText(8), protocolCodes(8), poolK, k, ex),
          composed(protocolText(8), protocolCodes(8), poolK, k, ex),
          s"poolK=$poolK k=$k excludeSelf=$ex")
      }
    }
  }

  test("external queries: absent terms, a short phrase, a null cosine key, fewer than three legs") {
    val s = spark
    import s.implicits._
    val corpus = protocolText(3).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val text = Seq(
      (900L, corpus(0L) + " zzunseen"), // a term absent from df
      (901L, corpus(1L).split(" ").filter(_.nonEmpty).take(2).mkString(" ")), // a 2-slot phrase
      (902L, corpus(2L)), // text only: no codes
      (903L, "zzunseen zzalso") // no term in df at all
    ).toDF("doc_id", "text")
    val emb = Similarity.quantized(spark, dir).select("vec_id", "q8")
    val codes = emb
      .filter(col("vec_id").isin(0L, 1L, 10L))
      .withColumn("vec_id", col("vec_id") + 900L)
      .unionByName(Seq((904L, Seq(5L, 1L))).toDF("vec_id", "q8")) // another width: null keys
    val want = assertSame(folded(text, codes, 20, 10, excludeSelf = false),
      composed(text, codes, 20, 10, excludeSelf = false), "external queries")
    val legs = want.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(4)).max }
    assert(legs(900L) == 3L && legs(902L) == 2L, legs.toString)
    // 901's two slots fall short of the global three: no proximity hit
    val proxQids = Retrieval
      .proximityTopKIndexedOf(spark, Retrieval.phrasesOf(text, 3), tIdx, 20, 8, excludeSelf = false)
      .select("qid").distinct().collect().map(_.getLong(0)).toSet
    assert(proxQids.contains(900L) && !proxQids.contains(901L), proxQids.toString)
    // 903 has no text match; 910 and 904 have codes only, and 904 ranks
    // the probed cells' vectors by vec_id
    assert(!legs.contains(903L) && legs(910L) == 1L && legs(904L) == 1L, legs.toString)
    assert(want.filter(_.getLong(0) == 904L).map(_.getLong(1)) ==
      want.filter(_.getLong(0) == 904L).map(_.getLong(1)).sorted, "null keys rank by vec_id")
    // the same with self-exclusion (qids collide with no doc here)
    assertSame(folded(text, codes, 20, 10, excludeSelf = true),
      composed(text, codes, 20, 10, excludeSelf = true), "external queries, excludeSelf")
  }

  test("an empty query set gives an empty result with the same schema") {
    val got = Retrieval.hybridStoredTopK(spark, dir, tIdx, vIdx, nQueries = 0)
    val want = composed(protocolText(0), protocolCodes(0), 20, 10, excludeSelf = true)
    assert(got.schema == want.schema)
    assert(got.collect().isEmpty && want.collect().isEmpty)
  }

  test("the declared layouts are the ones the writers wrote") {
    // names and order as a schema-inferring read sees them (partition
    // columns last); column types as one data file holds them —
    // partition values carry no type, the declared schema fixes those
    def check(layout: org.apache.spark.sql.types.StructType, loc: String): Unit = {
      val inferred = spark.read.parquet(loc)
      assert(inferred.schema.fieldNames.toSeq == layout.fieldNames.toSeq, loc)
      spark.read.parquet(inferred.inputFiles.head).schema.fields.foreach { f =>
        assert(f.dataType.catalogString == layout(f.name).dataType.catalogString, s"$loc: ${f.name}")
      }
    }
    val text = Retrieval.liveDir(tIdx, _: String)
    check(Retrieval.Layout.documents, s"$dir/documents.parquet")
    check(Retrieval.Layout.params, s"$tIdx/params")
    check(Retrieval.Layout.stats, text("stats"))
    check(Retrieval.Layout.postings, text("postings"))
    check(Retrieval.Layout.df, text("df"))
    check(Retrieval.Layout.positions, text("positions"))
    check(Similarity.Layout.embeddings, s"$dir/embeddings.parquet")
    check(Similarity.Layout.centroids, s"$vIdx/centroids")
    check(Similarity.Layout.vectors, graft.util.DirSwap.resolve(vIdx, "vectors").toString)
  }

  test("one search is a fixed handful of Spark jobs") {
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
      // warm, then count: the query-side and df collects, the (query,
      // doc) combine's exchange, the grouped pass's exchange, the final
      // single-partition order, the result stage
      Retrieval.hybridStoredTopK(spark, dir, tIdx, vIdx).collect()
      val n = jobsOf(Retrieval.hybridStoredTopK(spark, dir, tIdx, vIdx).collect())
      assert(n <= 6, s"$n jobs per search")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
