package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Retrieval}

/** Laws for the persisted inverted index — the lexical plane's lifecycle
  * must reproduce the inline build bit-for-bit:
  *
  *   - stored ≡ inline (tf-idf and BM25);
  *   - append ≡ rebuild, batch-insensitive, old files untouched;
  *   - the lifecycle queries (p33b/p33d) equal their inline twins — the
  *     justification for reusing the inline oracles;
  *   - chunked streaming search ≡ one batch search;
  *   - the posting scan is partition-pruned to the probed term buckets;
  *   - BM25's integer arithmetic matches an independent in-memory model.
  */
class RetrievalIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-retrievalindex-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  private def docs: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")

  test("stored tf-idf search is row-identical to the inline build") {
    val tmp = Files.createTempDirectory("graft-ii-full").toString
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)
    assert(
      rows(Retrieval.keywordTopKIndexed(spark, sfDir, tmp)) ==
        rows(Retrieval.keywordTopK(spark, sfDir))
    )
  }

  test("stored BM25 search is row-identical to the inline build") {
    val tmp = Files.createTempDirectory("graft-ii-bm25").toString
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp)) ==
        rows(Retrieval.bm25TopK(spark, sfDir))
    )
  }

  private def rows5(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    df.collect()
      .map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      )
      .toSeq

  test("stored phrase search is row-identical to the inline positional build, through compaction") {
    val tmp = Files.createTempDirectory("graft-ii-phrase").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)
    val inline = rows5(Retrieval.phraseTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain cross-doc phrase matches")
    assert(rows5(Retrieval.phraseTopKIndexed(spark, sfDir, tmp)) == inline)
    Retrieval.compactInvertedIndex(spark, tmp)
    assert(rows5(Retrieval.phraseTopKIndexed(spark, sfDir, tmp)) == inline)
    // the positions scan is partition-pruned to the phrase terms' buckets
    val ss = spark
    import ss.implicits._
    val phrase = Seq((99L, 1L, "the")).toDF("qid", "j", "w")
    val plan = Retrieval
      .phraseTopKIndexedOf(spark, phrase, tmp, k = 3)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PartitionFilters") && plan.contains("wb"))
  }

  test("proximity: stored ≡ inline ≡ lifecycle; window = phraseLen degenerates to the exact phrase") {
    val tmp = Files.createTempDirectory("graft-ii-prox").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)
    val inline = rows5(Retrieval.proximityTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain proximity matches")
    assert(rows5(Retrieval.proximityTopKIndexed(spark, sfDir, tmp)) == inline)
    assert(rows5(Retrieval.proximityIndexLifecycle(spark, sfDir)) == inline)
    // proximity is a RELAXATION of the exact phrase: at window =
    // phraseLen the in-order window forces consecutive positions, so
    // (doc set, window counts) equal the phrase operator's
    // (doc set, occurrence counts) exactly
    // (k large enough to defeat the top-k cutoff: the law is about the
    // MATCHER SETS and their counts, not the head of the ranking)
    def keyed(rs: Seq[(Long, Long, Long, Long, Long)]): Map[(Long, Long), Long] =
      rs.map(t => (t._1, t._2) -> t._5).toMap
    val tight =
      keyed(rows5(Retrieval.proximityTopK(spark, sfDir, k = 10000, window = 3)))
    val phrase = keyed(rows5(Retrieval.phraseTopK(spark, sfDir, k = 10000)))
    assert(tight == phrase)
    // and the default window admits at least the exact matches
    val loose = keyed(rows5(Retrieval.proximityTopK(spark, sfDir, k = 10000)))
    assert(phrase.keySet.subsetOf(loose.keySet))
    assert(phrase.forall { case (k, n) => loose(k) >= n })
  }

  test("positional append ≡ rebuild; p33f lifecycle equals inline; frequency-only stores stay positions-free") {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val old = docs.filter(col("doc_id") < boundary)
    val fresh = docs.filter(col("doc_id") >= boundary)

    val incr = Files.createTempDirectory("graft-ii-posincr").toString
    Retrieval.writeInvertedIndexOf(spark, old, incr, withPositions = true)
    Retrieval.appendToInvertedIndex(spark, fresh, incr)
    val full = Files.createTempDirectory("graft-ii-posfull").toString
    Retrieval.writeInvertedIndexOf(spark, docs, full, withPositions = true)
    def posSet(dir: String): Set[(Long, String, Long)] =
      spark.read
        .parquet(live(dir, "positions").toString)
        .select("doc_id", "w", "pos")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    assert(posSet(incr) == posSet(full), "appended positions ≡ rebuild")
    assert(
      rows5(Retrieval.phraseTopKIndexed(spark, sfDir, incr)) ==
        rows5(Retrieval.phraseTopK(spark, sfDir))
    )
    // the registered lifecycle query IS this composition — the oracle-reuse
    // justification
    assert(
      rows5(Retrieval.phraseIndexLifecycle(spark, sfDir)) ==
        rows5(Retrieval.phraseTopK(spark, sfDir))
    )
    // a frequency-only store never grows a positions directory
    val freq = Files.createTempDirectory("graft-ii-freqonly").toString
    Retrieval.writeInvertedIndexOf(spark, old, freq)
    Retrieval.appendToInvertedIndex(spark, fresh, freq)
    assert(!Files.exists(Paths.get(s"$freq/positions")))
  }

  test("withDict = false: frequency queries identical, no dict member on build OR append, dictionary queries fail loudly naming the flag") {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val old = docs.filter(col("doc_id") < boundary)
    val fresh = docs.filter(col("doc_id") >= boundary)
    val noDict = Files.createTempDirectory("graft-ii-nodict").toString
    Retrieval.writeInvertedIndexOf(spark, old, noDict, withDict = false)
    Retrieval.appendToInvertedIndex(spark, fresh, noDict)
    assert(
      !Files.exists(Paths.get(s"$noDict/dict")),
      "a dict-less store must not grow a partial dict on append either"
    )
    val withD = Files.createTempDirectory("graft-ii-withdict").toString
    Retrieval.writeInvertedIndexOf(spark, old, withD)
    Retrieval.appendToInvertedIndex(spark, fresh, withD)
    // the frequency path (p33d's composition) is byte-for-byte unaffected
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, noDict)) ==
        rows(Retrieval.bm25TopKIndexed(spark, sfDir, withD))
    )
    // a dictionary query against the dict-less store names the rebuild
    // flag instead of failing as a bare path error or an empty result
    val ex = intercept[IllegalStateException](
      Retrieval.prefixTopKIndexed(spark, sfDir, noDict)
    )
    assert(ex.getMessage.contains("withDict"))
  }

  test(
    "rebuild without positions retracts an existing positional payload (no stale-position mixing)"
  ) {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val old = docs.filter(col("doc_id") < boundary)
    val fresh = docs.filter(col("doc_id") >= boundary)
    val dir = Files.createTempDirectory("graft-ii-retract").toString
    // a positional store, compacted so positions live behind a swapped
    // generation (the worst case: pointer + generation dirs to retract)
    Retrieval.writeInvertedIndexOf(spark, old, dir, withPositions = true)
    Retrieval.compactInvertedIndex(spark, dir)
    // REBUILD frequency-only (over the history split, so the append below
    // completes the corpus): the old positional payload must be gone in
    // every form — plain dir, generations, pointer
    Retrieval.writeInvertedIndexOf(spark, old, dir)
    assert(!Files.exists(Paths.get(s"$dir/positions")))
    assert(!Files.exists(Paths.get(s"$dir/positions.current")))
    val leftovers = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.startsWith("positions"))
          .toList
      } finally s.close()
    }
    assert(leftovers.isEmpty, s"stale positional leftovers: $leftovers")
    // and the store behaves as frequency-only from here on
    Retrieval.appendToInvertedIndex(spark, fresh, dir)
    assert(!Files.exists(Paths.get(s"$dir/positions")))
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, dir)) ==
        rows(Retrieval.bm25TopK(spark, sfDir))
    )
  }

  private def live(dir: String, sub: String): Path =
    Paths.get(graft.util.DirSwap.resolve(dir, sub))

  private def postingFiles(dir: String): Map[Path, Long] = {
    val root = live(dir, "postings")
    val s = Files.walk(root)
    try
      s.filter(p => p.toString.endsWith(".parquet"))
        .toArray
        .map(_.asInstanceOf[Path])
        .map(p => p -> Files.size(p))
        .toMap
    finally s.close()
  }

  test(
    "append ≡ rebuild: merged layers equal the one-shot index, old files untouched, batch-insensitive"
  ) {
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val old = docs.filter(col("doc_id") < boundary)
    val fresh = docs.filter(col("doc_id") >= boundary)

    val incr = Files.createTempDirectory("graft-ii-incr").toString
    Retrieval.writeInvertedIndexOf(spark, old, incr)
    val before = postingFiles(incr)
    Retrieval.appendToInvertedIndex(spark, fresh, incr)
    val after = postingFiles(incr)
    // old posting files byte-untouched: every pre-append file survives
    // with its exact size; the append only ADDS files
    assert(before.forall { case (p, sz) => after.get(p).contains(sz) })
    assert(after.size > before.size)

    val full = Files.createTempDirectory("graft-ii-onepass").toString
    Retrieval.writeInvertedIndexOf(spark, docs, full)

    // merged df layers equal the one-shot df table
    def dfTable(dir: String): Map[String, Long] =
      spark.read
        .parquet(s"$dir/df")
        .groupBy("w")
        .agg(sum("df").as("df"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
    assert(dfTable(incr) == dfTable(full))

    // identical searches, both rankings
    assert(
      rows(Retrieval.keywordTopKIndexed(spark, sfDir, incr)) ==
        rows(Retrieval.keywordTopKIndexed(spark, sfDir, full))
    )
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, incr)) ==
        rows(Retrieval.bm25TopKIndexed(spark, sfDir, full))
    )

    // batch-insensitivity: two appends ≡ one append of the union
    val twice = Files.createTempDirectory("graft-ii-twice").toString
    val mid = (boundary + docs.agg(max("doc_id")).head().getLong(0)) / 2
    Retrieval.writeInvertedIndexOf(spark, old, twice)
    Retrieval.appendToInvertedIndex(
      spark,
      fresh.filter(col("doc_id") < mid),
      twice
    )
    Retrieval.appendToInvertedIndex(
      spark,
      fresh.filter(col("doc_id") >= mid),
      twice
    )
    assert(dfTable(twice) == dfTable(full))
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, twice)) ==
        rows(Retrieval.bm25TopKIndexed(spark, sfDir, full))
    )
  }

  test("p36d stored-leg hybrid equals the inline-composed fusion (its oracle's justification); stored legs prune") {
    val lex = Retrieval
      .bm25TopK(spark, sfDir, 5, 20)
      .select(col("qid"), col("doc_id"), col("rank"))
    val dense = graft.pipeline.Similarity
      .knnIndexLifecycleExact(spark, sfDir, 5, 20)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    val prox = Retrieval
      .proximityTopK(spark, sfDir, 5, 20)
      .select(col("qid"), col("doc_id"), col("rank"))
    val expected = rows5(Retrieval.rrfFuse(Seq(lex, dense, prox), 60, 10))
    assert(expected.nonEmpty)
    assert(rows5(Retrieval.hybridStoredLifecycle(spark, sfDir)) == expected)
    // and the fused STORED query's leg scans are all partition-pruned:
    // build both stores once, plan-check hybridStoredTopK directly
    val tIdx = Files.createTempDirectory("graft-p36d-ti").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tIdx, withPositions = true)
    val vIdx = Files.createTempDirectory("graft-p36d-vi").toString
    graft.pipeline.Similarity.writeIvfIndexExactOf(
      spark,
      graft.pipeline.Similarity.quantized(spark, sfDir).select("vec_id", "q8"),
      vIdx
    )
    val fused = Retrieval.hybridStoredTopK(spark, sfDir, tIdx, vIdx)
    val plan = fused.queryExecution.executedPlan.toString
    // every pruneable store scan in the fused plan carries its partition
    // filter (stats is a single-row summed member — nothing to prune)
    val storeScans = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && (l.contains(tIdx) || l.contains(vIdx)))
      .toList
    assert(storeScans.nonEmpty, "no store scans found in the fused plan")
    val unpruned = storeScans.filter(l =>
      l.contains("PartitionFilters: []") && !l.contains("stats")
    )
    assert(unpruned.isEmpty, s"unpruned store scan:\n${unpruned.mkString("\n")}")
  }

  test("filtered hybrid: every fused doc satisfies the predicate; the filter is non-vacuous") {
    val tIdx = Files.createTempDirectory("graft-hybfilt-ti").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tIdx, withPositions = true)
    val vIdx = Files.createTempDirectory("graft-hybfilt-vi").toString
    graft.pipeline.Similarity.writeIvfIndexExactOf(
      spark,
      graft.pipeline.Similarity.quantized(spark, sfDir).select("vec_id", "q8"),
      vIdx
    )
    val allowed = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id")
    val allowedSet =
      allowed.collect().map(_.getLong(0)).toSet
    val got = Retrieval
      .hybridStoredTopKFiltered(spark, sfDir, tIdx, vIdx, allowed)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
    assert(got.nonEmpty)
    assert(got.forall(allowedSet.contains), "a non-English doc leaked through")
    // non-vacuous: the unfiltered fusion ranks at least one excluded doc
    val unf = Retrieval
      .hybridStoredTopK(spark, sfDir, tIdx, vIdx)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
    assert(
      unf.exists(!allowedSet.contains(_)),
      "fixture too easy: the filter never binds"
    )
  }

  test("FILTERED streaming hybrid equals the filtered batch fusion, chunked") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tIdx = Files.createTempDirectory("graft-hybfs-ti").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tIdx, withPositions = true)
    val vIdx = Files.createTempDirectory("graft-hybfs-vi").toString
    graft.pipeline.Similarity.writeIvfIndexExactOf(
      spark,
      graft.pipeline.Similarity.quantized(spark, sfDir).select("vec_id", "q8"),
      vIdx
    )
    val allowed = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id")
    val want = rows5(Retrieval.hybridStoredTopKFiltered(
      spark, sfDir, tIdx, vIdx, allowed, excludeSelf = false))
    assert(want.nonEmpty)
    val queryRows = docs
      .filter(col("doc_id") < 5)
      .join(
        spark.read
          .parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id")
      )
      .as[(Long, String, Array[Float])]
      .collect()
      .toSeq
    val chunksQ = queryRows.groupBy(_._1 % 2).toSeq.sortBy(_._1).map(_._2)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val ms = MemoryStream[(Long, String, Array[Float])]
    val ck = Files.createTempDirectory("graft-hybfs-ck").toString
    val q = graft.streaming.StreamingRetrieval.hybridSearchStream(
      ms.toDF().toDF("qid", "text", "embedding"),
      tIdx,
      vIdx,
      ck,
      allowed = Some(allowed),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      got ++= res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    try {
      chunksQ.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    assert(got.sortBy(t => (t._1, t._3)).toSeq == want.sortBy(t => (t._1, t._3)))
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    assert(got.forall(t => allowedSet.contains(t._2)), "a filtered doc leaked")
  }

  test("streaming stored-hybrid search over chunked queries equals the batch p36d fusion") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // both stores, built once (the frozen side of the search service)
    val tIdx = Files.createTempDirectory("graft-hybstream-ti").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tIdx, withPositions = true)
    val vIdx = Files.createTempDirectory("graft-hybstream-vi").toString
    graft.pipeline.Similarity.writeIvfIndexExactOf(
      spark,
      graft.pipeline.Similarity.quantized(spark, sfDir).select("vec_id", "q8"),
      vIdx
    )
    // the stream serves EXTERNAL qids (no corpus self-exclusion); its
    // batch twin is hybridStoredTopK in the same posture
    val want = rows5(Retrieval.hybridStoredTopK(
      spark, sfDir, tIdx, vIdx, excludeSelf = false))
    assert(want.nonEmpty)
    // the protocol's 5 query docs, with their embeddings, in two chunks
    val queryRows = docs
      .filter(col("doc_id") < 5)
      .join(
        spark.read
          .parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id")
      )
      .as[(Long, String, Array[Float])]
      .collect()
      .toSeq
    val chunksQ = queryRows.groupBy(_._1 % 2).toSeq.sortBy(_._1).map(_._2)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val ms = MemoryStream[(Long, String, Array[Float])]
    val ck = Files.createTempDirectory("graft-hybstream-ck").toString
    val q = graft.streaming.StreamingRetrieval.hybridSearchStream(
      ms.toDF().toDF("qid", "text", "embedding"),
      tIdx,
      vIdx,
      ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      got ++= res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    try {
      chunksQ.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    assert(got.sortBy(t => (t._1, t._3)).toSeq == want.sortBy(t => (t._1, t._3)))
    // the colliding doc is retrievable by its own query (rank 1 on every
    // leg) — the self-exclusion leak the service posture must not have
    assert(
      got.exists(t => t._1 == t._2),
      "no self-hit: the corpus protocol's exclusion leaked into the service"
    )
  }

  test("lifecycle queries equal their inline twins (the p33b/p33d oracle reuse)") {
    assert(
      rows(Retrieval.keywordIndexLifecycle(spark, sfDir)) ==
        rows(Retrieval.keywordTopK(spark, sfDir))
    )
    assert(
      rows(Retrieval.bm25IndexLifecycle(spark, sfDir)) ==
        rows(Retrieval.bm25TopK(spark, sfDir))
    )
    assert(
      rows(Retrieval.booleanIndexLifecycle(spark, sfDir)) ==
        rows(Retrieval.booleanTopK(spark, sfDir))
    )
  }

  test("boolean AND retrieval: every hit contains ALL query terms; a term found nowhere together yields nothing") {
    val ss = spark
    import ss.implicits._
    // fixture: doc 9 is the query source (first 3 distinct terms a b c);
    // only docs holding {a, b, c} TOGETHER may rank
    val fix = Seq(
      (9L, "a b c d"),
      (10L, "a b c"), // qualifies
      (11L, "c b x a y"), // qualifies (order irrelevant)
      (12L, "a b"), // missing c
      (13L, "a c"), // missing b
      (14L, "x y z")
    ).toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-ii-bool").toString
    Retrieval.writeInvertedIndexOf(spark, fix, tmp, withPositions = true)
    val got = Retrieval
      .booleanTopKIndexedOf(
        spark,
        Seq((9L, "a"), (9L, "b"), (9L, "c")).toDF("qid", "w"),
        tmp
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(got == Set(10L, 11L), s"AND gate: $got")
    // a conjunction satisfied by NO document is empty, not partial-match
    val none = Retrieval
      .booleanTopKIndexedOf(
        spark,
        Seq((9L, "a"), (9L, "z")).toDF("qid", "w"),
        tmp
      )
      .count()
    assert(none == 0L, "no doc holds {a, z} together")
    // external-qid posture: a colliding qid keeps its own doc retrievable
    val self = Retrieval
      .booleanTopKIndexedOf(
        spark,
        Seq((10L, "a"), (10L, "b"), (10L, "c")).toDF("qid", "w"),
        tmp,
        excludeSelf = false
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(self.contains(10L), "service posture keeps the self-hit")
  }

  test("full boolean clause matrix: MUST gates, MUST_NOT excludes, SHOULD scores but never gates; indexed ≡ inline") {
    val ss = spark
    import ss.implicits._
    // the clause matrix, one doc per cell (must terms {a, b}, exclusion
    // {n}, optional {s}); docs 20/21 are the should-scoring pair — same
    // length, same must profile, one carries the optional term
    val fix = Seq(
      (20L, "a b s x"), // must ✓, not ∅, should ✓ → hit, boosted
      (21L, "a b y x"), // must ✓, not ∅, should ∅ → hit, lower score
      (22L, "a b s n"), // must ✓, but carries the exclusion → OUT
      (23L, "a s x y"), // missing must b (should cannot substitute) → OUT
      (24L, "n s x y"), // exclusion + should only → OUT
      (25L, "x y z w") // nothing relevant → OUT
    ).toDF("doc_id", "text")
    val q = Seq(
      (9L, "a", "must"),
      (9L, "b", "must"),
      (9L, "n", "must_not"),
      (9L, "s", "should")
    ).toDF("qid", "w", "role")
    val tmp = Files.createTempDirectory("graft-ii-boolq").toString
    Retrieval.writeInvertedIndexOf(spark, fix, tmp, withPositions = true)
    val got = Retrieval
      .booleanQueryTopKIndexedOf(spark, q, tmp)
      .select("doc_id", "rank", "score")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
      .toSeq
    assert(got.map(_._1) == Seq(20L, 21L), s"matrix verdicts: $got")
    assert(got(0)._3 > got(1)._3, "the matched SHOULD term must raise the score")
    // a MUST_NOT matched by every qualifying doc empties the result —
    // exclusion dominates, never merely demotes
    val allExcluded = Retrieval
      .booleanQueryTopKIndexedOf(
        spark,
        Seq((9L, "a", "must"), (9L, "x", "must_not")).toDF("qid", "w", "role"),
        tmp
      )
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(allExcluded == Set(22L), s"x excludes 20/21/23; only 22 survives: $allExcluded")
    // the p33k protocol end-to-end on the real corpus: indexed ≡ inline
    // (the lifecycle's oracle-reuse law) and the roles are non-vacuous
    // (some query carries all three roles)
    val inline = Retrieval.booleanQueryTopK(spark, sfDir)
    val life = Retrieval.booleanQueryLifecycle(spark, sfDir)
    assert(rows(inline) == rows(life), "p33l ≡ p33k")
    assert(inline.count() > 0, "the corpus protocol must return hits")
  }

  test("snippets anchor on a matched query term; facets partition the full match set") {
    val ss = spark
    import ss.implicits._
    // --- snippets: every snippet's anchor token IS one of the query's
    // terms, and the snippet text is exactly the ±4 window around it
    val snips = Retrieval.snippetTopK(spark, sfDir)
    val docToks: Map[Long, Array[String]] = docs
      .as[(Long, String)]
      .collect()
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }
      .toMap
    val qTerms: Map[Long, Set[String]] =
      (0L until 5L).map(q => q -> docToks(q).toSet).toMap
    val rowsS = snips
      .select("qid", "doc_id", "anchor", "snippet")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rowsS.nonEmpty)
    rowsS.foreach { case (qid, did, anchor, snippet) =>
      val toks = docToks(did)
      assert(
        qTerms(qid).contains(toks(anchor.toInt - 1)),
        s"anchor token of ($qid,$did) must be a query term"
      )
      val start = math.max(anchor.toInt - 4, 1)
      val want = toks.slice(start - 1, start - 1 + 9).mkString(" ")
      assert(snippet == want, s"window of ($qid,$did)")
      // BEST-window law (the round-15 highlighter upgrade): the anchor
      // maximizes the matched-position count of its ±4 window, earliest
      // on ties — so it is never WORSE than the old first-match anchor
      val matchedPos = toks.zipWithIndex.collect {
        case (t, i) if qTerms(qid).contains(t) => i + 1
      }
      def cnt(a: Int): Int = matchedPos.count(p => p >= a - 4 && p <= a + 4)
      val bestPos = matchedPos
        .map(p => (cnt(p), p))
        .sortBy { case (c, p) => (-c, p) }
        .head
        ._2
      assert(
        anchor.toInt == bestPos,
        s"($qid,$did): anchor $anchor is not the densest-window position $bestPos"
      )
      assert(
        cnt(anchor.toInt) >= cnt(matchedPos.min),
        s"($qid,$did): chosen window must be at least as dense as the first-match window"
      )
    }
    // --- facets: per-facet counts partition the boolean gate (no top-k
    // cut), cross-checked against an independent client-side count
    val facets = Retrieval
      .facetCounts(spark, sfDir)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(facets.nonEmpty)
    val gate = Retrieval
      .booleanTopK(spark, sfDir, k = Int.MaxValue)
      .select("qid", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lang: Map[Long, String] = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang")
      .as[(Long, String)]
      .collect()
      .toMap
    val want = gate
      .groupBy { case (q, d) => (q, lang(d)) }
      .view
      .mapValues(_.length.toLong)
      .toMap
    assert(facets == want, "facet counts ≡ gate partitioned by lang")
    // --- the stored-index twins carry the inline oracles by the
    // indexed ≡ inline law (the p33b/p33d argument)
    def snipRows(df: DataFrame): Seq[(Long, Long, Long, Long, String)] =
      df.select("qid", "doc_id", "rank", "anchor", "snippet")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .sortBy(t => (t._1, t._3))
        .toSeq
    assert(
      snipRows(Retrieval.snippetIndexLifecycle(spark, sfDir)) ==
        snipRows(Retrieval.snippetTopK(spark, sfDir)),
      "p33o ≡ p33m"
    )
    // the SELF-CONTAINED form (text from the index's own fields member)
    // serves the identical result page
    assert(
      snipRows(Retrieval.snippetStoredLifecycle(spark, sfDir)) ==
        snipRows(Retrieval.snippetTopK(spark, sfDir)),
      "p33q ≡ p33m (stored fields round-trip the text)"
    )
    // ...and the fields member folds like every other member: compaction
    // leaves the self-contained result page row-identical
    val tmpQ = Files.createTempDirectory("graft-ii-fields").toString
    val dAll = docs
    val qsel = Retrieval
      .snippetTopK(spark, sfDir) // protocol reference
    val qt = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 5)
      .select(
        col("doc_id").as("qid"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("w")
      )
      .distinct()
    Retrieval.writeInvertedIndexOf(
      spark, dAll, tmpQ, withPositions = true, withFields = true)
    val before = snipRows(Retrieval.snippetTopKStoredOf(spark, qt, tmpQ))
    Retrieval.compactInvertedIndex(spark, tmpQ)
    val after = snipRows(Retrieval.snippetTopKStoredOf(spark, qt, tmpQ))
    assert(before == after, "fields member: fold identity")
    assert(before == snipRows(qsel), "self-contained ≡ inline on the full corpus")
    val facetsIdx = Retrieval
      .facetIndexLifecycle(spark, sfDir)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(facetsIdx == facets, "p33p ≡ p33n")
  }

  test("query-time posting scan prunes to the probed term buckets") {
    val tmp = Files.createTempDirectory("graft-ii-prune").toString
    // single-term query: probes exactly one wb bucket out of 16
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)
    val ss = spark
    import ss.implicits._
    val oneTerm = Seq((0L, "the")).toDF("qid", "w")
    val out = Retrieval.keywordTopKIndexedOf(spark, oneTerm, tmp)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("wb"))
  }

  test("indexed BM25 matches an independent in-memory integer model") {
    val ss = spark
    import ss.implicits._
    // tiny fixture: 4 docs, hand-checkable counts
    val fix = Seq(
      (0L, "a b a c"),
      (1L, "a b"),
      (2L, "b c c d"),
      (3L, "d d")
    ).toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-ii-model").toString
    Retrieval.writeInvertedIndexOf(spark, fix, tmp)
    val qt = Seq((9L, "a"), (9L, "c")).toDF("qid", "w")
    val got = rows(Retrieval.bm25TopKIndexedOf(spark, qt, tmp, k = 4))

    // in-memory replay of the documented ppm arithmetic
    val texts = Map(
      0L -> "a b a c",
      1L -> "a b",
      2L -> "b c c d",
      3L -> "d d"
    ).map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val nDocs = texts.size.toLong
    val totalTokens = texts.values.map(_.size.toLong).sum
    def df(w: String) = texts.values.count(_.contains(w)).toLong
    def idf(w: String) = (2L * (nDocs - df(w)) + 1L) * 1000000L / (2L * df(w) + 1L)
    def score(d: Long, qws: Seq[String]): Long = qws.flatMap { w =>
      val tf = texts(d).count(_ == w).toLong
      if (tf == 0) None
      else {
        val dl = texts(d).size.toLong
        val norm = 250000L + 750000L * dl * nDocs / totalTokens
        val sat = tf * 2200000L * 1000000L / (tf * 1000000L + 1200000L * norm / 1000000L)
        Some(idf(w) * sat / 1000000L)
      }
    }.sum
    val expect = texts.keys.toSeq
      .map(d => (d, score(d, Seq("a", "c"))))
      .filter(_._2 > 0)
      .sortBy { case (d, s) => (-s, d) }
      .zipWithIndex
      .map { case ((d, s), i) => (9L, d, (i + 1).toLong, s) }
    assert(got == expect)
  }

  test("streaming lexical search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-stream").toString
    val ck = Files.createTempDirectory("graft-ii-stream-ck").toString
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)

    val queryRows: Seq[(Long, String)] = docs
      .filter(col("doc_id") < 6)
      .as[(Long, String)]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, String)]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.streaming.StreamingRetrieval.searchStream(
      ms.toDF().toDF("qid", "text"),
      tmp,
      ck,
      bm25 = true,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      buf.synchronized { buf ++= rs: Unit }
    }
    try
      queryRows.grouped(2).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    // the service posture: external qids, no corpus self-exclusion — the
    // batch twin is the protocol form with excludeSelf = false
    val batch = rows(Retrieval.bm25TopKIndexed(
      spark, sfDir, tmp, nQueries = 6, excludeSelf = false))
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
    // non-vacuous: these qids DO collide with corpus doc_ids, and the
    // colliding doc stays retrievable (its own text is the query, so it
    // ranks) — the exclusion leak the service posture must not have
    assert(
      buf.exists(t => t._1 == t._2),
      "no self-hit: the corpus protocol's exclusion leaked into the service"
    )
  }

  test("streaming boolean search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-boolstream").toString
    val ck = Files.createTempDirectory("graft-ii-boolstream-ck").toString
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)

    // short conjunctive queries: each query doc's first three tokens
    val queryRows: Seq[(Long, String)] = docs
      .filter(col("doc_id") < 6)
      .select(
        col("doc_id"),
        expr("array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 3), ' ')")
      )
      .as[(Long, String)]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, String)]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.streaming.StreamingRetrieval.booleanSearchStream(
      ms.toDF().toDF("qid", "text"),
      tmp,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      buf.synchronized { buf ++= rs: Unit }
    }
    try
      queryRows.grouped(2).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    val terms = queryRows
      .flatMap { case (qid, t) => t.split(" ").filter(_.nonEmpty).map((qid, _)) }
      .distinct
      .toDF("qid", "w")
    val batch = rows(
      Retrieval.booleanTopKIndexedOf(spark, terms, tmp, excludeSelf = false))
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
    // (the service posture's self-hit is probed in the boolean fixture
    // test, where the self doc provably ranks; here a qualifying self doc
    // may legitimately fall below top-k among many conjunctive matches)
  }

  test("streaming full-boolean search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-boolqstream").toString
    val ck = Files.createTempDirectory("graft-ii-boolqstream-ck").toString
    Retrieval.writeInvertedIndex(spark, sfDir, tmp)

    // clause texts from each query doc's leading tokens: MUST = tokens
    // 1-2, MUST_NOT = token 3, SHOULD = tokens 4-5 (the p33k protocol as
    // an arriving service request with explicit clause fields)
    def sliceCol(from: Int, len: Int) =
      expr(s"array_join(slice(filter(split(text, ' '), x -> x != ''), $from, $len), ' ')")
    val queryRows: Seq[(Long, String, String, String)] = docs
      .filter(col("doc_id") < 6)
      .select(col("doc_id"), sliceCol(1, 2), sliceCol(3, 1), sliceCol(4, 2))
      .as[(Long, String, String, String)]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, String, String, String)]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.streaming.StreamingRetrieval.booleanQuerySearchStream(
      ms.toDF().toDF("qid", "must_text", "must_not_text", "should_text"),
      tmp,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      buf.synchronized { buf ++= rs: Unit }
    }
    try
      queryRows.grouped(2).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    val roles = queryRows
      .flatMap { case (qid, m, x, s) =>
        m.split(" ").filter(_.nonEmpty).map(w => (qid, w, "must")) ++
          x.split(" ").filter(_.nonEmpty).map(w => (qid, w, "must_not")) ++
          s.split(" ").filter(_.nonEmpty).map(w => (qid, w, "should"))
      }
      .distinct
      .toDF("qid", "w", "role")
    val batch = rows(
      Retrieval.booleanQueryTopKIndexedOf(spark, roles, tmp, excludeSelf = false))
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
  }

  test("streaming prefix search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-prefixstream").toString
    val ck = Files.createTempDirectory("graft-ii-prefixstream-ck").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)

    val queryRows: Seq[(Long, String)] = docs
      .filter(col("doc_id") < 6)
      .select(
        col("doc_id"),
        expr("substring(element_at(filter(split(text, ' '), x -> x != ''), 1), 1, 3)")
      )
      .as[(Long, String)]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, String)]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.streaming.StreamingRetrieval.prefixSearchStream(
      ms.toDF().toDF("qid", "pfx"),
      tmp,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      buf.synchronized { buf ++= rs: Unit }
    }
    try
      queryRows.grouped(2).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    val batch = rows(
      Retrieval.prefixTopKIndexedOf(
        spark, queryRows.toDF("qid", "pfx"), tmp, excludeSelf = false))
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
  }

  test("streaming fuzzy/wildcard/regex/unordered-proximity/term-range/MLT searches over chunked queries equal one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-dictstreams").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext

    // shared chunk-driver: feed (qid, s) rows two at a time through the
    // service under test, collecting whatever the sink sees
    def drive(
        queryRows: Seq[(Long, String)],
        cols: Seq[String]
    )(
        mk: (DataFrame, String, (DataFrame, Long) => Unit) =>
          org.apache.spark.sql.streaming.StreamingQuery
    ): Seq[Seq[Long]] = {
      val ck = Files.createTempDirectory("graft-ii-dictstream-ck").toString
      val ms = MemoryStream[(Long, String)]
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val q = mk(
        ms.toDF().toDF(cols: _*),
        ck,
        (res, _) => {
          val rs = res.collect().map(r => r.toSeq.map(_.asInstanceOf[Long]).toSeq)
          buf.synchronized { buf ++= rs: Unit }
        }
      )
      try
        queryRows.grouped(2).foreach { c =>
          ms.addData(c)
          q.processAllAvailable()
        }
      finally q.stop()
      buf.toSeq.sortBy(r => (r.head, r(2)))
    }
    def asRows(rs: Seq[(Long, Long, Long, Long)]): Seq[Seq[Long]] =
      rs.map(t => Seq(t._1, t._2, t._3, t._4)).sortBy(r => (r.head, r(2)))
    def asRows5(rs: Seq[(Long, Long, Long, Long, Long)]): Seq[Seq[Long]] =
      rs.map(t => Seq(t._1, t._2, t._3, t._4, t._5)).sortBy(r => (r.head, r(2)))

    // fuzzy — the gram-probed candidate path per micro-batch
    val fuzzyQ = docs
      .filter(col("doc_id") < 6)
      .select(
        col("doc_id"),
        expr("element_at(filter(split(text, ' '), x -> x != ''), 1)"))
      .as[(Long, String)].collect().toSeq
    val fuzzyStreamed = drive(fuzzyQ, Seq("qid", "term")) { (qdf, ck, sink) =>
      graft.streaming.StreamingRetrieval.fuzzySearchStream(
        qdf, tmp, ck, trigger = Trigger.ProcessingTime(0L))(sink)
    }
    assert(fuzzyStreamed.nonEmpty)
    assert(
      fuzzyStreamed == asRows(rows(Retrieval.fuzzyTopKIndexedOf(
        spark, fuzzyQ.toDF("qid", "term"), tmp, excludeSelf = false))),
      "fuzzy: chunked ≡ batch")

    // wildcard — leading-literal pruned per micro-batch
    val wildQ = Retrieval.wildcardQueries(docs, 6)
      .as[(Long, String)].collect().toSeq
    val wildStreamed = drive(wildQ, Seq("qid", "pattern")) { (qdf, ck, sink) =>
      graft.streaming.StreamingRetrieval.wildcardSearchStream(
        qdf, tmp, ck, trigger = Trigger.ProcessingTime(0L))(sink)
    }
    assert(wildStreamed.nonEmpty)
    assert(
      wildStreamed == asRows(rows(Retrieval.wildcardTopKIndexedOf(
        spark, wildQ.toDF("qid", "pattern"), tmp, excludeSelf = false))),
      "wildcard: chunked ≡ batch")

    // regex — range-pruned dict + rlike residual per micro-batch
    val rxQ = Retrieval.regexQueries(docs, 6)
      .as[(Long, String)].collect().toSeq
    val rxStreamed = drive(rxQ, Seq("qid", "pattern")) { (qdf, ck, sink) =>
      graft.streaming.StreamingRetrieval.regexSearchStream(
        qdf, tmp, ck, trigger = Trigger.ProcessingTime(0L))(sink)
    }
    assert(rxStreamed.nonEmpty)
    assert(
      rxStreamed == asRows(rows(Retrieval.regexTopKIndexedOf(
        spark, rxQ.toDF("qid", "pattern"), tmp, excludeSelf = false))),
      "regex: chunked ≡ batch")

    // unordered proximity — query docs tokenize in the batch
    val uwQ = docs
      .filter(col("doc_id") < 6)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val uwStreamed = drive(uwQ, Seq("qid", "text")) { (qdf, ck, sink) =>
      graft.streaming.StreamingRetrieval.unorderedProximitySearchStream(
        qdf, tmp, ck, trigger = Trigger.ProcessingTime(0L))(sink)
    }
    assert(uwStreamed.nonEmpty)
    assert(
      uwStreamed == asRows5(rows5(Retrieval.unorderedProximityTopKIndexedOf(
        spark, Retrieval.queryPhrases(docs, 6, 3), tmp, excludeSelf = false))),
      "unordered proximity: chunked ≡ batch")

    // term-range — (qid, lo, hi) rows need their own 3-column driver
    val trQ = Retrieval.termRangeQueries(docs, 6)
      .as[(Long, String, String)].collect().toSeq
    val trCk = Files.createTempDirectory("graft-ii-trstream-ck").toString
    val ms3 = MemoryStream[(Long, String, String)]
    val trBuf = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val trq = graft.streaming.StreamingRetrieval.termRangeSearchStream(
      ms3.toDF().toDF("qid", "lo", "hi"),
      tmp,
      trCk,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res.collect().map(r => r.toSeq.map(_.asInstanceOf[Long]).toSeq)
      trBuf.synchronized { trBuf ++= rs: Unit }
    }
    try
      trQ.grouped(2).foreach { c =>
        ms3.addData(c)
        trq.processAllAvailable()
      }
    finally trq.stop()
    val trStreamed = trBuf.toSeq.sortBy(r => (r.head, r(2)))
    assert(trStreamed.nonEmpty)
    assert(
      trStreamed == asRows(rows(Retrieval.termRangeTopKIndexedOf(
        spark, trQ.toDF("qid", "lo", "hi"), tmp, excludeSelf = false))),
      "term-range: chunked ≡ batch")

    // more-like-this — EXTERNAL documents (qids outside the corpus id
    // space) tokenize and select in the batch
    val mltQ = docs
      .filter(col("doc_id") < 6)
      .select(col("doc_id") + 1000L, col("text"))
      .as[(Long, String)].collect().toSeq
    val mltStreamed = drive(mltQ, Seq("qid", "text")) { (qdf, ck, sink) =>
      graft.streaming.StreamingRetrieval.mltSearchStream(
        qdf, tmp, ck, trigger = Trigger.ProcessingTime(0L))(sink)
    }
    assert(mltStreamed.nonEmpty)
    assert(
      mltStreamed == asRows(rows(Retrieval.moreLikeThisTopKIndexedOf(
        spark, mltQ.toDF("qid", "text"), tmp))),
      "more-like-this: chunked ≡ batch")
  }

  test("streaming phrase search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ii-phrasestream").toString
    val ck = Files.createTempDirectory("graft-ii-phrasestream-ck").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)

    val queryRows: Seq[(Long, String)] = docs
      .filter(col("doc_id") < 6)
      .as[(Long, String)]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, String)]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val q = graft.streaming.StreamingRetrieval.phraseSearchStream(
      ms.toDF().toDF("qid", "text"),
      tmp,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rs = res
        .collect()
        .map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        )
      buf.synchronized { buf ++= rs: Unit }
    }
    try
      queryRows.grouped(2).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    val batch = rows5(Retrieval.phraseTopKIndexed(
      spark, sfDir, tmp, nQueries = 6, excludeSelf = false))
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
    // a doc queried with its own leading phrase must match itself
    assert(
      buf.exists(t => t._1 == t._2),
      "no self-hit: the corpus protocol's exclusion leaked into the service"
    )
  }

  test("compaction collapses delta layers, preserves results, survives a crashed swap") {
    val tmp = Files.createTempDirectory("graft-ii-compact").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val d = docs
    Retrieval.writeInvertedIndexOf(
      spark, d.filter(col("doc_id") < boundary / 2), tmp)
    Retrieval.appendToInvertedIndex(
      spark,
      d.filter(col("doc_id") >= boundary / 2 && col("doc_id") < boundary),
      tmp)
    Retrieval.appendToInvertedIndex(
      spark, d.filter(col("doc_id") >= boundary), tmp)

    def statRows(): Long =
      spark.read.parquet(live(tmp, "stats").toString).count()
    def res(): (Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) =
      (rows(Retrieval.keywordTopKIndexed(spark, sfDir, tmp)),
        rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp)))

    val before = res()
    val filesBefore = postingFiles(tmp).size
    assert(statRows() == 3) // one delta row per ingest
    Retrieval.compactInvertedIndex(spark, tmp)
    assert(res() == before) // row-identical reads
    assert(statRows() == 1) // stats rows collapsed
    val filesAfter = postingFiles(tmp).size
    assert(filesAfter < filesBefore && filesAfter <= Retrieval.IndexBuckets)

    // crash model of the generation swap: an orphan generation (crash
    // during the replacement write) and a stale pointer tmp (crash
    // around the publish) leave reads untouched; the next swap sweeps
    // both — once AGED past the slow-reader grace window — and retains
    // only {current, previous} generations.
    Files.createDirectories(Paths.get(s"$tmp/df.gen-999"))
    Files.write(Paths.get(s"$tmp/df.current.tmp-999"), "df.gen-999".getBytes)
    assert(res() == before)
    TestFs.ageOutGenerations(tmp, "df")
    Retrieval.compactInvertedIndex(spark, tmp)
    assert(res() == before)
    assert(!Files.exists(Paths.get(s"$tmp/df.gen-999")))
    assert(!Files.exists(Paths.get(s"$tmp/df.current.tmp-999")))
    def gens(sub: String): Int = Option(new java.io.File(tmp).listFiles())
      .getOrElse(Array.empty)
      .count(_.getName.startsWith(s"$sub.gen-"))
    assert(gens("df") <= 2) // current + in-flight-reader grace
  }

  test("layer-keyed append: a redelivered ingest never double-counts, through compaction") {
    val tmp = Files.createTempDirectory("graft-ii-redeliver").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val d = docs
    Retrieval.writeInvertedIndexOf(spark, d.filter(col("doc_id") < boundary), tmp)
    val b1 = d.filter(col("doc_id") >= boundary)

    def dfTable(): Map[String, Long] = spark.read
      .parquet(live(tmp, "df").toString)
      .groupBy("w")
      .agg(sum("df").as("df"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    def nDocs(): Long = spark.read
      .parquet(live(tmp, "stats").toString)
      .agg(sum("n_docs"))
      .head()
      .getLong(0)
    def res(): Seq[(Long, Long, Long, Long)] =
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp))

    Retrieval.appendToInvertedIndex(spark, b1, tmp, layer = 1L)
    val once = (dfTable(), nDocs(), res())
    // T1 redelivery: the same batch re-runs under the same layer
    Retrieval.appendToInvertedIndex(spark, b1, tmp, layer = 1L)
    assert((dfTable(), nDocs(), res()) == once)

    // the crash-window interleaving: compaction between delivery and
    // redelivery PROTECTS the redeliverable layer — fold and rewrite
    // never stack
    Retrieval.compactInvertedIndex(spark, tmp, protectLayersAbove = 0L)
    Retrieval.appendToInvertedIndex(spark, b1, tmp, layer = 1L)
    assert((dfTable(), nDocs(), res()) == once)
    // once committed, the next compaction folds it
    Retrieval.compactInvertedIndex(spark, tmp)
    assert((dfTable(), nDocs(), res()) == once)

    intercept[IllegalArgumentException] {
      Retrieval.appendToInvertedIndex(spark, b1, tmp, layer = 0L)
    }
  }

  test("streaming ingest with interleaved compaction equals the one-shot index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val arriving: Seq[(Long, String)] = docs
      .filter(col("doc_id") >= boundary)
      .as[(Long, String)]
      .collect()
      .toSeq
    val tmp = Files.createTempDirectory("graft-ii-ingest-stream").toString
    val ckpt = Files.createTempDirectory("graft-ii-ingest-ckpt").toString
    Retrieval.writeInvertedIndexOf(
      spark, docs.filter(col("doc_id") < boundary), tmp)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val in = MemoryStream[(Long, String)]
    // one AvailableNow run per arriving chunk over the one checkpoint:
    // each run is the loop's next micro-batch
    arriving.grouped((arriving.size / 3).max(1)).foreach { c =>
      in.addData(c): Unit
      graft.streaming.StreamingRetrieval
        .ingestStream(in.toDF().toDF("doc_id", "text"), tmp, ckpt, compactEvery = 2)()
        .awaitTermination()
    }

    val full = Files.createTempDirectory("graft-ii-ingest-full").toString
    Retrieval.writeInvertedIndexOf(spark, docs, full)
    assert(
      rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp)) ==
        rows(Retrieval.bm25TopKIndexed(spark, sfDir, full))
    )
    assert(
      rows(Retrieval.keywordTopKIndexed(spark, sfDir, tmp)) ==
        rows(Retrieval.keywordTopKIndexed(spark, sfDir, full))
    )
  }

  test("index health: layer debt reported, recommendation fires and clears through the ingest loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    val tmp = Files.createTempDirectory("graft-ii-health").toString
    Retrieval.writeInvertedIndexOf(
      spark, docs.filter(col("doc_id") < boundary), tmp)

    def health(threshold: Int) = Retrieval
      .retrievalIndexHealth(spark, tmp, compactOverLayers = threshold)
      .head()
    assert(health(8).getAs[Long]("n_layers") == 1L) // base only
    Retrieval.appendToInvertedIndex(spark, docs.filter(col("doc_id") >= boundary), tmp)
    assert(health(8).getAs[Long]("n_layers") == 2L)
    assert(!health(8).getAs[Boolean]("compact_recommended"))
    assert(health(1).getAs[Boolean]("compact_recommended")) // debt over threshold
    Retrieval.compactInvertedIndex(spark, tmp)
    assert(health(1).getAs[Long]("n_layers") == 1L)
    assert(!health(1).getAs[Boolean]("compact_recommended")) // cleared

    // through the streaming loop: degrade (appends accrete layers) →
    // recommendation visible in the emitted report → the loop's own
    // compaction clears it by the next report
    val arriving: Seq[(Long, String)] =
      docs.filter(col("doc_id") >= boundary).as[(Long, String)].collect().toSeq
    val ckpt = Files.createTempDirectory("graft-ii-health-ck").toString
    val tmp2 = Files.createTempDirectory("graft-ii-health2").toString
    Retrieval.writeInvertedIndexOf(
      spark, docs.filter(col("doc_id") < boundary), tmp2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val in = MemoryStream[(Long, String)]
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    // one AvailableNow run per arriving chunk over the one checkpoint
    arriving.grouped((arriving.size / 4).max(1)).foreach { c =>
      in.addData(c): Unit
      graft.streaming.StreamingRetrieval.ingestStream(
        in.toDF().toDF("doc_id", "text"),
        tmp2,
        ckpt,
        compactEvery = 4,
        healthEvery = 1
      ) { (h, bid) =>
        val r = h.head()
        reports.synchronized {
          reports += ((bid, r.getAs[Long]("n_layers"),
            r.getAs[Boolean]("compact_recommended"))): Unit
        }
      }.awaitTermination()
    }
    assert(reports.nonEmpty)
    // layers accrete batch by batch before the compaction batch...
    assert(reports.exists(_._2 > 1L))
    // ...and the compactEvery=4 batch folds all committed layers: its
    // report shows base + only the protected (just-written) layer
    assert(reports.exists(r => r._1 == 3L && r._2 <= 2L))
  }

  test("compaction under concurrent readers: every read is complete and row-identical") {
    val tmp = Files.createTempDirectory("graft-ii-concurrent").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    Retrieval.writeInvertedIndexOf(
      spark, docs.filter(col("doc_id") < boundary), tmp)
    Retrieval.appendToInvertedIndex(
      spark, docs.filter(col("doc_id") >= boundary), tmp)
    val expected = rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp))
    def dfSum(): Long = {
      Retrieval.repairInvertedIndex(tmp)
      spark.read
        .parquet(live(tmp, "df").toString)
        .agg(sum("df"))
        .head()
        .getLong(0)
    }
    val expectedDf = dfSum()

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val readers = (1 to 3).map { i =>
      val t = new Thread(() =>
        try
          while (!stop.get()) {
            if (i == 1) {
              val got = rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp))
              if (got != expected)
                throw new AssertionError(s"reader saw divergent results")
            } else {
              val got = dfSum()
              if (got != expectedDf)
                throw new AssertionError(s"reader saw df sum $got")
            }
          }
        catch {
          case th: Throwable => failures.add(th); stop.set(true): Unit
        })
      t.start(); t
    }
    try
      // each cycle rewrites the same merged content behind a swap; the
      // readers' repair calls race the swap's two renames — the exact
      // window the reader-safe repair exists for
      (1 to 4).foreach { _ =>
        Retrieval.compactInvertedIndex(spark, tmp)
        if (stop.get()) throw failures.peek()
      }
    finally {
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    assert(failures.isEmpty, s"concurrent reader failed: ${failures.peek()}")
    assert(rows(Retrieval.bm25TopKIndexed(spark, sfDir, tmp)) == expected)
  }

  // ---- p33r: prefix / wildcard term queries over the sorted dictionary

  test("prefix: stored ≡ inline ≡ lifecycle, through append and compaction") {
    val tmp = Files.createTempDirectory("graft-ii-prefix").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    Retrieval.writeInvertedIndexOf(spark, docs.filter(col("doc_id") < boundary), tmp)
    Retrieval.appendToInvertedIndex(
      spark, docs.filter(col("doc_id") >= boundary), tmp, layer = 1L)
    val inline = rows(Retrieval.prefixTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain prefix matches")
    assert(rows(Retrieval.prefixTopKIndexed(spark, sfDir, tmp)) == inline)
    assert(rows(Retrieval.prefixIndexLifecycle(spark, sfDir)) == inline)
    Retrieval.compactInvertedIndex(spark, tmp)
    assert(rows(Retrieval.prefixTopKIndexed(spark, sfDir, tmp)) == inline)
  }

  test("prefix: the dict scan pushes the term range; postings prune to the expanded buckets") {
    val tmp = Files.createTempDirectory("graft-ii-prefix-plan").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val ss = spark
    import ss.implicits._
    val q = Seq((99L, "the")).toDF("qid", "pfx")
    // the lazy variant: the public path eagerly materializes (and
    // releases its cache — the round-15 advice), which collapses the
    // executed plan to the checkpointed blocks; the pushdown must be
    // asserted on the UNMATERIALIZED search plan
    val (lazyOut, cache) =
      Retrieval.prefixTopKIndexedLazyOf(spark, q, tmp, k = 3)
    val plan = lazyOut.queryExecution.executedPlan.toString
    cache.foreach(_.unpersist(false))
    // the sorted dictionary's prefix pruning is a pushed RANGE on w —
    // parquet min/max stats skip every file outside [pfx, succ(pfx))
    assert(
      plan.contains("GreaterThanOrEqual(w,the") &&
        plan.contains("LessThan(w,thf"),
      s"dict range not pushed:\n$plan"
    )
    // and the posting scan stays partition-pruned to the probed buckets
    assert(plan.contains("PartitionFilters") && plan.contains("wb"))
  }

  test("prefix expansion cap: the first maxExpansions terms in order, both forms identically") {
    val tmp = Files.createTempDirectory("graft-ii-prefix-cap").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val ss = spark
    import ss.implicits._
    // a one-letter prefix matches many terms — the cap must bite, and
    // bite IDENTICALLY inline and stored (else the oracle can't carry)
    val q = Seq((0L, "s")).toDF("qid", "pfx")
    val capped = rows(
      Retrieval.prefixTopKIndexedOf(spark, q, tmp, k = 5, maxExpansions = 3))
    assert(capped == rows(
      Retrieval.prefixTopKOf(spark, docs, q, k = 5, maxExpansions = 3)))
    // non-vacuity: the cap genuinely bound the expansion (the corpus has
    // more than 3 distinct terms under the prefix); whether the capped
    // TOP-K happens to coincide with the uncapped one is fixture luck,
    // so the bite is asserted on the term count itself
    val nTerms = docs
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("w"))
      .filter(col("w").startsWith("s"))
      .select("w")
      .distinct()
      .count()
    assert(nTerms > 3, s"fixture must have > 3 terms under the prefix ($nTerms)")
  }

  test("wildcard: trailing-star ≡ prefix; '?' patterns match an independent in-memory model") {
    val tmp = Files.createTempDirectory("graft-ii-wild").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val ss = spark
    import ss.implicits._
    val pq = Retrieval
      .prefixTopKIndexedOf(spark, Seq((0L, "the")).toDF("qid", "pfx"), tmp)
    val wq = Retrieval
      .wildcardTopKIndexedOf(spark, Seq((0L, "the*")).toDF("qid", "pattern"), tmp)
    assert(rows(wq) == rows(pq), "pattern 'p*' must equal prefix 'p'")

    // '?' semantics against a brute-force in-memory model over the corpus
    val pattern = "th?"
    val re = java.util.regex.Pattern.compile("th.")
    val d = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val tf = d.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).map(w => (id, w))
    }.groupBy(identity).map { case ((id, w), g) => (id, w, g.length.toLong) }
    val matchedTerms = tf.map(_._2).filter(w => re.matcher(w).matches()).toSet
      .toSeq.sorted.take(64).toSet
    val want = tf
      .filter(t => matchedTerms.contains(t._2) && t._1 != 0L)
      .groupBy(_._1)
      .map { case (id, g) => (id, g.map(_._3).sum) }
      .toSeq
      .sortBy { case (id, sc) => (-sc, id) }
      .take(5)
      .zipWithIndex
      .map { case ((id, sc), i) => (0L, id, (i + 1).toLong, sc) }
    val got = rows(Retrieval.wildcardTopKIndexedOf(
      spark, Seq((0L, pattern)).toDF("qid", "pattern"), tmp))
    assert(want.nonEmpty, "fixture must contain th? matches")
    assert(got == want, s"wildcard '?': got $got want $want")
  }

  test("fuzzy: stored ≡ inline ≡ lifecycle; expansion matches a brute-force edit-distance model; maxEdits 0 degenerates to the exact term") {
    val tmp = Files.createTempDirectory("graft-ii-fuzzy").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val ss = spark
    import ss.implicits._
    val inline = rows(Retrieval.fuzzyTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain fuzzy matches")
    val queries = docs
      .filter(col("doc_id") < 5)
      .select(
        col("doc_id").as("qid"),
        expr("element_at(filter(split(text, ' '), x -> x != ''), 1)").as("term"))
    assert(
      rows(Retrieval.fuzzyTopKIndexedOf(spark, queries, tmp)) == inline,
      "stored ≡ inline")
    assert(
      rows(Retrieval.fuzzyIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline")

    // independent model: brute-force Levenshtein over the collected
    // vocabulary reproduces qid 0's result exactly
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(
          math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val d0 = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val tfAll = d0.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, w))
    }.groupBy(identity).map { case ((id, w), g) => (id, w, g.length.toLong) }
    val q0 = d0.find(_._1 == 0L).get._2.split(" ").filter(_.nonEmpty).head
    val expTerms = tfAll.map(_._2).toSeq.distinct
      .map(w => (lev(w, q0), w)).filter(_._1 <= 2).sorted.take(64).map(_._2).toSet
    val want = tfAll
      .filter(t => expTerms.contains(t._2) && t._1 != 0L)
      .groupBy(_._1).map { case (id, g) => (id, g.map(_._3).sum) }.toSeq
      .sortBy { case (id, sc) => (-sc, id) }.take(5).zipWithIndex
      .map { case ((id, sc), i) => (0L, id, (i + 1).toLong, sc) }
    assert(inline.filter(_._1 == 0L) == want, "fuzzy ≡ in-memory model (qid 0)")

    // maxEdits = 0: the expansion is exactly the query term — Σ tf over
    // one term, i.e. raw term-frequency ranking for that term
    val exact = rows(
      Retrieval.fuzzyTopKIndexedOf(spark, queries, tmp, maxEdits = 0))
    val tfRank = tfAll.toSeq
      .filter(t => t._2 == q0 && t._1 != 0L)
      .map(t => (t._1, t._3))
      .sortBy { case (id, sc) => (-sc, id) }.take(5).zipWithIndex
      .map { case ((id, sc), i) => (0L, id, (i + 1).toLong, sc) }
    assert(exact.filter(_._1 == 0L) == tfRank, "maxEdits 0 ≡ exact-term tf rank")
  }

  test("term-range: stored ≡ inline ≡ lifecycle; expansion matches an in-memory model; the cap binds") {
    val tmp = Files.createTempDirectory("graft-ii-trange").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val inline = rows(Retrieval.termRangeTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain range matches")
    val queries = Retrieval.termRangeQueries(docs, 5)
    assert(
      rows(Retrieval.termRangeTopKIndexedOf(spark, queries, tmp)) == inline,
      "stored ≡ inline"
    )
    assert(
      rows(Retrieval.termRangeIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline"
    )
    // independent model for qid 0: terms in [lo, hi] in term order,
    // capped at 64, Σ tf ranking
    val d0 = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val tfAll = d0
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).map(w => (id, w)) }
      .groupBy(identity)
      .map { case ((id, w), g) => (id, w, g.length.toLong) }
    val toks0 = d0.find(_._1 == 0L).get._2.split(" ").filter(_.nonEmpty)
    assert(toks0.length >= 2 && toks0(0) != toks0(1), "fixture drives qid 0")
    val (lo, hi) =
      if (toks0(0) < toks0(1)) (toks0(0), toks0(1)) else (toks0(1), toks0(0))
    val expTerms = tfAll
      .map(_._2)
      .toSeq
      .distinct
      .filter(w => w >= lo && w <= hi)
      .sorted
      .take(64)
      .toSet
    val want = tfAll
      .filter(t => expTerms.contains(t._2) && t._1 != 0L)
      .groupBy(_._1)
      .map { case (id, g) => (id, g.map(_._3).sum) }
      .toSeq
      .sortBy { case (id, sc) => (-sc, id) }
      .take(5)
      .zipWithIndex
      .map { case ((id, sc), i) => (0L, id, (i + 1).toLong, sc) }
    assert(inline.filter(_._1 == 0L) == want, "range ≡ in-memory model (qid 0)")
    // the expansion cap genuinely binds somewhere in the fixture: a wide
    // range covers more than 64 dictionary terms
    val vocabInRange = tfAll.map(_._2).toSeq.distinct.count(w => w >= lo && w <= hi)
    val ss = spark
    import ss.implicits._
    val wide = Seq((0L, "a", "zzzzzz")).toDF("qid", "lo", "hi")
    val capped =
      rows(Retrieval.termRangeTopKOf(spark, docs, wide, maxExpansions = 3))
    val uncapped =
      rows(Retrieval.termRangeTopKOf(spark, docs, wide, maxExpansions = 1000000))
    assert(capped != uncapped || vocabInRange <= 3, "the cap must bind on a wide range")
    assert(
      capped == rows(Retrieval.termRangeTopKIndexedOf(spark, wide, tmp, maxExpansions = 3)),
      "capped stored ≡ capped inline"
    )
  }

  test("more-like-this: stored ≡ inline ≡ lifecycle; nTerms beyond the doc vocabulary degenerates to the full BM25 protocol; selection binds") {
    val tmp = Files.createTempDirectory("graft-ii-mlt").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val inline = rows(Retrieval.moreLikeThisTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must produce MLT matches")
    assert(
      rows(Retrieval.moreLikeThisTopKIndexed(spark, sfDir, tmp)) == inline,
      "stored ≡ inline"
    )
    assert(
      rows(Retrieval.moreLikeThisIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline"
    )
    // degeneracy law: with nTerms ≥ every query doc's distinct-term
    // count, the "interesting" selection is ALL the doc's terms — which
    // is exactly the p33c BM25 query protocol, so the results coincide
    assert(
      rows(Retrieval.moreLikeThisTopK(spark, sfDir, nTerms = 1000000)) ==
        rows(Retrieval.bm25TopK(spark, sfDir)),
      "nTerms → ∞ degenerates to the p33c protocol"
    )
    // and the default selection genuinely binds: a query doc has more
    // than nTerms distinct terms
    val distinct0 = docs
      .filter(col("doc_id") === 0L)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")))
      .distinct()
      .count()
    assert(distinct0 > 5, "fixture: selection must actually select")
  }

  test("unordered proximity: stored ≡ inline ≡ lifecycle; ordered ⊆ unordered at equal window, with window counts dominating") {
    val tmp = Files.createTempDirectory("graft-ii-uw").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)
    val inline = rows5(Retrieval.unorderedProximityTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain unordered-window matches")
    assert(
      rows5(
        Retrieval.unorderedProximityTopKIndexedOf(
          spark,
          Retrieval.queryPhrases(docs, 5, 3),
          tmp
        )
      ) == inline,
      "stored ≡ inline"
    )
    assert(
      rows5(Retrieval.unorderedProximityIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline"
    )
    // THE containment law: every ordered tuple (p₁ < … < p_k within the
    // window) is a distinct-position any-order tuple of the same spread,
    // so at equal window the ordered match set is contained in the
    // unordered one and each doc's window count can only grow. k large
    // enough that top-k truncation is vacuous.
    val ordered =
      rows5(Retrieval.proximityTopK(spark, sfDir, k = 1000000))
    val unordered =
      rows5(Retrieval.unorderedProximityTopK(spark, sfDir, k = 1000000))
    val uw = unordered.map(r => ((r._1, r._2), r._5)).toMap
    ordered.foreach { r =>
      val key = (r._1, r._2)
      assert(
        uw.contains(key),
        s"ordered match $key missing from the unordered set"
      )
      assert(
        uw(key) >= r._5,
        s"unordered window count must dominate at $key: ${uw(key)} < ${r._5}"
      )
    }
    // non-vacuity: the relaxation genuinely admits more (more matching
    // docs, or more windows over the common docs)
    assert(
      unordered.size > ordered.size ||
        unordered.map(_._5).sum > ordered.map(_._5).sum,
      "fixture must exercise an unordered-only match or extra windows"
    )
  }

  test("regex: stored ≡ inline ≡ lifecycle; patterns match an independent in-memory model; leading-metachar patterns stay correct (unpruned)") {
    val tmp = Files.createTempDirectory("graft-ii-regex").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val inline = rows(Retrieval.regexTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain regex matches")
    val queries = Retrieval.regexQueries(docs, 5)
    assert(
      rows(Retrieval.regexTopKIndexedOf(spark, queries, tmp)) == inline,
      "stored ≡ inline"
    )
    assert(
      rows(Retrieval.regexIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline"
    )
    // independent model: Scala's own regex engine over the collected
    // vocabulary reproduces qid 0's expansion and ranking exactly (the
    // '?'-model pattern from the wildcard spec, extended)
    val d0 = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val tfAll = d0
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).map(w => (id, w)) }
      .groupBy(identity)
      .map { case ((id, w), g) => (id, w, g.length.toLong) }
    val q0tok = d0.find(_._1 == 0L).get._2.split(" ").filter(_.nonEmpty).head
    assert(q0tok.length >= 3, "fixture: qid 0's token drives the protocol")
    val pat0 =
      ("^" + q0tok.take(2) + "([a-z]*|[0-9]*)" + q0tok.last + "$").r
    val expTerms = tfAll
      .map(_._2)
      .toSeq
      .distinct
      .filter(w => pat0.matches(w))
      .sorted
      .take(64)
      .toSet
    val want = tfAll
      .filter(t => expTerms.contains(t._2) && t._1 != 0L)
      .groupBy(_._1)
      .map { case (id, g) => (id, g.map(_._3).sum) }
      .toSeq
      .sortBy { case (id, sc) => (-sc, id) }
      .take(5)
      .zipWithIndex
      .map { case ((id, sc), i) => (0L, id, (i + 1).toLong, sc) }
    assert(inline.filter(_._1 == 0L) == want, "regex ≡ in-memory model (qid 0)")
    // a leading-metachar pattern cannot range-prune (Lucene's documented
    // dictionary-scan case) but must still answer correctly through the
    // stored path
    val ss = spark
    import ss.implicits._
    val open = Seq((7L, "^.*" + q0tok.last + "$")).toDF("qid", "pattern")
    val viaStore =
      rows(Retrieval.regexTopKIndexedOf(spark, open, tmp, k = 3))
    val viaInline =
      rows(Retrieval.regexTopKOf(spark, docs, open, k = 3))
    assert(viaStore == viaInline && viaStore.nonEmpty, "unpruned pattern agrees")
  }

  test("fuzzy gram candidates: gram-probed path ≡ full dict scan at every maxEdits (no recall loss); short terms ride the sentinel leg") {
    val ss = spark
    import ss.implicits._
    // clustered spellings PLUS short terms the gram-count bound can never
    // prune (max(len) ≤ maxEdits — the sentinel leg's jurisdiction, where
    // a true match may share ZERO grams with the query, e.g. "z" vs "ab")
    val fix = Seq(
      (0L, "ab xy qu kitten sitting mitten"),
      (1L, "ab ax kitten bitten"),
      (2L, "xy ay sitten mitten fitting"),
      (3L, "qu quick sittings kitchen"),
      (4L, "zz z a abcd abcde abcdef")
    ).toDF("doc_id", "text")
    val withGrams = Files.createTempDirectory("graft-ii-fuzzygram").toString
    Retrieval.writeInvertedIndexOf(spark, fix, withGrams)
    assert(
      Files.exists(Paths.get(s"$withGrams/dictgrams")),
      "the dict family includes the gram member"
    )
    // the pre-gram store shape: same corpus, member dropped → the query
    // takes the full-scan fallback; the gram path must be row-identical
    // (its candidate set is a SUPERSET of all within-maxEdits pairs and
    // the exact Levenshtein filter decides — the no-recall-loss law)
    val preGram = Files.createTempDirectory("graft-ii-fuzzyscan").toString
    Retrieval.writeInvertedIndexOf(spark, fix, preGram)
    graft.util.DirSwap.drop(preGram, "dictgrams")
    val q = Seq((0L, "kitten"), (1L, "ab"), (2L, "z"), (3L, "sitting"))
      .toDF("qid", "term")
    for (d <- Seq(0, 1, 2)) {
      assert(
        rows(Retrieval.fuzzyTopKIndexedOf(spark, q, withGrams, k = 5, maxEdits = d)) ==
          rows(Retrieval.fuzzyTopKIndexedOf(spark, q, preGram, k = 5, maxEdits = d)),
        s"gram path ≡ full scan at maxEdits=$d"
      )
    }
    // the sentinel leg is non-vacuous: "z" (len 1) at maxEdits=2 must
    // reach doc 0, whose qualifying terms (ab/xy/qu, lev 2 each) share
    // no character with the query — only the sentinel enumeration finds
    // them
    val zHits = rows(
      Retrieval.fuzzyTopKIndexedOf(spark, q, withGrams, k = 5, maxEdits = 2)
    ).filter(_._1 == 2L).map(_._2)
    assert(zHits.contains(0L), s"sentinel leg must reach doc 0, got $zHits")
  }

  test("phrase-prefix: stored ≡ inline ≡ lifecycle; the relaxation admits every exact-phrase match") {
    val tmp = Files.createTempDirectory("graft-ii-phpfx").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp, withPositions = true)
    val inline = rows5(Retrieval.phrasePrefixTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain phrase-prefix matches")
    // the round-16 widened protocol: 10 queries, 1-char last-slot prefix
    val (exact, prefixes) = {
      val posq = docs.filter(col("doc_id") < 10)
      (
        spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 10)
          .select(
            col("doc_id").as("qid"),
            posexplode(expr("filter(split(text, ' '), x -> x != '')"))
              .as(Seq("p0", "w")))
          .filter(col("p0") < 2)
          .select(col("qid"), (col("p0") + 1).as("j"), col("w")),
        posq
          .select(
            col("doc_id").as("qid"),
            expr(
              "substring(element_at(filter(split(text, ' '), x -> x != ''), 3), 1, 1)"
            ).as("pfx"))
          .filter(col("pfx").isNotNull && length(col("pfx")) > 0)
      )
    }
    assert(
      rows5(Retrieval.phrasePrefixTopKIndexedOf(spark, exact, prefixes, tmp))
        == inline,
      "stored ≡ inline")
    assert(
      rows5(Retrieval.phrasePrefixIndexLifecycle(spark, sfDir)) == inline,
      "lifecycle ≡ inline")
    // relaxation law: a doc matching the EXACT 3-token phrase matches the
    // phrase-prefix query too, with at least as many occurrences
    def keyed(rs: Seq[(Long, Long, Long, Long, Long)]): Map[(Long, Long), Long] =
      rs.map(t => (t._1, t._2) -> t._5).toMap
    val strict = keyed(rows5(Retrieval.phraseTopK(spark, sfDir, k = 10000)))
    val relaxed = keyed(rows5(
      Retrieval.phrasePrefixTopK(spark, sfDir, k = 10000)))
    assert(strict.keySet.subsetOf(relaxed.keySet), "exact matches admitted")
    assert(strict.forall { case (k, n) => relaxed(k) >= n }, "occurrences ≥")
  }

  // ---- p33s: minimum-should-match and OR-of-ANDs over the clause matrix

  test("minShouldMatch: stored ≡ inline; the quorum genuinely prunes; msm 0 ≡ p33k") {
    val tmp = Files.createTempDirectory("graft-ii-msm").toString
    Retrieval.writeInvertedIndexOf(spark, docs, tmp)
    val inline1 = rows(Retrieval.booleanQueryTopK(spark, sfDir, minShouldMatch = 1))
    assert(inline1.nonEmpty)
    assert(
      rows(Retrieval.booleanQueryTopKIndexed(spark, sfDir, tmp, minShouldMatch = 1))
        == inline1
    )
    // msm = 0 must reproduce the p33k semantics exactly
    assert(
      rows(Retrieval.booleanQueryTopK(spark, sfDir, minShouldMatch = 0)) ==
        rows(Retrieval.booleanQueryTopK(spark, sfDir))
    )
    // non-vacuity: requiring BOTH should terms must change some query's
    // candidate set vs requiring none (k large enough to defeat top-k)
    val all0 = rows(Retrieval.booleanQueryTopK(spark, sfDir, k = 10000))
    val all2 = rows(
      Retrieval.booleanQueryTopK(spark, sfDir, k = 10000, minShouldMatch = 2))
    assert(all2.size < all0.size, "msm=2 must prune candidates on this fixture")
    // a quorum larger than the query's SHOULD set matches nothing
    assert(
      rows(Retrieval.booleanQueryTopK(spark, sfDir, minShouldMatch = 99)).isEmpty
    )
  }

  test("OR-of-ANDs: stored ≡ inline ≡ lifecycle; a doc matching either clause qualifies") {
    val tmp = Files.createTempDirectory("graft-ii-dnf").toString
    val boundary = Dedup.incrementalBoundary(spark, sfDir)
    Retrieval.writeInvertedIndexOf(spark, docs.filter(col("doc_id") < boundary), tmp)
    Retrieval.appendToInvertedIndex(
      spark, docs.filter(col("doc_id") >= boundary), tmp, layer = 1L)
    val inline = rows(Retrieval.dnfTopK(spark, sfDir))
    assert(inline.nonEmpty, "fixture must contain DNF matches")
    val ss = spark
    import ss.implicits._
    assert(rows(Retrieval.dnfIndexLifecycle(spark, sfDir)) == inline)
    Retrieval.compactInvertedIndex(spark, tmp)
    // explicit-clause form through the compacted store
    val clauses = Seq(
      (0L, 0, "the"), (0L, 0, "fast"), (0L, 1, "key"), (0L, 1, "order")
    ).toDF("qid", "cid", "w")
    val got = Retrieval
      .dnfTopKIndexedOf(spark, clauses, tmp, k = 10000)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3)))
      .toMap
    // independent model: docs (≠ qid) containing {the, fast} or {key,
    // order}; the matched-clause UNION is the qualifying set
    val d = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val wantDocs = d.collect {
      case (id, text) if id != 0L =>
        val ws = text.split(" ").filter(_.nonEmpty).toSet
        (id, (ws.contains("the") && ws.contains("fast")) ||
          (ws.contains("key") && ws.contains("order")))
    }.filter(_._2).map(_._1).toSet
    assert(got.keySet == wantDocs, "DNF gate must be the union of clause gates")
  }
}
