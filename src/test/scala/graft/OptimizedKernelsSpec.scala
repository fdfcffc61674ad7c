package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 optimization pins: the two expression kernels rewritten from
  * Catalyst higher-order folds to row-local walks must be BIT-IDENTICAL
  * to the superseded forms — the superseded expressions are rebuilt here
  * verbatim and compared on adversarial fixtures, so a future edit to
  * either walk cannot silently drift from the fold semantics the oracles
  * replay.
  */
class OptimizedKernelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-optimized-kernels-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()


  /** The SUPERSEDED encode fold (TextAnalysis.mergeFold's shape): the
    * leftmost-first-with-consumption BPE apply as a Catalyst aggregate —
    * O(tokens²) per merge, kept here as the law anchor only.
    */
  private def foldMerge(toks: Column, a: String, b: String, m: String): Column =
    aggregate(
      toks,
      typedLit(Seq.empty[String]),
      (acc, t) =>
        when(
          size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m)))
        ).otherwise(concat(acc, array(t)))
    )

  test("p32c encode walk ≡ the superseded nested Catalyst merge folds") {
    val s = spark; import s.implicits._
    // adversarial shapes: equal-token runs (alternating consumption),
    // chained merges whose merged token immediately re-participates,
    // merges that never fire, empty docs, unicode terms
    val docs = Seq(
      1L -> "a b a b a b",
      2L -> "a a a a a",
      3L -> "a b b a b",
      4L -> "x y z",
      5L -> "",
      6L -> "б в б в б",
      7L -> "a b c a b c a b",
      8L -> (null: String) // null text: both forms must yield null (the
      //   expression chain propagated it; the walk must not NPE)
    ).toDF("doc_id", "text")
    val merges = Array(
      ("a", "b", "a b"),
      ("a b", "c", "a b c"),
      ("a", "a", "a a"),
      ("б", "в", "б в")
    )
    val toks = expr("filter(split(text, ' '), x -> x != '')")
    val folded = merges.foldLeft(toks) { case (c, (x, y, m)) =>
      foldMerge(c, x, y, m)
    }
    val walk = udf((ws: Seq[String]) =>
      graft.pipeline.TextAnalysis.applyMergesWalk(ws, merges))
    val diff = docs
      .select(
        col("doc_id"),
        folded.as("via_fold"),
        walk(toks).as("via_walk")
      )
      .filter(!(col("via_fold") <=> col("via_walk")))
      .count()
    assert(diff === 0L)
  }

  /** The SUPERSEDED cosine (three aggregate(zip_with) dots). */
  private def foldCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(
        zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0),
        (acc, v) => acc + v
      )
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("cosine walk ≡ the superseded HOF-fold cosine, nulls and NaN included") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val dense = (1 to 200).map { i =>
      (
        Option((1 to 8).map(_ => rnd.nextFloat() * 20f - 10f)),
        Option((1 to 8).map(_ => rnd.nextFloat() * 20f - 10f))
      )
    }
    val edge: Seq[(Option[Seq[Float]], Option[Seq[Float]])] = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))), // length mismatch → null
      (None, Some(Seq(1f, 2f))), // null array → null
      (Some(Seq(-1f, -2f, 3f)), Some(Seq(4f, -5f, 6f)))
    )
    val df = (dense ++ edge).toDF("x", "y")
    // <=> treats null = null as true; Spark's NaN semantics make
    // NaN = NaN true as well, so the filter catches any REAL divergence
    val diff = df
      .select(
        foldCosine(col("x"), col("y")).as("via_fold"),
        graft.pipeline.Similarity.cosine(col("x"), col("y")).as("via_walk")
      )
      .filter(!(col("via_fold") <=> col("via_walk")))
      .count()
    assert(diff === 0L)
  }

  test("cosine walk on zero-norm / empty vectors yields NaN (pinned)") {
    // the SUPERSEDED expression form RAISED here — Spark 4's ANSI mode
    // turns the 0.0/0.0 into DIVIDE_BY_ZERO — an artifact no corpus path
    // reaches (no zero-norm embeddings exist in any oracle-checked
    // fixture; the gate is green at both SFs either way). The walk pins
    // the IEEE answer instead of the error: degenerate vectors rank
    // nowhere (NaN never passes a threshold), they don't kill the job.
    val s = spark; import s.implicits._
    val df = Seq(
      (Seq(0f, 0f, 0f), Seq(0f, 0f, 0f)),
      (Seq.empty[Float], Seq.empty[Float])
    ).toDF("x", "y")
    val vals = df
      .select(graft.pipeline.Similarity.cosine(col("x"), col("y")).as("c"))
      .collect()
      .map(_.getDouble(0))
    assert(vals.length === 2 && vals.forall(_.isNaN))
  }

  test("Par.eval preserves argument order and propagates the first failure") {
    val out = graft.util.Par.eval[Int](() => { Thread.sleep(30); 1 }, () => 2, () => 3)
    assert(out === Seq(1, 2, 3))
    val e = intercept[IllegalStateException] {
      graft.util.Par.run(
        () => throw new IllegalStateException("boom"),
        () => Thread.sleep(10)
      )
    }
    assert(e.getMessage === "boom")
  }

  test("Par.run picks the primary failure by type: a root cause that mentions cancelling still wins") {
    // the sibling's cancelled Spark job reaches the queue first; its
    // message and the root cause's both contain "cancel"
    val cancelled = new org.apache.spark.SparkException(
      "SPARK_JOB_CANCELLED", Map("jobId" -> "7", "reason" -> "part of cancelled job group"), null)
    assert(cancelled.getMessage.toLowerCase.contains("cancel"))
    Seq[Throwable](
      cancelled,
      new InterruptedException("sibling interrupted"),
      new java.util.concurrent.CancellationException("sibling cancelled"),
      new RuntimeException("wrapped", cancelled)
    ).foreach { artifact =>
      val e = intercept[IllegalStateException] {
        graft.util.Par.run(
          () => throw artifact,
          () => { Thread.sleep(200); throw new IllegalStateException("cannot cancel lease: disk full") }
        )
      }
      assert(e.getMessage === "cannot cancel lease: disk full", artifact.toString)
      assert(e.getSuppressed.toSeq === Seq(artifact))
    }
  }

  test("Par.run joins uninterruptibly and re-raises the interrupt after all workers exit") {
    // round-17 abort posture: an interrupt of the calling thread must NOT
    // let control return while a worker is still running (that race let
    // withTempStore's cleanup delete a store under live writers — the
    // round-16 driver test failure)
    val workerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val outcome = new java.util.concurrent.atomic.AtomicReference[String]("none")
    val doneAtReturn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val runner = new Thread(() => {
      try {
        graft.util.Par.run(
          () => { Thread.sleep(400); workerDone.set(true) },
          () => { Thread.sleep(400); workerDone.set(true) }
        )
        outcome.set("returned")
      } catch {
        case _: InterruptedException =>
          doneAtReturn.set(workerDone.get())
          outcome.set("interrupted")
      }
    })
    runner.start()
    Thread.sleep(100)
    runner.interrupt()
    runner.join(5000)
    assert(!runner.isAlive)
    assert(outcome.get() === "interrupted")
    // the workers had ALREADY finished when Par.run raised the interrupt
    assert(doneAtReturn.get())
  }

  // -------------------------------------------------------------------
  // Round-17: the exact-integer ANN kernels (assignment, probe
  // selection, candidate scoring, the Lloyd's training pass) moved from
  // Catalyst aggregate(zip_with) folds to native walks. The superseded
  // expression forms are rebuilt verbatim below and pinned.
  // -------------------------------------------------------------------

  private val KeyScale = 1L << 20

  private def foldDotL(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)

  private def foldCosKey(dot: Column, nrm2: Column): Column = {
    val mag = call_function("div", dot * dot * lit(KeyScale), nrm2)
    when(nrm2 === 0L, lit(0L))
      .otherwise(when(dot >= 0L, mag).otherwise(-mag))
  }

  private def foldCellScores(
      e: Column,
      centroids: Seq[(Int, Seq[Long])]
  ): Seq[Column] =
    centroids.map { case (cid, c) =>
      val nrm2 = c.map(x => x * x).sum
      struct(
        foldCosKey(foldDotL(e, typedLit(c)), lit(nrm2)).as("skey"),
        lit(-cid.toLong).as("negCid")
      )
    }

  /** Adversarial integer-code fixture: negative codes, ties, a zero
    * vector, a null array, arrays with null elements, a length mismatch.
    */
  private def codeFixture = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val dense = (0 until 200).map { i =>
      (i.toLong, Option((0 until 8).map(_ => Option((rnd.nextInt(255) - 127).toLong))))
    }
    val edge: Seq[(Long, Option[Seq[Option[Long]]])] = Seq(
      (200L, Option(Seq.fill(8)(Option(0L)))), // zero vector
      (201L, None), // null array
      (202L, Option((0 until 8).map(i => if (i == 3) None else Option(5L)))), // null element
      (203L, Option(Seq(Option(1L), Option(2L)))) // length mismatch (dim 2 vs 8)
    )
    (dense ++ edge).toDF("vec_id", "q8")
  }

  /** Centroids with a deliberate tie pair (cid 2 ≡ cid 3) and a
    * zero-norm centroid (cid 4 — skey 0 by the guard, never null).
    */
  private val testCentroids: Seq[(Int, Seq[Long])] = Seq(
    0 -> Seq(10L, -3L, 7L, 0L, 1L, -9L, 4L, 2L),
    1 -> Seq(-5L, 5L, -5L, 5L, -5L, 5L, -5L, 5L),
    2 -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
    3 -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
    4 -> Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
  )

  test("exact-integer cell assignment walk ≡ the superseded greatest-over-folds") {
    val ds = foldCellScores(col("q8"), testCentroids)
    val best = greatest(ds: _*)
    val diff = graft.pipeline.Similarity
      .assignCellsInt(codeFixture, testCentroids)
      .withColumn("cid_fold", -best.getField("negCid"))
      .filter(!(col("cid") <=> col("cid_fold")))
      .count()
    assert(diff === 0L)
  }

  test("probe-cell walk ≡ the superseded sort_array/slice expression, every nprobe") {
    val fixture = codeFixture
    (1 to 5).foreach { nprobe =>
      val diff = fixture
        .select(
          slice(
            sort_array(array(foldCellScores(col("q8"), testCentroids): _*), asc = false),
            1,
            nprobe
          ).as("probe"),
          graft.pipeline.Similarity
            .topCellsForTest(testCentroids, nprobe)(col("q8"))
            .as("cids_walk")
        )
        .select(
          expr("transform(probe, p -> -p.negCid)").as("cids_fold"),
          col("cids_walk")
        )
        .filter(!(col("cids_fold") <=> col("cids_walk")))
        .count()
      assert(diff === 0L, s"nprobe=$nprobe")
    }
  }

  test("cosKeyPair walk ≡ the superseded cosKey(dotL, dotL), nulls and zero-norm included") {
    val fixture = codeFixture
    val pairs = fixture
      .select(col("vec_id").as("a_id"), col("q8").as("qa"))
      .crossJoin(fixture.select(col("vec_id").as("b_id"), col("q8").as("qb")))
    val diff = pairs
      .select(
        foldCosKey(foldDotL(col("qa"), col("qb")), foldDotL(col("qb"), col("qb")))
          .as("via_fold"),
        graft.pipeline.Similarity.cosKeyPair(col("qa"), col("qb")).as("via_walk")
      )
      .filter(!(col("via_fold") <=> col("via_walk")))
      .count()
    assert(diff === 0L)
  }

  test("proximity window counters ≡ the superseded tuple-materializing join chains") {
    val s = spark; import s.implicits._
    // positions: docs with repeated terms, dense position runs (boundary
    // spreads), and a doc sharing an id with a query (excludeSelf)
    val rnd = new scala.util.Random(5)
    val vocab = Seq("a", "b", "c", "d")
    val positions = (0L to 9L)
      .flatMap { doc =>
        val n = 8 + rnd.nextInt(10)
        (0 until n).map(p => (doc, vocab(rnd.nextInt(vocab.length)), p.toLong))
      }
      .toDF("doc_id", "w", "pos")
      .cache()
    // phrases: repeated term across slots ("a b a"), all-same ("b b b"),
    // straightforward, and a single-slot degenerate
    val phrases = Seq(
      Seq("a", "b", "a"),
      Seq("b", "b", "b"),
      Seq("a", "c", "d"),
      Seq("c"),
      Seq("d", "a")
    ).zipWithIndex.flatMap { case (ws, qi) =>
      ws.zipWithIndex.map { case (w, j) => (qi.toLong, w, (j + 1).toLong) }
    }
    def orderedChain(phrase: org.apache.spark.sql.DataFrame, maxJ: Int, window: Int, excludeSelf: Boolean) = {
      def leg(j: Int) = {
        val hits = positions.join(broadcast(phrase.filter(col("j") === j)), Seq("w"))
        (if (excludeSelf) hits.filter(col("doc_id") =!= col("qid")) else hits)
          .select(col("qid"), col("doc_id"), col("pos"))
      }
      var cand = leg(1).select(col("qid"), col("doc_id"), col("pos").as("p1"), col("pos").as("pj"))
      (2 to maxJ).foreach { j =>
        cand = cand
          .join(leg(j).withColumnRenamed("pos", "pn"), Seq("qid", "doc_id"))
          .filter(col("pn") > col("pj") && col("pn") < col("p1") + window)
          .select(col("qid"), col("doc_id"), col("p1"), col("pn").as("pj"))
      }
      cand.groupBy("qid", "doc_id").agg(count(lit(1)).as("n_windows"))
    }
    def unorderedChain(phrase: org.apache.spark.sql.DataFrame, maxJ: Int, window: Int, excludeSelf: Boolean) = {
      def leg(j: Int) = {
        val hits = positions.join(broadcast(phrase.filter(col("j") === j)), Seq("w"))
        (if (excludeSelf) hits.filter(col("doc_id") =!= col("qid")) else hits)
          .select(col("qid"), col("doc_id"), col("pos"))
      }
      var cand = leg(1).select(col("qid"), col("doc_id"), col("pos").as("p1"))
      (2 to maxJ).foreach { j =>
        val prev = (1 until j).map(i => col(s"p$i"))
        val all = prev :+ col(s"p$j")
        cand = cand
          .join(leg(j).withColumnRenamed("pos", s"p$j"), Seq("qid", "doc_id"))
          .filter(prev.map(_ =!= col(s"p$j")).reduce(_ && _))
          .filter(greatest(all: _*) - least(all: _*) < window)
          .select((col("qid") +: col("doc_id") +: (1 to j).map(i => col(s"p$i"))): _*)
      }
      cand.groupBy("qid", "doc_id").agg(count(lit(1)).as("n_windows"))
    }
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    for {
      window <- Seq(1, 3, 8)
      excludeSelf <- Seq(true, false)
    } {
      // per-phrase-length so the chain's maxJ matches each query's slots
      Seq(Seq(0L, 1L, 2L), Seq(3L), Seq(4L)).foreach { qids =>
        val phrase = phrases
          .filter(p => qids.contains(p._1))
          .toDF("qid", "w", "j")
        val maxJ =
          phrases.filter(p => qids.contains(p._1)).map(_._3).max.toInt
        val viaWalk = asMap(
          graft.pipeline.Retrieval
            .windowCounts(positions, phrase, maxJ, window, excludeSelf, ordered = true))
        val viaChain = asMap(orderedChain(phrase, maxJ, window, excludeSelf))
        assert(viaWalk === viaChain, s"ordered window=$window self=$excludeSelf qids=$qids")
        val uWalk = asMap(
          graft.pipeline.Retrieval
            .windowCounts(positions, phrase, maxJ, window, excludeSelf, ordered = false))
        val uChain = asMap(unorderedChain(phrase, maxJ, window, excludeSelf))
        assert(uWalk === uChain, s"unordered window=$window self=$excludeSelf qids=$qids")
      }
    }
    positions.unpersist(false)
  }

  test("mergeDeltaWalk ≡ mergeDeltaFold (toks AND delta emissions), null text included") {
    val s = spark; import s.implicits._
    // the PipelineSpec fold-law fixture plus null text and unicode
    val docs = Seq(
      Option("x x x x x"), Option("x x"), Option("y x x y"),
      Option("a b a b"), Option("a b b a b"), Option("b a b"),
      Option("a b"), Option("z"), Option("a a b b a b a"),
      Option("b b a a"), Option(""), None, Option("б в б в б")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val cases = Seq(("x", "x"), ("a", "b"), ("b", "a"), ("b", "b"), ("б", "в"))
    cases.foreach { case (a, b) =>
      val m = a + " " + b
      val toks = expr("filter(split(text, ' '), x -> x != '')")
      val diff = docs
        .toDF("doc_id", "text")
        .select(
          col("doc_id"),
          graft.pipeline.TextAnalysis
            .mergeDeltaFold(toks, lit(a), lit(b), lit(m))
            .as("via_fold"),
          graft.pipeline.TextAnalysis
            .mergeDeltaWalk(toks, lit(a), lit(b), lit(m))
            .as("via_walk")
        )
        .filter(!(col("via_fold") <=> col("via_walk")))
        .count()
      assert(diff === 0L, s"pair ($a,$b)")
    }
  }

  test("treeAggregate k-means training ≡ the superseded posexplode/groupBy training") {
    val s = spark; import s.implicits._
    // uniform-dim corpus with negative codes (negative sums exercise the
    // truncating-division law) and k chosen so at least one cell goes
    // EMPTY and must keep its previous centroid
    val rnd = new scala.util.Random(11)
    val codes = (0 until 120)
      .map(i => (i.toLong, (0 until 6).map(_ => (rnd.nextInt(255) - 200).toLong)))
      .toDF("vec_id", "q8")
      .cache()
    def trainFold(kC: Int, iters: Int): Seq[(Int, Seq[Long])] = {
      var centroids: Seq[(Int, Seq[Long])] = codes
        .orderBy("vec_id")
        .limit(kC)
        .select("q8")
        .collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Long](0).toSeq }
        .toSeq
      var it = 0
      while (it < iters) {
        val ds = foldCellScores(col("q8"), centroids)
        val best = greatest(ds: _*)
        val means = codes
          .withColumn("cid", -best.getField("negCid"))
          .select(col("cid"), posexplode(col("q8")))
          .groupBy("cid", "pos")
          .agg(expr("sum(col) DIV count(1)").as("v"))
          .collect()
          .groupBy(_.getLong(0).toInt)
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
          }
        centroids = centroids.map { case (cid, prev) =>
          cid -> means.getOrElse(cid, prev)
        }
        it += 1
      }
      centroids
    }
    Seq((4, 3), (16, 2)).foreach { case (kC, iters) =>
      val viaFold = trainFold(kC, iters)
      val viaWalk =
        graft.pipeline.Similarity.trainCentroidsExact(codes, kC, iters)
      assert(viaWalk === viaFold, s"kCentroids=$kC iters=$iters")
    }
    codes.unpersist(false)
  }
}
