package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full scan of the corpus; the dot product runs inside
  * whole-stage codegen via higher-order functions (zip_with + aggregate),
  * no UDF.
  *
  * Scale path: IVF-style bucketed search — restrict the scan to the
  * query's coarse bucket (here the `label` column stands in for a k-means
  * cell id; at 100 TB the bucket becomes a partition key so a query prunes
  * to 1/nlist of the corpus) — plus a sign-LSH variant whose hyperplanes
  * are derived deterministically from xxhash64, giving a shuffle-free
  * bucket join.
  */
object Similarity {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Double-precision cosine between two float-array columns, computed with
    * sequential fold semantics (deterministic, engine-portable).
    *
    * Implemented as ONE row-local walk accumulating all three dots rather
    * than three `aggregate(zip_with(...))` expressions: higher-order
    * functions are CodegenFallback (interpreted per element, plus an
    * allocated zipped array per dot), which made the cosine itself the
    * dominant cost of candidate scoring — measured on m6's 1.4 M
    * candidate pairs at sf0.1: 3.2 s → 1.1 s for the identical count,
    * with ZERO value mismatches under null-safe comparison. The
    * arithmetic is unchanged IEEE double ops in the same left-to-right
    * order (cast-to-double per element, sequential sums, then
    * ab / (√aa · √bb)), so every consumer's oracle hash carries; null
    * propagation matches the expression form exactly (null array, length
    * mismatch, or null element ⇒ null — `zip_with` pads the shorter side
    * with null and a null product nulls the whole fold).
    */
  def cosine(a: Column, b: Column): Column = {
    val cos =
      udf((x: Seq[java.lang.Double], y: Seq[java.lang.Double]) => {
        if (x == null || y == null || x.length != y.length) null
        else {
          var ab = 0.0; var aa = 0.0; var bb = 0.0
          var i = 0
          val n = x.length
          var nul = false
          while (i < n && !nul) {
            val pb = x(i); val qb = y(i)
            if (pb == null || qb == null) nul = true
            else {
              val p = pb.doubleValue(); val q = qb.doubleValue()
              ab += p * q; aa += p * p; bb += q * q
            }
            i += 1
          }
          if (nul) null
          else java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
        }
      })
    cos(a.cast("array<double>"), b.cast("array<double>"))
  }

  /** Brute-force exact top-k neighbors for the first `nQueries` vectors.
    * Query side is tiny → broadcast; corpus side scans once; per-query
    * top-k via window over the (qid) partition.
    */
  def knnBruteForce(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5
  ): DataFrame = {
    val corpus = emb(spark, dir)
    val queries = corpus
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id"),
        cosine(col("q"), col("embedding")).as("sim")
      )
    val w = Window
      .partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
  }

  /** IVF-style search: only score candidates in the query's coarse bucket
    * (`label` = stand-in cell id). Same output shape as brute force; at
    * scale the corpus is partitioned by bucket so each query prunes its
    * scan to one partition.
    */
  def knnIvf(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5
  ): DataFrame = {
    val corpus = emb(spark, dir)
    val queries = corpus
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("q"),
        col("label").as("qlabel")
      )
    val scored = corpus
      .join(
        broadcast(queries),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid")
      )
      .select(
        col("qid"),
        col("vec_id"),
        cosine(col("q"), col("embedding")).as("sim")
      )
    val w = Window
      .partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
  }

  private def dotD(x: Column, y: Column): Column =
    aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  /** Driver-side sqrt(Σx²) with the SAME sequential-fold order as
    * [[dotD]], so centroid norms stay bit-equal to the column form. */
  private def seqNorm(c: Seq[Double]): Double =
    math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))

  /** Per-centroid (csim, −cid) structs against a row's embedding — the
    * shared row-local kernel of assignment and probe selection. Struct
    * ordering is lexicographic, so max/desc-sort = highest csim, ties to
    * the LOWEST cid. One dot-product fold per cell (norms hoisted:
    * dot/(nrm·cnrm) is [[cosine]]'s arithmetic with sqrt(dot(a,a))
    * precomputed, values bit-equal).
    */
  private def cellSims(
      e: Column,
      nrm: Column,
      centroids: Seq[(Int, Seq[Double])]
  ): Seq[Column] =
    centroids.map { case (cid, c) =>
      struct(
        (dotD(e, typedLit(c)) / (nrm * lit(seqNorm(c)))).as("csim"),
        lit(-cid).as("negCid")
      )
    }

  /** Nearest-centroid assignment as a ROW-LOCAL projection: the centroids
    * are a driver-local constant (kCentroids×dim doubles), so every cell
    * cosine and the argmax are plain columns — no crossJoin, no
    * groupBy(vec_id), ZERO shuffle per assignment pass.
    */
  private def assignCells(
      corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])]
  ): DataFrame = {
    val sims = cellSims(col("embedding"), col("nrm"), centroids)
    val best = if (sims.size == 1) sims.head else greatest(sims: _*)
    corpus.withColumn("cid", -best.getField("negCid"))
  }

  private def withNorm(d: DataFrame, e: String, out: String): DataFrame =
    d.withColumn(out, sqrt(dotD(col(e), col(e))))

  /** Spherical k-means (Lloyd's) coarse quantizer: seeded from the
    * `kCentroids` lowest vec_ids (deterministic — no rand()), each
    * iteration assigns by cosine argmax and re-estimates every cell as
    * its members' element-wise mean (direction is what matters under
    * cosine, so the unnormalized mean serves). Empty cells keep their
    * previous centroid. Per iteration: one ROW-LOCAL assignment
    * projection (no shuffle — the centroids are plain column constants)
    * plus one (cid, dim)-keyed partial-aggregated shuffle for the means;
    * the only driver materialization is the kCentroids·dim mean table
    * (bounded — 16·64 doubles here). At real scale training runs on a
    * corpus SAMPLE (the standard IVF recipe) and only the final
    * assignment pass touches everything — the sample is a
    * `weightedSample`-style gate away.
    */
  def trainCentroids(
      corpus: DataFrame,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Seq[(Int, Seq[Double])] = {
    val c =
      if (corpus.columns.contains("nrm")) corpus
      else withNorm(corpus, "embedding", "nrm")
    var centroids: Seq[(Int, Seq[Double])] = corpus
      .orderBy("vec_id")
      .limit(kCentroids)
      .select("embedding")
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).map(_.toDouble) }
      .toSeq
    var it = 0
    while (it < iters) {
      val means = assignCells(c, centroids)
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy("cid", "pos")
        .agg(avg(col("col").cast("double")).as("v"))
        .collect() // bounded: kCentroids × dim rows
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centroids = centroids.map { case (cid, prev) =>
        cid -> means.getOrElse(cid, prev)
      }
      it += 1
    }
    centroids
  }

  /** k5 — IVF search with a TRAINED coarse quantizer (vs [[knnIvf]]'s
    * label stand-in): k-means cells from [[trainCentroids]], then each
    * query probes its `nprobe` nearest cells and exact-scores only their
    * members. Probing all cells is EXACTLY brute force (assignment is a
    * partition of the corpus — spec'd law); at scale the corpus is
    * written partitioned by `cid` so a query's scan prunes to
    * nprobe/kCentroids of the data. No SQL oracle: float k-means is not
    * portably replayable — the driver records rows-only and the laws
    * (all-probe ≡ brute, recall floor, partition coverage) live in
    * PipelineSpec.
    */
  def knnIvfTrained(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      kCentroids: Int = 16,
      iters: Int = 3,
      nprobe: Int = 2
  ): DataFrame = {
    val corpus = withNorm(
      emb(spark, dir).select("vec_id", "embedding"),
      "embedding",
      "nrm"
    ).cache()
    val centroids = trainCentroids(corpus, kCentroids, iters)
    val assigned = assignCells(corpus, centroids)
    // probe selection is row-local too: per-cell (csim, −cid) structs,
    // desc sort (ties → lowest cid), keep nprobe, explode
    val probes = corpus
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("q"),
        col("nrm").as("qnrm"),
        explode(
          slice(
            sort_array(
              array(cellSims(col("embedding"), col("nrm"), centroids): _*),
              asc = false
            ),
            1,
            nprobe
          )
        ).as("probe")
      )
      .select(
        col("qid"),
        col("q"),
        col("qnrm"),
        (-col("probe.negCid")).as("cid")
      )
    val scored = assigned
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id"),
        (dotD(col("q"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("sim")
      )
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    val out = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
    // materialize BEFORE dropping the cache: the returned frame is lazy,
    // and an unpersist-on-return would force every leg to re-scan parquet
    // and re-fold norms at action time (the Eager contract)
    Eager.materialized(out, corpus)
  }

  /** Fixed-point scale of the integer cosine key: within one query (or
    * one code row, for assignment) cosine ordering is the ordering of
    * sign(dot)·dot²/‖other‖² — the query-side norm is a common positive
    * factor — so the key is that rational truncated to 2²⁰ fixed-point,
    * entirely in BIGINT: |dot| ≤ 64·127² ≈ 1.03e6, so dot²·2²⁰ ≤ 1.2e18
    * < 2⁶³. Truncation only coarsens ties, and ties break on cid/vec_id
    * deterministically in BOTH engines — bit-replayable.
    */
  private val CosKeyScale = 1L << 20

  // (the Column-expression cosKey/dotL forms this fixed-point key was
  // first written as live on, rebuilt verbatim, in OptimizedKernelsSpec —
  // the law anchor the native walks below are pinned against; `div` is
  // truncating integer division in Spark (IntegralDivide) and DuckDB
  // (`//`) alike, including on negatives, and so is the JVM's `/`.)

  // ---------------------------------------------------------------------
  // Native exact-integer kernels (round-17, guide §4 / §1.2 step 2).
  //
  // The superseded forms computed every centroid score as
  // `cosKey(aggregate(zip_with(e, c, _*_), 0L, _+_), nrm2)` — per ROW
  // that is kCentroids higher-order-function folds, each CodegenFallback
  // (interpreted per element) and each allocating a zipped array; the
  // candidate scorer paid two more folds per (query, candidate) pair.
  // All the arithmetic is BIGINT (order-insensitive, overflow-free by
  // the CosKeyScale bound), so ONE row-local walk per kernel is
  // bit-identical — OptimizedKernelsSpec rebuilds the superseded
  // expression forms verbatim and pins walk ≡ fold on adversarial
  // fixtures (negative codes, null arrays/elements, length mismatches,
  // zero-norm centroids, key ties), and every consumer's oracle hash
  // re-passed. Null semantics replicated exactly:
  //   - dot: null array / length mismatch / null element ⇒ null;
  //   - cosKey: nrm2 == 0 ⇒ 0 (guard fires even under a null dot),
  //     null nrm2 or null dot ⇒ null;
  //   - argmax over (skey, −cid) structs: null skeys lose to any
  //     non-null skey; ALL-null skeys tie-break to the LOWEST cid
  //     (struct comparison puts the null field first ascending).
  // ---------------------------------------------------------------------

  /** (cid, centroid, ‖centroid‖²) precomputed once per driver-held
    * centroid table — the closure every walk below captures.
    */
  private def centArr(
      centroids: Seq[(Int, Seq[Long])]
  ): Array[(Long, Array[Long], Long)] =
    centroids.map { case (cid, c) =>
      val ca = c.toArray
      (cid.toLong, ca, ca.map(x => x * x).sum)
    }.toArray

  /** Unboxes an array<bigint> value; null (array or element) ⇒ null —
    * the fold forms' propagate-null contract in one check.
    */
  private def unboxCodes(e: Seq[java.lang.Long]): Array[Long] = {
    if (e == null) return null
    val n = e.length
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = e(i)
      if (x == null) return null
      out(i) = x.longValue()
      i += 1
    }
    out
  }

  /** The (skey, cid) key of a row's codes against ONE centroid —
    * nrm2 == 0 ⇒ Some(0) (the zero-norm guard fires before the dot, so a
    * degenerate centroid scores 0 even for null/mismatched codes), a
    * null or length-mismatched code array ⇒ None (the folds' null dot).
    * JVM `/` is the same truncating division as Spark's `div`
    * (IntegralDivide).
    */
  private def cellKeyOpt(
      e: Array[Long],
      c: Array[Long],
      nrm2: Long
  ): Option[Long] =
    if (nrm2 == 0L) Some(0L)
    else if (e == null || e.length != c.length) None
    else {
      var dot = 0L
      var i = 0
      while (i < c.length) { dot += e(i) * c(i); i += 1 }
      val mag = (dot * dot * CosKeyScale) / nrm2
      Some(if (dot >= 0L) mag else -mag)
    }

  /** The best (skey, cid) of a row's codes against the frozen centroids
    * — native twin of `greatest(cellScoresInt(e, centroids))`: a null
    * key loses to any non-null key (struct comparison puts the null
    * field first ascending), ties and the all-null degenerate resolve to
    * the LOWEST cid. Returned as `(skey, cid)`.
    */
  private def bestCellScalar(
      cents: Array[(Long, Array[Long], Long)],
      e: Array[Long]
  ): (Option[Long], Long) = {
    var bestKey: Option[Long] = None
    var bestCid = Long.MaxValue
    var first = true
    var j = 0
    while (j < cents.length) {
      val (cid, c, nrm2) = cents(j)
      val key = cellKeyOpt(e, c, nrm2)
      val wins =
        if (first) true
        else
          (key, bestKey) match {
            case (Some(x), Some(y)) => x > y || (x == y && cid < bestCid)
            case (Some(_), None)    => true
            case (None, Some(_))    => false
            case (None, None)       => cid < bestCid
          }
      if (wins) { bestKey = key; bestCid = cid; first = false }
      j += 1
    }
    (bestKey, if (first) 0L else bestCid)
  }

  /** Row-local nearest-centroid assignment on integer codes (`q8`) — the
    * exact analog of [[assignCells]]: centroids are a bounded driver
    * constant, the argmax is one native walk per row (the superseded
    * `greatest` over kCentroids interpreted HOF folds), zero shuffle per
    * pass.
    */
  private[graft] def assignCellsInt(
      codes: DataFrame,
      centroids: Seq[(Int, Seq[Long])]
  ): DataFrame = {
    val cents = centArr(centroids)
    val best = udf((e: Seq[java.lang.Long]) => bestCellScalar(cents, unboxCodes(e))._2)
    codes.withColumn("cid", best(col("q8")))
  }

  /** The (skey, cid) pair of the best cell — [[assignCellsInt]] plus the
    * winning key itself (k13's cohesion input), one walk for both.
    */
  private def bestCellUdf(
      centroids: Seq[(Int, Seq[Long])]
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val cents = centArr(centroids)
    udf((e: Seq[java.lang.Long]) => bestCellScalar(cents, unboxCodes(e)))
  }

  /** The nprobe nearest cells of a query's codes, best first — native
    * twin of `slice(sort_array(array(cellScoresInt…), desc), 1, nprobe)`
    * then −negCid: key desc, ties (and the all-null-key degenerate) to
    * the lowest cid.
    */
  private def topCellsUdf(
      centroids: Seq[(Int, Seq[Long])],
      nprobe: Int
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val probe = topCells(centroids, nprobe)
    udf((eIn: Seq[java.lang.Long]) => probe(eIn))
  }

  /** The body of [[topCellsUdf]] as a plain function (the stored hybrid
    * search probes its queries on the driver with it).
    */
  private[graft] def topCells(
      centroids: Seq[(Int, Seq[Long])],
      nprobe: Int
  ): Seq[java.lang.Long] => Seq[Long] = {
    val cents = centArr(centroids)
    (eIn: Seq[java.lang.Long]) => {
      val e = unboxCodes(eIn)
      val keyed: Array[(Option[Long], Long)] =
        cents.map(c => (cellKeyOpt(e, c._2, c._3), c._1))
      // sort_array desc over (skey, negCid) structs: non-null keys desc,
      // null keys last, equal keys by negCid desc = cid asc
      keyed
        .sortWith { case ((ka, ca), (kb, cb)) =>
          (ka, kb) match {
            case (Some(x), Some(y)) => if (x != y) x > y else ca < cb
            case (Some(_), None)    => true
            case (None, Some(_))    => false
            case (None, None)       => ca < cb
          }
        }
        .take(nprobe)
        .map(_._2)
        .toSeq
    }
  }

  /** Test hook for the (private) probe-cell walk — OptimizedKernelsSpec
    * pins it against the rebuilt sort_array/slice expression form.
    */
  private[graft] def topCellsForTest(
      centroids: Seq[(Int, Seq[Long])],
      nprobe: Int
  )(e: Column): Column = topCellsUdf(centroids, nprobe)(e)

  /** The fixed-point cosine key of a (query, candidate) pair — native
    * one-walk twin of `cosKey(dotL(q, v), dotL(v, v))`, the candidate
    * scorer of every exact-integer search (see the kernel note above).
    */
  private[graft] def cosKeyPair(q: Column, v: Column): Column =
    cosKeyPairUdf(q, v)

  private val cosKeyPairUdf = udf(cosKey _)

  /** The body of [[cosKeyPair]]: null when the key is null. */
  private[graft] def cosKey(
      qa: Seq[java.lang.Long],
      va: Seq[java.lang.Long]
  ): java.lang.Long = {
    val vv = unboxCodes(va)
    if (vv == null) null // nrm2 null: both when-guards null out
    else {
      var nrm2 = 0L
      var i = 0
      while (i < vv.length) { nrm2 += vv(i) * vv(i); i += 1 }
      if (nrm2 == 0L) java.lang.Long.valueOf(0L) // guard precedes the dot
      else {
        val qq = unboxCodes(qa)
        if (qq == null || qq.length != vv.length) null
        else {
          var dot = 0L
          i = 0
          while (i < vv.length) { dot += qq(i) * vv(i); i += 1 }
          val mag = (dot * dot * CosKeyScale) / nrm2
          java.lang.Long.valueOf(if (dot >= 0L) mag else -mag)
        }
      }
    }
  }

  /** EXACT-INTEGER spherical k-means (Lloyd's) over the int8 codes: same
    * seeding, assignment geometry (cosine argmax — scale-invariant, so
    * the per-vector quantization scales cancel) and iteration structure
    * as [[trainCentroids]], but every quantity is a BIGINT — the cosine
    * comparisons run on the fixed-point [[cosKey]] and centroid
    * re-estimation is `SUM DIV count` (truncating integer division,
    * identical in Spark and DuckDB) instead of a float mean. Nothing
    * transcendental, nothing order-sensitive: the whole training run is
    * bit-replayable in the SQL oracle, which is the point — the float
    * variant's training (k5) can only ever be law-spec'd. Empty cells
    * keep their previous centroid. Same shuffle shape as the float form:
    * per iteration one row-local assignment + one (cid, pos)-keyed
    * partial-aggregated shuffle, driver state bounded at kCentroids×dim
    * longs.
    */
  def trainCentroidsExact(
      codes: DataFrame,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Seq[(Int, Seq[Long])] = {
    var centroids: Seq[(Int, Seq[Long])] = codes
      .orderBy("vec_id")
      .limit(kCentroids)
      .select("q8")
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Long](0).toSeq }
      .toSeq
    // Each Lloyd's iteration is ONE single-stage job: a treeAggregate
    // over the codes computing per-(cell, position) sums and counts with
    // the native assignment walk — the superseded form ran assignment as
    // kCentroids interpreted HOF folds per row, then posexplode +
    // groupBy(cid, pos) (a corpus×dim-grain EXCHANGE) + collect, i.e.
    // two stages and an AQE re-plan per iteration. Integer sums are
    // order-insensitive and `sum DIV count` is the same truncating
    // division on both forms, so the centroids are bit-identical
    // (OptimizedKernelsSpec pins the whole training run against the
    // rebuilt original). The iteration structure itself (seed job +
    // one job per iteration) is Lloyd's data dependence — irreducible.
    val rows = codes.select("q8").rdd
    var it = 0
    while (it < iters) {
      val cents = centArr(centroids)
      val dims = cents.map(_._2.length)
      val offs = dims.scanLeft(0)(_ + _) // flat (cell, pos) layout
      val width = offs.last
      val idxOf = cents.map(_._1).zipWithIndex.toMap // cid → flat index
      val (sums, counts) = rows.treeAggregate(
        (new Array[Long](width), new Array[Long](width))
      )(
        seqOp = { case (acc, row) =>
          // a null q8 contributed NO (cid, pos) rows under posexplode; a
          // row with NULL ELEMENTS assigned like the fold form (all
          // skeys null except a zero-norm centroid's 0 → that cell, else
          // the lowest cid) and posexplode still emitted its positions —
          // sum(col) skipped the null, count(1) did not. Rows shorter
          // than the centroid dim contribute exactly their own
          // positions; LONGER rows are out of contract (the fold form
          // grew the mean vector past the centroid dim — uniform-dim
          // codes are the quantizer's own output shape).
          val boxed =
            if (row.isNullAt(0)) null else row.getSeq[java.lang.Long](0)
          if (boxed != null) {
            val e = unboxCodes(boxed) // null if any element is null
            val j = idxOf(bestCellScalar(cents, e)._2)
            val base = offs(j)
            val lim = math.min(boxed.length, dims(j))
            var i = 0
            while (i < lim) {
              val x = boxed(i)
              if (x != null) acc._1(base + i) += x.longValue()
              acc._2(base + i) += 1L
              i += 1
            }
          }
          acc
        },
        combOp = { case (a, b) =>
          var i = 0
          while (i < width) { a._1(i) += b._1(i); a._2(i) += b._2(i); i += 1 }
          a
        }
      )
      centroids = centroids.zipWithIndex.map { case ((cid, prev), j) =>
        val base = offs(j)
        val mean = (0 until dims(j)).collect {
          case i if counts(base + i) > 0L => sums(base + i) / counts(base + i)
        }
        cid -> (if (mean.isEmpty) prev else mean.toSeq)
      }
      it += 1
    }
    centroids
  }

  /** K5 — IVF search with the EXACT-INTEGER trained quantizer: the same
    * train → probe-nprobe-cells → score-members shape as
    * [[knnIvfTrained]], with every number a BIGINT (codes from the k6
    * quantization, ranking on the fixed-point cosine key with ties to
    * vec_id). The whole pipeline — training included — replays
    * bit-for-bit in DuckDB, so this variant carries the k5 hash oracle;
    * the float-cosine variant remains for callers that want unquantized
    * similarity and keeps its law specs. Recall vs float brute-force
    * cosine is measured in PipelineSpec (the key is scale-invariant and
    * monotone in cosine up to 2⁻²⁰ truncation, so the integer ranking
    * tracks the float one).
    */
  /** Session memo of the exact-integer training run per (session, dir,
    * kCentroids, iters) — the d2/phrase-memo pattern: k5, k13 and k14
    * all consume the IDENTICAL quantization + k-means, so they share ONE
    * run (and one cached codes frame) instead of each paying it. The
    * memo owns the codes cache; [[releaseTrainMemo]] frees it (wired
    * into SparkEntry.releaseCaches).
    */
  private val exactTrainMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int), (DataFrame, Seq[(Int, Seq[Long])])]

  def releaseTrainMemo(): Unit = {
    exactTrainMemo.values.foreach(_._1.unpersist(false))
    exactTrainMemo.clear()
  }

  private[graft] def trainedExact(
      spark: SparkSession,
      dir: String,
      kCentroids: Int,
      iters: Int
  ): (DataFrame, Seq[(Int, Seq[Long])]) =
    exactTrainMemo.getOrElseUpdate(
      (spark, dir, kCentroids, iters), {
        val codes =
          quantized(spark, dir).select(col("vec_id"), col("q8")).cache()
        (codes, trainCentroidsExact(codes, kCentroids, iters))
      }
    )

  def knnIvfTrainedExact(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      kCentroids: Int = 16,
      iters: Int = 3,
      nprobe: Int = 2
  ): DataFrame = {
    val (codes, centroids) = trainedExact(spark, dir, kCentroids, iters)
    val out = searchCellsExact(assignCellsInt(codes, centroids), codes, centroids, nQueries, k, nprobe)
    Eager.materialized(out) // codes cache stays: the memo owns it
  }

  /** K10 — the incremental-index LIFECYCLE as a single oracle-replayable
    * query: the quantizer is trained ONLY on the initial ingest
    * (`vec_id % 4 < 3` — the day-1 corpus at any scale factor), the
    * remaining quarter plays the appended daily batch and is assigned to
    * those STORED centroids without retraining, and the nprobe search
    * runs over the union — exactly what [[appendToIvfIndex]] +
    * [[knnIvfIndexedExactOf]] produce through parquet, but expressed as
    * one plan so the whole lifecycle (training included) hash-replays in
    * DuckDB. Law (IndexStoreSpec): bit-identical to assigning the two
    * batches in separate passes and to the persisted write → append →
    * search path — appends never disturb existing assignments because
    * cell assignment is row-local in the frozen quantizer.
    */
  def knnIndexLifecycleExact(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      kCentroids: Int = 16,
      iters: Int = 3,
      nprobe: Int = 2
  ): DataFrame = {
    val codes = quantized(spark, dir).select(col("vec_id"), col("q8")).cache()
    val initial = codes.filter(col("vec_id") % 4 < 3)
    val centroids = trainCentroidsExact(initial, kCentroids, iters)
    val out = searchCellsExact(assignCellsInt(codes, centroids), codes, centroids, nQueries, k, nprobe)
    Eager.materialized(out, codes)
  }

  /** The shared probe → score → top-k tail of the exact-integer IVF
    * searches: nprobe cells per query by the fixed-point cosine key,
    * candidates from the assigned corpus, ranked by the same key with
    * ties to vec_id. `assigned` must carry (vec_id, q8, cid); `queries`
    * supplies the query vectors (filtered to the nQueries lowest ids).
    */
  private[graft] def searchCellsExact(
      assigned: DataFrame,
      queries: DataFrame,
      centroids: Seq[(Int, Seq[Long])],
      nQueries: Int,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val probes = queries
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("q8").as("q"),
        explode(topCellsUdf(centroids, nprobe)(col("q8"))).as("cid")
      )
    val scored = assigned
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id"),
        cosKeyPair(col("q"), col("q8")).as("score")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** Persist the trained IVF index — the train-once/query-many lifecycle
    * of a production vector index: `$out/centroids` (the kCentroids×dim
    * quantizer, tiny) and `$out/vectors` (vec_id, embedding, nrm)
    * PARTITIONED BY cell id. The cid partitioning is the point: an
    * nprobe query prunes its scan to nprobe/kCentroids of the corpus at
    * the FILE level (PartitionFilters, no data read outside probed
    * cells) — at 100 TB this is the difference between an index and a
    * table scan. Norms are precomputed into the index so query-time
    * scoring is one fold per candidate pair.
    */
  def writeIvfIndex(
      spark: SparkSession,
      dir: String,
      out: String,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Unit =
    writeIvfIndexOf(
      spark,
      emb(spark, dir).select("vec_id", "embedding"),
      out,
      kCentroids,
      iters
    )

  /** [[writeIvfIndex]] over an explicit (vec_id, embedding) corpus — the
    * form the incremental lifecycle needs (train on the initial ingest,
    * then [[appendToIvfIndex]] daily batches).
    */
  def writeIvfIndexOf(
      spark: SparkSession,
      vectors: DataFrame,
      out: String,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    out
  ) {
    // rebuild = drop + rewrite of the swapped member: fenced like every
    // other store mutator so it cannot race a compaction's swaps
    import spark.implicits._
    val corpus = withNorm(
      vectors.select("vec_id", "embedding"),
      "embedding",
      "nrm"
    ).cache()
    val centroids = trainCentroids(corpus, kCentroids, iters)
    centroids.toDF("cid", "c").write.mode("overwrite").parquet(s"$out/centroids")
    // layer 0 = the base layer owned by build/compaction; appends write
    // layer>0 partitions (see appendToIvfIndex — the retrieval store's
    // redelivery-exactness layout, applied to the vector store). A
    // REBUILD into an existing store retracts the swapped member entirely
    // (pointer AND generations — pointer-only deletion would strand
    // superseded full-size index copies on disk); offline by contract.
    graft.util.DirSwap.drop(out, "vectors")
    assignCells(corpus, centroids)
      .select("vec_id", "embedding", "nrm", "cid")
      .withColumn("layer", lit(0L))
      .write
      .mode("overwrite")
      .partitionBy("cid", "layer")
      .parquet(s"$out/vectors")
    corpus.unpersist(false)
  }

  /** Incremental index maintenance — the ANN-plane counterpart of the d9
    * dedup lifecycle (train once, ingest daily): assigns `newVectors`
    * (vec_id, embedding) to the STORED centroids — no retraining, the
    * quantizer is the index's identity — and APPENDS them into the
    * cid-partitioned vectors table. Assignment is the same row-local
    * projection as the initial build (centroids are a bounded
    * kCentroids×dim driver constant), so an append touches only the new
    * batch: nothing corpus-sized is re-read, re-hashed, or rewritten —
    * existing cell files stay byte-identical (spec-checked) and the new
    * batch lands as additional files inside its cells' partitions.
    *
    * Laws (IndexStoreSpec): append is batch-insensitive — two appends ≡
    * one append of the union, searches bit-identical — and complete: a
    * probe-all [[knnIvfIndexed]] over (initial ∪ appended) equals
    * [[knnBruteForce]] over the union corpus, because cell assignment
    * partitions the corpus whatever the centroids are.
    *
    * Caller contract: vec_ids in `newVectors` must be new (an id already
    * in the index would rank twice — dedup upstream is d9's job), and the
    * embedding column must carry the index's element type/dimension.
    *
    * Each ingest lands under its own `layer` partition via DYNAMIC
    * partition overwrite (the retrieval store's layout): replaying the
    * SAME (batch, layer) REPLACES the layer's partitions instead of
    * stacking duplicate vector rows, so the streaming maintenance loop —
    * which keys the layer on the micro-batch id — stays exact under T1
    * redelivery (a duplicated row would surface the same vec_id twice in
    * a top-k). Layers must be unique across DISTINCT ingests (default
    * fresh per call) and > 0; layer 0 is the base owned by
    * build/compaction.
    */
  def appendToIvfIndex(
      spark: SparkSession,
      newVectors: DataFrame,
      indexDir: String,
      layer: Long = System.nanoTime()
  ): Unit = {
    require(layer > 0L, "append layers must be > 0; layer 0 is the base")
    repairIvfIndex(indexDir)
    val centroids: Seq[(Int, Seq[Double])] = spark.read
      .parquet(s"$indexDir/centroids")
      .collect() // bounded: kCentroids × dim
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
      .toSeq
    val withN =
      withNorm(newVectors.select("vec_id", "embedding"), "embedding", "nrm")
    assignCells(withN, centroids)
      .select("vec_id", "embedding", "nrm", "cid")
      .withColumn("layer", lit(layer))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("cid", "layer")
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
  }

  /** Crash repair for an interrupted [[compactIvfIndex]] — the DirSwap
    * per-directory contract; called by every store consumer.
    */
  def repairIvfIndex(indexDir: String): Unit =
    graft.util.DirSwap.repair(indexDir, "vectors")

  /** Compact the vector store in place: every append accretes one file
    * per touched cell, so a long-lived index accumulates small files and
    * every probe pays the listing/open overhead. Folds delta layers into
    * the base layer 0 (one file per cell — the build write's shape)
    * behind a build-then-swap ([[graft.util.DirSwap]]). The vector store
    * is a plain row union (no count merging), but `protectLayersAbove`
    * matters for the same reason as the retrieval store's: folding a
    * layer whose offsets are not yet committed would stack the folded
    * rows under a redelivered rewrite — the streaming loop protects the
    * just-written layer. Reads are row-identical across compaction
    * (IndexStoreSpec law); single-maintainer posture.
    */
  def compactIvfIndex(
      spark: SparkSession,
      indexDir: String,
      protectLayersAbove: Long = Long.MaxValue
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    indexDir
  ) {
    repairIvfIndex(indexDir)
    val liveVectors = graft.util.DirSwap
      .resolve(indexDir, "vectors")
      .toString
    val kCells = spark.read.parquet(s"$indexDir/centroids").count().toInt
    val folded = when(
      col("layer").cast("long") <= lit(protectLayersAbove),
      lit(0L)
    ).otherwise(col("layer").cast("long"))
    graft.util.DirSwap.swap(
      indexDir,
      "vectors"
    ) { tmp =>
      spark.read
        .parquet(liveVectors)
        .withColumn("layer", folded)
        .repartition(kCells, col("cid"))
        .write
        .partitionBy("cid", "layer")
        .parquet(tmp.toString)
    }
  }

  /** IVF kNN over a PERSISTED index ([[writeIvfIndex]]) — no training at
    * query time: centroids load from the index (bounded kCentroids×dim),
    * probe cells resolve row-locally, and the vectors scan carries an
    * explicit cid partition filter so only probed cells' files are read.
    * Bit-identical to [[knnIvfTrained]] run with the same parameters
    * (same seeding, same arithmetic; law-checked in IndexStoreSpec).
    */
  def knnIvfIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 10,
      k: Int = 5,
      nprobe: Int = 2
  ): DataFrame =
    knnIvfIndexedOf(
      spark,
      emb(spark, dir)
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("q")),
      indexDir,
      k,
      nprobe
    )

  /** [[knnIvfIndexed]] over an EXPLICIT query frame `(qid, q)` — the form
    * the continuous search plane consumes per micro-batch
    * ([[graft.streaming.StreamingSimilarity.searchStream]]): queries are
    * independent rows, so searching them in arriving chunks against the
    * frozen index is row-for-row identical to one batch search (the
    * stream ≡ batch law in IndexStoreSpec).
    */
  def knnIvfIndexedOf(
      spark: SparkSession,
      queryVecs: DataFrame,
      indexDir: String,
      k: Int = 5,
      nprobe: Int = 2,
      excludeSelf: Boolean = true // corpus-query protocol (queries ARE
      //   corpus vectors, which must not retrieve themselves); external-qid
      //   callers (the streaming search service) pass false, or a corpus
      //   vector whose vec_id equals an arriving qid is silently dropped
  ): DataFrame = {
    repairIvfIndex(indexDir)
    val centroids: Seq[(Int, Seq[Double])] = spark.read
      .parquet(s"$indexDir/centroids")
      .collect() // bounded: kCentroids × dim
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
      .toSeq
    val queries = withNorm(
      queryVecs.select(col("qid"), col("q")),
      "q",
      "qnrm"
    )
    val probes = queries
      .select(
        col("qid"),
        col("q"),
        col("qnrm"),
        explode(
          slice(
            sort_array(
              array(cellSims(col("q"), col("qnrm"), centroids): _*),
              asc = false
            ),
            1,
            nprobe
          )
        ).as("probe")
      )
      .select(col("qid"), col("q"), col("qnrm"), (-col("probe.negCid")).as("cid"))
    // the probed-cell set is bounded by kCentroids: collecting it turns
    // the index scan into a static partition-pruned read
    val probeCids = probes
      .select("cid")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    val vectors = spark.read
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
      .where(col("cid").isin(probeCids: _*))
    val cand = vectors.join(broadcast(probes), Seq("cid"))
    val scored = (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid"))
                  else cand)
      .select(
        col("qid"),
        col("vec_id"),
        (dotD(col("q"), col("embedding")) / (col("qnrm") * col("nrm")))
          .as("sim")
      )
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
  }

  // ---------------------------------------------------------------------
  // Persisted EXACT-INTEGER IVF store — the k5/k10 arithmetic behind the
  // SAME parquet layout as the float store (`centroids` + a (cid, layer)-
  // partitioned `vectors` member), deliberately sharing its member names
  // so repairIvfIndex / compactIvfIndex / Maintenance.ivfVectors drive it
  // unchanged. The integer payload is what makes the STORED search
  // oracle-replayable end to end (training, assignment, probing, scoring
  // — all BIGINT), which is what the stored-leg hybrid (p36d) fuses.
  // ---------------------------------------------------------------------

  /** The exact store's and the corpus's layouts as their writers fix
    * them (partition columns last): a read that declares its schema pays
    * no schema-inference job.
    */
  private[graft] object Layout {
    import org.apache.spark.sql.types.StructType
    val embeddings = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    val centroids = StructType.fromDDL("cid INT, c ARRAY<BIGINT>")
    val vectors = StructType.fromDDL(
      "vec_id BIGINT, q8 ARRAY<BIGINT>, cid INT, layer BIGINT")
  }

  private def readExactCentroids(
      spark: SparkSession,
      indexDir: String
  ): Seq[(Int, Seq[Long])] = spark.read
    .parquet(s"$indexDir/centroids")
    .collect() // bounded: kCentroids × dim
    .map(r => r.getInt(0) -> r.getSeq[Long](1))
    .sortBy(_._1)
    .toSeq

  /** Persist the exact-integer trained IVF index over `codes`
    * (vec_id, q8 — [[quantized]]'s BIGINT codes): trains
    * [[trainCentroidsExact]], writes the quantizer to `centroids`
    * (cid, c BIGINT[]) and the assigned corpus to `vectors`
    * (vec_id, q8) partitioned by (cid, layer) — layer 0 the base, the
    * float store's exactly-once layout verbatim.
    */
  def writeIvfIndexExactOf(
      spark: SparkSession,
      codes: DataFrame,
      out: String,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    out
  ) {
    // fenced rebuild — see writeIvfIndexOf
    import spark.implicits._
    val c = codes.select("vec_id", "q8").cache()
    val centroids = trainCentroidsExact(c, kCentroids, iters)
    // a REBUILD retracts the swapped member entirely (see writeIvfIndexOf)
    graft.util.DirSwap.drop(out, "vectors")
    // both members derive from driver-held training output — the writes
    // are independent and overlap (guide §2.6)
    graft.util.Par.run(
      () =>
        centroids
          .toDF("cid", "c")
          .write
          .mode("overwrite")
          .parquet(s"$out/centroids"),
      () =>
        assignCellsInt(c, centroids)
          .select(col("vec_id"), col("q8"), col("cid").cast("int").as("cid"))
          .withColumn("layer", lit(0L))
          .write
          .mode("overwrite")
          .partitionBy("cid", "layer")
          .parquet(s"$out/vectors")
    )
    c.unpersist(false)
  }

  /** Append a batch of codes to the FROZEN exact quantizer — k10's append
    * path through parquet: row-local [[assignCellsInt]] against the stored
    * centroids, landed under its own layer via dynamic partition overwrite
    * (same redelivery-exactness contract as [[appendToIvfIndex]]).
    */
  def appendToIvfIndexExact(
      spark: SparkSession,
      newCodes: DataFrame,
      indexDir: String,
      layer: Long = System.nanoTime()
  ): Unit = {
    require(layer > 0L, "append layers must be > 0; layer 0 is the base")
    repairIvfIndex(indexDir)
    val centroids = readExactCentroids(spark, indexDir)
    assignCellsInt(newCodes.select("vec_id", "q8"), centroids)
      .select(col("vec_id"), col("q8"), col("cid").cast("int").as("cid"))
      .withColumn("layer", lit(layer))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("cid", "layer")
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
  }

  /** Exact-integer IVF search over the PERSISTED store — no training at
    * query time: the stored centroids (bounded kCentroids×dim longs)
    * resolve each query's nprobe cells row-locally, the probed-cell set
    * (≤ kCentroids) turns the vectors scan into a static partition-pruned
    * read, and candidates rank by the fixed-point cosine key with ties to
    * vec_id — [[searchCellsExact]]'s arithmetic against store rows.
    * Bit-identical to [[knnIndexLifecycleExact]] when the store was built
    * with its protocol (train on the initial ingest, append the rest —
    * the IndexStoreSpec law), because assignment is row-local in the
    * frozen quantizer and parquet round-trips BIGINT codes exactly.
    */
  def knnIvfIndexedExactOf(
      spark: SparkSession,
      queryCodes: DataFrame,
      indexDir: String,
      nQueries: Long = 10L, // Long so "every arriving query" is expressible
      k: Int = 5,
      nprobe: Int = 2,
      excludeSelf: Boolean = true // see knnIvfIndexedOf — false for
      //                             external (non-corpus) qid spaces
  ): DataFrame = {
    repairIvfIndex(indexDir)
    val centroids = readExactCentroids(spark, indexDir)
    val probes = queryCodes
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("q8").as("q"),
        explode(topCellsUdf(centroids, nprobe)(col("q8"))).as("pcid")
      )
      .select(col("qid"), col("q"), col("pcid").cast("int").as("cid"))
    // probed-cell set bounded by kCentroids: collecting it makes the
    // store scan a static partition-pruned read (the float form's trick)
    val probeCids = probes
      .select("cid")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    val vectors = spark.read
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
      .where(col("cid").isin(probeCids: _*))
    val cand = vectors.join(broadcast(probes), Seq("cid"))
    val scored = (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid"))
                  else cand)
      .select(
        col("qid"),
        col("vec_id"),
        cosKeyPair(col("q"), col("q8")).as("score")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** K15 — FILTERED exact-integer IVF search over the persisted store:
    * the production vector-store feature every deployed retrieval system
    * has (search within a metadata predicate — a language, a source, a
    * tenant). `allowed` is the qualifying id set (vec_id — any frame; a
    * metadata predicate on the documents table upstream). Semantics are
    * EXACT pre-filtering within the probed cells: candidates are
    * semi-joined against `allowed` BEFORE ranking, so the top-k is the
    * true top-k among qualifying vectors in the probed cells — not a
    * post-filtered pool that loses recall when the filter is selective.
    *
    * Scale shape: the probed-cell partition pruning is unchanged (the
    * filter never widens the scan); the semi-join touches only the
    * pruned cells' rows, and `allowed` can be corpus-sized (it is NOT
    * broadcast-hinted — AQE promotes it when it is small). One more
    * keyed join over the candidate set, nothing else moves.
    */
  def knnIvfIndexedExactFilteredOf(
      spark: SparkSession,
      queryCodes: DataFrame,
      indexDir: String,
      allowed: DataFrame, // qualifying vec_ids
      nQueries: Long = 10L,
      k: Int = 5,
      nprobe: Int = 2,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairIvfIndex(indexDir)
    val centroids = readExactCentroids(spark, indexDir)
    val probes = queryCodes
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("qid"),
        col("q8").as("q"),
        explode(topCellsUdf(centroids, nprobe)(col("q8"))).as("pcid")
      )
      .select(col("qid"), col("q"), col("pcid").cast("int").as("cid"))
    val probeCids = probes
      .select("cid")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    val vectors = spark.read
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
      .where(col("cid").isin(probeCids: _*))
      .join(allowed.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
    val cand = vectors.join(broadcast(probes), Seq("cid"))
    val scored = (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid"))
                  else cand)
      .select(
        col("qid"),
        col("vec_id"),
        cosKeyPair(col("q"), col("q8")).as("score")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** K15's oracle-replayable lifecycle: the k10 store protocol (train on
    * the initial 3/4 ingest, append the rest to the frozen quantizer),
    * then the FILTERED stored search with the qualifying set = the
    * English documents (vec_id ↔ doc_id, the corpus contract).
    */
  def knnIvfFilteredLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      nprobe: Int = 2
  ): DataFrame = {
    val codes = quantized(spark, dir).select("vec_id", "q8")
    val allowed = spark.read
      .parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    graft.pipeline.Eager.withTempStore("graft-k15-index") { tmp =>
      writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
      appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
      knnIvfIndexedExactFilteredOf(
        spark, codes, tmp, allowed, nQueries, k, nprobe)
    }
  }

  /** SELECTIVITY-AWARE filtered stored ANN — [[knnIvfIndexedExactFilteredOf]]
    * with the probe width scaled to the filter: the fixed-nprobe form is
    * exact only WITHIN the probed cells, so a highly selective filter
    * (1% of the corpus) can empty the probed cells while true qualifying
    * neighbors live in unprobed ones. Production vector stores widen the
    * probe (or fall back to scanning the qualifying subset) as
    * selectivity grows; this is that law: effective nprobe =
    * min(kCentroids, ceil(nprobe / selectivity)), where selectivity =
    * |allowed ∩ corpus| / |corpus| (the intersection computed here, so an
    * allowed set wider than the corpus cannot narrow the probe) — the
    * probe set grows exactly as the
    * expected qualifying candidates per cell shrink, and at the
    * selective extreme DEGENERATES to probing every cell, which by the
    * completeness law is the exact top-k over the qualifying set (the
    * brute-over-filter fallback, reached continuously rather than by a
    * mode switch). IndexStoreSpec pins the recall floor: at 1%
    * selectivity the adaptive form's recall@k against the filtered truth
    * is 1.0 where the fixed form's demonstrably is not.
    *
    * Cost of adaptivity: two counts (the store's row count — parquet
    * footer metadata — and the qualifying count |allowed ∩ corpus|, one
    * semi-join + aggregation over the filter set the query was going to
    * hash-join anyway), then the standard filtered search with a
    * wider probed-cell set. The scan stays partition-pruned to the probed cells; only the
    * number of probed cells changes.
    */
  def knnIvfIndexedExactFilteredAdaptiveOf(
      spark: SparkSession,
      queryCodes: DataFrame,
      indexDir: String,
      allowed: DataFrame, // qualifying vec_ids
      nQueries: Long = 10L,
      k: Int = 5,
      nprobe: Int = 2,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairIvfIndex(indexDir)
    val kCentroids = readExactCentroids(spark, indexDir).size
    val allowedSet = allowed.select("vec_id").distinct()
    val corpus = spark.read
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
    val nTotal = corpus.count() // parquet footer metadata, no data scan
    // |allowed ∩ corpus|, NOT |allowed| — a caller passing a filter set
    // with ids absent from the index (stale tenant list, cross-shard id
    // space) would otherwise inflate the qualifying count, NARROW the
    // effective probe below the intended width, and silently reintroduce
    // the recall loss this function exists to fix. One semi-join against
    // the store's vec_id column (column-pruned scan, the frame the query
    // hash-joins anyway); IndexStoreSpec pins the out-of-corpus case.
    val nAllowed = allowedSet
      .join(corpus.select("vec_id"), Seq("vec_id"), "left_semi")
      .count()
    // EXACT integer ceil-div (ceil(nprobe / selectivity) with no floating
    // point): the probe width is part of the query's replayable protocol
    // — the k17 oracle computes the identical width from the same counts
    val nprobeEff =
      if (nAllowed <= 0L) nprobe // empty filter: any probe set yields ∅
      else
        math
          .min(
            kCentroids.toLong,
            (nprobe.toLong * nTotal + nAllowed - 1L) / nAllowed
          )
          .toInt
    knnIvfIndexedExactFilteredOf(
      spark,
      queryCodes,
      indexDir,
      allowedSet,
      nQueries,
      k,
      math.max(nprobeEff, nprobe),
      excludeSelf
    )
  }

  /** K17 — the adaptive filtered lifecycle (the k15 protocol with the
    * selectivity-scaled probe): store built train-3/4 / frozen-append,
    * then [[knnIvfIndexedExactFilteredAdaptiveOf]] with the qualifying
    * set = the English documents. The effective probe width is exact
    * integer arithmetic over (corpus count, qualifying count), so the
    * whole query — width selection included — hash-replays in DuckDB.
    */
  def knnIvfFilteredAdaptiveLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      nprobe: Int = 2
  ): DataFrame = {
    val codes = quantized(spark, dir).select("vec_id", "q8")
    val allowed = spark.read
      .parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    graft.pipeline.Eager.withTempStore("graft-k17-index") { tmp =>
      writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
      appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
      knnIvfIndexedExactFilteredAdaptiveOf(
        spark, codes, tmp, allowed, nQueries, k, nprobe)
    }
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = 127/max|v_i|, code_i = floor(v_i·scale + 0.5) ∈ [−127, 127] (the
    * all-zero vector maps to all-zero codes). This is the storage format
    * of a large embedding corpus — 4× smaller than float32, 8× smaller
    * than float64 — and for COSINE search it is nearly free: the
    * per-vector scale cancels, so quantized cosine is just cosine over
    * the integer codes (no dequantization, no stored scales in the hot
    * path). Deterministic double arithmetic end-to-end (floor, not
    * banker's rounding), so the codes are exact-integer replayable in
    * the SQL oracle.
    */
  private def maxAbsOf(e: Column): Column =
    array_max(transform(e, x => abs(x.cast("double"))))

  private def quantizeWith(e: Column, maxAbs: Column): Column =
    transform(
      e,
      x =>
        when(maxAbs === 0.0, 0L)
          .otherwise(floor(x.cast("double") * (lit(127.0) / maxAbs) + 0.5))
    )

  /** Single-expression form: fine for literals/specs, but Catalyst does
    * NOT common-subexpression-eliminate inside lambdas, so the inlined
    * max|v| re-folds the array per ELEMENT — O(dim²) per vector. The
    * DataFrame operators below hoist it into a projected column (one
    * fold per vector); same arithmetic, bit-equal codes.
    */
  def quantize(e: Column): Column = quantizeWith(e, maxAbsOf(e))

  /** The corpus with its int8 codes (`q8`), max|v| hoisted. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(emb(spark, dir))

  /** `e` with the int8 codes (`q8`) of its `embedding` column. */
  private[graft] def quantizedOf(e: DataFrame): DataFrame =
    e.withColumn("max_abs", maxAbsOf(col("embedding")))
      .withColumn("q8", quantizeWith(col("embedding"), col("max_abs")))
      .drop("max_abs")

  /** k6 — the quantized corpus, exploded to (vec_id, pos, code) rows for
    * exact-integer oracle comparison.
    */
  def quantizedCodes(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(col("vec_id"), posexplode(col("q8")))
      .select(
        col("vec_id"),
        col("pos").cast("long").as("pos"),
        col("col").as("code")
      )
      .orderBy("vec_id", "pos")

  /** Brute-force kNN over the int8 codes — same shape as [[knnBruteForce]]
    * but every distance is computed on quantized vectors (what a real
    * embedding store scans). Spec'd: top-k overlap with the exact float
    * search stays high (the quantization-recall contract).
    */
  def knnQuantized(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5
  ): DataFrame = {
    val corpus = quantized(spark, dir).select("vec_id", "q8")
    val queries = corpus
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q8").as("qq8"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id"),
        cosine(col("qq8"), col("q8")).as("sim")
      )
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
  }

  /** Sign-LSH bucketing: `nBits` pseudo-random hyperplanes with ±1
    * components derived deterministically from an LCG parity — exact
    * integer arithmetic the DuckDB oracle replays, so the bucketed
    * operators (k3/k4/d4) are hash-verifiable instead of rows-only.
    * Vectors sharing a bucket are near in angle with high probability;
    * pairs are then exactly scored. Candidate generation is a groupBy on
    * the bucket key — no all-pairs shuffle.
    */
  /** The sign-LSH bucket of one embedding column: `nBits` hyperplane sign
    * bits packed into a long. Plane p, dim d: sign = +1 iff bit 16 of
    * lcg(131·p + d) is 0 (classic rand() construction) — deterministic,
    * no stored model, portable to any engine with 64-bit integers.
    */
  def signBucket(embedding: Column, nBits: Int = 12): Column =
    // native single-pass expression; bit-identical to the declarative
    // per-plane aggregate(zip_with(...)) folds it replaces (same LCG
    // parity planes, same sequential dim-order accumulation)
    graft.functions.SignLshBucket.signBucket(embedding, nBits)

  /** The d4 HARNESS corpus (used by the SparkEntry fixture, never baked
    * into the operator): the embeddings table plus one EXACT-angle
    * near-duplicate per low-id vector (the same vector scaled by 2 — a
    * power of two, so the scaled floats, every cosine, and every
    * hyperplane sign are bit-identical between engines and the pair's
    * similarity is 1.0 by construction). Gives the near-dup check a
    * non-empty ground truth: without seeds the synthetic corpus has no
    * pair above 0.99 and the oracle check would pass vacuously. Seed ids
    * offset by 1e6 — safe for the test corpora (ids ≪ 1e6), asserted
    * here so a bigger fixture fails loudly instead of colliding.
    */
  def seededCorpus(spark: SparkSession, dir: String, nSeeds: Int = 20): DataFrame = {
    val base = emb(spark, dir)
    require(
      base.agg(max("vec_id")).head().getLong(0) < 1000000L,
      "seed id offset collides with corpus vec_ids"
    )
    val seeds = base
      .filter(col("vec_id") < nSeeds)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), v => (v * lit(2.0f)).cast("float"))
          .as("embedding"),
        col("label")
      )
    base.unionByName(seeds)
  }

  def lshBuckets(
      spark: SparkSession,
      dir: String,
      nBits: Int = 12
  ): DataFrame =
    emb(spark, dir).select(
      col("vec_id"),
      col("label"),
      signBucket(col("embedding"), nBits).as("bucket")
    )

  /** Embedding near-duplicate pairs: candidates come from the sign-LSH
    * index ([[lshBuckets]]) — a pair is considered when the smaller-id
    * vector's multiprobe set (own bucket + every 1-bit flip) contains the
    * other vector's bucket, i.e. bucket Hamming distance ≤ 1. At cosine
    * ≥ 0.99 the two vectors are nearly parallel, so all but the
    * near-orthogonal hyperplanes vote identically — 1-bit multiprobe
    * recovers the dominant miss mode. `label` is only an extra filter on
    * candidates, never the candidate generator: a coarse 10-value column
    * would make this O(n²/10) all-pairs at scale.
    *
    * Each probe value is distinct, so a pair matches at most one probe —
    * no dedup needed. Candidate volume ∝ corpus × (nBits+1) / 2^nBits,
    * linear in the corpus.
    */
  def embeddingNearDup(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.99,
      nBits: Int = 12
  ): DataFrame =
    embeddingNearDupOn(emb(spark, dir), threshold, nBits)

  def embeddingNearDupOn(
      input: DataFrame,
      threshold: Double = 0.99,
      nBits: Int = 12
  ): DataFrame = {
    // The self-join reads the bucketed corpus on BOTH legs; caching it
    // computes the nBits×dim hyperplane projection ONCE per vector instead
    // of once per leg. At 100 TB this cache is a persisted index table
    // (lshBuckets written alongside the corpus); released before return.
    val corpus = input
      .withColumn("bucket", signBucket(col("embedding"), nBits))
      .cache()
    val probes = corpus.select(
      col("label"),
      col("vec_id").as("a"),
      col("embedding").as("ea"),
      explode(
        array(
          (col("bucket") +: (0 until nBits).map(i =>
            col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))): _*
        )
      ).as("bucket")
    )
    val targets = corpus.select(
      col("label"),
      col("vec_id").as("b"),
      col("embedding").as("eb"),
      col("bucket")
    )
    // label rides the JOIN KEY (not a post-join filter): a cross-label
    // candidate can never pass the equality anyway, so hashing on
    // (bucket, label) drops it before the cosine — on the media plane
    // (m6: 3 labels sharing 97 feature directions) that is a 3× cut in
    // scored pairs for identical output. The label still never GENERATES
    // candidates: a coarse label alone would be O(n²/|labels|) —
    // the bucket stays the generator, the label only splits its groups.
    val out = probes
      .join(targets, Seq("bucket", "label"))
      .filter(col("a") < col("b"))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select("label", "a", "b", "sim")
      .orderBy("a", "b")
    Eager.materialized(out, corpus)
  }

  /** D8 — semantic dedup drop-list (the SemDeDup shape: prune
    * near-identical embeddings within a cluster cell, keep one canonical
    * representative per duplicate group). Cells are the corpus's `label`
    * column — the same trained-quantizer stand-in k2 uses — and candidate
    * generation inside a cell rides the sign-LSH multiprobe index, so the
    * plan never goes all-pairs even within a cell. Pairs at cosine ≥
    * `threshold` are clustered by connected components (transitive: A≈B,
    * B≈C drops both B and C even if A·C dips under the threshold — the
    * standard SemDeDup grouping) and every non-minimal member is emitted
    * with its keeper. Runs on the seeded harness corpus so ground truth
    * is non-vacuous ([[seededCorpus]]).
    */
  def semanticDedup(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.99
  ): DataFrame = {
    val pairs = embeddingNearDupOn(seededCorpus(spark, dir), threshold)
    Dedup
      .components(pairs.select("a", "b"))
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id").as("vec_id"), col("label").as("keeper"))
      .orderBy("vec_id")
  }

  /** LSH-bucketed approximate kNN — the shuffle-free scale path: queries
    * probe their own bucket plus every 1-bit-flip neighbor bucket
    * (multiprobe), then exact-score only those candidates. Candidate
    * volume is corpus-fraction 1/2^nBits × (nBits+1) probes, independent
    * of k; recall is tested against brute force in PipelineSpec.
    */
  def knnLsh(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      nBits: Int = 12
  ): DataFrame = {
    val corpus = emb(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), nBits))
    // query leg filters BEFORE bucketing, so its projection runs on
    // nQueries rows only — the corpus-side leg is the single full-scan
    // bucket computation in this plan (no cache needed: each leg computes
    // buckets for disjoint work, queries ≪ corpus)
    val queries = emb(spark, dir)
      .filter(col("vec_id") < nQueries)
      .withColumn("bucket", signBucket(col("embedding"), nBits))
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("q"),
        col("bucket").as("qbucket")
      )
      // multiprobe: own bucket + all 1-bit flips
      .select(
        col("qid"),
        col("q"),
        explode(
          array(
            (col("qbucket") +: (0 until nBits).map(i =>
              col("qbucket").bitwiseXOR(shiftleft(lit(1L), i)))): _*
          )
        ).as("bucket")
      )
    val scored = corpus
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id"),
        cosine(col("q"), col("embedding")).as("sim")
      )
      .distinct()
    val w = Window
      .partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "sim")
      .orderBy("qid", "rank")
  }

  /** Bucket-size histogram of the LSH index — the balance diagnostic that
    * decides whether buckets need salting at scale.
    */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    lshBuckets(spark, dir)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"))
      .groupBy("n_vectors")
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy("n_vectors")

  /** K7 — product quantization (PQ): the compression step past scalar
    * int8 (k6). The int8 vector splits into `subspaces` equal subvectors;
    * each is stored as the id of its nearest codebook entry, so a D-dim
    * vector compresses to `subspaces` small codes and asymmetric-distance
    * search scans per-subspace lookup tables instead of vectors — the
    * IVF-PQ layout every billion-scale ANN store uses.
    *
    * The codebook is the deterministic SAMPLED one: per subspace, the
    * subvectors of the `codebookSize` lowest-vec_id vectors. That keeps
    * codebook construction exactly replayable in the SQL oracle (k5
    * already demonstrates trained k-means; its centroids would slot in
    * unchanged). Assignment distance is an exact BIGINT sum of squared
    * int8-code differences with a (dist, cid) tiebreak — bit-replayable,
    * no FP anywhere.
    *
    * Scale shape: the codebook (subspaces x codebookSize subvectors) is
    * broadcast; assignment is `groupBy(vec_id, sub).min(struct(dist,
    * cid))` — partial-aggregable (map-side combine collapses the
    * codebook fan-out before any shuffle), no window, no all-pairs
    * beyond the k-entries-per-row scan any PQ encoder pays by definition.
    */
  /** (per-vector subspace rows, per-subspace codebook) — the two legs
    * every PQ operator composes.
    */
  private def pqParts(
      spark: SparkSession,
      dir: String,
      subspaces: Int,
      codebookSize: Int
  ): (DataFrame, DataFrame) = {
    val q = quantized(spark, dir).select(col("vec_id"), col("q8"))
    val rows = q
      .select(
        col("vec_id"),
        posexplode(
          expr(
            s"transform(sequence(0, ${subspaces - 1}), " +
              s"s -> slice(q8, s * (size(q8) DIV $subspaces) + 1, " +
              s"size(q8) DIV $subspaces))"
          )
        )
      )
      .select(
        col("vec_id"),
        col("pos").cast("long").as("sub"),
        col("col").as("sv")
      )
    val codebook = rows
      .filter(col("vec_id") < codebookSize)
      .select(col("sub").as("cb_sub"), col("vec_id").as("cid"), col("sv").as("cv"))
    (rows, codebook)
  }

  /** Exact BIGINT squared distance between two code subvectors. */
  private def subDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L),
      (acc, x) => acc + x
    )

  /** Argmin code assignment over pre-built (rows, codebook) legs — shared
    * by [[pqCodes]] and [[knnPq]] so the quantize/explode pipeline is
    * constructed once per query (Catalyst does no subplan reuse).
    */
  private def codesFrom(rows: DataFrame, codebook: DataFrame): DataFrame =
    rows
      .join(broadcast(codebook), col("sub") === col("cb_sub"))
      .select(
        col("vec_id"),
        col("sub"),
        col("cid"),
        subDist(col("sv"), col("cv")).as("dist")
      )
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(
        col("vec_id"),
        col("sub"),
        col("m.cid").as("code"),
        col("m.dist").as("dist")
      )

  def pqCodes(
      spark: SparkSession,
      dir: String,
      subspaces: Int = 4,
      codebookSize: Int = 16
  ): DataFrame = {
    val (rows, codebook) = pqParts(spark, dir, subspaces, codebookSize)
    codesFrom(rows, codebook).orderBy("vec_id", "sub")
  }

  /** K8 — asymmetric-distance (ADC) kNN over the PQ codes: the search
    * half of product quantization. Each query keeps its EXACT (int8)
    * subvectors and precomputes a per-subspace lookup table of distances
    * to every codebook entry (`nQueries x subspaces x codebookSize` rows
    * — hundreds, broadcast); a corpus vector's approximate distance is
    * then the SUM of table lookups selected by its stored codes — the
    * scan never touches vectors, only (vec_id, sub, code) rows.
    *
    * Plan: codes ⋈ broadcast(LUT) on (sub, code) → partial-aggregable
    * SUM per (qid, vec_id) → per-query top-k (TakeOrderedAndProject
    * shape). Everything BIGINT; ties break on vec_id — bit-replayable.
    */
  def knnPq(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      subspaces: Int = 4,
      codebookSize: Int = 16
  ): DataFrame = {
    val (rows, codebook) = pqParts(spark, dir, subspaces, codebookSize)
    val codes = codesFrom(rows, codebook).select("vec_id", "sub", "code")
    val lut = rows
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sub").as("q_sub"), col("sv"))
      .join(broadcast(codebook), col("q_sub") === col("cb_sub"))
      .select(
        col("qid"),
        col("q_sub"),
        col("cid"),
        subDist(col("sv"), col("cv")).as("pdist")
      )
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    codes
      .join(
        broadcast(lut),
        col("sub") === col("q_sub") && col("code") === col("cid")
      )
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum("pdist").as("adist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "adist")
      .orderBy("qid", "rank")
  }

  /** K9 — IVF-PQ, the composed billion-scale ANN layout: coarse cells
    * (`label`, the trained-quantizer stand-in k2 probes) partition the
    * corpus; within the probed cell, ranking runs on ADC lookup distance
    * over the PQ codes (k8). Both reductions compound at 10⁹ vectors —
    * the cell prune cuts the candidate scan to corpus/nCells rows, and
    * ADC cuts each comparison to `subspaces` table lookups on
    * 16x-compressed codes; vectors stay in cold storage. In a store the
    * codes table is PARTITIONED BY cell (the k5 index-persistence layout
    * — `writeIvfIndex`), so the probe is file-level partition pruning.
    * Same exact-BIGINT arithmetic as k7/k8 — the oracle hash-replays the
    * whole composed search.
    */
  def knnIvfPq(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      subspaces: Int = 4,
      codebookSize: Int = 16
  ): DataFrame = {
    val (rows, codebook) = pqParts(spark, dir, subspaces, codebookSize)
    val labels = emb(spark, dir).select(col("vec_id"), col("label"))
    val codes = codesFrom(rows, codebook)
      .select("vec_id", "sub", "code")
      .join(labels, "vec_id")
    val lut = rows
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sub").as("q_sub"), col("sv"))
      .join(broadcast(codebook), col("q_sub") === col("cb_sub"))
      .select(
        col("qid"),
        col("q_sub"),
        col("cid"),
        subDist(col("sv"), col("cv")).as("pdist")
      )
      .join(
        // Bound to the query set BEFORE the broadcast: `labels` is
        // corpus-sized (10⁹ rows at scale) but the join key set here is
        // at most `nQueries` — only those rows may cross to executors.
        broadcast(
          labels
            .filter(col("vec_id") < nQueries)
            .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        ),
        "qid"
      )
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    codes
      .join(
        broadcast(lut),
        col("sub") === col("q_sub") && col("code") === col("cid") &&
          col("label") === col("qlabel")
      )
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum("pdist").as("adist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "adist")
      .orderBy("qid", "rank")
  }

  /** K11 — two-stage retrieval: the IVF-PQ ADC search ([[knnIvfPq]])
    * produces a `shortlist`-sized candidate set per query, then the
    * shortlist alone is RE-RANKED by the exact integer cosine key over
    * the full int8 codes — the standard production ANN layout (FAISS's
    * IVFPQR / "refine" stage): ADC's subspace quantization error decides
    * only who makes the shortlist, never the final order.
    *
    * Scale shape: stage 1 is k9's audited plan (cell prune + broadcast
    * LUT + partial-agg ADC sum); stage 2 touches full vectors for ONLY
    * nQueries × shortlist rows — the candidate set (with its query codes
    * attached) broadcasts into a single scan of the codes table, and the
    * per-query top-k is a WindowGroupLimit. The expensive exact kernel
    * runs on thousands of rows where the corpus has billions; the corpus
    * itself is only ever touched through codes.
    *
    * Exact BIGINT end-to-end (ADC distances and the fixed-point cosine
    * key), so the full two-stage pipeline hash-replays in DuckDB.
    */
  def knnIvfPqRerank(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      shortlist: Int = 20,
      subspaces: Int = 4,
      codebookSize: Int = 16
  ): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val cand = knnIvfPq(spark, dir, nQueries, shortlist, subspaces, codebookSize)
      .select(col("qid"), col("vec_id"))
    val q = quantized(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q8").as("q"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    quantized(spark, dir)
      .select(col("vec_id"), col("q8"))
      .join(broadcast(cand.join(broadcast(q), "qid")), Seq("vec_id"))
      .select(
        col("qid"),
        col("vec_id"),
        cosKeyPair(col("q"), col("q8")).as("score")
      )
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** K13 — trained-IVF cell-balance report: per-cell occupancy and
    * cohesion of the exact-integer quantizer (k5's trainer), the index
    * health view an ANN deployment watches between rebuilds. Cell SKEW
    * is the operative 100 TB risk for IVF — a hot cell turns every probe
    * that touches it into a near-full scan — and this report is how the
    * operator sees it coming: occupancy in exact parts-per-million
    * against the corpus, plus each cell's min and mean fixed-point
    * cosine key to its OWN centroid (cohesion — a falling mean flags a
    * cell the quantizer no longer represents, the retrain signal).
    *
    * Scale shape: assignment is row-local against broadcast centroids
    * (zero shuffle), the rollup is one map-side-combined aggregation to
    * kCentroids rows, and empty cells survive via a right join against
    * the kCentroids-row cell list. Everything BIGINT (`SUM DIV count`
    * mean), so the report — training included — hash-replays in DuckDB.
    *
    * Oracle parity holds for the DEFAULT parameters only (the DuckDB
    * twin replays kCentroids=16, iters=3); non-default invocations are
    * spec-checked, not gate-checked.
    */
  def ivfCellStats(
      spark: SparkSession,
      dir: String,
      kCentroids: Int = 16,
      iters: Int = 3
  ): DataFrame = {
    val (codes, centroids) = trainedExact(spark, dir, kCentroids, iters)
    val out = presentCellStats(
      spark,
      cellStatsRaw(codes, centroids),
      kCentroids,
      Some(centroids.map(_._1))
    )
    Eager.materialized(out) // codes cache stays: the memo owns it
  }

  /** The MERGEABLE core of k13: (cid, n_vectors, sum_cohesion,
    * min_cohesion) of a codes frame against FROZEN centroids. Because
    * assignment is row-local in a frozen quantizer, these stats are
    * ADDITIVE over any row partition of the corpus (counts and sums add,
    * mins min — CellStats merge law in PipelineSpec): a daily append's
    * delta folds into the running index-health view with
    * [[mergeCellStats]], no rescan of history. |skey| ≤ 2²⁰·‖v‖² ≈
    * 2.7e11 at dim 16, so the per-cell sum stays in BIGINT up to ~3e7
    * members per cell.
    */
  def cellStatsRaw(
      codes: DataFrame,
      centroids: Seq[(Int, Seq[Long])]
  ): DataFrame = {
    val best = bestCellUdf(centroids)(col("q8"))
    codes
      .select(
        best.getField("_2").as("cid"),
        best.getField("_1").as("skey")
      )
      .groupBy("cid")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum("skey").as("sum_cohesion"),
        min("skey").as("min_cohesion")
      )
  }

  /** Cell-wise addition of two raw stats frames. */
  def mergeCellStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("cid")
      .agg(
        sum("n_vectors").as("n_vectors"),
        sum("sum_cohesion").as("sum_cohesion"),
        min("min_cohesion").as("min_cohesion")
      )

  /** The k13 report from raw stats: exact-ppm occupancy, integer mean,
    * empty cells kept via the trained cell list. `cellIds` must be the
    * ACTUAL trained centroid ids (`centroids.map(_._1)`) — the trainer
    * seeds from the lowest vec_ids, so a corpus smaller than kCentroids
    * trains fewer cells and a fixed 0..kCentroids range would report
    * phantom empties the oracle's DISTINCT-from-c0 cell list never sees.
    * `None` keeps the fixed-range form for raw frames with no trainer in
    * sight (the incremental merge path, where every cid present came
    * from a full-width index). Occupancy guards n_total = 0 (empty
    * corpus) to 0 ppm instead of a division by zero.
    */
  def presentCellStats(
      spark: SparkSession,
      raw: DataFrame,
      kCentroids: Int = 16,
      cellIds: Option[Seq[Int]] = None
  ): DataFrame = {
    import spark.implicits._
    val cells = cellIds match {
      case Some(ids) => ids.map(_.toLong).toDF("cid")
      case None => spark.range(0, kCentroids.toLong).select(col("id").as("cid"))
    }
    val totals =
      raw.agg(coalesce(sum("n_vectors"), lit(0L)).as("n_total"))
    cells
      .join(raw, Seq("cid"), "left")
      .withColumn("n_vectors", coalesce(col("n_vectors"), lit(0L)))
      .withColumn(
        "mean_cohesion",
        when(col("n_vectors") > 0, expr("sum_cohesion DIV n_vectors"))
      )
      .crossJoin(broadcast(totals)) // single-row total
      .withColumn(
        "occupancy_ppm",
        when(col("n_total") > 0, expr("(n_vectors * 1000000) DIV n_total"))
          .otherwise(lit(0L))
      )
      .select(
        "cid", "n_vectors", "occupancy_ppm",
        "min_cohesion", "mean_cohesion", "n_total"
      )
      .orderBy("cid")
  }

  /** K12 — retrieval-quality report: recall@k of every approximate index
    * family (IVF, IVF-PQ, sign-LSH, PQ/ADC) against the exact
    * brute-force top-k on the same query set — the monitoring job a
    * production ANN deployment runs after each index rebuild, as a
    * first-class operator.
    *
    * Protocol (the standard one): ground truth is exact kNN for a
    * SAMPLED query set only — `nQueries` rows — so the quadratic leg is
    * bounded by the sample while every index leg keeps its own scale
    * shape (cell pruning, LUT scans, bucket probes) unchanged; recall is
    * |approx ∩ truth| / |truth| per method. At 100 TB the truth set is
    * nQueries × k rows regardless of corpus size, so it broadcasts into
    * the union of the method outputs and the report needs one
    * O(methods)-row aggregation — no new corpus pass beyond the four
    * searches themselves.
    *
    * Counts are exact BIGINTs; the single recall division is the only
    * double, computed from the same integers on both engines.
    *
    * Oracle parity holds for the DEFAULT parameters only (the DuckDB
    * twin replays nQueries=10, k=5) — same contract as the other kNN
    * ops, whose oracles pin their registered defaults. Non-default
    * invocations are real but checked by spec, not by the gate.
    */
  def recallReport(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5
  ): DataFrame = {
    // truth and the four approximate searches are independent, and
    // several of them materialize eagerly during construction — build
    // all five concurrently (guide §2.6)
    val built = graft.util.Par.eval[DataFrame](
      () =>
        knnBruteForce(spark, dir, nQueries, k)
          .select(col("qid"), col("vec_id"), lit(1L).as("bhit")),
      () => knnIvf(spark, dir, nQueries, k),
      () => knnIvfPq(spark, dir, nQueries, k),
      () => knnLsh(spark, dir, nQueries, k),
      () => knnPq(spark, dir, nQueries, k)
    )
    val truth = built(0)
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> built(1),
      "ivfpq" -> built(2),
      "lsh" -> built(3),
      "pq" -> built(4)
    )
    val approx = methods
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("qid"), col("vec_id"))
      }
      .reduce(_.unionByName(_))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    approx
      .join(broadcast(truth), Seq("qid", "vec_id"), "left")
      .groupBy("method")
      .agg(
        // single countDistinct = two HashAggregate levels, zero Expand
        countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_retrieved"),
        count(col("bhit")).as("n_hits")
      )
      .crossJoin(broadcast(nTruth)) // single-row total
      .withColumn("recall", col("n_hits").cast("double") / col("n_truth"))
      .select("method", "n_queries", "n_retrieved", "n_hits", "n_truth", "recall")
      .orderBy("method")
  }

  /** K14 — the index-health row that turns k12 + k13 into an OPERATIONAL
    * decision: ONE row carrying recall@k of the trained-IVF search
    * against exact truth (k12's protocol — truth here is the probe-ALL
    * search, which equals brute force under the fixed-point ranking by
    * the completeness law), the worst cell's occupancy ppm and the worst
    * cell's mean cohesion (k13's two risk axes), and the composed
    * `retrain_recommended` flag (BIGINT 0/1): recall below
    * `minRecallPpm` OR a cell above `maxCellPpm`. This is the row a
    * deployment alerts on between rebuilds; the thresholds are the
    * knobs. Everything except the two ppm divisions is the k5/k13
    * machinery verbatim — same training run, exact BIGINT throughout —
    * so the whole decision, training included, hash-replays in DuckDB.
    *
    * Scale shape: the searches are bounded by nQueries × cells, the
    * stats rollup is k13's map-side-combined aggregation, and the final
    * row is three broadcast single-row frames joined — no new corpus
    * pass. Oracle parity holds for the default parameters (the DuckDB
    * twin replays them); the float persisted-index twin of this row is
    * [[indexHealthOf]], which the lifecycle spec drives through
    * degrade → fire → retrain → clear.
    */
  def ivfHealthReport(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10,
      k: Int = 5,
      kCentroids: Int = 16,
      iters: Int = 3,
      nprobe: Int = 2,
      maxCellPpm: Long = 250000L,
      minRecallPpm: Long = 600000L
  ): DataFrame = {
    val (codes, centroids) = trainedExact(spark, dir, kCentroids, iters)
    val assigned = assignCellsInt(codes, centroids).cache()
    val truth =
      searchCellsExact(assigned, codes, centroids, nQueries, k, kCentroids)
        .select(col("qid"), col("vec_id"), lit(1L).as("bhit"))
    val approx =
      searchCellsExact(assigned, codes, centroids, nQueries, k, nprobe)
    val cellsAgg = presentCellStats(
      spark,
      cellStatsRaw(codes, centroids),
      kCentroids,
      Some(centroids.map(_._1))
    ).agg(
      max("n_total").as("n_vectors"),
      max("occupancy_ppm").as("max_cell_ppm"),
      min("mean_cohesion").as("min_mean_cohesion")
    )
    val hits = approx
      .join(broadcast(truth), Seq("qid", "vec_id"), "left")
      .agg(
        count(lit(1)).as("n_retrieved"),
        count(col("bhit")).as("n_hits")
      )
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val out = hits
      .crossJoin(broadcast(nTruth)) // single-row
      .crossJoin(broadcast(cellsAgg)) // single-row
      .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_truth"))
      .withColumn(
        "retrain_recommended",
        (col("recall_ppm") < minRecallPpm ||
          col("max_cell_ppm") > maxCellPpm).cast("long")
      )
      .select(
        "n_vectors", "n_retrieved", "n_hits", "n_truth", "recall_ppm",
        "max_cell_ppm", "min_mean_cohesion", "retrain_recommended"
      )
    Eager.materialized(out, assigned) // codes cache stays with the memo
  }

  /** The float persisted-index twin of [[ivfHealthReport]]: the same
    * health row — recall@k vs probe-all truth, max cell ppm, min
    * per-cell mean cohesion, `retrain_recommended` — computed against a
    * STORED index ([[writeIvfIndex]] layout) as it stands, appends
    * included. The query set is the nQueries lowest vec_ids currently in
    * the index, so the report needs no external table: the index is
    * self-monitoring. Occupancy comes from one cid-keyed count (the
    * vectors scan reads nothing but the partition column and vec_id),
    * cohesion from one row-local cosine against the broadcast centroid
    * table; the searches are partition-pruned as always. No SQL oracle
    * (float k-means is not portably replayable — k5's rationale);
    * IndexStoreSpec's lifecycle test drives this row through
    * degrade → trigger fires → [[retrainIvfIndex]] → trigger clears.
    */
  def indexHealthOf(
      spark: SparkSession,
      indexDir: String,
      nQueries: Int = 10,
      k: Int = 5,
      nprobe: Int = 2,
      maxCellPpm: Long = 250000L,
      minRecallPpm: Long = 600000L
  ): DataFrame = {
    import spark.implicits._
    repairIvfIndex(indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val kCentroids = cents.count().toInt
    val vecs = spark.read
      .parquet(
        graft.util.DirSwap
          .resolve(indexDir, "vectors")
          .toString
      )
      .select("vec_id", "embedding", "cid")
      .cache()
    val qs = vecs
      .orderBy("vec_id")
      .limit(nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q"))
    val truth = knnIvfIndexedOf(spark, qs, indexDir, k, kCentroids)
      .select(col("qid"), col("vec_id"), lit(1L).as("bhit"))
    val approx = knnIvfIndexedOf(spark, qs, indexDir, k, nprobe)
    val perCell = vecs
      .join(broadcast(cents.select(col("cid"), col("c"))), Seq("cid"))
      .groupBy("cid")
      .agg(
        count(lit(1)).as("n_vectors"),
        avg(cosine(col("embedding"), col("c"))).as("mean_cohesion")
      )
    val cellsAgg = perCell
      .agg(
        coalesce(sum("n_vectors"), lit(0L)).as("n_vectors"),
        max("n_vectors").as("max_cell_n"),
        min("mean_cohesion").as("min_mean_cohesion")
      )
      .withColumn(
        "max_cell_ppm",
        when(col("n_vectors") > 0, expr("max_cell_n * 1000000 DIV n_vectors"))
          .otherwise(lit(0L))
      )
    val hits = approx
      .join(broadcast(truth), Seq("qid", "vec_id"), "left")
      .agg(count(lit(1)).as("n_retrieved"), count(col("bhit")).as("n_hits"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val out = hits
      .crossJoin(broadcast(nTruth))
      .crossJoin(broadcast(cellsAgg))
      .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_truth"))
      .withColumn(
        "retrain_recommended",
        (col("recall_ppm") < minRecallPpm ||
          col("max_cell_ppm") > maxCellPpm).cast("long")
      )
      .select(
        "n_vectors", "n_retrieved", "n_hits", "n_truth", "recall_ppm",
        "max_cell_ppm", "min_mean_cohesion", "retrain_recommended"
      )
    Eager.materialized(out, vecs)
  }

  /** Acts on a fired [[indexHealthOf]] trigger: re-trains the quantizer
    * over the index's CURRENT corpus (appends included — that drift is
    * exactly what the old centroids no longer represent) and writes the
    * result as a NEW index generation at `out`. The old index stays
    * intact and serving until the caller swaps readers over — the same
    * build-new/swap-pointer discipline as the replicator's generations;
    * an in-place overwrite would race its own input scan and leave a
    * window with no committed index. Cost is one training run over the
    * corpus (the k5 accounting) — which is why the trigger exists: at
    * 100 TB retraining is the expensive, occasional path and appends are
    * the cheap, continuous one.
    */
  def retrainIvfIndex(
      spark: SparkSession,
      indexDir: String,
      out: String,
      kCentroids: Int = 16,
      iters: Int = 3
  ): Unit = {
    repairIvfIndex(indexDir)
    writeIvfIndexOf(
      spark,
      spark.read
        .parquet(
          graft.util.DirSwap
            .resolve(indexDir, "vectors")
            .toString
        )
        .select("vec_id", "embedding"),
      out,
      kCentroids,
      iters
    )
  }
}
