package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PolyHash

/** The stored hybrid search as ONE keyed pass per query set — BM25,
  * ordered proximity and exact IVF cosine over the persisted stores,
  * fused by RRF, row-identical to composing the public legs
  * ([[Retrieval.bm25TopKIndexedOf]], [[Retrieval.proximityTopKIndexedOf]],
  * [[Similarity.knnIvfIndexedExactOf]], [[Retrieval.rrfFuse]]).
  *
  *   1. Query side, two driver collects: the queries' distinct terms and
  *      phrase slots (the [[Retrieval.postings]] / [[Retrieval.phrasesOf]]
  *      expressions, so no second tokenizer exists), their int8 codes,
  *      and the stores' `params`, `stats` and `centroids` rows; then the
  *      df rows of those terms, summed over the layers into each term's
  *      [[Retrieval.idfPpm]]. The driver also derives the probed term
  *      buckets, each query's probed cells and the global phrase length
  *      `maxJ`.
  *   2. One pass: postings and positions scanned with their bucket
  *      predicate, the vectors with their cell predicate; each row meets
  *      its queries through a hash-map UDF (a broadcast of a local frame
  *      would cost one job each), the row-local arithmetic (the BM25 term
  *      weight [[Retrieval.Bm25TermPpm]], the cosine key) is done at the
  *      scan, the term weights are summed per (query, doc) with a
  *      map-side combine, and the tagged union is grouped once on `qid`.
  *   3. One Scala fold per query: each leg ranked with the composition's
  *      tie-breaks, fused by [[Retrieval.rrfPpm]].
  *
  * The result is lazy; its plan holds the partition-pruned scans.
  */
private[graft] object StoredHybrid {

  /** [[Retrieval.rrfFuse]]'s output layout. */
  val OutSchema: StructType = StructType(
    Seq(
      StructField("qid", LongType),
      StructField("doc_id", LongType),
      StructField("rank", LongType, nullable = false),
      StructField("rrf_ppm", LongType),
      StructField("n_legs", LongType, nullable = false)
    )
  )

  // query-side tags and layout (one collect)
  private final val Term = 0
  private final val Slot = 1
  private final val Code = 2
  private final val Params = 3
  private final val Stats = 4
  private final val Centroid = 5

  private val querySide: Seq[(String, DataType)] = Seq(
    "tag" -> IntegerType,
    "qid" -> LongType,
    "j" -> LongType,
    "w" -> StringType,
    "h" -> LongType, // the term's portable hash; wb = h mod buckets
    "a" -> ArrayType(LongType), // query codes; centroid vector
    "n" -> LongType, // buckets; n_docs; cid
    "m" -> LongType // total_tokens
  )

  // pass-side tags and layout
  private final val Post = 0 // id = doc_id, x / y = BM25 over the query / phrase terms (null: none)
  private final val Pos = 1 // id = doc_id, x = slot j, y = pos
  private final val Vec = 2 // id = vec_id, y = cosine key (nullable)

  private final val BmTerm = 1 // flag: a BM25 query term
  private final val PhraseTerm = 2 // flag: a phrase term

  private val passSide: Seq[(String, DataType)] = Seq(
    "src" -> IntegerType,
    "qid" -> LongType,
    "id" -> LongType,
    "x" -> LongType,
    "y" -> LongType
  )

  private def tag(layout: Seq[(String, DataType)], df: DataFrame, filled: (String, Column)*): DataFrame = {
    val g = filled.toMap
    df.select(layout.map { case (n, t) => g.getOrElse(n, lit(null)).cast(t).as(n) }: _*)
  }

  /** The search over `queryText` (doc_id = qid, text) and `queryCodes`
    * (qid, q8) against the text and vector stores. `excludeSelf` drops a
    * query's own doc_id from every leg (the corpus query protocol).
    */
  def search(
      spark: SparkSession,
      queryText: DataFrame,
      queryCodes: DataFrame,
      textIndexDir: String,
      vecIndexDir: String,
      poolK: Int,
      k: Int,
      rrfK: Int,
      phraseLen: Int,
      window: Int,
      nprobe: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    Retrieval.repairInvertedIndex(textIndexDir)
    Similarity.repairIvfIndex(vecIndexDir)
    def read(schema: StructType, dir: String) = spark.read.schema(schema).parquet(dir)
    val textLive = Retrieval.liveDir(textIndexDir, _: String)

    // ---- 1. the query side, one job (and the terms' df below, one more)
    val collected = Seq(
      tag(querySide, Retrieval.postings(queryText),
        "tag" -> lit(Term), "qid" -> col("doc_id"), "w" -> col("w"),
        "h" -> PolyHash.polyHash(col("w"))),
      tag(querySide, Retrieval.phrasesOf(queryText, phraseLen),
        "tag" -> lit(Slot), "qid" -> col("qid"), "j" -> col("j"), "w" -> col("w"),
        "h" -> PolyHash.polyHash(col("w"))),
      tag(querySide, queryCodes, "tag" -> lit(Code), "qid" -> col("qid"), "a" -> col("q8")),
      tag(querySide, read(Retrieval.Layout.params, s"$textIndexDir/params"),
        "tag" -> lit(Params), "n" -> col("buckets")),
      tag(querySide, read(Retrieval.Layout.stats, textLive("stats")),
        "tag" -> lit(Stats), "n" -> col("n_docs"), "m" -> col("total_tokens")),
      tag(querySide, read(Similarity.Layout.centroids, s"$vecIndexDir/centroids"),
        "tag" -> lit(Centroid), "n" -> col("cid"), "a" -> col("c"))
    ).reduce(_.unionByName(_)).collect().groupBy(_.getInt(0)).withDefaultValue(Array.empty[Row])

    val buckets = collected(Params).headOption
      .getOrElse(throw new NoSuchElementException(s"$textIndexDir/params holds no row"))
      .getLong(6)
    // the summed stats row (the composition's agg over the layers)
    def statSum(i: Int): Long = collected(Stats).iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).sum
    val (nDocs, totalTokens) = (statSum(6), statSum(7))
    val centroids = collected(Centroid).toSeq
      .map(r => r.getLong(6).toInt -> r.getSeq[Long](5))
      .sortBy(_._1)
    def wb(r: Row): Long = java.lang.Math.floorMod(r.getLong(4), buckets)
    val terms = collected(Term).toSeq
    val slots = collected(Slot).toSeq
    val maxJ = slots.map(_.getLong(2)).maxOption.getOrElse(0L).toInt

    // w -> (qid, flags): the queries a posting row belongs to
    val termQids: Map[String, Seq[(Long, Int)]] =
      (terms.map(r => (r.getString(3), r.getLong(1), BmTerm)) ++
        slots.map(r => (r.getString(3), r.getLong(1), PhraseTerm)))
        .groupBy(_._1)
        .map { case (w, qs) =>
          w -> qs.groupMapReduce(_._2)(_._3)(_ | _).toSeq.sorted
        }
    // w -> (qid, j): a phrase term's slots
    val slotQids: Map[String, Seq[(Long, Long)]] =
      slots.groupBy(_.getString(3)).map { case (w, rs) => w -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted }
    // cid -> the code rows probing it (indexes into `codes`)
    val codes: Array[(Long, Seq[java.lang.Long])] =
      collected(Code).map(r => (r.getLong(1), r.getSeq[java.lang.Long](5)))
    val probe = Similarity.topCells(centroids, nprobe)
    val cellQids: Map[Int, Seq[Int]] =
      codes.indices
        .flatMap(i => probe(codes(i)._2).map(cid => (cid.toInt, i)))
        .groupBy(_._1)
        .map { case (cid, is) => cid -> is.map(_._2).sortBy(codes(_)._1) }
    val termWb = (terms ++ slots).map(wb).distinct
    val slotWb = slots.map(wb).distinct

    // ---- the df layers of those terms, summed: a term without a df row
    // matches nothing (the composition's inner join on the merged df)
    val idf: Map[String, java.lang.Long] =
      if (termQids.isEmpty) Map.empty
      else
        read(Retrieval.Layout.df, textLive("df"))
          .where(col("wb").isin(termWb: _*) && col("w").isin(termQids.keys.toSeq: _*))
          .select("w", "df")
          .collect()
          .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
          .map { case (w, d) => w -> java.lang.Long.valueOf(Retrieval.idfPpm(nDocs, d)) }

    // ---- 2. the pass. Rows meet their queries through UDFs over the
    // hash maps above: O(1) per row whatever the batch size, and no job.
    val termRows = udf((w: String) => termQids.getOrElse(w, Nil))
    val idfOf = udf((w: String) => idf.getOrElse(w, null))
    val slotRows = udf((w: String) => slotQids.getOrElse(w, Nil))
    val cellRows = udf((cid: Int) => cellQids.getOrElse(cid, Nil))
    val qidOf = udf((i: Int) => codes(i)._1)
    val cosKeyOf = udf((i: Int, v: Seq[java.lang.Long]) => Similarity.cosKey(codes(i)._2, v))
    def self(df: DataFrame, id: String) =
      if (excludeSelf) df.filter(col(id) =!= col("qid")) else df
    def flagged(flag: Int) = sum(when((col("flags") bitwiseAND flag) =!= 0, col("tw")))
    val sources = Seq(
      Option.when(idf.nonEmpty) {
        val posts = read(Retrieval.Layout.postings, textLive("postings"))
          .where(col("wb").isin(termWb: _*) && col("w").isin(idf.keys.toSeq: _*))
          .select(col("doc_id"), col("tf"), col("dl"), idfOf(col("w")).as("idf_ppm"),
            lit(nDocs).as("n_docs"), lit(totalTokens).as("total_tokens"),
            explode(termRows(col("w"))).as("q"))
          .select(col("doc_id"), col("q._1").as("qid"), col("q._2").as("flags"),
            expr(Retrieval.Bm25TermPpm).as("tw"))
        // per (query, doc): combined map-side, so a term's postings do
        // not travel once per query holding it
        tag(passSide, self(posts, "doc_id").groupBy("qid", "doc_id")
            .agg(flagged(BmTerm).as("bm"), flagged(PhraseTerm).as("ph")),
          "src" -> lit(Post), "qid" -> col("qid"), "id" -> col("doc_id"),
          "x" -> col("bm"), "y" -> col("ph"))
      },
      Option.when(slotQids.nonEmpty) {
        val hits = read(Retrieval.Layout.positions, textLive("positions"))
          .where(col("wb").isin(slotWb: _*) && col("w").isin(slotQids.keys.toSeq: _*))
          .select(col("doc_id"), col("pos"), explode(slotRows(col("w"))).as("s"))
          .select(col("doc_id"), col("pos"), col("s._1").as("qid"), col("s._2").as("j"))
        tag(passSide, self(hits, "doc_id"),
          "src" -> lit(Pos), "qid" -> col("qid"), "id" -> col("doc_id"),
          "x" -> col("j"), "y" -> col("pos"))
      },
      Option.when(cellQids.nonEmpty) {
        val cand = read(Similarity.Layout.vectors,
          graft.util.DirSwap.resolve(vecIndexDir, "vectors"))
          .where(col("cid").isin(cellQids.keys.toSeq: _*))
          .select(col("vec_id"), col("q8"), explode(cellRows(col("cid"))).as("i"))
          .select(col("vec_id"), col("q8"), col("i"), qidOf(col("i")).as("qid"))
        tag(passSide, self(cand, "vec_id"),
          "src" -> lit(Vec), "qid" -> col("qid"), "id" -> col("vec_id"),
          "y" -> cosKeyOf(col("i"), col("q8")))
      }
    ).flatten
    if (sources.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), OutSchema)

    // ---- 3. one fold per query, then the (qid, rank) order of the
    // k-rows-per-query answer
    sources
      .reduce(_.unionByName(_))
      .groupByKey((r: Row) => r.getLong(1))(Encoders.scalaLong)
      .flatMapGroups((qid: Long, rows: Iterator[Row]) =>
        fold(qid, rows, maxJ, poolK, k, rrfK, window)
      )(Encoders.row(OutSchema))
      .repartition(1)
      .sortWithinPartitions("qid", "rank")
  }

  /** One query's three legs and their fusion. */
  private def fold(
      qid: Long,
      rows: Iterator[Row],
      maxJ: Int,
      poolK: Int,
      k: Int,
      rrfK: Int,
      window: Int
  ): Seq[Row] = {
    val posts = scala.collection.mutable.ArrayBuffer.empty[Row]
    val hits = scala.collection.mutable.ArrayBuffer.empty[Row]
    val cands = scala.collection.mutable.ArrayBuffer.empty[Row]
    rows.foreach { r =>
      r.getInt(0) match {
        case Post => posts += r
        case Pos  => hits += r
        case Vec  => cands += r
      }
    }
    // a doc's BM25 over the query (x) or phrase (y) terms it holds
    def bm25(i: Int): Map[Long, Long] =
      posts.iterator.filterNot(_.isNullAt(i)).map(r => r.getLong(2) -> r.getLong(i)).toMap
    // score desc, ties to the lower id
    def top(scores: Iterable[(Long, Long)]): Seq[Long] =
      scores.toSeq
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(poolK)
        .map(_._1)

    val lexical = top(bm25(3))
    val phraseScores = bm25(4)
    val proximity = top(
      hits
        .groupBy(_.getLong(2))
        .collect {
          case (id, hs) if phraseScores.contains(id) &&
                Retrieval.orderedTuples(maxJ, window, hs.map(_.getLong(3)).toSeq, hs.map(_.getLong(4)).toSeq) > 0 =>
            id -> phraseScores(id)
        }
    )
    // cosine key desc with null keys last, ties to the lower vec_id
    val dense = cands.toSeq
      .sortWith { (a, b) =>
        (a.isNullAt(4), b.isNullAt(4)) match {
          case (false, false) =>
            a.getLong(4) > b.getLong(4) || (a.getLong(4) == b.getLong(4) && a.getLong(2) < b.getLong(2))
          case (false, true) => true
          case (true, false) => false
          case (true, true)  => a.getLong(2) < b.getLong(2)
        }
      }
      .take(poolK)
      .map(_.getLong(2))

    Seq(lexical, dense, proximity)
      .flatMap(_.zipWithIndex.map { case (id, i) => id -> Retrieval.rrfPpm(rrfK, i + 1L) })
      .groupMapReduce(_._1)(c => (c._2, 1L))((a, b) => (a._1 + b._1, a._2 + b._2))
      .toSeq
      .sortWith((a, b) => a._2._1 > b._2._1 || (a._2._1 == b._2._1 && a._1 < b._1))
      .take(k)
      .zipWithIndex
      .map { case ((id, (ppm, legs)), i) => Row(qid, id, i + 1L, ppm, legs) }
  }
}
