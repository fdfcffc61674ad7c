package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Keyword (sparse) retrieval over the documents table — the lexical
  * complement of the ANN plane: where k1–k14 search by embedding
  * geometry, p33 searches by exact term overlap through an INVERTED
  * INDEX, the way a BM25/tf-idf system does. Everything integer, so the
  * whole ranking — index build included — hash-replays in DuckDB.
  */
object Retrieval {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")

  /** One (term, tf) row per distinct term of a token array, counted
    * ROW-LOCALLY in first-occurrence order. A document's tokens all live
    * in its own row, so its per-term counts never need a shuffle — the
    * groupBy(doc_id, w) form this replaces paid a full exchange (plus
    * the partial-aggregation pass) to merge groups that were already
    * complete within one row (guide §2.4: remove shuffles outright).
    * Every tf derivation (build, append, every inline query) drops that
    * exchange; the values are identical counts, so every oracle carries.
    *
    * Precondition (was implicit in every caller already): ONE row per
    * doc_id. The corpus tables and every split/seed derivation satisfy
    * it by construction, and the append contract ("doc_ids must be
    * new") forbids re-ingested ids outright. A caller that DID pass two
    * rows for one doc_id previously got their token multisets merged by
    * the groupBy; now it would get two posting rows (and df would count
    * the doc twice) — same class of corruption the append contract
    * already names, now uniform across build and append.
    */
  private def termCounts(ws: Seq[String]): Seq[(String, Long)] =
    if (ws == null) Seq.empty
    else {
      val m = new java.util.LinkedHashMap[String, Long]
      ws.foreach(w => m.put(w, m.getOrDefault(w, 0L) + 1L))
      val out = new scala.collection.mutable.ArrayBuffer[(String, Long)](m.size)
      m.forEach((w, n) => out += ((w, n)))
      out.toSeq
    }

  /** [[termCounts]] as a column: an array of (w = `_1`, tf = `_2`)
    * structs. Tuples, not a case class: a case-class return made
    * whole-stage codegen fail to compile and fall back per plan.
    */
  private val termCountsUdf = udf(termCounts _)

  /** The posting table (doc_id, w, tf): word tokens at the corpus's
    * standard whitespace grain (the d10/d12/p31 tokenization — shared so
    * the retrieval vocabulary can't drift from the dedup/trainer
    * planes).
    */
  private[graft] def postings(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      explode(termCountsUdf(expr("filter(split(text, ' '), x -> x != '')")))
        .as("p")
    ).select(col("doc_id"), col("p._1").as("w"), col("p._2").as("tf"))

  /** P33 — tf-idf top-k retrieval through the inverted index: the
    * `nQueries` lowest doc_ids play the query set (their distinct terms
    * are the query), every other document is ranked by
    * Σ tf(t,d) · idf_ppm(t) over the shared terms, where idf_ppm =
    * (N·10⁶) DIV df — an exact-integer monotone surrogate of idf (the
    * p26 log-ratio trick; no floating log crosses an engine boundary).
    *
    * Scale shape (the reason this is an operator and not a crossJoin):
    * the posting table is TERM-KEYED — a 100 TB corpus's inverted index —
    * and the query terms with their idf weights are a broadcast-sized
    * frame (nQueries × terms), so candidate generation is one broadcast
    * hash join that touches only the probed terms' posting lists, never
    * the corpus. One (qid, doc_id)-grain aggregation scores the
    * candidates (map-side combined), one keyed window takes top-k
    * (WindowGroupLimit). df/N are corpus statistics a deployment
    * maintains incrementally with the index; here they're one
    * term-grain map-side-combined aggregation.
    */
  def keywordTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val tf = postings(docs(spark, dir)).cache()
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    // query terms: DISTINCT words of the query docs, weighted by idf —
    // df joins the (tiny) query-term set, not the other way around, so
    // the vocabulary-sized df table never broadcasts
    val qt = tf
      .filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("w"))
      .join(df, Seq("w"))
      .crossJoin(broadcast(nDocs)) // single-row total
      .select(
        col("qid"),
        col("w"),
        expr("n_docs * 1000000 DIV df").as("idf_ppm")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val out = tf
      .join(broadcast(qt), Seq("w"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("tf") * col("idf_ppm")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
    Eager.materialized(out, tf)
  }

  /** P36 — hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
    * SIGIR 2009) of the lexical leg (p33's tf-idf through the inverted
    * index) with the dense leg (k2's IVF-bucket cosine search) — the
    * standard two-tower RAG retrieval composition, where each modality
    * surfaces candidates the other is blind to (exact term overlap vs
    * embedding geometry). Each leg contributes its top-`poolK` ranks;
    * a candidate's fused score is Σ_legs 10⁶ DIV (rrfK + rank) — RRF
    * with the conventional dampening constant 60, in exact-integer ppm
    * so the fusion replays bit-for-bit in DuckDB (only RANKS cross the
    * fusion boundary, never floating scores, which is also why RRF
    * needs no per-leg score normalization). A doc absent from a leg's
    * pool contributes nothing for that leg, exactly as RRF defines it.
    * `n_legs` reports how many modalities surfaced each result.
    *
    * Scale shape: both candidate-generation legs are already sub-linear
    * (p33: one broadcast hash join touching only the probed terms'
    * posting lists; k2: scan pruned to the query's IVF cell), and the
    * fusion itself operates on O(nQueries × poolK × 2) rows — LEG-OUTPUT
    * sized, independent of corpus size, so the union + groupBy + window
    * here is a driver-trivial final reduce at any scale. The testdata's
    * vec_id ↔ doc_id identity is the deployment's shared document key.
    */
  def hybridTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60
  ): DataFrame = {
    // the legs are independent and their CONSTRUCTION already computes
    // (keywordTopK materializes its ranking eagerly) — build them
    // concurrently (guide §2.6) and fuse the results
    val legs = graft.util.Par.eval[DataFrame](
      () =>
        keywordTopK(spark, dir, nQueries, poolK)
          .select(col("qid"), col("doc_id"), col("rank")),
      () =>
        Similarity
          .knnIvf(spark, dir, nQueries, poolK)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    )
    rrfFuse(legs, rrfK, k)
  }

  // ---------------------------------------------------------------------
  // Persisted inverted index — the build-once/query-many lifecycle of the
  // lexical plane, mirroring the ANN plane's writeIvfIndex/appendToIvfIndex
  // /knnIvfIndexed trio. Layout under `$out/`:
  //
  //   postings/wb=*/   (doc_id, w, tf, dl)  — the term-keyed posting lists,
  //                    PARTITIONED by wb = portable-hash(w) mod `buckets`:
  //                    a query's probed terms resolve their buckets
  //                    row-locally, so the posting scan is FILE-LEVEL
  //                    partition-pruned to the probed terms' buckets (the
  //                    cid trick of the IVF store, applied to terms). dl
  //                    (the document's token count) is denormalized into
  //                    every posting row — the Lucene-norms layout — so
  //                    BM25's length normalization needs NO doc-table join
  //                    at query time.
  //   df/wb=*/         (w, df) APPEND-ONLY delta layers — document
  //                    frequency is additive over disjoint doc batches, so
  //                    appends write a delta layer and readers merge with
  //                    one groupBy(w).sum (the k13 mergeable-raw-layers
  //                    argument, verbatim). Same wb partitioning: a query
  //                    reads only its probed buckets' df rows.
  //   stats/           (n_docs, total_tokens) single-row delta layers,
  //                    summed on read — N and avgdl stay exact across any
  //                    append sequence.
  //   Every directory is additionally LAYER-keyed (layer=0 the base owned
  //   by build/compaction, layer>0 one per ingest, written via dynamic
  //   partition overwrite): replaying an ingest under its own layer
  //   REPLACES it instead of stacking a copy — count-based appends stay
  //   exact under streaming redelivery (see appendToInvertedIndex).
  //   params/          (buckets) — self-describing, like the dedup index's
  //                    stored banding: readers never guess the layout.
  // ---------------------------------------------------------------------

  /** Term-hash partition count of the posting store. 16 keeps test
    * directories small; a 100 TB index raises it (the wb values are
    * portable-hash-derived, so any count works) — it is stored in
    * `params/` and every reader honors the stored value.
    */
  val IndexBuckets = 16

  /** The members' layouts as the writers below fix them (partition
    * columns last): a read that declares its schema pays no
    * schema-inference job.
    */
  private[graft] object Layout {
    import org.apache.spark.sql.types.StructType
    val documents = StructType.fromDDL("doc_id BIGINT, text STRING")
    val params = StructType.fromDDL("buckets INT")
    val stats = StructType.fromDDL("n_docs BIGINT, total_tokens BIGINT, layer BIGINT")
    val postings = StructType.fromDDL(
      "doc_id BIGINT, w STRING, tf BIGINT, dl BIGINT, wb BIGINT, layer BIGINT")
    val df = StructType.fromDDL("w STRING, df BIGINT, wb BIGINT, layer BIGINT")
    val positions = StructType.fromDDL(
      "doc_id BIGINT, w STRING, pos BIGINT, wb BIGINT, layer BIGINT")
  }

  private def wbOf(w: Column, buckets: Int): Column =
    pmod(PolyHash.polyHash(w), lit(buckets.toLong))

  private[graft] def liveDir(indexDir: String, sub: String): String =
    graft.util.DirSwap
      .resolve(indexDir, sub)
      .toString

  /** Token positions at the corpus's standard whitespace grain —
    * (doc_id, w, pos), pos 1-based over the empty-filtered token
    * sequence (the p32b enumeration). One row-local posexplode; the
    * positional-postings payload of the stored index.
    */
  private[graft] def positionalPostings(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      posexplode(expr("filter(split(text, ' '), x -> x != '')"))
        .as(Seq("pos0", "w"))
    ).select(
      col("doc_id"),
      col("w"),
      (col("pos0") + 1L).cast("long").as("pos")
    )

  /** Posting rows with the denormalized document length: one row-local
    * pass (dl = size of the token array, postings from its explode) — no
    * join at ingest, no join at query.
    */
  private[graft] def postingsWithLen(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      expr("filter(split(text, ' '), x -> x != '')").as("ws")
    ).select(
        col("doc_id"),
        size(col("ws")).cast("long").as("dl"),
        explode(termCountsUdf(col("ws"))).as("p")
      )
      .select(
        col("doc_id"),
        col("dl"),
        col("p._1").as("w"),
        col("p._2").as("tf")
      )

  /** Builds the persisted inverted index over `corpus` (doc_id, text).
    *
    * `withPositions` additionally stores POSITIONAL postings
    * (`positions/wb=*`: doc_id, w, pos — same wb bucketing and layering),
    * the payload phrase queries ([[phraseTopKIndexed]]) adjacency-join
    * on. Opt-in: positions are token-grain (≈ total_tokens rows vs the
    * distinct-term grain of `postings`), so frequency-only consumers
    * skip the cost — the Lucene omit-positions trade.
    */
  def writeInvertedIndexOf(
      spark: SparkSession,
      corpus: DataFrame,
      out: String,
      buckets: Int = IndexBuckets,
      withPositions: Boolean = false,
      withFields: Boolean = false, // store the document TEXT beside the
      //   postings (`fields/db=*`: doc_id, text, bucketed by doc_id) —
      //   the Lucene stored-field: snippet serving needs the original
      //   text, and a self-contained index serves it with a
      //   bucket-pruned keyed fetch instead of a side lookup table
      withDict: Boolean = true // the SORTED term dictionary backing
      //   prefix/wildcard/fuzzy/phrase-prefix expansion. Default ON (the
      //   dictionary is term-grain and derives from the cached df
      //   aggregate — one tiny extra shuffle per build/append), but a
      //   frequency-only deployment that never serves dictionary queries
      //   opts out and skips the member on EVERY build and append — the
      //   positions/fields opt-in symmetry (round-15 verdict). Appends
      //   and compaction already handle the absent member (the pre-dict
      //   store shape); dictionary queries on a dict-less store fail
      //   loudly, never wrongly
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    out
  ) {
    // a REBUILD into an existing store supersedes everything the old
    // store held — retract each member ENTIRELY (pointer, generations,
    // plain dir) rather than only the pointer, which would leave
    // superseded full-size generations on disk until a later compaction's
    // sweep, and would leave a frequency-only rebuild's old positional
    // payload for appendToInvertedIndex to extend. The drop+rewrite runs
    // under the store's maintainer claim (reentrancy makes this free when
    // composed under an existing claim), so a rebuild racing a fenced
    // compaction is serialized instead of deleting generations mid-swap —
    // "offline by contract" is now enforced, not just documented.
    SwappedDirs.foreach(n =>
      graft.util.DirSwap.drop(out, n))
    // Debug-only loud guard for the termCounts one-row-per-doc
    // precondition (round-16 ADVICE): a contract-violating caller now
    // fails the build instead of silently double-counting postings/df.
    // One extra aggregation over the corpus — behind the flag so the
    // production build path pays nothing.
    if (sys.env.contains("GRAFT_DEBUG_ASSERT")) {
      val dup = corpus
        .groupBy("doc_id")
        .count()
        .filter(col("count") > 1L)
        .limit(1)
        .collect()
      require(
        dup.isEmpty,
        s"writeInvertedIndexOf: doc_id ${dup.headOption.map(_.get(0))} has " +
          "multiple corpus rows — termCounts requires one row per doc_id"
      )
    }
    // repartition by wb BEFORE the partitioned write: one file per bucket
    // per ingest instead of (shuffle partitions × buckets) fragments — the
    // write-once/read-many trade (one extra ingest shuffle buys compact
    // partitions for every query)
    val tf = postingsWithLen(corpus)
      .withColumn("wb", wbOf(col("w"), buckets))
      .repartition(buckets, col("wb"))
      .cache()
    val dfFrame = tf
      .groupBy("wb", "w")
      .agg(count(lit(1)).as("df"))
      .cache() // term grain — feeds df AND dict without re-shuffling tf
    // Member writes run CONCURRENTLY (guide §2.6 — independent jobs
    // submitted from driver threads back-fill each other's task tails):
    // the df→dict/dictgrams chain shares the dfFrame cache, while
    // postings, stats, positions and fields have no dependency on it —
    // the build's wall is the longest CHAIN, not the sum of every
    // member's job. The tf cache fill (one action, so racing two first
    // actions into a cold cache can't compute partitions twice) gates
    // ONLY its own consumers — postings and the df chain — inside their
    // shared branch; stats/positions/fields never read tf, so they start
    // immediately instead of idling behind the fill (round-17: the fill
    // was a serial prefix of the whole fan-out). Output directories are
    // disjoint, and the maintainer claim is held by this thread for the
    // whole block (member writes themselves never claim), so the fencing
    // story is unchanged.
    graft.util.Par.runOpt(
      Some { () =>
        tf.count(): Unit // fill once, then fan out the tf consumers
        graft.util.Par.run(
          () =>
            // layer 0 is the base (build/compaction) layer; appends write
            // layer>0 partitions, so the store is LAYER-KEYED from birth
            // (uniform directory depth — partition discovery rejects
            // mixed layouts)
            tf.select("wb", "doc_id", "w", "tf", "dl")
              .withColumn("layer", lit(0L))
              .write
              .mode("overwrite")
              .partitionBy("wb", "layer")
              .parquet(s"$out/postings"),
          () => {
            dfFrame
              .withColumn("layer", lit(0L))
              .write
              .mode("overwrite")
              .partitionBy("wb", "layer")
              .parquet(s"$out/df")
        // the SORTED term dictionary (`dict`): the same (w, df) facts as
        // `df`, organized for PREFIX pruning instead of hash-bucket
        // probing — range-partitioned and sorted on the term, so each
        // file covers a disjoint lexicographic range and a prefix query's
        // `w >= p AND w < succ(p)` pushdown skips every non-overlapping
        // file on parquet min/max stats (the Lucene sorted term
        // dictionary, Spark-first: no partition-value explosion under
        // unicode alphabets, no driver-side bucket math). Derived from
        // the CACHED df aggregate — term grain, so the extra member costs
        // one tiny shuffle, never a second pass over the doc×term
        // postings. dict and dictgrams both read the dfFrame cache the
        // df write just filled, and write disjoint members — concurrent.
        if (withDict) graft.util.Par.run(
          () =>
            dfFrame
              .groupBy("w")
              .agg(sum("df").as("df"))
              .repartitionByRange(buckets, col("w"))
              .sortWithinPartitions("w")
              .withColumn("layer", lit(0L))
              .write
              .mode("overwrite")
              .partitionBy("layer")
              .parquet(s"$out/dict"),
          // the dictionary's char-n-gram index (`dictgrams`): fuzzy
          // candidate generation by gram-count filtering reads ONLY the
          // query grams' gb buckets instead of the whole dictionary
          // (round-15 verdict: the one vocab-linear read path, made
          // band-tracking) — the scan-free analogue of Lucene's
          // Levenshtein-automaton FST walk. Term-grain like dict itself,
          // so the member is tiny beside postings; derived from the same
          // cached df aggregate.
          () =>
            dictGramsOf(dfFrame.select("w").distinct(), buckets)
              .repartition(buckets, col("gb"))
              // sorted by gram within each bucket file: the query pushes
              // its gram IN-list and the parquet reader's min/max stats
              // skip every non-overlapping row group — the dict member's
              // organization applied at the gram grain
              .sortWithinPartitions("gram")
              .withColumn("layer", lit(0L))
              .write
              .mode("overwrite")
              .partitionBy("gb", "layer")
              .parquet(s"$out/dictgrams")
        )
          }
        )
      },
      Some { () =>
        corpus
          .select(col("doc_id"), expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
          .withColumn("layer", lit(0L))
          .write
          .mode("overwrite")
          .partitionBy("layer")
          .parquet(s"$out/stats")
        spark
          .range(1)
          .select(lit(buckets).as("buckets"))
          .write
          .mode("overwrite")
          .parquet(s"$out/params")
      },
      if (withPositions) Some { () =>
        positionalPostings(corpus)
          .withColumn("wb", wbOf(col("w"), buckets))
          .repartition(buckets, col("wb"))
          .withColumn("layer", lit(0L))
          .write
          .mode("overwrite")
          .partitionBy("wb", "layer")
          .parquet(s"$out/positions")
      }
      else None,
      if (withFields) Some { () =>
        corpus
          .select(col("doc_id"), col("text"))
          .withColumn("db", pmod(col("doc_id"), lit(buckets.toLong)))
          .repartition(buckets, col("db"))
          .withColumn("layer", lit(0L))
          .write
          .mode("overwrite")
          .partitionBy("db", "layer")
          .parquet(s"$out/fields")
      }
      else None
    )
    dfFrame.unpersist(false)
    tf.unpersist(false)
  }

  /** [[writeInvertedIndexOf]] over the documents table. */
  def writeInvertedIndex(spark: SparkSession, dir: String, out: String): Unit =
    writeInvertedIndexOf(spark, docs(spark, dir), out)

  /** Incremental index maintenance: appends `newDocs`' posting lists into
    * their wb partitions, a df DELTA layer (merged by sum on read), and a
    * stats delta row. Existing layers are never read or rewritten — an
    * append costs O(batch), the d9/k10 ingest shape. Caller contract:
    * doc_ids must be new (a re-ingested id would double-count df and rank
    * twice — upstream dedup is d1/d9's job).
    *
    * Each ingest lands under its own `layer` partition via DYNAMIC
    * partition overwrite — replaying the SAME (batch, layer) REPLACES the
    * layer's partitions instead of stacking a second copy, which is what
    * makes count-based appends (df, stats — unlike the span index's
    * idempotent presence sets) safe under streaming T1 redelivery: the
    * streaming ingest keys the layer on the micro-batch id, so a
    * redelivered batch rewrites its own layer and never double-counts.
    * This is the transactional-table-format idea (a layer ≈ a snapshot
    * id) expressed in plain partitioned parquet. Layers must be unique
    * across DISTINCT ingests (the default is fresh per call) and > 0 —
    * layer 0 is the base layer owned by build/compaction, and an append
    * overwriting base partitions would drop folded history.
    */
  def appendToInvertedIndex(
      spark: SparkSession,
      newDocs: DataFrame,
      indexDir: String,
      layer: Long = System.nanoTime()
  ): Unit = {
    require(layer > 0L, "append layers must be > 0; layer 0 is the base")
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String =
      graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val tf = postingsWithLen(newDocs)
      .withColumn("wb", wbOf(col("w"), buckets))
      .repartition(buckets, col("wb")) // one new file per touched bucket
      .cache()
    val dfFrame = tf
      .groupBy("wb", "w")
      .agg(count(lit(1)).as("df"))
      .cache() // term grain — feeds df AND dict without re-shuffling tf
    // member writes overlap exactly as in the build (guide §2.6): the
    // postings→df→dict chain owns the tf/dfFrame caches; stats/positions/
    // fields are independent batch passes. All target directories are
    // resolved (and member existence probed) BEFORE the threads start —
    // the live() pointers must be read once, not raced.
    val dictDir =
      Option(live("dict")).filter(graft.util.Blob.exists)
    val gramsDir =
      Option(live("dictgrams")).filter(graft.util.Blob.exists)
    val positionsDir =
      Option(live("positions")).filter(graft.util.Blob.exists)
    val fieldsDir =
      Option(live("fields")).filter(graft.util.Blob.exists)
    val postingsDir = live("postings")
    val dfDir = live("df")
    val statsDir = live("stats")
    graft.util.Par.runOpt(
      Some { () =>
        // the tf fill gates only its consumers (see the build's note)
        tf.count(): Unit
        graft.util.Par.run(
          () =>
            tf.select("wb", "doc_id", "w", "tf", "dl")
              .withColumn("layer", lit(layer))
              .write
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite")
              .partitionBy("wb", "layer")
              .parquet(postingsDir),
          () => {
            dfFrame
              .withColumn("layer", lit(layer))
              .write
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite")
              .partitionBy("wb", "layer")
              .parquet(dfDir)
        // pre-dict stores (older layouts) lack the sorted dictionary; an
        // append must not create a PARTIAL one (a delta-only dict would
        // silently under-expand prefix queries) — the build's choice is
        // the store's shape, like positions/fields
        graft.util.Par.runOpt(
          dictDir.map(dir =>
            () =>
              dfFrame
                .groupBy("w")
                .agg(sum("df").as("df"))
                .repartitionByRange(math.max(buckets / 4, 1), col("w"))
                .sortWithinPartitions("w")
                .withColumn("layer", lit(layer))
                .write
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .partitionBy("layer")
                .parquet(dir)),
          // gram rows are per-term FACTS (functions of the term string
          // alone), so appending the batch's terms can only duplicate
          // rows the reader dedups — no cross-layer merge arithmetic
          // like df's sum
          gramsDir.map(dir =>
            () =>
              dictGramsOf(dfFrame.select("w").distinct(), buckets)
                .repartition(buckets, col("gb"))
                .sortWithinPartitions("gram") // gram min/max skipping (see build)
                .withColumn("layer", lit(layer))
                .write
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .partitionBy("gb", "layer")
                .parquet(dir))
        )
          }
        )
      },
      Some { () =>
        newDocs
          .select(col("doc_id"), expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
          .withColumn("layer", lit(layer))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("layer")
          .parquet(statsDir)
      },
      // a positional store extends its positions with the batch; a
      // frequency-only store stays frequency-only (the build's choice is
      // the store's contract — readers never guess)
      positionsDir.map(dir =>
        () =>
          positionalPostings(newDocs)
            .withColumn("wb", wbOf(col("w"), buckets))
            .repartition(buckets, col("wb"))
            .withColumn("layer", lit(layer))
            .write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("wb", "layer")
            .parquet(dir)),
      // a stored-fields index extends its text alongside (same contract:
      // the build's choice is the store's shape)
      fieldsDir.map(dir =>
        () =>
          newDocs
            .select(col("doc_id"), col("text"))
            .withColumn("db", pmod(col("doc_id"), lit(buckets.toLong)))
            .repartition(buckets, col("db"))
            .withColumn("layer", lit(layer))
            .write
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("db", "layer")
            .parquet(dir))
    )
    dfFrame.unpersist(false)
    tf.unpersist(false)
  }

  /** The swappable store directories (`positions` only in positional
    * stores, `fields` only in stored-field stores); `params` is written
    * once and never compacted.
    */
  private val SwappedDirs =
    Seq("postings", "df", "dict", "dictgrams", "stats", "positions", "fields")

  /** Crash repair for an interrupted [[compactInvertedIndex]]; called by
    * every store consumer (query / append / compact) so a crashed
    * maintenance job can never brick them. Per-directory ([[graft.util.DirSwap]]):
    * each directory's read view is a sum-merge (postings a row union, df
    * and stats summed layers), so compaction commutes per-directory and
    * any prefix of repaired/compacted directories reads identically — the
    * three swaps need no mutual atomicity.
    */
  def repairInvertedIndex(indexDir: String): Unit = {
    val root = indexDir
    SwappedDirs.foreach(graft.util.DirSwap.repair(root, _))
  }

  /** Compact the inverted index in place: every append accretes one file
    * set per touched bucket plus a df/stats delta layer, so a long-lived
    * index accumulates small files and every query pays the per-layer
    * merge. Folds delta layers into the base layer 0 — postings to one
    * file per wb bucket (the build write's shape), df to one summed layer,
    * stats to one row — each behind a build-then-swap
    * ([[graft.util.DirSwap]]), so readers always see a complete directory.
    * Reads are row-identical before and after (RetrievalIndexSpec law);
    * single-maintainer posture, run between batches like the span-index
    * compaction.
    *
    * `protectLayersAbove` keeps layers above it UNFOLDED (their partitions
    * rewritten verbatim): a layer that could still be REDELIVERED (under
    * streaming T1 the last, uncommitted micro-batch) must not be folded —
    * a fold followed by the redelivered overwrite would stack the folded
    * copy and the fresh layer and double-count. The streaming ingest
    * therefore compacts with the just-written layer protected; once its
    * offsets commit, the next compaction folds it. The default protects
    * nothing (safe for batch maintainers, who control their ingests).
    *
    * Disk retention: each of the member swaps keeps superseded
    * generations for [[graft.util.DirSwap.graceMs]] of wall clock, so a
    * high-frequency compaction cadence (streaming `compactEvery = 1`)
    * holds up to (compactions per grace window) full index copies on
    * disk simultaneously — compact on the debt threshold, not per batch.
    */
  def compactInvertedIndex(
      spark: SparkSession,
      indexDir: String,
      protectLayersAbove: Long = Long.MaxValue
  ): Unit = graft.util.MaintainerLease.withMaintainer(
    indexDir
  ) {
    // the claim covers ALL member swaps: a rival maintainer cannot win
    // some of {postings, df, stats, positions} while this one wins others
    val root = indexDir
    repairInvertedIndex(indexDir)
    def live(sub: String): String =
      graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val folded = when(
      col("layer").cast("long") <= lit(protectLayersAbove),
      lit(0L)
    ).otherwise(col("layer").cast("long"))
    graft.util.DirSwap.swap(root, "postings") { tmp =>
      spark.read
        .parquet(live("postings"))
        .withColumn("layer", folded)
        .repartition(buckets, col("wb"))
        .write
        .partitionBy("wb", "layer")
        .parquet(tmp.toString)
    }
    graft.util.DirSwap.swap(root, "df") { tmp =>
      spark.read
        .parquet(live("df"))
        .withColumn("layer", folded)
        .groupBy("wb", "w", "layer")
        .agg(sum("df").as("df"))
        .repartition(buckets, col("wb"))
        .write
        .partitionBy("wb", "layer")
        .parquet(tmp.toString)
    }
    // pre-dict stores (older layouts) simply lack the member; compaction
    // must not invent it — the build's choice is the store's shape
    if (graft.util.Blob.exists(live("dict")))
      graft.util.DirSwap.swap(root, "dict") { tmp =>
        spark.read
          .parquet(live("dict"))
          .withColumn("layer", folded)
          .groupBy("w", "layer")
          .agg(sum("df").as("df"))
          .repartitionByRange(buckets, col("w"))
          .sortWithinPartitions("w")
          .write
          .partitionBy("layer")
          .parquet(tmp.toString)
      }
    // gram rows are per-term facts — folding is a distinct, not a sum
    if (graft.util.Blob.exists(live("dictgrams")))
      graft.util.DirSwap.swap(root, "dictgrams") { tmp =>
        spark.read
          .parquet(live("dictgrams"))
          .select("gb", "gram", "w", "cnt", "len")
          .distinct()
          .withColumn("layer", lit(0L))
          .repartition(buckets, col("gb"))
          .sortWithinPartitions("gram") // gram min/max skipping (see build)
          .write
          .partitionBy("gb", "layer")
          .parquet(tmp.toString)
      }
    graft.util.DirSwap.swap(root, "stats") { tmp =>
      spark.read
        .parquet(live("stats"))
        .withColumn("layer", folded)
        .groupBy("layer")
        .agg(
          sum("n_docs").as("n_docs"),
          sum("total_tokens").as("total_tokens")
        )
        .write
        .partitionBy("layer")
        .parquet(tmp.toString)
    }
    if (graft.util.Blob.exists(live("positions")))
      graft.util.DirSwap.swap(root, "positions") { tmp =>
        spark.read
          .parquet(live("positions"))
          .withColumn("layer", folded)
          .repartition(buckets, col("wb"))
          .write
          .partitionBy("wb", "layer")
          .parquet(tmp.toString)
      }
    // fields rows are plain per-doc facts (disjoint across layers under
    // the fresh-doc_ids contract) — folding is a rewrite, like positions
    if (graft.util.Blob.exists(live("fields")))
      graft.util.DirSwap.swap(root, "fields") { tmp =>
        spark.read
          .parquet(live("fields"))
          .withColumn("layer", folded)
          .repartition(buckets, col("db"))
          .write
          .partitionBy("db", "layer")
          .parquet(tmp.toString)
      }
  }

  /** Index maintenance-debt report — the retrieval plane's analogue of
    * the ANN plane's index health (k14): one row of store-layout facts a
    * maintainer alerts on, with `compact_recommended` firing when the
    * accreted delta layers exceed `compactOverLayers` (every layer is one
    * more file set per query scan and one more summand in the df/stats
    * merges). Driver-bounded by construction: layer identities come from
    * the layer PARTITION column (no data files read) and the file counts
    * from one store listing — the store's own metadata op, independent of
    * corpus size.
    */
  def retrievalIndexHealth(
      spark: SparkSession,
      indexDir: String,
      compactOverLayers: Int = 8
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String =
      graft.util.DirSwap.resolve(root, sub)
    def layersOf(sub: String): Long = spark.read
      .parquet(live(sub))
      .select(col("layer").cast("long"))
      .distinct()
      .count()
    // the single listing API (object-store swap point) — never a local walk
    def filesOf(sub: String): Long =
      graft.util.Fs.countParquetFiles(live(sub))
    val (layers, postF, dfF, statsRows) = (
      layersOf("df"),
      filesOf("postings"),
      filesOf("df"),
      spark.read.parquet(live("stats").toString).count()
    )
    spark
      .range(1)
      .select(
        lit(layers).as("n_layers"),
        lit(postF).as("n_posting_files"),
        lit(dfF).as("n_df_files"),
        lit(statsRows).as("n_stats_rows"),
        lit(layers > compactOverLayers).as("compact_recommended")
      )
  }

  /** The stored index's merged read views: (postings pruned to the probed
    * buckets, df merged over delta layers and pruned likewise, the summed
    * single-row stats). `probedWb` is bounded by the stored bucket count,
    * so collecting it turns both stored scans into static partition-pruned
    * reads (the knnIvfIndexed probe-cell trick).
    */
  /** Bucket-pruned views of a stored index for one or more query-term
    * sets, with ONE driver round-trip for all of them (round-17, guide
    * §5 — no driver loops in query paths): the store's params row is
    * read once and the probed-bucket set of the UNION of the term sets
    * is collected in one job. The views are pruned to the union — wider
    * buckets only widen a leg's scan, never its results, because every
    * consumer joins postings/df by the term `w` itself downstream — and
    * `probedWb` is exposed so positional consumers prune their positions
    * scan WITHOUT re-collecting the terms (the superseded form collected
    * the identical set twice per proximity query).
    */
  private final case class IdxViews(
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      qts: Seq[DataFrame],
      probedWb: Seq[Long]
  )

  private def indexViewsShared(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[DataFrame]
  ): IdxViews = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String =
      graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val qts = queryTerms.map(_.withColumn("wb", wbOf(col("w"), buckets)))
    val probedWb = qts
      .map(_.select("wb"))
      .reduce(_.unionByName(_))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toIndexedSeq // ≤ buckets
    val post = spark.read
      .parquet(live("postings"))
      .where(col("wb").isin(probedWb: _*))
    val dfm = spark.read
      .parquet(live("df"))
      .where(col("wb").isin(probedWb: _*))
      .groupBy("w")
      .agg(sum("df").as("df")) // merge the append delta layers
    val stats = spark.read
      .parquet(live("stats"))
      .agg(
        sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens")
      )
    IdxViews(post, dfm, stats, qts, probedWb)
  }

  private def indexViews(
      spark: SparkSession,
      indexDir: String,
      queryTerms: DataFrame
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val v = indexViewsShared(spark, indexDir, Seq(queryTerms))
    (v.post, v.dfm, v.stats, v.qts.head)
  }

  /** The positions member pruned to an already-collected bucket set. */
  private def positionsView(
      spark: SparkSession,
      indexDir: String,
      probedWb: Seq[Long]
  ): DataFrame = spark.read
    .parquet(liveDir(indexDir, "positions"))
    .where(col("wb").isin(probedWb: _*))
    .select("doc_id", "w", "pos")

  /** The BM25-weighted query terms of one term set against shared views
    * — the scoring head every stored BM25/proximity leg reuses.
    */
  private def bm25Weighted(qt: DataFrame, dfm: DataFrame, stats: DataFrame): DataFrame =
    qt.join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )

  /** tf-idf top-k against the STORED index — no index build at query time:
    * df layers merge with one bucket-pruned aggregation, N loads from the
    * summed stats row, and the posting scan reads only the probed buckets'
    * files. Row-identical to [[keywordTopK]] over the same corpus
    * (RetrievalIndexSpec law). `queryTerms` is (qid, w) — each query's
    * DISTINCT terms.
    */
  def keywordTopKIndexedOf(
      spark: SparkSession,
      queryTerms: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true // corpus-query protocol; external-qid
      //                             callers (the search service) pass false
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryTerms)
    val weighted = qt
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        expr("n_docs * 1000000 DIV df").as("idf_ppm")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val cand = post.join(broadcast(weighted), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .groupBy("qid", "doc_id")
      .agg(sum(col("tf") * col("idf_ppm")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** [[keywordTopKIndexedOf]] with the standard query protocol (the
    * `nQueries` lowest doc_ids' distinct terms, computed row-locally from
    * the documents table — never from the index).
    */
  def keywordTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      excludeSelf: Boolean = true
  ): DataFrame =
    keywordTopKIndexedOf(
      spark,
      postings(docs(spark, dir).filter(col("doc_id") < nQueries))
        .select(col("doc_id").as("qid"), col("w")),
      indexDir,
      k,
      excludeSelf
    )

  /** P33b — the full index lifecycle as one oracle-replayable query: build
    * the stored index over the history 80% (the d9 boundary), APPEND the
    * new 20% as a daily batch, search the stored index. The merged index
    * is definitionally the full-corpus index, so the result is
    * row-identical to the inline [[keywordTopK]] — which is exactly what
    * lets the d9b trick apply: same oracle, and the lifecycle (write →
    * append → merged-layer read) is what's actually under test.
    */
  def keywordIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33b-index") { tmp =>
      // frequency-only lifecycle: no positions, no fields, and (round-16)
      // no dict — the bench measures the deployment shape that never
      // serves dictionary queries, so it must not pay the member's build
      writeInvertedIndexOf(
        spark, d.filter(col("doc_id") < split), tmp, withDict = false)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      keywordTopKIndexed(spark, dir, tmp, nQueries, k)
    }
  }

  // ---------------------------------------------------------------------
  // Prefix / wildcard term queries (p33r) — Lucene's PrefixQuery /
  // WildcardQuery (lucene/core/.../search/PrefixQuery.java,
  // WildcardQuery.java): a multi-term query rewrites to the documents
  // matching ANY dictionary term with the prefix, capped at a maximum
  // expansion count (Lucene's maxClauseCount guard, deterministic here:
  // the first `maxExpansions` matching terms in lexicographic order).
  // Scoring is the matched-occurrence count Σ tf over the expanded terms
  // (constant per-term weight — Lucene's constant-score rewrite), which
  // keeps the whole query exact-integer and oracle-replayable. The stored
  // form prunes the expansion scan through the `dict` member's SORTED
  // organization (range pushdown on parquet min/max stats), then probes
  // only the expanded terms' wb posting buckets.
  // ---------------------------------------------------------------------

  /** Per-query prefixes under the standard protocol: the `nQueries`
    * lowest doc_ids each contribute the first `prefixLen` characters of
    * their FIRST token. Row-local (one select over the query docs).
    */
  private[graft] def prefixQueries(
      d: DataFrame,
      nQueries: Int,
      prefixLen: Int
  ): DataFrame =
    d.filter(col("doc_id") < nQueries)
      .select(
        col("doc_id").as("qid"),
        expr(
          s"substring(element_at(filter(split(text, ' '), x -> x != ''), 1), 1, $prefixLen)"
        ).as("pfx")
      )
      .filter(col("pfx").isNotNull && length(col("pfx")) > 0)

  /** Shared expansion + scoring: terms matching each query's prefix (the
    * first `maxExpansions` in term order), then candidates scored by the
    * total matched occurrences. `terms` is the (w)-grain dictionary view
    * (inline: distinct postings terms; stored: the pruned dict scan).
    */
  private def prefixScore(
      terms: DataFrame,
      tf: DataFrame, // (doc_id, w, tf)
      queries: DataFrame, // (qid, pfx)
      k: Int,
      maxExpansions: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = terms
      .select("w")
      .distinct()
      .join(broadcast(queries), col("w").startsWith(col("pfx")))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
    val rankW =
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val cand = tf.join(broadcast(expanded), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .groupBy("qid", "doc_id")
      .agg(sum("tf").as("score"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33r (inline) — prefix top-k over `corpus`: documents containing any
    * term with the query's prefix, ranked by total matched occurrences.
    * `queries` is (qid, pfx).
    */
  def prefixTopKOf(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val tf = postings(corpus)
    prefixScore(tf, tf, queries, k, maxExpansions, excludeSelf)
  }

  /** [[prefixTopKOf]] under the standard query protocol. */
  def prefixTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      prefixLen: Int = 3,
      k: Int = 5,
      maxExpansions: Int = 64
  ): DataFrame = {
    val d = docs(spark, dir)
    prefixTopKOf(spark, d, prefixQueries(d, nQueries, prefixLen), k, maxExpansions)
  }

  /** Lexicographic range covering `startsWith(prefix)`: `w >= prefix AND
    * w < successor` where the successor increments the prefix's last
    * character — the pushdown parquet min/max skipping needs (a plain
    * `startsWith` does not push as a range). Falls back to the
    * unbounded-above range when the last character cannot increment
    * (U+FFFF — never in tokenized text; correctness keeps the startsWith
    * filter regardless).
    */
  private def prefixRangeCond(w: Column, prefix: String): Column = {
    val ge = w >= lit(prefix)
    val last = prefix.last
    val bounded =
      if (last < Char.MaxValue)
        ge && w < lit(prefix.init + (last + 1).toChar)
      else ge
    bounded && w.startsWith(lit(prefix))
  }

  /** `dictgrams` sentinel: a 3-char value cannot collide with the real
    * 1/2-char grams; terms short enough that a gram-count bound can never
    * prune them (length ≤ [[ShortSentinelLen]]) carry one sentinel row,
    * which is what lets the residual leg ENUMERATE them by probing one
    * bucket instead of scanning the dictionary.
    */
  private val SentinelGram = "###"

  /** Sentinel coverage cap = the largest `maxEdits` the gram candidate
    * path serves (Lucene's FuzzyQuery caps at 2; 4 leaves headroom).
    * Beyond it [[fuzzyTopKIndexedOf]] falls back to the full dict scan.
    */
  private val ShortSentinelLen = 4

  /** Unigram rows exist only for terms this short: the unigram leg
    * applies only to pairs with max(len) ≤ 2·maxEdits+1 ≤ 2·[[ShortSentinelLen]]+1,
    * so longer terms can never need them — and writing them anyway would
    * put EVERY term sharing a letter with the query into the candidate
    * join (in natural text, most of the vocabulary — the first cut's
    * DictStress measured exactly that).
    */
  private val UniGramLenCap = 2 * ShortSentinelLen + 1

  /** Char-n-gram rows for the dictionary's terms — (gb, gram, w, cnt,
    * len): every BIGRAM and UNIGRAM of each term with its bag
    * multiplicity, plus the short-term sentinel row. `gb` buckets by the
    * GRAM (the same portable hash as wb), so a fuzzy query probes only
    * its own grams' buckets. Pure per-term facts (functions of the term
    * string alone) — layering dedups by distinct, never sums.
    */
  private def dictGramsOf(terms: DataFrame, buckets: Int): DataFrame = {
    val bi = terms.select(
      col("w"),
      explode(
        expr(
          "CASE WHEN length(w) >= 2 THEN " +
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) " +
            "ELSE array() END"
        )
      ).as("gram")
    )
    val uni = terms
      .filter(length(col("w")) <= UniGramLenCap)
      .select(
        col("w"),
        explode(
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).as("gram")
      )
    val sentinel = terms
      .filter(length(col("w")) <= ShortSentinelLen)
      .select(col("w"), lit(SentinelGram).as("gram"))
    bi.unionByName(uni)
      .unionByName(sentinel)
      .groupBy("w", "gram")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("len", length(col("w")).cast("long"))
      .withColumn("gb", wbOf(col("gram"), buckets))
  }

  /** Driver-side mirror of [[dictGramsOf]]'s gram derivation for the
    * (nQueries-bounded) query terms: (gram, bag count) over bigrams +
    * unigrams (+ the sentinel when the term is short enough to need the
    * residual leg). Must stay in lockstep with the SQL form — both count
    * `substring` grams over the same char sequence.
    */
  private def queryGramsOf(
      term: String,
      withUnigrams: Boolean, // only when the unigram leg is reachable
      //   (qlen ≤ 2·maxEdits+1) — else every term sharing a letter
      //   would join as a candidate
      withSentinel: Boolean
  ): Seq[(String, Long)] = {
    val bi = (1 until term.length).map(i => term.substring(i - 1, i + 1))
    val uni = if (withUnigrams) term.map(_.toString) else Seq.empty
    val sent = if (withSentinel) Seq(SentinelGram) else Seq.empty
    (bi ++ uni ++ sent)
      .groupBy(identity)
      .map { case (g, occ) => (g, occ.size.toLong) }
      .toSeq
  }

  /** Resolves the live `dict` member, failing LOUDLY (not wrongly) when
    * the store was built `withDict = false`: a dictionary query against a
    * frequency-only store must name the rebuild flag, not surface as a
    * bare path-not-found or — worse — an empty result.
    */
  private def requireDict(indexDir: String): String = {
    val live = graft.util.DirSwap.resolve(indexDir, "dict")
    if (!graft.util.Blob.exists(live))
      throw new IllegalStateException(
        s"index store $indexDir has no `dict` member (built withDict = " +
          "false, or a pre-dict layout): prefix/wildcard/fuzzy/" +
          "phrase-prefix queries need the sorted term dictionary — " +
          "rebuild the store with withDict = true")
    live
  }

  /** P33r (stored) — prefix top-k against the persisted index: the
    * expansion reads ONLY the dict files whose [min,max] term range
    * overlaps a query prefix (range pushdown over the sorted dictionary),
    * and the posting scan reads only the expanded terms' wb buckets —
    * never the corpus, never the full dictionary. Row-identical to
    * [[prefixTopKOf]] (RetrievalIndexSpec law). `queries` is (qid, pfx);
    * the prefixes are collected (nQueries-bounded, like the probed-bucket
    * set) to drive the pushdown predicate.
    */
  def prefixTopKIndexedOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val (out, expanded) =
      prefixTopKIndexedLazyOf(spark, queries, indexDir, k, maxExpansions, excludeSelf)
    // materialize-then-release: prefixSearchStream calls this once per
    // micro-batch, so a cache left persisted would accumulate storage
    // blocks without bound in a long-lived service (round-15 advice) —
    // the house Eager lifecycle, same as every inline operator
    expanded.fold(out)(e => Eager.materialized(out, e))
  }

  /** [[prefixTopKIndexedOf]] minus the eager release — the UNMATERIALIZED
    * search plan plus the cache backing it (None when the query set was
    * empty), for plan inspection (the pushed-range spec assertion) and
    * callers composing further before materializing. The caller owns the
    * returned cache's lifecycle.
    */
  private[graft] def prefixTopKIndexedLazyOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): (DataFrame, Option[DataFrame]) = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String = graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val prefixes = queries
      .select("pfx")
      .distinct()
      .collect() // ≤ nQueries — the driver-bounded probe set
      .map(_.getString(0))
      .toSeq
    if (prefixes.isEmpty)
      return (
        spark
          .createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              Seq("qid", "doc_id", "rank", "score").map(n =>
                org.apache.spark.sql.types.StructField(
                  n,
                  org.apache.spark.sql.types.LongType)))),
        None)
    val dictPruned = spark.read
      .parquet(requireDict(indexDir))
      .where(prefixes.map(prefixRangeCond(col("w"), _)).reduce(_ || _))
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = dictPruned
      .select("w")
      .distinct()
      .join(broadcast(queries), col("w").startsWith(col("pfx")))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
      .cache()
    val probedWb = expanded
      .select(wbOf(col("w"), buckets).as("wb"))
      .distinct()
      .collect() // ≤ buckets
      .map(_.getLong(0))
    val out =
      if (probedWb.isEmpty)
        expanded.select(
          col("qid"),
          col("qid").as("doc_id"),
          lit(0L).as("rank"),
          lit(0L).as("score")
        ).limit(0)
      else {
        val post = spark.read
          .parquet(live("postings"))
          .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        val rankW =
          Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        val cand = post.join(broadcast(expanded), Seq("w"))
        (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
          .groupBy("qid", "doc_id")
          .agg(sum("tf").as("score"))
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .filter(col("rank") <= k)
          .select("qid", "doc_id", "rank", "score")
          .orderBy("qid", "rank")
      }
    (out, Some(expanded))
  }

  /** [[prefixTopKIndexedOf]] under the standard query protocol. */
  def prefixTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      prefixLen: Int = 3,
      k: Int = 5,
      maxExpansions: Int = 64
  ): DataFrame =
    prefixTopKIndexedOf(
      spark,
      prefixQueries(docs(spark, dir), nQueries, prefixLen),
      indexDir,
      k,
      maxExpansions
    )

  /** P33r2 — the prefix lifecycle: build the stored index over the
    * history 80%, append the daily 20%, search the sorted dictionary.
    * Merged-store reads ≡ the inline [[prefixTopK]] (the p33b argument),
    * so the inline oracle carries.
    */
  def prefixIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      prefixLen: Int = 3,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33r-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      prefixTopKIndexed(spark, dir, tmp, nQueries, prefixLen, k)
    }
  }

  /** Wildcard top-k against the persisted index — Lucene's WildcardQuery
    * with the leading-literal optimization: `*` matches any run, `?` any
    * single character; the literal prefix BEFORE the first wildcard
    * prunes the dictionary scan exactly like [[prefixTopKIndexedOf]]
    * (a leading-wildcard pattern scans the whole dictionary — the same
    * cost Lucene documents for it), and the residual pattern filters the
    * pruned terms. Expansion cap, scoring, and bucket probing are the
    * prefix query's. `queries` is (qid, pattern).
    */
  def wildcardTopKIndexedOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String = graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    def litPrefix(pat: String): String = pat.takeWhile(c => c != '*' && c != '?')
    val pats = queries
      .select("pattern")
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
    val prunes = pats.map { p =>
      val pre = litPrefix(p)
      if (pre.isEmpty) lit(true) else prefixRangeCond(col("w"), pre)
    }
    val qLike = queries.select(
      col("qid"),
      col("pattern"),
      udfFreeLikePattern(col("pattern")).as("like_pat")
    )
    val dictPruned = spark.read
      .parquet(requireDict(indexDir))
      .where(if (prunes.isEmpty) lit(false) else prunes.reduce(_ || _))
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = dictPruned
      .select("w")
      .distinct()
      .join(
        broadcast(qLike),
        expr("w LIKE like_pat ESCAPE '\\\\'")
      )
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
      .cache()
    val probedWb = expanded
      .select(wbOf(col("w"), buckets).as("wb"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    val out =
      if (probedWb.isEmpty)
        expanded
          .select(
            col("qid"),
            col("qid").as("doc_id"),
            lit(0L).as("rank"),
            lit(0L).as("score")
          )
          .limit(0)
      else {
        val post = spark.read
          .parquet(live("postings"))
          .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        val rankW =
          Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        val cand = post.join(broadcast(expanded), Seq("w"))
        (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
          .groupBy("qid", "doc_id")
          .agg(sum("tf").as("score"))
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .filter(col("rank") <= k)
          .select("qid", "doc_id", "rank", "score")
          .orderBy("qid", "rank")
      }
    Eager.materialized(out, expanded) // release the cache (round-15 advice)
  }

  /** Per-query wildcard patterns under the standard protocol: each of
    * the `nQueries` lowest doc_ids whose first token has ≥ 3 characters
    * contributes `c₁ ? c₃.. *` — first character literal, second
    * wildcarded single, rest of the token literal, any suffix. The
    * leading literal keeps the dictionary scan range-prunable while the
    * `?` exercises the residual matcher.
    */
  private[graft] def wildcardQueries(d: DataFrame, nQueries: Int): DataFrame =
    d.filter(col("doc_id") < nQueries)
      .select(
        col("doc_id").as("qid"),
        expr(
          "element_at(filter(split(text, ' '), x -> x != ''), 1)"
        ).as("tok")
      )
      .filter(col("tok").isNotNull && length(col("tok")) >= 3)
      .select(
        col("qid"),
        concat(
          substring(col("tok"), 1, 1),
          lit("?"),
          expr("substring(tok, 3)"),
          lit("*")
        ).as("pattern")
      )

  /** P33r3 — the wildcard lifecycle: build + append the stored index,
    * wildcard-search the sorted dictionary (same build as p33r2; the
    * pattern protocol is [[wildcardQueries]]).
    */
  def wildcardIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33r3-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      wildcardTopKIndexedOf(spark, wildcardQueries(d, nQueries), tmp, k)
    }
  }

  // ---------------------------------------------------------------------
  // P33x — TERM-RANGE queries (Lucene TermRangeQuery,
  // lucene/core/.../search/TermRangeQuery.java): every dictionary term
  // in [lo, hi] (inclusive, binary order), constant-score rewrite +
  // expansion cap like the prefix family. The sorted dict member serves
  // BOTH bounds as one pushed range — parquet min/max skipping reads
  // only the covering band, Lucene's sorted-terms-dictionary seek
  // Spark-first.
  // ---------------------------------------------------------------------

  /** Per-query term ranges under the standard protocol: each query
    * doc's first two distinct tokens, sorted, form the inclusive range
    * [lo, hi]. Binary string order on both engines (Spark UTF8 binary,
    * DuckDB default collation), so the expansion replays.
    */
  private[graft] def termRangeQueries(d: DataFrame, nQueries: Int): DataFrame =
    d.filter(col("doc_id") < nQueries)
      .select(
        col("doc_id").as("qid"),
        expr("element_at(filter(split(text, ' '), x -> x != ''), 1)").as("t1"),
        expr("element_at(filter(split(text, ' '), x -> x != ''), 2)").as("t2")
      )
      .filter(col("t1").isNotNull && col("t2").isNotNull && col("t1") =!= col("t2"))
      .select(
        col("qid"),
        least(col("t1"), col("t2")).as("lo"),
        greatest(col("t1"), col("t2")).as("hi")
      )

  /** Shared range expansion + scoring: terms in each query's [lo, hi]
    * (the first `maxExpansions` in term order), Σ tf scoring — the
    * prefix family's arithmetic with a two-sided bound.
    */
  private def termRangeScore(
      terms: DataFrame,
      tf: DataFrame, // (doc_id, w, tf)
      queries: DataFrame, // (qid, lo, hi)
      k: Int,
      maxExpansions: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = terms
      .select("w")
      .distinct()
      .join(broadcast(queries), col("w") >= col("lo") && col("w") <= col("hi"))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
    val rankW =
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val cand = tf.join(broadcast(expanded), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .groupBy("qid", "doc_id")
      .agg(sum("tf").as("score"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33x (inline) — term-range top-k over `corpus`. `queries` is
    * (qid, lo, hi).
    */
  def termRangeTopKOf(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val tf = postings(corpus)
    termRangeScore(tf, tf, queries, k, maxExpansions, excludeSelf)
  }

  /** [[termRangeTopKOf]] under the standard query protocol. */
  def termRangeTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      maxExpansions: Int = 64
  ): DataFrame = {
    val d = docs(spark, dir)
    termRangeTopKOf(spark, d, termRangeQueries(d, nQueries), k, maxExpansions)
  }

  /** Term-range top-k against the STORED index: the [lo, hi] bounds push
    * straight onto the sorted dict (both sides of the range — the
    * two-sided analogue of the prefix pushdown), postings bucket-pruned
    * to the expanded terms. Row-identical to [[termRangeTopKOf]].
    */
  def termRangeTopKIndexedOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String = graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val ranges = queries
      .select("lo", "hi")
      .distinct()
      .collect() // ≤ nQueries — the driver-bounded pushdown set
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
    val dictPruned = spark.read
      .parquet(requireDict(indexDir))
      .where(
        if (ranges.isEmpty) lit(false)
        else
          ranges
            .map { case (lo, hi) => col("w") >= lit(lo) && col("w") <= lit(hi) }
            .reduce(_ || _)
      )
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = dictPruned
      .select("w")
      .distinct()
      .join(broadcast(queries), col("w") >= col("lo") && col("w") <= col("hi"))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
      .cache()
    val probedWb = expanded
      .select(wbOf(col("w"), buckets).as("wb"))
      .distinct()
      .collect() // ≤ buckets
      .map(_.getLong(0))
    val out =
      if (probedWb.isEmpty)
        expanded
          .select(
            col("qid"),
            col("qid").as("doc_id"),
            lit(0L).as("rank"),
            lit(0L).as("score")
          )
          .limit(0)
      else {
        val post = spark.read
          .parquet(live("postings"))
          .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        val rankW =
          Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        val cand = post.join(broadcast(expanded), Seq("w"))
        (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
          .groupBy("qid", "doc_id")
          .agg(sum("tf").as("score"))
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .filter(col("rank") <= k)
          .select("qid", "doc_id", "rank", "score")
          .orderBy("qid", "rank")
      }
    Eager.materialized(out, expanded) // release the cache (house lifecycle)
  }

  /** P33x2 — the term-range lifecycle (same oracle as p33x by the
    * indexed ≡ inline law).
    */
  def termRangeIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33x2-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      termRangeTopKIndexedOf(spark, termRangeQueries(d, nQueries), tmp, k)
    }
  }

  // ---------------------------------------------------------------------
  // P33y — MORE-LIKE-THIS (Lucene MoreLikeThis,
  // lucene/queries/.../mlt/MoreLikeThis.java): the query is a DOCUMENT;
  // its most informative terms (top nTerms by tf·idf — Lucene's
  // interestingTerms, exact-integer ppm here) become a disjunctive
  // should-query scored with BM25 — "find documents like this one".
  // Term selection is part of the QUERY protocol (derived from the
  // query docs + corpus statistics); the search leg is the p33c/p33k
  // machinery and bucket-prunes to the selected terms in the stored
  // form.
  // ---------------------------------------------------------------------

  /** Top-`nTerms` informative terms of each query doc by tf·idf_ppm
    * (ties → term order): Lucene MLT's interestingTerms, deterministic.
    * `qtf` is (qid, w, tf); `dfm` (w, df); `stats` one row.
    */
  private def mltTerms(
      qtf: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      nTerms: Int
  ): DataFrame = {
    val selW =
      Window.partitionBy("qid").orderBy(col("sel_ppm").desc, col("w"))
    qtf
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        (col("tf") * IdfPpm).as("sel_ppm")
      )
      .withColumn("rn", row_number().over(selW))
      .filter(col("rn") <= nTerms)
      .select("qid", "w")
  }

  /** P33y (inline) — more-like-this top-k: each query doc's top-`nTerms`
    * tf·idf terms, BM25-scored disjunctively over the corpus (the doc
    * itself excluded).
    */
  def moreLikeThisTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      nTerms: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qtf = tf
      .filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("w"), col("tf"))
    val qterms = mltTerms(qtf, dfm, stats, nTerms)
    val weighted = qterms
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("w"), IdfPpm.as("idf_ppm"))
    val out = bm25Score(tf, weighted, stats, k)
    Eager.materialized(out, tf)
  }

  /** More-like-this against the STORED index: term selection reads the
    * df member pruned to the query docs' term buckets, the search leg
    * prunes to the SELECTED terms' buckets — both driver-bounded probe
    * sets. Row-identical to [[moreLikeThisTopK]] (the index's df/stats
    * equal the corpus's by construction).
    */
  def moreLikeThisTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      nTerms: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    // query protocol derived row-locally from the query docs, never the
    // index (the house rule); the index supplies df/stats/postings
    val qtf = postingsWithLen(d.filter(col("doc_id") < nQueries))
      .select(col("doc_id").as("qid"), col("w"), col("tf"))
    val (_, dfm0, stats0, _) =
      indexViews(spark, indexDir, qtf.select("qid", "w"))
    val qterms = mltTerms(qtf, dfm0, stats0, nTerms)
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, qterms)
    val weighted = qt
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("w"), IdfPpm.as("idf_ppm"))
    bm25Score(post, weighted, stats, k)
  }

  /** More-like-this for EXTERNAL documents against the stored index —
    * the service form: `queryDocs` is (qid, text) with qids outside the
    * corpus id space; each doc tokenizes row-locally (the standard
    * whitespace grain), selects its top-`nTerms` terms by tf·idf using
    * the INDEX's statistics, and BM25-scores disjunctively. The
    * [[moreLikeThisTopKIndexed]] corpus-protocol form is this with the
    * query docs drawn from the corpus.
    */
  def moreLikeThisTopKIndexedOf(
      spark: SparkSession,
      queryDocs: DataFrame, // (qid, text)
      indexDir: String,
      nTerms: Int = 5,
      k: Int = 5,
      excludeSelf: Boolean = false // external qid space by default
  ): DataFrame = {
    val qtf = postingsWithLen(
      queryDocs.select(col("qid").as("doc_id"), col("text"))
    ).select(col("doc_id").as("qid"), col("w"), col("tf"))
    val (_, dfm0, stats0, _) =
      indexViews(spark, indexDir, qtf.select("qid", "w"))
    val qterms = mltTerms(qtf, dfm0, stats0, nTerms)
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, qterms)
    val weighted = qt
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("w"), IdfPpm.as("idf_ppm"))
    bm25Score(post, weighted, stats, k, excludeSelf)
  }

  /** P33y2 — the more-like-this lifecycle (same oracle as p33y by the
    * indexed ≡ inline law).
    */
  def moreLikeThisIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      nTerms: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33y2-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      moreLikeThisTopKIndexed(spark, dir, tmp, nQueries, nTerms, k)
    }
  }

  // ---------------------------------------------------------------------
  // P33v — REGEX term queries (Lucene RegexpQuery,
  // lucene/core/.../search/RegexpQuery.java): a multi-term query matching
  // every dictionary term the regex FULLY matches, under the same
  // constant-score rewrite + expansion cap as prefix/wildcard. Lucene
  // compiles the regex to an automaton and intersects it with the term
  // FST; the Spark-first equivalent is the p33r3 machinery verbatim —
  // the regex's LEADING LITERAL range-prunes the sorted dict member
  // (parquet min/max file skipping), and the full regex runs as the
  // residual filter on the surviving band. Patterns stay inside the
  // RE2 ∩ Java dialect (literals, character classes, *, alternation,
  // anchors — the p16 precedent) so the DuckDB oracle replays them.
  // ---------------------------------------------------------------------

  /** Per-query regexes under the standard protocol: each query doc whose
    * first token has ≥ 3 characters contributes
    * `^c₁c₂([a-z]*|[0-9]*)c_last$` — a 2-char literal prefix (the
    * range-prunable leading literal), an alternation body, the final
    * character pinned. Anchors make the match FULL-string on both
    * engines (Spark `rlike` and DuckDB `regexp_matches` are both
    * substring matchers), reproducing Lucene's whole-term semantics.
    */
  private[graft] def regexQueries(d: DataFrame, nQueries: Int): DataFrame =
    d.filter(col("doc_id") < nQueries)
      .select(
        col("doc_id").as("qid"),
        expr(
          "element_at(filter(split(text, ' '), x -> x != ''), 1)"
        ).as("tok")
      )
      .filter(col("tok").isNotNull && length(col("tok")) >= 3)
      .select(
        col("qid"),
        concat(
          lit("^"),
          substring(col("tok"), 1, 2),
          lit("([a-z]*|[0-9]*)"),
          expr("substring(tok, length(tok), 1)"),
          lit("$")
        ).as("pattern")
      )

  /** Shared regex expansion + scoring: terms fully matching each query's
    * pattern (the first `maxExpansions` in term order — the constant-
    * score rewrite's deterministic cap), candidates scored by total
    * matched occurrences Σ tf. `queries` is (qid, pattern).
    */
  private def regexScore(
      terms: DataFrame,
      tf: DataFrame, // (doc_id, w, tf)
      queries: DataFrame, // (qid, pattern)
      k: Int,
      maxExpansions: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = terms
      .select("w")
      .distinct()
      .join(broadcast(queries), expr("w rlike pattern"))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
    val rankW =
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val cand = tf.join(broadcast(expanded), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .groupBy("qid", "doc_id")
      .agg(sum("tf").as("score"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33v (inline) — regex top-k over `corpus`. `queries` is
    * (qid, pattern).
    */
  def regexTopKOf(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val tf = postings(corpus)
    regexScore(tf, tf, queries, k, maxExpansions, excludeSelf)
  }

  /** [[regexTopKOf]] under the standard query protocol. */
  def regexTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      maxExpansions: Int = 64
  ): DataFrame = {
    val d = docs(spark, dir)
    regexTopKOf(spark, d, regexQueries(d, nQueries), k, maxExpansions)
  }

  /** The literal run a regex is anchored to start with — the characters
    * after `^` up to the first metacharacter. Empty (no pruning) when
    * the pattern is unanchored or leads with a metacharacter, exactly
    * Lucene's RegexpQuery posture: a leading-wildcard regex scans the
    * dictionary, a literal-led one walks only its prefix band.
    */
  private def regexLitPrefix(pat: String): String = {
    val meta = "[](){}.*+?|\\^$"
    val body = if (pat.startsWith("^")) pat.drop(1) else ""
    body.takeWhile(c => !meta.contains(c))
  }

  /** Regex top-k against the STORED index — the p33r3 machinery with the
    * regex residual: the leading literal range-prunes the sorted dict
    * member, the full pattern filters the surviving band, postings are
    * bucket-pruned to the expanded terms. Row-identical to
    * [[regexTopKOf]]. `queries` is (qid, pattern).
    */
  def regexTopKIndexedOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String = graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val pats = queries
      .select("pattern")
      .distinct()
      .collect() // ≤ nQueries — the driver-bounded probe set
      .map(_.getString(0))
      .toSeq
    val prunes = pats.map { p =>
      val pre = regexLitPrefix(p)
      if (pre.isEmpty) lit(true) else prefixRangeCond(col("w"), pre)
    }
    val dictPruned = spark.read
      .parquet(requireDict(indexDir))
      .where(if (prunes.isEmpty) lit(false) else prunes.reduce(_ || _))
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val expanded = dictPruned
      .select("w")
      .distinct()
      .join(broadcast(queries), expr("w rlike pattern"))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
      .cache()
    val probedWb = expanded
      .select(wbOf(col("w"), buckets).as("wb"))
      .distinct()
      .collect() // ≤ buckets
      .map(_.getLong(0))
    val out =
      if (probedWb.isEmpty)
        expanded
          .select(
            col("qid"),
            col("qid").as("doc_id"),
            lit(0L).as("rank"),
            lit(0L).as("score")
          )
          .limit(0)
      else {
        val post = spark.read
          .parquet(live("postings"))
          .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        val rankW =
          Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        val cand = post.join(broadcast(expanded), Seq("w"))
        (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
          .groupBy("qid", "doc_id")
          .agg(sum("tf").as("score"))
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .filter(col("rank") <= k)
          .select("qid", "doc_id", "rank", "score")
          .orderBy("qid", "rank")
      }
    Eager.materialized(out, expanded) // release the cache (house lifecycle)
  }

  /** P33v2 — the regex lifecycle: build + append the stored index, run
    * the regex protocol against the sorted dictionary (same oracle as
    * p33v by the indexed ≡ inline law).
    */
  def regexIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33v2-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      regexTopKIndexedOf(spark, regexQueries(d, nQueries), tmp, k)
    }
  }

  /** Per-query fuzzy terms under the standard protocol: each query
    * doc's FIRST token, matched within `maxEdits` edits.
    */
  private[graft] def fuzzyQueries(d: DataFrame, nQueries: Int): DataFrame =
    d.filter(col("doc_id") < nQueries)
      .select(
        col("doc_id").as("qid"),
        expr("element_at(filter(split(text, ' '), x -> x != ''), 1)")
          .as("term")
      )
      .filter(col("term").isNotNull && length(col("term")) > 0)

  /** Shared fuzzy expansion + scoring — Lucene's FuzzyQuery under the
    * constant-score rewrite: the query term expands to the dictionary
    * terms within `maxEdits` Levenshtein edits (the term itself
    * included, distance 0), capped at the first `maxExpansions` in
    * (distance, term) order — closest terms win the clause budget, the
    * deterministic analogue of Lucene's boost-ranked rewrite. Candidates
    * score by total matched occurrences Σ tf, like the prefix family.
    * The length band |len(w) − len(term)| ≤ maxEdits prunes BEFORE the
    * distance computation (an edit changes length by at most 1);
    * `levenshtein` is a codegen'd built-in on both engines, so the whole
    * query hash-replays.
    *
    * Scale posture: fuzzy expansion reads the TERM DICTIONARY (the
    * df-member grain — tiny beside postings) once per query BATCH, all
    * queries in one pass, with the band + distance filters row-local.
    * Lucene walks a Levenshtein automaton against its FST instead; the
    * scan-with-codegen'd-filter is the Spark-first equivalent, and the
    * postings side stays bucket-pruned to the expanded terms exactly as
    * for prefix queries.
    */
  private def fuzzyScore(
      terms: DataFrame, // (w)-grain dictionary view
      tf: DataFrame, // (doc_id, w, tf)
      queries: DataFrame, // (qid, term)
      k: Int,
      maxEdits: Int,
      maxExpansions: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val expansionW =
      Window.partitionBy("qid").orderBy(col("dist"), col("w"))
    val expanded = terms
      .select("w")
      .distinct()
      .join(
        broadcast(queries),
        abs(length(col("w")) - length(col("term"))) <= maxEdits
      )
      .withColumn("dist", levenshtein(col("w"), col("term")))
      .filter(col("dist") <= maxEdits)
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
    val rankW =
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    val cand = tf.join(broadcast(expanded), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .groupBy("qid", "doc_id")
      .agg(sum("tf").as("score"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33t (inline) — fuzzy top-k over `corpus`. `queries` is (qid, term). */
  def fuzzyTopKOf(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      maxEdits: Int = 2,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val tf = postings(corpus)
    fuzzyScore(tf, tf, queries, k, maxEdits, maxExpansions, excludeSelf)
  }

  /** [[fuzzyTopKOf]] under the standard query protocol. */
  def fuzzyTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      maxEdits: Int = 2,
      maxExpansions: Int = 64
  ): DataFrame = {
    val d = docs(spark, dir)
    fuzzyTopKOf(spark, d, fuzzyQueries(d, nQueries), k, maxEdits, maxExpansions)
  }

  /** Fuzzy top-k against the STORED index. Candidate generation (round
    * 16) probes the `dictgrams` member instead of scanning the whole
    * dictionary: terms within `maxEdits` edits of a query term must
    * share enough character n-grams with it (the Gravano et al. VLDB'01
    * count filter — each edit destroys at most n grams), so the read is
    * the query grams' gb buckets, tracking the candidate band rather
    * than the vocabulary — the scan-free analogue of Lucene's
    * Levenshtein-automaton FST walk. Three recall-complete legs split by
    * pair length mx = max(len(w), len(term)):
    *
    *   - mx > 2·d+1: bigram bag overlap ≥ mx − 1 − 2·d (≥ 1 there);
    *   - d < mx ≤ 2·d+1: unigram bag overlap ≥ mx − d (≥ 1 there);
    *   - mx ≤ d: ALWAYS within d edits (lev ≤ max length) — enumerated
    *     via the short-term sentinel rows, one probed bucket.
    *
    * The exact Levenshtein ≤ d filter then runs on candidates only, so
    * the result is row-identical to [[fuzzyTopKOf]] and to the pre-gram
    * full-scan form (RetrievalIndexSpec law). Pre-gram stores (and
    * maxEdits beyond the sentinel cap) fall back to the one-pass dict
    * scan. `queries` is (qid, term).
    */
  def fuzzyTopKIndexedOf(
      spark: SparkSession,
      queries: DataFrame,
      indexDir: String,
      k: Int = 5,
      maxEdits: Int = 2,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val root = indexDir
    def live(sub: String): String = graft.util.DirSwap.resolve(root, sub)
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val useGrams = maxEdits <= ShortSentinelLen &&
      graft.util.Blob.exists(live("dictgrams"))
    // (term, w) candidate pairs — a SUPERSET of all within-maxEdits pairs
    // by the count-filter bounds; the exact distance filter below decides
    val candPairs =
      if (!useGrams)
        spark.read
          .parquet(requireDict(indexDir))
          .select("w")
          .distinct()
          .join(
            broadcast(queries.select("term").distinct()),
            abs(length(col("w")) - length(col("term"))) <= maxEdits
          )
          .select("term", "w")
      else {
        val qTerms = queries
          .select("term")
          .distinct()
          .collect() // ≤ nQueries — the driver-bounded probe set
          .map(_.getString(0))
          .toSeq
        val c2 = 2 * maxEdits + 1
        val qgRows: Seq[(String, Long, String, Long)] = qTerms.flatMap { t =>
          queryGramsOf(
            t,
            withUnigrams = t.length <= c2,
            withSentinel = t.length <= maxEdits
          ).map { case (g, c) => (t, t.length.toLong, g, c) }
        }
        val qg = spark
          .createDataFrame(qgRows)
          .toDF("term", "qlen", "gram", "qcnt")
        val probedGb = qg
          .select(wbOf(col("gram"), buckets).as("gb"))
          .distinct()
          .collect() // ≤ Σ |term| grams — a local-relation job
          .map(_.getLong(0))
        val qGramSet = qgRows.map(_._3).distinct
        val dg = spark.read
          .parquet(live("dictgrams"))
          .where(col("gb").isin(probedGb.toIndexedSeq: _*))
          // redundant with the join below, but PUSHED: the gram-sorted
          // bucket files min/max-skip every row group outside the query
          // gram set — the read tracks the candidate band, not the bucket
          .where(col("gram").isin(qGramSet: _*))
          .select("gram", "w", "cnt", "len")
          .distinct() // layer dedup: gram rows are per-term facts
        dg.join(broadcast(qg), "gram")
          .withColumn("m", least(col("cnt"), col("qcnt")))
          .groupBy("term", "qlen", "w", "len")
          .agg(
            sum(when(length(col("gram")) === 2, col("m")).otherwise(0L))
              .as("sh2"),
            sum(when(length(col("gram")) === 1, col("m")).otherwise(0L))
              .as("sh1"),
            max(when(col("gram") === SentinelGram, lit(1)).otherwise(lit(0)))
              .as("sent")
          )
          .withColumn("mx", greatest(col("len"), col("qlen")))
          .filter(abs(col("len") - col("qlen")) <= maxEdits)
          .filter(
            (col("mx") > c2 &&
              col("sh2") >= col("mx") - lit(1L + 2L * maxEdits)) ||
              (col("mx") <= c2 && col("mx") > maxEdits &&
                col("sh1") >= col("mx") - lit(maxEdits.toLong)) ||
              (col("mx") <= maxEdits && col("sent") === 1)
          )
          .select("term", "w")
      }
    val expansionW =
      Window.partitionBy("qid").orderBy(col("dist"), col("w"))
    val expanded = candPairs
      .join(broadcast(queries.select("qid", "term")), "term")
      .withColumn("dist", levenshtein(col("w"), col("term")))
      .filter(col("dist") <= maxEdits)
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select("qid", "w")
      .cache()
    val probedWb = expanded
      .select(wbOf(col("w"), buckets).as("wb"))
      .distinct()
      .collect() // ≤ buckets
      .map(_.getLong(0))
    val out =
      if (probedWb.isEmpty)
        expanded
          .select(
            col("qid"),
            col("qid").as("doc_id"),
            lit(0L).as("rank"),
            lit(0L).as("score")
          )
          .limit(0)
      else {
        val post = spark.read
          .parquet(live("postings"))
          .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        val rankW =
          Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        val cand = post.join(broadcast(expanded), Seq("w"))
        (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
          .groupBy("qid", "doc_id")
          .agg(sum("tf").as("score"))
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .filter(col("rank") <= k)
          .select("qid", "doc_id", "rank", "score")
          .orderBy("qid", "rank")
      }
    Eager.materialized(out, expanded) // release the cache (round-15 advice)
  }

  /** P33t2 — the fuzzy lifecycle twin (same oracle as p33t by the
    * indexed ≡ inline law).
    */
  def fuzzyIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33t2-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      fuzzyTopKIndexedOf(spark, fuzzyQueries(d, nQueries), tmp, k)
    }
  }

  /** Wildcard → SQL LIKE translation as a pure Column expression
    * (`*`→`%`, `?`→`_`, pre-escaping LIKE's own metacharacters) — kept
    * UDF-free so the expansion join stays inside codegen.
    */
  private def udfFreeLikePattern(pat: Column): Column = {
    val escaped = regexp_replace(pat, "([%_\\\\])", "\\\\$1")
    translate(escaped, "*?", "%_")
  }

  // ---------------------------------------------------------------------
  // BM25 — the production lexical ranking (Robertson–Spärck Jones):
  // saturated term frequency + document-length normalization on top of the
  // same inverted index. Exact-integer ppm surrogates throughout (k1=1.2,
  // b=0.75 as ppm constants), so the ranking — idf included — hash-replays
  // in DuckDB:
  //
  //   idf_ppm  = ((2·(N−df)+1)·10⁶) DIV (2·df+1)         [RSJ odds ±0.5]
  //   norm_ppm = 250000 + (750000·dl·N) DIV total_tokens [1−b+b·dl/avgdl]
  //   sat_ppm  = (tf·2200000·10⁶) DIV (tf·10⁶ + (1200000·norm_ppm) DIV 10⁶)
  //   score    = Σ (idf_ppm·sat_ppm) DIV 10⁶
  //
  // Overflow headroom (BIGINT): idf_ppm ≤ (2N+1)·10⁶; sat_ppm < 2.2·10⁶;
  // their product < 2N·2.2·10¹² — safe to N ≈ 4·10⁵ millions of docs;
  // sat's numerator tf·2.2·10¹² is safe to tf ≈ 4·10⁶. The norm's
  // 750000·dl·N term binds FIRST: it requires dl·N ≲ 1.2·10¹³ (e.g.
  // 10¹⁰ docs × ≤1 200 tokens). Past that, reassociate as
  // 250000 + 750000·((dl·10⁶) DIV avgdl_scaled) — one extra stored
  // avgdl surrogate, same ppm grid — and mirror the oracle; at this
  // corpus's scales the straight form is exact and the headroom real.
  // ---------------------------------------------------------------------

  /** One posting's BM25 term weight in ppm over `idf_ppm`, `tf`, `dl`,
    * `n_docs` and `total_tokens` — shared with the stored hybrid search,
    * which computes it at the scan.
    */
  private[graft] val Bm25TermPpm: String =
    "idf_ppm * ((tf * 2200000 * 1000000) DIV (tf * 1000000 + " +
      "(1200000 * (250000 + (750000 * dl * n_docs) DIV total_tokens)) DIV 1000000)) " +
      "DIV 1000000"

  /** idf_ppm, the RSJ surrogate ((2·(N−df)+1)·10⁶) DIV (2·df+1) — one
    * body for every SQL leg ([[IdfPpm]]) and the stored hybrid search's
    * fold.
    */
  private[graft] def idfPpm(nDocs: Long, df: Long): Long =
    ((2 * (nDocs - df) + 1) * 1000000L) / (2 * df + 1)

  /** [[idfPpm]] over the `n_docs` and `df` columns. */
  private val IdfPpm: Column = udf(idfPpm _).apply(col("n_docs"), col("df"))

  /** One leg's RRF contribution in ppm, 10⁶ DIV (rrfK + rank) — the body
    * [[rrfFuse]] and the stored hybrid search's fold share.
    */
  private[graft] def rrfPpm(rrfK: Long, rank: Long): Long = 1000000L / (rrfK + rank)

  /** Per-(qid, doc) BM25 scores (no ranking) — shared by the ranked
    * top-k and the phrase query (which ranks only phrase-matching docs).
    *
    * `excludeSelf` applies the CORPUS-query protocol's self-exclusion
    * (queries are corpus docs; a doc must not retrieve itself). External
    * queries — the streaming search service, where qids are an unrelated
    * id space — pass false, or a corpus doc whose doc_id happens to equal
    * an arriving qid would be silently excluded from that query's results.
    */
  private def bm25Scores(
      post: DataFrame,
      weighted: DataFrame,
      stats: DataFrame,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val cand = post.join(broadcast(weighted), Seq("w"))
    (if (excludeSelf) cand.filter(col("doc_id") =!= col("qid")) else cand)
      .crossJoin(broadcast(stats)) // single row (n_docs, total_tokens)
      .select(col("qid"), col("doc_id"), expr(Bm25TermPpm).as("term_ppm"))
      .groupBy("qid", "doc_id")
      .agg(sum("term_ppm").as("score"))
  }

  private def bm25Score(
      post: DataFrame,
      weighted: DataFrame,
      stats: DataFrame,
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    bm25Scores(post, weighted, stats, excludeSelf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33c — BM25 top-k, inline form (index built in-plan; the stored-index
    * twin is [[bm25TopKIndexed]], row-identical by law). Same query
    * protocol and plan skeleton as [[keywordTopK]]: one broadcast of the
    * weighted query terms, candidate generation touches only probed terms'
    * posting rows, one keyed aggregation, WindowGroupLimit top-k.
    */
  def bm25TopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val tf = postingsWithLen(docs(spark, dir)).cache()
    val stats = docs(spark, dir)
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qt = tf
      .filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("w"))
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )
    val out = bm25Score(tf, qt, stats, k)
    Eager.materialized(out, tf)
  }

  /** BM25 against the STORED index: merged df layers weight the query
    * terms, summed stats supply N/avgdl, postings are bucket-pruned, and
    * dl rides each posting row (the denormalized norms — no doc join).
    */
  def bm25TopKIndexedOf(
      spark: SparkSession,
      queryTerms: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true // see bm25Scores — false for external qids
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryTerms)
    bm25Score(post, bm25Weighted(qt, dfm, stats), stats, k, excludeSelf)
  }

  /** [[bm25TopKIndexedOf]] with the standard query protocol. */
  def bm25TopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      excludeSelf: Boolean = true
  ): DataFrame =
    bm25TopKIndexedOf(
      spark,
      postings(docs(spark, dir).filter(col("doc_id") < nQueries))
        .select(col("doc_id").as("qid"), col("w")),
      indexDir,
      k,
      excludeSelf
    )

  /** P33d — the BM25 lifecycle twin of [[keywordIndexLifecycle]]: write
    * the history index, append the daily batch, BM25-search the store.
    * Row-identical to the inline [[bm25TopK]] (same oracle).
    */
  def bm25IndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33d-index") { tmp =>
      // frequency-only lifecycle: no positions, no fields, and (round-16)
      // no dict — the bench measures the deployment shape that never
      // serves dictionary queries, so it must not pay the member's build
      writeInvertedIndexOf(
        spark, d.filter(col("doc_id") < split), tmp, withDict = false)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      bm25TopKIndexed(spark, dir, tmp, nQueries, k)
    }
  }

  // ---------------------------------------------------------------------
  // P33e/P33f — PHRASE retrieval: rank documents containing the exact
  // query n-gram, via a positions-adjacency join (reference inverted
  // indexes call these positional postings; Lucene's PhraseQuery). Each
  // query's phrase is its document's first `phraseLen` tokens; a document
  // matches at anchor p when token j of the phrase sits at position p+j
  // for EVERY j — one equi-join of the phrase terms against the positions
  // table, grouped by (query, doc, anchor = pos − j), anchors with all
  // phraseLen slots present count as occurrences. Matching docs are
  // BM25-scored on the phrase terms (same ppm arithmetic as p33c).
  //
  // Scale shape: the positions table is term-keyed like the posting
  // lists — candidate generation touches only the PHRASE TERMS' position
  // rows (broadcast phrase ⋈ positions; stored form additionally
  // partition-prunes to the phrase terms' wb buckets); the anchor
  // aggregation is map-side combinable and its key space is (matching
  // docs × phrase length), never the corpus.
  // ---------------------------------------------------------------------

  /** Ranks docs containing the exact phrase, from explicit inputs:
    * `positions` (doc_id, w, pos), the BM25 legs, and the phrase
    * `(qid, j, w)` with j the 1-based slot.
    */
  private def phraseRank(
      positions: DataFrame,
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      phrase: DataFrame,
      k: Int,
      excludeSelf: Boolean = true // see bm25Scores
  ): DataFrame = {
    // DISTINCT slots: an exact phrase has one row per slot (identical
    // count), a phrase-prefix frame carries one row per EXPANSION at the
    // last slot — the gate is "every slot matched", not "every row"
    val plen = phrase.groupBy("qid").agg(countDistinct("j").as("plen"))
    val hits = positions.join(broadcast(phrase), Seq("w"))
    val occ = (if (excludeSelf) hits.filter(col("doc_id") =!= col("qid"))
               else hits)
      .select(
        col("qid"),
        col("doc_id"),
        (col("pos") - col("j")).as("anchor"),
        col("j")
      )
      .groupBy("qid", "doc_id", "anchor")
      .agg(countDistinct("j").as("nj"))
      .join(broadcast(plen), Seq("qid"))
      .filter(col("nj") === col("plen"))
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
    val weighted = phrase
      .select("qid", "w")
      .distinct()
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    occ
      .join(bm25Scores(post, weighted, stats, excludeSelf), Seq("qid", "doc_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score", "n_occurrences")
      .orderBy("qid", "rank")
  }

  /** The standard phrase protocol: each query doc's first `phraseLen`
    * tokens as (qid, j, w) — row-local, never from the index.
    */
  private[graft] def queryPhrases(
      d: DataFrame,
      nQueries: Int,
      phraseLen: Int
  ): DataFrame =
    phrasesOf(d.filter(col("doc_id") < nQueries), phraseLen)

  /** Every row's first `phraseLen` tokens as (qid = doc_id, j, w). */
  private[graft] def phrasesOf(d: DataFrame, phraseLen: Int): DataFrame =
    positionalPostings(d)
      .filter(col("pos") <= phraseLen)
      .select(col("doc_id").as("qid"), col("pos").as("j"), col("w"))

  /** P33e — phrase top-k, inline form (positions computed in-plan; the
    * stored-index twin is [[phraseTopKIndexed]], row-identical by law).
    */
  def phraseTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out = phraseRank(
      positionalPostings(d),
      tf,
      dfm,
      stats,
      queryPhrases(d, nQueries, phraseLen),
      k
    )
    Eager.materialized(out, tf)
  }

  /** Phrase top-k against the STORED positional index: the positions
    * scan, posting scan, and df merge are all partition-pruned to the
    * phrase terms' wb buckets. `phrase` is (qid, j, w).
    */
  def phraseTopKIndexedOf(
      spark: SparkSession,
      phrase: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true // see bm25Scores — false for external qids
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(
      spark,
      indexDir,
      phrase.select("qid", "w").distinct()
    )
    val probedWb = qt.select("wb").distinct().collect().map(_.getLong(0))
    val positions = spark.read
      .parquet(liveDir(indexDir, "positions"))
      .where(col("wb").isin(probedWb.toIndexedSeq: _*))
      .select("doc_id", "w", "pos")
    phraseRank(positions, post, dfm, stats, phrase, k, excludeSelf)
  }

  /** [[phraseTopKIndexedOf]] with the standard phrase protocol. */
  def phraseTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      excludeSelf: Boolean = true
  ): DataFrame =
    phraseTopKIndexedOf(
      spark,
      queryPhrases(docs(spark, dir), nQueries, phraseLen),
      indexDir,
      k,
      excludeSelf
    )

  /** P33f — the phrase lifecycle twin of [[keywordIndexLifecycle]]: build
    * the positional history index, append the daily batch, phrase-search
    * the store. Row-identical to the inline [[phraseTopK]] (same oracle).
    */
  def phraseIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33f-index") { tmp =>
      writeInvertedIndexOf(
        spark,
        d.filter(col("doc_id") < split),
        tmp,
        withPositions = true
      )
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      phraseTopKIndexed(spark, dir, tmp, nQueries, k, phraseLen)
    }
  }

  /** The phrase-prefix protocol (Lucene MatchPhrasePrefixQuery): the
    * query doc's first `phraseLen − 1` tokens exactly, then the first
    * `prefixLen` characters of token `phraseLen` as a PREFIX — the
    * search-as-you-type query. Output: ((qid, j, w) exact slots,
    * (qid, pfx) last-slot prefixes).
    */
  private def queryPhrasePrefix(
      d: DataFrame,
      nQueries: Int,
      phraseLen: Int,
      prefixLen: Int
  ): (DataFrame, DataFrame) = {
    val posq = positionalPostings(d.filter(col("doc_id") < nQueries))
    val exact = posq
      .filter(col("pos") < phraseLen)
      .select(col("doc_id").as("qid"), col("pos").as("j"), col("w"))
    val prefixes = posq
      .filter(col("pos") === phraseLen)
      .select(
        col("doc_id").as("qid"),
        substring(col("w"), 1, prefixLen).as("pfx")
      )
    (exact, prefixes)
  }

  /** Expands the last slot's prefixes against a (w)-grain dictionary
    * view and returns the FULL phrase frame (exact slots ∪ one row per
    * expansion at slot `phraseLen`) — [[phraseRank]] gates on distinct
    * slots, so any expansion completing the phrase matches.
    */
  private def phrasePrefixFrame(
      terms: DataFrame,
      exact: DataFrame,
      prefixes: DataFrame,
      phraseLen: Int,
      maxExpansions: Int
  ): DataFrame = {
    val expansionW = Window.partitionBy("qid").orderBy("w")
    val lastSlot = terms
      .select("w")
      .distinct()
      .join(broadcast(prefixes), col("w").startsWith(col("pfx")))
      .select("qid", "w")
      .withColumn("rn", row_number().over(expansionW))
      .filter(col("rn") <= maxExpansions)
      .select(col("qid"), lit(phraseLen).cast("int").as("j"), col("w"))
    exact.select(col("qid"), col("j").cast("int").as("j"), col("w"))
      .unionByName(lastSlot)
  }

  /** P33u — PHRASE-PREFIX top-k, inline form: documents containing the
    * exact leading tokens immediately followed by ANY term with the
    * last slot's prefix (capped expansion, term order). Ranked like the
    * phrase family: BM25 ppm over the query's terms (expansions
    * included — they are the query), occurrence count carried.
    */
  def phrasePrefixTopK(
      spark: SparkSession,
      dir: String,
      // round-16 widening (verdict #7): 10 queries with a 1-char prefix
      // exercise many expansion shapes (the cap genuinely bites) and put
      // ≥ 25 rows under the oracle at both SFs, vs 4 at the old defaults
      nQueries: Int = 10,
      k: Int = 5,
      phraseLen: Int = 3,
      prefixLen: Int = 1,
      maxExpansions: Int = 64
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val (exact, prefixes) = queryPhrasePrefix(d, nQueries, phraseLen, prefixLen)
    val frame = phrasePrefixFrame(tf, exact, prefixes, phraseLen, maxExpansions)
    val out = phraseRank(positionalPostings(d), tf, dfm, stats, frame, k)
    Eager.materialized(out, tf)
  }

  /** Phrase-prefix against the STORED index: the expansion reads the
    * range-pruned `dict` member, then positions/postings/df prune to
    * the frame's wb buckets (the p33f machinery over the expanded
    * frame). `exact` is (qid, j, w); `prefixes` is (qid, pfx).
    */
  def phrasePrefixTopKIndexedOf(
      spark: SparkSession,
      exact: DataFrame,
      prefixes: DataFrame,
      indexDir: String,
      k: Int = 5,
      phraseLen: Int = 3,
      maxExpansions: Int = 64,
      excludeSelf: Boolean = true
  ): DataFrame = {
    repairInvertedIndex(indexDir)
    val pfxs = prefixes
      .select("pfx")
      .distinct()
      .collect() // ≤ nQueries — the driver-bounded pushdown set
      .map(_.getString(0))
      .toSeq
    val dict = spark.read.parquet(requireDict(indexDir))
    val dictPruned =
      if (pfxs.isEmpty) dict.limit(0)
      else dict.where(pfxs.map(prefixRangeCond(col("w"), _)).reduce(_ || _))
    val frame = phrasePrefixFrame(
      dictPruned, exact, prefixes, phraseLen, maxExpansions)
      .cache()
    Eager.materialized( // release the cache (round-15 advice)
      phraseTopKIndexedOf(spark, frame, indexDir, k, excludeSelf),
      frame)
  }

  /** P33u2 — the phrase-prefix lifecycle twin (same oracle as p33u by
    * the indexed ≡ inline law).
    */
  def phrasePrefixIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 10, // round-16 widening — see phrasePrefixTopK
      k: Int = 5,
      phraseLen: Int = 3,
      prefixLen: Int = 1
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33u2-index") { tmp =>
      writeInvertedIndexOf(
        spark, d.filter(col("doc_id") < split), tmp, withPositions = true)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      val (exact, prefixes) = queryPhrasePrefix(d, nQueries, phraseLen, prefixLen)
      phrasePrefixTopKIndexedOf(spark, exact, prefixes, tmp, k, phraseLen)
    }
  }

  // ---------------------------------------------------------------------
  // P33g/P33h — ORDERED-PROXIMITY retrieval (the sloppy-phrase / Indri
  // #uwN family): rank documents where the phrase terms occur IN ORDER
  // within a `window`-token span — exact adjacency relaxed to nearness,
  // the ranking signal proximity-aware engines add on top of BM25. A
  // match is a position tuple p1 < p2 < … < pk with pk < p1 + window;
  // the count of such tuples is the doc's window count.
  //
  // Scale shape: a chain of per-slot equi-joins — each slot's leg is the
  // positions of that slot's (query, term) pairs (broadcast phrase ⋈
  // positions, bucket-pruned in the stored form), joined on (qid, doc_id)
  // with the window band applied as a RESIDUAL predicate after the hash
  // join. Corpus-wise the cost is linear in the phrase terms' position
  // lists; WITHIN a single document the step-j intermediate is
  // |surviving chains| × |slot-j positions in that doc| — worst case dl²
  // for a document of length dl whose tokens are all the probed term, a
  // PER-DOCUMENT bound, not a corpus one (documents are length-bounded;
  // the stopword-led stress probe measured hot 1.94 s vs rare 0.74 s at
  // 200k docs, RetrievalSkewStress). If a pathological long-document
  // class ever matters, the escape is a true positional band join
  // (bin = pos DIV window — the w6 machinery) applied slot-to-slot,
  // which caps each probe at the band's width instead of dl.
  // ---------------------------------------------------------------------

  /** Positions-per-slot window-tuple counting (round-17, guide §2.4):
    * the proximity rankers used to MATERIALIZE one row per (partial)
    * matched tuple through a chain of maxJ−1 joins on (qid, doc_id) —
    * each join an exchange at matched-tuple grain — then count the
    * survivors. A document's phrase-term positions are complete within
    * one (qid, doc_id) group, so the tuple count is a ROW-LOCAL function
    * of the per-slot position lists: ONE broadcast term join + ONE
    * (qid, doc_id) aggregation replaces the chain, whatever the phrase
    * length. The native counters below reproduce the chains' counts
    * EXACTLY (the superseded chain forms are rebuilt verbatim in
    * OptimizedKernelsSpec and pinned on adversarial fixtures — repeated
    * terms, duplicate positions across slots, boundary windows), and
    * every consumer is oracle-hash-checked on top.
    */
  /** Ordered (p33g/h, the hybrid proximity legs): tuples (p₁ … p_m),
    * p_j ∈ slot j's positions, strictly increasing, p_j < p₁ + window
    * for j ≥ 2 — the chain's `pn > pj && pn < p1 + window` step, counted
    * by a backward suffix-sum DP per p₁ (no enumeration blow-up).
    */
  private def orderedTupleCount(maxJ: Int, window: Int) =
    udf((js: Seq[Long], ps: Seq[Long]) => orderedTuples(maxJ, window, js, ps))

  /** The ordered window-tuple count of one (query, doc) group's (slot,
    * position) pairs — the body of [[orderedTupleCount]], shared with the
    * stored hybrid search's fold.
    */
  private[graft] def orderedTuples(
      maxJ: Int,
      window: Int,
      js: Seq[Long],
      ps: Seq[Long]
  ): Long = {
    val bySlot =
      Array.fill(maxJ)(scala.collection.mutable.ArrayBuffer.empty[Long])
    var i = 0
    while (i < js.length) {
      val j = js(i).toInt - 1
      if (j >= 0 && j < maxJ) bySlot(j) += ps(i)
      i += 1
    }
    if (bySlot.exists(_.isEmpty)) 0L
    else {
      val slots = bySlot.map(_.toArray.sorted)
      var total = 0L
      slots(0).foreach { p1 =>
        val bound = p1 + window
        // ways(j)(q) = completions of slots j+1..M given slot j chose q
        var ways: Array[Long] = Array.fill(slots(maxJ - 1).length)(1L)
        var j = maxJ - 2
        while (j >= 0) {
          val nxt = slots(j + 1)
          // suffix sums of ways over nxt positions < bound
          val cut = {
            var lo = 0; var hi = nxt.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (nxt(mid) < bound) lo = mid + 1 else hi = mid
            }
            lo
          }
          val suffix = new Array[Long](cut + 1)
          var s = cut - 1
          while (s >= 0) { suffix(s) = suffix(s + 1) + ways(s); s -= 1 }
          val cur = slots(j)
          ways = cur.map { q =>
            // first index in nxt with position > q (strictly)
            var lo = 0; var hi = cut
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (nxt(mid) <= q) lo = mid + 1 else hi = mid
            }
            suffix(lo)
          }
          j -= 1
        }
        // slot 1's own position needs no bound check (p1 < p1 + window)
        val idx = java.util.Arrays.binarySearch(slots(0), p1)
        total += ways(idx)
      }
      total
    }
  }

  /** Unordered (p33w/w2 — Indri's #uwN): each slot takes a DISTINCT
    * position of its term, any order, total spread max − min < window;
    * counted by slot-order enumeration with the chain's own
    * spread-grows-monotonically pruning (the intermediate bound is the
    * chain's own row count).
    */
  private def unorderedTupleCount(maxJ: Int, window: Int) =
    udf((js: Seq[Long], ps: Seq[Long]) => {
      val bySlot =
        Array.fill(maxJ)(scala.collection.mutable.ArrayBuffer.empty[Long])
      var i = 0
      while (i < js.length) {
        val j = js(i).toInt - 1
        if (j >= 0 && j < maxJ) bySlot(j) += ps(i)
        i += 1
      }
      if (bySlot.exists(_.isEmpty)) 0L
      else {
        val slots = bySlot.map(_.toArray.sorted)
        val chosen = new Array[Long](maxJ)
        def rec(j: Int, mn: Long, mx: Long): Long =
          if (j == maxJ) 1L
          else {
            var c = 0L
            val sl = slots(j)
            var x = 0
            while (x < sl.length) {
              val p = sl(x)
              var dup = false
              var y = 0
              while (y < j && !dup) { if (chosen(y) == p) dup = true; y += 1 }
              if (!dup) {
                val nmn = math.min(mn, p)
                val nmx = math.max(mx, p)
                if (nmx - nmn < window) {
                  chosen(j) = p
                  c += rec(j + 1, nmn, nmx)
                }
              }
              x += 1
            }
            c
          }
        var total = 0L
        slots(0).foreach { p => chosen(0) = p; total += rec(1, p, p) }
        total
      }
    })

  /** The per-(query, doc) window-tuple counts: one broadcast join of the
    * positions onto the phrase slots, one keyed aggregation, the
    * row-local counter — shared by the ordered and unordered rankers.
    */
  private[graft] def windowCounts(
      positions: DataFrame,
      phrase: DataFrame,
      maxJ: Int,
      window: Int,
      excludeSelf: Boolean,
      ordered: Boolean
  ): DataFrame = {
    val hits =
      positions.join(broadcast(phrase.select("qid", "w", "j")), Seq("w"))
    val h =
      if (excludeSelf) hits.filter(col("doc_id") =!= col("qid")) else hits
    val counter =
      if (ordered) orderedTupleCount(maxJ, window)
      else unorderedTupleCount(maxJ, window)
    h.groupBy("qid", "doc_id")
      .agg(
        collect_list(
          struct(col("j").cast("long").as("j"), col("pos").cast("long").as("pos"))
        ).as("sp")
      )
      .select(
        col("qid"),
        col("doc_id"),
        counter(
          expr("transform(sp, s -> s.j)"),
          expr("transform(sp, s -> s.pos)")
        ).as("n_windows")
      )
      .filter(col("n_windows") > 0L)
  }

  private def proximityRank(
      positions: DataFrame,
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      phrase: DataFrame,
      k: Int,
      window: Int,
      excludeSelf: Boolean = true // see bm25Scores
  ): DataFrame = {
    val maxJ = phrase
      .agg(coalesce(max("j"), lit(0L)))
      .head()
      .getLong(0)
      .toInt // = phraseLen, the query protocol's own bound
    proximityScored(
      windowCounts(positions, phrase, maxJ, window, excludeSelf, ordered = true),
      post, dfm, stats, phrase, k, excludeSelf)
  }

  /** Shared ranking tail of the proximity family: window-tuple counts per
    * (query, doc) joined onto the BM25 scores of the phrase terms — the
    * proximity operators differ only in WHICH tuples count.
    */
  private def proximityScored(
      occ: DataFrame, // (qid, doc_id, n_windows), n_windows > 0
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      phrase: DataFrame,
      k: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val weighted = phrase
      .select("qid", "w")
      .distinct()
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    occ
      .join(bm25Scores(post, weighted, stats, excludeSelf), Seq("qid", "doc_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score", "n_windows")
      .orderBy("qid", "rank")
  }

  /** UNORDERED-proximity window counting (Indri's `#uwN`, completing the
    * p33g ordered form — round-15 verdict): a match assigns each phrase
    * slot a DISTINCT position of its term, in ANY order, with total
    * spread max − min < window. Every ordered tuple (p₁ < … < p_k,
    * p_k < p₁ + window) satisfies these constraints, so ordered ⊆
    * unordered at equal window — the containment law the spec pins.
    * Slots with the SAME term count each distinct-position assignment
    * (the slot-assignment semantics; the ordered form counts the same
    * way). Chain shape and cost bound are p33g's, with the slot-j step
    * keeping the chosen positions p₁..p_j as columns (bounded by
    * phraseLen) for the pairwise-distinct and spread residuals.
    */
  private def unorderedProximityRank(
      positions: DataFrame,
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      phrase: DataFrame,
      k: Int,
      window: Int,
      excludeSelf: Boolean = true // see bm25Scores
  ): DataFrame = {
    val maxJ = phrase
      .agg(coalesce(max("j"), lit(0L)))
      .head()
      .getLong(0)
      .toInt
    proximityScored(
      windowCounts(positions, phrase, maxJ, window, excludeSelf, ordered = false),
      post, dfm, stats, phrase, k, excludeSelf)
  }

  /** P33w — unordered-proximity top-k, inline form. */
  def unorderedProximityTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out = unorderedProximityRank(
      positionalPostings(d),
      tf,
      dfm,
      stats,
      queryPhrases(d, nQueries, phraseLen),
      k,
      window
    )
    Eager.materialized(out, tf)
  }

  /** Unordered-proximity top-k against the STORED positional index (all
    * scans bucket-pruned to the phrase terms, like the ordered form).
    */
  def unorderedProximityTopKIndexedOf(
      spark: SparkSession,
      phrase: DataFrame,
      indexDir: String,
      k: Int = 5,
      window: Int = 8,
      excludeSelf: Boolean = true // see bm25Scores — false for external qids
  ): DataFrame = {
    val v = indexViewsShared(spark, indexDir, Seq(phrase.select("qid", "w").distinct()))
    val positions = positionsView(spark, indexDir, v.probedWb)
    unorderedProximityRank(positions, v.post, v.dfm, v.stats, phrase, k, window, excludeSelf)
  }

  /** P33w2 — unordered proximity through the stored positional-index
    * lifecycle (same oracle as p33w by the indexed ≡ inline law).
    */
  def unorderedProximityIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33w2-index") { tmp =>
      writeInvertedIndexOf(
        spark,
        d.filter(col("doc_id") < split),
        tmp,
        withPositions = true
      )
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      unorderedProximityTopKIndexedOf(
        spark, queryPhrases(d, nQueries, phraseLen), tmp, k, window)
    }
  }

  /** P33g — ordered-proximity top-k, inline form. */
  def proximityTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out = proximityRank(
      positionalPostings(d),
      tf,
      dfm,
      stats,
      queryPhrases(d, nQueries, phraseLen),
      k,
      window
    )
    Eager.materialized(out, tf)
  }

  /** Proximity top-k against the STORED positional index (all scans
    * bucket-pruned to the phrase terms).
    */
  def proximityTopKIndexedOf(
      spark: SparkSession,
      phrase: DataFrame,
      indexDir: String,
      k: Int = 5,
      window: Int = 8,
      excludeSelf: Boolean = true // see bm25Scores — false for external qids
  ): DataFrame = {
    val v = indexViewsShared(spark, indexDir, Seq(phrase.select("qid", "w").distinct()))
    val positions = positionsView(spark, indexDir, v.probedWb)
    proximityRank(positions, v.post, v.dfm, v.stats, phrase, k, window, excludeSelf)
  }

  /** [[proximityTopKIndexedOf]] with the standard phrase protocol. */
  def proximityTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8,
      excludeSelf: Boolean = true
  ): DataFrame =
    proximityTopKIndexedOf(
      spark,
      queryPhrases(docs(spark, dir), nQueries, phraseLen),
      indexDir,
      k,
      window,
      excludeSelf
    )

  /** P33h — the proximity lifecycle twin (same oracle as p33g by the
    * indexed ≡ inline law).
    */
  def proximityIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33h-index") { tmp =>
      writeInvertedIndexOf(
        spark,
        d.filter(col("doc_id") < split),
        tmp,
        withPositions = true
      )
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      proximityTopKIndexed(spark, dir, tmp, nQueries, k, phraseLen, window)
    }
  }

  // ---------------------------------------------------------------------
  // P33i/P33j — BOOLEAN conjunctive retrieval (Lucene's BooleanQuery
  // MUST / "all terms required" mode): only documents containing EVERY
  // query term qualify, ranked by the p33c BM25 arithmetic. The OR-mode
  // rankers (keyword/BM25) score any overlap; production search engines
  // expose AND as the precision mode, and it is also the cheap
  // candidate-gate of the minimal-interval/WAND family.
  //
  // Scale shape: identical to the BM25 candidate generation (posting
  // rows of the probed terms only, bucket-pruned in the stored form)
  // plus ONE more keyed aggregation — the distinct-matched-terms count
  // per (query, doc) compared to the query's term count. The gate
  // SHRINKS the ranking input (conjunction ⊆ any-overlap), so the
  // expensive tail (window top-k) sees fewer rows than BM25's.
  // ---------------------------------------------------------------------

  /** The boolean query protocol: each query doc's first `qLen` DISTINCT
    * terms in first-occurrence order — a realistic short conjunctive
    * query, derived row-locally (never from the index).
    */
  private def queryAndTerms(
      d: DataFrame,
      nQueries: Int,
      qLen: Int
  ): DataFrame = {
    val firstPos = positionalPostings(d.filter(col("doc_id") < nQueries))
      .groupBy(col("doc_id").as("qid"), col("w"))
      .agg(min("pos").as("minp"))
    val w = Window.partitionBy("qid").orderBy(col("minp"))
    firstPos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= qLen)
      .select("qid", "w")
  }

  /** Ranks the docs containing ALL of each query's terms, from explicit
    * inputs (post, dfm, stats as in the BM25 legs; `qterms` = (qid, w)
    * distinct).
    */
  private def andRank(
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      qterms: DataFrame,
      k: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val qt = qterms.select("qid", "w").distinct()
    val nt = qt.groupBy("qid").agg(countDistinct("w").as("nt"))
    // seed from each query's RAREST term (merged df): a qualifying doc
    // must contain every term, so the rarest term's posting list bounds
    // the whole conjunction — the classic ordered-intersection win, here
    // as a semi-join that kills a stopword's corpus-sized posting rows
    // in a hash probe BEFORE any per-doc aggregation runs (the gate agg
    // input is |rarest list| × query terms, never |longest list|)
    val wr = Window.partitionBy("qid").orderBy(col("df"), col("w"))
    val rarest = qt
      .join(dfm, Seq("w"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select("qid", "w")
    val seed0 = post
      .join(broadcast(rarest), Seq("w"))
      .select("qid", "doc_id")
    val seed =
      if (excludeSelf) seed0.filter(col("doc_id") =!= col("qid")) else seed0
    val weighted = qt
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )
    // ONE pass computes the gate and the scores together: candidates
    // (already seed-pruned, so a stopword's corpus-sized rows died in
    // the hash probe) aggregate BOTH the distinct-matched-term count
    // and the BM25 ppm sum per (query, doc); the gate is then a filter
    // on the aggregate row. A doc's BM25 score over the query terms
    // does not depend on other docs, so gating at the aggregate leaves
    // every surviving score unchanged — and the rank window's input is
    // bounded by the rarest term's posting list, never the longest's.
    val cand = post
      .join(broadcast(weighted), Seq("w"))
      .join(seed, Seq("qid", "doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    cand
      .groupBy("qid", "doc_id")
      .agg(
        countDistinct("w").as("nm"),
        sum(expr(Bm25TermPpm)).as("score")
      )
      .join(broadcast(nt), Seq("qid"))
      .filter(col("nm") === col("nt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33i — boolean AND top-k, inline form. */
  def booleanTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      qLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out =
      andRank(tf, dfm, stats, queryAndTerms(d, nQueries, qLen), k, excludeSelf = true)
    Eager.materialized(out, tf)
  }

  /** Boolean AND top-k against the STORED index (scans bucket-pruned to
    * the query terms). `queryTerms` is (qid, w) — each query's distinct
    * required terms.
    */
  def booleanTopKIndexedOf(
      spark: SparkSession,
      queryTerms: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true // see bm25Scores — false for external qids
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryTerms)
    andRank(post, dfm, stats, qt.select("qid", "w"), k, excludeSelf)
  }

  /** [[booleanTopKIndexedOf]] with the standard boolean protocol. */
  def booleanTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      qLen: Int = 3,
      excludeSelf: Boolean = true
  ): DataFrame =
    booleanTopKIndexedOf(
      spark,
      queryAndTerms(docs(spark, dir), nQueries, qLen),
      indexDir,
      k,
      excludeSelf
    )

  /** P33j — the boolean lifecycle twin (same oracle as p33i by the
    * indexed ≡ inline law).
    */
  def booleanIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      qLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33j-index") { tmp =>
      // frequency-only lifecycle: no positions, no fields, and (round-16)
      // no dict — the bench measures the deployment shape that never
      // serves dictionary queries, so it must not pay the member's build
      writeInvertedIndexOf(
        spark, d.filter(col("doc_id") < split), tmp, withDict = false)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      booleanTopKIndexed(spark, dir, tmp, nQueries, k, qLen)
    }
  }

  /** The FULL boolean query protocol (the Lucene clause matrix): each
    * query doc's first 5 DISTINCT terms in first-occurrence order, role
    * by position — terms 1-2 MUST (all required), term 3 MUST_NOT (any
    * match excludes), terms 4-5 SHOULD (optional, score-bearing).
    * Derived row-locally like every query protocol (never from the
    * index). Output: (qid, w, role).
    */
  private def queryBooleanRoles(
      d: DataFrame,
      nQueries: Int,
      nMust: Int = 2,
      nNot: Int = 1,
      nShould: Int = 2
  ): DataFrame = {
    val firstPos = positionalPostings(d.filter(col("doc_id") < nQueries))
      .groupBy(col("doc_id").as("qid"), col("w"))
      .agg(min("pos").as("minp"))
    val w = Window.partitionBy("qid").orderBy(col("minp"))
    firstPos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nMust + nNot + nShould)
      .select(
        col("qid"),
        col("w"),
        when(col("rn") <= nMust, "must")
          .when(col("rn") <= nMust + nNot, "must_not")
          .otherwise("should")
          .as("role")
      )
  }

  /** Ranks docs for a FULL boolean query — MUST terms all required (the
    * p33i gate), MUST_NOT terms excluding (left-anti on the gate
    * aggregation — the w7 orphan shape transposed to retrieval), SHOULD
    * terms optional but score-bearing — from explicit inputs. Scoring is
    * the BM25 ppm sum over each doc's matched MUST ∪ SHOULD terms (the
    * Lucene convention: required and optional clauses both contribute;
    * exclusions never do).
    *
    * Scale shape: candidates are seed-pruned by the rarest MUST term's
    * posting list BEFORE any aggregation (the p33i ordered-intersection
    * win — a SHOULD stopword's corpus-sized posting rows die in the hash
    * probe), and the MUST_NOT leg is semi-joined against the same seed
    * before the anti join, so the exclusion side is bounded by the
    * candidate set too, never by a stopword exclusion's corpus-sized
    * list. Everything downstream of the seed is
    * O(|rarest MUST list| × query terms).
    */
  private def booleanQueryRank(
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      qroles: DataFrame, // (qid, w, role)
      k: Int,
      excludeSelf: Boolean,
      minShouldMatch: Int = 0 // Lucene minimumNumberShouldMatch: a doc
      //   must additionally match at least this many DISTINCT SHOULD
      //   terms (0 = SHOULD stays purely optional, the p33k semantics).
      //   Counted in the SAME gate aggregate as the MUST count — no new
      //   shuffle; a query with fewer SHOULD terms than the threshold
      //   matches nothing, exactly as Lucene's rewrite does.
  ): DataFrame = {
    // a term named under two roles for one query resolves by clause
    // precedence (MUST_NOT > MUST > SHOULD — Lucene's semantics: an
    // excluded term can never score); the corpus protocol's roles are
    // disjoint by construction, but service callers' clause texts can
    // overlap, and a double-rolled term must not double-count its ppm
    val wp = Window
      .partitionBy("qid", "w")
      .orderBy(
        when(col("role") === "must_not", 0)
          .when(col("role") === "must", 1)
          .otherwise(2)
      )
    val qr = qroles
      .select("qid", "w", "role")
      .distinct()
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") === 1)
      .drop("prn")
    val must = qr.filter(col("role") === "must").select("qid", "w")
    val mustNot = qr.filter(col("role") === "must_not").select("qid", "w")
    val scoring = qr.filter(col("role") =!= "must_not")
    val nt = must.groupBy("qid").agg(countDistinct("w").as("nt"))
    val wr = Window.partitionBy("qid").orderBy(col("df"), col("w"))
    val rarest = must
      .join(dfm, Seq("w"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select("qid", "w")
    val seed0 = post
      .join(broadcast(rarest), Seq("w"))
      .select("qid", "doc_id")
    val seed =
      if (excludeSelf) seed0.filter(col("doc_id") =!= col("qid")) else seed0
    val weighted = scoring
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("w"),
        col("role"),
        IdfPpm.as("idf_ppm")
      )
    // the one gate-and-score pass (see andRank): nm counts only MUST
    // matches, the score sums MUST ∪ SHOULD matches — same aggregate
    val cand = post
      .join(broadcast(weighted), Seq("w"))
      .join(seed, Seq("qid", "doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
    // exclusions bounded by the seed: anti's right side is candidate-
    // sized, not posting-list-sized (restricting to seed pairs cannot
    // change the anti result — cand pairs are themselves seed-pruned)
    val excl = post
      .join(broadcast(mustNot), Seq("w"))
      .select("qid", "doc_id")
      .join(seed, Seq("qid", "doc_id"), "left_semi")
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    cand
      .groupBy("qid", "doc_id")
      .agg(
        countDistinct(when(col("role") === "must", col("w"))).as("nm"),
        countDistinct(when(col("role") === "should", col("w"))).as("ns"),
        sum(expr(Bm25TermPpm)).as("score")
      )
      .join(broadcast(nt), Seq("qid"))
      .filter(col("nm") === col("nt") && col("ns") >= minShouldMatch)
      .join(excl, Seq("qid", "doc_id"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33k — full boolean (MUST / MUST_NOT / SHOULD) top-k, inline form.
    * `minShouldMatch` > 0 is the p33s variant (Lucene
    * minimumNumberShouldMatch — optional clauses become a quorum).
    */
  def booleanQueryTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      minShouldMatch: Int = 0
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out = booleanQueryRank(
      tf, dfm, stats, queryBooleanRoles(d, nQueries), k,
      excludeSelf = true, minShouldMatch)
    Eager.materialized(out, tf)
  }

  /** Full boolean top-k against the STORED index (scans bucket-pruned to
    * the query's terms — MUST, MUST_NOT and SHOULD buckets alike).
    * `queryRoles` is (qid, w, role).
    */
  def booleanQueryTopKIndexedOf(
      spark: SparkSession,
      queryRoles: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true, // see bm25Scores — false for external qids
      minShouldMatch: Int = 0
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryRoles)
    booleanQueryRank(
      post, dfm, stats, qt.select("qid", "w", "role"), k, excludeSelf,
      minShouldMatch)
  }

  /** [[booleanQueryTopKIndexedOf]] with the standard full-boolean
    * protocol.
    */
  def booleanQueryTopKIndexed(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      nQueries: Int = 5,
      k: Int = 5,
      excludeSelf: Boolean = true,
      minShouldMatch: Int = 0
  ): DataFrame =
    booleanQueryTopKIndexedOf(
      spark,
      queryBooleanRoles(docs(spark, dir), nQueries),
      indexDir,
      k,
      excludeSelf,
      minShouldMatch
    )

  /** P33l — the full-boolean lifecycle twin (same oracle as p33k by the
    * indexed ≡ inline law).
    */
  def booleanQueryLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33l-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      booleanQueryTopKIndexed(spark, dir, tmp, nQueries, k)
    }
  }

  /** The OR-of-ANDs (disjunctive normal form) query protocol: each
    * query doc's first 4 DISTINCT terms in first-occurrence order form
    * TWO conjunctive clauses — clause 0 = terms 1-2, clause 1 = terms
    * 3-4. A document qualifies by matching ALL terms of ANY clause.
    * Output: (qid, cid, w).
    */
  private def queryDnfClauses(
      d: DataFrame,
      nQueries: Int,
      nClauses: Int = 2,
      clauseLen: Int = 2
  ): DataFrame = {
    val firstPos = positionalPostings(d.filter(col("doc_id") < nQueries))
      .groupBy(col("doc_id").as("qid"), col("w"))
      .agg(min("pos").as("minp"))
    val w = Window.partitionBy("qid").orderBy(col("minp"))
    firstPos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nClauses * clauseLen)
      .select(
        col("qid"),
        ((col("rn") - 1) / clauseLen).cast("int").as("cid"),
        col("w")
      )
  }

  /** Ranks docs for an OR-of-ANDs query — a UNION of seed-pruned AND
    * gates (Lucene's BooleanQuery of SHOULD-wrapped conjunctions): each
    * clause gates independently through ITS rarest term's posting list
    * (the p33i ordered-intersection win applied per clause — no clause
    * ever scans beyond its own rarest list), a doc's score is the SUM of
    * its matched clauses' BM25 ppm scores (Lucene: every matching
    * optional clause contributes; a term shared by two clauses counts in
    * each, because each clause scores independently), and non-matching
    * clauses contribute nothing.
    */
  private def dnfRank(
      post: DataFrame,
      dfm: DataFrame,
      stats: DataFrame,
      qclauses: DataFrame, // (qid, cid, w)
      k: Int,
      excludeSelf: Boolean
  ): DataFrame = {
    val qc = qclauses.select("qid", "cid", "w").distinct()
    val nt = qc.groupBy("qid", "cid").agg(countDistinct("w").as("nt"))
    val wr = Window.partitionBy("qid", "cid").orderBy(col("df"), col("w"))
    val rarest = qc
      .join(dfm, Seq("w"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select("qid", "cid", "w")
    val seed0 = post
      .join(broadcast(rarest), Seq("w"))
      .select("qid", "cid", "doc_id")
    val seed =
      if (excludeSelf) seed0.filter(col("doc_id") =!= col("qid")) else seed0
    val weighted = qc
      .join(dfm, Seq("w"))
      .crossJoin(broadcast(stats))
      .select(
        col("qid"),
        col("cid"),
        col("w"),
        IdfPpm.as("idf_ppm")
      )
    val cand = post
      .join(broadcast(weighted), Seq("w"))
      .join(seed, Seq("qid", "cid", "doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    cand
      .groupBy("qid", "cid", "doc_id")
      .agg(
        countDistinct("w").as("nm"),
        sum(expr(Bm25TermPpm)).as("cscore")
      )
      .join(broadcast(nt), Seq("qid", "cid"))
      .filter(col("nm") === col("nt")) // the clause's AND gate
      .groupBy("qid", "doc_id")
      .agg(sum("cscore").as("score")) // UNION of gates: matched clauses sum
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "score")
      .orderBy("qid", "rank")
  }

  /** P33s2 — OR-of-ANDs (DNF) top-k, inline form. */
  def dnfTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val stats = d
      .select(
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("dl")
      )
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val out =
      dnfRank(tf, dfm, stats, queryDnfClauses(d, nQueries), k, excludeSelf = true)
    Eager.materialized(out, tf)
  }

  /** DNF top-k against the STORED index (scans bucket-pruned to every
    * clause's terms). `queryClauses` is (qid, cid, w).
    */
  def dnfTopKIndexedOf(
      spark: SparkSession,
      queryClauses: DataFrame,
      indexDir: String,
      k: Int = 5,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryClauses)
    dnfRank(post, dfm, stats, qt.select("qid", "cid", "w"), k, excludeSelf)
  }

  /** P33s3 — the DNF lifecycle twin (same oracle as p33s2 by the
    * indexed ≡ inline law).
    */
  def dnfIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33s3-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      dnfTopKIndexedOf(spark, queryDnfClauses(d, nQueries), tmp, k)
    }
  }

  /** BEST-WINDOW anchor (the Lucene highlighter's window selection,
    * lucene/highlighter/.../PassageScorer semantics reduced to counts):
    * among a hit's matched-term positions, pick the one whose symmetric
    * ±`window` token range contains the MOST matched positions — the
    * densest excerpt — with ties broken toward the EARLIEST position,
    * so the round-14 first-match anchor is exactly the degenerate case
    * when all densities tie. The matched-position frame is
    * result-page-sized (hit docs × query-term occurrences), so the
    * density pass is a band self-join over tiny per-(qid,doc) groups;
    * exact integer counts keep it oracle-replayable.
    */
  private def bestAnchorOf(matched: DataFrame, window: Int): DataFrame = {
    val a = matched.select(col("qid"), col("doc_id"), col("pos"))
    val b = matched.select(col("qid"), col("doc_id"), col("pos").as("p2"))
    val wArg =
      Window.partitionBy("qid", "doc_id").orderBy(col("cnt").desc, col("pos"))
    a.join(b, Seq("qid", "doc_id"))
      .filter(col("p2") >= col("pos") - window && col("p2") <= col("pos") + window)
      .groupBy("qid", "doc_id", "pos")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("qid"), col("doc_id"), col("pos").as("anchor"))
  }

  /** P33m — SNIPPETS (hit highlighting): for each BM25 top-k hit, the
    * ±`window`-token text window around the hit's BEST matched anchor
    * ([[bestAnchorOf]] — densest window, earliest on ties) — the
    * result-page excerpt every search engine renders beside a hit;
    * snippet = tokens [max(1, anchor−window) .. anchor+window] re-joined.
    *
    * Scale shape: the position scan is SEMI-JOINED to the hit docs
    * before anything else (k × nQueries docs — result-page-sized, never
    * corpus-sized), the anchor is one keyed min-aggregation over those
    * docs' matched-term positions, and the text slice is a row-local
    * expression on the hit rows. Against the stored positional index the
    * same plan reads only the query terms' buckets (the p33f pruning) —
    * inline here, where the p33c hits already materialize the corpus
    * pass.
    */
  def snippetTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      window: Int = 4
  ): DataFrame = {
    val d = docs(spark, dir)
    val hits = bm25TopK(spark, dir, nQueries, k)
    val qt = postings(d.filter(col("doc_id") < nQueries))
      .select(col("doc_id").as("qid"), col("w"))
      .distinct()
    val hitDocs = hits.select("doc_id").distinct()
    val anchors = bestAnchorOf(
      positionalPostings(d.join(hitDocs, Seq("doc_id"), "left_semi"))
        .join(broadcast(qt), Seq("w")) // qt is query-terms-sized
        .join(
          broadcast(hits.select("qid", "doc_id")),
          Seq("qid", "doc_id"),
          "left_semi"),
      window
    )
    hits
      .join(anchors, Seq("qid", "doc_id"))
      .join(d.join(hitDocs, Seq("doc_id"), "left_semi"), Seq("doc_id"))
      .select(
        col("qid"),
        col("doc_id"),
        col("rank"),
        col("anchor"),
        expr(
          s"array_join(slice(filter(split(text, ' '), x -> x != ''), " +
            s"greatest(anchor - $window, 1), ${2 * window + 1}), ' ')"
        ).as("snippet")
      )
      .orderBy("qid", "rank")
  }

  /** P33n — FACET COUNTS over a query's full match set (Lucene
    * faceting): for each query, how many matching documents fall in
    * each value of a metadata column — the refinement sidebar every
    * search UI renders. The match set is the boolean-AND gate (all query
    * terms required, p33i's semantics, NO top-k cut: facets summarize
    * the whole result set), counted per `facet` value.
    *
    * Scale shape: the gate aggregation is seed-pruned by the rarest
    * term's posting list (the p33i bound); the facet join touches only
    * gated (qid, doc_id) pairs against the documents table's
    * (doc_id, facet) projection — column-pruned scan, match-set-sized
    * join, one final small aggregation.
    */
  def facetCounts(
      spark: SparkSession,
      dir: String,
      facet: String = "lang",
      nQueries: Int = 5,
      qLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val tf = postingsWithLen(d).cache()
    val dfm = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qt = queryAndTerms(d, nQueries, qLen)
    val nt = qt.groupBy("qid").agg(countDistinct("w").as("nt"))
    val wr = Window.partitionBy("qid").orderBy(col("df"), col("w"))
    val rarest = qt
      .join(dfm, Seq("w"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select("qid", "w")
    val seed = tf
      .join(broadcast(rarest), Seq("w"))
      .filter(col("doc_id") =!= col("qid"))
      .select("qid", "doc_id")
    val gated = tf
      .join(broadcast(qt), Seq("w"))
      .join(seed, Seq("qid", "doc_id"), "left_semi")
      .groupBy("qid", "doc_id")
      .agg(countDistinct("w").as("nm"))
      .join(broadcast(nt), Seq("qid"))
      .filter(col("nm") === col("nt"))
      .select("qid", "doc_id")
    val meta = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col(facet))
    val out = gated
      .join(meta, Seq("doc_id"))
      .groupBy("qid", facet)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("qid"), col(facet))
    Eager.materialized(out, tf)
  }

  /** Snippets against the STORED positional index: the hit ranking is
    * [[bm25TopKIndexedOf]] (bucket-pruned), the anchor positions come
    * from the stored `positions` member pruned to the query terms' wb
    * buckets AND semi-joined to the hit docs (result-page-sized), and
    * the window text slices from `docsTable` — the ORIGINAL document
    * store (an index stores postings, not text; in production the text
    * lives beside it — the Lucene stored-field analogue is exactly this
    * keyed fetch of k × nQueries docs).
    */
  def snippetTopKIndexedOf(
      spark: SparkSession,
      queryTerms: DataFrame, // (qid, w) distinct
      indexDir: String,
      docsTable: DataFrame, // (doc_id, text) — the stored-field side
      k: Int = 5,
      window: Int = 4,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val qt0 = queryTerms.select("qid", "w").distinct()
    val hits = bm25TopKIndexedOf(spark, qt0, indexDir, k, excludeSelf)
    snippetsFromStore(spark, hits, qt0, indexDir, docsTable, window)
  }

  /** The shared stored-snippet tail over PRECOMPUTED hits: anchors from
    * the stored positions (bucket-pruned + hit-doc-pruned), window text
    * from `docsTable` — one hit ranking feeds both the anchor pass and
    * the text fetch.
    */
  private def snippetsFromStore(
      spark: SparkSession,
      hits: DataFrame, // (qid, doc_id, rank, ...)
      qt0: DataFrame, // (qid, w) distinct
      indexDir: String,
      docsTable: DataFrame,
      window: Int
  ): DataFrame = {
    val (_, _, _, qtv) = indexViews(spark, indexDir, qt0)
    val probedWb = qtv.select("wb").distinct().collect().map(_.getLong(0))
    val hitDocs = hits.select("doc_id").distinct()
    val anchors = bestAnchorOf(
      spark.read
        .parquet(liveDir(indexDir, "positions"))
        .where(col("wb").isin(probedWb.toIndexedSeq: _*))
        .select("doc_id", "w", "pos")
        .join(hitDocs, Seq("doc_id"), "left_semi")
        .join(broadcast(qt0), Seq("w"))
        .join(
          broadcast(hits.select("qid", "doc_id")),
          Seq("qid", "doc_id"),
          "left_semi"),
      window
    )
    hits
      .join(anchors, Seq("qid", "doc_id"))
      .join(docsTable.join(hitDocs, Seq("doc_id"), "left_semi"), Seq("doc_id"))
      .select(
        col("qid"),
        col("doc_id"),
        col("rank"),
        col("anchor"),
        expr(
          s"array_join(slice(filter(split(text, ' '), x -> x != ''), " +
            s"greatest(anchor - $window, 1), ${2 * window + 1}), ' ')"
        ).as("snippet")
      )
      .orderBy("qid", "rank")
  }

  /** P33o — the snippet lifecycle twin: build the positional history
    * index, append the daily batch, snippet-search the store (same
    * oracle as p33m by the indexed ≡ inline law).
    */
  def snippetIndexLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      window: Int = 4
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33o-index") { tmp =>
      writeInvertedIndexOf(
        spark, d.filter(col("doc_id") < split), tmp, withPositions = true)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      snippetTopKIndexedOf(
        spark,
        postings(d.filter(col("doc_id") < nQueries))
          .select(col("doc_id").as("qid"), col("w")),
        tmp,
        d,
        k,
        window
      )
    }
  }

  /** Facet counts against the STORED index: the boolean gate's
    * aggregation runs over bucket-pruned posting rows (the p33j
    * machinery — seed semi-join included), then the facet join touches
    * only gated pairs. `queryTerms` is (qid, w) — every term required.
    */
  def facetCountsIndexedOf(
      spark: SparkSession,
      queryTerms: DataFrame,
      indexDir: String,
      meta: DataFrame, // (doc_id, <facet>) — the metadata projection
      facet: String = "lang",
      excludeSelf: Boolean = true
  ): DataFrame = {
    val (post, dfm, _, qt) = indexViews(spark, indexDir, queryTerms)
    val q = qt.select("qid", "w").distinct()
    val nt = q.groupBy("qid").agg(countDistinct("w").as("nt"))
    val wr = Window.partitionBy("qid").orderBy(col("df"), col("w"))
    val rarest = q
      .join(dfm, Seq("w"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select("qid", "w")
    val seed0 = post
      .join(broadcast(rarest), Seq("w"))
      .select("qid", "doc_id")
    val seed =
      if (excludeSelf) seed0.filter(col("doc_id") =!= col("qid")) else seed0
    val gated = post
      .join(broadcast(q), Seq("w"))
      .join(seed, Seq("qid", "doc_id"), "left_semi")
      .groupBy("qid", "doc_id")
      .agg(countDistinct("w").as("nm"))
      .join(broadcast(nt), Seq("qid"))
      .filter(col("nm") === col("nt"))
      .select("qid", "doc_id")
    gated
      .join(meta, Seq("doc_id"))
      .groupBy("qid", facet)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("qid"), col(facet))
  }

  /** The stored-fields fetch: the index's own `fields` member pruned to
    * the wanted doc_ids' db buckets — the Lucene stored-field read. The
    * wanted set is result-page-sized (k × nQueries), so collecting its
    * bucket residues (≤ buckets) turns the text scan into a static
    * partition-pruned read; the semi-join then keeps only the wanted
    * rows inside those buckets.
    */
  private def storedFields(
      spark: SparkSession,
      indexDir: String,
      docIds: DataFrame // (doc_id) — result-page-sized
  ): DataFrame = {
    val buckets =
      spark.read.parquet(s"$indexDir/params").head().getAs[Int]("buckets")
    val wanted = docIds.select("doc_id").distinct()
    val dbs = wanted
      .select(pmod(col("doc_id"), lit(buckets.toLong)).as("db"))
      .distinct()
      .collect()
      .map(_.getLong(0)) // ≤ buckets
    spark.read
      .parquet(liveDir(indexDir, "fields"))
      .where(col("db").isin(dbs.toIndexedSeq: _*))
      .join(wanted, Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
  }

  /** SELF-CONTAINED stored snippets: [[snippetTopKIndexedOf]] with the
    * window text fetched from the index's OWN `fields` member instead of
    * an external document table — the store built `withFields = true`
    * serves the whole result page (ranks, anchors, excerpts) from one
    * root.
    */
  def snippetTopKStoredOf(
      spark: SparkSession,
      queryTerms: DataFrame, // (qid, w) distinct
      indexDir: String,
      k: Int = 5,
      window: Int = 4,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val qt0 = queryTerms.select("qid", "w").distinct()
    // ONE hit ranking feeds the anchor pass AND the text fetch — the
    // result page is small, so materialize it rather than re-derive it
    val hits = Eager.materialized(
      bm25TopKIndexedOf(spark, qt0, indexDir, k, excludeSelf))
    val out = snippetsFromStore(
      spark,
      hits,
      qt0,
      indexDir,
      storedFields(spark, indexDir, hits.select("doc_id")),
      window
    )
    val res = Eager.materialized(out)
    Eager.releaseCheckpoint(hits)
    res
  }

  /** P33q — the SELF-CONTAINED snippet lifecycle: build the index with
    * positions AND stored fields, append the daily batch (text extends
    * alongside), then serve the result page — ranks, anchors, excerpts —
    * from the store alone (the standard lifecycle protocol: build +
    * append + search; fold identity through compaction is the spec's
    * job, as for every other lifecycle query). Same oracle as p33m by
    * the indexed ≡ inline law (the fields member round-trips the text
    * verbatim through parquet).
    */
  def snippetStoredLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      k: Int = 5,
      window: Int = 4
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p33q-index") { tmp =>
      writeInvertedIndexOf(
        spark,
        d.filter(col("doc_id") < split),
        tmp,
        withPositions = true,
        withFields = true
      )
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      snippetTopKStoredOf(
        spark,
        postings(d.filter(col("doc_id") < nQueries))
          .select(col("doc_id").as("qid"), col("w")),
        tmp,
        k,
        window
      )
    }
  }

  /** P33p — the facet lifecycle twin (same oracle as p33n by the
    * indexed ≡ inline law).
    */
  def facetIndexLifecycle(
      spark: SparkSession,
      dir: String,
      facet: String = "lang",
      nQueries: Int = 5,
      qLen: Int = 3
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    val meta = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col(facet))
    Eager.withTempStore("graft-p33p-index") { tmp =>
      writeInvertedIndexOf(spark, d.filter(col("doc_id") < split), tmp)
      appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tmp)
      facetCountsIndexedOf(
        spark,
        queryAndTerms(d, nQueries, qLen),
        tmp,
        meta,
        facet
      )
    }
  }

  /** The shared RRF fusion tail: every leg contributes
    * `1000000 DIV (rrfK + rank)` per (qid, doc_id), summed exactly (ppm),
    * ranked desc with doc_id ties. Legs are (qid, doc_id, rank) pools —
    * only integer RANKS cross the fusion boundary, so adding a modality
    * is one more union arm and the whole fusion hash-replays in DuckDB.
    * Leg-output-sized at any corpus scale.
    */
  private[graft] def rrfFuse(
      legs: Seq[DataFrame],
      rrfK: Int,
      k: Int
  ): DataFrame = {
    val u = legs
      .map(
        _.select(
          col("qid"),
          col("doc_id"),
          udf(rrfPpm _).apply(lit(rrfK.toLong), col("rank")).as("c")
        )
      )
      .reduce(_.unionByName(_))
    val w =
      Window.partitionBy("qid").orderBy(col("rrf_ppm").desc, col("doc_id"))
    u.groupBy("qid", "doc_id")
      .agg(sum("c").as("rrf_ppm"), count(lit(1)).as("n_legs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "rank", "rrf_ppm", "n_legs")
      .orderBy("qid", "rank")
  }

  /** P36c — THREE-leg hybrid retrieval: RRF fusion of BM25 (term
    * matching with saturation/length normalization), dense IVF cosine
    * (embedding geometry), and ordered PROXIMITY (positional structure) —
    * each modality surfaces candidates the others are blind to, and RRF
    * needs nothing but their integer ranks, so adding a leg is literally
    * one more UNION arm (`n_legs` now reaches 3). Same exact-ppm fusion
    * arithmetic; same leg-output-sized final reduce.
    */
  def hybridProximityTopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8
  ): DataFrame = {
    // independent legs, eagerly-computing constructions — overlap them
    val legs = graft.util.Par.eval[DataFrame](
      () =>
        bm25TopK(spark, dir, nQueries, poolK)
          .select(col("qid"), col("doc_id"), col("rank")),
      () =>
        Similarity
          .knnIvf(spark, dir, nQueries, poolK)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rank")),
      () =>
        proximityTopK(spark, dir, nQueries, poolK, phraseLen, window)
          .select(col("qid"), col("doc_id"), col("rank"))
    )
    rrfFuse(legs, rrfK, k)
  }

  /** P36b — hybrid retrieval with the PRODUCTION lexical leg: RRF fusion
    * of BM25 (saturation + length normalization) with the dense k2 leg —
    * [[hybridTopK]]'s composition with tf-idf upgraded to BM25. Identical
    * fusion arithmetic (only integer ranks cross the boundary); identical
    * leg-output-sized scale shape.
    */
  def hybridBm25TopK(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60
  ): DataFrame = {
    // independent legs, eagerly-computing constructions — overlap them
    val legs = graft.util.Par.eval[DataFrame](
      () =>
        bm25TopK(spark, dir, nQueries, poolK)
          .select(col("qid"), col("doc_id"), col("rank")),
      () =>
        Similarity
          .knnIvf(spark, dir, nQueries, poolK)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    )
    rrfFuse(legs, rrfK, k)
  }

  /** The fused search over EXISTING stores — what a deployed retrieval
    * system runs per query batch: BM25 through the persisted inverted
    * index, exact-integer IVF cosine through the persisted vector index,
    * ordered proximity through the persisted POSITIONAL index, fused by
    * the p36c RRF arithmetic. The queries are the `nQueries` lowest
    * doc_ids (their text and their embedding codes).
    *
    * Runs as ONE keyed pass ([[StoredHybrid]]): two driver collects for
    * the query side, the stores' params/stats/centroids and the query
    * terms' df, then every store scan partition-pruned to its probed
    * buckets/cells (plan-asserted in RetrievalIndexSpec), the BM25 term
    * weights combined per (query, doc), tagged, unioned and grouped once
    * on `qid`, and one Scala fold per query — 6 Spark jobs per call.
    * Row-identical, in `(qid, rank)` order, to the composition of
    * [[bm25TopKIndexedOf]], [[proximityTopKIndexedOf]],
    * [[Similarity.knnIvfIndexedExactOf]] and [[rrfFuse]]
    * (StoredHybridSpec). Every store and corpus read declares its
    * schema.
    */
  def hybridStoredTopK(
      spark: SparkSession,
      dir: String,
      textIndexDir: String,
      vecIndexDir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8,
      nprobe: Int = 2,
      excludeSelf: Boolean = true // threaded to all three legs; false =
      //   the external-query posture (the streaming service's batch twin)
  ): DataFrame =
    StoredHybrid.search(
      spark,
      spark.read
        .schema(Layout.documents)
        .parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < nQueries),
      Similarity
        .quantizedOf(
          spark.read
            .schema(Similarity.Layout.embeddings)
            .parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") < nQueries))
        .select(col("vec_id").as("qid"), col("q8")),
      textIndexDir, vecIndexDir, poolK, k, rrfK, phraseLen, window, nprobe, excludeSelf
    )

  /** BM25 against the stored index RESTRICTED to a qualifying doc set —
    * the lexical half of filtered retrieval (Lucene's filter-query
    * semantics: candidates are restricted, but df/N stay CORPUS-grain —
    * term rarity is a property of the index, not of the filter). The
    * semi-join lands on the bucket-pruned posting rows, so the filter
    * never widens the scan; scores of qualifying docs are unchanged.
    */
  def bm25TopKIndexedFilteredOf(
      spark: SparkSession,
      queryTerms: DataFrame,
      indexDir: String,
      allowed: DataFrame, // qualifying doc_ids
      k: Int = 5,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val (post, dfm, stats, qt) = indexViews(spark, indexDir, queryTerms)
    val fpost = post
      .join(allowed.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    bm25Score(fpost, bm25Weighted(qt, dfm, stats), stats, k, excludeSelf)
  }

  /** Ordered-proximity against the stored positional index RESTRICTED to
    * a qualifying doc set (see [[bm25TopKIndexedFilteredOf]] for the
    * df/N convention). Both the positions and posting scans get the
    * semi-join after their bucket pruning.
    */
  def proximityTopKIndexedFilteredOf(
      spark: SparkSession,
      phrase: DataFrame,
      indexDir: String,
      allowed: DataFrame,
      k: Int = 5,
      window: Int = 8,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val v = indexViewsShared(spark, indexDir, Seq(phrase.select("qid", "w").distinct()))
    val ids = allowed.select("doc_id").distinct()
    val positions = positionsView(spark, indexDir, v.probedWb)
      .join(ids, Seq("doc_id"), "left_semi")
    proximityRank(
      positions,
      v.post.join(ids, Seq("doc_id"), "left_semi"),
      v.dfm,
      v.stats,
      phrase,
      k,
      window,
      excludeSelf
    )
  }

  /** P36f — the FILTERED production query: [[hybridStoredTopK]] with
    * every leg restricted to a qualifying doc set (a language, a source,
    * a tenant) under exact pre-filter semantics — the fusion ranks only
    * qualifying docs, each leg's pool is the true top-poolK among them,
    * and corpus statistics (df/N, the IVF quantizer) stay corpus-grain
    * (Lucene filter-query semantics; retraining the quantizer per filter
    * would make filters unboundedly expensive).
    *
    * Filter caveat on the DENSE leg: at fixed `nprobe` the pre-filter is
    * exact only WITHIN the probed cells — a highly selective filter can
    * empty them while qualifying neighbors live in unprobed cells (the
    * lexical/proximity legs are immune: their scans prune by TERM, not
    * by cell, so a filter never hides a matching posting). For selective
    * tenants pass `adaptiveNprobe = true`: the dense leg runs
    * [[Similarity.knnIvfIndexedExactFilteredAdaptiveOf]], widening the
    * probe as 1/selectivity up to all cells (exact over the filter at
    * the selective extreme).
    */
  def hybridStoredTopKFiltered(
      spark: SparkSession,
      dir: String,
      textIndexDir: String,
      vecIndexDir: String,
      allowed: DataFrame, // qualifying doc_ids (vec_id ↔ doc_id)
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8,
      nprobe: Int = 2,
      excludeSelf: Boolean = true, // threaded to all three legs; false =
      //   the external-query posture (the filtered search service's twin)
      adaptiveNprobe: Boolean = true // selectivity-scaled dense probing
      //   (the k17 law) — ON by default: the fixed-nprobe form silently
      //   loses qualifying neighbors under selective filters, and the
      //   safe behavior should not be opt-in. Cost: one semi-join +
      //   two counts per query set (see
      //   knnIvfIndexedExactFilteredAdaptiveOf); pass false to pin the
      //   probe width when the filter is known to be broad.
  ): DataFrame = {
    val d = docs(spark, dir)
    // shared text-store handle + concurrent dense leg — the
    // hybridStoredTopK posture (one params read, one probed-bucket
    // collect for both filtered text legs; the adaptive dense leg's
    // selectivity counts run in their own thread)
    val qtKw = postings(d.filter(col("doc_id") < nQueries))
      .select(col("doc_id").as("qid"), col("w"))
    val phrase = queryPhrases(d, nQueries, phraseLen)
    val built = graft.util.Par.eval[AnyRef](
      () => {
        val v = indexViewsShared(
          spark, textIndexDir, Seq(qtKw, phrase.select("qid", "w").distinct()))
        val ids = allowed.select("doc_id").distinct()
        val fpost = v.post.join(ids, Seq("doc_id"), "left_semi")
        // corpus-grain df/N (Lucene filter-query semantics — see
        // bm25TopKIndexedFilteredOf): only the candidates are filtered
        val bm25 = bm25Score(
          fpost,
          bm25Weighted(v.qts.head, v.dfm, v.stats),
          v.stats, poolK, excludeSelf)
          .select(col("qid"), col("doc_id"), col("rank"))
        val prox = proximityRank(
          positionsView(spark, textIndexDir, v.probedWb)
            .join(ids, Seq("doc_id"), "left_semi"),
          fpost, v.dfm, v.stats, phrase, poolK, window, excludeSelf)
          .select(col("qid"), col("doc_id"), col("rank"))
        (bm25, prox)
      },
      () => {
        val denseSearch =
          if (adaptiveNprobe) Similarity.knnIvfIndexedExactFilteredAdaptiveOf _
          else Similarity.knnIvfIndexedExactFilteredOf _
        denseSearch(
          spark,
          Similarity.quantized(spark, dir).select("vec_id", "q8"),
          vecIndexDir,
          allowed.select(col("doc_id").as("vec_id")),
          nQueries.toLong,
          poolK,
          nprobe,
          excludeSelf
        ).select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
      }
    )
    val (bm25, prox) = built(0).asInstanceOf[(DataFrame, DataFrame)]
    val dense = built(1).asInstanceOf[DataFrame]
    rrfFuse(Seq(bm25, dense, prox), rrfK, k)
  }

  /** P36f's oracle-replayable lifecycle: the p36d store builds, then the
    * filtered fusion with the qualifying set = the English documents.
    */
  def hybridStoredFilteredLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    val allowed = spark.read
      .parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id")
    Eager.withTempStore("graft-p36f-stores") { tmp =>
      val tIdx = s"$tmp/text"
      val vIdx = s"$tmp/vec"
      // the text and vector stores are DISJOINT roots with independent
      // build→append chains — they bootstrap concurrently (guide §2.6),
      // exactly as the deployment wiring drains its ingests concurrently
      val codes = Similarity.quantized(spark, dir).select("vec_id", "q8")
      graft.util.Par.run(
        () => {
          writeInvertedIndexOf(
            spark,
            d.filter(col("doc_id") < split),
            tIdx,
            withPositions = true
          )
          appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tIdx)
        },
        () => {
          Similarity
            .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), vIdx)
          Similarity
            .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), vIdx)
        }
      )
      hybridStoredTopKFiltered(
        spark, dir, tIdx, vIdx, allowed, nQueries, poolK, k)
    }
  }

  /** P36d — hybrid retrieval through the PERSISTED stores, as one
    * oracle-replayable lifecycle query (the production shape p36c only
    * approximated with inline legs): build the positional inverted index
    * over the history 80% and append the daily 20% (the p33f/p33h store),
    * build the exact-integer IVF index trained on the initial 3/4 ingest
    * and append the remaining quarter to the frozen quantizer (the k10
    * store), then run ONE [[hybridStoredTopK]] — three modalities, three
    * stores, one fused answer. Every leg reads its store; the lexical
    * and proximity legs are row-identical to their inline forms (the
    * RetrievalIndexSpec laws) and the dense leg to
    * [[graft.pipeline.Similarity.knnIndexLifecycleExact]] (IndexStoreSpec
    * law), so the whole query hash-replays in DuckDB as RRF over the
    * three legs' oracle chains.
    */
  def hybridStoredLifecycle(
      spark: SparkSession,
      dir: String,
      nQueries: Int = 5,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8,
      nprobe: Int = 2
  ): DataFrame = {
    val d = docs(spark, dir)
    val split = Dedup.incrementalBoundary(spark, dir)
    Eager.withTempStore("graft-p36d-stores") { tmp =>
      val tIdx = s"$tmp/text"
      val vIdx = s"$tmp/vec"
      // disjoint store roots, independent build→append chains — the two
      // stores bootstrap concurrently (guide §2.6; see the p36f twin)
      val codes = Similarity.quantized(spark, dir).select("vec_id", "q8")
      graft.util.Par.run(
        () => {
          writeInvertedIndexOf(
            spark,
            d.filter(col("doc_id") < split),
            tIdx,
            withPositions = true
          )
          appendToInvertedIndex(spark, d.filter(col("doc_id") >= split), tIdx)
        },
        () => {
          Similarity
            .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), vIdx)
          Similarity
            .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), vIdx)
        }
      )
      hybridStoredTopK(
        spark, dir, tIdx, vIdx,
        nQueries, poolK, k, rrfK, phraseLen, window, nprobe
      )
    }
  }
}
