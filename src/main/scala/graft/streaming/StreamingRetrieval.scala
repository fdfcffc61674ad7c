package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Retrieval

/** Continuous lexical search — the streaming form of the persisted
  * inverted-index plane, completing batch/streaming parity for the
  * retrieval plane exactly as [[StreamingSimilarity.searchStream]] did for
  * the ANN plane.
  *
  * Shape: query documents ARRIVE (a stream of `(qid, text)` rows); the
  * index is the FROZEN side ([[Retrieval.writeInvertedIndexOf]] /
  * [[Retrieval.appendToInvertedIndex]] maintain it between batches — the
  * build-once/ingest-daily lifecycle p33b demonstrates). Each micro-batch
  * tokenizes row-locally into distinct (qid, term) rows and searches with
  * [[Retrieval.keywordTopKIndexedOf]] (or the BM25 twin): df layers merge
  * with one bucket-pruned aggregation, and the posting scan is
  * partition-pruned to the batch's probed term buckets — per-batch cost is
  * O(batch terms × their posting lists), never O(index).
  *
  * Law (RetrievalIndexSpec): queries streamed in chunks ≡ one batch
  * search, row-for-row. Holds STRUCTURALLY — queries are independent rows
  * and the index is immutable during a run — so `foreachBatch` (T1
  * commit-after-write ordering, checkpointed offsets) is the whole
  * machinery; no cross-batch state exists.
  */
object StreamingRetrieval {

  /** Starts the continuous search: `queryDocs` is a STREAMING frame with
    * columns `(qid: Long, text: String)`; each micro-batch's top-k results
    * (qid, doc_id, rank, score) go to `sink` with the batch id. `bm25`
    * selects the production ranking; false = the tf-idf teaching form.
    * A replayed batch re-scores the same queries — idempotent for any
    * sink keyed on qid.
    */
  def searchStream(
      queryDocs: DataFrame,
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      bm25: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // distinct (qid, w): the query protocol's term grain, derived
        // row-locally from the arriving text — never from the index
        val terms = batch
          .select(
            col("qid"),
            explode(expr("filter(split(text, ' '), x -> x != '')")).as("w")
          )
          .distinct()
        // excludeSelf = false: arriving qids are an EXTERNAL id space, so
        // the corpus protocol's self-exclusion must not leak into the
        // service — a corpus doc whose doc_id equals a qid stays retrievable
        val res =
          if (bm25)
            Retrieval.bm25TopKIndexedOf(
              batch.sparkSession, terms, indexDir, k, excludeSelf = false)
          else
            Retrieval.keywordTopKIndexedOf(
              batch.sparkSession, terms, indexDir, k, excludeSelf = false)
        sink(res, batchId)
      }
      .start()

  /** Continuous BOOLEAN (AND) search — the conjunctive mode's service
    * twin: each arriving query's distinct terms are ALL required
    * ([[Retrieval.booleanTopKIndexedOf]], BM25-ranked), scans
    * bucket-pruned to the batch's terms. Stateless like [[searchStream]]
    * (chunked ≡ one batch, structurally); external-qid posture — no
    * corpus self-exclusion.
    */
  def booleanSearchStream(
      queryDocs: DataFrame, // (qid, text) — every distinct term required
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val terms = batch
          .select(
            col("qid"),
            explode(expr("filter(split(text, ' '), x -> x != '')")).as("w")
          )
          .distinct()
        sink(
          Retrieval.booleanTopKIndexedOf(
            batch.sparkSession, terms, indexDir, k, excludeSelf = false),
          batchId
        )
      }
      .start()

  /** Continuous FULL-BOOLEAN (MUST / MUST_NOT / SHOULD) search — the
    * clause-matrix service: each arriving query row carries its three
    * clause texts explicitly (the API a search client actually has —
    * roles are the caller's intent, not derivable from one string);
    * every distinct MUST term is required, any MUST_NOT term excludes,
    * SHOULD terms lift the BM25 score
    * ([[Retrieval.booleanQueryTopKIndexedOf]]). Stateless like
    * [[searchStream]]; external-qid posture.
    */
  def booleanQuerySearchStream(
      queryDocs: DataFrame, // (qid, must_text, must_not_text, should_text)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def leg(srcCol: String, role: String) = batch
          .select(
            col("qid"),
            explode(expr(s"filter(split($srcCol, ' '), x -> x != '')")).as("w")
          )
          .withColumn("role", lit(role))
          .distinct()
        val roles = leg("must_text", "must")
          .unionByName(leg("must_not_text", "must_not"))
          .unionByName(leg("should_text", "should"))
        sink(
          Retrieval.booleanQueryTopKIndexedOf(
            batch.sparkSession, roles, indexDir, k, excludeSelf = false),
          batchId
        )
      }
      .start()

  /** Continuous PREFIX search — the sorted-dictionary plane's read-side
    * twin: arriving queries carry an explicit prefix (`(qid, pfx)`), and
    * each micro-batch expands against the frozen index's `dict` member
    * (range-pruned to the batch's prefixes) and scores through
    * [[Retrieval.prefixTopKIndexedOf]]. Stateless: chunked queries ≡ one
    * batch search (RetrievalIndexSpec law).
    */
  def prefixSearchStream(
      queries: DataFrame, // (qid, pfx)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.prefixTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "pfx"),
            indexDir,
            k,
            maxExpansions,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous FUZZY search — the dictionary plane's read-side twin for
    * Lucene FuzzyQuery: arriving queries carry a term (`(qid, term)`),
    * and each micro-batch generates candidates through the frozen
    * index's `dictgrams` member (probing only the batch's query grams'
    * buckets — the round-16 count-filter path; full-scan fallback on
    * pre-gram stores) and scores through
    * [[Retrieval.fuzzyTopKIndexedOf]]. Stateless: chunked queries ≡ one
    * batch search (RetrievalIndexSpec law).
    */
  def fuzzySearchStream(
      queries: DataFrame, // (qid, term)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      maxEdits: Int = 2,
      maxExpansions: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.fuzzyTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "term"),
            indexDir,
            k,
            maxEdits,
            maxExpansions,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous WILDCARD search — `(qid, pattern)` with `*`/`?`
    * patterns; each micro-batch prunes the dict by the batch patterns'
    * leading literals and scores through
    * [[Retrieval.wildcardTopKIndexedOf]]. Stateless: chunked ≡ batch.
    */
  def wildcardSearchStream(
      queries: DataFrame, // (qid, pattern)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.wildcardTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "pattern"),
            indexDir,
            k,
            maxExpansions,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous REGEX search — `(qid, pattern)` in the RE2 ∩ Java
    * dialect; each micro-batch range-prunes the dict by the batch
    * patterns' leading literals and scores through
    * [[Retrieval.regexTopKIndexedOf]]. Stateless: chunked ≡ batch.
    */
  def regexSearchStream(
      queries: DataFrame, // (qid, pattern)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.regexTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "pattern"),
            indexDir,
            k,
            maxExpansions,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous TERM-RANGE search — `(qid, lo, hi)` inclusive term
    * ranges; each micro-batch pushes the batch's bounds onto the sorted
    * dict and scores through [[Retrieval.termRangeTopKIndexedOf]].
    * Stateless: chunked ≡ batch.
    */
  def termRangeSearchStream(
      queries: DataFrame, // (qid, lo, hi)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      maxExpansions: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.termRangeTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "lo", "hi"),
            indexDir,
            k,
            maxExpansions,
            excludeSelf = false
          ),
          batchId
        )
      }
      .start()

  /** Continuous MORE-LIKE-THIS search — the service form of p33y:
    * arbitrary documents arrive as `(qid, text)`, tokenize row-locally,
    * select their top-`nTerms` tf·idf terms against the FROZEN index's
    * statistics, and BM25-score disjunctively
    * ([[Retrieval.moreLikeThisTopKIndexedOf]] per micro-batch; both
    * probe sets — selection df lookups and the search postings — stay
    * bucket-pruned to the batch's terms). Stateless: chunked ≡ batch.
    */
  def mltSearchStream(
      queryDocs: DataFrame, // (qid, text)
      indexDir: String,
      checkpointDir: String,
      nTerms: Int = 5,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(
          Retrieval.moreLikeThisTopKIndexedOf(
            batch.sparkSession,
            batch.select("qid", "text"),
            indexDir,
            nTerms,
            k
          ),
          batchId
        )
      }
      .start()

  /** Continuous UNORDERED-PROXIMITY search — the positional plane's
    * read-side twin of p33w: arriving query documents tokenize
    * row-locally into their leading `phraseLen`-gram and match through
    * [[Retrieval.unorderedProximityTopKIndexedOf]] (positions, postings,
    * and df all partition-pruned to the batch's phrase-term buckets).
    * Stateless: chunked ≡ batch.
    */
  def unorderedProximitySearchStream(
      queryDocs: DataFrame, // (qid, text)
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      phraseLen: Int = 3,
      window: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val phrase = batch
          .select(
            col("qid"),
            posexplode(expr("filter(split(text, ' '), x -> x != '')"))
              .as(Seq("pos0", "w"))
          )
          .filter(col("pos0") < phraseLen)
          .select(col("qid"), (col("pos0") + 1L).cast("long").as("j"), col("w"))
        sink(
          // external qid space — no corpus self-exclusion (see searchStream)
          Retrieval.unorderedProximityTopKIndexedOf(
            batch.sparkSession, phrase, indexDir, k, window, excludeSelf = false),
          batchId
        )
      }
      .start()

  /** Continuous PHRASE search — the positional plane's read-side twin:
    * arriving query documents are tokenized row-locally into their
    * leading `phraseLen`-gram (the standard phrase protocol) and matched
    * against the frozen positional index with
    * [[Retrieval.phraseTopKIndexedOf]] — positions, postings, and df all
    * partition-pruned to the batch's phrase-term buckets. Stateless like
    * [[searchStream]]: chunked queries ≡ one batch search structurally
    * (RetrievalIndexSpec law).
    */
  def phraseSearchStream(
      queryDocs: DataFrame,
      indexDir: String,
      checkpointDir: String,
      k: Int = 5,
      phraseLen: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val phrase = batch
          .select(
            col("qid"),
            posexplode(expr("filter(split(text, ' '), x -> x != '')"))
              .as(Seq("pos0", "w"))
          )
          .filter(col("pos0") < phraseLen)
          .select(col("qid"), (col("pos0") + 1L).cast("long").as("j"), col("w"))
        sink(
          // external qid space — no corpus self-exclusion (see searchStream)
          Retrieval.phraseTopKIndexedOf(
            batch.sparkSession, phrase, indexDir, k, excludeSelf = false),
          batchId
        )
      }
      .start()

  /** Continuous STORED-HYBRID search — the streaming twin of the p36d
    * production query ([[Retrieval.hybridStoredTopK]]): query documents
    * arrive as `(qid, text, embedding)` rows and each micro-batch runs
    * the three-leg fusion against the FROZEN stores — BM25 through the
    * persisted inverted index, exact-integer IVF cosine through the
    * persisted vector index (the query codes quantized ROW-LOCALLY with
    * the corpus arithmetic), ordered proximity through the positional
    * payload — fused by the shared RRF tail. Unfiltered, a micro-batch
    * is the batch search's one keyed pass ([[graft.pipeline.StoredHybrid]])
    * over every arriving query, without self-exclusion; under `allowed`
    * it composes the filtered legs (the p36f form). Every store scan is
    * partition-pruned to the batch's probed buckets/cells, so per-batch
    * cost follows the batch's terms/cells, never the index. Stateless
    * like [[searchStream]]: queries are independent rows and the stores
    * are immutable during a run, so chunked queries ≡ one batch search
    * row-for-row (RetrievalIndexSpec law). A replayed batch re-scores
    * the same queries — idempotent for any sink keyed on qid.
    */
  def hybridSearchStream(
      queryDocs: DataFrame, // (qid: Long, text: String, embedding: Array[Float])
      textIndexDir: String,
      vecIndexDir: String,
      checkpointDir: String,
      poolK: Int = 20,
      k: Int = 10,
      rrfK: Int = 60,
      phraseLen: Int = 3,
      window: Int = 8,
      nprobe: Int = 2,
      trigger: Trigger = Trigger.AvailableNow(),
      // `allowed` sits AFTER `trigger` (it moved here in round 14 —
      // deliberately: the defaulted tail params group the filter options
      // together); a caller from the earlier allowed-before-trigger
      // signature must pass it by NAME. New params only ever append
      // after this point.
      allowed: Option[DataFrame] = None, // tenant/metadata filter: a
      //   (doc_id) set every leg restricts to (exact pre-filter — the
      //   p36f semantics applied continuously; None = unfiltered).
      //   Filter caveat (the k15 contract, surfaced here because the
      //   service is where selectivity bites): pre-filtering is exact
      //   WITHIN the probed cells on the dense leg — a highly selective
      //   filter can empty the probed cells while qualifying vectors
      //   live in unprobed ones. For selective tenants raise `nprobe`
      //   or pass adaptiveNprobe = true.
      adaptiveNprobe: Boolean = true // selectivity-scaled dense probing
      //   (Similarity.knnIvfIndexedExactFilteredAdaptiveOf — the k17
      //   law): the probe widens as 1/selectivity up to all cells, so a
      //   selective tenant's top-k stays the exact filtered top-k. Only
      //   meaningful with `allowed`. ON by default — the safe behavior
      //   is not opt-in; its cost (a semi-join + two counts per batch,
      //   only when `allowed` is set) is noted on the k17 scaladoc.
      //   Pass false to pin the probe width for known-broad filters.
  )(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        // arriving qids are external, unrelated to corpus doc_ids: no leg
        // applies the corpus protocol's self-exclusion
        val result = allowed.fold(
          // the batch search's one keyed pass, over every arriving query
          graft.pipeline.StoredHybrid.search(
            sp,
            batch.select(col("qid").as("doc_id"), col("text")),
            batch.select(
              col("qid"),
              graft.pipeline.Similarity.quantize(col("embedding")).as("q8")),
            textIndexDir, vecIndexDir, poolK, k, rrfK, phraseLen, window, nprobe,
            excludeSelf = false
          )
        )(filteredSearch(sp, batch, textIndexDir, vecIndexDir, _, poolK, k, rrfK,
          phraseLen, window, nprobe, adaptiveNprobe))
        sink(result, batchId)
      }
      .start()

  /** One micro-batch of [[hybridSearchStream]] under a tenant filter:
    * the p36f composition of the filtered legs, external-qid posture.
    */
  private def filteredSearch(
      sp: SparkSession,
      batch: DataFrame,
      textIndexDir: String,
      vecIndexDir: String,
      allowed: DataFrame,
      poolK: Int,
      k: Int,
      rrfK: Int,
      phraseLen: Int,
      window: Int,
      nprobe: Int,
      adaptiveNprobe: Boolean
  ): DataFrame = {
    val terms = batch
      .select(
        col("qid"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("w")
      )
      .distinct()
    val lex = Retrieval
      .bm25TopKIndexedFilteredOf(
        sp, terms, textIndexDir, allowed, poolK, excludeSelf = false)
      .select(col("qid"), col("doc_id"), col("rank"))
    val phrase = batch
      .select(
        col("qid"),
        posexplode(expr("filter(split(text, ' '), x -> x != '')"))
          .as(Seq("pos0", "w"))
      )
      .filter(col("pos0") < phraseLen)
      .select(col("qid"), (col("pos0") + 1L).cast("long").as("j"), col("w"))
    val prox = Retrieval
      .proximityTopKIndexedFilteredOf(
        sp, phrase, textIndexDir, allowed, poolK, window, excludeSelf = false)
      .select(col("qid"), col("doc_id"), col("rank"))
    val codes = batch.select(
      col("qid").as("vec_id"),
      graft.pipeline.Similarity.quantize(col("embedding")).as("q8")
    )
    val denseSearch =
      if (adaptiveNprobe)
        graft.pipeline.Similarity.knnIvfIndexedExactFilteredAdaptiveOf _
      else graft.pipeline.Similarity.knnIvfIndexedExactFilteredOf _
    val dense = denseSearch(
      sp,
      codes,
      vecIndexDir,
      allowed.select(col("doc_id").as("vec_id")),
      Long.MaxValue, // every arriving query
      poolK,
      nprobe,
      false // external qid space — no corpus self-exclusion
    ).select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, dense, prox), rrfK, k)
  }

  /** Continuous index INGEST — the write side of the retrieval plane's
    * streaming lifecycle (the ANN plane's `maintenanceStream` analogue):
    * each micro-batch of arriving documents `(doc_id, text)` is appended
    * to the stored inverted index, and every `compactEvery` batches the
    * accreted delta layers fold into the base.
    *
    * Exactly-once WITHOUT a commit protocol: the append is keyed on the
    * micro-batch id (`layer = batchId + 1 > 0`; layer 0 is the base), so
    * a T1-redelivered batch REWRITES its own layer partitions via dynamic
    * partition overwrite instead of stacking a second copy — df and
    * doc-count deltas never double-count. Compaction runs with the
    * just-written layer PROTECTED (unfolded): it is the one layer whose
    * offsets may not yet be committed, and folding it before a redelivery
    * would stack the folded copy under the rewritten layer (see
    * [[Retrieval.compactInvertedIndex]]); once the next batch arrives,
    * its predecessor is committed and folds. Caller contract as in the
    * batch append: arriving doc_ids are fresh (upstream d1/d9).
    */
  def ingestStream(
      docs: DataFrame,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      healthEvery: Int = 0
  )(
      healthSink: (DataFrame, Long) => Unit = (_, _) => ()
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val layer = batchId + 1L
        Retrieval.appendToInvertedIndex(
          batch.sparkSession,
          batch,
          indexDir,
          layer
        )
        if (compactEvery > 0 && layer % compactEvery == 0)
          Retrieval.compactInvertedIndex(
            batch.sparkSession,
            indexDir,
            protectLayersAbove = layer - 1L
          )
        // health AFTER maintenance, the k14 monitor posture: the report
        // reflects the state the next batch will pay for
        if (healthEvery > 0 && layer % healthEvery == 0)
          healthSink(
            Retrieval.retrievalIndexHealth(batch.sparkSession, indexDir),
            batchId
          )
      }
      .start()
}
