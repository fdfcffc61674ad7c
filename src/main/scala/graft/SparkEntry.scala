package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Analytics
import graft.functions.ActionHeaderJson
import graft.journal.{JournalOps, Replay, Segments, Snapshots}
import graft.model.ActionLog
import graft.oracle.{AnalyticsOracles, JournalOracles, PipelineOracles}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Driver contract — query registry + DuckDB oracles (SURVEY.md §2/§7).
  *
  * Query naming follows SURVEY §2's operator ids so the coverage can be
  * checked line by line (s5 = event scan, a2 = pointer, j1 = merged read…).
  */
object SparkEntry {

  /** The derived action log is shared by every journal query — derive it
    * once per (session, sfDir) and keep it cached (tiny relative to
    * executor memory; at 100 TB the log is a real table and this cache is
    * simply the parquet scan).
    */
  private val actionCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def actions(spark: SparkSession, dir: String): DataFrame =
    actionCache.getOrElseUpdate(
      (spark, dir),
      ActionLog.fromEvents(spark, dir).persist()
    )

  /** Releases the per-(session, dir) action-log caches (and the dedup
    * pipeline's memoized pair lists) — the hook a long-lived multi-tenant
    * session calls when a tenant's tables are done; the bench/verify
    * drivers deliberately never do (the cache IS their table contract).
    */
  def releaseCaches(): Unit = {
    actionCache.values.foreach(_.unpersist(false))
    actionCache.clear()
    graft.pipeline.Dedup.releaseMemo()
    graft.pipeline.TextAnalysis.releasePhraseMemo()
    graft.pipeline.Similarity.releaseTrainMemo()
    graft.pipeline.Multimodal.releaseMediaMemo()
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's signature operation — merged two-source replay (J1).
    */
  def entry(spark: SparkSession): DataFrame =
    Replay.mergedRead(actions(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s5_journal_scan" -> ((s, d) => JournalOps.journalScan(actions(s, d))),
    "a2_pointer" -> ((s, d) => JournalOps.pointer(actions(s, d))),
    "s8_metajournal" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      JournalOps
        .metajournal(actions(s, d))
        // string-presented at the query layer: see JournalOracles.metajournal
        .withColumn("expire_on", col("expire_on").cast("string"))
        .orderBy("topic", "id")
    }),
    "s9_pointer2" -> ((s, d) =>
      JournalOps.pointer2(actions(s, d)).orderBy("topic", "part_no")),
    "a5_topics" -> ((s, d) => JournalOps.topics(actions(s, d))),
    "a6_ids" -> ((s, d) => JournalOps.ids(actions(s, d))),
    "a6b_ids_by_created" -> ((s, d) =>
      JournalOps.idsByCreated(actions(s, d), "2024-01-03", "2024-01-15")),
    "p5_fingerprint" -> (TextAnalysis.fingerprint _),
    "p6_length_histogram" -> (TextAnalysis.lengthHistogram _),
    "p7_source_quality" -> (TextAnalysis.sourceQuality _),
    "a1_head_info" -> ((s, d) => {
      val a = actions(s, d)
      JournalOps.headInfo(a, JournalOps.defaultWatermark(a))
    }),
    "a3_batch_compaction" -> ((s, d) =>
      JournalOps.batchCompaction(actions(s, d))),
    "j1_replay_merge" -> ((s, d) =>
      // the merge carries the typed-payload/envelope columns; the oracle
      // contract pins the six base replay columns
      Replay
        .mergedRead(actions(s, d))
        .select("topic", "id", "seq_nr", "koffset", "ts", "payload")),
    // j1b — the replay with its tail leg GATED by the maintained head
    // cache (the reference's consult-cache-then-read flow), one replay
    // fold over the log and the cache's entry rows; row-identical to j1
    // by the HeadCacheSpec law, so it carries j1's oracle
    "j1b_replay_gated" -> ((s, d) =>
      graft.streaming.StreamingHeadCache.gatedReplayQuery(s, actions(s, d))),
    // j1c — the FULL client recovery (api.Journal.recoverCached over all
    // journals): snapshot floor + head-cache-gated tail in one replay
    // fold; row-identical to s10d by the j1b and s10d laws composed
    "j1c_recover_cached" -> ((s, d) =>
      graft.streaming.StreamingHeadCache.cachedRecoveryQuery(s, actions(s, d))),
    "f4_dedup_replay" -> ((s, d) => Replay.dedupReplay(actions(s, d))),
    "a7_expired" -> ((s, d) => JournalOps.expired(actions(s, d), "2024-02-15")),
    "s10_snapshot_load" -> ((s, d) => JournalOps.snapshotLoad(actions(s, d))),
    "s2_key_tail_scan" -> ((s, d) =>
      JournalOps.keyTailScan(actions(s, d), Seq("1", "2", "3"), 5L)),
    "f2_stream_bounds" -> ((s, d) => {
      val a = actions(s, d)
      JournalOps.streamBounds(a, JournalOps.defaultWatermark(a))
    }),
    "t6_staleness" -> ((s, d) => {
      val a = actions(s, d)
      JournalOps.staleness(a, JournalOps.defaultWatermark(a))
    }),
    // t6b — the reader decision FROM the maintained head cache: the log
    // arrives in offset-ordered chunks, each folded once and merged into
    // the persisted cache (the reference's HeadCache, never re-folding
    // history), mid-stream compaction included; output = per-journal head
    // + partition staleness
    "t6b_head_cache" -> ((s, d) =>
      graft.streaming.StreamingHeadCache.lifecycleQuery(s, actions(s, d))),
    "c1_segments" -> ((s, d) => Segments.segments(actions(s, d))),
    "c6_codec_roundtrip" -> ((s, d) => Segments.codecRoundtrip(actions(s, d))),
    "c5_action_header" -> ((s, d) =>
      ActionHeaderJson.roundtrip(actions(s, d))),
    "f8_wire_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit}
      graft.sources.KafkaWire
        .fromWire(graft.sources.KafkaWire.toWire(actions(s, d)))
        .groupBy("action")
        .agg(count(lit(1)).as("n"))
        .orderBy("action")
    }),
    "s10b_snapshot_criteria" -> ((s, d) =>
      Snapshots.load(actions(s, d),
        Snapshots.Criteria(maxSeqNr = 40, minSeqNr = 15))),
    "s10c_snapshot_lifecycle" -> ((s, d) =>
      Snapshots.lifecycle(actions(s, d))),
    // s10d — snapshot-accelerated recovery: latest snapshot + replay
    // suffix per journal (the reference's actual recovery flow)
    "s10d_snapshot_recovery" -> ((s, d) =>
      Snapshots.recovery(actions(s, d))),
    // s10e — the snapshot maintainer's debt report: per-journal replay
    // length (pointer − latest snapshot) with the fire flag; the apply
    // path and the continuous loop live in StreamingSnapshots
    "s10e_snapshot_debt" -> ((s, d) => Snapshots.debtReport(actions(s, d))),
    // C2/F8 typed-payload wire roundtrip: every append's typed payload
    // (json envelope / text / v1 binary frame), tags and metadata must
    // survive actions → Kafka wire → actions byte-exactly; binary is
    // hex-presented at the query layer for the oracle compare
    "c7_payload_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, hex}
      graft.sources.KafkaWire
        .fromWire(graft.sources.KafkaWire.toWire(actions(s, d)))
        .filter(col("action") === "append")
        .select(
          col("topic"), col("id"), col("seq_nr"), col("payload_type"),
          col("payload_txt"), hex(col("payload_bin")).as("payload_bin_hex"),
          col("tags_csv"), col("metadata")
        )
        .orderBy("topic", "id", "seq_nr")
    }),
    // S5 variant — tag-filtered replay (reference EventRecord tags,
    // pekko Tagged events): scan survivors carrying a given tag
    "s5b_tag_replay" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_contains, col, split}
      JournalOps
        .survivors(actions(s, d))
        .filter(array_contains(split(col("tags_csv"), ","), "tag-b"))
        // tags presented CSV-joined: the driver's compare sorts column
        // values with pandas, which cannot hash array cells
        .select(
          col("topic"), col("id"), col("seq_nr"), col("koffset"),
          col("tags_csv").as("tags"), col("payload_txt")
        )
        .orderBy("topic", "id", "seq_nr")
    }),
    "a7b_purge_expired_apply" -> ((s, d) =>
      Segments.purgeExpiredApply(actions(s, d), "2024-02-15")),
    // analytics surface (SURVEY §2.2-§2.6 relational shapes at scale)
    "q1_pricing_summary" -> (Analytics.pricingSummary _),
    "q3_revenue_topk" -> (Analytics.revenueTopK _),
    "q5_region_revenue" -> (Analytics.regionRevenue _),
    "q4_order_priority" -> (Analytics.orderPriority _),
    "w1_events_running" -> (Analytics.eventsRunning _),
    "w2_sessionize" -> (Analytics.sessionize _),
    "q6_event_type_stats" -> (Analytics.eventTypeStats _),
    "q7_top_users" -> (Analytics.topUsers _),
    "w3_event_ranks" -> (Analytics.eventRanks _),
    // w9 — three-step conversion funnel (view -> click -> purchase)
    "w9_funnel" -> (Analytics.funnel _),
    // w10 — weekly retention cohorts (first-activity week, exact ppm)
    "w10_retention_cohorts" -> (Analytics.retentionCohorts _),
    "q6_forecast_revenue" -> (Analytics.forecastRevenue _),
    "q12_shipmode_priority" -> (Analytics.shipmodePriority _),
    "q14_promo_revenue" -> (Analytics.promoRevenue _),
    "q17_small_qty_revenue" -> (Analytics.smallQtyRevenue _),
    "q18_large_orders" -> (Analytics.largeOrders _),
    "q19_disjunctive_revenue" -> (Analytics.disjunctiveRevenue _),
    "q7b_nation_volume" -> ((s, d) => Analytics.nationVolume(s, d)),
    "q8b_market_share" -> ((s, d) => Analytics.marketShare(s, d)),
    "q21_waiting_suppliers" -> (Analytics.waitingSuppliers _),
    "q22_idle_balance" -> (Analytics.idleBalance _),
    // partsupp family (synthetic partsupp, identical derivation in both
    // engines): the four classic decorrelation shapes
    "q2_min_cost_supplier" -> ((s, d) => Analytics.minCostSupplier(s, d)),
    "q11_inventory_value" -> ((s, d) => Analytics.inventoryValue(s, d)),
    "q16b_supplier_counts" -> (Analytics.supplierCounts _),
    "q20_excess_stock" -> ((s, d) => Analytics.excessStockSuppliers(s, d)),
    "q9_product_profit" -> ((s, d) => Analytics.productProfit(s, d)),
    "q15b_top_supplier" -> ((s, d) => Analytics.topSupplier(s, d)),
    "q10_returned_items" -> (Analytics.returnedItemRanking _),
    "q13_customer_distribution" -> (Analytics.customerDistribution _),
    "m3_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)),
    "m4_media_knn" -> ((s, d) => Multimodal.mediaKnn(s, d)),
    // m4b — media retrieval through the exact-integer IVF index (the
    // scale path; brute m4 stays as the float truth leg)
    "m4b_media_knn_ivf" -> ((s, d) => Multimodal.mediaKnnIvf(s, d)),
    // m4c — the m-plane recall report: m4b vs brute m4
    "m4c_media_recall" -> ((s, d) => Multimodal.mediaRecall(s, d)),
    // k16 — the media plane's PERSISTED index lifecycle (k10's protocol
    // on media feature codes): train 3/4, frozen-quantizer append,
    // stored search — the production path m4b's inline retrain is not
    "k16_media_index_lifecycle" ->
      ((s, d) => Multimodal.mediaIndexLifecycle(s, d)),
    // m4d — recall of the STORED media search (k16's read path) against
    // the float brute truth: the monitor row for what production serves
    "m4d_media_recall_stored" ->
      ((s, d) => Multimodal.mediaRecallStored(s, d)),
    // m5 — binary content dedup: digests shuffle, payloads don't
    "m5_media_dedup" -> ((s, d) => Multimodal.mediaDedup(s, d)),
    // m6 — perceptual media near-dup: sign-LSH over the extracted feature
    // vectors (re-encoded/resized assets m5's byte hash cannot catch),
    // transitive clusters with lowest-id keeper election
    "m6_media_neardup" -> ((s, d) => Multimodal.mediaNearDup(s, d)),
    "q8_revenue_rollup" -> (Analytics.revenueRollup _),
    // q8c — CUBE + grouping_id (q8 covers ROLLUP; this closes the lattice)
    "q8c_revenue_cube" -> (Analytics.revenueCube _),
    // W5 — as-of join (operator Spark lacks; union+ordered-window plan)
    "w5_asof_attribution" -> (Analytics.asofAttribution _),
    // Q15 — exact median by rank selection (deterministic, vs approx)
    "q15_price_median" -> (Analytics.priceMedian _),
    // W6 — range join via bin-bucketed equi-join (operator Spark lacks)
    "w6_interval_join" -> (Analytics.intervalCandidates _),
    // Q16 — exact per-group quantile vector by rank selection
    "q16_length_quantiles" -> (Analytics.lengthQuantiles _),
    // W7 — anti range join: points contained in no interval
    "w7_window_orphans" -> (Analytics.windowOrphans _),
    // d4 runs over the SEEDED harness corpus (exact-angle twin vectors) so
    // the exact-all-pairs oracle has non-empty ground truth to recover
    "d4_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDupOn(Similarity.seededCorpus(s, d))),
    // LLM-data-pipeline operators over documents/embeddings
    "p1_text_quality" -> (TextAnalysis.quality _),
    "p2_langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "p3_token_stats" -> (TextAnalysis.tokenStats _),
    "p4_corpus_stats" -> (TextAnalysis.corpusStats _),
    "d1_dedup_exact" -> (Dedup.exact _),
    "p8_corpus_curation" -> ((s, d) => graft.pipeline.Curation.curate(s, d)),
    "p9_decontamination" -> ((s, d) =>
      graft.pipeline.Decontamination.contaminationScan(s, d)),
    "p10_weighted_sample" -> ((s, d) =>
      graft.pipeline.Sampling.weightedSampleQuery(s, d)),
    "p11_shard_assignment" -> ((s, d) =>
      graft.pipeline.Sampling.shardAssignment(s, d)),
    // p20 — token-budget data mixing (budgets, not rates; manifest nests)
    "p20_budget_mix" -> ((s, d) =>
      graft.pipeline.Sampling.budgetMixQuery(s, d)),
    // p21 — shuffled sequence packing (hash-permuted pack order)
    "p21_shuffled_windows" -> ((s, d) =>
      graft.pipeline.Packing.shuffledTokenWindows(s, d)),
    "p12_vocab_topk" -> ((s, d) => TextAnalysis.vocabTopK(s, d)),
    // p31 — BPE-style phrase-merge learning (word2phrase merge table)
    "p31_phrase_merges" -> ((s, d) => TextAnalysis.phraseMerges(s, d)),
    // p32 — the inference side: apply the learned merges, report the
    // per-doc token compression (pins the full trained state)
    "p32_phrase_compression" ->
      ((s, d) => TextAnalysis.phraseCompression(s, d)),
    // p32b — the tokenizer artifact's output: the trained state encoded
    // to (doc_id, pos, token_id) against the derived vocabulary
    "p32b_token_ids" -> ((s, d) => TextAnalysis.tokenIds(s, d)),
    // p32c — the artifact round trip: persist tokenizer → encode → DECODE;
    // in-vocab text reproduces the whitespace-normalized corpus exactly
    "p32c_decode_roundtrip" -> ((s, d) => TextAnalysis.decodeRoundtrip(s, d)),
    "p15_repetition" -> (TextAnalysis.repetition _),
    "p16_pii_scan" -> (graft.pipeline.Pii.piiScan _),
    "p17_token_windows" -> ((s, d) => graft.pipeline.Packing.tokenWindows(s, d)),
    "p18_distinct_sketch" -> ((s, d) => TextAnalysis.distinctSketch(s, d)),
    // p25 — bottom-k-by-hash quantile sketch (mergeable uniform sample)
    "p25_quantile_sketch" -> ((s, d) => TextAnalysis.quantileSketch(s, d)),
    // p26 — DSIR-style target-affinity ranking, integer-exact weights
    "p26_target_affinity" -> ((s, d) =>
      graft.pipeline.Sampling.targetAffinity(s, d)),
    "p19_split_manifest" -> ((s, d) =>
      graft.pipeline.Sampling.splitManifest(s, d)),
    // p22 — hashed-feature linear quality model: row-local fold per doc,
    // zero shuffle (the model-based filtering scale path)
    "p22_quality_model" -> ((s, d) =>
      graft.pipeline.QualityModel.qualityModel(s, d)),
    // p23 — count-min heavy hitters: native partial-aggregable sketch,
    // 8 KB buffers merge instead of token streams shuffling
    "p23_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    // p24 — cluster-balanced sampling: exact-integer k-means + hash-gate
    // top-k per cluster, fully hash-replayable including training
    "p24_cluster_balance" -> ((s, d) =>
      graft.pipeline.Sampling.clusterBalancedSample(s, d)),
    "d7_neardup_leaks" -> ((s, d) =>
      graft.pipeline.Decontamination.nearDupLeaks(s, d)),
    "p13_normalize" -> ((s, d) => TextAnalysis.normalize(s, d)),
    "p14_curation_full" -> ((s, d) =>
      graft.pipeline.Curation.curateFull(s, d)),
    // k5 runs the EXACT-INTEGER trained quantizer (fixed-point cosine
    // key, SUM-DIV-count means) so training itself is oracle-replayable;
    // the float variant keeps its law specs in PipelineSpec
    "k5_knn_ivf_trained" -> ((s, d) =>
      graft.pipeline.Similarity.knnIvfTrainedExact(s, d)),
    // k10 — incremental-index lifecycle: train on the initial ingest
    // only, assign the appended batch to the frozen quantizer, search
    // the union (the oracle-checked form of the write→append→search
    // parquet lifecycle)
    "k10_index_lifecycle" -> ((s, d) =>
      graft.pipeline.Similarity.knnIndexLifecycleExact(s, d)),
    // k15 — FILTERED stored ANN (the production vector-store feature):
    // exact pre-filter within the probed cells — candidates semi-joined
    // against the metadata predicate's id set before ranking
    // k17 — the adaptive filtered ANN (probe width scaled 1/selectivity,
    // exact integer width selection, degenerating to probe-all — the
    // recall-floor answer to selective tenant filters)
    "k17_knn_filtered_adaptive" ->
      ((s, d) => Similarity.knnIvfFilteredAdaptiveLifecycle(s, d)),
    "k15_knn_filtered" -> ((s, d) =>
      graft.pipeline.Similarity.knnIvfFilteredLifecycle(s, d)),
    "k6_quantized_codes" -> (graft.pipeline.Similarity.quantizedCodes _),
    "d8_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "d9_incremental_dedup" -> ((s, d) => Dedup.incrementalDedupQuery(s, d)),
    // d9b — the stored-index read path with batch-built bloom runtime
    // filters pruning the index scans (row-identical to d9 by law)
    "d9b_incremental_bloom" ->
      ((s, d) => Dedup.incrementalDedupGatedQuery(s, d)),
    "d2_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(s, d)),
    "d5_neardup_clusters" -> (Dedup.nearDupClusters _),
    // d11 — quality-aware canonical selection (keep the best cluster member)
    "d11_canonical_selection" -> (Dedup.canonicalSelection _),
    "d3_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    // d10 — verbatim duplicate-span mass (exact-substring dedup signal)
    "d10_dup_spans" -> ((s, d) => Dedup.dupSpans(s, d)),
    // d12 — duplicate-span removal: the corpus rewrite d10 only measures
    "d12_dup_span_removal" -> ((s, d) => Dedup.removeDupSpans(s, d)),
    // d13 — within-doc self-repetition removal (keep first occurrence)
    "d13_self_repetition_removal" ->
      ((s, d) => Dedup.removeRepeatedSpans(s, d)),
    // p27 — per-source dedup audit report (d1 × d10 composition)
    "p27_dedup_report" -> ((s, d) => Dedup.dedupReport(s, d)),
    // d14 — paragraph-grain keep-first dedup (CCNet chunk hash grain)
    "d14_paragraph_dedup" -> ((s, d) => Dedup.paragraphDedup(s, d)),
    // p28 — per-source document caps (domain-cap selection)
    "p28_source_caps" -> ((s, d) => graft.pipeline.Sampling.sourceCaps(s, d)),
    // p33 — lexical retrieval through the inverted index (the sparse
    // complement of the ANN plane)
    "p33_keyword_topk" -> ((s, d) => graft.pipeline.Retrieval.keywordTopK(s, d)),
    // p33b — the persisted-index lifecycle (write history index → append
    // daily batch → search merged layers); row-identical to p33 by the
    // RetrievalIndexSpec law, so it carries p33's oracle (the d9b pattern)
    "p33b_keyword_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.keywordIndexLifecycle(s, d)),
    // p33c — BM25 (saturation + length normalization), the production
    // lexical ranking, exact-integer ppm surrogates
    "p33c_bm25_topk" -> ((s, d) => graft.pipeline.Retrieval.bm25TopK(s, d)),
    // p33d — BM25 through the persisted-index lifecycle (reuses p33c's
    // oracle by the same law)
    "p33d_bm25_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.bm25IndexLifecycle(s, d)),
    // p33e — exact-phrase retrieval: positions-adjacency match of each
    // query doc's leading n-gram, BM25-scored (positional postings)
    "p33e_phrase_topk" ->
      ((s, d) => graft.pipeline.Retrieval.phraseTopK(s, d)),
    // p33f — the phrase query through the stored POSITIONAL index
    // lifecycle (build with positions → append → phrase-search the store)
    "p33f_phrase_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.phraseIndexLifecycle(s, d)),
    // p33i — boolean conjunctive (AND) retrieval: only docs containing
    // ALL the query's terms qualify, BM25-ranked (Lucene MUST mode)
    "p33i_boolean_topk" ->
      ((s, d) => graft.pipeline.Retrieval.booleanTopK(s, d)),
    // p33j — the boolean query through the stored-index lifecycle
    "p33j_boolean_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.booleanIndexLifecycle(s, d)),
    // p33k — FULL boolean clause matrix (Lucene MUST / MUST_NOT /
    // SHOULD): required terms gate, exclusion terms anti, optional
    // terms score
    "p33k_boolean_query" ->
      ((s, d) => graft.pipeline.Retrieval.booleanQueryTopK(s, d)),
    // p33r — prefix term query (Lucene PrefixQuery): expand to the
    // capped dictionary terms under the prefix, rank by matched
    // occurrences; p33r2 = the same through the stored index's SORTED
    // dict member (range-pruned expansion scan)
    "p33r_prefix_topk" ->
      ((s, d) => graft.pipeline.Retrieval.prefixTopK(s, d)),
    // p33s — the clause matrix with Lucene minimumNumberShouldMatch = 1
    // (optional clauses become a quorum, same gate aggregate)
    "p33s_boolean_msm" ->
      ((s, d) =>
        graft.pipeline.Retrieval.booleanQueryTopK(s, d, minShouldMatch = 1)),
    // p33s2/p33s3 — OR-of-ANDs (disjunction of conjunctive clauses):
    // a union of seed-pruned AND gates, matched clauses' scores sum
    "p33s2_boolean_dnf" ->
      ((s, d) => graft.pipeline.Retrieval.dnfTopK(s, d)),
    "p33s3_dnf_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.dnfIndexLifecycle(s, d)),
    "p33r2_prefix_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.prefixIndexLifecycle(s, d)),
    // p33r3 — wildcard term query through the stored lifecycle (leading
    // literal prunes the sorted dict; '?' residual matches via LIKE)
    "p33r3_wildcard_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.wildcardIndexLifecycle(s, d)),
    // p33t/p33t2 — fuzzy term query (Lucene FuzzyQuery, maxEdits=2):
    // closest dictionary terms win the capped clause budget, constant-
    // score Σ tf ranking; t2 = the stored-dict lifecycle
    "p33t_fuzzy_topk" ->
      ((s, d) => graft.pipeline.Retrieval.fuzzyTopK(s, d)),
    "p33t2_fuzzy_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.fuzzyIndexLifecycle(s, d)),
    // p33u/p33u2 — phrase-prefix (search-as-you-type): exact leading
    // tokens immediately followed by any term with the last slot's
    // prefix; u2 = the stored lifecycle (dict-expanded last slot)
    "p33u_phrase_prefix" ->
      ((s, d) => graft.pipeline.Retrieval.phrasePrefixTopK(s, d)),
    "p33u2_phrase_prefix_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.phrasePrefixIndexLifecycle(s, d)),
    // p33v/p33v2 — regex term query (Lucene RegexpQuery): the pattern's
    // leading literal range-prunes the sorted dict, the RE2 ∩ Java
    // residual filters the band; v2 = the stored-dict lifecycle
    "p33v_regex_topk" ->
      ((s, d) => graft.pipeline.Retrieval.regexTopK(s, d)),
    "p33v2_regex_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.regexIndexLifecycle(s, d)),
    // p33x/p33x2 — term-range query (Lucene TermRangeQuery): both range
    // bounds push onto the sorted dict; x2 = the stored lifecycle
    "p33x_term_range" ->
      ((s, d) => graft.pipeline.Retrieval.termRangeTopK(s, d)),
    "p33x2_term_range_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.termRangeIndexLifecycle(s, d)),
    // p33y/p33y2 — more-like-this (Lucene MLT): the query doc's top
    // tf-idf terms become a BM25 disjunction; y2 = the stored lifecycle
    "p33y_more_like_this" ->
      ((s, d) => graft.pipeline.Retrieval.moreLikeThisTopK(s, d)),
    "p33y2_mlt_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.moreLikeThisIndexLifecycle(s, d)),
    // p33m — snippets: the ±4-token window around each hit's first
    // matched query term (the result-page excerpt)
    "p33m_snippets" ->
      ((s, d) => graft.pipeline.Retrieval.snippetTopK(s, d)),
    // p33n — facet counts over each query's FULL match set (no top-k
    // cut): the refinement sidebar per metadata value
    "p33n_facets" ->
      ((s, d) => graft.pipeline.Retrieval.facetCounts(s, d)),
    // p33o/p33p — snippets and facets through the stored-index
    // lifecycle (positions/postings bucket-pruned; text from the doc
    // store — the Lucene stored-field fetch)
    "p33o_snippets_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.snippetIndexLifecycle(s, d)),
    "p33p_facets_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.facetIndexLifecycle(s, d)),
    // p33q — SELF-CONTAINED snippets: the index's own stored-fields
    // member serves the excerpt text (build → append → compact → serve
    // the whole result page from one store root)
    "p33q_snippets_stored" ->
      ((s, d) => graft.pipeline.Retrieval.snippetStoredLifecycle(s, d)),
    // p33l — the full boolean query through the stored-index lifecycle
    "p33l_boolean_query_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.booleanQueryLifecycle(s, d)),
    // p33g — ordered-proximity retrieval (sloppy phrase / #uwN): phrase
    // terms in order within an 8-token window, band-join chained
    "p33g_proximity_topk" ->
      ((s, d) => graft.pipeline.Retrieval.proximityTopK(s, d)),
    // p33h — proximity through the stored positional-index lifecycle
    "p33h_proximity_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.proximityIndexLifecycle(s, d)),
    // p33w/p33w2 — UNORDERED proximity (#uw8): all phrase terms at
    // distinct positions within the window, any order (ordered ⊆
    // unordered law); w2 = the stored positional lifecycle
    "p33w_proximity_unordered" ->
      ((s, d) => graft.pipeline.Retrieval.unorderedProximityTopK(s, d)),
    "p33w2_unordered_indexed" ->
      ((s, d) => graft.pipeline.Retrieval.unorderedProximityIndexLifecycle(s, d)),
    // p34 — per-source distribution drift vs the frozen history profile
    "p34_drift_report" -> ((s, d) => graft.pipeline.Sampling.driftReport(s, d)),
    // p36 — hybrid retrieval: RRF fusion of the lexical (p33) and
    // dense (k2) legs
    "p36_hybrid_topk" -> ((s, d) => graft.pipeline.Retrieval.hybridTopK(s, d)),
    // p36b — the same fusion with the production BM25 lexical leg
    "p36b_hybrid_bm25" ->
      ((s, d) => graft.pipeline.Retrieval.hybridBm25TopK(s, d)),
    // p36c — THREE-leg fusion: BM25 + dense IVF + ordered proximity
    "p36c_hybrid_proximity" ->
      ((s, d) => graft.pipeline.Retrieval.hybridProximityTopK(s, d)),
    // p36d — the fusion through the PERSISTED stores (the production
    // shape): build the positional inverted index AND the exact-integer
    // IVF index, then fuse the three STORED searches — every leg reads
    // its store partition-pruned, nothing recomputed inline
    "p36d_hybrid_stored" ->
      ((s, d) => graft.pipeline.Retrieval.hybridStoredLifecycle(s, d)),
    // p36f — the FILTERED production query: the p36d fusion with every
    // leg restricted to a metadata predicate (lang='en') under exact
    // pre-filter semantics; df/N and the quantizer stay corpus-grain
    "p36f_hybrid_filtered" ->
      ((s, d) => graft.pipeline.Retrieval.hybridStoredFilteredLifecycle(s, d)),
    // p36e — the whole DEPLOYMENT as one query: bootstrap the three
    // stores, stream the daily batches through the ingest loops (layers
    // keyed on micro-batch ids, maintenance at the committed frontier),
    // then the stored hybrid search; ≡ p36d by the layer-merge laws
    "p36e_pipeline_deployment" ->
      ((s, d) => graft.streaming.PipelineDeployment.lifecycleQuery(s, d)),
    // p35 — bigram-LM familiarity (perplexity-style quality signal,
    // exact-integer add-one surrogate trained on the history split)
    "p35_lm_familiarity" ->
      ((s, d) => graft.pipeline.QualityModel.lmFamiliarity(s, d)),
    // p35b — the stored-model lifecycle (write half the history's counts
    // → append the rest as delta layers → score against the merged
    // tables); row-identical to p35 by the LmStoreSpec law, same oracle
    "p35b_lm_lifecycle" ->
      ((s, d) => graft.pipeline.QualityModel.lmLifecycle(s, d)),
    // p37 — CCNet-style perplexity-tier sampling: head/middle/tail
    // tertiles over the p35 scores, per-tier deterministic keep rates
    "p37_perplexity_tiers" ->
      ((s, d) => graft.pipeline.QualityModel.perplexityTiers(s, d)),
    // p29 — surgical decontamination (eval-overlapping spans cut out)
    "p29_decontamination_removal" ->
      ((s, d) => graft.pipeline.Decontamination.decontaminationRemoval(s, d)),
    // k7 — product quantization codes (sampled codebook, exact-int argmin)
    "k7_pq_codes" -> ((s, d) => Similarity.pqCodes(s, d)),
    // k8 — ADC kNN over PQ codes (lookup-table scan, no vectors touched)
    "k8_knn_pq" -> ((s, d) => Similarity.knnPq(s, d)),
    // k9 — IVF-PQ: cell-pruned ADC search (the billion-scale layout)
    "k9_knn_ivfpq" -> ((s, d) => Similarity.knnIvfPq(s, d)),
    // k11 — two-stage retrieval: IVF-PQ shortlist, exact int8 re-rank
    "k11_knn_rerank" -> ((s, d) => Similarity.knnIvfPqRerank(s, d)),
    "d6_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    "k1_knn_brute" -> ((s, d) => Similarity.knnBruteForce(s, d)),
    "k2_knn_ivf" -> ((s, d) => Similarity.knnIvf(s, d)),
    "k3_lsh_bucket_stats" -> (Similarity.lshBucketStats _),
    "k4_knn_lsh" -> ((s, d) => Similarity.knnLsh(s, d)),
    // k12 — recall@k of every approximate index vs exact brute force
    "k12_recall_report" -> ((s, d) => Similarity.recallReport(s, d)),
    // k13 — trained-IVF cell occupancy/cohesion (index health report)
    "k13_cell_stats" -> ((s, d) => Similarity.ivfCellStats(s, d)),
    // k14 — the k12+k13 composition as an operational decision row
    "k14_index_health" -> ((s, d) => Similarity.ivfHealthReport(s, d)),
    // p30 — leakage-free split: p19's gate keyed by d5's cluster label
    "p30_leakfree_split" ->
      ((s, d) => graft.pipeline.Sampling.leakFreeSplit(s, d)),
    // p30b — split stability: old splits frozen, new docs adopt their
    // cluster's split; cross-split merges reported, never repaired
    "p30b_split_stability" ->
      ((s, d) => graft.pipeline.Sampling.leakFreeSplitIncremental(s, d)),
    "m1_media_meta" -> (Multimodal.mediaMeta _),
    "m2_media_stats" -> (Multimodal.mediaStats _)
  )

  /** DuckDB-equivalent SQL per query (same parquet tables, same column
    * names, same ORDER BY).
    */
  def oracleSql: Map[String, String] = Map(
    "s5_journal_scan" -> JournalOracles.journalScan,
    "a2_pointer" -> JournalOracles.pointer,
    "s8_metajournal" -> JournalOracles.metajournal,
    "s9_pointer2" -> JournalOracles.pointer2,
    "a5_topics" -> JournalOracles.topics,
    "a6_ids" -> JournalOracles.ids,
    "a6b_ids_by_created" -> JournalOracles.idsByCreated,
    "p5_fingerprint" -> PipelineOracles.fingerprint,
    "p6_length_histogram" -> PipelineOracles.lengthHistogram,
    "p7_source_quality" -> PipelineOracles.sourceQuality,
    "a1_head_info" -> JournalOracles.headInfo,
    "a3_batch_compaction" -> JournalOracles.batchCompaction,
    "j1_replay_merge" -> JournalOracles.mergedRead,
    // same oracle as j1: the head-cache gate is row-invisible by law
    "j1b_replay_gated" -> JournalOracles.mergedRead,
    // same oracle as s10d: the cache gate is row-invisible (j1b law) and
    // the snapshot floor is s10d's own derivation
    "j1c_recover_cached" -> JournalOracles.snapshotRecovery,
    "f4_dedup_replay" -> JournalOracles.dedupReplay,
    "a7_expired" -> JournalOracles.expired,
    "s10_snapshot_load" -> JournalOracles.snapshotLoad,
    "s2_key_tail_scan" -> JournalOracles.keyTailScan,
    "f2_stream_bounds" -> JournalOracles.streamBounds,
    "t6_staleness" -> JournalOracles.staleness,
    // the cache-maintained decision ≡ the batch headInfo ∘ staleness
    // composition (HeadCacheSpec law), so the oracle replays the latter
    "t6b_head_cache" -> JournalOracles.headCacheDecision,
    "c1_segments" -> JournalOracles.segments,
    "c6_codec_roundtrip" -> JournalOracles.codecRoundtrip,
    "c5_action_header" -> JournalOracles.actionHeader,
    "f8_wire_roundtrip" -> JournalOracles.actionCounts,
    "s10b_snapshot_criteria" -> JournalOracles.snapshotCriteria,
    "s10c_snapshot_lifecycle" -> JournalOracles.snapshotLifecycle,
    "s10d_snapshot_recovery" -> JournalOracles.snapshotRecovery,
    "s10e_snapshot_debt" -> JournalOracles.snapshotDebt,
    "c7_payload_roundtrip" -> JournalOracles.payloadRoundtrip,
    "s5b_tag_replay" -> JournalOracles.tagReplay,
    "a7b_purge_expired_apply" -> JournalOracles.purgeExpiredApply,
    "q1_pricing_summary" -> AnalyticsOracles.pricingSummary,
    "q3_revenue_topk" -> AnalyticsOracles.revenueTopK,
    "q5_region_revenue" -> AnalyticsOracles.regionRevenue,
    "q4_order_priority" -> AnalyticsOracles.orderPriority,
    "w1_events_running" -> AnalyticsOracles.eventsRunning,
    "w2_sessionize" -> AnalyticsOracles.sessionize,
    "q6_event_type_stats" -> AnalyticsOracles.eventTypeStats,
    "q7_top_users" -> AnalyticsOracles.topUsers,
    "w3_event_ranks" -> AnalyticsOracles.eventRanks,
    "w9_funnel" -> AnalyticsOracles.funnel,
    "w10_retention_cohorts" -> AnalyticsOracles.retentionCohorts,
    "q6_forecast_revenue" -> AnalyticsOracles.forecastRevenue,
    "q12_shipmode_priority" -> AnalyticsOracles.shipmodePriority,
    "q14_promo_revenue" -> AnalyticsOracles.promoRevenue,
    "q17_small_qty_revenue" -> AnalyticsOracles.smallQtyRevenue,
    "q18_large_orders" -> AnalyticsOracles.largeOrders,
    "q19_disjunctive_revenue" -> AnalyticsOracles.disjunctiveRevenue,
    "q7b_nation_volume" -> AnalyticsOracles.nationVolume,
    "q8b_market_share" -> AnalyticsOracles.marketShare,
    "q21_waiting_suppliers" -> AnalyticsOracles.waitingSuppliers,
    "q22_idle_balance" -> AnalyticsOracles.idleBalance,
    "q2_min_cost_supplier" -> AnalyticsOracles.minCostSupplier,
    "q11_inventory_value" -> AnalyticsOracles.inventoryValue,
    "q16b_supplier_counts" -> AnalyticsOracles.supplierCounts,
    "q20_excess_stock" -> AnalyticsOracles.excessStockSuppliers,
    "q9_product_profit" -> AnalyticsOracles.productProfit,
    "q15b_top_supplier" -> AnalyticsOracles.topSupplier,
    "q10_returned_items" -> AnalyticsOracles.returnedItemRanking,
    "q13_customer_distribution" -> AnalyticsOracles.customerDistribution,
    "m3_frame_sample" -> PipelineOracles.frameSample,
    "m4_media_knn" -> PipelineOracles.mediaKnn,
    "m4b_media_knn_ivf" -> PipelineOracles.mediaKnnIvf,
    "m4c_media_recall" -> PipelineOracles.mediaRecall,
    "m5_media_dedup" -> PipelineOracles.mediaDedup,
    "m6_media_neardup" -> PipelineOracles.mediaNearDup,
    "q8_revenue_rollup" -> AnalyticsOracles.revenueRollup,
    "q8c_revenue_cube" -> AnalyticsOracles.revenueCube,
    "w5_asof_attribution" -> AnalyticsOracles.asofAttribution,
    "q15_price_median" -> AnalyticsOracles.priceMedian,
    "w6_interval_join" -> AnalyticsOracles.intervalCandidates,
    "q16_length_quantiles" -> AnalyticsOracles.lengthQuantiles,
    "w7_window_orphans" -> AnalyticsOracles.windowOrphans,
    "d4_embedding_neardup" -> PipelineOracles.embeddingNearDup,
    "p1_text_quality" -> PipelineOracles.quality,
    "p2_langid_confusion" -> PipelineOracles.langIdConfusion,
    "p3_token_stats" -> PipelineOracles.tokenStats,
    "p4_corpus_stats" -> PipelineOracles.corpusStats,
    "d1_dedup_exact" -> PipelineOracles.dedupExact,
    "p8_corpus_curation" -> PipelineOracles.curate,
    "p9_decontamination" -> PipelineOracles.contaminationScan,
    "p10_weighted_sample" -> PipelineOracles.weightedSample,
    "p20_budget_mix" -> PipelineOracles.budgetMix,
    "p21_shuffled_windows" -> PipelineOracles.shuffledTokenWindows,
    "p11_shard_assignment" -> PipelineOracles.shardAssignment,
    "k6_quantized_codes" -> PipelineOracles.quantizedCodes,
    "p12_vocab_topk" -> PipelineOracles.vocabTopK,
    "p31_phrase_merges" -> PipelineOracles.phraseMerges,
    "p32_phrase_compression" -> PipelineOracles.phraseCompression,
    "p32b_token_ids" -> PipelineOracles.tokenIds,
    "p32c_decode_roundtrip" -> PipelineOracles.decodeRoundtrip,
    "p15_repetition" -> PipelineOracles.repetition,
    "p16_pii_scan" -> PipelineOracles.piiScan,
    "p17_token_windows" -> PipelineOracles.tokenWindows,
    "p18_distinct_sketch" -> PipelineOracles.distinctSketch,
    "p25_quantile_sketch" -> PipelineOracles.quantileSketch,
    "p26_target_affinity" -> PipelineOracles.targetAffinity,
    "p19_split_manifest" -> PipelineOracles.splitManifest,
    "d7_neardup_leaks" -> PipelineOracles.nearDupLeaks,
    "p13_normalize" -> PipelineOracles.normalize,
    "p14_curation_full" -> PipelineOracles.curateFull,
    "d8_semantic_dedup" -> PipelineOracles.semanticDedup,
    "d9_incremental_dedup" -> PipelineOracles.incrementalDedup,
    // same oracle as d9: the bloom gate is row-invisible by construction
    "d9b_incremental_bloom" -> PipelineOracles.incrementalDedup,
    "d2_minhash_pairs" -> PipelineOracles.minhashPairs,
    "d3_simhash_pairs" -> PipelineOracles.simhashPairs,
    "d10_dup_spans" -> PipelineOracles.dupSpans,
    "d12_dup_span_removal" -> PipelineOracles.removeDupSpans,
    "d13_self_repetition_removal" -> PipelineOracles.removeRepeatedSpans,
    "p27_dedup_report" -> PipelineOracles.dedupReport,
    "d14_paragraph_dedup" -> PipelineOracles.paragraphDedup,
    "p28_source_caps" -> PipelineOracles.sourceCaps,
    "p33_keyword_topk" -> PipelineOracles.keywordTopK,
    // same oracle as p33: the lifecycle's merged index IS the full-corpus
    // index (RetrievalIndexSpec pins indexed ≡ inline row-for-row)
    "p33b_keyword_indexed" -> PipelineOracles.keywordTopK,
    "p33c_bm25_topk" -> PipelineOracles.bm25TopK,
    // same oracle as p33c by the same indexed ≡ inline law
    "p33d_bm25_indexed" -> PipelineOracles.bm25TopK,
    "p36b_hybrid_bm25" -> PipelineOracles.hybridBm25TopK,
    "p36c_hybrid_proximity" -> PipelineOracles.hybridProximityTopK,
    "p36d_hybrid_stored" -> PipelineOracles.hybridStoredTopK,
    // same oracle as p36d: the deployment's merged layer views ARE the
    // full-corpus stores (PipelineDeploymentSpec pins the identity)
    "p36e_pipeline_deployment" -> PipelineOracles.hybridStoredTopK,
    "p36f_hybrid_filtered" -> PipelineOracles.hybridStoredFiltered,
    "p33e_phrase_topk" -> PipelineOracles.phraseTopK,
    // same oracle as p33e by the indexed ≡ inline law
    "p33f_phrase_indexed" -> PipelineOracles.phraseTopK,
    "p33i_boolean_topk" -> PipelineOracles.booleanTopK,
    // same oracle as p33i by the indexed ≡ inline law
    "p33j_boolean_indexed" -> PipelineOracles.booleanTopK,
    "p33k_boolean_query" -> PipelineOracles.booleanQueryTopK,
    "p33r_prefix_topk" -> PipelineOracles.prefixTopK,
    "p33s_boolean_msm" -> PipelineOracles.booleanMsmTopK,
    "p33s2_boolean_dnf" -> PipelineOracles.dnfTopK,
    // same oracle as p33s2 by the indexed ≡ inline law
    "p33s3_dnf_indexed" -> PipelineOracles.dnfTopK,
    // same oracle as p33r by the indexed ≡ inline law
    "p33r2_prefix_indexed" -> PipelineOracles.prefixTopK,
    "p33r3_wildcard_indexed" -> PipelineOracles.wildcardTopK,
    "p33t_fuzzy_topk" -> PipelineOracles.fuzzyTopK,
    "p33u_phrase_prefix" -> PipelineOracles.phrasePrefixTopK,
    // same oracle as p33u by the indexed ≡ inline law
    "p33u2_phrase_prefix_indexed" -> PipelineOracles.phrasePrefixTopK,
    // same oracle as p33t by the indexed ≡ inline law
    "p33t2_fuzzy_indexed" -> PipelineOracles.fuzzyTopK,
    "p33v_regex_topk" -> PipelineOracles.regexTopK,
    // same oracle as p33v by the indexed ≡ inline law
    "p33v2_regex_indexed" -> PipelineOracles.regexTopK,
    "p33x_term_range" -> PipelineOracles.termRangeTopK,
    // same oracle as p33x by the indexed ≡ inline law
    "p33x2_term_range_indexed" -> PipelineOracles.termRangeTopK,
    "p33y_more_like_this" -> PipelineOracles.moreLikeThisTopK,
    // same oracle as p33y by the indexed ≡ inline law
    "p33y2_mlt_indexed" -> PipelineOracles.moreLikeThisTopK,
    "p33m_snippets" -> PipelineOracles.snippetTopK,
    "p33n_facets" -> PipelineOracles.facetCounts,
    // same oracles as p33m/p33n by the indexed ≡ inline law
    "p33o_snippets_indexed" -> PipelineOracles.snippetTopK,
    "p33p_facets_indexed" -> PipelineOracles.facetCounts,
    // p33q: fields round-trip text verbatim, so p33m's oracle carries
    "p33q_snippets_stored" -> PipelineOracles.snippetTopK,
    // same oracle as p33k by the indexed ≡ inline law
    "p33l_boolean_query_indexed" -> PipelineOracles.booleanQueryTopK,
    "p33g_proximity_topk" -> PipelineOracles.proximityTopK,
    // same oracle as p33g by the indexed ≡ inline law
    "p33h_proximity_indexed" -> PipelineOracles.proximityTopK,
    "p33w_proximity_unordered" -> PipelineOracles.unorderedProximityTopK,
    // same oracle as p33w by the indexed ≡ inline law
    "p33w2_unordered_indexed" -> PipelineOracles.unorderedProximityTopK,
    "p34_drift_report" -> PipelineOracles.driftReport,
    "p36_hybrid_topk" -> PipelineOracles.hybridTopK,
    "p35_lm_familiarity" -> PipelineOracles.lmFamiliarity,
    // same oracle as p35: merged delta layers ARE the full-history counts
    "p35b_lm_lifecycle" -> PipelineOracles.lmFamiliarity,
    "p37_perplexity_tiers" -> PipelineOracles.perplexityTiers,
    "p29_decontamination_removal" -> PipelineOracles.decontaminationRemoval,
    "k7_pq_codes" -> PipelineOracles.pqCodes,
    "k8_knn_pq" -> PipelineOracles.knnPq,
    "k9_knn_ivfpq" -> PipelineOracles.knnIvfPq,
    "k11_knn_rerank" -> PipelineOracles.knnIvfPqRerank,
    "d6_ngram_jaccard" -> PipelineOracles.ngramJaccardPairs,
    "d5_neardup_clusters" -> PipelineOracles.nearDupClusters,
    "d11_canonical_selection" -> PipelineOracles.canonicalSelection,
    "k1_knn_brute" -> PipelineOracles.knnBruteForce,
    "k2_knn_ivf" -> PipelineOracles.knnIvf,
    "k3_lsh_bucket_stats" -> PipelineOracles.lshBucketStats,
    "k4_knn_lsh" -> PipelineOracles.knnLsh,
    "k12_recall_report" -> PipelineOracles.knnRecallReport,
    "k13_cell_stats" -> PipelineOracles.ivfCellStats,
    "k14_index_health" -> PipelineOracles.ivfHealthReport,
    "p30_leakfree_split" -> PipelineOracles.leakFreeSplit,
    "p30b_split_stability" -> PipelineOracles.leakFreeSplitIncremental,
    "k5_knn_ivf_trained" -> PipelineOracles.knnIvfTrained,
    "k10_index_lifecycle" -> PipelineOracles.indexLifecycle,
    "k16_media_index_lifecycle" -> PipelineOracles.mediaIndexLifecycle,
    "m4d_media_recall_stored" -> PipelineOracles.mediaRecallStored,
    "k15_knn_filtered" -> PipelineOracles.knnIvfFiltered,
    "k17_knn_filtered_adaptive" -> PipelineOracles.knnIvfFilteredAdaptive,
    "p22_quality_model" -> PipelineOracles.qualityModel,
    "p23_heavy_hitters" -> PipelineOracles.heavyHitters,
    "p24_cluster_balance" -> PipelineOracles.clusterBalance,
    "m1_media_meta" -> PipelineOracles.mediaMeta,
    "m2_media_stats" -> PipelineOracles.mediaStats
    // EVERY query now has a DuckDB oracle: the dedup/LSH operators hash
    // with portable exact-integer arithmetic, and k5's trained quantizer
    // runs in fixed-point BIGINT so even its k-means training replays
  )
}
