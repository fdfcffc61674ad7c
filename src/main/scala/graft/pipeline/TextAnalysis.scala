package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: quality scoring,
  * language identification, token statistics. All are single-pass projections
  * over the `documents` table — no shuffle except the final ORDER BY, fully
  * inside whole-stage codegen (no UDFs: every feature is built from
  * length/replace/regexp arithmetic so Catalyst codegens it and the DuckDB
  * oracle can mirror it exactly).
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** # of occurrences of `needle` via length arithmetic — engine-portable
    * and codegen-friendly (no regex engine differences).
    */
  private def occurrences(c: Column, needle: String): Column =
    (length(c) - length(replace(c, lit(needle), lit("")))) / needle.length

  /** Whitespace token count: single-space separated corpus → spaces + 1. */
  private def wordCount(c: Column): Column =
    length(c) - length(replace(c, lit(" "), lit(""))) + 1

  /** Quality scoring: the length/punctuation/stopword-ratio features a
    * pretraining filter computes per document (C4-/Gopher-style heuristics).
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val txt = col("text")
    d.select(
        col("doc_id"),
        col("lang"),
        col("source"),
        length(txt).as("n_chars_actual"),
        col("n_chars"),
        wordCount(txt).cast("long").as("n_words"),
        (length(txt).cast("double") / wordCount(txt))
          .as("avg_word_len"),
        occurrences(txt, ".").cast("long").as("n_periods"),
        occurrences(txt, " the ").cast("long").as("n_the"),
        (occurrences(txt, " the ").cast("double") / wordCount(txt))
          .as("stopword_ratio")
      )
      .orderBy("doc_id")
  }

  /** Stopword-profile language ID (n-gram-free heuristic): score each
    * language by marker-word occurrences, plus a non-ASCII share for CJK;
    * argmax with a deterministic priority order. Returns the per-language
    * confusion counts against the labeled `lang` column.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    def score(words: Seq[String]): Column =
      words.map(w => occurrences(padded, s" $w ")).reduce(_ + _)
    val en = score(Seq("the", "and", "of", "is"))
    val fr = score(Seq("le", "la", "et", "les"))
    val es = score(Seq("el", "los", "y", "de"))
    val de = score(Seq("der", "die", "und", "das"))
    // non-ASCII character share signals CJK ('[ -~]' = printable ASCII,
    // identical in Java regex and RE2)
    val zh = length(col("text")) -
      length(regexp_replace(col("text"), "[ -~]", ""))
    val pred = when(col("en_s") === col("mx"), "en")
      .when(col("de_s") === col("mx"), "de")
      .when(col("es_s") === col("mx"), "es")
      .otherwise("fr")
    d.select(
        col("doc_id"),
        col("lang"),
        en.as("en_s"),
        fr.as("fr_s"),
        es.as("es_s"),
        de.as("de_s"),
        zh.cast("double").as("zh_s")
      )
      .withColumn(
        "mx",
        greatest(col("en_s"), col("fr_s"), col("es_s"), col("de_s"))
      )
      .withColumn("predicted", when(col("zh_s") > 0, "zh").otherwise(pred))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Token statistics: whitespace tokens plus a BPE-ish regex segmentation
    * (alpha runs / digit runs / single punctuation — the pre-tokenizer
    * shape GPT-style BPE vocabularies assume).
    */
  /** THE token definition — alpha runs / digit runs / single
    * punctuation over the lowered text. Every operator that tokenizes
    * (p3 stats, p11 shard budgets, p22 model features, p23 heavy
    * hitters) and every matching oracle assumes this one regex; a
    * per-site copy would let the definition silently fork.
    */
  val BpeTokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** The BPE-ish token array of a text column. */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(BpeTokenRegex), lit(0))

  /** The p3 BPE-ish token count — shared with p11's per-shard token
    * budgets so the token definition cannot silently fork.
    */
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = bpeTokenCount(col("text"))
    d.select(
        col("doc_id"),
        col("lang"),
        wordCount(col("text")).cast("long").as("ws_tokens"),
        toks.cast("long").as("bpe_tokens"),
        (length(col("text")).cast("double") / toks).as("chars_per_token")
      )
      .orderBy("doc_id")
  }

  /** Document fingerprinting: polynomial rolling hash over the character
    * stream (mod 1e9+7), plus a 64-char-prefix fingerprint — the cheap
    * content identity used for incremental re-crawl detection. Computed by
    * the native [[graft.functions.PolyHash]] expression (single codegen'd
    * pass); DuckDB mirrors the identical arithmetic with list_reduce.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def roll(c: Column): Column = graft.functions.PolyHash.polyHash(c)
    d.select(
        col("doc_id"),
        roll(col("text")).as("fp"),
        roll(substring(col("text"), 1, 64)).as("prefix_fp")
      )
      .orderBy("doc_id")
  }

  /** Document-length histogram (100-char buckets) per language — the
    * length-filter calibration view of a corpus.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("lang"),
        (floor(col("n_chars") / 100) * 100).cast("long").as("bucket")
      )
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "bucket")

  /** p13 — text normalization: lowercase, whitespace-run collapse, trim —
    * the canonicalization pass that runs BEFORE dedup so that trivial
    * formatting variants hash identically (d1's md5 and the shingle/gram
    * hashes all key on exact bytes). Pure row-local projection, zero
    * shuffle beyond the oracle's presentation sort. Emits the normalized
    * fingerprint (portable poly_hash) rather than the normalized text —
    * at corpus scale the downstream consumer wants the canonical
    * identity, not a second copy of the corpus; `changed` marks docs the
    * normalization actually touched.
    */
  def normalize(d: DataFrame): DataFrame = {
    val norm = normalizedText(col("text"))
    d.select(
        col("doc_id"),
        graft.functions.PolyHash.polyHash(norm).as("norm_fp"),
        length(norm).cast("long").as("n_chars_norm"),
        (norm =!= col("text")).as("changed")
      )
      .orderBy("doc_id")
  }

  def normalize(spark: SparkSession, dir: String): DataFrame =
    normalize(docs(spark, dir))

  /** The normalized text itself (the fingerprint query above is the
    * corpus-scale artifact; this is the transform a pipeline maps).
    * `\s+` so tab/newline formatting variants collapse too (Java and
    * RE2 agree on the \s class: space, \t, \n, \x0B, \f, \r); the
    * whitespace run becomes a single space, so plain trim finishes.
    */
  def normalizedText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** p12 — corpus vocabulary heavy hitters: the top-k words by total
    * occurrence with their document frequency (the stopword/vocab report
    * a tokenizer or quality-filter design starts from). The classic
    * wordcount shape at scale: explode → map-side-combined count per
    * word, document frequency as a distinct (word, doc) pre-aggregation,
    * and the global top-k compiles to TakeOrderedAndProject — each
    * partition keeps only k candidates, the driver merges nPartitions·k
    * rows; no global sort of the vocabulary ever materializes. Ties
    * broken by word for determinism.
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    words
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs")
      )
      .orderBy(col("n_occurrences").desc, col("word"))
      .limit(k)
  }

  /** Per-source quality rollup: the feature averages a mix-weighting
    * pipeline consumes (exact integer sums divided in double).
    */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(wordCount(col("text")).cast("long")).cast("double") /
          count(lit(1))).as("avg_words"),
        (sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("avg_chars"),
        sum(occurrences(col("text"), " the ").cast("long"))
          .as("total_the")
      )
      .orderBy("source")
  }

  /** Corpus rollup per (lang, source): the shape of a pretraining-mix
    * report. Exact counts; ratios in double of exact ints.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(wordCount(col("text")).cast("long")).as("total_words"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars")
      )
      .orderBy("lang", "source")
  }

  /** P18 — sketched distinct counting: per-language distinct-bigram
    * cardinality both EXACT (`countDistinct` — shuffles every distinct
    * value) and via the KMV sketch
    * ([[graft.functions.KmvMinHashes]] — shuffles k longs per group,
    * the 100 TB path). The sketch hashes with the portable polynomial
    * hash + multiplicative finalizer, so it is fully deterministic and
    * the DuckDB oracle replays the estimate BIT-FOR-BIT — a property
    * HLL-class sketches (register layouts implementation-private) cannot
    * offer. Estimator: (k−1)·M / kth_min above k, exact below.
    */
  def distinctSketch(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val M = 1000000007L
    val d = docs(spark, dir)
    val bigrams = d
      .select(
        col("lang"),
        expr("filter(split(text, ' '), x -> x <> '')").as("ws")
      )
      .select(
        col("lang"),
        explode(
          expr(
            "CASE WHEN size(ws) >= 2 THEN " +
              "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) " +
              "ELSE array() END"
          )
        ).as("bg")
      )
      .withColumn(
        "hv",
        (graft.functions.PolyHash.polyHash(col("bg")) * lit(6364136223L)) % M
      )
    val agg = bigrams
      .groupBy("lang")
      .agg(
        countDistinct(col("bg")).as("n_exact"),
        graft.functions.KmvMinHashes.kmvMinHashes(col("hv"), k).as("mins")
      )
    val est = when(size(col("mins")) < k, size(col("mins")).cast("double"))
      .otherwise(
        lit((k - 1).toDouble) * lit(M.toDouble) /
          try_element_at(col("mins"), lit(k)).cast("double")
      )
    agg
      .select(
        col("lang"),
        col("n_exact"),
        size(col("mins")).cast("long").as("n_mins"),
        est.as("est"),
        (abs(est - col("n_exact").cast("double")) /
          col("n_exact").cast("double")).as("rel_err")
      )
      .orderBy("lang")
  }

  /** P25 — sketched quantiles via the native bottom-k-by-hash sample
    * ([[graft.functions.BottomKSample]]) — the quantile member of the
    * sketch plane (KMV = distinct, CMS = frequency, this = rank): per
    * language, the k docs whose affine-hashed ids are smallest form a
    * deterministic mergeable uniform sample, and the length quantiles
    * are the sample's order statistics. Only k (hash, value) pairs per
    * group cross the shuffle — an exact quantile sorts the whole group,
    * `percentile_approx` has no replayable oracle. Groups at or below k
    * are sampled whole, so their quantiles are exact; BottomKSampleSpec
    * measures rank error above k and the merge/layout laws.
    *
    * Precondition (BottomKSample.AffineM doc): doc_ids are distinct and
    * below M, so the affine hash is collision-free and the aggregate's
    * hash-keyed sample matches the oracle's ROW_NUMBER multiplicity.
    * Sampling parameters come from ONE shared definition
    * ([[graft.functions.BottomKSample]] companion) interpolated by both
    * this pipeline and the oracle string — no drift possible.
    */
  def quantileSketch(
      spark: SparkSession,
      dir: String,
      k: Int = graft.functions.BottomKSample.DefaultK
  ): DataFrame = {
    import graft.functions.BottomKSample.{AffineA, AffineB, AffineM}
    val d = docs(spark, dir)
      .select(
        col("lang"),
        col("n_chars"),
        ((col("doc_id") * lit(AffineA) + lit(AffineB)) % lit(AffineM))
          .as("hv")
      )
    val agg = d
      .groupBy("lang")
      .agg(
        graft.functions.BottomKSample
          .bottomKSample(col("hv"), col("n_chars"), k)
          .as("smp")
      )
    // order statistic at rank 1 + floor(q·(n−1)) — plain IEEE-double
    // index arithmetic both engines compute identically. The size guard
    // covers the degenerate empty-sample group (all-null inputs): DuckDB's
    // s[0] yields NULL where Spark's element_at(_, 0) would throw — the
    // guard makes Spark yield the same NULL instead
    def qAt(q: Double): Column =
      when(
        size(col("smp")) > 0,
        element_at(
          col("smp"),
          (lit(1) + floor(lit(q) * (size(col("smp")) - 1))).cast("int")
        )
      )
    agg
      .select(
        col("lang"),
        size(col("smp")).cast("long").as("n_sample"),
        qAt(0.25).as("q25"),
        qAt(0.5).as("q50"),
        qAt(0.75).as("q75"),
        qAt(0.9).as("q90")
      )
      .orderBy("lang")
  }

  /** P23 — heavy hitters via the native count-min sketch
    * ([[graft.functions.CmsCounters]]): one scan builds the d×w counter
    * matrix (partial-aggregable — tasks merge 8 KB buffers, never token
    * streams), and the top-`topK` exact tokens are then estimated from
    * the sketch, demonstrating the overcount-bounded accuracy
    * (`n_cms >= n_exact`, spec-asserted as a law for EVERY token).
    *
    * The exact-count leg exists to anchor the oracle and measure sketch
    * error; at 100 TB you'd keep only the sketch pass (one scan, no
    * token shuffle) and feed candidates from a sampled pre-pass — the
    * exact leg here is the yardstick, not the operator.
    */
  def heavyHitters(
      spark: SparkSession,
      dir: String,
      topK: Int = 20,
      depth: Int = 4,
      width: Int = 256
  ): DataFrame = {
    val toks = docs(spark, dir)
      .select(explode(bpeTokens(col("text"))).as("tok"))
      .withColumn("x", graft.functions.PolyHash.polyHash(col("tok")))
    val sketch = toks.agg(
      graft.functions.CmsCounters.cmsCounters(col("x"), depth, width).as("sk")
    )
    val top = toks
      .groupBy("tok", "x")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(topK)
    top
      .crossJoin(broadcast(sketch))
      .select(
        col("tok"),
        col("n_exact"),
        graft.functions.CmsCounters
          .cmsEstimate(col("sk"), col("x"), depth, width)
          .as("n_cms")
      )
      .orderBy(col("n_exact").desc, col("tok"))
  }

  /** P15 — per-document repetition signals (the Gopher/MassiveText-class
    * quality filters: a doc whose mass concentrates in few repeated words
    * or word-2-grams is boilerplate/spam, not prose):
    * duplicate-word and duplicate-bigram fractions, and the mass of the
    * single most frequent word/bigram.
    *
    * The corpus has no newlines, so the line-level Gopher signals
    * (duplicate-line fraction) are vacuous here — the word/bigram forms
    * are the ones with discriminating power on this data.
    *
    * Shape: explode → two-level aggregate (map-side combine on
    * (doc_id, gram), then per-doc) — both shuffles carry pre-aggregated
    * counts, never text; the doc_id-keyed join of the two stat legs is
    * co-partitioned by the same key.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val words = d.select(
      col("doc_id"),
      expr("filter(split(text, ' '), x -> x <> '')").as("ws")
    )
    val wordStats = words
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_words"),
        count(lit(1)).as("distinct_words"),
        max("c").as("top_word_count")
      )
    val bigramStats = words
      .select(
        col("doc_id"),
        explode(
          // guard: sequence(0, -1) would DESCEND for a 1-word doc
          expr(
            "CASE WHEN size(ws) >= 2 THEN " +
              "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) " +
              "ELSE array() END"
          )
        ).as("bg")
      )
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max("c").as("top_bigram_count")
      )
    def frac(num: Column, den: Column): Column =
      num.cast("double") / den.cast("double")
    wordStats
      .join(bigramStats, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("distinct_words"),
        (lit(1.0) - frac(col("distinct_words"), col("n_words")))
          .as("dup_word_frac"),
        frac(col("top_word_count"), col("n_words")).as("top_word_frac"),
        col("n_bigrams"),
        col("distinct_bigrams"),
        (lit(1.0) - frac(col("distinct_bigrams"), col("n_bigrams")))
          .as("dup_bigram_frac"),
        frac(col("top_bigram_count"), col("n_bigrams")).as("top_bigram_frac")
      )
      .orderBy("doc_id")
  }

  /** P31 — BPE-style phrase-merge learning at the word grain (the
    * word2phrase analogue of byte-pair encoding: the same
    * count-pairs → merge-the-argmax → recount loop every tokenizer
    * trainer runs, over word tokens so the corpus stays readable).
    * Output is the learned merge table: (step, lhs, rhs, merged,
    * n_pairs), deterministic via the (count desc, lhs, rhs) tie-break.
    *
    * Runs the DELTA-COUNTED trainer ([[phraseTrainDelta]]): pairs are
    * counted once, then maintained per round by the multiset diff of the
    * touched docs' fold input/output — round r costs O(touched docs +
    * distinct pairs), not a corpus recount. The merge APPLY is a
    * row-local `aggregate` fold — leftmost-first with consumption, the
    * standard BPE semantics: inside a run of equal tokens ("x x x x x"
    * under merge (x,x)) pairs merge at alternating positions.
    *
    * The DuckDB oracle replays the RECOUNT loop DECLARATIVELY
    * (run-parity window logic instead of a fold); delta ≡ recount ≡
    * run-parity is pinned by PipelineSpec against [[phraseTrain]] and an
    * independent in-memory model, including the equal-token-run case.
    */
  def phraseMerges(
      spark: SparkSession,
      dir: String,
      nMerges: Int = 8
  ): DataFrame = {
    import spark.implicits._
    val (merges, _, _) = trainedPhrases(spark, dir, nMerges)
    merges.toDF("step", "lhs", "rhs", "merged", "n_pairs").orderBy("step")
  }

  def phraseMergesOf(
      spark: SparkSession,
      d: DataFrame,
      nMerges: Int
  ): DataFrame = {
    import spark.implicits._
    val (merges, _, releaseState) = phraseTrainDelta(spark, d, nMerges)
    releaseState()
    merges.toDF("step", "lhs", "rhs", "merged", "n_pairs").orderBy("step")
  }

  /** Session memo of the trained (merge table, final corpus state) per
    * (session, corpus dir, nMerges) — the d2/d11 pattern: p31 and p32
    * share ONE training run instead of each paying the 8-round loop.
    * The memo owns the state checkpoint; [[releasePhraseMemo]] frees it
    * (wired into SparkEntry.releaseCaches).
    */
  private val phraseMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int),
      (Seq[(Long, String, String, String, Long)], DataFrame, () => Unit)]

  def releasePhraseMemo(): Unit = {
    phraseMemo.values.foreach(_._3())
    phraseMemo.clear()
  }

  /** Content-version stamp of the corpus behind `dir` — (file name,
    * mtime, length) folded over `documents.parquet`'s files via the
    * Hadoop FS. The memo key carries it so a same-path corpus REWRITE
    * within one session can never serve a stale training run; the
    * superseded entry's blocks are freed at the next
    * [[releasePhraseMemo]] (the memo owns them either way).
    */
  private def corpusStamp(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-file hashes combine by SUM (order-independent): Hadoop listing
    // order is not a contract, and an order change must not alias as a
    // corpus rewrite (a spurious memo miss re-pays the whole training run)
    var h = 1125899906842597L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      var fh = f.getPath.getName.hashCode.toLong
      fh = fh * 31 + f.getModificationTime
      fh = fh * 31 + f.getLen
      h += fh
    }
    h
  }

  private def trainedPhrases(
      spark: SparkSession,
      dir: String,
      nMerges: Int
  ): (Seq[(Long, String, String, String, Long)], DataFrame, () => Unit) =
    phraseMemo.getOrElseUpdate(
      (spark, s"$dir@${corpusStamp(spark, dir)}", nMerges), {
        val d = spark.read
          .parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        phraseTrainDelta(spark, d, nMerges)
        // base+overlay blocks stay alive: the memo owns the release
      }
    )

  /** P32 — the INFERENCE side of p31: train the merge table, apply it
    * (the training loop's final state IS the fully-merged corpus — each
    * round's apply is the same row-local fold a deployed tokenizer
    * runs), and report per-document token compression. This pins the
    * entire trained STATE per document against the oracle, not just the
    * 8 merge-table rows — a coincidentally-equal argmax could not hide
    * a divergent corpus state.
    *
    * The result is MATERIALIZED before returning (doc-grain, four
    * columns — tiny), so it stays valid after [[releasePhraseMemo]] /
    * `SparkEntry.releaseCaches` free the memo-owned training state a
    * lazy plan would still reference.
    */
  def phraseCompression(
      spark: SparkSession,
      dir: String,
      nMerges: Int = 8
  ): DataFrame = {
    val d = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (_, state, _) = trainedPhrases(spark, dir, nMerges)
    val before = d.select(
      col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x != '')"))
        .cast("long")
        .as("n_before")
    )
    Eager.materialized(
      before
        .join(
          state
            .select(col("doc_id"), size(col("toks")).cast("long").as("n_after")),
          Seq("doc_id")
        )
        .withColumn("n_merged", col("n_before") - col("n_after"))
        .orderBy("doc_id")
    )
  }

  // ---------------------------------------------------------------------
  // P32b — encode to token IDS: the tokenizer ARTIFACT. p31 trains the
  // merge table, p32 reports compression; what a training pipeline
  // actually EMITS is id sequences against a frozen vocabulary. The
  // vocabulary is the merged corpus's distinct tokens with dense ids
  // assigned by (occurrence count DESC, token ASC) — both engines order
  // strings by binary UTF-8 bytes, so the assignment hash-replays.
  // ---------------------------------------------------------------------

  /** Vocabulary of a merged corpus state: (w, n_occ, token_id), ids from
    * 1 by (n_occ DESC, w) — id 0 is reserved as OOV/UNK at encode time.
    * The id-assignment window is VOCABULARY-bounded: unbounded for this
    * word-grain surrogate in principle, but a production BPE vocabulary
    * is a bounded artifact (32k–200k entries) — the bound is the
    * tokenizer's own contract, not the corpus size.
    */
  private def vocabOf(state: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("w"))
    state
      .select(explode(col("toks")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("token_id", row_number().over(w).cast("long"))
  }

  /** P32b as a registered query: the trained state (the memo p31/p32
    * share) encoded to (doc_id, pos, token_id). The token→id join is a
    * vocabulary-keyed shuffle join (the p35 posture — this surrogate's
    * vocabulary is corpus-derived and unbounded); a deployment with a
    * bounded BPE vocabulary broadcasts it instead, same plan otherwise.
    */
  def tokenIds(
      spark: SparkSession,
      dir: String,
      nMerges: Int = 8
  ): DataFrame = {
    val (_, state, _) = trainedPhrases(spark, dir, nMerges)
    val vocab = vocabOf(state)
    state
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
      .join(vocab, Seq("w"))
      .select(
        col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"),
        col("token_id")
      )
      .orderBy("doc_id", "pos")
  }

  /** Persists the tokenizer artifact: the merge table (step order IS the
    * apply order) and the vocabulary. Both driver-bounded (nMerges rows;
    * the vocabulary contract above) — single-file tables, the form a
    * deployment ships to every encoder.
    */
  def writeTokenizer(
      spark: SparkSession,
      dir: String,
      out: String,
      nMerges: Int = 8
  ): Unit = {
    import spark.implicits._
    val (merges, state, _) = trainedPhrases(spark, dir, nMerges)
    merges
      .toDF("step", "lhs", "rhs", "merged", "n_pairs")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$out/merges")
    vocabOf(state)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$out/vocab")
  }

  /** Encode arbitrary (doc_id, text) against the STORED artifact — no
    * training at encode time: the merge table (bounded by nMerges)
    * collects to the driver and applies as ONE row-local walk per
    * document (BPE encode applies merges in training order), then the
    * vocabulary joins ids; out-of-vocabulary tokens encode as id 0
    * (UNK), the standard encoder posture. Row-identical to [[tokenIds]]
    * over the training corpus (PipelineSpec law).
    *
    * The walk is a deterministic UDF rather than nMerges nested Catalyst
    * [[mergeFold]]s: the expression fold re-copies its accumulator array
    * per element (`concat(acc, array(t))`), i.e. O(tokens²) data movement
    * per document PER MERGE — measured as 6.4 s of p32c's 7.4 s wall at
    * sf0.1 — while the UDF walk appends each token once, O(merges ×
    * tokens) with zero per-step array copies (the guide's §4.2 trade:
    * when the built-in expression chain is structurally quadratic, a
    * linear native batch body wins). Same leftmost-first-with-consumption
    * algorithm; output bit-identical (the encode ≡ tokenIds law pins it
    * against the trainer's fold).
    */
  private[graft] def applyMergesWalk(
      toks: Seq[String],
      merges: Array[(String, String, String)]
  ): Seq[String] = {
    // null text ⇒ null token array: the superseded expression chain
    // propagated the null (and posexplode then dropped the row) — the
    // walk must do the same, not NPE the job
    if (toks == null) return null
    var cur = toks.toArray
    var j = 0
    while (j < merges.length) {
      val (a, b, m) = merges(j)
      val out = new Array[String](cur.length)
      var n = 0 // filled prefix of `out` — the fold's accumulator
      var i = 0
      while (i < cur.length) {
        val t = cur(i)
        if (n > 0 && out(n - 1) == a && t == b) out(n - 1) = m
        else { out(n) = t; n += 1 }
        i += 1
      }
      cur = java.util.Arrays.copyOf(out, n)
      j += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cur)
  }

  def encodeWithTokenizer(
      spark: SparkSession,
      batch: DataFrame,
      tokenizerDir: String
  ): DataFrame = {
    val merges = spark.read
      .parquet(s"$tokenizerDir/merges")
      .orderBy("step")
      .collect() // bounded: nMerges rows — the artifact's own contract
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val applyMerges = udf((ws: Seq[String]) => applyMergesWalk(ws, merges))
    val folded = applyMerges(expr("filter(split(text, ' '), x -> x != '')"))
    val vocab = spark.read
      .parquet(s"$tokenizerDir/vocab")
      .select("w", "token_id")
    batch
      .select(col("doc_id"), posexplode(folded).as(Seq("pos", "w")))
      .join(vocab, Seq("w"), "left")
      .select(
        col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id")
      )
  }

  /** Decode (doc_id, pos, token_id) back to text through the STORED
    * vocabulary — the other half of the artifact a trainer ships: one
    * id→token join, tokens reassembled in position order and re-joined
    * with single spaces. Merged phrase tokens are space-joined surface
    * forms (the trainer's `a + " " + b`), so they decode transparently:
    * decode ∘ encode reproduces the whitespace-NORMALIZED document
    * (split, drop empties, single-space rejoin) exactly for in-vocab
    * text. Id 0 / unknown ids decode as the UNK token — the lossy half
    * of the standard encoder posture (PipelineSpec OOV law).
    *
    * Scale shape: the id join mirrors the encode join (vocabulary-keyed;
    * broadcast for a bounded production vocabulary); reassembly is one
    * per-document aggregation whose group payload is the document's own
    * tokens — row-local work, no cross-document state.
    */
  def decodeWithTokenizer(
      spark: SparkSession,
      ids: DataFrame,
      tokenizerDir: String,
      unk: String = "<unk>"
  ): DataFrame = {
    val vocab = spark.read
      .parquet(s"$tokenizerDir/vocab")
      .select("w", "token_id")
    ids
      .join(vocab, Seq("token_id"), "left")
      .select(
        col("doc_id"),
        col("pos"),
        coalesce(col("w"), lit(unk)).as("w")
      )
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")
          ),
          " "
        ).as("text")
      )
  }

  /** P32c — the tokenizer round trip as one oracle-replayable lifecycle
    * query: persist the artifact, ENCODE the corpus against the store,
    * DECODE the ids back. Every training-corpus token is in-vocab by
    * construction, so the result ≡ the whitespace-normalized corpus —
    * which is exactly the DuckDB oracle (the d9b identity trick: the
    * artifact lifecycle is what's under test).
    */
  def decodeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Eager.withTempStore("graft-p32c-tokenizer") { tmp =>
      writeTokenizer(spark, dir, tmp)
      decodeWithTokenizer(spark, encodeWithTokenizer(spark, d, tmp), tmp)
        .orderBy("doc_id")
    }
  }

  /** Adjacent-pair structs of a token array: zip(toks, toks[1:]) — shared
    * by both trainer forms and the delta diff so the pair grain can never
    * drift between them.
    */
  private[pipeline] def adjPairs(toks: Column): Column = {
    val nm1 = greatest(size(toks) - 1, lit(0))
    zip_with(
      slice(toks, lit(1), nm1),
      slice(toks, lit(2), nm1),
      (a, b) => struct(a.as("a"), b.as("b"))
    )
  }

  /** Row-local leftmost-first merge fold with consumption (the standard
    * BPE apply: a consumed pair can't re-merge because the accumulator's
    * last element becomes `m`; inside a run of equal tokens merges land at
    * alternating positions).
    */
  private def mergeFold(toks: Column, a: String, b: String, m: String): Column =
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

  /** The RECOUNT training loop — the DuckDB oracle's bit-for-bit twin
    * (PipelineOracles.bpeChain replays exactly this: full pair recount →
    * argmax → fold, per round). Kept as the law anchor for
    * [[phraseTrainDelta]], which the registered p31/p32 queries run;
    * `phraseTrainDelta ≡ phraseTrain` (same merge table AND same final
    * state) is pinned in PipelineSpec on the real corpus and on the
    * equal-token-run fixture. Returns the merge table rows, the final
    * token state (doc_id, toks), and the state's release hook.
    */
  private[graft] def phraseTrain(
      spark: SparkSession,
      d: DataFrame,
      nMerges: Int
  ): (Seq[(Long, String, String, String, Long)], DataFrame, () => Unit) = {
    var state = d
      .select(
        col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks")
      )
      .cache()
    // round N's state is a localCheckpoint whose blocks unpersist() can't
    // free (Eager.releaseCheckpoint contract) — track which release applies
    var stateIsCheckpoint = false
    def releaseState(): Unit =
      if (stateIsCheckpoint) Eager.releaseCheckpoint(state)
      else { state.unpersist(false): Unit }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = state
        .select(explode(adjPairs(col("toks"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1) // TakeOrdered: the global argmax, no full sort
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        val n = best(0).getLong(2)
        val m = a + " " + b
        merges += ((step.toLong, a, b, m, n))
        val next = Eager.materialized(
          state.select(col("doc_id"), mergeFold(col("toks"), a, b, m).as("toks"))
        )
        releaseState()
        state = next
        stateIsCheckpoint = true
      }
      step += 1
    }
    (merges.toSeq, state, () => releaseState())
  }

  /** The fused apply+delta fold: [[mergeFold]]'s
    * leftmost-first-with-consumption walk, additionally emitting the
    * POSITIONAL pair-count delta of the round — the multiset difference
    * pairs(merged toks) − pairs(toks) — without materializing either
    * pair list. Only pairs adjacent to an actual merge position are
    * emitted (−1 for each consumed (lhs,rhs) / severed neighbor pair,
    * +1 for each new neighbor-of-merged-token pair), so a doc costs one
    * walk + O(1) per merged occurrence — never its full pair list, which
    * for head merges would amount to re-exploding the corpus. Returns
    * struct(toks, dels); toks ≡ [[mergeFold]] and dels ≡ the brute
    * ±full-pair-list diff are both pinned in PipelineSpec.
    */
  private[graft] val DelsType = "array<struct<a:string,b:string,dn:bigint>>"

  /** Pair params arrive as COLUMNS (from a broadcast single-row frame),
    * not literals: every training round then plans the IDENTICAL
    * expression tree, so whole-stage codegen's source cache reuses ONE
    * compiled class across all rounds instead of Janino-compiling this
    * (large) fold once per merge — measured ~1 s/round at nMerges=8,
    * the dominant per-round cost once the data writes are O(touched).
    */
  private[graft] def mergeDeltaFold(
      toks: Column,
      a: Column,
      b: Column,
      m: Column
  ): Column = {
    val emptyD = array().cast(DelsType)
    def del(x: Column, y: Column, dn: Long) =
      struct(x.as("a"), y.as("b"), lit(dn).as("dn"))
    aggregate(
      toks,
      struct(
        typedLit(Seq.empty[String]).as("acc"),
        lit(null).cast("string").as("po"),
        emptyD.as("d")
      ),
      (s, t) => {
        val acc = s.getField("acc")
        val po = s.getField("po")
        val d = s.getField("d")
        val l1 = element_at(acc, -1) // guarded: only read when acc nonempty
        val isMerge = size(acc) > 0 && (l1 <=> a) && t === b
        // merge: (a,b) is consumed; the left neighbor's pair to `a`
        // re-points to `m`. The right side is handled by the NEXT step:
        // a post-merge append sees last = m ≠ po = b and re-points (b, t)
        // to (m, t). Both emission paths leave `d` untouched when there
        // is nothing to emit — no per-token array copy.
        val l2 = element_at(acc, -2)
        val mergeD = when(
          size(acc) > 1,
          concat(
            d,
            array(
              del(a, b, -1L),
              del(l2, a, -1L),
              del(l2, m, 1L)
            )
          )
        ).otherwise(concat(d, array(del(a, b, -1L))))
        val normD = when(
          po.isNotNull && !(l1 <=> po),
          concat(d, array(del(l1, t, 1L), del(po, t, -1L)))
        ).otherwise(d)
        when(
          isMerge,
          struct(
            concat(slice(acc, lit(1), size(acc) - 1), array(m)).as("acc"),
            t.as("po"),
            mergeD.as("d")
          )
        ).otherwise(
          struct(concat(acc, array(t)).as("acc"), t.as("po"), normD.as("d"))
        )
      },
      s => struct(s.getField("acc").as("toks"), s.getField("d").as("dels"))
    )
  }

  /** Native linear-walk twin of [[mergeDeltaFold]] (round-17, guide §4.2
    * — the same treatment the p32c encode fold got in round 16): the
    * Catalyst aggregate re-copies its accumulator array per token
    * (`concat(acc, array(t))` — O(tokens²) movement per gated doc per
    * round) and higher-order functions are CodegenFallback, so the
    * trainer's per-round fold ran interpreted. One walk, same
    * leftmost-first-with-consumption semantics, same delta emissions in
    * the same order, zero per-step copies. [[mergeDeltaFold]] stays as
    * the law anchor: OptimizedKernelsSpec pins walk ≡ fold on the
    * adversarial fixtures (equal-token runs, merged-token
    * re-participation, start/end merges, null text), and PipelineSpec's
    * model laws now run against THIS form — the one in production.
    * A stable `val` so every training round plans the identical
    * expression tree (the codegen-cache note on [[mergeDeltaFold]]).
    * The walk returns tuples (a case-class return makes whole-stage
    * codegen fail to compile and fall back); [[mergeDeltaWalk]] casts
    * them to the fold's field names.
    */
  private val mergeDeltaWalkUdf =
    udf((toks: Seq[String], a: String, b: String, m: String) =>
      if (toks == null) null
      else {
        val acc = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        val dels = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var po: String = null
        toks.foreach { t =>
          val n = acc.length
          val l1 = if (n > 0) acc(n - 1) else null
          // fold guard: size(acc) > 0 && (l1 <=> a) && t === b — the
          // null-safe l1/a compare is Scala ==; a null t nulls t === b
          // and falls to the append branch, exactly as when() does
          val isMerge = n > 0 && l1 == a && t != null && t == b
          if (isMerge) {
            dels += ((a, b, -1L))
            if (n > 1) {
              val l2 = acc(n - 2)
              dels += ((l2, a, -1L))
              dels += ((l2, m, 1L))
            }
            acc(n - 1) = m
          } else {
            // post-merge re-point: the previous step merged (acc's last
            // became m ≠ po), so the severed (po, t) pair re-points to
            // (l1, t); po != null implies acc nonempty, so l1 is real
            if (po != null && l1 != po) {
              dels += ((l1, t, 1L))
              dels += ((po, t, -1L))
            }
            acc += t
          }
          po = t
        }
        (acc.toSeq, dels.toSeq)
      })

  private[graft] def mergeDeltaWalk(toks: Column, a: Column, b: Column, m: Column): Column =
    mergeDeltaWalkUdf(toks, a, b, m).cast(s"struct<toks:array<string>,dels:$DelsType>")

  /** UTF-8 binary string order — how the ENGINES compare strings
    * (Spark's UTF8String and DuckDB's VARCHAR both order by UTF-8
    * bytes, i.e. by code point). JVM `String` order is UTF-16
    * code-UNIT order, which disagrees above the BMP: surrogates
    * (0xD800–0xDFFF) sort below U+E000–U+FFFF while encoding HIGHER
    * code points. The delta trainer's driver-side argmax must break
    * count ties exactly like the engine-side refill query and the
    * DuckDB oracle, so it compares UTF-8 bytes unsigned.
    */
  private[graft] val utf8Order: Ordering[String] = (x: String, y: String) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )

  /** The trainer argmax order: count DESC, then (lhs, rhs) ascending in
    * [[utf8Order]] — the driver-side twin of `ORDER BY n DESC, a, b`.
    */
  private val argmaxOrder: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(
          p: ((String, String), Long),
          q: ((String, String), Long)
      ): Int = {
        val c = java.lang.Long.compare(q._2, p._2)
        if (c != 0) c
        else {
          val a = utf8Order.compare(p._1._1, q._1._1)
          if (a != 0) a else utf8Order.compare(p._1._2, q._1._2)
        }
      }
    }

  /** The DELTA-COUNTED trainer — the production form of tokenizer
    * training, and what the registered p31/p32 queries run. The recount
    * form pays one corpus-wide pair aggregation PER ROUND (O(rounds ×
    * corpus pair occurrences) — a scale-killer at the 10⁴–10⁵ merges a
    * real BPE run learns). This one aggregates the corpus ONCE and then
    * maintains the argmax from per-round deltas, the lazy-refresh
    * candidate-heap structure every fast BPE trainer uses:
    *
    *  - driver buffer: the top-`bufSize` pairs by (n desc, lhs, rhs),
    *    with `floor` = the cut count. Every pair outside the buffer has
    *    count ≤ floor AT BUILD TIME — and stays there, because a merge
    *    only DECREMENTS existing pairs; the only increments go to pairs
    *    involving the round's just-created token, which are base-0 new
    *    (original tokens cannot contain spaces, merged ones always do)
    *    and therefore enter the buffer with exact counts. So the buffer
    *    argmax is exact while its max stays ≥ floor; below that, one
    *    refill (a fresh corpus aggregation) restores the invariant.
    *    Refills are rare under a Zipf-ish pair distribution — zero at
    *    the registered nMerges=8.
    *  - apply+delta: ONE fused row-local pass ([[mergeDeltaFold]]) per
    *    round. The per-doc gate is a cheap codegen'd `array_contains`;
    *    only docs that can contain the pair run the fold, which merges
    *    and emits the positional pair delta in the same walk (O(1) per
    *    merged occurrence — never a doc's full pair list). The net delta
    *    is aggregated and collected at pair grain — O(distinct pairs
    *    adjacent to a merged position), the row-local diff a production
    *    trainer keeps. No pair-grain table is ever rewritten, and the
    *    corpus is never re-exploded.
    *
    * The one soundness corner: if a later round re-creates a previously
    * merged token STRING (possible when a merged pair's count resurges —
    * e.g. merging ("x","y z") after ("x y","z") both produce "x y z"-ish
    * neighbors), an increment may land on a pair whose true base count is
    * unknown (≤ floor, not 0). That round sets `taint` and the next
    * argmax refills first — exactness is never sacrificed for speed.
    *
    * Exactly ≡ [[phraseTrain]] by induction: the buffer build is the same
    * aggregation + TakeOrdered the recount form runs, each round's delta
    * is the exact multiset difference of the same fold's input and output
    * pairs, and the argmax reads the same (n desc, lhs, rhs) order —
    * law-pinned in PipelineSpec (merge table AND final state, real corpus
    * and the equal-token-run fixture).
    */
  /** State layout (the O(touched-docs) write path): the corpus lives as
    * an IMMUTABLE checkpointed `base` plus a bounded OVERLAY holding the
    * latest toks of every doc any round has touched. Per round, ONLY the
    * docs containing the merged pair's lhs are folded and materialized
    * (the `array_contains` filter reaches the scan — untouched docs are
    * read but never rewritten), and the overlay is rewritten at its own
    * ≤ `compactOver` grain; the corpus-sized base is rewritten only when
    * the overlay outgrows the bound (amortized O(total-touched /
    * compactOver) corpus passes, not O(rounds)). Reconstruction
    * (base ∖ overlay-ids ∪ overlay) is an anti-join whose build side is
    * the overlay id set — bounded by the compaction invariant, so the
    * stats planner keeps it a broadcast and no round shuffles the
    * corpus.
    */
  private[graft] def phraseTrainDelta(
      spark: SparkSession,
      d: DataFrame,
      nMerges: Int,
      bufSize: Int = 256,
      compactOver: Long = 1000000L
  ): (Seq[(Long, String, String, String, Long)], DataFrame, () => Unit) = {
    import spark.implicits._
    // state rows carry the token array AND its space-padded join: the
    // per-round touch gate is then an exact-substring probe for
    // " lhs rhs " — true ADJACENCY, not mere token presence. On a
    // natural corpus the lhs TOKEN can appear in most documents while
    // the PAIR is rare (measured here: lhs in 76% of docs vs the pair in
    // ≤7%), and the gate decides how many docs run the (expensive) fold
    // and materialize — the substring gate is the difference between
    // O(docs-containing-lhs) and O(docs-containing-pair) per round.
    def withTxt(st: DataFrame): DataFrame =
      st.withColumn(
        "txt",
        concat(lit(" "), array_join(col("toks"), " "), lit(" "))
      )
    var baseBlocks = Eager.materialized(
      withTxt(
        d.select(
          col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("toks")
        )
      )
    )
    var baseView = baseBlocks
    val nDocs = baseBlocks.count() // block count of the fresh checkpoint
    var ovlBlocks: Option[DataFrame] = None
    var ovlRows = 0L // exact overlay row count (recounted per rewrite)
    def curState: DataFrame = ovlBlocks match {
      case None => baseView
      case Some(o) =>
        baseView
          .join(o.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(o)
    }
    def state = curState

    // driver-side candidate buffer — bounded at bufSize entries, never
    // corpus-sized; floor == 0 means the buffer holds the WHOLE pair
    // table (small corpus) and refills can never be needed
    val buf = scala.collection.mutable.Map.empty[(String, String), Long]
    var floor = 0L
    var fresh = false
    var taint = false
    def refill(): Unit = {
      buf.clear()
      val top = state
        .select(explode(adjPairs(col("toks"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(bufSize) // TakeOrdered: exact top slice, no full sort
        .collect()
      top.foreach(r => buf((r.getString(0), r.getString(1))) = r.getLong(2))
      floor = if (top.length < bufSize) 0L else top.last.getLong(2)
      fresh = true
      taint = false
    }
    refill()

    val mergedStrings = scala.collection.mutable.Set.empty[String]
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      def candidate: Option[((String, String), Long)] =
        if (buf.isEmpty) None else Some(buf.min(argmaxOrder))
      // trust the buffer argmax iff it is freshly built (its head is the
      // exact global top-1), complete (floor 0), or provably above every
      // unknown pair (> floor — at == floor a decremented entry could be
      // lex-ordered after an unseen floor tie)
      var cand = candidate
      val trusted = !taint &&
        (fresh || floor == 0L || cand.exists(_._2 > floor))
      if (!trusted) { refill(); cand = candidate }
      fresh = false
      cand match {
        case None => exhausted = true
        case Some(((a, b), n)) =>
          val m = a + " " + b
          merges += ((step.toLong, a, b, m, n))
          // Round strategy, decided from DRIVER-KNOWN numbers (the
          // pair's exact count n bounds its touched-doc count): a HOT
          // pair (touched potentially a large corpus fraction) takes the
          // full-rewrite path — one corpus materialization, the overlay
          // folded in for free since everything rewrites anyway; a RARE
          // pair (n ≪ corpus) takes the overlay path — only touched
          // docs and the bounded overlay materialize. Real BPE runs are
          // the second regime almost everywhere (Zipf: beyond the first
          // few merges every pair is rare), which is what makes 10⁴
          // merges affordable; the first few ubiquitous merges take the
          // one-corpus-write path a recount round would have paid
          // anyway. In both paths the fold struct lands in the
          // checkpoint WHOLE (a getField projection would re-run the
          // fold once per referenced field — Catalyst does not CSE
          // across interpreted HOFs).
          val hot = n * 8L >= nDocs
          val tRs = System.nanoTime()
          // the round's pair rides in a broadcast single-row frame so the
          // plan (and its generated code) is identical every round — see
          // the mergeDeltaFold codegen-cache note. `pneedle` is the
          // adjacency probe " lhs rhs ".
          val params = broadcast(
            Seq((a, b, m, s" $a $b ")).toDF("pa", "pb", "pm", "pneedle")
          )
          val stp = state.crossJoin(params)
          val gate = instr(col("txt"), col("pneedle")) > 0
          val foldR =
            mergeDeltaWalk(col("toks"), col("pa"), col("pb"), col("pm"))
          val changed =
            if (hot)
              Eager.materialized(
                stp.select(
                  col("doc_id"),
                  when(gate, foldR)
                    .otherwise(
                      struct(
                        col("toks").as("toks"),
                        array().cast(DelsType).as("dels")
                      )
                    ).as("r")
                )
              )
            else
              Eager.materialized(
                stp
                  .filter(gate)
                  .select(col("doc_id"), foldR.as("r"))
              )
          // The round's two dependents of the `changed` checkpoint — the
          // net pair-delta collect and the state rewrite — read disjoint
          // fields and share no downstream state, so they overlap
          // (guide §2.6); the buffer update (driver-side) waits on the
          // delta only.
          def deltaOf(): Array[org.apache.spark.sql.Row] = changed
            .select(explode(col("r.dels")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("p.dn")).as("dn"))
            .filter(col("dn") =!= 0L)
            .collect()
          val changedState = withTxt(
            changed.select(col("doc_id"), col("r.toks").as("toks"))
          )
          val built = graft.util.Par.eval[AnyRef](
            () => deltaOf(),
            () =>
              if (hot)
                // the rewrite covered every current doc: rebuild the base
                // (with its txt gate column) from the fold structs and
                // drop the overlay — two corpus-sized writes, paid only
                // on the few ubiquitous early merges
                Eager.materialized(changedState)
              else
                // fold the touched docs into the overlay (latest-wins at
                // the overlay's own ≤ compactOver grain — the corpus
                // never rewrites)
                Eager.materialized(ovlBlocks match {
                  case None => changedState
                  case Some(o) =>
                    o.join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
                      .unionByName(changedState)
                })
          )
          val delta = built(0).asInstanceOf[Array[org.apache.spark.sql.Row]]
          val rebuilt = built(1).asInstanceOf[DataFrame]
          val tR1 = System.nanoTime()
          val mRepeated = mergedStrings.contains(m)
          mergedStrings += m
          delta.foreach { r =>
            val k = (r.getString(0), r.getString(1))
            val dn = r.getLong(2)
            buf.get(k) match {
              case Some(c) =>
                if (c + dn > 0L) buf(k) = c + dn else { buf.remove(k): Unit }
              case None =>
                if (dn > 0L) {
                  // a new pair involves this round's merged token: base 0
                  // exact — unless that token string existed before and
                  // the true base is an unknown ≤ floor
                  if (mRepeated && floor > 0L) taint = true
                  else buf(k) = dn
                }
              // dn < 0 on an unseen pair: it was ≤ floor and only sank
            }
          }
          if (hot) {
            Eager.releaseCheckpoint(baseBlocks)
            ovlBlocks.foreach(Eager.releaseCheckpoint)
            Eager.releaseCheckpoint(changed)
            ovlBlocks = None
            ovlRows = 0L
            baseBlocks = rebuilt
            baseView = rebuilt
          } else {
            val newOvl = rebuilt
            ovlBlocks.foreach(Eager.releaseCheckpoint)
            Eager.releaseCheckpoint(changed)
            ovlBlocks = Some(newOvl)
            // EXACT overlay size, counted off the just-checkpointed blocks
            // (an in-memory scan, no lineage re-run). The pair count n is
            // NOT a bound on materialized rows: the substring gate admits
            // false positives across merged-token boundaries (" a b " can
            // match the join of tokens ["x a", "b"]), and those docs fold
            // (as no-ops) and land in the overlay — an n-based counter
            // could let the overlay silently outgrow compactOver and the
            // anti-join's broadcastable build-side bound
            ovlRows = newOvl.count()
            // compaction: when the overlay outgrows the broadcastable
            // bound, fold it into a fresh base (ONE corpus
            // materialization amortized over the rounds that filled it)
            if (ovlRows > compactOver) {
              val nb = Eager.materialized(curState)
              Eager.releaseCheckpoint(baseBlocks)
              ovlBlocks.foreach(Eager.releaseCheckpoint)
              baseBlocks = nb
              baseView = nb
              ovlBlocks = None
              ovlRows = 0L
            }
          }
          if (sys.env.contains("GRAFT_P31_TRACE"))
            println(f"[p31trace] step=$step hot=$hot n=$n changed+delta=${(tR1 - tRs) / 1e9}%.2f tail=${(System.nanoTime() - tR1) / 1e9}%.2f")
      }
      step += 1
    }
    val release = { () =>
      Eager.releaseCheckpoint(baseBlocks)
      ovlBlocks.foreach(Eager.releaseCheckpoint)
    }
    // consumers see the (doc_id, toks) contract; txt is gate plumbing
    (merges.toSeq, curState.select("doc_id", "toks"), release)
  }
}
