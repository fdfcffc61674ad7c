package graft.oracle

/** DuckDB oracles for the LLM-data-pipeline operators. ALL of them are
  * expressible in portable SQL: the dedup/LSH operators hash with exact
  * BIGINT arithmetic (polynomial char hashes, affine minhash permutations,
  * LCG hyperplane signs — see graft.pipeline.Dedup/Similarity), so the
  * oracle replays the same numbers bit-for-bit via list_reduce/bit ops and
  * the driver hash-compares candidate pairs, clusters and kNN results
  * end-to-end (previously rows-only: xxhash64 had no DuckDB equivalent).
  */
object PipelineOracles {

  private val M = 1000000007L

  /** Polynomial char hash of a string expression — the exact fold
    * graft.pipeline.Dedup.polyHash computes. */
  private def charHash(expr: String, base: Long = 31L, mod: Long = M): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(string_split($expr, ''),
         c -> CAST(ascii(c) AS BIGINT))),
       (a, b) -> (a * $base + b) % $mod)"""

  /** The shared LSH+Jaccard SQL skeleton: from a CTE chain ending in
    * `sh(doc_id, shingle)` (any gram feature space), replay the banded
    * minhash candidate generation and exact set-Jaccard verification of
    * graft.pipeline.Dedup (16 permutations, 4 bands of 4). */
  private def lshJaccardBody(gramCtes: String, threshold: Double): String = {
    val mhCols = (0 until 16)
      .map(p => s"MIN((${2 * p + 1} * shingle + ${7919 * p + 12345}) % $M) AS mh_$p")
      .mkString(",\n           ")
    val bandCases = (0 until 4)
      .map { b =>
        val horner = (b * 4 until (b + 1) * 4)
          .map(i => s"mh_$i")
          .reduceLeft((acc, c) => s"(($acc) * 31 + $c) % $M")
        s"WHEN $b THEN $horner"
      }
      .mkString(" ")
    s"""
    $gramCtes,
    mh AS (
      SELECT doc_id,
           $mhCols
      FROM sh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, band,
             CASE band $bandCases END AS bucket
      FROM mh, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    ),
    shc AS (
      SELECT DISTINCT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT a AS doc_id FROM cand UNION SELECT b FROM cand) d
        USING (doc_id)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shc sa ON sa.doc_id = c.a
      JOIN shc sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b
    ),
    verified AS (
      SELECT i.a, i.b, i.n_inter, za.n_sh AS na, zb.n_sh AS nb,
             CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
               AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.a
      JOIN sizes zb ON zb.doc_id = i.b
      WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
        >= $threshold
    )"""
  }

  /** MinHash+LSH verified pairs (graft.pipeline.Dedup.minhashPairs with
    * default parameters: 3-word shingles, 16 permutations, 4 bands of 4,
    * Jaccard >= 0.5). */
  private val minhashPairsBody: String = lshJaccardBody(
    s"""mh_words AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ${charHash("w")}) AS wh
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+2]),
               (sa, sb) -> (sa * 31 + sb) % $M) AS shingle
      FROM mh_words, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(wh) - 2, 1))) AS i) g
    )""",
    threshold = 0.5
  )

  /** d6 — n-gram Jaccard (graft.pipeline.Dedup.ngramJaccardPairs with
    * default parameters: character 7-grams, same banded-minhash candidate
    * index, exact gram-set Jaccard >= 0.5). n=7 keeps the gram space
    * distinctive: at n=5 the corpus's frequent grams dominate the minhash
    * mins and one band collapses to ~40 buckets (measured — ~10⁶ candidate
    * pairs at sf0.1); at n=7 max bucket occupancy is 17. */
  val ngramJaccardPairs: String = s"""
    WITH ${lshJaccardBody(
      s"""sh AS (
      SELECT doc_id, ${charHash("substr(text, i, 7)")} AS shingle
      FROM documents, LATERAL (
        SELECT unnest(generate_series(1, greatest(length(text) - 6, 1)))
          AS i) g
    )""",
      threshold = 0.5
    )}
    SELECT a, b, n_inter, na, nb, jaccard FROM verified ORDER BY a, b
  """

  val minhashPairs: String = s"""
    WITH $minhashPairsBody
    SELECT a, b, n_inter, na, nb, jaccard FROM verified ORDER BY a, b
  """

  /** p18 — KMV distinct sketch (graft.pipeline.TextAnalysis
    * .distinctSketch): the k-min set of the finalized polynomial bigram
    * hashes is fully deterministic, so the ESTIMATE replays bit-for-bit —
    * kth min via ROW_NUMBER over the distinct hash set. */
  val distinctSketch: String = {
    val k = 64
    s"""
    WITH ws AS (
      SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    b AS (
      SELECT lang,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS bg
      FROM ws
    ),
    h AS (
      SELECT DISTINCT lang, (${charHash("bg")} * 6364136223) % $M AS hv
      FROM b
    ),
    r AS (
      SELECT lang, hv,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM h
    ),
    mins AS (
      SELECT lang, COUNT(*) AS n_mins,
             MAX(CASE WHEN rn = $k THEN hv END) AS kth
      FROM r WHERE rn <= $k GROUP BY lang
    ),
    ex AS (SELECT lang, COUNT(DISTINCT bg) AS n_exact FROM b GROUP BY lang)
    SELECT e.lang, e.n_exact, m.n_mins,
           CASE WHEN m.n_mins < $k THEN CAST(m.n_mins AS DOUBLE)
                ELSE ${k - 1}.0 * $M.0 / CAST(m.kth AS DOUBLE) END AS est,
           abs(CASE WHEN m.n_mins < $k THEN CAST(m.n_mins AS DOUBLE)
                    ELSE ${k - 1}.0 * $M.0 / CAST(m.kth AS DOUBLE) END
               - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE)
             AS rel_err
    FROM ex e JOIN mins m ON e.lang = m.lang
    ORDER BY e.lang
  """
  }

  /** p25 — bottom-k-by-hash quantile sketch (graft.pipeline.TextAnalysis
    * .quantileSketch): the sample is the k rows with the smallest affine
    * doc_id hashes per language (deterministic — the affine map is a
    * bijection mod M, so DISTINCT doc_ids below M hash collision-free,
    * the precondition making ROW_NUMBER here equal the aggregate's
    * hash-keyed sample), quantiles are the sample's order statistics at
    * rank 1 + floor(q·(n−1)). k and the affine constants interpolate
    * from the ONE shared definition (BottomKSample companion). */
  val quantileSketch: String = {
    import graft.functions.BottomKSample.{AffineA, AffineB, AffineM}
    val k = graft.functions.BottomKSample.DefaultK
    s"""
    WITH h AS (
      SELECT lang, n_chars, (doc_id * $AffineA + $AffineB) % $AffineM AS hv
      FROM documents
    ),
    r AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM h
    ),
    smp AS (
      SELECT lang, list(n_chars ORDER BY n_chars) AS s
      FROM r WHERE rn <= $k GROUP BY lang
    )
    SELECT lang,
           CAST(len(s) AS BIGINT) AS n_sample,
           s[1 + CAST(floor(0.25 * (len(s) - 1)) AS INT)] AS q25,
           s[1 + CAST(floor(0.5 * (len(s) - 1)) AS INT)] AS q50,
           s[1 + CAST(floor(0.75 * (len(s) - 1)) AS INT)] AS q75,
           s[1 + CAST(floor(0.9 * (len(s) - 1)) AS INT)] AS q90
    FROM smp
    ORDER BY lang
  """
  }

  /** p17 — sequence packing (graft.pipeline.Packing.tokenWindows): the
    * oracle runs the ONE-level global cumsum directly — the Spark side's
    * two-level contiguous-bucket prefix must compose to exactly this.
    * DuckDB window SUM yields HUGEINT (cast back); `//` is BIGINT
    * division like Spark's DIV. */
  val tokenWindows: String = """
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
      FROM t
    )
    SELECT doc_id, n_toks, start_tok,
           start_tok // 512 AS first_window,
           (start_tok + n_toks - 1) // 512 AS last_window,
           (start_tok + n_toks - 1) // 512 - start_tok // 512 + 1
             AS n_windows
    FROM c
    ORDER BY doc_id
  """

  /** d9 — incremental dedup (graft.pipeline.Dedup.incrementalDedupQuery):
    * the all-pairs LSH+Jaccard chain over the seeded corpus restricted to
    * boundary-crossing pairs is semantically identical to the Spark
    * side's incremental old-index × new-batch join (per-doc minhash is
    * independent of the rest of the corpus). Split = integer 80% of the
    * id space — integer arithmetic on both engines (DuckDB CAST of a
    * DOUBLE rounds, so no float split math). */
  /** The d9 seeded-corpus pair chain (split boundary, docs9 = corpus ∪
    * verbatim seed copies, word shingles, banded LSH + Jaccard) — the
    * ONE definition interpolated by the d9 oracle and the p30b oracle,
    * mirroring Dedup.incrementalSplit + pairsOf.
    */
  private lazy val docs9PairsBody: String = lshJaccardBody(
    s"""split AS (
      SELECT (MAX(doc_id) + 1) * 4 // 5 AS s FROM documents
    ),
    docs9 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id < 10
    ),
    mh_words AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ${charHash("w")}) AS wh
      FROM docs9
    ),
    sh AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+2]),
               (sa, sb) -> (sa * 31 + sb) % $M) AS shingle
      FROM mh_words, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(wh) - 2, 1))) AS i) g
    )""",
    threshold = 0.5
  )

  val incrementalDedup: String = {
    s"""
    WITH $docs9PairsBody,
    exact AS (
      SELECT n.doc_id AS new_id, o.doc_id AS old_id
      FROM docs9 n JOIN docs9 o ON md5(n.text) = md5(o.text)
      WHERE n.doc_id >= (SELECT s FROM split)
        AND o.doc_id < (SELECT s FROM split)
    ),
    near AS (
      SELECT v.b AS new_id, v.a AS old_id, v.jaccard
      FROM verified v
      WHERE v.b >= (SELECT s FROM split)
        AND v.a < (SELECT s FROM split)
    )
    SELECT new_id, old_id, 'exact' AS kind, CAST(1.0 AS DOUBLE) AS jaccard
    FROM exact
    UNION ALL
    SELECT n.new_id, n.old_id, 'near' AS kind, n.jaccard
    FROM near n
    WHERE NOT EXISTS (
      SELECT 1 FROM exact e
      WHERE e.new_id = n.new_id AND e.old_id = n.old_id
    )
    ORDER BY new_id, old_id
  """
  }

  /** d5 — connected components over the minhash pairs: recursive label
    * reachability; a doc's label = min doc_id of its component. */
  val nearDupClusters: String = s"""
    WITH RECURSIVE $minhashPairsBody,
    edges AS (
      SELECT a, b FROM verified
      UNION
      SELECT b AS a, a AS b FROM verified
    ),
    cc(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM edges
      UNION
      SELECT e.a AS doc_id, c.label FROM edges e JOIN cc c ON c.doc_id = e.b
    )
    SELECT doc_id, MIN(label) AS label, doc_id = MIN(label) AS keep
    FROM cc
    GROUP BY doc_id
    ORDER BY doc_id
  """

  /** d11 — quality-aware canonical selection
    * (graft.pipeline.Dedup.canonicalSelection): recursive CC over the
    * minhash pairs, then every doc (clustered or singleton) resolves its
    * cluster's argmax-quality member — word count desc, doc_id asc — via
    * first_value over the same deterministic total order Spark uses.
    */
  val canonicalSelection: String = s"""
    WITH RECURSIVE $minhashPairsBody,
    edges AS (
      SELECT a, b FROM verified
      UNION
      SELECT b AS a, a AS b FROM verified
    ),
    cc(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM edges
      UNION
      SELECT e.a AS doc_id, c.label FROM edges e JOIN cc c ON c.doc_id = e.b
    ),
    labels AS (SELECT doc_id, MIN(label) AS label FROM cc GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id,
             COALESCE(l.label, d.doc_id) AS label,
             CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
               AS BIGINT) AS n_words
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    win AS (
      SELECT doc_id, label, n_words,
             FIRST_VALUE(doc_id) OVER (
               PARTITION BY label ORDER BY n_words DESC, doc_id
             ) AS canonical_id
      FROM scored
    )
    SELECT doc_id, label, n_words, canonical_id,
           doc_id = canonical_id AS kept
    FROM win
    ORDER BY doc_id
  """

  /** p8 — curation composite: exact dedup > near-dup cluster > quality
    * floor, one decision row per doc. */
  val curate: String = s"""
    WITH RECURSIVE $minhashPairsBody,
    edges AS (
      SELECT a, b FROM verified
      UNION
      SELECT b AS a, a AS b FROM verified
    ),
    cc(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM edges
      UNION
      SELECT e.a AS doc_id, c.label FROM edges e JOIN cc c ON c.doc_id = e.b
    ),
    labels AS (SELECT doc_id, MIN(label) AS label FROM cc GROUP BY doc_id),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
               AS BIGINT) AS n_words
      FROM documents
    )
    SELECT doc_id, n_words, reason, reason = 'kept' AS kept
    FROM (
      SELECT ex.doc_id, ex.n_words,
             CASE WHEN ex.doc_id <> ex.canonical_id THEN 'exact_dup'
                  WHEN l.label IS NOT NULL AND l.label <> ex.doc_id
                    THEN 'near_dup'
                  WHEN ex.n_words < 25 THEN 'low_quality'
                  ELSE 'kept' END AS reason
      FROM ex LEFT JOIN labels l USING (doc_id)
    ) t
    ORDER BY doc_id
  """

  /** p14 — full curation (graft.pipeline.Curation.curateFull): p8's
    * decision composition with the contamination stage spliced into the
    * precedence — exact_dup > near_dup > contaminated > low_quality >
    * kept — over the TRAIN slice only (the eval slice is the benchmark,
    * not curated). Dedup structure stays corpus-wide, as in p8. */
  val curateFull: String = s"""
    WITH RECURSIVE $minhashPairsBody,
    edges AS (
      SELECT a, b FROM verified
      UNION
      SELECT b AS a, a AS b FROM verified
    ),
    cc(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM edges
      UNION
      SELECT e.a AS doc_id, c.label FROM edges e JOIN cc c ON c.doc_id = e.b
    ),
    labels AS (SELECT doc_id, MIN(label) AS label FROM cc GROUP BY doc_id),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
               AS BIGINT) AS n_words
      FROM documents
    ),
    $contamCtes
    SELECT doc_id, n_words, reason, reason = 'kept' AS kept
    FROM (
      SELECT ex.doc_id, ex.n_words,
             CASE WHEN ex.doc_id <> ex.canonical_id THEN 'exact_dup'
                  WHEN l.label IS NOT NULL AND l.label <> ex.doc_id
                    THEN 'near_dup'
                  WHEN c.contaminated THEN 'contaminated'
                  WHEN ex.n_words < 25 THEN 'low_quality'
                  ELSE 'kept' END AS reason
      FROM ex
      LEFT JOIN labels l USING (doc_id)
      JOIN contam c USING (doc_id)
    ) t
    ORDER BY doc_id
  """

  /** d3 — simhash: 60-bit bit-vote signature from the dual polynomial word
    * hash, 15-bit chunk candidate buckets, Hamming <= 8. */
  val simhashPairs: String = {
    val sigTerms = (0 until 60)
      .map { i =>
        s"""(CASE WHEN SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0
             THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"""
      }
      .mkString(" +\n             ")
    s"""
    WITH sw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wh AS (
      SELECT doc_id,
             ((123456789 * ${charHash("w", 31L, M)} + 987654321) % $M)
               * 1073741824
               + (362437 * ${charHash("w", 37L, 998244353L)} + 9876543)
                 % 998244353 AS h
      FROM sw
    ),
    sig AS (
      SELECT doc_id,
             $sigTerms AS sig
      FROM wh GROUP BY doc_id
    ),
    chunked AS (
      SELECT doc_id, sig, chunk, (sig >> (chunk * 15)) & 32767 AS key
      FROM sig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS chunk) c
    ),
    scand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
             l.sig AS sa, r.sig AS sb
      FROM chunked l JOIN chunked r
        ON l.chunk = r.chunk AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
    FROM scand
    WHERE bit_count(xor(sa, sb)) <= 8
    ORDER BY a, b
  """
  }

  /** Sign-LSH bucket of a DOUBLE[] column `e` — the exact fold
    * graft.pipeline.Similarity.signBucket computes (LCG-parity planes). */
  private def bucketExpr(nBits: Int = 12): String =
    (0 until nBits)
      .map { p =>
        s"""(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, len(e)),
               d -> e[d] * (CASE WHEN ((1103515245 * (${131L * p} + (d - 1))
                              + 12345) >> 16) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))),
             (x, y) -> x + y) > 0
           THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"""
      }
      .mkString(" +\n           ")

  /** k6 — symmetric int8 quantization codes (graft.pipeline.Similarity
    * .quantize): scale = 127/max|v_i| per vector, code = floor(v·scale
    * + 0.5), zero vectors → zero codes. All arithmetic is IEEE double +
    * floor in both engines, so codes compare as exact integers. */
  val quantizedCodes: String = """
    WITH q AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    )
    SELECT vec_id,
           CAST(i - 1 AS BIGINT) AS pos,
           CAST(CASE WHEN max_abs = 0
                     THEN 0
                     ELSE floor(CAST(embedding[i] AS DOUBLE)
                                * (127.0 / max_abs) + 0.5)
                END AS BIGINT) AS code
    FROM q, LATERAL (
      SELECT unnest(generate_series(1, len(embedding))) AS i) g
    ORDER BY vec_id, pos
  """

  /** One Lloyd's iteration of the exact-integer spherical k-means
    * (graft.pipeline.Similarity.trainCentroidsExact): assignment by the
    * fixed-point cosine key (sign(dot)·dot²·2²⁰ // ‖c‖², ties → lowest
    * cid), re-estimation SUM // COUNT per (cid, pos), empty cells keep
    * the previous centroid. `n` is the iteration index: reads c{n},
    * emits c{n+1}; the assignment CTEs a{n} are reused by the final
    * search pass. `src` is the codes CTE the pass reads — `icodes` (the
    * full corpus, k5) or `tcodes` (the initial-ingest subset, k10's
    * frozen-quantizer training).
    */
  private def kmeansIter(n: Int, src: String = "icodes"): String = s"""
    d$n AS (
      SELECT k.vec_id, c.cid, CAST(SUM(k.code * c.code) AS BIGINT) AS dot
      FROM $src k JOIN c$n c ON k.pos = c.pos
      GROUP BY k.vec_id, c.cid),
    cn$n AS (
      SELECT cid, CAST(SUM(code * code) AS BIGINT) AS n2c
      FROM c$n GROUP BY cid),
    s$n AS (
      SELECT d.vec_id, d.cid,
             CASE WHEN cn.n2c = 0 THEN 0
                  WHEN d.dot >= 0 THEN (d.dot * d.dot * 1048576) // cn.n2c
                  ELSE -((d.dot * d.dot * 1048576) // cn.n2c) END AS skey
      FROM d$n d JOIN cn$n cn USING (cid)),
    a$n AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY skey DESC, cid) AS rn
        FROM s$n) WHERE rn = 1),
    m$n AS (
      SELECT a.cid, k.pos,
             CAST(SUM(k.code) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS code
      FROM icodes k JOIN a$n a USING (vec_id)
      GROUP BY a.cid, k.pos),
    c${n + 1} AS (
      SELECT c.cid, c.pos, COALESCE(m.code, c.code) AS code
      FROM c$n c LEFT JOIN m$n m ON c.cid = m.cid AND c.pos = m.pos)"""

  /** The shared exact-IVF training chain over an arbitrary integer-code
    * corpus `qSql` (must yield (vec_id, q8 BIGINT[])): exploded integer
    * codes → full-corpus-seeded exact k-means through iteration 3
    * (`s3`/`a3` = the final per-pair keys and assignment, `c3` the final
    * centroids). Interpolated verbatim by the k5 search oracle, the k13
    * cell-stats oracle AND the m4b media-index oracle so all three
    * replay the identical training arithmetic.
    */
  private def ivfChainFrom(qSql: String): String = s"""q AS (
      $qSql
    ),
    icodes AS (
      SELECT vec_id, g.i - 1 AS pos, q8[g.i] AS code
      FROM q, LATERAL (
        SELECT unnest(generate_series(1, len(q8))) AS i) g
    ),
    iv2 AS (
      SELECT vec_id, CAST(SUM(code * code) AS BIGINT) AS n2
      FROM icodes GROUP BY vec_id
    ),
    seed AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM icodes ORDER BY vec_id LIMIT 16)
    ),
    c0 AS (
      SELECT s.cid, k.pos, k.code FROM seed s JOIN icodes k USING (vec_id)
    ),
    ${kmeansIter(0)},
    ${kmeansIter(1)},
    ${kmeansIter(2)},
    ${kmeansIter(3)}"""

  /** The k5 chain instance: k6 quantization of the embeddings corpus. */
  private lazy val ivfTrainedChain: String = ivfChainFrom("""SELECT vec_id,
             list_transform(embedding,
               x -> CASE WHEN mx = 0 THEN 0
                         ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                         + 0.5) AS BIGINT) END) AS q8
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings)""")

  /** The m4b chain instance: the deterministic stub media features as
    * exact BIGINT codes (graft.pipeline.Multimodal.mediaCodes).
    */
  private lazy val mediaIvfChain: String = ivfChainFrom(
    """SELECT doc_id AS vec_id,
             list_transform(generate_series(1, 8),
               k -> CAST((strlen(text) * k) % 97 + 1 AS BIGINT)) AS q8
      FROM documents"""
  )

  /** The shared probe → score → top-k search tail over the trained chain
    * (`s3`/`a3`/`icodes`/`iv2`): queries = the `nQueries` lowest vec_ids,
    * nprobe cells each by the fixed-point key, members ranked by the same
    * key with ties to vec_id. `outId` renames the hit id column (m4b
    * presents doc_id).
    */
  private def ivfSearchTail(
      nQueries: Int,
      nprobe: Int,
      k: Int,
      outId: String
  ): String = s"""
    probes AS (
      SELECT vec_id AS qid, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY skey DESC, cid) AS rn
        FROM s3 WHERE vec_id < $nQueries) WHERE rn <= $nprobe
    ),
    cand AS (
      SELECT p.qid, a.vec_id FROM probes p JOIN a3 a USING (cid)
      WHERE a.vec_id <> p.qid
    ),
    pd AS (
      SELECT c.qid, c.vec_id,
             CAST(SUM(kq.code * kv.code) AS BIGINT) AS dot
      FROM cand c
      JOIN icodes kq ON kq.vec_id = c.qid
      JOIN icodes kv ON kv.vec_id = c.vec_id AND kv.pos = kq.pos
      GROUP BY c.qid, c.vec_id
    ),
    ps AS (
      SELECT pd.qid, pd.vec_id,
             CASE WHEN v.n2 = 0 THEN 0
                  WHEN pd.dot >= 0 THEN (pd.dot * pd.dot * 1048576) // v.n2
                  ELSE -((pd.dot * pd.dot * 1048576) // v.n2) END AS score
      FROM pd JOIN iv2 v ON v.vec_id = pd.vec_id
    ),
    r AS (
      SELECT qid, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rnk
      FROM ps
    )
    SELECT qid, vec_id AS $outId, CAST(rnk AS BIGINT) AS rank, score
    FROM r WHERE rnk <= $k
    ORDER BY qid, rnk
  """

  /** k5 — IVF search with the EXACT-INTEGER trained quantizer
    * (graft.pipeline.Similarity.knnIvfTrainedExact): k6 quantization →
    * three unrolled integer spherical k-means iterations (seeded from
    * the 16 lowest vec_ids, bit-replayable — every step is BIGINT
    * +−× and truncating //) → per-query nprobe=2 cell probe → members
    * ranked by the same fixed-point cosine key, ties to vec_id.
    */
  lazy val knnIvfTrained: String = s"""
    WITH $ivfTrainedChain,
    ${ivfSearchTail(10, 2, 5, "vec_id")}
  """

  /** m4b — media retrieval through the trained exact-integer IVF index
    * (graft.pipeline.Multimodal.mediaKnnIvf): the stub feature extraction
    * and the whole training run replay in BIGINT, then the k5 search tail
    * at nQueries=5, k=3.
    */
  lazy val mediaKnnIvf: String = s"""
    WITH $mediaIvfChain,
    ${ivfSearchTail(5, 2, 3, "doc_id")}
  """

  /** m4c — the m-plane recall report (graft.pipeline.Multimodal
    * .mediaRecall): the m4b index top-k LEFT-joined to the exact float
    * brute-force top-k (m4's oracle verbatim), counted exactly.
    */
  lazy val mediaRecall: String = s"""
    WITH brute AS (SELECT qid, doc_id FROM ($mediaKnn) b0),
    approx AS (
      SELECT 'media_ivf' AS method, qid, doc_id FROM ($mediaKnnIvf) x1
    ),
    tot AS (SELECT COUNT(*) AS n_truth FROM brute)
    SELECT a.method,
           COUNT(DISTINCT a.qid) AS n_queries,
           COUNT(*) AS n_retrieved,
           COUNT(b.doc_id) AS n_hits,
           (SELECT n_truth FROM tot) AS n_truth,
           CAST(COUNT(b.doc_id) AS DOUBLE) / (SELECT n_truth FROM tot)
             AS recall
    FROM approx a
    LEFT JOIN brute b ON a.qid = b.qid AND a.doc_id = b.doc_id
    GROUP BY a.method
    ORDER BY a.method
  """

  /** m4d — the stored-media recall report (graft.pipeline.Multimodal
    * .mediaRecallStored): the m4c report shape with the approximate leg
    * replaced by the k16 stored-index lifecycle search — the row a
    * deployment monitors for the store it actually serves.
    */
  lazy val mediaRecallStored: String = s"""
    WITH brute AS (SELECT qid, doc_id FROM ($mediaKnn) b0),
    approx AS (
      SELECT 'media_ivf_stored' AS method, qid, doc_id
      FROM ($mediaIndexLifecycle) x1
    ),
    tot AS (SELECT COUNT(*) AS n_truth FROM brute)
    SELECT a.method,
           COUNT(DISTINCT a.qid) AS n_queries,
           COUNT(*) AS n_retrieved,
           COUNT(b.doc_id) AS n_hits,
           (SELECT n_truth FROM tot) AS n_truth,
           CAST(COUNT(b.doc_id) AS DOUBLE) / (SELECT n_truth FROM tot)
             AS recall
    FROM approx a
    LEFT JOIN brute b ON a.qid = b.qid AND a.doc_id = b.doc_id
    GROUP BY a.method
    ORDER BY a.method
  """

  /** k14 — the operational health row (graft.pipeline.Similarity
    * .ivfHealthReport): the k5 search replayed twice (probe-ALL = exact
    * truth by the completeness law, and the registered nprobe=2 form)
    * plus the k13 cell stats, composed into one row with the
    * retrain_recommended threshold flag. Every leg is the existing
    * oracle SQL verbatim inside a subselect; only the two ppm divisions
    * and the CASE are new — all BIGINT.
    */
  lazy val ivfHealthReport: String = {
    val truthSql = s"""
    WITH $ivfTrainedChain,
    ${ivfSearchTail(10, 16, 5, "vec_id")}"""
    s"""
    WITH truthq AS (SELECT qid, vec_id FROM ($truthSql) tq),
    approxq AS (SELECT qid, vec_id FROM ($knnIvfTrained) aq),
    cellsq AS (SELECT * FROM ($ivfCellStats) cq),
    tot AS (SELECT COUNT(*) AS n_truth FROM truthq),
    hits AS (
      SELECT COUNT(*) AS n_retrieved, COUNT(b.vec_id) AS n_hits
      FROM approxq a
      LEFT JOIN truthq b ON a.qid = b.qid AND a.vec_id = b.vec_id
    ),
    cellagg AS (
      SELECT MAX(n_total) AS n_vectors,
             MAX(occupancy_ppm) AS max_cell_ppm,
             MIN(mean_cohesion) AS min_mean_cohesion
      FROM cellsq
    )
    SELECT c.n_vectors, h.n_retrieved, h.n_hits, t.n_truth,
           CAST(h.n_hits * 1000000 // t.n_truth AS BIGINT) AS recall_ppm,
           c.max_cell_ppm, c.min_mean_cohesion,
           CAST(CASE WHEN (h.n_hits * 1000000 // t.n_truth) < 600000
                       OR c.max_cell_ppm > 250000 THEN 1 ELSE 0 END AS BIGINT)
             AS retrain_recommended
    FROM hits h, tot t, cellagg c
  """
  }

  /** k13 — trained-IVF cell-balance report (graft.pipeline.Similarity
    * .ivfCellStats): the k5 training chain verbatim, then the final
    * assignment (a3) joined back to its own-cell fixed-point cosine key
    * (s3) and rolled up per cell — occupancy in exact ppm, min/mean
    * cohesion as BIGINTs (`SUM // COUNT`); empty cells survive via the
    * LEFT join from the seeded cell list.
    */
  lazy val ivfCellStats: String = s"""
    WITH $ivfTrainedChain,
    cells AS (SELECT DISTINCT cid FROM c0),
    asg AS (
      SELECT a.vec_id, a.cid, s.skey
      FROM a3 a JOIN s3 s ON s.vec_id = a.vec_id AND s.cid = a.cid
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM asg),
    st AS (
      SELECT cid, COUNT(*) AS n_vectors,
             MIN(skey) AS min_cohesion,
             CAST(SUM(skey) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
               AS mean_cohesion
      FROM asg GROUP BY cid
    )
    SELECT c.cid,
           COALESCE(st.n_vectors, 0) AS n_vectors,
           (COALESCE(st.n_vectors, 0) * 1000000) // (SELECT n_total FROM tot)
             AS occupancy_ppm,
           st.min_cohesion, st.mean_cohesion,
           (SELECT n_total FROM tot) AS n_total
    FROM cells c LEFT JOIN st USING (cid)
    ORDER BY c.cid
  """

  /** The k10 lifecycle chain as a parameterized POOL: quantize the
    * corpus, train the exact k-means ONLY on the initial ingest
    * (`vec_id % 4 < 3`, seeded from its 16 lowest ids), assign the full
    * corpus to the FROZEN centroids (iteration 3 scores against c3
    * without feeding means back — the append path), nprobe-search the
    * union — yielding (qid, vec_id, score, rnk) up to `k` per query.
    * Interpolated by the k10 oracle AND the p36d stored-hybrid's dense
    * leg (at the fusion pool size), so both replay the identical
    * lifecycle arithmetic.
    */
  private def indexLifecyclePoolFrom(
      qSql: String, // the integer-code corpus CTE body: (vec_id, q8)
      nQueries: Int,
      nprobe: Int,
      k: Int,
      candExtra: String = "", // extra predicate on candidates (k15's
      //                         metadata filter), ANDed into `cand`
      nprobeSql: Option[String] = None // k17: a scalar-subquery probe
      //                                  width (selectivity-adaptive)
  ): String = s"""
    WITH q AS (
      $qSql
    ),
    icodes AS (
      SELECT vec_id, g.i - 1 AS pos, q8[g.i] AS code
      FROM q, LATERAL (
        SELECT unnest(generate_series(1, len(q8))) AS i) g
    ),
    tcodes AS (
      SELECT * FROM icodes WHERE vec_id % 4 < 3
    ),
    iv2 AS (
      SELECT vec_id, CAST(SUM(code * code) AS BIGINT) AS n2
      FROM icodes GROUP BY vec_id
    ),
    seed AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM tcodes ORDER BY vec_id LIMIT 16)
    ),
    c0 AS (
      SELECT s.cid, k.pos, k.code FROM seed s JOIN tcodes k USING (vec_id)
    ),
    ${kmeansIter(0, "tcodes")},
    ${kmeansIter(1, "tcodes")},
    ${kmeansIter(2, "tcodes")},
    ${kmeansIter(3, "icodes")},
    probes AS (
      SELECT vec_id AS qid, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY skey DESC, cid) AS rn
        FROM s3 WHERE vec_id < $nQueries)
      WHERE rn <= ${nprobeSql.getOrElse(nprobe.toString)}
    ),
    cand AS (
      SELECT p.qid, a.vec_id FROM probes p JOIN a3 a USING (cid)
      WHERE a.vec_id <> p.qid $candExtra
    ),
    pd AS (
      SELECT c.qid, c.vec_id,
             CAST(SUM(kq.code * kv.code) AS BIGINT) AS dot
      FROM cand c
      JOIN icodes kq ON kq.vec_id = c.qid
      JOIN icodes kv ON kv.vec_id = c.vec_id AND kv.pos = kq.pos
      GROUP BY c.qid, c.vec_id
    ),
    ps AS (
      SELECT pd.qid, pd.vec_id,
             CASE WHEN v.n2 = 0 THEN 0
                  WHEN pd.dot >= 0 THEN (pd.dot * pd.dot * 1048576) // v.n2
                  ELSE -((pd.dot * pd.dot * 1048576) // v.n2) END AS score
      FROM pd JOIN iv2 v ON v.vec_id = pd.vec_id
    ),
    r AS (
      SELECT qid, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rnk
      FROM ps
    )
    SELECT qid, vec_id, score, rnk
    FROM r WHERE rnk <= $k
  """

  /** The [[indexLifecyclePoolFrom]] chain at the embeddings corpus (k6
    * quantization) — the k10/k15/p36d instance.
    */
  private def indexLifecyclePool(
      nQueries: Int,
      nprobe: Int,
      k: Int,
      candExtra: String = "",
      nprobeSql: Option[String] = None
  ): String = indexLifecyclePoolFrom(
    """SELECT vec_id,
             list_transform(embedding,
               x -> CASE WHEN mx = 0 THEN 0
                         ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                         + 0.5) AS BIGINT) END) AS q8
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings)""",
    nQueries,
    nprobe,
    k,
    candExtra,
    nprobeSql
  )

  /** k16 — the media index lifecycle
    * (graft.pipeline.Multimodal.mediaIndexLifecycle): the k10 lifecycle
    * chain (train on the `vec_id % 4 < 3` initial ingest, frozen-
    * quantizer assignment of the rest, nprobe stored search) over the
    * STUB media feature codes — the m4b extraction arithmetic — at the
    * m4b search protocol (nQueries=5, k=3), presenting doc_id.
    */
  lazy val mediaIndexLifecycle: String = s"""
    SELECT qid, vec_id AS doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (${indexLifecyclePoolFrom(
      """SELECT doc_id AS vec_id,
             list_transform(generate_series(1, 8),
               k -> CAST((strlen(text) * k) % 97 + 1 AS BIGINT)) AS q8
      FROM documents""",
      5,
      2,
      3
    )}) lf
    ORDER BY qid, rnk
  """

  /** k10 — the incremental-index lifecycle
    * (graft.pipeline.Similarity.knnIndexLifecycleExact): the
    * [[indexLifecyclePool]] chain at the registered protocol
    * (nQueries=10, nprobe=2, k=5). Same exact-BIGINT arithmetic as k5
    * end to end.
    */
  lazy val indexLifecycle: String = s"""
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (${indexLifecyclePool(10, 2, 5)}) lf
    ORDER BY qid, rnk
  """

  /** k15 — FILTERED stored ANN
    * (graft.pipeline.Similarity.knnIvfFilteredLifecycle): the k10
    * lifecycle chain with the candidate set restricted to the English
    * documents (vec_id ↔ doc_id) BEFORE ranking — exact pre-filter
    * semantics within the probed cells.
    */
  lazy val knnIvfFiltered: String = s"""
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (${indexLifecyclePool(
      10, 2, 5,
      "AND a.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"
    )}) lf
    ORDER BY qid, rnk
  """

  /** The k17 adaptive probe width as a DuckDB scalar subquery over the
    * SAME counts the engine uses: LEAST(kCentroids,
    * ceildiv(nprobe × |corpus|, |allowed ∩ corpus|)) — the qualifying
    * count is intersected with the code corpus exactly as
    * knnIvfIndexedExactFilteredAdaptiveOf semi-joins `allowed` against
    * the store's vec_ids, and a zero qualifying count falls back to the
    * base nprobe (mirroring the engine's nAllowed <= 0 branch) instead
    * of erroring on the division.
    */
  private def adaptiveNprobeSql(nprobe: Int, kCentroids: Int = 16): String =
    s"""(SELECT CASE WHEN COUNT(DISTINCT d.doc_id) = 0 THEN $nprobe
                ELSE LEAST($kCentroids,
                           ($nprobe * (SELECT COUNT(*) FROM q)
                            + COUNT(DISTINCT d.doc_id) - 1)
                           // COUNT(DISTINCT d.doc_id)) END
         FROM documents d
         WHERE d.lang = 'en'
           AND d.doc_id IN (SELECT vec_id FROM q))"""

  /** k17 — SELECTIVITY-ADAPTIVE filtered stored ANN
    * (graft.pipeline.Similarity.knnIvfFilteredAdaptiveLifecycle): the k15
    * chain with the probe width computed from the filter itself —
    * LEAST(kCentroids, ceildiv(nprobe × corpus, qualifying ∩ corpus)) in
    * exact integer arithmetic, replaying the adaptive law's width
    * selection bit-for-bit (intersection and zero-fallback included —
    * see [[adaptiveNprobeSql]]).
    */
  lazy val knnIvfFilteredAdaptive: String = s"""
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (${indexLifecyclePool(
      10,
      2,
      5,
      "AND a.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
      nprobeSql = Some(adaptiveNprobeSql(2))
    )}) lf
    ORDER BY qid, rnk
  """

  /** p33r — PREFIX term query (graft.pipeline.Retrieval.prefixTopK,
    * nQueries=5, prefixLen=3, k=5, maxExpansions=64): each query doc
    * contributes its first token's first 3 characters; the query expands
    * to the first 64 dictionary terms (term order) with that prefix
    * (Lucene PrefixQuery under the constant-score rewrite + clause cap),
    * and candidates rank by total matched occurrences Σ tf. p33r2 (the
    * stored-index lifecycle over the sorted dict member) carries the
    * same oracle by the indexed ≡ inline law.
    */
  val prefixTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    q AS (
      SELECT doc_id AS qid, substr(w[1], 1, 3) AS pfx
      FROM ws WHERE doc_id < 5 AND len(w) >= 1
    ),
    expq AS (
      SELECT qid, w1 FROM (
        SELECT q.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY t.w1) AS rn
        FROM q JOIN (SELECT DISTINCT w1 FROM tf) t
          ON starts_with(t.w1, q.pfx)
      ) e WHERE rn <= 64
    ),
    sc AS (
      SELECT e.qid, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS score
      FROM expq e JOIN tf t ON t.w1 = e.w1
      WHERE t.doc_id <> e.qid
      GROUP BY e.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33r3 — WILDCARD term query
    * (graft.pipeline.Retrieval.wildcardIndexLifecycle, nQueries=5, k=5,
    * maxExpansions=64): each query doc whose first token has ≥ 3 chars
    * contributes the pattern `c₁ ? rest *` (second character wildcarded,
    * any suffix); expansion and scoring are the p33r protocol over the
    * LIKE-translated pattern. The corpus tokens contain no LIKE
    * metacharacters (the engine escapes them; this fixture has none to
    * escape), so the translation is the plain `_`/`%` substitution.
    */
  val wildcardTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    q AS (
      SELECT doc_id AS qid,
             substr(w[1], 1, 1) || '_' || substr(w[1], 3) || '%' AS pat
      FROM ws WHERE doc_id < 5 AND len(w) >= 1 AND length(w[1]) >= 3
    ),
    expq AS (
      SELECT qid, w1 FROM (
        SELECT q.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY t.w1) AS rn
        FROM q JOIN (SELECT DISTINCT w1 FROM tf) t ON t.w1 LIKE q.pat
      ) e WHERE rn <= 64
    ),
    sc AS (
      SELECT e.qid, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS score
      FROM expq e JOIN tf t ON t.w1 = e.w1
      WHERE t.doc_id <> e.qid
      GROUP BY e.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33x — TERM-RANGE query (graft.pipeline.Retrieval.termRangeTopK,
    * nQueries=5, k=5, maxExpansions=64): each query doc's first two
    * distinct tokens, sorted, bound the inclusive range [lo, hi]; the
    * query expands to the first 64 dictionary terms inside it (term
    * order — Lucene TermRangeQuery under the constant-score rewrite +
    * clause cap) and candidates rank by total matched occurrences Σ tf.
    * Binary string comparison on both engines. p33x2 (the stored
    * lifecycle — both bounds pushed onto the sorted dict member)
    * carries the same oracle by the indexed ≡ inline law.
    */
  val termRangeTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    q AS (
      SELECT doc_id AS qid, least(w[1], w[2]) AS lo, greatest(w[1], w[2]) AS hi
      FROM ws WHERE doc_id < 5 AND len(w) >= 2 AND w[1] <> w[2]
    ),
    expq AS (
      SELECT qid, w1 FROM (
        SELECT q.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY t.w1) AS rn
        FROM q JOIN (SELECT DISTINCT w1 FROM tf) t
          ON t.w1 >= q.lo AND t.w1 <= q.hi
      ) e WHERE rn <= 64
    ),
    sc AS (
      SELECT e.qid, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS score
      FROM expq e JOIN tf t ON t.w1 = e.w1
      WHERE t.doc_id <> e.qid
      GROUP BY e.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33y — MORE-LIKE-THIS (graft.pipeline.Retrieval.moreLikeThisTopK,
    * nQueries=5, nTerms=5, k=5): the query doc's top 5 terms by
    * tf·idf_ppm (ties → term order — Lucene MoreLikeThis's
    * interestingTerms, exact-integer), then a disjunctive BM25 over
    * those terms (the p33c ppm arithmetic), query doc excluded. p33y2
    * (the stored lifecycle) carries the same oracle by the indexed ≡
    * inline law.
    */
  val moreLikeThisTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qsel AS (
      SELECT t.doc_id AS qid, t.w1,
             ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * (((2 * ((SELECT n_docs FROM n) - d.df) + 1)
                                  * 1000000) // (2 * d.df + 1)) DESC,
                        t.w1) AS rn
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    qt AS (
      SELECT qs.qid, qs.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM qsel qs JOIN df d USING (w1)
      WHERE qs.rn <= 5
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33v — REGEX term query (graft.pipeline.Retrieval.regexTopK,
    * nQueries=5, k=5, maxExpansions=64): each query doc whose first
    * token has ≥ 3 chars contributes `^c₁c₂([a-z]*|[0-9]*)c_last$` —
    * anchored full-string match on both engines (Spark rlike and DuckDB
    * regexp_matches are substring matchers; the anchors restore Lucene
    * RegexpQuery's whole-term semantics). The dialect stays in
    * RE2 ∩ Java (literals, classes, *, alternation, anchors — the p16
    * precedent), so the expansion replays bit-for-bit. Expansion and
    * scoring are the p33r protocol. p33v2 (the stored-dict lifecycle,
    * leading-literal range pruned) carries the same oracle by the
    * indexed ≡ inline law.
    */
  val regexTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    q AS (
      SELECT doc_id AS qid,
             '^' || substr(w[1], 1, 2) || '([a-z]*|[0-9]*)' ||
               substr(w[1], length(w[1]), 1) || '$' AS pat
      FROM ws WHERE doc_id < 5 AND len(w) >= 1 AND length(w[1]) >= 3
    ),
    expq AS (
      SELECT qid, w1 FROM (
        SELECT q.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY t.w1) AS rn
        FROM q JOIN (SELECT DISTINCT w1 FROM tf) t
          ON regexp_matches(t.w1, q.pat)
      ) e WHERE rn <= 64
    ),
    sc AS (
      SELECT e.qid, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS score
      FROM expq e JOIN tf t ON t.w1 = e.w1
      WHERE t.doc_id <> e.qid
      GROUP BY e.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33t — FUZZY term query (graft.pipeline.Retrieval.fuzzyTopK,
    * nQueries=5, k=5, maxEdits=2, maxExpansions=64): each query doc's
    * first token expands to the dictionary terms within 2 Levenshtein
    * edits (itself included), capped at the first 64 in (distance, term)
    * order; candidates rank by total matched occurrences Σ tf. Both
    * engines' `levenshtein` is the classic (no-transposition) edit
    * distance, so the whole query hash-replays. p33t2 (the stored
    * lifecycle over the dict member) carries the same oracle by the
    * indexed ≡ inline law.
    */
  val fuzzyTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    q AS (
      SELECT doc_id AS qid, w[1] AS term
      FROM ws WHERE doc_id < 5 AND len(w) >= 1
    ),
    expq AS (
      SELECT qid, w1 FROM (
        SELECT q.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY levenshtein(t.w1, q.term), t.w1)
                 AS rn
        FROM q JOIN (SELECT DISTINCT w1 FROM tf) t
          ON abs(length(t.w1) - length(q.term)) <= 2
             AND levenshtein(t.w1, q.term) <= 2
      ) e WHERE rn <= 64
    ),
    sc AS (
      SELECT e.qid, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS score
      FROM expq e JOIN tf t ON t.w1 = e.w1
      WHERE t.doc_id <> e.qid
      GROUP BY e.qid, t.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33i — boolean conjunctive (AND) retrieval
    * (graft.pipeline.Retrieval.booleanTopK, nQueries=5, qLen=3, k=5):
    * the query is each query doc's first 3 DISTINCT terms in
    * first-occurrence order; only documents containing ALL of them
    * qualify, ranked by the p33c BM25 ppm arithmetic over those terms.
    * p33j (the stored-index lifecycle) carries the same oracle by the
    * indexed ≡ inline law.
    */
  val booleanTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    qsel AS (
      SELECT qid, w1 FROM (
        SELECT doc_id AS qid, w1,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY minp) AS rn
        FROM (SELECT doc_id, w1, MIN(pos) AS minp FROM pos
              WHERE doc_id < 5 GROUP BY doc_id, w1) f
      ) r WHERE rn <= 3
    ),
    nt AS (SELECT qid, COUNT(DISTINCT w1) AS nt FROM qsel GROUP BY qid),
    m AS (
      SELECT q.qid, t.doc_id, COUNT(DISTINCT t.w1) AS nm
      FROM tf t JOIN qsel q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    gate AS (
      SELECT m.qid, m.doc_id FROM m JOIN nt USING (qid) WHERE m.nm = nt.nt
    ),
    qt AS (
      SELECT q.qid, q.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM qsel q JOIN df d USING (w1)
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    scg AS (
      SELECT sc.qid, sc.doc_id, sc.score FROM sc JOIN gate USING (qid, doc_id)
    ),
    r AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scg
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33k — FULL boolean retrieval (graft.pipeline.Retrieval
    * .booleanQueryTopK, nQueries=5, k=5): each query doc's first 5
    * distinct terms in first-occurrence order, roles by position — 1-2
    * MUST (all required, the p33i gate), 3 MUST_NOT (any match excludes,
    * a left-anti on the gate), 4-5 SHOULD (optional, score-bearing).
    * Score = the p33c BM25 ppm sum over each doc's matched MUST ∪ SHOULD
    * terms (the Lucene convention: exclusions never score). p33l (the
    * stored-index lifecycle) carries the same oracle by the indexed ≡
    * inline law.
    */
  val booleanQueryTopK: String = booleanQuerySql(0)

  /** p33s — the p33k clause matrix with Lucene minimumNumberShouldMatch:
    * a candidate must additionally match at least `msm` DISTINCT SHOULD
    * terms; scoring is unchanged (matched MUST ∪ SHOULD ppm sum).
    */
  lazy val booleanMsmTopK: String = booleanQuerySql(1)

  private def booleanQuerySql(msm: Int): String = s"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    qsel AS (
      SELECT qid, w1,
             CASE WHEN rn <= 2 THEN 'must'
                  WHEN rn = 3 THEN 'must_not'
                  ELSE 'should' END AS role
      FROM (
        SELECT doc_id AS qid, w1,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY minp) AS rn
        FROM (SELECT doc_id, w1, MIN(pos) AS minp FROM pos
              WHERE doc_id < 5 GROUP BY doc_id, w1) f
      ) r WHERE rn <= 5
    ),
    nt AS (
      SELECT qid, COUNT(DISTINCT w1) AS nt FROM qsel
      WHERE role = 'must' GROUP BY qid
    ),
    m AS (
      SELECT q.qid, t.doc_id, COUNT(DISTINCT t.w1) AS nm
      FROM tf t JOIN qsel q ON t.w1 = q.w1 AND q.role = 'must'
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    gate AS (
      SELECT m.qid, m.doc_id FROM m JOIN nt USING (qid) WHERE m.nm = nt.nt
    ),
    ex AS (
      SELECT DISTINCT q.qid, t.doc_id
      FROM tf t JOIN qsel q ON t.w1 = q.w1 AND q.role = 'must_not'
      WHERE t.doc_id <> q.qid
    ),
    sm AS (
      SELECT q.qid, t.doc_id, COUNT(DISTINCT t.w1) AS ns
      FROM tf t JOIN qsel q ON t.w1 = q.w1 AND q.role = 'should'
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    qt AS (
      SELECT q.qid, q.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM qsel q JOIN df d USING (w1)
      WHERE q.role <> 'must_not'
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    scg AS (
      SELECT sc.qid, sc.doc_id, sc.score
      FROM sc
      JOIN gate USING (qid, doc_id)
      LEFT JOIN ex ON ex.qid = sc.qid AND ex.doc_id = sc.doc_id
      LEFT JOIN sm ON sm.qid = sc.qid AND sm.doc_id = sc.doc_id
      WHERE ex.doc_id IS NULL AND COALESCE(sm.ns, 0) >= $msm
    ),
    r AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scg
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33s2 — OR-of-ANDs (graft.pipeline.Retrieval.dnfTopK, nQueries=5,
    * 2 clauses × 2 terms, k=5): clause 0 = the query doc's first 2
    * distinct terms, clause 1 = the next 2; a doc qualifies by matching
    * ALL terms of ANY clause, and its score SUMS the matched clauses'
    * BM25 ppm scores (each clause scores independently — a shared term
    * counts in each matching clause, the Lucene BooleanQuery-of-
    * conjunctions semantics). p33s3 (the stored lifecycle) carries the
    * same oracle by the indexed ≡ inline law.
    */
  val dnfTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    qsel AS (
      SELECT qid, (rn - 1) // 2 AS cid, w1
      FROM (
        SELECT doc_id AS qid, w1,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY minp) AS rn
        FROM (SELECT doc_id, w1, MIN(pos) AS minp FROM pos
              WHERE doc_id < 5 GROUP BY doc_id, w1) f
      ) r WHERE rn <= 4
    ),
    nt AS (
      SELECT qid, cid, COUNT(DISTINCT w1) AS nt FROM qsel GROUP BY qid, cid
    ),
    qt AS (
      SELECT q.qid, q.cid, q.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM qsel q JOIN df d USING (w1)
    ),
    csc AS (
      SELECT q.qid, q.cid, t.doc_id, COUNT(DISTINCT t.w1) AS nm,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS cscore
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, q.cid, t.doc_id
    ),
    sc AS (
      SELECT c.qid, c.doc_id, CAST(SUM(c.cscore) AS BIGINT) AS score
      FROM csc c JOIN nt ON nt.qid = c.qid AND nt.cid = c.cid
      WHERE c.nm = nt.nt
      GROUP BY c.qid, c.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, score
    FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p24 — cluster-balanced sampling (graft.pipeline.Sampling
    * .clusterBalancedSample): the k5 integer k-means chain through the
    * final assignment a3, then the finalized hash gate as within-cluster
    * priority — the perCluster gate-smallest vectors per cluster.
    * Training, assignment and gate are all exact BIGINT, so the whole
    * composition hash-replays. */
  lazy val clusterBalance: String = s"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CASE WHEN mx = 0 THEN 0
                         ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                         + 0.5) AS BIGINT) END) AS q8
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings)
    ),
    icodes AS (
      SELECT vec_id, g.i - 1 AS pos, q8[g.i] AS code
      FROM q, LATERAL (
        SELECT unnest(generate_series(1, len(q8))) AS i) g
    ),
    seed AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM icodes ORDER BY vec_id LIMIT 16)
    ),
    c0 AS (
      SELECT s.cid, k.pos, k.code FROM seed s JOIN icodes k USING (vec_id)
    ),
    ${kmeansIter(0)},
    ${kmeansIter(1)},
    ${kmeansIter(2)},
    ${kmeansIter(3)},
    hg AS (
      SELECT a.vec_id, a.cid,
             ((${charHash(
      "'graft-balance::' || CAST(a.vec_id AS VARCHAR)"
    )}) * 6364136223) % $M % 1000000 AS h
      FROM a3 a
    ),
    r AS (
      SELECT cid, vec_id, h,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY h, vec_id) AS rk
      FROM hg
    )
    SELECT cid, CAST(rk AS BIGINT) AS rk, vec_id, h
    FROM r WHERE rk <= 40
    ORDER BY cid, rk
  """

  /** k7 — product quantization (graft.pipeline.Similarity.pqCodes):
    * int8 codes (k6 arithmetic) split into 4 subvectors of 16; code =
    * argmin over the sampled codebook (vec_id < 16) by exact BIGINT
    * squared-difference distance, (dist, cid) tiebreak. DuckDB list
    * slices are 1-based inclusive; list_sum yields HUGEINT — cast. */
  private lazy val pqChain: String = """
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CASE WHEN mx = 0 THEN 0
                         ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)
                                         + 0.5) AS BIGINT) END) AS q8
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings)
    ),
    sv AS (
      SELECT vec_id, g.s AS sub, q8[g.s*16+1 : g.s*16+16] AS sv
      FROM q, LATERAL (SELECT unnest(generate_series(0, 3)) AS s) g
    ),
    cb AS (
      SELECT sub AS cb_sub, vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 16
    ),
    d AS (
      SELECT sv.vec_id, sv.sub, cb.cid,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> (sv.sv[i] - cb.cv[i]) * (sv.sv[i] - cb.cv[i])))
               AS BIGINT) AS dist
      FROM sv JOIN cb ON sv.sub = cb.cb_sub
    ),
    a AS (
      SELECT vec_id, sub, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, cid) AS rn
      FROM d
    )"""

  lazy val pqCodes: String = s"""
    WITH $pqChain
    SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code, dist
    FROM a WHERE rn = 1
    ORDER BY vec_id, sub
  """

  /** k8 — ADC search over the PQ codes: LUT = the precomputed (query
    * subvector -> codebook entry) distances (a restriction of `d`),
    * approximate distance = SUM of lookups selected by stored codes.
    * All BIGINT; (adist, vec_id) tiebreak. */
  lazy val knnPq: String = s"""
    WITH $pqChain,
    codes AS (SELECT vec_id, sub, cid AS code FROM a WHERE rn = 1),
    lut AS (
      SELECT vec_id AS qid, sub AS q_sub, cid, dist AS pdist
      FROM d WHERE vec_id < 10
    ),
    scored AS (
      SELECT qid, c.vec_id, CAST(SUM(pdist) AS BIGINT) AS adist
      FROM codes c JOIN lut ON c.sub = lut.q_sub AND c.code = lut.cid
      WHERE c.vec_id <> lut.qid
      GROUP BY qid, c.vec_id
    ),
    r AS (
      SELECT qid, vec_id, adist,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adist, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, adist
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** k9 — IVF-PQ: the k8 ADC search restricted to the query's coarse
    * cell (label). */
  lazy val knnIvfPq: String = s"""
    WITH $pqChain,
    codes AS (
      SELECT a.vec_id, a.sub, a.cid AS code, e.label
      FROM a JOIN embeddings e ON a.vec_id = e.vec_id
      WHERE a.rn = 1
    ),
    lut AS (
      SELECT d.vec_id AS qid, d.sub AS q_sub, d.cid, d.dist AS pdist,
             e.label AS qlabel
      FROM d JOIN embeddings e ON d.vec_id = e.vec_id
      WHERE d.vec_id < 10
    ),
    scored AS (
      SELECT qid, c.vec_id, CAST(SUM(pdist) AS BIGINT) AS adist
      FROM codes c JOIN lut
        ON c.sub = lut.q_sub AND c.code = lut.cid AND c.label = lut.qlabel
      WHERE c.vec_id <> lut.qid
      GROUP BY qid, c.vec_id
    ),
    r AS (
      SELECT qid, vec_id, adist,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adist, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, adist
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** k11 — two-stage retrieval
    * (graft.pipeline.Similarity.knnIvfPqRerank): the k9 IVF-PQ ADC
    * search widened to a 20-candidate shortlist per query, then the
    * shortlist alone re-ranked by the exact fixed-point cosine key over
    * the full int8 codes ((dot²·2²⁰) DIV ‖cand‖², signed). All BIGINT;
    * (score DESC, vec_id) tiebreak. */
  lazy val knnIvfPqRerank: String = s"""
    WITH $pqChain,
    codes AS (
      SELECT a.vec_id, a.sub, a.cid AS code, e.label
      FROM a JOIN embeddings e ON a.vec_id = e.vec_id
      WHERE a.rn = 1
    ),
    lut AS (
      SELECT d.vec_id AS qid, d.sub AS q_sub, d.cid, d.dist AS pdist,
             e.label AS qlabel
      FROM d JOIN embeddings e ON d.vec_id = e.vec_id
      WHERE d.vec_id < 10
    ),
    scored AS (
      SELECT qid, c.vec_id, CAST(SUM(pdist) AS BIGINT) AS adist
      FROM codes c JOIN lut
        ON c.sub = lut.q_sub AND c.code = lut.cid AND c.label = lut.qlabel
      WHERE c.vec_id <> lut.qid
      GROUP BY qid, c.vec_id
    ),
    shortlist AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS rnk
        FROM scored) WHERE rnk <= 20
    ),
    icodes AS (
      SELECT vec_id, g.i AS pos, q8[g.i] AS code
      FROM q, LATERAL (SELECT unnest(generate_series(1, len(q8))) AS i) g
    ),
    iv2 AS (
      SELECT vec_id, CAST(SUM(code * code) AS BIGINT) AS n2
      FROM icodes GROUP BY vec_id
    ),
    pd AS (
      SELECT s.qid, s.vec_id,
             CAST(SUM(kq.code * kv.code) AS BIGINT) AS dot
      FROM shortlist s
      JOIN icodes kq ON kq.vec_id = s.qid
      JOIN icodes kv ON kv.vec_id = s.vec_id AND kv.pos = kq.pos
      GROUP BY s.qid, s.vec_id
    ),
    ps AS (
      SELECT pd.qid, pd.vec_id,
             CASE WHEN v.n2 = 0 THEN 0
                  WHEN pd.dot >= 0 THEN (pd.dot * pd.dot * 1048576) // v.n2
                  ELSE -((pd.dot * pd.dot * 1048576) // v.n2) END AS score
      FROM pd JOIN iv2 v ON v.vec_id = pd.vec_id
    ),
    r AS (
      SELECT qid, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rnk
      FROM ps
    )
    SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, score
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** k3 — LSH bucket-size histogram. */
  val lshBucketStats: String = s"""
    WITH c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bk AS (SELECT vec_id, ${bucketExpr()} AS bucket FROM c),
    per AS (SELECT bucket, COUNT(*) AS n_vectors FROM bk GROUP BY bucket)
    SELECT n_vectors, COUNT(*) AS n_buckets
    FROM per GROUP BY n_vectors ORDER BY n_vectors
  """

  /** k4 — multiprobe LSH kNN (own bucket + all 1-bit flips, exact rescore,
    * top-5 per query). */
  val knnLsh: String = {
    val probeList = (-1 until 12).mkString("[", ", ", "]")
    s"""
    WITH c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cb AS (SELECT vec_id, e, ${bucketExpr()} AS bucket FROM c),
    q AS (
      SELECT vec_id AS qid, e AS qe, bucket AS qbucket
      FROM cb WHERE vec_id < 10
    ),
    probes AS (
      SELECT qid, qe,
             CASE WHEN f.i = -1 THEN qbucket
                  ELSE xor(qbucket, (CAST(1 AS BIGINT) << f.i)) END AS bucket
      FROM q, LATERAL (SELECT unnest($probeList) AS i) f
    ),
    scored AS (
      SELECT DISTINCT p.qid, t.vec_id,
             list_dot_product(p.qe, t.e) /
             (sqrt(list_dot_product(p.qe, p.qe)) *
              sqrt(list_dot_product(t.e, t.e))) AS sim
      FROM probes p JOIN cb t USING (bucket)
      WHERE t.vec_id <> p.qid
    )
    SELECT qid, vec_id, rank, sim
    FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
               AS BIGINT) AS rank
      FROM scored
    ) r
    WHERE rank <= 5
    ORDER BY qid, rank
  """
  }

  private def occ(needle: String, len: Int): String =
    s"(length(text) - length(replace(text, '$needle', ''))) / $len"

  private val words = "(length(text) - length(replace(text, ' ', '')) + 1)"

  val quality: String = s"""
    SELECT doc_id, lang, source,
           length(text) AS n_chars_actual,
           n_chars,
           CAST($words AS BIGINT) AS n_words,
           CAST(length(text) AS DOUBLE) / $words AS avg_word_len,
           CAST(${occ(".", 1)} AS BIGINT) AS n_periods,
           CAST(${occ(" the ", 5)} AS BIGINT) AS n_the,
           ${occ(" the ", 5)} / $words AS stopword_ratio
    FROM documents
    ORDER BY doc_id
  """

  private def padOcc(w: String): String = {
    val n = w.length + 2
    s"(length(p) - length(replace(p, ' $w ', ''))) / $n"
  }

  val langIdConfusion: String = s"""
    SELECT lang, predicted, COUNT(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN zh_s > 0 THEN 'zh'
                  WHEN en_s = mx THEN 'en'
                  WHEN de_s = mx THEN 'de'
                  WHEN es_s = mx THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM (
        SELECT lang, en_s, fr_s, es_s, de_s, zh_s,
               GREATEST(en_s, fr_s, es_s, de_s) AS mx
        FROM (
          SELECT lang,
                 ${padOcc("the")} + ${padOcc("and")} + ${padOcc("of")} + ${padOcc("is")} AS en_s,
                 ${padOcc("le")} + ${padOcc("la")} + ${padOcc("et")} + ${padOcc("les")} AS fr_s,
                 ${padOcc("el")} + ${padOcc("los")} + ${padOcc("y")} + ${padOcc("de")} AS es_s,
                 ${padOcc("der")} + ${padOcc("die")} + ${padOcc("und")} + ${padOcc("das")} AS de_s,
                 CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g'))
                   AS DOUBLE) AS zh_s
          FROM (SELECT lang, text, ' ' || text || ' ' AS p FROM documents) b
        ) s
      ) m
    ) t
    GROUP BY lang, predicted
    ORDER BY lang, predicted
  """

  val tokenStats: String = s"""
    SELECT doc_id, lang,
           CAST($words AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS DOUBLE) /
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS chars_per_token
    FROM documents
    ORDER BY doc_id
  """

  val fingerprint: String = """
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                 c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substr(text, 1, 64), ''),
                 c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS prefix_fp
    FROM documents
    ORDER BY doc_id
  """

  /** Shared contamination CTE chain: per-doc distinct 7-grams, the eval
    * slice's gram dictionary, and each train doc's hit counts — the p9
    * oracle and the p14 composite both splice this in. */
  // lazy: curateFull is declared earlier in the file and splices this in
  private lazy val contamCtes: String = s"""grams AS (
      SELECT DISTINCT doc_id,
             ${charHash("substr(coalesce(text, ''), i, 7)")} AS g
      FROM documents, LATERAL (
        SELECT unnest(generate_series(1,
          greatest(length(coalesce(text, '')) - 6, 1))) AS i) x
    ),
    eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
    contam AS (
      SELECT t.doc_id,
             COUNT(*) AS n_grams,
             COUNT(e.g) AS n_hit,
             CAST(COUNT(e.g) AS DOUBLE) / COUNT(*) AS ratio,
             CAST(COUNT(e.g) AS DOUBLE) / COUNT(*) >= 0.5 AS contaminated
      FROM train t LEFT JOIN eval_g e ON e.g = t.g
      GROUP BY t.doc_id
    )"""

  /** p9 — benchmark decontamination (graft.pipeline.Decontamination with
    * default parameters: char 7-grams, eval set = doc_id % 50 == 0,
    * contamination threshold 0.5). Same substr+fold gram hashing as the d6
    * oracle; per-doc DISTINCT grams, hit = gram occurs anywhere in the
    * eval slice. */
  val contaminationScan: String = s"""
    WITH $contamCtes
    SELECT doc_id, n_grams, n_hit, ratio, contaminated
    FROM contam
    ORDER BY doc_id
  """

  /** d7 — near-dup eval leakage (graft.pipeline.Decontamination
    * .nearDupLeaks): the d2 verified pairs restricted to those crossing
    * the train/eval boundary (exactly one side has doc_id % 50 = 0),
    * oriented eval→train. */
  val nearDupLeaks: String = s"""
    WITH $minhashPairsBody
    SELECT CASE WHEN a % 50 = 0 THEN a ELSE b END AS eval_id,
           CASE WHEN a % 50 = 0 THEN b ELSE a END AS train_id,
           jaccard
    FROM verified
    WHERE (a % 50 = 0) <> (b % 50 = 0)
    ORDER BY eval_id, train_id
  """

  /** p10 — deterministic weighted sample (graft.pipeline.Sampling
    * .weightedSampleQuery: source srcK kept at rate (K mod 5)/4, gate =
    * (poly_hash("graft:source:doc_id") · 6364136223 mod 10^9+7) mod 10^6
    * < rate·10^6 — the finalizer and thresholds are exact BIGINT
    * arithmetic, so the oracle replays the identical longs). */
  val weightedSample: String = s"""
    SELECT doc_id, source FROM documents
    WHERE (${charHash("'graft:' || source || ':' || CAST(doc_id AS VARCHAR)")}
             * 6364136223) % 1000000007 % 1000000
          < (CAST(substr(source, 4) AS BIGINT) % 5) * 250000
    ORDER BY doc_id
  """

  /** p20 — token-budget mixing (graft.pipeline.Sampling.budgetMix): fill
    * order = the finalized hash gate under salt "graft-mix" (identical
    * BIGINT arithmetic to p10), running pre-doc totals via an ordered
    * window, keep while cum_before < 800. DuckDB window SUM is HUGEINT —
    * cast back. */
  val budgetMix: String = s"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_toks,
             (${charHash(
      "'graft-mix:' || source || ':' || CAST(doc_id AS VARCHAR)"
    )} * 6364136223) % 1000000007 % 1000000 AS pri
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source
               ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY pri, doc_id) AS take_rank
      FROM t
    )
    SELECT source, doc_id, take_rank, n_toks, cum_before
    FROM c WHERE cum_before < 800
    ORDER BY source, take_rank
  """

  /** p21 — shuffled sequence packing (graft.pipeline.Packing
    * .shuffledTokenWindows): the oracle runs the ONE-level global cumsum
    * over the hash-permuted order (pri, doc_id) directly — the Spark
    * side's two-level pri-quantized-bucket prefix must compose to
    * exactly this. */
  val shuffledTokenWindows: String = s"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_toks,
             (${charHash(
      "'graft-pack:doc:' || CAST(doc_id AS VARCHAR)"
    )} * 6364136223) % 1000000007 % 1000000 AS pri
      FROM documents
    ),
    c AS (
      SELECT doc_id, pri, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
      FROM t
    )
    SELECT doc_id, pri, n_toks, start_tok,
           start_tok // 512 AS first_window,
           (start_tok + n_toks - 1) // 512 AS last_window
    FROM c
    ORDER BY doc_id
  """

  /** p11 — deterministic output sharding (graft.pipeline.Sampling
    * .shardAssignment, 32 shards): per-shard doc count + summed BPE-ish
    * token total, shard = finalized poly_hash("graft-shard::doc_id")
    * mod 32 — identical BIGINT arithmetic to the p10 gate under a
    * different salt. */
  val shardAssignment: String = s"""
    SELECT (${charHash("'graft-shard::' || CAST(doc_id AS VARCHAR)")}
              * 6364136223) % 1000000007 % 32 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text),
             '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY shard
    ORDER BY shard
  """

  /** p23 — count-min heavy hitters (graft.pipeline.TextAnalysis
    * .heavyHitters): replays the d=4 × w=256 COUNTER MATRIX itself —
    * each sketch row is a bucket rollup under its fixed affine hash —
    * then estimates the exact top-20 tokens as the min over their four
    * buckets. All BIGINT; DuckDB SUM → HUGEINT cast back. */
  lazy val heavyHitters: String = {
    val rowCtes = (0 until 4)
      .map { i =>
        val a = graft.functions.CmsCounters.A(i)
        val b = graft.functions.CmsCounters.B(i)
        s"""r$i AS (
      SELECT (($a * x + $b) % 1000000007) % 256 AS bkt,
             CAST(SUM(n) AS BIGINT) AS v
      FROM cnt GROUP BY 1)"""
      }
      .mkString(",\n    ")
    val joins = (0 until 4)
      .map { i =>
        val a = graft.functions.CmsCounters.A(i)
        val b = graft.functions.CmsCounters.B(i)
        s"JOIN r$i ON r$i.bkt = (($a * t.x + $b) % 1000000007) % 256"
      }
      .mkString("\n    ")
    s"""
    WITH tk AS (
      SELECT unnest(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
      FROM documents
    ),
    th AS (
      SELECT tok, ${charHash("tok")} AS x FROM tk
    ),
    cnt AS (
      SELECT tok, x, COUNT(*) AS n FROM th GROUP BY tok, x
    ),
    $rowCtes,
    top AS (
      SELECT tok, x, n FROM cnt ORDER BY n DESC, tok LIMIT 20
    )
    SELECT t.tok,
           CAST(t.n AS BIGINT) AS n_exact,
           LEAST(r0.v, r1.v, r2.v, r3.v) AS n_cms
    FROM top t
    $joins
    ORDER BY n_exact DESC, tok
  """
  }

  /** p22 — hashed-feature linear quality model
    * (graft.pipeline.QualityModel.qualityModel): each BPE-ish token (the
    * p3/p11 segmentation) maps to a bucket via the finalized poly hash of
    * "graft-qm:tok" mod 512; bucket weight = ((b+1)·2654435761 mod
    * 1000003) mod 201 − 100; score = Σ weights (term frequency), mean =
    * one IEEE division, keep at threshold 0. Zero-token documents keep a
    * row (LEFT JOIN — Spark's row-local fold never drops them). */
  val qualityModel: String = s"""
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
      FROM documents
    ),
    fb AS (
      SELECT doc_id,
             (((${charHash("'graft-qm:' || tok")})
                * 6364136223) % 1000000007) % 512 AS b
      FROM tk
    ),
    sc AS (
      SELECT doc_id,
             COUNT(*) AS n,
             CAST(SUM((((b + 1) * 2654435761) % 1000003) % 201 - 100)
                  AS BIGINT) AS s
      FROM fb GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n, 0) AS BIGINT) AS n_toks,
           CAST(COALESCE(sc.s, 0) AS BIGINT) AS score,
           CASE WHEN COALESCE(sc.n, 0) = 0 THEN 0.0
                ELSE CAST(sc.s AS DOUBLE) / sc.n END AS mean_w,
           (CASE WHEN COALESCE(sc.n, 0) = 0 THEN 0.0
                 ELSE CAST(sc.s AS DOUBLE) / sc.n END) >= 0 AS keep
    FROM documents d LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id
  """

  /** p19 — deterministic train/val/test split manifest
    * (graft.pipeline.Sampling.splitManifest): split = finalized
    * poly_hash("graft-split::doc_id") mod 1000, <10 val, <20 test,
    * else train — the identical BIGINT gate arithmetic of p10/p11 under
    * its own salt. */
  val splitManifest: String = s"""
    SELECT CASE
             WHEN g < 10 THEN 'val'
             WHEN g < 20 THEN 'test'
             ELSE 'train' END AS split,
           source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT source, n_chars,
             (${charHash("'graft-split::' || CAST(doc_id AS VARCHAR)")}
                * 6364136223) % 1000000007 % 1000 AS g
      FROM documents
    ) t
    GROUP BY split, source
    ORDER BY split, source
  """

  /** p30 — leakage-free split (graft.pipeline.Sampling.leakFreeSplit):
    * recursive CC over the minhash pairs gives each doc its cluster
    * label (singletons label themselves); the p19 gate arithmetic runs
    * once keyed by the label (the assignment) and once keyed by the
    * doc_id (the naive split it replaces), 300/300/400 per-mille.
    */
  val leakFreeSplit: String = {
    def g(key: String) =
      s"(${charHash(s"'graft-split::' || CAST($key AS VARCHAR)")} " +
        s"* 6364136223) % 1000000007 % 1000"
    def split(gate: String) = s"""CASE
             WHEN $gate < 300 THEN 'val'
             WHEN $gate < 600 THEN 'test'
             ELSE 'train' END"""
    s"""
    WITH RECURSIVE $minhashPairsBody,
    edges AS (
      SELECT a, b FROM verified
      UNION
      SELECT b AS a, a AS b FROM verified
    ),
    cc(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM edges
      UNION
      SELECT e.a AS doc_id, c.label FROM edges e JOIN cc c ON c.doc_id = e.b
    ),
    lab AS (SELECT doc_id, MIN(label) AS label FROM cc GROUP BY doc_id),
    alld AS (
      SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS label
      FROM documents d LEFT JOIN lab l USING (doc_id)
    )
    SELECT doc_id, label, split, split_naive, split <> split_naive AS moved
    FROM (
      SELECT doc_id, label,
             ${split("gl")} AS split,
             ${split("gd")} AS split_naive
      FROM (
        SELECT doc_id, label,
               ${g("label")} AS gl,
               ${g("doc_id")} AS gd
        FROM alld
      ) gs
    ) s
    ORDER BY doc_id
  """
  }

  /** p30b — split stability under corpus growth
    * (graft.pipeline.Sampling.leakFreeSplitIncremental): the d9 seeded
    * corpus and pair chain verbatim; old-only CC (pairs restricted to
    * both-below-boundary — pair-local, so identical to clustering the
    * old corpus alone) freezes history; full CC anchors each new doc's
    * adoption at its component's min-id OLD doc; conflicts = full
    * components whose old members straddle frozen splits.
    */
  val leakFreeSplitIncremental: String = {
    def g(key: String) =
      s"(${charHash(s"'graft-split::' || CAST($key AS VARCHAR)")} " +
        s"* 6364136223) % 1000000007 % 1000"
    def splitCase(key: String) = s"""CASE
           WHEN ${g(key)} < 300 THEN 'val'
           WHEN ${g(key)} < 600 THEN 'test'
           ELSE 'train' END"""
    s"""
    WITH RECURSIVE $docs9PairsBody,
    pold AS (
      SELECT a, b FROM verified
      WHERE a < (SELECT s FROM split) AND b < (SELECT s FROM split)
    ),
    eold AS (SELECT a, b FROM pold UNION SELECT b AS a, a AS b FROM pold),
    cco(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM eold
      UNION
      SELECT e.a AS doc_id, c.label FROM eold e JOIN cco c ON c.doc_id = e.b
    ),
    labo AS (SELECT doc_id, MIN(label) AS label FROM cco GROUP BY doc_id),
    oassign AS (
      SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS label,
             ${splitCase("COALESCE(l.label, d.doc_id)")} AS split
      FROM (SELECT doc_id FROM docs9
            WHERE doc_id < (SELECT s FROM split)) d
      LEFT JOIN labo l USING (doc_id)
    ),
    eall AS (
      SELECT a, b FROM verified UNION SELECT b AS a, a AS b FROM verified
    ),
    cca(doc_id, label) AS (
      SELECT DISTINCT a AS doc_id, a AS label FROM eall
      UNION
      SELECT e.a AS doc_id, c.label FROM eall e JOIN cca c ON c.doc_id = e.b
    ),
    laba AS (SELECT doc_id, MIN(label) AS label FROM cca GROUP BY doc_id),
    flab AS (
      SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS full_label
      FROM docs9 d LEFT JOIN laba l USING (doc_id)
    ),
    conf AS (
      SELECT f.full_label, COUNT(DISTINCT o.split) > 1 AS conflict
      FROM flab f JOIN oassign o USING (doc_id)
      GROUP BY f.full_label
    ),
    anchor AS (
      SELECT doc_id AS full_label, split AS anchor_split FROM oassign
    ),
    new_rows AS (
      SELECT f.doc_id, f.full_label AS label,
             COALESCE(a.anchor_split, ${splitCase("f.full_label")}) AS split,
             TRUE AS is_new,
             a.anchor_split IS NOT NULL AS adopted
      FROM flab f LEFT JOIN anchor a USING (full_label)
      WHERE f.doc_id >= (SELECT s FROM split)
    ),
    old_rows AS (
      SELECT doc_id, label, split, FALSE AS is_new, FALSE AS adopted
      FROM oassign
    ),
    rows0 AS (
      SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows
    )
    SELECT r.doc_id, r.label, r.split, r.is_new, r.adopted,
           COALESCE(c.conflict, FALSE) AS conflict
    FROM rows0 r
    JOIN flab f ON f.doc_id = r.doc_id
    LEFT JOIN conf c ON c.full_label = f.full_label
    ORDER BY r.doc_id
  """
  }

  /** One BPE round of the p31 oracle: from state t{r-1} (doc_id, toks),
    * count adjacent pairs, pick the (count desc, lhs, rhs) argmax
    * (b$r), and apply the merge with leftmost-first-with-consumption
    * semantics expressed declaratively: inside each maximal run of
    * consecutive pair-match positions (runs longer than 1 occur only
    * when lhs = rhs, e.g. "x x x x"), merges land at alternating
    * offsets from the run start — exactly what the Spark side's
    * sequential fold produces (equivalence pinned by PipelineSpec's
    * independent model).
    */
  private def bpeIter(r: Int): String = s"""p$r AS (
      SELECT t1, t2, COUNT(*) AS n
      FROM (
        SELECT toks[g.i] AS t1, toks[g.i + 1] AS t2
        FROM t${r - 1}, LATERAL (
          SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
      )
      GROUP BY t1, t2
    ),
    b$r AS MATERIALIZED (
      SELECT t1, t2, n FROM p$r ORDER BY n DESC, t1, t2 LIMIT 1),
    pos$r AS (
      SELECT doc_id, g.i AS i, toks[g.i] AS t,
             (toks[g.i] = (SELECT t1 FROM b$r)
              AND g.i < len(toks)
              AND toks[g.i + 1] = (SELECT t2 FROM b$r)) AS m
      FROM t${r - 1}, LATERAL (
        SELECT unnest(generate_series(1, len(toks))) AS i) g
    ),
    run$r AS (
      SELECT doc_id, i, t, m,
             CASE WHEN m THEN MIN(i) OVER (PARTITION BY doc_id, grp)
                  END AS rs
      FROM (
        SELECT doc_id, i, t, m,
               CASE WHEN m THEN i - ROW_NUMBER() OVER (
                 PARTITION BY doc_id, m ORDER BY i) END AS grp
        FROM pos$r)
    ),
    mk$r AS (
      SELECT doc_id, i, t,
             m AND ((i - rs) % 2 = 0) AS mrg,
             LAG(m AND ((i - rs) % 2 = 0)) OVER (
               PARTITION BY doc_id ORDER BY i) AS pmrg,
             LEAD(t) OVER (PARTITION BY doc_id ORDER BY i) AS nt
      FROM run$r
    ),
    t$r AS MATERIALIZED (
      SELECT doc_id, list(tok ORDER BY i) AS toks
      FROM (
        SELECT doc_id, i,
               CASE WHEN mrg THEN t || ' ' || nt
                    WHEN COALESCE(pmrg, FALSE) THEN NULL
                    ELSE t END AS tok
        FROM mk$r)
      WHERE tok IS NOT NULL
      GROUP BY doc_id
    )"""

  /** The shared p31/p32 chain: initial tokenization + the eight
    * unrolled BPE rounds.
    */
  private lazy val bpeChain: String = {
    val iters = (1 to 8).map(bpeIter).mkString(",\n    ")
    s"""t0 AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    $iters"""
  }

  /** p31 — BPE-style phrase-merge learning
    * (graft.pipeline.TextAnalysis.phraseMerges, 8 merges): eight
    * unrolled count → argmax → merge rounds over word tokens; the merge
    * table is the output. All counting exact BIGINT; string ops only.
    */
  lazy val phraseMerges: String = {
    val rows = (1 to 8)
      .map(r =>
        s"""SELECT CAST($r AS BIGINT) AS step, t1 AS lhs, t2 AS rhs,
           t1 || ' ' || t2 AS merged, n AS n_pairs FROM b$r""")
      .mkString("\n      UNION ALL\n      ")
    s"""
    WITH $bpeChain
    SELECT step, lhs, rhs, merged, n_pairs FROM (
      $rows
    )
    ORDER BY step
  """
  }

  /** p32 — phrase-merge compression report
    * (graft.pipeline.TextAnalysis.phraseCompression): the same eight
    * trained rounds; the final state t8 IS the merged corpus, so the
    * per-doc report is one join of initial vs final token counts.
    * Empty-token docs drop out of the round states (no positions) —
    * their count coalesces back to the initial 0.
    */
  lazy val phraseCompression: String = s"""
    WITH $bpeChain
    SELECT t0.doc_id,
           len(t0.toks) AS n_before,
           COALESCE(len(t8.toks), len(t0.toks)) AS n_after,
           len(t0.toks) - COALESCE(len(t8.toks), len(t0.toks)) AS n_merged
    FROM t0 LEFT JOIN t8 USING (doc_id)
    ORDER BY t0.doc_id
  """

  /** p32b — encode to token ids (graft.pipeline.TextAnalysis.tokenIds):
    * the same eight trained rounds; the final state t8 explodes to
    * (doc_id, pos, token), the vocabulary assigns dense ids by
    * (count DESC, token) — binary string order in both engines — and the
    * join replays the encoding. Empty-token docs have no positions on
    * either side.
    */
  lazy val tokenIds: String = s"""
    WITH $bpeChain,
    tok AS (
      SELECT doc_id, g.i AS pos, toks[g.i] AS w
      FROM t8, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    ),
    voc AS (SELECT w, COUNT(*) AS n_occ FROM tok GROUP BY w),
    ids AS (
      SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, w) AS BIGINT)
        AS token_id
      FROM voc
    )
    SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos, i.token_id
    FROM tok t JOIN ids i USING (w)
    ORDER BY t.doc_id, t.pos
  """

  /** p32c — tokenizer decode round trip
    * (graft.pipeline.TextAnalysis.decodeRoundtrip): decode ∘ encode over
    * the training corpus ≡ the whitespace-normalized document (split on
    * ' ', drop empties, single-space rejoin) — every training token is
    * in-vocab, and merged tokens are space-joined surface forms, so the
    * artifact round trip is the identity on normalized text. Documents
    * with no tokens produce no ids and are absent from both sides.
    */
  val decodeRoundtrip: String = """
    SELECT doc_id,
           array_to_string(
             list_filter(string_split(text, ' '), x -> x <> ''), ' '
           ) AS text
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ORDER BY doc_id
  """

  /** p12 — vocabulary heavy hitters (graft.pipeline.TextAnalysis
    * .vocabTopK, k=100): top words by occurrence with document
    * frequency; ties broken by word. Spark split / DuckDB string_split
    * agree on empty-segment behavior (both keep them; both sides filter
    * '' explicitly). */
  val vocabTopK: String = """
    SELECT word,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ) w
    WHERE word <> ''
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 100
  """

  /** p13 — text normalization (graft.pipeline.TextAnalysis.normalize):
    * lowercase + space-run collapse + trim, fingerprinted with the
    * portable polynomial hash. DuckDB regexp_replace needs the 'g' flag
    * to match Spark's replace-all default. */
  val normalize: String = {
    val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    s"""
    SELECT doc_id,
           ${charHash(norm)} AS norm_fp,
           CAST(length($norm) AS BIGINT) AS n_chars_norm,
           $norm <> text AS changed
    FROM documents
    ORDER BY doc_id
  """
  }

  val lengthHistogram: String = """
    SELECT lang,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang, bucket
    ORDER BY lang, bucket
  """

  val sourceQuality: String = s"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST($words AS BIGINT)) AS DOUBLE) / COUNT(*)
             AS avg_words,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(CAST(${occ(" the ", 5)} AS BIGINT)) AS BIGINT)
             AS total_the
    FROM documents
    GROUP BY source
    ORDER BY source
  """

  val corpusStats: String = s"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM($words) AS BIGINT) AS total_words,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
  """

  val dedupExact: String = """
    SELECT doc_id, canonical_id, in_dup_group,
           doc_id <> canonical_id AS is_dup
    FROM (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS in_dup_group
      FROM documents
    ) d
    ORDER BY doc_id
  """

  private val cos =
    """list_dot_product(qe, ee) /
       (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ee, ee)))"""

  val knnBruteForce: String = s"""
    SELECT qid, vec_id, rank, sim
    FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
               AS BIGINT) AS rank
      FROM (
        SELECT q.qid, e.vec_id, $cos AS sim
        FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id < 10) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee
              FROM embeddings) e
          ON e.vec_id <> q.qid
      ) s
    ) r
    WHERE rank <= 5
    ORDER BY qid, rank
  """

  val knnIvf: String = s"""
    SELECT qid, vec_id, rank, sim
    FROM (
      SELECT qid, vec_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
               AS BIGINT) AS rank
      FROM (
        SELECT q.qid, e.vec_id, $cos AS sim
        FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label
              FROM embeddings WHERE vec_id < 10) q
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee, label
              FROM embeddings) e
          ON e.vec_id <> q.qid AND e.label = q.label
      ) s
    ) r
    WHERE rank <= 5
    ORDER BY qid, rank
  """

  /** k12 — retrieval recall report (graft.pipeline.Similarity
    * .recallReport): each approximate family's top-k — the k2/k9/k4/k8
    * oracles verbatim, as parenthesized subqueries — LEFT-joined to the
    * exact brute-force top-k (k1's oracle). Counts are exact BIGINTs;
    * the one recall division runs from the same integers on both
    * engines.
    */
  lazy val knnRecallReport: String = s"""
    WITH brute AS (SELECT qid, vec_id FROM ($knnBruteForce) b0),
    approx AS (
      SELECT 'ivf' AS method, qid, vec_id FROM ($knnIvf) x1
      UNION ALL
      SELECT 'ivfpq' AS method, qid, vec_id FROM ($knnIvfPq) x2
      UNION ALL
      SELECT 'lsh' AS method, qid, vec_id FROM ($knnLsh) x3
      UNION ALL
      SELECT 'pq' AS method, qid, vec_id FROM ($knnPq) x4
    ),
    tot AS (SELECT COUNT(*) AS n_truth FROM brute)
    SELECT a.method,
           COUNT(DISTINCT a.qid) AS n_queries,
           COUNT(*) AS n_retrieved,
           COUNT(b.vec_id) AS n_hits,
           (SELECT n_truth FROM tot) AS n_truth,
           CAST(COUNT(b.vec_id) AS DOUBLE) / (SELECT n_truth FROM tot)
             AS recall
    FROM approx a
    LEFT JOIN brute b ON a.qid = b.qid AND a.vec_id = b.vec_id
    GROUP BY a.method
    ORDER BY a.method
  """

  /** d4's ground truth: EXACT all-pairs cosine per label over the SEEDED
    * corpus (graft.pipeline.Similarity.seededCorpus — each low-id vector
    * plus its ×2-scaled twin, cosine exactly 1.0). The LSH candidate
    * generator must recover every exact pair — a non-vacuous recall check
    * (the unseeded synthetic corpus has no pair above the threshold).
    */
  val embeddingNearDup: String = s"""
    WITH corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label,
             list_transform(CAST(embedding AS DOUBLE[]), v -> v * 2)
      FROM embeddings WHERE vec_id < 20
    )
    SELECT label, a, b, sim
    FROM (
      SELECT l.label, l.vec_id AS a, r.vec_id AS b,
             list_dot_product(l.e, r.e) /
             (sqrt(list_dot_product(l.e, l.e)) *
              sqrt(list_dot_product(r.e, r.e))) AS sim
      FROM corpus l
      JOIN corpus r ON l.label = r.label AND l.vec_id < r.vec_id
    ) s
    WHERE sim >= 0.99
    ORDER BY a, b
  """

  val mediaMeta: String = """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 640 AS INT) AS width,
           CAST(strlen(text) % 480 AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN strlen(text) % 250 ELSE 1 END
             AS INT) AS n_frames,
           CAST(CASE WHEN doc_id % 3 <> 0 THEN strlen(text) * 10 ELSE 0 END
             AS BIGINT) AS duration_ms
    FROM documents
    ORDER BY doc_id
  """

  val mediaKnn: String = """
    SELECT qid, doc_id, rank
    FROM (
      SELECT qid, doc_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id)
               AS BIGINT) AS rank
      FROM (
        SELECT q.qid, e.doc_id,
               list_dot_product(q.qe, e.ee) /
               (sqrt(list_dot_product(q.qe, q.qe)) *
                sqrt(list_dot_product(e.ee, e.ee))) AS sim
        FROM (SELECT doc_id AS qid,
                     list_transform(generate_series(1, 8),
                       k -> CAST((strlen(text) * k) % 97 + 1 AS DOUBLE)) AS qe
              FROM documents WHERE doc_id < 5) q
        JOIN (SELECT doc_id,
                     list_transform(generate_series(1, 8),
                       k -> CAST((strlen(text) * k) % 97 + 1 AS DOUBLE)) AS ee
              FROM documents) e
          ON e.doc_id <> q.qid
      ) s
    ) r
    WHERE rank <= 3
    ORDER BY qid, rank
  """

  /** m5 — binary content dedup (graft.pipeline.Multimodal.mediaDedup):
    * md5 over the payload bytes (the UTF-8 text — both engines hash the
    * same bytes and print lowercase hex), canonical = min doc_id within
    * (media_type, digest). */
  val mediaDedup: String = """
    SELECT doc_id, media_type, content_md5,
           MIN(doc_id) OVER (PARTITION BY media_type, content_md5)
             AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY media_type, content_md5)
             AS is_dup
    FROM (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             md5(text) AS content_md5
      FROM documents
    ) m
    ORDER BY doc_id
  """

  val frameSample: String = """
    SELECT doc_id, n_frames, frame_idx, frame_idx * 40 AS frame_ts_ms
    FROM (
      SELECT doc_id,
             CAST(strlen(text) % 250 AS INT) AS n_frames
      FROM documents
      WHERE doc_id % 3 = 2
    ) v,
    LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 25)) AS frame_idx) f
    WHERE n_frames > 0
    ORDER BY doc_id, frame_idx
  """

  val mediaStats: String = """
    SELECT media_type,
           COUNT(*) AS n,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MAX(n_bytes) AS max_bytes,
           CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms
    FROM (
      SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             CAST(CASE WHEN doc_id % 3 <> 0 THEN strlen(text) * 10 ELSE 0 END
               AS BIGINT) AS duration_ms
      FROM documents
    ) m
    GROUP BY media_type
    ORDER BY media_type
  """

  /** p15 — repetition signals (graft.pipeline.TextAnalysis.repetition).
    * DuckDB lists are 1-indexed; range(1, n) enumerates bigram starts and
    * is empty for n <= 1, mirroring the Spark side's size guard. Fractions
    * divide in DOUBLE on both engines (IEEE-identical). */
  val repetition: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    wg AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(w) AS word FROM ws) x
      GROUP BY doc_id, word
    ),
    wstat AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS distinct_words, MAX(c) AS top_word_count
      FROM wg GROUP BY doc_id
    ),
    bgg AS (
      SELECT doc_id, bg, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1])) AS bg
        FROM ws
      ) x
      GROUP BY doc_id, bg
    ),
    bstat AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             COUNT(*) AS distinct_bigrams, MAX(c) AS top_bigram_count
      FROM bgg GROUP BY doc_id
    )
    SELECT a.doc_id, n_words, distinct_words,
           1.0 - CAST(distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS dup_word_frac,
           CAST(top_word_count AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS top_word_frac,
           n_bigrams, distinct_bigrams,
           1.0 - CAST(distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS dup_bigram_frac,
           CAST(top_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS top_bigram_frac
    FROM wstat a JOIN bstat b ON a.doc_id = b.doc_id
    ORDER BY a.doc_id
  """

  /** d8 — semantic dedup drop-list (graft.pipeline.Similarity
    * .semanticDedup): exact all-pairs within-label cosine on the seeded
    * corpus, transitive closure by recursive min-label propagation,
    * non-keeper members emitted with their keeper. */
  val semanticDedup: String = """
    WITH RECURSIVE corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label,
             list_transform(CAST(embedding AS DOUBLE[]), v -> v * 2)
      FROM embeddings WHERE vec_id < 20
    ),
    pairs AS (
      SELECT a, b FROM (
        SELECT l.vec_id AS a, r.vec_id AS b,
               list_dot_product(l.e, r.e) /
               (sqrt(list_dot_product(l.e, l.e)) *
                sqrt(list_dot_product(r.e, r.e))) AS sim
        FROM corpus l
        JOIN corpus r ON l.label = r.label AND l.vec_id < r.vec_id
      ) s WHERE sim >= 0.99
    ),
    edges AS (
      SELECT a, b FROM pairs
      UNION
      SELECT b AS a, a AS b FROM pairs
    ),
    cc(vec_id, keeper) AS (
      SELECT DISTINCT a AS vec_id, a AS keeper FROM edges
      UNION
      SELECT e.a AS vec_id, c.keeper FROM edges e JOIN cc c ON c.vec_id = e.b
    )
    SELECT vec_id, MIN(keeper) AS keeper
    FROM cc
    GROUP BY vec_id
    HAVING vec_id <> MIN(keeper)
    ORDER BY vec_id
  """

  /** m6 — perceptual media near-dup (graft.pipeline.Multimodal
    * .mediaNearDup): the stub feature vectors (exact small integers from
    * strlen) on the seeded harness (×2-scaled twins for the 20 lowest
    * ids, media_type preserved), exact all-pairs within-media_type cosine
    * at the tight threshold (the stub space's parallel-only band — see
    * the operator doc), transitive closure by recursive min propagation,
    * non-keepers with their keeper. The LSH candidate generator must
    * recover every qualifying pair (parallel ⇒ same bucket), so the
    * all-pairs truth is the exact oracle of the bucketed plan.
    */
  val mediaNearDup: String = """
    WITH RECURSIVE feats AS (
      SELECT doc_id,
             list_transform(generate_series(1, 8),
               k -> CAST((strlen(text) * k) % 97 + 1 AS DOUBLE)) AS e,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS label
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, e, label FROM feats
      UNION ALL
      SELECT doc_id + 1000000, list_transform(e, v -> v * 2), label
      FROM feats WHERE doc_id < 20
    ),
    pairs AS (
      SELECT a, b FROM (
        SELECT l.doc_id AS a, r.doc_id AS b,
               list_dot_product(l.e, r.e) /
               (sqrt(list_dot_product(l.e, l.e)) *
                sqrt(list_dot_product(r.e, r.e))) AS sim
        FROM corpus l
        JOIN corpus r ON l.label = r.label AND l.doc_id < r.doc_id
      ) s WHERE sim >= 0.9999999
    ),
    edges AS (
      SELECT a, b FROM pairs
      UNION
      SELECT b AS a, a AS b FROM pairs
    ),
    cc(doc_id, keeper) AS (
      SELECT DISTINCT a AS doc_id, a AS keeper FROM edges
      UNION
      SELECT e.a AS doc_id, c.keeper FROM edges e JOIN cc c ON c.doc_id = e.b
    )
    SELECT doc_id, MIN(keeper) AS keeper
    FROM cc
    GROUP BY doc_id
    HAVING doc_id <> MIN(keeper)
    ORDER BY doc_id
  """

  /** p16 — PII scan (graft.pipeline.Pii): the seeded suffix and the four
    * patterns are replayed verbatim (Java-regex ∩ RE2 dialect; DuckDB
    * regexp_replace needs the 'g' flag to match Spark's replace-all). */
  val piiScan: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[A-Za-z0-9./_-]+"
    val phone = "555-[0-9]{4}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    s"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or admin@test.org today'
               WHEN 1 THEN ' see https://example.com/page/'
                 || CAST(doc_id AS VARCHAR) || ' and http://test.org/a'
               WHEN 2 THEN ' call 555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 || ' or 555-9999'
               WHEN 3 THEN ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.17 logged'
               ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '$url')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '$url', '<URL>', 'g'),
                 '$email', '<EMAIL>', 'g'),
               '$ip', '<IP>', 'g'),
             '$phone', '<PHONE>', 'g') AS redacted
    FROM seeded
    ORDER BY doc_id
  """
  }

  /** Shared d10-grain windowing CTEs (ws → wins → pdw → pw): ONE copy of
    * the tokenization / L=10 window / collapse / distinct-doc-count
    * derivation, interpolated by both the d10 oracle and p27's span leg
    * so the two can never drift (the Spark side composes the same way —
    * dedupReport CALLS dupSpans).
    */
  private val spanMassCtes: String = """ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    wins AS (
      SELECT doc_id, array_to_string(w[g.i:g.i+9], ' ') AS win
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 9)) AS i) g
      WHERE len(w) >= 10
    ),
    pdw AS (
      SELECT doc_id, win, COUNT(*) AS c FROM wins GROUP BY doc_id, win
    ),
    pw AS (
      SELECT win, COUNT(*) AS nd FROM pdw GROUP BY win
    )"""

  // d10 — duplicate-span mass. Same tokenization as the Spark side (space
  // split, empties filtered); DuckDB list slices are 1-based inclusive like
  // Spark's `slice(ws, i, L)` starting at i=1. nd counts rows at
  // (doc, win) grain = distinct docs containing the window.
  val dupSpans: String = s"""
    WITH $spanMassCtes
    SELECT pdw.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_windows,
           COUNT(*) AS distinct_windows,
           CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS dup_positions,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_distinct,
           CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS dup_frac
    FROM pdw JOIN pw USING (win)
    GROUP BY pdw.doc_id
    ORDER BY pdw.doc_id
  """

  /** d12 — duplicate-span removal (graft.pipeline.Dedup.removeDupSpans,
    * L = 10). Same tokenization and window grain as d10; a position is
    * removed iff any of the ≤ L windows containing it is a dup window
    * (≥ 2 distinct docs), i.e. a windowed MAX of the start flag over
    * ROWS 9 PRECEDING; the cleaned text is the ordered string_agg of the
    * surviving words. Docs shorter than 10 words pass through verbatim.
    */
  val removeDupSpans: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    wins AS (
      SELECT doc_id, g.i AS i, array_to_string(w[g.i:g.i+9], ' ') AS win
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 9)) AS i) g
      WHERE len(w) >= 10
    ),
    pdw AS (
      SELECT doc_id, win, list(i) AS starts FROM wins GROUP BY doc_id, win
    ),
    pw AS (
      SELECT win, COUNT(*) AS nd FROM pdw GROUP BY win
    ),
    dupstart AS (
      SELECT doc_id, unnest(starts) AS i
      FROM pdw JOIN pw USING (win) WHERE nd >= 2
    ),
    words AS (
      SELECT doc_id, g.p AS p, w[g.p] AS word, len(w) AS n
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w))) AS p) g
      WHERE len(w) >= 1
    ),
    flags AS (
      SELECT wd.doc_id, wd.p, wd.word, wd.n,
             CASE WHEN ds.i IS NOT NULL THEN 1 ELSE 0 END AS s
      FROM words wd LEFT JOIN dupstart ds
        ON ds.doc_id = wd.doc_id AND ds.i = wd.p
    ),
    cov AS (
      SELECT doc_id, p, word, n,
             MAX(s) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS covered
      FROM flags
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_words,
           CAST(SUM(covered) AS BIGINT) AS n_removed,
           COALESCE(
             string_agg(CASE WHEN covered = 0 THEN word END, ' ' ORDER BY p),
             '') AS cleaned_text
    FROM cov
    GROUP BY doc_id
    ORDER BY doc_id
  """

  /** p27 — per-source dedup audit report (graft.pipeline.Dedup
    * .dedupReport): d1's exact-dup grain and d10's span grain rolled up
    * to `source`, exact-integer aggregates, one IEEE division per row.
    */
  val dedupReport: String = s"""
    WITH ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) <> doc_id AS is_dup,
             COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS in_dup_group
      FROM documents
    ),
    exs AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dups,
             CAST(SUM(CASE WHEN in_dup_group THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_dup_groups
      FROM ex JOIN documents USING (doc_id)
      GROUP BY source
    ),
    $spanMassCtes,
    spans AS (
      SELECT pdw.doc_id,
             CAST(SUM(c) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_positions
      FROM pdw JOIN pw USING (win)
      GROUP BY pdw.doc_id
    ),
    sps AS (
      SELECT source,
             CAST(SUM(n_windows) AS BIGINT) AS span_windows,
             CAST(SUM(dup_positions) AS BIGINT) AS span_dup_positions
      FROM spans JOIN documents USING (doc_id)
      GROUP BY source
    )
    SELECT exs.source, n_docs, n_exact_dups, n_in_dup_groups,
           COALESCE(span_windows, 0) AS span_windows,
           COALESCE(span_dup_positions, 0) AS span_dup_positions,
           CAST(COALESCE(span_dup_positions, 0) AS DOUBLE) /
             CAST(GREATEST(COALESCE(span_windows, 0), 1) AS DOUBLE)
             AS span_dup_frac
    FROM exs LEFT JOIN sps ON exs.source = sps.source
    ORDER BY exs.source
  """

  /** d13 — within-doc self-repetition removal (graft.pipeline.Dedup
    * .removeRepeatedSpans, L = 3, keep-first). Same tokenization and
    * coverage machinery as d12, but the dup decision is doc-local:
    * repeat starts are every sorted start after the first of a window
    * occurring ≥ 2 times in the SAME document.
    */
  val removeRepeatedSpans: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    wins AS (
      SELECT doc_id, g.i AS i, array_to_string(w[g.i:g.i+2], ' ') AS win
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
    ),
    pdw AS (
      SELECT doc_id, list_sort(list(i)) AS starts
      FROM wins GROUP BY doc_id, win
      HAVING COUNT(*) >= 2
    ),
    dupstart AS (
      SELECT doc_id, unnest(starts[2:]) AS i FROM pdw
    ),
    words AS (
      SELECT doc_id, g.p AS p, w[g.p] AS word, len(w) AS n
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w))) AS p) g
      WHERE len(w) >= 1
    ),
    flags AS (
      SELECT wd.doc_id, wd.p, wd.word, wd.n,
             CASE WHEN ds.i IS NOT NULL THEN 1 ELSE 0 END AS s
      FROM words wd LEFT JOIN dupstart ds
        ON ds.doc_id = wd.doc_id AND ds.i = wd.p
    ),
    cov AS (
      SELECT doc_id, p, word, n,
             MAX(s) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
      FROM flags
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_words,
           CAST(SUM(covered) AS BIGINT) AS n_removed,
           COALESCE(
             string_agg(CASE WHEN covered = 0 THEN word END, ' ' ORDER BY p),
             '') AS cleaned_text
    FROM cov
    GROUP BY doc_id
    ORDER BY doc_id
  """

  /** p26 — target-affinity selection (graft.pipeline.Sampling
    * .targetAffinity, target source 'src18', 8192 buckets, top 100).
    * Integer-exact DSIR surrogate: per-bucket weight
    * (10⁶·(t_cnt+1)) // (r_cnt+1), doc score = sum of its tokens'
    * bucket weights, ranked by length-normalized integer average.
    */
  val targetAffinity: String = s"""
    WITH wsh AS (
      SELECT doc_id, source,
             list_transform(
               list_filter(string_split(text, ' '), x -> x <> ''),
               w -> ${charHash("w")}) AS wh
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, g.h % 8192 AS b
      FROM wsh, LATERAL (
        SELECT unnest(list_concat(wh,
          list_transform(generate_series(1, len(wh) - 1),
            i -> (wh[i] * 31 + wh[i + 1]) % 1000000007))) AS h) g
    ),
    profile AS (
      SELECT b, COUNT(*) AS r_cnt,
             CAST(SUM(CASE WHEN source = 'src18' THEN 1 ELSE 0 END)
               AS BIGINT) AS t_cnt
      FROM toks GROUP BY b
    ),
    wgt AS (
      SELECT b, CAST((1000000 * (t_cnt + 1)) // (r_cnt + 1) AS BIGINT)
               AS wgt
      FROM profile
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(wgt) AS BIGINT) AS score
      FROM toks JOIN wgt USING (b)
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score,
           CAST(score // n_tokens AS BIGINT) AS avg_w
    FROM scored
    ORDER BY avg_w DESC, doc_id
    LIMIT 100
  """

  /** p33 — integer tf-idf top-k retrieval through the inverted index
    * (graft.pipeline.Retrieval.keywordTopK, 5 queries, k=5): postings at
    * the standard whitespace word grain, idf as the exact surrogate
    * (N·10⁶) // df, score = Σ tf·idf_ppm over shared terms, ties to
    * doc_id.
    */
  val keywordTopK: String = """
    WITH toks AS (
      SELECT doc_id, g.w AS w
      FROM documents, LATERAL (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
          AS w) g
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    qt AS (
      SELECT t.doc_id AS qid, t.w,
             (SELECT n_docs FROM n) * 1000000 // d.df AS idf_ppm
      FROM tf t JOIN df d USING (w)
      WHERE t.doc_id < 5
    ),
    sc AS (
      SELECT q.qid, t.doc_id, SUM(t.tf * q.idf_ppm) AS score
      FROM tf t JOIN qt q ON t.w = q.w
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p36 — hybrid retrieval (graft.pipeline.Retrieval.hybridTopK):
    * reciprocal-rank fusion of the p33 lexical leg (top-20 tf-idf per
    * query, its oracle's shape at poolK=20) with the k2 dense leg
    * (top-20 label-bucket cosine). Fused score = Σ 10⁶ // (60 + rank);
    * only integer RANKS cross the fusion, so the whole op is BIGINT.
    */
  lazy val hybridTopK: String = s"""
    WITH toks AS (
      SELECT doc_id, g.w AS w
      FROM documents, LATERAL (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
          AS w) g
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    qt AS (
      SELECT t.doc_id AS qid, t.w,
             (SELECT n_docs FROM n) * 1000000 // d.df AS idf_ppm
      FROM tf t JOIN df d USING (w)
      WHERE t.doc_id < 5
    ),
    lexsc AS (
      SELECT q.qid, t.doc_id, SUM(t.tf * q.idf_ppm) AS score
      FROM tf t JOIN qt q ON t.w = q.w
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    lex AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM lexsc
      ) r WHERE rnk <= 20
    ),
    dens AS (
      SELECT qid, vec_id AS doc_id, rnk FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM (
          SELECT q.qid, e.vec_id, $cos AS sim
          FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
                       label
                FROM embeddings WHERE vec_id < 5) q
          JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee, label
                FROM embeddings) e
            ON e.vec_id <> q.qid AND e.label = q.label
        ) s
      ) r WHERE rnk <= 20
    ),
    legs AS (
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM lex
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM dens
    ),
    fused AS (
      SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_legs
      FROM legs GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, rrf_ppm, n_legs
    FROM (
      SELECT qid, doc_id, rrf_ppm, n_legs,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM fused
    ) f WHERE rnk <= 10
    ORDER BY qid, rnk
  """

  /** p33c — BM25 top-k (graft.pipeline.Retrieval.bm25TopK, 5 queries,
    * k=5): Robertson–Spärck Jones saturation + length normalization in
    * exact ppm integers (k1 = 1.2, b = 0.75):
    * idf_ppm = ((2·(N−df)+1)·10⁶) // (2·df+1),
    * norm_ppm = 250000 + (750000·dl·N) // total_tokens,
    * sat_ppm = (tf·2200000·10⁶) // (tf·10⁶ + (1200000·norm) // 10⁶),
    * per-term score (idf·sat) // 10⁶ summed. The term-grain integer
    * division happens BEFORE the sum, matching the engine exactly.
    */
  val bm25TopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qt AS (
      SELECT t.doc_id AS qid, t.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33m — snippets (graft.pipeline.Retrieval.snippetTopK, nQueries=5,
    * k=5, window=4): the p33c BM25 top-k hits, each with the 9-token
    * window starting at max(1, anchor−4), anchor = the MIN position of
    * any query term in the hit doc. The window is slice-from-start
    * semantics in both engines (start clamped to 1, fixed 2w+1 length,
    * short only at the doc's end).
    */
  // anchor = the BEST window (densest ±4 matched positions, earliest on
  // ties) — the round-15 Lucene-highlighter upgrade; the first-match
  // anchor is the all-ties degenerate case
  val snippetTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qt AS (
      SELECT t.doc_id AS qid, t.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ),
    hits AS (SELECT qid, doc_id, rnk FROM r WHERE rnk <= 5),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
      WHERE doc_id IN (SELECT doc_id FROM hits)
    ),
    mp AS (
      SELECT h.qid, h.doc_id, p.pos
      FROM hits h
      JOIN pos p ON p.doc_id = h.doc_id
      JOIN qt q ON q.qid = h.qid AND q.w1 = p.w1
    ),
    acand AS (
      SELECT a.qid, a.doc_id, a.pos, COUNT(*) AS cnt
      FROM mp a JOIN mp b ON b.qid = a.qid AND b.doc_id = a.doc_id
        AND b.pos BETWEEN a.pos - 4 AND a.pos + 4
      GROUP BY a.qid, a.doc_id, a.pos
    ),
    anch AS (
      SELECT qid, doc_id, CAST(pos AS BIGINT) AS anchor FROM (
        SELECT qid, doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY qid, doc_id
                                  ORDER BY cnt DESC, pos) AS rn
        FROM acand) z WHERE rn = 1
    )
    SELECT a.qid, a.doc_id, CAST(h.rnk AS BIGINT) AS rank, a.anchor,
           array_to_string(
             ws.w[GREATEST(a.anchor - 4, 1) : GREATEST(a.anchor - 4, 1) + 8],
             ' ') AS snippet
    FROM anch a
    JOIN hits h ON h.qid = a.qid AND h.doc_id = a.doc_id
    JOIN ws ON ws.doc_id = a.doc_id
    ORDER BY a.qid, rank
  """

  /** p33n — facet counts over the full match set
    * (graft.pipeline.Retrieval.facetCounts, facet=lang, nQueries=5,
    * qLen=3): the p33i boolean-AND gate (no top-k cut — facets
    * summarize the whole result set) joined to the documents table's
    * facet column and counted per (query, value).
    */
  val facetCounts: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, g.t
    ),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    qsel AS (
      SELECT qid, w1 FROM (
        SELECT doc_id AS qid, w1,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY minp) AS rn
        FROM (SELECT doc_id, w1, MIN(pos) AS minp FROM pos
              WHERE doc_id < 5 GROUP BY doc_id, w1) f
      ) r WHERE rn <= 3
    ),
    nt AS (SELECT qid, COUNT(DISTINCT w1) AS nt FROM qsel GROUP BY qid),
    m AS (
      SELECT q.qid, t.doc_id, COUNT(DISTINCT t.w1) AS nm
      FROM tf t JOIN qsel q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    gate AS (
      SELECT m.qid, m.doc_id FROM m JOIN nt USING (qid) WHERE m.nm = nt.nt
    )
    SELECT g.qid, d.lang, COUNT(*) AS n_docs
    FROM gate g JOIN documents d ON d.doc_id = g.doc_id
    GROUP BY g.qid, d.lang
    ORDER BY g.qid, d.lang
  """

  /** p33e — exact-phrase retrieval (graft.pipeline.Retrieval.phraseTopK,
    * nQueries=5, phraseLen=3, k=5): each query doc's first 3 tokens as
    * the phrase; documents match at anchor p when phrase slot j sits at
    * position p+j for every j (positions 1-based over the empty-filtered
    * split); matches are BM25-scored on the phrase terms with p33c's ppm
    * arithmetic. p33f (the stored positional-index lifecycle) carries the
    * same oracle by the indexed ≡ inline law (RetrievalIndexSpec).
    */
  val phraseTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    phrase AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 5 AND pos <= 3
    ),
    plen AS (SELECT qid, COUNT(*) AS plen FROM phrase GROUP BY qid),
    anch AS (
      SELECT ph.qid, p.doc_id, p.pos - ph.j AS anchor,
             COUNT(DISTINCT ph.j) AS nj
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1
      WHERE p.doc_id <> ph.qid
      GROUP BY ph.qid, p.doc_id, p.pos - ph.j
    ),
    occ AS (
      SELECT a.qid, a.doc_id, COUNT(*) AS n_occurrences
      FROM anch a JOIN plen l ON a.qid = l.qid
      WHERE a.nj = l.plen
      GROUP BY a.qid, a.doc_id
    ),
    qt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT o.qid, o.doc_id, o.n_occurrences, s.score,
             ROW_NUMBER() OVER (PARTITION BY o.qid
                                ORDER BY s.score DESC, o.doc_id) AS rnk
      FROM occ o JOIN sc s ON o.qid = s.qid AND o.doc_id = s.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33u — PHRASE-PREFIX retrieval
    * (graft.pipeline.Retrieval.phrasePrefixTopK, nQueries=10,
    * phraseLen=3, prefixLen=1, k=5, maxExpansions=64 — round-16 widened
    * fixture): the query doc's first 2 tokens exactly, immediately
    * followed by ANY dictionary term carrying the
    * first character of token 3 (capped expansion, term order) — the
    * search-as-you-type query (Lucene MatchPhrasePrefixQuery). Gate =
    * every SLOT matched at a common anchor (COUNT(DISTINCT j), so any
    * expansion completes slot 3); score = the p33e BM25 ppm over the
    * query's terms, expansions included. p33u2 (the stored lifecycle —
    * expansion over the sorted dict member) carries the same oracle by
    * the indexed ≡ inline law.
    */
  val phrasePrefixTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    exacts AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 10 AND pos < 3
    ),
    pfx AS (
      SELECT doc_id AS qid, substr(w1, 1, 1) AS pfx FROM pos
      WHERE doc_id < 10 AND pos = 3
    ),
    lastslot AS (
      SELECT qid, 3 AS j, w1 FROM (
        SELECT p.qid, t.w1,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY t.w1) AS rn
        FROM pfx p JOIN (SELECT DISTINCT w1 FROM tf) t
          ON starts_with(t.w1, p.pfx)
      ) e WHERE rn <= 64
    ),
    phrase AS (
      SELECT qid, j, w1 FROM exacts
      UNION ALL
      SELECT qid, j, w1 FROM lastslot
    ),
    plen AS (SELECT qid, COUNT(DISTINCT j) AS plen FROM phrase GROUP BY qid),
    anch AS (
      SELECT ph.qid, p.doc_id, p.pos - ph.j AS anchor,
             COUNT(DISTINCT ph.j) AS nj
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1
      WHERE p.doc_id <> ph.qid
      GROUP BY ph.qid, p.doc_id, p.pos - ph.j
    ),
    occ AS (
      SELECT a.qid, a.doc_id, COUNT(*) AS n_occurrences
      FROM anch a JOIN plen l ON a.qid = l.qid
      WHERE a.nj = l.plen
      GROUP BY a.qid, a.doc_id
    ),
    qt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT o.qid, o.doc_id, o.n_occurrences, s.score,
             ROW_NUMBER() OVER (PARTITION BY o.qid
                                ORDER BY s.score DESC, o.doc_id) AS rnk
      FROM occ o JOIN sc s ON o.qid = s.qid AND o.doc_id = s.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33g — ordered-proximity retrieval
    * (graft.pipeline.Retrieval.proximityTopK, nQueries=5, phraseLen=3,
    * k=5, window=8): documents where the phrase terms occur in order
    * within an 8-token span (p1 < p2 < p3 < p1 + 8), window-tuple count
    * per doc, BM25-scored on the phrase terms. Fixed three slots — the
    * registered protocol's phraseLen; the Spark side chains generically.
    * p33h (the stored positional-index lifecycle) carries the same
    * oracle by the indexed ≡ inline law.
    */
  val proximityTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    phrase AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 5 AND pos <= 3
    ),
    m1 AS (
      SELECT ph.qid, p.doc_id, p.pos AS p1
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1 AND ph.j = 1
      WHERE p.doc_id <> ph.qid
    ),
    m2 AS (
      SELECT m1.qid, m1.doc_id, m1.p1, p.pos AS p2
      FROM m1
      JOIN phrase ph ON ph.qid = m1.qid AND ph.j = 2
      JOIN pos p ON p.doc_id = m1.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m1.p1 AND p.pos < m1.p1 + 8
    ),
    m3 AS (
      SELECT m2.qid, m2.doc_id
      FROM m2
      JOIN phrase ph ON ph.qid = m2.qid AND ph.j = 3
      JOIN pos p ON p.doc_id = m2.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m2.p2 AND p.pos < m2.p1 + 8
    ),
    occ AS (
      SELECT qid, doc_id, COUNT(*) AS n_windows
      FROM m3 GROUP BY qid, doc_id
    ),
    qt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT o.qid, o.doc_id, o.n_windows, s.score,
             ROW_NUMBER() OVER (PARTITION BY o.qid
                                ORDER BY s.score DESC, o.doc_id) AS rnk
      FROM occ o JOIN sc s ON o.qid = s.qid AND o.doc_id = s.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score,
           CAST(n_windows AS BIGINT) AS n_windows
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p33w — UNORDERED-proximity retrieval
    * (graft.pipeline.Retrieval.unorderedProximityTopK, nQueries=5,
    * phraseLen=3, k=5, window=8 — Indri's #uw8): a match assigns each
    * phrase slot a DISTINCT position of its term, any order, spread
    * max − min < 8; every ordered p33g tuple qualifies (the containment
    * law). Ranking is the p33g BM25 arithmetic verbatim. p33w2 (the
    * stored positional lifecycle) carries the same oracle by the
    * indexed ≡ inline law.
    */
  val unorderedProximityTopK: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    phrase AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 5 AND pos <= 3
    ),
    m1 AS (
      SELECT ph.qid, p.doc_id, p.pos AS p1
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1 AND ph.j = 1
      WHERE p.doc_id <> ph.qid
    ),
    m2 AS (
      SELECT m1.qid, m1.doc_id, m1.p1, p.pos AS p2
      FROM m1
      JOIN phrase ph ON ph.qid = m1.qid AND ph.j = 2
      JOIN pos p ON p.doc_id = m1.doc_id AND p.w1 = ph.w1
      WHERE p.pos <> m1.p1
        AND greatest(m1.p1, p.pos) - least(m1.p1, p.pos) < 8
    ),
    m3 AS (
      SELECT m2.qid, m2.doc_id
      FROM m2
      JOIN phrase ph ON ph.qid = m2.qid AND ph.j = 3
      JOIN pos p ON p.doc_id = m2.doc_id AND p.w1 = ph.w1
      WHERE p.pos <> m2.p1 AND p.pos <> m2.p2
        AND greatest(m2.p1, m2.p2, p.pos)
              - least(m2.p1, m2.p2, p.pos) < 8
    ),
    occ AS (
      SELECT qid, doc_id, COUNT(*) AS n_windows
      FROM m3 GROUP BY qid, doc_id
    ),
    qt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    r AS (
      SELECT o.qid, o.doc_id, o.n_windows, s.score,
             ROW_NUMBER() OVER (PARTITION BY o.qid
                                ORDER BY s.score DESC, o.doc_id) AS rnk
      FROM occ o JOIN sc s ON o.qid = s.qid AND o.doc_id = s.doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank,
           CAST(score AS BIGINT) AS score,
           CAST(n_windows AS BIGINT) AS n_windows
    FROM r WHERE rnk <= 5
    ORDER BY qid, rnk
  """

  /** p36b — hybrid retrieval with the BM25 lexical leg
    * (graft.pipeline.Retrieval.hybridBm25TopK): the p36 fusion verbatim
    * with the lexical pool ranked by BM25 (p33c's arithmetic at poolK=20)
    * instead of tf-idf.
    */
  lazy val hybridBm25TopK: String = s"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qt AS (
      SELECT t.doc_id AS qid, t.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    lexsc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    lex AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM lexsc
      ) r WHERE rnk <= 20
    ),
    dens AS (
      SELECT qid, vec_id AS doc_id, rnk FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM (
          SELECT q.qid, e.vec_id, $cos AS sim
          FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
                       label
                FROM embeddings WHERE vec_id < 5) q
          JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee, label
                FROM embeddings) e
            ON e.vec_id <> q.qid AND e.label = q.label
        ) s
      ) r WHERE rnk <= 20
    ),
    legs AS (
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM lex
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM dens
    ),
    fused AS (
      SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_legs
      FROM legs GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, rrf_ppm, n_legs
    FROM (
      SELECT qid, doc_id, rrf_ppm, n_legs,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM fused
    ) f WHERE rnk <= 10
    ORDER BY qid, rnk
  """

  /** p36c — three-leg hybrid retrieval
    * (graft.pipeline.Retrieval.hybridProximityTopK): the p36b fusion
    * plus the ordered-proximity leg (p33g's pool at 20) — RRF over
    * integer ranks, n_legs up to 3.
    */
  lazy val hybridProximityTopK: String = s"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qt AS (
      SELECT t.doc_id AS qid, t.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    lexsc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    lex AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM lexsc
      ) r WHERE rnk <= 20
    ),
    dens AS (
      SELECT qid, vec_id AS doc_id, rnk FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM (
          SELECT q.qid, e.vec_id, $cos AS sim
          FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
                       label
                FROM embeddings WHERE vec_id < 5) q
          JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee, label
                FROM embeddings) e
            ON e.vec_id <> q.qid AND e.label = q.label
        ) s
      ) r WHERE rnk <= 20
    ),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    phrase AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 5 AND pos <= 3
    ),
    m1 AS (
      SELECT ph.qid, p.doc_id, p.pos AS p1
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1 AND ph.j = 1
      WHERE p.doc_id <> ph.qid
    ),
    m2 AS (
      SELECT m1.qid, m1.doc_id, m1.p1, p.pos AS p2
      FROM m1
      JOIN phrase ph ON ph.qid = m1.qid AND ph.j = 2
      JOIN pos p ON p.doc_id = m1.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m1.p1 AND p.pos < m1.p1 + 8
    ),
    m3 AS (
      SELECT m2.qid, m2.doc_id
      FROM m2
      JOIN phrase ph ON ph.qid = m2.qid AND ph.j = 3
      JOIN pos p ON p.doc_id = m2.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m2.p2 AND p.pos < m2.p1 + 8
    ),
    occ AS (
      SELECT qid, doc_id FROM m3 GROUP BY qid, doc_id
    ),
    pqt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    proxsc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN pqt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    prox AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT o.qid, o.doc_id,
               ROW_NUMBER() OVER (PARTITION BY o.qid
                                  ORDER BY s.score DESC, o.doc_id) AS rnk
        FROM occ o JOIN proxsc s ON o.qid = s.qid AND o.doc_id = s.doc_id
      ) r WHERE rnk <= 20
    ),
    legs AS (
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM lex
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM dens
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM prox
    ),
    fused AS (
      SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_legs
      FROM legs GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, rrf_ppm, n_legs
    FROM (
      SELECT qid, doc_id, rrf_ppm, n_legs,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM fused
    ) f WHERE rnk <= 10
    ORDER BY qid, rnk
  """

  /** p36d — hybrid retrieval through the PERSISTED stores
    * (graft.pipeline.Retrieval.hybridStoredLifecycle): the p36c fusion
    * with its dense leg replaced by the k10 stored-index lifecycle chain
    * ([[indexLifecyclePool]] at nQueries=5, pool 20 — train on the
    * initial 3/4, frozen-quantizer assignment, nprobe=2 search). The
    * lexical and proximity legs replay the inline arithmetic their stored
    * forms are row-identical to (RetrievalIndexSpec laws); the dense leg
    * replays knnIvfIndexedExactOf's (IndexStoreSpec law) — so this SQL is
    * the three-store production query end to end.
    */
  private def hybridStoredSql(
      lexFilter: String, // extra predicate on lexical candidates (t.doc_id)
      densExtra: String, // candExtra for the dense leg's lifecycle pool
      proxFilter: String, // extra predicate on proximity slot-1 (p.doc_id)
      densNprobeSql: Option[String] = None // p36f: the dense leg's
      //   selectivity-adaptive probe width (the engine's default since
      //   adaptiveNprobe flipped to true)
  ): String = s"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS dl, g.t AS w1, COUNT(*) AS tf
      FROM ws, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY doc_id, len(w), g.t
    ),
    n AS (
      SELECT COUNT(*) AS n_docs, COALESCE(SUM(len(w)), 0) AS total_tokens
      FROM ws
    ),
    df AS (SELECT w1, COUNT(*) AS df FROM tf GROUP BY w1),
    qt AS (
      SELECT t.doc_id AS qid, t.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM tf t JOIN df d USING (w1)
      WHERE t.doc_id < 5
    ),
    lexsc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN qt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid $lexFilter
      GROUP BY q.qid, t.doc_id
    ),
    lex AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM lexsc
      ) r WHERE rnk <= 20
    ),
    dens AS (
      SELECT qid, vec_id AS doc_id, rnk
      FROM (${indexLifecyclePool(5, 2, 20, densExtra, densNprobeSql)}) dl
    ),
    pos AS (
      SELECT doc_id, g.i AS pos, w[g.i] AS w1
      FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
    ),
    phrase AS (
      SELECT doc_id AS qid, pos AS j, w1 FROM pos
      WHERE doc_id < 5 AND pos <= 3
    ),
    m1 AS (
      SELECT ph.qid, p.doc_id, p.pos AS p1
      FROM pos p JOIN phrase ph ON p.w1 = ph.w1 AND ph.j = 1
      WHERE p.doc_id <> ph.qid $proxFilter
    ),
    m2 AS (
      SELECT m1.qid, m1.doc_id, m1.p1, p.pos AS p2
      FROM m1
      JOIN phrase ph ON ph.qid = m1.qid AND ph.j = 2
      JOIN pos p ON p.doc_id = m1.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m1.p1 AND p.pos < m1.p1 + 8
    ),
    m3 AS (
      SELECT m2.qid, m2.doc_id
      FROM m2
      JOIN phrase ph ON ph.qid = m2.qid AND ph.j = 3
      JOIN pos p ON p.doc_id = m2.doc_id AND p.w1 = ph.w1
      WHERE p.pos > m2.p2 AND p.pos < m2.p1 + 8
    ),
    occ AS (
      SELECT qid, doc_id FROM m3 GROUP BY qid, doc_id
    ),
    pqt AS (
      SELECT DISTINCT ph.qid, ph.w1,
             ((2 * ((SELECT n_docs FROM n) - d.df) + 1) * 1000000)
               // (2 * d.df + 1) AS idf_ppm
      FROM phrase ph JOIN df d USING (w1)
    ),
    proxsc AS (
      SELECT q.qid, t.doc_id,
             SUM(q.idf_ppm * ((t.tf * 2200000 * 1000000) //
                 (t.tf * 1000000 +
                  (1200000 * (250000 +
                   (750000 * t.dl * (SELECT n_docs FROM n))
                     // (SELECT total_tokens FROM n))) // 1000000))
                 // 1000000) AS score
      FROM tf t JOIN pqt q ON t.w1 = q.w1
      WHERE t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    prox AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT o.qid, o.doc_id,
               ROW_NUMBER() OVER (PARTITION BY o.qid
                                  ORDER BY s.score DESC, o.doc_id) AS rnk
        FROM occ o JOIN proxsc s ON o.qid = s.qid AND o.doc_id = s.doc_id
      ) r WHERE rnk <= 20
    ),
    legs AS (
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM lex
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM dens
      UNION ALL
      SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM prox
    ),
    fused AS (
      SELECT qid, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_legs
      FROM legs GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank, rrf_ppm, n_legs
    FROM (
      SELECT qid, doc_id, rrf_ppm, n_legs,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM fused
    ) f WHERE rnk <= 10
    ORDER BY qid, rnk
  """

  lazy val hybridStoredTopK: String = hybridStoredSql("", "", "")

  /** p36f — the FILTERED production query
    * (graft.pipeline.Retrieval.hybridStoredFilteredLifecycle): the p36d
    * chain with every leg's candidates restricted to the English
    * documents BEFORE ranking (exact pre-filter semantics); df/N and the
    * quantizer stay corpus-grain (Lucene filter-query semantics, mirrored
    * by the engine); the dense leg's probe width is selectivity-adaptive
    * (the engine's default — graded here, not just in k17).
    */
  lazy val hybridStoredFiltered: String = hybridStoredSql(
    "AND t.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    "AND a.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    "AND p.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    // the dense leg's probe widens with the filter's selectivity — the
    // engine's adaptiveNprobe default since round 15 (the k17 law)
    densNprobeSql = Some(adaptiveNprobeSql(2))
  )


  /** p34 — per-source distribution drift vs the frozen history profile
    * (graft.pipeline.Sampling.driftReport): p26's hashed unigram∪bigram
    * feature space verbatim, old 80% of doc_ids as the reference, per
    * (source, bucket) ppm deltas over the union lattice, TV = Σ|Δ| // 2.
    */
  val driftReport: String = s"""
    WITH split AS (
      SELECT (MAX(doc_id) + 1) * 4 // 5 AS s FROM documents
    ),
    wsh AS (
      SELECT doc_id, source,
             list_transform(
               list_filter(string_split(text, ' '), x -> x <> ''),
               w -> ${charHash("w")}) AS wh
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, g.h % 8192 AS b
      FROM wsh, LATERAL (
        SELECT unnest(list_concat(wh,
          list_transform(generate_series(1, len(wh) - 1),
            i -> (wh[i] * 31 + wh[i + 1]) % 1000000007))) AS h) g
    ),
    ref AS (
      SELECT b, COUNT(*) AS o_cnt FROM toks
      WHERE doc_id < (SELECT s FROM split) GROUP BY b
    ),
    reft AS (SELECT SUM(o_cnt) AS o_tot FROM ref),
    refppm AS (
      SELECT b, CAST(o_cnt * 1000000 // (SELECT o_tot FROM reft) AS BIGINT)
               AS o_ppm
      FROM ref
    ),
    ncnt AS (
      SELECT source, b, COUNT(*) AS n_cnt FROM toks
      WHERE doc_id >= (SELECT s FROM split) GROUP BY source, b
    ),
    ntot AS (
      SELECT source, CAST(SUM(n_cnt) AS BIGINT) AS n_tot
      FROM ncnt GROUP BY source
    ),
    lattice AS (
      SELECT source, b FROM ncnt
      UNION
      SELECT t.source, r.b FROM ntot t, refppm r
    ),
    sh AS (
      SELECT l.source, t.n_tot,
             COALESCE(n.n_cnt, 0) * 1000000 // t.n_tot
               - COALESCE(r.o_ppm, 0) AS shift
      FROM lattice l
      JOIN ntot t USING (source)
      LEFT JOIN ncnt n ON n.source = l.source AND n.b = l.b
      LEFT JOIN refppm r ON r.b = l.b
    )
    SELECT source, n_tot AS n_tokens,
           CAST(SUM(ABS(shift)) // 2 AS BIGINT) AS tv_ppm,
           CAST(MAX(ABS(shift)) AS BIGINT) AS max_shift_ppm
    FROM sh
    GROUP BY source, n_tot
    ORDER BY tv_ppm DESC, source
  """

  /** p35 — bigram-LM familiarity (graft.pipeline.QualityModel
    * .lmFamiliarity): add-one-smoothed bigram conditionals counted on the
    * old 80%, each new doc scored by its mean per-bigram weight_ppm =
    * (10⁶·(c(a,b)+1)) // (c(a)+V). All BIGINT.
    */
  private val lmScoredCtes: String = """split AS (
      SELECT (MAX(doc_id) + 1) * 4 // 5 AS s FROM documents
    ),
    ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    hist AS (SELECT w FROM ws WHERE doc_id < (SELECT s FROM split)),
    uni AS (
      SELECT g.t AS w1, COUNT(*) AS cu
      FROM hist, LATERAL (SELECT unnest(w) AS t) g
      GROUP BY g.t
    ),
    v AS (SELECT COUNT(*) AS v FROM uni),
    bi AS (
      SELECT w[g.i] AS a, w[g.i + 1] AS b2, COUNT(*) AS cb
      FROM hist, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
      GROUP BY w[g.i], w[g.i + 1]
    ),
    newb AS (
      SELECT doc_id, w[g.i] AS a, w[g.i + 1] AS b2
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
      WHERE doc_id >= (SELECT s FROM split)
    ),
    sc AS (
      SELECT n.doc_id,
             (1000000 * (COALESCE(bi.cb, 0) + 1))
               // (COALESCE(u.cu, 0) + (SELECT v FROM v)) AS wgt
      FROM newb n
      LEFT JOIN bi ON bi.a = n.a AND bi.b2 = n.b2
      LEFT JOIN uni u ON u.w1 = n.a
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(wgt) AS tot
      FROM sc GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             COALESCE(a.n_bigrams, 0) AS n_bigrams,
             CAST(CASE WHEN a.n_bigrams > 0 THEN a.tot // a.n_bigrams
                       ELSE 0 END AS BIGINT) AS score_ppm
      FROM (SELECT doc_id FROM documents
            WHERE doc_id >= (SELECT s FROM split)) d
      LEFT JOIN agg a USING (doc_id)
    )"""

  val lmFamiliarity: String = s"""
    WITH $lmScoredCtes
    SELECT doc_id, n_bigrams, score_ppm
    FROM scored
    ORDER BY doc_id
  """

  /** p37 — perplexity-tier sampling (graft.pipeline.QualityModel
    * .perplexityTiers): p35's scores cut into tertiles by
    * NTILE(3) over (score_ppm DESC, doc_id) — both engines split ties by
    * rank position identically under the same total order — with the
    * head kept fully, the middle every 2nd doc_id, the tail every 10th.
    */
  val perplexityTiers: String = s"""
    WITH $lmScoredCtes,
    tiers AS (
      SELECT doc_id, n_bigrams, score_ppm,
             CAST(NTILE(3) OVER (ORDER BY score_ppm DESC, doc_id)
               AS BIGINT) AS tier
      FROM scored
    )
    SELECT doc_id, n_bigrams, score_ppm, tier,
           CAST(CASE WHEN tier = 1
                       OR (tier = 2 AND doc_id % 2 = 0)
                       OR (tier = 3 AND doc_id % 10 = 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM tiers
    ORDER BY doc_id
  """

  /** p28 — per-source document caps (graft.pipeline.Sampling
    * .sourceCaps): top 20 docs per source by (n_chars DESC, doc_id ASC).
    */
  val sourceCaps: String = """
    SELECT doc_id, source, score, rnk FROM (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS rnk
      FROM documents
    ) r
    WHERE rnk <= 20
    ORDER BY source, rnk
  """

  /** d14 — paragraph-grain keep-first dedup (graft.pipeline.Dedup
    * .paragraphDedup, chunkWords = 20). The global first occurrence of
    * a paragraph value is the minimal (doc_id, j) — exactly
    * ROW_NUMBER() = 1 under that order. DuckDB slices are 1-based
    * inclusive and clipped at len(w), matching Spark's
    * `slice(ws, j*20+1, 20)`.
    */
  val paragraphDedup: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, len(w) AS n, g.j AS j,
             array_to_string(w[g.j*20+1 : g.j*20+20], ' ') AS chunk
      FROM ws, LATERAL (
        SELECT unnest(generate_series(0, (len(w) - 1) // 20)) AS j) g
      WHERE len(w) >= 1
    ),
    ranked AS (
      SELECT doc_id, n, j, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
               ORDER BY doc_id ASC, j ASC) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_words,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(
             string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY j),
             '') AS cleaned_text
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
  """

  /** p29 — surgical decontamination (graft.pipeline.Decontamination
    * .decontaminationRemoval, L = 4, eval = doc_id % 50 = 0): d12's
    * coverage-removal shape with the dup decision swapped to membership
    * in the eval slice's distinct window set.
    */
  val decontaminationRemoval: String = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents WHERE doc_id % 50 <> 0
    ),
    ew AS (
      SELECT DISTINCT array_to_string(w[g.i:g.i+3], ' ') AS win
      FROM (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 50 = 0
      ) e, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 3)) AS i) g
      WHERE len(w) >= 4
    ),
    wins AS (
      SELECT doc_id, g.i AS i, array_to_string(w[g.i:g.i+3], ' ') AS win
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 3)) AS i) g
      WHERE len(w) >= 4
    ),
    dupstart AS (
      SELECT doc_id, i FROM wins JOIN ew USING (win)
    ),
    words AS (
      SELECT doc_id, g.p AS p, w[g.p] AS word, len(w) AS n
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w))) AS p) g
      WHERE len(w) >= 1
    ),
    flags AS (
      SELECT wd.doc_id, wd.p, wd.word, wd.n,
             CASE WHEN ds.i IS NOT NULL THEN 1 ELSE 0 END AS s
      FROM words wd LEFT JOIN dupstart ds
        ON ds.doc_id = wd.doc_id AND ds.i = wd.p
    ),
    cov AS (
      SELECT doc_id, p, word, n,
             MAX(s) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS covered
      FROM flags
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_words,
           CAST(SUM(covered) AS BIGINT) AS n_removed,
           COALESCE(
             string_agg(CASE WHEN covered = 0 THEN word END, ' ' ORDER BY p),
             '') AS cleaned_text
    FROM cov
    GROUP BY doc_id
    ORDER BY doc_id
  """
}
