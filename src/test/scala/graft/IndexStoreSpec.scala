package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Similarity

/** Laws for the persisted IVF index: the train-once/query-many lifecycle
  * must reproduce the in-memory trained search bit-for-bit, and the
  * query-time scan must prune to the probed cells' partitions.
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-indexstore-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver testdata stores naive (isAdjustedToUTC=false) micros;
      // read them as TIMESTAMP so epoch extraction matches the DuckDB oracle
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("persisted-index search is row-identical to in-memory trained search") {
    val tmp = Files.createTempDirectory("graft-ivf-index").toString
    Similarity.writeIvfIndex(spark, sfDir, tmp)

    val fromIndex = Similarity
      .knnIvfIndexed(spark, sfDir, tmp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val inMemory = Similarity
      .knnIvfTrained(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // bit-equality including sims: same seeding, same fold arithmetic,
    // norms precomputed into the index by the identical expression
    assert(fromIndex == inMemory)
  }

  test("incremental dedup from the persisted index equals the in-memory form") {
    val tmp = Files.createTempDirectory("graft-dedup-index").toString
    // the SAME corpus construction as the shipped d9 query — shared
    // builder, so the law can't drift from what the query actually runs
    val (oldDocs, newDocs) = graft.pipeline.Dedup.incrementalSplit(spark, sfDir)

    // non-default banding: the index is self-describing, the reader must
    // band the new batch under the STORED parameters
    graft.pipeline.Dedup
      .writeDedupIndex(spark, oldDocs, tmp, numPerms = 12, rowsPerBand = 3)
    val fromIndex = graft.pipeline.Dedup
      .incrementalDedupFromIndex(spark, tmp, newDocs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    val inMemory = graft.pipeline.Dedup
      .incrementalDedup(oldDocs, newDocs, numPerms = 12, rowsPerBand = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(fromIndex.nonEmpty)
    assert(fromIndex == inMemory)
  }

  test("bloom-gated index read is row-identical to the ungated one (no false negatives)") {
    val tmp = Files.createTempDirectory("graft-dedup-bloom").toString
    val (oldDocs, newDocs) = graft.pipeline.Dedup.incrementalSplit(spark, sfDir)
    graft.pipeline.Dedup.writeDedupIndex(spark, oldDocs, tmp)
    // bloomMinIndexRows = 0 FORCES the gate — the default threshold
    // correctly declines it on this test-sized index (crossover spec)
    def run(gate: Boolean) = graft.pipeline.Dedup
      .incrementalDedupFromIndex(
        spark, tmp, newDocs, bloomGate = gate, bloomMinIndexRows = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    val gated = run(gate = true)
    assert(gated.nonEmpty)
    assert(gated == run(gate = false))
    // and even at an absurd fpp the law holds — the gate can only pass
    // MORE stored rows to the exact joins, never fewer
    val sloppy = graft.pipeline.Dedup
      .incrementalDedupFromIndex(
        spark, tmp, newDocs,
        bloomGate = true, fpp = 0.5, bloomMinIndexRows = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(sloppy == gated)
    // the size switch: below the threshold the ungated path is chosen
    // (the bloom build would cost more than the join it prunes), forcing
    // with threshold 0 engages it, and the DEFAULT declines on an index
    // this small — with identical rows on both sides of the crossover
    assert(!graft.pipeline.Dedup.bloomGateEngaged(spark, tmp, 4L << 20))
    assert(graft.pipeline.Dedup.bloomGateEngaged(spark, tmp, 0L))
    assert(graft.pipeline.Dedup.bloomGateEngaged(spark, tmp, 10L))
    val autoRows = graft.pipeline.Dedup
      .incrementalDedupFromIndex(spark, tmp, newDocs, bloomGate = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(autoRows == gated)
  }

  test("bloom gate prunes the stored scans in-plan and the predicate is codegen-true") {
    val sp = spark
    import sp.implicits._
    // expression law vs the builder it must pair with (stat.bloomFilter):
    // every inserted key probes true — the no-false-negative contract the
    // gated-join law rests on
    val keys = (1L to 5000L).map(_ * 2654435761L)
    val bloom = keys.toDF("k").stat.bloomFilter("k", 5000L, 0.01)
    val bytes = graft.functions.BloomMightContain.serialize(bloom)
    val probed = keys
      .toDF("k")
      .withColumn(
        "hit",
        graft.functions.BloomMightContain.mightContain(col("k"), bytes)
      )
    assert(probed.filter(!col("hit")).count() == 0)
    // interpreted eval agrees with codegen (no silent fallback drift)
    val expr = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(keys.head),
      bytes
    )
    assert(expr.eval(null) == true)
    // the gated plan carries the predicate as a Filter over the stored
    // parquet relations — the prune happens BEFORE the join, not after
    val tmp = Files.createTempDirectory("graft-dedup-bloomplan").toString
    val (oldDocs, newDocs) = graft.pipeline.Dedup.incrementalSplit(spark, sfDir)
    graft.pipeline.Dedup.writeDedupIndex(spark, oldDocs, tmp)
    val plan = graft.pipeline.Dedup
      .gateByBloom(
        spark.read.parquet(s"$tmp/bands"),
        xxhash64(col("band"), col("bucket")),
        spark.read.parquet(s"$tmp/bands").limit(10),
        xxhash64(col("band"), col("bucket"))
      )
      .queryExecution
      .optimizedPlan
      .toString
    assert(plan.contains("bloom_might_contain"), plan.take(1500))
  }

  test("span removal against the persisted index equals the batch rewrite") {
    val tmp = Files.createTempDirectory("graft-span-index").toString
    // same canonical old/new split as d9 — the seeded verbatim copies
    // guarantee cross-corpus span dups so the law is non-vacuous
    val (oldDocs, newDocs) = graft.pipeline.Dedup.incrementalSplit(spark, sfDir)
    // non-default L: the index is self-describing, the reader must
    // window the new batch under the STORED span length
    graft.pipeline.Dedup.writeSpanIndex(spark, oldDocs, tmp, spanWords = 8)
    val fromIndex = graft.pipeline.Dedup
      .removeDupSpansAgainstIndex(spark, tmp, newDocs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.pipeline.Dedup
      .removeDupSpansOf(oldDocs.unionByName(newDocs), spanWords = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .filter(t => newIds.contains(t._1))
      .toSeq
    assert(fromIndex.exists(_._3 > 0)) // the copies force real removals
    assert(fromIndex == batch)
  }

  test("span-index compaction shrinks files, preserves the set and results") {
    val tmp = Files.createTempDirectory("graft-span-compact").toString
    val (oldDocs, newDocs) = graft.pipeline.Dedup.incrementalSplit(spark, sfDir)
    graft.pipeline.Dedup.writeSpanIndex(spark, oldDocs, tmp, spanWords = 8)
    // two appends accrete extra file sets, the streaming loop's pattern
    val (n1, n2) = (newDocs.filter(col("doc_id") % 2 === 0),
      newDocs.filter(col("doc_id") % 2 =!= 0))
    graft.pipeline.Dedup.appendToSpanIndex(spark, tmp, n1)
    graft.pipeline.Dedup.appendToSpanIndex(spark, tmp, n2)

    def liveWin(): String = graft.util.DirSwap
      .resolve(tmp, "windows")
    def files(): Int = Option(new java.io.File(liveWin()).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    def winSet(): Set[(Long, Long)] = spark.read.parquet(liveWin())
      .collect().map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getLong(1)))
      .toSet
    val probe = oldDocs.limit(20)
    def cleaned(): Seq[(Long, Long, Long, String)] = graft.pipeline.Dedup
      .removeDupSpansAgainstIndex(spark, tmp, probe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq

    val (filesBefore, setBefore, cleanBefore) = (files(), winSet(), cleaned())
    graft.pipeline.Dedup.compactSpanIndex(spark, tmp, targetFiles = 2)
    assert(files() == 2 && filesBefore > 2)
    assert(winSet() == setBefore)
    assert(cleaned() == cleanBefore)

    // crash model of the generation swap: an orphan generation and a
    // stale pointer tmp leave reads untouched; the next swap sweeps both
    // — once aged past the slow-reader grace window — and retains only
    // {current, previous} generations
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/windows.gen-999"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/windows.current.tmp-999"),
      "windows.gen-999".getBytes)
    assert(cleaned() == cleanBefore)
    assert(winSet() == setBefore)
    TestFs.ageOutGenerations(tmp, "windows")
    graft.pipeline.Dedup.compactSpanIndex(spark, tmp, targetFiles = 2)
    assert(cleaned() == cleanBefore)
    assert(winSet() == setBefore)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/windows.gen-999")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/windows.current.tmp-999")))
    val gens = Option(new java.io.File(tmp).listFiles())
      .getOrElse(Array.empty)
      .count(_.getName.startsWith("windows.gen-"))
    assert(gens <= 2) // current + in-flight-reader grace
  }

  test("incremental append: old files untouched, batch-insensitive, probe-all complete") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val idxA = Files.createTempDirectory("graft-ivf-append-a").toString
    val idxB = Files.createTempDirectory("graft-ivf-append-b").toString
    val all = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val split = all.agg(max("vec_id")).head().getLong(0) * 4L / 5L
    val initial = all.filter(col("vec_id") <= split)
    val batch = all.filter(col("vec_id") > split)

    def files(root: String): Set[(String, Long)] = {
      val s = Files.walk(Paths.get(root))
      try s
        .iterator()
        .asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => (Paths.get(root).relativize(p).toString, Files.size(p)))
        .toSet
      finally s.close()
    }
    def search(idx: String, nprobe: Int = 2) = Similarity
      .knnIvfIndexed(spark, sfDir, idx, nprobe = nprobe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

    // append assigns to the STORED centroids and only ADDS files: every
    // pre-append file survives byte-identical (name + size), nothing
    // corpus-sized is rewritten
    Similarity.writeIvfIndexOf(spark, initial, idxA)
    val before = files(s"$idxA/vectors")
    Similarity.appendToIvfIndex(spark, batch, idxA)
    val after = files(s"$idxA/vectors")
    assert(before.subsetOf(after), "append rewrote existing cell files")
    assert(after.size > before.size)

    // batch-insensitive: training is deterministic on the initial corpus,
    // so idxB carries the SAME centroids; the union appended in ONE batch
    // must search bit-identically to the two-batch index
    Similarity.writeIvfIndexOf(spark, initial, idxB)
    val vecDir = Paths.get(idxB, "vectors")
    val w = Files.walk(vecDir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .iterator()
      .asScala
      .foreach(Files.delete)
    finally w.close()
    Similarity.appendToIvfIndex(spark, all, idxB)
    assert(search(idxA) == search(idxB))

    // complete: assignment partitions the corpus whatever the centroids,
    // so probing every cell of the appended index IS brute force over the
    // union — bit-equal sims, same ranking
    val brute = Similarity
      .knnBruteForce(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(search(idxA, nprobe = 16) == brute)
  }

  test("k10 lifecycle: frozen-quantizer append is pass-insensitive and survives the cid-partitioned store") {
    val tmp = Files.createTempDirectory("graft-ivf-exact").toString + "/vectors"
    val codes = Similarity.quantized(spark, sfDir).select("vec_id", "q8")
    val initial = codes.filter(col("vec_id") % 4 < 3)
    val batch = codes.filter(col("vec_id") % 4 === 3)
    val cents = Similarity.trainCentroidsExact(initial)

    // the append path is just a second row-local assignment pass against
    // the FROZEN quantizer: per-batch passes unioned ≡ one pass over the
    // union (so appending can never disturb existing assignments)
    val onePass = Similarity.assignCellsInt(codes, cents)
    val twoPass = Similarity
      .assignCellsInt(initial, cents)
      .unionByName(Similarity.assignCellsInt(batch, cents))
    assert(onePass.exceptAll(twoPass).isEmpty)
    assert(twoPass.exceptAll(onePass).isEmpty)

    // write-initial → append-batch through a cid-partitioned parquet
    // store, then search the store: bit-identical to the single-plan k10
    // query (exact-integer arithmetic has no roundtrip hazard — this
    // pins the store layout, not float luck)
    Similarity
      .assignCellsInt(initial, cents)
      .write
      .partitionBy("cid")
      .parquet(tmp)
    Similarity
      .assignCellsInt(batch, cents)
      .write
      .mode("append")
      .partitionBy("cid")
      .parquet(tmp)
    val fromStore = Similarity
      .searchCellsExact(spark.read.parquet(tmp), codes, cents, 10, 5, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val direct = Similarity
      .knnIndexLifecycleExact(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(fromStore.nonEmpty)
    assert(fromStore == direct)
  }

  test("persisted exact-integer IVF store: write→append→search ≡ the k10 single plan; pruned scan; compaction identity") {
    val tmp = Files.createTempDirectory("graft-ivf-exact-store").toString
    val codes = Similarity.quantized(spark, sfDir).select("vec_id", "q8")
    // the k10 protocol through the REAL store functions: train on the
    // initial 3/4 ingest, append the quarter to the frozen quantizer
    Similarity
      .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
    Similarity
      .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
    def rows4(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val stored = Similarity.knnIvfIndexedExactOf(spark, codes, tmp)
    // the store scan is partition-pruned to the probed cells
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("cid"))
    val direct = rows4(Similarity.knnIndexLifecycleExact(spark, sfDir))
    assert(direct.nonEmpty)
    assert(rows4(stored) == direct)
    // compaction (the float store's compactor, shared layout) folds the
    // append layer; reads identical; the maintenance registry drives it
    val st = Maintenance.ivfVectors(tmp).copy(compactOverLayers = 1)
    val fired = Maintenance
      .maintainAll(spark, Seq(st))
      .head()
      .getAs[Boolean]("compacted")
    assert(fired)
    assert(rows4(Similarity.knnIvfIndexedExactOf(spark, codes, tmp)) == direct)
  }

  test("k15 filtered search: exact pre-filter semantics — equals the unfiltered ranking restricted to the allowed set") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val tmp = Files.createTempDirectory("graft-ivf-filtered").toString
    val codes = Similarity.quantized(spark, sfDir).select("vec_id", "q8")
    Similarity
      .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
    Similarity
      .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
    val ss = spark
    import ss.implicits._
    val allowed = codes.select("vec_id").filter(col("vec_id") % 2 === 0)
    val filteredDf =
      Similarity.knnIvfIndexedExactFilteredOf(spark, codes, tmp, allowed, 10L, 5, 2)
    // the metadata filter must not widen the scan: the store read stays
    // partition-pruned to the probed cells
    val plan = filteredDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("cid"))
    val got = filteredDf
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty)
    // every hit satisfies the predicate
    assert(got.forall(_._2 % 2 == 0), s"filter leak: $got")
    // REFERENCE: the unfiltered search with k = everything, restricted to
    // the allowed set, re-ranked — pre-filter semantics say the two are
    // identical (the filter must not change scores or probed cells)
    val w = Window
      .partitionBy("qid")
      .orderBy(col("score").desc, col("vec_id"))
    val want = Similarity
      .knnIvfIndexedExactOf(spark, codes, tmp, 10L, k = Int.MaxValue, 2)
      .filter(col("vec_id") % 2 === 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("qid", "vec_id", "rank", "score")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.sorted == want.sorted, "filtered ≠ unfiltered∘restrict∘re-rank")
    // non-vacuous: the filter actually changed the answer (some odd
    // vec_id ranked in the unfiltered top-5)
    val unf = Similarity
      .knnIvfIndexedExactOf(spark, codes, tmp, 10L, 5, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(unf.exists(_._2 % 2 != 0), "fixture too easy: filter was a no-op")
  }

  test("adaptive filtered search: at ~1% selectivity the widened probe recovers the exact filtered top-k the fixed probe loses") {
    val tmp = Files.createTempDirectory("graft-ivf-adaptive").toString
    val codes = Similarity.quantized(spark, sfDir).select("vec_id", "q8")
    Similarity
      .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
    Similarity
      .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
    // ~1% of the corpus qualifies — the selective-tenant case where
    // fixed-nprobe pre-filtering demonstrably loses recall
    val allowed = codes.select("vec_id").filter(col("vec_id") % 97 === 0)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    // TRUTH: probe every cell — by the completeness law this is the
    // exact top-k over the qualifying set whatever the centroids are
    val truth = hits(
      Similarity
        .knnIvfIndexedExactFilteredOf(spark, codes, tmp, allowed, 10L, 5, 16))
    assert(truth.nonEmpty, "the selective filter must still yield hits")
    val fixed = hits(
      Similarity
        .knnIvfIndexedExactFilteredOf(spark, codes, tmp, allowed, 10L, 5, 2))
    val adaptive = hits(
      Similarity.knnIvfIndexedExactFilteredAdaptiveOf(
        spark, codes, tmp, allowed, 10L, 5, 2))
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(truth).size.toDouble / truth.size
    // the stated floor: at this selectivity the adaptive probe widens to
    // every cell, so its recall is exactly 1.0 — and the caveat is real:
    // the fixed probe provably misses qualifying neighbors
    assert(recall(adaptive) == 1.0, s"adaptive recall ${recall(adaptive)}")
    assert(adaptive == truth, "adaptive ≡ exact filtered top-k at the selective extreme")
    assert(
      recall(fixed) < 1.0,
      s"fixture must make the fixed probe lose recall (got ${recall(fixed)})"
    )
    // a permissive filter keeps the probe narrow: adaptivity must not
    // degrade the common case into a full scan
    val broad = codes.select("vec_id").filter(col("vec_id") % 2 === 0)
    val adaptiveBroad = hits(
      Similarity.knnIvfIndexedExactFilteredAdaptiveOf(
        spark, codes, tmp, broad, 10L, 5, 2))
    val fixedBroad4 = hits(
      Similarity
        .knnIvfIndexedExactFilteredOf(spark, codes, tmp, broad, 10L, 5, 4))
    assert(
      adaptiveBroad == fixedBroad4,
      "50% selectivity → nprobe 2/0.5 = 4, not a degenerate full probe"
    )
  }

  test("adaptive filtered search: allowed ids absent from the index cannot narrow the probe") {
    // the round-14 advice case: a stale tenant list (or cross-shard id
    // space) wider than the corpus would inflate a raw |allowed| count,
    // under-widen the probe, and silently reintroduce the recall loss —
    // the width must come from |allowed ∩ corpus|
    val tmp = Files.createTempDirectory("graft-ivf-adaptive-oob").toString
    val codes = Similarity.quantized(spark, sfDir).select("vec_id", "q8")
    Similarity
      .writeIvfIndexExactOf(spark, codes.filter(col("vec_id") % 4 < 3), tmp)
    Similarity
      .appendToIvfIndexExact(spark, codes.filter(col("vec_id") % 4 >= 3), tmp)
    val allowed = codes.select("vec_id").filter(col("vec_id") % 97 === 0)
    // pad the filter with 100× ids that exist in NO shard of this index:
    // a raw count would read ~100% selectivity and keep the narrow probe
    val padded = allowed.unionByName(
      codes.select((col("vec_id") + lit(10000000L)).as("vec_id"))
    )
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    val clean = hits(
      Similarity.knnIvfIndexedExactFilteredAdaptiveOf(
        spark, codes, tmp, allowed, 10L, 5, 2))
    val oob = hits(
      Similarity.knnIvfIndexedExactFilteredAdaptiveOf(
        spark, codes, tmp, padded, 10L, 5, 2))
    assert(
      oob == clean,
      "out-of-corpus allowed ids changed the adaptive result — the " +
        "selectivity estimate is not intersecting the corpus"
    )
    // and the width it selected is the recall-1.0 one: ≡ probe-all truth
    val truth = hits(
      Similarity
        .knnIvfIndexedExactFilteredOf(spark, codes, tmp, allowed, 10L, 5, 16))
    assert(oob == truth, "padded-filter adaptive search must stay exact")
  }

  test("index lifecycle: streamed drift fires the retrain trigger; retraining clears it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-health").toString
    val ck = Files.createTempDirectory("graft-health-ck").toString
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    Similarity.writeIvfIndexOf(spark, emb, tmp)

    def health(dir: String) =
      Similarity.indexHealthOf(spark, dir).collect().head
    val h0 = health(tmp)
    assert(h0.getAs[Long]("retrain_recommended") == 0L, h0.toString)

    // drifted appended batch: the whole corpus shifted into the positive
    // orthant (abs + offset) under NEW ids — a cluster the trained
    // centroids never saw, with internal spread so a retrain CAN split
    // it; negative ids so the retrain re-seeds inside the drifted mass
    val drifted: Seq[(Long, Seq[Float])] = emb
      .select(
        (-col("vec_id") - 1).as("vec_id"),
        transform(
          col("embedding"),
          x => (abs(x.cast("double")) + lit(3.0)).cast("float")
        ).as("embedding")
      )
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq

    // drive the drift through the STREAMING maintenance loop: appends
    // land per micro-batch, the health row emits after each
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val healthRows = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long)] // (batchId, maxPpm, recallPpm, flag)
    // one AvailableNow run per chunk over the one checkpoint
    drifted.grouped(drifted.size / 2 + 1).foreach { c =>
      ms.addData(c)
      graft.streaming.StreamingSimilarity.maintenanceStream(
        ms.toDF().toDF("vec_id", "embedding"),
        tmp,
        ck
      ) { (h, bid) =>
        val r = h.collect().head
        healthRows.synchronized {
          healthRows += ((bid, r.getAs[Long]("max_cell_ppm"),
            r.getAs[Long]("recall_ppm"),
            r.getAs[Long]("retrain_recommended"))): Unit
        }
      }.awaitTermination()
    }

    // the trigger FIRES: the drifted mass concentrates in few cells, so
    // the final health row crosses the ppm threshold
    assert(healthRows.nonEmpty)
    val last = healthRows.last
    assert(last._2 > 250000L, s"drift must skew a cell: $healthRows")
    assert(last._4 == 1L, s"trigger must fire: $healthRows")
    val h1 = health(tmp)
    assert(h1.getAs[Long]("retrain_recommended") == 1L)

    // act on the flag: retrain into a NEW generation (old index stays
    // serving until readers swap) — the trigger CLEARS
    val gen2 = Files.createTempDirectory("graft-health2").toString
    Similarity.retrainIvfIndex(spark, tmp, gen2)
    val h2 = health(gen2)
    assert(h2.getAs[Long]("n_vectors") == h1.getAs[Long]("n_vectors"))
    assert(h2.getAs[Long]("max_cell_ppm") <= 250000L, h2.toString)
    assert(h2.getAs[Long]("retrain_recommended") == 0L, h2.toString)
  }

  test("streaming IVF search over chunked queries equals one batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val tmp = Files.createTempDirectory("graft-ivf-stream").toString
    val ck = Files.createTempDirectory("graft-ivf-stream-ck").toString
    Similarity.writeIvfIndex(spark, sfDir, tmp)

    val queryRows: Seq[(Long, Seq[Float])] = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = graft.streaming.StreamingSimilarity.searchStream(
      ms.toDF().toDF("qid", "q"),
      tmp,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (res, _) =>
      val rows = res
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      buf.synchronized { buf ++= rows: Unit }
    }
    try
      queryRows.grouped(3).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    // the service posture: external qids, no corpus self-exclusion
    val batch = Similarity
      .knnIvfIndexedOf(
        spark,
        spark
          .createDataset(queryRows)
          .toDF("qid", "q"),
        tmp,
        excludeSelf = false
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

    // row-for-row (bit-equal sims): queries are independent and the index
    // frozen, so chunked continuous search IS the batch search
    assert(buf.nonEmpty)
    assert(buf.sortBy(t => (t._1, t._3)) == batch.sortBy(t => (t._1, t._3)))
    // non-vacuous: these qids collide with corpus vec_ids, and each
    // colliding vector retrieves ITSELF at rank 1 (cos = 1) — the
    // exclusion leak the service posture must not have
    assert(
      buf.exists(t => t._1 == t._2 && t._3 == 1L),
      "no self-hit: the corpus protocol's exclusion leaked into the service"
    )
  }

  test("query-time scan prunes to the probed cells' partitions") {
    val tmp = Files.createTempDirectory("graft-ivf-prune").toString
    Similarity.writeIvfIndex(spark, sfDir, tmp)

    val nCells = spark.read.parquet(s"$tmp/centroids").count()
    val out = Similarity.knnIvfIndexed(spark, sfDir, tmp, nprobe = 1)
    // force execution, then count which cid partitions were touchable:
    // with nprobe=1 the 10 queries probe at most 10 distinct cells
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("cid"))

    // independent cross-check at the file level: re-derive the probed set
    // and confirm it is a strict subset of all cells
    val probed = out
      .join(
        spark.read.parquet(s"$tmp/vectors").select("vec_id", "cid"),
        Seq("vec_id")
      )
      .select("cid")
      .distinct()
      .count()
    assert(probed < nCells)
  }

  private def rawMap(
      df: org.apache.spark.sql.DataFrame
  ): Map[Long, (Long, Long, Long)] =
    df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("k13 raw cell stats are additive over row partitions (merge law)") {
    val codes =
      Similarity.quantized(spark, sfDir).select(col("vec_id"), col("q8")).cache()
    val cents = Similarity.trainCentroidsExact(codes, 16, 3)
    val whole = Similarity.cellStatsRaw(codes, cents)
    val parts = (0 until 4).map(i =>
      Similarity.cellStatsRaw(codes.filter(col("vec_id") % 4 === i), cents)
    )
    val merged = parts.reduce(Similarity.mergeCellStats)
    assert(rawMap(merged) == rawMap(whole))
    // and the presented report is identical through the merge
    val a = Similarity.presentCellStats(spark, merged).collect().toSeq
    val b = Similarity.presentCellStats(spark, whole).collect().toSeq
    assert(a == b && a.nonEmpty)
    codes.unpersist()
  }

  test("k13 report survives a tiny corpus and an empty one") {
    val ss = spark
    import ss.implicits._
    // fewer vectors than kCentroids: the trainer seeds one cell per
    // vector, and the report's cell list must be the TRAINED cells, not
    // a phantom 0..15 range (the oracle's cell list is DISTINCT from c0)
    val tiny = Seq(
      (0L, Seq(1L, 2L)),
      (1L, Seq(3L, 4L)),
      (2L, Seq(5L, 6L))
    ).toDF("vec_id", "q8")
    val cents = Similarity.trainCentroidsExact(tiny, 16, 1)
    assert(cents.size == 3)
    val rep = Similarity.presentCellStats(
      spark,
      Similarity.cellStatsRaw(tiny, cents),
      16,
      Some(cents.map(_._1))
    )
    assert(rep.count() == 3L)
    // empty raw frame: occupancy guards the 0/0 to 0 ppm, no error
    val empty = Similarity
      .cellStatsRaw(tiny.filter(col("vec_id") < 0), cents)
    val emptyRep = Similarity
      .presentCellStats(spark, empty, 16, Some(cents.map(_._1)))
      .collect()
    assert(emptyRep.length == 3)
    assert(emptyRep.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }

  test("streaming cell-stats deltas fold into the batch report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val ss = spark
    import ss.implicits._
    val ck = Files.createTempDirectory("graft-cellstats-ck").toString
    val codes =
      Similarity.quantized(spark, sfDir).select(col("vec_id"), col("q8")).cache()
    val cents = Similarity.trainCentroidsExact(codes, 16, 3)
    val rows: Seq[(Long, Seq[Long])] =
      codes.as[(Long, Seq[Long])].collect().toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val ms = MemoryStream[(Long, Seq[Long])]
    // the running health view: deltas fold in additively, batch by batch
    val running =
      scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val q = graft.streaming.StreamingSimilarity.cellStatsStream(
      ms.toDF().toDF("vec_id", "q8"),
      cents,
      ck,
      trigger = Trigger.ProcessingTime(0L)
    ) { (delta, _) =>
      running.synchronized {
        rawMap(delta).foreach { case (cid, (n, s, mn)) =>
          val (pn, psum, pmin) =
            running.getOrElse(cid, (0L, 0L, Long.MaxValue))
          running(cid) = (pn + n, psum + s, math.min(pmin, mn))
        }
      }
    }
    try
      rows.grouped(137).foreach { c =>
        ms.addData(c)
        q.processAllAvailable()
      }
    finally q.stop()

    assert(running.nonEmpty)
    assert(running.toMap == rawMap(Similarity.cellStatsRaw(codes, cents)))
    codes.unpersist()
  }

  test("layer-keyed vector append: a redelivered batch never duplicates rows, through compaction") {
    val idx = Files.createTempDirectory("graft-ivf-redeliver").toString
    val all = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val split = all.agg(max("vec_id")).head().getLong(0) * 4L / 5L
    Similarity.writeIvfIndexOf(spark, all.filter(col("vec_id") <= split), idx)
    val batch = all.filter(col("vec_id") > split)

    def stored(): Seq[Long] = spark.read
      .parquet(graft.util.DirSwap
        .resolve(idx, "vectors"))
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .sorted
      .toSeq
    def search() = Similarity
      .knnIvfIndexed(spark, sfDir, idx)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

    Similarity.appendToIvfIndex(spark, batch, idx, layer = 1L)
    val once = (stored(), search())
    // T1 redelivery: same batch, same layer — rows replaced, not stacked
    Similarity.appendToIvfIndex(spark, batch, idx, layer = 1L)
    assert((stored(), search()) == once)

    // the crash-window interleaving: compaction protecting the
    // redeliverable layer, then the redelivered rewrite — still exact
    Similarity.compactIvfIndex(spark, idx, protectLayersAbove = 0L)
    Similarity.appendToIvfIndex(spark, batch, idx, layer = 1L)
    assert((stored(), search()) == once)
    // once committed, the next compaction folds it — reads unchanged,
    // one file per cell
    Similarity.compactIvfIndex(spark, idx)
    assert((stored(), search()) == once)
    val layers = spark.read
      .parquet(graft.util.DirSwap
        .resolve(idx, "vectors"))
      .select(col("layer").cast("long"))
      .distinct()
      .count()
    assert(layers == 1L)

    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, batch, idx, layer = 0L)
    }
  }
}
