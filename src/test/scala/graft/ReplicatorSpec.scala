package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.journal.{JournalOps, Replicate}
import graft.model.ActionLog
import graft.streaming.StreamingReplicator

/** Replication-pipeline specs: chunked merge == whole-log compute
  * (the reference's eventual-consistency law, EventualJournalSpec), and
  * idempotence under redelivery (T2), in both direct-merge and Structured
  * Streaming (file source, AvailableNow) forms.
  */
class ReplicatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-replicator-test")
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

  private def actions = ActionLog.fromEvents(spark, sfDir)

  private def chunks(a: DataFrame, n: Int): Seq[DataFrame] = {
    val mx = a.agg(max("event_id")).head().getLong(0)
    val step = mx / n + 1
    (0 until n).map { i =>
      a.filter(
        col("event_id") >= i * step && col("event_id") < (i + 1) * step
      )
    }
  }

  private def assertStoreEquals(got: Replicate.Store, want: Replicate.Store): Unit = {
    for (
      (g, w, name) <- Seq(
        (got.journal, want.journal, "journal"),
        (got.metajournal, want.metajournal, "metajournal"),
        (got.pointer2, want.pointer2, "pointer2")
      )
    ) {
      val cols = w.columns.sorted.map(col)
      val gs = g.select(cols.toIndexedSeq: _*)
      val ws = w.select(cols.toIndexedSeq: _*)
      assert(gs.exceptAll(ws).count() == 0, s"$name: extra rows")
      assert(ws.exceptAll(gs).count() == 0, s"$name: missing rows")
    }
  }

  test("chunked mergeBatch equals whole-log compute") {
    val a = actions.cache()
    val whole = Replicate.compute(a)
    val merged = chunks(a, 4).foldLeft(Replicate.empty(spark, a)) {
      (st, ch) => Replicate.mergeBatch(st, ch)
    }
    assertStoreEquals(merged, whole)
    a.unpersist()
  }

  test("redelivered batch is a no-op (offset-guard idempotence)") {
    val a = actions.cache()
    val cs = chunks(a, 3)
    val once = cs.foldLeft(Replicate.empty(spark, a))(Replicate.mergeBatch)
    // redeliver chunk 1 and 2 after the full run
    val again = Replicate.mergeBatch(Replicate.mergeBatch(once, cs(1)), cs(2))
    assertStoreEquals(again, Replicate.compute(a))
    a.unpersist()
  }

  test("incremental sink rewrites only the touched journal+metajournal partitions") {
    import java.security.MessageDigest
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-incremental").toString
    val cs = chunks(a, 2)
    StreamingReplicator.applyBatch(spark, tmp, cs(0))

    // fingerprint every partition file of a bucketed table (path -> md5)
    def files(table: String): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp, table)
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val md = MessageDigest.getInstance("MD5")
          root.relativize(p).toString ->
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }
        .toMap
      finally s.close()
    }
    val before = Map("journal" -> files("journal"),
      "metajournal" -> files("metajournal"))

    // second batch restricted to ONE journal -> exactly one touched bucket
    val oneKey = cs(1).filter(col("id") === "1")
    assert(oneKey.count() > 0)
    StreamingReplicator.applyBatch(spark, tmp, oneKey)

    val touchedPrefix = {
      val b = oneKey
        .select(graft.journal.Replicate.bucketOf(col("id")).as("b"))
        .head().getInt(0)
      val t = oneKey.select("topic").head().getString(0)
      s"topic=$t/bucket=$b"
    }
    // every file outside the touched partition is byte-identical (same
    // path, same content); the touched partition was rewritten — for BOTH
    // bucketed tables (the metajournal head rewrite must be O(touched
    // buckets) exactly like the journal, not O(keys))
    for (table <- Seq("journal", "metajournal")) {
      val b = before(table)
      val after = files(table)
      val untouchedBefore = b.filterNot(_._1.startsWith(touchedPrefix))
      val untouchedAfter = after.filterNot(_._1.startsWith(touchedPrefix))
      assert(untouchedBefore == untouchedAfter, s"$table: untouched changed")
      assert(b.keys.exists(_.startsWith(touchedPrefix)), s"$table: no touched")
      assert(
        b.view.filterKeys(_.startsWith(touchedPrefix)).toMap !=
          after.view.filterKeys(_.startsWith(touchedPrefix)).toMap,
        s"$table: touched partition not rewritten"
      )
    }
    a.unpersist()
  }

  test("purging a bucket's only journal removes its partition (no stale rows)") {
    val sp = spark
    import sp.implicits._
    val tmp = Files.createTempDirectory("graft-purge-part").toString
    def row(k: Long, action: String, seq: Option[Long]) =
      ("t9", 0, k, "solo", action,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        seq, Option.empty[Long], Some(1.0),
        Option.empty[String], Option.empty[String], Option.empty[Array[Byte]],
        Option.empty[String], "o", "1.0.0", Option.empty[String])
    def df(rows: Seq[(String, Int, Long, String, String, java.sql.Timestamp,
        Option[Long], Option[Long], Option[Double], Option[String],
        Option[String], Option[Array[Byte]], Option[String], String, String,
        Option[String])]) =
      rows.toDF("topic", "part_no", "koffset", "id", "action", "ts",
        "seq_nr", "delete_to", "payload", "payload_type", "payload_txt",
        "payload_bin", "tags_csv", "origin", "version", "metadata")
    StreamingReplicator.applyBatch(spark, tmp,
      df(Seq(row(0, "append", Some(1L)), row(1, "append", Some(2L)))))
    assert(StreamingReplicator.readStore(spark, tmp).journal.count() == 2)
    StreamingReplicator.applyBatch(spark, tmp, df(Seq(row(2, "purge", None))))
    val st = StreamingReplicator.readStore(spark, tmp)
    assert(st.journal.count() == 0)
    assert(st.metajournal.count() == 0)
    // the stream must survive a FULLY-purged store (no parquet files left
    // under journal/) and accept the next batch
    StreamingReplicator.applyBatch(spark, tmp, df(Seq(row(3, "append", Some(1L)))))
    val st2 = StreamingReplicator.readStore(spark, tmp)
    assert(st2.journal.count() == 1)
    assert(st2.metajournal.count() == 1)
  }

  test("F6: read correlates meta_record_id and drops orphan rows") {
    import org.apache.spark.sql.functions.lit
    val a = actions.cache()
    val st = Replicate.compute(a)
    val n = st.journal.count()
    // journal rows are stamped with their head's record_id
    assert(st.journal.filter(col("meta_record_id").isNull).count() == 0)
    // inject an orphan: one row carrying a stale (pre-purge) record_id
    val orphan = st.journal.limit(1)
      .withColumn("meta_record_id", lit("stale-generation"))
    val corrupted = st.journal.unionByName(orphan)
    val correlated =
      JournalOps.recordIdCorrelated(corrupted, st.metajournal)
    assert(correlated.count() == n)
    assert(
      correlated.filter(col("meta_record_id") === "stale-generation")
        .count() == 0
    )
    a.unpersist()
  }

  test("streaming resumes from checkpoint and ingests only new files") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-stream-resume").toString
    val inDir = s"$tmp/in"
    val storeDir = s"$tmp/store"
    val ckDir = s"$tmp/ck"
    val cs = chunks(a, 3)
    val schema = a.schema
    // first run: chunks 0 and 1
    cs.take(2).zipWithIndex.foreach { case (c, i) =>
      c.coalesce(1).write.parquet(s"$inDir/chunk_$i")
    }
    val q1 = StreamingReplicator.streamFrom(
      spark, s"$inDir/chunk_*", storeDir, ckDir, schema)
    q1.awaitTermination(120000)
    // second run, same checkpoint: only chunk 2 is new
    cs(2).coalesce(1).write.parquet(s"$inDir/chunk_2")
    val q2 = StreamingReplicator.streamFrom(
      spark, s"$inDir/chunk_*", storeDir, ckDir, schema)
    q2.awaitTermination(120000)
    val got = StreamingReplicator.readStore(spark, storeDir)
    assertStoreEquals(got, Replicate.compute(a))
    a.unpersist()
  }

  test("wire-format streaming ingestion materializes the same store") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-wire-stream").toString
    val wire = graft.sources.KafkaWire.toWire(a)
    wire.coalesce(1).write.parquet(s"$tmp/in/w0")
    val q = StreamingReplicator.streamFromWire(
      spark, s"$tmp/in/w*", s"$tmp/store", s"$tmp/ck", wire.schema)
    q.awaitTermination(120000)
    val got = StreamingReplicator.readStore(spark, s"$tmp/store")
    // wire roundtrip drops event_id/props; compare store tables except the
    // props-derived columns are unaffected (journal/pointer2/metajournal
    // don't read props)
    assertStoreEquals(got, Replicate.compute(a))
    a.unpersist()
  }

  test("wire entry point holds checkpoint restart + redelivery (T1/T2/T4)") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-wire-resume").toString
    val wire = graft.sources.KafkaWire.toWire(a).cache()
    val parts = wire
      .select("partition")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    val splitPart = parts(parts.length / 2)
    val w1 = wire.filter(col("partition") <= splitPart)
    val w2 = wire.filter(col("partition") > splitPart)
    // run 1: the first partition range
    w1.coalesce(1).write.parquet(s"$tmp/in/w0")
    val q1 = StreamingReplicator.streamFromWire(
      spark, s"$tmp/in/w*", s"$tmp/store", s"$tmp/ck", wire.schema)
    q1.awaitTermination(120000)
    // run 2, same checkpoint: the rest PLUS a redelivered copy of run 1's
    // rows under a new filename — the kafka-shaped at-least-once case; the
    // per-partition offset guard (F7) must no-op the duplicates
    w2.coalesce(1).write.parquet(s"$tmp/in/w1")
    w1.coalesce(1).write.parquet(s"$tmp/in/w2_redelivered")
    val q2 = StreamingReplicator.streamFromWire(
      spark, s"$tmp/in/w*", s"$tmp/store", s"$tmp/ck", wire.schema)
    q2.awaitTermination(120000)
    val got = StreamingReplicator.readStore(spark, s"$tmp/store")
    assertStoreEquals(got, Replicate.compute(a))
    wire.unpersist()
    a.unpersist()
  }

  test("structured-streaming replicator materializes the same store") {
    val a = actions.cache()
    val tmp = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$tmp/in"
    val storeDir = s"$tmp/store"
    val ckDir = s"$tmp/ck"
    // write the log as 3 chunk files into the stream source dir
    chunks(a, 3).zipWithIndex.foreach { case (c, i) =>
      c.coalesce(1).write.parquet(s"$inDir/chunk_$i")
    }
    val schema = a.schema
    // stream each chunk dir in order (file source picks up all; AvailableNow
    // drains in bounded micro-batches)
    val q = StreamingReplicator.streamFrom(
      spark, s"$inDir/chunk_*", storeDir, ckDir, schema)
    q.awaitTermination(120000)
    val got = StreamingReplicator.readStore(spark, storeDir)
    assertStoreEquals(got, Replicate.compute(a))
    a.unpersist()
  }

  test("generation swap isolation: every reader-visible state is exactly one committed generation") {
    // The swap protocol's isolation contract, demonstrated state by state:
    // a committing writer passes through four on-disk states between two
    // committed generations, and a reader (readStore → recoverCurrent, the
    // repair path every reader takes) lands on EXACTLY the old or the new
    // committed pointer2 at each of them — never an uncommitted, partial,
    // or mixed generation. (Multi-writer races over these same states are
    // covered by the concurrent-writers spec below.)
    import java.nio.file.{Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._

    def copyTree(src: Path, dst: Path): Unit = {
      val s = Files.walk(src)
      try s.iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      finally s.close()
    }
    def deleteTree(p: Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator()
        .asScala
        .foreach(Files.delete)
      finally s.close()
    }

    val tmp = Files.createTempDirectory("graft-swap-iso")
    val Seq(c1, c2) = chunks(actions, 2)
    StreamingReplicator.applyBatch(spark, tmp.toString, c1)
    def p2Rows(dir: String): Seq[String] =
      StreamingReplicator
        .readStore(spark, dir)
        .pointer2
        .collect()
        .map(_.mkString("|"))
        .sorted
        .toSeq
    val oldRows = p2Rows(tmp.toString)

    // reference: batch 2 fully applied (journal/metajournal overwrite
    // precedes the swap in the real protocol, so the mid-swap states
    // below carry the POST-batch tables — faithful reconstruction)
    val ref = Files.createTempDirectory("graft-swap-ref")
    copyTree(tmp, ref)
    StreamingReplicator.applyBatch(spark, ref.toString, c2)
    val newRows = p2Rows(ref.toString)
    assert(oldRows != newRows, "fixture: batch 2 must move the pointer")

    // builds a store frozen at one protocol state; `build` arranges the
    // generation dirs from oldGen (= batch-1 current, epoch 1) and newGen
    // (= batch-2 current, epoch 2)
    def state(build: (Path, Path, Path) => Unit): Seq[String] = {
      val d = Files.createTempDirectory("graft-swap-state")
      copyTree(ref, d)
      deleteTree(d.resolve("current-2"))
      val oldGen = tmp.resolve("current-1")
      val newGen = ref.resolve("current-2")
      assert(Files.exists(oldGen) && Files.exists(newGen),
        "fixture: applyBatch must produce epoch-named generations")
      build(d, oldGen, newGen)
      p2Rows(d.toString)
    }

    // S1 — next generation written, no _COMMITTED marker yet: the reader
    // must IGNORE it (uncommitted) and stay on the old generation
    val s1 = state { (d, oldGen, newGen) =>
      copyTree(oldGen, d.resolve("current-1"))
      copyTree(newGen.resolve("pointer2"), Paths.get(s"$d/gen-2-1/pointer2"))
    }
    assert(s1 == oldRows)

    // S2 — marker exists but current-1 not yet moved aside: current wins
    // (the commit POINT is the adoption CAS, not the marker; a crash
    // here redelivers the batch and the idempotent merge re-applies)
    val s2 = state { (d, oldGen, newGen) =>
      copyTree(oldGen, d.resolve("current-1"))
      copyTree(newGen.resolve("pointer2"), Paths.get(s"$d/gen-2-1/pointer2"))
      Files.createFile(Paths.get(s"$d/gen-2-1/_COMMITTED"))
    }
    assert(s2 == oldRows)

    // S3 — mid-swap: current-1 moved to old-1-*, committed gen not yet
    // adopted. The reader adopts the committed generation — new rows
    val s3 = state { (d, oldGen, newGen) =>
      copyTree(oldGen, d.resolve("old-1-2"))
      copyTree(newGen.resolve("pointer2"), Paths.get(s"$d/gen-2-1/pointer2"))
      Files.createFile(Paths.get(s"$d/gen-2-1/_COMMITTED"))
    }
    assert(s3 == newRows)

    // S4 — adopted but the superseded old-* not yet swept: new rows
    val s4 = state { (d, oldGen, newGen) =>
      copyTree(newGen, d.resolve("current-2"))
      copyTree(oldGen, d.resolve("old-1-2"))
    }
    assert(s4 == newRows)

    // S5 — legacy pre-epoch layout: a bare `current/` store resolves (and
    // is migrated) without losing its committed pointer
    val s5 = state { (d, oldGen, _) =>
      copyTree(oldGen, d.resolve("current"))
    }
    assert(s5 == oldRows)
  }

  test("two concurrent writers: one loses cleanly, no interleaved generation") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingReplicator.ConcurrentStoreWriteException
    val a = actions.cache()
    val Seq(c1, c2, c3) = chunks(a, 3)
    val tmp = Files.createTempDirectory("graft-mw").toString
    val root = Paths.get(tmp)
    StreamingReplicator.applyBatch(spark, tmp, c1) // epoch 1

    def p2Rows(): Seq[String] =
      StreamingReplicator.readStore(spark, tmp)
        .pointer2.collect().map(_.mkString("|")).sorted.toSeq
    val afterC1 = p2Rows()

    // Writer A mid-flight: epoch-2 claim taken, nothing committed yet
    val (_, e1) = StreamingReplicator.resolveCurrent(tmp)
    assert(e1 == 1L)
    StreamingReplicator.claimEpoch(tmp, 2L, leaseMs = 600000L)

    // Writer B fails FAST at the claim — before any data write; the
    // committed generation is untouched
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.applyBatch(spark, tmp, c2, leaseMs = 600000L)
    }
    assert(p2Rows() == afterC1, "loser must publish nothing")
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 1L)

    // A dies; its lease expires (simulated by back-dating the stamp). B
    // breaks the claim and commits epoch 2.
    Files.write(root.resolve("claim-2"),
      s"dead-writer/0 ${System.currentTimeMillis() - 3600000L}".getBytes("UTF-8"))
    StreamingReplicator.applyBatch(spark, tmp, c2, leaseMs = 600000L)
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 2L)
    val afterC2 = p2Rows()
    assert(afterC2 != afterC1)

    // Zombie A resumes with its stale epoch-1 snapshot and tries to
    // commit: the epoch CAS fences it — clean loss, store unchanged
    val stale = StreamingReplicator.readStore(spark, tmp).pointer2
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.commitGeneration(tmp, basedOnEpoch = 1L, stale,
        writerToken = "zombie-A")
    }
    assert(p2Rows() == afterC2, "fenced zombie must publish nothing")
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 2L)
    // and its staged generation was cleaned up — no gen-* debris remains
    assert(!Files.list(root).iterator().asScala.exists(
      _.getFileName.toString.startsWith("gen-")))

    // Loser-retry convergence: the next writer proceeds normally and the
    // final store equals the sequential application of all three chunks
    StreamingReplicator.applyBatch(spark, tmp, c3)
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 3L)
    assertStoreEquals(
      StreamingReplicator.readStore(spark, tmp),
      Replicate.compute(a)
    )
    a.unpersist()
  }

  test("commit protocol seam: applyBatch routes every protocol op through it; the race holds through the seam") {
    import java.nio.file.Paths
    import graft.streaming.StreamingReplicator.ConcurrentStoreWriteException
    import graft.streaming.{FsCommitProtocol, StoreCommitProtocol}
    val a = actions.cache()
    val Seq(c1, c2) = chunks(a, 2)
    val tmp = Files.createTempDirectory("graft-seam").toString
    val root = Paths.get(tmp)

    // delegating protocol that counts calls: proves the replication logic
    // has NO hardwired filesystem-protocol calls left — an object-store
    // binding swapping this instance intercepts everything
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    class Counting extends StoreCommitProtocol {
      private def n(k: String): Unit = synchronized { calls(k) += 1 }
      def claimEpoch(r: String, e: Long, ms: Long): String = {
        n("claim"); FsCommitProtocol.claimEpoch(r, e, ms)
      }
      def renewClaim(r: String, e: Long, t: String): Unit = {
        n("renew"); FsCommitProtocol.renewClaim(r, e, t)
      }
      def verifyClaim(r: String, e: Long, t: String): Unit = {
        n("verify"); FsCommitProtocol.verifyClaim(r, e, t)
      }
      def releaseClaim(r: String, e: Long, t: String): Unit = {
        n("release"); FsCommitProtocol.releaseClaim(r, e, t)
      }
      def commitGeneration(
          r: String, base: Long,
          p2: org.apache.spark.sql.DataFrame, tok: String): Unit = {
        n("commit"); FsCommitProtocol.commitGeneration(r, base, p2, tok)
      }
      def resolveCurrent(d: String): (String, Long) = {
        n("resolve"); FsCommitProtocol.resolveCurrent(d)
      }
    }
    val counting = new Counting
    StreamingReplicator.applyBatch(spark, tmp, c1, protocol = counting)
    assert(calls("resolve") == 1 && calls("claim") == 1)
    assert(calls("verify") >= 3, s"each mutation + commit must fence: $calls")
    assert(calls("commit") == 1)
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 1L)

    // the two-writer fail-fast law holds when BOTH writers run through
    // explicit seam instances (a mid-flight claim blocks the second)
    StreamingReplicator.claimEpoch(tmp, 2L, leaseMs = 600000L)
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.applyBatch(
        spark, tmp, c2, leaseMs = 600000L, protocol = new Counting)
    }
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 1L)
    a.unpersist()
  }

  test("virgin-store race: the epoch-0→1 adoption is writer-fenced") {
    import java.nio.file.Paths
    import graft.streaming.StreamingReplicator.ConcurrentStoreWriteException
    val a = actions.cache()
    val Seq(c1, c2) = chunks(a, 2)
    val tmp = Files.createTempDirectory("graft-mw0").toString
    val root = Paths.get(tmp)
    Files.createDirectories(root)
    // writer B commits epoch 1 first (its own token)
    val p2b = Replicate.compute(c2).pointer2
    StreamingReplicator.commitGeneration(tmp, 0L, p2b, writerToken = "B")
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 1L)
    def p2Now(): Seq[String] = spark.read
      .parquet(graft.util.Loc.join(
        StreamingReplicator.resolveCurrent(tmp)._1, "pointer2"))
      .collect().map(_.mkString("|")).sorted.toSeq
    val committed = p2Now()
    // zombie A (lease-broken while stalled on the virgin store) tries the
    // same epoch: without the _WRITER fence the old code reported SUCCESS
    // here and A's batch would be checkpoint-acked without ever landing
    val p2a = Replicate.compute(c1).pointer2
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.commitGeneration(tmp, 0L, p2a, writerToken = "A")
    }
    assert(StreamingReplicator.resolveCurrent(tmp)._2 == 1L)
    assert(p2Now() == committed, "B's committed generation must be untouched")
    a.unpersist()
  }

  test("claim lease: renewal extends it, break voids renewal, verify fences writes") {
    import java.nio.file.Paths
    import graft.streaming.StreamingReplicator.ConcurrentStoreWriteException
    val tmp = Files.createTempDirectory("graft-lease").toString
    val root = Paths.get(tmp)
    Files.createDirectories(root)

    // an aged claim whose holder keeps renewing is LIVE: a peer must not
    // break it even though the base stamp is expired
    val staleStamp = System.currentTimeMillis() - 3600000L
    val holder = s"slow-writer/1 $staleStamp"
    Files.write(root.resolve("claim-2"), holder.getBytes("UTF-8"))
    StreamingReplicator.renewClaim(tmp, 2L, holder) // heartbeat
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.claimEpoch(tmp, 2L, leaseMs = 600000L)
    }

    // without a fresh renewal the same aged claim IS breakable
    val tmp2 = Files.createTempDirectory("graft-lease2").toString
    val root2 = Paths.get(tmp2)
    Files.createDirectories(root2)
    Files.write(root2.resolve("claim-2"), holder.getBytes("UTF-8"))
    val breaker = StreamingReplicator.claimEpoch(tmp2, 2L, leaseMs = 600000L)

    // the broken holder's world is fenced: verify fails before any
    // shared-table write, and a late renewal is void
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.verifyClaim(tmp2, 2L, holder)
    }
    intercept[ConcurrentStoreWriteException] {
      StreamingReplicator.renewClaim(tmp2, 2L, holder)
    }
    // the breaker itself still verifies clean
    StreamingReplicator.verifyClaim(tmp2, 2L, breaker)
  }

  test("store-based purgeExpiredApply ≡ actions-based, and scans only the store") {
    import graft.journal.Segments
    val a = actions.cache()
    val asOf = "2024-02-15"
    val viaActions = Segments.purgeExpiredApply(a, asOf)

    // materialize the store the way production would (write + re-read)
    val tmp = Files.createTempDirectory("graft-purge-store").toString
    Replicate.write(Replicate.compute(a), tmp)
    val store = Replicate.read(spark, tmp)
    val viaStore = Segments.purgeExpiredApply(store, asOf)

    // law: the production path over the materialized store produces the
    // exact rows of the oracle path over the raw log
    assert(viaStore.exceptAll(viaActions).count() == 0, "store path: extra rows")
    assert(viaActions.exceptAll(viaStore).count() == 0, "store path: missing rows")

    // plan contract: with a parquet-backed store, every relation the purge
    // reads is a store table — the action log (events parquet) is absent,
    // i.e. no full-log recompute hides anywhere in the plan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = viaStore.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case fs: HadoopFsRelation =>
      fs.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty, "expected parquet scans in the store-path plan")
    assert(
      roots.forall(_.contains(tmp)),
      s"purge plan reads outside the materialized store: $roots"
    )
    a.unpersist()
  }
}
