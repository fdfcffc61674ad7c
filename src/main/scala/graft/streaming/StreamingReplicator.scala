package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.journal.{Replicate, ReplicateFold}
import graft.util.{Blob, Loc}

/** The replicator as a Structured Streaming job (reference
  * replicator/.../TopicReplicator.scala, ConsumeTopic.scala): a stream of
  * action records is folded into the eventual store via `foreachBatch`,
  * which gives the reference's commit-after-write ordering (T1) for free —
  * offsets checkpoint only after the batch's store writes succeed.
  *
  * Source: file stream here (the container has no Kafka broker); swapping
  * in `readStream.format("kafka")` changes ONLY [[streamFrom]] — the merge
  * body is source-agnostic. Sink: `(topic, bucket)`-partitioned parquet
  * journal AND metajournal mutated INCREMENTALLY (only the batch's touched
  * partitions are read and rewritten — O(touched partitions), which is
  * O(store) once a batch spreads over every bucket: a 1000-action Zipf
  * chunk over 300 journals touches all 65 partitions the store holds, and
  * one new one) plus
  * the tiny pointer2 table behind an atomic generation swap; on Delta/Iceberg
  * the same logical plan is a transactional MERGE INTO (the 100 TB
  * deployment shape — documented as SURVEY §7.4 risk 1).
  *
  * Exactly-once (T2) = at-least-once delivery (checkpoint replay) +
  * idempotent merge ([[Replicate.mergeBatch]]'s pointer2 offset guard):
  * a redelivered micro-batch is a no-op. Poison records stall the query
  * (exception propagates, T4's stall-don't-skip) rather than being dropped.
  */
object StreamingReplicator {

  /** Applies one micro-batch to the store — O(touched partitions). Also
    * the test seam: batches can be fed directly.
    *
    * Shape: one collect over the cached batch yields its touched
    * partitions and per-partition offsets (after the pointer2 offset
    * guard); the touched partitions' stored rows, read under their
    * declared [[Replicate.Layout]], and the batch are folded in ONE keyed
    * pass ([[ReplicateFold]]), checkpointed once and written as one data
    * file per touched partition per table; pointer2 is merged on the
    * driver and committed as a local relation. About 7 Spark jobs per
    * batch.
    *
    * Layout: the journal AND the metajournal live at `storeDir/journal` /
    * `storeDir/metajournal`, both partitioned by `(topic, bucket)`
    * ([[Replicate.bucketOf]] — one journal's event rows and its single
    * head row always share a partition key). A batch reads ONLY the
    * partitions of the journals it touches (partition pruning on the
    * collected touched set) and rewrites ONLY those via dynamic partition
    * overwrite — untouched partition files are never opened or rewritten,
    * so per-batch cost scales with the number of partitions the batch
    * touches, which is the whole store when its keys spread over every
    * bucket. At 10⁸–10⁹ journals the metajournal is itself a
    * large table (the reference upserts exactly the touched keys,
    * ReplicatedCassandra.scala:186-260); bucketing bounds each batch's
    * head rewrite to the touched buckets' heads — the bucket count
    * ([[Replicate.DefaultBuckets]], reference Segments.default=10000) is
    * the granularity knob, and on Delta/Iceberg the same logical plan is
    * an exact per-key MERGE INTO. Only pointer2 (one row per Kafka
    * partition — genuinely tiny) stays whole behind the committed-
    * generation swap.
    *
    * Crash safety: the pointer2 write (inside the generation swap, last)
    * is the commit point. Any crash before it leaves the old pointer2, so
    * the checkpointed batch is REDELIVERED and the merge re-applies — the
    * journal partition rewrite is content-idempotent (appends dedup on
    * (topic,id,seq_nr), deletes/purges are monotone) and so is the
    * metajournal's ([[Replicate.mergeBatch]]'s head combine is monotone
    * max/least/coalesce per column; purge-then-recreate reproduces the
    * identical recreated row), so half-written partitions converge. A
    * missing `current/` never silently bootstraps an empty store
    * ([[recoverCurrent]]) — that would let the offset guard discard all
    * previously replicated state, breaking exactly-once.
    *
    * Isolation + concurrency contract (MULTI-WRITER safe): the committed
    * generation lives in an EPOCH-NAMED directory (`current-<E>`), so
    * adopting epoch E+1 requires atomically renaming `current-<E>` away —
    * a filesystem compare-and-swap only one writer can win; a stale
    * writer (one that snapshotted epoch E after the store advanced) finds
    * no `current-<E>` to move and fails cleanly
    * ([[ConcurrentStoreWriteException]]) without publishing anything.
    * Ahead of the data writes, writers take a lease-style CLAIM on the
    * epoch they intend to produce (`claim-<E+1>`, created atomically —
    * the analogue of the reference's expiring CassandraSync lock,
    * cassandra/.../CassandraSync.scala): a second writer targeting the
    * same epoch fails fast, before touching the bucketed tables; a claim
    * whose holder died is breakable after `leaseMs` (rename-to-unique
    * break, itself race-safe); a LIVE holder running a long batch
    * heartbeats via [[renewClaim]] (CREATE_NEW side-files, no in-place
    * rewrite to race the breaker's tombstone), so slow ≠ dead. A zombie
    * holder resumed past its broken lease is fenced BEFORE each
    * shared-table mutation ([[verifyClaim]] precedes every
    * overwriteTouched and the commit) and its COMMIT is fenced by the
    * epoch CAS (including the virgin-store epoch-0→1 adoption, which
    * CASes on the staged generation's `_WRITER` tag since there is no
    * `current-0` to rename). The residual window — a break landing inside
    * an in-flight overwrite job — leaves exactly crash-shaped leftovers,
    * converged by the redelivered batch's idempotent merge; a
    * transactional table format closes even that. A reader resolving the
    * store through [[recoverCurrent]] at ANY point sees exactly one
    * committed generation — never an uncommitted, partial, or mixed
    * pointer2 (ReplicatorSpec walks every intermediate on-disk state AND
    * the two-writer race). On Delta/Iceberg this paragraph is the table
    * format's optimistic-concurrency commit; here it is atomic directory
    * renames around the `_COMMITTED` marker.
    *
    * The whole contract above flows through the [[StoreCommitProtocol]]
    * seam (`protocol` param; default [[FsCommitProtocol]]) — see that
    * trait for the STORAGE contract (atomic rename + CREATE_NEW; POSIX/
    * HDFS/NFS yes, S3-class object stores NO) and what an object-store
    * or table-format binding must provide instead.
    */
  def applyBatch(
      spark: SparkSession,
      storeDir: String,
      batch: DataFrame,
      leaseMs: Long = DefaultLeaseMs,
      protocol: StoreCommitProtocol = FsCommitProtocol
  ): Unit = {
    val (cur, epoch) = protocol.resolveCurrent(storeDir)
    val root = storeDir
    Blob.mkdirs(root)
    val claimToken = protocol.claimEpoch(root, epoch + 1, leaseMs)
    val batchC = batch.cache()
    // lease heartbeat for the WHOLE batch — the long phases are the fold,
    // the two overwrite jobs and the commit, which a single pre-write
    // renewal would not cover: a healthy-but-slow writer would read as
    // dead at leaseMs and two contending slow writers would break each
    // other forever. A renewal failure means the lease was already
    // broken; the next verifyClaim fences the mutation, so the heartbeat
    // only stops.
    val heartbeat = new java.util.concurrent.ScheduledThreadPoolExecutor(
      1,
      (r: Runnable) => {
        val t = new Thread(r, "graft-claim-heartbeat"); t.setDaemon(true); t
      }
    )
    heartbeat.scheduleAtFixedRate(
      () =>
        try protocol.renewClaim(root, epoch + 1, claimToken)
        catch { case _: Throwable => () },
      math.max(leaseMs / 3, 1L),
      math.max(leaseMs / 3, 1L),
      java.util.concurrent.TimeUnit.MILLISECONDS
    )
    try {
      val storedP2 =
        if (Blob.exists(cur))
          spark.read.schema(Replicate.Layout.pointer2)
            .parquet(Loc.join(cur, "pointer2")).collect().toSeq
        else Seq.empty
      val next = ReplicateFold.nextOffsets(storedP2)
      val touched = ReplicateFold.touches(batchC, next)
      if (touched.isEmpty) {
        protocol.releaseClaim(root, epoch + 1, claimToken)
        return
      }
      // only partitions the guard admitted rows into change; a wholly
      // redelivered batch rewrites nothing and commits pointer2 as it was
      val parts = touched.filter(_.rows > 0).map(t => (t.topic, t.bucket)).distinct
      if (parts.nonEmpty) {
        // each table with its touched partitions' data files before the write
        val tables = Seq(
          Table(Loc.join(storeDir, "journal"), Replicate.Layout.journal, ReplicateFold.journalOf),
          Table(Loc.join(storeDir, "metajournal"), Replicate.Layout.metajournal, ReplicateFold.metajournalOf)
        ).map(t => t -> parts.map(p => p -> dataFiles(partDir(t.dir, p))).toMap)
        val Seq(journal, metajournal) = tables.map { case (t, files) =>
          scan(spark, t.dir, t.layout, parts.flatMap(files))
        }
        val slots = math.max(1, math.min(spark.sparkContext.defaultParallelism, parts.size))
        val folded = ReplicateFold.fold(journal, metajournal, batchC, next, slots)
          .localCheckpoint(true)
        try tables.foreach { case (t, files) =>
          // ownership fence before EACH shared-table mutation: a writer
          // whose lease was broken anyway (heartbeat lost the race, or the
          // process stalled long enough for renewals to stop) fails here,
          // before clobbering the breaker's bucket files
          protocol.verifyClaim(root, epoch + 1, claimToken)
          overwriteTouched(t.dir, t.of(folded), parts, files)
        }
        // checkpoint blocks die with the batch, not with a later GC cycle
        // (Dataset.unpersist is a no-op for checkpointed frames)
        finally graft.pipeline.Eager.releaseCheckpoint(folded)
      }

      protocol.verifyClaim(root, epoch + 1, claimToken)
      protocol.commitGeneration(root, epoch,
        spark.createDataFrame(
          java.util.Arrays.asList(ReplicateFold.pointer2(storedP2, touched): _*),
          Replicate.Layout.pointer2
        ).coalesce(1),
        claimToken)
    } catch {
      // a failure BEFORE the commit leaves the claim held; release it so a
      // peer need not wait out the lease (crash = lease expiry handles it).
      // Owner-checked: if our own lease expired mid-write and a breaker
      // already re-claimed this epoch, the file now carries THEIR token —
      // deleting it would unserialize two live writers' data writes
      case e: Throwable =>
        if (!e.isInstanceOf[ConcurrentStoreWriteException])
          protocol.releaseClaim(root, epoch + 1, claimToken)
        throw e
    } finally {
      heartbeat.shutdownNow()
      batchC.unpersist(false)
    }
  }

  /** Stages `pointer2` as generation `basedOnEpoch + 1` and adopts it via
    * the epoch CAS. Throws [[ConcurrentStoreWriteException]] — publishing
    * nothing — if another writer advanced the store first.
    */
  def commitGeneration(
      root: String,
      basedOnEpoch: Long,
      pointer2: DataFrame,
      writerToken: String
  ): Unit = {
    require(
      writerToken.nonEmpty,
      "writerToken must identify the committing writer — the virgin-store " +
        "adoption fence compares it (an empty token would make two racing " +
        "epoch-0 writers indistinguishable and re-open the silent-loss bug)"
    )
    val nextEpoch = basedOnEpoch + 1
    // a dead claimant of THIS epoch may have left a committed-but-unadopted
    // gen; the live claim holder owns the epoch exclusively, so sweep it
    genDirs(root).filter(_._2 == nextEpoch).foreach(g => Blob.deleteTree(g._1))
    val next = Loc.join(root, s"gen-$nextEpoch-${System.nanoTime()}")
    pointer2.write.mode(SaveMode.Overwrite)
      .parquet(Loc.join(next, "pointer2"))
    // the writer identity rides with the staged gen: the virgin-store
    // adoption (no current-0 to CAS on) fences on it — see adoptGeneration
    Blob.writeBytes(Loc.join(next, WriterTag), writerToken.getBytes("UTF-8"))
    Blob.writeBytes(Loc.join(next, Committed), Array.emptyByteArray)
    adoptGeneration(root, basedOnEpoch, next, writerToken)
  }

  /** The commit CAS: move `current-<E>` aside (only one writer can — the
    * rename fails for everyone else), then adopt the staged generation as
    * `current-<E+1>`. On loss the staged directory is deleted; the caller
    * sees [[ConcurrentStoreWriteException]] and must re-read the store
    * before retrying (its merge was based on a superseded snapshot).
    *
    * Virgin store (basedOnEpoch = 0): there is no `current-0` to move, so
    * the CAS is the `move(staged, current-1)` itself — if `current-1`
    * already exists the move fails, and whether that is success or loss
    * is decided by the `_WRITER` tag inside it: OUR token means a
    * reader's crash-repair adopted our own staged gen (success); any
    * other token means a lease-breaking peer committed first (loss —
    * without this fence a zombie would silently report success for a
    * batch the peer actually committed, and the zombie's batch would be
    * checkpoint-acked without ever reaching the store).
    */
  private def adoptGeneration(
      root: String,
      basedOnEpoch: Long,
      staged: String,
      writerToken: String
  ): Unit = {
    val nextEpoch = basedOnEpoch + 1
    val cur = Loc.join(root, s"current-$basedOnEpoch")
    if (basedOnEpoch != 0L) {
      val o = Loc.join(root, s"old-$basedOnEpoch-${System.nanoTime()}")
      // the destination is unique, so a failed rename means the source is
      // gone: another writer moved current-<E> aside first — the CAS loss
      if (!Blob.move(cur, o)) {
        Blob.deleteTree(staged)
        throw new ConcurrentStoreWriteException(
          s"epoch $basedOnEpoch already superseded — another writer " +
            "committed first; re-read the store and retry")
      }
    }
    val adopted = Loc.join(root, s"current-$nextEpoch")
    if (!Blob.move(staged, adopted)) {
      if (!Blob.exists(adopted))
        throw new java.io.IOException(
          s"adopting $staged as $adopted failed with no competing adoption " +
            "present — storage refused the rename")
      if (!readTag(adopted).contains(writerToken)) {
        // a DIFFERENT writer's generation sits at our target epoch —
        // only reachable on the virgin-store path (old CAS passed
        // vacuously); publish nothing and surface the loss
        Blob.deleteTree(staged)
        throw new ConcurrentStoreWriteException(
          s"epoch $nextEpoch already committed by another writer — " +
            "re-read the store and retry")
      }
      // our own staged gen was adopted by a reader's crash-repair:
      // the generation IS current — success
    }
    // The generation moved aside by THIS commit (old-<basedOnEpoch>) is
    // RETAINED for one commit cycle: a reader that resolved the old epoch
    // just before the CAS can still be scanning its files (the DirSwap
    // grace model applied to the protocol). Sweep only the generations
    // superseded by EARLIER commits — they have had their cycle.
    named(root, "old-").filter(_._2 < basedOnEpoch)
      .foreach(o => Blob.deleteTree(o._1))
    // claims at or below the adopted epoch are spent
    claimFiles(root).filter(_._2 <= nextEpoch).foreach(c => Blob.deleteIfExists(c._1))
  }

  private def readTag(gen: String): Option[String] =
    try Some(new String(Blob.readBytes(Loc.join(gen, WriterTag)), "UTF-8"))
    catch { case _: java.io.IOException => None }

  /** Takes the lease-style claim on `epoch`: atomic create of
    * `claim-<epoch>` (content: writer id + wall millis). An existing live
    * claim → [[ConcurrentStoreWriteException]] (fail fast, before any
    * data write). An expired claim (holder presumed dead after `leaseMs`)
    * is broken by ONE conditional-PUT ([[graft.util.Blob.putIfMatch]])
    * guarded by the exact content judged expired — two breakers cannot
    * both win, and a fresh claim re-issued in between no longer matches
    * and is never displaced.
    */
  def claimEpoch(root: String, epoch: Long, leaseMs: Long): String = {
    val claim = Loc.join(root, s"claim-$epoch")
    val me =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}/" +
        s"${Thread.currentThread().getId} ${System.currentTimeMillis()}"
    def tryCreate(): Boolean = Blob.createNew(claim, me.getBytes("UTF-8"))
    if (!tryCreate()) {
      val holder =
        try Some(new String(Blob.readBytes(claim), "UTF-8"))
        catch { case _: java.io.IOException => None } // being written: live
      val stampedAt = holder
        .map { h =>
          val base =
            try h.trim.split(" ").last.toLong
            catch { case _: Exception => Long.MaxValue }
          math.max(base, newestRenewal(root, epoch, h))
        }
        .getOrElse(Long.MaxValue)
      val expired = System.currentTimeMillis() - stampedAt > leaseMs
      // ONE compare-and-replace of the exact claim judged expired with
      // ours: two breakers cannot both win (the second's expectation no
      // longer matches), and on CAS-capable backends (plain paths and
      // file:// via the file-locked nio CAS, a conditional-PUT object
      // store) the slot is never vacated in between — the round-15
      // displace-verify-restore race class gone by construction. On HDFS
      // the blob layer emulates with the pre-read-guarded rename dance
      // (crash-scale residual, fenced at the holder's next verify).
      val broke = expired && holder.exists { h =>
        Blob.putIfMatch(claim, h.getBytes("UTF-8"), me.getBytes("UTF-8"))
      }
      if (!broke)
        throw new ConcurrentStoreWriteException(
          s"epoch $epoch is claimed by a live writer — concurrent " +
            "replication detected; retry after it commits or its lease expires")
    }
    me
  }

  /** Newest renewal stamp for `holderToken`'s claim on `epoch` (renewals
    * by superseded holders are ignored: their token no longer matches).
    */
  private def newestRenewal(
      root: String,
      epoch: Long,
      holderToken: String
  ): Long =
    Blob.children(root)
      .filter(Loc.name(_).startsWith(s"claim-$epoch.r-"))
      .flatMap { p =>
        try {
          val content = new String(Blob.readBytes(p), "UTF-8")
          if (content.startsWith(holderToken + " renew "))
            content.split(" ").lastOption.flatMap(_.toLongOption)
          else None
        } catch { case _: java.io.IOException => None }
      }
      .foldLeft(Long.MinValue)(math.max)

  /** Verifies this writer still holds the claim on `epoch` — called
    * immediately before every shared-table mutation, so a writer whose
    * lease was broken while it stalled fails BEFORE clobbering the
    * breaker's bucket files instead of after. (The residual window — a
    * breaker landing between this check and the write job's commit — is
    * the irreducible cost of lease-based fencing on a plain filesystem;
    * shrinking it to per-write granularity plus [[renewClaim]] heartbeats
    * makes it a crash-scale event, converged like any crash leftover. A
    * table format with transactional commits closes it entirely.)
    */
  def verifyClaim(root: String, epoch: Long, token: String): Unit = {
    val held =
      try new String(
        Blob.readBytes(Loc.join(root, s"claim-$epoch")), "UTF-8") == token
      catch { case _: java.io.IOException => false }
    if (!held)
      throw new ConcurrentStoreWriteException(
        s"claim on epoch $epoch was lease-broken while this writer " +
          "stalled — publishing nothing; the batch redelivers")
  }

  /** Heartbeat for slow batches: extends the holder's lease so a
    * legitimately long merge is not presumed dead at `leaseMs`. A renewal
    * is a CREATE_NEW side-file (`claim-<E>.r-<nano>`, content
    * `token renew <millis>`) — no in-place rewrite, so it cannot race a
    * breaker's tombstone rename; [[claimEpoch]]'s expiry check reads the
    * newest renewal carrying the CURRENT holder's token. The renewal is
    * verified against the base claim AFTER it lands: if the base was
    * broken in the meantime the renewal is void and the (now fenced)
    * holder learns immediately.
    */
  def renewClaim(root: String, epoch: Long, token: String): Unit = {
    Blob.createNew(
      Loc.join(root, s"claim-$epoch.r-${System.nanoTime()}"),
      s"$token renew ${System.currentTimeMillis()}".getBytes("UTF-8")
    ): Unit // nanotime-unique — collisions impossible
    verifyClaim(root, epoch, token)
  }

  /** Deletes `claim-<epoch>` ONLY if it still carries `token`: ONE
    * compare-and-delete ([[graft.util.Blob.deleteIfMatch]]), so a release
    * landing after a stall cannot remove a claim a lease-breaker has
    * since re-issued under its own token (the read-then-delete TOCTOU
    * window the conditional primitive closes). The holder's own renewal
    * side-files go with it.
    */
  def releaseClaim(root: String, epoch: Long, token: String): Unit = {
    val claim = Loc.join(root, s"claim-$epoch")
    if (Blob.deleteIfMatch(claim, token.getBytes("UTF-8")))
      Blob.children(root)
        .filter(Loc.name(_).startsWith(s"claim-$epoch.r-"))
        .foreach(Blob.deleteIfExists)
  }

  /** One bucketed table: its directory, its declared layout and how to
    * read its rows off a folded frame.
    */
  private final case class Table(
      dir: String,
      layout: org.apache.spark.sql.types.StructType,
      of: DataFrame => DataFrame
  )

  private def partDir(dir: String, p: (String, Int)): String = {
    val escape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    Loc.join(Loc.join(dir, s"topic=${escape(p._1)}"), s"bucket=${p._2}")
  }

  /** The data files Spark reads in one partition directory. */
  private def dataFiles(part: String): Seq[String] =
    Blob.children(part).filter { f =>
      val n = Loc.name(f)
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The rows of `files` (data files of `dir`'s partitions) under the
    * declared `layout`: no schema-inference job, and no listing job —
    * each read names at most the partition-discovery threshold of paths,
    * which Spark lists on the driver.
    */
  private def scan(
      spark: SparkSession,
      dir: String,
      layout: org.apache.spark.sql.types.StructType,
      files: Seq[String]
  ): DataFrame = {
    val perRead = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), layout)
    else
      files
        .grouped(math.max(1, perRead))
        .map(g => spark.read.schema(layout).option("basePath", dir).parquet(g: _*))
        .reduce(_.unionByName(_))
  }

  /** Replaces ONLY the touched `(topic, bucket)` partitions of the table
    * at `dir` with their rows in `rows` (dynamic partition overwrite;
    * every partition sits in one task of the folded frame, so it gets one
    * file). `before` holds each partition's data files before the write.
    */
  private def overwriteTouched(
      dir: String,
      rows: DataFrame,
      parts: Seq[(String, Int)],
      before: Map[(String, Int), Seq[String]]
  ): Unit = {
    rows.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("topic", "bucket")
      .parquet(dir)
    // dynamic overwrite cannot emit an EMPTY partition: a touched
    // partition whose journals were all purged keeps its stale files (no
    // new file landed in it) — drop those explicitly (re-running after a
    // crash converges: the redelivered purge deletes again)
    parts.foreach { p =>
      val part = partDir(dir, p)
      if (dataFiles(part).forall(before(p).contains) && Blob.exists(part))
        Blob.deleteTree(part)
    }
  }

  /** Assembles the store from its on-disk layout (bucketed journal +
    * current head-table generation), repairing crash leftovers first.
    */
  def readStore(
      spark: SparkSession,
      storeDir: String,
      protocol: StoreCommitProtocol = FsCommitProtocol
  ): Replicate.Store = {
    val cur = protocol.resolveCurrent(storeDir)._1
    def bucketed(name: String, layout: org.apache.spark.sql.types.StructType): DataFrame = {
      val dir = Loc.join(storeDir, name)
      if (Blob.hasParquet(dir)) spark.read.schema(layout).parquet(dir).drop("bucket")
      else
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), layout).drop("bucket")
    }
    Replicate.Store(
      journal = bucketed("journal", Replicate.Layout.journal),
      metajournal = bucketed("metajournal", Replicate.Layout.metajournal),
      pointer2 = spark.read.schema(Replicate.Layout.pointer2).parquet(Loc.join(cur, "pointer2"))
    )
  }

  private val Committed = "_COMMITTED"
  private val WriterTag = "_WRITER"

  /** Multi-writer loss signal: the store advanced past the snapshot this
    * writer merged against (or a live peer holds the epoch claim). The
    * loser has published NOTHING to the committed generation; re-read the
    * store and re-apply — with Structured Streaming the failed batch is
    * simply redelivered and the idempotent merge converges.
    *
    * The class itself lives in [[graft.util.ConcurrentStoreWriteException]]
    * so the DirSwap-store maintainer fence ([[graft.util.MaintainerLease]])
    * throws the SAME loss signal without the util layer depending on the
    * streaming one; this alias keeps the established import site.
    */
  type ConcurrentStoreWriteException = graft.util.ConcurrentStoreWriteException

  /** How long a writer's epoch claim is honored after its last stamp —
    * past this it is presumed dead and its claim breakable (the
    * reference's CassandraSync lock expiry analogue).
    */
  val DefaultLeaseMs: Long = 10L * 60 * 1000

  /** `(location, epoch[, stamp])` views of the generation-protocol entries. */
  private def named(root: String, prefix: String): Seq[(String, Long)] =
    Blob.children(root)
      .flatMap { p =>
        val n = Loc.name(p)
        if (n.startsWith(prefix))
          n.stripPrefix(prefix).split("[-.]")(0).toLongOption.map(p -> _)
        else None
      }
  private def genDirs(root: String): Seq[(String, Long)] = named(root, "gen-")
  private def claimFiles(root: String): Seq[(String, Long)] =
    named(root, "claim-")

  /** Back-compat name: resolves (and if necessary repairs) the committed
    * generation, returning its directory.
    */
  def recoverCurrent(storeDir: String): String = resolveCurrent(storeDir)._1

  /** Resolves (and if necessary repairs) the committed generation:
    * `(current-<E> path, E)`; epoch 0 = virgin store (path won't exist).
    *
    * Crash windows of [[applyBatch]] and their recovery:
    *   - during a generation write (no marker yet): `current-<E>` intact —
    *     the unmarked `gen-*` belongs to a dead OR LIVE writer; left for
    *     the epoch's claim holder to sweep ([[commitGeneration]])
    *   - staged + marker, `current-<E>` not yet moved aside: reader stays
    *     on `current-<E>` (the commit POINT is the adoption CAS, not the
    *     marker); the stale gen is swept by the next claimant of E+1
    *   - between `move(current-<E>, old)` and `move(gen, current-<E+1>)`:
    *     no `current-*`; the newest COMMITTED `gen-*` is adopted under its
    *     own epoch name (its `old-*` twin is then garbage)
    *   - adopted but `old-*`/spent claims unswept: swept here
    *
    * Legacy (pre-epoch) layout: a bare `current/` migrates to
    * `current-1`.
    */
  def resolveCurrent(storeDir: String): (String, Long) = {
    val root = storeDir
    if (!Blob.exists(root)) return (Loc.join(root, "current-0"), 0L)

    val legacy = Loc.join(root, "current")
    if (Blob.exists(legacy)) {
      val migrated = Loc.join(root, "current-1")
      // a failed rename = a concurrent resolver migrated it first — the
      // layout is epoch-named either way (read paths never crash on
      // this). But if NEITHER the migrated name nor a vanished source
      // explains the failure, the rename failed for a storage reason: a
      // POPULATED legacy store must fail loudly, not resolve as virgin
      // (round-15 advice)
      if (!Blob.move(legacy, migrated) && !Blob.exists(migrated) &&
          Blob.exists(legacy))
        throw new java.io.IOException(
          s"migrating legacy layout $legacy to $migrated failed with no " +
            "concurrent migration present — storage refused the rename")
    }

    named(root, "current-").maxByOption(_._2) match {
      case Some((p, e)) =>
        // old-* more than one epoch below the committed one and gens
        // at/below it are spent — old-<e-1> (the generation the CURRENT
        // commit moved aside) keeps its one-commit-cycle reader grace
        // even across resolves (adoptGeneration's retention would
        // otherwise be undone by the first reader to resolve).
        // Unmarked gens at/below e are swept too: epoch ge <= e was won
        // (by someone), so a marker-less gen-<ge> is a dead writer's
        // partial staging that no claimant will ever sweep otherwise
        named(root, "old-").filter(_._2 < e - 1).foreach(o => Blob.deleteTree(o._1))
        genDirs(root)
          .filter { case (_, ge) => ge <= e }
          .foreach(g => Blob.deleteTree(g._1))
        claimFiles(root).filter(_._2 <= e).foreach(c => Blob.deleteIfExists(c._1))
        (p, e)
      case None =>
        val committed = genDirs(root)
          .filter { case (g, _) => Blob.exists(Loc.join(g, Committed)) }
          .sortBy { case (g, e) => (e, Loc.name(g)) }
        committed.lastOption match {
          case Some((g, e)) =>
            val target = Loc.join(root, s"current-$e")
            // a failed rename with the target present = a concurrent
            // repair beat us to the same adoption — fine
            if (!Blob.move(g, target) && !Blob.exists(target))
              throw new java.io.IOException(
                s"adopting committed generation $g as $target failed")
            resolveCurrent(storeDir)
          case None =>
            // no committed generation anywhere: only reachable if markers
            // were removed externally; the newest old-* still holds the
            // last committed store (re-adopted under its epoch name)
            named(root, "old-").sortBy(_._2).lastOption match {
              case Some((o, e)) =>
                val target = Loc.join(root, s"current-$e")
                if (!Blob.move(o, target) && !Blob.exists(target))
                  throw new java.io.IOException(
                    s"re-adopting $o as $target failed")
                resolveCurrent(storeDir)
              case None => (Loc.join(root, "current-0"), 0L)
            }
        }
    }
  }

  /** Runs the replicator over a stream of KAFKA-SHAPED records (key /
    * value bytes / `journal.action` header — the exact columns
    * `readStream.format("kafka")` yields): decodes each micro-batch with
    * [[graft.sources.KafkaWire.fromWire]] and merges. This is the
    * production entry point; the file stream stands in for the broker.
    */
  def streamFromWire(
      spark: SparkSession,
      inputDir: String,
      storeDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType
  ): StreamingQuery = {
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(
          batch.sparkSession,
          storeDir,
          graft.sources.KafkaWire.fromWire(batch)
        )
      }
      .start()
  }

  /** Runs the replicator over a parquet file stream of action records.
    * `Trigger.AvailableNow` drains what exists and stops — the batch-ingest
    * mode. The standalone replicator for one store: [[Deployment.tick]]
    * feeds [[applyBatch]] from its one shared stream instead.
    */
  def streamFrom(
      spark: SparkSession,
      inputDir: String,
      storeDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType
  ): StreamingQuery = {
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, storeDir, batch)
      }
      .start()
  }
}
