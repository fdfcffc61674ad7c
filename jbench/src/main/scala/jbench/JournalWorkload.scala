package jbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{Deployment, StreamingHeadCache, StreamingSnapshots}

/** The `journal` workload: a seeded action log replicated by
  * `Deployment.tick`, read back through `api.Journal`.
  *
  * Set-up generates the history and builds the deployment from it with
  * one catch-up tick, then warms the read path with one recovery and one
  * pointer read. The timed region has two phases:
  *
  *   1. ingest — a new chunk lands and one tick replicates it; the client
  *      then recovers a journal the chunk touched (read-your-writes);
  *   2. recovery — until the time is up, the client recovers journals
  *      drawn with Zipf skew (the first read also takes the pointer): two
  *      in three hold an unreplicated tail in the head cache, one in three
  *      is absent from the head cache (the log's eventual leg only).
  *
  * Every read is compared with a plain-Scala model of each journal.
  */
object JournalWorkload {
  // Traffic dimensions. The action mix is the repository's (see LogGen).
  // The sizes are set by the time budget: a run, cold catch-up tick
  // included, has to stay near a minute. 300 journals under a Zipf(1.1)
  // draw leave, after a 1000-action chunk, both hot journals with an
  // unreplicated tail and cold ones absent from the head cache. A
  // 1000-action tick pays mostly the fixed cost of its loops, so
  // `tick_p50_s` weighs per-tick overhead far above per-action cost.
  val Journals = 300
  val Skew = 1.1
  val ChunkActions = 1000
  val MinRecoveryReads = 3
  /** The recovery operations, by kind: read-your-writes after the tick,
    * then the recovery phase's two strata.
    */
  val Recoveries = Seq("fresh_recover", "recover_unreplicated", "recover_head_absent")
  /** The role readings, under the names of the layers they measure here. */
  val LayerNames: Map[String, String] = Map(
    "tick.maintenance_s" -> "streaming.tick.maintenance_s",
    "tick.stream_overhead_s" -> "streaming.tick.stream_overhead_s",
    "tick.streams_started" -> "streaming.tick.streams_started",
    "tick.jobs" -> "streaming.tick.jobs",
    "tick.shuffle_bytes" -> "streaming.tick.shuffle_bytes",
    "tick.spill_bytes" -> "streaming.tick.spill_bytes",
    "tick.rows_read_per_row_arrived" -> "streaming.tick.rows_read_per_action",
    "read.jobs" -> "api.recover.jobs",
    "read.stages" -> "api.recover.stages",
    "read.tasks" -> "api.recover.tasks",
    "read.scan_bytes" -> "api.recover.scan_bytes",
    "read.rows_scanned_per_row_returned" -> "api.recover.rows_scanned_per_row_returned")

  def run(spark: SparkSession, work: String, seed: Long, seconds: Int, run: Run): Report = {
    val tracer = run.tracer
    val gen = new LogGen(seed, Journals, Skew)
    val draw = new scala.util.Random(seed ^ 0x5deece66dL)
    val inDir = s"$work/in"
    val glob = s"$inDir/chunk_*"
    var chunks = 0
    def drop(): Seq[Row] = {
      val rows = gen.chunk(ChunkActions)
      gen.write(spark, rows, f"$inDir/chunk_$chunks%04d")
      chunks += 1
      rows
    }
    val dep = Deployment(s"$work/dep")
    def journal = graft.api.Journal(spark, spark.read.schema(LogGen.schema).parquet(glob))
    var compactions = 0L

    def tick(timed: Boolean): Unit =
      run.op("tick", timed)(dep.tick(spark, glob, LogGen.schema).collect()) { rows =>
        if (timed) compactions += rows.count(_.getAs[Boolean]("compacted"))
        true
      }

    def pointer(j: Int, timed: Boolean): Unit = {
      val (t, id) = gen.key(j)
      val want = gen.models(j).pointer
      run.op("pointer", timed)(journal.pointerCached(t, id, dep.headDir).collect()) { rows =>
        rows.map(_.getLong(0)).toSeq == want.toSeq
      }
    }

    var rowsReturned = 0L // by traced, timed recoveries
    def recover(j: Int, kind: String, timed: Boolean): Unit = {
      val (t, id) = gen.key(j)
      val m = gen.models(j)
      run.op(kind, timed)(
        journal.recoverCached(t, id, dep.storedSnapshots(spark), dep.headDir).collect()
      ) { rows =>
        if (timed && tracer.exists(_.enabled)) rowsReturned += rows.length
        recoveryMatches(rows, m)
      }
    }

    // ---- set-up: history, catch-up tick, one warm read
    drop()
    val buildT0 = System.nanoTime()
    tick(timed = false)
    val buildSecs = (System.nanoTime() - buildT0) / 1e9
    val warm = gen.pick(draw)
    pointer(warm, timed = false)
    recover(warm, "warmup.recover", timed = false)
    val setupSecs = Proc.uptime

    // ---- timed region
    val gc0 = Proc.gcSeconds
    val cpu0 = Proc.cpuSeconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val chunk = drop()
    tick(timed = true)
    val fresh = gen.idIndex(chunk(draw.nextInt(chunk.size)).getString(3))
    pointer(fresh, timed = true)
    recover(fresh, "fresh_recover", timed = true)
    // recovery phase: the store no longer moves. One read in three is of
    // a journal the last chunk did not touch, so absent from the head
    // cache and served by the log below the cache watermark and the
    // snapshots; the others are of journals with an unreplicated tail.
    // Each is drawn with the skew, so every run reads the same mix. A
    // traced run leaves every third read (a tail read) untraced, which
    // gives the tracing overhead.
    val tailKeys = chunk.map(_.getString(3)).toSet
    def drawWithTail(tail: Boolean): Int =
      Iterator.continually(gen.pick(draw)).take(10000)
        .find(j => tailKeys(gen.idOf(j)) == tail && gen.models(j).lastSeq > 0)
        .getOrElse(gen.pick(draw))
    var reads = 0
    while (reads < MinRecoveryReads || elapsed < seconds) {
      val tail = reads % 3 != 1
      val j = drawWithTail(tail)
      tracer.foreach(_.enable(reads % 3 != 2))
      if (reads == 0) pointer(j, timed = true)
      recover(j, if (tail) "recover_unreplicated" else "recover_head_absent", timed = true)
      reads += 1
    }
    tracer.foreach(_.enable(true))
    val timedSecs = elapsed
    val gcSecs = Proc.gcSeconds - gc0
    val cpuSecs = Proc.cpuSeconds - cpu0

    // ---- metrics
    val ticks = run.sample("tick")
    val rec = run.sample("recover_unreplicated") ++ run.sample("recover_head_absent")
    val named = Seq(
      ("tick_p50_s", Stats.median(ticks), "s"),
      ("replicated_actions_per_s", ChunkActions / ticks.sum, "actions/s"),
      ("fresh_recover_p50_s", Stats.median(run.sample("fresh_recover")), "s"),
      ("recover_p50_s", Stats.median(rec), "s"),
      ("recover_unreplicated_p50_s", Stats.median(run.sample("recover_unreplicated")), "s"),
      ("recover_head_absent_p50_s", Stats.median(run.sample("recover_head_absent")), "s"),
      ("pointer_p50_s", Stats.median(run.sample("pointer")), "s"),
      ("build_tick_s", buildSecs, "s"),
      ("tick_cpu_p50_s", Stats.median(run.sample("tick.cpu")), "s"),
      ("recover_cpu_p50_s", Stats.median(Recoveries.flatMap(k => run.sample(s"$k.cpu"))), "s")
    ) ++ Stats.tailPercentile(rec.size).map(p =>
      ("recover_tail_s", Stats.quantile(rec, p / 100.0), s"s@p$p")).toSeq

    // the stores a recovery reads (head cache, snapshots), and apart from
    // them the replicated store, which only the ticks write
    val (readBytes, readFiles) = Fs.usage(Seq(dep.headDir, dep.snapDir))
    val (replBytes, replFiles) = Fs.usage(Seq(dep.storeDir))
    val util = Seq(
      "util.store.files" -> readFiles.toDouble, "util.store.bytes" -> readBytes.toDouble,
      "util.maintenance.compactions" -> compactions.toDouble)
    val (perLayer, layerNames) = tracer.fold((Seq.empty[(String, Double)], Seq.empty[(String, Double)])) { tr =>
      val roles = tr.roles(
        build = tr.spansNamed("tick").head,
        tick = tr.spansNamed("tick").last,
        reads = Recoveries.flatMap(tr.tracedSpans),
        rowsArrived = ChunkActions, rowsReturned = rowsReturned,
        readOverhead = tr.overhead("recover_unreplicated"))
      val byLayer = roles.flatMap { case (r, v) => LayerNames.get(r).map(_ -> v) } ++ Seq(
        "api.pointer.jobs" -> tr.perCall(tr.tracedSpans("pointer"))(_.jobs.get),
        "api.pointer.tasks" -> tr.perCall(tr.tracedSpans("pointer"))(_.tasks.get)
      ) ++ tr.loopWalls(tr.spansNamed("tick").last.op,
        Seq("streaming.tick.head_cache_s", "streaming.tick.snapshots_s", "streaming.tick.replicator_s")
      ) ++ readLegs(spark, tr, gen, dep, glob, draw) ++ util ++ Seq(
        "util.replicated_store.files" -> replFiles.toDouble,
        "util.replicated_store.bytes" -> replBytes.toDouble,
        "util.store.bytes_per_action" -> (readBytes + replBytes).toDouble / (chunks * ChunkActions))
      (roles ++ util, byLayer)
    }
    Report(
      endToEnd = Seq(
        ("setup_s", setupSecs),
        ("tick_p50_s", Stats.median(ticks)),
        ("read_p50_s", Stats.median(Recoveries.flatMap(run.sample)))
      ),
      perLayer = perLayer ++ Seq(("jvm.gc_s", gcSecs), ("jvm.cpu_s", cpuSecs)),
      layers = layerNames,
      named = named,
      context = Seq(
        "journals" -> Journals, "zipf_skew" -> Skew, "chunk_actions" -> ChunkActions,
        "history_chunks" -> 1, "timed_ticks" -> 1,
        "recovery_reads" -> reads, "timed_s" -> timedSecs
      )
    )
  }

  /** recoverCached's rows (topic, id, src, seq_nr, koffset, payload)
    * against the model: at most one snapshot row, at a seq_nr of the
    * journal's live incarnation carrying that event's payload, and the
    * events are exactly the visible seq_nrs above it with their payloads.
    */
  def recoveryMatches(rows: Array[Row], m: JournalModel): Boolean = {
    val (snaps, events) = rows.partition(_.getAs[String]("src") == "snapshot")
    val floor = snaps.headOption.map(_.getAs[Long]("seq_nr"))
    val snapOk = snaps.length <= 1 && snaps.forall { s =>
      val q = s.getAs[Long]("seq_nr")
      m.payloads.get(q).contains(s.getAs[Double]("payload"))
    }
    val want = m.visible.filter(_ > floor.getOrElse(0L))
    snapOk &&
      events.map(_.getAs[Long]("seq_nr")).toSeq == want &&
      events.forall(e => m.payloads.get(e.getAs[Long]("seq_nr")).contains(e.getAs[Double]("payload")))
  }

  /** Spans around the read path's public legs, for three journals drawn
    * as in the recovery phase (median seconds of each leg).
    */
  private def readLegs(
      spark: SparkSession, tr: Tracer, gen: LogGen, dep: Deployment, glob: String,
      draw: scala.util.Random
  ): Seq[(String, Double)] = {
    val log = spark.read.schema(LogGen.schema).parquet(glob)
    val legs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]].withDefaultValue(Nil)
    for (i <- 0 until 3) {
      val (t, id) = gen.key(gen.pick(draw))
      def leg(name: String)(f: => Any): Unit =
        legs(name) = legs(name) :+ tr.span(name, s"$name#$i", parent = "recover") {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
      def key(df: DataFrame) = df.filter(col("topic") === t && col("id") === id)
      leg("streaming.head_cache.read_heads_s")(key(StreamingHeadCache.readHeads(spark, dep.headDir)).collect())
      leg("streaming.head_cache.watermark_s")(StreamingHeadCache.watermark(spark, dep.headDir).collect())
      leg("streaming.snapshots.read_s")(key(StreamingSnapshots.storedSnapshots(spark, dep.snapDir)).collect())
      def replay = graft.journal.Replay.mergedReadAtWatermark(
        key(log), key(StreamingHeadCache.readHeads(spark, dep.headDir)),
        StreamingHeadCache.watermark(spark, dep.headDir))
      leg("journal.replay.merged_read_s")(replay.collect())
      leg("journal.snapshots.recovery_over_s")(graft.journal.Snapshots.recoveryOver(
        replay.select("topic", "id", "seq_nr", "koffset", "payload"),
        key(dep.storedSnapshots(spark)).select("topic", "id", "seq_nr", "koffset", "payload")).collect())
    }
    legs.toSeq.map { case (n, xs) => (n, Stats.median(xs)) }
  }
}
