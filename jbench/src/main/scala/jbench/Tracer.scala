package jbench

import java.time.Instant
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: wall-clock bounds (epoch ms), its duration, the span it
  * decomposes (empty for a top-level operation) and its operation id.
  */
final case class Span(
    name: String, op: String, parent: String, startMs: Long, endMs: Long, secs: Double, traced: Boolean)

/** Spark counts attributed to one operation. */
final class OpCounts {
  val jobs, stages, tasks, inputBytes, inputRecords = new AtomicLong
  val shuffleWrite, shuffleRead, spill, codegenFailures = new AtomicLong
}

/** One streaming loop (query) started inside an operation: its start
  * order within the operation, its source, and its progress totals.
  */
final class Loop(val op: String, val order: Int, val startMs: Long) {
  @volatile var source = ""
  @volatile var firstProgressMs = -1L
  @volatile var endMs = -1L
  val triggerMs, addBatchMs, inputRows = new AtomicLong
  def wallSecs: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0
  /** Trigger time not spent in the sink, plus the gap from query start
    * to the first progress event.
    */
  def overheadSecs: Double =
    (triggerMs.get - addBatchMs.get) / 1000.0 +
      (if (firstProgressMs < 0) 0.0 else (firstProgressMs - startMs) / 1000.0)
}

/** The traced run's instrumentation, all of it registered from outside
  * the engine: spans around the public calls the benchmark makes, a
  * `SparkListener` scoped per operation by a local property the
  * benchmark sets on the calling thread (inherited by the engine's
  * worker and stream threads), a `StreamingQueryListener` for the loops
  * a tick starts, and a log appender counting Janino compile failures.
  * Spans are kept in memory and written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val OpProp = "jbench.op"
  private val sc = spark.sparkContext
  @volatile private var current: String = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[String, OpCounts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  // keyed by run id: a loop restarted on its checkpoint keeps its query id
  private val loops = new ConcurrentHashMap[UUID, Loop]()
  private val loopsStarted = new ConcurrentHashMap[String, AtomicLong]()
  private var attached = false

  private def of(op: String): OpCounts = counts.computeIfAbsent(op, _ => new OpCounts)
  private def opOfStage(id: Int): Option[String] = Option(stageOp.get(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).foreach { op =>
        of(op).jobs.incrementAndGet()
        e.stageIds.foreach(stageOp.put(_, op))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      opOfStage(e.stageInfo.stageId).foreach(op => of(op).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      opOfStage(e.stageId).foreach { op =>
        val c = of(op)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private def ms(iso: String): Long =
    try Instant.parse(iso).toEpochMilli catch { case _: Exception => System.currentTimeMillis() }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val op = current
      val n = loopsStarted.computeIfAbsent(op, _ => new AtomicLong).getAndIncrement().toInt
      loops.put(e.runId, new Loop(op, n, ms(e.timestamp)))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(loops.get(e.progress.runId)).foreach { l =>
        val p = e.progress
        if (l.firstProgressMs < 0) l.firstProgressMs = ms(p.timestamp)
        if (l.source.isEmpty) p.sources.headOption.foreach(s => l.source = s.description)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        l.triggerMs.addAndGet(d("triggerExecution"))
        l.addBatchMs.addAndGet(d("addBatch"))
        l.inputRows.addAndGet(p.numInputRows)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(loops.get(e.runId)).foreach(_.endMs = System.currentTimeMillis())
  }

  private val appender = new AbstractAppender("jbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val thrown = Option(e.getThrown).map(_.getClass.getName).getOrElse("")
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (thrown.endsWith("CompileException") || msg.toLowerCase.contains("failed to compile"))
        of(current).codegenFailures.incrementAndGet()
    }
  }
  appender.start()
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  logCtx.getRootLogger.addAppender(appender)

  /** Attaches or detaches the listeners; untraced operations inside a
    * traced run give the tracing overhead.
    */
  def enable(on: Boolean): Unit = if (on != attached) {
    if (on) { sc.addSparkListener(sparkListener); spark.streams.addListener(streamListener) }
    else { drain(); sc.removeSparkListener(sparkListener); spark.streams.removeListener(streamListener) }
    attached = on
  }
  def enabled: Boolean = attached

  def drain(): Unit = org.apache.spark.jbench.Bus.drain(sc)

  /** Runs `body` as operation `op` (a span named `name` under `parent`). */
  def span[A](name: String, op: String, parent: String = "")(body: => A): A = {
    val outer = current
    sc.setLocalProperty(OpProp, op)
    current = op
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      if (attached) drain()
      spans += Span(name, op, parent, w0, w1, secs, attached)
      current = outer
      sc.setLocalProperty(OpProp, if (outer.isEmpty) null else outer)
    }
  }

  def countsOf(op: String): OpCounts = of(op)
  def loopsOf(op: String): Seq[Loop] = loops.values.asScala.filter(_.op == op).toSeq.sortBy(_.order)
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def tracedSpans(name: String): Seq[Span] = spansNamed(name).filter(_.traced)

  /** Mean of one count over the operations of `spans`. */
  def perCall(spans: Seq[Span])(f: OpCounts => Long): Double =
    Stats.mean(spans.map(s => f(of(s.op)).toDouble))

  /** Wall seconds of each loop `op` started, in start order, under `names`. */
  def loopWalls(op: String, names: Seq[String]): Seq[(String, Double)] = {
    val ls = loopsOf(op)
    names.zipWithIndex.map { case (n, i) => n -> ls.lift(i).fold(Double.NaN)(_.wallSecs) }
  }

  /** The per-layer readings every workload reports, by operation role:
    * the set-up build (the catch-up tick, or the bootstrap), the timed
    * tick and the traced timed reads. `rowsArrived` is the rows the tick
    * ingests; `rowsReturned` the rows the traced reads returned.
    */
  def roles(
      build: Span, tick: Span, reads: Seq[Span], rowsArrived: Long, rowsReturned: Long,
      readOverhead: Double
  ): Seq[(String, Double)] = {
    val loops = loopsOf(tick.op)
    val (firstStart, lastEnd) =
      if (loops.isEmpty) (Double.NaN, Double.NaN)
      else (loops.map(_.startMs).min.toDouble, loops.map(_.endMs).max.toDouble)
    def count(s: Span)(f: OpCounts => Long): Double = f(of(s.op)).toDouble
    Seq(
      "build.jobs" -> count(build)(_.jobs.get),
      "build.shuffle_bytes" -> count(build)(_.shuffleWrite.get),
      // first loop's start to last loop's end; then the maintenance that
      // follows the drains, up to the tick's return
      "tick.drain_s" -> (lastEnd - firstStart) / 1000.0,
      "tick.maintenance_s" -> (tick.endMs - lastEnd) / 1000.0,
      "tick.stream_overhead_s" -> loops.map(_.overheadSecs).sum,
      "tick.streams_started" -> loops.size.toDouble,
      "tick.jobs" -> count(tick)(_.jobs.get),
      "tick.tasks" -> count(tick)(_.tasks.get),
      "tick.shuffle_bytes" -> count(tick)(_.shuffleWrite.get),
      "tick.spill_bytes" -> count(tick)(_.spill.get),
      "tick.rows_read_per_row_arrived" -> loops.map(_.inputRows.get).sum.toDouble / rowsArrived,
      "read.jobs" -> perCall(reads)(_.jobs.get),
      "read.stages" -> perCall(reads)(_.stages.get),
      "read.tasks" -> perCall(reads)(_.tasks.get),
      "read.scan_bytes" -> perCall(reads)(_.inputBytes.get),
      "read.shuffle_bytes" -> perCall(reads)(_.shuffleWrite.get),
      "read.rows_scanned_per_row_returned" ->
        reads.map(s => of(s.op).inputRecords.get).sum.toDouble / math.max(1L, rowsReturned),
      "read.codegen_fallbacks" -> perCall(reads)(_.codegenFailures.get),
      "trace.read_overhead_s" -> readOverhead
    )
  }

  /** Traced minus untraced median duration of one operation's spans. */
  def overhead(name: String): Double = {
    val (on, off) = spansNamed(name).partition(_.traced)
    if (on.isEmpty || off.isEmpty) Double.NaN
    else Stats.median(on.map(_.secs)) - Stats.median(off.map(_.secs))
  }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = of(s.op)
      w.println(Json.render(mutable.LinkedHashMap(
        "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "secs" -> s.secs, "traced" -> s.traced,
        "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "loops" -> loopsOf(s.op).map(l => mutable.LinkedHashMap(
          "order" -> l.order, "source" -> l.source, "wall_s" -> l.wallSecs,
          "overhead_s" -> l.overheadSecs, "input_rows" -> l.inputRows.get))
      )))
    }
    finally w.close()
  }

  def close(): Unit = {
    enable(false)
    logCtx.getRootLogger.removeAppender(appender)
    appender.stop()
  }
}
