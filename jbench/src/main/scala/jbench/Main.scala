package jbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  *   jbench.Main --workload journal|curation --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints two JSON lines on stdout: a detail line (the workload's named
  * metrics, failures by cause and host context) and, last, the result
  * line `{"correct", "attempted", "failed", "metrics"}` carrying the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {

  /** The end-to-end metrics every run reports, with their units. Peak
    * resident memory and CPU seconds per operation are reported on the
    * detail line only: they spread as widely between runs as the wall
    * times do, and a bound on them would add no steadier guard.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "tick_p50_s" -> "s", "read_p50_s" -> "s")

  /** The per-layer metrics every traced run reports, by operation role:
    * `build` is the set-up build (journal: the catch-up tick; curation:
    * the bootstrap), `tick` the timed tick, `read` the timed reads
    * (journal: recoveries; curation: searches). The readings under the
    * engine's own layer names are on the detail line.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "build.jobs" -> "count", "build.shuffle_bytes" -> "bytes",
    "tick.drain_s" -> "s", "tick.maintenance_s" -> "s", "tick.stream_overhead_s" -> "s",
    "tick.streams_started" -> "count", "tick.jobs" -> "count", "tick.tasks" -> "count",
    "tick.shuffle_bytes" -> "bytes", "tick.spill_bytes" -> "bytes",
    "tick.rows_read_per_row_arrived" -> "ratio",
    "read.jobs" -> "count", "read.stages" -> "count", "read.tasks" -> "count",
    "read.scan_bytes" -> "bytes", "read.shuffle_bytes" -> "bytes",
    "read.rows_scanned_per_row_returned" -> "ratio", "read.codegen_fallbacks" -> "count",
    "util.store.files" -> "count", "util.store.bytes" -> "bytes",
    "util.maintenance.compactions" -> "count",
    "jvm.gc_s" -> "s", "jvm.cpu_s" -> "s", "trace.read_overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")
    val body: (SparkSession, String, Long, Int, Run) => Report = workload match {
      case "journal" => JournalWorkload.run
      case "curation" => CurationWorkload.run
      case w => sys.error(s"unknown workload $w")
    }

    val load = Proc.loadAvg
    val jiffies0 = Proc.cpuJiffies
    val canary = Proc.cpuCanary()
    val nproc = Runtime.getRuntime.availableProcessors
    // host-sized: one task slot and one shuffle partition per core
    val spark = SparkSession.builder()
      .appName(s"jbench-$workload")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Proc.uptime
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.enable(true))
    val run = new Run(tracer)
    val report =
      try body(spark, s"$work/data", seed, seconds, run)
      finally {
        tracer.foreach { t => t.write(s"$work/../trace/$workload-seed$seed.spans.jsonl"); t.close() }
        spark.stop()
      }
    val rss = Proc.peakRssMb
    val jiffies1 = Proc.cpuJiffies
    // share of the host's CPU time taken from this machine while it ran
    val steal = (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2)

    val layer = report.perLayer.toMap
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    if (trace) PerLayer.foreach { case (n, u) =>
      val v = layer.getOrElse(n, Double.NaN)
      metrics(n) = mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }
    else {
      val e2e = report.endToEnd.toMap
      EndToEnd.foreach { case (n, u) => metrics(n) = mutable.LinkedHashMap("value" -> e2e(n), "unit" -> u) }
    }
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "named" -> mutable.LinkedHashMap(report.named.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
      "layers" -> mutable.LinkedHashMap(report.layers: _*),
      "error_rate" -> run.failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failures,
      "samples_s" -> run.samples,
      "context" -> (mutable.LinkedHashMap[String, Any](
        "nproc" -> nproc, "loadavg_at_start" -> load, "cpu_canary_s" -> canary,
        "session_ready_s" -> sessionReady, "cpu_steal_share" -> steal, "peak_rss_mb" -> rss) ++= report.context)
    )
    println(Json.render(detail))
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> (run.failed == 0L), "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> metrics)))
  }
}
