package jbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

/** Order statistics over a sample. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for an empty sample
    * (every operation of that kind failed).
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest whole percentile that still leaves at least `beyond`
    * samples above it; None when the sample is too small to have one.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    val p = ((n - beyond).toDouble / n * 100).floor.toInt
    if (n > beyond && p >= 50) Some(p) else None
  }
}

/** Minimal JSON rendering for the benchmark's report lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** Process-level readings: resident memory, GC and CPU time, host load. */
object Proc {
  private def status(key: String): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble)
      finally src.close()
    } catch { case NonFatal(_) => None }

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double = status("VmHWM").map(_ / 1024.0).getOrElse(Double.NaN)

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def loadAvg: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => Double.NaN }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
        (v(7), v.sum)
      } finally src.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Seconds a fixed single-threaded integer loop takes: a host-speed
    * canary stamped beside the metrics, so a slow host reads as such.
    */
  def cpuCanary(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds since the JVM started. */
  def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** Operation accounting for one run: every operation the client attempts
  * is timed, its output checked, and its failure (exception or failed
  * check) counted by cause.
  */
final class Run(val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, Long]
  /** Timed samples by operation kind, in seconds. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var seq = 0L

  def sample(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  private def fail(cause: String): Unit = {
    failed += 1
    failures(cause) = failures.getOrElse(cause, 0L) + 1
  }

  /** Runs one operation of `kind`, timed unless `timed` is false; the
    * result must pass `check`. Returns None when it threw or failed.
    */
  def op[A](kind: String, timed: Boolean = true)(body: => A)(check: A => Boolean): Option[A] = {
    attempted += 1
    seq += 1
    val id = s"$kind#$seq"
    val t0 = System.nanoTime()
    val cpu0 = Proc.cpuSeconds
    val out =
      try Right(tracer.fold(body)(_.span(kind, id)(body)))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpuSecs = Proc.cpuSeconds - cpu0
    out match {
      case Left(e) =>
        System.err.println(s"[jbench] $id failed: $e")
        fail(e.getClass.getName)
        None
      case Right(a) =>
        val ok =
          try check(a)
          catch { case NonFatal(e) => System.err.println(s"[jbench] $id check threw: $e"); false }
        if (!ok) {
          System.err.println(s"[jbench] $id output failed its check")
          fail(s"check:$kind")
          None
        } else {
          if (timed) {
            samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += secs
            samples.getOrElseUpdate(s"$kind.cpu", mutable.ArrayBuffer.empty) += cpuSecs
          }
          Some(a)
        }
    }
  }

  /** Marks an already-counted operation as failed by a check that could
    * only run after the timed region.
    */
  def lateFail(kind: String): Unit = {
    System.err.println(s"[jbench] a $kind output failed its deferred check")
    fail(s"check:$kind")
  }
}

/** What a workload hands back: the end-to-end and per-layer values by
  * role (their units are fixed in [[Main]]); for the detail line, the
  * traced run's readings under the engine's layer names, the metrics named
  * after what they measure in this workload, and context.
  */
final case class Report(
    endToEnd: Seq[(String, Double)],
    perLayer: Seq[(String, Double)],
    layers: Seq[(String, Double)],
    named: Seq[(String, Double, String)],
    context: Seq[(String, Any)]
)
