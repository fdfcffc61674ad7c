package graft.util

/** Concurrent driver-side submission of INDEPENDENT Spark actions.
  *
  * A store build writes several members (postings, df, dict, stats,
  * positions, fields…) whose jobs touch disjoint output directories and
  * share no uncommitted state: running them sequentially leaves most of
  * the cluster idle through each job's tail and pays every job's
  * scheduling latency back to back. Spark's scheduler runs jobs submitted
  * from separate driver threads concurrently (FIFO: later jobs back-fill
  * executors the earlier job's tail frees), so the wall of N independent
  * member writes drops from Σ to ≈ max — on a cluster AND in local mode.
  *
  * Abort posture (round-17): the CALLING thread joins its workers
  * UNINTERRUPTIBLY — no caller cleanup (withTempStore's delete, a spec's
  * teardown) can ever run while a writer thread is still submitting Spark
  * jobs. On the first worker failure, or on an interrupt of the caller
  * (suite timeout, cancellation), the workers' shared Spark job group is
  * CANCELLED so the siblings' in-flight jobs die quickly instead of
  * racing a doomed build to completion; the threads are then still joined
  * to the end. The first REAL failure is rethrown with the others (which
  * may be cancellation artifacts of the group cancel) attached as
  * suppressed; an interrupt with no worker failure re-asserts the flag
  * and raises InterruptedException after all workers have exited.
  *
  * Nesting: a worker spawned by an outer [[run]] REUSES the outer call's
  * job group (thread-locals are inherited on thread creation), so an
  * outer cancel reaches jobs submitted by nested fan-outs too.
  *
  * Deliberately NOT a fork-join pool: tasks are few (≤ 8) and blocking
  * (each waits on a Spark job), so one plain thread per task is the whole
  * story. Spark job descriptions are thread-locals and stay with the
  * submitting thread, which is exactly right for UI attribution; only the
  * group-id property is (re)written on the workers.
  */
private[graft] object Par {

  private val GroupPrefix = "graft-par-"

  /** Runs the given thunks concurrently, one thread each, and joins all
    * uninterruptibly. Exceptions: first one rethrown after ALL tasks
    * finished, later ones suppressed; on first failure or caller
    * interrupt the shared job group is cancelled (see the abort posture
    * above). No-ops and single tasks run inline (no thread cost).
    */
  def run(tasks: (() => Unit)*): Unit = {
    val live = tasks.filter(_ != null)
    if (live.isEmpty) return
    if (live.size == 1) { live.head.apply(); return }
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
      .filter(!_.isStopped)
    // reuse an enclosing Par group so an outer cancel reaches nested jobs
    val inherited = sc
      .flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
    val group =
      inherited.getOrElse(GroupPrefix + java.util.UUID.randomUUID().toString)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = live.map { t =>
      val th = new Thread(() => {
        // tag the worker's jobs with the cancellable group; the inherited
        // job description is left alone (UI attribution)
        sc.foreach { c =>
          c.setLocalProperty("spark.jobGroup.id", group)
          c.setLocalProperty("spark.job.interruptOnCancel", "true")
        }
        try t()
        catch {
          case e: Throwable =>
            failures.add(e)
            failed.set(true)
        }
      })
      th.setDaemon(true)
      th.start()
      th
    }
    var interrupted = false
    var cancelRequested = false
    def cancelGroup(): Unit = {
      cancelRequested = true
      try sc.foreach(_.cancelJobGroup(group))
      catch { case _: Throwable => () } // a stopping context must not mask
      //                                   the real failure/interrupt
    }
    threads.foreach { th =>
      var joined = false
      while (!joined) {
        try {
          // RE-cancel while workers are still alive: a worker that was
          // between jobs when the first cancel fired would otherwise
          // submit its next job into an already-spent cancel (a
          // multi-write thunk submits several jobs)
          if (failed.get() || cancelRequested) cancelGroup()
          th.join(50)
          joined = !th.isAlive
        } catch {
          case _: InterruptedException =>
            interrupted = true
            cancelGroup()
        }
      }
    }
    if (failed.get() || cancelRequested) cancelGroup() // kill any zombie
    //                                 jobs the group may still hold
    if (interrupted) Thread.currentThread().interrupt()
    if (failed.get()) {
      // primary = the first REAL failure: under a shared (nested) group a
      // sibling's cancellation artifact can reach the queue before the
      // root cause propagates up — prefer the first non-cancellation
      // exception, keep everything else suppressed
      import scala.jdk.CollectionConverters._
      val all = failures.asScala.toSeq
      val first = all.find(!isCancelArtifact(_)).getOrElse(all.head)
      all.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
    if (interrupted)
      throw new InterruptedException(
        "Par.run interrupted; sibling Spark jobs cancelled, all workers joined"
      )
  }

  /** Whether `t` is a side effect of the group cancel or of an interrupt
    * rather than a root cause, judged by type along the cause chain: a
    * Spark job cancelled (error condition `SPARK_JOB_CANCELLED`), an
    * `InterruptedException` or a `CancellationException`. The message
    * text is never consulted, so a real failure whose message merely
    * mentions cancelling stays primary.
    */
  private def isCancelArtifact(t: Throwable): Boolean =
    Iterator
      .iterate(t)(_.getCause)
      .takeWhile(_ != null)
      .take(16) // a cyclic cause chain must not spin
      .exists {
        case s: org.apache.spark.SparkThrowable =>
          s.getCondition == "SPARK_JOB_CANCELLED"
        case _: InterruptedException                        => true
        case _: java.util.concurrent.CancellationException => true
        case _                                               => false
      }

  /** [[run]] over an optional task list — `Some(thunk)` runs, `None` is
    * skipped (the opt-in store members' natural shape).
    */
  def runOpt(tasks: Option[() => Unit]*): Unit =
    run(tasks.flatten: _*)

  /** Value-returning [[run]]: evaluates the thunks concurrently and
    * returns their results in ARGUMENT ORDER. Used where constructing
    * independent query legs itself runs driver-side Spark jobs (probed
    * bucket collects, centroid loads) — the legs' construction latencies
    * overlap instead of summing. Same failure posture as [[run]].
    */
  def eval[A](tasks: (() => A)*): Seq[A] = {
    val out = new Array[Any](tasks.size)
    run(tasks.zipWithIndex.map { case (t, i) =>
      () => { out(i) = t() }
    }: _*)
    scala.collection.immutable.ArraySeq
      .unsafeWrapArray(out)
      .map(_.asInstanceOf[A])
  }
}
