package graft

/** Steal-proof work ledger shared by the harness mains (Bench and
  * Profile through [[Harness.time]], perfbench's trace): a SparkListener
  * accumulating scheduled job count, summed per-task wall time (taskSec)
  * and summed OS-thread CPU time (cpuSec, from executorCpuTime).
  *
  * Why cpuSec is the adjudication metric on this host: wall time and even
  * per-task wall (taskSec) inflate under hypervisor steal and I/O wait,
  * but executorCpuTime is actual CPU nanoseconds the engine's threads
  * burned — so the pair decomposes "the engine did more work" (cpuSec
  * moves) from "the host stole cycles / the disk was cold" (only
  * wall/taskSec move). r14 spent three isolated re-time cycles
  * adjudicating untouched-code 100x drifts that a recorded per-query
  * cpuSec would have settled in-run (verdict r14 #1).
  *
  * Drain discipline: listener events arrive asynchronously on the
  * listener bus, so counters must be read only after the bus is empty or
  * in-flight onTaskEnd events bleed across attribution windows. The bus
  * has no public flush (listenerBus is private[spark] — which erases to a
  * public method in bytecode, so reflection reaches it); [[drain]] invokes
  * LiveListenerBus.waitUntilEmpty(timeoutMillis) reflectively and falls
  * back to quiescence polling (re-read the counter triple until stable)
  * if the reflective path is unavailable or times out. This replaces the
  * fixed 300 ms sleep the re-time tool used through r14 (ADVICE r13/r14): the
  * sleep was a race, not a barrier — events delayed past 300 ms on a
  * loaded host still bled into the next pass's ledger.
  */
final class TaskLedger(sc: org.apache.spark.SparkContext) {
  val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
  val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Optional per-stage hook (Profile's STAGE lines); default no-op. */
  @volatile var onStage
      : org.apache.spark.scheduler.SparkListenerStageCompleted => Unit =
    _ => ()

  sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      onStage(s)
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) {
        taskMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      }
  })

  def reset(): Unit = { jobs.set(0); taskMs.set(0); cpuNs.set(0) }
  def taskSec: Double = taskMs.get() / 1000.0
  def cpuSec: Double = cpuNs.get() / 1e9

  // Resolved once: SparkContext.listenerBus (private[spark] → public in
  // bytecode) and LiveListenerBus.waitUntilEmpty(long timeoutMillis).
  private val busWait: Option[() => Unit] =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val w = bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      Some(() => { w.invoke(bus, java.lang.Long.valueOf(5000L)); () })
    } catch { case _: Throwable => None }

  /** Which drain path resolved — surfaced so a run's log (and the spec)
    * can tell a true bus barrier from the polling fallback.
    */
  def drainMode: String = if (busWait.isDefined) "bus" else "poll"

  /** Count of DEGRADED drains (ADVICE r15): the bus wait timed out AND
    * the quiescence poll exited on its deadline with counters still
    * moving — the one case where drain() returns with a possibly-bled
    * attribution window. Surfaced in the bench artifact next to
    * `drain` so a window whose attribution is suspect says so itself
    * instead of silently reporting drain:"bus".
    */
  val degradedDrains = new java.util.concurrent.atomic.AtomicInteger(0)

  def drain(): Unit = {
    val clean = busWait match {
      case Some(w) =>
        (try { w(); true } catch { case _: Throwable => false }) || pollStable()
      case None => pollStable()
    }
    if (!clean) {
      degradedDrains.incrementAndGet()
      System.err.println("[ledger] WARNING: degraded drain — bus wait " +
        "timed out and the quiescence poll hit its deadline with counters " +
        "still moving; this attribution window may include bled events")
    }
  }

  /** Quiescence fallback: re-read the (jobs, taskMs, cpuNs) triple every
    * 25 ms until it holds still for 3 consecutive reads (75 ms), bounded
    * at 1 s — a stability check rather than a magic fixed sleep. Returns
    * whether stability was actually reached (false = deadline exit with
    * counters still moving, a degraded drain).
    */
  private def pollStable(): Boolean = {
    val deadline = System.nanoTime() + 1000L * 1000 * 1000
    var last = (jobs.get(), taskMs.get(), cpuNs.get())
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val now = (jobs.get(), taskMs.get(), cpuNs.get())
      if (now == last) stable += 1
      else { stable = 0; last = now }
    }
    stable >= 3
  }
}
