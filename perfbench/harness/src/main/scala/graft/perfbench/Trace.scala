package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * harness's own spans, whole for Spark's event times). `parent` is the
  * id of the enclosing span, -1 for an op's root; spans of one op share
  * `op`.
  */
final case class Span(id: Int, op: Int, name: String, start: Double,
    end: Double, parent: Int) {
  def dur: Double = end - start
}

/** Per-layer trace, built only from public hooks: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (`QueryExecution.tracker`
  * phases) and a StreamingQueryListener (`durationMs`). Nothing inside
  * graft is instrumented; the harness adds spans around its calls into
  * graft (`q.run`, the sink write, the streaming sinks).
  *
  * Events arrive on the listener bus asynchronously, so they are kept as
  * raw spans and counter totals, and attributed to an op after the bus
  * has been drained at the op's end.
  */
final class Tracer(spark: SparkSession) {
  private val raw = ArrayBuffer.empty[Span]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private var nextId = 0

  // task / stage counters: running totals, read as deltas around an op
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, durMs, cpuNs, inputRows, shufW, shufR, spill = 0L
    var addBatchMs, walMs, triggerMs, progresses = 0L
    def copy(): Totals = {
      val t = new Totals
      t.jobs = jobs; t.stages = stages; t.tasks = tasks; t.runMs = runMs
      t.durMs = durMs; t.cpuNs = cpuNs; t.inputRows = inputRows
      t.shufW = shufW; t.shufR = shufR; t.spill = spill
      t.addBatchMs = addBatchMs; t.walMs = walMs; t.triggerMs = triggerMs
      t.progresses = progresses
      t
    }
  }
  private val totals = new Totals

  /** A consistent copy of the running totals. */
  def snapshot(): Totals = synchronized(totals.copy())

  private def add(op: Int, name: String, start: Double, end: Double,
      parent: Int): Int = synchronized {
    val id = nextId
    nextId += 1
    raw += Span(id, op, name, start, end, parent)
    id
  }

  /** A harness span; returns its id. */
  def span(op: Int, name: String, start: Double, end: Double, parent: Int): Int =
    add(op, name, start, end, parent)

  def spans: Seq[Span] = synchronized(raw.toList)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      totals.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => add(-1, "exec.job", s, e.time, -1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized(totals.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      totals.tasks += 1
      if (e.taskInfo != null) totals.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        totals.runMs += m.executorRunTime
        totals.cpuNs += m.executorCpuTime
        totals.inputRows += m.inputMetrics.recordsRead
        totals.shufW += m.shuffleWriteMetrics.bytesWritten
        totals.shufR += m.shuffleReadMetrics.totalBytesRead
        totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        add(-1, s"planner.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, -1)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        if (e.progress.numInputRows > 0) {
          totals.addBatchMs += ms("addBatch")
          totals.walMs += ms("walCommit")
          totals.triggerMs += ms("triggerExecution")
          totals.progresses += 1
        }
      }
  }

  private var attached: Option[SparkSession] = None

  /** Attach every hook for the session `s` runs in (query-execution and
    * streaming listeners are per session), or detach them all, so
    * untraced passes run with none.
    */
  def attach(s: SparkSession): Unit = if (!attached.contains(s)) {
    detach()
    spark.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    attached = Some(s)
  }

  def detach(): Unit = attached.foreach { s =>
    spark.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
    attached = None
  }

  /** Listener-bus barrier: reuses graft's reflective drain. */
  private val ledger = new graft.TaskLedger(spark.sparkContext)
  def drain(): Unit = ledger.drain()

  /** Event spans (jobs, planner phases) that started inside [start, end]
    * and are not yet owned by an op are assigned to `op`.
    */
  def claim(op: Int, start: Double, end: Double): Unit = synchronized {
    var i = 0
    while (i < raw.length) {
      val s = raw(i)
      if (s.op == -1 && s.start >= start - 1 && s.start <= end + 1)
        raw(i) = s.copy(op = op)
      i += 1
    }
  }
}

/** Self times and the layer-sum check for one op's spans. */
object Layers {
  /** Stated before measuring: an op's per-layer self times must sum to
    * its wall time within this share of the wall (plus 2 ms of clock
    * granularity — Spark stamps events in whole milliseconds).
    */
  val SumTolerance = 0.02
  val SumSlackMs = 2.0

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Builds the op's span tree. Harness spans: the op root and its
    * `operators.build` / `sink.write` children. Event spans are parented
    * under the harness span containing their start: planner phases
    * directly, jobs as merged `exec` spans (the union of overlapping
    * jobs — concurrent jobs share wall time, so they are one exec
    * interval; the single jobs stay in the raw trace). Returns the tree's
    * spans.
    */
  def tree(all: Seq[Span], rootId: Int): Seq[Span] = {
    val mine = all.filter(_.op == all.find(_.id == rootId).get.op)
    val root = mine.find(_.id == rootId).get
    val phases = mine.filter(s => s.parent == rootId)
    def owner(t: Double): Span =
      phases.find(p => t >= p.start - 1 && t <= p.end + 1).getOrElse(root)
    def clip(s: Span, p: Span): Span =
      s.copy(start = math.max(s.start, p.start), end = math.min(s.end, p.end))
    var id = -1000000
    val out = ArrayBuffer[Span](root) ++ phases
    mine.filter(_.name.startsWith("planner.")).foreach { s =>
      val p = owner(s.start); out += clip(s.copy(parent = p.id), p)
    }
    // merge overlapping job intervals per owner into exec spans
    mine.filter(_.name == "exec.job").groupBy(s => owner(s.start).id).foreach {
      case (pid, jobs) =>
        val p = out.find(_.id == pid).get
        val sorted = jobs.map(clip(_, p)).sortBy(_.start)
        var cur = ArrayBuffer[Span]()
        def flush(): Unit = if (cur.nonEmpty) {
          id += 1
          out += Span(id, root.op, "exec", cur.map(_.start).min, cur.map(_.end).max, pid)
          cur = ArrayBuffer()
        }
        sorted.foreach { j =>
          if (cur.nonEmpty && j.start > cur.map(_.end).max) flush()
          cur += j
        }
        flush()
    }
    out.toList
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals.
    */
  def selfTimes(t: Seq[Span]): Map[Int, Double] = {
    val kids = t.groupBy(_.parent)
    t.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end))
    }.toMap
  }

  /** Layer of a span for the self-time breakdown. */
  def layer(s: Span): String = s.name match {
    case "op" => "harness"
    case "exec" => "exec"
    case n if n.startsWith("planner.") => "planner"
    case n => n
  }
}
