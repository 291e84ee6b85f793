package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{CacheBag, GraftSession, Q, SparkEntry}
import graft.pipeline.MartPipeline
import graft.streaming.EventStream

final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

/** One workload run as one closed-loop client (one op in flight): set-up,
  * three times; then the workload's passes, each op's output of a measured
  * pass written as parquet for the checker. Results land as JSON in
  * `<work>/result.json`; `perfbench/run.py` turns them into metrics and
  * checks the written outputs.
  *
  * Arguments are `key=value`: workload (marts | ingest), corpus, work,
  * warmup (the set-up op; ingest re-serves it after every micro-batch),
  * trace (0/1), cores; ingest adds batches (dir of batch_1 ... batch_n,
  * one per cycle).
  */
object Main {
  /** The pseudo-op for the `dbt build` gate. */
  val PipelineOp = "pipeline_build"

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** The paper's dbt surface in pipeline order: staging and marts, data
    * tests, analyses, ELT matching, then the `dbt build` gate.
    */
  def martsOps: Seq[String] = {
    import graft.operators.{Analyses, EltOps, Marts, QualityTests}
    (Marts.all ++ QualityTests.all ++ Analyses.all ++ EltOps.all).map(_.name) :+ PipelineOp
  }

  // epoch milliseconds with sub-ms resolution, on the wall clock Spark
  // stamps its events with
  private val (anchorMs, anchorNs) = (System.currentTimeMillis(), System.nanoTime())
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).map(x => x(0) -> x(1)).toMap
    val workload = a("workload")
    val corpus = a("corpus")
    val work = a("work")
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    // run isolation: Spark's scratch, warehouse and every index root live
    // in the run's work dir, which run.py deletes afterwards
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val out = new Json

    // ---- set-up, three times: session start + the warm-up op served cold
    // on a fresh index root, its output written for the checker. Ingest's
    // warm-up is its artifact query, so each set-up pays the index fit. ----
    def startSession(root: String): SparkSession = {
      val s = GraftSession(s"local[$cores]", shufflePartitions = cores)
      s.conf.set("graft.ann.indexRoot", root)
      s
    }
    val recs = ArrayBuffer[OpRec]()
    var opId = 0
    def timed(s: SparkSession, name: String, pass: Int, phase: String,
        sink: Option[String], tracer: Option[Tracer]): Unit = {
      opId += 1
      val rec = measure(s, name, registry, corpus, sink, tracer, opId)
        .copy(pass = pass, phase = phase)
      System.err.println(f"[perfbench] $phase%s $pass%d $name%s ${rec.wall}%.3f s" +
        rec.err.map(" " + _).getOrElse(""))
      recs += rec
    }
    val warmup = a("warmup")
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    // artifact counters cover the last set-up's index, the one the ingest
    // cycles extend
    var fits0, appends0 = 0L
    for (i <- 1 to Setups) {
      if (spark != null) spark.stop()
      fits0 = Counters.fits
      appends0 = Counters.appends
      val t0 = System.nanoTime()
      spark = startSession(s"$work/index_setup$i")
      timed(spark, warmup, i, "setup", Some(s"$work/out/b0/setup$i/$warmup"), None)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    out.arr("setup_s", setupS.map(Json.num))
    val tracer = new Tracer(spark)

    // ---- marts: pass 1 is the measured pipeline run — every op's first
    // execution in this JVM, in a fresh session (SessionMemo cold), its
    // output written for the checker. The traced run traces it and adds
    // three warm passes for the tracing overhead: a JIT warm-up, then a
    // traced and an untraced one. ----
    val passes = ArrayBuffer[String]()
    if (workload == "marts") {
      for (pass <- 1 to (if (traced) 4 else 1)) {
        val tracePass = traced && pass % 2 == 1
        val s = spark.newSession()
        s.conf.set("graft.ann.indexRoot", spark.conf.get("graft.ann.indexRoot"))
        if (tracePass) tracer.attach(s) else tracer.detach()
        val phase = if (pass == 1) "cold" else "warm"
        val c0 = cpuNs
        val t0 = System.nanoTime()
        martsOps.foreach { n =>
          timed(s, n, pass, phase, if (pass == 1) Some(s"$work/out/b0/cold1/$n") else None,
            Some(tracer).filter(_ => tracePass))
        }
        passes += Json.obj("pass" -> Json.num(pass), "phase" -> Json.str(phase),
          "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9),
          "cpu_s" -> Json.num((cpuNs - c0) / 1e9), "traced" -> tracePass.toString)
      }
      tracer.detach()
    }

    // ---- ingest: micro-batches of embeddings through the ANN index sink,
    // each followed by a re-serve of the warm-up op on the grown index;
    // the traced run traces the next-to-last batch, for the overhead ----
    if (workload == "ingest") {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val vecs = MemoryStream[Vec]
      val qv = EventStream.annIndexSink(s, corpus, vecs.toDF(), s"$work/ckpt_vecs").start()
      try {
        val cycles = Files.list(Paths.get(a("batches"))).count().toInt
        for (k <- 1 to cycles) {
          val bv = s.read.parquet(s"${a("batches")}/batch_$k/embeddings.parquet").as[Vec].collect()
          val tb = traced && k == cycles - 1
          if (tb) tracer.attach(s) else tracer.detach()
          tracer.drain()
          val st0 = tracer.snapshot()
          val c0 = cpuNs
          val t0 = System.nanoTime()
          val opStart = nowMs
          vecs.addData(bv.toIndexedSeq: _*)
          qv.processAllAvailable()
          val sinkS = (System.nanoTime() - t0) / 1e9
          if (tb) {
            opId += 1
            tracer.span(opId, "streaming.sinks", opStart, nowMs, -1)
          }
          timed(s, warmup, k, "batch", Some(s"$work/out/b$k/batch$k/$warmup"),
            Some(tracer).filter(_ => tb))
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (cpuNs - c0) / 1e9
          tracer.drain()
          val st1 = tracer.snapshot()
          passes += Json.obj("pass" -> Json.num(k), "phase" -> Json.str("batch"),
            "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu), "traced" -> tb.toString,
            "sink_s" -> Json.num(sinkS),
            "add_batch_s" -> Json.num((st1.addBatchMs - st0.addBatchMs) / 1000.0),
            "wal_s" -> Json.num((st1.walMs - st0.walMs) / 1000.0),
            "trigger_s" -> Json.num((st1.triggerMs - st0.triggerMs) / 1000.0),
            "progresses" -> Json.num(st1.progresses - st0.progresses))
        }
      } finally qv.stop()
      tracer.detach()
    }

    // ---- artifact state and process peak ----
    val root = Paths.get(spark.conf.get("graft.ann.indexRoot"))
    out.num("index_bytes", Fs.bytes(root).toDouble)
    out.num("index_versions", Fs.versionDirs(root).toDouble)
    out.num("corpus_bytes", Fs.parquetBytes(Paths.get(corpus, "embeddings.parquet")).toDouble)
    out.num("peak_rss_mb", Fs.vmHwmMb)
    out.num("run_fits", (Counters.fits - fits0).toDouble)
    out.num("run_appends", (Counters.appends - appends0).toDouble)
    out.num("cores", cores)
    out.arr("passes", passes)
    out.arr("ops", recs.map(_.json))
    Files.createDirectories(Paths.get(work))
    Files.writeString(Paths.get(s"$work/result.json"), out.render)
    if (traced) Files.writeString(Paths.get(s"$work/spans.jsonl"),
      tracer.spans.map(sp => Json.obj("id" -> Json.num(sp.id), "op" -> Json.num(sp.op),
        "name" -> Json.str(sp.name), "start" -> Json.num(sp.start),
        "end" -> Json.num(sp.end), "parent" -> Json.num(sp.parent))).mkString("\n"))
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Json.objOf(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    spark.stop()
  }

  /** An op's build: `q.run`. The pipeline pseudo-op builds the whole model
    * graph and checks its reconciliation gate instead.
    */
  private def build(s: SparkSession, name: String, registry: Map[String, Q],
      corpus: String): Option[DataFrame] =
    if (name == PipelineOp) {
      if (!MartPipeline.build(s, corpus))
        throw new IllegalStateException("pipeline reconciliation gate failed")
      None
    } else Some(registry(name).run(s, corpus))

  /** An op's sink: parquet at `sink`, or the `noop` format. */
  private def write(df: Option[DataFrame], sink: Option[String]): Unit =
    df.foreach { d =>
      sink match {
        case Some(p) => d.write.mode("overwrite").parquet(p)
        case None => d.write.format("noop").mode("overwrite").save()
      }
    }

  /** Times one op; with a tracer, also records its spans and the per-layer
    * deltas.
    */
  def measure(s: SparkSession, name: String, registry: Map[String, Q],
      corpus: String, sink: Option[String], tracer: Option[Tracer],
      id: Int): OpRec = {
    val fit0 = Counters.fits
    val app0 = Counters.appends
    val memo0 = Counters.memoBuilds
    tracer.foreach(_.drain())
    val snap0 = tracer.map(_.snapshot())
    val gc0 = gcMs
    val start = nowMs
    val t0 = System.nanoTime()
    var err: String = null
    var tb = t0
    try {
      val df = build(s, name, registry, corpus)
      tb = System.nanoTime()
      write(df, sink)
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        if (tb == t0) tb = System.nanoTime()
    }
    val t1 = System.nanoTime()
    val end = nowMs
    val gc = (gcMs - gc0) / 1000.0
    CacheBag.release()
    val wall = (t1 - t0) / 1e9
    val rec = OpRec(id, name, -1, "", wall, (tb - t0) / 1e9, (t1 - tb) / 1e9,
      Option(err), Counters.fits - fit0, Counters.appends - app0,
      Counters.memoBuilds - memo0, gc, Map.empty)
    tracer.fold(rec) { tracer =>
      tracer.drain()
      val tot0 = snap0.get
      val t = tracer.snapshot()
      val buildEnd = start + (tb - t0) / 1e6
      val root = tracer.span(id, "op", start, end, -1)
      tracer.span(id, "operators.build", start, buildEnd, root)
      tracer.span(id, "sink.write", buildEnd, end, root)
      tracer.claim(id, start, end)
      val all = tracer.spans.filter(_.op == id)
      val tree = Layers.tree(all, root)
      val self = Layers.selfTimes(tree)
      val selfByLayer = tree.groupBy(Layers.layer)
        .map { case (l, ss) => s"self.$l" -> ss.map(x => self(x.id)).sum / 1000.0 }
      val jobs = all.filter(_.name == "exec.job")
      val jobIv = jobs.map(j => (j.start, j.end))
      val buildJobs = jobs.count(_.start <= buildEnd)
      val writeJobs = jobs.size - buildJobs
      def phase(p: String) =
        all.filter(_.name == s"planner.$p").map(_.dur).sum / 1000.0
      val sumErr = math.abs(self.values.sum - (end - start))
      val layers = Map(
        "operators.build_jobs" -> buildJobs.toDouble,
        "planner.analysis_s" -> phase("analysis"),
        "planner.optimize_s" -> phase("optimization"),
        "planner.physical_s" -> phase("planning"),
        "exec.jobs" -> (t.jobs - tot0.jobs).toDouble,
        "exec.stages" -> (t.stages - tot0.stages).toDouble,
        "exec.tasks" -> (t.tasks - tot0.tasks).toDouble,
        "exec.extra_jobs" -> math.max(0, writeJobs - 1).toDouble,
        "exec.task_overhead_s" -> ((t.durMs - tot0.durMs) - (t.runMs - tot0.runMs)) / 1000.0,
        "exec.task_run_s" -> (t.runMs - tot0.runMs) / 1000.0,
        "exec.task_cpu_s" -> (t.cpuNs - tot0.cpuNs) / 1e9,
        "exec.input_rows" -> (t.inputRows - tot0.inputRows).toDouble,
        "exec.shuffle_write_mb" -> (t.shufW - tot0.shufW) / 1048576.0,
        "exec.shuffle_read_mb" -> (t.shufR - tot0.shufR) / 1048576.0,
        "exec.spill_mb" -> (t.spill - tot0.spill) / 1048576.0,
        "driver.no_job_s" -> ((end - start) - Layers.covered(jobIv, start, end)) / 1000.0,
        "trace.sum_err_s" -> sumErr / 1000.0,
        "trace.sum_ok" -> (if (sumErr <= Layers.SumTolerance * (end - start) +
          Layers.SumSlackMs) 1.0 else 0.0)
      ) ++ selfByLayer
      rec.copy(layers = layers)
    }
  }
}

final case class OpRec(id: Int, op: String, pass: Int, phase: String,
    wall: Double, build: Double, write: Double, err: Option[String],
    fits: Long, appends: Long, memoBuilds: Long, gc: Double,
    layers: Map[String, Double]) {
  def json: String = Json.obj(Seq(
    "id" -> Json.num(id), "op" -> Json.str(op), "pass" -> Json.num(pass),
    "phase" -> Json.str(phase), "wall_s" -> Json.num(wall),
    "build_s" -> Json.num(build), "write_s" -> Json.num(write),
    "error" -> err.map(Json.str).getOrElse("null"),
    "fits" -> Json.num(fits), "appends" -> Json.num(appends),
    "memo_builds" -> Json.num(memoBuilds), "gc_s" -> Json.num(gc),
    "layers" -> Json.objOf(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
  ): _*)
}

/** graft's artifact and memo counters, read from outside the program —
  * the families `graft.Bench.fitCount()` sums, split into fits and appends.
  */
object Counters {
  import graft.operators.AnnIndex._
  def fits: Long = ivfFits.get + pqFits.get + lshEncodes.get + ivfpqEncodes.get +
    lexEncodes.get + sigEncodes.get + vocabEncodes.get + ccEncodes.get +
    epEncodes.get + npEncodes.get + ecEncodes.get + tpEncodes.get +
    thmEncodes.get + ehmEncodes.get + knEncodes.get + klEncodes.get +
    graft.operators.Bpe.bpeTrains.get + graft.operators.Unigram.unigramTrains.get
  def appends: Long = ivfAppends.get + pqAppends.get + lshAppends.get +
    ivfpqAppends.get + lexAppends.get + sigAppends.get + vocabAppends.get +
    ccAppends.get + epAppends.get + npAppends.get + ecAppends.get +
    tpAppends.get + thmAppends.get + ehmAppends.get + knAppends.get
  def memoBuilds: Long = graft.operators.SessionMemo.totalBuilds()
}

object Fs {
  private def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.toList finally st.close()
    }

  def bytes(p: java.nio.file.Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def parquetBytes(p: java.nio.file.Path): Long =
    walk(p).filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Files.size).sum

  /** Artifact version directories: `<root>/<table hash>/<version>`. */
  def versionDirs(root: java.nio.file.Path): Long =
    walk(root).count(f => Files.isDirectory(f) && root.relativize(f).getNameCount == 2)

  def vmHwmMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Minimal JSON writer for the result file. */
final class Json {
  private val fields = ArrayBuffer[(String, String)]()
  def num(k: String, v: Double): Unit = fields += k -> Json.num(v)
  def arr(k: String, vs: Iterable[String]): Unit = fields += k -> vs.mkString("[", ",", "]")
  def render: String = Json.objOf(fields.toSeq)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = objOf(kv)
  def objOf(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
