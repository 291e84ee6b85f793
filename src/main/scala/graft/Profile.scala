package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

import Harness.Timed

/** Measurement harness for isolated re-times and plan audits: run one or
  * MANY queries in ONE session (JVM/codegen warm like Bench), and for each
  * emit
  *  - the formatted final adaptive plan to `<planDir>/<query>_<suffix>.txt`
  *    (the checkable plan artifact; one untimed run after the passes), and
  *  - per-pass ELAPSED lines (wall, jobs, taskSec, cpuSec, compiles,
  *    compileSec — one [[Harness.time]] each, Bench's accounting) plus,
  *    for the last pass, STAGE lines for any stage over 1 s of task time
  *    — the stage-level attribution guide §1 asks for before touching
  *    anything.
  *
  * On a noisy multi-tenant host wall time alone cannot separate "the
  * engine did more work" from "the host stole cycles": taskSec is the
  * engine's own work ledger (r13: the q_dedup_contain regression hid in
  * wall-time noise for a whole round until taskSec showed 3x the
  * execution work of the prior tree, pass after pass) and cpuSec is
  * steal-proof (see [[TaskLedger]]). Two passes by default: the first
  * pays JIT/codegen/page-cache warm-up, the second is comparable to
  * Bench's min-of-two convention; the isolated cpuSec floors (SURVEY §6)
  * are 3-pass mins.
  *
  * Usage: runMain graft.Profile <suffix> <query...>  (env:
  * SPARK_GRAFT_SF_DIR default the sf0.1 test data, SPARK_GRAFT_CPUS
  * default the processor count, SPARK_GRAFT_PASSES default 2,
  * SPARK_GRAFT_PLANDIR default the untracked target/plans, so a default
  * run never overwrites a tracked `plans/` dump; point it at `plans/<tag>`
  * to record one). Measurement-only tooling — no registered query flows
  * through here.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val qs = args.drop(1).toSeq.map(n => SparkEntry.registry.find(_.name == n).getOrElse(
      sys.error(s"unknown query '$n'; known: " + SparkEntry.registry.map(_.name).mkString(", "))))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val planDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "target/plans"))
    Files.createDirectories(planDir)
    val spark = Harness.session()
    val ledger = new TaskLedger(spark.sparkContext)
    val stageLines = new java.lang.StringBuilder
    ledger.onStage = { sc =>
      val si = sc.stageInfo
      if (si.taskMetrics.executorRunTime > 1000)
        stageLines.append(
          f"STAGE ${si.stageId}%5d tasks=${si.numTasks}%4d " +
          f"runMs=${si.taskMetrics.executorRunTime}%8d " +
          f"cpuMs=${si.taskMetrics.executorCpuTime / 1000000}%8d " +
          f"shufOutRec=${si.taskMetrics.shuffleWriteMetrics.recordsWritten}%9d " +
          f"shufOutMB=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576}%5d " +
          f"inRec=${si.taskMetrics.inputMetrics.recordsRead}%9d\n")
    }
    // warm once so pass 1 of the first query isn't charged global JIT
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    println(s"DRAIN mode=${ledger.drainMode}")
    for (q <- qs) {
      println(s"==== ${q.name}")
      for (pass <- 1 to passes) {
        stageLines.setLength(0)
        Harness.time(spark, ledger, q, sfDir) match {
          case Timed(Right(wall), _, cpuSec, jobs, taskSec, compiles, compileSec) =>
            if (pass == passes) print(stageLines)
            println(f"ELAPSED ${q.name} pass $pass: $wall%.3f " +
              f"jobs=$jobs taskSec=$taskSec%.1f cpuSec=$cpuSec%.1f " +
              f"compiles=$compiles compileSec=$compileSec%.2f")
          case Timed(Left(e), _, _, _, _, _, _) =>
            println(s"FAILED ${q.name} pass $pass: $e")
        }
      }
      // after the timed passes, one untimed run of the query's own
      // QueryExecution, so the plan file is the final adaptive plan: what
      // ran, with AQE's stage-time choices (join strategy, exchanges)
      val qe = q.run(spark, sfDir).queryExecution
      try SQLExecution.withNewExecutionId(qe, Some("profile"))(qe.toRdd.foreach(_ => ()))
      finally CacheBag.release()
      Files.writeString(planDir.resolve(s"${q.name}_$suffix.txt"),
        qe.explainString(FormattedMode))
    }
    spark.stop()
  }
}
