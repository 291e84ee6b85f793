package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one measurement path of the harness mains (Bench, Profile, Verify,
  * ScaleRecall, MakeScale): how they build their session, time one
  * execution and read and write JSON. Each piece exists here once, so
  * the mains cannot drift apart in core count, shuffle parallelism,
  * attribution window or escaping.
  */
object Harness {
  /** The one JSON reader/writer of harness artifacts. Every string is
    * escaped (quotes, backslashes and all control chars): an exception
    * message or a tab in oracle SQL once made target/bench.json and
    * oracle_sql.json unparseable (ADVICE r12). Scala maps keep their
    * iteration order, so a `SeqMap` writes in insertion order;
    * BigDecimals write as plain decimals, never with an exponent.
    */
  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .enable(com.fasterxml.jackson.core.JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  def toJson(v: Any): String = json.writeValueAsString(v)

  /** The harness session: `local[n]` with n shuffle partitions, n from
    * SPARK_GRAFT_CPUS, by default the machine's processor count.
    */
  def session(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    GraftSession(s"local[$n]", shufflePartitions = n)
  }

  /** Every persisted-artifact family's fit and append counters (one list,
    * AnnIndex.counters — a hand-listed sum once missed the tp/ec counters
    * and left a 48 s SP fit unflagged) plus every SessionMemo build
    * (tokenizer training and source-schema inference included).
    */
  def fitCount(): Long =
    graft.operators.AnnIndex.counters.map(_.get).sum +
      graft.operators.SessionMemo.totalBuilds()

  /** One timed execution: wall (or the failure class), whether a
    * fit/append/memo-build counter moved (cold: a persisted artifact
    * survives across runs, so a recorded min is usually a pure warm serve
    * and a fit-path regression would be invisible without the flag,
    * ADVICE r7), and the window's ledger — jobs, summed task wall and
    * summed executorCpuTime, the steal-proof work ledger (r15, verdict
    * r14 #1: three untouched-code 100x drifts each cost an isolated
    * re-time cycle to adjudicate because the artifact recorded only wall),
    * plus the classes Janino compiled in the window and their summed
    * compile seconds (JVM-wide counters: a cache hit compiles nothing, so
    * `compiles` is the window's codegen-cache misses).
    */
  final case class Timed(wall: Either[String, Double], cold: Boolean,
      cpuSec: Double, jobs: Int, taskSec: Double, compiles: Long, compileSec: Double)

  /** Classes compiled so far in this JVM (one count per codegen-cache miss). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seconds spent compiling generated classes so far in this JVM. */
  def compileSec(): Double = CodeGenerator.compileTime / 1e9

  /** Time `q` once: drain the listener bus, reset the ledger, build the
    * plan with `q.run` (iterative operators do real work there, so it is
    * inside the window), materialize every column of every row with a
    * noop write (count() would let Spark prune the projection away) and
    * drain again, so in-flight events of a previous execution cannot
    * bleed into this one (TaskLedger's waitUntilEmpty barrier is ms-scale
    * in local mode, so ~250 drains price nothing against a multi-minute
    * run). A throw is reported as its class, never as a fast time.
    * Query-lifetime cache entries are dropped in every case, so storage
    * does not accumulate across a 124-query × 2-pass run.
    */
  def time(spark: SparkSession, ledger: TaskLedger, q: Q, sfDir: String): Timed =
    try {
      ledger.drain(); ledger.reset()
      val (f0, c0, cs0) = (fitCount(), compiles(), compileSec())
      val t0 = System.nanoTime()
      val wall =
        try {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[harness] ${q.name}: $e")
            Left(e.getClass.getSimpleName)
        }
      ledger.drain()
      Timed(wall, fitCount() != f0, ledger.cpuSec, ledger.jobs.get(), ledger.taskSec,
        compiles() - c0, compileSec() - cs0)
    } finally CacheBag.release()
}
