package graft

import org.apache.spark.sql.functions._

/** The work ledger the harness mains share (r15, verdict r14 #1):
  * summed executorCpuTime / task wall / job count per attribution window,
  * with a TRUE listener-bus drain (reflective waitUntilEmpty;
  * quiescence-poll fallback) instead of a fixed 300 ms sleep — and the
  * shared harness path over it: the timed execution, Bench's prior
  * reader and Verify's per-query dump.
  */
class TaskLedgerSpec extends SparkSpec {

  test("ledger attributes a window exactly: drain-reset-run-drain, counters move and then hold still") {
    val ledger = new TaskLedger(spark.sparkContext)
    // the reflective LiveListenerBus.waitUntilEmpty path must resolve on
    // this Spark build — the poll fallback is a degraded mode, not the
    // expected one (private[spark] erases to a public method in bytecode)
    assert(ledger.drainMode == "bus",
      s"expected the reflective bus drain, got ${ledger.drainMode}")
    ledger.drain(); ledger.reset()
    assert(ledger.jobs.get() == 0 && ledger.cpuNs.get() == 0L)
    // one real job inside the window
    spark.range(2000000).select(sum(col("id"))).collect()
    ledger.drain()
    val (j1, t1, c1) = (ledger.jobs.get(), ledger.taskMs.get(), ledger.cpuNs.get())
    assert(j1 >= 1, "the job must be attributed to the window")
    assert(c1 > 0L, "executorCpuTime must accumulate")
    assert(t1 > 0L, "task wall must accumulate")
    // drained means drained: with no further work, the counters are
    // exactly stable — an in-flight event bleeding after drain() is the
    // r13/r14 ADVICE failure mode this type exists to close
    Thread.sleep(400)
    assert((ledger.jobs.get(), ledger.taskMs.get(), ledger.cpuNs.get()) == ((j1, t1, c1)),
      "events bled into the window after drain() returned")
    // a second window starts from zero and attributes independently
    ledger.drain(); ledger.reset()
    spark.range(1000).count()
    ledger.drain()
    assert(ledger.jobs.get() >= 1 && ledger.cpuNs.get() > 0L)
  }

  test("Bench's last stdout line stays under its bound: 124 long-named failures print the totals-only form") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val names = (0 until 124).map(i => f"q_synthetic_operator_with_a_rather_long_name_$i%03d")
    val shortQs = names.indices.map(i => "\"" + f"k$i%03d" + "\":1.25").mkString("{", ",", "}")
    val clean = json.readTree(Bench.lastLine(117.4, 124, shortQs, Nil, 2, "/data/sf0.1"))
    assert(clean.get("queries").size() == 124 && clean.get("failed").isArray)
    val line = Bench.lastLine(117.4, 124, shortQs, names, 2, "/data/sf0.1")
    assert(line.length <= Bench.lastLineMax, s"${line.length} chars")
    val totals = json.readTree(line)
    assert(!totals.has("queries"))
    assert(totals.get("failed").asInt() == 124 && totals.get("value").asDouble() == 117.4)
  }

  private def prior(text: String): (Map[String, Map[String, Double]], Seq[String]) = {
    val warnings = Seq.newBuilder[String]
    val maps = Bench.readPrior(text, "/data/sf0.1", warnings += _)
    (maps, warnings.result())
  }

  test("Bench's prior reader accepts a python-spaced seed and keeps all four maps") {
    val (maps, warnings) = prior(
      """{"sf": "/data/sf0.1", "queries": {"q_a": 1.2, "q_b": 3},
        | "last": {"q_a": 1.5}, "cpu": {"q_a": 0.4}, "cpu_last": {"q_a": 0.5}}""".stripMargin)
    assert(warnings.isEmpty)
    assert(maps("queries") == Map("q_a" -> 1.2, "q_b" -> 3.0))
    assert(maps("last") == Map("q_a" -> 1.5))
    assert(maps("cpu") == Map("q_a" -> 0.4) && maps("cpu_last") == Map("q_a" -> 0.5))
  }

  test("Bench's prior reader: a prior of a different sf yields no baselines") {
    val (maps, warnings) = prior("""{"sf":"/data/sf100","queries":{"q_a":1.2},"cpu":{"q_a":0.4}}""")
    assert(maps.values.forall(_.isEmpty) && warnings.isEmpty)
  }

  test("Bench's prior reader: a nested value does not truncate its map or the next") {
    val (maps, warnings) = prior(
      """{"sf":"/data/sf0.1","queries":{"q_a":1.0,"q_n":{"z":{"y":2}},"q_b":2.0},""" +
        """"last":{"q_a":1.1,"q_b":2.1}}""")
    assert(maps("queries") == Map("q_a" -> 1.0, "q_b" -> 2.0))
    assert(maps("last") == Map("q_a" -> 1.1, "q_b" -> 2.1))
    assert(warnings.isEmpty)
  }

  test("Bench's prior reader: an unparseable map disables only its own trigger, loudly") {
    val (maps, warnings) = prior(
      """{"sf":"/data/sf0.1","queries":"garbled","last":{"q_a":1.1},""" +
        """"cpu":{"q_a":"x"},"cpu_last":{"q_a":0.5}}""")
    assert(maps("queries").isEmpty && maps("cpu").isEmpty)
    assert(maps("last") == Map("q_a" -> 1.1) && maps("cpu_last") == Map("q_a" -> 0.5))
    assert(warnings.size == 2, warnings)
    assert(warnings.exists(_.contains("'queries'")) && warnings.exists(_.contains("'cpu'")))
    // a whole-file parse failure warns too instead of reading as "no prior"
    assert(prior("""{"sf":"/data/sf0.1","queries":{"q_a":""")._2.nonEmpty)
  }

  test("the shared timed execution reports a throwing query by class, with its cpuSec, and empties CacheBag") {
    val ledger = new TaskLedger(spark.sparkContext)
    var tracked: org.apache.spark.sql.DataFrame = null
    val boom = Q("q_throws", (s, _) => {
      tracked = CacheBag.track(s.range(200000).toDF("id"))
      tracked.count() // an eager job before the throw: work the window must keep
      throw new IllegalStateException("planned failure")
    }, None)
    val t = Harness.time(spark, ledger, boom, sfDir)
    assert(t.wall == Left("IllegalStateException"))
    assert(t.jobs >= 1 && t.cpuSec > 0.0, s"jobs=${t.jobs} cpuSec=${t.cpuSec}")
    assert(tracked.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the query's CacheBag entry must be released after a throw")
    val ok = Harness.time(spark, ledger, Q("q_ok", (s, _) => s.range(10).toDF("id"), None), sfDir)
    assert(ok.wall.isRight && ok.jobs >= 1)
  }

  test("Verify's dump deletes the previous run's output, so a query that throws leaves none") {
    val out = java.nio.file.Files.createTempDirectory("verify_dump")
    try {
      val stale = out.resolve("q_throws")
      java.nio.file.Files.createDirectories(stale)
      java.nio.file.Files.writeString(stale.resolve("part-0.parquet"), "old run")
      val boom = Q("q_throws", (_, _) => throw new IllegalStateException("plan failure"), None)
      assert(!Verify.dump(spark, boom, sfDir, out.toString))
      assert(!java.nio.file.Files.exists(stale), "a stale dump survived a failed query")
      val ok = Q("q_ok", (s, _) => s.range(3).toDF("id"), None)
      assert(Verify.dump(spark, ok, sfDir, out.toString))
      assert(spark.read.parquet(out.resolve("q_ok").toString).count() == 3)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(out.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out.toString), true)
    }
  }
}
