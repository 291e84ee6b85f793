package graft

import org.apache.spark.sql.functions._

/** The shared Bench/Explain work ledger (r15, verdict r14 #1): summed
  * executorCpuTime / task wall / job count per attribution window, with
  * a TRUE listener-bus drain (reflective waitUntilEmpty; quiescence-poll
  * fallback) instead of the fixed 300 ms sleep Explain used through r14.
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
}
