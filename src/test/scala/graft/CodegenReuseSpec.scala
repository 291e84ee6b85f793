package graft

/** Each generated class is compiled once per JVM. Spark's codegen cache is
  * keyed on (thread context class loader, source), so it serves a new
  * session only with artifact isolation off, and it serves a set of
  * queries re-run in one session only if the set's classes fit in it.
  * GraftSession sets both; each test below fails at Spark's defaults.
  */
class CodegenReuseSpec extends SparkSpec {
  private def query(name: String): Q = SparkEntry.registry.find(_.name == name).get

  /** Classes compiled by one noop write of each of `qs` in `s`. */
  private def compiles(s: org.apache.spark.sql.SparkSession, qs: Seq[Q]): Long = {
    val c0 = Harness.compiles()
    for (q <- qs)
      try q.run(s, sfDir).write.format("noop").mode("overwrite").save()
      finally CacheBag.release()
    Harness.compiles() - c0
  }

  test("a query re-run in a new session compiles no class") {
    val q = Seq(query("q_star_join"))
    compiles(spark, q)
    assert(compiles(spark.newSession(), q) == 0)
  }

  // Their first run in a fresh JVM compiles 156 classes, more than the
  // 100 entries of Spark's default cache, which evicts the first classes
  // of the set before their re-run. The re-run also catches a cache sized
  // by a non-Graft session: the size is read once, when CodeGenerator
  // initialises.
  test("queries generating more than 100 classes compile none when re-run in one session") {
    val qs = Seq("q_mart_union", "q_star_join", "q_found_agg", "q_dup_membership",
      "q_collect_status", "q_having_agg").map(query)
    compiles(spark, qs)
    assert(compiles(spark, qs) == 0)
  }
}
