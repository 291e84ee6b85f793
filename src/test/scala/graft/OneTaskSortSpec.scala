package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.internal.SQLConf

/** Both sides of [[SmallSortInOneTask]]'s bound, on registered queries.
  * At the default bound (64 MB) every test table is small, so the output
  * sort reads a single-partition exchange and the write runs one job
  * fewer: no range-sampling job. With
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` at 1 byte every
  * input is above the bound, and the plan is the range sort. Rows and
  * their order are the same either way.
  */
class OneTaskSortSpec extends SparkSpec {
  import OneTaskSortSpec.{exchanges, sortInputs}

  private lazy val ledger = new TaskLedger(spark.sparkContext)
  private val advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key

  private def query(name: String): Q = SparkEntry.registry.find(_.name == name).get

  /** Runs `body` with the bound at `bytes`, then restores the setting. */
  private def withBound[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.getOption(advisory)
    spark.conf.set(advisory, bytes.toString)
    try body finally old.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
  }

  /** The final adaptive plan of one collect of `q`'s result, and its rows. */
  private def collected(q: Q): (SparkPlan, Seq[Row]) = {
    val df = q.run(spark, sfDir)
    try {
      val rows = df.collect().toSeq
      (df.queryExecution.executedPlan, rows)
    } finally CacheBag.release()
  }

  /** Jobs of one noop write of `q`'s result; the plan is built before the
    * window opens, so only the write's own jobs count.
    */
  private def writeJobs(q: Q): Int = {
    val df = q.run(spark, sfDir)
    ledger.drain(); ledger.reset()
    try df.write.format("noop").mode("overwrite").save() finally CacheBag.release()
    ledger.drain()
    ledger.jobs.get()
  }

  /** The partitioning of the exchange the output (outermost global) sort reads. */
  private def outputSortInput(plan: SparkPlan): Option[Partitioning] =
    sortInputs(plan).headOption.map(_.outputPartitioning)

  for (name <- Seq("q_normalize_title", "q_star_join", "q_schema_tests"))
    test(s"$name: the small output sort runs in one task, one job fewer, same rows in the same order") {
      val q = query(name)
      writeJobs(q) // warm: session memos and first-read schemas
      val (smallPlan, smallRows) = collected(q)
      val smallJobs = writeJobs(q)
      val (largePlan, largeRows, largeJobs) = withBound(1L) {
        val (p, r) = collected(q)
        (p, r, writeJobs(q))
      }
      assert(outputSortInput(smallPlan).contains(SinglePartition),
        s"$name: the output sort does not read a single-partition exchange:\n$smallPlan")
      assert(!exchanges(smallPlan).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$name: a range exchange is left at the default bound:\n$smallPlan")
      assert(outputSortInput(largePlan).exists(_.isInstanceOf[RangePartitioning]),
        s"$name: above the bound the output sort must read a range exchange:\n$largePlan")
      assert(smallJobs == largeJobs - 1,
        s"$name: write jobs $smallJobs at the default bound, $largeJobs above it")
      assert(smallRows.nonEmpty && smallRows == largeRows,
        s"$name: rows or their order differ across the bound")
    }

  for (name <- Seq("q_reconcile", "q_collect_status"))
    test(s"$name: a sort Spark already satisfies gains no exchange and no job") {
      val q = query(name)
      writeJobs(q)
      val (smallPlan, smallRows) = collected(q)
      val smallJobs = writeJobs(q)
      val (largePlan, largeRows, largeJobs) = withBound(1L) {
        val (p, r) = collected(q)
        (p, r, writeJobs(q))
      }
      def shape(p: SparkPlan) = exchanges(p).map(_.outputPartitioning.getClass.getSimpleName).sorted
      assert(shape(smallPlan) == shape(largePlan),
        s"$name: exchanges differ across the bound:\n$smallPlan\n---\n$largePlan")
      assert(smallJobs == largeJobs, s"$name: write jobs $smallJobs vs $largeJobs")
      assert(smallRows.nonEmpty && smallRows == largeRows)
    }
}

/** Final-plan readers over adaptive plans (they look inside query stages). */
object OneTaskSortSpec extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  /** The exchanges global sorts read directly, outermost sort first. */
  def sortInputs(plan: SparkPlan): Seq[ShuffleExchangeLike] = {
    def exchangeOf(p: SparkPlan): Option[ShuffleExchangeLike] = p match {
      case i: InputAdapter => exchangeOf(i.child)
      case r: AQEShuffleReadExec => exchangeOf(r.child)
      case s: ShuffleQueryStageExec => Some(s.shuffle)
      case e: ShuffleExchangeLike => Some(e)
      case _ => None
    }
    collect(plan) { case s: SortExec if s.global => s }.flatMap(s => exchangeOf(s.child))
  }
}
