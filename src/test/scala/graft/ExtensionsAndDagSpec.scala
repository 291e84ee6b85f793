package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dag, Stage}

class ExtensionsAndDagSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot is callable from SQL after extension injection") {
    // GraftSession builds every session with GraftExtensions
    val got = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(got == 11.0)
  }

  test("graft_hyperplane_sig is callable from SQL and matches the column API") {
    val viaSql = spark.sql(
      "SELECT graft_hyperplane_sig(array(0.5d, -1.0d, 2.0d), 42, 4, 6) AS sig")
      .as[Seq[Long]].head()
    val viaCol = Seq(Tuple1(Seq(0.5, -1.0, 2.0))).toDF("v")
      .select(graft.functions.Vectors.hyperplaneBands(col("v"), 42L, 4, 6).as("sig"))
      .as[Seq[Long]].head()
    assert(viaSql == viaCol && viaSql.size == 4)
  }

  test("dag runs stages in topological order and wires views") {
    val dag = new Dag(Seq(
      Stage("mart", Seq("stg_a", "stg_b"),
        s => s.table("stg_a").join(s.table("stg_b"), "k")),
      Stage("stg_a", Nil, s => { import s.implicits._
        Seq((1, "x"), (2, "y")).toDF("k", "va") }),
      Stage("stg_b", Nil, s => { import s.implicits._
        Seq((1, 10), (2, 20)).toDF("k", "vb") })))
    assert(dag.order == Seq("stg_a", "stg_b", "mart"))
    val out = dag.run(spark)
    assert(out("mart").count() == 2)
    assert(spark.table("mart").columns.toSet == Set("k", "va", "vb"))
  }

  test("dag retries a transient stage failure; succeeded stages run once") {
    val aRuns = new java.util.concurrent.atomic.AtomicInteger
    val bRuns = new java.util.concurrent.atomic.AtomicInteger
    val dag = new Dag(Seq(
      Stage("ra", Nil, s => { aRuns.incrementAndGet(); s.range(3).toDF() }),
      Stage("rb", Seq("ra"), s => {
        if (bRuns.incrementAndGet() < 3) sys.error("flaky downstream")
        s.table("ra")
      })))
    val out = dag.runWithRetries(spark, retries = 2)
    assert(out("rb").count() == 3)
    assert(aRuns.get() == 1 && bRuns.get() == 3)
    // retry budget exhausted -> the failure surfaces
    val always = new Dag(Seq(Stage("rc", Nil, _ => sys.error("hard down"))))
    intercept[IllegalStateException](always.runWithRetries(spark, retries = 1))
  }

  test("resumable run resumes from the first incomplete stage, never recomputes done ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dag_resume").toString
    val aRuns = new java.util.concurrent.atomic.AtomicInteger
    val bRuns = new java.util.concurrent.atomic.AtomicInteger
    def mk(failB: Boolean) = new Dag(Seq(
      Stage("sa", Nil, s => { aRuns.incrementAndGet(); s.range(4).toDF() }),
      Stage("sb", Seq("sa"), s => {
        bRuns.incrementAndGet()
        if (failB) sys.error("crash mid-run")
        s.table("sa")
      })))
    // first run crashes in stage sb; sa completed and is marked done
    intercept[RuntimeException](mk(failB = true).runResumable(spark, dir))
    assert(aRuns.get() == 1 && bRuns.get() == 1)
    // re-run: sa restored from its parquet (not rebuilt), sb completes
    val out = mk(failB = false).runResumable(spark, dir)
    assert(out("sb").count() == 4)
    assert(aRuns.get() == 1 && bRuns.get() == 2)
    // a full re-run of a completed dag recomputes nothing at all
    val again = mk(failB = false).runResumable(spark, dir)
    assert(again("sb").count() == 4)
    assert(aRuns.get() == 1 && bRuns.get() == 2)
  }

  test("mart pipeline builds the whole model graph and passes its data test") {
    assert(graft.pipeline.MartPipeline.build(spark, sfDir))
    assert(spark.table("int_star").count() > 0)
    assert(spark.table("mart_tableau").count() > 0)
  }

  test("staging views prune columns and push predicates to the scan") {
    val plans = graft.pipeline.MartPipeline.stagingPlans(spark, sfDir)
    assert(plans.size >= 3)
    val expected = Map(
      "stg_lineitem" -> ("l_quantity", "l_shipdate"),
      "stg_orders" -> ("o_orderstatus", "o_totalprice"),
      "stg_customer" -> ("c_mktsegment", "c_nationkey"),
      "stg_documents" -> ("lang", "text"))
    expected.foreach { case (name, (kept, dropped)) =>
      val plan = plans(name)
      val pushed = plan.linesIterator.find(_.contains("PushedFilters:")).getOrElse("")
      assert(pushed.contains(kept), s"$name: filter on $kept not pushed: $pushed")
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
      assert(readSchema.contains(kept), s"$name: $kept missing from $readSchema")
      assert(!readSchema.contains(dropped), s"$name: $dropped not pruned in $readSchema")
    }
  }

  test("all ten staging views register and project only their columns") {
    val out = graft.pipeline.MartPipeline.dag(sfDir).run(spark)
    graft.operators.Staging.names.foreach(n => assert(out.contains(n), s"$n missing"))
    assert(!spark.table("stg_customer").columns.contains("c_acctbal"))
    assert(!spark.table("stg_supplier").columns.contains("s_acctbal"))
    assert(!spark.table("stg_lineitem").columns.contains("l_tax"))
    assert(!spark.table("stg_events").columns.contains("props"))
    assert(!spark.table("stg_documents").columns.contains("n_chars"))
    assert(!spark.table("stg_embeddings").columns.contains("label"))
  }

  test("dag rejects cycles and unknown deps") {
    intercept[IllegalArgumentException] {
      new Dag(Seq(Stage("a", Seq("missing"), s => s.range(1).toDF())))
    }
    val cyclic = new Dag(Seq(
      Stage("a", Seq("b"), s => s.range(1).toDF()),
      Stage("b", Seq("a"), s => s.range(1).toDF())))
    intercept[IllegalArgumentException](cyclic.order)
  }
}
