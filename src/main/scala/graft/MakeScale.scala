package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-smoke corpus builder: replicates an SF directory `factor`× with
  * key offsets, so Bench can be pointed at a corpus one order of magnitude
  * larger than the largest driver-generated SF.
  *
  * Two modes (r15, verdict r14 #3):
  *
  * `dup` (default, the historical behavior): facts (orders/lineitem/
  * events) get offset join keys per replica so join cardinalities scale
  * linearly, like a real bigger SF. Dimensions are copied as-is (dims
  * grow sub-linearly in every star schema). documents / embeddings keep
  * their text/vectors VERBATIM across replicas on purpose: 10 exact
  * copies of every doc is precisely the mass-duplicate hot-bucket stress
  * that the dedup family's candidate caps (SURVEY §5) must survive — an
  * adversarial corpus, not a convenient one.
  *
  * `renum`: the NON-pathological twin. Pure duplication makes every scale
  * smoke a mega-dup stress test — right for the dedup guards, wrong for
  * scan/join scaling, because 100 duplicated replicas dictionary-encode
  * to almost nothing and collapse to 1/100 distinct content, nothing like
  * real 100× data. Renumber mode deterministically varies the VALUES per
  * replica (the q_merge_upsert %-arithmetic device — pure key math, no
  * randomness):
  *  - fact foreign keys (l_partkey, l_suppkey, o_custkey) rotate within
  *    their dimension's key span per replica, so each replica joins a
  *    different slice of the dims instead of hammering the same rows;
  *  - document texts gain a per-replica token, so distinct content (th
  *    groups, signature tables, inverted indexes) scales ×factor the way
  *    a real corpus does;
  *  - embeddings perturb one coordinate per replica, so distinct vectors
  *    (eh groups, ANN index rows) scale ×factor.
  * Replica 0 keeps the source rows verbatim in both modes.
  *
  * Usage: runMain graft.MakeScale <srcDir> <outDir> [factor] [dup|renum]
  */
object MakeScale {
  private val Off = 100000000L // replica key offset; far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    val src    = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out    = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val mode   = args.lift(3).getOrElse("dup")
    require(mode == "dup" || mode == "renum", s"unknown mode '$mode'")
    val spark  = Harness.session()
    try build(spark, src, out, factor, renumber = mode == "renum")
    finally spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String, factor: Int,
      renumber: Boolean = false): Unit = {
    val reps = spark.range(factor).withColumnRenamed("id", "rep")

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // Rotate a foreign key within [mn, mx] by a replica-dependent stride —
    // deterministic, referential integrity preserved, and each replica's
    // fact→dim join pattern lands on different dim rows. The stride is a
    // prime so consecutive replicas decorrelate even on dense key spans.
    // ADVICE r15: integrity needs the span DENSE (every key in [mn, mx]
    // present in the dim — a gap would dangle rotated FKs and silently
    // shrink inner-join cardinality vs replica 0), so density is asserted
    // rather than assumed; and when span divides the prime (span == 7919
    // or 1) the modular stride degenerates to 0 — fall back to stride 1
    // so replicas still rotate instead of silently keeping identical FKs.
    def rotate(k: Column, mn: Long, mx: Long): Column = {
      val span = mx - mn + 1L
      val stride = if (7919L % span == 0L) 1L else 7919L % span
      (k - mn + col("rep") * stride) % span + mn
    }
    def keySpan(t: String, k: String): (Long, Long) = {
      val r = load(t).agg(min(col(k)), max(col(k)), countDistinct(col(k))).head()
      val (mn, mx, nd) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(nd == mx - mn + 1L,
        s"$t.$k span [$mn,$mx] has gaps ($nd distinct keys) — rotated FKs " +
          "would dangle; renum mode requires dense dimension key spans")
      (mn, mx)
    }
    lazy val (pMn, pMx) = keySpan("part", "p_partkey")
    lazy val (sMn, sMx) = keySpan("supplier", "s_suppkey")
    lazy val (cMn, cMx) = keySpan("customer", "c_custkey")

    // One scan per table; crossJoin with the tiny replica range broadcasts
    // the range side, so replication is a narrow map over the source scan.
    def replicate(t: String, keyCols: Seq[String], tsCols: Seq[String] = Nil): DataFrame = {
      // events goes through T's encoding normalization (long nanos
      // whether the source is TIMESTAMP(NANOS) or TIMESTAMP(MICROS)) so
      // the nanos offset below is always long arithmetic
      var df = (if (t == "events") T.events(spark, src) else load(t))
        .crossJoin(broadcast(reps))
      for (k <- keyCols) df = df.withColumn(k, col(k) + col("rep") * Off)
      // Nudge timestamps per replica so event-time ops see distinct instants
      // rather than `factor` perfectly coincident streams — offset in nanos.
      for (c <- tsCols)
        df = df.withColumn(c, col(c) + col("rep") * 1000000000L)
      if (renumber) t match {
        case "lineitem" => df = df
          .withColumn("l_partkey", rotate(col("l_partkey"), pMn, pMx))
          .withColumn("l_suppkey", rotate(col("l_suppkey"), sMn, sMx))
        case "orders" => df = df
          .withColumn("o_custkey", rotate(col("o_custkey"), cMn, cMx))
        case "documents" => df = df
          // one appended token per non-zero replica: every replica's text
          // is DISTINCT content, so th groups / signature tables /
          // postings scale ×factor like a real corpus (and token-level
          // stats shift only by the one marker token)
          .withColumn("text", when(col("rep") === 0L, col("text"))
            .otherwise(concat(col("text"), lit(" rv"), col("rep"))))
        case "embeddings" => df = df
          // per-coordinate multiplicative jitter (±~15%, two coprime
          // moduli so every rep < 143 gets a distinct pattern): distinct
          // vectors (eh groups, ANN index rows) scale ×factor with
          // GENUINELY distinct directions. A coordinate-0 epsilon shift
          // was tried first and rejected: it builds 100-member
          // epsilon-clusters whose members share PQ codes (ADC ties →
          // candidate cut loses true neighbors — measured pq/ivfpq
          // recall 0.3 on that geometry), which is the near-dup regime
          // again, not a realistic bigger corpus
          .withColumn("embedding", when(col("rep") === 0L, col("embedding"))
            .otherwise(transform(col("embedding"), (x, i) =>
              x * (lit(1.0f)
                + ((col("rep") * 31L + i.cast("long") * 7L) % 13L - 6L)
                  .cast("float") * lit(0.02f)
                + ((col("rep") * 17L + i.cast("long") * 3L) % 11L - 5L)
                  .cast("float") * lit(0.015f)))))
        case _ => ()
      }
      df.drop("rep")
    }

    // The narrow replication preserves the source's single-file split, so
    // without an explicit repartition every table would land as 1-2 parquet
    // files — and every downstream scan would get 1-2 input splits,
    // serializing the whole bench. Write the corpus the way a real bigger
    // SF arrives: spread across enough files to feed every core.
    val outParts = spark.sparkContext.defaultParallelism
    val tables: Seq[(String, DataFrame)] = Seq(
      "region"     -> load("region"),
      "nation"     -> load("nation"),
      "customer"   -> load("customer"),
      "supplier"   -> load("supplier"),
      "part"       -> load("part"),
      "orders"     -> replicate("orders", Seq("o_orderkey")),
      "lineitem"   -> replicate("lineitem", Seq("l_orderkey")),
      "events"     -> replicate("events", Seq("event_id", "user_id"), tsCols = Seq("ts")),
      "documents"  -> replicate("documents", Seq("doc_id")),
      "embeddings" -> replicate("embeddings", Seq("vec_id"))
    )
    for ((name, df) <- tables) {
      // dims stay single-file (they're broadcast anyway); facts spread
      val spread =
        if (Set("region", "nation", "customer", "supplier", "part")(name)) df
        else df.repartition(outParts)
      spread.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    println(s"[makescale] wrote ${factor}x (${if (renumber) "renum" else "dup"}) $src -> $out")
  }
}
