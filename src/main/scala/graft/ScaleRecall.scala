package graft

/** Scale-smoke recall audit (r15, verdict r14 #5): recall@k of every
  * approximate ANN family against q_ann_topk's exact brute-force output,
  * on whatever corpus the argument (or SPARK_GRAFT_SF_DIR) points at.
  * Built for the MakeScale scale corpora: mass duplication skews k-means
  * centroids and LSH band occupancy — exactly the regime the 100× bench
  * smokes run in — and the dev-scale spec floor (AnnIndexSpec, recall
  * ≥0.8) never exercised it. The renumbered MakeScale mode is covered by
  * the same audit (distinct-content ×factor is the opposite skew).
  *
  * r16 (verdict r15 #1/#3):
  *  - the degree-capped k-NN pair family joins the audit: per a
  *    deterministic ≤256-query sample of distinct vectors, the EXACT
  *    top-[[graft.operators.AnnIndex.knK]] qualifying neighbors (one
  *    broadcast brute pass — sample × corpus, linear) are compared
  *    against the persisted graph's directed edges. The sample makes the
  *    oracle affordable at any corpus size — the full ε-graph is
  *    quadratic-class on realistic corpora BY MEASUREMENT, which is the
  *    whole reason the family exists.
  *  - results land as an artifact (`bench_records/recall_<corpus>_<tag>
  *    .json`, tag = argv(1), default "latest") keyed by corpus, families,
  *    distinct count and the ADC rescore depth in effect, so rounds can
  *    diff recall mechanically like bench windows.
  *
  * Prints one JSON line with per-family recall and exits non-zero below
  * the floor, so a scale run can gate on it mechanically.
  *
  * Usage: runMain graft.ScaleRecall [sfDir] [tag]
  */
object ScaleRecall {
  def main(args: Array[String]): Unit = {
    val d = args.lift(0).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val tag = args.lift(1).getOrElse("latest")
    val spark = Harness.session()
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Members, Similarity}
    def pairs(q: Q): Set[(Long, Long)] =
      q.run(spark, d).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.annTopK)
    require(brute.nonEmpty, "exact top-k returned no rows — nothing to audit")
    val fams = Seq("lsh" -> Similarity.annLsh, "ivf" -> Similarity.annIvf,
      "pq" -> Similarity.annPq, "ivfpq" -> Similarity.annIvfPq)
    val recalls = fams.map { case (n, q) =>
      n -> (pairs(q) & brute).size.toDouble / brute.size
    }
    // --- degree-capped k-NN graph: sampled exact-top-k pair recall ---
    // deterministic rep sample (≤256 queries): min member vec_id keys the
    // sample so re-runs audit the same queries
    val (_, reps) = Members.eh(spark, d)
    val nDist = reps.count()
    val step = math.max(1L, nDist / 256L)
    val sample = broadcast(
      reps.where(pmod(col("vec_id"), lit(step)) === 0)
        .select(col("eh").as("eh_q"), col("vec_id").as("qid"),
          col("v").as("qv"), col("nrm").as("qnrm")))
    // exact top-knK qualifying neighbors per sampled query: one linear
    // broadcast pass over the distinct vectors
    val w = org.apache.spark.sql.expressions.Window.partitionBy("eh_q")
      .orderBy(col("cosine").desc, col("eh_n"))
    val exact = reps.select(col("eh").as("eh_n"), col("v"), col("nrm"))
      .join(sample, col("eh_n") =!= col("eh_q"))
      .select(col("eh_q"), col("eh_n"),
        (graft.functions.Vectors.dot(col("qv"), col("v")) /
          (col("qnrm") * col("nrm"))).as("cosine"))
      .where(col("cosine") >= Similarity.dedupTau)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= AnnIndex.knK)
      .select("eh_q", "eh_n").as[(String, String)].collect().toSet
    val served = AnnIndex.knnPairs(spark, d)
      .join(sample.select("eh_q"), Seq("eh_q"), "left_semi")
      .select("eh_q", "eh_n").as[(String, String)].collect().toSet
    val knnRecall =
      if (exact.isEmpty) 1.0 else (served & exact).size.toDouble / exact.size
    val floor = 0.8
    val all = recalls :+ ("knn" -> knnRecall)
    val pass = all.forall(_._2 >= floor)
    val depth = Similarity.pqRescoreDepth(nDist)
    val line = Harness.toJson(scala.collection.immutable.SeqMap.from(all) ++
      Seq("floor" -> floor, "pass" -> pass, "n_exact" -> brute.size,
        "knn_exact_pairs" -> exact.size, "n_distinct" -> nDist, "adc_depth" -> depth,
        "k" -> AnnIndex.knK, "kn_miss" -> AnnIndex.knMiss, "sf" -> d))
    println(line)
    // artifact of record (verdict r15 #4): mechanical round-over-round
    // recall diffs, like bench windows
    val out = java.nio.file.Paths.get("bench_records",
      "recall_" + d.replaceAll("[^A-Za-z0-9.]+", "_") + s"_$tag.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
