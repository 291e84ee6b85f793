package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Marts, Similarity}

/** r13 hardening battery: the expansion budget guard (verdict r12 #2),
  * q_mart_union's placement-independent numbering (#4), and the
  * content-aware ANN self-exclusion (ADVICE r12).
  */
class GuardsSpec extends SparkSpec {
  import spark.implicits._

  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  test("expansion budget guard: a mega-dup corpus refuses the expanded output, names the rep twin; the twin still runs") {
    val tmp = java.nio.file.Files.createTempDirectory("graftxg").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftxgroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // one text duplicated 40× (Σ k(k−1)/2 = 780 member pairs from the
    // within-group expansion alone) + a distinct near-dup of it
    val page = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, page)) :+
      (40L, page.replace("w7", "x7"))
    try {
      docs.toDF("doc_id", "text")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      spark.conf.set("graft.expand.maxRows", "100")
      val e = intercept[IllegalStateException] {
        Dedup.simhash.run(spark, tmp).collect()
      }
      assert(e.getMessage.contains("q_dedup_simhash_rep"),
        s"refusal must point at the rep-level twin: ${e.getMessage}")
      assert(e.getMessage.contains("graft.expand.maxRows"))
      // the linear twin is exactly the production shape the guard points
      // at — it must run under the same budget
      assert(Dedup.simhashRep.run(spark, tmp).collect() != null)
      // the estimate is memoized: a raised budget serves without refusal
      // and the expansion emits the row count the guard computed
      spark.conf.set("graft.expand.maxRows", "2000000000")
      val expanded = Dedup.simhash.run(spark, tmp).count()
      assert(expanded >= 780L, s"expansion lost within-group pairs: $expanded")
    } finally {
      spark.conf.unset("graft.expand.maxRows")
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("EP fit candidate guard: quadratic-class bucket collisions refuse BEFORE the join; a raised budget fits exactly (r15)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftepg").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftepgroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // 40 DISTINCT near-parallel vectors: every pair lands in the same
    // band buckets (cosine ≈ 1), so exact-bucket Σ k(k−1)/2 at fit
    // geometry is ≥ bands × C(40,2) — far past a lowered budget. The
    // renumbered 100× corpus hit this for real: the fit's candidate
    // shuffle filled 74 GB of disk before r15 added the refusal.
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.tabulate(8)(j => (10f + j) + i * 1e-3f)))
    try {
      vecs.toDF("vec_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      spark.conf.set("graft.expand.maxRows", "100")
      val e = intercept[IllegalStateException] {
        Similarity.dedupEmbed.run(spark, tmp).collect()
      }
      assert(e.getMessage.contains("EP candidate join"),
        s"refusal must name the EP fit: ${e.getMessage}")
      assert(e.getMessage.contains("graft.expand.maxRows"))
      // r16 (verdict r15 #6): the refusal is an estimated-cost ANSWER —
      // it must carry the measured lower bound and a τ feasibility hint
      // a user can act on without re-running
      assert("""≥\d+""".r.findFirstIn(e.getMessage).isDefined,
        s"refusal must report the measured pair bound: ${e.getMessage}")
      assert(e.getMessage.contains("fits the budget at this corpus") ||
        e.getMessage.contains("no τ ≤ 0.99 fits"),
        s"refusal must carry the τ feasibility hint: ${e.getMessage}")
      // the refusal must be TYPED (the semantic fallback catches exactly
      // this, never a genuine failure)
      assert(e.isInstanceOf[graft.QuadraticRefusal])
      // the refusal is session-memoized per (version, budget): a retry
      // throws the same message without re-running the signature encode
      val e2 = intercept[IllegalStateException] {
        Similarity.dedupEmbed.run(spark, tmp).collect()
      }
      assert(e2.getMessage == e.getMessage)
      // raised budget: the fit completes and serves the full pair set
      // (all C(40,2) near-parallel pairs qualify at the dedup threshold)
      spark.conf.set("graft.expand.maxRows", "2000000000")
      assert(Similarity.dedupEmbed.run(spark, tmp).count() == 780L)
    } finally {
      spark.conf.unset("graft.expand.maxRows")
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("EP append guard sizes the estimate to the delta: a small append to a large fitted corpus is not refused by the full-pair bound (ADVICE r15)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftepa").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftepaidx").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // 40 near-parallel DISTINCT vectors: full-pair exact-bucket bound at
    // fit geometry ≈ bands × C(40,2) = 9 × 780 = 7020; one appended
    // near-parallel vector adds only new-endpoint candidates
    // ≈ bands × 40 = 360. A budget between the two (1000) must let the
    // append through — the r15 full-pair estimate refused it.
    def vecs(ids: Range) = ids.map(i => (i.toLong,
      Array.tabulate(8)(j => (10f + j) + i * 1e-3f))).toDF("vec_id", "embedding")
    try {
      vecs(0 until 40).repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val (e0, a0) = (graft.operators.AnnIndex.epEncodes.get(),
        graft.operators.AnnIndex.epAppends.get())
      Similarity.dedupEmbed.run(spark, tmp).count() // full fit, default budget
      assert(graft.operators.AnnIndex.epEncodes.get() == e0 + 1)
      vecs(40 until 41).repartition(1)
        .write.mode("append").parquet(s"$tmp/embeddings.parquet")
      spark.conf.set("graft.expand.maxRows", "1000")
      val out = Similarity.dedupEmbed.run(spark, tmp).count()
      assert(graft.operators.AnnIndex.epAppends.get() == a0 + 1,
        "the delta-sized append must pass the new-endpoint guard")
      assert(out == 820L, s"append lost pairs: $out") // C(41,2)
    } finally {
      spark.conf.unset("graft.expand.maxRows")
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("semantic dedup serves the degree-capped KNN path where the EP fit refuses — labels are the closure of the served graph (r16, verdict r15 #1)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftsemk").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftsemkidx").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // two near-parallel families (20 vectors each around orthogonal
    // axes): the ε-pair set is 2 × C(20,2) × bands exact-bucket
    // collisions — refused under a tiny budget — while the degree-capped
    // graph stays ≤ k·n rows and must serve the same corpus
    def fam(axis: Int, ids: Range) = ids.map(i => (i.toLong,
      Array.tabulate(8)(j =>
        (if (j == axis) 10f + i * 1e-3f
         else if (j == (axis + 1) % 8) i * 1e-3f else 0f))))
    try {
      (fam(0, 0 until 20) ++ fam(4, 20 until 40)).toDF("vec_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      spark.conf.set("graft.expand.maxRows", "100")
      // the ε families refuse by design on this budget…
      intercept[graft.QuadraticRefusal] {
        Similarity.dedupEmbed.run(spark, tmp).collect()
      }
      // …but the semantic serve falls back to the persisted KNN labels
      val k0 = Similarity.semanticKnnServes.get()
      val sem = Similarity.semanticDedup.run(spark, tmp)
        .select("vec_id", "cluster_id").as[(Long, Long)].collect()
      assert(Similarity.semanticKnnServes.get() == k0 + 1,
        "the refusal path must serve KNN labels")
      assert(sem.length == 40)
      // labels must be the exact closure of the SERVED graph: replay the
      // persisted degree-capped pairs through a local union-find
      val knn = Similarity.dedupEmbedKnn.run(spark, tmp)
        .select("rep_a", "rep_b").as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      knn.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      sem.foreach { case (id, cl) =>
        assert(cl == find(id), s"vec $id labeled $cl, closure says ${find(id)}")
      }
      // the two families are far apart — no cross-family pair can be in
      // the graph, so the label space has ≥ 2 clusters
      assert(sem.map(_._2).distinct.length >= 2)
      // the degree-capped family itself runs under the refused budget
      // and is bounded by k·n rows
      assert(knn.length <= 40 * graft.operators.AnnIndex.knK)
    } finally {
      spark.conf.unset("graft.expand.maxRows")
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("mart union: global numbering is placement-independent — no spark_partition_id, ids equal the global row_number") {
    val out = Marts.martUnion.run(spark, sfDir)
    // the r12 hazard: spark_partition_id() over repartitionByRange made
    // correctness lean on ReuseExchange (see Marts scaladoc) — the plan
    // must carry neither
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SPARK_PARTITION_ID") &&
      !plan.toLowerCase.contains("spark_partition_id"),
      "numbering must not depend on physical partition placement")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // ids are exactly 1..n in (priority, log_id|-1, custkey) order
    val sorted = rows.sortBy { r =>
      val prio = r.getAs[String]("o_orderpriority")
      val lid = if (r.isNullAt(r.fieldIndex("log_id"))) -1L
        else r.getAs[Long]("log_id")
      (prio, lid, r.getAs[Long]("c_custkey"))
    }
    sorted.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("id") == i + 1,
        s"id ${r.getAs[Int]("id")} at global rank ${i + 1}")
    }
  }

  test("ann serve: an EXTERNAL query id colliding with an unrelated corpus vec_id keeps its k-th row (ADVICE r12)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftextq").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftextqroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def vec(axis: Int, eps: Double): Array[Float] =
      (0 until 8).map(j => (if (j == axis) 1.0
        else if (j == (axis + 1) % 8) eps else 0.0).toFloat).toArray
    try {
      // 12 corpus vectors around axis 0; vec 3 is deliberately the
      // query's NEAREST neighbor (eps 0.4 vs the query's 0.5 — cosine
      // ≈ 0.996, every other vector ≈ 0.895), so losing it is visible
      (0 until 12).map(i =>
        (i.toLong, vec(0, if (i == 3) 0.4 else 0.001 * (i + 1))))
        .toDF("vec_id", "embedding").repartition(1).write.mode("overwrite")
        .parquet(s"$tmp/embeddings.parquet")
      // external query: id 3 COINCIDES with corpus vec_id 3 but its
      // vector (and so eh) differs — pre-fix, corpus row 3 was silently
      // excluded as "self" and the served top-k lost a row
      val queries = Seq((3L, vec(0, 0.5))).toDF("query_id", "embedding")
      val served = Similarity.annServeLshBatch(spark, tmp, queries, k = 5)
        .collect()
      assert(served.length == 5,
        s"external id collision dropped the k-th row: ${served.length} rows")
      assert(served.exists(_.getAs[Long]("neighbor_id") == 3L),
        "corpus vec 3 is not the query — it must stay servable")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("expansion budget: the DEFAULT refuses a web-scale mega-dup corpus — no conf needed (verdict r13 #4)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftxgd").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftxgdroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // ONE text duplicated 15000× → Σ k(k−1)/2 ≈ 1.12×10⁸ member pairs
    // from the within-group expansion alone, past the 10⁸ default — the
    // r13 2×10⁹ default admitted this multi-TB-at-scale write silently
    val page = (1 to 30).map(i => s"d$i").mkString(" ")
    try {
      spark.range(15000).selectExpr("id AS doc_id", s"'$page' AS text")
        .coalesce(4).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      assert(spark.conf.getOption("graft.expand.maxRows").isEmpty,
        "this case must exercise the DEFAULT budget")
      val e = intercept[IllegalStateException] {
        Dedup.simhash.run(spark, tmp).collect()
      }
      assert(e.getMessage.contains("q_dedup_simhash_rep") &&
        e.getMessage.contains("graft.expand.maxRows"))
      // the linear rep-level twin — the shape the refusal points at —
      // serves the same corpus under the default budget
      assert(Dedup.simhashRep.run(spark, tmp).collect() != null)
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("mart numbering: ids equal the global row_number under nB=1 vs nB=32, single-partition input, and exchange-reuse disabled") {
    // synthetic mart frame exercising both branches: grouped rows
    // (log_id null, unique per (custkey, priority)) and per-row rows
    // (unique log_id) across three priorities, shuffled on write
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
    val rows = (for {
      p <- prios
      i <- 1 to 40
    } yield (None: Option[Long], (i * 7 % 41).toLong + 1L, p, "GROUPED",
        (i * 13).toLong, 2L)) ++
      (for {
        p <- prios
        i <- 1 to 60
      } yield (Some(1000L * prios.indexOf(p) + i * 3L), (i % 17).toLong,
        p, "O", (i * 11).toLong, 1L))
    import scala.util.Random
    val df = new Random(11).shuffle(rows)
      .toDF("log_id", "c_custkey", "o_orderpriority", "status_type",
        "price_cents", "cnt")
    // the reference semantics: one global row_number over
    // (priority, log_id|-1, custkey)
    val expected = rows.sortBy { case (lid, ck, p, _, _, _) =>
      (p, lid.getOrElse(-1L), ck)
    }.zipWithIndex.map { case ((lid, ck, p, _, _, _), i) =>
      (p, lid.getOrElse(-1L), ck) -> (i + 1)
    }.toMap
    def served(in: org.apache.spark.sql.DataFrame, nB: Int): Map[(String, Long, Long), Int] =
      Marts.numberMart(spark, in, nB).collect().map { r =>
        val lid = if (r.isNullAt(r.fieldIndex("log_id"))) -1L
          else r.getAs[Long]("log_id")
        (r.getAs[String]("o_orderpriority"), lid,
          r.getAs[Long]("c_custkey")) -> r.getAs[Int]("id")
      }.toMap
    assert(served(df.repartition(8), 32) == expected, "nB=32 baseline")
    assert(served(df.repartition(8), 1) == expected,
      "nB (defaultParallelism) must be a width parameter only")
    assert(served(df.coalesce(1), 32) == expected, "single-partition input")
    spark.conf.set("spark.sql.exchangeReuseEnabled", "false")
    try assert(served(df.repartition(8), 32) == expected,
      "numbering must not lean on ReuseExchange (the r12 hazard)")
    finally spark.conf.unset("spark.sql.exchangeReuseEnabled")
  }

  test("mart numbering: edge shapes — empty, single row, one bucket class only, seeded random sweeps") {
    import org.apache.spark.sql.DataFrame
    def served(in: DataFrame, nB: Int): Seq[((String, Long, Long), Int)] =
      Marts.numberMart(spark, in, nB).collect().map { r =>
        val lid = if (r.isNullAt(r.fieldIndex("log_id"))) -1L
          else r.getAs[Long]("log_id")
        ((r.getAs[String]("o_orderpriority"), lid,
          r.getAs[Long]("c_custkey")), r.getAs[Int]("id"))
      }.toSeq.sortBy(_._2)
    def expect(rows: Seq[(Option[Long], Long, String, String, Long, Long)])
        : Seq[((String, Long, Long), Int)] =
      rows.sortBy { case (lid, ck, p, _, _, _) => (p, lid.getOrElse(-1L), ck) }
        .zipWithIndex
        .map { case ((lid, ck, p, _, _, _), i) => ((p, lid.getOrElse(-1L), ck), i + 1) }
    def df(rows: Seq[(Option[Long], Long, String, String, Long, Long)]): DataFrame =
      rows.toDF("log_id", "c_custkey", "o_orderpriority", "status_type",
        "price_cents", "cnt")
    val empty = Seq.empty[(Option[Long], Long, String, String, Long, Long)]
    assert(Marts.numberMart(spark, df(empty), 4).collect().isEmpty)
    val one = Seq((Some(7L), 3L, "1-P", "O", 5L, 1L))
    assert(served(df(one), 4) == expect(one))
    val groupedOnly = (1 to 9).map(i =>
      (None: Option[Long], i.toLong, "2-Q", "GROUPED", i.toLong, 2L))
    assert(served(df(groupedOnly), 4) == expect(groupedOnly))
    val perRowOnly = (1 to 9).map(i =>
      (Some(i.toLong * 5), (i % 3).toLong, "3-R", "O", i.toLong, 1L))
    assert(served(df(perRowOnly), 4) == expect(perRowOnly))
    // seeded random sweeps: arbitrary key ranges (incl. negative
    // custkeys), skewed priorities, nB larger than the row count
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val prios = Seq("1-A", "2-B", "3-C").take(1 + rnd.nextInt(3))
      val grouped = prios.flatMap { p =>
        rnd.shuffle((1 to 30).toList).take(10 + rnd.nextInt(15)).map(i =>
          (None: Option[Long], i.toLong - 12L, p, "GROUPED",
            rnd.nextInt(1000).toLong, 2L))
      }
      val perRow = prios.flatMap { p =>
        rnd.shuffle((1 to 200).toList).take(20 + rnd.nextInt(20)).map(i =>
          (Some(i.toLong * 7 + prios.indexOf(p) * 10000L),
            rnd.nextInt(40).toLong - 20L, p, "O", rnd.nextInt(1000).toLong, 1L))
      }
      val rows = rnd.shuffle(grouped ++ perRow)
      assert(served(df(rows).repartition(1 + rnd.nextInt(8)),
        Seq(1, 3, 64)(rnd.nextInt(3))) == expect(rows),
        s"seed $seed: numbering diverged from the global row_number")
    }
  }

  test("global rank: GlobalRank.running equals a local sort — restart prefix, global scan, zero weights, limit pre-prune, empty and sparse buckets, UTF-8 key order") {
    import graft.operators.GlobalRank
    import java.nio.charset.StandardCharsets.UTF_8
    // rows: (g, bucket b, unique order key x, weight w)
    def served(rows: Seq[(String, Long, Long, Long)], restart: Int, limit: Option[Long] = None): (Map[Long, Long], Long) = {
      val (df, total) = GlobalRank.running(spark,
        rows.toDF("g", "b", "x", "w").repartition(3), Seq("g", "b"), restart,
        Seq(col("x")), col("w"), "run", limit)
      (df.select("x", "run").as[(Long, Long)].collect().toMap, total)
    }
    // the reference: one local sort by (g in Spark's UTF-8 binary order,
    // x), inclusive running sum of w, restarting per g when asked
    val utf8: Ordering[String] = (a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    def expected(rows: Seq[(String, Long, Long, Long)], restart: Boolean): Map[Long, Long] =
      (if (restart) rows.groupBy(_._1).values.toSeq else Seq(rows)).flatMap { grp =>
        val sorted = grp.sortBy(r => (r._1, r._3))(Ordering.Tuple2(utf8, Ordering.Long))
        sorted.map(_._3).zip(sorted.map(_._4).scanLeft(0L)(_ + _).tail)
      }.toMap

    val (empty, emptyTotal) = served(Seq.empty, 0)
    assert(empty.isEmpty && emptyTotal == 0L)
    // Java's String.compareTo orders U+1F600 (surrogate pair D83D DE00)
    // before U+FFFD; Spark's UTF-8 binary order (EF BF BD < F0 9F 98 80)
    // puts U+FFFD first — the driver must scan in Spark's order
    val (fffd, smile) = ("\uFFFD", "\uD83D\uDE00")
    assert(smile.compareTo(fffd) < 0)
    assert(served(Seq((smile, 0L, 1L, 1L), (fffd, 0L, 2L, 1L)), 0)._1 ==
      Map(2L -> 1L, 1L -> 2L), "bucket keys scanned out of Spark's order")
    val rnd = new scala.util.Random(7)
    for {
      // one bucket / sparse buckets (most of the range empty) / dense
      width <- Seq(1L << 40, 97L, 1L)
      groups <- Seq(Seq(""), Seq("a", "b"), Seq(fffd, smile, "a"))
    } {
      val xs = rnd.shuffle((0L until 5000L).toList).take(20 + rnd.nextInt(150))
      val rows = xs.map(x => (groups(rnd.nextInt(groups.size)), x / width, x,
        rnd.nextInt(4).toLong)) // weights 0..3
      val what = s"width $width, groups ${groups.size}"
      val (perGroup, total) = served(rows, 1)
      assert(perGroup == expected(rows, restart = true), s"restart scan: $what")
      assert(total == rows.map(_._4).sum, s"grand total: $what")
      assert(served(rows, 0)._1 == expected(rows, restart = false), s"global scan: $what")
      // the rank-limit pre-prune: every rank ≤ limit is served exactly,
      // and a served row's rank is exact even past the limit
      val ranks = rows.map(_.copy(_4 = 1L))
      val limit = 1L + rnd.nextInt(12)
      val (pruned, _) = served(ranks, 1, Some(limit))
      val exp = expected(ranks, restart = true)
      assert(pruned.forall { case (x, r) => exp(x) == r }, s"pruned ranks: $what")
      assert(pruned.filter(_._2 <= limit) == exp.filter(_._2 <= limit), s"limit: $what")
      if (width == 1L && ranks.groupBy(_._1).values.exists(_.size > limit))
        assert(pruned.size < ranks.size, s"nothing pruned: $what")
    }
  }

  test("mart table is session-materialized: one build serves repeated q_mart_union runs (verdict r13 #1)") {
    import graft.operators.SessionMemo
    // an earlier case in this suite may already have paid the build —
    // the pin is one-build-per-session: after ANY first serve, repeats
    // never rebuild
    val first = Marts.martUnion.run(spark, sfDir).collect()
    val b1 = SessionMemo.buildsOf("mart")
    assert(b1 >= 1, "some serve must have paid the one mart build")
    val second = Marts.martUnion.run(spark, sfDir).collect()
    val third = Marts.martUnion.run(spark, sfDir).collect()
    assert(SessionMemo.buildsOf("mart") == b1,
      "a repeat serve must read the materialized mart, not rebuild it")
    assert(first.toSeq == second.toSeq && second.toSeq == third.toSeq)
  }
}
