package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("registry names are unique and every oracle key has a query") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs non-empty at sf0.001") {
    val allowEmpty = Set("q_sum_match") // mismatch finders may find none
    SparkEntry.registry.foreach { q =>
      val n = q.run(spark, sfDir).count()
      assert(allowEmpty(q.name) || n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("anti join + semi join reconcile to the total") {
    val row = QualityTests.reconcile.run(spark, sfDir).head()
    assert(row.getAs[Boolean]("ok"))
    assert(row.getAs[Long]("total_cnt") ==
      row.getAs[Long]("matched_cnt") + row.getAs[Long]("unmatched_cnt"))
  }

  test("best match picks the argmin |price - target| per order") {
    val df = EltOps.bestMatch.run(spark, sfDir)
    // one row per surviving order, diff within tolerance
    assert(df.groupBy("l_orderkey").count().where(col("count") > 1).count() == 0)
    assert(df.where(col("diff_cents") > 500000L).count() == 0)
  }

  test("exact dedup flags planted duplicates") {
    val docs = Seq(
      (1L, "the same exact text"),
      (2L, "the same exact text"),
      (3L, "a different text entirely")).toDF("doc_id", "text")
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val out = docs.select(col("doc_id"), md5(norm).as("h"))
      .withColumn("keeper", min("doc_id").over(w))
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
    val dups = out.where(col("is_dup")).select("doc_id").as[Long].collect().toSet
    assert(dups == Set(2L))
  }

  test("mega-duplicate key: exact dedup survives one text ×1M on a single hash") {
    // the r8 hardening target: a mass-duplicate content key (every empty
    // doc normalizes to ONE hash; a viral page is byte-identical millions
    // of times at web scale). Under the old min/count-over-window device
    // all 1M rows of the group would ride a single unsplittable window
    // task; the groupBy + equi-join device map-side-combines the group to
    // one row and lets AQE split the join back.
    val n = 1000000L
    val docs = spark.range(n)
      .select(col("id").as("doc_id"), lit("the viral page text").as("text"))
      .union(Seq((n, "a unique survivor")).toDF("doc_id", "text"))
    val tmp = java.nio.file.Files.createTempDirectory("graftmega").toString
    docs.repartition(4).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.exact.run(spark, tmp)
    val sizes = out.groupBy("group_size").count().as[(Long, Long)].collect().toMap
    assert(sizes == Map(n -> n, 1L -> 1L), s"unexpected group sizes: $sizes")
    assert(out.where(!col("is_dup")).count() == 2L) // exactly one keeper per group
    assert(out.where(col("keeper_id") === 0L).count() == n)
  }

  test("hot shingle: ngram dedup survives one stop-phrase shared by 1M DISTINCT texts") {
    // the r9 hardening target — the FEATURE-key twin of the mega-duplicate
    // test above: a corpus-ubiquitous stop-phrase shingle among distinct
    // texts (df = 10⁶ ≫ the 128 cap). Under the old sum-over-window df
    // device the whole hot bucket would ride ONE unsplittable window task
    // just to be discarded; the groupBy + semi-join device map-side-
    // combines the df count and AQE-splits the join back. Without the df
    // cap itself the self-join would be quadratic (10¹² candidate pairs
    // from the shared boilerplate shingles) — so completing at all proves
    // the cap, and the plan assertion proves the device.
    val n = 1000000
    val boiler = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("the common boiler plate filler u"), col("id")).as("text"))
    val planted = Seq(
      (n.toLong, "alpha beta gamma delta epsilon zeta uniqone"),
      (n.toLong + 1, "alpha beta gamma delta epsilon zeta uniqtwo")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("grafthot").toString
    boiler.union(planted).repartition(8).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val q = Dedup.ngramJaccard.run(spark, tmp)
    assert(q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "ngram candidate stage plans a window")
    val pairs = q.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((n.toLong, n.toLong + 1)),
      s"expected only the planted pair, got ${pairs.size} pairs")
  }

  test("dsir selection: integer weights discriminate target-like content; encode persists once") {
    // en docs share a bigram pool; zh docs use disjoint vocab. Target =
    // the en slice, so en-pool buckets carry positive log-ratios and
    // zh-only buckets negative ones.
    val tgt = (1 to 8).map(i => s"en$i").mkString(" ")
    val docs = ((1 to 6).map(i => (i.toLong, s"$tgt en${i}x extra$i", "en")) ++
      (7 to 12).map(i =>
        (i.toLong, (1 to 10).map(j => s"zh${i}w$j").mkString(" "), "zh")) ++
      Seq((13L, "single", "fr"))).toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("graftdsir").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (e0, a0) = (AnnIndex.sigEncodes.get(), AnnIndex.sigAppends.get())
    val out = TextAnalysis.dsirSelect.run(spark, tmp)
      .select("doc_id", "n_bigrams", "pos_mass", "neg_mass", "is_targetlike")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(AnnIndex.sigEncodes.get() == e0 + 1, "first run must encode once")
    assert((1 to 6).forall(i => out(i - 1)._5),
      s"target-pool docs must score target-like: ${out.toSeq}")
    assert((7 to 12).forall(i => !out(i - 1)._5),
      s"disjoint-vocab docs must not: ${out.toSeq}")
    assert(out(12) == ((13L, 0L, 0L, 0L, false)), "no-bigram doc scores zero")
    // mass reconciliation: per-doc counts sum to the corpus bigram total,
    // and signed masses partition the count (no zero-sign bucket planted)
    val totalBigrams = docs.collect().map(_.getString(1).trim.split(" +"))
      .map(w => math.max(w.length - 1, 0)).sum
    assert(out.map(_._2).sum == totalBigrams)
    assert(out.forall(r => r._3 + r._4 <= r._2))
    // second run serves the persisted DS signatures, identically
    val again = TextAnalysis.dsirSelect.run(spark, tmp)
      .select("doc_id", "n_bigrams", "pos_mass", "neg_mass", "is_targetlike")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(AnnIndex.sigEncodes.get() == e0 + 1 &&
      AnnIndex.sigAppends.get() == a0, "second run must serve, not re-encode")
    assert(again.toSeq == out.toSeq)
    // ingest: a novel doc + an exact duplicate of doc 1 — DS must
    // delta-append (novel content only), and the chained serve must
    // equal a from-scratch build on the appended corpus (λ shifts with
    // the new counts; the th-keyed artifact is count-free by design)
    Seq((14L, s"$tgt novel tail", "en"), (15L, s"$tgt en1x extra1", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(s"$tmp/documents.parquet")
    val chained = TextAnalysis.dsirSelect.run(spark, tmp).collect()
      .map(_.toString).sorted.toSeq
    assert(AnnIndex.sigEncodes.get() == e0 + 1 &&
      AnnIndex.sigAppends.get() == a0 + 1,
      "appended corpus must delta-append, never re-encode")
    val freshRoot = java.nio.file.Files.createTempDirectory("graftdsirroot").toString
    try {
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      val fresh = TextAnalysis.dsirSelect.run(spark, tmp).collect()
        .map(_.toString).sorted.toSeq
      assert(chained == fresh, "chained DS serve diverges from a fresh build")
    } finally spark.conf.unset("graft.ann.indexRoot")
  }

  test("dsir weights replay bit-exact against a local reference (the un-gated ln half)") {
    // q_dsir_weights deliberately carries the IEEE-ln work (λ and the
    // Gumbel key) that the hash-gated q_dsir_select excludes; its pin is
    // this local replay: same exact bucket counts, same Math.log, same
    // HALF_UP micro rounding, compared bit-for-bit per doc.
    val tgt = (1 to 8).map(i => s"en$i").mkString(" ")
    val rows = ((1 to 6).map(i => (i.toLong, s"$tgt en${i}x extra$i", "en")) ++
      (7 to 12).map(i =>
        (i.toLong, (1 to 10).map(j => s"zh${i}w$j").mkString(" "), "zh")) ++
      Seq((13L, "single", "fr")))
    val tmp = java.nio.file.Files.createTempDirectory("graftdsirw").toString
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.dsirWeights.run(spark, tmp)
      .select("doc_id", "n_bigrams", "lw_micro", "is_targetlike", "sample_key_micro")
      .as[(Long, Long, Long, Boolean, Long)].collect().sortBy(_._1)

    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def halfUpMicro(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val B = 4096L
    val perDoc = rows.map { case (id, text, lang) =>
      val ws = text.trim.split(" +")
      val bs =
        if (ws.length < 2) Seq.empty[Long]
        else ws.sliding(2).map(p => java.lang.Long.parseLong(
          md5hex(p.mkString(" ")).substring(0, 8), 16) % B).toSeq
      (id, lang, bs)
    }
    val r = perDoc.flatMap(_._3).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val t = perDoc.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val (rTot, tTot) = (r.values.sum, t.values.sum)
    val lam = r.keys.map { b =>
      b -> halfUpMicro(math.log((t.getOrElse(b, 0L) + 1L).toDouble / (tTot + B).toDouble) -
        math.log((r(b) + 1L).toDouble / (rTot + B).toDouble))
    }.toMap
    val expected = perDoc.map { case (id, _, bs) =>
      val lw = bs.map(lam).sum
      val u = (java.lang.Long.parseLong(
        md5hex(s"$id:dsir").substring(0, 13), 16).toDouble + 0.5) / 4503599627370496.0
      (id, bs.size.toLong, lw, lw > 0L,
        lw + halfUpMicro(-math.log(-math.log(u))))
    }.sortBy(_._1)
    assert(got.toSeq == expected, "engine weights diverge from the local reference")
  }

  test("containment dedup surfaces an asymmetric inclusion pair invisible to resemblance") {
    // Broder's containment vs resemblance: a short notice embedded
    // verbatim in a much longer page. Containment of the small side is
    // 1.0 while Jaccard ~ 0.09 — no resemblance threshold >= 0.5 can
    // ever surface the pair, which is exactly the measure's point.
    val xw = (1 to 20).map(i => s"cx$i").mkString(" ")
    val extra = (1 to 180).map(i => s"cy$i").mkString(" ")
    val docs = Seq(
      (1L, xw),            // the contained notice
      (2L, s"$xw $extra"), // the containing page
      (3L, (1 to 50).map(i => s"cz$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftcont").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.containment.run(spark, tmp)
      .select("doc_a", "doc_b", "containment", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet == Set((1L, 2L)),
      s"expected exactly the planted inclusion pair, got ${rows.toSeq}")
    assert(rows.head._3 == 1.0,
      s"contained side must be fully inside: ${rows.head._3}")
    assert(rows.head._4 < 0.5,
      s"pair must sit below every resemblance threshold: ${rows.head._4}")
    val resemblance = Dedup.ngramJaccard.run(spark, tmp)
      .where(col("jaccard") >= 0.5).count()
    assert(resemblance == 0, "resemblance dedup should miss the inclusion pair")
  }

  test("minhash LSH surfaces a planted near-duplicate pair") {
    // Two docs sharing almost all shingles must collide in >=1 band.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val far = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftspec").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhashLsh.run(spark, tmp)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("minhash recall measured against exact n-gram Jaccard pairs") {
    // same measurement rigor as the hyperplane family: candidates from
    // the banded minhash vs the EXACT Jaccard join on real data, tiered
    // by similarity. Theory floor for a single pair at J=0.8 with
    // 4 bands x 4 rows is 1-(1-0.8^4)^4 ~ 0.88; measured on sf0.01 the
    // recall is 1.000 at every tier >= 0.5 (qualifying pairs are high-J
    // near-dups and exact dups collapse to all-band matches). The 0.8
    // floor on the J>=0.8 tier means a dip below per-pair theory - a
    // real regression - fails, while a testdata reroll cannot flake it.
    val dir = "/root/testdata/sf0.01"
    val mh = Dedup.minhashLsh.run(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard.run(spark, dir)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val tp = exact.filter(_._3 >= 0.8).map(e => (e._1, e._2)).toSet
    assert(tp.nonEmpty, "corpus lost its planted near-dups")
    val recall = tp.count(mh.contains).toDouble / tp.size
    info(f"minhash recall on J>=0.8 exact pairs: $recall%.3f (${tp.size} pairs)")
    assert(recall >= 0.8, s"minhash recall $recall below 0.8 floor")
  }

  test("simhash recall measured against exact n-gram Jaccard pairs") {
    // measured 0.920 on J>=0.8 exact pairs at sf0.01 (23/25; the two
    // misses sit past hamming 12 even at J>=0.9) — the honest shape of
    // simhash's coarser similarity: a weighted-term cosine proxy, not
    // shingle Jaccard, so high-J pairs with divergent term weights can
    // land outside the hamming ball. Floor 0.8 pins the curve without
    // pretending it's the minhash one.
    val dir = "/root/testdata/sf0.01"
    val sh = Dedup.simhash.run(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard.run(spark, dir)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val tp = exact.filter(_._3 >= 0.8).map(e => (e._1, e._2)).toSet
    assert(tp.nonEmpty, "corpus lost its planted near-dups")
    val recall = tp.count(sh.contains).toDouble / tp.size
    info(f"simhash recall on J>=0.8 exact pairs: $recall%.3f (${tp.size} pairs)")
    assert(recall >= 0.8, s"simhash recall $recall below 0.8 floor")
  }

  test("rep-level output: manifest expansion reconstructs the expanded simhash pairs exactly") {
    // the 100 TB consumption shape: (rep_a, rep_b) pairs + the members
    // manifest must carry the SAME information as the member-doc
    // expansion — rebuild the expansion from the two rep-level outputs
    // and demand row-set equality with q_dedup_simhash, plus the pair
    // count reconciling to Σ n_a·n_b + Σ k(k-1)/2
    val dir = "/root/testdata/sf0.001"
    val rep = Dedup.simhashRep.run(spark, dir).cache()
    val mem = Dedup.membersManifest.run(spark, dir).select("doc_id", "rep").cache()
    val cross = rep
      .join(mem.select(col("rep").as("rep_a"), col("doc_id").as("da")), "rep_a")
      .join(mem.select(col("rep").as("rep_b"), col("doc_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val within = mem.as("x")
      .join(mem.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    val rebuilt = cross.union(within)
      .as[(Long, Long, Long)].collect().toSet
    val expanded = Dedup.simhash.run(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(rebuilt == expanded,
      s"rep-level rebuild diverges: ${(rebuilt -- expanded).take(3)} vs ${(expanded -- rebuilt).take(3)}")
    // the budget arithmetic a consumer uses to size (or refuse) an expansion
    val crossBudget = rep.agg(sum(col("n_a") * col("n_b"))).head().getLong(0)
    val withinBudget = Dedup.membersManifest.run(spark, dir)
      .select("rep", "group_size").distinct()
      .agg(sum(col("group_size") * (col("group_size") - lit(1L))))
      .head().getLong(0) / 2
    assert(crossBudget + withinBudget == expanded.size.toLong,
      s"pair budget ${crossBudget + withinBudget} != expanded ${expanded.size}")
    rep.unpersist(); mem.unpersist()
  }

  test("rep-level embed pairs: group-size budget reconciles the expanded operator exactly") {
    // the embedding leg of the rep-level family: label each expanded pair
    // with its endpoints' exact-dup representatives; the cross-group count
    // must equal Σ n_a·n_b and the total must add Σ k(k−1)/2 within-group
    // pairs (every group's self-cosine passes the threshold: ≈1 for real
    // vectors, NaN — which Spark ranks above any value — for zero vectors)
    val dir = "/root/testdata/sf0.001"
    val rep = Similarity.dedupEmbedRep.run(spark, dir).cache()
    val mem = Similarity.embedGraph(spark, dir).members.cache()
    val expanded = Similarity.dedupEmbed.run(spark, dir).cache()
    val labeled = expanded
      .join(mem.select(col("vec_id").as("vec_a"), col("rep").as("ra")), "vec_a")
      .join(mem.select(col("vec_id").as("vec_b"), col("rep").as("rb")), "vec_b")
    val cross = labeled.where(col("ra") =!= col("rb")).count()
    val budget = rep.agg(coalesce(sum(col("n_a") * col("n_b")), lit(0L)))
      .head().getLong(0)
    assert(cross == budget, s"expanded cross pairs $cross != rep budget $budget")
    val withinBudget = mem.groupBy("rep").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(col("k") * (col("k") - lit(1L))), lit(0L)))
      .head().getLong(0) / 2
    assert(expanded.count() == budget + withinBudget,
      s"pair budget ${budget + withinBudget} != expanded ${expanded.count()}")
    // each rep pair is itself a member pair of the expansion, cosine intact
    val repKeys = rep.select(least(col("rep_a"), col("rep_b")).as("vec_a"),
        greatest(col("rep_a"), col("rep_b")).as("vec_b"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    val expKeys = expanded.as[(Long, Long, Double)].collect().toSet
    assert(repKeys.subsetOf(expKeys), "rep pair missing from the expansion")
    rep.unpersist(); mem.unpersist(); expanded.unpersist()
  }

  test("rep-level minhash: sum of n_a*n_b equals the expanded cross-group pair count") {
    // the band-collision rep pairs carry the group sizes precisely so a
    // consumer can size (or refuse) the expansion without running it —
    // label each expanded pair with its endpoints' representatives and
    // reconcile the cross-group count against the rep-level budget
    val dir = "/root/testdata/sf0.001"
    val rep = Dedup.minhashRep.run(spark, dir)
    val mem = Dedup.membersManifest.run(spark, dir).select("doc_id", "rep")
    val labeled = Dedup.minhashLsh.run(spark, dir)
      .join(mem.select(col("doc_id").as("doc_a"), col("rep").as("ra")), "doc_a")
      .join(mem.select(col("doc_id").as("doc_b"), col("rep").as("rb")), "doc_b")
    val cross = labeled.where(col("ra") =!= col("rb")).count()
    val budget = rep.agg(coalesce(sum(col("n_a") * col("n_b")), lit(0L)))
      .head().getLong(0)
    assert(cross == budget, s"expanded cross pairs $cross != rep budget $budget")
  }

  test("simhash hamming distance is small for near-dup, large for far") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ") + " aa bb"
    val far = (200 to 260).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftspec2").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.simhash.run(spark, tmp)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    val nearPair = out.find(r => r._1 == 1L && r._2 == 2L)
    assert(nearPair.exists(_._3 <= 12), s"near pair missing or distant: ${out.toSeq}")
    // far pairs don't qualify and are not emitted at all
    assert(!out.exists(r => r._2 == 3L || r._1 == 3L), s"far pair emitted: ${out.toSeq}")
  }

  test("near-dup clusters merge transitive chains and exact copies") {
    def toks(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, toks(1, 40)),    // A
      (2L, toks(11, 50)),   // B: J(A,B) = 28/48 ≈ 0.58 — edge
      (3L, toks(21, 60)),   // C: J(B,C) ≈ 0.58 but J(A,C) ≈ 0.31 — chain only
      (4L, toks(100, 140)), // D
      (5L, toks(100, 140)), // E: exact copy of D
      (6L, toks(200, 240))  // F: unrelated singleton
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftcc").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.clusters.run(spark, tmp)
      .select("doc_id", "cluster_id", "cluster_size", "is_dup")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // A~B~C is ONE cluster via the chain even though A~C is sub-threshold
    assert(out(1L) == ((1L, 3L, false)) && out(2L) == ((1L, 3L, true)) &&
      out(3L) == ((1L, 3L, true)), s"chain not merged: $out")
    assert(out(4L) == ((4L, 2L, false)) && out(5L) == ((4L, 2L, true)))
    assert(out(6L) == ((6L, 1L, false)))
  }

  test("clusters converge on a diameter-39 template-drift chain (past the r4 round cap)") {
    // 40 docs sliding a 20-word window by 5 over a unique word stream:
    // adjacent docs share 13 of 18 shingles (J = 13/23 ≈ 0.57, an edge);
    // two hops apart share 8 of 28 (J ≈ 0.29, no edge) — a pure chain of
    // graph diameter 39. r4's 15 propagation-only rounds could move the
    // min label at most 15 hops and shipped wrong ids with a warning;
    // pointer jumping must converge well inside the 25-round budget.
    val docs = (0 until 40).map { i =>
      (i.toLong, (5 * i until 5 * i + 20).map(w => s"u$w").mkString(" "))
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftchain").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.clusters.run(spark, tmp)
      .select("doc_id", "cluster_id", "cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 40)
    assert(out.forall { case (_, cid, sz) => cid == 0L && sz == 40L },
      s"chain not fully merged: ${out.filter(_._2 != 0L).toSeq}")
  }

  test("decontamination flags corpus docs sharing an 8-gram with the benchmark split") {
    val bench = (1 to 20).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (50L, bench), // doc_id % 50 == 0 -> the benchmark/eval split
      (1L, "x1 x2 " + (5 to 12).map(i => s"a$i").mkString(" ") + " y1"), // one shared 8-gram (a5..a12)
      (2L, (1 to 20).map(i => s"z$i").mkString(" "))) // disjoint vocabulary
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftdecon").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.decontaminate.run(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(1L, 2L), "benchmark docs must not appear in the output")
    assert(out(1L) == ((1L, true)), s"planted overlap missed: $out")
    assert(out(2L) == ((0L, false)))
  }

  test("repetition score flags template spam, clears diverse text, handles short docs") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),        // 8 words, 2 distinct; 6 3-grams, 2 distinct
      (2L, "the quick brown fox jumps over lazy dog"), // all distinct
      (3L, "a b"),                                     // <3 words: no 3-grams
      (4L, "")                                         // degenerate
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftrep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.repetitionScore.run(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out(1L) == ((8L, 2L, 6L, 2L, 0.75, 6.0 / 9 * 1.0)) ||
      out(1L)._1 == 8L && out(1L)._4 == 2L && out(1L)._6 > 0.6,
      s"spam doc under-flagged: ${out(1L)}")
    assert(out(2L)._5 == 0.0 && out(2L)._6 == 0.0, s"clean doc flagged: ${out(2L)}")
    assert(out(3L) == ((2L, 2L, 0L, 0L, 0.0, 0.0)))
    assert(out(4L)._5 == 0.0 && out(4L)._6 == 0.0)
  }

  test("stratified sampling: deterministic buckets, rates ordered per language") {
    val out = TextAnalysis.sampleStratified.run(spark, sfDir).cache()
    try {
      assert(out.where(col("bucket") >= col("rate_pct")).count() == 0)
      val totals = T.documents(spark, sfDir).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = out.groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def frac(l: String) = kept.getOrElse(l, 0L).toDouble / totals(l)
      assert(frac("en") > frac("zh"),
        s"en ${frac("en")} should out-sample zh ${frac("zh")}")
      // same input -> the identical selected set (no rand() anywhere)
      val again = TextAnalysis.sampleStratified.run(spark, sfDir)
      assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    } finally out.unpersist()
  }

  test("LSH embed dedup: exact precision and >=0.95 recall vs brute force") {
    // sf0.01 (500 vecs, 271 qualifying pairs) — large enough that the
    // 98%-per-pair design target can't flake the 0.95 assertion.
    val dir = "/root/testdata/sf0.01"
    val lsh = Similarity.dedupEmbed.run(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForcePairs(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "rescored pairs must all pass the exact threshold")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.95, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("semantic dedup labels are exactly the closure of the emitted pair graph") {
    // sf0.01: 500 vectors, ~271 qualifying pairs → real multi-member
    // components. The operator is approximate only through the pair
    // graph; GIVEN that graph its labels must be the exact transitive
    // closure with min-id representatives — replay the emitted pairs
    // through a local union-find and compare.
    val dir = "/root/testdata/sf0.01"
    val pairs = Similarity.dedupEmbed.run(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val out = Similarity.semanticDedup.run(spark, dir)
      .select("vec_id", "cluster_id", "cluster_size", "is_dup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // attach the larger root under the smaller: roots stay min ids
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = out.map(_._1).map(id => id -> find(id)).toMap
    val sizes = want.values.groupBy(identity).map { case (l, g) => l -> g.size.toLong }
    assert(out.nonEmpty && out.length == want.size)
    for ((id, cl, sz, dup) <- out) {
      assert(cl == want(id), s"vec $id labeled $cl, union-find says ${want(id)}")
      assert(sz == sizes(cl), s"cluster $cl size $sz, union-find says ${sizes(cl)}")
      assert(dup == (id != cl))
    }
    // the corpus really exercises the transitive grouping
    assert(out.exists(_._4), "no duplicate rows found — corpus too easy")
    assert(sizes.values.max >= 3, "no component larger than a single pair")
  }

  test("MMR rerank equals an independent local greedy reference") {
    // the operator's 5 greedy selections per query, re-derived on the
    // driver from the raw vectors with the same left-to-right dot kernel
    // order and the same literal arithmetic (0.7·rel − (1−0.7)·maxsim),
    // so scores are bit-identical and the selection must match exactly
    val dir = "/root/testdata/sf0.001"
    val out = Similarity.mmrRerank.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("mmr_rank")) ->
        r.getAs[Long]("cand_id")).toMap
    val vecsL = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val ord = Ordering.Double.TotalOrdering // NaN greatest — Spark's ordering
    def better(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = ord.compare(a._2, b._2)
      if (c != 0) c > 0 else a._1 < b._1
    }
    for (q <- vecsL.keys.filter(_ < 20)) {
      val pool = vecsL.keys.filter(_ != q).toSeq
        .map(c => c -> cos(vecsL(q), vecsL(c)))
        .sortWith(better).take(20)
      var sel = List.empty[Long]
      var maxsim = Map.empty[Long, Double].withDefaultValue(0.0)
      for (step <- 1 to 5) {
        val pick = pool.filterNot(p => sel.contains(p._1))
          .map { case (id, rel) => (id, 0.7 * rel - (1 - 0.7) * maxsim(id)) }
          .sortWith(better).head._1
        assert(out((q, step.toLong)) == pick,
          s"query $q step $step: spark ${out((q, step.toLong))} vs local $pick")
        sel ::= pick
        maxsim = maxsim ++ pool.collect {
          case (id, _) if id != pick && !sel.contains(id) =>
            val s2 = cos(vecsL(id), vecsL(pick))
            id -> (if (ord.gt(s2, maxsim(id))) s2 else maxsim(id))
        }
      }
    }
  }

  test("banded LSH ANN: shared-bucket candidates only, recall floor vs brute force") {
    // sf0.01 (500 vectors) — the scale the r4 floor was specified at
    val dir = "/root/testdata/sf0.01"
    val lsh = Similarity.annLsh.run(spark, dir).cache()
    try {
      assert(lsh.where(col("rn") > 5).count() == 0)
      assert(lsh.groupBy("query_id").count().where(col("count") > 5).count() == 0)
      // structural: every emitted neighbor's band code lies within the
      // query's hamming-≤radius probe ring in >=1 band — the candidate
      // set, nothing more
      val e = T.embeddings(spark, dir)
      val (bits, bands, radius) = Similarity.annLshParams(math.max(e.count(), 2L))
      val buckets = e.select(col("vec_id"),
        posexplode(graft.functions.Vectors.hyperplaneBands(
          graft.functions.Vectors.toDouble(col("embedding")),
          Similarity.annLshSeed, bands, bits)).as(Seq("band_idx", "code")))
      val qprobes = buckets.withColumnRenamed("vec_id", "query_id")
        .withColumn("mask", explode(lit(Similarity.probeMasks(bits, radius))))
        .select(col("query_id"), col("band_idx"),
          col("code").bitwiseXOR(col("mask")).as("code"))
      val pairs = lsh.select("query_id", "neighbor_id")
      val sharing = pairs
        .join(qprobes, "query_id")
        .join(buckets.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id", "band_idx", "code"))
        .select("query_id", "neighbor_id").distinct()
      assert(pairs.exceptAll(sharing).count() == 0,
        "emitted neighbor without a shared band bucket")
      // recall vs exact top-5 (deterministic: fixed seed, fixed data) —
      // the banded adaptive scheme on this random-direction corpus, LSH's
      // worst case; the r3 fixed 8-plane scheme measured 0.10 here
      val brute = Similarity.annTopK.run(spark, dir)
        .select("query_id", "neighbor_id")
      val hit = pairs.intersect(brute).count()
      val recall = hit.toDouble / brute.count()
      info(f"banded LSH recall vs brute top-5: $recall%.3f")
      // measured ~0.9 at sf0.01; 0.8 matches every other recall floor
      // (the r5 0.5 left a 40-point gap a silent regression could hide in)
      assert(recall >= 0.8, s"banded LSH recall $recall below 0.8 floor")
    } finally lsh.unpersist()
  }

  test("multi-probe recall holds at sf0.1 — the regime the r4 clamp degraded") {
    // n = 5000 distinct vectors -> bits = 8. The r4 scheme solved 193
    // bands for the dedup design point and clamped to 96 (expected
    // boundary recall ~0.86, and unmeasured); multi-probe (radius 1,
    // 31 bands) re-solves the ≥0.98 equation under the cap. Measure both
    // operators against exact brute force at this scale.
    val dir = "/root/testdata/sf0.1"
    val lsh = Similarity.dedupEmbed.run(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForcePairs(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "rescored pairs must all pass the exact threshold")
    val recall = lsh.size.toDouble / brute.size
    info(f"dedup_embed recall at sf0.1: $recall%.3f (${lsh.size}/${brute.size})")
    assert(recall >= 0.95, s"dedup_embed sf0.1 recall $recall (${lsh.size}/${brute.size})")

    val ann = Similarity.annLsh.run(spark, dir).select("query_id", "neighbor_id")
    val bruteTop = Similarity.annTopK.run(spark, dir).select("query_id", "neighbor_id")
    val annRecall = ann.intersect(bruteTop).count().toDouble / bruteTop.count()
    info(f"ann_lsh recall at sf0.1: $annRecall%.3f")
    // measured 0.910 (deterministic seed/data); 0.8 floor absorbs a
    // regenerated-testdata reroll while still pinning the ≥0.9 design
    assert(annRecall >= 0.8, s"ann_lsh sf0.1 recall $annRecall below 0.8 floor")

    // PQ at the same scale point: quantization error is size-independent
    // (per-subspace codebooks retrain per corpus) but the ADC
    // top-pqRescore rescore set is a 10×-smaller fraction of n=5000 than
    // of n=500, so measure that the rescore margin still clears the
    // family floor
    val pq = Similarity.annPq.run(spark, dir).select("query_id", "neighbor_id")
    val pqRecall = pq.intersect(bruteTop).count().toDouble / bruteTop.count()
    info(f"ann_pq recall at sf0.1: $pqRecall%.3f")
    assert(pqRecall >= 0.8, s"ann_pq sf0.1 recall $pqRecall below 0.8 floor")

    // the composed operator at the same scale point: cell pruning AND
    // quantized ranking both get harder as n grows (more cells unprobed,
    // a thinner top-pqRescore fraction), so the floor is re-measured here
    val ivfpq = Similarity.annIvfPq.run(spark, dir).select("query_id", "neighbor_id")
    val ivfpqRecall = ivfpq.intersect(bruteTop).count().toDouble / bruteTop.count()
    info(f"ann_ivfpq recall at sf0.1: $ivfpqRecall%.3f")
    assert(ivfpqRecall >= 0.8, s"ann_ivfpq sf0.1 recall $ivfpqRecall below 0.8 floor")
  }

  test("IVF-PQ ANN: k-bound, probed-cell membership, recall floor vs brute force") {
    val dir = "/root/testdata/sf0.01"
    val out = Similarity.annIvfPq.run(spark, dir).cache()
    try {
      assert(out.where(col("rn") > 5).count() == 0)
      assert(out.groupBy("query_id").count().where(col("count") > 5).count() == 0)
      // recall composes the IVF cell-pruning term with the PQ ADC-ranking
      // term; the family floor is the gate, the info line is the measure
      val brute = Similarity.annTopK.run(spark, dir).select("query_id", "neighbor_id")
      val pairs = out.select("query_id", "neighbor_id")
      val recall = pairs.intersect(brute).count().toDouble / brute.count()
      info(f"ann_ivfpq recall vs brute top-5 at sf0.01: $recall%.3f")
      assert(recall >= 0.8, s"ann_ivfpq recall $recall below 0.8 floor")
      // compare against single-cut IVF: the PQ leg's quantization must not
      // cost more than the rescore can recover — IVFPQ may only miss what
      // cell pruning already missed plus an ADC top-pqRescore slip, so it
      // stays within one neighbor-per-query of IVF on this corpus
      val ivf = Similarity.annIvf.run(spark, dir)
        .select("query_id", "neighbor_id")
      val ivfRecall = ivf.intersect(brute).count().toDouble / brute.count()
      info(f"ann_ivf recall (same corpus): $ivfRecall%.3f")
      assert(recall >= ivfRecall - 0.2,
        s"ADC ranking lost ${ivfRecall - recall} recall vs raw-vector IVF — quantization broken?")
    } finally out.unpersist()
  }

  test("multi-probe ANN recall in the radius-2 regime (n=40k synthetic corpus)") {
    // 40k distinct vectors -> bits=11; the ANN design point solves 670
    // bands at radius 0 (r4 would clamp to 64: recall collapse) and 19
    // bands at radius 2 under the cap. A deterministic hash-generated
    // corpus (no rand(): reruns are bit-identical) proves the escalated
    // radius actually delivers recall where the clamp used to give it up.
    val tmpPath = java.nio.file.Files.createTempDirectory("graftann40k")
    val tmp = tmpPath.toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftann40kidx")
    spark.conf.set("graft.ann.indexRoot", idxRoot.toString)
    try {
      spark.range(40000)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> CAST((pmod(xxhash64(id, j), 2000) - 1000) / 1000.0 AS FLOAT))")
            .as("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val (bits, bands, radius) = Similarity.annLshParams(40000L)
      assert(bits == 11 && radius == 2 && bands <= 64,
        s"expected the radius-2 regime, got (bits=$bits, bands=$bands, radius=$radius)")
      val ann = Similarity.annLsh.run(spark, tmp).select("query_id", "neighbor_id")
      val brute = Similarity.annTopK.run(spark, tmp).select("query_id", "neighbor_id")
      val recall = ann.intersect(brute).count().toDouble / brute.count()
      info(f"ann_lsh recall at n=40k (radius 2): $recall%.3f")
      assert(recall >= 0.8, s"radius-2 recall $recall below 0.8 floor")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      import scala.jdk.CollectionConverters._
      for (p <- Seq(tmpPath, idxRoot))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("multi-probe ANN recall in the radius-3 regime (n=530k synthetic corpus)") {
    // the solver promises radius ≤3 out to 2^62, but through r5 no point
    // in the radius-3 regime was measured (sf0.1 pins radius 1, n=40k
    // radius 2). 530k distinct vectors → bits=15, where the ANN design
    // point solves 3154 bands at radius 0, 301 at radius 1 and 88 at
    // radius 2 — all over the 64 cap — and 26 bands at radius 3. Same
    // deterministic hash-generated corpus as the 40k spec (no rand():
    // reruns are bit-identical).
    val tmpPath = java.nio.file.Files.createTempDirectory("graftann530k")
    val tmp = tmpPath.toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftann530kidx")
    spark.conf.set("graft.ann.indexRoot", idxRoot.toString)
    try {
      spark.range(530000)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> CAST((pmod(xxhash64(id, j), 2000) - 1000) / 1000.0 AS FLOAT))")
            .as("embedding"))
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val (bits, bands, radius) = Similarity.annLshParams(530000L)
      assert(bits == 15 && radius == 3 && bands <= 64,
        s"expected the radius-3 regime, got (bits=$bits, bands=$bands, radius=$radius)")
      val ann = Similarity.annLsh.run(spark, tmp).select("query_id", "neighbor_id")
      val brute = Similarity.annTopK.run(spark, tmp).select("query_id", "neighbor_id")
      val recall = ann.intersect(brute).count().toDouble / brute.count()
      info(f"ann_lsh recall at n=530k (radius 3): $recall%.3f")
      assert(recall >= 0.8, s"radius-3 recall $recall below 0.8 floor")
    } finally {
      // the corpus (~140 MB) and its signature index — don't leave them
      // in /tmp
      spark.conf.unset("graft.ann.indexRoot")
      import scala.jdk.CollectionConverters._
      for (p <- Seq(tmpPath, idxRoot))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("IVF codebook retrains on an in-place same-count table rewrite") {
    // the r4 memo key was path+rowcount only: a same-cardinality content
    // rewrite at the same path silently served stale centroids. The key
    // now folds in the physical file listing (names/sizes/mtimes).
    val tmp = java.nio.file.Files.createTempDirectory("graftivf").toString
    def write(seed: Int): Unit = (0 until 64)
      .map(i => (i.toLong,
        Array.tabulate(8)(j => (((i * 7 + j * 13 + seed * 5) % 17) - 8).toFloat)))
      .toDF("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def centroids(): Set[Seq[Double]] = {
      val e = T.embeddings(spark, tmp)
        .select(col("vec_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
      Similarity.codebookFor(spark, tmp, e)
        .collect().map(_.getSeq[Double](1)).toSet
    }
    write(0)
    val c1 = centroids()
    assert(centroids() == c1, "same content must hit the memo")
    write(1) // same path, same row count, different vectors
    val c2 = centroids()
    assert(c1 != c2, "rewritten table served stale centroids")
  }

  test("IVF ANN: k-bound per query, probed-cell membership, recall floor vs brute force") {
    val dir = "/root/testdata/sf0.01"
    val ivf = Similarity.annIvf.run(spark, dir).cache()
    try {
      assert(ivf.count() > 0)
      assert(ivf.groupBy("query_id").count().where(col("count") > 5).count() == 0)
      // recall vs exact top-5: nprobe=4 of 16 cells (deterministic)
      val brute = Similarity.annTopK.run(spark, dir)
        .select("query_id", "neighbor_id")
      val hit = ivf.select("query_id", "neighbor_id").intersect(brute).count()
      val recall = hit.toDouble / brute.count()
      info(f"IVF recall vs brute top-5: $recall%.3f")
      // measured 0.930 (deterministic codebook + data); 0.8 matches the
      // recall floor used across the approximate family
      assert(recall >= 0.8, s"IVF recall $recall below 0.8 floor")
    } finally ivf.unpersist()
  }

  test("PQ ANN: k-bound per query, exact-rescore recall floor vs brute force") {
    // PQ scans the whole corpus (no bucketing), so recall loss can come
    // ONLY from the quantized ADC ranking dropping a true top-5 neighbor
    // out of its top-pqRescore rescore set — measure against the exact scan
    val dir = "/root/testdata/sf0.01"
    val pq = Similarity.annPq.run(spark, dir).cache()
    try {
      assert(pq.count() > 0)
      assert(pq.groupBy("query_id").count().where(col("count") > 5).count() == 0)
      val brute = Similarity.annTopK.run(spark, dir)
        .select("query_id", "neighbor_id")
      val hit = pq.select("query_id", "neighbor_id").intersect(brute).count()
      val recall = hit.toDouble / brute.count()
      info(f"PQ ADC recall vs brute top-5: $recall%.3f")
      // deterministic (modulo-sample codebook + fixed data); 0.8 matches
      // the family-wide recall floor
      assert(recall >= 0.8, s"PQ recall $recall below 0.8 floor")
    } finally pq.unpersist()
  }

  test("PII redaction finds and masks planted email / ip / phone") {
    val docs = Seq(
      (1L, "contact bob.smith+x@example.co.uk or call +1 (415) 555-0100 now"),
      (2L, "server at 10.0.200.7 rebooted"),
      (3L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftpii").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.piiRedact.run(spark, tmp)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted", "is_clean")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 1L && out(1L).getLong(3) == 1L)
    assert(out(1L).getString(4) == "contact <EMAIL> or call <PHONE> now")
    assert(out(2L).getLong(2) == 1L &&
      out(2L).getString(4) == "server at <IP> rebooted")
    assert(out(3L).getBoolean(5) &&
      out(3L).getString(4) == "nothing sensitive here at all")
  }

  test("chunking covers every token with the configured overlap") {
    val docs = Seq((1L, (1 to 50).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftchunk").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.chunkDocs.run(spark, tmp)
      .select("chunk_idx", "start_token", "chunk_tokens", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // stride 24 over 50 tokens -> starts 1, 25, 49; sizes 32, 26, 2
    assert(out.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0L, 1L, 32L), (1L, 25L, 26L), (2L, 49L, 2L)))
    assert(out.head._4 == (1 to 32).map(i => s"t$i").mkString(" "))
    assert(out.last._4 == "t49 t50")
  }

  test("k-means codebook separates well-separated clusters") {
    import org.apache.spark.sql.functions.{col => c}
    // ids interleaved so the k seeds land one per true cluster
    val pts = (0 until 30).map { i =>
      val cluster = i % 3
      val base = Array.fill(4)(0.05 * ((i * 7 + cluster) % 5)) // small noise
      base(cluster) += 10.0
      (i.toLong, base.toSeq)
    }
    val e = pts.toDF("vec_id", "v")
      .withColumn("v", c("v").cast("array<double>"))
      .withColumn("nrm", graft.functions.Vectors.norm(c("v")))
    val book = Similarity.kmeansCodebook(e, sampleStep = 1L, k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(book.size == 3)
    // each centroid must point dominantly along exactly one axis,
    // and the three centroids must cover the three axes
    val axes = book.values.map(v => v.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2), s"centroid axes $axes")
  }

  test("salted aggregation equals the direct group-by") {
    val direct = T.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = Relational.saltedAgg.run(spark, sfDir)
      .select("l_returnflag", "sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == direct)
  }

  test("multimodal decode parses planted PNG/JPEG/GIF headers to known dimensions") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG, 100×50: signature + IHDR chunk (big-endian dims at 16/20)
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 100, 0, 0, 0, 50, 8, 6, 0, 0, 0, 0x9a, 0x76, 0x82, 0x70)
    // JPEG, 640×480: SOI, APP0(JFIF), SOF0 (height 0x01E0, width 0x0280)
    val jpg = bytes(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xc0, 0x00, 0x11, 8, 0x01, 0xe0, 0x02, 0x80,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1,
      0xff, 0xd9)
    // GIF89a, 12×34: little-endian logical screen descriptor at 6/8
    val gif = bytes('G', 'I', 'F', '8', '9', 'a', 12, 0, 34, 0, 0, 0, 0x3b)
    // truncated PNG and a SOS-before-SOF JPEG must fall back, not guess
    val badPng = png.take(20)
    val badJpg = bytes(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0, 0, 1, 2, 3)
    val txt = "plain text payload".getBytes("UTF-8")
    // the GIF magic is printable ASCII — a text doc can start with it;
    // without the mandatory 0x3B trailer it must take the fallback
    val gifText = "GIF89a is a 1989 image format".getBytes("UTF-8")
    val rows = Seq(1L -> png, 2L -> jpg, 3L -> gif,
      4L -> txt, 5L -> badPng, 6L -> badJpg, 7L -> gifText)
    val out = Multimodal.decodeBatch(rows.iterator)
      .map(m => m.doc_id -> m).toMap
    assert((out(1L).width, out(1L).height, out(1L).frames) == ((100, 50, 1)))
    assert((out(2L).width, out(2L).height, out(2L).frames) == ((640, 480, 1)))
    assert((out(3L).width, out(3L).height, out(3L).frames) == ((12, 34, 1)))
    for (id <- Seq(4L, 5L, 6L, 7L)) {
      val n = rows.toMap.apply(id).length
      assert((out(id).width, out(id).height, out(id).frames) ==
        ((n % 640 + 16, n % 480 + 16, n % 24 + 1)), s"fallback for doc $id")
    }
    // sha is the real digest of the payload bytes
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(png).map("%02x".format(_)).mkString
    assert(out(1L).sha256_hex == sha)
    // and through the Spark seam: binary payload column → mapPartitions
    val tmp = java.nio.file.Files.createTempDirectory("graftmedia").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val ds = Multimodal.decodeDataset(spark, tmp).collect()
      .map(m => m.doc_id -> ((m.width, m.height))).toMap
    assert(ds(1L) == ((100, 50)) && ds(2L) == ((640, 480)) && ds(3L) == ((12, 34)))
  }

  test("multimodal batch decode agrees with the column pipeline") {
    val decoded = Multimodal.decodeDataset(spark, sfDir)
    val cols = Multimodal.multimodalMeta.run(spark, sfDir)
    val a = decoded.select("doc_id", "byte_len", "width", "height", "frames", "sha256_hex")
      .collect().map(_.toSeq).toSet
    val b = cols.select(col("doc_id"), col("byte_len"), col("width").cast("int"),
        col("height").cast("int"), col("frames").cast("int"), col("sha256_hex"))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("found-on-try escalation carries consistent provenance") {
    val df = EltOps.foundOnTry.run(spark, sfDir).cache()
    try {
      val found = df.where(col("found"))
      assert(found.count() > 0 && df.where(!col("found")).count() > 0)
      // found rows: full provenance, depth within the 6-variant budget,
      // a known search type; not-found rows: no provenance at all
      assert(found.where(col("found_on_try") < 1 || col("found_on_try") > 6 ||
        col("search_type_id").isNull || col("search_type_name").isNull).count() == 0)
      assert(found.where(!col("search_type_id").isin(0, 2, 3, 4, 5, 6)).count() == 0)
      assert(df.where(!col("found") && (col("found_on_try").isNotNull ||
        col("search_type_id").isNotNull || col("search_type_name").isNotNull))
        .count() == 0)
      // the found_by / found_on_try statistics partition the found set
      val byType = EltOps.foundByStats.run(spark, sfDir)
        .agg(sum("records_found")).head().getLong(0)
      val byTry = EltOps.foundOnTryStats.run(spark, sfDir)
        .agg(sum("records_found")).head().getLong(0)
      assert(byType == found.count() && byTry == found.count())
    } finally df.unpersist()
  }

  test("binned range join equals the direct range predicate") {
    val out = EventOps.rangeJoin.run(spark, sfDir).select("view_id", "purchase_id")
    val e = T.events(spark, sfDir)
    val v = e.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("ts div 1000000").as("view_ms"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        expr("ts div 1000000").as("purchase_ms"))
    val direct = v.join(p, col("user_id") === col("pu") &&
        col("purchase_ms") >= col("view_ms") &&
        col("purchase_ms") <= col("view_ms") + 1800000L)
      .select("view_id", "purchase_id")
    assert(direct.count() > 0)
    assert(out.exceptAll(direct).count() == 0 && direct.exceptAll(out).count() == 0,
      "binning must be a lossless rewrite of the range predicate")
  }

  test("as-of join never matches a later purchase") {
    val df = AsOf.asofJoin.run(spark, sfDir)
    assert(df.where(col("matched_p_ts_ms") > col("ts_ms")).count() == 0)
  }

  test("sessionization gaps exceed the threshold between sessions") {
    val df = EventOps.sessionize.run(spark, sfDir)
    // within a user, sessions ordered by session_id must not overlap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_id")
    val bad = df.withColumn("prev_end", lag("end_ms", 1).over(w))
      .where(col("prev_end").isNotNull &&
        col("start_ms") - col("prev_end") <= 1800000L)
    assert(bad.count() == 0)
  }

  test("sequence packing: two-phase prefix sum tiles the token stream exactly") {
    // replay the concat-and-chunk sequentially on the driver and assert
    // the distributed bucket decomposition produced the identical global
    // offsets — no gaps, no overlaps, consistent sequence spans
    val rows = Assembly.packSequences.run(spark, sfDir)
      .select("doc_id", "n_tok", "tok_start", "seq_first", "seq_last",
        "seq_off", "n_seqs")
      .orderBy("doc_id").collect()
    assert(rows.nonEmpty)
    val L = Assembly.seqLen
    var cum = 0L
    for (r <- rows) {
      val (nTok, start) = (r.getLong(1), r.getLong(2))
      assert(start == cum, s"doc ${r.getLong(0)}: tok_start $start != $cum")
      assert(r.getLong(3) == start / L && r.getLong(5) == start % L)
      assert(r.getLong(4) == (start + nTok - 1) / L)
      assert(r.getLong(6) == r.getLong(4) - r.getLong(3) + 1)
      cum += nTok
    }
    // the corpus straddles sequence boundaries somewhere (else the
    // packing exercise is vacuous at this seqLen)
    assert(rows.exists(_.getLong(6) > 1), "no doc spans a sequence boundary")
  }

  test("packing manifest: sequences fully tiled, consistent with the per-doc view") {
    val docs = Assembly.packSequences.run(spark, sfDir).collect()
    val man = Assembly.packManifest.run(spark, sfDir).collect()
    val L = Assembly.seqLen
    val total = docs.map(_.getAs[Long]("n_tok")).sum
    // every sequence 0..ceil(total/L)-1 appears exactly once, and
    // concat-and-chunk leaves every sequence full except possibly the last
    val nSeqs = (total + L - 1) / L
    assert(man.map(_.getAs[Long]("seq_id")).sorted.toSeq == (0L until nSeqs))
    for (r <- man) {
      val sid = r.getAs[Long]("seq_id")
      assert(r.getAs[Long]("fill_tokens") == math.min(L, total - sid * L))
      assert(r.getAs[Long]("first_doc") <= r.getAs[Long]("last_doc"))
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_starts"))
    }
    // each document starts in exactly one sequence
    assert(man.map(_.getAs[Long]("n_starts")).sum == docs.length.toLong)
  }

  test("shuffle order: a bijective, dispersing permutation of the corpus") {
    val rows = Assembly.shuffleOrder.run(spark, sfDir).collect()
    val n = rows.length
    assert(n > 0)
    // ranks are exactly 1..N — the bucketed two-phase ranking produced a
    // true permutation (no gap, no collision)
    assert(rows.map(_.getAs[Long]("train_rank")).sorted.toSeq == (1L to n.toLong))
    // and it disperses: a hash permutation leaves few doc_id-adjacent
    // pairs rank-adjacent (identity/near-identity order would fail this)
    val rankById = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("train_rank"))
      .sortBy(_._1)
    val adjacentClose = rankById.sliding(2)
      .count { case Array((_, a), (_, b)) => math.abs(a - b) == 1L; case _ => false }
    assert(adjacentClose < n / 10,
      s"permutation looks near-identity: $adjacentClose/$n adjacent pairs")
  }

  test("shuffled packing: same token multiset as doc-order packing, contiguous shuffled stream") {
    val byDoc = Assembly.packSequences.run(spark, sfDir).collect()
    val shuffled = Assembly.packShuffled.run(spark, sfDir).collect()
    // same documents, same token counts — only the order moved
    assert(shuffled.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"))).sorted.toSeq ==
      byDoc.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"))).sorted.toSeq)
    // the shuffled stream tiles exactly: sorting docs by (sk, doc_id)
    // must give back-to-back tok_start spans from 0 to the corpus total
    val inOrder = shuffled.sortBy(r => (r.getAs[String]("sk"), r.getAs[Long]("doc_id")))
    var cum = 0L
    for (r <- inOrder) {
      assert(r.getAs[Long]("tok_start") == cum,
        s"doc ${r.getAs[Long]("doc_id")} shuffled tok_start ${r.getAs[Long]("tok_start")} != $cum")
      cum += r.getAs[Long]("n_tok")
    }
    assert(cum == byDoc.map(_.getAs[Long]("n_tok")).sum)
    // and the stream order is actually shuffled, not doc_id order
    assert(inOrder.map(_.getAs[Long]("doc_id")).toSeq !=
      inOrder.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("epoch sample: per-epoch bijective ranks, factor-shaped replication, epochs differ") {
    val rows = Assembly.epochSample.run(spark, sfDir).collect()
    val factors = Assembly.mixWeights.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("resample_factor")).toMap
    for (epoch <- Seq(0L, 1L)) {
      val e = rows.filter(_.getAs[Long]("epoch") == epoch)
      assert(e.nonEmpty)
      // ranks are exactly 1..N_e — a true per-epoch permutation
      assert(e.map(_.getAs[Long]("train_rank")).sorted.toSeq == (1L to e.length.toLong))
      // every doc of an upsampled language appears at least ⌊factor⌋ times
      val copies = e.groupBy(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
        .map { case ((_, lang), rs) => lang -> rs.length }
      for ((lang, n) <- copies)
        assert(n >= math.floor(factors(lang)).toLong && n <= math.ceil(factors(lang)).toLong,
          s"lang $lang: $n copies vs factor ${factors(lang)}")
    }
    // aggregate replication approaches the factor: per language, total
    // copies / docs sampled should land within the ⌊f⌋..⌈f⌉ band strictly
    // (checked above); epochs must differ as permutations
    val r0 = rows.filter(_.getAs[Long]("epoch") == 0L)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy")) -> r.getAs[Long]("train_rank")).toMap
    val r1 = rows.filter(_.getAs[Long]("epoch") == 1L)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy")) -> r.getAs[Long]("train_rank")).toMap
    val shared = r0.keySet intersect r1.keySet
    assert(shared.nonEmpty && shared.exists(k => r0(k) != r1(k)),
      "epoch 0 and epoch 1 produced the identical training order")
  }

  test("incremental dedup: sort-merge fallback produces the broadcast plan's exact verdicts") {
    val fresh = Seq((10L, "a"), (11L, "a"), (12L, "b"), (13L, "c"))
      .toDF("doc_id", "content_hash")
    val corpus = Seq((1L, "b"), (2L, "d")).toDF("doc_id", "content_hash")
    val small = Dedup.incrementalVerdicts(fresh, corpus, maxBroadcastKeys = 1000000L)
    val large = Dedup.incrementalVerdicts(fresh, corpus, maxBroadcastKeys = 0L)
    // plans actually diverge: broadcast semi vs sort-merge semi
    val smallPlan = small.queryExecution.executedPlan.toString
    val largePlan = large.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin") && smallPlan.contains("LeftSemi"),
      s"small-batch path lost its broadcast semi join:\n$smallPlan")
    assert(largePlan.contains("SortMergeJoin") && largePlan.contains("LeftSemi"),
      s"large-batch path did not fall back to sort-merge:\n$largePlan")
    // identical verdicts
    val key = Seq("doc_id", "content_hash", "in_corpus", "dup_in_batch", "keep")
    assert(small.orderBy(key.map(col): _*).collect().toSeq ==
      large.orderBy(key.map(col): _*).collect().toSeq)
    // and the verdict classes are the expected ones
    val m = small.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Boolean]("in_corpus"), r.getAs[Boolean]("dup_in_batch"),
        r.getAs[Boolean]("keep"))).toMap
    assert(m(10L) == ((false, false, true)))  // first 'a' in batch, novel
    assert(m(11L) == ((false, true, false)))  // second 'a' in batch
    assert(m(12L) == ((true, false, false)))  // 'b' already ingested
    assert(m(13L) == ((false, false, true)))  // novel
  }

  test("paragraph dedup keeps only the corpus-global first occurrence and reassembles") {
    // 16-word paragraphs: P1 is cross-doc boilerplate, P4 repeats within
    // one doc; P2/P3 are unique
    def para(tag: String): String = (1 to 16).map(i => s"$tag$i").mkString(" ")
    val (p1, p2, p3, p4) = (para("a"), para("b"), para("c"), para("d"))
    val docs = Seq(
      (1L, s"$p1 $p2"), // first carrier of P1: keeps everything
      (2L, s"$p1 $p3"), // later carrier: P1 removed, P3 survives
      (3L, s"$p4 $p4")  // within-doc duplicate: one survives
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftpara").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.paragraphDedup.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((2L, 2L, s"$p1 $p2")))
    assert(out(2L) == ((2L, 1L, p3)))
    assert(out(3L) == ((2L, 1L, p4)))
  }

  test("paragraph dedup through the real newline splitter") {
    // the 16-word block splitter stands in on the driver corpus (which
    // carries no newlines); the machinery is splitter-agnostic — prove it
    // on an actual '\n' corpus (r8: no test had ever run one): trimmed
    // lines, empty lines dropped, corpus-global first-occurrence keep,
    // document-order reassembly
    val docs = Seq(
      (1L, "header boilerplate\nunique one"),
      (2L, "header boilerplate\n\n  unique two  \nunique one"),
      (3L, "\n\n") // only empty lines: zero paragraphs
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphClean(docs, Dedup.newlineParas).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == ((2L, 2L, "header boilerplate unique one")))
    // doc 2: the header removed (doc 1 carried it first), empties dropped,
    // 'unique one' removed as a cross-doc dup, whitespace trimmed
    assert(out(2L) == ((3L, 1L, "unique two")))
    assert(out(3L) == ((0L, 0L, "")))
  }

  test("binary near-dup pairs planted byte-level near-identical payloads") {
    // two payloads sharing almost all byte shingles (one word edited),
    // one exact byte-duplicate, one unrelated payload
    val base = (1 to 120).map(i => s"w${i % 37}").mkString(" ")
    val edited = base.replace("w5 ", "w999 ")
    val other = (1 to 120).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, edited), (3L, base), (4L, other))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftbin").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Multimodal.binaryDedup.run(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    // exact byte-dup collapses: hamming 0 via the member expansion
    assert(pairs.get((1L, 3L)).contains(0L), s"exact pair missing: $pairs")
    // the edited payload pairs with both copies at small hamming
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) <= 12L,
      s"near-dup pair missing: $pairs")
    assert(pairs.contains((2L, 3L)), s"expanded near-dup pair missing: $pairs")
    // the unrelated payload pairs with nothing
    assert(!pairs.keySet.exists(k => k._1 == 4L || k._2 == 4L),
      s"unrelated payload paired: $pairs")
  }

  test("binary near-dup: sampled-out payloads fall back to full-shingle voting and stay pairable") {
    // both payloads found by deterministic search: EVERY 8-byte window
    // xxhash64 misses the h%4==0 sample (P ≈ 0.75^windows each) — before
    // the r8 backstop neither emitted a signature, so the near-identical
    // pair below was silently unpairable by anything but an exact copy
    val starved = "ckivmuqunbwlvkqmsqeckdrfqfamhhnbqcutrohq"
    val starvedExt = starved + "hak" // 3 appended bytes, still sampled-out
    val docs = Seq((1L, starved), (2L, starvedExt),
      (3L, (1 to 120).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftstarv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Multimodal.binaryDedup.run(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) <= 12L,
      s"sampled-out pair missing: $pairs")
    assert(!pairs.keySet.exists(k => k._1 == 3L || k._2 == 3L),
      s"unrelated payload paired: $pairs")
  }

  test("lm score ranks fluent word order above scrambled junk") {
    // three fluent copies make their bigrams corpus-common; the scrambled
    // doc reuses the same vocabulary in an order no other doc has, so its
    // conditional probabilities are rare-bigram ratios
    val fluent = "the cat sat on the mat"
    val docs = Seq((1L, fluent), (2L, fluent), (3L, fluent),
      (4L, "mat the on sat cat the")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graftlm").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.lmScore.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("lm_score"))).toMap
    assert(out(1L)._1 == 5L && out(4L)._1 == 5L)
    // hand-computed: fluent mean = 0.6, scrambled mean = 0.225
    assert(math.abs(out(1L)._2 - 0.6) < 1e-12, s"fluent ${out(1L)}")
    assert(math.abs(out(4L)._2 - 0.225) < 1e-12, s"scrambled ${out(4L)}")
    assert(out(1L)._2 > out(4L)._2)
  }

  test("mixture reweighting: normalized, anti-monotone temperature flattening") {
    val rows = Assembly.mixWeights.run(spark, sfDir).collect()
    assert(rows.length > 1)
    def sumOf(c: String) = rows.map(_.getAs[Double](c)).sum
    assert(math.abs(sumOf("share") - 1.0) < 1e-12)
    assert(math.abs(sumOf("weight") - 1.0) < 1e-12)
    // α = 0.5 flattening: the resample factor strictly decreases as the
    // language count grows (low-resource up-sampled, head down-sampled)
    val byCount = rows.sortBy(_.getAs[Long]("n_docs"))
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Double]("resample_factor")))
    for (Array((nA, fA), (nB, fB)) <- byCount.sliding(2) if nA < nB)
      assert(fA > fB, s"factor not anti-monotone: ($nA,$fA) vs ($nB,$fB)")
    // and the head language is actually down-sampled on this corpus
    assert(byCount.last._2 < 1.0 && byCount.head._2 > 1.0)
  }

  test("scd2: change-capture intervals chain, version per run, sentinel current") {
    val highDate = 253402300800000L
    val sec = 1000000000L // one second in ns
    val ev = Seq(
      (1L, 1L * sec, 7L, "view"),
      (2L, 2L * sec, 7L, "view"),
      (3L, 3L * sec, 7L, "purchase"),
      (4L, 4L * sec, 7L, "view"),
      (5L, 1L * sec, 8L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val tmp = java.nio.file.Files.createTempDirectory("graftscd2").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.scd2.run(spark, tmp).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version")) ->
        (r.getAs[String]("status"), r.getAs[Long]("valid_from_ms"),
          r.getAs[Long]("valid_to_ms"), r.getAs[Long]("n_events"),
          r.getAs[Boolean]("is_current"))).toMap
    // user 7: view(×2) → purchase → view = 3 versions, consecutive repeats
    // collapsed, intervals chained half-open, last one open on the sentinel
    assert(out((7L, 1L)) == ("view", 1000L, 3000L, 2L, false))
    assert(out((7L, 2L)) == ("purchase", 3000L, 4000L, 1L, false))
    assert(out((7L, 3L)) == ("view", 4000L, highDate, 1L, true))
    assert(out((8L, 1L)) == ("click", 1000L, highDate, 1L, true))
    assert(out.size == 4)
    // on the real corpus: intervals chain exactly and exactly one current
    // version per user (the SCD2 invariants a mart join depends on)
    val real = EventOps.scd2.run(spark, sfDir)
    val byUser = real.collect().groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("version"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_ms") == b.getAs[Long]("valid_from_ms"))
          assert(a.getAs[String]("status") != b.getAs[String]("status"),
            "consecutive versions must differ (change capture)")
        case _ =>
      }
      assert(rows.count(_.getAs[Boolean]("is_current")) == 1)
    }
  }

  test("rrf hybrid: id ranked #1 by both legs fuses to #1; ranks recompute") {
    // plant a corpus where id 10 is the clear #1 for query 0 in BOTH
    // modalities: its text shares query 0's rare terms (sparse leg) and
    // its embedding is colinear with query 0's (dense leg)
    val noise = (1 to 9).map(i => (100L + i, s"filler$i common words here", "en", "src"))
    val docs = (Seq(
      (0L, "zebra quagga okapi", "en", "src"),
      (10L, "zebra quagga okapi zebra", "en", "src"),
      (11L, "common words here too", "en", "src")) ++ noise)
      .toDF("doc_id", "text", "lang", "source")
    def vec(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val embs = Seq(
      (0L, vec(1f, 0f), 0), (10L, vec(0.99f, 0.14f), 0),
      (11L, vec(0f, 1f), 0), (12L, vec(-1f, 0.1f), 0),
      (13L, vec(0.1f, -1f), 0), (14L, vec(0.5f, 0.86f), 0))
      .toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("graftrrf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    embs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = Similarity.rrfHybrid.run(spark, tmp).collect()
    val q0 = out.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Long]("rn"))
    assert(q0.head.getAs[Long]("id") == 10L, s"fused #1: ${q0.head}")
    assert(q0.head.getAs[Long]("sparse_rn") == 1L)
    assert(q0.head.getAs[Long]("dense_rn") == 1L)
    // every row's rrf recomputes from its two ranks, and the fused order
    // is exactly rrf desc (id tiebreak)
    out.foreach { r =>
      val (srn, drn) = (r.getAs[Long]("sparse_rn"), r.getAs[Long]("dense_rn"))
      val expect = (if (srn > 0) 1.0 / (60.0 + srn) else 0.0) +
        (if (drn > 0) 1.0 / (60.0 + drn) else 0.0)
      assert(r.getAs[Double]("rrf") == expect, s"rrf mismatch: $r")
      assert(srn > 0 || drn > 0, "fused row must come from at least one leg")
    }
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Double]("rrf"), r.getAs[Long]("id")))
      byRank.sliding(2).foreach {
        case Array((ra, ia), (rb, ib)) =>
          assert(ra > rb || (ra == rb && ia < ib), "fused order must follow rrf")
        case _ =>
      }
    }
  }

  test("approx percentile: inside the rank-error window of the exact answer") {
    // GK guarantee: reported value's rank is within n/accuracy of the
    // target rank. Verify per group against the fully sorted data: the
    // approx p50 must lie between the values at ranks ⌊n/2⌋ ± ⌈n/10⁴⌉.
    val dir = "/root/testdata/sf0.01"
    val li = T.lineitem(spark, dir).select("l_returnflag", "l_quantity")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    val out = Relational.approxPercentile.run(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val xs = li(r.getAs[String]("l_returnflag"))
      val slack = math.ceil(xs.length / 10000.0).toInt + 1
      for ((c, f) <- Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75))) {
        val v = r.getAs[Double](c)
        val target = (f * (xs.length - 1)).toInt
        val lo = xs(math.max(0, target - slack))
        val hi = xs(math.min(xs.length - 1, target + slack + 1))
        assert(v >= lo && v <= hi,
          s"${r.getAs[String]("l_returnflag")} $c=$v outside [$lo,$hi] (n=${xs.length})")
      }
    }
  }

  test("cube: margins reconcile to the grand total per grouping set") {
    val rows = Relational.cube.run(spark, sfDir).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L))
    def tot(g: Long, c: String) = byGid(g).map(_.getAs[Long](c)).sum
    // every margin level sums to the same grand total, for both measures
    for (c <- Seq("n_orders", "rev_cents"); g <- Seq(0L, 1L, 2L))
      assert(tot(g, c) == tot(3L, c), s"margin $g disagrees on $c")
    assert(byGid(3L).size == 1) // one grand-total row, both dims '(all)'
    assert(byGid(3L).head.getAs[String]("status") == "(all)")
    assert(byGid(0L).forall(r => r.getAs[String]("status") != "(all)" &&
      r.getAs[String]("priority") != "(all)"))
  }

  test("merge upsert: insert/update/delete/keep classes with exact balances") {
    val ts = new java.sql.Timestamp(0L)
    val cust = Seq(
      (1L, "alice", 1, 10.00, "SEG"),   // has orders → update
      (2L, "bob", 1, 5.00, "SEG"),      // no orders → keep
      (50L, "carol", 1, 7.00, "SEG"),   // %50 marker → delete
      (97L, "dave", 1, 3.00, "SEG"))    // its orders renumber away → keep
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val ords = Seq(
      (11L, 1L, "O", 2.50, ts, "1-URGENT"),
      (12L, 1L, "O", 2.50, ts, "1-URGENT"),
      (13L, 50L, "O", 1.00, ts, "1-URGENT"),
      (14L, 97L, "O", 4.00, ts, "1-URGENT")) // lands as insert key 10000097
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val tmp = java.nio.file.Files.createTempDirectory("graftmerge").toString
    cust.write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    ords.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = Relational.mergeUpsert.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[String]("action"), r.getAs[Long]("acctbal_cents"),
          r.getAs[Long]("n_orders"), r.getAs[Boolean]("live"),
          r.getAs[String]("c_name"))).toMap
    assert(out(1L) == ("update", 1500L, 2L, true, "alice")) // 1000 + 2×250
    assert(out(2L) == ("keep", 500L, 0L, true, "bob"))
    assert(out(50L) == ("delete", 700L, 1L, false, "carol"))
    assert(out(97L) == ("keep", 300L, 0L, true, "dave"))
    assert(out(10000097L) == ("insert", 400L, 1L, true, "cust#10000097"))
    assert(out.size == 5)
  }

  test("ccnet bucket: per-lang fluency tiers, bucket-resolution tertiles") {
    val fluent = "the cat sat on the mat" // lm spec: mean ratio 0.6
    val scrambled = "mat the on sat cat the" // 0.225
    val docs = Seq(
      (1L, fluent, "en"), (2L, fluent, "en"), (3L, fluent, "en"),
      (4L, scrambled, "en"),
      (5L, "qq ww ee rr", "en"), // every bigram ratio 1 → score 1.0
      (6L, "solo", "en")) // no bigram → 0.0
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("graftccn").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.ccnetBucket.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("bucket"), r.getAs[Double]("lm_score"))).toMap
    assert(out.size == 6)
    // score 1.0 bucket fits the top third alone → head; the two lowest
    // docs (0.0 and 0.225, cumulating to n/3) are exactly the bottom
    // third → tail; the 0.6 pile (3 docs > n/3) cannot fit a tertile
    // wholesale → middle, the honest bucket-resolution semantics
    assert(out(5L) == ("head", 1.0), s"got ${out(5L)}")
    assert(out(6L)._1 == "tail" && out(4L)._1 == "tail")
    Seq(1L, 2L, 3L).foreach(id => assert(out(id)._1 == "middle", s"doc $id: ${out(id)}"))
    // real corpus: every doc classified; head and tail never exceed their
    // tertile budget per lang (the defining invariant of the cutoff rule)
    val real = TextAnalysis.ccnetBucket.run(spark, sfDir).collect()
    assert(real.nonEmpty)
    real.groupBy(_.getAs[String]("lang")).values.foreach { rows =>
      val n = rows.head.getAs[Long]("n_lang")
      assert(rows.size == n)
      val byB = rows.groupBy(_.getAs[String]("bucket")).view.mapValues(_.size).toMap
      assert(byB.getOrElse("head", 0) * 3 <= n)
      assert(byB.getOrElse("tail", 0) * 3 <= n)
    }
  }

  test("json extract: explicit-schema parse, malformed rows counted not fatal") {
    val sec = 1000000000L
    val ev = Seq(
      (1L, 1L * sec, 1L, "view", """{"k": 10}"""),
      (2L, 2L * sec, 1L, "view", """{"k": 60}"""),
      (3L, 3L * sec, 1L, "view", "not json at all"),
      (4L, 4L * sec, 1L, "view", """{"other": 5}"""),
      (5L, 5L * sec, 1L, "buy", """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graftjsonx").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.jsonExtract.run(spark, tmp).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_bad"), r.getAs[Long]("k_sum"),
          r.getAs[Long]("k_min"), r.getAs[Long]("k_max"),
          r.getAs[Long]("k_over_50"))).toMap
    // malformed JSON and missing key both count as bad, never fail the query
    assert(out("view") == (4L, 2L, 70L, 10L, 60L, 1L), s"got ${out("view")}")
    assert(out("buy") == (1L, 0L, 3L, 3L, 3L, 0L))
  }

  test("corpus funnel: stage precedence and dedup over quality-survivors only") {
    // doc 1 (lower id) and doc 2 share ONE normalized content hash
    // (normText lowercases; stopword counting is case-sensitive), but
    // doc 1 fails quality (all-lowercase stopwords, ratio 1.0 > 0.5)
    // while doc 2 passes (uppercase ⇒ 0 stopword hits). Sequential
    // funnel semantics: the junk copy must NOT steal keeper-ship — doc 2
    // is elected keeper among survivors and must not be 'duplicate'.
    val stop10 = Seq("the", "of", "and", "to", "in", "is", "it", "a", "the", "of")
    val lower10 = stop10.mkString("  ") // double spaces: every hit counted
    val upper10 = stop10.map(_.toUpperCase).mkString("  ")
    val clean = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, lower10, "en", "src"),  // fails quality, same hash as doc 2
      (2L, upper10, "en", "src"),  // passes quality, keeper of the pair
      (3L, clean, "en", "src"),    // clean singleton
      (4L, clean, "en", "src"),    // exact dup of 3 → 'duplicate'
      (5L, "tiny", "en", "src"))   // fails quality (words < 10)
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graftfunnel").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.corpusFunnel.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), r.getAs[Boolean]("quality_ok"),
          r.getAs[Boolean]("is_dup"))).toMap
    assert(out(1L)._1 == "quality" && !out(1L)._2)
    assert(out(5L)._1 == "quality")
    assert(out(2L)._2 && !out(2L)._3, s"doc 2 must be keeper: ${out(2L)}")
    assert(Set("kept", "sampled_out")(out(2L)._1))
    assert(out(4L)._1 == "duplicate")
    assert(Set("kept", "sampled_out")(out(3L)._1)) // keeper of the pair
    // funnel agrees with the registered single-stage quality operator
    val qok = TextAnalysis.qualityScore.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("quality_ok")).toMap
    out.foreach { case (id, (v, ok, _)) =>
      assert(ok == qok(id))
      assert((v == "quality") == !ok, s"precedence broken for doc $id")
    }
  }

  test("keep newest: struct-max compaction equals the window formulation") {
    val out = EventOps.keepNewest.run(spark, sfDir)
    // one row per (user, type); version counts reconcile to the log size
    val e = T.events(spark, sfDir)
    assert(out.count() ==
      e.select("user_id", "event_type").distinct().count())
    assert(out.agg(sum("n_versions")).head().getLong(0) == e.count())
    // the map-side-combinable device equals the row_number-over-key plan
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val direct = e.select(col("user_id"), col("event_type"),
      expr("ts div 1000000").as("ts_ms"), col("event_id"),
      Num.cents(col("value")).as("value_cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_versions",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")))
      .where(col("rn") === 1).drop("rn")
    assert(out.except(direct).isEmpty && direct.except(out).isEmpty)
  }

  test("histogram: buckets partition the orders and clamp their members") {
    val h = Relational.histogram.run(spark, sfDir).collect()
    val total = T.orders(spark, sfDir).count()
    assert(h.map(_.getAs[Long]("n_orders")).sum == total)
    h.foreach { r =>
      val (lo, hi) = (r.getAs[Long]("lo_cents"), r.getAs[Long]("hi_cents"))
      assert(r.getAs[Long]("min_cents") >= lo &&
        r.getAs[Long]("max_cents") < hi,
        s"bucket ${r.getAs[Long]("bucket")} member outside [$lo, $hi)")
      assert(r.getAs[Long]("bucket") * 500000L == lo)
    }
  }

  test("profile: one-pass column stats are internally consistent") {
    val p = Relational.profile.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val nRows = T.orders(spark, sfDir).count()
    assert(p.size == 5)
    p.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nRows)
      assert(r.getAs[Long]("n_nonnull") + r.getAs[Long]("n_null") == nRows)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_nonnull"))
      assert(r.getAs[String]("min_s") != null && r.getAs[String]("max_s") != null)
    }
    // the primary key profiles as unique and non-null
    assert(p("o_orderkey").getAs[Long]("n_null") == 0)
    assert(p("o_orderkey").getAs[Long]("n_distinct") == nRows)
  }

  test("profile: the 100 TB approx flip is the same plan with sketch-bounded distincts") {
    // exact = false swaps countDistinct for approx_count_distinct (HLL,
    // default rsd 0.05) in the SAME single-scan builder — schema, row
    // set, null/min/max columns identical; only n_distinct may deviate,
    // and must stay within 3× the sketch's relative error of the exact
    // count (a generous bound that cannot flake, but catches a wrong
    // column or a broken flip outright)
    val exact = Relational.profileIn(spark, sfDir, exact = true).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val approx = Relational.profileIn(spark, sfDir, exact = false).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((c, a) <- approx) {
      val e = exact(c)
      for (f <- Seq("n_rows", "n_nonnull", "n_null"))
        assert(a.getAs[Long](f) == e.getAs[Long](f), s"$c.$f drifted")
      for (f <- Seq("min_s", "max_s"))
        assert(a.getAs[String](f) == e.getAs[String](f), s"$c.$f drifted")
      val (de, da) = (e.getAs[Long]("n_distinct"), a.getAs[Long]("n_distinct"))
      assert(math.abs(da - de) <= math.max(1L, (0.15 * de).toLong),
        s"$c: approx distinct $da outside 15% of exact $de")
    }
  }

  test("grouped sample: per-language head of the hash permutation, pre-pruned") {
    val out = Assembly.groupedSample.run(spark, sfDir)
    val docs = T.documents(spark, sfDir).where(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"))
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val got = out.groupBy("lang").agg(
      count(lit(1)).as("k"), max("sample_rank").as("mx"),
      min("sample_rank").as("mn")).collect()
    assert(got.map(_.getAs[String]("lang")).toSet == perLang.keySet)
    got.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(k == math.min(200L, perLang(r.getAs[String]("lang"))))
      // ranks are exactly 1..k — contiguous per group
      assert(r.getAs[Long]("mn") == 1L && r.getAs[Long]("mx") == k)
    }
    // the bucket-decomposed rank equals the direct per-group window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("sk", "doc_id")
    val direct = docs.withColumn("sk", md5(col("doc_id").cast("string")))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= 200)
      .select("doc_id", "lang", "sk", "sample_rank")
    assert(out.except(direct).isEmpty && direct.except(out).isEmpty)
  }

  test("anomaly: exact-integer 3-sigma test flags the planted spike only") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // user 1: twenty $1.00 events and one $1000.00 spike (≈ 4.5σ out);
    // user 2: a constant series (zero variance — nothing can flag)
    val evs = ((1 to 20).map(i => (i.toLong, t0, 1L, "x", 1.00, "{}")) ++
      Seq((21L, t0, 1L, "x", 1000.00, "{}"),
        (22L, t0, 2L, "x", 5.00, "{}"),
        (23L, t0, 2L, "x", 5.00, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graftanom").toString
    evs.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.anomaly.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("is_outlier")).toMap
    assert(out.size == 23)
    assert(out.filter(_._2).keySet == Set(21L),
      s"expected only the spike flagged, got ${out.filter(_._2).keySet}")
  }

  test("window funnel: ordered steps inside the anchored window only") {
    def t(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val evs = Seq(
      // user 1: full ordered funnel inside 7 days → depth 3
      (1L, t(1, 10), 1L, "view", 1.0, "{}"),
      (2L, t(2, 10), 1L, "click", 1.0, "{}"),
      (3L, t(3, 10), 1L, "purchase", 1.0, "{}"),
      // user 2: click BEFORE the first view → depth 1
      (4L, t(1, 9), 2L, "click", 1.0, "{}"),
      (5L, t(1, 10), 2L, "view", 1.0, "{}"),
      // user 3: purchase before the click → depth 2
      (6L, t(1, 10), 3L, "view", 1.0, "{}"),
      (7L, t(2, 9), 3L, "purchase", 1.0, "{}"),
      (8L, t(2, 10), 3L, "click", 1.0, "{}"),
      // user 4: purchase past the 7-day window anchored at the view → depth 2
      (9L, t(1, 10), 4L, "view", 1.0, "{}"),
      (10L, t(2, 10), 4L, "click", 1.0, "{}"),
      (11L, t(9, 10), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graftfun").toString
    evs.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.windowFunnel.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("depth")).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 2L), s"got $out")
  }

  test("retention: offset-0 is the full cohort; cohorts partition the users") {
    val out = EventOps.retention.run(spark, sfDir).collect()
    val users = T.events(spark, sfDir).select("user_id").distinct().count()
    assert(out.filter(_.getAs[Long]("week_offset") == 0L)
      .forall(r => r.getAs[Long]("active_users") == r.getAs[Long]("cohort_size")),
      "every cohort member is active in their cohort week by definition")
    assert(out.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("cohort_size")).sum == users,
      "cohorts must partition the user base")
    assert(out.forall { r =>
      val rate = r.getAs[Double]("retention_rate")
      rate > 0.0 && rate <= 1.0 && r.getAs[Long]("week_offset") >= 0L
    })
  }

  test("bloom membership: build-once, no false negatives, bounded false positives") {
    val before = SessionMemo.buildsOf("bloom")
    val out = Dedup.bloomDedup.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("in_corpus")).toMap
    val mid = SessionMemo.buildsOf("bloom")
    Dedup.bloomDedup.run(spark, sfDir).count()
    assert(SessionMemo.buildsOf("bloom") == mid, "second run must serve the memoized sketch")
    assert(mid - before <= 1)
    // exactness: verdicts equal the registered incremental op's in_corpus
    // (same split, same prefix key, sketch-free semi-join plan)
    val direct = Dedup.incremental.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("in_corpus")).toMap
    assert(out == direct, "bloom-guarded verdicts must equal the direct plan")
    // the filter property, measured: corpus keys always hit (no false
    // negatives); novel keys rarely do (fpp ≈ 1.4e-3 by design)
    val key = md5(concat_ws(" ", slice(split(
      lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "), 1, 8)))
    val hashed = T.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), key.as("content_hash"))
    val corpus = hashed.where(col("source") =!= "src7").select("content_hash")
    val (m, w) = Dedup.bloomWords(spark, sfDir, corpus)
    assert(corpus.where(!Dedup.bloomTest(col("content_hash"), m, w)).count() == 0,
      "a Bloom filter can never miss a member")
    val novel = hashed.where(col("source") === "src7")
      .select("content_hash").distinct()
      .join(corpus.distinct(), Seq("content_hash"), "left_anti")
    val nNovel = novel.count()
    val falsePos = novel.where(Dedup.bloomTest(col("content_hash"), m, w)).count()
    assert(nNovel == 0 || falsePos.toDouble / nNovel <= 0.05,
      s"false-positive rate $falsePos/$nNovel above bound")
    // regime equality: the broadcast-table serve (literalBudget forced to
    // 0) emits exactly the literal-plan serve's hit-key set — the regime
    // is a physical choice, never a semantic one
    val fresh = hashed.where(col("source") === "src7")
      .select("doc_id", "content_hash")
    val litKeys = Dedup.bloomHitKeys(spark, fresh, m, w, Int.MaxValue)
      .as[String].collect().toSet
    val tblKeys = Dedup.bloomHitKeys(spark, fresh, m, w, 0)
      .as[String].collect().toSet
    assert(litKeys == tblKeys,
      s"serve regimes disagree: ${litKeys.diff(tblKeys)} / ${tblKeys.diff(litKeys)}")
  }

  test("pmi: a pair that always co-occurs outranks independent pairs") {
    // 'alpha beta' always adjacent (perfect association); filler words
    // pair independently; c_ab >= 5 via repetition
    val assoc = (1 to 8).map(_ => "alpha beta").mkString(" ")
    val noise = (1 to 40).map(i => s"f${i % 4}").mkString(" ")
    val docs = Seq((1L, assoc + " " + noise), (2L, noise + " " + assoc))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graftpmi").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.cooccurPmi.run(spark, tmp)
      .orderBy(col("pmi_lin").desc, col("w1"), col("w2")).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val top = rows.head
    assert(top.getAs[String]("w1") == "alpha" && top.getAs[String]("w2") == "beta",
      s"expected (alpha, beta) on top, got $top")
    // every row's score recomputes from its own exact counts
    val n = rows.map(r => r.getAs[Long]("c_ab")).sum // not N, just sanity>0
    assert(n > 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("c_ab") >= 5)
      assert(r.getAs[Double]("pmi_lin") > 0.0)
    }
    // perfect association: pmi_lin(alpha, beta) = N / c_ab exactly
    // (c_a = c_b = c_ab when the words never appear apart)
    assert(top.getAs[Long]("c_a") == top.getAs[Long]("c_ab") &&
      top.getAs[Long]("c_b") == top.getAs[Long]("c_ab"))
  }

  /** The doc-level md5 bucket q_sample_stratified uses — recomputed
    * driver-side so the leakage test can pick ids whose PER-DOC buckets
    * would straddle the split fence.
    */
  private def md5Bucket(key: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4)
    Integer.parseInt(hex, 16) % 100
  }
  private def splitOf(b: Int): String =
    if (b < 90) "train" else if (b < 95) "val" else "test"

  test("split assign: clusters never straddle splits; doc-level hashing would leak") {
    // pick two ids whose DOC-level buckets map to different splits — the
    // pair a per-doc random split would separate
    val ids = (1L to 500L)
    val idA = ids.find(i => splitOf(md5Bucket(i.toString)) == "train").get
    val idB = ids.find(i => splitOf(md5Bucket(i.toString)) == "test").get
    val docs = Seq(
      (idA, "an exact duplicated page body that must stay together"),
      (idB, "an exact duplicated page body that must stay together"),
      (9999L, "a completely unrelated filler document standing alone"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graftsplit").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.splitAssign.run(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    // the near-dup pair shares a cluster AND a split — even though their
    // doc-level buckets straddle the train/test fence by construction
    assert(out(idA)._1 == out(idB)._1)
    assert(out(idA)._2 == out(idB)._2,
      s"cluster members split apart: ${out(idA)} vs ${out(idB)}")
    // and the split is the CLUSTER key's bucket, not either doc's
    val cluster = out(idA)._1
    assert(out(idA)._2 == splitOf(md5Bucket(cluster.toString)))
  }

  test("split assign: real corpus — one split per cluster, full coverage") {
    val out = Dedup.splitAssign.run(spark, sfDir)
    val n = T.documents(spark, sfDir).count()
    assert(out.count() == n) // every doc assigned exactly once
    assert(out.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).where(col("k") > 1).count() == 0)
    assert(out.where(!col("split").isin("train", "val", "test")).count() == 0)
    assert(out.where(col("bucket") < 0 || col("bucket") >= 100).count() == 0)
    // agreement with the registered cluster operator's labels
    val clusters = Dedup.clusters.run(spark, sfDir).select("doc_id", "cluster_id")
    assert(out.select("doc_id", "cluster_id").except(clusters).count() == 0)
  }

  test("domain stats reconcile with the registered per-doc operators") {
    val out = TextAnalysis.domainStats.run(spark, sfDir)
    val docs = T.documents(spark, sfDir)
    assert(out.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // n_dup per source == q_dedup_exact's is_dup rolled up by source
    val dupBySrc = Dedup.exact.run(spark, sfDir)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(sum(col("is_dup").cast("long")).as("d"))
    val mism = out.join(dupBySrc, "source").where(col("n_dup") =!= col("d"))
    assert(mism.count() == 0, "domain dup counts drifted from q_dedup_exact")
    // n_lowq per source == q_quality_score's !quality_ok rolled up
    val lowqBySrc = TextAnalysis.qualityScore.run(spark, sfDir)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(sum((!col("quality_ok")).cast("long")).as("q"))
    val mism2 = out.join(lowqBySrc, "source").where(col("n_lowq") =!= col("q"))
    assert(mism2.count() == 0, "domain lowq counts drifted from q_quality_score")
    // the verdict recomputes from its own rates
    out.collect().foreach { r =>
      val expect = r.getAs[Double]("dup_rate") > 0.25 ||
        r.getAs[Double]("lowq_rate") > 0.5
      assert(r.getAs[Boolean]("blocklisted") == expect)
    }
  }

  test("multimodal frame sampling: GIF block walk finds every frame; stride samples; stills emit none") {
    // hand-built 2-frame GIF89a: logical screen 4x3, a graphic-control
    // extension between header and frames (the walker must skip its
    // sub-blocks), frame 0 4x3, frame 1 2x2, trailer — pixel data is
    // length-prefixed garbage the walker must never decode
    val gif: Array[Byte] = Seq[Int](
      'G', 'I', 'F', '8', '9', 'a',
      4, 0, 3, 0, 0x00, 0, 0, // logical screen descriptor, no GCT
      0x21, 0xF9, 0x04, 1, 2, 3, 4, 0x00, // graphic control extension
      0x2C, 0, 0, 0, 0, 4, 0, 3, 0, 0x00, 0x02, 2, 0xAA, 0xBB, 0x00, // frame 0
      0x2C, 0, 0, 0, 0, 2, 0, 2, 0, 0x00, 0x02, 1, 0xCC, 0x00, // frame 1
      0x3B).map(_.toByte).toArray
    val frames = Multimodal.gifFrames(gif)
    assert(frames.map { case (_, w, h) => (w, h) } == Seq((4, 3), (2, 2)))
    assert(frames.map(_._1) == frames.map(_._1).sorted, "offsets must ascend")
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G') // a still / non-GIF
    val media = Seq((1L, gif), (2L, png)).toDF("doc_id", "payload")
    val sampled = Multimodal.frameSample(spark, media, stride = 2).collect()
    assert(sampled.toSeq.map(f => (f.doc_id, f.frame_idx, f.width, f.height)) ==
      Seq((1L, 0, 4, 3)), "stride 2 keeps frame 0 only; non-GIF emits nothing")
    assert(Multimodal.frameSample(spark, media, 1).collect().length == 2)
  }

  test("multimodal frame sampling: APNG fcTL chunk walk is the second real container behind the seam") {
    // hand-built 2-frame APNG per the public PNG/APNG chunk grammar
    // (len|type|data|crc, big-endian): IHDR, acTL, fcTL(4x3), IDAT,
    // fcTL(2x2), fdAT, IEND — crcs are garbage the walker must skip,
    // pixel chunks are garbage it must never decode
    def be32(v: Int): Seq[Int] =
      Seq((v >>> 24) & 0xff, (v >>> 16) & 0xff, (v >>> 8) & 0xff, v & 0xff)
    def chunk(tpe: String, data: Seq[Int]): Seq[Int] =
      be32(data.length) ++ tpe.map(_.toInt) ++ data ++ Seq(0xDE, 0xAD, 0xBE, 0xEF)
    def fctl(seq: Int, w: Int, h: Int): Seq[Int] =
      be32(seq) ++ be32(w) ++ be32(h) ++ be32(0) ++ be32(0) ++ Seq(0, 1, 0, 10, 0, 0)
    val sig = Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
    val apng = (sig ++
      chunk("IHDR", be32(4) ++ be32(3) ++ Seq(8, 6, 0, 0, 0)) ++
      chunk("acTL", be32(2) ++ be32(0)) ++
      chunk("fcTL", fctl(0, 4, 3)) ++
      chunk("IDAT", Seq(0xAA, 0xBB, 0xCC)) ++
      chunk("fcTL", fctl(1, 2, 2)) ++
      chunk("fdAT", be32(2) ++ Seq(0xDD)) ++
      chunk("IEND", Nil)).map(_.toByte).toArray
    val frames = Multimodal.apngFrames(apng)
    assert(frames.map { case (_, w, h) => (w, h) } == Seq((4, 3), (2, 2)))
    assert(frames.map(_._1) == frames.map(_._1).sorted, "offsets must ascend")
    // a STILL png (no fcTL) emits nothing through the sampler
    val still = (sig ++
      chunk("IHDR", be32(9) ++ be32(9) ++ Seq(8, 6, 0, 0, 0)) ++
      chunk("IDAT", Seq(1, 2, 3)) ++ chunk("IEND", Nil)).map(_.toByte).toArray
    val media = Seq((1L, apng), (2L, still)).toDF("doc_id", "payload")
    assert(Multimodal.frameSample(spark, media, 1).collect().toSeq
      .map(f => (f.doc_id, f.frame_idx, f.width, f.height))
      .sortBy(x => (x._1, x._2)) == Seq((1L, 0, 4, 3), (1L, 1, 2, 2)))
    // stride 2 = the fps downsample: every other frame
    assert(Multimodal.frameSample(spark, media, 2).collect().toSeq
      .map(f => (f.doc_id, f.frame_idx)) == Seq((1L, 0)))
    // truncation mid-fcTL: frames found so far (none), never a misparse
    assert(Multimodal.apngFrames(apng.take(73)).isEmpty)
  }

  // ---- generic dbt schema-test battery -------------------------------

  test("schema tests: the whole battery passes on the healthy corpus") {
    val out = QualityTests.schemaTests.run(spark, sfDir).collect()
    assert(out.length == 19)
    out.foreach { r =>
      assert(r.getAs[Boolean]("ok"),
        s"${r.getAs[String]("test_name")} failed: ${r.getAs[Long]("n_failures")}")
      assert(r.getAs[Long]("n_failures") == 0L)
    }
  }

  test("schema tests: fk probe counts violating child rows, skips null FKs") {
    val child = Seq((1L, Option(10L)), (2L, Option(99L)), (3L, Option.empty[Long]),
      (4L, Option(99L))).toDF("id", "fk")
    val parent = Seq(Tuple1(10L), Tuple1(20L)).toDF("pk")
    val r = QualityTests.fkTest("t", child, "fk", parent, "pk").head()
    // rows 2 and 4 dangle; row 3's null FK is not a relationships failure
    assert(r.getAs[Long]("n_failures") == 2L)
  }

  test("dataset card: margin row totals the per-language rows; shares sum to 1") {
    val out = TextAnalysis.datasetCard.run(spark, sfDir).collect()
    val (margin, langs) = out.partition(_.getAs[String]("lang") == "(all)")
    assert(margin.length == 1 && langs.nonEmpty)
    val m = margin.head
    assert(m.getAs[Long]("n_docs") == langs.map(_.getAs[Long]("n_docs")).sum)
    assert(m.getAs[Long]("token_mass") == langs.map(_.getAs[Long]("token_mass")).sum)
    assert(m.getAs[Double]("share") == 1.0)
    assert(math.abs(langs.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    out.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("min_words") <= r.getAs[Long]("max_words"))
      val dup = r.getAs[Double]("dup_rate")
      assert(dup >= 0.0 && dup < 1.0)
    }
    // per-language distinct can over-count vs the corpus-global margin
    // (the same text under two langs), never under-count
    assert(langs.map(_.getAs[Long]("n_distinct")).sum >= m.getAs[Long]("n_distinct"))
  }

  test("tz rollup: IANA zone conversion shifts business days and honors the DST gap") {
    // spring forward 2024-03-10: 02:00-03:00 LA time does not exist.
    // 09:30 UTC is 01:30 PST; one hour later of UTC time is 03:30 PDT —
    // the local clock jumps 01 -> 03, which no fixed-offset shortcut gets
    val ns = Seq("2024-03-10T09:30:00Z", "2024-03-10T10:30:00Z")
      .map(x => java.time.Instant.parse(x).getEpochSecond * 1000000000L)
    val hours = ns.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "ts")
      .orderBy("id")
      .select(date_format(from_utc_timestamp(
        timestamp_seconds(expr("ts div 1000000000")), "America/Los_Angeles"),
        "HH:mm").as("h"))
      .as[String].collect().toSeq
    assert(hours == Seq("01:30", "03:30"))
    // the corpus: a real fraction of events lands on a different LA
    // business day than a UTC rollup would put it
    val secs = T.events(spark, sfDir).select(expr("ts div 1000000000").as("s"))
    val shifted = secs.where(
      date_format(from_utc_timestamp(timestamp_seconds(col("s")),
        "America/Los_Angeles"), "yyyy-MM-dd") =!=
        date_format(timestamp_seconds(col("s")), "yyyy-MM-dd")).count()
    assert(shifted > 0, "no event shifted days — the conversion is a no-op here")
    // the registered operator conserves the event count across the regroup
    val out = EventOps.tzRollup.run(spark, sfDir)
    assert(out.agg(sum("n_events")).head.getLong(0) ==
      T.events(spark, sfDir).count())
  }

  test("tz rollup: the zone is a parameter; a southern-hemisphere zone's opposite DST sense resolves") {
    // the reference's time_zone is a dbt VAR — drive the same plan with
    // Australia/Sydney, whose DST runs October→April (opposite sense to
    // LA). Spring forward 2024-10-06: 02:00–03:00 AEDT does not exist —
    // 15:30 UTC (Oct 5) is 01:30 AEST; one UTC hour later is 03:30 AEDT.
    val ns = Seq("2024-10-05T15:30:00Z", "2024-10-05T16:30:00Z")
      .map(x => java.time.Instant.parse(x).getEpochSecond * 1000000000L)
    val hours = ns.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "ts")
      .orderBy("id")
      .select(date_format(from_utc_timestamp(
        timestamp_seconds(expr("ts div 1000000000")), "Australia/Sydney"),
        "HH:mm").as("h"))
      .as[String].collect().toSeq
    assert(hours == Seq("01:30", "03:30"))
    // the parameterized core under the Sydney zone: count conserved, and
    // the regroup genuinely differs from the LA rollup (UTC+10/+11 vs
    // UTC-8/-7 puts most events on different business days)
    val syd = EventOps.tzRollupIn(spark, sfDir, "Australia/Sydney")
    assert(syd.agg(sum("n_events")).head.getLong(0) ==
      T.events(spark, sfDir).count())
    val la = EventOps.tzRollup.run(spark, sfDir)
    val sydDates = syd.select("local_date", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet
    val laDates = la.select("local_date", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet
    assert(sydDates != laDates, "Sydney rollup identical to LA — zone ignored")
  }

  // ---- BPE subword tokenization --------------------------------------

  /** Independent driver-local reference BPE (the PQ-kernel pin device):
    * same pair-count / leftmost-merge / (-count, left, right) tie-break
    * semantics, written against plain Scala collections.
    */
  private def refBpeMergeSeq(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  private def refBpeTrain(freq: Map[String, Long], m: Int): Seq[(String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      freq.map { case (w, f) => w.split("").filter(_.nonEmpty).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.length < m && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((l, r, c))
        vocab = vocab.map { case (syms, f) => refBpeMergeSeq(syms, l, r) -> f }
      }
    }
    out.toSeq
  }

  test("bpe train: the classic low/lower/newest/widest scenario") {
    // Sennrich et al.'s worked example (no end-of-word marker): the
    // first merges must be es(9), est(9), lo(7), low(7) — the es-vs-st
    // and lo-vs-ow ties break lexicographically.
    val freq = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("w", "freq")
    val merges = Bpe.trainFromFreq(freq, 4)
    assert(merges.map(m => (m.left, m.right, m.count)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
  }

  test("bpe train: bit-exact vs the local reference on the real corpus") {
    val freq = Bpe.wordFreq(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpeTrain(freq, 10)
    val got = Bpe.trainMerges(spark, sfDir, 10)
      .map(m => (m.left, m.right, m.count))
    assert(got == expect)
  }

  test("bpe train: incremental fold bit-exact at m=64 on sf0.01 (r15, O(m) loop)") {
    // verdict r14 #2: the round loop now maintains the folded symbol
    // frame incrementally instead of re-applying all picked merges from
    // the raw symbols each round. 64 rounds on the sf0.01 corpus cross
    // the recache cadence 16 times and exercise interacting merges
    // (merged symbols re-merging into longer subwords) — the merge table
    // must be IDENTICAL to the driver-local from-scratch reference.
    val d01 = "/root/testdata/sf0.01"
    val freqDf = Bpe.wordFreq(spark, d01)
    val freq = freqDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpeTrain(freq, 64)
    val got = Bpe.trainFromFreq(freqDf, 64).map(m => (m.left, m.right, m.count))
    assert(expect.length == 64, "the sf0.01 vocabulary must support 64 merges")
    assert(got == expect)
  }

  test("bpe encode: tokens reconstruct every corpus word; counts bounded") {
    val merges = Bpe.trainMerges(spark, sfDir, 16)
    val words = Bpe.wordFreq(spark, sfDir).select("w")
    val bad = words
      .withColumn("toks", Bpe.applyMerges(Bpe.chars(col("w")), merges))
      .where(concat_ws("", col("toks")) =!= col("w") ||
        size(col("toks")) > length(col("w")) || size(col("toks")) < 1)
      .count()
    assert(bad == 0, "a merge lost/reordered characters or over-split")
    // and the registered per-doc view: words <= bpe tokens <= chars
    val out = Bpe.encode.run(spark, sfDir)
    assert(out.where(col("n_bpe_tokens") < col("n_words")).count() == 0)
    assert(out.where(col("n_bpe_tokens") === 0 && col("n_words") > 0).count() == 0)
  }

  test("phrase search: overlaps count per start, order is enforced, dups ride the member join") {
    val tmp = java.nio.file.Files.createTempDirectory("graftphrase").toString
    Seq(
      (1L, "alpha beta gamma alpha beta", "en"),   // "alpha beta" twice
      (2L, "x x x", "en"),                          // "x x" at starts 0 and 1
      (3L, "beta alpha gamma", "en"),               // reversed order: no hit
      (4L, "alpha gamma beta", "en"),               // both words, not adjacent
      (5L, "alpha beta gamma alpha beta", "en"))    // exact dup of doc 1
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.phraseFrame(spark, tmp, Seq("alpha beta", "x x"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("alpha beta", 1L) -> 2L, ("alpha beta", 5L) -> 2L,
      ("x x", 2L) -> 2L), s"got $out")
    // the LP artifact is distinct-content-sized: the exact-dup doc 5
    // contributed no posting rows of its own
    val sigs = AnnIndex.textSigs(spark, tmp, "LP", TextAnalysis.lpEncode)
    assert(sigs.select("th").distinct().count() == 4)
    // append a novel doc carrying the phrase + another exact dup: the LP
    // family must delta-append (novel content only) and the chained
    // serve must equal a from-scratch build on the appended corpus
    val (e0, a0) = (AnnIndex.sigEncodes.get(), AnnIndex.sigAppends.get())
    Seq((6L, "zeta alpha beta", "en"), (7L, "x x x", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(s"$tmp/documents.parquet")
    val chained = TextAnalysis.phraseFrame(spark, tmp, Seq("alpha beta", "x x"))
      .collect().map(_.toString).sorted.toSeq
    assert(AnnIndex.sigEncodes.get() == e0 &&
      AnnIndex.sigAppends.get() == a0 + 1,
      "appended corpus must delta-append, never re-encode")
    assert(chained.exists(_.contains("alpha beta,6,1")),
      "the appended doc's phrase hit must surface through the chain")
    val freshRoot = java.nio.file.Files.createTempDirectory("graftlproot").toString
    try {
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      val fresh = TextAnalysis.phraseFrame(spark, tmp, Seq("alpha beta", "x x"))
        .collect().map(_.toString).sorted.toSeq
      assert(chained == fresh, "chained LP serve diverges from a fresh build")
    } finally spark.conf.unset("graft.ann.indexRoot")
  }

  test("unigram viterbi: fuzzed bit-exactness vs the reference") {
    val pieces = Unigram.trainPieces(spark, sfDir)
    val lp = pieces.map(p => p.piece -> p.lpMicro).toMap
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // random words over a skewed alphabet (repeats make multi-char piece
    // hits likely), lengths 1..14 — beyond the corpus's own length range
    val words = Seq.fill(300)(
      (1 to (1 + rnd.nextInt(14))).map(_ => alpha(rnd.nextInt(8))).mkString)
    val got = words.toDF("w")
      .select(col("w"), Unigram.segment(col("w"), lp).as("seg"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    for (w <- words) {
      assert(got(w) == refViterbi(w, lp), s"segmentation of '$w' diverges")
      assert(got(w).mkString("") == w, s"'$w' not reconstructed")
    }
  }

  test("tokenizer kernels: compiled segment/segScore/applyMerges == HOF reference (r17)") {
    // r17 moved the unigram Viterbi DP and the BPE merge fold from
    // interpreted Catalyst HOF folds to compiled kernels
    // (graft.expressions.TokenizerExpressions); the HOF forms stay as
    // *Ref executable specs and this pin holds them bit-identical over
    // the real corpus vocabulary PLUS adversarial words the corpus
    // lacks: non-BMP code points (substr/length count code points, not
    // UTF-16 units), fully-unknown characters (unkMicro fallback), and
    // words straddling the maxLen=6 candidate bound.
    val pieces = Unigram.trainPieces(spark, sfDir)
    val lp = pieces.map(p => p.piece -> p.lpMicro).toMap
    val adversarial = Seq(
      "💼🎵💼", "a💼b", "💼" * 7, "žluťoučký", "ααββγγ",
      "zzzzzzz", "q", "abcdefabcdef", "ab", "é́x")
    val words = Bpe.wordFreq(spark, sfDir).select("w").limit(2000)
      .unionByName(adversarial.toDF("w"))
    val segDiff = words
      .select(Unigram.segment(col("w"), lp).as("k"),
        TokenizerRef.segmentRef(col("w"), lp).as("r"),
        Unigram.segScore(col("w"), lp).as("ks"),
        TokenizerRef.segScoreRef(col("w"), lp).as("rs"))
      // null-safe: a null on one side only is a divergence, not a drop
      .where(!(col("k") <=> col("r")) || !(col("ks") <=> col("rs")))
      .count()
    assert(segDiff == 0, "unigram kernel diverges from the HOF reference")
    val merges = Bpe.trainMerges(spark, sfDir, 16)
    val bpeDiff = words
      .select(Bpe.applyMerges(Bpe.chars(col("w")), merges).as("k"),
        TokenizerRef.applyMergesRef(Bpe.chars(col("w")), merges).as("r"))
      .where(!(col("k") <=> col("r")))
      .count()
    assert(bpeDiff == 0, "bpe merge kernel diverges from the HOF reference")
    // merged-token re-merge interaction: (a,a) then (aa,a) on runs of a's
    val runMerges = Seq(Bpe.Merge(0, "a", "a", 0L), Bpe.Merge(1, "aa", "a", 0L))
    val runDiff = Seq("a", "aa", "aaa", "aaaa", "aaaaa", "baaab")
      .toDF("w")
      .select(Bpe.applyMerges(Bpe.chars(col("w")), runMerges).as("k"),
        TokenizerRef.applyMergesRef(Bpe.chars(col("w")), runMerges).as("r"))
      .where(!(col("k") <=> col("r")))
      .count()
    assert(runDiff == 0, "bpe kernel diverges on interacting merges")
    // equal merge lists build equal kernels, so Catalyst can match them
    val kernels = Seq("aaa").toDF("w")
      .select(Bpe.applyMerges(Bpe.chars(col("w")), runMerges),
        Bpe.applyMerges(Bpe.chars(col("w")), runMerges.reverse))
      .queryExecution.analyzed.expressions
      .map(_.collectFirst { case b: graft.expressions.BpeMerges => b }.get)
    assert(kernels(0) == kernels(1) && kernels(0).semanticEquals(kernels(1)),
      "BpeMerges over equal merge lists must be == and semanticEquals")
  }

  // ---- unigram LM tokenizer: independent local reference (mirrors the
  // engine's arithmetic exactly: same seed, same Viterbi-EM rounds, same
  // integer micro-log-probs, same smallest-split-point tie rule) ----
  private val ugMaxLen = 6
  private def ugLp(c: Long, t: Long, v: Int): Long =
    BigDecimal(1e6 * (StrictMath.log((c + 1).toDouble) -
        StrictMath.log((t + v).toDouble)))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def refViterbi(w: String, lp: Map[String, Long]): Seq[String] = {
    val unk = -25000000L; val neg = -(1L << 50)
    val n = w.length
    val best = Array.fill(n + 1)(0L); val bp = Array.fill(n + 1)(-1)
    for (i <- 1 to n) {
      var bs = neg * 2; var bj = -1
      for (j <- math.max(0, i - ugMaxLen) until i) {
        val s = best(j) + lp.getOrElse(w.substring(j, i),
          if (i - j == 1) unk else neg)
        if (s > bs) { bs = s; bj = j }
      }
      best(i) = bs; bp(i) = bj
    }
    var pos = n; val out = scala.collection.mutable.ListBuffer.empty[String]
    while (pos > 0) { val j = bp(pos); w.substring(j, pos) +=: out; pos = j }
    out.toList
  }

  private def refUnigramTrain(freq: Map[String, Long])
      : Seq[(String, Long, Long)] = {
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freq; i <- 0 until w.length;
         l <- 1 to math.min(ugMaxLen, w.length - i)) {
      val p = w.substring(i, i + l); cnt(p) = cnt.getOrElse(p, 0L) + f
    }
    val charRows = cnt.toSeq.filter(_._1.length == 1)
    val multiRows = cnt.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(48)
    def withLp(rows: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val t = rows.map(_._2).sum
      rows.map { case (p, c) => (p, c, ugLp(c, t, rows.length)) }
    }
    var model = withLp(charRows ++ multiRows)
    for (k <- Seq(32, 24, 16)) {
      val lp = model.map(p => p._1 -> p._3).toMap
      val used = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- freq; p <- refViterbi(w, lp))
        used(p) = used.getOrElse(p, 0L) + f
      val chars = charRows.map { case (c, _) => c -> used.getOrElse(c, 0L) }
      val multi = model.iterator.filter(_._1.length > 1)
        .map(p => p._1 -> used.getOrElse(p._1, 0L))
        .filter(_._2 > 0L).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(k)
      model = withLp(chars ++ multi)
    }
    model
  }

  test("unigram train: bit-exact vs the local reference on the real corpus") {
    val freq = Bpe.wordFreq(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refUnigramTrain(freq)
      .map { case (p, c, l) => (p, c, l) }.sortBy(_._1)
    val got = Unigram.train.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == expect, "EM piece table diverges from the reference")
    assert(expect.exists(_._1.length > 1), "degenerate: no multi-char piece")
  }

  test("unigram train: a dominant repeated word becomes one piece") {
    val freq = Seq(("spark", 500L), ("table", 3L), ("row", 2L)).toDF("w", "freq")
    val pieces = Unigram.trainFromFreq(freq)
    assert(pieces.exists(_.piece == "spark"),
      "the dominant word must survive pruning as a whole piece")
    val lp = pieces.map(p => p.piece -> p.lpMicro).toMap
    val seg = Seq("spark").toDF("w")
      .select(Unigram.segment(col("w"), lp)).head().getSeq[String](0)
    assert(seg == Seq("spark"), s"Viterbi must pick the whole piece, got $seg")
    assert(seg == refViterbi("spark", lp))
  }

  test("unigram encode: pieces reconstruct every corpus word; NLL reconciles") {
    val pieces = Unigram.trainPieces(spark, sfDir)
    val lp = pieces.map(p => p.piece -> p.lpMicro).toMap
    val words = Bpe.wordFreq(spark, sfDir).select("w")
    val bad = words
      .withColumn("toks", Unigram.segment(col("w"), lp))
      .where(concat_ws("", col("toks")) =!= col("w") ||
        size(col("toks")) > length(col("w")) || size(col("toks")) < 1)
      .count()
    assert(bad == 0, "a segmentation lost/reordered characters or over-split")
    // engine Viterbi score == reference score, word by word
    val scores = words.withColumn("sc", Unigram.segScore(col("w"), lp))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((w, sc) <- scores) {
      val ref = refViterbi(w, lp).foldLeft((0L, 0)) { case ((s, pos), p) =>
        (s + lp.getOrElse(p, -25000000L), pos + p.length)
      }._1
      assert(sc == ref, s"score of '$w': engine $sc vs reference $ref")
    }
    // registered per-doc output reconciles exactly against the per-word
    // reference: token totals and the exact-integer NLL
    val tokOf = scores.keys.map(w => w -> refViterbi(w, lp).length).toMap
    val out = Unigram.encode.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = T.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
    for (r <- docs) {
      val ws = r.getString(1).trim.toLowerCase.split(" +").filter(_.nonEmpty)
      val expToks = ws.map(w => tokOf(w).toLong).sum
      val expNll = -ws.map(w => refViterbi(w, lp)
        .map(p => lp.getOrElse(p, -25000000L)).sum).sum
      val (gotToks, gotNll) = out(r.getLong(0))
      assert(gotToks == expToks && gotNll == expNll,
        s"doc ${r.getLong(0)}: ($gotToks,$gotNll) vs ($expToks,$expNll)")
    }
    // memo: a second run serves the cached model, no retrain
    val t0 = Unigram.unigramTrains.get()
    Unigram.encode.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    assert(Unigram.unigramTrains.get() == t0, "second run must serve the memo")
  }

  test("gopher rules: each planted violation trips exactly its rule") {
    val tmp = java.nio.file.Files.createTempDirectory("graftgopher").toString
    val healthy = (("the a of and " * 13) + "alpha beta gamma").trim // 55 words, mwl ~2.96? recompute below
    // 60 well-formed words incl. >=2 stopwords, mean word length in [3,10]
    val good = (Seq.fill(29)("the quick") :+ "a lantern").mkString(" ") + " word"
    val docs = Seq(
      (1L, good),                                        // passes all
      (2L, "the a short doc"),                           // wordcount fail
      (3L, Seq.fill(60)("a").mkString(" ")),             // mean word len + stopword fail
      (4L, (Seq.fill(60)("the aaaa").mkString(" ")) + " " + Seq.fill(30)("#").mkString(" ")), // symbol fail
      (5L, (0 until 10).map(i => "- the aaaa bullet line " + i).mkString("\n")), // bullet fail
      (6L, (0 until 10).map(i => "the aaaa line " + i + " trails ...").mkString("\n")), // ellipsis fail
      (7L, (Seq.fill(30)("the a").mkString(" ")) + " " + Seq.fill(60)("1234").mkString(" "))) // alpha fail
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.gopherRules.run(spark, tmp)
      .select("doc_id", "r_wordcount", "r_meanwordlen", "r_symbol",
        "r_bullet", "r_ellipsis", "r_alpha", "r_stopwords", "gopher_pass")
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getBoolean(i))).toMap
    assert(got(1L) == Seq(true, true, true, true, true, true, true, true))
    assert(!got(2L)(0) && !got(2L)(7))                   // too short => fails
    assert(!got(3L)(1) && !got(3L)(6))                   // 1-char words, one stopword
    assert(got(4L)(0) && !got(4L)(2))                    // symbol ratio >= 0.1
    assert(!got(5L)(3))                                  // 100% bullet lines
    assert(!got(6L)(4))                                  // 100% ellipsis-ended lines
    assert(!got(7L)(5))                                  // 40% alpha words < 80%
    for (d <- Seq(2L, 3L, 4L, 5L, 6L, 7L)) assert(!got(d)(7), s"doc $d must fail overall")
  }

  test("winnow: exact set equality with a local reference; shared runs share a fingerprint") {
    // local MOSS winnowing: word 4-grams, md5-hex hash, window w=4,
    // min hash rightmost-position tie rule
    def refWinnow(text: String): Set[(String, Long)] = {
      val ws = text.trim.split(" +").toSeq
      if (ws.size < 4) return Set.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val grams = (0 to ws.size - 4).map { i =>
        val g = ws.slice(i, i + 4).mkString(" ")
        md.reset()
        md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val starts = 0 to math.max(grams.size - 4, 0)
      starts.map { s0 =>
        val win = (s0 until math.min(s0 + 4, grams.size)).map(p => (grams(p), p))
        val m = win.map(_._1).min
        val pos = win.filter(_._1 == m).map(_._2).max
        (m, pos.toLong)
      }.toSet
    }
    val texts = T.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = texts.toSeq.flatMap { case (id, t) =>
      refWinnow(t).map { case (h, p) => (id, h, p) } }.toSet
    val got = TextAnalysis.winnow.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"winnow mismatch: ${(got -- want).take(3)} vs ${(want -- got).take(3)}")
    // the guarantee: two docs sharing an 8-word run share a fingerprint hash
    val tmp = java.nio.file.Files.createTempDirectory("graftwinnow").toString
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((1L, s"one two three $shared x y z"),
        (2L, s"p q r s t $shared u v w"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fp = TextAnalysis.winnow.run(spark, tmp)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    assert(fp(1L).intersect(fp(2L)).nonEmpty,
      "shared >= w+k-1 token run must share a selected fingerprint hash")
  }

  test("vocab coverage reconciles with q_bpe_encode and its own ratios") {
    val cov = Bpe.vocabCoverage.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val enc = Bpe.encode.run(spark, sfDir)
      .join(T.documents(spark, sfDir).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source")), "doc_id")
      .groupBy("source")
      .agg(sum("n_bpe_tokens").as("toks"), sum("n_words").as("occ"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cov.keySet == enc.keySet)
    for ((src, row) <- cov) {
      val (toks, occ) = enc(src)
      assert(row.getAs[Long]("bpe_tokens") == toks, s"$src token mass")
      assert(row.getAs[Long]("word_occurrences") == occ, s"$src occurrences")
      val f = row.getAs[Double]("fertility")
      assert(f == toks.toDouble / occ.toDouble, s"$src fertility")
      val ivr = row.getAs[Double]("in_vocab_rate")
      assert(ivr >= 0.0 && ivr <= 1.0 && f >= 1.0)
      assert(row.getAs[Long]("single_token_occ") <= occ)
    }
  }

  test("cluster mix: sizes partition the corpus; dominant labels and weights recompute") {
    val out = Similarity.clusterMix.run(spark, sfDir).collect()
    val n = T.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("size")).sum == n, "cluster sizes must partition the corpus")
    // weights: deterministic left-to-right fold in c_id order
    val sizes = out.map(r => (r.getAs[Long]("c_id"), r.getAs[Long]("size"))).sortBy(_._1)
    val z = sizes.foldLeft(0.0)((a, cs) => a + math.sqrt(cs._2.toDouble))
    for (r <- out) {
      val size = r.getAs[Long]("size"); val dom = r.getAs[Long]("dominant_cnt")
      assert(dom >= 1L && dom <= size)
      assert(r.getAs[Double]("purity") == dom.toDouble / size.toDouble)
      assert(r.getAs[Double]("share") == size.toDouble / n.toDouble)
      assert(r.getAs[Double]("mix_weight") == math.sqrt(size.toDouble) / z)
    }
    // dominant label: recompute per-cluster label counts through the same
    // registered assignment and apply the max-count-min-label rule locally
    val e = T.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        graft.functions.Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
    val cb = Similarity.codebookRows(spark, sfDir,
      e.select(col("vec_id"), col("v")).withColumn("nrm",
        graft.functions.Vectors.norm(col("v"))))
    val counts = e.select(col("label"),
        graft.functions.Vectors.nearestCentroid(col("v"), cb.map(_._1),
          cb.flatMap(_._2), cb.map(_._3)).as("c_id"))
      .groupBy("c_id", "label").count().collect()
      .groupBy(_.getAs[Long]("c_id"))
    for (r <- out) {
      val cl = counts(r.getAs[Long]("c_id"))
        .map(x => (x.getAs[Long]("label"), x.getAs[Long]("count")))
      val want = cl.maxBy { case (l, c) => (c, -l) }
      assert((r.getAs[Long]("dominant_label"), r.getAs[Long]("dominant_cnt")) == want)
    }
  }

  test("quality classifier: bit-exact vs a local GD reference; learns its own objective") {
    val out = TextAnalysis.qualityClassifier.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getAs[Long]("label"), r.getAs[Double]("score"),
        r.getAs[Boolean]("pred")))).toMap
    // local reference — identical arithmetic: Spark round(double) =
    // BigDecimal.valueOf(HALF_UP); exact BigInt sums; left-to-right folds
    def rnd(x: Double): Long =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val raw = TextAnalysis.gopherFrame(spark, sfDir)
      .select("doc_id", "gopher_pass", "words", "stop_hits", "sym_hits",
        "word_chars", "alpha_words")
      .collect().map { r =>
        val w = r.getAs[Long]("words").toDouble
        (r.getLong(0), if (r.getAs[Boolean]("gopher_pass")) 1L else 0L, Array(
          rnd(java.lang.StrictMath.log(1.0 + w) * 1000000d),
          rnd(r.getAs[Long]("stop_hits").toDouble / w * 1000000d),
          rnd(r.getAs[Long]("sym_hits").toDouble / w * 1000000d),
          rnd(r.getAs[Long]("word_chars").toDouble / w * 1000000d),
          rnd(r.getAs[Long]("alpha_words").toDouble / w * 1000000d)))
      }
    val n = raw.length
    val muSig = (0 until 5).map { j =>
      val s = raw.map(d => BigInt(d._3(j))).sum
      val ss = raw.map(d => BigInt(d._3(j)) * BigInt(d._3(j))).sum
      val mu = BigDecimal(s).toDouble / n
      val v = BigDecimal(ss).toDouble / n - mu * mu
      (mu, if (v > 0) math.sqrt(v) else 0.0)
    }
    val zs = raw.map { case (id, y, q) =>
      (id, y, (0 until 5).map { j =>
        val (mu, sg) = muSig(j)
        if (sg == 0.0) 0.0 else (q(j).toDouble - mu) / sg
      }.toArray)
    }
    var w = Array.fill(6)(0.0)
    def margin(z: Array[Double]) =
      (1 to 5).foldLeft(w(0))((acc, j) => acc + z(j - 1) * w(j))
    for (_ <- 1 to 15) {
      val gs = Array.fill(6)(BigInt(0))
      for ((_, y, z) <- zs) {
        val p = 1.0 / (1.0 + java.lang.StrictMath.exp(-margin(z)))
        val err = p - y.toDouble
        gs(0) += BigInt(rnd(err * 1000000000d))
        for (j <- 1 to 5) gs(j) += BigInt(rnd(err * z(j - 1) * 1000000000d))
      }
      w = w.indices.map(j =>
        w(j) - 1.0 * (BigDecimal(gs(j)).toDouble / 1e9) / n).toArray
    }
    var correct = 0
    for ((id, y, z) <- zs) {
      val p = 1.0 / (1.0 + java.lang.StrictMath.exp(-margin(z)))
      val (gy, gscore, gpred) = out(id)
      assert(gy == y && gscore == p && gpred == (p >= 0.5),
        s"doc $id: engine ($gscore) vs reference ($p)")
      if ((p >= 0.5) == (y == 1L)) correct += 1
    }
    val majority = math.max(zs.count(_._2 == 1L), zs.count(_._2 == 0L))
    assert(correct >= majority,
      s"classifier must learn its own objective: $correct correct vs majority $majority")
  }

  test("quality classifier: driver-local and distributed GD paths are bit-identical") {
    // r16: the trainer takes a bounded driver-local fast path when the
    // feature frame fits graft.gd.localMaxRows (the default covers the
    // test corpus); forcing the budget to 0 pins the DISTRIBUTED
    // aggregate path to the same weights, scores and verdicts row for
    // row — the fast path may never drift from the scale-path result.
    val fast = TextAnalysis.qualityClassifier.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("label"),
        r.getAs[Double]("score"), r.getAs[Boolean]("pred"))).toMap
    spark.conf.set("graft.gd.localMaxRows", "0")
    try {
      val dist = TextAnalysis.qualityClassifier.run(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("label"),
          r.getAs[Double]("score"), r.getAs[Boolean]("pred"))).toMap
      assert(dist.size == fast.size)
      for ((id, v) <- fast)
        assert(dist(id) == v, s"doc $id: fast $v vs distributed ${dist(id)}")
    } finally spark.conf.unset("graft.gd.localMaxRows")
  }

  test("source divergence: TV and cosine match hand-computed distributions") {
    // A and B share the exact word multiset (tv 0, cos 1), C is disjoint
    // from A (tv 1, cos 0), D half-overlaps A with hand-computable mass:
    // A = {x:2, y:1}, D = {x:1, z:2} → common x: |2·3−1·3| = 3;
    // A-only y: 3·(3−2) = 3; D-only z: 3·(3−1) = 6 → tv = 12/(2·3·3);
    // cos = 2/(√5·√5) = 0.4
    val docs = Seq(
      (1L, "x x y", "A"), (2L, "x y x", "B"),
      (3L, "z z z", "C"), (4L, "x z z", "D"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graftsdiv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.sourceDivergence.run(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_common_words"), r.getAs[Double]("tv_dist"),
          r.getAs[Double]("cos_sim"))).toMap
    assert(out.size == 6, s"expected C(4,2)=6 pairs, got ${out.keySet}")
    // mirrored IEEE expressions: sqrt(5)·sqrt(5) is NOT exactly 5, so the
    // expected cosines replay the engine's own formula over exact ints
    val cos55 = math.sqrt(5.0) * math.sqrt(5.0)
    assert(out(("A", "B")) == ((2L, 0.0, 5.0 / cos55)),
      s"identical mixtures: ${out(("A", "B"))}")
    assert(out(("A", "C")) == ((0L, 1.0, 0.0)), s"disjoint mixtures: ${out(("A", "C"))}")
    assert(out(("A", "D")) == ((1L, 12.0 / (2.0 * 3.0 * 3.0), 2.0 / cos55)),
      s"half-overlap pair: ${out(("A", "D"))}")
  }

  test("quality classifier: a null-text document neither trains nor biases the fit") {
    // r11 (ADVICE): null text → null label/features. sum() dropped those
    // rows from the gradients/moments silently while n still counted
    // them, biasing μ/σ and the step size. Post-fix the null doc is
    // excluded BEFORE n, so every scored row must be bit-identical to a
    // run on the same corpus without the null doc.
    val texts = (1 to 8).map(i => (i.toLong,
      Option((1 to (30 + i * 7)).map(j => s"w$j the of and to in").mkString(" "))))
    val clean = java.nio.file.Files.createTempDirectory("graftqcclean").toString
    val dirty = java.nio.file.Files.createTempDirectory("graftqcdirty").toString
    texts.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$clean/documents.parquet")
    (texts :+ (99L -> Option.empty[String])).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dirty/documents.parquet")
    val a = TextAnalysis.qualityClassifier.run(spark, clean).collect()
      .map(_.toString).sorted.toSeq
    val b = TextAnalysis.qualityClassifier.run(spark, dirty).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b, "a null-text doc changed the fit or leaked into the output")
  }
}
