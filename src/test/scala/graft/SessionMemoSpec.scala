package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Members, SessionMemo, TextAnalysis}

/** The session-lifetime member-mapping memo (r12): one corpus hash pass
  * per (session, table content), shared by every signature-serving query;
  * entries are fingerprint-validated so an in-place rewrite rebuilds
  * instead of serving stale mappings (the ADVICE-r11 contract).
  */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  // temp-dir hygiene for the artifact-root tests, as AnnIndexSpec and
  // GuardsSpec do (ADVICE r14: the finally blocks unset the conf but
  // leaked the corpus and index artifacts per run)
  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  test("doc th memo: one derivation serves the whole family, values exact") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_th").toString
    (0 until 30).map { i =>
      (i.toLong, s"doc text ${i % 7} shared alpha beta tok${i % 5}", "en",
        s"src${i % 3}", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val b0 = SessionMemo.buildsOf("thm")
    val g0 = SessionMemo.buildsOf("thg")
    // three independent consumers of the same mapping
    val exact = Dedup.exact.run(spark, tmp).collect()
    val manifest = Dedup.membersManifest.run(spark, tmp).collect()
    Members.th(spark, tmp).count()
    assert(SessionMemo.buildsOf("thm") == b0 + 1,
      "the (doc_id, th) scan must run once per session+content, not per query")
    assert(SessionMemo.buildsOf("thg") <= g0 + 1)
    // served values equal a direct computation
    assert(exact.length == 30)
    val direct = spark.read.parquet(s"$tmp/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("th"))
      .groupBy("th").agg(min("doc_id").as("rep"), count(lit(1)).as("gsz"))
      .agg(sum(col("gsz")), count(lit(1))).collect()(0)
    assert(direct.getLong(0) == 30)
    assert(manifest.map(_.getLong(1)).distinct.length == direct.getLong(1))
  }

  test("fingerprint validation: an in-place rewrite rebuilds, not serves stale") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_fp").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"text $i", "en", "s", 6L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    write(10)
    assert(Members.th(spark, tmp).count() == 10)
    val b1 = SessionMemo.buildsOf("thm")
    // same content → served, no rebuild
    assert(Members.th(spark, tmp).count() == 10)
    assert(SessionMemo.buildsOf("thm") == b1)
    // rewrite in place → fingerprint differs → rebuild with fresh values
    write(17)
    assert(Members.th(spark, tmp).count() == 17,
      "a rewritten table must be re-derived, not served from the stale memo")
    assert(SessionMemo.buildsOf("thm") == b1 + 1)
  }

  test("found-on-try memo revalidates on source-table rewrite (ADVICE r11)") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_fot").toString
    def writeOrders(n: Int): Unit =
      (1 to n).map(i => (i.toLong, (i % 5).toLong + 1L, s"prio${i % 3}"))
        .toDF("o_orderkey", "o_custkey", "o_orderpriority")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    (1L to 5L).map(i => (i, s"customer name $i"))
      .toDF("c_custkey", "c_name")
      .repartition(1).write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    writeOrders(20)
    assert(graft.operators.EltOps.foundOnTry.run(spark, tmp).count() == 20)
    val fb = SessionMemo.buildsOf("fot")
    // unchanged tables → the memo serves, no rebuild
    assert(graft.operators.EltOps.foundOnTry.run(spark, tmp).count() == 20)
    assert(SessionMemo.buildsOf("fot") == fb)
    // in-place rewrite of orders → rebuild, provenance reflects new rows
    writeOrders(8)
    assert(graft.operators.EltOps.foundOnTry.run(spark, tmp).count() == 8,
      "a rewritten orders table must rebuild the provenance memo")
    assert(SessionMemo.buildsOf("fot") == fb + 1)
  }

  test("vec eh memo: one hash pass serves the whole ANN family; groups match a direct collapse") {
    val b0 = SessionMemo.buildsOf("ehm")
    val (members, reps) = Members.eh(spark, sfDir)
    val (m2, r2) = Members.eh(spark, sfDir)
    // three eh-keyed index serves share the same derivation — none may
    // re-hash the corpus
    graft.operators.Similarity.annLsh.run(spark, sfDir).collect()
    graft.operators.Similarity.annPq.run(spark, sfDir).collect()
    graft.operators.Similarity.annIvf.run(spark, sfDir).collect()
    assert(SessionMemo.buildsOf("ehm") <= b0 + 1,
      "the vec↔eh mapping must derive once per session+content")
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(members.count() == n)
    assert(reps.agg(sum("gsz")).collect()(0).getLong(0) == n)
    // every rep is its group's min member
    val bad = members.groupBy("rep").agg(min("vec_id").as("mn"))
      .where(col("rep") =!= col("mn")).count()
    assert(bad == 0)
    assert(m2.count() == n && r2.count() == reps.count())
  }

  test("ANN query-side memos build once per session and revalidate on rewrite (r14)") {
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("memo_annq").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("memo_annqroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def write(seed: Int): Unit =
      (0 until 48).map(i => (i.toLong,
        Array.tabulate(8)(j => (((i * 3 + j * 7 + seed) % 13) - 6).toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    try {
      write(0)
      val before = Seq("annq", "annqs", "annqc", "annql", "annqp")
        .map(f => f -> SessionMemo.buildsOf(f)).toMap
      // two serves of each family: the query frame / signature lookup /
      // probe assignment / ADC table derivations must build ONCE
      for (_ <- 1 to 2) {
        Similarity.annLsh.run(spark, tmp).collect()
        Similarity.annIvf.run(spark, tmp).collect()
        Similarity.annPq.run(spark, tmp).collect()
        Similarity.annIvfPq.run(spark, tmp).collect()
      }
      for ((f, b) <- before)
        assert(SessionMemo.buildsOf(f) == b + 1,
          s"memo family $f must build exactly once per session+content")
      // rewrite → fingerprint differs → every query-side memo rebuilds
      // (a stale probe assignment would silently serve the wrong cells)
      write(5)
      Similarity.annLsh.run(spark, tmp).collect()
      Similarity.annIvf.run(spark, tmp).collect()
      Similarity.annPq.run(spark, tmp).collect()
      Similarity.annIvfPq.run(spark, tmp).collect()
      for ((f, b) <- before)
        assert(SessionMemo.buildsOf(f) == b + 2,
          s"memo family $f must rebuild on an in-place rewrite")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("THM artifact: hash pass once per content; restart serves a pure load; file append delta-encodes (r13)") {
    import graft.operators.AnnIndex
    val tmp = java.nio.file.Files.createTempDirectory("thm_art").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("thm_root").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    try {
      (0 until 20).map(i => (i.toLong, s"alpha beta doc ${i % 6}", "en", s"s${i % 2}"))
        .toDF("doc_id", "text", "lang", "source")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val (e0, a0) = (AnnIndex.thmEncodes.get(), AnnIndex.thmAppends.get())
      val served = Members.th(spark, tmp)
      assert(served.count() == 20)
      assert(AnnIndex.thmEncodes.get() == e0 + 1,
        "first serve must encode the THM artifact once")
      // values are exactly the direct hash computation, lang/source ride
      val direct = spark.read.parquet(s"$tmp/documents.parquet")
        .select(col("doc_id").as("d2"), md5(col("text")).as("th2"), col("lang").as("l2"))
      assert(served.join(direct, col("doc_id") === col("d2"))
        .where(col("th") =!= col("th2") || col("lang") =!= col("l2")).count() == 0)
      // restart (validation cache cleared): a pure artifact load — no
      // corpus hash pass, the verdict-r12 #5 contract
      SessionMemo.reset()
      assert(AnnIndex.docHashes(spark, tmp).count() == 20)
      assert(AnnIndex.thmEncodes.get() == e0 + 1 &&
        AnnIndex.thmAppends.get() == a0,
        "a new session's serve must be a pure load, not a re-hash")
      // pure file append: only the delta's rows are encoded
      (20 until 27).map(i => (i.toLong, s"fresh text $i", "de", "s9"))
        .toDF("doc_id", "text", "lang", "source")
        .repartition(1).write.mode("append").parquet(s"$tmp/documents.parquet")
      val after = Members.th(spark, tmp)
      assert(after.count() == 27)
      assert(AnnIndex.thmAppends.get() == a0 + 1 &&
        AnnIndex.thmEncodes.get() == e0 + 1,
        "a file append must delta-encode, never re-encode the corpus")
      assert(after.where(col("doc_id") === 25L).select("lang")
        .collect()(0).getString(0) == "de")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("THM auto-compaction: 9 appends keep the id-hash chain within corpusMaxChain, values intact, no re-hash (r15)") {
    import graft.operators.AnnIndex
    val tmp = java.nio.file.Files.createTempDirectory("thm_chain").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("thm_chainroot").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def docs(rows: Seq[Long], mode: String): Unit =
      rows.map(i => (i, s"chain doc body $i", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")
        .repartition(1).write.mode(mode).parquet(s"$tmp/documents.parquet")
    try {
      docs(0L until 10L, "overwrite")
      assert(Members.th(spark, tmp).count() == 10)
      val e0 = AnnIndex.thmEncodes.get()
      // 9 micro-batch appends, each served: the corpus-classed chain
      // compacts automatically past corpusMaxChain segments (r15,
      // verdict r14 #8 extended) — a merged rewrite every 8 appends,
      // never an unbounded segment union, never a re-hash
      for (k <- 1 to 9) {
        docs(Seq(100L + 2 * k, 101L + 2 * k), "append")
        assert(Members.th(spark, tmp).count() == 10 + 2 * k)
        assert(AnnIndex.sigChainLen(spark, tmp, "THM") <= AnnIndex.corpusMaxChain,
          s"append $k decayed past the ${AnnIndex.corpusMaxChain}-segment bound")
      }
      assert(AnnIndex.thmEncodes.get() == e0,
        "compaction is a pure parquet merge — the corpus must never re-hash")
      // served hashes equal a direct computation across the compaction
      val direct = spark.read.parquet(s"$tmp/documents.parquet")
        .select(col("doc_id").as("d2"), md5(col("text")).as("th2"))
      assert(Members.th(spark, tmp).join(direct, col("doc_id") === col("d2"))
        .where(col("th") =!= col("th2")).count() == 0)
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  test("EHM artifact: vector hash pass once per content; append delta-encodes; eh values stable (r13)") {
    import graft.operators.AnnIndex
    val tmp = java.nio.file.Files.createTempDirectory("ehm_art").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("ehm_root").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    try {
      (0 until 16).map(i => (i.toLong,
        Array.tabulate(4)(j => ((i % 5) * 10 + j).toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val (e0, a0) = (AnnIndex.ehmEncodes.get(), AnnIndex.ehmAppends.get())
      val (members, reps) = Members.eh(spark, tmp)
      assert(members.count() == 16)
      assert(reps.count() == 5, "one rep per distinct vector")
      assert(AnnIndex.ehmEncodes.get() == e0 + 1)
      SessionMemo.reset()
      assert(AnnIndex.vecHashes(spark, tmp).count() == 16)
      assert(AnnIndex.ehmEncodes.get() == e0 + 1 &&
        AnnIndex.ehmAppends.get() == a0,
        "restart must serve the EHM artifact, not re-hash the vectors")
      // append: a duplicate of known content plus a novel vector
      Seq((16L, Array.tabulate(4)(j => (0 * 10 + j).toFloat)),
          (17L, Array.tabulate(4)(j => (99 + j).toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(1).write.mode("append").parquet(s"$tmp/embeddings.parquet")
      val (m2, r2) = Members.eh(spark, tmp)
      assert(AnnIndex.ehmAppends.get() == a0 + 1 &&
        AnnIndex.ehmEncodes.get() == e0 + 1)
      assert(m2.count() == 18 && r2.count() == 6)
      // the duplicate's eh equals its original's (hash purity across
      // the append boundary)
      val byId = m2.select("vec_id", "eh").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(byId(16L) == byId(0L))
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }
}
