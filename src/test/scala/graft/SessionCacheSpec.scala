package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.operators.{Analyses, AnnIndex, Bpe, Dedup, EltOps, SessionMemo,
  Similarity, Unigram}

/** The per-JVM families of the one session cache ([[SessionMemo]]), one
  * row each: build, serve again (the family's build counter is
  * unchanged), rewrite the source table IN PLACE, serve again (the
  * counter rises by exactly one), and the served value equals a build
  * after [[SessionMemo.reset]]. Plus the leak check: a table appended
  * to again and again holds one live count entry, not one per version,
  * and the per-session source schemas ([[T.read]]): one inference job per
  * session and table content, none for a read after it.
  */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  /** A tiny corpus whose every row changes with `seed`: 24 documents and
    * 32 8-dim vectors.
    */
  private def writeCorpus(d: String, seed: Int): Unit = {
    (0 until 24).map { i =>
      (i.toLong, s"low lower newest w${(i * 5 + seed) % 9} tok${i % 4}s$seed", "en", "s", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    (0 until 32).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.3 + j * 1.3 + seed * 2.1).toFloat))
    }.toDF("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
  }

  private def e(d: String): DataFrame =
    spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))

  private def state(path: String): (Long, Long) = {
    val fp = SessionMemo.tableFingerprint(spark, path)
    (math.max(AnnIndex.tableCount(spark, path, fp), 1L), fp)
  }

  /** (build counter, served value) per absorbed family. */
  private val rows: Seq[(String, String => Any)] = Seq(
    "count" -> { d =>
      val t = s"$d/documents.parquet"
      AnnIndex.tableCount(spark, t, SessionMemo.tableFingerprint(spark, t))
    },
    "valid.EHM" -> (d => AnnIndex.vecHashes(spark, d).collect().map(_.toString).sorted.toSeq),
    "bpe" -> (d => Bpe.trainMerges(spark, d, 6)),
    "unigram" -> (d => Unigram.trainPieces(spark, d)),
    "ivf.codebook" -> (d => Similarity.codebookRows(spark, d, e(d)).toSeq),
    "pq.codebook" -> { d =>
      val (n, fp) = state(s"$d/embeddings.parquet")
      val (cents, dim) = Similarity.pqCodebookAt(spark, d, e(d), n, fp)
      (cents.toSeq, dim)
    },
    "bloom" -> { d =>
      val corpus = spark.read.parquet(s"$d/documents.parquet")
        .select(md5(col("text")).as("content_hash"))
      val (m, w) = Dedup.bloomWords(spark, d, corpus)
      (m, w.toSeq)
    })

  for ((family, serve) <- rows)
    test(s"session cache family $family: serves once per content, rebuilds once on an in-place rewrite, equals a build after reset") {
      val tmp = java.nio.file.Files.createTempDirectory(s"memo_${family}_").toString
      val idxRoot = java.nio.file.Files.createTempDirectory(s"memo_${family}_root").toString
      spark.conf.set("graft.ann.indexRoot", idxRoot)
      try {
        writeCorpus(tmp, 0)
        val v0 = serve(tmp)
        val b0 = SessionMemo.buildsOf(family)
        assert(serve(tmp) == v0)
        assert(SessionMemo.buildsOf(family) == b0, s"$family must serve, not rebuild")
        writeCorpus(tmp, 1)
        val v1 = serve(tmp)
        assert(SessionMemo.buildsOf(family) == b0 + 1,
          s"$family must rebuild exactly once after an in-place rewrite")
        assert(serve(tmp) == v1)
        SessionMemo.reset()
        assert(serve(tmp) == v1, s"$family served value diverges from a build after reset")
        assert(SessionMemo.buildsOf(family) == b0 + 2)
      } finally {
        spark.conf.unset("graft.ann.indexRoot")
        rmTree(tmp); rmTree(idxRoot)
      }
    }

  test("count memo holds one live entry per table across 10 in-place appends") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_count_leak").toString
    val path = s"$tmp/embeddings.parquet"
    def append(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
        .repartition(1).write.mode(mode).parquet(path)
    try {
      append(0 until 5, "overwrite")
      for (k <- 1 to 10) {
        append(5 * k until 5 * k + 3, "append")
        val served = AnnIndex.tableCount(spark, path, SessionMemo.tableFingerprint(spark, path))
        assert(served == spark.read.parquet(path).count())
        assert(SessionMemo.liveEntries(path, "count") == 1,
          s"append $k left ${SessionMemo.liveEntries(path, "count")} count entries")
      }
    } finally rmTree(tmp)
  }

  test("compaction evicts only the compacted families' validation marks") {
    import graft.operators.TextAnalysis
    val tmp = java.nio.file.Files.createTempDirectory("memo_compact").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("memo_compact_root").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def docs(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, s"shared alpha${i % 3} common${i % 5} word$i", "en", "s", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1).write.mode(mode).parquet(s"$tmp/documents.parquet")
    try {
      (0 until 16).map(i => (i.toLong, Array.fill(4)((i % 5).toFloat)))
        .toDF("vec_id", "embedding")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      AnnIndex.vecHashes(spark, tmp).collect()
      // two ingest batches → a 3-segment LXT chain
      docs(0 until 40, "overwrite")
      TextAnalysis.bm25.run(spark, tmp).collect()
      docs(40 until 46, "append")
      TextAnalysis.bm25.run(spark, tmp).collect()
      docs(46 until 50, "append")
      TextAnalysis.bm25.run(spark, tmp).collect()
      val (ehm, lxt) = (SessionMemo.buildsOf("valid.EHM"), SessionMemo.buildsOf("valid.LXT"))
      assert(SessionMemo.liveEntries(tmp, "valid.EHM") == 1)
      assert(SessionMemo.liveEntries(tmp, "valid.LXT") == 1)
      assert(AnnIndex.compactLex(spark, tmp), "chained index must compact")
      assert(SessionMemo.liveEntries(tmp, "valid.LXT") == 0)
      assert(SessionMemo.liveEntries(tmp, "valid.EHM") == 1,
        "compacting LXT must keep the EHM mark of the same dataset")
      AnnIndex.vecHashes(spark, tmp).collect()
      TextAnalysis.bm25.run(spark, tmp).collect()
      assert(SessionMemo.buildsOf("valid.EHM") == ehm)
      assert(SessionMemo.buildsOf("valid.LXT") == lxt + 1,
        "the compacted family re-proves its totals once")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      rmTree(tmp); rmTree(idxRoot)
    }
  }

  private lazy val ledger = new TaskLedger(spark.sparkContext)

  /** `body`'s value and the Spark jobs it launched. */
  private def jobsOf[A](body: => A): (A, Int) = {
    ledger.drain(); ledger.reset()
    val a = body
    ledger.drain()
    (a, ledger.jobs.get())
  }

  test("a source table's schema is resolved once per session and table content") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_schema").toString
    def write(cols: String*): Unit =
      (0 until 8).map(i => (i.toLong, s"o$i", i * 1.5)).toDF("o_orderkey", "o_status", "o_total")
        .select(cols.map(col): _*)
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    def builds = SessionMemo.buildsOf("schema.orders")
    try {
      write("o_orderkey", "o_status")
      val b0 = builds
      T.orders(spark, tmp)
      assert(builds == b0 + 1, "the first read in a session infers the schema")
      // (a) a later read in the same session: no build, no job
      val (again, jobs) = jobsOf(T.orders(spark, tmp))
      assert(builds == b0 + 1, "a second read must serve the resolved schema")
      assert(jobs == 0, s"a second read launched $jobs Spark jobs")
      assert(again.count() == 8)
      // (b) an in-place rewrite that adds a column mid-session
      write("o_orderkey", "o_status", "o_total")
      val grown = T.orders(spark, tmp)
      assert(grown.columns.toSeq == Seq("o_orderkey", "o_status", "o_total"),
        "a read after an in-place rewrite must see the new column")
      assert(grown.agg(sum("o_total")).head().getDouble(0) == 42.0)
      assert(builds == b0 + 2, "an in-place rewrite infers exactly once more")
      // (c) a new session resolves its own entry; the old one still serves
      val other = spark.newSession()
      assert(T.orders(other, tmp).columns.length == 3)
      assert(builds == b0 + 3, "a new session builds its own schema entry")
      T.orders(spark, tmp); T.orders(other, tmp)
      assert(builds == b0 + 3)
      assert(SessionMemo.liveEntries(s"$tmp/orders.parquet", "schema.orders") == 2)
    } finally rmTree(tmp)
  }

  test("Sources.parquet resolves through the same per-session schema") {
    val tmp = java.nio.file.Files.createTempDirectory("memo_schema_src").toString
    try {
      (0 until 4).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/docs")
      val b0 = SessionMemo.buildsOf("schema.docs")
      graft.sources.Sources.parquet(spark, s"$tmp/docs")
      val (df, jobs) = jobsOf(graft.sources.Sources.parquet(spark, s"$tmp/docs"))
      assert(SessionMemo.buildsOf("schema.docs") == b0 + 1)
      assert(jobs == 0)
      assert(df.columns.toSeq == Seq("doc_id", "text"))
      // a glob is not a table path: Spark lists and infers it as before
      assert(graft.sources.Sources.parquet(spark, s"$tmp/do*").count() == 4)
    } finally rmTree(tmp)
  }

  test("tableFiles lists every non-checksum file under a partitioned table") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("memo_files").toString
    try {
      (0 until 12).map(i => (i.toLong, i % 3)).toDF("vec_id", "part")
        .write.partitionBy("part").parquet(s"$tmp/t.parquet")
      val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/t.parquet"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(f => (f.toString, java.nio.file.Files.size(f), f.toFile.lastModified()))
        .toSeq.sortBy(_._1)
      assert(onDisk.size >= 4, "three partitions plus _SUCCESS")
      assert(SessionMemo.tableFiles(spark, s"$tmp/t.parquet") == onDisk)
    } finally rmTree(tmp)
  }

  test("with warm schema entries, q.run of every plan-only Analyses/EltOps op launches 0 jobs") {
    // (d) warm this session's schema entries for every source table
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings").foreach(T(spark, sfDir, _))
    val ops = (Analyses.all ++ EltOps.all).filterNot(q => EagerOps(q.name))
    assert(ops.size == Analyses.all.size + EltOps.all.size - EagerOps.size)
    val launched = ops.map(q => q.name -> jobsOf(q.run(spark, sfDir))._2).filter(_._2 != 0)
    assert(launched.isEmpty, s"q.run launched jobs: $launched")
  }

  /** Ops whose build runs driver jobs of its own, schemas aside: the
    * three readers of the session `fot` frames, which the first of them
    * in a session materializes (one eager count).
    */
  private val EagerOps = Set("q_found_on_try", "q_found_by_stats", "q_found_on_try_stats")
}
