package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.{Ev, SessionOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class RawEv(ts: Timestamp, event_type: String, value_cents: Long)

  test("windowed counts aggregate by hour with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawEv]
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    val h0 = Timestamp.valueOf("2024-01-01 10:05:00")
    val h0b = Timestamp.valueOf("2024-01-01 10:55:00")
    val h1 = Timestamp.valueOf("2024-01-01 11:10:00")
    mem.addData(RawEv(h0, "view", 100L), RawEv(h0b, "view", 50L), RawEv(h1, "click", 10L))
    q.processAllAvailable()
    // advance watermark far enough to close both windows
    mem.addData(RawEv(Timestamp.valueOf("2024-01-01 14:00:00"), "view", 1L))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select("event_type", "events", "value_cents")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    assert(rows.contains(("view", 2L, 150L)), s"got $rows")
    assert(rows.contains(("click", 1L, 10L)), s"got $rows")
  }

  case class VerEv(user_id: Long, event_type: String, ts: Timestamp,
      event_id: Long, value_cents: Long)

  test("streaming keep-newest compaction converges to the batch answer; late versions never displace") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VerEv]
    // the driver-side materialization of the compacted topic: apply each
    // Update-mode emission; final content must equal the batch compaction
    val state = scala.collection.mutable.Map[(Long, String), (Long, Long, Long)]()
    val q = EventStream.latestPerKey(mem.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach { r =>
          state((r.getLong(0), r.getString(1))) =
            (r.getLong(3), r.getLong(4), r.getLong(5))
        }
        ()
      }.start()
    val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData(VerEv(1L, "bal", t(0), 1L, 100L), VerEv(2L, "bal", t(0), 2L, 200L))
    q.processAllAvailable()
    assert(state((1L, "bal")) == ((1L, 100L, 1L)))
    // batch 2: a newer version of key (1, bal) displaces
    mem.addData(VerEv(1L, "bal", t(5), 3L, 150L))
    q.processAllAvailable()
    assert(state((1L, "bal")) == ((3L, 150L, 2L)))
    // batch 3: a LATE version (older ts) must bump n_versions but never
    // displace the newer value — the struct-max no-op case
    mem.addData(VerEv(1L, "bal", t(1), 4L, 999L))
    q.processAllAvailable()
    q.stop()
    assert(state((1L, "bal")) == ((3L, 150L, 3L)),
      s"late arrival displaced the compacted value: $state")
    assert(state((2L, "bal")) == ((2L, 200L, 1L)))
    assert(state.keySet == Set((1L, "bal"), (2L, "bal")))
  }

  case class DupEv(event_id: Long, ts: Timestamp, payload: String)

  test("streaming dedup drops re-delivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DupEv]
    val q = EventStream.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 10:00:05")
    mem.addData(DupEv(1L, t0, "a"), DupEv(2L, t0, "b"), DupEv(1L, t1, "a-redelivered"))
    q.processAllAvailable()
    mem.addData(DupEv(1L, Timestamp.valueOf("2024-01-01 10:00:09"), "a-again"))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().toSeq
    q.stop()
    assert(ids.sorted == Seq(1L, 2L), s"got $ids")
  }

  case class View(user_id: Long, view_id: Long, ts: Timestamp)
  case class Purchase(user_id: Long, purchase_id: Long, ts: Timestamp, value_cents: Long)

  test("stream-stream attribution join matches purchases inside the window only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[View]
    val purchases = MemoryStream[Purchase]
    val q = EventStream.attributionJoin(views.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    def plus(min: Int) = Timestamp.valueOf(s"2024-01-01 10:${"%02d".format(min)}:00")
    views.addData(View(1L, 100L, t), View(2L, 101L, t))
    purchases.addData(
      Purchase(1L, 500L, plus(10), 999L),   // inside window -> joins
      Purchase(2L, 501L, plus(45), 111L),   // outside 30-min window -> dropped
      Purchase(3L, 502L, plus(5), 222L))    // no matching view -> dropped
    q.processAllAvailable()
    val rows = spark.table("attr_out")
      .select("view_id", "purchase_id", "value_cents")
      .as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((100L, 500L, 999L)), s"got $rows")
  }

  test("idempotent foreachBatch sink skips a replayed batch id") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(EventStream.writeBatchIdempotent(batch, 7L, dir))
    // simulate foreachBatch replay of the same epoch after a crash
    assert(!EventStream.writeBatchIdempotent(batch, 7L, dir))
    assert(EventStream.writeBatchIdempotent(batch, 8L, dir))
    val n = spark.read.parquet(s"$dir/data").count()
    assert(n == 4L, s"expected one append per distinct batch id, got $n rows")
    // the crash window a marker check alone can't close: data committed
    // but the marker was never created — the replay must overwrite the
    // batch partition, not append a second copy
    val p = new org.apache.hadoop.fs.Path(dir, "_committed_8")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    assert(EventStream.writeBatchIdempotent(batch, 8L, dir))
    val n2 = spark.read.parquet(s"$dir/data").count()
    assert(n2 == 4L, s"replay after lost marker must overwrite, got $n2 rows")
    // a legacy flat-append layout (loose files under data/) must be
    // refused, not silently mixed with batch_id= partitions
    val legacy = java.nio.file.Files.createTempDirectory("graft_sink_legacy").toString
    batch.write.mode("overwrite").parquet(s"$legacy/data")
    intercept[IllegalStateException] {
      EventStream.writeBatchIdempotent(batch, 0L, legacy)
    }
  }

  test("idempotent sink runs end-to-end as a streaming query") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_e2e").toString
    val mem = MemoryStream[DupEv]
    val q = EventStream.idempotentParquetSink(
      mem.toDF(), s"$dir/out", s"$dir/ckpt").start()
    mem.addData(DupEv(1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
    mem.addData(DupEv(2L, Timestamp.valueOf("2024-01-01 10:00:01"), "b"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(s"$dir/out/data")
      .select("event_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L), s"got $ids")
  }

  case class Doc(doc_id: Long, text: String)

  test("continuous indexing: micro-batches delta-append the lexical index; compaction serves identically") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, TextAnalysis}
    val corpus = java.nio.file.Files.createTempDirectory("graftci").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftciroot").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("graftciroot2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftcickpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def text(i: Long) = s"shared alpha${i % 3} beta${i % 2} tok$i common${i % 5}"
    def rank(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toString).sorted.toSeq
    try {
      val mem = MemoryStream[Doc]
      val (e0, a0) = (AnnIndex.lexEncodes.get(), AnnIndex.lexAppends.get())
      val q = EventStream.lexIndexSink(spark, corpus, mem.toDF(), ckpt).start()
      mem.addData((0L until 20L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      assert(AnnIndex.lexEncodes.get() == e0 + 1 &&
        AnnIndex.lexAppends.get() == a0, "batch 1 is the one full encode")
      mem.addData((20L until 26L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      assert(AnnIndex.lexAppends.get() == a0 + 1 &&
        AnnIndex.lexEncodes.get() == e0 + 1,
        "batch 2 must delta-append, never re-tokenize the corpus")
      mem.addData((26L until 30L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.lexAppends.get() == a0 + 2)
      // the streamed index serves BM25 with no further encode work…
      val out = TextAnalysis.bm25.run(spark, corpus).collect()
      assert(AnnIndex.lexEncodes.get() == e0 + 1 &&
        AnnIndex.lexAppends.get() == a0 + 2)
      // …and ranks identically to a from-scratch index of the landed table
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      val fresh = TextAnalysis.bm25.run(spark, corpus).collect()
      assert(rank(out) == rank(fresh),
        "streamed chain diverges from a fresh build")
      // maintenance cadence: compaction collapses the 3-segment chain
      spark.conf.set("graft.ann.indexRoot", idxRoot)
      assert(AnnIndex.compactLex(spark, corpus))
      val out2 = TextAnalysis.bm25.run(spark, corpus).collect()
      assert(rank(out) == rank(out2), "compaction changed the ranking")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, freshRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("streaming heavy hitters: sketch merge across 3 micro-batches equals the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hh").toString
    val mem = MemoryStream[Doc]
    val q = EventStream.heavyHittersSink(
      mem.toDF(), s"$dir/out", s"$dir/ckpt").start()
    // three micro-batches with overlapping vocabularies — the combine has
    // to merge counts for tokens seen in multiple batches
    val b1 = Seq(Doc(1L, "a a a b c"), Doc(2L, "b c d"))
    val b2 = Seq(Doc(3L, "a b b e"), Doc(4L, "c c d e"))
    val b3 = Seq(Doc(5L, "a e e e f"))
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    mem.addData(b3); q.processAllAvailable()
    q.stop()
    // one partial sketch per micro-batch, landed idempotently
    assert(spark.read.parquet(s"$dir/out/data")
      .select("batch_id").distinct().count() == 3L)
    val merged = EventStream.heavyHittersEstimate(spark, s"$dir/out", k = 10)
      .as[(String, Long)].collect().toMap
    // budget >> vocabulary -> the sketch estimate is exact: compare with
    // token counts over the union of all three batches
    val exact = (b1 ++ b2 ++ b3).flatMap(_.text.split(" +"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(merged == exact, s"merged $merged vs exact $exact")

    // empty micro-batch: the partial writer must skip it (a zero-row
    // global agg would land a NULL sketch)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(!EventStream.heavyHittersPartial(empty, 99L, s"$dir/out", 8192))
    // a null partial landed BEFORE the skip guard existed must not poison
    // the combine either
    spark.range(1)
      .select(lit(null).cast(
        spark.read.parquet(s"$dir/out/data").schema("sk").dataType).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/out/data/batch_id=99")
    val withNull = EventStream.heavyHittersEstimate(spark, s"$dir/out", k = 10)
      .as[(String, Long)].collect().toMap
    assert(withNull == exact, s"null partial changed the estimate: $withNull")
    // a sink holding ONLY null partials must yield an empty top-k, not a
    // combine crash on the filtered-empty partition
    val dir2 = java.nio.file.Files.createTempDirectory("graft_hh_null").toString
    spark.read.parquet(s"$dir/out/data/batch_id=99")
      .write.mode("overwrite").parquet(s"$dir2/out/data/batch_id=0")
    assert(EventStream.heavyHittersEstimate(spark, s"$dir2/out", k = 10).count() == 0)
  }

  test("stratified sampling is stateless: streaming selection equals the batch set") {
    // the md5-bucket sampler is a pure narrow map, so the SAME expressions
    // run unchanged on a stream — batch/streaming symmetry for corpus
    // mixing, no state, no watermark
    implicit val sqlCtx = spark.sqlContext
    val rate = when(col("lang") === "en", 60)
      .when(col("lang") === "de", 40)
      .when(col("lang") === "zh", 25).otherwise(10)
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    val docs = (1L to 300L).map(i =>
      (i, Seq("en", "de", "zh", "fr")((i % 4).toInt)))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "lang")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate_pct"))
      .where(col("bucket") < col("rate_pct"))
      .writeStream.format("memory").queryName("sample_out")
      .outputMode("append").start()
    docs.grouped(100).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("sample_out")
      .select("doc_id").as[Long].collect().toSet
    val batch = docs.toDF("doc_id", "lang")
      .select(col("doc_id"), bucket.as("bucket"), rate.as("rate_pct"))
      .where(col("bucket") < col("rate_pct"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch, s"stream/batch mismatch: ${streamed.size} vs ${batch.size}")
    assert(batch.nonEmpty)
  }

  case class FreshDoc(doc_id: Long, ts: Timestamp, content_hash: String)

  test("streaming incremental dedup: corpus anti join + within-stream first-wins") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("H1", "H2").toDF("content_hash")
    val mem = MemoryStream[FreshDoc]
    val q = EventStream.incrementalDedup(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("inc_dedup_out")
      .outputMode("append").start()
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    // batch 1: A hits the corpus, B is novel, C duplicates B in-batch
    mem.addData(FreshDoc(1L, ts(0), "H1"), FreshDoc(2L, ts(1), "H3"),
      FreshDoc(3L, ts(2), "H3"))
    q.processAllAvailable()
    // batch 2: D re-delivers H3 across micro-batches (inside the
    // watermark -> state must still drop it), E is novel
    mem.addData(FreshDoc(4L, ts(5), "H3"), FreshDoc(5L, ts(6), "H4"))
    q.processAllAvailable()
    val kept = spark.table("inc_dedup_out").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(kept == Set(2L, 5L), s"got $kept")
    // parity with the batch operator's verdict classes on the same data:
    // keep == NOT in_corpus AND NOT dup_in_batch, first occurrence wins
    // (arrival order here == doc_id order, the batch tie-break)
    val batchKeep = Seq((1L, "H1"), (2L, "H3"), (3L, "H3"), (4L, "H3"), (5L, "H4"))
      .toDF("doc_id", "content_hash")
      .join(corpus, Seq("content_hash"), "left_anti")
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == batchKeep, s"stream $kept vs batch $batchKeep")
  }

  case class ParaDoc(doc_id: Long, ts: Timestamp, text: String)

  test("streaming paragraph dedup: corpus anti join + within-stream first paragraph wins") {
    implicit val sqlCtx = spark.sqlContext
    def para(tag: String): String = (1 to 16).map(i => s"$tag$i").mkString(" ")
    val (p1, p2, p3, p4) = (para("a"), para("b"), para("c"), para("d"))
    // the corpus already carries P1 (as its hash — the compact table the
    // batch transform's firsts aggregation materializes)
    val corpus = Seq(p1).toDF("para")
      .select(xxhash64(col("para")).as("hp"))
    val mem = MemoryStream[ParaDoc]
    val q = EventStream.paragraphClean(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("para_clean_out")
      .outputMode("append").start()
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    // batch 1: docA carries corpus-known P1 + novel P2; docB re-carries
    // P2 (within-batch duplicate) + novel P3
    mem.addData(ParaDoc(1L, ts(0), s"$p1 $p2"), ParaDoc(2L, ts(1), s"$p2 $p3"))
    q.processAllAvailable()
    // batch 2: docC re-delivers P3 across micro-batches (inside the
    // watermark -> state drops it) + novel P4
    mem.addData(ParaDoc(3L, ts(5), s"$p3 $p4"))
    q.processAllAvailable()
    val kept = spark.table("para_clean_out")
      .select("doc_id", "idx", "para")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    q.stop()
    // P1 corpus-dropped; P2 kept once (docA, its first carrier); P3 kept
    // once (docB); P4 kept (docC)
    assert(kept == Set((1L, 1, p2), (2L, 1, p3), (3L, 1, p4)), s"got $kept")
    // parity with the batch transform on the same corpus+stream: replay
    // all docs through q_dedup_paragraph with the corpus paragraph
    // prepended as doc 0 — the kept (non-first-carrier-removed)
    // paragraphs must agree
    val tmp = java.nio.file.Files.createTempDirectory("graftparastream").toString
    Seq((0L, p1), (1L, s"$p1 $p2"), (2L, s"$p2 $p3"), (3L, s"$p3 $p4"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val batchClean = operators.Dedup.paragraphDedup.run(spark, tmp)
      .where(col("doc_id") > 0)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batchClean == Map(1L -> p2, 2L -> p3, 3L -> p4),
      s"batch twin disagrees: $batchClean")
  }

  test("streaming ANN serve matches batch q_ann_lsh top-k on the same corpus") {
    // continuous retrieval against the persisted LSH index: stream the
    // SAME 20 query vectors batch q_ann_lsh uses (in three micro-batches)
    // through the stream-static serve; every emitted (query, neighbor,
    // cosine, rank) row must equal the batch operator's — same frozen
    // index geometry, same candidate generation, same tie-breaks
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val out = java.nio.file.Files.createTempDirectory("graftannserve").toString
    val ck = java.nio.file.Files.createTempDirectory("graftannserveck").toString
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val q = EventStream.annServeLshSink(spark, sfDir,
      mem.toDF().toDF("query_id", "embedding"), out, ck).start()
    queries.grouped(7).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$out/data")
      .select("query_id", "neighbor_id", "cosine", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    val batch = operators.Similarity.annLsh.run(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch top-k mismatch: ${streamed.size} vs ${batch.size} rows; " +
        s"stream-batch=${(streamed -- batch).take(3)} batch-stream=${(batch -- streamed).take(3)}")
  }

  test("stateful sessionization closes sessions on gap and emits on later batch") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    val mem = MemoryStream[Ev]
    val q = EventStream.sessionize(mem.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // user 1: two events 10s apart (one session), then one event 10min later
    def ts(ms: Long) = new Timestamp(ms)
    mem.addData(Ev(1L, 1L, ts(1000L), 5L), Ev(1L, 2L, ts(11000L), 7L))
    q.processAllAvailable()
    mem.addData(Ev(1L, 3L, ts(700000L), 9L))
    q.processAllAvailable()
    val rows = spark.table("sess_out").as[SessionOut].collect().toSeq
    q.stop()
    // the first session must be closed by the third event
    assert(rows.contains(SessionOut(1L, 1000L, 11000L, 2L, 12L)), s"got $rows")
  }

  test("streaming scd2: closed intervals match batch non-current rows across batches") {
    import graft.streaming.EventStream.{TypedEv, Scd2Out}
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    def ts(ms: Long) = new Timestamp(ms)
    // (event_id, ms, user, type): user 7 changes twice (one change spans a
    // batch boundary), user 8 never changes (stays open, never emits)
    val evs = Seq(
      (1L, 1000L, 7L, "view"), (2L, 2000L, 7L, "view"),
      (3L, 3000L, 7L, "purchase"),
      (4L, 4000L, 7L, "view"), (5L, 1000L, 8L, "click"),
      (6L, 5000L, 8L, "click"))
    val mem = MemoryStream[TypedEv]
    val q = EventStream.scd2(mem.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    // batch 1 ends mid-run: version 2 (purchase) is open at the boundary
    val (b1, b2) = evs.splitAt(3)
    mem.addData(b1.map { case (e, m, u, t) => TypedEv(u, e, ts(m), t) }: _*)
    q.processAllAvailable()
    val afterB1 = spark.table("scd2_out").as[Scd2Out].collect().toSet
    assert(afterB1 == Set(Scd2Out(7L, 1L, "view", 1000L, 3000L, 2L)),
      s"batch 1 must close only version 1: $afterB1")
    mem.addData(b2.map { case (e, m, u, t) => TypedEv(u, e, ts(m), t) }: _*)
    q.processAllAvailable()
    val streamed = spark.table("scd2_out").as[Scd2Out].collect().toSet
    q.stop()
    // parity: the streamed closed set IS the batch operator's non-current
    // rows on the full event set (the open/current intervals live in state)
    val tmp = java.nio.file.Files.createTempDirectory("graftscd2s").toString
    evs.map { case (e, m, u, t) => (e, m * 1000000L, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.operators.EventOps.scd2.run(spark, tmp)
      .where(!col("is_current"))
      .select("user_id", "version", "status", "valid_from_ms", "valid_to_ms",
        "n_events")
      .as[Scd2Out].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch scd2 mismatch: ${streamed -- batch} vs ${batch -- streamed}")
  }

  test("continuous vocabulary: micro-batches delta-append; merges equal a fresh build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Bpe, SessionMemo}
    val corpus = java.nio.file.Files.createTempDirectory("graftcv").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftcvroot").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("graftcvroot2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftcvckpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    def text(i: Long) = s"low lower newest widest tok$i common${i % 5}"
    try {
      val mem = MemoryStream[Doc]
      val (e0, a0) = (AnnIndex.vocabEncodes.get(), AnnIndex.vocabAppends.get())
      val q = EventStream.vocabIndexSink(spark, corpus, mem.toDF(), ckpt).start()
      mem.addData((0L until 20L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      assert(AnnIndex.vocabEncodes.get() == e0 + 1 &&
        AnnIndex.vocabAppends.get() == a0, "batch 1 is the one full tokenize")
      mem.addData((20L until 26L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      mem.addData((26L until 30L).map(i => Doc(i, text(i))): _*)
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.vocabEncodes.get() == e0 + 1 &&
        AnnIndex.vocabAppends.get() == a0 + 2,
        "each later micro-batch must delta-append, never re-tokenize")
      // the streamed vocabulary trains the same tokenizer as a
      // from-scratch build of the landed table
      SessionMemo.reset()
      val streamed = Bpe.trainMerges(spark, corpus, 8)
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      SessionMemo.reset()
      val fresh = Bpe.trainMerges(spark, corpus, 8)
      assert(streamed == fresh, "streamed vocabulary diverges from fresh build")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, freshRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  case class Vec(vec_id: Long, embedding: Seq[Float])

  test("continuous ANN maintenance: frozen-geometry delta encode, drift refit, serve stays accurate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Similarity}
    val corpus = java.nio.file.Files.createTempDirectory("graftanns").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftannsroot").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftannsckpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    val dim = 16
    def vec(i: Long): Seq[Float] =
      (0 until dim).map(j => math.sin(i * 31.0 + j * 7.0).toFloat)
    def noisy(i: Long): Seq[Float] =
      (0 until dim).map(j =>
        (math.sin(i * 31.0 + j * 7.0) + 0.02 * math.sin(i * 13.0 + j * 3.0)).toFloat)
    // perturbed copies of corpus vectors must resolve to their source
    def recall(ids: Seq[Long]): Int = {
      val q = ids.map(i => (i + 100000L, noisy(i))).toDF("query_id", "embedding")
      val got = Similarity.annServeLshBatch(spark, corpus, q, 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      ids.count(i => got.get(i + 100000L).contains(i))
    }
    try {
      val mem = MemoryStream[Vec]
      val (e0, a0) = (AnnIndex.lshEncodes.get(), AnnIndex.lshAppends.get())
      val q = EventStream.annIndexSink(spark, corpus, mem.toDF(), ckpt).start()
      mem.addData((0L until 60L).map(i => Vec(i, vec(i))): _*)
      q.processAllAvailable()
      assert(AnnIndex.lshEncodes.get() == e0 + 1 &&
        AnnIndex.lshAppends.get() == a0, "batch 1 is the one full corpus encode")
      // batch 2: 10 rows on a 60-row fit — inside refitFraction, so the
      // delta must encode under the FROZEN fit geometry and chain
      mem.addData((60L until 70L).map(i => Vec(i, vec(i))): _*)
      q.processAllAvailable()
      assert(AnnIndex.lshEncodes.get() == e0 + 1 &&
        AnnIndex.lshAppends.get() == a0 + 1,
        "batch 2 must frozen-geometry delta-encode, never re-encode the corpus")
      // the appended vectors are SERVED through the chained index
      val r2 = recall(60L until 70L)
      assert(r2 >= 8, s"recall through streamed append: $r2/10")
      // batch 3: 40 more rows → (110-60)/110 > refitFraction — the drift
      // trigger must REFIT (parity with the batch append/refit spec)
      mem.addData((70L until 110L).map(i => Vec(i, vec(i))): _*)
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.lshEncodes.get() == e0 + 2 &&
        AnnIndex.lshAppends.get() == a0 + 1,
        "frozen-encoded rows past refitFraction must refit, not chain")
      val r3 = recall(100L until 110L)
      assert(r3 >= 8, s"recall after streamed refit: $r3/10")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("continuous embed-pair maintenance: delta-only appends, drift refit, serve equals a fresh build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Similarity}
    val corpus = java.nio.file.Files.createTempDirectory("graftepst").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftepstroot").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("graftepstroot2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftepstckpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    // orthogonal one-hot axes over 16 dims; eps on the next coordinate
    // makes a near-dup (cosine ≈ 0.99995 ≥ τ), distinct axes stay ≈ 0
    def v(axis: Int, eps: Double): Seq[Float] =
      (0 until 16).map(j => (if (j == axis) 1.0
        else if (j == (axis + 1) % 16) eps else 0.0).toFloat)
    def pairKeys(): Set[(Long, Long)] =
      Similarity.dedupEmbed.run(spark, corpus)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    try {
      val mem = MemoryStream[Vec]
      val (e0, a0) = (AnnIndex.epEncodes.get(), AnnIndex.epAppends.get())
      val q = EventStream.embedPairsSink(spark, corpus, mem.toDF(), ckpt).start()
      // batch 1: one near-dup pair (0,1) + four isolated axes
      mem.addData(Vec(0L, v(0, 0)), Vec(1L, v(0, 0.01)), Vec(2L, v(1, 0)),
        Vec(3L, v(2, 0)), Vec(4L, v(3, 0)), Vec(5L, v(4, 0)))
      q.processAllAvailable()
      assert(AnnIndex.epEncodes.get() == e0 + 1 &&
        AnnIndex.epAppends.get() == a0, "batch 1 is the one full build")
      // batch 2 (2 rows on a 6-row fit — inside refitFraction): a
      // near-dup of batch-1's axis-1 vector + an exact dup of vector 0 —
      // must delta-append, and the cross-batch pairs must appear
      mem.addData(Vec(10L, v(1, 0.01)), Vec(11L, v(0, 0)))
      q.processAllAvailable()
      assert(AnnIndex.epEncodes.get() == e0 + 1 &&
        AnnIndex.epAppends.get() == a0 + 1,
        "batch 2 must delta-append, never re-encode the corpus")
      val k2 = pairKeys()
      assert(k2((2L, 10L)), s"cross-batch near-dup pair missing: $k2")
      assert(k2((0L, 11L)) && k2((1L, 11L)),
        s"exact-dup member pairs missing: $k2")
      // batch 3: 8 new axes → (16−6)/16 > refitFraction — drift refit
      mem.addData((0 until 8).map(i => Vec(20L + i, v(5 + i, 0))): _*)
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.epEncodes.get() == e0 + 2 &&
        AnnIndex.epAppends.get() == a0 + 1,
        "frozen-geometry rows past refitFraction must refit, not append")
      // the streamed graph equals a from-scratch build of the landed table
      val streamed = Similarity.dedupEmbed.run(spark, corpus).collect()
        .map(_.toString).sorted.toSeq
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      val fresh = Similarity.dedupEmbed.run(spark, corpus).collect()
        .map(_.toString).sorted.toSeq
      assert(streamed == fresh, "streamed pair graph diverges from fresh build")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, freshRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("continuous text-pair maintenance: NP/MP/SP delta-append per micro-batch; serve equals fresh builds") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Dedup}
    val corpus = java.nio.file.Files.createTempDirectory("grafttps").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("grafttpsroot").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("grafttpsroot2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("grafttpsckpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    val t = (1 to 12).map(i => f"tk$i%02d")
    val X1 = t.mkString(" ")
    val X2 = t.reverse.mkString(" ")          // permutation: simhash-identical
    val X3 = t.slice(1, 12).mkString(" ") + " tk13"  // ngram near-dup of X1
    try {
      val mem = MemoryStream[Doc]
      val (ne0, na0) = (AnnIndex.npEncodes.get(), AnnIndex.npAppends.get())
      val (te0, ta0) = (AnnIndex.tpEncodes.get(), AnnIndex.tpAppends.get())
      val (se0, sa0) = (AnnIndex.sigEncodes.get(), AnnIndex.sigAppends.get())
      val q = EventStream.textPairsSink(spark, corpus, mem.toDF(), ckpt).start()
      mem.addData(Doc(10L, X1), Doc(11L, X1),
        Doc(12L, "totally different content nothing shared here at all"))
      q.processAllAvailable()
      assert(AnnIndex.npEncodes.get() == ne0 + 1 &&
        AnnIndex.tpEncodes.get() == te0 + 2,
        "batch 1 builds all three pair graphs once")
      // r12: the eight signature families the sink maintains (NG via
      // ngPairs, MH/SH via the bucket graphs, LP, WC, and since r12
      // DS/WN/BIN) each encode once
      assert(AnnIndex.sigEncodes.get() == se0 + 8 &&
        AnnIndex.sigAppends.get() == sa0,
        "batch 1 must encode each signature family exactly once")
      // batch 2: a simhash-identical permutation + an ngram near-dup —
      // both cross-batch pairs must appear through the append paths
      mem.addData(Doc(2L, X2), Doc(3L, X3))
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.npEncodes.get() == ne0 + 1 &&
        AnnIndex.npAppends.get() == na0 + 1 &&
        AnnIndex.tpEncodes.get() == te0 + 2 &&
        AnnIndex.tpAppends.get() == ta0 + 2,
        "batch 2 must delta-append on all three graphs, never re-join")
      assert(AnnIndex.sigEncodes.get() == se0 + 8 &&
        AnnIndex.sigAppends.get() == sa0 + 8,
        "batch 2 must delta-append each signature family exactly once")
      // LP is current from the stream: an exact phrase serve right after
      // the tick must not encode or append, and the aligned-position
      // joins see both batches ("tk01 tk02" is adjacent only in X1)
      val hits = graft.operators.TextAnalysis
        .phraseFrame(spark, corpus, Seq("tk01 tk02")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"))).toSet
      assert(hits == Set((10L, 1L), (11L, 1L)),
        s"streamed LP postings mis-serve the phrase join: $hits")
      // WC is current too: a tokenizer-encode serve pays no sig encode
      val enc = graft.operators.Bpe.encode.run(spark, corpus).collect()
      assert(enc.length == 5, s"bpe encode over the landed corpus: ${enc.length} rows")
      assert(AnnIndex.sigEncodes.get() == se0 + 8 &&
        AnnIndex.sigAppends.get() == sa0 + 8,
        "LP/WC serves after the stream must be pure loads — the sink already maintained them")
      // r12: the three new families are current too — winnow / DSIR /
      // binary-simhash serves right after the tick are pure loads
      assert(graft.operators.TextAnalysis.winnow.run(spark, corpus).count() > 0)
      assert(graft.operators.TextAnalysis.dsirSelect.run(spark, corpus).count() >= 0)
      assert(graft.operators.Multimodal.binaryDedup.run(spark, corpus).count() >= 0)
      assert(AnnIndex.sigEncodes.get() == se0 + 8 &&
        AnnIndex.sigAppends.get() == sa0 + 8,
        "DS/WN/BIN serves after the stream must be pure loads")
      val ng = Dedup.ngramJaccard.run(spark, corpus).collect()
      assert(ng.exists(r => r.getAs[Long]("doc_a") == 3L &&
        r.getAs[Long]("doc_b") == 10L), "cross-batch ngram pair missing")
      val sh = Dedup.simhash.run(spark, corpus).collect()
      assert(sh.exists(r => r.getAs[Long]("doc_a") == 2L &&
        r.getAs[Long]("doc_b") == 10L && r.getAs[Long]("hamming") == 0L),
        "cross-batch simhash permutation pair missing")
      val mh = Dedup.minhashLsh.run(spark, corpus).collect().map(_.toString).sorted.toSeq
      // streamed graphs equal from-scratch builds of the landed table
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      assert(Dedup.ngramJaccard.run(spark, corpus).collect().map(_.toString)
        .sorted.toSeq == ng.map(_.toString).sorted.toSeq)
      assert(Dedup.simhash.run(spark, corpus).collect().map(_.toString)
        .sorted.toSeq == sh.map(_.toString).sorted.toSeq)
      assert(Dedup.minhashLsh.run(spark, corpus).collect().map(_.toString)
        .sorted.toSeq == mh)
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, freshRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("continuous clustering: micro-batches delta-append labels; serve equals a fresh build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Dedup}
    val corpus = java.nio.file.Files.createTempDirectory("graftcc2").toString
    val idxRoot = java.nio.file.Files.createTempDirectory("graftcc2root").toString
    val freshRoot = java.nio.file.Files.createTempDirectory("graftcc2root2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graftcc2ckpt").toString
    spark.conf.set("graft.ann.indexRoot", idxRoot)
    val base = (1 to 10).map(i => s"w$i").mkString(" ")          // X
    val xPrime = (1 to 9).map(i => s"w$i").mkString(" ") + " z1" // ~X (J=7/9)
    val xChain = (1 to 8).map(i => s"w$i").mkString(" ") + " z1 z2" // ~X' (J=6/10)
    try {
      val mem = MemoryStream[Doc]
      val (e0, a0) = (AnnIndex.ccEncodes.get(), AnnIndex.ccAppends.get())
      val q = EventStream.clusterIndexSink(spark, corpus, mem.toDF(), ckpt).start()
      // batch 1: the {X, X'} near-dup component + two isolated uniques
      mem.addData(Doc(0L, base), Doc(1L, xPrime),
        Doc(2L, "totally different content nothing shared here at all"),
        Doc(3L, "another unrelated document with its own words only"))
      q.processAllAvailable()
      assert(AnnIndex.ccEncodes.get() == e0 + 1 &&
        AnnIndex.ccAppends.get() == a0, "batch 1 is the one full component build")
      // batch 2: X'' chains onto X' — the new text must JOIN the existing
      // component through the incremental union-find, not a rebuild
      mem.addData(Doc(4L, xChain),
        Doc(5L, "yet another unique text with completely fresh vocabulary"))
      q.processAllAvailable()
      assert(AnnIndex.ccEncodes.get() == e0 + 1 &&
        AnnIndex.ccAppends.get() == a0 + 1,
        "batch 2 must delta-append, never re-run label propagation")
      // batch 3: an exact duplicate of X (no new distinct text, labels
      // must absorb the member without structural change) + one unique
      mem.addData(Doc(6L, base),
        Doc(7L, "final batch brings one more standalone document text"))
      q.processAllAvailable()
      q.stop()
      assert(AnnIndex.ccEncodes.get() == e0 + 1 &&
        AnnIndex.ccAppends.get() == a0 + 2)
      val streamed = Dedup.clusters.run(spark, corpus).collect().map(_.toString).toSeq
      assert(AnnIndex.ccEncodes.get() == e0 + 1, "serve must not rebuild")
      // the chained component reached {0,1,4,6}
      val byDoc = Dedup.clusters.run(spark, corpus)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(Seq(0L, 1L, 4L, 6L).map(byDoc) == Seq(0L, 0L, 0L, 0L),
        s"chained component broken: $byDoc")
      assert(Seq(2L, 3L, 5L, 7L).map(byDoc) == Seq(2L, 3L, 5L, 7L))
      // and the streamed labels equal a from-scratch build of the landed table
      spark.conf.set("graft.ann.indexRoot", freshRoot)
      val fresh = Dedup.clusters.run(spark, corpus).collect().map(_.toString).toSeq
      assert(streamed == fresh, "streamed labels diverge from fresh build")
    } finally {
      spark.conf.unset("graft.ann.indexRoot")
      for (d <- Seq(corpus, idxRoot, freshRoot, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("streaming funnel: depths finalize at the window's watermark and match batch") {
    import graft.streaming.EventStream.{TypedEv, FunnelOut}
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    def ts(ms: Long) = new Timestamp(ms)
    val W = 604800000L // the batch operator's 7-day window
    // (event_id, ms, user, type): A completes across batches with the
    // anchor view arriving LATE (cross-batch, within watermark lateness);
    // B clicks before any view; C never clicks; D purchases one ms past
    // the anchored window.
    val b1 = Seq(
      (1L, 5000L, 1L, "click"), (2L, 1000L, 2L, "click"),
      (3L, 1000L, 3L, "view"), (4L, 1000L, 4L, "view"),
      (5L, 2000L, 4L, "click"))
    val b2 = Seq(
      (6L, 1000L, 1L, "view"), (7L, 9000L, 1L, "purchase"),
      (8L, 2000L, 2L, "view"), (9L, 5000L, 3L, "purchase"),
      (10L, 1000L + W + 1L, 4L, "purchase"))
    val mem = MemoryStream[TypedEv]
    val q = EventStream.funnel(mem.toDS(), W)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    mem.addData(b1.map { case (e, m, u, t) => TypedEv(u, e, ts(m), t) }: _*)
    q.processAllAvailable()
    mem.addData(b2.map { case (e, m, u, t) => TypedEv(u, e, ts(m), t) }: _*)
    q.processAllAvailable()
    // two watermark-advancing batches: the first moves the watermark past
    // every anchored window end, the second runs the fired timeouts
    mem.addData(TypedEv(99L, 100L, ts(3L * W), "view"))
    q.processAllAvailable()
    mem.addData(TypedEv(99L, 101L, ts(3L * W + 1000L), "view"))
    q.processAllAvailable()
    val streamed = spark.table("funnel_out").as[FunnelOut]
      .collect().filter(_.user_id < 10L).toSet
    q.stop()
    assert(streamed == Set(
      FunnelOut(1L, 1000L, 5000L, 9000L, 3L),
      FunnelOut(2L, 2000L, 0L, 0L, 1L),
      FunnelOut(3L, 1000L, 0L, 0L, 1L),
      FunnelOut(4L, 1000L, 2000L, 0L, 2L)), s"got $streamed")
    // parity: the registered batch operator on the same events (dummy
    // watermark-advancer included — it is a depth-1 user in both worlds)
    val tmp = java.nio.file.Files.createTempDirectory("graftfunnel").toString
    (b1 ++ b2 ++ Seq((100L, 3L * W, 99L, "view"), (101L, 3L * W + 1000L, 99L, "view")))
      .map { case (e, m, u, t) => (e, m * 1000000L, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.operators.EventOps.windowFunnel.run(spark, tmp)
      .select(col("user_id"), col("t1"), col("t2_ms"), col("t3_ms"), col("depth"))
      .as[FunnelOut].collect().filter(_.user_id < 10L).toSet
    assert(streamed == batch,
      s"stream/batch funnel mismatch: ${streamed -- batch} vs ${batch -- streamed}")
  }

  test("checkpoint FileContext resolves local paths to the fork-free filesystem") {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, Path}
    val conf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("graftfc").toUri
    val fc = FileContext.getFileContext(dir, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs],
      s"file: resolved to ${fc.getDefaultFileSystem.getClass.getName}")
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    // a create through the FileContext API (the checkpoint manager's path)
    val p = new Path(new Path(dir), "offsets/0")
    fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
    assert(fc.util().exists(p))
  }
}
