package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2 H): the streaming twins of
  * the batch event operators. Source-agnostic — any streaming Dataset
  * with the `Ev` shape works; tests drive them with MemoryStream,
  * production would use kafka/files via readStream.
  */
object EventStream {

  /** outDirs whose data/ layout passed the legacy-layout guard this JVM. */
  private val checkedLayouts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** H. Watermarked tumbling-window counts per event type.
    * State is bounded by the watermark; late events beyond 1 hour are
    * dropped — the standard at-scale windowed aggregation.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("events"), sum(col("value_cents")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("events"), col("value_cents"))

  /** H. Streaming exact dedup: drop re-deliveries of the same event_id,
    * with state bounded by the watermark (an at-least-once source's
    * duplicates arrive close to the original; state for ids older than the
    * watermark is evicted). The streaming twin of q_dedup_exact, and the
    * standard idempotency guard in front of an append sink.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** H. Watermarked stream-stream interval join (the attribution shape):
    * each view joins same-user purchases whose timestamp falls within
    * [view_ts, view_ts + attribution window]. Both sides carry watermarks
    * AND the join condition bounds purchase_ts relative to view_ts, so
    * Spark can evict buffered state on both sides — the two requirements
    * for an inner stream-stream join that survives unbounded inputs
    * (without them state grows forever).
    *
    * Inputs: views(user_id, view_id, ts), purchases(user_id, purchase_id,
    * ts, value_cents).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      attributionWindow: String = "30 minutes"): DataFrame = {
    val v = views
      .select(col("user_id"), col("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user_id"), col("purchase_id"),
        col("ts").as("purchase_ts"), col("value_cents"))
      .withWatermark("purchase_ts", "2 hours")
    v.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $attributionWindow"))
      .drop("p_user_id")
  }

  /** Idempotent micro-batch write for non-transactional targets. Each
    * batch lands in its own hive-style partition
    * `$outDir/data/batch_id=<id>` written with OVERWRITE, so a replayed
    * epoch — foreachBatch is at-least-once across restarts — rewrites its
    * own partition instead of appending a second copy, no matter where
    * the previous attempt crashed. (A plain append + marker-check leaves
    * a duplicate window: crash after the data commit but before the
    * marker and the replay appends again.) The commit marker is written
    * AFTER the data purely to skip redundant rewrites and to give
    * downstream readers a completed-batch signal; correctness does not
    * depend on it. This is the standard exactly-once recipe for sinks
    * without transactions; the file-sink variant
    * (Sources.writeStreamParquet) gets the same guarantee from Spark's
    * own commit log.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Boolean = {
    val marker = new Path(outDir, s"_committed_$batchId")
    val fs = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    // Layout guard: before the partitioned scheme existed, batches were
    // appended flat under $outDir/data. A directory in that legacy layout
    // would fail partition discovery once batch_id= dirs appear next to
    // loose files — refuse loudly instead, and point at a fresh outDir.
    // Checked once per outDir per JVM: the listing is O(#batches) on an
    // object store, and after the first write this sink only ever adds
    // batch_id= partitions. Names partition discovery itself ignores
    // ('_' and '.' prefixes) are not evidence of a legacy layout.
    val dataRoot = new Path(outDir, "data")
    // A memoized outDir whose data/ has vanished was deleted and
    // recreated out of band — drop the memo so the layout check runs
    // again on the new incarnation. One exists() per batch is a cheap
    // metadata op (the memo exists to avoid the O(#batches) listing, not
    // this probe); a recreation that plants a NON-empty legacy data/ in
    // the same JVM is still invisible, accepted per-JVM-memo semantics.
    if (checkedLayouts.contains(outDir) && !fs.exists(dataRoot))
      checkedLayouts.remove(outDir)
    if (!checkedLayouts.contains(outDir)) {
      if (fs.exists(dataRoot) && fs.listStatus(dataRoot).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("batch_id=") && !n.startsWith("_") && !n.startsWith(".")
        })
        throw new IllegalStateException(s"$dataRoot contains files outside " +
          "batch_id=<id> partitions (a legacy flat-append sink?) — this sink " +
          "writes one hive partition per micro-batch; use a fresh outDir")
      checkedLayouts.add(outDir)
    }
    val fresh = !fs.exists(marker)
    if (fresh) {
      batch.write.mode("overwrite").parquet(s"$outDir/data/batch_id=$batchId")
      fs.create(marker, true).close()
    }
    fresh
  }

  /** H. foreachBatch sink wired to [[writeBatchIdempotent]]. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        writeBatchIdempotent(batch.toDF(), batchId, outDir); ()
      })

  /** The body every index-maintenance sink below shares: each
    * micro-batch of `rows` lands as a batch-scoped idempotent partition
    * of the corpus table `corpusDir/table` ([[writeBatchIdempotent]]),
    * then `maintain` brings the persisted artifacts current. Maintenance
    * is one "query" per micro-batch: its CacheBag entries are released
    * after it — a cached corpus-path frame would serve the PREVIOUS
    * batch's file listing to the next one (the batch harness never
    * mutates a table, streams do every batch).
    */
  private def maintenanceSink(rows: DataFrame, corpusDir: String, table: String,
      checkpoint: String)(maintain: => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        writeBatchIdempotent(batch.toDF(), batchId, s"$corpusDir/$table")
        try maintain
        finally graft.CacheBag.release()
        ()
      })

  /** H. Continuous indexing (r8) — ingest and index maintenance as ONE
    * streaming sink, the production loop behind "search is fresh within
    * a micro-batch of the crawl": each micro-batch of documents lands in
    * the corpus table as a batch-scoped idempotent hive partition
    * ([[writeBatchIdempotent]]'s batch_id=N layout under the table
    * path), then the persisted lexical index
    * ([[graft.operators.AnnIndex.lex]]) is brought current — the
    * file-inventory append detector sees exactly the new batch's files,
    * so maintenance tokenizes ONLY the micro-batch (counter-proven in
    * the spec), and the serve side reads a lossless chained index at
    * every point in time. The write-then-marker order makes replays
    * safe: a replayed batch skips the write (marker present, base files
    * untouched — later batches still detect a pure append), and a crash
    * BETWEEN write and marker re-overwrites only files no index version
    * has ever recorded (the index advances strictly after the marker).
    * Chain growth is the priced trade (one segment per micro-batch);
    * [[graft.operators.AnnIndex.compactLex]] on a maintenance cadence
    * collapses it — the Lucene merge loop, spec-driven end to end
    * (batches → delta appends → compaction → bit-identical serve).
    */
  def lexIndexSink(s: SparkSession, corpusDir: String, docs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(docs, corpusDir, "documents.parquet", checkpoint) {
      graft.operators.AnnIndex.lex(s, corpusDir)
    }

  /** H. Continuous vocabulary maintenance — the tokenizer's view of the
    * [[lexIndexSink]] loop: each documents micro-batch lands as a
    * batch-scoped idempotent partition of the corpus table, then the
    * persisted BPE vocabulary ([[graft.operators.AnnIndex.bpeVocab]]) is
    * brought current through its delta-only append path — the
    * file-inventory detector sees exactly the new batch's files, so
    * maintenance tokenizes ONLY the micro-batch. Word counts merge
    * exactly, so the streamed vocabulary is bit-identical to a
    * from-scratch build at every batch boundary (no chain, no
    * compaction step needed — the artifact is Heaps-bounded and each
    * append writes a self-contained merged version), and the merge
    * table retrains from it vocabulary-sized. Write-then-maintain
    * ordering makes replays safe exactly as in lexIndexSink.
    */
  def vocabIndexSink(s: SparkSession, corpusDir: String, docs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(docs, corpusDir, "documents.parquet", checkpoint) {
      graft.operators.AnnIndex.bpeVocab(s, corpusDir)
    }

  /** H. Continuous near-dup clustering — the component-label view of the
    * [[lexIndexSink]] loop: each documents micro-batch lands as a
    * batch-scoped idempotent partition of the corpus table, then the
    * persisted component labels ([[graft.operators.Dedup.clusterIndex]] →
    * AnnIndex.ccIndex) are brought current. The maintenance step goes
    * through the exactness-proven incremental path when the append is
    * structure-monotone (new texts' edges merge into existing components
    * via a driver union-find over the REDUCED graph — component-count-
    * sized, never the corpus), and detects a df-cap crossing (which can
    * delete old edges) to force a full refit instead of serving a wrong
    * closure. Write-then-maintain ordering makes replays safe exactly as
    * in lexIndexSink; q_dedup_clusters / q_split_assign then serve
    * cluster-label joins current to the last closed micro-batch.
    */
  def clusterIndexSink(s: SparkSession, corpusDir: String, docs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(docs, corpusDir, "documents.parquet", checkpoint) {
      graft.operators.Dedup.clusterIndex(s, corpusDir)
    }

  /** H. Continuous text-pair-graph maintenance (r10) — the document-
    * ingest twin of [[embedPairsSink]], keeping the THREE persisted
    * text candidate graphs current per micro-batch: each documents
    * batch lands as a batch-scoped idempotent partition, then the NP
    * (ngram inverted-index pairs), MP (minhash band collisions) and SP
    * (simhash chunk collisions) artifacts come current through their
    * exact-or-refuse append paths (delta-sized joins when no cap
    * crossing; refit otherwise — see AnnIndex.ngPairs /
    * bucketPairGraph). A batch q_dedup_ngram / q_dedup_minhash /
    * q_dedup_simhash run then serves the streamed graphs with no
    * corpus-pass work — text near-dup pairs current within a
    * micro-batch of the crawl. Write-then-maintain ordering makes
    * replays safe exactly as in lexIndexSink.
    */
  def textPairsSink(s: SparkSession, corpusDir: String, docs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(docs, corpusDir, "documents.parquet", checkpoint) {
      // r13: the THM member mapping rides the tick first — the
      // id-keyed delta append is exactly the batch's rows, and every
      // family below (and any post-stream batch serve) reads doc↔th
      // through it with no corpus hash pass
      graft.operators.AnnIndex.docHashes(s, corpusDir)
      graft.operators.AnnIndex.ngPairs(s, corpusDir)
      graft.operators.AnnIndex.mhPairs(s, corpusDir)
      graft.operators.AnnIndex.shPairs(s, corpusDir)
      // r11: the token-level signature families ride the same
      // maintenance tick — positional postings (LP, q_phrase_search's
      // aligned-join index) and per-text word counts (WC, the
      // tokenizer-encode serve) delta-append only the batch's novel
      // texts, so a batch phrase/encode run right after the tick
      // serves with zero corpus-pass work
      graft.operators.AnnIndex.textSigs(s, corpusDir, "LP",
        graft.operators.TextAnalysis.lpEncode)
      graft.operators.AnnIndex.textSigs(s, corpusDir, "WC",
        graft.operators.Bpe.wcEncode)
      // r12: the three remaining signature families join the tick —
      // DSIR bigram buckets, winnow fingerprints and binary simhash
      // delta-append the batch's novel texts, so a post-stream
      // q_dsir_select / q_winnow / q_dedup_binary serve is a pure
      // load (no corpus-pass encode left outside maintenance)
      graft.operators.AnnIndex.textSigs(s, corpusDir, "DS",
        graft.operators.TextAnalysis.dsEncode)
      graft.operators.AnnIndex.textSigs(s, corpusDir, "WN",
        graft.operators.TextAnalysis.wnEncode)
      graft.operators.AnnIndex.textSigs(s, corpusDir, "BIN",
        graft.operators.Multimodal.binSigs)
    }

  /** H. Continuous ANN index maintenance — the vector-ingest twin of
    * [[lexIndexSink]], closing the loop that [[annServeLshSink]] reads
    * from: each embeddings micro-batch lands as a batch-scoped
    * idempotent partition of the vector table, then the persisted LSH
    * signature index is brought current
    * ([[graft.operators.Similarity.ensureAnnIndex]] →
    * AnnIndex.lsh). On a pure append the delta encodes under the
    * index's FROZEN geometry (bits/bands/radius from fit time — the
    * stored signatures' bucket space; re-solving from the grown n would
    * desynchronize serve probes from stored codes) and chains; once
    * frozen-encoded rows pass the drift threshold
    * (AnnIndex.refitFraction) maintenance refits instead — the same
    * append/refit discipline the batch spec pins, now exercised across
    * micro-batch boundaries. Write-then-maintain ordering makes replays
    * safe exactly as in lexIndexSink.
    */
  def annIndexSink(s: SparkSession, corpusDir: String, vecs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(vecs, corpusDir, "embeddings.parquet", checkpoint) {
      graft.operators.Similarity.ensureAnnIndex(s, corpusDir)
    }

  /** H. Continuous embed-pair-graph maintenance (r10) — the vector-ingest
    * twin of [[clusterIndexSink]], closing the maintenance loop for the
    * LAST persisted family: each embeddings micro-batch lands as a
    * batch-scoped idempotent partition, then the persisted EP pair graph
    * ([[graft.operators.AnnIndex.embedPairs]]) comes current — a pure
    * append delta-encodes ONLY the batch's genuinely-novel vectors under
    * the artifact's FROZEN fit-time geometry, probes them against the
    * union's codes, exact-rescores, and rewrites the distinct-content-
    * sized artifacts self-contained (no chain); duplicates of known
    * vectors add zero rows, and drift past the refit threshold rebuilds.
    * A batch q_dedup_embed / q_dedup_semantic run then serves the
    * streamed graph with no corpus-pass work — near-dup pairs are
    * current within a micro-batch of the crawl. Write-then-maintain
    * ordering makes replays safe exactly as in lexIndexSink.
    */
  def embedPairsSink(s: SparkSession, corpusDir: String, vecs: DataFrame,
      checkpoint: String): DataStreamWriter[Row] =
    maintenanceSink(vecs, corpusDir, "embeddings.parquet", checkpoint) {
      // r13: the EHM (vec_id, eh) mapping rides the tick like THM
      graft.operators.AnnIndex.vecHashes(s, corpusDir)
      graft.operators.AnnIndex.embedPairs(s, corpusDir)
    }

  /** H. Streaming incremental ingest dedup — the streaming twin of
    * q_dedup_incremental (Dedup.incremental), i.e. the shape a crawl
    * ingest actually runs as: documents arrive continuously, each must be
    * kept only if its content key is new BOTH against the already-
    * ingested corpus and against everything seen earlier in the stream.
    *
    * Two stages, cheapest filter first:
    *  1. stream-static LEFT ANTI join against the corpus key set — per
    *     micro-batch, stateless. At 100 TB the static side is the compact
    *     ingested-key table (8-byte hashes, not documents), bucketed on
    *     the key so the per-batch join is bucket-local; Spark's runtime
    *     bloom/DPP filtering prunes corpus partitions the batch's keys
    *     can't touch.
    *  2. dropDuplicatesWithinWatermark on the key — first arrival wins
    *     within the stream, state bounded by the watermark (a crawl
    *     frontier re-emits a URL within hours, not months; older keys are
    *     already in the corpus table once the ingest compacts, which is
    *     what makes the bounded state sound: the corpus side of stage 1
    *     takes over exactly where the watermark evicts).
    *
    * The anti join runs first so only corpus-novel keys ever enter the
    * dedup state store. Inputs: `fresh` streaming (…, ts, content_hash),
    * `corpusKeys` static (content_hash). Output: the `keep` rows, ready
    * for an idempotent append sink ([[idempotentParquetSink]]).
    */
  /** H. Streaming keep-newest compaction — the continuous twin of batch
    * q_keep_newest (Kafka compacted-topic semantics / continuous CDC
    * snapshot): per (user_id, event_type) key, the running latest record
    * by (ts, event_id), emitted in Update mode whenever it changes.
    *
    * The same struct-max device as the batch operator: state per key is
    * ONE struct — the compacted value itself, exactly what a compacted
    * topic retains — and the aggregation partial-merges map-side, so a
    * hot key's update storm combines before the shuffle instead of
    * buffering a version history. Deliberately NO watermark/timeout: a
    * compacted dimension is keyed by entity and its newest value must
    * survive indefinitely (the stream_scd2 state argument — state
    * cardinality = entity count, the same size as the output itself);
    * an event-time eviction would silently forget quiet keys. Struct
    * ordering makes late/out-of-order arrivals a no-op: an older (ts,
    * event_id) never displaces the current max.
    */
  def latestPerKey(updates: DataFrame): DataFrame =
    updates
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts"), col("event_id"), col("value_cents"))).as("w"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("w.ts").as("ts"), col("w.event_id").as("event_id"),
        col("w.value_cents").as("value_cents"), col("n_versions"))

  def incrementalDedup(fresh: DataFrame, corpusKeys: DataFrame): DataFrame =
    fresh
      .join(corpusKeys.select("content_hash"), Seq("content_hash"), "left_anti")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** H. Streaming paragraph-level dedup — the streaming twin of
    * q_dedup_paragraph, at the granularity below [[incrementalDedup]]'s
    * whole-document key: each incoming document explodes into paragraphs
    * (16-word blocks, the batch twin's splitter), and a paragraph
    * survives only if it is novel against BOTH the ingested corpus and
    * the stream so far. Same two stages, cheapest filter first:
    *
    *  1. stream-static LEFT ANTI join against the corpus's compact
    *     paragraph-hash table (8-byte hashes — at 100 TB this is the
    *     by-product the batch transform's `firsts` aggregation already
    *     materializes, bucketed on the hash) — per micro-batch,
    *     stateless;
    *  2. dropDuplicatesWithinWatermark on the paragraph hash — the
    *     corpus-global-FIRST-occurrence rule of the batch operator,
    *     enforced across micro-batches with watermark-bounded state
    *     (boilerplate re-arrives within hours; once the ingest compacts
    *     the corpus table, stage 1 takes over exactly where the
    *     watermark evicts — the same soundness argument as
    *     incrementalDedup's).
    *
    * Output is the novel-paragraph stream (doc_id, idx, para, hp) —
    * doc reassembly (the batch twin's string_agg) is sink-side, where
    * the per-doc rows of one micro-batch land together. The explode is
    * stateless and narrow; only corpus-novel paragraph hashes ever
    * enter the state store.
    */
  def paragraphClean(docs: DataFrame, corpusParaHashes: DataFrame,
      paraWords: Int = 16): DataFrame =
    docs
      .select(col("doc_id"), col("ts"), split(trim(col("text")), " +").as("w"))
      .select(col("doc_id"), col("ts"), posexplode(expr(
        s"transform(sequence(0, (size(w)-1) div $paraWords), " +
          s"i -> concat_ws(' ', slice(w, i*$paraWords+1, $paraWords)))"))
        .as(Seq("idx", "para")))
      .withColumn("hp", xxhash64(col("para")))
      .join(corpusParaHashes.select("hp"), Seq("hp"), "left_anti")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("hp")

  /** H. Streaming ANN serve (r8) — continuous retrieval: a stream of
    * query vectors served against the PERSISTED LSH index (the r7
    * fit/serve split's production artifact, AnnIndex's capped
    * banded-signature table) as a stream-static join — the natural
    * consumer of the persisted index, and the continuous-retrieval twin
    * the streaming family lacked. Per micro-batch the whole batch serve
    * kernel runs (graft.operators.Similarity.annServeLshBatch:
    * frozen-geometry query encode → hamming-probe ring broadcast against
    * the static signature table → exact-cosine rescore → top-k window);
    * the top-k window is a batch op, hence foreachBatch. NO stream state
    * anywhere — every stage is stateless within its batch and the static
    * index carries all history, so a replayed micro-batch recomputes
    * identical rows and [[writeBatchIdempotent]]'s batch-scoped partition
    * overwrite makes the sink exactly-once downstream.
    */
  def annServeLshSink(s: SparkSession, d: String, queries: DataFrame,
      outDir: String, checkpoint: String, k: Int = 5): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        writeBatchIdempotent(
          graft.operators.Similarity.annServeLshBatch(s, d, batch.toDF(), k),
          batchId, outDir); ()
      })

  /** H. Streaming heavy hitters — the streaming twin of q_heavy_hitters.
    * Each micro-batch tokenizes its documents and accumulates ONE bounded
    * SpaceSaving sketch (approx_top_k_accumulate), landed as a single
    * partial-sketch row in a batch-scoped idempotent partition via
    * [[writeBatchIdempotent]]; [[heavyHittersEstimate]] combines every
    * partial and estimates the top-k. Sketches are constant-size and
    * mergeable, so streaming state is O(batches · budget) — never
    * token-level — and the combine is associative/commutative, so the
    * merged estimate equals the one-shot batch sketch over the same rows:
    * exactly how per-day partial sketches roll up at 100 TB.
    */
  def heavyHittersSink(docs: DataFrame, outDir: String, checkpoint: String,
      budget: Int = 8192): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        heavyHittersPartial(batch.toDF(), batchId, outDir, budget); ()
      })

  /** One micro-batch's partial: accumulate a bounded sketch and land it
    * idempotently. An empty micro-batch (source idle between triggers)
    * is skipped — a global agg over zero rows would land a NULL sketch,
    * which approx_top_k_combine rejects downstream. Returns whether a
    * partial was written.
    */
  private[graft] def heavyHittersPartial(batch: DataFrame, batchId: Long,
      outDir: String, budget: Int): Boolean =
    !batch.isEmpty && {
      val sk = batch
        .select(explode(split(col("text"), " +")).as("tok"))
        .agg(expr(s"approx_top_k_accumulate(tok, $budget)").as("sk"))
      writeBatchIdempotent(sk, batchId, outDir)
    }

  /** Combine all landed partial sketches and estimate the top-k. The
    * null filter drops partials landed by pre-guard writers (an empty
    * micro-batch's zero-row agg); the coalesce matters for correctness,
    * not just cost — approx_top_k_combine's buffer never initializes on
    * an empty partition and fails to serialize, and after the filter a
    * file-per-partition read can produce one. Partials are one row per
    * micro-batch, so a single partition is also the right plan.
    *
    * The partials are cached and forced ONCE, so the emptiness decision
    * and the returned plan's combine share a single parquet listing+scan
    * (r5 paid the read twice on the common path). The cache entry is one
    * coalesced partition of sketch rows — bounded by batch count — and is
    * dropped eagerly on the empty path; on the non-empty path it backs
    * the returned lazy plan, so it is CacheBag-tracked and released by
    * the sequential harnesses once the query's write completes (ADVICE
    * r6: it previously relied on LRU eviction).
    */
  def heavyHittersEstimate(spark: SparkSession, outDir: String, k: Int = 20,
      budget: Int = 8192): DataFrame = {
    val partials = graft.CacheBag.track(spark.read.parquet(s"$outDir/data")
      .where(col("sk").isNotNull)
      .coalesce(1))
    val estimated = partials
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(sk, $budget), $k)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("cnt"))
    // all partials null (a pre-guard sink whose every batch was empty):
    // the combine would see its one coalesced partition empty and crash —
    // an empty top-k is the correct answer, same schema
    if (partials.count() == 0) {
      partials.unpersist()
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], estimated.schema)
    } else estimated
  }

  case class Ev(user_id: Long, event_id: Long, ts: Timestamp, value_cents: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, value_cents: Long)
  // public: Spark's state encoder codegen needs constructor/field access
  case class OpenSession(start_ms: Long, end_ms: Long, n: Long, value: Long)

  /** H. Gap-based sessionization with explicit state
    * (flatMapGroupsWithState + event-time timeout): per-user open-session
    * state; a session closes either when a later event proves the gap or
    * when the watermark passes its timeout. O(1) state per key, watermark-
    * bounded — the shape that survives an unbounded 100 TB event log.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, s.start_ms, s.end_ms, s.n, s.value)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.end_ms <= gapMs =>
                  open = Some(OpenSession(s.start_ms, t, s.n + 1, s.value + e.value_cents))
                case Some(s) =>
                  closed += SessionOut(userId, s.start_ms, s.end_ms, s.n, s.value)
                  open = Some(OpenSession(t, t, 1, e.value_cents))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value_cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end_ms + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class TypedEv(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String)
  case class Scd2Out(user_id: Long, version: Long, status: String,
      valid_from_ms: Long, valid_to_ms: Long, n_events: Long)
  // public: Spark's state encoder codegen needs constructor/field access
  case class OpenVersion(version: Long, status: String, from_ms: Long, n: Long)

  /** H. Streaming SCD2 change capture — the continuous twin of batch
    * q_scd2 (operators.EventOps): per user, track the current
    * `event_type` run in state; when an event changes the attribute, emit
    * the CLOSED half-open interval [valid_from, valid_to) and open the
    * next version. Closed intervals are append-only facts (they can never
    * change), so OutputMode.Append is exact; the OPEN interval is the
    * state itself and emits only when a later change closes it —
    * identical to the batch operator's non-current rows, which is what
    * the parity spec pins.
    *
    * State discipline: one OpenVersion per user, NoTimeout — this is a
    * DIMENSION, keyed by entity, so state cardinality is the entity
    * count (exactly what the batch output itself carries), not
    * time-unbounded growth; an event-time timeout would wrongly close a
    * version for a merely-quiet user. Late events: per-batch processing
    * sorts by (ts, event_id) within the batch; cross-batch late arrivals
    * are bounded by the source's watermark, the same discipline
    * [[sessionize]] documents.
    */
  def scd2(events: Dataset[TypedEv])(
      implicit spark: SparkSession): Dataset[Scd2Out] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[OpenVersion]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var open = state.getOption
          val closed = Seq.newBuilder[Scd2Out]
          sorted.foreach { e =>
            val t = e.ts.getTime
            open match {
              case Some(v) if v.status == e.event_type =>
                open = Some(v.copy(n = v.n + 1))
              case Some(v) =>
                closed += Scd2Out(userId, v.version, v.status, v.from_ms, t, v.n)
                open = Some(OpenVersion(v.version + 1, e.event_type, t, 1))
              case None =>
                open = Some(OpenVersion(1, e.event_type, t, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  case class FunnelOut(user_id: Long, t1: Long, t2_ms: Long, t3_ms: Long,
      depth: Long)
  // public: Spark's state encoder codegen needs constructor/field access.
  // hasView is an explicit flag, not a t1 sign-test: a -1 sentinel would
  // conflate "no view yet" with a genuinely negative (pre-1970) event
  // time and silently drop that user at timeout.
  case class FunnelBuf(hasView: Boolean, t1: Long, clicks: Seq[Long],
      purchases: Seq[Long], maxSeen: Long)

  /** H. Streaming ordered conversion funnel — the continuous twin of
    * batch q_window_funnel (operators.EventOps): per user, the
    * view → click → purchase depth with every step inside `windowMs`
    * anchored at the FIRST view, later steps strictly after earlier
    * ones. Emits once per user when the watermark passes the anchored
    * window's end — by then the verdict is FINAL (every event that could
    * change it is below the watermark), so OutputMode.Append is exact
    * and the emitted row equals the batch operator's (the parity spec).
    *
    * State discipline — the part that survives a bot: the anchor t1 is a
    * single long (min of views is arrival-order-insensitive, so late
    * in-watermark views fold exactly), and the click/purchase buffers
    * are COMPACTED each batch to entries that can still qualify under
    * any watermark-admissible future: a click dies once it is at or
    * below both the watermark and the current anchor (a future anchor
    * can only land in [watermark, t1), so such a click can never become
    * strictly-after-anchor); a purchase dies once at or below both the
    * watermark and the current best click time (a future better click
    * arrives at ≥ watermark ≥ the purchase, so the purchase can never
    * become strictly-after-click); everything past the anchored window
    * end dies immediately. Retained state is therefore bounded by the
    * funnel window + watermark lag — the [[sessionize]] class — not by
    * the user's event count. Users with no view garbage-collect
    * `windowMs` after their last event without emitting (the batch
    * operator likewise emits only view-anchored users).
    */
  def funnel(events: Dataset[TypedEv], windowMs: Long = 604800000L)(
      implicit spark: SparkSession): Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[FunnelBuf]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.filter(_.hasView).map { st =>
              val end = st.t1 + windowMs
              val t2 = st.clicks.filter(c => c > st.t1 && c <= end)
                .sorted.headOption
              val t3 = t2.flatMap(t2v =>
                st.purchases.filter(p => p > t2v && p <= end).sorted.headOption)
              FunnelOut(userId, st.t1, t2.getOrElse(0L), t3.getOrElse(0L),
                if (t3.isDefined) 3L else if (t2.isDefined) 2L else 1L)
            }.toSeq
            state.remove()
            out.iterator
          } else {
            var st = state.getOption
              .getOrElse(FunnelBuf(hasView = false, 0L, Nil, Nil, Long.MinValue))
            rows.foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" =>
                  if (!st.hasView || t < st.t1) st = st.copy(hasView = true, t1 = t)
                case "click" => st = st.copy(clicks = st.clicks :+ t)
                case "purchase" => st = st.copy(purchases = st.purchases :+ t)
                case _ => ()
              }
              if (t > st.maxSeen) st = st.copy(maxSeen = t)
            }
            val wm = state.getCurrentWatermarkMs()
            val end = if (st.hasView) st.t1 + windowMs else Long.MaxValue
            val clicks = st.clicks.filter(c =>
              c <= end && (c > wm || (st.hasView && c > st.t1)))
            val t2lb =
              if (st.hasView)
                clicks.filter(c => c > st.t1).sorted.headOption
                  .getOrElse(Long.MaxValue)
              else Long.MaxValue
            val purchases = st.purchases.filter(p =>
              p <= end && (p > wm || p > t2lb))
            st = st.copy(clicks = clicks, purchases = purchases)
            state.update(st)
            val timeoutAt =
              if (st.hasView) st.t1 + windowMs else st.maxSeen + windowMs
            state.setTimeoutTimestamp(math.max(timeoutAt, wm + 1))
            Iterator.empty
          }
      }
  }
}
