package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheBag, Det, Q, T}

/** Training-run corpus assembly: the step AFTER filtering/dedup where the
  * surviving documents become an actual training run — packed into
  * fixed-length sequences and re-weighted across languages/sources.
  * Both are first-class large-scale pipeline ops (the reference has no
  * analogue; these extend the LLM-data surface like the dedup/ANN
  * families do).
  */
object Assembly {

  /** Whitespace token count — q_token_count's ws_tokens expression, the
    * packing currency. Coalesced to 0 for null text: Spark's size(split)
    * is NULL on null input while the oracle's windowed COALESCE(SUM…)
    * would still emit a concrete tok_start for that row — the two
    * formulations must agree on how a null-text doc packs (ADVICE r6;
    * latent until a corpus carries null text). Zero tokens = the doc
    * occupies no span, both engines.
    */
  private def nTok =
    coalesce(size(split(trim(col("text")), " +")).cast("long"), lit(0L))

  /** The oracle-side twin of [[nTok]] — keep the two in sync. */
  private val nTokSql =
    "CAST(COALESCE(len(regexp_split_to_array(trim(text), ' +')), 0) AS BIGINT)"

  /** Training sequence length (tokens). Small vs the ~24-token synthetic
    * docs' scale so packing exercises both multi-doc sequences and
    * multi-sequence docs.
    */
  private[graft] val seqLen = 128L

  /** The per-doc span columns from the running token count `tok_end`
    * (inclusive), after the leading `keys` columns.
    */
  private def packCols(keys: String*): Seq[String] = keys ++ Seq(
    "n_tok", "tok_end - n_tok as tok_start",
    s"(tok_end - n_tok) div $seqLen as seq_first",
    s"(tok_end - 1) div $seqLen as seq_last",
    s"(tok_end - n_tok) % $seqLen as seq_off",
    s"(tok_end - 1) div $seqLen - (tok_end - n_tok) div $seqLen + 1 as n_seqs")

  /** The packing dataflow, unsorted, plus the corpus-total token count
    * (free on the driver from the phase-2 bucket totals) — shared by
    * [[packSequences]] and [[packManifest]].
    */
  private def packedDocs(s: SparkSession, d: String): (DataFrame, Long) = {
    val toks = T.documents(s, d)
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"), nTok.as("n_tok"))
    // one cheap stats pass over the pruned doc_id column (at scale:
    // parquet footer / catalog stats) sizes the bucket width
    val st = toks.agg(min("doc_id"), max("doc_id")).head()
    val (mn, mx) = if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0), st.getLong(1))
    // cache(): the skinny (doc_id, n_tok, bucket) projection is
    // ~24 B/doc (≈0.1% of corpus bytes) — caching it means the text
    // column is scanned and tokenized ONCE (the totals job populates,
    // the final plan reads), instead of once per phase. CacheBag-tracked:
    // the entry must outlive this call (the returned plan reads it) but
    // not the query — Bench/Verify release after each query's write.
    val bucketed = CacheBag.track(toks.withColumn("bucket", GlobalRank.widthBucket(
      "doc_id", mn, mx, math.max(1, s.sparkContext.defaultParallelism))))
    val (df, total) = GlobalRank.running(s, bucketed, Seq("bucket"), 0,
      Seq(col("doc_id")), col("n_tok"), "tok_end")
    (df.selectExpr(packCols("doc_id"): _*), total)
  }

  /** The 256 md5-key buckets: a hex key's first 2 chars as a number,
    * whose numeric order equals the key's string order, so bucket ranges
    * tile the key order (at 1000-executor scale widen the prefix: 4 hex
    * chars = 65k buckets; the offsets stay partition metadata).
    */
  private def hexPrefix(sk: Column): Column =
    conv(substring(sk, 1, 2), 16, 10).cast("long")

  /** Documents with a doc_id, keyed by the permutation key
    * sk = md5(doc_id) and its [[hexPrefix]] bucket; CacheBag-cached so the
    * corpus is scanned once across the two [[GlobalRank]] phases.
    */
  private def shuffleKeyed(s: SparkSession, d: String, cols: Column*): DataFrame =
    CacheBag.track(T.documents(s, d)
      .where(col("doc_id").isNotNull)
      .select(col("doc_id") +: cols :+ md5(col("doc_id").cast("string")).as("sk"): _*)
      .withColumn("bucket", hexPrefix(col("sk"))))

  /** G. Sequence packing — GPT-style concat-and-chunk: documents are
    * concatenated in doc_id order and the token stream is split into
    * fixed [[seqLen]]-token training sequences; each document reports the
    * sequence span it lands in (first/last sequence id, offset in its
    * first sequence, how many sequences it touches). This is the
    * assembly step's bookkeeping: which documents co-occupy a sequence
    * (attention-contamination checks), which straddle a boundary
    * (truncation accounting), how many total sequences a corpus yields.
    *
    * The global running token count is [[GlobalRank.running]] over
    * `n_tok`, bucketed by a DETERMINISTIC arithmetic range of doc_id
    * (width sized from one cheap min/max stats agg so ~shuffle-parallelism
    * buckets come out). Dense-ish doc_ids keep buckets balanced (true
    * here by construction; a sparse-id corpus would size buckets from
    * quantile sketches instead — same device). All outputs are exact
    * longs, hash-checked against the oracle's global-window formulation,
    * which proves the two-phase decomposition equals the single-pass
    * prefix sum.
    */
  val packSequences: Q = Q(
    "q_pack_sequences",
    (s, d) => packedDocs(s, d)._1.transform(Det.sortAll),
    Some(s"""WITH t AS (
            |  SELECT doc_id, $nTokSql AS n_tok
            |  FROM documents WHERE doc_id IS NOT NULL
            |), c AS (
            |  SELECT doc_id, n_tok,
            |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
            |  FROM t
            |)
            |SELECT doc_id, n_tok, tok_start,
            |       tok_start // $seqLen AS seq_first,
            |       (tok_start + n_tok - 1) // $seqLen AS seq_last,
            |       tok_start % $seqLen AS seq_off,
            |       (tok_start + n_tok - 1) // $seqLen - tok_start // $seqLen + 1 AS n_seqs
            |FROM c ORDER BY ALL""".stripMargin)
  )

  /** G. Packing manifest — the per-SEQUENCE view of [[packSequences]]:
    * for each fixed-length training sequence, which documents occupy it
    * (count, first/last doc, how many documents START in it) and its
    * token fill. This is the provenance lookup a trainer serves ("what
    * is sequence s made of") and the attention-contamination audit
    * surface (n_docs > 1 ⇒ cross-document attention inside the window
    * unless the attention mask resets at doc boundaries). Derived by
    * exploding each doc's [seq_first, seq_last] span — output rows
    * ≈ n_docs + total_tokens/seqLen, linear — then one map-side-combined
    * groupBy on seq_id; fill_tokens = least(seqLen, total − s·seqLen)
    * with the corpus total already on the driver from packing phase 2
    * (every sequence is full except possibly the last — concat-and-chunk
    * has no padding waste; the manifest proves it).
    */
  val packManifest: Q = Q(
    "q_pack_manifest",
    (s, d) => {
      val (docs, total) = packedDocs(s, d)
      docs
        // guard the degenerate zero-token doc (null text, n_seqs = 0 at a
        // sequence boundary): Spark's sequence(a, b) with b < a counts
        // DOWN while the oracle's range() is empty — explode of the
        // empty-array branch drops the row on both engines identically
        .select(col("doc_id"), col("seq_first"),
          explode(when(col("seq_last") >= col("seq_first"),
            expr(s"sequence(seq_first, seq_last)"))
            .otherwise(expr("cast(array() as array<bigint>)"))).as("seq_id"))
        .groupBy("seq_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("seq_first") === col("seq_id"), 1L).otherwise(0L))
            .cast("long").as("n_starts"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .withColumn("fill_tokens",
          least(lit(seqLen), lit(total) - col("seq_id") * lit(seqLen)))
        .transform(Det.sortAll)
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, $nTokSql AS n_tok
            |  FROM documents WHERE doc_id IS NOT NULL
            |), c AS (
            |  SELECT doc_id, n_tok,
            |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
            |  FROM t
            |), x AS (
            |  SELECT doc_id, tok_start // $seqLen AS seq_first, u.seq_id
            |  FROM c, UNNEST(range(tok_start // $seqLen,
            |                       (tok_start + n_tok - 1) // $seqLen + 1)) AS u(seq_id)
            |), tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM t)
            |SELECT x.seq_id, CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(CASE WHEN seq_first = seq_id THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
            |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
            |       LEAST($seqLen, t2.total - seq_id * $seqLen) AS fill_tokens
            |FROM x, tot t2
            |GROUP BY x.seq_id, t2.total ORDER BY ALL""".stripMargin)
  )

  /** G. Sequence packing in TRAINING order (r7) — [[packSequences]]
    * composed with [[shuffleOrder]]: real trainers pack the shuffled
    * document stream, not doc_id order, so the token stream here is
    * concatenated in (sk = md5(doc_id), doc_id) permutation order and
    * then split into [[seqLen]]-token sequences. Same
    * [[GlobalRank.running]] token sum, bucketed by [[hexPrefix]]
    * (shuffleOrder's buckets), so bucket ranges tile the SHUFFLED order —
    * machinery shared, only the order swapped. The oracle
    * windows over (sk, doc_id) globally; the hash match proves the
    * rank-range bucketing equals the sequential shuffled prefix sum.
    */
  val packShuffled: Q = Q(
    "q_pack_shuffled",
    (s, d) => {
      GlobalRank.running(s, shuffleKeyed(s, d, nTok.as("n_tok")), Seq("bucket"), 0,
          Seq(col("sk"), col("doc_id")), col("n_tok"), "tok_end")._1
        .selectExpr(packCols("doc_id", "sk"): _*)
        .transform(Det.sortAll)
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, $nTokSql AS n_tok,
            |         md5(CAST(doc_id AS VARCHAR)) AS sk
            |  FROM documents WHERE doc_id IS NOT NULL
            |), c AS (
            |  SELECT doc_id, sk, n_tok,
            |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY sk, doc_id
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
            |  FROM t
            |)
            |SELECT doc_id, sk, n_tok, tok_start,
            |       tok_start // $seqLen AS seq_first,
            |       (tok_start + n_tok - 1) // $seqLen AS seq_last,
            |       tok_start % $seqLen AS seq_off,
            |       (tok_start + n_tok - 1) // $seqLen - tok_start // $seqLen + 1 AS n_seqs
            |FROM c ORDER BY ALL""".stripMargin)
  )

  /** G. Temperature-based mixture reweighting (the multinomial
    * language/source sampling of XLM-R / mC4, α = 0.5): per-language
    * document share p_i is flattened to p_i^α and renormalized, so
    * low-resource languages are up-sampled and the head is down-sampled;
    * `resample_factor` = weight/share is the per-language multiplier a
    * sampler (e.g. q_sample_stratified's deterministic hash buckets)
    * applies. α = 0.5 keeps every emitted double on the
    * exactly-reproducible path: sqrt IS correctly rounded in IEEE 754
    * (a general pow(x, α) is not, and could differ cross-engine in the
    * last ulp), counts are exact longs, and the normalizing sum folds
    * the per-language terms LEFT-TO-RIGHT in sorted-language order via
    * an explicit array fold on both engines — no engine-chosen
    * aggregation order on doubles, so even the weight column
    * hash-matches. The fold order pins nulls explicitly: Spark's
    * array_sort on struct(lang, n_docs) places a null lang FIRST while
    * DuckDB's ORDER BY defaults to NULLS LAST, so the oracle says
    * NULLS FIRST — a null-lang group's sqrt term lands at the same end
    * of the sum on both engines (ADVICE r6; latent until a corpus
    * carries null lang).
    *
    * Scale shape: one map-side-combined groupBy to a language-sized
    * frame (tens of rows), then driver-free tiny ops — the corpus is
    * touched once, narrowly.
    */
  val mixWeights: Q = Q(
    "q_mix_weights",
    (s, d) => {
      val counts = T.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).cast("long").as("n_docs"))
      val tot = counts.agg(
        sum("n_docs").cast("long").as("n_total"),
        expr("aggregate(transform(array_sort(collect_list(struct(lang, n_docs))), " +
          "x -> sqrt(cast(x.n_docs as double))), cast(0.0 as double), (s, x) -> s + x)")
          .as("denom"))
      // the NLJ here broadcasts exactly ONE aggregated row against the
      // language-sized counts frame (PlanGuard-allowlisted on that
      // construction bound; a constant-key equi join just gets folded
      // back to this same plan)
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_total"),
          (col("n_docs").cast("double") / col("n_total").cast("double")).as("share"),
          (sqrt(col("n_docs").cast("double")) / col("denom")).as("weight"))
        .withColumn("resample_factor", col("weight") / col("share"))
        .transform(Det.sortAll)
    },
    Some("""WITH c AS (
            |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
            |), t AS (
            |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
            |         list_reduce(list_transform(list(n_docs ORDER BY lang NULLS FIRST),
            |           x -> sqrt(CAST(x AS DOUBLE))), (s, x) -> s + x) AS denom
            |  FROM c
            |)
            |SELECT c.lang, c.n_docs, t.n_total,
            |       CAST(c.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share,
            |       sqrt(CAST(c.n_docs AS DOUBLE)) / t.denom AS weight,
            |       (sqrt(CAST(c.n_docs AS DOUBLE)) / t.denom) /
            |         (CAST(c.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)) AS resample_factor
            |FROM c, t ORDER BY ALL""".stripMargin)
  )

  /** G. Deterministic global shuffle order — the training-order
    * randomization step: every document gets its rank in a pseudorandom
    * permutation of the corpus (the order a sequential trainer would
    * read it in). The permutation key is md5(doc_id) — the same
    * cross-engine-exact device q_sample_stratified uses; a real pipeline
    * salts the key with the epoch number to get a fresh permutation per
    * epoch, same machinery. Reproducible end to end: re-running yields
    * the identical order (no rand(), no partition-dependent state).
    *
    * The global rank is [[GlobalRank.running]] with weight 1 over the
    * [[hexPrefix]] buckets. The oracle ranks with one global ROW_NUMBER,
    * so the hash match proves the bucketed decomposition equals the
    * sequential permutation rank.
    */
  val shuffleOrder: Q = Q(
    "q_shuffle_order",
    (s, d) => {
      GlobalRank.running(s, shuffleKeyed(s, d), Seq("bucket"), 0,
          Seq(col("sk"), col("doc_id")), lit(1L), "train_rank")._1
        .select("doc_id", "sk", "train_rank")
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sk
            |  FROM documents WHERE doc_id IS NOT NULL
            |)
            |SELECT doc_id, sk,
            |       CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS BIGINT) AS train_rank
            |FROM t ORDER BY ALL""".stripMargin)
  )

  /** G. Epoch sampling (r7) — [[mixWeights]] APPLIED, composed with the
    * epoch-salted [[shuffleOrder]]: for each of two epochs, every document
    * is replicated/downsampled by its language's `resample_factor` and the
    * surviving copies are ranked in that epoch's pseudorandom training
    * order. This turns the two r6 bookkeeping ops into the operator a
    * pipeline actually runs: the materialized epoch sample.
    *
    * Sampling is the deterministic hash-bucket device (q_sample_stratified
    * — no rand(), cross-engine exact): copies = ⌊f⌋ + 1 more iff the doc's
    * 24-bit epoch-salted hash bucket falls under frac(f)·2^24. frac(f)
    * comes from the SAME exactly-reproducible weight formula as
    * q_mix_weights (α=0.5 ⇒ sqrt; left-to-right fold; the factor
    * comparison multiplies by 2^24 — a power of two, exact in IEEE — so
    * the keep decision is bit-deterministic on both engines). Each copy
    * gets its own shuffle key md5(doc:epoch:copy) and a per-epoch rank via
    * [[GlobalRank.running]] as in [[shuffleOrder]], bucketed (epoch,
    * [[hexPrefix]]) with the scan restarting per epoch (offsets = ≤2·256
    * rows of partition metadata).
    * The corpus is touched once, narrowly; the explode is bounded by
    * Σ⌈f⌉ ≈ |langs|-normalized corpus size.
    */
  val epochSample: Q = Q(
    "q_epoch_sample",
    (s, d) => {
      val counts = T.documents(s, d)
        .where(col("lang").isNotNull)
        .groupBy("lang").agg(count(lit(1)).cast("long").as("n_docs"))
      val tot = counts.agg(
        sum("n_docs").cast("long").as("n_total"),
        expr("aggregate(transform(array_sort(collect_list(struct(lang, n_docs))), " +
          "x -> sqrt(cast(x.n_docs as double))), cast(0.0 as double), (s, x) -> s + x)")
          .as("denom"))
      val factors = counts.crossJoin(broadcast(tot))
        .select(col("lang"),
          ((sqrt(col("n_docs").cast("double")) / col("denom")) /
            (col("n_docs").cast("double") / col("n_total").cast("double")))
            .as("factor"))
      val epochs = s.createDataFrame(Seq(Tuple1(0L), Tuple1(1L))).toDF("epoch")
      val keyed = CacheBag.track(T.documents(s, d)
        .where(col("doc_id").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), col("lang"))
        .join(broadcast(factors), "lang")
        .crossJoin(broadcast(epochs))
        // 24-bit epoch-salted hash bucket decides the fractional copy
        .withColumn("u", conv(substring(
          md5(concat_ws(":", col("doc_id"), col("epoch"))), 1, 6), 16, 10)
          .cast("long"))
        .withColumn("n_copies",
          floor(col("factor")).cast("long") +
            when(col("u").cast("double") <
              (col("factor") - floor(col("factor"))) * lit(16777216.0), 1L)
              .otherwise(0L))
        .select(col("epoch"), col("doc_id"), col("lang"),
          explode(when(col("n_copies") > 0,
            expr("sequence(0L, n_copies - 1)"))
            .otherwise(expr("cast(array() as array<bigint>)"))).as("copy"))
        .withColumn("sk",
          md5(concat_ws(":", col("doc_id"), col("epoch"), col("copy"))))
        .withColumn("bucket", hexPrefix(col("sk"))))
      GlobalRank.running(s, keyed, Seq("epoch", "bucket"), 1,
          Seq(col("sk"), col("doc_id"), col("copy")), lit(1L), "train_rank")._1
        .select("epoch", "doc_id", "lang", "copy", "sk", "train_rank")
        .transform(Det.sortAll)
    },
    Some("""WITH c AS (
            |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
            |  WHERE lang IS NOT NULL GROUP BY 1
            |), t AS (
            |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
            |         list_reduce(list_transform(list(n_docs ORDER BY lang NULLS FIRST),
            |           x -> sqrt(CAST(x AS DOUBLE))), (s, x) -> s + x) AS denom
            |  FROM c
            |), f AS (
            |  SELECT c.lang,
            |         (sqrt(CAST(c.n_docs AS DOUBLE)) / t.denom) /
            |           (CAST(c.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)) AS factor
            |  FROM c, t
            |), base AS (
            |  SELECT d.doc_id, d.lang, f.factor, e.epoch,
            |         CAST(concat('0x', substr(md5(d.doc_id || ':' || e.epoch), 1, 6)) AS BIGINT) AS u
            |  FROM documents d JOIN f USING (lang),
            |       (SELECT UNNEST(range(2)) AS epoch) e
            |  WHERE d.doc_id IS NOT NULL
            |), n AS (
            |  SELECT doc_id, lang, epoch,
            |         CAST(floor(factor) AS BIGINT) +
            |           (CASE WHEN CAST(u AS DOUBLE) < (factor - floor(factor)) * 16777216.0
            |                 THEN 1 ELSE 0 END) AS n_copies
            |  FROM base
            |), x AS (
            |  SELECT doc_id, lang, epoch, CAST(u.copy AS BIGINT) AS copy,
            |         md5(doc_id || ':' || epoch || ':' || u.copy) AS sk
            |  FROM n, UNNEST(range(n.n_copies)) AS u(copy)
            |)
            |SELECT epoch, doc_id, lang, copy, sk,
            |       CAST(ROW_NUMBER() OVER (PARTITION BY epoch
            |         ORDER BY sk, doc_id, copy) AS BIGINT) AS train_rank
            |FROM x ORDER BY ALL""".stripMargin)
  )

  /** G. Per-group deterministic sample (r8) — eval-split carving: for
    * every language, the 200 documents with the smallest md5(doc_id)
    * permutation key, ranked. The held-out-set builder a pipeline runs
    * before training ("200 docs per language for the eval suite") —
    * reproducible across runs and engines (the q_sample_stratified hash
    * device, no rand()), and disjointness/coverage follow from the rank.
    *
    * The straggler trap this avoids: ROW_NUMBER over PARTITION BY lang
    * directly is one task per language — a ~5-value key puts corpus/5
    * rows on each of 5 unsplittable tasks at 100 TB (the q_ccnet_bucket
    * analysis). Device: [[GlobalRank.running]] keyed (lang, [[hexPrefix]])
    * with the scan restarting per lang, PLUS its `limit` pre-prune — a
    * bucket whose exclusive offset is already ≥ n cannot contain a
    * kept rank, so the offsets join (broadcast, inner) drops ~254/256 of
    * the corpus BEFORE the rank window ever shuffles; the window sees
    * ~(n + bucket) rows per language, not corpus/langs. Null lang
    * normalizes to '' so those docs keep a group (q_ccnet_bucket's
    * convention) and the driver scan never handles SQL nulls.
    */
  val groupedSample: Q = Q(
    "q_grouped_sample",
    (s, d) => {
      val n = 200L
      GlobalRank.running(s, shuffleKeyed(s, d, coalesce(col("lang"), lit("")).as("lang")),
          Seq("lang", "bucket"), 1, Seq(col("sk"), col("doc_id")), lit(1L),
          "sample_rank", Some(n))._1
        .where(col("sample_rank") <= n)
        .select("doc_id", "lang", "sk", "sample_rank")
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT doc_id, COALESCE(lang, '') AS lang,
            |         md5(CAST(doc_id AS VARCHAR)) AS sk
            |  FROM documents WHERE doc_id IS NOT NULL
            |), r AS (
            |  SELECT doc_id, lang, sk,
            |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
            |           ORDER BY sk, doc_id) AS BIGINT) AS sample_rank
            |  FROM t
            |)
            |SELECT doc_id, lang, sk, sample_rank
            |FROM r WHERE sample_rank <= 200 ORDER BY ALL""".stripMargin)
  )

  val all: Seq[Q] = Seq(packSequences, packManifest, mixWeights, shuffleOrder,
    packShuffled, epochSample, groupedSample)
}
