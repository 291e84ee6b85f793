package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheBag, Det, Q, T}

/** Unigram-LM subword tokenization (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model), the second name-brand tokenizer next
  * to [[Bpe]]: where BPE GROWS a vocabulary by greedy pair merging,
  * the unigram model SHRINKS a seeded candidate vocabulary by
  * EM-estimating piece probabilities and pruning the least useful
  * pieces, and tokenization is the Viterbi-optimal segmentation under
  * the learned piece log-probabilities. Real stacks ship both (GPT-2/
  * LLaMA are BPE; T5/ALBERT/mT5 are unigram) — a pipeline engine
  * claiming the tokenizer-training step needs the pair.
  *
  * Scale shape (identical to [[Bpe]]'s, the part that matters at
  * 100 TB): the corpus is touched ONCE into the persisted word-
  * frequency vocabulary ([[AnnIndex.bpeVocab]] — Heaps' law: corpus
  * growth adds occurrences, not words; the artifact is shared with the
  * BPE family, so the two trainers price one corpus pass between
  * them). Seeding, every EM round, and the encode all run on that
  * vocabulary-sized table; the model (piece table) is driver state in
  * the Lloyd-centroid size class and folds into the encode as a
  * plan-constant map literal — no join, no explode, no UDF on the
  * corpus path.
  *
  * Exactness discipline (the q_anomaly/q_dsir_select posture, applied
  * to EM): every cross-row reduction — seed substring counts, per-round
  * piece-usage counts — is an exact-long sum of exact longs, so
  * training is invariant under ANY partitioning or AQE re-plan. The
  * only IEEE work is the per-PIECE log-probability (two StrictMath.log
  * of exact-int counts under +1 Laplace smoothing, HALF_UP-rounded to
  * integer MICRO-log-prob units — vocabulary-sized, not per-row), and
  * the Viterbi DP itself then runs entirely in integer micro units:
  * argmax comparisons are exact, ties break to the LONGEST last piece
  * (the smallest split point — scanned first, kept on equal score), so
  * the segmentation is bit-reproducible cross-JVM and cross-plan.
  * Training is iterative EM (not expressible in the oracle dialect):
  * rows-only, pinned BIT-EXACT against an independent driver-local
  * reference implementation in OperatorsSpec — the [[Bpe]] discipline.
  *
  * Out of scope, documented: the full Kudo recipe seeds from a
  * suffix-array top-1M substring table and EM-estimates SOFT counts by
  * forward-backward; this trainer seeds all ≤6-char substrings of the
  * (bounded) word vocabulary and hard-EM's with Viterbi counts — the
  * standard "Viterbi EM" simplification, same fixed point family,
  * chosen because hard counts stay exact longs under the determinism
  * rule above (soft counts are IEEE posteriors whose cross-row sums
  * would be partition-order-dependent).
  */
object Unigram {

  final case class Piece(piece: String, cnt: Long, lpMicro: Long)

  /** Max candidate piece length (chars). */
  private val maxLen = 6
  /** Multi-char candidates kept at seed time. */
  private val seedMulti = 48
  /** Multi-char survivors per EM round — Kudo's shrink schedule. */
  private val keepSchedule = Seq(32, 24, 16)
  /** Log-prob floor for a single character absent from the piece table
    * (the byte-fallback analog: ln p = −25). Training corpora never hit
    * it — every corpus character is seeded and kept — but encode stays
    * total on unseen input.
    */
  private val unkMicro = -25000000L
  /** Sentinel for an inadmissible split (multi-char piece not in the
    * vocabulary): far below any reachable path score, far above Long
    * overflow when added to one.
    */
  private val negMicro = -(1L << 50)

  /** HALF_UP micro-log-prob of a piece count under +1 Laplace smoothing
    * over the kept vocabulary: round(1e6 · (ln(cnt+1) − ln(total+|V|))).
    * Exact-int inputs, one StrictMath.log each — deterministic.
    */
  private def lpMicroOf(cnt: Long, total: Long, v: Int): Long =
    BigDecimal(1e6 * (StrictMath.log((cnt + 1).toDouble) -
        StrictMath.log((total + v).toDouble)))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Viterbi-optimal segmentation of a word column under a plan-constant
    * piece→micro-log-prob map: best(i) = max over split points j of
    * best(j) + lp(w[j..i)), candidates bounded to the last [[maxLen]]
    * characters; ties keep the SMALLEST j (longest last piece — scanned
    * first, replaced only on strictly greater score). Zero joins, zero
    * shuffles. r17 (guide §4, verdict r16 next-round #4): evaluation
    * moved from the nested `aggregate` HOF encoding — interpreted lambda
    * evaluation per character per split point, never codegen'd — to the
    * compiled [[graft.expressions.UnigramSegment]] kernel; the HOF form
    * stays below as [[segmentRef]], the executable spec OperatorsSpec
    * pins the kernel against bit-for-bit.
    */
  private[graft] def segment(w: Column, lp: Map[String, Long]): Column =
    graft.expressions.TokenizerExpressions.unigramSegment(w, lp)

  /** The original HOF formulation of [[segment]] — kept as the
    * executable reference the kernel-parity spec compares against.
    */
  private[graft] def segmentRef(w: Column, lp: Map[String, Long]): Column = {
    val m = typedLit(lp)
    val n = length(w)
    val fwd = aggregate(
      sequence(lit(1), n),
      struct(array(lit(0L)).as("best"), array().cast("array<int>").as("bp")),
      (acc, i) => {
        val cand = aggregate(
          sequence(greatest(i - maxLen, lit(0)), i - 1),
          struct(lit(negMicro * 2).as("sc"), lit(-1).as("j")),
          (a, j) => {
            val piece = w.substr(j + 1, i - j)
            val hit = element_at(m, piece)
            val sc = element_at(acc.getField("best"), j + 1) +
              when(hit.isNotNull, hit)
                .when(i - j === 1, lit(unkMicro))
                .otherwise(lit(negMicro))
            when(sc > a.getField("sc"), struct(sc.as("sc"), j.as("j")))
              .otherwise(a)
          })
        struct(
          concat(acc.getField("best"), array(cand.getField("sc"))).as("best"),
          concat(acc.getField("bp"), array(cand.getField("j"))).as("bp"))
      })
    // backpointer walk: at most n hops from position n back to 0,
    // prepending the piece (bp(pos), pos] at each hop
    aggregate(
      sequence(lit(1), n),
      struct(n.as("pos"), array().cast("array<string>").as("pieces"),
        fwd.getField("bp").as("bp")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(acc.getField("bp"), pos)
        when(pos > 0,
          struct(j.as("pos"),
            concat(array(w.substr(j + 1, pos - j)),
              acc.getField("pieces")).as("pieces"),
            acc.getField("bp").as("bp")))
          .otherwise(acc)
      },
      acc => acc.getField("pieces"))
  }

  /** The Viterbi path SCORE in micro-log-prob units (the word's NLL
    * under the piece model, negated) — same DP as [[segment]], score
    * only. Exact long; per-doc sums of it are partition-order-free.
    * r17: compiled kernel ([[graft.expressions.UnigramScore]]), HOF spec
    * kept as [[segScoreRef]].
    */
  private[graft] def segScore(w: Column, lp: Map[String, Long]): Column =
    graft.expressions.TokenizerExpressions.unigramScore(w, lp)

  /** The original HOF formulation of [[segScore]] — the executable
    * reference for the kernel-parity spec.
    */
  private[graft] def segScoreRef(w: Column, lp: Map[String, Long]): Column = {
    val m = typedLit(lp)
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (best, i) =>
        concat(best, array(aggregate(
          sequence(greatest(i - maxLen, lit(0)), i - 1),
          lit(negMicro * 2),
          (a, j) => {
            val hit = element_at(m, w.substr(j + 1, i - j))
            val sc = element_at(best, j + 1) +
              when(hit.isNotNull, hit)
                .when(i - j === 1, lit(unkMicro))
                .otherwise(lit(negMicro))
            when(sc > a, sc).otherwise(a)
          }))),
      best => element_at(best, -1))
  }

  /** Count of real EM trainings (memo misses) — Bench folds this into
    * its cold/warm fit attribution like the AnnIndex/Bpe counters.
    */
  private[graft] val unigramTrains = SessionMemo.counter("unigram")

  /** The piece table, a per-JVM [[SessionMemo]] entry per corpus
    * validated by its fingerprint (the [[Bpe.trainMerges]] discipline).
    */
  private[graft] def trainPieces(s: SparkSession, d: String): Seq[Piece] =
    SessionMemo.jvm(s, s"$d/documents.parquet", "unigram") {
      trainFromFreq(AnnIndex.bpeVocab(s, d)._1)
    }

  /** The EM loop over a (w, freq) vocabulary table: seed, then
    * [[keepSchedule]].length Viterbi-EM rounds, each = ONE
    * vocabulary-sized Spark aggregate (segment every distinct word
    * under the current model, freq-weighted piece-usage counts) + a
    * driver-side prune/re-estimate over the ≤seed-sized piece table.
    */
  private[graft] def trainFromFreq(freq: DataFrame): Seq[Piece] = {
    val vocab0 = CacheBag.track(freq.select(col("w"), col("freq")))

    // Seed: every substring of length 1..maxLen of every distinct word,
    // occurrence-counted with the word's corpus frequency (exact longs).
    // All single characters are kept unconditionally (coverage — the
    // model must be able to segment every training word); multi-char
    // candidates keep the top seedMulti by (count desc, piece asc).
    val subs = vocab0
      .select(col("freq"), explode(flatten(transform(
        sequence(lit(0), length(col("w")) - 1),
        i => transform(
          sequence(lit(1), least(lit(maxLen), length(col("w")) - i)),
          l => col("w").substr(i + 1, l))))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val seeded = CacheBag.track(subs)
    val charRows = seeded.where(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val multiRows = seeded.where(length(col("piece")) > 1)
      .orderBy(desc("cnt"), asc("piece")).limit(seedMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1))

    def withLp(rows: Seq[(String, Long)]): Seq[Piece] = {
      val total = rows.iterator.map(_._2).sum
      rows.map { case (p, c) => Piece(p, c, lpMicroOf(c, total, rows.length)) }
    }

    var model = withLp((charRows ++ multiRows).toSeq)
    for (k <- keepSchedule) {
      // E-step (hard): Viterbi-segment every distinct word, count piece
      // usage weighted by word frequency — one map-side-combined groupBy
      // over the vocabulary-sized explode, exact longs.
      val lp = model.map(p => p.piece -> p.lpMicro).toMap
      val used = vocab0
        .select(col("freq"), explode(segment(col("w"), lp)).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // M-step + prune: chars survive unconditionally (coverage, count
      // 0 allowed — Laplace keeps their lp finite); multi-char pieces
      // must be USED and rank in the top k by (count desc, piece asc).
      val chars = charRows.map { case (c, _) => c -> used.getOrElse(c, 0L) }
      val multi = model.iterator.filter(_.piece.length > 1)
        .map(p => p.piece -> used.getOrElse(p.piece, 0L))
        .filter(_._2 > 0L).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(k)
      model = withLp((chars ++ multi).toSeq)
    }
    model
  }

  /** G. Unigram-LM vocabulary training: the final piece table — piece,
    * length, Viterbi-EM usage count, micro-log-prob.
    */
  val train: Q = Q(
    "q_unigram_train",
    (s, d) => {
      val pieces = trainPieces(s, d)
      import s.implicits._
      pieces.toDF()
        .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
          col("cnt").as("em_count"), col("lpMicro").as("lp_micro"))
        .transform(Det.sortAll)
    },
    None)

  /** G. Unigram-LM apply: per-document Viterbi token count under the
    * trained piece table next to the whitespace word count, the head of
    * the actual encoding (token identity, not just counts), and the
    * document's total Viterbi score in exact micro-log-prob units — the
    * unigram-LM NLL, the SUBWORD-level quality signal next to
    * q_lm_score's word-bigram one (low score = off-vocabulary gibberish,
    * exactly what a fertility-spike alarm fires on).
    *
    * Scale shape = q_bpe_encode's: the DP folds once per DISTINCT word
    * (the persisted vocabulary's own rows — Zipf collapses the
    * occurrence multiplier) and, since r11, the occurrence join and the
    * per-text totals fold once per DISTINCT TEXT over the persisted WC
    * word-count rows ([[Bpe.wcSigs]]) — duplicated documents price one
    * narrow member-join row each, never a re-tokenize (the q_bpe_encode
    * device; Σ cnt·n_toks and −Σ cnt·sc are the same exact longs the
    * per-occurrence sums produced).
    */
  val encode: Q = Q(
    "q_unigram_encode",
    (s, d) => {
      val pieces = trainPieces(s, d)
      val lp = pieces.map(p => p.piece -> p.lpMicro).toMap
      val wtok = AnnIndex.bpeVocab(s, d)._1
        .select(col("w"),
          size(segment(col("w"), lp)).cast("long").as("n_toks"),
          segScore(col("w"), lp).as("sc"))
      val (wc, heads) = Bpe.wcSigs(s, d)
      val perTh = wc.join(wtok, "w")
        .groupBy("th").agg(
          sum(col("cnt") * col("n_toks")).as("n_unigram_tokens"),
          (-sum(col("cnt") * col("sc"))).as("nll_micro"),
          sum("cnt").cast("long").as("n_words"))
      val headToks = flatten(transform(col("head"), w => segment(w, lp)))
      val headTh = heads.select(col("th"),
        concat_ws(" ", slice(headToks, lit(1), lit(5))).as("first_pieces"))
      Bpe.thMembers(s, d)
        // LEFT join (r12): null-text docs (th NULL) keep their zero-token
        // row instead of vanishing at the equi join — see q_bpe_encode
        .join(headTh, Seq("th"), "left")
        .join(perTh, Seq("th"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"),
          coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
          coalesce(col("first_pieces"), lit("")).as("first_pieces"))
        .transform(Det.sortAll)
    },
    None)

  val all: Seq[Q] = Seq(train, encode)
}
