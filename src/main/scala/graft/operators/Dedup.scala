package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Q, T}

/** Deduplication family for a training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Everything is expressed as
  * shuffle-bounded joins over derived keys — never an O(n²) cross join —
  * so the same plans run over a 100 TB corpus:
  *
  *  - exact:     one shuffle on content hash.
  *  - ngram:     inverted-index self-join on shared shingles (candidates
  *               only where at least one shingle collides).
  *  - minhash:   banded signatures; candidate pairs only inside a band
  *               bucket — the standard LSH bound on pair generation.
  *  - simhash:   8-bit chunk blocking, hamming distance via bit_count.
  *
  * All three near-dup operators run behind [[collapseExact]], so a
  * k×-duplicated page costs k× (not k²) everywhere except the mandated
  * pair output.
  */
object Dedup {

  private def words(c: Column): Column = split(c, " +")

  /** Broadcast budget for the pair side of a member expansion, in ROWS.
    * 500k rows of (two 32-char md5 strings + a few long payloads) is
    * ~60-80 MB as an UnsafeRow broadcast relation — safely inside the
    * default driver/executor memory; the r12 2M-row cap admitted
    * relations in the several-hundred-MB class, which bounds rows but
    * not bytes (ADVICE r12). Past it the expansion joins sort-merge.
    */
  private[graft] val broadcastPairCap = 500000L

  /** Guarded broadcast for DISTINCT-CONTENT-sized serve frames (reps/cnt
    * id mappings, exact row bound from the artifact meta): duplication
    * does not grow them, so on any duplication-heavy corpus they stay
    * broadcastable long after the member side does not — but at true
    * web scale distinct content itself is huge, so past the cap the
    * planner keeps its exchange-based strategies. Without the hint the
    * post-join stats estimates inflate and Catalyst SMJ-exchanges these
    * 5k-row frames on every serve (3 exchanges, ~20 task-sec/pass at
    * sf0.1 measured on q_dedup_contain).
    */
  private[operators] def bcIf(df: DataFrame, bound: Long): DataFrame =
    if (bound <= broadcastPairCap) broadcast(df) else df

  /** The ONE definition of "exact duplicate after normalization":
    * whitespace-collapsed lowercase text. Shared by q_dedup_exact and
    * q_dedup_clusters' exact-edge derivation so the two can't silently
    * disagree on what an exact dup is (their oracle SQL mirrors the same
    * expression; the hash gate catches any drift there).
    */
  private[operators] val normText: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** Exact-duplicate pre-collapse shared by the near-dup family: group
    * docs by exact text and run the expensive candidate machinery once per
    * DISTINCT text, expanding pairs back to member docs afterwards. On a
    * boilerplate-heavy corpus (the web-scale norm, where one page appears
    * k times) this takes candidate generation from quadratic in k to
    * k-free — and it fixes a recall hole: the bucket caps would otherwise
    * drop a >cap-sized exact-dup group entirely, losing its true dup
    * pairs. md5 (128-bit) for the equality key: a collision would silently
    * merge two different docs, unlike the 64-bit candidate hashes where a
    * collision only perturbs one count.
    *
    * Returns (members: rep ↔ doc_id, reps: (doc_id, th, gsz) — one row
    * per distinct text, doc_id = the group's min member). reps carries NO
    * text column (r9): every consumer reads signatures from the persisted
    * th-keyed table ([[AnnIndex.textSigs]]), so the pre-r8 text-fetch join
    * was a dead corpus scan per lineage reference — reps is now the group
    * table itself renamed, and the only corpus cost in this function's
    * lineage is the one narrow (doc_id, md5(text)) scan.
    */
  private[operators] def collapseExact(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // r12: the (doc_id, th) hash scan and its group structure are the
    // session-lifetime [[Members]] memo — every near-dup query used to
    // re-hash the full corpus per run (the r11 bench's largest remaining
    // avoidable cost, ~118 s of the 615 s 100× run across the
    // signature-serving family); now the one persisted derivation is
    // shared and fingerprint-validated. The groupBy + equi-join-back
    // keeper device (never min/count over a content-key window) lives in
    // Members.thGroups.
    val (members, reps) = Members.thGroups(s, d)
    (members.select(col("rep"), col("doc_id")), reps)
  }

  /** Expand representative-level pairs to member-doc pairs: every
    * (member of rep_a) × (member of rep_b) pair inherits the payload
    * columns verbatim; doc_a < doc_b orientation is restored with
    * least/greatest (groups are disjoint, so each doc pair appears once).
    */
  private[operators] def expandPairs(repPairs: DataFrame, members: DataFrame,
      payload: Seq[String], bound: Option[Long] = None): DataFrame = {
    // r12: BROADCAST the pair side explicitly (guarded — the incremental-
    // dedup device): pairs are distinct-content-bounded and candidate-
    // capped, members corpus-sized. Left to stats, the cached members
    // frame's exact size can exceed the broadcast threshold and flip both
    // expansion joins to sort-merge — sorting the corpus-sized members
    // TWICE in the one pipeline whose output is quadratic in the
    // duplication factor (measured 2×+ at the 100× smoke). Past the
    // budget the join falls back to SMJ by hint.
    //
    // r13: callers backed by a persisted pair graph pass `bound` — the
    // artifact meta's validated row total, an upper bound on this frame
    // (it derives from the artifact by 1:1 th→id joins and filters) — so
    // the guard prices NO job; the r12 per-serve materialize-and-count
    // roughly doubled the sf0.1 pair-serve family (q_dedup_contain
    // 1.27→2.1-2.6 s). Only boundless callers (live self-joins with no
    // artifact behind them) still pay the count.
    val pp = bound match {
      case Some(b) =>
        if (b <= broadcastPairCap) broadcast(repPairs)
        else repPairs.hint("merge")
      case None =>
        val p = graft.CacheBag.track(repPairs)
        if (p.count() <= broadcastPairCap) broadcast(p) else p.hint("merge")
    }
    pp
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("da")), "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("doc_a") +:
        greatest(col("da"), col("db")).as("doc_b") +: payload.map(col): _*)
  }

  /** The quadratic-output budget, `graft.expand.maxRows` (default 10⁸
    * rows) — read here only, so every guard and the EP refusal memo key
    * agree on it.
    */
  private[operators] def expandMaxRows(s: SparkSession): Long =
    s.conf.get("graft.expand.maxRows", "100000000").toLong

  /** Loud budget guard on the EXPANDED member-pair outputs (r13, verdict
    * r12 #2). The expanded contract is quadratic in the duplication
    * factor BY DESIGN — a 10⁵-duplicate page is ~10¹⁰ member pairs at
    * web scale, unwritable regardless of plan — and the scale-safe
    * `_rep` twins exist precisely for that regime; nothing stopped a
    * consumer from running the expanded op on a duplication-heavy
    * corpus. Before expanding, the exact expansion row count is computed
    * from the group table (Σ n_a·n_b over rep pairs + Σ k(k−1)/2 within
    * groups — the arithmetic q_dedup_simhash_rep's spec already does)
    * and the query REFUSES past `graft.expand.maxRows` (default 2e9),
    * pointing at the rep-level twin. For families whose expansion
    * filters pairs first (simhash hamming≤12, containment ≥0.8) the
    * estimate is over the UNFILTERED artifact pairs — an upper bound,
    * conservative refusal only. The Σ is distinct-content-sized work,
    * memoized per (session, dataset, family) via [[SessionMemo.session]]
    * so serves price NO extra job after the first (cold-attributed in
    * Bench like every memo build).
    *
    * Default budget 10⁸ rows (r14, verdict r13 #4 — the r13 2×10⁹
    * default admitted a ~2B-row pair write, a multi-TB shuffle a user
    * got BY DEFAULT on a pathological corpus, before the guard fired;
    * at 10⁸ the refusal IS the default behavior at web-scale duplication
    * and a deliberate raise is one conf away). GuardsSpec pins the
    * default refusal on a synthetic mega-dup corpus; scale smokes that
    * WANT the quadratic output (the 100× MakeScale corpus duplicates
    * every doc 100×, Σ ≈ 2×10⁸ by construction) raise the knob
    * explicitly, which the bench artifact records as deliberate.
    */
  private[operators] def expansionGuard(s: SparkSession, d: String,
      family: String, repPairs: DataFrame, sizes: DataFrame,
      tables: Seq[String], repTwin: String): Unit = {
    val budget = expandMaxRows(s)
    val est = SessionMemo.session(s, d, s"xg$family", tables) {
      val cross = repPairs
        .join(sizes.select(col("rep").as("rep_a"), col("n").as("na")), "rep_a")
        .join(sizes.select(col("rep").as("rep_b"), col("n").as("nb")), "rep_b")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)))
        .head().getLong(0)
      val within = sizes
        .agg(coalesce(sum(expr("n * (n - 1L) div 2L")), lit(0L)))
        .head().getLong(0)
      cross + within
    }
    if (est > budget)
      throw new graft.QuadraticRefusal(
        s"$family member-pair expansion would emit up to $est rows — past " +
          s"graft.expand.maxRows=$budget. The expanded output is quadratic " +
          "in the duplication factor by contract and unwritable at this " +
          s"duplication level; use the rep-level twin $repTwin (linear in " +
          "distinct content), or raise graft.expand.maxRows deliberately.")
  }

  /** Bucket-size skew guard shared by the whole candidate-join family: keep
    * only rows whose bucket (the join key) holds ≤ cap members. A bucket of
    * k rows generates k² candidate pairs, so one corpus-common key (a
    * stop-phrase shingle, a universal simhash byte, a hot LSH band) turns
    * the self-join quadratic; past `cap` members a bucket carries no
    * discriminating signal anyway.
    *
    * r9: groupBy(keys).count + LEFT SEMI join back — NOT count over
    * Window.partitionBy(keys). The window variant materializes each
    * bucket on ONE task, and the hottest bucket — the very one the cap
    * exists to discard — is exactly the one that becomes an unsplittable
    * straggler at web scale (a stop-phrase shingle shared by 10⁷ distinct
    * pages must be collected onto one task just to be thrown away). The
    * groupBy is map-side combined to one row per bucket, the ≤cap filter
    * shrinks the right side to the keep-list, and the semi join back is
    * AQE-skew-splittable on the hot keys. Same device as [[collapseExact]];
    * the semi join's Exchange on `keys` is reused by the candidate
    * self-join on the same keys, so no shuffle is added vs the window.
    *
    * The priced trade: the keep-list branch re-derives `df`'s lineage (a
    * narrow encode scan — there is no one-pass formulation of "filter
    * each row by its key's total count" that doesn't co-locate whole
    * buckets), measured ~15% on the sf0.1 ngram serve (3.0 → 3.5 s
    * isolated). That second pass is linear and parallel at any scale;
    * the window's hot-bucket straggler is unbounded — at 100 TB one
    * stop-phrase bucket is a task that never finishes.
    */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val kept = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= cap)
      .select(keys.map(col): _*)
    df.join(kept, keys, "left_semi")
  }

  /** G. Exact dedup: hash-groupBy on normalized content; every doc keeps
    * its group size, keeper id (min doc_id), and dup flag.
    *
    * Group size / keeper come from groupBy(content_hash) + equi-join back
    * — NOT a window over the content hash: a window partition is one
    * unsplittable task, and a mass-duplicate key (every empty/whitespace
    * doc normalizes to ONE hash; a viral page repeats byte-identically
    * 10⁷+ times at web scale) would funnel that whole group through it.
    * The groupBy is map-side combined and the join back AQE-skew-splits.
    */
  val exact: Q = Q(
    "q_dedup_exact",
    (s, d) => {
      val hashed = Members.th(s, d)
        .select(col("doc_id"), col("nth").as("content_hash"))
      val groups = hashed.groupBy("content_hash")
        .agg(count(lit(1)).as("group_size"), min("doc_id").as("keeper_id"))
      hashed.join(groups, "content_hash")
        .select(col("doc_id"), col("content_hash"), col("group_size"),
          col("keeper_id"), (col("doc_id") =!= col("keeper_id")).as("is_dup"))
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
            |  FROM documents
            |)
            |SELECT doc_id, content_hash,
            |       COUNT(*) OVER (PARTITION BY content_hash) AS group_size,
            |       MIN(doc_id) OVER (PARTITION BY content_hash) AS keeper_id,
            |       doc_id <> MIN(doc_id) OVER (PARTITION BY content_hash) AS is_dup
            |FROM t ORDER BY ALL""".stripMargin)
  )

  /** G. n-gram Jaccard near-dup pairs via shared-shingle inverted-index
    * join. |∩| from the join, |∪| = nA + nB − |∩|; the Jaccard ratio is
    * IEEE division of exact counts.
    *
    * Similarity is defined over the document-frequency-capped shingle
    * vocabulary: shingles appearing in > 128 documents are stop-phrases —
    * they contribute k² candidate pairs for k sharers while carrying no
    * near-dup signal, and at web-corpus scale they dominate the join. Both
    * |∩| and |∪| count capped shingles only, and the DuckDB oracle applies
    * the identical cap, so the hash gate still decides.
    *
    * Exact duplicates are collapsed BEFORE the join: identical texts have
    * identical shingle sets, so near-dup work runs once per distinct text
    * and pairs expand back to member docs afterwards (cross-group pairs
    * inherit their groups' |∩|/|∪| verbatim; within-group pairs are
    * |∩| = |∪| = nsh, jaccard 1). On a boilerplate-heavy corpus — the
    * web-scale norm, where a page is duplicated k times — this takes the
    * inverted-index join from k² in the duplication factor to k-free;
    * only the final pair expansion (the required output) scales with k².
    * The shingle df cap counts member DOCS (sum of group sizes), so the
    * collapse leaves the >128 stop-phrase semantics untouched and the
    * output stays byte-identical to the direct all-docs plan.
    */
  val ngramJaccard: Q = Q(
    "q_dedup_ngram",
    (s, d) => ngramPairs(s, d).transform(Det.sortAll),
    Some(ngramOracleSql))

  /** Unsorted n-gram Jaccard pairs — shared by q_dedup_ngram (which adds
    * the contract sort) and q_dedup_clusters (which feeds the pairs into
    * a join, where a pre-sort is pure waste at the 30×-smoke pair
    * volumes).
    */
  /** Shingle-hash encode over DISTINCT texts: (th, text) → (th, hs) rows,
    * one per distinct 3-shingle. The LEX-postings-sized artifact behind
    * the n-gram inverted-index family — persisted by
    * [[AnnIndex.textSigs]] so the shingle explode (the corpus-pass cost
    * shared by q_dedup_ngram, q_dedup_clusters and q_split_assign) runs
    * once per distinct content, not once per session per consumer.
    * Texts under 3 words have no 3-shingle — filtered BEFORE sequence()
    * so it never runs with start > stop (which counts descending and
    * indexes the array at -1 under ANSI mode); the DuckDB oracles'
    * range(1, len-1) is empty for them, so both engines agree.
    */
  private[graft] def ngEncode(texts: DataFrame): DataFrame =
    texts
      .select(col("th"), words(col("text")).as("w"))
      .where(size(col("w")) >= 3)
      .select(col("th"), explode(expr(
        "array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"))
        .as("s"))
      .select(col("th"), xxhash64(col("s")).as("hs"))

  /** Representative-level near-dup pairs (one row per (distinct raw
    * text, distinct raw text) candidate surviving df-cap + inter≥3), the
    * pre-expansion core of [[ngramPairs]] — also the edge generator for
    * cluster labels, which never needs the member-doc expansion.
    */
  private[operators] def ngramRepPairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Long, Long) = {
      val (members, reps) = collapseExact(s, d)
      // r10: the whole candidate machinery — the df-capped inverted-index
      // SELF-JOIN over shingle hashes, the family's dominant per-session
      // cost — serves from the persisted th-keyed pair graph
      // ([[AnnIndex.ngPairs]], family NP; exactness argument and
      // df-cap-crossing refit there). A run re-derives only the narrow
      // doc↔th mapping; the hash gate proves the served path
      // byte-identical to the direct plan it replaced (kept verbatim in
      // the DuckDB oracle). Shingles stay 8-byte xxhash64 inside the
      // artifact: the inverted-index join and intersection counts are
      // identical (64-bit collisions are ~1e-10 at this corpus size and
      // the oracle would catch one).
      val (pairsTh, cntTh, pairBound, cntBound) = AnnIndex.ngPairs(s, d)
      val idx = reps.select(col("th"), col("doc_id"))
      // idx is DISTINCT-TEXT-sized, so its broadcast guard rides the
      // exact distinct-text count — NOT np_cnt's row count (nC), which
      // omits texts whose shingles are all df-capped or too short and so
      // UNDERCOUNTS idx on a stop-phrase-heavy corpus, force-broadcasting
      // a frame larger than the byte-reasoned cap intends (ADVICE r13).
      // nC stays the bound for the genuinely np_cnt-sized cnt frame.
      val idxBound = Members.thDistinct(s, d)
      val cnt = cntTh.join(bcIf(idx, idxBound), "th")
        .select(col("doc_id"), col("nsh"))
      val repPairs = pairsTh
        .join(bcIf(idx.select(col("th").as("th_a"), col("doc_id").as("da")),
          idxBound), "th_a")
        .join(bcIf(idx.select(col("th").as("th_b"), col("doc_id").as("db")),
          idxBound), "th_b")
        .select(least(col("da"), col("db")).as("rep_a"),
          greatest(col("da"), col("db")).as("rep_b"),
          col("inter"), col("uni"))
      (repPairs, members, cnt, reps, pairBound, cntBound)
  }

  private def ngramPairs(s: SparkSession, d: String): DataFrame = {
      val (repPairs, members, cnt, reps, bound, cntBound) = ngramRepPairs(s, d)
      expansionGuard(s, d, "NP2", repPairs,
        reps.select(col("doc_id").as("rep"), col("gsz").as("n")),
        Seq("documents.parquet"), "q_dedup_ngram_rep")
      val cross = expandPairs(repPairs, members, Seq("inter", "uni"), Some(bound))
      val within = members.as("x")
        .join(members.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .join(bcIf(cnt.where(col("nsh") >= 3).as("c"), cntBound),
          col("x.rep") === col("c.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("c.nsh").as("inter"), col("c.nsh").as("uni"))
      cross.union(within)
        .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
  }

  // lazy: referenced by ngramJaccard's constructor above its declaration
  // point — a strict val would still be null during object initialization
  private lazy val ngramOracleSql: String =
       """WITH w AS (
            |  SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
            |), sh0 AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
            |), sh AS (
            |  SELECT doc_id, s FROM (
            |    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh0
            |  ) WHERE df <= 128
            |), cnt AS (
            |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
            |), pairs AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2
            |)
            |SELECT p.doc_a, p.doc_b, p.inter,
            |       ca.nsh + cb.nsh - p.inter AS uni,
            |       CAST(p.inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - p.inter AS DOUBLE) AS jaccard
            |FROM pairs p
            |JOIN cnt ca ON p.doc_a = ca.doc_id
            |JOIN cnt cb ON p.doc_b = cb.doc_id
            |WHERE p.inter >= 3
            |ORDER BY ALL""".stripMargin

  /** G. MinHash+LSH: 16 minhashes (min of seeded xxhash64 over shingles),
    * 4 bands × 4 rows; candidate pairs = docs sharing a band bucket, with
    * the ≤64 bucket cap (a hot band bucket would go quadratic).
    * Exact dups are collapsed first ([[collapseExact]]): identical texts
    * have identical signatures, so the banding runs once per distinct text
    * and within-group pairs match all 4 bands by construction — without
    * the collapse a >64-sized dup mass would both blow the join AND be
    * dropped by the cap, losing its true dup pairs.
    * Approximate by construction ⇒ rows-only driver check; the planted-
    * duplicate ScalaTest proves recall.
    */
  /** MinHash signature encode over DISTINCT texts: (th, text) →
    * (th, h0..h15). Each shingle string hashes once and the 16 seeded
    * hashes re-mix the 8-byte value — O(len) work once per shingle, not
    * 16 times. Pure function of text, so [[AnnIndex.textSigs]] persists
    * the result once per distinct content.
    */
  private[graft] def mhEncode(texts: DataFrame): DataFrame = {
    val mins = (0 until 16).map(i => min(xxhash64(col("hs"), lit(i))).as(s"h$i"))
    ngEncode(texts).groupBy("th").agg(mins.head, mins.tail: _*)
  }

  /** Representative-level MinHash band-collision pairs, the
    * pre-expansion core shared by q_dedup_minhash and
    * q_dedup_minhash_rep. Returns (repPairs, members, reps, sigs) —
    * sigs rides along for the within-group semi filter (texts with no
    * 3-shingle have no signature and emit no within pairs).
    */
  private[operators] def minhashRepPairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Long) = {
    val (members, reps) = collapseExact(s, d)
    // r8: the signature stage (shingle explode + 16 min-aggs — THE
    // corpus-pass cost of this operator) serves from the persisted
    // th-keyed signature table; this run only re-derives the doc↔th
    // mapping (the exact-dedup pass it needs anyway) and joins back
    val sigs = reps.select(col("doc_id"), col("th"))
      .join(AnnIndex.textSigs(s, d, "MH", mhEncode), "th").drop("th")
    // r10: the capped band-bucket SELF-JOIN serves from the persisted
    // th-keyed pair graph (AnnIndex.mhPairs, family MP — exactness and
    // bucket-cap-crossing refit there); this run re-derives only the
    // doc↔th mapping
    val idx = reps.select(col("th"), col("doc_id"))
    val nDistinct = Members.thDistinct(s, d)
    val (pairsTh, pairBound) = AnnIndex.mhPairs(s, d)
    val repPairs = pairsTh
      .join(bcIf(idx.select(col("th").as("th_a"), col("doc_id").as("da")),
        nDistinct), "th_a")
      .join(bcIf(idx.select(col("th").as("th_b"), col("doc_id").as("db")),
        nDistinct), "th_b")
      .select(least(col("da"), col("db")).as("rep_a"),
        greatest(col("da"), col("db")).as("rep_b"), col("bands_matching"))
    (repPairs, members, reps, sigs, pairBound)
  }

  val minhashLsh: Q = Q(
    "q_dedup_minhash",
    (s, d) => {
      val (repPairs, members, reps, sigs, bound) = minhashRepPairs(s, d)
      expansionGuard(s, d, "MP2", repPairs,
        reps.select(col("doc_id").as("rep"), col("gsz").as("n")),
        Seq("documents.parquet"), "q_dedup_minhash_rep")
      val within = members.as("x")
        .join(members.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .join(sigs.as("g"), col("x.rep") === col("g.doc_id"), "leftsemi")
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(4L).as("bands_matching"))
      expandPairs(repPairs, members, Seq("bands_matching"), Some(bound))
        .union(within)
        .transform(Det.sortAll)
    },
    None
  )

  /** G. Rep-level MinHash pairs — completes the rep-level output family
    * (see [[simhashRep]] for the scale rationale): one row per pair of
    * DISTINCT texts colliding in ≥1 LSH band, with the band-match count
    * and both groups' member counts. Approximate family ⇒ rows-only.
    */
  val minhashRep: Q = Q(
    "q_dedup_minhash_rep",
    (s, d) => {
      val (repPairs, _, reps, _, _) = minhashRepPairs(s, d)
      val sizes = reps.select(col("doc_id"), col("gsz"))
      repPairs
        .join(sizes.select(col("doc_id").as("rep_a"), col("gsz").as("n_a")), "rep_a")
        .join(sizes.select(col("doc_id").as("rep_b"), col("gsz").as("n_b")), "rep_b")
        .select("rep_a", "rep_b", "bands_matching", "n_a", "n_b")
        .transform(Det.sortAll)
    },
    None
  )

  /** G. SimHash: 64-bit signature from per-bit token-hash majority vote;
    * blocking on 8-bit chunks; exact hamming via bit_count(xor).
    * Exact dups are collapsed first ([[collapseExact]]) — signatures are
    * computed once per distinct text and within-group pairs are hamming 0
    * by construction, immune to the chunk-bucket cap.
    * Approximate blocking ⇒ rows-only driver check + planted-dup spec.
    */
  /** SimHash signature encode over DISTINCT texts: (th, text) →
    * (th, simhash). Binary-weight voting — each distinct token votes once
    * per text. Persisted by [[AnnIndex.textSigs]] like [[mhEncode]].
    */
  private[graft] def shEncode(texts: DataFrame): DataFrame = {
    val toks = texts
      .select(col("th"), explode(words(col("text"))).as("tok"))
      .distinct()
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$i"))
    toks.groupBy("th").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ bitwiseOR _))
      .select("th", "simhash")
  }

  /** Representative-level simhash candidate pairs (one row per pair of
    * DISTINCT raw texts sharing a blocking chunk), the pre-expansion core
    * shared by q_dedup_simhash and q_dedup_simhash_rep.
    */
  private[operators] def simhashRepPairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val (members, reps) = collapseExact(s, d)
    // r8: the token-explode + 64-bit-sum signature stage serves from
    // the persisted th-keyed table (see q_dedup_minhash's note)
    // r10: the capped chunk-bucket SELF-JOIN serves from the persisted
    // th-keyed pair graph (AnnIndex.shPairs, family SP — exactness and
    // bucket-cap-crossing refit there); this run re-derives only the
    // doc↔th mapping
    val idx = reps.select(col("th"), col("doc_id"))
    val nDistinct = Members.thDistinct(s, d)
    val (pairsTh, pairBound) = AnnIndex.shPairs(s, d)
    val repPairs = pairsTh
      .join(bcIf(idx.select(col("th").as("th_a"), col("doc_id").as("da")),
        nDistinct), "th_a")
      .join(bcIf(idx.select(col("th").as("th_b"), col("doc_id").as("db")),
        nDistinct), "th_b")
      .select(least(col("da"), col("db")).as("rep_a"),
        greatest(col("da"), col("db")).as("rep_b"), col("hamming"))
    (repPairs, members, reps, pairBound)
  }

  val simhash: Q = Q(
    "q_dedup_simhash",
    (s, d) => {
      val (repPairs, members, reps, bound) = simhashRepPairs(s, d)
      // guard over the UNFILTERED SP2 pairs — upper bound on the
      // hamming<=12 expansion below (conservative refusal only)
      expansionGuard(s, d, "SP2", repPairs,
        reps.select(col("doc_id").as("rep"), col("gsz").as("n")),
        Seq("documents.parquet"), "q_dedup_simhash_rep")
      // identical texts: identical signatures, hamming 0 by construction
      val within = members.as("x")
        .join(members.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      // qualifying pairs only (hamming ≤ 12), like every other family
      // member (ngram: |∩|≥3, embed: cosine≥τ): emitting every candidate
      // makes the OUTPUT quadratic in the blocking collision rate — at the
      // 30× scale smoke that was 10× the runtime for rows nobody keeps
      expandPairs(repPairs.where(col("hamming") <= 12), members,
        Seq("hamming"), Some(bound))
        .union(within)
        .transform(Det.sortAll)
    },
    None
  )

  /** G. Rep-level near-dup output — the FineWeb/SemDeDup consumption
    * shape and the family's 100 TB default: ONE row per pair of DISTINCT
    * texts (the representatives), carrying both groups' member counts,
    * instead of the member-doc expansion. The expanded contract
    * (q_dedup_simhash) is quadratic in the duplication factor BY
    * CONTRACT — a 10⁵-duplicate viral page alone yields ~10¹⁰ member
    * pairs at web scale, unwritable regardless of plan quality — while
    * the rep-level output is linear in distinct content: a keep/purge
    * pipeline decides per GROUP (keep rep_a's group, purge rep_b's, or
    * union them into a cluster) and never needs the member cross
    * product; [[membersManifest]] (q_dedup_members) is the join that
    * recovers doc-level verdicts. Expansion equivalence is spec-proven:
    * rep pairs × manifest ∪ within-group pairs == the expanded operator
    * row-for-row. Approximate blocking family ⇒ rows-only driver check.
    */
  val simhashRep: Q = Q(
    "q_dedup_simhash_rep",
    (s, d) => {
      val (repPairs, _, reps, _) = simhashRepPairs(s, d)
      // group sizes ride the reps (group) table directly — re-counting
      // members would rebuild the member join just to recover gsz
      val sizes = reps.select(col("doc_id").as("rep"), col("gsz").as("n"))
      repPairs.where(col("hamming") <= 12)
        .join(sizes.select(col("rep").as("rep_a"), col("n").as("n_a")), "rep_a")
        .join(sizes.select(col("rep").as("rep_b"), col("n").as("n_b")), "rep_b")
        .select("rep_a", "rep_b", "hamming", "n_a", "n_b")
        .transform(Det.sortAll)
    },
    None
  )

  /** G. Rep-level n-gram Jaccard pairs — the oracle-checked member of
    * the rep-level family (see [[simhashRep]] for the scale rationale):
    * exact Jaccard over df-capped shingles between DISTINCT raw texts,
    * one row per qualifying representative pair with both groups'
    * member counts. Hash-matched against a DuckDB oracle that collapses
    * to min-doc representatives and applies the identical member-doc df
    * cap, so the rep-level device itself (collapse, persisted-signature
    * serve, cap, join) is pinned by the gate — q_dedup_ngram then
    * proves the expansion on top of the same core.
    */
  val ngramRep: Q = Q(
    "q_dedup_ngram_rep",
    (s, d) => {
      val (repPairs, _, _, reps, _, _) = ngramRepPairs(s, d)
      // group sizes ride the reps (group) table directly (see simhashRep)
      val sizes = reps.select(col("doc_id").as("rep"), col("gsz").as("n"))
      repPairs
        .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
        .join(sizes.select(col("rep").as("rep_a"), col("n").as("n_a")), "rep_a")
        .join(sizes.select(col("rep").as("rep_b"), col("n").as("n_b")), "rep_b")
        .select("rep_a", "rep_b", "inter", "uni", "jaccard", "n_a", "n_b")
        .transform(Det.sortAll)
    },
    Some("""WITH g AS (
            |  SELECT md5(text) AS th, MIN(doc_id) AS rep, COUNT(*) AS gsz
            |  FROM documents GROUP BY 1
            |), reps AS (
            |  SELECT g.rep AS doc_id, g.gsz, d.text
            |  FROM g JOIN documents d ON d.doc_id = g.rep
            |), w AS (
            |  SELECT doc_id, gsz, regexp_split_to_array(text, ' +') AS ws FROM reps
            |), sh0 AS (
            |  SELECT DISTINCT doc_id, gsz, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
            |), sh AS (
            |  SELECT doc_id, s FROM (
            |    SELECT doc_id, s, SUM(gsz) OVER (PARTITION BY s) AS df FROM sh0
            |  ) WHERE df <= 128
            |), cnt AS (
            |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
            |), pairs AS (
            |  SELECT a.doc_id AS rep_a, b.doc_id AS rep_b, COUNT(*) AS inter
            |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2
            |)
            |SELECT p.rep_a, p.rep_b, p.inter,
            |       ca.nsh + cb.nsh - p.inter AS uni,
            |       CAST(p.inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - p.inter AS DOUBLE) AS jaccard,
            |       ga.gsz AS n_a, gb.gsz AS n_b
            |FROM pairs p
            |JOIN cnt ca ON p.rep_a = ca.doc_id
            |JOIN cnt cb ON p.rep_b = cb.doc_id
            |JOIN g ga ON p.rep_a = ga.rep
            |JOIN g gb ON p.rep_b = gb.rep
            |WHERE p.inter >= 3
            |ORDER BY ALL""".stripMargin)
  )

  /** G. Asymmetric CONTAINMENT near-dup pairs (Broder 1997's containment
    * measure, vs the resemblance the rest of the ngram family
    * thresholds): pairs where the SMALLER document's kept-shingle set is
    * ≥80% inside the larger one's — the wire-copy / quote-inclusion /
    * prefix-truncation shape resemblance dedup structurally misses (a
    * 50-shingle notice embedded verbatim in a 5000-shingle page has
    * Jaccard ≈ 0.01 and never crosses any resemblance threshold, but
    * containment 1.0). Same candidate universe as q_dedup_ngram — the
    * persisted NP pair graph (df≤128 cap, inter≥3), so the corpus-pass
    * cost is already paid and this query is joins over distinct-content-
    * sized artifacts. The 0.8 threshold compares by integer
    * cross-multiplication (5·inter ≥ 4·n_small — no IEEE division in
    * the predicate); containment and jaccard emit as one IEEE division
    * of exact ints each ([[graft.Num]] rules). Payload columns are kept
    * SYMMETRIC (inter, n_small, n_big) so [[expandPairs]]'s least/
    * greatest doc-id swap cannot mis-side them. Hash-matched vs a
    * from-scratch DuckDB oracle; the planted-pair spec proves the
    * asymmetric-discovery property (found here, invisible at any
    * resemblance threshold ≥ 0.5).
    */
  val containment: Q = Q(
    "q_dedup_contain",
    (s, d) => {
      val (repPairs, members, cnt, reps, bound, cntBound) = ngramRepPairs(s, d)
      // shares NP2's memoized estimate with q_dedup_ngram (same pair
      // graph; the >=0.8 containment filter only shrinks it). No
      // containment-specific rep twin is registered, so the message
      // points at the family's rep-level output.
      expansionGuard(s, d, "NP2", repPairs,
        reps.select(col("doc_id").as("rep"), col("gsz").as("n")),
        Seq("documents.parquet"), "q_dedup_ngram_rep")
      val cross = repPairs
        .join(bcIf(cnt.select(col("doc_id").as("rep_a"), col("nsh").as("na")),
          cntBound), "rep_a")
        .join(bcIf(cnt.select(col("doc_id").as("rep_b"), col("nsh").as("nb")),
          cntBound), "rep_b")
        .select(col("rep_a"), col("rep_b"), col("inter"),
          least(col("na"), col("nb")).as("n_small"),
          greatest(col("na"), col("nb")).as("n_big"))
        .where(col("inter") * lit(5L) >= col("n_small") * lit(4L))
      // identical-text pairs: full containment by construction (shared
      // kept-shingle set), same ≥3-kept-shingles floor as the oracle's
      // final inter≥3 predicate
      val within = members.as("x")
        .join(members.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .join(cnt.where(col("nsh") >= 3L).as("c"), col("x.rep") === col("c.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("c.nsh").as("inter"), col("c.nsh").as("n_small"),
          col("c.nsh").as("n_big"))
      expandPairs(cross, members, Seq("inter", "n_small", "n_big"), Some(bound))
        .union(within)
        .withColumn("containment",
          col("inter").cast("double") / col("n_small").cast("double"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("n_small") + col("n_big") - col("inter")).cast("double"))
        .transform(Det.sortAll)
    },
    Some("""WITH w AS (
            |  SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
            |), sh0 AS (
            |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
            |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
            |), sh AS (
            |  SELECT doc_id, s FROM (
            |    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh0
            |  ) WHERE df <= 128
            |), cnt AS (
            |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
            |), pairs AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2
            |)
            |SELECT p.doc_a, p.doc_b, p.inter,
            |       LEAST(ca.nsh, cb.nsh) AS n_small,
            |       GREATEST(ca.nsh, cb.nsh) AS n_big,
            |       CAST(p.inter AS DOUBLE) / CAST(LEAST(ca.nsh, cb.nsh) AS DOUBLE) AS containment,
            |       CAST(p.inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - p.inter AS DOUBLE) AS jaccard
            |FROM pairs p
            |JOIN cnt ca ON p.doc_a = ca.doc_id
            |JOIN cnt cb ON p.doc_b = cb.doc_id
            |WHERE p.inter >= 3 AND 5*p.inter >= 4*LEAST(ca.nsh, cb.nsh)
            |ORDER BY ALL""".stripMargin)
  )

  /** G. The members manifest — the doc↔representative mapping that turns
    * rep-level verdicts ([[simhashRep]], [[ngramRep]]) back into
    * doc-level ones: one row per document with its group's
    * representative (min doc_id over identical raw text) and size. The
    * exact-identity twin of q_dedup_exact keyed on RAW text (the
    * near-dup family's collapse key) rather than normalized text.
    * Linear in the corpus, hash-matched.
    */
  val membersManifest: Q = Q(
    "q_dedup_members",
    (s, d) => {
      // served from the session [[Members]] memo (r12) — the collapse
      // key stays md5(raw text), the family's key: the
      // expansion-equivalence spec rebuilds q_dedup_simhash from
      // simhashRep × this manifest and fails on any drift.
      val (members, reps) = Members.thGroups(s, d)
      members
        .join(reps.select(col("th"), col("gsz").as("group_size")), "th")
        .select(col("doc_id"), col("rep"), col("group_size"))
        .transform(Det.sortAll)
    },
    Some("""SELECT doc_id,
            |       MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep,
            |       COUNT(*) OVER (PARTITION BY md5(text)) AS group_size
            |FROM documents ORDER BY ALL""".stripMargin)
  )

  /** G. Near-dup clusters: connected components over the dedup pair graph
    * — pairs alone don't dedupe a corpus; the keep/purge decision needs
    * the TRANSITIVE closure (A~B, B~C ⇒ {A,B,C} is one cluster even when
    * A~C falls below the threshold, the classic near-dup chain). Edges =
    * exact-duplicate links (doc → its normalized-content keeper) ∪ n-gram
    * Jaccard ≥ 0.5 pairs; every doc gets its component's min doc_id as
    * cluster_id, the cluster size, and the purge flag.
    *
    * Spark-first shape: iterative min-label propagation — each round,
    * every node takes the min of its own and its neighbors' labels; the
    * loop is the standard Pregel-on-DataFrames pattern (bounded driver
    * loop, lineage truncated per round exactly like the k-means trainer;
    * convergence via the monotonically-decreasing label sum, one tiny agg
    * per round instead of a change-count join), augmented with a pointer
    * jump (path halving, label := label(label)) per round, so rounds =
    * O(log diameter) instead of O(diameter) — the same exponential path
    * compression as large-star/small-star. Near-dup clusters converge in
    * a handful of rounds; a pathological diameter-2^24 chain would still
    * fit the 25-round budget, and non-convergence FAILS the job rather
    * than shipping non-component ids. Per round the work is one
    * edges⋈labels shuffle (O(E) rows) plus one labels⋈labels self-join
    * (O(n)), never materializing components.
    *
    * The DuckDB oracle computes the same components as a recursive
    * reachability closure and hash-matches: the iterative plan is exact,
    * not approximate.
    */
  /** Min-label connected components: label propagation with per-round
    * pointer jumping (path halving). `nodes` is one `id` column;
    * `halfEdges` is (a, b), one row per undirected edge in either
    * orientation. Returns (id, label) with label = the component's
    * minimum id. Per round the work is one edges⋈labels shuffle (O(E)
    * rows) plus one labels⋈labels self-join (O(n)); rounds are
    * O(log diameter); components are never materialized. 25 rounds cover
    * diameters past 2^24 — unreachable for any physical corpus — and
    * non-convergence THROWS rather than shipping non-component ids.
    */
  private[graft] def connectedComponents(nodes: DataFrame,
      halfEdges: DataFrame): DataFrame = {
    val edges = halfEdges.select(col("a"), col("b"))
      .union(halfEdges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .cache()
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint()
    // sum over zero rows is null — an empty corpus must yield an empty
    // result, not an NPE
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum("label")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < 25) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label")), "b")
        .groupBy(col("a").as("id"))
        .agg(min("label").as("nbr"))
      // checkpoint: the jump self-join reads propped on BOTH sides, so
      // without materialization each round would recompute the
      // edges⋈labels aggregation twice
      val propped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .localCheckpoint()
      // Pointer jump (path halving): label := label(label). Labels are
      // always ids inside the node's own component (min-propagation
      // only moves ids along edges), so one extra self-join per round
      // compounds the progress of every earlier round — rounds drop
      // from O(diameter) to O(log diameter), which removes the r4
      // correctness cliff where a diameter-16+ template-drift chain
      // exhausted the round budget and shipped non-component ids.
      val jump = propped.select(col("id").as("label"), col("label").as("plabel"))
      labels = propped.join(jump, Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        .localCheckpoint()
      val s2 = labelSum(labels)
      converged = s2 == prevSum
      prevSum = s2
      round += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException("connectedComponents: label " +
        "propagation did not converge within 25 pointer-jumping rounds — " +
        "refusing to emit non-component ids")
    labels
  }

  /** Attach cluster_size to (…, cluster_id) rows via partial-aggregated
    * counts + an equi-join, NOT a count-over-window: a window partitioned
    * by cluster_id funnels a giant duplicate component through one
    * unsplittable sort task at scale, while the groupBy's map-side
    * combine is skew-proof (one row per cluster leaves each partition)
    * and AQE skew-join can split the hot probe key. Column order of the
    * input is preserved, cluster_size appended.
    */
  private[graft] def withClusterSize(labeled: DataFrame): DataFrame = {
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select((labeled.columns.map(col) :+ col("cluster_size")).toIndexedSeq: _*)
  }

  /** Ensure the persisted component-label artifact is current for `d`
    * (build or delta-append as needed) and return its (nth, ckey) rows —
    * the maintenance entry point
    * [[graft.streaming.EventStream.clusterIndexSink]] calls per
    * micro-batch (and [[clusterLabels]] calls at serve).
    */
  private[graft] def clusterIndex(s: SparkSession, d: String): DataFrame = {
    // session memo, fingerprint-validated — a streaming micro-batch that
    // appends to the table changes the listing and rebuilds (the CacheBag
    // stale-listing hazard doesn't apply)
    val docs = Members.th(s, d).select(col("doc_id"), col("nth"))
    clusterIndexWith(s, d, docs, docs.groupBy("nth").agg(min("doc_id").as("nid")))
  }

  private def clusterIndexWith(s: SparkSession, d: String,
      docs: DataFrame, nodes: DataFrame): DataFrame = {
    // full component build: propagation over distinct-normalized-text
    // nodes, then the content-keyed component key (min member nth) the
    // persisted artifact stores — see AnnIndex.ccIndex for why doc ids
    // stay out of the artifact
    def fullBuild(): DataFrame = {
      val (repPairs, _, _, _, _, _) = ngramRepPairs(s, d)
      val repNid = docs.join(nodes, "nth").select(col("doc_id"), col("nid"))
      val ngramE = repPairs
        .where(col("inter").cast("double") / col("uni").cast("double") >= 0.5)
        .join(repNid.select(col("doc_id").as("rep_a"), col("nid").as("a")), "rep_a")
        .join(repNid.select(col("doc_id").as("rep_b"), col("nid").as("b")), "rep_b")
        .select(col("a"), col("b"))
        .where(col("a") =!= col("b"))
      val labels = connectedComponents(nodes.select(col("nid").as("id")), ngramE)
      val nthLab = nodes.join(labels, col("nid") === col("id"))
        .select(col("nth"), col("label"))
      val ckeys = nthLab.groupBy("label").agg(min("nth").as("ckey"))
      nthLab.join(ckeys, "label").select(col("nth"), col("ckey"))
    }
    AnnIndex.ccIndex(s, d, () => fullBuild(), ccTryDelta(s, d))
  }

  /** Doc-level cluster labels (doc_id, cluster_id = min doc of the
    * near-dup component) — the shared cluster computation behind
    * q_dedup_clusters and q_split_assign: exact-dup edges (groupBy +
    * equi-join keeper device — never min-over-window on the content
    * hash) unioned with ngram-Jaccard ≥ 0.5 edges, closed by
    * pointer-jumping connected components, with the component
    * computation COLLAPSED to distinct-normalized-text nodes (late-r8).
    * The old formulation ran label propagation over ONE NODE PER
    * DOCUMENT with explicit exact-dup edges — on a web-shape corpus
    * (the 100× smoke duplicates every text ×100 verbatim) that
    * multiplies the CC node set, the per-round edge join, and the label
    * state by the duplication factor for zero information: every doc of
    * one normalized text is in the same component BY DEFINITION of the
    * exact edges. Nodes are the distinct normalized texts (node id =
    * the group's min doc_id, so the propagated min-label IS the
    * doc-level cluster id), ngram rep pairs bridge nodes (a raw-text
    * group maps into exactly one normalized group), and docs join their
    * node's label back at serve — the collapseExact asymmetry applied
    * to the component computation itself. Output provably identical
    * (same blobs, same bridges, same min-doc labels); the hash gate
    * agrees.
    */
  private[operators] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    // ~50 B/doc narrow frame consumed by the node groupBy, the rep→node
    // mapping and the serve join — session-memoized ([[Members.th]])
    val docs = Members.th(s, d).select(col("doc_id"), col("nth"))
    val nodes = docs.groupBy("nth").agg(min("doc_id").as("nid"))
    val labels = clusterIndexWith(s, d, docs, nodes)
    // doc-level cluster ids at serve: min doc per component — a
    // component-count-sized aggregation over the distinct-text frame,
    // broadcast back (never persisted: an append can lower them)
    val compMin = labels.join(nodes, "nth")
      .groupBy("ckey").agg(min("nid").as("cluster_id"))
    docs.join(labels, "nth")
      .join(broadcast(compMin), "ckey")
      .select(col("doc_id"), col("cluster_id"))
  }

  /** The append-path component math for [[AnnIndex.ccIndex]]: given the
    * appended files and the base version's (nth, ckey) labels, return
    * the grown corpus's labels — or None when the append is not
    * provably structure-monotone.
    *
    * Why this is exact (and what forces the refit): an old↔old near-dup
    * edge is a function of the two texts' shingles and the corpus-wide
    * shingle df cap. A pure file append leaves old texts' shingles
    * untouched, so old↔old edges — and old texts' capped-shingle counts
    * behind their jaccards — change ONLY if an append pushes some
    * shingle's df across the cap (df is monotone under appends). No
    * crossing ⇒ the grown graph is exactly (old edges) ∪ (edges incident
    * to genuinely-new texts) ⇒ components only merge along new-text
    * bridges, never split or re-partition — so union-find over the
    * REDUCED graph (new texts + the old component keys they touch, a
    * candidate-bounded driver structure guarded like the incremental-
    * dedup broadcast) reproduces the from-scratch components, and the
    * merged component key min(old keys ∪ new member nths) equals the
    * from-scratch min member nth because each old key already IS its
    * component's min. The spec pins append-vs-fresh equality on merge,
    * join and min-doc-lowering scenarios; the df-crossing scenario pins
    * the refit trigger.
    */
  private[operators] def ccTryDelta(s: SparkSession, d: String)(
      deltaPaths: Seq[String], oldLabels: DataFrame): Option[DataFrame] = {
    // one corpus-narrow scan: raw-text hash (the shingle-table key),
    // normalized hash (the node), per-raw-text doc counts full vs old
    val thInfo = Members.th(s, d)
      .select(col("th"), col("nth"))
      .groupBy("th").agg(count(lit(1)).as("nd_full"), min("nth").as("nth"))
    val deltaTh = s.read.parquet(deltaPaths: _*)
      .select(md5(col("text")).as("th"))
      .groupBy("th").agg(count(lit(1)).as("nd_delta"))
    val joined = graft.CacheBag.track(thInfo.join(deltaTh, Seq("th"), "left")
      .select(col("th"), col("nth"), col("nd_full"),
        (col("nd_full") - coalesce(col("nd_delta"), lit(0L))).as("nd_old")))
    // the persisted shingle table (textSigs auto-appends new texts)
    val ng = AnnIndex.textSigs(s, d, "NG", ngEncode)
    val dfs = graft.CacheBag.track(ng.join(joined, "th")
      .groupBy("hs")
      .agg(sum("nd_full").as("df_new"), sum("nd_old").as("df_old")))
    if (!dfs.where(col("df_old") >= 1L && col("df_old") <= 128L &&
        col("df_new") > 128L).isEmpty) return None
    val okHs = dfs.where(col("df_new") <= 128L).select("hs")
    val shOk = graft.CacheBag.track(ng.join(okHs, "hs")
      .join(joined.select("th", "nd_old"), "th"))
    val nsh = shOk.groupBy("th").agg(count(lit(1)).as("nsh"))
    // candidate pairs: new-text shingles probe the full posting list —
    // bounded per shingle by the df cap, the batch's own candidate budget
    val newSh = shOk.where(col("nd_old") === 0L)
      .select(col("th").as("th_a"), col("hs"))
    val pairs = newSh
      .join(shOk.select(col("th").as("th_b"), col("hs")), "hs")
      .where(col("th_a") =!= col("th_b"))
      .groupBy("th_a", "th_b").agg(count(lit(1)).as("inter"))
      .where(col("inter") >= 3L)
      .join(nsh.select(col("th").as("th_a"), col("nsh").as("nsh_a")), "th_a")
      .join(nsh.select(col("th").as("th_b"), col("nsh").as("nsh_b")), "th_b")
      .where(col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")).cast("double") >= 0.5)
    // th edges → node (nth) edges → reduced keys (old nth: its persisted
    // component key; new nth: itself)
    val keyed = pairs
      .join(joined.select(col("th").as("th_a"), col("nth").as("nth_a")), "th_a")
      .join(joined.select(col("th").as("th_b"), col("nth").as("nth_b")), "th_b")
      .where(col("nth_a") =!= col("nth_b"))
      .join(oldLabels.select(col("nth").as("nth_a"), col("ckey").as("key_a")),
        Seq("nth_a"), "left")
      .join(oldLabels.select(col("nth").as("nth_b"), col("ckey").as("key_b")),
        Seq("nth_b"), "left")
      .select(coalesce(col("key_a"), col("nth_a")).as("ka"),
        coalesce(col("key_b"), col("nth_b")).as("kb"))
      .where(col("ka") =!= col("kb")).distinct()
    // reduced-graph budget: same measured-guard posture as the
    // incremental-dedup broadcast — a backfill-sized batch refits
    val reduced = keyed.limit(200001).collect()
    if (reduced.length > 200000) return None
    // driver union-find, roots = min key (so the merged key equals the
    // from-scratch min member nth)
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    reduced.foreach { row =>
      val (ra, rb) = (find(row.getString(0)), find(row.getString(1)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val relabel = reduced.iterator
      .flatMap(r => Seq(r.getString(0), r.getString(1))).toSet.toSeq
      .map((k: String) => (k, find(k))).filter { case (k, v) => k != v }
    val allNth = joined.select("nth").distinct()
    val base = allNth.join(oldLabels, Seq("nth"), "left")
      .select(col("nth"), coalesce(col("ckey"), col("nth")).as("key0"))
    import s.implicits._
    val out =
      if (relabel.isEmpty) base.select(col("nth"), col("key0").as("ckey"))
      else base
        .join(broadcast(relabel.toDF("key0", "ck2")), Seq("key0"), "left")
        .select(col("nth"), coalesce(col("ck2"), col("key0")).as("ckey"))
    Some(out)
  }

  val clusters: Q = Q(
    "q_dedup_clusters",
    (s, d) => {
      clusterLabels(s, d)
        .transform(withClusterSize)
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
        .transform(Det.sortAll)
    },
    Some(clusterCteSql +
      """
        |SELECT doc_id, cluster_id,
        |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |       doc_id <> cluster_id AS is_dup
        |FROM comp ORDER BY ALL""".stripMargin)
  )

  /** Oracle CTE shared by q_dedup_clusters and q_split_assign: the
    * recursive-closure computation of near-dup components, ending at
    * `comp(doc_id, cluster_id)`.
    */
  private lazy val clusterCteSql: String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
      |), sh AS (
      |  SELECT doc_id, s FROM (
      |    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh0
      |  ) WHERE df <= 128
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), ngram_e AS (
      |  SELECT p.doc_a AS a, p.doc_b AS b
      |  FROM pairs p
      |  JOIN cnt ca ON p.doc_a = ca.doc_id
      |  JOIN cnt cb ON p.doc_b = cb.doc_id
      |  WHERE p.inter >= 3
      |    AND CAST(p.inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - p.inter AS DOUBLE) >= 0.5
      |), exact_e AS (
      |  SELECT doc_id AS a, keeper AS b FROM (
      |    SELECT doc_id,
      |           MIN(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keeper
      |    FROM documents
      |  ) WHERE doc_id <> keeper
      |), edges AS (
      |  SELECT a, b FROM ngram_e UNION SELECT b, a FROM ngram_e
      |  UNION SELECT a, b FROM exact_e UNION SELECT b, a FROM exact_e
      |), reach(node, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
      |), comp AS (
      |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
      |)""".stripMargin

  /** G. Leakage-aware train/val/test split (the eval-carving step after
    * dedup in every LLM data pipeline — see the q_decontaminate scaladoc
    * for the contamination story this prevents): the split is assigned to
    * the near-dup CLUSTER, not the document, so two near-duplicate
    * documents can never land on opposite sides of the train/test fence
    * (per-doc hashing would leak test material into training through its
    * near-copies — the classic benchmark-contamination vector that
    * doc-level random splits cannot prevent by construction).
    *
    * Device: [[clusterLabels]] (the q_dedup_clusters computation — exact
    * edges + ngram-Jaccard edges + pointer-jumping CC), then ONE
    * deterministic md5 bucket of the cluster_id (q_sample_stratified's
    * hash-bucket device keyed on the cluster) mapped 90/5/5 to
    * train/val/test. Everything after the cluster labels is a narrow
    * per-row projection — no additional shuffle, no per-split pass; at
    * 100 TB the cost IS the cluster computation, which the pipeline has
    * already priced (its bounds are q_dedup_clusters' bounds).
    */
  val splitAssign: Q = Q(
    "q_split_assign",
    (s, d) => {
      val bucket = (conv(substring(md5(col("cluster_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100).as("bucket")
      clusterLabels(s, d)
        .select(col("doc_id"), col("cluster_id"), bucket)
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test"))
        .transform(Det.sortAll)
    },
    Some(clusterCteSql +
      """
        |SELECT doc_id, cluster_id, bucket,
        |       CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, cluster_id,
        |         CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket
        |  FROM comp
        |) ORDER BY ALL""".stripMargin)
  )

  /** G. Benchmark decontamination — the training-corpus hygiene step every
    * LLM data pipeline runs: flag corpus documents sharing any long n-gram
    * (8 tokens here) with a held-out benchmark/eval set, so test material
    * can be purged before training. The benchmark split is synthesized
    * deterministically (doc_id % 50 == 0 ≙ the eval set).
    *
    * Scale shape: the benchmark side is SMALL by nature (eval sets are
    * thousands of docs, the corpus is billions) — its distinct 8-gram
    * hash set broadcasts, so the corpus side is one narrow shingle pass +
    * broadcast semi-join + per-doc count: no corpus shuffle at all except
    * the final per-doc aggregation, and no df cap needed because the
    * probe set is bounded. 8-byte xxhash64 grams shuffle instead of
    * strings (collision odds ~1e-12; the oracle would catch one).
    */
  val decontaminate: Q = Q(
    "q_decontaminate",
    (s, d) => {
      // r16: conditional spread (identity on multi-split tables) instead
      // of the unconditional round-robin
      val docs = T.spread(s, T.documents(s, d))
      def grams(df: DataFrame): DataFrame = df
        .select(col("doc_id"), words(col("text")).as("w"))
        .where(size(col("w")) >= 8)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(w)-8), i -> " +
            "xxhash64(concat_ws(' ', w[i],w[i+1],w[i+2],w[i+3],w[i+4],w[i+5],w[i+6],w[i+7]))))"))
          .as("h8"))
      val benchG = grams(docs.where(pmod(col("doc_id"), lit(50L)) === 0))
        .select("h8").distinct()
      val corpus = docs.where(pmod(col("doc_id"), lit(50L)) =!= 0)
      val hits = grams(corpus).join(broadcast(benchG), "h8")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      corpus.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) >= 1L).as("is_contaminated"))
        .transform(Det.sortAll)
    },
    Some("""WITH w AS (
            |  SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
            |), g AS (
            |  SELECT DISTINCT doc_id,
            |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
            |         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS g8
            |  FROM w, UNNEST(range(1, len(ws)-6)) AS t(i)
            |  WHERE len(ws) >= 8
            |), bench AS (
            |  SELECT DISTINCT g8 FROM g WHERE doc_id % 50 = 0
            |), hits AS (
            |  SELECT g.doc_id, COUNT(*) AS n_hits
            |  FROM g JOIN bench USING (g8)
            |  WHERE g.doc_id % 50 <> 0 GROUP BY 1
            |)
            |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
            |       COALESCE(h.n_hits, 0) >= 1 AS is_contaminated
            |FROM documents d LEFT JOIN hits h USING (doc_id)
            |WHERE d.doc_id % 50 <> 0
            |ORDER BY ALL""".stripMargin)
  )

  /** G. Span-level exact dedup — the ExactSubstr policy of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): doc-level dedup misses the boilerplate CASE —
    * a license header or nav bar repeated across millions of otherwise-
    * distinct pages — so count, per document, the 8-word span
    * occurrences that are corpus-level repeats (every occurrence of a
    * span except the corpus-global FIRST, in (doc_id, position) order,
    * is a duplicate). Output: per-doc total/duplicate span counts and
    * the duplicate fraction — the per-doc trim signal.
    *
    * Plan shape at scale: spans are 8-byte xxhash64 values (the ngram-
    * family convention — the oracle joins the strings; a 64-bit
    * collision would fail the hash gate), with each occurrence's global
    * order encoded as ONE long (doc_id·2^20 + pos — no struct ordering
    * needed cross-engine; the pos < 2^20 ∧ doc_id < 2^43 precondition
    * is enforced with raise_error, because an overflow here would
    * corrupt first-occurrence attribution identically in both engines
    * and slip the hash gate). The per-(span, doc)
    * collapse is the only occurrence-sized aggregation and its partial
    * agg combines map-side; corpus-global span stats are a second
    * groupBy over the collapsed rows — groupBys + an AQE-skew-splittable
    * equi-join throughout, NO window over the span key (a boilerplate
    * span's window partition would be one task holding every document
    * that contains it). The span→stats fork rides the SAME materialized
    * (span, doc) Exchange on both branches (AQE exchange reuse — one
    * scan, like q_tfidf).
    */
  val spanDedup: Q = Q(
    "q_dedup_span",
    (s, d) => {
      val span = 8
      // no up-front repartition — re-measured r16: T.spread was tried and
      // REJECTED (wall 1.74→2.05 s, cpuSec 2.6→13.4 at sf0.1). The
      // (span, doc) collapse's keys are near-unique per row, so the
      // partial agg does no map-side reduction and the 32-way fan-out
      // just multiplies hash-buffer allocation; the first real Exchange
      // right after the narrow explode remains the parallelism source,
      // and at 100 TB a round-robin here would move every text byte
      // across the cluster before hashing it down to 8
      val docs = T.documents(s, d)
      // explicit isNotNull: the left-outer join below pushes an
      // IsNotNull(doc_id) into the probe branch's scan; without the same
      // filter on the stats branch the two g2 subtrees are canonically
      // different and AQE cannot reuse the (span, doc) Exchange
      val g = docs
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"), words(col("text")).as("w"))
        .where(size(col("w")) >= span)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(w)-" + span + "), i -> " +
            "xxhash64(concat_ws(' ', w[i],w[i+1],w[i+2],w[i+3],w[i+4],w[i+5],w[i+6],w[i+7])))"))
          .as(Seq("pos", "hg")))
        .select(col("doc_id"), col("hg"),
          // the packing precondition is ENFORCED, not assumed: a doc
          // with ≥ 2^20 spans (~a few MB of text — plausible in a web
          // corpus) or a doc_id ≥ 2^43 would bleed ord into the next
          // document's range, silently mis-attributing the corpus-global
          // first occurrence — and the oracle uses the identical
          // formula, so the hash gate could never catch it. Fail loud.
          when(col("pos") < lit(1048576L) &&
              col("doc_id").between(0L, Long.MaxValue / 1048576L - 1L),
            col("doc_id") * lit(1048576L) + col("pos"))
            .otherwise(raise_error(concat(
              lit("q_dedup_span ord packing out of range: doc_id="),
              col("doc_id"), lit(" pos="), col("pos")))).as("ord"))
      val g2 = g.groupBy("hg", "doc_id")
        .agg(count(lit(1)).as("occ_d"), min("ord").as("min_ord_d"))
      val stats = g2.groupBy("hg")
        .agg(sum("occ_d").as("occs"), min("min_ord_d").as("min_ord"))
      val perDoc = g2.join(stats, "hg")
        .select(col("doc_id"), col("occ_d"),
          when(col("occs") >= 2,
            col("occ_d") -
              when(col("min_ord_d") === col("min_ord"), 1L).otherwise(0L))
            .otherwise(0L).as("dup_d"))
        .groupBy("doc_id")
        .agg(sum("occ_d").cast("long").as("total_spans"),
          sum("dup_d").cast("long").as("dup_spans"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("total_spans"), lit(0L)).as("total_spans"),
          coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
        .withColumn("dup_frac",
          when(col("total_spans") > 0,
            col("dup_spans").cast("double") / col("total_spans").cast("double"))
            .otherwise(lit(0.0)))
        .transform(Det.sortAll)
    },
    Some("""WITH w AS (
            |  SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
            |), g AS (
            |  SELECT doc_id, i - 1 AS pos,
            |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
            |         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS g8
            |  FROM w, UNNEST(range(1, len(ws)-6)) AS t(i)
            |  WHERE len(ws) >= 8
            |), o AS (
            |  SELECT doc_id, g8, doc_id * 1048576 + pos AS ord FROM g
            |), g2 AS (
            |  SELECT g8, doc_id, CAST(count(*) AS BIGINT) AS occ_d,
            |         min(ord) AS min_ord_d
            |  FROM o GROUP BY 1, 2
            |), st AS (
            |  SELECT g8, CAST(sum(occ_d) AS BIGINT) AS occs,
            |         min(min_ord_d) AS min_ord
            |  FROM g2 GROUP BY 1
            |), pd AS (
            |  SELECT doc_id,
            |         CAST(sum(occ_d) AS BIGINT) AS total_spans,
            |         CAST(sum(CASE WHEN occs >= 2
            |             THEN occ_d - (CASE WHEN min_ord_d = min_ord THEN 1 ELSE 0 END)
            |             ELSE 0 END) AS BIGINT) AS dup_spans
            |  FROM g2 JOIN st USING (g8) GROUP BY 1
            |)
            |SELECT d.doc_id,
            |       COALESCE(p.total_spans, 0) AS total_spans,
            |       COALESCE(p.dup_spans, 0) AS dup_spans,
            |       CASE WHEN COALESCE(p.total_spans, 0) > 0
            |         THEN CAST(p.dup_spans AS DOUBLE) / CAST(p.total_spans AS DOUBLE)
            |         ELSE 0.0 END AS dup_frac
            |FROM documents d LEFT JOIN pd p USING (doc_id)
            |ORDER BY ALL""".stripMargin)
  )

  /** G. Paragraph-level dedup TRANSFORM (r7) — the CCNet-shape cleaning
    * step: where [[spanDedup]] *diagnoses* span repetition, this emits the
    * cleaned text a pipeline actually trains on. Every document is split
    * into paragraphs, each paragraph is hashed, and only the CORPUS-GLOBAL
    * first occurrence of each paragraph (in (doc_id, position) order)
    * survives; surviving paragraphs are reassembled in document order.
    * Cross-document boilerplate (headers, navigation, license blocks)
    * disappears from every document except the first that carried it.
    * Paragraphs here are fixed 16-word blocks — this corpus carries no
    * newlines, so the block splitter stands in for the '\n'-splitter; the
    * hash → global-first → reassemble machinery is splitter-agnostic.
    *
    * Plan shape: narrow explode → groupBy on the 8-byte paragraph hash
    * (map-side combined; the only corpus-wide shuffles are on that key,
    * and the first-occurrence decision is groupBy + equi-join, NOT a
    * window over the paragraph key — a boilerplate paragraph's window
    * partition would be one task holding every document that carries it,
    * the same trap spanDedup dodges) → doc-keyed reassembly groupBy.
    * Occurrence order packs into one long exactly like spanDedup
    * (doc·2^20+idx, range-enforced with raise_error — overflow would
    * mis-attribute first occurrences identically in both engines and slip
    * the gate). Oracle joins the paragraph STRINGS, so a 64-bit hash
    * collision fails the hash gate rather than hiding.
    */
  /** Paragraph splitters for [[paragraphClean]] — the machinery is
    * splitter-agnostic, these decide what a "paragraph" is:
    *  - [[newlineParas]]: the real-corpus default (CCNet splits on line
    *    breaks) — trimmed lines, empties dropped;
    *  - [[blockParas]]: the stand-in for corpora without newlines (the
    *    driver testdata): fixed 16-word blocks, (size(w)-1) div 16 + 1
    *    blocks so an empty text is one (empty) block — the behavior the
    *    hash gate has pinned since r7.
    */
  private[graft] def newlineParas(text: Column): Column =
    filter(transform(split(text, "\n"), p => trim(p)), p => p =!= lit(""))

  private[graft] def blockParas(text: Column): Column = {
    val w = split(trim(text), " +")
    transform(sequence(lit(0), floor((size(w) - lit(1)) / lit(16)).cast("int")),
      i => concat_ws(" ", slice(w, i * lit(16) + lit(1), lit(16))))
  }

  /** The paragraph-dedup transform dataflow, parameterized by the
    * splitter (a Column→Column from text to its array of paragraphs).
    */
  private[graft] def paragraphClean(docs0: DataFrame,
      paras: Column => Column): DataFrame = {
      val docs = docs0.where(col("doc_id").isNotNull)
      val p = docs
        .where(col("text").isNotNull)
        .select(col("doc_id"), posexplode(paras(col("text"))).as(Seq("idx", "para")))
        .select(col("doc_id"), col("idx"), col("para"),
          xxhash64(col("para")).as("hp"),
          when(col("idx") < lit(1048576L) &&
              col("doc_id").between(0L, Long.MaxValue / 1048576L - 1L),
            col("doc_id") * lit(1048576L) + col("idx"))
            .otherwise(raise_error(concat(
              lit("q_dedup_paragraph ord packing out of range: doc_id="),
              col("doc_id"), lit(" idx="), col("idx")))).as("ord"))
      val firsts = p.groupBy("hp").agg(min("ord").as("min_ord"))
      val kept = p.join(firsts, "hp").where(col("ord") === col("min_ord"))
      val clean = kept.groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(idx, para))), " +
          "p -> p.para))").as("clean_text"))
      docs
        .select(col("doc_id"),
          coalesce(size(paras(col("text"))).cast("long"), lit(0L)).as("n_paras"))
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_paras"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .transform(Det.sortAll)
  }

  val paragraphDedup: Q = Q(
    "q_dedup_paragraph",
    // r16: T.spread tried and REJECTED (the q_dedup_span verdict: the
    // para groupBy keys are near-unique, cpuSec 1.1→15.0 for ~0.1 s of
    // wall at sf0.1 — not worth the work-ledger distortion)
    (s, d) => paragraphClean(T.documents(s, d), blockParas),
    Some("""WITH w AS (
            |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
            |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
            |), p AS (
            |  SELECT doc_id, CAST(t.i AS BIGINT) AS idx,
            |         array_to_string(ws[t.i*16+1 : t.i*16+16], ' ') AS para
            |  FROM w, UNNEST(range((len(ws)-1)//16 + 1)) AS t(i)
            |), o AS (
            |  SELECT doc_id, idx, para, doc_id*1048576 + idx AS ord FROM p
            |), f AS (
            |  SELECT para, min(ord) AS min_ord FROM o GROUP BY 1
            |), k AS (
            |  SELECT o.doc_id, o.idx, o.para
            |  FROM o JOIN f ON o.para = f.para AND o.ord = f.min_ord
            |), c AS (
            |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            |         string_agg(para, ' ' ORDER BY idx) AS clean_text
            |  FROM k GROUP BY 1
            |), np AS (
            |  SELECT doc_id, (len(ws)-1)//16 + 1 AS n_paras FROM w
            |)
            |SELECT d.doc_id, COALESCE(np.n_paras, 0) AS n_paras,
            |       COALESCE(c.n_kept, 0) AS n_kept,
            |       COALESCE(c.clean_text, '') AS clean_text
            |FROM documents d LEFT JOIN np USING (doc_id) LEFT JOIN c USING (doc_id)
            |WHERE d.doc_id IS NOT NULL
            |ORDER BY ALL""".stripMargin)
  )

  /** G. Incremental ingest dedup — the steady-state production shape of
    * dedup: a new batch (one `source` here stands in for today's crawl)
    * is deduped against the already-ingested corpus, instead of
    * re-deduping the whole corpus per ingest. The content key is a
    * coarse prefix fingerprint (md5 of the first 8 normalized words —
    * the CCNet-style cheap key class; the machinery is key-agnostic, and
    * the full-text [[normText]] hash is the degenerate choice) so the
    * decision logic actually exercises on this corpus, where planted
    * near-dups share prefixes but no document repeats verbatim. Verdict
    * per batch doc: `in_corpus` (its key already exists outside the
    * batch), `dup_in_batch` (not the first occurrence of its key within
    * the batch), `keep` = neither.
    *
    * Scale shape — the asymmetry is the whole point: the batch is
    * ingest-sized (millions of rows), the corpus is the 100 TB side. The
    * batch's distinct key set BROADCASTS as a semi-join filter over the
    * corpus, so the corpus is scanned once, narrowly, and never shuffled
    * — no corpus-wide distinct, no shuffle keyed on corpus rows. Only
    * the colliding keys (≤ batch size by construction after the
    * collision-sized distinct) survive to the decision join, which
    * broadcasts back against the batch. The one wide op keyed on data
    * volume is the within-batch min-window, and that is batch-sized.
    */
  /** The incremental-dedup decision dataflow, parameterized by the
    * broadcast guard. The batch≪corpus plan broadcasts the batch's
    * distinct key set so the corpus is scanned narrowly and never
    * shuffled — but that silently turns into a driver/executor OOM when a
    * BACKFILL-sized batch arrives (the broadcast is batch-keyed). The
    * guard is MEASURED, not assumed: one batch-sized distinct count
    * (driver sees a single long) picks the plan — under the limit, the
    * broadcast asymmetry; over it, a bucketed sort-merge semi join (both
    * sides shuffle on the 16-byte key — the correct shape once the batch
    * is corpus-class, and the hint pins it so stats can't flip the plan
    * back to a broadcast that won't fit). Verdict classes are identical
    * on both paths (spec-proven).
    */
  private[graft] def incrementalVerdicts(fresh: DataFrame, corpus: DataFrame,
      maxBroadcastKeys: Long): DataFrame = {
    // ONE materialization of the batch key set serves both the guard
    // count and the semi join (it was computed twice — an extra scan +
    // shuffle of the fresh batch per call); CacheBag releases it after
    // the query's write completes.
    val batchKeys = graft.CacheBag.track(fresh.select("content_hash").distinct())
    val smallBatch = batchKeys.count() <= maxBroadcastKeys
    val keys = if (smallBatch) broadcast(batchKeys) else batchKeys.hint("merge")
    val collided0 = corpus
      .join(keys, Seq("content_hash"), "left_semi")
      .select("content_hash").distinct()
      .withColumn("in_corpus", lit(true))
    val collided = if (smallBatch) broadcast(collided0) else collided0.hint("merge")
    // first-in-batch via groupBy + equi-join back, NOT min-over-window on
    // the content hash: the SMJ fallback exists precisely because a batch
    // can be backfill-sized, and a backfill full of one mass-dup key
    // (empty docs) would otherwise ride a single unsplittable window task.
    val firsts0 = fresh.groupBy("content_hash").agg(min("doc_id").as("first_id"))
    val firsts = if (smallBatch) broadcast(firsts0) else firsts0.hint("merge")
    fresh
      .join(collided, Seq("content_hash"), "left")
      .join(firsts, Seq("content_hash"))
      .withColumn("in_corpus", coalesce(col("in_corpus"), lit(false)))
      .withColumn("dup_in_batch", col("doc_id") =!= col("first_id"))
      .select(col("doc_id"), col("content_hash"), col("in_corpus"),
        col("dup_in_batch"),
        (!col("in_corpus") && !col("dup_in_batch")).as("keep"))
  }

  /** Batch-distinct-key budget for the broadcast plan: ~16 B of md5 key
    * per distinct batch doc ⇒ 4M keys ≈ 64 MB of broadcast — the same
    * size class as the session's autoBroadcastJoinThreshold. A normal
    * ingest batch sits far under this; a backfill trips the sort-merge
    * fallback.
    */
  private[graft] val incrementalBroadcastKeys = 4L * 1000 * 1000

  val incremental: Q = Q(
    "q_dedup_incremental",
    (s, d) => {
      val prefixKey =
        md5(concat_ws(" ", slice(split(normText, " "), 1, 8)))
      // r16 note: deliberately NOT T.spread — the corpus side's
      // shuffle-free path to the semi join is spec-pinned (PlanGuardSpec),
      // and an up-front exchange would break exactly that property
      val hashed = T.documents(s, d)
        .select(col("doc_id"), col("source"), prefixKey.as("content_hash"))
      val fresh = hashed.where(col("source") === "src7")
        .select("doc_id", "content_hash")
      val corpus = hashed.where(col("source") =!= "src7")
      incrementalVerdicts(fresh, corpus, incrementalBroadcastKeys)
        .transform(Det.sortAll)
    },
    Some("""WITH h AS (
            |  SELECT doc_id, source,
            |         md5(array_to_string(
            |           (regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))[:8],
            |           ' ')) AS content_hash
            |  FROM documents
            |), fresh AS (
            |  SELECT doc_id, content_hash FROM h WHERE source = 'src7'
            |), corpus AS (
            |  SELECT DISTINCT content_hash FROM h WHERE source <> 'src7'
            |)
            |SELECT f.doc_id, f.content_hash,
            |       (c.content_hash IS NOT NULL) AS in_corpus,
            |       f.doc_id <> MIN(f.doc_id) OVER (PARTITION BY f.content_hash) AS dup_in_batch,
            |       ((c.content_hash IS NULL) AND
            |        f.doc_id = MIN(f.doc_id) OVER (PARTITION BY f.content_hash)) AS keep
            |FROM fresh f LEFT JOIN corpus c USING (content_hash)
            |ORDER BY ALL""".stripMargin)
  )

  private val bloomK = 5

  /** Build (or serve from the memo) the corpus membership Bloom filter:
    * m = next-pow2(16 bits/key), k = 5 ⇒ fpp ≈ 1.4e-3. The build is a
    * pure DataFrame plan — k positions per key explode to (word, mask)
    * rows, `bit_or` groupBy OR-folds them map-side (combinable, one
    * shuffle of ≤ m/64 rows), and the dense word array assembles on the
    * driver. Driver traffic is sketch-sized, NOT corpus-sized: 2 B/key,
    * guarded at a 64 MB broadcast budget (≈1.3e8 corpus keys) — past
    * that a production build keeps the sketch as a key-prefix-SHARDED
    * (word, bits) table and the test becomes a shard-local lookup; the
    * dense-array broadcast is the small-regime optimization. The sketch
    * is a per-JVM [[SessionMemo]] entry validated by the corpus
    * fingerprint: a same-path rewrite rebuilds instead of serving stale.
    */
  private[graft] def bloomWords(s: SparkSession, d: String,
      corpus: DataFrame): (Long, Array[Long]) =
    SessionMemo.jvm(s, s"$d/documents.parquet", "bloom") {
      val nKeys = math.max(1L, corpus.count())
      val mBits = math.max(1024L,
        if (16L * nKeys <= 1024L) 1024L
        else java.lang.Long.highestOneBit(16L * nKeys - 1L) << 1)
      val nWords = (mBits / 64L).toInt
      require(nWords <= (8 << 20),
        s"membership sketch $nWords words exceeds the broadcast budget — " +
          "shard the (word, bits) table by key prefix instead")
      val posCols = (0 until bloomK).map(i =>
        xxhash64(col("content_hash"), lit(i)).bitwiseAND(lit(mBits - 1)))
      val rows = corpus
        .select(explode(array(posCols: _*)).as("pos"))
        .select(shiftright(col("pos"), 6).as("word"),
          call_function("shiftleft", lit(1L),
            col("pos").bitwiseAND(lit(63L)).cast("int")).as("mask"))
        .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
        .collect()
      val words = new Array[Long](nWords)
      rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
      (mBits, words)
    }

  /** The membership test as a pure builtin-expression composition — no
    * UDF, whole-stage codegen: k xxhash64 probes, each a constant
    * shift + AND bit test against the plan-constant word array
    * (`element_at` on a literal — the NearestCentroid plan-constant
    * device). The variable-amount shift rides `call_function` since the
    * Scala shiftright binding only takes a literal shift.
    *
    * REGIME BOUND (measured, 100× smoke): a plan-constant literal is
    * embedded in every serialized TASK, not broadcast — at 1.25M words
    * (a 5M-key corpus) the 10 MB array re-ships per task per stage and
    * the serve read 40 s against the family's ~3 s. Callers must route
    * sketches past [[bloomLiteralWords]] through [[bloomHitKeys]]'s
    * broadcast-table form instead.
    */
  private[graft] def bloomTest(key: Column, mBits: Long,
      words: Array[Long]): Column = {
    val arr = typedlit(words.toSeq)
    (0 until bloomK).map { i =>
      val pos = xxhash64(key, lit(i)).bitwiseAND(lit(mBits - 1))
      val word = element_at(arr, (shiftright(pos, 6) + 1).cast("int"))
      call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Plan-literal budget: 64k words = 512 KB embedded per task — cheap.
    * Past it the sketch ships ONCE as a proper broadcast table.
    */
  private[graft] val bloomLiteralWords = 64 * 1024

  /** The bloom-hit key set of `fresh`, served by whichever regime the
    * sketch size demands:
    *
    *  - ≤ literalBudget words: the [[bloomTest]] filter — negatives exit
    *    IN the scan projection, zero extra plan nodes.
    *  - larger: the sketch becomes a broadcast (word, bits) table — k
    *    exploded probes per key broadcast-hash-join their word, the bit
    *    test filters, and a key is a hit iff ALL k probes survive
    *    (count = k groupBy on the key — batch-sized, map-side combined).
    *    The 10 MB ships once per executor instead of once per task; the
    *    corpus still never shuffles. This is also the shape the sharded
    *    >broadcast-budget sketch serves through (the table just stops
    *    being broadcast and buckets by word range).
    *
    * Both regimes emit the identical key set (spec-proven) — the regime
    * is a physical choice, like incrementalVerdicts' broadcast guard.
    */
  private[graft] def bloomHitKeys(s: SparkSession, fresh: DataFrame,
      mBits: Long, words: Array[Long], literalBudget: Int): DataFrame = {
    if (words.length <= literalBudget)
      fresh.where(bloomTest(col("content_hash"), mBits, words))
        .select("content_hash").distinct()
    else {
      // only non-empty words travel: the table is at most one row per
      // set bit's word, typically ~m/64 rows of (long, long)
      val wordsDf = s.createDataFrame(
        words.toIndexedSeq.zipWithIndex.collect {
          case (bits, i) if bits != 0L => (i.toLong, bits)
        }).toDF("word", "bits")
      val probes = fresh.select("content_hash").distinct()
        .select(col("content_hash"), explode(array((0 until bloomK).map(i =>
          xxhash64(col("content_hash"), lit(i)).bitwiseAND(lit(mBits - 1))): _*))
          .as("pos"))
        .select(col("content_hash"), shiftright(col("pos"), 6).as("word"),
          col("pos").bitwiseAND(lit(63L)).cast("int").as("bit"))
      probes.join(broadcast(wordsDf), "word")
        .where(call_function("shiftright", col("bits"), col("bit"))
          .bitwiseAND(lit(1L)) === lit(1L))
        .groupBy("content_hash").agg(count(lit(1)).as("nhit"))
        .where(col("nhit") === bloomK)
        .select("content_hash")
    }
  }

  /** G. Bloom-guarded ingest membership (r8) — the persisted-sketch
    * steady state of [[incremental]]: the corpus's distinct-key set
    * compressed to a 2 B/key Bloom filter that is built ONCE (memoized
    * behind the corpus fingerprint; the AnnIndex persistence discipline
    * applies verbatim — the sketch is the lexical analogue of the LSH
    * signature table) and then answers every future batch's negative
    * verdicts without touching the corpus. q_dedup_incremental pays a
    * narrow corpus scan PER batch; with the sketch, N ingest batches
    * amortize ONE corpus pass — the novel majority of a batch (the
    * steady-state shape: most of today's crawl is new) is decided by
    * the broadcast-resident bit array alone, and only the bloom-hit
    * minority (true matches + fpp·novel ≈ 0.14% stragglers) reaches
    * the exact confirm join, whose broadcast side is hit-sized.
    *
    * The output is EXACT, not approximate — a Bloom filter has no
    * false negatives, so `in_corpus` = bloom_hit ∧ confirmed equals the
    * direct semi-join verdict bit-for-bit, and the DuckDB oracle
    * hash-checks exactly that (the sketch only prunes work, never
    * changes the answer). False-positive rate and build-once behavior
    * are spec-measured.
    */
  val bloomDedup: Q = Q(
    "q_dedup_bloom",
    (s, d) => {
      val prefixKey =
        md5(concat_ws(" ", slice(split(normText, " "), 1, 8)))
      // r16 note: deliberately NOT T.spread — the corpus side's
      // shuffle-free path to the semi join is spec-pinned (PlanGuardSpec),
      // and an up-front exchange would break exactly that property
      val hashed = T.documents(s, d)
        .select(col("doc_id"), col("source"), prefixKey.as("content_hash"))
      val fresh = hashed.where(col("source") === "src7")
        .select("doc_id", "content_hash")
      val corpus = hashed.where(col("source") =!= "src7")
        .select("content_hash")
      val (mBits, words) = bloomWords(s, d, corpus)
      val hitKeys = bloomHitKeys(s, fresh, mBits, words, bloomLiteralWords)
      val collided = corpus
        .join(broadcast(hitKeys), Seq("content_hash"), "left_semi")
        .distinct()
        .withColumn("in_corpus", lit(true))
      fresh
        .join(broadcast(collided), Seq("content_hash"), "left")
        .select(col("doc_id"), col("content_hash"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
        .transform(Det.sortAll)
    },
    Some("""WITH h AS (
            |  SELECT doc_id, source,
            |         md5(array_to_string(
            |           (regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))[:8],
            |           ' ')) AS content_hash
            |  FROM documents
            |), fresh AS (
            |  SELECT doc_id, content_hash FROM h WHERE source = 'src7'
            |), corpus AS (
            |  SELECT DISTINCT content_hash FROM h WHERE source <> 'src7'
            |)
            |SELECT f.doc_id, f.content_hash,
            |       (c.content_hash IS NOT NULL) AS in_corpus
            |FROM fresh f LEFT JOIN corpus c USING (content_hash)
            |ORDER BY ALL""".stripMargin)
  )

  val all: Seq[Q] = Seq(exact, ngramJaccard, ngramRep, containment, minhashLsh,
    minhashRep, simhash, simhashRep, membersManifest, clusters, decontaminate,
    spanDedup, paragraphDedup, incremental, bloomDedup, splitAssign)
}
