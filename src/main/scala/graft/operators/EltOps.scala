package graft.operators

import org.apache.spark.sql.functions._
import graft.{Det, Num, Q, T}
import graft.functions.Text

/** The reference's Python-ELT compute re-expressed as distributed,
  * codegen'd column pipelines.
  *
  * Reference shapes:
  *  - regex title normalization: dags/scripts/spotify_elt.py:160-212
  *  - argmin-|duration-difference| candidate matching with tolerance:
  *    dags/scripts/spotify_elt.py:249-308 (qsearch_track),
  *    397-490 (qsearch_album)
  *  - substring-containment match counting:
  *    dags/scripts/spotify_elt.py:429 (`track["name"].lower() in description`)
  *  - ISO-8601 duration parsing: dags/scripts/youtube_elt.py (aniso8601)
  */
object EltOps {

  /** E. Full-fidelity fix_title chain (spotify_elt.py:159-212) over
    * synthesized messy titles. The 8 input shapes exercise every step and
    * the per-step empty-undo backstop: "(1990)"-style titles empty step 1
    * and are reset to the original (the year step later yields "()"),
    * "【Complete】" and "[Full Album]" likewise, a bare year survives its
    * own removal. Output carries both the raw reference-faithful
    * fixed_title and graft's lower/collapse canonical form.
    */
  val normalizeTitle: Q = Q(
    "q_normalize_title",
    (s, d) => {
      val p = T.part(s, d)
      val year = (lit(1990) + col("p_size") % 30).cast("string")
      val m = col("p_partkey") % 8
      val raw = when(m === 0, concat(
          col("p_name"), lit(" ("), col("p_brand"), lit(") ["), col("p_type"),
          lit("] -remaster- "), year, lit(" OST | Full Album")))
        .when(m === 1, concat(lit("("), year, lit(")")))
        .when(m === 2, lit("【Complete】"))
        .when(m === 3, lit("[Full Album]"))
        .when(m === 4, concat(col("p_name"), lit(" ‘"), col("p_brand"),
          lit("‘ x:y |a| -live- mix")))
        .when(m === 5, concat(col("p_name"), lit(" - "), col("p_brand"),
          lit(" - "), year, lit(" OST")))
        .when(m === 6, concat(col("p_name"), lit(" - "), col("p_brand")))
        .otherwise(year)
      Text.withFixedTitle(p.select(col("p_partkey"), raw.as("raw_title")),
          col("raw_title"))
        .select("p_partkey", "raw_title", "fixed_title", "normalized")
        .transform(Det.sortAll)
    },
    Some {
      // the reference chain: step k, then undo-to-original if emptied
      val steps = Seq(
        ("""(\((.*?)\)|\[(.*?)\]|【(.*?)】)""", ""),
        ("""( -)(.*?)(- )""", " "),
        ("""\|""", ""),
        (""":""", " "),
        ("""‘""", "'"),
        ("""\B-\B""", ""),
        ("""\bOST\b""", " "),
        ("""\b(19|20)\d{2}\b""", ""),
        ("""(?i)Full Album""", ""))
      val chain = steps.zipWithIndex.map { case ((pat, rep), i) =>
        val sqlRep = rep.replace("'", "''")
        s"""t${i + 1} AS (
           |  SELECT p_partkey, raw_title,
           |         CASE WHEN trim(regexp_replace(s, '$pat', '$sqlRep', 'g')) = ''
           |              THEN raw_title
           |              ELSE regexp_replace(s, '$pat', '$sqlRep', 'g') END AS s
           |  FROM ${if (i == 0) "t0s" else s"t$i"}
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH t0 AS (
         |  SELECT p_partkey,
         |         CASE p_partkey % 8
         |           WHEN 0 THEN p_name || ' (' || p_brand || ') [' || p_type || '] -remaster- '
         |                       || CAST(1990 + p_size % 30 AS VARCHAR) || ' OST | Full Album'
         |           WHEN 1 THEN '(' || CAST(1990 + p_size % 30 AS VARCHAR) || ')'
         |           WHEN 2 THEN '【Complete】'
         |           WHEN 3 THEN '[Full Album]'
         |           WHEN 4 THEN p_name || ' ‘' || p_brand || '‘ x:y |a| -live- mix'
         |           WHEN 5 THEN p_name || ' - ' || p_brand || ' - '
         |                       || CAST(1990 + p_size % 30 AS VARCHAR) || ' OST'
         |           WHEN 6 THEN p_name || ' - ' || p_brand
         |           ELSE CAST(1990 + p_size % 30 AS VARCHAR)
         |         END AS raw_title
         |  FROM part
         |), t0s AS (SELECT p_partkey, raw_title, raw_title AS s FROM t0),
         |$chain
         |SELECT p_partkey, raw_title, s AS fixed_title,
         |       lower(trim(regexp_replace(s, ' +', ' ', 'g'))) AS normalized
         |FROM t9 ORDER BY ALL""".stripMargin
    }
  )

  /** E. Best-candidate match: per order, the lineitem minimizing
    * |price − target| within a tolerance window, deterministic tiebreak.
    * One shuffle (window partition by key); at scale this is the standard
    * argmin-per-key pattern, no cross join.
    */
  val bestMatch: Q = Q(
    "q_best_match",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // r16: T.spread measured and REJECTED here — the argmin window's
      // exchange immediately follows, so the spread added an exchange
      // and 32-way window sort buffers for a net loss (wall 1.54→1.69,
      // cpuSec 1.5→14.2 at sf0.1)
      val l = T.lineitem(s, d)
      val o = T.orders(s, d)
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(l("l_orderkey"), l("l_linenumber"), l("l_partkey"),
          Num.cents(l("l_extendedprice")).as("price_cents"),
          expr("CAST(ROUND(o_totalprice*100,0) AS LONG) div 4").as("target_cents"))
        .withColumn("diff_cents", abs(col("price_cents") - col("target_cents")))
      // (orderkey, linenumber) is not unique in the synthetic data — the
      // tiebreak must reach a fully distinguishing column set.
      val w = Window.partitionBy("l_orderkey")
        .orderBy("diff_cents", "l_linenumber", "l_partkey", "price_cents")
      joined.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("diff_cents") <= 500000L)
        .select("l_orderkey", "l_linenumber", "l_partkey", "diff_cents")
        .transform(Det.sortAll)
    },
    Some("""WITH j AS (
            |  SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
            |         CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT) AS price_cents,
            |         CAST(ROUND(o.o_totalprice*100,0) AS BIGINT) // 4 AS target_cents
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            |), r AS (
            |  SELECT l_orderkey, l_linenumber, l_partkey,
            |         abs(price_cents - target_cents) AS diff_cents,
            |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
            |             ORDER BY abs(price_cents - target_cents), l_linenumber, l_partkey, price_cents) AS rn
            |  FROM j
            |)
            |SELECT l_orderkey, l_linenumber, l_partkey, diff_cents
            |FROM r WHERE rn = 1 AND diff_cents <= 500000
            |ORDER BY ALL""".stripMargin)
  )

  /** E. Substring-containment scoring: count dictionary hits per document.
    * The dictionary is a compile-time literal, so the whole scorer is ONE
    * projection — the sum of eight `instr > 0` terms — inside a single
    * narrow map over the corpus: zero Exchange before the output sort
    * (the r4 shape exploded the corpus ×8 through a broadcast cross join
    * and shuffled it back through a groupBy for the same eight literals).
    */
  val substringScore: Q = Q(
    "q_substring_score",
    (s, d) => {
      val words = Seq("spark", "table", "hash", "merge", "sort", "window",
        "row", "scan")
      val hits = words
        .map(w => when(instr(col("text"), lit(w)) > 0, 1L).otherwise(0L))
        .reduce(_ + _)
      T.documents(s, d)
        .select(col("doc_id"), hits.as("dict_hits"))
        .transform(Det.sortAll)
    },
    // per-ROW on both engines (no GROUP BY): the Spark side is one narrow
    // projection, so the oracle must be row-wise too — a doc_id aggregation
    // would diverge from the plan if doc_id ever held duplicates
    Some("""SELECT doc_id,
            |       CAST((CASE WHEN position('spark' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('table' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('hash' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('merge' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('sort' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('window' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('row' IN text) > 0 THEN 1 ELSE 0 END)
            |          + (CASE WHEN position('scan' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dict_hits
            |FROM documents ORDER BY ALL""".stripMargin)
  )

  /** E. ISO-8601 duration round-trip: synthesize PT…H…M…S strings, parse
    * back to milliseconds with the regexp-composed parser, and verify.
    */
  val iso8601: Q = Q(
    "q_iso8601",
    (s, d) => {
      // single-file test layout -> spread the scan before the regex-heavy
      // narrow parse (r16: via T.spread, so it is literally the identity
      // on a multi-split production table instead of an unconditional
      // exchange)
      val l = T.spread(s, T.lineitem(s, d))
      val h = col("l_linenumber").cast("long")
      val m = col("l_quantity").cast("long")
      val sec = (col("l_partkey") % 60).cast("long")
      val iso = when(col("l_linenumber") % 2 === 0,
        concat(lit("PT"), h.cast("string"), lit("H"), m.cast("string"),
          lit("M"), sec.cast("string"), lit("S")))
        .otherwise(concat(lit("PT"), m.cast("string"), lit("M"),
          sec.cast("string"), lit("S")))
      val expected = when(col("l_linenumber") % 2 === 0,
        (h * 3600L + m * 60L + sec) * 1000L)
        .otherwise((m * 60L + sec) * 1000L)
      // materialize iso as an attribute first: the parser references its
      // input several times (nullif guards), and inlining the when-chain
      // at each reference multiplies the per-row work
      l.select(col("l_orderkey"), col("l_linenumber"), iso.as("iso"),
          expected.as("expected_ms"))
        .withColumn("parsed_ms", Text.iso8601Ms(col("iso")))
        .withColumn("ok", col("parsed_ms") === col("expected_ms"))
        .select("l_orderkey", "l_linenumber", "iso", "parsed_ms", "expected_ms", "ok")
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT l_orderkey, l_linenumber,
            |         CASE WHEN l_linenumber % 2 = 0
            |           THEN 'PT' || CAST(l_linenumber AS VARCHAR) || 'H' ||
            |                CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || 'M' ||
            |                CAST(l_partkey % 60 AS VARCHAR) || 'S'
            |           ELSE 'PT' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || 'M' ||
            |                CAST(l_partkey % 60 AS VARCHAR) || 'S'
            |         END AS iso,
            |         CASE WHEN l_linenumber % 2 = 0
            |           THEN (l_linenumber*3600 + CAST(l_quantity AS BIGINT)*60 + l_partkey % 60) * 1000
            |           ELSE (CAST(l_quantity AS BIGINT)*60 + l_partkey % 60) * 1000
            |         END AS expected_ms
            |  FROM lineitem
            |)
            |SELECT l_orderkey, l_linenumber, iso,
            |       (COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)H', 1), '') AS BIGINT), 0) * 3600
            |      + COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)M', 1), '') AS BIGINT), 0) * 60
            |      + COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)S', 1), '') AS BIGINT), 0)) * 1000 AS parsed_ms,
            |       expected_ms,
            |       ((COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)H', 1), '') AS BIGINT), 0) * 3600
            |       + COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)M', 1), '') AS BIGINT), 0) * 60
            |       + COALESCE(CAST(NULLIF(regexp_extract(iso, '(\d+)S', 1), '') AS BIGINT), 0)) * 1000 = expected_ms) AS ok
            |FROM t ORDER BY ALL""".stripMargin)
  )

  /** E. The composed qsearch found-decision (spotify_elt.py:288-291 for
    * tracks, 454-461 for albums) — the disjunction/conjunction that
    * actually decides a match, not just its pieces:
    *
    *   track: (track-name-in-title AND (is_OST OR artist-in-title OR
    *          artist-in-channel)) OR |duration diff| <= 5 s
    *   album: (album-name-in-title AND artist-in-author) OR
    *          |diff| < 40 s OR (total_tracks >= 4 AND match% >= 60)
    *
    * Candidates are lineitem rows (part = name, supplier = artist);
    * video title/channel/durations are synthesized deterministically so
    * every arm of the predicate fires on some slice. is_ost comes from a
    * \bOST\b regex on the title like the reference's re.search. Pure
    * narrow map after one fact-fact join + two broadcast dims.
    */
  val foundPredicate: Q = Q(
    "q_found_predicate",
    (s, d) => {
      // r16: spread the fact scan — all three joins broadcast on the dev
      // corpus, so the synth-title/regex narrow map otherwise rides the
      // single scan task twice (contract-sort sampling; see T.spread)
      val l = T.spread(s, T.lineitem(s, d))
      val o = T.orders(s, d)
      val p = T.part(s, d)
      val sup = T.supplier(s, d)
      val base = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .select(
          l("l_orderkey"), l("l_linenumber"),
          when(l("l_returnflag") === "A", "Album").otherwise("Track").as("item_type"),
          lower(p("p_name")).as("name"),
          lower(sup("s_name")).as("artist"),
          concat(
            when(l("l_partkey") % 4 === 0, lower(p("p_name")))
              .when(l("l_partkey") % 4 === 1,
                concat(lower(p("p_name")), lit(" by "), lower(sup("s_name"))))
              .when(l("l_partkey") % 4 === 2, concat(lower(sup("s_name")), lit(" live")))
              .otherwise(lit("unrelated video")),
            when(l("l_suppkey") % 5 === 0, lit(" OST")).otherwise(lit(""))).as("title"),
          when(l("l_suppkey") % 3 === 0, concat(lower(sup("s_name")), lit(" - Topic")))
            .otherwise(concat(lit("channel "), l("l_suppkey").cast("string"))).as("channel"),
          ((l("l_orderkey") % 13) * 1000L).as("diff_ms"),
          l("l_quantity").cast("long").as("total_tracks"),
          l("l_linenumber").cast("long").as("track_match_cnt"))
      val hits = base
        .withColumn("is_ost", col("title").rlike("\\bOST\\b"))
        .withColumn("name_in_title", instr(col("title"), col("name")) > 0)
        .withColumn("artist_in_title", instr(col("title"), col("artist")) > 0)
        .withColumn("artist_in_channel", instr(col("channel"), col("artist")) > 0)
        .withColumn("match_pct",
          col("track_match_cnt").cast("double") * 100.0 / col("total_tracks").cast("double"))
      hits
        .withColumn("found",
          when(col("item_type") === "Track",
            (col("name_in_title") &&
              (col("is_ost") || col("artist_in_title") || col("artist_in_channel"))) ||
              col("diff_ms") <= 5000L)
            .otherwise(
              (col("name_in_title") && col("artist_in_channel")) ||
                col("diff_ms") < 40000L ||
                (col("total_tracks") >= 4L && col("match_pct") >= 60.0)))
        .select("l_orderkey", "l_linenumber", "item_type", "is_ost",
          "name_in_title", "artist_in_title", "artist_in_channel", "diff_ms",
          "total_tracks", "track_match_cnt", "found")
        .transform(Det.sortAll)
    },
    Some("""WITH base AS (
            |  SELECT l.l_orderkey, l.l_linenumber,
            |         CASE WHEN l.l_returnflag = 'A' THEN 'Album' ELSE 'Track' END AS item_type,
            |         lower(p.p_name) AS name, lower(s.s_name) AS artist,
            |         (CASE l.l_partkey % 4
            |            WHEN 0 THEN lower(p.p_name)
            |            WHEN 1 THEN lower(p.p_name) || ' by ' || lower(s.s_name)
            |            WHEN 2 THEN lower(s.s_name) || ' live'
            |            ELSE 'unrelated video' END ||
            |          CASE WHEN l.l_suppkey % 5 = 0 THEN ' OST' ELSE '' END) AS title,
            |         CASE WHEN l.l_suppkey % 3 = 0 THEN lower(s.s_name) || ' - Topic'
            |              ELSE 'channel ' || CAST(l.l_suppkey AS VARCHAR) END AS channel,
            |         (l.l_orderkey % 13) * 1000 AS diff_ms,
            |         CAST(l.l_quantity AS BIGINT) AS total_tracks,
            |         CAST(l.l_linenumber AS BIGINT) AS track_match_cnt
            |  FROM lineitem l
            |  JOIN orders o   ON l.l_orderkey = o.o_orderkey
            |  JOIN part p     ON l.l_partkey = p.p_partkey
            |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
            |), hits AS (
            |  SELECT *, regexp_matches(title, '\bOST\b') AS is_ost,
            |         position(name IN title) > 0 AS name_in_title,
            |         position(artist IN title) > 0 AS artist_in_title,
            |         position(artist IN channel) > 0 AS artist_in_channel,
            |         CAST(track_match_cnt AS DOUBLE) * 100.0 / CAST(total_tracks AS DOUBLE) AS match_pct
            |  FROM base
            |)
            |SELECT l_orderkey, l_linenumber, item_type, is_ost, name_in_title,
            |       artist_in_title, artist_in_channel, diff_ms, total_tracks,
            |       track_match_cnt,
            |       CASE WHEN item_type = 'Track'
            |            THEN (name_in_title AND (is_ost OR artist_in_title OR artist_in_channel))
            |                 OR diff_ms <= 5000
            |            ELSE (name_in_title AND artist_in_channel)
            |                 OR diff_ms < 40000
            |                 OR (total_tracks >= 4 AND match_pct >= 60.0) END AS found
            |FROM hits ORDER BY ALL""".stripMargin)
  )

  /** The reference's six ordered find_track query variants
    * (spotify_elt.py:213-245), in try order with their search_type_ids:
    * `track:X artist:Y` (0), bare fixed title (2), quoted fixed title (4),
    * `artist title` (6), then — only when fix_title changed the title —
    * quoted raw title (5) and raw title (3).
    */
  private val variantIds = Seq(0, 2, 4, 6, 5, 3)
  private val variantNames = Map(
    0 -> "track and artist", 2 -> "fixed title", 4 -> "quoted fixed title",
    6 -> "artist and title", 5 -> "quoted raw title", 3 -> "raw title")

  /** E. The qsearch step-escalation loop (spotify_elt.py:213-316
    * `find_track`): try the ordered variants, first hit wins, and record
    * provenance — `found_on_try` = how many variants returned results up
    * to and including the winner (the reference increments step_num only
    * when a search comes back non-empty), `search_type_id` = the winning
    * variant. Items are orders (the per-item search log analog); each
    * variant's first-candidate outcome is synthesized deterministically
    * from the keys so every escalation depth occurs.
    *
    * Spark-first shape: the whole loop is ONE narrow map — the six
    * variants live in a per-row array of structs, applicability /
    * first-hit / step counting are array higher-order functions
    * (filter/get/size), so there is no explode, no re-group shuffle and
    * no window. At 100 TB this runs at scan speed; the oracle expresses
    * the same semantics relationally (cross join + running-sum window).
    */
  val foundOnTry: Q = Q(
    "q_found_on_try",
    (s, d) => foundOnTryBase(s, d).transform(Det.sortAll),
    Some(s"""$foundOnTrySql\nORDER BY ALL""")
  )

  /** D/E. found_by_statistics.sql over the provenance output: records
    * found per winning search type (group by id+name, count).
    */
  val foundByStats: Q = Q(
    "q_found_by_stats",
    (s, d) =>
      foundOnTryBase(s, d)
        .where(col("found"))
        .groupBy("search_type_id", "search_type_name")
        .agg(count(lit(1)).as("records_found"))
        .transform(Det.sortAll),
    Some(s"""WITH fot AS ($foundOnTrySql)
            |SELECT search_type_id, search_type_name, COUNT(*) AS records_found
            |FROM fot WHERE found GROUP BY 1, 2
            |ORDER BY ALL""".stripMargin)
  )

  /** D/E. found_on_try_statistics.sql: records found per escalation depth. */
  val foundOnTryStats: Q = Q(
    "q_found_on_try_stats",
    (s, d) =>
      foundOnTryBase(s, d)
        .where(col("found"))
        .groupBy("found_on_try")
        .agg(count(lit(1)).as("records_found"))
        .transform(Det.sortAll),
    Some(s"""WITH fot AS ($foundOnTrySql)
            |SELECT found_on_try, COUNT(*) AS records_found
            |FROM fot WHERE found GROUP BY 1
            |ORDER BY ALL""".stripMargin)
  )

  /** Session-lifetime memo of the provenance frame, keyed by
    * (session, dataset dir). The reference lands find_track's output
    * ONCE as the spotify_log table and the statistics queries read that
    * table (spotify_elt.py:213–316; found_by_statistics.sql /
    * found_on_try_statistics.sql) — the search loop never re-runs per
    * consumer. Mirroring that: the three registered consumers
    * (q_found_on_try and the two stats regroups) share one persisted
    * materialization instead of re-running the per-row 6-variant search
    * map, which the r10 bench measured as the single largest avoidable
    * cost at 100× (three full corpus passes for one result). NOT
    * CacheBag-tracked — CacheBag releases per query and the point is
    * cross-query reuse; the frame is 5 narrow columns × |orders|,
    * MEMORY_AND_DISK so a tight executor spills instead of OOMing.
    *
    * r12: routed through [[SessionMemo]], which fingerprint-VALIDATES the
    * entry against the physical listing of BOTH source tables — an
    * in-session append or in-place rewrite of orders/customer rebuilds
    * instead of serving stale provenance (ADVICE r11; the trainMerges /
    * IVF memo discipline), and stale-session entries are evicted.
    */
  private def foundOnTryBase(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    SessionMemo.frames(s, d, "fot",
        Seq("orders.parquet", "customer.parquet")) {
      Seq(buildFoundOnTry(s, d))
    }.head

  /** Per-item provenance: one row per order with found / found_on_try /
    * search_type_id(+name). Built once per (session, dataset) via
    * [[foundOnTryBase]].
    */
  private def buildFoundOnTry(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // the test corpus lands as one parquet split; spread it so the heavy
    // per-row variant array runs on every core (a real cluster's scan is
    // already split — this is a no-op there)
    val o = T.orders(s, d).repartition(s.sparkContext.defaultParallelism)
    val c = T.customer(s, d)
    val items = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(
        o("o_orderkey"), o("o_custkey"),
        lower(c("c_name")).as("artist"),
        lower(o("o_orderpriority")).as("name"),
        concat(
          when(o("o_orderkey") % 4 === 0, lower(o("o_orderpriority")))
            .when(o("o_orderkey") % 4 === 1,
              concat(lower(o("o_orderpriority")), lit(" by "), lower(c("c_name"))))
            .when(o("o_orderkey") % 4 === 2, concat(lower(c("c_name")), lit(" live")))
            .otherwise(lit("unrelated video")),
          when(o("o_orderkey") % 5 === 0, lit(" OST")).otherwise(lit(""))).as("title"),
        when(o("o_custkey") % 3 === 0, concat(lower(c("c_name")), lit(" - Topic")))
          .otherwise(concat(lit("channel "), o("o_custkey").cast("string"))).as("channel"),
        (o("o_orderkey") % 3 =!= 0).as("fixed_changed"))
      .withColumn("is_ost", col("title").rlike("\\bOST\\b"))
      .withColumn("name_in_title", instr(col("title"), col("name")) > 0)
      .withColumn("artist_in_channel", instr(col("channel"), col("artist")) > 0)
    // The six variants as a per-row array: each struct carries the
    // reference's try ordinal, its search_type_id, whether the search
    // returned candidates, and whether its first candidate passed the
    // found decision (hit ⇒ has_results).
    val cand = array(variantIds.zipWithIndex.map { case (id, i) =>
      val ord = i + 1
      val hasResults = (col("o_orderkey") * 31 + lit(ord * 13)) % 5 =!= 0
      val nameHit = col("name_in_title") && (col("o_orderkey") + lit(ord)) % 3 =!= 0
      val diffMs = ((col("o_orderkey") * 7 + lit(ord * 11)) % 40) * lit(1000L)
      val hit = hasResults &&
        ((nameHit && (col("is_ost") || col("artist_in_channel"))) || diffMs <= 5000L)
      struct(lit(ord).as("ordinal"), lit(id).as("search_type_id"),
        hasResults.as("has_results"), hit.as("hit"))
    }: _*)
    val typeName = variantNames.foldLeft(lit(null).cast("string")) {
      case (acc, (id, n)) =>
        when(col("winner").getField("search_type_id") === id, n).otherwise(acc)
    }
    items
      .withColumn("app",
        filter(cand, v => v.getField("ordinal") <= 4 || col("fixed_changed")))
      .withColumn("winner", get(filter(col("app"), _.getField("hit")), lit(0)))
      .select(
        col("o_orderkey"),
        col("winner").isNotNull.as("found"),
        when(col("winner").isNotNull,
          size(filter(col("app"), v =>
            v.getField("has_results") &&
              v.getField("ordinal") <= col("winner").getField("ordinal"))))
          .as("found_on_try"),
        col("winner").getField("search_type_id").as("search_type_id"),
        typeName.as("search_type_name"))
  }

  /** DuckDB mirror of [[foundOnTryBase]] (no final ORDER BY; composed by
    * the three oracles above).
    */
  private lazy val foundOnTrySql: String = {
    val variantRows = variantIds.zipWithIndex
      .map { case (id, i) => s"(${i + 1},$id)" }.mkString(",")
    val nameCase = variantNames.toSeq.sortBy(_._1)
      .map { case (id, n) => s"WHEN $id THEN '$n'" }.mkString(" ")
    s"""WITH items AS (
       |  SELECT o.o_orderkey,
       |         lower(c.c_name) AS artist,
       |         lower(o.o_orderpriority) AS name,
       |         (CASE o.o_orderkey % 4
       |            WHEN 0 THEN lower(o.o_orderpriority)
       |            WHEN 1 THEN lower(o.o_orderpriority) || ' by ' || lower(c.c_name)
       |            WHEN 2 THEN lower(c.c_name) || ' live'
       |            ELSE 'unrelated video' END ||
       |          CASE WHEN o.o_orderkey % 5 = 0 THEN ' OST' ELSE '' END) AS title,
       |         CASE WHEN o.o_custkey % 3 = 0 THEN lower(c.c_name) || ' - Topic'
       |              ELSE 'channel ' || CAST(o.o_custkey AS VARCHAR) END AS channel,
       |         o.o_orderkey % 3 <> 0 AS fixed_changed
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |), feat AS (
       |  SELECT *, regexp_matches(title, '\\bOST\\b') AS is_ost,
       |         position(name IN title) > 0 AS name_in_title,
       |         position(artist IN channel) > 0 AS artist_in_channel
       |  FROM items
       |), cand AS (
       |  SELECT f.o_orderkey, f.is_ost, f.name_in_title, f.artist_in_channel,
       |         v.ordinal, v.search_type_id,
       |         ((f.o_orderkey * 31 + v.ordinal * 13) % 5) <> 0 AS has_results
       |  FROM feat f CROSS JOIN (VALUES $variantRows) v(ordinal, search_type_id)
       |  WHERE v.ordinal <= 4 OR f.fixed_changed
       |), hits AS (
       |  SELECT *,
       |         has_results AND (
       |           (name_in_title AND (o_orderkey + ordinal) % 3 <> 0
       |              AND (is_ost OR artist_in_channel))
       |           OR ((o_orderkey * 7 + ordinal * 11) % 40) * 1000 <= 5000) AS hit,
       |         SUM(CASE WHEN has_results THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY o_orderkey ORDER BY ordinal) AS step_num
       |  FROM cand
       |), winners AS (
       |  SELECT o_orderkey, step_num, search_type_id,
       |         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY ordinal) AS rn
       |  FROM hits WHERE hit
       |)
       |SELECT i.o_orderkey,
       |       w.o_orderkey IS NOT NULL AS found,
       |       CAST(w.step_num AS INTEGER) AS found_on_try,
       |       w.search_type_id,
       |       CASE w.search_type_id $nameCase END AS search_type_name
       |FROM items i
       |LEFT JOIN winners w ON i.o_orderkey = w.o_orderkey AND w.rn = 1""".stripMargin
  }

  /** E. The collect_track status decision (spotify_elt.py:317-341): a
    * found track is "skipped (saved before the run)" when it is already
    * in the liked library and the target playlist is the liked-music one,
    * "skipped (saved during the run)" when an earlier item in THIS run
    * already collected the same (track, playlist), else "saved". The
    * during-run membership — the reference scans its in-memory run log —
    * is the first-occurrence window: rank per (track, playlist) in run
    * order, rn>1 means a duplicate within the run. Liked library =
    * broadcast key set; one window shuffle, no driver state.
    *
    * Scale shape (r15, verdict r14 #2): through r14 the plan paid THREE
    * fact-sized exchanges at 100× — the join shuffle, the window's hash
    * exchange on (l_partkey, playlist), and the contract sort's range
    * exchange. The window exchange and the contract sort now SHARE one
    * exchange: the post-join frame is range-partitioned by exactly the
    * window keys, which (a) satisfies the window's ClusteredDistribution
    * (every range key is a clustering key — equal keys co-locate) and
    * (b) is an order-compatible PREFIX of the contract sort, so the
    * final orderBy plans as a partition-local sort with NO new exchange
    * (RangePartitioning satisfies OrderedDistribution on prefix match).
    * The output columns lead with (l_partkey, playlist) to make the
    * contract sort start with the range keys — the oracle's ORDER BY ALL
    * uses the same column order, and the driver's compare sorts columns
    * by name before hashing, so column order is free to choose. The fact
    * side is also projected to the window's columns BEFORE the fact-fact
    * join, so the join and range exchanges move 3-4 narrow columns.
    * The window formulation itself is REQUIRED (r14 adjudication): the
    * fact carries duplicate (l_orderkey, l_linenumber) rows, and exactly
    * one of a duplicated pair is "saved" — a min-key join-back would
    * mark both.
    */
  val collectStatus: Q = Q(
    "q_collect_status",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val l = T.lineitem(s, d)
      val o = T.orders(s, d)
      val p = T.part(s, d)
      val liked = broadcast(p.where(col("p_size") % 7 === 0)
        .select(col("p_partkey").as("lk")))
      val items = l.select("l_orderkey", "l_linenumber", "l_partkey")
        .join(o.select(col("o_orderkey"), col("o_orderpriority").as("playlist")),
          col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      val w = Window.partitionBy("l_partkey", "playlist")
        .orderBy("l_orderkey", "l_linenumber")
      items
        .repartitionByRange(col("l_partkey"), col("playlist"))
        .join(liked, col("l_partkey") === col("lk"), "left")
        .withColumn("rn", row_number().over(w))
        .select(col("l_partkey"), col("playlist"),
          col("l_orderkey"), col("l_linenumber"),
          when(col("lk").isNotNull && col("playlist") === "1-URGENT",
            "skipped (saved before the run)")
            .when(col("rn") > 1, "skipped (saved during the run)")
            .otherwise("saved").as("status"))
        .transform(Det.sortAll)
    },
    Some("""WITH items AS (
            |  SELECT l.l_partkey, o.o_orderpriority AS playlist,
            |         l.l_orderkey, l.l_linenumber
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            |), t AS (
            |  SELECT i.*, p.p_partkey IS NOT NULL AS liked,
            |         ROW_NUMBER() OVER (PARTITION BY i.l_partkey, i.playlist
            |                            ORDER BY i.l_orderkey, i.l_linenumber) AS rn
            |  FROM items i
            |  LEFT JOIN (SELECT p_partkey FROM part WHERE p_size % 7 = 0) p
            |         ON i.l_partkey = p.p_partkey
            |)
            |SELECT l_partkey, playlist, l_orderkey, l_linenumber,
            |       CASE WHEN liked AND playlist = '1-URGENT'
            |              THEN 'skipped (saved before the run)'
            |            WHEN rn > 1 THEN 'skipped (saved during the run)'
            |            ELSE 'saved' END AS status
            |FROM t ORDER BY ALL""".stripMargin)
  )

  /** E. Author/playlist cleanup: strip the "&nbsp;- Topic" suffix YouTube
    * auto-channels carry (spotify_elt.py:217) and drop briefcase-tagged
    * non-music playlists (youtube_elt.py:115, `"💼" not in title`) — the
    * predicate deliberately exercises a non-BMP (astral-plane) literal
    * through both engines' string encodings.
    */
  val topicCleanup: Q = Q(
    "q_topic_cleanup",
    (s, d) => {
      val c = T.customer(s, d)
      val author = when(c("c_custkey") % 3 === 0,
        concat(c("c_name"), lit(" - Topic"))).otherwise(c("c_name"))
      val title = when(c("c_custkey") % 4 === 0,
        concat(lit("💼 "), c("c_name"))).otherwise(concat(lit("playlist "), c("c_name")))
      c.select(c("c_custkey"), title.as("title"), author.as("author"),
          regexp_replace(author, " - Topic", "").as("clean_author"))
        .where(!col("title").contains("💼"))
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT c_custkey,
            |         CASE WHEN c_custkey % 4 = 0 THEN '💼 ' || c_name
            |              ELSE 'playlist ' || c_name END AS title,
            |         CASE WHEN c_custkey % 3 = 0 THEN c_name || ' - Topic'
            |              ELSE c_name END AS author
            |  FROM customer
            |)
            |SELECT c_custkey, title, author,
            |       regexp_replace(author, ' - Topic', '', 'g') AS clean_author
            |FROM t
            |WHERE position('💼' IN title) = 0
            |ORDER BY ALL""".stripMargin)
  )

  val all: Seq[Q] = Seq(normalizeTitle, bestMatch, substringScore, iso8601,
    foundPredicate, foundOnTry, foundByStats, foundOnTryStats, collectStatus,
    topicCleanup)
}
