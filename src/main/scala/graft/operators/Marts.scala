package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Num, Q, T}

/** Staging, intermediate, and mart operators — the reference's dbt model
  * graph re-expressed Spark-first over the driver's star schema.
  *
  * Reference shapes:
  *  - staging projections: dbt/models/staging/stg__*.sql
  *  - 6-way star join + CASE dispatch + COALESCE entity resolution +
  *    derived metrics: dbt/models/intermediate/int_join_spotify_uris.sql
  *  - 3-way join + threshold bucketing:
  *    dbt/models/intermediate/int_useful_youtube_library.sql
  *  - conditional split / grouped branch / UNION ALL / row_number id:
  *    dbt/models/marts/log_for_tableau.sql
  *  - per-row + grouped-string_agg union: dbt/models/marts/log_found_videos.sql
  *  - left anti join: dbt/models/marts/log_not_found_videos.sql
  *
  * All money flows through exact integer cents (see graft.Num) so results
  * are bit-identical regardless of partial-aggregation order — the property
  * that makes the operator deterministic on a 1000-executor cluster, not
  * just on one thread.
  */
object Marts {

  /** A. Column-pruned staging projection with a pushed-down predicate.
    * The filter and the 7-column projection both reach the parquet scan
    * (PushedFilters + ReadSchema) — nothing else is read.
    */
  val stgProjection: Q = Q(
    "q_stg_projection",
    (s, d) => {
      T.lineitem(s, d)
        .where(col("l_quantity") > 10)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_returnflag", "l_linestatus")
        .transform(Det.sortAll)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            |       l_quantity, l_returnflag, l_linestatus
            |FROM lineitem WHERE l_quantity > 10
            |ORDER BY ALL""".stripMargin)
  )

  /** B. The flagship 6-way star join. Fact-to-fact (lineitem↔orders)
    * shuffles on the key; every dimension is broadcast — at 100 TB only
    * the single fact↔fact shuffle remains, dims stay map-side.
    *
    * r16: the fact scan is `T.spread` — on the single-row-group local
    * tables every join probe plus the 14-column projection rode ONE scan
    * task (measured 2×2.1 s serial at sf0.1, the second run being the
    * contract sort's range sampling); the conditional spread makes that
    * work 32-way while staying the identity on any multi-split
    * production table. Below the one-partition bound the contract sort
    * now runs in one task with no sampling job, so the join runs once
    * ([[graft.SmallSortInOneTask]]).
    */
  val starJoin: Q = Q(
    "q_star_join",
    (s, d) => {
      val l = T.spread(s, T.lineitem(s, d))
      val o = T.orders(s, d)
      val c = T.customer(s, d)
      val n = T.nation(s, d)
      val r = T.region(s, d)
      val p = T.part(s, d)
      val sup = T.supplier(s, d)
      val discPct = Num.cents(l("l_discount")) // 0.05 -> 5
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .join(broadcast(p), l("l_partkey") === p("p_partkey"), "left")
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"), "left")
        .select(
          l("l_orderkey"), l("l_linenumber"), o("o_custkey"),
          c("c_name"), n("n_name"), r("r_name"),
          when(l("l_returnflag") === "A", "Album")
            .when(l("l_returnflag") === "R", "Return")
            .otherwise("Track").as("item_type"),
          coalesce(p("p_name"), sup("s_name"), c("c_name")).as("resolved_name"),
          coalesce(p("p_brand"), sup("s_name"), o("o_orderstatus")).as("resolved_source"),
          Num.cents(l("l_extendedprice")).as("price_cents"),
          Num.cents(o("o_totalprice")).as("order_cents"),
          (Num.cents(l("l_extendedprice")) * (lit(100L) - discPct)).as("gross_e4"),
          (l("l_quantity") * lit(100.0) / o("o_totalprice")).as("qty_pct_of_order"),
          Num.hms(Num.secs(l("l_extendedprice"))).as("price_hms"),
          (Num.cents(o("o_totalprice")) - Num.cents(l("l_extendedprice"))).as("difference_cents"))
        .transform(Det.sortAll)
    },
    Some("""WITH j AS (
            |  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
            |         c.c_name, n.n_name, r.r_name,
            |         CASE WHEN l.l_returnflag='A' THEN 'Album'
            |              WHEN l.l_returnflag='R' THEN 'Return'
            |              ELSE 'Track' END AS item_type,
            |         COALESCE(p.p_name, s.s_name, c.c_name) AS resolved_name,
            |         COALESCE(p.p_brand, s.s_name, o.o_orderstatus) AS resolved_source,
            |         CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT) AS price_cents,
            |         CAST(ROUND(o.o_totalprice*100,0) AS BIGINT) AS order_cents,
            |         CAST(ROUND(l.l_discount*100,0) AS BIGINT) AS disc_pct,
            |         l.l_quantity * CAST(100 AS DOUBLE) / o.o_totalprice AS qty_pct_of_order,
            |         CAST(ROUND(l.l_extendedprice,0) AS BIGINT) % 86400 AS sod
            |  FROM lineitem l
            |  JOIN orders o   ON l.l_orderkey = o.o_orderkey
            |  JOIN customer c ON o.o_custkey  = c.c_custkey
            |  JOIN nation n   ON c.c_nationkey = n.n_nationkey
            |  LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
            |  LEFT JOIN part p     ON l.l_partkey = p.p_partkey
            |  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
            |)
            |SELECT l_orderkey, l_linenumber, o_custkey, c_name, n_name, r_name,
            |       item_type, resolved_name, resolved_source,
            |       price_cents, order_cents,
            |       price_cents * (100 - disc_pct) AS gross_e4,
            |       qty_pct_of_order,
            |       concat_ws(':', lpad(CAST(sod//3600 AS VARCHAR),2,'0'),
            |                      lpad(CAST((sod%3600)//60 AS VARCHAR),2,'0'),
            |                      lpad(CAST(sod%60 AS VARCHAR),2,'0')) AS price_hms,
            |       order_cents - price_cents AS difference_cents
            |FROM j ORDER BY ALL""".stripMargin)
  )

  /** B. 3-way join + duration-threshold CASE bucketing
    * (int_useful_youtube_library.sql:22 — `duration_ms < threshold`).
    */
  val enrichedLibrary: Q = Q(
    "q_enriched_library",
    (s, d) => {
      val o = T.orders(s, d)
      val c = T.customer(s, d)
      val n = T.nation(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(
          o("o_orderkey"), o("o_custkey"), c("c_name"), n("n_name"),
          Num.cents(o("o_totalprice")).as("price_cents"),
          when(o("o_totalprice") < 200000.0, "Track")
            .otherwise("Album/Playlist").as("estimated_type"))
        .transform(Det.sortAll)
    },
    Some("""SELECT o.o_orderkey, o.o_custkey, c.c_name, n.n_name,
            |       CAST(ROUND(o.o_totalprice*100,0) AS BIGINT) AS price_cents,
            |       CASE WHEN o.o_totalprice < 200000.0 THEN 'Track'
            |            ELSE 'Album/Playlist' END AS estimated_type
            |FROM orders o
            |JOIN customer c ON o.o_custkey = c.c_custkey
            |JOIN nation n   ON c.c_nationkey = n.n_nationkey
            |ORDER BY ALL""".stripMargin)
  )

  /** B. Left anti join (log_not_found_videos.sql — rows with no match). */
  val notFound: Q = Q(
    "q_not_found",
    (s, d) => {
      val o = T.orders(s, d)
      val l = T.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .transform(Det.sortAll)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
            |FROM orders o
            |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
            |ORDER BY ALL""".stripMargin)
  )

  /** The unioned (pre-numbering) mart frame — log_for_tableau's two
    * conditional branches. Pure function of orders+customer; consumed
    * only by [[martTable]]'s once-per-session build.
    */
  private def martUnionInput(s: SparkSession, d: String): DataFrame = {
    val o = T.orders(s, d)
    val c = T.customer(s, d)
    val base = o.join(c, o("o_custkey") === c("c_custkey"))
    val perRow = base.where(c("c_mktsegment") === "BUILDING").select(
      o("o_orderkey").as("log_id"),
      c("c_custkey"),
      o("o_orderpriority"),
      o("o_orderstatus").as("status_type"),
      Num.cents(o("o_totalprice")).as("price_cents"),
      lit(1L).as("cnt"))
    val grouped = base.where(c("c_mktsegment") =!= "BUILDING")
      .groupBy(c("c_custkey"), o("o_orderpriority"))
      .agg(sum(Num.cents(o("o_totalprice"))).as("price_cents"),
        count(lit(1)).as("cnt"))
      .select(
        lit(null).cast("long").as("log_id"),
        col("c_custkey"), col("o_orderpriority"),
        lit("GROUPED").as("status_type"),
        col("price_cents"), col("cnt"))
    perRow.unionByName(grouped)
  }

  /** The deterministic global numbering of a mart frame with columns
    * (log_id, c_custkey, o_orderpriority, status_type, price_cents, cnt):
    * the reference's row_number() over (order by priority, log_id|-1,
    * custkey) (log_for_tableau.sql:97) as [[GlobalRank.running]] with
    * weight 1. `nB` sizes the bucket widths ONLY — the served ids are
    * identical for every nB and every physical placement (GuardsSpec
    * pins nB=1 vs nB=32, single-partition input, and exchange-reuse
    * disabled against the global row_number).
    *
    * The sort key is a unique total order: log_id = o_orderkey is unique
    * among per-row rows, and grouped rows (log_id null → -1, sorting
    * FIRST within a priority) are unique per (custkey, priority). Bucket
    * = (priority, b2), where b2 width-buckets grouped rows by custkey
    * into [0, nB) and per-row rows by log_id into [nB+1, 2·nB+1) —
    * disjoint ranges, monotone-consistent with the sort order. One cheap
    * stats pass over two pruned long columns sizes the widths.
    */
  private[graft] def numberMart(s: SparkSession, unioned: DataFrame,
      nB: Int): DataFrame = {
    val lid = coalesce(col("log_id"), lit(-1L))
    val st = unioned.agg(min(lid), max(lid), min("c_custkey"), max("c_custkey")).head()
    val Seq(mnL, mxL, mnC, mxC) =
      if (st.isNullAt(0)) Seq.fill(4)(0L) else (0 to 3).map(st.getLong)
    val bucketed = unioned.withColumn("b2",
      when(col("log_id").isNull, GlobalRank.widthBucket("c_custkey", mnC, mxC, nB))
        .otherwise(lit(nB + 1L) + GlobalRank.widthBucket("log_id", mnL, mxL, nB)))
    GlobalRank.running(s, bucketed, Seq("o_orderpriority", "b2"), 0,
        Seq(col("o_orderpriority"), lid, col("c_custkey")), lit(1L), "id")._1
      .withColumn("id", col("id").cast("int"))
      .withColumn("price_cents_fixed",
        when(col("price_cents") === 0L, 1L).otherwise(col("price_cents")))
      .select("id", "log_id", "c_custkey", "o_orderpriority", "status_type",
        "price_cents", "price_cents_fixed", "cnt")
  }

  /** The numbered mart, MATERIALIZED ONCE PER SESSION — the dbt move: the
    * reference builds log_for_tableau once per run (dbt/models/marts/
    * log_for_tableau.sql) and every consumer reads the TABLE; here the
    * numbered frame joins the SessionMemo discipline the signature
    * families already follow (fingerprint-keyed on orders+customer, so an
    * in-session rewrite rebuilds). r13 rebuilt the mart per query and its
    * numbering device drove three actions over a query-lifetime cache —
    * the round's one deliberate perf regression (1.42→2.31 s at sf0.1);
    * now the three actions run once per session and a serve is a read of
    * the materialized mart-sized frame.
    */
  private[graft] def martTable(s: SparkSession, d: String): DataFrame =
    SessionMemo.frames(s, d, "mart", Seq("orders.parquet", "customer.parquet")) {
      import org.apache.spark.storage.StorageLevel
      // build-scoped cache: the numbering device drives three actions
      // over the unioned frame (width stats, bucket totals, the final
      // materialization) — cached for the build, released as soon as the
      // numbered mart is materialized, so only the mart-sized OUTPUT
      // occupies storage for the session's life
      val unioned = martUnionInput(s, d).persist(StorageLevel.MEMORY_AND_DISK)
      val numbered = numberMart(s, unioned,
        math.max(1, s.sparkContext.defaultParallelism))
        .persist(StorageLevel.MEMORY_AND_DISK)
      numbered.count()
      unioned.unpersist(blocking = false)
      Seq(numbered)
    }.head

  /** B. Conditional split → per-row branch + grouped branch → UNION ALL →
    * deterministic row_number id + log-scale zero fixup
    * (log_for_tableau.sql). Serves the session-materialized [[martTable]];
    * the numbering device itself is [[numberMart]].
    */
  val martUnion: Q = Q(
    "q_mart_union",
    (s, d) => martTable(s, d).transform(Det.sortAll),
    Some("""WITH per_row AS (
            |  SELECT o.o_orderkey AS log_id, c.c_custkey, o.o_orderpriority,
            |         o.o_orderstatus AS status_type,
            |         CAST(ROUND(o.o_totalprice*100,0) AS BIGINT) AS price_cents,
            |         CAST(1 AS BIGINT) AS cnt
            |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            |  WHERE c.c_mktsegment = 'BUILDING'
            |), grouped AS (
            |  SELECT CAST(NULL AS BIGINT) AS log_id, c.c_custkey, o.o_orderpriority,
            |         'GROUPED' AS status_type,
            |         CAST(SUM(CAST(ROUND(o.o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS price_cents,
            |         COUNT(*) AS cnt
            |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            |  WHERE c.c_mktsegment <> 'BUILDING'
            |  GROUP BY c.c_custkey, o.o_orderpriority
            |), unioned AS (
            |  SELECT * FROM per_row UNION ALL SELECT * FROM grouped
            |)
            |SELECT ROW_NUMBER() OVER (ORDER BY o_orderpriority, COALESCE(log_id,-1), c_custkey) AS id,
            |       log_id, c_custkey, o_orderpriority, status_type, price_cents,
            |       CASE WHEN price_cents = 0 THEN 1 ELSE price_cents END AS price_cents_fixed,
            |       cnt
            |FROM unioned
            |ORDER BY ALL""".stripMargin)
  )

  /** B. Per-row branch + grouped branch with sorted-distinct string_agg and
    * summed duration → UNION ALL (log_found_videos.sql:44 `string_agg
    * (DISTINCT video_author, '; ')`). Sorting the collected set makes the
    * aggregation deterministic under any shuffle order.
    */
  val foundAgg: Q = Q(
    "q_found_agg",
    (s, d) => {
      // r16: T.spread measured and REJECTED here — the grouped branch's
      // partial collect_set does no map-side row reduction, so fanning
      // the scan to 32 tasks multiplied the per-task aggregation-buffer
      // allocation without shrinking the exchange (bench: wall
      // 1.87→2.26 s, cpuSec 3.0→18.6 at sf0.1); the single-task scan IS
      // the cheaper map side for this shape
      val l = T.lineitem(s, d)
      val o = T.orders(s, d)
      val sup = T.supplier(s, d)
      val base = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      val perRow = base.where(o("o_orderstatus") === "F").select(
        l("l_orderkey"),
        sup("s_name").as("suppliers"),
        Num.cents(l("l_extendedprice")).as("price_cents"),
        lit(1L).as("items"))
      val grouped = base.where(o("o_orderstatus") =!= "F")
        .groupBy(l("l_orderkey"))
        .agg(
          array_join(array_sort(collect_set(sup("s_name"))), "; ").as("suppliers"),
          sum(Num.cents(l("l_extendedprice"))).as("price_cents"),
          count(lit(1)).as("items"))
        .select(col("l_orderkey"), col("suppliers"), col("price_cents"), col("items"))
      perRow.unionByName(grouped)
        .transform(Det.sortAll)
    },
    Some("""WITH per_row AS (
            |  SELECT l.l_orderkey, s.s_name AS suppliers,
            |         CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT) AS price_cents,
            |         CAST(1 AS BIGINT) AS items
            |  FROM lineitem l
            |  JOIN orders o ON l.l_orderkey = o.o_orderkey
            |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
            |  WHERE o.o_orderstatus = 'F'
            |), grouped AS (
            |  SELECT l.l_orderkey,
            |         array_to_string(list_sort(list(DISTINCT s.s_name)), '; ') AS suppliers,
            |         CAST(SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS price_cents,
            |         COUNT(*) AS items
            |  FROM lineitem l
            |  JOIN orders o ON l.l_orderkey = o.o_orderkey
            |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
            |  WHERE o.o_orderstatus <> 'F'
            |  GROUP BY l.l_orderkey
            |)
            |SELECT * FROM (SELECT * FROM per_row UNION ALL SELECT * FROM grouped)
            |ORDER BY ALL""".stripMargin)
  )

  val all: Seq[Q] = Seq(stgProjection, starJoin, enrichedLibrary, notFound,
    martUnion, foundAgg)
}
