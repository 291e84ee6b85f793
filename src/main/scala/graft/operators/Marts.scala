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

  /** The deterministic two-phase global numbering device over a mart
    * frame with columns (log_id, c_custkey, o_orderpriority, status_type,
    * price_cents, cnt). `nB` sizes the bucket widths ONLY — the served
    * ids are identical for every nB and every physical placement
    * (GuardsSpec pins nB=1 vs nB=32, single-partition input, and
    * exchange-reuse disabled against the global row_number).
    */
  private[graft] def numberMart(s: SparkSession, unioned: DataFrame,
      nB: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
      // Two-phase global numbering over a DETERMINISTIC key-arithmetic
      // bucket (the Assembly.prefixSum device). A bare Window.orderBy
      // would funnel the whole mart through one task (WindowExec: No
      // Partition Defined); the reference's row_number() over (order by …)
      // gets away with it only because BigQuery reshuffles internally
      // (log_for_tableau.sql:97). The r12 variant bucketed by
      // spark_partition_id() over a repartitionByRange exchange — ids
      // desynchronize if the local-rank and totals subtrees ever plan
      // SEPARATE range samplings, so its correctness leaned on the
      // ReuseExchange rule (exactly the hazard q_pack_sequences' scaladoc
      // bans). r13: the bucket is pure arithmetic on the sort key itself —
      // identical on every (re-)execution, no placement dependence.
      //
      // Sort key (priority, log_id|-1, custkey) is a unique total order:
      // log_id = o_orderkey is unique among per-row rows, and grouped
      // rows (log_id null → -1, sorting FIRST within a priority) are
      // unique per (custkey, priority). Bucket = (priority, b2) where b2
      // range-partitions grouped rows by custkey and per-row rows by
      // log_id into disjoint numeric ranges — monotone-consistent with
      // the sort order, so global rank = rank within bucket + count of
      // earlier buckets. One cheap stats pass over two pruned long
      // columns sizes the widths; the totals are ≤ |priorities|·(2·nB+2)
      // rows, exclusive-scanned on the driver and broadcast back.
      val sortKeys = Seq(col("o_orderpriority"),
        coalesce(col("log_id"), lit(-1L)), col("c_custkey"))
      val st = unioned.agg(
        min(coalesce(col("log_id"), lit(-1L))), max(coalesce(col("log_id"), lit(-1L))),
        min(col("c_custkey")), max(col("c_custkey"))).head()
      val (mnL, mxL, mnC, mxC) =
        if (st.isNullAt(0)) (0L, 0L, 0L, 0L)
        else (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      val wL = math.max(1L, (mxL - mnL) / nB + 1L)
      val wC = math.max(1L, (mxC - mnC) / nB + 1L)
      // exact long floor division (`div`), monotone in its key; grouped
      // rows land in [0, nB), per-row rows in [nB+1, 2·nB+1)
      val bucketed = unioned.withColumn("b2", expr(
        s"CASE WHEN log_id IS NULL THEN (c_custkey - ${mnC}L) div ${wC}L " +
          s"ELSE ${nB + 1}L + (coalesce(log_id, -1L) - ${mnL}L) div ${wL}L END"))
      val wLocal = Window.partitionBy("o_orderpriority", "b2")
        .orderBy(sortKeys: _*)
      val local = bucketed.withColumn("local_rn",
        row_number().over(wLocal).cast("long"))
      // phase 2: exclusive scan over the tiny (priority, b2) totals on
      // the driver — priorities are ASCII, so the driver's string sort
      // matches Spark's UTF8 binary ordering
      val totals = bucketed.groupBy("o_orderpriority", "b2")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy { case (p, b, _) => (p, b) }
      val offsets = totals
        .scanLeft((("", Long.MinValue), 0L)) {
          case (((_, _), acc), (p, b, n)) => ((p, b), acc + n)
        }
        .sliding(2).collect {
          case Array(((_, _), off), ((p, b), _)) => (p, b, off)
        }.toSeq
      val offDf = s.createDataFrame(offsets)
        .toDF("o_orderpriority", "b2", "off")
      local
        .join(broadcast(offDf), Seq("o_orderpriority", "b2"))
        .withColumn("id", (col("local_rn") + col("off")).cast("int"))
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
