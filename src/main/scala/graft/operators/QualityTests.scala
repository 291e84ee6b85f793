package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Det, Num, Q, T}

/** The reference's dbt data-quality tests as engine operators.
  *
  * Reference shapes:
  *  - count reconciliation (total = matched + unmatched):
  *    dbt/tests/no_lost_videos.sql
  *  - join + SUM-vs-stored-column mismatch finder:
  *    dbt/macros/tests/test_duration_match.sql
  *  - join + COUNT-vs-declared-count mismatch finder:
  *    dbt/macros/tests/test_tracks_count_match.sql
  */
object QualityTests {

  /** C. Single-row reconciliation: |orders| = |with lineitems| + |without|.
    * Three independent aggregates cross-joined — each is a one-pass
    * partial-agg count, no data ever reaches the driver.
    */
  val reconcile: Q = Q(
    "q_reconcile",
    (s, d) => {
      // single pass: one left join against the distinct fact keys computes
      // all three counts (vs. separate semi/anti scans — at 100 TB this is
      // one shuffle instead of three full-table reads)
      val o = T.orders(s, d)
      val m = T.lineitem(s, d).select("l_orderkey").distinct()
      o.join(m, o("o_orderkey") === m("l_orderkey"), "left")
        .agg(count(lit(1)).as("total_cnt"),
          count(m("l_orderkey")).as("matched_cnt"))
        .withColumn("unmatched_cnt", col("total_cnt") - col("matched_cnt"))
        .withColumn("ok", col("total_cnt") === col("matched_cnt") + col("unmatched_cnt"))
        .transform(Det.sortAll)
    },
    Some("""SELECT
            |  (SELECT COUNT(*) FROM orders) AS total_cnt,
            |  (SELECT COUNT(*) FROM orders o
            |    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS matched_cnt,
            |  (SELECT COUNT(*) FROM orders o
            |    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS unmatched_cnt,
            |  ((SELECT COUNT(*) FROM orders) =
            |   (SELECT COUNT(*) FROM orders o
            |     WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) +
            |   (SELECT COUNT(*) FROM orders o
            |     WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))) AS ok
            |ORDER BY ALL""".stripMargin)
  )

  /** C. SUM-vs-stored-column mismatch finder in exact integer cents. */
  val sumMatch: Q = Q(
    "q_sum_match",
    (s, d) => {
      val o = T.orders(s, d)
      val l = T.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey"), o("o_totalprice"))
        .agg(sum(Num.cents(l("l_extendedprice"))).as("summed_cents"))
        .select(
          col("o_orderkey"),
          Num.cents(col("o_totalprice")).as("declared_cents"),
          col("summed_cents"),
          (Num.cents(col("o_totalprice")) - col("summed_cents")).as("diff_cents"))
        .where(col("declared_cents") =!= col("summed_cents"))
        .transform(Det.sortAll)
    },
    Some("""WITH g AS (
            |  SELECT o.o_orderkey,
            |         CAST(ROUND(o.o_totalprice*100,0) AS BIGINT) AS declared_cents,
            |         CAST(SUM(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS summed_cents
            |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            |  GROUP BY o.o_orderkey, o.o_totalprice
            |)
            |SELECT o_orderkey, declared_cents, summed_cents,
            |       declared_cents - summed_cents AS diff_cents
            |FROM g WHERE declared_cents <> summed_cents
            |ORDER BY ALL""".stripMargin)
  )

  /** C. COUNT-vs-declared mismatch finder (declared count derived
    * deterministically from the key, standing in for the reference's
    * stored `total_tracks` column).
    */
  val countMatch: Q = Q(
    "q_count_match",
    (s, d) => {
      val o = T.orders(s, d)
      val l = T.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey"))
        .agg(count(lit(1)).as("actual_cnt"))
        .withColumn("declared_cnt", (col("o_orderkey") % 5) + 1)
        .where(col("declared_cnt") =!= col("actual_cnt"))
        .select("o_orderkey", "declared_cnt", "actual_cnt")
        .transform(Det.sortAll)
    },
    Some("""WITH g AS (
            |  SELECT o.o_orderkey, COUNT(*) AS actual_cnt,
            |         (o.o_orderkey % 5) + 1 AS declared_cnt
            |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            |  GROUP BY o.o_orderkey
            |)
            |SELECT o_orderkey, declared_cnt, actual_cnt
            |FROM g WHERE declared_cnt <> actual_cnt
            |ORDER BY ALL""".stripMargin)
  )

  /** Referential-integrity probe: child rows whose non-null FK has no
    * parent (dbt `relationships`). Anti join — broadcast when the parent
    * key set fits, AQE shuffle otherwise; never a driver collect. The
    * parent side is not de-duplicated: an anti join's output does not
    * depend on duplicate right-side keys, so a distinct would only add an
    * aggregate stage.
    */
  private[graft] def fkTest(name: String, child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String): DataFrame =
    child.where(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)), Seq(fkCol), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_failures"))
      .select(lit(name).as("test_name"), col("n_failures"))

  /** C. The reference's GENERIC dbt test battery — the YAML-declared
    * schema tests (dbt_utils / dbt_expectations) that its model files
    * carry alongside the three bespoke SQL tests:
    *
    *  - `unique` / `not_null` on keys
    *    (dbt/models/staging/_staging__models.yml:8-9)
    *  - `accepted_values`
    *    (dbt/models/intermediate/_intermediate__models.yml:20-21)
    *  - `relationships` FK tests (staging yml:47-49)
    *  - `dbt_utils.equal_rowcount` (intermediate yml:7-9)
    *  - `dbt_utils.unique_combination_of_columns` (intermediate yml:10-14)
    *  - `dbt_utils.expression_is_true` (intermediate yml:30-34)
    *  - `dbt_expectations.expect_column_values_to_match_regex`
    *    (intermediate yml:24-26)
    *  - `dbt_expectations.expect_column_values_to_be_of_type`
    *    (staging yml:10-12) — a catalog-metadata check, not a data scan
    *
    * Output contract is dbt's: one row per test, n_failures = 0 ⇔ pass.
    * Scale shape: every single-table test in the battery is compiled into
    * ONE map-side-combined aggregate over ONE column-pruned scan of its
    * table (not one scan per test — at 100 TB the battery must not
    * multiply corpus reads), unpivoted to test rows; only the FK tests
    * add joins, each AQE-managed. `unique` reports EXCESS ROWS
    * (count - count distinct; dbt reports duplicated values — same
    * zero-set, cheaper by one shuffle since count(distinct) rides the
    * same Expand aggregate). The exact multi-distinct is the q_profile
    * trade: the 100 TB flip is approx_count_distinct, same plan shape.
    */
  val schemaTests: Q = Q(
    "q_schema_tests",
    (s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, DataType}
      def rows(pairs: (String, Column)*): Column =
        explode(array(pairs.map { case (n, c) =>
          struct(lit(n).as("test_name"), c.cast("long").as("n_failures"))
        }: _*))

      val ordersBattery = T.orders(s, d)
        .agg(
          count(when(col("o_orderkey").isNull, 1)).as("t1"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("t2"),
          count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)).as("t3"),
          count(when(col("o_totalprice") < 0, 1)).as("t4"),
          count(when(!col("o_orderpriority").rlike("^[1-5]-"), 1)).as("t5"),
          count(when(col("o_custkey").isNull, 1)).as("t6"))
        .select(rows(
          "not_null: orders.o_orderkey" -> col("t1"),
          "unique: orders.o_orderkey" -> col("t2"),
          "accepted_values: orders.o_orderstatus in (F,O,P)" -> col("t3"),
          "expression_is_true: orders.o_totalprice >= 0" -> col("t4"),
          "match_regex: orders.o_orderpriority ^[1-5]-" -> col("t5"),
          "not_null: orders.o_custkey" -> col("t6")).as("r"))
        .select(col("r.test_name").as("test_name"), col("r.n_failures").as("n_failures"))

      val lineitemBattery = T.lineitem(s, d)
        .agg(
          count(when(!col("l_returnflag").isin("A", "N", "R"), 1)).as("t1"),
          count(when(!(col("l_quantity") > 0), 1)).as("t2"))
        .select(rows(
          "accepted_values: lineitem.l_returnflag in (A,N,R)" -> col("t1"),
          "expression_is_true: lineitem.l_quantity > 0" -> col("t2")).as("r"))
        .select(col("r.test_name").as("test_name"), col("r.n_failures").as("n_failures"))

      // unique_combination on a key where NEITHER column is unique alone —
      // the reference's (video_id, spotify_playlist_id) shape. The
      // synthetic lineitem deliberately has no composite key (the
      // generator samples line numbers independently), so the event
      // stream's natural (user, event-time) identity carries this test.
      // countDistinct over the STRUCT, not the bare column pair:
      // count(DISTINCT a, b) drops rows where either column is NULL,
      // while the DuckDB oracle's SELECT DISTINCT user_id, ts counts
      // NULL tuples — struct(a, b) is itself never NULL, and distinct
      // aggregation compares its fields null-safely, matching the
      // oracle's row-value semantics if a null key ever appears.
      val eventsBattery = T.events(s, d)
        .agg(
          (count(lit(1)) - countDistinct(struct(col("user_id"), col("ts")))).as("t1"),
          count(when(col("event_type").isNull, 1)).as("t2"))
        .select(rows(
          "unique_combination: events.(user_id,ts)" -> col("t1"),
          "not_null: events.event_type" -> col("t2")).as("r"))
        .select(col("r.test_name").as("test_name"), col("r.n_failures").as("n_failures"))

      val customerBattery = T.customer(s, d)
        .agg(
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("t1"),
          count(when(col("c_name").isNull, 1)).as("t2"))
        .select(rows(
          "unique: customer.c_custkey" -> col("t1"),
          "not_null: customer.c_name" -> col("t2")).as("r"))
        .select(col("r.test_name").as("test_name"), col("r.n_failures").as("n_failures"))

      val fks = Seq(
        fkTest("relationships: lineitem.l_orderkey -> orders.o_orderkey",
          T.lineitem(s, d), "l_orderkey", T.orders(s, d), "o_orderkey"),
        fkTest("relationships: orders.o_custkey -> customer.c_custkey",
          T.orders(s, d), "o_custkey", T.customer(s, d), "c_custkey"),
        fkTest("relationships: customer.c_nationkey -> nation.n_nationkey",
          T.customer(s, d), "c_nationkey", T.nation(s, d), "n_nationkey"),
        fkTest("relationships: nation.n_regionkey -> region.r_regionkey",
          T.nation(s, d), "n_regionkey", T.region(s, d), "r_regionkey"))

      // equal_rowcount: the staging model is a projection of its source,
      // so equality is structural on a healthy run — exactly the posture
      // of the reference's equal_rowcount(int_join_spotify_uris,
      // stg__spotify_log): a regression tripwire, not a live invariant.
      val equalRowcount = T.lineitem(s, d).agg(count(lit(1)).as("a"))
        .crossJoin(Staging.lineitem(s, d).agg(count(lit(1)).as("b")))
        .select(lit("equal_rowcount: stg_lineitem = lineitem").as("test_name"),
          abs(col("a") - col("b")).cast("long").as("n_failures"))

      // expect_column_values_to_be_of_type compiles to an
      // information_schema probe in dbt_expectations — catalog metadata,
      // zero data scanned on either engine.
      def typeTest(name: String, df: DataFrame, c: String, dt: DataType): DataFrame =
        s.range(1).select(lit(name).as("test_name"),
          lit(if (df.schema(c).dataType == dt) 0L else 1L).as("n_failures"))

      val types = Seq(
        typeTest("column_type: orders.o_orderkey bigint", T.orders(s, d), "o_orderkey", LongType),
        typeTest("column_type: documents.text string", T.documents(s, d), "text", StringType))

      (Seq(ordersBattery, lineitemBattery, eventsBattery, customerBattery,
          equalRowcount) ++ fks ++ types)
        .reduce(_.unionByName(_))
        .withColumn("ok", col("n_failures") === 0L)
        .transform(Det.sortAll)
    },
    Some("""WITH t AS (
            |  SELECT 'not_null: orders.o_orderkey' AS test_name,
            |         (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS n_failures
            |  UNION ALL SELECT 'unique: orders.o_orderkey',
            |         (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
            |  UNION ALL SELECT 'accepted_values: orders.o_orderstatus in (F,O,P)',
            |         (SELECT COUNT(*) FROM orders WHERE NOT (o_orderstatus IN ('F','O','P')))
            |  UNION ALL SELECT 'expression_is_true: orders.o_totalprice >= 0',
            |         (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
            |  UNION ALL SELECT 'match_regex: orders.o_orderpriority ^[1-5]-',
            |         (SELECT COUNT(*) FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-'))
            |  UNION ALL SELECT 'not_null: orders.o_custkey',
            |         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
            |  UNION ALL SELECT 'unique_combination: events.(user_id,ts)',
            |         (SELECT COUNT(*) FROM events)
            |         - (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, ts FROM events))
            |  UNION ALL SELECT 'not_null: events.event_type',
            |         (SELECT COUNT(*) FROM events WHERE event_type IS NULL)
            |  UNION ALL SELECT 'accepted_values: lineitem.l_returnflag in (A,N,R)',
            |         (SELECT COUNT(*) FROM lineitem WHERE NOT (l_returnflag IN ('A','N','R')))
            |  UNION ALL SELECT 'expression_is_true: lineitem.l_quantity > 0',
            |         (SELECT COUNT(*) FROM lineitem WHERE NOT (l_quantity > 0))
            |  UNION ALL SELECT 'unique: customer.c_custkey',
            |         (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
            |  UNION ALL SELECT 'not_null: customer.c_name',
            |         (SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
            |  UNION ALL SELECT 'relationships: lineitem.l_orderkey -> orders.o_orderkey',
            |         (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
            |            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            |  UNION ALL SELECT 'relationships: orders.o_custkey -> customer.c_custkey',
            |         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
            |            AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
            |  UNION ALL SELECT 'relationships: customer.c_nationkey -> nation.n_nationkey',
            |         (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
            |            AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
            |  UNION ALL SELECT 'relationships: nation.n_regionkey -> region.r_regionkey',
            |         (SELECT COUNT(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
            |            AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
            |  UNION ALL SELECT 'equal_rowcount: stg_lineitem = lineitem',
            |         ABS((SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM lineitem))
            |  UNION ALL SELECT 'column_type: orders.o_orderkey bigint',
            |         CASE WHEN (SELECT typeof(o_orderkey) FROM orders LIMIT 1) = 'BIGINT' THEN 0 ELSE 1 END
            |  UNION ALL SELECT 'column_type: documents.text string',
            |         CASE WHEN (SELECT typeof(text) FROM documents LIMIT 1) = 'VARCHAR' THEN 0 ELSE 1 END
            |)
            |SELECT test_name, CAST(n_failures AS BIGINT) AS n_failures,
            |       n_failures = 0 AS ok
            |FROM t ORDER BY ALL""".stripMargin)
  )

  val all: Seq[Q] = Seq(reconcile, sumMatch, countMatch, schemaTests)
}
