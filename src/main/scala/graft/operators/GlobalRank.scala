package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one global-rank device: a running sum (a 1-based rank when the
  * weight is 1) in a global order, with no single-reducer global window.
  * A bare `Window.orderBy` with no partition key funnels the whole
  * relation through one task; this decomposes it in two phases:
  *
  *  1. the caller tiles the order with DETERMINISTIC bucket keys — pure
  *     arithmetic on the sort key (a doc_id width range, a hex prefix of
  *     an md5 key), never a physical partition id, so every
  *     (re-)execution buckets identically — and each bucket's rows are
  *     summed in `order` by a window partitioned on the bucket keys (the
  *     one corpus-sized Exchange, hash on the bucket keys);
  *  2. the per-bucket totals (≤ a few thousand rows at any scale) come to
  *     the driver, are sorted in Spark's own key order (UTF-8 binary for
  *     strings, not `String.compareTo`) and exclusive-scanned into
  *     offsets, which are broadcast-joined back.
  *
  * Bucket ranges must tile the order: every row of an earlier bucket
  * (keys ascending) precedes every row of a later one. The first
  * `restart` keys are a partition prefix — the scan restarts at 0 when
  * they change (0 = one global scan). Bucket keys and the weight must be
  * non-null (a null key never joins its offset).
  */
object GlobalRank {

  /** Adds `out` = the inclusive running sum of `weight` over `order`
    * within each restart group, and returns the grand total of `weight`
    * (free from the phase-2 totals). With a rank `limit` (weight 1),
    * buckets whose exclusive offset is already ≥ limit are dropped by the
    * offsets join before the window shuffles — they cannot hold a rank
    * ≤ limit.
    */
  def running(s: SparkSession, df: DataFrame, buckets: Seq[String],
      restart: Int, order: Seq[Column], weight: Column, out: String,
      limit: Option[Long] = None): (DataFrame, Long) = {
    val totals = df.groupBy(buckets.map(col): _*).agg(sum(weight))
    val keyFields = totals.schema.fields.toSeq.init
    // sorted on the driver in Spark's own ascending order for the key
    // types (the same comparator a Spark sort would run) — no sort job
    val sorted = totals.collect()
      .map(r => (r.toSeq.init, r.getLong(buckets.size)))
      .sortBy(t => InternalRow.fromSeq(t._1.map(CatalystTypeConverters.convertToCatalyst)))(
        InterpretedOrdering.forSchema(keyFields.map(_.dataType)))
    // (key, exclusive offset, inclusive end) per bucket
    val scanned = sorted.scanLeft((Seq.empty[Any], 0L, 0L)) {
      case ((prev, _, end), (k, tot)) =>
        val off = if (k.take(restart) == prev.take(restart)) end else 0L
        (k, off, off + tot)
    }.tail
    val offCol = s"${out}_off"
    val offRows = scanned.collect {
      case (k, off, _) if limit.forall(off < _) => Row.fromSeq(k :+ off)
    }
    val offDf = s.createDataFrame(java.util.Arrays.asList(offRows: _*),
      StructType(keyFields :+ StructField(offCol, LongType)))
    val w = Window.partitionBy(buckets.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.join(broadcast(offDf), buckets)
      .withColumn(out, col(offCol) + sum(weight).over(w))
      .drop(offCol)
    (ranked, sorted.map(_._2).sum)
  }

  /** Arithmetic width buckets over the long column `x`: [mn, mx] cut
    * into ~n ranges, `(x − mn) div width` — exact long floor division
    * (not Column./, an IEEE double division), monotone in x.
    */
  def widthBucket(x: String, mn: Long, mx: Long, n: Int): Column =
    expr(s"($x - ${mn}L) div ${math.max(1L, (mx - mn) / n + 1L)}L")
}
