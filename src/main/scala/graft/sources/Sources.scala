package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface. The reference lands API extracts (YouTube/Spotify
  * JSON) into BigQuery tables (dags/scripts/youtube_elt.py and
  * spotify_elt.py `load_...` + bigquery.Client); the Spark-native
  * equivalents are schema-on-read loaders and partitioned/bucketed
  * writers:
  *
  *  - parquet: primary columnar format (all driver test tables)
  *  - csv / json(lines): the landing formats of API extracts
  *  - partitioned + bucketed writes: the physical layouts that make the
  *    100 TB joins co-located (bucket join avoids the shuffle entirely)
  *
  * Explicit schemas everywhere — schema inference is a full extra pass at
  * scale and non-deterministic under dirty data.
  */
object Sources {

  /** Parquet is self-describing: its schema is resolved once per session
    * and table content ([[graft.T.read]]), not inferred on every read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    graft.T.read(spark, path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the other columnar interchange format; same pushdown/pruning
    * behavior as parquet under the DataSource V2 scan.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet write — the layout that gives
    * partition pruning on the partition keys for free.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted table write (requires a table catalog): both sides
    * of a recurring equi-join bucketed on the key join without any
    * exchange. This is the 100 TB co-location strategy for
    * lineitem⋈orders-shaped joins.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Z-curve value of two columns: quantize each to at most `bits` bits
    * over its [mn, mx] value range, then interleave the bits so nearby
    * (a, b) points get nearby z-values. Pure builtin bit ops
    * (subtract/shift/and/or), so the whole thing stays inside whole-stage
    * codegen — no UDF, no custom Expression needed.
    *
    * Quantization is a subtract and a RIGHT SHIFT by the smallest s with
    * (mx−mn)>>s < 2^bits — power-of-two bucket widths, exact long
    * arithmetic end to end. (A multiply-then-divide quantizer overflows
    * the long once mx−mn ≥ 2^(63−bits) — e.g. nanosecond-epoch
    * timestamps — and `Column./` is IEEE double division, which rounds
    * across bucket boundaries past 2^53; either failure silently
    * destroys the clustering this function exists for.) Non-power-of-two
    * ranges use between 2^(bits−1) and 2^bits buckets — same asymptotic
    * locality, never a wrong bucket.
    */
  def zValue(a: Column, b: Column, aMin: Long, aMax: Long,
      bMin: Long, bMax: Long, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    require(aMax >= aMin && bMax >= bMin, "empty column range")
    require(BigInt(aMax) - BigInt(aMin) <= Long.MaxValue &&
      BigInt(bMax) - BigInt(bMin) <= Long.MaxValue,
      "column span must fit in a signed 64-bit range")
    def quant(c: Column, mn: Long, mx: Long): Column = {
      val range = mx - mn
      val s = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(range) - bits)
      shiftright(c.cast("long") - lit(mn), s)
    }
    val qa = quant(a, aMin, aMax)
    val qb = quant(b, bMin, bMax)
    (0 until bits).map { i =>
      shiftleft(shiftright(qa, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(qb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order clustered parquet write — the multi-dimensional layout
    * optimization for tables filtered on MORE than one column. A sort on
    * one key gives that key perfect file locality and the other key none
    * (a predicate on the second key must read every file); clustering on
    * the z-curve gives BOTH keys ~√-fraction locality, so min/max
    * statistics (parquet row-group/file footers, the same stats every
    * lakehouse skips by) prune scans on either dimension. At 100 TB this
    * is the difference between "point-ish queries read a few files" and
    * "every query on the non-sort key is a full scan".
    *
    * Layout: range-partition on the z-value (contiguous z-ranges =
    * bounded rectangles in (a, b) space, one per output file), sort
    * within partitions so row-group stats are tight too. The column
    * ranges come from one cheap stats agg (at scale: catalog/footer
    * stats — the write itself is one narrow pass + the range shuffle).
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int, bits: Int = 8): Unit = {
    val r = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    if (r.isNullAt(0) || r.isNullAt(2)) {
      // zero rows (or an all-null cluster column): nothing to cluster —
      // write the empty/unclustered table instead of NPE-ing on the
      // null min/max
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val z = zValue(col(colA), col(colB),
      r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), bits)
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Raw media ingest — the multimodal pipeline's landing step: a
    * directory tree of image/audio/video files read as one row per file
    * (path, modificationTime, length, content: binary), feeding the
    * Multimodal decode seam. `binaryFile` is a real DataSource (splittable
    * listing, partition-discovery on directory keys, pushdown of the
    * `length` filter), not a driver-side file walk — at 100 TB the
    * listing distributes and the oversize guard prunes BEFORE bytes move.
    * `maxBytes` guards the executor heap: one 4 GiB video in a 10 M-file
    * crawl would otherwise ride into a task buffer sized for documents.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*",
      maxBytes: Long = 256L * 1024 * 1024): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .where(col("length") <= maxBytes)

  /** Streaming sink: append stream to partitioned parquet with
    * checkpointing (exactly-once file sink).
    */
  def writeStreamParquet(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
}
