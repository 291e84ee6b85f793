package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory. Tuned for local[32] testing but the settings are the
  * ones you'd ship to a 1000-executor cluster: AQE on (runtime re-plan,
  * skew-join splitting, partition coalescing), UTC, and a shuffle
  * parallelism matched to the environment instead of the 200 default.
  * Every session carries [[GraftExtensions]]: graft's SQL functions and
  * the one-task sort of small results ([[SmallSortInOneTask]]).
  */
object GraftSession {
  def apply(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS); Spark's reader has no
      // nanos timestamp type — read as Long nanos and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner is GC-driven: broadcast/shuffle/RDD blocks are
      // strongly held by the BlockManager until the cleaner processes the
      // weak-ref queue, which only fills after a DRIVER GC collects the
      // small wrapper objects. A long-lived large-heap JVM (the 100×
      // smoke: 150+ query executions in one 32 GiB local[32] process)
      // full-GCs rarely, so reclaimable-in-principle blocks accumulate
      // until an allocation fails mid-query — the allocation does not
      // wait for the async cleaner, so it OOMs even though the state was
      // garbage (r7: q_found_agg's sustained p3 re-time died this way
      // after both scored passes completed). The default periodic-GC
      // interval is 30 min — longer than the whole run; 1 min bounds
      // accumulation to a minute of query executions.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // collect_set/collect_list aggregations: the default sort-based
      // fallback fires at 128 in-memory groups, turning every real grouped
      // string-agg into an external sort — but an UNBOUNDED hash threshold
      // is the opposite failure: the r8 100× smoke OOM'd q_found_agg's
      // grouped branch inside ObjectAggregationIterator (45M orderkey
      // groups / 32 concurrent tasks, each task allowed 5M live buffers ×
      // ~1 KB before fallback ⇒ tens of GiB of aggregation state). The
      // threshold is the number of PER-TASK in-memory group buffers, so it
      // must be sized from heap ÷ concurrent tasks, not a constant: a
      // quarter of each task's heap share at ~1 KB/buffer, floored at 64k
      // (collect-aggs stay hash-based on every realistic dev corpus) and
      // capped at 1M. Tasks past the threshold switch to the spillable
      // sort-based path — bounded memory is the scale-correct behavior,
      // the spill only touches the mass-group tail.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        math.max(65536L, math.min(1000000L,
          Runtime.getRuntime.maxMemory / math.max(1, shufflePartitions) / 1024 / 4)).toString)
      // r17 (verdict r16 next-round #1): local file:// I/O must never fork
      // a child process — the default RawLocalFileSystem shells out to
      // `chmod` on every create() when the native hadoop lib is absent,
      // and the driver's sandbox cannot spawn processes (the VERIFY_r16
      // tests_ok=false failure). See [[NoForkFs]]. Both Hadoop APIs:
      // FileSystem, and FileContext (streaming checkpoints).
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NoForkLocalFs].getName)
      .config("spark.ui.enabled", "false")
      // Compile each generated class once per JVM. Spark's codegen cache
      // is JVM-wide but keyed on (thread context class loader, source).
      // With artifact isolation on (the Spark 4 default) every session's
      // tasks run under their own class loader, so nothing one session
      // compiled served the next. graft adds no session artifacts (no
      // addArtifact or addJar) and runs no Spark Connect, so isolation
      // buys it nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The cache holds 100 classes by default, fewer than one perfbench
      // ingest cycle compiles (its q_ann_lsh re-serve alone compiles 119),
      // so LRU evicted each class before its next use, even in one
      // session. With both settings (4 vCPUs) the re-serves after each
      // micro-batch compile 9, 0, 0, 0 classes instead of 119 each, and
      // ingest query_p50_s fell 27% (median of 10 pairs); the marts
      // measured pass compiles 345 classes instead of 391. Spark reads the
      // size once, when CodeGenerator first initialises, so a non-Graft
      // session used first fixes it at 100.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Parquet table loaders. Column pruning + predicate pushdown reach the
  * scan because we never materialize intermediates. Every read goes
  * through [[read]], which passes the table's schema explicitly: it is
  * resolved once per session and table content (the `schema.<table>`
  * family of [[graft.operators.SessionMemo]]), so only the first read of
  * a table in a session runs Spark's footer-reading inference job, and
  * an in-place rewrite or append infers again.
  */
object T {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** A parquet read with the session-resolved schema. On a miss the
    * inferring read is itself the frame returned (resolving the relation
    * again with `.schema(...)` would list and plan it twice). A path that
    * is not there as written (missing, or a glob) is left to Spark's own
    * inference and error reporting.
    */
  def read(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) {
      var inferred: Option[DataFrame] = None
      val schema = graft.operators.SessionMemo.schema(s, path) {
        inferred = Some(s.read.parquet(path)); inferred.get
      }
      inferred.getOrElse(s.read.schema(schema).parquet(path))
    } else s.read.parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** Events with `ts` normalized to LONG EPOCH NANOS regardless of the
    * table's physical timestamp encoding. The driver's generator has
    * shipped both TIMESTAMP(NANOS) (reads as long under the session's
    * nanosAsLong flag) and TIMESTAMP(MICROS) (reads as timestamp_ntz) —
    * every event-time operator computes on the one long-nanos axis, so
    * the encoding difference must die here, not in each query. The
    * micros→nanos widening is exact integer arithmetic (×1000); the NTZ
    * cast interprets naive micros in the session's UTC zone, matching
    * DuckDB's naive-timestamp epoch functions on the oracle side.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a parallelism-deficient scan (optimization guide §2.5, "input
    * skew: one huge unsplittable file ... otherwise repartition
    * immediately after the read"). The local test tables are single-file,
    * single-row-group parquet, so every scan is ONE effective task and
    * all per-row compute that rides the scan stage — broadcast-join
    * probes, heavy projections, explode + map-side partial aggregation —
    * runs on 1 of N cores (r16 measured: q_star_join spent 2×2.1 s in
    * back-to-back 1-effective-task stages at sf0.1 while 31 cores idled;
    * the second was the `Det.sortAll` range-sampling job re-running the
    * same work, which a sort of that size no longer has — see [[Det]]).
    *
    * The repartition is CONDITIONAL on the scan actually planning fewer
    * splits than half the cores, so it is scale-adaptive rather than a
    * local-mode constant: any multi-split production table (every
    * MakeScale corpus — `outParts` ≥ cores — and anything at 100 TB)
    * keeps its native scan partitioning and no exchange enters the plan.
    * `getNumPartitions` only plans the scan (no job). Round-robin, not
    * key-hash: the callers' downstream keys differ, and output
    * determinism never rests on placement (every oracled query ends in
    * a total sort; aggregation is exact-integer by the graft.Num rule).
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val parts = df.rdd.getNumPartitions
    if (parts * 2 < s.sparkContext.defaultParallelism)
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }
}

/** Numeric conventions for engine-independent determinism.
  *
  * Money lives on a cent grid stored as double; floating aggregation is
  * order-dependent and therefore non-deterministic under distributed
  * partial aggregation. We normalize to exact integer cents
  * (`round(x*100, 0)` never sits on a .5 tie because the source grid is
  * within 1e-9 of an integer) and aggregate in Long — exact, associative,
  * deterministic on any cluster size. Ratios come back to double via IEEE
  * division of exact integers.
  */
object Num {
  /** Exact integer cents from a cent-grid double. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Whole seconds from a cent-grid double (positive), half-up. */
  def secs(c: Column): Column = round(c, 0).cast("long")

  /** 'HH:MM:SS' rendering of a second-of-day count (mod 24h) — the
    * Spark-side equivalent of the reference's
    * `time(timestamp_seconds(div(ms,1000)))`
    * (reference: dbt/models/intermediate/int_join_spotify_uris.sql:131).
    */
  def hms(s: Column): Column = {
    val sod = s % 86400L
    val h = (sod / 3600L).cast("long")
    val m = ((sod % 3600L) / 60L).cast("long")
    val sec = (sod % 60L).cast("long")
    concat_ws(":",
      lpad(h.cast("string"), 2, "0"),
      lpad(m.cast("string"), 2, "0"),
      lpad(sec.cast("string"), 2, "0"))
  }
}

/** Deterministic-output helpers. The driver hash-compares result sets; a
  * total row order on both engines removes any dependence on how the
  * comparator treats row order. Sorting by every output column
  * (left-to-right, = DuckDB's ORDER BY ALL) is total up to fully-identical
  * rows, which are permutation-invariant anyway.
  *
  * Where the sort runs: a global sort plans a range-partitioned shuffle,
  * whose partitioner first runs a sampling job that executes the child a
  * second time. When the sort stage's input is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB),
  * [[SmallSortInOneTask]] makes that shuffle a single-partition one and
  * the whole order comes from one task: no sampling job, one run of the
  * child. The bound is Spark's own size for one post-shuffle partition
  * (the target of AQE's partition coalescing), so the one sort task reads
  * no more than Spark is willing to hand a single reducer task.
  * Larger inputs keep the parallel range sort. Only the physical
  * exchange differs: this plan and the output order are the same.
  */
object Det {
  def sortAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)
}

/** The typed refusal every quadratic-class cost guard throws (r16): a
  * deliberate "this output/join is quadratic in duplication or corpus
  * size — not a default" stop, distinguishable from a genuine failure so
  * consumers with a LINEAR alternative (q_dedup_semantic's degree-capped
  * k-NN path) can catch exactly the refusal and fall back, without ever
  * masking a real error. Subclasses IllegalStateException so existing
  * callers/specs that match the broad type keep working.
  */
final class QuadraticRefusal(msg: String) extends IllegalStateException(msg)

/** One registered engine operation: the Spark implementation plus (when
  * SQL-expressible) a DuckDB oracle for the driver's hash-compare.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Registry of query-lifetime cache entries. Operators that cache an
  * intermediate consumed by BOTH an eager phase (a driver collect) and
  * the returned lazy plan (executed later by the caller's write) cannot
  * unpersist inside the operator — the storage entry must outlive the
  * operator call but not the query. They register the frame here, and the
  * sequential harnesses (Bench / Verify) release after each query's write
  * completes, so storage no longer accumulates across a 70+-query run and
  * rely on LRU eviction (ADVICE r6). Tests and ad-hoc callers that never
  * release simply fall back to that same eviction behavior.
  */
object CacheBag {
  private val bag = scala.collection.mutable.ArrayBuffer[DataFrame]()
  def track(df: DataFrame): DataFrame = synchronized { df.cache(); bag += df; df }
  def release(): Unit = synchronized {
    bag.foreach(_.unpersist(blocking = false)); bag.clear()
  }
}
