package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.T
import graft.functions.Vectors

/** The one cache for values that are a pure function of table content.
  *
  * The reference pipeline lands each staging/intermediate model ONCE per
  * run and every downstream model reads it (dbt's materialized staging
  * layer). graft mirrors that with memos of derived values — member
  * mappings, source-table schemas and row counts, artifact validation
  * marks, trained tokenizers, ANN codebooks, membership sketches — and
  * every one of them looks up, validates, counts and evicts through this
  * object.
  *
  * '''Key and value.''' An entry is keyed by (scope, dataset or table
  * path, family + params) and holds (fingerprint, value).
  *
  * '''Scopes.''' A per-session entry ([[session]], [[frames]],
  * [[schema]]) is keyed by a UUID minted once per live SparkSession
  * (identityHashCode is not unique — two live sessions colliding on it
  * would be served frames bound to the other's SparkContext); entries of
  * stopped sessions are dropped on the next lookup. A source table's
  * schema (`schema.<table>`, resolved by [[graft.T.read]]) is per
  * session, not per JVM, for two reasons: parquet inference reads session
  * conf (`spark.sql.legacy.parquet.nanosAsLong` decides whether
  * `events.ts` reads as long or timestamp), and a fresh session's
  * pipeline run stays honestly cold — like dbt, which resolves its
  * sources once per run. A per-JVM entry ([[jvm]]) is shared by
  * every session: a count, a validation mark, a merge table, a piece
  * table, a codebook or a sketch is a plain driver value that outlives
  * the session that computed it.
  *
  * '''Fingerprint.''' [[tableFingerprint]] folds (path, length, mtime)
  * of every physical file under a table — a metadata listing, no data
  * read — and is its only definition (AnnIndex names its version dirs
  * with it). A lookup lists once: a per-session entry folds the
  * fingerprints of the dataset tables its build reads; a per-JVM entry
  * lists its table path, unless the caller already holds a resolved
  * fingerprint and passes it.
  *
  * '''One live entry per key.''' The fingerprint VALIDATES the entry, it
  * does not key it: a lookup whose fingerprint matches serves; otherwise
  * the stale value is released (frames unpersisted), the family's build
  * counter is bumped, the value is built and stored. An in-session
  * append or rewrite therefore rebuilds instead of serving stale data,
  * and a table that changes every micro-batch still holds one entry.
  *
  * '''Re-entrancy.''' The object monitor is held across a build and is
  * re-entrant, because builds nest (trainMerges → bpeVocab → resolve →
  * the count entry; thGroups → th).
  *
  * '''Counters.''' One registry of per-family build counters
  * ([[counter]], [[buildsOf]], [[totalBuilds]]) — Bench folds the total
  * into its cold/warm attribution (a timing that first reads a table in
  * its session counts a `schema.<table>` build and is flagged cold),
  * specs prove build-once with it.
  *
  * '''Eviction.''' [[evictDataset]] is the maintenance hook for chain
  * compaction, which changes an artifact's file layout without changing
  * the source fingerprint: it drops the dataset dir's per-session entries
  * (they may hold readers over the swept segments) and the one per-JVM
  * validation mark of the compacted family; values of one table's
  * content are keyed by the table path and survive it. [[reset]] drops
  * everything: the "fresh JVM" for specs.
  *
  * Memory: frames persist MEMORY_AND_DISK (spill, never OOM) and are
  * deliberately NOT CacheBag-tracked — CacheBag releases per query and
  * the whole point is cross-query reuse.
  */
object SessionMemo {
  private final case class Key(scope: String, dataset: String, family: String,
      params: String)
  private final case class Entry(session: Option[SparkSession], fp: Long,
      value: Any, release: () => Unit)
  private val entries = scala.collection.mutable.HashMap.empty[Key, Entry]

  private val builds = new ConcurrentHashMap[String, AtomicLong]()

  /** The build counter of `family` (created on first use). */
  private[graft] def counter(family: String): AtomicLong =
    builds.computeIfAbsent(family, _ => new AtomicLong(0))

  private[graft] def buildsOf(family: String): Long = counter(family).get()

  private[graft] def totalBuilds(): Long = {
    var t = 0L
    builds.forEach((_, v) => t += v.get())
    t
  }

  /** Weakly keyed so a collected session doesn't pin its UUID. */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Every file under a table: (absolute URI path, length, mtime),
    * sorted by path (FS iteration order is unspecified). Walks with
    * `listStatus`, not `listFiles`: a `LocatedFileStatus` copies each
    * file's permission and owner, which the local filesystem loads by
    * forking `ls -ld` per file when the native Hadoop library is absent
    * (~4 ms a file against ~0.1 ms, 22 local files on a 4-vCPU host;
    * local I/O stays fork-free, see [[graft.NoForkRawLocalFileSystem]]).
    */
  private[graft] def tableFiles(s: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    walk(fs.getFileStatus(p))
      .map(f => (f.getPath.toUri.getPath, f.getLen, f.getModificationTime))
      .sortBy(_._1)
  }

  /** Fingerprint of a table's physical files ([[tableFiles]]). It
    * changes whenever the table's content does, so a same-cardinality
    * rewrite at the same path rebuilds. Caveat: a rewrite that lands
    * identically-named, identically-sized files within the filesystem's
    * mtime granularity (1 s on some object stores) is indistinguishable
    * by metadata alone — Spark writers' UUID part-file names make that
    * practically unreachable, and a byte-identical rename-into-place
    * would serve the (then still correct) value.
    */
  private[graft] def tableFingerprint(s: SparkSession, path: String): Long =
    tableFiles(s, path).foldLeft(1125899906842597L) { case (h, (n, len, mt)) =>
      ((h * 31 + n.hashCode) * 31 + len) * 31 + mt
    }

  /** The one lookup: serve on a fingerprint match, else release the
    * stale value, count, build and store.
    */
  private def lookup[V](owner: Option[SparkSession], dataset: String,
      family: String, params: String, fp: Long, release: V => Unit)(
      build: => V): V = synchronized {
    // stopped sessions' persisted blocks are already gone with the
    // context; drop the dangling entries
    entries.filterInPlace((_, e) => e.session.forall(!_.sparkContext.isStopped))
    val key = Key(owner.fold("jvm")(sessionKey), dataset, family, params)
    entries.get(key) match {
      case Some(e) if e.fp == fp => e.value.asInstanceOf[V]
      case old =>
        old.foreach { e => entries.remove(key); e.release() }
        counter(family).incrementAndGet()
        val v = build
        entries.update(key, Entry(owner, fp, v, () => release(v)))
        v
    }
  }

  private def datasetFingerprint(s: SparkSession, d: String,
      tables: Seq[String]): Long =
    tables.foldLeft(0L)((h, t) => h * 1000003L + tableFingerprint(s, s"$d/$t"))

  /** A per-session value of dataset `d`: `tables` are the dataset-relative
    * source tables the build reads.
    */
  private[graft] def session[V](s: SparkSession, d: String, family: String,
      tables: Seq[String])(build: => V): V =
    lookup[V](Some(s), d, family, "", datasetFingerprint(s, d, tables), _ => ())(build)

  /** Per-session frames, persisted and materialized at build. Eager
    * (one count job per build, once per session): left lazy, consumers
    * that touch the frame only through BroadcastExchange collects and
    * shuffle-exchange subtrees re-compute the cached plan on EVERY serve
    * instead of populating the block store (measured r13: q_dedup_contain
    * re-ran the thg groupBy ~7x per run). A frame the BUILDER already
    * persisted is trusted as materialized (martTable must count before
    * unpersisting its build-scoped input).
    */
  private[graft] def frames(s: SparkSession, d: String, family: String,
      tables: Seq[String])(build: => Seq[DataFrame]): Seq[DataFrame] =
    lookup[Seq[DataFrame]](Some(s), d, family, "", datasetFingerprint(s, d, tables),
      _.foreach(f => try f.unpersist(blocking = false) catch { case _: Throwable => () })) {
      build.map { f =>
        if (f.storageLevel == StorageLevel.NONE) {
          val p = f.persist(StorageLevel.MEMORY_AND_DISK)
          p.count(); p
        } else f
      }
    }

  /** The schema of the parquet table at `path` (family `schema.<table>`),
    * inferred by one footer-reading job per (session, table content) —
    * see the object doc for why the scope is per session.
    */
  private[graft] def schema(s: SparkSession, path: String): StructType =
    lookup[StructType](Some(s), path,
      "schema." + new org.apache.hadoop.fs.Path(path).getName.stripSuffix(".parquet"),
      "", tableFingerprint(s, path), _ => ())(s.read.parquet(path).schema)

  /** A per-JVM value keyed by `key` (a table path, or a dataset dir for
    * values that vouch for its artifacts) and `params`; `fp` defaults to
    * the fingerprint of the table at `key`.
    */
  private[graft] def jvm[V](s: SparkSession, key: String, family: String,
      params: String = "", fp: Option[Long] = None)(build: => V): V =
    lookup[V](None, key, family, params, fp.getOrElse(tableFingerprint(s, key)),
      _ => ())(build)

  /** Drop dataset dir `d`'s per-session entries and its per-JVM entry
    * (`family`, `params`) — see the object doc.
    */
  private[graft] def evictDataset(d: String, family: String, params: String): Unit =
    synchronized {
      entries.filterInPlace { (k, e) =>
        val drop = k.dataset == d &&
          (k.scope != "jvm" || (k.family == family && k.params == params))
        if (drop) e.release()
        !drop
      }
    }

  /** Live entries of `family` under `dataset`, all scopes (a spec hook). */
  private[graft] def liveEntries(dataset: String, family: String): Int = synchronized {
    entries.keysIterator.count(k => k.dataset == dataset && k.family == family)
  }

  /** Drop every entry of every scope. */
  private[graft] def reset(): Unit = synchronized {
    entries.values.foreach(_.release())
    entries.clear()
  }
}

/** The shared id↔content member mappings — one corpus hash pass per
  * (session, table content), every signature-serving query reads the
  * persisted result (see [[SessionMemo]]).
  */
object Members {

  /** (doc_id, th, nth, lang, source): the one narrow corpus text scan the
    * whole text-serving surface shares — th = md5(raw text), the near-dup
    * family's collapse key (null-propagating: md5(NULL) is NULL on both
    * engines, the gate-pinned contract); nth = md5(normalized text), the
    * exact-dedup / cluster key. lang/source ride along: they are
    * byte-sized next to the text column this scan exists to hash, and
    * they spare the DSIR / mixture consumers a doc_id re-join.
    */
  def th(s: SparkSession, d: String): DataFrame =
    // r13: the mapping is the persisted THM artifact ([[AnnIndex
    // .docHashes]] — fingerprint-keyed, delta-appended, streaming-
    // maintained); a NEW session's first serve is a pure artifact load,
    // not a corpus md5 pass, and no corpus-sized frame occupies executor
    // storage for the session's life (verdict r12 #5). The memo keeps
    // only the resolved reader handle.
    SessionMemo.session(s, d, "thm", Seq("documents.parquet")) {
      AnnIndex.docHashes(s, d)
    }

  /** The exact-duplicate group structure over [[th]]:
    * members (rep, doc_id, th) and reps (doc_id = the group's min member,
    * th, gsz). groupBy + equi-join back, NOT min/count over a window on
    * the content key — a window partition is one unsplittable task and a
    * mass-duplicate text is a magnet key; the groupBy is map-side
    * combined and the join back AQE-skew-splittable (the r8 device).
    */
  def thGroups(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // BOTH frames are session persists (r13): with th serving from the
    // THM artifact (an unpersisted multi-file reader) instead of the r12
    // in-memory md5 frame, a derived members pipeline re-ran the THM
    // scan + group join inside EVERY BroadcastExchange collect that
    // referenced it (~7x per expansion serve, measured ~20 task-sec of
    // pure fixed overhead per q_dedup_contain pass at sf0.1). members is
    // narrow — (rep, doc_id, th), O(corpus ids), the same storage class
    // as the r12 th frame — and the eager build count materializes it
    // once per session. (The r11 "don't materialize the join" note was
    // about the FAT members×members expansion output, not this narrow
    // id mapping.)
    val fs = SessionMemo.frames(s, d, "thg", Seq("documents.parquet")) {
      val groups = th(s, d).groupBy("th")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("gsz"))
      // members is REPARTITIONED at build: a cached frame freezes its
      // partitioning for the session, and with th reading a row-bounded
      // artifact (possibly ONE file) the whole downstream chain would
      // inherit 1-4 partitions — at 100x the 208M-row simhash expansion
      // collapsed to 4 tasks (155 s vs 25). Hash by rep: full parallelism
      // for every consumer, and the cached HashPartitioning lets the
      // within-group member self-joins (x.rep = y.rep) skip both
      // exchanges.
      Seq(groups,
        th(s, d).join(groups.select("th", "rep"), "th")
          .select(col("rep"), col("doc_id"), col("th"))
          .repartition(s.sparkContext.defaultParallelism, col("rep")))
    }
    val (groups, members) = (fs(0), fs(1))
    (members, groups.select(col("rep").as("doc_id"), col("th"), col("gsz")))
  }

  /** Exact distinct-text count — the guarded-broadcast bound for the
    * rep/cnt id-mapping join sides (Dedup.bcIf): one count over the
    * already-materialized groups cache, memoized per session.
    */
  def thDistinct(s: SparkSession, d: String): Long =
    SessionMemo.session(s, d, "thn", Seq("documents.parquet")) {
      thGroups(s, d)._2.count()
    }

  /** Exact distinct-vector count, the embedding twin of [[thDistinct]] —
    * the PQ family's ADC rescore depth scales with it (r15): one count
    * over the already-materialized reps cache, memoized per session.
    */
  def ehDistinct(s: SparkSession, d: String): Long =
    SessionMemo.session(s, d, "ehn", Seq("embeddings.parquet")) {
      eh(s, d)._2.count()
    }

  /** The embedding twin over `embeddings.parquet`:
    * members (rep, vec_id, eh) and reps (vec_id = the group's min member,
    * eh, v, nrm, gsz) — eh is the 128-bit content hash
    * ([[AnnIndex.ehCol]]), and the group key inside the build is
    * (eh, RAW VECTOR): the raw vector stays a secondary equality key so
    * even a 128-bit collision of distinct vectors cannot merge them in
    * the served id mapping. reps carries the vector itself — one row per
    * DISTINCT vector, so on a k×-duplicated corpus the persisted frame is
    * 1/k of the table and every dot-product consumer prices per distinct.
    */
  def eh(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // r13: the (vec_id, eh) hashes serve from the persisted EHM artifact
    // ([[AnnIndex.vecHashes]]) — a new session no longer re-hashes every
    // vector; it re-reads the vector column once (the (eh, RAW VECTOR)
    // secondary equality key that keeps a 128-bit collision from merging
    // distinct vectors), which is scan work, not hash work. Group
    // structure (distinct-vector-sized) and the narrow member mapping
    // stay session persists as before.
    val hashes = SessionMemo.session(s, d, "ehm", Seq("embeddings.parquet")) {
      AnnIndex.vecHashes(s, d)
    }
    val fs = SessionMemo.frames(s, d, "ehg", Seq("embeddings.parquet")) {
      val tagged = T.embeddings(s, d)
        .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", Vectors.norm(col("v")))
        .join(hashes, "vec_id")
      val groups = tagged.groupBy("eh", "v")
        .agg(min("vec_id").as("rep"), min("nrm").as("nrm"),
          count(lit(1)).as("gsz"))
      Seq(
        // repartitioned at build like the text twin: cached partitioning
        // is session-frozen and must not inherit a source scan's file
        // layout; hashing by rep co-partitions the member self-joins
        tagged.select("vec_id", "eh", "v")
          .join(groups.select("eh", "v", "rep"), Seq("eh", "v"))
          .select(col("rep"), col("vec_id"), col("eh"))
          .repartition(s.sparkContext.defaultParallelism, col("rep")),
        groups.select(col("rep").as("vec_id"), col("eh"), col("v"),
          col("nrm"), col("gsz")))
    }
    (fs(0), fs(1))
  }
}
