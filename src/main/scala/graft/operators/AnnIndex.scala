package graft.operators

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Persisted fit artifacts — the production half of the fit/serve split.
  * In-JVM memos die with the session, which at 100 TB means every new
  * session re-runs each fit AND re-encodes the corpus — a full corpus
  * pass. Every family here materializes its fitted structure as parquet
  * keyed by the source table's physical fingerprint (the MLlib save/load
  * shape), one version dir per (table, content) state:
  *
  * {{{
  * <root>/<md5 of table path>/<fingerprintHex>_<rowcount>/
  *   <artifact dirs>          per family, see the table below
  *   _GRAFT_FILES             table file inventory: (path, length, mtime)
  *   _GRAFT_META_<marker>     base=<sibling dir | ->, n_fit=…, params=…
  *   _GRAFT_OK_<marker>       completion marker
  * }}}
  *
  * '''One lifecycle.''' Every family runs the same five steps, written
  * once below; a family supplies only its encode, its append math and
  * its serve projection.
  *  1. '''resolve''' ([[resolve]]) — (row count, fingerprint) → version
  *     dir. The fingerprint folds path+length+mtime of every physical
  *     file ([[SessionMemo.tableFingerprint]]), so a rewritten table
  *     resolves to a DIFFERENT dir and refits: nothing keyed by the old
  *     content is ever served for the new.
  *  2. '''append-or-fit''' ([[ensure]]) — unless the marker is present,
  *     find the newest usable base: a complete sibling whose recorded
  *     file inventory is a SUBSET of the current one (a pure file-level
  *     append; a derived family follows its parent's lineage pointer
  *     instead). The family's append encodes ONLY the delta files under
  *     the base's frozen parameters — or returns None (a cap crossing in
  *     CC/MP2/SP2/NP2) and the full fit runs. Drift families refit once
  *     (n − n_fit)/n exceeds [[refitFraction]]: frozen codebooks and
  *     geometry mis-fit a grown corpus; n_fit — the corpus size at the
  *     last TRUE fit — rides the meta through every append.
  *  3. '''publish''' ([[publish]]) — file list, meta (a chained family's
  *     `base` names the append base: serve reads the chain union, so the
  *     corpus-sized base artifacts are never rewritten), marker, then
  *     prune the sibling versions no family's chain reaches. A crash
  *     mid-write leaves no marker, so the next call redoes the step.
  *  4. '''serve/validate''' ([[chainRead]], [[validate]]) — the chain
  *     union, checked once per JVM per version against the meta's
  *     exact row/token total: a marker is a promise, not proof.
  *  5. '''compact''' ([[compact]]) — past its chain bound a chained
  *     family merges its segments into one self-contained version
  *     (crash-safe swap), then sweeps superseded versions.
  *
  * Live families (e = embeddings.parquet, d = documents.parquet):
  * {{{
  * marker       table  artifacts                         chained  drift  bound
  * IVF2         e      ivf_codebook, ivf2_cells          yes      yes    -
  * PQ2          e      pq_codebook, pq2_codes            yes      yes    -
  * LSH2         e      lsh2_sigs, lsh2_ehs               no       yes    -
  * IPQ2         e      ivfpq2_codes (+ both codebooks)   yes      yes    -
  * LXT          d      lex_tf, lex_dl                    yes      no     corpusMaxChain
  * THM          d      thm_docs                          yes      no     corpusMaxChain
  * EHM          e      ehm_vecs                          no       no     -
  * NG MH SH WC  d      <marker>_sigs                     yes      no     sigMaxChain
  *  WN LP DS BIN
  * BPE          d      bpe_wf                            no       no     -
  * CC           d      cc_labels                         no       no     -
  * EP           e      ep_reps, ep_sigs, ep_pairs        no       yes    -
  * EC (of EP)   e      ec_labels                         derived  no     -
  * KN           e      kn_pairs, kn_ehs, kn_sigs         no       yes    -
  * KL (of KN)   e      kn_labels                         derived  no     -
  * MP2 SP2      d      <m>_pairs, <m>_bsz, <m>_ths       no       no     -
  * NP2          d      np_pairs, np_cnt, np_kept         no       no     -
  * }}}
  * IVF2/PQ2/IPQ2 chains collapse on the drift refit; between refits their
  * hive-partitioned segments cannot be merged cheaply, so they carry no
  * bound. LSH2 serves unvalidated (its sig table is re-capped whole).
  *
  * '''Rows are keyed by content''' (r12): `eh` (the 128-bit vector hash,
  * [[ehCol]]) or `th` (md5 of the text), one row per DISTINCT vector or
  * text — a k×-duplicated corpus stores, scans and scores 1/k of the rows,
  * and survivors expand to member ids through the session mappings at
  * serve. Codebooks still FIT from the full table. Layout is the serve-
  * path point: `ivf2_cells` is hive-partitioned by cluster (a probe is a
  * partition-pruned scan — the directory layout IS the inverted file),
  * `pq2_codes` streams 24 B/vector, `lex_tf` is partitioned by term slot.
  *
  * The root defaults to a per-user directory: a shared world-writable
  * /tmp root on a multi-tenant host would let another user pre-create a
  * marker-complete poisoned version, and /tmp cleaners can delete files
  * between plan build and execution — both caught by [[validate]].
  */
object AnnIndex {

  /** Fit / append counters — incremented ONLY when a real fit (or full
    * corpus encode) or a delta-only append runs, so specs can prove a
    * load path retrained nothing. IVF/PQ fits are counted where Lloyd
    * actually runs (Similarity's codebook memo).
    */
  private[graft] val ivfFits = new AtomicLong(0)
  private[graft] val pqFits = new AtomicLong(0)
  private[graft] val lshEncodes = new AtomicLong(0)
  private[graft] val ivfAppends = new AtomicLong(0)
  private[graft] val pqAppends = new AtomicLong(0)
  private[graft] val lshAppends = new AtomicLong(0)
  private[graft] val ivfpqEncodes = new AtomicLong(0)
  private[graft] val ivfpqAppends = new AtomicLong(0)
  private[graft] val lexEncodes = new AtomicLong(0)
  private[graft] val lexAppends = new AtomicLong(0)
  private[graft] val sigEncodes = new AtomicLong(0)
  private[graft] val sigAppends = new AtomicLong(0)
  private[graft] val vocabEncodes = new AtomicLong(0)
  private[graft] val vocabAppends = new AtomicLong(0)
  private[graft] val ccEncodes = new AtomicLong(0)
  private[graft] val ccAppends = new AtomicLong(0)
  private[graft] val epEncodes = new AtomicLong(0)
  private[graft] val epAppends = new AtomicLong(0)
  private[graft] val npEncodes = new AtomicLong(0)
  private[graft] val npAppends = new AtomicLong(0)
  private[graft] val ecEncodes = new AtomicLong(0)
  private[graft] val ecAppends = new AtomicLong(0)
  private[graft] val tpEncodes = new AtomicLong(0)
  private[graft] val tpAppends = new AtomicLong(0)
  private[graft] val thmEncodes = new AtomicLong(0)
  private[graft] val thmAppends = new AtomicLong(0)
  private[graft] val ehmEncodes = new AtomicLong(0)
  private[graft] val ehmAppends = new AtomicLong(0)
  private[graft] val knEncodes = new AtomicLong(0)
  private[graft] val knAppends = new AtomicLong(0)
  private[graft] val klEncodes = new AtomicLong(0)
  private val klAppends = new AtomicLong(0) // KL never appends (see knLabels)

  /** Append-drift threshold: chain-append while rows encoded with frozen
    * codebooks are ≤ this fraction of the corpus; past it, refit.
    */
  private[graft] val refitFraction = 0.3

  /** Serve-side segment bound for the th-keyed signature chains: a serve
    * reading more than this many segments compacts first, so the chain
    * never decays past (threshold) segments no matter how many appends
    * arrive between full rebuilds. 2 = the compacted tip plus at most
    * one fresh delta segment. Signature tables are distinct-content-
    * sized, so the merge rewrite is cheap.
    */
  private[graft] val sigMaxChain = 2

  /** Serve-side segment bound for the CORPUS-classed chains (THM id-hash
    * rows, LXT postings): compaction rewrites corpus-scale artifacts, so
    * the cadence is one merge per this many appends — segment decay stays
    * bounded without re-paying the per-append rewrite the chain avoids.
    */
  private[graft] val corpusMaxChain = 8

  /** One persisted family's lifecycle descriptor: completion-marker name,
    * source table (file name under the corpus dir), fit and append
    * counters, whether an append CHAINS to its base (else each version is
    * self-contained), whether append drift forces a refit, the serve-side
    * chain bound (0 = none), and whether the family is DERIVED — versioned
    * with its parent family's artifact in the same dir (no file inventory
    * or prune of its own; its base is the version its parent's lineage
    * pointer `_GRAFT_<marker>_BASE` names). `countsFits` is false where the
    * fit's own codebook memo counts true fits (IVF2/PQ2).
    */
  private[graft] final case class Family(marker: String, table: String,
      fits: AtomicLong, appends: AtomicLong, chained: Boolean = false,
      drift: Boolean = false, maxChain: Int = 0, derived: Boolean = false,
      countsFits: Boolean = true)

  private val emb = "embeddings.parquet"
  private val docs = "documents.parquet"
  private[graft] val IVF2 = Family("IVF2", emb, ivfFits, ivfAppends,
    chained = true, drift = true, countsFits = false)
  private[graft] val PQ2 = Family("PQ2", emb, pqFits, pqAppends,
    chained = true, drift = true, countsFits = false)
  private[graft] val LSH2 = Family("LSH2", emb, lshEncodes, lshAppends, drift = true)
  private[graft] val IPQ2 = Family("IPQ2", emb, ivfpqEncodes, ivfpqAppends,
    chained = true, drift = true)
  private[graft] val LXT = Family("LXT", docs, lexEncodes, lexAppends,
    chained = true, maxChain = corpusMaxChain)
  private[graft] val THM = Family("THM", docs, thmEncodes, thmAppends,
    chained = true, maxChain = corpusMaxChain)
  private[graft] val EHM = Family("EHM", emb, ehmEncodes, ehmAppends)
  private[graft] def sigFamily(marker: String): Family =
    Family(marker, docs, sigEncodes, sigAppends, chained = true, maxChain = sigMaxChain)
  private[graft] val BPE = Family("BPE", docs, vocabEncodes, vocabAppends)
  private[graft] val CC = Family("CC", docs, ccEncodes, ccAppends)
  private[graft] val EP = Family("EP", emb, epEncodes, epAppends, drift = true)
  private[graft] val EC = Family("EC", emb, ecEncodes, ecAppends, derived = true)
  private[graft] val KN = Family("KN", emb, knEncodes, knAppends, drift = true)
  private[graft] val KL = Family("KL", emb, klEncodes, klAppends, derived = true)
  private[graft] val MP2 = Family("MP2", docs, tpEncodes, tpAppends)
  private[graft] val SP2 = Family("SP2", docs, tpEncodes, tpAppends)
  private[graft] val NP2 = Family("NP2", docs, npEncodes, npAppends)

  /** Every live family (the textSigs markers its callers use included). */
  private[graft] val families: Seq[Family] =
    Seq(IVF2, PQ2, LSH2, IPQ2, LXT, THM, EHM) ++
      Seq("NG", "MH", "SH", "WC", "WN", "LP", "DS", "BIN").map(sigFamily) ++
      Seq(BPE, CC, EP, EC, KN, KL, MP2, SP2, NP2)

  /** Every fit and append counter, each once (families share some). */
  private[graft] def counters: Seq[AtomicLong] =
    families.flatMap(f => Seq(f.fits, f.appends)).distinct

  /** Index root. A real deployment points this at a DFS path; the default
    * keeps local runs self-contained and PER-USER (see the object doc).
    */
  private[graft] def root(s: SparkSession): String =
    s.conf.get("graft.ann.indexRoot",
      s"${System.getProperty("java.io.tmpdir")}/graft_ann_index-${System.getProperty("user.name")}")

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The version directory for one (table, content) state. */
  private[graft] def versionDir(s: SparkSession, d: String, n: Long, fp: Long): String =
    versionDirFor(s, s"$d/$emb", n, fp)

  private[graft] def versionDirFor(s: SparkSession, table: String, n: Long,
      fp: Long): String =
    s"${root(s)}/${md5hex(table)}/${java.lang.Long.toHexString(fp)}_$n"

  private def fs(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def exists(s: SparkSession, path: String): Boolean =
    fs(s, path).exists(new Path(path))

  /** Local (schemeless or file:) marker/metadata writes go through
    * java.nio (r17, verdict r16 next-round #1): the Hadoop local
    * `create()` path calls `setPermission`, which forks `chmod` when the
    * native lib is absent — the driver sandbox cannot fork at all
    * (VERIFY_r16's tests_ok=false died exactly here). A DFS-rooted index
    * keeps the Hadoop path. Any stale Hadoop checksum sibling is removed
    * so a later ChecksumFileSystem read of an nio-overwritten file can
    * never see a mismatched .crc.
    */
  private def localNio(path: String): Option[java.nio.file.Path] =
    if (!path.contains("://")) Some(java.nio.file.Paths.get(path))
    else if (path.startsWith("file:"))
      Some(java.nio.file.Paths.get(java.net.URI.create(path)))
    else None

  private def touch(s: SparkSession, path: String): Unit =
    writeText(s, path, "")

  private def writeText(s: SparkSession, path: String, content: String): Unit =
    localNio(path) match {
      case Some(p) =>
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        val crc = p.resolveSibling("." + p.getFileName.toString + ".crc")
        java.nio.file.Files.deleteIfExists(crc)
        java.nio.file.Files.write(p, content.getBytes("UTF-8"))
      case None =>
        val out = fs(s, path).create(new Path(path), true)
        out.write(content.getBytes("UTF-8")); out.close()
    }

  /** Bound an artifact write's FILE COUNT by its expected row count
    * (~1M rows/file, min 1, cap 4096). Writes that inherit a
    * 32-partition exchange (the idHashFamily encode's explicit
    * repartition, ngPairs' candidate-join shuffle) landed 32 tiny files
    * per artifact at dev scale — and every serve-side reference then
    * paid 32 scan TASKS of pure fixed overhead, because the file-split
    * planner bins one small file per split (openCostInBytes dominates).
    * Measured r13: q_dedup_contain dropped 2.7 → 1.9 s at sf0.1 once
    * np_pairs/thm_docs were single files. The repartition is a shuffle
    * AFTER the encode's narrow compute stages, so encode parallelism is
    * unchanged; an under-estimated `approxRows` just makes fatter files,
    * which stay splittable by parquet row group on read.
    */
  private def boundFiles(df: DataFrame, approxRows: Long): DataFrame =
    df.repartition(math.max(1L, math.min(4096L, approxRows / 1000000L + 1L)).toInt)

  private def readText(s: SparkSession, path: String): Option[String] =
    if (!exists(s, path)) None
    else {
      val in = fs(s, path).open(new Path(path))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** An artifact reader; an explicit DDL `schema` pins column types (and
    * skips footer inference) where the family's read always has.
    */
  private def load(s: SparkSession, path: String, schema: String = ""): DataFrame =
    if (schema.isEmpty) s.read.parquet(path) else s.read.schema(schema).parquet(path)

  /** Overwrite `path` with `df` and count what landed (a meta total). */
  private def saveCount(s: SparkSession, df: DataFrame, path: String,
      schema: String = ""): Long = {
    df.write.mode("overwrite").parquet(path)
    load(s, path, schema).count()
  }

  /** Physical file inventory of the table — the append detector's unit.
    * The data files of [[SessionMemo.tableFiles]], kept unfolded so
    * set-subset (pure append) is decidable.
    */
  private def physFiles(s: SparkSession, path: String): Seq[(String, Long, Long)] =
    SessionMemo.tableFiles(s, path).filter { case (p, _, _) =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      // data files only: an append rewrites _SUCCESS (fresh mtime), which
      // would make every append look like a modification of the base
      !name.startsWith("_") && !name.startsWith(".")
    }

  private def writeFileList(s: SparkSession, vd: String,
      files: Seq[(String, Long, Long)]): Unit =
    if (!exists(s, s"$vd/_GRAFT_FILES"))
      writeText(s, s"$vd/_GRAFT_FILES",
        files.map { case (p, l, m) => s"$p\t$l\t$m" }.mkString("\n"))

  private def readFileList(s: SparkSession, vd: String): Option[Seq[(String, Long, Long)]] =
    readText(s, s"$vd/_GRAFT_FILES").map(_.split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(p, l, m) = line.split("\t")
        (p, l.toLong, m.toLong)
      })

  /** Per-family version metadata: the corpus size at the last true fit,
    * the frozen parameters / exact totals, and the append-chain base
    * (sibling dir name; None when the artifact is complete in this dir).
    */
  private final case class Meta(nFit: Long, params: String,
      base: Option[String] = None) {
    def total: Long = params.toLong
    def ps: Array[String] = params.split(",")
  }

  private def writeMeta(s: SparkSession, vd: String, fam: String, m: Meta): Unit =
    writeText(s, s"$vd/_GRAFT_META_$fam",
      s"base=${m.base.getOrElse("-")}\nn_fit=${m.nFit}\nparams=${m.params}")

  private def readMeta(s: SparkSession, vd: String, fam: String): Option[Meta] =
    readText(s, s"$vd/_GRAFT_META_$fam").map { t =>
      val kv = t.split("\n").map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
      Meta(kv("n_fit").toLong, kv.getOrElse("params", ""),
        Some(kv("base")).filter(_ != "-"))
    }

  /** Resolve `fam`'s artifact chain starting at `vd`: the dirs whose
    * artifacts union into the full corpus view (tip first).
    */
  private def chainDirs(s: SparkSession, vd: String, fam: String): Seq[String] = {
    val parent = new Path(vd).getParent.toUri.getPath
    Iterator.iterate(Option(vd)) {
      case Some(cur) => readMeta(s, cur, fam).flatMap(_.base).map(b => s"$parent/$b")
      case None => None
    }.takeWhile(_.isDefined).flatten.toSeq
  }

  private def unionOf(s: SparkSession, dirs: Seq[String], art: String,
      schema: String = ""): DataFrame =
    dirs.map(c => load(s, s"$c/$art", schema)).reduce(_ unionByName _)

  /** Serve read: `art` as the union over `fam`'s chain from `vd`. */
  private def chainRead(s: SparkSession, vd: String, fam: String, art: String,
      schema: String = ""): DataFrame =
    unionOf(s, chainDirs(s, vd, fam), art, schema)

  /** An append base: the base version dir, the delta (appended) file
    * paths, and the base's meta (n_fit, frozen params).
    */
  private final case class Base(dir: String, delta: Seq[String], meta: Meta) {
    def name: String = new Path(dir).getName
  }

  /** Newest usable append base for `fam`: a complete sibling version whose
    * recorded file inventory is a SUBSET of the current one (pure file
    * append — any modified/removed file disqualifies).
    */
  private def appendBase(s: SparkSession, vd: String, fam: String,
      curFiles: Seq[(String, Long, Long)]): Option[Base] = {
    val p = new Path(vd)
    val f = fs(s, vd)
    if (!f.exists(p.getParent)) return None
    val cur = curFiles.toSet
    f.listStatus(p.getParent).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != p.getName)
      .map(_.getPath.toUri.getPath)
      .filter(b => exists(s, s"$b/_GRAFT_OK_$fam"))
      .flatMap { b =>
        for {
          files <- readFileList(s, b)
          meta <- readMeta(s, b, fam)
          if files.toSet.subsetOf(cur)
          delta = curFiles.filterNot(files.toSet).map(_._1)
          if delta.nonEmpty
        } yield (Base(b, delta, meta), files.size)
      }
      .sortBy(-_._2) // deepest inventory = newest chain tip
      .headOption.map(_._1)
  }

  /** A derived family's base: the sibling its parent's lineage pointer
    * (`_GRAFT_<fam>_BASE`, written by the parent's append) names, when
    * `fam` is complete there.
    */
  private def lineageBase(s: SparkSession, vd: String, fam: String): Option[Base] =
    for {
      name <- readText(s, s"$vd/_GRAFT_${fam}_BASE").map(_.trim)
      dir = s"${new Path(vd).getParent.toUri.getPath}/$name"
      if exists(s, s"$dir/_GRAFT_OK_$fam")
      meta <- readMeta(s, dir, fam)
    } yield Base(dir, Nil, meta)

  // retired layouts (markers a PREVIOUS release wrote, no longer
  // served): without the exemption the keep-forever rule for
  // not-yet-rebuilt families would preserve their corpus-sized
  // artifacts indefinitely
  private val retiredFams = Set(
    "LEX", // r8 doc-keyed postings, superseded by LXT
    "NP",  // r10 kept-only shingle-df layout, superseded by NP2
    // r7-r11 vec_id-keyed vector indexes, superseded by the r12
    // eh-keyed layouts (one row per DISTINCT vector)
    "IVF", "PQ", "LSH", "IVFPQ",
    // r11 bucket-pair layouts with kept-only bucket tables, superseded
    // by MP2/SP2 (full bucket-size table + th registry — batch-sized
    // append deltas, the NP2 device)
    "MP", "SP")

  /** Delete sibling versions of `vd` no family's chain reaches. The family
    * set is derived from the `_GRAFT_OK_*` markers actually on disk (never
    * a hard-coded list). For a family COMPLETE in `vd` the live set is its
    * chain from `vd`. For a family not complete in `vd`:
    *  - build-time prune (`cur` = None, after every publish): every
    *    sibling where the family IS complete is kept, plus each one's
    *    chain — so a prune triggered by ANY family can't orphan another's,
    *    in any completion order (r11: EP completing first after a corpus
    *    append used to delete the version holding IVF/PQ/LSH's chain
    *    segments, silently forcing full Lloyd refits);
    *  - maintenance sweep (`cur` = the table's current files, r14): only
    *    the deepest-inventory sibling whose inventory still SUBSETS the
    *    table (the one usable append base, [[appendBase]]'s rule) plus its
    *    chain — the build-time rule accumulates every lagging family's old
    *    versions, of which only the newest can ever serve again. Deleting
    *    an in-principle-usable older base only costs a refit, never
    *    correctness. Disk bound after a sweep: ≤ one chain per family.
    * Returns the deleted-entry count.
    */
  private def prune(s: SparkSession, vd: String,
      cur: Option[Set[(String, Long, Long)]]): Int = {
    val p = new Path(vd)
    val parent = p.getParent
    val f = fs(s, vd)
    if (!f.exists(parent)) return 0
    val sibs = f.listStatus(parent).toSeq.filter(_.isDirectory)
      .map(_.getPath.toUri.getPath)
    val fams = sibs.flatMap(b => f.listStatus(new Path(b))
        .toSeq.map(_.getPath.getName).filter(_.startsWith("_GRAFT_OK_"))
        .map(_.stripPrefix("_GRAFT_OK_"))).distinct
      .filterNot(retiredFams)
    val keep = fams.flatMap { fam =>
      def done = sibs.filter(b => exists(s, s"$b/_GRAFT_OK_$fam"))
      if (exists(s, s"$vd/_GRAFT_OK_$fam")) chainDirs(s, vd, fam)
      else cur match {
        case None => done.flatMap(b => chainDirs(s, b, fam))
        case Some(files) => done
          .flatMap(b => readFileList(s, b).map(fl => (b, fl)))
          .filter { case (_, fl) => fl.toSet.subsetOf(files) }
          .sortBy { case (b, fl) => (-fl.size, b) }
          .headOption.toSeq
          .flatMap { case (b, _) => chainDirs(s, b, fam) }
      }
    }.map(new Path(_).getName).toSet + p.getName
    var n = 0
    f.listStatus(parent).foreach { st =>
      if ((cur.isEmpty || st.isDirectory) && !keep(st.getPath.getName)) {
        f.delete(st.getPath, true); n += 1
      }
    }
    n
  }

  private def sweepAt(s: SparkSession, v: Version): Int =
    prune(s, v.vd, Some(physFiles(s, v.table).toSet))

  /** GC sweep over a table's version dirs (r14, verdict r13 #7) — the
    * maintenance-cadence complement to the build-time prune (see
    * [[prune]]). Returns the deleted-dir count.
    */
  private[graft] def sweepVersions(s: SparkSession, tablePath: String): Int =
    if (!exists(s, tablePath)) 0 else sweepAt(s, resolve(s, tablePath))

  /** Artifact sanity check before the first serve of a version (ADVICE
    * r7): a marker is a promise, not proof — a /tmp cleaner (or, under a
    * mis-scoped shared root, another tenant) can leave a complete-looking
    * version whose corpus artifact is truncated or foreign. Schema
    * mismatches already fail loud (explicit read schemas); row count is
    * the silent failure mode, so compare the artifact's count against the
    * meta's and refuse to serve on mismatch. A pass is a per-JVM
    * [[SessionMemo]] mark keyed by (dataset dir, `valid.<mark>`, index
    * root) and validated by the version's fingerprint; compacting the
    * family evicts exactly that mark.
    */
  private def validate(s: SparkSession, v: Version, mark: String, expected: Long,
      actual: => Long): Unit =
    SessionMemo.jvm(s, v.d, s"valid.$mark", root(s), Some(v.fp)) {
      val got = actual
      if (got != expected)
        throw new IllegalStateException(
          s"$mark index at ${v.vd} is corrupt: artifact holds $got rows, " +
            s"version key says $expected — refusing to serve (delete the " +
            "version dir to force a refit)")
    }

  /** Source-table row count, a per-JVM [[SessionMemo]] entry validated by
    * the table's fingerprint (r16): every artifact serve needs it to
    * resolve its version dir, which cost one count JOB per family per
    * query execution.
    */
  private[graft] def tableCount(s: SparkSession, path: String, fp: Long): Long =
    SessionMemo.jvm(s, path, "count", fp = Some(fp))(s.read.parquet(path).count())

  /** One resolved (table, content) state: source row count, fingerprint
    * and version dir. `v(art)` is an artifact path inside the version.
    */
  private final case class Version(table: String, cnt: Long, fp: Long, vd: String) {
    def n: Long = math.max(cnt, 1L)
    def d: String = table.substring(0, table.lastIndexOf('/'))
    def apply(art: String): String = s"$vd/$art"
    def ok(fam: Family): String = s"$vd/_GRAFT_OK_${fam.marker}"
  }

  /** Lifecycle step 1 — the fingerprint → count → version-dir preamble. */
  private def resolve(s: SparkSession, table: String): Version = {
    val fp = SessionMemo.tableFingerprint(s, table)
    val cnt = tableCount(s, table, fp)
    Version(table, cnt, fp, versionDirFor(s, table, math.max(cnt, 1L), fp))
  }

  private def resolve(s: SparkSession, d: String, fam: Family): Version =
    resolve(s, s"$d/${fam.table}")

  private def metaOf(s: SparkSession, v: Version, fam: Family): Meta =
    readMeta(s, v.vd, fam.marker).get

  /** Lifecycle step 2 — bring `fam` current in `v`. Unless its marker is
    * present: find the append base (file-subset sibling, or the lineage
    * pointer for a derived family) whose meta has params and, for a drift
    * family, whose n_fit is within [[refitFraction]] of the corpus; ask
    * the family's `append` for a plan (None = refuse, e.g. a cap crossing)
    * and run it; otherwise run `fit`. The matching counter is bumped
    * before the work runs, then the result is published.
    */
  private def ensure(s: SparkSession, fam: Family, v: Version)(
      append: Base => Option[() => Meta], fit: () => Meta): Unit =
    if (!exists(s, v.ok(fam))) {
      val cur = if (fam.derived) None else Some(physFiles(s, v.table))
      val meta = cur.fold(lineageBase(s, v.vd, fam.marker))(
          appendBase(s, v.vd, fam.marker, _))
        .filter(b => b.meta.params.nonEmpty && (!fam.drift ||
          (v.cnt - b.meta.nFit).toDouble / v.n <= refitFraction))
        .flatMap(b => append(b).map { run =>
          fam.appends.incrementAndGet()
          val m = run()
          if (fam.chained) m.copy(base = Some(b.name)) else m
        })
        .getOrElse {
          if (fam.countsFits) fam.fits.incrementAndGet()
          fit()
        }
      publish(s, fam, v, cur, meta)
    }

  /** Lifecycle step 3 — file inventory, meta, marker (last: a crash before
    * it leaves the version unmarked and redone), then the build-time prune.
    * Derived families and compaction pass no `files`: their version's
    * inventory exists already and nothing new can be orphaned.
    */
  private def publish(s: SparkSession, fam: Family, v: Version,
      files: Option[Seq[(String, Long, Long)]], meta: Meta): Unit = {
    files.foreach(writeFileList(s, v.vd, _))
    writeMeta(s, v.vd, fam.marker, meta)
    touch(s, v.ok(fam))
    if (files.isDefined) prune(s, v.vd, None)
  }

  /** Lifecycle step 4 for row-total families: `art`'s chain union,
    * validated once per version against the meta total.
    */
  private def serve(s: SparkSession, fam: Family, v: Version, art: String,
      schema: String = ""): DataFrame = {
    val df = chainRead(s, v.vd, fam.marker, art, schema)
    validate(s, v, fam.marker, metaOf(s, v, fam).total, df.count())
    df
  }

  /** Lifecycle step 5 — the one crash-safe chain compaction. Each
    * artifact's merge (given the chain dirs and meta) is written ASIDE
    * first (the merge plan reads the very paths it replaces); the marker
    * comes OFF across the delete+rename window (ADVICE r15: a crash leaves
    * an unmarked version the next serve rebuilds, never a marked one
    * missing an artifact); the meta is re-published self-contained with
    * its totals conserved, marker back on; superseded versions are swept
    * (compaction IS the maintenance cadence). A session memo may hold a
    * chain READER over the swept segments (same fingerprint, different
    * layout — the one staleness the fingerprint cannot see), so the
    * dataset's session memos are evicted, and with them this family's
    * validation mark: its next serve re-proves the totals. Returns false
    * (no-op) on an incomplete or unchained artifact.
    */
  private def compact(s: SparkSession, fam: Family, v: Version,
      arts: (String, (Seq[String], Meta) => DataFrameWriter[Row])*): Boolean = {
    val chain = if (exists(s, v.ok(fam))) chainDirs(s, v.vd, fam.marker) else Nil
    if (chain.size <= 1) return false
    val meta = metaOf(s, v, fam)
    arts.foreach { case (art, merge) => merge(chain, meta).parquet(v(s"${art}_c")) }
    val f = fs(s, v.vd)
    f.delete(new Path(v.ok(fam)), false)
    arts.foreach { case (art, _) =>
      f.delete(new Path(v(art)), true)
      if (!f.rename(new Path(v(s"${art}_c")), new Path(v(art))))
        throw new IllegalStateException(s"compact ${fam.marker}: rename of $art failed")
    }
    publish(s, fam, v, None, meta.copy(base = None))
    sweepAt(s, v)
    SessionMemo.evictDataset(v.d, s"valid.${fam.marker}", root(s))
    true
  }

  /** Compaction for families whose segments hold DISJOINT key sets (the
    * signature chains, THM): the merge is a plain union rewrite — no
    * re-encode, no corpus pass — sized by the meta's exact row total.
    */
  private def compactUnion(s: SparkSession, fam: Family, v: Version,
      art: String): Boolean =
    compact(s, fam, v, art -> ((chain, m) =>
      boundFiles(unionOf(s, chain, art), math.max(1L, m.total)).write.mode("overwrite")))

  /** Compact past the family's chain bound. */
  private def bound(s: SparkSession, fam: Family, v: Version)(run: => Unit): Unit =
    if (fam.maxChain > 0 && chainDirs(s, v.vd, fam.marker).size > fam.maxChain) run

  /** Spec hook: the current segment-chain length of a documents-table
    * family (1 = self-contained).
    */
  private[graft] def sigChainLen(s: SparkSession, d: String, fam: String): Int =
    chainDirs(s, resolve(s, s"$d/$docs").vd, fam).size

  /** The delta rows, read from ONLY the appended files, projected exactly
    * as Similarity.vecsRaw projects the full table.
    */
  private def deltaVecs(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.parquet(paths: _*)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))

  /** The delta's DISTINCT vectors, eh-keyed — the encode unit of every
    * r12 vector index family (a batch re-shipping known content adds no
    * rows once the caller anti-joins the chain's eh registry).
    */
  private def deltaReps(s: SparkSession, paths: Seq[String]): DataFrame =
    deltaVecs(s, paths)
      .withColumn("eh", ehCol(col("v")))
      .groupBy("eh", "v").agg(min("nrm").as("nrm"))
      .select("eh", "v", "nrm")

  private type Codebook = Array[(Long, Seq[Double], Double)]

  // explicit schemas pin `cluster` LongType against hive partition-column
  // INFERENCE (which types small ids int, so an isin filter would cast the
  // attribute and block partition pruning), and read an all-known append's
  // ZERO-row partitioned dir, which has no footers to infer from
  private val cellsDdl = "eh string, v array<double>, nrm double, cluster bigint"
  private val codesDdl = "eh string, code bigint, nrm double"
  private val ipqCodesDdl = "eh string, code bigint, nrm double, cluster bigint"

  private[graft] def loadIvfCodebook(s: SparkSession, vd: String,
      okFam: String = "IVF2"): Option[Codebook] =
    if (exists(s, s"$vd/_GRAFT_OK_$okFam"))
      Some(s.read.parquet(s"$vd/ivf_codebook")
        .collect().map(r => (r.getAs[Long]("c_id"),
          r.getAs[scala.collection.Seq[Double]]("cv").toSeq,
          r.getAs[Double]("cnrm"))))
    else None

  private[graft] def loadPqCodebook(s: SparkSession, vd: String,
      okFam: String = "PQ2"): Option[(Array[Double], Int)] =
    if (exists(s, s"$vd/_GRAFT_OK_$okFam")) {
      val r = s.read.parquet(s"$vd/pq_codebook").head()
      Some((r.getAs[scala.collection.Seq[Double]]("cents").toArray,
        r.getAs[Int]("dim")))
    } else None

  // the (tiny) codebooks are copied into every appended tip so codebook
  // loads stay chain-free
  private def putIvfCodebook(s: SparkSession, v: Version, cb: Codebook): Unit =
    s.createDataFrame(cb.toIndexedSeq).toDF("c_id", "cv", "cnrm")
      .coalesce(1).write.mode("overwrite").parquet(v("ivf_codebook"))

  private def putPqCodebook(s: SparkSession, v: Version, cents: Array[Double],
      dim: Int): Unit =
    s.createDataFrame(Seq((dim, cents.toSeq))).toDF("dim", "cents")
      .coalesce(1).write.mode("overwrite").parquet(v("pq_codebook"))

  private def nearest(cb: Codebook) =
    Vectors.nearestCentroid(col("v"), cb.map(_._1), cb.flatMap(_._2), cb.map(_._3))

  private def pqCode(cents: Array[Double]) =
    Vectors.pqEncode(col("v"), cents, Similarity.pqM, Similarity.pqKsub).as("code")

  /** Hash-repartition on cluster so each cell lands as one file in its own
    * hive partition directory (the inverted-file layout).
    */
  private def writeCells(df: DataFrame, path: String): Unit =
    df.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Ensure the IVF index (codebook + cell-partitioned corpus) is
    * persisted for `d`'s embeddings table — fitting at most once per
    * table content, encoding only appended files on a pure append — and
    * return (driver codebook rows, cells reader). The cells reader is the
    * chain union of plain parquet scans; a `cluster` filter
    * partition-prunes each chain segment. Meta params: the distinct-row
    * total.
    */
  private[graft] def ivf(s: SparkSession, d: String,
      e: DataFrame): (Codebook, DataFrame) = {
    val v = resolve(s, d, IVF2) // e is the full-table projection
    ensure(s, IVF2, v)(
      append = b => Some { () =>
        val cb = loadIvfCodebook(s, b.dir, "IVF2").get
        putIvfCodebook(s, v, cb)
        // only genuinely-NEW distinct vectors encode (the textSigs
        // device): known ehs come from the chain's own cells — one row
        // per distinct vector, a reliable registry
        val known = chainRead(s, b.dir, "IVF2", "ivf2_cells", cellsDdl).select("eh")
        writeCells(deltaReps(s, b.delta).join(known, Seq("eh"), "left_anti")
          .withColumn("cluster", nearest(cb)), v("ivf2_cells"))
        val nNew = load(s, v("ivf2_cells"), cellsDdl).count()
        Meta(b.meta.nFit, (b.meta.total + nNew).toString)
      },
      fit = () => {
        val cb = Similarity.codebookRowsAt(s, d, e, v.n, v.fp) // Lloyd fit
        putIvfCodebook(s, v, cb)
        // one narrow NearestCentroid pass over the DISTINCT vectors
        // (r12: cells are eh-keyed; members expand at serve)
        writeCells(Members.eh(s, d)._2.select("eh", "v", "nrm")
          .withColumn("cluster", nearest(cb)), v("ivf2_cells"))
        Meta(v.n, s.read.parquet(v("ivf2_cells")).count().toString)
      })
    val cells = serve(s, IVF2, v, "ivf2_cells", cellsDdl)
    (Similarity.codebookRowsAt(s, d, e, v.n, v.fp), cells)
  }

  /** Ensure the PQ index (flat codebook + packed codes) is persisted and
    * return (flat centroids, dim, codes reader). `codes` is the 24 B/vector
    * serve corpus: (eh, packed 64-bit code, norm) — the chain union on an
    * appended table.
    */
  private[graft] def pq(s: SparkSession, d: String,
      e: DataFrame): (Array[Double], Int, DataFrame) = {
    val v = resolve(s, d, PQ2) // e is the full-table projection
    ensure(s, PQ2, v)(
      append = b => Some { () =>
        val (cents, dim) = loadPqCodebook(s, b.dir, "PQ2").get
        putPqCodebook(s, v, cents, dim)
        val known = chainRead(s, b.dir, "PQ2", "pq2_codes", codesDdl).select("eh")
        val nNew = saveCount(s, deltaReps(s, b.delta).join(known, Seq("eh"), "left_anti")
          .select(col("eh"), pqCode(cents), col("nrm")), v("pq2_codes"), codesDdl)
        Meta(b.meta.nFit, (b.meta.total + nNew).toString)
      },
      fit = () => {
        val (cents, dim) = Similarity.pqCodebookAt(s, d, e, v.n, v.fp) // fit
        putPqCodebook(s, v, cents, dim)
        // r12: one code row per DISTINCT vector (eh-keyed)
        Meta(v.n, saveCount(s, Members.eh(s, d)._2.select("eh", "v", "nrm")
          .select(col("eh"), pqCode(cents), col("nrm")), v("pq2_codes")).toString)
      })
    val (cents, dim) = Similarity.pqCodebookAt(s, d, e, v.n, v.fp)
    (cents, dim, serve(s, PQ2, v, "pq2_codes", codesDdl))
  }

  private val sigDdl = "eh string, band_idx int, code bigint"

  /** Banded hyperplane signatures (eh, band_idx, code) of `reps`' vectors. */
  private def bandSigs(reps: DataFrame, seed: Long, bands: Int, bits: Int): DataFrame =
    reps.select(col("eh"),
      posexplode(Vectors.hyperplaneBands(col("v"), seed, bands, bits))
        .as(Seq("band_idx", "code")))

  private def capBuckets(sigs: DataFrame): DataFrame =
    Dedup.capBuckets(sigs, Seq("band_idx", "code"), 256)

  /** Cap bucket occupancy (≤256 distinct vectors), write, read back. */
  private def capSigs(s: SparkSession, sigs: DataFrame, path: String): DataFrame = {
    capBuckets(sigs).write.mode("overwrite").parquet(path)
    load(s, path, sigDdl)
  }

  /** Ensure the LSH banded-signature table is persisted and return
    * (bits, bands, radius, capped signatures reader). LSH has no trained
    * model — the "fit" is the corpus ENCODE (one hyperplane-kernel pass
    * over every vector, a full corpus scan at 100 TB), which is exactly
    * what persisting avoids re-running per session. The stored table is
    * the already skew-capped (eh, band_idx, code) rows — the cap is part
    * of the index (a hot bucket is hot for every future query), counting
    * DISTINCT vectors (r12). Parameters (bits/bands/radius) are solved at
    * FIT time and FROZEN in the meta: an append must encode its delta with
    * the base's geometry (signatures under different bit counts don't
    * share a bucket space), and the serve side must probe with the same.
    * On append the sig table is re-capped over base ∪ delta and rewritten
    * whole (self-contained): cheap relative to the encode, and cap
    * semantics stay union-global. `lsh2_ehs` is the exact known-content
    * registry for the append anti-join (a vector whose rows were all
    * capped out is known but absent from the sig table).
    */
  private[graft] def lsh(s: SparkSession, d: String,
      e: DataFrame): (Int, Int, Int, DataFrame) = {
    val v = resolve(s, d, LSH2) // e is the full-table projection
    def encode(df: DataFrame, bands: Int, bits: Int): DataFrame =
      bandSigs(df, Similarity.annLshSeed, bands, bits)
    ensure(s, LSH2, v)(
      append = b => Some { () =>
        val Array(bits, bands, radius) = b.meta.ps.map(_.toInt)
        val known = s.read.parquet(s"${b.dir}/lsh2_ehs")
        val fresh = deltaReps(s, b.delta).join(known, Seq("eh"), "left_anti")
        capBuckets(s.read.parquet(s"${b.dir}/lsh2_sigs").unionByName(encode(fresh, bands, bits)))
          .write.mode("overwrite").parquet(v("lsh2_sigs"))
        known.unionByName(fresh.select("eh"))
          .write.mode("overwrite").parquet(v("lsh2_ehs"))
        Meta(b.meta.nFit, s"$bits,$bands,$radius")
      },
      fit = () => {
        val (bits, bands, radius) = Similarity.annLshParams(math.max(v.cnt, 2L))
        val reps = Members.eh(s, d)._2.select("eh", "v", "nrm")
        capBuckets(encode(reps, bands, bits)).write.mode("overwrite").parquet(v("lsh2_sigs"))
        reps.select("eh").write.mode("overwrite").parquet(v("lsh2_ehs"))
        Meta(v.cnt, s"$bits,$bands,$radius")
      })
    val (bits, bands, radius) = readMeta(s, v.vd, "LSH2") match {
      case Some(m) if m.params.nonEmpty =>
        val Array(b, ba, r) = m.ps.map(_.toInt); (b, ba, r)
      case _ => Similarity.annLshParams(math.max(v.cnt, 2L)) // pre-meta version
    }
    (bits, bands, radius, s.read.parquet(v("lsh2_sigs")))
  }

  /** Ensure the IVF-PQ index — PQ codes laid out IN the inverted file —
    * is persisted, and return (coarse codebook rows, flat PQ centroids,
    * codes reader). This is the composition production ANN actually ships
    * (FAISS `IVFx,PQy`): IVF alone prunes the read to ~nprobe/k of the
    * corpus but still streams RAW vectors inside probed cells; PQ alone
    * streams 24 B/vector codes but must scan the WHOLE corpus. Here the
    * artifact is `ivfpq2_codes/` = (eh, packed 64-bit code, nrm)
    * hive-partitioned by coarse cell: a serve touches nprobe/k of the
    * corpus AND reads 24 B/vector inside it — both cuts compound.
    *
    * Codes quantize the RAW vector against the SAME PQ codebook as
    * q_ann_pq (not the residual v − centroid): residual-PQ buys recall at
    * equal code size but needs per-cell LUTs and a second codebook
    * family; with the exact-cosine rescore of the ADC
    * top-[[Similarity.pqRescore]] downstream, the measured recall already
    * clears the family floor, and the codebook artifacts stay
    * byte-identical across the PQ and IVFPQ families (both derive from the
    * same memoized fits). Append/chain/drift as IVF2, with both frozen
    * codebooks copied into the tip.
    */
  private[graft] def ivfpq(s: SparkSession, d: String,
      e: DataFrame): (Codebook, Array[Double], DataFrame) = {
    val v = resolve(s, d, IPQ2) // e is the full-table projection
    def encode(df: DataFrame, cb: Codebook, cents: Array[Double]): Unit =
      writeCells(df.withColumn("cluster", nearest(cb))
        .select(col("eh"), pqCode(cents), col("nrm"), col("cluster")), v("ivfpq2_codes"))
    def putCodebooks(cb: Codebook, cents: Array[Double], dim: Int): Unit = {
      // the IVF/PQ families may already have written identical artifacts
      // into this version dir (same memoized fits) — don't rewrite under
      // a sibling family's completion marker
      if (!exists(s, v("ivf_codebook"))) putIvfCodebook(s, v, cb)
      if (!exists(s, v("pq_codebook"))) putPqCodebook(s, v, cents, dim)
    }
    ensure(s, IPQ2, v)(
      append = b => Some { () =>
        val cb = loadIvfCodebook(s, b.dir, "IPQ2").get
        val (cents, dim) = loadPqCodebook(s, b.dir, "IPQ2").get
        putCodebooks(cb, cents, dim)
        val known = chainRead(s, b.dir, "IPQ2", "ivfpq2_codes", ipqCodesDdl).select("eh")
        encode(deltaReps(s, b.delta).join(known, Seq("eh"), "left_anti"), cb, cents)
        val nNew = load(s, v("ivfpq2_codes"), ipqCodesDdl).count()
        Meta(b.meta.nFit, (b.meta.total + nNew).toString)
      },
      fit = () => {
        val cb = Similarity.codebookRowsAt(s, d, e, v.n, v.fp) // Lloyd (memoized)
        val (cents, dim) = Similarity.pqCodebookAt(s, d, e, v.n, v.fp)
        putCodebooks(cb, cents, dim)
        encode(Members.eh(s, d)._2.select("eh", "v", "nrm"), cb, cents)
        Meta(v.n, s.read.parquet(v("ivfpq2_codes")).count().toString)
      })
    val codes = serve(s, IPQ2, v, "ivfpq2_codes", ipqCodesDdl)
    (loadIvfCodebook(s, v.vd, "IPQ2").get, loadPqCodebook(s, v.vd, "IPQ2").get._1, codes)
  }

  /** Postings slot fan-out: the term space hashes into this many hive
    * partitions, so a query's driver-known slot set statically
    * partition-prunes the postings read — the term-space analogue of the
    * IVF cell layout. 64 at dev scale; a 1000-executor deployment widens
    * it (the slot count is a layout constant frozen into the version,
    * like LSH's solve params).
    */
  private[graft] val lexSlots = 64L

  /** th-keyed postings over DISTINCT texts (r11 layout): tf is a pure
    * function of TEXT, so the postings grow with distinct content, not
    * corpus size (the textSigs asymmetry applied to retrieval — a
    * 10⁵-duplicated page holds ONE posting row per term). Input rows are
    * (th, text).
    */
  private def lexTf(texts: DataFrame): DataFrame =
    texts.select(col("th"),
        explode(split(trim(col("text")), " +")).as("term"))
      .groupBy("th", "term").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("tslot", pmod(xxhash64(col("term")), lit(lexSlots)))

  /** (th, text) per DISTINCT text — the encode unit of the th-keyed
    * families.
    */
  private def distinctTexts(df: DataFrame): DataFrame =
    df.select(md5(col("text")).as("th"), col("text"))
      .groupBy("th").agg(min("text").as("text"))

  private val lexTfDdl = "th string, term string, tf bigint, tslot bigint"

  /** Ensure the lexical (BM25) inverted index for `d`'s documents table
    * is persisted, and return (tf postings reader, dl reader, nDocs).
    * Artifacts (family LXT — renamed from the r8 doc-keyed LEX so stale
    * old-layout versions on shared roots are inert, never mis-served):
    * `lex_tf` — (th, term, tf) postings over DISTINCT texts,
    * hive-partitioned by the term-hash slot; `lex_dl` — per-distinct-text
    * lengths; meta params carry the exact DISTINCT-content token total.
    * Document frequencies and the corpus token total are member-weighted
    * quantities (they change when a duplicate of KNOWN content arrives,
    * which adds no artifact rows), so they are derived at serve from the
    * cheap per-run doc↔th mapping. A new session LOADS instead of
    * re-tokenizing — the saved pass is the full text scan + tokenize + tf
    * shuffle, the operator's entire corpus-sized cost.
    *
    * Append discipline: novel-content rows are DISJOINT from the chain's
    * (anti-joined on th), so a pure file append writes only genuinely-new
    * texts' tf/dl partitions and the chained index is row-identical to a
    * fresh build (spec-proven; Lucene segment merging re-expressed over
    * parquet). No frozen-codebook approximation ⇒ no drift threshold;
    * [[compactLex]] bounds the segment count at [[corpusMaxChain]] — a
    * merged rewrite is real work here, so it amortizes over that many
    * micro-batch appends instead of firing every other one.
    */
  private[graft] def lex(s: SparkSession,
      d: String): (DataFrame, DataFrame, Long) = {
    val v = resolve(s, d, LXT)
    def tokens(df: DataFrame): Long = df.agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
    def build(texts: DataFrame): Long = { // returns the written token mass
      val tf = lexTf(texts)
      tf.write.partitionBy("tslot").mode("overwrite").parquet(v("lex_tf"))
      tf.groupBy("th").agg(sum("tf").cast("long").as("dl"))
        .write.mode("overwrite").parquet(v("lex_dl"))
      tokens(s.read.parquet(v("lex_dl")))
    }
    ensure(s, LXT, v)(
      append = b => Some { () =>
        val known = chainRead(s, b.dir, "LXT", "lex_dl").select("th")
        val fresh = distinctTexts(s.read.parquet(b.delta: _*).select("text"))
          .join(known, Seq("th"), "left_anti")
        Meta(v.cnt, (b.meta.total + build(fresh)).toString)
      },
      fit = () => Meta(v.cnt,
        build(distinctTexts(s.read.parquet(v.table).select("text"))).toString))
    bound(s, LXT, v)(compactLex(s, d))
    val tf = chainRead(s, v.vd, "LXT", "lex_tf", lexTfDdl)
    val dl = chainRead(s, v.vd, "LXT", "lex_dl")
    // truncation guard: the postings' exact token mass must equal the
    // meta total (a /tmp cleaner eating a slot partition is otherwise a
    // silent ranking corruption, not an error)
    validate(s, v, "LXT", metaOf(s, v, LXT).total,
      tf.agg(coalesce(sum("tf"), lit(0L))).head().getLong(0))
    (tf, dl, v.cnt)
  }

  /** Collapse the LXT append chain into one self-contained version — the
    * MERGE step of the Lucene-segment analogy, without which every append
    * adds a segment and the postings read unions N segment scans (the
    * classic small-file decay). Counts are exactly mergeable, so this is
    * a pure parquet job with NO tokenize pass: union every segment's
    * tf/dl and re-aggregate (segments hold DISJOINT th sets, so the
    * groupBy is defense in depth against a hand-edited segment), swapped
    * in by [[compact]]. Bit-identical to a fresh build (spec-proven); the
    * conserved token total is re-proven on the next serve. The documents-
    * keyed THM chain spans the SAME version dirs, so it collapses in the
    * same tick (else its chain would keep the LXT bases alive). Returns
    * false (no-op) on an unchained index.
    */
  private[graft] def compactLex(s: SparkSession, d: String): Boolean = {
    val v = resolve(s, d, LXT)
    if (!exists(s, v.ok(LXT))) lex(s, d) // ensure the tip exists
    compact(s, LXT, v,
      "lex_tf" -> ((chain, _) => unionOf(s, chain, "lex_tf", lexTfDdl)
        .groupBy("th", "term", "tslot").agg(sum("tf").cast("long").as("tf"))
        .select("th", "term", "tf", "tslot")
        .write.partitionBy("tslot").mode("overwrite")),
      "lex_dl" -> ((chain, _) => unionOf(s, chain, "lex_dl")
        .groupBy("th").agg(sum("dl").cast("long").as("dl"))
        .write.mode("overwrite"))) && {
      compactUnion(s, THM, resolve(s, d, THM), "thm_docs"); true
    }
  }

  /** Shared builder for the ID-KEYED hash-mapping families (THM/EHM —
    * r13, verdict r12 #5): the corpus hash pass behind the session
    * members memo, as a persisted artifact. Before this, Members.th/eh
    * lived only as session persists, so every NEW session re-paid the
    * full corpus md5 pass; now the mapping is a fingerprint-keyed parquet
    * family and SessionMemo keeps only the (unpersisted) handle.
    *
    * Unlike the th-keyed signature families, rows are keyed by the
    * APPEND-STABLE ids (doc_id / vec_id): a pure file append adds rows
    * and never rewrites one, so the delta encode is exactly the appended
    * files' rows — no anti-join against the chain, no drift policy.
    *
    * THM (text corpora — the true 100 TB table) chains like LXT and
    * compacts at [[corpusMaxChain]] (the merged rewrite is corpus-sized,
    * the per-append cost the chain avoids). EHM writes SELF-CONTAINED
    * versions (the ep_reps posture — the embeddings mapping is in the
    * size class EP already rewrites per append, and a chain here would
    * pin old version dirs through the vector families' drift-refit
    * collapse). Loud row-total truncation validation either way.
    */
  private def idHashFamily(s: SparkSession, d: String, fam: Family, art: String,
      encode: Seq[String] => DataFrame): DataFrame = {
    val v = resolve(s, d, fam)
    def put(df: DataFrame, rows: Long): Long = saveCount(s, boundFiles(df, rows), v(art))
    ensure(s, fam, v)(
      append = b => Some { () =>
        if (fam.chained) {
          // the delta segment is sized by the DELTA's own rows (one
          // output row per appended id), never the full-table cnt —
          // cnt-sizing wrote ~cnt/1M near-empty files for a small append
          // onto a large base (ADVICE r13); a metadata-cheap count of the
          // delta files only, once per append
          val dRows = s.read.parquet(b.delta: _*).count()
          Meta(v.cnt, (b.meta.total + put(encode(b.delta), math.max(1L, dRows))).toString)
        } else // base rows carry verbatim (ids are append-stable)
          Meta(v.cnt, put(s.read.parquet(s"${b.dir}/$art")
            .unionByName(encode(b.delta)), v.cnt).toString)
      },
      fit = () => Meta(v.cnt, put(encode(Seq(v.table)), v.cnt).toString))
    bound(s, fam, v)(compactUnion(s, fam, v, art))
    serve(s, fam, v, art)
  }

  /** Persisted (doc_id, th, nth, lang, source) member mapping — family
    * THM, the one narrow corpus text scan the whole text-serving surface
    * shares, as an artifact (see [[idHashFamily]]). lang/source ride
    * along: byte-sized next to the text column this scan exists to hash,
    * sparing the DSIR/mixture consumers a doc_id re-join; absent columns
    * (ad-hoc spec corpora) land as typed nulls so one artifact shape
    * serves every consumer. th = md5(raw text) (null-propagating — the
    * gate-pinned contract), nth = md5(normalized text).
    */
  private[graft] def docHashes(s: SparkSession, d: String): DataFrame =
    idHashFamily(s, d, THM, "thm_docs", { paths =>
      val df = s.read.parquet(paths: _*)
      val opt = Seq("lang", "source").map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast("string").as(c))
      df
        // spread the hash work and the artifact layout across every core
        // (a real cluster's scan is already split — no-op there)
        .repartition(s.sparkContext.defaultParallelism)
        .select(Seq(col("doc_id"), md5(col("text")).as("th"),
          md5(Dedup.normText).as("nth")) ++ opt: _*)
    })

  /** Persisted (vec_id, eh) member mapping — family EHM, the embedding
    * twin of [[docHashes]]: eh = the 128-bit vector content hash
    * ([[ehCol]]). The raw vector deliberately stays OUT of the artifact
    * (ep_reps already persists one (eh, v, nrm) row per distinct vector
    * for consumers that need it); serve-side group structure re-reads
    * the vector column once per session as the secondary equality key —
    * reading is cheap next to the hashing this artifact eliminates, and
    * a 128-bit collision of distinct vectors still cannot merge them.
    */
  private[graft] def vecHashes(s: SparkSession, d: String): DataFrame =
    idHashFamily(s, d, EHM, "ehm_vecs", { paths =>
      s.read.parquet(paths: _*)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          ehCol(Vectors.toDouble(col("embedding"))).as("eh"))
    })

  /** Persisted text-signature tables — the fit/serve split extended to
    * the TEXT near-dup family (q_dedup_minhash / q_dedup_simhash and the
    * other th-keyed encodes), whose signature stage (shingle explode → 16
    * seeded minhash aggregations, or token explode → 64 bit-sums) is THE
    * corpus-pass cost of those operators.
    *
    * Signatures are keyed by the DISTINCT TEXT's 128-bit hash `th`
    * (collapseExact's group key), NOT by doc id: a signature is a pure
    * function of the text, so a th-keyed artifact is append-stable under
    * both new documents and new duplicates of known texts (the latter add
    * NO rows — the artifact grows with distinct content, not corpus
    * size). Serve-side each run re-derives the cheap doc↔th mapping and
    * joins the persisted signatures back by th.
    *
    * Appends are exactly mergeable IN KIND (the delta encodes only
    * genuinely-new distinct texts — anti-joined against the chain's th
    * set — so the chained table is row-identical to a fresh build), no
    * drift policy. r15 (verdict r14 #8): a serve reading more than
    * [[sigMaxChain]] segments compacts first — the pair-graph builders
    * (NP2/MP2/SP2) read these chains on EVERY rebuild/append, and a long
    * run of small appends otherwise costs N listings + N small-file scans
    * per serve.
    */
  private[graft] def textSigs(s: SparkSession, d: String, marker: String,
      encode: DataFrame => DataFrame): DataFrame = {
    val fam = sigFamily(marker)
    val v = resolve(s, d, fam)
    val art = s"${marker.toLowerCase}_sigs"
    ensure(s, fam, v)(
      append = b => Some { () =>
        // the chain's known distinct texts add no rows — only
        // genuinely-new content is encoded (short texts that encode to
        // no signature are harmlessly re-attempted: still no row)
        val known = chainRead(s, b.dir, marker, art).select("th")
          .distinct() // NG stores multiple rows per th
        val fresh = distinctTexts(s.read.parquet(b.delta: _*).select("text"))
          .join(known, Seq("th"), "left_anti")
        Meta(v.cnt, (b.meta.total + saveCount(s, encode(fresh), v(art))).toString)
      },
      fit = () => Meta(v.cnt, saveCount(s,
        encode(distinctTexts(s.read.parquet(v.table).select("text"))), v(art)).toString))
    bound(s, fam, v)(compactUnion(s, fam, v, art))
    serve(s, fam, v, art)
  }

  /** Persisted BPE vocabulary (`bpe_wf`: word → exact corpus frequency) —
    * the fit/serve split extended to tokenizer training, whose corpus
    * pass is the word-count groupBy (the merge rounds themselves are
    * vocabulary-sized, see operators.Bpe). Word counts are EXACTLY
    * mergeable, so a pure file append tokenizes ONLY the delta and sums it
    * into the base vocabulary. Deliberately NO chain: the vocabulary is
    * Heaps-bounded, so a full merged rewrite per append is CHEAP and
    * keeps the serve single-segment. Merges retrain from the merged counts
    * per content version — vocabulary-sized work, deterministic, so the
    * post-append merge table is bit-identical to one trained from scratch
    * (spec-proven). Truncation fails loud against the meta's token total.
    */
  private[graft] def bpeVocab(s: SparkSession, d: String): (DataFrame, Long) = {
    val v = resolve(s, d, BPE)
    def tokens(df: DataFrame): Long = df.agg(coalesce(sum("freq"), lit(0L))).head().getLong(0)
    ensure(s, BPE, v)(
      append = b => Some { () =>
        val dwf = Bpe.wordFreqOf(s.read.parquet(b.delta: _*).select("text"))
        val deltaToks = tokens(dwf)
        s.read.parquet(s"${b.dir}/bpe_wf").unionByName(dwf)
          .groupBy("w").agg(sum("freq").cast("long").as("freq"))
          .write.mode("overwrite").parquet(v("bpe_wf"))
        Meta(v.cnt, (b.meta.total + deltaToks).toString)
      },
      fit = () => {
        Bpe.wordFreqOf(s.read.parquet(v.table).select("text"))
          .write.mode("overwrite").parquet(v("bpe_wf"))
        Meta(v.cnt, tokens(s.read.parquet(v("bpe_wf"))).toString)
      })
    val wf = s.read.parquet(v("bpe_wf"))
    val tot = metaOf(s, v, BPE).total
    validate(s, v, "BPE", tot, tokens(wf))
    (wf, tot)
  }

  /** Persisted near-dup cluster labels (`cc_labels`: normalized-text hash
    * → component key) — the fit/serve split extended to connected
    * components: before this, every q_dedup_clusters / q_split_assign run
    * re-derived the pair graph and re-ran O(log diameter) propagation
    * rounds over the whole distinct-text node set.
    *
    * The component key is the component's MIN NORMALIZED-TEXT HASH — a
    * pure function of the component's CONTENT (doc ids stay out of the
    * artifact: an append can lower a component's min doc id). Doc-level
    * cluster ids derive at serve.
    *
    * Append (the caller's `tryDelta` implements the graph math): a pure
    * file append can only ADD edges incident to genuinely-new texts,
    * UNLESS it pushes a shingle's document frequency across the cap (which
    * rewrites old nsh counts and can delete old edges) — `tryDelta`
    * detects any such crossing and returns None, forcing a full refit.
    * The labels table is distinct-text-sized, so each version is
    * self-contained. Validation: label rows vs the meta's count.
    */
  private[graft] def ccIndex(s: SparkSession, d: String,
      full: () => DataFrame,
      tryDelta: (Seq[String], DataFrame) => Option[DataFrame]): DataFrame = {
    val v = resolve(s, d, CC)
    def put(labels: DataFrame): Meta = Meta(v.cnt, saveCount(s, labels, v("cc_labels")).toString)
    ensure(s, CC, v)(
      append = b => tryDelta(b.delta, s.read.parquet(s"${b.dir}/cc_labels"))
        .map(labels => () => put(labels)),
      fit = () => put(full()))
    serve(s, CC, v, "cc_labels")
  }

  /** 128-bit content key for a distinct VECTOR — the embedding twin of
    * the text families' md5(text) `th`: two independent 64-bit xxhash64
    * values (the second salted by a literal) rendered as one 32-hex-char
    * string. A 64-bit key alone risks silently merging distinct vectors
    * at corpus scale (the reason Similarity's in-plan collapse keeps the
    * raw vector as a secondary equality key); 128 bits puts a collision
    * at ~n²/2^128 — the same budget the md5 text keys accept. All-builtin
    * and codegen'd: no JSON/string rendering of doubles on the hot scan.
    */
  private[graft] def ehCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lpad(hex(xxhash64(v)), 16, "0"),
      lpad(hex(xxhash64(v, lit(42))), 16, "0"))

  /** Refuse a quadratic EP candidate join BEFORE it runs (r15 — the
    * expansion-guard contract extended to the fit side): the renumbered
    * 100× corpus (200k distinct vectors) showed the qualifying-pair set
    * at the dedup threshold is itself quadratic-class on realistic data
    * (~10⁸+ exact-bucket collision pairs at fit geometry; the candidate
    * shuffle filled 74 GB of local disk before failing). The estimate is
    * the exact-bucket Σk(k−1)/2 over the capped signatures — one cheap
    * map-side-combined aggregation per fit/append, and a strict LOWER
    * bound on the ball-matched candidate volume, so a refusal is never a
    * false positive. Same knob as the member expansions
    * (graft.expand.maxRows): computing a 10⁸+-pair graph is a deliberate
    * multi-TB-shuffle decision, not a default.
    */
  /** r16 (ADVICE r15 + verdict r15 #6): the estimate matches the join the
    * path actually runs, and the refusal is a first-class estimated-cost
    * ANSWER, not just a stop sign.
    *
    *  - FULL fit (`fresh` = None): exact-bucket Σ k(k−1)/2 over the capped
    *    signatures — a strict lower bound on the split-ball candidate
    *    volume, so a refusal is never a false positive for the fresh
    *    build.
    *  - APPEND (`fresh` = the delta's eh set): the append join only emits
    *    pairs with ≥1 new endpoint, so the bound is the new-endpoint
    *    candidate count Σ [k_new·(k−k_new) + k_new(k_new−1)/2] per bucket
    *    — the r15 full-pair estimate refused a small drift append to a
    *    large fitted corpus whose actual join volume was delta-sized.
    *  - The message reports the measured bound AND the smallest τ at
    *    which the pair graph is ESTIMATED to fit the budget: bits (and so
    *    bucket occupancy) depend only on n, while the solved band count
    *    falls as τ rises, so est(τ′) ≈ est · bands(τ′)/bands(τ) over the
    *    same bucket histogram — an estimate (occupancy also shifts with
    *    the per-plane agreement), labeled as such, but enough for a user
    *    to re-fit at a feasible threshold without re-running the guard
    *    loop blind.
    */
  private def epCandidateGuard(s: SparkSession, capped: DataFrame,
      fresh: Option[DataFrame], n: Long, tau: Double, bands: Int): Unit = {
    val budget = Dedup.expandMaxRows(s)
    val est = fresh match {
      case Some(fr) =>
        capped
          .join(fr.select(col("eh")).withColumn("is_new", lit(1L)),
            Seq("eh"), "left")
          .groupBy("band_idx", "code")
          .agg(count(lit(1)).as("k"),
            coalesce(sum("is_new"), lit(0L)).as("kn"))
          .agg(coalesce(sum(expr(
            "kn * (k - kn) + kn * (kn - 1L) div 2L")), lit(0L)))
          .head().getLong(0)
      case None =>
        capped.groupBy("band_idx", "code")
          .agg(count(lit(1)).as("k"))
          .agg(coalesce(sum(expr("k * (k - 1L) div 2L")), lit(0L)))
          .head().getLong(0)
    }
    if (est > budget) {
      // smallest τ′ in (τ, 0.99] whose re-solved band count scales the
      // measured bound under the budget — driver arithmetic over ≤65
      // lshParams solves, no job
      val feasibleTau = Iterator.iterate(math.ceil(tau * 100).toInt / 100.0 + 0.01)(_ + 0.01)
        .takeWhile(_ <= 0.99)
        .find { t =>
          val b = Similarity.lshParams(math.max(n, 2L), t, 0.02, 96)._2
          est.toDouble * b / bands <= budget
        }
      val tauHint = feasibleTau
        .map(t => f"an estimated τ ≥ $t%.2f fits the budget at this corpus " +
          "(est ∝ solved band count; re-fit with that threshold)")
        .getOrElse("no τ ≤ 0.99 fits the budget at this corpus size")
      throw new graft.QuadraticRefusal(
        s"EP candidate join would emit ≥$est new-pair candidates from " +
          s"exact-bucket collisions (before the multi-probe ball) — past " +
          s"graft.expand.maxRows=$budget. At this corpus size the " +
          s"qualifying-pair set at τ=$tau is quadratic-class; $tauHint. " +
          "Computing the full graph is a deliberate multi-TB-shuffle " +
          "decision — raise graft.expand.maxRows (and provision shuffle " +
          "disk) to proceed, serve the rep-level ANN/cluster surfaces, or " +
          "use the degree-capped k-NN pair family (q_dedup_embed_knn / " +
          "q_dedup_semantic), which is linear in distinct content by " +
          "construction.")
    }
  }

  private val repDdl = "eh string, v array<double>, nrm double"
  private val epPairDdl = "eh_a string, eh_b string, cosine double"
  private val labDdl = "eh string, ck string"

  /** Exact rescore of candidate pairs (eh_a, eh_b) against `reps`,
    * keeping cosine ≥ τ: every emitted pair is verified, so a pair graph
    * can never hold a FALSE pair — the divergence axis is candidate recall.
    */
  private def rescore(cand: DataFrame, reps: DataFrame): DataFrame =
    cand
      .join(reps.select(col("eh").as("eh_a"), col("v").as("va"),
        col("nrm").as("na")), "eh_a")
      .join(reps.select(col("eh").as("eh_b"), col("v").as("vb"),
        col("nrm").as("nb")), "eh_b")
      .select(col("eh_a"), col("eh_b"),
        (Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= Similarity.dedupTau)

  /** Fresh-build candidates: the split-ball self-join (see
    * Similarity.splitProbeMasks) — each side probes the full radius
    * restricted to its own half of the bit positions; the popcount-sum
    * predicate restores exactly the hamming-≤radius candidate set.
    * Merge-hinted: Catalyst's size estimate CANNOT see the explode
    * multiplier (Generate keeps the child scan's sizeInBytes), so a 26 MB
    * ep_sigs scan estimate hid 10.5M×29 = 303M runtime rows behind a
    * below-threshold BroadcastExchange — a 2.3 GB driver collect that
    * killed the EP fit at 200k distinct vectors (r15). Both sides are
    * corpus-sized signature expansions — a shuffled sort-merge at every
    * scale by construction.
    */
  private def splitBall(capped: DataFrame, bits: Int, radius: Int): DataFrame = {
    def expand(df: DataFrame, masks: Array[Long]): DataFrame =
      df.withColumn("mask", explode(lit(masks)))
        .select(col("eh"), col("band_idx"),
          col("code").bitwiseXOR(col("mask")).as("code"),
          expr("bit_count(mask)").as("mbits"))
    val (lowMasks, highMasks) = Similarity.splitProbeMasks(bits, radius)
    expand(capped, lowMasks).as("a").hint("merge")
      .join(expand(capped, highMasks).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.code") === col("b.code") &&
          col("a.mbits") + col("b.mbits") <= radius &&
          col("a.eh") < col("b.eh"))
      .select(col("a.eh").as("eh_a"), col("b.eh").as("eh_b"))
      .distinct()
  }

  /** Append candidates touching a NEW vector: the fresh side probes its
    * full hamming-≤radius ball against the union's EXACT codes — for pairs
    * with ≥1 new endpoint the same candidate set as the fresh build's
    * split-ball join, with the ball multiplier riding only the
    * batch-sized side. Merge-hinted like [[splitBall]]: the probed side
    * is runtime rows behind a Generate the estimator can't see, and a
    * drift-bound append (≤30% of the corpus) is still corpus-class.
    */
  private def probeFresh(capped: DataFrame, fresh: DataFrame, bits: Int,
      radius: Int): DataFrame = {
    val probed = capped.join(fresh.select("eh"), Seq("eh"), "left_semi")
      .withColumn("mask", explode(lit(Similarity.probeMasks(bits, radius))))
      .select(col("eh").as("eh_n"), col("band_idx"),
        col("code").bitwiseXOR(col("mask")).as("code"))
    capped.hint("merge").join(probed, Seq("band_idx", "code"))
      .where(col("eh") =!= col("eh_n"))
      .select(least(col("eh"), col("eh_n")).as("eh_a"),
        greatest(col("eh"), col("eh_n")).as("eh_b"))
      .distinct()
  }

  /** Component content keys (eh → ck = the component's min eh) over a
    * pair graph with endpoint columns `ea`/`eb`, by pointer-jumping
    * propagation ([[Dedup.connectedComponents]]). The propagation's
    * convergence check needs numeric labels, so min vec ids serve as
    * transient surrogates — never stored: labels stay ID-FREE. The key is
    * one map-side-combined groupBy + equi-join back, never a
    * per-component collect.
    */
  private def componentKeys(s: SparkSession, table: String, nodes: DataFrame,
      pairs: DataFrame, ea: String, eb: String): DataFrame = {
    val m = s.read.parquet(table)
      .select(col("vec_id"), ehCol(Vectors.toDouble(col("embedding"))).as("eh"))
      .groupBy("eh").agg(min("vec_id").as("nid"))
    val ns = nodes.join(m, "eh")
    val edges = pairs
      .join(m.select(col("eh").as(ea), col("nid").as("a")), ea)
      .join(m.select(col("eh").as(eb), col("nid").as("b")), eb)
      .select("a", "b")
    val labeled = ns.join(Dedup.connectedComponents(
      ns.select(col("nid").as("id")), edges), col("nid") === col("id"))
    labeled
      .join(labeled.groupBy("label").agg(min("eh").as("ck")), "label")
      .select(col("eh"), col("ck"))
  }

  /** Session-scoped refusal memo (r16): a refused EP fit re-ran the whole
    * signature encode (a corpus pass) on every retry just to re-reach the
    * same guard throw. Keyed by (version dir, budget) so a deliberately
    * raised budget re-attempts the fit.
    */
  private val epRefused =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Persisted embedding near-dup PAIR graph (family EP): before this,
    * every q_dedup_embed / q_dedup_semantic run re-ran the whole candidate
    * machinery (hyperplane encode of every distinct vector, split-ball
    * bucket self-join, exact rescore) — a full corpus pass per session for
    * a structure that only changes on ingest.
    *
    * Artifacts (DISTINCT-CONTENT-sized and ID-FREE — an append can lower
    * a group's min vec_id with no structural change; serve re-derives the
    * cheap id↔eh mapping): `ep_reps` (eh, v, nrm), `ep_sigs` (eh,
    * band_idx, code — capped banded signatures under the FIT-TIME
    * geometry), `ep_pairs` (eh_a < eh_b, cosine). Geometry (solved by
    * [[Similarity.lshParams]] at the dedup design point from the DISTINCT
    * count) is FROZEN in the meta; every version is self-contained.
    *
    * Append = new distinct vectors only (anti-joined against `ep_reps`):
    * frozen-geometry encode, re-cap over base ∪ delta, [[probeFresh]]
    * candidates, exact rescore. Old↔old pairs carry over verbatim, so the
    * append differs from a fresh build ONLY where a delta row re-fills a
    * bucket the base had capped out — candidate recall, never a false
    * pair. Drift past [[refitFraction]] refits. The append also persists
    * its NEW pairs (`ep_delta`, cumulative since the last EC-labeled
    * version) and the EC lineage pointer (`_GRAFT_EC_BASE`) so
    * [[ecLabels]] can union-find only the delta. Meta params:
    * bits,bands,radius,nReps,nPairs; `ep_reps` is validated loud.
    *
    * Returns the (eh_a, eh_b, cosine) pair reader plus the exact
    * persisted pair row count (the expansion-side broadcast-guard bound).
    */
  private[graft] def embedPairs(s: SparkSession, d: String): (DataFrame, Long) = {
    val v = resolve(s, d, EP)
    val refuseKey = s"${v.vd}#${Dedup.expandMaxRows(s)}"
    Option(epRefused.get(refuseKey))
      .foreach(msg => throw new graft.QuadraticRefusal(msg))
    def distinctReps(df: DataFrame): DataFrame =
      df.withColumn("eh", ehCol(col("v")))
        .groupBy("eh").agg(min("v").as("v"), min("nrm").as("nrm"))
    try ensure(s, EP, v)(
      append = b => Some { () =>
        val ps = b.meta.ps
        val (bits, bands, radius) = (ps(0).toInt, ps(1).toInt, ps(2).toInt)
        val baseReps = load(s, s"${b.dir}/ep_reps", repDdl)
        val fresh = distinctReps(deltaVecs(s, b.delta))
          .join(baseReps.select("eh"), Seq("eh"), "left_anti")
        val capped = capSigs(s, load(s, s"${b.dir}/ep_sigs", sigDdl)
          .unionByName(bandSigs(fresh, 42L, bands, bits)), v("ep_sigs"))
        // append-path estimate: only pairs with ≥1 NEW endpoint join
        // (ADVICE r15 — the full-pair bound refused delta-sized appends)
        epCandidateGuard(s, capped, Some(fresh), ps(3).toLong, Similarity.dedupTau, bands)
        val allReps = baseReps.unionByName(fresh)
        val newPairs = rescore(probeFresh(capped, fresh, bits, radius), allReps)
        // EP appends only ever ADD pairs, so components only merge — the
        // EC reduced-graph premise. The delta is CUMULATIVE since the last
        // EC build (the base's un-labeled delta rides along and the
        // pointer stays on the last EC-labeled version), so one hop always
        // suffices and sibling pruning cannot break the chain.
        val labeled = exists(s, s"${b.dir}/_GRAFT_OK_EC")
        val ecBase =
          if (labeled) Some(b.name)
          else if (exists(s, s"${b.dir}/ep_delta")) readText(s, s"${b.dir}/_GRAFT_EC_BASE")
          else None
        ecBase.foreach { bn =>
          (if (labeled) newPairs
            else load(s, s"${b.dir}/ep_delta", epPairDdl).unionByName(newPairs))
            .write.mode("overwrite").parquet(v("ep_delta"))
          writeText(s, v("_GRAFT_EC_BASE"), bn)
        }
        load(s, s"${b.dir}/ep_pairs", epPairDdl)
          .unionByName(
            if (ecBase.isDefined && labeled)
              // read the delta back so ep_pairs and ep_delta hold the
              // byte-identical rows (one rescore execution, not two)
              load(s, v("ep_delta"), epPairDdl)
            else newPairs)
          .write.mode("overwrite").parquet(v("ep_pairs"))
        val nReps = saveCount(s, allReps, v("ep_reps"), repDdl)
        val nPairs = load(s, v("ep_pairs"), epPairDdl).count()
        Meta(b.meta.nFit, s"$bits,$bands,$radius,$nReps,$nPairs")
      },
      fit = () => {
        val nDist = saveCount(s, distinctReps(deltaVecs(s, Seq(v.table))),
          v("ep_reps"), repDdl)
        val reps = load(s, v("ep_reps"), repDdl)
        val (bits, bands, radius) = Similarity.lshParams(
          math.max(nDist, 2L), Similarity.dedupTau, 0.02, 96)
        val capped = capSigs(s, bandSigs(reps, 42L, bands, bits), v("ep_sigs"))
        epCandidateGuard(s, capped, None, nDist, Similarity.dedupTau, bands)
        val nPairs = saveCount(s, rescore(splitBall(capped, bits, radius), reps),
          v("ep_pairs"), epPairDdl)
        Meta(v.n, s"$bits,$bands,$radius,$nDist,$nPairs")
      })
    catch {
      case e: graft.QuadraticRefusal =>
        epRefused.put(refuseKey, e.getMessage); throw e
    }
    val ps = metaOf(s, v, EP).ps
    validate(s, v, "EP", ps(3).toLong, load(s, v("ep_reps"), repDdl).count())
    // r13: the pair row total rides the meta so expansion consumers can
    // size their broadcast guard without a per-serve count() job (an
    // artifact older than the 5th params element pays the count)
    val pairs = load(s, v("ep_pairs"), epPairDdl)
    (pairs, ps.lift(4).fold(pairs.count())(_.toLong))
  }

  /** Read-only peek at the EP distinct-vector table: Some(ep_reps —
    * (eh, v, nrm)) iff the EP artifact is already COMPLETE for the
    * current corpus version; never builds. For consumers whose direct
    * plan is cheaper on a cold corpus than an EP fit (q_ann_topk's
    * zero-shuffle broadcast brute scan): they serve rep-level only when
    * the dedup family has already paid the encode, and fall back to the
    * direct plan otherwise, bit-identical either way.
    */
  private[graft] def epRepsIfReady(s: SparkSession, d: String): Option[DataFrame] = {
    val v = resolve(s, d, EP)
    if (!exists(s, v.ok(EP))) None
    else {
      val reps = load(s, v("ep_reps"), repDdl)
      validate(s, v, "EP", metaOf(s, v, EP).ps(3).toLong, reps.count())
      Some(reps)
    }
  }

  /** Persisted semantic component labels (family EC, derived from EP) —
    * q_dedup_semantic's connected components ran per session over the
    * distinct-vector pair graph even once the pairs were persisted. Labels
    * are a pure function of the pair graph, so they version WITH the EP
    * artifact: one `ec_labels` table (eh → ck, the component's min content
    * key, [[componentKeys]]) per corpus version. Serve re-derives the cheap
    * id↔eh mapping and resolves each component's min member vec_id — so
    * the served cluster ids are exactly the direct propagation's labels.
    *
    * Append (r13, verdict r12 #6): EP appends only ADD pairs, so
    * components only MERGE along new-pair bridges, never split — the text
    * CC family's reduced-graph union-find (Dedup.ccTryDelta), ported. The
    * base is the version EP's lineage pointer names; each `ep_delta`
    * endpoint maps to its base component key (fresh ehs key as
    * themselves), the REDUCED edge set (≤ delta-sized, driver-capped — a
    * backfill-sized batch refits) is union-found with min-key roots, and
    * the base table relabels with one broadcast join. Each old key already
    * IS its component's min, so the appended labels are row-identical to a
    * full rebuild (spec-pinned on merge/bridge/fresh-singleton scenarios).
    */
  private[graft] def ecLabels(s: SparkSession, d: String): DataFrame = {
    val (pairs, _) = embedPairs(s, d) // EP current for this corpus version
    val v = resolve(s, d, EC)
    def ecTryDelta(baseDir: String): Option[DataFrame] = {
      val baseLab = load(s, s"$baseDir/ec_labels", labDdl)
      val keyed = load(s, v("ep_delta"), epPairDdl)
        .join(baseLab.select(col("eh").as("eh_a"), col("ck").as("ck_a")),
          Seq("eh_a"), "left")
        .join(baseLab.select(col("eh").as("eh_b"), col("ck").as("ck_b")),
          Seq("eh_b"), "left")
        .select(coalesce(col("ck_a"), col("eh_a")).as("ka"),
          coalesce(col("ck_b"), col("eh_b")).as("kb"))
        .where(col("ka") =!= col("kb")).distinct()
      val reduced = keyed.limit(200001).collect()
      if (reduced.length > 200000) return None
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
        .map((k: String) => (k, find(k))).filter { case (k, r) => k != r }
      val base0 = load(s, v("ep_reps"), repDdl).select("eh")
        .join(baseLab, Seq("eh"), "left")
        .select(col("eh"), coalesce(col("ck"), col("eh")).as("key0"))
      import s.implicits._
      Some(
        if (relabel.isEmpty) base0.select(col("eh"), col("key0").as("ck"))
        else base0
          .join(broadcast(relabel.toDF("key0", "ck2")), Seq("key0"), "left")
          .select(col("eh"), coalesce(col("ck2"), col("key0")).as("ck")))
    }
    def put(lab: DataFrame): Meta =
      Meta(v.cnt, saveCount(s, lab, v("ec_labels"), labDdl).toString)
    ensure(s, EC, v)(
      append = b =>
        if (!exists(s, v("ep_delta"))) None
        else ecTryDelta(b.dir).map(lab => () => put(lab)),
      fit = () => put(componentKeys(s, v.table,
        load(s, v("ep_reps"), repDdl).select("eh"), pairs, "eh_a", "eh_b")))
    serve(s, EC, v, "ec_labels", labDdl)
  }

  /** Degree cap of the persisted k-NN embed-pair graph: per distinct
    * vector, at most this many outgoing neighbor edges (cosine ≥ τ).
    */
  private[graft] val knK = 10

  /** Candidate-recall miss target of the KN banded solve: bands/radius
    * solved by [[Similarity.lshParams]] for ≥ 1−knMiss per-pair
    * candidate recall AT τ — the same guarantee machinery as the EP
    * fit, at a relaxed design point (0.9 vs EP's 0.98): the graph
    * consumer tolerates a thinner tail, and the band count (the build's
    * cost multiplier) roughly halves.
    */
  private[graft] val knMiss = 0.1

  private[graft] val knSeed = 7919L

  /** Probe cells per query vector in the KN locality (ivf) mode. */
  private[graft] val knProbes = 8

  /** Ball-matched candidate-pair budget that selects the KN build mode
    * (conf `graft.knn.candBudget`): past it the banded path's rescore
    * would shuffle vector-carrying rows at the qualifying-pair volume —
    * the EP 74 GB disk-fill class — so the build switches to the
    * IVF-cell locality path, whose shuffles are corpus-sized regardless
    * of pair density.
    */
  private def knCandBudget(s: SparkSession): Long =
    s.conf.get("graft.knn.candBudget", "30000000").toLong

  /** Persisted DEGREE-CAPPED k-NN embed-pair graph (family KN, r16 —
    * verdict r15 #1): per DISTINCT vector, its top-[[knK]] neighbors
    * with cosine ≥ τ — the SemDeDup/FineWeb consumption shape (Abbas et
    * al. 2023, arXiv:2303.09540) that stays LINEAR on realistic corpora
    * where the ε-threshold EP family's own OUTPUT is quadratic-class
    * (484M qualifying pairs at τ=0.35 over 200k distinct vectors,
    * measured r15) and correctly refuses. Output is ≤ knK·n rows BY
    * CONSTRUCTION; every emitted edge is exact-rescored, so the graph
    * can never hold a FALSE pair; the approximation axis is candidate
    * recall.
    *
    * TWO candidate modes, chosen by a MEASURED estimate and frozen in
    * the meta — because no single device is right on both density
    * regimes:
    *
    *  - `lsh` (sparse ε-graphs — the solvable regime): banded
    *    hyperplane signatures (bits ≈ log2(n/32), bands+radius solving
    *    ≥ 1−[[knMiss]] per-pair recall at τ), ≤256-distinct-vector
    *    bucket caps, split-ball self-join, exact rescore, both
    *    orientations, top-k. Recall is SOLVED, not hoped: an IVF-cell
    *    build measured 0.57 pair recall at 2k vectors/45 cells on the
    *    boundary-pair corpus, the banded build measures 0.92 at the
    *    same point. Candidate volume rides the qualifying-pair density.
    *
    *  - `ivf` (dense ε-graphs — the quadratic regime): when the
    *    ball-matched candidate estimate (an EXACT bucket-size
    *    convolution over the ≤ bands·2^bits bucket table — cheap,
    *    data-derived, the guard-estimate discipline) exceeds
    *    [[knCandBudget]], per-pair-solved generation is unaffordable BY
    *    MEASUREMENT — the same fact that makes EP refuse. There the
    *    corpus is dense BECAUSE it is clustered, and locality serves
    *    the top-k contract: each vector probes its [[knProbes]] nearest
    *    IVF cells ([[graft.expressions.NearestCentroids]], one narrow
    *    codegen'd projection — a crossJoin+window assignment would
    *    Exchange n·k corpus-sized rows) and candidates are the probed
    *    cells' members via ONE merge-hinted equi-join on `cluster` —
    *    the shuffles are corpus-sized (n·probes probe rows + n cell
    *    rows) no matter how dense the pair set; the dense candidate
    *    stream exists only inside the streamed join output feeding the
    *    τ filter and the map-side WindowGroupLimit. Recall here is NOT
    *    solved — it is MEASURED per corpus (ScaleRecall's knn audit).
    *
    * In both modes the final top-[[knK]] filter plans as a map-side
    * WindowGroupLimit, so the window Exchange carries ≤ knK rows per
    * (query, map partition), never the candidate volume; the window
    * partitions by eh_q but its group is candidate-bounded, NOT
    * duplication-bounded — members never enter the graph (the annPq
    * ADC-window class, not the banned content-key window class).
    *
    * 100 TB note: lsh mode is linear in DISTINCT content at FIXED pair
    * density (sigs n·bands, ball expansion n·bands·ballmasks,
    * candidates ≤ n·bands·cap/2); ivf mode is linear in corpus size at
    * ANY density (the candidate stream is compute, not shuffle), with
    * the documented 1024-cell codebook cap to revisit past ~1M distinct
    * (cellSize grows — a layout constant, the lexSlots class). The
    * serve is always a scan of ≤ knK·n persisted rows. No
    * epCandidateGuard here: the guard protects unbounded pair OUTPUT;
    * this family's output is degree-capped and its build mode is
    * budget-selected.
    *
    * Append (mode + geometry frozen in the meta):
    *  - lsh: fresh = delta distinct vectors anti-joined against
    *    `kn_ehs`; signatures re-capped over base ∪ delta; candidates
    *    touching a fresh vector via the one-sided full-radius ball
    *    probe against the union's exact codes (the EP append device).
    *  - ivf: [[ivf]] delta-encodes the cells under its frozen codebook;
    *    fresh = cells not in `kn_ehs`; fresh queries probe the full
    *    union cells, OLD queries gain candidates only among FRESH cell
    *    rows (probe sets are a frozen function of the codebook).
    * Either way the merge re-windows base ∪ new-endpoint edges, and
    * top-k(A ∪ B) = top-k(top-k(A) ∪ B) — an edge outside the old
    * top-k can never re-enter when candidates are only added — so a
    * no-cap-crossing append is ROW-IDENTICAL to a frozen-geometry
    * rebuild including ranks (spec-pinned per mode); a cap-crossing lsh
    * append diverges one-sided on candidate recall only (the EP
    * posture — never a false pair). The pair table is ≤ knK·n rows:
    * self-contained rewrite per version (the vocab/CC posture), no
    * chain. Drift past [[refitFraction]] refits (which re-decides the
    * mode from the grown corpus).
    *
    * Artifacts (ID-FREE, distinct-content-sized): `kn_pairs`
    * (eh_q, eh_n, cosine, rn — the DIRECTED rank-ordered graph),
    * `kn_ehs` (the known-content registry), and in lsh mode `kn_sigs`
    * (capped banded signatures under the frozen solve). Meta params:
    * mode,bits,bands,radius,nReps,nPairs; pair count validated loud on
    * first serve.
    */
  private[graft] def knnPairs(s: SparkSession, d: String): DataFrame = {
    val v = resolve(s, d, KN)
    val pairDdl = "eh_q string, eh_n string, cosine double, rn int"
    // exact rescore + τ filter against the session rep frame, then BOTH
    // orientations (the artifact is the directed rank-ordered graph);
    // dot(a,b) and dot(b,a) sum the same products in the same index
    // order, so the two orientations carry the bit-identical cosine
    def directedScored(cand: DataFrame): DataFrame = {
      val scored = rescore(cand, Members.eh(s, d)._2.select("eh", "v", "nrm"))
      scored.select(col("eh_a").as("eh_q"), col("eh_b").as("eh_n"), col("cosine"))
        .unionByName(scored.select(col("eh_b").as("eh_q"),
          col("eh_a").as("eh_n"), col("cosine")))
    }
    // ivf-mode candidate scorer: probe cells → streamed equi-join →
    // exact cosine → τ filter, emitted DIRECTED (the query side is the
    // probing side)
    def cellScore(q: DataFrame, c: DataFrame, cb: Codebook): DataFrame =
      q.select(col("eh").as("eh_q"), col("v").as("qv"),
          col("nrm").as("qnrm"),
          explode(Vectors.nearestCentroids(col("v"), cb.map(_._1),
            cb.flatMap(_._2), cb.map(_._3), knProbes)).as("cluster"))
        .hint("merge")
        .join(c.select(col("eh").as("eh_n"), col("v").as("nv"),
          col("nrm").as("nnrm"), col("cluster")), Seq("cluster"))
        .where(col("eh_q") =!= col("eh_n"))
        .select(col("eh_q"), col("eh_n"),
          (Vectors.dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")))
            .as("cosine"))
        .where(col("cosine") >= Similarity.dedupTau)
    def topK(cand: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("eh_q")
        .orderBy(col("cosine").desc, col("eh_n"))
      cand.withColumn("rn", row_number().over(w)).where(col("rn") <= knK)
    }
    // exact ball-matched candidate-pair count from the bucket-size
    // table: Σ over (band, code, code′⊕mask within the hamming ball)
    // of k·k′, self-pairs removed, halved — the bucket table is
    // ≤ bands·2^bits rows and the ball ≤ 697 masks, so this is a tiny
    // driver-free aggregation, never a corpus pass
    def ballEstimate(capped: DataFrame, bits: Int, radius: Int): Long = {
      val bsz = capped.groupBy("band_idx", "code").agg(count(lit(1)).as("k"))
      val masks = Similarity.probeMasks(bits, radius)
      val probedSz = bsz.withColumn("mask", explode(lit(masks)))
        .select(col("band_idx"),
          col("code").bitwiseXOR(col("mask")).as("code"), col("k").as("kp"))
      val total = bsz.join(probedSz, Seq("band_idx", "code"))
        .agg(coalesce(sum(col("k") * col("kp")), lit(0L))).head().getLong(0)
      val self = bsz.agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0)
      (total - self) / 2
    }
    def finish(mode: String, bits: Int, bands: Int, radius: Int): Meta = {
      val nReps = load(s, v("kn_ehs"), "eh string").count()
      val nPairs = load(s, v("kn_pairs"), pairDdl).count()
      Meta(v.n, s"$mode,$bits,$bands,$radius,$nReps,$nPairs")
    }
    ensure(s, KN, v)(
      append = b => Some { () =>
        val ps = b.meta.ps
        val (mode, bits, bands, radius) = (ps(0), ps(1).toInt, ps(2).toInt, ps(3).toInt)
        val baseEhs = load(s, s"${b.dir}/kn_ehs", "eh string")
        val newEdges = if (mode == "lsh") {
          val fresh = deltaReps(s, b.delta).join(baseEhs, Seq("eh"), "left_anti")
          val capped = capSigs(s, load(s, s"${b.dir}/kn_sigs", sigDdl)
            .unionByName(bandSigs(fresh, knSeed, bands, bits)), v("kn_sigs"))
          directedScored(probeFresh(capped, fresh, bits, radius))
        } else {
          val (cb, cells) = ivf(s, d, deltaVecs(s, Seq(v.table)))
          val freshCells = cells.join(baseEhs, Seq("eh"), "left_anti")
          val oldCells = cells.join(baseEhs, Seq("eh"), "left_semi")
          cellScore(freshCells.select("eh", "v", "nrm"), cells, cb)
            .unionByName(cellScore(oldCells.select("eh", "v", "nrm"),
              freshCells, cb))
        }
        topK(load(s, s"${b.dir}/kn_pairs", pairDdl).drop("rn").unionByName(newEdges))
          .write.mode("overwrite").parquet(v("kn_pairs"))
        Members.eh(s, d)._2.select("eh")
          .write.mode("overwrite").parquet(v("kn_ehs"))
        finish(mode, bits, bands, radius)
      },
      fit = () => {
        val reps = Members.eh(s, d)._2.select("eh", "v", "nrm")
        val nDist = Members.ehDistinct(s, d)
        val (bits, bands, radius) = Similarity.lshParams(
          math.max(nDist, 2L), Similarity.dedupTau, knMiss, 96)
        val capped = capSigs(s, bandSigs(reps, knSeed, bands, bits), v("kn_sigs"))
        val est = ballEstimate(capped, bits, radius)
        val mode = if (est <= knCandBudget(s)) "lsh" else "ivf"
        if (mode == "lsh")
          topK(directedScored(splitBall(capped, bits, radius)))
            .write.mode("overwrite").parquet(v("kn_pairs"))
        else {
          // dense regime: the measured ball estimate says the solved
          // path would rescore at the qualifying-pair volume — serve
          // the top-k contract by IVF-cell locality instead (the
          // density comes from clustering, which is exactly what the
          // cells capture); recall is measured per corpus, not solved
          System.err.println(s"[graft] KN fit: ball-matched candidate " +
            s"estimate $est exceeds graft.knn.candBudget=" +
            s"${knCandBudget(s)} — building in ivf locality mode")
          fs(s, v.vd).delete(new Path(v("kn_sigs")), true)
          val (cb, cells) = ivf(s, d, deltaVecs(s, Seq(v.table)))
          topK(cellScore(reps, cells, cb))
            .write.mode("overwrite").parquet(v("kn_pairs"))
        }
        reps.select("eh").write.mode("overwrite").parquet(v("kn_ehs"))
        finish(mode, bits, bands, radius)
      })
    val pairs = load(s, v("kn_pairs"), pairDdl)
    validate(s, v, "KN", metaOf(s, v, KN).ps(5).toLong, pairs.count())
    pairs
  }

  /** Persisted component labels over the k-NN pair graph (family KL,
    * derived from KN) — [[ecLabels]]'s shape for the degree-capped graph:
    * one `kn_labels` table (eh → ck = the component's min content key)
    * per corpus version, built lazily on the first semantic serve that
    * needs it. Unlike EC there is NO incremental append: a KN append can
    * DISPLACE old edges past the degree cap (edges are not add-only), and
    * dropped edges can SPLIT components — the EC merge premise fails — so
    * labels rebuild per version (KN writes no lineage pointer). CC over a
    * degree-≤[[knK]] graph is ≤ knK·n edges: linear work per round,
    * O(log diameter) rounds.
    */
  private[graft] def knLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = knnPairs(s, d) // KN current for this corpus version
    val v = resolve(s, d, KL)
    ensure(s, KL, v)(append = _ => None, fit = () => Meta(v.cnt, saveCount(s,
      componentKeys(s, v.table, load(s, v("kn_ehs"), "eh string"), pairs, "eh_q", "eh_n"),
      v("kn_labels"), labDdl).toString))
    serve(s, KL, v, "kn_labels", labDdl)
  }

  /** Persisted bucket-collision pair graphs (families MP2 = MinHash band
    * collisions, SP2 = SimHash chunk collisions) — the NP device for the
    * two banded approximate families: the signature encodes are saved
    * ([[textSigs]]), and this saves the capped bucket SELF-JOIN each
    * session used to re-run. Both share one shape — bucket rows (th, k1,
    * k2) from the persisted signatures, a ≤64 distinct-texts-per-bucket
    * cap, a bucket-collision self-join, and a family payload (band-match
    * count / hamming) — so one builder persists either graph.
    *
    * Artifacts (distinct-content-sized, ID-FREE, th-keyed like NP2):
    * `{mp2,sp2}_pairs` (th_a, th_b, payload), `{mp2,sp2}_bsz` (k1, k2,
    * bsz — the FULL bucket-size table, kept AND capped rows), and
    * `{mp2,sp2}_ths` (the known-content registry). Bucket membership
    * counts DISTINCT texts and texts are only ever added, so bucket size is
    * monotone: a bucket capped at fit stays capped, and the single hazard
    * is a fit-kept bucket crossing 64 — detected by merging the BATCH's
    * delta counts into the persisted `_bsz` table (a crossing refuses the
    * append; the fit runs). With no crossing, old↔old pairs carry over
    * verbatim and the delta PAIR output is (fresh×old)+(fresh×fresh)
    * collision joins sized by the batch (the old side join-pruned to
    * fresh-touched buckets). The payload callback sees ALL collision rows
    * for a pair (a new pair's collisions all involve ≥1 fresh row), so
    * payloads are identical to a fresh build. Self-contained rewrite per
    * version; loud truncation validation.
    */
  private def bucketPairGraph(s: SparkSession, d: String, fam: Family,
      payloadDdl: String,
      bucketRows: () => DataFrame,
      payload: DataFrame => DataFrame): (DataFrame, Long) = {
    val v = resolve(s, d, fam)
    val lc = fam.marker.toLowerCase
    val pairDdl = s"th_a string, th_b string, $payloadDdl"
    val bszDdl = "k1 int, k2 bigint, bsz bigint"
    def bszOf(b: DataFrame): DataFrame =
      b.groupBy("k1", "k2").agg(count(lit(1)).as("bsz"))
    def collide(a: DataFrame, b: DataFrame, ordered: Boolean): DataFrame =
      if (ordered)
        a.as("a").join(b.as("b"),
          col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2") &&
            col("a.th") < col("b.th"))
          .select(col("a.th").as("th_a"), col("b.th").as("th_b"))
      else
        a.as("a").join(b.as("b"),
          col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2"))
          .select(least(col("a.th"), col("b.th")).as("th_a"),
            greatest(col("a.th"), col("b.th")).as("th_b"))
    def writeAll(pairs: DataFrame, bsz: DataFrame, ths: DataFrame): Meta = {
      // side tables are DISTINCT-TEXT-bounded (ths = the content
      // registry, bsz ≤ bands × distinct texts) — sizing them by the
      // corpus cnt wrote mostly-empty files on any duplication-heavy
      // corpus (ADVICE r13); the memoized exact distinct count prices
      // no extra job here (every MP/SP consumer builds it anyway)
      val thN = Members.thDistinct(s, d)
      boundFiles(pairs, v.cnt).write.mode("overwrite").parquet(v(s"${lc}_pairs"))
      boundFiles(bsz, thN * 16).write.mode("overwrite").parquet(v(s"${lc}_bsz"))
      boundFiles(ths, thN).write.mode("overwrite").parquet(v(s"${lc}_ths"))
      Meta(v.cnt, load(s, v(s"${lc}_pairs"), pairDdl).count().toString)
    }
    ensure(s, fam, v)(
      append = b => {
        // r12 (NP2's device ported): bucket sizes update by merging the
        // BATCH's delta counts into the persisted full bucket-size table,
        // and fresh texts resolve against the persisted th registry — no
        // corpus member scan, no bucket groupBy over the full signature
        // table
        val baseThs = s.read.parquet(s"${b.dir}/${lc}_ths")
        val freshTh = s.read.parquet(b.delta: _*)
          .select(md5(col("text")).as("th")).distinct()
          .join(baseThs, Seq("th"), "left_anti")
        val freshRows = bucketRows().join(freshTh, Seq("th"), "left_semi")
        val deltaBsz = bszOf(freshRows).withColumnRenamed("bsz", "dbsz")
        val baseBsz = load(s, s"${b.dir}/${lc}_bsz", bszDdl)
        // crossing = a fit-KEPT bucket (base bsz ≤ 64) whose merged
        // size exceeds the cap — old pairs would be invalid, refit
        val crossed = baseBsz.join(deltaBsz, Seq("k1", "k2"))
          .where(col("bsz") <= 64 && col("bsz") + col("dbsz") > 64)
          .limit(1).count() > 0
        if (crossed) None
        else Some { () =>
          val mergedBsz = baseBsz.join(deltaBsz, Seq("k1", "k2"), "full_outer")
            .select(col("k1"), col("k2"),
              (coalesce(col("bsz"), lit(0L)) + coalesce(col("dbsz"), lit(0L)))
                .as("bsz"))
          val keptNow = mergedBsz.where(col("bsz") <= 64).select("k1", "k2")
          val fresh = freshRows.join(keptNow, Seq("k1", "k2"), "left_semi")
          // old rows matter only inside buckets a fresh row touches —
          // the signature read is join-pruned to those buckets
          val freshBuckets = fresh.select("k1", "k2").distinct()
          val old = bucketRows().join(freshTh, Seq("th"), "left_anti")
            .join(freshBuckets, Seq("k1", "k2"), "left_semi")
          val newPairs = payload(
            collide(fresh, old, ordered = false)
              .unionByName(collide(fresh, fresh, ordered = true)))
          writeAll(load(s, s"${b.dir}/${lc}_pairs", pairDdl).unionByName(newPairs),
            mergedBsz, baseThs.unionByName(freshTh))
        }
      },
      fit = () => {
        val rows = bucketRows()
        val bsz = bszOf(rows)
        val kept = bsz.where(col("bsz") <= 64).select("k1", "k2")
        val capped = rows.join(kept, Seq("k1", "k2"), "left_semi")
        writeAll(payload(collide(capped, capped, ordered = true)), bsz,
          rows.select("th").distinct())
      })
    // the meta's validated row total rides along as the serve-side
    // broadcast-guard bound (r13): consumers expanding these pairs used
    // to price a count() job per serve just to decide broadcast-vs-SMJ
    (serve(s, fam, v, s"${lc}_pairs", pairDdl), metaOf(s, v, fam).total)
  }

  /** MinHash band-collision pairs (family MP2): payload = bands_matching.
    * Returns (pair reader, exact persisted pair row count — the
    * expansion-side broadcast-guard bound).
    */
  private[graft] def mhPairs(s: SparkSession, d: String): (DataFrame, Long) =
    bucketPairGraph(s, d, MP2, "bands_matching bigint",
      bucketRows = () => textSigs(s, d, "MH", Dedup.mhEncode)
        .select(col("th"), posexplode(array(
          (0 until 4).map(b => xxhash64(col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
            col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))): _*))
          .as(Seq("k1", "k2"))),
      payload = c => c.groupBy("th_a", "th_b")
        .agg(count(lit(1)).as("bands_matching")))

  /** SimHash chunk-collision pairs (family SP2): payload = hamming.
    * Returns (pair reader, exact persisted pair row count).
    */
  private[graft] def shPairs(s: SparkSession, d: String): (DataFrame, Long) = {
    def sigs = textSigs(s, d, "SH", Dedup.shEncode)
    bucketPairGraph(s, d, SP2, "hamming bigint",
      bucketRows = () => sigs
        .select(col("th"), col("simhash"), posexplode(array(
          (0 until 8).map(c => shiftright(col("simhash"), 8 * c)
            .bitwiseAND(lit(0xFFL))): _*))
          .as(Seq("k1", "k2")))
        .select("th", "k1", "k2"),
      payload = c => c.distinct()
        .join(sigs.select(col("th").as("th_a"), col("simhash").as("sa")), "th_a")
        .join(sigs.select(col("th").as("th_b"), col("simhash").as("sb")), "th_b")
        .select(col("th_a"), col("th_b"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming")))
  }

  /** Persisted ngram near-dup PAIR graph (family NP2) — the EP discipline
    * extended to the TEXT leg: before this, every q_dedup_ngram /
    * q_dedup_ngram_rep run (and every CC full build) re-ran the df-capped
    * inverted-index SELF-JOIN over the persisted shingle rows (family NG).
    *
    * Artifacts (DISTINCT-CONTENT-sized and ID-FREE, keyed by md5(text)
    * `th`): `np_pairs` (th_a < th_b, inter, uni) — rep-level pairs
    * surviving the doc-weighted df≤128 cap and inter≥3; `np_cnt` (th,
    * nsh) — kept-shingle count per distinct text; `np_kept` (hs, df) —
    * since r11 the FULL shingle-df table, kept AND dropped rows (storing
    * only kept rows would let a dropped shingle whose batch-delta df alone
    * is under the cap RESURRECT on an append). It is both the exactness
    * detector and the incremental base.
    *
    * The ngram operator is EXACT and hash-gated, so the append must be
    * exact or refuse. df counts MEMBER DOCS and group sizes only grow, so
    * df is MONOTONE — a shingle dropped at fit stays dropped, and a new
    * shingle lives only in new texts. The single hazard is a fit-KEPT
    * shingle whose union df crosses 128 (it invalidates old pairs and old
    * nsh): the append detects it by merging the delta docs' batch-sized
    * (th, Δgsz) counts into the persisted df table, and refuses (the fit
    * runs). With no crossing, old↔old pairs carry over verbatim, and the
    * delta PAIR work is (fresh × old) + (fresh × fresh) joins sized by the
    * batch; old distinct texts come from the base np_cnt (a text absent
    * from it has no kept shingles, so mislabeling it fresh contributes
    * zero rows — harmless by vacuity). Each version rewrites
    * self-contained. Validation: pair and cnt row counts vs the meta.
    *
    * Returns (np_pairs reader, np_cnt reader, exact persisted pair row
    * count — the expansion-side broadcast-guard bound — and the exact
    * distinct-text count, the guard bound for the cnt/idx join sides).
    */
  private[graft] def ngPairs(s: SparkSession, d: String): (DataFrame, DataFrame, Long, Long) = {
    val v = resolve(s, d, NP2)
    val pairDdl = "th_a string, th_b string, inter bigint, uni bigint"
    val cntDdl = "th string, nsh bigint"
    val keptDdl = "hs bigint, df bigint"
    def thCounts(paths: Seq[String]): DataFrame =
      s.read.parquet(paths: _*).select(md5(col("text")).as("th"))
        .groupBy("th").agg(count(lit(1)).cast("long").as("gsz"))
    // (kept shingle rows per text, FULL df table) for a given (th, gsz)
    // group table — the df cap is doc-weighted, groupBy + semi join back
    // (the capBuckets device, never a window over hs)
    def keptShingles(groups: DataFrame): (DataFrame, DataFrame) = {
      val hs = groups.join(textSigs(s, d, "NG", Dedup.ngEncode), "th")
        .select(col("th"), col("hs"), col("gsz"))
      val dfT = hs.groupBy("hs").agg(sum("gsz").cast("long").as("df"))
      (hs.join(dfT.where(col("df") <= 128L).select("hs"), Seq("hs"), "left_semi")
        .select("th", "hs"), dfT)
    }
    def pairsOf(shA: DataFrame, shB: DataFrame, cnts: DataFrame,
        ordered: Boolean): DataFrame = {
      val joined =
        if (ordered)
          shA.as("a").join(shB.as("b"),
            col("a.hs") === col("b.hs") && col("a.th") < col("b.th"))
            .select(col("a.th").as("th_a"), col("b.th").as("th_b"))
        else
          shA.as("a").join(shB.as("b"), col("a.hs") === col("b.hs"))
            .select(least(col("a.th"), col("b.th")).as("th_a"),
              greatest(col("a.th"), col("b.th")).as("th_b"))
      joined.groupBy("th_a", "th_b").agg(count(lit(1)).as("inter"))
        .join(cnts.select(col("th").as("th_a"), col("nsh").as("na")), "th_a")
        .join(cnts.select(col("th").as("th_b"), col("nsh").as("nb")), "th_b")
        .select(col("th_a"), col("th_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"))
        .where(col("inter") >= 3L)
    }
    def writeAll(pairs: DataFrame, cnts: DataFrame, dfAll: DataFrame): Meta = {
      // pairs ≈ O(cnt) under the df cap; np_cnt and np_kept are
      // DISTINCT-TEXT-bounded — cnt-sizing them wrote mostly-empty files
      // on a duplication-heavy corpus (ADVICE r13); the memoized
      // distinct count prices no extra job
      val thN = Members.thDistinct(s, d)
      boundFiles(pairs, v.cnt).write.mode("overwrite").parquet(v("np_pairs"))
      boundFiles(cnts, thN).write.mode("overwrite").parquet(v("np_cnt"))
      boundFiles(dfAll, thN * 32).write.mode("overwrite").parquet(v("np_kept"))
      val nP = load(s, v("np_pairs"), pairDdl).count()
      val nC = load(s, v("np_cnt"), cntDdl).count()
      Meta(v.cnt, s"$nP,$nC")
    }
    ensure(s, NP2, v)(
      append = b => {
        // batch-sized member deltas: every delta doc shifts its text's
        // gsz — novel content AND duplicates of known content alike
        val deltaTh = thCounts(b.delta)
        val sigsNG = textSigs(s, d, "NG", Dedup.ngEncode)
        val deltaDf = sigsNG.join(deltaTh, "th")
          .groupBy("hs").agg(sum("gsz").cast("long").as("ddf"))
        val baseDf = load(s, s"${b.dir}/np_kept", keptDdl)
        val updated = baseDf.join(deltaDf, Seq("hs"), "full_outer")
          .select(col("hs"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L)))
              .as("df"))
        // exactness detector: a fit-KEPT shingle crossing the cap
        // invalidates old pairs and old nsh — refit (dropped shingles
        // stay dropped: df is monotone, and they ARE in baseDf)
        val crossed = baseDf.where(col("df") <= 128L).select("hs")
          .join(updated.where(col("df") > 128L), Seq("hs"), "left_semi")
          .limit(1).count() > 0
        if (crossed) None
        else Some { () =>
          val cntBase = load(s, s"${b.dir}/np_cnt", cntDdl)
          val freshTh = deltaTh.select("th")
            .join(cntBase.select("th"), Seq("th"), "left_anti")
          val keptNow = updated.where(col("df") <= 128L)
          val shKept = sigsNG.join(keptNow.select("hs"), Seq("hs"), "left_semi")
            .select("th", "hs")
          val shFresh = shKept.join(freshTh, Seq("th"), "left_semi")
          val shOld = shKept.join(freshTh, Seq("th"), "left_anti")
          val cntFresh = shFresh.groupBy("th")
            .agg(count(lit(1)).cast("long").as("nsh"))
          val cntAll = cntBase.unionByName(cntFresh)
          val newPairs = pairsOf(shFresh, shOld, cntAll, ordered = false)
            .unionByName(pairsOf(shFresh, shFresh, cntAll, ordered = true))
          writeAll(load(s, s"${b.dir}/np_pairs", pairDdl).unionByName(newPairs),
            cntAll, updated)
        }
      },
      fit = () => {
        val (sh, dfAll) = keptShingles(thCounts(Seq(v.table)))
        val cnts = sh.groupBy("th").agg(count(lit(1)).cast("long").as("nsh"))
        writeAll(pairsOf(sh, sh, cnts, ordered = true), cnts, dfAll)
      })
    val Array(nP, nC) = metaOf(s, v, NP2).ps.map(_.toLong)
    validate(s, v, "NP2", nP, load(s, v("np_pairs"), pairDdl).count())
    validate(s, v, "NP2C", nC, load(s, v("np_cnt"), cntDdl).count())
    (load(s, v("np_pairs"), pairDdl), load(s, v("np_cnt"), cntDdl), nP, nC)
  }
}
