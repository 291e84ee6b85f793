package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape regression guard over the WHOLE registry: the properties
  * that make the engine survive 100 TB are plan properties, so assert
  * them, not just result values.
  *
  *  - No CartesianProduct anywhere: an accidental non-equi join without a
  *    broadcastable side is the classic silent scale-killer.
  *  - BroadcastNestedLoopJoin only where the broadcast side is provably
  *    tiny by construction (the ANN query sets: ≤20 vectors; the IVF
  *    codebook: ≤16 centroids).
  *  - No Window with an empty partitionSpec: a global window funnels the
  *    whole relation through one task (the q_mart_union bug class —
  *    fixed by two-phase numbering in round 3, kept fixed here).
  */
class PlanGuardSpec extends SparkSpec {

  // broadcast side is bounded by construction, not corpus-sized:
  // the ANN query sets (≤20 vectors) / the IVF query-side crossJoin with
  // the ≤1024-row codebook (corpus assignment itself is a narrow kernel,
  // no join — pinned below)
  // (q_ann_pq's NLJ broadcasts the 20 queries + their m·ksub-double ADC
  // tables — same bounded query-set shape as q_ann_topk)
  // (q_mix_weights broadcasts ONE global-aggregate row against the
  // language-sized counts frame; q_epoch_sample broadcasts the same
  // 1-row aggregate plus the 2-row epochs frame)
  // (q_rrf_hybrid composes q_ann_topk's run as its dense leg, so it
  // inherits that same bounded broadcast-query-set NLJ)
  // (q_schema_tests' equal_rowcount crossJoins two ONE-ROW global
  // aggregates — the 1×1 shape, bounded by construction)
  // (q_bm25 r11: the member-weighted avgdl rides the plan as a ONE-ROW
  // broadcast scalar crossJoin — bounded by construction, and it saves
  // a driver action on the serve path)
  // (q_source_divergence's source-pair grid is an inequality join over
  // the |sources|-sized totals frame — broadcast NLJ bounded by
  // C(|sources|, 2); the word-level work is an equi hash join)
  private val allowedNlj = Set("q_ann_topk", "q_ann_lsh", "q_ann_ivf",
    "q_ann_pq", "q_ann_ivfpq", "q_mix_weights", "q_epoch_sample",
    "q_rrf_hybrid", "q_schema_tests", "q_bm25", "q_source_divergence")

  test("no registered query plans a cartesian product or an unbounded NLJ") {
    for (q <- SparkEntry.registry) {
      val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
      if (!allowedNlj(q.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans a BroadcastNestedLoopJoin")
    }
  }

  test("no registered query windows over a dedup-family content or feature key") {
    // r8: group-size / keeper / first-occurrence devices must be
    // groupBy + equi-join back, never min/count over
    // Window.partitionBy(content-hash): a window partition is ONE task
    // and is not AQE-splittable, so at web scale a mass-duplicate key
    // (every empty doc normalizes to one hash, a viral page/image is
    // byte-identical 10⁷ times, the zero vector) funnels that whole
    // group through a single straggler. r9 widens the pin from the
    // content-identity keys (doc text, binary payload, vector,
    // paragraph, span) to the candidate-stage FEATURE keys too (shingle
    // hash, simhash chunk, LSH band/code): a hot feature bucket among
    // DISTINCT texts — a stop-phrase shingle, a universal simhash byte —
    // is the same one-task shape, materialized only to be discarded by
    // the cap. capBuckets / the ngram df cap now use groupBy + semi-join
    // back (AQE-skew-splittable); this pin keeps every dedup-family join
    // key on that device.
    val contentKeys = Set("content_hash", "th", "ph", "vh", "hp", "hg",
      "hs", "chunk", "chunk_idx", "band_hash", "band_idx", "code")
    for (q <- SparkEntry.registry) {
      val offenders = q.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow
          if w.partitionSpec.exists(_.references.exists(a => contentKeys(a.name))) => w
      }
      assert(offenders.isEmpty,
        s"${q.name} windows over a content-identity key:\n${offenders.mkString("\n")}")
    }
  }

  test("no registered query uses a window without a partition spec") {
    for (q <- SparkEntry.registry) {
      val offenders = q.run(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty,
        s"${q.name} has ${offenders.size} global (partition-less) window(s)")
    }
  }

  test("q_ann_ivf: serve path is a partition-pruned index scan — no Exchange on the streamed side of the candidate join") {
    // r7: the corpus side of the candidate join is the PERSISTED
    // cell-partitioned index (AnnIndex), read with a driver-known probed-
    // cell filter — pin that it reaches the join (a) shuffle-free and
    // (b) PARTITION-PRUNED (the isin on the hive partition column must
    // land in PartitionFilters, not a post-scan Filter: pruning is the
    // nprobe/k read bound, the point of the inverted-file layout).
    val q = SparkEntry.registry.find(_.name == "q_ann_ivf").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    // r12: the rep-trim/member-expansion tail adds joins above the
    // candidate join — select the one whose STREAMED side is purely the
    // persisted index scan (the ivfpq test's device)
    val bhjs = plan.collect { case j: BroadcastHashJoinExec => j }
    val candJoins = bhjs.filter { j =>
      val st = j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      }
      // FILE scans only: an InMemoryTableScan leaf prints its cached
      // plan, which (since the r13 EHM artifact) can itself mention the
      // index root — the discriminator must not match memo caches
      st.collectLeaves().nonEmpty && st.collectLeaves().forall {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.toString.contains("graft_ann_index")
        case _ => false
      }
    }
    assert(candJoins.size == 1,
      s"expected exactly one join streaming the persisted index, got ${candJoins.size}:\n$plan")
    val j = candJoins.head
    val streamed = j.buildSide match {
      case BuildLeft  => j.right
      case BuildRight => j.left
    }
    assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"corpus (streamed) side of the candidate join shuffles:\n$streamed")
    // (the scan's Location string truncates long paths, so match the
    // index root rather than the ivf_cells leaf)
    assert(streamed.collectLeaves().exists(_.toString.contains("graft_ann_index")),
      s"streamed side should be the persisted index scan:\n$streamed")
    assert("PartitionFilters: \\[[^\\]]*cluster".r
        .findFirstIn(streamed.toString).isDefined,
      s"probed-cell filter is not partition-pruning the index scan:\n$streamed")
  }

  test("q_ann_pq: corpus path is the persisted 24 B/vector code scan — no Exchange before the ADC window") {
    // the PQ scan's entire value is streaming 24 B/vector codes instead
    // of 512 B vectors: r7 persists that code table (AnnIndex), so pin
    // that the corpus side reaching the ADC scoring join IS the pq_codes
    // scan (not a re-encode of the raw vectors) with zero Exchange (the
    // only corpus shuffle is the skinny id/score window AFTER scoring)
    val q = SparkEntry.registry.find(_.name == "q_ann_pq").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    val nljs = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nljs.nonEmpty, s"expected the ADC scoring NLJ:\n$plan")
    // the ADC join is the innermost NLJ (rescore joins sit above it)
    val j = nljs.last
    val streamed = j.buildSide match {
      case BuildLeft  => j.right
      case BuildRight => j.left
    }
    assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"corpus (streamed) side of the ADC join shuffles:\n$streamed")
    // (Location strings truncate; the index root + the 3-column code
    // schema identify the persisted scan)
    assert(streamed.collectLeaves().exists(l =>
        l.toString.contains("graft_ann_index") &&
          l.toString.contains("struct<eh:string,code:bigint,nrm:double>")),
      s"streamed side should be the persisted pq2_codes scan:\n$streamed")
  }

  test("q_ann_ivfpq: serve path is a partition-pruned CODE scan — both cuts in one plan") {
    // r8: the composed operator must show BOTH serve-path properties at
    // once — the candidate join streams the persisted ivfpq_codes scan
    // (24 B/vector: the 4-column code schema, not raw vectors) with zero
    // Exchange, and the probed-cell isin lands in PartitionFilters (the
    // nprobe/k read bound). Either property degrading silently turns the
    // serve back into one of the single-cut operators.
    val q = SparkEntry.registry.find(_.name == "q_ann_ivfpq").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    val bhjs = plan.collect { case j: BroadcastHashJoinExec => j }
    val candStreams = bhjs.map { j =>
      j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      }
    }.filter(st => st.collectLeaves().nonEmpty &&
      // file scans only — see the q_ann_ivf test's note on memo caches
      st.collectLeaves().forall {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.toString.contains("graft_ann_index")
        case _ => false
      })
    // exactly the candidate join: the rescore joins above it also carry
    // the index scan somewhere in their subtree, but their streamed side
    // mixes in the raw-vector scan — the candidate join's streamed side
    // is ONLY the persisted code scan
    assert(candStreams.size == 1,
      s"expected exactly one join streaming the persisted index, got ${candStreams.size}:\n$plan")
    val streamed = candStreams.head
    assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"corpus (streamed) side of the candidate join shuffles:\n$streamed")
    assert(streamed.collectLeaves().exists(
        _.toString.contains("struct<eh:string,code:bigint,nrm:double>")),
      s"streamed side should be the 24 B/vector code scan, not raw vectors:\n$streamed")
    assert("PartitionFilters: \\[[^\\]]*cluster".r
        .findFirstIn(streamed.toString).isDefined,
      s"probed-cell filter is not partition-pruning the code scan:\n$streamed")
  }

  test("q_dedup_incremental: corpus side reaches the semi join with no Exchange") {
    // the operator's whole point is the batch≪corpus asymmetry: the
    // batch hash set broadcasts as a semi-join filter, so the corpus is
    // scanned narrowly and never shuffled — only colliding rows survive
    // to downstream (collision-sized) wide ops. Pin the broadcast semi
    // join and the shuffle-free streamed corpus path.
    val q = SparkEntry.registry.find(_.name == "q_dedup_incremental").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    val semis = plan.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size == 1,
      s"expected exactly one broadcast LEFT SEMI (the corpus filter), got ${semis.size}:\n$plan")
    val j = semis.head
    val streamed = j.buildSide match {
      case BuildLeft  => j.right
      case BuildRight => j.left
    }
    assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"corpus (streamed) side of the semi join shuffles:\n$streamed")
    assert(streamed.collectLeaves().exists(_.toString.contains("documents")),
      s"streamed side should be the documents scan:\n$streamed")
  }

  test("q_substring_score: no join, no Exchange before the output sort") {
    // the r5 rewrite turned this into a pure narrow projection; pin it so
    // a regression can't quietly reintroduce the broadcast cross join the
    // rewrite deleted (its stale allowedNlj exemption is gone too)
    val q = SparkEntry.registry.find(_.name == "q_substring_score").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    val joins = plan.collect { case n if n.nodeName.toLowerCase.contains("join") => n }
    assert(joins.isEmpty, s"q_substring_score plans a join:\n$plan")
    // the exchanges are inserted after sparkPlan, so read the final
    // adaptive plan: every shuffle there must be the one the output sort
    // reads — range-partitioned, or single-partition when the sort's
    // input fits one task (SmallSortInOneTask)
    val df = q.run(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan
    val sortInputs = OneTaskSortSpec.sortInputs(fin)
    assert(OneTaskSortSpec.exchanges(fin).forall(e => sortInputs.exists(_ eq e) &&
      (e.outputPartitioning match {
        case _: RangePartitioning | SinglePartition => true
        case _ => false
    })), s"q_substring_score has an Exchange other than the output sort's:\n$fin")
  }

  test("two-phase global ordering ops: the only data Exchange is the bucket hash (no global window)") {
    // the two-phase prefix sum / rank exists to avoid a single-reducer
    // global window: pin that each final plan's corpus-sized shuffles are
    // exactly one hash Exchange on the deterministic bucket key (the
    // broadcast offset join adds none), plus the output sort
    for (name <- Seq("q_pack_sequences", "q_shuffle_order", "q_pack_shuffled")) {
      val q = SparkEntry.registry.find(_.name == name).get
      // executedPlan string, not a node collect: AdaptiveSparkPlanExec
      // hides the prepared plan from TreeNode traversal
      val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
      val hashKeys = "Exchange hashpartitioning\\((\\w+)".r
        .findAllMatchIn(plan).map(_.group(1)).toList
      assert(hashKeys == List("bucket"),
        s"$name: expected exactly one hash Exchange keyed on bucket, got $hashKeys:\n$plan")
    }
  }

  test("q_grouped_sample: the only data Exchange is the (lang, bucket) hash — no per-group global window") {
    // the per-group rank must decompose through (lang, hex-prefix bucket)
    // — a plain PARTITION BY lang would be one unsplittable task per
    // language; pin that every hash Exchange in the final plan is keyed
    // on the composite bucket key
    val q = SparkEntry.registry.find(_.name == "q_grouped_sample").get
    val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
    val hashKeys = "Exchange hashpartitioning\\((\\w+)#\\d+[^,]*, (\\w+)"
      .r.findAllMatchIn(plan).map(m => (m.group(1), m.group(2))).toList
    assert(hashKeys.nonEmpty && hashKeys.forall(_ == ("lang", "bucket")),
      s"q_grouped_sample: expected hash Exchanges keyed (lang, bucket), got $hashKeys:\n$plan")
  }

  test("q_keep_newest: one map-side-combinable aggregation, no window over the key") {
    // compaction's hot key is the workload: the plan must be the
    // partial-merge groupBy (one hash Exchange on the group key), never
    // a row_number window buffering a key's version history on one task
    val q = SparkEntry.registry.find(_.name == "q_keep_newest").get
    val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q_keep_newest plans a window:\n$plan")
    val hashKeys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(hashKeys == List("user_id"),
      s"q_keep_newest: expected one hash Exchange on the group key, got $hashKeys:\n$plan")
    // partial aggregation present: two aggregate stages around the Exchange
    assert("(?i)partial_".r.findFirstIn(plan).isDefined,
      s"q_keep_newest aggregation is not map-side combined:\n$plan")
  }

  test("q_dedup_bloom: negatives never join — all joins broadcast-hash, corpus semi-join side shuffle-free") {
    // the sketch's value is plan-shaped: the fresh side is filtered by
    // the plan-constant bit array BEFORE any join (novel majority exits
    // at the scan), the confirm semi join broadcasts the hit-sized key
    // set over a shuffle-free corpus scan, and nothing plans sort-merge
    val q = SparkEntry.registry.find(_.name == "q_dedup_bloom").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"q_dedup_bloom plans a sort-merge join:\n$plan")
    val semis = plan.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size == 1,
      s"expected exactly one broadcast LEFT SEMI (the confirm filter), got ${semis.size}:\n$plan")
    val streamed = semis.head.buildSide match {
      case BuildLeft  => semis.head.right
      case BuildRight => semis.head.left
    }
    assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"corpus (streamed) side of the confirm semi join shuffles:\n$streamed")
  }

  test("q_bm25: postings serve from the persisted lexical index, slot-partition-pruned") {
    // r8: tf/dl/df come from AnnIndex.lex — the serve must (a) stream
    // the persisted postings, not re-tokenize the corpus, and (b) carry
    // the query-slot isin in PartitionFilters (the probed-cells device on
    // the term space: a serve touches ~|q-slots|/64 of the postings)
    val q = SparkEntry.registry.find(_.name == "q_bm25").get
    val plan = q.run(spark, sfDir).queryExecution.sparkPlan.toString
    assert(plan.contains("graft_ann_index"),
      s"postings are not the persisted index scan:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*tslot".r.findFirstIn(plan).isDefined,
      s"query-slot filter is not partition-pruning the postings scan:\n$plan")
  }

  test("q_dataset_card: the final plan reads the corpus exactly once") {
    // the share denominator rides back as a driver literal (one row of
    // driver traffic); a crossJoin with a filtered branch of the cached
    // frame re-planned the broadcast side as a SECOND corpus scan (the
    // cache lookup missed through the filter) — pin the fix
    val q = SparkEntry.registry.find(_.name == "q_dataset_card").get
    val plan = q.run(spark, sfDir).queryExecution.executedPlan
    val scans = plan.collectLeaves().filter(_.toString.contains("documents.parquet"))
    assert(scans.size <= 1,
      s"dataset card scans the corpus ${scans.size} times:\n$plan")
  }

  test("output-order contract: every query ends in a total sort, every oracle in ORDER BY ALL") {
    // the driver hash-compare treats row order as part of the result; the
    // repo rule (CLAUDE.md) is Det.sortAll on the Spark side and ORDER BY
    // ALL on the DuckDB side — guard both so a new operator can't forget
    for (q <- SparkEntry.registry) {
      // analyzed (pre-optimizer) plan: the optimizer rightly elides sorts
      // on provably-single-row results, but the contract is about what the
      // operator declares
      val top = q.run(spark, sfDir).queryExecution.analyzed
      assert(top.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort],
        s"${q.name} does not end in a global Sort (Det.sortAll missing?)")
      q.oracle.foreach(sql => assert(sql.trim.endsWith("ORDER BY ALL"),
        s"${q.name} oracle SQL does not end with ORDER BY ALL"))
    }
  }
}
