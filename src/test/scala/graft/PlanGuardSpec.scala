package graft

/** Physical-plan regression guards: properties the engine's scale story
  * depends on, asserted against the actual planned queries so a refactor
  * that silently loses them fails CI (plans are otherwise only *recorded*
  * in docs/PLANS_r3.md).
  */
class PlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    // eager-leaf lanes checkpoint their declared output and register the
    // UN-forced frame in AuditFrames (round 20) — guard that plan, not
    // the bare ExistingRDD scan the checkpoint leaves behind
    graft.plans.AuditFrames.clear()
    val declared = SparkEntry.queries(name)(spark, sf)
    graft.plans.AuditFrames.get(name).getOrElse(declared)
      .queryExecution.executedPlan.toString
  }

  test("q_meta_series plans exactly ONE parquet scan (single-parse meta lane)") {
    // the round-2 shape parsed the corpus twice; the fused lane must keep
    // one scan feeding both the volume and route-count series. The volume
    // and route-count lanes share its shape: one parse, one hash agg.
    for (name <- Seq("q_meta_series", "q_volume_agg", "q_route_counts")) {
      val plan = planOf(name)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 1, s"$name: expected 1 parquet scan, found $scans:\n${plan.take(3000)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 1,
        s"$name: expected 1 hash-aggregate exchange, found $exchanges:\n${plan.take(3000)}")
    }
  }

  test("q_scan reaches the parquet reader with pushed filters") {
    val plan = planOf("q_scan")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), plan.take(2000))
  }

  test("q_join_broadcast builds a broadcast join, not a shuffle of the fact side") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_similarity_topk keeps the partition-local WindowGroupLimit before the exchange") {
    // the round-1 shape put the whole corpus through one window task
    val plan = planOf("q_similarity_topk")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q_tfidf vocabulary join degrades to sort-merge when broadcast is off the table") {
    // the df table IS the vocabulary. At fixture scale Catalyst correctly
    // broadcasts it (stats-based); at corpus scale the size estimate is
    // huge and the SAME query must plan a sort-merge join — never a
    // nested-loop — which we pin by planning with broadcast disabled.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf("q_tfidf")
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      // the 1-row N cross join is the only nested-loop allowed
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnl <= 1, s"unexpected nested-loop joins:\n${plan.take(3000)}")
    } finally spark.conf.set(key, prev)
  }

  test("q_agg_mode keeps map-side partial aggregation") {
    val plan = planOf("q_agg_mode")
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("q_ohlc compacts via HashAggregate, never a sort of raw points") {
    // the struct-ordered min/max formulation planned SortAggregate (a
    // per-partition sort of every raw point before any compaction); the
    // packed-long min_by/max_by rewrite keeps the buffer primitive. Pin
    // the hash shape so a refactor can't silently reintroduce the sort.
    val plan = planOf("q_ohlc")
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("SortAggregate"), plan.take(3000))
  }

  test("q_similarity_pq two-phase top-k keeps the partition-local group limit") {
    val plan = planOf("q_similarity_pq")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("connected-components endgame runs executor-side, not driver-materialized") {
    // the union-find endgame must stay a plan over the distributed edge
    // frame (mapPartitions → SerializeFromObject); a driver collect would
    // re-enter Spark as LocalTableScan / parallelized rows
    // distributed input (Range source, not driver-local rows): a chain
    // 0-1-2-3-4 plus an island 10-11
    val pairs = spark.range(0, 4).selectExpr("id AS doc_a", "id + 1 AS doc_b")
      .unionAll(spark.range(10, 11).selectExpr("id AS doc_a", "id + 1 AS doc_b"))
    val cc = graft.queries.DedupQueries.connectedComponents(spark, pairs)
    val plan = cc.queryExecution.executedPlan.toString
    assert(plan.contains("SerializeFromObject"), plan.take(3000))
    assert(!plan.contains("LocalTableScan"), plan.take(3000))
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      10L -> 10L, 11L -> 10L))
  }

  test("q_chunk_documents is shuffle-free (narrow explode, no Exchange)") {
    // chunking is a per-row transform; any Exchange here would shuffle
    // the full corpus text for nothing
    val plan = planOf("q_chunk_documents")
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("q_ngram_freq top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_ngram_freq")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q_window_ntile partitions its window (no single-partition global sort)") {
    // a global ORDER BY window serializes the table through one task; the
    // ntile demo must keep the priority-class partitioning. Positive
    // assertion (round-6 advice): a renamed single-partition exchange
    // can't make this pass vacuously.
    val plan = planOf("q_window_ntile")
    assert(plan.contains("hashpartitioning(o_orderpriority"), plan.take(3000))
    assert(!plan.toLowerCase.contains("singlepartition"), plan.take(3000))
  }

  test("q_kmeans_step cell assignment is a hash agg, not a per-vector sort window") {
    // the round-6 shape ranked n×k (vector, centroid) rows with a
    // row_number window partitioned by vec_id — a sort per vector; the
    // max(struct(ccos, -c_id)) agg does one map-side-combinable pass.
    // k-means has no other window, so the whole plan must be window- and
    // sort-free up to the final tiny join.
    val plan = planOf("q_kmeans_step")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_max") || plan.contains("partial_first"),
      plan.take(3000))
  }

  test("q_similarity_ivf corpus assignment has no window over vec_id") {
    // the only windows left in the IVF plan rank the 8-row query side
    // (partitioned by q_id); the corpus side must assign cells via the
    // hash agg
    val plan = planOf("q_similarity_ivf")
    assert(!plan.contains("windowspecdefinition(vec_id"), plan.take(3000))
  }

  test("q_dedup_substring: spillable bucket cap + keyed self-join over the CACHED capped frame") {
    // round-13 shape (the bucket-cap implementation): the per-bucket
    // keep-lowest-64 rank plans as WindowGroupLimit (partial + final —
    // a bounded, SPILLABLE per-bucket top-k, never a whole-bucket
    // collect_list row), pair emission is a KEYED self-join on fp over
    // the cached capped frame (both sides InMemoryTableScan — the
    // fingerprint explode runs once), and nothing is a cartesian
    val plan = planOf("q_dedup_substring")
    assert(plan.contains("WindowGroupLimit"),
      s"bucket cap lost its group-limit pushdown:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("collect_list"),
      s"a whole-bucket collect_list row reappeared:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"),
      s"capped frame not cached — the fingerprint pass would run per join side:\n${plan.take(3000)}")
  }

  test("q_similarity_ivfpq: cell-pruned ADC search, no unbounded cartesian") {
    // the only nested-loop joins are the broadcast centroid/total cross
    // joins; the code↔cell↔query composition must be key joins
    val plan = planOf("q_similarity_ivfpq")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // PQ encode + final top-k keep their partition-local group limits
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q_histogram aggregates with map-side partials (O(buckets) shuffle)") {
    val plan = planOf("q_histogram")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      plan.take(3000))
  }

  test("q_join_salted joins on the salt key (skew split survives the optimizer)") {
    // with broadcast off (the at-scale shape), the sort-merge join must
    // key on (suppkey, salt) — an optimizer that drops the salt conjunct
    // would silently restore the skew funnel
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf("q_join_salted")
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert("SortMergeJoin \\[[^\\]]*salt".r.findFirstIn(plan).isDefined, plan.take(3000))
    } finally spark.conf.set(key, prev)
  }

  test("q_join_star broadcasts the dims and pushes the date filter to the orders scan") {
    val plan = planOf("q_join_star")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 3, s"expected >=3 broadcast joins (supplier/nation-region/customer), got $bhj:\n${plan.take(3000)}")
    // the o_orderdate predicate must reach the parquet reader, not sit
    // above the join
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(3000))
  }

  test("q_dedup_substring_scrub: no cartesian, doc-keyed joins after the fingerprint bucket") {
    // the scrub consumes posting lists, never a pairwise self-join: no
    // cartesian anywhere, and the rewrite joins are plain key joins
    // (tokpos⋈covered on (doc_id, idx)) — an optimizer that loses the
    // equi-keys would plan a nested loop over tokens × covered positions
    val plan = planOf("q_dedup_substring_scrub")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_multimodal_dedup: single fingerprint-bucket shuffle, no payload self-join") {
    // decode + fingerprint are one narrow pass; the ONLY shuffle ranks
    // content-hash buckets for the cap (round 15: the shared
    // cappedBucketPairs shape — pair emission is a keyed self-join of
    // the capped cached frame, never a whole-payload join or a
    // posting-list row)
    // round-15 ADVICE hardened this guard twice over: (1) counting
    // "Exchange hashpartitioning" TEXT misses range/single-partition
    // exchanges AND double-counts the cached capped frame (its plan
    // prints once per join side); (2) the SortMergeJoin assertion was
    // dropped when the join shape changed. Walk the plan STRUCTURALLY —
    // identity-deduped, descending into cached subplans once — so every
    // exchange kind counts exactly once and the join inventory is exact.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    val seen = new java.util.IdentityHashMap[SparkPlan, Boolean]()
    def flat(p: SparkPlan): Seq[SparkPlan] = {
      if (seen.containsKey(p)) Nil
      else {
        seen.put(p, true)
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => Seq(m.relation.cachedPlan)
          case o => o.children
        }
        p +: kids.flatMap(flat)
      }
    }
    val all = flat(SparkEntry.queries("q_multimodal_dedup")(spark, sf)
      .queryExecution.executedPlan)
    // exactly ONE data shuffle: the fingerprint-bucket window inside the
    // cached capped frame — payloads are never re-shuffled for pairing
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1,
      s"expected 1 shuffle exchange, found ${shuffles.map(_.outputPartitioning)}")
    // and exactly ONE join — the capped-frame self-join (both sides read
    // the cached capped frame; broadcasting the small side is fine, a
    // nested-loop or cartesian over payloads is not)
    val joins = all.collect { case j: BaseJoinExec => j }
    assert(joins.size === 1, s"expected only the capped self-join, found ${joins.map(_.nodeName)}")
    assert(!joins.head.isInstanceOf[BroadcastNestedLoopJoinExec] &&
      joins.head.nodeName != "CartesianProduct", joins.head.nodeName)
    val cachedScansUnderJoin = joins.head.children.map(side =>
      side.collect { case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m }.size)
    assert(cachedScansUnderJoin.forall(_ >= 1),
      s"both self-join sides must read the cached capped frame: $cachedScansUnderJoin")
  }

  test("q_ann_recall_pq_rerank: shortlist windows keep partition-local limits, no cartesian") {
    // the two-phase ADC top-L must keep its WindowGroupLimit (no task
    // sorts a whole query's corpus), and the rerank is a key join on the
    // shortlist — the only nested-loop joins are the bounded broadcast
    // query-frame cross joins
    val plan = planOf("q_ann_recall_pq_rerank")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_bm25: broadcast stats, distributed top-10, no unbounded nested loop") {
    // df (3 rows) and the corpus stats (1 row) ride as broadcasts; the
    // dl join is a key join; the final top-10 must be
    // TakeOrderedAndProject (per-partition heaps), never a global sort
    val plan = planOf("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 1, s"only the 1-row stats cross join may nested-loop:\n${plan.take(3000)}")
  }

  test("q_heavy_hitters: one agg exchange, threshold applied post-agg, no extra shuffle") {
    // the shuffle is O(vocab) from the df agg; the 1-row total must ride
    // as a broadcast, not induce another exchange
    val plan = planOf("q_heavy_hitters")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("q_scd2_merge: ONE natural-key exchange feeds both windows and the agg") {
    // the islands window, the version agg, and the interval window all
    // partition on user_id — Catalyst must plan exactly one
    // hashpartitioning(user_id) exchange and reuse it; a lost partition
    // key would show up as Exchange SinglePartition (global-sort window)
    val plan = planOf("q_scd2_merge")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in SCD2 plan:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange, found $exchanges:\n${plan.take(3000)}")
  }

  test("q_zorder_key: interleave key shuffle-free; only the distinct-agg exchanges remain") {
    val plan = planOf("q_zorder_key")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    // the key is per-row arithmetic: the only exchanges belong to the
    // two-phase Expand multi-distinct aggregation (2), never a third for
    // the key itself
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 agg exchanges, found $exchanges:\n${plan.take(3000)}")
  }

  test("q_gapfill: spine generation is an explode off the span agg, join stays keyed") {
    // the per-user day spine must come from sequence+explode over the
    // O(users) span aggregate — a calendar cross join would plan a
    // nested loop over users × days
    val plan = planOf("q_gapfill")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("Generate explode"), plan.take(3000))
  }

  test("q_fill_forward: single user-partitioned window, no global sort") {
    val plan = planOf("q_fill_forward")
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange, found $exchanges:\n${plan.take(3000)}")
  }

  test("q_cdc_apply: changelog compaction keeps WindowGroupLimit, merge is one key join") {
    val plan = planOf("q_cdc_apply")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_profile_table: every per-column stat comes from ONE scan") {
    val plan = planOf("q_profile_table")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected 1 parquet scan, found $scans:\n${plan.take(3000)}")
  }

  test("q_profile_table_approx: one scan, NO Expand — profile cost independent of cardinality") {
    val plan = planOf("q_profile_table_approx")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected 1 parquet scan, found $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Expand"),
      s"approx profiler must not plan the multi-distinct Expand:\n${plan.take(3000)}")
    // sanity: the exact profiler DOES pay the Expand — the contrast is the point
    assert(planOf("q_profile_table").contains("Expand"))
  }

  test("q_pmi_cooccur: distributed top-50, only the 1-row total may nested-loop") {
    val plan = planOf("q_pmi_cooccur")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 1, s"only the 1-row total cross join may nested-loop:\n${plan.take(3000)}")
  }

  test("q_snapshot_diff: one key join, never a nested-loop compare") {
    val plan = planOf("q_snapshot_diff")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    val joins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).length
    assert(joins === 1, s"expected 1 key join, found $joins:\n${plan.take(3000)}")
  }

  test("q_feature_scale: stats ride as a 1-row broadcast, rows never shuffle for them") {
    val plan = planOf("q_feature_scale")
    // the only nested-loop is the single-row stats frame joined to the rows
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl === 1, s"expected exactly the 1-row stats broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_bpe_train_step: two vocab-bounded aggs, a local top-k, and no join") {
    val plan = planOf("q_bpe_train_step")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct)".r
      .findAllIn(plan).hasNext, plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2, s"expected 2 exchanges (word agg, pair agg):\n${plan.take(3000)}")
  }

  test("q_pagerank_step: key-partitioned join + agg, distributed top-25") {
    val plan = planOf("q_pagerank_step")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_dedup_edit_verify: Levenshtein runs on LSH candidates, never a pair scan") {
    val plan = planOf("q_dedup_edit_verify")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q_sample_weighted: one pass, local top-k, zero shuffles") {
    val plan = planOf("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges === 0, s"A-ES sampling must not shuffle:\n${plan.take(3000)}")
  }

  test("q_sketch_union: day partials roll up via sketch-union aggregation") {
    val plan = planOf("q_sketch_union")
    // HLL sketch agg/union are object-hash aggregates; both levels present
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("hll_union_agg"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_corpus_pipeline: documents parquet planned for reading exactly once " +
    "across all seven composed stages") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec

    // Unique physical plans across the cache closure: the pipeline hides
    // each stage behind a persist, so the top plan alone would only show
    // the final window over the cached survivor set — descend into every
    // cached relation's plan (deduped by reference: the base cache is
    // referenced from several stages but must be COUNTED once).
    def closure(root: SparkPlan): Seq[SparkPlan] = {
      val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
      def walk(p: SparkPlan): Unit = {
        val expanded = p match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case other => other
        }
        if (!seen.containsKey(expanded)) {
          seen.put(expanded, ())
          expanded.collect { case t: InMemoryTableScanExec => t.relation.cachedPlan }
            .foreach(walk)
        }
      }
      walk(root)
      import scala.jdk.CollectionConverters._
      seen.keySet().asScala.toSeq
    }

    // round 18: the resample stage's localCheckpoint truncates the
    // DECLARED output's lineage (the mix/pack tail was paying ~5 s of
    // Catalyst re-analysis over the DSIR aggregation subtree), so the
    // single-scan proof walks the exposed STAGE frames: the
    // decontaminated-survivor frame `d` still carries the whole chain
    // back to the base cache, and the output past the checkpoint must
    // introduce ZERO new file scans.
    val (d, resamplePre, out) = graft.queries.PipelineQueries.corpusPipelineStages(spark, sf)
    val stagePlans = closure(d.queryExecution.executedPlan)
    val fileScans = stagePlans.flatMap(_.collect { case f: FileSourceScanExec => f })
    assert(fileScans.length === 1,
      s"expected documents scanned once across the whole pipeline, found " +
        s"${fileScans.length}: ${fileScans.map(_.relation.location.rootPaths.mkString).mkString("; ")}")
    assert(fileScans.head.relation.location.rootPaths.mkString.contains("documents"))
    val outPlans = closure(out.queryExecution.executedPlan)
    assert(outPlans.flatMap(_.collect { case f: FileSourceScanExec => f }).isEmpty,
      "the post-checkpoint tail must read only the checkpointed survivors")
    // round 19 (r18 ADVICE): the resample stage's own plan — DSIR
    // weights, Gumbel top-k, survivor join, up to but NOT including the
    // checkpoint — was covered by neither walk above (the stage chain
    // ends at `d`, the output walk starts at the checkpoint leaf). Guard
    // it through the exposed pre-checkpoint frame: the cache
    // substitution on `d` must keep the whole stage at the SAME single
    // documents scan (a regression that re-scans documents inside the
    // weight pass or degrades the survivor join to a pair scan fails
    // here, not silently).
    val resamplePlans = closure(resamplePre.queryExecution.executedPlan)
    val resampleScans = resamplePlans.flatMap(_.collect { case f: FileSourceScanExec => f })
    assert(resampleScans.length === 1,
      s"resample stage must add zero file scans (one shared documents scan), found " +
        s"${resampleScans.length}: ${resampleScans.map(_.relation.location.rootPaths.mkString).mkString("; ")}")
    assert(resampleScans.head.relation.location.rootPaths.mkString.contains("documents"))
    // stage count pinned: canonical keep-rank (first_value + row_number
    // merge into one Window over the shared spec) + minhash band-bucket
    // cap rank + exact-dedup rn = 3 windows in the stage chain, mix rk +
    // pack cum = 2 in the tail
    val windows = stagePlans.flatMap(_.collect { case w: WindowExec => w })
    assert(windows.length === 3, s"stage window count drifted: ${windows.length}")
    val tailWindows = outPlans.flatMap(_.collect { case w: WindowExec => w })
    assert(tailWindows.length === 2, s"tail window count drifted: ${tailWindows.length}")
    // never an unbounded pair scan anywhere in any closure
    (stagePlans ++ resamplePlans ++ outPlans).foreach { p =>
      assert(!p.toString.contains("CartesianProduct"), p.toString.take(2000))
    }
  }

  test("q_dedup_lines_c4: three keyed exchanges, no global window sort, no pair scan") {
    val plan = planOf("q_dedup_lines_c4")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // first-occurrence must stay a hash agg + keyed join — a window over
    // the global line partition would plan a sort per line bucket
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    // ≤3 keyed exchanges: line agg, join-back, reassembly — at fixture
    // stats the planner broadcasts the firsts side of the join-back
    // (dropping to 2), at scale it degrades to the third keyed shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges >= 2 && exchanges <= 3,
      s"expected 2-3 keyed exchanges (line agg, [join-back], reassembly), found $exchanges:\n${plan.take(3000)}")
  }

  test("q_cms_heavy_hitters: sketch union is an object agg, estimates ride 1-row broadcasts") {
    val plan = planOf("q_cms_heavy_hitters")
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("cms_merge"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // only the two 1-row frames (merged sketch, token total) may nested-loop
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 2, s"only the 1-row sketch/total broadcasts may nested-loop:\n${plan.take(3000)}")
  }

  test("q_dedup_incremental: cross-set band join stays keyed — no pair scan, no cartesian") {
    val plan = planOf("q_dedup_incremental")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // candidates must come from the (b, bv) equi-join — visible as a hash
    // key join on the band value, not a bucket flatMap pairing
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
      plan.take(3000))
  }

  test("q_triangle_count: wedge join and closure stay keyed — no cartesian, semi-join closure") {
    val plan = planOf("q_triangle_count")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // closure against the oriented edge set must be a semi-join (exists),
    // not an inner join that would duplicate wedges per closing edge
    assert(plan.contains("LeftSemi"), plan.take(3000))
  }

  test("q_mg_heavy_hitters: O(k)-state summary aggregate, 1-row broadcasts only") {
    val plan = planOf("q_mg_heavy_hitters")
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(plan.contains("misra_gries"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // only the 1-row summary/total frames may nested-loop
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 2, s"only the 1-row summary/total broadcasts may nested-loop:\n${plan.take(3000)}")
  }

  test("q_split_leakfree: metadata pass — keyed joins only, no pair scan") {
    val plan = planOf("q_split_leakfree")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the per-scheme 1-row (cross × sizes) frames are the only nested-loops
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 2, s"only the two 1-row scheme frames may nested-loop:\n${plan.take(3000)}")
  }

  test("q_audio_stats is shuffle-free (narrow decode pass, no Exchange)") {
    // the corpus-filter sweep shape: encode → decode → pcm walk is one
    // mapPartitions chain; any Exchange here would shuffle raw payload
    // bytes across the cluster for a per-row computation
    val plan = planOf("q_audio_stats")
    assert(!plan.contains("Exchange"), s"audio stats must stay narrow:\n${plan.take(3000)}")
  }

  test("q_audio_filter is shuffle-free (verdict composes onto the narrow decode pass)") {
    // the filter is per-row arithmetic over the decode output — if an
    // Exchange ever appears, the free verdict became a shuffle
    val plan = planOf("q_audio_filter")
    assert(!plan.contains("Exchange"), s"audio filter must stay narrow:\n${plan.take(3000)}")
  }

  test("q_ann_recall_ivf_trained: no cartesian; nested-loops only on broadcast query/centroid sides") {
    val plan = planOf("q_ann_recall_ivf_trained")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the 8-row query frame, the 16-row probe-cell frames, and the two
    // bounded centroid tables are the only nested-loop sides — two arms
    // × (assign + qcells + candidate) + the shared exact ground truth
    // (same envelope as the other recall harnesses: O(queries)/
    // O(centroids), never corpus × corpus; the per-q_id joins are
    // SortMergeJoin)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 10, s"unexpected nested-loop joins ($bnl):\n${plan.take(3000)}")
  }

  test("q_drift_report: cached projection, 1-row stats broadcasts, no cartesian beyond them") {
    // the drift monitor's only nested-loops are the two 1-row stats
    // frames crossed back over the cached projection and the O(bins)
    // rollup — the binning pass itself is one hash agg
    val plan = planOf("q_drift_report")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"3-column projection not cached for its three passes:\n${plan.take(3000)}")
    // 5 = the 1-row mid and stats frames crossed back wherever they are
    // referenced — every nested-loop side is exactly 1 row
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 5, s"unexpected nested-loop joins ($bnl):\n${plan.take(3000)}")
    Bench.cleanup(spark) // the guard registers the cached projection
  }

  test("q_ivf_balance: one assignment agg, broadcast cents, 1-row totals crossback") {
    // the health report must stay O(cells): the only nested-loops are the
    // bounded-centroid assignment cross and the 1-row totals crossback,
    // and the O(cells) rollup is cached so the crossback doesn't re-run
    // the corpus assignment
    val plan = planOf("q_ivf_balance")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 4, s"unexpected nested-loop joins ($bnl):\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"cells rollup not cached for the totals crossback:\n${plan.take(3000)}")
  }

  test("q_ann_recall_ivfpq_trained: no cartesian; nested-loops only on broadcast query/centroid sides") {
    // the composed stack inherits both envelopes: the PQ side's broadcast
    // codebooks (bounded K×8 rows) and the IVF side's broadcast
    // query/probe-cell/centroid frames — never corpus × corpus; the
    // per-vec_id and per-q_id joins stay hash/sort-merge
    val plan = planOf("q_ann_recall_ivfpq_trained")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 14, s"unexpected nested-loop joins ($bnl):\n${plan.take(3000)}")
  }

  test("q_agg_approx_quantile: sketch and exact sides share one aggregation") {
    // percentile + percentile_approx per group plan as ONE (sort/object)
    // aggregate pair — a second scan or a join between the exact and
    // approx sides would double the cost of the harness
    val plan = planOf("q_agg_approx_quantile")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected 1 parquet scan, found $scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("q_skew_profile: the per-key frame is cached — one fact scan feeds both consumers") {
    // uncached, the top-10 arm and the 1-row global-stats arm each replan
    // the fact scan + count agg; the cache makes the second consumer an
    // in-memory read of the O(distinct keys) frame
    val plan = planOf("q_skew_profile")
    val mem = "InMemoryTableScan".r.findAllIn(plan).length
    assert(mem >= 2, s"expected both consumers on the cached key frame:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    Bench.cleanup(spark)
  }

  test("q_domain_stats: the domain rollup is cached — one documents scan total") {
    val plan = planOf("q_domain_stats")
    val mem = "InMemoryTableScan".r.findAllIn(plan).length
    assert(mem >= 2, s"expected output + corpus total on the cached rollup:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    Bench.cleanup(spark)
  }

  test("q_compact_plan: one scan, hash-aggregated, day-partitioned window — no global sort") {
    val plan = planOf("q_compact_plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected 1 parquet scan, found $scans:\n${plan.take(3000)}")
    assert(plan.contains("Window"), plan.take(3000))
    // the prefix sum runs per day PARTITION; a global ordering would plan
    // a range-partitioned Sort under no Window
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q_join_salted_auto: the hot-factor map rides broadcasts, never a shuffle") {
    val plan = planOf("q_join_salted_auto")
    // fact-side salt lookup + dim-side replication: both broadcast joins
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 2, s"expected ≥2 broadcast joins for the factor map:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    Bench.cleanup(spark)
  }
}
