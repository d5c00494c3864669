package graft

import org.apache.spark.sql.functions._

/** Skew mitigation by key salting: a hot key is split across N salt
  * buckets on the fact side while the dim side is replicated N ways —
  * results must equal the plain join. (AQE skew-join handles this at
  * runtime for sort-merge joins; explicit salting is the portable pattern
  * when AQE can't, e.g. aggregations over a hot key.)
  */
class SaltedJoinSpec extends SparkSpec {
  import SharedSpark.spark.implicits._

  test("salted join ≡ plain join under a hot key") {
    val salts = 8
    // skewed fact: 90% of rows share key 1
    val fact = spark.range(0, 20000)
      .select(when(col("id") % 10 === 0, col("id") % 100).otherwise(1L).as("k"),
        col("id").as("v"))
    val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 10).as("w"))

    val plain = fact.join(dim, "k").groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))

    val saltedFact = fact.withColumn("salt", (rand(42) * salts).cast("int"))
    val saltedDim = dim.crossJoin(
      spark.range(0, salts).select(col("id").cast("int").as("salt")))
    val salted = saltedFact
      .join(saltedDim, Seq("k", "salt"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))

    val a = plain.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = salted.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    // the salted fact spreads the hot key across all buckets
    val buckets = saltedFact.filter(col("k") === 1).select(countDistinct(col("salt"))).head.getLong(0)
    assert(buckets === salts.toLong)
  }

  // "Measure, don't guess": the semantic-equivalence test above proves
  // salting is invisible; this one measures the WIN. A planted
  // 80%-single-key fact is joined (shuffle join forced, AQE off so its
  // skew-split doesn't mask the effect) plain vs salted, and a listener
  // records per-task durations. The observable is the hot stage's
  // max-task share of total stage time: unsalted, one task owns the hot
  // key's entire build+probe (share → ~80%+); salted across 8 buckets,
  // no task can own more than ~1/8 of the hot key plus its fair share.
  // Numbers recorded in docs/SCALING.md.
  test("salting measurably evens task times under a planted 80% hot key") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val conf = spark.conf
    val salts = 8
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    val oldShuffle = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    // the salt buckets must land in distinct shuffle partitions, or the
    // measured spread reflects the partition count, not the salting: at 4
    // partitions (a 4-core session) the salted max record share was 0.56,
    // at 8 hash collisions left 0.32, at 4× the salt count 0.21
    conf.set("spark.sql.shuffle.partitions", (salts * 4).toString)
    try {

    val fact = spark.range(0, 4000000)
      .select(when(col("id") % 5 === 0, col("id") % 100).otherwise(1L).as("k"),
        col("id").as("v"))
    val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 10).as("w"))

    // (records max-share, duration max-share, max duration, median duration)
    // of the join-probe stage — identified as the stage reading the most
    // shuffle records (the fact exchange; the final agg reads ~100 rows)
    def joinStageSpread(body: => Unit): (Double, Double, Long, Long) = {
      val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null && te.taskMetrics != null)
            tasks.add((te.stageId, te.taskInfo.duration,
              te.taskMetrics.shuffleReadMetrics.recordsRead))
      }
      sc.addSparkListener(listener)
      try { body; Thread.sleep(500) } finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val byStage = tasks.asScala.toSeq.groupBy(_._1)
      val (_, ts) = byStage.maxBy { case (_, t) => t.map(_._3).sum }
      val durs = ts.map(_._2).sorted
      val recs = ts.map(_._3)
      (recs.max.toDouble / recs.sum.toDouble,
        durs.max.toDouble / durs.sum.toDouble,
        durs.max, durs(durs.size / 2))
    }

    def plain(): Unit =
      fact.join(dim, "k").groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw")).collect()
    def salted(): Unit = {
      val sf = fact.withColumn("salt", (rand(42) * salts).cast("int"))
      val sd = dim.crossJoin(
        spark.range(0, salts).select(col("id").cast("int").as("salt")))
      sf.join(sd, Seq("k", "salt")).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw")).collect()
    }
    // alternating reps; a rep's slowest task is compared by its least value
    // over the reps, which host contention can only raise
    val reps = (1 to 3).map(_ => (joinStageSpread(plain()), joinStageSpread(salted())))
    val (plainRecShare, plainDurShare, _, plainMed) = reps.head._1
    val (saltedRecShare, saltedDurShare, _, saltedMed) = reps.head._2
    val plainMax = reps.map(_._1._3).min
    val saltedMax = reps.map(_._2._3).min

    info(f"join-stage max-task record share: plain $plainRecShare%.3f vs salted $saltedRecShare%.3f")
    info(f"join-stage slowest task (best of 3): plain $plainMax ms vs salted $saltedMax ms; " +
      f"first rep median/share: plain $plainMed ms/$plainDurShare%.3f vs salted " +
      f"$saltedMed ms/$saltedDurShare%.3f")
    // unsalted: one task owns the hot key → ~80% of the stage's records;
    // salted: the hot key spreads across 8 buckets. Records are fully
    // deterministic; the duration share is the same skew seen in time.
    assert(plainRecShare > 0.5, f"expected a dominant hot task, got $plainRecShare%.3f")
    assert(saltedRecShare < plainRecShare / 2,
      f"salting should at least halve the max-task record share: " +
        f"$saltedRecShare%.3f vs $plainRecShare%.3f")
    assert(saltedMax < plainMax,
      s"salted slowest task (best of 3: $saltedMax ms) should beat the unsalted hot task " +
        s"(best of 3: $plainMax ms)")
    } finally {
      // restore even if a measured join or assertion throws — the session
      // is shared, and a leaked adaptive.enabled=false would skew every
      // later suite
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.shuffle.partitions", oldShuffle)
    }
  }
}
