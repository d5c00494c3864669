package graft

/** `graft.Bench <reps> <lane...>` in-process at sf0.001: one
  * phase-instrumented lane and one plain lane, two rounds. */
class BenchLaneModeSpec extends SparkSpec {

  private def d2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  test("lane mode prints round times and min, the min rep's phases and its job profile") {
    val lanes = Seq("q_compact_apply", "q_dim_project")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val reps = Bench.lanes(spark, "/root/testdata/sf0.001", 2, lanes, lines += _)
    assert(lines.count(_.startsWith("HEALTH round=")) == 2)
    lanes.foreach { n =>
      val rs = reps(n)
      assert(rs.size == 2 && rs.forall(_.seconds >= 0), s"$n: ${rs.map(_.seconds)}")
      val min = rs.map(_.seconds).min
      val m = rs(Bench.minRepIdx(rs.map(_.seconds)))
      assert(m.seconds == min)
      assert(lines.contains(s"TIME $n ${rs.map(r => d2(r.seconds)).mkString(" ")} min=${d2(min)}"))
      val phases = lines.filter(_.startsWith(s"PHASE $n.")).toSeq
      assert(phases == m.phases.toSeq.sortBy(_._1).map { case (k, v) => s"PHASE $k ${d2(v)} (min rep)" })
      assert(lines.exists(_.startsWith(s"ATTRIB $n ")) == m.phases.nonEmpty)
      val profile = s"""PROFILE $n wall=\\S+ jobs=(\\d+) jobwall=\\S+ driverGap=\\S+ stages=(\\d+) tasks=(\\d+)""".r
      val counts = lines.collectFirst { case profile(j, s, t) => Seq(j, s, t).map(_.toInt) }
      assert(counts.exists(_.forall(_ > 0)), s"$n: no PROFILE line with jobs/stages/tasks > 0")
      assert(counts.contains(Seq(m.jobs.size, m.stages.size, m.stages.map(_.tasks).sum)))
    }
    assert(reps("q_compact_apply").forall(_.phases.keySet ==
      Set("q_compact_apply.manufacture", "q_compact_apply.rewrite")))
    assert(reps("q_dim_project").forall(_.phases.isEmpty))
  }
}
