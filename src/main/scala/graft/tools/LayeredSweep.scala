package graft.tools

import org.apache.spark.sql.functions._

/** Measurement harness for the layered-beam (W, R) recall sweep:
  * `runMain graft.tools.LayeredSweep <sfDir> [w1 r1 w0 r0]...` prints
  * hits/cand per configuration — the source of the layered rows in
  * docs/SCALING.md's beam table (same role GenSlice and Bench's lane mode
  * play for the scaling exponents). */
object LayeredSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val configs = args.drop(1)
    // validate up front: this tool feeds docs/SCALING.md's layered sweep
    // rows — a garbled arg list should print usage, not a MatchError
    if (configs.length % 4 != 0 || configs.exists(a => scala.util.Try(a.toInt).isFailure)) {
      System.err.println(
        "usage: LayeredSweep <sfDir> [w1 r1 w0 r0]...  (each config is 4 integers)")
      sys.exit(2)
    }
    val spark = graft.GraftSession.local("graft-layered-sweep")
    configs.grouped(4).foreach { g =>
      val Array(w1, r1, w0, r0) = g.map(_.toInt)
      val (_, _, out) = graft.queries.SimilarityQueries.beamLayeredServe(
        spark, dir, l1Width = w1, l1Rounds = r1, l0Width = w0, l0Rounds = r0)
      val r = out.agg(sum(col("n_hit_beam")), sum(col("n_cand_beam"))).head()
      println(s"SWEEP w1=$w1 r1=$r1 w0=$w0 r0=$r0 hits=${r.getLong(0)} cand=${r.getLong(1)}")
      graft.Bench.cleanup(spark)
    }
  }
}
