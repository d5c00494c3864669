package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level declare-gate for the whole-bucket posting-list cliff
  * (round-14 verdict item 8, the ExplainAudit-BNLJ precedent applied to
  * the logical layer): a `collect_list` aggregate whose result feeds a
  * pair-emitting flatMap materializes an ENTIRE bucket as one executor
  * row before the C(n,2) emission even starts — the executor-memory
  * cliff docs/SCALING.md documents, made structurally extinct in round
  * 15 when the last five lanes migrated onto
  * DedupQueries.cappedBucketPairs (spillable window rank + keyed
  * self-join). This spec greps the query sources so the shape cannot
  * quietly return.
  *
  * Rule: within `window` source lines after a `collect_list` call
  * (comment lines stripped first), none of the pair-emission markers —
  * `.flatMap`, `until ds.length`, `postingPairs` — may appear. Bounded
  * per-group rebuilds (sort_array(collect_list(...)) into a transform/
  * concat_ws over the SAME row) don't match and stay allowed.
  */
class PairEmissionGateSpec extends AnyFunSuite {

  private val window = 12
  private val markers = Seq(".flatMap", "until ds.length", "postingPairs(")

  /** Violations as (line-number, matched marker) pairs. */
  private[graft] def scan(source: String): Seq[(Int, String)] = {
    // comments stripped so scaladoc HISTORY of the old shape (which
    // names collect_list and flatMap) can't false-positive
    val lines = SourceGate.code(source)
    for {
      i <- lines.indices.toVector
      if lines(i).contains("collect_list")
      j <- (i + 1) to math.min(i + window, lines.size - 1)
      m <- markers
      if lines(j).contains(m)
    } yield (i + 1, m)
  }

  test("no collect_list feeds a pair-emitting flatMap in query sources") {
    val bad = SourceGate.scalaFiles("src/main/scala/graft/queries").flatMap { case (name, src) =>
      scan(src).map { case (ln, m) => s"$name:$ln collect_list → $m" }
    }
    assert(bad.isEmpty,
      s"whole-bucket posting-list pair emission is banned — migrate onto " +
        s"DedupQueries.cappedBucketPairs:\n${bad.mkString("\n")}")
  }

  test("a planted violation is caught") {
    val planted =
      """val posted = banded.groupBy(col("b"), col("bv"))
        |  .agg(collect_list(col("doc_id")).as("ds"))
        |posted.select(col("ds")).as[Seq[Long]]
        |  .flatMap { ds0 =>
        |    val ds = ds0.sorted.toArray
        |    ds.indices.iterator.flatMap(i =>
        |      (i + 1 until ds.length).iterator.map(j => (ds(i), ds(j))))
        |  }""".stripMargin
    val hits = scan(planted)
    assert(hits.nonEmpty, "the gate failed to catch the planted posting-list shape")
    assert(hits.exists(_._2 == ".flatMap"))
  }

  test("a bounded per-row rebuild does not false-positive") {
    val benign =
      """.groupBy(col("doc_id")).agg(
        |  concat_ws(" ", transform(
        |    filter(sort_array(collect_list(struct(col("i"), col("seg")))),
        |      x => x.getField("kept")),
        |    x => x.getField("seg"))).as("c4_text"))""".stripMargin
    assert(scan(benign).isEmpty)
  }
}
