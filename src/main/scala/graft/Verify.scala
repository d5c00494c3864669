package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [onlyQuery...] — the optional names restrict the
    // dump to those queries (local iteration; the driver passes none)
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    // a misspelt name would otherwise dump nothing and check nothing
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(", ")}")
    // Refuse an output dir whose basename collides with a declared query:
    // `runMain graft.Verify sf0.01 q_agg_mode` once committed a stray
    // `q_agg_mode/oracle_sql.json` at the repo root (round-6 verdict item).
    val outBase = Paths.get(outDir).getFileName.toString
    require(!SparkEntry.queries.contains(outBase),
      s"output dir '$outDir' collides with declared query '$outBase' — " +
        "pass a dedicated directory (e.g. /tmp/out)")
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // per-query wall-time, written as timings.json — the tri-SF gate runs
    // Verify at sf0.001/0.01/0.1, so these three files ARE the measured
    // time-vs-SF scaling data (round-14 verdict item 4); kept out of the
    // driver's compare (check_oracle only reads <name>/ and oracle_sql)
    // a failed query is recorded as JSON null under its own key, not a
    // numeric sentinel and not omitted (round-15 + round-16 ADVICE): a
    // silently missing lane reads as "never run" instead of "broken",
    // while the old -1.0 sentinel would silently fold into any min/sum a
    // scaling-table consumer computes — null makes such an aggregate
    // fail LOUDLY (TypeError in json-reading tooling) instead
    val timings = scala.collection.mutable.LinkedHashMap[String, Option[Double]]()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings(name) = Some((System.nanoTime() - t0) / 1e9)
      }
      catch { case e: Throwable =>
        timings(name) = None
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist/localCheckpoint internally; running all of them
      // in one JVM without cleanup fills the storage pool and stalls
      // later queries on full GCs (see Bench.cleanup)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracles for the dumped queries only, so check_oracle.py checks
    // exactly what was dumped
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.map { case (k, v) =>
        // Locale.ROOT: f"" uses the default locale, whose decimal comma
        // (de_DE etc.) would make the artifact invalid JSON
        val num = v.map(d =>
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(d)))
          .getOrElse("null")
        s"${q(k)}: $num"
      }.mkString("{", ",", "}"))
    spark.stop()
    // fail loudly: downstream tooling (gate_tri_sf.sh is exit-code
    // driven) must see a broken query as a broken run, not a quieter one
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed queries failed")
      sys.exit(1)
    }
  }
}
