package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate, after the SessionBuilderGateSpec precedent: the
  * program takes no hidden configuration. Settings reach it through its
  * arguments and deployment files; the only JVM properties and
  * environment variables it reads are the few that describe the host or
  * the benchmark run, listed in `allowed`.
  *
  * Rule: with whole-line comments stripped, every `sys.props`,
  * `System.getProperty`, `sys.env` or `getenv` read under `src/main`
  * names its key as a string literal, and each (file, key) pair is in
  * `allowed`.
  */
class ConfigReadGateSpec extends AnyFunSuite {

  private val allowed = Set(
    "GraftSession.scala" -> "SPARK_GRAFT_CPUS",
    "GraftSession.scala" -> "graft.scan.openCostBytes",
    "Bench.scala" -> "SPARK_GRAFT_SF_DIR",
    "Bench.scala" -> "GRAFT_BENCH_CALIB_WAITS",
    "ScratchDirs.scala" -> "java.io.tmpdir")

  private val read = """sys\s*\.\s*(?:props|env)\b|System\s*\.\s*getProperty\b|\bgetenv\b""".r
  private val literal = "\"([^\"]*)\"".r

  /** The key of every read in `source`: the first string literal before
    * the read's next `)`, or "" when there is none (a whole-map read). */
  private[graft] def reads(source: String): Seq[String] = {
    val code = SourceGate.code(source).mkString("\n")
    read.findAllMatchIn(code).map { m =>
      val args = code.substring(m.end).takeWhile(_ != ')')
      literal.findFirstMatchIn(args).fold("")(_.group(1))
    }.toSeq
  }

  test("JVM properties and env vars are read under src/main only where allowed") {
    val found = SourceGate.scalaFiles("src/main").flatMap { case (name, src) =>
      reads(src).map(name -> _)
    }
    val hidden = found.filterNot(allowed.contains)
    assert(hidden.isEmpty,
      s"make these constants, arguments or deployment settings: ${hidden.mkString(", ")}")
  }

  test("the gate sees each kind of read, split or not, and skips comment lines") {
    assert(reads("""val k = sys.props.getOrElse("graft.ivf.cells", "5")""") == Seq("graft.ivf.cells"))
    assert(reads("val c = sys.env.getOrElse(\"A\",\n  \"1\")\nval d = sys\n  .props(\"b\")") ==
      Seq("A", "b"))
    assert(reads("""System.getProperty("x"); System.getenv("Y")""") == Seq("x", "Y"))
    assert(reads("val all = sys.env") == Seq(""))
    assert(reads("/** set -Dgraft.x:\n  * sys.props(\"graft.x\")\n  */\n// sys.env(\"Z\")") == Nil)
  }
}
