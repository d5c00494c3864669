package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate, after the PairEmissionGateSpec precedent: every
  * entry point builds its session through `GraftSession.local`, so the
  * master, shuffle partitions, time zone and local file system are chosen
  * in one place and every main runs at the same default core count.
  *
  * Rule: with whole-line comments stripped, `SparkSession.builder` (any
  * whitespace or line break before `.builder`) appears under `src/main`
  * only in GraftSession.scala.
  */
class SessionBuilderGateSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r

  private[graft] def buildsSession(source: String): Boolean =
    builder.findFirstIn(SourceGate.code(source).mkString("\n")).nonEmpty

  test("SparkSession.builder appears under src/main only in GraftSession.scala") {
    val builders = SourceGate.scalaFiles("src/main")
      .collect { case (name, src) if buildsSession(src) => name }
    assert(builders == Seq("GraftSession.scala"),
      s"build the session with GraftSession.local instead: ${builders.mkString(", ")}")
  }

  test("the gate sees a builder split across lines and skips comment lines") {
    assert(buildsSession("val s = SparkSession\n  .builder()\n  .getOrCreate()"))
    assert(buildsSession("val s = org.apache.spark.sql.SparkSession.builder().getOrCreate()"))
    assert(!buildsSession("/** usage:\n  * SparkSession.builder()\n  */\nval x = 1"))
    assert(!buildsSession("// SparkSession.builder() is not called here"))
  }
}
