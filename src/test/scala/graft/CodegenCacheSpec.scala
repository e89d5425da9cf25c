package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's cache of compiled generated code is sized by
  * [[Engine.CodegenCacheEntries]], well above Spark's default of 100: a
  * statement run again after more than 100 other statements with distinct
  * generated code compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A whole-stage-codegen query whose generated source differs per `i`
    * (integer literals are inlined into the generated Java).
    */
  private def run(i: Int): Unit = {
    spark.range(0, 64, 1, 2)
      .selectExpr(s"id * $i + ${i + 7} AS v")
      .where(s"v % ${i + 2} = 1")
      .collect()
    ()
  }

  test("a statement's generated code is compiled once across more than 100 other statements") {
    assert(spark.conf.get(Engine.CodegenCacheKey) == Engine.CodegenCacheEntries.toString)
    run(1000003)
    val c0 = compiles
    (1 to 150).foreach(run)
    assert(compiles - c0 > 100, "the 150 statements must generate distinct code")
    val c1 = compiles
    run(1000003)
    assert(compiles == c1, "the repeated statement recompiled its generated code")
  }
}
