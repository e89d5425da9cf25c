package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Randomized differential fuzz of the injected table functions' hand-
  * parsed argument surface (GraftSparkExtensions): whatever malformed
  * arity, type, literal, or name a SQL user throws at them, the failure
  * must be a CLEAN error (AnalysisException — which includes
  * ParseException — or the TVF's own IllegalArgument/require message,
  * at analysis or, for the driver-side functions' work, at execution),
  * never a planner internals leak
  * (MatchError, NPE, ClassCast, StackOverflow). Seeded: failures
  * reproduce.
  */
class TvfArgumentFuzzSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // Pinned default keeps CI deterministic; GRAFT_FUZZ_SEED reseeds for
  // deeper local shakes (any failure message carries the seed).
  private val seed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260813L)
  private val rnd = new scala.util.Random(seed)

  /** Argument-value pool: plausible and hostile literals/expressions. */
  private def randomArg(): String = rnd.nextInt(12) match {
    case 0 => "'missing_table'"
    case 1 => "''"
    case 2 => "NULL"
    case 3 => rnd.nextInt(200).toString
    case 4 => "-" + (1 + rnd.nextInt(64))
    case 5 => "0.75"
    case 6 => "true"
    case 7 => "'__frontier'"
    case 8 => "'not a number'"
    case 9 => "array(1, 2)"
    case 10 => "rand()" // non-foldable — must hit the constants require
    case 11 => "x'DEAD'"
  }

  // The driver-side functions (summarize, duck_describe,
  // pragma_table_info, duckdb_columns) fail in their work when the
  // statement executes, not while it is analysed: cleanFailure collects.
  private val tvfs = Seq(
    "asof_join", "fixpoint", "dedup", "span_scrub",
    "highs_create_variables", "highs_create_constraints",
    "highs_set_coefficients", "highs_solve",
    "summarize", "duck_describe", "pragma_table_info", "duckdb_columns")

  private def cleanFailure(name: String, sql: String): Unit = {
    val r = scala.util.Try(spark.sql(sql).collect())
    r match {
      case scala.util.Success(_) => () // a draw can be accidentally valid
      case scala.util.Failure(e) =>
        // Walk to the root: analysis wraps the builder's IAE/require.
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
        val ok = chain.exists {
          case _: org.apache.spark.sql.AnalysisException => true
          case _: IllegalArgumentException => true // the TVFs' own arity/require errors
          case _ => false
        }
        val dirty = chain.exists {
          case _: MatchError | _: NullPointerException |
               _: ClassCastException | _: StackOverflowError => true
          case _ => false
        }
        assert(ok && !dirty,
          s"[seed=$seed] $name leaked ${chain.map(_.getClass.getSimpleName).mkString(" < ")} " +
            s"for:\n  $sql\n  ${e.getMessage.take(300)}")
    }
  }

  test("malformed TVF invocations fail as clean analysis errors (400 random draws)") {
    // The registered set, pinned: a DuckDB statement, RETURNING forms
    // included, runs as a command (DuckCommands), never as a callable
    // table function.
    assert(GraftSparkExtensions.tableFunctions.map(_._1.funcName).sorted == Seq(
      "asof_join", "dedup", "duck_describe",
      "duck_show_tables", "duckdb_columns", "duckdb_tables", "fixpoint",
      "fixpoint_keyed", "generate_series", "glob", "highs_create_constraints",
      "highs_create_variables", "highs_set_coefficients", "highs_solve",
      "parquet_file_metadata", "parquet_metadata",
      "parquet_schema", "pivot_auto", "positional_join", "pragma_table_info",
      "read_csv", "read_csv_auto", "read_json", "read_json_auto",
      "read_parquet", "setop_by_name", "span_scrub", "summarize",
      "union_by_name").sorted)
    (1 to 400).foreach { _ =>
      val name = tvfs(rnd.nextInt(tvfs.size))
      val arity = rnd.nextInt(10) // 0..9 spans below/at/above every TVF's range
      val args = Seq.fill(arity)(randomArg()).mkString(", ")
      cleanFailure(name, s"SELECT * FROM $name($args)")
    }
  }

  test("wrong-arity calls name the function and its signature") {
    Seq(
      "SELECT * FROM asof_join('a')" -> "asof_join",
      "SELECT * FROM fixpoint('a')" -> "fixpoint",
      "SELECT * FROM dedup('a')" -> "dedup(table, threshold",
      "SELECT * FROM span_scrub()" -> "span_scrub",
      "SELECT * FROM highs_solve('a', 'b')" -> "highs_solve").foreach {
      case (sql, needle) =>
        val e = intercept[Exception](spark.sql(sql))
        assert(e.getMessage.contains(needle),
          s"expected '$needle' in: ${e.getMessage.take(200)}")
    }
  }

  test("non-foldable arguments are rejected at analysis, not at runtime") {
    val e = intercept[Exception](
      spark.sql("SELECT * FROM dedup(concat('t', CAST(rand() AS STRING)), 0.8)"))
    assert(e.getMessage.toLowerCase.contains("constant"),
      s"expected the constants require, got: ${e.getMessage.take(200)}")
  }
}
