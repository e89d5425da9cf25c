package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Statements whose answer depends on where strings and comments are:
  * every dialect arm reads one [[DuckLexer]] view, so a dollar-quoted
  * string or a comment means the same thing to all of them. Every pinned
  * value is DuckDB 1.0's answer to the identical statement text.
  */
class DialectLexingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)
  private def one(sql: String): Any = rows(sql).head.head

  test("dollar-quoted strings are literals to every arm") {
    // COLLATE, POSITIONAL JOIN and ** inside the string are data.
    assert(one("SELECT $$x COLLATE NOCASE$$") == "x COLLATE NOCASE")
    assert(one("SELECT $$a POSITIONAL JOIN b$$") == "a POSITIONAL JOIN b")
    assert(one("SELECT $$a ** b$$") == "a ** b")
    // A quote and a bracket inside the string; the ** outside still folds.
    assert(rows("SELECT $$it's [1]$$, 2 ** 3") == Seq(Seq("it's [1]", 8.0)))
    // Tagged form, raw backslash.
    assert(one("SELECT $t$a\\b$t$ AS v") == "a\\b")
  }

  test("comments are skipped by every arm") {
    spark.sql("CREATE OR REPLACE TEMP VIEW lex_orders AS SELECT * FROM " +
      "VALUES (1, 10.5), (2, 20.25) AS t(o_orderkey, o_totalprice)")
    assert(rows("SELECT * REPLACE (o_totalprice + 1 /* bump, */ AS o_totalprice) " +
      "FROM lex_orders ORDER BY o_orderkey").map(_.map(_.toString)) ==
      Seq(Seq("1", "11.50"), Seq("2", "21.25")))
    assert(one("SELECT [1, 2 /* ] */]") == Seq(1, 2))
    assert(one("SELECT [x + 1 FOR x IN [1, 2] /* IF x > 1 */]") == Seq(2, 3))
    assert(one("SELECT {'a': 1 /* } */}").asInstanceOf[org.apache.spark.sql.Row]
      .getAs[Int]("a") == 1)
    spark.sql("CREATE OR REPLACE TEMP TABLE lex_u AS SELECT 1 AS k, 2 AS v")
    spark.sql("UPDATE lex_u SET v = 3 /* note, */")
    assert(rows("SELECT k, v FROM lex_u") == Seq(Seq(1, 3)))
  }

  test("a string literal that spells POSITIONAL JOIN survives the splice") {
    spark.sql("CREATE OR REPLACE TEMP VIEW pa AS SELECT * FROM VALUES (1), (2) AS t(a)")
    spark.sql("CREATE OR REPLACE TEMP VIEW pb AS SELECT * FROM VALUES (10), (20) AS t(b)")
    assert(rows("SELECT 'p POSITIONAL JOIN q' AS s, a, b FROM pa POSITIONAL JOIN pb") ==
      Seq(Seq("p POSITIONAL JOIN q", 1, 10), Seq("p POSITIONAL JOIN q", 2, 20)))
  }

  test("an UPDATE SET value may be a list literal") {
    spark.sql("CREATE OR REPLACE TEMP TABLE ul AS SELECT 1 AS k, [9] AS l")
    assert(rows("UPDATE ul SET l = [1, 2]") == Seq(Seq(1L)))
    assert(rows("SELECT k, l FROM ul") == Seq(Seq(1, Seq(1, 2))))
    assert(rows("UPDATE ul SET l = [3], k = 2 WHERE l = [1, 2]") == Seq(Seq(1L)))
    assert(rows("SELECT k, l FROM ul") == Seq(Seq(2, Seq(3))))
  }
}
