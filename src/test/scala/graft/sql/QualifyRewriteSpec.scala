package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** [[QualifyRewrite]] — the purely textual QUALIFY→subquery transform.
  * Execution-level behavior (the rewritten SQL actually running, schema
  * hygiene, the declined-shape hint) lives in SqlEntryPointsSpec; this
  * suite pins the decline rules (the word scan it reads is
  * [[DuckLexer]]'s, pinned in DuckLexerSpec).
  */
class QualifyRewriteSpec extends AnyFunSuite {

  test("simple rewrite wraps, filters, and preserves trailing ORDER BY") {
    val out = QualifyRewrite.rewrite(
      "SELECT a, b FROM t QUALIFY row_number() OVER (ORDER BY b) <= 2 ORDER BY a").get
    assert(out.startsWith("SELECT * EXCEPT (__graft_qualify) FROM ("))
    assert(out.contains(", (row_number() OVER (ORDER BY b) <= 2) AS __graft_qualify FROM t"))
    assert(out.contains("WHERE __graft_qualify ORDER BY a"))
  }

  test("trailing semicolon and LIMIT handled") {
    val out = QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1 LIMIT 5;").get
    assert(out.contains("(rank() OVER (ORDER BY a) = 1) AS __graft_qualify"))
    assert(out.contains("WHERE __graft_qualify LIMIT 5;"))
  }

  test("trailing OFFSET and FETCH stay out of the predicate text") {
    // DuckDB allows a bare OFFSET (and FETCH FIRST … ROWS ONLY) after
    // QUALIFY; folding them into the predicate fails re-parse and drops a
    // mechanically rewritable statement to the hint.
    val off = QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) <= 5 OFFSET 2").get
    assert(off.contains("(rank() OVER (ORDER BY a) <= 5) AS __graft_qualify"))
    assert(off.contains("WHERE __graft_qualify OFFSET 2"))
    val fetch = QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) <= 5 FETCH FIRST 3 ROWS ONLY").get
    assert(fetch.contains("WHERE __graft_qualify FETCH FIRST 3 ROWS ONLY"))
  }

  test("declines set operations, DISTINCT, and QUALIFY-only-in-subquery") {
    assert(QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1 UNION SELECT a FROM u").isEmpty)
    assert(QualifyRewrite.rewrite(
      "SELECT DISTINCT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1").isEmpty)
    assert(QualifyRewrite.rewrite(
      "SELECT a FROM (SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1) s").isEmpty)
    assert(QualifyRewrite.rewrite("SELECT a FROM t WHERE a > 1").isEmpty)
  }

  test("star EXCEPT in the select list is not mistaken for a set operation") {
    val out = QualifyRewrite.rewrite(
      "SELECT * EXCEPT (b) FROM t QUALIFY rank() OVER (ORDER BY a) = 1")
    assert(out.nonEmpty)
  }

  test("parenthesized set-op branch EXCEPT (SELECT ...) still declines") {
    assert(QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1 EXCEPT (SELECT a FROM u)").isEmpty)
  }

  test("QUALIFY before FROM (malformed) declines instead of splicing garbage") {
    assert(QualifyRewrite.rewrite("QUALIFY SELECT a FROM t").isEmpty)
  }

  test("positional parameters decline the rewrite (binding is by marker order)") {
    // Moving the predicate text ahead of WHERE would swap which value
    // binds to which '?' — silently wrong rows. Markers at ANY depth
    // (e.g. inside the OVER clause) must decline; '?' inside a string
    // literal is not a marker and must not.
    assert(QualifyRewrite.rewrite(
      "SELECT a FROM t WHERE b > ? QUALIFY row_number() OVER (ORDER BY a) <= ?").isEmpty)
    assert(QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) <= ?").isEmpty)
    assert(QualifyRewrite.rewrite(
      "SELECT a, '?' AS q FROM t QUALIFY rank() OVER (ORDER BY a) = 1").nonEmpty)
  }
}
