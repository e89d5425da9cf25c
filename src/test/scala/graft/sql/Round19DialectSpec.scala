package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round-19 dialect pack: raw-backslash string literals (DuckDB has no
  * backslash escapes in standard literals — every pinned value was
  * produced by DuckDB 1.x on the IDENTICAL statement text), plus the
  * round's other paste-parity closures.
  */
class Round19DialectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)
  private def one[T](sql: String): T =
    spark.sql(sql).collect().head.get(0).asInstanceOf[T]

  // ---------------------------------------------------------------
  // Raw-backslash literals (verdict-18 #1)
  // ---------------------------------------------------------------

  test("pasted regex literals keep their backslashes (DuckDB raw literals)") {
    // The canonical trap: '\d+' must mean regex \d+, not 'd+'.
    assert(one[Boolean]("SELECT regexp_matches('abc123', '\\d+')"))
    assert(!one[Boolean]("SELECT regexp_matches('abcdef', '\\d+')"))
    // regexp_replace is FIRST-match-only without 'g' — both pinned.
    assert(one[String]("SELECT regexp_replace('a1b22c', '\\d+', '#')")
      == "a#b22c")
    assert(one[String]("SELECT regexp_replace('a1b22c', '\\d+', '#', 'g')")
      == "a#b#c")
    assert(one[String]("SELECT regexp_extract('x42y', '\\d+', 0)") == "42")
    // \s, \w classes; anchors with \b.
    assert(one[String]("SELECT regexp_replace('a  b', '\\s+', '_')") == "a_b")
    assert(one[Boolean]("SELECT regexp_matches('cat hat', '\\bhat\\b')"))
    // A literal backslash in data: DuckDB spells it '\' (one char).
    assert(one[String]("SELECT 'a\\b'") == "a\\b")
    assert(one[Int]("SELECT length('\\')") == 1)
    // '\\' is TWO characters in DuckDB (no escape processing).
    assert(one[Int]("SELECT length('\\\\')") == 2)
    // like/split on backslash-bearing patterns.
    assert(one[Boolean]("SELECT regexp_matches('3.14', '\\d+\\.\\d+')"))
    assert(spark.sql("SELECT string_split_regex('a1b22c', '\\d+') AS l")
      .collect().head.getSeq[String](0) == Seq("a", "b", "c"))
  }

  test("regexp options family matches DuckDB (flags, backrefs, errors)") {
    // RE2 rewrite backrefs: \1 expands, $1 is LITERAL, \0 whole match.
    assert(one[String]("SELECT regexp_replace('a1b2', '(\\d)', '<\\1>')")
      == "a<1>b2")
    assert(one[String]("SELECT regexp_replace('a1b2', '(\\d)', '<$1>')")
      == "a<$1>b2")
    assert(one[String]("SELECT regexp_replace('a1b2', '(\\d)', '<\\1>', 'g')")
      == "a<1>b<2>")
    assert(one[String]("SELECT regexp_replace('a1b2', '(\\d)', '\\0')")
      == "a1b2")
    // Empty-match handling matches RE2's global replace.
    assert(one[String]("SELECT regexp_replace('aaa', '', 'X', 'g')")
      == "XaXaXaX")
    assert(one[String]("SELECT regexp_replace('ab', 'a|', 'X', 'g')")
      == "XbX")
    // Option chars: i, s, l, gi combined; c/m/n/p accepted no-ops.
    assert(one[String]("SELECT regexp_replace('A1b2', 'a', 'X', 'i')")
      == "X1b2")
    assert(one[String]("SELECT regexp_replace('a.b', '.', 'X', 'l')")
      == "aXb")
    assert(one[String]("SELECT regexp_replace('a1b2', '\\d', 'X', 'gi')")
      == "aXbX")
    assert(one[Boolean]("SELECT regexp_matches('A.', 'a.', 'il')"))
    assert(one[Boolean]("SELECT regexp_matches('A', 'a', 'i')"))
    assert(one[String]("SELECT regexp_extract('A1b2', '([a-z])(\\d)', 2, 'i')")
      == "1")
    assert(spark.sql("SELECT regexp_extract_all('A1a2', 'a\\d', 0, 'i') l")
      .collect().head.getSeq[String](0) == Seq("A1", "a2"))
    // Host error shapes: unknown option char; 'g' outside replace.
    val e1 = intercept[Exception](
      rows("SELECT regexp_replace('a', 'a', 'X', 'z')"))
    assert(e1.getMessage.contains("Unrecognized Regex option") ||
      Option(e1.getCause).exists(
        _.getMessage.contains("Unrecognized Regex option")))
    val e2 = intercept[Exception](rows("SELECT regexp_matches('a', 'a', 'g')"))
    assert(e2.getMessage.contains("only valid for regexp_replace") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("only valid for regexp_replace")))
  }

  test("raw backslashes survive rewrite chains and TVF re-parses") {
    // Through SIMILAR TO (rewritten to anchored RLIKE pre-parse).
    assert(one[Boolean]("SELECT '123' SIMILAR TO '\\d+'"))
    assert(!one[Boolean]("SELECT '12x' SIMILAR TO '\\d+'"))
    // Through QUALIFY (statement rewritten + reparsed): the regex
    // must survive as \d through the rewrite, or 'a1' would sort as
    // 'a1' vs the replaced 'aX'.
    assert(rows("SELECT regexp_replace(s, '\\d', 'Q') AS r FROM " +
      "(VALUES ('a1'),('bb')) t(s) " +
      "QUALIFY row_number() OVER (ORDER BY s) <= 2 ORDER BY r")
      .map(_.head) == Seq("aQ", "bb"))
    // Through a dollar-quoted literal containing a backslash.
    assert(one[Boolean]("SELECT regexp_matches('a1', $$\\d$$)"))
    // Statements WITHOUT literal backslashes are untouched (the scope
    // only engages on detection) — Spark-native escapes elsewhere in
    // the session keep working.
    assert(one[String]("SELECT 'plain'") == "plain")
  }

  test("E'...' escaped literals unescape like the host") {
    // Named escapes, hex, octal, escaped quote, doubled backslash,
    // unknown escape drops the backslash — all host-probed values.
    assert(one[String]("SELECT E'a\\nb'") == "a\nb")
    assert(one[Int]("SELECT length(E'a\\nb')") == 2 + 1)
    assert(one[String]("SELECT E'\\x41B'") == "AB")
    assert(one[String]("SELECT E'\\101'") == "A")
    assert(one[String]("SELECT E'it\\'s'") == "it's")
    assert(one[String]("SELECT e'tab\\there'") == "tab\there")
    assert(one[String]("SELECT E'back\\\\slash'") == "back\\slash")
    assert(one[String]("SELECT E'\\q'") == "q")
    // Mixed with a plain raw literal in the same statement.
    assert(rows("SELECT E'a\\tb' AS x, 'c\\td' AS y").head ==
      Seq("a\tb", "c\\td"))
  }

  test("enum ORDER BY and enum-vs-enum comparisons honor definition order") {
    spark.sql("DROP TYPE IF EXISTS g19_mood")
    spark.sql("CREATE TYPE g19_mood AS ENUM ('sad', 'ok', 'happy')")
    // Definition order, not lexicographic ('happy' < 'ok' < 'sad'
    // lexicographically — the host sorts sad, ok, happy).
    assert(rows("SELECT x FROM (VALUES ('happy'),('sad'),('ok')) t(x) " +
      "ORDER BY x::g19_mood").map(_.head) == Seq("sad", "ok", "happy"))
    assert(rows("SELECT x FROM (VALUES ('happy'),('sad'),(NULL),('ok')) " +
      "t(x) ORDER BY x::g19_mood DESC").map(_.head) ==
      Seq("happy", "ok", "sad", null))
    // enum-vs-enum compares by index; enum-vs-bare-VARCHAR stays
    // lexicographic (host-probed: 'ok'::mood > 'sad' is FALSE).
    assert(rows("SELECT 'sad'::g19_mood < 'ok'::g19_mood AS a, " +
      "'happy'::g19_mood <= 'ok'::g19_mood AS b, " +
      "CAST('ok' AS g19_mood) >= CAST('ok' AS g19_mood) AS c, " +
      "'ok'::g19_mood > 'sad' AS d") ==
      Seq(Seq(true, false, true, false)))
    // SELECT output keeps the VARCHAR model.
    assert(one[String]("SELECT 'ok'::g19_mood") == "ok")
    spark.sql("DROP TYPE g19_mood")
  }

  test("json_transform reshapes via the type-spelling map; strict errors") {
    // Typed struct out; missing key → NULL field; list nesting.
    assert(rows("""SELECT json_transform('{"a": 1, "b": "x", "c": [1,2]}',
        '{"a": "INTEGER", "b": "VARCHAR", "c": ["BIGINT"]}') AS s""")
      .head.head.toString == "[1,x,WrappedArray(1, 2)]" ||
      rows("""SELECT (json_transform('{"a": 1, "b": "x", "c": [1,2]}',
        '{"a": "INTEGER", "b": "VARCHAR", "c": ["BIGINT"]}')).a""")
        .head.head == 1)
    assert(rows("""SELECT (json_transform('{"a": 1}',
        '{"a": "INTEGER", "b": "VARCHAR"}')).b IS NULL""").head.head
      == true)
    // Top-level list; DATE/TIMESTAMP leaves; nested object.
    assert(rows("""SELECT json_transform('[1,2,3]', '["DOUBLE"]') AS l""")
      .head.head.asInstanceOf[scala.collection.Seq[Double]].toSeq ==
      Seq(1.0, 2.0, 3.0))
    assert(rows("""SELECT (json_transform('{"n": {"x": 7}}',
        '{"n": {"x": "BIGINT"}}')).n.x""").head.head == 7L)
    assert(rows("""SELECT (json_transform('{"d": "2024-01-02"}',
        '{"d": "DATE"}')).d""").head.head.toString == "2024-01-02")
    // NULL json → NULL result.
    assert(rows("""SELECT json_transform(CAST(NULL AS STRING),
        '{"a": "INTEGER"}') IS NULL""").head.head == true)
    // Strict form errors on a failed leaf cast; non-strict nulls it.
    intercept[Exception] {
      rows("""SELECT json_transform_strict('{"a": "zz"}',
        '{"a": "INTEGER"}')""")
    }
    // Unknown spelling → targeted error.
    val e = intercept[Exception](
      rows("""SELECT json_transform('{}', '{"a": "WAT"}')"""))
    assert(e.getMessage.contains("type spelling"))
  }

  test("ATTACH directory AS name registers name.<table>; DETACH drops") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DETACH IF EXISTS g19db")
    spark.sql(s"ATTACH '$dir' AS g19db")
    assert(one[Long]("SELECT count(*) AS n FROM g19db.region") == 5L)
    // Join across the attached database.
    assert(one[Long]("SELECT count(*) AS n FROM g19db.nation n " +
      "JOIN g19db.region r ON n.n_regionkey = r.r_regionkey") == 25L)
    // Re-attach without IF NOT EXISTS: the host's conflict error.
    val e = intercept[Exception](spark.sql(s"ATTACH '$dir' AS g19db"))
    assert(e.getMessage.contains("already attached"))
    // IF NOT EXISTS: silent no-op.
    spark.sql(s"ATTACH IF NOT EXISTS '$dir' AS g19db")
    // Default name = directory basename; READ_ONLY accepted.
    spark.sql("DETACH IF EXISTS sf0")
    spark.sql(s"ATTACH '$dir' (READ_ONLY)")
    // basename 'sf0.001' → extension-stripped 'sf0' per the name rule.
    assert(one[Long]("SELECT count(*) AS n FROM sf0.region") == 5L)
    spark.sql("DETACH sf0")
    spark.sql("DETACH g19db")
    val e2 = intercept[Exception](spark.sql("SELECT * FROM g19db.region"))
    assert(e2.getMessage.toLowerCase.contains("cannot be found") ||
      e2.getMessage.toLowerCase.contains("not found"))
    // DETACH of an unknown database: the host's error; IF EXISTS no-op.
    val e3 = intercept[Exception](spark.sql("DETACH g19db"))
    assert(e3.getMessage.contains("not found"))
    spark.sql("DETACH IF EXISTS g19db")
    // .duckdb file attaches keep the targeted hint.
    val e4 = intercept[Exception](spark.sql("ATTACH 'x.duckdb' AS other"))
    assert(e4.getMessage.contains("DuckDB-engine-specific"))
  }

  test("ninth-sweep scalars match DuckDB") {
    // Descending list sort: DESC + NULLS LAST like the host.
    assert(rows("SELECT array_reverse_sort(array(2, CAST(NULL AS INT), 3, 1)) l")
      .head.head.asInstanceOf[scala.collection.Seq[Any]].toSeq ==
      Seq(3, 2, 1, null))
    // Grapheme left/right with negative counts (host-probed).
    assert(rows("SELECT left_grapheme('héllo', 2) a, " +
      "right_grapheme('héllo', 2) b, left_grapheme('ab', -1) c, " +
      "right_grapheme('ab', 0) d").head == Seq("hé", "lo", "a", ""))
    // RE2 QuoteMeta: every ASCII non-word char escapes.
    assert(one[String]("SELECT regexp_escape('a.b')") == "a\\.b")
    assert(one[String]("SELECT regexp_escape('a-b c_d')") == "a\\-b\\ c_d")
    // LIKE-with-escape function spellings.
    assert(rows("SELECT like_escape('a%b', 'a\\%b', '\\') a, " +
      "like_escape('axb', 'a\\%b', '\\') b, " +
      "not_like_escape('axb', 'a\\%b', '\\') c, " +
      "ilike_escape('A_B', 'a\\_b', '\\') d").head ==
      Seq(true, false, true, true))
    // md5-as-integer family (values pinned against DuckDB 1.0).
    assert(one[String]("SELECT CAST(md5_number_lower('abc') AS VARCHAR)")
      == "8250560606382298838")
    assert(one[String]("SELECT CAST(md5_number_upper('abc') AS VARCHAR)")
      == "12704604231530709392")
    assert(one[String]("SELECT CAST(md5_number('abc') AS VARCHAR)")
      == "152195979970564155685860391459828531600")
  }

  test("tenth-batch closures: divide, typeof vocabulary, date_add, DISTINCT ordered aggs") {
    // divide(): // as a function — trunc int division, float division,
    // NULL on zero (host-probed: 3 / 3.75 / -3 / NULL).
    assert(rows("SELECT divide(7, 2) a, divide(7.5, 2) b, divide(-7, 2) c, " +
      "divide(7, 0) d, divide(7.5, 0.0) e").head ==
      Seq(3L, 3.75, -3L, null, null))
    // typeof in DuckDB's vocabulary.
    assert(rows("SELECT typeof(CAST(1 AS BIGINT)) a, typeof('x') b, " +
      "typeof(1.5) c, typeof(DATE '2024-01-01') d, " +
      "typeof(TIMESTAMP '2024-01-01 00:00:00') e").head ==
      Seq("BIGINT", "VARCHAR", "DECIMAL(2,1)", "DATE", "TIMESTAMP"))
    // date_add with an INTERVAL argument (host returns a timestamp).
    assert(one[java.sql.Timestamp](
      "SELECT date_add(DATE '2024-01-01', INTERVAL 3 DAY)")
      .toString.startsWith("2024-01-04 00:00:00"))
    assert(one[java.sql.Timestamp](
      "SELECT date_add(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 90 MINUTE)")
      .toString.startsWith("2024-01-01 01:30:00"))
    // DISTINCT ordered array_agg: distinct-then-sort, NULLS LAST both
    // directions (host-probed).
    assert(rows("SELECT array_agg(DISTINCT x ORDER BY x) FROM " +
      "(VALUES (1),(CAST(NULL AS INT)),(2),(1)) t(x)").head.head
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(1, 2, null))
    assert(rows("SELECT array_agg(DISTINCT x ORDER BY x DESC) FROM " +
      "(VALUES (1),(CAST(NULL AS INT)),(2),(1)) t(x)").head.head
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(2, 1, null))
    // string_agg with DISTINCT + ORDER BY (WITHIN GROUP path).
    assert(one[String]("SELECT string_agg(DISTINCT x, ',' ORDER BY x) " +
      "FROM (VALUES ('b'),('a'),('b')) t(x)") == "a,b")
  }

  test("backslash literals inside executed temp-table DML keep raw semantics") {
    spark.sql("DROP TABLE IF EXISTS t19_bs")
    spark.sql("CREATE TEMP TABLE t19_bs AS SELECT 'a12b34' AS s, '\\d+' AS p")
    assert(one[String]("SELECT p FROM t19_bs") == "\\d+")
    spark.sql("INSERT INTO t19_bs VALUES ('c56', '\\d+')")
    assert(one[Long]("SELECT count(*) FROM t19_bs WHERE p = '\\d+'") == 2L)
    spark.sql("UPDATE t19_bs SET s = regexp_replace(s, '\\d+', '#', 'g')")
    assert(rows("SELECT s FROM t19_bs ORDER BY s") == Seq(Seq("a#b#"), Seq("c#")))
    val out = java.nio.file.Files.createTempDirectory("t19_bs")
      .resolve("bs.parquet").toString
    spark.sql(s"COPY (SELECT regexp_replace(s, '\\d+', '!') AS r FROM " +
      s"(VALUES ('x12y')) v(s)) TO '$out'")
    assert(spark.read.parquet(out).head().getString(0) == "x!y")
    spark.sql("DROP TABLE t19_bs")
  }
}
