package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Thirteenth dialect sweep (round 20, final): silent-wrong-value
  * overrides and missing host names found by differential probing of
  * 150+ statements. Every pinned value was produced by DuckDB 1.x on
  * the IDENTICAL statement text (2026-08-16).
  */
class Round20Sweep13Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)
  private def one[T](sql: String): T =
    spark.sql(sql).collect().head.get(0).asInstanceOf[T]

  // --- silent-wrong-value class ------------------------------------

  test("any_value skips NULLs like the host (parser-built node, both forms)") {
    assert(one[Any]("SELECT any_value(y) FROM (VALUES (NULL),(7)) t(y)") == 7)
    assert(one[Any](
      "SELECT any_value(y) FROM (VALUES (NULL),(NULL),(3)) t(y)") == 3)
    // all-NULL group stays NULL
    assert(one[Any](
      "SELECT any_value(y) FROM (VALUES (CAST(NULL AS INT))) t(y)") == null)
  }

  test("two-arg ltrim/rtrim/trim take (string, chars) — host order") {
    // Spark's native two-arg form is (trimStr, srcStr): the identical
    // text used to return '' / '' / '' — the exact silent-wrong shape.
    assert(rows("SELECT ltrim('xxabcx', 'x') a, rtrim('xxabcx', 'x') b, " +
      "trim('xxabcx', 'x') c, trim('  a  ') d").head ==
      Seq("abcx", "xxabc", "abc", "a"))
  }

  test("concat stringifies and skips NULLs; || keeps NULL propagation") {
    assert(rows("SELECT concat('a', NULL, 'b') a, concat(1, NULL, 2.5) b, " +
      "'a' || NULL c").head == Seq("ab", "12.5", null))
    // all-array concat keeps Spark's native array semantics (this
    // repo's operators route functions.concat through the registry)
    assert(one[Any]("SELECT concat(array(1,2), array(3))")
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(1, 2, 3))
  }

  test("left/right accept negative counts (drop from the other end)") {
    assert(rows("SELECT left('hello', -1) a, right('hello', -1) b, " +
      "left('hello', 2) c, right('hello', 2) d, left('ab', 5) e").head ==
      Seq("hell", "ello", "he", "lo", "ab"))
  }

  test("dayofweek/weekday/dow are 0-based Sunday; isodow keeps Mon=1..Sun=7") {
    // 2024-03-03 is a Sunday, 2024-03-09 a Saturday, 2024-03-05 a Tuesday.
    assert(rows("SELECT dayofweek(DATE '2024-03-03') a, " +
      "weekday(DATE '2024-03-09') b, " +
      "date_part('dow', DATE '2024-03-05') c, " +
      "date_part('isodow', DATE '2024-03-03') d, " +
      "date_part('isodow', DATE '2024-03-04') e").head ==
      Seq(0, 6, 2L, 7L, 1L))
  }

  test("chr is a Unicode code point (Spark native is mod-256)") {
    assert(one[String]("SELECT chr(8364)") == "€")
    assert(one[String]("SELECT chr(97)") == "a")
  }

  test("DATE - DATE is BIGINT days; timestamp arithmetic untouched") {
    assert(rows("SELECT DATE '2024-01-02' - DATE '2024-01-01' a, " +
      "typeof(DATE '2024-03-01' - DATE '2024-01-01') b").head ==
      Seq(1L, "BIGINT"))
    // TIMESTAMP - TIMESTAMP stays an interval on both engines
    assert(String.valueOf(one[Any]("SELECT TIMESTAMP '2024-01-02 00:00:00'" +
      " - TIMESTAMP '2024-01-01 00:00:00'")).contains("24"))
  }

  test("bar: eighth-truncated blocks, space-padded to a BYTE width") {
    assert(one[String]("SELECT bar(3, 0, 10, 10)") == "███ ")
    assert(one[String]("SELECT bar(0, 0, 10, 10)") == " " * 10)
    assert(one[String]("SELECT bar(3.49, 0, 10, 10)") ==
      "███▍")
    assert(one[String]("SELECT bar(10, 0, 10, 10)") == "█" * 10)
    assert(one[String]("SELECT bar(0.5, 0, 10, 10)") == "▌" + " " * 7)
  }

  // --- missing-name pack -------------------------------------------

  test("strlen/length_grapheme/length-of-list/xor/geomean/group_concat") {
    assert(rows("SELECT strlen('abc') a, length_grapheme('héllo') b, " +
      "length([1,2]) c, xor(5, 3) d").head == Seq(3, 5L, 2L, 6L))
    assert(one[Double]("SELECT round(geomean(y), 10) FROM " +
      "(VALUES (2.0),(8.0)) t(y)") == 4.0)
    assert(one[String]("SELECT group_concat(x) FROM (VALUES ('a')) t(x)")
      == "a")
  }

  test("array_pop_back/front, array_value, list_apply/apply") {
    assert(rows("SELECT array_pop_back([1,2,3]) a, " +
      "array_pop_front([1,2,3]) b, array_value(1,2,3) c, " +
      "list_apply([1,2], x -> x * 2) d, apply([1,2], x -> x + 1) e").head
      .map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq) ==
      Seq(Seq(1, 2), Seq(2, 3), Seq(1, 2, 3), Seq(2, 4), Seq(2, 3)))
    assert(one[Any]("SELECT array_pop_back([1])")
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq())
  }

  test("GLOB operator: *, ?, [set], mid-expression") {
    assert(rows("SELECT 'abc' GLOB 'a*' a, 'abc' GLOB 'a?c' b, " +
      "'abc' GLOB 'a[bc]c' c, 'x' GLOB 'a*' d, " +
      "('ab' || 'c') GLOB '*b*' e").head ==
      Seq(true, true, true, false, true))
  }

  test("printf Decimal args; format {:spec} fmt translation") {
    assert(one[String]("SELECT printf('%d-%s-%.2f', 7, 'x', 1.5)")
      == "7-x-1.50")
    // host-pinned: 3.14|    x|y   |42|ff|10|1.234568e+04
    assert(one[String]("SELECT format('{:.2f}|{:>5}|{:<4}|{:d}|{:x}|{:o}" +
      "|{:e}', 3.14159, 'x', 'y', 42, 255, 8, 12345.678)")
      == "3.14|    x|y   |42|ff|10|1.234568e+04")
    assert(one[String](
      "SELECT format('{:08.3f}|{:+d}|{:10d}', 3.14159, 42, 7)")
      == "0003.142|+42|         7")
    assert(one[String]("SELECT format('{:,}', 123456789)") == "123,456,789")
    // Known divergence: exact-half rounding under {:N.Mf} — fmt rounds
    // half-even ({:5.1f} of 2.25 → '  2.2'), java.util.Formatter
    // half-up ('  2.3'). Documented, not asserted.
  }

  test("clock interval literal, INT[n]/INT[] casts, UHUGEINT spelling") {
    assert(one[String](
      "SELECT CAST(INTERVAL '25:01:02' AS VARCHAR)").contains("25"))
    assert(one[Any]("SELECT CAST([1,2,3] AS INT[3])")
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(1, 2, 3))
    assert(one[Any]("SELECT CAST([1,2] AS INT[])")
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(1, 2))
    assert(one[String]("SELECT typeof(1::UHUGEINT)") == "DECIMAL(38,0)")
  }

  test("datepart list → struct of BIGINT parts") {
    val df = spark.sql(
      "SELECT datepart(['year','month','dow'], DATE '2024-03-03') s")
    val row = df.collect().head.getStruct(0)
    assert(row.getLong(0) == 2024L && row.getLong(1) == 3L &&
      row.getLong(2) == 0L) // Sunday → dow 0 inside the struct too
    assert(df.schema.head.dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("year", "month", "dow"))
  }

  test("quantile_disc returns the input type (value parity)") {
    assert(one[Any]("SELECT quantile_disc(v, 0.5) FROM " +
      "(VALUES (1),(2)) t(v)") == 1)
    assert(one[Any]("SELECT quantile_disc(v, 0.5) FROM " +
      "(VALUES (CAST(1.5 AS DOUBLE)),(2.5)) t(v)") == 1.5)
  }

  test("LIMIT n% — floor semantics, with and without ORDER BY") {
    assert(rows("SELECT v FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)," +
      "(9),(10)) t(v) ORDER BY v LIMIT 25%") == Seq(Seq(1), Seq(2)))
    assert(rows(
      "SELECT v FROM (VALUES (1),(2),(3)) t(v) LIMIT 10%").isEmpty)
  }

  test("function-chaining: (expr).fn(args) / 'lit'.fn() / chains") {
    assert(one[String]("SELECT ('hello').upper()") == "HELLO")
    assert(one[String]("SELECT 'hello'.upper()") == "HELLO")
    assert(one[Long]("SELECT trim('  ab  ').len()") == 2L)
    assert(one[String]("SELECT ('hello').upper().lower()") == "hello")
    assert(one[Long]("SELECT [1,2,3].len()") == 3L)
    assert(rows("SELECT ('ab').concat('cd') a, 'x'.repeat(3) b").head ==
      Seq("abcd", "xxx"))
    // bare-identifier receivers parse natively as qualified routine
    // names and stay a loud decline (shadowing a real schema.fn()
    // would be worse) — documented.
    val e = intercept[Exception](spark.sql(
      "SELECT x.upper() FROM (SELECT 'a' AS x) t").collect())
    assert(e.getMessage.contains("upper"), e.getMessage)
  }

  // --- fourteenth probe batch (round-20 close) ----------------------

  test("ANSI fetch: OFFSET k ROWS / FETCH FIRST|NEXT n ROWS ONLY") {
    assert(rows("SELECT v FROM (VALUES (1),(2),(3)) t(v) ORDER BY v " +
      "FETCH FIRST 2 ROWS ONLY") == Seq(Seq(1), Seq(2)))
    assert(rows("SELECT v FROM (VALUES (1),(2),(3)) t(v) ORDER BY v " +
      "OFFSET 1 ROWS FETCH NEXT 1 ROWS ONLY") == Seq(Seq(2)))
    // count defaults to 1; bare OFFSET k ROWS
    assert(rows("SELECT v FROM (VALUES (1),(2)) t(v) ORDER BY v " +
      "FETCH FIRST ROW ONLY") == Seq(Seq(1)))
    assert(rows("SELECT v FROM (VALUES (1),(2),(3)) t(v) ORDER BY v " +
      "OFFSET 2 ROWS") == Seq(Seq(3)))
  }

  test("TABLESAMPLE method form: bernoulli(100%) / reservoir(n ROWS)") {
    // method form attaches to a TABLE reference (Spark's grammar puts
    // TABLESAMPLE before a subquery alias, so the aliased-VALUES shape
    // stays native-declined on both spellings)
    spark.sql("SELECT v FROM (VALUES (1),(2),(3)) t(v)")
      .createOrReplaceTempView("swts")
    assert(rows("SELECT v FROM swts TABLESAMPLE bernoulli(100%) " +
      "ORDER BY v") == Seq(Seq(1), Seq(2), Seq(3)))
    assert(spark.sql("SELECT v FROM swts TABLESAMPLE reservoir(2 ROWS)")
      .collect().length == 2)
  }

  test("FROM-first inside subqueries: EXISTS (FROM t WHERE ...)") {
    assert(rows("SELECT * FROM (VALUES (1),(2)) t(a) WHERE EXISTS " +
      "(FROM (VALUES (1)) s(b) WHERE s.b = t.a) ORDER BY a") ==
      Seq(Seq(1)))
    assert(rows("SELECT * FROM (FROM (VALUES (7)) x(v)) ORDER BY v") ==
      Seq(Seq(7)))
  }

  test("UPDATE/DELETE ... RETURNING over temp tables (host-verified)") {
    spark.sql("CREATE OR REPLACE TEMP TABLE swret(a INT, b STRING)")
    spark.sql("INSERT INTO swret VALUES (1,'x'),(2,'y'),(3,'z')")
    // UPDATE returns NEW values of matched rows, exprs over new a
    val u = spark.sql("UPDATE swret SET b = b || '!', a = a + 10 " +
      "WHERE a > 1 RETURNING a, b, a*2 AS twice")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int])
    assert(u.toSeq == Seq(Seq(12, "y!", 24), Seq(13, "z!", 26)))
    val d = spark.sql("DELETE FROM swret WHERE a > 11 RETURNING *")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int])
    assert(d.toSeq == Seq(Seq(12, "y!"), Seq(13, "z!")))
    assert(rows("SELECT * FROM swret") == Seq(Seq(1, "x")))
    // A column assigned twice is an error, as in plain UPDATE and DuckDB.
    val dup = intercept[Exception](
      spark.sql("UPDATE swret SET a = 1, A = 2 RETURNING a").collect())
    assert(dup.getMessage.contains("assigned more than once"), dup.getMessage)
    assert(rows("SELECT * FROM swret") == Seq(Seq(1, "x")))
    val i = spark.sql("INSERT INTO swret VALUES (5,'n') RETURNING b, a")
    assert(i.collect().map(_.toSeq).toSeq == Seq(Seq("n", 5)))
  }

  test("stats/alias/get_current_timestamp/transaction_timestamp/age(x)") {
    assert(one[String]("SELECT stats(5)") ==
      "[Min: 5, Max: 5][Has Null: false, Has No Null: true]" +
        "[Approx Unique: 1]")
    assert(one[String]("SELECT alias(42)") == "42")
    assert(one[String]("SELECT alias(x) FROM (VALUES (1)) t(x)")
      .endsWith("x"))
    assert(rows("SELECT get_current_timestamp() IS NOT NULL a, " +
      "transaction_timestamp() IS NOT NULL b, " +
      "age(TIMESTAMP '2024-03-05') IS NOT NULL c").head ==
      Seq(true, true, true))
    assert(one[String]("SELECT current_setting('TimeZone')") == "UTC")
  }
}
