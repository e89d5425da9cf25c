package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round-20 dialect pack: window FILTER (verdict-19 #2), min/max under
  * EXCLUDE GROUP/TIES (verdict-19 #3, carried two rounds), `//`
  * NULL-on-zero (verdict-19 #5), and the round's ADVICE closures
  * (detach registry, frozen lazy-INSERT literals, divide() result
  * types, md5_number sign). Every pinned value was produced by DuckDB
  * 1.x on the IDENTICAL statement text.
  */
class Round20DialectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)
  private def one[T](sql: String): T =
    spark.sql(sql).collect().head.get(0).asInstanceOf[T]

  // ---------------------------------------------------------------
  // FILTER on window aggregates (verdict-19 #2)
  // ---------------------------------------------------------------

  test("window FILTER rewrites to the CASE form and matches DuckDB") {
    assert(rows("SELECT x, count(*) FILTER (WHERE x > 1) OVER (ORDER BY x " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c, " +
      "sum(x) FILTER (WHERE x % 2 = 0) OVER (ORDER BY x) AS s " +
      "FROM (VALUES (1),(2),(3)) t(x) ORDER BY x") ==
      Seq(Seq(1, 0L, null), Seq(2, 1L, 2L), Seq(3, 2L, 2L)))
    // Shorthand FILTER (no WHERE) + partitioned avg; default frame.
    assert(rows("SELECT x, avg(x) FILTER (x < 3) OVER (PARTITION BY x%2 " +
      "ORDER BY x) a FROM (VALUES (1),(2),(3),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 1.0), Seq(2, 2.0), Seq(3, 1.0), Seq(4, 2.0)))
    // max with a bounded ROWS frame.
    assert(rows("SELECT x, max(x) FILTER (WHERE x % 2 = 1) OVER (ORDER BY " +
      "x ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) m FROM " +
      "(VALUES (1),(2),(3),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 1), Seq(2, 3), Seq(3, 3), Seq(4, 3)))
    // Grouped-aggregate FILTER (no OVER) keeps its native path.
    assert(one[Long]("SELECT count(*) FILTER (WHERE x > 1) FROM " +
      "(VALUES (1),(2),(3)) t(x)") == 2L)
    // DuckDB's count() counts rows.
    assert(rows("SELECT x, count() FILTER (WHERE x > 1) OVER (ORDER BY x) AS c " +
      "FROM (VALUES (1),(2),(3)) t(x) ORDER BY x") ==
      Seq(Seq(1, 0L), Seq(2, 1L), Seq(3, 2L)))
    // A named window, and a fragment parsed by selectExpr.
    assert(rows("SELECT x, sum(x) FILTER (WHERE x > 1) OVER w AS s, " +
      "count(*) FILTER (WHERE x > 1) OVER w AS c FROM (VALUES (1),(2),(3)) " +
      "t(x) WINDOW w AS (ORDER BY x) ORDER BY x") ==
      Seq(Seq(1, null, 0L), Seq(2, 2L, 1L), Seq(3, 5L, 2L)))
    assert(spark.sql("SELECT * FROM (VALUES (1),(2),(3)) t(x)")
      .selectExpr("x", "sum(x) FILTER (WHERE x > 1) OVER (ORDER BY x) AS s")
      .orderBy("x").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1, null), Seq(2, 2L), Seq(3, 5L)))
    // Non-whitelisted window aggregate still declines loudly.
    val e = intercept[Exception](spark.sql("SELECT first_value(x) FILTER " +
      "(WHERE x > 1) OVER (ORDER BY x) FROM (VALUES (1)) t(x)").collect())
    assert(e.getMessage.toLowerCase.contains("not supported") ||
      e.getMessage.toLowerCase.contains("filter"), e.getMessage)
  }

  // ---------------------------------------------------------------
  // min/max under EXCLUDE GROUP / TIES (verdict-19 #3)
  // ---------------------------------------------------------------

  test("EXCLUDE GROUP min/max: order algebra + distinct-key helpers match DuckDB") {
    assert(rows("SELECT x, min(x) OVER (ORDER BY x RANGE BETWEEN 1 " +
      "PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS g, " +
      "max(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE GROUP) AS mg FROM (VALUES (1),(2),(2),(4)) t(x) ORDER BY x")
      == Seq(Seq(1, 2, 2), Seq(2, 1, 1), Seq(2, 1, 1), Seq(4, null, null)))
    // Partitioned, both frame sides populated.
    assert(rows("SELECT x, min(x) OVER (PARTITION BY x%2 ORDER BY x RANGE " +
      "BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) g FROM " +
      "(VALUES (1),(2),(3),(3),(5),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 3), Seq(2, 4), Seq(3, 1), Seq(3, 1), Seq(4, 2), Seq(5, 3)))
    // Prefix frame (no above side) and its max mirror (below side via pk).
    assert(rows("SELECT x, min(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW EXCLUDE GROUP) g, max(x) OVER (ORDER BY x " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) mg, " +
      "max(x) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      "CURRENT ROW EXCLUDE TIES) mt FROM (VALUES (1),(2),(2),(4)) t(x) " +
      "ORDER BY x") ==
      Seq(Seq(1, null, null, 1), Seq(2, 1, 1, 2), Seq(2, 1, 1, 2),
        Seq(4, 1, 2, 4)))
    // Whole-partition ROWS frame; NULL keys form the trailing peer group.
    assert(rows("SELECT x, min(x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) ug, " +
      "max(x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "UNBOUNDED FOLLOWING EXCLUDE GROUP) mg, " +
      "max(x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "UNBOUNDED FOLLOWING EXCLUDE TIES) ut FROM " +
      "(VALUES (1),(2),(2),(4),(NULL)) t(x) ORDER BY x NULLS FIRST") ==
      Seq(Seq(null, 1, 4, 4), Seq(1, 2, 4, 4), Seq(2, 1, 4, 4),
        Seq(2, 1, 4, 4), Seq(4, 1, 2, 4)))
  }

  test("EXCLUDE TIES min/max: single-window identities match DuckDB") {
    assert(rows("SELECT x, min(x) OVER (ORDER BY x RANGE BETWEEN 1 " +
      "PRECEDING AND 1 FOLLOWING EXCLUDE TIES) t, " +
      "max(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE TIES) mt FROM (VALUES (1),(2),(2),(4),(NULL)) t(x) " +
      "ORDER BY x NULLS FIRST") ==
      Seq(Seq(null, null, null), Seq(1, 1, 2), Seq(2, 1, 2), Seq(2, 1, 2),
        Seq(4, 4, 4)))
  }

  test("EXCLUDE GROUP min/max declines loudly off the supported shape") {
    // Aggregate argument differing from the sort key: no exact mapping.
    val e = intercept[Exception](spark.sql("SELECT min(y) OVER (ORDER BY x " +
      "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) FROM " +
      "(VALUES (1, 2)) t(x, y)").collect())
    assert(e.getMessage.contains("EXCLUDE"), e.getMessage)
  }

  test("EXCLUDE GROUP min/max helper windows add no exchange") {
    val df = spark.sql("SELECT x, min(x) OVER (PARTITION BY x%2 ORDER BY x " +
      "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) g FROM " +
      "(VALUES (1),(2),(3)) t(x)")
    val plan = df.queryExecution.executedPlan.toString
    // one exchange to partition by x%2; the helper windows reuse it
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  // ---------------------------------------------------------------
  // `//` NULL-on-zero + divide() result types (verdict-19 #5, ADVICE)
  // ---------------------------------------------------------------

  test("// matches divide(): NULL on zero, trunc on integrals, plain on floats") {
    assert(rows("SELECT 1 // 0 AS a, 7 // 2 AS b, -7 // 2 AS c, " +
      "2 * 3 // 4 AS e") == Seq(Seq(null, 3, -3, 1)))
    assert(one[Double]("SELECT 7.5 // 2") == 3.75)
    assert(one[Any]("SELECT 1.0 // 0.0") == null)
    assert(one[Any]("SELECT divide(7.5, 0.0)") == null)
    // Wider-argument-type result (host: divide(TINYINT,TINYINT)=TINYINT).
    val df = spark.sql("SELECT divide(CAST(7 AS TINYINT), CAST(2 AS " +
      "TINYINT)) a, divide(CAST(7 AS SMALLINT), CAST(2 AS INT)) b")
    assert(df.schema("a").dataType == org.apache.spark.sql.types.ByteType)
    assert(df.schema("b").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.collect().head.toSeq == Seq(7.toByte / 2, 3))
    // DECIMAL operands route through DOUBLE on the host too — probed
    // 2026-08-16: typeof(divide(7.5, 2)) = 'DOUBLE', divide(-7.5, 2) =
    // -3.75 (plain division, NOT floored/truncated), decimal-by-decimal
    // zero divisor → NULL. The ADVICE suggestion of an exact-decimal
    // branch would DIVERGE from the host; the double path is correct.
    val dec = spark.sql("SELECT divide(CAST(7.5 AS DECIMAL(10,2)), 2) a, " +
      "divide(CAST(-7.5 AS DECIMAL(10,2)), 2) b, " +
      "divide(CAST(1 AS DECIMAL(38,10)), CAST(0 AS DECIMAL(38,10))) c")
    assert(dec.schema("a").dataType == org.apache.spark.sql.types.DoubleType)
    assert(dec.collect().head.toSeq == Seq(3.75, -3.75, null))
  }

  // ---------------------------------------------------------------
  // ADVICE closures
  // ---------------------------------------------------------------

  test("DETACH refuses databases that were not ATTACHed (registry)") {
    spark.sql("DROP DATABASE IF EXISTS r20_user_db CASCADE")
    spark.sql("CREATE DATABASE r20_user_db")
    val e = intercept[Exception](spark.sql("DETACH r20_user_db"))
    assert(e.getMessage.contains("database not found"), e.getMessage)
    // IF EXISTS: silent no-op, database untouched either way.
    spark.sql("DETACH IF EXISTS r20_user_db")
    assert(spark.catalog.databaseExists("r20_user_db"))
    spark.sql("DROP DATABASE r20_user_db CASCADE")
    // An actually-attached database still detaches.
    spark.sql("DETACH IF EXISTS r20_att")
    spark.sql("ATTACH '/root/testdata/sf0.001' AS r20_att")
    assert(one[Long]("SELECT count(*) AS n FROM r20_att.region") == 5L)
    spark.sql("DETACH r20_att")
    assert(!spark.catalog.databaseExists("r20_att"))
  }

  test("lazy literal INSERT freezes now()/current_timestamp at insert time") {
    spark.sql("DROP TABLE IF EXISTS r20_now")
    spark.sql("CREATE TEMP TABLE r20_now (id INT, ts TIMESTAMP)")
    spark.sql("INSERT INTO r20_now VALUES (1, now())")
    val first = one[java.sql.Timestamp](
      "SELECT ts FROM r20_now WHERE id = 1")
    Thread.sleep(50)
    val second = one[java.sql.Timestamp](
      "SELECT ts FROM r20_now WHERE id = 1")
    assert(first == second, s"inserted now() drifted: $first vs $second")
    spark.sql("DROP TABLE IF EXISTS r20_now")
  }

  // ---------------------------------------------------------------
  // Twelfth sweep (round-20 differential probe)
  // ---------------------------------------------------------------

  test("parallel unnest() evaluates in lockstep like the host (NULL-padded)") {
    assert(rows("SELECT unnest([1,2,3]) u, unnest(['a','b']) v") ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, null)))
    assert(rows("SELECT unnest([1,2]) u, unnest([10,20]) v, " +
      "unnest([100,200,300]) w") ==
      Seq(Seq(1, 10, 100), Seq(2, 20, 200), Seq(null, null, 300)))
    // A single unnest and constant companions stay untouched.
    assert(rows("SELECT 5 c, unnest([1,2]) u") ==
      Seq(Seq(5, 1), Seq(5, 2)))
  }

  test("any_value honors its in-argument ORDER BY (first NON-NULL)") {
    assert(one[Int]("SELECT any_value(x ORDER BY y) FROM " +
      "(VALUES (NULL, 1),(7, 2),(5, 3)) t(x,y)") == 7)
    assert(one[Int]("SELECT any_value(x ORDER BY y DESC) FROM " +
      "(VALUES (NULL, 9),(7, 2),(5, 3)) t(x,y)") == 5)
    // All-NULL group: NULL, not an out-of-bounds error.
    assert(one[Any]("SELECT any_value(x ORDER BY y) FROM " +
      "(VALUES (CAST(NULL AS INT), 1)) t(x,y)") == null)
  }

  test("PIVOT / UNPIVOT statements accept subquery sources") {
    assert(rows("PIVOT (SELECT x % 2 AS s, CAST(x % 3 AS STRING) AS p " +
      "FROM (VALUES (1),(2),(3),(4),(5),(6)) t(x)) ON p USING count(*) " +
      "GROUP BY s ORDER BY s").length == 2)
    assert(rows("UNPIVOT (SELECT 1 AS a, 2 AS b) ON a, b INTO NAME k " +
      "VALUE v") == Seq(Seq("a", 1), Seq("b", 2)))
  }

  test("md5_number is SIGNED HUGEINT (host re-probe, top-bit digest)") {
    // md5('b') has bit 127 set: the host prints it negative.
    assert(one[String]("SELECT md5_number('b')") ==
      "-149750030552373788046256512903076123758")
    assert(one[String]("SELECT md5_number('')") ==
      "167830467844043968176572005485231480276")
  }
}
