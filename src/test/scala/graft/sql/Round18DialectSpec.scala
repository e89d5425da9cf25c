package graft.sql

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round-18 dialect pack: window-frame EXCLUDE decomposition, the
  * duck-only EXTRACT/date_part fields, the BIT lane, SIMILAR TO
  * constant folding + the ESCAPE parity error, length-less type
  * spellings (::VARCHAR / CAST AS TEXT / BLOB), DISTINCT ON across
  * set-op chains, try_strptime. Every pinned value was produced by
  * DuckDB 1.x on the identical statement (reference host surface).
  */
class Round18DialectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)
  private def one[T](sql: String): T =
    spark.sql(sql).collect().head.get(0).asInstanceOf[T]

  // ---------------------------------------------------------------
  // Window-frame EXCLUDE
  // ---------------------------------------------------------------

  test("EXCLUDE CURRENT ROW: sum/max subtraction and split match DuckDB") {
    assert(rows("SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 2 " +
      "PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM " +
      "(VALUES (1),(2),(3),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 5L), Seq(2, 8L), Seq(3, 7L), Seq(4, 5L)))
    assert(rows("SELECT x, max(x) OVER (ORDER BY x ROWS BETWEEN 2 " +
      "PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM " +
      "(VALUES (1),(2),(3),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 3), Seq(2, 4), Seq(3, 4), Seq(4, 3)))
    // Partitioned min via the frame split (least of the two sides).
    assert(rows("SELECT x, min(x) OVER (PARTITION BY x%2 ORDER BY x " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) " +
      "AS s FROM (VALUES (1),(2),(3),(4),(5)) t(x) ORDER BY x") ==
      Seq(Seq(1, 3), Seq(2, 4), Seq(3, 1), Seq(4, 2), Seq(5, 3)))
    // Frame that never contains the current row: EXCLUDE is a no-op.
    assert(rows("SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 " +
      "FOLLOWING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM " +
      "(VALUES (1),(2),(3)) t(x) ORDER BY x") ==
      Seq(Seq(1, 5L), Seq(2, 3L), Seq(3, null)))
    // Frame exactly the current row: typed NULL (sum and min paths).
    assert(rows("SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN CURRENT " +
      "ROW AND CURRENT ROW EXCLUDE CURRENT ROW) FROM (VALUES (1)) t(x)")
      == Seq(Seq(null)))
    assert(rows("SELECT min(x) OVER (ORDER BY x ROWS BETWEEN CURRENT " +
      "ROW AND CURRENT ROW EXCLUDE CURRENT ROW) FROM (VALUES (1)) t(x)")
      == Seq(Seq(null)))
  }

  test("EXCLUDE CURRENT ROW: NULL-argument rows keep DuckDB's contract") {
    // sum: excluding the only non-NULL row leaves an all-NULL frame.
    assert(rows("SELECT x, sum(v) OVER (ORDER BY x ROWS BETWEEN 1 " +
      "PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM " +
      "(VALUES (1,NULL),(2,10),(3,NULL)) t(x,v) ORDER BY x") ==
      Seq(Seq(1, 10L), Seq(2, null), Seq(3, 10L)))
    assert(rows("SELECT x, count(v) OVER (ORDER BY x ROWS BETWEEN 1 " +
      "PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM " +
      "(VALUES (1,NULL),(2,10),(3,NULL)) t(x,v) ORDER BY x") ==
      Seq(Seq(1, 1L), Seq(2, 0L), Seq(3, 1L)))
  }

  test("EXCLUDE GROUP / TIES: peer subtraction matches DuckDB") {
    assert(rows("SELECT x, sum(x) OVER (ORDER BY x RANGE BETWEEN 2 " +
      "PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) AS s FROM " +
      "(VALUES (1),(2),(2),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 4L), Seq(2, 5L), Seq(2, 5L), Seq(4, 4L)))
    assert(rows("SELECT x, count(x) OVER (ORDER BY x RANGE BETWEEN 1 " +
      "PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS s FROM " +
      "(VALUES (1),(2),(2),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 2L), Seq(2, 1L), Seq(2, 1L), Seq(4, 0L)))
    assert(rows("SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN " +
      "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS s " +
      "FROM (VALUES (1),(2),(2),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 9L), Seq(2, 7L), Seq(2, 7L), Seq(4, 9L)))
    assert(rows("SELECT x, avg(x) OVER (ORDER BY x RANGE BETWEEN 5 " +
      "PRECEDING AND 5 FOLLOWING EXCLUDE TIES) AS s FROM " +
      "(VALUES (1),(2),(2),(4)) t(x) ORDER BY x") ==
      Seq(Seq(1, 2.25), Seq(2, 2.3333333333333335),
        Seq(2, 2.3333333333333335), Seq(4, 2.25)))
  }

  test("EXCLUDE NO OTHERS strips; declining shapes hit the hint") {
    assert(rows("SELECT x, sum(x) OVER (ORDER BY x ROWS 2 PRECEDING " +
      "EXCLUDE NO OTHERS) AS s FROM (VALUES (1),(2),(3)) t(x) ORDER BY x")
      == Seq(Seq(1, 1L), Seq(2, 3L), Seq(3, 6L)))
    def hint(sql: String): Unit = {
      val ex = intercept[Exception](spark.sql(sql))
      assert(ex.getMessage.contains("EXCLUDE"), ex.getMessage)
    }
    // GROUPS frames: Spark has no GROUPS mode at all.
    hint("SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM (VALUES (1)) t(x)")
    // min under GROUP executes since round 20 when the argument IS the
    // sort key (Round20DialectSpec); other arguments still decline.
    assert(rows("SELECT min(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE GROUP) FROM (VALUES (1)) t(x)") ==
      Seq(Seq(null)))
    hint("SELECT min(x + 1) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE GROUP) FROM (VALUES (1)) t(x)")
    // bounded ROWS under TIES: peers may straddle the frame edge.
    hint("SELECT sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE TIES) FROM (VALUES (1)) t(x)")
  }

  test("EXCLUDE decomposition stays in ONE Window node (no extra shuffle)") {
    val df = spark.sql("SELECT x, sum(x) OVER (PARTITION BY x % 2 " +
      "ORDER BY x ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE " +
      "CURRENT ROW) AS s FROM (VALUES (1),(2),(3),(4)) t(x)")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.size == 1, df.queryExecution.optimizedPlan.toString)
  }

  // ---------------------------------------------------------------
  // EXTRACT / date_part fields
  // ---------------------------------------------------------------

  test("duck-only EXTRACT fields match DuckDB (both spellings)") {
    assert(rows("SELECT EXTRACT(era FROM DATE '2024-03-05'), " +
      "EXTRACT(isoyear FROM DATE '2024-12-30'), " +
      "EXTRACT(century FROM DATE '2024-03-05'), " +
      "EXTRACT(decade FROM DATE '2024-03-05'), " +
      "EXTRACT(millennium FROM DATE '2024-03-05'), " +
      "EXTRACT(isodow FROM DATE '2024-03-05'), " +
      "EXTRACT(dayofyear FROM DATE '2024-03-05')") ==
      Seq(Seq(1L, 2025L, 21L, 202L, 3L, 2L, 65L)))
    assert(rows("SELECT EXTRACT(timezone FROM TIMESTAMP '2024-01-01 " +
      "10:00:00'), EXTRACT(timezone_hour FROM TIMESTAMP '2024-01-01 " +
      "10:00:00'), EXTRACT(timezone_minute FROM TIMESTAMP '2024-01-01 " +
      "10:00:00')") == Seq(Seq(0L, 0L, 0L)))
    assert(one[Boolean](
      "SELECT EXTRACT(timezone FROM CAST(NULL AS TIMESTAMP)) IS NULL"))
    // julian: JDN + day fraction (DuckDB's spelling, not astronomical).
    assert(one[Double]("SELECT round(EXTRACT(julian FROM TIMESTAMP " +
      "'2024-03-05 10:45:11.123456'), 5)") == 2460375.44805)
    assert(one[Double](
      "SELECT EXTRACT(julian FROM DATE '2024-03-05')") == 2460375.0)
    // Seconds-inclusive sub-second fields.
    assert(rows("SELECT EXTRACT(microsecond FROM TIMESTAMP '2024-01-01 " +
      "00:00:11.123456'), EXTRACT(millisecond FROM TIMESTAMP " +
      "'2024-01-01 00:00:11.123456')") == Seq(Seq(11123456L, 11123L)))
    // date_part spelling for duck-only fields; native fields untouched.
    assert(rows("SELECT date_part('era', DATE '2024-03-05'), " +
      "datepart('timezone_hour', TIMESTAMP '2024-01-01 00:00:00')") ==
      Seq(Seq(1L, 0L)))
    assert(one[Int]("SELECT CAST(date_part('year', DATE '2024-03-05') " +
      "AS INT)") == 2024)
  }

  test("duck-only EXTRACT fields answer in expression fragments and lambdas") {
    // DuckDB 1.0: extract(isodow FROM DATE '2024-03-03') = 7 (a Sunday),
    // list_transform([DATE '2024-03-03'], x -> date_part('isodow', x)) = [7].
    val df = spark.sql("SELECT DATE '2024-03-03' AS d")
    assert(df.selectExpr("extract(isodow FROM d)").head().getLong(0) == 7L)
    assert(df.selectExpr("transform(array(d), x -> date_part('isodow', x))")
      .head().getSeq[Long](0) == Seq(7L))
  }

  // ---------------------------------------------------------------
  // BIT lane
  // ---------------------------------------------------------------

  test("BIT literals, get_bit/set_bit/bitstring/bit_count match DuckDB") {
    assert(rows("SELECT get_bit(BIT '0110', 0), get_bit(BIT '0110', 1)")
      == Seq(Seq(0, 1)))
    assert(one[String](
      "SELECT CAST(set_bit(BIT '0110', 2, 0) AS VARCHAR)") == "0100")
    assert(one[String](
      "SELECT set_bit(BIT '00000000', 7, 1)::VARCHAR") == "00000001")
    assert(one[String](
      "SELECT CAST(bitstring('0110', 8) AS VARCHAR)") == "00000110")
    assert(rows("SELECT bit_count(BIT '011010'), bit_count(7), " +
      "bit_count(CAST(200 AS BIGINT))") == Seq(Seq(3L, 3L, 3L)))
    // DuckDB errors (not NULLs) out of range — same index wording.
    val ex = intercept[Exception](
      spark.sql("SELECT get_bit(BIT '0110', 9)").collect())
    assert(ex.getMessage.contains("out of valid range"), ex.getMessage)
    val ex2 = intercept[Exception](
      spark.sql("SELECT set_bit(BIT '0110', -1, 1)").collect())
    assert(ex2.getMessage.contains("out of valid range"), ex2.getMessage)
    val ex3 = intercept[Exception](
      spark.sql("SELECT bitstring('0110', 2)").collect())
    assert(ex3.getMessage.contains("smaller"), ex3.getMessage)
  }

  // ---------------------------------------------------------------
  // Type spellings
  // ---------------------------------------------------------------

  test("length-less VARCHAR/TEXT/BLOB spellings execute in cast position") {
    assert(one[String]("SELECT 5::VARCHAR") == "5")
    assert(one[String]("SELECT CAST(5 AS TEXT)") == "5")
    assert(one[String]("SELECT TRY_CAST('abc' AS VARCHAR)") == "abc")
    assert(one[Array[Byte]]("SELECT CAST('ab' AS BLOB)")
      .sameElements("ab".getBytes))
    // An alias merely NAMED text is untouched (parses natively).
    assert(spark.sql("SELECT 1 AS text").columns.toSeq == Seq("text"))
    // Parenthesized VARCHAR(n) passes through untouched (both engines
    // treat the cast as plain VARCHAR — no truncation).
    assert(one[String]("SELECT CAST('abcdef' AS VARCHAR(3))") == "abcdef")
  }

  // ---------------------------------------------------------------
  // SIMILAR TO folding + ESCAPE
  // ---------------------------------------------------------------

  test("SIMILAR TO folds literal concat chains; ESCAPE raises host error") {
    assert(one[Boolean]("SELECT 'abc' SIMILAR TO 'a' || 'b' || 'c'"))
    assert(!one[Boolean]("SELECT 'abd' SIMILAR TO 'a' || 'b' || 'c'"))
    assert(one[Boolean]("SELECT 'abc' NOT SIMILAR TO 'x' || '.*'"))
    // Mixed literal/dynamic chain declines to the hint.
    val exDyn = intercept[Exception](
      spark.sql("SELECT 'abc' SIMILAR TO 'a' || upper('b')"))
    assert(exDyn.getMessage.contains("RLIKE"), exDyn.getMessage)
    // ESCAPE: DuckDB itself rejects it — same loud error here.
    val ex = intercept[Exception](
      spark.sql("SELECT 'a%c' SIMILAR TO 'a\\%c' ESCAPE '\\'"))
    assert(ex.getMessage.contains("Not implemented"), ex.getMessage)
  }

  // ---------------------------------------------------------------
  // DISTINCT ON across set-op chains
  // ---------------------------------------------------------------

  test("DISTINCT ON rewrites every set-op block, trail stays global") {
    assert(rows("SELECT DISTINCT ON (x%2) x FROM (VALUES (1),(2),(3)) " +
      "t(x) UNION ALL SELECT DISTINCT ON (y%3) y FROM " +
      "(VALUES (4),(5),(6)) u(y) ORDER BY 1") ==
      Seq(Seq(1), Seq(2), Seq(4), Seq(5), Seq(6)))
    // Later-block-only shape (head block plain).
    assert(rows("SELECT y FROM (VALUES (0)) z(y) UNION ALL SELECT " +
      "DISTINCT ON (y%3) y FROM (VALUES (4),(5),(6)) u(y) ORDER BY 1")
      == Seq(Seq(0), Seq(4), Seq(5), Seq(6)))
    // INTERSECT: both blocks dedup before the set op.
    assert(rows("SELECT DISTINCT ON (x%2) x FROM (VALUES (1),(2),(3)) " +
      "t(x) INTERSECT SELECT DISTINCT ON (y%3) y FROM " +
      "(VALUES (1),(2),(6)) u(y) ORDER BY 1") == Seq(Seq(1), Seq(2)))
    // Head block alone still honors its ORDER BY tiebreak.
    assert(rows("SELECT DISTINCT ON (x%2) x FROM (VALUES (1),(2),(3)) " +
      "t(x) ORDER BY x DESC") == Seq(Seq(3), Seq(2)))
  }

  // ---------------------------------------------------------------
  // read_json / read_csv columns={...}
  // ---------------------------------------------------------------

  test("reader columns={...}: declared types, projection order, missing-NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r18rj")
    val f = dir.resolve("a.json")
    java.nio.file.Files.write(f,
      "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n".getBytes)
    val got = spark.sql(s"SELECT * FROM read_json('${f}', " +
      "columns={'b': 'VARCHAR', 'a': 'DOUBLE', 'c': 'BIGINT'})")
    assert(got.columns.toSeq == Seq("b", "a", "c"))
    assert(got.collect().map(_.toSeq).toSeq ==
      Seq(Seq("x", 1.0, null), Seq("y", 2.0, null)))
    val csv = dir.resolve("c.csv")
    java.nio.file.Files.write(csv, "1,foo\n2,bar\n".getBytes)
    val gotCsv = spark.sql(s"SELECT * FROM read_csv('${csv}', " +
      "columns={'x': 'BIGINT', 'y': 'VARCHAR'}, header=false)")
    assert(gotCsv.collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "foo"), Seq(2L, "bar")))
    // Unparseable declared schema raises the targeted error.
    val ex = intercept[Exception](spark.sql(
      s"SELECT * FROM read_json('${f}', columns={'a': 'NOT A TYPE'})")
      .collect())
    assert(ex.getMessage.contains("could not parse"), ex.getMessage)
  }

  // ---------------------------------------------------------------
  // Sixth-sweep operators (round 18): ^@, &&, @>, <@, quantified
  // ANY/ALL/SOME, in-parens IGNORE NULLS, LIMIT %, TIME literals.
  // Every pinned value from DuckDB 1.x on the identical statement.
  // ---------------------------------------------------------------

  test("list operators ^@ && @> <@ carry DuckDB's NULL semantics") {
    assert(rows("SELECT 'abc' ^@ 'ab', 'abc' ^@ 'b', '' ^@ '', 'a' ^@ ''")
      == Seq(Seq(true, false, true, true)))
    assert(rows("SELECT NULL ^@ 'a', 'abc' ^@ NULL") == Seq(Seq(null, null)))
    // && is NULL-BLIND on elements, NULL on whole-NULL operands.
    assert(rows("SELECT [1,2] && [2,3], [1] && CAST(array() AS ARRAY<INT>), " +
      "[1,CAST(NULL AS INT)] && [CAST(NULL AS INT)], " +
      "CAST(NULL AS ARRAY<INT>) && [1]") ==
      Seq(Seq(true, false, false, null)))
    // @> ignores contained-side NULL elements; strict FALSE on misses.
    assert(rows("SELECT [1,2] @> [2], [1,2] @> [2,3], " +
      "[1,2] @> CAST(array() AS ARRAY<INT>), [1,2] @> [CAST(NULL AS INT)], " +
      "[1,CAST(NULL AS INT)] @> [2], CAST(NULL AS ARRAY<INT>) @> [1]") ==
      Seq(Seq(true, false, true, true, false, null)))
    assert(rows("SELECT [1,2] <@ [1,2,3], [1,4] <@ [1,2,3]") ==
      Seq(Seq(true, false)))
  }

  test("an operator after a clause keyword reads the group as its operand") {
    // DuckDB 1.0's answers; a clause keyword before a paren group is no
    // function name, whichever operator reads the group.
    Seq(
      "SELECT DISTINCT ([1, 2]) && ([2, 3])" -> "true",
      "SELECT DISTINCT (3)!" -> "6",
      "SELECT DISTINCT ('{\"a\":1}') ->> 'a'" -> "1",
      "SELECT DISTINCT ('a.txt') GLOB '*.txt'" -> "true",
      "SELECT DISTINCT ('abc') ^@ 'a'" -> "true",
      "SELECT DISTINCT ([1, 2]) @> ([2])" -> "true",
      "SELECT DISTINCT ('{\"a\":1}')::JSON" -> "{\"a\":1}",
      "SELECT 6 BETWEEN (3)! AND 7" -> "true",
      "SELECT x FROM (SELECT 2 AS x) QUALIFY (count(*) OVER ()) ** 2 > 0" -> "2"
    ).foreach { case (sql, want) =>
      assert(rows(sql).map(_.map(String.valueOf)) == Seq(Seq(want)), sql)
    }
  }

  test("quantified comparisons over lists match DuckDB's 3VL") {
    assert(rows("SELECT 2 = any([1, CAST(NULL AS INT)]), " +
      "2 = any([2, CAST(NULL AS INT)]), 2 = any(CAST(array() AS ARRAY<INT>)), " +
      "5 > all([1, CAST(NULL AS INT)]), 5 > all([10, CAST(NULL AS INT)]), " +
      "2 = all(CAST(array() AS ARRAY<INT>)), 1 = some([1,2])") ==
      Seq(Seq(null, true, false, null, false, true, true)))
    // WHERE-position use (the paste idiom) and arithmetic-left decline.
    assert(rows("SELECT x FROM (VALUES (1),(2)) t(x) WHERE x = any([1, 3])")
      == Seq(Seq(1)))
    // subquery operand: the host itself demands IN — stays an error.
    intercept[Exception](spark.sql(
      "SELECT 2 = any((SELECT 1))").collect())
  }

  test("in-parens IGNORE NULLS and LIMIT percent execute") {
    assert(rows("SELECT last(x IGNORE NULLS) OVER (ORDER BY y) FROM " +
      "(VALUES (1, 1),(CAST(NULL AS INT), 2)) t(x, y)") ==
      Seq(Seq(1), Seq(1)))
    // LIMIT p% keeps floor(n·p/100) of the sorted rows (DuckDB pins:
    // 10% of 3 = 0, 67% = 2).
    assert(rows("SELECT x FROM (VALUES (1),(2),(3)) t(x) ORDER BY x DESC " +
      "LIMIT 67%") == Seq(Seq(3), Seq(2)))
    assert(rows("SELECT x FROM (VALUES (1),(2),(3)) t(x) ORDER BY x " +
      "LIMIT 10%").isEmpty)
  }

  test("GROUPS frame mode lands on the parity hint (host rejects it too)") {
    val ex = intercept[Exception](spark.sql(
      "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND " +
        "CURRENT ROW) FROM (VALUES (1)) t(x)"))
    assert(ex.getMessage.contains("GROUPS mode"), ex.getMessage)
    assert(ex.getMessage.contains("dense_rank"), ex.getMessage)
  }

  test("TIME literals and accessors work under the round-18 type flag") {
    assert(one[String]("SELECT CAST(TIME '12:30:05' AS STRING)")
      == "12:30:05")
    assert(rows("SELECT hour(TIME '12:30:05'), minute(TIME '12:30:05')")
      == Seq(Seq(12, 30)))
  }

  // ---------------------------------------------------------------
  // Seventh sweep: JSON arrows/merge-patch/keys/group aggs, path
  // parsing, slices over strings, order-insensitive in-arg ORDER BY,
  // FILTER shorthand. DuckDB 1.x pins throughout.
  // ---------------------------------------------------------------

  test("JSON arrows, merge_patch, keys, group aggregates match DuckDB") {
    assert(rows("SELECT '{\"a\": {\"b\": 7}}'->'a'->>'b', " +
      "'[5,6]' -> 0, '[5,6]' ->> 1") == Seq(Seq("7", "5", "6")))
    assert(one[String]("SELECT json_merge_patch('{\"a\":{\"x\":1}}', " +
      "'{\"a\":{\"y\":2},\"b\":null}')") == "{\"a\":{\"x\":1,\"y\":2}}")
    assert(one[String](
      "SELECT json_merge_patch('{\"a\":1}', '3')") == "3")
    assert(rows("SELECT json_keys('{\"a\":1,\"b\":2}')")
      .head.head.asInstanceOf[scala.collection.Seq[_]].toSeq == Seq("a", "b"))
    // Group aggregates (single partition → arrival order, as DuckDB).
    assert(rows("SELECT json_group_array(x), json_group_object(x, x*2) " +
      "FROM (VALUES (1),(2)) t(x)") ==
      Seq(Seq("[1,2]", "{\"1\":2,\"2\":4}")))
  }

  test("JSON arrows never touch lambda arrows (HOF-call guard)") {
    // A statement in the failure chain (brackets) with lambdas whose
    // bodies are literal ints/strings — the corruption shape the
    // enclosing-call guard exists for.
    val lam = rows("SELECT transform([1,2], x -> 1), " +
      "filter([1,2], x -> x > 1), '[5,6]' -> 0").head
    assert(lam(0).asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(1, 1))
    assert(lam(1).asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(2))
    assert(lam(2) == "5")
  }

  test("array_slice over strings and negative bounds (DuckSlice route)") {
    assert(one[String]("SELECT array_slice('abcde', 2, 3)") == "bc")
    assert(rows("SELECT array_slice([10,20,30,40], -3, -2)")
      .head.head.asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(20, 30))
  }

  test("parse_path family, base64 round-trip, nextafter") {
    assert(rows("SELECT parse_path('/a/b/c.txt')")
      .head.head.asInstanceOf[scala.collection.Seq[_]].toSeq == Seq("/", "a", "b", "c.txt"))
    assert(rows("SELECT parse_filename('/a/b/c.txt'), " +
      "parse_filename('/a/b/c.txt', true), parse_dirname('/a/b/c.txt'), " +
      "parse_dirname('a/b')") == Seq(Seq("c.txt", "c", "/", "a")))
    assert(one[String]("SELECT CAST(from_base64(to_base64(" +
      "CAST('hi' AS BLOB))) AS STRING)") == "hi")
    assert(one[Double]("SELECT nextafter(CAST(1.0 AS DOUBLE), " +
      "CAST(2.0 AS DOUBLE))") == 1.0000000000000002)
  }

  test("order-insensitive aggs strip in-arg ORDER BY; FILTER shorthand") {
    assert(rows("SELECT count(DISTINCT x ORDER BY x), sum(x ORDER BY x) " +
      "FROM (VALUES (1),(2)) t(x)") == Seq(Seq(2L, 3L)))
    assert(rows("SELECT list(x) FILTER (x > 1) FROM " +
      "(VALUES (1),(2),(3)) t(x)").head.head.asInstanceOf[scala.collection.Seq[_]].toSeq ==
      Seq(2, 3))
  }

  // ---------------------------------------------------------------
  // try_strptime
  // ---------------------------------------------------------------

  test("try_strptime parses like strptime, NULL on failure") {
    assert(one[java.sql.Timestamp](
      "SELECT try_strptime('2024-01-02', '%Y-%m-%d')").toString
      .startsWith("2024-01-02"))
    assert(one[Boolean]("SELECT try_strptime('nope', '%Y') IS NULL"))
  }

  // ---------------------------------------------------------------
  // Eighth sweep: postfix !, prefix @, INTERVAL (expr) UNIT,
  // unnest(struct literal), map_extract, bitstring_agg, kurtosis_pop,
  // epoch_ns, gen_random_uuid, long to_* constructors.
  // All pinned values from DuckDB 1.0 on the identical statement.
  // ---------------------------------------------------------------

  test("postfix factorial: DuckDB's exact-integer semantics") {
    assert(rows("SELECT CAST(5! AS BIGINT), CAST(0! AS BIGINT), " +
      "CAST((-3)! AS BIGINT)") == Seq(Seq(120L, 1L, 1L)))
    // 33! is the shared exact ceiling (DECIMAL(38,0) here, HUGEINT
    // there — both overflow at 34!).
    assert(one[String]("SELECT CAST(33! AS STRING)") ==
      "8683317618811886495518194401280000000")
    intercept[Exception] { rows("SELECT 34!") }
    // DuckDB's own precedence traps decline rather than misgroup:
    // `2 + 3!` is (2+3)! there (the postfix binds LOOSER than +), and
    // `5! * 2` is a parse error on BOTH engines.
    intercept[Exception] { rows("SELECT 2 + 3!") }
    intercept[Exception] { rows("SELECT 5! * 2") }
  }

  test("prefix @ absolute value") {
    assert(rows("SELECT @(-7), @(3.5)") ==
      Seq(Seq(7, new java.math.BigDecimal("3.5"))))
    // `@2 - 3` is @(2-3)=1 in DuckDB (looser than binary minus) —
    // declined here rather than computed as abs(2)-3 = -1.
    intercept[Exception] { rows("SELECT @2 - 3") }
  }

  test("INTERVAL (expr) UNIT: non-literal interval constructor") {
    assert(one[java.sql.Date](
      "SELECT (DATE '2024-01-31' + INTERVAL (1) MONTH)::DATE")
      .toString == "2024-02-29")
    // The `::` spelling fails Spark's parse, so the chain claims it;
    // a bare `a + INTERVAL (x) DAY` can PARSE natively (INTERVAL(x) as
    // a call + DAY as alias) and keeps the native unresolved-routine
    // error — the parse-failure-only contract's documented edge.
    assert(rows("SELECT ('2024-01-01'::DATE + INTERVAL (x) DAY)::DATE " +
      "AS d FROM (VALUES (0),(1),(2)) t(x) ORDER BY 1")
      .map(_.head.toString) ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    // Parenthesized: a bare top-level `expr + INTERVAL (n) MINUTE`
    // parses natively (MINUTE becomes the select-item alias) and keeps
    // Spark's unresolved-routine error — same edge as above.
    assert(one[java.sql.Timestamp](
      "SELECT (TIMESTAMP '2024-01-01 10:00:00' + INTERVAL (90) MINUTE)")
      .toString.startsWith("2024-01-01 11:30:00"))
  }

  test("unnest(struct literal) expands to per-field columns") {
    val df = spark.sql("SELECT unnest({'a': 1, 'b': 'x'})")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.collect().head.toSeq == Seq(1, "x"))
  }

  test("map_extract / map[key]: LIST result, [] for NULL map AND key") {
    def lst(sql: String): Seq[Any] =
      rows(sql).head.head.asInstanceOf[scala.collection.Seq[Any]].toSeq
    assert(lst("SELECT map_extract(map('a', 1), 'a')") == Seq(1))
    assert(lst("SELECT map_extract(map('a', 1), 'zz')") == Seq())
    assert(lst("SELECT map_extract(CAST(NULL AS MAP<STRING,INT>), 'a')") == Seq())
    assert(lst("SELECT map_extract(map('a', 1), CAST(NULL AS STRING))") == Seq())
    // value genuinely NULL: [NULL], distinguishable from absent [].
    assert(lst("SELECT map_extract(map('a', CAST(NULL AS INT)), 'a')") ==
      Seq(null))
  }

  test("bitstring_agg: 1-arg observed range, 3-arg bounds + range error") {
    assert(one[String]("SELECT bitstring_agg(x) FROM " +
      "(VALUES (2),(5),(9)) t(x)") == "10010001")
    assert(one[String]("SELECT bitstring_agg(x, 0, 10) FROM " +
      "(VALUES (2),(5)) t(x)") == "00100100000")
    val e = intercept[Exception] {
      rows("SELECT bitstring_agg(x, 0, 4) FROM (VALUES (5)) t(x)") }
    assert(e.getMessage.contains("outside of provided min and max range") ||
      Option(e.getCause).exists(
        _.getMessage.contains("outside of provided min and max range")))
    assert(rows("SELECT bitstring_agg(x) FROM (VALUES (CAST(NULL AS INT))) t(x)")
      == Seq(Seq(null)))
  }

  test("bitstring_agg: grouped 1-arg uses the COLUMN-WIDE range (r19)") {
    // DuckDB derives the 1-arg range from column statistics, so every
    // group shares [min(x), max(x)] of the WHOLE column — groups that
    // lack the global extremes still get full-length strings.
    assert(rows("SELECT g, bitstring_agg(x) AS b FROM (VALUES (1, 2), " +
      "(1, 5), (2, 9), (2, 3)) t(g, x) GROUP BY g ORDER BY g") ==
      Seq(Seq(1, "10010000"), Seq(2, "01000001")))
    // Alongside other aggregates + an all-NULL group → NULL string.
    assert(rows("SELECT g, count(x) AS c, bitstring_agg(x) AS b FROM " +
      "(VALUES (1, 4), (1, 6), (2, CAST(NULL AS INT))) t(g, x) " +
      "GROUP BY g ORDER BY g") ==
      Seq(Seq(1, 2L, "101"), Seq(2, 0L, null)))
    // DuckDB has no 2-arg form: binder error, not a silent range drop.
    val e = intercept[Exception] {
      rows("SELECT bitstring_agg(x, 0) FROM (VALUES (1)) t(x)") }
    assert(e.getMessage.contains("1 or 3 arguments"))
  }

  test("kurtosis_pop is the population excess kurtosis, NULL on zero variance") {
    val k = one[Double]("SELECT kurtosis_pop(x) FROM " +
      "(VALUES (1.0),(2.0),(4.0),(8.0)) t(x)")
    assert(math.abs(k - -1.0989792060491494) < 1e-12) // DuckDB 1.0
    assert(one[Double]("SELECT kurtosis_pop(x) FROM (VALUES (1.0),(2.0)) t(x)")
      == -2.0)
    assert(rows("SELECT kurtosis_pop(x) FROM (VALUES (1.0)) t(x)") ==
      Seq(Seq(null)))
  }

  test("epoch_ns / gen_random_uuid / long to_* constructors") {
    assert(one[Long]("SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:00.123456')")
      == 1704067200123456000L)
    val us = rows("SELECT gen_random_uuid(), gen_random_uuid()").head
    assert(us(0) != null && us(1) != null && us(0) != us(1))
    assert(one[String]("SELECT CAST(to_weeks(2) AS STRING)").contains("14 00"))
    assert(one[String]("SELECT CAST(to_milliseconds(1500) AS STRING)")
      .contains("00:00:01.5"))
    assert(one[String]("SELECT CAST(to_decades(1) AS STRING)").contains("10-0"))
  }

  // ---------------------------------------------------------------
  // DEFAULT column values (temp tables) + joined UPDATE/DELETE
  // ---------------------------------------------------------------

  test("log() is DuckDB's base-10; 2-arg base form unchanged") {
    assert(one[Double]("SELECT log(100)") == 2.0)
    assert(one[Double]("SELECT log(2, 32)") == 5.0)
    assert(one[Double]("SELECT ln(100)") == math.log(100))
  }

  test("batch-2 sweep scalars match DuckDB") {
    // arbitrary: first-seen INCLUDING NULL.
    assert(rows("SELECT arbitrary(x) FROM (SELECT x FROM " +
      "(VALUES (CAST(NULL AS INT)),(2)) t(x) ORDER BY x NULLS FIRST) s")
      == Seq(Seq(null)))
    // list_concat NULL pass-through vs all-NULL NULL.
    def lst(sql: String): Any = rows(sql).head.head
    assert(lst("SELECT list_concat([1], NULL)")
      .asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(1))
    assert(lst("SELECT list_concat(CAST(NULL AS ARRAY<INT>), " +
      "CAST(NULL AS ARRAY<INT>))") == null)
    assert(lst("SELECT array_concat([1], [NULL])")
      .asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(1, null))
    // array_unique: distinct non-NULL COUNT.
    assert(rows("SELECT array_unique([1,1,2,NULL]), array_unique([]), " +
      "array_unique(CAST(NULL AS ARRAY<INT>))") == Seq(Seq(2, 0, null)))
    // substring_grapheme over a multi-codepoint cluster.
    assert(one[String](
      "SELECT substring_grapheme('ábc', 1, 2)") == "áb")
    assert(one[String]("SELECT substring_grapheme('abcdef', -2, 2)") == "ef")
    assert(one[String]("SELECT substring_grapheme('abcdef', 2)") == "bcdef")
  }

  // ---------------------------------------------------------------
  // JSON utilities + named-group regexp + unsigned spellings
  // ---------------------------------------------------------------

  test("json utility family matches DuckDB") {
    assert(rows("SELECT json_type('1'), json_type('-2'), json_type('1.5'), " +
      "json_type('\"x\"'), json_type('true'), json_type('null'), " +
      "json_type('[1]'), json_type('{}')") ==
      Seq(Seq("UBIGINT", "BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN",
        "NULL", "ARRAY", "OBJECT")))
    assert(rows("SELECT json_type('{\"a\":[1]}', '$.a'), " +
      "json_type('{\"a\":1}', '$.b')") == Seq(Seq("ARRAY", null)))
    assert(rows("SELECT json_valid('{\"a\":1}'), json_valid('[1,'), " +
      "json_valid('1'), json_valid('abc')") ==
      Seq(Seq(true, false, true, false)))
    assert(one[String]("SELECT json(' [ 1 , 2 ] ')") == "[1,2]")
    intercept[Exception] { rows("SELECT json('bad')") }
    assert(rows("SELECT json_quote(1), json_quote('s'), " +
      "json_quote(CAST(NULL AS INT))") == Seq(Seq("1", "\"s\"", null)))
    // UBIGINT-range integers: asLong would wrap negative (r19 fix).
    assert(one[String]("SELECT json_type('18446744073709551615')")
      == "UBIGINT")
    // Whole-minute timestamps keep the seconds field; fractional
    // micros trim trailing zeros — DuckDB's timestamp text (r19 fix).
    assert(rows("SELECT json_quote(TIMESTAMP '2024-01-01 00:00:00'), " +
      "json_quote(TIMESTAMP '2024-03-05 01:02:03.5'), " +
      "json_quote(TIMESTAMP '2024-03-05 01:02:03.000123')") ==
      Seq(Seq("\"2024-01-01 00:00:00\"", "\"2024-03-05 01:02:03.5\"",
        "\"2024-03-05 01:02:03.000123\"")))
    assert(rows("SELECT json_array('a', 1, NULL), json_array(), " +
      "json_object('k', 1), json_object()") ==
      Seq(Seq("[\"a\",1,null]", "[]", "{\"k\":1}", "{}")))
    intercept[Exception] { rows("SELECT json_object('k')") }
    assert(rows("SELECT json_contains('[1,2,3]', '[1,3]'), " +
      "json_contains('[[1],2]', '[1]'), " +
      "json_contains('{\"a\":1,\"b\":2}', '{\"a\":1}'), " +
      "json_contains('{\"a\":1}', '2')") ==
      Seq(Seq(true, true, true, false)))
    assert(one[Long](
      "SELECT CAST(json_array_length('{\"a\":[1,2]}', '$.a') AS BIGINT)") == 2L)
  }

  test("regexp_extract name list returns a struct of capture groups") {
    val df = spark.sql("SELECT regexp_extract('2024-01-15', " +
      "'([0-9]+)-([0-9]+)', ['y', 'm']) AS s")
    val row = df.collect().head.getStruct(0)
    assert(row.getString(0) == "2024" && row.getString(1) == "01")
    assert(df.schema.fields.head.dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq == Seq("y", "m"))
  }

  test("unsigned and HUGEINT type spellings widen losslessly") {
    // Range is NOT enforced (the widened signed type accepts what the
    // unsigned width would reject in DuckDB) — documented divergence.
    assert(rows("SELECT CAST(255::UTINYINT AS BIGINT), " +
      "CAST(65535::USMALLINT AS BIGINT), " +
      "CAST(5000000000::UBIGINT AS VARCHAR)") ==
      Seq(Seq(255L, 65535L, "5000000000")))
    assert(one[String]("SELECT CAST(" +
      "'99999999999999999999999999999999999999'::HUGEINT AS VARCHAR)") ==
      "99999999999999999999999999999999999999")
  }

  // ---------------------------------------------------------------
  // ENUM types + utility statements
  // ---------------------------------------------------------------

  test("CREATE TYPE AS ENUM: validated casts, enum_range, DROP TYPE") {
    spark.sql("CREATE TYPE t18mood AS ENUM ('sad', 'ok', 'happy')").collect()
    assert(rows("SELECT 'happy'::t18mood, CAST('ok' AS t18mood), " +
      "TRY_CAST('nope' AS t18mood)") == Seq(Seq("happy", "ok", null)))
    // NULL passes through; out-of-range raises the host's conversion
    // error shape.
    assert(rows("SELECT CAST(NULL AS t18mood)") == Seq(Seq(null)))
    val e = intercept[Exception] { rows("SELECT 'nope'::t18mood") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Could not convert string 'nope'")))
    assert(rows("SELECT array_to_string(enum_range(NULL::t18mood), ',')")
      == Seq(Seq("sad,ok,happy")))
    spark.sql("DROP TYPE t18mood").collect()
    intercept[Exception] { rows("SELECT 'happy'::t18mood") }
    // DROP TYPE on a missing name errors; IF EXISTS is silent.
    intercept[Exception] { spark.sql("DROP TYPE t18mood").collect() }
    spark.sql("DROP TYPE IF EXISTS t18mood").collect()
  }

  test("enum members keep their backslashes as written") {
    // DuckDB 1.0: CREATE TYPE bs AS ENUM ('a\b', 'c'); CAST('a\b' AS bs) → a\b
    spark.sql("CREATE TYPE t18bs AS ENUM ('a\\b', 'c')").collect()
    assert(rows("SELECT CAST('a\\b' AS t18bs)") == Seq(Seq("a\\b")))
    assert(rows("SELECT array_to_string(enum_range(NULL::t18bs), ',')") == Seq(Seq("a\\b,c")))
    spark.sql("DROP TYPE t18bs").collect()
  }

  test("registered enum as a temp-table column type maps to its VARCHAR model") {
    spark.sql("CREATE TYPE t18col AS ENUM ('a', 'b')").collect()
    spark.sql("DROP TABLE IF EXISTS t18et")
    spark.sql("CREATE TEMP TABLE t18et (id INT, m t18col)").collect()
    spark.sql("INSERT INTO t18et VALUES (1, 'a'::t18col)").collect()
    assert(rows("SELECT id, m FROM t18et") == Seq(Seq(1, "a")))
    spark.sql("DROP TABLE t18et")
    spark.sql("DROP TYPE t18col").collect()
  }

  test("::JSON casts: strings validate-and-preserve, other types convert; row()") {
    assert(one[String]("SELECT ' { \"a\" : 1 } '::JSON") == " { \"a\" : 1 } ")
    assert(one[String]("SELECT ({'x': 1}::JSON)::VARCHAR") == "{\"x\":1}")
    assert(one[String]("SELECT CAST(1.5 AS JSON)") == "1.5")
    assert(rows("SELECT TRY_CAST('bad' AS JSON)") == Seq(Seq(null)))
    intercept[Exception] { rows("SELECT 'bad'::JSON") }
    assert(rows("SELECT CAST(NULL AS JSON)") == Seq(Seq(null)))
    assert(rows("SELECT row(1, 'x') = row(1, 'x')") == Seq(Seq(true)))
  }

  test("DuckDB collation names map to Spark collations; TIMESTAMPTZ lands on LTZ") {
    assert(rows("SELECT 'ABC' COLLATE NOCASE = 'abc', " +
      "'café' COLLATE NOACCENT = 'cafe', " +
      "'Straße' COLLATE NOACCENT = 'Strasse', " + // ß ≠ ss on BOTH engines
      "'CAFÉ' COLLATE NOCASE.NOACCENT = 'cafe'") ==
      Seq(Seq(true, true, false, true)))
    assert(rows("SELECT name FROM (VALUES ('b'),('A'),('c')) t(name) " +
      "ORDER BY name COLLATE NOCASE").map(_.head) == Seq("A", "b", "c"))
    assert(one[Long]("SELECT epoch_us(TIMESTAMPTZ '2024-01-01 10:00:00+02')")
      == 1704096000000000L)
    assert(one[Long](
      "SELECT epoch_us('2024-01-01 10:00:00+02'::TIMESTAMPTZ)")
      == 1704096000000000L)
  }

  test("SET k TO v, EXPLAIN ANALYZE, bare SHOW <table> execute") {
    assert(rows("SET t18key TO 42") == Seq(Seq("t18key", "42")))
    assert(one[String]("EXPLAIN ANALYZE SELECT 1").contains("Physical Plan"))
    spark.sql("SELECT 1 AS a, 'x' AS b").createOrReplaceTempView("t18show")
    val d = spark.sql("SHOW t18show")
    assert(d.collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  // ---------------------------------------------------------------
  // Default null ordering (DuckSqlParser)
  // ---------------------------------------------------------------

  test("bare ORDER BY sorts NULLs LAST like the host; explicit spellings win") {
    def xs(sql: String): Seq[Any] = rows(sql).map(_.head)
    assert(xs("SELECT x FROM (VALUES (NULL),(1),(2)) t(x) ORDER BY x") ==
      Seq(1, 2, null))
    assert(xs("SELECT x FROM (VALUES (NULL),(1),(2)) t(x) ORDER BY x DESC") ==
      Seq(2, 1, null))
    assert(xs("SELECT x FROM (VALUES (NULL),(1),(2)) t(x) " +
      "ORDER BY x NULLS FIRST") == Seq(null, 1, 2))
    // LIMIT sees the host's rows (a NULL no longer displaces a value).
    assert(xs("SELECT x FROM (VALUES (NULL),(1),(2)) t(x) ORDER BY x LIMIT 2")
      == Seq(1, 2))
    // Window ORDER BY carries the same default.
    assert(rows("SELECT x, row_number() OVER (ORDER BY x) AS rn FROM " +
      "(VALUES (NULL),(1)) t(x) ORDER BY rn") ==
      Seq(Seq(1, 1L), Seq(null, 2L)))
    // ORDER BY ALL gives every column its one key's null order.
    assert(xs("SELECT x FROM (VALUES (NULL),(1)) t(x) ORDER BY ALL") ==
      Seq(1, null))
    // A key holding a clause word (FROM) still leaves the next key
    // NULLS LAST.
    assert(xs("SELECT z FROM (VALUES (1,1,NULL),(1,1,2)) t(x,y,z) " +
      "ORDER BY x IS DISTINCT FROM y, z") == Seq(2, null))
    // Multi-key with mixed explicitness: only the bare key transforms.
    assert(rows("SELECT g, x FROM (VALUES (1, NULL),(1, 2),(2, NULL)) " +
      "t(g, x) ORDER BY g DESC, x") ==
      Seq(Seq(2, null), Seq(1, 2), Seq(1, null)))
  }

  test("bare ORDER BY key ENDING in a string literal still gets NULLS LAST (r19)") {
    def xs(sql: String): Seq[Any] = rows(sql).map(_.head)
    // A key ending in a string literal.
    assert(xs("SELECT x FROM (VALUES (NULL),('b'),('a')) t(x) " +
      "ORDER BY x || 'suffix'") == Seq("a", "b", null))
    // Both keys in a multi-key list keep working.
    assert(rows("SELECT g, x FROM (VALUES (1, NULL),(1, 'a'),(2, NULL)) " +
      "t(g, x) ORDER BY g || '', x") ==
      Seq(Seq(1, "a"), Seq(1, null), Seq(2, null)))
    // A trailing comment after the key.
    assert(xs("SELECT x FROM (VALUES (NULL),(1)) t(x) ORDER BY x -- c\n")
      == Seq(1, null))
  }

  test("expression fragments get DuckDB's null order and collation names") {
    import org.apache.spark.sql.functions.expr
    val df = spark.sql("SELECT * FROM (VALUES (NULL),(1)) t(x)")
    assert(df.selectExpr("x", "row_number() OVER (ORDER BY x) AS rn")
      .orderBy("rn").collect().map(r => (r.get(0), r.getInt(1))).toSeq ==
      Seq((1, 1), (null, 2)))
    assert(spark.sql("SELECT 'ABC' AS s").select(expr("s COLLATE NOCASE = 'abc'"))
      .head().getBoolean(0))
  }

  test("CREATE TEMP TABLE DEFAULTs fill omitted columns and the DEFAULT keyword") {
    spark.sql("DROP TABLE IF EXISTS t18_def")
    spark.sql("CREATE TEMP TABLE t18_def (a INT DEFAULT 7, " +
      "b VARCHAR DEFAULT upper('x'), c INT)")
    spark.sql("INSERT INTO t18_def (c) VALUES (1)")
    spark.sql("INSERT INTO t18_def VALUES (DEFAULT, DEFAULT, 2)")
    spark.sql("INSERT INTO t18_def (b, c) VALUES (DEFAULT, 3)")
    spark.sql("INSERT INTO t18_def VALUES (5, 'q', 4)")
    assert(rows("SELECT * FROM t18_def ORDER BY c") == Seq(
      Seq(7, "X", 1), Seq(7, "X", 2), Seq(7, "X", 3), Seq(5, "q", 4)))
    spark.sql("DROP TABLE t18_def")
  }

  test("UPDATE ... FROM / DELETE ... USING: DuckDB's joined DML") {
    spark.sql("DROP TABLE IF EXISTS t18_dml")
    spark.sql("CREATE TEMP TABLE t18_dml (k INT, v INT)")
    spark.sql("INSERT INTO t18_dml VALUES (1, 10), (2, 20), (3, 30)")
    assert(rows("UPDATE t18_dml SET v = s.nv FROM " +
      "(VALUES (1, 100), (3, 300)) s(k, nv) WHERE t18_dml.k = s.k") ==
      Seq(Seq(2L)))
    assert(rows("SELECT * FROM t18_dml ORDER BY k") ==
      Seq(Seq(1, 100), Seq(2, 20), Seq(3, 300)))
    // Multi-match updates ONCE (arbitrary source row — both values
    // legal; DuckDB picks scan order).
    assert(rows("UPDATE t18_dml SET v = s.nv FROM " +
      "(VALUES (2, 7), (2, 7)) s(k, nv) WHERE t18_dml.k = s.k") ==
      Seq(Seq(1L)))
    assert(rows("SELECT v FROM t18_dml WHERE k = 2") == Seq(Seq(7)))
    assert(rows("DELETE FROM t18_dml USING (VALUES (2)) s(k) " +
      "WHERE t18_dml.k = s.k") == Seq(Seq(1L)))
    assert(rows("SELECT k FROM t18_dml ORDER BY k") ==
      Seq(Seq(1), Seq(3)))
    // No-match UPDATE: Count 0, rows untouched.
    assert(rows("UPDATE t18_dml SET v = 0 FROM (SELECT 99 AS k) s " +
      "WHERE t18_dml.k = s.k") == Seq(Seq(0L)))
    spark.sql("DROP TABLE t18_dml")
  }
}
