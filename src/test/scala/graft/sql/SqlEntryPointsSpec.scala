package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** SQL entry points for the two operators DuckDB exposes as syntax Spark's
  * parser cannot host (`ASOF JOIN`, `WITH RECURSIVE`): the injected
  * `asof_join` / `fixpoint` table functions must carry exactly the Scala
  * operators' semantics when driven entirely through `spark.sql`.
  */
class SqlEntryPointsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def registerMarket(): Unit = {
    import spark.implicits._
    Seq(
      (1L, 10L, 100.0, "a"),
      (1L, 20L, 110.0, "b"),
      (1L, 30L, 120.0, "c"),
      (2L, 15L, 50.0, "d"))
      .toDF("sym", "qt", "px", "tag")
      .createOrReplaceTempView("sq_quotes")
    Seq((1L, 5L), (1L, 20L), (1L, 25L), (2L, 99L), (3L, 10L))
      .toDF("sym", "tt")
      .createOrReplaceTempView("sq_trades")
  }

  test("asof_join TVF: inclusive inner via pure SQL") {
    registerMarket()
    val rows = spark.sql(
      """SELECT sym, tt, px, tag
         FROM asof_join('sq_trades', 'sq_quotes', 'sym', 'tt', 'qt', 'px,tag')
         ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (1L, 20L, 110.0, "b"),   // exactly-at matches under inclusive
      (1L, 25L, 110.0, "b"),
      (2L, 99L, 50.0, "d")))
  }

  test("asof_join TVF: strict + left via the optional arguments") {
    registerMarket()
    val rows = spark.sql(
      """SELECT sym, tt, tag
         FROM asof_join('sq_trades', 'sq_quotes', 'sym', 'tt', 'qt', 'px,tag',
                        true, false)
         ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq(
      (1L, 5L, null),          // before any quote — kept, null payload
      (1L, 20L, "a"),          // strict: the exactly-at quote b is invisible
      (1L, 25L, "b"),
      (2L, 99L, "d"),
      (3L, 10L, null)))        // key with no quotes — kept
  }

  test("asof_join TVF composes downstream (aggregation over the splice)") {
    registerMarket()
    val n = spark.sql(
      """SELECT sym, COUNT(*) AS n
         FROM asof_join('sq_trades', 'sq_quotes', 'sym', 'tt', 'qt', 'px')
         GROUP BY sym ORDER BY sym""")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(n.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("asof_join TVF rejects a wrong argument count") {
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM asof_join('sq_trades', 'sq_quotes', 'sym')"))
    assert(ex.getMessage.contains("asof_join"))
  }

  test("fixpoint TVF: transitive closure via pure SQL matches the Scala API") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L))
      .toDF("u", "v").createOrReplaceTempView("sq_edges")
    Seq(1L, 10L).toDF("x").createOrReplaceTempView("sq_seed")
    val reached = spark.sql(
      """SELECT x FROM fixpoint('sq_seed',
           'SELECT e.v AS x FROM __frontier f JOIN sq_edges e ON e.u = f.x')
         ORDER BY x""")
      .collect().map(_.getLong(0)).toSeq
    assert(reached == Seq(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("fixpoint TVF: cycles terminate under UNION-distinct semantics") {
    import spark.implicits._
    Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("u", "v")
      .createOrReplaceTempView("sq_cyc_edges")
    Seq(0L).toDF("x").createOrReplaceTempView("sq_cyc_seed")
    val reached = spark.sql(
      """SELECT x FROM fixpoint('sq_cyc_seed',
           'SELECT e.v AS x FROM __frontier f JOIN sq_cyc_edges e ON e.u = f.x', 10)
         ORDER BY x""")
      .collect().map(_.getLong(0)).toSeq
    assert(reached == Seq(0L, 1L, 2L))
  }

  test("fixpoint TVF requires the step to reference __frontier") {
    import spark.implicits._
    Seq(0L).toDF("x").createOrReplaceTempView("sq_bad_seed")
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM fixpoint('sq_bad_seed', 'SELECT 1 AS x')"))
    assert(ex.getMessage.contains("__frontier"))
  }

  test("dedup TVF: the iterative near-dup pipeline via pure SQL matches the Scala API") {
    import spark.implicits._
    // A near-dup chain (a~b, b~c by shared shingles) plus an unrelated doc.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta kappa iota"),
      (9L, "totally different words in this document here now"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sq_dedup_docs")
    val viaSql = spark.sql(
      "SELECT doc_id FROM dedup('sq_dedup_docs', 0.5) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val viaApi = graft.operators.Dedup.deduplicate(docs, threshold = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaApi)
    assert(viaSql.contains(9L) && viaSql.contains(1L))
  }

  test("span_scrub TVF: lazy splice composes with downstream filters") {
    import spark.implicits._
    val aToks = (1 to 40).map(i => s"a$i")
    val bToks = (1 to 40).map(i => s"b$i")
    Seq(
      (1L, aToks.mkString(" ")),
      (2L, bToks.mkString(" ")),
      (3L, (aToks.take(20) ++ bToks.drop(20)).mkString(" ")))
      .toDF("doc_id", "text")
      .createOrReplaceTempView("sq_span_docs")
    val rows = spark.sql(
      """SELECT doc_id, dup_tokens, clean_text
         FROM span_scrub('sq_span_docs', 10, 2)
         WHERE dup_tokens > 0 ORDER BY doc_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0)._3 == aToks.drop(20).mkString(" "))
    assert(rows(2)._2 == 40L && rows(2)._3 == "") // fully covered chimera
  }

  test("dedup TVF rejects a wrong argument count") {
    val ex = intercept[Exception](spark.sql("SELECT * FROM dedup('t')"))
    assert(ex.getMessage.contains("dedup(table, threshold"))
  }

  test("WITH RECURSIVE: standard form runs natively on Spark 4.1") {
    val xs = spark.sql(
      """WITH RECURSIVE r(x) AS (
           SELECT 1 UNION ALL SELECT x + 1 FROM r WHERE x < 5)
         SELECT * FROM r ORDER BY x""")
      .collect().map(_.getInt(0)).toSeq
    assert(xs == Seq(1, 2, 3, 4, 5))
  }

  test("literal WITH RECURSIVE ... USING KEY executes via the fixpoint_keyed rewrite") {
    // The linear discovery form: each key appears once, same rows a
    // UNION-distinct recursion would produce.
    val counter = spark.sql(
      """WITH RECURSIVE r USING KEY (x) AS (
           SELECT 1 AS x UNION ALL SELECT x + 1 FROM r WHERE x < 5)
         SELECT * FROM r ORDER BY x""")
      .collect().map(_.getInt(0)).toSeq
    assert(counter == Seq(1, 2, 3, 4, 5))
    // The UPSERT form — what distinguishes USING KEY from plain
    // recursion: key 1's payload is REPLACED each round (a UNION ALL
    // recursion would return v = 0,1,2,3 as four rows; USING KEY keeps
    // one row per key, final payload only).
    val upsert = spark.sql(
      """WITH RECURSIVE r USING KEY (x) AS (
           SELECT 1 AS x, 0 AS v
           UNION ALL
           SELECT x, v + 1 FROM r WHERE v < 3)
         SELECT x, v FROM r""")
      .collect().map(c => (c.getInt(0), c.getInt(1))).toSeq
    assert(upsert == Seq((1, 3)))
  }

  test("USING KEY with recurring.<name> executes: step sees the accumulated state") {
    // recurring.r = the one-row-per-key state as of the round's start
    // (DuckDB ≥1.3). Hand-trace: each round adds count(recurring) to the
    // previous payload — 1 state row in round 1, 2 in round 2, 3 in
    // round 3 — so v walks 1 → 2 → 4 → 7 across keys 0..3.
    val rows = spark.sql(
      """WITH RECURSIVE r USING KEY (x) AS (
           SELECT 0 AS x, 1 AS v
           UNION ALL
           SELECT f.x + 1, f.v + (SELECT COUNT(*) FROM recurring.r)
           FROM r f WHERE f.x < 3)
         SELECT x, v FROM r ORDER BY x""")
      .collect().map(c => (c.getInt(0), c.getInt(1))).toSeq
    assert(rows == Seq((0, 1), (1, 2), (2, 4), (3, 7)), s"got $rows")
    // The JOIN form: frontier joined against the accumulated state.
    val joined = spark.sql(
      """WITH RECURSIVE r USING KEY (x) AS (
           SELECT 1 AS x, 0 AS v
           UNION ALL
           SELECT r.x, r.v + 1 FROM r JOIN recurring.r u ON u.x = r.x WHERE r.v < 3)
         SELECT x, v FROM r""")
      .collect().map(c => (c.getInt(0), c.getInt(1))).toSeq
    assert(joined == Seq((1, 3)), s"got $joined")
  }

  test("fixpoint_keyed TVF: SQL-literal seed, upsert state, composes downstream") {
    val rows = spark.sql(
      """SELECT x, v FROM fixpoint_keyed(
           'SELECT 1 AS x, 0 AS v UNION ALL SELECT 2, 10',
           'SELECT x, v + 1 FROM __frontier WHERE v < 3',
           'x') ORDER BY x""")
      .collect().map(c => (c.getInt(0), c.getInt(1))).toSeq
    // Key 1 climbs 0->3; key 2 starts at 10 (>= 3) and never changes.
    assert(rows == Seq((1, 3), (2, 10)))
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM fixpoint_keyed('SELECT 1 AS x', 'SELECT x FROM t')"))
    assert(ex.getMessage.contains("fixpoint_keyed"))
  }

  test("literal ASOF JOIN executes via the TVF rewrite (inclusive inner)") {
    registerMarket()
    // The pasted DuckDB statement runs: tier-1 rewrite to
    // asof_join('sq_trades','sq_quotes','sym','tt','qt','px,tag',false,true)
    // aliased as the left side. Same rows as the explicit-TVF test above.
    val rows = spark.sql(
      """SELECT sym, tt, px, tag
         FROM sq_trades t ASOF JOIN sq_quotes q
           ON t.sym = q.sym AND t.tt >= q.qt
         ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (1L, 20L, 110.0, "b"),
      (1L, 25L, 110.0, "b"),
      (2L, 99L, 50.0, "d")))
  }

  test("literal ASOF LEFT JOIN with strict inequality maps to (strict, outer)") {
    registerMarket()
    val rows = spark.sql(
      """SELECT sym, tt, tag
         FROM sq_trades t ASOF LEFT JOIN sq_quotes q
           ON t.sym = q.sym AND t.tt > q.qt
         ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
    assert(rows.toSeq == Seq(
      (1L, 5L, null),
      (1L, 20L, "a"),
      (1L, 25L, "b"),
      (2L, 99L, "d"),
      (3L, 10L, null)))
  }

  test("literal ASOF JOIN: flipped conjunct order and <= direction normalize") {
    registerMarket()
    // `q.qt <= t.tt AND q.sym = t.sym` is the same backward inclusive
    // join written right-side-first — the rewrite must normalize both.
    val rows = spark.sql(
      """SELECT sym, tt, px
         FROM sq_trades t ASOF JOIN sq_quotes q
           ON q.qt <= t.tt AND q.sym = t.sym
         ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 20L, 110.0), (1L, 25L, 110.0), (2L, 99L, 50.0)))
  }

  test("ASOF JOIN shapes the rewrite declines land on the asof_join() hint") {
    registerMarket()
    // Right-alias-qualified select column: the right relation does not
    // survive the splice as a nameable side — decline to the hint.
    val ex = intercept[Exception](spark.sql(
      """SELECT t.sym, q.px FROM sq_trades t ASOF JOIN sq_quotes q
         ON t.sym = q.sym AND t.tt >= q.qt"""))
    assert(ex.getMessage.contains("asof_join("),
      s"expected the asof_join() hint, got: ${ex.getMessage}")
    // SELECT * would resolve against left+payload, not DuckDB's full
    // two-sided star — declined.
    val star = intercept[Exception](spark.sql(
      """SELECT * FROM sq_trades t ASOF JOIN sq_quotes q
         ON t.sym = q.sym AND t.tt >= q.qt"""))
    assert(star.getMessage.contains("asof_join("))
    // Forward as-of (left <= right) EXECUTES since round 14: each trade
    // picks the earliest quote at-or-after it.
    val fwd = spark.sql(
      """SELECT sym, tt, px FROM sq_trades t ASOF JOIN sq_quotes q
         ON t.sym = q.sym AND t.tt <= q.qt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fwd == Set((1L, 5L, 100.0), (1L, 20L, 110.0), (1L, 25L, 120.0)),
      s"got $fwd")
    // A parenthesized subquery as the left side: the scanner's
    // paren-skip sees the ALIAS next — it must NOT be captured as a
    // table name (here a real view named sq_trades also exists, so a
    // mis-capture would silently join the WRONG relation).
    val sub = intercept[Exception](spark.sql(
      """SELECT sym, tt, px
         FROM (SELECT * FROM sq_trades WHERE tt > 6) sq_trades
         ASOF JOIN sq_quotes q
           ON sq_trades.sym = q.sym AND sq_trades.tt >= q.qt"""))
    assert(sub.getMessage.contains("asof_join("),
      s"expected decline-to-hint for the subquery left side, got: ${sub.getMessage}")
  }

  test("ASOF JOIN inside subqueries and CTE bodies executes (round 17)") {
    registerMarket()
    // Derived-table form: FROM (SELECT ... ASOF JOIN ...) m.
    val sub = spark.sql(
      """SELECT sym, CAST(COUNT(*) AS BIGINT) AS n, SUM(px) AS spx
         FROM (SELECT t.sym AS sym, tt, px, tag
               FROM sq_trades t ASOF JOIN sq_quotes q
                 ON t.sym = q.sym AND t.tt >= q.qt) m
         GROUP BY sym ORDER BY sym""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // trades (1,20)->110, (1,25)->110, (2,99)->50; (1,5)/(3,10) unmatched
    assert(sub == Seq((1L, 2L, 220.0), (2L, 1L, 50.0)), s"got $sub")
    // CTE-body form.
    val cte = spark.sql(
      """WITH m AS (SELECT t.sym AS sym, tt, px
                    FROM sq_trades t ASOF JOIN sq_quotes q
                      ON t.sym = q.sym AND t.tt >= q.qt)
         SELECT sym, tt, px FROM m ORDER BY sym, tt""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cte == Set((1L, 20L, 110.0), (1L, 25L, 110.0), (2L, 99L, 50.0)),
      s"got $cte")
    // Scalar-subquery form: the block rewrites in expression position.
    val scalar = spark.sql(
      """SELECT (SELECT SUM(px) FROM sq_trades t ASOF JOIN sq_quotes q
                 ON t.sym = q.sym AND t.tt >= q.qt) AS s""")
      .head().getDouble(0)
    assert(scalar == 270.0, s"got $scalar")
    // A DECLINED inner shape (right-qualified select column) still
    // lands on the hint, not a misparse.
    val ex = intercept[Exception](spark.sql(
      """SELECT * FROM (SELECT t.sym, q.px
                        FROM sq_trades t ASOF JOIN sq_quotes q
                          ON t.sym = q.sym AND t.tt >= q.qt) m"""))
    assert(ex.getMessage.contains("asof_join("), s"got: ${ex.getMessage}")
  }

  test("DESCRIBE works natively; the literal SUMMARIZE statement RUNS (rewrite to the TVF)") {
    registerMarket()
    val desc = spark.sql("DESCRIBE sq_quotes").collect().map(_.getString(0)).toSet
    assert(Set("sym", "qt", "px", "tag").subsetOf(desc))
    // `SUMMARIZE t` is DuckDB syntax; the hint parser rewrites it to
    // SELECT * FROM summarize('t') and the statement executes: one row
    // per COLUMN in table order, stats as columns.
    val rows = spark.sql("SUMMARIZE sq_quotes").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("sym", "qt", "px", "tag"))
    val bySym = rows.find(_.getString(0) == "sym").get
    assert(bySym.getString(2) == "1" && bySym.getString(3) == "2") // min/max
    assert(bySym.getLong(7) == 4L && bySym.getLong(8) == 0L)       // counts
  }

  test("summarize() TVF composes downstream (filter over the splice)") {
    registerMarket()
    val n = spark.sql(
      """SELECT column_name, n_nonnull FROM summarize('sq_quotes')
         WHERE column_type = 'DOUBLE' ORDER BY column_name""").collect()
    assert(n.map(_.getString(0)).toSeq == Seq("px"))
    assert(n.head.getLong(1) == 4L)
  }

  test("QUALIFY executes via the subquery rewrite, matching the manual window form") {
    registerMarket()
    val viaQualify = spark.sql(
      """SELECT sym, qt, px FROM sq_quotes
         QUALIFY ROW_NUMBER() OVER (PARTITION BY sym ORDER BY qt DESC) = 1
         ORDER BY sym""").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaQualify.toSeq == Seq((1L, 30L, 120.0), (2L, 15L, 50.0)))
    // Rewrite must not leak the helper column into the output schema.
    val schema = spark.sql(
      """SELECT sym FROM sq_quotes
         QUALIFY px = MAX(px) OVER (PARTITION BY sym)""").schema.fieldNames.toSeq
    assert(schema == Seq("sym"))
  }

  test("QUALIFY over aggregates (GROUP BY block) matches HAVING-on-window semantics") {
    registerMarket()
    val rows = spark.sql(
      """SELECT sym, SUM(px) AS total FROM sq_quotes GROUP BY sym
         QUALIFY RANK() OVER (ORDER BY SUM(px) DESC) = 1""").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 330.0)))
  }

  test("QUALIFY shapes the rewrite declines (DISTINCT) land on the hint") {
    registerMarket()
    val ex = intercept[Exception](spark.sql(
      """SELECT DISTINCT sym, qt, px FROM sq_quotes
         QUALIFY ROW_NUMBER() OVER (PARTITION BY sym ORDER BY qt DESC) = 1"""))
    assert(ex.getMessage.contains("ROW_NUMBER() OVER"),
      s"expected the QUALIFY hint, got: ${ex.getMessage}")
  }

  test("SELECT * EXCLUDE executes via the EXCEPT word swap, any depth, strings intact") {
    registerMarket()
    // The literal DuckDB statement runs on Spark.
    assert(spark.sql("SELECT * EXCLUDE (tag, px) FROM sq_quotes").columns.toSeq ==
      Seq("sym", "qt"))
    // Inside a subquery (depth > 0) too.
    assert(spark.sql(
      """SELECT sym FROM (SELECT * EXCLUDE (tag) FROM sq_quotes) q
         WHERE q.px > 100 ORDER BY sym""").count() == 2)
    // EXCLUDE inside a string literal is NOT the construct: the statement
    // has no real EXCLUDE, the rewrite finds nothing, and the query runs
    // natively with the literal intact.
    val s = spark.sql("SELECT '* EXCLUDE (x)' AS s").head().getString(0)
    assert(s == "* EXCLUDE (x)")
    // ExcludeRewrite unit shape: only *-adjacent EXCLUDE( swaps.
    assert(ExcludeRewrite.rewrite(
      "SELECT * EXCLUDE (a) FROM t WHERE c = '* EXCLUDE (b)'").get ==
      "SELECT * EXCEPT (a) FROM t WHERE c = '* EXCLUDE (b)'")
    assert(ExcludeRewrite.rewrite("SELECT exclude FROM t").isEmpty)
    assert(ExcludeRewrite.rewrite("SELECT a AS exclude_x FROM t").isEmpty)
    // Bare single-name form (DuckDB: parens optional for one column);
    // further select-list items after it stay separate items.
    assert(spark.sql("SELECT * EXCLUDE tag FROM sq_quotes").columns.toSeq ==
      Seq("sym", "qt", "px"))
    assert(spark.sql("SELECT * EXCLUDE tag, px * 2 AS p2 FROM sq_quotes")
      .columns.toSeq == Seq("sym", "qt", "px", "p2"))
    // A clause keyword after EXCLUDE is NOT the bare form — no claim.
    assert(ExcludeRewrite.rewrite("SELECT * EXCLUDE FROM t").isEmpty)
  }

  test("dollar-quoted string literals convert to ordinary literals") {
    registerMarket()
    def one(sql: String): String = spark.sql(sql).head().getString(0)
    // Content is RAW: embedded single quote, backslash, and dollar.
    assert(one("SELECT $$ab's$$ AS s") == "ab's")
    assert(one("SELECT $tag$x$y\\z$tag$ AS s") == "x$y\\z")
    // Two dollar literals in one statement; distinct tags.
    assert(spark.sql("SELECT $$a$$ AS x, $q$b$q$ AS y").head()
      .toSeq == Seq("a", "b"))
    // `$$` inside an ordinary string literal is data, not a marker.
    assert(one("SELECT '$$not a quote$$' AS s") == "$$not a quote$$")
    // Composes with other chain rewrites (QUALIFY + dollar literal).
    val q = spark.sql(
      """SELECT sym, tag || $$!$$ AS t2,
                row_number() OVER (PARTITION BY sym ORDER BY qt) AS rn
         FROM sq_quotes QUALIFY rn = 1 ORDER BY sym""")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("a!", "d!"))
  }

  test("rewrites CHAIN: EXCLUDE + QUALIFY in one statement runs end to end") {
    registerMarket()
    // The DuckDB/Snowflake idiom combining two foreign constructs: one
    // rewrite alone leaves the other's syntax in place, so the hint
    // parser must chain (EXCLUDE→EXCEPT, then the QUALIFY splice).
    val rows = spark.sql(
      """SELECT * EXCLUDE (px) FROM sq_quotes
         QUALIFY ROW_NUMBER() OVER (PARTITION BY sym ORDER BY qt DESC) = 1
         ORDER BY sym""")
    assert(rows.columns.toSeq == Seq("sym", "qt", "tag"))
    assert(rows.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 30L, "c"), (2L, 15L, "d")))
  }

  test("GROUP BY ALL parses natively and groups by the non-aggregated columns") {
    registerMarket()
    val rows = spark.sql(
      """SELECT sym, COUNT(*) AS n, SUM(px) AS total FROM sq_quotes
         GROUP BY ALL ORDER BY sym""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 3L, 330.0), (2L, 1L, 50.0)))
  }

  test("CREATE MACRO with a trailing default executes; padding is positional") {
    spark.sql("CREATE OR REPLACE MACRO add_default(a, b := 5) AS a + b")
    // Omitted default → the template pads in `5`.
    assert(spark.sql("SELECT add_default(1) AS s").head().getInt(0) == 6)
    // Positional override (DuckDB ≥1.1 semantics).
    assert(spark.sql("SELECT add_default(1, 2) AS s").head().getInt(0) == 3)
    // Arity outside [required, total] names the range.
    val ex = intercept[Exception](spark.sql("SELECT add_default()").collect())
    assert(ex.getMessage.contains("1 to 2"), s"got: ${ex.getMessage}")
    // Required params cannot FOLLOW defaults — declines to the hint.
    val ex2 = intercept[Exception](spark.sql(
      "CREATE MACRO bad_order(a := 1, b) AS a + b"))
    assert(ex2.getMessage.contains("TEMPORARY FUNCTION"), s"got: ${ex2.getMessage}")
    // A default referencing another parameter declines (would need an
    // ordered substitution pass).
    val ex3 = intercept[Exception](spark.sql(
      "CREATE MACRO dep_default(a, b := a + 1) AS a + b"))
    assert(ex3.getMessage.contains("TEMPORARY FUNCTION"), s"got: ${ex3.getMessage}")
  }

  test("literal PIVOT statement executes with dynamic column discovery") {
    registerMarket()
    // Explicit GROUP BY; COUNT fills absent combinations with 0
    // (DuckDB-pinned: sym 2 has only tag d).
    val p = spark.sql("PIVOT sq_quotes ON tag USING count(*) GROUP BY sym")
    assert(p.columns.sorted.toSeq == Seq("a", "b", "c", "d", "sym"))
    val rows = p.orderBy("sym").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq((1L, 1L, 1L, 1L, 0L), (2L, 0L, 0L, 0L, 1L)), s"got $rows")
    // DuckDB's default grouping: every column neither pivoted nor
    // consumed by the aggregate (here: sym, px remain; qt is aggregated).
    val p2 = spark.sql("PIVOT sq_quotes ON tag USING sum(qt)")
    assert(p2.columns.sorted.toSeq == Seq("a", "b", "c", "d", "px", "sym"))
    // IN lists execute without a discovery job, only listed values kept.
    val pin = spark.sql(
      "PIVOT sq_quotes ON tag IN ('a', 'b') USING count(*) GROUP BY sym")
    assert(pin.columns.sorted.toSeq == Seq("a", "b", "sym"))
    val pinRows = pin.orderBy("sym").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pinRows == Seq((1L, 1L, 1L), (2L, 0L, 0L)), s"got $pinRows")
    // CAST's AS inside the aggregate is not an alias — must run.
    val pc = spark.sql("PIVOT sq_quotes ON tag USING sum(cast(qt AS bigint)) GROUP BY sym")
    assert(pc.columns.sorted.toSeq == Seq("a", "b", "c", "d", "sym"))
    // Aliased single aggregate: DuckDB names columns <value>_<alias>.
    val pa = spark.sql(
      "PIVOT sq_quotes ON tag USING sum(qt) AS total GROUP BY sym")
    assert(pa.columns.sorted.toSeq ==
      Seq("a_total", "b_total", "c_total", "d_total", "sym"),
      s"got ${pa.columns.toSeq}")
    // Multiple aliased aggregates execute; count-shaped columns 0-fill.
    val pm = spark.sql(
      "PIVOT sq_quotes ON tag USING count(*) AS n, sum(qt) AS s GROUP BY sym")
    assert(pm.columns.sorted.toSeq ==
      Seq("a_n", "a_s", "b_n", "b_s", "c_n", "c_s", "d_n", "d_s", "sym"),
      s"got ${pm.columns.toSeq}")
    val pmRow = pm.filter("sym = 2").head()
    assert(pmRow.getLong(pm.columns.indexOf("a_n")) == 0L)
    assert(pmRow.isNullAt(pm.columns.indexOf("a_s")))
    // Un-aliased multi-aggregate lists decline to the hint.
    val exM = intercept[Exception](spark.sql(
      "PIVOT sq_quotes ON tag USING count(*), sum(qt) GROUP BY sym"))
    assert(exM.getMessage.contains("pivot_auto"), s"got: ${exM.getMessage}")
    // A column whose name matches the aggregate FUNCTION is still a
    // default group key (count(*) must not swallow a `count` column).
    spark.sql("SELECT sym AS count, tag FROM sq_quotes")
      .createOrReplaceTempView("sq_named")
    val pn = spark.sql("PIVOT sq_named ON tag USING count(*)")
    assert(pn.columns.contains("count"), s"got ${pn.columns.toSeq}")
  }

  test("literal UNPIVOT statement executes via the native UNPIVOT clause") {
    registerMarket()
    val u = spark.sql("UNPIVOT sq_quotes ON qt, px INTO NAME metric VALUE val")
    assert(u.columns.toSeq == Seq("sym", "tag", "metric", "val"))
    assert(u.count() == 8) // 4 rows × 2 unpivoted columns, no NULLs
    val row = u.filter("sym = 2 AND metric = 'px'").head()
    assert(row.getDouble(3) == 50.0)
    // Defaults mirror DuckDB: NAME name VALUE value.
    val d = spark.sql("UNPIVOT sq_quotes ON qt, px")
    assert(d.columns.toSeq == Seq("sym", "tag", "name", "value"))
    // COLUMNS(* EXCLUDE ...) resolves the schema dynamically: every
    // column except the excluded ones unpivots (sym, tag excluded here;
    // qt and px share no common type with tag so tag must be excluded).
    val c = spark.sql(
      "UNPIVOT sq_quotes ON COLUMNS(* EXCLUDE (sym, tag)) INTO NAME m VALUE v")
    assert(c.columns.toSeq == Seq("sym", "tag", "m", "v"))
    assert(c.count() == 8)
    // Single-identifier EXCLUDE without parens also parses.
    spark.sql("SELECT sym, qt, px FROM sq_quotes")
      .createOrReplaceTempView("sq_nums")
    val c1 = spark.sql("UNPIVOT sq_nums ON COLUMNS(* EXCLUDE sym)")
    assert(c1.columns.toSeq == Seq("sym", "name", "value"))
    assert(c1.count() == 8)
    // Regex-pattern COLUMNS ON lists still decline with guidance.
    val ex = intercept[Exception](spark.sql(
      "UNPIVOT sq_quotes ON COLUMNS('q|p') INTO NAME m VALUE v"))
    assert(ex.getMessage.contains("UNPIVOT (v FOR k IN"), s"got: ${ex.getMessage}")
  }

  test("FROM-first statements execute; FROM..SELECT declines to the hint") {
    registerMarket()
    val rows = spark.sql("FROM sq_quotes WHERE qt > 12 ORDER BY qt LIMIT 2")
      .collect().map(_.getLong(1)).toSeq
    assert(rows == Seq(15L, 20L))
    // Bare `FROM t` = SELECT * FROM t.
    assert(spark.sql("FROM sq_quotes").count() == 4)
    // Chains with other rewrites: FROM-first + QUALIFY in one statement.
    val q = spark.sql(
      """FROM sq_quotes
         QUALIFY ROW_NUMBER() OVER (PARTITION BY sym ORDER BY qt DESC) = 1
         ORDER BY sym""").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(q == Seq((1L, 30L), (2L, 15L)), s"got $q")
    // The FROM..SELECT variant parses NATIVELY (Hive-legacy syntax Spark
    // inherits) — the rewrite correctly declines and the delegate runs it.
    val sel = spark.sql("FROM sq_quotes SELECT sym, qt WHERE qt > 12")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sel == Set((1L, 20L), (1L, 30L), (2L, 15L)), s"got $sel")
    // Pasted snippets routinely start with a comment line.
    assert(spark.sql("-- top rows\nFROM sq_quotes WHERE qt > 25").count() == 1)
  }

  test("macro overload list executes with arity dispatch") {
    spark.sql("CREATE OR REPLACE MACRO ov(a) AS a + 1, (a, b) AS a * b")
    assert(spark.sql("SELECT ov(4) AS u").head().getInt(0) == 5)
    assert(spark.sql("SELECT ov(4, 3) AS v").head().getInt(0) == 12)
    // Unmatched arity names the available ones.
    val ex = intercept[Exception](spark.sql("SELECT ov(1, 2, 3)").collect())
    assert(ex.getMessage.contains("overloads for 1, 2"), s"got: ${ex.getMessage}")
    // Duplicate arity is ambiguous — declines to the hint.
    val ex2 = intercept[Exception](spark.sql(
      "CREATE OR REPLACE MACRO dup_ov(a) AS a + 1, (b) AS b - 1"))
    assert(ex2.getMessage.contains("TEMPORARY FUNCTION"), s"got: ${ex2.getMessage}")
    // Defaults inside an overload list execute when the arity ranges
    // stay disjoint: [1,1] and [2,3] here — the 2-arg call pads c.
    spark.sql(
      "CREATE OR REPLACE MACRO def_ov(a) AS a + 1, (a, b, c := 10) AS a * b + c")
    assert(spark.sql("SELECT def_ov(4) AS u").head().getInt(0) == 5)
    assert(spark.sql("SELECT def_ov(4, 3) AS v").head().getInt(0) == 22)
    assert(spark.sql("SELECT def_ov(4, 3, 100) AS w").head().getInt(0) == 112)
    // OVERLAPPING arity ranges ([1,1] vs [1,2]) are ambiguous — the
    // same ambiguity DuckDB's binder rejects; decline to the hint.
    val ex3 = intercept[Exception](spark.sql(
      "CREATE OR REPLACE MACRO amb_ov(a) AS a + 1, (a, b := 2) AS a * b"))
    assert(ex3.getMessage.contains("TEMPORARY FUNCTION"), s"got: ${ex3.getMessage}")
  }

  test("zero-parameter table macro executes via FROM name(); parameterized declines") {
    registerMarket()
    spark.sql("CREATE OR REPLACE MACRO quote_syms() AS TABLE " +
      "SELECT DISTINCT sym FROM sq_quotes")
    val rows = spark.sql("SELECT * FROM quote_syms() ORDER BY sym").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // Composes like any table source: joins/filters over the call.
    val n = spark.sql(
      "SELECT count(*) AS n FROM quote_syms() q JOIN sq_quotes s ON q.sym = s.sym")
      .head().getLong(0)
    assert(n == 4L)
    // Parameterized table macro: params substitute through the plan.
    spark.sql("CREATE OR REPLACE MACRO top_quotes(k) AS TABLE " +
      "SELECT sym, qt FROM sq_quotes ORDER BY qt DESC, sym LIMIT k")
    val top = spark.sql("SELECT * FROM top_quotes(2)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == Seq((1L, 30L), (1L, 20L)), s"got $top")
    // Param SHADOWS a same-named body column (DuckDB-pinned semantics),
    // and trailing defaults pad positionally (lo := 12 → qt 15, 20, 30).
    spark.sql("CREATE OR REPLACE MACRO shadowed(sym, lo := 12) AS TABLE " +
      "SELECT sym AS tag, qt FROM sq_quotes WHERE qt >= lo ORDER BY qt")
    val sh = spark.sql("SELECT * FROM shadowed('Z')").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sh == Seq(("Z", 15L), ("Z", 20L), ("Z", 30L)), s"got $sh")
    // Wrong arity names the range.
    val exA = intercept[Exception](spark.sql("SELECT * FROM shadowed()").collect())
    assert(exA.getMessage.contains("1 to 2"), s"got: ${exA.getMessage}")
    // A call argument that itself mentions the parameter name must not
    // send substitution into a loop (bottom-up walk, replacements never
    // revisited) — it terminates and fails cleanly as an unresolved
    // column instead.
    spark.sql("CREATE OR REPLACE MACRO qt_above(k) AS TABLE " +
      "SELECT qt FROM sq_quotes WHERE qt > k")
    val exK = intercept[Exception](
      spark.sql("SELECT * FROM qt_above(k + 1)").collect())
    assert(exK.getMessage.toLowerCase.contains("k") ||
      exK.getMessage.contains("UNRESOLVED"), s"got: ${exK.getMessage}")
    // A body whose select list carries a parenthesized subquery item is
    // a table macro, not an overload list.
    spark.sql("CREATE OR REPLACE MACRO with_const(a) AS TABLE " +
      "SELECT qt * a AS s, (SELECT 1) AS one FROM sq_quotes")
    val wc = spark.sql("SELECT s, one FROM with_const(2) ORDER BY s").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(wc == Seq((20L, 1), (30L, 1), (40L, 1), (60L, 1)), s"got $wc")
    // The macro's own name inside a string literal is not recursion.
    spark.sql("CREATE OR REPLACE MACRO lbl() AS TABLE SELECT 'lbl(x)' AS tag")
    assert(spark.sql("SELECT * FROM lbl()").head().getString(0) == "lbl(x)")
    // Self-referential table macro rejected at creation.
    val ex2 = intercept[Exception](spark.sql(
      "CREATE OR REPLACE MACRO quote_syms() AS TABLE SELECT * FROM quote_syms()"))
    assert(ex2.getMessage.contains("recursive macros are not supported"),
      s"got: ${ex2.getMessage}")
    // The typed SQL UDF remains the hinted manual form and works.
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_add5(a INT, b INT) " +
      "RETURNS INT RETURN a + b")
    assert(spark.sql("SELECT graft_add5(2, 5) AS s").head().getInt(0) == 7)
  }

  test("COLUMNS('regex') star-expands with partial-match semantics and runs") {
    registerMarket()
    // Partial match: 'y' hits both sym and qty-like names? Here: 'q' must
    // hit qt (mid-name matching, DuckDB RE2 semantics), not require a
    // full-string match.
    val df = spark.sql("SELECT COLUMNS('^s|q') FROM sq_quotes ORDER BY 1, 2")
    assert(df.columns.toSeq == Seq("sym", "qt"))
    assert(df.count() == 4)
    // COLUMNS(*) = every column, order preserved.
    val all = spark.sql("SELECT COLUMNS(*) FROM sq_quotes")
    assert(all.columns.toSeq == spark.table("sq_quotes").columns.toSeq)
    // Name-filter lambda: the predicate sees the column NAME (DuckDB
    // 1.0 pinned); table order preserved; wrapped form keeps the plain
    // source names.
    val lam = spark.sql("SELECT COLUMNS(c -> c LIKE 's%' OR c = 'qt') " +
      "FROM sq_quotes")
    assert(lam.columns.toSeq == Seq("sym", "qt"))
    val lamAgg = spark.sql("SELECT max(COLUMNS(c -> length(c) = 2)) FROM sq_quotes")
    assert(lamAgg.columns.toSeq == Seq("qt", "px"))
    // A predicate that cannot evaluate (unknown function) declines to
    // the hint rather than a raw failure.
    val ex = intercept[Exception](spark.sql(
      "SELECT COLUMNS(c -> no_such_fn(c)) FROM sq_quotes"))
    assert(ex.getMessage.contains("COLUMNS"), s"got: ${ex.getMessage}")
    // A lambda matching zero names declines (DuckDB errors there too).
    val exL0 = intercept[Exception](spark.sql(
      "SELECT COLUMNS(c -> c = 'zz') FROM sq_quotes"))
    assert(exL0.getMessage.contains("COLUMNS"), s"got: ${exL0.getMessage}")
    // Zero matches declines (DuckDB errors there too).
    val ex2 = intercept[Exception](spark.sql(
      "SELECT COLUMNS('zzz_nomatch') FROM sq_quotes"))
    assert(ex2.getMessage.contains("COLUMNS"), s"got: ${ex2.getMessage}")
    // Mixed select list: ordinary items around the expansion.
    val mixed = spark.sql(
      "SELECT tag, COLUMNS('^q'), sym * 10 AS s10 FROM sq_quotes ORDER BY qt")
    assert(mixed.columns.toSeq == Seq("tag", "qt", "s10"))
    assert(mixed.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 10L, 10L), ("d", 15L, 20L), ("b", 20L, 10L), ("c", 30L, 10L)))
    // Function wrapping distributes over the set; outputs keep the
    // plain source column names (DuckDB 1.0 naming).
    val agg = spark.sql("SELECT min(COLUMNS(*)) FROM sq_quotes")
    assert(agg.columns.toSeq == Seq("sym", "qt", "px", "tag"))
    val aggRow = agg.head()
    assert((aggRow.getLong(0), aggRow.getLong(1), aggRow.getDouble(2),
      aggRow.getString(3)) == ((1L, 10L, 50.0, "a")))
    // Extra call arguments after the set ride along verbatim: 110 and
    // 120 collapse to 100 only if the `-2` scale reached the call
    // (both engines round half away from zero: 50 → 100 too).
    val rounded = spark.sql(
      "SELECT round(COLUMNS('^p'), -2) FROM sq_quotes ORDER BY px")
    assert(rounded.columns.toSeq == Seq("px"))
    assert(rounded.collect().map(_.getDouble(0)).toSeq ==
      Seq(100.0, 100.0, 100.0, 100.0))
    // Wrapped set composes with a mixed list and GROUP BY.
    val grouped = spark.sql(
      "SELECT tag, max(COLUMNS('^q|^p')) FROM sq_quotes GROUP BY tag ORDER BY tag")
    assert(grouped.columns.toSeq == Seq("tag", "qt", "px"))
    // EXCLUDE sets: parenthesized list and bare single name.
    val excl = spark.sql("SELECT COLUMNS(* EXCLUDE (px, tag)) FROM sq_quotes")
    assert(excl.columns.toSeq == Seq("sym", "qt"))
    val excl1 = spark.sql("SELECT COLUMNS(* EXCLUDE tag) FROM sq_quotes")
    assert(excl1.columns.toSeq == Seq("sym", "qt", "px"))
    // Unknown excluded name declines (DuckDB raises a binder error).
    val exU = intercept[Exception](spark.sql(
      "SELECT COLUMNS(* EXCLUDE (nope)) FROM sq_quotes"))
    assert(exU.getMessage.contains("could not be expanded"), s"got: ${exU.getMessage}")
    // Deeper expression nesting re-binds the WHOLE item per column
    // (DuckDB 1.0 pinned): outputs named by the plain source column.
    val nested = spark.sql("SELECT min(COLUMNS('^q|^p')) + 1 FROM sq_quotes")
    assert(nested.columns.toSeq == Seq("qt", "px"))
    val nr = nested.head()
    assert((nr.getLong(0), nr.getDouble(1)) == ((11L, 51.0)))
    // Multiple occurrences of the SAME set expand in lockstep.
    val spread = spark.sql(
      "SELECT max(COLUMNS('^q|^p')) - min(COLUMNS('^q|^p')) FROM sq_quotes")
    assert(spread.columns.toSeq == Seq("qt", "px"))
    val sr = spread.head()
    assert((sr.getLong(0), sr.getDouble(1)) == ((20L, 70.0)))
    // DIFFERENT sets in one expression are a DuckDB binder error —
    // decline to the hint here too.
    val exN = intercept[Exception](spark.sql(
      "SELECT max(COLUMNS('^q')) - min(COLUMNS('^p')) FROM sq_quotes"))
    assert(exN.getMessage.contains("could not be expanded"), s"got: ${exN.getMessage}")
    // The literal text inside a string is NOT the construct: statement
    // must run untouched, no hint, no hijack.
    val lit = spark.sql("SELECT 'COLUMNS(' AS t FROM sq_quotes LIMIT 1").head().getString(0)
    assert(lit == "COLUMNS(")
    // A trailing line comment in the select list must not swallow FROM.
    val cmt = spark.sql("SELECT COLUMNS('^q'), tag -- keep\nFROM sq_quotes WHERE qt > 25")
    assert(cmt.columns.toSeq == Seq("qt", "tag"))
    assert(cmt.count() == 1)
    // A join source declines but still gets the guidance hint.
    val exJ = intercept[Exception](spark.sql(
      "SELECT COLUMNS('^q') FROM sq_quotes a JOIN sq_quotes b ON a.sym = b.sym"))
    assert(exJ.getMessage.contains("could not be expanded"), s"got: ${exJ.getMessage}")
    // COLUMNS in WHERE (round 17, DuckDB 1.0 pinned): the condition
    // applies to every matched column, copies ANDed, segment-wise
    // parenthesized against OR neighbours.
    val dw1 = spark.sql(
      "SELECT sym, qt FROM sq_quotes WHERE COLUMNS('^q|^p') > 60 ORDER BY qt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // qt>60 never holds (qt<=30) except... qt values 10..30; px 50..120:
    // both >60 requires qt>60 → empty? Use a satisfiable bound instead:
    val dw2 = spark.sql(
      "SELECT sym, qt FROM sq_quotes WHERE COLUMNS('^q|^p') > 15 ORDER BY qt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // qt>15 AND px>15: rows (1,20,110), (1,30,120) qualify
    assert(dw1 == Seq() && dw2 == Seq((1L, 20L), (1L, 30L)), s"$dw1 / $dw2")
    // OR neighbour stays outside the AND-group.
    val dw3 = spark.sql(
      "SELECT qt FROM sq_quotes WHERE COLUMNS('^q|^p') > 15 OR tag = 'd' " +
        "ORDER BY qt").collect().map(_.getLong(0)).toSeq
    assert(dw3 == Seq(15L, 20L, 30L), s"got $dw3")
    // ... and composes with a COLUMNS select list on the same pass.
    val dw4 = spark.sql(
      "SELECT min(COLUMNS('^q')) FROM sq_quotes WHERE COLUMNS('^q|^p') > 15")
      .head().getLong(0)
    assert(dw4 == 20L)
    // A session with its OWN columns function keeps it — even for a
    // statement the rewrite could have expanded.
    spark.udf.register("columns", (s: String) => s.length)
    try {
      assert(spark.sql("SELECT columns('abc') AS n FROM sq_quotes LIMIT 1")
        .head().getInt(0) == 3)
    } finally spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("columns"))
  }

  test("macro body with a subquery executes; repeated calls stay independent") {
    import spark.implicits._
    // Round 16: substitution descends into PlanExpression plans
    // (deepTransform), so subquery bodies register and run.
    Seq(1, 5, 9).toDF("n").createOrReplaceTempView("subm_t")
    spark.sql(
      "CREATE OR REPLACE TEMP MACRO sub_macro(a) AS a + (SELECT max(n) FROM subm_t WHERE n < a)")
    // TWO calls in one statement must not share subquery exprIds — the
    // regression the q133 gate caught: the second call silently
    // returning the first's subquery result.
    val r = spark.sql("SELECT sub_macro(6) AS x, sub_macro(100) AS y").head()
    assert(r.getInt(0) == 11 && r.getInt(1) == 109, s"got: $r")
  }

  test("self-referential macro raises a clean recursive-macro error at creation") {
    val ex = intercept[Exception](spark.sql(
      "CREATE MACRO rec_macro(a) AS CASE WHEN a <= 0 THEN 0 ELSE rec_macro(a - 1) END"))
    assert(ex.getMessage.contains("recursive macros are not supported"),
      s"expected the recursive-macro error, got: ${ex.getMessage}")
  }

  test("hint parser delegates cleanly: valid statements and unrelated errors unchanged") {
    assert(spark.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
    val ex = intercept[Exception](spark.sql("SELEKT 1"))
    assert(!ex.getMessage.contains("fixpoint("))
    assert(!ex.getMessage.contains("asof_join("))
  }

  test("vector_cosine errors loudly on dimension mismatch instead of scoring a prefix") {
    // A 1-element vector would otherwise 'match' anything at cosine 1.0 —
    // silent truncation masks corrupt embeddings (DuckDB errors too).
    val ok = spark.sql(
      "SELECT vector_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head().getDouble(0)
    assert(math.abs(ok - 1.0) < 1e-12)
    val ex = intercept[Exception](spark.sql(
      "SELECT vector_cosine(array(1.0f, 2.0f, 3.0f), array(1.0f)) AS c").collect())
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")),
      s"got: ${ex.getMessage}")
  }

  test("vector fns reject wrong arity with a signature message, not an index error") {
    val ex = intercept[Exception](spark.sql("SELECT vector_cosine(array(1.0f))"))
    assert(ex.getMessage.contains("expects exactly 2"), s"got: ${ex.getMessage}")
    val ex2 = intercept[Exception](spark.sql("SELECT vector_norm()"))
    assert(ex2.getMessage.contains("expects exactly 1"), s"got: ${ex2.getMessage}")
  }

  test("COPY ... TO statement exports and returns DuckDB's Count row") {
    registerMarket()
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString
    // Parenthesized-query form, explicit FORMAT: one row per quote with
    // px > 60 → 3 rows written, Count = 3.
    val r = spark.sql(
      s"COPY (SELECT sym, qt, px FROM sq_quotes WHERE px > 60.0) " +
        s"TO '$dir/high.parquet' (FORMAT PARQUET)")
    assert(r.columns.toSeq == Seq("Count"))
    assert(r.head().getLong(0) == 3L)
    val back = spark.read.parquet(s"$dir/high.parquet")
    assert(back.columns.toSeq == Seq("sym", "qt", "px"))
    assert(back.count() == 3)
    // Table-name form, format inferred from the .parquet extension,
    // no options clause.
    val r2 = spark.sql(s"COPY sq_quotes TO '$dir/all.parquet'")
    assert(r2.head().getLong(0) == 4L)
    assert(spark.read.parquet(s"$dir/all.parquet").count() == 4)
    // CSV with the HEADER default (true): header row must come back.
    spark.sql(s"COPY sq_quotes TO '$dir/all.csv' (FORMAT CSV, HEADER)")
    val csv = spark.read.option("header", "true").csv(s"$dir/all.csv")
    assert(csv.columns.toSeq == Seq("sym", "qt", "px", "tag"))
    assert(csv.count() == 4)
    // HEADER false: first line is data, not names.
    spark.sql(s"COPY sq_quotes TO '$dir/raw.csv' (FORMAT CSV, HEADER false)")
    val raw = spark.read.csv(s"$dir/raw.csv")
    assert(raw.columns.head == "_c0" && raw.count() == 4)
    // The write is EAGER (COPY is a statement): analysis alone, no
    // collect, must have produced the files — proven above by reading
    // paths whose result rows were never consumed... except r/r2; prove
    // it explicitly with a never-collected statement.
    spark.sql(s"COPY (SELECT sym FROM sq_quotes) TO '$dir/eager.parquet'")
    assert(spark.read.parquet(s"$dir/eager.parquet").count() == 4)
    // PARTITION_BY: hive-style col=value/ layout, partition column
    // recovered on re-read, Count still the full row count.
    val rp = spark.sql(
      s"COPY sq_quotes TO '$dir/part' (FORMAT PARQUET, PARTITION_BY (sym))")
    assert(rp.head().getLong(0) == 4L)
    val partDirs = new java.io.File(s"$dir/part").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(partDirs == Seq("sym=1", "sym=2"), s"got $partDirs")
    val backP = spark.read.parquet(s"$dir/part")
    assert(backP.columns.sorted.toSeq == Seq("px", "qt", "sym", "tag"))
    assert(backP.filter(col("sym") === 1).count() == 3)
    // DELIMITER and COMPRESSION execute (round 14): a '|'-separated CSV
    // reads back under the same sep; zstd parquet round-trips and the
    // codec shows in the part-file names.
    spark.sql(s"COPY sq_quotes TO '$dir/pipe.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
    val pipeBack = spark.read.option("header", "true").option("sep", "|")
      .csv(s"$dir/pipe.csv")
    assert(pipeBack.count() == 4 &&
      pipeBack.columns.toSeq == Seq("sym", "qt", "px", "tag"))
    val pipeRaw = spark.read.text(s"$dir/pipe.csv").limit(1)
      .collect()(0).getString(0)
    assert(pipeRaw.contains("|"), s"got: $pipeRaw")
    spark.sql(s"COPY sq_quotes TO '$dir/z.parquet' (FORMAT PARQUET, COMPRESSION zstd)")
    assert(spark.read.parquet(s"$dir/z.parquet").count() == 4)
    // Round 20: a file-extension target is ONE FILE at the path (host
    // parity), not a part-file directory; the codec survives in the
    // parquet footer (read back fine), not the filename.
    val zTarget = new java.io.File(s"$dir/z.parquet")
    assert(zTarget.isFile, s"expected a single file at $zTarget")
    // FORMAT JSON executes now (its own test); unsupported shapes
    // still decline to the guidance hint.
    assert(spark.sql(s"COPY sq_quotes TO '$dir/x.json' (FORMAT JSON)")
      .head().getLong(0) == 4L)
    val ex = intercept[Exception](spark.sql(
      s"COPY sq_quotes TO '$dir/x.avro' (FORMAT AVRO)"))
    assert(ex.getMessage.contains("COPY"), s"got: ${ex.getMessage}")
    val ex2 = intercept[Exception](spark.sql(
      s"COPY sq_quotes TO '$dir/y.parquet' (FORMAT PARQUET, DELIMITER '|')"))
    assert(ex2.getMessage.contains("COPY"), s"got: ${ex2.getMessage}")
    // COPY FROM (import): appends into an existing catalog table and
    // returns the Count row. Clear any leftover warehouse dir first —
    // the in-memory catalog forgets tables between JVMs but their
    // directories survive.
    spark.sql("DROP TABLE IF EXISTS graft_copy_in")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh)
      if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "graft_copy_in"))
    spark.sql("CREATE TABLE graft_copy_in (sym BIGINT, qt BIGINT, " +
      "px DOUBLE, tag STRING) USING parquet")
    val ri = spark.sql(s"COPY graft_copy_in FROM '$dir/all.parquet'")
    assert(ri.columns.toSeq == Seq("Count"))
    assert(ri.head().getLong(0) == 4L)
    assert(spark.table("graft_copy_in").count() == 4)
    // CSV import parses under the TARGET table's schema and APPENDS.
    val ri2 = spark.sql(
      s"COPY graft_copy_in FROM '$dir/all.csv' (FORMAT CSV, HEADER)")
    assert(ri2.head().getLong(0) == 4L)
    assert(spark.table("graft_copy_in").count() == 8)
    assert(spark.table("graft_copy_in").filter("sym = 1").count() == 6)
    spark.sql("DROP TABLE graft_copy_in")
    // Import into a temp view is a clear error (needs a real table).
    val ex3 = intercept[Exception](spark.sql(
      s"COPY sq_quotes FROM '$dir/all.csv'"))
    assert(ex3.getMessage.nonEmpty)
    // A parenthesized CTE source (valid DuckDB) runs: the rewrite keeps
    // the parens so the source routes through spark.sql.
    val rw = spark.sql(s"COPY (WITH hi AS (SELECT sym FROM sq_quotes " +
      s"WHERE px > 60.0) SELECT * FROM hi) TO '$dir/cte.parquet'")
    assert(rw.head().getLong(0) == 3L)
  }

  test("read_parquet/read_csv/read_json TVFs splice lazy datasource scans") {
    registerMarket()
    val dir = java.nio.file.Files.createTempDirectory("graft_read").toString
    spark.sql(s"COPY sq_quotes TO '$dir/a.parquet'")
    spark.sql(s"COPY (SELECT * FROM sq_quotes WHERE px > 60.0) TO '$dir/b.parquet'")
    // Single path.
    val one = spark.sql(s"SELECT COUNT(*) AS n FROM read_parquet('$dir/a.parquet')")
    assert(one.head().getLong(0) == 4L)
    // Glob over datasource directories — Spark's reader expands it.
    val glob = spark.sql(
      s"SELECT COUNT(*) AS n FROM read_parquet('$dir/*.parquet')")
    assert(glob.head().getLong(0) == 7L)
    // Composes under ordinary SQL (filter/group over the splice).
    val agg = spark.sql(s"SELECT sym, COUNT(*) AS n FROM " +
      s"read_parquet('$dir/a.parquet') WHERE px > 60.0 GROUP BY sym ORDER BY sym")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L)))
    // CSV with header; the _auto alias; inferred numeric types.
    spark.sql(s"COPY sq_quotes TO '$dir/q.csv' (FORMAT CSV, HEADER)")
    val csv = spark.sql(s"SELECT COUNT(*) AS n FROM read_csv('$dir/q.csv')")
    assert(csv.head().getLong(0) == 4L)
    val auto = spark.sql(
      s"SELECT SUM(qt) AS s FROM read_csv_auto('$dir/q.csv') WHERE px > 60.0")
    assert(auto.head().getLong(0) == 60L)
    // JSON (NDJSON, the Spark/DuckDB common ground).
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/d.json"),
      "{\"k\": 1, \"v\": \"x\"}\n{\"k\": 2, \"v\": \"y\"}\n")
    val js = spark.sql(
      s"SELECT SUM(k) AS s, MAX(v) AS m FROM read_json('$dir/d.json')")
    val jr = js.head()
    assert(jr.getLong(0) == 3L && jr.getString(1) == "y")
    // Arity errors read as signatures, not index errors.
    val ex = intercept[Exception](spark.sql(
      s"SELECT * FROM read_parquet('$dir/a.parquet', true)"))
    assert(ex.getMessage.contains("spark.read.option"), s"got: ${ex.getMessage}")
  }

  test("DuckDB list/string function aliases map onto native expressions") {
    def one(sql: String) = spark.sql(s"SELECT $sql AS r").head()
    // string_split quotes the separator: '.' is a LITERAL dot, not
    // regex-any (the trap the alias exists to avoid).
    assert(one("string_split('a.b.c', '.')").getSeq[String](0) ==
      Seq("a", "b", "c"))
    assert(one("string_split_regex('a1b22c', '\\d+')").getSeq[String](0) ==
      Seq("a", "b", "c"))
    assert(one("len('hello')").getLong(0) == 5L)
    assert(one("len(list_value(1, 2, 3))").getLong(0) == 3L)
    assert(one("len(CAST('ab' AS BINARY))").getLong(0) == 2L)
    assert(one("list_sort(list_concat(list_value(3, 1), list_value(2)))")
      .getSeq[Int](0) == Seq(1, 2, 3))
    // DuckDB's element-FIRST list_prepend order.
    assert(one("list_prepend(0, list_value(1, 2))").getSeq[Int](0) ==
      Seq(0, 1, 2))
    assert(one("list_append(list_value(1, 2), 3)").getSeq[Int](0) ==
      Seq(1, 2, 3))
    assert(one("list_contains(list_value(1, 2), 2)").getBoolean(0))
    assert(one("list_transform(list_value(1, 2), x -> x * 10)")
      .getSeq[Int](0) == Seq(10, 20))
    assert(one("list_filter(list_value(1, 2, 3), x -> x > 1)")
      .getSeq[Int](0) == Seq(2, 3))
    assert(one("list_distinct(list_value(1, 1, 2))").getSeq[Int](0).sorted ==
      Seq(1, 2))
    assert(one("regexp_matches('abc123', '\\d+')").getBoolean(0))
    assert(!one("regexp_matches('abcdef', '\\d+')").getBoolean(0))
    // Arity errors are signatures, not index errors.
    val ex = intercept[Exception](spark.sql("SELECT len()"))
    assert(ex.getMessage.contains("argument"), s"got: ${ex.getMessage}")
    // List aggregates: NULL-skipping, DuckDB's empty→NULL contract.
    assert(one("list_min(list_value(3, 1, 2))").getInt(0) == 1)
    assert(one("list_max(list_value(3, 1, 2))").getInt(0) == 3)
    assert(one("list_sum(list_value(1, NULL, 2))").getDouble(0) == 3.0)
    assert(one("list_avg(list_value(1, NULL, 3))").getDouble(0) == 2.0)
    assert(one("list_sum(CAST(array() AS ARRAY<INT>))").isNullAt(0))
    assert(one("list_avg(list_value(CAST(NULL AS INT)))").isNullAt(0))
    assert(one("list_unique(list_value(1, 1, 2, NULL))").getLong(0) == 2L)
    assert(one("list_reverse(list_value(1, 2, 3))").getSeq[Int](0) ==
      Seq(3, 2, 1))
    assert(one("list_reverse_sort(list_value(1, 3, 2))").getSeq[Int](0) ==
      Seq(3, 2, 1))
    // epoch family: DOUBLE seconds with fraction / BIGINT ms / BIGINT µs.
    val ep = spark.sql("SELECT epoch(TIMESTAMP '2020-01-01 00:00:01.5') e, " +
      "epoch_ms(TIMESTAMP '2020-01-01 00:00:01.5') ms, " +
      "epoch_us(TIMESTAMP '2020-01-01 00:00:01.5') us").head()
    assert(ep.getDouble(0) == 1577836801.5)
    assert(ep.getLong(1) == 1577836801500L)
    assert(ep.getLong(2) == 1577836801500000L)
  }

  test("strftime/strptime translate the C format dialect at analysis") {
    def one(sql: String) = spark.sql(s"SELECT $sql AS r").head()
    assert(one("strftime(TIMESTAMP '2020-03-04 05:06:07', '%Y-%m-%d %H:%M:%S')")
      .getString(0) == "2020-03-04 05:06:07")
    assert(one("strftime(TIMESTAMP '2020-03-04 05:06:07', '%a %b %d, %Y')")
      .getString(0) == "Wed Mar 04, 2020")
    assert(one("strftime(DATE '2020-03-04', '%d/%m/%Y')")
      .getString(0) == "04/03/2020")
    // The literal-letter trap: T between codes must not be a pattern.
    assert(one("strftime(TIMESTAMP '2020-03-04 05:06:07', '%Y-%m-%dT%H')")
      .getString(0) == "2020-03-04T05")
    assert(one("strftime(TIMESTAMP '2020-03-04 05:06:07', '%-d.%-m.%Y')")
      .getString(0) == "4.3.2020")
    assert(one("CAST(strptime('04.03.2020 5:06', '%d.%m.%Y %H:%M') AS STRING)")
      .getString(0) == "2020-03-04 05:06:00")
    // Untranslatable directive: a named error, not garbage output.
    val ex = intercept[Exception](spark.sql(
      "SELECT strftime(TIMESTAMP '2020-01-01', '%V')"))
    assert(ex.getMessage.contains("'%V'"), s"got: ${ex.getMessage}")
    // Formatter-reserved punctuation is quoted, not silently eaten:
    // [ ] would open a DateTimeFormatter optional section.
    assert(one("strftime(TIMESTAMP '2020-03-04 05:06:07', '[%H:%M]')")
      .getString(0) == "[05:06]")
  }

  test("glob TVF lists matching files; tuning PRAGMA no-ops") {
    val files = spark.sql(
      "SELECT * FROM glob('/root/testdata/sf0.001/*.parquet')")
    assert(files.columns.toSeq == Seq("file"))
    val names = files.collect().map(_.getString(0)).toSeq
    assert(names.exists(_.endsWith("nation.parquet")), s"got $names")
    assert(names == names.sorted)
    assert(spark.sql("SELECT COUNT(*) n FROM glob('/no/such/dir/*.x')")
      .head().getLong(0) == 0L)
    // Tuning pragmas execute as warn-once empty no-ops (round 15 —
    // DuckDB runs them without error; the guidance moved into the
    // stderr warning). Introspection pragmas execute for real
    // (PragmaSpec).
    assert(spark.sql("PRAGMA threads=8").collect().isEmpty)
    // UNION BY NAME now executes for bare-query shapes; the WITH-prefixed
    // form still declines (CTE scope can't span the split) with a hint
    // that names the executing surface.
    val exU = intercept[Exception](spark.sql(
      "WITH c AS (SELECT 1 AS a) SELECT a FROM c UNION ALL BY NAME SELECT 2 AS a"))
    assert(exU.getMessage.contains("union_by_name"), s"got: ${exU.getMessage}")
  }

  test("unnest, strpos, slicing, list_aggregate, date_diff dual semantics") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // unnest as the generator name (DuckDB's spelling of explode).
    assert(spark.sql("SELECT unnest(array(1, 2, 3)) AS v").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(one[Int]("SELECT strpos('hello', 'll')") == 3)
    assert(one[Long]("SELECT array_length(array(1, 2, 3))") == 3L)
    // 1-based INCLUSIVE slicing, DuckDB's contract.
    assert(spark.sql("SELECT list_slice(array(10, 20, 30, 40), 2, 3)")
      .head().getSeq[Int](0) == Seq(20, 30))
    // Missing element → NULL (Spark's native array_position says 0).
    assert(one[Long]("SELECT list_position(array(10, 20), 20)") == 2L)
    assert(spark.sql("SELECT list_position(array(10, 20), 99)").head().isNullAt(0))
    // list_aggregate dispatch.
    assert(one[Double]("SELECT list_aggregate(array(1.0, 2.0, 3.0), 'sum')") == 6.0)
    assert(one[Int]("SELECT list_aggregate(array(3, 1, 2), 'min')") == 1)
    assert(one[Long]("SELECT list_aggregate(array(1, NULL, 2), 'count')") == 2L)
    assert(one[Int]("SELECT list_aggregate(array(7, 8), 'first')") == 7)
    // date_diff: DuckDB string unit counts BOUNDARY crossings...
    assert(one[Long](
      "SELECT date_diff('month', DATE '2020-01-31', DATE '2020-02-01')") == 1L)
    assert(one[Long](
      "SELECT date_diff('year', DATE '2020-12-31', DATE '2021-01-01')") == 1L)
    assert(one[Long](
      "SELECT date_diff('day', DATE '2020-01-01', DATE '2020-02-01')") == 31L)
    assert(one[Long](
      "SELECT date_diff('hour', TIMESTAMP '2020-01-01 10:59:00', TIMESTAMP '2020-01-01 11:01:00')") == 1L)
    // ...while Spark's own unquoted identifier form keeps native
    // complete-interval semantics, and the 2-arg form stays days.
    assert(one[Long](
      "SELECT date_diff(MONTH, DATE '2020-01-31', DATE '2020-02-01')") == 0L)
    assert(one[Int](
      "SELECT datediff(DATE '2020-02-01', DATE '2020-01-01')") == 31)
    assert(one[Long](
      "SELECT datediff('month', DATE '2020-01-31', DATE '2020-02-01')") == 1L)
    // DuckDB 3-arg date_sub = complete intervals; 2-arg native minus-days.
    assert(one[Long](
      "SELECT date_sub('month', DATE '2020-01-31', DATE '2020-02-01')") == 0L)
    assert(one[java.sql.Date](
      "SELECT date_sub(DATE '2020-01-10', 3)").toString == "2020-01-07")
  }

  test("DuckDB aggregate names, time_bucket, and the round-14 scalar batch") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // arg_min/arg_max map to min_by/max_by (same argument order).
    spark.sql("SELECT * FROM VALUES ('a', 2), ('b', 1), ('c', 3) AS t(x, y)")
      .createOrReplaceTempView("am_t")
    assert(one[String]("SELECT arg_min(x, y) FROM am_t") == "b")
    assert(one[String]("SELECT arg_max(x, y) FROM am_t") == "c")
    assert(one[String]("SELECT argmax(x, y) FROM am_t") == "c")
    // quantile_cont interpolates; quantile_disc picks a data value
    // (DuckDB 1.0 values pinned: disc 0.5 → 2, disc 0.25 → 1, cont → 2.5).
    spark.sql("SELECT CAST(v AS DOUBLE) AS v FROM VALUES (1.0), (2.0), (3.0), (4.0) AS t(v)")
      .createOrReplaceTempView("qt_t")
    assert(one[Double]("SELECT quantile_cont(v, 0.5) FROM qt_t") == 2.5)
    assert(one[Double]("SELECT quantile_disc(v, 0.5) FROM qt_t") == 2.0)
    assert(one[Double]("SELECT quantile_disc(v, 0.25) FROM qt_t") == 1.0)
    assert(one[Double]("SELECT quantile(v, 0.5) FROM qt_t") == 2.0)
    // list() is DuckDB's collect_list.
    assert(spark.sql("SELECT list_sort(list(v)) FROM qt_t").head()
      .getSeq[Double](0).toList == List(1.0, 2.0, 3.0, 4.0))
    // monthname/dayname: DuckDB's FULL names (the native Spark 4.1
    // spellings abbreviate — deliberately overridden, see the alias doc).
    assert(one[String]("SELECT monthname(DATE '2024-12-05')") == "December")
    assert(one[String]("SELECT dayname(DATE '2024-03-05')") == "Tuesday")
    // time_bucket: DuckDB origins — Monday 2000-01-03 for day-and-below
    // widths (weeks start Monday, incl. pre-origin timestamps), 2000-01-01
    // for month grids.
    def ts(sql: String) = one[java.sql.Timestamp](sql).toString
    assert(ts("SELECT time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-03-05 10:37:22')")
      == "2024-03-05 10:30:00.0")
    assert(ts("SELECT time_bucket(INTERVAL '90 minutes', TIMESTAMP '2024-03-05 10:37:22')")
      == "2024-03-05 10:30:00.0")
    assert(ts("SELECT time_bucket(INTERVAL '1 week', TIMESTAMP '2024-03-05 10:37:22')")
      == "2024-03-04 00:00:00.0")
    assert(ts("SELECT time_bucket(INTERVAL '1 week', TIMESTAMP '1999-12-28 12:00:00')")
      == "1999-12-27 00:00:00.0")
    assert(ts("SELECT time_bucket(INTERVAL '1 year', TIMESTAMP '2024-03-05 10:37:22')")
      == "2024-01-01 00:00:00.0")
    assert(ts("SELECT time_bucket(INTERVAL '3 months', TIMESTAMP '1999-02-15 00:00:00')")
      == "1999-01-01 00:00:00.0")
    val exW = intercept[Exception](spark.sql(
      "SELECT time_bucket(x, TIMESTAMP '2024-01-01') FROM VALUES (INTERVAL '1' HOUR) t(x)"))
    assert(exW.getMessage.contains("constant INTERVAL"), s"got: ${exW.getMessage}")
    // String predicates under DuckDB's names.
    // list_sort order/null-placement arguments (DuckDB 1.0 pinned:
    // default ASC NULLS LAST; explicit forms cover all four corners).
    def ints(sql: String) = spark.sql(sql).head().getSeq[Any](0).toList
    assert(ints("SELECT list_sort(array(3, 1, NULL, 2))") ==
      List(1, 2, 3, null))
    assert(ints("SELECT list_sort(array(3, 1, NULL, 2), 'DESC')") ==
      List(3, 2, 1, null))
    assert(ints("SELECT list_sort(array(3, 1, NULL, 2), 'DESC', 'NULLS FIRST')") ==
      List(null, 3, 2, 1))
    assert(ints("SELECT list_sort(array(3, 1, NULL, 2), 'ASC', 'NULLS FIRST')") ==
      List(null, 1, 2, 3))
    assert(one[Boolean]("SELECT starts_with('abcdef', 'abc')"))
    assert(one[Boolean]("SELECT suffix('abcdef', 'def')"))
    // Element extraction: 1-based, NULL (not an ANSI error) out of bounds.
    assert(one[Int]("SELECT list_extract(array(10, 20), 2)") == 20)
    assert(spark.sql("SELECT array_extract(array(10, 20), 5)").head().isNullAt(0))
    // Set-ish list predicates.
    assert(one[Boolean]("SELECT list_has_any(array(1, 2), array(2, 3))"))
    assert(one[Boolean]("SELECT list_has_all(array(1, 2, 3), array(2, 3))"))
    assert(one[Boolean]("SELECT list_has_all(array(1), CAST(array() AS ARRAY<INT>))"))
    assert(spark.sql("SELECT list_sort(list_intersect(array(1,2,3), array(2,3,4)))")
      .head().getSeq[Int](0).toList == List(2, 3))
    assert(one[String]("SELECT array_to_string(array(1, 2, 3), '-')") == "1-2-3")
    // list_reduce: first element seeds the fold.
    assert(one[Int]("SELECT list_reduce(array(1, 2, 3), (a, b) -> a + b)") == 6)
    assert(one[Int]("SELECT list_reduce(array(5), (a, b) -> a + b)") == 5)
  }

  test("DuckDB bracket/brace literal syntax rewrites and runs") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    def arr[T](sql: String): List[T] =
      spark.sql(sql).head().getSeq[T](0).toList
    // List literals, incl. the ARRAY keyword form and empties.
    assert(arr[Int]("SELECT [1, 2, 3]") == List(1, 2, 3))
    assert(arr[Int]("SELECT ARRAY[4, 5]") == List(4, 5))
    assert(one[Long]("SELECT len([])") == 0L)
    // Nested literal + postfix chain on the literal.
    assert(one[Int]("SELECT ([10, 20, 30])[2]") == 20)
    assert(one[Int]("SELECT [[1], [2, 3]][2][1]") == 2)
    // 1-based indexing with DuckDB's NULL contract (0, out-of-bounds,
    // negative-from-end) — pinned against DuckDB.
    assert(one[Int]("SELECT ([10, 20, 30])[-1]") == 30)
    assert(spark.sql("SELECT ([10, 20, 30])[0]").head().isNullAt(0))
    assert(spark.sql("SELECT ([10, 20, 30])[7]").head().isNullAt(0))
    // A bare `expr[i]` parses NATIVELY in Spark (0-based) and never
    // reaches the rewrite — by design. Statements carrying DuckDB-only
    // syntax (here the [0] literal) get DuckDB indexing throughout.
    assert(spark.sql("SELECT ('abcdef')[2] AS c, [0] AS m").head()
      .getString(0) == "b")
    assert(spark.sql("SELECT ('abcdef')[-2] AS c, [0] AS m").head()
      .getString(0) == "e")
    // Slicing: 1-based inclusive, clamped, negative-from-end, open ends.
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[2:3]") == List(20, 30))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[0:2]") == List(10, 20))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[3:10]") == List(30, 40))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[3:2]") == Nil)
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[-3:-2]") == List(20, 30))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[-2:]") == List(30, 40))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[:2]") == List(10, 20))
    assert(arr[Int]("SELECT ([10, 20, 30, 40])[:]") == List(10, 20, 30, 40))
    assert(one[String]("SELECT ('abcdef')[2:3]") == "bc")
    assert(one[String]("SELECT ('abcdef')[-3:-2]") == "de")
    assert(one[String]("SELECT ('abcdef')[3:]") == "cdef")
    // Struct and map literals; struct/map bracket access. DuckDB 1.0
    // pinned: map[key] yields a LIST of matches (empty when absent);
    // struct bracket stays scalar.
    assert(one[Int]("SELECT ({'a': 1, 'b': 2})['b']") == 2)
    assert(arr[Int]("SELECT (MAP {'x': 10, 'y': 20})['y']") == List(20))
    // Map keys are expressions (ints, even nested literals), not names.
    assert(arr[String]("SELECT (MAP {1: 'a', 2 + 1: 'b'})[3]") == List("b"))
    assert(arr[String]("SELECT (MAP {1: 'a'})[9]") == Nil)
    // DuckDB's 2-arg map(keys, values) list constructor (round 17).
    assert(arr[String]("SELECT map([1,2],['a','b'])[1]") == List("a"))
    // the 2-arg scalar shape keeps Spark's single-entry semantics
    // (MAP {k: v} literals lower onto it)
    assert(one[Int]("SELECT element_at(map('k', 7), 'k')") == 7)
    val st = spark.sql("SELECT {'a': [1, 2], 'b': {'c': 3}} AS s").head()
      .getStruct(0)
    assert(st.getSeq[Int](0).toList == List(1, 2))
    assert(st.getStruct(1).getInt(0) == 3)
    // Comprehensions, with and without IF, over columns too.
    assert(arr[Int]("SELECT [x * 2 FOR x IN [1, 2, 3]]") == List(2, 4, 6))
    assert(arr[Int]("SELECT [x + 1 FOR x IN [1, 2, 3] IF x > 1]") == List(3, 4))
    spark.sql("SELECT split('a bb ccc', ' ') AS toks")
      .createOrReplaceTempView("dl_toks")
    assert(arr[Long](
      "SELECT [len(t) FOR t IN toks IF len(t) >= 2] FROM dl_toks") ==
      List(2L, 3L))
    // Postfix on a column receiver; composes with WHERE. The [1:1]
    // slice marks the statement as DuckDB dialect, so toks[-1] is
    // 1-based-from-end here.
    assert(one[String](
      "SELECT toks[-1] FROM dl_toks WHERE toks[1:1] = ['a']") == "ccc")
    // Mixed with another dialect rewrite (EXCLUDE) — chained rewrites.
    spark.sql("SELECT 1 AS a, 2 AS b").createOrReplaceTempView("dl_two")
    assert(spark.sql("SELECT * EXCLUDE (b), [a, 9] AS l FROM dl_two")
      .head().getSeq[Int](1).toList == List(1, 9))
    // Strings containing brackets pass through untouched.
    assert(one[String]("SELECT '[not a list]' || ('ab')[1:1]") == "[not a list]a")
    // A declining shape lands on the guidance hint.
    val ex = intercept[Exception](spark.sql("SELECT {1: 2}"))
    assert(ex.getMessage.contains("named_struct"), s"got: ${ex.getMessage}")
  }

  test("maintenance statements: INDEX/VACUUM no-op, ANALYZE maps to table stats") {
    // CREATE/DROP INDEX and VACUUM: DuckDB's empty result, script keeps
    // running.
    spark.sql("SELECT 1 AS a").createOrReplaceTempView("mx_t")
    assert(spark.sql("CREATE INDEX mx_idx ON mx_t (a)").count() == 0)
    assert(spark.sql("CREATE UNIQUE INDEX mx_u ON mx_t (a)").count() == 0)
    assert(spark.sql("DROP INDEX mx_idx").count() == 0)
    assert(spark.sql("VACUUM").count() == 0)
    assert(spark.sql("ANALYZE").count() == 0)
    // ANALYZE <tbl> runs Spark's real COMPUTE STATISTICS against a
    // catalog table (stats visible in DESCRIBE EXTENDED afterwards).
    val tbl = "graft_mx_stats"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    spark.sql(s"CREATE TABLE $tbl USING parquet AS SELECT 1 AS a UNION ALL SELECT 2")
    spark.sql(s"ANALYZE $tbl")
    val stats = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .find(_._1 == "Statistics").map(_._2).getOrElse("")
    assert(stats.contains("2 rows"), s"got: $stats")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("PREPARE/EXECUTE/DEALLOCATE run with $N and ? parameters") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // $N markers, reusable; arguments splice parenthesized.
    spark.sql("PREPARE pe_q AS SELECT $1 + $1 AS v, $2 AS w")
    val r = spark.sql("EXECUTE pe_q(4, 'a')").head()
    assert(r.getInt(0) == 8 && r.getString(1) == "a")
    // Expression arguments evaluate at the splice site.
    assert(one[Int]("EXECUTE pe_q(1 + 2, 'b')") == 6)
    // Positional ? markers.
    spark.sql("PREPARE pe_r AS SELECT * FROM range(10) WHERE id < ? ORDER BY id")
    assert(spark.sql("EXECUTE pe_r(3)").count() == 3)
    // Re-PREPARE replaces silently (DuckDB 1.0 pinned).
    spark.sql("PREPARE pe_q AS SELECT $1 * 10 AS v")
    assert(one[Int]("EXECUTE pe_q(7)") == 70)
    // A prepared statement carrying ANOTHER dialect construct re-enters
    // the rewrite chain: QUALIFY inside a template runs.
    spark.sql("SELECT * FROM VALUES (1, 5), (1, 9), (2, 3) AS t(g, v)")
      .createOrReplaceTempView("pe_t")
    spark.sql("""PREPARE pe_top AS SELECT g, v FROM pe_t
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY v DESC) <= $1
      ORDER BY g, v""")
    assert(spark.sql("EXECUTE pe_top(1)").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 9), (2, 3)))
    // String literals in the template are never substituted.
    spark.sql("PREPARE pe_s AS SELECT 'has $1 and ?' AS s, $1 AS v")
    val rs = spark.sql("EXECUTE pe_s(5)").head()
    assert(rs.getString(0) == "has $1 and ?" && rs.getInt(1) == 5)
    // Errors match DuckDB's binder: wrong count, unknown name.
    val exCount = intercept[Exception](spark.sql("EXECUTE pe_s(1, 2)"))
    assert(exCount.getMessage.contains("argument"), s"got: ${exCount.getMessage}")
    spark.sql("DEALLOCATE pe_s")
    val exGone = intercept[Exception](spark.sql("EXECUTE pe_s(1)"))
    assert(exGone.getMessage.contains("does not exist"), s"got: ${exGone.getMessage}")
  }

  test("SET VARIABLE / getvariable / RESET VARIABLE session variables") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // SET VARIABLE creates-or-replaces (no DECLARE needed — the pasted
    // DuckDB script shape).
    spark.sql("SET VARIABLE gv_n = 40 + 2")
    assert(one[Int]("SELECT getvariable('gv_n')") == 42)
    spark.sql("SET VARIABLE gv_n = 7")
    assert(one[Int]("SELECT getvariable('gv_n')") == 7)
    spark.sql("SET VARIABLE gv_s = 'ab' || 'c'")
    assert(one[String]("SELECT getvariable('gv_s') || '!'") == "abc!")
    // Reads compose into real queries (filter over a view).
    spark.sql("SELECT * FROM VALUES (1), (5), (9) AS t(x)")
      .createOrReplaceTempView("gv_t")
    spark.sql("SET VARIABLE gv_lim = 5")
    assert(spark.sql(
      "SELECT COUNT(*) FROM gv_t WHERE x <= getvariable('gv_lim')")
      .head().getLong(0) == 2L)
    // Missing variable → NULL (DuckDB's contract), and RESET removes.
    assert(spark.sql("SELECT getvariable('gv_missing')").head().isNullAt(0))
    spark.sql("RESET VARIABLE gv_n")
    assert(spark.sql("SELECT getvariable('gv_n')").head().isNullAt(0))
  }

  test("SUMMARIZE query form, DESCRIBE query, TRUNCATE t, SHOW ALL TABLES") {
    // SUMMARIZE over a QUERY (not just a table name).
    val sm = spark.sql(
      "SUMMARIZE SELECT * FROM VALUES (1), (2), (30) AS t(x)")
    val row = sm.collect().head
    assert(sm.columns.contains("column_name") && row.getString(0) == "x")
    // DESCRIBE SELECT — DuckDB's shape of Spark's DESCRIBE QUERY.
    val d = spark.sql("DESCRIBE SELECT 1 AS a, 'x' AS b").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("a", "b"))
    // TRUNCATE without the TABLE keyword.
    val tbl = "graft_trunc_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    spark.sql(s"CREATE TABLE $tbl USING parquet AS SELECT 1 AS a")
    spark.sql(s"TRUNCATE $tbl")
    assert(spark.table(tbl).count() == 0)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // SHOW ALL TABLES (DuckDB spelling).
    assert(spark.sql("SHOW ALL TABLES").columns.contains("tableName"))
  }

  test("SELECT * RENAME and the // integer-division operator") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    spark.sql("SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(a, b)")
      .createOrReplaceTempView("rn_t")
    // * RENAME: in-place renames, order preserved, untouched columns kept.
    val r = spark.sql("SELECT * RENAME (a AS id) FROM rn_t ORDER BY id")
    assert(r.columns.toSeq == Seq("id", "b"))
    assert(r.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // Unknown source column declines to the hint path (parse error).
    intercept[Exception](spark.sql("SELECT * RENAME (zz AS q) FROM rn_t"))
    // `//` → div: truncation toward zero on integers (DuckDB 1.0 pinned:
    // 7//2=3, -7//2=-3); strings/comments pass through untouched.
    assert(one[Long]("SELECT 7 // 2") == 3L)
    assert(one[Long]("SELECT -7 // 2") == -3L)
    assert(one[Long]("SELECT a // 2 FROM rn_t WHERE a = 2 -- halve // here\n") == 1L)
    assert(one[String]("SELECT 'a//b' || CAST(4 // 2 AS STRING)") == "a//b2")
  }

  test("** power operator executes with DuckDB 1.0 semantics") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // Left-associative, DOUBLE result, binds above * (all pinned on
    // DuckDB 1.0: 2**3**2=64, 2*3**2=18, 2**3*2=16).
    assert(one[Double]("SELECT 2 ** 3 ** 2") == 64.0)
    assert(one[Double]("SELECT 2 * 3 ** 2") == 18.0)
    assert(one[Double]("SELECT 2 ** 3 * 2") == 16.0)
    assert(one[Double]("SELECT 2 ** 2 + 1") == 5.0)
    // Unary minus binds tighter on the base after a keyword/operator
    // (-2**2=4), stays binary after an identifier/number (3-2**2=-1).
    assert(one[Double]("SELECT -2 ** 2") == 4.0)
    assert(one[Double]("SELECT 3 - 2 ** 2") == -1.0)
    assert(one[Double]("SELECT 2 ** -1") == 0.5)
    assert(one[Double]("SELECT 10 ** -2 * 100") == 1.0)
    // Function-call and parenthesized operands; columns; CASE groups.
    assert(one[Double]("SELECT abs(-2) ** 3") == 8.0)
    assert(one[Double]("SELECT (1+1) ** 3") == 8.0)
    assert(one[Double]("SELECT CAST(2 AS BIGINT) ** 2") == 4.0)
    spark.sql("SELECT * FROM VALUES (3) AS t(a)").createOrReplaceTempView("pw_t")
    assert(one[Double]("SELECT a ** 2 FROM pw_t") == 9.0)
    assert(one[Double]("SELECT CASE WHEN a > 0 THEN (a) ** 2 ELSE 0 END FROM pw_t") == 9.0)
    // Inside strings/comments `**` is untouched.
    assert(one[String]("SELECT 'a**b' || CAST(2 ** 2 AS STRING) -- x ** y\n") == "a**b4.0")
  }

  test("~ match operators execute with DuckDB 1.0 semantics") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // DuckDB's ~ is regexp_full_match — FULL-string, not Postgres's
    // find semantics ('abcdef' ~ 'cd' is FALSE, pinned on 1.0).
    assert(one[Boolean]("SELECT 'abc' ~ '^abc$'"))
    assert(!one[Boolean]("SELECT 'abcdef' ~ 'cd'"))
    assert(one[Boolean]("SELECT 'abcdef' ~ '.*cd.*'"))
    assert(one[Boolean]("SELECT 'abc' !~ '^b'"))
    assert(!one[Boolean]("SELECT 'abc' !~ 'a.c'"))
    // ~~ / !~~ are [NOT] LIKE.
    assert(one[Boolean]("SELECT 'abc' ~~ 'a%'"))
    assert(one[Boolean]("SELECT 'abc' !~~ 'b%'"))
    // NULL propagation on either side.
    assert(spark.sql("SELECT CAST(NULL AS STRING) ~ 'a'").head().isNullAt(0))
    assert(spark.sql("SELECT 'a' ~ CAST(NULL AS STRING)").head().isNullAt(0))
    // Column operands on both sides; escaped dots in the pattern.
    spark.sql("SELECT * FROM VALUES ('ab','a.'), ('ab','b.') AS t(s, p)")
      .createOrReplaceTempView("tld_t")
    assert(spark.sql("SELECT s ~ p FROM tld_t ORDER BY p")
      .collect().map(_.getBoolean(0)).toSeq == Seq(true, false))
    assert(one[Boolean]("SELECT 'a.c' ~ 'a\\.c'"))
    assert(!one[Boolean]("SELECT 'abc' ~ 'a\\.c'"))
    // Comparison context: ~ binds tighter than = (Postgres precedence).
    assert(one[Boolean]("SELECT (1=1) = 'x' ~ 'x'"))
    // WHERE-clause use over a real scan; multiple operators per statement.
    assert(one[Long]("SELECT CAST(COUNT(*) AS BIGINT) FROM tld_t " +
      "WHERE s ~ 'a.' AND s !~~ 'c%'") == 2L)
    // Function-call and parenthesized operands.
    assert(one[Boolean]("SELECT upper('ab') ~ '[A-Z]+'"))
    assert(one[Boolean]("SELECT ('a' || 'b') ~ 'ab'"))
    // ~ binds tighter than = on the right boundary too (pinned:
    // 'aa' ~ 'a' = true is ('aa' ~ 'a') = true = false).
    assert(!one[Boolean]("SELECT 'aa' ~ 'a' = true"))
    // Right-adjacent || is the left-assoc same-precedence class:
    // ('ab' ~ 'a') || 'b' = 'falseb' (pinned on 1.0).
    assert(one[String]("SELECT 'ab' ~ 'a' || 'b'") == "falseb")
    // Strings/comments containing ~ are untouched.
    assert(one[String]("SELECT 'x~y' || CAST('a' ~ 'a' AS STRING) -- t ~ u\n") == "x~ytrue")
    // LEFT-adjacent || binds first in DuckDB ('a'||'b' ~ p groups the
    // concat) — one-operand extraction would misgroup, so it declines
    // to the hint instead of silently rewriting.
    val ex = intercept[Exception](spark.sql("SELECT 'a' || 'b' ~ 'ab'"))
    assert(ex.getMessage.contains("regexp_full_match"), ex.getMessage)
  }

  test("unexecutable constructs land on targeted hints") {
    def hint(sql: String, needle: String): Unit = {
      val ex = intercept[Exception](spark.sql(sql))
      assert(ex.getMessage.contains(needle),
        s"for [$sql] expected '$needle', got: ${ex.getMessage}")
    }
    // Literal patterns AND constant-folded literal concat chains
    // execute now (round 18); a genuinely dynamic pattern (function
    // call) still declines to the hint.
    assert(spark.sql("SELECT 'abc' SIMILAR TO 'ab' || '.'")
      .head().getBoolean(0))
    hint("SELECT 'abc' SIMILAR TO upper('a.c')", "RLIKE")
    // `2 ** 3` executes now; a quoted-identifier base still declines.
    hint("SELECT \"my col\" ** 3 FROM rn_t", "power(a, b)")
    // Directory attaches EXECUTE since round 19; database-FILE attaches
    // keep a targeted hint naming the working form.
    hint("ATTACH 'other.db' AS other", "DuckDB-engine-specific")
    // CREATE SEQUENCE with a plain identifier executes now
    // (SequenceSpec); a quoted name still declines to the hint.
    assert(spark.sql("CREATE OR REPLACE SEQUENCE seq_x").collect().isEmpty)
    spark.sql("DROP SEQUENCE seq_x").collect()
    hint("CREATE SEQUENCE \"my seq\"", "monotonically_increasing_id")
    hint("INSERT OR IGNORE INTO t VALUES (1)", "ANTI JOIN")
  }

  test("round-14 review regressions stay fixed") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // Backslashes survive the literal splice into the mutation TVFs
    // (a regex in a SET expression must not lose its escapes).
    val tbl = "graft_rr_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    spark.sql(s"CREATE TABLE $tbl USING parquet AS SELECT 'a12b34' AS s")
    // DuckDB's regexp_replace is FIRST-match-only without 'g' (r19).
    spark.sql(s"""UPDATE $tbl SET s = regexp_replace(s, '\\d+', '#', 'g')""")
    assert(spark.table(tbl).head().getString(0) == "a#b#")
    // Duplicate SET targets error instead of silently keeping one.
    val dup = intercept[Exception](
      spark.sql(s"UPDATE $tbl SET s = 'x', s = 'y'"))
    assert(dup.getMessage.contains("more than once"), s"got: ${dup.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // list_reduce over an empty list → NULL, not a slice error.
    assert(spark.sql(
      "SELECT list_reduce(CAST(array() AS ARRAY<INT>), (a, b) -> a + b)")
      .head().isNullAt(0))
    // Struct bracket keys are case-insensitive (DuckDB semantics).
    assert(one[Int]("SELECT ({'a': 1})['A'], [0]" ) == 1)
    // Long.MinValue index → NULL, never a wrapped in-bounds read.
    assert(spark.sql(
      "SELECT ([1, 2])[-9223372036854775808]").head().isNullAt(0))
    // Mixed-case variable names resolve (Spark lowercases on DECLARE).
    spark.sql("SET VARIABLE rrCut = 5")
    assert(one[Int]("SELECT getvariable('rrCut')") == 5)
    // INSERT ... RETURNING leaves no throwaway temp view behind.
    spark.sql("DROP TABLE IF EXISTS rr_ins")
    spark.sql("CREATE OR REPLACE TEMP TABLE rr_ins AS SELECT 1 AS a")
    spark.sql("INSERT INTO rr_ins VALUES (2) RETURNING a").collect()
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_ins_ret_"))
    assert(leaked.isEmpty, s"leaked views: ${leaked.mkString(",")}")
    spark.sql("DROP TABLE rr_ins")
  }

  test("histogram and entropy aggregates match DuckDB's pinned values") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    spark.sql("SELECT * FROM VALUES (3), (1), (1), (2), (NULL) AS t(x)")
      .createOrReplaceTempView("fh_t")
    // histogram: MAP value→count, keys ascending, NULLs dropped.
    assert(spark.sql("SELECT map_keys(histogram(x)) FROM fh_t").head()
      .getSeq[Int](0).toList == List(1, 2, 3))
    assert(spark.sql("SELECT map_values(histogram(x)) FROM fh_t").head()
      .getSeq[Long](0).toList == List(2L, 1L, 1L))
    // Empty / all-NULL group → NULL map (DuckDB 1.0 pinned).
    assert(spark.sql("SELECT histogram(x) FROM fh_t WHERE x > 99").head()
      .isNullAt(0))
    // entropy: log2 Shannon; empty → 0.0; single value → 0.0.
    assert(math.abs(one[Double](
      "SELECT entropy(x) FROM VALUES (1), (1), (2) AS t(x)")
      - 0.9182958340544893) < 1e-12)
    assert(one[Double](
      "SELECT entropy(x) FROM VALUES ('a'), ('a'), ('b'), ('c') AS t(x)") == 1.5)
    assert(one[Double]("SELECT entropy(x) FROM fh_t WHERE x > 99") == 0.0)
    assert(one[Double]("SELECT entropy(x) FROM VALUES (7) AS t(x)") == 0.0)
    // Strings as keys; per-group map-side partials merge correctly
    // across a shuffle (GROUP BY path).
    val g = spark.sql(
      """SELECT g, map_keys(histogram(v)) ks, map_values(histogram(v)) vs
         FROM VALUES (1, 'b'), (1, 'a'), (1, 'a'), (2, 'z') AS t(g, v)
         GROUP BY g ORDER BY g""").collect()
    assert(g(0).getSeq[String](1).toList == List("a", "b"))
    assert(g(0).getSeq[Long](2).toList == List(2L, 1L))
    assert(g(1).getSeq[String](1).toList == List("z"))
  }

  test("temp tables: CREATE TEMP TABLE, INSERT RETURNING, UPDATE/DELETE, DROP") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    spark.sql("DROP TABLE IF EXISTS tt_a")
    // CTAS form returns DuckDB's Count row.
    assert(one[Long](
      "CREATE TEMP TABLE tt_a AS SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(id, s)") == 2L)
    assert(spark.table("tt_a").count() == 2)
    // Duplicate without OR REPLACE errors like DuckDB's catalog.
    val dup = intercept[Exception](spark.sql("CREATE TEMP TABLE tt_a AS SELECT 1"))
    assert(dup.getMessage.contains("already exists"), s"got: ${dup.getMessage}")
    assert(one[Long](
      "CREATE OR REPLACE TEMP TABLE tt_a AS SELECT * FROM VALUES (1, 'x') AS t(id, s)") == 1L)
    // Column-def form + INSERT INTO a temp table (mutation visible).
    spark.sql("DROP TABLE IF EXISTS tt_b")
    spark.sql("CREATE TEMP TABLE tt_b (id INT, s STRING)")
    assert(spark.table("tt_b").count() == 0)
    assert(one[Long]("INSERT INTO tt_b VALUES (1, 'a'), (2, 'b')") == 2L)
    assert(one[Long]("INSERT INTO tt_b SELECT id + 10, s FROM tt_b") == 2L)
    assert(spark.table("tt_b").count() == 4)
    // Column-list INSERT: unlisted columns NULL-fill.
    spark.sql("INSERT INTO tt_b (id) VALUES (99)")
    assert(spark.sql("SELECT s FROM tt_b WHERE id = 99").head().isNullAt(0))
    // INSERT ... RETURNING projects the inserted rows (DuckDB pinned:
    // expressions over the new rows).
    val ret = spark.sql(
      "INSERT INTO tt_b VALUES (7, 'q'), (8, 'r') RETURNING s, id * 10")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(ret == Set(("q", 70), ("r", 80)), s"got $ret")
    // UPDATE and DELETE hit the temp table through the same literal
    // statements as catalog tables.
    assert(one[Long]("UPDATE tt_b SET s = 'Z' WHERE id >= 11") == 3L)
    assert(spark.sql("SELECT COUNT(*) FROM tt_b WHERE s = 'Z'")
      .head().getLong(0) == 3L)
    assert(one[Long]("DELETE FROM tt_b WHERE id >= 90") == 1L)
    // DROP TABLE removes the temp table; DuckDB's empty result.
    assert(spark.sql("DROP TABLE tt_b").count() == 0)
    val gone = intercept[Exception](spark.table("tt_b"))
    assert(gone.getMessage.contains("tt_b"))
    spark.sql("DROP TABLE IF EXISTS tt_a")
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trip the session's tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_expdb").toString
    spark.sql("DROP TABLE IF EXISTS exp_q")
    spark.sql(
      "CREATE OR REPLACE TEMP TABLE exp_q AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, s)")
    assert(spark.sql(s"EXPORT DATABASE '$dir/snap' (FORMAT PARQUET)").count() == 0)
    // Manifests exist and the COPY lines glob part files (DuckDB-importable).
    val load = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/snap/load.sql")))
    assert(load.contains("COPY exp_q FROM") && load.contains("*.parquet"),
      s"got: $load")
    assert(new java.io.File(s"$dir/snap/schema.sql").exists)
    // Drop, restore, verify content.
    spark.sql("DROP TABLE exp_q")
    spark.sql(s"IMPORT DATABASE '$dir/snap'")
    val back = spark.table("exp_q").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back == Seq((1, "a"), (2, "b")), s"got $back")
    // CSV export declines with the parquet guidance.
    val ex = intercept[Exception](spark.sql(s"EXPORT DATABASE '$dir/c' (FORMAT CSV)"))
    assert(ex.getMessage.contains("FORMAT PARQUET"), s"got: ${ex.getMessage}")
    spark.sql("DROP TABLE IF EXISTS exp_q")
  }

  test("literal UPDATE and DELETE statements run against catalog tables") {
    val tbl = "graft_ud_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    spark.sql(s"CREATE TABLE $tbl (id INT, grp STRING, v DOUBLE) USING parquet")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'a', 10.0), (2, 'a', 20.0), " +
      "(3, 'b', 30.0), (4, 'b', 40.0)")
    // UPDATE returns DuckDB's one-row Count of affected rows; SET
    // expressions read the OLD row (v doubles before grp flips).
    val up = spark.sql(
      s"UPDATE $tbl SET v = v * 2, grp = 'A' WHERE grp = 'a'").collect()
    assert(up.map(_.getLong(0)).toSeq == Seq(2L))
    val after = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(after == Seq((1, "A", 20.0), (2, "A", 40.0),
      (3, "b", 30.0), (4, "b", 40.0)), s"got $after")
    // DELETE: NULL predicate keeps the row (only TRUE deletes).
    val d = spark.sql(s"DELETE FROM $tbl WHERE v >= 40.0").collect()
    assert(d.map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.table(tbl).orderBy("id").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 3))
    // An UPDATE against a TEMP VIEW keeps Spark's native path (and its
    // native error), never the staged overwrite.
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("graft_ud_v")
    val ex = intercept[Exception](
      spark.sql("UPDATE graft_ud_v SET x = 2"))
    assert(!ex.getMessage.contains("update_table"), s"got: ${ex.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("ASOF JOIN USING (k, ord) runs, incl. the bare star") {
    registerMarket()
    // USING shorthand: all-but-last = equality keys, last = backward
    // inclusive order. Merged output = left.* + payload, so SELECT *
    // is faithful here (DuckDB 1.0 verified) — unlike the ON form.
    spark.sql("SELECT sym, tt FROM sq_trades").createOrReplaceTempView("au_l")
    spark.sql("SELECT sym, qt AS tt, px FROM sq_quotes")
      .createOrReplaceTempView("au_r")
    val out = spark.sql("SELECT * FROM au_l ASOF JOIN au_r USING (sym, tt)")
    assert(out.columns.toSeq == Seq("sym", "tt", "px"))
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 20L, 110.0), (1L, 25L, 110.0), (2L, 99L, 50.0)),
      s"got $rows")
    // Explicit select list and ASOF LEFT both compose with USING.
    val left = spark.sql(
      "SELECT tt, px FROM au_l ASOF LEFT JOIN au_r USING (sym, tt)")
    assert(left.count() == 5)
  }

  test("multi-key ASOF: USING (a, b, ts) and multi-equality ON") {
    spark.sql("SELECT * FROM VALUES (1, 'x', 10), (1, 'y', 10), (2, 'x', 10) " +
      "AS t(k, venue, ts)").createOrReplaceTempView("mk_l")
    spark.sql("SELECT * FROM VALUES (1, 'x', 5, 'A'), (1, 'x', 9, 'B'), " +
      "(1, 'y', 8, 'C'), (2, 'z', 1, 'D') AS t(k, venue, ts, tag)")
      .createOrReplaceTempView("mk_r")
    // USING with a composite key: equality on k AND venue, order on ts.
    val u = spark.sql("SELECT * FROM mk_l ASOF JOIN mk_r USING (k, venue, ts)")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(3))).toSet
    assert(u == Set((1, "x", "B"), (1, "y", "C")), s"got $u")
    // The explicit multi-equality ON form maps the same way.
    val o = spark.sql(
      """SELECT l.k, l.venue, tag FROM mk_l l ASOF JOIN mk_r r
         ON l.k = r.k AND l.venue = r.venue AND l.ts >= r.ts""")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(o == Set((1, "x", "B"), (1, "y", "C")), s"got $o")
  }

  test("POSITIONAL JOIN aligns row N to row N, NULL-padding the short side") {
    import spark.implicits._
    Seq("a", "b", "c").toDF("x").createOrReplaceTempView("pj_l")
    Seq(10, 20).toDF("y").createOrReplaceTempView("pj_r")
    val j = spark.sql("SELECT * FROM pj_l POSITIONAL JOIN pj_r")
    assert(j.columns.toSeq == Seq("x", "y"))
    val rows = j.collect().map(r => (r.getString(0),
      if (r.isNullAt(1)) null else r.getInt(1))).toSeq
    assert(rows == Seq(("a", 10), ("b", 20), ("c", null)), s"got $rows")
    // Composes downstream: filter over the splice.
    assert(spark.sql(
      "SELECT x FROM pj_l POSITIONAL JOIN pj_r WHERE y IS NOT NULL")
      .count() == 2)
    // Direct TVF with a SQL branch.
    assert(spark.sql(
      "SELECT COUNT(*) n FROM positional_join('pj_l', 'SELECT y FROM pj_r')")
      .head().getLong(0) == 3)
    // A string literal mentioning the construct passes through untouched.
    assert(spark.sql("SELECT 'a POSITIONAL JOIN b' AS s").head().getString(0)
      == "a POSITIONAL JOIN b")
    // Shapes the rewrite can't collapse raise the hint — NEVER the
    // silent alias-misparse cartesian.
    val ex = intercept[Exception](spark.sql(
      "SELECT * FROM (SELECT x FROM pj_l) POSITIONAL JOIN pj_r"))
    assert(ex.getMessage.contains("positional_join"), s"got: ${ex.getMessage}")
  }

  test("multi-ON PIVOT, INSERT BY NAME, INTERSECT/EXCEPT BY NAME, array_* fns") {
    registerMarket()
    // Multi-ON pivot: combined '_'-joined value columns (DuckDB naming).
    val pm = spark.sql("PIVOT sq_quotes ON sym, tag USING sum(qt) GROUP BY px")
    assert(pm.columns.contains("1_a") && pm.columns.contains("2_d"),
      s"got ${pm.columns.toSeq}")
    assert(pm.filter("px = 50.0").head()
      .getLong(pm.columns.indexOf("2_d")) == 15L)
    // INSERT INTO ... BY NAME: values land by NAME, not position.
    spark.sql("DROP TABLE IF EXISTS graft_byname")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh)
      if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "graft_byname"))
    spark.sql("CREATE TABLE graft_byname (a INT, b STRING, c DOUBLE) USING parquet")
    spark.sql("INSERT INTO graft_byname BY NAME SELECT 'x' AS b, 7 AS a")
    val row = spark.table("graft_byname").head()
    assert(row.getInt(0) == 7 && row.getString(1) == "x" && row.isNullAt(2),
      s"got $row")
    spark.sql("DROP TABLE graft_byname")
    // INTERSECT BY NAME: aligned by column name across different orders.
    val i = spark.sql(
      """SELECT 1 AS a, 'x' AS b
         INTERSECT BY NAME
         SELECT 'x' AS b, 1 AS a""")
    assert(i.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x")))
    // EXCEPT BY NAME with NULL-fill: one-sided columns NULL on the other
    // side, so differing rows survive the subtraction.
    val e = spark.sql(
      """SELECT sym, qt FROM sq_quotes
         EXCEPT BY NAME
         SELECT qt, sym FROM sq_quotes WHERE sym = 2""")
    assert(e.count() == 3)
    // EXCEPT ALL BY NAME keeps multiplicity.
    val ea = spark.sql(
      """SELECT sym FROM sq_quotes
         EXCEPT ALL BY NAME
         SELECT sym FROM sq_quotes WHERE qt = 10""")
    assert(ea.count() == 3)
    // DuckDB's array_* similarity functions over float-cast arrays.
    def d(sql: String): Double = spark.sql(sql).head().getDouble(0)
    assert(d("SELECT array_inner_product(array(1.0, 2.0), array(3.0, 4.0))") == 11.0)
    assert(d("SELECT array_negative_inner_product(array(1.0, 2.0), array(3.0, 4.0))") == -11.0)
    assert(d("SELECT array_distance(array(0.0, 0.0), array(3.0, 4.0))") == 5.0)
    assert(math.abs(d("SELECT array_cosine_similarity(array(1.0, 0.0), array(1.0, 0.0))") - 1.0) < 1e-9)
    assert(math.abs(d("SELECT list_cosine_distance(array(1.0, 0.0), array(0.0, 1.0))") - 1.0) < 1e-9)
    // Dimension mismatch fails loudly, not a prefix score.
    val exD = intercept[Exception](spark.sql(
      "SELECT array_inner_product(array(1.0), array(1.0, 2.0))").collect())
    assert(exD.getMessage.contains("dimension mismatch"), s"got: ${exD.getMessage}")
  }

  test("USING SAMPLE executes via TABLESAMPLE; DISTINCT ON via row_number") {
    registerMarket()
    // ROWS form: deterministic count, like DuckDB's reservoir count.
    assert(spark.sql("SELECT * FROM sq_quotes USING SAMPLE 3 ROWS").count() == 3)
    assert(spark.sql("SELECT * FROM sq_quotes USING SAMPLE 2").count() == 2)
    // Percent form with seed: runs, row count bounded by the table.
    val pct = spark.sql(
      "SELECT * FROM sq_quotes USING SAMPLE 50% (bernoulli, 42)").count()
    assert(pct >= 0 && pct <= 4)
    // method(N%) prefix form.
    assert(spark.sql(
      "SELECT * FROM sq_quotes USING SAMPLE reservoir(100%)").count() == 4)
    // In a subquery: the enclosing paren must survive the splice.
    assert(spark.sql(
      "SELECT COUNT(*) n FROM (SELECT * FROM sq_quotes USING SAMPLE 4 ROWS) s")
      .head().getLong(0) == 4)
    // DISTINCT ON: one row per sym, first under ORDER BY — and the
    // outer ORDER BY may reference a non-projected column (qt).
    val d = spark.sql(
      "SELECT DISTINCT ON (sym) tag, px FROM sq_quotes ORDER BY sym, qt DESC")
    assert(d.columns.toSeq == Seq("tag", "px"))
    val dr = d.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(dr == Seq(("c", 120.0), ("d", 50.0)), s"got $dr")
    // Star select list: rn helper column must not leak.
    val ds = spark.sql(
      "SELECT DISTINCT ON (sym) * FROM sq_quotes ORDER BY sym, qt")
    assert(ds.columns.toSeq == Seq("sym", "qt", "px", "tag"))
    assert(ds.count() == 2)
    // No ORDER BY: arbitrary-but-one row per group.
    assert(spark.sql("SELECT DISTINCT ON (sym) tag FROM sq_quotes").count() == 2)
    // WITH prefix rides along; LIMIT binds after the filter.
    val dw = spark.sql(
      """WITH q AS (SELECT * FROM sq_quotes)
         SELECT DISTINCT ON (sym) tag FROM q ORDER BY sym, px LIMIT 1""")
    assert(dw.collect().map(_.getString(0)).toSeq == Seq("a"))
    // GROUP BY / HAVING / QUALIFY / set-op shapes EXECUTE (round 17;
    // all values DuckDB 1.0 pinned): DISTINCT ON applies over the
    // grouped (resp. QUALIFY-filtered) rows, ORDER BY is the tiebreak.
    val dg = spark.sql(
      "SELECT DISTINCT ON (sym) sym, COUNT(*) AS n FROM sq_quotes " +
        "GROUP BY sym ORDER BY sym")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dg == Seq((1L, 3L), (2L, 1L)), s"got $dg")
    val dg2 = spark.sql(
      "SELECT DISTINCT ON (sym) sym, qt, COUNT(*) AS n FROM sq_quotes " +
        "GROUP BY sym, qt ORDER BY sym, qt DESC")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dg2 == Seq((1L, 30L, 1L), (2L, 15L, 1L)), s"got $dg2")
    // HAVING + an aggregate expression as the tiebreak key (resolves
    // only inside the grouped block — the hidden-column nesting).
    val dh = spark.sql(
      "SELECT DISTINCT ON (sym) sym, max(px) AS m FROM sq_quotes " +
        "GROUP BY sym, qt HAVING max(px) > 60 ORDER BY sym, max(px)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dh == Seq((1L, 100.0)), s"got $dh")
    // QUALIFY filters FIRST, then DISTINCT ON picks per group; the
    // tiebreak references a non-projected source column.
    val dq = spark.sql(
      "SELECT DISTINCT ON (sym) sym, tag FROM sq_quotes " +
        "QUALIFY row_number() OVER (PARTITION BY sym ORDER BY qt) <= 2 " +
        "ORDER BY sym, qt DESC")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dq == Seq((1L, "b"), (2L, "d")), s"got $dq")
    // Set operation: DISTINCT ON binds to its own block; no block
    // ORDER BY → arbitrary-but-one row per group on both engines.
    val du = spark.sql(
      "SELECT DISTINCT ON (sym) sym, tag FROM sq_quotes WHERE qt > 10 " +
        "UNION ALL SELECT 9L AS sym, 'z' AS tag ORDER BY sym")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(du.map(_._1) == Seq(1L, 2L, 9L), s"got $du")
    assert(Set("b", "c").contains(du.head._2) && du(1)._2 == "d" &&
      du(2)._2 == "z", s"got $du")
  }

  test("UNION BY NAME: executes with NULL-fill, dedup, trailing clauses") {
    registerMarket()
    // ALL form: by-name alignment, left-then-right-only column order,
    // NULL fill, trailing ORDER BY scoped to the whole union.
    val u = spark.sql(
      """SELECT 1 AS a, 'x' AS b
         UNION ALL BY NAME
         SELECT 'y' AS b, 2 AS c
         ORDER BY b""")
    assert(u.columns.toSeq == Seq("a", "b", "c"))
    val rows = u.collect().map(r => (r.get(0), r.getString(1), r.get(2))).toSeq
    assert(rows == Seq((1, "x", null), (null, "y", 2)), s"got $rows")
    // Plain (no ALL) form deduplicates.
    val d = spark.sql(
      """SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a
         ORDER BY a""")
    assert(d.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // Chained mixed operators keep left-associative grouping: the
    // DISTINCT union applies over the accumulated left branch.
    val m = spark.sql(
      """SELECT 1 AS a UNION ALL BY NAME SELECT 1 AS a
         UNION BY NAME SELECT 1 AS a""")
    assert(m.collect().map(_.getInt(0)).toSeq == Seq(1))
    // Trailing LIMIT binds to the union, not the right branch.
    val l = spark.sql(
      """SELECT sym, px FROM sq_quotes
         UNION ALL BY NAME
         SELECT sym, px FROM sq_quotes
         ORDER BY sym, px LIMIT 3""")
    assert(l.count() == 3)
    // Direct TVF call with table names.
    val t = spark.sql(
      "SELECT COUNT(*) AS n FROM union_by_name('sq_quotes', 'sq_quotes')")
      .head().getLong(0)
    assert(t == 2 * spark.table("sq_quotes").count())
    // DISTINCT keyword spelled out behaves like the plain form.
    val dd = spark.sql(
      "SELECT 7 AS a UNION DISTINCT BY NAME SELECT 7 AS a")
    assert(dd.count() == 1)
    // BY NAME inside a string literal must not trigger the rewrite.
    val s = spark.sql("SELECT 'UNION ALL BY NAME' AS t").head().getString(0)
    assert(s == "UNION ALL BY NAME")
  }

  test("DESCRIBE: DuckDB shape under the opt-in conf, native otherwise") {
    registerMarket()
    // Default: Spark's own DESCRIBE (3 columns, lowercase types).
    val native = spark.sql("DESCRIBE sq_quotes")
    assert(native.columns.toSeq == Seq("col_name", "data_type", "comment"))
    spark.conf.set("spark.graft.duckdbDescribe", "true")
    try {
      val d = spark.sql("DESCRIBE sq_quotes")
      assert(d.columns.toSeq ==
        Seq("column_name", "column_type", "null", "key", "default", "extra"))
      val types = d.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(types("sym") == "BIGINT" && types("px") == "DOUBLE" &&
        types("tag") == "VARCHAR", s"got $types")
      // DESC alias works; EXTENDED and multipart stay native.
      assert(spark.sql("DESC sq_quotes").columns.head == "column_name")
      assert(spark.sql("DESCRIBE EXTENDED sq_quotes").columns.head == "col_name")
    } finally spark.conf.set("spark.graft.duckdbDescribe", "false")
  }

  test("generate_series TVF: inclusive bounds, steps, down-counting, empty") {
    def vals(sql: String): Seq[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).toSeq
    assert(vals("SELECT * FROM generate_series(5)") == (0L to 5L))
    assert(vals("SELECT * FROM generate_series(2, 5)") == (2L to 5L))
    assert(vals("SELECT * FROM generate_series(0, 10, 3)") ==
      Seq(0L, 3L, 6L, 9L))
    assert(vals("SELECT * FROM generate_series(10, 2, -2)") ==
      Seq(10L, 8L, 6L, 4L, 2L))
    assert(vals("SELECT * FROM generate_series(5, 1)").isEmpty)
    assert(spark.sql("SELECT * FROM generate_series(1, 3)")
      .columns.toSeq == Seq("generate_series"))
    // Composes as a relation (join against it).
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM generate_series(1, 100) g " +
        "JOIN generate_series(1, 200) h ON g.generate_series = h.generate_series")
      .head().getLong(0)
    assert(n == 100L)
    val ex = intercept[Exception](spark.sql(
      "SELECT * FROM generate_series(1, 10, 0)"))
    assert(ex.getMessage.contains("non-zero"), s"got: ${ex.getMessage}")
    // The inclusive-end nudge cannot be represented at Long.MaxValue —
    // named error, not a silently empty series from the wrapped end.
    val exO = intercept[Exception](spark.sql(
      s"SELECT * FROM generate_series(${Long.MaxValue - 1}, ${Long.MaxValue})"))
    assert(exO.getMessage.contains("not representable"), s"got: ${exO.getMessage}")
  }

  test("named-argument macro calls lower to positional with gap defaults") {
    spark.sql("CREATE OR REPLACE MACRO nm_add(a, b := 2, c := 3) AS a + b + c")
    def one(sql: String): Long =
      spark.sql(sql).head().get(0).asInstanceOf[Number].longValue()
    // Gap-filling: c named, b stays default (DuckDB 1.0 pinned: 33).
    assert(one("SELECT nm_add(1, c := 30)") == 33L)
    // All-named, order-free.
    assert(one("SELECT nm_add(c := 1, a := 10, b := 100)") == 111L)
    // Mixed positional + named; nested call in the named value.
    assert(one("SELECT nm_add(1, b := nm_add(1))") == 10L)
    // Two named calls in one statement.
    assert(one("SELECT nm_add(1, c := 1) + nm_add(2, b := 1)") == 10L)
    // A ':=' INSIDE a string literal is data, not a named argument.
    assert(spark.sql("SELECT concat('x := 1', CAST(nm_add(1, c := 0) AS STRING)) AS s")
      .head().getString(0) == "x := 13")
    // Positional after named declines (raw parse error — no silent
    // misbinding).
    val ex = intercept[Exception](spark.sql("SELECT nm_add(b := 1, 2)"))
    assert(ex.getMessage.toLowerCase.contains("syntax"), s"got: ${ex.getMessage}")
    // Unknown parameter name declines.
    val ex2 = intercept[Exception](spark.sql("SELECT nm_add(1, zz := 5)"))
    assert(ex2.getMessage.toLowerCase.contains("syntax"), s"got: ${ex2.getMessage}")
    // Table macros record signatures too: FROM f(k := v).
    spark.sql("CREATE OR REPLACE MACRO nm_ser(n := 3) AS TABLE " +
      "SELECT * FROM range(n)")
    assert(spark.sql("SELECT COUNT(*) AS c FROM nm_ser(n := 5)")
      .head().getLong(0) == 5L)
  }

  test("COPY CSV QUOTE/ESCAPE/NULL options round-trip through write and read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_copyopt").toString
    // Values exercising every option: the delimiter inside a value, a
    // quote char inside a value, and a real NULL written as the marker.
    // (Known divergence vs DuckDB: Spark's CSV reader collapses ANY
    // field equal to nullValue — even a quoted one — so a data string
    // colliding with the chosen marker does not survive; DuckDB keeps
    // the quoted form. Pick a marker outside the data's alphabet.)
    Seq((1, "a|b"), (2, null), (3, "say \"hi\""), (4, "n/a"), (5, "plain"))
      .toDF("id", "s").createOrReplaceTempView("co_src")
    val wrote = spark.sql(
      s"""COPY (SELECT id, s FROM co_src) TO '$dir/opt.csv'
         |(FORMAT CSV, HEADER, DELIMITER '|', QUOTE '"', ESCAPE '\\', NULL 'NULLX')""".stripMargin)
      .head().getLong(0)
    assert(wrote == 5L)
    spark.sql("DROP TABLE IF EXISTS co_tgt")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "co_tgt"))
    spark.sql("CREATE TABLE co_tgt (id INT, s STRING) USING parquet")
    val read = spark.sql(
      s"""COPY co_tgt FROM '$dir/opt.csv'
         |(FORMAT CSV, HEADER, DELIMITER '|', QUOTE '"', ESCAPE '\\', NULL 'NULLX')""".stripMargin)
      .head().getLong(0)
    assert(read == 5L)
    val back = spark.table("co_tgt").orderBy("id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(back == Seq((1, "a|b"), (2, null), (3, "say \"hi\""),
      (4, "n/a"), (5, "plain")), s"got $back")
    // The options are CSV notions — on parquet they decline to the hint.
    val ex = intercept[Exception](spark.sql(
      s"COPY co_tgt TO '$dir/x.parquet' (FORMAT PARQUET, QUOTE '!')"))
    assert(ex.getMessage.contains("COPY"), s"got: ${ex.getMessage}")
    spark.sql("DROP TABLE IF EXISTS co_tgt")
  }

  test("temporal generate_series, struct_pack, COPY FORMAT JSON") {
    // Inclusive bound with DATE bounds → TIMESTAMP values (DuckDB 1.0).
    val gs = spark.sql("SELECT * FROM generate_series(DATE '2020-01-01', " +
      "DATE '2020-04-01', INTERVAL 1 MONTH)").collect()
    assert(gs.length == 4)
    assert(gs.head.getTimestamp(0).toString.startsWith("2020-01-01"))
    // Down-counting temporal series.
    assert(spark.sql("SELECT COUNT(*) FROM generate_series(" +
      "TIMESTAMP '2020-01-03 00:00:00', TIMESTAMP '2020-01-01 00:00:00', " +
      "INTERVAL -1 DAY)").head().getLong(0) == 3L)
    // struct_pack: named fields, nesting, field access.
    val sp = spark.sql("SELECT struct_pack(a := 1, b := 'x') AS s").head()
      .getStruct(0)
    assert(sp.getInt(0) == 1 && sp.getString(1) == "x")
    assert(spark.sql("SELECT struct_pack(a := struct_pack(c := 2)).a.c")
      .head().getInt(0) == 2)
    // ':=' inside a string stays data; malformed args decline.
    assert(spark.sql("SELECT struct_pack(a := 'x := 1').a AS v")
      .head().getString(0) == "x := 1")
    intercept[Exception](spark.sql("SELECT struct_pack(1, 2)"))
    // COPY FORMAT JSON round-trips through the json writer/reader.
    val dir = java.nio.file.Files.createTempDirectory("graft_cj")
    spark.sql("SELECT 1 AS a, 'x' AS s").createOrReplaceTempView("cj_t")
    assert(spark.sql(s"COPY cj_t TO '$dir/t.json' (FORMAT JSON)")
      .head().getLong(0) == 1L)
    val back = spark.sql(s"SELECT * FROM read_json('$dir/t.json')").head()
    assert(back.getLong(0) == 1L && back.getString(1) == "x")
  }

  test("EXTRACT(epoch FROM x) rewrites onto epoch(); AT TIME ZONE executes") {
    val v = spark.sql(
      "SELECT EXTRACT(epoch FROM TIMESTAMP '2020-01-01 00:00:01.5')")
      .head().getDouble(0)
    assert(v == 1.5778368015e9, s"got $v")
    // Composes with native EXTRACT fields in the same statement.
    assert(spark.sql("SELECT EXTRACT(EPOCH FROM TIMESTAMP '1970-01-01 " +
      "00:00:02') + EXTRACT(year FROM DATE '2020-03-01')")
      .head().getDouble(0) == 2022.0)
    // Inside a string literal: data, not the construct.
    assert(spark.sql("SELECT 'EXTRACT(epoch FROM x)' AS s")
      .head().getString(0) == "EXTRACT(epoch FROM x)")
    // AT TIME ZONE executes since round 16 (both directions spec'd in
    // their own test below); epoch composes with it in one statement.
    assert(spark.sql("SELECT EXTRACT(epoch FROM TIMESTAMP '2020-01-01 " +
      "00:00:00' AT TIME ZONE 'UTC')").head().getDouble(0) == 1.5778368e9)
  }

  test("reader TVFs take DuckDB named options") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ropt")
    java.nio.file.Files.write(dir.resolve("t.csv"), "a|b\n1|x\nNULLX|y\n".getBytes)
    java.nio.file.Files.write(dir.resolve("arr.json"),
      "[{\"a\":1},{\"a\":2}]".getBytes)
    val r = spark.sql(s"SELECT * FROM read_csv('$dir/t.csv', " +
      "header = true, delim = '|', nullstr = 'NULLX') ORDER BY b").collect()
    assert(r.length == 2)
    assert(r(0).getInt(0) == 1 && r(0).getString(1) == "x")
    assert(r(1).isNullAt(0) && r(1).getString(1) == "y")
    // Detection knobs Spark's inference replaces are accepted-ignored.
    assert(spark.sql(s"SELECT COUNT(*) FROM read_csv('$dir/t.csv', " +
      "auto_detect = true, delim = '|')").head().getLong(0) == 2L)
    // ignore_errors executes as mode=DROPMALFORMED (round 16): the
    // wrong-arity row is dropped instead of failing the read; the
    // documented divergence (record- vs cast-granular skipping) is
    // warned once on stderr.
    java.nio.file.Files.write(dir.resolve("bad.csv"),
      "a|b\n1|x\n2|y|EXTRA|COLS\n3|z\n".getBytes)
    val ie = spark.sql(s"SELECT * FROM read_csv('$dir/bad.csv', " +
      "delim = '|', ignore_errors = true) ORDER BY a").collect()
    assert(ie.map(_.getInt(0)).toSeq == Seq(1, 3), s"got: ${ie.mkString(",")}")
    // ignore_errors = false is a no-op spelling of the default.
    assert(spark.sql(s"SELECT COUNT(*) FROM read_csv('$dir/t.csv', " +
      "delim = '|', ignore_errors = false)").head().getLong(0) == 2L)
    // Other semantics-changing options still decline loudly.
    val ex = intercept[Exception](spark.sql(
      s"SELECT * FROM read_csv('$dir/t.csv', new_line = '\\n')"))
    assert(ex.getMessage.contains("unsupported option"), s"got: ${ex.getMessage}")
    // JSON format='array' → multiLine; parquet union_by_name → mergeSchema.
    assert(spark.sql(s"SELECT COUNT(*) FROM read_json('$dir/arr.json', " +
      "format = 'array')").head().getLong(0) == 2L)
    assert(spark.sql("SELECT COUNT(*) FROM read_parquet(" +
      "'/root/testdata/sf0.001/nation.parquet', union_by_name = true)")
      .head().getLong(0) == 25L)
    // A natively-parsing statement with '=' is untouched (no hijack).
    assert(spark.sql("SELECT 1 WHERE 1 = 1").count() == 1L)
  }

  test("bare quoted-path FROM splices the reader TVFs by extension") {
    val nation = "/root/testdata/sf0.001/nation.parquet"
    assert(spark.sql(s"SELECT COUNT(*) FROM '$nation'").head().getLong(0) == 25L)
    // With alias, qualified columns, and as a JOIN side.
    val j = spark.sql(
      s"""SELECT r.n_name FROM '$nation' n JOIN '$nation' r
          ON n.n_nationkey = r.n_nationkey WHERE n.n_nationkey = 3""")
    assert(j.count() == 1L)
    // CSV by extension (schema inference = the _auto reader).
    val dir = java.nio.file.Files.createTempDirectory("graft_barepath")
    val csv = dir.resolve("t.csv")
    java.nio.file.Files.write(csv, "a,b\n1,x\n2,y\n".getBytes)
    assert(spark.sql(s"SELECT COUNT(*) FROM '$csv'").head().getLong(0) == 2L)
    // Unknown extension declines (no silent format guess).
    val ex = intercept[Exception](spark.sql("SELECT * FROM '/tmp/x.bin'"))
    assert(!ex.getMessage.contains("read_parquet"), s"got: ${ex.getMessage}")
    // A quoted string that is NOT a table ref (WHERE position) stays
    // data in a natively-parsing statement.
    assert(spark.sql("SELECT 'a.parquet' AS s").head().getString(0) == "a.parquet")
  }

  test("CREATE OR REPLACE TABLE runs as drop-then-create on v1 targets") {
    def clean(): Unit = spark.sql("DROP TABLE IF EXISTS cor_t")
    clean()
    spark.sql("CREATE OR REPLACE TABLE cor_t AS SELECT 1 AS a")
    assert(spark.table("cor_t").head().getInt(0) == 1)
    // Replace changes schema AND content.
    spark.sql("CREATE OR REPLACE TABLE cor_t AS SELECT 'x' AS s, 2 AS b")
    assert(spark.table("cor_t").columns.toSeq == Seq("s", "b"))
    assert(spark.table("cor_t").head().getString(0) == "x")
    // Column-def form with USING.
    spark.sql("CREATE OR REPLACE TABLE cor_t (z BIGINT) USING parquet")
    assert(spark.table("cor_t").columns.toSeq == Seq("z"))
    assert(spark.table("cor_t").count() == 0L)
    clean()
  }

  test("ALTER TABLE re-materializes temp-table snapshots") {
    spark.sql("DROP TABLE IF EXISTS at_t")
    spark.sql("CREATE TEMP TABLE at_t (id INTEGER, v INTEGER)")
    spark.sql("INSERT INTO at_t VALUES (1, 10)")
    // ADD backfills DEFAULT into existing rows (DuckDB pinned).
    spark.sql("ALTER TABLE at_t ADD COLUMN s VARCHAR DEFAULT 'x'")
    assert(spark.table("at_t").collect().head.mkString(",") == "1,10,x")
    // IF NOT EXISTS on a present column is a no-op; without it, error.
    spark.sql("ALTER TABLE at_t ADD COLUMN IF NOT EXISTS s VARCHAR")
    val exA = intercept[Exception](spark.sql("ALTER TABLE at_t ADD COLUMN s INT"))
    assert(exA.getMessage.contains("already exists"), s"got: ${exA.getMessage}")
    spark.sql("ALTER TABLE at_t RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE at_t ALTER val TYPE VARCHAR")
    assert(spark.table("at_t").schema("val").dataType.simpleString == "string")
    spark.sql("ALTER TABLE at_t ALTER COLUMN val SET DATA TYPE INTEGER")
    assert(spark.table("at_t").schema("val").dataType.simpleString == "int")
    spark.sql("ALTER TABLE at_t DROP COLUMN s")
    assert(spark.table("at_t").columns.toSeq == Seq("id", "val"))
    // DROP of a missing column errors; IF EXISTS tolerates.
    val exD = intercept[Exception](spark.sql("ALTER TABLE at_t DROP COLUMN zz"))
    assert(exD.getMessage.contains("does not exist"), s"got: ${exD.getMessage}")
    spark.sql("ALTER TABLE at_t DROP COLUMN IF EXISTS zz")
    // RENAME TO moves the snapshot; the old name unregisters.
    spark.sql("DROP TABLE IF EXISTS at_r")
    spark.sql("ALTER TABLE at_t RENAME TO at_r")
    assert(spark.table("at_r").count() == 1L)
    assert(intercept[Exception](spark.sql("SELECT * FROM at_t"))
      .getMessage.contains("at_t"))
    // Unsupported temp-table ALTER lands on the named error, not
    // Spark's confusing view message.
    val exU = intercept[Exception](spark.sql(
      "ALTER TABLE at_r ALTER val TYPE INT USING (val + 1)"))
    assert(exU.getMessage.contains("supported forms"), s"got: ${exU.getMessage}")
    spark.sql("DROP TABLE at_r")
  }

  test("ON CONFLICT DO UPDATE executes with DuckDB-pinned semantics") {
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    spark.sql("DROP TABLE IF EXISTS du_t")
    spark.sql("CREATE TEMP TABLE du_t (id INTEGER PRIMARY KEY, v INTEGER, s STRING)")
    spark.sql("INSERT INTO du_t VALUES (1, 10, 'a'), (2, 20, 'b')")
    // EXCLUDED.c = incoming, qualified target ref; Count = inserted +
    // updated (DuckDB 1.0 pinned: 2).
    assert(one("INSERT INTO du_t VALUES (2, 99, 'x'), (3, 30, 'c') " +
      "ON CONFLICT DO UPDATE SET v = EXCLUDED.v + du_t.v, s = EXCLUDED.s") == 2L)
    assert(spark.sql("SELECT * FROM du_t ORDER BY id").collect()
      .map(_.mkString(",")).toSeq == Seq("1,10,a", "2,119,x", "3,30,c"))
    // WHERE: the failing conflict keeps the old row and does NOT count.
    assert(one("INSERT INTO du_t VALUES (1, 5, 'q'), (4, 40, 'd') " +
      "ON CONFLICT DO UPDATE SET v = EXCLUDED.v WHERE du_t.v > 100") == 1L)
    assert(spark.sql("SELECT v FROM du_t WHERE id = 1").head().getInt(0) == 10)
    // Bare refs in SET are the TARGET row (pinned: 10 + 1 = 11).
    assert(one("INSERT INTO du_t VALUES (1, 7, 'z') " +
      "ON CONFLICT DO UPDATE SET v = v + 1") == 1L)
    assert(spark.sql("SELECT v FROM du_t WHERE id = 1").head().getInt(0) == 11)
    // Duplicate key WITHIN the increment is a constraint error.
    val exD = intercept[Exception](spark.sql(
      "INSERT INTO du_t VALUES (9,1,'m'), (9,2,'n') " +
        "ON CONFLICT DO UPDATE SET v = EXCLUDED.v"))
    assert(exD.getMessage.contains("PRIMARY KEY"), s"got: ${exD.getMessage}")
    // Assigning the conflict-target column is a binder error.
    val exK = intercept[Exception](spark.sql(
      "INSERT INTO du_t VALUES (2,1,'w') ON CONFLICT DO UPDATE SET id = 99"))
    assert(exK.getMessage.contains("conflict target"), s"got: ${exK.getMessage}")
    // ' WHERE ' inside a string literal is data, not the clause split.
    assert(one("INSERT INTO du_t VALUES (1, 5, 'L') " +
      "ON CONFLICT DO UPDATE SET v = length(' WHERE x ')") == 1L)
    assert(spark.sql("SELECT v FROM du_t WHERE id = 1").head().getInt(0) == 9)
    spark.sql("DROP TABLE du_t")
  }

  test("INSERT OR REPLACE / OR IGNORE / ON CONFLICT upsert temp tables " +
    "with DuckDB-pinned Counts") {
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    spark.sql("DROP TABLE IF EXISTS up_t")
    spark.sql("CREATE TEMP TABLE up_t (id INTEGER PRIMARY KEY, s VARCHAR)")
    assert(one("INSERT INTO up_t VALUES (1,'a'), (2,'b')") == 2L)
    // REPLACE: Count = ALL input rows (DuckDB 1.0 pinned), conflicting
    // row replaced, fresh row appended.
    assert(one("INSERT OR REPLACE INTO up_t VALUES (2,'B'), (3,'c')") == 2L)
    // IGNORE: Count = actually-inserted only.
    assert(one("INSERT OR IGNORE INTO up_t VALUES (3,'X'), (4,'d')") == 1L)
    // ON CONFLICT (cols) DO NOTHING — explicit conflict target.
    assert(one("INSERT INTO up_t VALUES (4,'Y'), (5,'e') ON CONFLICT (id) DO NOTHING") == 1L)
    // ... and the bare form resolves against the declared PK.
    assert(one("INSERT INTO up_t VALUES (5,'Z'), (6,'f') ON CONFLICT DO NOTHING") == 1L)
    val state = spark.table("up_t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(state == Seq(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d", 5 -> "e", 6 -> "f"),
      s"got $state")
    // Duplicate key WITHIN one REPLACE increment = DuckDB's constraint
    // error, not a silent arbitrary winner.
    val dup = intercept[Exception](
      spark.sql("INSERT OR REPLACE INTO up_t VALUES (7,'x'), (7,'y')"))
    assert(dup.getMessage.contains("duplicate key"), s"got: ${dup.getMessage}")
    // No PK and no conflict target → named error.
    spark.sql("DROP TABLE IF EXISTS up_n")
    spark.sql("CREATE TEMP TABLE up_n (id INTEGER, s VARCHAR)")
    val nopk = intercept[Exception](
      spark.sql("INSERT OR REPLACE INTO up_n VALUES (1,'a')"))
    assert(nopk.getMessage.contains("PRIMARY KEY"), s"got: ${nopk.getMessage}")
    // ... but ON CONFLICT (cols) supplies the target without a PK.
    spark.sql("INSERT INTO up_n VALUES (1,'a')")
    assert(one("INSERT INTO up_n VALUES (1,'b'), (2,'c') ON CONFLICT (id) DO NOTHING") == 1L)
    // Catalog tables keep the hint (idempotent-ingest idiom).
    val cat = intercept[Exception](
      spark.sql("INSERT OR REPLACE INTO graft_not_a_temp VALUES (1)"))
    assert(cat.getMessage.contains("ANTI JOIN"), s"got: ${cat.getMessage}")
    // DO UPDATE executes too (full semantics pinned in its own test).
    assert(one(
      "INSERT INTO up_t VALUES (1,'q') ON CONFLICT (id) DO UPDATE SET s = 'q'") == 1L)
    assert(spark.sql("SELECT s FROM up_t WHERE id = 1").head().getString(0) == "q")
    Seq("up_t", "up_n").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("catalog-table upsert: PK-stripping CREATE, OR REPLACE/IGNORE, " +
    "ON CONFLICT, and edge errors (round 17)") {
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    // CREATE TABLE with PRIMARY KEY: constraint stripped, key registered,
    // table lands in the catalog (not a temp view).
    spark.sql("CREATE OR REPLACE TABLE up_cat (id INT PRIMARY KEY, s STRING) USING parquet")
    assert(spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier("up_cat")))
    // plain INSERT stays native (no Count row); state checked below
    spark.sql("INSERT INTO up_cat VALUES (1,'a'), (2,'b')").collect()
    assert(one("INSERT OR REPLACE INTO up_cat VALUES (2,'B'), (3,'c')") == 2L)
    assert(one("INSERT OR IGNORE INTO up_cat VALUES (3,'X'), (4,'d')") == 1L)
    assert(one("INSERT INTO up_cat VALUES (4,'Y'), (5,'e') " +
      "ON CONFLICT (id) DO NOTHING") == 1L)
    assert(one("INSERT INTO up_cat VALUES (1,'z') " +
      "ON CONFLICT (id) DO UPDATE SET s = EXCLUDED.s || up_cat.s") == 1L)
    val state = spark.table("up_cat").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(state == Seq(1 -> "za", 2 -> "B", 3 -> "c", 4 -> "d", 5 -> "e"),
      s"got $state")
    // Duplicate key within one REPLACE increment errors like DuckDB.
    val dup = intercept[Exception](
      spark.sql("INSERT OR REPLACE INTO up_cat VALUES (7,'x'), (7,'y')"))
    assert(dup.getMessage.contains("duplicate key"), s"got: ${dup.getMessage}")
    // Table-level PRIMARY KEY (a, b) strips and registers the pair.
    spark.sql("CREATE OR REPLACE TABLE up_cat2 " +
      "(a INT, b INT, v INT, PRIMARY KEY (a, b)) USING parquet")
    spark.sql("INSERT INTO up_cat2 VALUES (1,1,10), (1,2,20)")
    assert(one("INSERT OR REPLACE INTO up_cat2 VALUES (1,2,99), (2,1,30)") == 2L)
    val s2 = spark.table("up_cat2").orderBy("a", "b").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(s2 == Seq((1, 1, 10), (1, 2, 99), (2, 1, 30)), s"got $s2")
    // A plain VIEW target is refused with a named error, not mutated.
    spark.sql("CREATE OR REPLACE TEMP VIEW up_cat_v AS SELECT 1 AS id")
    val vw = intercept[Exception](
      spark.sql("INSERT INTO up_cat_v VALUES (2) ON CONFLICT (id) DO NOTHING"))
    assert(vw.getMessage.contains("view") ||
      vw.getMessage.contains("ANTI JOIN"), s"got: ${vw.getMessage}")
    Seq("up_cat", "up_cat2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("round-18 ADVICE fixes: table-level UNIQUE, CONSTRAINT decline, " +
    "no stale keys on failed CREATE, ordinal DISTINCT ON, COLUMNS BETWEEN") {
    def one(sql: String): Long = spark.sql(sql).head().getLong(0)
    // Table-level UNIQUE (a, b): the whole def strips (previously the
    // inline branch left a malformed `(a, b)` remnant and registered
    // the bogus identifier UNIQUE) and the pair is the conflict target.
    spark.sql("CREATE OR REPLACE TABLE u18_t " +
      "(a INT, b INT, v INT, UNIQUE (a, b)) USING parquet")
    spark.sql("INSERT INTO u18_t VALUES (1,1,10), (1,2,20)")
    assert(one("INSERT OR REPLACE INTO u18_t VALUES (1,2,99), (2,1,30)") == 2L)
    val s = spark.table("u18_t").orderBy("a", "b").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(s == Seq((1, 1, 10), (1, 2, 99), (2, 1, 30)), s"got $s")
    // Named CONSTRAINT defs decline the strip (Spark's own constraint
    // error surfaces) and register NO key for the name.
    intercept[Exception](spark.sql("CREATE OR REPLACE TABLE u18_c " +
      "(id INT, CONSTRAINT pk_x PRIMARY KEY (id)) USING parquet"))
    assert(graft.sql.TempTables.facts(spark, "u18_c").keys.isEmpty)
    // A FAILING stripped CREATE leaves no stale registration: u18_t
    // already exists (no OR REPLACE / IF NOT EXISTS), so the CREATE
    // errors — and the failed statement's single-column key must NOT
    // replace the registered (a, b) pair.
    intercept[Exception](spark.sql(
      "CREATE TABLE u18_t (z INT PRIMARY KEY) USING parquet"))
    assert(graft.sql.TempTables.facts(spark, "u18_t").keys.contains(Seq("a", "b")))
    spark.sql("DROP TABLE IF EXISTS u18_t")
    // DISTINCT ON with an ordinal ORDER BY key (previously spliced as
    // the constant N into the window/hidden columns — wrong row picks).
    spark.sql("CREATE OR REPLACE TEMP VIEW d18 AS SELECT * FROM VALUES " +
      "('a', 1), ('a', 5), ('b', 2), ('b', 7) AS t(g, x)")
    val top = spark.sql(
      "SELECT DISTINCT ON (g) g, x FROM d18 ORDER BY 1, 2 DESC")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(top == Seq("a" -> 5, "b" -> 7), s"got $top")
    val ga = spark.sql(
      "SELECT DISTINCT ON (g) g, sum(x) AS sx FROM d18 GROUP BY g, x " +
        "ORDER BY 2 DESC")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ga == Seq("b" -> 7L, "a" -> 5L), s"got $ga")
    // An unresolvable ordinal (out of range) declines to the hint, not
    // a silently-constant sort.
    val oor = intercept[Exception](spark.sql(
      "SELECT DISTINCT ON (g) g, sum(x) AS sx FROM d18 GROUP BY g, x " +
        "ORDER BY 9 DESC").collect())
    assert(oor.getMessage != null)
    // COLUMNS in WHERE with BETWEEN: the closing AND is part of the
    // predicate, not a conjunction boundary.
    spark.sql("CREATE OR REPLACE TEMP VIEW c18 AS SELECT * FROM VALUES " +
      "(1, 2), (3, 9), (4, 5) AS t(p, q)")
    val cb = spark.sql(
      "SELECT p, q FROM c18 WHERE COLUMNS(*) BETWEEN 1 AND 5 ORDER BY p")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(cb == Seq(1 -> 2, 4 -> 5), s"got $cb")
    val cbMix = spark.sql("SELECT p, q FROM c18 " +
      "WHERE COLUMNS(*) BETWEEN 1 AND 5 AND p > 1 ORDER BY p")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(cbMix == Seq(4 -> 5), s"got $cbMix")
  }

  test("round-17 sweep pack 2: struct_insert, datesub/datetrunc edges") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // struct_insert: := named fields, multiple at once, nested value.
    assert(one[Int]("SELECT struct_insert({'a': 1}, b := 2, c := 3).c") == 3)
    val st = spark.sql("SELECT struct_insert({'a': 1}, b := {'x': 9}) AS s")
      .head().getStruct(0)
    assert(st.getInt(0) == 1 && st.getStruct(1).getInt(0) == 9)
    // datesub: complete intervals, negative direction truncates toward
    // zero (ChronoUnit contract, matching DuckDB's complete intervals).
    assert(one[Long](
      "SELECT datesub('month', DATE '2024-03-14', DATE '2024-01-15')") == -1L)
    assert(one[Long](
      "SELECT datesub('week', DATE '2024-01-01', DATE '2024-01-20')") == 2L)
    // unsupported part errors with guidance, not a wrong number.
    val ex = intercept[Exception](spark.sql(
      "SELECT datesub('fortnight', DATE '2024-01-01', DATE '2024-02-01')")
      .collect())
    assert(ex.getMessage.contains("datesub"), ex.getMessage)
    // datetrunc preserves the input family (DATE in → DATE out).
    assert(spark.sql("SELECT datetrunc('month', DATE '2024-05-15')")
      .schema.head.dataType == org.apache.spark.sql.types.DateType)
    assert(spark.sql(
      "SELECT datetrunc('day', DATE '2024-05-15')").head().get(0).toString
      == "2024-05-15")
  }

  test("mad() computes the interpolated median absolute deviation (round 17)") {
    def one(sql: String): Any = spark.sql(sql).head().get(0)
    // DuckDB 1.0 pinned: median([1,2,3,100]) = 2.5; devs [.5,.5,1.5,97.5]
    // → even-count average of the two middle = 1.0.
    assert(one("SELECT mad(x) FROM (VALUES (1.0),(2.0),(3.0),(100.0)) t(x)") == 1.0)
    // integers compute as DOUBLE; NULLs dropped; empty → NULL; single → 0.
    assert(one("SELECT mad(x) FROM (VALUES (1),(2),(3),(100)) t(x)") == 1.0)
    assert(one("SELECT mad(x) FROM (VALUES (1.0),(NULL),(3.0)) t(x)") == 1.0)
    assert(spark.sql("SELECT mad(x) FROM (VALUES (CAST(NULL AS DOUBLE))) t(x)")
      .head().isNullAt(0))
    assert(one("SELECT mad(x) FROM (VALUES (5.0)) t(x)") == 0.0)
    // grouped + map-side partial merge across partitions.
    import spark.implicits._
    val df = (1 to 1001).map(i => (i % 2, i.toDouble)).toDF("g", "x")
      .repartition(8)
    df.createOrReplaceTempView("mad_t")
    val rows = spark.sql(
      "SELECT g, mad(x) FROM mad_t GROUP BY g ORDER BY g").collect()
    // odd g: 1,3,...,1001 (501 values, median 501, devs 0,2,..,500 →
    // median dev 250); even g: 2,4,...,1000 (500 values, median 501,
    // devs 1,3,..,499 doubled-sided → 250)
    assert(rows.map(_.getDouble(1)).toSeq == Seq(250.0, 250.0),
      rows.mkString(","))
  }

  test("SIMILAR TO executes as anchored full-match; edge shapes decline") {
    import spark.implicits._
    Seq("abc", "abcd", "ABC", "a1c", "x\nabc").toDF("s")
      .createOrReplaceTempView("st_t")
    // Full match, not find: 'b' alone matches nothing; multiline input
    // doesn't sneak past the anchors (\A/\z, not ^/$).
    def names(q: String) = spark.sql(q).collect().map(_.getString(0)).toSet
    assert(names("SELECT s FROM st_t WHERE s SIMILAR TO 'b'") == Set.empty[String])
    assert(names("SELECT s FROM st_t WHERE s SIMILAR TO 'a.c'") == Set("abc", "a1c"))
    assert(names("SELECT s FROM st_t WHERE s SIMILAR TO '.*abc'") == Set("abc"),
      "trailing-newline row must NOT full-match without DOTALL")
    assert(names("SELECT s FROM st_t WHERE s NOT SIMILAR TO 'a\\w*'") ==
      Set("ABC", "a1c", "x\nabc") -- Set("a1c"),
      "backslash class survives the literal splice") // a1c: \w matches digits
    // In the select list, CASE, and after other rewrites compose.
    val m = spark.sql(
      "SELECT s SIMILAR TO 'ab.*' AS m FROM st_t ORDER BY s").collect().map(_.getBoolean(0))
    assert(m.count(identity) == 2)
    // Non-literal pattern → hint, not a silent misparse.
    val ex1 = intercept[Exception](spark.sql(
      "SELECT s FROM st_t WHERE s SIMILAR TO upper(s)"))
    assert(ex1.getMessage.contains("SIMILAR TO"), s"got: ${ex1.getMessage}")
    // RE2-only spellings decline LOUDLY, naming the feature.
    val ex2 = intercept[Exception](spark.sql(
      "SELECT s FROM st_t WHERE s SIMILAR TO '[[:alpha:]]+'"))
    assert(ex2.getMessage.contains("RE2-only"), s"got: ${ex2.getMessage}")
    // regexp_full_match is the function spelling of the same semantics.
    assert(names("SELECT s FROM st_t WHERE regexp_full_match(s, 'a.c')") ==
      Set("abc", "a1c"))
    // A string LITERAL containing the words is untouched.
    assert(spark.sql("SELECT 'x SIMILAR TO y' AS v").head().getString(0) ==
      "x SIMILAR TO y")
  }

  test("round-16 scalar-parity pack: session scalars and edge shapes") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // txid_current: monotonic across statements (one implicit txn each).
    val t1 = one[Long]("SELECT txid_current()")
    val t2 = one[Long]("SELECT txid_current()")
    assert(t2 > t1 && t1 > 0)
    // setseed: NULL-returning warn-once no-op, never an error.
    assert(spark.sql("SELECT setseed(0.5)").head().isNullAt(0))
    // generate_subscripts is set-returning (1-based), dim must be 1.
    assert(spark.sql("SELECT generate_subscripts(array(10, 20, 30), 1) AS s")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val exDim = intercept[Exception](spark.sql(
      "SELECT generate_subscripts(array(1), 2)"))
    assert(exDim.getMessage.contains("dimension"), exDim.getMessage)
    // format: '{:spec}' EXECUTES since the thirteenth sweep (fmt-spec →
    // printf translation; host-pinned '1.50'). Unsupported specs (fill
    // chars, centering) still decline toward printf.
    assert(one[String]("SELECT format('{:.2f}', 1.5)") == "1.50")
    val exFmt = intercept[Exception](spark.sql(
      "SELECT format('{:*>8.2f}', 1.5)"))
    assert(exFmt.getMessage.contains("printf"), exFmt.getMessage)
    // range: the scalar LIST form coexists with the FROM-position TVF.
    assert(one[Long]("SELECT CAST(COUNT(*) AS BIGINT) FROM range(3)") == 3L)
    assert(one[String]("SELECT array_to_string(range(-2), ',')") == "")
    // gcd edge: gcd(0, 0) = 0 (DuckDB-pinned), signs dropped.
    assert(one[Long]("SELECT gcd(0, 0)") == 0L)
    assert(one[Long]("SELECT gcd(-12, 18)") == 6L)
    // lcm: in-range values exact; BIGINT overflow ERRORS (DuckDB raises
    // out-of-range) instead of silently wrapping (round-17 advice fix).
    assert(one[Long]("SELECT lcm(4, 6)") == 12L)
    val exLcm = intercept[Exception](spark.sql(
      s"SELECT lcm(${Long.MaxValue}, ${Long.MaxValue - 1})").head())
    assert(exLcm.getMessage.contains("out of range"), exLcm.getMessage)
    // decode: 1-arg blob→string and 2-arg charset keep the DuckDB alias;
    // 3+ args delegate to Spark's native variadic decode (round-17 fix —
    // the alias must not shadow it).
    assert(one[String]("SELECT decode(encode('hi'))") == "hi")
    assert(one[String]("SELECT decode(2, 1, 'one', 2, 'two', 'other')") == "two")
    assert(one[String]("SELECT decode(7, 1, 'one', 'other')") == "other")
  }

  test("macro bodies containing subqueries execute with deep substitution") {
    import spark.implicits._
    Seq((1, 10), (2, 20), (3, 30)).toDF("x", "y")
      .createOrReplaceTempView("mq_t")
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // Parameter substituted INSIDE the subquery plan (the round-16
    // capability — pinned against DuckDB 1.0: m(2) = 2).
    spark.sql("CREATE OR REPLACE TEMP MACRO mq_max(v) AS " +
      "(SELECT max(x) FROM mq_t WHERE x <= v)")
    assert(one[Int]("SELECT mq_max(2)") == 2)
    // EXISTS and IN forms (DuckDB-pinned: true/false, true/false).
    spark.sql("CREATE OR REPLACE TEMP MACRO mq_has(v) AS " +
      "EXISTS(SELECT 1 FROM mq_t WHERE x = v)")
    assert(one[Boolean]("SELECT mq_has(2)") && !one[Boolean]("SELECT mq_has(9)"))
    spark.sql("CREATE OR REPLACE TEMP MACRO mq_in(v) AS " +
      "(v IN (SELECT x FROM mq_t))")
    assert(one[Boolean]("SELECT mq_in(3)") && !one[Boolean]("SELECT mq_in(9)"))
    // Trailing default whose value lands inside the subquery.
    spark.sql("CREATE OR REPLACE TEMP MACRO mq_sum(lo, hi := 100) AS " +
      "(SELECT CAST(sum(y) AS BIGINT) FROM mq_t WHERE x BETWEEN lo AND hi)")
    assert(one[Long]("SELECT mq_sum(2)") == 50L)
    assert(one[Long]("SELECT mq_sum(1, 2)") == 30L)
    // Macro-in-WHERE over another relation: substitution yields a plain
    // IN-subquery per DuckDB's expansion.
    Seq(1, 9).toDF("k").createOrReplaceTempView("mq_s")
    assert(one[Long]("SELECT CAST(COUNT(*) AS BIGINT) FROM mq_s WHERE mq_in(k)") == 1L)
    // Self-reference hiding inside a subquery still rejects at creation.
    val ex = intercept[Exception](spark.sql(
      "CREATE TEMP MACRO mq_rec(v) AS (SELECT max(x) FROM mq_t WHERE x <= mq_rec(v))"))
    assert(ex.getMessage.contains("recursive"), s"got: ${ex.getMessage}")
  }

  test("UNION-distinct WITH RECURSIVE executes via fixpoint; edges decline") {
    import spark.implicits._
    // A cyclic graph: UNION ALL recursion would never terminate here.
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 9L))
      .toDF("src", "dst").createOrReplaceTempView("ru_edges")
    val got = spark.sql(
      """WITH RECURSIVE reach AS (
           SELECT CAST(1 AS BIGINT) AS node
           UNION
           SELECT e.dst FROM reach j JOIN ru_edges e ON e.src = j.node)
         SELECT node FROM reach ORDER BY node""")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L))
    // CTE column-alias list carries through; multi-branch seeds stay in
    // the seed; the final query can aggregate over the closure.
    val n = spark.sql(
      """WITH RECURSIVE r (x) AS (
           SELECT 1 UNION SELECT 2
           UNION
           SELECT x * 2 FROM r WHERE x < 20)
         SELECT CAST(COUNT(*) AS BIGINT) FROM r""").head().getLong(0)
    // {1,2} ∪ doubling under 20: 1 2 4 8 16 32 — set semantics
    assert(n == 6L)
    // Native UNION ALL recursion is untouched by the claim.
    assert(spark.sql(
      """WITH RECURSIVE c AS (SELECT 1 AS i UNION ALL SELECT i+1 FROM c WHERE i < 3)
         SELECT CAST(SUM(i) AS BIGINT) FROM c""").head().getLong(0) == 6L)
    // ...even when the FINAL query (outside the CTE body) contains a
    // distinct UNION: the gate keys on the BODY, so this runs natively
    // instead of being claimed and hinted (round-17 advice fix).
    assert(spark.sql(
      """WITH RECURSIVE c AS (SELECT 1 AS i UNION ALL SELECT i+1 FROM c WHERE i < 3)
         SELECT i FROM c UNION SELECT 99 AS i""")
      .collect().map(_.getInt(0)).toSet == Set(1, 2, 3, 99))
    // Multiple CTEs in one WITH: declines to the guidance hint.
    val ex = intercept[Exception](spark.sql(
      """WITH RECURSIVE r AS (SELECT 1 AS x UNION SELECT x+1 FROM r WHERE x < 3),
            o AS (SELECT 9 AS y)
         SELECT * FROM r JOIN o ON true"""))
    assert(ex.getMessage.contains("fixpoint"), s"got: ${ex.getMessage}")
    // A string literal containing the words is data, not the construct.
    assert(spark.sql("SELECT 'WITH RECURSIVE r UNION x'").head().getString(0)
      == "WITH RECURSIVE r UNION x")
  }

  test("AT TIME ZONE executes both DuckDB directions; edge shapes decline") {
    def one[T](sql: String): T = spark.sql(sql).head().get(0).asInstanceOf[T]
    // Direction 1 (wall → instant): interpret the naive literal as NY
    // wall clock; its UTC rendering under the UTC session shifts +5h.
    assert(one[String]("SELECT CAST(TIMESTAMP '2024-01-15 00:00:00' " +
      "AT TIME ZONE 'America/New_York' AS STRING)") == "2024-01-15 05:00:00")
    // Direction 2 (instant → wall): a chained AT TIME ZONE is a
    // TIMESTAMPTZ source, parenthesized or not (left-assoc).
    assert(one[String]("SELECT CAST((TIMESTAMP '2024-01-15 00:00:00' " +
      "AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS STRING)") ==
      "2024-01-14 19:00:00")
    assert(one[String]("SELECT CAST(TIMESTAMP '2024-01-15 00:00:00' " +
      "AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS STRING)") ==
      "2024-01-14 19:00:00")
    // now() is a TIMESTAMPTZ builtin in DuckDB → instant direction; the
    // NY wall clock is 4-5 h behind the UTC instant.
    val d = one[Long]("SELECT CAST(unix_timestamp(now()) - " +
      "unix_timestamp(now() AT TIME ZONE 'America/New_York') AS BIGINT)")
    assert(d == 14400L || d == 18000L, s"NY offset: $d")
    // Summer instant: DST honored (UTC-4).
    assert(one[String]("SELECT CAST((TIMESTAMP '2024-07-15 12:00:00' " +
      "AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS STRING)") ==
      "2024-07-15 08:00:00")
    // Non-literal zone declines LOUDLY with the guidance hint.
    val ex = intercept[Exception](spark.sql(
      "SELECT TIMESTAMP '2024-01-15 00:00:00' AT TIME ZONE concat('U','TC')"))
    assert(ex.getMessage.contains("to_utc_timestamp"), s"got: ${ex.getMessage}")
    // A string LITERAL containing the words is untouched.
    assert(one[String]("SELECT 'x AT TIME ZONE y'") == "x AT TIME ZONE y")
  }

  test("round-15 advice fixes: temp+ASOF composition, no-space INSERT, " +
    "UPDATE subquery decline, DuckDB-spelled export manifest") {
    registerMarket()
    spark.sql("SELECT sym, tt FROM sq_trades").createOrReplaceTempView("a15_l")
    spark.sql("SELECT sym, qt AS tt, px FROM sq_quotes")
      .createOrReplaceTempView("a15_r")
    // 1) CREATE TEMP TABLE ... AS SELECT ... ASOF JOIN: the temp-table
    //    arm claims the statement first and the ASOF in the body is
    //    rewritten when the TVF executes it (r14 ordering broke this).
    spark.sql("DROP TABLE IF EXISTS a15_t")
    spark.sql(
      """CREATE TEMP TABLE a15_t AS
        |SELECT sym, tt, px FROM a15_l ASOF JOIN a15_r USING (sym, tt)""".stripMargin)
    val direct = spark.sql(
      "SELECT sym, tt, px FROM a15_l ASOF JOIN a15_r USING (sym, tt)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mat = spark.table("a15_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mat == direct && mat.nonEmpty, s"materialized $mat vs direct $direct")
    // ... and INSERT INTO <temp> SELECT ... ASOF JOIN composes too.
    val before = mat.size
    spark.sql(
      "INSERT INTO a15_t SELECT sym, tt, px FROM a15_l ASOF JOIN a15_r USING (sym, tt)")
    assert(spark.table("a15_t").count() == before * 2L)
    // 2) Column-list INSERT with no space before '(' is claimed, not
    //    dropped to Spark's 'inserting into a view' error.
    spark.sql("DROP TABLE IF EXISTS a15_c")
    spark.sql("CREATE TEMP TABLE a15_c (id INT, s STRING)")
    spark.sql("INSERT INTO a15_c(id) VALUES (99)")
    assert(spark.sql("SELECT s FROM a15_c WHERE id = 99").head().isNullAt(0))
    // 3) UPDATE ... WHERE IN (SELECT ...) declines with the staged
    //    guidance (the projection cannot host the subquery) — DELETE's
    //    real Filter still executes it.
    val ex = intercept[Exception](spark.sql(
      "UPDATE a15_c SET s = 'x' WHERE id IN (SELECT 99)"))
    assert(ex.getMessage.contains("IN/EXISTS subquery"), s"got: ${ex.getMessage}")
    val d = spark.sql("DELETE FROM a15_c WHERE id IN (SELECT 99)").head().getLong(0)
    assert(d == 1L)
    // 4) EXPORT DATABASE schema.sql uses DuckDB type spellings for
    //    nested types (INT[]/STRUCT(...)), not Spark's ARRAY<...>.
    spark.sql("DROP TABLE IF EXISTS a15_n")
    spark.sql(
      """CREATE TEMP TABLE a15_n AS SELECT array(1, 2) AS xs,
        |named_struct('a', 1, 'b', 'z') AS st, map('k', 1) AS m,
        |'s' AS v, TIMESTAMP '2024-01-01 00:00:00' AS ts""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("graft_a15").toString
    spark.sql(s"EXPORT DATABASE '$dir/snap' (FORMAT PARQUET)")
    val schema = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/snap/schema.sql")))
    val line = schema.linesIterator.find(_.contains("a15_n")).getOrElse(
      fail(s"no a15_n line in: $schema"))
    assert(line.contains("INTEGER[]") && line.contains("STRUCT(") &&
      line.contains("MAP(VARCHAR, INTEGER)") && line.contains("VARCHAR") &&
      line.contains("TIMESTAMPTZ") && !line.toUpperCase.contains("ARRAY<"),
      s"got: $line")
    Seq("a15_t", "a15_c", "a15_n").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
