package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Declared analytics queries covering the host-engine SQL surface the
  * reference inherits and its own scripts exercise (SURVEY.md §2B/§2C):
  * scans, joins of every flavor, aggregation (plain/distinct/rollup/cube/
  * grouping sets/approx), window functions, set ops, string/date/math
  * scalar functions, CTEs, subqueries, VALUES relations, csv/json
  * round-trips, and the events table.
  *
  * Each entry carries its DuckDB oracle SQL inline (run by the driver over
  * the same parquet at sf0.01).
  *
  * Determinism rules (results are hash-compared against DuckDB):
  *  - money: per-row `CAST(round(x*100, 0) AS BIGINT)` cents, summed as
  *    exact integers — immune to float summation order (all price-ish
  *    columns are exact 2-decimal values, verified in TESTDATA);
  *  - every output has a total ORDER BY;
  *  - no raw float aggregates except over integral values (l_quantity).
  *
  * Scale notes (100 TB posture): filters/projections sit directly on the
  * parquet scan (pushdown verified via explain in QueryPlanSpec); the
  * nation/region dimension joins are explicit `broadcast()`; fact-fact
  * joins shuffle on their join keys and pre-aggregate before joining where
  * the query allows it.
  */
object AnalyticsQueries {

  final case class Declared(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Exact integer cents for a 2-decimal double column. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Engine.table(spark, sfDir, name)

  private val all = Seq.newBuilder[Declared]
  private def declare(name: String, oracle: String = null)(
      fn: (SparkSession, String) => DataFrame): Unit =
    all += Declared(name, fn, Option(oracle))

  // ------------------------------------------------------------------
  // Aggregation over the big fact table (scan + pushdown + hash agg)
  // ------------------------------------------------------------------
  declare("q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ------------------------------------------------------------------
  // Multi-way join with broadcast dimensions (lineitem⋈supplier⋈nation⋈region)
  // ------------------------------------------------------------------
  declare("q02_revenue_by_nation",
    """SELECT r_name, n_name,
         CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
         COUNT(*) AS n_items
       FROM lineitem
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name
       ORDER BY r_name, n_name""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, sfDir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  // ------------------------------------------------------------------
  // Window: ranking within groups (row_number with deterministic tie-break)
  // ------------------------------------------------------------------
  declare("q03_top_orders_per_priority",
    """SELECT o_orderpriority, rn, o_orderkey, total_cents FROM (
         SELECT o_orderpriority, o_orderkey,
           CAST(round(o_totalprice*100, 0) AS BIGINT) AS total_cents,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) ranked
       WHERE rn <= 3
       ORDER BY o_orderpriority, rn""") { (spark, sfDir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        cents(col("o_totalprice")).as("total_cents"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "total_cents")
      .orderBy("o_orderpriority", "rn")
  }

  // ------------------------------------------------------------------
  // Left outer join with null handling
  // ------------------------------------------------------------------
  declare("q04_customer_order_stats",
    """SELECT c_custkey,
         COUNT(o_orderkey) AS n_orders,
         CAST(COALESCE(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)), 0) AS BIGINT) AS spend_cents
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       WHERE c_custkey <= 200
       GROUP BY c_custkey
       ORDER BY c_custkey""") { (spark, sfDir) =>
    t(spark, sfDir, "customer").filter(col("c_custkey") <= 200)
      .join(t(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spend_cents"))
      .orderBy("c_custkey")
  }

  // ------------------------------------------------------------------
  // Semi / anti joins
  // ------------------------------------------------------------------
  declare("q05_semi_anti_join",
    """SELECT 'with_orders' AS segment_kind,
            (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n
       UNION ALL
       SELECT 'without_orders',
            (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
       ORDER BY segment_kind""") { (spark, sfDir) =>
    val c = t(spark, sfDir, "customer")
    val o = t(spark, sfDir, "orders")
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("segment_kind"), col("n"))
    val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("segment_kind"), col("n"))
    withO.union(withoutO).orderBy("segment_kind")
  }

  // ------------------------------------------------------------------
  // Full outer join of two aggregates
  // ------------------------------------------------------------------
  declare("q06_full_outer_nation",
    """SELECT COALESCE(c.k, s.k) AS nationkey,
         COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
       FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
       FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
       ON c.k = s.k
       ORDER BY nationkey""") { (spark, sfDir) =>
    val c = t(spark, sfDir, "customer").groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val s = t(spark, sfDir, "supplier").groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  // ------------------------------------------------------------------
  // ROLLUP / CUBE / GROUPING SETS
  // ------------------------------------------------------------------
  declare("q07_rollup_region_nation",
    """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
         COUNT(*) AS n_cust
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name)
       ORDER BY region_name, nation_name""") { (spark, sfDir) =>
    // Dataset.rollup + a post-agg select of grouping columns trips Spark
    // 4.1's ambiguous-self-join check; the SQL ROLLUP form resolves fine
    // and matches the oracle verbatim.
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
           COUNT(*) AS n_cust
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY region_name, nation_name""")
  }

  declare("q08_cube_status_priority",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders
       GROUP BY CUBE(o_orderstatus, o_orderpriority)
       ORDER BY status, priority""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_cents"))
      .orderBy("status", "priority")
  }

  declare("q09_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
         SUM(l_quantity) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       ORDER BY rflag, lstatus""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
           SUM(l_quantity) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY rflag, lstatus""")
  }

  // ------------------------------------------------------------------
  // DISTINCT aggregates; approx_count_distinct sanity envelope
  // ------------------------------------------------------------------
  declare("q10_distinct_agg",
    """SELECT l_returnflag,
         COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  declare("q11_approx_distinct_envelope",
    """SELECT 'l_orderkey' AS col_name,
         CASE WHEN abs(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
                   <= 0.1 * COUNT(DISTINCT l_orderkey)
              THEN 'within_10pct' ELSE 'off' END AS hll_check
       FROM lineitem""") { (spark, sfDir) =>
    // HLL implementations differ across engines, so the oracle-comparable
    // output is the accuracy envelope, not the estimate itself.
    t(spark, sfDir, "lineitem")
      .agg(approx_count_distinct(col("l_orderkey")).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .select(lit("l_orderkey").as("col_name"),
        when(abs(col("approx") - col("exact")) <= col("exact") * 0.1, lit("within_10pct"))
          .otherwise(lit("off")).as("hll_check"))
  }

  // ------------------------------------------------------------------
  // Set operations
  // ------------------------------------------------------------------
  declare("q12_set_ops",
    """SELECT 'both' AS op, COUNT(*) AS n FROM
         (SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
       UNION ALL
       SELECT 'cust_only', COUNT(*) FROM
         (SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier) t2
       UNION ALL
       SELECT 'union_all_rows', COUNT(*) FROM
         (SELECT c_nationkey FROM customer UNION ALL SELECT s_nationkey FROM supplier) t3
       ORDER BY op""") { (spark, sfDir) =>
    val c = t(spark, sfDir, "customer").select(col("c_nationkey").as("k"))
    val s = t(spark, sfDir, "supplier").select(col("s_nationkey").as("k"))
    val both = c.intersect(s).agg(count(lit(1)).as("n"))
      .select(lit("both").as("op"), col("n"))
    val custOnly = c.except(s).agg(count(lit(1)).as("n"))
      .select(lit("cust_only").as("op"), col("n"))
    val unionAll = c.union(s).agg(count(lit(1)).as("n"))
      .select(lit("union_all_rows").as("op"), col("n"))
    both.union(custOnly).union(unionAll).orderBy("op")
  }

  // ------------------------------------------------------------------
  // String functions: LIKE/ILIKE/IN/CASE/||/split_part/cast
  // ------------------------------------------------------------------
  declare("q13_string_predicates",
    """SELECT p_partkey, p_name, p_brand FROM part
       WHERE p_name LIKE '%gear%' AND p_name NOT LIKE 'small%'
         AND p_brand ILIKE 'brand%'
         AND p_type IN ('ECONOMY', 'SMALL', 'STANDARD')
         AND p_retailprice > 500.0
       ORDER BY p_partkey""") { (spark, sfDir) =>
    t(spark, sfDir, "part")
      .filter(col("p_name").like("%gear%") && !col("p_name").like("small%")
        && col("p_name").ilike("%GEAR%") // ilike on same rows; keeps ILIKE exercised
        && col("p_brand").ilike("brand%")
        && col("p_type").isin("ECONOMY", "SMALL", "STANDARD")
        && col("p_retailprice") > 500.0)
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")
  }

  declare("q14_case_concat_split",
    """SELECT p_partkey,
         split_part(p_name, ' ', 1) AS adjective,
         split_part(p_name, ' ', 2) AS noun,
         CASE WHEN p_size > 30 THEN 'L' WHEN p_size > 15 THEN 'M' ELSE 'S' END
           || '-' || CAST(p_size AS VARCHAR) AS size_class,
         upper(p_type) || ':' || lower(p_brand) AS type_brand
       FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""") { (spark, sfDir) =>
    t(spark, sfDir, "part").filter(col("p_partkey") <= 300)
      .select(col("p_partkey"),
        split_part(col("p_name"), lit(" "), lit(1)).as("adjective"),
        split_part(col("p_name"), lit(" "), lit(2)).as("noun"),
        concat(
          when(col("p_size") > 30, "L").when(col("p_size") > 15, "M").otherwise("S"),
          lit("-"), col("p_size").cast("string")).as("size_class"),
        concat(upper(col("p_type")), lit(":"), lower(col("p_brand"))).as("type_brand"))
      .orderBy("p_partkey")
  }

  // ------------------------------------------------------------------
  // Date/time functions
  // ------------------------------------------------------------------
  declare("q15_orders_by_month",
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders
       WHERE EXTRACT(year FROM o_orderdate) = 1997
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy("order_month")
  }

  // ------------------------------------------------------------------
  // Window analytics: running totals, lag, first_value over frames
  // ------------------------------------------------------------------
  declare("q16_running_spend",
    """SELECT o_custkey, o_orderkey,
         CAST(SUM(c) OVER w AS BIGINT) AS run_cents,
         c - COALESCE(lag(c, 1) OVER w, 0) AS delta_cents,
         first_value(c) OVER w AS first_cents
       FROM (SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(round(o_totalprice*100, 0) AS BIGINT) AS c
             FROM orders WHERE o_custkey <= 100) t
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY o_custkey, o_orderkey""") { (spark, sfDir) =>
    import org.apache.spark.sql.expressions.Window
    // lag() rejects an explicit frame in Spark — keep a frameless twin of
    // the running-total window for the offset functions.
    val wOrder = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wRun = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, sfDir, "orders").filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("c"))
      .select(col("o_custkey"), col("o_orderkey"),
        sum("c").over(wRun).as("run_cents"),
        (col("c") - coalesce(lag("c", 1).over(wOrder), lit(0L))).as("delta_cents"),
        first("c").over(wRun).as("first_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  declare("q17_ntile_acctbal",
    """SELECT c_nationkey, tile, COUNT(*) AS n,
         MIN(bal_cents) AS min_cents, MAX(bal_cents) AS max_cents
       FROM (SELECT c_nationkey,
               CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_cents,
               ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS tile
             FROM customer) t
       GROUP BY c_nationkey, tile ORDER BY c_nationkey, tile""") { (spark, sfDir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    t(spark, sfDir, "customer")
      .select(col("c_nationkey"), cents(col("c_acctbal")).as("bal_cents"),
        ntile(4).over(w).cast("long").as("tile"))
      .groupBy("c_nationkey", "tile")
      .agg(count(lit(1)).as("n"), min("bal_cents").as("min_cents"),
        max("bal_cents").as("max_cents"))
      .orderBy("c_nationkey", "tile")
  }

  // ------------------------------------------------------------------
  // Subqueries: scalar, IN, correlated EXISTS
  // ------------------------------------------------------------------
  declare("q18_scalar_subquery",
    """SELECT COUNT(*) AS n_above_avg FROM part
       WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT COUNT(*) AS n_above_avg FROM part
         WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)""")
  }

  declare("q19_in_exists_subquery",
    """SELECT COUNT(*) AS n FROM orders o
       WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT COUNT(*) AS n FROM orders o
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""")
  }

  // ------------------------------------------------------------------
  // Multi-CTE chain (the reference's network-flow analytics shape)
  // ------------------------------------------------------------------
  declare("q20_cte_chain",
    """WITH big_orders AS (
         SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000
       ), big_items AS (
         SELECT l_orderkey,
           CAST(round(l_extendedprice*100, 0) AS BIGINT) AS item_cents
         FROM lineitem JOIN big_orders ON l_orderkey = o_orderkey
       )
       SELECT COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_items,
         CAST(SUM(item_cents) AS BIGINT) AS total_cents
       FROM big_items""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """WITH big_orders AS (
           SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000
         ), big_items AS (
           SELECT l_orderkey,
             CAST(round(l_extendedprice*100, 0) AS BIGINT) AS item_cents
           FROM lineitem JOIN big_orders ON l_orderkey = o_orderkey
         )
         SELECT COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_items,
           CAST(SUM(item_cents) AS BIGINT) AS total_cents
         FROM big_items""")
  }

  // ------------------------------------------------------------------
  // Inline VALUES relation as a decode dimension
  // ------------------------------------------------------------------
  declare("q21_values_decode",
    """SELECT COALESCE(label, 'other') AS label, COUNT(*) AS n
       FROM orders LEFT JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
         AS dim(status, label) ON o_orderstatus = status
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT COALESCE(label, 'other') AS label, COUNT(*) AS n
         FROM orders LEFT JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
           AS dim(status, label) ON o_orderstatus = status
         GROUP BY 1 ORDER BY 1""")
  }

  // ------------------------------------------------------------------
  // Sources/sinks: csv and json round-trips through the local filesystem
  // ------------------------------------------------------------------
  declare("q22_csv_roundtrip",
    """SELECT r_name, COUNT(*) AS n_nations FROM region JOIN nation ON r_regionkey = n_regionkey
       GROUP BY r_name ORDER BY r_name""") { (spark, sfDir) =>
    val dir = graft.operators.Scratch.freshDir(spark, "csv")
    t(spark, sfDir, "region").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("r_regionkey INT, r_name STRING").csv(dir)
    back.join(broadcast(t(spark, sfDir, "nation")), col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n_nations")).orderBy("r_name")
  }

  declare("q23_json_roundtrip",
    """SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    val dir = graft.operators.Scratch.freshDir(spark, "json")
    t(spark, sfDir, "nation").coalesce(1).write.mode("overwrite").json(dir)
    spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(dir)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n")).orderBy("n_regionkey")
  }

  declare("q24_json_extract",
    """SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) % 10 AS k_bucket,
         COUNT(*) AS n
       FROM events GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    // Spark side parses the JSON properly (from_json); the oracle recovers
    // the same integer lexically so both engines agree on values.
    Engine.events(spark, sfDir)
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k_bucket")
  }

  // ------------------------------------------------------------------
  // Events: hourly windows and gap sessionization (batch; streaming twin
  // lives in graft.streaming)
  // ------------------------------------------------------------------
  declare("q25_events_hourly",
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events
       GROUP BY 1, 2 ORDER BY 1, 2""") { (spark, sfDir) =>
    Engine.events(spark, sfDir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .orderBy("hour_epoch", "event_type")
  }

  declare("q26_sessionize",
    """WITH marked AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sess AS (
         SELECT user_id,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         FROM marked
       )
       SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
       FROM sess GROUP BY user_id ORDER BY user_id""") { (spark, sfDir) =>
    import org.apache.spark.sql.expressions.Window
    // Gap test in exact microseconds (unix_micros), matching the oracle's
    // µs-precision interval comparison — casting to whole seconds would
    // misclassify gaps that straddle the 30-minute boundary by <1s.
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Engine.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
      .withColumn("new_sess",
        when(lag("tsu", 1).over(w).isNull ||
          col("tsu") - lag("tsu", 1).over(w) > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(wRun))
      .groupBy("user_id")
      .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // Math scalar functions
  // ------------------------------------------------------------------
  declare("q27_math_funcs",
    """SELECT p_size, COUNT(*) AS n,
         CAST(SUM(CAST(abs(p_size - 25) AS BIGINT)) AS BIGINT) AS sum_absdev,
         MIN(CAST(round(sqrt(p_retailprice) * 1000, 0) AS BIGINT)) AS min_sqrt_milli
       FROM part GROUP BY p_size ORDER BY p_size""") { (spark, sfDir) =>
    t(spark, sfDir, "part")
      .groupBy("p_size")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("p_size") - 25).cast("long")).as("sum_absdev"),
        min(round(sqrt(col("p_retailprice")) * 1000, 0).cast("long")).as("min_sqrt_milli"))
      .orderBy("p_size")
  }

  // ------------------------------------------------------------------
  // Top-N pushdown (sort + limit -> TakeOrderedAndProject)
  // ------------------------------------------------------------------
  declare("q28_topn",
    """SELECT o_orderkey, CAST(round(o_totalprice*100, 0) AS BIGINT) AS total_cents
       FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"),
        col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "total_cents")
  }

  // ------------------------------------------------------------------
  // As-of join: each event matched to the user's latest order at or
  // before the event time (DuckDB expresses this as ASOF JOIN; Spark has
  // no native operator). Formulated as union + one per-user window sort
  // + running max of the order date: LINEAR in |orders|+|events|, one
  // shuffle on user_id. The equi+range-join alternative materializes
  // every (event, earlier-order) pair first — a blow-up by avg orders
  // per user that explodes on heavy users at 100 TB.
  // ------------------------------------------------------------------
  declare("q29_asof_join",
    """SELECT user_id,
         COUNT(*) AS n_matched,
         CAST(SUM(CAST(date_diff('day', last_order, CAST(ts AS TIMESTAMP)) AS BIGINT)) AS BIGINT) AS sum_gap_days
       FROM (
         SELECT e.user_id, e.ts, MAX(o.o_orderdate) AS last_order
         FROM events e JOIN orders o
           ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
         GROUP BY e.user_id, e.ts, e.event_id
       ) m
       GROUP BY user_id ORDER BY user_id""") { (spark, sfDir) =>
    // The reusable linear as-of operator (union + per-user running window,
    // exactly one hash shuffle — see graft.operators.AsOfJoin): each event
    // picks the latest order at-or-before its timestamp, inclusive
    // (an order placed exactly at the event instant matches), inner
    // (events before any order drop) — DuckDB ASOF JOIN semantics.
    val e = Engine.events(spark, sfDir)
    val o = t(spark, sfDir, "orders")
    graft.operators.AsOfJoin.asofJoin(
        left = e.select(col("user_id"), col("ts")),
        right = o.select(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").as("ot"),
          col("o_orderdate").as("last_order")),
        on = "user_id", leftOrder = "ts", rightOrder = "ot",
        payload = Seq("last_order"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matched"),
        sum(datediff(col("ts"), col("last_order")).cast("long")).as("sum_gap_days"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------------------
  // The same as-of semantics driven ENTIRELY through SQL via the
  // injected asof_join table function (sql/GraftSparkExtensions): what a
  // DuckDB user writes as `... ASOF JOIN ...` a SQL-only user of this
  // engine writes as `FROM asof_join('ev','ord',...)`. Same linear
  // union+window plan as q29 — the TVF splices the distributed logical
  // plan, it does not collect — and the same oracle.
  // ------------------------------------------------------------------
  declare("q29_asof_sql",
    """SELECT user_id,
         COUNT(*) AS n_matched,
         CAST(SUM(CAST(date_diff('day', last_order, CAST(ts AS TIMESTAMP)) AS BIGINT)) AS BIGINT) AS sum_gap_days
       FROM (
         SELECT e.user_id, e.ts, MAX(o.o_orderdate) AS last_order
         FROM events e JOIN orders o
           ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
         GROUP BY e.user_id, e.ts, e.event_id
       ) m
       GROUP BY user_id ORDER BY user_id""") { (spark, sfDir) =>
    Engine.events(spark, sfDir).select(col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_asof_ev")
    t(spark, sfDir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ot"),
        col("o_orderdate").as("last_order"))
      .createOrReplaceTempView("graft_asof_ord")
    spark.sql(
      """SELECT user_id, COUNT(*) AS n_matched,
           SUM(CAST(datediff(ts, last_order) AS BIGINT)) AS sum_gap_days
         FROM asof_join('graft_asof_ev', 'graft_asof_ord', 'user_id', 'ts', 'ot', 'last_order')
         GROUP BY user_id ORDER BY user_id""")
  }

  // ------------------------------------------------------------------
  // The LITERAL DuckDB syntax, pasted as-is: `FROM l ASOF JOIN r ON
  // l.k = r.k AND l.ts >= r.ts`. Spark's parser cannot host it, so the
  // hint parser's tier-1 rewrite (sql/AsofJoinRewrite) turns the common
  // backward form into the asof_join() TVF splice and re-parses — the
  // DuckDB statement RUNS. The oracle is DuckDB's own native ASOF JOIN
  // (reference host capability, MainDistributionPipeline.yml:29), so
  // this pins literal-syntax parity end to end. Same linear union+window
  // plan and the same views as q29_asof_sql.
  // ------------------------------------------------------------------
  declare("q29_asof_literal",
    """SELECT e.user_id AS user_id, COUNT(*) AS n_matched,
         CAST(SUM(CAST(date_diff('day', last_order, e.ts) AS BIGINT)) AS BIGINT) AS sum_gap_days
       FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
       ASOF JOIN (SELECT o_custkey AS user_id,
                    CAST(o_orderdate AS TIMESTAMP) AS ot,
                    o_orderdate AS last_order FROM orders) o
         ON e.user_id = o.user_id AND e.ts >= o.ot
       GROUP BY e.user_id ORDER BY user_id""") { (spark, sfDir) =>
    Engine.events(spark, sfDir).select(col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_asof_ev")
    t(spark, sfDir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ot"),
        col("o_orderdate").as("last_order"))
      .createOrReplaceTempView("graft_asof_ord")
    spark.sql(
      """SELECT e.user_id AS user_id, COUNT(*) AS n_matched,
           SUM(CAST(datediff(ts, last_order) AS BIGINT)) AS sum_gap_days
         FROM graft_asof_ev e ASOF JOIN graft_asof_ord o
           ON e.user_id = o.user_id AND e.ts >= o.ot
         GROUP BY e.user_id ORDER BY user_id""")
  }

  // ------------------------------------------------------------------
  // ASOF JOIN USING shorthand (round 14): `USING (k, ord)` — key
  // equality on all-but-last, backward inclusive order on the last,
  // output = using columns once (left side) + the right payload, which
  // is EXACTLY the asof_join TVF's schema, so even a bare SELECT *
  // is faithful here. Intercepted PRE-delegation (without it Spark
  // parses ASOF as a table alias and the USING form silently becomes a
  // plain equi-join on both columns — the worst failure mode; see
  // GraftHintParser.asofShaped). Oracle = DuckDB's own native form.
  // ------------------------------------------------------------------
  declare("q97_asof_using",
    """SELECT user_id, COUNT(*) AS n_matched,
         CAST(SUM(CAST(date_diff('day', last_order, CAST(ts AS TIMESTAMP)) AS BIGINT)) AS BIGINT) AS sum_gap_days
       FROM (
         SELECT e.user_id, e.ts, MAX(o.o_orderdate) AS last_order
         FROM events e JOIN orders o
           ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
         GROUP BY e.user_id, e.ts, e.event_id
       ) m
       GROUP BY user_id ORDER BY user_id""") { (spark, sfDir) =>
    Engine.events(spark, sfDir).select(col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_asofu_ev")
    t(spark, sfDir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_orderdate").as("last_order"))
      .createOrReplaceTempView("graft_asofu_ord")
    spark.sql(
      """SELECT user_id, COUNT(*) AS n_matched,
           CAST(SUM(CAST(datediff(ts, last_order) AS BIGINT)) AS BIGINT) AS sum_gap_days
         FROM graft_asofu_ev ASOF JOIN graft_asofu_ord USING (user_id, ts)
         GROUP BY user_id ORDER BY user_id""")
  }

  // ------------------------------------------------------------------
  // FORWARD as-of (round 14): the `l.ts <= r.ts` inequality direction —
  // for each click, the user's NEXT purchase (the attribution funnel
  // shape). Same linear union+window plan with the frame looking ahead
  // (AsOfJoin forward=true, first() over [current, following]);
  // AsofJoinRewrite maps all four inequality operators in both conjunct
  // orders onto the TVF's forward flag. Oracle = DuckDB's own native
  // forward ASOF JOIN; payload is the matched timestamp itself, so
  // (key, order) ties cannot produce divergent picks.
  // ------------------------------------------------------------------
  declare("q92_asof_forward",
    """SELECT c.user_id AS user_id, COUNT(*) AS n_attributed,
         CAST(SUM(CAST(floor(epoch(p_ts) - epoch(c.ts)) AS BIGINT)) AS BIGINT) AS sum_wait_secs
       FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click') c
       ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts,
                    CAST(ts AS TIMESTAMP) AS p_ts
                  FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id AND c.ts <= p.pts
       GROUP BY c.user_id ORDER BY user_id""") { (spark, sfDir) =>
    val ev = Engine.events(spark, sfDir)
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_q92_clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("ts").as("p_ts"))
      .createOrReplaceTempView("graft_q92_purch")
    spark.sql(
      """SELECT c.user_id AS user_id, COUNT(*) AS n_attributed,
           CAST(SUM(CAST(floor(epoch(p_ts) - epoch(c.ts)) AS BIGINT)) AS BIGINT) AS sum_wait_secs
         FROM graft_q92_clicks c ASOF JOIN graft_q92_purch p
           ON c.user_id = p.user_id AND c.ts <= p.pts
         GROUP BY c.user_id ORDER BY user_id""")
  }

  // ------------------------------------------------------------------
  // ASOF JOIN inside a SUBQUERY (round 17): the literal DuckDB syntax
  // nested in a derived table — AsofJoinRewrite.rewriteNested recurses
  // the TVF splice into parenthesized blocks, so the pasted statement
  // RUNS instead of raising the hint. Oracle = DuckDB's own native
  // nested ASOF; same views and aggregate discipline as
  // q29_asof_literal (CAST SUM to BIGINT — DuckDB SUM(BIGINT) is
  // HUGEINT).
  // ------------------------------------------------------------------
  declare("q139_asof_nested",
    """SELECT user_id, COUNT(*) AS n_matched,
         CAST(SUM(CAST(date_diff('day', last_order, ts) AS BIGINT)) AS BIGINT) AS sum_gap_days
       FROM (SELECT e.user_id AS user_id, e.ts AS ts, last_order
             FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
             ASOF JOIN (SELECT o_custkey AS user_id,
                          CAST(o_orderdate AS TIMESTAMP) AS ot,
                          o_orderdate AS last_order FROM orders) o
               ON e.user_id = o.user_id AND e.ts >= o.ot) m
       GROUP BY user_id ORDER BY user_id""") { (spark, sfDir) =>
    Engine.events(spark, sfDir).select(col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_asofn_ev")
    t(spark, sfDir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ot"),
        col("o_orderdate").as("last_order"))
      .createOrReplaceTempView("graft_asofn_ord")
    spark.sql(
      """SELECT user_id, COUNT(*) AS n_matched,
           CAST(SUM(CAST(datediff(ts, last_order) AS BIGINT)) AS BIGINT) AS sum_gap_days
         FROM (SELECT e.user_id AS user_id, e.ts AS ts, last_order
               FROM graft_asofn_ev e ASOF JOIN graft_asofn_ord o
                 ON e.user_id = o.user_id AND e.ts >= o.ot) m
         GROUP BY user_id ORDER BY user_id""")
  }

  // ------------------------------------------------------------------
  // Range (theta) join against a small banding relation -> broadcast
  // nested loop; never a shuffle of the fact table.
  // ------------------------------------------------------------------
  declare("q30_range_join",
    """SELECT band, COUNT(*) AS n,
         CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
       FROM lineitem
       JOIN (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0), ('high', 35.0, 100.0))
         AS bands(band, lo, hi)
         ON l_quantity > lo AND l_quantity <= hi
       GROUP BY band ORDER BY band""") { (spark, sfDir) =>
    import spark.implicits._
    val bands = Seq(("low", 0.0, 15.0), ("mid", 15.0, 35.0), ("high", 35.0, 100.0))
      .toDF("band", "lo", "hi")
    t(spark, sfDir, "lineitem")
      .join(broadcast(bands), col("l_quantity") > col("lo") && col("l_quantity") <= col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("price_cents"))
      .orderBy("band")
  }

  // ------------------------------------------------------------------
  // ORC source/sink round-trip (third columnar format after parquet/csv)
  // ------------------------------------------------------------------
  declare("q31_orc_roundtrip",
    """SELECT s_nationkey, COUNT(*) AS n,
         CAST(SUM(CAST(round(s_acctbal*100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
       FROM supplier GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    val dir = graft.operators.Scratch.freshDir(spark, "orc")
    t(spark, sfDir, "supplier").coalesce(1).write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum(cents(col("s_acctbal"))).as("bal_cents"))
      .orderBy("s_nationkey")
  }

  // ------------------------------------------------------------------
  // Ordered-set aggregate: exact interpolated median (percentile /
  // quantile_cont share the linear-interpolation definition)
  // ------------------------------------------------------------------
  declare("q32_median",
    """SELECT o_orderpriority,
         quantile_cont(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.5) AS median_cents,
         COUNT(*) AS n
       FROM orders GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT o_orderpriority,
           percentile(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.5) AS median_cents,
           COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""")
  }

  // ------------------------------------------------------------------
  // Native session_window (Spark's gap-session operator, usable in batch
  // and streaming) — oracle reconstructs the same sessions via the
  // lag/cumsum formulation.
  // ------------------------------------------------------------------
  declare("q33_session_window",
    """WITH marked AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
           CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END new_sess
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sess AS (
         SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess_id
         FROM marked
       )
       SELECT user_id,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) session_start_epoch,
         COUNT(*) n_events
       FROM sess GROUP BY user_id, sess_id
       ORDER BY user_id, session_start_epoch""") { (spark, sfDir) =>
    Engine.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_epoch"),
        col("n_events"))
      .orderBy("user_id", "session_start_epoch")
  }

  // ------------------------------------------------------------------
  // PIVOT (wide conditional aggregation)
  // ------------------------------------------------------------------
  declare("q34_pivot",
    """SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
       FROM orders GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------------------------
  // Ordered string aggregation (listagg WITHIN GROUP)
  // ------------------------------------------------------------------
  declare("q35_listagg",
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
       FROM region JOIN nation ON r_regionkey = n_regionkey
       GROUP BY r_name ORDER BY r_name""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT r_name,
           listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
         FROM region JOIN nation ON r_regionkey = n_regionkey
         GROUP BY r_name ORDER BY r_name""")
  }

  // ------------------------------------------------------------------
  // Custom typed Aggregator (UDAF surface): geometric mean of prices
  // ------------------------------------------------------------------
  declare("q36_geomean",
    """SELECT p_type, round(exp(AVG(ln(p_retailprice))), 4) AS geo_mean, COUNT(*) AS n
       FROM part WHERE p_retailprice > 0 GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    spark.udf.register("geo_mean",
      org.apache.spark.sql.functions.udaf(graft.functions.GeoMean))
    t(spark, sfDir, "part").filter(col("p_retailprice") > 0)
      .createOrReplaceTempView("part_pos")
    spark.sql(
      """SELECT p_type, round(geo_mean(p_retailprice), 4) AS geo_mean, COUNT(*) AS n
         FROM part_pos GROUP BY 1 ORDER BY 1""")
  }

  // ------------------------------------------------------------------
  // MapType surface: constructors (map_from_arrays), lambdas over maps
  // (transform_values, map_filter), lookup (element_at), cardinality —
  // all row-local codegen-friendly expressions; the aggregation after
  // them is an ordinary partial/final hash agg. The DuckDB oracle walks
  // the same per-row map through map()/map_entries()/list lambdas.
  // ------------------------------------------------------------------
  declare("q37_map_ops",
    """WITH m AS (
         SELECT event_type,
           map(['base','dbl'], [b, b*2]) AS mm
         FROM (SELECT event_type, CAST(round(value*100, 0) AS BIGINT) AS b FROM events)
       )
       SELECT event_type, COUNT(*) AS n,
         CAST(SUM(list_transform(map_entries(mm), e -> e.value + 10)[1]) AS BIGINT) AS sum_base10,
         CAST(SUM(len(list_filter(map_entries(mm), e -> e.value % 2 = 0))) AS BIGINT) AS sum_even_entries,
         CAST(SUM(map_extract(mm, 'dbl')[1]) AS BIGINT) AS sum_dbl,
         CAST(SUM(cardinality(mm)) AS BIGINT) AS sum_card
       FROM m GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    Engine.events(spark, sfDir)
      .select(col("event_type"),
        map_from_arrays(
          array(lit("base"), lit("dbl")),
          array(cents(col("value")), cents(col("value")) * 2)).as("mm"))
      .select(col("event_type"),
        element_at(transform_values(col("mm"), (_, v) => v + 10), "base").as("base10"),
        size(map_filter(col("mm"), (_, v) => v % 2 === 0)).as("even_entries"),
        element_at(col("mm"), "dbl").as("dbl"),
        size(col("mm")).as("card"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("base10")).as("sum_base10"),
        sum(col("even_entries")).cast("long").as("sum_even_entries"),
        sum(col("dbl")).as("sum_dbl"),
        sum(col("card")).cast("long").as("sum_card"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------------------
  // INSERT INTO against a catalog table: CREATE TABLE, INSERT INTO ...
  // SELECT (SQL path), DataFrameWriter.insertInto (API path), read back.
  // Idempotent per session (DROP IF EXISTS) so repeated bench runs work.
  // ------------------------------------------------------------------
  declare("q38_insert_into",
    """SELECT r_regionkey, r_name FROM (
         SELECT r_regionkey, r_name FROM region
         UNION ALL SELECT CAST(90 + r_regionkey AS INT), 'COPY_' || r_name FROM region
         UNION ALL SELECT CAST(99 AS INT), 'NEWREGION'
       ) ORDER BY r_regionkey, r_name""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS graft_region_ins")
    // The in-memory catalog forgets managed tables between JVMs but their
    // warehouse directory survives, so DROP IF EXISTS alone leaves a
    // non-empty location behind that makes CREATE TABLE fail — clear it.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "graft_region_ins"))
    spark.sql("CREATE TABLE graft_region_ins (r_regionkey INT, r_name STRING) USING parquet")
    spark.sql("INSERT INTO graft_region_ins SELECT r_regionkey, r_name FROM region")
    spark.sql(
      """INSERT INTO graft_region_ins
         SELECT CAST(90 + r_regionkey AS INT), 'COPY_' || r_name FROM region""")
    t(spark, sfDir, "region")
      .select(lit(99).as("r_regionkey"), lit("NEWREGION").as("r_name"))
      .limit(1)
      .write.insertInto("graft_region_ins")
    spark.table("graft_region_ins").orderBy("r_regionkey", "r_name")
  }

  // Mutation DML parity: DuckDB hosts UPDATE/DELETE natively; OSS Spark
  // cannot mutate parquet in place, so the engine's idiom is
  // read-transform-stage-INSERT OVERWRITE — compute the post-mutation
  // content (UPDATE = conditional column rewrite, DELETE = negated-
  // predicate filter), materialize it to a staging location (a table
  // cannot be overwritten by a plan that reads it), then INSERT OVERWRITE
  // the catalog table. The oracle runs DuckDB's ACTUAL UPDATE and DELETE
  // statements over the same slice, so the final table states are
  // hash-compared across genuinely different mutation machinery. At
  // 100 TB the same recipe overwrites only the affected partitions
  // (dynamic partition overwrite) instead of the full table.
  declare("q53_update_delete",
    """CREATE OR REPLACE TEMP TABLE graft_q53 AS
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders;
       UPDATE graft_q53 SET o_orderpriority = '0-REPRIORITIZED'
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000;
       DELETE FROM graft_q53 WHERE o_orderstatus = 'F' AND o_totalprice < 10000;
       SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
       FROM graft_q53 ORDER BY o_orderkey""") { (spark, sfDir) =>
    val tbl = "graft_q53_orders"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.format("parquet").saveAsTable(tbl)
    // UPDATE ... SET o_orderpriority = ... WHERE <point predicate>
    val updated = spark.table(tbl).withColumn("o_orderpriority",
      when(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 50000,
        lit("0-REPRIORITIZED")).otherwise(col("o_orderpriority")))
    // DELETE FROM ... WHERE <predicate>  ==  keep the negation
    val mutated = updated.filter(
      !(col("o_orderstatus") === "F" && col("o_totalprice") < 10000))
    val (staged, stageDir) = graft.operators.Scratch.materialize(mutated, "q53_stage")
    staged.write.mode("overwrite").insertInto(tbl)
    graft.operators.Scratch.delete(spark, stageDir)
    spark.table(tbl).orderBy("o_orderkey")
  }

  // Literal mutation-DML parity (round 14): the ACTUAL `UPDATE ... SET
  // ... WHERE ...` and `DELETE FROM ... WHERE ...` statements pasted
  // unchanged. Spark parses both but every v1 table fails analysis
  // ("does not support row-level operations"), so sql/UpdateDeleteRewrite
  // intercepts PRE-delegation and runs them as the UpdateTableCommand /
  // DeleteFromCommand Spark commands — q53's read→transform→stage→INSERT OVERWRITE
  // recipe run mechanically, returning DuckDB's one-row Count (asserted
  // in SqlEntryPointsSpec). Both engines execute their own genuine
  // mutation machinery on a scratch copy of orders and the FINAL TABLE
  // STATES hash-compare; SET expressions read the OLD row on both.
  declare("q87_update_stmt",
    """CREATE OR REPLACE TEMP TABLE graft_q87 AS
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders;
       UPDATE graft_q87 SET o_orderpriority = '0-REPRIORITIZED', o_totalprice = o_totalprice + 1
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000;
       SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
       FROM graft_q87 GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (spark, sfDir) =>
    val tbl = "graft_q87"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.format("parquet").saveAsTable(tbl)
    spark.sql(
      """UPDATE graft_q87 SET o_orderpriority = '0-REPRIORITIZED', o_totalprice = o_totalprice + 1
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000""")
    spark.sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM graft_q87 GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  declare("q88_delete_stmt",
    """CREATE OR REPLACE TEMP TABLE graft_q88 AS
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;
       DELETE FROM graft_q88 WHERE o_orderstatus = 'F' AND o_totalprice < 100000;
       SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(o_orderkey) AS BIGINT) AS min_key
       FROM graft_q88 GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (spark, sfDir) =>
    val tbl = "graft_q88"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, tbl))
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.format("parquet").saveAsTable(tbl)
    spark.sql(
      "DELETE FROM graft_q88 WHERE o_orderstatus = 'F' AND o_totalprice < 100000")
    spark.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
         FROM graft_q88 GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  // Value-frequency aggregates under DuckDB's names (round 14):
  // histogram (MAP value→count via a TypedImperativeAggregate with
  // map-side partials — per-group state O(distinct values), keys
  // ascending, NULLs dropped, empty→NULL) and entropy (log2 Shannon,
  // empty→0.0), functions/HistogramAgg.scala. IDENTICAL statement text
  // on both engines; the map surfaces through map_keys/map_values
  // (deterministic sorted arrays) and entropy rounds to 9 decimals —
  // the float-sum order over a hash map is engine-specific, the
  // per-term doubles are not. Arrays are flattened to delimited strings
  // in the declared text (both engines): the driver's pandas hasher
  // cannot sort LIST-typed columns; the raw-map semantics stay pinned
  // in scalatest (HistogramAggSpec).
  declare("q89_histogram",
    """SELECT o_orderstatus,
         array_to_string(map_keys(histogram(o_orderpriority)), ',') AS prio_keys,
         array_to_string(list_transform(map_values(histogram(o_orderpriority)), v -> CAST(v AS STRING)), ',') AS prio_counts,
         round(entropy(o_orderpriority), 9) AS prio_entropy
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus,
           array_to_string(map_keys(histogram(o_orderpriority)), ',') AS prio_keys,
           array_to_string(list_transform(map_values(histogram(o_orderpriority)), v -> CAST(v AS STRING)), ',') AS prio_counts,
           round(entropy(o_orderpriority), 9) AS prio_entropy
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  // Prepared-statement parity (round 14): the scripted PREPARE name AS
  // <stmt with $N/? markers> / EXECUTE name(args) / DEALLOCATE workflow
  // (sql/PrepareRewrite — per-session templates, quote-aware
  // marker substitution, substituted text re-entering the full rewrite
  // chain). Both engines run the SAME two statements; DuckDB binds
  // values where this splices constant expression text — equivalent for
  // EXECUTE's constant arguments.
  declare("q90_prepare",
    """PREPARE graft_q90 AS
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders WHERE o_totalprice > $1
         GROUP BY o_orderpriority ORDER BY o_orderpriority;
       EXECUTE graft_q90(150000)""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """PREPARE graft_q90 AS
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
           FROM orders WHERE o_totalprice > $1
           GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    spark.sql("EXECUTE graft_q90(150000)")
  }

  // Session-variable parity (round 14): DuckDB's `SET VARIABLE` /
  // `getvariable` / `RESET VARIABLE` (host ≥1.1) mapped onto Spark 4's
  // native SQL variables — SET VARIABLE pre-rewrites to DECLARE OR
  // REPLACE VARIABLE (create-or-replace, the pasted-script shape),
  // getvariable() resolves to the system.session-qualified reference at
  // analysis with missing→NULL. The DuckDB 1.0 oracle predates the
  // syntax (macro-overload convention), so the oracle is the
  // hand-aligned equivalent with the value inlined; the literal
  // statements are spec-pinned in SqlEntryPointsSpec.
  declare("q91_variables",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
       FROM orders WHERE o_totalprice > 150000
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql("SET VARIABLE graft_q91_cut = 150000")
    spark.sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders WHERE o_totalprice > getvariable('graft_q91_cut')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  // Temp-table script parity (round 14): a COMPLETE DuckDB ETL script —
  // CREATE TEMP TABLE AS, UPDATE, DELETE, INSERT, final SELECT — where
  // BOTH engines execute the IDENTICAL statements, each through its own
  // genuine machinery (DuckDB: native temp tables; here:
  // sql/TempTables materialized scratch-parquet snapshots fronted by
  // temp views, mutations re-materializing to a fresh dir so snapshot
  // reads never see partial state). This is the lane that makes pasted
  // DuckDB ETL scripts run end to end.
  declare("q93_temp_table_script",
    """CREATE OR REPLACE TEMP TABLE graft_q93 AS
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders;
       UPDATE graft_q93 SET o_orderpriority = '0-REPRIORITIZED'
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000;
       DELETE FROM graft_q93 WHERE o_orderstatus = 'F' AND o_totalprice < 10000;
       INSERT INTO graft_q93 VALUES (99999999, 'X', 1.0, 'Z-INSERTED');
       SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
       FROM graft_q93 GROUP BY 1, 2 ORDER BY 1, 2""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    Seq(
      """CREATE OR REPLACE TEMP TABLE graft_q93 AS
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders""",
      """UPDATE graft_q93 SET o_orderpriority = '0-REPRIORITIZED'
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 50000""",
      "DELETE FROM graft_q93 WHERE o_orderstatus = 'F' AND o_totalprice < 10000",
      "INSERT INTO graft_q93 VALUES (99999999, 'X', 1.0, 'Z-INSERTED')"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM graft_q93 GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  // Keyed-ingest parity (round 15): INSERT OR REPLACE / OR IGNORE /
  // ON CONFLICT (cols) DO NOTHING against a temp table with a declared
  // PRIMARY KEY — the idempotent-upsert backbone of ingestion scripts.
  // IDENTICAL statement script on both engines: DuckDB enforces the PK
  // through its ART index; the engine resolves the same conflicts via
  // a keyed anti-join + union over the snapshot (UpsertCommand), with
  // DuckDB-pinned Counts (REPLACE = input rows, IGNORE = actually
  // inserted) and the duplicate-key-within-increment constraint error.
  declare("q99_insert_or_replace",
    """CREATE OR REPLACE TEMP TABLE graft_q99 (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT);
       INSERT INTO graft_q99 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30);
       INSERT OR REPLACE INTO graft_q99 VALUES (2, 'B', 200), (4, 'd', 40);
       INSERT OR IGNORE INTO graft_q99 VALUES (4, 'X', 999), (5, 'e', 50);
       INSERT INTO graft_q99 VALUES (5, 'Y', 999), (6, 'f', 60) ON CONFLICT (k) DO NOTHING;
       SELECT k, v, n FROM graft_q99 ORDER BY k""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q99")
    Seq(
      "CREATE OR REPLACE TEMP TABLE graft_q99 (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT)",
      "INSERT INTO graft_q99 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
      "INSERT OR REPLACE INTO graft_q99 VALUES (2, 'B', 200), (4, 'd', 40)",
      "INSERT OR IGNORE INTO graft_q99 VALUES (4, 'X', 999), (5, 'e', 50)",
      "INSERT INTO graft_q99 VALUES (5, 'Y', 999), (6, 'f', 60) ON CONFLICT (k) DO NOTHING"
    ).foreach(s => spark.sql(s).collect())
    spark.sql("SELECT k, v, n FROM graft_q99 ORDER BY k")
  }

  // ON CONFLICT DO UPDATE (round 15): the full upsert — conflicting
  // keys update via SET with EXCLUDED.c (incoming row) and bare/target
  // refs (existing row), optional WHERE keeps failing conflicts
  // untouched, fresh keys insert. Both engines run the IDENTICAL
  // script through their own genuine upsert machinery.
  declare("q105_on_conflict_update",
    """CREATE OR REPLACE TEMP TABLE graft_q105 (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT);
       INSERT INTO graft_q105 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30);
       INSERT INTO graft_q105 VALUES (2, 'B', 200), (4, 'd', 40)
         ON CONFLICT DO UPDATE SET v = EXCLUDED.v, n = n + EXCLUDED.n;
       INSERT INTO graft_q105 VALUES (1, 'X', 999), (3, 'Y', 5)
         ON CONFLICT (k) DO UPDATE SET n = EXCLUDED.n WHERE graft_q105.n < 20;
       SELECT k, v, n FROM graft_q105 ORDER BY k""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q105")
    Seq(
      "CREATE OR REPLACE TEMP TABLE graft_q105 (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT)",
      "INSERT INTO graft_q105 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
      """INSERT INTO graft_q105 VALUES (2, 'B', 200), (4, 'd', 40)
         ON CONFLICT DO UPDATE SET v = EXCLUDED.v, n = n + EXCLUDED.n""",
      """INSERT INTO graft_q105 VALUES (1, 'X', 999), (3, 'Y', 5)
         ON CONFLICT (k) DO UPDATE SET n = EXCLUDED.n WHERE graft_q105.n < 20"""
    ).foreach(s => spark.sql(s).collect())
    spark.sql("SELECT k, v, n FROM graft_q105 ORDER BY k")
  }

  // Bare quoted-path FROM (round 15): DuckDB's `FROM 'file.parquet'` —
  // the first line of most pasted scripts — spliced onto read_parquet
  // by extension. Fixed sf0.01 path on both sides (q70 convention:
  // the statement's semantics are "read this literal file").
  declare("q108_from_path",
    """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n
       FROM '/root/testdata/sf0.01/nation.parquet'
       GROUP BY n_regionkey ORDER BY n_regionkey""") { (spark, _) =>
    spark.sql(
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n
         FROM '/root/testdata/sf0.01/nation.parquet'
         GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  // CREATE OR REPLACE TABLE (round 15): the catalog-table form Spark
  // reserves for v2 — run as drop-then-create on v1 targets. The
  // second CREATE proves the replace (new schema AND content win).
  declare("q107_create_or_replace",
    """CREATE OR REPLACE TABLE graft_q107 AS
         SELECT o_orderstatus AS s, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1;
       CREATE OR REPLACE TABLE graft_q107 AS
         SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1;
       SELECT p, n FROM graft_q107 ORDER BY p""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q107")
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_q107_orders")
    Seq(
      """CREATE OR REPLACE TABLE graft_q107 AS
         SELECT o_orderstatus AS s, CAST(COUNT(*) AS BIGINT) AS n
         FROM graft_q107_orders GROUP BY 1""",
      """CREATE OR REPLACE TABLE graft_q107 AS
         SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n
         FROM graft_q107_orders GROUP BY 1"""
    ).foreach(s => spark.sql(s).collect())
    spark.sql("SELECT p, n FROM graft_q107 ORDER BY p")
  }

  // ALTER TABLE on temp tables (round 15): the schema-evolution script
  // shape — ADD with DEFAULT backfill, RENAME COLUMN, type change,
  // DROP COLUMN, RENAME TO — each engine through its own machinery
  // (graft: snapshot re-materialization; DuckDB: real ALTER).
  // (price is pre-rounded to an integer-valued DOUBLE: DuckDB's
  // DOUBLE→BIGINT cast rounds while Spark's truncates — exact values
  // keep the engines identical.)
  declare("q106_alter_table",
    """CREATE OR REPLACE TEMP TABLE graft_q106 AS
         SELECT o_orderkey AS k, round(o_totalprice, 0) AS price FROM orders WHERE o_orderkey <= 40;
       ALTER TABLE graft_q106 ADD COLUMN tier VARCHAR DEFAULT 'std';
       ALTER TABLE graft_q106 RENAME COLUMN price TO total;
       ALTER TABLE graft_q106 ALTER total TYPE BIGINT;
       ALTER TABLE graft_q106 RENAME TO graft_q106b;
       SELECT k, total, tier FROM graft_q106b ORDER BY k""") { (spark, sfDir) =>
    Seq("graft_q106", "graft_q106b").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS $n"))
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_q106_orders")
    Seq(
      """CREATE OR REPLACE TEMP TABLE graft_q106 AS
         SELECT o_orderkey AS k, round(o_totalprice, 0) AS price
         FROM graft_q106_orders WHERE o_orderkey <= 40""",
      "ALTER TABLE graft_q106 ADD COLUMN tier VARCHAR DEFAULT 'std'",
      "ALTER TABLE graft_q106 RENAME COLUMN price TO total",
      "ALTER TABLE graft_q106 ALTER total TYPE BIGINT",
      "ALTER TABLE graft_q106 RENAME TO graft_q106b"
    ).foreach(s => spark.sql(s).collect())
    spark.sql("SELECT k, total, tier FROM graft_q106b ORDER BY k")
  }

  // DuckDB JSON-name parity (round 14): json_extract_string (DuckDB's
  // ->> — unquoted text) under DuckDB's '$.path' dialect over the
  // events props JSON column, via Spark's codegen'd get_json_object.
  // IDENTICAL statement text on both engines.
  declare("q94_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
         CAST(COUNT(*) AS BIGINT) AS n
       FROM events
       WHERE json_extract_string(props, '$.k') IS NOT NULL
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    Engine.events(spark, sfDir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM events
         WHERE json_extract_string(props, '$.k') IS NOT NULL
         GROUP BY 1 ORDER BY 1""")
  }

  // Whole-catalog snapshot parity (round 14): EXPORT DATABASE / IMPORT
  // DATABASE. The Spark side runs the REAL round trip — CTAS a temp
  // table, EXPORT the session (parquet per table + DuckDB-compatible
  // schema.sql/load.sql whose COPY lines glob the part files), DROP,
  // IMPORT, aggregate the restored table. The oracle models the final
  // state as a single SELECT (the q77_copy_from convention: DuckDB's
  // own IMPORT cannot run inside the oracle session — it collides with
  // the pre-registered testdata views, verified).
  declare("q95_export_database",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
       FROM orders WHERE o_totalprice > 150000""") { (spark, sfDir) =>
    // A FRESH child session isolates the round trip: IMPORT restores
    // every exported table as a session temp table, and in the shared
    // verify/bench session those restored names would SHADOW the
    // catalog tables other declared queries create (a later q53/q87 run
    // would silently read the stale snapshot). newSession shares the
    // SparkContext and catalog but scopes temp views and TempTables.
    val s2 = spark.newSession()
    s2.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("orders")
    val dir = s"/tmp/graft_q95_spark_${java.util.UUID.randomUUID().toString.take(8)}"
    s2.sql(
      """CREATE OR REPLACE TEMP TABLE graft_q95 AS
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000""")
    s2.sql(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    s2.sql("DROP TABLE graft_q95")
    s2.sql(s"IMPORT DATABASE '$dir'")
    s2.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM graft_q95""")
  }

  // DuckDB operator parity (round 14): the `//` integer-division
  // operator → Spark's `div` (same truncation toward zero on integral
  // inputs, pinned both engines; rewritten quote/comment-aware in the
  // parse-failure chain, so native statements are never touched).
  // IDENTICAL statement text. (`* RENAME (old AS new)` executes too —
  // sql/ReplaceRewrite.rewriteRename — but the 1.0 oracle predates
  // that syntax, so it is spec-pinned in SqlEntryPointsSpec.)
  declare("q96_int_div",
    """SELECT CAST(l_quantity AS BIGINT) // 7 AS qbucket,
         CAST(COUNT(*) AS BIGINT) AS n
       FROM lineitem GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT CAST(l_quantity AS BIGINT) // 7 AS qbucket,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""")
  }

  // SIMILAR TO parity (round 15): DuckDB's [NOT] SIMILAR TO is
  // regexp_full_match — the engine rewrites the literal-pattern form
  // onto a fully-anchored RLIKE in the hint parser's failure chain
  // (similarToRewrite; the statement can never parse natively, so no
  // native statement is claimed). IDENTICAL text on both engines,
  // including a backslash class (\d) to pin the literal-splice
  // doubling: DuckDB does no escape processing in '...' while Spark
  // strips one level on the re-parse.
  declare("q98_similar_to",
    """SELECT n_nationkey, n_name,
         n_name SIMILAR TO '[A-Z_0-9]{8}' AS m_cls,
         n_name NOT SIMILAR TO '.*[02468]' AS m_not,
         n_name SIMILAR TO '(NATION|STATE)_1?\d' AS m_alt,
         CAST(n_nationkey AS STRING) SIMILAR TO '\d' AS m_digit
       FROM nation ORDER BY n_nationkey""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT n_nationkey, n_name,
           n_name SIMILAR TO '[A-Z_0-9]{8}' AS m_cls,
           n_name NOT SIMILAR TO '.*[02468]' AS m_not,
           n_name SIMILAR TO '(NATION|STATE)_1?\d' AS m_alt,
           CAST(n_nationkey AS STRING) SIMILAR TO '\d' AS m_digit
         FROM nation ORDER BY n_nationkey""")
  }

  // QUALIFY parity: the literal DuckDB/Teradata QUALIFY statement (window
  // filter without a subquery) EXECUTING on Spark — the hint parser
  // catches the ParseException and splices the predicate into the select
  // list as a boolean, wraps, filters, and drops it (sql/QualifyRewrite;
  // `SELECT * EXCEPT` is native Spark 4 syntax), so window evaluation
  // order matches DuckDB: after grouping, before the filter, before
  // ORDER BY. The oracle is the SAME statement run by DuckDB's native
  // QUALIFY support (DuckDB 1.3 docs) — two different execution paths,
  // hash-compared. Top-2 orders per priority class by price: the window
  // shuffles once on the partition key; at 100 TB this is the standard
  // top-k-per-group shape (rank + filter pushes the k-cut into the sort).
  declare("q54_qualify",
    """SELECT o_orderpriority, o_orderkey, o_totalprice
       FROM orders
       QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) <= 2
       ORDER BY o_orderpriority, o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_q54_orders")
    spark.sql(
      """SELECT o_orderpriority, o_orderkey, o_totalprice
         FROM graft_q54_orders
         QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) <= 2
         ORDER BY o_orderpriority, o_orderkey""")
  }

  // SUMMARIZE parity: DuckDB's one-keyword table profile as the
  // summarize() TVF (operators/Summarize — ONE wide aggregate job, row
  // per column; `SUMMARIZE t` itself also runs via the hint-parser
  // rewrite, asserted in GraftSqlSpec). The declared slice keeps the
  // engine-exact columns: min/max (cast to string — stable for the
  // BIGINT/VARCHAR columns here) and the null/non-null counts; the
  // DuckDB oracle REBUILDS the same profile shape from first principles
  // (per-column aggregate UNION ALL), so the stats machinery is
  // cross-checked, not just echoed. approx_unique/avg/std stay out of
  // the hash: approximate-distinct sketches are engine-specific by
  // design (HLL here, HyperLogLog variant there).
  declare("q55_summarize",
    """SELECT column_name, min_val, max_val, n_nonnull, n_null FROM (
         SELECT 'doc_id' AS column_name, min(doc_id)::VARCHAR AS min_val,
                max(doc_id)::VARCHAR AS max_val, count(doc_id) AS n_nonnull,
                count(*) - count(doc_id) AS n_null FROM documents
         UNION ALL
         SELECT 'text', min(text)::VARCHAR, max(text)::VARCHAR,
                count(text), count(*) - count(text) FROM documents
         UNION ALL
         SELECT 'lang', min(lang)::VARCHAR, max(lang)::VARCHAR,
                count(lang), count(*) - count(lang) FROM documents
         UNION ALL
         SELECT 'source', min(source)::VARCHAR, max(source)::VARCHAR,
                count(source), count(*) - count(source) FROM documents
         UNION ALL
         SELECT 'n_chars', min(n_chars)::VARCHAR, max(n_chars)::VARCHAR,
                count(n_chars), count(*) - count(n_chars) FROM documents
       ) ORDER BY column_name""") { (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("graft_q55_documents")
    spark.sql(
      """SELECT column_name, min_val, max_val, n_nonnull, n_null
         FROM summarize('graft_q55_documents')
         ORDER BY column_name""")
  }

  // DuckDB friendly-SQL parity, part 1: GROUP BY ALL (group by every
  // non-aggregated select column). Spark 4.1 parses it NATIVELY, so both
  // engines run the literal statement — no rewrite involved; the
  // declared query pins that the dialects agree on which columns "all"
  // means. Plan-wise this is an ordinary partial/final hash aggregate.
  declare("q56_group_by_all",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
       FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_q56_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
         FROM graft_q56_lineitem GROUP BY ALL
         ORDER BY l_returnflag, l_linestatus""")
  }

  // DuckDB friendly-SQL parity, part 2: the star-projection EXCLUDE.
  // DuckDB spells it `* EXCLUDE (...)`, Spark `* EXCEPT (...)` — same
  // feature, different keyword, so the hint parser swaps the word
  // (sql/ExcludeRewrite, quote/comment-aware, any depth) and the literal
  // DuckDB statement RUNS on Spark. Both engines here execute the
  // IDENTICAL statement text. Column pruning survives: the projection
  // resolves to explicit columns at analysis, so the scan reads only
  // what's kept.
  declare("q57_select_exclude",
    """SELECT * EXCLUDE (n_name) FROM nation ORDER BY n_nationkey""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("graft_q57_nation")
    spark.sql(
      "SELECT * EXCLUDE (n_name) FROM graft_q57_nation ORDER BY n_nationkey")
  }

  // DuckDB friendly-SQL parity, part 3: CREATE MACRO — the first thing a
  // pasted DuckDB setup script hits. The literal statements run on BOTH
  // engines: DuckDB's native macro machinery vs the hint parser's
  // MacroRewrite, which registers the body as a lazy-bound session
  // function (untyped expression template, bound at each call site —
  // the same semantics, since Spark's typed SQL-UDF syntax cannot host
  // an untyped macro faithfully). One numeric and one string macro, so
  // the lazy binding is exercised across types; integer-cents + CAST
  // keep the aggregate hash-exact.
  declare("q58_create_macro",
    """CREATE OR REPLACE MACRO cents(x) AS CAST(round(x * 100, 0) AS BIGINT);
       CREATE OR REPLACE MACRO flagkey(f, s) AS f || '/' || s;
       SELECT flagkey(l_returnflag, l_linestatus) AS grp,
         CAST(SUM(cents(l_extendedprice)) AS BIGINT) AS price_cents,
         COUNT(*) AS n
       FROM lineitem GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_q58_lineitem")
    spark.sql("CREATE OR REPLACE MACRO cents(x) AS CAST(round(x * 100, 0) AS BIGINT)")
    spark.sql("CREATE OR REPLACE MACRO flagkey(f, s) AS f || '/' || s")
    spark.sql(
      """SELECT flagkey(l_returnflag, l_linestatus) AS grp,
           CAST(SUM(cents(l_extendedprice)) AS BIGINT) AS price_cents,
           COUNT(*) AS n
         FROM graft_q58_lineitem GROUP BY 1 ORDER BY 1""")
  }

  // DuckDB friendly-SQL parity, part 4: the star-projection REPLACE.
  // Spark has no native `* REPLACE`, so the hint parser expands the star
  // into the table's explicit catalog column list with the replaced
  // columns swapped (sql/ReplaceRewrite) — order and names preserved, so
  // the full-width row set hash-compares against DuckDB running its
  // native REPLACE. Replacement expressions are chosen representation-
  // stable (×2 is exact double arithmetic; lower() is deterministic).
  declare("q59_select_replace",
    """SELECT * REPLACE (o_totalprice * 2 AS o_totalprice,
                         lower(o_orderpriority) AS o_orderpriority)
       FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_q59_orders")
    spark.sql(
      """SELECT * REPLACE (o_totalprice * 2 AS o_totalprice,
                           lower(o_orderpriority) AS o_orderpriority)
         FROM graft_q59_orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""")
  }

  // DuckDB friendly-SQL parity, part 5: the COLUMNS(...) column-set
  // expression. The common regex form is star-expanded against the
  // catalog schema before the parse (sql/ColumnsRewrite), so the
  // statement runs verbatim on Spark while DuckDB executes its native
  // COLUMNS. The pattern deliberately exercises PARTIAL-match semantics
  // ('key|price' hits l_orderkey/l_partkey/l_suppkey/l_extendedprice
  // mid-name) — the exact point where a full-match implementation would
  // silently return zero columns.
  declare("q60_columns",
    """SELECT COLUMNS('key|price') FROM lineitem
       WHERE l_orderkey <= 200 ORDER BY 1, 2, 3, 4""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_q60_lineitem")
    spark.sql(
      """SELECT COLUMNS('key|price') FROM graft_q60_lineitem
         WHERE l_orderkey <= 200 ORDER BY 1, 2, 3, 4""")
  }

  // DuckDB friendly-SQL parity, part 6: macro DEFAULT parameters. Both
  // engines execute the identical DDL + query; the call site omits the
  // default, exercising the padding path (DuckDB 1.0 binds omitted
  // defaults; its positional override arrived in 1.1, so the oracle
  // query sticks to the omitted form). Exact-integer cents keeps the
  // comparison representation-stable (same trick as q58).
  declare("q61_macro_defaults",
    """CREATE OR REPLACE MACRO cents_of(x, f := 100) AS CAST(round(x * f, 0) AS BIGINT);
       SELECT l_returnflag, CAST(SUM(cents_of(l_extendedprice)) AS BIGINT) AS price_cents, COUNT(*) AS n
       FROM lineitem GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("graft_q61_lineitem")
    spark.sql(
      "CREATE OR REPLACE MACRO cents_of(x, f := 100) AS CAST(round(x * f, 0) AS BIGINT)")
    spark.sql(
      """SELECT l_returnflag, CAST(SUM(cents_of(l_extendedprice)) AS BIGINT) AS price_cents, COUNT(*) AS n
         FROM graft_q61_lineitem GROUP BY 1 ORDER BY 1""")
  }

  // Named-argument macro CALL sites (round 15): `f(x, hi := 3e5)` —
  // `:=` is not Spark syntax, so the call statement rides the
  // parse-failure chain where MacroRewrite.namedCallRewrite lowers it
  // to positional against the registered signature, splicing recorded
  // default TEXT into gaps (here lo stays default while hi binds —
  // DuckDB's gap-filling semantics, verified on 1.0). IDENTICAL
  // statement text on both engines.
  declare("q100_macro_named",
    """CREATE OR REPLACE MACRO grade_of(x, lo := 1000, hi := 400000) AS
         CASE WHEN x < lo THEN 'low' WHEN x > hi THEN 'high' ELSE 'mid' END;
       SELECT grade_of(o_totalprice, hi := 300000) AS g, CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("graft_q100_orders")
    spark.sql(
      """CREATE OR REPLACE MACRO grade_of(x, lo := 1000, hi := 400000) AS
           CASE WHEN x < lo THEN 'low' WHEN x > hi THEN 'high' ELSE 'mid' END""")
    spark.sql(
      """SELECT grade_of(o_totalprice, hi := 300000) AS g, CAST(COUNT(*) AS BIGINT) AS n
         FROM graft_q100_orders GROUP BY 1 ORDER BY 1""")
  }

  // DuckDB friendly-SQL parity, part 7: the zero-parameter TABLE macro —
  // DuckDB's `FROM name()` call shape (parentheses mandatory there), so
  // a plain temp view can't host it; sql/MacroRewrite registers the body
  // as a lazy-bound session TABLE function and the identical statement
  // text runs on both engines, composing under a join like any source.
  declare("q62_table_macro",
    """CREATE OR REPLACE MACRO big_orders() AS TABLE
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000;
       SELECT c.c_mktsegment, COUNT(*) AS n, CAST(SUM(round(b.o_totalprice * 100, 0)) AS BIGINT) AS cents
       FROM big_orders() b JOIN customer c ON b.o_custkey = c.c_custkey
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """CREATE OR REPLACE MACRO big_orders() AS TABLE
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000""")
    spark.sql(
      """SELECT c.c_mktsegment, COUNT(*) AS n, CAST(SUM(round(b.o_totalprice * 100, 0)) AS BIGINT) AS cents
         FROM big_orders() b JOIN customer c ON b.o_custkey = c.c_custkey
         GROUP BY 1 ORDER BY 1""")
  }

  // DuckDB friendly-SQL parity, part 8: the PARAMETERIZED table macro —
  // the call's argument expressions substitute through the whole body
  // plan (here: the WHERE predicate), lazily at each call site, with
  // parameters shadowing same-named columns exactly as DuckDB binds
  // them (sql/MacroRewrite.tableMacro; shadowing pinned in
  // SqlEntryPointsSpec). Identical DDL + call text on both engines.
  declare("q63_table_macro_param",
    """CREATE OR REPLACE MACRO orders_above(lo) AS TABLE
         SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders WHERE o_totalprice > lo;
       SELECT * FROM orders_above(450000) ORDER BY o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """CREATE OR REPLACE MACRO orders_above(lo) AS TABLE
           SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders WHERE o_totalprice > lo""")
    spark.sql("SELECT * FROM orders_above(450000) ORDER BY o_orderkey")
  }

  // DuckDB friendly-SQL parity, part 9: the FROM-first statement — the
  // first line of every DuckDB tutorial (`FROM tbl;`). Rewritten to
  // `SELECT * FROM ...` before the parse (sql/FromFirstRewrite), with
  // every trailing clause riding along verbatim; identical statement
  // text runs on both engines.
  declare("q64_from_first",
    """FROM nation WHERE n_regionkey < 2 ORDER BY n_nationkey""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql("FROM nation WHERE n_regionkey < 2 ORDER BY n_nationkey")
  }

  // DuckDB friendly-SQL parity, part 10: the simplified PIVOT STATEMENT
  // with dynamic pivot-column discovery — Spark SQL's PIVOT demands a
  // static IN list, so the statement rewrites onto the pivot_auto TVF
  // (Dataset groupBy().pivot(col), which collects the distinct values
  // itself; sql/PivotRewrite). COUNT keeps both engines in exact
  // integers, and pivot_auto fills absent combinations with 0 exactly
  // as DuckDB's COUNT pivot does. Identical statement text on both
  // engines; orders is dense in (priority × status) at every SF.
  declare("q65_pivot_stmt",
    """PIVOT orders ON o_orderstatus USING COUNT(*) GROUP BY o_orderpriority""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql("PIVOT orders ON o_orderstatus USING COUNT(*) GROUP BY o_orderpriority")
  }

  // DuckDB friendly-SQL parity, part 11: the simplified UNPIVOT
  // STATEMENT — a pure clause reorder onto Spark's native ANSI UNPIVOT
  // (sql/UnpivotRewrite); both engines exclude NULL cells by default
  // and fill NAME with the column-name strings, so identical statement
  // text hash-compares. Doubles pass through unchanged (no arithmetic),
  // representation-stable.
  declare("q66_unpivot_stmt",
    """UNPIVOT lineitem ON l_quantity, l_discount, l_tax INTO NAME metric VALUE val""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      "UNPIVOT lineitem ON l_quantity, l_discount, l_tax INTO NAME metric VALUE val")
  }

  // DuckDB friendly-SQL parity, part 12: the flagship COLUMNS idiom —
  // one aggregate distributed over every column (`min(COLUMNS(*))`).
  // The wrapping function distributes over the expanded set and each
  // output keeps the PLAIN source column name (DuckDB 1.0 verified), so
  // identical statement text hash-compares; min/max move stored values
  // unchanged (no arithmetic), representation-stable across engines.
  declare("q67_columns_agg",
    """SELECT min(COLUMNS(*)) FROM lineitem""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("SELECT min(COLUMNS(*)) FROM lineitem")
  }

  // DuckDB friendly-SQL parity, part 13: the COLUMNS exclusion set —
  // `COLUMNS(* EXCLUDE (a, b))` star-expands to the remaining columns
  // in table order (every excluded name must exist; unknown names
  // decline exactly where DuckDB raises its binder error).
  declare("q68_columns_exclude",
    """SELECT COLUMNS(* EXCLUDE (o_orderstatus, o_orderdate)) FROM orders
       WHERE o_orderkey < 40 ORDER BY o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT COLUMNS(* EXCLUDE (o_orderstatus, o_orderdate)) FROM orders
         WHERE o_orderkey < 40 ORDER BY o_orderkey""")
  }

  // COLUMNS name-filter lambda (round 15): `COLUMNS(c -> <predicate>)`
  // selects the columns whose NAME passes the predicate (DuckDB 1.0
  // pinned; the wrapped aggregate names outputs by the plain source
  // column). Spark shares the `->` lambda spelling, so the predicate
  // evaluates verbatim via filter() over the name array before the
  // star-expansion. IDENTICAL statement text on both engines.
  declare("q101_columns_lambda",
    """SELECT min(COLUMNS(c -> c LIKE '%date')) FROM lineitem""") {
    (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("SELECT min(COLUMNS(c -> c LIKE '%date')) FROM lineitem")
  }

  // ORDER BY ALL (round 15): DuckDB friendly SQL that Spark 4 shares
  // NATIVELY (all select-list items, left to right) — pinned here so
  // the parity stays observed. Composes with GROUP BY ALL (q56).
  declare("q102_order_by_all",
    """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY ALL ORDER BY ALL""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY ALL ORDER BY ALL""")
  }

  // Dollar-quoted string literals (round 15): `$$raw$$` and the tagged
  // `$tag$raw$tag$` — content is RAW (embedded quotes and dollars are
  // data). The graft parser converts them to ordinary literals on the
  // parse-failure chain. IDENTICAL statement text on both engines.
  declare("q103_dollar_quote",
    """SELECT CASE WHEN o_totalprice > 200000 THEN $$big 'un$$
              ELSE $t$sm$all$t$ END AS s,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT CASE WHEN o_totalprice > 200000 THEN $$big 'un$$
                ELSE $t$sm$all$t$ END AS s,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY 1 ORDER BY 1""")
  }

  // Bare-name EXCLUDE (round 15): DuckDB's single-column form without
  // parens — `* EXCLUDE col` — parenthesized into Spark's native
  // `* EXCEPT (col)` by the same word-swap rewrite as the list form
  // (q57). IDENTICAL statement text on both engines.
  declare("q104_exclude_bare",
    """SELECT * EXCLUDE l_shipdate FROM lineitem
       WHERE l_orderkey <= 20 ORDER BY l_orderkey, l_linenumber""") {
    (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT * EXCLUDE l_shipdate FROM lineitem
         WHERE l_orderkey <= 20 ORDER BY l_orderkey, l_linenumber""")
  }

  // DuckDB TVF parity: `read_parquet('path')` — the first line of most
  // pasted DuckDB scripts — as a lazy plan splice (a normal distributed
  // parquet scan; Catalyst pushdown/pruning intact). Identical statement
  // text on both engines, against DuckDB's own native read_parquet. The
  // path is the FIXED sf0.01 file on both sides (the statement's
  // semantics are "read this literal file"; a per-SF path cannot appear
  // in static oracle text), so the result is SF-independent by design.
  declare("q70_read_parquet",
    """SELECT n_regionkey, COUNT(*) AS n, MAX(n_name) AS max_name
       FROM read_parquet('/root/testdata/sf0.01/nation.parquet')
       GROUP BY n_regionkey ORDER BY n_regionkey""") { (spark, _) =>
    spark.sql(
      """SELECT n_regionkey, COUNT(*) AS n, MAX(n_name) AS max_name
         FROM read_parquet('/root/testdata/sf0.01/nation.parquet')
         GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  // Hive-partitioned export — the 100 TB layout: `COPY ... PARTITION_BY`
  // writes the same col=value/ directory tree on both engines, and the
  // partition column is recovered (and PRUNED on) at re-read. The Spark
  // side executes the literal DuckDB statement; the oracle pins the
  // returned Count against ground truth with a plain COUNT(*) rather
  // than running DuckDB's own partitioned COPY, which in the oracle's
  // DuckDB 1.0 returns Count=0 for partitioned writes (a version quirk
  // fixed upstream — replicating it would be matching a bug).
  declare("q72_copy_partitioned",
    """SELECT CAST(COUNT(*) AS BIGINT) AS "Count" FROM orders""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """COPY orders TO '/tmp/graft_q72_spark'
         (FORMAT PARQUET, PARTITION_BY (o_orderpriority))""")
  }

  // DuckDB function-NAME parity: list_*/string_split/len/regexp_matches
  // registered as aliases of Spark's native codegen'd expressions
  // (lambdas parse identically) — the single biggest cause of pasted
  // DuckDB scripts dying in analysis. Identical statement text on both
  // engines, including a lambda with a nested alias call (len inside
  // list_filter).
  declare("q73_list_functions",
    """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 4)) AS BIGINT) AS n_long,
         list_contains(string_split(text, ' '), 'the') AS has_the
       FROM documents WHERE doc_id < 200 ORDER BY doc_id""") { (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
           CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 4)) AS BIGINT) AS n_long,
           list_contains(string_split(text, ' '), 'the') AS has_the
         FROM documents WHERE doc_id < 200 ORDER BY doc_id""")
  }

  // DuckDB DESCRIBE parity (opt-in): under spark.graft.duckdbDescribe
  // the literal statement returns DuckDB's exact six-column shape with
  // DuckDB type spellings (BIGINT/VARCHAR/TIMESTAMP...) — identical
  // statement text vs DuckDB's own DESCRIBE over the same parquet.
  // Off by default: stock Spark DESCRIBE behavior is never hijacked.
  declare("q75_describe",
    """DESCRIBE orders""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.conf.set("spark.graft.duckdbDescribe", "true")
    try spark.sql("DESCRIBE orders")
    finally spark.conf.set("spark.graft.duckdbDescribe", "false")
  }

  // DuckDB strftime parity: the C format dialect translated to the JVM
  // pattern at analysis (%Y→yyyy; literal letters like the ISO 'T'
  // quoted — the silent-corruption trap), English month/day names on
  // both engines. Identical statement text.
  declare("q74_strftime",
    """SELECT event_id,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M') AS label,
         strftime(CAST(ts AS TIMESTAMP), '%a %d %b %Y') AS pretty
       FROM events WHERE event_id < 200 ORDER BY event_id""") { (spark, sfDir) =>
    Engine.table(spark, sfDir, "events").createOrReplaceTempView("events")
    spark.sql(
      """SELECT event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M') AS label,
           strftime(CAST(ts AS TIMESTAMP), '%a %d %b %Y') AS pretty
         FROM events WHERE event_id < 200 ORDER BY event_id""")
  }

  // DuckDB set-op parity: `UNION ALL BY NAME` executing — by-name
  // alignment with NULL-fill for one-sided columns
  // (sql/UnionByNameRewrite → union_by_name TVF →
  // Dataset.unionByName(allowMissingColumns = true)). Identical
  // statement text on both engines (DuckDB parses BY NAME natively);
  // nation and region names are disjoint so ORDER BY name is total.
  declare("q76_union_by_name",
    """SELECT n_nationkey AS id, n_name AS name FROM nation
       UNION ALL BY NAME
       SELECT r_name AS name, r_regionkey AS rid FROM region
       ORDER BY name""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    t(spark, sfDir, "region").createOrReplaceTempView("region")
    spark.sql(
      """SELECT n_nationkey AS id, n_name AS name FROM nation
         UNION ALL BY NAME
         SELECT r_name AS name, r_regionkey AS rid FROM region
         ORDER BY name""")
  }

  // DuckDB friendly-SQL parity: `USING SAMPLE` executing
  // (sql/SampleRewrite → Spark native TABLESAMPLE). The ROWS form is
  // count-deterministic on both engines (DuckDB: reservoir of exactly N;
  // Spark: N-row prefix), so the COUNT oracle-compares under identical
  // statement text even though the drawn rows differ.
  declare("q78_using_sample",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT * FROM lineitem USING SAMPLE 50 ROWS) s""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT * FROM lineitem USING SAMPLE 50 ROWS) s""")
  }

  // DuckDB friendly-SQL parity: `SELECT DISTINCT ON` executing
  // (sql/DistinctOnRewrite → row_number window). The query's ORDER BY is
  // the per-group tiebreak on both engines; (o_custkey, o_orderkey) is a
  // total order so the kept rows are fully deterministic. Identical
  // statement text (DuckDB hosts the Postgres-ism natively).
  declare("q79_distinct_on",
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
       FROM orders ORDER BY o_custkey, o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
         FROM orders ORDER BY o_custkey, o_orderkey""")
  }

  // DuckDB function parity: the list/array similarity family
  // (list_cosine_similarity / list_inner_product / list_distance —
  // host DuckDB ≥1.0/1.1) executing as the engine's codegen'd vector
  // kernels under DuckDB's names. Near-identical statement text: the
  // oracle's cosine casts to DOUBLE[] first because DuckDB's
  // float-lane accumulation straddles the 1e-6 rounding boundary on
  // ~1% of rows, while this engine (and DuckDB's double lane)
  // accumulates float inputs in double — sim_cosine_sql's convention.
  declare("q80_list_similarity",
    """SELECT vec_id,
         CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) * 1000000, 0) AS BIGINT) AS cos_q,
         CAST(round(list_inner_product(embedding, q.qe) * 1000, 0) AS BIGINT) AS ip_q,
         CAST(round(list_distance(embedding, q.qe) * 1000, 0) AS BIGINT) AS dist_q
       FROM embeddings, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       WHERE vec_id < 200 ORDER BY vec_id""") { (spark, sfDir) =>
    t(spark, sfDir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql(
      """SELECT vec_id,
           CAST(round(list_cosine_similarity(embedding, q.qe) * 1000000, 0) AS BIGINT) AS cos_q,
           CAST(round(list_inner_product(embedding, q.qe) * 1000, 0) AS BIGINT) AS ip_q,
           CAST(round(list_distance(embedding, q.qe) * 1000, 0) AS BIGINT) AS dist_q
         FROM embeddings, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         WHERE vec_id < 200 ORDER BY vec_id""")
  }

  // DuckDB set-op parity: INTERSECT/EXCEPT BY NAME executing
  // (sql/UnionByNameRewrite → setop_by_name TVF: name-superset
  // alignment with NULL-fill, then native intersect/except). The
  // reference's host (DuckDB 1.3) parses these; the DuckDB 1.0 oracle
  // predates the syntax, so the oracle is the hand-aligned equivalent
  // (same convention as the macro-overload lane).
  declare("q81_intersect_by_name",
    """SELECT n_nationkey AS k, n_regionkey AS r FROM nation WHERE n_regionkey < 3
       INTERSECT
       SELECT n_nationkey AS k, n_regionkey AS r FROM nation WHERE n_regionkey > 1
       ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT n_nationkey AS k, n_regionkey AS r FROM nation WHERE n_regionkey < 3
         INTERSECT BY NAME
         SELECT n_regionkey AS r, n_nationkey AS k FROM nation WHERE n_regionkey > 1
         ORDER BY k""")
  }

  // DuckDB statement parity: INSERT INTO ... BY NAME executing
  // (sql/InsertByNameRewrite → Spark's column-list INSERT from the
  // query's resolved output names; unmentioned columns NULL). Oracle
  // models the post-state as a single SELECT (the driver's oracle
  // runner executes one statement), q38's convention.
  declare("q82_insert_by_name",
    """SELECT r_regionkey AS rk, r_name AS nm, CAST(NULL AS VARCHAR) AS extra
       FROM region ORDER BY rk""") { (spark, sfDir) =>
    t(spark, sfDir, "region").createOrReplaceTempView("region")
    spark.sql("DROP TABLE IF EXISTS graft_q82_byname")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "graft_q82_byname"))
    spark.sql(
      "CREATE TABLE graft_q82_byname (rk INT, nm STRING, extra STRING) USING parquet")
    // The select lists nm FIRST — BY NAME must land it in nm, not rk.
    spark.sql(
      """INSERT INTO graft_q82_byname BY NAME
         SELECT r_name AS nm, r_regionkey AS rk FROM region""")
    spark.table("graft_q82_byname").orderBy("rk")
  }

  // DuckDB function parity: the session-14c name batch — quoted-unit
  // date_diff (BOUNDARY-crossing semantics, re-routed at parse since
  // Spark's parser demands bare identifier units), strpos,
  // list_aggregate / list_slice (1-based inclusive) / list_position
  // (NULL when missing) / list_value. Identical statement text on both
  // engines.
  declare("q83_duck_functions",
    """SELECT o_orderkey,
         CAST(date_diff('month', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS months_since,
         CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_at,
         CAST(list_aggregate(list_value(CAST(o_custkey AS DOUBLE), 2.0, 3.0), 'sum') AS BIGINT) AS lsum,
         array_to_string(list_transform(list_slice(list_value(10, 20, 30, 40), 2, 3), v -> CAST(v AS STRING)), ',') AS sl,
         CAST(list_position(list_value(1, 2, 3), 2) AS BIGINT) AS pos
       FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
           CAST(date_diff('month', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS months_since,
           CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_at,
           CAST(list_aggregate(list_value(CAST(o_custkey AS DOUBLE), 2.0, 3.0), 'sum') AS BIGINT) AS lsum,
           array_to_string(list_transform(list_slice(list_value(10, 20, 30, 40), 2, 3), v -> CAST(v AS STRING)), ',') AS sl,
           CAST(list_position(list_value(1, 2, 3), 2) AS BIGINT) AS pos
         FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")
  }

  // DuckDB join parity: `POSITIONAL JOIN` executing (pre-delegation
  // rewrite → positional_join TVF: per-side zipWithIndex + full outer
  // join on the index, shorter side NULL-padded). Caught BEFORE Spark's
  // parser, which would otherwise misparse POSITIONAL as a table alias
  // and produce a silent cartesian. Identical statement text (DuckDB
  // parses it natively); both engines pair file-order row N to row N.
  declare("q84_positional_join",
    """SELECT r_regionkey, r_name, n_nationkey, n_name
       FROM region POSITIONAL JOIN nation ORDER BY n_nationkey""") { (spark, sfDir) =>
    t(spark, sfDir, "region").createOrReplaceTempView("region")
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region POSITIONAL JOIN nation ORDER BY n_nationkey""")
  }

  // DuckDB function parity, round-14 batch two: aggregate NAMES
  // (arg_min/arg_max → min_by/max_by, quantile_cont/quantile_disc →
  // exact Percentile/PercentileDisc, list → collect_list) plus
  // time_bucket (DuckDB's 2000-01-03/2000-01-01 grid origins rebuilt
  // from native integer expressions — codegen'd, no UDF), full-name
  // monthname/dayname, starts_with, array_to_string, list_reduce,
  // list_has_all. IDENTICAL statement text on both engines; every
  // aggregate is deterministic (arg ties broken by the unique orderkey;
  // quantiles over integral-valued l_quantity so interpolation is
  // exact in both engines' float formulas).
  declare("q85_duck_aggregates",
    """WITH q AS (
         SELECT quantile_cont(l_quantity, 0.5) AS med_cont,
                quantile_disc(l_quantity, 0.25) AS q1_disc,
                quantile_disc(l_quantity, 0.5) AS med_disc
         FROM lineitem),
       a AS (
         SELECT arg_min(o_orderpriority, o_orderkey) AS first_priority,
                arg_max(o_orderpriority, o_orderkey) AS last_priority
         FROM orders),
       m AS (
         SELECT monthname(MIN(o_orderdate)) AS first_month,
                dayname(MIN(o_orderdate)) AS first_day
         FROM orders),
       t AS (
         SELECT CAST(COUNT(DISTINCT time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS n_buckets,
                CAST(MIN(epoch_us(time_bucket(INTERVAL '1 week', ts))) AS BIGINT) AS first_week_us
         FROM events),
       l AS (
         SELECT array_to_string(list_sort(list(n_name)), ',') AS nations
         FROM nation WHERE n_regionkey = 0)
       SELECT q.*, a.*, m.*, t.*, l.*,
         starts_with('graft', 'gr') AS sw,
         CAST(list_reduce(list_value(1, 2, 3, 4), (x, y) -> x + y) AS BIGINT) AS lred,
         list_has_all(list_value(1, 2, 3), list_value(2)) AS lha
       FROM q, a, m, t, l""") { (spark, sfDir) =>
    Seq("lineitem", "orders", "nation", "events").foreach(n =>
      t(spark, sfDir, n).createOrReplaceTempView(n))
    spark.sql(
      """WITH q AS (
           SELECT quantile_cont(l_quantity, 0.5) AS med_cont,
                  quantile_disc(l_quantity, 0.25) AS q1_disc,
                  quantile_disc(l_quantity, 0.5) AS med_disc
           FROM lineitem),
         a AS (
           SELECT arg_min(o_orderpriority, o_orderkey) AS first_priority,
                  arg_max(o_orderpriority, o_orderkey) AS last_priority
           FROM orders),
         m AS (
           SELECT monthname(MIN(o_orderdate)) AS first_month,
                  dayname(MIN(o_orderdate)) AS first_day
           FROM orders),
         t AS (
           SELECT CAST(COUNT(DISTINCT time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS n_buckets,
                  CAST(MIN(epoch_us(time_bucket(INTERVAL '1 week', ts))) AS BIGINT) AS first_week_us
           FROM events),
         l AS (
           SELECT array_to_string(list_sort(list(n_name)), ',') AS nations
           FROM nation WHERE n_regionkey = 0)
         SELECT q.*, a.*, m.*, t.*, l.*,
           starts_with('graft', 'gr') AS sw,
           CAST(list_reduce(list_value(1, 2, 3, 4), (x, y) -> x + y) AS BIGINT) AS lred,
           list_has_all(list_value(1, 2, 3), list_value(2)) AS lha
         FROM q, a, m, t, l""")
  }

  // DuckDB literal-syntax parity: bracket list literals (incl. the
  // ARRAY keyword form), struct literals, 1-based bracket indexing
  // (dynamic index expressions too), inclusive slicing over lists AND
  // strings, and list comprehensions — all rewritten by
  // sql/DuckLiteralRewrite inside the hint parser's failure chain
  // (none of these parse in stock Spark, so the rewrite can never
  // claim a native statement) onto array()/named_struct()/transform()
  // and the typed duck_index/duck_slice expressions
  // (functions/DuckCollections.scala, DuckDB's NULL-out-of-bounds and
  // clamped-inclusive-slice contracts pinned against DuckDB 1.0).
  // IDENTICAL statement text on both engines.
  declare("q86_duck_literals",
    """SELECT n_nationkey,
         ([10, 20, 30])[CAST(n_nationkey % 3 + 1 AS INTEGER)] AS pick,
         array_to_string(list_transform(([100, 200, 300, 400])[2:3], v -> CAST(v AS STRING)), ',') AS sl,
         ([9, 8, 7])[-1] AS last_elem,
         (n_name)[1:3] AS pre,
         ({'k': n_name, 'r': n_regionkey})['r'] AS rkey,
         array_to_string([upper(t) FOR t IN string_split(n_name, '_')], ',') AS toks,
         array_to_string(list_transform(ARRAY[n_regionkey, 99], v -> CAST(v AS STRING)), ',') AS arr2
       FROM nation ORDER BY n_nationkey""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT n_nationkey,
           ([10, 20, 30])[CAST(n_nationkey % 3 + 1 AS INTEGER)] AS pick,
           array_to_string(list_transform(([100, 200, 300, 400])[2:3], v -> CAST(v AS STRING)), ',') AS sl,
           ([9, 8, 7])[-1] AS last_elem,
           (n_name)[1:3] AS pre,
           ({'k': n_name, 'r': n_regionkey})['r'] AS rkey,
           array_to_string([upper(t) FOR t IN string_split(n_name, '_')], ',') AS toks,
           array_to_string(list_transform(ARRAY[n_regionkey, 99], v -> CAST(v AS STRING)), ',') AS arr2
         FROM nation ORDER BY n_nationkey""")
  }

  // DuckDB TVF parity: `generate_series` — INCLUSIVE bounds, unlike the
  // exclusive range() both engines already share. Splices Spark's
  // distributed Range plan (codegen'd, parallel — not a local list)
  // under DuckDB's output column name. Identical statement text against
  // DuckDB's own native generate_series.
  declare("q71_generate_series",
    """SELECT CAST(SUM(generate_series) AS BIGINT) AS s, COUNT(*) AS n,
         CAST(MIN(generate_series) AS BIGINT) AS lo,
         CAST(MAX(generate_series) AS BIGINT) AS hi
       FROM generate_series(1, 100000)""") { (spark, _) =>
    spark.sql(
      """SELECT CAST(SUM(generate_series) AS BIGINT) AS s, COUNT(*) AS n,
           CAST(MIN(generate_series) AS BIGINT) AS lo,
           CAST(MAX(generate_series) AS BIGINT) AS hi
         FROM generate_series(1, 100000)""")
  }

  // DuckDB statement parity: `COPY (query) TO 'path' (FORMAT PARQUET)`
  // executing — the export idiom of every DuckDB script. The statement
  // runs as a CopyToCommand (sql/CopyToRewrite): the
  // write happens (Spark: a distributed directory of part files; the
  // oracle's DuckDB: its single file — each engine exports to its own
  // path, the ONE divergence literal-identical text can't carry), and
  // both return DuckDB's one-row `Count` result, which hash-compares.
  // The count rides the write's own pass via an Observation — no
  // second scan. The declared oracle MODELS the Count result (q77's
  // convention): DuckDB's Python client returns no relation for a bare
  // COPY (`con.execute(sql).df()` → None in the driver harness), so the
  // oracle is the equivalent single SELECT of the exported row count;
  // the Spark side still executes the real COPY write.
  declare("q69_copy_to",
    """SELECT CAST(COUNT(*) AS BIGINT) AS Count FROM orders
       WHERE o_totalprice > 150000""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """COPY (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_totalprice > 150000)
         TO '/tmp/graft_q69_spark.parquet' (FORMAT PARQUET)""")
  }

  // EXTRACT(epoch FROM ts) (round 15): the one EXTRACT field Spark
  // rejects — rewritten onto the engine's epoch() alias (DuckDB's
  // DOUBLE-seconds contract). MIN/MAX keep the comparison order-free.
  declare("q110_extract_epoch",
    """SELECT CAST(floor(MIN(EXTRACT(epoch FROM ts))) AS BIGINT) AS lo,
              CAST(floor(MAX(EXTRACT(epoch FROM ts))) AS BIGINT) AS hi
       FROM events""") { (spark, sfDir) =>
    graft.Engine.events(spark, sfDir).createOrReplaceTempView("graft_q110_events")
    spark.sql(
      """SELECT CAST(floor(MIN(EXTRACT(epoch FROM ts))) AS BIGINT) AS lo,
                CAST(floor(MAX(EXTRACT(epoch FROM ts))) AS BIGINT) AS hi
         FROM graft_q110_events""")
  }

  // AT TIME ZONE (round 16): DuckDB's type-polymorphic construct, both
  // directions — a naive wall clock interpreted in a zone (→ instant,
  // epoch-compared) and an instant rendered as a zone's wall clock (the
  // chained form; string-compared — both engines trim trailing
  // fractional zeros). The oracle runs the construct NATIVELY in DuckDB;
  // the engine rewrites it onto to_utc_timestamp/from_utc_timestamp by
  // the operand's syntactic source (GraftSparkExtensions.
  // atTimeZoneRewrite). floor() before the BIGINT cast in both texts —
  // DuckDB's CAST rounds where Spark's truncates.
  declare("q131_at_time_zone",
    """SELECT event_id,
         CAST(floor(extract(epoch FROM (ts AT TIME ZONE 'America/New_York'))) AS BIGINT) AS ep_ny,
         CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS VARCHAR) AS wall_ny
       FROM events WHERE event_id < 30 ORDER BY event_id""") { (spark, sfDir) =>
    graft.Engine.events(spark, sfDir).createOrReplaceTempView("graft_q131_events")
    spark.sql(
      """SELECT event_id,
           CAST(floor(extract(epoch FROM (ts AT TIME ZONE 'America/New_York'))) AS BIGINT) AS ep_ny,
           CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS STRING) AS wall_ny
         FROM graft_q131_events WHERE event_id < 30 ORDER BY event_id""")
  }

  // Macro bodies containing subqueries (round 16): parameter
  // substitution descends into the nested plans (MacroRewrite.
  // deepTransform) — faithful for every macro DuckDB accepts, since its
  // binder rejects parameter/column name collisions at creation. The
  // oracle runs the identical DDL+call script natively (multi-statement,
  // last result wins); counts stay exact integers.
  declare("q133_macro_subquery",
    """CREATE OR REPLACE TEMP MACRO orders_above(thr) AS
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_totalprice > thr);
       CREATE OR REPLACE TEMP MACRO rich(k) AS
         k IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000);
       SELECT orders_above(150000) AS n_above, orders_above(250000) AS n_high,
         CAST((SELECT COUNT(*) FROM customer WHERE rich(c_custkey)) AS BIGINT) AS n_rich""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """CREATE OR REPLACE TEMP MACRO orders_above(thr) AS
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_totalprice > thr)""")
    spark.sql(
      """CREATE OR REPLACE TEMP MACRO rich(k) AS
           k IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""")
    spark.sql(
      """SELECT orders_above(150000) AS n_above, orders_above(250000) AS n_high,
           CAST((SELECT COUNT(*) FROM customer WHERE rich(c_custkey)) AS BIGINT) AS n_rich""")
  }

  // UNION-distinct recursive CTE (round 16): the cyclic-closure form —
  // doubling mod 97 revisits nodes forever, so UNION ALL recursion
  // would never terminate and Spark natively REJECTS the distinct form
  // (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). The engine rewrites the
  // verbatim statement onto fixpoint() (RecursiveUnionRewrite →
  // Fixpoint.iterate's semi-naive set closure); the DuckDB oracle runs
  // the identical statement natively. Seeded from the nation table so
  // the lane exercises real inputs.
  declare("q132_recursive_union",
    """WITH RECURSIVE reach AS (
         SELECT CAST(MIN(n_nationkey) + 1 AS BIGINT) AS node FROM nation
         UNION
         SELECT (j.node * m.f) % 97 AS node
         FROM reach j, (SELECT 2 AS f UNION ALL SELECT 3 AS f) m)
       SELECT node FROM reach ORDER BY node""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """WITH RECURSIVE reach AS (
           SELECT CAST(MIN(n_nationkey) + 1 AS BIGINT) AS node FROM nation
           UNION
           SELECT (j.node * m.f) % 97 AS node
           FROM reach j, (SELECT 2 AS f UNION ALL SELECT 3 AS f) m)
         SELECT node FROM reach ORDER BY node""")
  }

  // Temporal generate_series (round 15): DATE/TIMESTAMP bounds with an
  // INTERVAL step — DuckDB returns TIMESTAMPs even for DATE bounds
  // (1.0-pinned); the splice is Spark's codegen'd sequence()+explode.
  // (Documented divergence: an empty-direction temporal series errors
  // here where DuckDB returns zero rows.)
  declare("q111_generate_series_ts",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(generate_series) AS DATE) AS lo,
              CAST(MAX(generate_series) AS DATE) AS hi
       FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY)""") {
    (spark, _) =>
    spark.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(MIN(generate_series) AS DATE) AS lo,
                CAST(MAX(generate_series) AS DATE) AS hi
         FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY)""")
  }

  // struct_pack named-argument constructor (round 15): DuckDB's
  // `struct_pack(a := x)` → named_struct; field access projects back
  // to plain columns (the driver's hasher takes no struct columns).
  declare("q112_struct_pack",
    """SELECT s.a AS k, CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT struct_pack(a := o_orderstatus, b := o_totalprice) AS s
             FROM orders) t
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT s.a AS k, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT struct_pack(a := o_orderstatus, b := o_totalprice) AS s
               FROM orders) t
         GROUP BY 1 ORDER BY 1""")
  }

  // COPY FORMAT JSON (round 15): DuckDB's JSON export is
  // newline-delimited objects — exactly Spark's json writer; each
  // engine round-trips its own artifact under the identical script.
  // (q69 convention: each engine round-trips its OWN path — Spark
  // writes a part-file directory where DuckDB writes one file, so a
  // shared literal path cannot serve both.)
  declare("q113_copy_json",
    """COPY (SELECT n_nationkey, n_name FROM nation) TO '/tmp/graft_q113_oracle.json' (FORMAT JSON);
       SELECT CAST(n_nationkey AS BIGINT) AS k, n_name
       FROM read_json_auto('/tmp/graft_q113_oracle.json') ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """COPY (SELECT n_nationkey, n_name FROM nation)
         TO '/tmp/graft_q113_spark.json' (FORMAT JSON)""").collect()
    spark.sql(
      """SELECT CAST(n_nationkey AS BIGINT) AS k, n_name
         FROM read_json_auto('/tmp/graft_q113_spark.json') ORDER BY k""")
  }

  // read_csv NAMED options (round 15): `read_csv('f', header = true,
  // delim = '|')` — the option spelling every pasted DuckDB ingest
  // script uses. The Spark side runs the real COPY-then-read round
  // trip with the named-option read; the oracle models the preserved
  // content (q69 convention — one statement per oracle run).
  declare("q109_read_csv_named",
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") {
    (spark, sfDir) =>
    t(spark, sfDir, "region").createOrReplaceTempView("region")
    spark.sql(
      """COPY (SELECT r_regionkey, r_name FROM region)
         TO '/tmp/graft_q109.csv' (FORMAT CSV, HEADER, DELIMITER '|')""").collect()
    spark.sql(
      """SELECT r_regionkey, r_name
         FROM read_csv('/tmp/graft_q109.csv', header = true, delim = '|')
         ORDER BY r_regionkey""")
  }

  // Ordered aggregates (round 15): DuckDB's in-argument `agg(args
  // ORDER BY keys)` — string_agg onto Spark's WITHIN GROUP, array_agg
  // onto the sort-struct lowering (sql/OrderedAggRewrite). IDENTICAL
  // statement text on both engines; order keys are unique so the
  // aggregated strings are fully deterministic.
  declare("q114_ordered_agg",
    """WITH s AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
                  ORDER BY o_orderkey LIMIT 20)
       SELECT o_orderpriority,
         string_agg(CAST(o_orderkey AS STRING), ',' ORDER BY o_orderkey DESC) AS ks,
         array_to_string(array_agg(CAST(o_custkey AS STRING) ORDER BY o_orderkey), '|') AS cs
       FROM s GROUP BY o_orderpriority ORDER BY o_orderpriority""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH s AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
                    ORDER BY o_orderkey LIMIT 20)
         SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS STRING), ',' ORDER BY o_orderkey DESC) AS ks,
           array_to_string(array_agg(CAST(o_custkey AS STRING) ORDER BY o_orderkey), '|') AS cs
         FROM s GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  // Named WINDOW clause parity (round 15): `WINDOW w AS (...)` with
  // multiple consumers — native in BOTH engines (Spark windowClause
  // grammar), pinned here as a parity gate entry. floor-then-BIGINT
  // keeps the running sum exact-integer (segment-tree vs sequential
  // accumulation would diverge on floats); o_orderkey is unique so
  // rank and frame contents are deterministic.
  declare("q115_window_clause",
    """SELECT o_orderkey,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) OVER w AS BIGINT) AS running,
         CAST(rank() OVER w AS BIGINT) AS rk
       FROM orders WHERE o_orderkey <= 100
       WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
       ORDER BY o_orderkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) OVER w AS BIGINT) AS running,
           CAST(rank() OVER w AS BIGINT) AS rk
         FROM orders WHERE o_orderkey <= 100
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
         ORDER BY o_orderkey""")
  }

  // LATERAL correlated subquery parity (round 15): per-customer
  // aggregate over a correlated LATERAL — native in BOTH engines
  // (Spark decorrelates to a join; at scale that is the shuffled
  // equi-join on o_custkey, not a per-row re-scan). COUNT(*)=0 rows
  // keep the NULL SUM both sides.
  declare("q116_lateral",
    """SELECT c.c_custkey, a.n, a.tot
       FROM customer c, LATERAL (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS tot
         FROM orders WHERE o_custkey = c.c_custkey) a
       WHERE c.c_custkey <= 50 ORDER BY c.c_custkey""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """SELECT c.c_custkey, a.n, a.tot
         FROM customer c, LATERAL (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS tot
           FROM orders WHERE o_custkey = c.c_custkey) a
         WHERE c.c_custkey <= 50 ORDER BY c.c_custkey""")
  }

  // ROLLUP + grouping() parity (round 15): multi-level aggregation
  // with grouping indicators — native in BOTH engines; one shuffled
  // partial-agg pass covers every rollup level (Spark Expand), the
  // 100 TB shape for subtotal reports. l_quantity is integral-valued
  // (schema-pinned) so the BIGINT cast is exact on both engines.
  declare("q117_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
         CAST(grouping(l_returnflag) AS BIGINT) AS g1,
         CAST(grouping(l_linestatus) AS BIGINT) AS g2,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""") {
    (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g1,
           CAST(grouping(l_linestatus) AS BIGINT) AS g2,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""")
  }

  // COLUMNS deeper expression nesting (round 15): the whole select
  // item re-binds per matched column, multiple occurrences of the SAME
  // set expand in lockstep, outputs keep the plain source-column names
  // (sql/ColumnsRewrite general template path, DuckDB 1.0 pinned).
  // IDENTICAL statement text on both engines — DuckDB runs its native
  // COLUMNS.
  declare("q118_columns_nested",
    """SELECT max(COLUMNS('^l_[ops].*key$')) - min(COLUMNS('^l_[ops].*key$'))
       FROM lineitem""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT max(COLUMNS('^l_[ops].*key$')) - min(COLUMNS('^l_[ops].*key$'))
         FROM lineitem""")
  }

  // Misc scalar parity (round 15): TRY_CAST (NULL on failure, both
  // engines), string-literal INTERVAL arithmetic with month-end
  // clamping, and IS DISTINCT FROM null-safe comparison — all native
  // in BOTH engines, pinned as one gate entry with IDENTICAL text.
  declare("q119_scalar_parity",
    """SELECT o_orderkey,
         try_cast(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_num,
         try_cast(o_orderstatus AS INTEGER) AS st_num,
         CAST(o_orderdate + INTERVAL '1 month' AS DATE) AS next_m,
         (o_orderstatus IS DISTINCT FROM 'O') AS not_open
       FROM orders WHERE o_orderkey <= 40 ORDER BY o_orderkey""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
           try_cast(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_num,
           try_cast(o_orderstatus AS INTEGER) AS st_num,
           CAST(o_orderdate + INTERVAL '1 month' AS DATE) AS next_m,
           (o_orderstatus IS DISTINCT FROM 'O') AS not_open
         FROM orders WHERE o_orderkey <= 40 ORDER BY o_orderkey""")
  }

  // DuckDB operator parity: the `**` power operator executing via the
  // hint parser's textual fold onto power() (left-assoc, DOUBLE, unary
  // minus binding tighter on the base — all pinned on DuckDB 1.0 in
  // SqlEntryPointsSpec). IDENTICAL statement text on both engines;
  // integer bases/exponents keep every value exactly representable, so
  // the DOUBLE results hash-compare bit-for-bit.
  declare("q120_power_op",
    """SELECT l_orderkey, l_linenumber,
         l_linenumber ** 2 AS sq,
         2 ** l_linenumber ** 2 AS chain,
         -2 ** l_linenumber AS signed_base,
         (l_linenumber + 1) ** 2 AS grouped
       FROM lineitem WHERE l_orderkey <= 20
       ORDER BY l_orderkey, l_linenumber""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_orderkey, l_linenumber,
           l_linenumber ** 2 AS sq,
           2 ** l_linenumber ** 2 AS chain,
           -2 ** l_linenumber AS signed_base,
           (l_linenumber + 1) ** 2 AS grouped
         FROM lineitem WHERE l_orderkey <= 20
         ORDER BY l_orderkey, l_linenumber""")
  }

  // Transactions over the temp-table layer (round 15): BEGIN/COMMIT/
  // ROLLBACK execute as saved registry states — the multi-version
  // mutation protocol (every write is a fresh snapshot dir) makes
  // BEGIN an O(tables) metadata capture and ROLLBACK a re-point, no
  // data copied (sql/TempTables.txn*). IDENTICAL script on both
  // engines; DuckDB runs its real ACID transactions. Nested-BEGIN and
  // bare-COMMIT/ROLLBACK error texts pinned in TempTableTxnSpec,
  // along with rollback of CREATE and DROP.
  declare("q121_transaction",
    """CREATE OR REPLACE TEMP TABLE graft_q121 (k INTEGER, v VARCHAR);
       INSERT INTO graft_q121 VALUES (1, 'keep'), (2, 'keep2');
       BEGIN TRANSACTION;
       UPDATE graft_q121 SET v = 'dirty' WHERE k = 1;
       DELETE FROM graft_q121 WHERE k = 2;
       INSERT INTO graft_q121 VALUES (3, 'dirty3');
       ROLLBACK;
       BEGIN TRANSACTION;
       INSERT INTO graft_q121 VALUES (4, 'committed');
       UPDATE graft_q121 SET v = 'kept-update' WHERE k = 2;
       COMMIT;
       SELECT k, v FROM graft_q121 ORDER BY k""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q121")
    Seq(
      "CREATE OR REPLACE TEMP TABLE graft_q121 (k INTEGER, v VARCHAR)",
      "INSERT INTO graft_q121 VALUES (1, 'keep'), (2, 'keep2')",
      "BEGIN TRANSACTION",
      "UPDATE graft_q121 SET v = 'dirty' WHERE k = 1",
      "DELETE FROM graft_q121 WHERE k = 2",
      "INSERT INTO graft_q121 VALUES (3, 'dirty3')",
      "ROLLBACK",
      "BEGIN TRANSACTION",
      "INSERT INTO graft_q121 VALUES (4, 'committed')",
      "UPDATE graft_q121 SET v = 'kept-update' WHERE k = 2",
      "COMMIT"
    ).foreach(s => spark.sql(s).collect())
    spark.sql("SELECT k, v FROM graft_q121 ORDER BY k")
  }

  // PRAGMA introspection (round 15): `PRAGMA table_info('t')` executes
  // with DuckDB's exact six-column shape (cid INT, name, type in DuckDB
  // spellings, notnull with PK-implies-NOT-NULL, dflt_value, pk from
  // the temp-table layer's declared PRIMARY KEY). show_tables /
  // assignment pragmas / CHECKPOINT run too (spec-pinned); identical
  // script both engines.
  declare("q122_pragma",
    """CREATE OR REPLACE TEMP TABLE graft_q122
         (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT, d DOUBLE);
       PRAGMA table_info('graft_q122')""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q122")
    spark.sql(
      """CREATE OR REPLACE TEMP TABLE graft_q122
           (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT, d DOUBLE)""").collect()
    spark.sql("PRAGMA table_info('graft_q122')")
  }

  // Sequences (round 15): CREATE SEQUENCE with START/INCREMENT,
  // nextval advancing per EVALUATION (the NextVal expression is
  // declared Nondeterministic precisely so CSE cannot collapse the
  // three calls into one advance — DuckDB yields 5, 8, 11), currval
  // reading the session's last value. Identical script both engines;
  // error surfaces (missing sequence, duplicate create, currval before
  // nextval, unsupported MINVALUE/CYCLE options) pinned in SequenceSpec.
  declare("q123_sequence",
    """CREATE OR REPLACE SEQUENCE graft_q123 START 5 INCREMENT 3;
       SELECT nextval('graft_q123') AS a, nextval('graft_q123') AS b,
              nextval('graft_q123') AS c, currval('graft_q123') AS d""") { (spark, sfDir) =>
    spark.sql("CREATE OR REPLACE SEQUENCE graft_q123 START 5 INCREMENT 3").collect()
    spark.sql(
      """SELECT nextval('graft_q123') AS a, nextval('graft_q123') AS b,
                nextval('graft_q123') AS c, currval('graft_q123') AS d""")
  }

  // Scalar-parity pack (round 16): the DuckDB scalars a paste-sweep of
  // common idioms found missing — gcd/lcm/even/signbit/isfinite/isinf/
  // sha256/to_base/from_hex/format/struct_extract/range (the scalar
  // LIST form)/regexp_split_to_array/product/age/to_days-family/
  // encode-decode — registered as codegen'd expressions
  // (StaticInvoke helpers in functions/ScalarCompat, native Spark
  // expressions elsewhere), every value pinned against DuckDB running
  // the equivalent text natively. Arrays render via array_to_string
  // (the driver hasher takes scalars only).
  declare("q135_scalar_parity2",
    """SELECT
         CAST(gcd(12, 18) AS BIGINT) AS g, CAST(lcm(4, 6) AS BIGINT) AS l,
         even(2.5) AS e1, even(-2.5) AS e2, even(3.0) AS e3,
         signbit(-1.0) AS s1, signbit(-0.0) AS s2,
         isfinite(1.0) AS f1, isinf(CAST('inf' AS DOUBLE)) AS f2,
         isfinite(CAST('nan' AS DOUBLE)) AS f3,
         sha256('abc') AS h,
         to_base(255, 16) AS tb, to_base(255, 16, 6) AS tb6,
         format('{}-{}', 1, 'x') AS fm, format('{1}/{0}', 'a', 'b') AS fm2,
         format('{{}} {}', 5) AS fm3,
         struct_extract({'a': 1, 'b': 2}, 'a') AS se,
         array_to_string(range(3), ',') AS r1,
         array_to_string(range(5, 2, -1), ',') AS r2,
         CAST(len(range(2, 2)) AS BIGINT) AS r3,
         array_to_string(range(0, 10, 3), ',') AS r4,
         array_to_string(regexp_split_to_array('a1b2c', '[0-9]'), '|') AS rs,
         decode(encode('ab')) AS ed,
         CAST((SELECT product(x) FROM (VALUES (2.0), (3.0), (4.0)) t(x)) AS BIGINT) AS pr,
         CAST(DATE '2024-01-01' + to_days(30) AS DATE) AS td,
         CAST(DATE '2024-01-01' + to_years(2) AS DATE) AS ty,
         CAST(TIMESTAMP '2024-03-05 10:00:00'
           - age(TIMESTAMP '2024-03-05 10:00:00',
                 TIMESTAMP '2024-01-01 00:00:00') AS VARCHAR) AS ag""") {
    (spark, _) =>
    spark.sql(
      """SELECT
           CAST(gcd(12, 18) AS BIGINT) AS g, CAST(lcm(4, 6) AS BIGINT) AS l,
           even(2.5) AS e1, even(-2.5) AS e2, even(3.0) AS e3,
           signbit(-1.0) AS s1, signbit(-0.0) AS s2,
           isfinite(1.0) AS f1, isinf(CAST('inf' AS DOUBLE)) AS f2,
           isfinite(CAST('nan' AS DOUBLE)) AS f3,
           sha256('abc') AS h,
           to_base(255, 16) AS tb, to_base(255, 16, 6) AS tb6,
           format('{}-{}', 1, 'x') AS fm, format('{1}/{0}', 'a', 'b') AS fm2,
           format('{{}} {}', 5) AS fm3,
           struct_extract({'a': 1, 'b': 2}, 'a') AS se,
           array_to_string(range(3), ',') AS r1,
           array_to_string(range(5, 2, -1), ',') AS r2,
           CAST(len(range(2, 2)) AS BIGINT) AS r3,
           array_to_string(range(0, 10, 3), ',') AS r4,
           array_to_string(regexp_split_to_array('a1b2c', '[0-9]'), '|') AS rs,
           decode(encode('ab')) AS ed,
           CAST((SELECT product(x) FROM (VALUES (2.0), (3.0), (4.0)) t(x)) AS BIGINT) AS pr,
           CAST(DATE '2024-01-01' + to_days(30) AS DATE) AS td,
           CAST(DATE '2024-01-01' + to_years(2) AS DATE) AS ty,
           CAST(TIMESTAMP '2024-03-05 10:00:00'
             - age(TIMESTAMP '2024-03-05 10:00:00',
                   TIMESTAMP '2024-01-01 00:00:00') AS STRING) AS ag""")
  }

  // Scalar-parity pack, second sweep batch (round 16): unicode/ord,
  // bar gauges, 1-arg trunc, ISO week family, julian, timezone() (the
  // function spelling of AT TIME ZONE), stepped list_slice, list_zip/
  // any_value/select/where/grade_up, dot_product, editdist3, multi-unit
  // interval strings (INTERVAL '1 month 2 days' -> make_interval), and
  // first/last with in-argument ORDER BY (lowered onto the ordered-
  // collect element). Identical construct set runs natively in DuckDB.
  declare("q136_scalar_parity3",
    """SELECT
         CAST(unicode('€') AS BIGINT) AS u1, CAST(unicode('') AS BIGINT) AS u2,
         bar(5, 0, 10, 10) AS b1,
         CAST(trunc(CAST(2.9 AS DOUBLE)) AS DOUBLE) AS t1,
         CAST(trunc(CAST(-2.9 AS DOUBLE)) AS DOUBLE) AS t2,
         CAST(week(DATE '2024-01-15') AS BIGINT) AS w,
         CAST(isodow(DATE '2024-01-14') AS BIGINT) AS iso,
         CAST(yearweek(DATE '2024-01-15') AS BIGINT) AS yw,
         julian(DATE '2024-01-01') AS j,
         CAST(floor(extract(epoch FROM
           timezone('America/New_York', TIMESTAMP '2024-01-15 00:00:00')))
           AS BIGINT) AS tz,
         array_to_string(list_slice([1,2,3,4,5], 1, 5, 2), ',') AS ls,
         array_to_string(list_slice([1,2,3,4,5], 2, 4, 2), ',') AS ls2,
         CAST(list_any_value([NULL, 3, 4]) AS BIGINT) AS lav,
         array_to_string(list_select([10,20,30], [1,3]), ',') AS lsel,
         array_to_string(list_where([10,20,30], [true,false,true]), ',') AS lw,
         array_to_string(list_grade_up([30,10,20]), ',') AS lg,
         list_dot_product([1.0,2.0], [3.0,4.0]) AS ldp,
         CAST(editdist3('kitten', 'sitting') AS BIGINT) AS ed,
         CAST(DATE '2024-01-01' + INTERVAL '1 month 2 days' AS DATE) AS iv,
         (SELECT first(x ORDER BY x DESC)
          FROM (VALUES (1), (3), (2)) t(x)) AS fo,
         (SELECT last(x ORDER BY x DESC)
          FROM (VALUES (1), (3), (2)) t(x)) AS lo""") { (spark, _) =>
    spark.sql(
      """SELECT
           CAST(unicode('€') AS BIGINT) AS u1, CAST(unicode('') AS BIGINT) AS u2,
           bar(5, 0, 10, 10) AS b1,
           CAST(trunc(CAST(2.9 AS DOUBLE)) AS DOUBLE) AS t1,
           CAST(trunc(CAST(-2.9 AS DOUBLE)) AS DOUBLE) AS t2,
           CAST(week(DATE '2024-01-15') AS BIGINT) AS w,
           CAST(isodow(DATE '2024-01-14') AS BIGINT) AS iso,
           CAST(yearweek(DATE '2024-01-15') AS BIGINT) AS yw,
           julian(DATE '2024-01-01') AS j,
           CAST(floor(extract(epoch FROM
             timezone('America/New_York', TIMESTAMP '2024-01-15 00:00:00')))
             AS BIGINT) AS tz,
           array_to_string(list_slice([1,2,3,4,5], 1, 5, 2), ',') AS ls,
           array_to_string(list_slice([1,2,3,4,5], 2, 4, 2), ',') AS ls2,
           CAST(list_any_value([NULL, 3, 4]) AS BIGINT) AS lav,
           array_to_string(list_select([10,20,30], [1,3]), ',') AS lsel,
           array_to_string(list_where([10,20,30], [true,false,true]), ',') AS lw,
           array_to_string(list_grade_up([30,10,20]), ',') AS lg,
           list_dot_product([1.0,2.0], [3.0,4.0]) AS ldp,
           CAST(editdist3('kitten', 'sitting') AS BIGINT) AS ed,
           CAST(DATE '2024-01-01' + INTERVAL '1 month 2 days' AS DATE) AS iv,
           (SELECT first(x ORDER BY x DESC)
            FROM (VALUES (1), (3), (2)) t(x)) AS fo,
           (SELECT last(x ORDER BY x DESC)
            FROM (VALUES (1), (3), (2)) t(x)) AS lo""")
  }

  // COLUMNS through arbitrary expression trees (round 17): the whole
  // select item re-binds per matched column — `min(COLUMNS(s)) + 1`,
  // lockstep same-set repeats (`max(COLUMNS(s)) - min(COLUMNS(s))`),
  // and a CAST wrapping the tree — each output named by the PLAIN
  // source column (DuckDB 1.0 pinned). Distinct per-item sets keep the
  // output names collision-free. Identical statement text on both
  // engines; min/max/+/- on stored doubles are single IEEE ops,
  // representation-stable.
  declare("q137_columns_nested",
    """CREATE OR REPLACE TEMP VIEW q137_t AS
         SELECT l_orderkey AS k, l_quantity AS qty, l_extendedprice AS px
         FROM lineitem WHERE l_orderkey < 100;
       SELECT min(COLUMNS('qty')) + 1,
              max(COLUMNS('px')) - min(COLUMNS('px')),
              CAST(min(COLUMNS('^k')) AS BIGINT)
       FROM q137_t""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW q137_t AS
           SELECT l_orderkey AS k, l_quantity AS qty, l_extendedprice AS px
           FROM lineitem WHERE l_orderkey < 100""").collect()
    spark.sql(
      """SELECT min(COLUMNS('qty')) + 1,
                max(COLUMNS('px')) - min(COLUMNS('px')),
                CAST(min(COLUMNS('^k')) AS BIGINT)
         FROM q137_t""")
  }

  // The bare COLUMNS set in a ROW-LEVEL expression tree (round 17):
  // `COLUMNS(*) + COLUMNS(*)` doubles every column per row — no
  // function wrap at all, the set appears twice and expands in
  // lockstep. Addition of a stored double to itself is one IEEE op,
  // representation-stable; k is exact BIGINT and unique, so ORDER BY 1
  // (the doubled key) is a total order.
  declare("q138_columns_rowexpr",
    """CREATE OR REPLACE TEMP VIEW q138_t AS
         SELECT l_orderkey * 10 + l_linenumber AS k,
                l_quantity AS qty, l_extendedprice AS px
         FROM lineitem WHERE l_orderkey < 100;
       SELECT COLUMNS(*) + COLUMNS(*) FROM q138_t ORDER BY 1""") {
    (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW q138_t AS
           SELECT l_orderkey * 10 + l_linenumber AS k,
                  l_quantity AS qty, l_extendedprice AS px
           FROM lineitem WHERE l_orderkey < 100""").collect()
    spark.sql("SELECT COLUMNS(*) + COLUMNS(*) FROM q138_t ORDER BY 1")
  }

  // mad() — median absolute deviation (round 17): the nested-aggregate
  // shape (median of |x − median(x)|) no one-pass SQL can express —
  // a TypedImperativeAggregate over the histogram's value→count buffer
  // (map-side partial merge, exact weighted percentile_cont(0.5) at
  // both levels). Identical statement on both engines; medians average
  // two stored doubles (one IEEE op), representation-stable.
  declare("q141_mad",
    """SELECT l_returnflag,
         mad(l_extendedprice) AS mad_price,
         mad(l_quantity) AS mad_qty,
         mad(l_orderkey) AS mad_key
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") {
    (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag,
           mad(l_extendedprice) AS mad_price,
           mad(l_quantity) AS mad_qty,
           mad(l_orderkey) AS mad_key
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  // Scalar-parity pack, third sweep batch (round 17): the 2-arg
  // map(keys, values) list constructor + map[key]→LIST indexing,
  // DuckDB's group-0 defaults for regexp_extract[_all], format_bytes,
  // today(), bias-corrected sample skewness/kurtosis (Spark's natives
  // are population moments — composed correction, one rounding step),
  // and list_aggregate. Identical statement runs natively in DuckDB.
  declare("q142_scalar_parity4",
    """SELECT
         map(['a','b'], [1, 2])['b'][1] AS m1,
         CAST(len(map([1,2],['x','y'])[9]) AS BIGINT) AS m2,
         regexp_extract('abc123', '[a-z]+') AS re0,
         regexp_extract('abc123', '([a-z]+)([0-9]+)', 2) AS re2,
         array_to_string(regexp_extract_all('a1b2', '[0-9]'), ',') AS rea,
         format_bytes(0) AS fb0, format_bytes(999) AS fb1,
         format_bytes(1024) AS fb2, format_bytes(1536) AS fb3,
         format_bytes(1048576) AS fb4, format_bytes(-2048) AS fb5,
         today() = current_date AS tdy,
         (SELECT round(skewness(CAST(x AS DOUBLE)), 3)
          FROM (VALUES (1),(2),(10)) t(x)) AS sk,
         (SELECT round(kurtosis(CAST(x AS DOUBLE)), 3)
          FROM (VALUES (1),(2),(10),(3)) t(x)) AS ku,
         CAST(list_aggregate([1,2,3], 'sum') AS BIGINT) AS la""") {
    (spark, _) =>
    spark.sql(
      """SELECT
           map(['a','b'], [1, 2])['b'][1] AS m1,
           CAST(len(map([1,2],['x','y'])[9]) AS BIGINT) AS m2,
           regexp_extract('abc123', '[a-z]+') AS re0,
           regexp_extract('abc123', '([a-z]+)([0-9]+)', 2) AS re2,
           array_to_string(regexp_extract_all('a1b2', '[0-9]'), ',') AS rea,
           format_bytes(0) AS fb0, format_bytes(999) AS fb1,
           format_bytes(1024) AS fb2, format_bytes(1536) AS fb3,
           format_bytes(1048576) AS fb4, format_bytes(-2048) AS fb5,
           today() = current_date AS tdy,
           (SELECT round(skewness(CAST(x AS DOUBLE)), 3)
            FROM (VALUES (1),(2),(10)) t(x)) AS sk,
           (SELECT round(kurtosis(CAST(x AS DOUBLE)), 3)
            FROM (VALUES (1),(2),(10),(3)) t(x)) AS ku,
           CAST(list_aggregate([1,2,3], 'sum') AS BIGINT) AS la""")
  }

  // DISTINCT ON over a GROUP BY block (round 17): DuckDB applies the
  // per-group pick AFTER aggregation with the trailing ORDER BY as the
  // tiebreak — the rewrite nests the grouped block and appends the ON
  // exprs / sort keys as hidden columns (they resolve only inside the
  // block's scope). Deterministic: count DESC then priority breaks all
  // ties. Identical statement on both engines.
  declare("q143_distinct_on_group",
    """SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY o_orderstatus, o_orderpriority
       ORDER BY o_orderstatus, COUNT(*) DESC, o_orderpriority""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, COUNT(*) DESC, o_orderpriority""")
  }

  // DISTINCT ON over a QUALIFY block (round 17): QUALIFY filters the
  // windowed rows FIRST (keep each priority's 10 smallest keys), then
  // DISTINCT ON picks per group under the trailing ORDER BY (the
  // largest of those 10 — a non-projected tiebreak would also work via
  // the hidden columns). o_orderkey is unique → fully deterministic.
  declare("q144_distinct_on_qualify",
    """SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey
       FROM orders
       QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderkey) <= 10
       ORDER BY o_orderpriority, o_orderkey DESC""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_orderkey) <= 10
         ORDER BY o_orderpriority, o_orderkey DESC""")
  }

  // COLUMNS in the WHERE clause (round 17): DuckDB applies the
  // containing condition to every matched column and ANDs the copies —
  // per top-level AND/OR segment, parenthesized. Identical statement
  // on both engines; exact-integer filter and projection.
  declare("q146_columns_where",
    """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
       FROM lineitem
       WHERE COLUMNS('^l_(quantity|linenumber)') > 3 AND l_orderkey < 300
       ORDER BY l_orderkey, l_linenumber""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
         FROM lineitem
         WHERE COLUMNS('^l_(quantity|linenumber)') > 3 AND l_orderkey < 300
         ORDER BY l_orderkey, l_linenumber""")
  }

  // Scalar-parity pack, fourth sweep batch (round 17): date-part
  // spellings (century/decade/era/isoyear, datesub = COMPLETE
  // intervals vs datediff's boundary crossings, datetrunc preserving
  // the input family), arithmetic-word aliases (divide = truncating
  // int division, multiply, FLOORED fdiv/fmod — fmod(-7.5, 2) = 0.5,
  // not C's -1.5), gcd/lcm long spellings, the Lanczos gamma family
  // (one rounding step — libm tgamma vs Lanczos agree to ~12 digits),
  // str_split_regex, and struct_insert with := named fields (UpdateFields;
  // replaces-vs-errors on existing names documented). Sweep 4: 58/60
  // (BIT-type get_bit and timezone_hour out of scope). All values
  // DuckDB-1.0-pinned; identical statement on both engines.
  declare("q145_scalar_parity5",
    """SELECT
         array_to_string(str_split_regex('a1b22c', '[0-9]+'), ',') AS ssr,
         CAST(century(DATE '2024-03-01') AS BIGINT) AS cen,
         CAST(decade(DATE '2024-03-01') AS BIGINT) AS dec,
         CAST(era(DATE '2024-03-01') AS BIGINT) AS er,
         CAST(isoyear(DATE '2023-01-01') AS BIGINT) AS iy1,
         CAST(isoyear(DATE '2024-12-30') AS BIGINT) AS iy2,
         CAST(datesub('month', DATE '2024-01-15', DATE '2024-03-14') AS BIGINT) AS dsm,
         CAST(datesub('day', DATE '2024-01-01', DATE '2024-03-01') AS BIGINT) AS dsd,
         CAST(datesub('hour', TIMESTAMP '2024-01-01 10:30:00',
                      TIMESTAMP '2024-01-02 09:00:00') AS BIGINT) AS dsh,
         CAST(datetrunc('month', DATE '2024-05-15') AS DATE) AS dtd,
         CAST(datetrunc('hour', TIMESTAMP '2024-05-15 10:45:11') AS TIMESTAMP) AS dtt,
         CAST(greatest_common_divisor(12, 18) AS BIGINT) AS g,
         CAST(least_common_multiple(4, 6) AS BIGINT) AS l,
         CAST(divide(-7, 2) AS BIGINT) AS dv,
         CAST(multiply(3, 4) AS BIGINT) AS mu,
         fdiv(CAST(-7.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS fd,
         fmod(CAST(-7.5 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS fm,
         round(gamma(CAST(5.0 AS DOUBLE)), 6) AS ga,
         round(lgamma(CAST(5.0 AS DOUBLE)), 6) AS lg,
         struct_insert({'a': 1}, b := 42).b AS si""") { (spark, _) =>
    spark.sql(
      """SELECT
           array_to_string(str_split_regex('a1b22c', '[0-9]+'), ',') AS ssr,
           CAST(century(DATE '2024-03-01') AS BIGINT) AS cen,
           CAST(decade(DATE '2024-03-01') AS BIGINT) AS dec,
           CAST(era(DATE '2024-03-01') AS BIGINT) AS er,
           CAST(isoyear(DATE '2023-01-01') AS BIGINT) AS iy1,
           CAST(isoyear(DATE '2024-12-30') AS BIGINT) AS iy2,
           CAST(datesub('month', DATE '2024-01-15', DATE '2024-03-14') AS BIGINT) AS dsm,
           CAST(datesub('day', DATE '2024-01-01', DATE '2024-03-01') AS BIGINT) AS dsd,
           CAST(datesub('hour', TIMESTAMP '2024-01-01 10:30:00',
                        TIMESTAMP '2024-01-02 09:00:00') AS BIGINT) AS dsh,
           CAST(datetrunc('month', DATE '2024-05-15') AS DATE) AS dtd,
           CAST(datetrunc('hour', TIMESTAMP '2024-05-15 10:45:11') AS TIMESTAMP) AS dtt,
           CAST(greatest_common_divisor(12, 18) AS BIGINT) AS g,
           CAST(least_common_multiple(4, 6) AS BIGINT) AS l,
           CAST(divide(-7, 2) AS BIGINT) AS dv,
           CAST(multiply(3, 4) AS BIGINT) AS mu,
           fdiv(CAST(-7.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS fd,
           fmod(CAST(-7.5 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS fm,
           round(gamma(CAST(5.0 AS DOUBLE)), 6) AS ga,
           round(lgamma(CAST(5.0 AS DOUBLE)), 6) AS lg,
           struct_insert({'a': 1}, b := 42).b AS si""")
  }

  // Catalog-table keyed ingest (round 17): CREATE TABLE with PRIMARY
  // KEY (constraint stripped, key registered — CatalogPkRewrite), then
  // INSERT OR REPLACE / ON CONFLICT DO NOTHING / DO UPDATE SET against
  // the CATALOG table (UpsertCommand's catalog path: keyed anti-join +
  // union staged OUTSIDE the table, then INSERT OVERWRITE — the
  // idempotent-ingest recipe run mechanically; ignore mode appends only
  // fresh rows). IDENTICAL script on both engines; DuckDB executes its
  // native constraint machinery. Arithmetic: one *2 / one + per double,
  // representation-stable.
  declare("q140_catalog_upsert",
    """CREATE OR REPLACE TABLE graft_q140 (k BIGINT PRIMARY KEY, v DOUBLE);
       INSERT INTO graft_q140 SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey < 200;
       INSERT OR REPLACE INTO graft_q140
         SELECT o_orderkey, o_totalprice * 2 FROM orders
         WHERE o_orderkey >= 100 AND o_orderkey < 300;
       INSERT INTO graft_q140 SELECT o_orderkey, CAST(-1.0 AS DOUBLE)
         FROM orders WHERE o_orderkey < 350
         ON CONFLICT (k) DO NOTHING;
       INSERT INTO graft_q140 SELECT o_orderkey, CAST(5.0 AS DOUBLE)
         FROM orders WHERE o_orderkey < 100
         ON CONFLICT (k) DO UPDATE SET v = v + EXCLUDED.v;
       SELECT k, v FROM graft_q140 ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    Seq(
      "CREATE OR REPLACE TABLE graft_q140 (k BIGINT PRIMARY KEY, v DOUBLE)",
      """INSERT INTO graft_q140 SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey < 200""",
      """INSERT OR REPLACE INTO graft_q140
         SELECT o_orderkey, o_totalprice * 2 FROM orders
         WHERE o_orderkey >= 100 AND o_orderkey < 300""",
      """INSERT INTO graft_q140 SELECT o_orderkey, CAST(-1.0 AS DOUBLE)
         FROM orders WHERE o_orderkey < 350
         ON CONFLICT (k) DO NOTHING""",
      """INSERT INTO graft_q140 SELECT o_orderkey, CAST(5.0 AS DOUBLE)
         FROM orders WHERE o_orderkey < 100
         ON CONFLICT (k) DO UPDATE SET v = v + EXCLUDED.v""")
      .foreach(s => spark.sql(s).collect())
    spark.sql("SELECT k, v FROM graft_q140 ORDER BY k")
  }

  // SEQUENCE bounds + CYCLE (round 16): the remaining sequence options
  // execute — MINVALUE/MAXVALUE with wraparound (ascending wraps to
  // MINVALUE, not START) and a descending bounded sequence — identical
  // DDL+call script on both engines, call order deterministic.
  declare("q134_sequence_cycle",
    """CREATE OR REPLACE SEQUENCE graft_q134 START 8 MAXVALUE 10 CYCLE;
       CREATE OR REPLACE SEQUENCE graft_q134d INCREMENT -2 MINVALUE -5 MAXVALUE 4 CYCLE;
       SELECT nextval('graft_q134') AS a, nextval('graft_q134') AS b,
              nextval('graft_q134') AS c, nextval('graft_q134') AS d,
              nextval('graft_q134d') AS e, nextval('graft_q134d') AS f,
              nextval('graft_q134d') AS g, nextval('graft_q134d') AS h,
              nextval('graft_q134d') AS i, nextval('graft_q134d') AS j""") {
    (spark, sfDir) =>
    spark.sql("CREATE OR REPLACE SEQUENCE graft_q134 START 8 MAXVALUE 10 CYCLE").collect()
    spark.sql("CREATE OR REPLACE SEQUENCE graft_q134d INCREMENT -2 MINVALUE -5 MAXVALUE 4 CYCLE").collect()
    spark.sql(
      """SELECT nextval('graft_q134') AS a, nextval('graft_q134') AS b,
                nextval('graft_q134') AS c, nextval('graft_q134') AS d,
                nextval('graft_q134d') AS e, nextval('graft_q134d') AS f,
                nextval('graft_q134d') AS g, nextval('graft_q134d') AS h,
                nextval('graft_q134d') AS i, nextval('graft_q134d') AS j""")
  }

  // COMMENT ON + system-table introspection (round 15): table and
  // column comments execute against the temp-table layer (the table's
  // record; the TABLE form parses natively in Spark and is claimed
  // pre-delegation, the COLUMN form rides the parse-failure chain) and
  // surface through DuckDB's duckdb_tables()/duckdb_columns() system
  // TVFs — identical script both engines; the uncommented column's
  // NULL rides along.
  declare("q124_comment",
    """CREATE OR REPLACE TEMP TABLE graft_q124 (k INTEGER, v VARCHAR);
       COMMENT ON TABLE graft_q124 IS 'training shard manifest';
       COMMENT ON COLUMN graft_q124.k IS 'shard key';
       SELECT t.table_name, t.comment AS table_comment,
              c.column_name, c.comment AS column_comment
       FROM duckdb_tables() t JOIN duckdb_columns() c USING (table_name)
       WHERE t.table_name = 'graft_q124' ORDER BY c.column_name""") { (spark, sfDir) =>
    spark.sql("DROP TABLE IF EXISTS graft_q124")
    Seq(
      "CREATE OR REPLACE TEMP TABLE graft_q124 (k INTEGER, v VARCHAR)",
      "COMMENT ON TABLE graft_q124 IS 'training shard manifest'",
      "COMMENT ON COLUMN graft_q124.k IS 'shard key'"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      """SELECT t.table_name, t.comment AS table_comment,
                c.column_name, c.comment AS column_comment
         FROM duckdb_tables() t JOIN duckdb_columns() c USING (table_name)
         WHERE t.table_name = 'graft_q124' ORDER BY c.column_name""")
  }

  // Unicode normalization (round 15): strip_accents (NFD + drop
  // combining marks; non-decomposable ß/æ/ł survive, exactly DuckDB's
  // behavior) and nfc_normalize (combining sequences compose — the
  // length drop from 2 to 1 on e+U+0301 is the observable). VALUES
  // carry the accented text so the statement is self-contained and
  // identical on both engines.
  declare("q126_normalize",
    "SELECT v, strip_accents(v) AS stripped, " +
      "CAST(length(nfc_normalize(v)) AS BIGINT) AS nfc_len, CAST(length(v) AS BIGINT) AS raw_len " +
      "FROM (VALUES ('âéîöü müller'), " +
      "('ß æ ñ'), ('łódź'), " +
      "('é combining')) t(v) ORDER BY v") { (spark, sfDir) =>
    spark.sql(
      "SELECT v, strip_accents(v) AS stripped, " +
        "CAST(length(nfc_normalize(v)) AS BIGINT) AS nfc_len, CAST(length(v) AS BIGINT) AS raw_len " +
        "FROM (VALUES ('âéîöü müller'), " +
        "('ß æ ñ'), ('łódź'), " +
        "('é combining')) t(v) ORDER BY v")
  }

  // String-similarity scalars (round 15): DuckDB's jaccard (character
  // SETS), jaro_winkler_similarity (0.7-threshold Winkler boost),
  // damerau_levenshtein (FULL Damerau — dl('ca','abc')=2, not OSA's 3)
  // and hamming (equal-length, DuckDB's error texts) as codegen-inlined
  // StaticInvoke scalars (functions/StringSimilarity) — the fuzzy side
  // of dedup scripts. Identical statement text both engines; float
  // similarities integer-floored to micro units.
  declare("q125_string_sim",
    """SELECT d1.doc_id AS a, d2.doc_id AS b,
         CAST(floor(jaccard(d1.text, d2.text) * 1e6) AS BIGINT) AS jac_micro,
         CAST(floor(jaro_winkler_similarity(substr(d1.text, 1, 40), substr(d2.text, 1, 40)) * 1e6) AS BIGINT) AS jw_micro,
         damerau_levenshtein(substr(d1.text, 1, 12), substr(d2.text, 1, 12)) AS dl,
         hamming(substr(d1.text, 1, 10), substr(d2.text, 1, 10)) AS ham
       FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
       WHERE d1.doc_id < 30 AND length(d1.text) >= 10 AND length(d2.text) >= 10
       ORDER BY a""") { (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT d1.doc_id AS a, d2.doc_id AS b,
           CAST(floor(jaccard(d1.text, d2.text) * 1e6) AS BIGINT) AS jac_micro,
           CAST(floor(jaro_winkler_similarity(substr(d1.text, 1, 40), substr(d2.text, 1, 40)) * 1e6) AS BIGINT) AS jw_micro,
           damerau_levenshtein(substr(d1.text, 1, 12), substr(d2.text, 1, 12)) AS dl,
           hamming(substr(d1.text, 1, 10), substr(d2.text, 1, 10)) AS ham
         FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
         WHERE d1.doc_id < 30 AND length(d1.text) >= 10 AND length(d2.text) >= 10
         ORDER BY a""")
  }

  // Postgres-style match operators (round 15): `~` is DuckDB's FULL
  // string regex match (regexp_full_match — 'abcdef' ~ 'cd' is FALSE,
  // pinned), `!~` its negation, `~~`/`!~~` are [NOT] LIKE. Spark
  // parses none of these infix (its `~` is unary bitwise NOT), so the
  // parse-failure chain's textual operand extraction splices
  // regexp_full_match / LIKE; patterns stay in the RE2∩java.regex
  // dialect so both engines evaluate them identically. Identical
  // statement text both engines.
  declare("q127_regex_ops",
    """SELECT CAST(COUNT(*) FILTER (WHERE p_name ~ '.*(green|blue).*') AS BIGINT) AS re_full,
         CAST(COUNT(*) FILTER (WHERE p_name !~ '[a-m].*') AS BIGINT) AS re_not,
         CAST(COUNT(*) FILTER (WHERE p_name ~~ '%al%') AS BIGINT) AS like_op,
         CAST(COUNT(*) FILTER (WHERE p_name !~~ '%o%') AS BIGINT) AS nlike_op,
         CAST(COUNT(*) FILTER (WHERE p_type ~ '[A-Z]+') AS BIGINT) AS re_class
       FROM part""") { (spark, sfDir) =>
    t(spark, sfDir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT CAST(COUNT(*) FILTER (WHERE p_name ~ '.*(green|blue).*') AS BIGINT) AS re_full,
           CAST(COUNT(*) FILTER (WHERE p_name !~ '[a-m].*') AS BIGINT) AS re_not,
           CAST(COUNT(*) FILTER (WHERE p_name ~~ '%al%') AS BIGINT) AS like_op,
           CAST(COUNT(*) FILTER (WHERE p_name !~~ '%o%') AS BIGINT) AS nlike_op,
           CAST(COUNT(*) FILTER (WHERE p_type ~ '[A-Z]+') AS BIGINT) AS re_class
         FROM part""")
  }

  // Parquet footer introspection (round 15): DuckDB's parquet_metadata /
  // parquet_schema / parquet_file_metadata TVFs with matching column
  // names, so the same diagnostics SQL runs on both engines — the
  // row-group/statistics view IS the 100 TB data-skipping story (what
  // min/max pruning and dictionary encoding a scan can exploit). File
  // listing is driver-side and bounded; footer reads fan out across
  // executors (graft/sources/ParquetIntrospect). Stats strings render
  // DuckDB's spellings (timestamps trimmed of trailing fraction zeros,
  // UTF8 binaries decoded). Identical statement text both engines;
  // fixed sf0.01 path by the q70 convention (the driver's oracle runs
  // at sf0.01).
  declare("q128_parquet_metadata",
    """SELECT row_group_id, row_group_num_rows, row_group_num_columns, row_group_bytes,
         column_id, num_values, path_in_schema, type,
         stats_min_value, stats_max_value, stats_null_count,
         compression, dictionary_page_offset, data_page_offset,
         total_compressed_size, total_uncompressed_size
       FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
       ORDER BY row_group_id, column_id""") { (spark, _) =>
    spark.sql(
      """SELECT row_group_id, row_group_num_rows, row_group_num_columns, row_group_bytes,
           column_id, num_values, path_in_schema, type,
           stats_min_value, stats_max_value, stats_null_count,
           compression, dictionary_page_offset, data_page_offset,
           total_compressed_size, total_uncompressed_size
         FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
         ORDER BY row_group_id, column_id""")
  }

  declare("q129_parquet_schema",
    """SELECT name, type, repetition_type, num_children, converted_type, scale, precision
       FROM parquet_schema('/root/testdata/sf0.01/orders.parquet')
       ORDER BY name""") { (spark, _) =>
    spark.sql(
      """SELECT name, type, repetition_type, num_children, converted_type, scale, precision
         FROM parquet_schema('/root/testdata/sf0.01/orders.parquet')
         ORDER BY name""")
  }

  declare("q130_parquet_file_metadata",
    """SELECT created_by, num_rows, num_row_groups
       FROM parquet_file_metadata('/root/testdata/sf0.01/part.parquet')""") { (spark, _) =>
    spark.sql(
      """SELECT created_by, num_rows, num_row_groups
         FROM parquet_file_metadata('/root/testdata/sf0.01/part.parquet')""")
  }

  // DuckDB statement parity: `COPY tbl FROM 'path'` import direction
  // executing (sql/CopyToRewrite FROM branch → CopyFromCommand →
  // insertInto append). The Spark side runs the real pipeline — export
  // region, create a catalog table, import the file back — and returns
  // DuckDB's one-row Count; the oracle models the same count (the
  // import's row count IS region's row count) as a single SELECT, since
  // the driver's oracle runner executes one statement.
  declare("q77_copy_from",
    """SELECT CAST(COUNT(*) AS BIGINT) AS Count FROM region""") { (spark, sfDir) =>
    t(spark, sfDir, "region").createOrReplaceTempView("region")
    spark.sql("DROP TABLE IF EXISTS graft_q77_region")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whDir = { val u = new java.net.URI(wh); if (u.getScheme == null) wh else u.getPath }
    def del(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(del); f.delete(); () }
    del(new java.io.File(whDir, "graft_q77_region"))
    spark.sql("COPY region TO '/tmp/graft_q77_src.parquet' (FORMAT PARQUET)")
    spark.sql(
      "CREATE TABLE graft_q77_region (r_regionkey INT, r_name STRING) " +
        "USING parquet")
    spark.sql("COPY graft_q77_region FROM '/tmp/graft_q77_src.parquet'")
  }

  // ------------------------------------------------------------------
  // DECIMAL lane: exact fixed-point money arithmetic end to end (cast
  // from the double column, aggregate in DecimalType, cast the widened
  // sums back) — beyond the BIGINT-cents trick used elsewhere. Spark and
  // DuckDB both take the shortest-decimal string of the double and round
  // HALF_UP at scale 2, so the casts agree exactly. The FINAL outputs are
  // cast DECIMAL→DOUBLE on both sides: the decimal values are bit-identical
  // across engines (verified at sf0.01), but the driver's hash treats a
  // parquet decimal128 differently from DuckDB's DECIMAL result (r04: green
  // rows/schema, red hash on this one query — the only DECIMAL-typed
  // output), and nearest-double of the same exact decimal is
  // representation-stable.
  // ------------------------------------------------------------------
  declare("q39_decimal_money",
    """SELECT o_orderpriority,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
         CAST(CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS min_price,
         CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS max_price,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.07 AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS tax_price,
         COUNT(*) AS n
       FROM orders GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    val p = col("o_totalprice").cast("decimal(18,2)")
    t(spark, sfDir, "orders")
      .select(col("o_orderpriority"), p.as("p"),
        (p * lit(BigDecimal("0.07")).cast("decimal(4,2)")).as("taxed"))
      .groupBy("o_orderpriority")
      .agg(sum("p").cast("decimal(18,2)").cast("double").as("sum_price"),
        min("p").cast("decimal(18,2)").cast("double").as("min_price"),
        max("p").cast("decimal(18,2)").cast("double").as("max_price"),
        sum("taxed").cast("decimal(18,4)").cast("double").as("tax_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------------------------
  // INTERVAL arithmetic lane: timestamp + year-month and day-time
  // intervals (month-end clamping included — Spark's add_months semantics
  // and DuckDB's INTERVAL MONTH agree), date + day interval.
  // ------------------------------------------------------------------
  declare("q40_interval_arith",
    """SELECT e.event_id,
         CAST(e.ts AS TIMESTAMP) + INTERVAL 1 MONTH + INTERVAL 90 MINUTE AS ts_shift,
         CAST(CAST(e.ts AS TIMESTAMP) - INTERVAL 7 DAY AS DATE) AS week_before
       FROM events e WHERE e.event_id < 100 ORDER BY e.event_id""") { (spark, sfDir) =>
    Engine.events(spark, sfDir)
      .filter(col("event_id") < 100)
      .select(col("event_id"),
        expr("ts + INTERVAL '1' MONTH + INTERVAL '90' MINUTE").as("ts_shift"),
        expr("CAST(ts - INTERVAL '7' DAY AS DATE)").as("week_before"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL — multiplicity
  // preserved, unlike q12's set versions)
  // ------------------------------------------------------------------
  declare("q41_set_ops_all",
    """SELECT 'except_all' AS op, COUNT(*) AS n FROM
         (SELECT c_nationkey FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) t1
       UNION ALL
       SELECT 'intersect_all', COUNT(*) FROM
         (SELECT c_nationkey FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) t2
       ORDER BY op""") { (spark, sfDir) =>
    val c = t(spark, sfDir, "customer").select(col("c_nationkey").as("k"))
    val s = t(spark, sfDir, "supplier").select(col("s_nationkey").as("k"))
    val ea = c.exceptAll(s).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("n"))
    val ia = c.intersectAll(s).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("n"))
    ea.union(ia).orderBy("op")
  }

  // ------------------------------------------------------------------
  // Lateral explode (UNNEST): token-level fan-out of the documents table
  // then re-aggregate — the row-multiplying generator runs inside
  // whole-stage codegen, and the top-20 folds to TakeOrderedAndProject.
  // ------------------------------------------------------------------
  declare("q42_explode_unnest",
    """SELECT tok, COUNT(*) AS n FROM (
         SELECT unnest(string_split(text, ' ')) AS tok FROM documents
       ) WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 20""") { (spark, sfDir) =>
    t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
  }

  // ------------------------------------------------------------------
  // Deterministic hash sampling: a stable ~6.25% subsample selected by a
  // content-hash prefix — the reproducible-experiment alternative to
  // TABLESAMPLE (whose rows differ per engine/run). Row-local predicate,
  // evaluates inside the scan stage, identical rows on any engine with
  // md5.
  // ------------------------------------------------------------------
  declare("q43_deterministic_sample",
    """SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
         CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
       FROM orders
       WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '10'""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "10")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_keys"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  // ------------------------------------------------------------------
  // Approximate-percentile envelope (the sketch-aggregate class, like
  // q11's HLL): sketch implementations differ across engines, so the
  // oracle-comparable output is the accuracy envelope against the exact
  // interpolated median, not the estimate itself.
  // ------------------------------------------------------------------
  declare("q44_approx_percentile_envelope",
    """SELECT 'o_totalprice' AS col_name,
         CASE WHEN abs(quantile_disc(o_totalprice, 0.5) - quantile_cont(o_totalprice, 0.5))
                   <= 0.02 * quantile_cont(o_totalprice, 0.5)
              THEN 'within_2pct' ELSE 'off' END AS pctl_check
       FROM orders""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .agg(expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"),
        expr("percentile(o_totalprice, 0.5)").as("exact"))
      .select(lit("o_totalprice").as("col_name"),
        when(abs(col("approx") - col("exact")) <= col("exact") * 0.02,
          lit("within_2pct")).otherwise(lit("off")).as("pctl_check"))
  }

  // ------------------------------------------------------------------
  // LATERAL correlated subquery: per-outer-row top-N — the dependent-join
  // surface (DuckDB and Spark 4 both decorrelate it). Top-2 nations per
  // region by customer count.
  // ------------------------------------------------------------------
  declare("q45_lateral",
    """SELECT r_name, t.n_name, t.n_cust
       FROM region, LATERAL (
         SELECT n_name, COUNT(*) AS n_cust
         FROM nation JOIN customer ON c_nationkey = n_nationkey
         WHERE n_regionkey = r_regionkey
         GROUP BY n_name
         ORDER BY n_cust DESC, n_name
         LIMIT 2
       ) t
       ORDER BY r_name, t.n_cust DESC, t.n_name""") { (spark, sfDir) =>
    Engine.registerViews(spark, sfDir)
    spark.sql(
      """SELECT r_name, t.n_name, t.n_cust
         FROM region, LATERAL (
           SELECT n_name, COUNT(*) AS n_cust
           FROM nation JOIN customer ON c_nationkey = n_nationkey
           WHERE n_regionkey = r_regionkey
           GROUP BY n_name
           ORDER BY n_cust DESC, n_name
           LIMIT 2
         ) t
         ORDER BY r_name, t.n_cust DESC, t.n_name""")
  }

  // ------------------------------------------------------------------
  // Bloom-filter join pruning (operators/BloomPrune.scala): dim keys →
  // bloom filter → codegen'd might_contain FILTER inside the fact scan →
  // exact join on the survivors. Result identical to the plain join (the
  // oracle); the filter only cuts what the shuffle has to carry — at
  // 100 TB the dominant cost of a selective fact⋈dim join.
  // ------------------------------------------------------------------
  declare("q46_bloom_prune",
    """SELECT COUNT(*) AS n_items,
         CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
       FROM lineitem JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000) big
         ON l_orderkey = o_orderkey""") { (spark, sfDir) =>
    import graft.operators.BloomPrune
    val big = t(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 450000).select("o_orderkey")
    BloomPrune.pruned(t(spark, sfDir, "lineitem"), "l_orderkey", big, "o_orderkey")
      .join(big, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
  }

  // ------------------------------------------------------------------
  // UNPIVOT (melt): wide per-priority metrics to long (priority, metric,
  // value) — the inverse surface of q34's PIVOT, via the Dataset unpivot
  // API (Spark's SQL UNPIVOT clause lowers to the same node). Oracle
  // spells it as the equivalent UNION ALL.
  // ------------------------------------------------------------------
  declare("q47_unpivot",
    """WITH w AS (
         SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1)
       SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
       UNION ALL
       SELECT o_orderpriority, 'total_cents', total_cents FROM w
       ORDER BY o_orderpriority, metric""") { (spark, sfDir) =>
    t(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_cents")), "metric", "value")
      .orderBy("o_orderpriority", "metric")
  }

  // ------------------------------------------------------------------
  // Partitioned-layout scan pruning: write a hive-partitioned copy, read
  // it back through a partition-key filter — the scan must prune to the
  // matching directories (PartitionFilters; asserted in QueryPlanSpec),
  // the 100 TB layout for any date/key-partitioned fact table. Oracle is
  // the same aggregate over the unpartitioned source.
  // ------------------------------------------------------------------
  declare("q48_partitioned_prune",
    """SELECT l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
       FROM lineitem WHERE l_returnflag = 'R'
       GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    val dir = graft.operators.Scratch.freshDir(spark, "part48")
    val src = t(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_extendedprice")
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    graft.operators.Scratch.readBack(spark, dir, src.schema)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
      .orderBy("l_linestatus")
  }

  // ------------------------------------------------------------------
  // mode() — the most-frequent-value ordered-set aggregate (well-defined
  // here: l_returnflag 'N' carries ~half the table, no tie ambiguity).
  // ------------------------------------------------------------------
  declare("q49_mode",
    """SELECT mode(l_returnflag) AS mode_flag,
         (SELECT COUNT(*) FROM lineitem l2
          WHERE l2.l_returnflag = mode(l.l_returnflag)) AS mode_n
       FROM lineitem l""") { (spark, sfDir) =>
    val li = t(spark, sfDir, "lineitem")
    val m = li.agg(expr("mode(l_returnflag)").as("mode_flag"))
    m.join(li, col("l_returnflag") === col("mode_flag"))
      .agg(first("mode_flag").as("mode_flag"), count(lit(1)).as("mode_n"))
  }

  // ------------------------------------------------------------------
  // Dirty-field cleaning: TRY_CAST (null on garbage, never fail the job)
  // + regex validity predicates — the crawl-metadata parsing shape.
  // Dirt is planted deterministically from clean columns.
  // ------------------------------------------------------------------
  declare("q50_try_cast",
    """WITH dirty AS (
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'n/a'
                WHEN o_orderkey % 7 = 0 THEN CAST(o_orderkey AS VARCHAR) || 'px'
                ELSE CAST(o_orderkey AS VARCHAR) END AS raw
         FROM orders WHERE o_orderkey <= 2000)
       SELECT COUNT(*) AS n,
         COUNT(TRY_CAST(raw AS BIGINT)) AS n_parsed,
         CAST(SUM(TRY_CAST(raw AS BIGINT)) AS BIGINT) AS parsed_sum,
         CAST(SUM(CASE WHEN regexp_matches(raw, '^[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid_regex
       FROM dirty""") { (spark, sfDir) =>
    val dirty = t(spark, sfDir, "orders").filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, lit("n/a"))
          .when(col("o_orderkey") % 7 === 0,
            concat(col("o_orderkey").cast("string"), lit("px")))
          .otherwise(col("o_orderkey").cast("string")).as("raw"))
    dirty.agg(count(lit(1)).as("n"),
      count(expr("try_cast(raw AS BIGINT)")).as("n_parsed"),
      sum(expr("try_cast(raw AS BIGINT)")).cast("long").as("parsed_sum"),
      sum(when(col("raw").rlike("^[0-9]+$"), 1L).otherwise(0L)).as("n_valid_regex"))
  }

  // ------------------------------------------------------------------
  // Schema-drift union: two snapshots with different column sets merged
  // BY NAME (missing columns null-filled) — the lake-evolution shape the
  // positional UNION mangles silently.
  // ------------------------------------------------------------------
  declare("q51_union_by_name",
    """SELECT r_regionkey, r_name, src, note FROM (
         SELECT r_regionkey, r_name, 'v1' AS src, CAST(NULL AS VARCHAR) AS note FROM region
         UNION ALL
         SELECT r_regionkey, r_name, 'v2', 'annotated' FROM region WHERE r_regionkey < 2
       ) ORDER BY r_regionkey, src""") { (spark, sfDir) =>
    val v1 = t(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"), lit("v1").as("src"))
    val v2 = t(spark, sfDir, "region").filter(col("r_regionkey") < 2)
      .select(col("r_name"), lit("annotated").as("note"),
        col("r_regionkey"), lit("v2").as("src")) // different order + extra col
    v1.unionByName(v2, allowMissingColumns = true)
      .select("r_regionkey", "r_name", "src", "note")
      .orderBy("r_regionkey", "src")
  }

  // ------------------------------------------------------------------
  // Null-safe equality (<=> / IS NOT DISTINCT FROM): joins where NULL
  // keys must match each other — the dirty-dimension reconciliation shape
  // an equi-join silently drops.
  // ------------------------------------------------------------------
  declare("q52_null_safe_eq",
    """WITH a AS (SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                    ELSE n_regionkey END AS k, n_nationkey FROM nation),
       b AS (SELECT CASE WHEN r_regionkey = 2 THEN NULL
                    ELSE r_regionkey END AS k, r_name FROM region)
       SELECT COUNT(*) AS n_matched,
         CAST(SUM(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_matches
       FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""") { (spark, sfDir) =>
    val a = t(spark, sfDir, "nation")
      .select(when(col("n_nationkey") % 5 === 0, lit(null))
        .otherwise(col("n_regionkey")).as("ka"), col("n_nationkey"))
    val b = t(spark, sfDir, "region")
      .select(when(col("r_regionkey") === 2, lit(null))
        .otherwise(col("r_regionkey")).as("kb"), col("r_name"))
    a.join(b, col("ka") <=> col("kb"))
      .agg(count(lit(1)).as("n_matched"),
        sum(when(col("ka").isNull, 1L).otherwise(0L)).as("n_null_matches"))
  }

  // ------------------------------------------------------------------
  // Round 18: fifth dialect sweep — EXTRACT field parity, the BIT
  // lane, SIMILAR TO constant folding, window-frame EXCLUDE, DISTINCT
  // ON across set-op chains, and the natively-passing sweep idioms
  // pinned (FILTER (WHERE), named WINDOW, GROUP/ORDER BY ALL,
  // try_strptime, ::VARCHAR / CAST AS TEXT).
  // ------------------------------------------------------------------

  // EXTRACT fields Spark rejects, claimed pre-delegation and mapped to
  // BIGINT-cast scalar templates (era/isoyear/century/decade/
  // millennium/timezone*/julian/isodow/dayofyear/micro/millisecond) in
  // both spellings (EXTRACT(f FROM x), date_part('f', x)). Identical
  // statement runs natively in DuckDB. julian rounds to 5 decimals
  // (JDN + day fraction — one shared formula, but the engines' double
  // division orders differ in the last ulp).
  declare("q147_extract_fields",
    """SELECT o_orderkey AS k,
         EXTRACT(isoyear FROM o_orderdate) AS iy,
         EXTRACT(century FROM o_orderdate) AS cen,
         EXTRACT(decade FROM o_orderdate) AS dec,
         EXTRACT(millennium FROM o_orderdate) AS mil,
         EXTRACT(era FROM o_orderdate) AS er,
         EXTRACT(isodow FROM o_orderdate) AS idw,
         EXTRACT(dayofyear FROM o_orderdate) AS doy,
         round(EXTRACT(julian FROM o_orderdate), 5) AS jul,
         EXTRACT(timezone FROM o_orderdate) AS tz,
         EXTRACT(timezone_hour FROM o_orderdate) AS tzh,
         EXTRACT(timezone_minute FROM o_orderdate) AS tzm,
         date_part('era', o_orderdate) AS dp_er,
         datepart('decade', o_orderdate) AS dp_dec,
         EXTRACT(microsecond FROM TIMESTAMP '2024-01-01 00:00:11.123456') AS us,
         EXTRACT(millisecond FROM TIMESTAMP '2024-01-01 00:00:11.123456') AS ms
       FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey AS k,
           EXTRACT(isoyear FROM o_orderdate) AS iy,
           EXTRACT(century FROM o_orderdate) AS cen,
           EXTRACT(decade FROM o_orderdate) AS dec,
           EXTRACT(millennium FROM o_orderdate) AS mil,
           EXTRACT(era FROM o_orderdate) AS er,
           EXTRACT(isodow FROM o_orderdate) AS idw,
           EXTRACT(dayofyear FROM o_orderdate) AS doy,
           round(EXTRACT(julian FROM o_orderdate), 5) AS jul,
           EXTRACT(timezone FROM o_orderdate) AS tz,
           EXTRACT(timezone_hour FROM o_orderdate) AS tzh,
           EXTRACT(timezone_minute FROM o_orderdate) AS tzm,
           date_part('era', o_orderdate) AS dp_er,
           datepart('decade', o_orderdate) AS dp_dec,
           EXTRACT(microsecond FROM TIMESTAMP '2024-01-01 00:00:11.123456') AS us,
           EXTRACT(millisecond FROM TIMESTAMP '2024-01-01 00:00:11.123456') AS ms
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""")
  }

  // BIT lane: BIT literals (modeled as the VARCHAR form), get_bit/
  // set_bit (left-0-based, out-of-range ERRORS pinned in the spec),
  // bitstring left-pad, type-dispatched bit_count — plus the
  // length-less CAST spellings (::VARCHAR, CAST AS VARCHAR) the lane
  // rides on. Identical statement runs natively in DuckDB.
  declare("q148_bit_lane",
    """SELECT
         CAST(get_bit(BIT '0110', 0) AS BIGINT) AS g0,
         CAST(get_bit(BIT '0110', 1) AS BIGINT) AS g1,
         CAST(set_bit(BIT '0110', 2, 0) AS VARCHAR) AS sb,
         set_bit(BIT '00000000', 7, 1)::VARCHAR AS sb2,
         CAST(bitstring('0110', 8) AS VARCHAR) AS bs,
         CAST(bit_count(BIT '011010') AS BIGINT) AS bc,
         CAST(bit_count(CAST(200 AS BIGINT)) AS BIGINT) AS bci,
         CAST(7 AS TEXT) AS t7""") { (spark, _) =>
    spark.sql(
      """SELECT
           CAST(get_bit(BIT '0110', 0) AS BIGINT) AS g0,
           CAST(get_bit(BIT '0110', 1) AS BIGINT) AS g1,
           CAST(set_bit(BIT '0110', 2, 0) AS VARCHAR) AS sb,
           set_bit(BIT '00000000', 7, 1)::VARCHAR AS sb2,
           CAST(bitstring('0110', 8) AS VARCHAR) AS bs,
           CAST(bit_count(BIT '011010') AS BIGINT) AS bc,
           CAST(bit_count(CAST(200 AS BIGINT)) AS BIGINT) AS bci,
           CAST(7 AS TEXT) AS t7""")
  }

  // SIMILAR TO with constant-folded literal concat chains ('||' binds
  // tighter than SIMILAR TO, so the real pattern is the concat result)
  // — full-match anchoring onto RLIKE as in the literal form; ESCAPE
  // raises the same not-implemented error the host does (pinned in
  // the spec). Identical statement runs natively in DuckDB.
  declare("q149_similar_concat",
    """SELECT p_partkey AS k, p_name FROM part
       WHERE p_name SIMILAR TO '.*' || 'an' || '.*'
         AND p_name NOT SIMILAR TO '.*' || 'lavender' || '.*'
       ORDER BY p_partkey""") { (spark, sfDir) =>
    t(spark, sfDir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT p_partkey AS k, p_name FROM part
         WHERE p_name SIMILAR TO '.*' || 'an' || '.*'
           AND p_name NOT SIMILAR TO '.*' || 'lavender' || '.*'
         ORDER BY p_partkey""")
  }

  // Window-frame EXCLUDE (CURRENT ROW / GROUP / TIES / NO OTHERS)
  // decomposed onto stock window algebra — subtraction for sum/count/
  // avg, frame-splitting least/greatest for min/max, peer-frame
  // subtraction for GROUP/TIES (every derived window shares the
  // original PARTITION/ORDER, so each column still runs in ONE
  // WindowExec pass — plan-asserted in the spec). l_quantity holds
  // integral doubles, so the subtraction algebra is representation-
  // exact. Identical statement runs natively in DuckDB.
  declare("q150_window_exclude",
    """CREATE OR REPLACE TEMP VIEW q150_t AS
         SELECT l_orderkey * 10 + l_linenumber AS k, l_quantity AS q,
                l_orderkey % 7 AS g
         FROM lineitem WHERE l_orderkey < 400;
       SELECT k,
         sum(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s_cr,
         CAST(count(*) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS c_cr,
         avg(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS a_cr,
         min(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mn_cr,
         max(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS mx_cr,
         sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE GROUP) AS s_gp,
         sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE TIES) AS s_ti,
         CAST(count(q) OVER (PARTITION BY g ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS BIGINT) AS c_ti,
         sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS s_rcr,
         sum(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE NO OTHERS) AS s_no
       FROM q150_t ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW q150_t AS
           SELECT l_orderkey * 10 + l_linenumber AS k, l_quantity AS q,
                  l_orderkey % 7 AS g
           FROM lineitem WHERE l_orderkey < 400""").collect()
    spark.sql(
      """SELECT k,
           sum(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s_cr,
           CAST(count(*) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS c_cr,
           avg(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS a_cr,
           min(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mn_cr,
           max(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 1 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS mx_cr,
           sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE GROUP) AS s_gp,
           sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING EXCLUDE TIES) AS s_ti,
           CAST(count(q) OVER (PARTITION BY g ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS BIGINT) AS c_ti,
           sum(q) OVER (PARTITION BY g ORDER BY q RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS s_rcr,
           sum(q) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE NO OTHERS) AS s_no
         FROM q150_t ORDER BY k""")
  }

  // DISTINCT ON across set-operation chains (round 18): EVERY shaped
  // block rewrites, not just the head; the trailing ORDER BY stays
  // chain-global. Per-block payloads are functions of the ON exprs, so
  // the (block-level-ORDER-BY-less) row pick is value-deterministic on
  // both engines. Identical statement runs natively in DuckDB.
  declare("q151_distinct_on_setops",
    """SELECT DISTINCT ON (o_custkey % 10)
           CAST(o_custkey % 10 AS BIGINT) AS g,
           CAST((o_custkey % 10) * 2 AS BIGINT) AS v
       FROM orders WHERE o_orderkey < 500
       UNION ALL
       SELECT DISTINCT ON (c_nationkey)
           CAST(c_nationkey AS BIGINT) AS g,
           CAST(c_nationkey + 100 AS BIGINT) AS v
       FROM customer
       ORDER BY g, v""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    spark.sql(
      """SELECT DISTINCT ON (o_custkey % 10)
             CAST(o_custkey % 10 AS BIGINT) AS g,
             CAST((o_custkey % 10) * 2 AS BIGINT) AS v
         FROM orders WHERE o_orderkey < 500
         UNION ALL
         SELECT DISTINCT ON (c_nationkey)
             CAST(c_nationkey AS BIGINT) AS g,
             CAST(c_nationkey + 100 AS BIGINT) AS v
         FROM customer
         ORDER BY g, v""")
  }

  // Fifth-sweep idioms that pass NATIVELY through the dialect pipeline
  // — pinned so a regression in the rewrite chain (which re-parses
  // every statement) surfaces as a gate failure, not a silent
  // behavior change: FILTER (WHERE) aggregates, the named WINDOW
  // clause, GROUP BY ALL / ORDER BY ALL, try_strptime, and a
  // window-over-aggregate. Integer sums keep the cumulative window
  // representation-exact. Identical statement runs natively in DuckDB.
  declare("q152_sweep5_native",
    """CREATE OR REPLACE TEMP VIEW q152_t AS
         SELECT o_custkey % 5 AS g, o_orderkey AS k, o_totalprice AS p
         FROM orders WHERE o_orderkey < 300;
       SELECT g, fsum, fcnt, CAST(sum(fsum2) OVER w AS BIGINT) AS cum, ts
       FROM (
         SELECT CAST(g AS BIGINT) AS g,
           CAST(sum(k) FILTER (WHERE k % 2 = 0) AS BIGINT) AS fsum,
           sum(k) AS fsum2,
           CAST(count(*) FILTER (WHERE p > 1000) AS BIGINT) AS fcnt,
           try_strptime('2024-0' || CAST(g + 1 AS VARCHAR) || '-01',
                        '%Y-%m-%d') AS ts
         FROM q152_t GROUP BY ALL
       ) q
       WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY ALL""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW q152_t AS
           SELECT o_custkey % 5 AS g, o_orderkey AS k, o_totalprice AS p
           FROM orders WHERE o_orderkey < 300""").collect()
    spark.sql(
      """SELECT g, fsum, fcnt, CAST(sum(fsum2) OVER w AS BIGINT) AS cum, ts
         FROM (
           SELECT CAST(g AS BIGINT) AS g,
             CAST(sum(k) FILTER (WHERE k % 2 = 0) AS BIGINT) AS fsum,
             sum(k) AS fsum2,
             CAST(count(*) FILTER (WHERE p > 1000) AS BIGINT) AS fcnt,
             try_strptime('2024-0' || CAST(g + 1 AS VARCHAR) || '-01',
                          '%Y-%m-%d') AS ts
           FROM q152_t GROUP BY ALL
         ) q
         WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY ALL""")
  }

  // read_json columns={...} explicit schema (round 18): DuckDB's
  // brace-struct schema option folds to a DDL string the reader
  // applies via .schema() — declared types override inference, listed
  // columns project in order, missing fields read NULL (both engines,
  // pinned by the 'c' column). q113/q69 convention: each engine
  // round-trips its OWN JSON artifact under the identical script.
  declare("q153_read_json_columns",
    """COPY (SELECT n_nationkey, n_name FROM nation)
         TO '/tmp/graft_q153_oracle.json' (FORMAT JSON);
       SELECT k, n_name, c
       FROM read_json('/tmp/graft_q153_oracle.json',
         columns={'n_nationkey': 'DOUBLE', 'n_name': 'VARCHAR', 'c': 'BIGINT'})
         t(k, n_name, c)
       ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """COPY (SELECT n_nationkey, n_name FROM nation)
         TO '/tmp/graft_q153_spark.json' (FORMAT JSON)""").collect()
    spark.sql(
      """SELECT k, n_name, c
         FROM read_json('/tmp/graft_q153_spark.json',
           columns={'n_nationkey': 'DOUBLE', 'n_name': 'VARCHAR', 'c': 'BIGINT'})
           t(k, n_name, c)
         ORDER BY k""")
  }

  // Sixth-sweep operator pack (round 18): the Postgres-style operators
  // DuckDB hosts — ^@ starts-with, && list overlap (NULL-blind), @> /
  // <@ containment (contained-side NULLs ignored), quantified
  // comparisons over lists (= ANY / > ALL via exists/forall — Spark's
  // three-valued lambdas match DuckDB exactly), and the in-parens
  // IGNORE NULLS spelling (last(x IGNORE NULLS) — the carry-forward
  // idiom). Identical statement runs natively in DuckDB.
  declare("q154_sweep6_ops",
    """SELECT l_orderkey * 10 + l_linenumber AS k,
         [CAST(l_orderkey % 5 AS BIGINT), CAST(l_linenumber AS BIGINT)]
           && [CAST(0 AS BIGINT), CAST(7 AS BIGINT)] AS ov,
         [CAST(l_orderkey % 5 AS BIGINT), CAST(l_linenumber AS BIGINT)]
           @> [CAST(l_linenumber AS BIGINT)] AS ct,
         [CAST(l_linenumber AS BIGINT)]
           <@ [CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)] AS cb,
         l_returnflag ^@ 'A' AS sw,
         l_quantity > any([CAST(10.0 AS DOUBLE), CAST(25.0 AS DOUBLE)]) AS qa,
         l_quantity > all([CAST(10.0 AS DOUBLE), CAST(25.0 AS DOUBLE)]) AS qb,
         last(CASE WHEN l_quantity > 25 THEN l_orderkey END IGNORE NULLS)
           OVER (ORDER BY l_orderkey * 10 + l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
       FROM lineitem WHERE l_orderkey < 300 ORDER BY k""") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_orderkey * 10 + l_linenumber AS k,
           [CAST(l_orderkey % 5 AS BIGINT), CAST(l_linenumber AS BIGINT)]
             && [CAST(0 AS BIGINT), CAST(7 AS BIGINT)] AS ov,
           [CAST(l_orderkey % 5 AS BIGINT), CAST(l_linenumber AS BIGINT)]
             @> [CAST(l_linenumber AS BIGINT)] AS ct,
           [CAST(l_linenumber AS BIGINT)]
             <@ [CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)] AS cb,
           l_returnflag ^@ 'A' AS sw,
           l_quantity > any([CAST(10.0 AS DOUBLE), CAST(25.0 AS DOUBLE)]) AS qa,
           l_quantity > all([CAST(10.0 AS DOUBLE), CAST(25.0 AS DOUBLE)]) AS qb,
           last(CASE WHEN l_quantity > 25 THEN l_orderkey END IGNORE NULLS)
             OVER (ORDER BY l_orderkey * 10 + l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
         FROM lineitem WHERE l_orderkey < 300 ORDER BY k""")
  }

  // LIMIT <p>% (round 18): DuckDB's percent limit — floor(n·p/100)
  // rows of the sorted result (10% of 3 rows = 0, 67% = 2, pinned) —
  // via a row_number/count window wrap over the sorted body (keys
  // resolve against the body's OUTPUT columns - the wrap's scope; a
  // non-projected source-column key surfaces the unresolved-column
  // error instead of silently picking rows). The sort is a tie-broken
  // total order so both engines keep the same prefix.
  // Identical statement runs natively in DuckDB.
  declare("q155_limit_percent",
    """SELECT o_orderkey AS k, o_totalprice AS p FROM orders
       WHERE o_orderkey < 1000
       ORDER BY p DESC, k LIMIT 10%""") {
    (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey AS k, o_totalprice AS p FROM orders
         WHERE o_orderkey < 1000
         ORDER BY p DESC, k LIMIT 10%""")
  }

  // Seventh-sweep parity pack (round 18): JSON merge-patch/keys/arrow
  // operators, string+negative array_slice (DuckSlice), path parsing,
  // base64 round-trip, nextafter, in-argument ORDER BY on order-
  // insensitive aggregates (stripped), and the FILTER-without-WHERE
  // shorthand. List-returning functions stringify for the driver's
  // hasher. Identical statement runs natively in DuckDB.
  declare("q156_sweep7_parity",
    """SELECT
         json_merge_patch('{"a":{"x":1}}', '{"a":{"y":2},"b":null}') AS jm,
         array_to_string(json_keys('{"a":1,"b":2}'), ',') AS jk,
         '{"a": {"b": 7}}'->'a'->>'b' AS arrow,
         '[5,6]' -> 0 AS a0,
         '[5,6]' ->> 1 AS a1,
         array_slice('abcde', 2, 3) AS sl,
         array_to_string(array_slice([10,20,30,40], -3, -2), ',') AS slneg,
         array_to_string(parse_path('/a/b/c.txt'), '|') AS pp,
         parse_filename('/a/b/c.txt', true) AS pf,
         parse_dirname('/a/b/c.txt') AS pd,
         CAST(from_base64(to_base64(CAST('graft' AS BLOB))) AS VARCHAR) AS b64,
         nextafter(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS na,
         (SELECT CAST(count(DISTINCT o_orderstatus ORDER BY o_orderstatus) AS BIGINT)
          FROM orders) AS cd,
         (SELECT CAST(sum(o_orderkey) FILTER (o_orderkey % 2 = 0) AS BIGINT)
          FROM orders WHERE o_orderkey < 100) AS fsh""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT
           json_merge_patch('{"a":{"x":1}}', '{"a":{"y":2},"b":null}') AS jm,
           array_to_string(json_keys('{"a":1,"b":2}'), ',') AS jk,
           '{"a": {"b": 7}}'->'a'->>'b' AS arrow,
           '[5,6]' -> 0 AS a0,
           '[5,6]' ->> 1 AS a1,
           array_slice('abcde', 2, 3) AS sl,
           array_to_string(array_slice([10,20,30,40], -3, -2), ',') AS slneg,
           array_to_string(parse_path('/a/b/c.txt'), '|') AS pp,
           parse_filename('/a/b/c.txt', true) AS pf,
           parse_dirname('/a/b/c.txt') AS pd,
           CAST(from_base64(to_base64(CAST('graft' AS BLOB))) AS VARCHAR) AS b64,
           nextafter(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS na,
           (SELECT CAST(count(DISTINCT o_orderstatus ORDER BY o_orderstatus) AS BIGINT)
            FROM orders) AS cd,
           (SELECT CAST(sum(o_orderkey) FILTER (o_orderkey % 2 = 0) AS BIGINT)
            FROM orders WHERE o_orderkey < 100) AS fsh""")
  }

  // Eighth-sweep parity pack (round 18): the regr_* family + corr /
  // covar (native on both engines, pinned against drift), product,
  // kurtosis_pop (Spark's population kurtosis IS DuckDB's _pop form),
  // bitstring_agg (1-arg stats range + 3-arg bounds), map_extract
  // (LIST result, [] when absent), postfix `!` factorial (exact
  // integer, (-n)! = 1), prefix `@` absolute value, epoch_ns, the
  // non-literal INTERVAL (expr) UNIT constructor, and the long to_*
  // interval constructors. Doubles ride round(): the two engines'
  // summation orders differ in the last ulps (measured: regr_r2 at
  // 1e-19, kurtosis at 1e-12) and the driver compare hashes exact
  // values. array_to_string('') of the empty list is NULL in DuckDB
  // and '' here — coalesced on both sides.
  declare("q157_sweep8_parity",
    """SELECT
         round(regr_slope(o_totalprice, o_custkey), 6) AS rs,
         round(regr_intercept(o_totalprice, o_custkey), 2) AS ri,
         round(regr_r2(o_totalprice, o_custkey), 10) AS rr2,
         CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS rn,
         round(regr_avgx(o_totalprice, o_custkey), 4) AS rax,
         round(regr_sxy(o_totalprice, o_custkey), 0) AS rsxy,
         round(corr(o_totalprice, o_custkey), 8) AS cr,
         round(covar_pop(o_totalprice, o_custkey), 2) AS cvp,
         round(covar_samp(o_totalprice, o_custkey), 2) AS cvs,
         round(kurtosis_pop(o_totalprice), 8) AS kp,
         (SELECT round(product(n_regionkey + 1), 0) FROM nation) AS prod,
         (SELECT CAST(bitstring_agg(n_regionkey) AS VARCHAR) FROM nation) AS bs,
         (SELECT CAST(bitstring_agg(n_regionkey, 0, 7) AS VARCHAR) FROM nation) AS bs3,
         coalesce(array_to_string(map_extract(map(['a','b'],[1,2]), 'a'), ','), '') AS meh,
         coalesce(array_to_string(map_extract(map(['a','b'],[1,2]), 'zz'), ','), '') AS mem,
         CAST(20! AS BIGINT) AS f20,
         CAST((-3)! AS BIGINT) AS fneg,
         @(-42) AS absop,
         epoch_ns(TIMESTAMP '2024-01-01 00:00:00.123456') AS ens,
         epoch_us(TIMESTAMP '2024-01-01 00:00:00.123456') AS eus,
         (CAST('2024-01-01' AS DATE) + INTERVAL (7) DAY)::DATE AS ivd,
         (CAST('2024-01-31' AS DATE) + INTERVAL (1) MONTH)::DATE AS ivm,
         (CAST('2024-01-01' AS DATE) + to_weeks(2))::DATE AS tw,
         (CAST('2024-01-01' AS DATE) + to_decades(1))::DATE AS tdec
       FROM orders""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT
           round(regr_slope(o_totalprice, o_custkey), 6) AS rs,
           round(regr_intercept(o_totalprice, o_custkey), 2) AS ri,
           round(regr_r2(o_totalprice, o_custkey), 10) AS rr2,
           CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS rn,
           round(regr_avgx(o_totalprice, o_custkey), 4) AS rax,
           round(regr_sxy(o_totalprice, o_custkey), 0) AS rsxy,
           round(corr(o_totalprice, o_custkey), 8) AS cr,
           round(covar_pop(o_totalprice, o_custkey), 2) AS cvp,
           round(covar_samp(o_totalprice, o_custkey), 2) AS cvs,
           round(kurtosis_pop(o_totalprice), 8) AS kp,
           (SELECT round(product(n_regionkey + 1), 0) FROM nation) AS prod,
           (SELECT CAST(bitstring_agg(n_regionkey) AS VARCHAR) FROM nation) AS bs,
           (SELECT CAST(bitstring_agg(n_regionkey, 0, 7) AS VARCHAR) FROM nation) AS bs3,
           coalesce(array_to_string(map_extract(map(['a','b'],[1,2]), 'a'), ','), '') AS meh,
           coalesce(array_to_string(map_extract(map(['a','b'],[1,2]), 'zz'), ','), '') AS mem,
           CAST(20! AS BIGINT) AS f20,
           CAST((-3)! AS BIGINT) AS fneg,
           @(-42) AS absop,
           epoch_ns(TIMESTAMP '2024-01-01 00:00:00.123456') AS ens,
           epoch_us(TIMESTAMP '2024-01-01 00:00:00.123456') AS eus,
           (CAST('2024-01-01' AS DATE) + INTERVAL (7) DAY)::DATE AS ivd,
           (CAST('2024-01-31' AS DATE) + INTERVAL (1) MONTH)::DATE AS ivm,
           (CAST('2024-01-01' AS DATE) + to_weeks(2))::DATE AS tw,
           (CAST('2024-01-01' AS DATE) + to_decades(1))::DATE AS tdec
         FROM orders""")
  }

  // DEFAULT column values + joined DML (round 18): CREATE TEMP TABLE
  // with per-column DEFAULT expressions (filled for omitted columns
  // and the DEFAULT keyword — DuckDB evaluates the expression per
  // insert), UPDATE ... FROM (arbitrary-match-once via one rid-keyed
  // join round-trip) and DELETE ... USING (NOT EXISTS anti-join).
  // IDENTICAL statement script on both engines.
  declare("q158_defaults_joined_dml",
    """CREATE OR REPLACE TEMP TABLE graft_q158d (a INTEGER DEFAULT 7,
         b VARCHAR DEFAULT upper('x'), c INTEGER);
       INSERT INTO graft_q158d (c) VALUES (1);
       INSERT INTO graft_q158d VALUES (DEFAULT, DEFAULT, 2);
       INSERT INTO graft_q158d (b, c) VALUES (DEFAULT, 3);
       INSERT INTO graft_q158d VALUES (5, 'q', 4);
       CREATE OR REPLACE TEMP TABLE graft_q158u (k INTEGER, v INTEGER);
       INSERT INTO graft_q158u VALUES (1, 10), (2, 20), (3, 30), (4, 40);
       UPDATE graft_q158u SET v = s.nv FROM (VALUES (1, 100), (3, 300)) s(k, nv)
         WHERE graft_q158u.k = s.k;
       DELETE FROM graft_q158u USING (VALUES (2)) s(k) WHERE graft_q158u.k = s.k;
       SELECT d.a, d.b, d.c, u.k, u.v FROM graft_q158d d
         JOIN graft_q158u u ON d.c = u.k ORDER BY d.c""") { (spark, sfDir) =>
    Seq(
      """CREATE OR REPLACE TEMP TABLE graft_q158d (a INTEGER DEFAULT 7,
         b VARCHAR DEFAULT upper('x'), c INTEGER)""",
      "INSERT INTO graft_q158d (c) VALUES (1)",
      "INSERT INTO graft_q158d VALUES (DEFAULT, DEFAULT, 2)",
      "INSERT INTO graft_q158d (b, c) VALUES (DEFAULT, 3)",
      "INSERT INTO graft_q158d VALUES (5, 'q', 4)",
      "CREATE OR REPLACE TEMP TABLE graft_q158u (k INTEGER, v INTEGER)",
      "INSERT INTO graft_q158u VALUES (1, 10), (2, 20), (3, 30), (4, 40)",
      """UPDATE graft_q158u SET v = s.nv FROM (VALUES (1, 100), (3, 300)) s(k, nv)
         WHERE graft_q158u.k = s.k""",
      "DELETE FROM graft_q158u USING (VALUES (2)) s(k) WHERE graft_q158u.k = s.k"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      """SELECT d.a, d.b, d.c, u.k, u.v FROM graft_q158d d
         JOIN graft_q158u u ON d.c = u.k ORDER BY d.c""")
  }

  // Eighth-sweep batch 2 (round 18): log() SHADOWED to DuckDB's
  // base-10 (Spark's 1-arg log is ln — the one silently-wrong-value
  // case this sweep found; the 2-arg base form already agrees),
  // arbitrary(), list_concat/array_concat with DuckDB's NULL-operand
  // pass-through, array_unique (the distinct-non-NULL COUNT),
  // substring_grapheme, count_if, to_base/bin, prefix/suffix, ord,
  // mismatches — plus the natively-passing list comprehension and
  // regexp_split_to_array pinned as regression gates. The regex
  // pattern is spelled [0-9]: backslash-in-literal parsing is the
  // documented dialect divergence (Spark consumes \d's backslash,
  // DuckDB keeps it).
  declare("q159_sweep8_batch2",
    """SELECT
         round(log(100), 10) AS lg,
         round(log(2, 32), 10) AS lgb,
         round(ln(exp(1)), 10) AS lnn,
         (SELECT CAST(count_if(n_regionkey > 2) AS BIGINT) FROM nation) AS ci,
         array_to_string(list_concat([1, 2], [3]), ',') AS lc1,
         array_to_string(list_concat([1], NULL), ',') AS lc2,
         CAST(array_unique([1, 1, 2, NULL]) AS BIGINT) AS au,
         substring_grapheme('abcdef', 2, 3) AS sg,
         substring_grapheme('abcdef', -2, 2) AS sgn,
         to_base(255, 16) AS tb,
         bin(5) AS bn,
         prefix('abcdef', 'abc') AS pf,
         suffix('abcdef', 'def') AS sf,
         CAST(ord('A') AS BIGINT) AS o,
         CAST(mismatches('abcd', 'abed') AS BIGINT) AS mm,
         CAST(damerau_levenshtein('ab', 'ba') AS BIGINT) AS dl,
         array_to_string([x * 2 FOR x IN [1, 2, 3] IF x > 1], ',') AS lcomp,
         array_to_string(regexp_split_to_array('a1b2c', '[0-9]'), ',') AS rs""") {
    (spark, sfDir) =>
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """SELECT
           round(log(100), 10) AS lg,
           round(log(2, 32), 10) AS lgb,
           round(ln(exp(1)), 10) AS lnn,
           (SELECT CAST(count_if(n_regionkey > 2) AS BIGINT) FROM nation) AS ci,
           array_to_string(list_concat([1, 2], [3]), ',') AS lc1,
           array_to_string(list_concat([1], NULL), ',') AS lc2,
           CAST(array_unique([1, 1, 2, NULL]) AS BIGINT) AS au,
           substring_grapheme('abcdef', 2, 3) AS sg,
           substring_grapheme('abcdef', -2, 2) AS sgn,
           to_base(255, 16) AS tb,
           bin(5) AS bn,
           prefix('abcdef', 'abc') AS pf,
           suffix('abcdef', 'def') AS sf,
           CAST(ord('A') AS BIGINT) AS o,
           CAST(mismatches('abcd', 'abed') AS BIGINT) AS mm,
           CAST(damerau_levenshtein('ab', 'ba') AS BIGINT) AS dl,
           array_to_string([x * 2 FOR x IN [1, 2, 3] IF x > 1], ',') AS lcomp,
           array_to_string(regexp_split_to_array('a1b2c', '[0-9]'), ',') AS rs""")
  }

  // Default null ordering (round 18): DuckDB sorts NULLs LAST by
  // default — ASC and DESC, statement and window ORDER BY alike —
  // where Spark's ASC default is NULLS FIRST. The engine's parser
  // gives every sort key without a NULLS clause NULLS LAST
  // (sql/DuckSqlParser), so a pasted ORDER BY over a nullable key
  // returns the host's rows under LIMIT and the host's window frames
  // for NULL rows. The LIMIT here is what makes the gate sensitive:
  // with Spark's default the NULL row displaces a real one.
  declare("q160_null_order",
    """SELECT x, grp,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS rn,
         CAST(first_value(x) OVER (PARTITION BY grp ORDER BY x) AS INTEGER) AS fv
       FROM (VALUES (1, 'a'), (NULL, 'a'), (2, 'a'), (NULL, 'b'), (3, 'b')) t(x, grp)
       ORDER BY grp, x LIMIT 4""") { (spark, sfDir) =>
    spark.sql(
      """SELECT x, grp,
           CAST(row_number() OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS rn,
           CAST(first_value(x) OVER (PARTITION BY grp ORDER BY x) AS INTEGER) AS fv
         FROM (VALUES (1, 'a'), (NULL, 'a'), (2, 'a'), (NULL, 'b'), (3, 'b')) t(x, grp)
         ORDER BY grp, x LIMIT 4""")
  }

  // Eighth-sweep batch 3 (round 18): the JSON utility family —
  // json/json_valid/json_type (DuckDB's vocabulary: UBIGINT for
  // non-negative integers)/json_quote/json_array/json_object (typed
  // constructors, functions/JsonBuild.scala)/json_contains
  // (MySQL-style subtree containment)/json_array_length with a path —
  // plus regexp_extract NAME LISTS (STRUCT of capture groups) and the
  // unsigned/HUGEINT type spellings (widened to the next signed type /
  // DECIMAL; typeof reports the signed name, documented).
  declare("q161_sweep8_json",
    """SELECT
         regexp_extract('2024-01-15', '([0-9]+)-([0-9]+)', ['y', 'm']).y AS ry,
         regexp_extract('2024-01-15', '([0-9]+)-([0-9]+)', ['y', 'm']).m AS rm,
         json_type('{"a":1}') AS jt, json_type('1') AS jtu, json_type('-2') AS jtn,
         json_type('{"a":[1]}', '$.a') AS jtp,
         json_valid('{') AS jv, json_valid('[1,2]') AS jok,
         json('{ "a":  1 }') AS jm,
         json_quote('s') AS jq, CAST(json_quote([1,2]) AS VARCHAR) AS jql,
         json_array('a', 1, NULL)::VARCHAR AS ja,
         json_object('k', 1, 'j', 'v')::VARCHAR AS jo,
         json_contains('{"a":1,"b":[2,3]}', '3') AS jc1,
         json_contains('{"a":1}', '2') AS jc2,
         json_contains('{"a":{"x":1,"y":2}}', '{"x":1}') AS jc3,
         CAST(json_array_length('{"a":[1,2]}', '$.a') AS BIGINT) AS jal,
         CAST(255::UTINYINT AS BIGINT) AS ut,
         CAST(5000000000::UBIGINT AS VARCHAR) AS ub,
         CAST('99999999999999999999999999999999999999'::HUGEINT AS VARCHAR) AS hg""") {
    (spark, sfDir) =>
    spark.sql(
      """SELECT
           regexp_extract('2024-01-15', '([0-9]+)-([0-9]+)', ['y', 'm']).y AS ry,
           regexp_extract('2024-01-15', '([0-9]+)-([0-9]+)', ['y', 'm']).m AS rm,
           json_type('{"a":1}') AS jt, json_type('1') AS jtu, json_type('-2') AS jtn,
           json_type('{"a":[1]}', '$.a') AS jtp,
           json_valid('{') AS jv, json_valid('[1,2]') AS jok,
           json('{ "a":  1 }') AS jm,
           json_quote('s') AS jq, CAST(json_quote([1,2]) AS VARCHAR) AS jql,
           json_array('a', 1, NULL)::VARCHAR AS ja,
           json_object('k', 1, 'j', 'v')::VARCHAR AS jo,
           json_contains('{"a":1,"b":[2,3]}', '3') AS jc1,
           json_contains('{"a":1}', '2') AS jc2,
           json_contains('{"a":{"x":1,"y":2}}', '{"x":1}') AS jc3,
           CAST(json_array_length('{"a":[1,2]}', '$.a') AS BIGINT) AS jal,
           CAST(255::UTINYINT AS BIGINT) AS ut,
           CAST(5000000000::UBIGINT AS VARCHAR) AS ub,
           CAST('99999999999999999999999999999999999999'::HUGEINT AS VARCHAR) AS hg""")
  }

  // ENUM types + utility statements (round 18): CREATE TYPE ... AS
  // ENUM registers a session enum (sql/EnumTypes) modeled as VARCHAR
  // with plan-time-inlined membership validation — casts raise DuckDB's
  // conversion error out of range, TRY_CAST yields NULL, enum_range
  // folds to the value list. The same script exercises the SET k TO v
  // spelling (rewritten to Spark's SET k = v) — both engines accept it.
  declare("q162_enum_types",
    """CREATE TYPE graft_mood AS ENUM ('sad', 'ok', 'happy');
       SELECT
         'happy'::graft_mood::VARCHAR AS m,
         CAST('ok' AS graft_mood)::VARCHAR AS c,
         TRY_CAST('nope' AS graft_mood) IS NULL AS t,
         array_to_string(enum_range(NULL::graft_mood), ',') AS r""") {
    (spark, sfDir) =>
    spark.sql("CREATE TYPE graft_mood AS ENUM ('sad', 'ok', 'happy')").collect()
    spark.sql(
      """SELECT
           'happy'::graft_mood::VARCHAR AS m,
           CAST('ok' AS graft_mood)::VARCHAR AS c,
           TRY_CAST('nope' AS graft_mood) IS NULL AS t,
           array_to_string(enum_range(NULL::graft_mood), ',') AS r""")
  }

  // Collations + TIMESTAMPTZ (round 18): DuckDB's NOCASE / NOACCENT /
  // NOCASE.NOACCENT collation names map textually onto Spark's
  // UTF8_LCASE / UNICODE_AI / UNICODE_CI_AI (the DuckDB names are
  // NEVER valid Spark collations, so the pre-delegation map cannot
  // shadow native usage) — equality, ordering, and the ß≠ss edge all
  // verified value-identical. TIMESTAMPTZ lands on Spark's TIMESTAMP
  // (LTZ) under the UTC session pin: the cast spelling, the `::` form,
  // and the typed literal (compared via epoch_us — the VARCHAR prints
  // differ by DuckDB's '+00' suffix, documented).
  declare("q163_collate_tz",
    """SELECT
         'ABC' COLLATE NOCASE = 'abc' AS nc,
         'Straße' COLLATE NOACCENT = 'Strasse' AS na0,
         'café' COLLATE NOACCENT = 'cafe' AS na,
         'CAFÉ' COLLATE NOCASE.NOACCENT = 'cafe' AS nca,
         (SELECT string_agg(name, ',' ORDER BY name COLLATE NOCASE)
          FROM (VALUES ('b'),('A'),('c')) t(name)) AS ord,
         epoch_us(CAST('2024-01-01 10:00:00+02' AS TIMESTAMPTZ)) AS tz,
         epoch_us(TIMESTAMPTZ '2024-06-01 00:30:00+02') AS tz2""") {
    (spark, sfDir) =>
    spark.sql(
      """SELECT
           'ABC' COLLATE NOCASE = 'abc' AS nc,
           'Straße' COLLATE NOACCENT = 'Strasse' AS na0,
           'café' COLLATE NOACCENT = 'cafe' AS na,
           'CAFÉ' COLLATE NOCASE.NOACCENT = 'cafe' AS nca,
           (SELECT string_agg(name, ',' ORDER BY name COLLATE NOCASE)
            FROM (VALUES ('b'),('A'),('c')) t(name)) AS ord,
           epoch_us(CAST('2024-01-01 10:00:00+02' AS TIMESTAMPTZ)) AS tz,
           epoch_us(TIMESTAMPTZ '2024-06-01 00:30:00+02') AS tz2""")
  }

  // Sweep-8 closing pack (round 18): `::JSON` casts (string operands
  // VALIDATE and pass through unchanged — the host preserves the
  // original text, spaces included; struct/list operands convert to
  // their JSON text; TRY_CAST nulls malformed input), DuckDB's row()
  // unnamed-struct constructor, and the MAP {'k': v} literal with
  // bracket indexing (LIST result).
  declare("q164_sweep8_final",
    """SELECT
         ' { "a" : 1 } '::JSON AS keep,
         ({'x': 1}::JSON)::VARCHAR AS conv,
         ([1,2]::JSON)::VARCHAR AS lconv,
         TRY_CAST('bad' AS JSON) IS NULL AS bad,
         row(1, 'x') = row(1, 'x') AS req,
         (MAP {'a': 1, 'b': 2})['b'][1] AS mlit""") { (spark, sfDir) =>
    spark.sql(
      """SELECT
           ' { "a" : 1 } '::JSON AS keep,
           ({'x': 1}::JSON)::VARCHAR AS conv,
           ([1,2]::JSON)::VARCHAR AS lconv,
           TRY_CAST('bad' AS JSON) IS NULL AS bad,
           row(1, 'x') = row(1, 'x') AS req,
           (MAP {'a': 1, 'b': 2})['b'][1] AS mlit""")
  }

  // Raw-backslash literals + the regexp options family (round 19,
  // verdict-18 #1): the statement below runs as IDENTICAL TEXT on both
  // engines — '\d'/'\s'/'\w' classes reach the regex engine with their
  // backslashes (sql/DuckLiterals doubles them at parser entry; Spark's
  // one unescape restores DuckDB's no-escape literal semantics), and
  // regexp_replace carries DuckDB's contract: FIRST match only without
  // options, 'g' for global, 'i' case-fold, RE2 \N replacement backrefs
  // ($N is literal text). functions/ScalarCompat.duckRegexpReplace.
  declare("q165_raw_backslash",
    """SELECT doc_id,
         regexp_matches(text, '\d+') AS has_num,
         regexp_replace(text, '\s+', '_') AS first_ws,
         regexp_replace(text, '\s+', '_', 'g') AS all_ws,
         regexp_replace(text, '(\w+) (\w+)', '\2 \1') AS swapped,
         regexp_replace(text, '[AEIOU]', '#', 'gi') AS vowels,
         regexp_extract(text, '\w+', 0) AS first_word,
         CAST(length('\') AS INT) AS bs1, CAST(length('\\') AS INT) AS bs2
       FROM documents WHERE doc_id <= 200 ORDER BY doc_id""") {
    (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
           regexp_matches(text, '\d+') AS has_num,
           regexp_replace(text, '\s+', '_') AS first_ws,
           regexp_replace(text, '\s+', '_', 'g') AS all_ws,
           regexp_replace(text, '(\w+) (\w+)', '\2 \1') AS swapped,
           regexp_replace(text, '[AEIOU]', '#', 'gi') AS vowels,
           regexp_extract(text, '\w+', 0) AS first_word,
           CAST(length('\') AS INT) AS bs1, CAST(length('\\') AS INT) AS bs2
         FROM documents WHERE doc_id <= 200 ORDER BY doc_id""")
  }

  // Enum definition order (round 19, verdict-18 #5): ORDER BY on an
  // enum cast and enum-vs-enum comparisons honor declaration order
  // (sql/EnumTypes.ordRewrite → graft_enum_ord index CASE); enum vs
  // bare VARCHAR stays lexicographic like the host (probed). Identical
  // statement text on both engines.
  declare("q166_enum_order",
    """CREATE TYPE graft_sev AS ENUM ('low', 'mid', 'high');
       SELECT string_agg(x, ',' ORDER BY x::graft_sev) AS ord,
         max('low'::graft_sev < 'mid'::graft_sev) AS lt,
         max('high'::graft_sev <= 'mid'::graft_sev) AS le,
         max('mid'::graft_sev > 'low') AS vs_varchar
       FROM (VALUES ('high'),('low'),('mid')) t(x)""") { (spark, sfDir) =>
    spark.sql("DROP TYPE IF EXISTS graft_sev")
    spark.sql("CREATE TYPE graft_sev AS ENUM ('low', 'mid', 'high')")
    spark.sql(
      """SELECT string_agg(x, ',' ORDER BY x::graft_sev) AS ord,
           max('low'::graft_sev < 'mid'::graft_sev) AS lt,
           max('high'::graft_sev <= 'mid'::graft_sev) AS le,
           max('mid'::graft_sev > 'low') AS vs_varchar
         FROM (VALUES ('high'),('low'),('mid')) t(x)""")
  }

  // ATTACH/DETACH (round 19, verdict-18 #4): a parquet DIRECTORY
  // attaches as a database of external tables addressed name.<table>.
  // The Spark side runs the real ATTACH statements; the oracle computes
  // the same result over its plain views (DuckDB's own ATTACH wants a
  // .duckdb file — the directory form is this engine's mapping of the
  // construct, so the RESULT is what's cross-checked).
  declare("q167_attach_db",
    """SELECT r.r_name, count(*) AS n_nations
       FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name ORDER BY r.r_name""") { (spark, sfDir) =>
    spark.sql("DETACH IF EXISTS graft_ext")
    spark.sql(s"ATTACH '$sfDir' AS graft_ext (READ_ONLY)")
    // Materialize to scratch BEFORE DETACH drops the tables — a cache()
    // would leak a session cache entry past the lane (tripping the
    // no-cache-leak invariant other specs assert).
    val (out, _) = graft.operators.Scratch.materialize(spark.sql(
      """SELECT r.r_name, count(*) AS n_nations
         FROM graft_ext.nation n
         JOIN graft_ext.region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name ORDER BY r.r_name"""), "attach_lane")
    spark.sql("DETACH graft_ext")
    out.orderBy("r_name")
  }

  // json_transform[_strict] (round 19, verdict-18 #6): the JSON
  // structure argument translates to a Spark schema (type-spelling
  // map) and lands on from_json. Identical text on both engines; the
  // per-row arm reshapes json built FROM the documents table.
  declare("q168_json_transform",
    """SELECT doc_id,
         (json_transform(json_object('len', length(text), 'head',
            substr(text, 1, 8)), '{"len": "BIGINT", "head": "VARCHAR"}')).len
           AS jlen,
         (json_transform('{"a": 1, "b": "x"}',
            '{"a": "INTEGER", "b": "VARCHAR", "c": "DOUBLE"}')).b AS jb,
         (json_transform('{"a": 1}', '{"a": "INTEGER", "c": "DOUBLE"}')).c
           IS NULL AS jmiss,
         array_to_string(json_transform('[1.5, 2.5]', '["DOUBLE"]'), ',')
           AS jlist,
         (json_transform('{"n": {"x": 7}}', '{"n": {"x": "BIGINT"}}')).n.x
           AS jnest,
         (json_transform('{"d": "2024-01-02"}', '{"d": "DATE"}')).d AS jdate
       FROM documents WHERE doc_id < 50 ORDER BY doc_id""") {
    (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
           (json_transform(json_object('len', length(text), 'head',
              substr(text, 1, 8)), '{"len": "BIGINT", "head": "VARCHAR"}')).len
             AS jlen,
           (json_transform('{"a": 1, "b": "x"}',
              '{"a": "INTEGER", "b": "VARCHAR", "c": "DOUBLE"}')).b AS jb,
           (json_transform('{"a": 1}', '{"a": "INTEGER", "c": "DOUBLE"}')).c
             IS NULL AS jmiss,
           array_to_string(json_transform('[1.5, 2.5]', '["DOUBLE"]'), ',')
             AS jlist,
           (json_transform('{"n": {"x": 7}}', '{"n": {"x": "BIGINT"}}')).n.x
             AS jnest,
           (json_transform('{"d": "2024-01-02"}', '{"d": "DATE"}')).d AS jdate
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""")
  }

  // Ninth-sweep scalar pack (round 19): descending list sort, grapheme
  // left/right, RE2 QuoteMeta, LIKE-with-escape function spellings, the
  // md5-as-integer family (md5_number's UHUGEINT modeled as its exact
  // decimal digits — both sides cast to VARCHAR). Identical text on
  // both engines; the per-row arm runs over documents.
  declare("q169_sweep9_scalars",
    """SELECT doc_id,
         array_to_string(array_reverse_sort(string_split(substr(text, 1, 40), ' ')), '|') AS rsort,
         left_grapheme(text, 12) AS lg,
         right_grapheme(text, 7) AS rg,
         regexp_escape(substr(text, 1, 20)) AS resc,
         like_escape(text, '%key%order%', '\') AS lk,
         CAST(md5_number_lower(text) AS VARCHAR) AS mlo,
         CAST(md5_number_upper(text) AS VARCHAR) AS mhi,
         CAST(md5_number(text) AS VARCHAR) AS mfull
       FROM documents WHERE doc_id < 100 ORDER BY doc_id""") {
    (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id,
           array_to_string(array_reverse_sort(string_split(substr(text, 1, 40), ' ')), '|') AS rsort,
           left_grapheme(text, 12) AS lg,
           right_grapheme(text, 7) AS rg,
           regexp_escape(substr(text, 1, 20)) AS resc,
           like_escape(text, '%key%order%', '\') AS lk,
           CAST(md5_number_lower(text) AS VARCHAR) AS mlo,
           CAST(md5_number_upper(text) AS VARCHAR) AS mhi,
           CAST(md5_number(text) AS VARCHAR) AS mfull
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""")
  }

  // Tenth-batch closures (round 19): divide() NULL-on-zero, typeof in
  // the host vocabulary, date_add with an INTERVAL argument, and
  // DISTINCT ordered aggregates (array_agg DISTINCT + ORDER BY via the
  // distinct sort-struct lowering; string_agg DISTINCT via WITHIN
  // GROUP). Identical text on both engines.
  declare("q170_sweep10",
    """SELECT doc_id % 5 AS g,
         array_to_string(array_agg(DISTINCT doc_id % 3 ORDER BY doc_id % 3), ',') AS dlist,
         array_to_string(array_agg(DISTINCT doc_id % 3 ORDER BY doc_id % 3 DESC), ',') AS dlist_d,
         string_agg(DISTINCT CAST(doc_id % 3 AS VARCHAR), '|' ORDER BY CAST(doc_id % 3 AS VARCHAR)) AS slist,
         CAST(divide(max(doc_id), 3) AS BIGINT) AS dv,
         CAST(divide(max(doc_id), 0) AS BIGINT) AS dz,
         CAST(divide(max(doc_id) * 1.0, 4) AS DOUBLE) AS dvf,
         max(typeof(1.5)) AS ty,
         CAST(max(date_add(DATE '2024-01-01', INTERVAL 3 DAY)) AS VARCHAR) AS da
       FROM documents WHERE doc_id < 50 GROUP BY 1 ORDER BY 1""") {
    (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """SELECT doc_id % 5 AS g,
           array_to_string(array_agg(DISTINCT doc_id % 3 ORDER BY doc_id % 3), ',') AS dlist,
           array_to_string(array_agg(DISTINCT doc_id % 3 ORDER BY doc_id % 3 DESC), ',') AS dlist_d,
           string_agg(DISTINCT CAST(doc_id % 3 AS VARCHAR), '|' ORDER BY CAST(doc_id % 3 AS VARCHAR)) AS slist,
           CAST(divide(max(doc_id), 3) AS BIGINT) AS dv,
           CAST(divide(max(doc_id), 0) AS BIGINT) AS dz,
           CAST(divide(max(doc_id) * 1.0, 4) AS DOUBLE) AS dvf,
           max(typeof(1.5)) AS ty,
           CAST(max(date_add(DATE '2024-01-01', INTERVAL 3 DAY)) AS VARCHAR) AS da
         FROM documents WHERE doc_id < 50 GROUP BY 1 ORDER BY 1""")
  }

  // ------------------------------------------------------------------
  // Eleventh sweep (round 20, verdict-19 #6): multi-statement DuckDB
  // WORKFLOWS — whole pasted scripts where the rewrite chains INTERACT
  // (a prepared statement inserting through a sequence inside a
  // transaction, a macro over the result; COPY TO feeding read_parquet
  // back into temp-table DML; ATTACH feeding a CTAS that must SNAPSHOT
  // before DETACH drops the source). q93/q99 convention: both engines
  // execute the IDENTICAL statement script.
  // ------------------------------------------------------------------

  declare("q171_script_ingest",
    """CREATE OR REPLACE SEQUENCE graft_q171_seq START 100;
       CREATE OR REPLACE TEMP TABLE graft_q171 (id BIGINT, seg VARCHAR, total DOUBLE);
       CREATE OR REPLACE MACRO graft_q171_cents(x) AS CAST(round(x * 100, 0) AS BIGINT);
       PREPARE graft_q171_ins AS INSERT INTO graft_q171
         SELECT nextval('graft_q171_seq'), $1, CAST(round(sum(c_acctbal), 2) AS DOUBLE)
         FROM customer WHERE c_mktsegment = $1;
       BEGIN TRANSACTION;
       EXECUTE graft_q171_ins('BUILDING');
       EXECUTE graft_q171_ins('MACHINERY');
       COMMIT;
       EXECUTE graft_q171_ins('AUTOMOBILE');
       SELECT id, seg, graft_q171_cents(total) AS cents FROM graft_q171 ORDER BY id""") {
    (spark, sfDir) =>
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    Seq(
      "CREATE OR REPLACE SEQUENCE graft_q171_seq START 100",
      "CREATE OR REPLACE TEMP TABLE graft_q171 (id BIGINT, seg VARCHAR, total DOUBLE)",
      "CREATE OR REPLACE MACRO graft_q171_cents(x) AS CAST(round(x * 100, 0) AS BIGINT)",
      """PREPARE graft_q171_ins AS INSERT INTO graft_q171
         SELECT nextval('graft_q171_seq'), $1, CAST(round(sum(c_acctbal), 2) AS DOUBLE)
         FROM customer WHERE c_mktsegment = $1""",
      "BEGIN TRANSACTION",
      "EXECUTE graft_q171_ins('BUILDING')",
      "EXECUTE graft_q171_ins('MACHINERY')",
      "COMMIT",
      "EXECUTE graft_q171_ins('AUTOMOBILE')"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      "SELECT id, seg, graft_q171_cents(total) AS cents FROM graft_q171 ORDER BY id")
  }

  declare("q172_script_copy_roundtrip",
    """CREATE OR REPLACE TEMP TABLE graft_q172 AS
         SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_totalprice > 200000;
       UPDATE graft_q172 SET o_orderpriority = 'TOP' WHERE o_totalprice > 400000;
       COPY graft_q172 TO '/tmp/graft_q172.parquet' (FORMAT PARQUET);
       CREATE OR REPLACE TEMP TABLE graft_q172_back AS SELECT * FROM read_parquet('/tmp/graft_q172.parquet');
       DELETE FROM graft_q172_back WHERE o_orderpriority <> 'TOP';
       SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS cents
       FROM graft_q172_back GROUP BY 1 ORDER BY 1""") { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    Seq(
      """CREATE OR REPLACE TEMP TABLE graft_q172 AS
         SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_totalprice > 200000""",
      "UPDATE graft_q172 SET o_orderpriority = 'TOP' WHERE o_totalprice > 400000",
      "COPY graft_q172 TO '/tmp/graft_q172.parquet' (FORMAT PARQUET)",
      "CREATE OR REPLACE TEMP TABLE graft_q172_back AS SELECT * FROM read_parquet('/tmp/graft_q172.parquet')",
      "DELETE FROM graft_q172_back WHERE o_orderpriority <> 'TOP'"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS cents
         FROM graft_q172_back GROUP BY 1 ORDER BY 1""")
  }

  // ATTACH feeding a CTAS that must SNAPSHOT before DETACH drops the
  // source tables (q167 oracle convention: DuckDB's own ATTACH wants a
  // .duckdb file, so the oracle computes the same result over its plain
  // views — the RESULT is what's cross-checked; the Spark side runs the
  // real script).
  declare("q173_script_attach_etl",
    """SELECT r_name, CAST(count(*) AS BIGINT) AS n
       FROM (SELECT n.n_name, r.r_name
             FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey)
       GROUP BY r_name ORDER BY r_name""") { (spark, sfDir) =>
    Seq(
      "DETACH IF EXISTS graft_q173_db",
      s"ATTACH '$sfDir' AS graft_q173_db (READ_ONLY)",
      """CREATE OR REPLACE TEMP TABLE graft_q173 AS
         SELECT n.n_name, r.r_name
         FROM graft_q173_db.nation n
         JOIN graft_q173_db.region r ON n.n_regionkey = r.r_regionkey""",
      "DETACH graft_q173_db"
    ).foreach(s => spark.sql(s).collect())
    spark.sql(
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n
         FROM graft_q173 GROUP BY r_name ORDER BY r_name""")
  }

  // Round-20 closures gate lane: window FILTER (CASE rewrite), min/max
  // under EXCLUDE GROUP/TIES (order algebra + distinct-key helpers),
  // and `//` with a zero divisor (host NULL) — identical text.
  private val q174Sql =
    """SELECT o_orderkey AS k,
         CAST(count(*) FILTER (WHERE o_totalprice > 250000) OVER (ORDER BY o_orderkey) AS BIGINT) AS wf,
         CAST(sum(o_orderkey % 100) FILTER (WHERE o_orderkey % 2 = 0) OVER (ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS wfs,
         CAST(min(o_orderkey) OVER (ORDER BY o_orderkey RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING EXCLUDE GROUP) AS BIGINT) AS xg,
         CAST(max(o_orderkey) OVER (ORDER BY o_orderkey RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING EXCLUDE TIES) AS BIGINT) AS xt,
         CAST(o_orderkey // 7 AS BIGINT) AS dv,
         CAST(o_orderkey // (o_orderkey % 3) AS BIGINT) AS dz
       FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""
  declare("q174_sweep11", q174Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q174Sql)
  }

  // Twelfth sweep (round 20): three closures from the round's
  // differential probe. Parallel unnest() lockstep (the host zips,
  // padding shorter lists NULL — Spark's multi-generator chain was a
  // silent CROSS product, fixed by ParallelUnnestZip), any_value with
  // an honored in-argument ORDER BY (first NON-NULL under the order —
  // was silently stripped as order-insensitive), and the PIVOT/UNPIVOT
  // statement forms over SUBQUERY sources.
  private val q175Sql =
    """SELECT g,
         CAST(any_value(doc_id ORDER BY length(text) * 1000 + doc_id DESC) AS BIGINT) AS longest_doc,
         CAST(any_value(doc_id ORDER BY length(text) * 1000 + doc_id) AS BIGINT) AS shortest_doc
       FROM (SELECT doc_id % 7 AS g, doc_id, text FROM documents WHERE doc_id < 200) t
       GROUP BY g ORDER BY g"""
  declare("q175_any_value_ordered", q175Sql) { (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(q175Sql)
  }

  private val q176Sql =
    """SELECT u, v, w FROM (
         SELECT unnest([d1, d2, d3]) AS u, unnest(['a','b']) AS v, unnest([d1 + 10]) AS w
         FROM (SELECT doc_id AS d1, doc_id * 2 AS d2, doc_id * 3 AS d3
               FROM documents WHERE doc_id < 40) s
       ) ORDER BY u NULLS FIRST, v NULLS FIRST, w NULLS FIRST"""
  declare("q176_unnest_zip", q176Sql) { (spark, sfDir) =>
    t(spark, sfDir, "documents").createOrReplaceTempView("documents")
    spark.sql(q176Sql)
  }

  private val q177Sql =
    """PIVOT (SELECT o_orderstatus s, o_orderpriority p, o_totalprice
             FROM orders WHERE o_orderkey < 800)
       ON p USING count(*) AS n, max(o_totalprice) AS mx
       GROUP BY s ORDER BY s"""
  declare("q177_pivot_subquery", q177Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q177Sql)
  }

  // Thirteenth sweep (round 20): silent-wrong-value overrides — host
  // any_value/concat skip NULLs, two-arg ltrim/rtrim/trim take
  // (string, chars) where Spark's order is REVERSED, left/right accept
  // negative counts, chr is a code point, dayofweek/weekday/dow are
  // 0-based-Sunday, DATE - DATE is BIGINT days — plus the missing-name
  // pack (strlen, xor, geomean, group_concat, length-of-list,
  // printf/format specs, GLOB, bar byte-padding, clock intervals,
  // INT[n] casts, datepart struct lists, quantile_disc input typing,
  // LIMIT n%). IDENTICAL statement text on both engines; every value
  // deterministic (per-group constants for any_value/group_concat,
  // pre-rounded doubles under {:.2f}).
  private val q178Sql =
    """SELECT CAST(o_orderkey AS BIGINT) AS k,
       concat(o_orderstatus, NULL, o_orderpriority, '-', o_orderkey) AS cc,
       ltrim(o_orderpriority, '12345') AS lt,
       rtrim(o_orderpriority, 'TNEGRU') AS rt,
       trim(o_orderstatus, 'OF') AS tr,
       left(o_orderpriority, -3) AS lf,
       right(o_orderpriority, -3) AS rg,
       chr(65 + CAST(o_orderkey % 26 AS INT)) AS ch,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dw,
       CAST(weekday(CAST(o_orderdate AS DATE)) AS BIGINT) AS wd,
       CAST(date_part('dow', CAST(o_orderdate AS DATE)) AS BIGINT) AS dp_dow,
       CAST(date_part('isodow', CAST(o_orderdate AS DATE)) AS BIGINT) AS dp_iso,
       CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS dd,
       CAST(strlen(o_orderpriority) AS BIGINT) AS sl,
       CAST(length([o_orderkey, o_orderkey]) AS BIGINT) AS ll,
       printf('%d|%s', o_orderkey, o_orderstatus) AS pf,
       format('{:.2f}|{:>6}', round(o_totalprice, 1), o_orderstatus) AS fm,
       o_orderpriority GLOB '*URGENT' AS gl,
       bar(CAST(o_orderkey % 10 AS DOUBLE), 0, 10, 10) AS br
       FROM orders WHERE o_orderkey < 300 ORDER BY k"""
  declare("q178_sweep13_scalars", q178Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q178Sql)
  }

  private val q179Sql =
    """SELECT g,
       CAST(any_value(v) AS BIGINT) AS av,
       round(geomean(p), 6) AS gm,
       group_concat(s) AS gc,
       quantile_disc(CAST(o % 100 AS INT), 0.5) AS qd,
       CAST(xor(bit_or(o), bit_and(o)) AS BIGINT) AS xr
       FROM (SELECT o_orderkey % 5 AS g,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE (o_orderkey % 5) * 10 END AS v,
             o_totalprice AS p,
             'st' || CAST(o_orderkey % 5 AS VARCHAR) AS s,
             o_orderkey AS o
             FROM orders WHERE o_orderkey < 500) t
       GROUP BY g ORDER BY g"""
  declare("q179_sweep13_aggs", q179Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q179Sql)
  }

  private val q180Sql =
    """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders WHERE o_orderkey < 400)
       SELECT k,
       CAST(epoch_us(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '25:01:02') AS BIGINT) AS iv,
       CAST(struct_extract(datepart(['year','month','day'], DATE '2024-03-05'), 'month') AS BIGINT) AS dpm,
       CAST(CAST([1,2,3] AS INT[3]) AS VARCHAR) AS arrstr,
       CAST(array_pop_back([k, k+1, k+2])[2] AS BIGINT) AS pb
       FROM src ORDER BY k LIMIT 25%"""
  declare("q180_sweep13_misc", q180Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q180Sql)
  }

  // Fourteenth probe (round-20 close): ANSI fetch syntax, the
  // TABLESAMPLE method form, FROM-first inside subqueries, and
  // UPDATE/DELETE/INSERT ... RETURNING. q181 gates the query-side
  // constructs (bernoulli(100%) keeps every row, so the sample is
  // deterministic); q182 is a script lane whose RETURNING statements
  // run mid-script (their row sets hand-verified identical to the
  // host) and whose gated SELECT proves the mutations left the same
  // table state on both engines.
  private val q181Sql =
    """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS s
                    FROM orders TABLESAMPLE bernoulli(100%) WHERE o_orderkey < 200)
       SELECT k, s FROM src
       WHERE EXISTS (FROM src s2 WHERE s2.k = src.k AND s2.s = src.s)
       ORDER BY k OFFSET 5 ROWS FETCH NEXT 20 ROWS ONLY"""
  declare("q181_sweep14_fetch", q181Sql) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q181Sql)
  }

  private val q182Stmts = Seq(
    """CREATE OR REPLACE TEMP TABLE graft_q182 AS
       SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS s,
              CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
       FROM orders WHERE o_orderkey < 600""",
    "UPDATE graft_q182 SET s = s || '+' , cents = cents + 1 WHERE k % 7 = 0 RETURNING k, s, cents",
    "DELETE FROM graft_q182 WHERE cents % 2 = 1 AND k % 7 = 0 RETURNING *",
    "INSERT INTO graft_q182 VALUES (9999, 'NEW', 1) RETURNING k, s")
  private val q182Final =
    """SELECT s, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(cents) AS BIGINT) AS total
       FROM graft_q182 GROUP BY s ORDER BY s"""
  declare("q182_sweep14_returning",
    q182Stmts.mkString(";\n") + ";\n" + q182Final) { (spark, sfDir) =>
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    q182Stmts.foreach(s => spark.sql(s).collect())
    spark.sql(q182Final)
  }

  val declared: Seq[Declared] = all.result()

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.fn).toMap

  val oracles: Map[String, String] =
    declared.flatMap(d => d.oracle.map(o => d.name -> o.replaceAll("\\s+", " ").trim)).toMap
}
