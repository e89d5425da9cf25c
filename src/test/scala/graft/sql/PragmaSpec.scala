package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** PRAGMA statements and CHECKPOINT: table_info's DuckDB-shaped output
  * (gate entry q122_pragma runs the cross-engine compare; this pins the
  * pieces a single script can't), show_tables listing, and the no-op
  * lanes for tuning pragmas and CHECKPOINT.
  */
class PragmaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("PRAGMA table_info marks PK columns NOT NULL and pk=true") {
    spark.sql("DROP TABLE IF EXISTS pragma_a")
    spark.sql("CREATE OR REPLACE TEMP TABLE pragma_a (k INTEGER PRIMARY KEY, v VARCHAR)")
    val out = spark.sql("PRAGMA table_info('pragma_a')")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (0, "k", "INTEGER", true, true),
      (1, "v", "VARCHAR", false, false)))
    spark.sql("DROP TABLE pragma_a")
  }

  test("pragma_table_info is callable as a plain TVF on any relation") {
    spark.sql("DROP TABLE IF EXISTS pragma_b")
    spark.sql("CREATE OR REPLACE TEMP TABLE pragma_b (a BIGINT, b DOUBLE)")
    val types = spark.sql("SELECT type FROM pragma_table_info('pragma_b')")
      .collect().map(_.getString(0)).toSeq
    assert(types == Seq("BIGINT", "DOUBLE"))
    spark.sql("DROP TABLE pragma_b")
  }

  test("pragma_table_info(NULL) is an argument error, not a table named null") {
    spark.range(1).createOrReplaceTempView("null")
    val e = intercept[IllegalArgumentException](
      spark.sql("SELECT * FROM pragma_table_info(NULL)").collect())
    assert(e.getMessage.contains("pragma_table_info arguments must be non-NULL"), e.getMessage)
    spark.catalog.dropTempView("null")
  }

  test("PRAGMA show_tables lists the created table") {
    spark.sql("DROP TABLE IF EXISTS pragma_c")
    spark.sql("CREATE OR REPLACE TEMP TABLE pragma_c (x INTEGER)")
    val names = spark.sql("PRAGMA show_tables").collect().map(_.getString(0))
    assert(names.contains("pragma_c"))
    assert(names.sorted.toSeq == names.toSeq, "sorted like DuckDB's")
    spark.sql("DROP TABLE pragma_c")
  }

  test("COMMENT ON stores, clears with IS NULL, and errors on missing targets") {
    spark.sql("DROP TABLE IF EXISTS cmt_a")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmt_a (k INTEGER, v VARCHAR)")
    spark.sql("COMMENT ON TABLE cmt_a IS 'tbl note'").collect()
    spark.sql("COMMENT ON COLUMN cmt_a.v IS 'col note'").collect()
    def tblComment = spark.sql(
      "SELECT comment FROM duckdb_tables() WHERE table_name = 'cmt_a'")
      .head().getString(0)
    assert(tblComment == "tbl note")
    assert(spark.sql(
      "SELECT comment FROM duckdb_columns() WHERE table_name = 'cmt_a' AND column_name = 'v'")
      .head().getString(0) == "col note")
    spark.sql("COMMENT ON TABLE cmt_a IS NULL").collect()
    assert(spark.sql(
      "SELECT comment FROM duckdb_tables() WHERE table_name = 'cmt_a'")
      .head().isNullAt(0))
    val missingCol = intercept[Exception](
      spark.sql("COMMENT ON COLUMN cmt_a.nope IS 'x'").collect())
    assert(missingCol.getMessage.contains("does not exist"), missingCol.getMessage)
    // DROP TABLE clears the registry: a recreated table starts clean
    spark.sql("DROP TABLE cmt_a")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmt_a (k INTEGER, v VARCHAR)")
    assert(spark.sql(
      "SELECT comment FROM duckdb_columns() WHERE table_name = 'cmt_a' AND column_name = 'v'")
      .head().isNullAt(0), "comments must not survive DROP TABLE")
    spark.sql("DROP TABLE cmt_a")
  }

  test("duckdb_columns reports 1-based index and DuckDB type spellings") {
    spark.sql("DROP TABLE IF EXISTS cmt_b")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmt_b (a BIGINT, b DOUBLE, c VARCHAR)")
    val rows = spark.sql(
      """SELECT column_index, column_name, data_type FROM duckdb_columns()
         WHERE table_name = 'cmt_b' ORDER BY column_index""")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq((1, "a", "BIGINT"), (2, "b", "DOUBLE"), (3, "c", "VARCHAR")))
    assert(spark.sql(
      "SELECT temporary FROM duckdb_tables() WHERE table_name = 'cmt_b'")
      .head().getBoolean(0))
    spark.sql("DROP TABLE cmt_b")
  }

  test("tuning pragmas and CHECKPOINT are empty-result no-ops") {
    assert(spark.sql("PRAGMA threads=4").collect().isEmpty)
    assert(spark.sql("PRAGMA memory_limit='1GB'").collect().isEmpty)
    assert(spark.sql("CHECKPOINT").collect().isEmpty)
    assert(spark.sql("FORCE CHECKPOINT").collect().isEmpty)
    assert(spark.sql("PRAGMA database_size").collect().isEmpty)
  }
}
