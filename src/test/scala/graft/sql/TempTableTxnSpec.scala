package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** BEGIN/COMMIT/ROLLBACK over the temp-table layer: rollback of
  * UPDATE/DELETE/INSERT, rollback of CREATE (table vanishes) and DROP
  * (table restored, content and PK intact), commit permanence, and the
  * DuckDB-pinned TransactionContext error texts (nested BEGIN, bare
  * COMMIT/ROLLBACK — pinned on 1.0). The gate entry q121_transaction
  * runs the cross-engine script; this spec covers the shapes one
  * last-statement-wins oracle can't.
  */
class TempTableTxnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def sql(s: String) = spark.sql(s).collect()

  private def rows(t: String): Seq[(Int, String)] =
    spark.sql(s"SELECT k, v FROM $t ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

  test("rollback restores mutated content; commit keeps it") {
    sql("DROP TABLE IF EXISTS txn_a")
    sql("CREATE OR REPLACE TEMP TABLE txn_a (k INTEGER, v VARCHAR)")
    sql("INSERT INTO txn_a VALUES (1, 'one'), (2, 'two')")
    sql("BEGIN")
    sql("UPDATE txn_a SET v = 'dirty' WHERE k = 1")
    sql("DELETE FROM txn_a WHERE k = 2")
    assert(rows("txn_a") == Seq(1 -> "dirty"), "txn sees its own writes")
    sql("ROLLBACK")
    assert(rows("txn_a") == Seq(1 -> "one", 2 -> "two"))
    sql("BEGIN TRANSACTION")
    sql("UPDATE txn_a SET v = 'kept' WHERE k = 2")
    sql("COMMIT")
    assert(rows("txn_a") == Seq(1 -> "one", 2 -> "kept"))
    sql("DROP TABLE txn_a")
  }

  test("rollback drops tables created inside the transaction") {
    sql("BEGIN")
    sql("CREATE TEMP TABLE txn_b (k INTEGER, v VARCHAR)")
    sql("INSERT INTO txn_b VALUES (1, 'x')")
    sql("ROLLBACK")
    assert(!TempTables.exists(spark, "txn_b"))
    assert(!spark.catalog.tableExists("txn_b"))
  }

  test("rollback restores tables dropped inside the transaction, PK included") {
    sql("DROP TABLE IF EXISTS txn_c")
    sql("CREATE OR REPLACE TEMP TABLE txn_c (k INTEGER PRIMARY KEY, v VARCHAR)")
    sql("INSERT INTO txn_c VALUES (1, 'survives')")
    sql("BEGIN")
    sql("DROP TABLE txn_c")
    assert(!TempTables.exists(spark, "txn_c"))
    sql("ROLLBACK")
    assert(rows("txn_c") == Seq(1 -> "survives"))
    assert(TempTables.facts(spark, "txn_c").keys.contains(Seq("k")))
    sql("DROP TABLE txn_c")
  }

  test("ABORT is a ROLLBACK synonym") {
    sql("DROP TABLE IF EXISTS txn_d")
    sql("CREATE OR REPLACE TEMP TABLE txn_d (k INTEGER, v VARCHAR)")
    sql("INSERT INTO txn_d VALUES (1, 'a')")
    sql("BEGIN")
    sql("DELETE FROM txn_d WHERE k = 1")
    sql("ABORT")
    assert(rows("txn_d") == Seq(1 -> "a"))
    sql("DROP TABLE txn_d")
  }

  test("TransactionContext errors match DuckDB's") {
    val nested = intercept[Exception] { sql("BEGIN"); sql("BEGIN") }
    assert(nested.getMessage.contains(
      "cannot start a transaction within a transaction"), nested.getMessage)
    sql("ROLLBACK")
    val commit = intercept[Exception](sql("COMMIT"))
    assert(commit.getMessage.contains("cannot commit - no transaction is active"),
      commit.getMessage)
    val rollback = intercept[Exception](sql("ROLLBACK"))
    assert(rollback.getMessage.contains("cannot rollback - no transaction is active"),
      rollback.getMessage)
  }
}
