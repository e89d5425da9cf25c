package graft.sql

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** DuckDB statements run as Spark commands ([[DuckCommands]]) and graft
  * table functions run when their statement executes ([[DriverRows]]):
  * EXPLAIN renders each command or node without running it (no Spark
  * job, no change to the tables or the session and model registries),
  * parsing alone mutates nothing, no statement is reachable as a table
  * function, and driver-side rows come back without a Spark job.
  */
class DuckCommandSpec extends AnyFunSuite {

  // parsePlan called directly (not through spark.sql) reads temp tables
  // and the catalog of SparkSession.active — pin it.
  private lazy val spark = {
    val s = SparkTestSession.spark
    SparkSession.setActiveSession(s)
    s
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)

  private def jobsDuring[T](body: => T): (T, Int) =
    SparkTestSession.jobsDuring(spark)(body)

  test("EXPLAIN renders the command without running it") {
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_t AS SELECT * FROM " +
      "(VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)) AS v(k, s, amount)")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_k (k INTEGER PRIMARY KEY, v DOUBLE)")
    spark.sql("INSERT INTO cmd_k VALUES (1, 1.0)")
    spark.sql("DROP TABLE IF EXISTS cmd_new")
    val out = java.nio.file.Files.createTempDirectory("cmd_copy")
      .resolve("out.parquet")
    val cases = Seq(
      "EXPLAIN UPDATE cmd_t SET amount = amount * 2 WHERE k = 2" -> "UpdateTableCommand",
      "EXPLAIN DELETE FROM cmd_t WHERE k = 3" -> "DeleteFromCommand",
      "EXPLAIN INSERT INTO cmd_t VALUES (4, 'd', 40.0)" -> "InsertIntoTempCommand",
      "EXPLAIN INSERT OR REPLACE INTO cmd_k VALUES (1, 5.0), (2, 6.0)" -> "UpsertCommand",
      "EXPLAIN CREATE TEMP TABLE cmd_new AS SELECT * FROM cmd_t" ->
        "CreateTempTableAsCommand",
      "EXPLAIN ALTER TABLE cmd_t ADD COLUMN extra INTEGER" -> "AlterTempTableCommand",
      "EXPLAIN EXTENDED DROP TABLE cmd_t" -> "DropTempTableCommand",
      s"EXPLAIN COPY cmd_t TO '$out'" -> "CopyToCommand",
      "EXPLAIN BEGIN" -> "TransactionCommand")
    val tBefore = rows("SELECT * FROM cmd_t ORDER BY k")
    val kBefore = rows("SELECT * FROM cmd_k ORDER BY k")
    val namesBefore = TempTables.names(spark)
    cases.foreach { case (stmt, command) =>
      val (text, jobs) = jobsDuring(
        spark.sql(stmt).collect().map(_.getString(0)).mkString("\n"))
      assert(text.contains("== Physical Plan ==") && text.contains(command),
        s"$stmt rendered:\n$text")
      assert(!text.contains("Error occurred"), s"$stmt rendered:\n$text")
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    assert(rows("SELECT * FROM cmd_t ORDER BY k") == tBefore)
    assert(rows("SELECT * FROM cmd_k ORDER BY k") == kBefore)
    assert(TempTables.names(spark) == namesBefore)
    assert(TempTables.facts(spark, "cmd_k").keys.contains(Seq("k")))
    assert(!TempTables.txnActive(DuckSession(spark)))
    assert(!java.nio.file.Files.exists(out))
    // The statements themselves still run, each once.
    assert(rows("UPDATE cmd_t SET amount = amount * 2 WHERE k = 2") == Seq(Seq(1L)))
    assert(rows("SELECT CAST(amount AS DOUBLE) FROM cmd_t WHERE k = 2") == Seq(Seq(40.0)))
    assert(rows("DELETE FROM cmd_t WHERE k = 3") == Seq(Seq(1L)))
    spark.sql("DROP TABLE cmd_t")
    spark.sql("DROP TABLE cmd_k")
  }

  test("EXPLAIN renders the RETURNING commands without running them") {
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_r AS SELECT * FROM " +
      "(VALUES (1, 10.0), (2, 20.0)) AS v(k, amount)")
    spark.sql("DROP TABLE IF EXISTS cmd_rc")
    spark.sql("CREATE TABLE cmd_rc USING parquet AS SELECT 1 AS k UNION ALL SELECT 2")
    def state = (rows("SELECT * FROM cmd_r ORDER BY k"),
      rows("SELECT k FROM cmd_rc ORDER BY k"), TempTables.names(spark))
    val before = state
    Seq(
      "EXPLAIN UPDATE cmd_r SET amount = 0 WHERE k = 1 RETURNING k" -> "UpdateReturningCommand",
      "EXPLAIN DELETE FROM cmd_r RETURNING *" -> "DeleteReturningCommand",
      "EXPLAIN INSERT INTO cmd_r VALUES (3, 30.0) RETURNING k" -> "InsertReturningCommand",
      "EXPLAIN UPDATE cmd_rc SET k = 0 RETURNING k" -> "UpdateReturningCommand",
      "EXPLAIN EXTENDED DELETE FROM cmd_rc RETURNING k" -> "DeleteReturningCommand",
      "EXPLAIN INSERT INTO cmd_rc VALUES (3) RETURNING k" -> "InsertReturningCommand"
    ).foreach { case (stmt, command) =>
      val (text, jobs) = jobsDuring(
        spark.sql(stmt).collect().map(_.getString(0)).mkString("\n"))
      assert(text.contains("== Physical Plan ==") && text.contains(command),
        s"$stmt rendered:\n$text")
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    assert(state == before)
    // The statements themselves still run once and return their rows.
    assert(rows("DELETE FROM cmd_r WHERE k = 2 RETURNING k") == Seq(Seq(2)))
    assert(rows("SELECT k FROM cmd_r") == Seq(Seq(1)))
    assert(rows("INSERT INTO cmd_rc VALUES (3) RETURNING k * 10 AS k10") == Seq(Seq(30)))
    assert(rows("SELECT k FROM cmd_rc ORDER BY k") == Seq(Seq(1), Seq(2), Seq(3)))
    spark.sql("DROP TABLE cmd_r")
    spark.sql("DROP TABLE cmd_rc")
  }

  /** Every model's variables, constraints and coefficients. */
  private def registryState =
    graft.highs.ModelRegistry.names.sorted.map { n =>
      val m = graft.highs.ModelRegistry.get(n).get
      (n, m.varNames.toList, m.conNames.toList, m.coeffs.toList)
    }

  test("EXPLAIN of the table functions runs nothing and changes no registry") {
    spark.sql("SELECT * FROM highs_create_variables('cmd_m', 'x', 0, 10, 1, 'continuous')")
    spark.sql("SELECT * FROM highs_create_constraints('cmd_m', 'c', 1, 5)")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_s AS SELECT 1 AS k, 'x' AS s")
    val before = registryState
    Seq(
      "EXPLAIN SELECT * FROM highs_create_variables('cmd_m', 'y', 0, 1, 1, 'continuous')" ->
        "TableFunctionCommand highs_create_variables",
      "EXPLAIN SELECT * FROM highs_create_variables('cmd_new', 'x', 0, 1, 1, 'integer')" ->
        "TableFunctionCommand highs_create_variables",
      "EXPLAIN SELECT * FROM highs_create_constraints('cmd_m', 'd', 0, 1)" ->
        "TableFunctionCommand highs_create_constraints",
      "EXPLAIN SELECT status FROM highs_set_coefficients('cmd_m', 'c', 'x', 2.0)" ->
        "TableFunctionCommand highs_set_coefficients",
      "EXPLAIN SELECT * FROM highs_solve('cmd_m')" -> "DriverRows highs_solve",
      "EXPLAIN SELECT * FROM summarize('cmd_s')" -> "DriverRows summarize",
      "EXPLAIN SUMMARIZE cmd_s" -> "DriverRows summarize",
      "EXPLAIN SELECT * FROM summarize('no_such_table')" -> "DriverRows summarize",
      "EXPLAIN SELECT * FROM duck_describe('cmd_s')" -> "DriverRows duck_describe",
      "EXPLAIN SELECT * FROM pragma_table_info('cmd_s')" -> "DriverRows pragma_table_info",
      "EXPLAIN SELECT * FROM duck_show_tables()" -> "DriverRows duck_show_tables",
      "EXPLAIN SELECT * FROM duckdb_tables()" -> "DriverRows duckdb_tables",
      "EXPLAIN SELECT * FROM duckdb_columns()" -> "DriverRows duckdb_columns",
      "EXPLAIN SELECT * FROM glob('/nonexistent/*.parquet')" -> "DriverRows glob"
    ).foreach { case (stmt, node) =>
      val (text, jobs) = jobsDuring(
        spark.sql(stmt).collect().map(_.getString(0)).mkString("\n"))
      assert(text.contains(node), s"$stmt rendered:\n$text")
      assert(!text.contains("Error occurred"), s"$stmt rendered:\n$text")
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    assert(registryState == before)
    // Issued for real, a writer runs once.
    spark.sql("SELECT * FROM highs_create_variables('cmd_m', 'y', 0, 1, 1, 'continuous')")
    assert(graft.highs.ModelRegistry.get("cmd_m").get.varNames.toList == List("x", "y"))
    graft.highs.ModelRegistry.remove("cmd_m")
    spark.sql("DROP TABLE cmd_s")
  }

  test("reading, projecting and filtering driver-side rows runs no Spark job") {
    spark.sql("SELECT * FROM highs_create_variables('cmd_q', 'x', 0, 4, -1, 'continuous')")
    spark.sql("SELECT * FROM highs_create_variables('cmd_q', 'y', 0, 3, -1, 'continuous')")
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_c AS SELECT 1 AS k, 'x' AS s")
    Seq(
      "SELECT * FROM highs_solve('cmd_q')" -> Seq(
        Seq("x", "x_0", 4.0, -1.0, "Optimal"), Seq("y", "y_1", 3.0, -1.0, "Optimal")),
      "SELECT variable_name, solution_value * 2 AS v2 FROM highs_solve('cmd_q')" ->
        Seq(Seq("x", 8.0), Seq("y", 6.0)),
      "SELECT solution_value FROM highs_solve('cmd_q') WHERE variable_name = 'y'" ->
        Seq(Seq(3.0)),
      "SELECT * FROM duckdb_columns() WHERE table_name = 'cmd_c'" -> Seq(
        Seq("temp", "main", "cmd_c", "k", 1, "INTEGER", null),
        Seq("temp", "main", "cmd_c", "s", 2, "VARCHAR", null)),
      "SELECT column_name, column_index + 1 FROM duckdb_columns() WHERE table_name = 'cmd_c'" ->
        Seq(Seq("k", 2), Seq("s", 3)),
      "SELECT column_name FROM duckdb_columns() WHERE table_name = 'cmd_c' AND column_index = 2" ->
        Seq(Seq("s"))
    ).foreach { case (stmt, expected) =>
      val (got, jobs) = jobsDuring(rows(stmt))
      assert(got == expected, stmt)
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    graft.highs.ModelRegistry.remove("cmd_q")
    spark.sql("DROP TABLE cmd_c")
  }

  test("EXPLAIN PREPARE and EXPLAIN DEALLOCATE change no prepared statement") {
    val (prep, prepJobs) = jobsDuring(
      spark.sql("EXPLAIN PREPARE cmd_p AS SELECT 41 + 1").collect().map(_.getString(0)).mkString("\n"))
    assert(prep.contains("PrepareCommand"), prep)
    assert(prepJobs == 0, s"EXPLAIN PREPARE ran $prepJobs Spark job(s)")
    assert(intercept[AnalysisException](spark.sql("EXECUTE cmd_p").collect())
      .getMessage.contains("does not exist"))
    assert(rows("PREPARE cmd_p AS SELECT 41 + 1") == Seq(Seq("cmd_p")))
    val (dealloc, deallocJobs) = jobsDuring(
      spark.sql("EXPLAIN DEALLOCATE cmd_p").collect().map(_.getString(0)).mkString("\n"))
    assert(dealloc.contains("DeallocateCommand"), dealloc)
    assert(deallocJobs == 0, s"EXPLAIN DEALLOCATE ran $deallocJobs Spark job(s)")
    assert(rows("EXECUTE cmd_p") == Seq(Seq(42)))
    assert(rows("DEALLOCATE PREPARE cmd_p") == Seq(Seq("cmd_p")))
    assert(intercept[AnalysisException](spark.sql("EXECUTE cmd_p").collect())
      .getMessage.contains("does not exist"))
  }

  test("EXPLAIN CREATE MACRO registers nothing; the statement then registers the macro") {
    val scalar = spark.sessionState.functionRegistry
    val table = spark.sessionState.tableFunctionRegistry
    def registries = (scalar.listFunction().toSet, table.listFunction().toSet)
    val before = registries
    val stmts = Seq(
      "CREATE MACRO cmd_mac(a, b := 1) AS a + b",
      "CREATE MACRO cmd_ovl(a) AS a * 10, (a, b) AS a * b",
      "CREATE MACRO cmd_tm(k) AS TABLE SELECT k AS v")
    stmts.foreach { stmt =>
      val (text, jobs) = jobsDuring(
        spark.sql(s"EXPLAIN $stmt").collect().map(_.getString(0)).mkString("\n"))
      assert(text.contains("CreateMacroCommand"), s"$stmt rendered:\n$text")
      assert(!text.contains("Error occurred"), s"$stmt rendered:\n$text")
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    assert(registries == before)
    assert(intercept[AnalysisException](spark.sql("SELECT cmd_mac(1)").collect())
      .getMessage.contains("cmd_mac"))
    // Issued for real, each registers once and answers its name.
    stmts.zip(Seq("cmd_mac", "cmd_ovl", "cmd_tm")).foreach { case (stmt, name) =>
      assert(rows(stmt) == Seq(Seq(name)))
    }
    assert(rows("SELECT cmd_mac(1), cmd_mac(1, b := 5), cmd_ovl(2), cmd_ovl(2, 3)") ==
      Seq(Seq(2, 6, 20, 6)))
    assert(rows("SELECT v FROM cmd_tm(7)") == Seq(Seq(7)))
    // A plain CREATE over an existing name fails when it runs.
    assert(intercept[AnalysisException](spark.sql("CREATE MACRO cmd_mac(a) AS a"))
      .getMessage.contains("already exists"))
    Seq("cmd_mac", "cmd_ovl").foreach(n => scalar.dropFunction(FunctionIdentifier(n)))
    table.dropFunction(FunctionIdentifier("cmd_tm"))
    assert(registries == before)
  }

  test("parsing a statement mutates nothing") {
    val parser = spark.sessionState.sqlParser
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_p AS SELECT 1 AS k, 'x' AS s")
    spark.sql("DROP TABLE IF EXISTS cmd_cat")
    spark.sql("CREATE TABLE cmd_cat USING parquet AS SELECT 7 AS x")
    assert(parser.parsePlan("DROP TABLE cmd_p").isInstanceOf[DropTempTableCommand])
    assert(parser.parsePlan("ALTER TABLE cmd_p RENAME COLUMN k TO k2")
      .isInstanceOf[AlterTempTableCommand])
    assert(parser.parsePlan("CREATE TYPE cmd_mood AS ENUM ('sad', 'ok')")
      .isInstanceOf[CreateEnumTypeCommand])
    assert(parser.parsePlan("CREATE OR REPLACE TABLE cmd_cat AS SELECT 8 AS x")
      .isInstanceOf[CreateOrReplaceTableCommand])
    assert(TempTables.exists(spark, "cmd_p"))
    assert(spark.table("cmd_p").columns.toSeq == Seq("k", "s"))
    assert(EnumTypes.get(spark, "cmd_mood").isEmpty)
    assert(rows("SELECT x FROM cmd_cat") == Seq(Seq(7)))
    spark.sql("DROP TABLE cmd_p")
    spark.sql("DROP TABLE cmd_cat")
  }

  test("a statement is not callable as a table function") {
    spark.sql("DROP TABLE IF EXISTS cmd_victim")
    spark.sql("CREATE TABLE cmd_victim USING parquet AS SELECT 1 AS x UNION ALL SELECT 2")
    Seq(
      "SELECT * FROM delete_from('cmd_victim', '')",
      "SELECT * FROM delete_returning('cmd_victim', '', 'x')",
      "SELECT * FROM update_returning('cmd_victim', 'x = 0', '', 'x')",
      "SELECT * FROM insert_returning('cmd_victim', 'VALUES (3)', '', 'x')"
    ).foreach { stmt =>
      val e = intercept[AnalysisException](spark.sql(stmt).collect())
      assert(e.getMessage.contains("UNRESOLVABLE_TABLE_VALUED_FUNCTION"), s"$stmt: ${e.getMessage}")
    }
    assert(rows("EXPLAIN EXTENDED SELECT * FROM delete_returning('cmd_victim', '', 'x')")
      .head.head.toString.contains("UNRESOLVABLE_TABLE_VALUED_FUNCTION"))
    assert(rows("SELECT x FROM cmd_victim ORDER BY x") == Seq(Seq(1), Seq(2)))
    spark.sql("DROP TABLE cmd_victim")
  }
}
