package graft.sql

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** DuckDB statements run as Spark commands ([[DuckCommands]]): EXPLAIN
  * renders each command without running it (no Spark job, no change to
  * the table or the session registries), parsing alone mutates nothing,
  * and no statement is reachable as a table function.
  */
class DuckCommandSpec extends AnyFunSuite {

  // TempTables/EnumTypes calls from the test thread resolve
  // SparkSession.active — pin it.
  private lazy val spark = {
    val s = SparkTestSession.spark
    SparkSession.setActiveSession(s)
    s
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)

  /** Spark jobs started while `body` runs. A marker job run afterwards
    * drains the listener bus: once the listener sees it, it has seen
    * every job `body` started.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

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
    val namesBefore = TempTables.names()
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
    assert(TempTables.names() == namesBefore)
    assert(TempTables.keysOf("cmd_k").contains(Seq("k")))
    assert(!TempTables.txnActive)
    assert(!java.nio.file.Files.exists(out))
    // The statements themselves still run, each once.
    assert(rows("UPDATE cmd_t SET amount = amount * 2 WHERE k = 2") == Seq(Seq(1L)))
    assert(rows("SELECT CAST(amount AS DOUBLE) FROM cmd_t WHERE k = 2") == Seq(Seq(40.0)))
    assert(rows("DELETE FROM cmd_t WHERE k = 3") == Seq(Seq(1L)))
    spark.sql("DROP TABLE cmd_t")
    spark.sql("DROP TABLE cmd_k")
  }

  test("EXPLAIN refuses the RETURNING forms without running them") {
    spark.sql("CREATE OR REPLACE TEMP TABLE cmd_r AS SELECT * FROM " +
      "(VALUES (1, 10.0), (2, 20.0)) AS v(k, amount)")
    spark.sql("DROP TABLE IF EXISTS cmd_rc")
    spark.sql("CREATE TABLE cmd_rc USING parquet AS SELECT 1 AS k UNION ALL SELECT 2")
    def state = (rows("SELECT * FROM cmd_r ORDER BY k"),
      rows("SELECT k FROM cmd_rc ORDER BY k"), TempTables.names())
    val before = state
    Seq(
      "EXPLAIN UPDATE cmd_r SET amount = 0 WHERE k = 1 RETURNING k",
      "EXPLAIN DELETE FROM cmd_r RETURNING *",
      "EXPLAIN INSERT INTO cmd_r VALUES (3, 30.0) RETURNING k",
      "EXPLAIN UPDATE cmd_rc SET k = 0 RETURNING k",
      "EXPLAIN DELETE FROM cmd_rc RETURNING k",
      "EXPLAIN INSERT INTO cmd_rc VALUES (3) RETURNING k",
      "EXPLAIN EXTENDED SELECT * FROM delete_returning('cmd_rc', '', 'k')"
    ).foreach { stmt =>
      val (e, jobs) = jobsDuring(intercept[AnalysisException](spark.sql(stmt)))
      assert(e.getMessage.contains("RETURNING is not supported"), s"$stmt: ${e.getMessage}")
      assert(jobs == 0, s"$stmt ran $jobs Spark job(s)")
    }
    assert(state == before)
    spark.sql("DROP TABLE cmd_r")
    spark.sql("DROP TABLE cmd_rc")
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
    assert(TempTables.exists("cmd_p"))
    assert(spark.table("cmd_p").columns.toSeq == Seq("k", "s"))
    assert(EnumTypes.get("cmd_mood").isEmpty)
    assert(rows("SELECT x FROM cmd_cat") == Seq(Seq(7)))
    spark.sql("DROP TABLE cmd_p")
    spark.sql("DROP TABLE cmd_cat")
  }

  test("a statement is not callable as a table function") {
    spark.sql("DROP TABLE IF EXISTS cmd_victim")
    spark.sql("CREATE TABLE cmd_victim USING parquet AS SELECT 1 AS x UNION ALL SELECT 2")
    intercept[AnalysisException](spark.sql("SELECT * FROM delete_from('cmd_victim', '')"))
    assert(rows("SELECT x FROM cmd_victim ORDER BY x") == Seq(Seq(1), Seq(2)))
    spark.sql("DROP TABLE cmd_victim")
  }
}
