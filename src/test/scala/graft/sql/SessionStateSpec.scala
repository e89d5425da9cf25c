package graft.sql

import java.lang.ref.WeakReference

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A session's DuckDB-level state ([[DuckSession]]) lives and dies with
  * the session: a dropped session is garbage-collected whatever DuckDB
  * statements it ran, and no temp table, comment, sequence, enum type,
  * prepared statement, macro signature, transaction or attached
  * database of one session is visible from another.
  */
class SessionStateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** A directory holding one parquet table, `a`, for ATTACH. */
  private lazy val attachDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_attach").toString
    spark.range(3).write.parquet(s"$dir/a")
    dir
  }

  private def rows(s: SparkSession, sql: String): Seq[Row] = s.sql(sql).collect().toSeq

  private def failure(s: SparkSession, sql: String): String =
    intercept[Exception](s.sql(sql).collect()).getMessage

  /** Runs one DuckDB statement of every stateful kind in `s`. */
  private def exercise(s: SparkSession, db: String): Unit = {
    rows(s, "CREATE TEMP TABLE life_t (k INTEGER PRIMARY KEY, v INTEGER DEFAULT 7)")
    rows(s, "INSERT OR REPLACE INTO life_t VALUES (1, 10), (2, 20)")
    rows(s, "CREATE SEQUENCE life_q")
    assert(rows(s, "SELECT nextval('life_q') AS v FROM range(5)")
      .map(_.getLong(0)).sorted == (1L to 5L))
    rows(s, "CREATE TYPE life_mood AS ENUM ('sad', 'ok')")
    assert(rows(s, "SELECT 'ok'::life_mood") == Seq(Row("ok")))
    rows(s, "PREPARE life_p AS SELECT $1 + 1")
    assert(rows(s, "EXECUTE life_p(41)") == Seq(Row(42)))
    rows(s, "COMMENT ON TABLE life_t IS 'note'")
    rows(s, "COMMENT ON COLUMN life_t.v IS 'col note'")
    rows(s, "CREATE MACRO life_m(a, b := 1) AS a + b")
    assert(rows(s, "SELECT life_m(1, b := 2)") == Seq(Row(3)))
    rows(s, "BEGIN")
    rows(s, "INSERT INTO life_t (k) VALUES (3)")
    rows(s, "ROLLBACK")
    assert(rows(s, "SELECT k, v FROM life_t ORDER BY k") == Seq(Row(1, 10), Row(2, 20)))
    rows(s, s"ATTACH '$attachDir' AS $db")
    assert(rows(s, s"SELECT count(*) FROM $db.a") == Seq(Row(3L)))
    rows(s, s"DETACH $db")
  }

  test("a dropped session is collected with all of its DuckDB-level state") {
    val refs = (1 to 8).map { i =>
      val s = spark.newSession()
      // Spark's adaptive-execution and broadcast pools start their threads
      // lazily, and a new thread inherits the starting thread's active
      // session until it idles out (60 s). Off here, so that what holds a
      // session is graft's state alone.
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      exercise(s, s"life_db$i")
      new WeakReference(s)
    }
    var tries = 0
    while (refs.exists(_.get != null) && tries < 50) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert(refs.count(_.get != null) == 0,
      s"${refs.count(_.get != null)} of 8 dropped sessions still reachable")
  }

  test("nextval in a non-default session counts that session's sequence") {
    val s = spark.newSession()
    rows(s, "CREATE SEQUENCE iso_q")
    assert(rows(s, "SELECT nextval('iso_q') AS v FROM range(5)")
      .map(_.getLong(0)).sorted == (1L to 5L))
    assert(rows(s, "SELECT currval('iso_q')") == Seq(Row(5L)))
    assert(failure(spark.newSession(), "SELECT nextval('iso_q')")
      .contains("Sequence with name iso_q does not exist"))
  }

  test("one session's DuckDB-level objects are invisible in another") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    rows(s1, "CREATE SEQUENCE iso_seq")
    rows(s1, "CREATE TYPE iso_mood AS ENUM ('sad', 'ok')")
    rows(s1, "PREPARE iso_p AS SELECT 1")
    rows(s1, "CREATE TEMP TABLE iso_t (k INTEGER PRIMARY KEY, v INTEGER)")
    rows(s1, "COMMENT ON TABLE iso_t IS 'note'")
    rows(s1, "CREATE MACRO iso_m(a, b := 1) AS a + b")
    rows(s1, "BEGIN")

    assert(failure(s2, "SELECT nextval('iso_seq')").contains("does not exist"))
    assert(failure(s2, "SELECT 'ok'::iso_mood").toLowerCase.contains("iso_mood"))
    assert(failure(s2, "EXECUTE iso_p").contains("does not exist"))
    assert(!TempTables.exists(s2, "iso_t"))
    rows(s2, "CREATE TEMP TABLE iso_t (k INTEGER, v INTEGER)")
    assert(rows(s2, "SELECT comment FROM duckdb_tables() WHERE table_name = 'iso_t'") ==
      Seq(Row(null)))
    assert(TempTables.facts(s2, "iso_t").keys.isEmpty)
    // Without s1's signature the named call is not lowered and stays a
    // syntax error.
    assert(failure(s2, "SELECT iso_m(1, b := 2)").toLowerCase.contains("syntax error"))
    assert(failure(s2, "COMMIT").contains("no transaction is active"))
    rows(s2, "BEGIN")
    rows(s2, "ROLLBACK")

    rows(s1, "ROLLBACK")
    assert(rows(s1, "SELECT comment FROM duckdb_tables() WHERE table_name = 'iso_t'") ==
      Seq(Row("note")))
    assert(TempTables.facts(s1, "iso_t").keys.contains(Seq("k")))
  }

  test("a session cannot DETACH a database another session ATTACHed") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    rows(s1, s"ATTACH '$attachDir' AS iso_db")
    try {
      assert(failure(s2, "DETACH iso_db").contains("database not found"))
      assert(rows(s1, "SELECT count(*) FROM iso_db.a") == Seq(Row(3L)))
    } finally rows(s1, "DETACH iso_db")
    assert(!spark.catalog.databaseExists("iso_db"))
  }

  test("RENAME TO moves the whole table: defaults and comments survive") {
    val s = spark.newSession()
    rows(s, "CREATE TEMP TABLE dd (k INTEGER PRIMARY KEY, v INTEGER DEFAULT 7)")
    rows(s, "INSERT INTO dd VALUES (1, 7)")
    rows(s, "COMMENT ON TABLE dd IS 'note'")
    rows(s, "COMMENT ON COLUMN dd.v IS 'col note'")
    rows(s, "ALTER TABLE dd RENAME TO dd2")
    rows(s, "INSERT INTO dd2 (k) VALUES (2)")
    // DuckDB 1.0: [(1, 7), (2, 7)], 'note', and v's comment.
    assert(rows(s, "SELECT k, v FROM dd2 ORDER BY k") == Seq(Row(1, 7), Row(2, 7)))
    assert(rows(s, "SELECT comment FROM duckdb_tables() WHERE table_name = 'dd2'") ==
      Seq(Row("note")))
    assert(rows(s, "SELECT column_name, comment FROM duckdb_columns() " +
      "WHERE table_name = 'dd2' ORDER BY column_name") ==
      Seq(Row("k", null), Row("v", "col note")))
    assert(rows(s, "INSERT OR REPLACE INTO dd2 VALUES (2, 9)") == Seq(Row(1L)))
    assert(rows(s, "SELECT k, v FROM dd2 ORDER BY k") == Seq(Row(1, 7), Row(2, 9)))
  }

  test("graft's pool threads do not inherit the submitting thread's session") {
    SparkSession.setActiveSession(spark)
    val evict = graft.queries.PipelineQueries.archiveEvictTimer.submit(
      new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = SparkSession.getActiveSession.isEmpty
      })
    val action = scala.concurrent.Future(SparkSession.getActiveSession.isEmpty)(
      graft.streaming.StreamingDedup.actionEc)
    assert(evict.get(60, java.util.concurrent.TimeUnit.SECONDS), "graft-archive-evict")
    assert(scala.concurrent.Await.result(action, scala.concurrent.duration.Duration(60, "s")),
      "graft-sdedup-action")
  }
}
