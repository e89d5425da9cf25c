package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.Scratch

/** Scratch parquet is read back with the schema the engine wrote
  * ([[Scratch.readBack]]), not by inferring it from a footer: the
  * declared read must report exactly what inference would (field
  * metadata included) and return the same rows, and materializing runs
  * the write as its only Spark job. The two temp-table arms — the
  * LocalRelation snapshot and the scratch-parquet snapshot, forced
  * through `spark.graft.tempTableLocalRows` — give row-identical results
  * and the same schema for every statement that writes a temp table.
  */
class TempTableParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Rows with binary values compared by content, in a fixed order. */
  private def comparable(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).sorted

  private def assertReadBackParity(df: DataFrame): Unit = {
    val ((back, dir), jobs) =
      SparkTestSession.jobsDuring(spark)(Scratch.materialize(df, "parity"))
    assert(jobs == 1, s"materialize ran $jobs jobs; the write is the only one")
    val inferred = spark.read.parquet(dir)
    assert(back.schema.json == inferred.schema.json)
    assert(back.schema.json == Scratch.nullableSchema(df.schema).json)
    assert(comparable(back) == comparable(inferred))
    assert(comparable(back) == comparable(df))
    Scratch.delete(spark, dir)
  }

  test("scratch read back with the written schema equals the inferred read, type by type") {
    assertReadBackParity(spark.sql(
      """SELECT CAST(1 AS TINYINT) AS ti, CAST(2 AS SMALLINT) AS si, 3 AS i,
                CAST(4 AS BIGINT) AS bi,
                CAST(12345678901234567890.0123456789 AS DECIMAL(38,10)) AS dec,
                CAST(2.5 AS DOUBLE) AS d, CAST(1.25 AS FLOAT) AS f, true AS b,
                X'CAFE' AS bin, 'str' AS s,
                DATE '2024-01-02' AS dt, TIMESTAMP '2024-01-02 03:04:05.123456' AS ts,
                TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz, TIME '12:34:56.789' AS tm,
                array(1, 2) AS arr, map('k', 1.5D) AS mp,
                named_struct('a', 1, 'b', 'x') AS st,
                array(named_struct('x', map('k', array(DATE '2024-01-02')))) AS nested
         UNION ALL
         SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                NULL, NULL, NULL, NULL, array(NULL), map('n', NULL),
                named_struct('a', NULL, 'b', NULL), array(NULL)"""))
    // CHAR/VARCHAR reach scratch from catalog tables (their columns carry
    // Spark's char/varchar field metadata).
    spark.sql("DROP TABLE IF EXISTS parity_cv")
    spark.sql("CREATE TABLE parity_cv (c CHAR(4), v VARCHAR(8), s STRING) USING parquet")
    spark.sql("INSERT INTO parity_cv VALUES ('ab', 'xyz', 's'), (NULL, NULL, NULL)")
    assertReadBackParity(spark.table("parity_cv"))
    spark.sql("DROP TABLE parity_cv")
    // An empty result writes a schema-only file.
    assertReadBackParity(spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
      .where("false"))
  }

  /** Run `script` with `spark.graft.tempTableLocalRows` at `localRows`
    * (None: its default); after every statement return the table's
    * schema, its sorted rows, and whether its snapshot is a LocalRelation.
    */
  private def runArm(localRows: Option[Long], script: Seq[String], table: String)
      : Seq[(String, Seq[String], Boolean)] = {
    val k = graft.GraftConf.TempTableLocalRows.name
    localRows.foreach(spark.conf.set(k, _))
    try script.map { stmt =>
      spark.sql(stmt).collect()
      val t = spark.table(table)
      val local = t.queryExecution.analyzed.collectFirst {
        case _: LocalRelation => true
        case _: LogicalRelation => false
      }.getOrElse(fail(s"$table has neither leaf after: $stmt"))
      (t.schema.json, t.collect().map(_.toString).toSeq.sorted, local)
    } finally spark.conf.unset(k)
  }

  test("LocalRelation and scratch-parquet temp tables are row-identical for every write") {
    spark.sql("CREATE OR REPLACE TEMP VIEW parity_src AS SELECT * FROM " +
      "VALUES (1, 'a', 10.5D), (2, 'b', 20.5D), (3, 'c', NULL) AS v(k, s, amount)")
    val script = Seq(
      "CREATE OR REPLACE TEMP TABLE parity_t AS SELECT * FROM parity_src",
      "UPDATE parity_t SET amount = amount * 2, s = upper(s) WHERE k >= 2",
      "DELETE FROM parity_t WHERE k = 1",
      "INSERT INTO parity_t VALUES (4, 'd', 40.0), (5, NULL, 50.0)",
      "CREATE OR REPLACE TEMP TABLE parity_t (k INTEGER PRIMARY KEY, s VARCHAR, amount DOUBLE)",
      "INSERT INTO parity_t SELECT * FROM parity_src",
      "INSERT OR REPLACE INTO parity_t VALUES (2, 'B2', 0.5), (6, 'f', 60.0)",
      "CREATE OR REPLACE TEMP TABLE parity_t AS SELECT * FROM parity_src WHERE false")
    val parquet = runArm(Some(0L), script, "parity_t")
    val local = runArm(None, script, "parity_t")
    assert(parquet.forall(!_._3), "tempTableLocalRows=0 must take the parquet arm")
    // INSERT OR REPLACE's plan (an anti-join) has no row bound, so its
    // result lands in parquet under either setting; its input differs.
    script.zip(local).filterNot(_._1.startsWith("INSERT OR REPLACE")).foreach {
      case (stmt, r) => assert(r._3, s"by default a small write is a LocalRelation: $stmt")
    }
    script.indices.foreach { i =>
      assert(parquet(i)._1 == local(i)._1, s"schema after: ${script(i)}")
      assert(parquet(i)._2 == local(i)._2, s"rows after: ${script(i)}")
    }
    assert(local.last._2.isEmpty)
    assert(local(6)._2 == Seq("[1,a,10.5]", "[2,B2,0.5]", "[3,c,null]", "[6,f,60.0]"))
    spark.sql("DROP TABLE parity_t")
  }
}
