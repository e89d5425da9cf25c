package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** CREATE/DROP SEQUENCE + nextval/currval: advance/currval semantics
  * (gate entry q123_sequence runs the cross-engine script), the
  * DuckDB-pinned error surfaces, and the optimizer-fencing property —
  * repeated nextval calls in one select list must NOT be collapsed by
  * common-subexpression elimination.
  */
class SequenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("nextval advances per evaluation; currval reads the last value") {
    spark.sql("CREATE OR REPLACE SEQUENCE seq_a START 10 INCREMENT 2").collect()
    val r = spark.sql(
      "SELECT nextval('seq_a') a, nextval('seq_a') b, currval('seq_a') c").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((10L, 12L, 12L)))
    // state persists across statements
    assert(spark.sql("SELECT nextval('seq_a')").head().getLong(0) == 14L)
  }

  test("nextval over a multi-row relation yields distinct advancing values") {
    spark.sql("CREATE OR REPLACE SEQUENCE seq_b").collect()
    val vals = spark.sql(
      "SELECT nextval('seq_b') v FROM range(5)").collect().map(_.getLong(0))
    assert(vals.toSet == Set(1L, 2L, 3L, 4L, 5L),
      s"5 evaluations must advance 5 times: ${vals.toSeq}")
  }

  test("error surfaces match DuckDB's") {
    val missing = intercept[Exception](
      spark.sql("SELECT nextval('no_such_seq')").collect())
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    spark.sql("CREATE OR REPLACE SEQUENCE seq_c").collect()
    val dup = intercept[Exception](spark.sql("CREATE SEQUENCE seq_c"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    assert(spark.sql("CREATE SEQUENCE IF NOT EXISTS seq_c").collect().isEmpty)
    spark.sql("CREATE OR REPLACE SEQUENCE seq_d").collect()
    val cv = intercept[Exception](spark.sql("SELECT currval('seq_d')").collect())
    assert(cv.getMessage.contains("not yet defined in this session"), cv.getMessage)
    spark.sql("DROP SEQUENCE seq_d").collect()
    val dropped = intercept[Exception](spark.sql("DROP SEQUENCE seq_d"))
    assert(dropped.getMessage.contains("does not exist"), dropped.getMessage)
    assert(spark.sql("DROP SEQUENCE IF EXISTS seq_d").collect().isEmpty)
  }

  test("MINVALUE/MAXVALUE bounds and [NO] CYCLE execute, DuckDB-pinned") {
    def nv(s: String): Long =
      spark.sql(s"SELECT nextval('$s')").head().getLong(0)
    // Ascending CYCLE wraps to MINVALUE (default 1), not to START.
    spark.sql("CREATE OR REPLACE SEQUENCE seq_c START 8 MAXVALUE 10 CYCLE")
    assert((1 to 6).map(_ => nv("seq_c")) == Seq(8L, 9L, 10L, 1L, 2L, 3L))
    // NO CYCLE (default): stepping past MAXVALUE throws DuckDB's text.
    spark.sql("CREATE OR REPLACE SEQUENCE seq_b START 9 MAXVALUE 10")
    assert((1 to 2).map(_ => nv("seq_b")) == Seq(9L, 10L))
    val exMax = intercept[Exception](nv("seq_b"))
    assert(exMax.getMessage.contains("reached maximum value"), exMax.getMessage)
    // Descending wraps to MAXVALUE; underflow text names the minimum.
    spark.sql(
      "CREATE OR REPLACE SEQUENCE seq_d INCREMENT -2 MINVALUE -5 MAXVALUE 4 CYCLE")
    assert((1 to 7).map(_ => nv("seq_d")) == Seq(4L, 2L, 0L, -2L, -4L, 4L, 2L))
    spark.sql("CREATE OR REPLACE SEQUENCE seq_u INCREMENT -1 MINVALUE -3 START -2")
    assert((1 to 2).map(_ => nv("seq_u")) == Seq(-2L, -3L))
    val exMin = intercept[Exception](nv("seq_u"))
    assert(exMin.getMessage.contains("reached minimum value"), exMin.getMessage)
    // START defaults to MINVALUE ascending / MAXVALUE descending.
    spark.sql("CREATE OR REPLACE SEQUENCE seq_m MINVALUE 5")
    assert(nv("seq_m") == 5L)
    spark.sql("CREATE OR REPLACE SEQUENCE seq_n INCREMENT -1")
    assert(nv("seq_n") == -1L)
    // Bound-violating START rejected at creation, DuckDB's Parser Error.
    val exSt = intercept[Exception](
      spark.sql("CREATE SEQUENCE seq_e2 START 20 MAXVALUE 10"))
    assert(exSt.getMessage.contains("cannot be greater than MAXVALUE"),
      exSt.getMessage)
    val exSt2 = intercept[Exception](spark.sql("CREATE SEQUENCE seq_e3 START 0"))
    assert(exSt2.getMessage.contains("cannot be less than MINVALUE"),
      exSt2.getMessage)
    // Truly unknown options still decline loudly.
    val ex = intercept[Exception](
      spark.sql("CREATE SEQUENCE seq_e OWNED BY tbl"))
    assert(ex.getMessage.contains("unsupported option"), ex.getMessage)
  }
}
