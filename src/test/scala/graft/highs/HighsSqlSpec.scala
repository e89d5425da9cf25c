package graft.highs

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Transliteration of the reference's sqllogictest corpus
  * (/root/reference/test/sql/highs.test:1-108) through the SQL TVF surface:
  * same statements, same golden rows, including the pre-LOAD catalog error,
  * the DDL setup/teardown, and the error-as-data rows.
  */
class HighsSqlSpec extends AnyFunSuite {

  // highs.test:6-9 — before the extension is loaded, resolution fails.
  test("statement error before extension is registered") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val e = intercept[AnalysisException] {
        plain.sql("SELECT highs_version('Sam')").collect()
      }
      assert(e.getMessage.toLowerCase.contains("highs_version"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // Restore the JVM-global default the other suites (and direct
      // parser calls outside a spark.sql execution scope) rely on —
      // leaving it cleared broke whichever suite next touched
      // SparkSession.active from the test thread.
      SparkSession.setDefaultSession(SparkTestSession.spark)
      SparkSession.setActiveSession(SparkTestSession.spark)
    }
  }

  private lazy val spark = SparkTestSession.spark

  // highs.test:15-22 — scalar function prefixes.
  test("scalar version functions resolve and pin the reference prefixes") {
    val v = spark.sql("SELECT highs_version('Sam') ILIKE 'Hello Sam, HiGHS version:%' AS ok")
      .collect()
    assert(v.toSeq == Seq(Row(true)))
    val o = spark.sql(
      "SELECT highs_openssl_version('Michael') ILIKE 'Hello Michael, HiGHS version:%, OpenSSL version: OpenSSL%' AS ok")
      .collect()
    assert(o.toSeq == Seq(Row(true)))
  }

  // highs.test:31-51 — the relational model tables (CTAS + VALUES).
  test("CREATE TABLE AS VALUES setup and DROP TABLE teardown") {
    Seq("variables", "constraints", "coefficients")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("""CREATE TABLE variables AS SELECT * FROM VALUES
        ('model1', 'x', 0.0, 1e30, 1.0, 'continuous'),
        ('model1', 'y', 1.0, 1e30, 1.0, 'continuous')
      AS v(model_name, variable_name, lower_bound, upper_bound, obj_coefficient, var_type)""")
    spark.sql("""CREATE TABLE constraints AS SELECT * FROM VALUES
        ('model1', 'c1', -1e30, 7.0), ('model1', 'c2', -1e30, 9.0)
      AS c(model_name, constraint_name, lower_bound, upper_bound)""")
    spark.sql("""CREATE TABLE coefficients AS SELECT * FROM VALUES
        ('model1', 'c1', 'x', 1.0), ('model1', 'c1', 'y', 2.0),
        ('model1', 'c2', 'x', 3.0), ('model1', 'c2', 'y', 1.0)
      AS coef(model_name, constraint_name, variable_name, coefficient)""")
    assert(spark.table("variables").count() == 2)
    assert(spark.table("constraints").count() == 2)
    assert(spark.table("coefficients").count() == 4)
    Seq("variables", "constraints", "coefficients")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
    assert(!spark.catalog.tableExists("variables"))
  }

  // highs.test:55-98 — the TVF calls and the golden solve.
  test("golden LP end-to-end through SQL table functions") {
    ModelRegistry.remove("model1")
    def q(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

    assert(q("SELECT * FROM highs_create_variables('model1', 'x', 0.0, 1e30, 1.0, 'continuous')")
      == Seq(Row("x", "x_0", "SUCCESS")))
    assert(q("SELECT * FROM highs_create_variables('model1', 'y', 1.0, 1e30, 1.0, 'continuous')")
      == Seq(Row("y", "y_1", "SUCCESS")))
    assert(q("SELECT * FROM highs_create_constraints('model1', 'c1', -1e30, 7.0)")
      == Seq(Row("c1", "c1_0", "SUCCESS")))
    assert(q("SELECT * FROM highs_create_constraints('model1', 'c2', -1e30, 9.0)")
      == Seq(Row("c2", "c2_1", "SUCCESS")))
    assert(q("SELECT * FROM highs_set_coefficients('model1', 'c1', 'x', 1.0)")
      == Seq(Row("c1", "x", 1.0, "SUCCESS")))
    assert(q("SELECT * FROM highs_set_coefficients('model1', 'c1', 'y', 2.0)")
      == Seq(Row("c1", "y", 2.0, "SUCCESS")))
    assert(q("SELECT * FROM highs_set_coefficients('model1', 'c2', 'x', 3.0)")
      == Seq(Row("c2", "x", 3.0, "SUCCESS")))
    assert(q("SELECT * FROM highs_set_coefficients('model1', 'c2', 'y', 1.0)")
      == Seq(Row("c2", "y", 1.0, "SUCCESS")))
    assert(q("SELECT * FROM highs_solve('model1') ORDER BY variable_name")
      == Seq(
        Row("x", "x_0", 0.0, 1.0, "Optimal"),
        Row("y", "y_1", 1.0, 1.0, "Optimal")))
  }

  // highs_extension.cpp:211-224 — duplicate names are ERROR rows, not
  // exceptions.
  test("duplicate variable and constraint names yield ERROR rows") {
    ModelRegistry.remove("dup_m")
    spark.sql("SELECT * FROM highs_create_variables('dup_m', 'x', 0.0, 1.0, 0.0, 'continuous')").collect()
    val dupVar = spark.sql(
      "SELECT * FROM highs_create_variables('dup_m', 'x', 0.0, 1.0, 0.0, 'continuous')").collect()
    assert(dupVar.toSeq == Seq(
      Row("x", "ERROR", "ERROR: Variable 'x' already exists in model 'dup_m'")))
    spark.sql("SELECT * FROM highs_create_constraints('dup_m', 'c', 0.0, 1.0)").collect()
    val dupCon = spark.sql(
      "SELECT * FROM highs_create_constraints('dup_m', 'c', 0.0, 1.0)").collect()
    assert(dupCon.toSeq == Seq(
      Row("c", "ERROR", "ERROR: Constraint 'c' already exists in model 'dup_m'")))
  }

  // highs_extension.cpp:419-429 — missing names in set_coefficients.
  test("missing model/variable/constraint yield ERROR rows") {
    ModelRegistry.remove("sc_m")
    assert(spark.sql("SELECT * FROM highs_set_coefficients('nope', 'c', 'x', 1.0)")
      .collect().toSeq == Seq(Row("c", "x", 1.0, "ERROR: Model 'nope' not found")))
    spark.sql("SELECT * FROM highs_create_variables('sc_m', 'x', 0.0, 1.0, 0.0, 'continuous')").collect()
    spark.sql("SELECT * FROM highs_create_constraints('sc_m', 'c', 0.0, 1.0)").collect()
    assert(spark.sql("SELECT * FROM highs_set_coefficients('sc_m', 'c', 'zz', 1.0)")
      .collect().toSeq == Seq(Row("c", "zz", 1.0, "ERROR: Variable 'zz' not found in model 'sc_m'")))
    assert(spark.sql("SELECT * FROM highs_set_coefficients('sc_m', 'cc', 'x', 1.0)")
      .collect().toSeq == Seq(Row("cc", "x", 1.0, "ERROR: Constraint 'cc' not found in model 'sc_m'")))
  }

  // The reference's highs_solve on a missing model emits an error row but
  // never terminates the scan (highs_extension.cpp:520-538 — a bug we fix):
  // exactly ONE row must come back.
  test("solve on a missing model returns exactly one error row") {
    val rows = spark.sql("SELECT * FROM highs_solve('ghost_model')").collect()
    assert(rows.length == 1)
    assert(rows(0) == Row("N/A", "ERROR", 0.0, 0.0, "ERROR: Model 'ghost_model' not found"))
  }

  // Downstream analytics compose over the TVF exactly like the reference's
  // network_flow_example.sql:168-215.
  test("solve output composes with CTE analytics in one SQL statement") {
    Workloads.register(spark, "assignment_model",
      Workloads.flowVars, Workloads.flowCons, Workloads.flowCoefs)
    val total = spark.sql("""
      WITH solution AS (SELECT * FROM highs_solve('assignment_model')),
      cost_vars AS (
        SELECT variable_name, solution_value FROM solution
        WHERE solution_value > 0
          AND variable_name LIKE 'x!_%!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_0!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_%!_13' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_11!_%' ESCAPE '!'
          AND variable_name NOT LIKE 'x!_12!_%' ESCAPE '!')
      SELECT CAST(SUM(solution_value *
        CASE SPLIT_PART(variable_name, '_', 2) || '_' || SPLIT_PART(variable_name, '_', 3)
          WHEN '1_7' THEN 90 WHEN '1_8' THEN 76 WHEN '1_9' THEN 75 WHEN '1_10' THEN 70
          WHEN '2_7' THEN 35 WHEN '2_8' THEN 85 WHEN '2_9' THEN 55 WHEN '2_10' THEN 65
          WHEN '3_7' THEN 125 WHEN '3_8' THEN 95 WHEN '3_9' THEN 90 WHEN '3_10' THEN 105
          WHEN '4_7' THEN 45 WHEN '4_8' THEN 110 WHEN '4_9' THEN 95 WHEN '4_10' THEN 115
          WHEN '5_7' THEN 60 WHEN '5_8' THEN 105 WHEN '5_9' THEN 80 WHEN '5_10' THEN 75
          WHEN '6_7' THEN 45 WHEN '6_8' THEN 65 WHEN '6_9' THEN 110 WHEN '6_10' THEN 95
          ELSE 0 END) AS INT) AS total
      FROM cost_vars""").collect()
    assert(total.toSeq == Seq(Row(250)))
  }
}
