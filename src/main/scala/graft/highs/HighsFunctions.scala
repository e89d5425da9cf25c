package graft.highs

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.solver.{BranchAndBound, LpStatus}

/** The reference extension's six SQL functions, re-expressed as eager
  * DataFrame-returning Scala operators (2 scalar + 4 table functions,
  * /root/reference/src/highs_extension.cpp:725-776).
  *
  * Design decisions vs the reference, per SURVEY.md:
  *  - builder calls run EAGERLY on the driver and return 1-row DataFrames —
  *    the reference's table functions are statement-at-a-time eager and
  *    deferring registry mutation behind lazy evaluation would reorder side
  *    effects (SURVEY.md §3 E2);
  *  - every runtime failure is a row with status 'ERROR: ...', never an
  *    exception (highs_extension.cpp:211-224, :322-336, :453-468, :611-631);
  *  - highs_solve on a missing model returns exactly ONE error row — the
  *    reference emits the row but never terminates the scan (bug, SURVEY.md
  *    §2A); we return and terminate;
  *  - solve results are computed once per call, not once per scan.
  */
object HighsFunctions {

  /** Engine version string. The reference formats
    * "Hello {name}, HiGHS version: {v}" (highs_extension.cpp:117-126); the
    * version here identifies our embedded solver, and the sqllogictest only
    * pins the prefix (test/sql/highs.test:16).
    */
  val SolverVersion = "1.7.2-graft"

  def versionString(name: String): String =
    s"Hello $name, HiGHS version: $SolverVersion"

  /** The reference appends the linked OpenSSL's version text
    * (highs_extension.cpp:128-139) — OpenSSL is linked only for this string.
    * The JVM has no OpenSSL; we report the JVM TLS provider in the same
    * shape (the test pins only "OpenSSL version: OpenSSL" as a prefix,
    * test/sql/highs.test:21).
    */
  def opensslVersionString(name: String): String =
    s"Hello $name, HiGHS version: $SolverVersion, OpenSSL version: OpenSSL-compat (JVM ${System.getProperty("java.version")} TLS)"

  /** Register the two scalar functions for SQL use
    * (highs_extension.cpp:727-735).
    */
  def registerScalars(spark: SparkSession): Unit = {
    spark.udf.register("highs_version", (name: String) => versionString(name))
    spark.udf.register("highs_openssl_version", (name: String) => opensslVersionString(name))
  }

  /** Internal-type bridges for the codegen'd StaticInvoke registration in
    * GraftSparkExtensions (Catalyst passes/expects UTF8String). Invoked via
    * the mirror class's static forwarders.
    */
  def versionStringUtf8(name: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(versionString(name.toString))

  def opensslVersionStringUtf8(name: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(opensslVersionString(name.toString))

  val createVariablesSchema: StructType = StructType(Seq(
    StructField("variable_name", StringType, nullable = false),
    StructField("variable_index", StringType, nullable = false),
    StructField("status", StringType, nullable = false)))

  val createConstraintsSchema: StructType = StructType(Seq(
    StructField("constraint_name", StringType, nullable = false),
    StructField("constraint_index", StringType, nullable = false),
    StructField("status", StringType, nullable = false)))

  val setCoefficientsSchema: StructType = StructType(Seq(
    StructField("constraint_name", StringType, nullable = false),
    StructField("variable_name", StringType, nullable = false),
    StructField("coefficient", DoubleType, nullable = false),
    StructField("status", StringType, nullable = false)))

  val solveSchema: StructType = StructType(Seq(
    StructField("variable_name", StringType, nullable = false),
    StructField("variable_index", StringType, nullable = false),
    StructField("solution_value", DoubleType, nullable = false),
    StructField("reduced_cost", DoubleType, nullable = false),
    StructField("status", StringType, nullable = false)))

  private def localDf(spark: SparkSession, schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** highs_create_variables (highs_extension.cpp:159-263): get-or-create the
    * model, append one variable, emit one row with variable_index =
    * "{name}_{idx}" or an ERROR row on duplicates.
    */
  def createVariablesRows(model: String, variable: String,
      lower: Double, upper: Double, obj: Double, varType: String): Seq[Row] =
    Seq(try {
      val idx = ModelRegistry.getOrCreate(model)
        .addVariable(variable, lower, upper, obj, varType)
      Row(variable, s"${variable}_$idx", "SUCCESS")
    } catch {
      case e: Exception => Row(variable, "ERROR", s"ERROR: ${e.getMessage}")
    })

  def createVariables(spark: SparkSession, model: String, variable: String,
      lower: Double, upper: Double, obj: Double, varType: String): DataFrame =
    localDf(spark, createVariablesSchema,
      createVariablesRows(model, variable, lower, upper, obj, varType): _*)

  /** highs_create_constraints (highs_extension.cpp:268-373). */
  def createConstraintsRows(model: String, constraint: String,
      lower: Double, upper: Double): Seq[Row] =
    Seq(try {
      val idx = ModelRegistry.getOrCreate(model).addConstraint(constraint, lower, upper)
      Row(constraint, s"${constraint}_$idx", "SUCCESS")
    } catch {
      case e: Exception => Row(constraint, "ERROR", s"ERROR: ${e.getMessage}")
    })

  def createConstraints(spark: SparkSession, model: String, constraint: String,
      lower: Double, upper: Double): DataFrame =
    localDf(spark, createConstraintsSchema,
      createConstraintsRows(model, constraint, lower, upper): _*)

  /** highs_set_coefficients (highs_extension.cpp:378-507). Missing model /
    * variable / constraint each become an ERROR row with the reference's
    * message text.
    */
  def setCoefficientsRows(model: String, constraint: String,
      variable: String, coeff: Double): Seq[Row] =
    Seq(ModelRegistry.get(model) match {
      case None =>
        Row(constraint, variable, coeff, s"ERROR: Model '$model' not found")
      case Some(info) =>
        try {
          info.setCoefficient(constraint, variable, coeff)
          Row(constraint, variable, coeff, "SUCCESS")
        } catch {
          case e: Exception => Row(constraint, variable, coeff, s"ERROR: ${e.getMessage}")
        }
    })

  def setCoefficients(spark: SparkSession, model: String, constraint: String,
      variable: String, coeff: Double): DataFrame =
    localDf(spark, setCoefficientsSchema,
      setCoefficientsRows(model, constraint, variable, coeff): _*)

  private def statusText(s: LpStatus): String = s match {
    case LpStatus.Optimal    => "Optimal"
    case LpStatus.Infeasible => "Infeasible"
    case LpStatus.Unbounded  => "Unbounded"
    case LpStatus.Unknown    => "Unknown"
  }

  /** Snap solver output to clean representable values: bounds and integers
    * reached within 1e-9 print as exact doubles (0.0, 1.0, ...), the same
    * clean values HiGHS reports on the reference's test models.
    *
    * DELIBERATE OUTPUT-CONTRACT DIVERGENCE from the reference (which emits
    * raw HiGHS col_value/col_dual): our simplex accumulates ~1e-12 float
    * noise the native solver doesn't, and the sqllogictest golden rows
    * (test/sql/highs.test:94-98) pin exact 0.0/1.0 literals. The 1e-9
    * tolerance is far below any meaningful reduced cost in the reference's
    * model corpus; a genuinely tiny nonzero reduced cost would be masked —
    * accepted trade-off, documented here and in SURVEY.md.
    */
  private def snap(v: Double): Double = {
    val r = math.rint(v)
    if (math.abs(v - r) < 1e-9) (if (r == 0.0) 0.0 else r) else v
  }

  /** Size cap of one solve. The simplex keeps a sparse LU of its basis
    * (refactored every 32 basis changes, eta updates between), so an
    * iteration costs about the nonzeros of the columns, factor and etas it
    * touches: a planted 400×800 LP with 3 nonzeros per column takes ~3,000
    * iterations and ~0.11 s on one core (`graft.tools.SolverBench`,
    * `BENCH_solver.json`). Iterations and the eta work per iteration both
    * grow with the model, and B&B multiplies the solves, so above 2000
    * variables or constraints we fail fast with an ERROR row (the engine's
    * error-as-data convention) rather than let a runaway model hold a core.
    */
  val MaxModelDim = 2000

  private[highs] def sizeGuard(info: ModelInfo): Option[String] = {
    val (nv, nc) = (info.varNames.size, info.conNames.size)
    if (nv > MaxModelDim || nc > MaxModelDim)
      Some(s"ERROR: Model '${info.name}' too large for the embedded simplex " +
        s"($nv variables, $nc constraints; limit $MaxModelDim)")
    else None
  }

  /** Solve one registered model locally (no Spark job) and return its rows. */
  def solveRows(model: String): Seq[Row] = ModelRegistry.get(model) match {
    case None =>
      Seq(Row("N/A", "ERROR", 0.0, 0.0, s"ERROR: Model '$model' not found"))
    case Some(info) =>
      sizeGuard(info) match {
        case Some(msg) => Seq(Row("N/A", "ERROR", 0.0, 0.0, msg))
        case None =>
          try {
            val sol = info.solveCached(BranchAndBound.solve)
            val st = statusText(sol.status)
            info.varNames.zipWithIndex.map { case (vn, i) =>
              Row(vn, s"${vn}_$i", snap(sol.x(i)), snap(sol.reducedCost(i)), st)
            }.toSeq
          } catch {
            case e: Exception =>
              Seq(Row("N/A", "ERROR", 0.0, 0.0, s"ERROR: ${e.getMessage}"))
          }
      }
  }

  /** highs_solve (highs_extension.cpp:512-722): one row per variable with
    * primal value, reduced cost, and the model status repeated per row.
    */
  def solve(spark: SparkSession, model: String): DataFrame =
    localDf(spark, solveSchema, solveRows(model): _*)

  // --------------------------------------------------------------------
  // Scale path: many models encoded relationally, solved on executors.
  // --------------------------------------------------------------------

  /** One row of the unioned relational model encoding (see solveMany). */
  private[highs] case class ModelPart(
      model_name: String, kind: Int,
      name: String, name2: String,
      d1: Double, d2: Double, d3: Double, s1: String)

  case class SolvedVar(
      model_name: String, variable_name: String, variable_index: String,
      solution_value: Double, reduced_cost: Double, status: String)

  /** Solve MANY models in one distributed pass. Input tables use the
    * reference's relational encoding (FIXTURES.md §A / test/sql/highs.test:
    * 31-51): variables(model_name, variable_name, lower_bound, upper_bound,
    * obj_coefficient, var_type), constraints(model_name, constraint_name,
    * lower_bound, upper_bound), coefficients(model_name, constraint_name,
    * variable_name, coefficient).
    *
    * This is the 100 TB-scale answer to the reference's driver-global
    * registry: models shuffle once on model_name (hash-partitioned), each
    * group solves independently on an executor core — a million KB-scale
    * models parallelize across the cluster with no driver bottleneck.
    *
    * Ordering contract: rows within a group arrive in shuffle-fetch order,
    * which is NOT deterministic across runs/partitionings, so (unlike the
    * reference's call-order indices) variable and constraint indices here
    * are defined by LEXICOGRAPHIC NAME ORDER within each model. Same input
    * => same `variable_index` strings, regardless of partitioning.
    */
  def solveMany(spark: SparkSession, variables: DataFrame,
      constraints: DataFrame, coefficients: DataFrame): Dataset[SolvedVar] = {
    import spark.implicits._
    val vparts = variables.select("model_name", "variable_name", "lower_bound",
      "upper_bound", "obj_coefficient", "var_type").map { r =>
      ModelPart(r.getString(0), 0, r.getString(1), "", r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5))
    }
    val cparts = constraints.select("model_name", "constraint_name",
      "lower_bound", "upper_bound").map { r =>
      ModelPart(r.getString(0), 1, r.getString(1), "", r.getDouble(2), r.getDouble(3), 0.0, "")
    }
    val kparts = coefficients.select("model_name", "constraint_name",
      "variable_name", "coefficient").map { r =>
      ModelPart(r.getString(0), 2, r.getString(1), r.getString(2), r.getDouble(3), 0.0, 0.0, "")
    }
    vparts.union(cparts).union(kparts)
      .groupByKey(_.model_name)
      .flatMapGroups { (model, parts) =>
        val info = new ModelInfo(model)
        // Group rows arrive unordered; buffer and apply in (kind, name)
        // order — vars, then constraints, then coefficients, each sorted by
        // name — so indices are deterministic across partitionings.
        val buf = parts.toArray.sortBy(p => (p.kind, p.name, p.name2, p.d1))
        try {
          buf.foreach {
            case ModelPart(_, 0, vn, _, lb, ub, obj, tpe) => info.addVariable(vn, lb, ub, obj, tpe)
            case ModelPart(_, 1, cn, _, lb, ub, _, _)     => info.addConstraint(cn, lb, ub)
            case ModelPart(_, 2, cn, vn, c, _, _, _)      => info.setCoefficient(cn, vn, c)
            case _                                        => ()
          }
          sizeGuard(info) match {
            case Some(msg) => Iterator(SolvedVar(model, "N/A", "ERROR", 0.0, 0.0, msg))
            case None =>
              val sol = BranchAndBound.solve(info.toLinearModel)
              val st = statusText(sol.status)
              info.varNames.zipWithIndex.iterator.map { case (vn, i) =>
                SolvedVar(model, vn, s"${vn}_$i", snap(sol.x(i)), snap(sol.reducedCost(i)), st)
              }
          }
        } catch {
          case e: Exception =>
            Iterator(SolvedVar(model, "N/A", "ERROR", 0.0, 0.0, s"ERROR: ${e.getMessage}"))
        }
      }
  }
}
