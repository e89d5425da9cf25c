package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet,
  BindReferences, Expression, NamedExpression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

/** A graft table function whose rows are computed on the driver from its
  * constant arguments — the HiGHS functions and the catalog/metadata
  * functions (`summarize`, `duck_describe`, `duckdb_columns`, `glob`, …).
  *
  * The reference binds a table function's constants in one phase and
  * runs it in another (highs_extension.cpp:229-258 vs :512-722); so does
  * graft. The analyzer only checks the arguments
  * ([[GraftSparkExtensions.constArgs]]) and builds a plan node:
  *   - a read-only function becomes a [[DriverRows]] leaf, which
  *     [[DriverRowsStrategy]] plans as one [[DriverRowsExec]] that
  *     computes the rows when the statement executes;
  *   - a function that writes (the HiGHS model builders) becomes a
  *     [[TableFunctionCommand]], which Spark runs once when the
  *     statement is issued and never under EXPLAIN.
  */
final class DriverTableFunction(val name: String, val schema: StructType)(
    val rows: (SparkSession, IndexedSeq[Any]) => Seq[Row]) extends Serializable {
  override def toString: String = name
}

/** A read-only [[DriverTableFunction]] call. `output` is a constructor
  * field so its expression IDs stay stable across copies.
  */
case class DriverRows(function: DriverTableFunction, args: Seq[Any], output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): DriverRows = copy(output = output.map(_.newInstance()))
  // The row count is unknown until the function runs; the rows are
  // driver-side metadata (one per variable, column, table or file), so
  // the estimate is small: a join against them may broadcast.
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * 1024)
  override def simpleString(maxFields: Int): String =
    s"${function.name}(${args.mkString(", ")})" +
      truncatedString(output, "[", ", ", "]", maxFields)
}

/** Runs a [[DriverRows]] call once, on the driver, with the projection
  * and filters directly above it: collect, take and tail return the rows
  * without a Spark job; `doExecute` parallelizes them.
  */
case class DriverRowsExec(function: DriverTableFunction, args: Seq[Any],
    input: Seq[Attribute], projectList: Seq[NamedExpression], filters: Seq[Expression])
    extends LeafExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(input)

  @transient private lazy val rows: Array[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(function.schema)
    val keep = filters.reduceOption(And).map(f =>
      Predicate.createInterpreted(BindReferences.bindReference(f, input)))
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, input))
    function.rows(session, args.toIndexedSeq).iterator
      .map(toCatalyst(_).asInstanceOf[InternalRow])
      .filter(r => keep.forall(_.eval(r)))
      .map(project(_).copy())
      .toArray
  }

  override def executeCollect(): Array[InternalRow] = rows
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n)
  override def executeTail(n: Int): Array[InternalRow] = rows.takeRight(n)
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows.toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"DriverRows ${function.name}(${args.mkString(", ")})" +
      truncatedString(output, "[", ", ", "]", maxFields) +
      (if (filters.isEmpty) "" else truncatedString(filters, " filters: [", ", ", "]", maxFields))
}

/** Plans a [[DriverRows]] node together with the deterministic,
  * subquery-free projection and filters directly above it (as
  * `FileSourceStrategy` absorbs them over a scan), so a projected or
  * filtered call still returns its rows without a Spark job.
  */
object DriverRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, node: DriverRows)
        if (projects ++ filters).forall(e =>
          e.deterministic && !SubqueryExpression.hasSubquery(e)) =>
      DriverRowsExec(node.function, node.args, node.output, projects, filters) :: Nil
    case _ => Nil
  }
}

/** A writing [[DriverTableFunction]] call: Spark runs it once when the
  * statement is issued (commands execute eagerly, also under a
  * projection) and EXPLAIN only renders it.
  */
case class TableFunctionCommand(function: DriverTableFunction, args: Seq[Any],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = function.rows(spark, args.toIndexedSeq)
  override def simpleString(maxFields: Int): String =
    s"TableFunctionCommand ${function.name}(${args.mkString(", ")})" +
      truncatedString(output, "[", ", ", "]", maxFields)
}
