package graft.sql

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, Literal, NullsLast, SortOrder,
  UnresolvedWindowExpression, WindowExpression}
import org.apache.spark.sql.catalyst.parser.SqlBaseParser.{CollateClauseContext, FunctionCallContext, SortItemContext}
import org.apache.spark.sql.execution.{SparkSqlAstBuilder, SparkSqlParser}

/** Spark's own parser with DuckDB's meaning for three constructs Spark's
  * grammar already accepts. Every parse of graft's session parser
  * ([[GraftHintParser]]) — statements, expression fragments, macro
  * bodies, types — goes through it, so the meaning is the same wherever
  * the SQL text comes from. DataFrame-API sorts never reach a parser and
  * keep Spark's defaults.
  */
class DuckSqlParser extends SparkSqlParser {
  override val astBuilder: DuckAstBuilder = new DuckAstBuilder
}

class DuckAstBuilder extends SparkSqlAstBuilder {

  /** DuckDB sorts NULLs last for ASC and DESC alike (Spark: NULLS FIRST
    * for ASC). A key that spells its NULLS clause keeps it; `ORDER BY
    * ALL` carries its one key's null order to every column.
    */
  override def visitSortItem(ctx: SortItemContext): SortOrder = {
    val order = super.visitSortItem(ctx)
    if (ctx.nullOrder == null) order.copy(nullOrdering = NullsLast) else order
  }

  /** DuckDB's collation names, which are never Spark collation names:
    * NOCASE → UTF8_LCASE, NOACCENT → UNICODE_AI, either dotted pair →
    * UNICODE_CI_AI. Any other name keeps Spark's meaning (or error).
    */
  override def visitCollateClause(ctx: CollateClauseContext): Seq[String] = {
    val name = super.visitCollateClause(ctx)
    name.map(_.toUpperCase(Locale.ROOT)) match {
      case Seq("NOCASE") => Seq("UTF8_LCASE")
      case Seq("NOACCENT") => Seq("UNICODE_AI")
      case Seq("NOCASE", "NOACCENT") | Seq("NOACCENT", "NOCASE") => Seq("UNICODE_CI_AI")
      case _ => name
    }
  }

  /** `agg(x) FILTER (WHERE p) OVER w` → `agg(CASE WHEN p THEN x END)
    * OVER w`. Spark parses the clause, then a built-in analyzer rule
    * rejects it ("not supported yet") before any injected rule runs.
    * The CASE form is DuckDB's meaning for the NULL-skipping aggregates:
    * a row failing p contributes NULL, which they ignore; `count(*)`
    * (parsed as count(1)) and DuckDB's `count()` count `CASE WHEN p THEN
    * 1 END`. DISTINCT, multi-argument and other aggregates keep Spark's
    * error.
    */
  override def visitFunctionCall(ctx: FunctionCallContext): Expression =
    super.visitFunctionCall(ctx) match {
      case w @ WindowExpression(f: UnresolvedFunction, _) if DuckAstBuilder.filterFolds(f) =>
        w.copy(windowFunction = DuckAstBuilder.foldFilter(f))
      case w @ UnresolvedWindowExpression(f: UnresolvedFunction, _)
          if DuckAstBuilder.filterFolds(f) =>
        w.copy(child = DuckAstBuilder.foldFilter(f))
      case e => e
    }
}

private object DuckAstBuilder {
  private val nullSkippingAggs = Set("count", "sum", "avg", "min", "max", "mean", "total")

  def filterFolds(f: UnresolvedFunction): Boolean =
    f.filter.isDefined && !f.isDistinct && f.orderingWithinGroup.isEmpty &&
      f.nameParts.length == 1 && {
        val name = f.nameParts.head.toLowerCase(Locale.ROOT)
        nullSkippingAggs(name) &&
          (f.arguments.length == 1 || f.arguments.isEmpty && name == "count")
      }

  def foldFilter(f: UnresolvedFunction): UnresolvedFunction = {
    val counted = f.arguments.headOption.getOrElse(Literal(1))
    f.copy(arguments = Seq(CaseWhen(Seq((f.filter.get, counted)))), filter = None)
  }
}
