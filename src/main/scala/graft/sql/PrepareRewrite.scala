package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

/** DuckDB's `PREPARE name AS <statement>` / `EXECUTE name(args)` /
  * `DEALLOCATE [PREPARE] name` executing — the scripted
  * prepared-statement workflow (host capability; PREPARE runs on the
  * DuckDB 1.0 oracle too, so the lane is literal-oracle-able).
  *
  * Spark parses none of the three, so all ride the hint parser's
  * failure chain. PREPARE and DEALLOCATE parse to commands
  * ([[PrepareCommand]], [[DeallocateCommand]]) that store or remove the
  * statement TEXT as a template in the session's [[DuckSession]] when
  * they run (PREPARE replaces silently, as DuckDB does) and return a
  * 1-row marker, so EXPLAIN of either changes nothing; EXECUTE splices
  * the call's argument expression texts into the template's `$N` /
  * positional `?` markers (quote/comment-aware, each argument
  * parenthesized) and hands the substituted statement back to the
  * parse chain — so a prepared
  * QUALIFY/EXCLUDE/UPDATE statement re-enters the other rewrites and
  * runs. DuckDB binds VALUES where this splices EXPRESSION TEXT: for
  * the constant arguments EXECUTE takes, the two are equivalent; a
  * non-constant argument simply evaluates per row at its splice sites.
  *
  * Templates are scoped to the session and go with it, as DuckDB's are
  * scoped to the connection. Wrong argument count and unknown names
  * raise clean errors, matching DuckDB's binder.
  */
object PrepareRewrite {

  private val prepareRe =
    """(?is)\A\s*PREPARE\s+([A-Za-z_]\w*)\s+AS\s+(.+?)\s*;?\s*\z""".r
  private val executeRe =
    """(?is)\A\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\((.*)\))?\s*;?\s*\z""".r
  private val deallocateRe =
    """(?is)\A\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** PREPARE and DEALLOCATE as their command (Left); EXECUTE as the
    * substituted statement text (Right), which the caller parses.
    */
  def rewrite(sql: String): Option[Either[LogicalPlan, String]] = sql match {
    case prepareRe(name, body) =>
      Some(Left(PrepareCommand(name.toLowerCase, body.trim)))
    case deallocateRe(name) =>
      Some(Left(DeallocateCommand(name.toLowerCase)))
    case executeRe(name, argText) =>
      val template = DuckSession(SparkSession.active).prepared.get(name.toLowerCase)
      if (template == null)
        fail(s"""Prepared statement "${name.toLowerCase}" does not exist""")
      val args =
        if (argText == null || argText.trim.isEmpty) Vector.empty[String]
        else DuckLexer(argText).split(',').map(_.trim)
      if (args.exists(_.isEmpty)) fail(s"EXECUTE $name: empty argument")
      Some(Right(substitute(name.toLowerCase, template, args)))
    case _ => None
  }

  /** Replace `$N` and positional `?` markers (outside strings, quoted
    * identifiers, and comments) with the parenthesized argument texts.
    */
  private def substitute(name: String, template: String, args: Vector[String]): String = {
    val view = DuckLexer(template)
    val out = new StringBuilder
    var i = 0
    var positional = 0
    var used = Set.empty[Int]
    val n = template.length
    while (i < n) {
      val c = template.charAt(i)
      view.span(i) match {
        case Some((_, end)) => out.append(template.substring(i, end)); i = end
        case None => c match {
          case '$' if i + 1 < n && template.charAt(i + 1).isDigit =>
            var j = i + 1
            while (j < n && template.charAt(j).isDigit) j += 1
            val idx = template.substring(i + 1, j).toInt
            if (idx < 1 || idx > args.length)
              fail(s"EXECUTE $name: statement references $$$idx but " +
                s"${args.length} argument(s) were supplied")
            used += idx
            out.append('(').append(args(idx - 1)).append(')')
            i = j
          case '?' =>
            positional += 1
            if (positional > args.length)
              fail(s"EXECUTE $name: statement has at least $positional " +
                s"positional markers but ${args.length} argument(s) were supplied")
            used += positional
            out.append('(').append(args(positional - 1)).append(')')
            i += 1
          case ch => out.append(ch); i += 1
        }
      }
    }
    if (used.size < args.length)
      fail(s"EXECUTE $name: ${args.length} argument(s) supplied but the " +
        s"statement uses ${used.size}")
    out.toString
  }
}

/** `PREPARE name AS <statement>`: stores the template when it runs. */
case class PrepareCommand(name: String, statement: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("prepare", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DuckSession(spark).prepared.put(name, statement)
    Seq(Row(name))
  }
}

/** `DEALLOCATE [PREPARE] name`: removes the template when it runs. */
case class DeallocateCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deallocate", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    DuckSession(spark).prepared.remove(name)
    Seq(Row(name))
  }
}
