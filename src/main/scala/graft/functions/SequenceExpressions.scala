package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** `nextval('seq')` — DuckDB's sequence advance ([[graft.sql.Sequences]]).
  * Declared [[Nondeterministic]] NOT because the value is random but
  * because it must defeat the optimizer's determinism assumptions:
  * common-subexpression elimination would collapse `nextval('s') AS a,
  * nextval('s') AS b` into one advance (DuckDB yields 1, 2) and constant
  * folding would advance it at plan time. CodegenFallback keeps the
  * stateful call out of generated code; the surrounding operators still
  * codegen. `session` is the planning session's [[graft.sql.DuckSession.id]].
  */
case class NextVal(child: Expression, session: Long)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = {
    val name = child.eval(input)
    require(name != null, "nextval: sequence name must not be NULL")
    graft.sql.Sequences.nextval(graft.sql.DuckSession.byId(session), name.toString)
  }
  override protected def withNewChildInternal(newChild: Expression): NextVal =
    copy(child = newChild)
  override def prettyName: String = "nextval"
}

/** `currval('seq')` — the last value this session's `nextval` returned.
  * Nondeterministic for the same optimizer-fencing reason: it reads
  * mutable session state and must re-evaluate at execution time, after
  * any `nextval` earlier in the same select list.
  */
case class CurrVal(child: Expression, session: Long)
    extends UnaryExpression with Nondeterministic with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = {
    val name = child.eval(input)
    require(name != null, "currval: sequence name must not be NULL")
    graft.sql.Sequences.currval(graft.sql.DuckSession.byId(session), name.toString)
  }
  override protected def withNewChildInternal(newChild: Expression): CurrVal =
    copy(child = newChild)
  override def prettyName: String = "currval"
}
