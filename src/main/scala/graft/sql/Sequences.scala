package graft.sql

/** Sequences — DuckDB's `CREATE SEQUENCE` / `nextval` / `currval`
  * surface (reference host engine; semantics pinned on 1.0:
  * START/INCREMENT options, MINVALUE/MAXVALUE bounds with [NO] CYCLE
  * wraparound, duplicate-create and missing-sequence Catalog Errors,
  * currval-before-nextval Sequence Error, CREATE OR REPLACE resets
  * state, bound-violating START rejected at creation with DuckDB's
  * Parser Error text).
  *
  * Bounds semantics (all DuckDB-1.0-pinned in SequenceSpec): defaults
  * are MINVALUE 1 / MAXVALUE Long.Max for ascending sequences and
  * MINVALUE Long.Min / MAXVALUE -1 for descending; START defaults to
  * MINVALUE ascending, MAXVALUE descending; stepping past a bound
  * throws `Sequence Error: nextval: reached maximum|minimum value of
  * sequence "name" (bound)` without CYCLE and wraps to the opposite
  * bound with it (ascending wraps to MINVALUE, descending to MAXVALUE
  * — START is NOT the wrap target).
  *
  * Scale contract, stated not hidden: a sequence is a single atomic
  * counter — inherently serialized state, exactly as single-node DuckDB
  * runs it. Counters live in the session's [[DuckSession]], on the
  * driver's JVM; `nextval` resolves them through the session id it
  * captured at planning ([[DuckSession.byId]]). Driver-side
  * evaluation (constant select lists, small local relations — the shapes
  * scripts use sequences for) is exact. A `nextval` inside a distributed
  * scan serializes every row through one counter — DuckDB pays the same
  * cost on its single node, but at cluster scale the right tool is
  * `monotonically_increasing_id()`/`uuid()`, which the missing-sequence
  * error text points at. Values are unique and strictly advancing, never
  * gap-free under retries (same as any sequence under task retry).
  */
object Sequences {

  private[sql] final class State(val increment: Long, start: Long,
      minV: Long, maxV: Long, cycle: Boolean) {
    private var nextV: Long = start
    private var pastBound = false // advance overflowed Long
    @volatile var defined = false
    @volatile var current: Long = start
    def nextval(name: String): Long = this.synchronized {
      if (pastBound || (increment > 0 && nextV > maxV) ||
          (increment < 0 && nextV < minV)) {
        if (!cycle) {
          if (increment > 0) throw new IllegalStateException(
            s"""Sequence Error: nextval: reached maximum value of sequence "$name" ($maxV)""")
          else throw new IllegalStateException(
            s"""Sequence Error: nextval: reached minimum value of sequence "$name" ($minV)""")
        }
        nextV = if (increment > 0) minV else maxV
        pastBound = false
      }
      val v = nextV
      try nextV = math.addExact(v, increment)
      catch { case _: ArithmeticException => pastBound = true }
      current = v
      defined = true
      v
    }
  }

  def create(duck: DuckSession, name: String, start: Option[Long] = None,
      increment: Long = 1L, minValue: Option[Long] = None, maxValue: Option[Long] = None,
      cycle: Boolean = false, orReplace: Boolean = false,
      ifNotExists: Boolean = false): Unit = {
    val asc = increment >= 0
    val minV = minValue.getOrElse(if (asc) 1L else Long.MinValue)
    val maxV = maxValue.getOrElse(if (asc) Long.MaxValue else -1L)
    val st = start.getOrElse(if (asc) minV else maxV)
    // DuckDB validates START against the bounds at CREATION (Parser
    // Error), not lazily at first nextval.
    if (st > maxV) throw new IllegalStateException(
      s"Parser Error: START value ($st) cannot be greater than MAXVALUE ($maxV)")
    if (st < minV) throw new IllegalStateException(
      s"Parser Error: START value ($st) cannot be less than MINVALUE ($minV)")
    val k = name.toLowerCase
    if (duck.sequences.containsKey(k) && !orReplace) {
      if (ifNotExists) return
      throw new IllegalStateException(
        s"""Catalog Error: Sequence with name "$name" already exists!""")
    }
    duck.sequences.put(k, new State(increment, st, minV, maxV, cycle))
    ()
  }

  def drop(duck: DuckSession, name: String, ifExists: Boolean = false): Unit = {
    if (duck.sequences.remove(name.toLowerCase) == null && !ifExists)
      throw new IllegalStateException(
        s"Catalog Error: Sequence with name $name does not exist!")
  }

  private def lookup(duck: DuckSession, name: String): State = {
    val s = duck.sequences.get(name.toLowerCase)
    if (s == null)
      throw new IllegalStateException(
        s"Catalog Error: Sequence with name $name does not exist! " +
          "(for distributed unique ids use monotonically_increasing_id() " +
          "or uuid() instead of a serialized sequence)")
    s
  }

  def nextval(duck: DuckSession, name: String): Long = lookup(duck, name).nextval(name)

  def currval(duck: DuckSession, name: String): Long = {
    val s = lookup(duck, name)
    if (!s.defined)
      throw new IllegalStateException(
        "Sequence Error: currval: sequence is not yet defined in this session")
    s.current
  }
}
