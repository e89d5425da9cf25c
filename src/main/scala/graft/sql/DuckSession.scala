package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** All of one SparkSession's DuckDB-level state — what a DuckDB
  * connection keeps with itself. The session's parser
  * ([[GraftHintParser]], built once per session by
  * [[GraftSparkExtensions]], `newSession()` included) creates and holds
  * it, so it lives exactly as long as its session and no JVM-global map
  * holds a session. Reach it with `DuckSession(spark)`.
  */
final class DuckSession private[sql] () {
  /** Temp tables ([[TempTables]]), by lower-cased name. */
  private[sql] val tables = new ConcurrentHashMap[String, TempTables.Table]()
  /** Facts of other relations, by lower-cased name: the PRIMARY KEY of a
    * catalog CREATE TABLE, COMMENT ON COLUMN of a view.
    */
  private[sql] val otherFacts = new ConcurrentHashMap[String, TempTables.Facts]()
  /** The open transaction's saved temp-table records; guarded by `this`. */
  private[sql] var txn: Option[Map[String, TempTables.Table]] = None
  /** Enum types ([[EnumTypes]]): name → members in definition order. */
  private[sql] val enums = new ConcurrentHashMap[String, Seq[String]]()
  private[sql] val sequences = new ConcurrentHashMap[String, Sequences.State]()
  /** Prepared statements ([[PrepareRewrite]]): name → statement text. */
  private[sql] val prepared = new ConcurrentHashMap[String, String]()
  /** Macro name → ordered (parameter, default text) ([[MacroRewrite]]). */
  private[sql] val macroSignatures =
    new ConcurrentHashMap[String, Vector[(String, Option[String])]]()
  /** Databases ATTACH created: lower-cased name → directory. */
  private[graft] val attached = new ConcurrentHashMap[String, String]()
  /** [[graft.Engine.registerViews]]' (sfDir, failed views); guarded by `this`. */
  private[graft] var views: (String, Set[String]) = (null, Set.empty)
  /** This session's key in [[DuckSession.byId]]. */
  val id: Long = DuckSession.register(this)
}

object DuckSession {

  /** The state of `spark`, which must be built with [[GraftSparkExtensions]]
    * as its only parser extension.
    */
  def apply(spark: SparkSession): DuckSession = spark.sessionState.sqlParser match {
    case p: GraftHintParser => p.duck
    case _ => throw new IllegalStateException("graft.sql.GraftSparkExtensions is not " +
      "this session's parser; it must be the only parser extension in spark.sql.extensions")
  }

  /** Live sessions by id, held weakly. An expression evaluated on a task
    * thread (`nextval`), whose active session is not the planning one,
    * captures the id on the driver and resolves it here.
    */
  private val index = new ConcurrentHashMap[Long, java.lang.ref.WeakReference[DuckSession]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong

  private def register(s: DuckSession): Long = {
    index.values.removeIf(_.get == null)
    val id = ids.incrementAndGet()
    index.put(id, new java.lang.ref.WeakReference(s))
    id
  }

  def byId(id: Long): DuckSession =
    Option(index.get(id)).flatMap(r => Option(r.get)).getOrElse(
      throw new IllegalStateException(s"graft: session $id is closed"))
}
