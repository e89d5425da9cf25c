package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped MATERIALIZED temp tables — the semantics DuckDB's
  * `CREATE TEMP TABLE` carries and Spark lacks (a TEMPORARY VIEW is a
  * lazy plan that re-evaluates per query; a temp TABLE is a snapshot
  * that mutates in place).
  *
  * Each temp table is a scratch-parquet dataset
  * ([[graft.operators.Scratch]] — per-JVM session root, shutdown-hook
  * cleanup, shared-storage root on a cluster via
  * `spark.graft.scratchDir`) fronted by a temp view of the same name,
  * so every read path — SQL, the other rewrites, the DataFrame API via
  * `spark.table` — resolves it like any relation. MUTATION never
  * appends into the live directory (a registered view pins its file
  * LISTING at creation — in-place appends would be invisible or,
  * worse, partially visible): every INSERT/UPDATE/DELETE materializes
  * the new content to a FRESH scratch dir and re-registers the view
  * atomically, which also gives mutations snapshot semantics against
  * concurrent readers of the old plan.
  */
object TempTables {

  /** Table content: the DataFrame the fronting view is registered from,
    * and the scratch dir behind it (None for the LocalRelation snapshots
    * of small tables, see [[put]]).
    */
  private final case class Snapshot(df: DataFrame, dir: Option[String])

  private val registry = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Snapshot]()

  /** Declared PRIMARY KEY columns (CREATE TEMP TABLE ... PRIMARY KEY) —
    * the conflict target INSERT OR REPLACE / OR IGNORE resolve against
    * when the statement names none. Advisory: reads don't enforce it;
    * the upsert TVF rejects duplicate keys like DuckDB's constraint.
    */
  private val pkRegistry = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[String]]()

  private def key(name: String): (SparkSession, String) =
    (SparkSession.active, name.toLowerCase)

  def setKeys(name: String, cols: Seq[String]): Unit = {
    pkRegistry.put(key(name), cols)
    ()
  }

  def keysOf(name: String): Option[Seq[String]] =
    Option(pkRegistry.get(key(name)))

  /** Declared column DEFAULT expressions (round 18): column-name
    * (lowercased) → the default's SQL text, recorded by CREATE TEMP
    * TABLE and applied by INSERTs that omit the column or write the
    * DEFAULT keyword. DuckDB evaluates the expression per insert —
    * these are raw SQL texts compiled at insert time, not frozen
    * values.
    */
  private val defaultsRegistry = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Map[String, String]]()

  def setDefaults(name: String, defs: Map[String, String]): Unit = {
    if (defs.nonEmpty) defaultsRegistry.put(key(name), defs)
    ()
  }

  def defaultsOf(name: String): Map[String, String] =
    Option(defaultsRegistry.get(key(name))).getOrElse(Map.empty)

  def exists(name: String): Boolean =
    try registry.containsKey(key(name))
    catch { case scala.util.control.NonFatal(_) => false }

  /** Materialize `df` as the content of temp table `name` (create or
    * full replace) and (re-)register the fronting view.
    *
    * SMALL snapshots skip the parquet round trip (round 21): when the
    * OPTIMIZER proves the content is at most `spark.graft.
    * tempTableLocalRows` rows (`optimizedPlan.maxRows` — literal VALUES,
    * DML over an already-local table, LIMIT-bounded selects; 0 disables),
    * the rows collect into an immutable LocalRelation instead of paying
    * a distributed write + read-back per statement — the same move
    * Fixpoint makes for small frontiers, and a statement-heavy DML
    * script's per-statement floor drops from a Spark write job to a
    * driver-local copy. The maxRows gate (never a collect-and-see probe)
    * keeps every mutation plan executed EXACTLY once, like the write
    * path — a probe would re-execute nondeterministic content (nextval,
    * random) when it overflows. The schema is widened asNullable to
    * match what the parquet read-back reports, so downstream schemas do
    * not depend on the arm. Snapshot semantics are preserved trivially:
    * a LocalRelation is immutable, so a DataFrame captured before the
    * mutation keeps its rows exactly like a superseded scratch dir.
    *
    * The parquet arm fronts the view with the DataFrame
    * [[graft.operators.Scratch.materialize]] read back with the written
    * schema: the write is the statement's only Spark job.
    */
  def put(name: String, df: DataFrame): Unit = {
    val spark = df.sparkSession
    val cap = graft.GraftConf.TempTableLocalRows(spark)
    val content =
      if (cap > 0 &&
          df.queryExecution.optimizedPlan.maxRows.exists(_ <= cap)) {
        val rows = df.collect()
        Snapshot(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          graft.operators.Scratch.nullableSchema(df.schema)), None)
      } else {
        // The superseded dir is NOT deleted eagerly: a DataFrame captured
        // before the mutation (or a query mid-flight) still reads it — the
        // snapshot contract. Superseded snapshots live until the scratch
        // root's JVM-exit cleanup; a mutation-heavy loop trades that disk
        // for never breaking a reader.
        val (back, dir) = graft.operators.Scratch.materialize(df, s"ttab_$name")
        Snapshot(back, Some(dir))
      }
    content.df.createOrReplaceTempView(name)
    registry.put(key(name), content)
    pending.remove(key(name))
    ()
  }

  // --- Coalesced appends (round 19, verdict-18 #8) -------------------
  //
  // A multi-statement ingest script pays one FULL-table parquet
  // rewrite per INSERT under put(). When the appended rows are already
  // immutable (a materialized stage dir or a literal LocalRelation),
  // the union plan `current ∪ staged` is snapshot-stable FOREVER — all
  // its leaves are frozen — so the fronting view can point at the lazy
  // union and defer materialization. The snapshot contract stays
  // observable at every statement boundary (reads see exactly the
  // mutated content; later mutations of OTHER tables can't reach into
  // the frozen leaves). Depth-capped: each append adds one union
  // level, and a 1000-statement ingest loop would otherwise pay
  // O(depth) analysis per read, so the cap rematerializes. Transactions
  // flush first — BEGIN/ROLLBACK reason over materialized dirs.

  private val pending = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Int]()

  private val maxPendingDepth = 32

  /** Register `df` (current ∪ frozen-appendix) as the table's content
    * WITHOUT materializing, provided the pending chain stays shallow.
    * Callers guarantee every new leaf in `df` is immutable.
    */
  def putLazy(name: String, df: DataFrame): Unit = {
    val d = Option(pending.get(key(name))).map(_.intValue()).getOrElse(0)
    if (d >= maxPendingDepth || txnActive) put(name, df)
    else {
      df.createOrReplaceTempView(name)
      pending.put(key(name), d + 1)
      ()
    }
  }

  /** Materialize every pending lazy chain of this session (transaction
    * boundaries and EXPORT need real dirs).
    */
  def flushPending(): Unit = {
    val spark = SparkSession.active
    import scala.jdk.CollectionConverters._
    pending.keySet.asScala.toSeq.collect { case (s, n) if s eq spark => n }
      .foreach(n => put(n, spark.table(n)))
  }

  /** Current content (the fronting view). */
  def table(name: String): DataFrame = SparkSession.active.table(name)

  /** Names of this session's temp tables (for EXPORT DATABASE). */
  def names(): Seq[String] = {
    val spark = SparkSession.active
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSeq.collect {
      case (s, n) if s eq spark => n }.sorted
  }

  def drop(name: String): Boolean = {
    val content = registry.remove(key(name))
    pending.remove(key(name))
    pkRegistry.remove(key(name))
    defaultsRegistry.remove(key(name))
    if (content == null) false
    else {
      SparkSession.active.catalog.dropTempView(name.toLowerCase)
      Comments.dropTable(name)
      // Inside a transaction the dropped snapshot is the ROLLBACK
      // target — deletion defers to the scratch root's JVM-exit
      // cleanup, the same lifecycle superseded mutation snapshots get.
      // (Local snapshots have no dir; the driver copy is GC'd.)
      content.dir match {
        case Some(dir) if !txnActive =>
          graft.operators.Scratch.delete(SparkSession.active, dir)
        case _ => ()
      }
      true
    }
  }

  // --- Transactions (BEGIN/COMMIT/ROLLBACK) over the temp-table layer ---
  //
  // The mutation protocol above IS multi-version: every write lands in a
  // fresh scratch dir and re-points the fronting view, never touching
  // the superseded snapshot. A transaction is therefore just a saved
  // registry state: BEGIN captures each table's current (dir, pk) —
  // O(tables) driver metadata, no data copied — COMMIT discards the
  // capture, ROLLBACK re-registers every captured snapshot, drops
  // tables created since, and restores tables dropped since. Scope:
  // the graft temp-table layer (catalog tables keep Spark's own
  // semantics — Spark has no transactions to coordinate with).
  // Error texts mirror DuckDB's TransactionContext errors (pinned on
  // 1.0: nested BEGIN, bare COMMIT/ROLLBACK).

  private val txnRegistry = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, Map[String, (Snapshot, Option[Seq[String]])]]()

  def txnActive: Boolean = txnRegistry.containsKey(SparkSession.active)

  def txnBegin(): Unit = {
    val spark = SparkSession.active
    flushPending() // BEGIN captures dirs; lazy chains must be real
    val snap = names().map(n =>
      n -> ((registry.get(key(n)), keysOf(n)))).toMap
    if (txnRegistry.putIfAbsent(spark, snap) != null)
      throw new IllegalStateException(
        "TransactionContext Error: cannot start a transaction within a transaction")
  }

  def txnCommit(): Unit = {
    if (txnRegistry.remove(SparkSession.active) == null)
      throw new IllegalStateException(
        "TransactionContext Error: cannot commit - no transaction is active")
  }

  def txnRollback(): Unit = {
    val spark = SparkSession.active
    val snap = txnRegistry.remove(spark)
    if (snap == null)
      throw new IllegalStateException(
        "TransactionContext Error: cannot rollback - no transaction is active")
    names().filterNot(snap.contains).foreach(drop)
    snap.foreach { case (n, (content, pk)) =>
      content.df.createOrReplaceTempView(n)
      registry.put(key(n), content)
      pending.remove(key(n))
      pk match {
        case Some(cols) => pkRegistry.put(key(n), cols)
        case None => pkRegistry.remove(key(n)); ()
      }
    }
  }
}
