package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MATERIALIZED temp tables — the semantics DuckDB's `CREATE TEMP TABLE`
  * carries and Spark lacks (a TEMPORARY VIEW is a lazy plan that
  * re-evaluates per query; a temp TABLE is a snapshot that mutates in
  * place). Each table is one [[TempTables.Table]] record in its
  * session's [[DuckSession]], so it lives and dies with the session.
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

  /** What DuckDB keeps with a table besides its rows: the declared
    * PRIMARY KEY (the conflict target INSERT OR REPLACE / OR IGNORE use
    * when the statement names none; the upsert rejects duplicate keys,
    * reads don't enforce it), DEFAULT expressions by lower-cased column
    * (SQL text, compiled per insert as DuckDB evaluates them), and
    * COMMENT ON text (`duckdb_tables()` / `duckdb_columns()`).
    */
  final case class Facts(keys: Option[Seq[String]] = None,
      defaults: Map[String, String] = Map.empty,
      comment: Option[String] = None,
      columnComments: Map[String, String] = Map.empty)

  /** One temp table: the DataFrame its view was last materialized from,
    * its scratch dir (None for a driver-local snapshot), the
    * depth of the lazy append chain on top ([[putLazy]]), and its facts.
    */
  final case class Table(df: DataFrame, dir: Option[String], pending: Int, facts: Facts)

  def exists(spark: SparkSession, name: String): Boolean =
    DuckSession(spark).tables.containsKey(name.toLowerCase)

  /** The facts of temp table `name`, else those recorded for the
    * relation of that name, else none.
    */
  def facts(spark: SparkSession, name: String): Facts = {
    val duck = DuckSession(spark)
    Option(duck.tables.get(name.toLowerCase)).map(_.facts)
      .orElse(Option(duck.otherFacts.get(name.toLowerCase)))
      .getOrElse(Facts())
  }

  /** Apply `f` to the facts of temp table `name`, or of the relation of
    * that name when it is not a temp table.
    */
  def updateFacts(spark: SparkSession, name: String)(f: Facts => Facts): Unit = {
    val duck = DuckSession(spark)
    val k = name.toLowerCase
    if (duck.tables.computeIfPresent(k, (_, t) => t.copy(facts = f(t.facts))) == null)
      duck.otherFacts.compute(k, (_, old) => f(Option(old).getOrElse(Facts())))
    ()
  }

  /** Create (or fully replace) temp table `name` with content `df` and
    * `facts`, as CREATE [OR REPLACE] TEMP TABLE does.
    */
  def create(spark: SparkSession, name: String, df: DataFrame,
      facts: Facts = Facts()): Unit = {
    val (content, dir) = materialize(spark, name, df)
    DuckSession(spark).tables.put(name.toLowerCase, Table(content, dir, 0, facts))
    ()
  }

  /** Replace temp table `name`'s content with `df`, keeping its facts. */
  def put(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val (content, dir) = materialize(spark, name, df)
    DuckSession(spark).tables.compute(name.toLowerCase, (_, old) =>
      Table(content, dir, 0, Option(old).map(_.facts).getOrElse(Facts())))
    ()
  }

  /** Materialize `df` as the content of temp table `name` and
    * (re-)register the fronting view.
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
  private def materialize(spark: SparkSession, name: String,
      df: DataFrame): (DataFrame, Option[String]) = {
    val cap = graft.GraftConf.TempTableLocalRows(spark)
    val content =
      if (cap > 0 &&
          df.queryExecution.optimizedPlan.maxRows.exists(_ <= cap)) {
        val rows = df.collect()
        (spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          graft.operators.Scratch.nullableSchema(df.schema)), None)
      } else {
        // The superseded dir is NOT deleted eagerly: a DataFrame captured
        // before the mutation (or a query mid-flight) still reads it — the
        // snapshot contract. Superseded snapshots live until the scratch
        // root's JVM-exit cleanup; a mutation-heavy loop trades that disk
        // for never breaking a reader.
        val (back, dir) = graft.operators.Scratch.materialize(df, s"ttab_$name")
        (back, Some(dir))
      }
    content._1.createOrReplaceTempView(name)
    content
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

  private val maxPendingDepth = 32

  /** Register `df` (current ∪ frozen-appendix) as the table's content
    * WITHOUT materializing, provided the pending chain stays shallow.
    * Callers guarantee every new leaf in `df` is immutable.
    */
  def putLazy(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val duck = DuckSession(spark)
    val depth = Option(duck.tables.get(name.toLowerCase)).map(_.pending).getOrElse(0)
    if (depth >= maxPendingDepth || txnActive(duck)) put(spark, name, df)
    else {
      df.createOrReplaceTempView(name)
      duck.tables.computeIfPresent(name.toLowerCase, (_, t) =>
        t.copy(pending = t.pending + 1))
      ()
    }
  }

  /** Materialize every pending lazy chain of this session (transaction
    * boundaries and EXPORT need real dirs).
    */
  def flushPending(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    DuckSession(spark).tables.asScala.toSeq.collect {
      case (n, t) if t.pending > 0 => n }
      .foreach(n => put(spark, n, spark.table(n)))
  }

  /** Names of this session's temp tables (for EXPORT DATABASE). */
  def names(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    DuckSession(spark).tables.keySet.asScala.toSeq.sorted
  }

  def drop(spark: SparkSession, name: String): Boolean = {
    val duck = DuckSession(spark)
    Option(duck.tables.remove(name.toLowerCase)) match {
      case None => false
      case Some(t) =>
        spark.catalog.dropTempView(name.toLowerCase)
        // Inside a transaction the dropped snapshot is the ROLLBACK
        // target — deletion defers to the scratch root's JVM-exit
        // cleanup, the same lifecycle superseded mutation snapshots get.
        // (Local snapshots have no dir; the driver copy is GC'd.)
        t.dir match {
          case Some(dir) if !txnActive(duck) =>
            graft.operators.Scratch.delete(spark, dir)
          case _ => ()
        }
        true
    }
  }

  // --- Transactions (BEGIN/COMMIT/ROLLBACK) over the temp-table layer ---
  //
  // The mutation protocol above IS multi-version: every write lands in a
  // fresh scratch dir and re-points the fronting view, never touching
  // the superseded snapshot. A transaction is therefore just the saved
  // records: BEGIN keeps each table's current record (content, keys,
  // defaults, comments) — O(tables) driver metadata, no data copied —
  // COMMIT discards them, ROLLBACK re-registers every saved record,
  // drops tables created since, and restores tables dropped since.
  // Scope: the graft temp-table layer (catalog tables keep Spark's own
  // semantics — Spark has no transactions to coordinate with).
  // Error texts mirror DuckDB's TransactionContext errors (pinned on
  // 1.0: nested BEGIN, bare COMMIT/ROLLBACK).

  def txnActive(duck: DuckSession): Boolean = duck.synchronized(duck.txn.isDefined)

  def txnBegin(spark: SparkSession): Unit = {
    val duck = DuckSession(spark)
    flushPending(spark) // BEGIN captures dirs; lazy chains must be real
    import scala.jdk.CollectionConverters._
    duck.synchronized {
      if (duck.txn.isDefined)
        throw new IllegalStateException(
          "TransactionContext Error: cannot start a transaction within a transaction")
      duck.txn = Some(duck.tables.asScala.toMap)
    }
  }

  def txnCommit(spark: SparkSession): Unit = {
    val duck = DuckSession(spark)
    duck.synchronized {
      if (duck.txn.isEmpty)
        throw new IllegalStateException(
          "TransactionContext Error: cannot commit - no transaction is active")
      duck.txn = None
    }
  }

  def txnRollback(spark: SparkSession): Unit = {
    val duck = DuckSession(spark)
    val saved = duck.synchronized {
      val s = duck.txn.getOrElse(throw new IllegalStateException(
        "TransactionContext Error: cannot rollback - no transaction is active"))
      duck.txn = None
      s
    }
    names(spark).filterNot(saved.contains).foreach(drop(spark, _))
    saved.foreach { case (n, t) =>
      t.df.createOrReplaceTempView(n)
      duck.tables.put(n, t)
    }
  }
}
