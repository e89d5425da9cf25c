package graft.sql

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import org.apache.spark.sql.SparkSession

import DuckLiterals.halveBackslashes

/** Literal `UPDATE t SET ... [WHERE ...]` and `DELETE FROM t [WHERE ...]`
  * statements EXECUTING against v1 catalog tables — DuckDB's mutation
  * DML, pasted unchanged.
  *
  * Spark PARSES both statements (DataSource-v2 row-level plans) but
  * every v1/parquet catalog table fails analysis with "does not support
  * row-level operations", so OSS Spark users rewrite by hand what
  * [[graft.queries.AnalyticsQueries]] q53 demonstrates: read → transform
  * (UPDATE = conditional column rewrite, DELETE = negated filter) →
  * stage (a table cannot be overwritten by a plan that reads it) →
  * INSERT OVERWRITE. This rewrite does that mechanically: the statement
  * is intercepted PRE-delegation (parse succeeds, so the
  * ParseException-driven hint chain never sees it) and becomes an
  * [[UpdateTableCommand]] / [[DeleteFromCommand]] (joined forms:
  * [[UpdateFromCommand]] / [[DeleteUsingCommand]]), which Spark runs
  * once as a command: the staged overwrite, returning DuckDB's one-row
  * `Count` (rows updated / deleted). The RETURNING forms become
  * [[UpdateReturningCommand]] / [[DeleteReturningCommand]], which also
  * return the written rows.
  *
  * Scope guard: ONLY single-part names that resolve to an existing
  * non-temporary v1 session-catalog table are claimed. Temp views,
  * missing tables, and multipart names fall through to Spark's native
  * path untouched — a DSv2 table that genuinely supports row-level
  * operations keeps its native semantics. At 100 TB the same recipe
  * overwrites only affected partitions (dynamic partition overwrite);
  * this lane is the full-table form.
  */
object UpdateDeleteRewrite {

  private val updateRe = "(?is)\\A\\s*UPDATE\\b.*".r
  private val deleteRe = "(?is)\\A\\s*DELETE\\b.*".r

  def isShaped(sql: String): Boolean =
    updateRe.findFirstIn(sql).isDefined || deleteRe.findFirstIn(sql).isDefined

  /** File-source providers whose tables FAIL Spark's native row-level
    * path — the ones this rewrite may claim. A DSv2 format that
    * genuinely supports row-level operations (delta, iceberg, ...) is
    * registered in the same session catalog, so a bare tableExists
    * check would hijack its UPDATE/DELETE into the full-table staged
    * overwrite and lose native transactional semantics — the provider
    * must be inspected, not just existence.
    */
  private[sql] val v1FileProviders =
    Set("parquet", "csv", "json", "orc", "text", "avro", "hive")

  private def isPlainV1Table(name: String): Boolean =
    try {
      // Graft temp tables (materialized snapshots fronted by a temp
      // view — TempTables) are mutable targets too; plain user temp
      // views are not.
      val spark = SparkSession.active
      if (TempTables.exists(spark, name)) return true
      val cat = spark.sessionState.catalog
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
      cat.getTempView(name).isEmpty && cat.tableExists(ident) && {
        val meta = cat.getTableMetadata(ident)
        // provider None = legacy hive serde table — also no native
        // row-level support; claim it alongside the v1 file sources.
        meta.provider.map(_.toLowerCase).forall(v1FileProviders.contains)
      }
    } catch { case NonFatal(_) => false }

  /** An IN/EXISTS subquery in a predicate. */
  private[sql] val subqueryRe = "(?is)\\b(?:IN|EXISTS)\\s*\\(\\s*SELECT\\b".r

  private def stripSemi(s: String): String = {
    val t = s.trim
    if (t.endsWith(";")) t.dropRight(1).trim else t
  }

  /** The statement's command, or None → delegate to Spark's native path. */
  def rewrite(sql: String): Option[LogicalPlan] =
    try {
      val words = DuckLexer(sql).topLevelWords
      if (words.isEmpty) return None
      if (words.exists(_._1 == "?")) return None // positional params move
      words.head._1 match {
        case "UPDATE" =>
          // UPDATE <ident> SET <assignments> [WHERE <pred>]
          if (words.length < 3 || words(2)._1 != "SET") return None
          val tbl = sql.substring(
            words.head._2 + "UPDATE".length, words(2)._2).trim
          if (!tbl.matches("[A-Za-z_]\\w*") || !isPlainV1Table(tbl)) return None
          val setStart = words(2)._2 + "SET".length
          val whereW = words.find(w => w._1 == "WHERE" && w._2 > setStart)
          // RETURNING exprs (round 20): trailing clause, host returns
          // the NEW values of matched rows.
          val retW = words.find(w => w._1 == "RETURNING" && w._2 > setStart)
          // Joined UPDATE (round 18): a top-level FROM between SET and
          // WHERE routes to UpdateFromCommand (arbitrary-match-once
          // semantics, DuckDB-pinned).
          val fromW = words.find(w => w._1 == "FROM" && w._2 > setStart &&
            whereW.forall(w._2 < _._2) && retW.forall(w._2 < _._2))
          val setText = stripSemi(sql.substring(setStart,
            fromW.orElse(whereW).orElse(retW).map(_._2).getOrElse(sql.length)))
          val whereText = whereW
            .map(w => stripSemi(sql.substring(w._2 + "WHERE".length,
              retW.map(_._2).getOrElse(sql.length))))
            .getOrElse("")
          val retText = retW
            .map(w => stripSemi(sql.substring(w._2 + "RETURNING".length)))
            .getOrElse("")
          if (setText.isEmpty) return None
          if (retW.isDefined) {
            if (fromW.isDefined || retText.isEmpty) return None
            return Some(UpdateReturningCommand(tbl, halveBackslashes(setText),
              halveBackslashes(whereText), halveBackslashes(retText)).withOutput(SparkSession.active))
          }
          fromW match {
            case Some((_, fp)) =>
              val srcText = stripSemi(sql.substring(fp + "FROM".length,
                whereW.map(_._2).getOrElse(sql.length)))
              if (srcText.isEmpty) return None
              return Some(UpdateFromCommand(tbl, halveBackslashes(setText),
                halveBackslashes(srcText), halveBackslashes(whereText)))
            case None =>
          }
          // UpdateTableCommand compiles the predicate inside a Project
          // (when(expr(where), ...)), where Spark forbids IN/EXISTS
          // subqueries ("only allowed in Filter") — the raw error
          // would surface from deep inside the command. Decline loudly with the
          // workable rewrite instead. (DELETE is unaffected: its
          // predicate compiles to a real Filter, where subqueries ARE
          // legal.)
          if (subqueryRe.findFirstIn(whereText).isDefined)
            throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION",
              Map("errorMessage" ->
                ("UPDATE ... WHERE with an IN/EXISTS subquery cannot run " +
                  "through the staged-overwrite rewrite (Spark only allows " +
                  "such subqueries in a Filter, and the conditional SET " +
                  "compiles to a projection). Materialize the key set " +
                  "first (CREATE TEMP TABLE keys AS SELECT ...) and " +
                  "UPDATE ... WHERE k IN (SELECT k FROM keys) becomes a " +
                  "join-free predicate, or express the mutation as " +
                  "CREATE OR REPLACE TEMP TABLE t AS SELECT with a " +
                  "CASE over a LEFT SEMI-joined flag.")))
          Some(UpdateTableCommand(tbl, halveBackslashes(setText),
            halveBackslashes(whereText)))
        case "DELETE" =>
          if (words.length < 2 || words(1)._1 != "FROM") return None
          val fromEnd = words(1)._2 + "FROM".length
          val whereW = words.find(w => w._1 == "WHERE" && w._2 > fromEnd)
          // RETURNING exprs (round 20): host returns the DELETED rows.
          val retW = words.find(w => w._1 == "RETURNING" && w._2 > fromEnd)
          // Joined DELETE (round 18): DELETE FROM t USING src WHERE ...
          // routes to DeleteUsingCommand (NOT EXISTS anti-join).
          val usingW = words.find(w => w._1 == "USING" && w._2 > fromEnd &&
            whereW.forall(w._2 < _._2) && retW.forall(w._2 < _._2))
          val tbl = stripSemi(sql.substring(fromEnd,
            usingW.orElse(whereW).orElse(retW).map(_._2)
              .getOrElse(sql.length))).trim
          if (!tbl.matches("[A-Za-z_]\\w*") || !isPlainV1Table(tbl)) return None
          val whereText = whereW
            .map(w => stripSemi(sql.substring(w._2 + "WHERE".length,
              retW.map(_._2).getOrElse(sql.length))))
            .getOrElse("")
          val retText = retW
            .map(w => stripSemi(sql.substring(w._2 + "RETURNING".length)))
            .getOrElse("")
          if (retW.isDefined) {
            if (usingW.isDefined || retText.isEmpty) return None
            return Some(DeleteReturningCommand(tbl, halveBackslashes(whereText),
              halveBackslashes(retText)).withOutput(SparkSession.active))
          }
          usingW match {
            case Some((_, up)) =>
              val srcText = stripSemi(sql.substring(up + "USING".length,
                whereW.map(_._2).getOrElse(sql.length)))
              if (srcText.isEmpty) return None
              Some(DeleteUsingCommand(tbl, halveBackslashes(srcText),
                halveBackslashes(whereText)))
            case None =>
              Some(DeleteFromCommand(tbl, halveBackslashes(whereText)))
          }
        case _ => None
      }
    } catch {
      // Deliberate hints (the IN/EXISTS decline above) must surface;
      // anything else falls back to Spark's native path.
      case e: org.apache.spark.sql.AnalysisException => throw e
      case NonFatal(_) => None
    }
}
