package graft.sql

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import org.apache.spark.sql.SparkSession

import DuckLiterals.halveBackslashes

/** DuckDB's temp-table DML surface executing — the backbone of pasted
  * ETL scripts:
  *
  * {{{
  * CREATE [OR REPLACE] TEMP TABLE t AS <query>;   -- Count row, like DuckDB
  * CREATE TEMP TABLE t (a INTEGER, b VARCHAR);    -- empty result
  * INSERT INTO t <query|VALUES ...> [RETURNING exprs];
  * INSERT INTO t (a, b) <query>;                  -- column-list form
  * INSERT OR REPLACE INTO t <query>;              -- keyed upsert (declared PK)
  * INSERT OR IGNORE INTO t <query>;               -- keyed skip (declared PK)
  * INSERT INTO t <query> ON CONFLICT [(cols)] DO NOTHING;
  * UPDATE t SET ... WHERE ...;  DELETE FROM t WHERE ...;  -- via UpdateDeleteRewrite
  * DROP TABLE [IF EXISTS] t;
  * }}}
  *
  * Spark has no temp TABLES (CREATE TEMPORARY TABLE is rejected;
  * TEMPORARY VIEWs are lazy plans, not snapshots), so these intercept
  * PRE-delegation and become commands ([[DuckCommands]]) over
  * [[TempTables]] — materialized scratch-parquet snapshots fronted by a
  * same-named temp view. INSERT ... RETURNING becomes an
  * [[InsertReturningCommand]]: it appends (to a temp or a CATALOG table)
  * and returns the projected inserted rows, DuckDB's contract.
  *
  * Scope guards: single-part plain names; INSERT/DROP claim only names
  * in the temp-table registry (catalog tables keep Spark's native
  * INSERT path — except when RETURNING forces the command);
  * `BY NAME` inserts into temp tables decline to the hint.
  */
object TempTableRewritten {
  def unapply(sql: String): Option[LogicalPlan] =
    if (TempTableRewrite.isShaped(sql)) TempTableRewrite.rewrite(sql)
    else None
}

object TempTableRewrite {

  private val createRe =
    """(?is)\A\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+([A-Za-z_]\w*)\s+AS\s+(.+?)\s*;?\s*\z""".r
  private val createColsRe =
    """(?is)\A\s*CREATE\s+(OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+([A-Za-z_]\w*)\s*\((.+)\)\s*;?\s*\z""".r
  // `\s*` between name and body: the common column-list spelling
  // `INSERT INTO t(a, b) VALUES ...` has no whitespace before `(` —
  // the greedy `\w*` still captures the full table name, so the body
  // can only ever begin at a non-word char.
  private val insertRe =
    """(?is)\A\s*INSERT\s+INTO\s+([A-Za-z_]\w*)\s*(.+?)\s*;?\s*\z""".r
  // DuckDB's keyed-ingest shorthands (parse-fail in Spark, so claiming
  // the prefix can never shadow a native statement).
  private val insertOrRe =
    """(?is)\A\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([A-Za-z_]\w*)\s*(.+?)\s*;?\s*\z""".r
  private val dropRe =
    """(?is)\A\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r

  private val shapeRe =
    """(?is)\A\s*(CREATE\s+(OR\s+REPLACE\s+)?TEMP|INSERT\s+(OR\s+(REPLACE|IGNORE)\s+)?INTO|DROP\s+TABLE)\b""".r

  def isShaped(sql: String): Boolean = shapeRe.findFirstIn(sql).isDefined


  /** Persistent-catalog presence (NOT temp views — a view upsert must
    * keep DuckDB's error shape, raised by the TVF).
    */
  private def catalogHas(name: String): Boolean =
    try SparkSession.active.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    catch { case NonFatal(_) => false }

  /** Optional leading column list: a parenthesized ident CSV followed
    * by MORE text (a bare `(SELECT ...)` body has no trailing text
    * after its close paren). None = unparseable (unbalanced paren).
    */
  private def splitColsBody(body0: String): Option[(Seq[String], String)] =
    if (body0.startsWith("(")) {
      // closeOf returns the index AFTER the matching ')'.
      val close = DuckLexer(body0).closeOf(0)
      if (close < 0) return None
      val inner = body0.substring(1, close - 1)
      val after = body0.substring(close).trim
      val idents = inner.split(",").map(_.trim)
      if (after.nonEmpty && idents.nonEmpty &&
        idents.forall(_.matches("[A-Za-z_]\\w*")))
        Some((idents.toSeq, after))
      else Some((Seq.empty[String], body0))
    } else Some((Seq.empty[String], body0))

  /** The statement's command, or None → Spark's native path. */
  def rewrite(sql: String): Option[LogicalPlan] =
    try {
      sql match {
        case createRe(orReplace, name, query) =>
          Some(CreateTempTableAsCommand(name, halveBackslashes(query.trim), orReplace != null))
        case createColsRe(orReplace, name, colDefs) =>
          Some(CreateTempTableCommand(name, halveBackslashes(colDefs.trim), orReplace != null))
        case dropRe(_, name) if TempTables.exists(SparkSession.active, name) =>
          Some(DropTempTableCommand(name))
        case insertOrRe(modeWord, name, rest) =>
          // INSERT OR REPLACE / OR IGNORE — keyed upsert against the
          // declared PRIMARY KEY: graft temp tables AND (round 17)
          // catalog tables (the upsert command runs the staged
          // INSERT-OVERWRITE recipe there; the PK comes from the
          // constraint-stripping CREATE TABLE claim).
          if (!TempTables.exists(SparkSession.active, name) && !catalogHas(name)) return None
          val words = DuckLexer(rest).topLevelWords
          if (words.exists(_._1 == "?")) return None
          // RETURNING / an explicit ON CONFLICT on top of the shorthand
          // have no lane here.
          if (words.exists(w => w._1 == "RETURNING" || w._1 == "CONFLICT"))
            return None
          val (cols, body) = splitColsBody(rest.trim).getOrElse(return None)
          Some(UpsertCommand(name, halveBackslashes(body), cols, Nil,
            if (modeWord.equalsIgnoreCase("REPLACE")) ConflictAction.Replace
            else ConflictAction.Ignore))
        case insertRe(name, rest) =>
          // RETURNING split: last top-level RETURNING word.
          val words = DuckLexer(rest).topLevelWords
          if (words.exists(_._1 == "?")) return None
          val retW = words.reverse.find(_._1 == "RETURNING")
          val (body0, returning) = retW match {
            case Some((_, pos)) =>
              (rest.substring(0, pos).trim,
                Some(rest.substring(pos + "RETURNING".length).trim))
            case None => (rest.trim, None)
          }
          val isTemp = TempTables.exists(SparkSession.active, name)
          // BY NAME into a temp table has no lane here; native/hint path.
          if (body0.toUpperCase.startsWith("BY NAME")) return None
          // ON CONFLICT [(cols)] DO NOTHING — the explicit conflict
          // clause (paren-aware scan, so a join's ON inside the source
          // query is never mistaken for it). DO UPDATE declines to the
          // hint; combining with RETURNING declines too.
          val bodyWords = DuckLexer(body0).topLevelWords
          val conflictAt = bodyWords.sliding(2).collectFirst {
            case Seq((on, pos), (conf, _))
              if on == "ON" && conf == "CONFLICT" => pos
          }
          conflictAt match {
            case Some(pos) =>
              if ((!isTemp && !catalogHas(name)) || returning.isDefined)
                return None
              val clause = body0.substring(pos).trim
              val headRe = ("(?is)\\AON\\s+CONFLICT\\s*" +
                "(?:\\(([^)]*)\\)\\s*)?DO\\s+(NOTHING|UPDATE)\\b").r
              val m = headRe.findFirstMatchIn(clause).getOrElse(return None)
              val keys = Option(m.group(1)).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
              val (cols, body) =
                splitColsBody(body0.substring(0, pos).trim).getOrElse(return None)
              val tail = clause.substring(m.end).trim
              if (m.group(2).equalsIgnoreCase("NOTHING")) {
                if (tail.nonEmpty) return None
                Some(UpsertCommand(name, halveBackslashes(body), cols, keys,
                  ConflictAction.Ignore))
              } else {
                // DO UPDATE SET a = expr, ... [WHERE cond] — the WHERE
                // split uses the quote/comment-aware word scan (a
                // ' WHERE ' inside a string literal is data).
                val setM = "(?is)\\ASET\\s+(.+)\\z".r
                  .findFirstMatchIn(tail).getOrElse(return None)
                val setAll = setM.group(1)
                val whereW = DuckLexer(setAll).topLevelWords
                  .find(_._1 == "WHERE")
                val (setText, whereText) = whereW match {
                  case Some((_, p)) =>
                    (setAll.substring(0, p).trim,
                      setAll.substring(p + "WHERE".length).trim)
                  case None => (setAll.trim, "")
                }
                if (setText.isEmpty) return None
                Some(UpsertCommand(name, halveBackslashes(body), cols, keys,
                  ConflictAction.Update(halveBackslashes(setText), halveBackslashes(whereText))))
              }
            case None =>
              if (!isTemp && returning.isEmpty) return None // native INSERT
              if (!isTemp && !catalogHas(name)) return None // catalog + RETURNING
              val (cols, body) = splitColsBody(body0).getOrElse(return None)
              returning match {
                case None => Some(InsertIntoTempCommand(name, halveBackslashes(body), cols))
                case Some(ret) =>
                  Some(InsertReturningCommand(name, halveBackslashes(body), cols,
                    halveBackslashes(ret)).withOutput(SparkSession.active))
              }
          }
        case _ => None
      }
    } catch {
      // A RETURNING list that does not analyse must surface as itself.
      case e: org.apache.spark.sql.AnalysisException => throw e
      case NonFatal(_) => None
    }
}
