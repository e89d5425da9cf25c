package graft.sql

import scala.util.control.NonFatal

/** Mechanical rewrite of DuckDB's star-projection `REPLACE` (friendly
  * SQL: `SELECT * REPLACE (expr AS c1, ...) FROM t ...`). Spark has
  * `* EXCEPT` but no `* REPLACE`, so the star is expanded into the
  * table's explicit column list with the replaced columns swapped for
  * their expressions — the same catalog-resolved expansion the analyzer
  * itself would do, performed textually before the splice:
  *
  * {{{
  * SELECT * REPLACE (round(o_totalprice/1000, 1) AS o_totalprice)
  * FROM orders WHERE ...
  * -- becomes --
  * SELECT `o_orderkey`, ..., (round(o_totalprice/1000, 1)) AS `o_totalprice`, ...
  * FROM orders WHERE ...
  * }}}
  *
  * Column order and names are preserved exactly (DuckDB's REPLACE keeps
  * the star's order), so both engines can run their respective texts and
  * hash-compare. Deliberately conservative like the sibling rewrites —
  * supported shape: ONE `* REPLACE` in the statement, a top-level
  * `SELECT * REPLACE (...) FROM <single-part name>` with no join (the
  * star would cover both sides and the expansion only has one side's
  * catalog schema), the name resolvable in the session catalog at
  * rewrite time, and every replacement target `expr AS name` naming an
  * existing column. Everything else returns None and the caller
  * surfaces the landing-pad hint.
  */
object ReplaceRewrite {

  private val starReplaceRe = """(?i)\*\s*REPLACE\b""".r

  def rewrite(sql: String): Option[String] =
    starListRewrite(sql, "REPLACE", starReplaceRe)

  /** DuckDB's `SELECT * RENAME (old AS new, ...)` (host ≥1.1 — the 1.0
    * oracle predates it, so the lane is spec-pinned): same single-table
    * star expansion, but the listed columns keep their EXPRESSION (the
    * source column) and change their NAME, in place.
    */
  def rewriteRename(sql: String): Option[String] =
    starListRewrite(sql, "RENAME", starRenameRe)

  private[sql] val starRenameRe = "(?is).*\\*\\s*RENAME\\s*\\(.*".r

  private def starListRewrite(sql: String, keyword: String,
      guard: scala.util.matching.Regex): Option[String] = {
    if (guard.findAllMatchIn(sql).size != 1) return None
    val words = DuckLexer(sql).topLevelWords
    val selIdx = words.indexWhere(_._1 == "SELECT")
    if (selIdx != 0 || words.isEmpty) return None
    if (sql.take(words(0)._2).exists(!_.isWhitespace)) return None
    // Joins (explicit or comma) would make the single-table expansion
    // silently wrong — the star covers both sides in DuckDB.
    if (words.exists(w => Set("JOIN", "CROSS", "NATURAL", "UNION",
      "INTERSECT", "EXCEPT")(w._1))) return None

    val afterSel = words(selIdx)._2 + "SELECT".length
    val starM = """(?s)\A\s*\*""".r.findFirstMatchIn(sql.substring(afterSel))
      .getOrElse(return None)
    val starPos = afterSel + starM.end - 1
    val replM = ("(?is)\\A\\s*" + keyword + "\\s*\\(").r
      .findFirstMatchIn(sql.substring(starPos + 1)).getOrElse(return None)
    val openParen = starPos + 1 + replM.end - 1
    val afterList = DuckLexer(sql).closeOf(openParen)
    if (afterList < 0) return None
    val listText = sql.substring(openParen + 1, afterList - 1)

    // FROM must follow the list directly; the table is a plain
    // single-part name followed by no top-level comma (comma join).
    val fromM = """(?is)\A\s*FROM\s+""".r
      .findFirstMatchIn(sql.substring(afterList)).getOrElse(return None)
    val namePos = afterList + fromM.end
    val nameM = """\A[A-Za-z_]\w*""".r.findFirstMatchIn(sql.substring(namePos))
      .getOrElse(return None)
    val tname = nameM.group(0)
    if (namePos + nameM.end < sql.length && sql.charAt(namePos + nameM.end) == '.')
      return None // multipart name
    // A top-level comma anywhere after FROM is a comma join (the select
    // list was consumed above; top-level commas cannot appear in
    // WHERE/GROUP/ORDER at depth 0 except as list separators, which the
    // expansion must also decline: ORDER BY a, b is depth-0 commas...
    // so restrict the scan to the FROM..first-clause-keyword span).
    val tail = sql.substring(namePos + nameM.end)
    val clauseM = """(?is)\b(WHERE|GROUP|HAVING|ORDER|LIMIT|QUALIFY|WINDOW)\b""".r
      .findFirstMatchIn(tail)
    val fromSpan = clauseM.map(cm => tail.substring(0, cm.start)).getOrElse(tail)
    if (fromSpan.contains(",")) return None

    // Replacement targets: `expr AS name`, name = LAST top-level AS.
    val items = DuckLexer(listText).split(',').map(_.trim)
    if (items.isEmpty || items.exists(_.isEmpty)) return None
    val repl = scala.collection.mutable.LinkedHashMap[String, String]()
    items.foreach { item =>
      val ws = DuckLexer(item).topLevelWords
      val lastAs = ws.lastIndexWhere(_._1 == "AS")
      if (lastAs < 0) return None
      val asPos = ws(lastAs)._2
      val expr = item.substring(0, asPos).trim
      val target = item.substring(asPos + 2).trim
      if (expr.isEmpty || !target.matches("[A-Za-z_]\\w*")) return None
      if (repl.put(target.toLowerCase, expr).isDefined) return None
    }

    val spark = try org.apache.spark.sql.SparkSession.active
      catch { case NonFatal(_) => return None }
    val cols = try spark.table(tname).columns catch { case NonFatal(_) => return None }
    val projected =
      if (keyword == "REPLACE") {
        if (!repl.keySet.forall(t => cols.exists(_.toLowerCase == t))) return None
        cols.map { c =>
          repl.get(c.toLowerCase) match {
            case Some(expr) => s"($expr) AS `$c`"
            case None => s"`$c`"
          }
        }.mkString(", ")
      } else {
        // RENAME: items are `old AS new` — old must be a plain existing
        // column (listed as the map's VALUE side), new the fresh name.
        val renames = scala.collection.mutable.LinkedHashMap[String, String]()
        repl.foreach { case (newName, oldExpr) =>
          val old = oldExpr.trim
          if (!old.matches("[A-Za-z_]\\w*")) return None
          if (!cols.exists(_.equalsIgnoreCase(old))) return None
          if (renames.put(old.toLowerCase, newName).isDefined) return None
        }
        cols.map { c =>
          renames.get(c.toLowerCase) match {
            case Some(nn) => s"`$c` AS `$nn`"
            case None => s"`$c`"
          }
        }.mkString(", ")
      }
    Some(sql.substring(0, starPos) + projected + sql.substring(afterList))
  }
}
