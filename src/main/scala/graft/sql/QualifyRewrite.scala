package graft.sql

/** Mechanical rewrite of DuckDB's `QUALIFY` clause (window-function filter,
  * evaluated after window computation — DuckDB docs, the reference host's
  * QoL surface) into the ANSI subquery form Spark parses:
  *
  * {{{
  * SELECT a, b FROM t QUALIFY row_number() OVER (...) <= k ORDER BY a
  * -- becomes --
  * SELECT * EXCEPT (__graft_qualify) FROM (
  *   SELECT a, b, (row_number() OVER (...) <= k) AS __graft_qualify FROM t
  * ) __graft_q WHERE __graft_qualify ORDER BY a
  * }}}
  *
  * The predicate is spliced INTO the original select list (not an outer
  * projection), so it sees the same name scope QUALIFY does — any column of
  * the FROM relations, grouped/aggregated expressions, and (via Spark's
  * lateral column aliases) select-list aliases. Window evaluation order is
  * preserved: the predicate's windows compute alongside the query's own,
  * after grouping, before the filter. Trailing ORDER BY / LIMIT move
  * outside the wrap so they order the FILTERED rows, matching DuckDB.
  *
  * Purely textual and deliberately conservative — a single query block
  * only. Returns None (caller falls back to the landing-pad hint) for
  * shapes where the splice would change meaning: top-level set operations
  * (UNION/INTERSECT/EXCEPT branches own their clauses) and SELECT DISTINCT
  * (DuckDB applies QUALIFY before DISTINCT; splicing the predicate into a
  * distinct list would change the dedup key). The scan is quote- and
  * paren-aware, so QUALIFY inside strings, quoted identifiers, comments,
  * or subqueries (CTE bodies included) never triggers a rewrite.
  */
object QualifyRewrite {

  /** The rewritten statement, or None when the shape isn't the supported
    * single query block (caller then surfaces the landing-pad hint).
    */
  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    val qIdx = words.indexWhere(_._1 == "QUALIFY")
    if (qIdx < 0) return None
    // Positional parameters bind by marker order — reordering text around
    // them rebinds values silently. Decline; the hint shows the manual form.
    if (words.exists(_._1 == "?")) return None
    // Bail on shapes the splice would change: set operations (EXCEPT only
    // when used as one — the star-EXCEPT projection `* EXCEPT (col, …)`
    // has '(' next but never '(SELECT'; a parenthesized set-op branch
    // `EXCEPT (SELECT …)` must still count as a set operation) and
    // SELECT DISTINCT.
    val setOp = words.exists { case (w, p) =>
      w == "UNION" || w == "INTERSECT" || (w == "EXCEPT" && {
        val rest = sql.drop(p + "EXCEPT".length).trim
        !rest.startsWith("(") ||
          rest.drop(1).trim.toUpperCase.startsWith("SELECT")
      })
    }
    val selIdx = words.indexWhere(_._1 == "SELECT")
    if (setOp || selIdx < 0) return None
    if (words.lift(selIdx + 1).exists(_._1 == "DISTINCT")) return None
    // Select list ends at the first depth-0 FROM after SELECT; QUALIFY
    // must come after it (i.e. belong to this block).
    val fromPos = words.drop(selIdx + 1).find(_._1 == "FROM").map(_._2)
      .getOrElse(return None)
    val qPos = words(qIdx)._2
    if (fromPos > qPos) return None
    // Predicate runs to the next top-level trailing clause or end of
    // statement. DuckDB also allows a bare OFFSET, and FETCH FIRST … ROWS
    // ONLY, after QUALIFY — fold those out of the predicate text too.
    val trailPos = words.drop(qIdx + 1)
      .find(t => t._1 == "ORDER" || t._1 == "LIMIT" ||
        t._1 == "OFFSET" || t._1 == "FETCH")
      .map(_._2).getOrElse(sql.length)
    val pred = sql.substring(qPos + "QUALIFY".length, trailPos).trim
      .stripSuffix(";").trim
    if (pred.isEmpty) return None
    val trailing = sql.substring(trailPos)
    val inner = sql.substring(0, fromPos) +
      s", ($pred) AS __graft_qualify " +
      sql.substring(fromPos, qPos)
    Some(s"SELECT * EXCEPT (__graft_qualify) FROM ( $inner ) __graft_q " +
      s"WHERE __graft_qualify $trailing")
  }
}
