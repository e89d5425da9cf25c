package graft.sql

/** Mechanical rewrite of DuckDB's FROM-first syntax (friendly SQL,
  * DuckDB ≥0.8 — every DuckDB tutorial's first line):
  *
  * {{{
  * FROM tbl;
  * FROM tbl WHERE x > 7 ORDER BY x LIMIT 10;
  * -- becomes --
  * SELECT * FROM tbl ...;
  * }}}
  *
  * The statement must START with a top-level FROM (a WITH-prefixed or
  * ordinary SELECT never matches) and contain NO top-level SELECT — the
  * `FROM t SELECT cols` variant is Hive-legacy syntax Spark parses
  * NATIVELY, so the rewrite declines it and the delegate runs it as-is.
  * Everything after FROM (joins, WHERE, GROUP BY, ORDER BY, LIMIT)
  * rides along verbatim: `SELECT *` in front is exactly DuckDB's own
  * desugaring, and a rewritten statement that still fails re-enters the
  * chain (e.g. `FROM t QUALIFY ...` → SELECT * → QUALIFY splice).
  */
object FromFirstRewrite {

  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    if (words.isEmpty || words.head._1 != "FROM") return None
    // The prefix before FROM may only be whitespace and comments —
    // pasted DuckDB snippets routinely start with a `-- comment` line,
    // and topLevelWords already skipped them to find the head word.
    val prefix = sql.take(words.head._2)
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("--[^\n]*", " ")
    if (prefix.exists(!_.isWhitespace)) return None
    if (words.exists(_._1 == "SELECT")) return None // FROM..SELECT: native
    Some(sql.substring(0, words.head._2) + "SELECT * " +
      sql.substring(words.head._2))
  }

  /** FROM-first inside a PARENTHESIZED subquery — `WHERE EXISTS (FROM t
    * WHERE ...)`, `SELECT * FROM (FROM t)` (round-20 fourteenth probe;
    * the host accepts FROM-first in every query position). One splice
    * per pass: the chain re-parses and recurses for further
    * occurrences. The inner text goes through the SAME top-level
    * rewrite, so the `FROM t SELECT cols` variant keeps declining.
    */
  def rewriteSubquery(sql: String): Option[String] = {
    val masked = DuckLexer(sql).masked
    val re = "(?is)\\(\\s*FROM\\b".r
    for (h <- re.findAllMatchIn(masked)) {
      val open = h.start
      val close = DuckLexer(sql).closeOf(open)
      if (close > 0) {
        val inner = sql.substring(open + 1, close - 1)
        rewrite(inner) match {
          case Some(r) =>
            return Some(sql.substring(0, open + 1) + r +
              sql.substring(close - 1))
          case None =>
        }
      }
    }
    None
  }
}
