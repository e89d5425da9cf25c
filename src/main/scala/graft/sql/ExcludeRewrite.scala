package graft.sql

/** Mechanical rewrite of DuckDB's star-projection `EXCLUDE` (friendly
  * SQL: `SELECT * EXCLUDE (c1, c2) FROM t`) into Spark 4's native
  * `* EXCEPT (c1, c2)`. The two forms are the same feature under
  * different keywords, so the rewrite is a word swap — but only where
  * the word is REALLY that construct: an `EXCLUDE` that (ignoring
  * whitespace and comments) follows `*` and precedes `(` — or, DuckDB's
  * bare single-name form, one non-keyword identifier (`* EXCLUDE id`,
  * parenthesized into `* EXCEPT (id)`) — at ANY paren
  * depth (subqueries included), outside string literals, quoted
  * identifiers, and comments. Anything else — `EXCLUDE` as an
  * identifier, inside a string — is left byte-for-byte intact. Returns
  * None when nothing qualified (caller rethrows the original parse
  * error).
  */
object ExcludeRewrite {

  /** Clause keywords that must not be claimed as the bare excluded
    * name (`SELECT * EXCLUDE FROM t` is not the single-name form).
    */
  private val keywords = Set(
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "QUALIFY",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "NATURAL", "ON", "USING", "AS", "OFFSET")

  def rewrite(sql: String): Option[String] = {
    val view = DuckLexer(sql)
    val n = sql.length
    def significant(i: Int) = !sql.charAt(i).isWhitespace && !view.inComment(i)
    // (excludeStart, replaceEnd, bareName): parenthesized hits carry
    // bareName = None and replace just the keyword; bare-name hits
    // consume through the identifier and re-emit it parenthesized.
    val spans = Vector.newBuilder[(Int, Int, Option[String])]
    for ((w, s) <- view.words if w == "EXCLUDE" &&
        (s - 1 to 0 by -1).find(significant).exists(sql.charAt(_) == '*')) {
      // Next significant char must open the column list.
      val e = s + w.length
      val j = (e until n).find(significant).getOrElse(n)
      val next = if (j < n) sql.charAt(j) else ' '
      if (next == '(') spans += ((s, e, None))
      else if (next.isLetter || next == '_') {
        var k = j
        while (k < n && DuckLexer.wordCh(sql.charAt(k))) k += 1
        val name = sql.substring(j, k)
        if (!keywords.contains(name.toUpperCase)) spans += ((s, k, Some(name)))
      }
    }
    val hits = spans.result()
    if (hits.isEmpty) None
    else {
      val sb = new StringBuilder
      var pos = 0
      hits.foreach { case (s, e, bare) =>
        sb.append(sql.substring(pos, s))
          .append(bare.fold("EXCEPT")(nm => s"EXCEPT ($nm)"))
        pos = e
      }
      sb.append(sql.substring(pos))
      Some(sb.toString)
    }
  }
}
