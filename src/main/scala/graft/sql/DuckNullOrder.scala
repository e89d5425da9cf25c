package graft.sql

/** DuckDB's default null ordering made explicit (round 18).
  *
  * DuckDB 1.0 sorts NULLs LAST by default — for ASC and DESC alike, in
  * statement-level ORDER BY, subqueries, and window ORDER BY. Spark's
  * ASC default is NULLS FIRST (DESC agrees: NULLS LAST), so a pasted
  * `ORDER BY x` over a nullable key silently returns NULLs at the
  * other end — the worst failure class (wrong rows under LIMIT, wrong
  * window frames for NULL rows), invisible to a sorted-compare gate.
  *
  * The transform appends ` NULLS LAST` to every sort key that carries
  * neither an explicit NULLS FIRST/LAST nor a trailing DESC — spelling
  * DuckDB's default out explicitly, which both grammars accept in every
  * ORDER BY position (statement, subquery, WITHIN GROUP, window spec,
  * before frame clauses). Applied AFTER a successful native parse (the
  * caller re-parses the transformed text and falls back to the original
  * plan if anything rejects it), and to the hint chain's reparse of
  * rewritten statements — so spliced row_number()/QUALIFY orderings
  * over user keys carry the host's null placement too.
  *
  * Deliberately skipped: bare `ALL` keys (Spark's ORDER BY ALL syntax
  * takes no per-key null order — that one key keeps Spark's default;
  * documented divergence), keys the scan can't delimit, and — by
  * construction — anything inside string literals or comments (the
  * scan runs on the masked text).
  */
object DuckNullOrder {

  private val orderByRe = "(?i)\\bORDER\\s+BY\\b".r
  private val nullsRe = "(?i)\\bNULLS\\s+(FIRST|LAST)\\s*\\z".r
  private val descRe = "(?i)\\bDESC\\s*\\z".r
  // Clause-level words that terminate a sort-key list at depth 0.
  // Expression-level words (AND, CASE, COLLATE, ASC, ...) are not here.
  private val terminators = Set(
    "LIMIT", "OFFSET", "FETCH", "WINDOW", "UNION", "EXCEPT", "INTERSECT",
    "ROWS", "RANGE", "GROUPS", "USING", "QUALIFY", "FOR", "INTO",
    "RETURNING", "HAVING", "WHERE", "GROUP", "ORDER", "SELECT", "FROM",
    "JOIN", "ON", "SETTINGS", "CLUSTER", "DISTRIBUTE", "SORT")

  private def wordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '$'

  /** End of the last string literal or quoted identifier in
    * text[from, to) — literals and comments are the only things living
    * there (see the call site); comments do not extend the key.
    */
  private def rawKeyEnd(view: DuckLexer, from: Int, to: Int): Int =
    (to - 1 to from by -1)
      .find(i => !view.text.charAt(i).isWhitespace && !view.inComment(i))
      .flatMap(view.span).fold(from)(_._2 min to)

  /** Raw [start, end) spans of every ORDER BY sort key in the masked
    * text (whitespace-trimmed on the mask) — shared with EnumTypes'
    * definition-order rewrite.
    */
  private[sql] def keySpans(m: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (h <- orderByRe.findAllMatchIn(m)) {
      var i = h.end
      var depth = 0
      var keyStart = i
      var done = false
      def closeKey(endExclusive: Int): Unit = {
        var ks = keyStart
        while (ks < endExclusive && m.charAt(ks).isWhitespace) ks += 1
        var ke = endExclusive
        while (ke > ks && m.charAt(ke - 1).isWhitespace) ke -= 1
        if (ke > ks) out += ((ks, ke))
      }
      while (i < m.length && !done) {
        val c = m.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') {
          if (depth == 0) { closeKey(i); done = true }
          else { depth -= 1; i += 1 }
        } else if (c == ';' && depth == 0) { closeKey(i); done = true }
        else if (c == ',' && depth == 0) {
          closeKey(i); i += 1; keyStart = i
        } else if (depth == 0 && c.isLetter &&
          (i == 0 || !wordChar(m.charAt(i - 1)))) {
          var e = i
          while (e < m.length && wordChar(m.charAt(e))) e += 1
          if (terminators(m.substring(i, e).toUpperCase)) {
            closeKey(i); done = true
          } else i = e
        } else i += 1
      }
      if (!done) closeKey(m.length)
    }
    out.toSeq
  }

  /** Some(rewritten) when at least one bare ASC key gained an explicit
    * NULLS LAST; None when the statement has nothing to change.
    */
  def rewrite(text: String): Option[String] = {
    val view = DuckLexer(text)
    val m = view.masked
    val inserts = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (h <- orderByRe.findAllMatchIn(m)) {
      var i = h.end
      var depth = 0
      var keyStart = i
      var done = false
      def closeKey(endExclusive: Int): Unit = {
        // Trim to the masked text's non-space extent (comments are
        // blanks in the mask, so an insertion never lands inside one).
        var ks = keyStart
        while (ks < endExclusive && m.charAt(ks).isWhitespace) ks += 1
        var ke = endExclusive
        while (ke > ks && m.charAt(ke - 1).isWhitespace) ke -= 1
        if (ke > ks) {
          val key = m.substring(ks, ke)
          val bareAll = key.trim.equalsIgnoreCase("ALL")
          if (!bareAll && nullsRe.findFirstIn(key).isEmpty &&
            descRe.findFirstIn(key).isEmpty) {
            // The masked trim lands SHORT of the raw key end when the
            // key ends in a string literal or comment (both fully
            // blanked in the mask) — inserting at ke would split a
            // trailing literal, and the reparse fallback would then
            // drop the transform for the WHOLE statement. The raw
            // tail [ke, endExclusive) holds ONLY masked regions plus
            // whitespace (any bare token would have survived the
            // mask and moved ke), so walk it: the insertion point is
            // the end of the LAST literal (comments don't extend the
            // key; a pure-comment tail keeps ke).
            inserts += rawKeyEnd(view, ke, endExclusive)
          }
        }
      }
      while (i < m.length && !done) {
        val c = m.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') {
          if (depth == 0) { closeKey(i); done = true }
          else { depth -= 1; i += 1 }
        } else if (c == ';' && depth == 0) { closeKey(i); done = true }
        else if (c == ',' && depth == 0) {
          closeKey(i); i += 1; keyStart = i
        } else if (depth == 0 && c.isLetter &&
          (i == 0 || !wordChar(m.charAt(i - 1)))) {
          var e = i
          while (e < m.length && wordChar(m.charAt(e))) e += 1
          if (terminators(m.substring(i, e).toUpperCase)) {
            closeKey(i); done = true
          } else i = e
        } else i += 1
      }
      if (!done) closeKey(m.length)
    }
    if (inserts.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    inserts.toList.distinct.sorted.foreach { p =>
      sb.append(text.substring(pos, p)).append(" NULLS LAST")
      pos = p
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }
}
