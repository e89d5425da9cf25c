package graft.sql

import scala.util.control.NonFatal

/** Mechanical rewrite of DuckDB's literal `ASOF JOIN` syntax (the
  * reference host's capability — DuckDB ≥0.10, pinned by
  * MainDistributionPipeline.yml:29) into the `asof_join()` table-function
  * splice Spark can host:
  *
  * {{{
  * SELECT e.user_id, ts, last_order
  * FROM ev e ASOF JOIN ord o ON e.user_id = o.user_id AND e.ts >= o.ot
  * -- becomes --
  * SELECT e.user_id, ts, last_order
  * FROM asof_join('ev', 'ord', 'user_id', 'ts', 'ot', '<payload_csv>',
  *                false, true) AS e
  * }}}
  *
  * The TVF output is aliased as the LEFT side's alias, so left-qualified
  * references keep resolving; payload is every right column except the
  * key and the right order column (the columns the TVF can expose).
  *
  * Purely textual and deliberately conservative, like [[QualifyRewrite]]:
  * the scan reuses its quote/paren/comment-aware scanner, and any shape
  * outside the common backward-as-of form returns None — the caller then
  * surfaces the landing-pad hint. Declined shapes include: set
  * operations; a bare `*` or right-qualified star in the select list
  * (the TVF projects left + payload, NOT DuckDB's `l.* , r.*` — those
  * stars would silently change the output schema; a LEFT-qualified
  * `e.*` is fine and expands to the explicit catalog column list
  * before the splice); multipart or quoted table names; an ON
  * condition that is not exactly one same-named key equality AND one
  * order inequality (backward `l.ts >= r.ts` / `r.ts <= l.ts`, forward
  * `l.ts <= r.ts` / `r.ts >= l.ts`, strict variants of each);
  * right-alias-qualified references outside the ON clause (the right
  * relation does not survive the splice as a nameable side); tables the
  * session catalog cannot resolve at rewrite time (payload needs the
  * right side's column list); and payload columns clashing with left
  * columns (the TVF would reject them).
  */
object AsofJoinRewrite {

  private val clauseEnders = Set(
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "FETCH",
    "QUALIFY", "WINDOW", "UNION", "INTERSECT", "EXCEPT")
  private val nonNameWords = clauseEnders ++ Set(
    "ASOF", "JOIN", "LEFT", "AS", "ON", "USING", "SELECT", "FROM", "AND")

  /** One ON conjunct: `qual.col <op> qual.col`. */
  private val conjunctRe =
    """(?s)\A\s*(\w+)\s*\.\s*(\w+)\s*(>=|<=|=|>|<)\s*(\w+)\s*\.\s*(\w+)\s*\z""".r

  /** Every `*` at paren-depth 0, outside strings/quoted identifiers/
    * comments, with its qualifier when written `qual.*`: (spanStart,
    * spanEnd, qualifier) — the span covers `qual . *` so a replacement
    * can splice over the whole reference.
    */
  private def topLevelStars(s: String): Vector[(Int, Int, Option[String])] =
    DuckLexer(s).topLevel()(s.charAt(_) == '*').map { i =>
      // Walk back: whitespace, '.', whitespace, identifier.
      var j = i - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      val qual =
        if (j >= 0 && s.charAt(j) == '.') {
          var k = j - 1
          while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
          val e = k + 1
          while (k >= 0 && DuckLexer.wordCh(s.charAt(k))) k -= 1
          if (e > k + 1 && !s.charAt(k + 1).isDigit)
            Some((k + 1, s.substring(k + 1, e)))
          else None
        } else None
      qual match {
        case Some((qs, q)) => (qs, i + 1, Some(q))
        case None => (i, i + 1, None)
      }
    }

  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    if (words.count(_._1 == "ASOF") != 1) return None
    // Set operations: the splice targets ONE query block.
    if (words.exists(w => w._1 == "UNION" || w._1 == "INTERSECT" ||
      w._1 == "EXCEPT")) return None
    val selIdx = words.indexWhere(_._1 == "SELECT")
    val fromIdx = words.indexWhere(_._1 == "FROM")
    val asofIdx = words.indexWhere(_._1 == "ASOF")
    if (selIdx < 0 || fromIdx < selIdx || asofIdx < fromIdx) return None
    // Stars in the select list: a bare `SELECT *` would resolve against
    // the TVF's left+payload schema, not DuckDB's full two-sided star —
    // silently different columns — so it still declines, as does a
    // right-qualified star. A LEFT-qualified star (`SELECT e.*, payload
    // FROM ev e ASOF JOIN …` — the most common real shape) is expanded
    // below into the left table's explicit catalog columns before the
    // splice, which preserves DuckDB's column set exactly. (Stars inside
    // parens — COUNT(*), nested subqueries — are untouched; a top-level
    // `a*b` product over-declines to the hint, the safe direction.)
    val selStart = words(selIdx)._2
    val selText = sql.substring(selStart, words(fromIdx)._2)
    val selStars = topLevelStars(selText)

    // Original-text slice of a scanned word.
    def text(w: (String, Int)): String = sql.substring(w._2, w._2 + w._1.length)
    // Multipart names (`db.t`) and anything the scanner didn't see as a
    // plain word (quoted identifiers) fall outside the supported shape.
    def isMultipart(w: (String, Int)): Boolean = {
      val e = w._2 + w._1.length
      (w._2 > 0 && sql.charAt(w._2 - 1) == '.') ||
        (e < sql.length && sql.charAt(e) == '.')
    }
    def isName(w: (String, Int)): Boolean =
      !nonNameWords(w._1) && !isMultipart(w)

    var idx = fromIdx + 1
    def cur: Option[(String, Int)] = words.lift(idx)
    // A table-name word must follow its keyword across WHITESPACE ONLY:
    // after `FROM (SELECT …) t`, the scanner's paren-skip makes `t` the
    // next word, and capturing the subquery's ALIAS as a table name
    // would silently join a real table of the same name instead of the
    // subquery. Same guard between JOIN and the right name.
    def directlyAfter(kwEnd: Int, w: (String, Int)): Boolean =
      sql.substring(kwEnd, w._2).forall(_.isWhitespace)
    // FROM <lname> [[AS] <lalias>] ASOF [LEFT] JOIN <rname> [[AS] <ralias>] ON
    val fromEnd = words(fromIdx)._2 + "FROM".length
    val lname = cur.filter(isName).filter(directlyAfter(fromEnd, _))
      .map(text).getOrElse(return None)
    idx += 1
    if (cur.exists(_._1 == "AS")) idx += 1
    val lalias = cur.filter(isName).map(text)
    if (lalias.isDefined) idx += 1
    if (!cur.exists(_._1 == "ASOF")) return None
    idx += 1
    val leftJoin = cur.exists(_._1 == "LEFT")
    if (leftJoin) idx += 1
    if (!cur.exists(_._1 == "JOIN")) return None
    val joinEnd = cur.get._2 + "JOIN".length
    idx += 1
    val rname = cur.filter(isName).filter(directlyAfter(joinEnd, _))
      .map(text).getOrElse(return None)
    idx += 1
    if (cur.exists(_._1 == "AS")) idx += 1
    val ralias = cur.filter(isName).map(text)
    if (ralias.isDefined) idx += 1
    val lkey = lalias.getOrElse(lname)
    val rkey = ralias.getOrElse(rname)
    def isL(q: String) = q.equalsIgnoreCase(lkey)
    def isR(q: String) = q.equalsIgnoreCase(rkey)

    // Either `ON <equality> AND <inequality>` or DuckDB's `USING (k,
    // ord)` shorthand — all columns but the LAST are equality keys (one
    // supported: the TVF takes a single `on`), the last is the backward
    // inclusive order column. The USING output (using columns once,
    // from the left side, then the right's payload) is EXACTLY the
    // TVF's left+payload schema, so even a bare `SELECT *` is faithful
    // in this branch (verified against DuckDB 1.0).
    val usingWord = cur.filter(_._1 == "USING")
    val onWord = cur.filter(_._1 == "ON")
    if (usingWord.isEmpty && onWord.isEmpty) return None
    idx += 1
    var bareStarOk = false
    val (condEqs, condIneqs, endPos) = usingWord match {
      case Some(uw) =>
        val after = sql.substring(uw._2 + "USING".length)
        val m = """(?s)\A\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)+)\s*\)""".r
          .findFirstMatchIn(after).getOrElse(return None)
        val names = m.group(1).split(",").map(_.trim).toSeq
        bareStarOk = true
        (names.init.map(k => (lkey, k, "=", rkey, k)),
          Seq((lkey, names.last, ">=", rkey, names.last)),
          uw._2 + "USING".length + m.end)
      case None =>
        // ON condition runs to the next top-level clause or end.
        val onEnd = onWord.get._2 + 2
        val end = words.drop(idx).find(w => clauseEnders(w._1)).map(_._2)
          .getOrElse(sql.length)
        val condText = sql.substring(onEnd, end).trim.stripSuffix(";").trim
        val parts = condText.split("(?i)\\bAND\\b")
        if (parts.length < 2) return None
        val parsed = parts.toSeq.map {
          case conjunctRe(q1, c1, op, q2, c2) => (q1, c1, op, q2, c2)
          case _ => return None
        }
        val (e, i) = parsed.partition(_._3 == "=")
        (e, i, end)
    }
    val eqs = condEqs
    val ineqs = condIneqs
    // One order inequality; one OR MORE same-named key equalities (the
    // composite symbol+venue shape — the TVF takes a key CSV).
    if (eqs.isEmpty || ineqs.length != 1) return None

    // Key equalities: same column name on both sides per conjunct, one
    // qualifier per side in either order; multiple keys join the TVF's
    // key CSV.
    val onCols = eqs.map { case (eq1, eqc1, _, eq2, eqc2) =>
      if (isL(eq1) && isR(eq2) && eqc1.equalsIgnoreCase(eqc2)) eqc1
      else if (isR(eq1) && isL(eq2) && eqc1.equalsIgnoreCase(eqc2)) eqc2
      else return None
    }
    if (onCols.map(_.toLowerCase).distinct.size != onCols.size) return None
    val onCol = onCols.mkString(",")

    // Inequality direction: left's order on the >= side (or right's on
    // the <= side) is the BACKWARD as-of (most recent earlier right
    // row); the mirrored operators are the FORWARD as-of (earliest
    // later right row) — DuckDB accepts all four, both conjunct orders.
    val (iq1, ic1, iop, iq2, ic2) = ineqs.head
    val (leftOrder, rightOrder, strict, forward) =
      if (isL(iq1) && isR(iq2) && (iop == ">=" || iop == ">"))
        (ic1, ic2, iop == ">", false)
      else if (isR(iq1) && isL(iq2) && (iop == "<=" || iop == "<"))
        (ic2, ic1, iop == "<", false)
      else if (isL(iq1) && isR(iq2) && (iop == "<=" || iop == "<"))
        (ic1, ic2, iop == "<", true)
      else if (isR(iq1) && isL(iq2) && (iop == ">=" || iop == ">"))
        (ic2, ic1, iop == ">", true)
      else return None

    // The right relation does not survive the splice as a nameable
    // side: a right-qualified reference anywhere OUTSIDE the consumed
    // FROM..ON span would parse but fail resolution with a confusing
    // error — decline to the hint instead.
    val outside = sql.substring(0, words(fromIdx)._2) + sql.substring(endPos)
    if (("(?is)\\b" + java.util.regex.Pattern.quote(rkey) + "\\s*\\.").r
      .findFirstIn(outside).isDefined) return None

    // Payload needs the right side's column list — resolvable views only.
    val spark = try org.apache.spark.sql.SparkSession.active
      catch { case NonFatal(_) => return None }
    def columnsOf(t: String): Option[Array[String]] =
      try Some(spark.table(t).columns) catch { case NonFatal(_) => None }
    val lcols = columnsOf(lname).getOrElse(return None)
    val rcols = columnsOf(rname).getOrElse(return None)
    def has(cs: Array[String], c: String) = cs.exists(_.equalsIgnoreCase(c))
    if (onCols.exists(k => !has(lcols, k) || !has(rcols, k)) ||
      !has(lcols, leftOrder) || !has(rcols, rightOrder)) return None
    val payload = rcols.filterNot(c =>
      onCols.exists(_.equalsIgnoreCase(c)) || c.equalsIgnoreCase(rightOrder))
    if (payload.isEmpty || payload.exists(p => has(lcols, p))) return None

    // Star resolution, now that the left side's catalog columns are in
    // hand: every top-level star must be the LEFT alias's (`e.*`) and is
    // expanded to the explicit qualified column list; a bare `*` or a
    // right-qualified star declines (schema would silently differ) —
    // EXCEPT in the USING branch, where DuckDB's merged star output
    // equals the TVF's own schema and a bare `*` passes through as-is.
    if (selStars.exists(s => s._3.isEmpty && !bareStarOk)) return None
    if (selStars.exists(s => s._3.exists(q => !q.equalsIgnoreCase(lkey))))
      return None
    val expandable = selStars.filter(_._3.isDefined)
    val newSel =
      if (expandable.isEmpty) selText
      else {
        val sb = new StringBuilder
        var pos = 0
        expandable.foreach { case (s, e, _) =>
          sb.append(selText.substring(pos, s))
          sb.append(lcols.map(c => s"$lkey.`$c`").mkString(", "))
          pos = e
        }
        sb.append(selText.substring(pos))
        sb.toString
      }

    val tvf = s"asof_join('$lname', '$rname', '$onCol', '$leftOrder', " +
      s"'$rightOrder', '${payload.mkString(",")}', $strict, ${!leftJoin}, $forward)"
    Some(sql.substring(0, selStart) + newSel +
      s"FROM $tvf AS ${lalias.getOrElse(lname)} " + sql.substring(endPos))
  }

  /** Recurse the splice into parenthesized SUBQUERY blocks (round 17):
    * `FROM (SELECT ... ASOF JOIN ...) x`, an ASOF inside a CTE body, a
    * scalar subquery, etc. Each parenthesized block that starts with
    * SELECT and carries the ASOF shape at its own top level is rewritten
    * by [[rewrite]] in place (the block is a complete one-table query,
    * so every conservative guard applies unchanged inside it); deeper
    * nesting recurses. One block per call — the caller's preRewrite
    * re-entry picks up any remaining occurrence, exactly like the
    * top-level arm.
    */
  def rewriteNested(sql: String): Option[String] = {
    val mask = DuckLexer(sql).masked
    var i = 0
    while (i < mask.length) {
      if (mask.charAt(i) == '(') {
        val close = DuckLexer(sql).closeOf(i)
        if (close > 0 && close <= sql.length) {
          val inner = sql.substring(i + 1, close - 1)
          val startsSelect =
            """(?is)\A\s*SELECT\b""".r.findFirstIn(inner).isDefined
          if (startsSelect && DuckLexer(inner).words.exists(_._1 == "ASOF")) {
            rewrite(inner).orElse(rewriteNested(inner)) match {
              case Some(r) =>
                return Some(sql.substring(0, i + 1) + r +
                  sql.substring(close - 1))
              case None => () // guards declined: fall through to the hint
            }
          }
        }
      }
      i += 1
    }
    None
  }
}
