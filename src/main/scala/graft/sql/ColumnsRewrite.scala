package graft.sql

import scala.util.control.NonFatal

/** Mechanical rewrite of DuckDB's `COLUMNS(...)` column-set expression
  * (friendly SQL, DuckDB ≥0.9 — the reference's host pins 1.3 via
  * .github/workflows/MainDistributionPipeline.yml:29) for the forms a
  * pasted script most often carries:
  *
  * {{{
  * SELECT COLUMNS('regex') FROM t [WHERE ...]
  * SELECT COLUMNS(*)       FROM t [WHERE ...]
  * SELECT a, COLUMNS('regex'), b FROM t ...   -- mixed select list
  * SELECT COLUMNS(* EXCLUDE (a, b)) FROM t    -- exclusion set
  * SELECT min(COLUMNS(*)) FROM t              -- function-wrapped
  * SELECT round(COLUMNS('^x'), 1) FROM t      -- ... with extra args
  * }}}
  *
  * Spark has no column-set macro in SQL, but the select list is static
  * text against a catalog-resolvable table — so, exactly like the
  * sibling [[ReplaceRewrite]], the expression is star-expanded textually
  * into the matching columns before the parse:
  * `SELECT COLUMNS('^l_') FROM lineitem` becomes
  * ``SELECT `l_orderkey`, `l_partkey`, ... FROM lineitem``. DuckDB's
  * regex semantics are RE2 PARTIAL match (`COLUMNS('date')` matches
  * `o_orderdate`), mirrored here with `Matcher.find`; column order and
  * names are the table's, so both engines' outputs hash-compare. A
  * function wrapping the whole call distributes over the set, and DuckDB
  * names each output by the PLAIN source column (verified on 1.0:
  * `min(COLUMNS(*))` over (x, y) yields columns `x`, `y`) — mirrored as
  * ``min(`x`) AS `x`, min(`y`) AS `y``; extra call arguments after the
  * COLUMNS set ride along verbatim (`round(COLUMNS('^x'), 1)` →
  * ``round(`x1`, 1) AS `x1``, ...).
  *
  * Deliberately conservative — supported shape: a top-level
  * select-list item holding the COLUMNS set in ANY expression position
  * (bare, function-wrapped, or deeper nesting like `min(COLUMNS(*)) +
  * 1` — the whole item re-binds per column, DuckDB 1.0 pinned, see
  * [[parseItem]]); multiple occurrences within one item expand in
  * lockstep when their argument text is identical (different sets are
  * a DuckDB binder error and decline here); several COLUMNS-bearing
  * select items resolve one per pass through the parse-failure chain's
  * recursion. The set argument is `*`, a single-quoted regex literal
  * that compiles, `* EXCLUDE (a, b)` with every excluded name present
  * in the table (DuckDB errors on an unknown exclusion; here the
  * statement declines), or a name-filter lambda `c -> <predicate>`;
  * the table a single-part catalog-resolvable name, no join/set-op,
  * and ≥1 column matches (DuckDB errors on zero matches; here the
  * statement declines). COLUMNS outside the select list (WHERE's
  * conjunction form) declines; the caller ([[GraftHintParser]])
  * surfaces the guidance hint for declined statements that
  * [[isColumnsShaped]] confirms really are the DuckDB construct (vs.
  * e.g. the text appearing inside a string literal).
  */
object ColumnsRewrite {

  /** The single-table select-list context: (selStart, items, fromPos).
    * None when the statement is not a plain one-table SELECT.
    */
  private def selectItems(sql: String): Option[(Int, Vector[String], Int)] = {
    if ("""(?i)\bCOLUMNS\s*\(""".r.findAllMatchIn(sql).isEmpty) return None
    val words = DuckLexer(sql).topLevelWords
    if (words.isEmpty || words.head._1 != "SELECT") return None
    if (sql.take(words.head._2).exists(!_.isWhitespace)) return None
    // No join/set-op: the expansion resolves ONE table's schema.
    if (words.exists(w => Set("JOIN", "CROSS", "NATURAL", "UNION",
      "INTERSECT", "EXCEPT")(w._1))) return None
    val fromW = words.find(_._1 == "FROM").getOrElse(return None)
    val selStart = words.head._2 + "SELECT".length
    val selectList = sql.substring(selStart, fromW._2)
    // DISTINCT over an expanded list changes semantics per column set —
    // decline rather than guess.
    if ("""(?is)\A\s*(DISTINCT|ALL)\b""".r.findFirstIn(selectList).isDefined)
      return None
    val items = DuckLexer(selectList).split(',').map(_.trim)
    if (items.isEmpty || items.exists(_.isEmpty)) return None
    Some((selStart, items, fromW._2))
  }

  /** A recognized select-item shape: the COLUMNS set argument text plus
    * the per-column renderer producing the projected item text.
    */
  private final case class Call(arg: String, render: String => String)

  /** Parse one trimmed select-list item as a COLUMNS shape, or None.
    *
    * GENERAL expression nesting (DuckDB 1.0 pinned): the whole item
    * re-binds per matched column — `min(COLUMNS(*)) + 1` yields one
    * `min(`c`) + 1` per column — and every output is NAMED by the
    * plain source column (same rule as the simple wrapped form; an
    * explicit trailing alias distributes to every output, duplicate
    * names and all, exactly as DuckDB produces ['m','m']). Multiple
    * COLUMNS occurrences in one item must carry IDENTICAL argument
    * text and expand in lockstep (`max(COLUMNS(s)) - min(COLUMNS(s))`);
    * different sets are a DuckDB binder error ("Multiple different
    * STAR/COLUMNS ... not supported") and decline here too.
    */
  /** The shared span/template computation: every COLUMNS occurrence in
    * `item` must carry the same argument text; the returned template
    * holds one NUL per occurrence. None = not a claimable shape.
    */
  private def parseTemplate(item: String): Option[(String, String)] = {
    val occRe = """(?i)\bCOLUMNS\s*\(""".r
    val masked = DuckLexer(item).masked
    val ms = occRe.findAllMatchIn(masked).toList
    if (ms.isEmpty) return None
    // Span of each full COLUMNS(...) call (masked offsets are raw
    // offsets: the mask is length-preserving).
    val spans = ms.map { m =>
      val open = masked.indexOf('(', m.start)
      val close = DuckLexer(item).closeOf(open)
      if (close < 0) return None
      (m.start, open, close)
    }
    val args = spans.map { case (_, o, c) => item.substring(o + 1, c - 1).trim }
    if (args.distinct.length != 1) return None
    val arg = args.head
    // A COLUMNS nested inside its own argument would break the span
    // arithmetic — no such DuckDB form exists; decline.
    if (occRe.findFirstIn(DuckLexer(arg).masked).isDefined)
      return None
    val sb = new StringBuilder
    var pos = 0
    spans.foreach { case (s, _, c) =>
      if (s < pos) return None
      sb.append(item.substring(pos, s)).append('\u0000')
      pos = c
    }
    sb.append(item.substring(pos))
    Some((arg, sb.toString))
  }

  private def parseItem(item: String): Option[Call] =
    parseTemplate(item).map { case (arg, template) =>
      if (template == "\u0000")
        Call(arg, col => s"`$col`") // bare set: names are the columns
      else
        Call(arg,
          col => template.replace("\u0000", s"`$col`") + s" AS `$col`")
    }

  /** A WHERE-side shape: same template, no output alias. */
  private def parsePred(item: String): Option[Call] =
    parseTemplate(item).map { case (arg, template) =>
      Call(arg, col => template.replace("\u0000", s"`$col`"))
    }

  /** The context plus which item is a recognized COLUMNS shape:
    * (selStart, items, idx, call, fromPos); None when no item qualifies.
    */
  private def columnsItem(sql: String)
      : Option[(Int, Vector[String], Int, Call, Int)] = {
    val (selStart, items, fromPos) = selectItems(sql).getOrElse(return None)
    val idx = items.indexWhere(it =>
      """(?i)\bCOLUMNS\s*\(""".r.findFirstIn(it).isDefined)
    if (idx < 0) return None
    val call = parseItem(items(idx)).getOrElse(return None)
    Some((selStart, items, idx, call, fromPos))
  }

  /** Resolve a COLUMNS argument against the table's column list: `*`,
    * `* EXCLUDE (a, b)` / `* EXCLUDE a` (case-insensitive names, every
    * exclusion must exist), a single-quoted regex literal (RE2
    * partial-match semantics), or a lambda `c -> <predicate>` selecting
    * the column NAMES the predicate accepts (DuckDB 1.0 pinned: the
    * lambda sees the name as a string). None = unsupported shape or a
    * shape DuckDB itself would reject (unknown exclusion, bad regex,
    * a predicate that doesn't evaluate).
    */
  private def resolveCols(arg: String, cols: Seq[String]): Option[Seq[String]] = {
    if (arg == "*") return Some(cols)
    val exclRe =
      """(?is)\A\*\s+EXCLUDE\s*(?:\(\s*([^()]*?)\s*\)|([A-Za-z_]\w*))\z""".r
    exclRe.findFirstMatchIn(arg) match {
      case Some(m) =>
        val names = Option(m.group(1))
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq(m.group(2)))
        if (names.isEmpty || names.exists(!_.matches("[A-Za-z_]\\w*")))
          return None
        val lower = names.map(_.toLowerCase).toSet
        if (!lower.forall(n => cols.exists(_.toLowerCase == n))) return None
        val kept = cols.filterNot(c => lower.contains(c.toLowerCase))
        Some(kept)
      case None =>
        val litRe = """\A'((?:[^']|'')*)'\z""".r
        val lamRe = """(?s)\A([A-Za-z_]\w*)\s*->\s*(\S.*)\z""".r
        arg match {
          case litRe(b) =>
            try {
              val p = java.util.regex.Pattern.compile(b.replace("''", "'"))
              Some(cols.filter(c => p.matcher(c).find()))
            } catch { case NonFatal(_) => None }
          case lamRe(v, body) =>
            // Spark shares DuckDB's `->` lambda spelling in its
            // higher-order functions, so the predicate evaluates
            // verbatim via filter() over the name array — a constant
            // local expression, no table scan. A predicate Spark
            // cannot evaluate declines to the hint.
            try {
              val spark = org.apache.spark.sql.SparkSession.active
              val arr = cols.map(c => "'" + c.replace("'", "''") + "'")
                .mkString(", ")
              val kept = spark.sql(
                s"SELECT filter(array($arr), $v -> ($body))")
                .head().getSeq[String](0).toList
              Some(kept)
            } catch { case NonFatal(_) => None }
          case _ => None
        }
    }
  }

  /** True when the statement plausibly IS the DuckDB COLUMNS construct —
    * a SELECT whose text (string literals stripped) mentions COLUMNS( —
    * whether or not [[rewrite]] can expand it. Deliberately BROADER than
    * the rewrite's shape (joins, multiple occurrences, aggregate
    * wrapping all count): the caller uses this only to decide if a
    * decline deserves the guidance hint instead of a raw downstream
    * UNRESOLVED_ROUTINE, and the caller has already established no user
    * `columns` function exists — so every statement reaching this test
    * would fail analysis anyway; the only question is the error's
    * quality. `SELECT 'COLUMNS(' AS t FROM x` is NOT shaped (the literal
    * is stripped) and passes through untouched.
    */
  def isColumnsShaped(sql: String): Boolean = {
    val stripped = sql.replaceAll("'(?:[^']|'')*'", "''")
    """(?is)\A\s*SELECT\b""".r.findFirstIn(stripped).isDefined &&
      """(?i)\bCOLUMNS\s*\(""".r.findFirstIn(stripped).isDefined
  }

  /** The single-table FROM target's column list — a plain single-part
    * catalog-resolvable name, no comma join in the FROM span.
    */
  private def tableCols(sql: String, fromPos: Int): Option[Seq[String]] = {
    val afterFrom = fromPos + "FROM".length
    val nameM = """\A\s*([A-Za-z_]\w*)""".r
      .findFirstMatchIn(sql.substring(afterFrom)).getOrElse(return None)
    val tname = nameM.group(1)
    val nameEnd = afterFrom + nameM.end
    if (nameEnd < sql.length && sql.charAt(nameEnd) == '.')
      return None // multipart name
    val tail = sql.substring(nameEnd)
    val clauseM = """(?is)\b(WHERE|GROUP|HAVING|ORDER|LIMIT|QUALIFY|WINDOW)\b""".r
      .findFirstMatchIn(tail)
    val fromSpan = clauseM.map(cm => tail.substring(0, cm.start)).getOrElse(tail)
    if (fromSpan.contains(",")) return None
    val spark = try org.apache.spark.sql.SparkSession.active
      catch { case NonFatal(_) => return None }
    try Some(spark.table(tname).columns.toSeq)
    catch { case NonFatal(_) => None }
  }

  def rewrite(sql: String): Option[String] =
    rewriteSelectList(sql).orElse(rewriteWherePreds(sql))

  private def rewriteSelectList(sql: String): Option[String] = {
    val (selStart, items, idx, call, fromPos) =
      columnsItem(sql).getOrElse(return None)
    val cols = tableCols(sql, fromPos).getOrElse(return None)
    val kept = resolveCols(call.arg, cols).getOrElse(return None)
    if (kept.isEmpty) return None // DuckDB errors on zero matches; hint here

    val projected = kept.map(call.render).mkString(", ")
    // Rejoin on NEWLINES, not spaces: items were trimmed, and an item
    // ending in a `-- line comment` would otherwise swallow the next
    // item (or the FROM clause) when flattened onto one line.
    val newList = items.updated(idx, projected).mkString(",\n")
    Some(sql.substring(0, selStart) + " " + newList + "\n" + sql.substring(fromPos))
  }

  /** COLUMNS inside the WHERE clause (round 17, DuckDB 1.0 pinned):
    * the containing condition applies to every matched column and the
    * copies AND together — `WHERE COLUMNS(*) > 1 OR a = 1` is
    * `(a>1 AND b>1 AND c>1) OR a = 1`. Each top-level AND/OR segment of
    * the WHERE section expands independently and parenthesized, so
    * precedence against neighbouring segments is preserved; a segment
    * whose COLUMNS shape the template parser declines declines the
    * statement (the caller hints).
    */
  private def rewriteWherePreds(sql: String): Option[String] = {
    val (_, _, fromPos) = selectItems(sql).getOrElse(return None)
    val words = DuckLexer(sql).topLevelWords
    val whereW = words.find(w => w._1 == "WHERE" && w._2 > fromPos)
      .getOrElse(return None)
    val endPos = words.find(w => Set("GROUP", "HAVING", "ORDER", "LIMIT",
      "OFFSET", "FETCH", "QUALIFY", "WINDOW")(w._1) && w._2 > whereW._2)
      .map(_._2).getOrElse(sql.length)
    val secStart = whereW._2 + "WHERE".length
    val section = sql.substring(secStart, endPos)
    val colRe = """(?i)\bCOLUMNS\s*\(""".r
    if (colRe.findFirstIn(DuckLexer(section).masked).isEmpty)
      return None
    val cols = tableCols(sql, fromPos).getOrElse(return None)
    // The AND closing a BETWEEN is part of that predicate, not a
    // conjunction — `COLUMNS(*) BETWEEN 1 AND 5` is ONE segment. An OR
    // cannot intervene (precedence makes that invalid SQL), so a single
    // pending flag suffices (NOT BETWEEN tokenizes the same way).
    var betweenPending = false
    val seps = DuckLexer(section).topLevelWords
      .filter { w =>
        if (w._1 == "BETWEEN") { betweenPending = true; false }
        else if (w._1 == "AND" && betweenPending) {
          betweenPending = false; false
        } else w._1 == "AND" || w._1 == "OR"
      }
    val bounds = (Vector(0) ++
      seps.flatMap(w => Vector(w._2, w._2 + w._1.length))) :+ section.length
    val out = new StringBuilder
    var last = 0
    var changed = false
    bounds.grouped(2).foreach { g =>
      val (s, e) = (g(0), g(1))
      val seg = section.substring(s, e)
      if (colRe.findFirstIn(DuckLexer(seg).masked).isDefined) {
        val call = parsePred(seg.trim).getOrElse(return None)
        val kept = resolveCols(call.arg, cols).getOrElse(return None)
        if (kept.isEmpty) return None
        out.append(section.substring(last, s))
        out.append(kept.map(call.render).mkString("(", " AND ", ")"))
        last = e
        changed = true
      }
    }
    if (!changed) return None
    out.append(section.substring(last))
    Some(sql.substring(0, secStart) + " " + out.toString.trim + " " +
      sql.substring(endPos))
  }
}
