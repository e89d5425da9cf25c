package graft.sql

/** Window-frame `EXCLUDE` clauses (DuckDB/Postgres frame grammar;
  * reference surface via the host's window suite) onto stock Spark
  * window aggregates — Spark's frame grammar has no EXCLUDE, the
  * statement is a guaranteed ParseException, so this rewrite only ever
  * runs in the hint parser's failure chain and can never claim native
  * SQL.
  *
  * Decomposition matrix (each cell = pure window-agg algebra, stays
  * inside WholeStageCodegen / WindowExec, no extra shuffle — every
  * derived window shares the original's PARTITION BY/ORDER BY, so
  * Spark computes them in ONE WindowExec pass):
  *
  *  - `EXCLUDE NO OTHERS` — the explicit default: strip.
  *  - `EXCLUDE CURRENT ROW`, agg ∈ sum/count/avg, ROWS or RANGE frame
  *    containing the current row: SUBTRACTION — `sum(x) OVER F -
  *    coalesce(x, 0)` with a count guard restoring NULL-on-empty;
  *    frames not containing the current row strip the clause (no-op).
  *  - `EXCLUDE CURRENT ROW`, agg ∈ min/max, ROWS frame: FRAME SPLIT —
  *    `least/greatest(agg OVER [lo, -1], agg OVER [+1, hi])` (Spark's
  *    least/greatest skip NULLs, matching agg-over-empty-frame = NULL).
  *  - `EXCLUDE GROUP | TIES`, agg ∈ sum/count/avg, frame that provably
  *    CONTAINS the whole peer group (any RANGE frame spanning the
  *    current row, or ROWS UNBOUNDED..UNBOUNDED): PEER SUBTRACTION —
  *    subtract the same agg over the peer frame `RANGE BETWEEN CURRENT
  *    ROW AND CURRENT ROW`; TIES adds the current row back.
  *
  * Everything else — GROUPS frames (Spark has no GROUPS mode at all),
  * min/max under GROUP/TIES (not subtraction-decomposable), bounded
  * ROWS frames under GROUP/TIES (peers may straddle the frame edge),
  * DISTINCT aggregates, non-literal offsets — declines to the EXCLUDE
  * hint rather than risking silently-wrong algebra.
  */
object ExcludeFrameRewrite {

  private val excludeRe =
    "(?i)\\bEXCLUDE\\s+(CURRENT\\s+ROW|GROUP|TIES|NO\\s+OTHERS)".r
  private val overRe = "(?i)\\bOVER\\s*\\(".r
  private val frameRe =
    "(?i)\\b(ROWS|RANGE|GROUPS)\\s".r
  private val betweenRe =
    "(?is)\\A(ROWS|RANGE|GROUPS)\\s+BETWEEN\\s+(.+?)\\s+AND\\s+(.+)\\z".r
  private val singleRe = "(?is)\\A(ROWS|RANGE|GROUPS)\\s+(.+)\\z".r

  /** Cheap shape guard for the hint arm: an unmasked window EXCLUDE. */
  def isShaped(sql: String): Boolean = {
    val masked = DuckLexer(sql).masked
    excludeRe.findFirstMatchIn(masked).exists { m =>
      overRe.findAllMatchIn(masked).exists { o =>
        val close = DuckLexer(sql).closeOf(masked.indexOf('(', o.start))
        close > 0 && o.start < m.start && m.end <= close
      }
    }
  }

  // Frame-bound ordinal: sign-classified position of the bound
  // relative to the current row. Some(v) where v<0 preceding, 0
  // current, >0 following; magnitude meaningful only for ROWS integer
  // offsets. None = unparseable/non-literal (decline).
  private def boundSign(b: String): Option[Long] = {
    val t = b.trim.replaceAll("\\s+", " ")
    val u = t.toUpperCase
    if (u == "UNBOUNDED PRECEDING") Some(Long.MinValue)
    else if (u == "UNBOUNDED FOLLOWING") Some(Long.MaxValue)
    else if (u == "CURRENT ROW") Some(0L)
    else {
      val parts = t.split("\\s+")
      if (parts.length < 2) return None
      val dir = parts.last.toUpperCase
      if (dir != "PRECEDING" && dir != "FOLLOWING") return None
      val offset = t.substring(0, t.length - dir.length).trim
      val mag: Option[Long] =
        try { val d = java.lang.Double.parseDouble(offset)
          Some(if (d == 0.0) 0L else math.max(1L, d.toLong)) }
        catch { case _: NumberFormatException =>
          // INTERVAL '...' etc.: assume a positive offset (sign-only
          // use; the ROWS split path separately requires integers).
          if (offset.toUpperCase.startsWith("INTERVAL")) Some(1L) else None }
      mag.map(v => if (dir == "PRECEDING") -v else v)
    }
  }

  private def isIntLiteral(b: String): Boolean = {
    val t = b.trim.replaceAll("\\s+", " ").toUpperCase
    t == "UNBOUNDED PRECEDING" || t == "UNBOUNDED FOLLOWING" ||
      t == "CURRENT ROW" ||
      t.matches("\\d+\\s+(PRECEDING|FOLLOWING)")
  }

  def rewrite(text: String): Option[String] = {
    val masked = DuckLexer(text).masked
    if (excludeRe.findFirstMatchIn(masked).isEmpty) return None
    val repls = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    for (m <- overRe.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = DuckLexer(text).closeOf(open) // index AFTER ')'
      if (close < 0) return None
      val spec = text.substring(open + 1, close - 1)
      val specMasked = masked.substring(open + 1, close - 1)
      if (excludeRe.findFirstMatchIn(specMasked).isDefined) {
        // The aggregate call directly before OVER: `name( args )`.
        val view = DuckLexer(text)
        val (s, e) = view.operandBefore(m.start).getOrElse(return None)
        val argsOpen = view.openOf(e - 1)
        if (masked.charAt(e - 1) != ')' || argsOpen <= s) return None
        val fn = text.substring(s, argsOpen).trim.toLowerCase
        val arg = text.substring(argsOpen + 1, e - 1).trim
        buildReplacement(fn, arg, spec, specMasked) match {
          case Some(r) => repls += ((s, close, r))
          case None => return None
        }
      }
    }
    if (repls.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    repls.toList.sortBy(_._1).foreach { case (a, b, r) =>
      if (a < pos) return None
      sb.append(text.substring(pos, a)).append(r); pos = b
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  private def buildReplacement(fn: String, arg: String, spec: String,
      specMasked: String): Option[String] = {
    val fm = frameRe.findFirstMatchIn(specMasked).getOrElse(return None)
    val prefix = spec.substring(0, fm.start).trim
    val frameText = spec.substring(fm.start).trim
    val em = excludeRe.findFirstMatchIn(
      DuckLexer(frameText).masked).getOrElse(return None)
    val mode = em.group(1).replaceAll("\\s+", " ").toUpperCase
    // EXCLUDE is the frame clause's final element; trailing text would
    // be a syntax error in DuckDB too.
    if (frameText.substring(em.end).trim.nonEmpty) return None
    val frameCore = frameText.substring(0, em.start).trim
    def over(fr: String) =
      s"OVER (${if (prefix.isEmpty) "" else prefix + " "}$fr)"
    val overF = over(frameCore)

    if (mode == "NO OTHERS")
      return Some(s"$fn($arg) $overF")

    val (fType, b1, b2) = frameCore match {
      case betweenRe(t, x, y) => (t.toUpperCase, x.trim, y.trim)
      case singleRe(t, x) => (t.toUpperCase, x.trim, "CURRENT ROW")
      case _ => return None
    }
    if (fType == "GROUPS") return None
    if (arg.toUpperCase.startsWith("DISTINCT")) return None
    val lo = boundSign(b1).getOrElse(return None)
    val hi = boundSign(b2).getOrElse(return None)
    if (lo > hi) return None
    val spansCurrent = lo <= 0L && 0L <= hi
    val hasOrderBy =
      "(?i)\\bORDER\\s+BY\\b".r.findFirstIn(
        DuckLexer(prefix).masked).isDefined

    val star = arg == "*"
    val supported = Set("sum", "count", "avg", "min", "max")
    if (!supported(fn)) return None
    if (star && fn != "count") return None

    // Current-row contribution terms.
    val curN = if (star) "1" else s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)"
    val cnt = if (star) "count(*)" else s"count($arg)"

    mode match {
      case "CURRENT ROW" =>
        if (!spansCurrent) return Some(s"$fn($arg) $overF")
        fn match {
          case "sum" => Some(
            s"(CASE WHEN $cnt $overF - $curN = 0 THEN NULL " +
              s"ELSE sum($arg) $overF - coalesce(($arg), 0) END)")
          case "count" => Some(s"($cnt $overF - $curN)")
          case "avg" => Some(
            s"(CASE WHEN $cnt $overF - $curN = 0 THEN NULL " +
              s"ELSE (sum($arg) $overF - coalesce(($arg), 0)) / " +
              s"($cnt $overF - $curN) END)")
          case "min" | "max" =>
            if (fType != "ROWS") return None
            if (!isIntLiteral(b1) || !isIntLiteral(b2)) return None
            val left =
              if (lo < 0) Some(over(s"ROWS BETWEEN $b1 AND 1 PRECEDING"))
              else None
            val right =
              if (hi > 0) Some(over(s"ROWS BETWEEN 1 FOLLOWING AND $b2"))
              else None
            val cmb = if (fn == "min") "least" else "greatest"
            (left, right) match {
              case (Some(l), Some(r)) =>
                Some(s"$cmb($fn($arg) $l, $fn($arg) $r)")
              case (Some(l), None) => Some(s"($fn($arg) $l)")
              case (None, Some(r)) => Some(s"($fn($arg) $r)")
              // Frame was exactly the current row: typed NULL.
              case (None, None) => Some(s"nullif(($arg), ($arg))")
            }
          case _ => None
        }
      case "GROUP" | "TIES" =>
        // Peer subtraction needs the WHOLE peer group inside the frame:
        // any RANGE frame spanning the current row qualifies (distance-0
        // rows are all in); ROWS only when unbounded on both ends.
        if (!hasOrderBy) return None
        val peersContained =
          if (fType == "RANGE") spansCurrent
          else lo == Long.MinValue && hi == Long.MaxValue
        if (fType == "RANGE" && !spansCurrent)
          return Some(s"$fn($arg) $overF") // no peers in frame: no-op
        if (!peersContained) return None
        val overP = over("RANGE BETWEEN CURRENT ROW AND CURRENT ROW")
        val tie = mode == "TIES"
        val backN = if (tie) s" + $curN" else ""
        val backS = if (tie) s" + coalesce(($arg), 0)" else ""
        fn match {
          case "sum" => Some(
            s"(CASE WHEN $cnt $overF - $cnt $overP$backN = 0 THEN NULL " +
              s"ELSE sum($arg) $overF - coalesce(sum($arg) $overP, 0)" +
              s"$backS END)")
          case "count" => Some(s"($cnt $overF - $cnt $overP$backN)")
          case "avg" => Some(
            s"(CASE WHEN $cnt $overF - $cnt $overP$backN = 0 THEN NULL " +
              s"ELSE (sum($arg) $overF - coalesce(sum($arg) $overP, 0)" +
              s"$backS) / ($cnt $overF - $cnt $overP$backN) END)")
          case "min" | "max" =>
            // Order algebra + prev/next distinct key via the
            // graft_excl_mm marker (see ExcludeGroupMinMax.scala).
            // Requires the aggregate argument to BE the single ASC
            // sort key — the only shape where "strictly below/above
            // the peer group" is recoverable from plain windows.
            def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
            val pm = DuckLexer(prefix).masked
            val ob = "(?i)\\bORDER\\s+BY\\b".r.findAllMatchIn(pm).toList
              .lastOption.getOrElse(return None)
            var keyText = prefix.substring(ob.end).trim
            val keyMask = pm.substring(ob.end)
            // single key only (no top-level comma)
            var d = 0
            keyMask.foreach {
              case '(' => d += 1
              case ')' => d -= 1
              case ',' if d == 0 => return None
              case _ =>
            }
            keyText = "(?i)\\s+ASC\\z".r.replaceAllIn(keyText, "")
            if (norm(keyText) != norm(arg)) return None
            def kind(b: String, preceding: Boolean): Option[String] = {
              val t = b.trim.replaceAll("\\s+", " ")
              val u = t.toUpperCase
              if (u == "CURRENT ROW") Some("none")
              else if (u == (if (preceding) "UNBOUNDED PRECEDING"
                             else "UNBOUNDED FOLLOWING")) Some("unbounded")
              else {
                val dir = if (preceding) "PRECEDING" else "FOLLOWING"
                val rev = if (preceding) "FOLLOWING" else "PRECEDING"
                if (u.endsWith(" " + dir)) {
                  val mag = t.substring(0, t.length - dir.length).trim
                  if (mag.matches("\\d+(\\.\\d+)?")) Some(mag) else None
                } else if (u.endsWith(" " + rev)) {
                  // spansCurrent already holds, so a reversed-direction
                  // bound can only be a zero offset.
                  val mag = t.substring(0, t.length - rev.length).trim
                  if (mag.matches("0+(\\.0+)?")) Some("0") else None
                } else None
              }
            }
            val rows = fType == "ROWS" // peersContained ⇒ UNB..UNB
            val loB = if (rows) "UNBOUNDED PRECEDING" else b1
            val hiB = if (rows) "UNBOUNDED FOLLOWING" else b2
            val hiKind = kind(hiB, preceding = false).getOrElse(return None)
            val loKind = kind(loB, preceding = true).getOrElse(return None)
            val loUnb = loKind == "unbounded"
            val (winText, other) =
              if (fn == "min")
                (over(s"RANGE BETWEEN $loB AND CURRENT ROW"), hiKind)
              else
                (over(s"RANGE BETWEEN CURRENT ROW AND $hiB"), loKind)
            Some(s"graft_excl_mm('$fn', '${if (mode == "GROUP") "group"
              else "ties"}', $fn($arg) $winText, '$other', '$loUnb')")
          case _ => None
        }
      case _ => None
    }
  }
}
