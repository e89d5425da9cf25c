package graft.sql

/** Mechanical rewrite of `SELECT DISTINCT ON (exprs) ...` (the
  * PostgreSQL-ism DuckDB hosts — DuckDB docs "SELECT"; host pin v1.3.2)
  * onto the window idiom Spark executes:
  *
  * {{{
  * SELECT DISTINCT ON (a) b, c FROM t WHERE p ORDER BY a, d DESC
  * -- becomes --
  * SELECT b, c FROM (
  *   SELECT *, row_number() OVER (PARTITION BY a ORDER BY a, d DESC)
  *     AS __graft_rn
  *   FROM t WHERE p
  * ) __graft_d WHERE __graft_rn = 1 ORDER BY a, d DESC
  * }}}
  *
  * One kept row per distinct ON-tuple. Which row: the first under the
  * query's ORDER BY (DuckDB/Postgres semantics — the ORDER BY doubles
  * as the per-group tiebreak); with no ORDER BY the choice is arbitrary
  * on both engines, and the window orders by the ON exprs purely so the
  * plan is deterministic per-engine. The inner block keeps `SELECT *`,
  * so the outer trailing ORDER BY may reference ANY source column (not
  * just projected ones) — Spark resolves sort keys against the
  * subquery's full output, mirroring how DuckDB scopes it.
  *
  * A leading WITH rides along untouched (CTE bodies are parenthesized,
  * so the top-level SELECT is the query's own; CTE names stay visible
  * inside the new subquery). GROUP BY/HAVING/QUALIFY blocks rewrite
  * via the hidden-column splice (round 17); set-operation chains
  * rewrite EVERY shaped block, head or not (round 18), keeping the
  * chain-global trailing ORDER BY/LIMIT outside the blocks. Declines
  * to the hint: `*` select lists over aggregate blocks, parenthesized
  * set-op branches (their own scope), and positional `?` parameters.
  */
object DistinctOnRewrite {

  private val trailing = Set("ORDER", "LIMIT", "OFFSET", "FETCH")

  /** True when the statement's own top-level word stream reads
    * SELECT DISTINCT ON — i.e. it genuinely IS the construct, not a
    * string literal or a parenthesized subquery mentioning it. Used by
    * the caller to decide between pass-through and the decline hint
    * (DISTINCT ON parses as a call to a function named `ON`, so an
    * unrewritten statement would die in analysis with a raw
    * UNRESOLVED_ROUTINE).
    */
  def isShaped(sql: String): Boolean = {
    val words = DuckLexer(sql).topLevelWords
    // ANY top-level block of a set-op chain may carry the construct
    // (round 18), so every top-level SELECT is a candidate, not just
    // the first.
    words.indices.exists(i => words(i)._1 == "SELECT" &&
      words.lift(i + 1).exists(_._1 == "DISTINCT") &&
      words.lift(i + 2).exists(_._1 == "ON"))
  }

  /** One trailing ORDER BY item: (expression text, direction suffix). */
  private def splitKey(item: String): (String, String) = {
    val m = ("(?is)\\s+((?:ASC|DESC)\\b)?\\s*(NULLS\\s+(?:FIRST|LAST)\\b)?" +
      "\\s*\\z").r.findFirstMatchIn(item)
    m match {
      case Some(mm) if mm.start < item.length && mm.group(0).trim.nonEmpty =>
        (item.substring(0, mm.start).trim, " " + mm.group(0).trim)
      case _ => (item.trim, "")
    }
  }

  /** Resolve a purely-numeric ORDER BY item (an output-column ordinal,
    * `ORDER BY 2 DESC`) against the select list: the Nth item's
    * expression, its trailing top-level `AS alias` stripped — the
    * window / hidden-column contexts the key is spliced into resolve
    * in SOURCE scope, where output ordinals and aliases don't exist.
    * Spliced verbatim the ordinal would order by the constant N —
    * silently wrong row picks (round 18, ADVICE). None = the ordinal
    * cannot be resolved (out of range, a `*` item, or an expression
    * the parser rejects once the alias is stripped — e.g. a bare
    * alias) — the caller declines so the hint fires instead.
    */
  private def resolveOrdinal(items: Vector[String], key: String)
      : Option[String] = {
    if (!key.matches("\\d+")) return Some(key)
    val n = try key.toInt catch { case _: NumberFormatException => return None }
    if (n < 1 || n > items.length) return None
    val item = items(n - 1).trim
    if (item == "*" || item.endsWith(".*")) return None
    val expr = DuckLexer(item).topLevelWords.reverse
      .find(_._1 == "AS") match {
      case Some((_, pos)) => item.substring(0, pos).trim
      case None => item
    }
    try {
      org.apache.spark.sql.SparkSession.active.sessionState.sqlParser
        .parseExpression(expr)
      Some(expr)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    if (words.exists(_._1 == "?")) return None
    val selIdx = words.indexWhere(_._1 == "SELECT")
    if (selIdx < 0) return None
    // Only the head statement (or a WITH's final SELECT) — anything
    // before SELECT other than a WITH prefix declines.
    if (selIdx > 0 && words.head._1 != "WITH") return None
    val headShaped = words.lift(selIdx + 1).exists(_._1 == "DISTINCT") &&
      words.lift(selIdx + 2).exists(_._1 == "ON")
    // Set operations (round 17; EVERY block since round 18): DISTINCT
    // ON binds to its OWN query block (DuckDB 1.0 pinned) — split the
    // chain at the top-level set operators, rewrite each block that is
    // itself DISTINCT-ON-shaped (parenthesized — a rewritten block is
    // a subquery), keep the rest, and reattach the operators plus the
    // GLOBAL trailing ORDER BY/LIMIT (which belongs to the whole
    // chain, never to the last block: only the head block can carry a
    // block-level ORDER BY in unparenthesized SQL, so non-head blocks'
    // DISTINCT ON picks are arbitrary on both engines).
    val setOps = words.filter(w => Set("UNION", "INTERSECT", "EXCEPT")(w._1))
      .filter(_._2 > words(selIdx)._2)
    if (setOps.isEmpty && !headShaped) return None
    if (setOps.nonEmpty) {
      val prefix = sql.substring(0, words(selIdx)._2)
      val bounds = (words(selIdx)._2 +: setOps.map(_._2)) :+ sql.length
      val blocks = bounds.sliding(2).map(p => sql.substring(p(0), p(1))).toVector
      var globalTrail = ""
      var any = false
      val out = new StringBuilder(prefix)
      blocks.zipWithIndex.foreach { case (block0, i) =>
        var block = block0
        // Non-head blocks open with the operator words (UNION [ALL] /
        // BY NAME / ...): the body starts at the first top-level
        // SELECT or '('.
        val bw = DuckLexer(block).topLevelWords
        val bodyPos =
          if (i == 0) 0
          else bw.find(w => w._1 == "SELECT" || w._1 == "(").map(_._2)
            .getOrElse(return None)
        var body = block.substring(bodyPos)
        val opText = block.substring(0, bodyPos)
        if (i == blocks.length - 1) {
          // Split the chain-global trail off the last block.
          val tw = DuckLexer(body).topLevelWords
          tw.find(w => trailing(w._1)).foreach { w =>
            globalTrail = body.substring(w._2)
            body = body.substring(0, w._2)
          }
        }
        val rewrote: Option[String] =
          if (body.trim.startsWith("(")) None // parenthesized: own scope
          else if (isShaped(body)) rewrite(body) match {
            case Some(r) => Some(r)
            case None => return None // shaped but unrewritable: hint
          }
          else None
        if (rewrote.isDefined) any = true
        out.append(opText)
          .append(rewrote.map(r => "( " + r + " ) ").getOrElse(body))
      }
      if (!any) return None
      out.append(globalTrail)
      return Some(out.toString)
    }
    val onPos = words(selIdx + 2)._2
    val parenStart = sql.indexOf('(', onPos + 2)
    if (parenStart < 0) return None
    if (sql.substring(onPos + 2, parenStart).exists(!_.isWhitespace))
      return None
    val parenClose = DuckLexer(sql).closeOf(parenStart)
    if (parenClose < 0) return None
    val ons = sql.substring(parenStart + 1, parenClose - 1).trim
    if (ons.isEmpty) return None
    // Select list: from after the ON (...) group to the top-level FROM.
    val fromPos = words.drop(selIdx + 1).find(_._1 == "FROM").map(_._2)
      .getOrElse(return None)
    if (fromPos < parenClose) return None
    val rawList = sql.substring(parenClose, fromPos).trim
    if (rawList.isEmpty) return None
    val outList = if (rawList == "*") "* EXCEPT (__graft_rn)" else rawList
    // FROM section runs to the first top-level trailing clause.
    val trailPos = words.find(t => trailing(t._1) && t._2 > fromPos)
      .map(_._2).getOrElse(sql.length)
    val fromSection = sql.substring(fromPos, trailPos).trim
      .stripSuffix(";").trim
    val trail = sql.substring(trailPos).trim.stripSuffix(";").trim
    // The window's ORDER BY: the query's own sort keys when present
    // (DuckDB keeps the first row under that order), else the ON exprs.
    // Output-column ordinals resolve against the select list — inside
    // the OVER clause they would be constants (the outer trailing ORDER
    // BY keeps them: there they ARE positional).
    val selItems = DuckLexer(rawList).split(',').map(_.trim).toVector
    val winOrder = if (trail.toUpperCase.startsWith("ORDER")) {
      val t2 = trail
      val stopIdx = DuckLexer(t2).topLevelWords
        .find(w => w._1 == "LIMIT" || w._1 == "OFFSET" || w._1 == "FETCH")
        .map(_._2).getOrElse(t2.length)
      t2.substring("ORDER".length, stopIdx).trim
        .replaceFirst("(?i)\\Aby\\b", "").trim match {
        case "" => ons
        case keys => DuckLexer(keys).split(',').map(_.trim).map(splitKey)
          .map { case (e, d) =>
            resolveOrdinal(selItems, e).map(_ + d).getOrElse(return None)
          }.mkString(", ")
      }
    } else ons
    val prefix = sql.substring(0, words(selIdx)._2)
    val hasGroup = words.exists(w =>
      (w._1 == "GROUP" || w._1 == "HAVING") && w._2 > fromPos && w._2 < trailPos)
    val hasQualify = words.exists(w =>
      w._1 == "QUALIFY" && w._2 > fromPos && w._2 < trailPos)
    if (!hasGroup && !hasQualify)
      return Some(prefix + s"SELECT $outList FROM ( SELECT *, row_number() OVER " +
        s"(PARTITION BY $ons ORDER BY $winOrder) AS __graft_rn $fromSection " +
        s") __graft_d WHERE __graft_rn = 1" +
        (if (trail.isEmpty) "" else " " + trail))
    // GROUP BY / HAVING / QUALIFY shapes (round 17): DuckDB applies
    // DISTINCT ON over the GROUPED (resp. QUALIFY-filtered) rows, with
    // the trailing ORDER BY as the per-group tiebreak — so the original
    // block (sans DISTINCT ON) becomes an inner subquery and the window
    // splice runs OVER it. The ON exprs and sort keys are appended to
    // the inner select list as hidden columns (they may be aggregates
    // or non-projected source columns — both resolve only INSIDE the
    // block's own scope), partition/order/outer-sort all reference the
    // hidden names, and the outer projection EXCEPTs them away.
    if (rawList == "*") return None // star over an aggregate block
    val onItems = DuckLexer(ons).split(',').map(_.trim).filter(_.nonEmpty)
    if (onItems.isEmpty) return None
    val keyItems: Vector[(String, String)] =
      if (trail.toUpperCase.startsWith("ORDER")) {
        val stopIdx = DuckLexer(trail).topLevelWords
          .find(w => Set("LIMIT", "OFFSET", "FETCH")(w._1))
          .map(_._2).getOrElse(trail.length)
        val keysText = trail.substring("ORDER".length, stopIdx).trim
          .replaceFirst("(?i)\\Aby\\b", "").trim
        if (keysText.isEmpty) Vector.empty
        else DuckLexer(keysText).split(',').map(_.trim).map(splitKey)
          .map { case (e, d) =>
            // ordinals: hoisted verbatim they'd become constant hidden
            // columns (round 18, ADVICE) — resolve or decline
            (resolveOrdinal(selItems, e).getOrElse(return None), d)
          }
      } else Vector.empty
    val onHidden = onItems.zipWithIndex.map { case (e, i) =>
      (e, s"__graft_on$i") }
    val keyHidden = keyItems.zipWithIndex.map { case ((e, d), i) =>
      (e, d, s"__graft_k$i") }
    val hiddenSel = (onHidden.map { case (e, n) => s"$e AS $n" } ++
      keyHidden.map { case (e, _, n) => s"$e AS $n" }).mkString(", ")
    val inner0 = s"SELECT $rawList, $hiddenSel $fromSection"
    val inner =
      if (hasQualify) QualifyRewrite.rewrite(inner0).getOrElse(return None)
      else inner0
    val partCols = onHidden.map(_._2).mkString(", ")
    val ordClause =
      if (keyHidden.nonEmpty)
        keyHidden.map { case (_, d, n) => n + d }.mkString(", ")
      else partCols
    val hiddenNames = (onHidden.map(_._2) ++ keyHidden.map(_._3)).mkString(", ")
    val limTail =
      if (trail.toUpperCase.startsWith("ORDER")) {
        val stopIdx = DuckLexer(trail).topLevelWords
          .find(w => Set("LIMIT", "OFFSET", "FETCH")(w._1))
          .map(_._2).getOrElse(trail.length)
        trail.substring(stopIdx).trim
      } else trail
    val outerOrder =
      if (keyHidden.nonEmpty)
        "ORDER BY " + keyHidden.map { case (_, d, n) => n + d }.mkString(", ")
      else ""
    Some(prefix + s"SELECT * EXCEPT ($hiddenNames, __graft_rn) FROM ( " +
      s"SELECT *, row_number() OVER (PARTITION BY $partCols ORDER BY " +
      s"$ordClause) AS __graft_rn FROM ( $inner ) __graft_g ) __graft_d " +
      "WHERE __graft_rn = 1" +
      (if (outerOrder.isEmpty) "" else " " + outerOrder) +
      (if (limTail.isEmpty) "" else " " + limTail))
  }
}
