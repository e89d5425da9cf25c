package graft.sql

/** Mechanical rewrite of DuckDB's simplified `PIVOT` STATEMENT
  * (friendly SQL, DuckDB ≥0.8):
  *
  * {{{
  * PIVOT tbl ON col USING sum(v) [GROUP BY g1, g2]
  * -- becomes --
  * SELECT * FROM pivot_auto('tbl', 'col', 'sum(v)'[, 'g1, g2'])
  * }}}
  *
  * Spark's SQL PIVOT demands an explicit IN value list; DuckDB's
  * statement discovers the pivot columns from the data, which the
  * `pivot_auto` TVF reproduces through the Dataset API's dynamic
  * `groupBy().pivot(col)`. An explicit `IN (v1, v2, …)` value list and
  * `AS alias`'d aggregates (DuckDB names those columns
  * `<value>_<alias>`) ride through to the TVF, which maps them onto
  * `pivot(col, values)` — no discovery job — and post-pivot renames.
  * Scope is the common single-table form, declined otherwise: a plain
  * single-part table name, one-or-more ON columns (a multi-ON pivot
  * pivots on the '_'-joined combination, reproducing DuckDB's
  * combined-value column naming; an IN list needs a single ON column),
  * one-or-more USING aggregates (each aliased when there are several),
  * and an optional GROUP BY of plain column names.
  */
object PivotRewrite {

  private val headRe =
    """(?is)\A\s*PIVOT\s+([A-Za-z_]\w*)\s+ON\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)(?:\s+IN\s*\((.*?)\))?\s+USING\s+(.*?)(?:\s+GROUP\s+BY\s+(.*?))?\s*;?\s*\z""".r
  // Subquery source (round 20): `PIVOT (SELECT ...) ON ...` — the
  // balanced-paren slice rides to pivot_auto as query text (its
  // tableOrSql dispatch runs '('-prefixed sources through spark.sql).
  private val parenHeadRe = """(?is)\A\s*PIVOT\s*(?=\()""".r
  private val tailRe =
    ("""(?is)\A\s+ON\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)""" +
      """(?:\s+IN\s*\((.*?)\))?\s+USING\s+(.*?)""" +
      """(?:\s+GROUP\s+BY\s+(.*?))?""" +
      """(\s+ORDER\s+BY\s+.+?)?(\s+LIMIT\s+\d+)?\s*;?\s*\z""").r

  // Quote-doubling only (slices carry the DuckLiterals entry
  // doubling; one unescape at re-parse consumes it).
  private def esc(s: String) =
    s.replace("'", "''")

  def rewrite(sql: String): Option[String] = {
    val (table, onCol, inList, agg, groups, suffix) =
      headRe.findFirstMatchIn(sql) match {
        case Some(m) =>
          (m.group(1), m.group(2),
            Option(m.group(3)).map(_.trim).getOrElse(""),
            m.group(4).trim,
            Option(m.group(5)).map(_.trim).getOrElse(""), "")
        case None =>
          val h = parenHeadRe.findFirstMatchIn(sql).getOrElse(return None)
          val open = h.end
          val close = DuckLexer(sql).closeOf(open)
          if (close < 0) return None
          val t = tailRe.findFirstMatchIn(sql.substring(close))
            .getOrElse(return None)
          (sql.substring(open, close), t.group(1),
            Option(t.group(2)).map(_.trim).getOrElse(""),
            t.group(3).trim,
            Option(t.group(4)).map(_.trim).getOrElse(""),
            Option(t.group(5)).getOrElse("") +
              Option(t.group(6)).getOrElse(""))
      }
    if (agg.isEmpty) return None
    // Each top-level USING part may carry one trailing alias; with
    // several parts every one must (pivot_auto enforces it too, but
    // declining here keeps the error on the friendlier hint path).
    val parts = DuckLexer(agg).split(',')
    if (parts.size > 1) {
      val outers = parts.map { p =>
        var o = p
        while (o.contains("(")) o = o.replaceAll("\\([^()]*\\)", "")
        o
      }
      if (!outers.forall(o =>
        """(?i)\bAS\b""".r.findFirstIn(o).isDefined)) return None
    }
    if (groups.nonEmpty &&
      !groups.split(",").forall(_.trim.matches("[A-Za-z_]\\w*"))) return None
    val groupArg =
      if (groups.isEmpty && inList.isEmpty) ""
      else s", '${esc(groups)}'"
    val inArg = if (inList.isEmpty) "" else s", '${esc(inList)}'"
    Some(s"SELECT * FROM pivot_auto('${esc(table)}', '${esc(onCol)}', " +
      s"'${esc(agg)}'$groupArg$inArg)$suffix")
  }
}
