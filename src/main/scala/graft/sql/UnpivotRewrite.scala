package graft.sql

/** Mechanical rewrite of DuckDB's simplified `UNPIVOT` STATEMENT
  * (friendly SQL, DuckDB ≥0.8):
  *
  * {{{
  * UNPIVOT tbl ON a, b [INTO NAME k VALUE v]
  * -- becomes --
  * SELECT * FROM tbl UNPIVOT (v FOR k IN (a, b))
  * }}}
  *
  * Spark hosts the ANSI-style UNPIVOT clause natively (3.4+), so unlike
  * PIVOT no TVF is needed — this is a pure clause reorder. Omitting
  * INTO reproduces DuckDB's defaults (`name` / `value`), and both
  * engines exclude NULL cells by default, so identical statement text
  * hash-compares. Scope: plain single-part table name, ON list of plain
  * column identifiers OR the dynamic `COLUMNS(* [EXCLUDE (…)])` form —
  * the latter resolves the table's schema from the session catalog at
  * rewrite time (the same name lookup the analyzer is about to do; a
  * name that doesn't resolve declines to the hint rather than erroring
  * here), one NAME and one VALUE identifier. Everything else lands on
  * the tier-2 hint.
  */
object UnpivotRewrite {

  private val headRe =
    """(?is)\A\s*UNPIVOT\s+([A-Za-z_]\w*)\s+ON\s+(.+?)(?:\s+INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*))?\s*;?\s*\z""".r

  private val columnsStarRe =
    """(?is)\A\s*COLUMNS\s*\(\s*\*\s*(?:EXCLUDE\s*(?:\(([^)]*)\)|([A-Za-z_]\w*)))?\s*\)\s*\z""".r

  // Subquery source (round 20): `UNPIVOT (SELECT ...) ON ...` — the
  // balanced-paren slice rides through as a derived table.
  private val parenHeadRe = """(?is)\A\s*UNPIVOT\s*(?=\()""".r
  private val parenTailRe =
    """(?is)\A\s+ON\s+(.+?)(?:\s+INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*))?\s*;?\s*\z""".r

  def rewrite(sql: String): Option[String] = {
    val (table, onList, nameCol, valueCol) =
      headRe.findFirstMatchIn(sql) match {
        case Some(m) =>
          (m.group(1), m.group(2).trim,
            Option(m.group(3)).getOrElse("name"),
            Option(m.group(4)).getOrElse("value"))
        case None =>
          val h = parenHeadRe.findFirstMatchIn(sql).getOrElse(return None)
          val open = h.end
          val close = DuckLexer(sql).closeOf(open)
          if (close < 0) return None
          val t = parenTailRe.findFirstMatchIn(sql.substring(close))
            .getOrElse(return None)
          (sql.substring(open, close) + " __graft_unpiv",
            t.group(1).trim,
            Option(t.group(2)).getOrElse("name"),
            Option(t.group(3)).getOrElse("value"))
      }
    val cols: Seq[String] = columnsStarRe.findFirstMatchIn(onList) match {
      case Some(cm) =>
        // Dynamic ON list: every table column except the EXCLUDEd ones,
        // in schema order (DuckDB's expansion order).
        val excluded = (Option(cm.group(1)).toSeq.flatMap(_.split(","))
          ++ Option(cm.group(2)).toSeq).map(_.trim.toLowerCase)
          .filter(_.nonEmpty).toSet
        val schema = try {
          org.apache.spark.sql.SparkSession.active.table(table).columns.toSeq
        } catch { case scala.util.control.NonFatal(_) => return None }
        val keep = schema.filterNot(c => excluded(c.toLowerCase))
        if (keep.isEmpty) return None
        keep
      case None => onList.split(",").map(_.trim).toSeq
    }
    if (cols.isEmpty || !cols.forall(_.matches("[A-Za-z_]\\w*"))) return None
    Some(s"SELECT * FROM $table UNPIVOT ($valueCol FOR $nameCol IN " +
      s"(${cols.mkString(", ")}))")
  }
}
