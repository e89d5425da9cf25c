package graft.sql

/** DuckDB's ordered-aggregate argument syntax — `agg(args ORDER BY
  * keys)` (reference host surface; exercised all over DuckDB-dialect
  * scripts as `string_agg(x, ',' ORDER BY y)` / `list(x ORDER BY y
  * DESC)`) — executed on Spark, which spells intra-aggregate ordering
  * `WITHIN GROUP` and only for the listagg/percentile family:
  *
  *  - `string_agg` / `listagg` / `group_concat`: the args keep their
  *    place and the ORDER BY moves into a `WITHIN GROUP` clause
  *    (`group_concat`, which Spark lacks, is emitted as its DuckDB
  *    synonym `string_agg`). DISTINCT and a trailing FILTER ride
  *    along — both probed native.
  *  - `array_agg` / `list`: Spark's collect_list supports no ordering
  *    at all, so the call lowers to the sort-struct form
  *    `transform(array_sort(array_agg(named_struct(keys…, value))),
  *    s -> s._v)`. Each ASC key gets a `(k) IS NULL` guard field so
  *    Spark's natural nulls-first struct ordering reproduces DuckDB's
  *    NULLS LAST default (explicit NULLS FIRST drops the guard);
  *    a single DESC key uses an explicit comparator lambda. Multi-key
  *    lists containing DESC decline to the hint. A trailing FILTER
  *    clause is folded onto the inner array_agg (it cannot follow
  *    `transform`). NULL values survive — the aggregated element is a
  *    struct, never null, which matches DuckDB's list() keeping nulls
  *    where a bare collect_list would drop them. Ties on the full key
  *    list break by the value itself (struct comparison reaches the
  *    trailing `_v` field); DuckDB leaves tie order unspecified.
  *
  * The in-argument ORDER BY never parses in Spark, so only genuine
  * DuckDB statements reach this rewrite (parse-failure chain only —
  * no native statement can be claimed). Any qualifying call this
  * rewrite cannot express declines the WHOLE statement to the hint
  * rather than leaving a half-rewritten text.
  */
object OrderedAggRewrite {
  private val callRe =
    ("(?i)\\b(string_agg|listagg|group_concat|array_agg|list|first|last|" +
      "count|sum|avg|min|max|bool_and|bool_or|any_value)\\s*\\(").r
  private val shapedRe =
    ("(?is).*\\b(?:string_agg|listagg|group_concat|array_agg|list|first|last|" +
      "count|sum|avg|min|max|bool_and|bool_or|any_value)" +
      "\\s*\\(.*\\bORDER\\s+BY\\b.*").r
  // Order-INSENSITIVE aggregates: DuckDB accepts (and ignores) an
  // in-argument ORDER BY on these — count(DISTINCT x ORDER BY x) is a
  // common paste shape — so the rewrite simply strips it (round 18).
  // any_value is NOT in this set (round-20 probe): the host honors its
  // ORDER BY — any_value(x ORDER BY y) is the first NON-NULL value
  // under that order (first() keeps the NULL; any_value skips it).
  private val orderInsensitive = Set("count", "sum", "avg", "min", "max",
    "bool_and", "bool_or")

  /** Index of the first depth-0 `ORDER BY` inside an (already
    * literal-masked) argument text, or -1.
    */
  private def topOrderBy(masked: String): Int = {
    var i = 0
    var depth = 0
    val n = masked.length
    while (i < n) {
      masked.charAt(i) match {
        case '(' | '[' | '{' => depth += 1; i += 1
        case ')' | ']' | '}' => depth -= 1; i += 1
        case c if depth == 0 && (c == 'o' || c == 'O') &&
            masked.regionMatches(true, i, "ORDER", 0, 5) &&
            (i == 0 || !DuckLexer.wordCh(masked.charAt(i - 1))) =>
          var j = i + 5
          var sawWs = false
          while (j < n && masked.charAt(j).isWhitespace) { j += 1; sawWs = true }
          if (sawWs && masked.regionMatches(true, j, "BY", 0, 2) &&
            (j + 2 >= n || !DuckLexer.wordCh(masked.charAt(j + 2)))) return i
          i += 5
        case _ => i += 1
      }
    }
    -1
  }

  private case class Key(expr: String, desc: Boolean, nullsFirst: Boolean)
  private val keyRe =
    "(?is)\\A(.+?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*\\z".r

  private def parseKeys(keysText: String): Option[Vector[Key]] = {
    val parts = DuckLexer(keysText).split(',').map(_.trim).filter(_.nonEmpty)
    if (parts.isEmpty) return None
    val ks = parts.map { p =>
      keyRe.findFirstMatchIn(p) match {
        case Some(m) =>
          val desc = Option(m.group(2)).exists(_.equalsIgnoreCase("DESC"))
          val nf = Option(m.group(3)).map(_.equalsIgnoreCase("FIRST"))
            // DuckDB's default null order is NULLS LAST for both
            // directions (default_null_order).
            .getOrElse(false)
          Key(m.group(1).trim, desc, nf)
        case None => return None
      }
    }
    Some(ks)
  }

  /** The sort-struct lowering for array_agg/list, or None when the
    * key shape can't be expressed (DESC among multiple keys).
    */
  private def arrayForm(valueExpr: String, keys: Vector[Key],
      filterSuffix: String): Option[String] = {
    // DISTINCT-with-order (round 19): the host REQUIRES the order key
    // to appear in the argument list, so the single-key
    // key-equals-value shape is the whole legal surface — the same
    // sort-struct lowering with array_distinct spliced around the
    // inner agg (distinct structs = distinct values when key = value;
    // NULL survives as a struct element, matching the host).
    val distinctM = "(?is)\\A\\s*DISTINCT\\b".r.findFirstMatchIn(valueExpr)
    val value = distinctM match {
      case Some(m) =>
        val v = valueExpr.substring(m.end).trim
        if (keys.length != 1) return None
        if (keys.head.expr.replaceAll("\\s+", " ").trim !=
          v.replaceAll("\\s+", " ").trim) return None
        v
      case None => valueExpr
    }
    val fields = new StringBuilder
    keys.zipWithIndex.foreach { case (k, i) =>
      if (!k.nullsFirst)
        fields.append(s"'_n${i + 1}', (${k.expr}) IS NULL, ")
      fields.append(s"'_o${i + 1}', ${k.expr}, ")
    }
    fields.append(s"'_v', $value")
    val agg0 = s"array_agg(named_struct($fields))$filterSuffix"
    val agg = if (distinctM.isDefined) s"array_distinct($agg0)" else agg0
    if (keys.forall(!_.desc))
      Some(s"transform(array_sort($agg), s -> s._v)")
    else if (keys.length == 1) {
      val k = keys.head
      // DESC with the requested null position, then natural order on
      // the rest of the struct (the value) for deterministic ties.
      val nullArms =
        if (k.nullsFirst)
          "WHEN l._o1 IS NULL AND r._o1 IS NULL THEN 0 " +
          "WHEN l._o1 IS NULL THEN -1 WHEN r._o1 IS NULL THEN 1 "
        else
          "WHEN l._o1 IS NULL AND r._o1 IS NULL THEN 0 " +
          "WHEN l._o1 IS NULL THEN 1 WHEN r._o1 IS NULL THEN -1 "
      val cmp = s"(l, r) -> CASE $nullArms" +
        "WHEN l._o1 < r._o1 THEN 1 WHEN l._o1 > r._o1 THEN -1 ELSE 0 END"
      Some(s"transform(array_sort($agg, $cmp), s -> s._v)")
    } else None
  }

  def rewrite(text: String): Option[String] = {
    if (!shapedRe.pattern.matcher(
      DuckLexer(text).masked).matches) return None
    var cur = text
    var changed = false
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = DuckLexer(cur).masked
      // Innermost-first (the structPack convention): skip a call whose
      // own args still contain another qualifying call, so nested
      // occurrences resolve inside-out.
      val hit = callRe.findAllMatchIn(masked).flatMap { m =>
        val open = masked.indexOf('(', m.end - 1)
        val close = DuckLexer(cur).closeOf(open)
        if (close < 0) None
        else {
          val inner = cur.substring(open + 1, close - 1)
          val innerMasked = DuckLexer(inner).masked
          val ob = topOrderBy(innerMasked)
          if (ob < 0) None
          else if (shapedRe.pattern.matcher(innerMasked).matches) None
          else Some((m.group(1).toLowerCase, m.start, open, close, inner, ob))
        }
      }.toSeq.headOption
      hit match {
        case None => return if (changed) Some(cur) else None
        case Some((name, start, open, close, inner, ob)) =>
          val args = inner.substring(0, ob).trim.stripSuffix(",").trim
          val keysText = {
            val afterOrder = inner.substring(ob + 5)
            val by = "(?is)\\A\\s*BY\\b".r.findFirstMatchIn(afterOrder).get
            afterOrder.substring(by.end)
          }
          if (args.isEmpty) return None
          // A FILTER clause trailing the call moves with the agg.
          val filterRe = "(?is)\\A\\s*FILTER\\s*\\(".r
          val tail = cur.substring(close)
          val (filterSuffix, afterCall) =
            filterRe.findFirstMatchIn(tail) match {
              case Some(fm) =>
                val fc = DuckLexer(tail).closeOf(fm.end - 1)
                if (fc < 0) ("", close)
                else (" " + tail.substring(0, fc).trim, close + fc)
              case None => ("", close)
            }
          val repl: Option[String] =
            if (name == "array_agg" || name == "list")
              parseKeys(keysText).flatMap(arrayForm(args, _, filterSuffix))
            else if (name == "any_value")
              // First NON-NULL under the order (host-probed v1.0.0:
              // any_value(x ORDER BY y) skips leading NULLs where
              // first() returns them). get() is 0-based and
              // NULL-on-out-of-bounds, covering the all-NULL group.
              parseKeys(keysText).flatMap(arrayForm(args, _, filterSuffix))
                .map(arr =>
                  s"get(filter($arr, __graft_av -> __graft_av IS NOT NULL), 0)")
            else if (name == "first" || name == "last")
              // first/last BY the sort keys = the 1st/-1st element of
              // the ordered collect (round 16; DuckDB's in-arg ORDER BY
              // forms of first/last).
              parseKeys(keysText).flatMap(arrayForm(args, _, filterSuffix))
                .map(arr =>
                  s"element_at($arr, ${if (name == "first") "1" else "-1"})")
            else if (orderInsensitive(name))
              Some(s"$name($args)" + filterSuffix)
            else {
              val fn = if (name == "group_concat") "string_agg" else name
              Some(s"$fn($args) WITHIN GROUP (ORDER BY ${keysText.trim})" +
                filterSuffix)
            }
          repl match {
            case None => return None
            case Some(r) =>
              cur = cur.substring(0, start) + r + cur.substring(afterCall)
              changed = true
          }
      }
    }
    if (changed) Some(cur) else None
  }
}
