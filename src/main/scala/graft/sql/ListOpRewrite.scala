package graft.sql

/** Round-18 sixth-sweep operators — Postgres-style spellings DuckDB
  * hosts that Spark's grammar lacks, all PARSE-FAILURE-ONLY (none of
  * these token sequences is valid Spark SQL, so no native statement
  * can ever be claimed):
  *
  *  - `a ^@ b` (starts-with) → `startswith(a, b)` (NULL propagation
  *    and the ''-prefix-of-anything contract match, pinned).
  *  - `a && b` (list overlap / list_has_any) → `arrays_overlap` over
  *    NULL-compacted operands: DuckDB's `&&` is NULL-BLIND —
  *    `[1,NULL] && [NULL]` is FALSE, not NULL — while whole-NULL
  *    operands stay NULL (compact(NULL) is NULL; pinned).
  *  - `a @> b` / `a <@ b` (contains-all) → `forall` over the compacted
  *    CONTAINED side with a strict per-element `coalesce(array_contains
  *    (container, t), false)`: DuckDB ignores NULL elements of the
  *    contained side (`[1,2] @> [NULL]` is TRUE), treats an unmatched
  *    element as plain FALSE even when the container holds NULLs
  *    (`[1,NULL] @> [2]` is FALSE), and returns NULL only for
  *    whole-NULL operands — hence the explicit IS NULL case.
  *  - `l <op> ANY|SOME|ALL (<list>)` (quantified comparison) →
  *    `exists` / `forall` with the comparison inside the lambda:
  *    Spark's three-valued lambda semantics match DuckDB's exactly
  *    (= any([1,NULL]) → NULL, = any([2,NULL]) → TRUE, any([]) →
  *    FALSE, all([]) → TRUE; all pinned). Scalar-SUBQUERY operands
  *    decline — the host itself rejects them ("use IN").
  *  - `fn(args IGNORE|RESPECT NULLS)` (the in-parens DuckDB spelling)
  *    → `fn(args) IGNORE|RESPECT NULLS` (Spark's suffix position).
  *  - trailing `ORDER BY ... LIMIT <p>%` (percent limit) → a
  *    row_number/count window pair over the sorted body with
  *    `floor(n·p/100)` kept rows (DuckDB's rounding: 10% of 3 rows =
  *    0, 67% = 2; pinned). Requires the explicit ORDER BY (a percent
  *    of an unordered result is arbitrary rows on both engines —
  *    declined to the hint rather than picked silently).
  *
  * Each operator reads its operands with the lexer's operand grammar
  * ([[DuckLexer.operandBefore]], [[DuckLexer.operandAfter]]), the one
  * the `**`, `~` and AT TIME ZONE rewrites read too, and declines to the
  * hint when a tighter-binding neighbour (arithmetic, concat, brackets)
  * would make the one-operand extraction misgroup.
  */
object ListOpRewrite {

  import DuckLexer.operandCh

  // The neighbours that bind tighter than a comparison, left and right.
  private val tighterLeft = "|+-*/%^&~!@<"
  private val tighterRight = "+-*/%^&~!@[<|"

  /** `^@`, `&&`, `@>`, `<@` — one per pass, re-entering via the chain's
    * recursion for multiples and for bracket-literal operands.
    */
  def rewriteOps(text: String): Option[String] = {
    val ops = Seq("^@", "&&", "@>", "<@")
    if (!ops.exists(text.contains)) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val hits = ops.flatMap { op =>
        val i = view.masked.indexOf(op)
        if (i >= 0) Some((i, op)) else None
      }
      if (hits.isEmpty) return if (changed) Some(cur) else None
      val (oi, op) = hits.minBy(_._1)
      val (rs, re) = view.operandAfter(oi + op.length).getOrElse(return None)
      val (ls, le) = view.operandBefore(oi).getOrElse(return None)
      if (view.bindsTighter(ls, re, tighterLeft, tighterRight)) return None
      val a = cur.substring(ls, le)
      val b = cur.substring(rs, re)
      val repl = op match {
        case "^@" => s"startswith($a, $b)"
        case "&&" => s"arrays_overlap(array_compact($a), array_compact($b))"
        case "@>" =>
          s"(CASE WHEN ($a) IS NULL OR ($b) IS NULL THEN NULL ELSE " +
            s"forall(array_compact($b), __graft_t -> " +
            s"coalesce(array_contains($a, __graft_t), false)) END)"
        case "<@" =>
          s"(CASE WHEN ($a) IS NULL OR ($b) IS NULL THEN NULL ELSE " +
            s"forall(array_compact($a), __graft_t -> " +
            s"coalesce(array_contains($b, __graft_t), false)) END)"
      }
      cur = cur.substring(0, ls) + repl + cur.substring(re)
      changed = true
    }
    if (changed) Some(cur) else None
  }

  /** JSON arrow operators (round-18 seventh sweep): `j -> k` extracts
    * as JSON text (the engine's json_extract / get_json_object — the
    * documented string-quoting divergence applies), `j ->> k` as
    * unquoted text (exact). Keys: string literals (field names, or
    * '$...' paths passed verbatim) and integer literals (0-based array
    * index, DuckDB-pinned: '[5,6]' -> 0 is '5'). Left-associative
    * chains resolve earliest-first, so the rewritten call becomes the
    * next round's left operand. Parse-failure only.
    */
  private val hofNames = Set("transform", "filter", "exists", "forall",
    "aggregate", "reduce", "zip_with", "map_filter", "map_zip_with",
    "transform_keys", "transform_values", "array_sort", "list_transform",
    "list_filter", "list_reduce", "list_where", "list_select",
    "list_grade_up")

  /** Name of the innermost call enclosing `pos`, lowercased ("" when
    * not inside any call or the paren is a bare group).
    */
  private def enclosingCallee(view: DuckLexer, pos: Int): String = {
    val m = view.masked
    val open = (pos to 0 by -1).find { i =>
      m.charAt(i) == '(' && { val c = view.closeOf(i); c < 0 || c > pos }
    }.getOrElse(return "")
    view.operandBefore(open).filter { case (s, e) => s < e && operandCh(m.charAt(e - 1)) }
      .map { case (s, e) => view.text.substring(s, e).toLowerCase }.getOrElse("")
  }

  def rewriteJsonArrows(text: String): Option[String] = {
    if (!text.contains("->")) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 256) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      var oi = m.indexOf("->")
      var applied = false
      while (oi >= 0 && !applied) {
        val isText = oi + 2 < m.length && m.charAt(oi + 2) == '>'
        val opLen = if (isText) 3 else 2
        def skip(): Unit = { oi = m.indexOf("->", oi + opLen) }
        // `->` is ALSO Spark's lambda arrow; lambdas are only legal as
        // a higher-order function's argument, so an occurrence inside
        // a call to a known HOF name is SKIPPED — splicing a lambda
        // arrow into json_extract would be silent corruption.
        if (hofNames(enclosingCallee(view, oi))) skip()
        else (view.operandBefore(oi), view.operandAfter(oi + opLen)) match {
          case (Some((ls, le)), Some((ks, re))) =>
            val l = cur.substring(ls, le)
            val kRaw = cur.substring(ks, re)
            // Same-precedence left-assoc chains: a FOLLOWING arrow is
            // fine (this splice becomes its left operand next round);
            // other tight-binding neighbors skip the occurrence.
            var pa = re
            while (pa < m.length && cur.charAt(pa).isWhitespace) pa += 1
            val nextIsArrow = m.startsWith("->", pa)
            val path =
              if (kRaw.matches("\\d+")) Some(s"'$$[$kRaw]'")
              else if (kRaw.startsWith("'") && kRaw.length >= 2) {
                val k = kRaw.substring(1, kRaw.length - 1)
                if (k.startsWith("$")) Some(kRaw) else Some(s"'$$.$k'")
              } else None // lambda body / expression key: skip
            if (path.isEmpty ||
                view.bindsTighter(ls, re, tighterLeft, if (nextIsArrow) "" else tighterRight)) skip()
            else {
              val fn = if (isText) "json_extract_string" else "json_extract"
              cur = cur.substring(0, ls) +
                s"$fn($l, ${path.get})" + cur.substring(re)
              applied = true
            }
          case _ => skip()
        }
      }
      if (!applied) return if (changed) Some(cur) else None
      changed = true
    }
    if (changed) Some(cur) else None
  }

  private val filterShorthandRe =
    "(?i)\\bFILTER\\s*\\(\\s*(?!WHERE\\b)".r

  /** DuckDB's `agg(x) FILTER (cond)` shorthand (no WHERE keyword) →
    * Spark's `FILTER (WHERE cond)`. Parse-failure only — a scalar
    * `filter(arr, fn)` call that parses natively never reaches the
    * chain, and inside the chain a corrupted splice of one simply
    * fails to re-parse (dead candidate branch).
    */
  def rewriteFilterShorthand(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    val hits = filterShorthandRe.findAllMatchIn(m).toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    hits.foreach { h =>
      sb.append(text.substring(pos, h.end)).append("WHERE ")
      pos = h.end
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  private val quantRe =
    "(?i)(==|=|<>|!=|<=|>=|<|>)\\s*(ANY|ALL|SOME)\\s*\\(".r

  /** `l <op> ANY|SOME|ALL (list)` → exists/forall with the comparison
    * in the lambda. Subquery operands decline (the host demands IN).
    */
  def rewriteQuantified(text: String): Option[String] = {
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      val hit = quantRe.findFirstMatchIn(m) match {
        case Some(h) => h
        case None => return if (changed) Some(cur) else None
      }
      val open = m.indexOf('(', hit.end - 1)
      val close = view.closeOf(open)
      if (close < 0) return None
      val inner = cur.substring(open + 1, close - 1).trim
      if (inner.toUpperCase.startsWith("SELECT") ||
        inner.toUpperCase.startsWith("WITH") ||
        inner.toUpperCase.startsWith("FROM")) return None
      val (ls, le) = view.operandBefore(hit.start).getOrElse(return None)
      if (view.bindsTighter(ls, close, tighterLeft, tighterRight)) return None
      val l = cur.substring(ls, le)
      val op = hit.group(1)
      val fn = if (hit.group(2).equalsIgnoreCase("ALL")) "forall" else "exists"
      cur = cur.substring(0, ls) +
        s"$fn($inner, __graft_t -> ($l) $op __graft_t)" +
        cur.substring(close)
      changed = true
    }
    if (changed) Some(cur) else None
  }

  private val ignoreNullsInParensRe =
    "(?i)\\s+(IGNORE|RESPECT)\\s+NULLS\\s*\\)".r

  /** `fn(x IGNORE NULLS)` → `fn(x) IGNORE NULLS` (Spark's suffix
    * grammar position). Parse-failure only.
    */
  def rewriteIgnoreNulls(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    val hits = ignoreNullsInParensRe.findAllMatchIn(m).toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    hits.foreach { h =>
      sb.append(text.substring(pos, h.start))
        .append(") ").append(h.group(1).toUpperCase).append(" NULLS")
      pos = h.end
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  /** Postfix factorial `x!` (round-18 eighth sweep) → graft_factorial
    * (ScalarCompat.duckFactorial — DuckDB's exact-integer semantics,
    * (-n)! = 1, identical 0..33 domain). Parse-failure only: Spark has
    * no postfix operator, and `!=` / prefix-NOT occurrences are
    * excluded by the neighbor guards (a `!` directly followed by `=`
    * or preceding an operand is not postfix).
    */
  def rewriteFactorial(text: String): Option[String] = {
    if (!text.contains("!")) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      var i = 0
      var applied = false
      while (i < m.length && !applied) {
        if (m.charAt(i) == '!' &&
          (i + 1 >= m.length || m.charAt(i + 1) != '=') &&
          (i == 0 || m.charAt(i - 1) != '!')) {
          // postfix: an operand must END directly before the `!`
          view.operandBefore(i) match {
            case Some((ls, le)) if !DuckLexer.isClauseKeyword(cur.substring(ls, le)) &&
                !view.bindsTighter(ls, i + 1, tighterLeft, tighterRight) =>
              val a = cur.substring(ls, le)
              cur = cur.substring(0, ls) + s"graft_factorial($a)" +
                cur.substring(i + 1)
              applied = true
            case _ => i += 1
          }
        } else i += 1
      }
      if (!applied) return if (changed) Some(cur) else None
      changed = true
    }
    if (changed) Some(cur) else None
  }

  /** Prefix absolute-value `@x` (round-18) → abs(x). Skips `@>` / `<@`
    * (the containment operators, rewritten by [[rewriteOps]]).
    * Parse-failure only — `@` is not a Spark SQL token.
    */
  def rewriteAbsOp(text: String): Option[String] = {
    if (!text.contains("@")) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      var i = 0
      var applied = false
      while (i < m.length && !applied) {
        if (m.charAt(i) == '@' &&
          (i + 1 >= m.length || m.charAt(i + 1) != '>') &&
          (i == 0 || (m.charAt(i - 1) != '<' && !operandCh(m.charAt(i - 1))))) {
          view.operandAfter(i + 1) match {
            case Some((bs, re)) if !view.bindsTighter(i, re, tighterLeft, tighterRight) =>
              cur = cur.substring(0, i) + s"abs(${cur.substring(bs, re)})" + cur.substring(re)
              applied = true
            case _ => i += 1
          }
        } else i += 1
      }
      if (!applied) return if (changed) Some(cur) else None
      changed = true
    }
    if (changed) Some(cur) else None
  }

  private val intervalExprRe = "(?i)\\bINTERVAL\\s*\\(".r
  private val intervalUnits = Map(
    "year" -> "to_years", "month" -> "to_months", "week" -> "to_weeks",
    "day" -> "to_days", "hour" -> "to_hours", "minute" -> "to_minutes",
    "second" -> "to_seconds", "millisecond" -> "to_milliseconds",
    "microsecond" -> "to_microseconds", "decade" -> "to_decades",
    "century" -> "to_centuries", "centuries" -> "to_centuries",
    "millennium" -> "to_millennia", "millennia" -> "to_millennia")

  /** DuckDB's non-literal interval constructor `INTERVAL (expr) UNIT`
    * (round 18) → the engine's to_<unit>s() constructors (registered
    * aliases over MakeDTInterval/MakeYMInterval, so month-end clamping
    * and fractional seconds match). Spark's INTERVAL grammar only
    * takes literals — parse-failure only.
    */
  /** DuckDB's bare clock interval literal `INTERVAL '1:02:03[.frac]'`
    * (hours may exceed 24, sign allowed — host-probed; `'1:02'` is a
    * host error too). Spark needs the HOUR TO SECOND qualifier spelled
    * out; appending it is value-identical. Parse-failure only
    * (INVALID_TYPED_LITERAL).
    */
  private val clockIntervalRe =
    "(?i)\\bINTERVAL\\s*('-?\\d+:\\d{1,2}:\\d{1,2}(?:\\.\\d+)?')".r
  def rewriteIntervalClock(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    // literals are masked, so match positions come from the raw text
    // guarded by the INTERVAL keyword being unmasked in m
    val hits = clockIntervalRe.findAllMatchIn(text).filter { h =>
      m.regionMatches(true, h.start, "INTERVAL", 0, 8) &&
        // not already qualified: next word after the literal must not
        // be a unit keyword
        !"(?i)\\A\\s*(HOUR|MINUTE|SECOND|DAY|MONTH|YEAR|WEEK)"
          .r.findFirstIn(text.substring(h.end)).isDefined
    }.toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    hits.foreach { h =>
      sb.append(text.substring(pos, h.start))
        .append(s"INTERVAL ${h.group(1)} HOUR TO SECOND")
      pos = h.end
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  def rewriteIntervalExpr(text: String): Option[String] = {
    val m0 = DuckLexer(text).masked
    val hits = intervalExprRe.findAllMatchIn(m0).toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    var changed = false
    for (h <- hits if h.start >= pos) {
      val open = m0.indexOf('(', h.start)
      val close = DuckLexer(text).closeOf(open) // index AFTER ')'
      if (close > 0) {
        var u = close
        while (u < text.length && text.charAt(u).isWhitespace) u += 1
        var ue = u
        while (ue < text.length && text.charAt(ue).isLetter) ue += 1
        val unitWord = text.substring(u, ue).toLowerCase
        val unit = intervalUnits.get(unitWord)
          .orElse(intervalUnits.get(unitWord.stripSuffix("s")))
        unit match {
          case Some(fn) =>
            val inner = text.substring(open + 1, close - 1)
            sb.append(text.substring(pos, h.start)).append(s"$fn($inner)")
            pos = ue
            changed = true
          case None => // INTERVAL (literal) without a unit etc: leave
        }
      }
    }
    if (!changed) return None
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  private val unnestBraceRe = "(?i)\\bunnest\\s*\\(\\s*\\{".r

  /** `unnest({...struct literal...})` (round 18) — DuckDB expands a
    * struct argument into one column per field; Spark's explode only
    * takes arrays/maps. inline(array(struct)) produces exactly the
    * per-field columns. Only the textually-decidable brace-literal
    * form is claimed (a struct-typed column reference parses natively
    * into explode and keeps Spark's own analysis error).
    */
  def rewriteUnnestStruct(text: String): Option[String] = {
    val m0 = DuckLexer(text).masked
    val hits = unnestBraceRe.findAllMatchIn(m0).toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    for (h <- hits if h.start >= pos) {
      val open = m0.indexOf('(', h.start)
      val close = DuckLexer(text).closeOf(open)
      if (close < 0) return None
      val inner = text.substring(open + 1, close - 1)
      sb.append(text.substring(pos, h.start))
        .append(s"inline(array($inner))")
      pos = close
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  /** DuckDB's JSON casts (round 18): `x::JSON` and [TRY_]CAST(x AS
    * JSON) → graft_json_cast[_try] (functions/JsonBuild.JsonCastExpr —
    * strings validate-and-pass-through, other types convert to JSON
    * text). Parse-failure only: JSON is UNSUPPORTED_DATATYPE in Spark.
    */
  def rewriteJsonCast(text: String): Option[String] = {
    if (!"(?i)\\bJSON\\b".r.findFirstIn(text).isDefined) return None
    val out = DuckLexer.replaceCasts(text, _.equalsIgnoreCase("JSON")) { c =>
      s"${if (c.isTry) "graft_json_try_cast" else "graft_json_cast"}(${c.operand})"
    }
    if (out ne text) Some(out) else None
  }

  private val limitPctRe =
    "(?is)\\bLIMIT\\s+(\\d+(?:\\.\\d+)?)\\s*%\\s*;?\\s*\\z".r

  /** Trailing `ORDER BY <keys> LIMIT <p>%` → row_number/count window
    * wrap keeping floor(n·p/100) rows. Requires the ORDER BY; ordinal
    * sort keys decline (they would be constants inside OVER).
    */
  /** DuckDB's `expr GLOB 'pattern'` operator (round-20 thirteenth
    * sweep) — case-sensitive glob match (`*`/`?`/`[set]`), which Spark
    * has no spelling for (unrewritten it's a parse error, never a
    * silent misparse). Lands on the registered graft_glob scalar
    * (ScalarCompat.globMatch). `NOT GLOB` is a parser error on the
    * host too, so only the plain operator rewrites.
    */
  private val globWordRe = "(?i)\\bGLOB\\b".r
  def rewriteGlob(text: String): Option[String] = {
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 32) {
      rounds += 1
      val view = DuckLexer(cur)
      val hit = globWordRe.findFirstMatchIn(view.masked).getOrElse(
        return if (changed) Some(cur) else None)
      val (bs, re) = view.operandAfter(hit.end).getOrElse(return None)
      val (ls, le) = view.operandBefore(hit.start).getOrElse(return None)
      cur = cur.substring(0, ls) +
        s"graft_glob(${cur.substring(ls, le)}, ${cur.substring(bs, re)})" + cur.substring(re)
      changed = true
    }
    if (changed) Some(cur) else None
  }

  /** ANSI fetch syntax (round-20 fourteenth probe — the host executes
    * it, Spark's grammar has only LIMIT/OFFSET): `[OFFSET k ROW[S]]
    * FETCH FIRST|NEXT [n] ROW[S] ONLY` → `LIMIT n [OFFSET k]` (count
    * defaults to 1 per the standard), and a bare `OFFSET k ROWS` drops
    * the ROWS word. Parse-failure only; window-frame ROWS can't match
    * (no OFFSET/FETCH adjacency).
    */
  private val fetchRe =
    ("(?is)\\b(?:OFFSET\\s+(\\d+)\\s+ROWS?\\s+)?" +
      "FETCH\\s+(?:FIRST|NEXT)\\s+(?:(\\d+)\\s+)?ROWS?\\s+ONLY").r
  private val bareOffsetRowsRe = "(?is)\\bOFFSET\\s+(\\d+)\\s+ROWS?\\b".r
  def rewriteFetch(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    fetchRe.findFirstMatchIn(m) match {
      case Some(h) =>
        val off = Option(h.group(1)).map(k => s" OFFSET $k").getOrElse("")
        val n = Option(h.group(2)).getOrElse("1")
        Some(text.substring(0, h.start) + s"LIMIT $n$off" +
          text.substring(h.end))
      case None =>
        bareOffsetRowsRe.findFirstMatchIn(m).map(h =>
          text.substring(0, h.start) + s"OFFSET ${h.group(1)}" +
            text.substring(h.end))
    }
  }

  /** DuckDB's function-chaining syntax `expr.fn(args)` ≡ `fn(expr,
    * args)` (round-20 thirteenth sweep) for receivers that END
    * unambiguously — a closing paren (`('hello').upper()`,
    * `trim(x).len()`), a string literal (`'abc'.upper()`), or a bracket
    * list (`[1,2].len()` — via the bracket rewrite's array() form).
    * Bare-identifier receivers (`col.lower()`) are NOT claimed: they
    * parse natively as qualified names, so a textual rewrite could
    * shadow a real `schema.function()` call. Chains resolve
    * leftmost-first, so the rewritten call becomes the next round's
    * receiver. Parse-failure only.
    */
  private val dotCallRe = "\\.\\s*([A-Za-z_]\\w*)\\s*\\(".r
  def rewriteDotCall(text: String): Option[String] = {
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      // A receiver that ends in a close or a string literal: a bare
      // name before the dot parses natively as a qualified name.
      val found = dotCallRe.findAllMatchIn(m).flatMap { h =>
        view.operandBefore(h.start).filter { case (_, e) =>
          m.charAt(e - 1) == ')' || m.charAt(e - 1) == ']' || cur.charAt(e - 1) == '\''
        }.map((h, _))
      }.nextOption()
      val (hit, (ls, le)) = found.getOrElse(return if (changed) Some(cur) else None)
      val receiver = cur.substring(ls, le)
      val fn = hit.group(1)
      val open = hit.end - 1
      val close = view.closeOf(open)
      if (close < 0) return None
      val args = cur.substring(open + 1, close - 1).trim
      val call =
        if (args.isEmpty) s"$fn($receiver)" else s"$fn($receiver, $args)"
      cur = cur.substring(0, ls) + call + cur.substring(close)
      changed = true
    }
    if (changed) Some(cur) else None
  }

  def rewriteLimitPercent(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    val hit = limitPctRe.findFirstMatchIn(m).getOrElse(return None)
    val pct = hit.group(1)
    val words = DuckLexer(text).topLevelWords
    // the LIMIT must be top-level (not inside a subquery)
    val limW = words.reverse.find(w => w._1 == "LIMIT").getOrElse(return None)
    if (limW._2 != hit.start) return None
    val ordW = words.filter(w => w._1 == "ORDER" && w._2 < hit.start)
      .lastOption
    ordW match {
      case Some(ow) =>
        val keys = text.substring(ow._2, hit.start).trim
          .replaceFirst("(?i)\\Aorder\\s+by\\b", "").trim
        if (keys.isEmpty) return None
        if (DuckLexer(keys).split(',').map(_.trim)
          .exists(k => k.split("\\s+").headOption.exists(_.matches("\\d+"))))
          return None // ordinal keys: constants inside OVER
        val body = text.substring(0, ow._2).trim
        if (body.isEmpty) return None
        Some(
          s"SELECT * EXCEPT (__graft_rn, __graft_n) FROM ( " +
            s"SELECT *, row_number() OVER (ORDER BY $keys) AS __graft_rn, " +
            s"count(*) OVER () AS __graft_n FROM ( $body ) __graft_lp ) " +
            s"WHERE __graft_rn <= floor(__graft_n * $pct / 100.0) " +
            s"ORDER BY $keys")
      case None =>
        // No ORDER BY: the host still takes floor(n*pct/100) rows, an
        // arbitrary subset — mirror with an unordered row_number()
        // (round-20 thirteenth sweep; floor semantics probed:
        // 25% of 10 → 2 rows, 10% of 3 → 0 rows).
        val body = text.substring(0, hit.start).trim
        if (body.isEmpty) return None
        Some(
          s"SELECT * EXCEPT (__graft_rn, __graft_n) FROM ( " +
            s"SELECT *, row_number() OVER (ORDER BY " +
            s"monotonically_increasing_id()) AS __graft_rn, " +
            s"count(*) OVER () AS __graft_n FROM ( $body ) __graft_lp ) " +
            s"WHERE __graft_rn <= floor(__graft_n * $pct / 100.0)")
    }
  }
}
