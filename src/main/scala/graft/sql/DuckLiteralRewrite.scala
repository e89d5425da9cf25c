package graft.sql

import scala.util.control.NonFatal

/** Mechanical rewrite of DuckDB's bracket-and-brace literal syntax —
  * the friendly-SQL surface a pasted script leans on hardest after
  * EXCLUDE/QUALIFY:
  *
  * {{{
  * SELECT [1, 2, 3]                           -- list literal  → array(1, 2, 3)
  * SELECT ARRAY[1, 2]                         -- PG spelling    → array(1, 2)
  * SELECT {'a': 1, 'b': x}                    -- struct literal → named_struct('a', 1, 'b', x)
  * SELECT MAP {'a': 1}                        -- map literal    → map('a', 1)
  * SELECT [x * 2 FOR x IN xs IF x > 1]        -- comprehension  → transform(filter(xs, x -> x > 1), x -> x * 2)
  * SELECT l[2], l[-1], s['key']               -- 1-based index  → duck_index(l, 2) …
  * SELECT l[2:3], l[-3:], t[:2]               -- inclusive slice→ duck_slice(l, 2, 3) …
  * }}}
  *
  * None of these parse in Spark — `[`/`{` in an expression position is
  * a ParseException — so the rewrite runs purely inside the hint
  * parser's failure chain and can never claim a statement stock Spark
  * understands. That boundary carries the semantic choice for the ONE
  * overlapping spelling: postfix `x[i]` parses natively in Spark
  * (0-based) and such statements never reach this rewrite; a statement
  * that ALSO contains DuckDB-only literal syntax is DuckDB dialect, so
  * its postfix brackets get DuckDB's 1-based / NULL-out-of-bounds
  * semantics ([[graft.functions.DuckIndex]]) — rewriting them to
  * Spark's 0-based `[]` would be a silent off-by-one on every pasted
  * script, the worst failure mode.
  *
  * The scan reads each text's [[DuckLexer]] view, so strings, quoted
  * identifiers and comments are never rewritten, and it is recursive:
  * nested literals, comprehensions inside slices, struct values holding
  * lists all compose. Shapes it cannot place — a postfix bracket whose receiver
  * it cannot delimit (e.g. following an unbalanced construct) — decline
  * the whole statement (None), falling through to the landing-pad hint.
  */
object DuckLiteralRewrite {

  /** Cheap guard: a `[` or `{` outside strings/quoted idents/comments. */
  def isShaped(sql: String): Boolean =
    DuckLexer(sql).masked.exists(c => c == '[' || c == '{')

  private case class Decline(why: String) extends RuntimeException(why)

  /** Words after which a `[` opens a LITERAL (expression position), not
    * a postfix index on the word. Bare identifiers not in this set are
    * treated as index receivers.
    */
  private val exprPositionWords = Set(
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "IN", "IS", "LIKE",
    "ILIKE", "BETWEEN", "THEN", "WHEN", "ELSE", "CASE", "END", "ON",
    "BY", "AS", "HAVING", "LIMIT", "OFFSET", "SET", "VALUES", "RETURN",
    "RETURNS", "UNION", "ALL", "EXCEPT", "INTERSECT", "DISTINCT", "IF",
    "QUALIFY", "GROUP", "ORDER", "WITH", "OVER", "PARTITION", "ESCAPE",
    "FOR")
  // END is ambiguous (CASE ... END[1] would be postfix) — DuckDB itself
  // requires parens there; keeping END on the literal side matches the
  // common paste `ELSE [] END`.

  def rewrite(sql: String): Option[String] =
    try {
      val out = transform(sql)
      if (out == sql) None else Some(out)
    } catch {
      case _: Decline => None
      case NonFatal(_) => None
    }

  /** Recursively rewrite every bracket/brace construct in `s`. */
  private def transform(s: String): String = {
    val out = new StringBuilder
    // (uppercased word, start offset IN OUT) of the last bare word emitted.
    var lastWord: (String, Int) = null
    var lastSig: Char = 0 // last significant char emitted
    val view = DuckLexer(s)
    var i = 0
    val n = s.length
    // Contents of the group opening at `i`; moves `i` past its close.
    def group(): String = {
      val close = view.closeOf(i)
      if (close < 0) throw Decline(s"unbalanced ${s.charAt(i)}")
      val inner = s.substring(i + 1, close - 1)
      i = close
      inner
    }
    while (i < n) {
      val c = s.charAt(i)
      view.span(i) match {
        case Some((_, end)) => // verbatim; strings and identifiers end an operand
          out.append(s.substring(i, end))
          if (!view.inComment(i)) lastSig = c
          i = end
        case None => c match {
          case '[' =>
            val inner = group()
            val literalPos =
              if (lastSig == 0) true
              else if (lastSig == ')' || lastSig == ']' || lastSig == '\'' ||
                lastSig == '"' || lastSig == '`') false
              else if (DuckLexer.wordCh(lastSig))
                lastWord != null && exprPositionWords(lastWord._1)
              else true // operator, comma, paren-open, colon, …
            if (literalPos) {
              out.append(rewriteLiteralBracket(inner))
            } else if (lastWord != null && lastWord._1 == "ARRAY" &&
              out.substring(lastWord._2).matches("(?is)ARRAY\\s*")) {
              // PG/DuckDB `ARRAY[1, 2]` — drop the keyword, emit array().
              out.setLength(lastWord._2)
              out.append(rewriteLiteralBracket(inner))
            } else {
              val rStart = receiverStart(out)
              val recv = out.substring(rStart)
              out.setLength(rStart)
              out.append(rewritePostfixBracket(recv, inner))
            }
            lastSig = ')'; lastWord = null
          case '{' =>
            val inner = group()
            val isMap = lastWord != null && lastWord._1 == "MAP" &&
              out.substring(lastWord._2).matches("(?is)MAP\\s*")
            if (isMap) out.setLength(lastWord._2)
            out.append(rewriteBrace(inner, isMap))
            lastSig = ')'; lastWord = null
          case ch if ch.isLetter || ch == '_' =>
            val start = i
            while (i < n && DuckLexer.wordCh(s.charAt(i))) i += 1
            val w = s.substring(start, i)
            lastWord = (w.toUpperCase, out.length)
            out.append(w)
            lastSig = w.last
          case ch =>
            out.append(ch); i += 1
            if (!ch.isWhitespace) { lastSig = ch; if (!ch.isDigit) lastWord = null }
        }
      }
    }
    out.toString
  }

  /** The pieces of `s` between top-level `:` — not the `::` of a cast
    * nor the `:=` of a named argument. */
  private def splitColon(s: String): Vector[String] = {
    val view = DuckLexer(s)
    view.cutAt(view.topLevel(groups = true) { i =>
      s.charAt(i) == ':' && !s.startsWith(":", i + 1) && !s.startsWith("=", i + 1) &&
        (i == 0 || s.charAt(i - 1) != ':')
    }, 1)
  }

  /** A literal-position bracket: list literal or comprehension. */
  private def rewriteLiteralBracket(inner: String): String = {
    val forParts = DuckLexer(inner).splitWord("FOR")
    if (forParts.length == 2) {
      // [expr FOR var IN src [IF cond]]
      val expr = transform(forParts(0).trim)
      val tail = forParts(1)
      val inParts = DuckLexer(tail).splitWord("IN")
      if (inParts.length != 2) throw Decline("comprehension without IN")
      val v = inParts(0).trim
      if (!v.matches("[A-Za-z_][A-Za-z0-9_]*"))
        throw Decline(s"comprehension variable '$v'")
      val ifParts = DuckLexer(inParts(1)).splitWord("IF")
      val src = transform(ifParts(0).trim)
      if (ifParts.length == 1)
        s"transform($src, $v -> ($expr))"
      else if (ifParts.length == 2) {
        val cond = transform(ifParts(1).trim)
        s"transform(filter($src, $v -> ($cond)), $v -> ($expr))"
      } else throw Decline("multiple IF in comprehension")
    } else if (forParts.length == 1) {
      val items = DuckLexer(inner).split(',', groups = true).map(_.trim)
      if (items == Vector("")) "array()"
      else "array(" + items.map(transform).mkString(", ") + ")"
    } else throw Decline("multiple FOR in comprehension")
  }

  /** A postfix bracket on `recv`: index or slice. */
  private def rewritePostfixBracket(recv: String, inner: String): String = {
    val parts = splitColon(inner)
    if (parts.length == 1)
      s"duck_index($recv, ${transform(inner.trim)})"
    else if (parts.length == 2) {
      val b = parts(0).trim
      val e = parts(1).trim
      val bT = if (b.isEmpty) "CAST(NULL AS BIGINT)" else transform(b)
      val eT = if (e.isEmpty) "CAST(NULL AS BIGINT)" else transform(e)
      s"duck_slice($recv, $bT, $eT)"
    } else throw Decline("multiple ':' in slice")
  }

  /** `{'k': v, ...}` → named_struct / map literal. */
  private def rewriteBrace(inner: String, isMap: Boolean): String = {
    val fn = if (isMap) "map" else "named_struct"
    if (inner.trim.isEmpty) {
      if (isMap) "map()" else throw Decline("empty struct literal")
    } else {
      val pairs = DuckLexer(inner).split(',', groups = true).map { p =>
        val kv = splitColon(p)
        if (kv.length != 2) throw Decline("struct pair without ':'")
        val k = kv(0).trim
        // Struct keys are NAMES (string-quoted or bare identifiers);
        // map keys are arbitrary expressions (MAP {1: 'a'} is valid
        // DuckDB), recursively transformed like the values.
        val key =
          if (k.startsWith("'") && k.endsWith("'") && k.length >= 2) k
          else if (k.matches("[A-Za-z_][A-Za-z0-9_]*")) s"'$k'"
          else if (isMap) transform(k)
          else throw Decline(s"struct key '$k'")
        s"$key, ${transform(kv(1).trim)}"
      }
      fn + "(" + pairs.mkString(", ") + ")"
    }
  }

  /** Start offset (in `out`) of the trailing operand the bracket
    * indexes: the lexer's [[DuckLexer.operandBefore]] — dotted names,
    * quoted identifiers, a string literal, or a call/paren group,
    * chained by `.` (`f(x)`, `a.b`, `t.`m``, `duck_index(...)` from an
    * earlier rewrite). Declines when nothing receiver-shaped precedes
    * the bracket.
    */
  private def receiverStart(out: StringBuilder): Int =
    DuckLexer(out.toString).operandBefore(out.length)
      .getOrElse(throw Decline("bracket with no receiver"))._1
}
