package graft.sql

/** DuckDB's raw-backslash string literals (round 19, verdict-18 #1).
  *
  * DuckDB standard string literals have NO backslash escapes — the only
  * escape is the doubled quote `''` — so a pasted `regexp_matches(s,
  * '\d+')` means the regex `\d+`. Spark's default lexer consumes that
  * backslash, silently matching the wrong pattern: the last remaining
  * SILENT-wrong-value class on pasted input.
  *
  * Fix: every statement entering the session parser
  * ([[GraftHintParser]].parsePlan/parseQuery/parsePlanWithParameters,
  * plus parseExpression for TVF-spliced fragments) first has each
  * backslash INSIDE a string literal doubled. Spark's parse then
  * unescapes exactly one level, so the runtime value carries the
  * original backslashes — DuckDB's no-escape semantics, including the
  * lexer-impossible trailing form `'\'` (doubled to `'\\'`).
  *
  * Idempotence is structural, not textual: (double → parse-unescape)
  * is the identity PER NESTING LEVEL. Rewrites in the hint chain
  * operate on the transformed text and re-embed slices with
  * QUOTE-doubling only (the slice already carries this level's
  * backslash doubling; the one unescape at parse consumes it), so a
  * TVF like summarize()/fixpoint() receives original DuckDB text and
  * its execution-time spark.sql() re-enters the same transform; a
  * command ([[DuckCommands]]) gets its slices through
  * [[halveBackslashes]] for the same reason. The
  * ONE site embedding RAW (untransformed) content — the dollar-quote
  * rewrite, whose $tag$...$tag$ innards the entry scan skips — doubles
  * backslashes itself for the same reason.
  *
  * The transform no-ops (returns the same reference) on statements
  * without a backslash anywhere, which is the entire internal query
  * catalog (grep-verified) and virtually every statement at runtime:
  * the scan costs one indexOf on the fast path.
  */
object DuckLiterals {

  private def wordCh(c: Char): Boolean = c.isLetterOrDigit || c == '_'
  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Double each backslash inside '...' string literals, and fold
    * DuckDB's `E'...'` ESCAPED literals (round 19: C-style \n/\t/\r/
    * \b/\f, octal \ooo, hex \xHH, unicode \uXXXX/\UXXXXXXXX, \\, \';
    * an unknown escape drops the backslash, host-probed) into plain
    * literals carrying the UNESCAPED value. Quoted identifiers
    * ("..."/`...`), comments, and dollar-quoted strings pass through
    * untouched (the dollar-quote rewrite handles its own embedding).
    */
  def doubleBackslashes(text: String): String =
    if (text.indexOf('\\') < 0 &&
      text.indexOf("E'") < 0 && text.indexOf("e'") < 0) text
    else mapLiterals(text, foldEscaped = true)(_.replace("\\", "\\\\"))

  /** The inverse of [[doubleBackslashes]] on a slice of transformed
    * text: each doubled backslash inside a '...' literal is single
    * again. Commands ([[DuckCommands]]) hold their SQL fragments at this
    * DuckDB level, so the spark.sql()/expr() they run re-enters the
    * doubling exactly once. Transformed text holds no E'...' literal
    * (the doubling folded them all).
    */
  def halveBackslashes(text: String): String =
    if (text.indexOf("\\\\") < 0) text
    else mapLiterals(text, foldEscaped = false)(_.replace("\\\\", "\\"))

  /** The one scan behind both transforms: each '...' literal's body
    * (quotes still doubled) is replaced by `body` of it; with
    * `foldEscaped`, an E'...' literal becomes a plain one whose body is
    * `body` of its quote-doubled value. Quoted identifiers, `--` and
    * block comments and dollar-quoted strings are copied verbatim. An
    * unterminated literal runs to the end of the text, unclosed.
    * Returns `text` itself when nothing changed.
    */
  private def mapLiterals(text: String, foldEscaped: Boolean)(
      body: String => String): String = {
    val n = text.length
    val sb = new java.lang.StringBuilder(n + 8)
    var i = 0
    var changed = false
    def copyTo(end: Int): Unit = { sb.append(text, i, end); i = end }
    def emit(b: String, closed: Boolean): Unit = {
      val nb = body(b)
      if (nb != b) changed = true
      sb.append('\'').append(nb)
      if (closed) sb.append('\'')
    }
    while (i < n) {
      text.charAt(i) match {
        case 'E' | 'e' if foldEscaped && text.startsWith("'", i + 1) &&
            (i == 0 || !wordCh(text.charAt(i - 1))) =>
          val (value, end) = escapedValue(text, i + 2)
          emit(value.replace("'", "''"), closed = true)
          changed = true
          i = end
        case '\'' =>
          var j = i + 1
          while (j < n && (text.charAt(j) != '\'' || text.startsWith("'", j + 1)))
            j += (if (text.charAt(j) == '\'') 2 else 1)
          emit(text.substring(i + 1, j min n), closed = j < n)
          i = (j + 1) min n
        case q @ ('"' | '`') =>
          val close = text.indexOf(q, i + 1)
          copyTo(if (close < 0) n else close + 1)
        case '-' if text.startsWith("--", i) =>
          val nl = text.indexOf('\n', i)
          copyTo(if (nl < 0) n else nl)
        case '/' if text.startsWith("/*", i) =>
          val close = text.indexOf("*/", i + 2)
          copyTo(if (close < 0) n else close + 2)
        case '$' =>
          // Dollar-quoted string: verbatim, so its raw innards keep
          // single backslashes for the dollar-quote rewrite to escape.
          dollarTagRe.findPrefixMatchOf(text.substring(i)) match {
            case Some(m0) =>
              val close = text.indexOf(m0.matched, i + m0.matched.length)
              copyTo(if (close < 0) i + 1 else close + m0.matched.length)
            case None => copyTo(i + 1)
          }
        case c => sb.append(c); i += 1
      }
    }
    if (changed) sb.toString else text
  }

  private val dollarTagRe = "\\$([A-Za-z_]\\w*)?\\$".r

  /** The value of the E'...' literal whose body starts at `from`, and
    * the index just past its closing quote.
    */
  private def escapedValue(text: String, from: Int): (String, Int) = {
    val n = text.length
    val value = new java.lang.StringBuilder
    var i = from
    var done = false
    while (i < n && !done) {
      val d = text.charAt(i)
      if (d == '\\' && i + 1 < n) {
        val e2 = text.charAt(i + 1)
        e2 match {
          case 'n' => value.append('\n'); i += 2
          case 't' => value.append('\t'); i += 2
          case 'r' => value.append('\r'); i += 2
          case 'b' => value.append('\b'); i += 2
          case 'f' => value.append('\f'); i += 2
          case '\\' => value.append('\\'); i += 2
          case '\'' => value.append('\''); i += 2
          case 'x' =>
            var j = i + 2; var h = 0; var cnt = 0
            while (j < n && cnt < 2 && hexVal(text.charAt(j)) >= 0) {
              h = h * 16 + hexVal(text.charAt(j)); j += 1; cnt += 1
            }
            if (cnt == 0) { value.append('x'); i += 2 }
            else { value.append(h.toChar); i = j }
          case 'u' | 'U' =>
            val want = if (e2 == 'u') 4 else 8
            var j = i + 2; var h = 0; var cnt = 0
            while (j < n && cnt < want && hexVal(text.charAt(j)) >= 0) {
              h = h * 16 + hexVal(text.charAt(j)); j += 1; cnt += 1
            }
            if (cnt < want) { value.append(e2); i += 2 }
            else { value.appendCodePoint(h); i = j }
          case o if o >= '0' && o <= '7' =>
            var j = i + 1; var v = 0; var cnt = 0
            while (j < n && cnt < 3 && text.charAt(j) >= '0' &&
              text.charAt(j) <= '7') {
              v = v * 8 + (text.charAt(j) - '0'); j += 1; cnt += 1
            }
            value.append(v.toChar); i = j
          case other => value.append(other); i += 2 // unknown: drop \
        }
      } else if (d == '\\') { value.append('\\'); i += 1 }
      else if (d == '\'') {
        if (i + 1 < n && text.charAt(i + 1) == '\'') {
          value.append('\''); i += 2
        } else { done = true; i += 1 }
      } else { value.append(d); i += 1 }
    }
    (value.toString, i)
  }

  /** The value of a '...' literal's body sliced from transformed text. */
  def literalValue(body: String): String =
    body.replace("''", "'").replace("\\\\", "\\")
}
