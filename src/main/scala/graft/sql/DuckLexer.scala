package graft.sql

/** One scan of a statement at DuckDB level: the dialect layer's only
  * decision about which characters are code and which sit inside a
  * string, a quoted identifier or a comment. The scan recognises
  *  - words (a letter or `_`, then letters, digits and `_`) and quoted
  *    identifiers (`"…"`, `` `…` ``, the quote doubled inside);
  *  - `'…'` strings (`''` inside), `E'…'` strings with their decoded
  *    value (C-style escapes) and `$tag$…$tag$` strings (raw content);
  *  - `--` and block comments;
  *  - every other character as one-character punctuation.
  *
  * An unterminated string, identifier or comment runs to the end of the
  * text. Every rewrite reads the views below instead of scanning:
  * [[masked]], [[isCode]], [[closeOf]], [[openOf]], [[split]],
  * [[splitWord]], [[assignmentEq]], [[topLevelWords]], [[words]] and
  * [[strings]]. An operator rewrite finds its operands with
  * [[operandBefore]] and [[operandAfter]], one operand grammar for every
  * operator, checks its neighbours with [[bindsTighter]], and a cast
  * rewrite finds its casts with [[namedCasts]].
  * [[DuckLexer.apply]] keeps the last few views of each thread, so a
  * text that several arms inspect is lexed once.
  */
final class DuckLexer private (val text: String) {
  import DuckLexer._

  private[this] val n = text.length
  // Non-code spans in text order: [start, end), kind and closedness.
  // Code words and `?` markers: [start, end) and paren depth.
  private[this] val (spanStart, spanEnd, spanKind, spanClosed, wordStart, wordEnd, wordDepth) = {
    val (ss, se, sk, sc) = (Array.newBuilder[Int], Array.newBuilder[Int],
      Array.newBuilder[Int], Array.newBuilder[Boolean])
    val (ws, we, wd) = (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Int])
    var i = 0
    var depth = 0
    def span(end: Int, kind: Int, closed: Boolean = true): Unit = {
      ss += i; se += end; sk += kind; sc += closed; i = end
    }
    def quoted(q: Char, kind: Int): Unit = {
      val end = quotedEnd(text, i + 1, q)
      span(if (end < 0) n else end, kind, end >= 0)
    }
    def word(end: Int): Unit = { ws += i; we += end; wd += depth; i = end }
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'') quoted('\'', Plain)
      else if ((c == 'E' || c == 'e') && text.startsWith("'", i + 1) &&
          (i == 0 || !wordCh(text.charAt(i - 1)))) {
        val (_, end, closed) = escapedValue(text, i + 2)
        span(end, Escaped, closed)
      } else if (c == '"' || c == '`') quoted(c, Ident)
      else if (c == '-' && text.startsWith("--", i)) {
        val nl = text.indexOf('\n', i)
        span(if (nl < 0) n else nl, Comment)
      } else if (c == '/' && text.startsWith("/*", i)) {
        val close = text.indexOf("*/", i + 2)
        span(if (close < 0) n else close + 2, Comment)
      } else if (c == '$' && dollarEnd(text, i) > 0) span(dollarEnd(text, i), Dollar)
      else if (c.isLetter || c == '_') {
        var e = i
        while (e < n && wordCh(text.charAt(e))) e += 1
        word(e)
      } else if (c == '?') word(i + 1)
      else {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        i += 1
      }
    }
    (ss.result(), se.result(), sk.result(), sc.result(), ws.result(), we.result(), wd.result())
  }

  /** Index of the non-code span holding `i`, or -1. */
  private def spanAt(i: Int): Int = {
    var lo = 0
    var hi = spanStart.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (spanStart(mid) > i) hi = mid - 1
      else if (spanEnd(mid) <= i) lo = mid + 1
      else return mid
    }
    -1
  }

  /** True when the character at `i` is code: not inside a string, a
    * quoted identifier or a comment. */
  def isCode(i: Int): Boolean = i >= 0 && i < n && spanAt(i) < 0

  /** True when `i` is inside a `--` or block comment. */
  def inComment(i: Int): Boolean = {
    val k = spanAt(i)
    k >= 0 && spanKind(k) == Comment
  }

  /** The string, quoted identifier or comment holding `i`, as
    * [start, end); None when `i` is code. */
  def span(i: Int): Option[(Int, Int)] = {
    val k = spanAt(i)
    if (k < 0) None else Some((spanStart(k), spanEnd(k)))
  }

  /** The text with every string, quoted identifier and comment blanked
    * to spaces: the same length, so offsets carry over, and a regex over
    * it matches only real operators and keywords. */
  lazy val masked: String =
    if (spanStart.isEmpty) text
    else {
      val m = text.toCharArray
      for (k <- spanStart.indices)
        java.util.Arrays.fill(m, spanStart(k), spanEnd(k), ' ')
      new String(m)
    }

  /** Calls `f` on each code position with the depth before it: the
    * count of parens, or with `groups` of parens, brackets and braces,
    * opened before it and not yet closed (negative past a stray close).
    */
  private def walkCode(groups: Boolean)(f: (Int, Int) => Unit): Unit = {
    var i = 0
    var k = 0
    var depth = 0
    while (i < n) {
      if (k < spanStart.length && spanStart(k) == i) { i = spanEnd(k); k += 1 }
      else {
        val c = text.charAt(i)
        f(i, depth)
        if (c == '(' || (groups && (c == '[' || c == '{'))) depth += 1
        else if (c == ')' || (groups && (c == ']' || c == '}'))) depth -= 1
        i += 1
      }
    }
  }

  // Per opener position, the index just past its close (0: none).
  private lazy val closes: Array[Int] = {
    val out = new Array[Int](n)
    val stacks = Array.fill(3)(new java.util.ArrayDeque[Integer])
    walkCode(groups = false) { (i, _) =>
      val c = text.charAt(i)
      val open = "([{".indexOf(c)
      val close = ")]}".indexOf(c)
      if (open >= 0) stacks(open).push(i)
      else if (close >= 0 && !stacks(close).isEmpty) out(stacks(close).pop()) = i + 1
    }
    out
  }

  /** Index just past the close that matches the paren, bracket or brace
    * opening at `open` (each kind matched on its own); -1 when `open`
    * holds no opener in code, or nothing closes it. */
  def closeOf(open: Int): Int =
    if (open < 0 || open >= n || closes(open) == 0) -1 else closes(open)

  // Per close position, its opener (-1: none).
  private lazy val opens: Array[Int] = {
    val out = Array.fill(n)(-1)
    for (o <- 0 until n if closes(o) > 0) out(closes(o) - 1) = o
    out
  }

  /** Index of the opener that the paren, bracket or brace closing at
    * `close` matches; -1 when `close` holds no close in code, or nothing
    * opens it. */
  def openOf(close: Int): Int = if (close < 0 || close >= n) -1 else opens(close)

  /** The operand an operator reads on its left: the one whose last
    * character is the last non-blank before `end`, as [start, stop);
    * None when nothing operand-shaped ends there. An operand is one or
    * more segments chained by `.` (`t.c`, `` `s`.`c` ``, `f(x).y`); a
    * segment is
    *  - a closed string literal, with a typed-literal keyword before it
    *    pulled in (`TIMESTAMP '…'`);
    *  - a closed backtick-quoted identifier (Spark reads `"…"` as a
    *    string, so a double-quoted name is no operand: the operator
    *    declines rather than splice a string where DuckDB reads a
    *    column);
    *  - a paren group, with the name before it unless that name is a
    *    clause keyword (`f (x)` is a call, `DISTINCT (x)` a group);
    *  - a bracket group;
    *  - a run of [[DuckLexer.operandCh]] characters.
    */
  def operandBefore(end: Int): Option[(Int, Int)] = {
    val last = nonBlankBefore(end - 1)
    var start = segmentBefore(last)
    if (start < 0) return None
    var more = true
    while (more) {
      val dot = if (text.charAt(start) == '.') start
        else if (start > 0 && masked.charAt(start - 1) == '.') start - 1
        else -1
      val prev = if (dot > 0) segmentBefore(dot - 1) else -1
      if (prev >= 0) start = prev else more = false
    }
    Some((start, last + 1))
  }

  /** The operand an operator reads on its right: the one starting at
    * the first non-blank from `start`, as [start, stop); None when
    * nothing operand-shaped starts there. The grammar of
    * [[operandBefore]], read forwards: a run may carry call parens
    * (`f (x)`), and a typed-literal keyword its string. */
  def operandAfter(start: Int): Option[(Int, Int)] = {
    val first = nonBlankFrom(start)
    var end = segmentAfter(first)
    if (end < 0) return None
    var more = true
    while (more) {
      val next = if (end < n && (text.charAt(end - 1) == '.' || masked.charAt(end) == '.'))
        segmentAfter(end) else -1
      if (next >= 0) end = next else more = false
    }
    Some((first, end))
  }

  /** True when the code character before `start`, or the one from
    * `end`, blanks skipped, is one of `left` or `right`: an operator
    * there binds tighter than the one whose operands span
    * [start, end). */
  def bindsTighter(start: Int, end: Int, left: String, right: String): Boolean = {
    val b = nonBlankBefore(start - 1)
    val a = nonBlankFrom(end)
    (b >= 0 && left.indexOf(masked.charAt(b)) >= 0) ||
      (a < n && right.indexOf(masked.charAt(a)) >= 0)
  }

  /** The casts to a type name that `isType` accepts, in text order. A
    * `CAST` spans its call; `x::t` spans its [[operandBefore]] operand
    * and the type. A cast with an empty operand is left out. */
  def namedCasts(isType: String => Boolean): Vector[NamedCast] = {
    val calls = castCallRe.findAllMatchIn(masked).flatMap { h =>
      val open = h.end - 1
      val close = closeOf(open)
      if (close < 0) None
      else castTypeRe.findFirstMatchIn(masked.substring(open + 1, close - 1))
        .filter(t => isType(t.group(1)))
        .map(t => NamedCast(h.start, close, text.substring(open + 1, open + 1 + t.start).trim,
          t.group(1), h.group(1) != null))
    }
    val colons = colonCastRe.findAllMatchIn(masked).filter(h => isType(h.group(1))).flatMap { h =>
      operandBefore(h.start).map { case (s, _) =>
        NamedCast(s, h.end, text.substring(s, h.start).trim, h.group(1), isTry = false)
      }
    }
    (calls ++ colons).filter(_.operand.nonEmpty).toVector.sortBy(_.start)
  }

  // The last non-blank index at or before `i` (-1: none), and the
  // first at or after `i` (n: none).
  private def nonBlankBefore(i: Int): Int = {
    var j = i
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    j
  }
  private def nonBlankFrom(i: Int): Int = {
    var j = i
    while (j < n && text.charAt(j).isWhitespace) j += 1
    j
  }

  // Start of the run of code operand characters ending at `i` (i + 1
  // when there is none).
  private def runStart(i: Int): Int = {
    var j = i
    while (j >= 0 && operandCh(masked.charAt(j))) j -= 1
    j + 1
  }

  // Start of the quoted identifier span `k` when backticks quote it, or -1.
  private def backtickStart(k: Int): Int =
    if (text.charAt(spanStart(k)) == '`') spanStart(k) else -1

  // Start of the segment whose last character is at `last`, or -1.
  private def segmentBefore(last: Int): Int = {
    if (last < 0) return -1
    // The word ending at or before `w`, blanks skipped: (start, word).
    def wordBefore(w0: Int): (Int, String) = {
      val w = nonBlankBefore(w0)
      val s = runStart(w)
      (s, if (w < 0) "" else text.substring(s, w + 1))
    }
    val k = spanAt(last)
    if (k >= 0) {
      if (spanKind(k) == Comment || spanEnd(k) != last + 1 || !spanClosed(k)) -1
      else if (spanKind(k) == Ident) backtickStart(k)
      else {
        val (ws, word) = wordBefore(spanStart(k) - 1)
        if (typedLiteralKeywords(word.toLowerCase)) ws else spanStart(k)
      }
    } else text.charAt(last) match {
      case ')' =>
        val open = openOf(last)
        if (open < 0) -1
        else {
          val (ws, word) = wordBefore(open - 1)
          if (word.isEmpty || isClauseKeyword(word)) open else ws
        }
      case ']' => openOf(last)
      case c if operandCh(c) => runStart(last)
      case _ => -1
    }
  }

  // End (exclusive) of the segment starting at `first`, or -1.
  private def segmentAfter(first: Int): Int = {
    if (first >= n) return -1
    val k = spanAt(first)
    if (k >= 0) {
      if (spanKind(k) == Comment || spanStart(k) != first || !spanClosed(k)) -1
      else if (spanKind(k) == Ident && backtickStart(k) < 0) -1
      else spanEnd(k)
    } else text.charAt(first) match {
      case '(' | '[' => closeOf(first)
      case c if operandCh(c) =>
        var e = first
        while (e < n && operandCh(masked.charAt(e))) e += 1
        val p = nonBlankFrom(e)
        val lit = if (p < n) spanAt(p) else -1
        if (p < n && masked.charAt(p) == '(') closeOf(p)
        else if (lit >= 0 && spanKind(lit) <= Dollar && spanStart(lit) == p &&
            spanClosed(lit) && typedLiteralKeywords(text.substring(first, e).toLowerCase))
          spanEnd(lit)
        else e
      case _ => -1
    }
  }

  /** Code positions at depth 0 where `p` holds: depth counts parens, or
    * with `groups` parens, brackets and braces. */
  def topLevel(groups: Boolean = false)(p: Int => Boolean): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    walkCode(groups)((i, d) => if (d == 0 && p(i)) out += i)
    out.result()
  }

  /** The text cut at `cuts` (ascending), each cut dropping `width`
    * characters. */
  def cutAt(cuts: Seq[Int], width: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var last = 0
    cuts.foreach { c => out += text.substring(last, c); last = c + width }
    out += text.substring(last)
    out.result()
  }

  /** The pieces between top-level `sep` characters (depth as in
    * [[topLevel]]), separators dropped. */
  def split(sep: Char, groups: Boolean = false): Vector[String] =
    cutAt(topLevel(groups)(text.charAt(_) == sep), 1)

  /** The pieces between top-level occurrences of the bare word `word`
    * (any case; depth counts parens, brackets and braces), words
    * dropped. A word right after a digit (`1for`) is no separator. */
  def splitWord(word: String): Vector[String] = {
    val starts = wordStart.indices.collect {
      case k if wordEnd(k) - wordStart(k) == word.length &&
        text.regionMatches(true, wordStart(k), word, 0, word.length) &&
        (wordStart(k) == 0 || !text.charAt(wordStart(k) - 1).isLetterOrDigit) => wordStart(k)
    }.toSet
    cutAt(topLevel(groups = true)(starts), word.length)
  }

  /** The first top-level `=` that is an assignment (not `==`, `<=`,
    * `>=`, `!=` or `<>`-adjacent), depth counting all groups; -1 when
    * absent. */
  def assignmentEq: Int =
    topLevel(groups = true) { i =>
      text.charAt(i) == '=' && (i == 0 || "<>!=".indexOf(text.charAt(i - 1)) < 0) &&
        (i + 1 >= n || text.charAt(i + 1) != '=')
    }.headOption.getOrElse(-1)

  /** Code words, UPPER-cased, with their offsets, at any depth. A `?`
    * marker rides along as the word "?". */
  lazy val words: Vector[(String, Int)] = wordsWhere(_ => true)

  /** [[words]] at paren depth 0, and `?` markers at any depth: a
    * positional marker binds by order, so an arm that moves text around
    * must see every one. */
  lazy val topLevelWords: Vector[(String, Int)] =
    wordsWhere(k => wordDepth(k) == 0 || text.charAt(wordStart(k)) == '?')

  private def wordsWhere(p: Int => Boolean): Vector[(String, Int)] =
    wordStart.indices.filter(p).map { k =>
      (text.substring(wordStart(k), wordEnd(k)).toUpperCase, wordStart(k))
    }.toVector

  /** A string literal of the text. */
  final class Lit private[DuckLexer] (val start: Int, val end: Int, kind: Int,
      val closed: Boolean) {
    /** A `'…'` literal; otherwise an `E'…'` or dollar-quoted one. */
    def plain: Boolean = kind == Plain
    /** A `'…'` literal's text between its quotes, quotes still doubled. */
    def body: String = text.substring(start + 1, if (closed) end - 1 else end)
    /** The string's DuckDB value. */
    def value: String = kind match {
      case Plain => body.replace("''", "'")
      case Escaped => escapedValue(text, start + 2)._1
      case _ =>
        val tag = text.indexOf('$', start + 1) + 1 - start
        text.substring(start + tag, end - tag)
    }
  }

  /** The string literals, in text order. */
  lazy val strings: Vector[Lit] =
    spanStart.indices.filter(k => spanKind(k) <= Dollar).map { k =>
      new Lit(spanStart(k), spanEnd(k), spanKind(k), spanClosed(k))
    }.toVector

  /** The string literal whose span holds `i`. */
  def stringAt(i: Int): Option[Lit] = {
    val k = spanAt(i)
    if (k < 0) None else strings.find(_.start == spanStart(k))
  }
}

object DuckLexer {
  private final val Plain = 0
  private final val Escaped = 1
  private final val Dollar = 2
  private final val Ident = 3
  private final val Comment = 4

  private final val CacheSize = 4
  private val recent = ThreadLocal.withInitial[Array[DuckLexer]](() => new Array(CacheSize))
  private val next = ThreadLocal.withInitial[Array[Int]](() => new Array(1))

  /** The view of `text`, lexed on first use and kept among the thread's
    * last few views. */
  def apply(text: String): DuckLexer = {
    val views = recent.get
    var k = 0
    while (k < CacheSize) {
      val v = views(k)
      if (v != null && v.text == text) return v
      k += 1
    }
    val v = new DuckLexer(text)
    val slot = next.get
    views(slot(0)) = v
    slot(0) = (slot(0) + 1) % CacheSize
    v
  }

  private[sql] def wordCh(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** A character of an operand the operator rewrites lift out: word
    * characters, `.` of a dotted name and `$`. */
  private[sql] def operandCh(c: Char): Boolean = wordCh(c) || c == '.' || c == '$'

  /** Words that open a clause or join an expression rather than name a
    * function: a paren group after one is a plain group, and a sign
    * after one is unary. `filter` is not here: `filter(list, lambda)`
    * is a function. */
  private val clauseKeywords = Set("select", "where", "when", "then", "else",
    "and", "or", "not", "by", "having", "qualify", "on", "return", "returns",
    "case", "set", "limit", "offset", "in", "as", "distinct", "all", "any",
    "some", "union", "except", "intersect", "from", "join", "between", "like",
    "ilike", "is", "values")

  private[sql] def isClauseKeyword(word: String): Boolean =
    clauseKeywords(word.toLowerCase)

  /** A cast to a named type: `[TRY_]CAST(x AS t)` or `x::t`, spanning
    * [start, end). */
  final case class NamedCast(start: Int, end: Int, operand: String, typeName: String,
      isTry: Boolean)

  /** `text` with each cast to a type that `isType` accepts replaced by
    * `render` of it, one at a time from the first, so a cast inside
    * another's operand is replaced too. */
  private[sql] def replaceCasts(text: String, isType: String => Boolean)(
      render: NamedCast => String): String = {
    var cur = text
    var next = DuckLexer(cur).namedCasts(isType).headOption
    while (next.isDefined) {
      val c = next.get
      cur = cur.substring(0, c.start) + render(c) + cur.substring(c.end)
      next = DuckLexer(cur).namedCasts(isType).headOption
    }
    cur
  }

  private val castCallRe = """(?i)\b(TRY_)?CAST\s*\(""".r
  private val castTypeRe = """(?i)\bAS\s+([A-Za-z_]\w*)\s*\z""".r
  private val colonCastRe = """::\s*([A-Za-z_]\w*)""".r

  // Keywords that type the string literal after them.
  private val typedLiteralKeywords = Set("date", "time", "timestamp",
    "timestamptz", "timestamp_ntz", "timestamp_ltz")

  /** Index just past the quote closing a `q`-quoted run whose body
    * starts at `from` (a doubled quote continues it); -1 when unclosed. */
  private def quotedEnd(text: String, from: Int, q: Char): Int = {
    var j = text.indexOf(q, from)
    while (j >= 0 && j + 1 < text.length && text.charAt(j + 1) == q) j = text.indexOf(q, j + 2)
    if (j < 0) -1 else j + 1
  }

  /** Index just past a `$tag$…$tag$` string opening at `i`; -1 when no
    * tag opens there or the string is never closed. */
  private def dollarEnd(text: String, i: Int): Int = {
    def tagCh(c: Char, first: Boolean) =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '_' ||
        (!first && c >= '0' && c <= '9')
    var j = i + 1
    while (j < text.length && tagCh(text.charAt(j), j == i + 1)) j += 1
    if (j >= text.length || text.charAt(j) != '$') return -1
    val marker = text.substring(i, j + 1)
    val close = text.indexOf(marker, j + 1)
    if (close < 0) -1 else close + marker.length
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** The value of the E'...' literal whose body starts at `from`, the
    * index just past its closing quote, and whether it closed. DuckDB's escapes: C-style
    * \n/\t/\r/\b/\f, octal \ooo, hex \xHH, unicode \uXXXX/\UXXXXXXXX,
    * \\ and \'; an unknown escape drops the backslash (host-probed).
    */
  private def escapedValue(text: String, from: Int): (String, Int, Boolean) = {
    val n = text.length
    val value = new java.lang.StringBuilder
    var i = from
    var done = false
    def hexRun(at: Int, max: Int): (Int, Int) = {
      var j = at; var h = 0
      while (j < n && j - at < max && hexVal(text.charAt(j)) >= 0) {
        h = h * 16 + hexVal(text.charAt(j)); j += 1
      }
      (h, j - at)
    }
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
          case 'x' =>
            val (h, cnt) = hexRun(i + 2, 2)
            if (cnt == 0) { value.append('x'); i += 2 }
            else { value.append(h.toChar); i += 2 + cnt }
          case 'u' | 'U' =>
            val want = if (e2 == 'u') 4 else 8
            val (h, cnt) = hexRun(i + 2, want)
            if (cnt < want) { value.append(e2); i += 2 }
            else { value.appendCodePoint(h); i += 2 + cnt }
          case o if o >= '0' && o <= '7' =>
            var j = i + 1; var v = 0
            while (j < n && j - i <= 3 && text.charAt(j) >= '0' && text.charAt(j) <= '7') {
              v = v * 8 + (text.charAt(j) - '0'); j += 1
            }
            value.append(v.toChar); i = j
          case other => value.append(other); i += 2 // \\, \' and unknown: drop \
        }
      } else if (d == '\\') { value.append('\\'); i += 1 }
      else if (d == '\'') {
        if (text.startsWith("'", i + 1)) { value.append('\''); i += 2 }
        else { done = true; i += 1 }
      } else { value.append(d); i += 1 }
    }
    (value.toString, i, done)
  }
}
