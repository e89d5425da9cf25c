package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** [[DuckLexer]]: token kinds and spans, and each view the dialect arms
  * read (masked text, matching close and open, top-level split, words,
  * literal values, the operand grammar and named casts).
  */
class DuckLexerSpec extends AnyFunSuite {

  private def lits(sql: String): Seq[(Int, Int, String)] =
    DuckLexer(sql).strings.map(l => (l.start, l.end, l.value))

  test("doubled quotes stay inside their string or identifier") {
    val s = "SELECT 'it''s', x"
    assert(lits(s) == Seq((7, 14, "it's")))
    assert(DuckLexer(s).words.map(_._1) == Vector("SELECT", "X"))
    val q = "SELECT \"a\"\"b\" FROM `c``d`"
    val v = DuckLexer(q)
    assert(v.span(7) == Some((7, 13)) && v.span(24) == Some((19, 25)))
    assert(v.words.map(_._1) == Vector("SELECT", "FROM"))
    assert(v.strings.isEmpty)
  }

  test("E-strings decode their escapes; dollar quotes keep raw content") {
    assert(lits("SELECT E'\\''") == Seq((7, 12, "'")))
    assert(lits("SELECT E'\\x41', e'a\\tb'") == Seq((7, 14, "A"), (16, 23, "a\tb")))
    // E right after a word character is no prefix.
    assert(lits("SELECT xE'a'").map(_._3) == Seq("a"))
    val d = "SELECT $$it's [1]$$, $t$a\\b $$ c$t$, $1"
    assert(lits(d) == Seq((7, 19, "it's [1]"), (21, 35, "a\\b $$ c")))
    assert(DuckLexer(d).strings.forall(l => !l.plain && l.closed))
    // An unclosed tag is punctuation, and a positional $1 is code.
    assert(lits("SELECT $x$ FROM t").isEmpty)
    assert(DuckLexer(d).isCode(d.length - 1))
  }

  test("an unterminated literal runs to the end of the text") {
    val s = "SELECT 'abc, (d"
    val l = DuckLexer(s).strings.head
    assert((l.start, l.end, l.closed, l.body) == (7, s.length, false, "abc, (d"))
    assert(DuckLexer(s).masked == "SELECT " + " " * 8)
    assert(DuckLexer(s).split(',') == Vector(s))
  }

  test("a line comment at the end of the text needs no newline") {
    val s = "SELECT 1 -- note, (x"
    val v = DuckLexer(s)
    assert(v.inComment(s.length - 1) && !v.isCode(9) && v.isCode(7))
    assert(v.masked == "SELECT 1 " + " " * 11)
    assert(v.split(',') == Vector(s))
    val b = "SELECT 1 /* a, b */, 2 /* open"
    assert(DuckLexer(b).split(',').map(_.trim) == Vector("SELECT 1 /* a, b */", "2 /* open"))
  }

  test("the masked text has the text's length and blanks only non-code") {
    val s = "SELECT 'a' || \"b c\" -- d\n, $$e$$ /* f */ FROM t, E'g\\'h'"
    val m = DuckLexer(s).masked
    assert(m.length == s.length)
    assert(m.trim.split("\\s+").toSeq == Seq("SELECT", "||", ",", "FROM", "t,"))
    val v = DuckLexer(s)
    assert(s.indices.forall(i => m.charAt(i) == (if (v.isCode(i)) s.charAt(i) else ' ')))
  }

  test("depth across parens, brackets and braces") {
    val s = "f(a, [b, (c)], {'k': d}), [e]"
    val v = DuckLexer(s)
    assert(v.closeOf(1) == 24 && v.closeOf(5) == 13 && v.closeOf(9) == 12)
    assert(v.closeOf(15) == 23 && v.closeOf(26) == 29)
    assert(v.closeOf(0) == -1) // no opener there
    // Each kind matches its own: a stray `]` inside parens is skipped.
    assert(DuckLexer("(a ] b)").closeOf(0) == 7)
    // Commas at paren depth 0 only, or at depth 0 of every group.
    val inner = "a, [b, c], {'k': 1, 'j': 2}, (d, e)"
    assert(DuckLexer(inner).split(',').map(_.trim) ==
      Vector("a", "[b", "c]", "{'k': 1", "'j': 2}", "(d, e)"))
    assert(DuckLexer(inner).split(',', groups = true).map(_.trim) ==
      Vector("a", "[b, c]", "{'k': 1, 'j': 2}", "(d, e)"))
    assert(DuckLexer("x * 2 FOR x IN [y FOR y IN z] IF x > 1").splitWord("FOR")
      .map(_.trim) == Vector("x * 2", "x IN [y FOR y IN z] IF x > 1"))
    assert(DuckLexer("a = f(b = c), d").assignmentEq == 2)
    assert(DuckLexer("a <= b, c == d, e").assignmentEq == -1)
  }

  test("openOf is closeOf read backwards") {
    val s = "f(a, [b, (c)], {'k': d}), [e] ')'"
    val v = DuckLexer(s)
    for (o <- s.indices if v.closeOf(o) > 0) assert(v.openOf(v.closeOf(o) - 1) == o)
    assert(v.openOf(22) == 15 && v.openOf(23) == 1 && v.openOf(28) == 26)
    assert(v.openOf(0) == -1 && v.openOf(31) == -1) // no close; a close in a string
    assert(DuckLexer("a) (b").openOf(1) == -1) // nothing opens it
  }

  /** The operand text each side of the `~` in `sql`. */
  private def operands(sql: String): (Option[String], Option[String]) = {
    val v = DuckLexer(sql)
    val op = v.masked.indexOf('~')
    def text(span: Option[(Int, Int)]) = span.map { case (a, b) => sql.substring(a, b) }
    (text(v.operandBefore(op)), text(v.operandAfter(op + 1)))
  }

  test("operands: each kind, read from either side") {
    assert(operands("SELECT 'a''b' ~ 'c'") == ((Some("'a''b'"), Some("'c'"))))
    assert(operands("WHERE E'\\n' ~ $$x$$") == ((Some("E'\\n'"), Some("$$x$$"))))
    assert(operands("SELECT `c d` ~ `e`") == ((Some("`c d`"), Some("`e`"))))
    // Spark reads a double-quoted name as a string: no operand.
    assert(operands("SELECT \"c d\" ~ \"e\"") == ((None, None)))
    assert(operands("SELECT (a + b) ~ (c)") == ((Some("(a + b)"), Some("(c)"))))
    assert(operands("SELECT f (a) ~ g(b, c) + 1") == ((Some("f (a)"), Some("g(b, c)"))))
    assert(operands("SELECT [1, 2] ~ [3]") == ((Some("[1, 2]"), Some("[3]"))))
    assert(operands("SELECT t.x_1 ~ $1") == ((Some("t.x_1"), Some("$1"))))
    assert(operands("SELECT ~ x") == ((Some("SELECT"), Some("x"))))
    assert(operands("SELECT 1 + ~ ,") == ((None, None)))
  }

  test("operands: a clause keyword before a group is no function name") {
    for (kw <- Seq("DISTINCT", "BETWEEN", "qualify", "any", "NOT", "In"))
      assert(operands(s"SELECT $kw (x) ~ y")._1 == Some("(x)"), kw)
    assert(operands("SELECT filter (l) ~ y")._1 == Some("filter (l)"))
    assert(operands("SELECT exists (x) ~ y")._1 == Some("exists (x)"))
    assert(DuckLexer.isClauseKeyword("Distinct") && !DuckLexer.isClauseKeyword("filter"))
  }

  test("operands: a typed literal keeps its keyword") {
    assert(operands("SELECT TIMESTAMP '2024-01-01' ~ DATE '2024-01-02' x") ==
      ((Some("TIMESTAMP '2024-01-01'"), Some("DATE '2024-01-02'"))))
    assert(operands("SELECT interval '1' ~ x")._1 == Some("'1'")) // not a typed keyword here
    assert(operands("SELECT DATE ~ '2024'") == ((Some("DATE"), Some("'2024'"))))
  }

  test("operands: segments chain through dots") {
    assert(operands("SELECT `s`.`t`.c ~ x") == ((Some("`s`.`t`.c"), Some("x"))))
    assert(operands("SELECT f(x).y ~ a.g(b).h") == ((Some("f(x).y"), Some("a.g(b).h"))))
    assert(operands("SELECT ('a').upper() ~ 'b'.lower()") ==
      ((Some("('a').upper()"), Some("'b'.lower()"))))
    assert(operands("SELECT 1.5 ~ .5") == ((Some("1.5"), Some(".5"))))
  }

  test("operands: an unbalanced or commented group declines") {
    assert(operands("SELECT a) ~ (b") == ((None, None)))
    assert(operands("SELECT ] ~ [") == ((None, None)))
    assert(operands("SELECT x ~ 'open")._2 == None) // an unclosed string
    assert(operands("SELECT x /* c */ ~ -- c\n y") == ((None, None)))
  }

  test("bindsTighter reads the code neighbours, blanks skipped") {
    val s = "SELECT 1 +  a ~ b   * 2, 'x' || c ~ d"
    val v = DuckLexer(s)
    assert(v.bindsTighter(12, 17, "+", ""))
    assert(v.bindsTighter(12, 17, "", "*"))
    assert(!v.bindsTighter(12, 17, "-", "/"))
    assert(v.bindsTighter(32, 37, "|", ""))
    assert(!v.bindsTighter(29, 37, "x'", "")) // a string holds no code neighbour
  }

  test("namedCasts finds CAST, TRY_CAST and :: casts to the accepted types") {
    val s = "SELECT CAST(a AS mood), try_cast(f(b) AS Mood), 'x'::mood, " +
      "(c)::JSON, d::int, CAST(e AS INT), CAST( AS mood), ::mood"
    val cs = DuckLexer(s).namedCasts(_.equalsIgnoreCase("mood"))
    assert(cs.map(c => (s.substring(c.start, c.end), c.operand, c.typeName, c.isTry)) == Vector(
      ("CAST(a AS mood)", "a", "mood", false),
      ("try_cast(f(b) AS Mood)", "f(b)", "Mood", true),
      ("'x'::mood", "'x'", "mood", false)))
    assert(DuckLexer(s).namedCasts(_ == "JSON").map(_.operand) == Vector("(c)"))
  }

  test("topLevelWords skips strings, quoted identifiers, comments, and parens") {
    val sql =
      """SELECT 'QUALIFY (not) -- here', "QUALIFY", `QUALIFY x`,
         (SELECT max(v) FROM t2 /* QUALIFY */) AS m -- QUALIFY
         FROM t"""
    val words = DuckLexer(sql).topLevelWords.map(_._1)
    assert(!words.contains("QUALIFY"))
    assert(words.count(_ == "SELECT") == 1) // the subquery's SELECT is depth-1
    assert(words.containsSlice(Seq("AS", "M", "FROM", "T")))
  }

  test("positional markers are words at any depth, outside strings") {
    val v = DuckLexer("SELECT a FROM t WHERE b = (SELECT ?) AND c = '?'")
    assert(v.topLevelWords.filter(_._1 == "?").map(_._2) == Vector(34))
  }

  test("entry transform: backslashes doubled, E and dollar strings folded") {
    assert(DuckLiterals.doubleBackslashes("SELECT 'a\\d', \"x\\y\"") ==
      "SELECT 'a\\\\d', \"x\\y\"")
    assert(DuckLiterals.doubleBackslashes("SELECT E'it\\'s', $t$a\\b'c$t$") ==
      "SELECT 'it''s', 'a\\\\b''c'")
    val plain = "SELECT 'no backslash' -- $x$ "
    assert(DuckLiterals.doubleBackslashes(plain) eq plain)
    assert(DuckLiterals.halveBackslashes("SELECT 'a\\\\d', 'x'") == "SELECT 'a\\d', 'x'")
    assert(DuckLiterals.doubleBackslashes("SELECT 'open\\") == "SELECT 'open\\\\")
  }
}
