package graft.sql

import java.util.regex.Pattern

/** Mechanical rewrite of DuckDB's `WITH RECURSIVE <name> USING KEY (...)`
  * (DuckDB ≥1.3: one row per key, step output upserts, step sees last
  * round's changed rows) into the `fixpoint_keyed()` TVF splice:
  *
  * {{{
  * WITH RECURSIVE r USING KEY (x) AS (
  *   SELECT 1 AS x, 0 AS v
  *   UNION ALL
  *   SELECT x, v + 1 FROM r WHERE v < 3
  * ) SELECT x, v FROM r
  * -- becomes --
  * SELECT x, v FROM fixpoint_keyed('SELECT 1 AS x, 0 AS v',
  *   'SELECT x, v + 1 FROM __frontier WHERE v < 3', 'x') AS r
  * }}}
  *
  * Scope is the common LINEAR form, declined otherwise (the caller then
  * surfaces the fixpoint() hint): exactly one recursive CTE, body =
  * seed UNION [ALL] step at the body's top level, step referencing the
  * CTE name (which becomes `__frontier` — last round's changed rows,
  * DuckDB's intermediate table) and/or `recurring.<name>` (DuckDB ≥1.3's
  * accumulated one-row-per-key state, which becomes the `__recurring`
  * view bound per round by the TVF), single-part identifiers, and a
  * final statement whose only use of the CTE name is one `FROM <name>`
  * target (re-aliased onto the splice).
  */
object UsingKeyRewrite {

  private def nextNonSpace(sql: String, from: Int): Int = {
    var i = from
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    i
  }

  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    // WITH RECURSIVE <name> USING KEY ( … ) AS ( … ) SELECT …
    if (words.length < 6) return None
    val shape = words.take(2).map(_._1)
    if (shape != Vector("WITH", "RECURSIVE")) return None
    if (words(1)._1 != "RECURSIVE" || words(3)._1 != "USING" ||
      words(4)._1 != "KEY") return None
    val nameW = words(2)
    val name = sql.substring(nameW._2, nameW._2 + nameW._1.length)
    // Key list: the paren group right after KEY.
    val keyOpen = nextNonSpace(sql, words(4)._2 + "KEY".length)
    if (keyOpen >= sql.length || sql.charAt(keyOpen) != '(') return None
    val keyClose = DuckLexer(sql).closeOf(keyOpen) - 1
    if (keyClose < 0) return None
    val keys = sql.substring(keyOpen + 1, keyClose).split(",").map(_.trim)
    if (keys.isEmpty || !keys.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
      return None
    // AS ( body )
    val asIdx = nextNonSpace(sql, keyClose + 1)
    if (!sql.regionMatches(true, asIdx, "AS", 0, 2)) return None
    val bodyOpen = nextNonSpace(sql, asIdx + 2)
    if (bodyOpen >= sql.length || sql.charAt(bodyOpen) != '(') return None
    val bodyClose = DuckLexer(sql).closeOf(bodyOpen) - 1
    if (bodyClose < 0) return None
    val body = sql.substring(bodyOpen + 1, bodyClose)
    // Exactly one top-level UNION [ALL] splits seed from step.
    val bodyWords = DuckLexer(body).topLevelWords
    val unions = bodyWords.filter(_._1 == "UNION")
    if (unions.length != 1) return None
    val uPos = unions.head._2
    val seedSql = body.substring(0, uPos).trim
    var stepStart = uPos + "UNION".length
    val afterUnion = bodyWords.dropWhile(_._2 <= uPos)
    if (afterUnion.headOption.exists(_._1 == "ALL"))
      stepStart = afterUnion.head._2 + "ALL".length
    val stepRaw = body.substring(stepStart).trim
    if (seedSql.isEmpty || stepRaw.isEmpty) return None
    // The step's references: `recurring.<name>` (DuckDB ≥1.3 — the
    // accumulated one-row-per-key state) becomes the __recurring view,
    // then the plain recursive reference becomes the frontier view. The
    // recurring swap runs FIRST so its <name> token is consumed before
    // the bare-name pass. (A CTE name inside one of the step's own
    // string literals would also be swapped — vanishingly unlikely; the
    // reparse safety net degrades any mis-splice to the hint, never to a
    // wrong result.)
    val recRe = ("(?i)\\brecurring\\s*\\.\\s*" + Pattern.quote(name) + "\\b").r
    val stepNoRec = recRe.replaceAllIn(stepRaw, "__recurring")
    val nameRe = ("(?i)\\b" + Pattern.quote(name) + "\\b").r
    if (nameRe.findFirstIn(stepNoRec).isEmpty &&
      !stepNoRec.contains("__recurring")) return None
    val stepSql = nameRe.replaceAllIn(stepNoRec, "__frontier")
    // Final statement: a single SELECT whose only bare use of the CTE
    // name is one FROM target; qualifier uses (name.col) ride the alias.
    val finalSql = sql.substring(nextNonSpace(sql, bodyClose + 1))
    if (!finalSql.toUpperCase.startsWith("SELECT")) return None
    val fromRe = ("(?i)\\bFROM\\s+" + Pattern.quote(name) + "\\b").r
    if (fromRe.findAllIn(finalSql).size != 1) return None
    val bare = nameRe.findAllMatchIn(finalSql).count { m =>
      val after = nextNonSpace(finalSql, m.end)
      after >= finalSql.length || finalSql.charAt(after) != '.'
    }
    if (bare != 1) return None // a JOIN <name> etc. would not resolve
    // Quote-doubling only: the slice carries this level's backslash
    // doubling already (DuckLiterals entry transform).
    def esc(s: String) =
      s.replace("'", "''")
    val tvf = s"fixpoint_keyed('${esc(seedSql)}', '${esc(stepSql)}', " +
      s"'${keys.mkString(",")}')"
    Some(fromRe.replaceFirstIn(finalSql,
      java.util.regex.Matcher.quoteReplacement(s"FROM $tvf AS $name")))
  }
}
