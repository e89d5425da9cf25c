package graft.sql

/** Mechanical rewrite of UNION-distinct recursive CTEs onto the
  * `fixpoint()` table function (round 16).
  *
  * Spark 4.1 hosts `WITH RECURSIVE ... UNION ALL ...` natively but
  * rejects the UNION-distinct form in ANALYSIS
  * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — the form every cyclic
  * closure needs (reachability over a cyclic graph never terminates
  * under UNION ALL). DuckDB runs it natively (reference host surface;
  * the oracle engine executes the original statement verbatim), and
  * [[graft.operators.Fixpoint.iterate]] computes exactly its semantics:
  * the least fixpoint of `seed ∪ step(frontier)` with set semantics,
  * semi-naive (the recursive reference sees each round's NEW rows, the
  * standard working-table contract). So the statement
  *
  * {{{
  * WITH RECURSIVE reach AS (
  *   SELECT 1 AS node
  *   UNION
  *   SELECT e.dst FROM reach j JOIN edges e ON e.src = j.node)
  * SELECT * FROM reach
  * }}}
  *
  * becomes
  *
  * {{{
  * WITH reach AS (SELECT * FROM fixpoint(
  *   'SELECT 1 AS node',
  *   'SELECT e.dst FROM __frontier j JOIN edges e ON e.src = j.node'))
  * SELECT * FROM reach
  * }}}
  *
  * Claimed shape (everything else declines, conservatively): exactly one
  * CTE, `WITH RECURSIVE <name> [(cols)] AS ( <seed> UNION <step> )
  * <final>`, where the split is the LAST parenthesis-depth-0 UNION
  * (multi-branch seeds `s1 UNION s2 UNION step` keep their earlier
  * UNIONs inside the seed SQL — fixpoint's seed distinct preserves the
  * set semantics), no depth-0 UNION ALL after that split (mixed
  * distinct/ALL branches have no fixpoint mapping), the seed never
  * references the CTE name, and the step does. This runs PRE-DELEGATION
  * (the statement parses natively and only dies in analysis, so the
  * parse-failure chain never sees it), gated so native UNION ALL
  * recursion and non-recursive bodies pass through untouched.
  */
object RecursiveUnionRewrite {

  private val headRe =
    "(?is)\\A\\s*WITH\\s+RECURSIVE\\s+([A-Za-z_]\\w*)\\s*(\\([\\w\\s,]*\\))?\\s*AS\\s*\\(".r

  /** Gate for the preRewrite arm: WITH RECURSIVE head AND a
    * parenthesis-depth-0 distinct UNION inside the recursive CTE body
    * itself (outside string literals). The body requirement matters: a
    * natively-valid UNION ALL recursive CTE whose FINAL query (or a
    * nested subquery) contains a distinct UNION — e.g. `WITH RECURSIVE c
    * AS (... UNION ALL ...) SELECT i FROM c UNION SELECT 99` — must fall
    * through to native delegation, not be claimed and hinted.
    */
  def isShaped(sql: String): Boolean = {
    val m = DuckLexer(sql).masked
    val hm = headRe.findFirstMatchIn(m).getOrElse(return false)
    val openIdx = hm.end - 1
    val closeAfter = DuckLexer(sql).closeOf(openIdx)
    if (closeAfter <= 0 || closeAfter > sql.length) return false
    val bodyMask = m.substring(openIdx + 1, closeAfter - 1)
    val depth = depthAt(bodyMask)
    val ws = words(bodyMask)
    ws.zipWithIndex.exists { case ((w, off), wi) =>
      w == "UNION" && depth(off) == 0 &&
        !(wi + 1 < ws.length && ws(wi + 1)._1 == "ALL" &&
          depth(ws(wi + 1)._2) == 0)
    }
  }

  /** Uppercased word tokens with start offsets. */
  private def words(mask: String): Vector[(String, Int)] = {
    val out = Vector.newBuilder[(String, Int)]
    var i = 0
    val n = mask.length
    while (i < n) {
      val c = mask.charAt(i)
      if (c.isLetter || c == '_') {
        val s = i
        while (i < n && DuckLexer.wordCh(mask.charAt(i))) i += 1
        out += ((mask.substring(s, i).toUpperCase, s))
      } else i += 1
    }
    out.result()
  }

  /** Paren depth at each offset of `mask` (depth of the character). */
  private def depthAt(mask: String): Array[Int] = {
    val d = new Array[Int](mask.length)
    var cur = 0
    var i = 0
    while (i < mask.length) {
      val c = mask.charAt(i)
      if (c == '(') { d(i) = cur; cur += 1 }
      else if (c == ')') { cur -= 1; d(i) = cur }
      else d(i) = cur
      i += 1
    }
    d
  }

  /** True when `name` appears as a standalone identifier (not preceded
    * by `.` — that is a column reference in another relation).
    */
  private def refersTo(body: String, bodyMask: String, name: String): Boolean =
    words(bodyMask).exists { case (w, off) =>
      w == name.toUpperCase &&
        (off == 0 || bodyMask.charAt(off - 1) != '.')
    }

  /** Replace standalone references to `name` with `__frontier`. */
  private def substFrontier(body: String, bodyMask: String, name: String): String = {
    val sb = new StringBuilder
    var last = 0
    words(bodyMask).foreach { case (w, off) =>
      if (w == name.toUpperCase && (off == 0 || bodyMask.charAt(off - 1) != '.')) {
        sb.append(body.substring(last, off)).append("__frontier")
        last = off + name.length
      }
    }
    sb.append(body.substring(last))
    sb.toString
  }

  def rewrite(sql: String): Option[String] = {
    val m = DuckLexer(sql).masked
    val hm = headRe.findFirstMatchIn(m).getOrElse(return None)
    val name = sql.substring(hm.start(1), hm.end(1))
    val aliases =
      if (hm.group(2) == null) "" else " " + sql.substring(hm.start(2), hm.end(2))
    val openIdx = hm.end - 1
    val closeAfter = DuckLexer(sql).closeOf(openIdx)
    if (closeAfter <= 0 || closeAfter > sql.length) return None
    val body = sql.substring(openIdx + 1, closeAfter - 1)
    val bodyMask = m.substring(openIdx + 1, closeAfter - 1)
    val rest = sql.substring(closeAfter)
    // one CTE only: a following `, other AS (...)` declines
    if (rest.dropWhile(_.isWhitespace).startsWith(",")) return None
    // depth-0 UNION [ALL] tokens inside the body
    val depth = depthAt(bodyMask)
    val ws = words(bodyMask)
    val top = ws.zipWithIndex.collect {
      case ((w, off), wi) if w == "UNION" && depth(off) == 0 =>
        val isAll = wi + 1 < ws.length && ws(wi + 1)._1 == "ALL" &&
          depth(ws(wi + 1)._2) == 0
        (off, isAll, if (isAll) ws(wi + 1)._2 + 3 else off + 5)
    }
    val distincts = top.filter(!_._2)
    if (distincts.isEmpty) return None
    val (splitOff, _, splitEnd) = distincts.last
    // mixed branches after the split have no fixpoint mapping
    if (top.exists(t => t._2 && t._1 > splitOff)) return None
    // NOT trimmed: the mask substrings below share these offsets
    val seed = body.substring(0, splitOff)
    val step = body.substring(splitEnd)
    val seedMask = bodyMask.substring(0, splitOff)
    val stepMask = bodyMask.substring(splitEnd)
    if (seed.trim.isEmpty || step.trim.isEmpty) return None
    if (refersTo(seed, seedMask, name)) return None // non-linear recursion
    if (!refersTo(step, stepMask, name)) return None // not recursive at all
    val stepFront = substFrontier(step, stepMask, name).trim
    def esc(s: String) = s.replace("'", "''")
    // A CTE column-alias list renames the SEED's output (the step and
    // the final query then see those names): apply it inside the seed
    // SQL — fixpoint's positional step matching propagates it onward.
    val seedSql =
      if (aliases.isEmpty) seed.trim
      else s"SELECT * FROM (${seed.trim}) AS __graft_ru_seed${aliases.trim}"
    Some(s"WITH $name AS (SELECT * FROM fixpoint(" +
      s"'${esc(seedSql)}', '${esc(stepFront)}'))$rest")
  }
}
