package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.highs.HighsFunctions

/** SQL parity layer (SURVEY.md §7 M3): registers the reference's two scalar
  * functions and four table functions into the Spark SQL catalog, so
  * `spark.sql("SELECT * FROM highs_solve('m')")` works exactly like the
  * DuckDB extension surface (highs_extension.cpp:725-776).
  *
  * Usage: `.config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")`
  * or `SparkSession.builder.withExtensions(new GraftSparkExtensions)`.
  * It must be the only parser extension: graft's parser replaces Spark's
  * own [[org.apache.spark.sql.execution.SparkSqlParser]] with
  * [[DuckSqlParser]], and fails to build over any other parser.
  *
  * Execution contract: a table function's builder only checks its
  * constant arguments ([[GraftSparkExtensions.constArgs]]) and returns a
  * plan; the work runs when the statement executes ([[DriverRows]]). The
  * HiGHS model builders write, so they return commands: Spark runs each
  * once when the statement is issued — the reference's
  * statement-at-a-time semantics (SURVEY.md §3 E2) — and EXPLAIN runs
  * nothing. The exceptions are `fixpoint`, `fixpoint_keyed`, `dedup` and
  * `pivot_auto`: their result is a distributed plan whose schema comes
  * from running user SQL, so they run while the call is analysed.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftSparkExtensions.versionFn)
    ext.injectFunction(GraftSparkExtensions.opensslVersionFn)
    ext.injectFunction(GraftSparkExtensions.vectorCosineFn)
    ext.injectFunction(GraftSparkExtensions.vectorNormFn)
    GraftSparkExtensions.duckdbAliasFns.foreach(ext.injectFunction)
    GraftSparkExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ => DriverRowsStrategy)
    ext.injectParser { (_, delegate) =>
      if (delegate.getClass != classOf[org.apache.spark.sql.execution.SparkSqlParser])
        throw new IllegalStateException("graft.sql.GraftSparkExtensions must be the only " +
          s"parser extension in spark.sql.extensions; it was given ${delegate.getClass.getName}")
      new GraftHintParser
    }
    // Grouped 1-arg bitstring_agg → column-wide range (ADVICE-18 #1).
    ext.injectOptimizerRule(_ => BitstringGlobalRange)
    // `//` (parsed as ` div `) → DuckDB divide semantics (verdict-19 #5).
    ext.injectResolutionRule(_ => DuckIntDivide)
    // Thirteenth sweep (round 20): type-aware concat dialect, DATE-DATE
    // day counts, length-of-list, Formatter-safe decimals — inside the
    // fixpoint so parents keep resolving; quantile_disc input-typed
    // results in the Once batch (the wrap would re-match itself).
    ext.injectResolutionRule(_ => ConcatDialect)
    ext.injectPostHocResolutionRule(_ => SweepThirteenFixups)
    // min/max under EXCLUDE GROUP/TIES: splice the prev/next-distinct-
    // key helper windows above the marker's Window node (verdict-19 #3).
    // Post-hoc so ExtractWindowExpressions has already run.
    ext.injectPostHocResolutionRule(_ => ExcludeGroupMinMaxRule)
    // Parallel unnest() lockstep-zip (round 20): DuckDB evaluates
    // multiple unnests in one select list in lockstep, Spark chains
    // them into a cross product. Post-hoc so ExtractGenerator has run.
    ext.injectPostHocResolutionRule(_ => ParallelUnnestZip)
  }
}

/** Landing pad for DuckDB-flavored syntax Spark's parser cannot host.
  * Two tiers:
  *
  *   - REWRITE AND RUN where the mapping is mechanical: a `QUALIFY` clause
  *     is rewritten into the ANSI subquery form ([[QualifyRewrite]]), the
  *     common backward `ASOF [LEFT] JOIN` form becomes an `asof_join()`
  *     TVF splice ([[AsofJoinRewrite]]), the linear `USING KEY` recursion
  *     becomes `fixpoint_keyed()` ([[UsingKeyRewrite]]), `* EXCLUDE`
  *     swaps to `* EXCEPT` ([[ExcludeRewrite]]), `* REPLACE (...)`
  *     expands the star against the catalog schema ([[ReplaceRewrite]]),
  *     `CREATE MACRO` becomes a command that registers a lazy-bound
  *     session function ([[MacroRewrite]]), and `SUMMARIZE t`
  *     becomes `SELECT * FROM summarize('t')` — the pasted DuckDB
  *     statement executes instead of erroring, and rewrites CHAIN
  *     (depth-capped) so statements combining constructs (`* EXCLUDE`
  *     with `QUALIFY`) run too.
  *   - HINT where it isn't: a DuckDB-only `WITH RECURSIVE` variant, or an
  *     ASOF/QUALIFY shape the rewrites decline, gets the original ANTLR
  *     error plus a one-line pointer to the equivalent graft TVF
  *     (`fixpoint()` / `asof_join()`).
  *
  * The ORIGINAL parse error stays primary in hint messages — the keyword
  * regexes match anywhere in the statement, so an unrelated typo in SQL
  * that merely mentions one of the keywords must still read as its own
  * error, with the pointer as an appended "if you meant…". Failures
  * matching no pattern rethrow the original ParseException.
  *
  * A statement that parses is parsed once, by [[DuckSqlParser]]: Spark's
  * grammar with DuckDB's meaning built into the AST (NULLS LAST by
  * default, DuckDB collation names, window FILTER). The same parser
  * serves expression fragments, macro bodies and types, so that meaning
  * does not depend on where the SQL text comes from.
  */
class GraftHintParser extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  /** Spark's parser with DuckDB's meaning for the constructs Spark
    * already accepts (NULLS LAST by default, collation names, window
    * FILTER); every parse below goes through it.
    */
  private val parser = new DuckSqlParser
  /** The session's DuckDB-level state (one parser per session). */
  private[sql] val duck = new DuckSession
  import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParseException}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private val recursiveRe = "(?is).*\\bWITH\\s+RECURSIVE\\b.*".r
  private val usingKeyRe = "(?is).*\\bWITH\\s+RECURSIVE\\b.*\\bUSING\\s+KEY\\b.*".r
  private val asofRe = "(?is).*\\bASOF\\s+(?:LEFT\\s+)?JOIN\\b.*".r
  private val excludeRe = "(?is).*\\*\\s*EXCLUDE\\b.*".r
  private val summarizeRe = "(?is)\\s*SUMMARIZE\\b.*".r
  private val macroRe = "(?is).*\\bCREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?MACRO\\b.*".r
  private val summarizeTableRe =
    "(?is)\\s*SUMMARIZE\\s+([a-zA-Z_][a-zA-Z0-9_.]*)\\s*;?\\s*".r
  // `SUMMARIZE SELECT ...` / `SUMMARIZE FROM t ...` — DuckDB profiles a
  // whole query; the TVF takes the query text (tableOrSql dispatch).
  private val summarizeQueryRe =
    "(?is)\\A\\s*SUMMARIZE\\s+((?:SELECT|FROM|WITH|VALUES)\\b.*?)\\s*;?\\s*\\z".r
  private val qualifyRe = "(?is).*\\bQUALIFY\\b.*".r
  private val replaceStarRe = "(?is).*\\*\\s*REPLACE\\s*\\(.*".r
  private val columnsRe = "(?is).*\\bCOLUMNS\\s*\\(.*".r
  private val fromFirstRe =
    "(?is)\\A(?:\\s|--[^\\n]*\\n|/\\*.*?\\*/)*FROM\\b.*".r
  private val pivotStmtRe = "(?is)\\A\\s*PIVOT\\b.*".r
  private val unpivotStmtRe = "(?is)\\A\\s*UNPIVOT\\b.*".r
  private val copyStmtRe = "(?is)\\A\\s*COPY\\b.*".r
  private val pragmaStmtRe = "(?is)\\A\\s*PRAGMA\\b.*".r
  private val unionByNameRe =
    "(?is).*\\b(?:UNION|INTERSECT|EXCEPT)\\s+(?:ALL\\s+|DISTINCT\\s+)?BY\\s+NAME\\b.*".r
  private val insertByNameRe =
    "(?is)\\A\\s*INSERT\\s+INTO\\b.*\\bBY\\s+NAME\\b.*".r
  private val usingSampleRe = "(?is).*\\bUSING\\s+SAMPLE\\b.*".r
  // DuckDB's quoted-datepart date_diff('day', ...) is rejected by
  // Spark's PARSER (it special-cases this name and demands a bare
  // identifier unit), so the quoted form is re-routed on parse failure
  // to the registry's duck_date_diff boundary-semantics builder.
  // datediff/date_sub are NOT parser-special-cased — their quoted 3-arg
  // forms parse and are served by registry overrides instead.
  private val duckDateRe =
    "(?is).*\\b(?:date_diff|datediff)\\s*\\(\\s*'.*".r
  // POSITIONAL JOIN must be caught BEFORE delegation: Spark PARSES
  // `FROM a POSITIONAL JOIN b` as table a ALIASED "positional" joined
  // to b with no condition — a silent CARTESIAN product, the worst
  // failure mode. Table-name sides collapse into the TVF in place;
  // any leftover POSITIONAL JOIN (subquery sides, chains whose left
  // side is no longer a bare name) raises the guidance hint rather
  // than ever reaching the alias misparse.
  private val positionalRe = "(?is).*\\bPOSITIONAL\\s+JOIN\\b.*".r
  /** True only when adjacent bare words POSITIONAL JOIN appear OUTSIDE
    * strings/comments (any depth) — a string literal containing the
    * text must pass through untouched. */
  private def positionalShaped(sql: String): Boolean =
    DuckLexer(sql).words.sliding(2).exists {
      case Vector((a, _), (b, _)) => a == "POSITIONAL" && b == "JOIN"
      case _ => false
    }
  /** Adjacent bare words ASOF [LEFT] JOIN outside strings/comments. */
  private def asofShaped(sql: String): Boolean =
    DuckLexer(sql).words.sliding(3).exists {
      case Vector((a, _), (b, _), (c, _)) =>
        a == "ASOF" && (b == "JOIN" || (b == "LEFT" && c == "JOIN"))
      case _ => false
    }
  private val positionalPairRe =
    "(?i)\\b([A-Za-z_]\\w*)\\s+POSITIONAL\\s+JOIN\\s+([A-Za-z_]\\w*)".r
  private def positionalPreRewrite(sql: String): String = {
    val sb = new StringBuilder
    var pos = 0
    for (m <- positionalPairRe.findAllMatchIn(DuckLexer(sql).masked)) {
      sb.append(sql.substring(pos, m.start)).append(s"positional_join('${m.group(1)}', '${m.group(2)}')")
      pos = m.end
    }
    val out = sb.append(sql.substring(pos)).toString
    if (positionalShaped(out))
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          ("POSITIONAL JOIN could not be rewritten: the common form " +
            "(two plain table names) runs automatically via the " +
            "positional_join table function, but this shape doesn't — " +
            "and left unrewritten Spark would misparse POSITIONAL as a " +
            "table alias and produce a cartesian product. Use " +
            "positional_join('left_table_or_sql', 'right_table_or_sql') " +
            "directly.")))
    out
  }
  private def duckDateRewrite(sql: String): Option[String] = {
    val out = sql.replaceAll(
      "(?i)\\b(date_diff|datediff)(\\s*\\(\\s*')", "duck_$1$2")
    if (out == sql) None else Some(out)
  }

  /** DuckDB multi-unit interval strings — `INTERVAL '1 month 2 days'` —
    * which Spark's parser rejects (it wants typed units: INTERVAL '1'
    * MONTH). Rewritten onto make_interval(...), whose CalendarInterval
    * result adds to dates/timestamps regardless of the year-month /
    * day-time mix (a typed-literal sum could not — Spark cannot add a
    * YearMonthInterval to a DayTimeInterval). Parse-failure only; a
    * content that is not a signed number-unit sequence (time-of-day
    * forms, fractional seconds) declines.
    */
  private val intervalUnitSlots: Map[String, Int] = Map(
    "year" -> 0, "years" -> 0, "month" -> 1, "months" -> 1,
    "week" -> 2, "weeks" -> 2, "day" -> 3, "days" -> 3,
    "hour" -> 4, "hours" -> 4, "minute" -> 5, "minutes" -> 5,
    "min" -> 5, "mins" -> 5, "second" -> 6, "seconds" -> 6,
    "sec" -> 6, "secs" -> 6)
  private def intervalLiteralRewrite(text: String): Option[String] = {
    // match the bare keyword on the mask, then skip RAW whitespace only
    // (the mask blanks the literal, so a \s* would swallow it).
    val kw = "(?i)\\bINTERVAL\\b".r
    var changed = false
    var cur = text
    var guard = 0
    while (guard < 32) {
      guard += 1
      val mask = DuckLexer(cur).masked
      val hit = kw.findAllMatchIn(mask).flatMap { km =>
        var q = km.end
        while (q < cur.length && cur.charAt(q).isWhitespace) q += 1
        if (q >= cur.length || cur.charAt(q) != '\'') None
        else {
          val close = cur.indexOf('\'', q + 1)
          if (close < 0) None
          else {
            val content = cur.substring(q + 1, close)
            val unitSeq = "(?i)\\A\\s*(?:[-+]?\\d+\\s+[a-z]+\\s*){2,}\\z".r
            if (unitSeq.findFirstIn(content).isEmpty) None
            else Some((km.start, close + 1, content))
          }
        }
      }.toSeq.headOption
      hit match {
        case None => return if (changed) Some(cur) else None
        case Some((start, end, content)) =>
          val slots = new Array[Long](7)
          val pair = "(?i)([-+]?\\d+)\\s+([a-z]+)".r
          var ok = true
          pair.findAllMatchIn(content).foreach { pm =>
            intervalUnitSlots.get(pm.group(2).toLowerCase) match {
              case Some(i) => slots(i) += pm.group(1).toLong
              case None => ok = false
            }
          }
          if (!ok) return None
          val repl = s"make_interval(${slots(0)}, ${slots(1)}, ${slots(2)}, " +
            s"${slots(3)}, ${slots(4)}, ${slots(5)}, ${slots(6)})"
          cur = cur.substring(0, start) + repl + cur.substring(end)
          changed = true
      }
    }
    if (changed) Some(cur) else None
  }
  // DuckDB maintenance statements, none of which Spark parses. CREATE/
  // DROP INDEX and VACUUM have no Spark counterpart and no semantic
  // effect beyond performance — they become warn-once no-ops returning
  // DuckDB's empty result, so a pasted setup script keeps running
  // instead of dying on its index DDL. `ANALYZE [tbl]` is REAL work:
  // with a table name it maps to Spark's ANALYZE TABLE ... COMPUTE
  // STATISTICS (feeding the cost-based optimizer — the closest
  // equivalent of DuckDB's stats refresh); the bare form no-ops (Spark
  // has no analyze-everything statement).
  private val createIndexRe =
    "(?is)\\A\\s*CREATE\\s+(?:UNIQUE\\s+)?INDEX\\b.*".r
  private val dropIndexRe = "(?is)\\A\\s*DROP\\s+INDEX\\b.*".r
  private val vacuumRe =
    "(?is)\\A\\s*VACUUM(?:\\s+ANALYZE)?(?:\\s+[A-Za-z_][\\w.]*)?\\s*;?\\s*\\z".r
  private val analyzeBareRe = "(?is)\\A\\s*ANALYZE\\s*;?\\s*\\z".r
  private val prepareStmtRe =
    "(?is)\\A\\s*(?:PREPARE|EXECUTE|DEALLOCATE)\\b.*".r
  private val exportDbRe =
    """(?is)\A\s*EXPORT\s+DATABASE\s+'((?:[^']|'')+)'\s*(?:\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*;?\s*\z""".r
  private val importDbRe =
    """(?is)\A\s*IMPORT\s+DATABASE\s+'((?:[^']|'')+)'\s*;?\s*\z""".r
  private def exportImportRewrite(sql: String): Option[DuckCommand] = sql match {
    case exportDbRe(dir, fmt) =>
      if (fmt != null && !fmt.equalsIgnoreCase("parquet"))
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION", Map("errorMessage" ->
            ("EXPORT DATABASE runs with FORMAT PARQUET here (the " +
              "self-describing format IMPORT can restore without " +
              "schema.sql parsing); re-run with (FORMAT PARQUET).")))
      Some(ExportDatabaseCommand(DuckLiterals.literalValue(dir)))
    case importDbRe(dir) =>
      Some(ImportDatabaseCommand(DuckLiterals.literalValue(dir)))
    case _ => None
  }
  /** Replace depth-any `//` with ` div ` outside strings/quotes/
    * comments. None when the text has no such operator.
    */
  private def intDivRewrite(text: String): Option[String] = {
    val m = DuckLexer(text).masked
    if (!m.contains("//")) return None
    val sb = new StringBuilder
    var pos = 0
    var i = m.indexOf("//")
    while (i >= 0) {
      sb.append(text.substring(pos, i)).append(" div ")
      pos = i + 2
      i = m.indexOf("//", pos)
    }
    Some(sb.append(text.substring(pos)).toString)
  }

  /** DuckDB's `**` power operator → `power(l, r)`. Semantics pinned on
    * DuckDB 1.0: LEFT-associative (`2**3**2` = 64), binds above `*`/`/`
    * (`2*3**2` = 18), unary minus binds tighter on the BASE (`-2 ** 2`
    * = 4 after a clause keyword, while `3 - 2 ** 2` = -1 — the sign is
    * binary after an identifier), and the result is DOUBLE — exactly
    * Spark's `power`. `**` is never Spark syntax, so no native
    * statement can be claimed. The operands are the lexer's
    * ([[DuckLexer.operandBefore]], [[DuckLexer.operandAfter]]), each
    * with a unary sign where SQL's grammar makes it unary (after
    * `(`/`,`/an operator/a clause keyword); an operand the grammar
    * cannot delimit declines the whole statement to the hint rather
    * than guessing. The leftmost-first fold reproduces the left
    * associativity.
    */
  private def powerOpRewrite(text: String): Option[String] = {
    if (!text.contains("**")) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      val idx = m.indexOf("**")
      if (idx < 0) return if (changed) Some(cur) else None
      // The right operand, its signs included.
      var rs = idx + 2
      while (rs < m.length && cur.charAt(rs).isWhitespace) rs += 1
      var r = rs
      while (r < m.length && (m.charAt(r) == '-' || m.charAt(r) == '+' ||
          cur.charAt(r).isWhitespace)) r += 1
      val re = view.operandAfter(r).getOrElse(return None)._2
      val (ls0, le) = view.operandBefore(idx).getOrElse(return None)
      var ls = ls0
      // A sign before the left operand is unary at the start, after an
      // operator, or after a clause keyword.
      var s = ls - 1
      while (s >= 0 && cur.charAt(s).isWhitespace) s -= 1
      if (s >= 0 && (m.charAt(s) == '-' || m.charAt(s) == '+')) {
        var p = s - 1
        while (p >= 0 && cur.charAt(p).isWhitespace) p -= 1
        val unary = p < 0 || "(,=<>+-*/%|&~".indexOf(m.charAt(p)) >= 0 ||
          view.operandBefore(s).exists { case (a, b) =>
            DuckLexer.isClauseKeyword(cur.substring(a, b)) }
        if (unary) ls = s
      }
      val lText = cur.substring(ls, le)
      val rText = cur.substring(rs, re)
      cur = cur.substring(0, ls) + "power(" + lText + ", " + rText + ")" +
        cur.substring(re)
      changed = true
    }
    None
  }

  private val insertOrRe =
    "(?is)\\A\\s*INSERT\\s+(?:OR\\s+(?:REPLACE|IGNORE)\\b|INTO\\b.*\\bON\\s+CONFLICT\\b).*".r
  private val similarToRe = "(?is).*\\bSIMILAR\\s+TO\\b.*".r

  /** DuckDB's Postgres-style pattern-match operators: `l ~ r` is
    * regexp_full_match (FULL-string match — `'abcdef' ~ 'cd'` is FALSE,
    * pinned on 1.0, unlike Postgres's find semantics), `!~` its
    * negation, `~~`/`!~~` are [NOT] LIKE. Spark's `~` is unary bitwise
    * NOT, so every infix use is a parse error and rides the failure
    * chain — no native statement can be claimed (a genuine unary `~`
    * has no left operand and declines). The operands are the lexer's
    * ([[DuckLexer.operandBefore]], [[DuckLexer.operandAfter]]).
    * Precedence pinned on 1.0: comparisons are looser (safe on either
    * boundary); left-adjacent `||`/arithmetic binds FIRST (`'a'||'b' ~
    * p` groups the concat — the one-operand extraction would misgroup,
    * and a boolean fed to Spark's `||` silently coerces to concat, so
    * those decline); right-adjacent `||` is the left-assoc
    * same-precedence class (`(a ~ b) || c` — pinned `'ab' ~ 'a' || 'b'`
    * = 'falseb') and rewrites exactly; right-adjacent arithmetic binds
    * tighter (`a ~ b + 1` groups `b + 1`) and declines.
    */
  private def tildeOpRewrite(text: String): Option[String] = {
    if (!text.contains("~")) return None
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      val view = DuckLexer(cur)
      val m = view.masked
      val ti = m.indexOf('~')
      if (ti < 0) return if (changed) Some(cur) else None
      // operator token: [opS, opE) — longest of !~~, ~~, !~, ~
      val opS = if (ti > 0 && m.charAt(ti - 1) == '!') ti - 1 else ti
      val opE = if (ti + 1 < m.length && m.charAt(ti + 1) == '~') ti + 2 else ti + 1
      val (rs, re) = view.operandAfter(opE).getOrElse(return None)
      val (ls, le) = view.operandBefore(opS).getOrElse(return None)
      if (view.bindsTighter(ls, re, "|+-*/%^&~!", "+-*/%^&~![")) return None
      val lText = cur.substring(ls, le)
      val rText = cur.substring(rs, re)
      val repl = cur.substring(opS, opE) match {
        case "~" => s"regexp_full_match($lText, $rText)"
        case "!~" => s"(NOT regexp_full_match($lText, $rText))"
        case "~~" => s"($lText LIKE $rText)"
        case "!~~" => s"($lText NOT LIKE $rText)"
      }
      cur = cur.substring(0, ls) + repl + cur.substring(re)
      changed = true
    }
    None
  }

  /** DuckDB's `expr AT TIME ZONE 'zone'` (round 16). The construct is
    * TYPE-polymorphic in DuckDB: on a naive TIMESTAMP it interprets the
    * wall-clock fields in `zone` and returns the TIMESTAMPTZ instant; on
    * a TIMESTAMPTZ it renders the instant as `zone` wall clock and
    * returns naive TIMESTAMP (both pinned on 1.0). This engine reads
    * parquet timestamps the way DuckDB reads the same files — as naive
    * wall clocks (the session pins UTC, so values agree across engines)
    * — so the direction is decided SYNTACTICALLY, mirroring where DuckDB
    * TIMESTAMPTZ values can actually come from: an operand that is
    * itself an AT TIME ZONE result (already rewritten to
    * to_utc_timestamp by an earlier round of this loop or the failure
    * chain's recursion) or a TIMESTAMPTZ-returning builtin
    * (now/current_timestamp/get_current_timestamp) takes the
    * instant→wall direction (from_utc_timestamp); every other operand is
    * a naive wall clock and takes wall→instant (to_utc_timestamp).
    * Under a UTC session the from_utc_timestamp result renders and
    * epoch-extracts exactly like DuckDB's naive TIMESTAMP. Only ever
    * runs on parse failure (Spark has no AT TIME ZONE grammar), so no
    * native statement can be claimed. The operand is the lexer's
    * ([[DuckLexer.operandBefore]], typed literals included); the zone
    * must be a string literal. Left-adjacent arithmetic/concat declines
    * (one-operand extraction would misgroup) to the landing-pad hint.
    */
  private def atTimeZoneRewrite(text: String): Option[String] = {
    val atRe = "(?is)\\bAT\\s+TIME\\s+ZONE\\b".r
    val instantHeadRe =
      "(?is)\\A(?:to_utc_timestamp|now|current_timestamp|get_current_timestamp)\\s*(?:\\(.*)?\\z".r
    var cur = text
    var changed = false
    var rounds = 0
    while (rounds < 16) {
      rounds += 1
      val view = DuckLexer(cur)
      val mt = atRe.findFirstMatchIn(view.masked).getOrElse(
        return if (changed) Some(cur) else None)
      val (zs, ze) = view.operandAfter(mt.end).getOrElse(return None)
      if (view.stringAt(zs).forall(_.end != ze)) return None
      val (ls, le) = view.operandBefore(mt.start).getOrElse(return None)
      // left-adjacent operator binds first in DuckDB — decline rather
      // than misgroup (same policy as the ~ rewrite).
      if (view.bindsTighter(ls, le, "|+-*/%^&~!", "")) return None
      val lText = cur.substring(ls, le)
      // strip redundant outer parens to classify the operand's source
      var core = lText
      while (core.startsWith("(") && core.endsWith(")") &&
          DuckLexer(core).closeOf(0) == core.length)
        core = core.substring(1, core.length - 1).trim
      val fn =
        if (instantHeadRe.findFirstIn(core).isDefined) "from_utc_timestamp"
        else "to_utc_timestamp"
      cur = cur.substring(0, ls) + fn + "(" + lText + ", " + cur.substring(zs, ze) + ")" +
        cur.substring(ze)
      changed = true
    }
    None
  }

  /** DuckDB's bare quoted-path table reference — `FROM 'data.parquet'`,
    * `JOIN 'x.csv' c ON ...` — spliced onto the engine's reader TVFs by
    * extension (read_parquet / read_csv_auto / read_json_auto; globs
    * ride through to the distributed reader). A quoted path only ever
    * sits directly after FROM/JOIN in statements Spark cannot parse, so
    * a native statement is never claimed; COPY/EXPORT statements keep
    * their own lanes (their FROM 'path' is a sink/source argument, not
    * a table ref). Unknown extensions decline — DuckDB sniffs content,
    * this engine names the reader loudly instead.
    */
  private def bareFilePathRewrite(text: String): Option[String] = {
    text match {
      case copyStmtRe() => return None
      case _ if "(?is)\\A\\s*(?:EXPORT|IMPORT)\\s+DATABASE\\b".r
        .findFirstIn(text).isDefined => return None
      case _ =>
    }
    val masked = DuckLexer(text).masked
    val kw = "(?i)\\b(FROM|JOIN)\\b".r
    val hits = kw.findAllMatchIn(masked).flatMap { m =>
      var j = m.end
      while (j < text.length && text.charAt(j).isWhitespace) j += 1
      if (j < text.length && text.charAt(j) == '\'') Some((m.end, j))
      else None
    }.toList
    if (hits.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    for ((kwEnd, q) <- hits) {
      val lit = DuckLexer(text).stringAt(q).filter(_.closed).getOrElse(return None)
      val path = lit.value
      val base = path.toLowerCase.stripSuffix(".gz").stripSuffix(".zst")
      val reader =
        if (base.endsWith(".parquet") || base.endsWith(".parq")) "read_parquet"
        else if (base.endsWith(".csv") || base.endsWith(".tsv")) "read_csv_auto"
        else if (base.endsWith(".json") || base.endsWith(".jsonl") ||
          base.endsWith(".ndjson")) "read_json_auto"
        else return None
      val relit = path.replace("'", "''") // raw backslashes: DuckLiterals scope
      sb.append(text.substring(pos, kwEnd))
        .append(s" $reader('$relit')")
      pos = lit.end
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  /** DuckDB's `struct_pack(a := 1, b := x)` → Spark's
    * `named_struct('a', 1, 'b', x)` — same construct, different
    * spelling; `:=` never parses in Spark so only genuine statements
    * arrive. Innermost-first so nested packs resolve; any argument not
    * of the `name := expr` shape declines the whole call.
    */
  private val structPackRe = "(?i)\\bstruct_pack\\s*\\(".r
  private def structPackRewrite(text: String): Option[String] = {
    if (structPackRe.findFirstIn(
      DuckLexer(text).masked).isEmpty) return None
    var cur = text
    var changed = false
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = DuckLexer(cur).masked
      val hit = structPackRe.findAllMatchIn(masked).flatMap { m =>
        val open = masked.indexOf('(', m.start)
        val close = DuckLexer(cur).closeOf(open)
        if (close < 0) None
        else {
          val inner = cur.substring(open + 1, close - 1)
          if (structPackRe.findFirstIn(
            DuckLexer(inner).masked).isDefined) None
          else Some((m.start, close, inner))
        }
      }.toSeq.headOption
      hit match {
        case None =>
          return if (changed) Some(cur) else None
        case Some((s, close, inner)) =>
          val namedRe = """(?s)\A([A-Za-z_]\w*)\s*:=\s*(.+)\z""".r
          val body = DuckLexer(inner).split(',').map(_.trim).map { p =>
            val m = namedRe.findFirstMatchIn(p).getOrElse(return None)
            s"'${m.group(1)}', ${m.group(2).trim}"
          }.mkString(", ")
          cur = cur.substring(0, s) + s"named_struct($body)" +
            cur.substring(close)
          changed = true
      }
    }
    if (changed) Some(cur) else None
  }

  /** DuckDB's `struct_insert(s, b := 2, ...)` — the `:=` named fields
    * lower to quoted name/value pairs for the registered struct_insert
    * function (round 17). First argument rides verbatim; any named
    * argument not of the `name := expr` shape declines the call.
    */
  private val structInsertRe = "(?i)\\bstruct_insert\\s*\\(".r
  private def structInsertRewrite(text: String): Option[String] = {
    if (structInsertRe.findFirstIn(
      DuckLexer(text).masked).isEmpty) return None
    var cur = text
    var changed = false
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = DuckLexer(cur).masked
      val hit = structInsertRe.findAllMatchIn(masked).flatMap { m =>
        val open = masked.indexOf('(', m.start)
        val close = DuckLexer(cur).closeOf(open)
        if (close < 0) None
        else {
          val inner = cur.substring(open + 1, close - 1)
          if (structInsertRe.findFirstIn(
              DuckLexer(inner).masked).isDefined ||
            !inner.contains(":=")) None
          else Some((m.start, close, inner))
        }
      }.toSeq.headOption
      hit match {
        case None =>
          return if (changed) Some(cur) else None
        case Some((s, close, inner)) =>
          val parts = DuckLexer(inner).split(',').map(_.trim)
          if (parts.size < 2) return None
          val namedRe = """(?s)\A([A-Za-z_]\w*)\s*:=\s*(.+)\z""".r
          val pairs = parts.tail.map { p =>
            val m = namedRe.findFirstMatchIn(p).getOrElse(return None)
            s"'${m.group(1)}', ${m.group(2).trim}"
          }.mkString(", ")
          cur = cur.substring(0, s) +
            s"struct_insert(${parts.head}, $pairs)" + cur.substring(close)
          changed = true
      }
    }
    if (changed) Some(cur) else None
  }

  /** `expr [NOT] SIMILAR TO '<regex>'` → `expr [NOT] RLIKE
    * '\A(?:<regex>)\z'` — DuckDB's SIMILAR TO is regexp_full_match
    * (its own docs), and the full-match anchors carry that onto
    * Spark's find-semantics RLIKE. The pattern literal is spliced
    * verbatim (same literal context, same escape processing), so the
    * rewrite is sound exactly on the RE2∩java.util.regex dialect the
    * engine already assumes elsewhere (text_redact_pii); the two
    * RE2-only spellings java.regex lacks decline LOUDLY. Non-literal
    * patterns (columns, concat) decline to the hint.
    */
  private def similarToRewrite(text: String): Option[String] = {
    val view = DuckLexer(text)
    val masked = view.masked
    val op = "(?i)\\b(NOT\\s+)?SIMILAR\\s+TO\\b".r
    val ms = op.findAllMatchIn(masked).toList
    if (ms.isEmpty) return None
    val out = new StringBuilder
    var pos = 0
    ms.foreach { m =>
      out.append(text.substring(pos, m.start))
      // The pattern literal must follow across whitespace only.
      var j = m.end
      while (j < text.length && text.charAt(j).isWhitespace) j += 1
      // A closed '...' literal at `at`, its body appended to the pattern.
      val lit = new StringBuilder
      def literal(at: Int): Int = {
        if (at >= text.length || text.charAt(at) != '\'') return -1
        view.stringAt(at).filter(_.closed).fold(-1) { l => lit.append(l.body); l.end }
      }
      var k = literal(j)
      if (k < 0) return None
      // Constant-fold a `'a' || 'b' || ...` literal concat chain into
      // the pattern (round 18 — `||` binds tighter than SIMILAR TO in
      // DuckDB, so the real pattern is the concat result). Any
      // non-literal operand in the chain declines to the hint: the
      // folded anchors would land mid-pattern on the wrong regex.
      var t = k
      while (t < text.length && text.charAt(t).isWhitespace) t += 1
      while (t + 1 < text.length && text.charAt(t) == '|' &&
          text.charAt(t + 1) == '|') {
        t += 2
        while (t < text.length && text.charAt(t).isWhitespace) t += 1
        k = literal(t)
        if (k < 0) return None
        t = k
        while (t < text.length && text.charAt(t).isWhitespace) t += 1
      }
      // ESCAPE parity: the host itself rejects it ("Not implemented
      // Error: Custom escape in SIMILAR TO"), so the matching behavior
      // is the same LOUD error, not a hint or a silently-wrong anchor.
      if (text.regionMatches(true, t, "ESCAPE", 0, 6))
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            ("Not implemented: custom ESCAPE in SIMILAR TO (the " +
              "reference engine rejects it too). Escape regex " +
              "metacharacters with a backslash in the pattern " +
              "instead.")))
      val pat = lit.toString
      Seq("[[:" -> "POSIX class [[:...:]]", "(?P<" -> "named group (?P<...>)")
        .foreach { case (needle, what) =>
          if (pat.contains(needle))
            throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION",
              Map("errorMessage" ->
                (s"SIMILAR TO pattern uses $what, an RE2-only spelling " +
                  "this engine's regex dialect (java.util.regex) lacks — " +
                  "rewrite it with the shared spelling " +
                  "(\\p{Alpha} classes / (?<name>...) groups).")))
        }
      val not = m.group(1) != null
      // The pattern slice already carries THIS level's backslash
      // doubling (DuckLiterals entry transform), so it embeds as-is;
      // only the added \A/\z anchors need their own doubling to
      // survive the one unescape at re-parse.
      out.append(if (not) "NOT RLIKE" else "RLIKE")
        .append(" '\\\\A(?:").append(pat).append(")\\\\z'")
      pos = k
    }
    out.append(text.substring(pos))
    Some(out.toString)
  }
  /** `BIT '<bits>'` typed literal → `graft_bit('<bits>')` (round 18).
    * Spark rejects the BIT typed literal at parse
    * (UNSUPPORTED_TYPED_LITERAL), so this only ever runs in the
    * failure chain — a native statement can't be claimed. The engine
    * models BIT as its VARCHAR form; graft_bit validates 0/1 chars.
    */
  private val bitLiteralRe = "(?i)\\bBIT\\s+'([01]+)'".r
  private def bitLiteralRewrite(text: String): Option[String] = {
    val view = DuckLexer(text)
    val ms = bitLiteralRe.findAllMatchIn(text).filter(m => view.isCode(m.start)).toList
    if (ms.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    ms.foreach { m =>
      sb.append(text.substring(pos, m.start))
        .append(s"graft_bit('${m.group(1)}')")
      pos = m.end
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  /** DuckDB's length-less string-type spellings in CAST position
    * (round 18): `CAST(x AS VARCHAR|TEXT|BPCHAR)` and `x::VARCHAR`
    * fail Spark's parser (DATATYPE_MISSING_SIZE / UNSUPPORTED_
    * DATATYPE), so this only ever runs in the failure chain. BLOB maps
    * to BINARY. `AS <type>` is claimed ONLY inside a CAST/TRY_CAST
    * extent — a select-list alias that merely happens to be named
    * `text` is never touched; `::<type>` is unambiguous (always a
    * cast). Parenthesized VARCHAR(n) passes through to Spark's own.
    */
  private val castTypeWordRe =
    ("(?i)\\bAS\\s+(VARCHAR|TEXT|BPCHAR|BLOB|UTINYINT|USMALLINT|" +
      "UINTEGER|UBIGINT|UHUGEINT|HUGEINT|TIMESTAMPTZ)\\b(?!\\s*\\()").r
  private val colonTypeWordRe =
    ("(?i)::\\s*(VARCHAR|TEXT|BPCHAR|BLOB|UTINYINT|USMALLINT|" +
      "UINTEGER|UBIGINT|UHUGEINT|HUGEINT|TIMESTAMPTZ)\\b(?!\\s*\\()").r
  private def typeSpellRewrite(text: String): Option[String] = {
    val masked = DuckLexer(text).masked
    // Unsigned widths land on the next-wider signed Spark type (the
    // value range fits; typeof() reports the signed name — documented);
    // HUGEINT on DECIMAL(38,0), the same exact-integer envelope the
    // factorial lane uses.
    def target(w: String) = w.toUpperCase match {
      case "BLOB" => "BINARY"
      case "UTINYINT" => "SMALLINT"
      case "USMALLINT" => "INT"
      case "UINTEGER" => "BIGINT"
      case "UBIGINT" => "DECIMAL(20,0)"
      case "UHUGEINT" | "HUGEINT" => "DECIMAL(38,0)"
      // Under the UTC session pin Spark's TIMESTAMP (LTZ) carries
      // DuckDB's TIMESTAMPTZ values exactly.
      case "TIMESTAMPTZ" => "TIMESTAMP"
      case _ => "STRING"
    }
    val castExtents = "(?i)\\b(?:TRY_)?CAST\\s*\\(".r
      .findAllMatchIn(masked).flatMap { m =>
        val open = masked.indexOf('(', m.start)
        val close = DuckLexer(text).closeOf(open)
        if (close < 0) None else Some((open, close))
      }.toList
    val repls = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    // DuckDB's bracket array types in cast position — `INT[]` (list) and
    // the fixed-size `INT[3]` (ARRAY) — both land on Spark's ARRAY<T>
    // (the size is a host-storage property with no Spark equivalent;
    // values round-trip, typeof reports the unsized name — documented).
    // Matched before the bare-word pass so `::HUGEINT[3]` rewrites once.
    val knownWords = Set("VARCHAR", "TEXT", "BPCHAR", "BLOB", "UTINYINT",
      "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "HUGEINT",
      "TIMESTAMPTZ")
    val arrayTypeRe =
      "(?i)(::\\s*|\\bAS\\s+)([A-Za-z_]+)\\s*\\[\\s*(\\d*)\\s*\\]".r
    arrayTypeRe.findAllMatchIn(masked).foreach { m =>
      val isColon = m.group(1).trim.startsWith("::")
      val inCast = castExtents.exists(e => m.start > e._1 && m.end < e._2)
      if (isColon || inCast) {
        val w = m.group(2).toUpperCase
        val inner = if (knownWords(w)) target(w) else m.group(2)
        val head = if (isColon) "::" else "AS "
        repls += ((m.start, m.end, s"${head}ARRAY<$inner>"))
      }
    }
    def overlapsArray(m: scala.util.matching.Regex.Match): Boolean =
      repls.exists(r => m.start < r._2 && m.end > r._1)
    colonTypeWordRe.findAllMatchIn(masked).foreach(m =>
      if (!overlapsArray(m))
        repls += ((m.start, m.end, "::" + target(m.group(1)))))
    castTypeWordRe.findAllMatchIn(masked).foreach { m =>
      if (!overlapsArray(m) &&
          castExtents.exists(e => m.start > e._1 && m.end < e._2))
        repls += ((m.start, m.end, "AS " + target(m.group(1))))
    }
    if (repls.isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    repls.toList.sortBy(_._1).foreach { case (a, b, r) =>
      sb.append(text.substring(pos, a)).append(r); pos = b
    }
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  private val powOpRe = "(?s).*\\*\\*.*".r
  // The hints raised both by a pre-delegation claim and by the chain.
  private val powerOpHint =
    "DuckDB's ** power operator runs automatically as power(l, r) " +
      "(left-associative, DOUBLE result, unary minus binding tighter on " +
      "the base: -2 ** 2 = 4), but this statement's operand shape " +
      "declined — quoted identifiers and exponent-notation bases have no " +
      "mechanical extraction here. Use power(a, b) / pow(a, b) directly " +
      "— and beware ^ is XOR in Spark, not power."
  private val distinctOnHint =
    "DuckDB/Postgres SELECT DISTINCT ON (exprs): the common forms run " +
      "automatically via a row_number() window rewrite — plain blocks " +
      "(optional WITH prefix, trailing ORDER BY as the per-group " +
      "tiebreak), GROUP BY/HAVING/QUALIFY blocks (hidden-column splice), " +
      "and every shaped block of a set-operation chain — but this one " +
      "wasn't that shape (star select lists over aggregate blocks, " +
      "parenthesized set-op branches, and ? parameters decline). Write " +
      "the window form directly: SELECT ... FROM (SELECT *, row_number() " +
      "OVER (PARTITION BY exprs ORDER BY tiebreak) rn FROM t) WHERE rn = 1."
  private val columnsHint =
    "COLUMNS(...) could not be expanded: the common forms " +
      "(SELECT COLUMNS('regex') FROM t, COLUMNS(*), COLUMNS(* " +
      "EXCLUDE (a, b)), the name-filter lambda COLUMNS(c -> " +
      "c LIKE '...'), a mixed select list SELECT a, " +
      "COLUMNS('re') FROM t, and the set in any expression " +
      "position of one select item — min(COLUMNS(*)), " +
      "round(COLUMNS('^x'), 1), min(COLUMNS(*)) + 1, lockstep " +
      "repeats like max(COLUMNS(s)) - min(COLUMNS(s)) — " +
      "single resolvable table, ≥1 matching column, every " +
      "excluded name present) run automatically — including " +
      "COLUMNS in WHERE (the per-column AND expansion) — but " +
      "this one doesn't: e.g. two DIFFERENT sets in one " +
      "expression (a DuckDB binder error too) or a join " +
      "source. Enumerate the columns explicitly " +
      "(df.select(df.columns.map(c => expr(...)): _*)), or use " +
      "* EXCLUDE (...) / * REPLACE (...), which do run here."
  private val asofHint =
    "ASOF JOIN could not be rewritten: the common forms " +
      "(FROM l ASOF [LEFT] JOIN r ON l.k = r.k AND l.ts >= " +
      "r.ts — any of >=, >, <=, < in either conjunct order — " +
      "or USING (k, ts), explicit select list or left-side " +
      "star, single-part view names, including inside a " +
      "parenthesized subquery or CTE body) run automatically, " +
      "but this shape doesn't — and left unrewritten Spark would " +
      "misparse ASOF as a table alias. Use the asof_join() " +
      "table function directly: asof_join('left_view', " +
      "'right_view', 'on_col', 'left_order', 'right_order', " +
      "'payload_csv'[, strict[, inner[, forward]]]). " +
      "See README 'As-of joins'."
  private val recursiveHint =
    "Spark 4.1 hosts standard UNION ALL recursive CTEs " +
      "natively, single-CTE UNION-distinct recursion " +
      "(`WITH RECURSIVE r AS (seed UNION step) SELECT ...`) " +
      "is rewritten to run automatically (fixpoint), and so " +
      "is the common linear `WITH RECURSIVE r USING " +
      "KEY (...)` form " +
      "(fixpoint_keyed) — this statement matched none: check " +
      "for multiple CTEs in one WITH, a recursive reference in " +
      "the seed branch, or UNION ALL mixed after the recursive " +
      "UNION. For " +
      "general fixpoints use the table functions directly: " +
      "SELECT ... FROM fixpoint('seed_view', " +
      "'SELECT ... FROM __frontier ...'[, max_rounds[, buckets]]) " +
      "for UNION-distinct recursion, or fixpoint_keyed(seed, " +
      "step_sql, 'key_csv') for one-row-per-key upsert " +
      "semantics — the step SQL sees each round's new/changed " +
      "rows as the view __frontier and the accumulated state " +
      "as __recurring (USING KEY statements with " +
      "recurring.<name> rewrite onto it automatically). See " +
      "README 'Recursive queries'."
  private val groupsFrameRe =
    "(?is).*\\bGROUPS\\s+(?:BETWEEN|UNBOUNDED|CURRENT|\\d).*".r
  private val tildeRe = "(?s).*~.*".r
  private val atTimeZoneRe = "(?is).*\\bAT\\s+TIME\\s+ZONE\\b.*".r
  private val attachRe = "(?is)\\A\\s*(?:ATTACH|DETACH)\\b.*".r
  // ATTACH [DATABASE] [IF NOT EXISTS] '<path>' [AS name] [(READ_ONLY)]
  private val attachStmtRe =
    ("""(?is)\A\s*ATTACH\s+(?:DATABASE\s+)?(IF\s+NOT\s+EXISTS\s+)?""" +
      """'([^']+)'\s*(?:AS\s+([A-Za-z_]\w*)\s*)?""" +
      """(\(\s*READ_ONLY\s*\)\s*)?;?\s*\z""").r
  private val detachStmtRe =
    """(?is)\A\s*DETACH\s+(?:DATABASE\s+)?(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r
  private val seqHintRe =
    "(?is)\\A\\s*(?:CREATE|DROP)\\s+SEQUENCE\\b.*".r
  private val setVariableRe =
    """(?is)\A\s*SET\s+VARIABLE\s+([A-Za-z_]\w*)\s*=\s*(.+?)\s*;?\s*\z""".r
  private val resetVariableRe =
    """(?is)\A\s*RESET\s+VARIABLE\s+([A-Za-z_]\w*)\s*;?\s*\z""".r
  private val analyzeTblRe =
    "(?is)\\A\\s*ANALYZE\\s+([A-Za-z_]\\w*)\\s*;?\\s*\\z".r
  // CREATE/DROP INDEX PARSE in Spark 4 (the DSv2 index SQL added in
  // 3.4) and then fail analysis on every v1 table/view — so they are
  // intercepted PRE-delegation (indexRewrite, from preRewrite); the
  // rest genuinely fail to parse and ride the hint chain
  // (maintenanceRewrite).
  private def indexRewrite(sql: String): Option[DuckCommand] = sql match {
    case createIndexRe() =>
      Some(MaintenanceNoopCommand("CREATE INDEX", "Spark has no secondary " +
        "indexes; scans prune via partitioning, bucketing, and parquet zone maps"))
    case dropIndexRe() =>
      Some(MaintenanceNoopCommand("DROP INDEX", "Spark has no secondary indexes"))
    case _ => None
  }
  private val truncateRe =
    "(?is)\\A\\s*TRUNCATE\\s+(?!TABLE\\b)([A-Za-z_]\\w*)\\s*;?\\s*\\z".r
  private val describeQueryRe =
    "(?is)\\A\\s*(?:DESCRIBE|DESC)\\s+((?:SELECT|WITH|VALUES)\\b.*)\\z".r
  private val showAllTablesRe =
    "(?is)\\A\\s*SHOW\\s+ALL\\s+TABLES\\s*;?\\s*\\z".r
  // Transaction control. None of these parse in Spark (no transaction
  // grammar; SQL-scripting BEGIN needs a body), so they only ever
  // arrive on parse failure. ABORT is DuckDB's ROLLBACK synonym; the
  // optional TRANSACTION keyword matches DuckDB's grammar.
  private val beginTxnRe =
    "(?is)\\A\\s*BEGIN(?:\\s+TRANSACTION)?\\s*;?\\s*\\z".r
  private val commitTxnRe =
    "(?is)\\A\\s*COMMIT(?:\\s+TRANSACTION)?\\s*;?\\s*\\z".r
  private val rollbackTxnRe =
    "(?is)\\A\\s*(?:ROLLBACK|ABORT)(?:\\s+TRANSACTION)?\\s*;?\\s*\\z".r
  // PRAGMA statements (none parse in Spark). The informational ones
  // execute with DuckDB's exact output shape; assignment/tuning pragmas
  // (PRAGMA threads=4, memory_limit='1GB', ...) are engine-tuning
  // directives with no Spark counterpart — warn-once no-op pointing at
  // SET spark.* configuration. CHECKPOINT flushes a WAL this engine
  // doesn't have (immutable parquet snapshots) — no-op likewise.
  private val pragmaTableInfoRe =
    "(?is)\\A\\s*PRAGMA\\s+table_info\\s*\\(\\s*'?([A-Za-z_][\\w.]*)'?\\s*\\)\\s*;?\\s*\\z".r
  private val pragmaShowTablesRe =
    "(?is)\\A\\s*PRAGMA\\s+show_tables\\s*;?\\s*\\z".r
  private val pragmaDatabaseListRe =
    "(?is)\\A\\s*PRAGMA\\s+(?:database_list|database_size|version|show_databases)\\s*;?\\s*\\z".r
  private val pragmaOtherRe =
    "(?is)\\A\\s*PRAGMA\\s+([A-Za-z_]\\w*)\\s*(?:=\\s*[^;]+|\\([^)]*\\))?\\s*;?\\s*\\z".r
  private val checkpointRe =
    "(?is)\\A\\s*(?:FORCE\\s+)?CHECKPOINT(?:\\s+[A-Za-z_]\\w*)?\\s*;?\\s*\\z".r
  // CREATE/DROP SEQUENCE (no sequence grammar in Spark — parse-failure
  // only). The full option surface executes since round 16: START/
  // INCREMENT plus MINVALUE/MAXVALUE bounds and [NO] CYCLE wraparound
  // (semantics + error texts DuckDB-1.0-pinned in Sequences/
  // SequenceSpec); NO MINVALUE/NO MAXVALUE are the explicit-default
  // spellings. Anything else still declines loudly.
  private val createSeqRe =
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?SEQUENCE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_]\\w*)\\s*(.*?)\\s*;?\\s*\\z").r
  private val dropSeqRe =
    "(?is)\\A\\s*DROP\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?([A-Za-z_]\\w*)\\s*;?\\s*\\z".r
  private val seqStartRe = "(?i)START(?:\\s+WITH)?\\s+(-?\\d+)".r
  private val seqIncRe = "(?i)INCREMENT(?:\\s+BY)?\\s+(-?\\d+)".r
  private val seqMinRe = "(?i)(?<!NO\\s)MINVALUE\\s+(-?\\d+)".r
  private val seqMaxRe = "(?i)(?<!NO\\s)MAXVALUE\\s+(-?\\d+)".r
  private val seqNoMinRe = "(?i)NO\\s+MINVALUE".r
  private val seqNoMaxRe = "(?i)NO\\s+MAXVALUE".r
  private val seqCycleRe = "(?i)(?<!NO\\s)CYCLE".r
  private val seqNoCycleRe = "(?i)NO\\s+CYCLE".r
  private def sequenceRewrite(sql: String): Option[DuckCommand] = sql match {
    case createSeqRe(replace, ifNot, name, opts) =>
      val start = seqStartRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      val inc = seqIncRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      val minV = seqMinRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      val maxV = seqMaxRe.findFirstMatchIn(opts).map(_.group(1).toLong)
      val cycle = seqNoCycleRe.findFirstIn(opts).isEmpty &&
        seqCycleRe.findFirstIn(opts).isDefined
      val leftover = Seq(seqIncRe, seqStartRe, seqMinRe, seqMaxRe,
        seqNoMinRe, seqNoMaxRe, seqNoCycleRe, seqCycleRe)
        .foldLeft(opts)((s, re) => re.replaceAllIn(s, "")).trim
      if (leftover.nonEmpty)
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            (s"CREATE SEQUENCE: unsupported option(s) '$leftover' — " +
              "START [WITH] n, INCREMENT [BY] n, MINVALUE/MAXVALUE n, " +
              "NO MINVALUE/MAXVALUE, and [NO] CYCLE run here.")))
      Some(CreateSequenceCommand(name, start, inc.getOrElse(1L), minV, maxV,
        cycle, replace != null, ifNot != null))
    case dropSeqRe(ifExists, name) =>
      Some(DropSequenceCommand(name, ifExists != null))
    case _ => None
  }
  // COMMENT ON (temp tables keep comments in their record; the
  // TABLE form parses natively and is claimed in preRewrite, the COLUMN
  // form never parses and rides the chain).
  private val commentTableRe =
    ("(?is)\\A\\s*COMMENT\\s+ON\\s+TABLE\\s+([A-Za-z_]\\w*)\\s+IS\\s+" +
      "(NULL|'(?:[^']|'')*')\\s*;?\\s*\\z").r
  private val commentColumnRe =
    ("(?is)\\A\\s*COMMENT\\s+ON\\s+COLUMN\\s+([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)" +
      "\\s+IS\\s+(NULL|'(?:[^']|'')*')\\s*;?\\s*\\z").r
  private def commentColumnRewrite(sql: String): Option[DuckCommand] = sql match {
    case commentColumnRe(tbl, colName, lit) =>
      Some(CommentOnCommand(tbl, Some(colName), commentText(lit)))
    case _ => None
  }
  /** A COMMENT ON literal's value: None for NULL. */
  private def commentText(lit: String): Option[String] =
    if (lit.equalsIgnoreCase("NULL")) None
    else Some(DuckLiterals.literalValue(lit.substring(1, lit.length - 1)))
  /** Left(command) or Right(statement text to parse). */
  private def maintenanceRewrite(sql: String): Option[Either[LogicalPlan, String]] = sql match {
    case beginTxnRe() => Some(Left(TransactionCommand(TransactionOp.Begin)))
    case commitTxnRe() => Some(Left(TransactionCommand(TransactionOp.Commit)))
    case rollbackTxnRe() => Some(Left(TransactionCommand(TransactionOp.Rollback)))
    case pragmaTableInfoRe(tbl) => Some(Right(s"SELECT * FROM pragma_table_info('$tbl')"))
    case pragmaShowTablesRe() => Some(Right("SELECT * FROM duck_show_tables()"))
    case checkpointRe() =>
      Some(Left(MaintenanceNoopCommand("CHECKPOINT",
        "storage is immutable parquet snapshots here; there is no WAL to flush")))
    case pragmaDatabaseListRe() =>
      Some(Left(MaintenanceNoopCommand("PRAGMA (informational)",
        "database introspection beyond show_tables/table_info has no " +
          "Spark counterpart; see SHOW TABLES / spark.catalog")))
    case pragmaOtherRe(name) =>
      Some(Left(MaintenanceNoopCommand(s"PRAGMA $name",
        "engine tuning runs through Spark configuration: SET spark.sql.*")))
    case truncateRe(tbl) => Some(Right(s"TRUNCATE TABLE $tbl"))
    case describeQueryRe(q) => Some(Right(s"DESCRIBE QUERY $q"))
    case showAllTablesRe() => Some(Right("SHOW TABLES"))
    case analyzeTblRe(tbl) =>
      Some(Right(s"ANALYZE TABLE $tbl COMPUTE STATISTICS"))
    case analyzeBareRe() =>
      Some(Left(MaintenanceNoopCommand("ANALYZE",
        "statistics refresh runs per table here: ANALYZE TABLE <t> COMPUTE STATISTICS")))
    case vacuumRe() =>
      Some(Left(MaintenanceNoopCommand("VACUUM",
        "storage is immutable parquet here; nothing to vacuum")))
    case _ => None
  }
  private val distinctOnRe =
    "(?is).*\\bSELECT\\s+DISTINCT\\s+ON\\s*\\(.*".r
  private val timestampTzRe = "(?i)\\bTIMESTAMPTZ\\s+'([^']*)'".r

  private def withHint(sqlText: String, reparse: String => LogicalPlan)(
      body: => LogicalPlan): LogicalPlan =
    try body catch {
      case pe: ParseException =>
        // Tier 1: mechanical rewrites that make the statement RUN.
        // DuckDB features COMPOSE (`SELECT * EXCLUDE (...) FROM t
        // QUALIFY ...` is an idiom), so a single rewrite's output can
        // still carry another foreign construct: apply the first
        // applicable rewrite, and if the result STILL fails to parse,
        // recurse on the rewritten text (depth-capped — each rewrite
        // consumes its construct, so progress is structural, the cap is
        // a belt). NonFatal only: an OOM or interrupt during the
        // re-parse must propagate, not masquerade as "the rewrite
        // didn't apply".
        def reparseOrChain(text: String, depth: Int): Option[LogicalPlan] =
          try Some(reparse(text)) catch {
            case scala.util.control.NonFatal(_) =>
              // Cap 8 (round 18, was 4): each rewrite consumes its
              // construct so progress is structural; a real pasted
              // statement can stack arrows + ordered-agg + FILTER
              // shorthand + brackets + one more and genuinely needs
              // five layers (q156).
              if (depth >= 8) None else chain(text, depth)
          }
        def chain(text: String, depth: Int): Option[LogicalPlan] = {
          // Every applicable rewrite is a candidate (one may decline a
          // shape another unblocks); first candidate whose output
          // eventually parses wins. Guarded regex matches keep the
          // scanners off statements that can't contain their construct.
          // Candidates are LAZY thunks, forced one at a time by the view:
          // a strict Seq would run every rewrite during enumeration even
          // after an earlier one already won.
          // A rewrite's text is parsed again (and may chain on); a claim
          // that yields a command ([[DuckCommands]]) is the plan.
          def claimed(c: Either[LogicalPlan, String]): Option[LogicalPlan] =
            c.fold(Some(_), reparseOrChain(_, depth + 1))
          def sql(rewrite: => Option[String]): () => Option[LogicalPlan] =
            () => rewrite.flatMap(reparseOrChain(_, depth + 1))
          val candidates: Seq[() => Option[LogicalPlan]] = Seq(
            // Bare quoted-path table refs (FROM 'x.parquet') — early:
            // the spliced readers usually make the statement parse
            // outright, and any remaining construct recurses through
            // the chain.
            sql(bareFilePathRewrite(text)),
            sql(text match { case summarizeTableRe(tbl) =>
              Some(s"SELECT * FROM summarize('$tbl')"); case _ => None }),
            sql(text match { case summarizeQueryRe(q) =>
              Some(s"SELECT * FROM summarize('${q.replace("'", "''")}')")
              case _ => None }),
            sql(text match { case usingKeyRe() =>
              UsingKeyRewrite.rewrite(text); case _ => None }),
            sql(text match { case asofRe() =>
              AsofJoinRewrite.rewrite(text)
                .orElse(AsofJoinRewrite.rewriteNested(text)); case _ => None }),
            sql(text match { case excludeRe() =>
              ExcludeRewrite.rewrite(text); case _ => None }),
            sql(text match { case replaceStarRe() =>
              ReplaceRewrite.rewrite(text); case _ => None }),
            sql(text match { case ReplaceRewrite.starRenameRe() =>
              ReplaceRewrite.rewriteRename(text); case _ => None }),
            // DuckDB's `//` integer-division operator → Spark's `div`
            // (same truncation-toward-zero on integers — 7//2=3,
            // -7//2=-3, pinned). Only ever seen on parse failure, so a
            // native statement can't be claimed; quote/comment-aware.
            sql(intDivRewrite(text)),
            // DuckDB's `**` power operator → power(l, r) (left-assoc,
            // DOUBLE, unary-minus-on-base precedence pinned on 1.0).
            // Parse-failure only — `**` is never Spark syntax.
            sql(powerOpRewrite(text)),
            // Postgres-style match operators ~ / !~ / ~~ / !~~ →
            // regexp_full_match / [NOT] LIKE. Parse-failure only —
            // Spark's ~ is unary, so infix uses never parse.
            sql(tildeOpRewrite(text)),
            // AT TIME ZONE → to_utc_timestamp/from_utc_timestamp by the
            // operand's syntactic source (DuckDB's two type-directions).
            // Parse-failure only — Spark has no AT TIME ZONE grammar.
            sql(text match { case atTimeZoneRe() =>
              atTimeZoneRewrite(text); case _ => None }),
            // [NOT] SIMILAR TO '<re>' → [NOT] RLIKE with full-match
            // anchors (DuckDB's SIMILAR TO = regexp_full_match). Only
            // ever seen on parse failure; literal patterns and
            // constant-folded `'a' || 'b'` literal concat chains.
            sql(text match { case similarToRe() =>
              similarToRewrite(text); case _ => None }),
            // BIT '<bits>' typed literal → graft_bit (parse-failure
            // only: UNSUPPORTED_TYPED_LITERAL is a parse rejection).
            sql(bitLiteralRewrite(text)),
            // TIMESTAMPTZ '<ts>' typed literal → a TIMESTAMP cast
            // (UNSUPPORTED_TYPED_LITERAL; the UTC session pin makes
            // Spark's LTZ carry the same instant).
            sql({
              val view = DuckLexer(text)
              val ms = timestampTzRe.findAllMatchIn(text)
                .filter(m2 => view.isCode(m2.start)).toList
              if (ms.isEmpty) None
              else {
                val sb = new StringBuilder
                var pos = 0
                ms.foreach { m2 =>
                  sb.append(text.substring(pos, m2.start))
                    .append(s"CAST('${m2.group(1)}' AS TIMESTAMP)")
                  pos = m2.end
                }
                sb.append(text.substring(pos))
                Some(sb.toString)
              }
            }),
            // Length-less VARCHAR/TEXT/BPCHAR (→ STRING) and BLOB
            // (→ BINARY) in CAST / :: position (parse-failure only:
            // DATATYPE_MISSING_SIZE / UNSUPPORTED_DATATYPE).
            sql(typeSpellRewrite(text)),
            // Window-frame EXCLUDE clauses (parse-failure only: Spark's
            // frame grammar has no EXCLUDE) — frame-splitting /
            // peer-subtraction decomposition onto stock window aggs.
            sql(ExcludeFrameRewrite.rewrite(text)),
            sql(text match { case columnsRe() =>
              ColumnsRewrite.rewrite(text); case _ => None }),
            sql(text match { case fromFirstRe() =>
              FromFirstRewrite.rewrite(text); case _ => None }),
            // Fourteenth probe (round-20 close): FROM-first inside a
            // parenthesized subquery (EXISTS (FROM t WHERE ...)).
            sql(FromFirstRewrite.rewriteSubquery(text)),
            sql(text match { case pivotStmtRe() =>
              PivotRewrite.rewrite(text); case _ => None }),
            sql(text match { case unpivotStmtRe() =>
              UnpivotRewrite.rewrite(text); case _ => None }),
            sql(text match { case insertByNameRe() =>
              InsertByNameRewrite.rewrite(text); case _ => None }),
            sql(text match { case unionByNameRe() =>
              UnionByNameRewrite.rewrite(text); case _ => None }),
            sql(text match { case usingSampleRe() =>
              SampleRewrite.rewrite(text); case _ => None }),
            // Fourteenth probe: TABLESAMPLE bernoulli(10%) method form
            // and ANSI OFFSET ... FETCH FIRST/NEXT ... ROWS ONLY.
            sql(SampleRewrite.rewriteTablesampleMethod(text)),
            sql(ListOpRewrite.rewriteFetch(text)),
            sql(text match { case duckDateRe() =>
              duckDateRewrite(text); case _ => None }),
            // multi-unit interval strings → make_interval (parse-failure
            // only; Spark wants typed units).
            sql(intervalLiteralRewrite(text)),
            () => maintenanceRewrite(text).flatMap(claimed),
            () => sequenceRewrite(text),
            () => commentColumnRewrite(text),
            () => exportImportRewrite(text),
            // PREPARE/EXECUTE/DEALLOCATE (none parse in Spark; EXECUTE
            // IMMEDIATE is native and never reaches this chain). PREPARE
            // and DEALLOCATE are commands; the substituted EXECUTE output
            // runs back through preRewrite so a prepared
            // UPDATE/DELETE/COLUMNS statement — shapes that PARSE
            // natively but need the pre-delegation rewrites — executes
            // too.
            () => text match {
              case prepareStmtRe() =>
                PrepareRewrite.rewrite(text).flatMap(_.fold(Some(_),
                  t => claimed(preRewrite(t))))
              case _ => None },
            sql(text match { case distinctOnRe() =>
              DistinctOnRewrite.rewrite(text); case _ => None }),
            () => text match { case copyStmtRe() =>
              CopyToRewrite.rewrite(text); case _ => None },
            () => text match { case macroRe() =>
              MacroRewrite.rewrite(text, parser); case _ => None },
            // struct_pack(a := 1) → named_struct — before the macro
            // named-call lowering (struct_pack has no macro signature
            // and would decline there).
            sql(structPackRewrite(text)),
            sql(structInsertRewrite(text)),
            // Named-argument macro CALL sites (`f(x, b := 1)`): `:=` is
            // not Spark syntax, so the statement only ever arrives here;
            // lowered to positional against the registered signature.
            sql(MacroRewrite.namedCallRewrite(text)),
            // DuckDB's in-argument ordered aggregates — string_agg(x,
            // ',' ORDER BY y), list(x ORDER BY y DESC) — onto WITHIN
            // GROUP / the sort-struct lowering. Parse-failure only.
            sql(OrderedAggRewrite.rewrite(text)),
            sql(text match { case qualifyRe() =>
              QualifyRewrite.rewrite(text); case _ => None }),
            // Round-18 sixth-sweep operators (all parse-failure-only;
            // BEFORE the bracket rewrite so list-literal operands are
            // still intact — their brackets re-enter the chain after
            // the operator splice).
            sql(ListOpRewrite.rewriteOps(text)),
            sql(ListOpRewrite.rewriteQuantified(text)),
            sql(ListOpRewrite.rewriteIgnoreNulls(text)),
            sql(ListOpRewrite.rewriteLimitPercent(text)),
            // Thirteenth sweep: `expr GLOB 'pattern'` (parse-failure
            // only — Spark has no GLOB token) and function-chaining
            // `(expr).fn(args)` / `'lit'.fn()`.
            sql(ListOpRewrite.rewriteGlob(text)),
            sql(ListOpRewrite.rewriteDotCall(text)),
            // Seventh sweep: JSON arrow operators (-> / ->>, lambda-
            // guarded) and the FILTER-without-WHERE shorthand.
            sql(ListOpRewrite.rewriteJsonArrows(text)),
            sql(ListOpRewrite.rewriteFilterShorthand(text)),
            // Eighth sweep: postfix `!` factorial, prefix `@` absolute
            // value, the non-literal INTERVAL (expr) UNIT constructor,
            // and unnest({...}) struct expansion.
            sql(ListOpRewrite.rewriteFactorial(text)),
            sql(ListOpRewrite.rewriteAbsOp(text)),
            sql(ListOpRewrite.rewriteIntervalExpr(text)),
            // Thirteenth sweep: bare clock interval INTERVAL '1:02:03'.
            sql(ListOpRewrite.rewriteIntervalClock(text)),
            sql(ListOpRewrite.rewriteUnnestStruct(text)),
            // Registered-enum casts (x::mood, CAST(x AS mood),
            // enum_range folding — parse-failure only: the type word
            // is UNSUPPORTED_DATATYPE).
            sql(EnumTypes.castRewrite(text)),
            // ::JSON / CAST(x AS JSON) — validate-and-preserve for
            // strings, convert-to-JSON-text otherwise.
            sql(ListOpRewrite.rewriteJsonCast(text)),
            // Postgres-style `SET key TO value` → Spark's `SET key = value`.
            sql("(?is)\\A(\\s*SET\\s+\\w+)\\s+TO\\s+(.+)\\z".r
              .findFirstMatchIn(text)
              .map(m2 => m2.group(1) + " = " + m2.group(2))),
            // Bare `SHOW <table>` (DuckDB's DESCRIBE alias — Spark's
            // SHOW grammar rejects it, so parse-failure only).
            sql("(?is)\\A\\s*SHOW\\s+([A-Za-z_]\\w*)\\s*;?\\s*\\z".r
              .findFirstMatchIn(text)
              .filterNot(m2 => Set("TABLES", "DATABASES", "VIEWS",
                "FUNCTIONS", "SCHEMAS", "COLUMNS", "CATALOGS",
                "PARTITIONS", "ALL").contains(m2.group(1).toUpperCase))
              .map(m2 => s"SELECT * FROM duck_describe('${m2.group(1)}')")),
            // LAST deliberately: bracket/brace literal syntax only ever
            // appears in statements stock Spark cannot parse at all, and
            // running it after the structural rewrites lets e.g. a
            // QUALIFY+bracket statement fix QUALIFY first and recurse
            // here for the brackets.
            sql(if (DuckLiteralRewrite.isShaped(text))
              DuckLiteralRewrite.rewrite(text) else None)
          )
          candidates.view.flatMap(_()).headOption
        }
        val rewritten = chain(sqlText, 0)
        rewritten match {
          case Some(plan) => plan
          case None =>
            // Tier 2: the landing-pad hint, original error first. The
            // START-ANCHORED statement forms (UNPIVOT/PIVOT) come first:
            // their keyword IS the statement, while the later patterns
            // (COLUMNS, QUALIFY, ...) match anywhere and would otherwise
            // claim a PIVOT statement that merely CONTAINS their keyword.
            val hint = sqlText match {
              case pragmaStmtRe() =>
                Some("PRAGMA statements are DuckDB-engine-specific and " +
                  "have no effect here. The Spark equivalents are session " +
                  "confs set through the natively-parsing SET statement: " +
                  "PRAGMA threads → SET spark.sql.shuffle.partitions=N " +
                  "(parallelism is executor-sized, not thread-pragma'd); " +
                  "PRAGMA memory_limit → executor/driver memory config; " +
                  "PRAGMA enable_profiling → EXPLAIN (FORMATTED) or the " +
                  "Spark UI. For table/database listings use SHOW TABLES " +
                  "/ DESCRIBE <table>.")
              case copyStmtRe() =>
                Some("If you meant DuckDB's COPY: the export form " +
                  "(COPY (SELECT ...) TO 'path' [(FORMAT PARQUET|CSV" +
                  "[, HEADER [true|false]][, PARTITION_BY (cols)])], " +
                  "or COPY tablename TO 'path' with the format " +
                  "inferred from a .parquet/.csv extension) runs " +
                  "automatically — it writes a distributed datasource " +
                  "directory of part files (hive-style col=value/ " +
                  "subdirectories under PARTITION_BY) and returns " +
                  "DuckDB's one-row Count — but this statement wasn't " +
                  "that shape. The import form (COPY tbl FROM 'path' " +
                  "[(FORMAT CSV|PARQUET[, HEADER])]) also runs, " +
                  "appending into an existing catalog table. " +
                  "DELIMITER, COMPRESSION, QUOTE, ESCAPE, and NULL " +
                  "execute too (1:1 DataFrame reader/writer options); " +
                  "other formats and options decline: " +
                  "use the DataFrame writer/reader directly " +
                  "(df.write.parquet(path), spark.read.csv(path)).")
              case unpivotStmtRe() =>
                Some("If you meant DuckDB's UNPIVOT statement: the common " +
                  "forms (UNPIVOT t ON c1, c2 [INTO NAME k VALUE v] and " +
                  "UNPIVOT t ON COLUMNS(* [EXCLUDE (cols)])) run " +
                  "automatically (rewritten onto Spark's native UNPIVOT " +
                  "clause), but this one wasn't — multi-value INTO forms " +
                  "decline. Use the native clause directly: SELECT * " +
                  "FROM t UNPIVOT (v FOR k IN (c1, c2)).")
              case pivotStmtRe() =>
                Some("If you meant DuckDB's PIVOT statement: the common " +
                  "forms (PIVOT t ON col [IN (v1, v2)] USING agg(expr) " +
                  "[AS alias][, agg2(e) AS a2] [GROUP BY cols]) run " +
                  "automatically (dynamic pivot-column discovery via the " +
                  "pivot_auto table function; an IN list skips the " +
                  "discovery job), but this one wasn't — multi-ON pivots " +
                  "and un-aliased multi-aggregate lists decline. Use " +
                  "Spark's native PIVOT with an explicit IN " +
                  "list (SELECT ... FROM t PIVOT (agg(v) FOR c IN " +
                  "('a', 'b'))), or pivot_auto('t', 'c', 'agg_sql'[, " +
                  "'group_csv'[, 'in_values_csv']]) directly.")
              case usingSampleRe() =>
                Some("If you meant DuckDB's USING SAMPLE: the common " +
                  "forms (USING SAMPLE N% | N PERCENT | N ROWS | N, an " +
                  "optional (method[, seed]) group, and " +
                  "method(N%)) run automatically, rewritten onto Spark's " +
                  "native TABLESAMPLE — but this one wasn't that shape. " +
                  "Use TABLESAMPLE directly: SELECT * FROM t TABLESAMPLE " +
                  "(10 PERCENT) [REPEATABLE (42)] or (50 ROWS), or the " +
                  "Dataset API df.sample(fraction, seed).")
              case distinctOnRe() => Some(s"If you meant $distinctOnHint")
              case insertByNameRe() =>
                Some("If you meant DuckDB's INSERT INTO tbl BY NAME " +
                  "<query>: the common form runs automatically " +
                  "(rewritten onto Spark's column-list INSERT from the " +
                  "query's resolved output names), but this one wasn't " +
                  "that shape — unresolvable queries and duplicate " +
                  "output names decline. Write the column list " +
                  "explicitly: INSERT INTO tbl (c1, c2) SELECT ... .")
              case unionByNameRe() =>
                Some("If you meant DuckDB's UNION/INTERSECT/EXCEPT " +
                  "[ALL|DISTINCT] BY NAME: the common form (bare query " +
                  "branches, trailing ORDER BY/LIMIT allowed) runs " +
                  "automatically via the union_by_name / setop_by_name " +
                  "table functions, but this statement wasn't that " +
                  "shape — WITH-prefixed statements and positional ? " +
                  "parameters decline. Use union_by_name('left_sql', " +
                  "'right_sql'[, all]) / setop_by_name(l, r, " +
                  "'intersect[_all]|except[_all]') directly, or the " +
                  "Dataset API: df1.unionByName(df2, " +
                  "allowMissingColumns = true).")
              case recursiveRe() => Some(recursiveHint)
              case asofRe() => Some(asofHint)
              case summarizeRe() =>
                Some("If you meant DuckDB's SUMMARIZE: the table form " +
                  "`SUMMARIZE t` runs directly (rewritten to the " +
                  "summarize('t') table function); other forms don't — use " +
                  "summarize('view_name') over a registered view, " +
                  "Dataset.summary() / describe(), or DESCRIBE TABLE <t>.")
              case macroRe() =>
                Some("If you meant DuckDB's CREATE MACRO: the scalar " +
                  "form (CREATE [OR REPLACE] [TEMP] MACRO name(a, " +
                  "b := 1) AS <expression>, trailing defaults padded " +
                  "positionally, named call sites f(x, b := 2) lowered " +
                  "to positional), overload lists ((a) AS ..., (a, b) " +
                  "AS ... — arity-dispatched, trailing defaults " +
                  "allowed while the arity ranges stay disjoint), and " +
                  "table macros (name(a) AS TABLE <query>, callable as " +
                  "FROM name(args)) run automatically, but this one " +
                  "wasn't — check for defaults that reference other " +
                  "parameters, overloads whose arity ranges overlap " +
                  "(ambiguous dispatch, as DuckDB's binder rejects), " +
                  "named calls of " +
                  "an unregistered macro, or a body Spark's parser " +
                  "rejects. The typed manual form is a SQL UDF: CREATE " +
                  "TEMPORARY FUNCTION name(x DOUBLE, ...) RETURNS " +
                  "DOUBLE RETURN <expression>.")
              case replaceStarRe() =>
                Some("If you meant DuckDB's SELECT * REPLACE (...): the " +
                  "common single-table form (SELECT * REPLACE (expr AS " +
                  "col, ...) FROM t ...) is rewritten to run " +
                  "automatically, but this one wasn't (join, subquery " +
                  "source, or an unresolvable table) — expand the star " +
                  "by hand, swapping the replaced columns: SELECT c1, " +
                  "expr AS c2, ... FROM t.")
              case columnsRe() => Some(columnsHint)
              case fromFirstRe() =>
                Some("If you meant DuckDB's FROM-first syntax: the plain " +
                  "form (FROM t [WHERE ...] [ORDER BY ...] ...) runs " +
                  "automatically (rewritten to SELECT * FROM t ...) and " +
                  "`FROM t SELECT cols ...` parses natively, but this " +
                  "statement still failed — rewrite it SELECT-first " +
                  "(SELECT cols FROM t ...), which also unlocks the " +
                  "other dialect rewrites (QUALIFY, EXCLUDE, ...).")
              case qualifyRe() =>
                Some("If you meant DuckDB's QUALIFY: simple single-block " +
                  "forms are rewritten to run automatically, but this one " +
                  "wasn't (set operation, DISTINCT, or an unsupported " +
                  "shape); filter the window " +
                  "function in an enclosing query instead: SELECT * FROM (SELECT " +
                  "..., ROW_NUMBER() OVER (...) AS rn FROM t) WHERE rn <= k.")
              case insertOrRe() =>
                Some("INSERT OR REPLACE / OR IGNORE / ON CONFLICT [(cols)] " +
                  "DO NOTHING / DO UPDATE SET ... run automatically " +
                  "against graft TEMP tables AND catalog tables (declare " +
                  "the key: CREATE [TEMP] TABLE t (id INTEGER PRIMARY " +
                  "KEY, ...), or name it in ON CONFLICT (cols)) — but " +
                  "this statement still failed: check that the target " +
                  "exists, is not a view, and has a declared or stated " +
                  "conflict target. Manual idiom: de-duplicate the " +
                  "increment against the target first — INSERT INTO t " +
                  "SELECT * FROM inc LEFT ANTI JOIN t USING (key_cols) " +
                  "(OR IGNORE), or stage the merged state and INSERT " +
                  "OVERWRITE (OR REPLACE).")
              case similarToRe() =>
                Some("If you meant DuckDB's [NOT] SIMILAR TO: the " +
                  "literal-pattern form (expr SIMILAR TO '<regex>', " +
                  "including constant '<a>' || '<b>' literal concat " +
                  "chains) runs automatically as a fully-anchored " +
                  "RLIKE, but this statement wasn't that shape — " +
                  "genuinely dynamic patterns (columns, function " +
                  "calls) decline, and ESCAPE raises the engine's " +
                  "not-implemented error (the reference rejects it " +
                  "too). Write expr RLIKE '^(?:pattern)$' directly, " +
                  "or regexp_full_match(expr, 'pattern').")
              // GROUPS frame mode: the reference host itself rejects it
              // ("GROUPS mode for window functions is not implemented
              // yet"), so no-parse parity IS parity — but land on a
              // matching message + the emulation recipe instead of a
              // raw syntax error.
              case groupsFrameRe() =>
                Some("GROUPS mode for window functions is not " +
                  "implemented (the reference host rejects it too). " +
                  "Emulate it exactly: compute dense_rank() OVER " +
                  "(PARTITION ... ORDER BY keys) AS dr in a subquery, " +
                  "then use RANGE BETWEEN n PRECEDING AND m FOLLOWING " +
                  "over ORDER BY dr — peer groups become unit steps of " +
                  "dr, which is precisely the GROUPS frame.")
              case _ if ExcludeFrameRewrite.isShaped(sqlText) =>
                Some("If you meant a window-frame EXCLUDE clause: the " +
                  "decomposable forms run automatically — EXCLUDE " +
                  "CURRENT ROW for sum/count/avg over any ROWS/RANGE " +
                  "frame and for min/max over integer-bounded ROWS " +
                  "frames; EXCLUDE GROUP/TIES for sum/count/avg over " +
                  "RANGE frames (or ROWS UNBOUNDED..UNBOUNDED) with an " +
                  "ORDER BY; EXCLUDE NO OTHERS always — but this one " +
                  "declined: GROUPS frames, min/max under GROUP/TIES, " +
                  "bounded ROWS frames under GROUP/TIES (peers may " +
                  "straddle the frame edge), DISTINCT aggregates, " +
                  "FILTER clauses, and non-literal offsets have no " +
                  "sound decomposition here. Rewrite manually, e.g. " +
                  "sum(x) OVER frame - x for EXCLUDE CURRENT ROW.")
              case powOpRe() => Some(powerOpHint)
              case tildeRe() =>
                Some("If you meant the Postgres-style match operators " +
                  "(DuckDB: expr ~ 'regex' is a FULL-string regex " +
                  "match, !~ its negation, ~~/!~~ are [NOT] LIKE): " +
                  "simple operand shapes (literals, columns, function " +
                  "calls, parenthesized groups) run automatically, but " +
                  "this statement declined — a ||/arithmetic operator " +
                  "left-adjacent to the operand binds first in DuckDB, " +
                  "so the one-operand extraction would misgroup; " +
                  "parenthesize the operand, or write " +
                  "regexp_full_match(expr, 'pattern') / expr [NOT] " +
                  "LIKE 'pat' directly. Spark's own ~ is unary " +
                  "bitwise NOT.")
              case atTimeZoneRe() =>
                Some("AT TIME ZONE runs automatically for common operand " +
                  "shapes (identifiers, function calls, parenthesized " +
                  "groups, typed literals, chained AT TIME ZONE — a " +
                  "string-literal zone): a wall-clock operand interprets " +
                  "in the zone (to_utc_timestamp), an instant-source " +
                  "operand (a previous AT TIME ZONE, now()) renders in " +
                  "the zone (from_utc_timestamp) — but this statement's " +
                  "shape declined (non-literal zone, or an adjacent " +
                  "operator that would misgroup the one-operand " +
                  "extraction). Write to_utc_timestamp(ts, 'zone') / " +
                  "from_utc_timestamp(ts, 'zone') directly; the session " +
                  "displays instants in spark.sql.session.timeZone.")
              case attachRe() =>
                Some("ATTACH '<directory>' AS name runs automatically " +
                  "(every parquet file under the directory registers as " +
                  "name.<table>; DETACH name drops them), but this " +
                  "statement's shape declined. Database-FILE attaches " +
                  "(.duckdb) are DuckDB-engine-specific — register a " +
                  "catalog in spark.sql.catalog.<name> conf, or read " +
                  "the foreign data directly (read_parquet('path'), " +
                  "spark.read.jdbc).")
              case seqHintRe() =>
                Some("CREATE/DROP SEQUENCE with a plain identifier name " +
                  "and START/INCREMENT/MINVALUE/MAXVALUE/[NO] CYCLE " +
                  "options runs automatically (session-scoped counter; " +
                  "nextval/currval execute), " +
                  "but this statement's shape declined. For distributed " +
                  "unique ids prefer monotonically_increasing_id(), or " +
                  "row_number() OVER (ORDER BY ...) for dense ordered ids.")
              case _ if DuckLiteralRewrite.isShaped(sqlText) =>
                Some("If you meant DuckDB's bracket/brace literal " +
                  "syntax: list literals [1, 2] / ARRAY[1, 2], struct " +
                  "literals {'a': 1}, MAP {'k': v}, comprehensions " +
                  "[expr FOR x IN l IF p], 1-based indexing l[i], and " +
                  "inclusive slicing l[b:e] all rewrite to run " +
                  "automatically, but this statement declined — write " +
                  "the Spark spellings directly: array(...), " +
                  "named_struct('a', 1), map('k', v), " +
                  "transform/filter lambdas, element_at(l, i) " +
                  "(1-based), slice(l, start, length).")
              case _ => None
            }
            hint match {
              case Some(h) => throw new org.apache.spark.sql.AnalysisException(
                "USER_RAISED_EXCEPTION",
                Map("errorMessage" -> (pe.getMessage + " — hint: " + h)),
                Option(pe))
              case None => throw pe
            }
        }
    }

  /** COLUMNS('regex') is the one DuckDB construct that PARSES as plain
    * Spark SQL (an ordinary function call), so no ParseException ever
    * reaches the hint machinery — left alone it dies later in analysis
    * with UNRESOLVED_ROUTINE. The rewrite therefore runs BEFORE
    * delegation, gated on a SELECT statement containing `COLUMNS(`;
    * whether it is really the DuckDB construct is decided by
    * ColumnsRewrite's own shape analysis (a whole top-level select-list
    * item over one resolvable table). A genuine COLUMNS statement the
    * rewrite DECLINES (lambda argument, zero matches, aggregate
    * wrapping) would otherwise parse fine and die in analysis with a raw
    * UNRESOLVED_ROUTINE — no hint machinery ever sees it — so the hint
    * is raised here, unless the session actually has a `columns`
    * function registered (then the statement is the user's own call and
    * passes through untouched).
    */
  private val columnsSelectRe = "(?is)\\A\\s*SELECT\\b.*\\bCOLUMNS\\s*\\(.*".r

  /** `DESCRIBE t` parses natively in Spark with Spark's own 3-column
    * output, so DuckDB-shaped DESCRIBE (6 columns, DuckDB type
    * spellings) is OPT-IN via `spark.graft.duckdbDescribe=true` — a
    * default hijack would change stock Spark behavior. Single-part
    * plain table names only; everything else (DESCRIBE EXTENDED,
    * multipart names, DESCRIBE QUERY) stays native.
    */
  private val describeRe =
    "(?is)\\A\\s*(?:DESCRIBE|DESC)\\s+([A-Za-z_]\\w*)\\s*;?\\s*\\z".r
  private def duckDescribeEnabled: Boolean =
    graft.GraftConf.DuckdbDescribe.readIfLive(org.apache.spark.sql.SparkSession.active)

  /** Non-TEMP CREATE OR REPLACE TABLE, single-part name (the TEMP form
    * never matches — TEMP sits between REPLACE and TABLE there).
    */
  private val createOrReplaceTableRe =
    """(?is)\A\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+([A-Za-z_]\w*)\b(.*)\z""".r

  /** DuckDB named options in the reader TVF calls —
    * `read_csv('f', header = true, delim = '|')` — fold into ONE
    * marker-string argument the builders decode. The statement parses
    * natively (each option is an EqualTo over a column the analyzer
    * would kill before any TVF builder runs), so this must claim
    * pre-delegation; it only touches the exact call shape (our reader
    * names, `ident = literal` args at the call's top level), leaving
    * every other statement byte-identical. Values: quoted literals
    * unescape; bare words/numbers/booleans ride as text; anything
    * else (an expression) declines to the native error.
    */
  private val namedReaderNameRe =
    "(?i)\\b(read_(?:csv(?:_auto)?|json(?:_auto)?|parquet))\\s*\\(".r
  private def namedReaderCallRewrite(text: String): Option[String] = {
    if (!text.contains("=") || namedReaderNameRe.findFirstIn(text).isEmpty)
      return None
    val masked = DuckLexer(text).masked
    if (namedReaderNameRe.findFirstIn(masked).isEmpty) return None
    val sb = new StringBuilder
    var pos = 0
    var changed = false
    val litRe = """\A'((?:[^']|'')*)'\z""".r
    val bareRe = """\A[\w.+-]+\z""".r
    val namedRe = """(?s)\A([A-Za-z_]\w*)\s*=(?!=)\s*(.+)\z""".r
    for (m <- namedReaderNameRe.findAllMatchIn(masked)) {
      val open = m.end - 1
      val close = DuckLexer(text).closeOf(open)
      if (close < 0 || open < pos) ()
      else {
        val args = DuckLexer(text.substring(open + 1, close - 1))
          .split(',', groups = true).map(_.trim)
        val keep = Vector.newBuilder[String]
        val named = Vector.newBuilder[(String, String)]
        var ok = true
        for (a <- args if ok) {
          val aMasked = DuckLexer(a).masked
          namedRe.findFirstMatchIn(aMasked) match {
            case Some(nm) if !aMasked.substring(0, nm.end(1)).contains("'") =>
              val key = a.substring(nm.start(1), nm.end(1))
              val rawV = a.substring(a.indexOf('=', nm.end(1)) + 1).trim
              rawV match {
                case litRe(b) => named += key -> b.replace("''", "'")
                case bareRe() => named += key -> rawV
                // columns={'name': 'TYPE', ...} (round 18): DuckDB's
                // explicit-schema option — folded to a DDL string the
                // reader applies via .schema(). Only the all-literal
                // brace form; anything else stays a native error.
                case v if key.equalsIgnoreCase("columns") &&
                    v.startsWith("{") && v.endsWith("}") =>
                  val entryRe =
                    """\A'((?:[^']|'')*)'\s*:\s*'((?:[^']|'')*)'\z""".r
                  val fields = DuckLexer(v.substring(1, v.length - 1)).split(',')
                    .map(_.trim).filter(_.nonEmpty)
                    .map {
                      case entryRe(n, t) =>
                        n.replace("''", "'") + " " + t.replace("''", "'")
                      case _ => ok = false; ""
                    }
                  if (ok) named += key -> fields.mkString(", ")
                case _ => ok = false // expression value — native error
              }
            case _ => keep += a
          }
        }
        val ns = named.result()
        if (ok && ns.nonEmpty) {
          val payload = GraftSparkExtensions.NamedOptsMarker +
            ns.map { case (k, x) => k + "\u001F" + x }.mkString("\u001E")
          val lit = "'" + payload.replace("'", "''") + "'"
          sb.append(text.substring(pos, open + 1))
            .append((keep.result() :+ lit).mkString(", "))
          pos = close - 1
          changed = true
        }
      }
    }
    if (!changed) return None
    sb.append(text.substring(pos))
    Some(sb.toString)
  }

  /** Single-evaluation pattern for an Option-returning claim: an arm's
    * match and its body share one call of the rewrite.
    */
  private final class Claim[A](rewrite: String => Option[A]) {
    def unapply(sql: String): Option[A] = rewrite(sql)
  }
  private val NamedReaderCall = new Claim(namedReaderCallRewrite)
  private val EnumDdl = new Claim(EnumTypes.ddlRewrite)
  private val AlteredTempTable = new Claim(AlterTableRewrite.rewrite)
  private val IndexStatement = new Claim(indexRewrite)

  /** The pre-delegation claims: Left(command) for a DuckDB statement
    * Spark runs as a command ([[DuckCommands]]) — building it has no
    * side effect — or Right(the statement text to parse).
    */
  private def preRewrite(sqlText: String): Either[LogicalPlan, String] = sqlText match {
    case NamedReaderCall(r) => preRewrite(r)
    // DuckDB's `**` power operator. Spark PARSES `a ** b` — as
    // multiply(a, star) — and only dies later in analysis with a
    // confusing INVALID_USAGE_OF_STAR_OR_REGEX, so the parse-failure
    // chain never sees it: the fold must claim pre-delegation. Adjacent
    // `**` outside string literals is never valid Spark SQL, so no
    // native statement can be claimed; a shape the fold can't extract
    // throws the targeted hint instead of the star-usage error.
    case _ if sqlText.contains("**") &&
        DuckLexer(sqlText).masked.contains("**") =>
      powerOpRewrite(sqlText) match {
        case Some(r) => preRewrite(r)
        case None => DuckCommands.fail(powerOpHint)
      }
    case describeRe(tbl) if duckDescribeEnabled =>
      Right(s"SELECT * FROM duck_describe('$tbl')")
    case columnsSelectRe() =>
      // A session that really has a `columns` function of its own keeps
      // it: the guard runs BEFORE the rewrite, so a user UDF call
      // matching the rewritable shape is never silently expanded.
      val userHasColumnsFn =
        try org.apache.spark.sql.SparkSession.active.sessionState
          .functionRegistry.functionExists(FunctionIdentifier("columns"))
        catch { case scala.util.control.NonFatal(_) => false }
      if (userHasColumnsFn) Right(sqlText)
      // Re-enter: each pass expands ONE select-list item, so several
      // COLUMNS-bearing items resolve across passes (q137's shape).
      else ColumnsRewrite.rewrite(sqlText).map(preRewrite).getOrElse {
        // Hint only when the statement genuinely IS the DuckDB construct
        // (a select-list COLUMNS the rewrite declined) — a raw string
        // literal containing the text passes through untouched.
        if (!ColumnsRewrite.isColumnsShaped(sqlText)) Right(sqlText)
        else DuckCommands.fail(columnsHint)
      }
    case positionalRe() if positionalShaped(sqlText) =>
      preRewrite(positionalPreRewrite(sqlText))
    // UNION-distinct recursive CTEs: the statement PARSES natively and
    // dies in analysis (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so it
    // must be claimed pre-delegation; the rewrite splices fixpoint(),
    // which computes exactly the set-semantics closure. Native UNION
    // ALL recursion and non-recursive bodies never match the shape.
    case _ if RecursiveUnionRewrite.isShaped(sqlText) =>
      RecursiveUnionRewrite.rewrite(sqlText) match {
        case Some(r) => preRewrite(r)
        case None => DuckCommands.fail(recursiveHint)
      }
    // DuckDB temp-table DML (CREATE TEMP TABLE [AS], INSERT INTO a
    // registered temp table or INSERT ... RETURNING, DROP TABLE of a
    // temp table) — materialized-snapshot semantics via TempTables.
    // MUST run before the ASOF arm: `CREATE TEMP TABLE t AS SELECT ...
    // ASOF JOIN ...` is temp-table shaped first — the body re-enters
    // preRewrite when the command executes it, so the ASOF inside is
    // still rewritten; matched the other way round the asof splice would
    // produce text TempTableRewrite can no longer claim.
    // COMMENT ON TABLE parses natively (a v2 command) and then rejects
    // temp views in analysis — claim it pre-delegation for graft temp
    // tables; catalog tables keep Spark's native comment machinery
    // (duckdb_tables() reads their description as fallback).
    case commentTableRe(tbl, lit)
        if TempTables.exists(org.apache.spark.sql.SparkSession.active, tbl) =>
      Left(CommentOnCommand(tbl, None, commentText(lit)))
    // CREATE TABLE with PRIMARY KEY / UNIQUE: Spark 4.1 parses the
    // constraint but v1 tables reject it in analysis — strip it,
    // register the key columns (the conflict target INSERT OR REPLACE /
    // ON CONFLICT resolve against, catalog path), and re-enter with the
    // constraint-free DDL.
    // The command executes the stripped DDL and registers the keys only
    // after the CREATE succeeds (round 18, ADVICE — the old eager
    // setKeys left stale registrations behind failed CREATEs).
    case CatalogPkRewritten(stripped, name, keys) =>
      Left(CreateTableWithKeyCommand(name, keys, DuckLiterals.halveBackslashes(stripped)))
    case TempTableRewritten(cmd) => Left(cmd)
    // CREATE TYPE ... AS ENUM / DROP TYPE (round 18 — sql/EnumTypes):
    // session enum registry; casts claim in the failure chain.
    case EnumDdl(cmd) => Left(cmd)
    // ATTACH '<dir>' AS name / DETACH name (round 19): parquet
    // directories become session-catalog databases;
    // .duckdb-file attaches keep the targeted hint below.
    case attachStmtRe(ifne, path, alias, _) =>
      val lower = path.toLowerCase
      if (lower.endsWith(".duckdb") || lower.endsWith(".db") ||
        lower.endsWith(".sqlite") || path == ":memory:" ||
        lower.startsWith("md:"))
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            ("ATTACH of a database FILE is DuckDB-engine-specific (no " +
              ".duckdb reader here). ATTACH '<directory>' AS name runs " +
              "automatically — every parquet file under the directory " +
              "registers as name.<table>.")))
      val dir = DuckLiterals.literalValue(path)
      val dbName = Option(alias).map(_.trim).filter(_.nonEmpty).getOrElse {
        val base = dir.replaceAll("[/\\\\]+$", "")
        base.substring(base.lastIndexOf('/').max(base.lastIndexOf('\\')) + 1)
          .replaceAll("\\.[A-Za-z0-9]+$", "")
      }
      Left(AttachDatabaseCommand(dir, dbName, ifne != null))
    case detachStmtRe(ife, name) =>
      Left(DetachDatabaseCommand(name, ife != null))
    // ASOF JOIN must ALSO be caught before delegation, not only in the
    // parse-failure chain: without an explicit left alias Spark PARSES
    // `FROM l ASOF JOIN r ...` with `l` aliased "ASOF" — the ON form
    // then dies confusingly on unresolved qualifiers, and the USING
    // form resolves into a SILENT plain equi-join on all the USING
    // columns (the worst failure mode — equal-instant rows only).
    // Rewritable shapes splice the TVF; the rest raise the asof hint.
    // The result re-enters preRewrite (like POSITIONAL) so a prefix
    // another arm claims is still honored.
    case _ if asofShaped(sqlText) =>
      AsofJoinRewrite.rewrite(sqlText)
        .orElse(AsofJoinRewrite.rewriteNested(sqlText))
        .map(preRewrite).getOrElse(DuckCommands.fail(asofHint))
    // ALTER TABLE parses natively (v2 syntax) but dies in analysis on
    // a temp view — the graft temp-table forms re-materialize the
    // snapshot as a command; catalog tables keep Spark's own ALTER.
    case AlteredTempTable(cmd) => Left(cmd)
    // CREATE OR REPLACE TABLE (non-TEMP — the TEMP form is claimed
    // above) is v2-only in Spark; for an absent or plain-v1 target the
    // DuckDB idiom runs as drop-then-create (atomicity of the native
    // v2 REPLACE is not provided — the drop commits first; documented).
    // DSv2 targets keep Spark's native REPLACE path.
    case createOrReplaceTableRe(name, rest) =>
      val spark = org.apache.spark.sql.SparkSession.active
      val cat = spark.sessionState.catalog
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
      val claim =
        try {
          !cat.tableExists(ident) || {
            val meta = cat.getTableMetadata(ident)
            meta.provider.map(_.toLowerCase)
              .forall(UpdateDeleteRewrite.v1FileProviders.contains)
          }
        } catch { case scala.util.control.NonFatal(_) => false }
      if (!claim) Right(sqlText)
      else Left(CreateOrReplaceTableCommand(name, DuckLiterals.halveBackslashes(rest)))
    case _ if UpdateDeleteRewrite.isShaped(sqlText) =>
      // UPDATE/DELETE parse natively but fail analysis on every v1
      // table ("does not support row-level operations") — rewrite the
      // plain-catalog-table forms (and graft temp tables) onto the
      // staged-overwrite commands; anything else (plain temp views, DSv2
      // tables, multipart names) keeps Spark's native path and
      // semantics.
      UpdateDeleteRewrite.rewrite(sqlText).map(Left(_)).getOrElse(Right(sqlText))
    case IndexStatement(cmd) => Left(cmd)
    // DuckDB's session variables (host ≥1.1): SET VARIABLE both creates
    // and replaces, so it maps to Spark 4's DECLARE OR REPLACE VARIABLE
    // (native SET VAR/VARIABLE would error on the first use — a pasted
    // script never DECLAREs; the type re-infers from the new value,
    // documented divergence from a pre-DECLAREd typed variable). RESET
    // VARIABLE removes. The read side is the getvariable() alias.
    case setVariableRe(name, value) =>
      Right(s"DECLARE OR REPLACE VARIABLE $name DEFAULT $value")
    case resetVariableRe(name) =>
      Right(s"DROP TEMPORARY VARIABLE IF EXISTS $name")
    case distinctOnRe() if DistinctOnRewrite.isShaped(sqlText) =>
      // SELECT DISTINCT ON (...) PARSES as plain Spark (ON(...) is an
      // ordinary function call), so like COLUMNS it must be caught
      // BEFORE delegation — left alone it dies in analysis with a raw
      // UNRESOLVED_ROUTINE for `ON`. isShaped keys on the top-level
      // word sequence (quote-/comment-/paren-aware), so a string
      // literal containing the text passes through untouched.
      DistinctOnRewrite.rewrite(sqlText).map(Right(_))
        .getOrElse(DuckCommands.fail(distinctOnHint))
    case _ => Right(sqlText)
  }

  /** `EXPLAIN [mode] <statement>`. DuckDB's EXPLAIN ANALYZE renders as
    * the simple mode (the host's profile text is engine-specific anyway;
    * the plan still renders), unless ANALYZE begins Spark's own ANALYZE
    * TABLE(S) statement. LOGICAL stays with Spark (which rejects it).
    */
  private val explainRe =
    ("(?is)\\A\\s*EXPLAIN\\s+(?:(EXTENDED|FORMATTED|CODEGEN|COST|" +
      "ANALYZE(?!\\s+TABLES?\\b))\\s+)?((?!LOGICAL\\b).+)\\z").r

  /** One entry for every parse: EXPLAIN wraps graft's own parse of its
    * statement, so a DuckDB statement explains as the command it runs
    * as, without running it (Spark's EXPLAIN plans in SKIP mode);
    * everything else is claimed by [[preRewrite]] or parsed once by
    * [[DuckSqlParser]], with the hint chain on parse failure. Literal
    * backslashes are doubled ONCE here (sql/DuckLiterals): the one
    * unescape at parse consumes the doubling, so values carry DuckDB's
    * raw-literal semantics; rewrites and command re-entries stay
    * level-consistent (see DuckLiterals' scaladoc).
    */
  private def parseWith(sqlText: String, parse: String => LogicalPlan): LogicalPlan =
    sqlText match {
      case explainRe(mode, statement) =>
        org.apache.spark.sql.execution.command.ExplainCommand(
          parseWith(statement, parse),
          org.apache.spark.sql.execution.ExplainMode.fromString(
            Option(mode).filterNot(_.equalsIgnoreCase("ANALYZE")).getOrElse("simple")))
      case _ =>
        preRewrite(DuckLiterals.doubleBackslashes(sqlText)) match {
          case Left(command) => command
          case Right(pre) => withHint(pre, parse)(parse(pre))
        }
    }
  override def parsePlan(sqlText: String): LogicalPlan =
    parseWith(sqlText, parser.parsePlan)
  override def parseQuery(sqlText: String): LogicalPlan =
    parseWith(sqlText, parser.parseQuery)
  override def parsePlanWithParameters(
      sqlText: String, parameters: ParameterContext): LogicalPlan =
    parseWith(sqlText, parser.parsePlanWithParameters(_, parameters))
  // Expression fragments (commands' SET/WHERE texts, df.selectExpr)
  // get the same treatment: by the time a fragment reaches expr() it is
  // back at DuckDB level (a command's fields are halved back; a table
  // function's literal argument was unescaped once). An expression Spark
  // cannot parse (a SET value `[1, 2]`) gets the bracket and brace
  // literal rewrite.
  override def parseExpression(sqlText: String) = {
    val text = DuckLiterals.doubleBackslashes(sqlText)
    try parser.parseExpression(text)
    catch {
      case e: ParseException => DuckLiteralRewrite.rewrite(text)
        .map(parser.parseExpression).getOrElse(throw e)
    }
  }
  override def parseTableIdentifier(sqlText: String) = parser.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = parser.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = parser.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String) = parser.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) = parser.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = parser.parseDataType(sqlText)
}

object GraftSparkExtensions {
  /** The EXTRACT/date_part fields DuckDB has and Spark rejects or
    * answers differently, as DuckDB computes them over `e`; None for any
    * other field. epoch is the engine's epoch() alias (DuckDB's
    * DOUBLE-seconds contract); era/isoyear/century/decade/millennium are
    * the registered scalar aliases; the session-offset trio
    * timezone/timezone_hour/timezone_minute is 0 (the engine pins the
    * session to UTC, where DuckDB's naive-TIMESTAMP answer is 0; NULL
    * passes through); julian is DuckDB's JDN-plus-day-fraction, 2440588
    * + epoch-days; isodow is Mon=1..Sun=7, derived from the 0-based
    * Sunday dayofweek() override, not from Spark's Monday-0 weekday;
    * microsecond/millisecond include the seconds (11.123456 s →
    * 11123456). Results are DuckDB's BIGINT (julian: DOUBLE).
    */
  private[sql] def duckExtract(field: String, e: Expression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Cast, Divide,
      IntegralDivide, IsNull, Literal}
    import org.apache.spark.sql.types.{DateType, DoubleType, LongType, TimestampType}
    def fn(name: String, args: Expression*): Expression =
      UnresolvedFunction(name, args, isDistinct = false)
    // A cast as SQL text spells it, so it shows in the column name.
    def cast(x: Expression, t: DataType): Expression = {
      val c = Cast(x, t)
      c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
      c
    }
    def micros = fn("unix_micros", cast(e, TimestampType))
    def secondMicros = fn("pmod", micros, Literal(60000000))
    def date = cast(e, DateType)
    def decimal(v: String) = Literal(new java.math.BigDecimal(v))
    Some(field.toLowerCase match {
      case "epoch" => fn("epoch", e)
      case f @ ("era" | "isoyear" | "century" | "decade" | "millennium") =>
        cast(fn(f, e), LongType)
      case "timezone" | "timezone_hour" | "timezone_minute" =>
        cast(CaseWhen(Seq(IsNull(cast(e, TimestampType)) -> Literal(null)), Some(Literal(0))),
          LongType)
      case "julian" =>
        cast(Add(decimal("2440588.0"), Divide(micros, decimal("86400000000.0"))), DoubleType)
      case "isodow" =>
        cast(Add(fn("pmod", Add(fn("dayofweek", date), Literal(6)), Literal(7)), Literal(1)),
          LongType)
      case "dayofweek" | "weekday" | "dow" => cast(fn("dayofweek", date), LongType)
      case "dayofyear" => cast(fn("dayofyear", date), LongType)
      case "microsecond" | "microseconds" => cast(secondMicros, LongType)
      case "millisecond" | "milliseconds" => cast(IntegralDivide(secondMicros, Literal(1000)), LongType)
      case _ => return None
    })
  }

  /** txid_current(): session-monotonic statement id source. */
  private[sql] val txidCounter = new java.util.concurrent.atomic.AtomicLong(1000L)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftSparkExtensions].getName, name)

  /** Codegen-friendly scalar bridge: a StaticInvoke of the engine's
    * version-string methods (beats a ScalaUDF — no serialization, inlined
    * into whole-stage codegen). Targets the mirror class, whose static
    * forwarders delegate to the HighsFunctions object.
    */
  private def scalarFn(name: String, method: String)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name), (args: Seq[Expression]) =>
      StaticInvoke(
        Class.forName("graft.highs.HighsFunctions"),
        StringType,
        method,
        args,
        inputTypes = Seq(StringType)))

  val versionFn = scalarFn("highs_version", "versionStringUtf8")
  val opensslVersionFn = scalarFn("highs_openssl_version", "opensslVersionStringUtf8")

  /** DuckDB's list/string function NAMES mapped onto Spark's native
    * expressions — pasted scripts use `list_transform`, `string_split`,
    * `len`, `regexp_matches`; the semantics are Spark's built-ins (all
    * codegen'd; lambdas parse identically `x -> ...`), only the catalog
    * name differs. Argument-order traps handled per DuckDB's signatures:
    * `list_prepend(elem, list)` is element-first (Spark's array_prepend
    * is array-first), and `string_split`'s separator is a LITERAL string
    * (Spark's split takes a regex — the separator is regex-quoted via
    * Pattern.quote before it reaches Split). `list_sort`'s DuckDB
    * default (ASC NULLS FIRST) matches Spark's sort_array(asc), not
    * array_sort. Known small divergence, documented not hidden:
    * `list_distinct` here keeps one NULL (Spark array_distinct) where
    * DuckDB drops NULLs.
    */
  /** DuckDB list_concat/array_concat: a NULL operand is IGNORED beside
    * a non-NULL one ([1] ++ NULL = [1]); all-NULL stays NULL — unlike
    * Spark's concat (NULL if ANY input is NULL). A bare NULL LITERAL
    * is dropped at build time (NullType would coerce concat to
    * STRING); runtime nulls route through the If chain.
    */
  /** graft_enum / graft_enum_try builder: membership CASE over the
    * registered value list, inlined as a literal array at plan time
    * (sql/EnumTypes holds the session registry; the name argument must
    * be a foldable string).
    */
  /** like_escape-family escape argument: a constant single character. */
  private def likeEscChar(e: Expression, fname: String): Char = {
    if (!e.foldable || e.dataType != StringType)
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" ->
          s"$fname: the escape argument must be a constant string"))
    val v = e.eval(null)
    if (v == null || v.toString.length != 1)
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" ->
          s"$fname: the escape must be a single character"))
    v.toString.charAt(0)
  }

  /** json_transform structure → Spark schema → JsonToStructs. */
  private def jsonTransformExpr(j: Expression, structure: Expression,
      strict: Boolean): Expression = {
    import org.apache.spark.sql.types.{ArrayType, DataType, StructField,
      StructType}
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))
    if (!structure.foldable || structure.dataType != StringType)
      fail("json_transform: the structure argument must be a constant JSON string")
    val sv = structure.eval(null)
    if (sv == null) fail("json_transform: the structure must not be NULL")
    val node =
      try graft.functions.JsonBuild.mapper.readTree(sv.toString)
      catch { case scala.util.control.NonFatal(_) =>
        fail(s"json_transform: malformed JSON structure: ${sv.toString.take(80)}") }
    def toType(n: com.fasterxml.jackson.databind.JsonNode): DataType =
      if (n.isTextual) {
        val raw = n.asText.trim
        val mapped = raw.toUpperCase match {
          case "VARCHAR" | "TEXT" | "BPCHAR" | "JSON" => "STRING"
          case "BLOB" => "BINARY"
          case "UTINYINT" => "SMALLINT"
          case "USMALLINT" => "INT"
          case "UINTEGER" => "BIGINT"
          case "UBIGINT" => "DECIMAL(20,0)"
          case "UHUGEINT" | "HUGEINT" => "DECIMAL(38,0)"
          case "TIMESTAMPTZ" => "TIMESTAMP"
          case other => other
        }
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(mapped)
        catch { case scala.util.control.NonFatal(_) =>
          fail(s"json_transform: unknown type spelling '$raw'") }
      } else if (n.isObject) {
        val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
        n.fields().forEachRemaining(e =>
          fields += StructField(e.getKey, toType(e.getValue)))
        StructType(fields.toSeq)
      } else if (n.isArray && n.size() == 1) {
        ArrayType(toType(n.get(0)), containsNull = true)
      } else fail("json_transform: structure must be an object, a " +
        "one-element array, or a type-name string (nested freely)")
    val dt = toType(node)
    if (!dt.isInstanceOf[StructType] && !dt.isInstanceOf[ArrayType])
      fail("json_transform: a scalar top-level structure has no " +
        "from_json mapping here — wrap it in an object or use ::TYPE")
    org.apache.spark.sql.catalyst.expressions.JsonToStructs(dt,
      if (strict) Map("mode" -> "FAILFAST") else Map.empty[String, String], j)
  }

  private def enumCastExpr(nameE: Expression, x: Expression,
      tryMode: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Cast,
      CreateArray, If, IsNull, Literal}
    require(nameE.foldable && nameE.dataType == StringType,
      "graft_enum: the type name must be a constant string")
    val name = nameE.eval(null).toString
    val vals = EnumTypes.get(org.apache.spark.sql.SparkSession.active, name).getOrElse(
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" ->
          s"Type with name $name does not exist!")))
    val s = Cast(x, StringType)
    val arr = CreateArray(vals.map(v => Literal(v)))
    val miss: Expression =
      if (tryMode) Literal(null, StringType)
      else StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
        StringType, "enumConvertFail", Seq(s, Literal(name)),
        inputTypes = Seq(StringType, StringType))
    If(IsNull(s), Literal(null, StringType),
      If(ArrayContains(arr, s), s, miss))
  }

  private def duckListConcat(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Concat, If, IsNull, Literal}
    (a, b) match {
      case (Literal(null, org.apache.spark.sql.types.NullType), _) => b
      case (_, Literal(null, org.apache.spark.sql.types.NullType)) => a
      case _ =>
        If(IsNull(a), b, If(IsNull(b), a, Concat(Seq(a, b))))
    }
  }

  /** DuckDB's `divide()` / the `//` operator (one function on the host,
    * probed v1.0.0): TRUNCATING division on integral args returning the
    * WIDER of the two argument types (divide(7::TINYINT, 2::TINYINT) →
    * TINYINT 3; -7 // 2 → -3), PLAIN division on float/decimal args
    * returning DOUBLE (7.5 // 2 → 3.75 — no truncation), and NULL on a
    * zero divisor either way. StaticInvoke so ConstantFolding can't
    * raise on literal zeros. Shared by the `divide` alias and by
    * [[DuckIntDivide]], which retargets every parsed `div`
    * (the `//` rewrite's spelling) onto these semantics.
    */
  private[sql] def duckDivideExpr(l: Expression, r: Expression): Expression = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.Cast
    val integral = Seq(l, r).forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (integral) {
      def w(t: DataType): Int = t match {
        case ByteType => 1; case ShortType => 2
        case IntegerType => 3; case _ => 4
      }
      val out = if (w(l.dataType) >= w(r.dataType)) l.dataType else r.dataType
      Cast(StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
        LongType, "duckDivideInt",
        Seq(Cast(l, LongType), Cast(r, LongType)),
        inputTypes = Seq(LongType, LongType)), out)
    } else
      // Non-integral operands — including DECIMAL — go through plain
      // DOUBLE division, NULL on zero divisor. Host-probed 2026-08-16:
      // typeof(divide(7.5, 2)) = 'DOUBLE' and divide(-7.5, 2) = -3.75
      // (no flooring), i.e. DuckDB itself sends decimals down its float
      // `//` path; an exact-decimal branch here would diverge.
      StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
        DoubleType, "duckDivideFloat",
        Seq(Cast(l, DoubleType), Cast(r, DoubleType)),
        inputTypes = Seq(DoubleType, DoubleType))
  }

  private def aliasFn(name: String, arity: (Int, Int))(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name), (args: Seq[Expression]) => {
      if (args.size < arity._1 || args.size > arity._2)
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            s"$name expects ${if (arity._1 == arity._2) arity._1.toString
              else s"${arity._1}-${arity._2}"} argument(s), got ${args.size}"))
      build(args)
    })

  private def quotedRegex(sep: Expression): Expression =
    StaticInvoke(Class.forName("graft.functions.StringCompat"), StringType,
      "regexQuoteUtf8", Seq(sep), inputTypes = Seq(StringType))

  /** DuckDB's 4-arg stepped slice `list_slice(l, b, e, step)` — 1-based
    * INCLUSIVE bounds clamped to the list, elements at b, b+step, ...
    * <= e. Positive bounds/step only (the negative-from-end form has no
    * mechanical mapping here).
    */
  private def steppedSlice(l: Expression, b: Expression, e: Expression,
      step: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Cast,
      ElementAt, Greatest, GreaterThan, If, LambdaFunction => LF, Least,
      Literal, Sequence, Size, Slice}
    import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
    val intT = org.apache.spark.sql.types.IntegerType
    val lo = Greatest(Seq(Cast(b, intT), Literal(1)))
    val hi = Least(Seq(Cast(e, intT), Size(l)))
    val i = UnresolvedNamedLambdaVariable(Seq("gss_i"))
    If(GreaterThan(lo, hi),
      Slice(l, Literal(1), Literal(0)),
      ArrayTransform(Sequence(lo, hi, Some(Cast(step, intT))),
        LF(ElementAt(l, i), Seq(i))))
  }

  val duckdbAliasFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAppend, ArrayCompact,
      ArrayContains, ArrayDistinct, ArrayFilter, ArrayMax, ArrayMin,
      ArrayPrepend, ArrayTransform, Cast, Concat, CreateArray, DateFormatClass,
      Divide, GetTimestamp, Literal, Reverse, RLike, Size, SortArray,
      StringSplit, UnixMicros, UnixMillis}
    import org.apache.spark.sql.types.TimestampType
    Seq(
      aliasFn("list_transform", (2, 2))(a => ArrayTransform(a(0), a(1))),
      aliasFn("list_filter", (2, 2))(a => ArrayFilter(a(0), a(1))),
      aliasFn("list_contains", (2, 2))(a => ArrayContains(a(0), a(1))),
      aliasFn("list_distinct", (1, 1))(a => ArrayDistinct(a(0))),
      // list_sort: DuckDB's default is ASC NULLS LAST (pinned on the
      // oracle: [3,1,NULL,2] → [1,2,3,NULL]); the optional order and
      // null-placement arguments map onto the four SortArray/Reverse
      // combinations (desc-nulls-last = reverse of asc-nulls-first,
      // which keeps everything inside codegen'd native expressions).
      aliasFn("list_sort", (1, 3)) { a =>
        def cst(e: Expression, what: String): String = {
          require(e.foldable, s"list_sort: $what must be a constant string")
          String.valueOf(e.eval(null)).trim.toUpperCase
        }
        val desc = a.size >= 2 && (cst(a(1), "order") match {
          case "DESC" | "DESCENDING" => true
          case "ASC" | "ASCENDING" => false
          case other => throw new IllegalArgumentException(
            s"list_sort: unknown order '$other' (ASC, DESC)")
        })
        val nullsFirst = if (a.size >= 3) cst(a(2), "null order") match {
          case "NULLS FIRST" | "NULLS_FIRST" => true
          case "NULLS LAST" | "NULLS_LAST" => false
          case other => throw new IllegalArgumentException(
            s"list_sort: unknown null order '$other' (NULLS FIRST, NULLS LAST)")
        } else false // DuckDB default: NULLS LAST
        // sort_array natively covers asc-nulls-first / desc-nulls-last;
        // array_sort's default comparator is asc-nulls-LAST, and its
        // reverse is desc-nulls-first — all four corners stay native.
        (desc, nullsFirst) match {
          case (false, true) => SortArray(a(0), Literal(true))
          case (true, false) => SortArray(a(0), Literal(false))
          case (false, false) =>
            new org.apache.spark.sql.catalyst.expressions.ArraySort(a(0))
          case (true, true) =>
            org.apache.spark.sql.catalyst.expressions.Reverse(
              new org.apache.spark.sql.catalyst.expressions.ArraySort(a(0)))
        }
      },
      aliasFn("list_append", (2, 2))(a => ArrayAppend(a(0), a(1))),
      // DuckDB: list_prepend(element, list) — element FIRST.
      aliasFn("list_prepend", (2, 2))(a => ArrayPrepend(a(1), a(0))),
      aliasFn("list_concat", (1, Int.MaxValue))(a => Concat(a)),
      aliasFn("list_value", (0, Int.MaxValue))(a => CreateArray(a)),
      aliasFn("string_split", (2, 2))(a =>
        StringSplit(a(0), quotedRegex(a(1)), Literal(-1))),
      aliasFn("str_split", (2, 2))(a =>
        StringSplit(a(0), quotedRegex(a(1)), Literal(-1))),
      aliasFn("string_to_array", (2, 2))(a =>
        StringSplit(a(0), quotedRegex(a(1)), Literal(-1))),
      aliasFn("string_split_regex", (2, 2))(a =>
        StringSplit(a(0), a(1), Literal(-1))),
      aliasFn("len", (1, 1))(a => graft.functions.Len(a(0))),
      aliasFn("regexp_matches", (2, 3))(a =>
        if (a.size == 2) RLike(a(0), a(1))
        else StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.BooleanType, "duckRegexpMatches",
          Seq(a(0), a(1), a(2)),
          inputTypes = Seq(StringType, StringType, StringType))),
      // DuckDB's regexp_replace: FIRST match only unless options carry
      // 'g'; RE2 \N rewrite backrefs ($N is literal); i/s/l/c/m/n/p
      // option chars. Spark's positional 4-arg form (an INTEGER 4th
      // argument) still routes native.
      aliasFn("regexp_replace", (3, 4))(a => {
        import org.apache.spark.sql.types.{IntegerType => IT, LongType => LT,
          ShortType => ShT, ByteType => BT}
        val positional = a.size == 4 &&
          (a(3).dataType match {
            case IT | LT | ShT | BT => true
            case _ => false
          })
        if (positional)
          org.apache.spark.sql.catalyst.expressions.RegExpReplace(
            a(0), a(1), a(2), Cast(a(3), IT))
        else StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
          StringType, "duckRegexpReplace",
          Seq(a(0), a(1), a(2),
            if (a.size > 3) a(3) else Literal("")),
          inputTypes = Seq(StringType, StringType, StringType, StringType))
      }),
      // Full-string match (what DuckDB's SIMILAR TO desugars to):
      // anchor the pattern and reuse find-semantics RLike. The Literal
      // values hold runtime \A/\z — no SQL-literal escaping at the
      // expression layer.
      aliasFn("regexp_full_match", (2, 2))(a =>
        RLike(a(0), Concat(Seq(Literal("\\A(?:"), a(1), Literal(")\\z"))))),
      // DuckDB epoch family: epoch() is DOUBLE seconds WITH fraction —
      // exactly Spark's timestamp→double cast; the _ms/_us forms are
      // unix_millis/unix_micros. Inputs route through a timestamp cast
      // so dates and TIMESTAMP_NTZ (value-identical under the UTC
      // session pin) work as in DuckDB.
      aliasFn("epoch", (1, 1))(a =>
        Cast(Cast(a(0), TimestampType), org.apache.spark.sql.types.DoubleType)),
      aliasFn("epoch_ms", (1, 1))(a => UnixMillis(Cast(a(0), TimestampType))),
      aliasFn("epoch_us", (1, 1))(a => UnixMicros(Cast(a(0), TimestampType))),
      aliasFn("epoch_ns", (1, 1))(a =>
        org.apache.spark.sql.catalyst.expressions.Multiply(
          UnixMicros(Cast(a(0), TimestampType)), Literal(1000L))),
      // strftime/strptime: the FORMAT is a constant translated from the
      // C dialect to the JVM pattern at analysis (%Y→yyyy, literal
      // letter runs quoted); an untranslatable directive raises a named
      // error instead of formatting garbage. DuckDB's argument order
      // (value, format) / (string, format).
      aliasFn("strftime", (2, 2))(a =>
        DateFormatClass(Cast(a(0), TimestampType),
          cFormatLiteral("strftime", a(1), forParse = false))),
      aliasFn("strptime", (2, 2))(a =>
        GetTimestamp(a(0),
          cFormatLiteral("strptime", a(1), forParse = true), TimestampType)),
      // List aggregates. min/max/reverse are direct Spark expressions
      // (same NULL-ignoring semantics); sum/avg fold in DOUBLE via
      // aggregate() with NULL elements skipped and DuckDB's empty/
      // all-NULL → NULL contract; list_unique counts distinct non-NULL
      // elements (DuckDB drops NULLs there).
      aliasFn("list_min", (1, 1))(a => ArrayMin(a(0))),
      aliasFn("list_max", (1, 1))(a => ArrayMax(a(0))),
      aliasFn("list_reverse", (1, 1))(a => Reverse(a(0))),
      aliasFn("list_reverse_sort", (1, 1))(a => SortArray(a(0), Literal(false))),
      aliasFn("list_unique", (1, 1))(a =>
        Cast(Size(ArrayDistinct(ArrayCompact(a(0)))),
          org.apache.spark.sql.types.LongType)),
      aliasFn("list_sum", (1, 1))(a => listNullIfEmpty(a(0), listDoubleSum(a(0)))),
      aliasFn("list_avg", (1, 1))(a => listNullIfEmpty(a(0),
        Divide(listDoubleSum(a(0)),
          Cast(Size(ArrayCompact(a(0))), org.apache.spark.sql.types.DoubleType))))
    ) ++ {
      // More DuckDB names onto native expressions (all codegen'd).
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{Add, ArrayCompact,
        ArrayMax, ArrayMin, ArrayPosition, Cast, DateDiff, DateSub, ElementAt,
        EqualTo, Explode, If, Literal, Multiply, Size, Slice, StringInstr,
        Subtract, TimestampDiff, UnaryMinus, UnixMillis, UnixMicros,
        UnixSeconds, Year, Month, Quarter, TruncDate, Floor, Divide}
      import org.apache.spark.sql.types.{DateType, DoubleType, LongType,
        NullType, StringType, TimestampType}
      def long(e: Expression) = Cast(e, LongType)
      // DuckDB's date_diff/datediff counts datepart BOUNDARY crossings
      // (date_diff('month', Jan 31, Feb 1) = 1); Spark's own 3-arg form
      // (unquoted unit identifier) counts COMPLETE intervals (= 0). The
      // two forms are syntactically disjoint — quoted string vs bare
      // identifier — so one builder serves both: identifiers keep
      // Spark's native TimestampDiff, string literals get DuckDB's
      // boundary arithmetic built from native date expressions.
      def boundaryDiff(unitE: Expression, s: Expression, e: Expression): Expression = {
        val unit = unitE.eval(null) match {
          case u: UTF8String => u.toString.toLowerCase
          case u => String.valueOf(u).toLowerCase
        }
        def d(x: Expression) = Cast(x, DateType)
        def ts(x: Expression) = Cast(x, TimestampType)
        def monthsOf(x: Expression) =
          Add(Multiply(long(Year(d(x))), Literal(12L)), long(Month(d(x))))
        def floorDiv(x: Expression, n: Long) =
          long(Floor(Divide(Cast(x, DoubleType), Literal(n.toDouble))))
        unit match {
          case "day" | "days" | "d" => long(DateDiff(d(e), d(s)))
          case "week" | "weeks" | "w" => long(Divide(
            long(DateDiff(TruncDate(d(e), Literal("week")),
              TruncDate(d(s), Literal("week")))), Literal(7L)))
          case "month" | "months" | "mon" =>
            Subtract(monthsOf(e), monthsOf(s))
          case "quarter" | "quarters" => Subtract(
            Add(Multiply(long(Year(d(e))), Literal(4L)), long(Quarter(d(e)))),
            Add(Multiply(long(Year(d(s))), Literal(4L)), long(Quarter(d(s)))))
          case "year" | "years" | "y" => Subtract(long(Year(d(e))), long(Year(d(s))))
          case "hour" | "hours" | "h" =>
            Subtract(floorDiv(UnixSeconds(ts(e)), 3600L), floorDiv(UnixSeconds(ts(s)), 3600L))
          case "minute" | "minutes" | "m" =>
            Subtract(floorDiv(UnixSeconds(ts(e)), 60L), floorDiv(UnixSeconds(ts(s)), 60L))
          case "second" | "seconds" | "s" =>
            Subtract(UnixSeconds(ts(e)), UnixSeconds(ts(s)))
          case "millisecond" | "milliseconds" | "ms" =>
            Subtract(UnixMillis(ts(e)), UnixMillis(ts(s)))
          case "microsecond" | "microseconds" | "us" =>
            Subtract(UnixMicros(ts(e)), UnixMicros(ts(s)))
          case other => throw new IllegalArgumentException(
            s"date_diff: unsupported datepart '$other' (day, week, month, " +
              "quarter, year, hour, minute, second, millisecond, microsecond)")
        }
      }
      // Spark's parser special-cases date_diff/datediff/date_sub, so the
      // DuckDB quoted-unit forms never reach the registry — they FAIL AT
      // PARSE, where the rewrite chain prefixes the call with `duck_`
      // (see duckDateRe). The identifier-unit and 2-arg native forms
      // parse fine and stay completely untouched.
      def diffBuilder(name: String) = aliasFn(name, (3, 3)) { a =>
        require(a(0).foldable && a(0).dataType == StringType,
          s"$name: the unit must be a constant string")
        boundaryDiff(a(0), a(1), a(2)) // DuckDB: boundary crossings
      }
      def listAgg(fn: Expression, l: Expression): Expression = {
        val name = fn.eval(null) match {
          case u: UTF8String => u.toString.toLowerCase
          case u => String.valueOf(u).toLowerCase
        }
        name match {
          case "min" => ArrayMin(l)
          case "max" => ArrayMax(l)
          case "sum" => listNullIfEmpty(l, listDoubleSum(l))
          case "avg" | "mean" => listNullIfEmpty(l,
            Divide(listDoubleSum(l), Cast(Size(ArrayCompact(l)), DoubleType)))
          case "count" => long(Size(ArrayCompact(l)))
          case "first" => ElementAt(l, Literal(1))
          case "last" => ElementAt(l, Literal(-1))
          case other => throw new IllegalArgumentException(
            s"list_aggregate: unsupported function '$other' " +
              "(min, max, sum, avg, count, first, last)")
        }
      }
      Seq(
        // DuckDB's bread-and-butter generator name.
        aliasFn("unnest", (1, 1))(a => DuckUnnest(a(0))),
        aliasFn("strpos", (2, 2))(a => StringInstr(a(0), a(1))),
        aliasFn("array_length", (1, 1))(a => graft.functions.Len(a(0))),
        aliasFn("list_length", (1, 1))(a => graft.functions.Len(a(0))),
        // DuckDB slicing is 1-based INCLUSIVE. The 3-arg form routes
        // through DuckSlice (round 18): lists AND strings, negative
        // from-the-end bounds, clamping, inverted-range-empty — the
        // full pinned bracket-slice contract (it previously mapped to
        // Spark's Slice: lists only, positive bounds only). 4-arg
        // stepped form unchanged.
        aliasFn("list_slice", (3, 4))(a =>
          if (a.size == 3) graft.functions.DuckSlice(a(0), a(1), a(2))
          else steppedSlice(a(0), a(1), a(2), a(3))),
        aliasFn("array_slice", (3, 4))(a =>
          if (a.size == 3) graft.functions.DuckSlice(a(0), a(1), a(2))
          else steppedSlice(a(0), a(1), a(2), a(3))),
        // DuckDB returns NULL for a missing element where Spark's
        // array_position returns 0 — map 0 back to NULL.
        aliasFn("list_position", (2, 2))(a =>
          If(EqualTo(ArrayPosition(a(0), a(1)), Literal(0L)),
            Literal(null, LongType), ArrayPosition(a(0), a(1)))),
        aliasFn("list_indexof", (2, 2))(a =>
          If(EqualTo(ArrayPosition(a(0), a(1)), Literal(0L)),
            Literal(null, LongType), ArrayPosition(a(0), a(1)))),
        aliasFn("list_aggregate", (2, 2))(a => listAgg(a(1), a(0))),
        aliasFn("list_aggr", (2, 2))(a => listAgg(a(1), a(0))),
        diffBuilder("duck_date_diff"),
        diffBuilder("duck_datediff"),
        // DuckDB's 3-arg date_sub(part, s, e) counts COMPLETE intervals —
        // exactly Spark's own identifier-unit date_diff semantics; the
        // 2-arg form stays Spark's native date minus N days.
        aliasFn("date_sub", (2, 3)) { a =>
          if (a.size == 2) DateSub(a(0), a(1))
          else {
            require(a(0).foldable && a(0).dataType == StringType,
              "date_sub: the unit must be a constant string")
            val unit = a(0).eval(null) match {
              case u: UTF8String => u.toString
              case u => String.valueOf(u)
            }
            TimestampDiff(unit.toUpperCase, a(1), a(2))
          }
        })
    } ++ {
      // DuckDB's array/list similarity family (host DuckDB ≥1.1 ships
      // these for embedding math) onto the engine's codegen'd vector
      // kernels. Both inputs cast to array<float> — a double-array
      // literal works as it does in DuckDB, an existing float embedding
      // column passes through (the identity cast folds away).
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      def f(e: Expression): Expression = Cast(e, ArrayType(FloatType))
      def kernel(duckName: String, kind: Int) = Seq(
        aliasFn("array_" + duckName, (2, 2))(a =>
          graft.functions.VectorBinaryKernel(f(a(0)), f(a(1)), kind,
            "array_" + duckName)),
        aliasFn("list_" + duckName, (2, 2))(a =>
          graft.functions.VectorBinaryKernel(f(a(0)), f(a(1)), kind,
            "list_" + duckName)))
      Seq(
        aliasFn("array_cosine_similarity", (2, 2))(a =>
          graft.functions.CosineSimilarity(f(a(0)), f(a(1)))),
        aliasFn("list_cosine_similarity", (2, 2))(a =>
          graft.functions.CosineSimilarity(f(a(0)), f(a(1))))) ++
        kernel("inner_product", 0) ++
        kernel("negative_inner_product", 1) ++
        kernel("distance", 2) ++
        kernel("cosine_distance", 3) ++
        kernel("dot_product", 0) // DuckDB's other name for inner_product
    } ++ {
      // DuckDB aggregate NAMES onto Spark's native aggregate expressions
      // (the analyzer wraps an AggregateFunction from the registry in the
      // AggregateExpression itself, so these register exactly like the
      // scalar aliases) + the remaining high-traffic scalar names.
      import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
        ArrayContains, ArrayForAll, ArrayIntersect, ArrayJoin, ArraysOverlap,
        Cast, DateFormatClass, ElementAt, EndsWith, LambdaFunction, Literal,
        Size, Slice, StartsWith, Subtract, UnresolvedNamedLambdaVariable}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList,
        MaxBy, MinBy, Percentile, PercentileDisc}
      import org.apache.spark.sql.types.{DoubleType, TimestampType}
      // DuckDB arg_min(arg, val) = value of arg at minimum val — exactly
      // Spark's min_by(x, y) argument order.
      def argAgg(name: String, mk: (Expression, Expression) => Expression) =
        aliasFn(name, (2, 2))(a => mk(a(0), a(1)))
      // Out-of-bounds list_extract is NULL in DuckDB, an ANSI error in
      // Spark 4's default element_at — build the non-throwing form.
      def extractAt(l: Expression, i: Expression): Expression =
        new ElementAt(l, i, None, false)
      Seq(
        argAgg("arg_min", MinBy(_, _)), argAgg("argmin", MinBy(_, _)),
        argAgg("arg_max", MaxBy(_, _)), argAgg("argmax", MaxBy(_, _)),
        // quantile_cont interpolates (Spark's exact Percentile);
        // quantile[_disc] picks the greatest-index row at or below the
        // quantile (Spark's PercentileDisc). 1-arg quantile = median.
        aliasFn("quantile_cont", (2, 2))(a =>
          new Percentile(Cast(a(0), DoubleType), a(1))),
        aliasFn("quantile_disc", (1, 2))(a =>
          PercentileDisc(a(0), if (a.size == 2) a(1) else Literal(0.5),
            false, 0, 0, false)),
        aliasFn("quantile", (1, 2))(a =>
          PercentileDisc(a(0), if (a.size == 2) a(1) else Literal(0.5),
            false, 0, 0, false)),
        // DuckDB's list() aggregate (insertion-ordered; order is
        // partition-dependent on both engines — sort before comparing).
        aliasFn("list", (1, 1))(a => CollectList(a(0))),
        // Spark 4.1 ships monthname/dayname natively but ABBREVIATED
        // ("Dec"/"Tue"); DuckDB returns the full name ("December"/
        // "Tuesday"). This engine's contract is the DuckDB dialect, so
        // both names re-register with full-name output — the one place
        // the alias family intentionally overrides a native spelling
        // (date_format with 'MMM'/'E' gives the abbreviated forms back).
        aliasFn("monthname", (1, 1))(a =>
          DateFormatClass(Cast(a(0), TimestampType), Literal("MMMM"))),
        aliasFn("dayname", (1, 1))(a =>
          DateFormatClass(Cast(a(0), TimestampType), Literal("EEEE"))),
        aliasFn("starts_with", (2, 2))(a => StartsWith(a(0), a(1))),
        aliasFn("ends_with", (2, 2))(a => EndsWith(a(0), a(1))),
        aliasFn("prefix", (2, 2))(a => StartsWith(a(0), a(1))),
        aliasFn("suffix", (2, 2))(a => EndsWith(a(0), a(1))),
        aliasFn("list_extract", (2, 2))(a => extractAt(a(0), a(1))),
        aliasFn("list_element", (2, 2))(a => extractAt(a(0), a(1))),
        aliasFn("array_extract", (2, 2))(a => extractAt(a(0), a(1))),
        aliasFn("list_has_any", (2, 2))(a => ArraysOverlap(a(0), a(1))),
        // list_has_all(l, sub): every element of sub is in l. A NULL
        // element in sub yields NULL (DuckDB skips NULLs — documented
        // divergence, not hidden).
        aliasFn("list_has_all", (2, 2)) { a =>
          val x = UnresolvedNamedLambdaVariable(Seq("x"))
          ArrayForAll(a(1), LambdaFunction(ArrayContains(a(0), x), Seq(x)))
        },
        aliasFn("list_intersect", (2, 2))(a => ArrayIntersect(a(0), a(1))),
        aliasFn("array_to_string", (2, 2))(a => ArrayJoin(a(0), a(1), None)),
        // list_reduce(l, (acc, x) -> ...): no initial value — the first
        // element seeds the fold over the rest. Empty list → NULL (DuckDB
        // raises; softer here, documented).
        aliasFn("list_reduce", (2, 2)) { a =>
          val merge = a(1) match {
            case lf: LambdaFunction => lf
            case _ => throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION", Map("errorMessage" ->
                "list_reduce expects a lambda: list_reduce(l, (acc, x) -> ...)"))
          }
          val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
          // greatest(size-1, 0): Slice throws on a negative length, so
          // an empty list must fold over an empty tail (NULL seed →
          // NULL result, the documented contract).
          ArrayAggregate(
            Slice(a(0), Literal(2),
              org.apache.spark.sql.catalyst.expressions.Greatest(
                Seq(Subtract(Size(a(0)), Literal(1)), Literal(0)))),
            extractAt(a(0), Literal(1)),
            merge,
            LambdaFunction(fin, Seq(fin)))
        },
        aliasFn("time_bucket", (2, 2))(a => timeBucket(a(0), a(1))),
        // Targets of DuckLiteralRewrite's postfix-bracket output —
        // DuckDB's 1-based / NULL-out-of-bounds bracket operators as
        // typed expressions (functions/DuckCollections.scala). Also
        // callable directly.
        aliasFn("duck_index", (2, 2))(a =>
          graft.functions.DuckIndex(a(0), a(1))),
        aliasFn("duck_slice", (3, 3))(a =>
          graft.functions.DuckSlice(a(0), a(1), a(2))),
        // DuckDB's getvariable('name') — reads the session variable the
        // SET VARIABLE pre-rewrite declared. The name must be constant;
        // existence is probed at analysis and a missing variable yields
        // NULL (DuckDB's contract) instead of Spark's unresolved error.
        // The reference is emitted as the unambiguous system.session
        // qualified form so a same-named column never shadows it.
        aliasFn("getvariable", (1, 1)) { a =>
          require(a(0).foldable && a(0).dataType == StringType,
            "getvariable(name): the name must be a constant string")
          val raw = a(0).eval(null)
          require(raw != null, "getvariable: name must not be NULL")
          // Spark lowercases variable names at DECLARE and the
          // manager's lookup is exact-case — probe lowercased or any
          // mixed-case getvariable('Cut') silently reads NULL.
          val name = raw.toString.toLowerCase
          val mgr = org.apache.spark.sql.SparkSession.active
            .sessionState.catalogManager.tempVariableManager
          if (mgr.get(Seq(name)).isDefined)
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
              Seq("system", "session", name))
          else org.apache.spark.sql.catalyst.expressions.Literal(
            null, org.apache.spark.sql.types.NullType)
        },
        // DuckDB's JSON extraction names onto Spark's codegen'd
        // get_json_object ('$.a.b' paths are the shared dialect).
        // json_extract_string is exact (unquoted text, DuckDB's ->>);
        // json_extract returns JSON text there, so STRING values come
        // back quoted in DuckDB and unquoted here — a documented
        // divergence; numbers/objects/arrays agree.
        aliasFn("json_extract_string", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.GetJsonObject(a(0), a(1))),
        aliasFn("json_extract_path_text", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.GetJsonObject(a(0), a(1))),
        aliasFn("json_extract", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.GetJsonObject(a(0), a(1))),
        // Round-18 seventh sweep: JSON group aggregates, merge-patch,
        // object keys, path parsing, base64, nextafter, the
        // approximate-quantile spellings, and the error-corrected
        // float-agg names.
        aliasFn("json_keys", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.JsonObjectKeys(a(0))),
        // Round-18 eighth sweep, JSON utilities (ScalarCompat /
        // functions/JsonBuild.scala): validated minify, validity,
        // DuckDB's type vocabulary (UBIGINT for non-negative ints),
        // MySQL-style containment, and the typed constructors.
        aliasFn("json", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"), StringType,
          "jsonMinify", Seq(a(0)), inputTypes = Seq(StringType))),
        aliasFn("json_valid", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.BooleanType,
          "jsonValidCheck", Seq(a(0)), inputTypes = Seq(StringType))),
        aliasFn("json_type", (1, 2))(a =>
          if (a.size == 1) StaticInvoke(
            Class.forName("graft.functions.ScalarCompat"), StringType,
            "jsonTypeOf", Seq(a(0)), inputTypes = Seq(StringType))
          else StaticInvoke(
            Class.forName("graft.functions.ScalarCompat"), StringType,
            "jsonTypeAt", Seq(a(0), a(1)),
            inputTypes = Seq(StringType, StringType),
            returnNullable = true)),
        aliasFn("json_contains", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.BooleanType,
          "jsonContains", Seq(a(0), a(1)),
          inputTypes = Seq(StringType, StringType))),
        aliasFn("json_quote", (1, 1))(a =>
          graft.functions.JsonQuoteExpr(a(0))),
        aliasFn("json_array", (0, Int.MaxValue))(a =>
          graft.functions.JsonArrayExpr(a)),
        aliasFn("json_object", (0, Int.MaxValue))(a =>
          graft.functions.JsonObjectExpr(
            a.zipWithIndex.map { case (e, i) =>
              if (i % 2 == 0) Cast(e, StringType) else e })),
        // json_array_length grows DuckDB's 2-arg path form (the 1-arg
        // form is Spark-native and untouched on the native path).
        aliasFn("json_array_length", (1, 2))(a =>
          if (a.size == 1)
            org.apache.spark.sql.catalyst.expressions.LengthOfJsonArray(a(0))
          else org.apache.spark.sql.catalyst.expressions.LengthOfJsonArray(
            org.apache.spark.sql.catalyst.expressions.GetJsonObject(a(0), a(1)))),
        // json_group_array/object: to_json over one ordered collect —
        // json_group_object pairs k/v in ONE collect (two separate
        // collect_lists could disagree on order).
        aliasFn("json_group_array", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.StructsToJson(
            Map.empty[String, String],
            org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(a(0)).toAggregateExpression())),
        aliasFn("json_group_object", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.StructsToJson(
            Map.empty[String, String],
            org.apache.spark.sql.catalyst.expressions.MapFromEntries(
              org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(org.apache.spark.sql.catalyst.expressions.CreateStruct(
                Seq(a(0), a(1)))).toAggregateExpression()))),
        aliasFn("json_merge_patch", (2, 8))(a =>
          a.reduceLeft((l, r) => StaticInvoke(
            Class.forName("graft.functions.ScalarCompat"),
            StringType, "jsonMergePatch", Seq(l, r),
            inputTypes = Seq(StringType, StringType)))),
        aliasFn("parse_path", (1, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.ArrayType(StringType), "parsePath",
          Seq(a(0)), inputTypes = Seq(StringType))),
        aliasFn("parse_filename", (1, 3))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "parseFilename",
          Seq(a(0), if (a.size >= 2) Cast(a(1), org.apache.spark.sql.types.BooleanType)
            else Literal(false)),
          inputTypes = Seq(StringType, org.apache.spark.sql.types.BooleanType))),
        aliasFn("parse_dirname", (1, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "parseDirname", Seq(a(0)),
          inputTypes = Seq(StringType))),
        aliasFn("to_base64", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Base64(a(0))),
        aliasFn("from_base64", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.UnBase64(a(0))),
        aliasFn("nextafter", (2, 2))(a => StaticInvoke(
          classOf[java.lang.Math], org.apache.spark.sql.types.DoubleType,
          "nextAfter",
          Seq(Cast(a(0), org.apache.spark.sql.types.DoubleType),
            Cast(a(1), org.apache.spark.sql.types.DoubleType)),
          inputTypes = Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType))),
        // favg/fsum: DuckDB's error-corrected (Kahan) float aggregates.
        // Spark's sum/avg are plain left-fold doubles — values can
        // differ in the last ulps under catastrophic cancellation
        // (documented divergence; ordinary data agrees).
        aliasFn("favg", (1, 1))(a => org.apache.spark.sql.catalyst.expressions.aggregate.Average(
          Cast(a(0), org.apache.spark.sql.types.DoubleType))),
        aliasFn("fsum", (1, 1))(a => org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
          Cast(a(0), org.apache.spark.sql.types.DoubleType))),
        aliasFn("sumkahan", (1, 1))(a => org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
          Cast(a(0), org.apache.spark.sql.types.DoubleType))),
        // approx_quantile / reservoir_quantile → Spark's t-digest
        // percentile (both sides approximate — availability parity;
        // reservoir's sample-size arg has no Spark counterpart and is
        // accepted-and-ignored).
        aliasFn("approx_quantile", (2, 2))(a =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile(a(0),
            Cast(a(1), org.apache.spark.sql.types.DoubleType))),
        aliasFn("reservoir_quantile", (2, 3))(a =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile(a(0),
            Cast(a(1), org.apache.spark.sql.types.DoubleType))),
        // Value-frequency aggregates (functions/HistogramAgg.scala):
        // DuckDB's histogram (MAP value→count, keys ascending, NULLs
        // dropped, empty→NULL) and entropy (log2 Shannon, empty→0.0).
        aliasFn("histogram", (1, 1))(a => graft.functions.HistogramAgg(a(0))),
        aliasFn("entropy", (1, 1))(a => graft.functions.EntropyAgg(a(0))),
        // mad(x): median absolute deviation (nested-aggregate shape —
        // the one real round-16 sweep miss), numeric input as DOUBLE.
        aliasFn("mad", (1, 1))(a => graft.functions.MadAgg(
          Cast(a(0), org.apache.spark.sql.types.DoubleType))),
        // Round-17 sweep pack: DuckDB's 2-arg map(keys, values)
        // constructor coexisting with the variadic map(k, v, ...).
        aliasFn("map", (0, Int.MaxValue))(a =>
          if (a.size == 2) graft.functions.DuckMap2(a(0), a(1))
          else org.apache.spark.sql.catalyst.expressions.CreateMap(a)),
        // regexp_extract[_all]: DuckDB's 2-arg default is group 0 (the
        // whole match); Spark's native default of 1 errors on
        // group-less patterns.
        aliasFn("regexp_extract", (2, 4)) { a =>
          import org.apache.spark.sql.catalyst.expressions.{CreateArray,
            CreateNamedStruct, RegExpExtract}
          // 3rd-arg NAME LIST (round 18): DuckDB returns a STRUCT of
          // the capture groups under the given names. The list arrives
          // as array('y','m') — a bracket-literal rewrite or the
          // explicit call — with literal string elements.
          def nameList(e: Expression): Option[Seq[String]] = e match {
            case CreateArray(items, _)
                if items.forall(i => i.foldable && i.dataType == StringType) =>
              Some(items.map(_.eval(null)).map(v =>
                if (v == null) "" else v.toString))
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if u.nameParts.map(_.toLowerCase) == Seq("array") =>
              val items = u.arguments
              if (items.nonEmpty && items.forall(i =>
                i.foldable && i.dataType == StringType))
                Some(items.map(_.eval(null)).map(v =>
                  if (v == null) "" else v.toString))
              else None
            case _ => None
          }
          a.lift(2).flatMap(nameList) match {
            case Some(names) =>
              CreateNamedStruct(names.zipWithIndex.flatMap { case (n, i) =>
                Seq(Literal(n), RegExpExtract(a(0), a(1), Literal(i + 1)))
              })
            case None if a.size == 4 =>
              // 4th-arg OPTIONS string (round 19).
              StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
                StringType, "duckRegexpExtract",
                Seq(a(0), a(1),
                  Cast(a(2), org.apache.spark.sql.types.LongType), a(3)),
                inputTypes = Seq(StringType, StringType,
                  org.apache.spark.sql.types.LongType, StringType))
            case None =>
              RegExpExtract(a(0), a(1), if (a.size > 2) a(2) else Literal(0))
          }
        },
        aliasFn("regexp_extract_all", (2, 4))(a =>
          if (a.size == 4)
            StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
              org.apache.spark.sql.types.ArrayType(StringType, false),
              "duckRegexpExtractAll",
              Seq(a(0), a(1),
                Cast(a(2), org.apache.spark.sql.types.LongType), a(3)),
              inputTypes = Seq(StringType, StringType,
                org.apache.spark.sql.types.LongType, StringType))
          else org.apache.spark.sql.catalyst.expressions.RegExpExtractAll(
            a(0), a(1), if (a.size > 2) a(2) else Literal(0))),
        aliasFn("format_bytes", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "formatBytes",
            Seq(Cast(a(0), org.apache.spark.sql.types.LongType)),
            inputTypes = Seq(org.apache.spark.sql.types.LongType))),
        aliasFn("today", (0, 0))(_ =>
          org.apache.spark.sql.catalyst.expressions.CurrentDate()),
        // skewness/kurtosis: DuckDB reports the BIAS-CORRECTED sample
        // statistics where Spark's natives are population moments —
        // compose the correction from the population value and n
        // (n < 3 / n < 4 and zero-variance groups are NULL, pinned).
        aliasFn("skewness", (1, 1)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val x = Cast(a(0), org.apache.spark.sql.types.DoubleType)
          val n = Cast(aggregate.Count(x).toAggregateExpression(),
            org.apache.spark.sql.types.DoubleType)
          val g1 = aggregate.Skewness(x).toAggregateExpression()
          val corrected = Multiply(g1, Divide(
            Sqrt(Multiply(n, Subtract(n, Literal(1.0)))),
            Subtract(n, Literal(2.0))))
          If(Or(LessThan(n, Literal(3.0)), IsNaN(g1)),
            Literal(null, org.apache.spark.sql.types.DoubleType), corrected)
        },
        aliasFn("kurtosis", (1, 1)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val x = Cast(a(0), org.apache.spark.sql.types.DoubleType)
          val n = Cast(aggregate.Count(x).toAggregateExpression(),
            org.apache.spark.sql.types.DoubleType)
          val g2 = aggregate.Kurtosis(x).toAggregateExpression()
          val corrected = Divide(
            Multiply(
              Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0)),
              Subtract(n, Literal(1.0))),
            Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0))))
          If(Or(LessThan(n, Literal(4.0)), IsNaN(g2)),
            Literal(null, org.apache.spark.sql.types.DoubleType), corrected)
        },
        // Round-18 eighth-sweep pack: kurtosis_pop IS Spark's native
        // population excess kurtosis (verified bit-equal on shared
        // inputs) — only the zero-variance NaN needs DuckDB's NULL;
        // gen_random_uuid is uuid()'s other DuckDB spelling;
        // map_extract shares duck_index's MAP arm (LIST result, []
        // for absent/NULL keys AND NULL maps — 1.0-pinned);
        // bitstring_agg emits the VARCHAR-modeled bitstring
        // (functions/BitCount.scala) with DuckDB's out-of-range error
        // on explicit bounds; graft_factorial is the postfix-`!`
        // landing pad (ScalarCompat.duckFactorial — exact
        // DECIMAL(38,0), (-n)! = 1, identical 0..33 domain).
        aliasFn("kurtosis_pop", (1, 1)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val g2 = aggregate.Kurtosis(
            Cast(a(0), org.apache.spark.sql.types.DoubleType))
            .toAggregateExpression()
          If(IsNaN(g2),
            Literal(null, org.apache.spark.sql.types.DoubleType), g2)
        },
        aliasFn("gen_random_uuid", (0, 0))(_ =>
          org.apache.spark.sql.catalyst.expressions.Uuid()),
        // DuckDB's 1-arg log() is LOG BASE 10 where Spark's is ln — a
        // pasted statement would silently compute the wrong value, so
        // the name is SHADOWED with arity dispatch (the 2-arg base form
        // agrees on both engines already). ln/log2/log10 natives match.
        // Divergence: log(0) errors in DuckDB, NULL here (non-ANSI).
        aliasFn("log", (1, 2))(a =>
          if (a.size == 1)
            org.apache.spark.sql.catalyst.expressions.Log10(a(0))
          else org.apache.spark.sql.catalyst.expressions.Logarithm(a(0), a(1))),
        // arbitrary(x) = DuckDB's first-seen value incl. NULL.
        aliasFn("arbitrary", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.aggregate.First(a(0),
            ignoreNulls = false)),
        // list_concat/array_concat: NULL operands are IGNORED beside a
        // non-NULL one ([1] ++ NULL = [1]); all-NULL stays NULL —
        // unlike Spark's concat (NULL if ANY input is NULL). Pinned.
        aliasFn("list_concat", (2, 2))(a => duckListConcat(a(0), a(1))),
        aliasFn("array_concat", (2, 2))(a => duckListConcat(a(0), a(1))),
        // array_unique: COUNT of distinct non-NULL elements (not the
        // deduplicated list); [] → 0, NULL → NULL.
        aliasFn("array_unique", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Size(
            org.apache.spark.sql.catalyst.expressions.ArrayDistinct(
              org.apache.spark.sql.catalyst.expressions.ArrayCompact(a(0))),
            legacySizeOfNull = false)),
        // Tenth-batch closures (round 19): typeof in the host's type
        // vocabulary (plan-time literal) and date_add with an INTERVAL
        // second argument; divide() NULL-on-zero lands at the round-16
        // arithmetic-word registration below.
        aliasFn("typeof", (1, 1))(a => Literal(
          (a(0).dataType match {
            // Pasted TIMESTAMP literals land on Spark's LTZ under the
            // UTC pin — report the host's spelling for them.
            case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
            case dt => duckTypeOf(dt)
          }).replace(", ", ","))),
        aliasFn("date_add", (2, 2))(a => a(1).dataType match {
          case _: org.apache.spark.sql.types.DayTimeIntervalType |
               _: org.apache.spark.sql.types.YearMonthIntervalType |
               org.apache.spark.sql.types.CalendarIntervalType =>
            org.apache.spark.sql.catalyst.expressions.Add(
              Cast(a(0), TimestampType), a(1))
          case _ =>
            org.apache.spark.sql.catalyst.expressions.DateAdd(a(0), a(1))
        }),
        // Ninth sweep (round 19): descending list sort (DESC, NULLS
        // LAST — Spark's sort_array(x, false) contract matches the
        // host's), grapheme-cluster left/right, RE2 QuoteMeta,
        // LIKE-with-escape function spellings, md5-as-integer family.
        aliasFn("array_reverse_sort", (1, 1))(a =>
          SortArray(a(0), Literal(false))),
        aliasFn("list_reverse_sort", (1, 1))(a =>
          SortArray(a(0), Literal(false))),
        aliasFn("left_grapheme", (2, 2))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "leftGrapheme",
            Seq(a(0), Cast(a(1), org.apache.spark.sql.types.LongType)),
            inputTypes = Seq(StringType, org.apache.spark.sql.types.LongType))),
        aliasFn("right_grapheme", (2, 2))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "rightGrapheme",
            Seq(a(0), Cast(a(1), org.apache.spark.sql.types.LongType)),
            inputTypes = Seq(StringType, org.apache.spark.sql.types.LongType))),
        aliasFn("regexp_escape", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "regexpEscape", Seq(a(0)),
            inputTypes = Seq(StringType))),
        aliasFn("like_escape", (3, 3))(a =>
          org.apache.spark.sql.catalyst.expressions.Like(
            a(0), a(1), likeEscChar(a(2), "like_escape"))),
        aliasFn("not_like_escape", (3, 3))(a =>
          org.apache.spark.sql.catalyst.expressions.Not(
            org.apache.spark.sql.catalyst.expressions.Like(
              a(0), a(1), likeEscChar(a(2), "not_like_escape")))),
        aliasFn("ilike_escape", (3, 3))(a =>
          org.apache.spark.sql.catalyst.expressions.ILike(
            a(0), a(1), likeEscChar(a(2), "ilike_escape"))),
        aliasFn("not_ilike_escape", (3, 3))(a =>
          org.apache.spark.sql.catalyst.expressions.Not(
            org.apache.spark.sql.catalyst.expressions.ILike(
              a(0), a(1), likeEscChar(a(2), "not_ilike_escape")))),
        aliasFn("md5_number_lower", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            org.apache.spark.sql.types.DecimalType(20, 0), "md5NumberLower",
            Seq(a(0)), inputTypes = Seq(StringType))),
        aliasFn("md5_number_upper", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            org.apache.spark.sql.types.DecimalType(20, 0), "md5NumberUpper",
            Seq(a(0)), inputTypes = Seq(StringType))),
        // md5_number is HUGEINT (128-bit SIGNED) on the host v1.0.0 —
        // round-20 re-probe: md5_number('b') =
        // -149750030552373788046256512903076123758 (top-bit digests print
        // negative; pinned in Round20DialectSpec). 39 digits exceed
        // DECIMAL(38,0), so it lands as its exact decimal digits.
        aliasFn("md5_number", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "md5Number",
            Seq(a(0)), inputTypes = Seq(StringType))),
        // Internal marker for min/max EXCLUDE GROUP/TIES (emitted only
        // by ExcludeFrameRewrite; rewritten by ExcludeGroupMinMaxRule).
        aliasFn("graft_excl_mm", (5, 5))(a => {
          def s(e: Expression, what: String): String = e match {
            case Literal(v, StringType) if v != null => v.toString
            case _ => throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION", Map("errorMessage" ->
                s"graft_excl_mm: $what must be a string literal"))
          }
          ExclMinMaxMarker(a(2), s(a(0), "fn") == "min",
            s(a(1), "mode") == "group", s(a(3), "other"),
            s(a(4), "hiUnb") == "true")
        }),
        aliasFn("substring_grapheme", (2, 3))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            StringType, "substringGrapheme",
            Seq(a(0), Cast(a(1), org.apache.spark.sql.types.LongType),
              if (a.size > 2) Cast(a(2), org.apache.spark.sql.types.LongType)
              else Literal(Long.MaxValue)),
            inputTypes = Seq(StringType, org.apache.spark.sql.types.LongType,
              org.apache.spark.sql.types.LongType))),
        aliasFn("map_extract", (2, 2))(a =>
          graft.functions.DuckIndex(a(0), a(1))),
        aliasFn("bitstring_agg", (1, 3))(a => {
          // DuckDB has no 2-arg form — accepting one would silently
          // drop the explicit min bound and run the observed-range
          // path instead. Binder error, like the host.
          if (a.size == 2) throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION",
            Map("errorMessage" ->
              "bitstring_agg expects 1 or 3 arguments (value[, min, max]), got 2"))
          graft.functions.BitstringAgg(a(0), a.lift(1), a.lift(2))
        }),
        aliasFn("graft_factorial", (1, 1))(a =>
          StaticInvoke(Class.forName("graft.functions.ScalarCompat"),
            org.apache.spark.sql.types.DecimalType(38, 0), "duckFactorial",
            Seq(Cast(a(0), org.apache.spark.sql.types.LongType)),
            inputTypes = Seq(org.apache.spark.sql.types.LongType))),
        // Enum-cast landing pads (round 18 — sql/EnumTypes): the value
        // list inlines at plan time from the driver-side registry, so
        // executors validate against a literal array; out-of-range
        // raises DuckDB's conversion error (graft_enum) or yields NULL
        // (graft_enum_try, the TRY_CAST form).
        aliasFn("graft_enum", (2, 2))(a => enumCastExpr(a(0), a(1), tryMode = false)),
        aliasFn("graft_enum_try", (2, 2))(a => enumCastExpr(a(0), a(1), tryMode = true)),
        // Definition-order index (round 19): validated cast → 1-based
        // member index via array_position, so ORDER BY/comparisons on
        // enum casts honor declaration order like the host (NULL in →
        // NULL out; out-of-range raises through the inner graft_enum).
        aliasFn("graft_enum_ord", (2, 2))(a => {
          import org.apache.spark.sql.catalyst.expressions.{ArrayPosition,
            CreateArray}
          require(a(0).foldable && a(0).dataType == StringType,
            "graft_enum_ord: the type name must be a constant string")
          val name = a(0).eval(null).toString
          val vals = EnumTypes.get(org.apache.spark.sql.SparkSession.active, name)
            .getOrElse(throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION", Map("errorMessage" ->
                s"Type with name $name does not exist!")))
          ArrayPosition(CreateArray(vals.map(v => Literal(v))),
            enumCastExpr(a(0), a(1), tryMode = false))
        }),
        // DuckDB json_transform[_strict] (round 19, verdict-18 #6): the
        // JSON structure argument (leaf values = DuckDB type spellings,
        // objects / one-element arrays = struct/list nesting) translates
        // to a Spark schema via the same spelling map the reader
        // columns={...} option uses, landing on from_json. Non-strict
        // nulls failed leaf casts like the host; _strict FAILFASTs.
        aliasFn("json_transform", (2, 2))(a =>
          jsonTransformExpr(a(0), a(1), strict = false)),
        aliasFn("json_transform_strict", (2, 2))(a =>
          jsonTransformExpr(a(0), a(1), strict = true)),
        // ::JSON / CAST(x AS JSON) landing pads (functions/JsonBuild).
        aliasFn("graft_json_cast", (1, 1))(a =>
          graft.functions.JsonCastExpr(a(0), tryMode = false)),
        aliasFn("graft_json_try_cast", (1, 1))(a =>
          graft.functions.JsonCastExpr(a(0), tryMode = true)),
        // DuckDB row(...): an unnamed struct (field names differ —
        // col1/col2 here vs v1/v2 there — but equality and unnesting
        // agree; field access by name errors on BOTH).
        aliasFn("row", (0, Int.MaxValue))(a =>
          org.apache.spark.sql.catalyst.expressions.CreateStruct(a)),
        // Round-17 sweep pack, batch 2 (fourth idiom sweep): date-part
        // spellings, arithmetic-word aliases, gamma family,
        // struct_insert, datesub/datetrunc.
        aliasFn("str_split_regex", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.StringSplit(a(0), a(1),
            Literal(-1))),
        aliasFn("century", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "century",
          Seq(org.apache.spark.sql.catalyst.expressions.Year(
            Cast(a(0), org.apache.spark.sql.types.DateType))),
          inputTypes = Seq(org.apache.spark.sql.types.IntegerType))),
        aliasFn("decade", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "decade",
          Seq(org.apache.spark.sql.catalyst.expressions.Year(
            Cast(a(0), org.apache.spark.sql.types.DateType))),
          inputTypes = Seq(org.apache.spark.sql.types.IntegerType))),
        // era: 1 AD, 0 BC (DuckDB/Postgres date_part 'era').
        aliasFn("era", (1, 1)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          If(LessThanOrEqual(Year(
            Cast(a(0), org.apache.spark.sql.types.DateType)), Literal(0)),
            Literal(0), Literal(1))
        },
        // isoyear: the ISO week-numbering year = calendar year of the
        // week's Thursday (isodow 4) — shift to Thursday, take year.
        aliasFn("isoyear", (1, 1)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val d = Cast(a(0), org.apache.spark.sql.types.DateType)
          Year(DateAdd(d, Subtract(Literal(3), WeekDay(d))))
        },
        aliasFn("millennium", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "millennium",
          Seq(org.apache.spark.sql.catalyst.expressions.Year(
            Cast(a(0), org.apache.spark.sql.types.DateType))),
          inputTypes = Seq(org.apache.spark.sql.types.IntegerType))),
        // try_strptime: DuckDB's null-on-parse-failure strptime (round
        // 18). Same C-dialect format translation; failOnError=false is
        // the whole difference.
        aliasFn("try_strptime", (2, 2))(a =>
          GetTimestamp(a(0),
            cFormatLiteral("try_strptime", a(1), forParse = true),
            TimestampType, failOnError = false)),
        // BIT lane (round 18): DuckDB's BIT modeled as its VARCHAR form
        // ('0'/'1' string — what CAST(b AS VARCHAR) yields there, so
        // values compare 1:1). BIT '<bits>' literals arrive via the
        // parse-failure bitLiteralRewrite as graft_bit(...); get_bit/
        // set_bit carry DuckDB's left-0-based index + out-of-range
        // ERROR; bit_count dispatches BIT-string vs integer on the
        // resolved type (BitCountCompat) so Spark's integer form stays.
        // bit_length/octet_length on modeled BIT follow VARCHAR
        // semantics — documented divergence (SURVEY §residue).
        aliasFn("graft_bit", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "bitFromString", Seq(a(0)),
          inputTypes = Seq(StringType))),
        aliasFn("get_bit", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "getBit",
          Seq(a(0), Cast(a(1), org.apache.spark.sql.types.IntegerType)),
          inputTypes = Seq(StringType,
            org.apache.spark.sql.types.IntegerType))),
        aliasFn("set_bit", (3, 3))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "setBit",
          Seq(a(0), Cast(a(1), org.apache.spark.sql.types.IntegerType),
            Cast(a(2), org.apache.spark.sql.types.IntegerType)),
          inputTypes = Seq(StringType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.IntegerType))),
        aliasFn("bitstring", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "bitstring",
          Seq(a(0), Cast(a(1), org.apache.spark.sql.types.IntegerType)),
          inputTypes = Seq(StringType,
            org.apache.spark.sql.types.IntegerType))),
        aliasFn("bit_count", (1, 1))(a =>
          graft.functions.BitCountCompat(a(0))),
        // datesub: COMPLETE calendar intervals (datediff counts
        // boundary crossings — both pinned); date parts via ChronoUnit,
        // sub-day parts over the epoch difference.
        aliasFn("datesub", (3, 3)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val part = a(0)
          val sub = Set("hour", "hours", "h", "minute", "minutes", "min",
            "second", "seconds", "s", "millisecond", "milliseconds",
            "microsecond", "microseconds")
          val p = if (part.foldable) String.valueOf(part.eval(null))
            .toLowerCase else ""
          if (sub(p)) {
            // unix_micros difference (a CAST to BIGINT would be epoch
            // SECONDS); a complete sub-day interval is the truncated
            // quotient
            val us = Subtract(
              UnixMicros(Cast(a(2), org.apache.spark.sql.types.TimestampType)),
              UnixMicros(Cast(a(1), org.apache.spark.sql.types.TimestampType)))
            val unitUs = p match {
              case "hour" | "hours" | "h" => 3600000000L
              case "minute" | "minutes" | "min" => 60000000L
              case "second" | "seconds" | "s" => 1000000L
              case x if x.startsWith("milli") => 1000L
              case _ => 1L
            }
            IntegralDivide(us, Literal(unitUs))
          } else StaticInvoke(
            Class.forName("graft.functions.ScalarCompat"),
            org.apache.spark.sql.types.LongType, "dateSubDays",
            Seq(part, Cast(a(1), org.apache.spark.sql.types.DateType),
              Cast(a(2), org.apache.spark.sql.types.DateType)),
            inputTypes = Seq(StringType,
              org.apache.spark.sql.types.DateType,
              org.apache.spark.sql.types.DateType))
        },
        aliasFn("datetrunc", (2, 2))(a =>
          graft.functions.DuckDateTrunc(a(0), a(1))),
        aliasFn("greatest_common_divisor", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.LongType, "gcd", a,
          inputTypes = Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType))),
        aliasFn("least_common_multiple", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.LongType, "lcm", a,
          inputTypes = Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType))),
        // arithmetic-word spellings: divide = the // operator as a
        // function (trunc integer division on integral args, plain
        // division on floats, NULL on a zero divisor — round 19,
        // host-probed; a StaticInvoke so ConstantFolding can't raise
        // on literal zeros), multiply; fdiv/fmod = FLOORED
        // division/modulo (fmod(-7.5, 2.0) = 0.5 — DuckDB pins the
        // floored form, not C's truncating fmod).
        aliasFn("divide", (2, 2))(a => duckDivideExpr(a(0), a(1))),
        aliasFn("multiply", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.Multiply(a(0), a(1))),
        aliasFn("fdiv", (2, 2)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val x = Cast(a(0), org.apache.spark.sql.types.DoubleType)
          val y = Cast(a(1), org.apache.spark.sql.types.DoubleType)
          Cast(Floor(Divide(x, y)), org.apache.spark.sql.types.DoubleType)
        },
        aliasFn("fmod", (2, 2)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          val x = Cast(a(0), org.apache.spark.sql.types.DoubleType)
          val y = Cast(a(1), org.apache.spark.sql.types.DoubleType)
          Subtract(x, Multiply(
            Cast(Floor(Divide(x, y)), org.apache.spark.sql.types.DoubleType),
            y))
        },
        aliasFn("gamma", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.DoubleType, "gammaFn",
          Seq(Cast(a(0), org.apache.spark.sql.types.DoubleType)),
          inputTypes = Seq(org.apache.spark.sql.types.DoubleType))),
        aliasFn("lgamma", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.DoubleType, "lgammaFn",
          Seq(Cast(a(0), org.apache.spark.sql.types.DoubleType)),
          inputTypes = Seq(org.apache.spark.sql.types.DoubleType))),
        // struct_insert(s, 'name', expr, ...) — the := named args are
        // lowered textually by structInsertRewrite; Spark's UpdateFields
        // REPLACES an existing field where DuckDB errors (documented).
        aliasFn("struct_insert", (3, Int.MaxValue)) { a =>
          import org.apache.spark.sql.catalyst.expressions._
          require(a.size % 2 == 1,
            "struct_insert(struct, 'name', value, ...) — name/value pairs")
          val ops = a.drop(1).grouped(2).map { p =>
            val n = p(0) match {
              case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
                s.toString
              case other => throw new IllegalArgumentException(
                s"struct_insert: field name must be a string literal, got $other")
            }
            WithField(n, p(1))
          }.toSeq
          UpdateFields(a(0), ops)
        },
        // Sequences (sql/Sequences) — nondeterministic by declaration so
        // CSE/constant folding can't collapse or pre-advance them.
        aliasFn("nextval", (1, 1))(a => graft.functions.NextVal(a(0),
          DuckSession(org.apache.spark.sql.SparkSession.active).id)),
        aliasFn("currval", (1, 1))(a => graft.functions.CurrVal(a(0),
          DuckSession(org.apache.spark.sql.SparkSession.active).id)),
        // String-similarity scalars (functions/StringSimilarity —
        // DuckDB-1.0-pinned semantics incl. error texts and the
        // 0.7-threshold Winkler boost); StaticInvoke = codegen-inlined.
        aliasFn("jaccard", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.DoubleType, "jaccardChars", a,
          inputTypes = Seq(StringType, StringType))),
        aliasFn("hamming", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.LongType, "hamming", a,
          inputTypes = Seq(StringType, StringType))),
        aliasFn("mismatches", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.LongType, "hamming", a,
          inputTypes = Seq(StringType, StringType))),
        aliasFn("jaro_similarity", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.DoubleType, "jaro", a,
          inputTypes = Seq(StringType, StringType))),
        aliasFn("jaro_winkler_similarity", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.DoubleType, "jaroWinkler", a,
          inputTypes = Seq(StringType, StringType))),
        aliasFn("damerau_levenshtein", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.StringSimilarity"),
          org.apache.spark.sql.types.LongType, "damerauLevenshtein", a,
          inputTypes = Seq(StringType, StringType))),
        // Select-list generate_series (DuckDB's LIST-returning form —
        // `unnest(generate_series(a, b, step))` per row): Spark's
        // codegen'd Sequence shares DuckDB's INCLUSIVE bounds for both
        // integral and timestamp+interval forms. The same name stays a
        // TVF in FROM position — scalar and table function registries
        // are separate namespaces, exactly like DuckDB's own dual
        // generate_series.
        aliasFn("generate_series", (2, 3))(a =>
          org.apache.spark.sql.catalyst.expressions.Sequence(
            a(0), a(1), a.lift(2))),
        // Unicode normalization (functions/Len.scala StringCompat):
        // strip_accents = NFD + drop combining marks (ß/æ/ł survive,
        // as DuckDB keeps them); nfc_normalize = NFC composition.
        aliasFn("strip_accents", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.StringCompat"),
          StringType, "stripAccents", a, inputTypes = Seq(StringType))),
        aliasFn("nfc_normalize", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.StringCompat"),
          StringType, "nfcNormalize", a, inputTypes = Seq(StringType))),
        // ---- round-16 scalar-parity pack (each value pinned on 1.0 in
        // q135_scalar_parity2 / SqlEntryPointsSpec) ----
        aliasFn("sha256", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Sha2(a(0), Literal(256))),
        aliasFn("gcd", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.LongType, "gcd", a,
          inputTypes = Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType))),
        aliasFn("lcm", (2, 2))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.LongType, "lcm", a,
          inputTypes = Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType))),
        aliasFn("even", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.DoubleType, "even", a,
          inputTypes = Seq(org.apache.spark.sql.types.DoubleType))),
        // DuckDB 1.0 pins signbit(-0.0) = false — it is a value test
        // (x < 0), not an IEEE bit test.
        aliasFn("signbit", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.LessThan(
            Cast(a(0), org.apache.spark.sql.types.DoubleType), Literal(0.0))),
        aliasFn("isinf", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.EqualTo(org.apache.spark.sql.catalyst.expressions.Abs(Cast(a(0), org.apache.spark.sql.types.DoubleType)),
            Literal(Double.PositiveInfinity))),
        aliasFn("isfinite", (1, 1)) { a =>
          val d = Cast(a(0), org.apache.spark.sql.types.DoubleType)
          org.apache.spark.sql.catalyst.expressions.And(
            org.apache.spark.sql.catalyst.expressions.Not(
              org.apache.spark.sql.catalyst.expressions.IsNaN(d)),
            org.apache.spark.sql.catalyst.expressions.Not(
              org.apache.spark.sql.catalyst.expressions.EqualTo(org.apache.spark.sql.catalyst.expressions.Abs(d), Literal(Double.PositiveInfinity))))
        },
        aliasFn("regexp_split_to_array", (2, 2))(a =>
          StringSplit(a(0), a(1), Literal(-1))),
        aliasFn("to_base", (2, 3))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "toBase",
          if (a.size == 3) a else a :+ Literal(0),
          inputTypes = Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.IntegerType))),
        aliasFn("from_hex", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Unhex(a(0))),
        aliasFn("struct_extract", (2, 2))(a =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
            a(0), a(1))),
        // set-returning subscripts of a list's (only) dimension — the
        // generate_series-unnest convention; dim must be the literal 1.
        aliasFn("generate_subscripts", (2, 2)) { a =>
          require(a(1).foldable && String.valueOf(a(1).eval(null)) == "1",
            "generate_subscripts: only dimension 1 exists for lists")
          org.apache.spark.sql.catalyst.expressions.Explode(org.apache.spark.sql.catalyst.expressions.Sequence(
            Literal(1), Size(a(0)), None))
        },
        // Scalar LIST range (the FROM-position TVF is a separate
        // registry, as in DuckDB): EXCLUSIVE stop, empty when the step
        // direction cannot reach it (Spark's Sequence is inclusive and
        // throws on mismatched direction, so both get built explicitly).
        aliasFn("range", (1, 3)) { a =>
          import org.apache.spark.sql.catalyst.expressions.{And => EAnd,
            GreaterThan, GreaterThanOrEqual, If, LessThan => ELt,
            LessThanOrEqual, Or => EOr, Sequence => ESeq}
          def long(e: Expression) = Cast(e, org.apache.spark.sql.types.LongType)
          val (start, stop, step) = a.size match {
            case 1 => (Literal(0L), long(a(0)), Literal(1L))
            case 2 => (long(a(0)), long(a(1)), Literal(1L))
            case _ => (long(a(0)), long(a(1)), long(a(2)))
          }
          val empty = EOr(
            EAnd(GreaterThan(step, Literal(0L)),
              GreaterThanOrEqual(start, stop)),
            EAnd(ELt(step, Literal(0L)), LessThanOrEqual(start, stop)))
          val last = If(GreaterThan(step, Literal(0L)),
            Subtract(stop, Literal(1L)), Add(stop, Literal(1L)))
          If(empty,
            Slice(CreateArray(Seq(start)), Literal(1), Literal(0)),
            ESeq(start, last, Some(step)))
        },
        // DuckDB format(): fmt-style '{}'/'{i}' templates (and '{{'
        // escapes), translated at ANALYSIS onto Spark's codegen'd
        // format_string with positional %n$s specifiers; format specs
        // ('{:.2f}') decline loudly. The template must be a constant —
        // it is in every sane call site.
        aliasFn("format", (1, Int.MaxValue)) { a =>
          require(a.head.foldable && a.head.dataType == StringType,
            "format(template, ...): the template must be a constant string")
          val raw = String.valueOf(a.head.eval(null))
          val sb = new StringBuilder
          // 1-based arg position -> formatter type, for per-arg casts
          // ('f'/'e'/'g' need DOUBLE, 'd'/'x'/'o' need BIGINT; Spark's
          // FormatString hands the raw value to java.util.Formatter,
          // which rejects e.g. Decimal under %f).
          val specCasts = scala.collection.mutable.Map.empty[Int, String]
          var i = 0
          var next = 1 // 1-based %n$s positions
          while (i < raw.length) {
            raw.charAt(i) match {
              case '{' if i + 1 < raw.length && raw.charAt(i + 1) == '{' =>
                sb.append('{'); i += 2
              case '}' if i + 1 < raw.length && raw.charAt(i + 1) == '}' =>
                sb.append('}'); i += 2
              case '{' =>
                val close = raw.indexOf('}', i)
                require(close > 0, s"format: unbalanced '{' in '$raw'")
                val body = raw.substring(i + 1, close)
                val (idxPart, specPart) = body.indexOf(':') match {
                  case -1 => (body, "")
                  case c => (body.substring(0, c), body.substring(c + 1))
                }
                val idx =
                  if (idxPart.isEmpty) { next += 1; next - 1 }
                  else idxPart.toInt + 1
                if (specPart.isEmpty) sb.append(s"%$idx\\$$s")
                else {
                  // fmt-style spec → java.util.Formatter (host-probed):
                  // {:.2f}→3.14, {:>5}→'    x', {:<4}→'y   ', {:d}, {:x},
                  // {:o}, {:e}→1.234568e+04, {:08.3f}, {:+d}, {:10d},
                  // {:,}→123,456,789. Alignment '>' is both engines'
                  // default; '^' (center) and non-zero fill decline.
                  val specRe =
                    "([<>]?)([+ ]?)(#?)(0?)(\\d*)(,?)(?:\\.(\\d+))?([a-zA-Z]?)".r
                  specPart match {
                    case specRe(align, sign, _, zero, width, comma, prec,
                        typ) =>
                      val leftA = if (align == "<") "-" else ""
                      val w = width
                      val p = if (prec == null || prec.isEmpty) "" else s".$prec"
                      val t = if (typ.isEmpty) {
                        if (comma == ",") "d" else "s"
                      } else typ
                      t match {
                        case "f" | "F" | "e" | "E" | "g" | "G" =>
                          sb.append(s"%$idx\\$$$leftA$sign$zero$w$p$t")
                        case "d" =>
                          sb.append(s"%$idx\\$$$leftA$sign$zero$comma${w}d")
                        case "x" | "X" | "o" =>
                          sb.append(s"%$idx\\$$$leftA$zero$w$t")
                        case "s" =>
                          sb.append(s"%$idx\\$$$leftA${w}s")
                        case other => require(false,
                          s"format: '{:$specPart}' — type '$other' is not " +
                            "supported; use printf() for C-style formatting")
                      }
                      // remember the cast this spec needs (1-based arg)
                      specCasts(idx) = t
                    case _ => require(false,
                      s"format: '{:$specPart}' format specifier is not " +
                        "supported — use printf() for C-style formatting")
                  }
                }
                i = close + 1
              case '%' => sb.append("%%"); i += 1
              case c => sb.append(c); i += 1
            }
          }
          org.apache.spark.sql.catalyst.expressions.FormatString(
            (Literal(sb.toString.replace("\\$", "$")) +:
              a.tail.zipWithIndex.map { case (arg, i0) =>
                specCasts.get(i0 + 1) match {
                  case Some("f" | "F" | "e" | "E" | "g" | "G") =>
                    Cast(arg, org.apache.spark.sql.types.DoubleType)
                  case Some("d" | "x" | "X" | "o") =>
                    Cast(arg, org.apache.spark.sql.types.LongType)
                  case _ => Cast(arg, StringType)
                }
              }): _*)
        },
        // age(a, b) = the instant difference as a day-time interval —
        // value-identical to DuckDB's mixed interval under epoch/pandas
        // comparison (DuckDB's month decomposition flattens the same).
        aliasFn("age", (2, 2))(a =>
          new org.apache.spark.sql.catalyst.expressions.SubtractTimestamps(
            Cast(a(0), TimestampType), Cast(a(1), TimestampType))),
        aliasFn("to_days", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Cast(a(0), org.apache.spark.sql.types.IntegerType), Literal(0))),
        aliasFn("to_hours", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Literal(0), Cast(a(0), org.apache.spark.sql.types.IntegerType))),
        aliasFn("to_minutes", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Literal(0), Literal(0),
            Cast(a(0), org.apache.spark.sql.types.IntegerType))),
        aliasFn("to_seconds", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Literal(0), Literal(0), Literal(0),
            Cast(a(0), org.apache.spark.sql.types.DecimalType(18, 6)))),
        aliasFn("to_months", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.MakeYMInterval(
            Literal(0), Cast(a(0), org.apache.spark.sql.types.IntegerType))),
        aliasFn("to_years", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.MakeYMInterval(
            Cast(a(0), org.apache.spark.sql.types.IntegerType), Literal(0))),
        // The longer to_* constructors (round 18): weeks scale to days,
        // the sub-second pair to fractional seconds, and the
        // decade/century/millennium trio to years — DuckDB's own
        // decompositions (to_decades(1) = 3600 days = 10 years).
        aliasFn("to_weeks", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Cast(org.apache.spark.sql.catalyst.expressions.Multiply(Cast(a(0),
              org.apache.spark.sql.types.LongType), Literal(7L)),
              org.apache.spark.sql.types.IntegerType), Literal(0))),
        aliasFn("to_milliseconds", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Literal(0), Literal(0), Literal(0),
            Cast(org.apache.spark.sql.catalyst.expressions.Divide(
              Cast(a(0), org.apache.spark.sql.types.DoubleType),
              Literal(1000.0)), org.apache.spark.sql.types.DecimalType(18, 6)))),
        aliasFn("to_microseconds", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.MakeDTInterval(
            Literal(0), Literal(0), Literal(0),
            Cast(org.apache.spark.sql.catalyst.expressions.Divide(
              Cast(a(0), org.apache.spark.sql.types.DoubleType),
              Literal(1000000.0)), org.apache.spark.sql.types.DecimalType(18, 6)))),
        aliasFn("to_decades", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.MakeYMInterval(
            Cast(org.apache.spark.sql.catalyst.expressions.Multiply(Cast(a(0),
              org.apache.spark.sql.types.LongType), Literal(10L)),
              org.apache.spark.sql.types.IntegerType), Literal(0))),
        aliasFn("to_centuries", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.MakeYMInterval(
            Cast(org.apache.spark.sql.catalyst.expressions.Multiply(Cast(a(0),
              org.apache.spark.sql.types.LongType), Literal(100L)),
              org.apache.spark.sql.types.IntegerType), Literal(0))),
        aliasFn("to_millennia", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.MakeYMInterval(
            Cast(org.apache.spark.sql.catalyst.expressions.Multiply(Cast(a(0),
              org.apache.spark.sql.types.LongType), Literal(1000L)),
              org.apache.spark.sql.types.IntegerType), Literal(0))),
        // DuckDB encode(str) = UTF-8 BLOB / decode(blob) = string; the
        // 2-arg charset forms keep Spark's native behavior.
        aliasFn("encode", (1, 2))(a =>
          if (a.size == 1) Cast(a(0), org.apache.spark.sql.types.BinaryType)
          else org.apache.spark.sql.catalyst.expressions.Encode(a(0), a(1))),
        // 3+ args = Spark's native variadic decode(expr, search, result,
        // ..., default) — delegate so the alias doesn't shadow it.
        aliasFn("decode", (1, Int.MaxValue))(a =>
          if (a.size == 1) Cast(a(0), StringType)
          else if (a.size == 2)
            org.apache.spark.sql.catalyst.expressions.StringDecode(a(0), a(1))
          else org.apache.spark.sql.catalyst.expressions.Decode.createExpr(a)),
        // product(): Spark carries the aggregate internally (used by its
        // own pandas parity) but registers no SQL name; DuckDB does.
        aliasFn("product", (1, 1))(a =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.Product(
            Cast(a(0), org.apache.spark.sql.types.DoubleType))
            .toAggregateExpression()),
        // txid_current(): a session-monotonic statement id — each
        // statement analysis is its own implicit transaction here.
        aliasFn("txid_current", (0, 0))(_ =>
          Literal(GraftSparkExtensions.txidCounter.incrementAndGet())),
        // setseed(): Spark's rand(seed) seeds per-expression, not
        // per-session — a silent no-op would hide that, so warn once.
        aliasFn("setseed", (1, 1)) { _ =>
          if (warnedMaintenance.add("setseed"))
            System.err.println("graft: setseed() is a no-op — Spark " +
              "seeds randomness per expression: rand(42)")
          Literal(null, org.apache.spark.sql.types.NullType)
        },
        // ---- round-16 parity pack, second sweep batch ----
        aliasFn("to_hex", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Hex(a(0))),
        aliasFn("unicode", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "unicodeCp", a,
          inputTypes = Seq(StringType))),
        aliasFn("ord", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.IntegerType, "unicodeCp", a,
          inputTypes = Seq(StringType))),
        aliasFn("bar", (4, 4))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          StringType, "bar", a,
          inputTypes = Seq(org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType,
            org.apache.spark.sql.types.DoubleType))),
        // trunc: the 1-arg numeric form is DuckDB's toward-zero truncate
        // (double-preserving); the 2-arg form keeps Spark's native
        // trunc(date, fmt).
        aliasFn("trunc", (1, 2))(a =>
          if (a.size == 2)
            org.apache.spark.sql.catalyst.expressions.TruncDate(a(0), a(1))
          else StaticInvoke(
            Class.forName("graft.functions.ScalarCompat"),
            org.apache.spark.sql.types.DoubleType, "trunc", a,
            inputTypes = Seq(org.apache.spark.sql.types.DoubleType))),
        aliasFn("week", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.WeekOfYear(
            Cast(a(0), org.apache.spark.sql.types.DateType))),
        // isodow: Monday = 1 .. Sunday = 7 (Spark's weekday is Monday=0)
        aliasFn("isodow", (1, 1))(a =>
          org.apache.spark.sql.catalyst.expressions.Add(
            org.apache.spark.sql.catalyst.expressions.WeekDay(
              Cast(a(0), org.apache.spark.sql.types.DateType)), Literal(1))),
        aliasFn("yearweek", (1, 1))(a => StaticInvoke(
          Class.forName("graft.functions.ScalarCompat"),
          org.apache.spark.sql.types.LongType, "yearWeek",
          Seq(Cast(a(0), org.apache.spark.sql.types.DateType)),
          inputTypes = Seq(org.apache.spark.sql.types.DateType))),
        // julian day number of a DATE: unix days + 2440588 (pinned:
        // julian(DATE '1970-01-01') = 2440588.0)
        aliasFn("julian", (1, 1))(a =>
          Cast(org.apache.spark.sql.catalyst.expressions.Add(
            org.apache.spark.sql.catalyst.expressions.UnixDate(
              Cast(a(0), org.apache.spark.sql.types.DateType)),
            Literal(2440588)), org.apache.spark.sql.types.DoubleType)),
        // timezone(tz, x) = DuckDB's function spelling of AT TIME ZONE:
        // same syntactic source dispatch as the textual rewrite — an
        // operand that is itself an instant source takes the
        // instant→wall direction, everything else is a wall clock.
        aliasFn("timezone", (2, 2)) { a =>
          val instantSource = a(1).exists {
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if f.nameParts.size == 1 =>
              Seq("to_utc_timestamp", "now", "current_timestamp",
                "get_current_timestamp")
                .contains(f.nameParts.head.toLowerCase)
            case _ => false
          }
          if (instantSource)
            org.apache.spark.sql.catalyst.expressions.FromUTCTimestamp(
              Cast(a(1), TimestampType), a(0))
          else
            org.apache.spark.sql.catalyst.expressions.ToUTCTimestamp(
              Cast(a(1), TimestampType), a(0))
        },
        aliasFn("editdist3", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.Levenshtein(a(0), a(1))),
        aliasFn("list_zip", (2, 2))(a =>
          org.apache.spark.sql.catalyst.expressions.ArraysZip(a)),
        aliasFn("list_any_value", (1, 1))(a =>
          graft.functions.DuckIndex(
            org.apache.spark.sql.catalyst.expressions.ArrayCompact(a(0)),
            Literal(1))),
        aliasFn("list_select", (2, 2)) { a =>
          val i = UnresolvedNamedLambdaVariable(Seq("gls_i"))
          org.apache.spark.sql.catalyst.expressions.ArrayTransform(a(1),
            LambdaFunction(graft.functions.DuckIndex(a(0), i), Seq(i)))
        },
        aliasFn("list_where", (2, 2)) { a =>
          val x = UnresolvedNamedLambdaVariable(Seq("glw_x"))
          val m = UnresolvedNamedLambdaVariable(Seq("glw_m"))
          val s = UnresolvedNamedLambdaVariable(Seq("glw_s"))
          val zipped = org.apache.spark.sql.catalyst.expressions.ZipWith(
            a(0), a(1),
            LambdaFunction(
              org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(
                Seq(Literal("v"), x, Literal("k"), m)), Seq(x, m)))
          val kept = org.apache.spark.sql.catalyst.expressions.ArrayFilter(
            zipped, LambdaFunction(
              org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
                s, Literal("k")), Seq(s)))
          val s2 = UnresolvedNamedLambdaVariable(Seq("glw_t"))
          org.apache.spark.sql.catalyst.expressions.ArrayTransform(kept,
            LambdaFunction(
              org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
                s2, Literal("v")), Seq(s2)))
        },
        // grade_up: the 1-based positions that would sort the list —
        // (value, position) pairs struct-sorted, positions extracted.
        aliasFn("list_grade_up", (1, 1)) { a =>
          val s = UnresolvedNamedLambdaVariable(Seq("glg_s"))
          org.apache.spark.sql.catalyst.expressions.ArrayTransform(
            org.apache.spark.sql.catalyst.expressions.SortArray(
              org.apache.spark.sql.catalyst.expressions.ArraysZip(Seq(a(0),
                org.apache.spark.sql.catalyst.expressions.Sequence(
                  Literal(1), Size(a(0)), None))), Literal(true)),
            LambdaFunction(
              org.apache.spark.sql.catalyst.expressions.GetStructField(
                s, 1, None), Seq(s)))
        },
        // current_setting(name): the Spark conf value (string) or NULL —
        // DuckDB's pragma-reading diagnostic, pointed at this engine's
        // configuration space.
        aliasFn("current_setting", (1, 1)) { a =>
          require(a(0).foldable && a(0).dataType == StringType,
            "current_setting(name): the name must be a constant string")
          val name = String.valueOf(a(0).eval(null))
          // The host's own setting names map onto this engine's
          // equivalents where one exists (TimeZone → the session zone).
          val mapped = name match {
            case "TimeZone" | "timezone" => "spark.sql.session.timeZone"
            case other => other
          }
          val v = try org.apache.spark.sql.SparkSession.active.conf
            .getOption(mapped).orNull
          catch { case scala.util.control.NonFatal(_) => null }
          if (v == null) Literal(null, StringType) else Literal(v)
        })
    } ++ sweep13Fns
  }

  /** date_part/datepart: Spark-native for a scalar field (via extract —
    * the same registry target), the host's STRUCT form for a list of
    * parts. Fields the host defines differently are [[duckExtract]]'s.
    */
  private def datePartExpr(a: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, CreateNamedStruct, Literal}
    import org.apache.spark.sql.types.LongType
    def onePart(name: String, forStruct: Boolean): Expression =
      duckExtract(name, a(1)).getOrElse {
        val native = org.apache.spark.sql.catalyst.expressions.Extract
          .createExpr("date_part", Literal(name.toLowerCase), a(1))
        // struct fields are BIGINT on the host; the scalar form keeps
        // Spark's native result type (pre-override behavior).
        if (forStruct) Cast(native, LongType) else native
      }
    a(0) match {
      case org.apache.spark.sql.catalyst.expressions.CreateArray(parts, _)
          if parts.nonEmpty && parts.forall(p =>
            p.foldable && p.dataType == StringType) =>
        val names = parts.map(p => String.valueOf(p.eval(null)))
        CreateNamedStruct(names.flatMap(n =>
          Seq(Literal(n), onePart(n, forStruct = true))))
      case f if f.foldable && f.dataType == StringType =>
        onePart(String.valueOf(f.eval(null)), forStruct = false)
      case _ =>
        org.apache.spark.sql.catalyst.expressions.Extract
          .createExpr("date_part", a(0), a(1))
    }
  }

  /** Thirteenth-sweep pack (round 20): silent-wrong-value overrides and
    * missing host names found by differential probing. The overrides
    * deliberately replace Spark natives whose semantics DIVERGE from the
    * host on identical text (the monthname/dayname precedent): any_value
    * skips NULLs, two-arg ltrim/rtrim/trim take (string, chars) — Spark's
    * argument order is REVERSED — concat skips NULLs after casting every
    * argument to VARCHAR, chr is a code point (Spark: mod-256),
    * dayofweek/weekday are 0-based-Sunday (Spark: 1-based / Monday-0),
    * left/right accept negative counts. All host shapes probed against
    * DuckDB 1.0 (2026-08-16).
    */
  private def sweep13Fns
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, ArrayTransform,
      Cast, ConcatWs, CreateArray, CurrentDate, CurrentTimestamp, DayOfWeek,
      Greatest, Literal, Pmod, Size, Slice, Subtract}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, First}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
      TimestampType}
    val sc = Class.forName("graft.functions.ScalarCompat")
    def trimFn(name: String,
        mk: (Expression, Option[Expression]) => Expression) =
      aliasFn(name, (1, 2))(a =>
        mk(a(0), if (a.size == 2) Some(a(1)) else None))
    Seq(
      // First(ignoreNulls = true): the host's any_value skips NULLs;
      // Spark's returns the first value INCLUDING a leading NULL — a
      // silent wrong value on any column with NULL gaps. SQL text never
      // reaches this builder (the parser constructs AnyValue directly —
      // the ConcatDialect rule flips that one); this covers the
      // name-routed DataFrame path, ignoring an explicit second arg the
      // same way the host ignores the concept. The in-argument ORDER BY
      // form routes through OrderedAggRewrite and already carries the
      // first-NON-NULL contract (q175).
      aliasFn("any_value", (1, 2))(a =>
        First(a(0), ignoreNulls = true).toAggregateExpression()),
      trimFn("ltrim", (s, t) =>
        org.apache.spark.sql.catalyst.expressions.StringTrimLeft(s, t)),
      trimFn("rtrim", (s, t) =>
        org.apache.spark.sql.catalyst.expressions.StringTrimRight(s, t)),
      trimFn("trim", (s, t) =>
        org.apache.spark.sql.catalyst.expressions.StringTrim(s, t)),
      aliasFn("left", (2, 2))(a => StaticInvoke(sc, StringType, "duckLeft",
        Seq(a(0), Cast(a(1), LongType)),
        inputTypes = Seq(StringType, LongType))),
      aliasFn("right", (2, 2))(a => StaticInvoke(sc, StringType, "duckRight",
        Seq(a(0), Cast(a(1), LongType)),
        inputTypes = Seq(StringType, LongType))),
      // Host concat: arguments cast to VARCHAR, NULLs SKIPPED ('a' ||
      // NULL stays NULL — the || operator parses to Concat directly,
      // not through the registry). Spark 4 routes functions.concat by
      // NAME too, and this repo concatenates ARRAYS through it
      // (Triangles, Bpe), so the choice between the host's stringify
      // and Spark's array concat needs RESOLVED types: a marker the
      // ConcatDialect resolution rule replaces (all-array → native
      // Concat; anything else → NULL-skipping string path).
      aliasFn("concat", (1, Int.MaxValue))(a => DuckConcatMarker(a)),
      aliasFn("chr", (1, 1))(a => StaticInvoke(sc, StringType, "duckChr",
        Seq(Cast(a(0), LongType)), inputTypes = Seq(LongType))),
      // Sunday = 0 .. Saturday = 6 on the host for BOTH names (Spark:
      // dayofweek Sunday=1, weekday Monday=0). isodow templates were
      // repointed off the Spark weekday accordingly.
      aliasFn("dayofweek", (1, 1))(a =>
        Subtract(DayOfWeek(a(0)), Literal(1))),
      aliasFn("weekday", (1, 1))(a =>
        Subtract(DayOfWeek(a(0)), Literal(1))),
      aliasFn("geomean", (1, 1))(a =>
        org.apache.spark.sql.catalyst.expressions.Exp(
          Average(org.apache.spark.sql.catalyst.expressions.Log(
            Cast(a(0), DoubleType))).toAggregateExpression())),
      aliasFn("geometric_mean", (1, 1))(a =>
        org.apache.spark.sql.catalyst.expressions.Exp(
          Average(org.apache.spark.sql.catalyst.expressions.Log(
            Cast(a(0), DoubleType))).toAggregateExpression())),
      aliasFn("group_concat", (1, 2))(a =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          "string_agg",
          Seq(a(0), if (a.size == 2) a(1) else Literal(",")),
          isDistinct = false)),
      aliasFn("xor", (2, 2))(a =>
        org.apache.spark.sql.catalyst.expressions.BitwiseXor(
          Cast(a(0), LongType), Cast(a(1), LongType))),
      aliasFn("strlen", (1, 1))(a =>
        org.apache.spark.sql.catalyst.expressions.Length(a(0))),
      aliasFn("length_grapheme", (1, 1))(a =>
        StaticInvoke(sc, LongType, "lengthGrapheme", Seq(a(0)),
          inputTypes = Seq(StringType))),
      aliasFn("graft_glob", (2, 2))(a => StaticInvoke(sc,
        org.apache.spark.sql.types.BooleanType, "globMatch",
        Seq(a(0), a(1)), inputTypes = Seq(StringType, StringType))),
      // slice(l, 1, 0) is the canonical same-typed empty list.
      aliasFn("array_pop_back", (1, 1))(a =>
        Slice(a(0), Literal(1),
          Greatest(Seq(Subtract(Size(a(0)), Literal(1)), Literal(0))))),
      aliasFn("array_pop_front", (1, 1))(a =>
        Slice(a(0), Literal(2),
          Greatest(Seq(Subtract(Size(a(0)), Literal(1)), Literal(0))))),
      aliasFn("list_apply", (2, 2))(a => ArrayTransform(a(0), a(1))),
      aliasFn("apply", (2, 2))(a => ArrayTransform(a(0), a(1))),
      aliasFn("get_current_timestamp", (0, 0))(_ => CurrentTimestamp()),
      aliasFn("transaction_timestamp", (0, 0))(_ => CurrentTimestamp()),
      aliasFn("array_value", (1, Int.MaxValue))(a => CreateArray(a)),
      // age(x) = age(current_date, x) on the host; the 2-arg form keeps
      // the earlier registration's day-time-interval contract (this
      // appended pack replaces it in the registry, so both arities live
      // here now).
      aliasFn("age", (1, 2))(a =>
        new org.apache.spark.sql.catalyst.expressions.SubtractTimestamps(
          if (a.size == 2) Cast(a(0), TimestampType)
          else Cast(CurrentDate(), TimestampType),
          Cast(a(if (a.size == 2) 1 else 0), TimestampType))),
      // stats(): the host's per-chunk statistics diagnostic; for a
      // constant the chunk IS the value, so the host string shape is
      // reproducible exactly. Column inputs decline with the manual form.
      aliasFn("stats", (1, 1)) { a =>
        if (!a(0).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            "USER_RAISED_EXCEPTION", Map("errorMessage" ->
              ("stats(col) reads the host's per-chunk storage " +
                "statistics, which have no Spark equivalent — use " +
                "SUMMARIZE or min/max/count aggregates instead")))
        val v = a(0).eval(null)
        if (v == null)
          Literal("[Min: NULL, Max: NULL][Has Null: true, Has No Null: " +
            "false][Approx Unique: 1]")
        else
          Literal(s"[Min: $v, Max: $v][Has Null: false, Has No Null: " +
            "true][Approx Unique: 1]")
      },
      // datepart/date_part with a LIST of parts returns the host's
      // STRUCT{part: BIGINT, ...} (datepart(['year','month'], d)).
      // Scalar fields delegate to Spark's native extract; fields Spark
      // rejects or mis-bases are duckExtract's. Registered over the
      // native name, so the scalar form must behave identically to
      // before (extract ≡ date_part in Spark's registry).
      aliasFn("datepart", (2, 2))(a => datePartExpr(a)),
      aliasFn("date_part", (2, 2))(a => datePartExpr(a)),
      // EXTRACT(field FROM x): Spark's parser builds a call of extract,
      // so statements and expression fragments both arrive here.
      aliasFn("extract", (2, 2)) { a =>
        import org.apache.spark.sql.catalyst.expressions.Extract
        Some(a(0)).filter(f => f.foldable && f.dataType == StringType)
          .flatMap(f => duckExtract(String.valueOf(f.eval(null)), a(1)))
          .getOrElse(new Extract(a(0), a(1)))
      },
      // alias(): the name a bare column reference binds under; for
      // other expressions the host prints the expression text.
      aliasFn("alias", (1, 1)) { a =>
        a(0) match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            Literal(u.nameParts.last)
          case l: Literal => Literal(String.valueOf(l.value))
          case e => Literal(e.sql.toLowerCase)
        }
      })
  }

  /** DuckDB's `time_bucket(width, ts)`: floor-align `ts` to a grid of
    * constant-width buckets. DuckDB's origins reproduced exactly —
    * 2000-01-03 00:00:00 (a Monday, so week buckets start Monday) for
    * day-and-below widths, 2000-01-01 for month/year widths. Built from
    * native integer expressions (`t - pmod(t - origin, w)` on epoch
    * micros; month grid via add_months), all inside whole-stage codegen —
    * no UDF. Always returns TIMESTAMP (DuckDB returns DATE for DATE
    * input — cast if needed); the optional origin/offset third argument
    * is not supported.
    */
  private def timeBucket(width: Expression, ts: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, AddMonths, Cast,
      Literal, Month, Multiply, Pmod, Subtract, UnixMicros, Year}
    import org.apache.spark.sql.types.{DateType, DayTimeIntervalType,
      IntegerType, LongType, TimestampType, YearMonthIntervalType}
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))
    if (!width.foldable)
      fail("time_bucket: the bucket width must be a constant INTERVAL")
    val t = Cast(ts, TimestampType)
    width.dataType match {
      case _: DayTimeIntervalType =>
        val w = width.eval(null).asInstanceOf[Long] // micros
        if (w <= 0) fail("time_bucket: width must be positive")
        // Monday 2000-01-03 00:00:00 UTC in epoch micros.
        val origin = 946857600000000L
        val tm = UnixMicros(t)
        val floored = Subtract(tm,
          Pmod(Subtract(tm, Literal(origin)), Literal(w)))
        org.apache.spark.sql.catalyst.expressions.MicrosToTimestamp(floored)
      case _: YearMonthIntervalType =>
        val m = width.eval(null).asInstanceOf[Int] // months
        if (m <= 0) fail("time_bucket: width must be positive")
        // Months since 2000-01: floor to the m-grid, back via add_months.
        val monthsSince = Add(
          Multiply(Subtract(Year(t), Literal(2000)), Literal(12)),
          Subtract(Month(t), Literal(1)))
        val k = Subtract(monthsSince, Pmod(monthsSince, Literal(m)))
        Cast(AddMonths(Cast(Literal.create(
          java.time.LocalDate.of(2000, 1, 1), DateType), DateType), k),
          TimestampType)
      case other => fail(
        s"time_bucket: unsupported width type ${other.simpleString} — use " +
          "a constant INTERVAL of one unit family (e.g. INTERVAL '15 " +
          "minutes' or INTERVAL '2 months'); the 3-argument origin/offset " +
          "form is not supported")
    }
  }

  /** NULL-skipping double-precision fold behind list_sum/list_avg: DuckDB
    * sums a list's non-NULL elements; Spark has no array_sum, so this is
    * `aggregate(l, 0.0, (acc, x) -> acc + coalesce(cast x, 0.0))`. The
    * result type is DOUBLE regardless of element type (DuckDB keeps
    * integer sums integral — the one documented divergence; cast the
    * result when exactness matters).
    */
  private def listDoubleSum(arr: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Cast,
      Coalesce, LambdaFunction, Literal, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.types.DoubleType
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
    ArrayAggregate(arr, Literal(0.0),
      LambdaFunction(Add(acc,
        Coalesce(Seq(Cast(x, DoubleType), Literal(0.0)))), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** DuckDB's empty-or-all-NULL list contract for list_sum/list_avg:
    * NULL, not 0.
    */
  private def listNullIfEmpty(arr: Expression, value: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayCompact, EqualTo,
      If, Literal, Size}
    If(EqualTo(Size(ArrayCompact(arr)), Literal(0)),
      Literal(null, org.apache.spark.sql.types.DoubleType), value)
  }

  /** Evaluate a constant C-dialect format argument and translate it to a
    * JVM pattern literal ([[graft.functions.StringCompat.cFormatToJvm]]).
    */
  private def cFormatLiteral(fn: String, fmtExpr: Expression,
      forParse: Boolean): Expression = {
    def fail(msg: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))
    if (!fmtExpr.foldable)
      fail(s"$fn requires a constant format string")
    val raw = fmtExpr.eval(null)
    if (raw == null) fail(s"$fn format must not be NULL")
    graft.functions.StringCompat.cFormatToJvm(raw.toString, forParse) match {
      case Right(jvm) =>
        org.apache.spark.sql.catalyst.expressions.Literal(UTF8String.fromString(jvm), StringType)
      case Left(code) =>
        fail(s"$fn: format directive '$code' has no Spark/JVM equivalent " +
          "(supported: %Y %y %m %d %H %I %M %S %f %j %a %A %b %B %p, " +
          "%-x unpadded forms, %%) — use date_format/to_timestamp with a " +
          "JVM DateTimeFormatter pattern for anything else")
    }
  }

  /** DuckDB's `glob('pattern')` TVF — one `file` column of matching
    * paths. Driver-side listing through the Hadoop filesystem of the
    * pattern (so dbfs/s3a/hdfs URIs glob too, not just local files),
    * sorted ascending like DuckDB's output; bounded by the match count
    * (file LISTING, not file contents).
    */
  val globFn = driverFn("glob(pattern)", 1 to 1, StructType.fromDDL("file STRING")) {
    (spark, v) =>
      val pattern = asString(v(0))
      val p = new org.apache.hadoop.fs.Path(pattern)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // Scheme-less local patterns list as bare paths (DuckDB's local
      // output); a schemed URI pattern (s3a://, hdfs://) must keep its
      // scheme+authority or the returned paths resolve against the
      // wrong filesystem downstream.
      val schemed = pattern.contains("://")
      val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .map(st => if (schemed) st.getPath.toString else st.getPath.toUri.getPath)
        .sorted
      matches.map(org.apache.spark.sql.Row(_))
  }

  /** DuckDB's parquet introspection TVFs ([[graft.sources.ParquetIntrospect]]):
    * footer reads fan out across executors; only the file LISTING runs
    * at analysis (bounded, same as a scan's file index).
    */
  private def parquetIntrospectFn(name: String)(
      build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info(name), (args: Seq[Expression]) => {
      val v = constArgs(s"$name(path_glob)", args, 1 to 1)
      val spark = org.apache.spark.sql.SparkSession.active
      build(spark, asString(v(0))).queryExecution.analyzed
    })
  val parquetMetadataFn = parquetIntrospectFn("parquet_metadata")(
    graft.sources.ParquetIntrospect.metadata)
  val parquetSchemaFn = parquetIntrospectFn("parquet_schema")(
    graft.sources.ParquetIntrospect.schemaOf)
  val parquetFileMetadataFn = parquetIntrospectFn("parquet_file_metadata")(
    graft.sources.ParquetIntrospect.fileMetadata)

  /** Embedding math as native codegen'd expressions (graft.functions).
    * Arity is validated here (builders index into args): a wrong-arity
    * call must read as a signature error, not IndexOutOfBoundsException.
    */
  private def checkArity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.size != n) throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" -> s"$fn expects exactly $n argument(s), got ${args.size}"))
  val vectorCosineFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vector_cosine"), info("vector_cosine"),
      (args: Seq[Expression]) => {
        checkArity("vector_cosine(array<float>, array<float>)", args, 2)
        graft.functions.CosineSimilarity(args(0), args(1))
      })
  val vectorNormFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vector_norm"), info("vector_norm"),
      (args: Seq[Expression]) => {
        checkArity("vector_norm(array<float>)", args, 1)
        graft.functions.VectorNorm(args(0))
      })

  private def asString(v: Any): String = v match {
    case s: UTF8String => s.toString
    case s: String => s
    case other => String.valueOf(other)
  }

  private def asDouble(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case s: UTF8String => s.toString.toDouble
    case other => other.toString.toDouble
  }

  /** The one argument check of graft's table functions (the reference's
    * bind phase, highs_extension.cpp:229-258): an argument count within
    * `arity`, each argument a constant that is not NULL. Returns their
    * values; `signature` names the function in the errors.
    */
  private[sql] def constArgs(signature: String, args: Seq[Expression],
      arity: Range): IndexedSeq[Any] = {
    val name = signature.takeWhile(_ != '(')
    if (!arity.contains(args.size))
      throw new IllegalArgumentException(s"$signature — got ${args.size} arguments")
    require(args.forall(_.foldable), s"$name arguments must be constants")
    val v = args.map(_.eval(null)).toIndexedSeq
    require(v.forall(_ != null), s"$name arguments must be non-NULL constants")
    v
  }

  /** A table function whose rows are computed on the driver
    * ([[DriverTableFunction]]): the builder checks the arguments and
    * returns a [[DriverRows]] node, or a [[TableFunctionCommand]] when
    * the function `writes`.
    */
  private def driverFn(signature: String, arity: Range, schema: StructType,
      writes: Boolean = false)(
      rows: (org.apache.spark.sql.SparkSession, IndexedSeq[Any]) => Seq[org.apache.spark.sql.Row])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = {
    val f = new DriverTableFunction(signature.takeWhile(_ != '('), schema)(rows)
    (FunctionIdentifier(f.name), info(f.name), (args: Seq[Expression]) => {
      val v = constArgs(signature, args, arity)
      val output = DataTypeUtils.toAttributes(schema)
      if (writes) TableFunctionCommand(f, v, output) else DriverRows(f, v, output)
    })
  }

  private def asBool(v: Any): Boolean = v match {
    case b: java.lang.Boolean => b.booleanValue()
    case s: UTF8String => s.toString.toBoolean
    case other => other.toString.toBoolean
  }

  private def asInt(v: Any): Int = v match {
    case n: java.lang.Number => n.intValue()
    case other => other.toString.toInt
  }

  /** `ASOF JOIN` SQL entry point. DuckDB ≥0.10 (the reference's host —
    * MainDistributionPipeline.yml:29) parses `ASOF JOIN` natively; Spark's
    * parser cannot be extended that far, so the engine exposes the same
    * semantics as a table function over named (temp-view or catalog)
    * tables:
    *
    * {{{
    * SELECT * FROM asof_join('events_v', 'orders_v', 'user_id',
    *                         'ts', 'ot', 'last_order'[, strict[, inner]])
    * }}}
    *
    * Unlike the driver-side functions ([[DriverRows]]) this collects
    * nothing and computes no rows: the builder
    * resolves the two table names against the session catalog, constructs
    * the linear union+window as-of plan ([[graft.operators.AsOfJoin]] —
    * one hash shuffle, no pair inflation), and splices that DISTRIBUTED
    * logical plan into the outer query, where Catalyst keeps optimizing
    * through it (the window's exchange stays reusable downstream).
    */
  val asofJoinFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("asof_join"), info("asof_join"), (args: Seq[Expression]) => {
      val v = constArgs("asof_join(left_table, right_table, on, left_order, right_order, " +
          "payload_csv[, strict[, inner[, forward]]])",
        args, 6 to 9)
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.operators.AsOfJoin.asofJoinMulti(
        left = spark.table(asString(v(0))),
        right = spark.table(asString(v(1))),
        // CSV for composite keys ('sym,venue'); single names unchanged.
        on = asString(v(2)).split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq,
        leftOrder = asString(v(3)),
        rightOrder = asString(v(4)),
        payload = asString(v(5)).split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq,
        strict = if (args.size >= 7) asBool(v(6)) else false,
        inner = if (args.size >= 8) asBool(v(7)) else true,
        forward = if (args.size >= 9) asBool(v(8)) else false)
      out.queryExecution.analyzed
    })

  /** `WITH RECURSIVE` SQL entry point — the other syntax DuckDB parses
    * that Spark's parser cannot ([[graft.operators.Fixpoint]] carries the
    * semantics). The step is an arbitrary SQL statement over the magic
    * view name `__frontier` (each round's newly-discovered rows):
    *
    * {{{
    * SELECT * FROM fixpoint('seed_v',
    *   'SELECT e.dst FROM __frontier f JOIN edges_v e ON e.src = f.dst'[, max_rounds])
    * }}}
    *
    * Semi-naive evaluation, same engine as the Scala API: the step SQL is
    * re-analyzed each round against that round's materialized frontier,
    * rounds run at analysis time of the outer statement, and the returned
    * plan is the flat multi-scan of the disjoint frontier files —
    * distributed, never collected.
    *
    * `fixpoint`, `fixpoint_keyed`, `dedup` and `pivot_auto` are the table
    * functions that still work while their call is analysed (EXPLAIN runs
    * them too): their result is a distributed plan whose SCHEMA comes from
    * running user SQL, so no node can carry their output before they run.
    * Every other graft table function checks its arguments
    * ([[constArgs]]) and at most builds a plan at analysis; of those,
    * only `positional_join` starts jobs there (`zipWithIndex` sizes its
    * inputs' partitions).
    */
  val fixpointFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("fixpoint"), info("fixpoint"), (args: Seq[Expression]) => {
      val v = constArgs("fixpoint(seed_table, step_sql[, max_rounds[, buckets]])",
        args, 2 to 4)
      val spark = org.apache.spark.sql.SparkSession.active
      val stepSql = asString(v(1))
      require(stepSql.contains("__frontier"),
        "fixpoint step SQL must reference the frontier via the view name __frontier")
      val maxRounds = if (args.size >= 3) asInt(v(2)) else 64
      // buckets sizes the reached tables' layout, exactly like sizing a
      // shuffle: defaults to spark.sql.shuffle.partitions; pass a small
      // value for a known-small closure (per-round cost includes one
      // write task + file per bucket).
      val buckets = if (args.size >= 4) asInt(v(3)) else 0
      // The magic name is rewritten to a per-call unique view so
      // concurrent fixpoint() calls in one session cannot clobber each
      // other's frontier, and the view is dropped when the run ends.
      val viewName =
        s"__frontier_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val boundStep = stepSql.replace("__frontier", viewName)
      val seedDf = tableOrSql(spark, asString(v(0)))
      val seedCols = seedDf.columns.toIndexedSeq
      val out =
        try graft.operators.Fixpoint.iterate(
          seedDf,
          frontier => {
            frontier.createOrReplaceTempView(viewName)
            val stepOut = spark.sql(boundStep)
            // POSITIONAL column matching, the recursive-CTE convention
            // (a step `SELECT e.dst FROM __frontier ...` needn't alias
            // its output back to the seed's names).
            require(stepOut.columns.length == seedCols.length,
              s"fixpoint step returned ${stepOut.columns.length} columns; " +
                s"the seed has ${seedCols.length} (${seedCols.mkString(", ")})")
            stepOut.toDF(seedCols: _*)
          },
          maxRounds, buckets)
        finally { spark.catalog.dropTempView(viewName); () }
      out.queryExecution.analyzed
    })

  /** Resolve a TVF's relation argument: a bare name goes through the
    * session catalog, a leading SELECT or '(' is executed as SQL — the
    * form the USING KEY rewrite needs, since a textual rewrite cannot
    * register views.
    */
  private[sql] def tableOrSql(spark: org.apache.spark.sql.SparkSession,
      s: String): org.apache.spark.sql.DataFrame = {
    val t = s.trim
    val up = t.toUpperCase
    if (Seq("SELECT", "FROM ", "VALUES", "WITH ", "TABLE ").exists(up.startsWith)
      || t.startsWith("(")) spark.sql(t)
    else spark.table(t)
  }

  /** `WITH RECURSIVE ... USING KEY` SQL entry point
    * ([[graft.operators.Fixpoint.iterateKeyed]] carries the semantics:
    * one row per key, step output upserts, frontier = changed rows,
    * stop on no change):
    *
    * {{{
    * SELECT * FROM fixpoint_keyed(
    *   'SELECT 1 AS x, 0 AS v',                      -- seed (name or SQL)
    *   'SELECT x, v+1 FROM __frontier WHERE v < 3',  -- step over the
    *   'x'[, max_rounds[, buckets]])                 --   changed rows
    * }}}
    *
    * The literal DuckDB `WITH RECURSIVE r USING KEY (...)` statement also
    * lands here via the hint parser's tier-1 rewrite
    * ([[UsingKeyRewrite]]). Same contract as `fixpoint`: rounds run at
    * analysis, the returned plan unions the
    * round tables with per-key latest-round resolution, nothing is
    * collected.
    */
  val fixpointKeyedFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("fixpoint_keyed"), info("fixpoint_keyed"), (args: Seq[Expression]) => {
      val v = constArgs("fixpoint_keyed(seed_table_or_sql, step_sql, key_csv" +
          "[, max_rounds[, buckets]])",
        args, 3 to 5)
      val spark = org.apache.spark.sql.SparkSession.active
      val stepSql = asString(v(1))
      // __recurring = DuckDB's `recurring.<name>` relation: the
      // accumulated one-row-per-key state as of the round's start. A step
      // may reference the frontier, the recurring state, or both.
      val usesRecurring = stepSql.contains("__recurring")
      require(stepSql.contains("__frontier") || usesRecurring,
        "fixpoint_keyed step SQL must reference the changed rows via the view " +
          "name __frontier (and/or the accumulated state via __recurring)")
      val keys = asString(v(2)).split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
      require(keys.nonEmpty, "fixpoint_keyed needs at least one key column")
      val maxRounds = if (args.size >= 4) asInt(v(3)) else 64
      val buckets = if (args.size >= 5) asInt(v(4)) else 0
      val runTag = java.util.UUID.randomUUID().toString.replace("-", "")
      val viewName = s"__frontier_$runTag"
      val recViewName = s"__recurring_$runTag"
      val boundStep =
        stepSql.replace("__recurring", recViewName).replace("__frontier", viewName)
      val out =
        try graft.operators.Fixpoint.iterateKeyedWithState(
          tableOrSql(spark, asString(v(0))),
          (frontier, state) => {
            frontier.createOrReplaceTempView(viewName)
            if (usesRecurring) state().createOrReplaceTempView(recViewName)
            spark.sql(boundStep)
          },
          keys, maxRounds, buckets)
        finally {
          spark.catalog.dropTempView(viewName)
          if (usesRecurring) spark.catalog.dropTempView(recViewName)
          ()
        }
      out.queryExecution.analyzed
    })

  /** Corpus near-dedup SQL entry point — the iterative dedup pipeline
    * (LSH candidates → exact verify → min-label propagation to
    * convergence → anti-join) is not expressible as one SQL statement, so
    * SQL-only users reach it as a table function over a named table with
    * (doc_id, text) columns:
    *
    * {{{
    * SELECT doc_id FROM dedup('docs_v', 0.8[, max_rounds])
    * }}}
    *
    * The propagation runs at analysis time (an iterative pipeline cannot
    * be a lazy plan — one of the four exceptions named at
    * [[fixpointFn]]); the spliced result is the corpus anti-joined
    * against the materialized drop set, distributed, nothing collected. Threshold 1.0 takes the one-shuffle
    * exact-hash path. Component labels are memoized per (canonicalized
    * corpus plan, threshold), so SQL and Scala calls over the same corpus
    * share a single LSH + propagation run.
    */
  val dedupFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("dedup"), info("dedup"), (args: Seq[Expression]) => {
      val v = constArgs("dedup(table, threshold[, max_rounds])",
        args, 2 to 3)
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.operators.Dedup.deduplicate(
        spark.table(asString(v(0))), asDouble(v(1)),
        maxRounds = if (args.size >= 3) asInt(v(2)) else 64)
      out.queryExecution.analyzed
    })

  /** Span-level scrub SQL entry point
    * ([[graft.operators.TextAnalysis.scrubDupSpans]]): unlike `dedup` this
    * is a PURE plan splice — the whole scrub is one lazy distributed plan
    * (inverted index + semi-join + per-doc rebuild), nothing runs at
    * analysis and Catalyst optimizes through it:
    *
    * {{{
    * SELECT doc_id, dup_tokens, clean_text
    * FROM span_scrub('docs_v'[, n[, min_df]])
    * }}}
    */
  val spanScrubFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("span_scrub"), info("span_scrub"), (args: Seq[Expression]) => {
      val v = constArgs("span_scrub(table[, n[, min_df]])",
        args, 1 to 3)
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.operators.TextAnalysis.scrubDupSpans(
        spark.table(asString(v(0))),
        n = if (args.size >= 2) asInt(v(1)) else 10,
        minDf = if (args.size >= 3) asInt(v(2)).toLong else 2L)
      out.queryExecution.analyzed
    })

  /** DuckDB-style `SUMMARIZE` as a table function
    * ([[graft.operators.Summarize]]): row per column, exact counts/min/max,
    * one aggregate job over the named (temp-view or catalog) table or
    * query. The literal statement `SUMMARIZE t` also lands here via the
    * hint parser's rewrite to `SELECT * FROM summarize('t')`. The result
    * is one row per COLUMN, computed on the driver when the statement
    * executes ([[DriverRows]]); EXPLAIN runs no stats job.
    */
  val summarizeFn = driverFn("summarize(table)", 1 to 1, graft.operators.Summarize.schema) {
    (spark, v) => graft.operators.Summarize.rows(tableOrSql(spark, asString(v(0))))
  }

  /** DuckDB's `PIVOT` STATEMENT (`PIVOT t ON c USING agg [GROUP BY g]`)
    * as a table function — dynamic pivot-column discovery, which Spark's
    * SQL PIVOT cannot do (it demands an IN list) but the Dataset API can
    * (`groupBy().pivot(col)` collects the distinct values itself: one
    * bounded distinct job at analysis — the COLUMN set must exist before
    * the plan does; one of the four exceptions named at [[fixpointFn]]).
    * Omitting `group_csv` reproduces DuckDB's default: group by every
    * column that is neither pivoted nor consumed by the aggregate
    * (detected textually against the source schema). The literal PIVOT
    * statement lands here via [[PivotRewrite]].
    */
  val pivotAutoFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("pivot_auto"), info("pivot_auto"), (args: Seq[Expression]) => {
      val v = constArgs("pivot_auto(table_or_sql, on_col[, agg_sql[, group_csv[, " +
          "in_values_csv]]])",
        args, 2 to 5)
      val spark = org.apache.spark.sql.SparkSession.active
      val src = tableOrSql(spark, asString(v(0)))
      // ON may be a CSV of columns (DuckDB's multi-ON pivot): the pivot
      // key becomes the '_'-joined combination, which is exactly DuckDB's
      // combined-value column naming (`v1_v2`).
      val onCols = asString(v(1)).split(",").map(_.trim).filter(_.nonEmpty)
      require(onCols.nonEmpty, "pivot_auto: empty ON column list")
      val aggSql = if (args.size >= 3) asString(v(2)) else "count(*)"
      val groupCsv = if (args.size >= 4) asString(v(3)) else ""
      val valuesCsv = if (args.size >= 5) asString(v(4)) else ""
      val cols = src.columns
      for (c <- onCols) require(cols.exists(_.equalsIgnoreCase(c)),
        s"pivot_auto: column '$c' not in (${cols.mkString(", ")})")
      // DuckDB's USING list: one or more aggregates, each optionally
      // `AS alias` (top-level AS only — `CAST(x AS t)` inside parens is
      // not an alias). Multiple aggregates need aliases: DuckDB names
      // those columns `<value>_<alias>`, and without an alias the two
      // engines' auto-generated names cannot match.
      def splitAlias(a: String): (String, Option[String]) =
        DuckLexer(a).topLevelWords.reverse.find(_._1 == "AS") match {
          case Some((_, pos)) =>
            (a.take(pos).trim, Some(a.drop(pos + 2).trim))
          case None => (a.trim, None)
        }
      val aggParts = DuckLexer(aggSql).split(',').map(splitAlias)
      require(aggParts.size == 1 || aggParts.forall(_._2.isDefined),
        "pivot_auto: multiple USING aggregates each need an AS alias")
      val groups: Seq[String] =
        if (groupCsv.trim.nonEmpty) groupCsv.split(",").map(_.trim).toSeq
        else {
          // A column is "consumed by the aggregate" when its name appears
          // as a data reference — an identifier NOT followed by '(' (a
          // column named `count` must not be dropped just because the
          // aggregate text says count(*)). Aliases are excluded from the
          // scan: `sum(v) AS v2` must not capture a column named v2.
          val aggLower = aggParts.map(_._1).mkString(" ").toLowerCase
          cols.toSeq.filterNot(c => onCols.exists(_.equalsIgnoreCase(c)) ||
            ("\\b" + java.util.regex.Pattern.quote(c.toLowerCase) + "\\b(?!\\s*\\()").r
              .findFirstIn(aggLower).isDefined)
        }
      // An explicit IN value list (DuckDB `PIVOT t ON c IN (...)`) skips
      // the distinct-discovery job — the 100 TB form. Values are SQL
      // literals: quoted strings, numbers, booleans.
      def parseVal(s0: String): Any = {
        val s = s0.trim
        if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
          s.substring(1, s.length - 1).replace("''", "'")
        else if (s.equalsIgnoreCase("true")) java.lang.Boolean.TRUE
        else if (s.equalsIgnoreCase("false")) java.lang.Boolean.FALSE
        else scala.util.Try[Any](s.toLong)
          .orElse(scala.util.Try[Any](s.toDouble)).getOrElse(s)
      }
      val inValues = DuckLexer(valuesCsv).split(',')
        .map(_.trim).filter(_.nonEmpty).map(parseVal)
      import org.apache.spark.sql.functions.{col, concat_ws, expr}
      require(onCols.length == 1 || inValues.isEmpty,
        "pivot_auto: an IN value list needs a single ON column")
      val pivotKey =
        if (onCols.length == 1) col(onCols.head)
        else concat_ws("_", onCols.map(col): _*)
      val grouped = src.groupBy(groups.map(col): _*)
      val pivotSpec =
        if (inValues.nonEmpty) grouped.pivot(pivotKey, inValues)
        else grouped.pivot(pivotKey)
      val aggCols = aggParts.map { case (e, al) =>
        al.map(expr(e).as(_)).getOrElse(expr(e)) }
      val pivoted = pivotSpec.agg(aggCols.head, aggCols.tail: _*)
      // Spark drops a SINGLE aggregate's alias from the pivot column
      // names (`<value>` not `<value>_<alias>`); DuckDB keeps it. Put it
      // back so aliased single-aggregate pivots hash-compare.
      val aliased = (aggParts, aggParts.head._2) match {
        case (Seq(_), Some(al)) =>
          pivoted.toDF(pivoted.columns.map(c =>
            if (groups.exists(_.equalsIgnoreCase(c))) c else s"${c}_$al"): _*)
        case _ => pivoted
      }
      // DuckDB fills a COUNT pivot's absent combinations with 0 (other
      // aggregates stay NULL); Spark's pivot yields NULL for every
      // absent cell — match DuckDB for count-shaped aggregates. With
      // multiple aggregates only the count-shaped aliases' columns fill.
      def countShaped(e: String) =
        """(?i)\Acount\s*\(""".r.findFirstIn(e.trim).isDefined
      val countAliases = aggParts.collect {
        case (e, Some(al)) if countShaped(e) => al.toLowerCase }
      val out =
        if (aggParts.size == 1 && countShaped(aggParts.head._1))
          aliased.na.fill(0, aliased.columns
            .filterNot(c => groups.exists(_.equalsIgnoreCase(c))))
        else if (countAliases.nonEmpty)
          aliased.na.fill(0, aliased.columns.filter(c =>
            countAliases.exists(al => c.toLowerCase.endsWith("_" + al))))
        else aliased
      out.queryExecution.analyzed
    })

  /** DuckDB's `UNION [ALL|DISTINCT] BY NAME` set operation as a table
    * function — the landing pad for [[UnionByNameRewrite]], also callable
    * directly. Each branch is a table name or a query (parsed with the
    * session's extended parser, so a branch may itself contain BY NAME,
    * FROM-first, QUALIFY, …); the combination is Spark's native
    * `unionByName(allowMissingColumns = true)` — by-name alignment,
    * NULL-fill for one-sided columns, left-then-right-only column order,
    * exactly DuckDB's semantics. `all = false` (plain UNION BY NAME)
    * deduplicates. A pure lazy plan splice: both branches stay
    * distributed scans Catalyst keeps optimizing through (the union
    * itself is a zero-shuffle operator; the distinct form shuffles once
    * on all columns, same as any UNION DISTINCT).
    */
  val unionByNameFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("union_by_name"), info("union_by_name"), (args: Seq[Expression]) => {
      val v = constArgs("union_by_name(left_table_or_sql, right_table_or_sql[, all])",
        args, 2 to 3)
      val spark = org.apache.spark.sql.SparkSession.active
      val merged = tableOrSql(spark, asString(v(0)))
        .unionByName(tableOrSql(spark, asString(v(1))), allowMissingColumns = true)
      val out = if (args.size >= 3 && !asBool(v(2))) merged.distinct() else merged
      out.queryExecution.analyzed
    })

  /** `INTERSECT`/`EXCEPT [ALL] BY NAME` — the rest of DuckDB's BY NAME
    * set-operation family ([[UnionByNameRewrite]] routes the non-UNION
    * operators here). Both branches align to the name-superset first
    * (left columns then right-only columns, NULL-fill, Spark's own
    * unionByName type coercion — a zero-row union against the other
    * side's empty frame, so no data moves), then Spark's native
    * intersect/intersectAll/except/exceptAll runs distributed (one
    * shuffle on all columns, the same cost DuckDB's hashed set ops
    * pay).
    */
  val setopByNameFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("setop_by_name"), info("setop_by_name"), (args: Seq[Expression]) => {
      val v = constArgs("setop_by_name(left_table_or_sql, right_table_or_sql, " +
          "'intersect|intersect_all|except|except_all')",
        args, 3 to 3)
      val spark = org.apache.spark.sql.SparkSession.active
      val l = tableOrSql(spark, asString(v(0)))
      val r = tableOrSql(spark, asString(v(1)))
      val lAligned = l.unionByName(r.limit(0), allowMissingColumns = true)
      val rAligned = r.unionByName(l.limit(0), allowMissingColumns = true)
        .select(lAligned.columns.map(org.apache.spark.sql.functions.col): _*)
      val out = asString(v(2)).toLowerCase match {
        case "intersect" => lAligned.intersect(rAligned)
        case "intersect_all" => lAligned.intersectAll(rAligned)
        case "except" => lAligned.except(rAligned)
        case "except_all" => lAligned.exceptAll(rAligned)
        case other => throw new IllegalArgumentException(
          s"setop_by_name: unknown op '$other' " +
            "(intersect, intersect_all, except, except_all)")
      }
      out.queryExecution.analyzed
    })

  /** DuckDB's `POSITIONAL JOIN` — row-N-to-row-N alignment, the shorter
    * side NULL-padded (DuckDB docs "Positional Joins"; the friendly-SQL
    * way to stitch two equally-ordered frames). Spark has no row-order
    * join, so each side gets an explicit index via `zipWithIndex` (one
    * pass, order = the side's own row order) and the result is a full
    * outer join on that index. Scale note: this operator is INHERENTLY
    * order-defined — at cluster scale row order is the file listing
    * order, the same contract DuckDB gives for parquet scans; the
    * zipWithIndex pass breaks codegen fusion for the two inputs, which
    * is the unavoidable price of materializing a row number without an
    * order-defining column (use asof_join or a real key when one
    * exists — the Scaladoc of both says so).
    */
  val positionalJoinFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("positional_join"), info("positional_join"), (args: Seq[Expression]) => {
      val v = constArgs("positional_join(left_table_or_sql, right_table_or_sql)",
        args, 2 to 2)
      val spark = org.apache.spark.sql.SparkSession.active
      import org.apache.spark.sql.{DataFrame, Row}
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      def indexed(df: DataFrame, idxName: String): DataFrame = {
        val schema = StructType(df.schema.fields :+
          StructField(idxName, LongType, nullable = false))
        spark.createDataFrame(
          df.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ i) },
          schema)
      }
      val l = indexed(tableOrSql(spark, asString(v(0))), "__graft_lpos")
      val r = indexed(tableOrSql(spark, asString(v(1))), "__graft_rpos")
      // Side-qualified references keep duplicate column NAMES intact in
      // the output (DuckDB keeps both sides' columns verbatim).
      val joined = l.join(r, l("__graft_lpos") === r("__graft_rpos"), "full_outer")
      val sel = l.columns.filterNot(_ == "__graft_lpos").map(l(_)) ++
        r.columns.filterNot(_ == "__graft_rpos").map(r(_))
      joined.orderBy(org.apache.spark.sql.functions
          .coalesce(l("__graft_lpos"), r("__graft_rpos")))
        .select(sel.toIndexedSeq: _*)
        .queryExecution.analyzed
    })

  /** The marker + separators [[namedReaderCallRewrite]] uses to ship
    * DuckDB named reader options (`read_csv('f', header = true)`)
    * through one ordinary string argument: the named pairs cannot stay
    * as parsed (`key = value` is an EqualTo over a column the analyzer
    * kills BEFORE any TVF builder runs), so the pre-delegation rewrite
    * folds them into `'<marker>key<US>value<RS>...'` and the builder
    * decodes. ASCII RS/US separators — never part of a real option.
    */
  private[sql] val NamedOptsMarker = "__graft_named__"

  private def namedReaderArgs(name: String, args: Seq[Expression],
      maxPositional: Int): (IndexedSeq[Any], Map[String, Any]) = {
    val vs = constArgs(s"$name(path[, ...])", args, 1 to Int.MaxValue)
    val (pos, named) = vs.lastOption.collect {
      case s if asString(s).startsWith(NamedOptsMarker) =>
        val body = asString(s).stripPrefix(NamedOptsMarker)
        val m = body.split('\u001E').iterator.filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('\u001F')
          kv.substring(0, i).toLowerCase -> (kv.substring(i + 1): Any)
        }.toMap
        (vs.init, m)
    }.getOrElse((vs, Map.empty[String, Any]))
    if (pos.size > maxPositional) throw new IllegalArgumentException(
      s"$name(path[, ...]) takes at most $maxPositional positional " +
        "arguments; pass further options as key = value, or use " +
        "spark.read.option(...) directly")
    (pos, named)
  }

  /** Apply DuckDB reader options onto a DataFrameReader: `mapped` keys
    * pass through 1:1, `ignored` keys are detection knobs Spark's own
    * inference replaces, anything else declines loudly (an option like
    * ignore_errors CHANGES RESULTS — swallowing it would silently
    * diverge).
    */
  private def applyReaderOpts(name: String,
      reader: org.apache.spark.sql.DataFrameReader, opts: Map[String, Any],
      mapped: Map[String, String], ignored: Set[String])
      : org.apache.spark.sql.DataFrameReader = {
    opts.foldLeft(reader) { case (r, (k, x)) =>
      mapped.get(k) match {
        case Some(sparkKey) =>
          val s = x match {
            case b: java.lang.Boolean => b.toString
            case other => asString(other)
          }
          r.option(sparkKey, s)
        case None if ignored.contains(k) => r
        case None => throw new IllegalArgumentException(
          s"$name: unsupported option '$k' (supported: " +
            s"${mapped.keys.toSeq.sorted.mkString(", ")}; " +
            "use spark.read.option(...) for the rest)")
      }
    }
  }

  /** DuckDB's file-reading table functions (`read_parquet`, `read_csv`,
    * `read_csv_auto`, `read_json`, `read_json_auto` — the first line of
    * most pasted DuckDB scripts) as PURE lazy plan splices: the path
    * (globs included — Spark's reader expands them) becomes a normal
    * distributed datasource scan that Catalyst keeps optimizing through,
    * pushdown and pruning intact. CSV/JSON get schema inference
    * (DuckDB's auto-detection equivalent; one extra sampling pass at
    * plan time — at 100 TB declare the schema instead:
    * spark.read.schema(...)). DuckDB's named options arrive folded by
    * [[namedReaderCallRewrite]]; unsupported ones raise a clear error
    * naming the DataFrameReader options.
    */
  private def namedReaderFn(name: String, maxPositional: Int)(
      build: (org.apache.spark.sql.SparkSession, IndexedSeq[Any],
        Map[String, Any]) => org.apache.spark.sql.DataFrame)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info(name), (args: Seq[Expression]) => {
      val (pos, named) = namedReaderArgs(name, args, maxPositional)
      require(pos.nonEmpty, s"$name: the path must be positional")
      build(org.apache.spark.sql.SparkSession.active, pos, named)
        .queryExecution.analyzed
    })

  val readParquetFn = namedReaderFn("read_parquet", 1) { (spark, v, o) =>
    applyReaderOpts("read_parquet", spark.read, o,
      Map("union_by_name" -> "mergeSchema"),
      Set("hive_partitioning", "filename", "binary_as_string"))
      .parquet(asString(v(0)))
  }
  private val csvOptMap = Map(
    "header" -> "header", "delim" -> "sep", "sep" -> "sep",
    "delimiter" -> "sep", "quote" -> "quote", "escape" -> "escape",
    "nullstr" -> "nullValue", "dateformat" -> "dateFormat",
    "timestampformat" -> "timestampFormat", "comment" -> "comment")
  /** DuckDB `ignore_errors = true` → Spark `mode = DROPMALFORMED`, the
    * semantics-changing reader option that must NOT be silently ignored
    * (both skip unparseable records instead of failing). Documented
    * divergence, warned once per session: DuckDB skips at CAST
    * granularity during its own parse, Spark drops whole malformed
    * records under the inferred schema — row sets can differ on inputs
    * where only some casts fail.
    */
  private def ignoreErrorsMode(name: String,
      reader: org.apache.spark.sql.DataFrameReader, o: Map[String, Any])
      : (org.apache.spark.sql.DataFrameReader, Map[String, Any]) =
    o.get("ignore_errors") match {
      case Some(x) =>
        val on = x match {
          case b: java.lang.Boolean => b.booleanValue()
          case other => asString(other).equalsIgnoreCase("true")
        }
        if (on && warnedMaintenance.add(s"$name.ignore_errors"))
          System.err.println(s"graft: $name ignore_errors maps to Spark " +
            "mode=DROPMALFORMED — malformed RECORDS are dropped whole " +
            "(DuckDB skips at cast granularity; row sets can differ on " +
            "partially-malformed rows)")
        (if (on) reader.option("mode", "DROPMALFORMED") else reader,
          o - "ignore_errors")
      case None => (reader, o)
    }

  /** DuckDB's `columns={'name': 'TYPE'}` explicit-schema option (round
    * 18): the rewrite folds the brace form to a DDL string; the
    * length-less DuckDB type spellings normalize to Spark's
    * (VARCHAR/TEXT/BPCHAR → STRING, BLOB → BINARY) and the schema
    * applies via reader.schema(), which also disables inference.
    */
  private def applyColumnsSchema(name: String,
      reader: org.apache.spark.sql.DataFrameReader, o: Map[String, Any])
      : (org.apache.spark.sql.DataFrameReader, Map[String, Any]) =
    o.get("columns") match {
      case Some(ddl0) =>
        val ddl = "(?i)\\b(?:VARCHAR|TEXT|BPCHAR)\\b(?!\\s*\\()".r
          .replaceAllIn("(?i)\\bBLOB\\b".r
            .replaceAllIn(asString(ddl0), "BINARY"), "STRING")
        val schema =
          try org.apache.spark.sql.types.StructType.fromDDL(ddl)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new org.apache.spark.sql.AnalysisException(
                "USER_RAISED_EXCEPTION",
                Map("errorMessage" ->
                  (s"$name columns={...}: could not parse the declared " +
                    s"schema '$ddl' — ${e.getMessage}")))
          }
        (reader.schema(schema), o - "columns")
      case None => (reader, o)
    }

  private def csvReader(spark: org.apache.spark.sql.SparkSession,
      v: IndexedSeq[Any], o: Map[String, Any]): org.apache.spark.sql.DataFrame = {
    val base0 = spark.read
      .option("header", (if (v.size >= 2) asBool(v(1))
        else o.get("header").map(asBool).getOrElse(true)).toString)
      .option("sep", if (v.size >= 3) asString(v(2)) else ",")
      .option("inferSchema", "true")
    val (base1, o1) = applyColumnsSchema("read_csv", base0, o)
    val (base, opts) = ignoreErrorsMode("read_csv", base1, o1)
    applyReaderOpts("read_csv", base, opts - "header", csvOptMap - "header",
      Set("auto_detect", "sample_size", "compression", "parallel",
        "all_varchar")).csv(asString(v(0)))
  }
  val readCsvFn = namedReaderFn("read_csv", 3)(csvReader)
  val readCsvAutoFn = namedReaderFn("read_csv_auto", 3)(csvReader)
  private def jsonReader(spark: org.apache.spark.sql.SparkSession,
      v: IndexedSeq[Any], o: Map[String, Any]): org.apache.spark.sql.DataFrame = {
    // DuckDB format='array' = one JSON array per file → Spark multiLine.
    val base0 = o.get("format").map(asString(_).toLowerCase) match {
      case Some("array") => spark.read.option("multiLine", "true")
      case _ => spark.read
    }
    val (base1, o1) = applyColumnsSchema("read_json", base0, o)
    val (base, opts) = ignoreErrorsMode("read_json", base1, o1)
    applyReaderOpts("read_json", base, opts - "format",
      Map("dateformat" -> "dateFormat", "timestampformat" -> "timestampFormat"),
      Set("auto_detect", "sample_size", "compression", "records",
        "maximum_object_size")).json(asString(v(0)))
  }
  val readJsonFn = namedReaderFn("read_json", 1)(jsonReader)
  val readJsonAutoFn = namedReaderFn("read_json_auto", 1)(jsonReader)

  /** DuckDB's `generate_series` table function — INCLUSIVE stop bound
    * (DuckDB's own `range` TVF is exclusive, same as Spark's native
    * `range`, which already parses — only the inclusive variant needs
    * injecting). Forms: (stop) = 0..stop, (start, stop), (start, stop,
    * step) with negative steps counting down. Splices Spark's
    * distributed Range plan (parallel, codegen'd — not a LocalRelation)
    * with DuckDB's output column name `generate_series`. An empty
    * series (start past stop) yields zero rows, as DuckDB does.
    */
  val generateSeriesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("generate_series"), info("generate_series"),
      (args: Seq[Expression]) => {
        // Temporal form: DATE/TIMESTAMP bounds with an INTERVAL step —
        // DuckDB returns TIMESTAMPs even for DATE bounds (pinned on
        // 1.0), so both bounds cast to TIMESTAMP and the series
        // splices Spark's codegen'd sequence() + explode (inclusive
        // end, same as the integer form).
        val temporal = args.exists { e =>
          try e.dataType match {
            case org.apache.spark.sql.types.DateType |
              org.apache.spark.sql.types.TimestampType |
              org.apache.spark.sql.types.TimestampNTZType => true
            case _: org.apache.spark.sql.types.YearMonthIntervalType |
              _: org.apache.spark.sql.types.DayTimeIntervalType => true
            case org.apache.spark.sql.types.CalendarIntervalType => true
            case _ => false
          } catch { case scala.util.control.NonFatal(_) => false }
        }
        if (temporal) {
          if (args.size != 3) throw new IllegalArgumentException(
            "generate_series(start, stop, step) — the temporal form " +
              "needs all three arguments (an INTERVAL step)")
          org.apache.spark.sql.SparkSession.active.sql(
            s"SELECT explode(sequence(CAST(${args(0).sql} AS TIMESTAMP), " +
              s"CAST(${args(1).sql} AS TIMESTAMP), ${args(2).sql})) " +
              "AS generate_series").queryExecution.analyzed
        } else {
        val v = constArgs("generate_series([start,] stop[, step])", args, 1 to 3)
        def asLong(x: Any): Long = x match {
          case n: java.lang.Number => n.longValue()
          case other => other.toString.toLong
        }
        val (start, stop) =
          if (args.size == 1) (0L, asLong(v(0))) else (asLong(v(0)), asLong(v(1)))
        val step = if (args.size >= 3) asLong(v(2)) else 1L
        require(step != 0, "generate_series step must be non-zero")
        val spark = org.apache.spark.sql.SparkSession.active
        // Inclusive bound: nudge the exclusive end by ±1 (NOT a full
        // step — generate_series(0, 10, 3) stops at 9; end 10+3 would
        // wrongly emit 12) unless the series is empty in the step's
        // direction. The nudge overflows at Long's extremes — raise a
        // named error there instead of silently returning the empty
        // series the wrapped end would produce.
        require(!(step > 0 && stop == Long.MaxValue) &&
          !(step < 0 && stop == Long.MinValue),
          "generate_series: a stop bound at Long.MaxValue/MinValue is not " +
            "representable (the inclusive end cannot be extended)")
        val empty = if (step > 0) start > stop else start < stop
        val out =
          if (empty) spark.range(start, start)
          else spark.range(start, stop + (if (step > 0) 1L else -1L), step)
        out.select(org.apache.spark.sql.functions.col("id").as("generate_series"))
          .queryExecution.analyzed
        }
      })

  /** Spark type → DuckDB type spelling, for [[duckDescribeFn]].
    * Covers the full testdata footprint plus the recursive composites;
    * TIMESTAMP_NTZ spells as DuckDB's zone-less TIMESTAMP (the same
    * value mapping the events lane uses under the UTC session pin).
    */
  private def duckTypeName(dt: DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => duckTypeName(e) + "[]"
      case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
      case StructType(fields) =>
        fields.map(f => s"${f.name} ${duckTypeName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      case other => other.sql
    }
  }

  private val describeSchema = StructType.fromDDL("column_name STRING, " +
    "column_type STRING, `null` STRING, key STRING, `default` STRING, extra STRING")

  /** DuckDB-shaped DESCRIBE as a table function: one row per column
    * with DuckDB's exact six-column header and type spellings. The
    * literal `DESCRIBE t` / `DESC t` statement routes here ONLY under
    * `spark.graft.duckdbDescribe=true` — Spark has its own native
    * DESCRIBE output, and hijacking it by default would change stock
    * behavior; the TVF itself is always callable.
    */
  val duckDescribeFn = driverFn("duck_describe(table)", 1 to 1, describeSchema) { (spark, v) =>
    spark.table(asString(v(0))).schema.map { f =>
      org.apache.spark.sql.Row(f.name, duckTypeName(f.dataType),
        if (f.nullable) "YES" else "NO", null, null, null)
    }
  }

  /** Spark → DuckDB type spelling for the exported schema.sql manifest.
    * Spark's own `DataType.sql` emits ARRAY<INT> / STRUCT<a: INT> /
    * STRING, none of which DuckDB's parser accepts — the manifest's
    * "DuckDB-runnable" contract needs DuckDB's INT[] / STRUCT("a" INT) /
    * MAP(K, V) / VARCHAR spellings. Spark TIMESTAMP (session-TZ,
    * UTC-adjusted in parquet) maps to TIMESTAMPTZ; TIMESTAMP_NTZ to
    * DuckDB's plain TIMESTAMP.
    */
  private[sql] def duckTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "VARCHAR"
      case _: VarcharType | _: CharType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMPTZ"
      case TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BLOB"
      case ArrayType(et, _) => s"${duckTypeOf(et)}[]"
      case MapType(k, v, _) => s"MAP(${duckTypeOf(k)}, ${duckTypeOf(v)})"
      case s: StructType =>
        s.fields.map(f => s""""${f.name}" ${duckTypeOf(f.dataType)}""")
          .mkString("STRUCT(", ", ", ")")
      case _: DayTimeIntervalType | _: YearMonthIntervalType => "INTERVAL"
      case other => other.sql // NullType etc. — no DuckDB spelling; leave loud
    }
  }

  /** Statement kinds already warned about as no-ops (one stderr line
    * per kind per JVM).
    */
  private[sql] val warnedMaintenance =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val tableInfoSchema = StructType.fromDDL("cid INT, name STRING, " +
    "type STRING, notnull BOOLEAN NOT NULL, dflt_value STRING, pk BOOLEAN NOT NULL")

  /** DuckDB's `pragma_table_info` table function (also the target of the
    * `PRAGMA table_info('t')` statement rewrite): one row per column with
    * DuckDB's exact header and type spellings. `pk`/`notnull` reflect the
    * temp-table layer's declared PRIMARY KEY ([[TempTables.Facts]]) —
    * PK columns are NOT NULL in DuckDB — plus the relation's own
    * nullability; declared DEFAULTs aren't tracked (dflt_value NULL).
    */
  val tableInfoFn = driverFn("pragma_table_info(table)", 1 to 1, tableInfoSchema) {
    (spark, v) =>
      val tbl = asString(v(0))
      val pkCols = TempTables.facts(spark, tbl).keys.getOrElse(Nil).map(_.toLowerCase).toSet
      spark.table(tbl).schema.zipWithIndex.map { case (f, i) =>
        val isPk = pkCols.contains(f.name.toLowerCase)
        org.apache.spark.sql.Row(i, f.name, duckTypeName(f.dataType),
          isPk || !f.nullable, null, isPk)
      }
  }

  /** `PRAGMA show_tables` — DuckDB's one-column (name) listing of the
    * session's tables, sorted.
    */
  val showTablesFn = driverFn("duck_show_tables()", 0 to 0, StructType.fromDDL("name STRING")) {
    (spark, _) => listTables(spark).map(t => org.apache.spark.sql.Row(t.name))
  }

  /** A table as `spark.catalog.listTables()` reports it. */
  private case class ListedTable(name: String, temporary: Boolean, database: String,
      description: Option[String])

  /** The tables `spark.catalog.listTables()` lists — the current
    * database's and the local temp views — sorted by name, read from the
    * session catalog: `listTables()` itself runs a Spark job to list them.
    */
  private def listTables(spark: org.apache.spark.sql.SparkSession): Seq[ListedTable] = {
    val cat = spark.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase).map { id =>
      val temp = cat.isTempView(id)
      val description =
        if (temp) None
        else scala.util.Try(cat.getTableMetadata(id).comment).toOption.flatten
      ListedTable(id.table, temp, id.database.getOrElse("memory"), description)
    }.sortBy(_.name)
  }

  private val duckdbTablesSchema = StructType.fromDDL(
    "database_name STRING, schema_name STRING, table_name STRING, " +
      "temporary BOOLEAN, comment STRING")

  /** DuckDB's `duckdb_tables()` system TVF (the columns scripts read:
    * database/schema/table names, temporary flag, COMMENT ON text).
    * Temp views report DuckDB's (temp, main) address; catalog tables
    * their own database, with Spark's table-level comment as fallback.
    */
  val duckdbTablesFn = driverFn("duckdb_tables()", 0 to 0, duckdbTablesSchema) {
    (spark, _) =>
      listTables(spark).map { t =>
        val comment = TempTables.facts(spark, t.name).comment
          .orElse(t.description.filter(_.nonEmpty))
        org.apache.spark.sql.Row(if (t.temporary) "temp" else t.database, "main",
          t.name, t.temporary, comment.orNull)
      }
  }

  private val duckdbColumnsSchema = StructType.fromDDL(
    "database_name STRING, schema_name STRING, table_name STRING, " +
      "column_name STRING, column_index INT, data_type STRING, comment STRING")

  /** DuckDB's `duckdb_columns()` system TVF: one row per column of every
    * visible table, 1-based column_index, DuckDB type spellings, COMMENT
    * ON text.
    */
  val duckdbColumnsFn = driverFn("duckdb_columns()", 0 to 0, duckdbColumnsSchema) {
    (spark, _) =>
      listTables(spark).flatMap { t =>
        val schema =
          try spark.table(t.name).schema
          catch { case scala.util.control.NonFatal(_) =>
            org.apache.spark.sql.types.StructType(Nil) }
        val facts = TempTables.facts(spark, t.name)
        schema.zipWithIndex.map { case (f, i) =>
          org.apache.spark.sql.Row(if (t.temporary) "temp" else t.database,
            "main", t.name, f.name, i + 1, duckTypeName(f.dataType),
            facts.columnComments.get(f.name.toLowerCase).orNull)
        }
      }
  }

  import org.apache.spark.sql.Row

  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    driverFn("highs_create_variables(model_name, variable_name, lower_bound, " +
        "upper_bound, objective_coefficient, variable_type)", 6 to 6,
        HighsFunctions.createVariablesSchema, writes = true) { (_, v) =>
      HighsFunctions.createVariablesRows(asString(v(0)), asString(v(1)),
        asDouble(v(2)), asDouble(v(3)), asDouble(v(4)), asString(v(5)))
    },
    driverFn("highs_create_constraints(model_name, constraint_name, lower_bound, " +
        "upper_bound)", 4 to 4, HighsFunctions.createConstraintsSchema, writes = true) { (_, v) =>
      HighsFunctions.createConstraintsRows(asString(v(0)), asString(v(1)),
        asDouble(v(2)), asDouble(v(3)))
    },
    driverFn("highs_set_coefficients(model_name, constraint_name, variable_name, " +
        "coefficient)", 4 to 4, HighsFunctions.setCoefficientsSchema, writes = true) { (_, v) =>
      HighsFunctions.setCoefficientsRows(asString(v(0)), asString(v(1)),
        asString(v(2)), asDouble(v(3)))
    },
    driverFn("highs_solve(model_name)", 1 to 1, HighsFunctions.solveSchema) { (_, v) =>
      HighsFunctions.solveRows(asString(v(0)))
    },
    asofJoinFn,
    fixpointFn,
    fixpointKeyedFn,
    dedupFn,
    spanScrubFn,
    summarizeFn,
    pivotAutoFn,
    unionByNameFn,
    setopByNameFn,
    positionalJoinFn,
    duckdbTablesFn,
    duckdbColumnsFn,
    tableInfoFn,
    showTablesFn,
    readParquetFn,
    readCsvFn,
    readCsvAutoFn,
    readJsonFn,
    readJsonAutoFn,
    generateSeriesFn,
    globFn,
    parquetMetadataFn,
    parquetSchemaFn,
    parquetFileMetadataFn,
    duckDescribeFn
  )
}
