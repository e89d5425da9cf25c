package graft.sql

import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Exists, Expression, ExpressionInfo, ListQuery, NamedExpression, PlanExpression, ScalarSubquery}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

/** Tier-1 landing for DuckDB's `CREATE MACRO` (the reference host's
  * capability — DuckDB ≥1.3, MainDistributionPipeline.yml:29): the first
  * statement a pasted DuckDB setup script usually hits.
  *
  * {{{
  * CREATE [OR REPLACE] [TEMP[ORARY]] MACRO taxed(p, t) AS p * (1 + t)
  * }}}
  *
  * A textual rewrite to Spark 4's SQL UDF (`CREATE TEMPORARY FUNCTION …
  * RETURNS … RETURN …`) cannot be faithful, because Spark's syntax makes
  * parameter and return TYPES mandatory while DuckDB macros are untyped
  * expression templates bound lazily at each call site — any guessed type
  * silently changes semantics for the shapes it guesses wrong (a DOUBLE
  * default breaks string macros, and vice versa). So instead of rewriting
  * the text, this handler reproduces the semantics: it parses the body
  * once into an expression TEMPLATE (via [[DuckSqlParser]]) and
  * registers a function builder in the session's function registry that,
  * at each call site, substitutes the caller's argument expressions for
  * the parameter names and lets the analyzer type the result in place —
  * exactly DuckDB's lazy binding (src/include bind path of duckdb macros),
  * Spark-native (the same `Seq[Expression] => Expression` builder channel
  * `SparkSessionExtensions.injectFunction` uses). Non-parameter
  * identifiers in the body stay unresolved and bind to the call site's
  * relation, and a macro calling another macro resolves through the same
  * registry at analysis — both DuckDB behaviors, for free.
  *
  * Scope mirrors the TEMP form (session-local registry, gone with the
  * session). Also executed: DEFAULT parameters (`b := 1` — trailing
  * defaults become expression templates padded in positionally when the
  * call site omits them; the `b := x` named CALL syntax is not Spark SQL
  * and lands on the call site's own parse error) and ZERO-parameter
  * table macros — parameterized included (`name(a) AS TABLE <query>` —
  * registered in the session TABLE function registry so DuckDB's
  * `FROM name(args)` call shape resolves, parameters substituted
  * through the whole plan; see [[tableMacro]]) and OVERLOAD lists
  * (`(a) AS …, (a,b) AS …` — one builder dispatching on the call's
  * arity; see [[overloads]] — trailing defaults per overload execute
  * too, dispatching on disjoint arity RANGES). Declined to the tier-2
  * hint: defaults referencing other parameters, overload lists whose
  * arity ranges overlap (the ambiguity DuckDB's binder rejects),
  * multipart names, and bodies Spark's parser rejects. A plain CREATE over an existing name errors like
  * DuckDB's catalog would instead of silently replacing.
  *
  * Parsing registers nothing: each form becomes one
  * [[CreateMacroCommand]], whose `run` does the existence check and the
  * registration when the statement executes, so `EXPLAIN CREATE MACRO`
  * only renders it. Its result is one `macro` row naming the macro; DDL
  * results are not part of any oracle comparison.
  */
object MacroRewrite {

  private val headRe =
    """(?is)\A\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO\s+([A-Za-z_]\w*)\s*\(""".r

  /** transformUp that also descends into nested SUBQUERY PLANS (scalar/
    * IN/EXISTS bodies): Expression.transformUp stops at a PlanExpression
    * node without entering its plan, so parameter substitution inside a
    * macro's subquery needs the explicit recursion —
    * transformAllExpressionsWithSubqueries over the inner plan (which
    * itself recurses into deeper subqueries), wrapped back with
    * withNewPlan.
    */
  private def deepTransform(e: Expression)(
      f: PartialFunction[Expression, Expression]): Expression =
    e.transformUp { case x =>
      // Descend FIRST (a PlanExpression may itself match f — e.g. the
      // exprId refresh — and its inner plan still needs the rule), then
      // apply f to the node.
      val descended = x match {
        case pe: PlanExpression[_] if pe.plan.isInstanceOf[LogicalPlan] =>
          val inner = pe.plan.asInstanceOf[LogicalPlan]
            .transformAllExpressionsWithSubqueries(f)
          pe.asInstanceOf[PlanExpression[LogicalPlan]].withNewPlan(inner)
        case other => other
      }
      f.applyOrElse(descended, identity[Expression])
    }

  /** Expression.exists extended through nested subquery plans. */
  private def deepExists(e: Expression)(p: Expression => Boolean): Boolean =
    e.exists(x => p(x) || (x match {
      case pe: PlanExpression[_] => pe.plan match {
        case lp: LogicalPlan =>
          lp.exists(_.expressions.exists(deepExists(_)(p)))
        case _ => false
      }
      case _ => false
    }))

  /** The session's (ordered (param, defaultText)) signature of macro
    * `name` ([[DuckSession]]) — what [[namedCallRewrite]] needs to lower
    * DuckDB's named CALL syntax (`f(x, b := 1)`) to positional before
    * delegation. Overload lists are not recorded (no defaults, and
    * arity dispatch makes name→slot mapping ambiguous).
    */
  private def signatureOf(name: String): Option[Vector[(String, Option[String])]] =
    Option(DuckSession(SparkSession.active).macroSignatures.get(name.toLowerCase))

  /** Lower DuckDB named-argument CALL sites of registered macros —
    * `cents_of(x, f := 10)` — to positional calls: positionals bind the
    * leading parameters in order, named arguments bind their slot, and
    * unfilled slots take the recorded default TEXT (spliced positionally
    * when a later slot is filled, omitted when trailing). `:=` is not
    * Spark syntax, so this only ever runs on parse failure and can never
    * claim a native statement; calls to names without a recorded
    * signature decline (nothing safe to reorder against).
    */
  /** `:=` in code at paren-depth 0 of `args` — a named argument of
    * THIS call, not of a call nested inside an argument.
    */
  private def namedOp(args: String): Boolean =
    DuckLexer(args).topLevel()(args.startsWith(":=", _)).nonEmpty

  def namedCallRewrite(text: String): Option[String] = {
    if (!text.contains(":=")) return None
    var cur = text
    var changed = false
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = DuckLexer(cur).masked
      // First call whose OWN top-level argument list carries := (a
      // named argument of a NESTED call must not claim the outer one —
      // the scan skips it here and reaches the inner call's own match).
      val callRe = """([A-Za-z_]\w*)\s*\(""".r
      val hit = callRe.findAllMatchIn(masked).flatMap { m =>
        val open = m.end - 1
        val close = DuckLexer(cur).closeOf(open)
        if (close > 0 && namedOp(cur.substring(open + 1, close - 1)))
          Some((m.group(1), m.start(1), open, close))
        else None
      }.toSeq.headOption
      hit match {
        case None => return if (changed) Some(cur) else None
        case Some((fname, nameStart, open, close)) =>
          val params = signatureOf(fname).getOrElse(return None)
          val inner = cur.substring(open + 1, close - 1)
          val args = DuckLexer(inner).split(',').map(_.trim)
          val lowered = params.map(_._1.toLowerCase)
          val slots = Array.fill[Option[String]](params.size)(None)
          var seenNamed = false
          var posIdx = 0
          val namedRe = """(?s)\A([A-Za-z_]\w*)\s*:=\s*(.+)\z""".r
          for (a <- args) {
            // := detection in code at depth 0: a literal ':='
            // inside a string is data, and one inside a nested call
            // belongs to that call, not this argument.
            if (namedOp(a)) {
              seenNamed = true
              val m = namedRe.findFirstMatchIn(a).getOrElse(return None)
              val slot = lowered.indexOf(m.group(1).toLowerCase)
              if (slot < 0 || slots(slot).isDefined) return None
              slots(slot) = Some(m.group(2).trim)
            } else {
              if (seenNamed || posIdx >= params.size || a.isEmpty) return None
              slots(posIdx) = Some(a)
              posIdx += 1
            }
          }
          val lastFilled = slots.lastIndexWhere(_.isDefined)
          val positional = (0 to lastFilled).map { i =>
            slots(i).orElse(params(i)._2).getOrElse(return None)
          }
          cur = cur.substring(0, nameStart) +
            s"$fname(${positional.mkString(", ")})" + cur.substring(close)
          changed = true
      }
    }
    if (changed) Some(cur) else None
  }

  def rewrite(sql: String, delegate: ParserInterface): Option[LogicalPlan] = {
    val m = headRe.findFirstMatchIn(sql).getOrElse(return None)
    val orReplace = m.group(1) != null
    val name = m.group(2)
    // Multipart names (schema.macro) fall outside the supported shape.
    if (sql.take(m.start(2)).trim.endsWith(".")) return None

    // Overload list (DuckDB ≥1.3): `name(a) AS b1, (a, b) AS b2, …`.
    // Split the definition text at top-level commas (param lists and any
    // parens inside bodies are protected); it is an overload list only
    // if every continuation segment starts with a STRICT identifier-list
    // paren group followed by AS — `(a, b) AS` yes, but a table-macro
    // body's parenthesized select items (`SELECT a, (SELECT 1) AS one` /
    // `(qty) AS q`) must not match, so the class is an ident-comma list,
    // not "any word characters", and a first segment containing
    // `AS TABLE` routes to the table path regardless.
    val defsText = sql.substring(m.end - 1).trim.stripSuffix(";").trim
    val segs = DuckLexer(defsText).split(',').map(_.trim)
    // A continuation segment is overload-shaped when its leading paren
    // group (closed structurally, so `c := greatest(1, 2)` defaults
    // survive) holds only `ident` / `ident := expr` items and `AS`
    // follows — the same item grammar [[overloads]] re-parses strictly.
    def overloadSeg(s: String): Boolean = s.startsWith("(") && {
      val c = DuckLexer(s).closeOf(0)
      c > 0 && """(?is)\A\s*AS\b""".r.findFirstIn(s.substring(c)).isDefined && {
        val inner = s.substring(1, c - 1).trim
        inner.isEmpty || DuckLexer(inner).split(',').map(_.trim).forall {
          it =>
            val i = it.indexOf(":=")
            val nm = if (i < 0) it else it.take(i).trim
            nm.matches("[A-Za-z_]\\w*") && (i < 0 || it.drop(i + 2).trim.nonEmpty)
        }
      }
    }
    if (segs.size > 1 &&
      """(?is)\bAS\s+TABLE\b""".r.findFirstIn(segs.head).isEmpty &&
      segs.tail.forall(overloadSeg))
      return overloads(name, orReplace, segs, delegate)

    // Parameter list: identifiers, optionally with a trailing run of
    // `name := <default-expr>` slots (DuckDB's default parameters). Types
    // decline to the hint.
    val open = m.end - 1 // the '(' headRe ended on
    val closeIdx = DuckLexer(sql).closeOf(open)
    if (closeIdx < 0) return None
    val paramText = sql.substring(open + 1, closeIdx - 1).trim
    val identRe = """\A[A-Za-z_][A-Za-z0-9_]*\z""".r
    final case class Param(name: String, default: Option[String])
    val params: Vector[Param] =
      if (paramText.isEmpty) Vector.empty
      else DuckLexer(paramText).split(',').map(_.trim).map { item =>
        val i = item.indexOf(":=")
        if (i < 0) {
          if (identRe.findFirstIn(item).isEmpty) return None
          Param(item, None)
        } else {
          val pn = item.take(i).trim
          val d = item.drop(i + 2).trim
          if (identRe.findFirstIn(pn).isEmpty || d.isEmpty) return None
          Param(pn, Some(d))
        }
      }
    if (params.map(_.name.toLowerCase).distinct.size != params.size) return None
    // Defaults must trail the required parameters (positional padding
    // below relies on it; DuckDB's binder orders them the same way).
    val firstDefault = params.indexWhere(_.default.isDefined)
    if (firstDefault >= 0 && params.drop(firstDefault).exists(_.default.isEmpty))
      return None

    // After the list: AS, then the body. A comma + parenthesized list is
    // an overload list (DuckDB ≥1.3) — decline. `AS TABLE <query>` is a
    // table macro: the ZERO-parameter form registers as a session table
    // function below; parameterized table macros decline.
    val tail = sql.substring(closeIdx)
    val asRe = """(?is)\A\s*AS\b""".r
    val asM = asRe.findFirstMatchIn(tail).getOrElse(return None)
    val body0 = tail.substring(asM.end).trim.stripSuffix(";").trim
    if (body0.isEmpty) return None
    val tableM = """(?is)\ATABLE\b""".r.findFirstMatchIn(body0)
    if (tableM.isDefined)
      return tableMacro(name, orReplace, body0.substring(tableM.get.end).trim,
        params.map(p => (p.name, p.default)), delegate)
    if (",\\s*\\(".r.findFirstIn(body0).isDefined &&
      """(?is),\s*\([A-Za-z_,\s\w]*\)\s*AS\b""".r.findFirstIn(body0).isDefined)
      return None // overload list: `, (a, b) AS …`

    val template = try delegate.parseExpression(body0)
      catch { case NonFatal(_) => return None }
    // Default expressions parse standalone; one referencing another
    // parameter would need its own substitution pass ordered before the
    // body's — decline that nesting rather than bind it wrong.
    val defaultTemplates: Map[String, Expression] = params.collect {
      case Param(pn, Some(d)) =>
        val e = try delegate.parseExpression(d) catch { case NonFatal(_) => return None }
        pn.toLowerCase -> e
    }.toMap
    val paramNamesLower = params.map(_.name.toLowerCase).toSet
    if (defaultTemplates.values.exists(deepExists(_) {
      case a: UnresolvedAttribute =>
        a.nameParts.size == 1 && paramNamesLower(a.nameParts.head.toLowerCase)
      case _ => false
    })) return None

    // Bodies carrying subqueries (scalar/IN/EXISTS) EXECUTE since round
    // 16: parameter substitution descends into the nested plans via
    // [[deepTransform]]. This is faithful for every macro DuckDB itself
    // accepts — DuckDB's binder REJECTS at creation any macro whose
    // parameter name collides with a column reachable inside the body
    // ("Conflicting column names", pinned on 1.0), so in a valid macro
    // every single-part identifier matching a parameter IS the
    // parameter, at any plan depth. (Colliding macros DuckDB refuses
    // would run here with parameter-wins binding — a documented
    // widening, never a silent divergence on shared inputs.)
    val allTemplates = template +: defaultTemplates.values.toSeq

    // A self-referential body or default (direct recursion) would
    // register fine and then die at every call site with the analyzer's
    // opaque max-iterations failure as the macro expands into itself
    // forever. DuckDB's binder rejects it at creation ("recursive macros
    // are not supported"); raise the same clean error at the same point.
    // deepExists: the reference may hide inside a subquery plan.
    if (allTemplates.exists(deepExists(_) {
      case f: UnresolvedFunction =>
        f.nameParts.size == 1 && f.nameParts.head.equalsIgnoreCase(name)
      case _ => false
    })) throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" ->
        s"macro '$name' references itself — recursive macros are not supported"))

    val lowered = params.map(_.name.toLowerCase)
    val nRequired = if (firstDefault < 0) params.size else firstDefault
    val builder: Seq[Expression] => Expression = { args =>
      if (args.size < nRequired || args.size > lowered.size) {
        val arity = if (nRequired == lowered.size) s"$nRequired"
          else s"$nRequired to ${lowered.size}"
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            s"macro '$name' expects $arity argument(s), got ${args.size}"))
      }
      // Positional padding: unsupplied trailing parameters take their
      // default expression templates (DuckDB ≥1.1 positional semantics;
      // the `b := x` named CALL syntax is not Spark SQL and declines at
      // the call site's own parse).
      val full = args ++ lowered.drop(args.size).map(defaultTemplates)
      val substituted = deepTransform(template) {
        case a: UnresolvedAttribute if a.nameParts.size == 1 &&
            lowered.contains(a.nameParts.head.toLowerCase) =>
          full(lowered.indexOf(a.nameParts.head.toLowerCase))
      }
      // Every call site must carry FRESH subquery exprIds: two
      // expansions of one template otherwise share an id and the
      // analyzer's subquery machinery conflates them — the second
      // orders_above(x) silently returns the first's result.
      deepTransform(substituted) {
        case s: ScalarSubquery => s.copy(exprId = NamedExpression.newExprId)
        case e: Exists => e.copy(exprId = NamedExpression.newExprId)
        case l: ListQuery => l.copy(exprId = NamedExpression.newExprId)
      }
    }
    Some(CreateMacroCommand(name, orReplace, Left(builder),
      Some(params.map(p => (p.name, p.default)))))
  }

  /** Overload list `name(a) AS body1, (a, b := 1) AS body2, …` (DuckDB
    * ≥1.3): each overload's body parses into its own template and ONE
    * registered builder dispatches on the call site's argument count —
    * DuckDB's arity-based overload resolution. Trailing `p := default`
    * runs give an overload an arity RANGE (padded positionally like the
    * single form); dispatch stays well-defined because overloads whose
    * ranges overlap decline to the hint (the same ambiguity DuckDB's
    * binder rejects). Plain identifier parameters only; same
    * subquery/self-reference/default-referencing-parameter guards as
    * the single form, applied per overload.
    */
  private def overloads(name: String, orReplace: Boolean, segs: Vector[String],
      delegate: ParserInterface): Option[LogicalPlan] = {
    val identRe = """\A[A-Za-z_][A-Za-z0-9_]*\z""".r
    // One overload: ordered parameter names, default templates for the
    // trailing optional run, required-arity floor, body template — the
    // single form's parameter rules applied per overload.
    final case class Ovl(params: Vector[String],
      defaults: Map[String, Expression], nRequired: Int, template: Expression)
    val parsed: Vector[Ovl] = segs.map { seg =>
      if (!seg.startsWith("(")) return None
      val close = DuckLexer(seg).closeOf(0)
      if (close < 0) return None
      val paramText = seg.substring(1, close - 1).trim
      final case class P(name: String, default: Option[String])
      val ps: Vector[P] =
        if (paramText.isEmpty) Vector.empty
        else DuckLexer(paramText).split(',').map(_.trim).map { item =>
          val i = item.indexOf(":=")
          if (i < 0) {
            if (identRe.findFirstIn(item).isEmpty) return None
            P(item, None)
          } else {
            val pn = item.take(i).trim
            val d = item.drop(i + 2).trim
            if (identRe.findFirstIn(pn).isEmpty || d.isEmpty) return None
            P(pn, Some(d))
          }
        }
      if (ps.map(_.name.toLowerCase).distinct.size != ps.size) return None
      val firstDefault = ps.indexWhere(_.default.isDefined)
      if (firstDefault >= 0 && ps.drop(firstDefault).exists(_.default.isEmpty))
        return None
      val asM = """(?is)\A\s*AS\b""".r.findFirstMatchIn(seg.substring(close))
        .getOrElse(return None)
      val body = seg.substring(close + asM.end).trim
      if (body.isEmpty) return None
      if ("""(?is)\ATABLE\b""".r.findFirstIn(body).isDefined) return None
      val template = try delegate.parseExpression(body)
        catch { case NonFatal(_) => return None }
      val defaults: Map[String, Expression] = ps.collect {
        case P(pn, Some(d)) =>
          val e = try delegate.parseExpression(d)
            catch { case NonFatal(_) => return None }
          pn.toLowerCase -> e
      }.toMap
      // A default referencing a parameter would need its own ordered
      // substitution pass — same decline as the single form.
      val pset = ps.map(_.name.toLowerCase).toSet
      if (defaults.values.exists(_.exists {
        case a: UnresolvedAttribute =>
          a.nameParts.size == 1 && pset(a.nameParts.head.toLowerCase)
        case _ => false
      })) return None
      val allT = template +: defaults.values.toSeq
      if (allT.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) return None
      if (allT.exists(_.exists {
        case f: UnresolvedFunction =>
          f.nameParts.size == 1 && f.nameParts.head.equalsIgnoreCase(name)
        case _ => false
      })) throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"macro '$name' references itself — recursive macros are not supported"))
      Ovl(ps.map(_.name), defaults,
        if (firstDefault < 0) ps.size else firstDefault, template)
    }
    // Defaults give each overload an arity RANGE [nRequired, params];
    // dispatch stays deterministic only when the ranges are pairwise
    // disjoint — overlapping ranges are the ambiguity DuckDB's binder
    // rejects, declined to the hint here.
    val ranges = parsed.map(o => (o.nRequired, o.params.size))
    for (i <- ranges.indices; j <- i + 1 until ranges.size)
      if (ranges(i)._1 <= ranges(j)._2 && ranges(j)._1 <= ranges(i)._2)
        return None

    val arities = ranges.sorted.map { case (a, b) =>
      if (a == b) s"$a" else s"$a-$b" }.mkString(", ")
    val builder: Seq[Expression] => Expression = { args =>
      val o = parsed.find(o =>
        args.size >= o.nRequired && args.size <= o.params.size).getOrElse(
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            s"macro '$name' has overloads for $arities argument(s), got ${args.size}")))
      val lowered = o.params.map(_.toLowerCase)
      // Positional padding with the overload's own defaults, exactly
      // like the single form.
      val full = args ++ lowered.drop(args.size).map(o.defaults)
      o.template.transformUp {
        case a: UnresolvedAttribute if a.nameParts.size == 1 &&
            lowered.contains(a.nameParts.head.toLowerCase) =>
          full(lowered.indexOf(a.nameParts.head.toLowerCase))
      }
    }
    Some(CreateMacroCommand(name, orReplace, Left(builder), None))
  }

  /** `CREATE MACRO name(a[, b := d]) AS TABLE <query>`: DuckDB call
    * sites write `FROM name(args)` — WITH parentheses — so a temp view
    * can't host even the zero-parameter form; instead the body parses
    * once into a logical-plan template and registers in the session's
    * TABLE function registry, where the analyzer resolves `name(...)`
    * exactly like the injected TVFs. Binding stays lazy (the plan is
    * unresolved until each call site's analysis), DuckDB's macro
    * semantics. Parameter substitution walks the WHOLE plan including
    * subquery plans (transformAllExpressionsWithSubqueries — unlike the
    * scalar path, where the single-expression walk cannot reach nested
    * plans and subquery bodies decline), swapping every single-part
    * attribute matching a parameter name for the call's expression. A
    * parameter deliberately SHADOWS a same-named column of the body's
    * tables — pinned against DuckDB: `shadow(x) AS TABLE SELECT x FROM
    * t` called as shadow(99) yields 99 per row there too. Trailing
    * defaults pad positionally, as in the scalar form.
    */
  private def tableMacro(name: String, orReplace: Boolean, query: String,
      params: Vector[(String, Option[String])],
      delegate: ParserInterface): Option[LogicalPlan] = {
    if (query.isEmpty) return None
    val plan = try delegate.parsePlan(query) catch { case NonFatal(_) => return None }
    // Direct self-reference would expand forever at every call site's
    // analysis; reject at creation like the scalar path. The check walks
    // the PARSED plan (a raw text scan would also fire on the name
    // appearing inside a string literal).
    val selfRef = plan.collectWithSubqueries {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if u.name.size == 1 && u.name.head.equalsIgnoreCase(name) => u
    }.nonEmpty
    if (selfRef)
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"macro '$name' references itself — recursive macros are not supported"))
    val lowered = params.map(_._1.toLowerCase)
    val defaultTemplates: Map[String, Expression] = params.collect {
      case (pn, Some(d)) =>
        val e = try delegate.parseExpression(d) catch { case NonFatal(_) => return None }
        pn.toLowerCase -> e
    }.toMap
    val paramSet = lowered.toSet
    // Defaults referencing other parameters decline, as in the scalar
    // path (they would need an ordered substitution pass of their own).
    if (defaultTemplates.values.exists(_.exists {
      case a: UnresolvedAttribute =>
        a.nameParts.size == 1 && paramSet(a.nameParts.head.toLowerCase)
      case _ => false
    })) return None
    val nRequired = {
      val i = params.indexWhere(_._2.isDefined)
      if (i < 0) params.size else i
    }
    val builder = (args: Seq[Expression]) => {
      if (args.size < nRequired || args.size > params.size) {
        val arity = if (nRequired == params.size) s"${params.size}"
          else s"$nRequired to ${params.size}"
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            s"table macro '$name' expects $arity argument(s), got ${args.size}"))
      }
      if (params.isEmpty) plan
      else {
        val full = args ++ lowered.drop(args.size).map(defaultTemplates)
        // transformExpressionsUp per node (bottom-up, replacements
        // never revisited) — a transformDown-based walk would re-enter
        // the substituted expression and re-match a call-site attribute
        // that happens to share a parameter name (`f(k + 1)` with
        // parameter k loops forever; `g(b + 1, 10)` silently rewrites
        // the caller's b), exactly why the scalar path uses transformUp.
        plan.transformUpWithSubqueries {
          case p => p.transformExpressionsUp {
            case a: UnresolvedAttribute if a.nameParts.size == 1 &&
                paramSet(a.nameParts.head.toLowerCase) =>
              full(lowered.indexOf(a.nameParts.head.toLowerCase))
          }
        }
      }
    }
    Some(CreateMacroCommand(name, orReplace, Right(builder), Some(params)))
  }
}

/** `CREATE [OR REPLACE] MACRO` as a Spark command ([[MacroRewrite]] builds
  * it while parsing and registers nothing): `run` checks that a plain
  * CREATE does not replace an existing function, registers the builder in
  * the session's function registry (scalar macros and overload lists,
  * `Left`) or table function registry (table macros, `Right`), and records
  * the parameter signature that named call sites are lowered against.
  */
case class CreateMacroCommand(
    name: String,
    orReplace: Boolean,
    builder: Either[Seq[Expression] => Expression, Seq[Expression] => LogicalPlan],
    signature: Option[Vector[(String, Option[String])]])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("macro", StringType, nullable = false)())

  override protected def stringArgs: Iterator[Any] =
    Iterator(name, if (builder.isLeft) "scalar" else "table") ++
      (if (orReplace) Iterator("or replace") else Iterator.empty)

  override def run(spark: SparkSession): Seq[Row] = {
    val fid = FunctionIdentifier(name.toLowerCase)
    val info = new ExpressionInfo(classOf[GraftSparkExtensions].getName, name)
    val exists = builder.fold(
      _ => spark.sessionState.functionRegistry.functionExists(fid),
      _ => spark.sessionState.tableFunctionRegistry.functionExists(fid))
    if (!orReplace && exists)
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" -> s"macro '$name' already exists — use CREATE OR REPLACE MACRO"))
    builder match {
      case Left(b) => spark.sessionState.functionRegistry.registerFunction(fid, info, b)
      case Right(b) => spark.sessionState.tableFunctionRegistry.registerFunction(fid, info, b)
    }
    signature.foreach(DuckSession(spark).macroSignatures.put(name.toLowerCase, _))
    Seq(Row(name))
  }
}
