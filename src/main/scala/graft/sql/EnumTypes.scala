package graft.sql

import org.apache.spark.sql.SparkSession

/** ENUM types (round 18) — DuckDB's
  * `CREATE TYPE name AS ENUM ('a', 'b', ...)`.
  *
  * Spark has no user-defined SQL types, so enums are MODELED as their
  * VARCHAR form (exactly what `CAST(e AS VARCHAR)` yields in DuckDB)
  * with membership VALIDATION inlined at plan time: a cast to a
  * registered enum rewrites onto `graft_enum('name', expr)`, whose
  * builder reads this registry ON THE DRIVER and emits a CASE over an
  * inlined value array — executors never need the registry, and an
  * out-of-range value raises DuckDB's conversion-error shape.
  * `enum_range(NULL::name)` folds to the value list at rewrite time.
  * Ordering divergence (documented): DuckDB compares enums by member
  * INDEX; the VARCHAR model compares lexicographically.
  */
object EnumTypes {

  private def registry(spark: SparkSession) = DuckSession(spark).enums

  def define(spark: SparkSession, name: String, values: Seq[String]): Unit = {
    registry(spark).put(name.toLowerCase, values)
    ()
  }

  def get(spark: SparkSession, name: String): Option[Seq[String]] =
    Option(registry(spark).get(name.toLowerCase))

  def drop(spark: SparkSession, name: String): Boolean =
    registry(spark).remove(name.toLowerCase) != null

  private val createTypeRe =
    ("""(?is)\A\s*CREATE\s+TYPE\s+([A-Za-z_]\w*)\s+AS\s+ENUM\s*""" +
      """\((.+)\)\s*;?\s*\z""").r
  private val dropTypeRe =
    """(?is)\A\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r
  private val litRe = """\A'((?:[^']|'')*)'\z""".r

  /** CREATE TYPE / DROP TYPE as commands (Spark rejects both at parse,
    * so no native statement is claimed).
    */
  def ddlRewrite(sql: String): Option[DuckCommand] = sql match {
    case createTypeRe(name, body) =>
      val vals = DuckLexer(body).split(',').map(_.trim).map {
        case litRe(v) => DuckLiterals.literalValue(v)
        case other => return None // non-literal member: decline
      }
      if (vals.isEmpty) None else Some(CreateEnumTypeCommand(name, vals.toSeq))
    case dropTypeRe(ifExists, name) => Some(DropEnumTypeCommand(name, ifExists != null))
    case _ => None
  }

  /** Cast-position claims for registered enum names, run in the hint
    * chain (UNSUPPORTED_DATATYPE is a parse rejection):
    * `enum_range(NULL::name)` folds to the value-list literal;
    * `x::name` / CAST(x AS name) wrap the operand in graft_enum.
    *
    * Definition-order contexts first (round 19, verdict-18 #5): DuckDB
    * compares enums by member INDEX, so before the value claims run,
    * (a) an ORDER BY sort key that IS an enum cast and (b) a binary
    * comparison with an enum cast on either side are wrapped in
    * graft_enum_ord('name', x) — an inlined value→index CASE — making
    * sorts and comparisons honor definition order while SELECT output
    * keeps the VARCHAR model. Untyped VARCHAR enum columns (no cast in
    * the statement) keep the documented lexicographic divergence: the
    * registry has no column-type tracking to know better.
    */
  def castRewrite(text: String): Option[String] = {
    val spark = SparkSession.active
    var cur = ordRewrite(text).getOrElse(text)
    var changed = cur ne text
    var m = DuckLexer(cur).masked

    // Members are raw values; the text carries the entry's doubled
    // backslashes (DuckLiterals), so a member's backslashes double too.
    def arrayLit(vals: Seq[String]): String =
      "array(" + vals.map(v =>
        s"'${v.replace("\\", "\\\\").replace("'", "''")}'").mkString(", ") + ")"

    // enum_range(NULL::name) — fold first, before the cast claim eats
    // the `::name`.
    val rangeRe =
      """(?i)\benum_range\s*\(\s*NULL\s*::\s*([A-Za-z_]\w*)\s*\)""".r
    var hit = rangeRe.findFirstMatchIn(m)
    while (hit.isDefined) {
      val h = hit.get
      get(spark, h.group(1)) match {
        case Some(vals) =>
          cur = cur.substring(0, h.start) + arrayLit(vals) + cur.substring(h.end)
          m = DuckLexer(cur).masked
          changed = true
          hit = rangeRe.findFirstMatchIn(m)
        case None => hit = None
      }
    }

    // CAST(x AS name), TRY_CAST and x::name.
    val cast = DuckLexer.replaceCasts(cur, get(spark, _).isDefined) { c =>
      s"${if (c.isTry) "graft_enum_try" else "graft_enum"}('${c.typeName.toLowerCase}', ${c.operand})"
    }
    if (changed || (cast ne cur)) Some(cast) else None
  }

  private val orderByRe = "(?i)\\bORDER\\s+BY\\b".r
  // Clause-level words that end a sort-key list at depth 0.
  // Expression-level words (AND, CASE, COLLATE, ASC, ...) are not here.
  private val keyListEnd = Set(
    "LIMIT", "OFFSET", "FETCH", "WINDOW", "UNION", "EXCEPT", "INTERSECT",
    "ROWS", "RANGE", "GROUPS", "USING", "QUALIFY", "FOR", "INTO",
    "RETURNING", "HAVING", "WHERE", "GROUP", "ORDER", "SELECT", "FROM",
    "JOIN", "ON", "SETTINGS", "CLUSTER", "DISTRIBUTE", "SORT")

  /** [start, end) spans of every ORDER BY sort key in the masked text,
    * whitespace-trimmed. Enum casts are gone before the AST exists, so
    * this rewrite finds its keys in the text.
    */
  private def keySpans(m: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (h <- orderByRe.findAllMatchIn(m)) {
      var i = h.end
      var depth = 0
      var keyStart = i
      var done = false
      def closeKey(endExclusive: Int): Unit = {
        var ks = keyStart
        while (ks < endExclusive && m.charAt(ks).isWhitespace) ks += 1
        var ke = endExclusive
        while (ke > ks && m.charAt(ke - 1).isWhitespace) ke -= 1
        if (ke > ks) out += ((ks, ke))
      }
      while (i < m.length && !done) {
        val c = m.charAt(i)
        if (c == '(') { depth += 1; i += 1 }
        else if (c == ')') {
          if (depth == 0) { closeKey(i); done = true }
          else { depth -= 1; i += 1 }
        } else if (c == ';' && depth == 0) { closeKey(i); done = true }
        else if (c == ',' && depth == 0) {
          closeKey(i); i += 1; keyStart = i
        } else if (depth == 0 && c.isLetter &&
          (i == 0 || !DuckLexer.operandCh(m.charAt(i - 1)))) {
          var e = i
          while (e < m.length && DuckLexer.operandCh(m.charAt(e))) e += 1
          if (keyListEnd(m.substring(i, e).toUpperCase)) {
            closeKey(i); done = true
          } else i = e
        } else i += 1
      }
      if (!done) closeKey(m.length)
    }
    out.toSeq
  }

  /** Definition-order contexts (round 19): wrap enum casts in ORDER BY
    * keys and in `<`/`<=`/`>`/`>=` comparisons with
    * `graft_enum_ord('name', x)` — the inlined value→index CASE — so
    * ordering honors the declaration order like the host. Equality and
    * inequality are value-symmetric under the VARCHAR model and stay
    * untouched; BETWEEN and untyped VARCHAR columns remain the
    * documented divergence.
    */
  private[sql] def ordRewrite(text: String): Option[String] = {
    val spark = SparkSession.active
    if (registry(spark).isEmpty) return None
    var cur = text
    var changed = true
    var any = false
    val cmpOps = Seq("<=", ">=", "<", ">")
    // One wrapped cast per pass; rescan (extents shift).
    while (changed) {
      changed = false
      val m = DuckLexer(cur).masked
      val spans = keySpans(m)
      val casts = DuckLexer(cur).namedCasts(get(spark, _).isDefined)
      def wrap(name: String, inner: String): String =
        s"graft_enum_ord('${name.toLowerCase}', $inner)"
      // Raw-text whitespace skip: a masked literal is all spaces in m,
      // so skipping on the mask would leap over a literal operand.
      def nextNonSpace(i0: Int): Int = {
        var i = i0; while (i < m.length && cur.charAt(i).isWhitespace) i += 1; i
      }
      // Already wrapped? The cast start sits right after "graft_enum_ord('name', ".
      def alreadyWrapped(s: Int): Boolean = {
        val before = cur.substring(0, s)
        before.replaceAll("\\s+", " ").endsWith(", ") &&
          "(?i)graft_enum_ord\\s*\\(\\s*'[A-Za-z_]\\w*'\\s*,\\s*\\z".r
            .findFirstIn(before).isDefined
      }
      val it = casts.iterator
      while (it.hasNext && !changed) {
        val DuckLexer.NamedCast(s, e, _, name, _) = it.next()
        if (!alreadyWrapped(s)) {
          // (a) the cast IS an ORDER BY key (trailing direction words ok).
          val asKey = spans.exists { case (ks, ke) =>
            ks == s && e <= ke && {
              val tail = m.substring(e, ke).trim
              tail.isEmpty ||
                tail.matches("(?i)(ASC|DESC)?\\s*(NULLS\\s+(FIRST|LAST))?\\s*")
            }
          }
          // (b) comparison operator directly right of the cast, with
          // another cast of the SAME enum on the other side — the host
          // compares enum-vs-enum by index but enum-vs-bare-VARCHAR
          // lexicographically (probed), and the VARCHAR model already
          // matches the latter natively, so only cast-op-cast wraps.
          val r0 = nextNonSpace(e)
          val opRight = cmpOps.find(o =>
            m.regionMatches(r0, o, 0, o.length) &&
              !(o == "<" && r0 + 1 < m.length &&
                (m.charAt(r0 + 1) == '>' || m.charAt(r0 + 1) == '=')) &&
              !(o == ">" && r0 + 1 < m.length && m.charAt(r0 + 1) == '='))
          val rhsCast = opRight.flatMap { op =>
            val rs = nextNonSpace(r0 + op.length)
            casts.find(c => c.start == rs && c.typeName.equalsIgnoreCase(name))
              .map(c => (op, c))
          }
          if (asKey) {
            cur = cur.substring(0, s) + wrap(name, cur.substring(s, e)) +
              cur.substring(e)
            changed = true; any = true
          } else rhsCast match {
            case Some((op, DuckLexer.NamedCast(s2, e2, _, _, _))) =>
              cur = cur.substring(0, s) +
                wrap(name, cur.substring(s, e)) + s" $op " +
                wrap(name, cur.substring(s2, e2)) + cur.substring(e2)
              changed = true; any = true
            case None =>
          }
        }
      }
    }
    if (any) Some(cur) else None
  }
}
