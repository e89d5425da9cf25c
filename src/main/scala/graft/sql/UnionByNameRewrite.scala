package graft.sql

/** Mechanical rewrite of DuckDB's `UNION [ALL|DISTINCT] BY NAME` set
  * operation (friendly SQL, DuckDB ≥0.10 — the reference's host pin is
  * v1.3.2, MainDistributionPipeline.yml:29) onto the engine's
  * `union_by_name` table function, which executes it as Spark's
  * `Dataset.unionByName(allowMissingColumns = true)`:
  *
  * {{{
  * SELECT a, b FROM t1 UNION ALL BY NAME SELECT b, c FROM t2 ORDER BY b
  * -- becomes --
  * SELECT * FROM union_by_name('SELECT a, b FROM t1',
  *                             'SELECT b, c FROM t2', true) ORDER BY b
  * }}}
  *
  * Semantics matched to DuckDB: columns align by NAME not position, a
  * column present on only one side arrives NULL-filled on the other, the
  * output column order is left-side columns first then right-only columns,
  * and the plain (no ALL) form deduplicates the combined rows. A trailing
  * top-level ORDER BY / LIMIT / OFFSET / FETCH is hoisted OUT of the right
  * branch so it orders the UNION result, exactly as ANSI and DuckDB scope
  * it.
  *
  * The split happens at the LAST top-level occurrence: SQL set operations
  * are left-associative, so the last operator is the outermost one, and a
  * left branch that itself contains `UNION BY NAME` re-enters this rewrite
  * when the table function parses it with the session's (extended) parser.
  * Chains of mixed `UNION ALL` / `UNION BY NAME` therefore keep their
  * ANSI grouping.
  *
  * `INTERSECT [ALL] BY NAME` and `EXCEPT [ALL] BY NAME` (the rest of
  * DuckDB's BY NAME family) route the same way onto the
  * `setop_by_name` table function, which aligns both branches to the
  * name-superset (NULL-fill) and runs Spark's native
  * intersect/intersectAll/except/exceptAll.
  *
  * Declines (caller falls back to the landing-pad hint): statements with
  * top-level WITH (the CTE scope would not span the two separately parsed
  * branches), positional `?` parameters (binding is by marker
  * order; splitting the text would rebind), and non-query statements
  * (CREATE/INSERT wrapping — the inner query re-enters on its own).
  */
object UnionByNameRewrite {

  private val trailing = Set("ORDER", "LIMIT", "OFFSET", "FETCH")

  def rewrite(sql: String): Option[String] = {
    val words = DuckLexer(sql).topLevelWords
    if (words.isEmpty) return None
    if (words.exists(_._1 == "?")) return None
    // Only a bare query can be split textually: a WITH's CTE scope must
    // cover both branches, and DDL/DML wrappers own the statement.
    val head = words.head._1
    if (!Set("SELECT", "FROM", "VALUES", "TABLE").contains(head)) return None
    // Locate every top-level UNION/INTERSECT/EXCEPT [ALL|DISTINCT] BY
    // NAME; split at the LAST one (left-associativity — see scaladoc).
    val ops = Set("UNION", "INTERSECT", "EXCEPT")
    def byNameAt(i: Int): Option[Int] = {
      // Returns the index of the NAME word when words(i) starts the
      // operator, else None.
      if (!ops(words(i)._1)) return None
      val j = if (i + 1 < words.length &&
        (words(i + 1)._1 == "ALL" || words(i + 1)._1 == "DISTINCT")) i + 1 else i
      if (j + 2 < words.length && words(j + 1)._1 == "BY" &&
        words(j + 2)._1 == "NAME") Some(j + 2)
      else None
    }
    val hits = words.indices.flatMap(i => byNameAt(i).map(i -> _))
    if (hits.isEmpty) return None
    val (opIdx, nameIdx) = hits.last
    val op = words(opIdx)._1
    val isAll = words(opIdx + 1)._1 == "ALL"
    val opPos = words(opIdx)._2
    val rhsStart = words(nameIdx)._2 + "NAME".length
    // Trailing clauses after the right branch scope to the whole set op.
    val trailPos = words.drop(nameIdx + 1)
      .find(t => trailing(t._1)).map(_._2).getOrElse(sql.length)
    val lhs = sql.substring(0, opPos).trim.stripSuffix(";").trim
    val rhs = sql.substring(rhsStart, trailPos).trim.stripSuffix(";").trim
    val trail = sql.substring(trailPos).trim.stripSuffix(";").trim
    if (lhs.isEmpty || rhs.isEmpty) return None
    // Quote-doubling only (DuckLiterals entry doubling rides along).
    def lit(s: String) =
      "'" + s.replace("'", "''") + "'"
    val call = op match {
      case "UNION" => s"union_by_name(${lit(lhs)}, ${lit(rhs)}, $isAll)"
      case _ =>
        val opName = op.toLowerCase + (if (isAll) "_all" else "")
        s"setop_by_name(${lit(lhs)}, ${lit(rhs)}, ${lit(opName)})"
    }
    Some(s"SELECT * FROM $call" +
      (if (trail.isEmpty) "" else " " + trail))
  }
}
