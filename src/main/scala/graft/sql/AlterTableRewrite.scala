package graft.sql

/** DuckDB's `ALTER TABLE` surface for graft temp tables ([[TempTables]]
  * snapshots — the tables a pasted ETL script creates and mutates):
  *
  * {{{
  * ALTER TABLE t ADD [COLUMN] [IF NOT EXISTS] c TYPE [DEFAULT expr]
  * ALTER TABLE t DROP [COLUMN] [IF EXISTS] c
  * ALTER TABLE t RENAME [COLUMN] a TO b
  * ALTER TABLE t RENAME TO t2
  * ALTER TABLE t ALTER [COLUMN] c [SET DATA] TYPE type
  * }}}
  *
  * All parse natively in Spark (v2 ALTER syntax) but die in analysis
  * against a temp view, so the temp-table forms are claimed
  * PRE-delegation as an [[AlterTempTableCommand]] (the UPDATE/DELETE
  * pattern), which re-materializes the snapshot with the changed schema
  * and returns DuckDB's empty result. DuckDB 1.0 semantics pinned: ADD backfills
  * the DEFAULT (or NULL) into existing rows, dropping/renaming a
  * missing column errors (IF EXISTS tolerated), RENAME TO onto an
  * existing name errors, and ALTER TYPE casts the data — a value that
  * does not convert raises here, at the statement (the eager
  * re-materialization runs the cast), exactly where DuckDB raises.
  * `ALTER ... TYPE ... USING expr` and non-column ALTERs decline to a
  * named error rather than Spark's confusing view-vs-table message.
  * Catalog tables are NEVER claimed — Spark's own ALTER semantics
  * (ADD COLUMNS on parquet, DSv2 row-level tables) stay native.
  */
object AlterTableRewrite {

  private val headRe =
    """(?is)\A\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s+(.+?)\s*;?\s*\z""".r
  /** The command for a temp-table ALTER; None leaves the statement to
    * Spark (catalog tables, unknown names).
    */
  def rewrite(sql: String): Option[AlterTempTableCommand] = {
    val m = headRe.findFirstMatchIn(sql).getOrElse(return None)
    if (!TempTables.exists(org.apache.spark.sql.SparkSession.active, m.group(1))) return None
    Some(AlterTempTableCommand(m.group(1), DuckLiterals.halveBackslashes(m.group(2).trim)))
  }
}
