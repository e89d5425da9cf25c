package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, count, expr, first, lit, sum, when}
import org.apache.spark.sql.types.StructType

import graft.operators.Scratch

/** DuckDB's side-effecting statements as Spark commands.
  *
  * The parser ([[GraftHintParser]]) turns each DuckDB statement Spark
  * cannot run — UPDATE/DELETE on v1 tables, temp-table DDL/DML, COPY,
  * EXPORT/IMPORT DATABASE, transactions, sequences, comments, ATTACH,
  * enum types, maintenance no-ops — into one of these typed case
  * classes and does nothing else. Spark executes a command exactly
  * once, on its command path, when the statement is issued (`spark.sql`
  * runs commands eagerly), and `EXPLAIN <statement>` renders the
  * command without running it. SQL-text fields carry DuckDB-level
  * backslashes ([[DuckLiterals.halveBackslashes]]): the `spark.sql` and
  * `expr` calls in `run` re-enter the session parser, which doubles them
  * once again.
  */
sealed trait DuckCommand extends LeafRunnableCommand {
  /** DuckDB's result shape for DML and DDL: one `Count` row (rows
    * affected) or none.
    */
  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(DuckCommands.countSchema)
}

object DuckCommands {

  /** DuckDB's DML result: the rows affected. */
  val countSchema: StructType = StructType.fromDDL("Count BIGINT")

  private[sql] def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  private[sql] def countOf(obs: Observation): Long = obs.get("n") match {
    case null => 0L // sum over zero rows
    case l: java.lang.Number => l.longValue()
    case x => x.toString.toLong
  }

  /** CREATE TEMP TABLE without OR REPLACE onto an existing name. */
  private[sql] def failIfExists(spark: SparkSession, name: String): Unit =
    if (TempTables.exists(spark, name) || spark.catalog.tableExists(name))
      fail(s"""Table with name "$name" already exists!""")

  /** Overwrite `table` with `df`: a temp table re-registers its
    * snapshot; a catalog table is staged to scratch first (a table
    * cannot be overwritten by a plan that reads it), then INSERT
    * OVERWRITE.
    */
  private[sql] def overwrite(spark: SparkSession, table: String, df: DataFrame,
      stage: String): Unit =
    if (TempTables.exists(spark, table)) TempTables.put(spark, table, df)
    else {
      val (staged, stageDir) = Scratch.materialize(df, stage)
      staged.write.mode("overwrite").insertInto(table)
      Scratch.delete(spark, stageDir)
    }

  /** UPDATE's `a = expr, b = expr` list as (column, expression) pairs;
    * targets are plain column names of `schema`, each assigned once.
    */
  private[sql] def assignments(setText: String, schema: StructType): Seq[(String, String)] = {
    val as = DuckLexer(setText).split(',', groups = true).map { a =>
      val eq = DuckLexer(a).assignmentEq
      require(eq > 0, s"UPDATE: assignment without '=': $a")
      val name = a.substring(0, eq).trim
      val rhs = a.substring(eq + 1).trim
      require(name.matches("[A-Za-z_]\\w*"),
        s"UPDATE: assignment target must be a plain column name, got '$name'")
      require(rhs.nonEmpty, s"UPDATE: empty expression for '$name'")
      name -> rhs
    }
    // Duplicate targets (any case) are an error, as in DuckDB — a map
    // would silently keep one arbitrary assignment.
    val dupTargets = as.groupBy(_._1.toLowerCase)
      .collect { case (n, xs) if xs.size > 1 => n }
    require(dupTargets.isEmpty,
      s"UPDATE: column(s) assigned more than once: ${dupTargets.mkString(", ")}")
    val missing = as.map(_._1).filterNot(n =>
      schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty, s"UPDATE: no such column(s): ${missing.mkString(", ")}")
    as
  }

  /** The columns of `schema` with UPDATE's assignments `as` applied:
    * every assigned column is its new value where `where` holds (on
    * every row when `where` is empty), its old value elsewhere. Each new
    * value is computed from the old row.
    */
  private[sql] def updatedColumns(schema: StructType, as: Seq[(String, String)],
      where: String): Seq[Column] =
    schema.fieldNames.toIndexedSeq.map { f =>
      as.collectFirst {
        case (n, rhs) if n.equalsIgnoreCase(f) =>
          val newV = expr(rhs)
          (if (where.isEmpty) newV
           else when(expr(where), newV).otherwise(col(f))).as(f)
      }.getOrElse(col(f))
    }

  /** DuckDB COPY CSV option → DataFrameReader/Writer option name
    * (1:1 passthrough; applied on both directions).
    */
  private[sql] val csvOptionKeys = Seq(
    "delimiter" -> "sep", "quote" -> "quote",
    "escape" -> "escape", "nullstr" -> "nullValue")

  /** Textual DEFAULT-keyword substitution in a `VALUES (...), (...)`
    * insert body (round 18): each bare DEFAULT item becomes the
    * target column's declared default expression (parenthesized — it
    * is spliced into an expression position), or a typed NULL when the
    * column declares none — DuckDB's contract. Position maps through
    * the statement's column list when one was given. Non-VALUES bodies
    * pass through untouched (DEFAULT inside a SELECT keeps the native
    * error, as in DuckDB).
    */
  private[sql] def substituteDefaultKeyword(body0: String, target: StructType,
      cols: Seq[String], defaults: Map[String, String]): String = {
    val body = body0.trim
    if (!body.regionMatches(true, 0, "VALUES", 0, 6)) return body0
    if (!"(?i)\\bDEFAULT\\b".r.findFirstIn(
      DuckLexer(body).masked).isDefined) return body0
    val rowsText = body.substring(6)
    val fieldAt: Int => Option[org.apache.spark.sql.types.StructField] =
      i => if (cols.nonEmpty)
        cols.lift(i).flatMap(c =>
          target.fields.find(_.name.equalsIgnoreCase(c)))
      else target.fields.lift(i)
    val rows = DuckLexer(rowsText).split(',').map(_.trim).map { row =>
      if (!row.startsWith("(")) row
      else {
        val close = DuckLexer(row).closeOf(0)
        if (close != row.length) row
        else {
          val items = DuckLexer(row.substring(1, close - 1)).split(',')
          val out = items.zipWithIndex.map { case (item, i) =>
            if (!item.trim.equalsIgnoreCase("DEFAULT")) item
            else fieldAt(i) match {
              case Some(f) => defaults.get(f.name.toLowerCase) match {
                case Some(d) => s"($d)"
                case None => s"CAST(NULL AS ${f.dataType.sql})"
              }
              case None => item // arity mismatch: surface downstream
            }
          }
          "(" + out.mkString(", ") + ")"
        }
      }
    }
    "VALUES " + rows.mkString(", ")
  }

  /** Align an INSERT source to the target schema: positional when
    * `cols` is empty (arity must match), else the listed columns take
    * the source's outputs positionally and unlisted target columns take
    * their DEFAULT or NULL — both with insert-style casts to the target
    * types.
    */
  private[sql] def alignInsert(target: DataFrame, src: DataFrame, cols: Seq[String],
      defaults: Map[String, String]): DataFrame = {
    // Source column names can carry dots (an unaliased `CAST(-1.0 AS
    // DOUBLE)` select item) — quote them so col() doesn't split a
    // nested-field path.
    def q(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val tf = target.schema.fields
    if (cols.isEmpty) {
      require(src.columns.length == tf.length,
        s"INSERT: ${src.columns.length} column(s) provided, table has ${tf.length}")
      src.select(src.columns.toIndexedSeq.zip(tf.toIndexedSeq).map { case (c, f) =>
        q(c).cast(f.dataType).as(f.name) }: _*)
    } else {
      require(src.columns.length == cols.length,
        s"INSERT: column list has ${cols.length} name(s), query produces ${src.columns.length}")
      val byPos = cols.map(_.toLowerCase).zip(src.columns).toMap
      val unknown = cols.filterNot(c => tf.exists(_.name.equalsIgnoreCase(c)))
      require(unknown.isEmpty, s"INSERT: no such column(s): ${unknown.mkString(", ")}")
      src.select(tf.toIndexedSeq.map { f =>
        byPos.get(f.name.toLowerCase) match {
          case Some(sc) => q(sc).cast(f.dataType).as(f.name)
          case None => defaults.get(f.name.toLowerCase) match {
            // Unlisted column with a declared DEFAULT: compile the
            // expression here (per-insert evaluation, as in DuckDB).
            case Some(d) => expr(d).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
      }: _*)
    }
  }

  /** `INSERT INTO name [(cols)] <query>` into a temp table (`intoTemp`)
    * or a catalog table. Returns the inserted rows and their count.
    */
  private[sql] def insert(spark: SparkSession, name: String, query: String,
      cols: Seq[String], intoTemp: Boolean): (DataFrame, () => Long) = {
    val target = spark.table(name)
    val defaults = TempTables.facts(spark, name).defaults
    val aligned = alignInsert(target,
      spark.sql(substituteDefaultKeyword(query, target.schema, cols, defaults)),
      cols, defaults)
    // A pure-literal source (VALUES → LocalRelation after optimization)
    // is already immutable: skip the stage write entirely and append it
    // lazily — an ingest script of N VALUES-INSERTs then costs N
    // metadata updates instead of N full-table parquet rewrites
    // (round 19, verdict-18 #8). Query sources still stage once (their
    // inputs could mutate later), then append lazily too: the staged
    // dir is frozen, so the union plan stays snapshot-stable.
    // Register the OPTIMIZED LocalRelation itself, not `aligned`: the
    // eligibility check runs AFTER ComputeCurrentTime folds
    // now()/current_timestamp/current_date, so re-registering the
    // unoptimized plan would re-evaluate those on every later read of
    // the union view — inserted values drifting per query (round-19
    // ADVICE). The LocalRelation's rows are frozen, like the old
    // parquet stage froze them.
    val localRel: Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
      if (!intoTemp) None else (try {
        aligned.queryExecution.optimizedPlan match {
          case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            Some(lr)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None })
    // Staged sources: the inserted-row count rides the stage write as an
    // Observation instead of a second count() pass over the staged files.
    // Attached only in this branch — an observe() on `aligned` itself
    // would wrap the optimized plan in CollectMetrics and defeat the
    // LocalRelation lazy-append match above.
    val obsN = Observation()
    val staged = localRel match {
      case Some(lr) => org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, lr)
      case None => Scratch.materialize(
        aligned.observe(obsN, count(lit(1)).as("n")), s"ins_$name")._1
    }
    if (intoTemp) TempTables.putLazy(spark, name, target.union(staged))
    else staged.write.mode("append").insertInto(name)
    // Literal sources know their row count without a job.
    (staged, () => localRel.map(_.data.length.toLong).getOrElse(countOf(obsN)))
  }
}

import DuckCommands._

/** `UPDATE t SET ... [WHERE ...]` against a v1 catalog table or a graft
  * temp table ([[UpdateDeleteRewrite]]): the staged overwrite q53
  * demonstrates by hand — transform → scratch materialization →
  * INSERT OVERWRITE — returning DuckDB's one-row Count (rows updated).
  * The count rides the mutation pass via an Observation placed BEFORE
  * the transform (its predicate reads the pre-update columns) — no
  * second scan. Every SET assignment evaluates against the OLD row (one
  * projection, standard SQL UPDATE semantics).
  */
case class UpdateTableCommand(table: String, set: String, where: String)
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val base = spark.table(table)
    val as = assignments(set, base.schema)
    val obs = Observation()
    val matched =
      if (where.isEmpty) count(lit(1)).as("n")
      else sum(when(expr(where), 1L).otherwise(0L)).as("n")
    val projected = base.observe(obs, matched)
      .select(updatedColumns(base.schema, as, where): _*)
    overwrite(spark, table, projected, "update_stage")
    Seq(Row(countOf(obs)))
  }
}

/** `DELETE FROM t [WHERE ...]` ([[UpdateDeleteRewrite]]): rows where the
  * predicate is TRUE go (NULL keeps); Count = rows deleted.
  */
case class DeleteFromCommand(table: String, where: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val base = spark.table(table)
    // A WHERE with an IN/EXISTS subquery is legal in DELETE's Filter,
    // but NOT inside the Observation's counting CASE (CollectMetrics
    // rejects predicate subqueries) — for that shape, count as
    // before-minus-after instead of riding the mutation pass.
    val hasSubquery = where.nonEmpty &&
      UpdateDeleteRewrite.subqueryRe.findFirstIn(where).isDefined
    val obs = Observation()
    val matched =
      if (where.isEmpty) count(lit(1)).as("n")
      else sum(when(expr(where), 1L).otherwise(0L)).as("n")
    val keepPred =
      if (where.isEmpty) lit(false)
      else !coalesce(expr(where), lit(false))
    val kept =
      if (hasSubquery) base.filter(keepPred)
      else base.observe(obs, matched).filter(keepPred)
    val nBefore = if (hasSubquery) base.count() else 0L
    var nKept = 0L
    if (TempTables.exists(spark, table)) {
      TempTables.put(spark, table, kept)
      if (hasSubquery) nKept = spark.table(table).count()
    } else {
      val (staged, stageDir) = Scratch.materialize(kept, "delete_stage")
      if (hasSubquery) nKept = staged.count() // parquet metadata count
      staged.write.mode("overwrite").insertInto(table)
      Scratch.delete(spark, stageDir)
    }
    Seq(Row(if (hasSubquery) nBefore - nKept else countOf(obs)))
  }
}

/** DuckDB's joined UPDATE — `UPDATE t SET ... FROM <source> [WHERE
  * pred]` (round 18). Semantics pinned on 1.0: a target row matching
  * ANY source row under the predicate is updated ONCE, from an
  * arbitrary matching source row (DuckDB picks its scan-order first;
  * `first()` over the per-row group is the same contract); rows without
  * a match keep their values; the Count is the number of DISTINCT
  * target rows updated.
  *
  * Shape: the target is stamped with a row id and MATERIALIZED once
  * (monotonically_increasing_id is nondeterministic — two plans would
  * disagree), the matched (rid, new values) pairs come from one join of
  * the stamped snapshot against the source text spliced verbatim (so
  * `t.col` / `s.col` references resolve exactly as written), reduced to
  * one row per rid, and joined back — two shuffles of O(matched), one
  * pass of the target, never target².
  */
case class UpdateFromCommand(table: String, set: String, source: String,
    where: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val target = spark.table(table)
    val as = assignments(set, target.schema)
    val (stamped, stampDir) = Scratch.materialize(
      target.withColumn("__graft_rid",
        org.apache.spark.sql.functions.monotonically_increasing_id()),
      s"updf_$table")
    stamped.createOrReplaceTempView("__graft_upd_stamped")
    try {
      val setSel = as.zipWithIndex.map { case ((_, rhs), i) =>
        s"($rhs) AS __graft_set_$i" }
      val matchedSql =
        s"SELECT $table.__graft_rid AS __graft_rid, ${setSel.mkString(", ")} " +
          s"FROM __graft_upd_stamped AS $table, $source" +
          (if (where.isEmpty) "" else s" WHERE $where")
      val matched = spark.sql(matchedSql)
        .groupBy("__graft_rid")
        .agg(first(col("__graft_set_0")).as("__graft_set_0"),
          as.indices.drop(1).map(i =>
            first(col(s"__graft_set_$i")).as(s"__graft_set_$i")): _*)
        .withColumn("__graft_hit", lit(true))
      val joined = stamped.join(matched, Seq("__graft_rid"), "left")
      val projected = joined.select(
        target.schema.fields.toIndexedSeq.map { f =>
          as.zipWithIndex.collectFirst {
            case ((n, _), i) if n.equalsIgnoreCase(f.name) =>
              when(col("__graft_hit"),
                col(s"__graft_set_$i").cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
          }.getOrElse(col(f.name))
        }: _*)
      val nMatched = matched.count()
      overwrite(spark, table, projected, "update_from_stage")
      Seq(Row(nMatched))
    } finally {
      spark.catalog.dropTempView("__graft_upd_stamped")
      Scratch.delete(spark, stampDir)
    }
  }
}

/** DuckDB's joined DELETE — `DELETE FROM t USING <source> [WHERE
  * pred]` (round 18): rows with ANY predicate match against the source
  * are removed; the kept set is one correlated NOT EXISTS (a null-safe
  * anti-join — Spark plans it without target²).
  */
case class DeleteUsingCommand(table: String, source: String, where: String)
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val target = spark.table(table)
    val kept = spark.sql(
      s"SELECT $table.* FROM $table WHERE NOT EXISTS " +
        s"(SELECT 1 FROM $source" +
        (if (where.isEmpty) "" else s" WHERE $where") + ")")
    val nBefore = target.count()
    var nKept = 0L
    if (TempTables.exists(spark, table)) {
      TempTables.put(spark, table, kept)
      nKept = spark.table(table).count()
    } else {
      val (staged, stageDir) = Scratch.materialize(kept, "delete_using_stage")
      nKept = staged.count()
      staged.write.mode("overwrite").insertInto(table)
      Scratch.delete(spark, stageDir)
    }
    Seq(Row(nBefore - nKept))
  }
}

/** `CREATE [OR REPLACE] TEMP TABLE name AS <query>` ([[TempTableRewrite]]):
  * materializes the query as a [[TempTables]] snapshot; Count = rows.
  */
case class CreateTempTableAsCommand(name: String, query: String,
    orReplace: Boolean) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!orReplace) failIfExists(spark, name)
    TempTables.create(spark, name, spark.sql(query))
    Seq(Row(spark.table(name).count())) // parquet metadata count
  }
}

/** `CREATE [OR REPLACE] TEMP TABLE name (<column defs>)`: an empty
  * snapshot; PRIMARY KEY and DEFAULT clauses register in [[TempTables]].
  */
case class CreateTempTableCommand(name: String, columns: String,
    orReplace: Boolean) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!orReplace) failIfExists(spark, name)
    // PRIMARY KEY declarations (inline `col TYPE PRIMARY KEY` or the
    // table-constraint `PRIMARY KEY (a, b)`) are stripped before the
    // Spark schema parse and recorded as the table's conflict target
    // for INSERT OR REPLACE / OR IGNORE. NOT NULL drops too (Spark's
    // DDL parser accepts neither; both are advisory here).
    val inlinePkRe = "(?is)\\bPRIMARY\\s+KEY\\s*\\z".r
    val constraintPkRe =
      "(?is)\\A\\s*PRIMARY\\s+KEY\\s*\\(([^)]*)\\)\\s*\\z".r
    // DEFAULT <expr> (round 18): stripped from the def — Spark's
    // parseTableSchema rejects it — and recorded as raw SQL text the
    // INSERT paths compile per statement (DuckDB's evaluation point).
    // The expr runs to the def's end minus trailing constraint words,
    // so `DEFAULT upper('x') NOT NULL PRIMARY KEY` parses all three.
    val defaultRe = "(?is)\\bDEFAULT\\s+(.+)\\z".r
    val tailConstraintRe =
      "(?is)\\s+(NOT\\s+NULL|PRIMARY\\s+KEY|UNIQUE)\\s*\\z".r
    var pkCols = Seq.empty[String]
    var defaults = Map.empty[String, String]
    val defs = DuckLexer(columns).split(',').flatMap { part0 =>
      val part = defaultRe.findFirstMatchIn(part0) match {
        case Some(dm) =>
          var ex = dm.group(1).trim
          var tail = ""
          var hit = tailConstraintRe.findFirstMatchIn(ex)
          while (hit.isDefined) {
            tail = ex.substring(hit.get.start) + tail
            ex = ex.substring(0, hit.get.start)
            hit = tailConstraintRe.findFirstMatchIn(ex)
          }
          val colName = part0.trim.split("\\s+").headOption.getOrElse("")
          if (colName.nonEmpty && ex.trim.nonEmpty)
            defaults += colName.toLowerCase -> ex.trim
          part0.substring(0, dm.start) + tail
        case None => part0
      }
      constraintPkRe.findFirstMatchIn(part) match {
        case Some(m) =>
          pkCols ++= m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          None
        case None =>
          val noNull = "(?is)\\s+NOT\\s+NULL\\b".r.replaceAllIn(part, "")
          inlinePkRe.findFirstIn(noNull) match {
            case Some(_) =>
              val stripped = inlinePkRe.replaceAllIn(noNull, "").trim
              pkCols ++= stripped.split("\\s+").headOption
              Some(stripped)
            case None => Some(noNull)
          }
      }
    }
    // DuckDB's length-less string spellings → Spark's STRING (Spark
    // demands a length on bare VARCHAR); parenthesized forms pass
    // through to Spark's own VARCHAR(n). Unsigned widths widen to
    // the next signed type, HUGEINT to DECIMAL(38,0), BLOB to BINARY
    // (round 18 — same table as typeSpellRewrite).
    val normalized = defs.map { d0 =>
      // Registered ENUM type names in column position → STRING (the
      // enum model's storage type; membership validation lives in the
      // cast path, round 18). Only the def's TYPE word (second token)
      // is considered — a column merely NAMED like an enum is safe.
      val d = {
        val toks = d0.trim.split("\\s+", 3)
        if (toks.length >= 2 && EnumTypes.get(spark, toks(1)).isDefined)
          (Seq(toks(0), "STRING") ++ toks.drop(2)).mkString(" ")
        else d0
      }
      ("(?i)\\b(?:VARCHAR|TEXT|BPCHAR|BLOB|UTINYINT|USMALLINT|" +
        "UINTEGER|UBIGINT|UHUGEINT|HUGEINT)\\b(?!\\s*\\()").r
        .replaceAllIn(d, m => m.matched.toUpperCase match {
          case "BLOB" => "BINARY"
          case "UTINYINT" => "SMALLINT"
          case "USMALLINT" => "INT"
          case "UINTEGER" => "BIGINT"
          case "UBIGINT" => "DECIMAL(20,0)"
          case "UHUGEINT" | "HUGEINT" => "DECIMAL(38,0)"
          case _ => "STRING"
        })
    }
    val schema = spark.sessionState.sqlParser.parseTableSchema(
      normalized.mkString(", "))
    TempTables.create(spark, name,
      spark.createDataFrame(new java.util.ArrayList[Row](), schema),
      TempTables.Facts(keys = Some(pkCols).filter(_.nonEmpty), defaults = defaults))
    Nil
  }
}

/** `INSERT INTO temp [(cols)] <query|VALUES ...>` without RETURNING;
  * Count = rows inserted.
  */
case class InsertIntoTempCommand(name: String, query: String, columns: Seq[String])
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(insert(spark, name, query, columns, intoTemp = true)._2()))
}

/** DuckDB's `UPDATE/DELETE/INSERT ... RETURNING exprs`: the write, plus
  * the written rows projected through the RETURNING list, which `run`
  * collects to the driver and returns as the statement's result. Only
  * the parser builds these ([[UpdateDeleteRewrite]], [[TempTableRewrite]]),
  * so the rewrites' scope guards always hold. `output` is the
  * projection's schema, empty until [[withOutput]] analyses the
  * projection over the table; the rewrites call it when the statement is
  * parsed (nothing runs), so EXPLAIN renders the schema.
  */
sealed trait ReturningCommand extends LeafRunnableCommand {
  def withOutput(spark: SparkSession): ReturningCommand

  protected def project(rows: DataFrame, returning: String): DataFrame =
    rows.selectExpr(DuckLexer(returning).split(',').map(_.trim): _*)

  /** The schema of `projected`, nullable. A failure to analyse it is
    * the statement's error: the rewrites hand any other exception back
    * to Spark's own parser.
    */
  protected def outputOf(projected: => DataFrame): Seq[Attribute] =
    try DataTypeUtils.toAttributes(StructType(projected.schema.map(_.copy(nullable = true))))
    catch {
      case e: org.apache.spark.sql.AnalysisException => throw e
      case scala.util.control.NonFatal(e) => fail(e.getMessage)
    }
}

/** DELETE ... RETURNING: returns the deleted rows, captured before the
  * staged overwrite.
  */
case class DeleteReturningCommand(table: String, where: String, returning: String,
    override val output: Seq[Attribute] = Nil) extends ReturningCommand {
  private def returned(base: DataFrame): DataFrame = project(
    if (where.isEmpty) base else base.filter(coalesce(expr(where), lit(false))), returning)

  override def withOutput(spark: SparkSession): DeleteReturningCommand =
    copy(output = outputOf(returned(spark.table(table))))

  override def run(spark: SparkSession): Seq[Row] = {
    val base = spark.table(table)
    val rows = returned(base).collect().toSeq
    val keepPred = if (where.isEmpty) lit(false) else !coalesce(expr(where), lit(false))
    overwrite(spark, table, base.filter(keepPred), "delete_stage")
    rows
  }
}

/** UPDATE ... RETURNING: returns the matched rows' NEW values (the SET
  * list evaluated over the old row, as the update itself does),
  * captured before the staged overwrite.
  */
case class UpdateReturningCommand(table: String, set: String, where: String,
    returning: String, override val output: Seq[Attribute] = Nil) extends ReturningCommand {
  private def returned(base: DataFrame): DataFrame = project(
    (if (where.isEmpty) base else base.filter(expr(where)))
      .select(updatedColumns(base.schema, assignments(set, base.schema), ""): _*),
    returning)

  override def withOutput(spark: SparkSession): UpdateReturningCommand =
    copy(output = outputOf(returned(spark.table(table))))

  override def run(spark: SparkSession): Seq[Row] = {
    val base = spark.table(table)
    val rows = returned(base).collect().toSeq
    overwrite(spark, table,
      base.select(updatedColumns(base.schema, assignments(set, base.schema), where): _*),
      "update_stage")
    rows
  }
}

/** `INSERT INTO t [(cols)] <query> RETURNING exprs` into a graft temp
  * table or a catalog table: appends, then returns the inserted rows.
  */
case class InsertReturningCommand(name: String, query: String, columns: Seq[String],
    returning: String, override val output: Seq[Attribute] = Nil) extends ReturningCommand {
  override def withOutput(spark: SparkSession): InsertReturningCommand =
    copy(output = outputOf(project(spark.table(name), returning)))

  override def run(spark: SparkSession): Seq[Row] = {
    val (staged, _) = insert(spark, name, query, columns,
      intoTemp = TempTables.exists(spark, name))
    project(staged, returning).collect().toSeq
  }
}

/** What an upsert does with an incoming row whose key is already
  * present: replace the row, keep it, or update it by `set` (the
  * `a = expr, ...` list) where `where` holds (empty: always).
  */
sealed trait ConflictAction extends Product with Serializable
object ConflictAction {
  case object Replace extends ConflictAction
  case object Ignore extends ConflictAction
  case class Update(set: String, where: String) extends ConflictAction
}

/** DuckDB's keyed-ingest INSERTs over graft temp tables and catalog
  * tables: `INSERT OR REPLACE INTO t ...` (Replace), `INSERT OR IGNORE
  * INTO t ...` and `... ON CONFLICT [(cols)] DO NOTHING` (Ignore), and
  * `... ON CONFLICT [(cols)] DO UPDATE SET ... [WHERE ...]` (Update),
  * via [[TempTableRewrite]]. The
  * conflict target is `keys` when the statement names one, else the
  * table's declared PRIMARY KEY. Semantics pinned against DuckDB 1.0:
  * REPLACE Count = all input rows; IGNORE/DO NOTHING Count = rows
  * actually inserted; duplicate keys WITHIN one REPLACE increment raise
  * the constraint error (no silent arbitrary winner). The new state is
  * one keyed anti-join + union over the snapshot — at scale the cost
  * tracks the increment and one pass of the target, never target²; the
  * anti-join shuffles on the key like any upsert merge.
  */
case class UpsertCommand(name: String, query: String, columns: Seq[String],
    keys: Seq[String], onConflict: ConflictAction) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val isTemp = TempTables.exists(spark, name)
    // Catalog (non-temp) tables execute too (round 17): the upsert is
    // the staged-INSERT-OVERWRITE recipe run mechanically. tableExists
    // on the session catalog sees persistent tables, not temp views —
    // an unclaimed name keeps DuckDB's error shape.
    val isCatalog = !isTemp &&
      (try spark.sessionState.catalog.tableExists(TableIdentifier(name))
      catch { case scala.util.control.NonFatal(_) => false })
    if (!isTemp && !isCatalog)
      fail(s"INSERT OR ${onConflict.productPrefix.toUpperCase} / ON CONFLICT: '$name' is " +
        "neither a graft temp table nor a catalog table (views cannot " +
        "be upserted).")
    val target = spark.table(name)
    // Temp path: atomic view re-registration (snapshot semantics).
    // Catalog path: materialize the merged state OUTSIDE the table
    // first — overwriting a table from a plan that reads the same
    // table is unsafe — then INSERT OVERWRITE, positionally aligned.
    // At scale both are one keyed anti-join + union + one table
    // rewrite; the ignore mode appends only the fresh rows instead.
    //
    // DURABILITY CAVEAT (documented divergence, round 18): v1 INSERT
    // OVERWRITE truncates the target before writing, so a crash
    // mid-write can lose the table's prior rows — weaker than
    // DuckDB's transactional ON CONFLICT. The staged materialize
    // above guards only the self-read, not durability. A v1
    // file-source table offers no atomic commit to build on (its
    // location is fixed metadata; a scratch-write + rename still
    // races readers); production deployments point this at a table
    // format with a real commit protocol (Iceberg/Delta MERGE), where
    // the same staged plan commits atomically.
    def commit(df: DataFrame): Unit =
      if (isTemp) TempTables.put(spark, name, df)
      else {
        val (merged, _) = Scratch.materialize(
          df.select(target.columns.map(col).toIndexedSeq: _*), s"cat_$name")
        merged.write.mode("overwrite").insertInto(name)
      }
    val conflictKeys =
      if (keys.nonEmpty) keys
      else TempTables.facts(spark, name).keys.getOrElse(fail(
        s"'$name' has no PRIMARY KEY declared and the statement names no " +
          "conflict target — declare one (CREATE [TEMP] TABLE t (id " +
          "INTEGER PRIMARY KEY, ...)) or use ON CONFLICT (cols) DO " +
          "NOTHING."))
    val missing = conflictKeys.filterNot(k =>
      target.schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    if (missing.nonEmpty)
      fail(s"conflict target column(s) not in '$name': ${missing.mkString(", ")}")
    val upsDefaults = TempTables.facts(spark, name).defaults
    val aligned = alignInsert(target,
      spark.sql(substituteDefaultKeyword(query, target.schema, columns, upsDefaults)),
      columns, upsDefaults)
    val (staged, _) = Scratch.materialize(aligned, s"ups_$name")
    val keyCols = conflictKeys.map(col)
    // Duplicate-key check + input count in ONE aggregate job (they were
    // two separate full passes over the staged increment — a groupBy +
    // collect and a count — and the ignore mode paid the groupBy without
    // ever reading it). count_distinct skips tuples with a NULL key
    // column, so a mismatch is only a dup SUSPICION: the exact groupBy
    // probe (below, suspicion-only) decides, keeping null-keyed rows'
    // semantics identical. Both values are lazy — ignore mode runs
    // neither job.
    lazy val (nInput, dupSuspected) = {
      val r = staged.select(count(lit(1)).as("__graft_n"),
        org.apache.spark.sql.functions.count_distinct(
          keyCols.head, keyCols.tail: _*).as("__graft_nd")).head()
      (r.getLong(0), r.getLong(1) < r.getLong(0))
    }
    def failIfDupKeys(): Unit = if (dupSuspected) {
      val dupKeys = staged.groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__graft_n")).filter(col("__graft_n") > 1)
        .limit(1).collect()
      if (dupKeys.nonEmpty)
        fail("PRIMARY KEY or UNIQUE constraint violated: duplicate key " +
          s"in the inserted rows (${conflictKeys.mkString(", ")} = " +
          s"${dupKeys.head.toSeq.init.mkString(", ")})")
    }
    val n = onConflict match {
      case ConflictAction.Replace =>
        failIfDupKeys()
        commit(target.join(staged.select(keyCols: _*), conflictKeys, "left_anti")
          .unionByName(staged))
        nInput
      case ConflictAction.Ignore =>
        // Conflicts lose silently — against the target AND within the
        // increment itself (DuckDB inserts sequentially; an arbitrary
        // per-key representative matches its any-order file scan).
        // The fresh-row count rides the materializing write as an
        // Observation instead of a second pass over the fresh set.
        val obsF = Observation()
        val fresh = staged
          .dropDuplicates(conflictKeys)
          .join(target.select(keyCols: _*), conflictKeys, "left_anti")
          .observe(obsF, count(lit(1)).as("n"))
        val (freshStaged, _) = Scratch.materialize(fresh, s"upsf_$name")
        val nFresh = countOf(obsF)
        if (isTemp) TempTables.put(spark, name, target.unionByName(freshStaged))
        else // catalog: conflicts lose, so only the fresh rows APPEND
          freshStaged.select(target.columns.map(col).toIndexedSeq: _*)
            .write.mode("append").insertInto(name)
        nFresh
      case ConflictAction.Update(set, where) =>
        // ON CONFLICT DO UPDATE SET ... [WHERE ...] — DuckDB 1.0
        // pinned: bare refs in SET/WHERE are the TARGET row,
        // EXCLUDED.c is the incoming row, assigning a conflict-target
        // column is a binder error, a duplicate key WITHIN the
        // increment is a constraint error, and the Count is
        // inserted + actually-updated (WHERE-failing conflicts keep
        // the old row and do not count).
        failIfDupKeys()
        // EXCLUDED.c / <name>.c → the renamed staged column / the
        // bare target column (quote-aware via the literal mask).
        def rewriteRefs(s: String): String = {
          val refRe = ("(?i)\\b(excluded|" +
            java.util.regex.Pattern.quote(name) +
            ")\\s*\\.\\s*([A-Za-z_]\\w*)").r
          val masked = DuckLexer(s).masked
          val sb = new StringBuilder
          var pos = 0
          refRe.findAllMatchIn(masked).foreach { m =>
            sb.append(s.substring(pos, m.start))
            val c = s.substring(m.start(2), m.end(2))
            if (m.group(1).equalsIgnoreCase("excluded"))
              sb.append("__exc_").append(c)
            else sb.append('`').append(c).append('`')
            pos = m.end
          }
          sb.append(s.substring(pos))
          sb.toString
        }
        val assigns = DuckLexer(set).split(',', groups = true).map { a =>
          val eq = DuckLexer(a).masked.indexOf('=')
          if (eq <= 0) fail(s"DO UPDATE SET: cannot parse assignment '$a'")
          val c = a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
          if (!target.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
            fail(s"DO UPDATE SET: column '$c' not in '$name'")
          if (conflictKeys.exists(_.equalsIgnoreCase(c)))
            fail(s"Can not assign to column '$c' because it is the " +
              "conflict target (UNIQUE/PRIMARY KEY)")
          c -> rewriteRefs(a.substring(eq + 1).trim)
        }.toMap
        val excluded = staged.select(staged.columns.map(c =>
          col(c).as(s"__exc_$c")).toIndexedSeq: _*)
        val joinCond = conflictKeys.map(k => col(k) === col(s"__exc_$k"))
          .reduce(_ && _)
        val cond = if (where.isEmpty) lit(true) else expr(rewriteRefs(where))
        // The updated-row count rides the commit's own execution as an
        // Observation on the conflict join (counting the rows cond
        // updates, exactly what the old separate filter(cond).count()
        // job scanned again); the fresh-row count likewise rides the
        // fresh set's materializing write. Two fewer passes per
        // statement; CollectMetrics is row-transparent and forwards
        // maxRows, so the temp-table local-snapshot gate still sees
        // the bounded plan.
        val obsU = Observation()
        val conflicted = target.join(excluded, joinCond, "inner")
          .observe(obsU, sum(when(cond, 1L).otherwise(0L)).as("n"))
        val updated = conflicted.select(target.columns.map { c =>
          assigns.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, e)) =>
              // Assignments cast to the COLUMN's type (DuckDB's
              // contract) — without it the union would silently
              // widen the whole column.
              val dt = target.schema(target.schema.fieldIndex(c)).dataType
              when(cond, expr(e).cast(dt)).otherwise(col(c)).as(c)
            case None => col(c).as(c)
          }
        }.toIndexedSeq: _*)
        val untouched = target.join(
          staged.select(keyCols: _*), conflictKeys, "left_anti")
        val obsF = Observation()
        val fresh = staged.join(target.select(keyCols: _*), conflictKeys, "left_anti")
          .observe(obsF, count(lit(1)).as("n"))
        val (freshStaged, _) = Scratch.materialize(fresh, s"upsu_$name")
        val nFresh = countOf(obsF)
        commit(untouched.unionByName(updated).unionByName(freshStaged))
        nFresh + countOf(obsU)
    }
    Seq(Row(n))
  }
}

/** `DROP TABLE [IF EXISTS] t` of a graft temp table: the registry drop. */
case class DropTempTableCommand(name: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TempTables.drop(spark, name)
    Nil
  }
}

/** `ALTER TABLE t <change>` of a graft temp table ([[AlterTableRewrite]]):
  * re-materializes the snapshot with the changed schema.
  */
case class AlterTempTableCommand(name: String, change: String) extends DuckCommand {
  import AlterTempTableCommand._
  override def run(spark: SparkSession): Seq[Row] = {
    val df = spark.table(name)
    def resolve(c: String): Option[String] =
      df.columns.find(_.equalsIgnoreCase(c))
    def parseType(t: String) =
      try spark.sessionState.sqlParser.parseDataType(normalizeType(t.trim))
      catch { case scala.util.control.NonFatal(_) =>
        fail(s"ALTER TABLE $name: cannot parse type '$t'") }
    change match {
      case addRe(ifnex, c, tpe, dflt) =>
        if (resolve(c).isDefined) {
          if (ifnex == null)
            fail(s"""ALTER TABLE $name: column "$c" already exists""")
        } else {
          val dt = parseType(tpe)
          val e = Option(dflt).map(d => expr(d.trim)).getOrElse(lit(null))
          TempTables.put(spark, name, df.withColumn(c, e.cast(dt)))
        }
      case dropRe(ifex, c) =>
        resolve(c) match {
          case Some(real) => TempTables.put(spark, name, df.drop(real))
          case None if ifex != null => ()
          case None =>
            fail(s"""ALTER TABLE $name: column "$c" does not exist""")
        }
      case renToRe(newName) =>
        if (TempTables.exists(spark, newName) || spark.catalog.tableExists(newName))
          fail(s"""ALTER TABLE: table with name "$newName" already exists""")
        // The table moves whole: keys, defaults and comments go with it.
        TempTables.create(spark, newName, df, TempTables.facts(spark, name))
        TempTables.drop(spark, name)
      case renColRe(a, b) =>
        val real = resolve(a).getOrElse(
          fail(s"""ALTER TABLE $name: column "$a" does not exist"""))
        if (resolve(b).isDefined)
          fail(s"""ALTER TABLE $name: column "$b" already exists""")
        TempTables.put(spark, name, df.withColumnRenamed(real, b))
      case altTypeRe(c, tpe) if !"(?i)\\bUSING\\b".r
          .findFirstIn(DuckLexer(tpe).masked).isDefined =>
        val real = resolve(c).getOrElse(
          fail(s"""ALTER TABLE $name: column "$c" does not exist"""))
        val dt = parseType(tpe)
        TempTables.put(spark, name, df.withColumn(real, col(real).cast(dt)))
      case _ =>
        fail(s"ALTER TABLE on temp table '$name': supported forms are " +
          "ADD [COLUMN] [IF NOT EXISTS] c TYPE [DEFAULT expr], " +
          "DROP [COLUMN] [IF EXISTS] c, RENAME [COLUMN] a TO b, " +
          "RENAME TO t2, and ALTER [COLUMN] c [SET DATA] TYPE type. " +
          "This statement is not one of them (TYPE ... USING expr: " +
          "run the cast as UPDATE t SET c = expr first).")
    }
    Nil
  }
}

object AlterTempTableCommand {
  private val addRe =
    """(?is)\AADD\s+(?:COLUMN\s+)?(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_]\w*)\s+(.+?)(?:\s+DEFAULT\s+(.+))?\z""".r
  private val dropRe =
    """(?is)\ADROP\s+(?:COLUMN\s+)?(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\z""".r
  private val renToRe =
    """(?is)\ARENAME\s+TO\s+([A-Za-z_]\w*)\z""".r
  private val renColRe =
    """(?is)\ARENAME\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\z""".r
  private val altTypeRe =
    """(?is)\AALTER\s+(?:COLUMN\s+)?([A-Za-z_]\w*)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\z""".r

  /** DuckDB's length-less string spellings → Spark's STRING (same
    * normalization as CREATE TEMP TABLE's column defs).
    */
  private def normalizeType(t: String): String =
    "(?i)\\b(?:VARCHAR|TEXT|BPCHAR)\\b(?!\\s*\\()".r.replaceAllIn(t, "STRING")
}

/** DuckDB's `COPY ... TO` ([[CopyToRewrite]]): run the source
  * (view/catalog name or SQL text), write it to `path` as `format`, and
  * return DuckDB's one-row result — `Count BIGINT`, the rows written.
  * The count rides the write's OWN pass via the Observation API (no
  * second scan — at 100 TB a separate count() is another full read).
  * With PARTITION_BY the target is a Spark datasource DIRECTORY of part
  * files in hive-style `col=value/` layout, the distributed-writer
  * contract; `mode=overwrite` matches COPY's replace behavior.
  * `options` carries DELIMITER/QUOTE/ESCAPE/NULL (CSV) and COMPRESSION.
  */
case class CopyToCommand(source: String, path: String, format: String,
    header: Boolean, partitionBy: Seq[String], options: Map[String, String])
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSparkExtensions.tableOrSql(spark, source)
    val obs = Observation()
    val instrumented = src.observe(obs, count(lit(1)).as("n"))
    // Host parity (round 20): DuckDB's un-partitioned COPY TO writes
    // ONE FILE at exactly `path`; Spark's writers emit a part-file
    // DIRECTORY, which breaks any script that hands the path to a
    // file consumer (q172's round-trip had DuckDB refusing to
    // overwrite the engine's directory). A file-extension target with
    // no PARTITION_BY therefore stages a single-writer output
    // (coalesce(1) — the same single-file cost the host pays) and
    // renames the part file onto the path. PARTITION_BY keeps the
    // parallel hive-layout directory — the 100 TB export path.
    val singleFile = partitionBy.isEmpty &&
      path.matches("(?i).*\\.(parquet|parq|csv|tsv|json|jsonl|ndjson)\\z")
    val outPath = if (singleFile) path + ".__graft_stage__" else path
    val frame = if (singleFile) instrumented.coalesce(1) else instrumented
    val writer0 = frame.write.mode("overwrite")
    val writer1 =
      if (partitionBy.isEmpty) writer0 else writer0.partitionBy(partitionBy: _*)
    val writer = options.get("compression")
      .map(c => writer1.option("compression", c)).getOrElse(writer1)
    format match {
      case "parquet" => writer.parquet(outPath)
      case "csv" =>
        val w = csvOptionKeys.foldLeft(writer) { case (wr, (k, opt)) =>
          options.get(k).map(x => wr.option(opt, x)).getOrElse(wr) }
        w.option("header", header.toString).csv(outPath)
      case "json" =>
        // DuckDB's FORMAT JSON export is newline-delimited objects --
        // exactly Spark's json writer (compression already applied).
        writer.json(outPath)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported format '$other' (parquet, csv, json)")
    }
    if (singleFile) {
      val sp = new org.apache.hadoop.fs.Path(outPath)
      val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
      val parts = fs.listStatus(sp).filter(s =>
        s.isFile && s.getPath.getName.startsWith("part-"))
      require(parts.length == 1,
        s"COPY: expected one staged part file, found ${parts.length}")
      val tp = new org.apache.hadoop.fs.Path(path)
      if (fs.exists(tp)) fs.delete(tp, true)
      if (!fs.rename(parts.head.getPath, tp))
        throw new IllegalStateException(s"COPY: rename to $path failed")
      fs.delete(sp, true)
    }
    Seq(Row(countOf(obs)))
  }
}

/** DuckDB's `COPY tbl FROM 'path'` ([[CopyToRewrite]]'s import
  * direction): appends the file's rows into an EXISTING catalog table
  * via `insertInto` (by-position mapping, DuckDB's default import) and
  * returns DuckDB's one-row Count. CSV and JSON parse under the TARGET
  * table's schema (DuckDB reads the file against the table's declared
  * types the same way); parquet arrives self-described. The count rides
  * the write's own pass via an Observation — no second scan of the file.
  */
case class CopyFromCommand(table: String, path: String, format: String,
    header: Boolean, options: Map[String, String]) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val target = spark.table(table)
    val src = format match {
      case "parquet" => spark.read.parquet(path)
      case "csv" =>
        val r0 = spark.read.option("header", header.toString)
        val r = csvOptionKeys.foldLeft(r0) { case (rd, (k, opt)) =>
          options.get(k).map(x => rd.option(opt, x)).getOrElse(rd) }
        r.schema(target.schema).csv(path)
      case "json" => spark.read.schema(target.schema).json(path)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported format '$other' (parquet, csv, json)")
    }
    val obs = Observation()
    src.observe(obs, count(lit(1)).as("n")).write.mode("append").insertInto(table)
    Seq(Row(countOf(obs)))
  }
}

/** DuckDB's `EXPORT DATABASE 'dir' (FORMAT PARQUET)`: writes every v1
  * catalog table and every graft temp table ([[TempTables]]) as
  * `dir/<name>.parquet` plus DuckDB-runnable `schema.sql`/`load.sql`
  * manifests — the COPY lines glob the part files, and executing the two
  * scripts in DuckDB restores the data (verified; DuckDB's own IMPORT
  * DATABASE wrapper additionally globs `*.parquet` directly under the dir
  * and skips directory entries, so use the scripts for cross-engine
  * restore).
  */
case class ExportDatabaseCommand(dir: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val root = dir.stripSuffix("/")
    val catalogTables = spark.sessionState.catalog
      .listTables(spark.sessionState.catalog.getCurrentDatabase)
      .filter(_.database.isDefined).map(_.table)
    val all = (catalogTables ++ TempTables.names(spark)).distinct.sorted
    // Tables export as INDEPENDENT concurrent jobs (guide §2.6): a
    // serial per-table loop leaves the cluster idle in every table's
    // write tail; 3 writes in flight back-fill it. Submission-bounded
    // pool — compute still runs on Spark's scheduler. Manifests are
    // built in sorted name order after all writes land, so
    // schema.sql/load.sql stay deterministic.
    val exportEc = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(3, math.max(1, all.size)),
        (r: Runnable) => {
          val t = new Thread(r, "graft-export-db"); t.setDaemon(true); t
        }))
    val writes = all.map { name =>
      val df = spark.table(name) // resolve on the caller thread
      name -> scala.concurrent.Future {
        df.write.mode("overwrite").parquet(s"$root/$name.parquet")
        df.schema
      }(exportEc)
    }
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    try writes.foreach { case (name, f) =>
      val schema = scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(3600, "s"))
      val cols = schema.fields.map(f2 =>
        s""""${f2.name}" ${GraftSparkExtensions.duckTypeOf(f2.dataType)}""")
        .mkString(", ")
      schemaSql.append(s"CREATE TABLE $name ($cols);\n")
      loadSql.append(
        s"COPY $name FROM '$root/$name.parquet/*.parquet' (FORMAT 'parquet');\n")
    } finally exportEc.shutdown()
    val conf = spark.sparkContext.hadoopConfiguration
    def writeText(path: String, text: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val out = p.getFileSystem(conf).create(p, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeText(s"$root/schema.sql", schemaSql.toString)
    writeText(s"$root/load.sql", loadSql.toString)
    Nil
  }
}

/** DuckDB's `IMPORT DATABASE 'dir'`: restores every `<name>.parquet`
  * entry as a graft temp table — session-scoped where DuckDB restores to
  * the main schema (documented divergence; queries resolve the names
  * identically). Count = the last restored table's rows, as DuckDB
  * reports — one metadata-only parquet count, not one per table.
  */
case class ImportDatabaseCommand(dir: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val root = dir.stripSuffix("/")
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted
    require(entries.nonEmpty, s"IMPORT DATABASE: no *.parquet entries under $root")
    entries.foreach { e =>
      TempTables.create(spark, e.stripSuffix(".parquet"), spark.read.parquet(s"$root/$e"))
    }
    Seq(Row(spark.table(entries.last.stripSuffix(".parquet")).count()))
  }
}

/** BEGIN/COMMIT/ROLLBACK over the graft temp-table layer
  * ([[TempTables]] — the multi-version mutation protocol makes a
  * transaction a saved registry state; see the txn* scaladoc there).
  * Error texts mirror DuckDB's TransactionContext errors (nested BEGIN,
  * bare COMMIT/ROLLBACK — pinned on 1.0).
  */
case class TransactionCommand(op: TransactionOp) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    op match {
      case TransactionOp.Begin => TempTables.txnBegin(spark)
      case TransactionOp.Commit => TempTables.txnCommit(spark)
      case TransactionOp.Rollback => TempTables.txnRollback(spark)
    }
    Nil
  }
}

sealed trait TransactionOp extends Product with Serializable
object TransactionOp {
  case object Begin extends TransactionOp
  case object Commit extends TransactionOp
  case object Rollback extends TransactionOp
}

/** CREATE SEQUENCE ([[Sequences]]). */
case class CreateSequenceCommand(name: String, start: Option[Long],
    increment: Long, minValue: Option[Long], maxValue: Option[Long],
    cycle: Boolean, orReplace: Boolean, ifNotExists: Boolean)
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Sequences.create(DuckSession(spark), name, start, increment, minValue, maxValue, cycle,
      orReplace, ifNotExists)
    Nil
  }
}

/** DROP SEQUENCE ([[Sequences]]). */
case class DropSequenceCommand(name: String, ifExists: Boolean) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Sequences.drop(DuckSession(spark), name, ifExists)
    Nil
  }
}

/** COMMENT ON TABLE (a graft temp table) / COMMENT ON COLUMN
  * ([[TempTables.Facts]]); `comment` None is `IS NULL`. Missing table/column
  * errors mirror DuckDB's Catalog Error.
  */
case class CommentOnCommand(table: String, column: Option[String],
    comment: Option[String]) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!spark.catalog.tableExists(table))
      throw new IllegalStateException(
        s"Catalog Error: Table with name $table does not exist!")
    column match {
      case None => TempTables.updateFacts(spark, table)(_.copy(comment = comment))
      case Some(c) =>
        if (!spark.table(table).schema.fieldNames.exists(_.equalsIgnoreCase(c)))
          throw new IllegalStateException(
            s"""Catalog Error: Column with name $c does not exist!""")
        val k = c.toLowerCase
        TempTables.updateFacts(spark, table)(f => f.copy(columnComments =
          comment.fold(f.columnComments - k)(v => f.columnComments + (k -> v))))
    }
    Nil
  }
}

/** Constraint-stripped catalog CREATE TABLE ([[CatalogPkRewrite]]):
  * executes the stripped DDL and registers the key columns ONLY after
  * it succeeds — a failing CREATE must not leave a stale/garbage key
  * registration behind (round 18, ADVICE).
  */
case class CreateTableWithKeyCommand(table: String, keys: Seq[String], ddl: String)
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    spark.sql(ddl).collect() // throws on failure; keys stay unregistered
    TempTables.updateFacts(spark, table)(_.copy(keys = Some(keys)))
    Nil
  }
}

/** ATTACH '<dir>' AS name (round 19, verdict-18 #4): registers every
  * parquet file (and dataset subdirectory) under <dir> as an EXTERNAL
  * table `name.<base>` in a session-catalog database, so pasted
  * multi-database scripts address `name.tbl` exactly as in DuckDB.
  * READ_ONLY is accepted and recorded only in spirit — external parquet
  * tables take no writes through this lane anyway.
  */
case class AttachDatabaseCommand(path: String, name: String, ifNotExists: Boolean)
    extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (spark.catalog.databaseExists(name)) {
      if (!ifNotExists)
        fail(s"""Unique file handle conflict: Database "$name" is already attached!""")
    } else {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(hPath) || !fs.getFileStatus(hPath).isDirectory)
        fail(s"ATTACH: '$path' is not a readable directory (this " +
          "engine attaches DIRECTORIES of parquet files as databases; " +
          ".duckdb files have no reader here)")
      val tables = fs.listStatus(hPath).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) None
        else if (st.isFile &&
          (n.toLowerCase.endsWith(".parquet") || n.toLowerCase.endsWith(".parq")))
          Some(n.replaceAll("(?i)\\.(parquet|parq)$", "") -> st.getPath)
        else if (st.isDirectory) Some(n -> st.getPath)
        else None
      }.filter(_._1.matches("[A-Za-z_]\\w*"))
      if (tables.isEmpty)
        fail(s"ATTACH: no parquet tables found under '$path'")
      spark.sql(s"CREATE DATABASE `$name`")
      tables.foreach { case (tbl, p) =>
        spark.sql(s"CREATE TABLE `$name`.`$tbl` USING parquet " +
          s"LOCATION '${p.toString.replace("'", "''")}'")
      }
      DuckSession(spark).attached.put(name.toLowerCase, path)
    }
    Nil
  }
}

/** DETACH name: drops a database ATTACH created (CASCADE; external
  * tables: files untouched).
  */
case class DetachDatabaseCommand(name: String, ifExists: Boolean) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // Only databases THIS session attached are detachable — a
    // user-created database (CREATE SCHEMA + managed tables) gets the
    // host's not-found error instead of a silent CASCADE drop of its
    // managed data (round-19 ADVICE; host message probed v1.0.0).
    val attached = DuckSession(spark).attached
    if (!attached.containsKey(name.toLowerCase) ||
        !spark.catalog.databaseExists(name)) {
      if (!ifExists)
        fail(s"""Failed to detach database with name "$name": database not found""")
    } else {
      spark.sql(s"DROP DATABASE `$name` CASCADE")
      attached.remove(name.toLowerCase)
    }
    Nil
  }
}

/** Warn-once no-op for DuckDB maintenance statements (CREATE/DROP INDEX,
  * VACUUM, bare ANALYZE, CHECKPOINT, tuning PRAGMAs): prints one stderr
  * line per statement kind per JVM naming the Spark equivalent.
  */
case class MaintenanceNoopCommand(kind: String, message: String) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (GraftSparkExtensions.warnedMaintenance.add(kind))
      System.err.println(s"graft: $kind is a no-op on this engine — $message")
    Nil
  }
}

/** CREATE TYPE name AS ENUM (...) ([[EnumTypes]]). */
case class CreateEnumTypeCommand(name: String, values: Seq[String]) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    EnumTypes.define(spark, name, values)
    Nil
  }
}

/** DROP TYPE [IF EXISTS] name ([[EnumTypes]]). */
case class DropEnumTypeCommand(name: String, ifExists: Boolean) extends DuckCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!EnumTypes.drop(spark, name) && !ifExists)
      fail(s"Type with name $name does not exist!")
    Nil
  }
}

/** Non-TEMP `CREATE OR REPLACE TABLE name <definition>` over an absent
  * or plain-v1 target (v2-only in Spark): the DuckDB idiom runs as
  * drop-then-create (atomicity of the native v2 REPLACE is not provided
  * — the drop commits first; documented). Its result is CREATE TABLE's.
  */
case class CreateOrReplaceTableCommand(name: String, definition: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    try {
      // MANAGED data location to clear (an in-memory catalog's
      // default warehouse dir survives session crashes, and the
      // catalog-API drop does not clear it — a leftover dir would
      // fail the CREATE with LOCATION_ALREADY_EXISTS). EXTERNAL
      // tables and LOCATION-bearing statements keep their data.
      val managedLoc: Option[java.net.URI] =
        if (cat.tableExists(ident)) {
          val meta = cat.getTableMetadata(ident)
          if (meta.tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
            Some(meta.location)
          else None
        } else Some(cat.defaultTablePath(ident))
      cat.dropTable(ident, ignoreIfNotExists = true, purge = false)
      // The catalog-API drop also bypasses DropTableCommand's cache
      // invalidation — refresh, or the relation cache would serve
      // the replaced table's OLD schema after a column-def CREATE.
      cat.refreshTable(ident)
      if (!"(?i)\\bLOCATION\\b".r.findFirstIn(definition).isDefined)
        managedLoc.foreach { uri =>
          val p = new org.apache.hadoop.fs.Path(uri)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p)) { fs.delete(p, true); () }
        }
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.sql(s"CREATE TABLE $name$definition").collect().toSeq
  }
}
