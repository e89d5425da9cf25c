package graft.sql

import scala.util.control.NonFatal

/** Constraint-stripping claim for catalog CREATE TABLE (round 17).
  *
  * DuckDB DDL commonly declares `PRIMARY KEY` (inline or table-level)
  * or `UNIQUE`; Spark 4.1 PARSES the constraint syntax but v1
  * file-source tables reject it in ANALYSIS
  * (UNSUPPORTED_FEATURE.TABLE_OPERATION ... does not support
  * CONSTRAINT), so the pasted statement is claimed pre-delegation: the
  * constraint is stripped from the DDL (a file-lake table cannot
  * enforce a key index anyway — reads never consult it; the upsert TVF
  * enforces duplicate-key errors like DuckDB's constraint does) and the
  * key columns are registered in the session PK registry
  * ([[TempTables.setKeys]] — the same registry INSERT OR REPLACE /
  * OR IGNORE resolve their conflict target against, now for catalog
  * tables too). UNIQUE constraints strip the same way and feed the
  * registry only when no PRIMARY KEY is present.
  *
  * Claimed shape: `CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <name>
  * (<defs>) [USING <fmt>]` with a plain single-part name and ≥1
  * PK/UNIQUE constraint; anything else (multipart names, PARTITIONED
  * BY/TBLPROPERTIES tails, CHECK/FOREIGN KEY defs) returns None and
  * delegates natively, keeping Spark's own errors.
  */
object CatalogPkRewritten {
  def unapply(sql: String): Option[(String, String, Seq[String])] =
    CatalogPkRewrite.rewrite(sql)
}

object CatalogPkRewrite {

  private val headRe =
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_]\\w*)\\s*\\(").r

  private val tablePkRe = """(?is)\APRIMARY\s+KEY\s*\(([^)]*)\)\z""".r
  private val tableUqRe = """(?is)\AUNIQUE\s*\(([^)]*)\)\z""".r
  private val pkWordsRe = """(?is)\s*\bPRIMARY\s+KEY\b""".r
  private val uqWordRe = """(?is)\s*\bUNIQUE\b""".r

  /** Remove every `re` occurrence found in the MASKED text from the raw
    * text (offsets align — the literal mask is length-preserving), so a
    * string literal containing the constraint words is never touched.
    */
  private def stripAt(raw: String, masked: String,
      re: scala.util.matching.Regex): String = {
    val sb = new StringBuilder
    var pos = 0
    re.findAllMatchIn(masked).foreach { m =>
      sb.append(raw.substring(pos, m.start)); pos = m.end
    }
    sb.append(raw.substring(pos))
    sb.toString
  }

  /** (strippedSql, tableName, keyCols); None = not claimed. */
  def rewrite(sql: String): Option[(String, String, Seq[String])] = try {
    val mask = DuckLexer(sql).masked
    val m = headRe.findFirstMatchIn(mask).getOrElse(return None)
    val name = sql.substring(m.start(3), m.end(3))
    val open = m.end - 1
    val close = DuckLexer(sql).closeOf(open)
    if (close <= 0 || close > sql.length) return None
    val rawDefs = DuckLexer(sql.substring(open + 1, close - 1)).split(',')
    val maskDefs = DuckLexer(mask.substring(open + 1, close - 1)).split(',')
    if (rawDefs.length != maskDefs.length) return None
    val tail = sql.substring(close).trim.stripSuffix(";").trim
    if (tail.nonEmpty && !tail.matches("(?is)USING\\s+\\w+")) return None
    val colNameRe = """(?s)\A\s*([A-Za-z_]\w*)\s""".r
    // Named constraints (`CONSTRAINT x PRIMARY KEY (...)`) would fall
    // into the inline branches below and register the bogus identifier
    // `CONSTRAINT` as a key column — decline the whole statement and
    // delegate natively instead (round 18, ADVICE).
    if (maskDefs.exists(_.trim.matches("(?is)\\ACONSTRAINT\\b.*")))
      return None
    var pk = Vector.empty[String]
    var uq = Vector.empty[String]
    val kept = rawDefs.zip(maskDefs).flatMap { case (raw0, masked0) =>
      val (raw, masked) = (raw0.trim, masked0.trim)
      masked match {
        case tablePkRe(_) =>
          // the CSV from the RAW text (mask blanks nothing here, but
          // stay consistent)
          val csv = tablePkRe.findFirstMatchIn(raw).get.group(1)
          pk ++= csv.split(",").map(_.trim).filter(_.nonEmpty)
          None
        case tableUqRe(_) =>
          // table-level UNIQUE (a, b): strip the whole def (round 18,
          // ADVICE — it previously fell into the inline branch and left
          // a malformed `(a, b)` def behind).
          val csv = tableUqRe.findFirstMatchIn(raw).get.group(1)
          uq ++= csv.split(",").map(_.trim).filter(_.nonEmpty)
          None
        case _ if pkWordsRe.findFirstIn(masked).isDefined =>
          colNameRe.findFirstMatchIn(raw + " ").foreach(cm => pk :+= cm.group(1))
          Some(stripAt(raw, masked, pkWordsRe))
        case _ if uqWordRe.findFirstIn(masked).isDefined =>
          colNameRe.findFirstMatchIn(raw + " ").foreach(cm => uq :+= cm.group(1))
          Some(stripAt(raw, masked, uqWordRe))
        case _ => Some(raw)
      }
    }
    if ((pk.isEmpty && uq.isEmpty) || kept.isEmpty) return None
    val keys = if (pk.nonEmpty) pk else uq
    // Every registered key must be a plain identifier — anything else
    // means the def parse went sideways; decline rather than register
    // garbage the upsert path would later resolve against.
    if (!keys.forall(_.matches("[A-Za-z_]\\w*"))) return None
    val stripped = sql.substring(0, open) + "(" + kept.mkString(", ") + ")" +
      (if (tail.isEmpty) "" else " " + tail)
    Some((stripped, name, keys.toSeq))
  } catch { case NonFatal(_) => None }
}
