package graft.sql

/** Mechanical rewrite of DuckDB's `COPY ... TO` statement (the standard
  * export idiom of every DuckDB script; host capability pin
  * /root/reference/.github/workflows/MainDistributionPipeline.yml:29)
  * onto a [[CopyToCommand]]:
  *
  * {{{
  * COPY (SELECT ...) TO 'out.parquet' (FORMAT PARQUET)
  * COPY tablename    TO 'out.csv'     (FORMAT CSV, HEADER)
  * COPY tablename    TO 'out.parquet'          -- format from extension
  * COPY tablename    TO 'dir' (FORMAT PARQUET, PARTITION_BY (a, b))
  * }}}
  *
  * becomes a command that writes when the statement runs and returns
  * DuckDB's one-row `Count` result. Format defaults from the
  * path extension (`.parquet`/`.csv`) exactly as DuckDB infers it;
  * `HEADER` defaults true for CSV (DuckDB ≥0.8 default);
  * `PARTITION_BY` produces the SAME hive-style `col=value/` directory
  * layout on both engines (Spark: `DataFrameWriter.partitionBy` — the
  * 100 TB export layout, partition-prunable on re-read).
  *
  * The IMPORT direction (`COPY tbl FROM 'path' [(FORMAT ..., HEADER)]`)
  * becomes a [[CopyFromCommand]], which appends the file's rows into the
  * existing catalog table (Spark: `insertInto` — by-position, DuckDB's
  * own mapping) and returns the same one-row Count. CSV options
  * DELIMITER/QUOTE/ESCAPE/NULL map 1:1 onto the DataFrame reader/writer
  * (sep/quote/escape/nullValue); COMPRESSION onto the writer codec.
  * Anything else — other formats, unknown options, a non-literal
  * path — declines to the caller's guidance hint.
  */
object CopyToRewrite {

  def rewrite(sql: String): Option[DuckCommand] = {
    val head = """(?is)\A\s*COPY\s+""".r.findFirstMatchIn(sql).getOrElse(return None)
    val i0 = head.end
    if (i0 >= sql.length) return None
    // Source: a parenthesized query (balanced — the select may itself
    // contain parens/strings) or a bare table identifier. The parens
    // are KEPT on the query form: CopyToCommand's source dispatch routes
    // '('-prefixed text through spark.sql, and a parenthesized query
    // parses there whatever it starts with — stripping them broke
    // `COPY (WITH q AS ... SELECT ...)`, which begins with neither
    // SELECT nor '(' once unwrapped.
    val (source, afterSrc) =
      if (sql.charAt(i0) == '(') {
        val close = DuckLexer(sql).closeOf(i0)
        if (close < 0) return None
        (sql.substring(i0, close).trim, close)
      } else {
        val idM = """\A([A-Za-z_][\w.]*)""".r
          .findFirstMatchIn(sql.substring(i0)).getOrElse(return None)
        (idM.group(1), i0 + idM.end)
      }
    if (source.isEmpty) return None
    val toM0 = """(?is)\A\s*(TO|FROM)\s+'((?:[^']|'')*)'""".r
      .findFirstMatchIn(sql.substring(afterSrc)).getOrElse(return None)
    val isImport = toM0.group(1).equalsIgnoreCase("FROM")
    // The import direction (`COPY tbl FROM 'path'`) appends the file's
    // rows into an EXISTING catalog table — only a bare table name can
    // be a target, never a query.
    if (isImport && source.startsWith("(")) return None
    val toM = toM0
    val path = DuckLiterals.literalValue(toM.group(2))
    if (path.isEmpty) return None
    val tail = sql.substring(afterSrc + toM.end).trim
      .stripSuffix(";").trim

    var format: Option[String] = None
    var header: Option[Boolean] = None
    var partition: Seq[String] = Seq.empty
    var delimiter: Option[String] = None
    var compression: Option[String] = None
    var quote: Option[String] = None
    var escape: Option[String] = None
    var nullStr: Option[String] = None
    if (tail.nonEmpty) {
      if (!(tail.startsWith("(") && tail.endsWith(")"))) return None
      val fm = """(?i)\AFORMAT\s+(\w+)\z""".r
      val hm = """(?i)\AHEADER(?:\s+(TRUE|FALSE|1|0))?\z""".r
      val pm = """(?is)\APARTITION_BY\s*(?:\(\s*([^()]*?)\s*\)|([A-Za-z_]\w*))\z""".r
      val dm = """(?i)\A(?:DELIMITER|DELIM|SEP)\s+'((?:[^']|'')+)'\z""".r
      val cm = """(?i)\ACOMPRESSION\s+'?(\w+)'?\z""".r
      // QUOTE/ESCAPE accept '' (disable quoting / default doubling);
      // NULL[STR] is the written/read null marker (DataFrame option
      // nullValue). All three are CSV-only, both directions.
      val qm = """(?i)\AQUOTE\s+'((?:[^']|'')*)'\z""".r
      val em = """(?i)\AESCAPE\s+'((?:[^']|'')*)'\z""".r
      val nm = """(?i)\ANULL(?:STR)?\s+'((?:[^']|'')*)'\z""".r
      // A top-level split, not split(","): PARTITION_BY (a, b) carries commas
      // inside its own parens.
      for (o <- DuckLexer(tail.substring(1, tail.length - 1)).split(',')
             .map(_.trim) if o.nonEmpty) {
        o match {
          case fm(f) => format = Some(f.toLowerCase)
          case hm(v) => header = Some(v == null ||
            v.equalsIgnoreCase("true") || v == "1")
          case pm(list, single) if !isImport =>
            val names = Option(list)
              .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq(single))
            if (names.isEmpty || names.exists(!_.matches("[A-Za-z_]\\w*")))
              return None
            partition = names
          case dm(d) => delimiter = Some(DuckLiterals.literalValue(d))
          // COMPRESSION on the export side maps straight to the writer
          // codec (zstd/gzip/snappy/none — same names both engines);
          // readers sniff compression themselves, so accept-and-ignore
          // on import would hide a typo — decline there instead.
          case cm(c) if !isImport => compression = Some(c.toLowerCase)
          case qm(q) => quote = Some(DuckLiterals.literalValue(q))
          case em(e) => escape = Some(DuckLiterals.literalValue(e))
          case nm(x) => nullStr = Some(DuckLiterals.literalValue(x))
          case _ => return None
        }
      }
    }
    val fmt = format.orElse {
      val lower = path.toLowerCase
      if (lower.endsWith(".parquet")) Some("parquet")
      else if (lower.endsWith(".csv")) Some("csv")
      else if (lower.endsWith(".json") || lower.endsWith(".jsonl") ||
        lower.endsWith(".ndjson")) Some("json")
      else None
    }.getOrElse(return None)
    if (fmt != "parquet" && fmt != "csv" && fmt != "json") return None

    // DELIMITER/QUOTE/ESCAPE/NULL are CSV notions on both engines.
    if ((delimiter.isDefined || quote.isDefined || escape.isDefined ||
      nullStr.isDefined) && fmt != "csv") return None
    val options = (delimiter.map("delimiter" -> _).toSeq ++
      compression.map("compression" -> _) ++
      quote.map("quote" -> _) ++
      escape.map("escape" -> _) ++
      nullStr.map("nullstr" -> _)).toMap
    val src = DuckLiterals.halveBackslashes(source)
    if (isImport)
      Some(CopyFromCommand(src, path, fmt, header.getOrElse(true), options))
    else
      Some(CopyToCommand(src, path, fmt, header.getOrElse(true), partition, options))
  }
}
