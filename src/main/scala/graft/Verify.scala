package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `Verify <sfDir> <outDir> [lane...]` dumps every declared query, or only
  * the named lanes — a new or changed query can be oracle-checked at the
  * big SFs (tools/check_oracles.py globs whatever lane directories exist)
  * without paying for the full sweep. Unknown lane names are rejected
  * before the session starts.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [lane...]")
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.queries
    val lanes = if (args.length > 2) args.drop(2).toSeq else queries.keys.toSeq
    val unknown = lanes.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown lanes: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    lanes.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
