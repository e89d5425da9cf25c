package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The engine's own `spark.graft.*` settings, each declared once with its
  * type, default and valid range, and read through one parser.
  *
  * They are ordinary session confs: `spark.conf.set`, `SET key=value`,
  * `--conf`, or a `-Dspark.graft.<key>=<v>` system property (SparkConf
  * loads `spark.*` system properties, so every session in that JVM starts
  * with the value). An unset key reads its default. A set value that does
  * not parse, or parses out of range, fails the read with a message naming
  * the key and the value — never a silent fallback to the default.
  * Booleans parse like Spark's own: `true`/`false`, case-insensitive.
  */
object GraftConf {

  final class Key[T] private[GraftConf] (val name: String, default: T,
      valid: String, parse: String => Option[T]) {

    def read(raw: Option[String]): T = raw.fold(default) { v =>
      parse(v).getOrElse(throw new IllegalArgumentException(
        s"$name must be $valid, got '$v'"))
    }

    def apply(spark: SparkSession): T = read(spark.conf.getOption(name))

    /** For reads that may run against a stopped or absent session: a conf
      * that cannot be reached reads as unset, a value that can be reached
      * still parses strictly.
      */
    def readIfLive(spark: => SparkSession): T =
      read(try spark.conf.getOption(name) catch { case NonFatal(_) => None })
  }

  private def key[T](name: String, default: T, valid: String)(
      parse: String => Option[T]): Key[T] =
    new Key(s"spark.graft.$name", default, valid, parse)

  private def bool(name: String, default: Boolean): Key[Boolean] =
    key(name, default, "true or false")(_.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "true" => Some(true)
      case "false" => Some(false)
      case _ => None
    })

  private def int(name: String, default: Int, min: Int): Key[Int] =
    key(name, default, s"an integer >= $min")(_.trim.toIntOption.filter(_ >= min))

  private def long(name: String, default: Long, min: Long): Key[Long] =
    key(name, default, s"an integer >= $min")(_.trim.toLongOption.filter(_ >= min))

  /** DuckDB-shaped `DESCRIBE t` (6 columns, DuckDB type names). */
  val DuckdbDescribe: Key[Boolean] = bool("duckdbDescribe", false)

  /** [[Engine.table]]'s plan cache; off reads every table fresh. */
  val TableCache: Key[Boolean] = bool("tableCache", true)

  /** [[operators.Dedup]]'s component-label memo. */
  val DedupCache: Key[Boolean] = bool("dedupCache", true)

  /** Root of [[operators.Scratch]] datasets; None is `java.io.tmpdir`. */
  val ScratchDir: Key[Option[String]] =
    key("scratchDir", Option.empty[String], "a non-empty path")(v =>
      if (v.isEmpty) None else Some(Some(v)))

  /** Temp-table snapshots provably at most this many rows stay
    * driver-local (0 disables).
    */
  val TempTableLocalRows: Key[Long] = long("tempTableLocalRows", 10000L, 0L)

  /** Shuffle partitions of the declared streaming queries' state; None is
    * `auto` (derived from the query's state-row estimate).
    */
  val StreamStateParts: Key[Option[Int]] =
    key("streamStateParts", Option(8), "an integer >= 1 or auto")(v =>
      if (v.trim.equalsIgnoreCase("auto")) Some(None)
      else v.trim.toIntOption.filter(_ >= 1).map(Some(_)))

  /** Past this many centroids the IVF codebook rides a broadcast variable. */
  val IvfBroadcastCodebookK: Key[Int] = int("ivfBroadcastCodebookK", 1024, 0)

  /** Past this many centroids assignment probes a two-level codebook. */
  val TwoLevelAssignK: Key[Int] = int("twoLevelAssignK", 8192, 0)

  /** Coarse cells the two-level assignment probes. */
  val TwoLevelAssignNProbe: Key[Int] = int("twoLevelAssignNProbe", 8, 1)

  /** Past this many centroids k-means keeps its codebook distributed. */
  val KmeansDistributedK: Key[Int] = int("kmeansDistributedK", 1024, 0)

  /** Target bytes per bucket of [[operators.Fixpoint]]'s round tables (the
    * bucket count divides by it; a negative value would collapse every
    * round table to one bucket).
    */
  val FixpointTargetBucketBytes: Key[Long] =
    long("fixpoint.targetBucketBytes", 128L << 20, 1L)

  /** Fixpoint frontiers up to this many rows stay driver-local (0 disables). */
  val FixpointLocalFrontierRows: Key[Int] = int("fixpoint.localFrontierRows", 10000, 0)

  /** Cap on the driver-local rows one fixpoint run accumulates. */
  val FixpointLocalTotalRows: Key[Long] = long("fixpoint.localTotalRows", 200000L, 0L)

  /** Both fixpoints compact every this many live round tables. */
  val FixpointCompactRounds: Key[Int] = int("fixpoint.compactRounds", 8, 1)

  /** Seconds an evicted standing archive index keeps its files (0 = eager). */
  val ArchiveEvictGraceSec: Key[Long] = long("archiveEvictGraceSec", 900L, 0L)

  val keys: Seq[Key[_]] = Seq(DuckdbDescribe, TableCache, DedupCache, ScratchDir,
    TempTableLocalRows, StreamStateParts, IvfBroadcastCodebookK, TwoLevelAssignK,
    TwoLevelAssignNProbe, KmeansDistributedK, FixpointTargetBucketBytes,
    FixpointLocalFrontierRows, FixpointLocalTotalRows, FixpointCompactRounds,
    ArchiveEvictGraceSec)
}
