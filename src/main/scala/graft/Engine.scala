package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + testdata helpers shared by the mains, tests, and examples.
  *
  * Settings are chosen for the driver's local[32] harness but scale-aware:
  * AQE handles runtime shuffle-partition coalescing and skew-join splitting
  * on a real cluster, and shuffle.partitions here only seeds the local run
  * (a cluster deployment overrides it or lets AQE pick).
  */
object Engine {

  def session(master: String = "local[32]", cpus: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffles START at 8× the core count and AQE coalesces small ones
      // back down — small queries keep their 32-ish effective partitions
      // while payload-heavy shuffles (triangle adjacency attach at 20×
      // edges: 142 s spilling at 32 static partitions, 43 s at 256) keep
      // enough splits to fit in memory. This is the knob a 1000-executor
      // deploy would raise again — partition count tracks data, the
      // coalesce floor tracks cores.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Native WITH RECURSIVE (UnionLoopExec) executes each iteration
      // twice when the result is small enough to become a LocalRelation:
      // once for the repartition+count, once more for the collect. 0
      // disables the conversion — the iteration's already-computed RDD is
      // reused instead (one job per iteration, not two; measured 123 → 80
      // jobs and ~4.8 → ~4.0 s on the 25-round declared lane). Identical
      // results: the knob only picks the physical form of the previous
      // iteration's plan. At scale the conversion never fires anyway
      // (iterations exceed any sane row limit).
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation", "0")
      .config("spark.sql.session.timeZone", "UTC")
      // TIME 'hh:mm:ss' literals and the TIME type (round 18): Spark
      // 4.1 ships the type behind this flag (off → UNSUPPORTED_TIME_
      // TYPE at parse); DuckDB has TIME unconditionally, so pasted
      // scripts expect it.
      .config("spark.sql.timeType.enabled", "true")
      .config(CodegenCacheKey, CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Size of Spark's per-JVM cache of compiled generated classes (a
    * static setting: the cache is built once, with the first session's
    * value). Spark's default of 100 is smaller than one pass of a short
    * DML script: the 15-statement `sql_etl` script generates 91–117
    * distinct classes per pass, so at 100 it evicted and recompiled
    * almost all of them every pass (7.9 Janino compiles per statement on
    * a traced pass, 0 at 2000). The cache keys on the generated source,
    * so a repeated statement hits; each entry holds one compiled class.
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 2000

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** (session, sfDir, table) → analyzed DataFrame. `spark.read.parquet`
    * reads the file footer for schema every call — ~10-40 ms of driver-side
    * fixed cost per table reference that repeat queries (and the bench's
    * per-query double run) would otherwise pay again and again. A
    * DataFrame is an immutable lazy plan, so handing back the same one is
    * semantically identical. Keyed by session (plans are session-bound)
    * and sfDir; LRU-bounded at 64 entries (≈ one session × several sfDirs
    * × 10 tables), so stale sessions age out instead of pinning plans for
    * the JVM's lifetime.
    *
    * Two caveats, same contract as [[operators.Dedup]]'s label memo:
    * the cached plan captures the parquet FILE LISTING at first read — if
    * an sfDir is regenerated in-session, later reads see the stale list
    * (FileNotFound or stale rows) — and cache keys pin their
    * SparkSession for the JVM's lifetime, which a long-lived multi-session
    * service would notice. Both are disarmed by
    * `spark.graft.tableCache=false`, which reads fresh and caches nothing.
    */
  private val tableCache = new LruMap[(SparkSession, String, String), DataFrame](64)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    def fresh() =
      if (name == "events") events(spark, sfDir)
      else spark.read.parquet(s"$sfDir/$name.parquet")
    if (!GraftConf.TableCache(spark)) fresh()
    else tableCache.getOrElseUpdate((spark, sfDir, name), fresh())
  }

  /** The events table has shipped with different physical types for `ts`
    * across testdata generations: parquet TIMESTAMP(NANOS), which Spark's
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]) unless surfaced as a
    * raw LONG of nanos (legacy conf), and TIMESTAMP(MICROS) without UTC
    * adjustment, which arrives as TIMESTAMP_NTZ. Hard-coding either
    * assumption breaks silently-or-loudly when the data is regenerated, so
    * the read is schema-adaptive: [[eventsStoredSchema]] probes the file's
    * actual footer schema and [[normalizeEventsTs]] maps whatever `ts`
    * arrives as to one session-zone TimestampType. The nanos→micros
    * truncation matches DuckDB's TIMESTAMP_NS→TIMESTAMP cast; the
    * NTZ→TIMESTAMP cast is value-identical under the UTC session pin
    * (Engine.session), matching DuckDB's zone-less TIMESTAMP.
    */
  def eventsStoredSchema(spark: SparkSession, sfDir: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Normalize a probed events `ts` column (LONG nanos, TIMESTAMP_NTZ, or
    * already TIMESTAMP) to TimestampType. ONE definition shared by the
    * batch read and both streaming reads — a storage-type change must be
    * handled here and nowhere else.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Register every testdata table as a temp view for spark.sql queries.
    * Idempotent per (session, sfDir): repeat calls (every SQL-surface query
    * invokes this defensively) skip the 10-table re-registration. Switching
    * sfDir on the same session re-registers, replacing the views.
    *
    * Per-view failures are non-fatal: registration is defensive (all 10
    * views before any SQL-surface query), so one unreadable table must not
    * take down queries that never reference it — a ROLLUP over
    * customer/nation should not die on an events schema drift. The broken
    * view is dropped and a warning names the table (once — later retries
    * of a still-broken table stay quiet); only a query that actually
    * references it then fails, with TABLE_OR_VIEW_NOT_FOUND pointing at
    * the right name. The memo stores (sfDir, failed set): repeat calls
    * for the same sfDir retry ONLY the failures (covers a table
    * regenerated mid-session) instead of re-registering all 10. The memo
    * is the session's own ([[graft.sql.DuckSession]]).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val duck = graft.sql.DuckSession(spark)
    duck.synchronized {
      val (prevDir, prevFailed) = duck.views
      val sameDir = prevDir == sfDir
      val toRegister = if (sameDir) prevFailed else tableNames.toSet
      val warned = if (sameDir) prevFailed else Set.empty[String]
      val failed = toRegister.filter { n =>
        try { table(spark, sfDir, n).createOrReplaceTempView(n); false }
        catch {
          case e: Exception =>
            spark.catalog.dropTempView(n)
            if (!warned.contains(n)) System.err.println(
              s"graft: cannot register view '$n' from $sfDir/$n.parquet — " +
                s"queries referencing it will fail: ${e.getMessage}")
            true
        }
      }
      duck.views = (sfDir, failed)
    }
  }
}
