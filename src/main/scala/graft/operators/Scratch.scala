package graft.operators

import graft.GraftConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Scratch-parquet lifecycle for operators that checkpoint intermediates
  * (see [[Dedup]]). Three guarantees:
  *
  *  1. every scratch dataset lives under ONE per-JVM session root
  *     (`<root>/graft_scratch_<uuid>`), not scattered loose in tmp;
  *  2. that root is deleted by a JVM shutdown hook (through the Hadoop
  *     FileSystem API, so HDFS/S3 scratch roots clean up too — mirroring
  *     Spark's own `cleanCheckpoints` behavior), so a long-lived session
  *     leaks nothing across its lifetime end;
  *  3. operators can [[delete]] a superseded dataset eagerly (e.g. the
  *     previous propagation round's labels once the next round is on disk),
  *     bounding live scratch during an invocation to what the current plan
  *     still references.
  *
  * The resolved root is `spark.graft.scratchDir` if set, else
  * java.io.tmpdir. The default only works single-node; ON A CLUSTER SET
  * `spark.graft.scratchDir` TO SHARED STORAGE (HDFS/S3/NFS), exactly like
  * Spark's checkpoint-dir contract.
  */
private[graft] object Scratch {

  /** session-root path per resolved scratch root (conf can differ across
    * sessions in one JVM); each gets its own shutdown hook.
    */
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sessionRoot(spark: SparkSession): String = {
    val base = GraftConf.ScratchDir(spark)
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .stripSuffix("/")
    roots.computeIfAbsent(base, { base =>
      val dir = s"$base/graft_scratch_${java.util.UUID.randomUUID()}"
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(dir)
      p.getFileSystem(conf).mkdirs(p)
      // The hook thread inherits no thread locals: Spark's active session
      // is one, and the hook lives as long as the JVM.
      Runtime.getRuntime.addShutdownHook(new Thread(null, () => {
        try { p.getFileSystem(conf).delete(p, true); () }
        catch { case _: Throwable => () } // best-effort: never fail exit
      }, "graft-scratch-cleanup", 0, false))
      dir
    })
  }

  /** Write `df` to a fresh dir under the session root, read it back, and
    * return (dataframe, path). The explicit disk checkpoint (a) runs the
    * producing plan exactly once even when the result feeds several
    * consumers or a self-join, and (b) owns no cache-manager entry.
    */
  def materialize(df: DataFrame, prefix: String): (DataFrame, String) = {
    val spark = df.sparkSession
    val dir = s"${sessionRoot(spark)}/${prefix}_${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(dir)
    (readBack(spark, dir, df.schema), dir)
  }

  /** Read a parquet dir the engine wrote itself with the schema it wrote.
    * A bare `read.parquet` would run a Spark job to read the schema back
    * out of a footer (~35 ms warm); the declared read runs none and
    * reports the same schema (`TempTableParitySpec` pins it type by type).
    */
  def readBack(spark: SparkSession, dir: String, written: StructType): DataFrame =
    spark.read.schema(nullableSchema(written)).parquet(dir)

  /** Recursively nullable schema — what a parquet read-back reports. */
  def nullableSchema(s: StructType): StructType = {
    def widen(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = widen(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = widen(at.elementType), containsNull = true)
      case mt: MapType =>
        mt.copy(keyType = widen(mt.keyType), valueType = widen(mt.valueType),
          valueContainsNull = true)
      case o => o
    }
    widen(s).asInstanceOf[StructType]
  }

  /** A fresh directory path under the session scratch root, for callers
    * that write through their own sink (csv/json/orc round-trips,
    * partitioned layouts). Nothing is created here; the path inherits the
    * session root's shutdown-hook cleanup.
    */
  def freshDir(spark: SparkSession, prefix: String): String =
    s"${sessionRoot(spark)}/${prefix}_${java.util.UUID.randomUUID()}"

  /** Eagerly delete a scratch dataset that no live plan references.
    *
    * Waits (bounded, 2 s) for the scheduler to go quiescent first: when
    * AQE's empty-relation propagation prunes a subtree mid-query, the
    * pruned stage's already-submitted tasks keep running as zombies whose
    * results AQE discards — deleting their input out from under them is
    * harmless for correctness but surfaces FAILED_READ_FILE task errors
    * in the logs. Draining active jobs closes that window; if other
    * concurrent queries keep the scheduler busy past the bound, the
    * delete proceeds (the zombie-read failure remains benign).
    */
  def delete(spark: SparkSession, dir: String): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 2_000_000_000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
