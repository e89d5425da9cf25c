package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.sql.GraftSparkExtensions

/** One Spark session per test JVM, with the graft SQL extensions
  * installed (suites run sequentially — Test/parallelExecution=false).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config(Engine.CodegenCacheKey, Engine.CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. A marker job run afterwards
    * drains the listener bus: once the listener sees it, it has seen
    * every job `body` started.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
