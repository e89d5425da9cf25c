package perfbench

import java.util.{LinkedHashMap => JMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer figures taken from Spark's listener bus. Registered
  * only in a traced run.
  *
  * The client calls `begin()` before an operation and `end()` after it;
  * `end()` waits until the bus has delivered every event the operation
  * caused, so all events between the two calls belong to that operation.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  // Written on the listener thread, read by the client after a drain.
  private var jobs = 0
  private var tasks = 0
  private var taskRunMs = 0L
  private var cpuNs = 0L
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L
  private var outputBytes = 0L
  private val jobStart = new java.util.HashMap[Int, Long]
  private var jobIntervals = List.empty[(Long, Long)]
  // Planning phases of the statement's own query execution: the one whose
  // tracker also timed the parse (spark.sql passes its tracker on). Query
  // executions a statement starts inside its own analysis carry none.
  private var phases: Option[Map[String, (Long, Long)]] = None
  private var executions = 0
  private def codegenCompiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compiles0 = 0L

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += 1
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val s = jobStart.remove(e.jobId)
      jobIntervals = (s, e.time) :: jobIntervals
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      executions += 1
      val p = qe.tracker.phases
      if (p.contains("parsing")) phases = Some(p.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) })
    }
  })

  def begin(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      jobs = 0; tasks = 0; taskRunMs = 0; cpuNs = 0
      shuffleWriteBytes = 0; spillBytes = 0; outputBytes = 0
      jobStart.clear(); jobIntervals = Nil; phases = None; executions = 0
    }
    compiles0 = codegenCompiles
  }

  /** The figures of the operation since `begin()`. `stmtMs` is the wall
    * interval of its statement, if it ran one.
    */
  def end(stmtMs: Option[(Long, Long)]): JMap[String, AnyRef] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val m = new JMap[String, AnyRef]
      m.put("jobs", Int.box(jobs))
      m.put("tasks", Int.box(tasks))
      m.put("job_span_ms", Long.box(unionMs(jobIntervals)))
      m.put("task_run_ms", Long.box(taskRunMs))
      m.put("executor_cpu_ns", Long.box(cpuNs))
      m.put("shuffle_write_bytes", Long.box(shuffleWriteBytes))
      m.put("spill_bytes", Long.box(spillBytes))
      m.put("output_bytes", Long.box(outputBytes))
      m.put("executions", Int.box(executions))
      m.put("codegen_compiles", Long.box(codegenCompiles - compiles0))
      phases.foreach { p =>
        Seq("analysis", "optimization", "planning").foreach { k =>
          m.put(s"${k}_ms", Long.box(p.get(k).fold(0L) { case (s, e) => e - s }))
        }
      }
      // The statement's time outside its planning phases and its jobs:
      // execution on the driver, result collection, AQE re-planning.
      for ((s, e) <- stmtMs; p <- phases)
        m.put("outside_ms", Long.box((e - s) - unionMs(clip(p.values.toList ++ jobIntervals, s, e))))
      m
    }
  }

  private def clip(iv: List[(Long, Long)], s: Long, e: Long): List[(Long, Long)] =
    iv.map { case (a, b) => (a.max(s), b.min(e)) }.filter { case (a, b) => b > a }

  /** Total length of the union of [start, end] intervals. */
  private def unionMs(intervals: List[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
