package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.Engine
import graft.highs.ModelRegistry
import graft.solver.{BoundedSimplex, BranchAndBound, MipSolution}

/** The benchmark's client: one thread running a closed loop of operations
  * against one engine session.
  *
  * It reads a plan written by run.py (the workload's operations for one
  * round, the tables to register, the run length), runs untimed warm-up
  * rounds, then whole timed rounds until the window has passed, and writes
  * every operation's latency and answer to a JSON file. It judges no
  * answer: run.py checks them against computations made without the engine.
  *
  * Usage: Harness <plan.json> <answers.json>
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** One operation of a round, as the plan gives it. */
  final case class Op(
      kind: String, // "sql", "explain", or "model" (build through ModelInfo, then solve)
      sql: String,
      resetModel: Option[String], // registry entry removed (untimed) before the op
      solves: Option[String], // the model this op's statement solves, if any
      model: Option[Model])

  /** An LP/MIP in the reference's relational encoding. */
  final case class Model(name: String,
      vars: Array[(String, Double, Double, Double, String)],
      cons: Array[(String, Double, Double)],
      coefs: Array[(String, String, Double)])

  private def model(m: JsonNode): Model = {
    def rows(k: String) = m.get(k).elements.asScala.toArray
    Model(m.get("name").asText,
      rows("vars").map(v => (v.get(0).asText, v.get(1).asDouble, v.get(2).asDouble, v.get(3).asDouble, v.get(4).asText)),
      rows("cons").map(c => (c.get(0).asText, c.get(1).asDouble, c.get(2).asDouble)),
      rows("coefs").map(k => (k.get(0).asText, k.get(1).asText, k.get(2).asDouble)))
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val launchMs = plan.get("launch_ms").asLong
    val seconds = plan.get("seconds").asDouble
    val warmupRounds = plan.get("warmup_rounds").asInt
    val minOps = plan.get("min_ops").asInt
    val minRounds = plan.get("min_rounds").asInt
    val traced = plan.get("trace").asBoolean
    val cores = plan.get("cores").asInt
    val round = plan.get("round").elements.asScala.map { o =>
      def opt(k: String) = Option(o.get(k)).filterNot(_.isNull).map(_.asText)
      Op(o.get("kind").asText, opt("sql").orNull, opt("reset_model"), opt("solves"),
        Option(o.get("model")).map(model))
    }.toIndexedSeq

    val spark = Engine.session(master = s"local[$cores]", cpus = cores)
    spark.conf.set("spark.graft.scratchDir", plan.get("scratch_dir").asText)
    plan.get("tables").properties.asScala.foreach { e =>
      Engine.table(spark, e.getValue.asText, e.getKey).createOrReplaceTempView(e.getKey)
    }
    plan.get("setup_sql").elements.asScala.foreach(s => spark.sql(s.asText).collect())
    val sessionMs = System.currentTimeMillis - launchMs

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val client = new Client(spark, tracer)

    // Warm-up: whole untimed rounds, so the JIT has compiled the hot paths
    // before anything is timed.
    val warm = new JList[AnyRef]
    (0 until warmupRounds).foreach { r =>
      round.zipWithIndex.foreach { case (op, i) => warm.add(client.run(op, i, r)) }
    }
    val setupMs = System.currentTimeMillis - launchMs

    // Timed window: whole rounds, so every run attempts the same mix.
    val timed = new JList[AnyRef]
    val jvm0 = JvmCounters.read()
    val t0 = System.nanoTime
    var rounds = 0
    while ((System.nanoTime - t0) / 1e9 < seconds || timed.size < minOps || rounds < minRounds) {
      round.zipWithIndex.foreach { case (op, i) => timed.add(client.run(op, i, rounds)) }
      rounds += 1
    }
    val windowNs = System.nanoTime - t0
    val jvm = JvmCounters.read().minus(jvm0)

    val out = new JMap[String, AnyRef]
    out.put("setup_ms", Long.box(setupMs))
    out.put("session_ms", Long.box(sessionMs))
    out.put("window_ns", Long.box(windowNs))
    out.put("rounds", Int.box(rounds))
    out.put("warmup_rounds", Int.box(warmupRounds))
    out.put("jvm", jvm.toJson)
    out.put("warmup", warm)
    out.put("timed", timed)
    val path = Paths.get(args(1))
    Files.write(path, mapper.writeValueAsBytes(out))
    out.clear(); warm.clear(); timed.clear()

    // Live heap after a full collection, with the answers above released:
    // what the engine itself still holds after the run.
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    Files.write(Paths.get(args(1) + ".heap"), f"$heapMb%.6f".getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Runs one operation and returns its record: latency, answer, and in a
    * traced run the per-layer figures of that operation.
    */
  final class Client(spark: SparkSession, tracer: Option[Tracer]) {
    def run(op: Op, index: Int, round: Int): AnyRef = {
      op.resetModel.foreach(ModelRegistry.remove)
      val rec = new JMap[String, AnyRef]
      rec.put("i", Int.box(index))
      rec.put("round", Int.box(round))
      val layers = new JMap[String, AnyRef]
      val modelName = op.model.map(_.name)
      val sql = modelName.fold(op.sql)(n => s"SELECT * FROM highs_solve('$n')")
      // A traced run parses each statement once more, untimed by the op,
      // to time the dialect parser on its own.
      if (tracer.isDefined) layers.put("parse_ns", Long.box(timeParse(sql)))
      tracer.foreach(_.begin())
      var buildNs = 0L
      var stmtMs: Option[(Long, Long)] = None
      val t0 = System.nanoTime
      val result: Either[String, Array[Row]] =
        try {
          modelName.foreach(_ => buildNs = buildModel(op.model.get))
          // In a traced run the model is solved here, timed, through the
          // public solver API; the engine's per-model solution cache then
          // serves the statement, which so measures the statement around
          // the solver alone. Either way the op solves the model once.
          if (tracer.isDefined) modelName.orElse(op.solves).foreach(n => layers.putAll(timedSolve(n)))
          val s0 = System.nanoTime
          val s0Ms = System.currentTimeMillis
          val rows = spark.sql(sql).collect()
          stmtMs = Some((s0Ms, System.currentTimeMillis))
          layers.put("statement_ns", Long.box(System.nanoTime - s0))
          Right(rows)
        } catch {
          case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}".take(400))
        }
      val ns = System.nanoTime - t0
      rec.put("ns", Long.box(ns))
      result match {
        case Right(rows) =>
          rec.put("ok", java.lang.Boolean.TRUE)
          rec.put("rows", rowsJson(rows))
        case Left(msg) =>
          rec.put("ok", java.lang.Boolean.FALSE)
          rec.put("error", msg)
      }
      if (op.kind == "model") layers.put("build_ns", Long.box(buildNs))
      tracer.foreach { t =>
        layers.putAll(t.end(stmtMs))
        rec.put("trace", layers)
      }
      rec
    }

    /** Registers a model through the public ModelInfo API; returns the time
      * the calls took.
      */
    private def buildModel(m: Model): Long = {
      val t0 = System.nanoTime
      ModelRegistry.remove(m.name)
      val info = ModelRegistry.getOrCreate(m.name)
      m.vars.foreach { case (n, lb, ub, c, tpe) => info.addVariable(n, lb, ub, c, tpe) }
      m.cons.foreach { case (n, lb, ub) => info.addConstraint(n, lb, ub) }
      m.coefs.foreach { case (cn, vn, x) => info.setCoefficient(cn, vn, x) }
      System.nanoTime - t0
    }

    /** Solves a registered model through the solver's public API, timed, and
      * leaves the solution in the model's cache. A pure LP goes straight to
      * BoundedSimplex, which is what BranchAndBound.solve does for it, so
      * its iteration count can be read; a MIP goes through BranchAndBound.
      */
    private def timedSolve(name: String): JMap[String, AnyRef] = {
      val out = new JMap[String, AnyRef]
      ModelRegistry.get(name).foreach { info =>
        info.solveCached { lm =>
          val t0 = System.nanoTime
          val sol =
            if (lm.hasIntegers) BranchAndBound.solve(lm)
            else {
              val (lo, hi) = lm.effectiveBounds
              val lp = BoundedSimplex.solve(lm, lo, hi)
              out.put("lp_iterations", Int.box(lp.iterations))
              MipSolution(lp.status, lp.x, lp.reducedCost, lp.objective, 1)
            }
          out.put("solve_ns", Long.box(System.nanoTime - t0))
          if (lm.hasIntegers) out.put("mip_nodes", Int.box(sol.nodes))
          sol
        }
      }
      out
    }

    private def timeParse(sql: String): Long = {
      val t0 = System.nanoTime
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case _: Exception => () }
      System.nanoTime - t0
    }
  }

  private def rowsJson(rows: Array[Row]): JList[AnyRef] = {
    val out = new JList[AnyRef](rows.length)
    rows.foreach { r =>
      val cells = new JList[AnyRef](r.length)
      (0 until r.length).foreach { j => cells.add(cell(r.get(j))) }
      out.add(cells)
    }
    out
  }

  private def cell(v: Any): AnyRef = v match {
    case null => null
    case s: String => s
    case d: java.lang.Double => d
    case f: java.lang.Float => Double.box(f.doubleValue)
    case n: java.lang.Number => n match {
      case b: java.math.BigDecimal => Double.box(b.doubleValue)
      case other => Long.box(other.longValue)
    }
    case b: java.lang.Boolean => b
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  /** Process-wide JVM counters, read at the edges of the timed window. */
  final case class JvmCounters(gcMs: Long, cpuNs: Long, jitMs: Long, clientAllocBytes: Long,
      codegenCompiles: Long) {
    def minus(o: JvmCounters): JvmCounters =
      JvmCounters(gcMs - o.gcMs, cpuNs - o.cpuNs, jitMs - o.jitMs, clientAllocBytes - o.clientAllocBytes,
        codegenCompiles - o.codegenCompiles)
    def toJson: JMap[String, AnyRef] = {
      val m = new JMap[String, AnyRef]
      m.put("gc_ms", Long.box(gcMs)); m.put("cpu_ns", Long.box(cpuNs))
      m.put("jit_ms", Long.box(jitMs)); m.put("client_alloc_bytes", Long.box(clientAllocBytes))
      m.put("codegen_compiles", Long.box(codegenCompiles))
      m
    }
  }

  object JvmCounters {
    def read(): JvmCounters = JvmCounters(
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean].getCurrentThreadAllocatedBytes,
      // Janino compilations of generated code: misses of Spark's codegen cache.
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}
