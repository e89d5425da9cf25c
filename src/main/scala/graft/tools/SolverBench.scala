package graft.tools

import java.lang.management.ManagementFactory

import scala.util.Random

import graft.solver.{BoundedSimplex, BranchAndBound, LinearModel, LpStatus, VarKind}

/** The solver alone, without Spark: seeded planted-optimum LPs from 50×100
  * to 400×800 and the binary multi-knapsack MIPs of the `lp_solve`
  * benchmark workload, solved on one thread after one warm-up pass over all
  * of them. Per family it writes iterations (B&B nodes for the MIPs) per
  * solve, ms per solve, µs per iteration and KB allocated per solve on the
  * solving thread to a JSON file. Every LP objective is checked against its
  * planted optimum.
  *
  * Usage: `runMain graft.tools.SolverBench [out.json] [reps]`
  * (defaults `BENCH_solver.json`, 5).
  */
object SolverBench {
  import LinearModel.Inf

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000
  private def unif(rng: Random, a: Double, b: Double): Double = a + (b - a) * rng.nextDouble()

  /** `perfbench/lp.py`'s `planted_lp`: a sparse LP min c'x, L <= Ax <= U,
    * 0 <= x <= u, with 3 nonzeros per column, whose optimum is planted. x*
    * puts m/2 columns strictly inside their bounds and the rest at a bound
    * with a reduced cost d of the matching sign; rows are active at a bound
    * with a dual y of the matching sign, or slack with y = 0; c = A'y + d.
    * The KKT conditions hold at (x*, y), so c'x* is the optimal objective.
    */
  def plantedLp(rng: Random, m: Int, n: Int): (LinearModel, Double) = {
    val a = Array.ofDim[Double](m, n)
    for (j <- 0 until n; i <- Iterator.continually(rng.nextInt(m)).distinct.take(3))
      a(i)(j) = (if (rng.nextBoolean()) -1 else 1) * (20 + rng.nextInt(81)) / 100.0
    for (i <- 0 until m if a(i).forall(_ == 0.0)) a(i)(rng.nextInt(n)) = (20 + rng.nextInt(81)) / 100.0
    val ub = Array.fill(n)(Array(10.0, 20.0, Inf)(rng.nextInt(3)))
    val inside = Iterator.continually(rng.nextInt(n)).distinct.take(m / 2).toSet
    val x = new Array[Double](n); val d = new Array[Double](n)
    for (j <- 0 until n) {
      if (inside(j)) x(j) = r3(unif(rng, 1.0, (if (ub(j) < Inf) ub(j) else 15.0) - 1.0))
      else if (ub(j) < Inf && rng.nextDouble() < 0.4) { x(j) = ub(j); d(j) = -r3(unif(rng, 0.5, 2.0)) }
      else d(j) = r3(unif(rng, 0.5, 2.0))
    }
    val y = new Array[Double](m); val lo = new Array[Double](m); val hi = new Array[Double](m)
    for (i <- 0 until m) {
      val act = (0 until n).map(j => a(i)(j) * x(j)).sum
      val kinds = if (i % 2 == 1) Array("lower", "upper", "slack", "slack") else Array("lower", "upper", "equal")
      val yi = r3(unif(rng, 0.5, 2.0))
      kinds(rng.nextInt(kinds.length)) match {
        case "slack" =>
          lo(i) = if (rng.nextDouble() < 0.3) -Inf else act - unif(rng, 1, 5)
          hi(i) = if (rng.nextDouble() < 0.3) Inf else act + unif(rng, 1, 5)
        case "lower" => y(i) = yi; lo(i) = act; hi(i) = act + unif(rng, 1, 5)
        case "upper" => y(i) = -yi; lo(i) = act - unif(rng, 1, 5); hi(i) = act
        case _ => y(i) = if (rng.nextBoolean()) yi else -yi; lo(i) = act; hi(i) = act
      }
    }
    val c = Array.tabulate(n)(j => d(j) + (0 until m).map(i => a(i)(j) * y(i)).sum)
    val entries = for (i <- 0 until m; j <- 0 until n if a(i)(j) != 0.0) yield (i, j, a(i)(j))
    (LinearModel(n, m, c, new Array[Double](n), ub, lo, hi, entries.toArray,
      Array.fill(n)(VarKind.Continuous)), (0 until n).map(j => c(j) * x(j)).sum)
  }

  /** `perfbench/lp.py`'s `binary_mip`: min -value'x over m capacity rows
    * at 40% of each row's weight, n binaries.
    */
  def binaryMip(rng: Random, m: Int, n: Int): LinearModel = {
    val value = Array.fill(n)(1 + rng.nextInt(20).toDouble)
    val w = Array.fill(m, n)(1 + rng.nextInt(10).toDouble)
    LinearModel(n, m, value.map(-_), new Array[Double](n), Array.fill(n)(1.0),
      Array.fill(m)(-Inf), w.map(r => math.floor(0.4 * r.sum)),
      (for (i <- 0 until m; j <- 0 until n) yield (i, j, w(i)(j))).toArray,
      Array.fill(n)(VarKind.Binary))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("BENCH_solver.json")
    val reps = if (args.length > 1) args(1).toInt else 5
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val rng = new Random(1)
    // Per family, one thunk per model: solve it, return iterations or nodes.
    val lps = Seq((50, 100, 8), (100, 200, 8), (200, 400, 4), (400, 800, 2)).map { case (m, n, k) =>
      s"lp_${m}x$n" -> Seq.fill(k) {
        val (lm, opt) = plantedLp(rng, m, n)
        () => {
          val s = BoundedSimplex.solve(lm)
          require(s.status == LpStatus.Optimal && math.abs(s.objective - opt) <= 1e-6 * (1 + math.abs(opt)),
            s"${m}x$n: ${s.status} objective ${s.objective}, planted $opt")
          s.iterations
        }
      }
    }
    val mips = "mip_binary" -> Seq((4, 12), (3, 14), (4, 14), (5, 12)).flatMap { case (m, n) =>
      Seq.fill(2) { val lm = binaryMip(rng, m, n); () => BranchAndBound.solve(lm).nodes }
    }
    val families = lps :+ mips
    families.foreach(_._2.foreach(_())) // warm-up: every family once, before any is timed
    val rows = families.map { case (name, models) =>
      var ns = 0L; var bytes = 0L; var count = 0L
      for (_ <- 1 to reps; solve <- models) {
        val b0 = mx.getCurrentThreadAllocatedBytes; val t0 = System.nanoTime
        count += solve()
        ns += System.nanoTime - t0; bytes += mx.getCurrentThreadAllocatedBytes - b0
      }
      val (solves, unit) = (reps * models.size, if (name.startsWith("lp")) "iteration" else "node")
      val row = f"""  {"family": "$name", "instances": ${models.size}, "solves": $solves, "${unit}s_per_solve": ${count.toDouble / solves}%.1f, """ +
        f""""ms_per_solve": ${ns / 1e6 / solves}%.3f, "us_per_$unit": ${ns / 1e3 / count}%.2f, "alloc_kb_per_solve": ${bytes / 1024.0 / solves}%.0f}"""
      println(row); row
    }
    val json = s"""{"cpus": ${Runtime.getRuntime.availableProcessors}, "java": "${System.getProperty("java.version")}", "reps": $reps,
      |"families": [\n${rows.mkString(",\n")}\n]}\n""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
  }
}
