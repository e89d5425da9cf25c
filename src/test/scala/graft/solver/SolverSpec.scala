package graft.solver

import org.scalatest.funsuite.AnyFunSuite

class SolverSpec extends AnyFunSuite {
  val Inf = 1e30
  val tol = 1e-6

  test("basis factor: FTRAN and BTRAN match the explicit basis across eta updates and a refactor") {
    val rng = new scala.util.Random(7)
    val (m, n) = (12, 30)
    val entries = for {
      i <- 0 until m; j <- 0 until n if rng.nextDouble() < 0.3
    } yield (i, j, rng.nextDouble() * 4 - 2)
    val lp = new SparseLp(LinearModel(n, m, new Array[Double](n), new Array[Double](n),
      Array.fill(n)(1.0), Array.fill(m)(-Inf), Array.fill(m)(Inf), entries.toArray,
      Array.fill(n)(VarKind.Continuous)))
    def column(j: Int): Array[Double] = {
      val a = new Array[Double](m)
      for (e <- lp.start(j) until lp.start(j + 1)) a(lp.row(e)) = lp.value(e)
      a
    }
    val factor = new BasisFactor(lp, Array.tabulate(m)(n + _))
    assert(factor.refactor())
    var etasSeen, refactorsSeen = 0
    for (step <- 1 to BasisFactor.RefactorEvery + 8) {
      // A nonbasic column entering at the position of its largest B⁻¹a_q
      // entry, as the ratio test would pick on a well-scaled model.
      val basic = factor.basis.toSet
      val (q, w, pos) = rng.shuffle((0 until n + m).filterNot(basic).toList).iterator.map { q =>
        val w = column(q); factor.ftran(w)
        (q, w, w.indices.maxBy(i => math.abs(w(i))))
      }.find { case (_, w, pos) => math.abs(w(pos)) > 0.5 }.get
      assert(factor.pivot(pos, q, w))
      if (factor.etaCount == 0) refactorsSeen += 1 else etasSeen = math.max(etasSeen, factor.etaCount)
      val b = Array.tabulate(m, m)((r, p) => column(factor.basis(p))(r))
      val rhs = Array.fill(m)(rng.nextDouble() * 2 - 1)
      val x = rhs.clone(); factor.ftran(x)
      val y = rhs.clone(); factor.btran(y)
      for ((got, want, what) <- Seq((x, denseSolve(b, rhs), "ftran"), (y, denseSolve(b.transpose, rhs), "btran")))
        for (i <- 0 until m)
          assert(math.abs(got(i) - want(i)) <= 1e-10 * (1 + math.abs(want(i))),
            s"step $step $what($i): ${got(i)} vs ${want(i)} with ${factor.etaCount} etas")
    }
    assert(refactorsSeen == 1 && etasSeen == BasisFactor.RefactorEvery - 1 && factor.etaCount == 8)
  }

  test("sparse columns sum duplicate entries, sort rows and append the slack columns") {
    // Entries out of order, (0,0) given twice, (1,0) cancelling to zero.
    val m = LinearModel(2, 2, Array(1.0, 1.0), Array(0.0, 0.0), Array(Inf, Inf),
      Array(3.0, 2.0), Array(Inf, Inf),
      Array((1, 1, 2.0), (0, 0, 1.0), (1, 0, 0.5), (0, 0, 2.0), (1, 0, -0.5), (0, 1, 1.0)),
      Array(VarKind.Continuous, VarKind.Continuous))
    val lp = new SparseLp(m)
    def col(j: Int) = (lp.start(j) until lp.start(j + 1)).map(e => (lp.row(e), lp.value(e)))
    assert((0 until 4).map(col) == Seq(Seq((0, 3.0)), Seq((0, 1.0), (1, 2.0)), Seq((0, -1.0)), Seq((1, -1.0))))
    val sol = BoundedSimplex.solve(m)
    assert(sol.status == LpStatus.Optimal && math.abs(sol.objective - 5.0 / 3) < tol) // x = 2/3, y = 1
  }

  test("planted-optimum LPs from 50x100 to 200x400 reach the planted objective with a KKT certificate") {
    val rng = new scala.util.Random(3)
    for ((m, n) <- Seq((50, 100), (100, 200), (200, 400)); k <- 0 until 2) {
      val (model, opt) = graft.tools.SolverBench.plantedLp(rng, m, n)
      val sol = BoundedSimplex.solve(model)
      assert(sol.status == LpStatus.Optimal, s"${m}x$n #$k")
      assert(math.abs(sol.objective - opt) <= 1e-6 * (1 + math.abs(opt)),
        s"${m}x$n #$k: objective ${sol.objective} vs planted $opt")
      checkKkt(model, sol, s"${m}x$n #$k")
    }
  }

  test("a seeded 100x200 solve allocates under 4 MB on the calling thread") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val (model, opt) = graft.tools.SolverBench.plantedLp(new scala.util.Random(11), 100, 200)
    BoundedSimplex.solve(model) // loads the classes
    val tid = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(tid)
    val sol = BoundedSimplex.solve(model)
    val bytes = mx.getThreadAllocatedBytes(tid) - before
    assert(sol.status == LpStatus.Optimal && math.abs(sol.objective - opt) <= 1e-6 * (1 + math.abs(opt)))
    assert(bytes < 4L * 1024 * 1024, s"allocated $bytes bytes in ${sol.iterations} iterations")
  }

  test("golden LP from highs.test: x=0 rc=1, y=1 rc=1, Optimal") {
    val sol = BoundedSimplex.solve(ReferenceModels.golden)
    assert(sol.status == LpStatus.Optimal)
    assert(math.abs(sol.x(0) - 0.0) < tol)
    assert(math.abs(sol.x(1) - 1.0) < tol)
    assert(math.abs(sol.reducedCost(0) - 1.0) < tol)
    assert(math.abs(sol.reducedCost(1) - 1.0) < tol)
    assert(math.abs(sol.objective - 1.0) < tol)
  }

  test("unbounded LP detected") {
    val m = LinearModel(1, 0, Array(-1.0), Array(0.0), Array(Inf),
      Array.empty, Array.empty, Array.empty, Array(VarKind.Continuous))
    assert(BoundedSimplex.solve(m).status == LpStatus.Unbounded)
  }

  test("infeasible LP detected") {
    // x <= -1 and x >= 1 via two rows on the same variable
    val m = LinearModel(1, 2, Array(0.0), Array(-Inf), Array(Inf),
      Array(-Inf, 1.0), Array(-1.0, Inf),
      Array((0, 0, 1.0), (1, 0, 1.0)), Array(VarKind.Continuous))
    assert(BoundedSimplex.solve(m).status == LpStatus.Infeasible)
  }

  test("equality rows: x + y = 4, x - y = 2 -> x=3, y=1") {
    val m = LinearModel(2, 2, Array(1.0, 1.0), Array(-Inf, -Inf), Array(Inf, Inf),
      Array(4.0, 2.0), Array(4.0, 2.0),
      Array((0, 0, 1.0), (0, 1, 1.0), (1, 0, 1.0), (1, 1, -1.0)),
      Array(VarKind.Continuous, VarKind.Continuous))
    val sol = BoundedSimplex.solve(m)
    assert(sol.status == LpStatus.Optimal)
    assert(math.abs(sol.x(0) - 3.0) < tol && math.abs(sol.x(1) - 1.0) < tol)
  }

  test("network-flow LP solves to the brute-force assignment cost") {
    val model = ReferenceModels.networkFlow
    val sol = BoundedSimplex.solve(model)
    assert(sol.status == LpStatus.Optimal)
    val expected = ReferenceModels.bruteForceFlowCost
    assert(math.abs(sol.objective - expected) < tol,
      s"simplex ${sol.objective} vs brute force $expected")
    // Min-cost-flow LP relaxations have integral vertex optima.
    sol.x.foreach(v => assert(math.abs(v - math.rint(v)) < tol))
    checkKkt(model, sol)
  }

  test("datacenter binary MIP solves to the brute-force cost") {
    val model = ReferenceModels.datacenter
    val sol = BranchAndBound.solve(model)
    assert(sol.status == LpStatus.Optimal)
    val expected = ReferenceModels.bruteForceDatacenterCost
    assert(math.abs(sol.objective - expected) < tol,
      s"B&B ${sol.objective} vs brute force $expected")
    sol.x.foreach(v => assert(math.abs(v - math.rint(v)) < tol))
    // Feasibility of the incumbent against every row.
    assertFeasible(model, sol.x)
  }

  test("binary bounds clamp to [0,1] like the reference") {
    // lower=-5, upper=9 on a binary var must behave as [0,1]
    val m = LinearModel(1, 0, Array(-1.0), Array(-5.0), Array(9.0),
      Array.empty, Array.empty, Array.empty, Array(VarKind.Binary))
    val sol = BranchAndBound.solve(m)
    assert(sol.status == LpStatus.Optimal)
    assert(math.abs(sol.x(0) - 1.0) < tol)
  }

  test("integer variable branch-and-bound: knapsack-ish") {
    // max 5a + 4b (min -5a -4b) s.t. 6a + 4b <= 24, a + 2b <= 6, a,b int >= 0
    // LP optimum (3, 1.5) obj -21; best integer point is a=4, b=0 -> -20.
    val m = LinearModel(2, 2, Array(-5.0, -4.0), Array(0.0, 0.0), Array(Inf, Inf),
      Array(-Inf, -Inf), Array(24.0, 6.0),
      Array((0, 0, 6.0), (0, 1, 4.0), (1, 0, 1.0), (1, 1, 2.0)),
      Array(VarKind.Integer, VarKind.Integer))
    val sol = BranchAndBound.solve(m)
    assert(sol.status == LpStatus.Optimal)
    assert(math.abs(sol.objective - (-20.0)) < tol)
    assert(math.abs(sol.x(0) - 4.0) < tol && math.abs(sol.x(1) - 0.0) < tol)
  }

  test("randomized LPs satisfy KKT optimality certificates") {
    val rng = new scala.util.Random(42)
    var optimalSeen = 0
    for (trial <- 0 until 60) {
      val n = 2 + rng.nextInt(6)
      val mRows = 1 + rng.nextInt(6)
      val cost = Array.fill(n)(rng.nextDouble() * 4 - 2)
      val lo = Array.fill(n)(if (rng.nextBoolean()) 0.0 else -Inf)
      val hi = lo.map(l => if (rng.nextBoolean()) (if (l == 0.0) l else 0.0) + rng.nextDouble() * 10 + 1 else Inf)
      val entries = for {
        r <- 0 until mRows; c <- 0 until n if rng.nextDouble() < 0.7
      } yield (r, c, rng.nextDouble() * 4 - 2)
      val rl = new Array[Double](mRows)
      val ru = new Array[Double](mRows)
      for (r <- 0 until mRows) {
        rng.nextInt(3) match {
          case 0 => rl(r) = -Inf; ru(r) = rng.nextDouble() * 10
          case 1 => rl(r) = -rng.nextDouble() * 10; ru(r) = Inf
          case 2 => val v = rng.nextDouble() * 6 - 3; rl(r) = v; ru(r) = v + rng.nextDouble() * 2
        }
      }
      val m = LinearModel(n, mRows, cost, lo, hi, rl, ru, entries.toArray,
        Array.fill(n)(VarKind.Continuous))
      val sol = BoundedSimplex.solve(m)
      if (sol.status == LpStatus.Optimal) {
        optimalSeen += 1
        checkKkt(m, sol, s"trial $trial")
      }
    }
    assert(optimalSeen > 10, s"only $optimalSeen optimal LPs in the random batch")
  }

  /** Primal feasibility + dual sign conventions + complementary slackness:
    * a complete optimality certificate for an LP claimed Optimal, entirely
    * independent of the pivoting path.
    */
  private def checkKkt(m: LinearModel, sol: LpSolution, ctx: String = ""): Unit = {
    val t = 1e-5
    assertFeasible(m, sol.x, ctx)
    val activity = rowActivity(m, sol.x)
    for (j <- 0 until m.nCols) {
      val v = sol.x(j); val rc = sol.reducedCost(j)
      val atLo = LinearModel.isFinite(m.colLower(j)) && v <= m.colLower(j) + t
      val atHi = LinearModel.isFinite(m.colUpper(j)) && v >= m.colUpper(j) - t
      if (!atLo && !atHi) assert(math.abs(rc) <= t, s"$ctx interior col $j rc=$rc")
      if (atLo && !atHi) assert(rc >= -t, s"$ctx col $j at lower, rc=$rc")
      if (atHi && !atLo) assert(rc <= t, s"$ctx col $j at upper, rc=$rc")
    }
    for (i <- 0 until m.nRows) {
      val s = activity(i); val d = sol.rowDual(i)
      val atLo = LinearModel.isFinite(m.rowLower(i)) && s <= m.rowLower(i) + t
      val atHi = LinearModel.isFinite(m.rowUpper(i)) && s >= m.rowUpper(i) - t
      if (!atLo && !atHi) assert(math.abs(d) <= t, s"$ctx interior row $i dual=$d")
      if (atLo && !atHi) assert(d >= -t, s"$ctx row $i at lower, dual=$d")
      if (atHi && !atLo) assert(d <= t, s"$ctx row $i at upper, dual=$d")
    }
    // rc = c - A'lambda must hold exactly (definitional identity).
    val atl = new Array[Double](m.nCols)
    for ((r, c, v) <- m.entries) atl(c) += sol.rowDual(r) * v
    for (j <- 0 until m.nCols)
      assert(math.abs(m.colCost(j) - atl(j) - sol.reducedCost(j)) <= t ||
        sol.reducedCost(j) == 0.0 && math.abs(m.colCost(j) - atl(j)) <= t,
        s"$ctx col $j rc identity")
  }

  /** x with a x = b, by Gaussian elimination with partial pivoting. */
  private def denseSolve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (k <- 0 until n) {
      val p = (k until n).maxBy(i => math.abs(a(i)(k)))
      val tr = a(p); a(p) = a(k); a(k) = tr
      val tb = b(p); b(p) = b(k); b(k) = tb
      for (i <- k + 1 until n) {
        val f = a(i)(k) / a(k)(k)
        for (j <- k until n) a(i)(j) -= f * a(k)(j)
        b(i) -= f * b(k)
      }
    }
    val x = new Array[Double](n)
    for (k <- n - 1 to 0 by -1)
      x(k) = (b(k) - (k + 1 until n).map(j => a(k)(j) * x(j)).sum) / a(k)(k)
    x
  }

  private def rowActivity(m: LinearModel, x: Array[Double]): Array[Double] = {
    val act = new Array[Double](m.nRows)
    for ((r, c, v) <- m.entries) act(r) += v * x(c)
    act
  }

  private def assertFeasible(m: LinearModel, x: Array[Double], ctx: String = ""): Unit = {
    val t = 1e-5
    val act = rowActivity(m, x)
    for (j <- 0 until m.nCols) {
      if (LinearModel.isFinite(m.colLower(j))) assert(x(j) >= m.colLower(j) - t, s"$ctx col $j below lb")
      if (LinearModel.isFinite(m.colUpper(j))) assert(x(j) <= m.colUpper(j) + t, s"$ctx col $j above ub")
    }
    for (i <- 0 until m.nRows) {
      if (LinearModel.isFinite(m.rowLower(i))) assert(act(i) >= m.rowLower(i) - t, s"$ctx row $i below lb")
      if (LinearModel.isFinite(m.rowUpper(i))) assert(act(i) <= m.rowUpper(i) + t, s"$ctx row $i above ub")
    }
  }
}
