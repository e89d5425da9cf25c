package graft.solver

import org.scalatest.funsuite.AnyFunSuite

/** Property-style robustness: over randomized models the solver must
  * always land on a definitive status — `Unknown` would mean the phase-1
  * unbounded-ray path leaked to users (VERDICT r1 risk) or B&B aborted on
  * tiny models.
  */
class SolverPropertySpec extends AnyFunSuite {

  private def randModel(rnd: scala.util.Random): LinearModel = {
    val n = 1 + rnd.nextInt(6)
    val m = rnd.nextInt(5)
    val kinds = Array.fill[VarKind](n)(
      if (rnd.nextInt(4) == 0) VarKind.Integer else VarKind.Continuous)
    val lo = Array.fill(n)(if (rnd.nextBoolean()) 0.0 else -rnd.nextInt(5).toDouble)
    val hi = Array.tabulate(n)(j => lo(j) + (if (rnd.nextInt(5) == 0) 1e30 else rnd.nextInt(10) + 1.0))
    val entries = for {
      i <- 0 until m; j <- 0 until n
      if rnd.nextInt(3) > 0
    } yield (i, j, rnd.nextInt(9) - 4.0)
    LinearModel(
      nCols = n, nRows = m,
      colCost = Array.fill(n)(rnd.nextInt(11) - 5.0),
      colLower = lo, colUpper = hi,
      rowLower = Array.fill(m)(if (rnd.nextBoolean()) -1e30 else -rnd.nextInt(10).toDouble),
      rowUpper = Array.fill(m)(rnd.nextInt(15).toDouble),
      entries = entries.toArray,
      kinds = kinds)
  }

  test("500 randomized LP/MIPs always get a definitive status") {
    val rnd = new scala.util.Random(20260812L)
    var optimal, infeasible, unbounded = 0
    for (_ <- 1 to 500) {
      val sol = BranchAndBound.solve(randModel(rnd))
      sol.status match {
        case LpStatus.Optimal    => optimal += 1
        case LpStatus.Infeasible => infeasible += 1
        case LpStatus.Unbounded  => unbounded += 1
        case LpStatus.Unknown    => fail("solver returned Unknown on a tiny model")
      }
    }
    // Pinned to the counts a fresh dense LU per iteration gives on this
    // seed (the kept factor must not change a status); all three occur.
    assert((optimal, infeasible, unbounded) == ((422, 9, 69)),
      s"optimal/infeasible/unbounded: $optimal/$infeasible/$unbounded")
  }
}
