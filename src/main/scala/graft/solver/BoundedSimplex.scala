package graft.solver

/** Statuses mirror the reference's mapping of HighsModelStatus to row text
  * (highs_extension.cpp:653-667): Optimal | Infeasible | Unbounded |
  * anything-else -> Unknown.
  */
sealed trait LpStatus
object LpStatus {
  case object Optimal extends LpStatus
  case object Infeasible extends LpStatus
  case object Unbounded extends LpStatus
  case object Unknown extends LpStatus // iteration limit / numerical failure
}

/** LP solution: primal values and reduced costs for the structural columns,
  * duals for the rows, objective value. `reducedCost(j)` follows the
  * minimization convention (>= 0 at lower bound, <= 0 at upper bound,
  * exactly 0.0 for basic columns) — the same values HiGHS reports as
  * `col_dual` and the reference exposes as the `reduced_cost` column
  * (highs_extension.cpp:605-608, test/sql/highs.test:94-98).
  */
final case class LpSolution(
    status: LpStatus,
    x: Array[Double],
    reducedCost: Array[Double],
    rowDual: Array[Double],
    objective: Double,
    iterations: Int
)

/** Bounded-variable primal simplex over the range form
  *
  *   min c'x   s.t.   rowLower <= A x <= rowUpper,  colLower <= x <= colUpper
  *
  * Internally rewritten with one slack per row, s = A x, giving the equality
  * system [A | -I] z = 0 with bounds on every variable; the initial basis is
  * the slack identity. Phase 1 is the composite (artificial-free) method:
  * basic variables outside their bounds get a +-1 infeasibility cost and
  * their violated bound becomes the blocking bound in the ratio test, so
  * feasibility is restored while the same pivot machinery runs. Dantzig
  * pricing with a Bland's-rule fallback for anti-cycling.
  *
  * The revised simplex runs over [A | -I] in sparse columns ([[SparseLp]])
  * and a basis factor kept across iterations ([[BasisFactor]]: a sparse LU
  * refactored every 32 basis changes, product-form etas between). Each
  * iteration recomputes the basic values from the nonbasic ones, the duals
  * and every reduced cost over the sparse columns. A terminal decision
  * (optimal, infeasible, unbounded) taken on a factor that carries etas is
  * taken again on a fresh factor, so statuses, duals and reduced costs
  * never carry eta drift.
  *
  * This is a from-scratch implementation: neither breeze nor commons-math3
  * (the only optimizers on the classpath) exposes reduced costs, bounded
  * variables, or range constraints, all of which the reference's output
  * contract requires.
  */
object BoundedSimplex {
  import LinearModel.Inf

  private val FeasTol = 1e-7
  private val DualTol = 1e-7
  private val PivTol = 1e-9

  private val Basic = 0
  private val AtLower = 1
  private val AtUpper = 2
  private val Free = 3

  def solve(model: LinearModel): LpSolution =
    solve(new SparseLp(model), model.colLower, model.colUpper)

  /** Solve with overridden column bounds. */
  def solve(model: LinearModel, loIn: Array[Double], hiIn: Array[Double]): LpSolution =
    solve(new SparseLp(model), loIn, hiIn)

  /** Solve over prepared columns with the given column bounds
    * (branch-and-bound passes each node's bounds over one [[SparseLp]]).
    */
  def solve(lp: SparseLp, loIn: Array[Double], hiIn: Array[Double]): LpSolution = {
    val model = lp.model
    val n = lp.nCols
    val m = lp.nRows
    val nTot = n + m
    val cStart = lp.start; val cRow = lp.row; val cVal = lp.value

    val lo = new Array[Double](nTot)
    val hi = new Array[Double](nTot)
    var j = 0
    while (j < n) {
      lo(j) = if (loIn(j) <= -Inf) Double.NegativeInfinity else loIn(j)
      hi(j) = if (hiIn(j) >= Inf) Double.PositiveInfinity else hiIn(j)
      j += 1
    }
    var i = 0
    while (i < m) {
      lo(n + i) = if (model.rowLower(i) <= -Inf) Double.NegativeInfinity else model.rowLower(i)
      hi(n + i) = if (model.rowUpper(i) >= Inf) Double.PositiveInfinity else model.rowUpper(i)
      i += 1
    }
    // Crossed bounds => trivially infeasible.
    j = 0
    while (j < nTot) {
      if (lo(j) > hi(j) + FeasTol)
        return LpSolution(LpStatus.Infeasible, new Array[Double](n), new Array[Double](n), new Array[Double](m), 0.0, 0)
      j += 1
    }

    val cost = new Array[Double](nTot)
    System.arraycopy(model.colCost, 0, cost, 0, n)

    // Initial point: slacks basic, structurals nonbasic at a finite bound
    // (lower preferred), free structurals at 0.
    val vstat = new Array[Int](nTot)
    val xval = new Array[Double](nTot)
    j = 0
    while (j < n) {
      if (!lo(j).isNegInfinity) { vstat(j) = AtLower; xval(j) = lo(j) }
      else if (!hi(j).isPosInfinity) { vstat(j) = AtUpper; xval(j) = hi(j) }
      else { vstat(j) = Free; xval(j) = 0.0 }
      j += 1
    }
    val basis = new Array[Int](m)
    i = 0
    while (i < m) { basis(i) = n + i; vstat(n + i) = Basic; i += 1 }

    val factor = new BasisFactor(lp, basis)
    val xB = new Array[Double](m) // basic values, by basis position
    val y = new Array[Double](m)  // c_B by position, then (BTRAN in place) duals by row
    val w = new Array[Double](m)  // entering column through the factor

    val maxIter = 20000 + 200 * nTot
    val blandAfter = 5000 + 20 * nTot
    var iter = 0
    var resultStatus: LpStatus = LpStatus.Unknown
    var done = !factor.refactor()

    // A terminal decision is only final on a factor without etas; otherwise
    // refactor and take the same iteration again, uncounted.
    def finish(status: LpStatus): Unit =
      if (factor.etaCount == 0) { resultStatus = status; done = true }
      else if (!factor.refactor()) done = true
      else iter -= 1

    while (!done) {
      iter += 1
      if (iter > maxIter) done = true
      else {
        // Basic values from scratch: B xB = b - N x_N with b = 0.
        java.util.Arrays.fill(xB, 0.0)
        j = 0
        while (j < nTot) {
          val xj = xval(j)
          if (vstat(j) != Basic && xj != 0.0) {
            var e = cStart(j)
            while (e < cStart(j + 1)) { xB(cRow(e)) -= cVal(e) * xj; e += 1 }
          }
          j += 1
        }
        factor.ftran(xB)
        var k = 0
        while (k < m) { xval(basis(k)) = xB(k); k += 1 }

        // Phase detection + objective-row costs for the basis, then the
        // duals y = B⁻ᵀ c_B.
        var infeas = 0.0
        k = 0
        while (k < m) {
          val bj = basis(k); val v = xB(k)
          if (v > hi(bj) + FeasTol) { infeas += v - hi(bj); y(k) = 1.0 }
          else if (v < lo(bj) - FeasTol) { infeas += lo(bj) - v; y(k) = -1.0 }
          else y(k) = 0.0
          k += 1
        }
        val phase1 = infeas > FeasTol
        if (!phase1) {
          k = 0
          while (k < m) { y(k) = cost(basis(k)); k += 1 }
        }
        factor.btran(y)

        // Pricing.
        val useBland = iter > blandAfter
        var enter = -1
        var enterDir = 0
        var bestScore = DualTol
        j = 0
        while (j < nTot && (enter == -1 || !useBland)) {
          val st = vstat(j)
          if (st != Basic) {
            var d = if (phase1) 0.0 else cost(j)
            var e = cStart(j)
            while (e < cStart(j + 1)) { d -= y(cRow(e)) * cVal(e); e += 1 }
            if ((st == AtLower || st == Free) && d < -DualTol && -d > bestScore) {
              enter = j; enterDir = 1
              if (!useBland) bestScore = -d
            } else if ((st == AtUpper || st == Free) && d > DualTol && d > bestScore) {
              enter = j; enterDir = -1
              if (!useBland) bestScore = d
            }
          }
          j += 1
        }

        if (enter == -1) finish(if (phase1) LpStatus.Infeasible else LpStatus.Optimal)
        else {
          java.util.Arrays.fill(w, 0.0)
          var e = cStart(enter)
          while (e < cStart(enter + 1)) { w(cRow(e)) = cVal(e); e += 1 }
          factor.ftran(w)
          // Ratio test. t = step of the entering variable in direction
          // enterDir; basic k moves at rate -enterDir * w(k).
          var t = if (!lo(enter).isInfinity && !hi(enter).isInfinity)
            hi(enter) - lo(enter) // bound-flip distance
          else Double.PositiveInfinity
          var blockK = -1
          var blockStat = AtLower
          var blockVal = 0.0
          var blockMag = 0.0
          k = 0
          while (k < m) {
            val delta = -enterDir * w(k)
            if (math.abs(delta) > PivTol) {
              val bj = basis(k); val v = xB(k)
              // Working bounds: an infeasible basic blocks only at the
              // bound it violates (composite phase 1).
              var wlo = lo(bj); var whi = hi(bj)
              var hitStatLo = AtLower; var hitStatHi = AtUpper
              if (v > hi(bj) + FeasTol) { wlo = hi(bj); whi = Double.PositiveInfinity; hitStatLo = AtUpper }
              else if (v < lo(bj) - FeasTol) { whi = lo(bj); wlo = Double.NegativeInfinity; hitStatHi = AtLower }
              var tk = Double.PositiveInfinity
              var stat = AtLower; var tgt = 0.0
              if (delta < 0 && !wlo.isNegInfinity) {
                tk = (v - wlo) / (-delta); stat = hitStatLo; tgt = wlo
              } else if (delta > 0 && !whi.isPosInfinity) {
                tk = (whi - v) / delta; stat = hitStatHi; tgt = whi
              }
              if (tk < t - 1e-12 ||
                  (tk < t + 1e-12 && blockK != -1 &&
                    (if (useBland) basis(k) < basis(blockK)
                     else math.abs(delta) > blockMag))) {
                t = math.max(tk, 0.0); blockK = k; blockStat = stat
                blockVal = tgt; blockMag = math.abs(delta)
              }
            }
            k += 1
          }

          if (t.isPosInfinity) {
            // Phase 1's objective is bounded below by 0 with blocking at
            // violated bounds, so an unbounded ray here is phase 2.
            finish(if (phase1) LpStatus.Unknown else LpStatus.Unbounded)
          } else if (blockK == -1) {
            // Bound flip: entering runs to its opposite bound.
            if (enterDir > 0) { vstat(enter) = AtUpper; xval(enter) = hi(enter) }
            else { vstat(enter) = AtLower; xval(enter) = lo(enter) }
          } else {
            xval(enter) = xval(enter) + enterDir * t
            val leaving = basis(blockK)
            vstat(leaving) = blockStat
            xval(leaving) = blockVal
            vstat(enter) = Basic
            if (!factor.pivot(blockK, enter, w)) done = true
          }
        }
      }
    }

    // Assemble outputs in the structural space. Duals and reduced costs
    // are reported for Optimal only; y then comes from a fresh factor.
    val x = java.util.Arrays.copyOf(xval, n)
    val rc = new Array[Double](n)
    val rowDual = new Array[Double](m)
    if (resultStatus == LpStatus.Optimal) {
      j = 0
      while (j < n) {
        if (vstat(j) != Basic) {
          var d = cost(j)
          var e = cStart(j)
          while (e < cStart(j + 1)) { d -= y(cRow(e)) * cVal(e); e += 1 }
          rc(j) = d
        }
        j += 1
      }
      // Row dual = reduced cost of the slack with our [A | -I] convention.
      System.arraycopy(y, 0, rowDual, 0, m)
    }
    var obj = 0.0
    j = 0
    while (j < n) { obj += model.colCost(j) * x(j); j += 1 }
    LpSolution(resultStatus, x, rc, rowDual, obj, iter)
  }
}
