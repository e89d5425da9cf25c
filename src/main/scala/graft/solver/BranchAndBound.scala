package graft.solver

/** MIP result. For pure LPs `reducedCost` carries the simplex duals; for
  * models with integer columns the reference surfaces whatever HiGHS left in
  * `col_dual` (not dual-valid after a MIP solve — effectively zeros,
  * highs_extension.cpp:605-608), so we report 0.0 there.
  */
final case class MipSolution(
    status: LpStatus,
    x: Array[Double],
    reducedCost: Array[Double],
    objective: Double,
    nodes: Int
)

/** Depth-first branch-and-bound over the bounded simplex.
  *
  * Binary columns are clamped to [0,1] before solving, matching
  * highs_extension.cpp:577-583. Branching: most-fractional column; the
  * child nearer the LP value is explored first (diving), with best-objective
  * pruning against the incumbent. The model's sparse columns are built
  * once ([[SparseLp]]) and every node solves over them with its own bounds.
  */
object BranchAndBound {
  private val IntTol = 1e-6
  private val MaxNodes = 200000

  def solve(model: LinearModel): MipSolution = {
    val (lo0, hi0) = model.effectiveBounds
    val cols = new SparseLp(model)
    if (!model.hasIntegers) {
      val lp = BoundedSimplex.solve(cols, lo0, hi0)
      return MipSolution(lp.status, lp.x, lp.reducedCost, lp.objective, 1)
    }
    val intCols = model.kinds.zipWithIndex.collect {
      case (k, j) if k != VarKind.Continuous => j
    }

    var bestObj = Double.PositiveInfinity
    var bestX: Array[Double] = null
    var nodes = 0
    var sawUnbounded = false
    var hitLimit = false

    // Stack of (colLower, colUpper) node bound overrides.
    var stack: List[(Array[Double], Array[Double])] = List((lo0, hi0))
    while (stack.nonEmpty && !sawUnbounded && !hitLimit) {
      val (lo, hi) = stack.head
      stack = stack.tail
      nodes += 1
      if (nodes > MaxNodes) hitLimit = true
      else {
        val lp = BoundedSimplex.solve(cols, lo, hi)
        lp.status match {
          case LpStatus.Infeasible => // prune
          case LpStatus.Unbounded =>
            // An unbounded relaxation at any node means the MIP is not
            // boundedly solvable; report Unbounded like the reference's
            // status mapping would.
            sawUnbounded = true
          case LpStatus.Unknown => hitLimit = true
          case LpStatus.Optimal =>
            if (lp.objective < bestObj - 1e-9) {
              // Most fractional integer column.
              var branchCol = -1
              var worstFrac = IntTol
              for (j <- intCols) {
                val v = lp.x(j)
                val frac = math.abs(v - math.rint(v))
                if (frac > worstFrac) { worstFrac = frac; branchCol = j }
              }
              if (branchCol == -1) {
                // Integral => incumbent.
                bestObj = lp.objective
                bestX = lp.x.clone()
                for (j <- intCols) bestX(j) = math.rint(bestX(j))
              } else {
                val v = lp.x(branchCol)
                val dnLo = lo; val dnHi = hi.clone(); dnHi(branchCol) = math.floor(v)
                val upLo = lo.clone(); val upHi = hi; upLo(branchCol) = math.ceil(v)
                // Dive toward the nearer integer first (head of stack).
                if (v - math.floor(v) <= 0.5)
                  stack = (dnLo, dnHi) :: (upLo, upHi) :: stack
                else
                  stack = (upLo, upHi) :: (dnLo, dnHi) :: stack
              }
            } // else bound-pruned
        }
      }
    }

    // An aborted search (node limit / node-LP Unknown) must never be
    // labeled Optimal even when an incumbent exists — unexplored subtrees
    // may hold a better solution; the reference maps HiGHS limit statuses
    // to Unknown too. Return the incumbent's values (best known point)
    // with status Unknown.
    if (sawUnbounded)
      MipSolution(LpStatus.Unbounded, new Array[Double](model.nCols),
        new Array[Double](model.nCols), 0.0, nodes)
    else if (hitLimit)
      MipSolution(LpStatus.Unknown,
        if (bestX != null) bestX else new Array[Double](model.nCols),
        new Array[Double](model.nCols),
        if (bestX != null) bestObj else 0.0, nodes)
    else if (bestX != null)
      MipSolution(LpStatus.Optimal, bestX, new Array[Double](model.nCols),
        bestObj, nodes)
    else
      MipSolution(LpStatus.Infeasible, new Array[Double](model.nCols),
        new Array[Double](model.nCols), 0.0, nodes)
  }
}
