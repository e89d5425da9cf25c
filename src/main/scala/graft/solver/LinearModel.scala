package graft.solver

/** Variable integrality kinds, mirroring the reference's `var_type` strings
  * (`'continuous' | 'integer' | 'binary'`,
  * /root/reference/src/highs_extension.cpp:577-587).
  */
sealed trait VarKind
object VarKind {
  case object Continuous extends VarKind
  case object Integer extends VarKind
  case object Binary extends VarKind

  /** Reference semantics: unknown type strings fall back to continuous
    * (highs_extension.cpp:586-587).
    */
  def fromString(s: String): VarKind = s match {
    case "binary"  => Binary
    case "integer" => Integer
    case _         => Continuous
  }
}

/** An LP/MIP in the reference's "range" form (highs_extension.cpp:544-590):
  *
  *   minimize    c'x
  *   subject to  rowLower <= A x <= rowUpper
  *               colLower <=   x <= colUpper
  *
  * Sense is always minimize (the reference fixes `sense_ = kMinimize` at
  * model construction, highs_extension.cpp:43, and exposes no maximize API).
  * Magnitudes >= 1e30 are treated as infinities, matching the reference's
  * use of +-1e30 bounds (test/sql/highs.test:33-42).
  *
  * The constraint matrix arrives as COO triples. The reference appends
  * duplicate (row, col) entries verbatim (highs_extension.cpp:435-436); we
  * sum duplicates, the standard sparse-matrix semantic.
  */
final case class LinearModel(
    nCols: Int,
    nRows: Int,
    colCost: Array[Double],
    colLower: Array[Double],
    colUpper: Array[Double],
    rowLower: Array[Double],
    rowUpper: Array[Double],
    entries: Array[(Int, Int, Double)], // (row, col, value)
    kinds: Array[VarKind]
) {
  require(colCost.length == nCols && colLower.length == nCols &&
    colUpper.length == nCols && kinds.length == nCols)
  require(rowLower.length == nRows && rowUpper.length == nRows)

  def hasIntegers: Boolean = kinds.exists(_ != VarKind.Continuous)

  /** Binary variables solve with bounds clamped into [0,1]
    * (highs_extension.cpp:577-583). Returns effective (lower, upper).
    */
  def effectiveBounds: (Array[Double], Array[Double]) = {
    val lo = colLower.clone()
    val hi = colUpper.clone()
    var j = 0
    while (j < nCols) {
      if (kinds(j) == VarKind.Binary) {
        lo(j) = math.max(0.0, lo(j))
        hi(j) = math.min(1.0, hi(j))
      }
      j += 1
    }
    (lo, hi)
  }
}

object LinearModel {
  /** Infinity threshold shared with the reference (+-1e30). */
  val Inf: Double = 1e30

  def isFinite(v: Double): Boolean = v > -Inf && v < Inf
}

/** The constraint matrix of a model with one slack column per row,
  * [A | -I], in compressed sparse columns: column j holds rows
  * `row(start(j) until start(j + 1))` (ascending) with values `value(…)`.
  * Duplicate (row, col) entries of the COO input are summed and exact
  * zeros dropped. Built once per model; branch-and-bound solves every node
  * over the same columns.
  */
final class SparseLp(val model: LinearModel) {
  val nCols: Int = model.nCols
  val nRows: Int = model.nRows

  val (start, row, value): (Array[Int], Array[Int], Array[Double]) = {
    val n = nCols; val m = nRows
    val es = model.entries; val nnz = es.length
    // Bucket by row, then by column in row order: the second counting sort
    // leaves every column's rows ascending, so duplicates are adjacent.
    val rowStart = new Array[Int](m + 1)
    es.foreach(e => rowStart(e._1 + 1) += 1)
    var i = 0
    while (i < m) { rowStart(i + 1) += rowStart(i); i += 1 }
    val rc = new Array[Int](nnz); val rv = new Array[Double](nnz)
    es.foreach { case (r, c, v) => rc(rowStart(r)) = c; rv(rowStart(r)) = v; rowStart(r) += 1 }
    // rowStart(r) is now row r's end, which is row r + 1's start.
    val colStart = new Array[Int](n + 1)
    rc.foreach(c => colStart(c + 1) += 1)
    var j = 0
    while (j < n) { colStart(j + 1) += colStart(j); j += 1 }
    val cr = new Array[Int](nnz); val cv = new Array[Double](nnz)
    val fill = colStart.clone()
    var e = 0
    i = 0
    while (i < m) {
      while (e < rowStart(i)) {
        val c = rc(e); cr(fill(c)) = i; cv(fill(c)) = rv(e); fill(c) += 1; e += 1
      }
      i += 1
    }
    val st = new Array[Int](n + m + 1)
    val ro = new Array[Int](nnz + m); val va = new Array[Double](nnz + m)
    var k = 0
    j = 0
    while (j < n) {
      e = colStart(j)
      while (e < colStart(j + 1)) {
        val r = cr(e); var v = cv(e); e += 1
        while (e < colStart(j + 1) && cr(e) == r) { v += cv(e); e += 1 }
        if (v != 0.0) { ro(k) = r; va(k) = v; k += 1 }
      }
      j += 1
      st(j) = k
    }
    i = 0
    while (i < m) { ro(k) = i; va(k) = -1.0; k += 1; st(n + i + 1) = k; i += 1 }
    (st, java.util.Arrays.copyOf(ro, k), java.util.Arrays.copyOf(va, k))
  }
}
