package graft.solver

/** LU factor of a simplex basis, kept across basis changes.
  *
  * The basis B is the m columns of `lp`'s [A | -I] that `basis` names, by
  * position. [[refactor]] factors it column by column (left-looking) with
  * partial pivoting over the rows: basic slacks, which are unit columns,
  * come first and need no elimination, then the structural columns.
  * L (the row operations of each step) and U are kept as sparse columns.
  *
  * Between refactors a basis change appends a product-form eta: with
  * w = B⁻¹a_q for the entering column and r the leaving position, the new
  * basis is B·E with E = I + (w − e_r)e_rᵀ, so its inverse is E⁻¹B⁻¹. Every
  * [[RefactorEvery]]th change refactors instead, which bounds both the eta
  * file and its drift.
  *
  * [[ftran]] solves B x = b and [[btran]] solves Bᵀ y = c in place. All
  * work arrays are allocated with the factor; L and U grow by doubling.
  */
final class BasisFactor(lp: SparseLp, val basis: Array[Int]) {
  import BasisFactor._

  private val n = lp.nCols
  private val m = lp.nRows
  require(basis.length == m)

  // Step k eliminates the column at basis position order(k) on row pivRow(k).
  private val order = new Array[Int](m)
  private val pivRow = new Array[Int](m)
  private val rowDone = new Array[Boolean](m)
  // L: step k's row operations v(lRow(e)) -= lVal(e) * v(pivRow(k)).
  private val lStart = new Array[Int](m + 1)
  private var lRow = new Array[Int](4 * m + 16)
  private var lVal = new Array[Double](4 * m + 16)
  // U by columns in step space: off-diagonal (uIdx(e) < k, uVal(e)), diagonal uDiag(k).
  private val uStart = new Array[Int](m + 1)
  private var uIdx = new Array[Int](4 * m + 16)
  private var uVal = new Array[Double](4 * m + 16)
  private val uDiag = new Array[Double](m)
  // Etas, in the order they were appended.
  private var nEta = 0
  private val etaPos = new Array[Int](RefactorEvery)
  private val etaPiv = new Array[Double](RefactorEvery)
  private val etaStart = new Array[Int](RefactorEvery + 1)
  private val etaIdx = new Array[Int](RefactorEvery * m)
  private val etaVal = new Array[Double](RefactorEvery * m)
  private val work = new Array[Double](m)

  /** Etas applied on top of the last refactor. */
  def etaCount: Int = nEta

  /** Factor the current basis afresh and drop the etas. False when the
    * basis is numerically singular.
    */
  def refactor(): Boolean = {
    nEta = 0
    java.util.Arrays.fill(rowDone, false)
    var k = 0
    var p = 0
    while (p < m) { if (basis(p) >= n) { order(k) = p; k += 1 }; p += 1 }
    p = 0
    while (p < m) { if (basis(p) < n) { order(k) = p; k += 1 }; p += 1 }
    var nl = 0; var nu = 0
    val x = work
    k = 0
    while (k < m) {
      val col = basis(order(k))
      java.util.Arrays.fill(x, 0.0)
      var e = lp.start(col)
      while (e < lp.start(col + 1)) { x(lp.row(e)) = lp.value(e); e += 1 }
      // Apply the earlier steps; what lands on their pivot rows is U's column k.
      var i = 0
      while (i < k) {
        val xp = x(pivRow(i))
        if (xp != 0.0) {
          if (nu == uIdx.length) { uIdx = grow(uIdx); uVal = grow(uVal) }
          uIdx(nu) = i; uVal(nu) = xp; nu += 1
          e = lStart(i)
          while (e < lStart(i + 1)) { x(lRow(e)) -= lVal(e) * xp; e += 1 }
        }
        i += 1
      }
      uStart(k + 1) = nu
      var piv = -1
      var best = SingularTol
      var r = 0
      while (r < m) {
        if (!rowDone(r) && math.abs(x(r)) > best) { best = math.abs(x(r)); piv = r }
        r += 1
      }
      if (piv < 0) return false
      pivRow(k) = piv; rowDone(piv) = true; uDiag(k) = x(piv)
      r = 0
      while (r < m) {
        if (!rowDone(r) && x(r) != 0.0) {
          if (nl == lRow.length) { lRow = grow(lRow); lVal = grow(lVal) }
          lRow(nl) = r; lVal(nl) = x(r) / x(piv); nl += 1
        }
        r += 1
      }
      lStart(k + 1) = nl
      k += 1
    }
    true
  }

  /** Replace the column at basis position `pos` by column `enter`, where
    * `w` is ftran of the entering column under the current factor. False
    * when a due refactor finds the new basis singular.
    */
  def pivot(pos: Int, enter: Int, w: Array[Double]): Boolean = {
    basis(pos) = enter
    if (nEta == RefactorEvery - 1) refactor()
    else {
      var ne = etaStart(nEta)
      var i = 0
      while (i < m) {
        if (i != pos && w(i) != 0.0) { etaIdx(ne) = i; etaVal(ne) = w(i); ne += 1 }
        i += 1
      }
      etaPos(nEta) = pos; etaPiv(nEta) = w(pos)
      nEta += 1
      etaStart(nEta) = ne
      true
    }
  }

  /** v := B⁻¹v. On entry v is indexed by row, on return by basis position. */
  def ftran(v: Array[Double]): Unit = {
    var k = 0
    while (k < m) {
      val vp = v(pivRow(k))
      if (vp != 0.0) {
        var e = lStart(k)
        while (e < lStart(k + 1)) { v(lRow(e)) -= lVal(e) * vp; e += 1 }
      }
      k += 1
    }
    k = 0
    while (k < m) { work(k) = v(pivRow(k)); k += 1 }
    k = m - 1
    while (k >= 0) {
      val xk = work(k) / uDiag(k)
      work(k) = xk
      if (xk != 0.0) {
        var e = uStart(k)
        while (e < uStart(k + 1)) { work(uIdx(e)) -= uVal(e) * xk; e += 1 }
      }
      k -= 1
    }
    k = 0
    while (k < m) { v(order(k)) = work(k); k += 1 }
    var t = 0
    while (t < nEta) {
      val r = etaPos(t)
      val xr = v(r) / etaPiv(t)
      v(r) = xr
      if (xr != 0.0) {
        var e = etaStart(t)
        while (e < etaStart(t + 1)) { v(etaIdx(e)) -= etaVal(e) * xr; e += 1 }
      }
      t += 1
    }
  }

  /** v := B⁻ᵀv. On entry v is indexed by basis position, on return by row. */
  def btran(v: Array[Double]): Unit = {
    var t = nEta - 1
    while (t >= 0) {
      val r = etaPos(t)
      var s = v(r)
      var e = etaStart(t)
      while (e < etaStart(t + 1)) { s -= etaVal(e) * v(etaIdx(e)); e += 1 }
      v(r) = s / etaPiv(t)
      t -= 1
    }
    var k = 0
    while (k < m) {
      var s = v(order(k))
      var e = uStart(k)
      while (e < uStart(k + 1)) { s -= uVal(e) * work(uIdx(e)); e += 1 }
      work(k) = s / uDiag(k)
      k += 1
    }
    k = 0
    while (k < m) { v(pivRow(k)) = work(k); k += 1 }
    k = m - 1
    while (k >= 0) {
      var s = v(pivRow(k))
      var e = lStart(k)
      while (e < lStart(k + 1)) { s -= lVal(e) * v(lRow(e)); e += 1 }
      v(pivRow(k)) = s
      k -= 1
    }
  }
}

object BasisFactor {
  /** Basis changes per refactor: the factor is rebuilt on every 32nd change
    * and the 31 changes between are etas.
    */
  val RefactorEvery = 32

  private val SingularTol = 1e-12

  private def grow(a: Array[Int]): Array[Int] = java.util.Arrays.copyOf(a, 2 * a.length)
  private def grow(a: Array[Double]): Array[Double] = java.util.Arrays.copyOf(a, 2 * a.length)
}
