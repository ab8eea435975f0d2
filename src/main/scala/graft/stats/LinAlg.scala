package graft.stats

import breeze.linalg.{DenseMatrix, cholesky, inv}

/** Driver-side d×d linear algebra (d ≤ ~40; distributing this would be
  * anti-idiomatic — SURVEY.md §4.2). Mirrors the reference's factorization
  * routes: Cholesky for SPD inverses (chol2inv), LU for the non-symmetric
  * bread (helpers.R:1-5).
  */
object LinAlg {

  def fromFlat(flat: Seq[Double], p: Int, q: Int): DenseMatrix[Double] = {
    // our aggregates emit row-major; Breeze stores column-major
    val m = DenseMatrix.zeros[Double](p, q)
    var i = 0
    while (i < p) { var j = 0; while (j < q) { m(i, j) = flat(i * q + j); j += 1 }; i += 1 }
    m
  }

  /** chol2inv(chol(x)) — SPD inverse via Cholesky (etwcls.R:169). */
  def cholInv(a: DenseMatrix[Double]): DenseMatrix[Double] = {
    val l = cholesky(a)
    val li = inv(l)
    li.t * li
  }

  /** helpers.R:1-5: solve(H, t(chol(meat))) → tcrossprod → dof scale.
    * R's chol() is upper-triangular U with UᵀU = meat, so t(chol) is the
    * lower factor — Breeze cholesky returns exactly that lower L.
    */
  def sandwichStep(hessian: DenseMatrix[Double], meat: DenseMatrix[Double],
                   nUsers: Int, d: Int): DenseMatrix[Double] = {
    val lower = cholesky(meat)
    val half = hessian \ lower
    (half * half.t) * (nUsers.toDouble / (nUsers - d).toDouble)
  }

}
