package graft.ml.tuning

import breeze.linalg.{DenseMatrix, DenseVector}

/** Stationary covariance kernels for the Gaussian-process surrogate
  * (reference photon-lib/.../hyperparameter/estimators/kernels/
  * StationaryKernel.scala:35-, RBF.scala, Matern52.scala).
  *
  * All matrix math is driver-side (breeze vectors, the [[GpMath]]
  * Cholesky) over at most a few hundred observations —
  * hyperparameter tuning observes one point per full
  * distributed training run, so the GP itself is intentionally tiny.
  */
sealed trait Kernel {
  def amplitude: Double
  def noise: Double
  def lengthScale: Double

  def withParams(amplitude: Double, noise: Double, lengthScale: Double): Kernel

  /** k(r) from the scaled distance r = ||x1 - x2|| / lengthScale. */
  protected def fromScaledDistance(r: Double): Double

  /** Cross-covariance (no noise term). */
  def cov(x1: DenseMatrix[Double], x2: DenseMatrix[Double])
  : DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](x1.rows, x2.rows)
    var i = 0
    while (i < x1.rows) {
      var j = 0
      while (j < x2.rows) {
        var d2 = 0.0
        var k = 0
        while (k < x1.cols) {
          val d = x1(i, k) - x2(j, k); d2 += d * d; k += 1
        }
        out(i, j) = amplitude * fromScaledDistance(math.sqrt(d2) / lengthScale)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Training Gram matrix: cov + (noise + jitter)·I. */
  def gram(x: DenseMatrix[Double]): DenseMatrix[Double] = {
    val g = cov(x, x)
    var i = 0
    while (i < x.rows) { g(i, i) += noise + 1e-9; i += 1 }
    g
  }

  /** Log marginal likelihood of (x, y) under this kernel via Cholesky:
    * −½·yᵀK⁻¹y − Σ log Lᵢᵢ − n/2·log 2π
    * (StationaryKernel.logLikelihood, StationaryKernel.scala:106-129). */
  def logMarginalLikelihood(x: DenseMatrix[Double],
                            y: DenseVector[Double]): Double = {
    val n = x.rows
    val l = GpMath.cholesky(gram(x).toArray, n)
    val alpha = DenseVector(GpMath.cholSolve(l, n, y.toArray))
    var logDet = 0.0
    var i = 0
    while (i < n) { logDet += math.log(l(i + i * n)); i += 1 }
    -0.5 * (y dot alpha) - logDet - 0.5 * n * math.log(2 * math.Pi)
  }
}

/** Squared-exponential kernel (RBF.scala:44-56). */
case class Rbf(amplitude: Double = 1.0, noise: Double = 1e-4,
               lengthScale: Double = 1.0) extends Kernel {
  protected def fromScaledDistance(r: Double): Double =
    math.exp(-0.5 * r * r)
  def withParams(a: Double, n: Double, l: Double): Kernel = Rbf(a, n, l)
}

/** Matérn 5/2 — the default surrogate kernel, smoother-than-exponential
  * but not infinitely smooth like RBF (Matern52.scala:44-66). */
case class Matern52(amplitude: Double = 1.0, noise: Double = 1e-4,
                    lengthScale: Double = 1.0) extends Kernel {
  protected def fromScaledDistance(r: Double): Double = {
    val s = math.sqrt(5) * r
    (1.0 + s + s * s / 3.0) * math.exp(-s)
  }
  def withParams(a: Double, n: Double, l: Double): Kernel = Matern52(a, n, l)
}

private[ml] object GpMath {
  /** Lower Cholesky factor L (L·Lᵀ = A) of the symmetric n×n matrix `a`,
    * both column-major; only A's lower triangle is read. Column by
    * column in the operation order of LAPACK's unblocked dpotf2 (the
    * pivot's dot product summed first, the column scaled by the
    * pivot's reciprocal), so a system at the edge of singularity is
    * accepted or rejected as LAPACK would. Plain JVM arithmetic on
    * purpose: breeze's `cholesky` goes through netlib LAPACK, whose
    * first call in a JVM costs seconds when it falls back to F2J — more
    * than every normal-equations solve of a GAME run together. Throws
    * when A is not positive definite (a pivot ≤ 0 or NaN). */
  def cholesky(a: Array[Double], n: Int): Array[Double] = {
    val l = new Array[Double](n * n)
    var j = 0
    while (j < n) {
      var dot = 0.0
      var k = 0
      while (k < j) { val v = l(j + k * n); dot += v * v; k += 1 }
      val d = a(j + j * n) - dot
      if (!(d > 0)) throw new ArithmeticException(
        s"matrix is not positive definite (pivot $j of $n)")
      val ljj = math.sqrt(d)
      l(j + j * n) = ljj
      val r = 1.0 / ljj
      var i = j + 1
      while (i < n) {
        var s = a(i + j * n)
        k = 0
        while (k < j) { s += -l(j + k * n) * l(i + k * n); k += 1 }
        l(i + j * n) = s * r
        i += 1
      }
      j += 1
    }
    l
  }

  /** Forward substitution L·z = y, L an n×n factor from [[cholesky]]. */
  def forwardSolve(l: Array[Double], n: Int, y: Array[Double])
  : Array[Double] = {
    val z = y.clone()
    var i = 0
    while (i < n) {
      var s = z(i)
      var j = 0
      while (j < i) { s -= l(i + j * n) * z(j); j += 1 }
      z(i) = s / l(i + i * n)
      i += 1
    }
    z
  }

  /** Solve K·z = y given L = chol(K): forward then back substitution. */
  def cholSolve(l: Array[Double], n: Int, y: Array[Double])
  : Array[Double] = {
    val z = forwardSolve(l, n, y)
    var i = n - 1
    while (i >= 0) { // Lᵀ·z = u
      var s = z(i)
      var j = i + 1
      while (j < n) { s -= l(j + i * n) * z(j); j += 1 }
      z(i) = s / l(i + i * n)
      i -= 1
    }
    z
  }

  def stdNormPdf(x: Double): Double =
    math.exp(-0.5 * x * x) / math.sqrt(2 * math.Pi)

  def stdNormCdf(x: Double): Double =
    0.5 * (1.0 + erf(x / math.sqrt(2.0)))

  /** Abramowitz–Stegun 7.1.26 rational approximation (|err| < 1.5e-7). */
  private def erf(x: Double): Double = {
    val sign = if (x < 0) -1.0 else 1.0
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * ax)
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741)
      * t - 0.284496736) * t + 0.254829592) * t * math.exp(-ax * ax)
    sign * y
  }
}
