package graft.ml.tuning

import breeze.linalg.{DenseMatrix, DenseVector}

/** Fitted GP posterior over observed (x, y) with a fixed kernel
  * (reference GaussianProcessModel.scala:34-120). Predictions are the
  * standard Cholesky identities:
  *   μ(x*) = k*ᵀ K⁻¹ y,   σ²(x*) = k(x*,x*) − ‖L⁻¹k*‖².
  */
class GpModel(kernel: Kernel, x: DenseMatrix[Double], yMean: Double,
              y: DenseVector[Double]) {
  private val n = x.rows
  private val l = GpMath.cholesky(kernel.gram(x).toArray, n)
  private val alpha = DenseVector(GpMath.cholSolve(l, n, (y - yMean).toArray))

  /** (mean, variance) at one point. */
  def predict(xs: DenseVector[Double]): (Double, Double) = {
    val xm = xs.toDenseMatrix
    val kStar = kernel.cov(x, xm).toDenseVector
    val mean = yMean + (kStar dot alpha)
    val v = DenseVector(GpMath.forwardSolve(l, n, kStar.toArray))
    val varPrior = kernel.cov(xm, xm)(0, 0)
    (mean, math.max(1e-12, varPrior - (v dot v)))
  }

  def kernelUsed: Kernel = kernel
}

/** GP estimator: kernel hyperparameters (amplitude, noise, length scale)
  * drawn from their log posterior by slice sampling in log space, then an
  * ensemble of GP models — predictions average over the kernel samples
  * (reference GaussianProcessEstimator.scala:54-160, which slice-samples
  * the same three groups).
  */
class GpEstimator(base: Kernel = Matern52(), nSamples: Int = 3,
                  nBurnIn: Int = 10, seed: Long = 1L) {

  def fit(xs: Seq[DenseVector[Double]], ys: Seq[Double]): GpEnsemble = {
    val x = DenseMatrix(xs.map(_.toArray): _*)
    val y = DenseVector(ys.toArray)
    val yMean = breeze.stats.mean(y)
    val yc = y - yMean

    def logp(theta: DenseVector[Double]): Double = {
      // theta = log(amplitude), log(noise), log(lengthScale)
      if (theta.toArray.exists(t => t < -15 || t > 15)) return -1e30
      val k = base.withParams(math.exp(theta(0)), math.exp(theta(1)),
        math.exp(theta(2)))
      try k.logMarginalLikelihood(x, yc) -
        0.01 * (theta dot theta) // weak log-normal prior regularization
      catch { case _: ArithmeticException |
                   _: IllegalArgumentException => -1e30 }
    }

    val yVar = breeze.stats.variance(yc) + 1e-12
    val init = DenseVector(math.log(yVar), math.log(yVar * 0.01 + 1e-8),
      0.0)
    val sampler = new SliceSampler(seed)
    val chain = sampler.chain(init, nBurnIn + nSamples, logp)
    val kernels = chain.takeRight(nSamples).map(t =>
      base.withParams(math.exp(t(0)), math.exp(t(1)), math.exp(t(2))))
    new GpEnsemble(kernels.map(k => new GpModel(k, x, yMean, y)))
  }
}

/** Average of GP posteriors over sampled kernels. */
class GpEnsemble(models: Seq[GpModel]) {
  def predict(xs: DenseVector[Double]): (Double, Double) = {
    val preds = models.map(_.predict(xs))
    val mean = preds.map(_._1).sum / preds.size
    // law of total variance across the ensemble
    val v = preds.map { case (m, s2) =>
      s2 + (m - mean) * (m - mean)
    }.sum / preds.size
    (mean, v)
  }
}

/** Acquisition criteria (reference criteria/ExpectedImprovement.scala:32-71,
  * criteria/ConfidenceBound.scala). All phrased for MINIMIZATION of the
  * evaluation value. */
object Acquisition {
  /** Expected improvement below the incumbent best. */
  def expectedImprovement(best: Double)(mean: Double, variance: Double)
  : Double = {
    val sigma = math.sqrt(variance)
    if (sigma < 1e-12) math.max(0.0, best - mean)
    else {
      val z = (best - mean) / sigma
      (best - mean) * GpMath.stdNormCdf(z) + sigma * GpMath.stdNormPdf(z)
    }
  }

  /** Lower confidence bound (to MINIMIZE): μ − κσ. */
  def lowerConfidenceBound(kappa: Double = 2.0)
                          (mean: Double, variance: Double): Double =
    -(mean - kappa * math.sqrt(variance)) // negated: callers maximize acq
}
