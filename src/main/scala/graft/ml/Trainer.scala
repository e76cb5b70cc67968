package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.DataFrame

/** Distributed linear trainer — the reference trainer's loop mechanics
  * (`train.py:239-249`: Huber loss, Adam, `EarlyStopping(patience,
  * restore_best_weights)`, `ReduceLROnPlateau(factor, patience)`) over the
  * same lagged design matrix the VAR fit uses. The model is the
  * multi-output linear forecaster ŷ = W·[1, x] (the VAR shape); the neural
  * residual models ([[GruNet]], [[TftNet]]) train through the same loop.
  *
  * This object holds the loop's [[Config]] and [[EpochLog]] shared by
  * every trainer; the loop itself and its scale shape (persisted rows,
  * one partition-ordered O(dim·k) gradient pass per epoch, driver-side
  * Adam moments and callbacks) live in [[Optimizer.fit]].
  */
object Trainer {

  /** Loop hyperparameters — names mirror the reference's callbacks. */
  final case class Config(
      lr: Double = 0.01,
      beta1: Double = 0.9,
      beta2: Double = 0.999,
      adamEps: Double = 1e-8,
      huberDelta: Double = 1.0,
      maxEpochs: Int = 200,
      patience: Int = 10, // EarlyStopping
      minDelta: Double = 1e-6, // improvement threshold for both callbacks
      plateauPatience: Int = 5, // ReduceLROnPlateau
      plateauFactor: Double = 0.5,
      minLr: Double = 1e-5)

  final case class EpochLog(epoch: Int, trainLoss: Double, valLoss: Double, lr: Double)

  /** Fit result: best-epoch weights (restore_best_weights semantics), the
    * full per-epoch history, and why the loop ended. */
  final case class Trained(
      model: TimeSeries.VarModel,
      history: Seq[EpochLog],
      stoppedEarly: Boolean,
      bestEpoch: Int,
      bestValLoss: Double)

  /** Raw Huber loss of one sample under ŷ = W·[1, x], with its raw
    * gradient ψ(r) ⊗ x̃ accumulated into `grad` column-major — breeze's
    * own layout, so the flat weights are the matrix's storage. An empty
    * `grad` makes it a loss-only evaluation. */
  private def lossGradSample(w: DenseMatrix[Double], xs: Array[Double],
                             ys: Array[Double], delta: Double,
                             grad: Array[Double]): Double = {
    val dim = w.rows
    val x = DenseVector(1.0 +: xs)
    val dy = new Array[Double](dim)
    val loss = Optimizer.huberHead((w * x).toArray, ys, delta, dy)
    var j = 0
    while (j < grad.length / dim) {
      var i = 0; while (i < dim) { grad(j * dim + i) += dy(i) * x(j); i += 1 }
      j += 1
    }
    loss
  }

  /** Train on the `split = 'train'` rows of a lagged design frame
    * (TimeSeries.lagDesign output + split column), validating per epoch on
    * `split = 'val'`. */
  def fit(lagged: DataFrame, p: Int, dim: Int,
          cfg: Config = Config()): Trained = {
    val k = 1 + dim * p
    def unflat(a: Array[Double]) = new DenseMatrix(dim, k, a.clone())
    val ff = Optimizer.fit(lagged, new Array[Double](dim * k), dim, cfg)(
      r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))(
      wf => {
        val w = unflat(wf)
        (s, g) => lossGradSample(w, s._1, s._2, cfg.huberDelta, g)
      },
      wf => {
        val w = unflat(wf)
        s => lossGradSample(w, s._1, s._2, cfg.huberDelta, Array.emptyDoubleArray)
      })
    Trained(TimeSeries.VarModel(p, dim, unflat(ff.weights)), ff.history,
      ff.stoppedEarly, ff.bestEpoch, ff.bestValLoss)
  }
}
