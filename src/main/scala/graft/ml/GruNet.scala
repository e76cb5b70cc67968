package graft.ml

import org.apache.spark.sql.DataFrame

import Layers.{GruOffs, mtv, mv, outer}

/** Trainable GRU sequence model with EXACT analytic backpropagation
  * through time — closing the reference's last un-countered capability
  * (`train.py:147-173` + `:239-249`: the neural residual model is
  * TRAINED, not just run forward). Architecture: single-layer GRU over
  * the (steps × features) window → global mean-pool over hidden states →
  * dense head — the recurrent core of the reference's GRU/TFT stack
  * ([[TftNet]] carries the full stack).
  *
  * The GRU layer, its BPTT and the init are the shared [[Layers]] kernels
  * [[TftNet]] also runs (update gate z, reset gate r, candidate via
  * reset-scaled state, h' = (1-z)h + z·c, biases as in the Keras layer);
  * this module adds the mean-pool and the dense head. Gradients are
  * pinned against central finite differences in GruNetSpec and bit for
  * bit in NetBitsSpec.
  *
  * Training runs through [[Optimizer.fit]], which owns the scale shape
  * (persisted windows, one partition-ordered O(|θ|) gradient pass per
  * epoch, driver-side Adam and callbacks); this module supplies only the
  * per-sample loss and gradient.
  */
object GruNet {

  /** Model dimensions: input width n, hidden units d, output width m. The
    * GRU layer's blocks come first, then the head's Wo (m × d) and bo. */
  final case class Dims(n: Int, d: Int, m: Int) {
    val gru: GruOffs = GruOffs.at(0, n, d)
    val woOff: Int = gru.end
    val boOff: Int = woOff + m * d
    val size: Int = boOff + m
  }

  /** Deterministic seeded init ([[Layers.Filler]]: salts 1–6 for the GRU
    * matrices, 7 for the head; biases 0). */
  def init(dims: Dims, seed: Long): Array[Double] = {
    val f = new Layers.Filler(new Array[Double](dims.size), seed)
    f.gru(dims.gru)
    f.fill(dims.woOff, dims.m, dims.d)
    f.a
  }

  private final class Cache(val gru: Layers.GruCache, val pooled: Array[Double],
                            val yhat: Array[Double])

  private def forwardCached(seq: Array[Array[Double]], w: Array[Double],
                            dims: Dims): Cache = {
    import dims._
    val T = seq.length
    val c = Layers.gruForward(seq, w, gru)
    val pooled = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0; var t = 0
      while (t < T) { s += c.hs(t + 1)(i); t += 1 }
      pooled(i) = s / T
      i += 1
    }
    val yhat = new Array[Double](m)
    mv(w, woOff, m, d, pooled, yhat)
    i = 0; while (i < m) { yhat(i) += w(boOff + i); i += 1 }
    new Cache(c, pooled, yhat)
  }

  /** Forward pass only (inference / loss evaluation). */
  def predict(seq: Array[Array[Double]], w: Array[Double], dims: Dims): Array[Double] =
    forwardCached(seq, w, dims).yhat

  /** Raw Huber loss of one sample (sum over outputs, no normalization). */
  def lossSample(seq: Array[Array[Double]], y: Array[Double],
                 w: Array[Double], dims: Dims, delta: Double): Double = {
    val yh = predict(seq, w, dims)
    Optimizer.huberHead(yh, y, delta, new Array[Double](yh.length))
  }

  /** One sample's raw loss, with its raw gradient ACCUMULATED into `grad`
    * (exact BPTT; the window's input gradient is discarded). */
  def lossGradSample(seq: Array[Array[Double]], y: Array[Double],
                     w: Array[Double], dims: Dims, delta: Double,
                     grad: Array[Double]): Double = {
    import dims._
    val T = seq.length
    val cache = forwardCached(seq, w, dims)
    val dy = new Array[Double](m)
    val loss = Optimizer.huberHead(cache.yhat, y, delta, dy)
    // Head: ŷ = Wo·p + bo
    outer(grad, woOff, m, d, dy, cache.pooled)
    var i = 0; while (i < m) { grad(boOff + i) += dy(i); i += 1 }
    val dp = new Array[Double](d)
    mtv(w, woOff, m, d, dy, dp)
    // The mean-pool feeds every step's hidden state the same dp / T.
    val dhPool = new Array[Double](d)
    i = 0; while (i < d) { dhPool(i) = dp(i) / T; i += 1 }
    Layers.gruBackward(seq, cache.gru, w, gru, Array.fill(T)(dhPool), grad)
    loss
  }

  /** Train on the `split = 'train'` windows of a frame carrying
    * `x: array<array<double>>` (steps × features), `y: array<double>`,
    * and `split`, validating on `split = 'val'`. */
  def fit(windows: DataFrame, dims: Dims, cfg: Trainer.Config = Trainer.Config(),
          seed: Long = 1234L): Optimizer.TrainedNet[Dims] =
    Optimizer.fit(windows, init(dims, seed), dims.m, cfg)(Optimizer.windowSample)(
      w => { case ((xs, ys), g) => lossGradSample(xs, ys, w, dims, cfg.huberDelta, g) },
      w => { case (xs, ys) => lossSample(xs, ys, w, dims, cfg.huberDelta) })
      .withDims(dims)
}
