package graft.ml

import org.apache.spark.sql.DataFrame

/** Trainable GRU sequence model with EXACT analytic backpropagation
  * through time — closing the reference's last un-countered capability
  * (`train.py:147-173` + `:239-249`: the neural residual model is
  * TRAINED, not just run forward). Architecture: single-layer GRU over
  * the (steps × features) window → global mean-pool over hidden states →
  * dense head — the recurrent core of the reference's GRU/TFT stack
  * ([[TftNet]] carries the full stack).
  *
  * The cell is [[TftNet]]'s GRU layer (update gate z, reset gate r,
  * candidate via reset-scaled state, h' = (1-z)h + z·c, biases as in the
  * Keras layer). Gradients are derived by hand and pinned against central
  * finite differences in GruNetSpec — the strongest correctness statement
  * available for a backward pass.
  *
  * Training runs through [[Optimizer.fit]], which owns the scale shape
  * (persisted windows, one partition-ordered O(|θ|) gradient pass per
  * epoch, driver-side Adam and callbacks); this module supplies only the
  * per-sample loss and gradient.
  */
object GruNet {

  /** Model dimensions: input width n, hidden units d, output width m. */
  final case class Dims(n: Int, d: Int, m: Int) {
    val wzOff = 0
    val uzOff = wzOff + d * n
    val bzOff = uzOff + d * d
    val wrOff = bzOff + d
    val urOff = wrOff + d * n
    val brOff = urOff + d * d
    val whOff = brOff + d
    val uhOff = whOff + d * n
    val bhOff = uhOff + d * d
    val woOff = bhOff + d
    val boOff = woOff + m * d
    val size: Int = boOff + m
  }

  /** Deterministic seeded init (hash-uniform in ±0.5/√fanIn, biases 0) —
    * each weight is a pure function of (seed, block, position), so it is
    * reproducible across runs and partitionings. */
  def init(dims: Dims, seed: Long): Array[Double] = {
    val a = new Array[Double](dims.size)
    def fill(off: Int, rows: Int, cols: Int, s: Long): Unit = {
      var i = 0
      while (i < rows * cols) {
        var h = seed * 6364136223846793005L + s * 0x9e3779b97f4a7c15L + i + 1442695040888963407L
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        a(off + i) = ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5) / math.sqrt(cols)
        i += 1
      }
    }
    fill(dims.wzOff, dims.d, dims.n, 1); fill(dims.uzOff, dims.d, dims.d, 2)
    fill(dims.wrOff, dims.d, dims.n, 3); fill(dims.urOff, dims.d, dims.d, 4)
    fill(dims.whOff, dims.d, dims.n, 5); fill(dims.uhOff, dims.d, dims.d, 6)
    fill(dims.woOff, dims.m, dims.d, 7)
    a // bias blocks stay 0
  }

  // Row-major mat×vec and matᵀ×vec over slices of the flat parameter array.
  private def mv(w: Array[Double], off: Int, rows: Int, cols: Int,
                 v: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      var s = 0.0; var j = 0
      while (j < cols) { s += w(off + i * cols + j) * v(j); j += 1 }
      out(i) += s
      i += 1
    }
  }

  private def mtv(w: Array[Double], off: Int, rows: Int, cols: Int,
                  v: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      val vi = v(i); var j = 0
      while (j < cols) { out(j) += w(off + i * cols + j) * vi; j += 1 }
      i += 1
    }
  }

  private def outer(g: Array[Double], off: Int, rows: Int, cols: Int,
                    a: Array[Double], b: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      val ai = a(i); var j = 0
      while (j < cols) { g(off + i * cols + j) += ai * b(j); j += 1 }
      i += 1
    }
  }

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  /** Per-step forward cache for BPTT. */
  private final case class Cache(
      zs: Array[Array[Double]], rs: Array[Array[Double]],
      cs: Array[Array[Double]], hs: Array[Array[Double]], // hs(t) = h_{t-1}; hs(T) = h_T
      pooled: Array[Double], yhat: Array[Double])

  private def forwardCached(seq: Array[Array[Double]], w: Array[Double],
                            dims: Dims): Cache = {
    import dims._
    val T = seq.length
    val zs = new Array[Array[Double]](T)
    val rs = new Array[Array[Double]](T)
    val cs = new Array[Array[Double]](T)
    val hs = new Array[Array[Double]](T + 1)
    hs(0) = new Array[Double](d)
    var t = 0
    while (t < T) {
      val x = seq(t); val hp = hs(t)
      val z = new Array[Double](d); val r = new Array[Double](d)
      val c = new Array[Double](d)
      mv(w, wzOff, d, n, x, z); mv(w, uzOff, d, d, hp, z)
      mv(w, wrOff, d, n, x, r); mv(w, urOff, d, d, hp, r)
      var i = 0
      while (i < d) {
        z(i) = sigmoid(z(i) + w(bzOff + i))
        r(i) = sigmoid(r(i) + w(brOff + i))
        i += 1
      }
      val hr = new Array[Double](d)
      i = 0; while (i < d) { hr(i) = hp(i) * r(i); i += 1 }
      mv(w, whOff, d, n, x, c); mv(w, uhOff, d, d, hr, c)
      val h = new Array[Double](d)
      i = 0
      while (i < d) {
        c(i) = math.tanh(c(i) + w(bhOff + i))
        h(i) = (1 - z(i)) * hp(i) + z(i) * c(i)
        i += 1
      }
      zs(t) = z; rs(t) = r; cs(t) = c; hs(t + 1) = h
      t += 1
    }
    val pooled = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0; t = 0
      while (t < T) { s += hs(t + 1)(i); t += 1 }
      pooled(i) = s / T
      i += 1
    }
    val yhat = new Array[Double](m)
    mv(w, woOff, m, d, pooled, yhat)
    i = 0; while (i < m) { yhat(i) += w(boOff + i); i += 1 }
    Cache(zs, rs, cs, hs, pooled, yhat)
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
    * (exact BPTT — no truncation; the window length is the truncation). */
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
    val dhPool = new Array[Double](d)
    i = 0; while (i < d) { dhPool(i) = dp(i) / T; i += 1 }
    // BPTT
    var dhNext = new Array[Double](d)
    var t = T - 1
    while (t >= 0) {
      val x = seq(t); val hp = cache.hs(t)
      val z = cache.zs(t); val r = cache.rs(t); val c = cache.cs(t)
      val g = new Array[Double](d)
      i = 0; while (i < d) { g(i) = dhNext(i) + dhPool(i); i += 1 }
      val dz = new Array[Double](d); val dc = new Array[Double](d)
      i = 0
      while (i < d) {
        dz(i) = g(i) * (c(i) - hp(i)) * z(i) * (1 - z(i))
        dc(i) = g(i) * z(i) * (1 - c(i) * c(i))
        i += 1
      }
      val hr = new Array[Double](d)
      i = 0; while (i < d) { hr(i) = hp(i) * r(i); i += 1 }
      outer(grad, whOff, d, n, dc, x)
      outer(grad, uhOff, d, d, dc, hr)
      i = 0; while (i < d) { grad(bhOff + i) += dc(i); i += 1 }
      val dhr = new Array[Double](d)
      mtv(w, uhOff, d, d, dc, dhr)
      val dr = new Array[Double](d)
      i = 0
      while (i < d) {
        dr(i) = dhr(i) * hp(i) * r(i) * (1 - r(i))
        i += 1
      }
      outer(grad, wzOff, d, n, dz, x)
      outer(grad, uzOff, d, d, dz, hp)
      i = 0; while (i < d) { grad(bzOff + i) += dz(i); i += 1 }
      outer(grad, wrOff, d, n, dr, x)
      outer(grad, urOff, d, d, dr, hp)
      i = 0; while (i < d) { grad(brOff + i) += dr(i); i += 1 }
      val dhPrev = new Array[Double](d)
      mtv(w, uzOff, d, d, dz, dhPrev)
      mtv(w, urOff, d, d, dr, dhPrev)
      i = 0
      while (i < d) {
        dhPrev(i) += g(i) * (1 - z(i)) + dhr(i) * r(i)
        i += 1
      }
      dhNext = dhPrev
      t -= 1
    }
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
