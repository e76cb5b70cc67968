package graft.ml

import org.apache.spark.sql.DataFrame

import Layers.{GruCache, GruOffs, gruBackward, gruForward, mtv, mv, outer, sigmoid}

/** The reference's FULL hybrid architecture, trainable end-to-end with
  * EXACT analytic backpropagation (`train.py:115-173`):
  *
  *   per-step GatedResidualNetwork → GRU → GRU → MultiHeadAttention
  *   → residual LayerNorm → GlobalAveragePooling1D
  *   → GatedResidualNetwork → Dense
  *
  * [[GruNet]] closed the recurrence; this module closes the rest of the
  * stack — the GRN's ELU/GLU-gate/skip/LayerNorm chain, scaled-dot
  * softmax attention across all four heads, and the learnable LayerNorm
  * scale/offset the Keras layers carry. Both GRU layers, the flat-array
  * kernels and the seeded init are the shared [[Layers]] object that
  * [[GruNet]] runs too; GRN, attention and LayerNorm live here. Every
  * partial derivative is derived by hand and pinned against central
  * finite differences in TftNetSpec, the same contract GruNetSpec
  * established, and bit for bit in NetBitsSpec.
  *
  * Faithfulness notes: the GRN gate reads the layer INPUT (`train.py:133`:
  * `x_val * self.gate(x)`), and both GRU layers of the reference are
  * present (`train.py:158-160`). Dropout (a train-time regularizer,
  * `train.py:121,158`) is run at rate 0: the engine's bit-exact
  * determinism contract forbids per-step random masks, and at rate 0 the
  * layer is the identity Keras applies at inference.
  *
  * [[predict]] is the engine's one forward pass for this stack: the
  * trained hybrid queries score with fitted weights, and the fixed-weight
  * inference queries with [[init]] weights at the reference's scaled-down
  * widths. Training runs through [[Optimizer.fit]] (persisted windows, one
  * partition-ordered O(|θ|) gradient pass per epoch, driver-side Adam and
  * callbacks); this module supplies only the per-sample loss and gradient.
  */
object TftNet {

  /** Offsets of one GRN's blocks; `ws`/`bs` are -1 when the skip is the
    * identity (input width == output width, `train.py:126-130`). */
  final case class GrnOffs(w1: Int, b1: Int, w2: Int, b2: Int, wg: Int, bg: Int,
                           ws: Int, bs: Int, gam: Int, bet: Int, nIn: Int, dOut: Int) {
    def proj: Boolean = ws >= 0
  }

  /** Model dimensions: input width n → GRN(g1) → GRU(d1) → GRU(d2) →
    * attention(heads × kd = d2) → GRN(g2) → Dense(m). */
  final case class Dims(n: Int, g1: Int, d1: Int, d2: Int, heads: Int,
                        g2: Int, m: Int) {
    val kd: Int = d2 / heads
    require(heads * kd == d2, s"d2=$d2 must be divisible by heads=$heads")

    private[this] var acc = 0
    private def alloc(k: Int): Int = { val o = acc; acc += k; o }
    private def allocGrn(nIn: Int, dOut: Int): GrnOffs = {
      val w1 = alloc(dOut * nIn); val b1 = alloc(dOut)
      val w2 = alloc(dOut * dOut); val b2 = alloc(dOut)
      val wg = alloc(dOut * nIn); val bg = alloc(dOut)
      val ws = if (nIn == dOut) -1 else alloc(dOut * nIn)
      val bs = if (nIn == dOut) -1 else alloc(dOut)
      GrnOffs(w1, b1, w2, b2, wg, bg, ws, bs, alloc(dOut), alloc(dOut), nIn, dOut)
    }
    private def allocGru(nIn: Int, d: Int): GruOffs = {
      val o = GruOffs.at(acc, nIn, d); acc = o.end; o
    }

    val oGrn1: GrnOffs = allocGrn(n, g1)
    val oGru1: GruOffs = allocGru(g1, d1)
    val oGru2: GruOffs = allocGru(d1, d2)
    // Attention: Q/K/V per head stacked into one (heads·kd) × d2 block each.
    val aWq: Int = alloc(heads * kd * d2); val aBq: Int = alloc(heads * kd)
    val aWk: Int = alloc(heads * kd * d2); val aBk: Int = alloc(heads * kd)
    val aWv: Int = alloc(heads * kd * d2); val aBv: Int = alloc(heads * kd)
    val aWo: Int = alloc(d2 * heads * kd); val aBo: Int = alloc(d2)
    val lnGam: Int = alloc(d2); val lnBet: Int = alloc(d2)
    val oGrn2: GrnOffs = allocGrn(d2, g2)
    val hW: Int = alloc(m * g2); val hB: Int = alloc(m)
    val size: Int = acc
  }

  /** Deterministic seeded init ([[Layers.Filler]], one salt per matrix
    * block in layout order): LayerNorm scales 1, biases and offsets 0. */
  def init(dims: Dims, seed: Long): Array[Double] = {
    val f = new Layers.Filler(new Array[Double](dims.size), seed)
    val a = f.a
    def fillGrn(o: GrnOffs): Unit = {
      f.fill(o.w1, o.dOut, o.nIn); f.fill(o.w2, o.dOut, o.dOut)
      f.fill(o.wg, o.dOut, o.nIn); f.fill(o.ws, o.dOut, o.nIn)
      var i = 0; while (i < o.dOut) { a(o.gam + i) = 1.0; i += 1 }
    }
    fillGrn(dims.oGrn1)
    f.gru(dims.oGru1); f.gru(dims.oGru2)
    f.fill(dims.aWq, dims.heads * dims.kd, dims.d2)
    f.fill(dims.aWk, dims.heads * dims.kd, dims.d2)
    f.fill(dims.aWv, dims.heads * dims.kd, dims.d2)
    f.fill(dims.aWo, dims.d2, dims.heads * dims.kd)
    var i = 0; while (i < dims.d2) { a(dims.lnGam + i) = 1.0; i += 1 }
    fillGrn(dims.oGrn2)
    f.fill(dims.hW, dims.m, dims.g2)
    a
  }

  private def elu(x: Double) = if (x >= 0) x else math.exp(x) - 1

  // ---- LayerNorm with learnable scale/offset -----------------------------

  private val LnEps = 1e-6

  /** y_i = γ_i·x̂_i + β_i with x̂ = (x-μ)/σ, σ = √(var+ε); fills `xhat` and
    * `out`, returns σ for the backward pass. */
  private def lnForward(x: Array[Double], w: Array[Double], gam: Int, bet: Int,
                        xhat: Array[Double], out: Array[Double]): Double = {
    val k = x.length
    var mu = 0.0; var i = 0
    while (i < k) { mu += x(i); i += 1 }
    mu /= k
    var va = 0.0; i = 0
    while (i < k) { val d = x(i) - mu; va += d * d; i += 1 }
    val sig = math.sqrt(va / k + LnEps)
    i = 0
    while (i < k) {
      xhat(i) = (x(i) - mu) / sig
      out(i) = w(gam + i) * xhat(i) + w(bet + i)
      i += 1
    }
    sig
  }

  /** dx_i = (t_i − mean(t) − x̂_i·mean(t∘x̂))/σ with t = dy∘γ — exact
    * including the ε inside σ (∂σ/∂x_j = x̂_j/k). */
  private def lnBackward(dy: Array[Double], xhat: Array[Double], sig: Double,
                         w: Array[Double], gam: Int, bet: Int,
                         grad: Array[Double]): Array[Double] = {
    val k = dy.length
    val t = new Array[Double](k)
    var m1 = 0.0; var m2 = 0.0
    var i = 0
    while (i < k) {
      grad(gam + i) += dy(i) * xhat(i)
      grad(bet + i) += dy(i)
      t(i) = dy(i) * w(gam + i)
      m1 += t(i); m2 += t(i) * xhat(i)
      i += 1
    }
    m1 /= k; m2 /= k
    val dx = new Array[Double](k)
    i = 0
    while (i < k) { dx(i) = (t(i) - m1 - xhat(i) * m2) / sig; i += 1 }
    dx
  }

  // ---- GatedResidualNetwork ----------------------------------------------

  private final class GrnCache(val x: Array[Double], val q: Array[Double],
                               val h: Array[Double], val a: Array[Double],
                               val gate: Array[Double], val xhat: Array[Double],
                               val sig: Double, val out: Array[Double])

  private def grnForward(x: Array[Double], w: Array[Double], o: GrnOffs): GrnCache = {
    val dOut = o.dOut
    val q = new Array[Double](dOut)
    mv(w, o.w1, dOut, o.nIn, x, q)
    var i = 0; while (i < dOut) { q(i) += w(o.b1 + i); i += 1 }
    val h = new Array[Double](dOut)
    i = 0; while (i < dOut) { h(i) = elu(q(i)); i += 1 }
    val a = new Array[Double](dOut)
    mv(w, o.w2, dOut, dOut, h, a)
    i = 0; while (i < dOut) { a(i) += w(o.b2 + i); i += 1 }
    val gate = new Array[Double](dOut)
    mv(w, o.wg, dOut, o.nIn, x, gate)
    i = 0; while (i < dOut) { gate(i) = sigmoid(gate(i) + w(o.bg + i)); i += 1 }
    val sum = new Array[Double](dOut)
    if (o.proj) {
      mv(w, o.ws, dOut, o.nIn, x, sum)
      i = 0; while (i < dOut) { sum(i) += w(o.bs + i); i += 1 }
    } else {
      i = 0; while (i < dOut) { sum(i) = x(i); i += 1 }
    }
    i = 0; while (i < dOut) { sum(i) += a(i) * gate(i); i += 1 }
    val xhat = new Array[Double](dOut)
    val out = new Array[Double](dOut)
    val sig = lnForward(sum, w, o.gam, o.bet, xhat, out)
    new GrnCache(x, q, h, a, gate, xhat, sig, out)
  }

  private def grnBackward(c: GrnCache, w: Array[Double], o: GrnOffs,
                          dy: Array[Double], grad: Array[Double]): Array[Double] = {
    val dOut = o.dOut
    val dsum = lnBackward(dy, c.xhat, c.sig, w, o.gam, o.bet, grad)
    val dx = new Array[Double](o.nIn)
    if (o.proj) {
      outer(grad, o.ws, dOut, o.nIn, dsum, c.x)
      var i = 0; while (i < dOut) { grad(o.bs + i) += dsum(i); i += 1 }
      mtv(w, o.ws, dOut, o.nIn, dsum, dx)
    } else {
      var i = 0; while (i < dOut) { dx(i) += dsum(i); i += 1 }
    }
    val da = new Array[Double](dOut)
    val dgp = new Array[Double](dOut)
    var i = 0
    while (i < dOut) {
      da(i) = dsum(i) * c.gate(i)
      dgp(i) = dsum(i) * c.a(i) * c.gate(i) * (1 - c.gate(i))
      i += 1
    }
    outer(grad, o.wg, dOut, o.nIn, dgp, c.x)
    i = 0; while (i < dOut) { grad(o.bg + i) += dgp(i); i += 1 }
    mtv(w, o.wg, dOut, o.nIn, dgp, dx)
    outer(grad, o.w2, dOut, dOut, da, c.h)
    i = 0; while (i < dOut) { grad(o.b2 + i) += da(i); i += 1 }
    val dh = new Array[Double](dOut)
    mtv(w, o.w2, dOut, dOut, da, dh)
    val dq = new Array[Double](dOut)
    i = 0
    while (i < dOut) {
      // elu'(q) = 1 for q ≥ 0, else e^q = h + 1 (reuse the cached output)
      dq(i) = dh(i) * (if (c.q(i) >= 0) 1.0 else c.h(i) + 1.0)
      i += 1
    }
    outer(grad, o.w1, dOut, o.nIn, dq, c.x)
    i = 0; while (i < dOut) { grad(o.b1 + i) += dq(i); i += 1 }
    mtv(w, o.w1, dOut, o.nIn, dq, dx)
    dx
  }

  // ---- Multi-head scaled-dot self-attention ------------------------------

  private[graft] final class AttCache(val qs: Array[Array[Array[Double]]],
                                      val ks: Array[Array[Array[Double]]],
                                      val vs: Array[Array[Array[Double]]],
                                      val alph: Array[Array[Array[Double]]],
                                      val u: Array[Array[Double]],
                                      val y: Array[Array[Double]])

  private[graft] def attForward(seq: Array[Array[Double]], w: Array[Double],
                                dims: Dims): AttCache = {
    import dims.{heads, kd, d2}
    val T = seq.length
    val scale = 1.0 / math.sqrt(kd)
    val qs = Array.ofDim[Array[Double]](heads, T)
    val ks = Array.ofDim[Array[Double]](heads, T)
    val vs = Array.ofDim[Array[Double]](heads, T)
    val alph = Array.ofDim[Array[Double]](heads, T)
    var h = 0
    while (h < heads) {
      val wq = dims.aWq + h * kd * d2; val bq = dims.aBq + h * kd
      val wk = dims.aWk + h * kd * d2; val bk = dims.aBk + h * kd
      val wv = dims.aWv + h * kd * d2; val bv = dims.aBv + h * kd
      var i = 0
      while (i < T) {
        val q = new Array[Double](kd); val k = new Array[Double](kd)
        val v = new Array[Double](kd)
        mv(w, wq, kd, d2, seq(i), q); mv(w, wk, kd, d2, seq(i), k)
        mv(w, wv, kd, d2, seq(i), v)
        var c = 0
        while (c < kd) {
          q(c) += w(bq + c); k(c) += w(bk + c); v(c) += w(bv + c)
          c += 1
        }
        qs(h)(i) = q; ks(h)(i) = k; vs(h)(i) = v
        i += 1
      }
      i = 0
      while (i < T) {
        val s = new Array[Double](T)
        var mx = Double.NegativeInfinity
        var j = 0
        while (j < T) {
          var dot = 0.0; var c = 0
          while (c < kd) { dot += qs(h)(i)(c) * ks(h)(j)(c); c += 1 }
          s(j) = dot * scale
          if (s(j) > mx) mx = s(j)
          j += 1
        }
        var z = 0.0
        j = 0
        while (j < T) { s(j) = math.exp(s(j) - mx); z += s(j); j += 1 }
        j = 0
        while (j < T) { s(j) /= z; j += 1 }
        alph(h)(i) = s
        i += 1
      }
      h += 1
    }
    val u = new Array[Array[Double]](T)
    val y = new Array[Array[Double]](T)
    var i = 0
    while (i < T) {
      val ui = new Array[Double](heads * kd)
      h = 0
      while (h < heads) {
        val a = alph(h)(i)
        var j = 0
        while (j < T) {
          val wgt = a(j); val v = vs(h)(j)
          var c = 0
          while (c < kd) { ui(h * kd + c) += wgt * v(c); c += 1 }
          j += 1
        }
        h += 1
      }
      u(i) = ui
      val yi = new Array[Double](d2)
      mv(w, dims.aWo, d2, heads * kd, ui, yi)
      var c = 0; while (c < d2) { yi(c) += w(dims.aBo + c); c += 1 }
      y(i) = yi
      i += 1
    }
    new AttCache(qs, ks, vs, alph, u, y)
  }

  /** Backward through the attention block; returns d loss/d input per step
    * (the Q, K, and V paths all feed it). Softmax rows backprop as
    * ds_j = α_j·(dα_j − Σ_k α_k·dα_k). */
  private def attBackward(seq: Array[Array[Double]], c: AttCache,
                          w: Array[Double], dims: Dims,
                          dy: Array[Array[Double]],
                          grad: Array[Double]): Array[Array[Double]] = {
    import dims.{heads, kd, d2}
    val T = seq.length
    val scale = 1.0 / math.sqrt(kd)
    val dx = Array.fill(T)(new Array[Double](d2))
    val du = new Array[Array[Double]](T)
    var i = 0
    while (i < T) {
      outer(grad, dims.aWo, d2, heads * kd, dy(i), c.u(i))
      var cc = 0; while (cc < d2) { grad(dims.aBo + cc) += dy(i)(cc); cc += 1 }
      val dui = new Array[Double](heads * kd)
      mtv(w, dims.aWo, d2, heads * kd, dy(i), dui)
      du(i) = dui
      i += 1
    }
    var h = 0
    while (h < heads) {
      val wq = dims.aWq + h * kd * d2; val bq = dims.aBq + h * kd
      val wk = dims.aWk + h * kd * d2; val bk = dims.aBk + h * kd
      val wv = dims.aWv + h * kd * d2; val bv = dims.aBv + h * kd
      val dq = Array.fill(T)(new Array[Double](kd))
      val dk = Array.fill(T)(new Array[Double](kd))
      val dv = Array.fill(T)(new Array[Double](kd))
      i = 0
      while (i < T) {
        val a = c.alph(h)(i)
        val dOutH = new Array[Double](kd)
        var cc = 0
        while (cc < kd) { dOutH(cc) = du(i)(h * kd + cc); cc += 1 }
        val dAl = new Array[Double](T)
        var dot = 0.0
        var j = 0
        while (j < T) {
          var s = 0.0; cc = 0
          while (cc < kd) {
            s += dOutH(cc) * c.vs(h)(j)(cc)
            dv(j)(cc) += a(j) * dOutH(cc)
            cc += 1
          }
          dAl(j) = s
          dot += a(j) * s
          j += 1
        }
        j = 0
        while (j < T) {
          val ds = a(j) * (dAl(j) - dot) * scale
          cc = 0
          while (cc < kd) {
            dq(i)(cc) += ds * c.ks(h)(j)(cc)
            dk(j)(cc) += ds * c.qs(h)(i)(cc)
            cc += 1
          }
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < T) {
        outer(grad, wq, kd, d2, dq(i), seq(i))
        outer(grad, wk, kd, d2, dk(i), seq(i))
        outer(grad, wv, kd, d2, dv(i), seq(i))
        var cc = 0
        while (cc < kd) {
          grad(bq + cc) += dq(i)(cc)
          grad(bk + cc) += dk(i)(cc)
          grad(bv + cc) += dv(i)(cc)
          cc += 1
        }
        mtv(w, wq, kd, d2, dq(i), dx(i))
        mtv(w, wk, kd, d2, dk(i), dx(i))
        mtv(w, wv, kd, d2, dv(i), dx(i))
        i += 1
      }
      h += 1
    }
    dx
  }

  // ---- full network ------------------------------------------------------

  private final class Cache(val grn1: Array[GrnCache], val seq1: Array[Array[Double]],
                            val c1: GruCache, val seq2: Array[Array[Double]],
                            val c2: GruCache, val seq3: Array[Array[Double]],
                            val att: AttCache,
                            val xhat2: Array[Array[Double]], val sig2: Array[Double],
                            val pooled: Array[Double], val grn2: GrnCache,
                            val yhat: Array[Double])

  private def forwardCached(seq: Array[Array[Double]], w: Array[Double],
                            dims: Dims): Cache = {
    import dims._
    val T = seq.length
    val grn1 = seq.map(x => grnForward(x, w, oGrn1))
    val seq1 = grn1.map(_.out)
    val c1 = gruForward(seq1, w, oGru1)
    val seq2 = java.util.Arrays.copyOfRange(c1.hs, 1, T + 1)
    val c2 = gruForward(seq2, w, oGru2)
    val seq3 = java.util.Arrays.copyOfRange(c2.hs, 1, T + 1)
    val att = attForward(seq3, w, dims)
    val xhat2 = new Array[Array[Double]](T)
    val sig2 = new Array[Double](T)
    val pooled = new Array[Double](d2)
    var t = 0
    while (t < T) {
      val sum = new Array[Double](d2)
      var i = 0
      while (i < d2) { sum(i) = seq3(t)(i) + att.y(t)(i); i += 1 }
      val xh = new Array[Double](d2)
      val z = new Array[Double](d2)
      sig2(t) = lnForward(sum, w, lnGam, lnBet, xh, z)
      xhat2(t) = xh
      i = 0
      while (i < d2) { pooled(i) += z(i) / T; i += 1 }
      t += 1
    }
    val grn2c = grnForward(pooled, w, oGrn2)
    val yhat = new Array[Double](m)
    mv(w, hW, m, g2, grn2c.out, yhat)
    var i = 0; while (i < m) { yhat(i) += w(hB + i); i += 1 }
    new Cache(grn1, seq1, c1, seq2, c2, seq3, att, xhat2, sig2, pooled, grn2c, yhat)
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

  /** One sample's raw loss with its raw gradient ACCUMULATED into `grad` —
    * the exact reverse of the full stack. */
  def lossGradSample(seq: Array[Array[Double]], y: Array[Double],
                     w: Array[Double], dims: Dims, delta: Double,
                     grad: Array[Double]): Double = {
    import dims._
    val T = seq.length
    val cache = forwardCached(seq, w, dims)
    val dy = new Array[Double](m)
    val loss = Optimizer.huberHead(cache.yhat, y, delta, dy)
    // Dense head
    outer(grad, hW, m, g2, dy, cache.grn2.out)
    var i = 0; while (i < m) { grad(hB + i) += dy(i); i += 1 }
    val dgo = new Array[Double](g2)
    mtv(w, hW, m, g2, dy, dgo)
    // GRN2 → pooled
    val dp = grnBackward(cache.grn2, w, oGrn2, dgo, grad)
    // pool → per-step LayerNorm → residual split
    val dSeq3 = Array.fill(T)(new Array[Double](d2))
    val dAtt = new Array[Array[Double]](T)
    var t = 0
    while (t < T) {
      val dz = new Array[Double](d2)
      i = 0; while (i < d2) { dz(i) = dp(i) / T; i += 1 }
      val dsum = lnBackward(dz, cache.xhat2(t), cache.sig2(t), w, lnGam, lnBet, grad)
      i = 0; while (i < d2) { dSeq3(t)(i) += dsum(i); i += 1 }
      dAtt(t) = dsum
      t += 1
    }
    val dxAtt = attBackward(cache.seq3, cache.att, w, dims, dAtt, grad)
    t = 0
    while (t < T) {
      i = 0; while (i < d2) { dSeq3(t)(i) += dxAtt(t)(i); i += 1 }
      t += 1
    }
    // two GRU layers, then the per-step GRN
    val dSeq2 = gruBackward(cache.seq2, cache.c2, w, oGru2, dSeq3, grad)
    val dSeq1 = gruBackward(cache.seq1, cache.c1, w, oGru1, dSeq2, grad)
    t = 0
    while (t < T) {
      grnBackward(cache.grn1(t), w, oGrn1, dSeq1(t), grad)
      t += 1
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
