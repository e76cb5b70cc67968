package graft.ml

/** The neural layer kernels both nets are built from ([[GruNet]] and
  * [[TftNet]]): flat-array linear algebra over slices of one parameter
  * vector, the hash-seeded weight init, and the GRU layer's forward pass
  * and exact backpropagation through time.
  *
  * Every kernel accumulates in a fixed index order, so a net's loss,
  * gradient and trained weights are bit-identical from run to run
  * (NetBitsSpec pins them).
  */
private[ml] object Layers {

  // ---- flat-array linear algebra -----------------------------------------

  /** out += W·v, W the row-major `rows × cols` block of `w` at `off`. */
  def mv(w: Array[Double], off: Int, rows: Int, cols: Int,
         v: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      var s = 0.0; var j = 0
      while (j < cols) { s += w(off + i * cols + j) * v(j); j += 1 }
      out(i) += s
      i += 1
    }
  }

  /** out += Wᵀ·v. */
  def mtv(w: Array[Double], off: Int, rows: Int, cols: Int,
          v: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      val vi = v(i); var j = 0
      while (j < cols) { out(j) += w(off + i * cols + j) * vi; j += 1 }
      i += 1
    }
  }

  /** g[block at off] += a ⊗ b. */
  def outer(g: Array[Double], off: Int, rows: Int, cols: Int,
            a: Array[Double], b: Array[Double]): Unit = {
    var i = 0
    while (i < rows) {
      val ai = a(i); var j = 0
      while (j < cols) { g(off + i * cols + j) += ai * b(j); j += 1 }
      i += 1
    }
  }

  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  // ---- seeded init -------------------------------------------------------

  /** Deterministic seeded init into `a`: each [[fill]] takes the next salt
    * (1, 2, …) and writes its block hash-uniform in ±0.5/√cols, so each
    * weight is a pure function of (seed, salt, position) — reproducible
    * across runs and partitionings. Blocks not filled stay 0. */
  final class Filler(val a: Array[Double], seed: Long) {
    private[this] var salt = 0L

    /** A block at offset -1 (an absent identity skip) still takes its
      * salt, so the weights of later blocks do not depend on it. */
    def fill(off: Int, rows: Int, cols: Int): Unit = {
      salt += 1
      if (off >= 0) {
        var i = 0
        while (i < rows * cols) {
          var h = seed * 6364136223846793005L + salt * 0x9e3779b97f4a7c15L +
            i + 1442695040888963407L
          h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
          a(off + i) = ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5) / math.sqrt(cols)
          i += 1
        }
      }
    }

    /** The GRU layer's six matrices (its three biases stay 0). */
    def gru(o: GruOffs): Unit = {
      fill(o.wz, o.d, o.nIn); fill(o.uz, o.d, o.d)
      fill(o.wr, o.d, o.nIn); fill(o.ur, o.d, o.d)
      fill(o.wh, o.d, o.nIn); fill(o.uh, o.d, o.d)
    }
  }

  // ---- GRU layer ---------------------------------------------------------

  /** Offsets of one GRU layer's nine parameter blocks in the flat vector:
    * input weights W, recurrent weights U and biases b of the update gate
    * z, the reset gate r and the candidate h. */
  final case class GruOffs(wz: Int, uz: Int, bz: Int, wr: Int, ur: Int, br: Int,
                           wh: Int, uh: Int, bh: Int, nIn: Int, d: Int) {
    /** The first offset past the layer. */
    def end: Int = bh + d
  }

  object GruOffs {
    /** The nine blocks laid out contiguously from `base`, in field order. */
    def at(base: Int, nIn: Int, d: Int): GruOffs = {
      val x = d * nIn; val h = d * d
      GruOffs(base, base + x, base + x + h,
        base + x + h + d, base + 2 * x + h + d, base + 2 * x + 2 * h + d,
        base + 2 * x + 2 * h + 2 * d, base + 3 * x + 2 * h + 2 * d,
        base + 3 * x + 3 * h + 2 * d, nIn, d)
    }
  }

  /** Per-step forward values kept for BPTT; hs(t) = h_{t-1}, hs(T) = h_T. */
  final class GruCache(val zs: Array[Array[Double]], val rs: Array[Array[Double]],
                       val cs: Array[Array[Double]], val hs: Array[Array[Double]])

  /** The Keras GRU cell over the sequence from h₀ = 0: z and r gates, the
    * candidate over the reset-scaled state, h' = (1-z)h + z·c. */
  def gruForward(seq: Array[Array[Double]], w: Array[Double],
                 o: GruOffs): GruCache = {
    val T = seq.length
    val d = o.d
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
      mv(w, o.wz, d, o.nIn, x, z); mv(w, o.uz, d, d, hp, z)
      mv(w, o.wr, d, o.nIn, x, r); mv(w, o.ur, d, d, hp, r)
      var i = 0
      while (i < d) {
        z(i) = sigmoid(z(i) + w(o.bz + i))
        r(i) = sigmoid(r(i) + w(o.br + i))
        i += 1
      }
      val hr = new Array[Double](d)
      i = 0; while (i < d) { hr(i) = hp(i) * r(i); i += 1 }
      mv(w, o.wh, d, o.nIn, x, c); mv(w, o.uh, d, d, hr, c)
      val h = new Array[Double](d)
      i = 0
      while (i < d) {
        c(i) = math.tanh(c(i) + w(o.bh + i))
        h(i) = (1 - z(i)) * hp(i) + z(i) * c(i)
        i += 1
      }
      zs(t) = z; rs(t) = r; cs(t) = c; hs(t + 1) = h
      t += 1
    }
    new GruCache(zs, rs, cs, hs)
  }

  /** Exact BPTT (no truncation; the window length is the truncation) with a
    * per-step external gradient `dOut` on each hidden state h_t. Accumulates
    * the layer's parameter gradient into `grad` and returns d loss/d input
    * per step, so the gradient keeps flowing to the layer below. */
  def gruBackward(seq: Array[Array[Double]], cache: GruCache,
                  w: Array[Double], o: GruOffs,
                  dOut: Array[Array[Double]],
                  grad: Array[Double]): Array[Array[Double]] = {
    val T = seq.length
    val d = o.d
    val dSeq = new Array[Array[Double]](T)
    var dhNext = new Array[Double](d)
    var t = T - 1
    while (t >= 0) {
      val x = seq(t); val hp = cache.hs(t)
      val z = cache.zs(t); val r = cache.rs(t); val c = cache.cs(t)
      val g = new Array[Double](d)
      var i = 0; while (i < d) { g(i) = dhNext(i) + dOut(t)(i); i += 1 }
      val dz = new Array[Double](d); val dc = new Array[Double](d)
      i = 0
      while (i < d) {
        dz(i) = g(i) * (c(i) - hp(i)) * z(i) * (1 - z(i))
        dc(i) = g(i) * z(i) * (1 - c(i) * c(i))
        i += 1
      }
      val hr = new Array[Double](d)
      i = 0; while (i < d) { hr(i) = hp(i) * r(i); i += 1 }
      outer(grad, o.wh, d, o.nIn, dc, x)
      outer(grad, o.uh, d, d, dc, hr)
      i = 0; while (i < d) { grad(o.bh + i) += dc(i); i += 1 }
      val dhr = new Array[Double](d)
      mtv(w, o.uh, d, d, dc, dhr)
      val dr = new Array[Double](d)
      i = 0
      while (i < d) {
        dr(i) = dhr(i) * hp(i) * r(i) * (1 - r(i))
        i += 1
      }
      outer(grad, o.wz, d, o.nIn, dz, x)
      outer(grad, o.uz, d, d, dz, hp)
      i = 0; while (i < d) { grad(o.bz + i) += dz(i); i += 1 }
      outer(grad, o.wr, d, o.nIn, dr, x)
      outer(grad, o.ur, d, d, dr, hp)
      i = 0; while (i < d) { grad(o.br + i) += dr(i); i += 1 }
      val dx = new Array[Double](o.nIn)
      mtv(w, o.wz, d, o.nIn, dz, dx)
      mtv(w, o.wr, d, o.nIn, dr, dx)
      mtv(w, o.wh, d, o.nIn, dc, dx)
      dSeq(t) = dx
      val dhPrev = new Array[Double](d)
      mtv(w, o.uz, d, d, dz, dhPrev)
      mtv(w, o.ur, d, d, dr, dhPrev)
      i = 0
      while (i < d) {
        dhPrev(i) += g(i) * (1 - z(i)) + dhr(i) * r(i)
        i += 1
      }
      dhNext = dhPrev
      t -= 1
    }
    dSeq
  }
}
