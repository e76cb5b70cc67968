package graft

import graft.ml.{TftNet, Trainer}

/** TftNet correctness pins — the trained counterpart of the reference's
  * FULL GRN→GRU→GRU→attention→LayerNorm→pool→GRN→Dense stack. As with
  * GruNetSpec, the decisive test is the finite-difference sweep: every
  * analytic partial across every block (GRN gates, both recurrences, all
  * attention heads, both learnable LayerNorms, the head) must match the
  * central difference of the raw loss — one property that rules out
  * essentially any transcription error in the hand-derived backward. */
class TftNetSpec extends SparkSpec {

  private val dims = TftNet.Dims(n = 3, g1 = 4, d1 = 4, d2 = 4, heads = 2,
    g2 = 4, m = 2)

  private def rnd(seed: Long): scala.util.Random = new scala.util.Random(seed)

  private def randSeq(r: scala.util.Random, t: Int): Array[Array[Double]] =
    Array.fill(t)(Array.fill(dims.n)(r.nextGaussian()))

  test("analytic gradient matches central finite differences across every block") {
    val r = rnd(7)
    val w = TftNet.init(dims, 42L).map(_ + r.nextGaussian() * 0.1)
    val seq = randSeq(r, 4)
    val y = Array.fill(dims.m)(r.nextGaussian())
    val delta = 1.0
    val grad = new Array[Double](dims.size)
    TftNet.lossGradSample(seq, y, w, dims, delta, grad)
    val eps = 1e-5
    var worst = 0.0
    (0 until dims.size).foreach { i =>
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      val fd = (TftNet.lossSample(seq, y, wp, dims, delta) -
        TftNet.lossSample(seq, y, wm, dims, delta)) / (2 * eps)
      val rel = math.abs(grad(i) - fd) /
        math.max(1e-7, math.max(math.abs(grad(i)), math.abs(fd)))
      if (math.abs(grad(i)) > 1e-9 || math.abs(fd) > 1e-9) {
        worst = math.max(worst, rel)
        assert(rel < 1e-4, s"param $i: analytic=${grad(i)} fd=$fd rel=$rel")
      }
    }
    info(f"worst relative gradient error: $worst%.2e over ${dims.size} params")
  }

  test("gradient check holds across samples, window lengths, and dim shapes") {
    val delta = 1.0
    // A second shape: identity-skip GRN1 (n == g1) exercises the non-proj
    // branch, and heads = 1 the single-head degenerate case.
    val shapes = Seq(dims, TftNet.Dims(n = 4, g1 = 4, d1 = 3, d2 = 4,
      heads = 1, g2 = 3, m = 3))
    shapes.foreach { dm =>
      (1 to 2).foreach { s =>
        val r = rnd(100 + s)
        val w = TftNet.init(dm, s.toLong).map(_ + r.nextGaussian() * 0.2)
        val seq = Array.fill(3 + 2 * s)(Array.fill(dm.n)(r.nextGaussian()))
        val y = Array.fill(dm.m)(r.nextGaussian())
        val grad = new Array[Double](dm.size)
        TftNet.lossGradSample(seq, y, w, dm, delta, grad)
        val eps = 1e-5
        // Spot-check a spread across all parameter blocks.
        Seq(dm.oGrn1.w1, dm.oGrn1.wg + 1, dm.oGrn1.gam, dm.oGrn1.bet + 1,
          dm.oGru1.uz + 2, dm.oGru1.bh, dm.oGru2.wr + 1, dm.oGru2.uh + 3,
          dm.aWq + 1, dm.aBk, dm.aWv + 2, dm.aWo + 1, dm.aBo,
          dm.lnGam + 1, dm.lnBet, dm.oGrn2.w2 + 2, dm.hW + 1, dm.hB)
          .foreach { i =>
            val wp = w.clone(); wp(i) += eps
            val wm = w.clone(); wm(i) -= eps
            val fd = (TftNet.lossSample(seq, y, wp, dm, delta) -
              TftNet.lossSample(seq, y, wm, dm, delta)) / (2 * eps)
            val rel = math.abs(grad(i) - fd) /
              math.max(1e-7, math.max(math.abs(grad(i)), math.abs(fd)))
            // Same noise-floor guard as the full sweep: a ~1e-11 central
            // difference of a numerically-zero partial is pure roundoff.
            if (math.abs(grad(i)) > 1e-9 || math.abs(fd) > 1e-9)
              assert(rel < 1e-4, s"shape=$dm seed=$s param $i: analytic=${grad(i)} fd=$fd")
          }
      }
    }
  }

  /** Learnable synthetic task (GruNetSpec's): y0 = mean of feature 0 over
    * the window, y1 = 0.5 · (last step's feature 1). */
  private def windowsDf(nTrain: Int, nVal: Int) = {
    val r = rnd(55)
    def mk(n: Int, split: String) = Seq.fill(n) {
      val seq = randSeq(r, 6)
      val y0 = seq.map(_(0)).sum / seq.length
      val y1 = 0.5 * seq.last(1)
      (seq.map(_.toSeq).toSeq, Seq(y0, y1), split)
    }
    import spark.implicits._
    (mk(nTrain, "train") ++ mk(nVal, "val")).toDF("x", "y", "split")
  }

  test("training drives the loss down on a learnable sequence task") {
    val df = windowsDf(200, 40)
    val fit = TftNet.fit(df, dims,
      Trainer.Config(lr = 0.03, maxEpochs = 150, patience = 40, minDelta = 1e-7,
        plateauPatience = 15, minLr = 1e-4))
    val first = fit.history.head.trainLoss
    val best = fit.bestValLoss
    info(f"epoch1 train=$first%.5f  best val=$best%.5f (epoch ${fit.bestEpoch})")
    assert(fit.history.nonEmpty && best < first * 0.6,
      s"TFT training must cut the initial loss by 40%+: $first -> $best")
    assert(fit.history.forall(e => !e.trainLoss.isNaN && !e.valLoss.isNaN))
  }

  test("fit is deterministic: identical history across runs") {
    val df = windowsDf(60, 15)
    val cfg = Trainer.Config(lr = 0.02, maxEpochs = 10, patience = 10)
    val a = TftNet.fit(df, dims, cfg)
    val b = TftNet.fit(df, dims, cfg)
    assert(a.history == b.history, "two fits over the same frame must be bit-identical")
    assert(a.weights.sameElements(b.weights))
  }

  // ---- fixed-weight inference at the hybrid queries' widths ------------
  // Checked through weight-independent structural properties (permutation
  // equivariance, the convex-combination fixed point) rather than pinned
  // output values.

  private val inferDims = TftNet.Dims(n = 7, g1 = 16, d1 = 24, d2 = 24,
    heads = 4, g2 = 16, m = 7)

  private def gaussSeq(steps: Int, d: Int, seed: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Array.fill(steps, d)(r.nextGaussian())
  }

  test("inference forward is deterministic and returns 7 finite outputs") {
    val w = TftNet.init(inferDims, 11L)
    val x = gaussSeq(12, inferDims.n, 7)
    val a = TftNet.predict(x, w, inferDims)
    val b = TftNet.predict(x.map(_.clone()), TftNet.init(inferDims, 11L), inferDims)
    assert(a.length == 7)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("attention uses 4 heads and keeps the sequence shape") {
    assert(inferDims.heads == 4 && inferDims.kd * 4 == inferDims.d2)
    val out = TftNet.attForward(gaussSeq(9, inferDims.d2, 13),
      TftNet.init(inferDims, 11L), inferDims).y
    assert(out.length == 9)
    assert(out.forall(_.length == inferDims.d2))
    assert(out.flatten.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("attention is permutation-equivariant (no positional encoding)") {
    // Random biases too: they are per-position constants, so equivariance
    // must hold for any weights.
    val r = rnd(3)
    val w = TftNet.init(inferDims, 11L).map(_ + r.nextGaussian() * 0.1)
    val s = gaussSeq(9, inferDims.d2, 13)
    val out = TftNet.attForward(s, w, inferDims).y
    val perm = Array(4, 2, 7, 0, 8, 1, 6, 3, 5)
    val out2 = TftNet.attForward(perm.map(s), w, inferDims).y
    perm.zipWithIndex.foreach { case (src, i) =>
      assert(out2(i).zip(out(src)).forall { case (x, y) => math.abs(x - y) < 1e-12 },
        s"row $i should equal unpermuted row $src")
    }
  }

  test("attention over a constant sequence returns identical rows") {
    // Softmax weights form a convex combination; equal V rows are a fixed
    // point regardless of head count or projections.
    val row = Array.tabulate(inferDims.d2)(i => math.sin(i + 1.0))
    val s = Array.fill(5)(row.clone())
    val out = TftNet.attForward(s, TftNet.init(inferDims, 11L), inferDims).y
    out.foreach(r => assert(
      r.zip(out(0)).forall { case (x, y) => math.abs(x - y) < 1e-12 }))
  }
}
