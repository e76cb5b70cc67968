package graft

import graft.ml.{GruNet, Trainer}

/** GruNet correctness pins. The decisive one is the finite-difference
  * gradient check: every analytic BPTT partial must match the central
  * difference of the raw loss to ~1e-6 relative — that single property
  * rules out essentially every possible transcription error in a hand-
  * derived backward pass. */
class GruNetSpec extends SparkSpec {

  private val dims = GruNet.Dims(n = 3, d = 4, m = 2)

  private def rnd(seed: Long): scala.util.Random = new scala.util.Random(seed)

  private def randSeq(r: scala.util.Random, t: Int): Array[Array[Double]] =
    Array.fill(t)(Array.fill(dims.n)(r.nextGaussian()))

  test("analytic BPTT gradient matches central finite differences") {
    val r = rnd(7)
    val w = GruNet.init(dims, 42L).map(_ + r.nextGaussian() * 0.1)
    val seq = randSeq(r, 5)
    val y = Array.fill(dims.m)(r.nextGaussian())
    val delta = 1.0
    val grad = new Array[Double](dims.size)
    GruNet.lossGradSample(seq, y, w, dims, delta, grad)
    val eps = 1e-6
    var worst = 0.0
    (0 until dims.size).foreach { i =>
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      val fd = (GruNet.lossSample(seq, y, wp, dims, delta) -
        GruNet.lossSample(seq, y, wm, dims, delta)) / (2 * eps)
      val rel = math.abs(grad(i) - fd) / math.max(1e-8, math.max(math.abs(grad(i)), math.abs(fd)))
      if (math.abs(grad(i)) > 1e-10 || math.abs(fd) > 1e-10) {
        worst = math.max(worst, rel)
        assert(rel < 1e-5,
          s"param $i: analytic=${grad(i)} fd=$fd rel=$rel")
      }
    }
    info(f"worst relative gradient error: $worst%.2e over ${dims.size} params")
  }

  test("gradient check holds across several random samples and longer windows") {
    val delta = 1.0
    (1 to 3).foreach { s =>
      val r = rnd(100 + s)
      val w = GruNet.init(dims, s.toLong).map(_ + r.nextGaussian() * 0.2)
      val seq = randSeq(r, 12)
      val y = Array.fill(dims.m)(r.nextGaussian())
      val grad = new Array[Double](dims.size)
      GruNet.lossGradSample(seq, y, w, dims, delta, grad)
      val eps = 1e-6
      // Spot-check a spread of parameters (full sweep done above).
      Seq(dims.gru.wz, dims.gru.uz + 3, dims.gru.bz + 1, dims.gru.wr + 2,
        dims.gru.ur + 5, dims.gru.wh + 1, dims.gru.uh + 7, dims.gru.bh,
        dims.woOff + 3, dims.boOff).foreach { i =>
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        val fd = (GruNet.lossSample(seq, y, wp, dims, delta) -
          GruNet.lossSample(seq, y, wm, dims, delta)) / (2 * eps)
        val rel = math.abs(grad(i) - fd) /
          math.max(1e-8, math.max(math.abs(grad(i)), math.abs(fd)))
        assert(rel < 1e-5, s"seed $s param $i: analytic=${grad(i)} fd=$fd")
      }
    }
  }

  /** Learnable synthetic task: y0 = mean of feature 0 over the window,
    * y1 = 0.5 · (last step's feature 1). */
  private def windowsDf(nTrain: Int, nVal: Int) = {
    val r = rnd(55)
    def mk(n: Int, split: String) = Seq.fill(n) {
      val seq = randSeq(r, 8)
      val y0 = seq.map(_(0)).sum / seq.length
      val y1 = 0.5 * seq.last(1)
      (seq.map(_.toSeq).toSeq, Seq(y0, y1), split)
    }
    import spark.implicits._
    (mk(nTrain, "train") ++ mk(nVal, "val")).toDF("x", "y", "split")
  }

  test("training drives the loss down on a learnable sequence task") {
    val df = windowsDf(300, 60)
    val fit = GruNet.fit(df, dims,
      Trainer.Config(lr = 0.03, maxEpochs = 300, patience = 60, minDelta = 1e-7,
        plateauPatience = 20, minLr = 1e-4))
    val first = fit.history.head.trainLoss
    val best = fit.bestValLoss
    info(f"epoch1 train=$first%.5f  best val=$best%.5f (epoch ${fit.bestEpoch})")
    assert(fit.history.nonEmpty && best < first * 0.6,
      s"GRU training must cut the initial loss by 40%+: $first -> $best")
    assert(fit.history.forall(e => !e.trainLoss.isNaN && !e.valLoss.isNaN))
  }

  test("fit is deterministic: identical history across runs") {
    val df = windowsDf(80, 20)
    val cfg = Trainer.Config(lr = 0.02, maxEpochs = 12, patience = 12)
    val a = GruNet.fit(df, dims, cfg)
    val b = GruNet.fit(df, dims, cfg)
    assert(a.history == b.history, "two fits over the same frame must be bit-identical")
    assert(a.weights.sameElements(b.weights))
  }
}
