package graft.ml

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one training harness every trainer here runs through ([[Trainer]],
  * [[GruNet]], [[TftNet]], [[LogReg]]): the `split` column of the input
  * frame → persisted train/val samples → Adam (bias-corrected) +
  * EarlyStopping (patience, restore_best_weights) + ReduceLROnPlateau over
  * a FLAT parameter vector — the loop mechanics of the reference trainer
  * (`train.py:239-249`). A model supplies only its per-sample loss and
  * gradient.
  *
  * Scale shape: per-sample work is embarrassingly parallel; each epoch is
  * one distributed gradient pass and one validation pass, each emitting a
  * single flat O(|θ|) partial per partition that the driver folds in
  * PARTITION ORDER — float addition isn't associative, and a
  * completion-ordered fold would drift between runs, breaking the engine's
  * bit-exact determinism contract. Only (loss, gradient) vectors cross the
  * wire, and driver state (weights, Adam moments) stays O(|θ|) regardless
  * of data volume. Everything on the driver is plain elementwise
  * arithmetic in parameter order — deterministic for deterministic
  * per-sample functions.
  */
object Optimizer {

  /** Fit result over flat parameters. */
  final case class FlatFit(
      weights: Array[Double],
      history: Seq[Trainer.EpochLog],
      stoppedEarly: Boolean,
      bestEpoch: Int,
      bestValLoss: Double) {
    def withDims[D](dims: D): TrainedNet[D] =
      TrainedNet(dims, weights, history, stoppedEarly, bestEpoch, bestValLoss)
  }

  /** A trained network: its dimensions, best weights (restore_best
    * semantics) and the loop's history. */
  final case class TrainedNet[D](
      dims: D, weights: Array[Double],
      history: Seq[Trainer.EpochLog],
      stoppedEarly: Boolean, bestEpoch: Int, bestValLoss: Double)

  /** Decoder for sequence-window frames: `x: array<array<double>>`
    * (steps × features), `y: array<double>`. Nested array cells decode as
    * scala.collection.Seq (mutable ArraySeq), not immutable Seq. */
  val windowSample: Row => (Array[Array[Double]], Array[Double]) = r =>
    (r.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray,
      r.getSeq[Double](1).toArray)

  /** Train on the `split = 'train'` rows of `frame`, validating per epoch
    * on `split = 'val'`. Both splits' `(x, y)` columns are decoded once by
    * `decode` and persisted for the length of the fit.
    *
    * @param outputs  outputs per sample — the mean loss and gradient are
    *                 taken per (sample × output)
    * @param lossGrad at the given weights: one sample's RAW loss, with its
    *                 raw gradient ACCUMULATED into the array it is handed
    * @param loss     at the given weights: one sample's raw loss
    */
  def fit[S: ClassTag](frame: DataFrame, init: Array[Double], outputs: Int,
                       cfg: Trainer.Config)(decode: Row => S)(
      lossGrad: Array[Double] => (S, Array[Double]) => Double,
      loss: Array[Double] => S => Double): FlatFit = {
    def samples(split: String) = frame
      .filter(col("split") === split)
      .select(col("x"), col("y")).rdd
      .map(decode)
    val train = samples("train")
    val valid = samples("val")
    train.persist(StorageLevel.MEMORY_AND_DISK)
    valid.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      adamLoop(init, cfg)(
        w => meanLossGrad(train, init.length, outputs)(lossGrad(w)),
        w => {
          val l = loss(w)
          meanLossGrad(valid, 0, outputs)((s, _) => l(s))._1
        })
    } finally {
      train.unpersist(blocking = false)
      valid.unpersist(blocking = false)
    }
  }

  /** Mean (per sample × output) loss and gradient over `rows`: one
    * `size`-wide partial per partition, folded on the driver by partition
    * index (`size = 0` for a loss-only pass). */
  private def meanLossGrad[S](rows: RDD[S], size: Int, outputs: Int)(
      sample: (S, Array[Double]) => Double): (Double, Array[Double]) = {
    val partials = rows.mapPartitionsWithIndex { (pid, it) =>
      val g = new Array[Double](size)
      var l = 0.0
      var c = 0L
      it.foreach { s => l += sample(s, g); c += 1 }
      Iterator.single((pid, l, g, c))
    }.collect().sortBy(_._1)
    var loss = 0.0
    var cnt = 0L
    val grad = new Array[Double](size)
    partials.foreach { case (_, l, g, c) =>
      loss += l; cnt += c
      var i = 0; while (i < size) { grad(i) += g(i); i += 1 }
    }
    val denom = math.max(cnt, 1L).toDouble * outputs
    var i = 0; while (i < size) { grad(i) /= denom; i += 1 }
    (loss / denom, grad)
  }

  /** Run the Adam + callback loop from `init`. A non-finite train loss,
    * gradient entry or validation loss fails the fit with an
    * IllegalStateException naming the epoch: a NaN never improves the best
    * validation loss, so the loop would otherwise quietly return the
    * best-so-far (possibly initial) weights.
    *
    * @param trainLossGrad mean loss and its gradient at the given weights
    *                      (one distributed pass)
    * @param valLoss       mean validation loss at the given weights
    */
  private def adamLoop(init: Array[Double], cfg: Trainer.Config)(
      trainLossGrad: Array[Double] => (Double, Array[Double]),
      valLoss: Array[Double] => Double): FlatFit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import java.lang.Double.isFinite
    val k = init.length
    var w = init.clone()
    val m = new Array[Double](k)
    val v = new Array[Double](k)
    var lr = cfg.lr
    var best = w.clone()
    var bestVal = Double.MaxValue
    var bestEpoch = 0
    var sincePatience = 0
    var sincePlateau = 0
    var stopped = false
    val history = scala.collection.mutable.ArrayBuffer.empty[Trainer.EpochLog]
    var epoch = 1
    // Epoch pipelining (r21, guide §2.6 "overlap independent jobs"): the
    // gradient at the POST-UPDATE weights and the validation loss at the
    // same weights are independent pure functions — the LR/callback
    // decisions below never enter the gradient — so each epoch launches
    // the NEXT epoch's gradient pass concurrently with this epoch's
    // validation pass. Both passes keep their own RDD and partition-
    // ordered fold, so every float is bit-identical to the sequential
    // loop; only the wall clock changes (two ~equal distributed passes
    // per epoch overlap instead of serializing). The one speculative
    // pass in flight when EarlyStopping fires is awaited and discarded —
    // bounded waste, and nothing leaks past the fit.
    // Guard the initial launch on maxEpochs (ADVICE r21): with
    // maxEpochs == 0 the sequential loop ran no gradient pass at all, so
    // the speculative launch must not either.
    var gradFut: Future[(Double, Array[Double])] =
      if (cfg.maxEpochs >= 1) Future(trainLossGrad(w)) else null
    try {
    while (epoch <= cfg.maxEpochs && !stopped) {
      val (trainLoss, grad) = Await.result(gradFut, Duration.Inf)
      gradFut = null
      if (!isFinite(trainLoss) || !grad.forall(isFinite(_)))
        throw new IllegalStateException(
          s"non-finite train loss or gradient at epoch $epoch (loss $trainLoss)")
      // Adam (bias-corrected), t = epoch.
      val bc1 = 1 - math.pow(cfg.beta1, epoch)
      val bc2 = 1 - math.pow(cfg.beta2, epoch)
      val next = new Array[Double](k)
      var i = 0
      while (i < k) {
        m(i) = m(i) * cfg.beta1 + grad(i) * (1 - cfg.beta1)
        v(i) = v(i) * cfg.beta2 + grad(i) * grad(i) * (1 - cfg.beta2)
        next(i) = w(i) - (m(i) / bc1) / (math.sqrt(v(i) / bc2) + cfg.adamEps) * lr
        i += 1
      }
      w = next
      val wSnap = w // w is only ever REPLACED, never mutated in place
      if (epoch < cfg.maxEpochs) gradFut = Future(trainLossGrad(wSnap))
      val vl = valLoss(w)
      if (!isFinite(vl))
        throw new IllegalStateException(s"non-finite validation loss at epoch $epoch ($vl)")
      history += Trainer.EpochLog(epoch, trainLoss, vl, lr)
      if (vl < bestVal - cfg.minDelta) {
        bestVal = vl; best = w.clone(); bestEpoch = epoch
        sincePatience = 0; sincePlateau = 0
      } else {
        sincePatience += 1; sincePlateau += 1
        if (sincePlateau >= cfg.plateauPatience && lr > cfg.minLr) {
          lr = math.max(lr * cfg.plateauFactor, cfg.minLr) // ReduceLROnPlateau
          sincePlateau = 0
        }
        if (sincePatience >= cfg.patience) stopped = true // EarlyStopping
      }
      epoch += 1
    }
    } finally {
      // Drain the in-flight speculative pass on EVERY exit path (ADVICE
      // r21): a valLoss/callback throw would otherwise leak a distributed
      // pass past the fit, racing `fit`'s unpersist of the training RDD it
      // still reads, and the bench's timing window for the NEXT query
      // must not inherit a stray job.
      if (gradFut != null) { Await.ready(gradFut, Duration.Inf); () }
    }
    FlatFit(best, history.toSeq, stopped, bestEpoch, bestVal)
  }

  /** Huber ρ and ψ (loss and d loss/d residual) at delta. */
  private def huber(r: Double, delta: Double): (Double, Double) =
    if (math.abs(r) <= delta) (0.5 * r * r, r)
    else (delta * (math.abs(r) - 0.5 * delta), delta * math.signum(r))

  /** Huber output head of one sample: returns Σᵢ ρ(ŷᵢ − yᵢ) (the raw
    * loss, summed in output order) and writes ψ(ŷᵢ − yᵢ) = ∂loss/∂ŷᵢ into
    * `dy`. */
  def huberHead(yhat: Array[Double], y: Array[Double], delta: Double,
                dy: Array[Double]): Double = {
    var loss = 0.0
    var i = 0
    while (i < yhat.length) {
      val (rho, psi) = huber(yhat(i) - y(i), delta)
      loss += rho; dy(i) = psi
      i += 1
    }
    loss
  }
}
