package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Distributed logistic regression — the quality-classifier trainer of a
  * data pipeline (CCNet/GPT-3-style filters are linear classifiers over
  * cheap per-document features). Trains through [[Optimizer.fit]], the
  * same harness as every trainer here: per-sample work is embarrassingly
  * parallel, one flat O(|θ|) gradient partial per partition crosses the
  * wire (partition-ordered fold), and the Adam/EarlyStopping/
  * ReduceLROnPlateau loop holds only model-sized driver state.
  */
object LogReg {

  final case class TrainedLr(
      weights: Array[Double],
      history: Seq[Trainer.EpochLog],
      stoppedEarly: Boolean,
      bestEpoch: Int,
      bestValLoss: Double,
      valAccuracy: Double,
      valMajorityShare: Double)

  /** Numerically stable BCE: max(z,0) − z·y + ln(1+e^−|z|). */
  private def bce(z: Double, y: Double): Double =
    math.max(z, 0.0) - z * y + math.log1p(math.exp(-math.abs(z)))

  /** The logit w·x over the first `nFeat` features. */
  private def logit(w: Array[Double], x: Array[Double], nFeat: Int): Double = {
    var z = 0.0
    var i = 0; while (i < nFeat) { z += w(i) * x(i); i += 1 }
    z
  }

  /** Train on `split = 'train'` rows of a frame with columns
    * (x: array<double> of nFeat, y: double in {0,1}, split: string);
    * validate per epoch on `split = 'val'`. Accuracy is decided by the
    * SIGN of w·x (the 0.5-probability boundary) over the frame's val rows
    * — an integer count, so the reported number is
    * partition-order-independent. */
  def fit(rows: DataFrame, nFeat: Int, cfg: Trainer.Config): TrainedLr = {
    val ff = Optimizer.fit(rows, new Array[Double](nFeat), 1, cfg)(
      r => (r.getSeq[Double](0).toArray, r.getDouble(1)))(
      w => { case ((x, y), g) =>
        val z = logit(w, x, nFeat)
        val e = 1.0 / (1.0 + math.exp(-z)) - y
        var j = 0; while (j < nFeat) { g(j) += e * x(j); j += 1 }
        bce(z, y)
      },
      w => { case (x, y) => bce(logit(w, x, nFeat), y) })
    val w = ff.weights
    val (hits, pos, n) = rows
      .filter(col("split") === "val")
      .select(col("x"), col("y")).rdd
      .map { r =>
        val y = r.getDouble(1)
        val pred = if (logit(w, r.getSeq[Double](0).toArray, nFeat) > 0) 1.0 else 0.0
        (if (pred == y) 1L else 0L, if (y == 1.0) 1L else 0L, 1L)
      }
      .fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val nVal = math.max(n, 1L).toDouble
    val posShare = pos / nVal
    TrainedLr(w, ff.history, ff.stoppedEarly, ff.bestEpoch, ff.bestValLoss,
      hits / nVal, math.max(posShare, 1.0 - posShare))
  }
}
