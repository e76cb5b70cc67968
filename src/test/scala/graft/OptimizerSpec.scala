package graft

import org.apache.spark.SparkException

import graft.ml.{Optimizer, Trainer}

/** The training harness owns the persisted train/val samples for the
  * length of a fit: whatever way the fit ends, the session's persistent
  * RDDs are what they were before it, and no gradient pass outlives it. */
class OptimizerSpec extends SparkSpec {

  /** y = 2x, 32 train rows and 8 val rows; row `nanAt` (if any) has x = NaN. */
  private def frame(nanAt: Int = -1) = {
    import spark.implicits._
    (0 until 40).map { i =>
      val x = i / 40.0
      (Seq(if (i == nanAt) Double.NaN else x), 2 * x, if (i % 5 == 0) "val" else "train")
    }.toDF("x", "y", "split")
  }

  private val decode: org.apache.spark.sql.Row => (Double, Double) =
    r => (r.getSeq[Double](0).head, r.getDouble(1))

  test("fit persists both splits while training and releases them after") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var during = Set.empty[Int]
    val cfg = Trainer.Config(lr = 0.1, maxEpochs = 5, patience = 10)
    val ff = Optimizer.fit(frame(), Array(0.0), 1, cfg)(decode)(
      w => (s, g) => { val r = w(0) * s._1 - s._2; g(0) += r * s._1; 0.5 * r * r },
      w => {
        during = sc.getPersistentRDDs.keySet.toSet
        s => { val r = w(0) * s._1 - s._2; 0.5 * r * r }
      })
    assert(ff.history.length == 5)
    assert((during -- before).size == 2, "train and val samples are persisted during the fit")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a sample function that throws mid-fit drains the in-flight pass and releases the samples") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var valPasses = 0
    val cfg = Trainer.Config(lr = 0.1, maxEpochs = 10, patience = 20)
    intercept[SparkException] {
      Optimizer.fit(frame(), Array(0.0), 1, cfg)(decode)(
        // A slow gradient pass: the speculative next-epoch pass is still
        // running when the validation pass below fails.
        w => (s, g) => {
          Thread.sleep(20)
          val r = w(0) * s._1 - s._2; g(0) += r * s._1; 0.5 * r * r
        },
        w => {
          valPasses += 1
          val fail = valPasses == 2
          s => {
            if (fail) throw new IllegalStateException("sample failure")
            val r = w(0) * s._1 - s._2; 0.5 * r * r
          }
        })
    }
    assert(valPasses == 2)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "no gradient pass outlives the fit")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a NaN in one train sample fails the fit, naming the epoch, and releases the samples") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cfg = Trainer.Config(lr = 0.1, maxEpochs = 5, patience = 10)
    val e = intercept[IllegalStateException] {
      Optimizer.fit(frame(nanAt = 1), Array(0.0), 1, cfg)(decode)(
        w => (s, g) => { val r = w(0) * s._1 - s._2; g(0) += r * s._1; 0.5 * r * r },
        w => s => { val r = w(0) * s._1 - s._2; 0.5 * r * r })
    }
    assert(e.getMessage.contains("epoch 1"), e.getMessage)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "no gradient pass outlives the fit")
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
