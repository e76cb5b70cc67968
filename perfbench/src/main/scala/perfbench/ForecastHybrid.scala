package perfbench

import java.io.File

import org.apache.spark.ml.feature.{RobustScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ml.{GruNet, TftNet, TimeSeries, Trainer}

/** Phase 4: hourly feature series from a seeded events table, VAR(2) fit
  * and 1-step forecasts, 12-step residual windows, fixed-epoch GRU and
  * TFT residual nets, hybrid = VAR + net, scored by test RMSE. */
final class ForecastHybrid extends Workload {
  val name = "forecast_hybrid"

  import ForecastHybrid._

  private var path: String = _

  def records: Long = Slices.size.toLong * EventsPerSlice

  def generate(dir: File, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val events = new File(dir, "events"); events.mkdirs()
    path = events.getAbsolutePath
    var id = 0L
    // One JSON-lines file per slice.
    Slices.zipWithIndex.foreach { case (slice, si) =>
      // Latent AR(1) load with a daily cycle; each hour gets at least one
      // event and the rest of the slice's fixed total in proportion to the
      // load (largest remainder), so every seed yields the same row count.
      val phase = rnd.nextDouble() * 2 * math.Pi
      val x = new Array[Double](Hours)
      (1 until Hours).foreach(t => x(t) = 0.5 * x(t - 1) + 0.3 * rnd.nextGaussian())
      val load = Array.tabulate(Hours)(t => (1 + 0.4 * math.sin(2 * math.Pi * t / 24 + phase)) * math.exp(x(t)))
      val spare = EventsPerSlice - Hours
      val share = load.map(_ / load.sum * spare)
      val counts = share.map(s => 1 + math.floor(s).toInt)
      share.zipWithIndex.sortBy { case (s, _) => -(s - math.floor(s)) }
        .take(EventsPerSlice - counts.sum).foreach { case (_, t) => counts(t) += 1 }
      val meanValue = 100.0 * (si + 1)
      Main.writeLines(new File(events, s"$slice.json"), (0 until Hours).iterator.flatMap { t =>
        val hourMs = (BaseEpoch + t * 3600L) * 1000L
        (0 until counts(t)).iterator.map { _ =>
          id += 1
          val ms = hourMs + rnd.nextLong(3600L * 1000L)
          val v = math.max(1.0, meanValue * (1 + 0.3 * x(t)) + 20 * rnd.nextGaussian())
          val user = rnd.nextLong(UsersPerSlice) + si * UsersPerSlice
          val k = rnd.nextInt(10) + (if (x(t) > 0) 2 else 0)
          s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochMilli(ms)}","user_id":$user,""" +
            s""""event_type":"$slice","value":${math.rint(v * 100) / 100},"props":"{\\"k\\": $k}"}"""
        }
      })
    }
  }

  def prepare(spark: SparkSession): Unit = ()

  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Hash-spread the windows over the session's cores, sorted within each
    * partition, so each epoch's gradient pass is parallel and its
    * partition-ordered fold is reproducible. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("slice"), col("t"))
      .sortWithinPartitions("slice", "t")

  private def cfg(epochs: Int) =
    // Early stopping off (patience beyond the epoch budget): constant work.
    Trainer.Config(lr = 0.02, maxEpochs = epochs, patience = epochs + 1,
      minDelta = 1e-6, plateauPatience = 4)

  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter = {
    def span[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    val dim = TimeSeries.FeatCols.length
    val scaled = span("ml.feature_series") {
      val series = local(TimeSeries.withSplit(TimeSeries.featureSeries(spark.read.schema(Schema).json(path))))
      val assembled = new VectorAssembler()
        .setInputCols(TimeSeries.FeatCols.toArray).setOutputCol("fv").transform(series)
      val scaler = new RobustScaler().setInputCol("fv").setOutputCol("fs").setWithCentering(true)
        .fit(assembled.filter(col("split") === "train"))
      local(scaler.transform(assembled)
        .withColumn("fs", vector_to_array(col("fs"), "float64"))
        .select(Seq(col("slice"), col("t"), col("split")) ++
          TimeSeries.FeatCols.zipWithIndex.map { case (f, i) => element_at(col("fs"), i + 1).as(f) }: _*))
    }
    val (lagged, varModel) = span("ml.var_fit") {
      val lagged = TimeSeries.lagDesign(scaled, TimeSeries.FeatCols, Lags)
      (lagged, TimeSeries.fitVar(lagged.filter(col("split") === "train"), Lags, dim))
    }
    val (windows, trainN) = span("ml.windows") {
      val w = Window.partitionBy("slice").orderBy("t")
      val rows = lagged
        .select(Seq(col("slice"), col("t"), col("split"), col("y"), col("x").as("xl")) ++
          TimeSeries.forecastCols(varModel): _*)
        .withColumn("fc", array((0 until dim).map(i => col(s"fc_$i")): _*))
        .withColumn("resid", array((0 until dim).map(i => element_at(col("y"), i + 1) - col(s"fc_$i")): _*))
        .withColumn("x", collect_list(col("resid")).over(w.rowsBetween(-Steps, -1)))
        .filter(size(col("x")) === Steps)
        .select(col("slice"), col("t"), col("split"), col("x"), col("resid").as("y"),
          col("y").as("actual"), col("fc"), col("xl"))
      val collected = rows.collect()
      (spread(spark.createDataFrame(java.util.Arrays.asList(collected: _*), rows.schema)),
        collected.count(_.getAs[String]("split") == "train"))
    }
    val gru = span("ml.GruNet.fit")(GruNet.fit(windows, GruDims, cfg(GruEpochs)))
    val tft = span("ml.TftNet.fit")(TftNet.fit(windows, TftDims, cfg(TftEpochs)))
    val (rmse, nTest) = span("ml.score") {
      val test = windows.filter(col("split") === "test").select("x", "actual", "fc", "xl").collect()
      val sq = Array.ofDim[Double](4, dim) // naive, var, var+gru, var+tft
      test.foreach { r =>
        val x = r.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray
        val actual = r.getSeq[Double](1); val fc = r.getSeq[Double](2); val xl = r.getSeq[Double](3)
        val g = GruNet.predict(x, gru.weights, gru.dims)
        val f = TftNet.predict(x, tft.weights, tft.dims)
        (0 until dim).foreach { i =>
          def add(m: Int, pred: Double): Unit = { val e = actual(i) - pred; sq(m)(i) += e * e }
          add(0, xl(i)); add(1, fc(i)); add(2, fc(i) + g(i)); add(3, fc(i) + f(i))
        }
      }
      (sq.map(row => row.map(s => math.sqrt(s / test.length)).sum / dim), test.length)
    }
    val Array(naive, rVar, rGru, rTft) = rmse
    val failure =
      if (nTest == 0) "no test windows"
      else if (!rmse.forall(v => !v.isNaN && !v.isInfinite)) s"non-finite RMSE ${rmse.mkString(",")}"
      else if (gru.history.size != GruEpochs || tft.history.size != TftEpochs)
        s"epochs ran ${gru.history.size}/${tft.history.size}, configured $GruEpochs/$TftEpochs"
      else if (rVar >= naive) f"VAR RMSE $rVar%.4f does not beat persistence $naive%.4f"
      else ""
    Iter(failure.isEmpty, failure, Nil, if (rTft > 0) rVar / rTft else 0.0,
      Map("rmse_var" -> rVar, "rmse_hybrid" -> rTft, "rmse_hybrid_gru" -> rGru,
        "rmse_persistence" -> naive, "train_windows" -> trainN.toDouble))
  }

  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double] = {
    // Every phase ends in an action, so the spans of one traced iteration
    // are the layer times; the engine listener counts the jobs the two
    // fits started (one gradient and one validation pass per epoch).
    val t0 = System.nanoTime()
    val it = tr.span("layers.iteration")(iterate(spark, scratch(), Some(tr)))
    val wall = (System.nanoTime() - t0) / 1e9
    val fitSpans = tr.intervals("ml.GruNet.fit").takeRight(1) ++ tr.intervals("ml.TftNet.fit").takeRight(1)
    val jobs = engine.jobsWithin(fitSpans)
    require(it.ok, it.failure)
    def last(n: String) = tr.durations(n).last
    val phases = Seq("ml.feature_series", "ml.var_fit", "ml.windows", "ml.GruNet.fit", "ml.TftNet.fit", "ml.score")
    val fitS = last("ml.GruNet.fit") + last("ml.TftNet.fit")
    val epochs = GruEpochs + TftEpochs
    Map(
      "ml.feature_series_s" -> last("ml.feature_series"),
      "ml.var_fit_s" -> last("ml.var_fit"),
      "ml.windows_s" -> last("ml.windows"),
      "ml.gru_fit_s" -> last("ml.GruNet.fit"),
      "ml.tft_fit_s" -> last("ml.TftNet.fit"),
      "ml.score_s" -> last("ml.score"),
      "ml.epochs" -> epochs.toDouble,
      "ml.epoch_ms" -> fitS * 1000 / epochs,
      "ml.grad_jobs" -> jobs.toDouble,
      "ml.samples_per_s" -> it.detail("train_windows") * epochs / fitS,
      "ml.rmse_var" -> it.detail("rmse_var"),
      "ml.rmse_hybrid" -> it.detail("rmse_hybrid"),
      "ml.rmse_hybrid_gru" -> it.detail("rmse_hybrid_gru"),
      "trace.layer_share" -> phases.map(last).sum / wall)
  }
}

object ForecastHybrid {
  val Slices = Seq("embb", "urllc", "mmtc")
  val Hours = 800
  val EventsPerSlice = 16000
  val UsersPerSlice = 400L
  val BaseEpoch = 1700000000L
  val Lags = 2
  val Steps = 12
  val GruEpochs = 6
  val TftEpochs = 3
  val GruDims: GruNet.Dims = GruNet.Dims(n = 7, d = 8, m = 7)
  val TftDims: TftNet.Dims = TftNet.Dims(n = 7, g1 = 8, d1 = 8, d2 = 8, heads = 4, g2 = 8, m = 7)

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
}
