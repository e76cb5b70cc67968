package graft.queries

import org.apache.spark.ml.feature.{RobustScaler, RobustScalerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DetAgg._
import graft.ml.{TftNet, TimeSeries}

/** ML / time-series suite (SURVEY §7 step 5, reference `train.py`): the
  * deterministic pieces (split, scaling, sequence windows, metrics) are
  * DuckDB-checked; the model fits (VAR Gram-solve, neural forward pass)
  * are rows-only checked here and unit-tested against closed forms in
  * VarModelSpec. */
object MlQueries {
  import QuerySpec._

  private val seriesSql = TimeSeries.featureSeriesSql

  /** ml_pca_power: embedding dim, fixed power iterations, the Gram
    * coarsening grid (divisor on the exact Σx·xᵀ cells) and the vector
    * renorm scale — sized so every product stays far inside BIGINT (see
    * the query comment). */
  val PcaDim = 64
  val PcaIters = 3
  val PcaAScale = 1000000000L
  val PcaVScale = 1000000L

  /** Oracle-dump root for the model-fit queries (pid-keyed like the pcap
    * dump: the driver's DuckDB pass reads it after this JVM exits; a later
    * JVM's dead-pid sweep reclaims it). */
  private val DumpRoot = TmpDirs.persistent(
    s"graft_mldump_${ProcessHandle.current().pid()}").getAbsolutePath

  private def finite(v: Double): Boolean = !v.isNaN && !v.isInfinite

  /** The score contract shared by the hybrid queries: every RMSE present,
    * finite, non-negative. */
  private def rmseInvariants(rows: Seq[Row]): Seq[(String, Boolean)] = {
    val vals = rows.flatMap(r => (1 until r.length).map(i =>
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))
    Seq(
      "rmse_finite" -> vals.forall(finite),
      "rmse_nonnegative" -> vals.forall(v => finite(v) && v >= 0.0))
  }

  /** The training-loop contract shared by the training queries (measured
    * engine-side; the oracle asserts each as literal true). */
  private def loopInvariants(
      h: Seq[graft.ml.Trainer.EpochLog], bestEpoch: Int, bestValLoss: Double,
      stoppedEarly: Boolean, maxEpochs: Int, minDelta: Double): Seq[(String, Boolean)] = {
    val minVal = h.map(_.valLoss).min
    Seq(
      "losses_finite" -> h.forall(e => finite(e.trainLoss) && finite(e.valLoss)),
      "lr_nonincreasing" -> h.sliding(2).forall {
        case Seq(a, b) => b.lr <= a.lr
        case _ => true
      },
      "best_is_min" -> (bestEpoch >= 1 && bestEpoch <= h.length &&
        h(bestEpoch - 1).valLoss == bestValLoss &&
        bestValLoss <= minVal + minDelta),
      "exit_consistent" -> (h.length <= maxEpochs &&
        (stoppedEarly || h.length == maxEpochs)))
  }

  /** Property-oracle bridge for the model-fit queries (closing the last
    * `no_oracle` rows — round-5 verdict #1): execute the plan ONCE, dump
    * the resulting rows as the DuckDB twin's input, and return a
    * LocalRelation over the SAME rows extended with MEASURED invariant
    * booleans. The twin echoes the dumped values and asserts each
    * invariant as the literal `true` (the sketch_rollup pattern —
    * expectation on the oracle side, measurement on the engine side), so
    * a trainer/model regression that breaks an invariant hash-mismatches
    * the gate. Collecting once is load-bearing twice over: the result
    * frames are bounded model outputs (epochs × 6, slices × metrics —
    * the same driver-side contract the reference's fit() history takes),
    * and a float plan re-executed for the dump could land ulps away from
    * the result under a different partial-sum order. */
  private[graft] def dumpWithInvariants(s: SparkSession, name: String, df: DataFrame)(
      invariants: Seq[Row] => Seq[(String, Boolean)]): DataFrame = {
    val rows = df.collect().toSeq
    val local = s.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    local.coalesce(1).write.mode("overwrite").parquet(s"$DumpRoot/$name")
    invariants(rows).foldLeft(local) {
      case (acc, (n, v)) => acc.withColumn(n, lit(v))
    }
  }

  /** Rebalance training windows across the full core count. The window
    * function that builds them shuffles BY SLICE, so the epoch jobs would
    * otherwise run on (#slices) non-empty partitions — parallelism 5 on a
    * 32-core bench, and the same cliff on a real cluster whenever slices ≪
    * executors. HASH-partition on (slice, t) with an in-partition sort:
    * `repartition(n, cols)` assigns each row to murmur3(slice, t) mod n — a
    * pure function of the VALUES, so unlike `repartitionByRange` (whose
    * RangePartitioner samples with an rdd-id-derived seed, making bounds
    * depend on the session's whole job history — round-6 ADVICE) the
    * row→partition mapping is bit-identical across runs AND across query
    * orderings within a session; the sort fixes within-partition order. The
    * trainers' partition-ordered gradient folds therefore produce the same
    * floats every run. Width follows the session (round-6 verdict #3):
    * the literal 32 matched the bench host but would silently
    * under-parallelize a larger cluster. */
  private[graft] def spreadWindows(windows: DataFrame): DataFrame = {
    val width = math.max(1,
      windows.sparkSession.sparkContext.defaultParallelism)
    windows
      .repartition(width, col("slice"), col("t"))
      .sortWithinPartitions("slice", "t")
  }

  /** A per-row UDF running a net's forward pass over `array<array<double>>`
    * windows; `predict` closes over the weights, derived once on the
    * driver. */
  private def windowUdf(predict: Array[Array[Double]] => Array[Double]) =
    udf((hist: Seq[Seq[Double]]) => predict(hist.map(_.toArray).toArray))

  /** Fixed-weight forward pass of the full [[TftNet]] stack at the
    * reference's scaled-down inference widths (7 features, GRN 16, GRU 24,
    * 4-head attention — `train.py:147-173`), with seeded [[TftNet.init]]
    * weights. */
  private def seededTftUdf() = {
    val dims = TftNet.Dims(n = 7, g1 = 16, d1 = 24, d2 = 24, heads = 4, g2 = 16, m = 7)
    val weights = TftNet.init(dims, 11L)
    windowUdf(TftNet.predict(_, weights, dims))
  }

  /** `df`'s rows collected into a LocalRelation. */
  private def collectLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Model-input prep shared by the hybrid and training queries: hourly
    * feature frame → chronological split → MLlib RobustScaler fitted on
    * train only (train.py:193-196). The hourly frame is bounded by slices ×
    * hours — the same in-memory contract the reference takes (train.py
    * loads the full KPI frame into pandas before statsmodels/keras ever
    * run). One distributed pass does the scan + hourly agg; the collected
    * frames then back LocalRelations so the model-fit actions that follow
    * (scaler fit, Gram/gradient treeAggregates, scoring) replan from local
    * rows instead of re-scanning events once per action. No cache entry is
    * created (session hygiene). */
  private def scaledLocalSeries(s: SparkSession, d: String)
      : (DataFrame, RobustScalerModel) = {
    val series = collectLocal(
      TimeSeries.withSplit(TimeSeries.featureSeries(Tables.events(s, d))))
    val assembled = new VectorAssembler()
      .setInputCols(TimeSeries.FeatCols.toArray).setOutputCol("fv")
    val train = assembled.transform(series.filter(col("split") === "train"))
    val scaler = new RobustScaler()
      .setInputCol("fv").setOutputCol("fs")
      .setWithCentering(true)
      .fit(train)
    val scaled = scaler.transform(assembled.transform(series))
      .withColumn("fs", vector_to_array(col("fs"), "float64"))
      .select(Seq(col("slice"), col("t"), col("split")) ++
        TimeSeries.FeatCols.zipWithIndex.map { case (f, i) =>
          element_at(col("fs"), i + 1).as(f)
        }: _*)
    (collectLocal(scaled), scaler)
  }

  private val dim = TimeSeries.FeatCols.length
  /** VAR lag order of the hybrid queries and ml_train. */
  private val VarP = 2
  /** History length of every residual and feature window. */
  private val Steps = 12

  /** The hybrid queries' shared start (train.py:199-207): the scaled
    * series' lag design, the VAR(2) fitted on its train split (Gram-solve,
    * VarModelSpec pins it against closed-form AR(1)), and the scaler. */
  private def hybridVar(s: SparkSession, d: String)
      : (DataFrame, TimeSeries.VarModel, RobustScalerModel) = {
    val (scaled, scaler) = scaledLocalSeries(s, d)
    // No .cache() here: a cache entry created inside a query fn is never
    // unpersisted (Verify and Bench re-invoke fns many times per session)
    // and accumulated storage eventually GC-thrashes the whole bench run.
    // Recomputing the lag design once more is cheaper than the leak.
    val lagged = TimeSeries.lagDesign(scaled, TimeSeries.FeatCols, VarP)
    (lagged, TimeSeries.fitVar(lagged.filter(col("split") === "train"), VarP, dim),
      scaler)
  }

  /** 1-step VAR forecasts `fc_i` and residuals `resid` = y − fc on every
    * lag-design row, with the row's STRICTLY-PAST 12-step residual window
    * `rhist` (rows without a full window dropped): the residual net
    * predicts resid(t) from resid(t-12..t-1) only, so the hybrid is a
    * usable 1-step forecast with no target leakage. */
  private def residualWindows(lagged: DataFrame, model: TimeSeries.VarModel): DataFrame =
    lagged.select(
      Seq(col("slice"), col("t"), col("split"), col("y")) ++
        TimeSeries.forecastCols(model): _*)
      .withColumn("resid", array((0 until dim).map(i =>
        element_at(col("y"), i + 1) - col(s"fc_$i")): _*))
      .withColumn("rhist", collect_list(col("resid")).over(
        Window.partitionBy("slice").orderBy("t").rowsBetween(-Steps, -1)))
      .filter(size(col("rhist")) === Steps)

  /** A residual net's training frame over [[residualWindows]]: x = rhist,
    * y = resid, spread across the cores. */
  private def residualTraining(windows: DataFrame): DataFrame =
    windows.select(col("slice"), col("t"), col("rhist").as("x"),
      col("resid").as("y"), col("split")).transform(spreadWindows)

  /** Hybrid recombination (train.py:251-261) scored on the test split
    * (M9): per slice and feature, the RMSE of the VAR forecast and of VAR +
    * the residual net `nn` over `rhist`, dumped with the score invariants
    * (every RMSE present, finite, non-negative). */
  private def scoreHybrid(s: SparkSession, name: String, windows: DataFrame,
      nn: UserDefinedFunction): DataFrame = {
    val withNn = windows
      // Spread the residual-net forward pass past the by-slice window's
      // (#slices)-partition shape (deterministic hash partitioning).
      .transform(spreadWindows)
      .withColumn("nn", nn(col("rhist")))
    val errCols = (0 until dim).flatMap { i =>
      val hybrid = col(s"fc_$i") + element_at(col("nn"), i + 1)
      Seq((element_at(col("y"), i + 1) - hybrid).as(s"eh_$i"),
        (element_at(col("y"), i + 1) - col(s"fc_$i")).as(s"ev_$i"))
    }
    val test = withNn.filter(col("split") === "test")
      .select(Seq(col("slice")) ++ errCols: _*)
    val metricCols = (0 until dim).flatMap(i => Seq(
      sqrt(avg(col(s"ev_$i") * col(s"ev_$i"))).as(s"rmse_var_$i"),
      sqrt(avg(col(s"eh_$i") * col(s"eh_$i"))).as(s"rmse_hybrid_$i")))
    val scored = test.groupBy("slice").agg(metricCols.head, metricCols.tail: _*)
    dumpWithInvariants(s, name, scored)(rmseInvariants)
  }

  /** Oracle of a hybrid query: echo the dumped RMSEs, assert the score
    * invariants as literal true. */
  private def hybridOracleSql(name: String): String =
    s"""SELECT slice,
       |${(0 until dim).flatMap(i =>
      Seq(s"  rmse_var_$i", s"  rmse_hybrid_$i")).mkString(",\n")},
       |  true AS rmse_finite, true AS rmse_nonnegative
       |FROM read_parquet('$DumpRoot/$name/*.parquet')""".stripMargin

  /** Strictly-past 12-step windows of the scaled feature vector → the
    * next-step vector, the reference's make_seq shape (train.py:223-232),
    * spread across the cores. */
  private def featureWindows(scaled: DataFrame): DataFrame =
    scaled
      .withColumn("fv", array(TimeSeries.FeatCols.map(col): _*))
      .withColumn("x", collect_list(col("fv")).over(
        Window.partitionBy("slice").orderBy("t").rowsBetween(-Steps, -1)))
      .withColumn("y", col("fv"))
      .filter(size(col("x")) === Steps)
      .select(col("slice"), col("t"), col("x"), col("y"), col("split"))
      .transform(spreadWindows)

  /** A trainer's per-epoch history (the reference fit()'s loss curve, val
    * curve and LR schedule) with the loop's exit state. */
  private def historyFrame(s: SparkSession, h: Seq[graft.ml.Trainer.EpochLog],
      bestEpoch: Int, stoppedEarly: Boolean): DataFrame = {
    import s.implicits._
    h.toDF().select(col("epoch"),
      col("trainLoss").as("train_loss"),
      col("valLoss").as("val_loss"),
      col("lr"),
      lit(bestEpoch).as("best_epoch"),
      lit(stoppedEarly).as("stopped_early"))
  }

  /** Oracle of a training query: echo the dumped history, assert the loop
    * contract as literal true. */
  private def historyOracleSql(name: String): String =
    s"""SELECT epoch, train_loss, val_loss, lr, best_epoch, stopped_early,
       |  true AS losses_finite, true AS lr_nonincreasing,
       |  true AS best_is_min, true AS exit_consistent
       |FROM read_parquet('$DumpRoot/$name/*.parquet')""".stripMargin

  /** Split + train-quantile CTEs shared by the checked queries' oracles. */
  private val taggedSql =
    s"""series AS ($seriesSql),
       |s AS (SELECT *, row_number() OVER (PARTITION BY slice ORDER BY t) AS rn,
       |        count(*) OVER (PARTITION BY slice) AS n FROM series),
       |tagged AS (SELECT *, CASE WHEN rn * 10 <= n * 7 THEN 'train'
       |    WHEN rn * 100 <= n * 85 THEN 'val' ELSE 'test' END AS split FROM s)""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    // M1 + M2: chronological 70/15/15 split, robust scaling with
    // median/IQR fitted on the train partition only (train.py:186-196).
    // Quantiles are TYPE-1 (exact rank, value at ceil(n·p)) rather than
    // interpolated: Spark `percentile` and DuckDB `quantile_cont`
    // interpolate with different IEEE op orders and drift by ulps, while
    // an order statistic is an actual data value — bit-identical by
    // construction.
    checked("ml_split_scale", {
      val feats = Seq("f_events", "f_total", "f_users")
      val rankCtes = feats.map { f =>
        s"""rk_$f AS (
           |  SELECT slice,
           |    max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.5) AS BIGINT)) THEN $f END) AS med,
           |    max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.75) AS BIGINT)) THEN $f END) -
           |    max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.25) AS BIGINT)) THEN $f END) AS iqr
           |  FROM (SELECT slice, $f,
           |      row_number() OVER (PARTITION BY slice ORDER BY $f) AS rn,
           |      count(*) OVER (PARTITION BY slice) AS n
           |    FROM tagged WHERE split = 'train')
           |  GROUP BY slice)""".stripMargin
      }.mkString(",\n")
      val scaled = feats.map(f =>
        s"${sqlR6(s"(t1.$f - rk_$f.med) / (CASE WHEN rk_$f.iqr = 0 THEN 1.0 ELSE rk_$f.iqr END)")} AS ${f}_scaled")
        .mkString(",\n  ")
      s"""WITH $taggedSql,
         |$rankCtes
         |SELECT t1.slice, t1.t, t1.split,
         |  $scaled
         |FROM tagged t1 ${feats.map(f => s"JOIN rk_$f ON t1.slice = rk_$f.slice").mkString(" ")}""".stripMargin
    }) { (s, d) =>
      val feats = Seq("f_events", "f_total", "f_users")
      val series = TimeSeries.withSplit(TimeSeries.featureSeries(Tables.events(s, d)))
      val train = series.filter(col("split") === "train")
      def rankStats(f: String) = {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("slice").orderBy(f)
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy("slice")
        def at(p: Double) = max(when(col("rn") ===
          greatest(lit(1L), ceil(col("n") * p).cast("long")), col(f)))
        train.select(col("slice"), col(f),
            row_number().over(w).as("rn"), count(lit(1)).over(wAll).as("n"))
          .groupBy("slice")
          .agg(at(0.5).as(s"${f}_med"), (at(0.75) - at(0.25)).as(s"${f}_iqr"))
      }
      val joined = feats.foldLeft(series)((df, f) => df.join(broadcast(rankStats(f)), "slice"))
      joined.select(col("slice") +: col("t") +: col("split") +:
        feats.map(f => r6((col(f) - col(s"${f}_med")) /
          when(col(s"${f}_iqr") === 0, 1.0).otherwise(col(s"${f}_iqr"))).as(s"${f}_scaled")): _*)
    },

    // M9: persistence-baseline forecast metrics — RMSE/MAE per slice of the
    // lag-1 forecast on the hourly series (the naive anchor every model in
    // train.py:264-269 is scored against).
    checked("ml_metrics",
      s"""WITH series AS ($seriesSql),
         |e AS (SELECT slice,
         |    f_total - lag(f_total, 1) OVER (PARTITION BY slice ORDER BY t) AS err
         |  FROM series)
         |SELECT slice, count(err) AS n,
         |  ${sqlR6(s"sqrt(${sqlSumRaw("err * err")} / count(err))")} AS rmse,
         |  ${sqlR6(s"${sqlSumRaw("abs(err)")} / count(err)")} AS mae
         |FROM e GROUP BY slice""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("slice").orderBy("t")
      TimeSeries.featureSeries(Tables.events(s, d))
        .withColumn("err", col("f_total") - lag(col("f_total"), 1).over(w))
        .groupBy("slice")
        .agg(count(col("err")).as("n"),
          r6(sqrt(dsumRaw(col("err") * col("err")) / count(col("err")))).as("rmse"),
          r6(dsumRaw(abs(col("err"))) / count(col("err"))).as("mae"))
    },

    // M5/W2: supervised sequence windows — 12-step history + 1-step lead
    // label per (slice, t), full windows only (train.py:223-232). The
    // window is built as an array, then posexploded to (pos, h) rows in the
    // final projection: the driver's row-sort/hash comparator can't order
    // array cells, and the flat form is hash-checkable on both engines
    // (DuckDB zips the two unnests positionally).
    checked("ml_seq_windows",
      s"""WITH series AS ($seriesSql),
         |w AS (SELECT slice, t,
         |    list(${sqlR6("f_total")}) OVER (PARTITION BY slice ORDER BY t
         |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS hist,
         |    lead(f_total, 1) OVER (PARTITION BY slice ORDER BY t) AS label
         |  FROM series)
         |SELECT slice, t, unnest(range(0, 12)) AS pos, unnest(hist) AS h,
         |  ${sqlR6("label")} AS label
         |FROM w WHERE len(hist) = 12 AND label IS NOT NULL""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("slice").orderBy("t")
      val wHist = w.rowsBetween(-11, Window.currentRow)
      TimeSeries.featureSeries(Tables.events(s, d))
        .withColumn("hist", collect_list(r6(col("f_total"))).over(wHist))
        .withColumn("label", lead(col("f_total"), 1).over(w))
        .filter(size(col("hist")) === 12 && col("label").isNotNull)
        .select(col("slice"), col("t"),
          posexplode(col("hist")).as(Seq("p", "h")), r6(col("label")).as("label"))
        .select(col("slice"), col("t"), col("p").cast("long").as("pos"),
          col("h"), col("label"))
    },

    // M2(MLlib)+M3+M4+M8+M9 end-to-end: MLlib RobustScaler (fit on train) →
    // VAR(2) via treeAggregate Gram + breeze solve → 1-step forecasts as
    // column expressions → neural residual model over 12-step residual
    // windows → hybrid = VAR + residual-net → RMSE per feature on the test
    // split. The fit itself isn't SQL-expressible; the oracle echoes the
    // dumped result and asserts the measured score invariants (every RMSE
    // present, finite, non-negative) as literal-true booleans.
    // VarModelSpec pins the math against closed-form AR(1).
    checked("ml_var_hybrid", hybridOracleSql("ml_var_hybrid")) { (s, d) =>
      val (lagged, fitted, scaler) = hybridVar(s, d)
      // S11 model sink: round-trip the fitted VAR + scaler stats through
      // the JSON persistence path (train.py:271 saves its model the same
      // way) and score with the RELOADED model. ModelIO round-trips
      // doubles bit-exactly, so the query output is unchanged — but every
      // run now exercises save → load end-to-end.
      val mpath = java.nio.file.Files.createTempFile("graft-var-model", ".json")
      val model = try {
        graft.ml.ModelIO.save(fitted,
          Some(graft.ml.ModelIO.ScalerParams(
            scaler.median.toArray, scaler.range.toArray)),
          mpath.toString)
        graft.ml.ModelIO.load(mpath.toString).model
      } finally java.nio.file.Files.deleteIfExists(mpath)
      // neural residual prediction over the residual window (M6/M7)
      scoreHybrid(s, "ml_var_hybrid", residualWindows(lagged, model), seededTftUdf())
    },

    // The reference's FULL Phase-4 lifecycle with a residual model that is
    // actually TRAINED (train.py:199-261 end-to-end): scale → VAR(2) fit →
    // 1-step forecasts → residuals → GruNet fitted by BPTT on the
    // strictly-past 12-step residual windows → hybrid = VAR + trained-GRU
    // residual prediction → RMSE per feature on the test split, against
    // the VAR-only baseline. ml_var_hybrid above scores with fixed seeded
    // TftNet weights (pinning the full GRN/attention stack's inference);
    // this query is the trained counterpart. Same dump-echo property
    // oracle.
    checked("ml_hybrid_trained", hybridOracleSql("ml_hybrid_trained")) { (s, d) =>
      val (lagged, varModel, _) = hybridVar(s, d)
      val windows = residualWindows(lagged, varModel)
      val net = graft.ml.GruNet.fit(residualTraining(windows),
        graft.ml.GruNet.Dims(n = dim, d = 8, m = dim),
        graft.ml.Trainer.Config(lr = 0.02, maxEpochs = 30, patience = 8,
          minDelta = 1e-6, plateauPatience = 6))
      val (dims, weights) = (net.dims, net.weights)
      scoreHybrid(s, "ml_hybrid_trained", windows,
        windowUdf(graft.ml.GruNet.predict(_, weights, dims)))
    },

    // The reference pipeline LITERALLY: train.py trains the full
    // GRN→GRU→GRU→attention stack on VAR residuals and recombines
    // (train.py:199-261 with the build_model architecture, not a reduced
    // core). ml_hybrid_trained pins the lifecycle with the GRU-core
    // residual model; this is the same lifecycle with the FULL TftNet —
    // the closest thing to running the reference end-to-end on this
    // engine. Smaller epoch budget than ml_train_tft: the lifecycle is
    // the pin here, per-layer gradients are pinned there.
    checked("ml_hybrid_tft", hybridOracleSql("ml_hybrid_tft")) { (s, d) =>
      val (lagged, varModel, _) = hybridVar(s, d)
      val windows = residualWindows(lagged, varModel)
      val net = graft.ml.TftNet.fit(residualTraining(windows),
        graft.ml.TftNet.Dims(n = dim, g1 = 8, d1 = 8, d2 = 8, heads = 4,
          g2 = 8, m = dim),
        graft.ml.Trainer.Config(lr = 0.02, maxEpochs = 10, patience = 5,
          minDelta = 1e-6, plateauPatience = 4))
      // S11 for the NEURAL model too (train.py:271 saves model.h5): score
      // with the save→load round-tripped weights — ModelIO preserves
      // doubles bit-exactly, so the output is unchanged while every run
      // exercises neural persistence end-to-end.
      val dims = net.dims
      val mpath = java.nio.file.Files.createTempFile("graft-tft-model", ".json")
      val weights = try {
        graft.ml.ModelIO.saveNet(
          Seq(dims.n, dims.g1, dims.d1, dims.d2, dims.heads, dims.g2, dims.m),
          net.weights, "tft", mpath.toString)
        graft.ml.ModelIO.loadNet(mpath.toString, "tft",
          Some(net.weights.length))._2
      } finally java.nio.file.Files.deleteIfExists(mpath)
      scoreHybrid(s, "ml_hybrid_tft", windows,
        windowUdf(graft.ml.TftNet.predict(_, weights, dims)))
    },

    // M6/M7 direct surface: hybrid-network forward pass over feature
    // sequence windows (batch inference — per-row UDF, no shuffle beyond
    // the window sort). Oracle: dump echo + measured-finite invariant
    // (the forward pass must never emit NaN/Inf on real feature windows —
    // TftNetSpec pins the math, this pins the full-plan composition).
    checked("ml_gru_infer",
      s"""SELECT slice, t,
         |${(0 until TimeSeries.FeatCols.length).map(i => s"  pred_$i").mkString(",\n")},
         |  true AS preds_finite
         |FROM read_parquet('$DumpRoot/ml_gru_infer/*.parquet')""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("slice").orderBy("t")
      val nnUdf = seededTftUdf()
      // Per-dimension pred columns (not one array column): the driver's
      // row-sort/hash comparator can't handle array cells.
      val preds = TimeSeries.featureSeries(Tables.events(s, d))
        .withColumn("fv", array(TimeSeries.FeatCols.map(col): _*))
        .withColumn("hist", collect_list(col("fv")).over(w.rowsBetween(-11, Window.currentRow)))
        .filter(size(col("hist")) === 12)
        // The by-slice window leaves (#slices) partitions; spread the
        // per-row forward pass across the full core count (deterministic
        // hash partitioning — see spreadWindows).
        .transform(spreadWindows)
        .withColumn("pred", nnUdf(col("hist")))
        .select(Seq(col("slice"), col("t")) ++
          (0 until dim).map(i => element_at(col("pred"), i + 1).as(s"pred_$i")): _*)
      dumpWithInvariants(s, "ml_gru_infer", preds) { rows =>
        Seq("preds_finite" -> rows.forall(r =>
          (2 until r.length).forall(i => !r.isNullAt(i) && finite(r.getDouble(i)))))
      }
    },

    // M7 training-loop counterpart (the one reference capability that had
    // no engine analogue): Huber + Adam + EarlyStopping + ReduceLROnPlateau
    // over the VAR-shaped lagged design, one distributed gradient pass per
    // epoch (graft.ml.Trainer). Output = the per-epoch history the
    // reference's fit() returns (loss curve, val curve, LR schedule) plus
    // the loop's exit state. Gradient descent isn't SQL-expressible; the
    // oracle echoes the dumped history and asserts the LOOP CONTRACT as
    // measured booleans: losses finite, ReduceLROnPlateau can only lower
    // the LR, restore_best_weights restored the true val minimum (within
    // minDelta — a later sub-minDelta improvement legitimately doesn't
    // update best), and the loop exited by EarlyStopping or the epoch cap.
    // TrainerSpec pins convergence to the closed-form OLS solution.
    checked("ml_train", historyOracleSql("ml_train")) { (s, d) =>
      val maxEpochs = 120
      val minDelta = 1e-5
      val (scaled, _) = scaledLocalSeries(s, d)
      val lagged = TimeSeries.lagDesign(scaled, TimeSeries.FeatCols, VarP)
      val t = graft.ml.Trainer.fit(lagged, VarP, dim,
        graft.ml.Trainer.Config(lr = 0.02, maxEpochs = maxEpochs, patience = 15,
          minDelta = minDelta))
      dumpWithInvariants(s, "ml_train",
        historyFrame(s, t.history, t.bestEpoch, t.stoppedEarly)) { _ =>
        loopInvariants(t.history, t.bestEpoch, t.bestValLoss, t.stoppedEarly,
          maxEpochs, minDelta)
      }
    },

    // M7 closed ALL the way: the GRU itself trained end-to-end — exact
    // analytic backpropagation through time (update/reset gates, candidate
    // state, mean-pool, dense head; GruNetSpec pins every partial against
    // central finite differences), distributed exactly like ml_train (one
    // flat O(|θ|) gradient partial per partition per epoch, partition-
    // ordered fold, Adam + EarlyStopping + ReduceLROnPlateau on the
    // driver). Input: 12-step windows of the scaled feature series →
    // next-step feature vector, the reference's make_seq shape
    // (train.py:223-232). Same property oracle as ml_train.
    checked("ml_train_gru", historyOracleSql("ml_train_gru")) { (s, d) =>
      val maxEpochs = 40
      val minDelta = 1e-6
      val t = graft.ml.GruNet.fit(featureWindows(scaledLocalSeries(s, d)._1),
        graft.ml.GruNet.Dims(n = dim, d = 8, m = dim),
        graft.ml.Trainer.Config(lr = 0.02, maxEpochs = maxEpochs,
          patience = 10, minDelta = minDelta, plateauPatience = 8))
      dumpWithInvariants(s, "ml_train_gru",
        historyFrame(s, t.history, t.bestEpoch, t.stoppedEarly)) { _ =>
        loopInvariants(t.history, t.bestEpoch, t.bestValLoss, t.stoppedEarly,
          maxEpochs, minDelta)
      }
    },

    // The reference's ENTIRE architecture trained end-to-end — per-step
    // GRN → GRU → GRU → 4-head attention → residual LayerNorm → global
    // mean-pool → GRN → Dense (train.py:147-173), every layer's gradient
    // derived analytically and finite-difference-pinned in TftNetSpec.
    // ml_train_gru isolates the recurrence; this closes the rest (GLU
    // gates, softmax attention, learnable LayerNorms). Same strictly-past
    // window shape, same distributed gradient loop, same loop-contract
    // property oracle.
    checked("ml_train_tft", historyOracleSql("ml_train_tft")) { (s, d) =>
      val maxEpochs = 25
      val minDelta = 1e-6
      val t = graft.ml.TftNet.fit(featureWindows(scaledLocalSeries(s, d)._1),
        graft.ml.TftNet.Dims(n = dim, g1 = 8, d1 = 12, d2 = 8, heads = 4,
          g2 = 8, m = dim),
        graft.ml.Trainer.Config(lr = 0.02, maxEpochs = maxEpochs,
          patience = 8, minDelta = minDelta, plateauPatience = 6))
      dumpWithInvariants(s, "ml_train_tft",
        historyFrame(s, t.history, t.bestEpoch, t.stoppedEarly)) { _ =>
        loopInvariants(t.history, t.bestEpoch, t.bestValLoss, t.stoppedEarly,
          maxEpochs, minDelta)
      }
    },

    // The CLASSIFICATION trainer — distributed logistic regression (the
    // quality-classifier shape of a data pipeline: CCNet/GPT-3 filters
    // are linear classifiers over cheap features), the one objective
    // family (sigmoid + BCE) the three regression trainers above don't
    // exercise. Task: embeddings label 0-vs-rest from the raw 64-d
    // vector + bias. The synthetic labels carry only WEAK linear signal
    // (class-mean separation ≈ 0.5 σ), so the pinned contract is honest
    // about what it claims: the standard training-loop invariants plus
    // `beats_uninformed` — best val BCE strictly below ln 2, the
    // zero-weight model's loss; learning the bias term alone guarantees
    // it on the imbalanced label (base-rate calibration ≈ 0.33 nats),
    // so the gate is robust while still failing if the loop stops
    // optimizing. Same scale contract as every trainer here: one
    // O(|θ|) partial per partition, value-deterministic partitioning,
    // model-sized driver state.
    checked("ml_train_logreg",
      s"""SELECT epoch, train_loss, val_loss, lr, best_epoch, stopped_early,
         |  val_accuracy, val_majority_share,
         |  true AS losses_finite, true AS lr_nonincreasing,
         |  true AS best_is_min, true AS exit_consistent,
         |  true AS beats_uninformed
         |FROM read_parquet('$DumpRoot/ml_train_logreg/*.parquet')""".stripMargin) { (s, d) =>
      val maxEpochs = 60
      val minDelta = 1e-6
      val nFeat = 65 // bias + 64 dims
      val rows = Tables.embeddings(s, d)
        .select(col("vec_id"),
          concat(array(lit(1.0)),
            transform(col("embedding"), x => x.cast("double"))).as("x"),
          when(col("label") === 0, 1.0).otherwise(0.0).as("y"),
          when(col("vec_id") % 5 === 4, "val").otherwise("train").as("split"))
      // Value-deterministic layout (the spreadWindows rationale): the
      // partition-ordered gradient fold must see the same rows in the
      // same partitions every run.
      val width = math.max(1, s.sparkContext.defaultParallelism)
      val spread = rows.repartition(width, col("vec_id"))
        .sortWithinPartitions("vec_id")
      val t = graft.ml.LogReg.fit(spread, nFeat,
        graft.ml.Trainer.Config(lr = 0.3, maxEpochs = maxEpochs,
          patience = 10, minDelta = minDelta))
      val hist = historyFrame(s, t.history, t.bestEpoch, t.stoppedEarly)
        .withColumn("val_accuracy", lit(t.valAccuracy))
        .withColumn("val_majority_share", lit(t.valMajorityShare))
      dumpWithInvariants(s, "ml_train_logreg", hist) { _ =>
        loopInvariants(t.history, t.bestEpoch, t.bestValLoss, t.stoppedEarly,
          maxEpochs, minDelta) :+
          ("beats_uninformed" -> (t.bestValLoss < math.log(2.0)))
      }
    },

    // Isotonic (PAV) probability calibration — the production
    // calibration tool beside the binned reliability diagram
    // ml_calibration_bins measures: fit the monotone step function
    // mapping a raw score to an empirical probability. Task: score =
    // floor(value) (the integer magnitude bin — a bounded grid, so the
    // pooled state is bounded model state at any corpus size), target =
    // (event_type = 'purchase'). Distributed shape: ONE groupBy(score)
    // scan with map-side combine produces exact BIGINT (hits, cnt) per
    // bin; the PAV fixpoint then runs driver-side on that bounded state
    // in pure integer arithmetic (graft.ml.Pav — cross-multiplied merge
    // compares, division only at output). Round-11 oracle upgrade: the
    // DuckDB twin COMPUTES the fit via the minimax identity
    // fit_t = max_{j<=t} min_{k>=t} avg[j..k] (Robertson-Wright-Dykstra)
    // over ~n²/2 prefix-sum windows (n = |score grid| ≈ 400 → ~80 k
    // rows), replacing the round-10 dump-echo. Bit-exactness is PROVED,
    // not hoped: every window avg is one correctly-rounded division of
    // exact integers, IEEE rounding is monotone so min/max commute with
    // it, hence the double minimax equals round(hits_B/cnt_B) of the PAV
    // block — the exact division Pav emits (proof in Pav.scala's
    // Scaladoc; IsotonicPavSpec cross-checks the fit against MLlib's
    // IsotonicRegression, whose weighted float pooling is ulp-close but
    // not oracle-exact). Contract booleans are now COMPUTED by both
    // engines from their own fit: monotone nondecreasing predictions,
    // predictions in [0,1], and total (hits, cnt) mass preserved by the
    // block partition (the PAV mean-preservation identity, asserted as
    // an exact integer equality).
    checked("ml_isotonic_calibration",
      """WITH pooled AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS score,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        |      AS hits,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |pre AS (
        |  SELECT score, hits, cnt,
        |    row_number() OVER (ORDER BY score) AS t,
        |    sum(hits)   OVER (ORDER BY score) AS sh,
        |    sum(cnt)    OVER (ORDER BY score) AS sc
        |  FROM pooled),
        |win AS (
        |  SELECT a.t AS j, b.t AS k,
        |    CAST(b.sh - a.sh + a.hits AS DOUBLE)
        |      / CAST(b.sc - a.sc + a.cnt AS DOUBLE) AS q
        |  FROM pre a JOIN pre b ON a.t <= b.t),
        |sfx AS (
        |  SELECT j, k AS t,
        |    min(q) OVER (PARTITION BY j ORDER BY k DESC) AS mn
        |  FROM win),
        |fit AS (SELECT t, max(mn) AS f FROM sfx GROUP BY t),
        |marked AS (
        |  SELECT p.t, p.score, p.hits, p.cnt, f.f,
        |    CASE WHEN f.f = lag(f.f) OVER (ORDER BY p.t) THEN 0 ELSE 1 END
        |      AS brk
        |  FROM pre p JOIN fit f ON p.t = f.t),
        |blocks AS (
        |  SELECT CAST(sum(brk) OVER (ORDER BY t) AS BIGINT) AS idx,
        |    score, hits, cnt, f FROM marked),
        |rows_ AS (
        |  SELECT idx, min(score) AS score_lo, max(score) AS score_hi,
        |    CAST(sum(hits) AS BIGINT) AS n_hits,
        |    CAST(sum(cnt) AS BIGINT) AS n_events,
        |    min(f) AS prediction
        |  FROM blocks GROUP BY idx),
        |laged AS (
        |  SELECT *, lag(prediction) OVER (ORDER BY idx) AS prev
        |  FROM rows_),
        |contract AS (
        |  SELECT
        |    bool_and(prev IS NULL OR prediction >= prev) AS monotone,
        |    bool_and(prediction >= 0.0 AND prediction <= 1.0)
        |      AS in_unit_range,
        |    sum(n_hits) = (SELECT sum(hits) FROM pooled)
        |      AND sum(n_events) = (SELECT sum(cnt) FROM pooled)
        |      AS mean_preserved
        |  FROM laged)
        |SELECT idx, score_lo, score_hi, n_events, n_hits, prediction,
        |  monotone, in_unit_range, mean_preserved
        |FROM rows_, contract""".stripMargin) { (s, d) =>
      val pooled = Tables.events(s, d)
        .groupBy(floor(col("value")).cast("long").as("score"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("hits"),
          count(lit(1)).as("cnt"))
      // bounded model state: one row per integer magnitude bin — the
      // quantizer-collect contract (|grid| ≈ max value, not corpus rows)
      val pts = pooled.orderBy("score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val blocks = graft.ml.Pav.fit(pts)
      val totalHits = pts.map(_._2).sum
      val totalCnt = pts.map(_._3).sum
      val monotone = blocks.sliding(2).forall {
        case Seq(a, b) => a.prediction <= b.prediction
        case _ => true
      }
      val inUnit = blocks.forall(b => b.prediction >= 0.0 && b.prediction <= 1.0)
      val massOk = blocks.map(_.hits).sum == totalHits &&
        blocks.map(_.cnt).sum == totalCnt
      import s.implicits._
      blocks.zipWithIndex.map { case (b, i) =>
        (i + 1L, b.scoreLo, b.scoreHi, b.cnt, b.hits, b.prediction,
          monotone, inUnit, massOk)
      }.toDF("idx", "score_lo", "score_hi", "n_events", "n_hits",
        "prediction", "monotone", "in_unit_range", "mean_preserved")
    },

    // Dominant principal direction of the embedding corpus — power
    // iteration on the (uncentered) second-moment matrix A = Σ x·xᵀ, the
    // dimensionality-reduction primitive behind randomized SVD / spectral
    // dedup. Declared semantics: PcaIters fixed iterations from the
    // all-ones vector, every step integer-exact — A is exact BIGINT sums
    // (≤ n·1e12 per cell), coarsened once to a 1e9 grid so each
    // matrix-vector product stays ≤ ~64·5e6·1e6 ≈ 3e14 ≪ 2^63, and
    // renormalization is the double-truncating w div (max|w| div 1e6)
    // (divisor-first so w·1e6 never materializes; trunc division matches
    // // on both engines for either sign). Distributed shape: the Gram
    // accumulates via mapPartitions carrying ONE 64×64 long array per
    // partition — the documented last-resort imperative case (SURVEY
    // §4.3d), because the declarative form (posexplode²) multiplies the
    // corpus 4 096× BEFORE its shuffle while this emits exactly 4 096
    // longs per partition (MLlib RowMatrix.computeGramianMatrix's
    // treeAggregate shape; at 100 TB only partials cross the wire). The
    // 64×64 driver solve is bounded model state, the quantizer contract.
    checked("ml_pca_power", {
      val vCtes = (1 to PcaIters).map { k =>
        s"""w$k AS (SELECT g.i, CAST(sum(g.a * v${k - 1}.c) AS BIGINT) AS w
           |  FROM g JOIN v${k - 1} ON g.j = v${k - 1}.i GROUP BY g.i),
           |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
           |v$k AS (SELECT i, w // (m // $PcaVScale) AS c FROM w$k, m$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH sv0 AS (SELECT vec_id, ${graft.functions.TextFns.sqlScaledVec(
            "embedding")} AS v FROM embeddings),
         |g AS (SELECT i.range AS i, j.range AS j,
         |    CAST(sum(v[i.range] * v[j.range]) AS BIGINT) // $PcaAScale AS a
         |  FROM sv0, range(1, ${PcaDim + 1}) i, range(1, ${PcaDim + 1}) j
         |  GROUP BY 1, 2),
         |v0 AS (SELECT range AS i, CAST($PcaVScale AS BIGINT) AS c
         |  FROM range(1, ${PcaDim + 1})),
         |$vCtes
         |SELECT v.i AS idx, v.c AS comp, m.m AS lam_scaled
         |FROM v$PcaIters v, m$PcaIters m""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val dim = PcaDim
      val partials = Tables.embeddings(s, d)
        .select(graft.functions.TextFns.scaledVec(col("embedding")).as("v"))
        .as[Seq[Long]]
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val acc = Array.ofDim[Long](dim * dim)
            it.foreach { v =>
              var i = 0
              while (i < dim) {
                val vi = v(i); var j = 0
                while (j < dim) { acc(i * dim + j) += vi * v(j); j += 1 }
                i += 1
              }
            }
            Iterator.tabulate(dim * dim)(k => (k, acc(k)))
          }
        }
        .toDF("k", "partial")
      val a = partials.groupBy("k").agg(sum(col("partial")).as("cell"))
        .collect().map(r => r.getInt(0) -> r.getLong(1) / PcaAScale).toMap
      var vv = Array.fill(dim)(PcaVScale)
      var m = 0L
      for (_ <- 1 to PcaIters) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).map(j => a(i * dim + j) * vv(j)).sum)
        m = w.map(math.abs).max
        require(m >= PcaVScale,
          s"power iteration collapsed: max|w| = $m below the renorm grid")
        vv = w.map(_ / (m / PcaVScale))
      }
      val rows = (0 until dim).map(i => (i + 1L, vv(i), m))
      rows.toDF("idx", "comp", "lam_scaled")
    })
}
