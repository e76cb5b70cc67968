package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DetAgg._

/** Time-series operators — the Spark-native restatement of the reference's
  * forecasting pipeline (`train.py`): feature series → chronological split →
  * robust scaling → VAR(p) fit → 1-step forecasts → residuals (SURVEY §2.10
  * M1-M4, M8, M9).
  *
  * The VAR fit replaces statsmodels (`train.py:199-202`) with per-equation
  * OLS solved from normal equations: executors reduce the (1+d·p)² Gram
  * matrix X'X and X'y with a single `treeAggregate`, the driver solves the
  * d small systems with breeze. Only O((d·p)²) floats cross the boundary —
  * the fit costs one pass over the series regardless of length, which is
  * what makes it 100 TB-safe (SURVEY §7 step 5).
  */
object TimeSeries {

  /** Hourly 7-feature series per slice from the events table — the
    * engine's analogue of train.py's 7-KPI feature frame (`train.py:52-61`).
    * All aggregates exact (decimal sums / integer counts), so both engines
    * see bit-identical series. */
  def featureSeries(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("slice"),
        date_trunc("hour", col("ts")).as("t"))
      .agg(
        count(lit(1)).cast("double").as("f_events"),
        dsumRaw(col("value")).as("f_total"),
        (dsumRaw(col("value")) / count(lit(1))).as("f_avg"),
        min(col("value")).as("f_min"),
        max(col("value")).as("f_max"),
        dcountDistinct(col("user_id")).cast("double").as("f_users"),
        dsumRaw(graft.functions.JsonFns.jsonInt(col("props"), "k")).as("f_ksum"))

  val FeatCols: Seq[String] =
    Seq("f_events", "f_total", "f_avg", "f_min", "f_max", "f_users", "f_ksum")

  /** DuckDB twin of [[featureSeries]]. */
  val featureSeriesSql: String =
    s"""SELECT event_type AS slice, date_trunc('hour', ts) AS t,
       |  CAST(count(*) AS DOUBLE) AS f_events,
       |  ${sqlSumRaw("value")} AS f_total,
       |  ${sqlSumRaw("value")} / count(*) AS f_avg,
       |  min(value) AS f_min,
       |  max(value) AS f_max,
       |  CAST(count(DISTINCT user_id) AS DOUBLE) AS f_users,
       |  ${sqlSumRaw(graft.functions.JsonFns.sqlJsonInt("props", "k"))} AS f_ksum
       |FROM events GROUP BY 1, 2""".stripMargin.replace("$$", "$")

  /** Chronological 70/15/15 split tag (`train.py:186-190` — M1). Ordered
    * `row_number`/`count` percentile, never `randomSplit`: order matters. */
  def withSplit(series: DataFrame): DataFrame = {
    val w = Window.partitionBy("slice").orderBy("t")
    val wAll = Window.partitionBy("slice")
    series
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      // Integer boundary arithmetic: `rn <= n*0.7` is a DECIMAL product in
      // DuckDB but a double product on the JVM (470*0.7 = 328.999…), so the
      // boundary row can switch splits. rn*10 <= n*7 is exact everywhere.
      .withColumn("split",
        when(col("rn") * 10 <= col("n") * 7, "train")
          .when(col("rn") * 100 <= col("n") * 85, "val")
          .otherwise("test"))
      .drop("rn", "n")
  }

  /** A fitted VAR(p): dim equations, coefficient matrix (dim × (1+dim·p)),
    * column 0 = intercept. */
  final case class VarModel(p: Int, dim: Int, coef: DenseMatrix[Double])

  /** Fit VAR(p) by per-equation OLS on the lagged design matrix.
    *
    * @param lagged rows carrying `y` (array of dim targets) and `x`
    *               (array of dim·p lagged features, most-recent lag first)
    */
  def fitVar(lagged: DataFrame, p: Int, dim: Int): VarModel = {
    val k = 1 + dim * p
    val rows = lagged.select(col("x"), col("y")).rdd.map { r =>
      (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
    }
    // Gram accumulation: xtx (k×k), xty (k×dim) — associative, map-side
    // combined by treeAggregate; only these matrices reach the driver.
    val zero = (DenseMatrix.zeros[Double](k, k), DenseMatrix.zeros[Double](k, dim))
    val (xtx, xty) = rows.treeAggregate(zero)(
      seqOp = { case ((a, b), (xs, ys)) =>
        val x = DenseVector(1.0 +: xs)
        val y = DenseVector(ys)
        (a + x * x.t, b + x * y.t)
      },
      combOp = { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) })
    // Ridge epsilon keeps near-collinear series solvable (train.py falls
    // back to raw data on singular fits — :217-220; we regularize instead).
    val reg = DenseMatrix.eye[Double](k) * 1e-9
    val beta = inv(xtx + reg) * xty // k × dim
    VarModel(p, dim, beta.t)
  }

  /** Lagged design over a per-slice series: y = current features,
    * x = p stacked lags (l=1..p). Rows with incomplete history dropped —
    * matches statsmodels' sample trimming. */
  def lagDesign(series: DataFrame, featCols: Seq[String], p: Int): DataFrame = {
    val w = Window.partitionBy("slice").orderBy("t")
    val lagCols = (1 to p).flatMap(l => featCols.map(c => lag(col(c), l).over(w)))
    series
      .withColumn("y", array(featCols.map(col): _*))
      .withColumn("x", array(lagCols: _*))
      .filter(!array_contains(transform(col("x"), v => v.isNull), true))
  }

  /** 1-step VAR forecast as a column expression: broadcast-free literal
    * coefficient matrix folded into the plan (M4) — ŷ_i = c_i + Σ β_ij x_j.
    * Pure per-row arithmetic: no shuffle, codegen-friendly. */
  def forecastCols(model: VarModel): Seq[Column] =
    (0 until model.dim).map { i =>
      val terms = (0 until model.dim * model.p).map { j =>
        element_at(col("x"), j + 1) * model.coef(i, j + 1)
      }
      terms.foldLeft(lit(model.coef(i, 0)))(_ + _).as(s"fc_$i")
    }
}
