package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftExpressionBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.expr.ExactDistinct

/** Deterministic, cross-engine-reproducible aggregates.
  *
  * Floating-point `sum`/`avg`/`stddev` depend on accumulation order, which
  * differs between Spark partitions and the DuckDB oracle (and between two
  * Spark runs with different partitioning — exactly what changes at 100 TB).
  * The fix used throughout this engine: accumulate in exact DECIMAL, cast the
  * exact total to DOUBLE, and derive every moment statistic from raw decimal
  * power sums with one fixed IEEE expression tree. The same arithmetic is
  * emitted for DuckDB by the paired `sql*` builders, so Spark and the oracle
  * produce bit-identical doubles no matter the parallelism.
  *
  * This mirrors how the reference's KPI job gets away with plain `sum`/
  * `stddev` (single-node `local[*]`, one accumulation order —
  * reference `KafkaKpiPipeline.scala:99-165`); on a 1000-executor cluster
  * that determinism is gone, hence this module. Decimal aggregation is still
  * one pass, map-side-combinable, and whole-stage-codegen friendly.
  */
object DetAgg {
  /** Final cosmetic rounding: wipes sub-1e-6 discrepancies from functions
    * (sqrt/log/percentile interpolation) that are not guaranteed identical
    * across libm implementations. */
  val Scale = 6

  /** Cross-engine decimal rounding. Engine-native `round(double, n)` is NOT
    * reproducible across engines: Spark rounds the shortest decimal repr
    * (BigDecimal.valueOf → HALF_UP) while DuckDB rounds the scaled binary
    * value, and they disagree whenever the true value sits near a .5
    * boundary (observed: round(37081.645, 2) → 37081.65 Spark / 37081.64
    * DuckDB). floor(x·10ⁿ + 0.5)/10ⁿ is the same IEEE op sequence in both
    * engines, hence bit-identical on identical input doubles — which the
    * exact-decimal/integer aggregates upstream guarantee. */
  def r(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }

  def sqlR(x: String, n: Int): String = {
    val p = s"1e$n"
    s"(floor(($x) * $p + 0.5) / $p)"
  }

  def r6(c: Column): Column = r(c, Scale)
  def sqlR6(x: String): String = sqlR(x, Scale)

  // ---- Spark side -------------------------------------------------------

  /** Exact sum: DECIMAL(38,10) accumulation, exact total as DOUBLE.
    *
    * The decimal→double hop goes THROUGH A STRING: DuckDB's direct
    * decimal→double is (double)unscaled_int128 / (double)10^scale — two
    * roundings — while the JVM converts in one correctly-rounded step, so
    * for unscaled values > 2^53 the engines can land 1 ulp apart (observed
    * on a 3.76e9 grand total, amplified to 1e-6 by the floor-rounding).
    * decimal→string is exact in both engines and string→double parse is
    * correctly rounded in both, making the conversion engine-identical at
    * any magnitude. Cost: one string format per GROUP, not per row. */
  def dsumRaw(c: Column): Column =
    sum(c.cast(DecimalType(38, 10))).cast("string").cast("double")

  def dsum(c: Column): Column = r6(dsumRaw(c))

  def davg(c: Column): Column = r6(dsumRaw(c) / count(c))

  /** Sample stddev from exact power sums (n-1 denominator, like Spark's
    * `stddev` / reference `KafkaKpiPipeline.scala:117`). */
  def dstddev(c: Column): Column = {
    val n = count(c)
    val s1 = dsumRaw(c)
    val s2 = dsumRaw(c * c)
    r6(sqrt(greatest(lit(0.0), (s2 - s1 * s1 / n) / greatest(n - lit(1), lit(1L)))))
  }

  /** Population skewness m3/m2^1.5 (Spark `skewness` semantics). */
  def dskewness(c: Column): Column = {
    val n = count(c)
    val mu = dsumRaw(c) / n
    val r2 = dsumRaw(c * c) / n
    val r3 = dsumRaw(c * c * c) / n
    val m2 = greatest(lit(1e-100), r2 - mu * mu)
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    r6(m3 / (m2 * sqrt(m2)))
  }

  /** Population excess kurtosis m4/m2^2 - 3 (Spark `kurtosis` semantics). */
  def dkurtosis(c: Column): Column = {
    val n = count(c)
    val mu = dsumRaw(c) / n
    val r2 = dsumRaw(c * c) / n
    val r3 = dsumRaw(c * c * c) / n
    val r4 = dsumRaw(c * c * c * c) / n
    val m2 = greatest(lit(1e-100), r2 - mu * mu)
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    r6(m4 / (m2 * m2) - lit(3.0))
  }

  /** Exact linear-interpolated percentile (matches DuckDB `quantile_cont`).
    * Exact `percentile` is fine at verify scale; the 100 TB variant is
    * `percentile_approx` (documented divergence, not oracle-checked). */
  def dpercentile(c: Column, p: Double): Column =
    r6(percentile(c, lit(p)))

  def dmedian(c: Column): Column = dpercentile(c, 0.5)

  /** Exact `count(DISTINCT c)` as one aggregate, never an Expand
    * ([[ExactDistinct]]): BIGINT, nulls ignored,
    * `-0.0` = `0.0`, all NaNs one value. The DuckDB twin stays
    * `count(DISTINCT c)`; `exact_count_distinct(c)` is its Spark-SQL
    * spelling. */
  def dcountDistinct(c: Column): Column =
    GraftExpressionBridge.column(
      ExactDistinct(GraftExpressionBridge.expression(c)).toAggregateExpression())

  def dround(c: Column): Column = r6(c)

  // ---- DuckDB twin SQL builders ----------------------------------------
  // Emit the *same* arithmetic so the oracle reproduces bit-identical
  // doubles. Keep these in lockstep with the Column builders above.

  def sqlSumRaw(x: String): String =
    s"CAST(CAST(sum(CAST(($x) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

  def sqlSum(x: String): String = sqlR6(sqlSumRaw(x))

  def sqlAvg(x: String): String =
    sqlR6(s"${sqlSumRaw(x)} / count($x)")

  def sqlStddev(x: String): String = {
    val n = s"count($x)"
    val s1 = sqlSumRaw(x)
    val s2 = sqlSumRaw(s"($x) * ($x)")
    sqlR6(s"sqrt(greatest(0.0, ($s2 - $s1 * $s1 / $n) / greatest($n - 1, 1)))")
  }

  def sqlSkewness(x: String): String = {
    val n = s"count($x)"
    val mu = s"(${sqlSumRaw(x)} / $n)"
    val r2 = s"(${sqlSumRaw(s"($x) * ($x)")} / $n)"
    val r3 = s"(${sqlSumRaw(s"($x) * ($x) * ($x)")} / $n)"
    val m2 = s"greatest(1e-100, $r2 - $mu * $mu)"
    val m3 = s"($r3 - 3.0 * $mu * $r2 + 2.0 * $mu * $mu * $mu)"
    sqlR6(s"$m3 / (($m2) * sqrt($m2))")
  }

  def sqlKurtosis(x: String): String = {
    val n = s"count($x)"
    val mu = s"(${sqlSumRaw(x)} / $n)"
    val r2 = s"(${sqlSumRaw(s"($x) * ($x)")} / $n)"
    val r3 = s"(${sqlSumRaw(s"($x) * ($x) * ($x)")} / $n)"
    val r4 = s"(${sqlSumRaw(s"($x) * ($x) * ($x) * ($x)")} / $n)"
    val m2 = s"(greatest(1e-100, $r2 - $mu * $mu))"
    val m4 = s"($r4 - 4.0 * $mu * $r3 + 6.0 * $mu * $mu * $r2 - 3.0 * $mu * $mu * $mu * $mu)"
    sqlR6(s"$m4 / ($m2 * $m2) - 3.0")
  }

  def sqlMedian(x: String): String =
    sqlR6(s"quantile_cont($x, 0.5)")
}
