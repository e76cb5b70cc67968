package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The 36-KPI aggregation core of the reference
  * (`KafkaKpiPipeline.scala:99-165` streaming, `:421-461` batch), plus the
  * two KPIs the reference's trainer consumes but never produces
  * (`train.py:57,59` — `Retransmission_Ratio`, `Entropy_Score`; SURVEY §4.4
  * quirk Q7).
  *
  * Each KPI is declared ONCE as a [[Kpi]] pair: the Spark `Column` and the
  * bit-identical DuckDB SQL twin (built on [[DetAgg]]'s exact-decimal
  * aggregates). `SparkEntry.oracleSql` is generated from the same list, so
  * the oracle cannot drift from the plan.
  *
  * Inputs are a canonical "packet view" with columns
  * `slice, flow, ts_sec (epoch seconds, double), len, proto, src_port,
  * dst_port, win_size, flags, seq, iat` — the events table is mapped onto
  * this view by [[graft.operators.FlowOps]]. All aggregates run in one
  * hash-aggregate pass with map-side partials, AQE-safe at any scale. The
  * five exact distinct counts (the four `Unique_*`/`Protocol_Diversity`
  * KPIs and the `count(DISTINCT seq)` inside `Retransmission_Ratio`) go
  * through [[DetAgg.dcountDistinct]], so none of them makes Catalyst plan
  * an Expand (which copied every packet six times through the decimal
  * sums); their DuckDB twins stay `count(DISTINCT …)`. 100 TB variants
  * would swap them to `approx_count_distinct` (documented, not
  * oracle-checked).
  */
object KpiExprs {
  // Reference operating constants (KafkaKpiPipeline.scala:25-28). The
  // idle/small/large thresholds are rescaled per domain by the caller.
  val Eps: Double = 1e-6

  /** One KPI: name + Spark aggregate + DuckDB twin expression. */
  final case class Kpi(name: String, spark: Column, duck: String) {
    def sparkNamed: Column = spark.as(name)
    def duckNamed: String = s"$duck AS $name"
    def sparkSqlNamed: String = s"${sparkSqlOf(duck)} AS $name"
  }

  /** Spark-SQL spelling of a [[Kpi.duck]] expression — the parser-route
    * twin. The deterministic arithmetic (exact-decimal power sums, the
    * floor-rounding grid, CASE counting) is dialect-portable verbatim;
    * exactly four spellings differ and are substituted here. Kept in
    * lockstep with [[graft.functions.DetAgg]]'s sql* builders:
    *  - bare `VARCHAR` needs a length in Spark → `STRING` (same exact
    *    decimal→string→double hop);
    *  - DuckDB `quantile_cont` = Spark `percentile` (both exact linear
    *    interpolation);
    *  - DuckDB `entropy` = the engine's registered `shannon_entropy`
    *    UDAF ([[graft.GraftExtensions.register]]) — this is the one KPI
    *    that exercises the UDF-registry route from SQL text;
    *  - DuckDB `count(DISTINCT col)` = the engine's registered
    *    `exact_count_distinct(col)` ([[DetAgg.dcountDistinct]]), so the
    *    parser route plans the same Expand-free aggregate as the Column
    *    route. */
  def sparkSqlOf(duck: String): String =
    duck
      // anchored on non-identifier boundaries (ADVICE r11): a future KPI
      // spelling `cross_entropy(` or `CAST(x AS VARCHAR(10))` must NOT be
      // silently rewritten — each rule fires only on the exact token.
      .replaceAll("""\bAS VARCHAR\)""", "AS STRING)")
      .replaceAll("""(?<![A-Za-z0-9_])quantile_cont\(""", "percentile(")
      .replaceAll("""(?<![A-Za-z0-9_])entropy\(""", "shannon_entropy(")
      .replaceAll("""(?<![A-Za-z0-9_])count\(DISTINCT ([A-Za-z_][A-Za-z0-9_]*)\)""",
        "exact_count_distinct($1)")

  import DetAgg._

  private def cnt = count(lit(1))

  /** Conditional count, exact on both engines. */
  private def cwhen(c: Column): Column = sum(when(c, 1L).otherwise(0L))
  // CAST: DuckDB sum(int) yields HUGEINT (fetched as float64); Spark emits
  // BIGINT — the driver's no-tolerance hash gate flags the repr difference.
  private def sqlCwhen(c: String): String =
    s"CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"

  // Unrounded building blocks for ratio KPIs (round once, at the end).
  private def avgRaw(c: Column): Column = dsumRaw(c) / count(c)
  private def sqlAvgRaw(x: String): String = s"(${sqlSumRaw(x)} / count($x))"
  private def stddevRaw(c: Column): Column = {
    val n = count(c)
    val s1 = dsumRaw(c)
    val s2 = dsumRaw(c * c)
    sqrt(greatest(lit(0.0), (s2 - s1 * s1 / n) / greatest(n - lit(1), lit(1L))))
  }
  private def sqlStddevRaw(x: String): String = {
    val n = s"count($x)"
    val s1 = sqlSumRaw(x)
    val s2 = sqlSumRaw(s"($x) * ($x)")
    s"sqrt(greatest(0.0, ($s2 - $s1 * $s1 / $n) / greatest($n - 1, 1)))"
  }
  private def guard1(n: Column, c: Column): Column =
    when(n < 2, lit(0.0)).otherwise(c)
  private def sqlGuard1(x: String, c: String): String =
    s"CASE WHEN count($x) < 2 THEN 0.0 ELSE $c END"

  /** The full KPI list over the canonical packet-view column names.
    *
    * @param idleThr  IAT above which a gap counts as idle
    *                 (reference default 0.1 s — `KafkaKpiPipeline.scala:25`)
    * @param smallLen len below which a packet is "small" (ref 100 — `:26`)
    * @param largeLen len above which a packet is "large" (ref 1400 — `:27`)
    */
  def kpis(idleThr: Double, smallLen: Double, largeLen: Double): Seq[Kpi] = {
    val iat = col("iat"); val len = col("len")
    Seq(
      // -- volume (KafkaKpiPipeline.scala:108-111)
      Kpi("Throughput_bps", dsum(len * 8), sqlSum("len * 8")),
      Kpi("Total_Packets", cnt, "count(*)"),
      Kpi("Total_Bytes", dsum(len), sqlSum("len")),
      Kpi("Byte_Velocity",
        dround(dsumRaw(len) / (dsumRaw(iat) + lit(Eps))),
        sqlR6(s"${sqlSumRaw("len")} / (${sqlSumRaw("iat")} + ${Eps})")),
      // -- temporal (:116-126)
      Kpi("Avg_IAT", davg(iat), sqlAvg("iat")),
      Kpi("Jitter", guard1(count(iat), dstddev(iat)),
        sqlGuard1("iat", sqlStddev("iat"))),
      Kpi("IAT_Skewness", guard1(count(iat), dskewness(iat)),
        sqlGuard1("iat", sqlSkewness("iat"))),
      Kpi("IAT_Kurtosis", guard1(count(iat), dkurtosis(iat)),
        sqlGuard1("iat", sqlKurtosis("iat"))),
      Kpi("Min_IAT", dround(min(iat)), sqlR6("min(iat)")),
      Kpi("Max_IAT", dround(max(iat)), sqlR6("max(iat)")),
      Kpi("IAT_PAPR",
        dround(max(iat) / (avgRaw(iat) + lit(Eps))),
        sqlR6(s"max(iat) / (${sqlAvgRaw("iat")} + ${Eps})")),
      Kpi("Transmission_Duration",
        dround(max(col("ts_sec")) - min(col("ts_sec"))),
        sqlR6("max(ts_sec) - min(ts_sec)")),
      Kpi("Idle_Periods", cwhen(iat > idleThr), sqlCwhen(s"iat > $idleThr")),
      Kpi("Idle_Rate",
        dround(cwhen(iat > idleThr) / cnt),
        sqlR6(s"${sqlCwhen(s"iat > $idleThr")} / count(*)")),
      Kpi("IAT_Median", dmedian(iat), sqlMedian("iat")),
      // -- packet size (:131-139)
      Kpi("Avg_Packet_Size", davg(len), sqlAvg("len")),
      Kpi("Pkt_Size_StdDev", guard1(count(len), dstddev(len)),
        sqlGuard1("len", sqlStddev("len"))),
      Kpi("Pkt_Size_Skewness", guard1(count(len), dskewness(len)),
        sqlGuard1("len", sqlSkewness("len"))),
      Kpi("Pkt_Size_Kurtosis", guard1(count(len), dkurtosis(len)),
        sqlGuard1("len", sqlKurtosis("len"))),
      Kpi("Min_Pkt_Size", dround(min(len)), sqlR6("min(len)")),
      Kpi("Max_Pkt_Size", dround(max(len)), sqlR6("max(len)")),
      Kpi("Unique_Pkt_Sizes", dcountDistinct(len), "count(DISTINCT len)"),
      Kpi("Small_Pkt_Ratio",
        dround(cwhen(len < smallLen) / cnt),
        sqlR6(s"${sqlCwhen(s"len < $smallLen")} / count(*)")),
      Kpi("Large_Pkt_Ratio",
        dround(cwhen(len > largeLen) / cnt),
        sqlR6(s"${sqlCwhen(s"len > $largeLen")} / count(*)")),
      // -- protocol (:144-147)
      Kpi("TCP_Ratio",
        dround(cwhen(col("proto") === "TCP") / cnt),
        sqlR6(s"${sqlCwhen("proto = 'TCP'")} / count(*)")),
      Kpi("UDP_Ratio",
        dround(cwhen(col("proto") === "UDP") / cnt),
        sqlR6(s"${sqlCwhen("proto = 'UDP'")} / count(*)")),
      Kpi("Protocol_Diversity", dcountDistinct(col("proto")),
        "count(DISTINCT proto)"),
      Kpi("Unique_Src_Ports", dcountDistinct(col("src_port")),
        "count(DISTINCT src_port)"),
      // -- tcp health (:152-158)
      Kpi("Avg_Win_Size", davg(col("win_size")), sqlAvg("win_size")),
      Kpi("Win_Size_StdDev", guard1(count(col("win_size")), dstddev(col("win_size"))),
        sqlGuard1("win_size", sqlStddev("win_size"))),
      Kpi("Min_Win_Size", min(col("win_size")), "min(win_size)"),
      Kpi("Max_Win_Size", max(col("win_size")), "max(win_size)"),
      Kpi("Zero_Win_Count", cwhen(col("win_size") === 0),
        sqlCwhen("win_size = 0")),
      Kpi("RST_Count", cwhen(col("flags").bitwiseAND(lit(0x04)) =!= 0),
        sqlCwhen("(flags & 4) <> 0")),
      // -- flow (:163-164)
      Kpi("Unique_Dst_Ports", dcountDistinct(col("dst_port")),
        "count(DISTINCT dst_port)"),
      Kpi("Coeff_Variation_Size",
        dround(guard1(count(len), stddevRaw(len) / (avgRaw(len) + lit(Eps)))),
        sqlR6(sqlGuard1("len", s"${sqlStddevRaw("len")} / (${sqlAvgRaw("len")} + ${Eps})"))),
      // -- Q7 gap-closers (train.py:57,59 consume these; pipeline never
      //    produced them — we do)
      Kpi("Retransmission_Ratio",
        dround((cnt - dcountDistinct(col("seq"))) / cnt),
        sqlR6("(count(*) - count(DISTINCT seq)) / count(*)")),
      Kpi("Entropy_Score",
        dround(ShannonEntropy.ofLong(col("seq"))),
        sqlR6("entropy(seq)"))
    )
  }
}
