package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}

import graft.functions.expr.{CosTopK, DotLong, ExactDistinct, FreqSketch, KmvSketch, ShingleExplode}

/** SQL-surface registration for the engine's native Catalyst expressions
  * (SURVEY §4.3 path (c): `SparkSessionExtensions`). Column-API users get
  * them through the typed helpers ([[graft.functions.TextFns.dotInt]],
  * [[CosTopK.topk]], …); this makes the same codegen'd operators callable
  * from `spark.sql("…")`:
  *
  *  - `dot_long(a, b)`             exact BIGINT-array dot product
  *  - `shingle_explode(toks, n)`   generator: one row per n-token shingle
  *  - `cos_top_k(score, id, k)`    bounded-heap per-group top-k aggregate
  *  - `freq_sketch(item, k)`       Misra-Gries frequent-items aggregate
  *  - `kmv_sketch(hash, k)`        K-Minimum-Values (theta) distinct sketch
  *  - `exact_count_distinct(x)`    exact `count(DISTINCT x)` without Expand
  *  - `morton2(a, b)`              Z-order key of two 21-bit dimensions
  *                                 (expands to the codegen'd bit-op tree)
  *
  * Two entry points, same registrations:
  *  - config `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (the deployment route — survives `newSession()`);
  *  - [[GraftExtensions.register]] on a live session (adds
  *    `shannon_entropy`, a typed-Aggregator UDAF that goes through the
  *    session UDF registry rather than a Catalyst builder).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Whole-operator surface (§4.3 path (c)): the as-of join planner
    // strategy plus the SQL-route rewrite (marked LEFT JOIN →
    // AsOfJoinPlan). Live sessions get both lazily through
    // [[graft.plans.AsOf.ensureStrategy]] / [[graft.plans.AsOf.ensureRewrite]].
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRewrite)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  private[graft] val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] =
    Map(
      "dot_long" -> (
        new ExpressionInfo(classOf[DotLong].getName, "dot_long"),
        (args: Seq[Expression]) => args match {
          case Seq(a, b) => DotLong(a, b)
          case _ => throw new IllegalArgumentException("dot_long(arrayA, arrayB)")
        }),
      "shingle_explode" -> (
        new ExpressionInfo(classOf[ShingleExplode].getName, "shingle_explode"),
        (args: Seq[Expression]) => args match {
          case Seq(toks, n) => ShingleExplode(toks, intArg(n, "shingle_explode", 2))
          case _ => throw new IllegalArgumentException("shingle_explode(tokens, n)")
        }),
      "shingle_explode_pos" -> (
        new ExpressionInfo(classOf[ShingleExplode].getName, "shingle_explode_pos"),
        (args: Seq[Expression]) => args match {
          case Seq(toks, n) =>
            ShingleExplode(toks, intArg(n, "shingle_explode_pos", 2), withPos = true)
          case _ => throw new IllegalArgumentException("shingle_explode_pos(tokens, n)")
        }),
      "cos_top_k" -> (
        new ExpressionInfo(classOf[CosTopK].getName, "cos_top_k"),
        (args: Seq[Expression]) => args match {
          // Bare AggregateFunction: the analyzer wraps it in an
          // AggregateExpression during function resolution. SQL numeric
          // literals arrive as DECIMAL/INT — cast to the aggregate's
          // exact (double, bigint) input contract.
          case Seq(score, id, k) => CosTopK(
            Cast(score, org.apache.spark.sql.types.DoubleType),
            Cast(id, org.apache.spark.sql.types.LongType),
            intArg(k, "cos_top_k", 3))
          case _ => throw new IllegalArgumentException("cos_top_k(score, id, k)")
        }),
      "freq_sketch" -> (
        new ExpressionInfo(classOf[FreqSketch].getName, "freq_sketch"),
        (args: Seq[Expression]) => args match {
          case Seq(item, k) => FreqSketch(
            Cast(item, org.apache.spark.sql.types.StringType),
            intArg(k, "freq_sketch", 2))
          case _ => throw new IllegalArgumentException("freq_sketch(item, k)")
        }),
      "kmv_sketch" -> (
        new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
        (args: Seq[Expression]) => args match {
          case Seq(hash, k) => KmvSketch(
            Cast(hash, org.apache.spark.sql.types.LongType),
            intArg(k, "kmv_sketch", 2))
          case _ => throw new IllegalArgumentException("kmv_sketch(hash, k)")
        }),
      "exact_count_distinct" -> (
        new ExpressionInfo(classOf[ExactDistinct].getName, "exact_count_distinct"),
        (args: Seq[Expression]) => args match {
          case Seq(x) => ExactDistinct(x)
          case _ => throw new IllegalArgumentException("exact_count_distinct(x)")
        }),
      "asof_backward" -> (
        new ExpressionInfo(classOf[graft.plans.AsOfMark].getName, "asof_backward"),
        (args: Seq[Expression]) => args match {
          // The SQL-route marker for the whole-operator as-of join: a
          // LEFT JOIN conjunct `asof_backward(l_time, r_time)` is
          // rewritten by [[graft.plans.AsOfJoinRewrite]] into
          // AsOfJoinPlan; left unrewritten it evaluates as l >= r.
          case Seq(l, r) => graft.plans.AsOfMark(l, r, forward = false)
          case _ => throw new IllegalArgumentException("asof_backward(lTime, rTime)")
        }),
      "asof_forward" -> (
        new ExpressionInfo(classOf[graft.plans.AsOfMark].getName, "asof_forward"),
        (args: Seq[Expression]) => args match {
          case Seq(l, r) => graft.plans.AsOfMark(l, r, forward = true)
          case _ => throw new IllegalArgumentException("asof_forward(lTime, rTime)")
        }),
      "morton2" -> (
        new ExpressionInfo(graft.functions.ZOrder.getClass.getName, "morton2"),
        (args: Seq[Expression]) => args match {
          // Not a custom Expression — the builder expands to the same
          // shiftleft/and/or tree the Column helper builds, so SQL
          // callers get the identical whole-stage-codegen'd form.
          case Seq(a, b) => graft.functions.ZOrder.morton2Expr(a, b)
          case _ => throw new IllegalArgumentException("morton2(a, b)")
        }))

  /** Register on a LIVE session (no `spark.sql.extensions` needed): the
    * Catalyst builders into the session's function registry, the
    * `shannon_entropy` UDAF via the UDF registry, and the as-of
    * whole-operator machinery (planner strategy + join rewrite) via
    * `experimentalMethods` — everything the extensions class injects. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, (info, builder)) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
    spark.udf.register("shannon_entropy", graft.functions.ShannonEntropy.udafFn)
    graft.plans.AsOf.ensureStrategy(spark)
    graft.plans.AsOf.ensureRewrite(spark)
  }
}
