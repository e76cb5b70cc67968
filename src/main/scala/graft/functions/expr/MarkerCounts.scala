package graft.functions.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-language marker-token counts over a token array in ONE codegen'd
  * pass — the hot inner op of langId (lang_id, corpus_clean,
  * corpus_clean_incremental). Replaces the interpreted
  * `size(filter(toks, t -> t IN markers))` higher-order form evaluated
  * once PER LANGUAGE (4 closure-driven passes per row, each outside
  * whole-stage codegen) with a single generated loop doing one hash
  * lookup per token against a token → language-bitmask map.
  *
  * Semantics match the HOF form exactly: NULL input array → NULL result;
  * NULL elements never match (the HOF's `t IN markers` predicate is NULL
  * for a NULL token and `filter` keeps only TRUE); a token appearing in
  * several languages' marker sets increments each of them (the bitmask).
  * Output: array<int> of counts aligned with the marker-set order given
  * at construction.
  *
  * SURVEY §4.3 preference order: (a) compose built-ins — the HOF twin
  * stays in [[graft.functions.TextFns.langIdHof]] as the property-tested
  * reference — then (b) a native `Expression` where the composition is
  * off the codegen path. This is (b), the DotLong pattern.
  */
case class MarkerCounts(child: Expression, markerSets: Seq[Seq[String]])
  extends UnaryExpression {

  // Set membership is one bit per set in an Int mask (`maskMap`).
  require(markerSets.length <= 32,
    s"marker_counts supports at most 32 marker sets, got ${markerSets.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"marker_counts needs an array<string> input, got $t")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "marker_counts"

  private def nLangs: Int = markerSets.length

  /** token → bitmask of marker-set memberships (bit i = set i). */
  @transient private lazy val maskMap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markerSets.zipWithIndex.foreach { case (ms, i) =>
      ms.foreach { t =>
        val k = UTF8String.fromString(t)
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](nLangs)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = maskMap.get(arr.getUTF8String(i))
        if (m != null) {
          var mm = m.intValue()
          var j = 0
          while (mm != 0) {
            if ((mm & 1) != 0) counts(j) += 1
            mm >>>= 1
            j += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val map = ctx.addReferenceObj("markerMaskMap", maskMap,
        "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Integer>")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val mask = ctx.freshName("mask")
      val j = ctx.freshName("j")
      val mm = ctx.freshName("mm")
      s"""
         |final int $n = $a.numElements();
         |final int[] $cnt = new int[$nLangs];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    Integer $mask = (Integer) $map.get($a.getUTF8String($i));
         |    if ($mask != null) {
         |      int $mm = $mask.intValue();
         |      for (int $j = 0; $mm != 0; $j++) {
         |        if (($mm & 1) != 0) $cnt[$j]++;
         |        $mm >>>= 1;
         |      }
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($cnt);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
    copy(child = newChild)
}

object MarkerCounts {
  /** Column-API entry point. */
  def apply(toks: Column, markerSets: Seq[Seq[String]]): Column =
    GraftExpressionBridge.column(
      MarkerCounts(GraftExpressionBridge.expression(toks), markerSets))
}
