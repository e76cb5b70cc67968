package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{DetAgg, KpiExprs}

/** `DetAgg.dcountDistinct` (SQL: `exact_count_distinct`) against Spark's
  * own `count(DISTINCT …)` on small in-memory frames, through both the
  * Column and the Spark-SQL routes. */
class ExactDistinctSpec extends SparkSpec {
  import spark.implicits._

  /** Grouped and global counts of `x` through all four spellings (two
    * routes × two aggregates) must agree, and every spelling is BIGINT. */
  private def assertSame(df: DataFrame): Unit = {
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("exact_distinct_in")
    def rows(d: DataFrame): Seq[Row] = {
      assert(d.schema.last.dataType == LongType, d.schema)
      d.collect().toSeq.sortBy(_.toString)
    }
    def sql(agg: String, grouped: Boolean): DataFrame =
      if (grouped) spark.sql(s"SELECT g, $agg AS n FROM exact_distinct_in GROUP BY g")
      else spark.sql(s"SELECT $agg AS n FROM exact_distinct_in")
    Seq(true, false).foreach { grouped =>
      def agg(c: org.apache.spark.sql.Column): DataFrame =
        if (grouped) df.groupBy("g").agg(c.as("n")) else df.agg(c.as("n"))
      val expected = rows(agg(count_distinct(col("x"))))
      assert(rows(agg(DetAgg.dcountDistinct(col("x")))) == expected, s"Column route, grouped=$grouped")
      assert(rows(sql("exact_count_distinct(x)", grouped)) == expected, s"SQL route, grouped=$grouped")
      assert(rows(sql("count(DISTINCT x)", grouped)) == expected)
    }
  }

  test("two NaNs count once, -0.0 equals 0.0") {
    val nan = Double.NaN
    val df = Seq(("a", nan), ("a", nan), ("a", 1.0), ("b", -0.0), ("b", 0.0), ("c", nan), ("c", -0.0))
      .toDF("g", "x")
    assertSame(df)
    assert(df.groupBy("g").agg(DetAgg.dcountDistinct(col("x")).as("n"))
      .orderBy("g").as[(String, Long)].collect().toSeq == Seq(("a", 2L), ("b", 1L), ("c", 2L)))
    // Float keys take the same canonicalisation.
    assertSame(df.select(col("g"), col("x").cast("float").as("x")))
  }

  test("nulls are ignored, an all-null group counts 0, an empty frame counts 0") {
    val df = Seq(("a", Some(1.5)), ("a", None), ("a", Some(1.5)), ("b", None), ("b", None))
      .toDF("g", "x")
    assertSame(df)
    assert(df.filter(col("g") === "b").agg(DetAgg.dcountDistinct(col("x"))).head().getLong(0) == 0L)
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
    assertSame(empty)
    assert(empty.agg(DetAgg.dcountDistinct(col("x"))).head().getLong(0) == 0L)
  }

  test("string, int and long columns") {
    val base = Seq(("a", Some(3L)), ("a", Some(3L)), ("a", Some(-7L)), ("a", None),
      ("b", Some(Long.MaxValue)), ("b", Some(Long.MinValue)), ("b", Some(0L)))
      .toDF("g", "x")
    assertSame(base)
    assertSame(base.select(col("g"), (col("x") % 1000).cast("int").as("x")))
    assertSame(base.select(col("g"), concat(lit("v"), col("x").cast("string")).as("x")))
    assertSame(Seq(("a", "TCP"), ("a", "UDP"), ("a", "TCP"), ("a", ""), ("b", "é"), ("b", "e"))
      .toDF("g", "x"))
  }

  test("partial/merge: 1 and 7 partitions give count(DISTINCT) per group") {
    val df = (0 until 2000).map(i => (s"g${i % 5}", (i * 7919) % 613, s"s${i % 97}"))
      .toDF("g", "x", "s")
    Seq(1, 7).foreach { parts =>
      val p = df.repartition(parts)
      assertSame(p.select(col("g"), col("x")))
      assertSame(p.select(col("g"), col("s").as("x")))
      assertSame(p.select(col("g"), (col("x") / 4.0).as("x")))
    }
  }

  test("sparkSqlOf rewrites only a whole count(DISTINCT <col>); Unique_* stay BIGINT") {
    assert(KpiExprs.sparkSqlOf("(count(*) - count(DISTINCT seq)) / count(*)") ==
      "(count(*) - exact_count_distinct(seq)) / count(*)")
    assert(KpiExprs.sparkSqlOf("my_count(DISTINCT seq)") == "my_count(DISTINCT seq)")
    val pkt = Seq(("s1", 100.0, "TCP", 10, 20, 1L), ("s1", 100.0, "UDP", 11, 20, 1L))
      .toDF("slice", "len", "proto", "src_port", "dst_port", "seq")
    val names = Seq("Unique_Pkt_Sizes", "Protocol_Diversity", "Unique_Src_Ports", "Unique_Dst_Ports")
    val kpis = KpiExprs.kpis(0.1, 100.0, 1400.0).filter(k => names.contains(k.name))
    val out = pkt.groupBy("slice").agg(kpis.head.sparkNamed, kpis.tail.map(_.sparkNamed): _*)
    names.foreach(n => assert(out.schema(n).dataType == LongType, n))
    assert(out.select(names.map(col): _*).head() == Row(1L, 2L, 2L, 1L))
  }
}
