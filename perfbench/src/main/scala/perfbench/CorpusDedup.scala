package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns
import graft.functions.expr.{CosTopK, ShingleExplode}

/** LLM-data operators: MinHash-LSH near-duplicate detection over a seeded
  * corpus with planted near-duplicate clusters (tokens → shingles → h60 →
  * MinHash → LSH bands → band self-join → exact Jaccard), and exact cosine
  * top-k over the documents' embeddings. */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"

  import CorpusDedup._

  private var docsPath: String = _
  private var embPath: String = _
  private var planted: Set[(Long, Long)] = Set.empty
  private var queries: Seq[Long] = Nil
  // Brute-force top-k ids for a sample of the queries, computed locally.
  private var expectedTopK: Map[Long, Seq[Long]] = Map.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty

  def records: Long = Docs.toLong

  def generate(dir: File, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    // Zipf(1) vocabulary sampler.
    val cdf = (1 to Vocab).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val u = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
    }
    def randomVec(): Array[Float] = Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val docs = mutable.ArrayBuffer.empty[(Array[String], Array[Float])]
    val pairs = mutable.Set.empty[(Long, Long)]
    (0 until Clusters).foreach { _ =>
      val base = Array.fill(20 + rnd.nextInt(40))(word())
      val center = randomVec()
      val first = docs.size.toLong
      (0 until ClusterSize).foreach { m =>
        // Members other than the base swap ~3% of their tokens.
        val toks = if (m == 0) base else base.map(t => if (rnd.nextDouble() < EditRate) word() else t)
        docs += ((toks, center.map(c => (c + 0.05 * rnd.nextGaussian()).toFloat)))
      }
      for (a <- 0 until ClusterSize; b <- a + 1 until ClusterSize) pairs += ((first + a, first + b))
    }
    while (docs.size < Docs) docs += ((Array.fill(20 + rnd.nextInt(40))(word()), randomVec()))
    // Shuffle ids so cluster members are not adjacent.
    val order = (0 until Docs).toArray
    (Docs - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val idOf = order.zipWithIndex.map { case (docIdx, id) => docIdx -> id.toLong }.toMap
    planted = pairs.map { case (a, b) =>
      val (x, y) = (idOf(a.toInt), idOf(b.toInt)); (math.min(x, y), math.max(x, y)) }.toSet
    vectors = docs.indices.map(i => idOf(i) -> docs(i)._2).toMap
    queries = (0 until Queries).map(_ => rnd.nextLong(Docs.toLong)).distinct
    // JSON lines, two files per table (tokens are [0-9a-z], no escaping).
    val docsDir = new File(dir, "docs"); docsDir.mkdirs()
    val embDir = new File(dir, "embeddings"); embDir.mkdirs()
    docs.indices.grouped((Docs + 1) / 2).zipWithIndex.foreach { case (part, p) =>
      Main.writeLines(new File(docsDir, s"part-$p.json"), part.iterator.map(i =>
        s"""{"doc_id":${idOf(i)},"text":"${docs(i)._1.mkString(" ")}"}"""))
      Main.writeLines(new File(embDir, s"part-$p.json"), part.iterator.map(i =>
        s"""{"doc_id":${idOf(i)},"vec":${docs(i)._2.mkString("[", ",", "]")}}"""))
    }
    docsPath = docsDir.getAbsolutePath
    embPath = embDir.getAbsolutePath
  }

  /** Local brute force with the engine's exact-integer cosine: vectors
    * scaled ×1e6 to longs, integer dots, one sqrt·sqrt·divide. */
  def prepare(spark: SparkSession): Unit = {
    // Same rounding as Spark's round() on a double: HALF_UP on its decimal form.
    val scaled = vectors.map { case (id, v) => id -> v.map(x =>
      BigDecimal(x.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }
    def dot(a: Array[Long], b: Array[Long]) = { var s = 0L; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s.toDouble }
    expectedTopK = queries.take(CheckedQueries).map { q =>
      val qv = scaled(q)
      q -> scaled.toSeq.filter(_._1 != q)
        .map { case (id, v) => (dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v))), id) }
        .sortBy { case (s, id) => (-s, id) }.take(TopK).map(_._2)
    }.toMap
  }

  /** Per-document distinct shingle hashes and MinHash signature. */
  private def signatures(spark: SparkSession): DataFrame =
    spark.read.schema(DocSchema).json(docsPath)
      .select(col("doc_id"), ShingleExplode(TextFns.tokens(col("text")), Shingle))
      .select(col("doc_id"), TextFns.h60(col("shingle")).as("h"))
      .groupBy("doc_id").agg(array_sort(collect_set(col("h"))).as("hs"))
      .withColumn("sig", TextFns.minhashSig(col("hs"), Perms))

  private def candidates(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"), explode(TextFns.lshBands(col("sig"), Perms, Rows)).as("band"))
    bands.as("a").join(bands.as("b"), col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
  }

  private def verified(sigs: DataFrame, cand: DataFrame): DataFrame = {
    val hs = sigs.select(col("doc_id"), col("hs"))
    cand.join(hs.withColumnRenamed("doc_id", "d1").withColumnRenamed("hs", "h1"), "d1")
      .join(hs.withColumnRenamed("doc_id", "d2").withColumnRenamed("hs", "h2"), "d2")
      .select(col("d1"), col("d2"), TextFns.jaccard(col("h1"), col("h2")).as("j"))
      .filter(col("j") >= Threshold)
  }

  private def topk(spark: SparkSession): DataFrame = {
    val sv = spark.read.schema(EmbSchema).json(embPath).select(col("doc_id"), TextFns.scaledVec(col("vec")).as("sv"))
    val q = sv.filter(col("doc_id").isin(queries: _*)).select(col("doc_id").as("q_id"), col("sv").as("qv"))
    q.crossJoin(sv).filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), TextFns.cosine(col("qv"), col("sv")).as("score"))
      .groupBy("q_id").agg(CosTopK.topk(col("score"), col("doc_id"), TopK).as("top"))
  }

  private def check(pairs: Array[Row], top: Array[Row]): Iter = {
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = (found & planted).size.toDouble
    val recall = hit / planted.size
    val precision = if (found.isEmpty) 0.0 else hit / found.size
    val got = top.map(r => r.getLong(0) -> r.getSeq[Row](1).map(_.getLong(1))).toMap
    val topkBad = expectedTopK.count { case (q, ids) => !got.get(q).contains(ids) }
    val failure =
      if (recall < 0.9 || precision < 0.9) f"planted pairs: recall $recall%.3f precision $precision%.3f"
      else if (got.size != queries.size) s"top-k for ${got.size} of ${queries.size} queries"
      else if (topkBad > 0) s"top-k differs from brute force on $topkBad of ${expectedTopK.size} queries"
      else ""
    val f1 = if (recall + precision == 0) 0.0 else 2 * recall * precision / (recall + precision)
    Iter(failure.isEmpty, failure, Nil, f1,
      Map("dedup_recall" -> recall, "dedup_precision" -> precision, "verified_pairs" -> found.size.toDouble))
  }

  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter = {
    def span[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    val pairs = span("functions.expr.dedup") {
      val sigs = signatures(spark)
      verified(sigs, candidates(sigs)).select("d1", "d2").collect()
    }
    val top = span("functions.expr.topk")(topk(spark).collect())
    check(pairs, top)
  }

  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def twice(n: String)(body: => Unit): Double = {
      (1 to 2).foreach(_ => tr.span(n)(body))
      Stats.median(tr.durations(n))
    }
    // Cumulative prefixes: signatures → signatures + LSH + verify.
    val sigS = twice("prefix.signatures")(noop(signatures(spark)))
    var pairs: Array[Row] = Array.empty
    val dedupS = twice("prefix.dedup") {
      val sigs = signatures(spark)
      pairs = verified(sigs, candidates(sigs)).select("d1", "d2").collect()
    }
    var top: Array[Row] = Array.empty
    val topS = twice("prefix.topk") { top = topk(spark).collect() }
    val nCand = tr.span("count.candidates")(candidates(signatures(spark)).count())
    val it = check(pairs, top)
    require(it.ok, it.failure)
    val iterS = Stats.median(tr.durations(s"$name.iteration"))
    Map(
      "functions.expr.shingle_minhash_s" -> sigS,
      "functions.expr.lsh_candidates" -> nCand.toDouble,
      "functions.expr.verified_pairs" -> pairs.length.toDouble,
      "functions.expr.candidate_precision" -> pairs.length.toDouble / nCand,
      "functions.expr.verify_s" -> (dedupS - sigS),
      "functions.expr.topk_s" -> topS,
      "functions.expr.dedup_recall" -> it.detail("dedup_recall"),
      "functions.expr.dedup_precision" -> it.detail("dedup_precision"),
      "trace.layer_share" -> (dedupS + topS) / iterS)
  }
}

object CorpusDedup {
  val Docs = 1500
  val Clusters = 120
  val ClusterSize = 3
  val EditRate = 0.03
  val Vocab = 5000
  val Dim = 32
  val Queries = 32
  val CheckedQueries = 8
  val TopK = 10
  val Shingle = 3
  val Perms = 60
  val Rows = 3
  val Threshold = 0.5

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("vec", ArrayType(FloatType))))
}
