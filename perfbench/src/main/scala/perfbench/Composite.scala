package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Several pipelines run back to back as one workload: one set-up, and an
  * iteration that runs (and checks) every part. Micro-batch latencies are
  * pooled over the parts that have them; the quality score is the product
  * of the parts' scores, so a drop in either shows. */
final class Composite(val name: String, parts: Workload*) extends Workload {
  def records: Long = parts.map(_.records).sum

  def generate(dir: File, seed: Long): Unit =
    parts.foreach(p => p.generate(Main.freshDir(new File(dir, p.name)), seed))

  def prepare(spark: SparkSession): Unit = parts.foreach(_.prepare(spark))

  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter = {
    val its = parts.map { p =>
      val sub = Main.freshDir(new File(scratch, p.name))
      tr match {
        case Some(t) => t.span(s"${p.name}.iteration")(p.iterate(spark, sub, tr))
        case None => p.iterate(spark, sub, None)
      }
    }
    Iter(its.forall(_.ok), its.filterNot(_.ok).map(_.failure).mkString("; "),
      its.flatMap(_.batchMs), its.map(_.quality).product, its.flatMap(_.detail).toMap)
  }

  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double] = {
    val byPart = parts.map(p => p -> p.layers(spark, scratch, tr, engine))
    // Each part's layer share is relative to its own iteration; weight it
    // by that iteration's share of the whole.
    val whole = Stats.median(tr.durations(s"$name.iteration"))
    val share = byPart.map { case (p, m) =>
      m("trace.layer_share") * Stats.median(tr.durations(s"${p.name}.iteration"))
    }.sum / whole
    byPart.flatMap(_._2).toMap + ("trace.layer_share" -> share)
  }
}
