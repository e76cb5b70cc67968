package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Outcome of one workload iteration. `batchMs` holds the latencies of the
  * iteration's units of work when the workload has finer ones than the
  * iteration itself (streaming micro-batches); otherwise it is empty and
  * the iteration is the batch. `quality` is the workload's output-quality
  * score against the ground truth its generator planted. */
final case class Iter(ok: Boolean, failure: String, batchMs: Seq[Double],
                      quality: Double, detail: Map[String, Double])

/** One benchmark workload: seeded inputs, a checked iteration, and the
  * traced per-layer decomposition. Workloads drive the engine only through
  * its layers' public functions. */
trait Workload {
  def name: String
  /** Input records one iteration processes (packets, events or documents). */
  def records: Long
  /** Write the seeded inputs under `dir` (which is empty), single-threaded
    * and without Spark. */
  def generate(dir: File, seed: Long): Unit
  /** Derive the reference answers the output checks compare against. */
  def prepare(spark: SparkSession): Unit
  /** One checked pass over the inputs. `scratch` is a fresh, empty
    * directory the iteration may use (checkpoints, state). */
  def iterate(spark: SparkSession, scratch: File, tr: Option[Tracer]): Iter
  /** Per-layer metrics of this workload, from cumulative prefixes of the
    * pipeline, the executed plans' SQL metrics and the engine listener. */
  def layers(spark: SparkSession, scratch: () => File, tr: Tracer, engine: EngineMeter): Map[String, Double]
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, traceDir: File,
                        cores: Int, launchUs: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("trace-dir")),
      need("cores").toInt, m.get("launch-us").map(_.toLong).getOrElse(nowUs()))
  }

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  val workloads: Map[String, () => Workload] = Map(
    "kpi_pipeline" -> (() => new Composite("kpi_pipeline", new PcapKpi, new KpiStream)),
    "forecast_dedup" -> (() => new Composite("forecast_dedup", new ForecastHybrid, new CorpusDedup)))

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  def freshDir(f: File): File = { rmrf(f); f.mkdirs(); f }

  /** Write generated input as text lines. */
  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one iteration, turning a throw into a failed [[Iter]]. */
  private def attempt(w: Workload, spark: SparkSession, scratch: File,
                      tr: Option[Tracer]): (Iter, Double) = {
    val (it, s) = timed {
      try w.iterate(spark, freshDir(scratch), tr)
      catch {
        case e: Throwable =>
          Iter(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
            Nil, 0.0, Map.empty)
      }
    }
    rmrf(scratch)
    if (!it.ok) System.err.println(s"[perfbench] ${w.name} check failed: ${it.failure}")
    (it, s)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainUs = nowUs()
    val w = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))()
    o.work.mkdirs()
    val inputDir = new File(o.work, "input")
    val scratch = new File(o.work, "scratch")

    val (spark0, sessionS) = timed(session(o.cores, o.work))
    var spark = spark0
    val engine = new EngineMeter
    spark.sparkContext.addSparkListener(engine)

    // Set-up: the input, generated three times (same seed, same bytes, each
    // from an empty directory) and reported as the median; the check
    // references; two warm-up iterations (class loading, codegen, JIT: the
    // first measured iterations kept getting faster after only one).
    val genS = (1 to 3).map(_ => timed(w.generate(freshDir(inputDir), o.seed))._2)
    val (_, prepareS) = timed(w.prepare(spark))
    val warm = (1 to 2).map(_ => attempt(w, spark, scratch, None))
    val warmS = warm.map(_._2)
    val setupS = (mainUs - o.launchUs) / 1e6 + sessionS + Stats.median(genS) + prepareS + warmS.sum
    System.err.println(f"[perfbench] set-up ${setupS}%.2f s: jvm ${(mainUs - o.launchUs) / 1e6}%.2f, " +
      f"session $sessionS%.2f, generate ${genS.map(g => f"$g%.2f").mkString("/")}, " +
      f"prepare $prepareS%.2f, warm-up ${warmS.map(s => f"$s%.2f").mkString("/")}")

    // Retained heap, sampled after a full collection at every iteration boundary.
    var heapMb = 0.0
    /** Repeat `one` until `seconds` passed and `minIters` ran. */
    def loop(seconds: Double, minIters: Int)(one: => (Iter, Double)): Seq[(Iter, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Iter, Double)]
      val t0 = System.nanoTime()
      while (out.size < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
        heapMb = math.max(heapMb, Host.oldGenAfterGcMb())
        out += one
      }
      heapMb = math.max(heapMb, Host.oldGenAfterGcMb())
      out.toSeq
    }

    val steal0 = Host.stealTicks()
    val jit0 = Host.jitCompileMs()
    val loopT0 = System.nanoTime()
    val tracer = new Tracer(s"${w.name}-seed${o.seed}-${mainUs}")
    // A traced run spends half its time untraced, as the overhead baseline.
    val measured =
      if (!o.trace) loop(o.seconds, 2)(attempt(w, spark, scratch, None))
      else loop(o.seconds / 2, 1)(attempt(w, spark, scratch, None))
    val iterS = measured.map(_._2)
    val medIter = Stats.median(iterS)
    val loopWall = (System.nanoTime() - loopT0) / 1e9
    val stealTicks = Host.stealTicks() - steal0
    val jitMs = Host.jitCompileMs() - jit0
    // Excess of the warm-up iterations over steady ones.
    val jitWarmupS = math.max(0.0, warmS.sum - warmS.size * medIter)
    // A window counts as noisy when the hypervisor stole >5% of its CPU time
    // (USER_HZ = 100 ticks/s per CPU). JIT compile time is reported, not
    // flagged: every micro-batch plans and compiles new code, so it is part
    // of the workload.
    val noisy = stealTicks > loopWall * o.cores * 100 * 0.05

    val failed = measured.count(!_._1.ok)
    val correct = failed == 0 && warm.forall(_._1.ok)
    val okIters = measured.filter(_._1.ok)
    val basis = if (okIters.nonEmpty) okIters else measured
    val batches = basis.flatMap { case (it, s) =>
      if (it.batchMs.nonEmpty) it.batchMs else Seq(s * 1000) }
    val details = basis.flatMap(_._1.detail.keys).distinct.sorted.map { k =>
      k -> Stats.median(basis.flatMap(_._1.detail.get(k)))
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!o.trace) Seq(
        "setup_s" -> (setupS, "s"),
        "rows_per_s" -> (w.records / Stats.median(basis.map(_._2)), "1/s"),
        "batch_p50_ms" -> (Stats.quantile(batches, 0.5), "ms"),
        "batch_p90_ms" -> (Stats.quantile(batches, 0.9), "ms"),
        "ok_rate" -> ((measured.size - failed).toDouble / measured.size, "ratio"),
        "heap_peak_mb" -> (heapMb, "MB"),
        "quality" -> (Stats.median(basis.map(_._1.quality)), "ratio"))
      else {
        // Traced half: the same iterations with spans and per-iteration
        // engine windows, then the layer decomposition and a 1-core rerun.
        val perIter = scala.collection.mutable.ArrayBuffer.empty[(EngineMeter.Snap, Double, Double)]
        val tracedIters = loop(o.seconds / 2, 1) {
          val before = engine.stable()
          engine.resetStages()
          val r = tracer.span(s"${w.name}.iteration")(attempt(w, spark, scratch, Some(tracer)))
          perIter += ((engine.stable() - before, engine.taskSkew, r._2))
          r
        }
        val tracedMed = Stats.median(tracedIters.map(_._2))
        val layerMetrics = w.layers(spark, () => freshDir(scratch), tracer, engine)
        rmrf(scratch)
        def med(f: ((EngineMeter.Snap, Double, Double)) => Double) = Stats.median(perIter.map(f).toSeq)
        val engineMetrics = Map(
          "engine.jobs" -> med(_._1.jobs.toDouble),
          "engine.tasks" -> med(_._1.tasks.toDouble),
          "engine.executor_cpu_ms" -> med(_._1.cpuMs),
          "engine.gc_ms" -> med(_._1.gcMs.toDouble),
          "engine.shuffle_write_bytes" -> med(_._1.shuffleWrite.toDouble),
          "engine.shuffle_read_bytes" -> med(_._1.shuffleRead.toDouble),
          "engine.fetch_wait_ms" -> med(_._1.fetchWaitMs.toDouble),
          "engine.spill_bytes" -> med(_._1.spill.toDouble),
          "engine.task_skew" -> med(_._2),
          "engine.sched_overhead_s" -> med(x => x._3 - x._1.runMs / 1000.0 / o.cores))
        // Single-core baseline: the same iteration on a local[1] session.
        spark.stop()
        spark = session(1, o.work)
        val one = tracer.span(s"${w.name}.local1")(attempt(w, spark, scratch, None))
        val speedup = if (one._1.ok) one._2 / medIter else 0.0
        tracer.write(new File(o.traceDir, s"${tracer.runId}.spans.jsonl"))
        val all = layerMetrics ++ engineMetrics ++ Map(
          "engine.parallel_speedup" -> speedup,
          "trace.overhead_pct" -> (tracedMed / medIter - 1) * 100,
          "host.steal_ticks" -> stealTicks.toDouble,
          "host.jit_warmup_s" -> jitWarmupS,
          "host.jit_compile_ms" -> jitMs.toDouble)
        val unknown = all.keySet -- Metrics.perLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from Metrics.perLayer: $unknown")
        // A layer this workload never calls reports 0 for its metrics.
        Metrics.perLayer.map { case (k, unit) => k -> (all.getOrElse(k, 0.0), unit) }
      }

    // Host noise and quality detail for every run, ahead of the result line.
    println(Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString,
      "iterations" -> measured.size.toString,
      "iter_s" -> iterS.map(Json.num).mkString("[", ", ", "]"),
      "batches" -> batches.size.toString,
      "steal_ticks" -> stealTicks.toString, "jit_compile_ms" -> jitMs.toString,
      "jit_warmup_s" -> Json.num(jitWarmupS), "noisy" -> noisy.toString) ++
      details.map { case (k, v) => k -> Json.num(v) }))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> measured.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    spark.stop()
  }
}
