package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark runner: one client in a closed loop, one job at a time,
  * on a local session with one task slot per core.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <checkout> --work <scratch dir>
  *
  * A run sets the workload up `SetupReps` times on fresh sessions and runs
  * the workload's warm-up jobs; `setup_s` is the median set-up plus the
  * warm-up jobs. It then times complete jobs back to back, starting another
  * while fewer than `--seconds` have passed, and checks the last job's
  * output against an oracle. With `--trace 1` it then runs one traced job
  * and prints the per-layer metrics instead of the end-to-end ones. The
  * last line of standard output is the result object.
  */
object Main {

  val SetupReps = 3
  val Workloads = Seq("transcripts", "corpus_ops")
  val EndToEnd = Seq("job_s", "setup_s", "turns_per_s", "keep_f1")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: File, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("root")).getAbsoluteFile, new File(need("work")).getAbsoluteFile)
  }

  def workload(name: String): Workload = name match {
    case "transcripts" => new TranscriptWorkload(nConvs = 2000, trainConvs = 1000)
    case "corpus_ops" => new CorpusOpsWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `GraftSession`'s session, with shuffle, spill, warehouse and streaming
    * checkpoints kept inside the run's scratch directory. */
  def session(cores: Int, work: File): SparkSession = {
    val s = GraftSession.builder(cores, "perfbench").master(s"local[$cores]")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Self time per layer, where a span's layer is its name up to the first
    * dot, and Spark's jobs and stages are layers of their own. */
  def layerSelf(spans: Seq[Span]): Map[String, Double] =
    Tracer.selfTimes(spans).toSeq.groupBy { case (n, _) =>
      n match {
        case "spark.job" => "spark_job"
        case "spark.stage" => "spark_stage"
        case other => other.takeWhile(_ != '.')
      }
    }.map { case (layer, xs) => layer -> xs.map(_._2).sum }

  val SelfLayers = Seq("bench", "pipeline", "sink", "corpus", "spark_job", "spark_stage")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val dataDir = new File(a.root, "perfbench/data/sf0.01")
    Files.delete(a.work)
    a.work.mkdirs()
    val log = (s: String) => System.err.println(s"[perfbench] $s")

    // ---- set-up, several times; only the last one is kept ----
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    (0 until SetupReps).foreach { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, a.work)
      ctx = Ctx(spark, StageCollector.register(spark), cores, a.seed, a.work, dataDir, a.root)
      wl.setup(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep: ${setupS.last}%.3f s " + wl.setupParts.toSeq.sorted.map { case (n, v) => f"$n $v%.3f" }.mkString(", "))
    }
    val warm = (1 to wl.warmupJobs).map { i =>
      wl.prepare(ctx, -i)
      Timing.wall(wl.job(ctx, -i, new Tracer(false, "")))._1
    }
    val warmS = warm.sum
    log(s"warm-up jobs: ${warm.map(w => f"$w%.3f").mkString(" ")} s")

    // ---- timed closed loop ----
    val off = new Tracer(false, "")
    val walls = ArrayBuffer.empty[Double]
    var units = 0L
    var jobErrors = 0
    var k = 0
    ctx.collector.take()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (k == 0 || System.nanoTime() < deadline) {
      wl.prepare(ctx, k)
      ctx.collector.take()
      val t0 = System.nanoTime()
      try wl.job(ctx, k, off)
      catch { case e: Exception => jobErrors += 1; log(s"job $k failed: $e") }
      walls += (System.nanoTime() - t0) / 1e9
      if (k == 0) units = wl.units(ctx, ctx.collector.take())
      k += 1
    }
    val lastJob = k - 1
    val jobS = Stats.median(walls.toSeq)
    val (q1, _, q3) = Stats.quartiles(walls.toSeq)
    log(f"${a.workload}: ${walls.size} jobs, job_s median $jobS%.4f (q1 $q1%.4f, q3 $q3%.4f): " +
      walls.map(w => f"$w%.3f").mkString(" "))

    // ---- oracle check, untimed ----
    val verdict =
      try wl.verify(ctx, lastJob)
      catch { case e: Exception => log(s"oracle check failed: $e"); Verdict(1, 1, 0.0, Nil) }
    val failed = math.min(verdict.attempted, verdict.failed + (if (jobErrors > 0) verdict.attempted else 0))
    (verdict.notes ++ wl.notes).foreach(log)
    log(s"seed ${a.seed}; set-up times ${setupS.map(s => f"$s%.3f").mkString(", ")}, warm-up $warmS")

    val (metrics, traceWrong) =
      if (!a.trace) (Seq(
        Metric("job_s", jobS, "s"),
        Metric("setup_s", Stats.median(setupS.toSeq) + warmS, "s"),
        Metric("turns_per_s", units / jobS, "1/s"),
        Metric("keep_f1", verdict.keepF1, "ratio"),
      ), 0L)
      else traced(a, wl, ctx, lastJob + 1, jobS, walls.size, verdict, failed)
    val failedAll = math.min(verdict.attempted, failed + traceWrong)

    spark.stop()
    Files.delete(a.work)
    val body = metrics.map(m => s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    println(s"""{"correct": ${failedAll == 0}, "attempted": ${verdict.attempted}, "failed": $failedAll, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** One traced job after the timed loop: spans around each layer call,
    * Spark jobs and stages from the listener, then the workload's own
    * layers. */
  def traced(a: Args, wl: Workload, ctx: Ctx, k: Int, untracedJobS: Double, samples: Int,
             verdict: Verdict, failed: Long): (Seq[Metric], Long) = {
    wl.prepare(ctx, k)
    ctx.collector.take()
    val tr = new Tracer(true, s"${a.workload}-${a.seed}-traced")
    val t0 = Clock.nowNs()
    wl.job(ctx, k, tr)
    val t1 = Clock.nowNs()
    val w = ctx.collector.take()
    tr.addSpark(w)
    Tracer.write(tr.spans, new File(a.root, s".bench_build/traces/${a.workload}-${a.seed}.jsonl"))
    val wallS = (t1 - t0) / 1e9
    val (layer, layerWrong) = wl.layerMetrics(ctx, k, w)
    val self = layerSelf(tr.spans)
    val selfMetrics = SelfLayers.map(l => Metric(s"self_s.$l", self.getOrElse(l, 0.0), "s"))
    val byName = (layer ++ w.sparkMetrics(wallS, ctx.cores, t0, t1) ++ selfMetrics ++ Seq(
      Metric("trace.overhead_s", wallS - untracedJobS, "s"),
      Metric("bench.job_samples", samples, "count"),
      Metric("error_rate", math.min(1.0, (failed + layerWrong).toDouble / verdict.attempted), "ratio"),
      Metric("jvm.heap_peak_mb", heapPeakMb(), "MB"),
    )).map(m => m.name -> m).toMap
    (PerLayer.Names.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }, layerWrong)
  }
}
