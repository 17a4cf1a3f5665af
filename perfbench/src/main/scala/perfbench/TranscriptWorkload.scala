package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, functions => F}

import graft.dedup.Dedup
import graft.langid.{CharLM, CharLMModel, NGramLangId, NGramModel}
import graft.pipeline.{PartitionedSink, RowFp, TranscriptPipeline, Transcripts, Turn}
import graft.quality.{Metrics, Rules}
import graft.text.{Normalize, Scrub}

/** The production transcript job: `TranscriptPipeline.run` into
  * `PartitionedSink.write`, each job into a new 64-part output.
  *
  * A traced run also times the restart path on the same input: an output
  * with about half the parts committed from input v1, then
  * `invalidateChanged` → `pendingInputFilter` → `run` → `write` on an input
  * v2 that changes a few conversations, checked against a clean job on v2.
  */
final class TranscriptWorkload(nConvs: Long, trainConvs: Long) extends Workload {
  import TranscriptWorkload._

  private var nm: NGramModel = _
  private var lm: CharLMModel = _
  private var bnm: Broadcast[NGramModel] = _
  private var blm: Broadcast[CharLMModel] = _
  private var inputDir: String = _
  private var nTurns: Long = 0L
  private var changedConvs: Seq[String] = Nil
  private val setupRuns = ArrayBuffer.empty[Map[String, Double]]

  // the first job of a JVM runs about twice as long as a warm one, the
  // second about 20% and the third still about 10% longer
  val warmupJobs = 3

  private def jobDir(ctx: Ctx, k: Int) = new File(ctx.work, s"jobs/$k")
  private def read(ctx: Ctx, dir: String): Dataset[Turn] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(dir).as[Turn]
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = new File(ctx.work, "setup")
    Files.delete(dir)
    inputDir = new File(dir, "input").getPath
    val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally parts(key) = (System.nanoTime() - t0) / 1e9
    }
    timed("generate_s") {
      Transcripts.generate(spark, nConvs, ctx.seed, hotFactor = HotFactor,
          numPartitions = 2 * ctx.cores, nLangs = NLangs)
        .write.mode("overwrite").parquet(inputDir)
    }
    // model training data has its own fixed seed, independent of --seed
    val labeled = Transcripts
      .generate(spark, trainConvs, TrainSeed, hotFactor = 1, nLangs = NLangs)
      .map(t => (Transcripts.truthLang(TrainSeed, t.conv_id, NLangs), t.text))
      .toDF("lang_true", "text")
    nm = timed("train_ngram_s")(NGramLangId.train(spark, labeled, "lang_true", "text"))
    lm = timed("train_lm_s")(CharLM.train(spark, labeled, "lang_true", "text"))
    bnm = spark.sparkContext.broadcast(nm)
    blm = spark.sparkContext.broadcast(lm)
    nTurns = timed("count_s")(spark.read.parquet(inputDir).count())
    setupRuns += parts.toMap
  }

  override def prepare(ctx: Ctx, k: Int): Unit = {
    Files.delete(jobDir(ctx, k - 1))
    Files.delete(jobDir(ctx, k))
  }

  def job(ctx: Ctx, k: Int, tr: Tracer): Unit = tr.span("bench.job") {
    val df = tr.span("pipeline.run") {
      TranscriptPipeline.run(ctx.spark, read(ctx, inputDir), bnm, blm)
    }
    tr.span("sink.write") { PartitionedSink.write(ctx.spark, df, jobDir(ctx, k).getPath, NParts) }
  }

  def units(ctx: Ctx, w: StageCollector.Window): Long = nTurns

  /** Sequential oracle: every input turn through a `TurnScorer`, then the
    * lag-repeat rule per conversation; no Spark involved. */
  private def oracle(input: Array[Turn], cores: Int): Map[(String, Int), (String, Boolean)] = {
    val scored = Parallel.map(input, cores) { () =>
      val scorer = new TranscriptPipeline.TurnScorer(nm, lm)
      (t: Turn) => scorer.score(t, RowFp.of(t.conv_id, t.turn_idx, t.text))
    }
    scored.groupBy(_.conv_id).values.flatMap { conv =>
      var prev: String = null
      conv.sortBy(_.turn_idx).map { s =>
        val isRepeat = prev != null && prev == s.scrubbed
        prev = s.scrubbed
        (s.conv_id, s.turn_idx) ->
          (s.scrubbed, !s.junk && !isRepeat && s.perplexity <= TranscriptPipeline.MaxPerplexity)
      }
    }.toMap
  }

  def verify(ctx: Ctx, k: Int): Verdict = {
    val spark = ctx.spark
    import spark.implicits._
    val truth = oracle(read(ctx, inputDir).collect(), ctx.cores)
    val got = spark.read.parquet(new File(jobDir(ctx, k), "data").getPath)
      .select("conv_id", "turn_idx", "scrubbed", "keep").as[(String, Int, String, Boolean)]
      .collect().groupBy(r => (r._1, r._2))
    var wrong = got.count { case (key, rows) =>
      !(rows.length == 1 && truth.get(key).contains((rows.head._3, rows.head._4)))
    }.toLong
    wrong += truth.keys.count(key => !got.contains(key))
    val f1 = Stats.f1(truth.map { case (key, (_, keep)) =>
      (got.get(key).exists(r => r.length == 1 && r.head._4), keep) })
    Verdict(truth.size.toLong, math.min(wrong, truth.size.toLong), f1,
      Seq(s"oracle: ${truth.size - wrong}/${truth.size} turns byte-exact, keep F1 $f1"))
  }

  /** Conversations that v2 changes, chosen from the seed: four in parts the
    * seeded output has committed (so they are invalidated) and two in parts
    * it has not. */
  private def pickChanged(ctx: Ctx): Seq[String] = {
    val byPart = ctx.spark.read.parquet(inputDir).select("conv_id").distinct()
      .withColumn("part", PartitionedSink.partCol(NParts))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    def pick(pool: Array[String], n: Int, salt: Long): Seq[String] =
      (0 until n).map(i => pool(((Dedup.mix64(ctx.seed * 1000003L + salt * 31 + i) & Long.MaxValue)
        % pool.length).toInt)).distinct
    pick(byPart.filter(_._2 < NParts / 2).map(_._1), 4, 1) ++
      pick(byPart.filter(_._2 >= NParts / 2).map(_._1), 2, 2)
  }

  def layerMetrics(ctx: Ctx, k: Int, w: StageCollector.Window): (Seq[Metric], Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val all = read(ctx, inputDir).collect()
    val kernels = Kernels.measure(all.indices.by(math.max(1, all.length / KernelSample)).map(all(_)).toArray, nm, lm)

    // stage split of a job: score alone, then score + decide, to a no-op sink
    ctx.collector.take()
    val (scoreS, _) = Timing.wall {
      TranscriptPipeline.score(spark, read(ctx, inputDir), bnm, blm)
        .write.format("noop").mode("overwrite").save()
    }
    val scoreRunS = ctx.collector.take().executorRunS
    val (runS, _) = Timing.wall {
      TranscriptPipeline.run(spark, read(ctx, inputDir), bnm, blm)
        .write.format("noop").mode("overwrite").save()
    }
    val runWindow = ctx.collector.take()
    val obs = if (w.observed.contains("graft_pipeline.n_rows")) w.observed else runWindow.observed
    val rows = obs.getOrElse("graft_pipeline.n_rows", 0L)
    prepare(ctx, k + 1)
    val (writeS, _) = Timing.wall {
      PartitionedSink.write(spark, TranscriptPipeline.run(spark, read(ctx, inputDir), bnm, blm),
        jobDir(ctx, k + 1).getPath, NParts)
    }

    // restart path: half the parts committed from v1, resumed on v2
    val resumeDir = new File(ctx.work, "resume")
    Files.delete(resumeDir)
    val seeded = new File(resumeDir, "output").getPath
    val v2Dir = new File(resumeDir, "input_v2").getPath
    changedConvs = pickChanged(ctx)
    spark.read.parquet(inputDir)
      .withColumn("text", F.when(F.col("conv_id").isin(changedConvs: _*) && F.col("turn_idx") === 0,
        F.concat(F.col("text"), F.lit(" revised"))).otherwise(F.col("text")))
      .repartition(2 * ctx.cores)
      .write.mode("overwrite").parquet(v2Dir)
    val firstHalf = read(ctx, inputDir).filter(PartitionedSink.partCol(NParts) < NParts / 2).as[Turn]
    PartitionedSink.write(spark, TranscriptPipeline.run(spark, firstHalf, bnm, blm), seeded, NParts)
    ctx.collector.take()
    val (validateS, invalidated) = Timing.wall {
      PartitionedSink.invalidateChanged(spark, read(ctx, v2Dir).toDF(), seeded, NParts)
    }
    val pending = read(ctx, v2Dir).filter(PartitionedSink.pendingInputFilter(spark, seeded, NParts)).as[Turn]
    val report = PartitionedSink.write(spark, TranscriptPipeline.run(spark, pending, bnm, blm), seeded, NParts)
    val resumed = ctx.collector.take().observed.getOrElse("graft_pipeline.n_rows", 0L)
    val clean = new File(resumeDir, "clean").getPath
    PartitionedSink.write(spark, TranscriptPipeline.run(spark, read(ctx, v2Dir), bnm, blm), clean, NParts)
    val want = PartitionedSink.committedParts(spark, clean)
    val have = PartitionedSink.committedParts(spark, seeded)
    val badParts = (want.keySet ++ have.keySet).toSeq.filter(p => want.get(p) != have.get(p))
    val wrong = badParts.map(p => want.get(p).orElse(have.get(p)).map(_.nRows).getOrElse(1L)).sum
    if (badParts.nonEmpty)
      System.err.println(s"[perfbench] resumed output differs from a clean job in parts ${badParts.sorted.mkString(",")}")
    Files.delete(resumeDir)

    def med(key: String) = Stats.median(setupRuns.map(_.getOrElse(key, 0.0)).toSeq)
    val turnNs = kernels.find(_.name == "pipeline.turn_ns").get.value
    (kernels ++ Seq(
      Metric("langid.train_ngram_s", med("train_ngram_s"), "s"),
      Metric("langid.train_lm_s", med("train_lm_s"), "s"),
      Metric("pipeline.kernel_share", if (scoreRunS > 0) turnNs * rows / 1e9 / scoreRunS else 0.0, "ratio"),
      Metric("pipeline.score_s", scoreS, "s"),
      Metric("pipeline.decide_s", runS - scoreS, "s"),
      Metric("pipeline.sink_write_s", writeS - runS, "s"),
      Metric("pipeline.sink_validate_s", validateS, "s"),
      Metric("pipeline.rescored_ratio", resumed.toDouble / nTurns, "ratio"),
      Metric("pipeline.rows", rows.toDouble, "count"),
      Metric("pipeline.kept", obs.getOrElse("graft_pipeline.n_keep", 0L).toDouble, "count"),
      Metric("pipeline.pii_hits", obs.getOrElse("graft_pipeline.pii_hits", 0L).toDouble, "count"),
      Metric("pipeline.tox_hits", obs.getOrElse("graft_pipeline.tox_hits", 0L).toDouble, "count"),
      Metric("pipeline.scrub_errors", obs.getOrElse("graft_pipeline.scrub_errors", 0L).toDouble, "count"),
      Metric("pipeline.parts_written", report.written.size, "count"),
      Metric("pipeline.parts_skipped", report.skipped.size, "count"),
      Metric("pipeline.parts_invalidated", invalidated.size, "count"),
    ), wrong)
  }

  override def setupParts: Map[String, Double] = setupRuns.lastOption.getOrElse(Map.empty)

  override def notes: Seq[String] = Seq(
    s"$nConvs conversations, $nTurns turns, $NLangs languages, hotFactor $HotFactor, $NParts output parts",
    s"model training: $trainConvs conversations at fixed seed $TrainSeed") ++
    (if (changedConvs.nonEmpty) Seq(s"restart path: v2 changes ${changedConvs.mkString(",")}") else Nil)
}

object TranscriptWorkload {
  val NParts = 64
  val NLangs = 97
  val HotFactor = 50
  val TrainSeed = 7L
  /** Turns the single-thread kernel timings run over: an even sample. */
  val KernelSample = 10000
}

/** Single-thread cost of each per-row kernel over a sample of the
  * workload's turns, each timed on the input it sees inside
  * `TurnScorer.score`. */
object Kernels {
  def measure(input: Array[Turn], nm: NGramModel, lm: CharLMModel): Seq[Metric] = {
    val n = input.length
    val lmIdx = nm.classes.map(c => lm.classes.indexOf(c))
    val texts = input.map(t => if (t.text == null) "" else t.text)
    val normalized = new Array[String](n)
    val deMarkup = new Array[String](n)
    val dePii = new Array[String](n)
    val scrubbed = new Array[String](n)
    val lower = new Array[String](n)
    val langIdx = new Array[Int](n)
    def ns(name: String)(f: Int => Unit): Metric = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      Metric(name, (System.nanoTime() - t0).toDouble / math.max(n, 1), "ns")
    }
    Seq(
      ns("text.normalize_ns")(i => normalized(i) = Normalize.newlines(texts(i))),
      ns("text.scrub_markup_ns") { i =>
        val s = normalized(i)
        deMarkup(i) =
          if (s.indexOf('<') < 0) s
          else try Scrub.stripRawTextTag(Scrub.stripRawTextTag(s, "script", input(i).conv_id)._1,
            "style", input(i).conv_id)._1
          catch { case _: Scrub.MalformedInputException => s }
      },
      ns("text.scrub_pii_ns")(i => dePii(i) = Scrub.scrubPiiCounting(deMarkup(i))._1),
      ns("text.scrub_deny_ns") { i =>
        scrubbed(i) = Scrub.scrubDenyList(dePii(i), Scrub.defaultDenyList)._1
        lower(i) = scrubbed(i).toLowerCase(java.util.Locale.ROOT)
      },
      ns("langid.predict_ns")(i => langIdx(i) = nm.predictWithConfLower(lower(i))._1),
      ns("langid.perplexity_ns") { i =>
        val li = lmIdx(langIdx(i))
        if (li >= 0) lm.perplexityLower(lower(i), li)
      },
      ns("quality.metrics_ns")(i => Rules.isJunk(Metrics.of(scrubbed(i)))), {
        val scorer = new TranscriptPipeline.TurnScorer(nm, lm)
        ns("pipeline.turn_ns")(i => scorer.score(input(i), 0L))
      },
    )
  }
}

object Timing {
  def wall[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** Maps an array over a fixed pool of threads, each with its own function
  * instance (per-thread scorer state), preserving order. */
object Parallel {
  def map[A, B: scala.reflect.ClassTag](xs: Array[A], threads: Int)(mk: () => A => B): Array[B] = {
    val out = new Array[B](xs.length)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val chunk = (xs.length + threads - 1) / math.max(threads, 1)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        try {
          val f = mk()
          var i = t * chunk
          val end = math.min(xs.length, (t + 1) * chunk)
          while (i < end) { out(i) = f(xs(i)); i += 1 }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    out
  }
}
