package graft

import org.apache.spark.sql.SparkSession

import graft.langid.{CharLM, ModelIO, NGramLangId}
import graft.pipeline.{PartitionedSink, Transcripts, TranscriptPipeline, Turn}

/** Production entry point — the spark-submit job of the north rule:
  *
  *   spark-submit --class graft.RunPipeline <jar> \
  *     --input <transcript parquet dir> --output <table dir> \
  *     [--nparts 256] [--salt <parts>] [--models <dir>] \
  *     [--train-convs 8000] [--nlangs 97] [--validate-input] [--local N]
  *
  * Behavior:
  *  - models: loaded from --models if present, else trained on a
  *    deterministic labeled corpus and saved there (C1 cache pattern)
  *  - resume: partitions already committed in --output are skipped; with
  *    --validate-input, committed partitions whose input fingerprint
  *    changed are invalidated and recomputed first
  *  - counters: per-partition manifests + an observe node; the job prints
  *    one JSON status line at the end
  *
  * If --input is absent the job synthesizes the deterministic transcript
  * table first (sandbox mode; on a real cluster --input is the Iceberg
  * table location).
  */
object RunPipeline {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(a.drop(2)) = args(i + 1); i += 2
        } else { m(a.drop(2)) = "true"; i += 1 }
      } else i += 1
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val output = opt.getOrElse("output",
      java.nio.file.Files.createTempDirectory("graft_out").toString)
    val nParts = opt.getOrElse("nparts", "64").toInt
    val salt = opt.getOrElse("salt", "0").toInt
    val nLangs = opt.getOrElse("nlangs", "97").toInt

    val spark: SparkSession = opt.get("local") match {
      case Some(n) => GraftSession.local(n.toInt, "graft-pipeline")
      case None => // under spark-submit the master/conf come from submit args
        GraftSession.builder(
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-pipeline")
          .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- input ----
    val inputPath = opt.get("input") match {
      case Some(p) => p
      case None =>
        val p = s"$output/_synth_input"
        Transcripts.generate(spark, opt.getOrElse("synth-convs", "20000").toLong,
            seed = 42L, nLangs = nLangs)
          .write.mode("overwrite").parquet(p)
        p
    }
    val turns = spark.read.parquet(inputPath).as[Turn]

    // ---- models (load-or-train-and-save) ----
    val modelsDir = opt.getOrElse("models", s"$output/_models")
    val ngramPath = s"$modelsDir/ngram.bin"
    val lmPath = s"$modelsDir/charlm.bin"
    val (nmodel, lmodel) =
      if (ModelIO.exists(spark, ngramPath) && ModelIO.exists(spark, lmPath))
        (ModelIO.loadNGram(spark, ngramPath), ModelIO.loadCharLM(spark, lmPath))
      else {
        val labeled = Transcripts
          .generate(spark, opt.getOrElse("train-convs", "8000").toLong,
            seed = 7L, hotFactor = 1, nLangs = nLangs)
          .map(t => (Transcripts.truthLang(7L, t.conv_id, nLangs), t.text))
          .toDF("lang_true", "text")
        val nm = NGramLangId.train(spark, labeled, "lang_true", "text")
        val lm = CharLM.train(spark, labeled, "lang_true", "text")
        ModelIO.saveNGram(spark, nm, ngramPath)
        ModelIO.saveCharLM(spark, lm, lmPath)
        (nm, lm)
      }

    // ---- resume bookkeeping ----
    val invalidated =
      if (opt.contains("validate-input"))
        PartitionedSink.invalidateChanged(spark, turns.toDF(), output, nParts)
      else Seq.empty

    // ---- the job ----
    val nm = spark.sparkContext.broadcast(nmodel)
    val lm = spark.sparkContext.broadcast(lmodel)
    // resume pruning at the SOURCE: drop committed partitions before the
    // scoring map (the sink-side filter can't be pushed through it)
    val pendingTurns = turns.filter(
      PartitionedSink.pendingInputFilter(spark, output, nParts)).as[Turn]
    val result = TranscriptPipeline.run(spark, pendingTurns, nm, lm, saltParts = salt)
    val report = PartitionedSink.write(spark, result, output, nParts)

    // ---- optional near-dup report (--near-dup-report) ----
    // Runs minhash LSH over the kept, scrubbed output and reports the pair
    // count AND the hot-bucket capped-row counter: a capped bucket means
    // the dedup silently lost recall there, which an operator must SEE in
    // the job summary, not discover in a notebook later.
    val nearDup: String = if (opt.contains("near-dup-report")) {
      import org.apache.spark.sql.{functions => F}
      val capped = new java.util.concurrent.atomic.AtomicLong(-1L)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          qe.observedMetrics.get("minhash_caps")
            .foreach(r => capped.set(r.getAs[Long]("capped_rows")))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val keptRows = spark.read.parquet(output).filter(F.col("keep"))
          .select(F.xxhash64(F.col("conv_id"), F.col("turn_idx")).as("id"),
            F.col("scrubbed"))
        val nPairs = graft.dedup.Dedup.minhashDupPairs(keptRows, "scrubbed", "id").count()
        // observe metrics arrive via the (async) listener bus: drain it
        org.apache.spark.ListenerDrain(spark.sparkContext)
        s""","near_dup_pairs":$nPairs,"minhash_capped_rows":${capped.get()}"""
      } finally spark.listenerManager.unregister(listener)
    } else ""

    val written = report.written
    println(
      s"""{"job":"graft-pipeline","output":"$output","parts_written":${written.length},""" +
      s""""parts_skipped":${report.skipped.length},"parts_invalidated":${invalidated.length},""" +
      s""""rows":${written.map(_.nRows).sum},"kept":${written.map(_.nKeep).sum},""" +
      s""""pii_hits":${written.map(_.piiHits).sum},"tox_hits":${written.map(_.toxHits).sum},""" +
      s""""scrub_errors":${written.map(_.scrubErrors).sum}$nearDup}""")
    spark.stop()
  }
}
