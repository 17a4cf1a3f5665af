package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

import graft.SparkTestSession
import graft.eval.F1
import graft.langid.{CharLM, NGramLangId}

/** North-rule gates (SURVEY.md §5.5): keep/drop F1 >= 0.99 vs a sequential
  * oracle, byte-exact scrubbed text, parallelism-invariance, resumable
  * partitioned sink.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val seed = 42L
  private lazy val turns = Transcripts.generate(spark, nConvs = 200, seed = seed, hotFactor = 20).cache()

  private lazy val models = {
    // train on a *separate* generated corpus (different seed) so evaluation
    // is not on training rows
    val trainTurns = Transcripts.generate(spark, nConvs = 300, seed = 7L, hotFactor = 1)
    val labeled = trainTurns
      .withColumn("lang_true", F.udf((c: String) => Transcripts.truthLang(7L, c)).apply(F.col("conv_id")))
    val nm = NGramLangId.train(spark, labeled.toDF(), "lang_true", "text")
    val lm = CharLM.train(spark, labeled.toDF(), "lang_true", "text")
    (spark.sparkContext.broadcast(nm), spark.sparkContext.broadcast(lm))
  }

  test("langid: n-gram NB recovers the generating language on clean turns") {
    val (nm, _) = models
    val seedLocal = seed // avoid capturing the (non-serializable) suite
    val preds = turns
      .filter(F.length(F.col("text")) > 60)
      .mapPartitions { it =>
        val m = nm.value
        it.map(t => (Transcripts.truthLang(seedLocal, t.conv_id), m.predict(t.text)))
      }
      .toDF("lang_true", "lang_pred")
    val acc = F1.accuracy(preds, "lang_true", "lang_pred")
    info(s"4-language accuracy: $acc")
    assert(acc > 0.97, s"langid accuracy $acc")
    val macroF1 = F1.macroF1(preds, "lang_true", "lang_pred")
    assert(macroF1 > 0.95, s"langid macro-F1 $macroF1")
  }

  test("keep/drop F1 >= 0.99 and scrubbed text byte-exact vs sequential oracle") {
    val (nm, lm) = models
    val result = TranscriptPipeline.run(spark, turns, nm, lm, saltParts = 8)
      .select("conv_id", "turn_idx", "scrubbed", "keep")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getBoolean(3)))
      .toMap

    // sequential oracle: same rules, single thread, explicit turn ordering
    val nmV = nm.value; val lmV = lm.value
    val oracle = turns.collect()
      .groupBy(_.conv_id)
      .iterator.flatMap { case (_, ts) =>
        val sorted = ts.sortBy(_.turn_idx)
        var prevScrubbed: String = null
        sorted.map { t =>
          val s = TranscriptPipeline.scoreOne(t, nmV, lmV)
          val isRepeat = s.scrubbed == prevScrubbed
          prevScrubbed = s.scrubbed
          (t.conv_id, t.turn_idx) -> (s.scrubbed,
            !s.junk && !isRepeat && s.perplexity <= TranscriptPipeline.MaxPerplexity)
        }
      }.toMap

    assert(result.size == oracle.size)
    var scrubMismatch = 0
    var tp = 0L; var fp = 0L; var fn = 0L
    oracle.foreach { case (k, (oScrub, oKeep)) =>
      val (rScrub, rKeep) = result(k)
      if (rScrub != oScrub) scrubMismatch += 1
      if (oKeep && rKeep) tp += 1
      else if (!oKeep && rKeep) fp += 1
      else if (oKeep && !rKeep) fn += 1
    }
    assert(scrubMismatch == 0, s"$scrubMismatch scrubbed-text mismatches (must be byte-exact)")
    val f1 = if (2 * tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    assert(f1 >= 0.99, s"keep/drop F1 $f1 < 0.99")
    // both decisions must actually occur in the fixture
    assert(oracle.values.exists(_._2) && oracle.values.exists(!_._2))
  }

  test("pipeline output is invariant to salting and parallelism") {
    val (nm, lm) = models
    def runWith(salt: Int) =
      TranscriptPipeline.run(spark, turns, nm, lm, saltParts = salt)
        .select("conv_id", "turn_idx", "keep", "scrubbed", "lang", "perplexity")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3),
          r.getString(4), r.getDouble(5)))
        .sortBy(t => (t._1, t._2))
    assert(runWith(0).toSeq == runWith(16).toSeq)
  }

  test("langid scales to 97 languages (north-star class count)") {
    import org.apache.spark.sql.{functions => FF}
    val nLangs = 97
    val trainTurns = Transcripts.generate(spark, nConvs = 3000, seed = 23L,
      hotFactor = 1, nLangs = nLangs)
    val labeled = trainTurns.toDF()
      .withColumn("lang_true",
        FF.udf((c: String) => Transcripts.truthLang(23L, c, nLangs)).apply(FF.col("conv_id")))
    val nm = NGramLangId.train(spark, labeled, "lang_true", "text")
    assert(nm.classes.length == nLangs)
    val bc = spark.sparkContext.broadcast(nm)
    val evalTurns = Transcripts.generate(spark, nConvs = 400, seed = 29L,
      hotFactor = 1, nLangs = nLangs)
    val preds = evalTurns
      .filter(FF.length(FF.col("text")) > 60)
      .mapPartitions { it =>
        val m = bc.value
        it.map(t => (Transcripts.truthLang(29L, t.conv_id, 97), m.predict(t.text)))
      }
      .toDF("lang_true", "lang_pred")
    val acc = F1.accuracy(preds, "lang_true", "lang_pred")
    info(s"97-language accuracy: $acc")
    assert(acc > 0.9, s"97-language accuracy $acc")
  }

  test("confidence is informative: held-out reliability curve is monotone at 97 languages") {
    import org.apache.spark.sql.{functions => FF}
    import spark.implicits._
    val nLangs = 97
    val trainTurns = Transcripts.generate(spark, nConvs = 3000, seed = 23L,
      hotFactor = 1, nLangs = nLangs)
    val labeled = trainTurns.toDF()
      .withColumn("lang_true",
        FF.udf((c: String) => Transcripts.truthLang(23L, c, nLangs)).apply(FF.col("conv_id")))
    val nm = NGramLangId.train(spark, labeled, "lang_true", "text")
    val bc = spark.sparkContext.broadcast(nm)
    // held-out seed, NO length filter: short turns are where confidence
    // must drop — corpus triage keeps "high-confidence" slices, so the
    // column only earns its place if bucketed accuracy rises with it
    val scored = Transcripts
      .generate(spark, nConvs = 600, seed = 37L, hotFactor = 1, nLangs = nLangs)
      .mapPartitions { it =>
        val m = bc.value
        it.map { t =>
          val (lab, conf) = m.predictWithConf(t.text)
          (if (lab == Transcripts.truthLang(37L, t.conv_id, nLangs)) 1.0 else 0.0, conf)
        }
      }.toDF("correct", "conf").cache()
    // reliability data via the operator: tercile equal-population bins
    val rel = graft.eval.Calibration.reliabilityTable(scored, "conf", "correct", nBins = 3)
    val bins = rel.collect()
      .map(r => (r.getInt(0), r.getDouble(3), r.getLong(1), r.getDouble(2)))
    val eceVal = graft.eval.Calibration.ece(rel)
    scored.unpersist()
    info(s"reliability terciles (bin, acc, n, mean_conf): ${bins.mkString(" ")}; ECE=$eceVal")
    assert(bins.length == 3 && bins.forall(_._3 > 100), s"thin bins: ${bins.toSeq}")
    assert(eceVal >= 0.0 && eceVal <= 1.0)
    val accs = bins.map(_._2)
    assert(accs(2) > accs(0),
      s"top-confidence tercile must beat the bottom: ${accs.toSeq}")
    // monotone within noise tolerance — the reliability-curve shape
    assert(accs(1) >= accs(0) - 0.02 && accs(2) >= accs(1) - 0.02,
      s"reliability curve not monotone: ${accs.toSeq}")
  }

  test("row_fp replica matches the SQL xxhash64 expression") {
    val df = Transcripts.generate(spark, nConvs = 20, seed = 31L, hotFactor = 1).toDF()
      .withColumn("sql_fp", F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.col("text")))
    val mismatches = df.collect().count { r =>
      RowFp.of(r.getString(0), r.getInt(1), r.getString(3)) != r.getAs[Long]("sql_fp")
    }
    assert(mismatches == 0)
  }

  test("clustered (shuffle-free) pipeline equals the windowed pipeline") {
    val (nm, lm) = models
    val dir = java.nio.file.Files.createTempDirectory("graft_clustered").toString
    Transcripts.generate(spark, nConvs = 400, seed = 19L, hotFactor = 30, numPartitions = 1)
      .write.mode("overwrite")
      // small row groups so byte-range splits actually carry rows
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(dir)
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // force many tiny input splits so conversations straddle partition
      // boundaries (the case the boundary exchange exists for)
      spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      val turnsIn = spark.read.parquet(dir).as[Turn]
      assert(turnsIn.rdd.getNumPartitions > 4, "fixture must split the file")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getInt(1)) -> (r.getBoolean(2), r.getString(3), r.getLong(4))
      val clustered = TranscriptPipeline.runClustered(spark, turnsIn, nm, lm)
        .select("conv_id", "turn_idx", "keep", "scrubbed", "row_fp")
        .collect().map(key).toMap
      val windowed = TranscriptPipeline.run(spark, turnsIn, nm, lm)
        .select("conv_id", "turn_idx", "keep", "scrubbed", "row_fp")
        .collect().map(key).toMap
      assert(clustered.size == windowed.size)
      assert(clustered == windowed)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
  }

  test("clustered pipeline rejects non-clustered input") {
    val (nm, lm) = models
    val shuffled = turns.repartition(6) // round-robin destroys ordering
    assertThrows[IllegalStateException] {
      TranscriptPipeline.runClustered(spark, shuffled, nm, lm).count()
    }
  }

  test("observe metrics report pipeline counters in one pass") {
    val (nm, lm) = models
    val small = Transcripts.generate(spark, nConvs = 30, seed = 13L, hotFactor = 1)
    val decided = TranscriptPipeline.run(spark, small, nm, lm)
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        qe.observedMetrics.get("graft_pipeline").foreach(r => observed = Some(r))
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val total = decided.count()
      val keeps = decided.filter(org.apache.spark.sql.functions.col("keep")).count()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(observed.isDefined, "observe metrics not delivered")
      val r = observed.get
      assert(r.getAs[Long]("n_rows") == total)
      assert(r.getAs[Long]("n_keep") == keeps)
      assert(r.getAs[Long]("pii_hits") >= 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming pipeline matches batch keep/scrub decisions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (nm, lm) = models
    val small = Transcripts.generate(spark, nConvs = 25, seed = 17L, hotFactor = 1)
      .collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Turn]
    val q = TranscriptPipeline.runStream(spark, stream.toDS(), nm, lm)
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    try {
      // two micro-batches split mid-conversation: state must carry over
      val (b1, b2) = small.partition(t => t.turn_idx < 3)
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("pipe_stream")
        .select("conv_id", "turn_idx", "keep", "scrubbed").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getBoolean(2), r.getString(3))).toMap
      import spark.implicits._
      val batch = TranscriptPipeline.run(spark, small.toDS(), nm, lm)
        .select("conv_id", "turn_idx", "keep", "scrubbed").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getBoolean(2), r.getString(3))).toMap
      assert(streamed.size == batch.size)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("partitioned sink: manifests, counters, resume-skip, invalidation") {
    val (nm, lm) = models
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val nParts = 8
    val small = Transcripts.generate(spark, nConvs = 40, seed = 11L, hotFactor = 2).cache()
    val result = TranscriptPipeline.run(spark, small, nm, lm)

    val r1 = PartitionedSink.write(spark, result, out, nParts)
    assert(r1.skipped.isEmpty)
    assert(r1.written.nonEmpty)
    val totalRows = r1.written.map(_.nRows).sum
    assert(totalRows == small.count())

    // resume: second write skips all committed partitions, adds nothing
    val r2 = PartitionedSink.write(spark, result, out, nParts)
    assert(r2.written.isEmpty)
    assert(r2.skipped.sorted == r1.written.map(_.part).sorted)
    val landed = spark.read.parquet(s"$out/data")
    assert(landed.count() == totalRows, "resume must not duplicate rows")

    // counters match the data
    val keepCount = landed.filter(F.col("keep")).count()
    assert(r1.written.map(_.nKeep).sum == keepCount)

    // crash recovery: a partition with data but no manifest (simulating a
    // crash between data write and manifest commit) must be recomputed
    // WITHOUT duplicating rows
    val crashPart = r1.written.head.part
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/_manifests/part-$crashPart.json"))
    val r2b = PartitionedSink.write(spark, result, out, nParts)
    assert(r2b.written.map(_.part) == Seq(crashPart))
    assert(spark.read.parquet(s"$out/data").count() == totalRows,
      "crash-recovered partition must not duplicate rows")

    // unchanged input -> nothing invalidated
    assert(PartitionedSink.invalidateChanged(spark, small.toDF(), out, nParts).isEmpty)

    // nParts mismatch must be refused loudly (mirror of write()'s guard):
    // under a different nParts every fingerprint would mismatch and a
    // silent pass would wipe ALL committed partitions of a valid output
    val committedBefore = PartitionedSink.committedParts(spark, out).size
    intercept[IllegalStateException] {
      PartitionedSink.invalidateChanged(spark, small.toDF(), out, nParts * 2)
    }
    assert(PartitionedSink.committedParts(spark, out).size == committedBefore,
      "refused invalidation must not delete anything")

    // changed input (one conv's text mutated) -> exactly its partition is
    // invalidated and recomputed on the next write
    val mutated = small.map(t =>
      if (t.conv_id == "conv00000003") t.copy(text = t.text + " CHANGED") else t)
    val stale = PartitionedSink.invalidateChanged(spark, mutated.toDF(), out, nParts)
    assert(stale.nonEmpty)
    val r3 = PartitionedSink.write(spark,
      TranscriptPipeline.run(spark, mutated, nm, lm), out, nParts)
    assert(r3.written.map(_.part).sorted == stale.sorted)
    val finalRows = spark.read.parquet(s"$out/data").count()
    assert(finalRows == totalRows, "recomputed partition must replace, not append")
  }
}
