package graft.pipeline

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, functions => F}
import org.apache.spark.util.AccumulatorV2

/** Partitioned output table with per-partition lineage manifests and
  * counters, resumable by skipping committed partitions (north rule;
  * generalizes the reference's content-fingerprint cache,
  * `features.py:87-93` / `train_model.py:94-108`).
  *
  * Layout (Iceberg-shaped, parquet + sidecar manifests — no Iceberg jars
  * in this sandbox):
  *   outDir/data/part=N/ (parquet files)   committed data
  *   outDir/_manifests/part-N.json         lineage manifest for partition N
  *
  * The partition of a row is pmod(xxhash64(conv_id), nParts) — a pure
  * function of the conversation key, so a restart computes identical
  * partition assignment and can skip any partition whose manifest exists.
  * Each manifest records its partition count and an order-independent
  * input fingerprint (row count + bit_xor of xxhash64(conv_id, turn_idx,
  * raw input text), carried through the pipeline as row_fp), so
  * `invalidateChanged()` can detect changed input and drop stale
  * partitions before a resume (silent stale-cache reuse is the failure
  * mode the reference's fingerprint guards against — SURVEY.md §7.4.6).
  * Resumes with a different nParts are refused (different partitioning of
  * the same rows would duplicate data).
  *
  * Uses the Hadoop FileSystem API throughout, so the same code runs on
  * HDFS / object stores on a real cluster.
  *
  * Counters come from the write itself: after `repartition(part)` every
  * row passes through a [[PartTally]] accumulator in the write job's
  * result tasks, and the manifests are built from its merged value, with
  * no job to read the landed files back. The tally counts exactly what
  * landed:
  *  - Spark merges a result task's accumulator updates once per output
  *    partition, and drops those of failed and commit-denied attempts;
  *  - the v1 `FileOutputCommitter` (Spark's default, left as it is)
  *    commits a task's files with one rename, and the job's files land
  *    only at job commit, so an attempt whose updates were dropped left no
  *    file behind.
  *
  * Cost: on a local filesystem the expensive operation is `create` (one
  * per data file, `.crc` sidecar and manifest), not rename or status
  * calls; `GraftSession` serves `file://` with [[graft.ForkFreeLocalFs]]
  * so a create no longer forks `chmod`. The commit protocol is the same
  * on every filesystem: data files first, then per-part manifests written
  * to a temp file and renamed into place.
  */
object PartitionedSink {

  final case class PartManifest(
      part: Int, nParts: Int, nRows: Long, nKeep: Long, piiHits: Long,
      toxHits: Long, scrubErrors: Long, fpSum: Long)

  final case class WriteReport(written: Seq[PartManifest], skipped: Seq[Int])

  def partCol(nParts: Int) =
    F.pmod(F.xxhash64(F.col("conv_id")), F.lit(nParts)).cast("int")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committedParts(spark: SparkSession, outDir: String): Map[Int, PartManifest] = {
    val f = fs(spark, outDir)
    val mdir = new Path(s"$outDir/_manifests")
    if (!f.exists(mdir)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    f.listStatus(mdir).iterator.flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith("part-") || !name.endsWith(".json")) None
      else {
        val in = f.open(st.getPath)
        val node = try mapper.readTree(in) finally in.close()
        Some(node.get("part").asInt() -> PartManifest(
          node.get("part").asInt(), node.get("nParts").asInt(),
          node.get("nRows").asLong(),
          node.get("nKeep").asLong(), node.get("piiHits").asLong(),
          node.get("toxHits").asLong(), node.get("scrubErrors").asLong(),
          node.get("fpSum").asLong()))
      }
    }.toMap
  }

  private def writeManifest(spark: SparkSession, outDir: String, m: PartManifest): Unit = {
    val f = fs(spark, outDir)
    val json =
      s"""{"part":${m.part},"nParts":${m.nParts},"nRows":${m.nRows},"nKeep":${m.nKeep},"piiHits":${m.piiHits},"toxHits":${m.toxHits},"scrubErrors":${m.scrubErrors},"fpSum":${m.fpSum}}"""
    val tmp = new Path(s"$outDir/_manifests/.part-${m.part}.json.tmp")
    val dst = new Path(s"$outDir/_manifests/part-${m.part}.json")
    val out = f.create(tmp, true)
    out.write(json.getBytes("UTF-8")); out.close()
    // the rename IS the commit point: a false return (or an exception)
    // must fail the job loudly, not drop the commit record silently.
    // (On HDFS/local this rename is atomic; object stores without atomic
    // rename need a _manifests location that has it — documented contract.)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(
        s"manifest commit failed: rename($tmp -> $dst) returned false")
  }

  /** Write the pipeline output partitioned by conv-hash, skipping
    * partitions already committed (manifest present). Expects the
    * TranscriptPipeline.decide schema (keep / pii_hits / tox_hits /
    * scrub_error / row_fp).
    * Returns the manifests written, in part order, plus the partitions
    * skipped.
    */
  def write(spark: SparkSession, df: DataFrame, outDir: String, nParts: Int): WriteReport = {
    val committed = committedParts(spark, outDir)
    // manifests from a run with a different nParts describe a different
    // partitioning of the same rows: resuming across that boundary would
    // duplicate data — refuse loudly
    committed.values.find(_.nParts != nParts).foreach { m =>
      throw new IllegalStateException(
        s"output $outDir was committed with nParts=${m.nParts}, requested $nParts — " +
          "finish the resume with the original nParts or start a fresh output dir")
    }
    // fully committed: nothing to compute or write
    if (committed.size == nParts)
      return WriteReport(Seq.empty, committed.keys.toSeq.sorted)
    val withPart = df.withColumn("part", partCol(nParts))
    val pending =
      if (committed.isEmpty) withPart
      else withPart.filter(!F.col("part").isin(committed.keys.toSeq: _*))

    // Crash safety: data files without a manifest are uncommitted leftovers
    // of an interrupted run — delete them before appending, otherwise the
    // "resumed" write would duplicate their rows (the manifest, written
    // last, is the commit point). That includes data/_temporary: the v1
    // committer's job commit moves every committed-task dir it finds there
    // into place, those of a job that died before its own commit too.
    val f = fs(spark, outDir)
    (0 until nParts).filterNot(committed.contains).foreach { pnum =>
      val dir = new Path(s"$outDir/data/part=$pnum")
      if (f.exists(dir)) f.delete(dir, true)
    }
    f.delete(new Path(s"$outDir/data/_temporary"), true)

    // One shot: shuffle once on part, write data files per partition dir.
    // The counters are tallied from the rows as the write's result tasks
    // pass them on, not read back: Spark keeps the tally of one attempt
    // per task, the one whose files the v1 committer renamed into place
    // (see the object's doc). A part with no rows gets no manifest
    // (recomputed next run, harmless); an all-rows-filtered write leaves
    // only _SUCCESS and no manifest.
    val tally = new PartTally(Seq("part", "keep", "pii_hits", "tox_hits", "scrub_error", "row_fp")
      .map(pending.schema.fieldIndex).toArray)
    spark.sparkContext.register(tally)
    pending
      .repartition(F.col("part"))
      .mapPartitions(_.map { r => tally.add(r); r })(Encoders.row(pending.schema))
      .write.mode("append").partitionBy("part")
      .parquet(s"$outDir/data")

    val manifests = tally.value.toSeq.sortBy(_._1).map { case (part, c) =>
      PartManifest(part, nParts, c(0), c(1), c(2), c(3), c(4), c(5))
    }
    manifests.foreach(writeManifest(spark, outDir, _))
    WriteReport(manifests, committed.keys.toSeq.sorted)
  }

  /** Per-part counters of the rows a write's result tasks pass on:
    * nRows, nKeep, piiHits, toxHits, scrubErrors (booleans count 1, nulls
    * 0, like `sum` of a cast to long) and the `bit_xor` of `row_fp`.
    * `cols` are the field indices of part, keep, pii_hits, tox_hits,
    * scrub_error and row_fp. */
  private[pipeline] final class PartTally(cols: Array[Int])
      extends AccumulatorV2[Row, Map[Int, Array[Long]]] {
    private val parts = mutable.HashMap.empty[Int, Array[Long]]

    override def isZero: Boolean = parts.isEmpty
    override def copy(): PartTally = {
      val c = new PartTally(cols)
      c.merge(this)
      c
    }
    override def reset(): Unit = parts.clear()

    override def add(r: Row): Unit = {
      val c = parts.getOrElseUpdate(r.getInt(cols(0)), new Array[Long](6))
      c(0) += 1
      var i = 1
      while (i < 5) { c(i) += asLong(r.get(cols(i))); i += 1 }
      if (!r.isNullAt(cols(5))) c(5) ^= r.getLong(cols(5))
    }

    override def merge(other: AccumulatorV2[Row, Map[Int, Array[Long]]]): Unit =
      other.value.foreach { case (part, o) =>
        val c = parts.getOrElseUpdate(part, new Array[Long](6))
        var i = 0
        while (i < 5) { c(i) += o(i); i += 1 }
        c(5) ^= o(5)
      }

    override def value: Map[Int, Array[Long]] = parts.toMap

    private def asLong(v: Any): Long = v match {
      case null => 0L
      case b: Boolean => if (b) 1L else 0L
      case n: Number => n.longValue
    }
  }

  /** Input-side pruning for resume: committed partitions can be dropped
    * BEFORE the expensive scoring map (the sink-side filter sits above an
    * opaque mapPartitions and cannot be pushed down by Catalyst). Apply to
    * the raw turns: `turns.filter(pendingInputFilter(spark, out, n))`. */
  def pendingInputFilter(spark: SparkSession, outDir: String, nParts: Int): org.apache.spark.sql.Column = {
    val committed = committedParts(spark, outDir).keys.toSeq
    if (committed.isEmpty) F.lit(true)
    else !partCol(nParts).isin(committed: _*)
  }

  /** Validate committed partitions against the current input: recompute
    * the order-independent fingerprint per part and drop manifests that no
    * longer match (their partitions will be recomputed on the next write).
    * Returns the invalidated partition ids. */
  def invalidateChanged(spark: SparkSession, input: DataFrame, outDir: String,
                        nParts: Int): Seq[Int] = {
    val committed = committedParts(spark, outDir)
    if (committed.isEmpty) return Seq.empty
    // mirror write()'s guard: with a different nParts every recomputed
    // fingerprint would mismatch and this would silently delete ALL
    // committed partitions of a perfectly valid output
    committed.values.find(_.nParts != nParts).foreach { m =>
      throw new IllegalStateException(
        s"output $outDir was committed with nParts=${m.nParts}, requested $nParts — " +
          "invalidate with the original nParts or start a fresh output dir")
    }
    val current = input.withColumn("part", partCol(nParts))
      .groupBy("part").agg(
        F.count(F.lit(1)).as("nRows"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").as("fpSum"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val f = fs(spark, outDir)
    val stale = committed.collect {
      case (p, m) if current.get(p).forall { case (c, s) => c != m.nRows || s != m.fpSum } => p
    }.toSeq.sorted
    stale.foreach { p =>
      f.delete(new Path(s"$outDir/_manifests/part-$p.json"), false)
      f.delete(new Path(s"$outDir/data/part=$p"), true)
    }
    stale
  }
}
