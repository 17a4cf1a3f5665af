package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.PartitionedSink.PartManifest

/** The sink's manifests against an oracle: the landed files read back and
  * aggregated per part. */
class SinkManifestSpec extends AnyFunSuite {
  import SinkManifestSpec._

  private lazy val spark = SparkTestSession.spark
  private lazy val input = SinkInput.decided(spark, nConvs = 120, seed = 5L).cache()

  private def freshDir(): String = Files.createTempDirectory("graft_sink_oracle").toString

  /** Asserts that `written`, in any order, equals the oracle over its
    * parts and that its manifests are the ones committed on disk. */
  private def assertOracle(out: String, written: Seq[PartManifest], nParts: Int): Unit = {
    assert(written.nonEmpty)
    val parts = written.map(_.part)
    val sorted = written.sortBy(_.part)
    assert(sorted == oracle(spark, out, parts, nParts))
    assert(sorted == PartitionedSink.committedParts(spark, out).filter {
      case (p, _) => parts.contains(p) }.values.toSeq.sortBy(_.part))
  }

  test("fresh 8-part and 64-part writes: manifests equal the re-read aggregate") {
    Seq(8, 64).foreach { nParts =>
      val out = freshDir()
      val r = PartitionedSink.write(spark, input, out, nParts)
      assert(r.skipped.isEmpty)
      assertOracle(out, r.written, nParts)
      assert(r.written.map(_.nRows).sum == input.count())
    }
  }

  test("a resume writes the remaining parts; their manifests equal the re-read aggregate") {
    val nParts = 8
    val out = freshDir()
    val first = input.filter(PartitionedSink.partCol(nParts) < nParts / 2)
    val r1 = PartitionedSink.write(spark, first, out, nParts)
    assertOracle(out, r1.written, nParts)
    val r2 = PartitionedSink.write(spark, input, out, nParts)
    assert(r2.skipped == r1.written.map(_.part).sorted)
    assert(r2.written.map(_.part).toSet == (0 until nParts).toSet -- r2.skipped)
    assertOracle(out, r2.written, nParts)
    assert(spark.read.parquet(s"$out/data").count() == input.count())
  }

  test("a crash-recovered part (data present, manifest deleted): manifest equals the re-read aggregate") {
    val nParts = 8
    val out = freshDir()
    val r1 = PartitionedSink.write(spark, input, out, nParts)
    val crashed = r1.written(2)
    Files.delete(new File(s"$out/_manifests/part-${crashed.part}.json").toPath)
    val r2 = PartitionedSink.write(spark, input, out, nParts)
    assert(r2.written == Seq(crashed))
    assertOracle(out, r2.written, nParts)
    assert(spark.read.parquet(s"$out/data").count() == input.count())
  }

  test("task output a crashed job committed under data/_temporary does not land") {
    val nParts = 8
    val out = freshDir()
    val r1 = PartitionedSink.write(spark, input, out, nParts)
    // a job that died after a task commit and before the job commit: the
    // task's files sit in its committed-task dir, the part has no manifest
    val crashed = r1.written(3).part
    val taskDir = new File(s"$out/data/_temporary/0/task_202601010000_0000_m_000000")
    taskDir.mkdirs()
    Files.move(new File(s"$out/data/part=$crashed").toPath, new File(taskDir, s"part=$crashed").toPath)
    Files.delete(new File(s"$out/_manifests/part-$crashed.json").toPath)
    val r2 = PartitionedSink.write(spark, input, out, nParts)
    assert(r2.written.map(_.part) == Seq(crashed))
    assertOracle(out, r2.written, nParts)
    assert(spark.read.parquet(s"$out/data").count() == input.count())
  }

  test("an all-rows-filtered write commits no manifest and no part dir") {
    val out = freshDir()
    val r = PartitionedSink.write(spark, input.filter(F.lit(false)), out, 8)
    assert(r.written.isEmpty && r.skipped.isEmpty)
    assert(PartitionedSink.committedParts(spark, out).isEmpty)
    val dataDirs = Option(new File(s"$out/data").list()).toSeq.flatten
    assert(!dataDirs.exists(_.startsWith("part=")), dataDirs.mkString(", "))
  }

  test("a write whose task fails commits nothing; the next write lands every row exactly once") {
    val nParts = 8
    val out = freshDir()
    val conf = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(conf, classOf[FailOnceCommitProtocol].getName)
    FailOnceCommitProtocol.armed.set(true)
    try {
      intercept[Exception](PartitionedSink.write(spark, input, out, nParts))
      assert(!FailOnceCommitProtocol.armed.get, "the injected failure did not fire")
      assert(PartitionedSink.committedParts(spark, out).isEmpty)
      val r = PartitionedSink.write(spark, input, out, nParts)
      assert(r.written.map(_.part).sorted == (0 until nParts))
      assertOracle(out, r.written, nParts)
      val landed = spark.read.parquet(s"$out/data")
      assert(landed.count() == input.count())
      assert(landed.select("conv_id", "turn_idx").distinct().count() == input.count())
    } finally {
      spark.conf.unset(conf)
      FailOnceCommitProtocol.armed.set(false)
    }
  }
}

object SinkManifestSpec {

  /** The per-part aggregate of the landed files of `parts`. */
  def oracle(spark: SparkSession, out: String, parts: Seq[Int], nParts: Int): Seq[PartManifest] =
    spark.read.parquet(s"$out/data")
      .filter(F.col("part").isin(parts: _*))
      .groupBy("part").agg(
        F.count(F.lit(1)).as("nRows"),
        F.sum(F.col("keep").cast("long")).as("nKeep"),
        F.sum(F.col("pii_hits").cast("long")).as("piiHits"),
        F.sum(F.col("tox_hits").cast("long")).as("toxHits"),
        F.sum(F.col("scrub_error").cast("long")).as("scrubErrors"),
        F.expr("bit_xor(row_fp)").as("fpSum"))
      .collect().map { r =>
        PartManifest(r.getInt(0), nParts, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      }.toSeq.sortBy(_.part)
}

/** Generated transcripts with the columns the sink counts, from cheap
  * expressions instead of the scoring models: the sink reads only the
  * column values. */
object SinkInput {
  def decided(spark: SparkSession, nConvs: Long, seed: Long): DataFrame = {
    val fp = F.col("row_fp")
    Transcripts.generate(spark, nConvs, seed, hotFactor = 2).toDF()
      .withColumn("row_fp", F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.col("text")))
      .withColumn("keep", F.pmod(fp, F.lit(3L)) =!= 0)
      .withColumn("pii_hits", F.pmod(fp, F.lit(4L)).cast("int"))
      .withColumn("tox_hits", F.pmod(fp, F.lit(7L)).cast("int"))
      .withColumn("scrub_error", F.pmod(fp, F.lit(11L)) === 0)
  }
}

/** Spark's commit protocol, except that the first task to commit after
  * `armed` is set fails right after its files were committed: the job
  * aborts, as it does when an executor dies between task and job commit.
  * The flag is JVM-static, so it reaches the tasks in local mode. */
class FailOnceCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val msg = super.commitTask(ctx)
    if (FailOnceCommitProtocol.armed.getAndSet(false))
      throw new java.io.IOException("injected failure after a task commit")
    msg
  }
}

object FailOnceCommitProtocol {
  val armed = new AtomicBoolean(false)
}
