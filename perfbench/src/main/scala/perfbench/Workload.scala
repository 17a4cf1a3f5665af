package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one run hands to a workload: the session of the current set-up,
  * its listener, the core count, the run's seed and its scratch directory. */
final case class Ctx(spark: SparkSession, collector: StageCollector, cores: Int,
                     seed: Long, work: File, dataDir: File, repoRoot: File)

/** Outcome of the oracle check: operations checked, operations wrong or
  * failed, and the keep/drop F1 (or the workload's stand-in for it). */
final case class Verdict(attempted: Long, failed: Long, keepF1: Double, notes: Seq[String])

/** One benchmark workload. A run sets it up several times on fresh
  * sessions (only the last set-up is kept), runs warm-up jobs, times
  * complete jobs in a closed loop, checks the last job's output against an
  * oracle, and in a traced run attributes a job's time to layers. */
trait Workload {

  /** One set-up on a fresh session: inputs and models. */
  def setup(ctx: Ctx): Unit

  /** Jobs run after the last set-up and before timing, until the timed
    * jobs run on compiled code. */
  def warmupJobs: Int

  /** Untimed preparation of job `k`'s starting state. */
  def prepare(ctx: Ctx, k: Int): Unit = ()

  /** One complete, fully evaluated job. */
  def job(ctx: Ctx, k: Int, tr: Tracer): Unit

  /** Input rows one job processes, for the throughput metric. */
  def units(ctx: Ctx, w: StageCollector.Window): Long

  /** Oracle check of job `k`'s output. */
  def verify(ctx: Ctx, k: Int): Verdict

  /** Per-layer metrics of this workload after traced job `k`, whose
    * listener window is `w`, and the operations found wrong by checks made
    * while measuring them. */
  def layerMetrics(ctx: Ctx, k: Int, w: StageCollector.Window): (Seq[Metric], Long)

  /** Sub-timings of the last set-up, by name (seconds). */
  def setupParts: Map[String, Double] = Map.empty

  /** Things the output should state about this workload. */
  def notes: Seq[String] = Nil
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
