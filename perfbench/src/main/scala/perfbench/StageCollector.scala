package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark jobs, stages and tasks, plus named `observe` metrics,
  * from listener events. `take()` first drains the listener bus, so what
  * it returns is complete for every job that has finished. */
final class StageCollector(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import StageCollector._

  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskRun = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val observed = mutable.Map.empty[String, Long]
  private var jobsDone = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, ids) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
    jobs += JobRec(e.jobId, t0, e.time, ids)
    jobsDone += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val runs = taskRun.remove((i.stageId, i.attemptNumber())).map(_.toVector).getOrElse(Vector.empty)
    stages += StageRec(
      stageId = i.stageId, numTasks = i.numTasks,
      submitMs = i.submissionTime.getOrElse(0L), completeMs = i.completionTime.getOrElse(0L),
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
      shuffleRecords = m.shuffleWriteMetrics.recordsWritten,
      spillB = m.memoryBytesSpilled + m.diskBytesSpilled,
      inputRecords = m.inputMetrics.recordsRead,
      taskRunMs = runs)
  }

  // observe() metrics arrive with the query execution events
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.observedMetrics.foreach { case (name, row) =>
      row.schema.fieldNames.zipWithIndex.foreach { case (f, k) =>
        if (!row.isNullAt(k)) row.get(k) match {
          case n: java.lang.Number => observed(s"$name.$f") = observed.getOrElse(s"$name.$f", 0L) + n.longValue
          case _ => ()
        }
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs finished since the listener was registered. */
  def jobsCompleted(): Long = {
    BenchBus.drain(sc)
    synchronized(jobsDone)
  }

  /** Everything recorded since the last call, after draining the bus. */
  def take(): Window = {
    BenchBus.drain(sc)
    synchronized {
      val w = Window(jobs.toVector, stages.toVector, observed.toMap)
      jobs.clear(); stages.clear(); observed.clear(); taskRun.clear()
      w
    }
  }
}

object StageCollector {

  final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

  final case class StageRec(
      stageId: Int, numTasks: Int, submitMs: Long, completeMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteB: Long,
      shuffleReadB: Long, shuffleRecords: Long, spillB: Long,
      inputRecords: Long, taskRunMs: Seq[Long])

  final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec], observed: Map[String, Long]) {

    def inputRecords: Long = stages.map(_.inputRecords).sum
    def executorRunS: Double = stages.map(_.runMs).sum / 1e3

    /** Stage-layer metrics for a job of wall `wallS` that ran on `cores`
      * cores between `startNs` and `endNs`. */
    def sparkMetrics(wallS: Double, cores: Int, startNs: Long, endNs: Long): Seq[Metric] = {
      val mb = 1024.0 * 1024.0
      val heaviest = if (stages.isEmpty) None else Some(stages.maxBy(_.runMs))
      val skew = heaviest.map { st =>
        val t = st.taskRunMs.sorted
        if (t.isEmpty) 1.0 else t.last.toDouble / math.max(Stats.median(t.map(_.toDouble)), 1.0)
      }.getOrElse(1.0)
      val stageUnion = Tracer.unionNs(
        stages.map(s => (s.submitMs * 1000000L, s.completeMs * 1000000L)), startNs, endNs) / 1e9
      Seq(
        Metric("spark.jobs", jobs.size, "count"),
        Metric("spark.stages", stages.size, "count"),
        Metric("spark.tasks", stages.map(_.numTasks.toLong).sum, "count"),
        Metric("spark.executor_run_s", executorRunS, "s"),
        Metric("spark.executor_cpu_s", stages.map(_.cpuNs).sum / 1e9, "s"),
        Metric("spark.gc_s", stages.map(_.gcMs).sum / 1e3, "s"),
        Metric("spark.core_util", executorRunS / (wallS * cores), "ratio"),
        Metric("spark.task_skew", skew, "ratio"),
        Metric("spark.single_task_stage_s",
          stages.filter(_.numTasks == 1).map(s => (s.completeMs - s.submitMs) / 1e3).sum, "s"),
        Metric("spark.scheduler_gap_s", math.max(wallS - stageUnion, 0.0), "s"),
        Metric("spark.shuffle_write_mb", stages.map(_.shuffleWriteB).sum / mb, "MB"),
        Metric("spark.shuffle_read_mb", stages.map(_.shuffleReadB).sum / mb, "MB"),
        Metric("spark.shuffle_records", stages.map(_.shuffleRecords).sum, "count"),
        Metric("spark.spill_mb", stages.map(_.spillB).sum / mb, "MB"),
      )
    }
  }

  def register(spark: SparkSession): StageCollector = {
    val c = new StageCollector(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
