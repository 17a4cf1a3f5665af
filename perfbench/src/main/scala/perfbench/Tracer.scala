package perfbench

import scala.collection.mutable.ArrayBuffer

/** Epoch-based nanosecond clock: Spark listener timestamps are epoch
  * milliseconds, so benchmark spans and Spark spans share one time base. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, `span` only evaluates its body. Spans are kept in memory and
  * written out once, at the end of the run. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.nowNs()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, name, t0, Clock.nowNs(), runId)
      }
    }

  /** Adds the Spark jobs and stages of `w` as spans: a job under the
    * innermost benchmark span that encloses its start, a stage under the
    * first of its jobs. */
  def addSpark(w: StageCollector.Window): Unit = if (enabled) {
    val bench = buf.toVector
    def innermost(tNs: Long): Int = {
      val enclosing = bench.filter(s => s.startNs <= tNs && tNs <= s.endNs)
      if (enclosing.isEmpty) 0 else enclosing.minBy(_.durNs).id
    }
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    w.jobs.sortBy(_.jobId).foreach { j =>
      val id = nextId; nextId += 1
      buf += Span(id, innermost(j.startMs * 1000000L), "spark.job",
        j.startMs * 1000000L, j.endMs * 1000000L, runId)
      j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
    }
    w.stages.foreach { st =>
      val id = nextId; nextId += 1
      val parent = stageJob.getOrElse(st.stageId, innermost(st.submitMs * 1000000L))
      buf += Span(id, parent, "spark.stage", st.submitMs * 1000000L, st.completeMs * 1000000L, runId)
    }
  }

  def spans: Seq[Span] = buf.toVector
}

object Tracer {

  /** Writes spans as JSON lines. */
  def write(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":${Json.str(s.runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its child spans cover, summed over spans of a name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.durNs - unionNs(kids, s.startNs, s.endNs)) / 1e9
      }.sum
    }
  }
}
