package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry

/** One fully evaluated pass over three corpus-operator queries of
  * `SparkEntry.queries` on the sf0.01 tables: the dedup, similarity and
  * quality operators. Each result goes to a parquet sink, and
  * the last pass's results are compared with `SparkEntry.oracleSql` in
  * DuckDB by the engine's own strict checker. The tables are fixed
  * (generated at seed 42), so `--seed` does not change this workload. */
final class CorpusOpsWorkload extends Workload {
  import CorpusOpsWorkload._

  private val walls = mutable.LinkedHashMap.empty[String, Double]
  private val jobs = mutable.Map.empty[String, Long]
  private val failed = mutable.Set.empty[String]

  val warmupJobs = 1

  private def outDir(ctx: Ctx) = new File(ctx.work, "corpus_out")

  def setup(ctx: Ctx): Unit = {
    Files.delete(outDir(ctx))
    failed.clear()
  }

  def job(ctx: Ctx, k: Int, tr: Tracer): Unit = tr.span("bench.job") {
    Queries.foreach { q =>
      val j0 = if (tr.enabled) ctx.collector.jobsCompleted() else 0L
      val (s, ok) = Timing.wall { tr.span(s"corpus.$q")(runQuery(ctx, q)) }
      if (!ok) failed += q
      walls(q) = s
      if (tr.enabled) jobs(q) = ctx.collector.jobsCompleted() - j0
    }
  }

  /** Runs one query into its parquet sink; false when it throws. */
  def runQuery(ctx: Ctx, q: String): Boolean =
    try {
      SparkEntry.queries(q)(ctx.spark, ctx.dataDir.getPath)
        .write.mode("overwrite").parquet(new File(outDir(ctx), q).getPath)
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        false
    }

  def units(ctx: Ctx, w: StageCollector.Window): Long = w.inputRecords

  def verify(ctx: Ctx, k: Int): Verdict = {
    val dir = outDir(ctx)
    val sql = SparkEntry.oracleSql
    val json = Queries.map(q => s"${Json.str(q)}: ${Json.str(sql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(dir, "oracle_sql.json").toPath, json)
    val checker = new File(ctx.repoRoot, "dev/check_oracle.py")
    val (code, lines) = Proc.run(Seq("python3", checker.getPath, dir.getPath, ctx.dataDir.getPath))
    val pass = lines.collect { case Pass(q) => q }.toSet
    val bad = Queries.filter(q => !pass.contains(q) || failed.contains(q))
    bad.foreach(q => System.err.println(
      s"[perfbench] $q: " + lines.find(_.contains(s" $q: ")).getOrElse("no checker line")))
    val n = Queries.size.toLong
    Verdict(n, if (code != 0) n else bad.size.toLong, (n - bad.size).toDouble / n,
      Seq(s"oracle: ${n - bad.size}/$n queries match in DuckDB (strict + split-path)"))
  }

  def layerMetrics(ctx: Ctx, k: Int, w: StageCollector.Window): (Seq[Metric], Long) =
    (Queries.flatMap { q =>
      Seq(Metric(s"corpus.${q}_s", walls(q), "s"),
        Metric(s"corpus.${q}_jobs", jobs.getOrElse(q, 0L).toDouble, "count"))
    } :+ Metric("dedup.capped_rows", w.observed.getOrElse("minhash_caps.capped_rows", 0L).toDouble, "count"),
      0L)

  override def notes: Seq[String] = Seq(
    s"${Queries.size} queries on fixed sf0.01 tables (seed 42); --seed does not apply to this workload",
    "last pass: " + walls.map { case (q, s) => f"$q $s%.2f" }.mkString(", "))
}

object CorpusOpsWorkload {
  /** One query for each of ROADMAP directions 2, 4 and 5 whose DuckDB
    * oracle is cheap enough to check in every run: dup-span removal (lambda
    * re-evaluation), banded cosine dedup, and the LM quality band with its
    * materialization. */
  val Queries: Seq[String] = Seq("q84_drop_dup_spans", "q42_cosine_dups", "q83_lm_band")

  private val Pass = """PASS (\S+): OK""".r
}

/** Runs a child process to completion, returning its exit code and its
  * merged output lines. */
object Proc {
  def run(cmd: Seq[String]): (Int, Seq[String]) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    p.getOutputStream.close()
    val lines = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").getLines().toVector
    (p.waitFor(), lines)
  }
}
