package perfbench

import java.io.File

import org.apache.spark.sql.{SparkSession, functions => F}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The oracle checks catch a corrupted output, and corpus_ops is fully
  * evaluated. Runs from the benchmark's directory, so the engine checkout
  * is its parent. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = new File("..").getCanonicalFile
  private val work = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile
  private var spark: SparkSession = _
  private var ctx: Ctx = _

  override def beforeAll(): Unit = {
    spark = Main.session(2, work)
    ctx = Ctx(spark, StageCollector.register(spark), 2, 11L, work,
      new File(root, "perfbench/data/sf0.01"), root)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(work)
  }

  /** Rewrites a parquet directory through `f`. */
  private def rewrite(dir: File)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val tmp = new File(work, "rewrite")
    Files.delete(tmp)
    f(spark.read.parquet(dir.getPath)).write.parquet(tmp.getPath)
    Files.delete(dir)
    assert(tmp.renameTo(dir))
  }

  test("transcripts: a clean job passes the oracle; one corrupted turn raises the error count") {
    val wl = new TranscriptWorkload(nConvs = 40, trainConvs = 200)
    wl.setup(ctx)
    wl.prepare(ctx, 0)
    wl.job(ctx, 0, new Tracer(false, ""))
    val clean = wl.verify(ctx, 0)
    assert(clean.failed == 0 && clean.attempted > 0 && clean.keepF1 == 1.0)

    // one turn's scrubbed text altered in the committed output
    val part = new File(work, "jobs/0/data").listFiles.filter(_.getName.startsWith("part=")).minBy(_.getName)
    rewrite(part) { df =>
      val victim = df.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx").head()
      df.withColumn("scrubbed", F.when(F.col("conv_id") === victim.getString(0) &&
        F.col("turn_idx") === victim.getInt(1), F.concat(F.col("scrubbed"), F.lit("!")))
        .otherwise(F.col("scrubbed")))
    }
    val bad = wl.verify(ctx, 0)
    assert(bad.failed == 1)
    assert(bad.attempted == clean.attempted)
  }

  test("corpus_ops: q84 is fully evaluated (its shuffle runs) and a corrupted result fails the DuckDB oracle") {
    val wl = new CorpusOpsWorkload
    wl.setup(ctx)
    ctx.collector.take()
    assert(wl.runQuery(ctx, "q84_drop_dup_spans"))
    val w = ctx.collector.take()
    assert(w.stages.map(_.shuffleWriteB).sum > 0, "q84 ran without its shuffle: pruned evaluation")

    CorpusOpsWorkload.Queries.filterNot(_ == "q84_drop_dup_spans").foreach(q => assert(wl.runQuery(ctx, q)))
    val clean = wl.verify(ctx, 0)
    assert(clean.attempted == CorpusOpsWorkload.Queries.size && clean.failed == 0)

    rewrite(new File(work, "corpus_out/q83_lm_band")) { df =>
      df.limit(df.count().toInt - 1)
    }
    val bad = wl.verify(ctx, 0)
    assert(bad.failed == 1)
    assert(bad.keepF1 < 1.0)
  }
}
