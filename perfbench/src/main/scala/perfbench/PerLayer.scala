package perfbench

/** Every per-layer metric a traced run prints, in order, with its unit and
  * which direction is better. `BENCHMARK.json` lists the same metrics; a
  * metric that does not apply to a workload is printed as 0. */
object PerLayer {

  final case class Def(name: String, unit: String, better: String)

  private def lower(name: String, unit: String) = Def(name, unit, "lower")
  private def higher(name: String, unit: String) = Def(name, unit, "higher")

  val Defs: Seq[Def] =
    Seq("text.normalize_ns", "text.scrub_markup_ns", "text.scrub_pii_ns", "text.scrub_deny_ns",
      "langid.predict_ns", "langid.perplexity_ns").map(lower(_, "ns")) ++
    Seq(lower("langid.train_ngram_s", "s"), lower("langid.train_lm_s", "s"),
      lower("quality.metrics_ns", "ns"),
      lower("pipeline.turn_ns", "ns"), higher("pipeline.kernel_share", "ratio"),
      lower("pipeline.score_s", "s"), lower("pipeline.decide_s", "s"),
      lower("pipeline.sink_write_s", "s"), lower("pipeline.sink_validate_s", "s"),
      lower("pipeline.rescored_ratio", "ratio"),
      higher("pipeline.rows", "count"), higher("pipeline.kept", "count"),
      higher("pipeline.pii_hits", "count"), higher("pipeline.tox_hits", "count"),
      lower("pipeline.scrub_errors", "count"), lower("pipeline.parts_written", "count"),
      higher("pipeline.parts_skipped", "count"), lower("pipeline.parts_invalidated", "count"),
      lower("spark.jobs", "count"), lower("spark.stages", "count"), lower("spark.tasks", "count"),
      lower("spark.executor_run_s", "s"), lower("spark.executor_cpu_s", "s"), lower("spark.gc_s", "s"),
      higher("spark.core_util", "ratio"), lower("spark.task_skew", "ratio"),
      lower("spark.single_task_stage_s", "s"), lower("spark.scheduler_gap_s", "s"),
      lower("spark.shuffle_write_mb", "MB"), lower("spark.shuffle_read_mb", "MB"),
      lower("spark.shuffle_records", "count"), lower("spark.spill_mb", "MB")) ++
    CorpusOpsWorkload.Queries.flatMap(q =>
      Seq(lower(s"corpus.${q}_s", "s"), lower(s"corpus.${q}_jobs", "count"))) ++
    Seq(lower("dedup.capped_rows", "count"), lower("jvm.heap_peak_mb", "MB")) ++
    Main.SelfLayers.map(l => lower(s"self_s.$l", "s")) ++
    Seq(lower("trace.overhead_s", "s"), higher("bench.job_samples", "count"),
      lower("error_rate", "ratio"))

  val Names: Seq[(String, String)] = Defs.map(d => (d.name, d.unit))
}
