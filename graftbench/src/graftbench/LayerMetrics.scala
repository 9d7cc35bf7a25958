package graftbench

/** Every metric the traced pass prints, with its unit, in the order of
 *  BENCHMARK.json's `per_layer` list. A workload that does not touch a
 *  layer reports 0 for that layer's metrics. */
object LayerMetrics {
  private def s(n: String) = n -> "s"
  private def c(n: String) = n -> "count"
  private def b(n: String) = n -> "bytes"
  private def r(n: String) = n -> "ratio"

  val all: Seq[(String, String)] =
    Seq(s("ingest.partition_map_s"), s("ingest.write_s"), c("ingest.jobs"), c("ingest.tasks"),
      s("ingest.sched_delay_s"), s("ingest.exec_run_s"), b("ingest.shuffle_write_bytes"),
      b("ingest.spill_bytes"), c("ingest.tiles"), c("ingest.files_written"),
      r("ingest.max_tile_rows_ratio"), r("ingest.margin_rows_ratio"),
      s("append.s"), c("append.jobs"), c("append.files_written"),
      s("search.open_s"), c("search.open_jobs_per_op"), s("search.exec_s"), c("search.jobs_per_op"),
      c("search.tasks_per_op"), c("search.files_read_per_op"), r("search.scan_rows_per_result_row"),
      s("search.cover_s"), s("search.optimize_s"), s("search.planning_s"),
      s("xmatch.grid_s"), c("xmatch.candidate_pairs"), r("xmatch.match_yield"), b("xmatch.shuffle_bytes"),
      b("xmatch.spill_bytes"), s("xmatch.exec_run_s"), s("xmatch.sched_delay_s"), c("xmatch.jobs"),
      c("xmatch.tasks"), r("xmatch.task_skew")) ++
    RegistryMix.names.flatMap(q => Seq(s(s"registry.$q.wall_s"), c(s"registry.$q.jobs"),
      c(s"registry.$q.tasks"), c(s"registry.$q.exchanges"))) ++
    Seq(s("registry.plan_build_s"), r("registry.sched_delay_share"), s("registry.exec_run_s"),
      b("registry.shuffle_bytes"), b("registry.spill_bytes")) ++
    Seq("catalog", "healpix", "registry", "plans", "scheduler", "driver", "client")
      .map(l => s(s"self.${l}_s")) ++
    Seq(s("self.sources_scan_s"), s("trace.overhead_s"),
      "ingest_rows_per_s" -> "1/s", "append_rows_per_s" -> "1/s", r("stored_bytes_ratio"),
      s("search_p50_s"), s("search_tail_s"), c("search_tail_percentile"), c("search_samples"),
      s("xmatch_s"), s("registry_total_s"), s("registry_geomean_s"), r("error_rate"))

  def unitOf(name: String): String = all.find(_._1 == name).map(_._2).getOrElse("")
}
