package perfbench

import scala.collection.mutable

/** Per-layer metric names and units, and the read-side layer metrics. */
object Layers {

  val units: Seq[(String, String)] = Seq(
    "sources.scans_per_frame" -> "count",
    "sources.decode_ms_per_frame" -> "ms",
    "sources.decode_binary_ms_per_frame" -> "ms",
    "sources.send_ms_p50" -> "ms",
    "sources.send_ms_p99" -> "ms",
    "sources.backlog_frames_max" -> "count",
    "sources.generator_lag_ms_p99" -> "ms",
    "sources.conn_threads_max" -> "count",
    "epic.trigger_ms_p50" -> "ms",
    "epic.trigger_ms_p90" -> "ms",
    "epic.add_batch_ms_p50" -> "ms",
    "epic.query_planning_ms_p50" -> "ms",
    "epic.wal_commit_ms_p50" -> "ms",
    "epic.commit_offsets_ms_p50" -> "ms",
    "epic.frames_per_trigger_p50" -> "count",
    "epic.jobs_per_trigger" -> "count",
    "epic.tasks_per_trigger" -> "count",
    "epic.driver_gap_ms_per_trigger" -> "ms",
    "epic.task_cpu_ms_per_frame" -> "ms",
    "epic.gc_ms_per_frame" -> "ms",
    "epic.watch_expire_ms_p50" -> "ms",
    "epic.watch_snapshot_ms_p50" -> "ms",
    "epic.watch_add_ms_p50" -> "ms",
    "epic.pixels_write_ms_p50" -> "ms",
    "epic.meta_write_ms_p50" -> "ms",
    "epic.bytes_written_per_frame" -> "bytes",
    "epic.files_written_per_frame" -> "count",
    "epic.patches_tested_per_frame" -> "count",
    "epic.patches_kept_per_frame" -> "count",
    "epic.patch_keep_ratio" -> "ratio",
    "epic.pixel_rows_per_frame" -> "count",
    "epic.pipeline_noop_ms_per_frame" -> "ms",
    "epic.saturated_img_per_s_1core" -> "1/s",
    "plans.patch_gather_us_per_patch" -> "us",
    "engine.lightcurve_files_read" -> "count",
    "engine.lightcurve_bytes_read" -> "bytes",
    "engine.lightcurve_scan_ms" -> "ms",
    "engine.lightcurve_shuffle_bytes" -> "bytes",
    "engine.lightcurve_task_cpu_ms" -> "ms",
    "engine.lightcurve_one_rows_scanned_ratio" -> "ratio",
    "functions.array_sum_agg_ms" -> "ms",
    "functions.array_sum_spill_bytes" -> "bytes",
    "operators.graph_build_s" -> "s",
    "operators.build_jobs" -> "count",
    "operators.build_driver_gap_ms" -> "ms",
    "operators.build_task_cpu_s" -> "s",
    "operators.build_shuffle_bytes" -> "bytes",
    "operators.build_gc_ms" -> "ms",
    "queries.graph_search_s" -> "s",
    "operators.search_jobs" -> "count",
    "operators.search_driver_gap_ms" -> "ms",
    "operators.search_task_cpu_s" -> "s",
    "operators.search_shuffle_bytes" -> "bytes",
    "operators.graph_edges" -> "count",
    "operators.search_recall_at_5" -> "ratio",
    "streaming.graph_append_ms" -> "ms",
    "streaming.append_batch_ms_p50" -> "ms",
    "streaming.append_jobs_per_batch" -> "count",
    "streaming.append_driver_gap_ms_per_batch" -> "ms",
    "streaming.append_files_written_per_batch" -> "count",
    "trace_overhead_frac" -> "ratio")

  /** Scan, shuffle, CPU and aggregation figures of the last timed query
    * of each light-curve kind, from its executed plan's SQL metrics and
    * its jobs' stages (SparkListener). */
  def lightcurve(t: Tracer, reads: Reads, m: mutable.LinkedHashMap[String, Any]): Unit = {
    t.settle()
    val allStages = t.jobs.stagesOf(t.jobs.jobsWhere(_.tag == reads.lastTag.get(false)))
    reads.lastPlan.get(false).foreach { p =>
      m("engine.lightcurve_files_read") = ActionLog.metric(p, "FileSourceScanExec", "numFiles").toDouble
      m("engine.lightcurve_bytes_read") = ActionLog.metric(p, "FileSourceScanExec", "filesSize").toDouble
      m("engine.lightcurve_scan_ms") = ActionLog.metric(p, "FileSourceScanExec", "scanTime").toDouble
      m("functions.array_sum_agg_ms") = ActionLog.metric(p, "Aggregate", "aggTime").toDouble
      m("lightcurve_plan_metrics") = ActionLog.nodes(p).map(n =>
        n.getClass.getSimpleName -> n.metrics.map { case (k, v) => k -> v.value }.toMap)
    }
    m("engine.lightcurve_shuffle_bytes") = allStages.map(_.shuffleWrite).sum.toDouble
    m("engine.lightcurve_task_cpu_ms") = allStages.map(_.cpuMs).sum
    m("functions.array_sum_spill_bytes") = allStages.map(_.spill).sum.toDouble
    reads.lastPlan.get(true).foreach { p =>
      val scanned = ActionLog.nodes(p).filter(_.getClass.getSimpleName == "FileSourceScanExec")
        .filter(_.output.exists(_.name == "pixel_values"))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      val returned = reads.expectedRows(reads.oneSource)
      m("engine.lightcurve_one_rows_scanned_ratio") = scanned.toDouble / math.max(1, returned)
    }
  }
}
