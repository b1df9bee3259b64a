package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The traced run's recorder: job/stage and action listeners, in-memory
  * spans at layer boundaries, and the per-layer metrics derived from them. */
class Tracer(spark: SparkSession) {
  val jobs = new JobLog
  val actions = new ActionLog
  val spans = new Spans
  val layers = mutable.LinkedHashMap[String, Any]()

  def put(k: String, v: Any): Unit = layers(k) = v

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(actions)
  }
  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(actions)
  }

  private var marks = 0

  /** Let queued listener events land before reading the logs: run a
    * marker action and wait until both listeners have seen it (each
    * listener queue delivers in order). */
  def settle(): Unit = {
    marks += 1
    val tag = s"settle-$marks"
    val before = actions.actions.size
    JobLog.tagged(spark, tag)(spark.range(1).collect())
    val deadline = Clock.nowMs() + 10000
    while ((jobs.jobsWhere(_.tag.contains(tag)).isEmpty ||
        actions.actions.size <= before) && Clock.nowMs() < deadline)
      Thread.sleep(5)
  }

  private def p50(xs: Seq[Double]) = Stats.median(xs)

  def ingestLayers(triggers: Seq[Trigger], sent: Seq[Sent], outDir: String,
      connMax: Int): Unit = {
    settle()
    val frames = triggers.map(_.frames).sum.toDouble
    // sources
    put("sources.scans_per_frame", triggers.map(_.inputRows).sum / frames)
    put("sources.send_ms_p50", p50(sent.map(s => s.endMs - s.startMs)))
    put("sources.send_ms_p99", Stats.q(sent.map(s => s.endMs - s.startMs), 0.99))
    put("sources.generator_lag_ms_p99", Stats.q(sent.map(s => s.startMs - s.schedMs), 0.99))
    val events = sent.filter(_.ok).map(s => (s.endMs, 1L)) ++
      triggers.map(t => (t.endMs.toDouble, -t.frames))
    put("sources.backlog_frames_max", events.sortBy(_._1).scanLeft(0L)(_ + _._2).max.toDouble)
    put("sources.conn_threads_max", connMax.toDouble)
    // epic: the trigger
    def dur(k: String) = triggers.map(_.durMs.getOrElse(k, 0L).toDouble)
    put("epic.trigger_ms_p50", p50(dur("triggerExecution")))
    put("epic.trigger_ms_p90", Stats.q(dur("triggerExecution"), 0.9))
    put("epic.add_batch_ms_p50", p50(dur("addBatch")))
    put("epic.query_planning_ms_p50", p50(dur("queryPlanning")))
    put("epic.wal_commit_ms_p50", p50(dur("walCommit")))
    put("epic.commit_offsets_ms_p50", p50(dur("commitOffsets")))
    put("epic.frames_per_trigger_p50", p50(triggers.map(_.frames.toDouble)))
    val perTrigger = triggers.map { t =>
      val js = jobs.jobsWhere(_.batchId.contains(t.batchId))
      spans.add(Span("trigger", t.batchId, t.startMs.toDouble, t.endMs.toDouble))
      js.foreach(j => spans.add(Span("job", j.jobId.toLong, j.startMs.toDouble, j.endMs.toDouble)))
      val st = jobs.stagesOf(js)
      (js.size, st.map(_.tasks).sum, JobLog.gapMs(t.startMs, t.endMs, js),
        st.map(_.cpuMs).sum, st.map(_.gcMs).sum)
    }
    val nT = math.max(1, perTrigger.size).toDouble
    put("epic.jobs_per_trigger", perTrigger.map(_._1).sum / nT)
    put("epic.tasks_per_trigger", perTrigger.map(_._2).sum / nT)
    put("epic.driver_gap_ms_per_trigger", perTrigger.map(_._3).sum / nT)
    put("epic.task_cpu_ms_per_frame", perTrigger.map(_._4).sum / frames)
    put("epic.gc_ms_per_frame", perTrigger.map(_._5).sum / frames)
    // epic: watch store and sinks
    put("epic.watch_expire_ms_p50", p50(spans.of("watch.expire").map(_.durMs)))
    put("epic.watch_snapshot_ms_p50", p50(spans.of("watch.snapshot").map(_.durMs)))
    put("epic.watch_add_ms_p50", p50(spans.of("watch.add").map(_.durMs)))
    val sinkActs = actions.all.filter(_.path.exists(_.contains(outDir)))
    def writes(suffix: String) = sinkActs.filter(_.path.exists(_.endsWith(suffix)))
    writes("/epic_pixels").foreach(a => spans.add(Span("sink.pixels", a.executionId, 0, a.durMs)))
    writes("/epic_img_metadata").foreach(a => spans.add(Span("sink.meta", a.executionId, 0, a.durMs)))
    put("epic.pixels_write_ms_p50", p50(writes("/epic_pixels").map(_.durMs)))
    put("epic.meta_write_ms_p50", p50(writes("/epic_img_metadata").map(_.durMs)))
    val sinkFiles = Seq("epic_pixels", "epic_img_metadata")
      .flatMap(d => Dirs.files(s"$outDir/$d", ".parquet"))
    put("epic.bytes_written_per_frame", sinkFiles.map(_.length).sum / frames)
    put("epic.files_written_per_frame", sinkFiles.size / frames)
    // epic: the pipeline, from the pixel writes' executed plans
    val plans = writes("/epic_pixels").map(_.plan)
    val tested = plans.map(ActionLog.metric(_, "BroadcastHashJoinExec", "numOutputRows")).sum
    val pixelRows = plans.map(ActionLog.metric(_, "GenerateExec", "numOutputRows")).sum
    val kept = plans.map(keptPatches).sum
    put("epic.patches_tested_per_frame", tested / frames)
    put("epic.patches_kept_per_frame", kept / frames)
    put("epic.patch_keep_ratio", if (tested > 0) kept.toDouble / tested else Double.NaN)
    put("epic.pixel_rows_per_frame", pixelRows / frames)
    sent.foreach(s => spans.add(Span("send", s.seq, s.startMs, s.endMs)))
  }

  /** Rows out of the filter that feeds the pixel explode: one per kept
    * (image, source) patch. */
  private def keptPatches(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    def down(p: SparkPlan): Long = p match {
      case f: FilterExec => f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other if other.children.size == 1 => down(other.children.head)
      case _ => 0L
    }
    ActionLog.nodes(plan).collect { case g: GenerateExec => down(g.child) }.sum
  }

  /** Self time of each span: its duration minus the part its children
    * cover (jobs inside a trigger; a trigger's self time is its driver gap). */
  def selfTimes(): Map[String, Double] = {
    val trig = spans.of("trigger")
    val job = spans.of("job")
    val trigSelf = trig.map(t => JobLog.uncoveredMs(t.startMs.toLong, t.endMs.toLong,
      job.map(j => (j.startMs.toLong, j.endMs.toLong))).toDouble)
    spans.all.toArray(Array.empty[Span]).groupBy(_.kind).map { case (k, ss) =>
      k -> (if (k == "trigger") trigSelf.sum else ss.map(_.durMs).sum)
    }
  }

  def writeSpans(f: File): Unit = {
    val w = new java.io.PrintWriter(f)
    try spans.all.forEach(s =>
      w.println(f"${s.kind}\t${s.id}\t${s.startMs}%.3f\t${s.endMs}%.3f"))
    finally w.close()
  }
}
