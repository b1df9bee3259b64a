package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftEngine

/** Fixed workload shapes. */
object Workloads {
  val Ingest: Map[String, IngestShape] = Seq(
    IngestShape("ingest_ref", _ => Geometry.reference,
      latencyRate = 2.0, burstFrames = 48, burstRate = 40.0, setups = 3),
    IngestShape("ingest_wide", s => Geometry.wide(s),
      latencyRate = 1.5, burstFrames = 32, burstRate = 40.0, setups = 3),
  ).map(s => s.name -> s).toMap

  /** Timed light-curve queries of each kind per run. */
  val ReadIters = 4

  val EndToEnd: Seq[(String, String)] = Seq(
    "frame_latency_p50_ms" -> "ms", "frame_latency_p90_ms" -> "ms",
    "saturated_img_per_s" -> "1/s", "lightcurve_all_ms" -> "ms",
    "lightcurve_one_ms" -> "ms", "setup_s" -> "s", "peak_rss_mb" -> "MB")
}

/** The benchmark's system-under-test process: one workload, one seed.
  * Prints the result object as the last stdout line and writes the
  * detail artifact (every metric, notes, spans) under `--out`.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR --units FILE` */
object Main {

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.ForkFreeLocalFileSystem")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val shape = Workloads.Ingest.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))
    val outDir = new File(opt("out"))
    outDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val javaCmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath,
      "-Xmx512m", "-cp", System.getProperty("java.class.path"))
    val socket = new File(work.getPath, "img.sock").getPath

    val m = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Any]()
    var attempted = 0L; var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = Clock.nowMs()
    def phase(name: String): Unit = {
      val now = Clock.nowMs()
      phases(name) = (now - mark) / 1000.0
      System.err.println(f"[perfbench] $name: ${phases(name)}%.1f s")
      mark = now
    }
    var spark = session(cores, work)
    phase("session")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())

    // ingest: setup, latency phase, overload phase, output checks
    val ing = new Ingest(spark, work, socket, seed, shape, tracer, javaCmd).run(seconds, "ingest")
    m ++= ing.metrics
    phase("ingest")
    attempted += ing.attempted; failed += ing.failed; notes ++= ing.notes

    // light-curve reads over the store the ingest left
    val engine = new GraftEngine(spark, new File(work, "ingest-reads-watch").getAbsolutePath)
    val reads = new Reads(spark, engine, ing.outDir, seed, ing.frames, ing.expect)
    val (all, one, ra, rf) = reads.run(Workloads.ReadIters)
    m("lightcurve_all_ms") = Stats.median(all)
    m("lightcurve_one_ms") = Stats.median(one)
    m("lightcurve_samples") = all.size
    layers("lightcurve_all_samples_ms") = all
    layers("lightcurve_one_samples_ms") = one
    attempted += ra; failed += rf
    phase("reads")

    tracer.foreach { t =>
      layers ++= t.layers
      Layers.lightcurve(t, reads, layers)
      // trace overhead: the same reads with the trace listeners detached
      t.detach()
      val (bare, _, ba, bf) = reads.run(1, "untraced-")
      t.attach()
      attempted += ba; failed += bf
      layers("trace_overhead_frac") = all.head / bare.head - 1.0
      phase("reads_untraced")
      Standalone.run(spark, seed, Workloads.Ingest(workload).watch(seed), layers)
      phase("standalone")
      val (ga, gf) = new Graph(spark, work, seed, t).run(layers)
      attempted += ga; failed += gf
      phase("graph")
    }
    m("peak_rss_mb") = Rss.peakMb()

    tracer.foreach { t =>
      layers("selftime_ms") = t.selfTimes()
      t.writeSpans(new File(outDir, s"$workload-seed$seed-spans.tsv"))
      t.detach()
      // single-thread baseline: the overload phase again at local[1]
      spark.stop()
      spark = session(1, work)
      val one = new Ingest(spark, work, socket, seed, shape.copy(setups = 1, burstFrames = 8), None, javaCmd)
        .runBurst("ingest1")
      layers("epic.saturated_img_per_s_1core") = one.metrics("saturated_img_per_s")
      phase("burst_1core")
      attempted += one.attempted; failed += one.failed; notes ++= one.notes
    }
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Workloads.EndToEnd.map { case (k, u) => (k, m(k), u) }
      else Layers.units.map { case (k, u) =>
        (k, layers.get(k).collect { case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble }
          .getOrElse(Double.NaN), u) }
    val correct = failed == 0 && metrics.forall(x => !x._2.isNaN)
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "shape" -> Map("latency_rate" -> shape.latencyRate,
        "burst_frames" -> shape.burstFrames, "burst_rate" -> shape.burstRate,
        "setups" -> shape.setups, "read_iters" -> Workloads.ReadIters),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1L, attempted),
      "end_to_end" -> m, "per_layer" -> layers, "notes" -> notes, "phase_s" -> phases,
      "triggers" -> ing.triggers.map(t => mutable.LinkedHashMap(
        "batch" -> t.batchId, "start_ms" -> t.startMs, "frames" -> t.frames,
        "input_rows" -> t.inputRows, "duration_ms" -> t.durMs)))
    val w = new java.io.PrintWriter(new File(outDir, s"$workload-seed$seed-trace${opt("trace")}.json"))
    try w.println(Json.render(detail)) finally w.close()
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
  }
}
