package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftEngine
import graft.epic.{EpicPipeline, ImageFixtures, WatchStore, WatchStoreApi}
import graft.sources.ImageFrameDecoder

/** Fixed shape of one ingest workload. Rates are constants, never derived
  * from a measured capacity. */
final case class IngestShape(
    name: String,
    watch: Long => Seq[Geometry.Src],
    latencyRate: Double,     // frames/s, below capacity
    burstFrames: Int,        // overload phase: frames ...
    burstRate: Double,       // ... sent at this rate, far above capacity
    setups: Int)             // service starts in the setup (median reported)

/** Generator log line. */
final case class Sent(seq: Int, schedMs: Double, startMs: Double, endMs: Double, ok: Boolean)

/** Outcome of one ingest session (latency phase + overload phase). */
final case class IngestResult(
    metrics: mutable.LinkedHashMap[String, Double],
    attempted: Long, failed: Long, notes: Seq[String],
    outDir: String, frames: Seq[Int], expect: Int => Geometry.Expect,
    triggers: Seq[Trigger])

/** Socket-to-sink ingest through the product facade:
  * `GraftEngine.startSocketIngest` (decode=array, 5 s trigger, parquet
  * sinks) fed by the [[Gen]] process over a Unix-domain socket. */
class Ingest(spark: SparkSession, work: File, socket: String, seed: Long,
    shape: IngestShape, trace: Option[Tracer], javaCmd: Seq[String]) {

  val TriggerMs = 5000L
  val LeadIn = 1
  private val srcs = shape.watch(seed)
  private val progress = new ProgressLog
  private var notes = Vector.empty[String]

  private def note(s: String): Unit = { notes :+= s; System.err.println(s"[ingest] $s") }

  private def waitBound(sock: String, q: StreamingQuery): Unit = {
    val deadline = Clock.nowMs() + 60000
    while (!new File(sock).exists() && q.isActive && Clock.nowMs() < deadline)
      Thread.sleep(5)
    require(new File(sock).exists(), "ingest source never bound its socket")
  }

  /** A fresh watch store at `dir` with `watches` registered through
    * `GraftEngine.addWatch`; returns the store and the seconds it took. */
  private def register(dir: File, watches: Seq[Geometry.Src]): (WatchStoreApi, Double) = {
    val t0 = Clock.nowMs()
    val base = new WatchStore(spark, new File(dir, "watch").getAbsolutePath)
    val store: WatchStoreApi = trace.map(t => new TimedStore(base, spark, t.spans))
      .getOrElse(base)
    val engine = new GraftEngine(spark, store)
    watches.foreach(s => engine.addWatch(s.name, s.ra.toString, s.dec.toString,
      patchType = s.patch))
    (store, (Clock.nowMs() - t0) / 1000.0)
  }

  /** Start the ingest service over `store` with sinks and checkpoint under
    * `dir` (`GraftEngine.startSocketIngest`), timed until its socket
    * listens and its first (empty) trigger has completed — from then on
    * the trigger clock runs on its 5 s boundaries. Returns the query and
    * the seconds it took. */
  private def start(store: WatchStoreApi, dir: File): (StreamingQuery, Double) = {
    val t0 = Clock.nowMs()
    val q = new GraftEngine(spark, store).startSocketIngest(socket,
      new File(dir, "out").getAbsolutePath, new File(dir, "ckpt").getAbsolutePath)
    waitBound(socket, q)
    val deadline = Clock.nowMs() + 30000
    while (q.lastProgress == null && q.isActive && Clock.nowMs() < deadline) Thread.sleep(2)
    (q, (Clock.nowMs() - t0) / 1000.0)
  }

  /** Block until a trigger of `q` starts after the current moment (after
    * the one running now, if any): the trigger that takes every frame
    * already sent. */
  private def awaitNextTrigger(q: StreamingQuery, deadline: Double): Unit = {
    var idle = !q.status.isTriggerActive
    while (!(idle && q.status.isTriggerActive) && q.isActive && Clock.nowMs() < deadline) {
      if (!q.status.isTriggerActive) idle = true
      Thread.sleep(1)
    }
  }

  private def nextBoundary(afterMs: Double): Double =
    math.ceil(afterMs / TriggerMs) * TriggerMs

  /** The generator process, started once per session and fed one phase
    * per line (see [[Gen]]). */
  private class Generator(log: File) {
    private val p = new ProcessBuilder((javaCmd ++ Seq("perfbench.Gen", seed.toString)): _*)
      .redirectError(log).start()
    private val cmd = new java.io.PrintWriter(p.getOutputStream, true)
    private val ack = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))

    /** Send frames [first, first+count) to `sock` at `rate` from wall time
      * `start`; wait for the phase to end and return its log. */
    def phase(sock: String, first: Int, count: Int, rate: Double, start: Double,
        deadline: Double, log: File): Seq[Sent] = {
      cmd.println(f"$sock $first $count $rate $start%.0f $deadline%.0f ${log.getPath}")
      val waiter = new Thread(() => ack.readLine())
      waiter.setDaemon(true)
      waiter.start()
      waiter.join(math.max(1000L, (deadline - Clock.nowMs() + 10000).toLong))
      if (waiter.isAlive) {
        note(s"generator for frames $first.. stopped at its deadline")
        close()
      }
      if (!log.exists()) Nil
      else {
        val src = scala.io.Source.fromFile(log)
        try src.getLines().map(_.split(" ")).map(a =>
          Sent(a(0).toInt, a(1).toDouble, a(2).toDouble, a(3).toDouble, a(4) == "1")).toVector
        finally src.close()
      }
    }

    def close(): Unit = {
      cmd.close()
      if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
      p.waitFor()
    }
  }

  /** Wait until the query has committed every offset below `upTo`. */
  private def drain(q: StreamingQuery, upTo: Long, deadline: Double): Boolean = {
    while (progress.committed < upTo && q.isActive && Clock.nowMs() < deadline)
      Thread.sleep(20)
    progress.committed >= upTo
  }

  /** Live `epic-socket-conn` threads, sampled through ThreadMXBean. */
  private class ConnSampler extends Thread("perfbench-conn-sampler") {
    setDaemon(true)
    @volatile var max = 0
    @volatile var running = true
    private val mx = ManagementFactory.getThreadMXBean
    override def run(): Unit = while (running) {
      val n = mx.getThreadInfo(mx.getAllThreadIds, 0)
        .count(i => i != null && i.getThreadName == "epic-socket-conn")
      max = math.max(max, n)
      Thread.sleep(100)
    }
  }

  /** Untimed warm-up: a few frames decoded and run through
    * `EpicPipeline.pixelsAndMeta` for this watchlist into both parquet
    * sinks of a scratch directory, so the service starts and the first
    * latency trigger no longer pay the JVM's and Spark's one-time
    * compilation. */
  private def warmUp(dir: File): Unit = {
    (0 until 2).foreach(i => ImageFrameDecoder.decode(Frames.payload(seed, 100000 + i)))
    val frames = ImageFixtures.imagesDf(spark,
      (0 until 2).map(i => Frames.datetime(seed, 100000 + i)), Frames.NChan, Frames.NPol,
      spark.sparkContext.defaultParallelism)
    val (px, meta) = EpicPipeline.pixelsAndMeta(frames, Geometry.watchDf(spark, srcs))
    px.write.mode("append").parquet(new File(dir, "out/epic_pixels").getAbsolutePath)
    meta.write.mode("append").parquet(new File(dir, "out/epic_img_metadata").getAbsolutePath)
  }

  /** The overload phase alone, on a fresh setup, in a JVM that has
    * already run the full session (so without the warm-up). */
  def runBurst(root: String): IngestResult = run(0, root)

  /** Warm-up and registration, three timed service starts (the last one
    * is kept), the latency phase (`seconds` of frames at the fixed rate;
    * warm-up and latency phase skipped when 0), the overload burst, then
    * the output checks. */
  def run(seconds: Int, root: String): IngestResult = {
    val m = mutable.LinkedHashMap[String, Double]()
    spark.streams.addListener(progress)
    val sampler = new ConnSampler
    sampler.start()
    val gen = new Generator(new File(work, s"$root-gen.err"))
    try {
      var mark = Clock.nowMs()
      def lap(name: String): Unit = {
        val now = Clock.nowMs(); m(s"wall_${name}_s") = (now - mark) / 1000.0; mark = now
      }
      // --- setup: the watchlist is registered once (registering is the
      // product's slowest control-plane call, ~0.5 s per watch), while
      // the warm-up runs unless traced (the traced run times each call);
      // then the service is started three times over it and the last one
      // is kept. setup_s is the median start.
      var registered: (WatchStoreApi, Double) = null
      val reg = new Thread(() => registered = register(new File(work, s"$root-store"), srcs),
        "perfbench-register")
      if (trace.isEmpty) reg.start()
      if (seconds > 0) warmUp(new File(work, s"$root-warmup"))
      if (trace.isEmpty) reg.join() else reg.run()
      val (store, registerS) = registered
      lap("warmup")
      val starts = (1 to shape.setups).map { i =>
        val dir = new File(work, s"$root-$i")
        val (q, s) = start(store, dir)
        if (i < shape.setups) q.stop()
        (q, s, dir)
      }
      m("setup_s") = Stats.median(starts.map(_._2))
      m("watch_register_s") = registerS
      m("expected_pixel_rows_per_frame") = Geometry.expect(srcs, Frames.epochMs(seed, 0)).rows
      trace.foreach(_.put("epic.service_start_s_all", starts.map(_._2)))
      val (q, _, dir) = starts.last
      progress.watch = q.id
      val outDir = new File(dir, "out").getAbsolutePath
      lap("setup")

      // --- phase 1: fixed sub-capacity rate, for latency -----------------
      // One lead-in frame (seq 0) goes first, so the service's first data
      // trigger — which pays one-time costs of its own, ~1.5 s here —
      // runs at the boundary before the latency frames' first trigger.
      val nL = math.round(shape.latencyRate * seconds).toInt
      val (sentL, burstAt) = if (nL == 0) (Nil, nextBoundary(Clock.nowMs() + 300) + 300) else {
        val b0 = nextBoundary(Clock.nowMs() + 1000)
        val lead = gen.phase(socket, 0, LeadIn, 1.0, Clock.nowMs() + 50, b0,
          new File(work, s"$root-gen-lead.log"))
        // frames sit mid-way between send slots, so every 5 s trigger
        // takes the same number of them and none lands on a boundary
        val t1 = b0 + 500.0 / shape.latencyRate
        val lastSched = t1 + (nL - 1) * 1000.0 / shape.latencyRate
        val sent = lead ++ gen.phase(socket, LeadIn, nL, shape.latencyRate, t1,
          lastSched + 5000, new File(work, s"$root-gen-latency.log"))
        // the burst starts once the trigger that takes the last latency
        // frame has begun, so its frames land in later triggers only
        awaitNextTrigger(q, Clock.nowMs() + 20000)
        (sent, Clock.nowMs() + 100)
      }
      lap("latency_send")

      // --- phase 2: a burst far above capacity, for throughput -----------
      val first = if (nL == 0) 0 else LeadIn + nL
      val total = first + shape.burstFrames
      val sentO = gen.phase(socket, first, shape.burstFrames, shape.burstRate, burstAt,
        burstAt + 15000, new File(work, s"$root-gen-burst.log"))
      if (!drain(q, total, Clock.nowMs() + 60000))
        note(s"${progress.committed}/$total frames committed by the deadline")
      q.stop()
      lap("burst")
      sampler.running = false
      analyse(m, sentL ++ sentO, first, total, progress.all, outDir, sampler.max)
    } finally {
      gen.close()
      sampler.running = false
      spark.streams.removeListener(progress)
    }
  }

  private def analyse(m: mutable.LinkedHashMap[String, Double], sent: Seq[Sent],
      firstBurst: Int, total: Int, triggers: Seq[Trigger], outDir: String,
      connMax: Int): IngestResult = {
    val metaDir = s"$outDir/epic_img_metadata"
    val pixDir = s"$outDir/epic_pixels"
    val idToSeq = (0 until total).map(i => Frames.id(seed, i) -> i).toMap

    // each committed frame's trigger, from the metadata file that holds it
    // (file mtime falls inside the trigger that wrote it)
    val mtime = Dirs.files(metaDir, ".parquet")
      .map(f => f.getCanonicalPath -> f.lastModified()).toMap
    def triggerOf(ms: Long): Option[Trigger] =
      triggers.find(t => ms >= t.startMs - 50 && ms <= t.endMs + 50)
        .orElse(triggers.filter(_.startMs <= ms).lastOption)
    val metaRows = if (mtime.isEmpty) Seq.empty else
      spark.read.parquet(metaDir)
        .select(input_file_name().as("f"), col("id"),
          array_join(col("source_names"), ",").as("names"))
        .collect().toSeq.map(r => (new java.net.URI(r.getString(0)).getPath,
          r.getString(1), r.getString(2)))
    val commitEnd = mutable.HashMap[Int, Long]()
    val metaCount = mutable.HashMap[Int, Int]().withDefaultValue(0)
    val badFrames = mutable.HashSet[Int]()
    val expectCache = mutable.HashMap[Int, Geometry.Expect]()
    def expect(seq: Int) = expectCache.getOrElseUpdate(seq,
      Geometry.expect(srcs, Frames.epochMs(seed, seq)))
    metaRows.foreach { case (f, id, names) =>
      idToSeq.get(id) match {
        case Some(seq) =>
          metaCount(seq) += 1
          val canon = new File(f).getCanonicalPath
          mtime.get(canon).flatMap(triggerOf).foreach(t => commitEnd(seq) = t.endMs)
          if (names != expect(seq).names.mkString(",")) badFrames += seq
        case None => note(s"metadata row with unknown id $id")
      }
    }
    // pixel rows per frame against the closed-form count
    val pixCounts = if (metaRows.isEmpty) Map.empty[String, Long] else
      spark.read.parquet(pixDir).groupBy(col("id")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until total).foreach { seq =>
      val c = pixCounts.getOrElse(Frames.id(seed, seq), 0L)
      if (metaCount(seq) > 1 || (metaCount(seq) == 1 && c != expect(seq).rows))
        badFrames += seq
    }
    // sampled pixel values against the closed-form cube
    val rnd = new java.util.Random(Frames.mix(seed + 99))
    val committedSeqs = (0 until total).filter(s => metaCount(s) == 1)
    val sample = if (committedSeqs.isEmpty) Nil
      else Seq.fill(3)(committedSeqs(rnd.nextInt(committedSeqs.size))).distinct
    if (sample.nonEmpty) {
      val rows = spark.read.parquet(pixDir)
        .where(col("id").isin(sample.map(Frames.id(seed, _)): _*))
        .select(col("id"), col("source_names"), col("pixel_coord.x"),
          col("pixel_coord.y"), col("pixel_values")).collect()
      sample.foreach { seq =>
        val id = Frames.id(seed, seq)
        val off = Frames.offset(seed, seq)
        val mine = rows.filter(_.getString(0) == id)
        val want = expect(seq).patches.flatMap { case (n, px) => px.map(p => (n, p)) }.toSet
        val got = mine.map(r => (r.getString(1), (r.getInt(2), r.getInt(3)))).toSet
        val valuesOk = mine.forall { r =>
          val (x, y) = (r.getInt(2), r.getInt(3))
          val v = r.getSeq[Double](4)
          v.size == Frames.Planes &&
            v.indices.forall(k => v(k) == Frames.value(k, x, y) + off)
        }
        if (got != want || !valuesOk) {
          badFrames += seq
          note(s"frame $seq: sampled pixel rows/values differ from the closed form")
        }
      }
    }

    val sentOk = sent.filter(_.ok).map(_.seq).toSet
    val failedFrames = (0 until total).filter(s =>
      !sentOk(s) || metaCount(s) != 1 || badFrames(s))
    if (failedFrames.nonEmpty)
      note(s"${failedFrames.size}/$total frames failed or uncommitted")

    // --- latency: scheduled send → end of the committing trigger -------
    val sched = sent.map(s => s.seq -> s.schedMs).toMap
    val lat = (math.min(LeadIn, firstBurst) until firstBurst).flatMap(s =>
      for (e <- commitEnd.get(s); t <- sched.get(s)) yield e - t)
    m("frame_latency_p50_ms") = Stats.median(lat)
    m("frame_latency_p90_ms") = Stats.q(lat, 0.9)
    // --- saturated throughput: whole triggers of the overload phase ----
    val over = triggers.filter(_.toOffset > firstBurst)
    val overMs = over.map(_.durMs.getOrElse("triggerExecution", 0L)).sum
    m("saturated_img_per_s") =
      if (overMs > 0) over.map(_.frames).sum * 1000.0 / overMs else Double.NaN

    trace.foreach { t =>
      t.ingestLayers(triggers, sent, outDir, connMax)
    }
    // overload and stalls stay visible in every run's detail
    m("sources.conn_threads_max") = connMax
    IngestResult(m, total.toLong, failedFrames.size.toLong, notes, outDir,
      committedSeqs, expect, triggers)
  }
}
