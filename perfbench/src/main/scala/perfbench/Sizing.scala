package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.epic.{EpicStreaming, WatchStore}

/** Sizing probe, outside the benchmark runs: one burst of `frames` frames
  * at `rate`/s into the epic-socket stream with the chosen decode
  * (`array`, the facade's default, or `binary`), the fixture watchlist and
  * parquet sinks. Prints once a second the committed frames, the live
  * `epic-socket-conn` threads and this JVM's resident memory, and stops
  * when every frame is committed or after `seconds`.
  *
  * Usage: `perfbench.Sizing --decode D --frames N --rate R --seconds S --work DIR` */
object Sizing {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val (decode, frames) = (opt("decode"), opt("frames").toInt)
    val (rate, seconds) = (opt("rate").toDouble, opt("seconds").toInt)
    val work = new File(opt("work"))
    val socket = new File(work.getPath, "img.sock").getPath
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    val store = new WatchStore(spark, new File(work, "watch").getAbsolutePath)
    Geometry.reference.foreach(s => store.addWatch(s.name, s.ra.toString, s.dec.toString,
      patchType = s.patch))
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val images = spark.readStream.format("epic-socket")
      .option("path", socket).option("decode", decode).load()
    val q = EpicStreaming.start(images, store, new File(work, "out").getAbsolutePath,
      new File(work, "ckpt").getAbsolutePath)
    progress.watch = q.id
    while (!new File(socket).exists()) Thread.sleep(5)
    val gen = new ProcessBuilder(new File(System.getProperty("java.home"), "bin/java").getPath,
      "-Xmx512m", "-cp", System.getProperty("java.class.path"), "perfbench.Gen", "1")
      .redirectError(new File(work, "gen.err")).start()
    val start = Clock.nowMs() + 500
    val cmd = new java.io.PrintWriter(gen.getOutputStream, true)
    cmd.println(f"$socket 0 $frames $rate $start%.0f ${start + seconds * 1000.0}%.0f ${new File(work, "gen.log").getPath}")
    cmd.close()
    val mx = ManagementFactory.getThreadMXBean
    var t = 0
    while (progress.committed < frames && t < seconds) {
      Thread.sleep(1000); t += 1
      val conns = mx.getThreadInfo(mx.getAllThreadIds, 0)
        .count(i => i != null && i.getThreadName == "epic-socket-conn")
      println(f"t=${t}s committed=${progress.committed}/$frames conn_threads=$conns " +
        f"rss_mb=${Rss.currentMb()}%.0f")
    }
    val trig = progress.all
    println(s"triggers (frames, input rows, ms): " + trig.map(x =>
      s"(${x.frames}, ${x.inputRows}, ${x.durMs.getOrElse("triggerExecution", 0L)})").mkString(" "))
    println(s"sink files: pixels ${Dirs.files(new File(work, "out/epic_pixels").getPath, ".parquet").size}" +
      s", metadata ${Dirs.files(new File(work, "out/epic_img_metadata").getPath, ".parquet").size}")
    gen.destroyForcibly(); gen.waitFor()
    q.stop()
    spark.stop()
  }
}
