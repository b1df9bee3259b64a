package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.util.concurrent.locks.LockSupport

import graft.sources.ImageSocketClient

/** The load generator: a process of its own, one sending thread, one
  * connection open at a time. Reads one phase per stdin line,
  *   `<socket> <first> <count> <rate/s> <start epoch ms> <deadline epoch ms> <log>`,
  * sends frames `first until first + count` open loop at the fixed rate
  * from the absolute start, logs one line per frame
  * (`seq scheduled_ms start_ms end_ms ok`), answers `done` on stdout, and
  * exits at end of input.
  *
  * Usage: `perfbench.Gen <seed>` */
object Gen {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(seedS) = args
    val seed = seedS.toLong
    val in = new BufferedReader(new InputStreamReader(System.in))
    Frames.payload(seed, 0) // load and JIT the framing before the first phase
    var line = in.readLine()
    while (line != null) {
      val Array(socket, firstS, countS, rateS, startS, deadlineS, log) = line.trim.split(" ")
      phase(socket, seed, firstS.toInt, countS.toInt, rateS.toDouble,
        startS.toDouble, deadlineS.toDouble, log)
      println("done")
      System.out.flush()
      line = in.readLine()
    }
  }

  private def phase(socket: String, seed: Long, first: Int, count: Int, rate: Double,
      start: Double, deadline: Double, log: String): Unit = {
    val out = new PrintWriter(log)
    try {
      var next = Frames.payload(seed, first)
      var i = 0
      while (i < count && now() < deadline) {
        val sched = start + i * 1000.0 / rate
        var wait = sched - now()
        while (wait > 0) {
          LockSupport.parkNanos((wait * 1e6).toLong)
          wait = sched - now()
        }
        val t0 = now()
        val ok =
          try { ImageSocketClient.sendUds(socket, next); true }
          catch { case _: Exception => false }
        val t1 = now()
        out.println(f"${first + i} $sched%.3f $t0%.3f $t1%.3f ${if (ok) 1 else 0}")
        i += 1
        if (i < count) next = Frames.payload(seed, first + i)
      }
    } finally out.close()
  }
}
