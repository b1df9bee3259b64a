package perfbench

import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.epic.ImageFixtures
import graft.sources.ImageSocketClient

/** The benchmark's image frames: the reference imager's 22 chan × 2 pol
  * × 64² float32 cube, framed as the reference producer sends it
  * (`ImageSocketClient.encodeProto`). Every value is a closed form of
  * (seed, seq), so the harness can check what the sinks hold without
  * keeping the frames.
  *
  * Cube value at plane k, pixel (x, y) of frame `seq`:
  *   k·100000 + y·64 + x + offset(seed, seq)
  * (`ImageFixtures.cube` plus a per-frame integer offset in [0, 64)),
  * exact in float32 and in the double sums of the light-curve reads. */
object Frames {
  val NChan = 22
  val NPol = 2
  val Planes: Int = 2 * NPol * NChan
  val Shape: Seq[Int] = Seq(2, NPol, NChan, ImageFixtures.YDim, ImageFixtures.XDim)

  /** Frames are timestamped from the 2023 March equinox, one second
    * apart: the sun, moon and jupiter all sit behind the FOV then, so
    * the ephemeris bodies of the wide watchlist are resolved every
    * trigger and then dropped (see [[Geometry]]). */
  private val Base: Long = Instant.parse("2023-03-20T00:00:00Z").toEpochMilli
  private val Fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def epochMs(seed: Long, seq: Int): Long =
    Base + (mix(seed) >>> 1) % 3600L * 1000L + seq * 1000L

  def datetime(seed: Long, seq: Int): String =
    Fmt.format(Instant.ofEpochMilli(epochMs(seed, seq)))

  def filename(seed: Long, seq: Int): String = s"EPIC_bench_${seed}_$seq.fits"

  def offset(seed: Long, seq: Int): Int =
    ((mix(seed * 0x100000001b3L ^ seq) >>> 1) % 64).toInt

  def value(k: Int, x: Int, y: Int): Double =
    k * 100000.0 + y * ImageFixtures.XDim + x

  /** The sink's epoch id (`EpicPipeline.epochId`): md5 of DATETIME|FILENAME. */
  def id(seed: Long, seq: Int): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"${datetime(seed, seq)}|${filename(seed, seq)}".getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private lazy val baseCube: Array[Float] = ImageFixtures.cube(NChan, NPol)

  def cube(seed: Long, seq: Int): Array[Float] = {
    val c = baseCube.clone()
    val off = offset(seed, seq).toFloat
    var i = 0
    while (i < c.length) { c(i) += off; i += 1 }
    c
  }

  def payload(seed: Long, seq: Int): Array[Byte] =
    ImageSocketClient.encodeProto(ImageFixtures.primaryHeader,
      ImageFixtures.imgHeader(datetime(seed, seq), filename(seed, seq),
        NChan, NPol), Shape, cube(seed, seq))
}
