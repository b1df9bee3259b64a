package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.epic.{Ephemeris, EpicPipeline, ImageFixtures}

/** Watchlists and their expected pipeline outcome, from the benchmark's
  * own SIN-projection arithmetic (not the product's Column code): which
  * sources keep their whole patch in the FOV, and so how many pixel rows
  * and which source names every frame must produce. */
object Geometry {

  final case class Src(name: String, ra: Double, dec: Double, patch: String) {
    def size: Int =
      if (patch.contains("x")) patch.split("x")(0).toInt else patch.toInt
  }

  private val DegPerRad = 180.0 / math.Pi
  private val Dim = ImageFixtures.XDim
  /** FOV radius in pixels at the 30° elevation limit. */
  val MaxRad: Double = Dim * 0.5 * math.cos(math.toRadians(30.0))

  /** SIN world → 0-based nearest pixel, None behind the sky. */
  def pixelOf(ra: Double, dec: Double): Option[(Int, Int)] = {
    val (r, d) = (math.toRadians(ra), math.toRadians(dec))
    val (r0, d0) = (math.toRadians(ImageFixtures.Ra0), math.toRadians(ImageFixtures.Dec0))
    val cosC = math.sin(d) * math.sin(d0) + math.cos(d) * math.cos(d0) * math.cos(r - r0)
    if (cosC < 0) None
    else {
      val l = math.cos(d) * math.sin(r - r0)
      val m = math.sin(d) * math.cos(d0) - math.cos(d) * math.sin(d0) * math.cos(r - r0)
      def near(p: Double) = math.floor(p + math.min(p - math.floor(p), 0.5))
      val x = near(ImageFixtures.CrPix + l * DegPerRad / ImageFixtures.CDelt) - 1
      val y = near(ImageFixtures.CrPix + m * DegPerRad / ImageFixtures.CDelt) - 1
      Some((x.toInt, y.toInt))
    }
  }

  /** `srcs` as the pipeline's watchlist frame (`EpicPipeline.watchSchema`),
    * for the probes that call the pipeline without a watch store. */
  def watchDf(spark: SparkSession, srcs: Seq[Src]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      srcs.zipWithIndex.map { case (s, i) => Row(i.toLong + 1, s.name, s.ra, s.dec, s.patch) }, 1),
      EpicPipeline.watchSchema)

  /** 0-based pixel → (ra, dec) on the SIN projection. */
  def skyOf(x: Int, y: Int): (Double, Double) = {
    val l = (x + 1 - ImageFixtures.CrPix) * ImageFixtures.CDelt / DegPerRad
    val m = (y + 1 - ImageFixtures.CrPix) * ImageFixtures.CDelt / DegPerRad
    val s = math.sqrt(1 - l * l - m * m)
    val d0 = math.toRadians(ImageFixtures.Dec0)
    val dec = math.asin(m * math.cos(d0) + math.sin(d0) * s)
    val ra = math.toRadians(ImageFixtures.Ra0) +
      math.atan2(l, math.cos(d0) * s - m * math.sin(d0))
    (((math.toDegrees(ra) % 360) + 360) % 360, math.toDegrees(dec))
  }

  private def dist(x: Int, y: Int): Double =
    math.hypot(x - Dim / 2.0, y - Dim / 2.0)

  /** The patch pixels (0-based) of a kept source, or None when the
    * pipeline must drop it. */
  def keptPatch(ra: Double, dec: Double, n: Int): Option[Seq[(Int, Int)]] =
    pixelOf(ra, dec).flatMap { case (cx, cy) =>
      val h = n / 2
      val px = for (dx <- -h to h; dy <- -h to h) yield (cx + dx, cy + dy)
      val centerIn = cx >= 0 && cy >= 0 && dist(cx, cy) <= MaxRad
      if (centerIn && px.forall { case (x, y) =>
          x >= 0 && y >= 0 && x < Dim && y < Dim && dist(x, y) <= MaxRad })
        Some(px)
      else None
    }

  /** ImageFixtures' four sources: two kept (3x3 + 5x5 = 34 pixel rows),
    * one dropped by the all-or-nothing ring filter, one behind the sky. */
  def reference: Seq[Src] =
    ImageFixtures.watchRows.map { case (_, n, ra, dec, p) => Src(n, ra, dec, p) }

  val Bodies: Seq[String] = Seq("sun", "moon", "jupiter")

  /** Slots of the wide watchlist: (kind, patch size). The amount of work
    * is the same for every seed (four kept patches, 172 pixel rows per
    * frame); the seed places the sources and picks each patch string's
    * form ("7x7" or "7"). Registering a watch costs ~0.5 s, so the list
    * is short. */
  private val WideSlots: Seq[(String, Int)] = Seq(
    "in" -> 7, "in" -> 7, "in" -> 7, "in" -> 5, "ring" -> 7)

  /** Five seeded sources plus the ephemeris bodies: four patches fully
    * inside the FOV and one on the ring (dropped by the all-or-nothing
    * filter); the bodies sit behind the sky at the frames' dates. Placed
    * by pixel with a margin of at least 0.3 px from every cut, so float
    * rounding in the product's projection cannot flip a decision. */
  def wide(seed: Long): Seq[Src] = {
    val r = new java.util.Random(Frames.mix(seed ^ 0x5eedL))
    def corners(cx: Int, cy: Int, h: Int): Double =
      Seq((-h, -h), (-h, h), (h, -h), (h, h))
        .map { case (dx, dy) => dist(cx + dx, cy + dy) }.max
    def pick(ok: (Int, Int) => Boolean): (Double, Double) = {
      var p = (0, 0)
      do p = (r.nextInt(Dim), r.nextInt(Dim)) while (!ok(p._1, p._2))
      skyOf(p._1, p._2)
    }
    val placed = WideSlots.zipWithIndex.map { case ((kind, size), i) =>
      val h = size / 2
      val patch = if (r.nextBoolean()) s"${size}x$size" else size.toString
      val (ra, dec) = kind match {
        case "in" => pick((x, y) => corners(x, y, h) <= MaxRad - 0.3)
        case _ => pick((x, y) =>
          dist(x, y) <= MaxRad - 0.3 && corners(x, y, h) >= MaxRad + 0.3)
      }
      Src(f"w$i%02d", ra, dec, patch)
    }
    placed ++ Bodies.zipWithIndex.map { case (b, i) =>
      Src(b, 0.0, 0.0, Seq("3x3", "5x5", "7x7")(i)) }
  }

  /** Expected (pixel rows, sorted kept source names, kept patches) of
    * the frame at `epochMs`; ephemeris bodies are placed at their
    * position at that time, as the pipeline does. */
  final case class Expect(rows: Int, names: Seq[String],
      patches: Seq[(String, Seq[(Int, Int)])])

  def expect(srcs: Seq[Src], epochMs: Long): Expect = {
    val t = new Timestamp(epochMs)
    val kept = srcs.flatMap { s =>
      val (ra, dec) = Ephemeris.position(s.name.toLowerCase, t)
        .getOrElse((s.ra, s.dec))
      keptPatch(ra, dec, s.size).map(p => s.name -> p)
    }
    Expect(kept.map(_._2.size).sum, kept.map(_._1).sorted, kept)
  }
}
