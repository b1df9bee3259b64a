package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.epic.{EpicPipeline, ImageFixtures}
import graft.plans.PatchGather
import graft.sources.ImageFrameDecoder

/** Layer probes that call one public function in isolation over static
  * inputs: the frame decoders, the batch pipeline into a `noop` sink, and
  * the `PatchGather` kernel over the wide geometry. */
object Standalone {

  private def perItem(reps: Int, items: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = Clock.nowMs(); f; (Clock.nowMs() - t0) / items
    })

  def run(spark: SparkSession, seed: Long, srcs: Seq[Geometry.Src],
      m: mutable.LinkedHashMap[String, Any]): Unit = {
    val n = 16
    val payloads = (0 until n).map(Frames.payload(seed, _))
    payloads.foreach(ImageFrameDecoder.decode)
    payloads.foreach(ImageFrameDecoder.decodeBinary)
    m("sources.decode_ms_per_frame") =
      perItem(3, n)(payloads.foreach(ImageFrameDecoder.decode))
    m("sources.decode_binary_ms_per_frame") =
      perItem(3, n)(payloads.foreach(ImageFrameDecoder.decodeBinary))

    val cores = spark.sparkContext.defaultParallelism
    val times = (0 until n).map(Frames.datetime(seed, _))
    val images = ImageFixtures.imagesDf(spark, times, Frames.NChan, Frames.NPol, cores).cache()
    images.count()
    val watch = Geometry.watchDf(spark, srcs)
    def pipeline(): Unit = {
      val (px, meta) = EpicPipeline.pixelsAndMeta(images, watch)
      px.write.format("noop").mode("overwrite").save()
      meta.write.format("noop").mode("overwrite").save()
    }
    JobLog.tagged(spark, "probe_pipeline")(pipeline())
    m("epic.pipeline_noop_ms_per_frame") =
      JobLog.tagged(spark, "probe_pipeline")(perItem(2, n)(pipeline()))
    images.unpersist()

    val wide = Geometry.wide(seed)
    val patches = wide.flatMap { s =>
      Geometry.pixelOf(s.ra, s.dec).filter(_ => Geometry.keptPatch(s.ra, s.dec, s.size).isDefined)
        .map { case (x, y) => (x.toDouble, y.toDouble, s.size / 2) }
    }
    val blobs = ImageFixtures.imagesBinaryDf(spark, times, Frames.NChan, Frames.NPol, cores).cache()
    blobs.count()
    val pdf = spark.createDataFrame(patches).toDF("cx", "cy", "half")
    val reps = 32
    def gather(): Unit = blobs.crossJoin(broadcast(pdf)).crossJoin(broadcast(spark.range(reps).toDF("rep")))
      .select(size(PatchGather(col("image"), lit(Frames.Planes), col("cy"), col("cx"),
        col("half"), lit(ImageFixtures.YDim), lit(ImageFixtures.XDim))).as("n"))
      .agg(sum(col("n"))).collect()
    JobLog.tagged(spark, "probe_gather")(gather())
    m("plans.patch_gather_us_per_patch") = 1000.0 *
      JobLog.tagged(spark, "probe_gather")(perItem(3, n * patches.size * reps)(gather()))
    blobs.unpersist()
  }
}
