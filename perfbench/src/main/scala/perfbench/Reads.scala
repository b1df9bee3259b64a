package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftEngine

/** Post-hoc light curves (`GraftEngine.lightCurves`, the element-wise
  * `ArrayElementSum` across epochs) over the store an ingest run left,
  * closed loop, one query at a time: the whole store, then the same query
  * filtered to one seeded source. Every answer is checked against the
  * closed-form cube sums of the committed frames. */
class Reads(spark: SparkSession, engine: GraftEngine, outDir: String, seed: Long,
    committed: Seq[Int], expect: Int => Geometry.Expect) {

  private val pixDir = s"$outDir/epic_pixels"
  private val metaDir = s"$outDir/epic_img_metadata"

  /** (source, x, y) → (epochs, Σ frame offsets) over the committed frames. */
  private val want: Map[(String, Int, Int), (Int, Double)] = {
    val acc = mutable.HashMap[(String, Int, Int), (Int, Double)]()
    committed.foreach { f =>
      val off = Frames.offset(seed, f).toDouble
      expect(f).patches.foreach { case (name, px) => px.foreach { case (x, y) =>
        val (n, s) = acc.getOrElse((name, x, y), (0, 0.0))
        acc((name, x, y)) = (n + 1, s + off)
      } }
    }
    acc.toMap
  }

  val oneSource: String = {
    val names = want.keys.map(_._1).toSeq.distinct.sorted
    if (names.isEmpty) "" else names(new java.util.Random(Frames.mix(seed + 7)).nextInt(names.size))
  }

  def expectedRows(source: String): Int = want.keys.count(_._1 == source)

  /** Run one query; true when its answer matches the closed form. The
    * executed plan (with its SQL metrics) is kept per kind. */
  private def query(one: Boolean): Boolean = {
    val lc = engine.lightCurves(pixDir, metaDir)
    val df = (if (one) lc.where(col("source_name") === oneSource) else lc)
      .select(col("source_name"), col("pixel_coord.x"), col("pixel_coord.y"),
        col("n_epochs"), col("summed_values"))
    val rows = df.collect()
    lastPlan(one) = df.queryExecution.executedPlan
    val expected = if (one) want.filter(_._1._1 == oneSource) else want
    rows.length == expected.size && rows.forall { r =>
      val key = (r.getString(0), r.getInt(1), r.getInt(2))
      expected.get(key).exists { case (n, offSum) =>
        val v = r.getSeq[Double](4)
        r.getLong(3) == n && v.size == Frames.Planes &&
          v.indices.forall(k => v(k) == n * Frames.value(k, key._2, key._3) + offSum)
      }
    }
  }

  val lastPlan = mutable.HashMap[Boolean, org.apache.spark.sql.execution.SparkPlan]()
  val lastTag = mutable.HashMap[Boolean, String]()

  /** `iters` timed queries of each kind after one untimed warm-up each,
    * alternating; jobs are tagged `<prefix>lightcurve_<kind>#<i>`.
    * Returns (all ms, one ms, attempted, failed). */
  def run(iters: Int, prefix: String = ""): (Seq[Double], Seq[Double], Int, Int) = {
    var attempted = 0; var failed = 0
    val all = mutable.ArrayBuffer[Double](); val one = mutable.ArrayBuffer[Double]()
    for (i <- 0 to iters; kind <- Seq(false, true)) {
      val name = if (kind) "lightcurve_one" else "lightcurve_all"
      val tag = s"$prefix$name#$i"
      val t0 = Clock.nowMs()
      val ok = JobLog.tagged(spark, tag)(query(kind))
      val ms = Clock.nowMs() - t0
      lastTag(kind) = tag
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[reads] $name answer differs from the closed form") }
      if (i > 0) (if (kind) one else all) += ms
    }
    (all.toSeq, one.toSeq, attempted, failed)
  }
}
