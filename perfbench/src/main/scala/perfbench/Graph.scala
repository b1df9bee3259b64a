package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{ScaleData, SparkEntry}
import graft.queries.LlmQueries
import graft.streaming.StreamingGraphAnn

/** The s11 graph ANN: build through the product stage
  * (`LlmQueries.sharedStages` → `stage_hnsw_graph`), search the s11 probe
  * set through `SparkEntry.queries("s11_ann_hnsw")`, then append seeded
  * vector deltas through `StreamingGraphAnn.ingest`. The corpus is
  * `ScaleData`'s 2,000 × 64-dim embeddings (the sf0.1 shape, generated in
  * the checkout). */
class Graph(spark: SparkSession, work: File, seed: Long, trace: Tracer) {
  import spark.implicits._

  val N = 2000
  val K = 5
  /** Recall floor of `HnswGraphSpec`. */
  val RecallFloor = 0.9
  /** Edges of the graph the seed code builds over this corpus (the build
    * is deterministic). */
  val ExpectedEdges = 38620L
  val Deltas = 2
  val DeltaSize = 100

  private val dataDir = new File(work, "graphdata").getAbsolutePath
  private val corpusTable = "bench_corpus"
  private val graphTable = "s11_hnsw_graph"

  private def vec(i: Long): Array[Double] = ScaleData.emb(i).embedding.map(_.toDouble)

  /** Exact top-K by the product's scoring (cosine rounded to 6 places,
    * ties to the lower id), for recall. */
  private def brute(): Map[Long, Set[Long]] = {
    val vs = (0 until N).map(i => vec(i))
    val nrm = vs.map(v => math.sqrt(v.map(x => x * x).sum))
    (0 until N by 7).map { q =>
      val sims = (0 until N).filter(_ != q).map { j =>
        var d = 0.0; var k = 0
        while (k < vs(q).length) { d += vs(q)(k) * vs(j)(k); k += 1 }
        (BigDecimal(d / (nrm(q) * nrm(j))).setScale(6, BigDecimal.RoundingMode.HALF_UP), j)
      }
      q.toLong -> sims.sortBy { case (s, j) => (-s, j) }.take(K).map(_._2.toLong).toSet
    }.toMap
  }

  def run(m: mutable.LinkedHashMap[String, Any]): (Int, Int) = {
    var attempted = 0; var failed = 0
    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[graph] check failed: $what") }
    }
    spark.range(N).map(i => ScaleData.emb(i)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    // build
    LlmQueries.dropStage(spark, dataDir, "hnsw_graph")
    LlmQueries.dropStage(spark, dataDir, "hnsw_ann")
    val stage = LlmQueries.sharedStages(spark, dataDir)
      .find(_._1 == "stage_hnsw_graph").get._2
    val b0 = Clock.nowMs()
    JobLog.tagged(spark, "graph_build")(stage())
    val buildMs = Clock.nowMs() - b0
    trace.spans.add(Span("graph.build", 0, b0, b0 + buildMs))
    val edges = spark.table(graphTable).count()
    m("operators.graph_build_s") = buildMs / 1000.0
    m("operators.graph_edges") = edges.toDouble
    check(edges == ExpectedEdges, s"graph has $edges edges, expected $ExpectedEdges")

    // search
    LlmQueries.dropStage(spark, dataDir, "hnsw_ann")
    val s0 = Clock.nowMs()
    val res = JobLog.tagged(spark, "graph_search")(
      SparkEntry.queries("s11_ann_hnsw")(spark, dataDir).collect())
    val searchMs = Clock.nowMs() - s0
    trace.spans.add(Span("graph.search", 0, s0, s0 + searchMs))
    m("queries.graph_search_s") = searchMs / 1000.0
    val truth = brute()
    val hits = res.count(r => truth.get(r.getAs[Long]("q")).exists(_.contains(r.getAs[Long]("nb"))))
    val recall = hits.toDouble / (K * truth.size)
    m("operators.search_recall_at_5") = recall
    check(res.length == K * truth.size, s"search returned ${res.length} rows, expected ${K * truth.size}")
    check(recall >= RecallFloor, f"recall@5 $recall%.4f below $RecallFloor")

    // append seeded deltas through the streaming graph service
    spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.TextFunctions.dot(col("v"), col("v"))))
      .write.mode("overwrite").format("parquet").saveAsTable(corpusTable)
    val mem = MemoryStream[(Long, Array[Double])](spark)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val graphDir = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), graphTable)
    def graphFiles(): Int = {
      def walk(f: File): Int = if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(graphDir)
    }
    val q = StreamingGraphAnn.ingest(mem.toDF().toDF("vec_id", "v"), corpusTable, graphTable)
    progress.watch = q.id
    val appendMs = mutable.ArrayBuffer[Double]()
    val filesPer = mutable.ArrayBuffer[Double]()
    try {
      val rnd = new java.util.Random(Frames.mix(seed + 3))
      for (b <- 0 until Deltas) {
        val delta = (0 until DeltaSize).map { j =>
          ((N + b * DeltaSize + j).toLong, vec(1000000L + rnd.nextInt(1000000)))
        }
        val f0 = graphFiles()
        val t0 = Clock.nowMs()
        mem.addData(delta)
        q.processAllAvailable()
        appendMs += Clock.nowMs() - t0
        trace.spans.add(Span("graph.append", b, t0, t0 + appendMs.last))
        filesPer += (graphFiles() - f0).toDouble
      }
    } finally { q.stop(); spark.streams.removeListener(progress) }
    trace.settle()
    spark.catalog.refreshTable(corpusTable)
    val grown = spark.table(corpusTable).count()
    check(grown == N + Deltas * DeltaSize, s"corpus holds $grown rows, expected ${N + Deltas * DeltaSize}")

    m("streaming.graph_append_ms") = Stats.median(appendMs.toSeq)
    val triggers = progress.all
    m("streaming.append_batch_ms_p50") =
      Stats.median(triggers.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble))
    val perBatch = triggers.map { t =>
      val js = trace.jobs.jobsWhere(j => j.batchId.contains(t.batchId) &&
        j.startMs >= t.startMs - 1 && j.startMs <= t.endMs + 1)
      (js.size.toDouble, JobLog.gapMs(t.startMs, t.endMs, js).toDouble)
    }
    m("streaming.append_jobs_per_batch") = Stats.median(perBatch.map(_._1))
    m("streaming.append_driver_gap_ms_per_batch") = Stats.median(perBatch.map(_._2))
    m("streaming.append_files_written_per_batch") = Stats.median(filesPer.toSeq)

    def phase(tag: String, prefix: String): Unit = {
      val js = trace.jobs.jobsWhere(_.tag.contains(tag))
      val st = trace.jobs.stagesOf(js)
      val (from, to) = (js.map(_.startMs).minOption.getOrElse(0L), js.map(_.endMs).maxOption.getOrElse(0L))
      m(s"operators.${prefix}_jobs") = js.size.toDouble
      m(s"operators.${prefix}_driver_gap_ms") = JobLog.gapMs(from, to, js).toDouble
      m(s"operators.${prefix}_task_cpu_s") = st.map(_.cpuMs).sum / 1000.0
      m(s"operators.${prefix}_shuffle_bytes") = st.map(_.shuffleWrite).sum.toDouble
      m(s"operators.${prefix}_gc_ms") = st.map(_.gcMs).sum.toDouble
    }
    phase("graph_build", "build")
    phase("graph_search", "search")
    (attempted, failed)
  }
}
