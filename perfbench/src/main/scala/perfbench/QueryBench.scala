package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `query-mix`: passes over a fixed mix of registry queries on the
  * engine's test tables (`--inputs`), one query at a time, each result
  * into a noop sink. The seed permutes the query order of every pass.
  *
  * The unmeasured warm-up pass writes every result to parquet under
  * `<work>/results/<query>` together with the DuckDB twins of the mix
  * (`oracle_sql.json`); `run.py` checks those results against recorded
  * digests, and against the twins when it records them.
  */
final class QueryBench(o: Main.Opts) extends Main.Workload {
  import QueryBench._

  private val tables = Seq("orders", "lineitem", "documents", "events", "embeddings")
  private val passes = math.max(1, math.round(o.seconds / NominalPassS).toInt)

  def prepare(spark: SparkSession): Unit =
    tables.foreach(t => spark.read.parquet(s"${o.inputs}/$t.parquet").schema)

  def run(spark: SparkSession, heap: HeapPeak): Main.Outcome = {
    val registry = SparkEntry.queries
    val errors = mutable.ArrayBuffer.empty[String]
    val failedQueries = mutable.Set.empty[String]
    var attempted = 0
    var failed = 0
    val resultsDir = s"${o.work}/results"

    def exec(q: String)(sink: org.apache.spark.sql.DataFrame => Unit): Double = {
      attempted += 1
      spark.sparkContext.setJobDescription(q)
      val t0 = System.nanoTime()
      try sink(registry(q)(spark, o.inputs))
      catch {
        case e: Exception =>
          failed += 1
          failedQueries += q
          errors += s"$q threw: $e"
          e.printStackTrace()
      }
      spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up pass: brings codegen and the JIT to steady state and
    // leaves the results the correctness check reads
    val w0 = System.nanoTime()
    Mix.foreach(q => exec(q)(_.write.mode("overwrite").parquet(s"$resultsDir/$q")))
    val warmupS = (System.nanoTime() - w0) / 1e9
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(Mix.map(q => q -> SparkEntry.oracleSql(q)).toMap)(
        org.json4s.DefaultFormats))

    val listener = new SeamListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    heap.reset()
    val rng = new scala.util.Random(o.seed)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // the heap is sampled after every query, so the peak does not depend
    // on which query the seed puts last; a pass's time is the sum of its
    // queries' times and leaves the samples out
    val passWall = (1 to passes).map { _ =>
      rng.shuffle(Mix).map { q =>
        val s = exec(q)(_.write.format("noop").mode("overwrite").save())
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        heap.sample()
        s
      }.sum
    }
    val heapMb = heap.peakMb

    val endToEnd = Map(
      "op_s" -> Stats.median(passWall),
      "units_per_s" -> passes * Mix.size / passWall.sum,
      "heap_peak_mb" -> heapMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Mix.foreach { q =>
        val js = listener.jobsNamed(q)
        val s = Stats.median(perQuery(q).toSeq)
        layers(s"query.$q.s") = s
        layers(s"query.$q.jobs") = js.size.toDouble / passes
        if (!Graph.contains(q)) {
          layers(s"query.$q.shuffle_mb") = SeamListener.mb(js.map(_.shuffleWriteB).sum) / passes
          layers(s"query.$q.spill_mb") = SeamListener.mb(js.map(_.spillB).sum) / passes
        }
      }
      Modules.foreach { case (m, qs) => layers(m) = qs.map(q => layers(s"query.$q.s")).sum }
      layers("trace.listener_overhead_ratio") = listener.callbackNs / 1e9 / passWall.sum
    }

    Main.Outcome(attempted, failed, errors.toSeq, warmupS, endToEnd, layers.toMap,
      Map("mix" -> Mix, "passes" -> passes, "failed_queries" -> failedQueries.toSeq.sorted,
        "pass_s" -> passWall))
  }
}

object QueryBench {
  /** Rough wall time of one warm pass over the mix on a 4-core host;
    * turns `--seconds` into a fixed number of measured passes. */
  val NominalPassS = 14.0

  /** Five graph/dedup/curation-heavy registry queries are left out of
    * the mix (q43, q46, q98, q106, q112) to keep one run inside the
    * benchmark's time budget; every ROADMAP perf-backlog query stays. */
  val Mix: Seq[String] = Seq(
    "q06_url_canonicalize", "q08_politeness_admission", "q25_minhash_lsh",
    "q65_containment", "q78_triangles", "q91_hits", "q92_bm25",
    "q95_hll_distinct", "q96_bigram_lm", "q117_hyperplane_audit")

  /** The graph loops report time and job count only. */
  val Graph: Set[String] = Set("q78_triangles", "q91_hits")

  /** Which module each query of the mix exercises. */
  val Modules: Seq[(String, Seq[String])] = Seq(
    "functions.url.s" -> Seq("q06_url_canonicalize", "q08_politeness_admission"),
    "datatools.dedup.s" -> Seq("q25_minhash_lsh", "q65_containment", "q117_hyperplane_audit"),
    "datatools.graph.s" -> Seq("q78_triangles", "q91_hits"),
    "datatools.index.s" -> Seq("q92_bm25"),
    "datatools.sketches.s" -> Seq("q95_hll_distinct"),
    "datatools.curation.s" -> Seq("q96_bigram_lm"))
}
