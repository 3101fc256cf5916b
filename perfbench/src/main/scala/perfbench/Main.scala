package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: one workload, one run, one JVM.
  *
  * Flow: host probe → set-up (session + inputs) `SetUps` times → warm-up
  * → measured operations in a closed loop with one
  * client → correctness checks (outside the timed span) → optional
  * traced extras → host probe. The result is written as one JSON object
  * to `--out`; `run.py` turns it into the benchmark's result line.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <file> --cache <dir>
  *   [--size smoke] [--inputs <dir>]`
  */
object Main {

  /** Session set-ups per run; `setup_s` is their median plus the
    * warm-up. */
  val SetUps = 3

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String, smoke: Boolean, inputs: String, cache: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("cores").toInt, req("work"), req("out"), m.get("size").contains("smoke"),
      m.getOrElse("inputs", ""), req("cache"))
  }

  /** The one session shape every run uses: `local[cores]` with FIXED
    * partition counts and AQE setting, so plans match on every host. */
  def newSession(o: Opts): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What a workload hands back to the driver loop; `warmupS` is the
    * wall time of its unmeasured warm-up operations. */
  final case class Outcome(
      attempted: Int, failed: Int, errors: Seq[String], warmupS: Double,
      endToEnd: Map[String, Double], layers: Map[String, Double],
      info: Map[String, Any])

  trait Workload {
    /** Inputs that live in the session (datasets, table handles). */
    def prepare(spark: SparkSession): Unit
    /** Warm-up, measured loop, checks and (traced) extras. */
    def run(spark: SparkSession, heap: HeapPeak): Outcome
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val before = HostProbe.run(o.cores)
    val heap = new HeapPeak
    val workload: Workload = o.workload match {
      case "crawl-deep" => new CrawlBench(o)
      case "query-mix" => new QueryBench(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up, `SetUps` times: stop the previous session, start a new one,
    // rebuild the inputs. The first is cold (class loading). `setup_s` is
    // the median set-up plus the warm-up that brings codegen and the JIT
    // to steady state: a session start alone is a fraction of a second,
    // too short to compare between runs on a shared host.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetUps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(o)
      workload.prepare(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val outcome =
      try workload.run(spark, heap)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, 1, Seq(s"workload threw: $e"), 0.0, Map.empty, Map.empty, Map.empty)
      }
    spark.stop()
    val after = HostProbe.run(o.cores)
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val compileS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val result = Map[String, Any](
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "errors" -> outcome.errors,
      "end_to_end" -> (outcome.endToEnd ++ Map(
        "setup_s" -> (Stats.median(setups.toSeq) + outcome.warmupS))),
      "per_layer" -> (outcome.layers ++ Map("jvm.gc_s" -> gcS, "jvm.compile_s" -> compileS)),
      "info" -> (outcome.info ++ Map("setup_s_each" -> setups.toSeq, "warmup_s" -> outcome.warmupS)),
      "host_probe" -> Map("before" -> before, "after" -> after))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Peak heap in use after a full collection, read through JMX. The
  * workloads call `sample()` after measured operations, outside their
  * timed span; `reset()` starts a new window. */
final class HeapPeak {
  private var peak = 0L

  def reset(): Unit = peak = 0L

  def sample(): Unit = {
    // the second collection reclaims what Spark's ContextCleaner
    // released after the first one (unpersisted blocks, broadcasts)
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Host-noise evidence, taken before and after every run: a fixed-work
  * CPU probe on `cores` threads (seconds) and a memory-bandwidth probe
  * (GB/s). They are not metrics of the engine. */
object HostProbe {
  def run(cores: Int): Map[String, Double] = Map("cpu_s" -> cpu(cores), "mem_gbps" -> mem(cores))

  private def cpu(threads: Int, itersPerThread: Long = 100000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < itersPerThread) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink.addAndGet(x)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def mem(threads: Int): Double = {
    val bufs = Array.fill(threads)(Array.tabulate(2 << 20)(_.toLong)) // 16 MB each
    val passes = 8
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = bufs.map { buf =>
      val th = new Thread(() => {
        var s = 0L
        var p = 0
        while (p < passes) {
          var i = 0
          while (i < buf.length) { s += buf(i); i += 1 }
          p += 1
        }
        sink.addAndGet(s)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    bufs.length.toLong * bufs(0).length * 8L * passes / secs / 1e9
  }
}
