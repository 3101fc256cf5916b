package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Folds every Spark job into a record keyed by the job description the
  * engine (or the runner) set on the submitting thread. `CrawlJob`
  * names its jobs `frontier-write`, `spans-write`, `metrics`,
  * `fetch-log-write`, `seen-write`, `bloom-update`, `cuckoo-write` and
  * `pending-write`; the runner names the jobs a resumed crawl call runs
  * before its first write `crawl-resume`, each query execution by the
  * query's name and each replay prefix `replay-<step>`.
  */
final class SeamListener extends SparkListener {

  final class JobRec(val id: Int, val desc: String, val startMs: Long) {
    var endMs: Long = -1L
    var taskS: Double = 0.0
    var shuffleWriteB: Long = 0L
    var spillB: Long = 0L
    var records: Long = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byStage = mutable.Map.empty[Int, JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  /** Time spent inside the callbacks: the listener's own cost. */
  @volatile var callbackNs: Long = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val r = new JobRec(e.jobId, desc, e.time)
    jobs += r
    byId(e.jobId) = r
    e.stageIds.foreach(byStage(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (r <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      r.taskS += m.executorRunTime / 1e3
      r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      r.spillB += m.diskBytesSpilled
      r.records += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs whose start lies in [fromMs, toMs], in start order. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).sortBy(_.startMs).toSeq
  }

  def jobsNamed(desc: String): Seq[JobRec] = synchronized(jobs.filter(_.desc == desc).toSeq)
}

object SeamListener {
  /** Length of the union of [start, end] intervals (ms), in seconds. */
  def unionS(intervals: Seq[(Long, Long)]): Double = {
    val iv = intervals.filter { case (s, e) => e >= s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)
}
