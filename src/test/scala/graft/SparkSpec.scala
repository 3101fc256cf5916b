package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. Fixed shuffle partitions (not
  * core-count-dependent) so results are parallelism-invariant.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]"))
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = "/root/testdata/sf0.001"

  /** Spark jobs started on this thread while `f` runs, counted by a
    * listener's `onJobStart`. The listener bus is asynchronous and
    * delivers in order, so one sentinel job after `f` flushes it.
    */
  protected def jobsStartedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val probe = s"jobs-probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`probe`) => jobs.incrementAndGet()
          case Some(g) if g == s"$probe-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "counted")
      f
      sc.setJobGroup(s"$probe-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not flush")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Deterministic ScalaCheck sampling: run `f` on `n` draws from
    * `gen`, seeded per suite so failures replay exactly.
    */
  protected def sample[A](gen: org.scalacheck.Gen[A], n: Int,
                          seedValue: Long = 42L)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(seedValue)
    (0 until n).foreach { _ =>
      gen.apply(org.scalacheck.Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }
}
