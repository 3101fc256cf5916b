package perfbench

import graft.frontier.{CuckooFileCache, Politeness, RobotsFilter, UrlSeen}
import graft.functions.{UrlExprs, UrlFunctions}
import graft.model._
import graft.operators.SpanOps
import graft.pipeline.{ConvertPipeline, CrawlJob}
import graft.pipeline.CrawlJob.{PendingUrl, RoundStats}
import graft.sources.{SnapshotStore, SyntheticWeb}
import graft.testkit.ReferenceCrawl
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `crawl-deep`: a politeness-bound, duplicate-heavy crawl driven one
  * round per `CrawlJob.run` call, each call resuming from the snapshot
  * the previous one committed. The first two rounds warm the JVM; the
  * following rounds are the measured operations. At this size per-job
  * fixed costs weigh heavily: the frontier admission chain is about 30 %
  * of a round, the post-fetch writes with sketch upkeep about 35 %.
  */
final class CrawlBench(o: Main.Opts) extends Main.Workload {
  import CrawlBench._

  private val seeds = if (o.smoke) 2000 else 10000
  private val hosts = if (o.smoke) 20 else 100
  private val warmRounds = 2
  /** Fixed by `--seconds`, not by how fast rounds run: a faster engine
    * measures the same rounds, never deeper (heavier) ones. */
  private val measuredRounds = math.max(1, math.round(o.seconds / NominalRoundS).toInt)
  private val totalRounds = warmRounds + measuredRounds

  val universe: SyntheticWeb.Universe = SyntheticWeb.Universe(
    numHosts = hosts, pagesPerHost = 5000, seed = o.seed, outlinksPerDoc = 4, spansPerDoc = 6)
  // one round per call (the store carries the crawl across calls); the
  // bloom is sized for about twice the URLs the crawl will have seen, so
  // its false-positive rate is near the configured 0.01
  val cfg: CrawlConfig = CrawlConfig(numPartitions = 8, saltsPerHost = 4,
    hostBudgetPerRound = 64, maxRounds = 1,
    bloomExpectedItems = if (o.smoke) 1L << 13 else 1L << 16)
  private val robots = SyntheticWeb.defaultRobots
  private val root = s"${o.work}/store"

  private var seedsDs: Dataset[SeedUrl] = _
  private var hostMapDs: Dataset[HostIps] = _

  def prepare(spark: SparkSession): Unit = {
    seedsDs = universe.seedUrlsDS(spark, seeds, partitions = 8)
    hostMapDs = SyntheticWeb.hostMapDS(spark, hosts, partitions = 8)
  }

  def run(spark: SparkSession, heap: HeapPeak): Main.Outcome = {
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    val ops = mutable.ArrayBuffer.empty[Op]
    val listener = new SeamListener
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    def op(r: Int): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription("crawl-resume")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val summary =
        try Some(CrawlJob.run(spark, seedsDs, robots, hostMapDs, universe, cfg, root))
        catch { case e: Exception => errors += s"round $r threw: $e"; e.printStackTrace(); None }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.setJobDescription(null)
      summary.map(_.rounds) match {
        case Some(Seq(st)) if st.round == r =>
          ops += Op(r, wall, startMs, endMs, st)
          heap.sample()
        case Some(other) =>
          errors += s"round $r: expected one RoundStats for round $r, got $other"; failed += 1
        case None => failed += 1
      }
    }

    phase("warmup_s")((0 until warmRounds).foreach(op))
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    heap.reset()
    phase("measure_s")((warmRounds until totalRounds).foreach(op))
    val heapMb = heap.peakMb
    if (o.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val attempted = totalRounds
    var seenDigest = ""
    if (ops.size == totalRounds) {
      val bad = phase("round_checks_s")(roundChecks(spark, ops.map(_.stats).toSeq))
      bad.foreach { case (_, e) => errors += e }
      failed += bad.map(_._1).distinct.size
      val (crawlErrs, digest) = phase("crawl_checks_s")(crawlChecks(spark, ops.map(_.stats).toSeq))
      errors ++= crawlErrs
      if (crawlErrs.nonEmpty) failed += 1
      seenDigest = digest
    }
    if (errors.nonEmpty && failed == 0) failed = 1
    val measured = ops.filter(_.round >= warmRounds).toSeq
    val endToEnd =
      if (measured.isEmpty) Map.empty[String, Double]
      else Map(
        "op_s" -> Stats.median(measured.map(_.wallS)),
        "units_per_s" -> measured.map(_.stats.fetched).sum / measured.map(_.wallS).sum,
        "heap_peak_mb" -> heapMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (o.trace && measured.nonEmpty && errors.isEmpty) {
      layers ++= seamMetrics(listener, measured, errors)
      layers ++= storeMetrics(spark, ops.toSeq)
      layers("trace.listener_overhead_ratio") =
        listener.callbackNs / 1e9 / measured.map(_.wallS).sum
      layers ++= phase("replay_s")(new Replay(spark, listener).run(measured, errors))
      if (errors.nonEmpty) failed += 1
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

    Main.Outcome(attempted, math.min(failed, attempted), errors.toSeq, phases("warmup_s"),
      endToEnd, layers.toMap,
      Map("round_stats" -> ops.map(_.stats).toSeq,
        "round_wall_s" -> ops.map(_.wallS).toSeq,
        "seen_digest" -> seenDigest,
        "phases_s" -> phases.toMap,
        // job timeline of the first measured round, ms from its start
        "timeline" -> measured.headOption.toSeq.flatMap(op =>
          listener.jobsBetween(op.startMs, op.endMs).map(j =>
            Seq(j.desc, (j.startMs - op.startMs).toString, (j.endMs - op.startMs).toString)))))
  }

  // ------------------------------------------------------------------
  // correctness: every round, every seed, outside the timed span
  // ------------------------------------------------------------------

  /** Per-round invariants, checked for all rounds at once: a few jobs
    * over the committed tables instead of a few per round. Returns
    * (round, message) for every violation. */
  private def roundChecks(spark: SparkSession, stats: Seq[RoundStats]): Seq[(Int, String)] = {
    import spark.implicits._
    val store = new SnapshotStore(root)
    val rounds = stats.map(_.round)
    def all(table: String): DataFrame =
      rounds.map(r => store.read(spark, r, table).withColumn("r", lit(r))).reduce(_ unionByName _)
    val errs = mutable.ArrayBuffer.empty[(Int, String)]
    stats.foreach { st =>
      val r = st.round
      if (st.fetched != st.admitted) errs += r -> s"round $r: fetched ${st.fetched} != admitted ${st.admitted}"
      if (st.newUrls != st.admitted + st.deferred)
        errs += r -> s"round $r: newUrls ${st.newUrls} != admitted ${st.admitted} + deferred ${st.deferred}"
    }
    val delta = all("url_seen_delta").groupBy("r").count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    // failures are a pure function of the URL: recompute them from the
    // universe and compare exact counts (404/500/503 responses are
    // counted, they are not failures of the engine)
    val uni = universe
    val hard = cfg.softTimeoutMs + 5000L
    val frontier = all("frontier")
    val perHost = frontier.groupBy("r", "host").count().groupBy("r").agg(max("count")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val expected = frontier.drop("r").as[FrontierEntry].mapPartitions { it =>
      val acc = mutable.Map.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))
      it.foreach { e =>
        val f = fetchConvert(uni, e, e.round, hard)
        val badStatus = f.status != 200 && f.status != 301 && f.status != 302
        val (a, b) = acc(e.round)
        acc(e.round) = (a + (if (f.error.nonEmpty) 1 else 0), b + (if (badStatus) 1 else 0))
      }
      acc.iterator.map { case (r, (a, b)) => (r, a, b) }
    }.collect().groupBy(_._1).map { case (r, xs) => r -> (xs.map(_._2).sum, xs.map(_._3).sum) }
    val badStatus = all("fetch_log").filter(!col("status").isin(200, 301, 302))
      .groupBy("r").count().collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    stats.foreach { st =>
      val r = st.round
      val d = delta.getOrElse(r, 0L)
      if (d != st.admitted) errs += r -> s"round $r: seen delta $d rows != admitted ${st.admitted}"
      val h = perHost.getOrElse(r, 0L)
      if (h > cfg.hostBudgetPerRound)
        errs += r -> s"round $r: a host got $h admissions > budget ${cfg.hostBudgetPerRound}"
      val (expFailed, expBad) = expected.getOrElse(r, (0L, 0L))
      if (expFailed != st.failed) errs += r -> s"round $r: failed ${st.failed} != expected $expFailed"
      val b = badStatus.getOrElse(r, 0L)
      if (b != expBad) errs += r -> s"round $r: $b non-2xx/3xx fetches != expected $expBad"
    }
    errs.toSeq
  }

  /** Whole-crawl checks: no URL admitted twice, and the seen set equals
    * the single-threaded reference model's on the same seed. Returns the
    * violations and the engine's seen-set digest. */
  private def crawlChecks(spark: SparkSession, stats: Seq[RoundStats]): (Seq[String], String) = {
    val store = new SnapshotStore(root)
    val last = stats.map(_.round).max
    val seen = store.readSeen(spark, last)
    val admitted = stats.map(_.admitted).sum
    val agg = seen.agg(count(lit(1)), countDistinct("url_canon")).head()
    val errs = mutable.ArrayBuffer.empty[String]
    if (agg.getLong(0) != admitted || agg.getLong(1) != admitted)
      errs += s"seen rows ${agg.getLong(0)} / distinct ${agg.getLong(1)} != admitted $admitted"
    val engine = seen.select("url_canon", "round_first_seen").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val engineDigest = digest(engine.toSeq)
    val refDigest = referenceDigest(stats.size)
    if (engineDigest != refDigest)
      errs += s"seen-set digest $engineDigest != reference $refDigest"
    (errs.toSeq, engineDigest)
  }

  /** Seen-set digest of the reference model, computed once per seed and
    * size and kept in `<cache>/` for later runs. */
  private def referenceDigest(rounds: Int): String = {
    val f = java.nio.file.Paths.get(o.cache, s"reference-crawl-s${o.seed}-n$seeds-h$hosts-r$rounds.txt")
    if (java.nio.file.Files.exists(f)) java.nio.file.Files.readString(f).trim
    else {
      val ref = ReferenceCrawl.run(universe.seedUrls(seeds), robots,
        SyntheticWeb.hostMap(hosts).map(h => h.host -> h.ips).toMap, universe,
        cfg.copy(maxRounds = rounds))
      val d = digest(ref.seen.toSeq)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, d)
      d
    }
  }

  // ------------------------------------------------------------------
  // traced run: seams from the job listener
  // ------------------------------------------------------------------

  /** Seam metrics of the measured rounds. A job seam's `wall_s` runs
    * from its first job's start to its last job's end, so driver-side
    * work between the jobs of one step (re-planning, collecting) counts
    * to that step. Two seams are driver phases bounded by the round's
    * jobs: `crawl-resume` runs from the call's start to the first
    * `frontier-write` job (resume reads and planning of the admission
    * chain), `commit` from the end of the last post-fetch job to the
    * call's return (commit, state reload). Coverage is the share of the
    * round's wall time inside some seam; the rest (`seam.untracked_s`)
    * is driver work between two seams. A traced run fails if the seams
    * cover less than `MinCoverage` of a measured round. */
  private def seamMetrics(l: SeamListener, measured: Seq[Op],
                          errors: mutable.ArrayBuffer[String]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    AllSeams.foreach { s =>
      Seq("wall_s", "task_s", "shuffle_mb", "spill_mb", "records").foreach(q => out(s"seam.${key(s)}.$q") = 0.0)
    }
    var untracked = 0.0
    var minCover = 1.0
    measured.foreach { op =>
      val js = l.jobsBetween(op.startMs, op.endMs)
      // jobs that reload the crawl state after the commit still carry
      // the driver thread's last description: they belong to `commit`
      val tailEnd = js.filter(j => Tail.contains(j.desc)).map(_.endMs).maxOption.getOrElse(op.endMs)
      val named = js.map(j => (if (j.startMs > tailEnd) "commit" else j.desc) -> j)
      val firstWrite = js.filter(_.desc == "frontier-write").map(_.startMs).minOption.getOrElse(op.startMs)
      val phaseSpan = Map("crawl-resume" -> (op.startMs, firstWrite), "commit" -> (tailEnd, op.endMs))
      val wall = (op.endMs - op.startMs) / 1e3
      val spans = AllSeams.flatMap { s =>
        val mine = named.collect { case (`s`, j) => j }
        val k = s"seam.${key(s)}"
        out(s"$k.task_s") += mine.map(_.taskS).sum
        out(s"$k.shuffle_mb") += SeamListener.mb(mine.map(_.shuffleWriteB).sum)
        out(s"$k.spill_mb") += SeamListener.mb(mine.map(_.spillB).sum)
        out(s"$k.records") += mine.map(_.records).sum.toDouble
        val span = phaseSpan.get(s).orElse(
          if (mine.isEmpty) None else Some((mine.map(_.startMs).min, mine.map(_.endMs).max)))
        span.foreach { case (a, b) => out(s"$k.wall_s") += (b - a) / 1e3 }
        span
      }
      val covered = SeamListener.unionS(spans)
      val cover = if (wall > 0) covered / wall else 0.0
      minCover = math.min(minCover, cover)
      if (cover < MinCoverage)
        errors += f"round ${op.round}: named seams cover ${cover * 100}%.1f%% of the round's wall time (< ${MinCoverage * 100}%.0f%%)"
      untracked += math.max(0.0, wall - covered)
      out(s"crawl.round_s.r${op.round - warmRounds}") = op.wallS
    }
    out("seam.untracked_s") = untracked
    out("seam.coverage_min") = minCover
    out.toMap
  }

  /** Storage cost of the crawl: committed table bytes plus the sketch
    * blobs, per fetched URL. */
  private def storeMetrics(spark: SparkSession, ops: Seq[Op]): Map[String, Double] = {
    val store = new SnapshotStore(root)
    val files = store.filesTable(spark).select("size_bytes").collect().map(_.getLong(0))
    val blobs = ops.map(_.round).flatMap { r =>
      val d = new java.io.File(store.snapshotDir(r))
      val bloom = new java.io.File(d, "bloom.bin")
      val cuckoo = Option(new java.io.File(d, "cuckoo_bin").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".bin"))
      (if (bloom.isFile) Seq(bloom.length()) else Nil) ++ cuckoo.map(_.length())
    }
    val fetched = ops.map(_.stats.fetched).sum.toDouble
    Map(
      "sources.store.bytes_per_url" -> (files.sum + blobs.sum) / fetched,
      "sources.store.files_per_round" -> files.length.toDouble / ops.size)
  }

  // ------------------------------------------------------------------
  // traced run: layer replay of each measured round
  // ------------------------------------------------------------------

  /** Re-runs one committed round from its stored inputs as cumulative
    * prefixes of the public calls, each forced by a noop-sink action;
    * a layer's self time is the difference between two prefixes. */
  private final class Replay(spark: SparkSession, l: SeamListener) {
    import spark.implicits._
    private val store = new SnapshotStore(root)
    private val scratch = new SnapshotStore(s"${o.work}/replay-store")

    private def force(step: String, df: DataFrame): (Double, Long) = {
      val obs = new Observation(s"replay-$step-${System.nanoTime()}")
      spark.sparkContext.setJobDescription(s"replay-$step")
      val t0 = System.nanoTime()
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      (s, obs.get("n").asInstanceOf[Long])
    }

    private def shuffleMb(step: String): Double =
      SeamListener.mb(l.jobsNamed(s"replay-$step").map(_.shuffleWriteB).sum)

    def run(measured: Seq[Op], errors: mutable.ArrayBuffer[String]): Map[String, Double] = {
      val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      measured.foreach { op =>
        val k = op.round
        val prev = k - 1
        val buckets = store.manifestMeta(prev)("cuckoo_buckets").toInt
        val hconf = spark.sessionState.newHadoopConf()
        val bloom = UrlSeen.readBloomFile(s"${store.snapshotDir(prev)}/bloom.bin", hconf)
          .getOrElse(throw new IllegalStateException(s"no bloom.bin in snapshot $prev"))
        val bc = spark.sparkContext.broadcast(bloom)
        val cuckooDir = s"${store.snapshotDir(prev)}/cuckoo_bin"
        val pending = store.read(spark, prev, "pending").as[PendingUrl]
        val seen = store.readSeen(spark, prev)

        val withCanon = pending.toDF()
          .withColumn("url_canon", UrlExprs.canonicalize(col("url")))
          .withColumn("url_hash", UrlFunctions.urlHashCol(col("url_canon")))
        val allowed = RobotsFilter.decide(spark, withCanon, "url_canon", robots, hostMapDs,
          assumeNormalized = true).filter(col("robots_verdict") === "ok")
        val dedup = allowed.groupBy("url_canon")
          .agg(max("url_hash").as("url_hash"), max("priority").as("priority"), min("seq").as("seq"))
        val newUrls = UrlSeen.filterNew(spark, dedup, seen, UrlSeen.BroadcastBloom(bc),
          Some(cuckooDir), buckets)
        val frontier = newUrls
          .withColumn("host", UrlExprs.host(col("url_canon")))
          .withColumn("host_hash", UrlFunctions.hostSaltCol(col("host"), col("url_hash"), cfg.saltsPerHost))
          .withColumn("round", lit(k))
          .withColumn("url", lit("")) // blanked for the shuffle, as the crawl does
          .select("url", "url_canon", "url_hash", "host", "host_hash", "priority", "seq", "round")
          .as[FrontierEntry]
        val admitted = Politeness.admit(spark, frontier, cfg).toDF()
          .filter(col("admitted")).select("entry.*").as[FrontierEntry]
        val uni = universe
        val hard = cfg.softTimeoutMs + 5000L
        val fetched = admitted.mapPartitions(_.map(e => fetchConvert(uni, e, k, hard)))

        // one untimed run of the whole chain first: the first prefix to
        // touch the cuckoo blobs or the broadcast bloom would pay for loading
        // them, and the later prefixes would not
        force("warm", fetched.toDF())
        val (t1, nCand) = force("canonicalize", withCanon)
        val (t2, nAllowed) = force("robots", allowed)
        val (t3, nDedup) = force("dedup", dedup)
        val (t4, nNew) = force("seen", newUrls)
        val (t5, nAdm) = force("politeness", admitted.toDF())
        val convObs = new Observation(s"replay-convert-$k")
        val (t6, _) = force("fetch_convert", fetched.toDF().observe(convObs,
          sum(when(col("status") === 200, 1L).otherwise(0L)).as("ok200"),
          sum(when(col("convert_error"), 1L).otherwise(0L)).as("conv_err")))
        spark.sparkContext.setJobDescription("replay-store")
        val w0 = System.nanoTime()
        scratch.write(fetched.filter(col("error") === "" && col("status") === 200)
          .select("doc_id", "spans", "round").sortWithinPartitions("doc_id"), k, "output_spans")
        val t7 = (System.nanoTime() - w0) / 1e9
        spark.sparkContext.setJobDescription(null)

        // reconcile with what the measured round reported
        val st = op.stats
        val got = Seq("candidates" -> (nCand, st.candidates),
          "robotsDenied" -> (nCand - nAllowed, st.robotsDenied),
          "newUrls" -> (nNew, st.newUrls), "admitted" -> (nAdm, st.admitted),
          "deferred" -> (nNew - nAdm, st.deferred))
        got.foreach { case (name, (replayed, reported)) =>
          if (replayed != reported)
            errors += s"replay of round $k: $name $replayed != RoundStats $reported"
        }

        acc("functions.canonicalize.s") += t1
        acc("frontier.robots.s") += t2 - t1
        acc("frontier.dedup.s") += t3 - t2
        acc("frontier.seen.s") += t4 - t3
        acc("frontier.politeness.s") += t5 - t4
        acc("pipeline.fetch_convert.s") += t6 - t5
        acc("sources.store.write_s") += t7 - t6
        acc("n.candidates") += nCand
        acc("n.denied") += nCand - nAllowed
        acc("n.dedup") += nDedup
        acc("n.new") += nNew
        acc("n.admitted") += nAdm
        acc("n.ok200") += convObs.get("ok200").asInstanceOf[Long]
        acc("n.conv_err") += convObs.get("conv_err").asInstanceOf[Long]

        // sketch health over this round's deduplicated candidates
        val bloomMaybe = udf((h: Long) => bc.value.mightContainLong(h))
        val cuckooMaybe = udf((h: Long) =>
          CuckooFileCache.get(cuckooDir, UrlSeen.cuckooBucket(h, buckets)).forall(_.mightContain(h)))
        val f = dedup.join(seen.select(col("url_canon"), lit(true).as("is_seen")), Seq("url_canon"), "left")
          .select(bloomMaybe(col("url_hash")).as("b"), cuckooMaybe(col("url_hash")).as("c"),
            col("is_seen").isNotNull.as("s"))
          .agg(sum(when(col("b"), 1L).otherwise(0L)),
            sum(when(col("b") && !col("s"), 1L).otherwise(0L)),
            sum(when(!col("s"), 1L).otherwise(0L)),
            sum(when(col("b") && col("c"), 1L).otherwise(0L))).head()
        acc("n.bloom_maybe") += f.getLong(0)
        acc("n.bloom_fp") += f.getLong(1)
        acc("n.truly_new") += f.getLong(2)
        acc("n.cuckoo_maybe") += f.getLong(3)

        // politeness skew: admitted rows per politeness partition
        val perPart = admitted.toDF().groupBy(spark_partition_id().as("p")).count()
          .collect().map(_.getLong(1).toDouble).toSeq
        val padded = perPart ++ Seq.fill(math.max(0, cfg.numPartitions - perPart.size))(0.0)
        val med = Stats.median(padded)
        acc("skew.sum") += (if (med > 0) padded.max / med else padded.max)
        bc.unpersist(blocking = false)
      }
      def ratio(a: String, b: String) = if (acc(b) > 0) acc(a) / acc(b) else 0.0
      val n = measured.size.toDouble
      Map(
        "functions.canonicalize.s" -> acc("functions.canonicalize.s"),
        "frontier.robots.s" -> acc("frontier.robots.s"),
        "frontier.robots.deny_ratio" -> ratio("n.denied", "n.candidates"),
        "frontier.dedup.s" -> acc("frontier.dedup.s"),
        "frontier.seen.s" -> acc("frontier.seen.s"),
        "frontier.seen.bloom_maybe_ratio" -> ratio("n.bloom_maybe", "n.dedup"),
        "frontier.seen.bloom_fp_ratio" -> ratio("n.bloom_fp", "n.truly_new"),
        "frontier.seen.cuckoo_maybe_ratio" -> ratio("n.cuckoo_maybe", "n.bloom_maybe"),
        "frontier.seen.new_ratio" -> ratio("n.new", "n.dedup"),
        "frontier.politeness.s" -> acc("frontier.politeness.s"),
        "frontier.politeness.admit_ratio" -> ratio("n.admitted", "n.new"),
        "frontier.politeness.skew" -> acc("skew.sum") / n,
        // each prefix re-runs the shuffles upstream of it: the politeness
        // shuffle is what its prefix writes beyond the seen prefix
        "frontier.politeness.shuffle_mb" -> math.max(0.0, shuffleMb("politeness") - shuffleMb("seen")),
        "pipeline.fetch_convert.s" -> acc("pipeline.fetch_convert.s"),
        "pipeline.fetch_convert.convert_error_ratio" -> ratio("n.conv_err", "n.ok200"),
        "sources.store.write_s" -> acc("sources.store.write_s"))
    }
  }
}

object CrawlBench {
  /** One measured operation: a `CrawlJob.run` call, i.e. one round. */
  final case class Op(round: Int, wallS: Double, startMs: Long, endMs: Long, stats: RoundStats)

  /** Rough wall time of one warm round at full size on a 4-core host;
    * turns `--seconds` into a fixed number of measured rounds. */
  val NominalRoundS = 8.0

  /** The job descriptions `CrawlJob` sets, plus the runner's own label
    * for the resume phase of a call (its jobs and driver work before the
    * first write). */
  val Seams: Seq[String] = Seq("crawl-resume", "frontier-write", "spans-write", "metrics",
    "fetch-log-write", "seen-write", "bloom-update", "cuckoo-write", "pending-write")

  /** The six jobs that run concurrently after the span write. */
  val Tail: Set[String] = Set("metrics", "fetch-log-write", "seen-write", "bloom-update",
    "cuckoo-write", "pending-write")

  val AllSeams: Seq[String] = Seams :+ "commit"

  /** Share of each measured round's wall time the seams must cover on a
    * traced run. */
  val MinCoverage = 0.9

  def key(seam: String): String = seam.replace('-', '_')

  /** Order-free digest of (url, round) pairs. */
  def digest(rows: Seq[(String, Int)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map { case (u, r) => s"$u\t$r\n" }.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString.take(32)
  }

  final case class Fetched(doc_id: String, spans: Seq[DocSpan], round: Int, status: Int,
                           error: String, convert_error: Boolean)

  /** The fetch + convert step of a round, classified as `CrawlJob` does
    * it: `error` is non-empty exactly for the rows the round counts as
    * failed. */
  def fetchConvert(uni: SyntheticWeb.Universe, e: FrontierEntry, round: Int, hardMs: Long): Fetched = {
    val f = uni.fetch(e)
    if (f.error.nonEmpty) Fetched(f.url_canon, Nil, round, f.status, f.error, convert_error = false)
    else if (f.duration_ms > hardMs) Fetched(f.url_canon, Nil, round, f.status, "deadline", convert_error = false)
    else if (f.status == 301 || f.status == 302) Fetched(f.url_canon, Nil, round, f.status, "", convert_error = false)
    else {
      val conv = ConvertPipeline(f.doc, ConvertPipeline.Options())
      if (conv.isError) Fetched(f.url_canon, Nil, round, f.status, conv.error, convert_error = true)
      else {
        val out = if (conv.docs.length == 1) conv.docs.head else SpanOps.merge(conv.docs, f.url_canon)
        Fetched(out.doc_id, out.spans, round, f.status, "", convert_error = false)
      }
    }
  }
}
