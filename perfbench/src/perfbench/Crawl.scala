package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.oracle.CrawlOracle
import graft.sched.{CrawlConfig, CrawlScheduler, RoundResult}
import graft.store.Snapshots
import graft.synthweb.WebConfig

/** One timed `runRound` call. */
final case class RoundRun(round: Int, startUs: Long, endUs: Long, selected: Long,
                          fetchedOk: Long, bytesWritten: Long, filesWritten: Long,
                          compiles: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** A crawl of a synthetic web with every listing page seeded and a
  * per-host politeness budget, so that each round fetches `budget` pages
  * per host: selection over a frontier of thousands of URLs, fetch and
  * parse, link discovery through the seen tiers, and the round's commit
  * writes. Host 0 holds 4x the listings (hot-host skew). The first
  * `warmRounds` rounds are the warm-up; the measured units are the
  * crawl's next `units` rounds, a count fixed by `--seconds`, so the
  * same rounds are measured however fast they run. A fresh JVM's rounds
  * keep getting faster for ~10 rounds, because the JIT compiles for
  * several seconds of CPU in every round until then; rounds 4-6 are
  * the latest a run's time allows. The traced run measures `units` more
  * rounds and then the crawl's first store compaction round, which
  * `compactEvery` places there. The web is large enough that no host
  * drains within a run.
  */
final class Crawl(env: Env) extends Workload {
  val warmRounds = 3
  val budget = 64
  /** Measured rounds: one per `roundSeconds` of `--seconds`, at least 2. */
  val roundSeconds = 5.0
  val units: Int = math.max(2, math.round(env.seconds / roundSeconds).toInt)
  /** The round after the warm-up, the untraced and the traced rounds:
    * the seen table's first compaction runs there, because the manifest
    * counts init's seen delta as the first of `compactEvery`.
    */
  val compactRound: Int = warmRounds + 2 * units + 1

  def web(seed: Long): WebConfig =
    WebConfig(seed = seed, nHosts = 16, listPagesPerHost = 20, detailsPerList = 40,
              hotHostFactor = 4, pct404 = 3, pct503 = 2, crossHostLinkPct = 5,
              seedAllListPages = true)

  def config(outDir: String): CrawlConfig =
    CrawlConfig(web = web(env.seed), outDir = outDir, hostCapacity = budget,
                hostRefill = budget, compactEvery = compactRound + 1)

  private def tracer = env.tracer
  private var sched: CrawlScheduler = _
  private var dir: String = _
  private var next = 1 // the next round to run
  private var rounds = mutable.ArrayBuffer.empty[RoundRun]

  def prepare(): Unit = {
    dir = env.freshDir("crawl")
    sched = new CrawlScheduler(env.spark, config(dir))
    env.out.op("init")(tracer.span("init")(sched.init()))
      .getOrElse(throw new IllegalStateException("crawl init failed"))
    next = 1
  }

  /** One timed round; None when it threw (counted as failed). */
  private def round(probeStore: Boolean): Option[RoundResult] = {
    val r = next
    next += 1
    val t0 = Clock.nowUs
    val cg0 = Codegen.compiles()
    val res = env.out.op(s"runRound($r)")(tracer.span(s"runRound($r)")(sched.runRound(r)))
    val t1 = Clock.nowUs
    res.foreach { rr =>
      val (bytes, files) = if (probeStore) Crawl.writtenSince(dir, t0 / 1000L) else (0L, 0L)
      rounds += RoundRun(r, t0, t1, rr.selected, rr.fetchedOk, bytes, files,
                         Codegen.compiles() - cg0)
    }
    res
  }

  def warmUp(): Unit = {
    while (next <= warmRounds)
      round(probeStore = false)
        .getOrElse(throw new IllegalStateException("warm-up round failed"))
    println(s"warm-up rounds: walls ${rounds.map(r => Main.fmt(r.seconds)).mkString(" ")}, " +
      s"codegen compiles ${rounds.map(_.compiles).mkString(" ")}")
  }

  def measure(traced: Boolean): Double = {
    rounds = mutable.ArrayBuffer.empty
    val n = units + (if (traced) 1 else 0)
    tracer.span("measure") {
      var ok = true
      while (ok && rounds.size < n) ok = round(probeStore = traced).exists(!_.done)
    }
    if (rounds.size < n)
      throw new IllegalStateException(s"${rounds.size} of $n measured rounds completed")
    val steady = rounds.take(units).toSeq
    val walls = steady.map(_.seconds)
    println(s"rounds ${rounds.map(_.round).mkString(" ")}: pages " +
      s"${rounds.map(_.selected).mkString(" ")}, " +
      s"walls ${rounds.map(r => Main.fmt(r.seconds)).mkString(" ")}, " +
      s"codegen compiles ${rounds.map(_.compiles).mkString(" ")}")
    if (!traced) {
      env.out.put("rows_per_s", steady.map(_.selected).sum / walls.sum, "rows/s")
      env.out.put("step_p50_s", Stats.median(walls), "s")
    } else layerMetrics(env.listener, steady, rounds.last)
    Stats.median(walls)
  }

  /** Order-independent digest of fetch-log (round, seq, url_hash, status)
    * rows: (rows, xor of row hashes, sum of 31-bit row hashes).
    */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("round"), col("seq"), col("url_hash"), col("status"))
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1L << 31)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
     if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The crawl's fetch log, over every round it ran, equals the
    * sequential oracle's for the same config.
    */
  def check(): Unit = {
    val last = next - 1
    val spark = env.spark
    import spark.implicits._
    val oracle = new CrawlOracle(config("unused").copy(maxRounds = last)).run()
    val want = digest(oracle.fetchLog.toDS().toDF())
    val got = env.out.op("read fetch_log") {
      digest(spark.read.parquet(new Snapshots(dir).fetchLogPaths(last): _*))
    }
    env.out.check(s"fetch log = oracle (rounds 1..$last)", got.contains(want),
                  s"got $got, oracle $want")
  }

  /** Per-layer metrics of the crawl layers over the measured rounds: the
    * listener's jobs by phase, the store walk, and the layer probes.
    */
  private def layerMetrics(l: JobListener, steady: Seq[RoundRun], compacting: RoundRun): Unit = {
    Thread.sleep(500) // let the listener bus deliver the last job events
    val out = env.out
    val n = steady.size.toDouble
    def iv(js: Seq[(String, JobStat)]) = js.map(x => (x._2.startUs, x._2.endUs))
    def attributed(rs: Seq[RoundRun]) =
      rs.map(rr => rr -> Phases.attribute(rr.round, l.within(rr.startUs, rr.endUs)))
    val perRound = attributed(steady)
    val byPhase = perRound.flatMap(_._2).groupBy(_._1)
    Phases.names.foreach { p =>
      val js = byPhase.getOrElse(p, Nil).map(_._2)
      // a phase's wall is the union of its jobs in each round: commit
      // writes run concurrently
      val wall = perRound.map { case (_, a) => Stats.unionSeconds(iv(a.filter(_._1 == p))) }.sum
      out.put(s"sched.$p.wall_s", wall / n, "s")
      out.put(s"sched.$p.task_s", js.map(_.taskMs).sum / 1e3 / n, "s")
      out.put(s"sched.$p.jobs", js.size / n, "count")
      out.put(s"sched.$p.tasks", js.map(_.tasks).sum / n, "count")
      out.put(s"sched.$p.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6 / n, "MB")
      out.put(s"sched.$p.output_mb", js.map(_.outputBytes).sum / 1e6 / n, "MB")
    }
    val gaps = perRound.map { case (rr, a) => rr.seconds - Stats.unionSeconds(iv(a)) }
    out.put("sched.driver_gap_s", Stats.mean(gaps), "s")
    // selection runs inside the fetch+log query's stage jobs; what the
    // driver spends before that query's first job is its planning
    val preFetch = perRound.map { case (rr, a) =>
      a.collectFirst { case ("fetch_log", j) => j.startUs }.getOrElse(rr.endUs) - rr.startUs
    }
    out.put("sched.pre_fetch_s", preFetch.sum / 1e6 / n, "s")
    out.put("sched.jobs_per_round", perRound.map(_._2.size).sum / n, "count")
    out.put("sched.round_wall_s", Stats.mean(steady.map(_.seconds)), "s")
    out.put("sched.phase_sum_s",
            Phases.names.map(p => out.metrics(s"sched.$p.wall_s")._1).sum, "s")
    out.put("codegen.compiles", steady.map(_.compiles).sum / n, "count")
    val unknown = byPhase.getOrElse("other", Nil).map(_._2.desc.replaceAll("\\d+", "N")).distinct
    if (unknown.nonEmpty)
      println(s"jobs with no known phase (sched.other): ${unknown.mkString("; ")}")

    println("round  wall_s  phases_sum_s  jobs_union_s  gap_s  jobs  " +
      Phases.names.mkString(" "))
    attributed(steady :+ compacting).foreach { case (rr, a) =>
      val ph = Phases.names.map(p => Stats.unionSeconds(iv(a.filter(_._1 == p))))
      val u = Stats.unionSeconds(iv(a))
      println(f"${rr.round}%5d  ${rr.seconds}%6.3f  ${ph.sum}%12.3f  $u%12.3f  " +
        f"${rr.seconds - u}%5.3f  ${a.size}%4d  " + ph.map(x => f"$x%.3f").mkString(" "))
    }
    println(f"first steady round ${steady.head.round}: ${steady.head.seconds}%.3f s; " +
      f"last steady round ${steady.last.round}: ${steady.last.seconds}%.3f s; " +
      f"compaction round ${compacting.round}: ${compacting.seconds}%.3f s")

    val sel = steady.map(_.selected).sum
    val ok = steady.map(_.fetchedOk).sum
    out.put("fetch.selected", sel / n, "count")
    out.put("fetch.fetched_ok", ok / n, "count")
    out.put("fetch.ok_ratio", if (sel > 0) ok.toDouble / sel else 0.0, "ratio")
    out.put("store.bytes_written_mb", steady.map(_.bytesWritten).sum / 1e6 / n, "MB")
    out.put("store.files_written", steady.map(_.filesWritten).sum / n, "count")
    out.put("store.compaction_round_s", compacting.seconds, "s")
    out.put("store.compaction_jobs",
            attributed(Seq(compacting)).head._2.count(_._1 == "seen_compaction").toDouble,
            "count")

    Probes.crawlLayers(env.spark, out, web(env.seed), config("unused"),
                       new Snapshots(dir).fetchLogPaths(compacting.round))
  }
}

object Crawl {
  /** (bytes, files) of regular files under `dir` modified at or after
    * `sinceMs`: what the round wrote.
    */
  def writtenSince(dir: String, sinceMs: Long): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }
}
