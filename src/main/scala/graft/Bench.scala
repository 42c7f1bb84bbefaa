package graft

import org.apache.spark.sql.SparkSession

import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.Snapshots
import graft.synthweb.WebConfig
import graft.util.TempDirs

/** Round benchmark (driver-run). Two parts:
  *
  * 1. Headline analytics queries over SPARK_GRAFT_SF_DIR, timed
  *    individually (count() forces the full plan).
  * 2. The north-rule crawl-throughput scaling run: the SAME crawl
  *    workload executed at local[8] and local[32] on the same synthetic
  *    web (the sandbox stand-in for N vs 4N executors — per driver
  *    instruction). Reports pages/sec at both levels and the scaling
  *    efficiency (pps32/pps8)/4.
  *
  * The fetch stage simulates I/O-bound latency (105-165 ms seeded per
  * page), so throughput is bounded by fetch concurrency = cores — the
  * same regime as a real fetch cluster. Politeness budgets are set high
  * so the bench measures throughput, not the rate limiter (the
  * correctness suite pins the rate-limiter behavior).
  */
object Bench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Crawl workload for the scaling run: ~16k pages in 4-5 fat rounds
    * (all listing pages seeded -> BFS depth 2, the regime a large
    * cluster's round scheduler operates in; huge budgets keep the bench
    * throughput-bound, not rate-limiter-bound).
    */
  private def crawlCfg(out: String): CrawlConfig = CrawlConfig(
    web = WebConfig(seed = 202, nHosts = 16, listPagesPerHost = 40,
                    detailsPerList = 25, hotHostFactor = 2, pct404 = 3,
                    pct503 = 2, crossHostLinkPct = 5,
                    latencyBaseMs = 105, latencyJitterMs = 61,
                    seedAllListPages = true),
    outDir = out, maxRounds = 12, maxAttempts = 3, salts = 8,
    hostCapacity = 100000, hostRefill = 100000,
    bloomBits = 1 << 22, simulateLatency = true)

  /** Tiny crawl to JIT/warm codegen + parquet paths before timing. */
  private def warmupCfg(out: String): CrawlConfig = CrawlConfig(
    web = WebConfig(seed = 9, nHosts = 2, listPagesPerHost = 1,
                    detailsPerList = 3),
    outDir = out, maxRounds = 8, hostCapacity = 64, hostRefill = 64)

  /** (steal_ticks, total_ticks) from /proc/stat — hypervisor CPU steal
    * is the one interference source a guest can measure directly, and
    * on shared hosts it moves wall times 2x between runs of identical
    * code. Reported per crawl run so the artifact carries its own
    * interference evidence. (0,0) when unreadable (non-Linux).
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val l = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // sum user..steal only (first 8 fields): guest/guest_nice are
      // already folded into user/nice on Linux — double-counting them
      // understates steal% and biases the 4% contamination-retry
      // threshold toward accepting stolen runs
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** The ONE contamination threshold every timed phase applies (crawl
    * runs and at-scale legs alike): a window with more hypervisor steal
    * than this is a measurement of the co-tenant, re-attempted up to
    * twice with the lowest-steal attempt kept and its steal%% reported.
    */
  private val stealRetryPct = 4.0

  /** One repeat of a timed metric, re-attempted while ITS OWN steal
    * window exceeds the threshold (up to 3 attempts, lowest-steal
    * attempt kept, its steal%% returned beside the value). The window
    * must cover exactly the timed region — a whole-leg window dilutes
    * a short co-tenant burst during one ~5 s timed repeat below the
    * 4%% gate while the repeat itself ran 2-3x slow, which is
    * precisely the round-4 "dedup blowup with no interference
    * evidence" failure mode.
    */
  private def cleanRepeat[T](f: => (T, Double)): (T, Double) = {
    var best: (T, Double) = null
    var attempts = 0
    while (attempts < 3 && (best == null || best._2 > stealRetryPct)) {
      // GC before every attempt (like the crawl path's cleanRun): the
      // first timed repeat of a leg must not absorb a major collection
      // of the PREVIOUS phase's garbage inside its window — that is
      // local noise the steal counter cannot flag
      System.gc()
      val r = f
      if (best == null || r._2 < best._2) best = r
      attempts += 1
    }
    best
  }

  /** Counts Spark job submissions — makes "jobs per crawl round" a
    * measured artifact field instead of prose (structural scheduler
    * wins like dropped anti-joins show up here even when wall time is
    * noise-bound).
    */
  private final class JobCount extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      n.incrementAndGet(); ()
    }
  }

  private def crawlRun(cores: Int)
      : (Long, Double, Double, String, Int, Double) = {
    val s = session(cores)
    try {
      // temp dirs ride TempDirs' shutdown-hook registry (deleted at
      // JVM exit, so lastOut stays readable for the dedup leg) — raw
      // createTempDirectory would leak one crawl output per attempt
      // across repeated harness runs
      new CrawlScheduler(s, warmupCfg(
        TempDirs.create(s"bench-warm-$cores-"))).run()
      val out = TempDirs.create(s"bench-crawl-$cores-")
      val cfg = crawlCfg(out)
      val jc = new JobCount
      s.sparkContext.addSparkListener(jc)
      val (st0, tt0) = cpuTicks()
      val t0 = System.nanoTime()
      val last = new CrawlScheduler(s, cfg).run()
      val sec = (System.nanoTime() - t0) / 1e9
      val (st1, tt1) = cpuTicks()
      // listener bus is async; run() is blocking so every job already
      // STARTED — give the bus a beat to drain before reading (outside
      // the timed window)
      Thread.sleep(500)
      s.sparkContext.removeSparkListener(jc)
      val jobsPerRound = jc.n.get.toDouble / math.max(last, 1)
      val stealPct =
        if (tt1 > tt0) 100.0 * (st1 - st0) / (tt1 - tt0) else 0.0
      val snaps = new Snapshots(out)
      val pages = s.read.parquet(snaps.fetchLogPaths(last): _*).count()
      (pages, sec, stealPct, out, last, jobsPerRound)
    } finally s.stop()
  }

  private def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Median-of-3 timing with a count-drift guard (a repeat whose
    * invariant count differs must fail loudly, never skew the median)
    * and PER-REPEAT steal windows: each repeat retries under
    * [[cleanRepeat]]'s contamination rule, and the returned steal%% is
    * the max over the three KEPT repeats — the number that bounds how
    * stolen the reported median can be.
    */
  private def med3(f: => (Double, Long, Double)): (Double, Long, Double) = {
    // EVERY executed attempt's count rides the drift require — including
    // attempts cleanRepeat discards for steal. A drifted count is
    // nondeterminism in the operator, which interference cannot excuse;
    // discarding it with the timing would hide exactly the failure the
    // guard exists for.
    val allCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val runs = (1 to 3).map { _ =>
      val ((sec, v), steal) =
        cleanRepeat { val r = f; allCounts += r._2; ((r._1, r._2), r._3) }
      (sec, v, steal)
    }
    require(allCounts.distinct.size == 1, s"bench drift: $allCounts")
    (runs.map(_._1).sorted.apply(1), runs.head._2, runs.map(_._3).max)
  }

  /** (wall_sec, value, steal%%) — the steal window covers exactly the
    * timed region.
    */
  private def timed(f: => Long): (Double, Long, Double) = {
    val (st0, tt0) = cpuTicks()
    val t0 = System.nanoTime()
    val v = f
    val sec = (System.nanoTime() - t0) / 1e9
    val (st1, tt1) = cpuTicks()
    val steal = if (tt1 > tt0) 100.0 * (st1 - st0) / (tt1 - tt0) else 0.0
    (sec, v, steal)
  }

  /** Part-4 body (factored so it is independently runnable): returns
    * (vectors, batch_sec, batch_pairs, incr_round2_sec, incr_pairs).
    */
  private[graft] def annAtScale(s4: SparkSession, sfDir: String)
      : (Long, Double, Long, Double, Long, Double, Long, Double) = {
    import org.apache.spark.sql.functions._
    val base = s4.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id0"), col("embedding"))
    val vecs = base.crossJoin(
        s4.range(0, 64).select(col("id").cast("int").as("k")))
      .select(
        (col("id0") * 64 + col("k")).as("id"),
        when(col("k") <= 1, col("embedding"))
          .otherwise(
            // k >= 2: an INDEPENDENT hash-random vector per (id0, k) —
            // entries uniform in [-1, 1] via xxhash64, so pairwise
            // cosine concentrates near 0 (std ~ 1/8 at 64 dims), nowhere
            // near the 0.9999 threshold: the planted k=0/k=1 mirrors are
            // the exact expected pair set. (Sinusoid or scaled-copy
            // designs are wrong here — same-frequency sinusoids
            // correlate as cos(phase delta), and sin-phase aliasing
            // makes some scaled copies near-identical.)
            transform(sequence(lit(0), lit(63)),
                      i => ((pmod(xxhash64(col("id0") * 64 + col("k"), i),
                                  lit(2001)) - 1000) / 1000.0).cast("float")))
          .as("vec"))
      .persist()
    val nVecs = vecs.count()
    // 16-bit band buckets: at 128k vectors, 10-bit banding (the
    // small-corpus default) leaves ~125 unrelated vectors per bucket and
    // quadratic candidate generation dominates (~64M candidate pairs,
    // measured 2 min); 2^16 buckets keep random collisions rare while
    // identical mirrors still share every band (recall 1.0 structural).
    // Band resolution scales with corpus size — the same dial a 100 TB
    // deployment turns.
    val bandBits = 16
    val (tBatch, nBatchPairs, stBatch) = med3(timed(
      graft.ops.Similarity.cosineNearDups(s4, vecs, "id", "vec",
                                          threshold = 0.9999,
                                          bits = bandBits).count()))
    // two regimes, both against a FRESH index per repeat:
    //   - round 2 = the other HALF of the corpus (64k new vectors) —
    //     every bucket is touched, so the pass is batch-shaped work
    //     plus index I/O (the union-equals-batch contract lives here);
    //   - round 3 = a SMALL delta (2,000 new exact mirrors of the
    //     originals) against the full 128k index — the steady-state
    //     maintenance regime where per-round cost is O(delta), the
    //     number that separates incremental from batch.
    val delta = base.select((lit(10000000L) + col("id0")).as("id"),
                            col("embedding").as("vec"))
    val annAllCounts =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val incrRuns = (1 to 3).map { _ =>
      // one repeat = two timed windows (round 2 + small delta); the
      // repeat's steal is the max of the two, and the repeat retries
      // under the shared contamination rule like every other metric
      cleanRepeat {
        val idx = TempDirs.create("bench-incann-")
        val r1c = graft.ops.IncrementalAnn.roundPairs(
          s4, idx, vecs.filter(pmod(col("id"), lit(2)) === 0), "id",
          "vec", threshold = 0.9999, bits = bandBits).count()
        val (t2, r2c, st2) = timed(graft.ops.IncrementalAnn.roundPairs(
          s4, idx, vecs.filter(pmod(col("id"), lit(2)) === 1), "id",
          "vec", threshold = 0.9999, bits = bandBits).count())
        val (t3, r3c, st3) = timed(graft.ops.IncrementalAnn.roundPairs(
          s4, idx, delta, "id", "vec", threshold = 0.9999,
          bits = bandBits).count())
        annAllCounts += ((r1c + r2c, r3c)) // steal-discarded attempts too
        (((t2, t3), (r1c + r2c, r3c)), math.max(st2, st3))
      }
    }
    require(annAllCounts.distinct.size == 1,
            s"ann bench drift: $annAllCounts")
    val tIncr = incrRuns.map(_._1._1._1).sorted.apply(1)
    val tIncrSmall = incrRuns.map(_._1._1._2).sorted.apply(1)
    val (annUnion, annSmallPairs) = incrRuns.head._1._2
    require(annUnion >= nBatchPairs,
            s"ann incremental union $annUnion < batch $nBatchPairs")
    vecs.unpersist()
    val annSteal = (stBatch +: incrRuns.map(_._2)).max
    (nVecs, tBatch, nBatchPairs, tIncr, annUnion, tIncrSmall, annSmallPairs,
     annSteal)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // part 1: headline queries
    val s = session(cpus)
    val headline = Seq("q01_agg_pricing", "q05_join_region", "q10_window_ffill",
                       "q13_topk", "q16_trimhtml", "q23_content_key",
                       "q25_exact_dedup", "q26_ngram_jaccard", "q27_minhash_lsh",
                       "q28_simhash", "q30_quality", "q33_cosine_topk",
                       "q35_ann_lsh")
    // warm once (JIT + codegen + file listing), then measure each query
    // three times and report the median — single measurements showed
    // +/-50% run-to-run noise on the shorter queries
    headline.foreach { n =>
      try SparkEntry.queries(n)(s, sfDir).count()
      catch { case _: Throwable => () }
    }
    val qTimes = headline.map { n =>
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(n)(s, sfDir).count(); true }
                 catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      n -> (if (runs.contains(-1.0)) -1.0 else runs.sorted.apply(1))
    }
    s.stop()

    // part 2: crawl scaling run (N vs 4N cores on identical input).
    // SYMMETRIC protocol — median-of-3 at BOTH core counts, every run a
    // fresh warmed session — so neither level is favored and single-JVM
    // noise (GC/JIT/task placement, ~10% at 32 cores) is damped the
    // same way on numerator and denominator. All raw times reported.
    // a run whose window saw >4% hypervisor steal is a measurement of
    // the co-tenant, not of this code (observed: 6-9% steal inflates
    // the 32c crawl 1.3-1.5x; clean runs sit under 1%). Such a run is
    // re-attempted up to twice — steal is measured independently of the
    // wall time, so this filters contaminated samples without selecting
    // on the metric itself; if the host never quiets down, the lowest-
    // steal attempt is kept and its steal% is reported beside the time
    // (threshold: the shared stealRetryPct policy field).
    // page counts from EVERY crawl attempt (kept or steal-discarded)
    // ride the workload-drift require below — interference never excuses
    // a nondeterministic page count
    val crawlAllPages = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the ONE retry policy (cleanRepeat) applied to the crawl legs —
    // keyed on the run's own steal column, folding every executed
    // attempt's page count into the drift check (interference can
    // excuse a timing, never a count)
    def cleanRun(cores: Int): (Long, Double, Double, String, Int, Double) =
      cleanRepeat {
        val r = crawlRun(cores)
        crawlAllPages += r._1
        (r, r._3)
      }._1
    def medianOf3(cores: Int)
        : (Long, Double, Seq[Double], Seq[Double], String, Int, Double) = {
      val runs = (1 to 3).map(_ => cleanRun(cores))
      val pages = runs.map(_._1)
      require(pages.distinct.size == 1,
              s"workload drift within $cores-core runs: $pages pages")
      val times = runs.map(_._2)
      // jobs/round is deterministic up to commit-thread interleaving;
      // report the median of the three measured values
      val jpr = runs.map(_._6).sorted.apply(1)
      (pages.head, times.sorted.apply(1), times, runs.map(_._3),
       runs.last._4, runs.last._5, jpr)
    }
    val (pages8, sec8, runs8, steal8, _, _, jpr8) = medianOf3(8)
    val (pages32, sec32, runs32, steal32, lastOut, lastRound, jpr32) = medianOf3(32)
    require(pages8 == pages32, s"workload drift: $pages8 vs $pages32 pages")
    require(crawlAllPages.distinct.size == 1,
            s"workload drift across attempts: $crawlAllPages pages")
    val pps8 = pages8 / sec8
    val pps32 = pages32 / sec32
    val eff = (pps32 / pps8) / 4.0
    // secondary, interference-robust estimator: the FASTEST run at each
    // level is the least-stolen one (median still primary; under >1
    // interfered run of 3 the median is contaminated and best-of bounds
    // the machine-noise direction — symmetric at both levels)
    val effBest = (runs8.min / runs32.min) / 4.0

    // part 3: dedup at crawl scale — the bench crawl's real docs,
    // expanded 8x with one PLANTED exact mirror per doc and six salted
    // distinct variants (~10^5 documents), through exact clustering and
    // the capped ids-only MinHash LSH path. The accumulator proves the
    // bucket caps engaged (or not) — truncation is never silent.
    val (dedupDocs, exactSec, exactClusters, lshSec, lshPairs, lshDropped,
         incrSec, incrPairs, dedupSteal) = {
      val s3 = session(cpus)
      try {
        import org.apache.spark.sql.functions._
        val snaps3 = new Snapshots(lastOut)
        val raw = s3.read.parquet(snaps3.docsPaths(lastRound): _*)
          .select(col("doc_id"),
                  concat_ws(" ", transform(col("spans"), sp => sp("text")))
                    .as("text0"))
          .withColumn("id0", pmod(xxhash64(col("doc_id")), lit(1000000000000L)))
          .select(col("id0"), col("text0"))
        val copies = raw.crossJoin(
            s3.range(0, 8).select(col("id").cast("int").as("k")))
          .select(
            (col("id0") * 16 + col("k")).as("id"),
            when(col("k") <= 1, col("text0")) // k=0 original, k=1 mirror
              .otherwise(concat(col("text0"), lit(" salt"), col("k"),
                                lit(" v"), pmod(col("id0"), lit(997))))
              .as("text"))
          .persist()
        val nDocs = copies.count()
        // part 3 timings are medians-of-3 like parts 1/2: single runs
        // swing 2-3x with JIT warmup and machine noise. Counts must not
        // drift between repeats (med3's require).
        val (tExact, nClusters, stExact) = med3(timed(
          graft.ops.Dedup.exactClusters(copies, "id", "text")
            .filter(col("n_dups") > 1).count()))
        val acc = s3.sparkContext.longAccumulator("bench_lsh_dropped")
        // hand-rolled repeat loop (not med3): the drop accumulator must
        // be captured INSIDE each attempt's tuple so the reported value
        // belongs to the KEPT measurement — reading acc.value after the
        // loop would report the LAST attempt, which under steal retries
        // may be a discarded one (and a Spark task retry inside it can
        // double-count the accumulator). Drops stay OUT of the drift
        // require for the same reason: accumulator totals are not
        // retry-exact, pair counts are.
        val lshAllPairs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val lshRuns = (1 to 3).map { _ =>
          cleanRepeat {
            acc.reset() // per-attempt drop count, not a cross-attempt sum
            val (t, pairs, st) = timed(graft.ops.Dedup.minhashNearDups(
              copies, "id", "text", shingleN = 3, numHashes = 32,
              rowsPerBand = 4, threshold = 1.0, maxBucket = 1024,
              acc = Some(acc)).count())
            lshAllPairs += pairs
            ((t, pairs, acc.value.toLong), st)
          }
        }
        require(lshAllPairs.distinct.size == 1, s"bench drift: $lshAllPairs")
        val tLsh = lshRuns.map(_._1._1).sorted.apply(1)
        val nPairs = lshRuns.head._1._2
        // max over kept attempts — the bound on caps engaging, matching
        // the steal column's "worst kept repeat" semantics
        val lshDroppedKept = lshRuns.map(_._1._3).max
        val stLsh = lshRuns.map(_._2).max
        // incremental maintenance at the same scale: the corpus arrives
        // in two ingest rounds (id % 2 splits every planted mirror pair
        // across the rounds: original k=0 is even, mirror k=1 is odd).
        // Each repeat populates a FRESH index with round 1 (untimed) and
        // times round 2 — the steady-state maintenance cost. The union
        // of both rounds' pairs must cover the batch LSH output.
        // BOTH rounds' counts ride the med3 drift check (packed into
        // one long) — a repeat whose round-1 count drifts must fail the
        // distinctness require, not silently skew incr_pairs
        val (tIncr, packed, stIncr) = med3 {
          val idx = TempDirs.create("bench-inclsh-")
          val r1c = graft.ops.IncrementalLsh.roundPairs(
            s3, idx, copies.filter(pmod(col("id"), lit(2)) === 0), "id",
            "text", shingleN = 3, numHashes = 32, rowsPerBand = 4,
            threshold = 1.0, maxBucket = 1024).count()
          val (t, r2c, st) = timed(graft.ops.IncrementalLsh.roundPairs(
            s3, idx, copies.filter(pmod(col("id"), lit(2)) === 1), "id",
            "text", shingleN = 3, numHashes = 32, rowsPerBand = 4,
            threshold = 1.0, maxBucket = 1024).count())
          require(r1c < 1000000000L && r2c < 1000000000L,
                  s"pair counts overflow pack: $r1c/$r2c")
          (t, r1c * 1000000000L + r2c, st)
        }
        val r1 = packed / 1000000000L
        val r2 = packed % 1000000000L
        // equality whenever caps don't engage (superset under caps —
        // early rounds cap over fewer bucket members)
        require(r1 + r2 >= nPairs,
                s"incremental union ${r1 + r2} < batch $nPairs")
        copies.unpersist()
        (nDocs, tExact, nClusters, tLsh, nPairs, lshDroppedKept, tIncr,
         r1 + r2, Seq(stExact, stLsh, stIncr).max)
      } finally s3.stop()
    }

    // part 4: ANN at scale — the embeddings table expanded 64x
    // (~128k vectors at sf0.1): k=0 original, k=1 an EXACT mirror (the
    // planted cosine-1.0 pair), k=2.. independent hash-random vectors
    // (pairwise cosine concentrates near 0 — see annAtScale's
    // construction note for why scaled copies would be wrong here).
    // Batch hyperplane-banded near-dup
    // vs incremental maintenance (IncrementalAnn): the corpus arrives
    // in two rounds split so every mirror pair straddles them (k
    // parity); round 2 — new vectors against the persisted band index —
    // is the steady-state maintenance cost.
    val (annVecs, annBatchSec, annBatchPairs, annIncrSec, annIncrPairs,
         annSmallSec, annSmallPairs, annSteal) = {
      val s4 = session(cpus)
      try annAtScale(s4, sfDir) finally s4.stop()
    }

    // part 5: connected components at 10^7-edge scale — a seeded
    // random recursive FOREST: node ids partition into groups of 1000,
    // every non-root node wires to a hash-random EARLIER node of its
    // own group (xxhash64-seeded, deterministic), so the graph is
    // random-shaped but the component count is exact by construction
    // (one per group; edges = nodes - groups). A random recursive tree
    // on 10^3 nodes has O(log n) depth and large-star/small-star
    // contracts it in O(log n) alternations — the measured `rounds` is
    // asserted against that bound, pinning the convergence claim
    // empirically the way the 10^7-URL crawl leg pins the frontier.
    val nNodes = 10010000L
    val groupLen = 1000L
    val nGroups = nNodes / groupLen
    val ccMaxRounds = 16 // generous O(log n): depth ~ e*ln(1000) ~ 19,
                         // alternations contract it in well under this
    // each round's (edges, seconds) of the last timed repeat
    var ccTrace = Seq.empty[graft.ops.ConnectedComponents.Round]
    val (ccSec, ccComponents, ccEdges, ccRounds, ccSteal) = {
      val s5 = session(cpus)
      try {
        import org.apache.spark.sql.functions._
        val off = pmod(col("id"), lit(groupLen)) // 0 = group root
        val edges = s5.range(0, nNodes)
          .filter(off =!= 0)
          .select(col("id").as("id_a"),
                  (col("id") - off + pmod(xxhash64(col("id"), lit(41L)), off))
                    .as("id_b"))
        val nEdges = nNodes - nGroups
        // med3 packs (components, rounds) into one long for the drift
        // check: a repeat that converges in a different round count or
        // component count must fail loudly
        val (t, packed, stCc) = med3(timed {
          val (comp, trace) =
            graft.ops.ConnectedComponents.componentsTraced(edges)
          val rounds = trace.last.round
          ccTrace = trace
          val sizes = comp.groupBy("component_id").count()
          val bad = sizes.filter(col("count") =!= groupLen).count()
          require(bad == 0, s"$bad components of wrong size")
          val nComp = sizes.count()
          require(rounds <= ccMaxRounds,
                  s"CC took $rounds rounds (> $ccMaxRounds) on a " +
                    s"$nEdges-edge random forest — O(log n) regression")
          nComp * 100L + rounds
        })
        require(packed / 100L == nGroups,
                s"expected $nGroups components, got ${packed / 100L}")
        (t, packed / 100L, nEdges, (packed % 100L).toInt, stCc)
      } finally s5.stop()
    }

    // part 6: corpus hygiene at scale — the documents table expanded
    // 32x with per-copy salting (distinct texts), every k=1 copy
    // planted with a 7-word fragment of a synthetic 200-item benchmark
    // whose vocabulary is disjoint from the corpus: decontamination
    // must flag EXACTLY the planted copies (3 hit grams each — the
    // fragment's three 5-grams; boundary grams mix vocabularies and
    // cannot match). Then the clean corpus is chunked (12/8 sliding
    // windows) and globally numbered — counts structural per repeat.
    val (hygDocs, nBench, deconSec, nContam, chunkSec, nChunks, hygSteal) = {
      val s6 = session(cpus)
      try {
        import org.apache.spark.sql.functions._
        val base = s6.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val bench = s6.range(0, 200).select(
          concat_ws(" ", transform(sequence(lit(0), lit(11)),
            j => concat(lit("bq"), col("id"), lit("w"), j))).as("text"))
        val frag = concat_ws(" ", transform(sequence(lit(0), lit(6)),
          j => concat(lit("bq"), pmod(col("doc_id"), lit(200)), lit("w"), j)))
        val corpus = base.crossJoin(
            s6.range(0, 32).select(col("id").cast("int").as("k")))
          .select(
            (col("doc_id") * 32 + col("k")).as("id"),
            when(col("k") === 1, concat(col("text"), lit(" "), frag))
              .otherwise(concat(col("text"), lit(" salt"), col("k"),
                                lit(" u"), pmod(col("doc_id"), lit(997))))
              .as("text"))
          .persist()
        val nDocs = corpus.count()
        val nBase = nDocs / 32
        val (tDecon, contam, stDecon) = med3(timed {
          val flagged = graft.ops.Decontaminate
            .overlap(corpus, bench, "id", "text", n = 5)
            .filter(col("contaminated"))
          val agg = flagged.agg(count(lit(1)), sum("n_hit_grams")).head()
          val (n, hits) = (agg.getLong(0), agg.getLong(1))
          require(n == nBase && hits == 3L * nBase,
                  s"decon: flagged $n/$nBase, hits $hits/${3 * nBase}")
          n
        })
        // expected count recomputed from word counts via the formula
        // (not via the operator under test) — ONCE, outside the timed
        // region: it is invariant across repeats and is verification
        // work, not the operator's cost
        val expect = corpus.select(
            size(graft.ops.TextOps.words(col("text"))).cast("long").as("len"))
          .select(when(col("len") === 0, lit(0L))
            .when(col("len") <= 12, lit(1L))
            .otherwise(lit(1L) +
              ceil((col("len") - 12).cast("double") / 8.0).cast("long"))
            .as("nc"))
          .agg(sum("nc")).head().getLong(0)
        val (tChunk, chunks, stChunk) = med3 {
          // each globalRowNumber call pins a localCheckpoint copy of
          // the ~1.1M-row chunk frame until the reference is GC'd;
          // cleanRepeat's per-attempt System.gc() prompts the
          // ContextCleaner between repeats (outside the timed region)
          // so stale copies don't crowd the block manager
          timed {
          val ch = graft.ops.Chunking.slidingChunks(corpus, "id", "text", 12, 8)
          // the global index over the chunk rows must be exactly
          // 0..chunks-1
          val idx = graft.ops.GlobalIndex.globalRowNumber(
            ch, Seq(col("n_tokens").desc, col("id"), col("chunk_idx")),
            numPartitions = cpus)
          val got = idx.agg(count(lit(1)), countDistinct(col("global_idx")),
                            min("global_idx"), max("global_idx")).head()
          require(got.getLong(0) == expect && got.getLong(1) == expect &&
                    got.getLong(2) == 0L && got.getLong(3) == expect - 1,
                  s"chunk+index: $got vs expect $expect")
          expect
          }
        }
        corpus.unpersist()
        (nDocs, 200L, tDecon, contam, tChunk, chunks,
         math.max(stDecon, stChunk))
      } finally s6.stop()
    }

    val qs = qTimes.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val total = qTimes.filter(_._2 >= 0).map(_._2).sum
    def arr(xs: Seq[Double]) = xs.map(fmt(_, 2)).mkString("[", ",", "]")
    println(
      s"""{"metric":"crawl_pages_per_sec_32c","value":${fmt(pps32, 1)},"unit":"pages/sec",""" +
        s""""queries":$qs,"sf":"$sfDir","queries_total_sec":${fmt(total, 3)},""" +
        s""""crawl":{"pages":$pages32,"sec_8":${fmt(sec8, 2)},"sec_32":${fmt(sec32, 2)},""" +
        s""""sec_8_runs":${arr(runs8)},"sec_32_runs":${arr(runs32)},""" +
        s""""steal_pct_8_runs":${arr(steal8)},"steal_pct_32_runs":${arr(steal32)},""" +
        s""""pps_8":${fmt(pps8, 1)},"pps_32":${fmt(pps32, 1)},""" +
        s""""jobs_per_round_8":${fmt(jpr8, 1)},"jobs_per_round_32":${fmt(jpr32, 1)},""" +
        s""""scaling_efficiency":${fmt(eff, 3)},""" +
        s""""scaling_efficiency_best":${fmt(effBest, 3)}},""" +
        s""""dedup_at_scale":{"docs":$dedupDocs,"exact_sec":${fmt(exactSec, 2)},""" +
        s""""exact_clusters":$exactClusters,"lsh_sec":${fmt(lshSec, 2)},""" +
        s""""lsh_pairs":$lshPairs,"lsh_dropped_rows":$lshDropped,""" +
        s""""incr_round2_sec":${fmt(incrSec, 2)},"incr_pairs":$incrPairs,""" +
        s""""steal_pct":${fmt(dedupSteal, 2)}},""" +
        s""""ann_at_scale":{"vecs":$annVecs,"batch_sec":${fmt(annBatchSec, 2)},""" +
        s""""batch_pairs":$annBatchPairs,"incr_round2_sec":${fmt(annIncrSec, 2)},""" +
        s""""incr_pairs":$annIncrPairs,""" +
        s""""incr_small_delta_sec":${fmt(annSmallSec, 2)},""" +
        s""""incr_small_delta_pairs":$annSmallPairs,""" +
        s""""steal_pct":${fmt(annSteal, 2)}},""" +
        s""""cc_at_scale":{"nodes":$nNodes,"edges":$ccEdges,""" +
        s""""components":$ccComponents,"rounds":$ccRounds,""" +
        s""""sec":${fmt(ccSec, 2)},"steal_pct":${fmt(ccSteal, 2)}},""" +
        s""""cc_at_scale_rounds":${ccTrace.map(r =>
          s"""{"round":${r.round},"edges":${r.edges},"sec":${fmt(r.seconds, 3)}}""")
          .mkString("[", ",", "]")},""" +
        s""""hygiene_at_scale":{"docs":$hygDocs,"bench_items":$nBench,""" +
        s""""decon_sec":${fmt(deconSec, 2)},"contaminated":$nContam,""" +
        s""""chunk_index_sec":${fmt(chunkSec, 2)},"chunks":$nChunks,""" +
        s""""steal_pct":${fmt(hygSteal, 2)}}}""")
  }
}
