package graft.sched

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.UrlCanon
import graft.fetch.{Fetcher, FetcherFactory, SimulatedFetcherFactory}
import graft.model._
import graft.parse.HtmlSpans
import graft.polite.Robots
import graft.seen.{BloomFilter, SeenIndex}
import graft.store.{FrontierStore, Snapshots}
import graft.synthweb.{SyntheticWeb, WebConfig}

/** Crawl configuration. Defaults are sandbox-scale; every knob is
  * size-parametric so the same code runs a 10^10-URL frontier (bigger
  * bloom, more buckets/salts, higher budgets) without code changes.
  */
final case class CrawlConfig(
    web: WebConfig = WebConfig(),
    outDir: String,
    maxRounds: Int = 64,
    maxAttempts: Int = 3, // retry-unless-404 cap (olx_c226/main.go:188-193)
    salts: Int = 8, // hot-host spread factor for phase-A selection
    nBuckets: Int = 32, // host-hash buckets for filter shards + lineage
    frontierBuckets: Int = 32, // url-hash buckets for frontier storage
    hostCapacity: Double = 8.0, // politeness token bucket capacity
    hostRefill: Double = 8.0, // tokens refilled per scheduling round
    bloomBits: Int = 1 << 21, // TOTAL bloom bits (sharded across buckets)
    compactEvery: Int = 8, // segment cadence: index and frontier segments merge every compactEvery rounds
    simulateLatency: Boolean = false,
    // opt-in rank-informed frontier priority: round k's cumulative link
    // graph feeds round k+1's sort key (deterministic integer PageRank —
    // see the candRanked step); off by default (discovery-order crawl)
    rankPriority: Boolean = false,
    // transport plug point (ST4): the default crawls the deterministic
    // synthetic web in-process; HttpFetcherFactory swaps in real HTTP
    // against a loopback SynthWebServer gateway — same fetch log
    // bit-for-bit (RealTransportSpec)
    fetcher: FetcherFactory = SimulatedFetcherFactory
) {
  /** Per-bucket bloom shard size; constant across rounds so shards stay
    * mergeable/incrementable.
    */
  def bloomShardBits: Int = math.max(1 << 14, bloomBits / nBuckets)

  /** Hash functions of a new bloom shard: the constant
    * [[CrawlScheduler.BloomHashes]], not a knob.
    */
  def bloomHashes: Int = CrawlScheduler.BloomHashes
}

final case class RoundResult(round: Int, selected: Long, fetchedOk: Long,
                             newUrls: Long, frontierLeft: Long, done: Boolean)

/** The Spark-native crawl frontier + fetch scheduler (BASELINE.json
  * north rule). One scheduling round:
  *
  * {{{
  * frontier + each host's robots rule and budget, replicated per salt ──▶
  *   phase A: per (host, salt): exchange, sort (host rows first), one
  *            pass: robots gate (Robots.allowed; blocked hashes out to
  *            the frontier update), first `budget` allowed rows
  *   phase B: per host: exchange, sort, first `budget` rows, seq 1..budget
  * ──repartition (round-robin)──▶ fetch+parse (one mapPartitions:
  *   Fetcher, then HtmlSpans/Robots on the body IN the fetch task —
  *   raw HTML never persists) ─▶ fetch_log / docs / robots / links
  * links ─▶ canonicalize ─▶ reduce by url_hash (+ robots.txt of new
  *       hosts) ─▶ bloom-shard tier
  *       ─▶ one bucket-keyed pass over the bloom positives: exact
  *          per-bucket seen-index LSM segments (SeenIndex — the
  *          10^10-row seen table never shuffles)
  * host_state: one host-keyed cogroup (state, selected count, new hosts)
  * frontier update: delta rows (fetched/blocked/selected hashes,
  *          retries, surviving candidates) ─▶ one task per touched
  *          url_hash bucket ─▶ exact exclusion + bucket-file rewrite
  * commit: frontier bucket files, seen Δ, docs, host_state',
  *         robots', fetch_log, filter shards — one atomic manifest
  * }}}
  *
  * Determinism: selection order is fully defined by
  * (priority, discovery_time, url_hash) per host and the token-bucket
  * budget, so a parallel run equals the sequential oracle
  * ([[graft.oracle.CrawlOracle]]) on fetch log, seen set and docs.
  *
  * Scale design notes (the parts that survive 1000×):
  *   - phase A spreads a hot host over `salts` groups (the reference's
  *     measured ~17× facet skew, olx_c226/main.go:20, is the motivating
  *     case) and streams each group's sorted run, keeping its first
  *     `budget` rows — memory is the sorter's (spillable), never a
  *     group buffer; phase B sees ≤ salts×budget rows per host. The
  *     host tables (robots rules, budgets) join no frontier table: each
  *     host's rows ride phase A's own exchange, one copy per salt, and
  *     sort ahead of that salt's frontier rows — O(hosts × salts) extra
  *     rows against the O(frontier) rows already shuffled (hosts are
  *     ~URLs/10^3 on the web), the same plan at any host count.
  *   - the seen set is never collected: per-bucket bloom shards (checked
  *     map-side, no shuffle, loaded lazily per executor from the
  *     snapshot store via [[FilterShardCache]]) pass definite-new
  *     candidates cheaply; only possible-positives reach the exact
  *     per-bucket seen index, loaded from the same store by one task
  *     per bucket — the seen TABLE itself is storage-only state (it
  *     feeds revocation and audits) and never crosses a shuffle during
  *     a round. Shards are keyed
  *     by host_hash bucket — at 10^10 URLs no filter bytes ever move
  *     through the driver or a whole-map broadcast: each task reads
  *     exactly the bucket shards it touches, and shard maintenance
  *     writes each updated bucket's files from the executor that owns
  *     the group. Untouched buckets stay referenced at their
  *     last-written round in the manifest (no copy-forward).
  *   - driver-side fixed cost per round is capped: the round plans
  *     Catalyst queries only for its parquet writes and state-table
  *     reads (selection and the fetches are RDD passes that run as
  *     stages of the fetch-log write's one job, with no optimizer,
  *     adaptive re-planning or Dataset-to-RDD conversion between
  *     them); all per-round counters ride as `Observation` metrics on
  *     the commit writes (zero extra jobs); the independent commit
  *     writes of one round run as concurrent Spark jobs so the round's
  *     fixed cost is the longest single write, not the sum. Fat rounds
  *     amortize the remaining constant — the same argument that makes
  *     round scheduling viable on a 1000-executor cluster.
  *   - a round whose frontier holds no robots.txt entries (tracked in
  *     the manifest counters) skips the robots-prefetch sub-step's jobs
  *     entirely — in steady state only discovery rounds pay it.
  *   - all state tables round-trip through storage each round, which
  *     truncates lineage (no ever-growing DAG) and is the checkpoint.
  *   - the frontier is hash-bucketed by url_hash into binary LSM
  *     segment stacks ([[graft.store.FrontierStore]], manifest-tracked
  *     like the seen-index segments). Candidate exclusion is NOT a
  *     join: removals (fetched/blocked/selected hashes) and additions
  *     (retries, tier-surviving candidates) shuffle — delta-sized rows
  *     only — to one update task per touched bucket, which streams its
  *     bucket's merged segment view, applies the delta with exact set
  *     semantics, and appends ONE delta segment (entries + tombstones);
  *     segments compact to a full base on the compactEvery cadence.
  *     The frontier itself never crosses a shuffle, and the per-round
  *     WRITE is O(|delta|) records, not O(touched-bucket size): at a
  *     10^10-entry frontier a drain-phase round writes only the
  *     handful of records its deltas produce.
  *   - the seen table is per-round deltas over a base that only
  *     `revoke` writes (deduplicated by url_hash, latest round wins): a
  *     round writes its delta and never folds the table, since no round
  *     reads it. The per-bucket exact indexes are LSM: each round
  *     appends a delta-only segment; segments merge every `compactEvery`
  *     rounds — per-round index maintenance writes O(|delta|) bytes, not
  *     O(|seen|).
  *
  * Codegen budget: Spark compiles a round's generated classes (whole-
  * stage pipelines, projections, cached-table readers, orderings) with
  * Janino into one JVM-wide cache that holds 100 entries by default,
  * split into 4 LRU segments of 25. An entry is keyed by the code AND
  * the compiling thread's class loader: a whole-stage class is compiled
  * once on the driver and once under the tasks' loader, and its name
  * carries the plan's codegen stage id, so one operator in another plan
  * position is another entry. When a round touches more entries than a
  * segment holds, the round evicts its own classes and compiles all of
  * them again every round — and the JIT compiles the fresh classes'
  * hot methods again after it. On the benchmark's crawl (16 hosts,
  * 1,024 pages a round) round 5 touched 149 entries with seven typed
  * groupings and ten persisted Datasets, 55 once the passes after the
  * fetch became RDD passes, and touches 21 in this layout (8 whole-
  * stage stages, each twice, and 5 projections); steady rounds compile
  * nothing. So every new Dataset stage in a round costs about two
  * entries, a new persisted Dataset a cache reader besides, and a
  * typed map or groupByKey several (the typed bodies are the largest
  * classes). The round works on RDDs of the model's case classes from
  * the frontier read on: selection and the grouped passes shuffle with
  * no generated code, the generated classes are the parquet writes'
  * and the two state-table reads', and every job of the round runs as
  * a Spark SQL job so that all tasks compile under one loader (see
  * `collectInSqlJob`).
  */
final class CrawlScheduler(spark: SparkSession, cfg: CrawlConfig) {
  import spark.implicits._
  import CrawlScheduler._

  private val snaps = new Snapshots(cfg.outDir)

  private def readT[T: Encoder](paths: String*): Dataset[T] =
    spark.read.schema(implicitly[Encoder[T]].schema).parquet(paths: _*).as[T]

  // ------------------------------------------------------------------
  // round 0: seed
  // ------------------------------------------------------------------
  def init(): Unit = {
    val seeds = cfg.web.seedUrls.zipWithIndex.map { case (u, i) =>
      Fetcher.entryOf(u, SyntheticWeb.priorityOf(u), i.toLong, 0, 0, cfg.salts)
    }
    val robotsSeeds = seeds.map(_.host).distinct.zipWithIndex.map { case (h, i) =>
      Fetcher.entryOf(s"https://$h/robots.txt", 0, i.toLong, 0, 0, cfg.salts)
    }
    val frontier = (robotsSeeds ++ seeds).distinctBy(_.url_hash)
    val hosts = frontier.map(_.host).distinct
    val hostState = hosts.map(h =>
      HostState(h, UrlCanon.hostHash(h), 0.0, cfg.hostCapacity, cfg.hostRefill))

    // frontier: per-bucket binary files (driver-side here — seed lists
    // are small by definition; per-round updates are executor-side)
    val byFb = frontier.groupBy(e => fbucketOf(e.url_hash, cfg.frontierBuckets))
    byFb.foreach { case (fb, es) =>
      FrontierStore.write(cfg.outDir, 0, fb, es.toArray)
    }
    hostState.toDS().write.mode("overwrite").parquet(snaps.tablePath(0, "host_state"))
    spark.emptyDataset[RobotsRule].write.mode("overwrite").parquet(snaps.tablePath(0, "robots"))
    spark.emptyDataset[SeenEntry].write.mode("overwrite").parquet(snaps.tablePath(0, "seen_delta"))
    snaps.writeManifest(Snapshots.Manifest(
      round = 0, parentRound = -1,
      tables = Map(
        "host_state" -> snaps.tablePath(0, "host_state"),
        "robots" -> snaps.tablePath(0, "robots")),
      seenFullRound = -1, filterRounds = Map.empty, seenIndexSegs = Map.empty,
      frontierSegs = byFb.keys.map(_ -> Seq(0)).toMap,
      frontierCounts = byFb.map { case (fb, es) => fb -> es.size.toLong },
      frontierPri0 = byFb.map { case (fb, es) =>
        fb -> es.count(_.priority == 0).toLong },
      counters = Map(
        "frontier" -> frontier.size.toLong,
        "frontier_pri0" -> frontier.count(_.priority == 0).toLong,
        "hosts" -> hostState.size.toLong,
        "cfg_n_buckets" -> cfg.nBuckets.toLong,
        "cfg_frontier_buckets" -> cfg.frontierBuckets.toLong),
      done = false))
  }

  /** Structural-config guard: the bucket counts are baked into every
    * shard/index/frontier file's key space — resuming a checkpoint with
    * different values would route deltas to the wrong buckets (silent
    * dedup loss and frontier corruption). Fail fast instead.
    */
  private def requireStructuralConfig(m: Snapshots.Manifest): Unit = {
    def chk(key: String, want: Long): Unit =
      m.counters.get(key).foreach { have =>
        if (have != want)
          throw new IllegalStateException(
            s"checkpoint was written with $key=$have but this config has " +
              s"$want — bucket layouts are incompatible; resume with the " +
              "original value")
      }
    chk("cfg_n_buckets", cfg.nBuckets.toLong)
    chk("cfg_frontier_buckets", cfg.frontierBuckets.toLong)
  }

  /** Manifest invariant: a bucket with exact index segments has a bloom
    * shard, since the pass that appends a bucket's segment writes its
    * shard. A bucket without one would start from an empty filter that
    * misses its old hashes and later call seen URLs definitely new, so
    * the round fails instead.
    */
  private def requireShardPerIndexedBucket(m: Snapshots.Manifest): Unit =
    m.seenIndexSegs.keys.toSeq.sorted.find(!m.filterRounds.contains(_)).foreach { b =>
      throw new IllegalStateException(
        s"checkpoint round ${m.round}: bucket $b has seen-index segments but no " +
          "bloom shard in the manifest's filterRounds; the checkpoint is damaged")
    }

  // ------------------------------------------------------------------
  // one scheduling round
  // ------------------------------------------------------------------
  /** Runs round `r` and commits it. Every job the round submits carries a
    * `crawl r<r>: <phase>` description; when the round returns or throws,
    * its caches are released and the calling thread's own job description
    * is restored.
    */
  def runRound(r: Int): RoundResult = {
    val sc = spark.sparkContext
    val callerDesc = sc.getLocalProperty(JobDescription)
    val rdds = mutable.ArrayBuffer.empty[RDD[_]]
    try roundAt(r, rdds)
    finally {
      rdds.foreach(_.unpersist(false))
      sc.setLocalProperty(JobDescription, callerDesc)
    }
  }

  /** One round; every cache it takes is recorded in `rdds`. */
  private def roundAt(r: Int, rdds: mutable.Buffer[RDD[_]]): RoundResult = {
    val sc = spark.sparkContext
    val nb = cfg.nBuckets
    val nFb = cfg.frontierBuckets
    val m = snaps.readManifest(r - 1)
    requireStructuralConfig(m)
    requireShardPerIndexedBucket(m)
    // state-table write parallelism: sized from last round's row counts
    // (manifest lineage), NOT from core count — a 32-core session must
    // not write 32 tiny files per round and re-read them as 32 tasks,
    // nor funnel a fat round's docs through one task. ~4k rows/file
    // (docs rows carry span arrays, so this is ~10-20 MB files).
    val statePar = math.max(1L, math.min(
      sc.defaultParallelism.toLong,
      m.counters.getOrElse("frontier", 64L) / 4096L + 1L)).toInt
    val root = cfg.outDir
    val par = sc.defaultParallelism
    val web = cfg.web
    val simLat = cfg.simulateLatency
    val mkFetcher = cfg.fetcher // small factory in the closure, not a client
    val maxAtt = cfg.maxAttempts
    val salts = cfg.salts
    // serialized: a deserialized cache pays Spark's size estimate, a walk
    // of every cached object graph, on each block it stores
    def keep[T](rdd: RDD[T]): RDD[T] = { rdds += rdd; rdd.persist(StorageLevel.MEMORY_AND_DISK_SER) }

    // frontier: distributed read of the per-bucket binary files the
    // manifest references (one flatMap per bucket, executor-side,
    // fail-closed — see FrontierStore); streamed k-way newest-wins merge
    // of each bucket's LSM segment stack, O(#segments) buffered heads
    val frontierSegs = m.frontierSegs
    val frontier: RDD[FrontierEntry] = sc
      .parallelize(frontierSegs.toSeq.sortBy(_._1),
                   math.min(frontierSegs.size.max(1), par))
      .flatMap { case (fb, segs) => FrontierStore.iterateMergedRequired(root, fb, segs) }
    val robots = readT[RobotsRule](m.tables("robots")).rdd
    val hostState = readT[HostState](m.tables("host_state")).rdd
    // shard locations: bucket -> round whose files are current. Tasks
    // read exactly the bucket shards they touch from the snapshot store;
    // no filter bytes move through the driver or a broadcast.
    val filterRounds = m.filterRounds
    val seenIdxSegs = m.seenIndexSegs

    // -- robots prefetch sub-step ----------------------------------------
    // priority-0 (robots.txt) entries are fetched unconditionally at the
    // start of the round: a host becomes crawlable the same round it is
    // discovered, and robots fetches are budget-exempt (at most one tiny
    // fetch per host — standard crawler practice). They log at seq 0;
    // budgeted fetches start at seq 1. Rounds whose frontier provably
    // holds no priority-0 entries (manifest counter) skip the sub-step
    // entirely — a pure no-op elision, identical results. Only then does
    // the frontier have two consumers, so only then is it cached.
    // Fetch stages are FUSED with parsing: the page body is turned into
    // spans/links (content) or disallow prefixes (robots.txt) inside
    // the same task that fetched it, and only the slim FetchOut row is
    // ever persisted. Raw HTML never enters a round cache — at a 10^7-
    // page round the body cache alone exceeded executor storage and
    // pushed the round into spill I/O (measured: ~1.9x per-page cost at
    // 9M pages vs 1M before this fusion).
    val hasPri0 = !m.counters.get("frontier_pri0").contains(0L)
    val robotsFetched: Option[RDD[FetchOut]] =
      if (!hasPri0) None
      else Some(keep(keep(frontier).filter(_.priority == 0)
        .repartition(par)
        .mapPartitions { it =>
          val f = mkFetcher.create(web, simLat)
          it.map { e =>
            val fr = f.fetch(e)
            val pre =
              if (fr.status == 200) Robots.parse(fr.host, fr.body).disallow_prefixes
              else Nil
            FetchOut(r, fr.url, fr.url_hash, fr.host, UrlCanon.hostHash(fr.host),
                     fr.status, 0, fr.attempt, fr.priority, fr.discovery_time,
                     "robots", Nil, Nil, pre)
          }
        }))
    val rest = if (hasPri0) frontier.filter(_.priority != 0) else frontier

    // rules learned from this round's robots fetches: 200 => parsed
    // (inline in the fetch task); 404 or retry-exhausted => allow-all
    // (colly's permissive default)
    val robotsAll: RDD[RobotsRule] = robotsFetched match {
      case None => robots
      case Some(rf) =>
        val newRobots = rf.flatMap { o =>
          if (o.status == 200) Some(RobotsRule(o.host, o.robots_prefixes))
          else if (o.status == 404 || o.attempt + 1 > maxAtt) Some(RobotsRule(o.host, Nil))
          else None
        }
        // first-fetch-wins, DETERMINISTICALLY: a host already holding a
        // rule keeps it (the sequential oracle's `if (!robots.contains)`
        // update). Keeping an arbitrary row per host here would make a
        // re-fetched robots.txt (revoke-reseed) that collides with the
        // stored rule a partition-order race on the one table that
        // gates every fetch. Refreshing a stale rule is an
        // administrative revocation concern, not a crawl-round one.
        (robots.map(rr => (rr.host, (0, rr))) ++ newRobots.map(rr => (rr.host, (1, rr))))
          .reduceByKey((a, b) => if (a._1 <= b._1) a else b, par)
          .map(_._2._2)
    }

    // -- robots gate, budgets and phase A: one sorted-run pass ----------
    // Each host's robots rule and token-bucket budget are replicated to
    // each of its `salts` runs and travel through phase A's own exchange,
    // keyed by (host, salt), sorted ahead of that host's frontier rows:
    // O(hosts x salts) extra rows against the O(frontier) rows that
    // shuffle anyway. The pass
    // (gateRuns) drops the rows of hosts whose rules are unknown (they
    // wait in the frontier), emits the disallowed rows' hashes for the
    // frontier update, and keeps the first `budget` allowed rows of each
    // run in entryOrd order. Memory is the sorter's (spillable), never a
    // group buffer. A salt is reduced mod `salts`, so a checkpoint
    // stamped under another salt count still meets its host's rows.
    def perSalt[T](mk: Int => T): Seq[T] = (0 until salts).map(mk)
    val gateRows: RDD[GateRow] = sc.union(
      robotsAll.flatMap(rr => perSalt(HostRule(rr.host, _, rr.disallow_prefixes))),
      hostState.flatMap { h =>
        val budget = math.floor(math.min(h.capacity, h.tokens + h.refill_per_round)).toInt
        perSalt(HostBudget(h.host, _, budget))
      },
      rest.map(e => Pending(e, e.salt % salts)))
    // the phase A survivors (Right) and the disallowed hashes (Left);
    // cached: phase B reads the survivors, the frontier update the rest
    val phaseA = keep(sortedRuns(gateRows, par)(g => (g.host, g.salt))(gateOrd)
      .mapPartitions(gateRuns))

    // -- phase B: per host, the first `budget` of the <= salts x budget
    // phase A survivors, numbered seq 1..budget ------------------------
    val selected = sortedRuns(phaseA.flatMap(_.toOption), par)(_.e.host)(hostEntryOrd)
      .mapPartitions(it => headsOfRuns(it)(_.e.host).map { case (w, i) => SelectedE(w.e, i) })

    // -- fetch+parse (round-robin repartition: politeness already
    // enforced; the body is parsed to spans/links in the fetch task and
    // dropped — see the fusion note at the robots prefetch) -------------
    val mainRdd: RDD[FetchOut] = keep(selected
      .repartition(par)
      .mapPartitions { it =>
        val f = mkFetcher.create(web, simLat)
        it.map { s =>
          val fr = f.fetch(s.e)
          val hh = UrlCanon.hostHash(fr.host)
          if (fr.status == 200) {
            val p = HtmlSpans.parse(fr.url, fr.body)
            FetchOut(r, fr.url, fr.url_hash, fr.host, hh, fr.status, s.seq,
                     fr.attempt, fr.priority, fr.discovery_time,
                     SyntheticWeb.kindOf(fr.url), p.spans, p.links, Nil)
          } else
            FetchOut(r, fr.url, fr.url_hash, fr.host, hh, fr.status, s.seq,
                     fr.attempt, fr.priority, fr.discovery_time,
                     SyntheticWeb.kindOf(fr.url), Nil, Nil, Nil)
        }
      })
    val fetchedRdd = robotsFetched.fold(mainRdd)(_ ++ mainRdd)

    // -- commit step 1: fetch log (per-round counters ride the writes as
    // Observations). Its one job runs the robots fetches, the gate,
    // selection and the main fetches, fills the round's caches, and its
    // metrics gate the conditional writes below. Log rows narrow to
    // `statePar` files through a shuffle, so the fetches keep their
    // parallelism. The remaining commit writes are independent of each
    // other, so they run as CONCURRENT Spark jobs — the round's fixed
    // commit cost is the longest single write, not the sum of six
    // sequential launches.
    val logRows = fetchedRdd.map(o =>
      LogRow(o.round, o.host, o.host_hash, o.seq, o.url, o.url_hash, o.status, o.spans.size))
    val obsLog = Observation()
    sc.setJobDescription(s"crawl r$r: fetch+log")
    spark.createDataset(
        if (logRows.getNumPartitions > statePar) logRows.repartition(statePar) else logRows)
      .observe(obsLog,
               count(lit(1)).as("n"),
               coalesce(sum(when(col("status") === 200, 1L).otherwise(0L)), lit(0L))
                 .as("ok"),
               coalesce(sum(when(col("seq") === 0, 1L).otherwise(0L)), lit(0L))
                 .as("n_robots"),
               coalesce(sum(when(col("seq") > 0 && col("status") === 200, 1L)
                 .otherwise(0L)), lit(0L)).as("ok_main"),
               coalesce(sum(col("spans")), lit(0L)).as("spans"))
      .select(col("round"), col("host"), col("host_hash"), col("seq"),
              col("url"), col("url_hash"), col("status"))
      .write.mode("overwrite").parquet(snaps.tablePath(r, "fetch_log"))
    def obsL(o: Observation, k: String): Long = o.get(k).asInstanceOf[Long]
    val okMain = obsL(obsLog, "ok_main")
    val nRobots = obsL(obsLog, "n_robots")

    // -- everything after the fetches reads the one cached fetch output
    // as RDDs of the model's case classes: the grouped passes below
    // shuffle rows to one task per key and generate no classes (see
    // "Codegen budget" in the class doc)
    val pageOuts = mainRdd.filter(_.status == 200)
    val retries = fetchedRdd
      .filter(o => o.status != 200 && o.status != 404 && o.attempt + 1 <= maxAtt)
      .map { o =>
        FrontierEntry(o.url, o.url_hash, o.host, o.host_hash,
                      UrlCanon.saltOf(o.url_hash, salts), o.priority,
                      o.discovery_time, o.attempt + 1, r)
      }
    // seen delta: 200/404 resolve at once, retryable errors once their
    // attempts are exhausted (tombstoned 599)
    val seenDelta = keep(fetchedRdd.flatMap { o =>
      if (o.status == 200 || o.status == 404) Some(SeenEntry(o.url_hash, o.host_hash, o.status, r))
      else if (o.attempt + 1 > maxAtt) Some(SeenEntry(o.url_hash, o.host_hash, 599, r))
      else None
    })

    // -- new candidates from discovered links ---------------------------
    // one row per url_hash, deterministic min by (priority, discovery_time)
    val candDedup = pageOuts
      .flatMap { p =>
        p.links.zipWithIndex.map { case (u, i) =>
          val canon = UrlCanon.canonicalize(u)
          Fetcher.entryOf(canon, SyntheticWeb.priorityOf(canon),
                          r.toLong * 1000000L + i, 0, r, salts)
        }
      }
      .keyBy(_.url_hash)
      .reduceByKey((a, b) => if (entryOrd.lteq(a, b)) a else b, par)
      .values

    // -- opt-in rank-informed priority (north-rule stretch): the link
    // graph accumulated through THIS round feeds the priority stamp of
    // the candidates it discovered, i.e. round k's ranks order round
    // k+1's selection. Edges are skinny (60-bit nid pairs), persisted
    // one slot per round (overwrite => a replayed round is idempotent,
    // same contract as the other per-round state), and the rank is
    // integer fixed-point PageRank — bit-equal to the sequential
    // oracle's recomputation at any parallelism, so crawl parity is
    // preserved by determinism, not by luck. Restamping AFTER candDedup
    // is exact: duplicates of one url_hash share the class and the dst
    // node, hence the stamped priority. Cost when enabled: one PR pass
    // per round over the cumulative edge set (O(edges) per iteration;
    // a 100 TB deployment would re-rank on a cadence instead — same
    // dial as the IVF retrainEvery).
    val candRanked: RDD[FrontierEntry] =
      if (!cfg.rankPriority) candDedup
      else {
        val edgesDir = s"${cfg.outDir}/rank_edges"
        spark.createDataset(pageOuts.flatMap { p =>
          val src = nidOf(p.url_hash)
          p.links.map { u =>
            (src, nidOf(UrlCanon.urlHash(UrlCanon.canonicalize(u))))
          }
        }).toDF("src", "dst")
          .write.mode("overwrite").parquet(s"$edgesDir/r$r")
        // rank_edges slots are written by runRound ONLY: a revoke()
        // commit advances the round counter without one, and an
        // all-empty round writes a part-file-less dir that defeats
        // schema inference — so resume reads the slots that exist,
        // with the schema stated (a missing slot holds zero edges by
        // construction: no fetches happened in that round)
        val fs = new org.apache.hadoop.fs.Path(edgesDir)
          .getFileSystem(sc.hadoopConfiguration)
        val slotPaths = (1 to r)
          .map(j => s"$edgesDir/r$j")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        val all =
          if (slotPaths.isEmpty)
            spark.range(0).select(col("id").as("src"), col("id").as("dst"))
          else
            spark.read
              .schema("src BIGINT, dst BIGINT")
              .parquet(slotPaths: _*)
        val ranks =
          if (all.isEmpty)
            spark.range(0).select(col("id").as("node"), col("id").as("rank"))
          else graft.ops.PageRank.ranks(all, RankIters)
        // max-relative bucket (rankedPriority): integer max over the
        // rank table — one driver-scale scalar, exact at any parallelism
        val maxRank = ranks.agg(max(col("rank"))).head() match {
          case row if row.isNullAt(0) => 0L
          case row                    => row.getLong(0)
        }
        spark.createDataset(candDedup).toDF()
          .withColumn("nid",
            conv(substring(col("url_hash"), 1, 15), 16, 10).cast("long"))
          .join(ranks.withColumnRenamed("node", "nid"), Seq("nid"), "left")
          // long floor division end to end — no floating point in the
          // ordering path; exactly rankedPriority's arithmetic
          .withColumn("priority",
            (if (maxRank <= 0L) (col("priority") * 4096 + lit(4095)).cast("int")
             else (col("priority") * lit(4096L) +
               expr(s"(($maxRank" + s"L - coalesce(rank, 0L)) * 4095L) div " +
                    s"$maxRank" + "L")).cast("int")))
          .select(col("url"), col("url_hash"), col("host"), col("host_hash"),
                  col("salt"), col("priority"), col("discovery_time"),
                  col("attempt"), col("round"))
          .as[FrontierEntry].rdd
      }

    // -- host state and host discovery: one cogroup per host of its
    // state row, this round's selected count and whether a candidate
    // names it. Every seen URL was fetched, so its host has a host_state
    // row: a host without one has no seen candidate, and the pre-tier
    // candidates' hosts minus host_state are exactly the new hosts the
    // seen-free candidates bring. A host enters host_state in the round
    // its robots.txt enters the frontier, and that entry stays pending
    // (old row, or a retry) until a fetch resolves it into a robots rule
    // — so a candidate host already in host_state either has a rule or
    // a pending robots.txt that would reject a second one. The new
    // hosts' robots.txt entries therefore are all the robots candidates
    // the round needs; they join the content candidates in ONE seen-tier
    // pass (the constant discovery_time r*1e6 is tie-broken by url_hash).
    val capD = cfg.hostCapacity
    val refD = cfg.hostRefill
    val perHost = hostState.keyBy(_.host).cogroup(
      mainRdd.map(o => (o.host, 1L)).reduceByKey(_ + _, par),
      candDedup.map(e => (e.host, ())).reduceByKey((a, _) => a, par),
      par)
    val newHosts = perHost.flatMap { case (h, (state, _, cand)) =>
      if (state.isEmpty && cand.nonEmpty) Some(h) else None
    }
    val robotsCand = newHosts.map(h =>
      Fetcher.entryOf(s"https://$h/robots.txt", 0, r.toLong * 1000000L, 0, r, salts))
    val hostStateAll = perHost.flatMap { case (_, (state, selCount, _)) =>
      state.map(s => s.copy(tokens =
        math.min(s.capacity, s.tokens + s.refill_per_round) - selCount.sum.toDouble))
    } ++ newHosts.map(h => HostState(h, UrlCanon.hostHash(h), 0.0, capD, refD))

    // two-tier seen check over the content candidates AND the
    // robots.txt entries of newly-discovered hosts. tier 1: bloom shard
    // of the candidate's bucket, checked MAP-SIDE (no shuffle): a miss
    // is definitely new; a missing shard => maybe (exact tier resolves).
    // Shards load lazily per executor (FilterShardCache) from the
    // snapshot store — only buckets this task actually touches. tier 2
    // in ONE bucket-keyed pass: possible-positives shuffle once and the
    // group task loads its bucket's EXACT seen-index LSM segments,
    // probed newest-first. The persisted 10^10-row seen table never
    // moves through a shuffle.
    val tiered = keep((candRanked ++ robotsCand).mapPartitions { it =>
      // task-local memo: one validated cache lookup per bucket per task
      val local = mutable.Map.empty[Int, Option[BloomFilter]]
      it.map { c =>
        val b = bucketOf(c.host_hash, nb)
        val bf = local.getOrElseUpdate(
          b, filterRounds.get(b).flatMap(fr => FilterShardCache.bloom(root, fr, b)))
        (c, bf.forall(_.mightContain(c.url_hash)))
      }
    })
    val exactNew = byBucket(tiered.filter(_._2).map(_._1))(c => bucketOf(c.host_hash, nb))
      .flatMap { case (b, cs) =>
        // manifest-absent bucket = never had a seen entry (empty IS
        // exact); manifest-present-but-unreadable segment = FAIL the
        // round (requiredBytesAt) — defaulting to empty would
        // reclassify seen URLs as new, permanent dedup loss
        val segs = seenIdxSegs.getOrElse(b, Nil).reverse
          .map(ir => SeenIndex.deserialize(
            Snapshots.requiredBytesAt(Snapshots.seenIndexPathAt(root, ir, b))))
        cs.filter(c => !segs.exists(_.contains(c.url_hash)))
      }
    val candAll = tiered.filter(!_._2).map(_._1) ++ exactNew

    // -- frontier delta (the bucketed update replaces the old exclusion
    // anti-joins AND the full-frontier rewrite; see the class doc) -----
    // ops: 1 = remove fetched robots row, 2 = remove blocked row,
    //      3 = remove selected row (its hash STAYS in the exclusion
    //      membership set — a re-discovered just-fetched URL must not
    //      re-enter), 4 = add retry (forced), 5 = add candidate (only
    //      if its hash is unknown to the updated membership set).
    // Every selected row was fetched exactly once, so the selected
    // hashes are the main fetch output's.
    val blockedHashes = phaseA.flatMap(_.left.toOption)
    val frontierUpd = sc.union(
      robotsFetched.map(_.map(o => FUpd(1, o.url_hash, None))).toSeq ++ Seq(
        blockedHashes.map(h => FUpd(2, h, None)),
        mainRdd.map(o => FUpd(3, o.url_hash, None)),
        retries.map(e => FUpd(4, e.url_hash, Some(e))),
        candAll.map(e => FUpd(5, e.url_hash, Some(e)))))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = commitEc

    val docsF = Future {
      sc.setJobDescription(s"crawl r$r: docs write")
      if (okMain > 0)
        spark.createDataset(pageOuts.map(p => Doc(p.url_hash, p.url, p.host, r, p.spans)))
          .coalesce(statePar)
          .write.mode("overwrite").parquet(snaps.tablePath(r, "docs"))
    }
    val seenF = Future {
      sc.setJobDescription(s"crawl r$r: seen write")
      spark.createDataset(seenDelta)
        .coalesce(statePar)
        .write.mode("overwrite").parquet(snaps.tablePath(r, "seen_delta"))
    }
    // frontier bucket update: ONE group task per TOUCHED bucket streams
    // the bucket's merged LSM segment stack through a sorted merge
    // against the round's delta and appends ONE new segment
    // executor-side (atomic rename => retry-safe; segment bytes are a
    // pure function of the delta => speculative duplicates are
    // idempotent). Normally the segment holds only the round's DELTA —
    // entry records for retries/accepted candidates, tombstones for
    // removals — so write cost is O(delta); once the bucket's stack
    // reaches compactEvery segments the task writes the full surviving
    // set instead (a compacted base, resetting the stack). Task memory
    // is O(this bucket's DELTA) — removal hash sets plus sorted
    // retry/candidate buffers; the bucket's STATE only ever streams, so
    // bucket size is bounded by disk, not executor heap. Only
    // nFb-bounded stat rows reach the driver.
    //
    // Exact set semantics per distinct url_hash (see FUpd op table):
    //   output  = retry | (old if !remBoth && !selected) | first-accepted
    //             candidate — mutually exclusive by construction
    //   E-membership (candidate exclusion) = retry present, or old
    //             present && !remBoth (selected rows STAY members)
    // Delta-segment records realizing it: retry => ENTRY (replaces old);
    // old removed with an accepted candidate => ENTRY(candidate)
    // (replacement, no tombstone needed); old removed otherwise =>
    // TOMBSTONE; old surviving untouched => no record; accepted
    // candidate on an absent hash => ENTRY.
    val fCompactEvery = cfg.compactEvery
    val frontF = Future {
      sc.setJobDescription(s"crawl r$r: frontier update")
      collectInSqlJob(byBucket(frontierUpd)(u => fbucketOf(u.hash, nFb))
        .map { case (fb, us) =>
          val remBoth = mutable.HashSet.empty[String]
          val selSet = mutable.HashSet.empty[String]
          val retriesB = mutable.ArrayBuffer.empty[FrontierEntry]
          val candsB = mutable.ArrayBuffer.empty[FrontierEntry]
          var nBlockedRemoved = 0L
          us.foreach { u =>
            u.op match {
              case 1 => remBoth += u.hash
              case 2 => remBoth += u.hash; nBlockedRemoved += 1
              case 3 => selSet += u.hash
              case 4 => retriesB += u.e.get
              case _ => candsB += u.e.get
            }
          }
          // candidate sort (url_hash, then selection order) makes the
          // per-hash winner the entryOrd-minimum — deterministic
          val retIt = retriesB.sortInPlace()(Ordering.by((e: FrontierEntry) =>
            e.url_hash)).iterator.buffered
          val candIt = candsB.sortInPlace()(Ordering.by((e: FrontierEntry) =>
            (e.url_hash, e.priority, e.discovery_time))).iterator.buffered
          val segRounds = frontierSegs.getOrElse(fb, Nil)
          val oldIt = FrontierStore.iterateMergedRequired(root, fb, segRounds)
            .buffered
          val compact = segRounds.size + 1 >= fCompactEvery
          val w = FrontierStore.writer(root, r, fb)
          var n = 0L
          var nNew = 0L
          var nPri0 = 0L
          // logical survivor (counts always; bytes only when compacting)
          def emit(e: FrontierEntry, delta: Boolean): Unit = {
            if (compact || delta) w.add(e)
            n += 1; if (e.priority == 0) nPri0 += 1
          }
          while (oldIt.hasNext || retIt.hasNext || candIt.hasNext) {
            var h: String = null
            if (oldIt.hasNext) h = oldIt.head.url_hash
            if (retIt.hasNext && (h == null || retIt.head.url_hash < h))
              h = retIt.head.url_hash
            if (candIt.hasNext && (h == null || candIt.head.url_hash < h))
              h = candIt.head.url_hash
            var retryE: FrontierEntry = null
            while (retIt.hasNext && retIt.head.url_hash == h) {
              val e = retIt.next()
              if (retryE == null) retryE = e // retries are hash-unique; defensive
            }
            var oldE: FrontierEntry = null
            while (oldIt.hasNext && oldIt.head.url_hash == h)
              oldE = oldIt.next() // merged view is hash-unique
            var candE: FrontierEntry = null
            while (candIt.hasNext && candIt.head.url_hash == h) {
              val c = candIt.next()
              if (candE == null) candE = c
            }
            if (retryE != null) emit(retryE, delta = true)
            else if (oldE != null) {
              if (remBoth.contains(h)) {
                // old removed; its hash is NOT an exclusion member, so a
                // re-discovered candidate re-enters (replaces old)
                if (candE != null) { emit(candE, delta = true); nNew += 1 }
                else if (!compact) w.drop(h)
              } else if (selSet.contains(h)) {
                // removed from the frontier but an exclusion member this
                // round (candidates stay excluded); future exclusion is
                // the seen index's job
                if (!compact) w.drop(h)
              } else emit(oldE, delta = false) // untouched survivor
            } else if (candE != null) { emit(candE, delta = true); nNew += 1 }
          }
          w.close()
          FrontierStat(fb, n, nNew, retriesB.size.toLong, nPri0,
                       nBlockedRemoved, compacted = compact)
        })
    }
    // robots table only changes on rounds that fetched robots.txt
    val robotsF = Future {
      sc.setJobDescription(s"crawl r$r: robots write")
      if (nRobots > 0) {
        spark.createDataset(robotsAll).coalesce(statePar)
          .write.mode("overwrite").parquet(snaps.tablePath(r, "robots"))
        snaps.tablePath(r, "robots")
      } else m.tables("robots")
    }
    val obsHost = Observation()
    val hostF = Future {
      sc.setJobDescription(s"crawl r$r: host_state write")
      spark.createDataset(hostStateAll)
        .observe(obsHost, count(lit(1)).as("n"))
        .coalesce(statePar)
        .write.mode("overwrite").parquet(snaps.tablePath(r, "host_state"))
    }

    // filter shards: ONE distributed pass puts each touched bucket's
    // delta into its bloom shard and appends its exact seen-index
    // segment, each group task writing ITS OWN bucket's files to the
    // snapshot store (shared storage on a real cluster; atomic per-file
    // rename makes task retries safe). Only (bucket, segments) pairs
    // reach the driver.
    val filtersF = Future {
      sc.setJobDescription(s"crawl r$r: filter shards")
      val idxMergeEvery = cfg.compactEvery
      val shardBits = cfg.bloomShardBits
      val updates = collectInSqlJob(byBucket(seenDelta)(s => bucketOf(s.host_hash, nb))
        .map { case (b, deltaRows) =>
          val segRounds = seenIdxSegs.getOrElse(b, Nil)
          // all reads here are manifest-referenced => fail-closed: an
          // unreadable segment/shard means lost storage, and rebuilding
          // filters or indexes from empty state silently loses dedup.
          // A bucket without a shard has no segments either
          // (requireShardPerIndexedBucket): its filter starts empty
          val bf = filterRounds.get(b).fold(new BloomFilter(shardBits, BloomHashes))(fr =>
            BloomFilter.deserialize(
              Snapshots.requiredBytesAt(Snapshots.bloomShardPathAt(root, fr, b))))
          val deltaHashes = mutable.ArrayBuffer.empty[String]
          deltaRows.foreach { s =>
            bf.put(s.url_hash)
            deltaHashes += s.url_hash
          }
          Snapshots.writeBytesAt(Snapshots.bloomShardPathAt(root, r, b), bf.serialize())
          // LSM: the common round writes a DELTA-ONLY segment —
          // O(|delta|) bytes, not O(|seen|); segments fold into one on
          // the compactEvery cadence (the only round that rewrites the
          // bucket's index).
          val delta = SeenIndex.fromHex(deltaHashes)
          val merge = segRounds.size + 1 >= idxMergeEvery
          val seg =
            if (!merge) delta
            else SeenIndex.merged(segRounds.map(ir => SeenIndex.deserialize(
              Snapshots.requiredBytesAt(Snapshots.seenIndexPathAt(root, ir, b)))) :+ delta)
          Snapshots.writeBytesAt(Snapshots.seenIndexPathAt(root, r, b), seg.serialize())
          (b, if (merge) Seq(r) else segRounds :+ r)
        })
      // untouched buckets keep referencing their last-written round's
      // files (no copy-forward); every touched bucket moves to round r
      (filterRounds ++ updates.map(u => u._1 -> r), seenIdxSegs ++ updates)
    }

    Await.result(docsF, Duration.Inf)
    Await.result(seenF, Duration.Inf)
    val frontierStats = Await.result(frontF, Duration.Inf)
    Await.result(hostF, Duration.Inf)
    val robotsPath = Await.result(robotsF, Duration.Inf)
    val (newFilterRounds, newSeenIndexSegs) = Await.result(filtersF, Duration.Inf)

    val selectedCnt = obsL(obsLog, "n")
    val okCnt = obsL(obsLog, "ok")
    // docs are the main fetches that returned 200; robots rows and
    // failed fetches carry no spans
    val spansCnt = if (okMain > 0) obsL(obsLog, "spans") else 0L
    val docsCnt = okMain
    // frontier counters: touched buckets from this round's stats,
    // untouched buckets carried from the manifest — totals never
    // require reading untouched buckets. A touched bucket either
    // appends this round's delta segment to its stack or (on the
    // compactEvery cadence) resets the stack to the compacted base.
    val newFrontierSegs = frontierSegs ++ frontierStats.map(s =>
      s.fb -> (if (s.compacted) Seq(r)
               else frontierSegs.getOrElse(s.fb, Nil) :+ r))
    val newFrontierCounts = m.frontierCounts ++ frontierStats.map(s => s.fb -> s.n)
    val newFrontierPri0 = m.frontierPri0 ++ frontierStats.map(s => s.fb -> s.n_pri0)
    val frontierLeft = newFrontierCounts.values.sum
    val newCnt = frontierStats.map(_.n_new).sum
    val blockedCnt = frontierStats.map(_.n_blocked).sum

    snaps.writeManifest(Snapshots.Manifest(
      round = r, parentRound = r - 1,
      tables = Map(
        "host_state" -> snaps.tablePath(r, "host_state"),
        "robots" -> robotsPath),
      seenFullRound = m.seenFullRound,
      filterRounds = newFilterRounds, seenIndexSegs = newSeenIndexSegs,
      frontierSegs = newFrontierSegs,
      frontierCounts = newFrontierCounts, frontierPri0 = newFrontierPri0,
      counters = Map(
        "selected" -> selectedCnt, "fetched_ok" -> okCnt,
        "robots_blocked" -> blockedCnt, "new_urls" -> newCnt,
        "frontier" -> frontierLeft,
        "frontier_pri0" -> newFrontierPri0.values.sum,
        "spans" -> spansCnt, "docs" -> docsCnt,
        "hosts" -> obsL(obsHost, "n"),
        "cfg_n_buckets" -> cfg.nBuckets.toLong,
        "cfg_frontier_buckets" -> cfg.frontierBuckets.toLong),
      done = frontierLeft == 0))

    RoundResult(r, selectedCnt, okCnt, newCnt, frontierLeft, frontierLeft == 0)
  }

  /** One task per touched bucket: each row goes to the task of its
    * bucket, which holds that bucket's rows in memory — delta-sized at
    * every call site (candidates, frontier updates, seen deltas), never
    * state-sized. An RDD shuffle of the model's case classes: it
    * generates no classes, so a round's codegen working set does not
    * grow with the number of bucket passes.
    */
  private def byBucket[T](rows: RDD[T])(bucket: T => Int): RDD[(Int, Iterable[T])] =
    rows.groupBy(bucket, spark.sparkContext.defaultParallelism)

  /** `rows.collect()`, run as a Spark SQL job. Spark's codegen cache keys
    * a generated class by the compiling thread's class loader, and
    * executors run the tasks of SQL jobs under the session's loader but
    * those of plain RDD jobs under their default one: a Dataset-to-RDD
    * conversion that both kinds of job compute would compile its classes
    * twice, and whichever job got to it first would decide which copy a
    * round used. The rows travel as Java-serialized bytes, so every call
    * shares one generated serializer and deserializer.
    */
  private def collectInSqlJob[T: ClassTag](rows: RDD[T]): Array[T] =
    spark.createDataset(rows.map { x =>
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(x)
      out.close()
      bytes.toByteArray
    })(Encoders.BINARY).collect().map { b =>
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
      try in.readObject().asInstanceOf[T] finally in.close()
    }

  /** Administrative revocation: a host relaxes its robots rules or
    * content is invalidated, and previously-seen URLs must become
    * re-crawlable. Removes `urls` from the exact seen table AND from
    * their buckets' exact seen indexes. The bloom shards cannot delete
    * and are left as they are: a re-discovered link's stale bloom
    * positive routes it to the exact index, which no longer holds it,
    * so it counts as new. Optionally reseeds crawl entry points (e.g.
    * the listing pages that link the revoked URLs). Commits a new
    * snapshot round; `run()` resumes from it.
    *
    * Driver-side O(|urls|) by design: revocations are administrative-
    * scale (a robots change affects one host), unlike per-round shard
    * maintenance, which stays executor-side.
    */
  def revoke(urls: Seq[String], reseed: Seq[String] = Nil): Int = {
    import spark.implicits._
    val latest = snaps.latestRound.getOrElse(
      throw new IllegalStateException("no crawl to revoke from"))
    val m = snaps.readManifest(latest)
    requireStructuralConfig(m)
    val r = latest + 1
    val nb = cfg.nBuckets
    val root = cfg.outDir
    val revoked: Seq[(String, Long)] = urls.map { u =>
      val canon = UrlCanon.canonicalize(u)
      (UrlCanon.urlHash(canon), UrlCanon.hostHash(UrlCanon.hostOf(canon)))
    }
    val revokedHashes = revoked.map(_._1).toSet

    // 1. exact seen table: a new seen_full base, the table (base plus
    // deltas) minus the revoked rows, deduped by url_hash (latest round
    // wins) — restores the unique-hash invariant even if a prior
    // revoke+reseed left duplicate rows
    val seen = readT[SeenEntry](snaps.seenPaths(m): _*)
    seen.filter(!col("url_hash").isin(revokedHashes.toSeq: _*)).as[SeenEntry]
      .groupByKey(_.url_hash)
      .reduceGroups((a, b) => if (newerSeen(a, b)) a else b)
      .map(_._2)
      .write.mode("overwrite").parquet(snaps.tablePath(r, "seen_full"))

    // 2. the exact per-bucket seen indexes drop the revoked hashes too
    // (the exact tier must agree with the rewritten seen table): LSM
    // segments merge-minus-revoked into a single segment at r. Bloom
    // shards and filterRounds stay as they were.
    val updatedIdxBuckets = revoked.groupBy(t => bucketOf(t._2, nb)).flatMap {
      case (b, hs) =>
        val segRounds = m.seenIndexSegs.getOrElse(b, Nil)
        if (segRounds.isEmpty) None
        else {
          val segs = segRounds.map(ir => SeenIndex.deserialize(
            Snapshots.requiredBytesAt(Snapshots.seenIndexPathAt(root, ir, b))))
          val idx = SeenIndex.merged(segs, hs.map(_._1))
          Snapshots.writeBytesAt(Snapshots.seenIndexPathAt(root, r, b),
                                 idx.serialize())
          Some(b -> Seq(r))
        }
    }

    // 3. frontier: insert reseed entry points into their buckets
    // (driver-side loops — administrative scale, like the rest of
    // revoke). Existing frontier rows WIN over a colliding reseed
    // (deterministic precedence — a pending retry keeps its attempt
    // count); distinctBy url_hash because two reseed URLs can
    // canonicalize to the same entry (same guard as init()). Untouched
    // buckets carry forward by manifest reference.
    // A reseed onto a never-seen host must also seed that host's
    // robots.txt (exactly as init() does for seed hosts): the robots
    // gate holds robots-unknown entries in the frontier, and nothing
    // else ever enqueues a robots fetch for a frontier-resident row —
    // without this, the crawl would spin selecting nothing until
    // maxRounds. Known hosts (any host_state row) resolved their rules
    // when first discovered, or have a pri-0 entry already pending.
    val hostState = readT[HostState](m.tables("host_state"))
    val reseedHostsOrdered = reseed
      .map(u => UrlCanon.hostOf(UrlCanon.canonicalize(u))).distinct
    val knownReseedHosts =
      if (reseedHostsOrdered.isEmpty) Set.empty[String]
      else hostState.filter(col("host").isin(reseedHostsOrdered: _*))
        .select("host").as[String].collect().toSet
    val robotsSeedUrls = reseedHostsOrdered.filterNot(knownReseedHosts)
      .map(h => s"https://$h/robots.txt")
    val reseedEntries = (robotsSeedUrls ++ reseed).zipWithIndex.map {
      case (u, i) =>
        Fetcher.entryOf(u, SyntheticWeb.priorityOf(u),
                        r.toLong * 1000000L + i, 0, r, cfg.salts)
    }.distinctBy(_.url_hash)
    var frontierSegs = m.frontierSegs
    var frontierCounts = m.frontierCounts
    var frontierPri0 = m.frontierPri0
    val acceptedReseeds = scala.collection.mutable.ArrayBuffer.empty[FrontierEntry]
    reseedEntries.groupBy(e => fbucketOf(e.url_hash, cfg.frontierBuckets))
      .foreach { case (fb, es) =>
        val old = FrontierStore.readMergedRequired(
          root, fb, frontierSegs.getOrElse(fb, Nil))
        val have = old.iterator.map(_.url_hash).toSet
        val add = es.filterNot(e => have(e.url_hash))
        if (add.nonEmpty) {
          // revoke is administrative-scale: write a compacted full
          // segment, resetting the bucket's stack
          val out = old ++ add
          FrontierStore.write(root, r, fb, out)
          frontierSegs += fb -> Seq(r)
          frontierCounts += fb -> out.length.toLong
          frontierPri0 += fb -> out.count(_.priority == 0).toLong
          acceptedReseeds ++= add
        }
      }
    val frontierCnt = frontierCounts.values.sum
    val pri0Cnt = frontierPri0.values.sum

    // 4. host state rows for any new reseed hosts (hostState read above)
    val capD = cfg.hostCapacity
    val refD = cfg.hostRefill
    val newHosts = acceptedReseeds.map(_.host).distinct.toSeq.toDS()
      .join(hostState.select(col("host").as("h_host")),
            col("value") === col("h_host"), "left_anti")
      .as[String]
      .map(h => HostState(h, UrlCanon.hostHash(h), 0.0, capD, refD))
    hostState.union(newHosts)
      .write.mode("overwrite").parquet(snaps.tablePath(r, "host_state"))

    snaps.writeManifest(Snapshots.Manifest(
      round = r, parentRound = latest,
      tables = Map(
        "host_state" -> snaps.tablePath(r, "host_state"),
        "robots" -> m.tables("robots")),
      seenFullRound = r, filterRounds = m.filterRounds,
      seenIndexSegs = m.seenIndexSegs ++ updatedIdxBuckets,
      frontierSegs = frontierSegs,
      frontierCounts = frontierCounts, frontierPri0 = frontierPri0,
      counters = Map("frontier" -> frontierCnt, "frontier_pri0" -> pri0Cnt,
                     "revoked" -> revokedHashes.size.toLong,
                     "cfg_n_buckets" -> cfg.nBuckets.toLong,
                     "cfg_frontier_buckets" -> cfg.frontierBuckets.toLong),
      done = frontierCnt == 0))
    r
  }

  /** Run from scratch (or resume if a manifest exists) until the frontier
    * drains or `maxRounds` rounds have executed IN THIS CALL. The budget
    * is per-invocation, not an absolute round ceiling: a resume after
    * `revoke()` near round maxRounds still gets a full budget to crawl
    * the reseeded frontier (an absolute ceiling would return immediately,
    * silently, with the reseeds uncrawled). Returns the last round
    * executed.
    */
  def run(): Int = {
    val start = snaps.latestRound match {
      case Some(rr) if !snaps.readManifest(rr).done => rr + 1
      case Some(rr)                                 => return rr
      case None                                     => init(); 1
    }
    var r = start
    var done = false
    while (!done && r - start < cfg.maxRounds) {
      val res = runRound(r)
      done = res.done
      r += 1
    }
    r - 1
  }
}

object CrawlScheduler {
  /** Hash functions of a new bloom shard. A shard stores its own k, so
    * shards written under another k still read as written.
    */
  val BloomHashes = 5

  /** Damped PageRank iterations per round under `rankPriority`. */
  val RankIters = 4

  /** Thread pool for concurrent commit-write jobs (daemon threads: the
    * pool must never pin a JVM shutdown). Spark supports concurrent
    * job submission from multiple threads of one session.
    */
  lazy val commitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r0 => {
        val t = new Thread(r0, "graft-commit")
        t.setDaemon(true)
        t
      }))

  val entryOrd: Ordering[FrontierEntry] =
    Ordering.by((e: FrontierEntry) => (e.priority, e.discovery_time, e.url_hash))

  final case class WithBudget(e: FrontierEntry, budget: Int)
  final case class SelectedE(e: FrontierEntry, seq: Int)

  /** A row of phase A's exchange, in the (host, salt) run it sorts into:
    * a host's robots rule or budget, replicated to each of its salts, or
    * one of its frontier rows. The host's own rows sort first.
    */
  sealed trait GateRow { def host: String; def salt: Int }
  final case class HostRule(host: String, salt: Int, prefixes: Seq[String]) extends GateRow
  final case class HostBudget(host: String, salt: Int, budget: Int) extends GateRow
  final case class Pending(e: FrontierEntry, salt: Int) extends GateRow {
    def host: String = e.host
  }

  private def gateRank(g: GateRow): Int = g match {
    case _: HostRule   => 0
    case _: HostBudget => 1
    case _: Pending    => 2
  }

  /** (host, salt), then rule, budget, frontier rows in entryOrd order. */
  val gateOrd: Ordering[GateRow] = new Ordering[GateRow] {
    def compare(a: GateRow, b: GateRow): Int = {
      val c = a.host.compareTo(b.host)
      if (c != 0) c
      else if (a.salt != b.salt) Integer.compare(a.salt, b.salt)
      else (a, b) match {
        case (Pending(x, _), Pending(y, _)) => entryOrd.compare(x, y)
        case _                              => Integer.compare(gateRank(a), gateRank(b))
      }
    }
  }

  /** Phase A's pass over a partition of sorted (host, salt) runs. A run
    * whose host has no rule yet emits nothing: its rows wait in the
    * frontier. Otherwise a row that `Robots.allowed` rejects emits its
    * hash (Left, to leave the frontier), and the first `budget` allowed
    * rows emit themselves (Right) — a host without a budget row has
    * budget 0. Streams; holds one run's rule.
    */
  def gateRuns(it: Iterator[GateRow]): Iterator[Either[String, WithBudget]] = {
    var run: (String, Int) = null
    var rule: Option[Seq[String]] = None
    var budget = 0
    var kept = 0
    it.flatMap { g =>
      val k = (g.host, g.salt)
      if (k != run) { run = k; rule = None; budget = 0; kept = 0 }
      g match {
        case HostRule(_, _, p) => if (rule.isEmpty) rule = Some(p); None
        case HostBudget(_, _, b) => budget = b; None
        case Pending(e, _) =>
          rule.flatMap { p =>
            if (!Robots.allowed(e.url, p)) Some(Left(e.url_hash))
            else { kept += 1; if (kept <= budget) Some(Right(WithBudget(e, budget))) else None }
          }
      }
    }
  }

  /** Host, then entryOrd: phase B's run order. */
  val hostEntryOrd: Ordering[WithBudget] =
    Ordering.by[WithBudget, String](_.e.host).orElseBy(_.e)(entryOrd)

  /** `rows` exchanged to `par` partitions by the hash of `run(row)`, each
    * partition sorted by `ord` — which must order by the run first, so
    * that every run arrives contiguous and in `ord` order.
    */
  def sortedRuns[T: ClassTag](rows: RDD[T], par: Int)(run: T => Any)
                             (ord: Ordering[T]): RDD[T] = {
    val byRun = new Partitioner {
      def numPartitions: Int = par
      def getPartition(key: Any): Int = Math.floorMod(run(key.asInstanceOf[T]).hashCode, par)
    }
    implicit val byOrd: Ordering[T] = ord
    rows.map(x => (x, ())).repartitionAndSortWithinPartitions(byRun).keys
  }

  /** A fetch-log row and its page's span count (for the round's counters). */
  final case class LogRow(round: Int, host: String, host_hash: Long, seq: Int,
                          url: String, url_hash: String, status: Int, spans: Int)

  /** One frontier-delta row (the ONLY thing that shuffles in the
    * frontier-update path — delta-scale, never state-scale). See the
    * op table at the construction site in runRound.
    */
  final case class FUpd(op: Int, hash: String, e: Option[FrontierEntry])
  final case class FrontierStat(fb: Int, n: Long, n_new: Long, n_retry: Long,
                                n_pri0: Long, n_blocked: Long,
                                compacted: Boolean)

  /** Frontier storage bucket of a url_hash (first 60 bits of the hex
    * sha-256, mod nFb) — independent of the host-hash filter buckets.
    */
  def fbucketOf(urlHashHex: String, nFb: Int): Int =
    (java.lang.Long.parseLong(urlHashHex.substring(0, 15), 16) % nFb).toInt

  /** Latest-wins order for the seen-table dedup of `revoke`. */
  def newerSeen(a: SeenEntry, b: SeenEntry): Boolean =
    if (a.first_round != b.first_round) a.first_round > b.first_round
    else a.status <= b.status
  /** Slim fused fetch+parse output — the only thing a round persists
    * per fetched URL. The raw body is parsed into `spans`/`links`
    * (content pages) or `robots_prefixes` (robots.txt) INSIDE the fetch
    * task and never cached: at 10^7-page rounds the body cache alone
    * exceeded executor storage and turned the round I/O-bound. `round`
    * is the fetching round: carried as data, not as a literal in the
    * round's column expressions, so the generated classes stay the same
    * from round to round.
    */
  final case class FetchOut(round: Int, url: String, url_hash: String,
                            host: String, host_hash: Long, status: Int, seq: Int,
                            attempt: Int, priority: Int, discovery_time: Long,
                            kind: String, spans: Seq[Span],
                            links: Seq[String], robots_prefixes: Seq[String])

  /** 60-bit numeric node id for the link graph: the first 15 hex chars
    * of the sha-256 url_hash (same order-preserving surrogate as
    * [[graft.SparkEntry.trainingShard]]'s corpus-scale path).
    */
  def nidOf(urlHashHex: String): Long =
    java.lang.Long.parseLong(urlHashHex.substring(0, 15), 16)

  /** Rank-informed priority stamp (when `CrawlConfig.rankPriority`):
    * class * 4096 + bucket, bucket = ((maxRank - rank) * 4095) div
    * maxRank — the node's fixed-point PageRank relative to the graph's
    * maximum, floored into 4096 levels (higher rank => smaller bucket
    * => selected earlier WITHIN its class; listing-before-detail class
    * dominance preserved; robots stay priority 0). Max-relative, so
    * the bucket is invariant to graph size (absolute ranks scale as
    * 1/n); pure long arithmetic (max and floor division are exact and
    * order-independent), so the distributed stamp and the sequential
    * oracle's agree bit-for-bit at any parallelism.
    */
  def rankedPriority(classPriority: Int, rank: Long, maxRank: Long): Int =
    if (maxRank <= 0L) classPriority * 4096 + 4095
    else (classPriority * 4096L + ((maxRank - rank) * 4095L) / maxRank).toInt

  def bucketOf(hostHash: Long, nBuckets: Int): Int =
    (((hostHash % nBuckets) + nBuckets) % nBuckets).toInt

  /** The rows of a run-sorted stream that fit their host's budget, each
    * with its 1-based rank in its run: a run is a maximal stretch of
    * equal `key`, sorted in entryOrd order, so the first `budget` rows
    * of a run are its top-`budget`. Streams; holds one key.
    */
  def headsOfRuns[K](it: Iterator[WithBudget])(key: WithBudget => K): Iterator[(WithBudget, Int)] = {
    var run: Option[K] = None
    var rank = 0
    it.flatMap { w =>
      val k = key(w)
      if (!run.contains(k)) { run = Some(k); rank = 0 }
      rank += 1
      if (rank <= w.budget) Some((w, rank)) else None
    }
  }

  /** The SparkContext local property that holds a job's description. */
  private val JobDescription = "spark.job.description"
}
