package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.model._
import graft.oracle.CrawlOracle
import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.Snapshots
import graft.synthweb.WebConfig

/** North-rule parity: the distributed scheduler must equal the
  * sequential reference-semantics oracle on (a) the canonical fetch log,
  * (b) the final URL-seen set, (c) per-row span sequences
  * (kind, text, media_ref, order).
  */
class CrawlSchedulerSpec extends SparkSuite {
  import spark.implicits._

  private def runBoth(cfg: CrawlConfig): (CrawlOracle#Result, Snapshots, Int) = {
    val sched = new CrawlScheduler(spark, cfg)
    val last = sched.run()
    val oracle = new CrawlOracle(cfg).run()
    (oracle, new Snapshots(cfg.outDir), last)
  }

  private def assertParity(cfg: CrawlConfig): Unit = {
    val (oracle, snaps, last) = runBoth(cfg)
    assertMatch(oracle, snaps, last)
  }

  private def assertMatch(oracle: CrawlOracle#Result, snaps: Snapshots,
                          last: Int): Unit = {
    assert(snaps.readManifest(last).done, "crawl must drain the frontier")

    // (a) fetch log equality in canonical (round, host_hash, seq) order
    val gotLog = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(snaps.fetchLogPaths(last): _*)
      .as[FetchLogEntry]
      .collect()
      .sortBy(e => (e.round, e.host_hash, e.seq))
      .toVector
    val wantLog = oracle.fetchLog.sortBy(e => (e.round, e.host_hash, e.seq))
    assert(gotLog.size == wantLog.size,
           s"fetch count: got ${gotLog.size}, oracle ${wantLog.size}")
    gotLog.zip(wantLog).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"fetch log diverges at $i: got $g want $w")
    }

    // (b) final seen set equality (exact reconciliation)
    val gotSeen = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[SeenEntry]].schema)
      .parquet(snaps.seenPaths(snaps.readManifest(last)): _*)
      .as[SeenEntry]
      .collect()
      .map(s => s.url_hash -> s.status)
      .toMap
    assert(gotSeen == oracle.seen, "seen set mismatch")

    // (c) per-row span-sequence equality
    val gotDocs = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .parquet(snaps.docsPaths(last): _*)
      .as[Doc]
      .collect()
      .map(d => d.doc_id -> d)
      .toMap
    assert(gotDocs.keySet == oracle.docs.keySet, "doc id set mismatch")
    gotDocs.foreach { case (id, d) =>
      val w = oracle.docs(id)
      assert(d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
               w.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)),
             s"span sequence mismatch for ${d.url}")
    }

    // docs never duplicate: one doc per seen-200 non-robots URL
    assert(gotDocs.size == oracle.docs.size)
  }

  test("scheduler matches oracle on a 5-host web (robots, 404s, retries)") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 42, nHosts = 5, listPagesPerHost = 3,
                      detailsPerList = 6, crossHostLinkPct = 15,
                      paginationFanout = 2),
      outDir = tmpDir("crawl5-"),
      maxRounds = 40, hostCapacity = 6.0, hostRefill = 6.0)
    assertParity(cfg)
  }

  test("scheduler matches oracle under 90% hot-host skew") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 7, nHosts = 4, listPagesPerHost = 2,
                      detailsPerList = 5, hotHostFactor = 12,
                      crossHostLinkPct = 10),
      outDir = tmpDir("crawlskew-"),
      maxRounds = 80, hostCapacity = 10.0, hostRefill = 10.0, salts = 4)
    assertParity(cfg)
  }

  test("scheduler matches oracle at salts = 1 and salts = 16") {
    // phase A replicates each host's rule and budget to every salt run;
    // one run per host and more runs than the hot host has budget must
    // both select exactly the oracle's pages
    for (salts <- Seq(1, 16)) {
      val cfg = CrawlConfig(
        web = WebConfig(seed = 7, nHosts = 4, listPagesPerHost = 2,
                        detailsPerList = 5, hotHostFactor = 12,
                        crossHostLinkPct = 10),
        outDir = tmpDir(s"crawlsalts$salts-"),
        maxRounds = 80, hostCapacity = 10.0, hostRefill = 10.0, salts = salts)
      assertParity(cfg)
    }
  }

  test("scheduler matches oracle when robots.txt fetches fail retryably") {
    // exercises the retry-vs-robotsCand duplicate exclusion: a host's
    // robots 503s while other pages keep discovering that host's URLs
    val cfg = CrawlConfig(
      web = WebConfig(seed = 19, nHosts = 5, listPagesPerHost = 2,
                      detailsPerList = 5, crossHostLinkPct = 40,
                      pctRobots503 = 60),
      outDir = tmpDir("crawlrb-"),
      maxRounds = 50, hostCapacity = 5.0, hostRefill = 5.0)
    assertParity(cfg)
    // frontier uniqueness held: no duplicate (round, host, seq=0) rows
    val snaps = new Snapshots(cfg.outDir)
    val last = snaps.latestRound.get
    val dup = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(snaps.fetchLogPaths(last): _*)
      .groupBy(col("round"), col("host"), col("seq")).count()
      .filter(col("count") > 1).count()
    assert(dup == 0, s"duplicate fetch-log (round,host,seq) rows: $dup")
  }

  test("rank-informed frontier priority matches its sequential oracle bit-for-bit") {
    // opt-in rankPriority: round k's integer-PageRank over the
    // accumulated link graph stamps round k+1 candidates' sort key.
    // Parity holds by determinism (integer fixed-point rank,
    // max-relative floor-division bucket) — the full three-way assert
    // (fetch log, seen set, spans) runs unchanged.
    val web = WebConfig(seed = 63, nHosts = 5, listPagesPerHost = 3,
                        detailsPerList = 6, crossHostLinkPct = 30,
                        paginationFanout = 2)
    val cfg = CrawlConfig(
      web = web, outDir = tmpDir("crawlrank-"),
      maxRounds = 60, hostCapacity = 4.0, hostRefill = 4.0,
      rankPriority = true)
    assertParity(cfg)
    // the stamp must actually reorder the crawl (not a vacuous re-encode
    // of discovery order): the same web crawled discovery-ordered yields
    // a different fetch sequence
    val off = new CrawlOracle(cfg.copy(outDir = tmpDir("crawlrank-off-"),
                                       rankPriority = false)).run()
    val on = new CrawlOracle(cfg).run()
    assert(on.fetchLog.map(e => (e.round, e.host, e.seq, e.url)) !=
             off.fetchLog.map(e => (e.round, e.host, e.seq, e.url)),
           "rankPriority left the fetch order identical to discovery order")
    // same pages end up crawled either way — ordering, not coverage
    assert(on.seen == off.seen, "rankPriority changed the seen SET")
  }

  test("resume from checkpoint is bit-identical to uninterrupted run") {
    val web = WebConfig(seed = 11, nHosts = 3, listPagesPerHost = 3,
                        detailsPerList = 5)
    val cfgA = CrawlConfig(web = web, outDir = tmpDir("crawlA-"),
                           maxRounds = 40, hostCapacity = 5.0, hostRefill = 5.0)
    val cfgB = cfgA.copy(outDir = tmpDir("crawlB-"))

    val schedA = new CrawlScheduler(spark, cfgA)
    val lastA = schedA.run()

    // interrupted run: stop after round 2, then resume via run()
    val schedB = new CrawlScheduler(spark, cfgB)
    schedB.init()
    schedB.runRound(1)
    schedB.runRound(2)
    val schedB2 = new CrawlScheduler(spark, cfgB) // fresh instance = new process
    val lastB = schedB2.run()

    assert(lastA == lastB)
    val sa = new Snapshots(cfgA.outDir)
    val sb = new Snapshots(cfgB.outDir)
    def logOf(s: Snapshots, last: Int) = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(s.fetchLogPaths(last): _*)
      .as[FetchLogEntry].collect().sortBy(e => (e.round, e.host_hash, e.seq)).toVector
    assert(logOf(sa, lastA) == logOf(sb, lastB))
    def seenOf(s: Snapshots, last: Int) = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[SeenEntry]].schema)
      .parquet(s.seenPaths(s.readManifest(last)): _*)
      .as[SeenEntry].collect().map(e => e.url_hash -> e.status).toMap
    assert(seenOf(sa, lastA) == seenOf(sb, lastB))
  }

  /** Bucket `b`'s exact seen index at manifest `m`: its segments merged. */
  private def seenIndexOf(cfg: CrawlConfig, m: Snapshots.Manifest,
                          b: Int): graft.seen.SeenIndex = {
    import graft.seen.SeenIndex
    SeenIndex.merged(m.seenIndexSegs.getOrElse(b, Nil).map(ir =>
      SeenIndex.deserialize(Snapshots.requiredBytesAt(
        Snapshots.seenIndexPathAt(cfg.outDir, ir, b)))))
  }

  test("a checkpoint bucket with index segments but no bloom shard fails the next round") {
    // the pass that appends a bucket's index segment writes its bloom
    // shard, so no engine writes this shape: a manifest holding it is
    // damaged, and starting the bucket from an empty filter would later
    // call its seen URLs definitely new
    val web = WebConfig(seed = 31, nHosts = 3, listPagesPerHost = 3,
                        detailsPerList = 6)
    val cfg = CrawlConfig(web = web, outDir = tmpDir("crawlnoshard-"),
                          maxRounds = 40, hostCapacity = 4.0, hostRefill = 4.0)
    val sched = new CrawlScheduler(spark, cfg)
    sched.init()
    sched.runRound(1)
    sched.runRound(2)
    val snaps = new Snapshots(cfg.outDir)
    val m2 = snaps.readManifest(2)
    val bucket = m2.seenIndexSegs.keys.toSeq.sorted.headOption
      .getOrElse(fail("no bucket has index segments after round 2"))
    assert(m2.filterRounds.contains(bucket))
    snaps.writeManifest(m2.copy(filterRounds = m2.filterRounds - bucket))

    val e = intercept[IllegalStateException] {
      new CrawlScheduler(spark, cfg).run() // fresh instance = new process
    }
    assert(e.getMessage.contains(s"bucket $bucket has seen-index segments but no bloom shard"),
           e.getMessage)
    assert(snaps.latestRound.contains(2), "the failed round committed a manifest")
  }

  test("a round writes its seen delta and no fold: no seen_run or seen_full, manifest v5") {
    // at compactEvery = 2 the folded layout wrote a seen_run in round 1
    // and a seen_full base in round 3
    val cfg = CrawlConfig(web = WebConfig(seed = 11, nHosts = 3, listPagesPerHost = 3,
                                          detailsPerList = 5),
                          outDir = tmpDir("crawlnofold-"), maxRounds = 40,
                          hostCapacity = 3.0, hostRefill = 3.0, compactEvery = 2)
    val (oracle, snaps, last) = runBoth(cfg)
    assert(last >= 6, s"the crawl ran only $last rounds")
    val folds = (0 to last).flatMap(r => Seq("seen_run", "seen_full").map(snaps.tablePath(r, _)))
      .filter(p => new java.io.File(p).exists)
    assert(folds.isEmpty, s"a round folded the seen table: ${folds.mkString(", ")}")
    (0 to last).foreach { r =>
      val json = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(f"${cfg.outDir}/manifests/m-$r%05d.json")))
      assert(json \ "version" == org.json4s.JInt(5), s"manifest $r: ${json \ "version"}")
    }
    assertMatch(oracle, snaps, last)
  }

  // one revocation scenario, shared by the exact-index test and the
  // oracle-parity test so the two cannot silently diverge: same web
  // shape, same reseeded listing, same revoked detail page
  private val revokeWeb = WebConfig(seed = 23, nHosts = 2,
                                    listPagesPerHost = 2, detailsPerList = 4,
                                    pct404 = 0, pct503 = 0,
                                    crossHostLinkPct = 0)
  private val revokeListing = "https://host-0.test/list/0"
  private val revokedUrl =
    graft.synthweb.SyntheticWeb.detailUrl(revokeWeb, 0, 0, 1)

  test("revocation: the exact index drops a revoked URL so a re-discovered link re-fetches") {
    import graft.seen.BloomFilter
    import graft.canon.UrlCanon
    import graft.store.Snapshots
    val web = revokeWeb
    val cfg = CrawlConfig(web = web, outDir = tmpDir("crawlrevoke-"),
                          maxRounds = 60, hostCapacity = 8.0, hostRefill = 8.0)
    val sched = new CrawlScheduler(spark, cfg)
    sched.run()

    val listing = revokeListing
    val siblingUrl = graft.synthweb.SyntheticWeb.detailUrl(web, 0, 0, 2)
    def hashOf(u: String) = UrlCanon.urlHash(UrlCanon.canonicalize(u))

    val r = sched.revoke(Seq(revokedUrl), reseed = Seq(listing))
    // the exact index no longer holds the revoked URL, while the bloom
    // shard still (stale-)matches: the re-fetch MUST come through the
    // exact tier's not-seen path
    val snaps = new Snapshots(cfg.outDir)
    val m = snaps.readManifest(r)
    val bucket = CrawlScheduler.bucketOf(UrlCanon.hostHash("host-0.test"),
                                         cfg.nBuckets)
    val idx = seenIndexOf(cfg, m, bucket)
    assert(!idx.contains(hashOf(revokedUrl)), "exact index should have dropped it")
    assert(idx.contains(hashOf(siblingUrl)), "sibling must stay")
    val fr = m.filterRounds(bucket)
    assert(fr == snaps.readManifest(r - 1).filterRounds(bucket),
           "revoke must leave the bucket's bloom shard round as it was")
    val bf = BloomFilter.deserialize(
      Snapshots.readBytesAt(Snapshots.bloomShardPathAt(snaps.root, fr, bucket)).get)
    assert(bf.mightContain(hashOf(revokedUrl)), "bloom cannot delete (stale ok)")

    val last = sched.run()
    val log = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(snaps.fetchLogPaths(last): _*)
      .as[FetchLogEntry].collect()
    // revoked URL fetched twice (original + re-crawl), sibling only once
    assert(log.count(_.url == revokedUrl) == 2,
           s"revoked URL fetches: ${log.filter(_.url == revokedUrl).toSeq}")
    assert(log.count(_.url == siblingUrl) == 1)
    assert(log.count(_.url == listing) == 2) // reseeded listing re-fetched
    // seen set is whole again (revoked URL re-marked seen exactly once)
    val seen = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[SeenEntry]].schema)
      .parquet(snaps.seenPaths(snaps.readManifest(last)): _*)
      .as[SeenEntry].collect()
    assert(seen.count(_.url_hash == hashOf(revokedUrl)) == 1)
  }

  test("revocation parity: scheduler matches oracle across revoke+reseed (rank off/on)") {
    // full three-way parity (fetch log, seen set, spans) ACROSS an
    // administrative revocation, both with discovery-order priority and
    // with rankPriority on. The rank case is also the regression pin
    // for resume-across-revoke: revoke() commits a round WITHOUT
    // executing runRound, so that round has no rank_edges slot — the
    // resumed rank-priority crawl must read only the slots that exist
    // (a missing slot holds zero edges by construction), not crash on
    // the gap
    val listing = revokeListing
    for (rank <- Seq(false, true)) {
      val cfg = CrawlConfig(web = revokeWeb,
                            outDir = tmpDir(s"crawlrevpar$rank-"),
                            maxRounds = 60, hostCapacity = 8.0,
                            hostRefill = 8.0, rankPriority = rank)
      val sched = new CrawlScheduler(spark, cfg)
      sched.run()
      sched.revoke(Seq(revokedUrl), reseed = Seq(listing))
      val last = sched.run() // rank case threw PATH_NOT_FOUND pre-fix
      val snaps = new Snapshots(cfg.outDir)
      val oracle = new CrawlOracle(cfg)
        .runWithRevoke(Seq(revokedUrl), reseed = Seq(listing))
      assertMatch(oracle, snaps, last)
      assert(oracle.fetchLog.count(_.url == revokedUrl) == 2,
             s"revoked URL fetches (rank=$rank): " +
               oracle.fetchLog.filter(_.url == revokedUrl).toString)
    }
  }

  test("reseed onto a never-seen host seeds its robots.txt: crawl drains, parity holds") {
    // without the robots seed the reseeded entry is held at the gate
    // forever (robots unknown → neither eligible nor blocked) and the
    // crawl spins to maxRounds selecting nothing. The host is absent
    // from the synthetic web (nHosts = 2 → host-7 404s), which is fine:
    // robots 404 → allow-all, listing 404 → seen; what matters is that
    // BOTH fetches happen and the crawl terminates drained.
    val newHostListing = "https://host-7.test/list/0"
    val cfg = CrawlConfig(web = revokeWeb,
                          outDir = tmpDir("crawlrevnewhost-"),
                          maxRounds = 60, hostCapacity = 8.0,
                          hostRefill = 8.0)
    val sched = new CrawlScheduler(spark, cfg)
    sched.run()
    sched.revoke(Nil, reseed = Seq(newHostListing))
    val last = sched.run()
    val snaps = new Snapshots(cfg.outDir)
    assert(snaps.readManifest(last).done,
           "crawl did not drain — the reseeded host's gate never resolved")
    val log = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(snaps.fetchLogPaths(last): _*)
      .as[FetchLogEntry].collect()
    assert(log.count(_.url == "https://host-7.test/robots.txt") == 1,
           "robots.txt of the reseeded host was never fetched")
    assert(log.count(_.url == newHostListing) == 1)
    val oracle = new CrawlOracle(cfg)
      .runWithRevoke(Nil, reseed = Seq(newHostListing))
    assertMatch(oracle, snaps, last)
  }

  test("politeness budget is never exceeded per host per round") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 3, nHosts = 3, listPagesPerHost = 2, detailsPerList = 8),
      outDir = tmpDir("crawlpol-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0)
    val sched = new CrawlScheduler(spark, cfg)
    val last = sched.run()
    val snaps = new Snapshots(cfg.outDir)
    val perHostRound = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[FetchLogEntry]].schema)
      .parquet(snaps.fetchLogPaths(last): _*)
      .filter(!col("url").endsWith("/robots.txt")) // robots are budget-exempt
      .groupBy(col("round"), col("host")).count()
      .agg(max(col("count"))).as[Long].head()
    assert(perHostRound <= 4L, s"budget exceeded: $perHostRound")
  }

  // the benchmark's crawl shape at test scale: every listing seeded, a
  // per-host budget, and more frontier per host than a few rounds fetch,
  // so every round after the robots round runs the same plans
  private def steadyCfg(prefix: String) = CrawlConfig(
    web = WebConfig(seed = 31, nHosts = 4, listPagesPerHost = 4, detailsPerList = 20,
                    hotHostFactor = 2, pct404 = 3, pct503 = 2, crossHostLinkPct = 5,
                    seedAllListPages = true),
    outDir = tmpDir(prefix), hostCapacity = 8.0, hostRefill = 8.0)

  test("a steady round compiles no generated classes") {
    // a round's generated classes must fit Spark's default codegen cache
    // (100 entries in 4 LRU segments): a working set over it recompiles
    // every class of the round, every round
    val cfg = steadyCfg("crawlsteady-")
    val sched = new CrawlScheduler(spark, cfg)
    sched.init()
    (1 to 3).foreach(sched.runRound) // the robots round, then warm-up
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val res = sched.runRound(4)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(res.selected == 4 * 8, s"not a steady round: ${res.selected} selected")
    assert(compiled == 0, s"steady round 4 compiled $compiled classes")
  }

  test("a round leaves the caller's job description and no caches, also when it throws") {
    val sc = spark.sparkContext
    val cfg = steadyCfg("crawldesc-")
    val sched = new CrawlScheduler(spark, cfg)
    sched.init()
    def desc = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription(null)
      sched.runRound(1)
      assert(desc == null, s"round 1 left the description '$desc'")
      sc.setJobDescription("caller's query")
      sched.runRound(2)
      assert(desc == "caller's query", s"round 2 left the description '$desc'")
      // a round that throws mid-way (a frontier bucket file lost after
      // the round's first job was labelled) restores it too
      val m = new Snapshots(cfg.outDir).readManifest(2)
      val (fb, fr) = m.frontierSegs.map { case (b, segs) => b -> segs.last }.head
      assert(new java.io.File(Snapshots.frontierPathAt(cfg.outDir, fr, fb)).delete())
      val cached = sc.getPersistentRDDs.keySet
      intercept[Exception](sched.runRound(3))
      assert(desc == "caller's query", s"failed round 3 left the description '$desc'")
      assert(sc.getPersistentRDDs.keySet == cached,
             s"failed round 3 left cached RDDs ${sc.getPersistentRDDs.keySet -- cached}")
    } finally sc.setJobDescription(null)
  }

  test("a steady round runs at most 7 Spark jobs, and fetch+log is one of them") {
    // the round's jobs carry `crawl rN: <phase>` descriptions (the commit
    // writes run on pool threads, so a job group would not reach them); a
    // marker job submitted after the round shows when the listener bus
    // has delivered every job start before it
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val cfg = steadyCfg("crawljobs-")
    val snaps = new Snapshots(cfg.outDir)
    val sched = new CrawlScheduler(spark, cfg)
    val marker = s"crawl-spec marker ${java.util.UUID.randomUUID}"
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val RoundJob = "crawl r4: (.+)".r
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some(RoundJob(phase)) => phases.add(phase)
          case Some(`marker`) => delivered.countDown()
          case _ =>
        }
    }
    sched.init()
    assert(snaps.readManifest(0).counters.get("hosts").exists(_ > 0),
           "init wrote no hosts counter")
    def roundWithHosts(r: Int) = {
      val res = sched.runRound(r)
      val hosts = snaps.readManifest(r).counters.get("hosts")
      assert(hosts.exists(_ > 0), s"round $r hosts counter: $hosts")
      res
    }
    (1 to 3).foreach(roundWithHosts) // the robots round, then warm-up
    sc.addSparkListener(listener)
    try {
      val res = roundWithHosts(4)
      assert(res.selected == 4 * 8, s"not a steady round: ${res.selected} selected")
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS),
             "the listener bus never delivered the marker job")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val got = phases.toArray.map(_.toString).toSeq
    assert(got.size <= 7, s"steady round 4 ran ${got.size} jobs: ${got.mkString(", ")}")
    assert(got.count(_ == "fetch+log") == 1,
           s"fetch+log ran as ${got.count(_ == "fetch+log")} jobs: ${got.mkString(", ")}")
  }
}
