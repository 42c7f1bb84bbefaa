package graft

import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.{FrontierStore, Snapshots}
import graft.synthweb.WebConfig

/** Scale-behavior contracts of the round-3 state rework: bucketed
  * frontier storage (touched-only rewrite, carry-forward by manifest
  * reference) and LSM seen-index segments (per-round maintenance bytes
  * are O(|delta|), not O(|seen|)).
  */
class ScaleStateSpec extends SparkSuite {

  private def frontierFilesAt(out: String, r: Int): Seq[java.io.File] = {
    val d = new java.io.File(f"$out/r$r%05d/frontier")
    Option(d.listFiles()).map(_.toSeq.filter(_.getName.startsWith("fb-")))
      .getOrElse(Nil)
  }

  test("frontier rewrite touches only delta buckets and carries the rest") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 31, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6, crossHostLinkPct = 10),
      outDir = tmpDir("scale-fb-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0, frontierBuckets = 16)
    val last = new CrawlScheduler(spark, cfg).run()
    val snaps = new Snapshots(cfg.outDir)
    val mLast = snaps.readManifest(last)
    assert(mLast.done)

    // carry-forward: the final manifest references segment files written
    // at DIFFERENT rounds — untouched buckets were never rewritten
    assert(mLast.frontierSegs.values.flatten.toSet.size > 1,
           s"every bucket rewritten every round: ${mLast.frontierSegs}")
    // drain-phase rounds touch strictly fewer buckets than exist
    val writtenPerRound = (1 to last).map(r => frontierFilesAt(cfg.outDir, r).size)
    assert(writtenPerRound.min < mLast.frontierSegs.size,
           s"no round wrote fewer buckets than tracked: $writtenPerRound")
    // every referenced segment file exists (nothing copied it forward)
    mLast.frontierSegs.foreach { case (fb, segs) =>
      segs.foreach { fr =>
        val f = new java.io.File(Snapshots.frontierPathAt(cfg.outDir, fr, fb))
        assert(f.exists(), s"referenced segment file missing: $f")
      }
    }
    // manifest counts equal an actual merged read of every bucket stack
    val readTotal = mLast.frontierSegs.toSeq.map { case (fb, segs) =>
      FrontierStore.readMergedRequired(cfg.outDir, fb, segs).length.toLong
    }.sum
    assert(mLast.frontierCounts.values.sum == readTotal)
    assert(readTotal == 0L, "a drained crawl ends with an empty frontier")
  }

  test("frontier maintenance writes O(delta) records per round") {
    // compactEvery high => no compactions: EVERY frontier write must be
    // a delta-only segment whose RECORD count tracks the round's delta
    // (adds + removals from the manifest counters), never the bucket's
    // state size — the frontier analogue of the seen index's
    // 32-bytes-per-delta assertion. A full-bucket rewrite carries every
    // untouched surviving entry and blows through the bound.
    val cfg = CrawlConfig(
      web = WebConfig(seed = 31, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6, crossHostLinkPct = 10),
      outDir = tmpDir("scale-fdelta-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0, frontierBuckets = 16,
      compactEvery = 1000)
    val last = new CrawlScheduler(spark, cfg).run()
    val snaps = new Snapshots(cfg.outDir)
    assert(snaps.readManifest(last).done)
    (1 to last).foreach { r =>
      val m = snaps.readManifest(r)
      val records = frontierFilesAt(cfg.outDir, r).map { f =>
        val fb = f.getName.stripPrefix("fb-").stripSuffix(".bin").toInt
        FrontierStore.iterateRecordsRequired(cfg.outDir, r, fb).size.toLong
      }.sum
      // per-hash the segment holds at most one record, sourced from the
      // round's delta ops only: selected rows (retry entry or
      // tombstone), accepted candidates (entries), robots/blocked
      // removals (tombstones). selected counts robots seq-0 fetches too,
      // so 2x(selected + new + blocked) is a strict delta-side envelope.
      val deltaBound = 2L * (m.counters.getOrElse("selected", 0L) +
        m.counters.getOrElse("new_urls", 0L) +
        m.counters.getOrElse("robots_blocked", 0L)) + 4L
      assert(records <= deltaBound,
             s"round $r: frontier segment records $records exceed the " +
               s"delta envelope $deltaBound — maintenance is rewriting " +
               "state, not appending deltas")
    }
    // and the merged view still drains to empty
    val mLast = snaps.readManifest(last)
    assert(mLast.frontierSegs.toSeq.map { case (fb, segs) =>
      FrontierStore.readMergedRequired(cfg.outDir, fb, segs).length.toLong
    }.sum == 0L)
  }

  test("frontier segments compact on the compactEvery cadence") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 31, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6, crossHostLinkPct = 10),
      outDir = tmpDir("scale-fcomp-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0, frontierBuckets = 16,
      compactEvery = 3)
    val last = new CrawlScheduler(spark, cfg).run()
    val m = new Snapshots(cfg.outDir).readManifest(last)
    m.frontierSegs.foreach { case (fb, segs) =>
      assert(segs.size <= cfg.compactEvery,
             s"frontier bucket $fb segments never compacted: $segs")
    }
  }

  test("seen-index maintenance writes O(delta) bytes per round") {
    // compactEvery high => no merges: EVERY index write must be a
    // delta-only segment of exactly 32 bytes per newly-seen hash
    val cfg = CrawlConfig(
      web = WebConfig(seed = 57, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6),
      outDir = tmpDir("scale-lsm-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0, compactEvery = 1000)
    val last = new CrawlScheduler(spark, cfg).run()
    val snaps = new Snapshots(cfg.outDir)
    var cumulative = 0L
    (1 to last).foreach { r =>
      val deltaRows = spark.read.parquet(snaps.tablePath(r, "seen_delta")).count()
      cumulative += deltaRows
      val d = new java.io.File(f"${cfg.outDir}/r$r%05d/filters")
      val segBytes = Option(d.listFiles()).map(_.toSeq
        .filter(_.getName.startsWith("seen-")).map(_.length()).sum).getOrElse(0L)
      assert(segBytes == 32L * deltaRows,
             s"round $r: index bytes $segBytes != 32*delta(${deltaRows}) — " +
               "maintenance rewrote more than the delta")
    }
    // the segment union still holds the exact seen set
    val m = snaps.readManifest(last)
    val totalIdx = m.seenIndexSegs.toSeq.flatMap { case (b, segs) =>
      segs.map(ir => graft.seen.SeenIndex.deserialize(
        Snapshots.requiredBytesAt(Snapshots.seenIndexPathAt(cfg.outDir, ir, b))).size.toLong)
    }.sum
    assert(totalIdx == cumulative, s"index entries $totalIdx != seen rows $cumulative")
  }

  test("index segments merge on the compactEvery cadence") {
    val cfg = CrawlConfig(
      web = WebConfig(seed = 57, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6),
      outDir = tmpDir("scale-merge-"), maxRounds = 60,
      hostCapacity = 4.0, hostRefill = 4.0, compactEvery = 3)
    val last = new CrawlScheduler(spark, cfg).run()
    val m = new Snapshots(cfg.outDir).readManifest(last)
    // no bucket accumulates compactEvery or more segments
    m.seenIndexSegs.foreach { case (b, segs) =>
      assert(segs.size <= cfg.compactEvery,
             s"bucket $b segments never merged: $segs")
    }
  }

  test("resuming with a different bucket layout fails fast") {
    // bucket counts are baked into every shard/index/frontier file's
    // key space: resuming with other values would silently route deltas
    // to the wrong buckets (dedup loss) — must be rejected, not guessed
    val web = WebConfig(seed = 41, nHosts = 3, listPagesPerHost = 2,
                        detailsPerList = 4)
    val cfg = CrawlConfig(web = web, outDir = tmpDir("scale-cfg-"),
                          maxRounds = 40, hostCapacity = 4.0,
                          hostRefill = 4.0, nBuckets = 16,
                          frontierBuckets = 16)
    val sched = new CrawlScheduler(spark, cfg)
    sched.init()
    sched.runRound(1)
    Seq(cfg.copy(frontierBuckets = 8), cfg.copy(nBuckets = 32)).foreach { bad =>
      val e = intercept[IllegalStateException] {
        new CrawlScheduler(spark, bad).runRound(2)
      }
      assert(e.getMessage.contains("incompatible"), e.getMessage)
    }
    // the original layout still resumes fine
    new CrawlScheduler(spark, cfg).runRound(2)
  }

  test("unsupported manifest versions fail fast") {
    val out = tmpDir("scale-ver-")
    val snaps = new Snapshots(out)
    new java.io.File(s"$out/manifests").mkdirs()
    Seq(
      """{"version": 2, "round": 1, "parentRound": 0, "tables": {},
        |"seenDeltaRounds": [], "seenFullRound": -1, "buckets": {},
        |"counters": {}, "done": false}""".stripMargin,
      // v4 kept the seen table as folded runs the v5 read set ignores
      """{"version": 4, "round": 1, "parentRound": 0, "tables": {},
        |"seenDeltaRounds": [1], "seenRunRounds": [0], "seenFullRound": -1,
        |"filterRounds": {}, "seenIndexSegs": {}, "frontierSegs": {},
        |"frontierCounts": {}, "frontierPri0": {},
        |"counters": {}, "done": false}""".stripMargin
    ).foreach { json =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/manifests/m-00001.json"), json)
      val e = intercept[IllegalStateException] { snaps.readManifest(1) }
      assert(e.getMessage.contains("unsupported manifest version"), e.getMessage)
    }
  }

  test("manifest-referenced state that cannot be read fails the round") {
    // fail-closed: a lost frontier bucket file must abort the resume,
    // not silently continue with an empty bucket
    val cfg = CrawlConfig(
      web = WebConfig(seed = 13, nHosts = 3, listPagesPerHost = 2,
                      detailsPerList = 4),
      outDir = tmpDir("scale-lost-"), maxRounds = 40,
      hostCapacity = 4.0, hostRefill = 4.0)
    val sched = new CrawlScheduler(spark, cfg)
    sched.init()
    sched.runRound(1)
    val m = new Snapshots(cfg.outDir).readManifest(1)
    val (fb, fr) = m.frontierSegs.map { case (b, segs) => b -> segs.last }.head
    val lost = new java.io.File(Snapshots.frontierPathAt(cfg.outDir, fr, fb))
    assert(lost.delete(), s"could not delete $lost")
    val e = intercept[Exception] { sched.runRound(2) }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("missing/unreadable"),
           s"expected fail-closed error, got: ${rootMsg(e).take(300)}")
  }
}
