package graft.oracle

import scala.collection.mutable

import graft.canon.UrlCanon
import graft.fetch.{Fetcher, SimulatedFetcher}
import graft.model._
import graft.parse.HtmlSpans
import graft.polite.Robots
import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.synthweb.SyntheticWeb

/** Single-threaded reference-semantics oracle (SURVEY.md §5.2.2).
  *
  * Implements the exact scheduling policy of [[CrawlScheduler]] — robots
  * gate, per-host token bucket, (priority, discovery_time, url_hash)
  * ordering, retry-unless-404, candidate dedup — in plain sequential
  * Scala over the same pure fetcher/parser, reproducing the reference
  * crawler's observable semantics (colly visited-set dedup, politeness
  * budget, DFS-ish priority order) in canonical (round, host, seq) order.
  *
  * The distributed scheduler must match this oracle bit-for-bit on:
  * fetch log, final seen set, and per-row span sequences (kind, text,
  * media_ref, order) — asserted in CrawlSchedulerSpec.
  */
final class CrawlOracle(cfg: CrawlConfig) {

  final case class Result(
      fetchLog: Vector[FetchLogEntry],
      docs: Map[String, Doc], // doc_id -> Doc
      seen: Map[String, Int], // url_hash -> status
      rounds: Int
  )

  /** Mutable crawl state, factored out of [[run]] so [[runWithRevoke]]
    * can apply revocation semantics between two [[loop]] passes.
    */
  private final class St {
    val fetcher = SimulatedFetcher(cfg.web, simulateLatency = false)
    var frontier: Vector[FrontierEntry] = Vector.empty
    val robots = mutable.Map.empty[String, Seq[String]]
    val tokens = mutable.Map.empty[String, Double]
    val seen = mutable.Map.empty[String, Int]
    val docs = mutable.Map.empty[String, Doc]
    val log = mutable.ArrayBuffer.empty[FetchLogEntry]
    // cumulative link graph for cfg.rankPriority (60-bit nid pairs —
    // the scheduler's per-round edge slots, deduplicated, as one set)
    val edges = mutable.HashSet.empty[(Long, Long)]
    var r = 1
  }

  private def initState(): St = {
    val st = new St
    // init (mirrors CrawlScheduler.init)
    val seeds = cfg.web.seedUrls.zipWithIndex.map { case (u, i) =>
      Fetcher.entryOf(u, SyntheticWeb.priorityOf(u), i.toLong, 0, 0, cfg.salts)
    }
    val robotsSeeds = seeds.map(_.host).distinct.zipWithIndex.map { case (h, i) =>
      Fetcher.entryOf(s"https://$h/robots.txt", 0, i.toLong, 0, 0, cfg.salts)
    }
    st.frontier = (robotsSeeds ++ seeds).distinctBy(_.url_hash).toVector
    st.frontier.map(_.host).distinct.foreach(h => st.tokens(h) = 0.0)
    st
  }

  private def result(st: St): Result =
    Result(st.log.toVector, st.docs.toMap, st.seen.toMap, st.r - 1)

  def run(): Result = {
    val st = initState()
    loop(st)
    result(st)
  }

  /** [[run]], then the scheduler's `revoke(urls, reseed)` semantics
    * applied sequentially, then the resumed rounds — full fetch-log /
    * seen / span parity across an administrative revocation. Models a
    * revoke against a DRAINED crawl (the scheduler also allows
    * mid-crawl revokes; the sequential model keeps the drained case).
    * Round numbering mirrors the scheduler exactly: the revoke commit
    * occupies round latest+1 with no fetches, reseed entries carry
    * (dt = (latest+1)*1e6 + i, round = latest+1) like
    * CrawlScheduler.revoke's entryOf calls, and resumed fetches start
    * at latest+2.
    */
  def runWithRevoke(urls: Seq[String], reseed: Seq[String] = Nil): Result = {
    val st = initState()
    loop(st)
    require(st.frontier.isEmpty, "oracle revoke models a drained crawl")
    urls.foreach { u =>
      st.seen.remove(UrlCanon.urlHash(UrlCanon.canonicalize(u)))
    }
    val rr = st.r // latest + 1: the round the revoke commit occupies
    // mirror CrawlScheduler.revoke: a reseed onto a never-seen host
    // also seeds that host's robots.txt (st.tokens membership is the
    // sequential equivalent of a host_state row)
    val reseedHostsOrdered = reseed
      .map(u => UrlCanon.hostOf(UrlCanon.canonicalize(u))).distinct
    val robotsSeedUrls = reseedHostsOrdered
      .filterNot(st.tokens.contains)
      .map(h => s"https://$h/robots.txt")
    st.frontier = (robotsSeedUrls ++ reseed).zipWithIndex.map { case (u, i) =>
      Fetcher.entryOf(u, SyntheticWeb.priorityOf(u),
                      rr.toLong * 1000000L + i, 0, rr, cfg.salts)
    }.distinctBy(_.url_hash).toVector
    // new reseed hosts start at zero tokens (HostState defaults);
    // existing hosts keep their drained-state balance, like host_state
    st.frontier.map(_.host).distinct.foreach(h =>
      if (!st.tokens.contains(h)) st.tokens(h) = 0.0)
    st.r = rr + 1
    loop(st)
    result(st)
  }

  private def loop(st: St): Unit = {
    import st._
    val entryOrd = CrawlScheduler.entryOrd
    var done = frontier.isEmpty
    // per-invocation budget, mirroring CrawlScheduler.run(): a resumed
    // loop after a revoke gets a full maxRounds budget of its own
    val startR = r
    while (!done && r - startR < cfg.maxRounds) {
      val retries = mutable.ArrayBuffer.empty[FrontierEntry]
      // per fetched page: (source url_hash, links)
      val pageLinks = mutable.ArrayBuffer.empty[(String, Seq[String])]

      // robots prefetch sub-step (budget-exempt, seq 0; mirrors scheduler)
      frontier.filter(_.priority == 0).foreach { e =>
        val fr = fetcher.fetch(e)
        log += FetchLogEntry(r, fr.host, UrlCanon.hostHash(fr.host), 0,
                             fr.url, fr.url_hash, fr.status)
        if (fr.status == 200) {
          if (!robots.contains(fr.host))
            robots(fr.host) = Robots.parse(fr.host, fr.body).disallow_prefixes
          seen(fr.url_hash) = 200
        } else if (fr.status == 404) {
          if (!robots.contains(fr.host)) robots(fr.host) = Nil
          seen(fr.url_hash) = 404
        } else {
          if (fr.attempt + 1 <= cfg.maxAttempts)
            retries += e.copy(attempt = fr.attempt + 1, round = r)
          else {
            if (!robots.contains(fr.host)) robots(fr.host) = Nil
            seen(fr.url_hash) = 599
          }
        }
      }
      val rest = frontier.filter(_.priority != 0)

      // robots gate (with this round's rules)
      val eligible = mutable.ArrayBuffer.empty[FrontierEntry]
      val held = mutable.ArrayBuffer.empty[FrontierEntry]
      rest.foreach { e =>
        val known = robots.contains(e.host)
        val allowed = !known || Robots.allowed(e.url, robots(e.host))
        if (known && !allowed) () // blocked: dropped
        else if (known) eligible += e
        else held += e
      }

      // budgets + per-host selection (seq starts at 1; robots took 0)
      val byHost = eligible.groupBy(_.host)
      val selected = mutable.ArrayBuffer.empty[(FrontierEntry, Int)]
      byHost.toSeq.sortBy(h => UrlCanon.hostHash(h._1)).foreach { case (h, es) =>
        val avail = math.min(
          capacityOf(h), tokens.getOrElse(h, 0.0) + refillOf(h))
        val budget = math.floor(avail).toInt
        es.sorted(entryOrd).take(budget).zipWithIndex.foreach { case (e, i) =>
          selected += ((e, i + 1))
        }
      }
      val selectedHashes = selected.map(_._1.url_hash).toSet

      // fetch + parse (main phase: non-robots pages only)
      selected.foreach { case (e, seq) =>
        val fr = fetcher.fetch(e)
        log += FetchLogEntry(r, fr.host, UrlCanon.hostHash(fr.host), seq,
                             fr.url, fr.url_hash, fr.status)
        if (fr.status == 200) {
          val p = HtmlSpans.parse(fr.url, fr.body)
          docs(fr.url_hash) = Doc(fr.url_hash, fr.url, fr.host, r, p.spans)
          pageLinks += ((fr.url_hash, p.links))
          seen(fr.url_hash) = 200
        } else if (fr.status == 404) {
          seen(fr.url_hash) = 404
        } else {
          if (fr.attempt + 1 <= cfg.maxAttempts)
            retries += e.copy(attempt = fr.attempt + 1, round = r)
          else seen(fr.url_hash) = 599
        }
      }

      // candidates — dt = r*1e6 + per-page link index, dedup keeps the
      // entryOrd-min, exactly like the scheduler's flatMap+reduceGroups
      val cands = mutable.Map.empty[String, FrontierEntry]
      val candList = mutable.ArrayBuffer.empty[FrontierEntry]
      pageLinks.foreach { case (_, ls) =>
        ls.zipWithIndex.foreach { case (u, i) =>
          val canon = UrlCanon.canonicalize(u)
          candList += Fetcher.entryOf(canon, SyntheticWeb.priorityOf(canon),
                                      r.toLong * 1000000L + i, 0, r, cfg.salts)
        }
      }
      candList.foreach { c =>
        cands.get(c.url_hash) match {
          case Some(prev) if entryOrd.lteq(prev, c) => ()
          case _                                    => cands(c.url_hash) = c
        }
      }
      // rank-informed restamp (mirrors the scheduler's candRanked step):
      // the cumulative graph through THIS round, same integer PageRank,
      // same NLZ bucket — stamp after dedup (identical per hash)
      if (cfg.rankPriority) {
        pageLinks.foreach { case (srcHash, ls) =>
          val src = CrawlScheduler.nidOf(srcHash)
          ls.foreach { u =>
            edges += ((src, CrawlScheduler.nidOf(
              UrlCanon.urlHash(UrlCanon.canonicalize(u)))))
          }
        }
        val ranks = seqRanks(edges, CrawlScheduler.RankIters)
        val maxRank = if (ranks.isEmpty) 0L else ranks.values.max
        cands.keys.toVector.foreach { h =>
          val c = cands(h)
          cands(h) = c.copy(priority = CrawlScheduler.rankedPriority(
            c.priority, ranks.getOrElse(CrawlScheduler.nidOf(h), 0L), maxRank))
        }
      }
      val candSeenFree = cands.values.filterNot(c => seen.contains(c.url_hash)).toVector

      // robots.txt entries for newly-discovered hosts (constant dt,
      // url_hash tiebreak — mirrors the scheduler's distributed variant)
      val newHosts = candSeenFree.map(_.host).distinct.filterNot(robots.contains)
      val robotsCand = newHosts.map { h =>
        Fetcher.entryOf(s"https://$h/robots.txt", 0, r.toLong * 1000000L, 0,
                        r, cfg.salts)
      }.filterNot(c => seen.contains(c.url_hash))

      // exclusions + new frontier
      val remaining = held.toVector ++
        eligible.filterNot(e => selectedHashes.contains(e.url_hash))
      val remainingHashes = remaining.map(_.url_hash).toSet
      val retryHashes = retries.map(_.url_hash).toSet
      val newCand = (candSeenFree ++ robotsCand)
        .filterNot(c => remainingHashes.contains(c.url_hash))
        .filterNot(c => selectedHashes.contains(c.url_hash))
        .filterNot(c => retryHashes.contains(c.url_hash))
      frontier = remaining ++ retries ++ newCand

      // token update (all known hosts refill; selected counts drain)
      val selCount = selected.groupBy(_._1.host).view.mapValues(_.size).toMap
      tokens.keys.toVector.foreach { h =>
        tokens(h) = math.min(capacityOf(h), tokens(h) + refillOf(h)) -
          selCount.getOrElse(h, 0).toDouble
      }
      frontier.map(_.host).distinct.foreach(h =>
        if (!tokens.contains(h)) tokens(h) = 0.0)

      done = frontier.isEmpty
      r += 1
    }
  }

  private def capacityOf(host: String): Double = cfg.hostCapacity
  private def refillOf(host: String): Double = cfg.hostRefill

  /** Sequential integer fixed-point PageRank — the independent
    * recomputation of [[graft.ops.PageRank.ranks]]'s arithmetic (scale
    * 1e12, damping 85/100, floor division): long addition commutes, so
    * this plain loop and the distributed aggregate are bit-equal.
    */
  private def seqRanks(es: collection.Set[(Long, Long)],
                       iters: Int): Map[Long, Long] = {
    if (es.isEmpty) return Map.empty
    val nodes = (es.map(_._1) ++ es.map(_._2)).toVector
    val n = nodes.size.toLong
    val outDeg = es.toVector.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (graft.ops.PageRank.scale * 15L / 100L) / n
    var rank = nodes.map(_ -> graft.ops.PageRank.scale / n).toMap
    (1 to iters).foreach { _ =>
      val sums = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => sums(d) += rank(s) / outDeg(s) }
      rank = nodes.map(nd => nd -> (base + sums(nd) * 85L / 100L)).toMap
    }
    rank
  }
}
