package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.canon.UrlCanon
import graft.parse.HtmlSpans
import graft.sched.CrawlConfig
import graft.seen.{BloomFilter, SeenIndex}
import graft.synthweb.{SyntheticWeb, WebConfig}

/** Pure-function layer probes, run on a sample of the measured crawl's
  * own pages in the traced run: each layer's public function is timed
  * from outside, single-threaded on the driver.
  */
object Probes {
  val sampleRows = 3000
  val passes = 5

  /** Median over `passes` of one pass's seconds per item. */
  private def perItemUs(n: Int)(pass: => Unit): Double =
    if (n == 0) 0.0
    else Stats.median((1 to passes).map(_ => Stats.timed(pass)._2)) * 1e6 / n

  def crawlLayers(spark: SparkSession, out: Outcome, web: WebConfig,
                  cfg: CrawlConfig, fetchLogPaths: Seq[String]): Unit = {
    // the sample: the first rows by url_hash of the last measured crawl
    val rows = spark.read.parquet(fetchLogPaths: _*)
      .select(col("url"), col("url_hash"), col("status"))
      .orderBy(col("url_hash")).limit(sampleRows).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val urls = rows.map(_._1)
    out.put("synthweb.serve_us",
            perItemUs(urls.length)(urls.foreach(u => SyntheticWeb.serve(web, u, 1))),
            "us")

    val pages = urls.map(u => u -> SyntheticWeb.serve(web, u, 1))
      .collect { case (u, (200, body, _)) => (u, body) }
    out.put("parse.us_per_page",
            perItemUs(pages.length)(pages.foreach { case (u, b) => HtmlSpans.parse(u, b) }),
            "us")
    val parsed = pages.map { case (u, b) => (u, HtmlSpans.parse(u, b)) }
    out.put("parse.spans_per_doc",
            Stats.mean(parsed.map(_._2.spans.size.toDouble).toSeq), "count")

    val links = parsed.flatMap { case (u, p) => p.links.map(HtmlSpans.resolveUrl(u, _)) }
    out.put("canon.us_per_url",
            perItemUs(links.length)(links.foreach(l =>
              UrlCanon.urlHash(UrlCanon.canonicalize(l)))),
            "us")

    // seen tiers: half the link hashes are present, half are not
    val hashes = links.map(l => UrlCanon.urlHash(UrlCanon.canonicalize(l))).distinct
    val (in, notIn) = rows.map(_._2).splitAt(rows.length / 2)
    val probe = hashes ++ notIn
    out.put("seen.bloom_us", perItemUs(in.length + probe.length) {
      val bf = new BloomFilter(cfg.bloomShardBits, cfg.bloomHashes)
      in.foreach(bf.put)
      probe.foreach(bf.mightContain)
    }, "us")
    val idx = SeenIndex.fromHex(in.toSeq ++ hashes.take(hashes.length / 2))
    out.put("seen.index_contains_us",
            perItemUs(probe.length)(probe.foreach(idx.contains)), "us")
  }
}

/** The per-layer metric names, in one place: a traced run reports each
  * of them, 0 where the workload does not run that layer.
  */
object Layers {
  val sched: Seq[(String, String)] =
    Phases.names.flatMap(p => Seq(
      s"sched.$p.wall_s" -> "s", s"sched.$p.task_s" -> "s",
      s"sched.$p.jobs" -> "count", s"sched.$p.tasks" -> "count",
      s"sched.$p.shuffle_mb" -> "MB", s"sched.$p.output_mb" -> "MB")) ++
    Seq("sched.driver_gap_s" -> "s", "sched.pre_fetch_s" -> "s",
        "sched.jobs_per_round" -> "count",
        "sched.round_wall_s" -> "s", "sched.phase_sum_s" -> "s")

  val crawl: Seq[(String, String)] = Seq(
    "synthweb.serve_us" -> "us", "fetch.selected" -> "count",
    "fetch.fetched_ok" -> "count", "fetch.ok_ratio" -> "ratio",
    "parse.us_per_page" -> "us", "parse.spans_per_doc" -> "count",
    "canon.us_per_url" -> "us", "seen.bloom_us" -> "us",
    "seen.index_contains_us" -> "us", "store.bytes_written_mb" -> "MB",
    "store.files_written" -> "count", "store.compaction_round_s" -> "s",
    "store.compaction_jobs" -> "count")

  val ops: Seq[(String, String)] = Seq(
    "ops.exact.wall_s" -> "s", "ops.minhash.wall_s" -> "s",
    "ops.minhash.shuffle_mb" -> "MB", "ops.minhash.dropped_rows" -> "count",
    "ops.cosine.wall_s" -> "s", "ops.cosine.shuffle_mb" -> "MB",
    "ops.cosine.jobs" -> "count", "ops.cc.rounds" -> "count",
    "ops.cc.wall_s" -> "s", "ops.cc.spill_mb" -> "MB",
    "ops.cc.storage_mb_peak" -> "MB", "ops.ingest.lsh_s" -> "s",
    "ops.ingest.ann_s" -> "s", "ops.ingest.index_mb_written" -> "MB",
    "ops.ingest.compact_round_s" -> "s")

  val run: Seq[(String, String)] = Seq(
    "jvm.gc_s" -> "s", "host.steal_pct" -> "%", "codegen.compiles" -> "count",
    "trace.unit_untraced_s" -> "s", "trace.unit_traced_s" -> "s",
    "trace.overhead_s" -> "s")

  val all: Seq[(String, String)] = sched ++ crawl ++ ops ++ run

  /** Puts 0 for every layer metric the workload did not measure. */
  def fillZeros(out: Outcome): Unit =
    all.foreach { case (n, u) => if (!out.metrics.contains(n)) out.put(n, 0.0, u) }
}
