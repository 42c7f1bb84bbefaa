package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fetch.SimulatedFetcher
import graft.model.FrontierEntry
import graft.ops.{Chunking, ConnectedComponents, Decontaminate, Dedup, Extract, FacetSplit, GlobalIndex, IncrementalAnn, IncrementalLsh, Multimodal, Packing, PageRank, Sampling, Similarity, TextOps}
import graft.parse.{CssSelect, HtmlSpans, TrimHtml}
import graft.sources.{CursorSource, GraphQlSource}
import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.Snapshots
import graft.streaming.{Replay, Streams}
import graft.synthweb.WebConfig
import graft.util.TempDirs

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the training-data operators; `oracleSql` carries
  * the DuckDB-equivalent SQL for every SQL-expressible query (column
  * names are aligned on both sides; aggregates are rounded/cast so the
  * hash compare is type- and ulp-stable).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-invocation suffix for q91's catalog table names — a fixed name
    * would make repeated runs depend on overwrite semantics and leak
    * one session-global entry forever.
    */
  private val bucketTableSeq = new java.util.concurrent.atomic.AtomicLong()

  /** One crawl of `cfg` per JVM, run on first use into a temp dir that
    * later calls share (outDir cached).
    */
  private[graft] class CrawlFixture(prefix: String, val cfg: String => CrawlConfig) {
    private var out: String = _
    def dir(s: SparkSession): String = synchronized {
      if (out == null) {
        val o = TempDirs.create(prefix)
        crawl(s, cfg(o))
        out = o
      }
      out
    }
    protected def crawl(s: SparkSession, c: CrawlConfig): Unit =
      new CrawlScheduler(s, c).run()
    def lastRound(s: SparkSession): Int =
      new Snapshots(dir(s)).latestRound.getOrElse(0)
  }

  /** One small deterministic crawl, shared by the crawl-derived queries
    * and `entry`. cfg is shared with the sequential oracle dumps
    * ([[graft.oracle.SeqOracles]]).
    */
  private[graft] object CrawlOnce extends CrawlFixture("graft-crawl-", out =>
    CrawlConfig(
      web = WebConfig(seed = 1234, nHosts = 4, listPagesPerHost = 3,
                      detailsPerList = 6, hotHostFactor = 2,
                      crossHostLinkPct = 15),
      outDir = out, maxRounds = 48, hostCapacity = 8, hostRefill = 8,
      salts = 4))

  /** Rank-priority sibling of [[CrawlOnce]]: the SAME synthetic web
    * crawled with `rankPriority` on — q93's fixture; the sequential
    * oracle runs [[graft.oracle.CrawlOracle]] with the same flag.
    */
  private[graft] object RankCrawlOnce extends CrawlFixture("graft-rankcrawl-", out =>
    CrawlOnce.cfg(out).copy(rankPriority = true))

  /** Real-transport sibling of [[CrawlOnce]]: the SAME synthetic web
    * crawled over REAL loopback HTTP — a [[graft.synthweb.SynthWebServer]]
    * gateway serves the pages, [[graft.fetch.HttpFetcher]] fetches them
    * with the ST4 transport limits applied. q95's fixture; its oracle is
    * the SAME sequential dump as q51's, because transport must not
    * change the crawl (RealTransportSpec pins the parity in-suite).
    */
  private[graft] object HttpCrawlOnce extends CrawlFixture("graft-httpcrawl-", CrawlOnce.cfg) {
    override protected def crawl(s: SparkSession, c: CrawlConfig): Unit = {
      val server = new graft.synthweb.SynthWebServer(c.web)
      try new CrawlScheduler(
        s, c.copy(fetcher = graft.fetch.HttpFetcherFactory(server.baseUrl))).run()
      finally server.stop()
    }
  }

  /** Flagship: full crawl of the synthetic web → interleaved-span docs. */
  def entry(spark: SparkSession): DataFrame = {
    val snaps = new Snapshots(CrawlOnce.dir(spark))
    spark.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(spark)): _*)
      .select(col("doc_id"), col("url"), col("host"), col("round"),
              size(col("spans")).as("n_spans"))
      .orderBy("doc_id")
  }

  /** q67 — the full training-data pipeline as ONE query over the crawl
    * output: extract (text spans -> page text), exact dedup
    * (content_key, keep min doc_id), near-dup (MinHash LSH at jaccard
    * 1.0 — equal shingle sets survive exact dedup when only punctuation
    * differs; drop the higher id of every verified pair),
    * token/quality/lang-id annotation with a minimum-length gate, and
    * per-doc multimodal metadata joined back — the committed
    * training-shard table. Every stage is the same library operator the
    * standalone queries test; the oracle recomposes the semantics in
    * SQL over the INDEPENDENT SeqOracles sequential dumps (q50/q52/q39),
    * so the composition is checked end to end.
    *
    * `scaleIds` selects the numeric surrogate the near-dup machinery
    * keys on (doc_id is a sha-256 hex STRING; the LSH pair generator
    * keys on longs, and drop-the-higher must agree with the oracle's
    * lexicographic doc_id comparison — so the surrogate must be
    * order-preserving):
    *   - false: dense `row_number` over doc_id — exact at any size but
    *     a single-partition window, i.e. driver-scale (the correctness
    *     fixture path, and the one the DuckDB oracle mirrors);
    *   - true: the CORPUS-SCALE path — the numeric value of the first
    *     15 hex chars (60 bits, fits a long with sign bit clear),
    *     computed row-locally with zero shuffles. Fixed-width lowercase
    *     hex compares identically as a string and as its numeric value,
    *     so pair orientation matches the row_number path whenever no
    *     two surviving docs collide on the 15-char prefix (birthday
    *     bound ~n^2/2^61: ~4e-5 at n=10^7 docs per shard run;
    *     TrainingShardIdSpec pins zero collisions and bit-equal output
    *     on the crawl fixture).
    */
  private[graft] def trainingShard(s: SparkSession,
                                   scaleIds: Boolean): DataFrame = {
    val snaps = new Snapshots(CrawlOnce.dir(s))
    val docs = s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
    val texts = docs.select(
        col("doc_id"), col("url"), col("host"),
        concat_ws(" ",
          transform(filter(col("spans"),
                           sp => sp.getField("kind") === lit("text")),
                    sp => sp.getField("text"))).as("text"))
      .withColumn("content_key", TextOps.content_key(col("text")))
    // exact dedup: one shuffle on the 64-char key, keep-min winner
    val keep = texts.groupBy("content_key").agg(min(col("doc_id")).as("doc_id"))
    val exact = texts.join(keep, Seq("content_key", "doc_id"))
    val sid =
      if (scaleIds)
        exact.withColumn(
          "nid", conv(substring(col("doc_id"), 1, 15), 16, 10).cast("long"))
      else
        exact.withColumn(
          "nid", row_number().over(Window.orderBy("doc_id")).cast("long"))
    val nearDrop = Dedup.minhashNearDups(sid, "nid", "text",
                                         shingleN = 3, numHashes = 32,
                                         rowsPerBand = 4, threshold = 1.0)
      .select(col("id_b").as("nid")).distinct()
    val deduped = sid.join(nearDrop, Seq("nid"), "left_anti").drop("nid")
    // multimodal: per-doc image refs joined to the decoded metadata
    // (tiny dimension -> broadcast)
    val meta = Multimodal.imageMeta(s, Multimodal.mediaTableFromDocs(s, docs))
    val imgPerDoc = docs
      .select(col("doc_id"), explode(col("spans")).as("sp"))
      .filter(col("sp.kind") === "image")
      .select(col("doc_id"), col("sp.media_ref").as("media_ref")).distinct()
      .join(broadcast(meta.select(col("media_ref"), col("n_bytes"))),
            Seq("media_ref"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_images"), sum(col("n_bytes")).as("img_bytes"))
    deduped
      .withColumn("n_tokens", TextOps.token_count(col("text")).cast("long"))
      .filter(col("n_tokens") >= 5)
      .withColumn("lang_pred", TextOps.lang_id(col("text")))
      .withColumn("stop_ratio", TextOps.stopword_ratio(col("text")))
      .withColumn("mean_wlen", TextOps.mean_word_len(col("text")))
      .join(imgPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("url"), col("host"), col("lang_pred"),
              col("n_tokens"), col("stop_ratio"), col("mean_wlen"),
              col("content_key"),
              coalesce(col("n_images"), lit(0L)).as("n_images"),
              coalesce(col("img_bytes"), lit(0L)).as("img_bytes"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // planted-duplicate corpora (identical construction in the SQL oracle)
  // ------------------------------------------------------------------
  private[graft] def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.filter(col("doc_id") < 60).select(col("doc_id").as("id"), col("text"))
      .union(d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("id"), col("text")))
      .union(d.filter(col("doc_id") >= 30 && col("doc_id") < 60)
        .select((col("doc_id") + 20000).as("id"),
                concat(col("text"), lit(" zz qq")).as("text")))
  }
  /** Two-level taxonomy literal (structure of olx/main.go:11-20;
    * synthetic content) — shared by the Spark query and the oracle.
    */
  private[graft] val taxonomyJson: String =
    """[{"id":100,"name":"jobs","subs":[{"id":101,"name":"driver"},
      |{"id":102,"name":"clerk"},{"id":103,"name":"barista"}]},
      |{"id":200,"name":"services","subs":[{"id":201,"name":"repair"},
      |{"id":202,"name":"catering"}]}]""".stripMargin.replace("\n", "")

  private val htmlScanFixtures =
    scala.collection.concurrent.TrieMap[String, String]()

  private val dedupCorpusSql =
    """SELECT doc_id AS id, text FROM documents WHERE doc_id < 60
      | UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30
      | UNION ALL SELECT doc_id + 20000, text || ' zz qq'
      |   FROM documents WHERE doc_id >= 30 AND doc_id < 60""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- aggregations (A1-A3) ----------------
    "q01_agg_pricing" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
               .as("revenue"),
             round(avg(col("l_discount")), 4).as("avg_disc"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_events_by_type" -> ((s, dir) => {
      T(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("event_type")
    }),
    "q03_orders_minmax" -> ((s, dir) => {
      T(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(round(max(col("o_totalprice")), 2).as("max_price"),
             round(min(col("o_totalprice")), 2).as("min_price"),
             count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    // ---------------- distinct / seen-set analogue (A4) ----------------
    "q04_distinct_users" -> ((s, dir) =>
      T(s, dir, "events").select(col("user_id")).distinct().orderBy("user_id")),
    // ---------------- joins (J1-J5) ----------------
    "q05_join_region" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
             round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy("r_name")
    }),
    "q06_join_left_enrich" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("none")).as("segment"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("segment")
    }),
    "q07_anti_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 300000),
             c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),
    "q08_semi_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    }),
    // ---------------- set ops ----------------
    "q09_union_except" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click" && col("value") > 150)
        .select(col("user_id"))
      val views = e.filter(col("event_type") === "view" && col("value") > 150)
        .select(col("user_id"))
      val errs = e.filter(col("event_type") === "error" && col("value") > 200)
        .select(col("user_id"))
      clicks.union(views).distinct().except(errs).orderBy("user_id")
    }),
    // ---------------- windows (W1-W2, T-family) ----------------
    "q10_window_ffill" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .withColumn("purchase_val",
                    when(col("event_type") === "purchase", col("value")))
        .withColumn("ffill", round(Extract.forward_fill(col("purchase_val"), w), 2))
        .select(col("event_id"), col("user_id"), col("ffill"))
        .orderBy("event_id")
    }),
    "q11_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
                round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderpriority", "rnk")
    }),
    "q12_posexplode" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")
    }),
    "q13_topk" -> ((s, dir) => {
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    }),
    // ---------------- scalar functions (F-family, P-family) ----------------
    "q14_json_get" -> ((s, dir) => {
      T(s, dir, "events")
        .select(col("event_id"),
                Extract.json_get(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),
    "q15_regex_extract" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
                regexp_extract(col("source"), "src(\\d+)", 1).cast("long").as("src_num"))
        .orderBy("doc_id")
    }),
    "q16_trimhtml" -> ((s, dir) => {
      T(s, dir, "documents")
        .withColumn("html",
          concat(lit("<div class=\"x\">"), col("text"),
                 lit("</div><script>var x=1;</script><style>p{}</style><p>tail</p>")))
        .select(col("doc_id"), TrimHtml.trimHtmlLowerChain(col("html")).as("clean"))
        .orderBy("doc_id")
    }),
    "q17_unixtime" -> ((s, dir) => {
      T(s, dir, "events")
        .select(col("event_id"),
                unix_millis(col("ts").cast("timestamp")).as("ms"),
                date_format(Extract.unix_ms_to_ts(unix_millis(col("ts").cast("timestamp"))),
                            "yyyy-MM-dd HH:mm:ss").as("ts_rt"))
        .orderBy("event_id")
    }),
    "q18_slug_url" -> ((s, dir) => {
      T(s, dir, "part")
        .select(col("p_partkey"),
                Extract.slug_url("https://shop.test/item/", col("p_name"),
                                 col("p_partkey")).as("url"))
        .withColumn("id_back", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .orderBy("p_partkey")
    }),
    "q19_split_trim" -> ((s, dir) => {
      T(s, dir, "part")
        .select(col("p_partkey"),
                trim(element_at(split(col("p_type"), " "), 1)).as("type_head"),
                trim(element_at(split(col("p_name"), " "), -1)).as("name_tail"))
        .orderBy("p_partkey")
    }),
    "q20_format_string" -> ((s, dir) => {
      T(s, dir, "part")
        .select(col("p_partkey"),
                format_string("%s-%03d", col("p_brand"), col("p_size")).as("sku"))
        .orderBy("p_partkey")
    }),
    "q21_case_route" -> ((s, dir) => {
      // ST3/P13 status-routing analogue: three-way predicate dispatch
      T(s, dir, "events")
        .select(col("event_id"),
                when(col("value") < 20, "low")
                  .when(col("value") < 60, "mid")
                  .otherwise("high").as("bucket"),
                floor(col("value") * 10).cast("long").as("pct"))
        .orderBy("event_id")
    }),
    "q22_dateformat" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyyMMdd").as("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy("day")
    }),
    "q23_content_key" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.content_key(col("text")).as("content_key"))
        .orderBy("doc_id")
    }),
    // ---------------- text analysis ----------------
    "q29_token_count" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.token_count(col("text")).cast("long").as("n_tokens"),
                length(col("text")).cast("long").as("n_chars_computed"))
        .orderBy("doc_id")
    }),
    "q30_quality" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.stopword_ratio(col("text")).as("stop_ratio"),
                TextOps.mean_word_len(col("text")).as("mean_wlen"))
        .orderBy("doc_id")
    }),
    "q31_langid" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.lang_id(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "q32_fingerprint" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint64(col("text")).as("fp64"),
                TextOps.quality_score(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    // ---------------- dedup family ----------------
    "q25_exact_dedup" -> ((s, dir) => {
      Dedup.exactClusters(dedupCorpus(s, dir), "id", "text")
        .filter(col("n_dups") > 1)
        .select(col("canonical_id"), col("n_dups"))
        .orderBy("canonical_id")
    }),
    "q26_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(dedupCorpus(s, dir), "id", "text", 3, 0.5)
        .orderBy("id_a", "id_b")
    }),
    "q27_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDups(dedupCorpus(s, dir), "id", "text",
                            shingleN = 3, numHashes = 32, rowsPerBand = 4,
                            threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    "q28_simhash" -> ((s, dir) => {
      Dedup.simhashNearDups(dedupCorpus(s, dir), "id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    "q58_full_corpus_neardup" -> ((s, dir) => {
      // MinHash LSH at FULL corpus scale (every document, not the small
      // planted subset): the whole table is duplicated at doc_id+10^7,
      // and banding structurally guarantees recall 1.0 on exact dups
      // (identical texts -> identical signatures -> every band shared),
      // so at threshold 1.0 the expected output is exactly the planted
      // pair set (the corpus's highest ORGANIC shingle-jaccard is
      // 0.9891). This is the scale-behavior probe: sig computation is
      // one codegen'd pass per row, the band exchange carries ids only,
      // buckets are capped.
      val d = T(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val corpus = d.union(d.select((col("id") + 10000000L).as("id"), col("text")))
      Dedup.minhashNearDups(corpus, "id", "text",
                            shingleN = 3, numHashes = 32, rowsPerBand = 4,
                            threshold = 1.0)
        .orderBy("id_a", "id_b")
    }),
    "q62_incremental_neardup" -> ((s, dir) => {
      // Incremental near-dup maintenance (IncrementalLsh): the planted
      // corpus arrives in 3 rounds (id % 3); each round's NEW docs are
      // checked against the persisted band/shingle index only — per-
      // round cost is O(new + touched buckets), not O(corpus). The
      // union of per-round outputs must equal the batch q27 pair set,
      // each pair tagged with the round the MACHINERY emitted it in —
      // the oracle independently pins that to the arrival round of the
      // pair's later member (exactly-once-across-rounds invariant).
      val corpus = dedupCorpus(s, dir)
      val idx = TempDirs.create("graft-inclsh-")
      (0 to 2).map { r =>
        IncrementalLsh.roundPairs(
            s, idx, corpus.filter(pmod(col("id"), lit(3)) === r),
            "id", "text", shingleN = 3, numHashes = 32, rowsPerBand = 4,
            threshold = 0.5)
          .withColumn("emit_round", lit(r))
      }.reduce(_ unionByName _).orderBy("id_a", "id_b")
    }),
    "q72_neardup_clusters" -> ((s, dir) => {
      // pairs -> CLUSTERS: the composition step a dedup pipeline runs
      // after LSH — connected components (large-star/small-star) over
      // the verified pair graph, min-id canonical representative, keep
      // flag on the canonical member. Pairs here are the exact-jaccard
      // set so the oracle is pure SQL (recursive-CTE closure in DuckDB).
      val pairs = Dedup.ngramJaccardPairs(dedupCorpus(s, dir), "id", "text", 3, 0.5)
      ConnectedComponents.clusters(pairs).orderBy("id")
    }),
    "q73_stratified_sample" -> ((s, dir) => {
      // deterministic mixture sampling: per-language keep rates as a
      // pure hash predicate — identical across runs/retries/cluster
      // sizes. Rates duplicated independently in the SeqOracles dump.
      Sampling.stratifiedSample(
          T(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id",
          rates = Map("en" -> 1.0, "de" -> 0.5, "zh" -> 0.25),
          defaultRate = 0.1, seed = "mix-v1")
        .orderBy("doc_id")
    }),
    "q74_pii_redact" -> ((s, dir) => {
      // PII scrub: deterministic planted email+phone per doc (appended
      // to the real text), redacted by the codegen'd regexp chain;
      // match counts audit the redaction. Patterns are alternation-free
      // so the Java and RE2 (DuckDB) dialects agree.
      val raw = concat(
        col("text"), lit(" Reach u"), col("doc_id").cast("string"),
        lit(".x@mail-"), col("lang"), lit(".example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" thanks"))
      T(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
                TextOps.redact_pii(col("raw")).as("clean"),
                TextOps.pii_email_count(col("raw")).cast("long").as("n_emails"),
                TextOps.pii_phone_count(col("raw")).cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),
    "q75_repetition" -> ((s, dir) => {
      // Gopher-style intra-document repetition: duplicate 2-gram
      // fraction over the corpus plus a planted self-repeated copy of
      // every doc (ids +50000) that must land near 0.5 and fail `keep`.
      val d = T(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val corpus = d.union(d.select(
        (col("id") + 50000L).as("id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
      corpus.select(
          col("id"),
          size(TextOps.words(col("text"))).cast("long").as("n_words"),
          TextOps.dup_ngram_fraction(col("text"), 2).as("dup_2gram_frac"))
        .withColumn("keep",
                    (col("dup_2gram_frac") <= 0.3) && (col("n_words") >= 5))
        .orderBy("id")
    }),
    "q76_orc_roundtrip" -> ((s, dir) => {
      // ORC sink+source round-trip: write the documents table as ORC,
      // read it back, aggregate per language with an md5 content
      // checksum — the oracle computes the same aggregate from the
      // parquet source, so any round-trip corruption breaks the hash.
      val out = TempDirs.create("graft-orc-")
      T(s, dir, "documents").write.mode("overwrite").orc(out)
      s.read.orc(out).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").cast("long").as("sum_chars"),
             countDistinct(md5(col("text"))).as("n_distinct_md5"))
        .orderBy("lang")
    }),
    "q85_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL sink+source round-trip — the interchange format training
      // shards actually ship in. Explicit read schema (never inference
      // in a prod path), gzip per-part; fidelity contract = q76's: the
      // oracle aggregates the parquet source, so any text/number
      // mangling through JSON breaks the checksum.
      val out = TempDirs.create("graft-jsonl-")
      val docs = T(s, dir, "documents")
      docs.write.mode("overwrite").option("compression", "gzip").json(out)
      s.read.schema(docs.schema).json(out).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").cast("long").as("sum_chars"),
             countDistinct(md5(col("text"))).as("n_distinct_md5"))
        .orderBy("lang")
    }),
    "q77_token_packing" -> ((s, dir) => {
      // token-budget shard assignment (sequence packing): contiguous
      // shards of ~200 tokens per source group (sized so sf0.01's
      // 1.1-1.6k tokens/source split into 5-8 shards — the budget
      // boundary is actually exercised), deterministic in
      // (source, doc_id) order — a pure prefix-sum window.
      val docs = T(s, dir, "documents").select(
        col("doc_id"), col("source"),
        TextOps.token_count(col("text")).cast("long").as("n_tokens"))
      Packing.tokenPack(docs, "source", "doc_id", "n_tokens", 200L)
        .select("doc_id", "source", "n_tokens", "cum_tokens", "shard")
        .orderBy("doc_id")
    }),
    "q78_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing any word 5-gram with
      // the benchmark set are flagged. Benchmark = every doc_id%100==0
      // doc (a small eval suite); contamination planted as new docs
      // (+100000) carrying a 7-word fragment of a benchmark item behind
      // an out-of-vocabulary prefix — those must flag, the fragment's
      // three 5-grams counted exactly. Benchmark grams broadcast; the
      // corpus side is one codegen'd shingling pass (Decontaminate doc).
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 100 === 0)
      val planted = bench.select(
        (col("doc_id") + 100000L).as("id"),
        concat(lit("zzqa unrelated prefix "),
               array_join(slice(TextOps.words(col("text")), 1, 7), " "))
          .as("text"))
      val corpus = docs.select(col("doc_id").as("id"), col("text"))
        .unionByName(planted)
      Decontaminate.overlap(corpus, bench, "id", "text", n = 5)
        .orderBy("id")
    }),
    "q87_fuzzy_decontaminate" -> ((s, dir) => {
      // fuzzy decontamination: thresholded near-dup similarity against
      // the eval set — catches PARAPHRASED leakage that q78's exact
      // n-gram overlap treats the same as any shared phrase. Benchmark
      // items are first-word-dropped variants of every doc_id%100==0
      // doc (jaccard ~0.96 vs the original — a light paraphrase); the
      // union rides the same capped MinHash+LSH machinery as q27/q58
      // with exact-jaccard verification, then only cross (corpus,
      // bench) pairs survive. Scale shape inherits the ids-only banded
      // exchange; the eval set adds O(|bench|) rows to it.
      // Banding is 32 bands of 2 (not q27's 8x4): the oracle is EXACT
      // jaccard >= 0.6 over all cross pairs, so candidate recall at the
      // 0.6 boundary must be effectively certain, not just high — miss
      // probability (1 - 0.6^2)^32 = 0.64^32 ~ 6e-7 per marginal pair
      // (8x4 would miss a j=0.6 pair with probability ~0.33: a latent
      // data-dependent flake if the corpus ever grows a natural
      // near-dup at marginal similarity).
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000L).as("id"),
                array_join(slice(TextOps.words(col("text")), 2, 1000000), " ")
                  .as("text"))
      val union = docs.select(col("doc_id").as("id"), col("text"))
        .unionByName(bench)
      // certain recall must not leak back in through the bucket cap:
      // a capped bucket silently drops candidates, so a decontamination
      // sweep (correctness-gated, unlike throughput dedup) forces the
      // result and REQUIRES zero drops — a pathological bucket fails
      // loud instead of passing a contaminated corpus. (Pipeline order
      // at scale keeps this safe: dedup runs BEFORE decon, so no
      // near-identical flood can concentrate one bucket.)
      val acc = s.sparkContext.longAccumulator("q87_lsh_dropped")
      val pairs = Dedup.minhashNearDups(union, "id", "text", shingleN = 3,
                                        numHashes = 64, rowsPerBand = 2,
                                        threshold = 0.6, maxBucket = 1024,
                                        acc = Some(acc))
        .filter(col("id_a") < 1000000L && col("id_b") >= 1000000L)
        .select(col("id_a").as("doc_id"),
                (col("id_b") - 1000000L).as("bench_doc"), col("jaccard"))
        .orderBy("doc_id", "bench_doc")
        .localCheckpoint()
      require(acc.value == 0L,
              s"q87: ${acc.value} LSH bucket rows capped — recall no " +
                "longer certain; dedup the corpus first or raise maxBucket")
      pairs
    }),
    "q79_chunking" -> ((s, dir) => {
      // sliding-window chunking: 12-word chunks at stride 8 (overlap
      // 4) — sf0.01 docs run ~20-40 words, so every doc exercises the
      // multi-chunk path and the short tail chunk. Row-local, zero
      // shuffles (Chunking doc).
      Chunking.slidingChunks(T(s, dir, "documents"), "doc_id", "text",
                             chunkSize = 12, stride = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")
    }),
    "q80_term_rarity" -> ((s, dir) => {
      // rarity-weighted term ranking per language: score = tf * N / df
      // (raw inverse document frequency — integer-exact cross-engine,
      // unlike log-idf whose last-ulp could differ between libm and
      // java.lang.Math). Two partial-aggregated shuffles (term counts,
      // doc frequencies); top-5 per language via row_number.
      val docs = T(s, dir, "documents")
      val w = docs.select(col("doc_id"), col("lang"),
                          explode(TextOps.words(col("text"))).as("term"))
      val nDocs = docs.count()
      val tf = w.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
      val dfreq = w.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val win = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .withColumn("score",
                    (col("tf") * lit(nDocs)).cast("double")
                      / col("df").cast("double"))
        .withColumn("rank", row_number().over(win).cast("long"))
        .filter(col("rank") <= 5)
        .select("lang", "term", "tf", "df", "score", "rank")
        .orderBy("lang", "rank")
    }),
    "q81_quantiles" -> ((s, dir) => {
      // exact distributed percentiles of doc length per language plus
      // an ALL row — the quality-thresholding step (e.g. "drop the
      // shortest decile") needs exact cutoffs reproducible across
      // engines. Spark's exact `percentile` aggregates a value->count
      // map per group: memory is O(distinct lengths), not O(rows) —
      // bounded for a length-like column at any corpus size (for truly
      // unbounded domains switch to approx_percentile; this query pins
      // the exact path). Interpolated values here carry <= 2 decimals
      // (integer data), so round(.,4) is hash-stable cross-engine.
      val docs = T(s, dir, "documents")
      def pct(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
        count(lit(1)).as("n"),
        round(expr("percentile(n_chars, 0.5D)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9D)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99D)"), 4).as("p99"))
      pct(docs.groupBy("lang"))
        .unionByName(pct(docs.withColumn("lang", lit("ALL")).groupBy("lang")))
        .orderBy("lang")
    }),
    "q92_partitioned_scan" -> ((s, dir) => {
      // directory-partitioned layout + partition pruning: documents
      // written partitionBy(lang, source); a per-language read then
      // scans ONLY that language's directories (PlanSpec pins the
      // PartitionFilters and that the pruned scan touches a strict
      // subset of partitions) — at 100 TB the dominant scan-cost lever
      // after column pruning.
      val out = TempDirs.create("graft-part-")
      T(s, dir, "documents")
        .write.partitionBy("lang", "source").mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").cast("long").as("sum_chars"),
             countDistinct(md5(col("text"))).as("n_distinct_md5"))
        .orderBy("source")
    }),
    "q94_jdbc_roundtrip" -> ((s, dir) => {
      // K2 JDBC batch sink, exercised for REAL against embedded Derby
      // (the one JDBC engine on the sandbox classpath): write the
      // supplier table through JdbcSink with concurrent writer
      // partitions, read it back over JDBC, and aggregate with
      // order-independent fidelity probes on every column class —
      // integer sum (BIGINT), md5-distinct (CLOB/string), min/max
      // (DOUBLE, exact binary copies) — against the parquet source as
      // oracle. Any type-mapping or batching corruption in either
      // direction breaks the hash. MySQL in production differs only in
      // url/driver strings (db/mysql.go:8-19).
      val out = TempDirs.create("graft-derby-")
      // keep Derby's engine log inside the per-run temp dir
      System.setProperty("derby.stream.error.file", s"$out/derby.log")
      val url = s"jdbc:derby:$out/db;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      graft.sinks.JdbcSink(url, "supplier_rt", user = "app",
                           password = "app", driver = driver,
                           batchSize = 64, numPartitions = 4)
        .write(T(s, dir, "supplier"))
      s.read.format("jdbc").option("url", url).option("driver", driver)
        .option("dbtable", "supplier_rt").load()
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
             sum("s_suppkey").cast("long").as("sum_keys"),
             min("s_acctbal").as("min_bal"),
             max("s_acctbal").as("max_bal"),
             countDistinct(md5(col("s_name"))).as("n_distinct_md5"))
        .orderBy("s_nationkey")
    }),
    "q96_asof_join" -> ((s, dir) => {
      // backward as-of join (the operator Spark has no built-in for):
      // every click gets the user's most recent purchase at-or-before
      // it, left-outer. Right side pre-deduped per (user, ts) with
      // plain max aggregates so "most recent" is total — the same
      // dedupe the oracle applies, so DuckDB's ASOF LEFT JOIN is an
      // independent reimplementation of the semantics. Plan: one
      // union, one exchange on user_id, one running-frame window
      // (TemporalJoin.asofBackward; no row replication, no cartesian).
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("purchase_id"),
             max("value").as("purchase_value"))
      graft.ops.TemporalJoin
        .asofBackward(clicks, purchases, key = "user_id",
                      leftTs = "ts", rightTs = "ts",
                      payloadCols = Seq("purchase_id", "purchase_value"))
        .orderBy("event_id")
    }),
    "q101_asof_forward" -> ((s, dir) => {
      // forward as-of join — "what happened next": every click gets
      // the user's EARLIEST purchase at-or-after it, left-outer. Same
      // dedupe and plan shape as q96 (one union, one exchange, one
      // running-frame window — time-reversed). DuckDB has no native
      // forward ASOF, so the oracle is the independent arg_min
      // formulation over the inequality join.
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("purchase_id"),
             max("value").as("purchase_value"))
      graft.ops.TemporalJoin
        .asofForward(clicks, purchases, key = "user_id",
                     leftTs = "ts", rightTs = "ts",
                     payloadCols = Seq("purchase_id", "purchase_value"))
        .orderBy("event_id")
    }),
    "q97_range_join" -> ((s, dir) => {
      // pure interval range join (no equi key): each purchase opens a
      // 30-minute attribution window; count the windows containing
      // each click. TemporalJoin.intervalJoin buckets time at the
      // window width so the plan is a shuffled equi-join on the
      // bucket (replication ≤ 2 per interval), never a
      // BroadcastNestedLoopJoin over the corpus — the oracle is
      // DuckDB's native inequality join.
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts")
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
                col("ts").as("w_start"),
                (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      graft.ops.TemporalJoin
        .intervalJoin(clicks, "ts", windows, "w_start", "w_end",
                      bucketSec = 1800L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_windows"),
             min("purchase_id").as("first_purchase"))
        .orderBy("event_id")
    }),
    "q98_kmv_distinct" -> ((s, dir) => {
      // KMV distinct-count sketch per language (the "novel sketch" of
      // the custom-operator triple): deterministic given the hash, so
      // the oracle re-derives the exact same k smallest md5-prefix
      // hashes and integer-division estimate from scratch. Plan: one
      // distinct exchange + the salted two-phase top-k (O(k) task
      // memory) + a tiny final agg; the sketch rows are mergeable
      // across shards (SketchesSpec pins merge == whole).
      val k = 64
      val sk = graft.ops.Sketches.kmvSketch(
        T(s, dir, "documents"), "lang", "text", k)
      graft.ops.Sketches.kmvEstimate(sk, "lang", k)
        .orderBy("lang")
    }),
    "q100_kmv_setops" -> ((s, dir) => {
      // KMV sketch algebra: pairwise union/intersection distinct
      // estimates between the part sets shipped in each month of
      // 1996 (~600 distinct parts of 2000 per month — the sets
      // genuinely differ, so union > singles > intersection and a
      // pass-through bug cannot hide), computed entirely from the
      // O(groups*k) sketch rows (the raw table is scanned once, for
      // the sketch). Deterministic integer arithmetic end-to-end —
      // the oracle re-derives sketch, union re-top-k and
      // inclusion-exclusion from scratch in SQL.
      val k = 64
      val li = T(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1996)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
                col("l_partkey").cast("string").as("pk"))
      val sk = graft.ops.Sketches.kmvSketch(li, "ship_month", "pk", k)
      graft.ops.Sketches.kmvPairEstimates(sk, "ship_month", k)
        .orderBy("ga", "gb")
    }),
    "q102_hist_quantiles" -> ((s, dir) => {
      // deterministic log-bucket quantile sketch (DDSketch-style):
      // p50/p90/p99 of price cents per returnflag from an
      // O(groups*buckets) histogram — one data-scale exchange, raw
      // values never shuffle, counts merge by addition, ~2^-4
      // relative error. Integer arithmetic on binary-string-derived
      // bucket ids end-to-end, so the oracle re-derives the identical
      // estimate (to_base vs conv — both exact, unlike libm log2).
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag"),
                floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val sk = graft.ops.QuantileSketch.histSketch(li, "l_returnflag", "cents")
      graft.ops.QuantileSketch
        .histQuantiles(sk, "l_returnflag", Seq(50, 90, 99))
        .orderBy("l_returnflag", "pct")
    }),
    "q99_bloom_join" -> ((s, dir) => {
      // bloom-prefiltered join: one pass over the (selective) small
      // side builds a persistable, mergeable bloom (the crawl's seen
      // tier generalized to join keys); the big side drops definite
      // non-matches BEFORE its shuffle via a codegen'd probe fused
      // into the scan stage (BloomPruneSpec pins the plan). The bloom
      // has no false negatives, so the result — and the oracle — is
      // exactly the plain join.
      val big = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val small = T(s, dir, "orders")
        .filter(col("o_totalprice") > 350000.0)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.ops.BloomPrune.bloomPrefilteredJoin(big, small, "okey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
             sum("l_quantity").cast("long").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),
    "q91_bucketed_join" -> ((s, dir) => {
      // co-located join via bucketing: both sides bucketed AND sorted
      // on the join key at write time, so the join and the key-aligned
      // aggregate both plan with ZERO hash exchanges (PlanSpec pins
      // it) — at 100 TB this is the shuffle you pay once at layout
      // time instead of on every join. External bucketed tables under
      // a temp path; the in-memory catalog carries the bucket spec.
      val tmp = TempDirs.create("graft-buck-")
      // per-invocation table names: repeated runs never depend on
      // overwrite semantics of a fixed catalog entry; prior invocations'
      // entries are dropped so the session catalog can't accumulate
      // (external tables — DROP removes the entry, TempDirs the files)
      s.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("g91_"))
        .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
      val tag = bucketTableSeq.incrementAndGet()
      val ordersTbl = s"g91_orders_$tag"
      val lineitemTbl = s"g91_lineitem_$tag"
      T(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/orders").mode("overwrite")
        .saveAsTable(ordersTbl)
      T(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/lineitem").mode("overwrite")
        .saveAsTable(lineitemTbl)
      s.table(ordersTbl)
        .join(s.table(lineitemTbl),
              col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(min(col("o_custkey")).as("o_custkey"),
             round(sum("l_quantity"), 2).as("sum_qty"),
             count(lit(1)).as("n_items"))
        .orderBy("o_orderkey")
    }),
    "q89_corpus_diff" -> ((s, dir) => {
      // corpus version diff — the audit a pipeline runs between two
      // materializations: v2 edits every doc_id%10==0 doc, drops every
      // doc_id%17==0 doc, and adds 5 new docs (+200000). Full outer
      // join on the id, change detected by content hash; one shuffle
      // on the join key, content never compared row-by-row on the
      // driver. Output: only the changed rows (added/removed/changed).
      val v1 = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2base = T(s, dir, "documents").filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
                when(col("doc_id") % 10 === 0, concat(col("text"), lit(" edited")))
                  .otherwise(col("text")).as("text"))
      val v2 = v2base.unionByName(
        T(s, dir, "documents").filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
                  concat(lit("new doc "), col("text")).as("text")))
      v1.select(col("doc_id"), md5(col("text")).as("h1"))
        .join(v2.select(col("doc_id"), md5(col("text")).as("h2")),
              Seq("doc_id"), "full_outer")
        .withColumn("change",
                    when(col("h1").isNull, lit("added"))
                      .when(col("h2").isNull, lit("removed"))
                      .when(col("h1") =!= col("h2"), lit("changed")))
        .filter(col("change").isNotNull)
        .select("doc_id", "change")
        .orderBy("doc_id")
    }),
    "q90_schema_evolution" -> ((s, dir) => {
      // schema-evolution read: two shard batches written at different
      // pipeline versions (v1 lacks the n_chars column), read together
      // with mergeSchema and aggregated — the upgrade path a long-lived
      // corpus lives through. Oracle recomputes the aggregate from the
      // source table (v1 rows contribute NULL n_chars).
      val out = TempDirs.create("graft-evo-")
      val docs = T(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$out/v1")
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$out/v2")
      s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").cast("long").as("sum_chars_v2"),
             count(col("n_chars")).as("n_v2_rows"))
        .orderBy("lang")
    }),
    "q88_pagerank" -> ((s, dir) => {
      // deterministic fixed-point PageRank over the part<->supplier
      // bipartite graph from lineitem (both directions, so no dangling
      // mass): supplier authority via shared parts — the centrality
      // machinery a crawl frontier prioritizer runs over its link
      // graph. Integer arithmetic end to end, so the oracle is a
      // bit-exact sequential recomputation (SeqOracles.q88Dump).
      val li = T(s, dir, "lineitem")
        .select(col("l_partkey").cast("long").as("p"),
                (col("l_suppkey").cast("long") + 10000000L).as("sp"))
      val edges = li.select(col("p").as("src"), col("sp").as("dst"))
        .unionByName(li.select(col("sp").as("src"), col("p").as("dst")))
      PageRank.ranks(edges, iterations = 10).orderBy("node")
    }),
    "q84_quality_cutoff" -> ((s, dir) => {
      // threshold application, the step after q81: per-language exact
      // median doc length aggregated once, broadcast back onto the
      // corpus, keep flag computed without re-shuffling a single corpus
      // row — the two-pass "aggregate tiny, broadcast, filter wide"
      // idiom every quality gate at 100 TB should compile to.
      val docs = T(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val cuts = docs.groupBy("lang")
        .agg(round(expr("percentile(n_chars, 0.5D)"), 4).as("p50"))
      docs.join(broadcast(cuts), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p50"),
                (col("n_chars") >= col("p50")).as("keep"))
        .orderBy("doc_id")
    }),
    "q82_global_index" -> ((s, dir) => {
      // global consecutive numbering under a total order (longest docs
      // first, doc_id tiebreak = a key-complete sort): the shard-
      // manifest primitive, with full partition parallelism instead of
      // a single-partition row_number window (GlobalIndex doc).
      GlobalIndex.globalRowNumber(
          T(s, dir, "documents").select("doc_id", "n_chars"),
          Seq(col("n_chars").desc, col("doc_id")), numPartitions = 8)
        .orderBy("global_idx")
    }),
    // ---------------- similarity search ----------------
    "q33_cosine_topk" -> ((s, dir) => {
      // declarative brute-force: round sims, rank by (sim desc, id).
      // The scoring expression is the codegen'd one-pass
      // HashOps.cosineSim — bit-identical (same fold order and sqrt
      // association) to the aggregate/zip_with/transform chain it
      // replaces, which evaluated as interpreted higher-order functions
      // and dominated the query (OpsSpecs pins the equality)
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      c.crossJoin(broadcast(q))
        .withColumn("sim",
                    round(graft.ops.HashOps.cosine_sim_col(col("qv"), col("nv")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
        .orderBy("query_id", "rnk")
    }),
    "q34_ann_brute_typed" -> ((s, dir) => {
      // typed scalable path (bounded per-partition heaps + merge)
      Similarity.bruteForceTopK(s, T(s, dir, "embeddings"), "vec_id",
                                "embedding", (0L until 10L).toSeq, 5)
        .toDF()
        .withColumn("sim", round(col("sim"), 4))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    }),
    "q35_ann_lsh" -> ((s, dir) => {
      Similarity.lshTopK(s, T(s, dir, "embeddings"), "vec_id", "embedding",
                         (0L until 10L).toSeq, 5, tables = 8, bits = 10,
                         probes = 4)
        .toDF()
        .withColumn("sim", round(col("sim"), 4))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    }),
    "q57_ann_ivf" -> ((s, dir) => {
      // IVF coarse-quantizer ANN: the data-adaptive scale path next to
      // q35's LSH (seeded k-means cells, nProbe nearest cells per query)
      Similarity.ivfTopK(s, T(s, dir, "embeddings"), "vec_id", "embedding",
                         (0L until 10L).toSeq, 5, nCells = 16, nProbe = 4)
        .toDF()
        .withColumn("sim", round(col("sim"), 4))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    }),
    "q36_embedding_neardup" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      // plant exact-duplicate vectors (vec_id+10000) for ids < 20
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
      Similarity.cosineNearDups(s, e.union(planted), "vec_id", "embedding",
                                threshold = 0.999)
        .orderBy("id_a", "id_b")
    }),
    "q63_incremental_ann" -> ((s, dir) => {
      // Incremental embedding near-dup maintenance (IncrementalAnn):
      // q36's planted corpus arrives in 3 rounds (id % 3); each round's
      // NEW vectors are checked against the persisted hyperplane band
      // index only — per-round cost is O(new + touched buckets), not
      // O(corpus). The union of per-round outputs must equal the batch
      // q36 pair set, each pair tagged with the round the machinery
      // emitted it in — the oracle independently pins that to the
      // arrival round of the pair's later member (exactly-once-across-
      // rounds invariant, same contract as q62 for text).
      val e = T(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
      val corpus = e.union(planted)
      val idx = TempDirs.create("graft-incann-")
      (0 to 2).map { r =>
        IncrementalAnn.roundPairs(
            s, idx, corpus.filter(pmod(col("vec_id"), lit(3)) === r),
            "vec_id", "embedding", threshold = 0.999)
          .withColumn("emit_round", lit(r))
      }.reduce(_ unionByName _).orderBy("id_a", "id_b")
    }),
    "q69_salted_join" -> ((s, dir) => {
      // Skew.saltedJoin under a deliberately hot key: 90% of events map
      // to one customer, the regime where an unsalted shuffle puts 90%
      // of the big side in one task. The salted join's contract is
      // exact inner-join equality — oracled as the plain SQL join.
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("value"),
                when(pmod(col("user_id"), lit(10)) < 9, lit(1L))
                  .otherwise(pmod(col("user_id"), lit(150)) + 1)
                  .as("c_custkey"))
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      graft.ops.Skew.saltedJoin(ev, cust, "c_custkey", salts = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("sum_value"))
        .orderBy("c_nationkey")
    }),
    "q70_two_phase_topk" -> ((s, dir) => {
      // Skew.topKByGroup: the window-free two-phase top-k whose task
      // memory is O(k) regardless of group size — oracled against the
      // single-window ROW_NUMBER formulation it must equal exactly
      // (the order includes a unique tiebreak, so both are total).
      graft.ops.Skew.topKByGroup(
          T(s, dir, "orders")
            .select(col("o_orderpriority"), col("o_totalprice"),
                    col("o_orderkey")),
          "o_orderpriority",
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 5)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
                 col("o_orderkey"))
    }),
    "q68_ivf_index_topk" -> ((s, dir) => {
      // The persisted IVF index lifecycle as one query (the ANN-query
      // analogue of q63's near-dup maintenance; reference behavior it
      // scales: the same round-append ingest as indeed/main.go:66-70
      // discovery): the embeddings corpus arrives in 3 ingest rounds;
      // epoch-0 centroids train on round 0 and FREEZE, rounds append
      // cell assignments O(delta) map-side; retrainEvery=2 exercises
      // the epoch re-train protocol twice, so the final active epoch's
      // centroids are trained over the FULL corpus — which is what the
      // sequential oracle recomputes (a posting lost or duplicated in
      // any round/epoch transition breaks the neighbor compare).
      val idxDir =
        TempDirs.create("graft-q68-ivf-")
      val e = T(s, dir, "embeddings")
      val idx = new IncrementalAnn.IvfIndex(s, idxDir, nCells = 16,
                                            iters = 4, retrainEvery = 2)
      (0 to 2).foreach { r =>
        idx.append(e.filter(pmod(col("vec_id"), lit(3)) === r),
                   "vec_id", "embedding")
      }
      idx.topK((0L until 10L).toSeq, k = 5, nProbe = 4).toDF()
        .withColumn("sim", round(col("sim"), 4))
        .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
    }),
    // ---------------- multimodal (real PNG/JPEG/GIF decode) -----------
    "q37_image_meta" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaTable(s, T(s, dir, "documents"), "doc_id")
      Multimodal.imageMeta(s, media).orderBy("media_ref")
    }),
    "q38_frame_sample" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaTable(s, T(s, dir, "documents"), "doc_id")
      Multimodal.sampleFrames(s, media, everyN = 7).orderBy("media_ref", "frame_idx")
    }),
    "q71_frame_profile" -> ((s, dir) => {
      // feature-extract + resize over DECODED frames: every 3rd frame's
      // ink count and the hash of its nearest-neighbor 8x8 resample —
      // the oracle recomputes both from MediaGen's pure pixel functions
      // without running the decoder under test (q37/q38's contract)
      val media = Multimodal.syntheticMediaTable(s, T(s, dir, "documents"), "doc_id")
      Multimodal.profileFrames(s, media, everyN = 3, dw = 8, dh = 8)
        .orderBy("media_ref", "frame_idx")
    }),
    // ---------------- sources / unnest / sinks ----------------
    "q40_taxonomy_unnest" -> ((s, _) => {
      // S7 embedded JSON literal scan + J5 parent replication
      // (olx/main.go:11,27-38): from_json on a literal, explode subs
      val schema = "array<struct<id:int,name:string,subs:array<struct<id:int,name:string>>>>"
      s.range(1)
        .select(explode(from_json(lit(taxonomyJson), org.apache.spark.sql.types.DataType
          .fromDDL(schema).asInstanceOf[org.apache.spark.sql.types.ArrayType]))
          .as("cat"))
        .select(col("cat.id").as("parent_id"), col("cat.name").as("parent_name"),
                explode(col("cat.subs")).as("sub"))
        .select(col("parent_id"), col("parent_name"),
                col("sub.id").as("sub_id"), col("sub.name").as("sub_name"))
        .orderBy("parent_id", "sub_id")
    }),
    "q41_csv_roundtrip" -> ((s, dir) => {
      // S8 CSV scan + K1 CSV sink: write header CSV, read back with an
      // explicit schema, aggregate — round-trip fidelity vs the oracle
      // computed on the original parquet
      val out = TempDirs.create("csv-rt-")
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("doc_id long, lang string, source string, n_chars long")
        .csv(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    }),
    "q42_url_encode" -> ((s, dir) => {
      // F5 URL query escape (indeed/main.go:119)
      T(s, dir, "part")
        .select(col("p_partkey"), url_encode(col("p_name")).as("enc"))
        .orderBy("p_partkey")
    }),
    "q43_next_data_extract" -> ((s, _) => {
      // P1 full pipeline (apna/main.go:52-89): re-fetch crawled detail
      // pages, pull script#__NEXT_DATA__, project the nested JSON doc
      // (incl. F2 unix-ms -> timestamp), flatten to typed columns
      import s.implicits._
      val snaps = new Snapshots(CrawlOnce.dir(s))
      val docs = s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
        .select(col("doc_id"), col("url")).as[(String, String)]
      val web = CrawlOnce.cfg("unused").web
      val payloads = docs
        .filter(_._2.contains("/item/"))
        .mapPartitions { it =>
          val f = SimulatedFetcher(web)
          it.map { case (id, u) =>
            val body = f.fetch(FrontierEntry(u, id, "", 0L, 0, 2, 0L, 9, 0)).body
            val script = HtmlSpans.parse(u, body).scripts
              .find(_._1.get("id").contains("__NEXT_DATA__")).map(_._2).getOrElse("")
            (id, script)
          }
        }.toDF("doc_id", "payload")
      val jobSchema = org.apache.spark.sql.types.DataType.fromDDL(
        "struct<props:struct<pageProps:struct<job:struct<id:long,title:string," +
          "organization:struct<name:string>,min_salary:long,max_salary:long," +
          "posted_ms:long>>>>").asInstanceOf[org.apache.spark.sql.types.StructType]
      payloads
        .withColumn("j", from_json(col("payload"), jobSchema)("props")("pageProps")("job"))
        .select(col("doc_id"), col("j.id").as("job_id"), col("j.title").as("title"),
                col("j.organization.name").as("company"),
                col("j.min_salary").as("min_salary"),
                col("j.max_salary").as("max_salary"),
                date_format(Extract.unix_ms_to_ts(col("j.posted_ms")),
                            "yyyy-MM-dd HH:mm:ss").as("posted_ts"))
        .filter(col("job_id").isNotNull)
        .orderBy("doc_id")
    }),
    "q44_enrich_join" -> ((s, _) => {
      // J2/S9 enrichment point-lookup join (olx_c226/phone.go:26-51):
      // dedupe keys first, per-key simulated API lookup in mapPartitions,
      // broadcast the small enrichment table back onto the corpus
      import s.implicits._
      val snaps = new Snapshots(CrawlOnce.dir(s))
      val docs = s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
      val lookups = docs.select(col("host")).distinct().as[String]
        .mapPartitions { it =>
          it.map(h => (h, f"+62-${math.abs(graft.synthweb.SyntheticWeb.hashOf(77L, h)) % 1000000000L}%09d"))
        }.toDF("host", "phone")
      docs.join(broadcast(lookups), Seq("host"), "left")
        .groupBy(col("host"), col("phone"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("host")
    }),
    "q61_auth_enrich" -> ((s, _) => {
      // ST7 credentialed session fetch (olx_c226/phone.go:53-93): user
      // ids derived from crawled detail pages, deduped, then a per-id
      // GET against the cookie-gated phone API — session cookie from
      // TransportConfig, one client per partition. All statuses ride
      // the output (401 would surface immediately); the JSON body is
      // projected with get_json_object, the reference's gjson move.
      import s.implicits._
      val snaps = new Snapshots(CrawlOnce.dir(s))
      val docs = s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
      val web = CrawlOnce.cfg("unused").web
      val transport = graft.fetch.TransportConfig(
        cookies = Map("t" -> graft.synthweb.SyntheticWeb.authToken(web)))
      docs.filter(col("url").contains("/item/"))
        .select(Extract.id_from_url(col("url")).cast("long").as("job_id"))
        .select(pmod(col("job_id"), lit(1000)).as("user_id"))
        .distinct()
        .as[Long]
        .mapPartitions { it =>
          val api = graft.fetch.AuthedApiClient(web, transport)
          it.map { uid =>
            val (status, body) = api.phone(uid.toString)
            (uid, status, body)
          }
        }
        .toDF("user_id", "status", "body")
        .select(col("user_id"), col("status").cast("long").as("status"),
                Extract.json_get(col("body"), "$.data.phone").as("phone"))
        .orderBy("user_id")
    }),
    "q45_facet_split" -> ((s, _) => {
      // P9/A1 adaptive facet partitioning (olx_c226/main.go:214-232):
      // iterative split of hot facets until all partitions < threshold
      val api = FacetSplit.SyntheticFacetApi(seed = 55L)
      FacetSplit.split(s, Seq(("root", 17099L), ("alt", 420L)), api,
                       threshold = 1000L)
        .orderBy("id")
    }),
    "q39_media_from_crawl" -> ((s, _) => {
      // multimodal plumbing over the crawl output: media spans -> opaque
      // binary payloads (synthesized fetch) -> partition-local REAL
      // PNG/JPEG/GIF header+pixel decode (MediaCodec)
      val snaps = new Snapshots(CrawlOnce.dir(s))
      val docs = s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
      val media = Multimodal.mediaTableFromDocs(s, docs)
      Multimodal.imageMeta(s, media).orderBy("media_ref")
    }),
    "q46_css_extract" -> ((s, dir) => {
      // P5 CSS-selector projection (topkarir/main.go:55-79): #id text,
      // descendant chains, attr fetch, positional Contents() i==2/i==4,
      // :nth-of-type(2..4) — over topkarir-shaped pages rendered from
      // the part table so the oracle can reconstruct every field
      val html = format_string(
        "<div id=\"detail_job\"><h1 id=\"title-comprof\"> %s </h1>" +
          "<div id=\"detail-comprof\"><a href=\"https://corp.test/%s\">site</a>," +
          "<span>%s</span>,<span>grp-%d</span></div>" +
          "<div id=\"comp-detail\"><div class=\"jobdesc\"><div class=\"desc\">%s</div></div></div>" +
          "<div class=\"detail\"><div>hdr</div><div>%s</div><div>%s</div><div>%d</div></div></div>",
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_type"), col("p_brand"), col("p_name"), col("p_size"))
      T(s, dir, "part")
        .select(col("p_partkey"), html.as("page"))
        .select(col("p_partkey"),
                CssSelect.css_text(col("page"), "#title-comprof").as("name"),
                CssSelect.css_attr(col("page"), "#detail-comprof a", "href").as("website"),
                CssSelect.css_contents_text(col("page"), "#detail-comprof", 2).as("address"),
                CssSelect.css_contents_text(col("page"), "#detail-comprof", 4).as("label"),
                CssSelect.css_text(col("page"), "#comp-detail .jobdesc .desc").as("descr"),
                CssSelect.css_text(col("page"), ".detail div:nth-of-type(2)").as("addr1"),
                CssSelect.css_text(col("page"), ".detail div:nth-of-type(3)").as("addr2"),
                CssSelect.css_text(col("page"), ".detail div:nth-of-type(4)").as("addr3"))
        .orderBy("p_partkey")
    }),
    "q47_cursor_chain" -> ((s, _) => {
      // S5 opaque sequential cursor paging (olx_c226/main.go:183-184):
      // page k+1's URL exists only in page k's response; facets
      // parallelize, each chain walks sequentially in its task
      val pages = Map("alpha" -> 4, "beta" -> 1, "delta" -> 3, "gamma" -> 7)
      val api = CursorSource.SyntheticCursorApi(seed = 99L, pages, itemsPerPage = 5)
      CursorSource.scan(s, pages.keys.toSeq.sorted, api)
        .toDF()
        .orderBy("facet", "id")
    }),
    "q48_json_array_paths" -> ((s, dir) => {
      // P2 array-index gjson paths (jobstreet/main.go:160-164:
      // jobFunctionValue.0.name, location.0.location)
      val payload = format_string(
        "{\"jobFunctionValue\":[{\"name\":\"%s\"},{\"name\":\"%s\"}]," +
          "\"location\":[{\"location\":\"loc-%d\"}]}",
        col("source"), col("lang"), col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"),
                Extract.json_get(col("payload"), "$.jobFunctionValue[0].name").as("category1"),
                Extract.json_get(col("payload"), "$.jobFunctionValue[1].name").as("category2"),
                Extract.json_get(col("payload"), "$.location[0].location").as("location"))
        .orderBy("doc_id")
    }),
    "q49_keyword_grid" -> ((s, dir) => {
      // S11 seed-keyword source + indeed's category x page grid seeding
      // (indeed/category.go:11-23, indeed/main.go:111-122): the
      // autocomplete response is modeled as the distinct-keyword table
      val kws = T(s, dir, "part")
        .select(trim(element_at(split(col("p_type"), " "), 1)).as("keyword"))
        .distinct()
      kws.crossJoin(s.range(0, 61).select(col("id").as("page")))
        .select(col("keyword"), col("page"),
                format_string("https://jobs.test/search?q=%s&start=%d",
                              url_encode(col("keyword")), col("page") * lit(15))
                  .as("url"))
        .orderBy("keyword", "page")
    }),
    "q55_html_file_scan" -> ((s, dir) => {
      // S6 local HTML file scan: pages persisted to disk, re-scanned via
      // wholetext read, selector-projected back to typed columns. The
      // fixture dir is written once per (JVM, sf dir) — repeated
      // invocations (bench warm/measure, verify) reuse it.
      val out = htmlScanFixtures.getOrElseUpdate(dir, {
        val d = TempDirs.create("html-scan-")
        T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .collect() // 25 fixture files; writing them is driver-side by nature
          .foreach { r =>
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$d/nation-${r.get(0)}.html"),
              s"""<html><body><div id="nation" data-key="${r.get(0)}">""" +
                s"""<h1 id="name">${r.getString(1)}</h1>""" +
                s"""<p class="region">region ${r.get(2)}</p></div></body></html>""")
          }
        d
      })
      s.read.option("wholetext", "true").text(out)
        .select(CssSelect.css_attr(col("value"), "#nation", "data-key")
                  .cast("long").as("n_key"),
                CssSelect.css_text(col("value"), "#nation #name").as("name"),
                CssSelect.css_text(col("value"), "#nation .region").as("region"))
        .orderBy("n_key")
    }),
    "q56_graphql_paged" -> ((s, _) => {
      // S2 GraphQL POST paged scan (kitalulus/main.go:95-151): total
      // probe -> distributed page grid -> templated POST per page ->
      // from_json + explode. total=123 with limit=5 exercises the
      // partial last page
      val template =
        """{"query":"query jobs($page:Int,$limit:Int){jobs(page:$page,limit:$limit){total items{id title company}}}","variables":{"page":%PAGE%,"limit":%LIMIT%}}"""
      GraphQlSource.pagedScan(s, "https://gql.test/graphql", template,
                              limit = 5, GraphQlSource.SyntheticGqlApi(123))
        .orderBy("id")
    }),
    "q54_completeness" -> ((s, dir) => {
      // P10 completeness gate (jobstreet/main.go len(res)==29 pattern):
      // only records with the full field arity pass the sink gate
      T(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("fields"))
        .filter(size(col("fields")) >= 20)
        .select(col("doc_id"),
                size(col("fields")).cast("long").as("n_fields"),
                element_at(col("fields"), 20).as("f20"))
        .orderBy("doc_id")
    }),
    "q59_window_app_repair" -> ((s, dir) => {
      // F7 `window.__APP` state repair (olx_c226/main.go:111-115): strip
      // the assignment prefix/trailing semicolon, quote the four bare
      // keys, then parse as real JSON and project typed fields. Pages
      // are rendered from the part table so the oracle reconstructs
      // every field in plain SQL without replicating the regex surgery.
      val page = format_string(
        "window.__APP = {props:{\"name\":\"%s\"},states:{\"size\":%d}," +
          "config:{\"brand\":\"%s\"},translations:{\"t\":\"x\"}};",
        col("p_name"), col("p_size"), col("p_brand"))
      val schema = org.apache.spark.sql.types.DataType.fromDDL(
        "struct<props:struct<name:string>,states:struct<size:bigint>," +
          "config:struct<brand:string>,translations:struct<t:string>>")
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      T(s, dir, "part")
        .select(col("p_partkey"), page.as("raw"))
        .withColumn("j", from_json(Extract.repair_window_app(col("raw")), schema))
        .select(col("p_partkey"), col("j.props.name").as("name"),
                col("j.states.size").as("size"),
                col("j.config.brand").as("brand"))
        .orderBy("p_partkey")
    }),
    "q60_ua_pick" -> ((s, dir) => {
      // ST5 deterministic UA rotation (apna/main.go:48-49): hash(url)
      // picks the identity from the transport's UA table — replayable,
      // unlike the reference's RNG. Oracled by an independent plain-
      // Scala xxHash64 reimplementation in SeqOracles.
      val uas = graft.fetch.TransportConfig.defaultUserAgents
      T(s, dir, "part")
        .select(col("p_partkey"),
                Extract.slug_url("https://shop.test/item/", col("p_name"),
                                 col("p_partkey")).as("url"))
        .select(col("p_partkey"), col("url"),
                Extract.ua_pick(col("url"), uas).as("ua"))
        .orderBy("p_partkey")
    }),
    // ---------------- crawl-derived (north-rule pipeline) --------------
    "q50_crawl_docs" -> ((s, _) => {
      entry(s)
    }),
    "q51_crawl_fetch_log" -> ((s, _) => {
      val snaps = new Snapshots(CrawlOnce.dir(s))
      s.read.parquet(snaps.fetchLogPaths(CrawlOnce.lastRound(s)): _*)
        .orderBy("round", "host_hash", "seq")
    }),
    "q52_crawl_spans" -> ((s, _) => {
      val snaps = new Snapshots(CrawlOnce.dir(s))
      s.read.parquet(snaps.docsPaths(CrawlOnce.lastRound(s)): _*)
        .select(col("doc_id"), explode(col("spans")).as("s"))
        .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
                col("s.text").as("text"), col("s.media_ref").as("media_ref"))
        .orderBy("doc_id", "offset")
    }),
    "q53_crawl_metrics" -> ((s, _) => {
      // per-(round, host-bucket) lineage metrics, derived from fetch_log
      val snaps = new Snapshots(CrawlOnce.dir(s))
      s.read.parquet(snaps.fetchLogPaths(CrawlOnce.lastRound(s)): _*)
        .groupBy(col("round"), pmod(col("host_hash"), lit(32)).as("bucket"))
        .agg(count(lit(1)).as("fetched"),
             sum(when(col("status") === 200, 1L).otherwise(0L)).as("fetched_ok"),
             sum(when(col("status") === 404, 1L).otherwise(0L)).as("fetched_404"),
             sum(when(col("status") =!= 200 && col("status") =!= 404, 1L)
               .otherwise(0L)).as("fetched_retryable"))
        .orderBy("round", "bucket")
    }),
    "q93_rank_crawl_log" -> ((s, _) => {
      // the rank-informed crawl's canonical fetch log (ST3/T3 with
      // CrawlConfig.rankPriority on, same synthetic web as q51): the
      // oracle is the sequential CrawlOracle run with the same flag —
      // parity holds because the rank stamp is integer fixed-point
      // PageRank + floor-division bucketing, bit-equal at any
      // parallelism (CrawlSchedulerSpec pins the three-way equality;
      // this row pins it through the driver's DuckDB gate too)
      val snaps = new Snapshots(RankCrawlOnce.dir(s))
      s.read.parquet(snaps.fetchLogPaths(RankCrawlOnce.lastRound(s)): _*)
        .orderBy("round", "host_hash", "seq")
    }),
    "q95_http_crawl_log" -> ((s, _) => {
      // the real-transport crawl's canonical fetch log (ST4 made real):
      // the SAME web as q51, but every page crosses a real socket —
      // SynthWebServer on loopback, HttpFetcher consuming the transport
      // limits, retry counters on the wire as X-Graft-Attempt. The
      // oracle is q51's SEQUENTIAL dump: transport must not change the
      // crawl, so the real-HTTP fetch log hash-matches the in-memory
      // oracle through DuckDB.
      val snaps = new Snapshots(HttpCrawlOnce.dir(s))
      s.read.parquet(snaps.fetchLogPaths(HttpCrawlOnce.lastRound(s)): _*)
        .orderBy("round", "host_hash", "seq")
    }),
    "q67_training_shard" -> ((s, _) => trainingShard(s, scaleIds = false)),
    // ---------------- streaming (deterministic replay oracles) --------
    "q64_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      // Event-time session windows (flatMapGroupsWithState) in TRUE
      // stream mode over a deterministic replay log: fetch events
      // derived from the events table (host = user bucket, status from
      // event_type), fed ts-sorted in ~1k-row micro-batches so nothing
      // is watermark-late. Two trailing flush batches on a sentinel
      // host push the watermark past every real session's close point,
      // so "emitted by end of log" equals schedule-free sessionization
      // — the sequential oracle (SeqOracles.q64Dump) never simulates
      // the batch schedule.
      val gapSec = 1800
      val ev = T(s, dir, "events")
        .select(concat(lit("h"), pmod(col("user_id"), lit(8))).as("host"),
                col("ts").cast("timestamp").as("ts"),
                when(col("event_type") === "error", lit(503))
                  .otherwise(lit(200)).as("status"))
      // replay prep: the unpartitioned row_number is driver-scale here
      // (the replay log is a correctness fixture, not the 100 TB path)
      val chunked = ev.withColumn("batch",
        ((row_number().over(Window.orderBy("ts", "host")) - 1) / 1000)
          .cast("int"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      val nb = chunked.agg(max(col("batch"))).head().getInt(0) + 1
      val flush = Seq(
        ("zflush", new java.sql.Timestamp(maxTs + 10L * gapSec * 1000), 200, nb),
        // half a gap later: advances emission without ever sealing the
        // sentinel's own session, so the output is identical whether or
        // not a trailing no-data batch runs
        ("zflush", new java.sql.Timestamp(maxTs + 10L * gapSec * 1000 + gapSec * 500L),
         200, nb + 1))
        .toDF("host", "ts", "status", "batch")
      val logDir = TempDirs.create("q64-log-")
      Replay.writeLog(chunked.unionByName(flush), "batch", logDir)
      Replay.run(s, logDir,
                 org.apache.spark.sql.Encoders.product[Streams.FetchEvent].schema) {
        df => Streams.hostSessions(s, df.as[Streams.FetchEvent], gapSec).toDF()
      }
        .filter(col("host") =!= "zflush")
        .orderBy("host", "first_ts")
    }),
    "q65_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      // Streaming exact dedup (dropDuplicatesWithinWatermark) over a
      // deterministic replay: 60 unique-content docs stream in 10-doc
      // micro-batches; every third doc re-arrives one batch later
      // INSIDE the 60 s horizon (whitespace variant = same content key;
      // must drop), a sentinel batch advances the watermark far past
      // every entry's expiry, then every fifth doc re-arrives BEYOND
      // the horizon (state evicted = passes as new: the documented
      // horizon contract). The survivor rule is pure arithmetic, so the
      // oracle is native SQL.
      val docs = T(s, dir, "documents").orderBy("doc_id").limit(60)
        .withColumn("i", row_number().over(Window.orderBy("doc_id")) - 1)
      val orig = docs.select(
        (col("i") / 10).cast("int").as("batch"),
        (lit(1000L) + col("i") * 10).cast("timestamp").as("ts"),
        (col("doc_id") * 10).as("id"), col("text"))
      val dup = docs.filter(col("i") % 3 === 0).select(
        ((col("i") / 10).cast("int") + 1).as("batch"),
        (lit(1045L) + col("i") * 10).cast("timestamp").as("ts"),
        (col("doc_id") * 10 + 1).as("id"),
        concat(lit("  "), col("text"), lit(" ")).as("text"))
      val sentinel = Seq(
        (7, new java.sql.Timestamp(100000L * 1000), -1L, "wm flush sentinel"))
        .toDF("batch", "ts", "id", "text")
      val far = docs.filter(col("i") % 5 === 0).select(
        (lit(8) + (col("i") / 10).cast("int")).as("batch"),
        (lit(200000L) + col("i") * 10).cast("timestamp").as("ts"),
        (col("doc_id") * 10 + 2).as("id"),
        concat(lit("\t"), col("text")).as("text"))
      val logDir = TempDirs.create("q65-log-")
      Replay.writeLog(orig.unionByName(dup).unionByName(sentinel)
                        .unionByName(far), "batch", logDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      Replay.run(s, logDir, schema) {
        df => Streams.dedupStream(df, "text", "ts", "60 seconds")
      }
        .filter(col("id") >= 0)
        .select("id", "text")
        .orderBy("id")
    }),
    "q66_stream_window_counts" -> ((s, dir) => {
      import s.implicits._
      // Watermarked tumbling-window counts in TRUE stream mode over the
      // replayed events table (1-day windows, 1-hour watermark). The
      // flush pair pushes the final watermark past every real window's
      // end, so the emitted set equals the batch GROUP BY — oracled in
      // native SQL. The sentinel's own window can never seal (its close
      // point stays above the final watermark by construction), so the
      // output is no-data-batch invariant.
      val ev = T(s, dir, "events")
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
                col("value"))
      val chunked = ev.withColumn("batch",
        ((row_number().over(Window.orderBy("ts", "event_type", "value")) - 1)
           / 1000).cast("int"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      val nb = chunked.agg(max(col("batch"))).head().getInt(0) + 1
      val day = 86400000L
      val flush = Seq(
        (new java.sql.Timestamp(maxTs + 40 * day), "zflush", 0.0, nb),
        (new java.sql.Timestamp(maxTs + 40 * day + 60000L), "zflush", 0.0, nb + 1))
        .toDF("ts", "event_type", "value", "batch")
      val logDir = TempDirs.create("q66-log-")
      Replay.writeLog(chunked.unionByName(flush), "batch", logDir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      Replay.run(s, logDir, schema) {
        df => Streams.windowedEventCounts(df, "1 day", "1 day", "1 hour")
      }
        .filter(col("event_type") =!= "zflush")
        .orderBy("win_start", "event_type")
    }),
    "q83_stream_incr_neardup" -> ((s, dir) => {
      // Streaming ingest driving incremental near-dup maintenance in
      // TRUE stream mode: the q62 corpus replays in three micro-batches
      // (batch = id % 3, the same round split q62 uses), each batch's
      // pairs computed against the persisted index via foreachBatch +
      // IncrementalLsh. Union-equals-batch contract, so the oracle is
      // q62's: the exact-jaccard pair set with emit_round = the later
      // member's batch.
      val corpus = dedupCorpus(s, dir)
      val logDir = TempDirs.create("q83-log-")
      val idxDir = TempDirs.create("q83-idx-")
      val outDir = TempDirs.create("q83-out-")
      val chkDir = TempDirs.create("q83-chk-")
      Replay.writeLog(
        corpus.withColumn("batch", pmod(col("id"), lit(3)).cast("int")),
        "batch", logDir)
      // the log holds exactly the corpus minus the batch column, so the
      // stream schema IS corpus.schema — no hand-kept duplicate
      val src = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(logDir)
      val q = Streams.incrementalNearDupSink(
        s, src, idxDir, outDir, chkDir, threshold = 0.5)
      q.awaitTermination()
      s.read.parquet(s"$outDir/r*").orderBy("id_a", "id_b")
    }),
    "q103_stream_quantiles" -> ((s, dir) => {
      // streaming maintenance of the q102 quantile sketch in TRUE
      // stream mode: events replay in three micro-batches, each
      // batch's partial sketch lands in its own slot via foreachBatch,
      // and the merged sketch's quantiles are read at the end. Sketch
      // merge is ADDITION, so stream-final == one batch sketch over
      // all events exactly — the oracle is the q102-style SQL over
      // the whole table, bit-exact.
      val ev = T(s, dir, "events")
        .select(col("event_type"),
                floor(col("value") * 100).cast("long").as("cents"))
      val logDir = TempDirs.create("q103-log-")
      val skDir = TempDirs.create("q103-sk-")
      val chkDir = TempDirs.create("q103-chk-")
      Replay.writeLog(
        ev.withColumn("batch", pmod(col("cents"), lit(3)).cast("int")),
        "batch", logDir)
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(logDir)
      Streams.quantileSketchSink(s, src, skDir, chkDir,
                                 "event_type", "cents")
        .awaitTermination()
      val sketch = Streams.readQuantileSketch(
        s, skDir, "event_type", org.apache.spark.sql.types.StringType)
      graft.ops.QuantileSketch
        .histQuantiles(sketch, "event_type", Seq(50, 90, 99))
        .orderBy("event_type", "pct")
    }),
    "q86_stream_incr_ann" -> ((s, dir) => {
      // the vector-side twin of q83: the q63 planted corpus streams in
      // three micro-batches (batch = vec_id % 3) through foreachBatch +
      // IncrementalAnn against the persisted hyperplane index. Same
      // union-equals-batch contract, so the oracle is q63's.
      val e = T(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).union(planted)
      val logDir = TempDirs.create("q86-log-")
      val idxDir = TempDirs.create("q86-idx-")
      val outDir = TempDirs.create("q86-out-")
      val chkDir = TempDirs.create("q86-chk-")
      Replay.writeLog(
        corpus.withColumn("batch", pmod(col("vec_id"), lit(3)).cast("int")),
        "batch", logDir)
      val src = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(logDir)
      val q = Streams.incrementalAnnSink(
        s, src, idxDir, outDir, chkDir, "vec_id", "embedding",
        threshold = 0.999)
      q.awaitTermination()
      s.read.parquet(s"$outDir/r*").orderBy("id_a", "id_b")
    })
  )

  /** Exact n-gram Jaccard pair SQL (threshold 0.5) — the oracle of BOTH
    * q26 (which computes exactly this algebra) and q27 (whose MinHash
    * LSH must achieve full recall with zero false positives on the
    * planted corpus: the exact-Jaccard verification step makes its
    * output the exact pair set whenever no true pair is missed, so a
    * hash-exact match here pins LSH recall at 1.0 on this input).
    */
  private val jaccardPairsBodySql: String =
    s"""WITH corpus AS ($dedupCorpusSql),
       |words AS (SELECT id,
       |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
       |              x -> x <> '') AS ws FROM corpus),
       |grams AS (
       |  SELECT DISTINCT id, array_to_string(ws[i:i+2],' ') AS gram
       |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) g
       |  WHERE len(ws) >= 3),
       |sizes AS (SELECT id, count(*) AS n_grams FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM grams a JOIN grams b USING (gram) WHERE a.id < b.id
       |  GROUP BY 1,2)
       |SELECT id_a, id_b,
       |  round(i::DOUBLE/(sa.n_grams+sb.n_grams-i),4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.id=id_a JOIN sizes sb ON sb.id=id_b
       |WHERE i::DOUBLE/(sa.n_grams+sb.n_grams-i) >= 0.5""".stripMargin

  private val jaccardPairsSql: String =
    jaccardPairsBodySql + "\nORDER BY id_a, id_b"

  private def dumpSql(name: String, orderBy: String): String =
    graft.oracle.SeqOracles.dumpSql(name, orderBy)

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_events_by_type" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_orders_minmax" ->
      """SELECT o_orderpriority, round(max(o_totalprice),2) AS max_price,
        | round(min(o_totalprice),2) AS min_price, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_distinct_users" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q05_join_region" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal),2) AS total_bal
        |FROM customer JOIN nation ON c_nationkey=n_nationkey
        |JOIN region ON n_regionkey=r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_join_left_enrich" ->
      """SELECT coalesce(c_mktsegment,'none') AS segment, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS total
        |FROM orders LEFT JOIN customer ON o_custkey=c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey=c_custkey AND o_totalprice>300000)
        |ORDER BY c_custkey""".stripMargin,
    "q08_semi_join" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_union_except" ->
      """SELECT user_id FROM (
        | SELECT user_id FROM events WHERE event_type='click' AND value>150
        | UNION SELECT user_id FROM events WHERE event_type='view' AND value>150)
        |EXCEPT SELECT user_id FROM events WHERE event_type='error' AND value>200
        |ORDER BY user_id""".stripMargin,
    "q10_window_ffill" ->
      """SELECT event_id, user_id,
        | round(last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS ffill
        |FROM events ORDER BY event_id""".stripMargin,
    "q11_window_rank" ->
      """SELECT o_orderpriority, rnk, o_orderkey, price FROM (
        | SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS price,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) WHERE rnk<=3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "q12_posexplode" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents)
        |SELECT doc_id, CAST(i-1 AS BIGINT) AS pos, ws[i] AS token
        |FROM w, LATERAL (SELECT unnest(generate_series(1, least(len(ws),5))) AS i) g
        |ORDER BY doc_id, pos""".stripMargin,
    "q13_topk" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q14_json_get" ->
      """SELECT event_id, CAST(json_extract(props,'$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q15_regex_extract" ->
      """SELECT doc_id, CAST(regexp_extract(source,'src(\d+)',1) AS BIGINT) AS src_num
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_trimhtml" ->
      """SELECT doc_id,
        | trim(regexp_replace(
        |   regexp_replace(
        |     regexp_replace(
        |       regexp_replace('<div class="x">' || text ||
        |         '</div><script>var x=1;</script><style>p{}</style><p>tail</p>',
        |         '<style[\S\s]+?</style>','','g'),
        |     '<script[\S\s]+?</script>','','g'),
        |   '<[\S\s]+?>', chr(10),'g'),
        | '\s{2,}', chr(10),'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_unixtime" ->
      """SELECT event_id, epoch_ms(ts) AS ms,
        | strftime(to_timestamp(epoch_ms(ts)//1000),'%Y-%m-%d %H:%M:%S') AS ts_rt
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_slug_url" ->
      """SELECT p_partkey,
        | 'https://shop.test/item/' || replace(lower(p_name),' ','-')
        |   || '-iid-' || p_partkey AS url,
        | CAST(regexp_extract('https://shop.test/item/' ||
        |   replace(lower(p_name),' ','-') || '-iid-' || p_partkey,
        |   '(\d+)$',1) AS BIGINT) AS id_back
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q19_split_trim" ->
      """SELECT p_partkey, trim(split_part(p_type,' ',1)) AS type_head,
        | trim(list_extract(string_split(p_name,' '),
        |                   len(string_split(p_name,' ')))) AS name_tail
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q20_format_string" ->
      """SELECT p_partkey, printf('%s-%03d', p_brand, p_size) AS sku
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q21_case_route" ->
      """SELECT event_id,
        | CASE WHEN value<20 THEN 'low' WHEN value<60 THEN 'mid'
        |      ELSE 'high' END AS bucket,
        | CAST(floor(value*10) AS BIGINT) AS pct
        |FROM events ORDER BY event_id""".stripMargin,
    "q22_dateformat" ->
      """SELECT strftime(o_orderdate,'%Y%m%d') AS day, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_content_key" ->
      """SELECT doc_id,
        | sha256(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS content_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_token_count" ->
      """SELECT doc_id,
        | CAST(CASE WHEN length(trim(text))=0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS BIGINT)
        |   AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_quality" ->
      s"""WITH w AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
         |              x -> x <> '') AS ws
         | FROM documents)
         |SELECT doc_id,
         | round(len(list_filter(ws, x -> x IN
         |   ('the','a','an','of','and','or','to','in','is','it')))::DOUBLE
         |   / greatest(len(ws),1), 4) AS stop_ratio,
         | round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE
         |   / greatest(len(ws),1), 4) AS mean_wlen
         |FROM w ORDER BY doc_id""".stripMargin,
    "q25_exact_dedup" ->
      s"""WITH corpus AS ($dedupCorpusSql),
         |keyed AS (SELECT id,
         |  sha256(regexp_replace(lower(trim(text)),'\\s+',' ','g')) AS ck
         |  FROM corpus)
         |SELECT min(id) AS canonical_id, count(*) AS n_dups
         |FROM keyed GROUP BY ck HAVING count(*)>1
         |ORDER BY canonical_id""".stripMargin,
    "q26_ngram_jaccard" -> jaccardPairsSql,
    "q27_minhash_lsh" -> jaccardPairsSql,
    "q62_incremental_neardup" ->
      // the incremental union must equal the batch pair set (q27's
      // oracle), and each pair must be emitted exactly once, in the
      // arrival round of its LATER member (rounds are id % 3)
      s"""WITH pairs AS ($jaccardPairsBodySql)
         |SELECT id_a, id_b, jaccard,
         |  CAST(greatest(id_a % 3, id_b % 3) AS INT) AS emit_round
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "q83_stream_incr_neardup" ->
      // the streaming foreachBatch drive of the same maintenance:
      // micro-batch k carries ids = k (mod 3), so the contract — and
      // the oracle — are exactly q62's
      s"""WITH pairs AS ($jaccardPairsBodySql)
         |SELECT id_a, id_b, jaccard,
         |  CAST(greatest(id_a % 3, id_b % 3) AS INT) AS emit_round
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "q86_stream_incr_ann" ->
      // vector twin of q83: micro-batch k carries vec_ids = k (mod 3),
      // contract and oracle are exactly q63's
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b, 1.0 AS cosine,
        | CAST(greatest(vec_id % 3, (vec_id + 10000) % 3) AS INT) AS emit_round
        |FROM embeddings WHERE vec_id < 20 ORDER BY id_a""".stripMargin,
    "q72_neardup_clusters" ->
      // independent clustering route: transitive closure via a
      // recursive CTE over the same exact-jaccard pair set, vs the
      // engine's large-star/small-star contraction
      s"""WITH RECURSIVE pairs AS ($jaccardPairsBodySql),
         |sym AS (SELECT id_a AS u, id_b AS v FROM pairs
         |        UNION SELECT id_b, id_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
         |comp AS (SELECT u AS id, least(u, min(v)) AS component_id
         |         FROM reach GROUP BY u)
         |SELECT id, component_id,
         |  count(*) OVER (PARTITION BY component_id) AS cluster_size,
         |  (id = component_id) AS keep
         |FROM comp ORDER BY id""".stripMargin,
    "q28_simhash" -> dumpSql("q28_simhash", "id_a, id_b"),
    "q58_full_corpus_neardup" ->
      // planted ground truth: every >=3-token doc duplicated verbatim at
      // +10^7 (shorter docs have no 3-shingles and leave the operator's
      // domain, mirroring q26/q27's len >= 3 guard); identical texts
      // have jaccard exactly 1.0, and the corpus's highest organic
      // shingle-jaccard is 0.9891 < the 1.0 threshold
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b, 1.0 AS jaccard
        |FROM documents
        |WHERE len(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |                      x -> x <> '')) >= 3
        |ORDER BY id_a""".stripMargin,
    "q31_langid" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}]+'),
        |                x -> x <> '') AS ws,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS total_chars,
        |    length(regexp_replace(text,
        |      '[^\x{4e00}-\x{9fff}\x{3400}-\x{4dbf}]', '', 'g')) AS cjk
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, ws, total_chars, cjk,
        |    len(list_filter(ws, x -> x IN
        |      ('the','and','of','is','to','in','that','it','with','for'))) AS h_en,
        |    len(list_filter(ws, x -> x IN
        |      ('der','die','das','und','ist','nicht','mit','ein','zu','von'))) AS h_de,
        |    len(list_filter(ws, x -> x IN
        |      ('el','la','los','las','que','es','en','un','una','por'))) AS h_es,
        |    len(list_filter(ws, x -> x IN
        |      ('le','la','les','et','est','un','une','dans','pour','que'))) AS h_fr
        |  FROM w)
        |SELECT doc_id,
        |  CASE
        |    WHEN total_chars > 0 AND cjk::DOUBLE / total_chars > 0.2 THEN 'zh'
        |    WHEN len(ws) = 0 OR greatest(h_en,h_de,h_es,h_fr) = 0 THEN 'und'
        |    WHEN h_en = greatest(h_en,h_de,h_es,h_fr) THEN 'en'
        |    WHEN h_de = greatest(h_de,h_es,h_fr) THEN 'de'
        |    WHEN h_es = greatest(h_es,h_fr) THEN 'es'
        |    ELSE 'fr'
        |  END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,
    "q32_fingerprint" -> dumpSql("q32_fingerprint", "doc_id"),
    "q34_ann_brute_typed" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |  CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id<10),
        |c AS (SELECT vec_id AS neighbor_id,
        |  CAST(embedding AS DOUBLE[]) AS nv FROM embeddings WHERE vec_id>=10),
        |sims AS (
        |  SELECT query_id, neighbor_id,
        |   list_dot_product(qv,nv)
        |     / (sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(nv,nv)))
        |     AS sim_raw
        |  FROM c CROSS JOIN q),
        |ranked AS (SELECT query_id, neighbor_id, sim_raw,
        |  row_number() OVER (PARTITION BY query_id
        |                     ORDER BY sim_raw DESC, neighbor_id) AS rnk
        |  FROM sims)
        |SELECT query_id, neighbor_id, round(sim_raw,4) AS sim
        |FROM ranked WHERE rnk<=5
        |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,
    "q35_ann_lsh" -> dumpSql("q35_ann_lsh", "query_id, sim DESC, neighbor_id"),
    "q57_ann_ivf" -> dumpSql("q57_ann_ivf", "query_id, sim DESC, neighbor_id"),
    "q68_ivf_index_topk" ->
      dumpSql("q68_ivf_index_topk", "query_id, sim DESC, neighbor_id"),
    "q69_salted_join" ->
      // the salted join must equal the plain inner join bit-for-bit
      """SELECT c_nationkey, count(*) AS n_events,
        | round(sum(value),2) AS sum_value
        |FROM (SELECT event_id, value,
        |        CASE WHEN user_id % 10 < 9 THEN 1
        |             ELSE user_id % 150 + 1 END AS c_custkey
        |      FROM events) e
        |JOIN customer USING (c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q70_two_phase_topk" ->
      """SELECT o_orderpriority, o_totalprice, o_orderkey
        |FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    "q36_embedding_neardup" ->
      // planted ground truth: every vec_id<20 is duplicated at +10000
      // with an identical embedding (cosine exactly 1.0 after rounding);
      // a hash-exact match pins recall at 1.0 AND zero false positives
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 20 ORDER BY id_a""".stripMargin,
    "q63_incremental_ann" ->
      // the incremental union must equal the batch pair set (q36's
      // planted ground truth), and each pair must be emitted exactly
      // once, in the arrival round of its LATER member (rounds are
      // id % 3; the +10000 mirror of v arrives in round (v+1) % 3)
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b, 1.0 AS cosine,
        | CAST(greatest(vec_id % 3, (vec_id + 10000) % 3) AS INT) AS emit_round
        |FROM embeddings WHERE vec_id < 20 ORDER BY id_a""".stripMargin,
    "q37_image_meta" -> dumpSql("q37_image_meta", "media_ref"),
    "q38_frame_sample" -> dumpSql("q38_frame_sample", "media_ref, frame_idx"),
    "q71_frame_profile" -> dumpSql("q71_frame_profile", "media_ref, frame_idx"),
    "q39_media_from_crawl" -> dumpSql("q39_media_from_crawl", "media_ref"),
    "q43_next_data_extract" -> dumpSql("q43_next_data_extract", "doc_id"),
    "q44_enrich_join" -> dumpSql("q44_enrich_join", "host"),
    "q45_facet_split" -> dumpSql("q45_facet_split", "id"),
    "q61_auth_enrich" -> dumpSql("q61_auth_enrich", "user_id"),
    "q59_window_app_repair" ->
      // the oracle reconstructs the repaired-and-parsed fields straight
      // from the part columns the page was rendered from
      """SELECT p_partkey, p_name AS name, CAST(p_size AS BIGINT) AS size,
        | p_brand AS brand
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q60_ua_pick" -> dumpSql("q60_ua_pick", "p_partkey"),
    "q88_pagerank" -> dumpSql("q88_pagerank", "node"),
    "q92_partitioned_scan" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_md5
        |FROM documents WHERE lang = 'en'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q91_bucketed_join" ->
      """SELECT o_orderkey, min(o_custkey) AS o_custkey,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_jdbc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
        |  CAST(sum(s_suppkey) AS BIGINT) AS sum_keys,
        |  min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal,
        |  count(DISTINCT md5(s_name)) AS n_distinct_md5
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "q101_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id,
        |                  max(value) AS purchase_value
        |           FROM events WHERE event_type = 'purchase'
        |           GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |       arg_min(p.purchase_id, p.ts) AS purchase_id,
        |       arg_min(p.purchase_value, p.ts) AS purchase_value
        |FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q96_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_id,
        |                  max(value) AS purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |       p.purchase_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q97_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, ts AS w_start,
        |                  ts + INTERVAL 30 MINUTE AS w_end
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, count(*) AS n_windows,
        |       min(p.purchase_id) AS first_purchase
        |FROM c JOIN p ON c.ts >= p.w_start AND c.ts < p.w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q103_stream_quantiles" ->
      """WITH v AS (SELECT event_type AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS x
        |  FROM events WHERE CAST(floor(value * 100) AS BIGINT) > 0),
        |b AS (SELECT g, CASE WHEN x < 16 THEN x
        |        ELSE CAST(length(to_base(x, 2)) - 1 AS BIGINT) * 16
        |             + (x >> (length(to_base(x, 2)) - 1 - 4)) - 16 END AS bucket,
        |        count(*) AS c
        |      FROM v GROUP BY 1, 2),
        |cum AS (SELECT g, bucket,
        |          sum(c) OVER (PARTITION BY g ORDER BY bucket) AS cc
        |        FROM b),
        |tot AS (SELECT g, sum(c) AS n FROM b GROUP BY 1),
        |pcts(p) AS (SELECT unnest([50, 90, 99])),
        |hit AS (SELECT cum.g, p AS pct, min(bucket) AS qb
        |        FROM cum JOIN tot ON cum.g = tot.g CROSS JOIN pcts
        |        WHERE cc >= (CAST(p AS BIGINT) * n + 99) // 100
        |        GROUP BY 1, 2)
        |SELECT g AS event_type, pct,
        |       CASE WHEN qb < 16 THEN qb
        |            ELSE ((qb % 16) + 16) << (CAST(qb // 16 AS INT) - 4)
        |            END AS est
        |FROM hit ORDER BY 1, 2""".stripMargin,
    "q102_hist_quantiles" ->
      """WITH v AS (SELECT l_returnflag AS g,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
        |  FROM lineitem WHERE l_extendedprice > 0),
        |b AS (SELECT g, CASE WHEN x < 16 THEN x
        |        ELSE CAST(length(to_base(x, 2)) - 1 AS BIGINT) * 16
        |             + (x >> (length(to_base(x, 2)) - 1 - 4)) - 16 END AS bucket,
        |        count(*) AS c
        |      FROM v GROUP BY 1, 2),
        |cum AS (SELECT g, bucket,
        |          sum(c) OVER (PARTITION BY g ORDER BY bucket) AS cc
        |        FROM b),
        |tot AS (SELECT g, sum(c) AS n FROM b GROUP BY 1),
        |pcts(p) AS (SELECT unnest([50, 90, 99])),
        |hit AS (SELECT cum.g, p AS pct, min(bucket) AS qb
        |        FROM cum JOIN tot ON cum.g = tot.g CROSS JOIN pcts
        |        WHERE cc >= (CAST(p AS BIGINT) * n + 99) // 100
        |        GROUP BY 1, 2)
        |SELECT g AS l_returnflag, pct,
        |       CASE WHEN qb < 16 THEN qb
        |            ELSE ((qb % 16) + 16) << (CAST(qb // 16 AS INT) - 4)
        |            END AS est
        |FROM hit ORDER BY 1, 2""".stripMargin,
    "q100_kmv_setops" ->
      """WITH h AS (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS g,
        |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 14)) AS BIGINT) AS hv
        |  FROM lineitem WHERE year(l_shipdate) = 1996),
        |sk AS (SELECT g, hv FROM (
        |    SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
        |    FROM h) WHERE rn <= 64),
        |singles AS (SELECT g, count(*) AS n_kept, max(hv) AS kth
        |            FROM sk GROUP BY 1),
        |est AS (SELECT g, CAST(CASE WHEN n_kept < 64 THEN n_kept
        |          ELSE (63 * 72057594037927936) // greatest(kth, 1)
        |          END AS BIGINT) AS est_distinct FROM singles),
        |pairs AS (SELECT a.g AS ga, b.g AS gb
        |          FROM est a JOIN est b ON a.g < b.g),
        |u AS (SELECT DISTINCT p.ga, p.gb, s.hv FROM pairs p
        |      JOIN sk s ON s.g = p.ga OR s.g = p.gb),
        |ru AS (SELECT ga, gb, hv,
        |         row_number() OVER (PARTITION BY ga, gb ORDER BY hv) AS rn
        |       FROM u),
        |uagg AS (SELECT ga, gb, count(*) AS n_kept, max(hv) AS kth
        |         FROM ru WHERE rn <= 64 GROUP BY 1, 2),
        |uest AS (SELECT ga, gb, CAST(CASE WHEN n_kept < 64 THEN n_kept
        |           ELSE (63 * 72057594037927936) // greatest(kth, 1)
        |           END AS BIGINT) AS est_union FROM uagg)
        |SELECT ga, gb, ea.est_distinct AS est_a, eb.est_distinct AS est_b,
        |       est_union,
        |       CAST(greatest(0, ea.est_distinct + eb.est_distinct - est_union)
        |            AS BIGINT) AS est_inter
        |FROM uest JOIN est ea ON ea.g = ga JOIN est eb ON eb.g = gb
        |ORDER BY ga, gb""".stripMargin,
    "q99_bloom_join" ->
      """WITH s AS (SELECT o_orderkey AS okey, o_orderpriority
        |           FROM orders WHERE o_totalprice > 350000.0),
        |b AS (SELECT l_orderkey AS okey, l_quantity FROM lineitem)
        |SELECT o_orderpriority, count(*) AS cnt,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM b JOIN s USING (okey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q98_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT lang,
        |    CAST(('0x' || substring(md5(text), 1, 14)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT lang, hv,
        |        row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
        |      FROM h),
        |agg AS (SELECT lang, count(*) AS n_kept, max(hv) AS kth_min
        |        FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT lang, n_kept, kth_min,
        |  CAST(CASE WHEN n_kept < 64 THEN n_kept
        |       ELSE (63 * 72057594037927936) // greatest(kth_min, 1)
        |       END AS BIGINT) AS est_distinct
        |FROM agg ORDER BY lang""".stripMargin,
    "q89_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'new doc ' || text
        |  FROM documents WHERE doc_id % 100 = 0),
        |j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    md5(v1.text) AS h1, md5(v2.text) AS h2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed' END AS change
        |FROM j
        |WHERE h1 IS NULL OR h2 IS NULL OR h1 <> h2
        |ORDER BY doc_id""".stripMargin,
    "q90_schema_evolution" ->
      """WITH u AS (
        |  SELECT lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars_v2,
        |  count(n_chars) AS n_v2_rows
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q73_stratified_sample" -> dumpSql("q73_stratified_sample", "doc_id"),
    "q74_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' Reach u' || CAST(doc_id AS VARCHAR) || '.x@mail-'
        |      || lang || '.example.com or +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' thanks' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS n_phones
        |FROM raw ORDER BY doc_id""".stripMargin,
    "q75_repetition" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000, text || ' ' || text FROM documents),
        |w AS (SELECT id,
        |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |              x -> x <> '') AS ws FROM corpus),
        |tot AS (SELECT id, CAST(len(ws) AS BIGINT) AS n_words,
        |               greatest(len(ws) - 1, 0) AS total2 FROM w),
        |grams AS (
        |  SELECT DISTINCT id, array_to_string(ws[i:i+1],' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g
        |  WHERE len(ws) >= 2),
        |d AS (SELECT id, count(*) AS distinct2 FROM grams GROUP BY 1),
        |m AS (SELECT t.id, t.n_words,
        |        CASE WHEN t.total2 > 0
        |          THEN round(1 - coalesce(d.distinct2, 0)::DOUBLE / t.total2, 4)
        |          ELSE 0.0 END AS dup_2gram_frac
        |      FROM tot t LEFT JOIN d ON d.id = t.id)
        |SELECT id, n_words, dup_2gram_frac,
        |  (dup_2gram_frac <= 0.3 AND n_words >= 5) AS keep
        |FROM m ORDER BY id""".stripMargin,
    "q85_jsonl_roundtrip" ->
      // same fidelity-vs-source contract as q76 (DuckDB reads the
      // parquet source; the round-trip under test is Spark-side)
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_md5
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q76_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_md5
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q77_token_packing" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |          AS cum_tokens
        |      FROM tok)
        |SELECT doc_id, source, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 200) AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "q78_decontaminate" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
        |corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    'zzqa unrelated prefix ' || array_to_string(
        |      (list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |                   x -> x <> ''))[1:7], ' ')
        |  FROM bench),
        |cw AS (SELECT id,
        |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |              x -> x <> '') AS ws FROM corpus),
        |cg AS (SELECT DISTINCT id, array_to_string(ws[i:i+4],' ') AS gram
        |       FROM cw, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) g
        |       WHERE len(ws) >= 5),
        |bw AS (SELECT
        |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |              x -> x <> '') AS ws FROM bench),
        |bg AS (SELECT DISTINCT array_to_string(ws[i:i+4],' ') AS gram
        |       FROM bw, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) g
        |       WHERE len(ws) >= 5),
        |h AS (SELECT id, count(*) AS n_hit_grams FROM cg JOIN bg USING (gram)
        |      GROUP BY 1)
        |SELECT c.id, CAST(coalesce(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
        |  coalesce(h.n_hit_grams, 0) > 0 AS contaminated
        |FROM corpus c LEFT JOIN h ON h.id = c.id
        |ORDER BY c.id""".stripMargin,
    "q87_fuzzy_decontaminate" ->
      // exact-jaccard recomputation over the SAME union (corpus +
      // first-word-dropped bench variants), cross pairs only — LSH
      // recall at the planted ~0.96 jaccard is certain (P(miss) ~ 6e-8
      // per pair with 8 bands of 4), so hash equality is exact
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(
        |      (list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |                   x -> x <> ''))[2:], ' ')
        |  FROM documents WHERE doc_id % 100 = 0),
        |words AS (SELECT id,
        |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |              x -> x <> '') AS ws FROM corpus),
        |grams AS (
        |  SELECT DISTINCT id, array_to_string(ws[i:i+2],' ') AS gram
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) g
        |  WHERE len(ws) >= 3),
        |sizes AS (SELECT id, count(*) AS n_grams FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b USING (gram) WHERE a.id < b.id
        |  GROUP BY 1,2)
        |SELECT id_a AS doc_id, id_b - 1000000 AS bench_doc,
        |  round(i::DOUBLE/(sa.n_grams+sb.n_grams-i),4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.id=id_a JOIN sizes sb ON sb.id=id_b
        |WHERE i::DOUBLE/(sa.n_grams+sb.n_grams-i) >= 0.6
        |  AND id_a < 1000000 AND id_b >= 1000000
        |ORDER BY doc_id, bench_doc""".stripMargin,
    "q79_chunking" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |              x -> x <> '') AS ws FROM documents),
        |n AS (SELECT doc_id, ws,
        |  CASE WHEN len(ws) = 0 THEN 0 WHEN len(ws) <= 12 THEN 1
        |       ELSE 1 + CAST(ceil((len(ws) - 12) / 8.0) AS BIGINT) END
        |    AS n_chunks FROM w),
        |c AS (SELECT doc_id, ws, CAST(i AS BIGINT) AS chunk_idx
        |      FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) g
        |      WHERE n_chunks > 0)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(ws[chunk_idx*8+1 : chunk_idx*8+12]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[chunk_idx*8+1 : chunk_idx*8+12], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q80_term_rarity" ->
      """WITH w AS (SELECT doc_id, lang,
        |  unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
        |                     x -> x <> '')) AS term FROM documents),
        |tf AS (SELECT lang, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT lang, term, tf, df, CAST(tf * n AS DOUBLE) / df AS score
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY lang ORDER BY score DESC, term) AS rank FROM s)
        |SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  score, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q81_quantiles" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n,
        |    round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |    round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |    round(quantile_cont(n_chars, 0.99), 4) AS p99
        |  FROM documents GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(*),
        |    round(quantile_cont(n_chars, 0.5), 4),
        |    round(quantile_cont(n_chars, 0.9), 4),
        |    round(quantile_cont(n_chars, 0.99), 4)
        |  FROM documents)
        |SELECT * FROM per ORDER BY lang""".stripMargin,
    "q84_quality_cutoff" ->
      """WITH cuts AS (
        |  SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang, n_chars, p50, n_chars >= p50 AS keep
        |FROM documents d JOIN cuts USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "q82_global_index" ->
      """SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT)
        |    AS global_idx
        |FROM documents ORDER BY global_idx""".stripMargin,
    "q46_css_extract" ->
      """SELECT p_partkey, p_name AS name,
        | 'https://corp.test/' || p_brand AS website,
        | p_type AS address, 'grp-' || p_size AS label, p_type AS descr,
        | p_brand AS addr1, p_name AS addr2, CAST(p_size AS VARCHAR) AS addr3
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q47_cursor_chain" ->
      """WITH f(facet, pages) AS
        |  (VALUES ('alpha', 4), ('beta', 1), ('delta', 3), ('gamma', 7)),
        |p AS (SELECT facet, unnest(generate_series(0, pages-1)) AS page_no FROM f),
        |i AS (SELECT facet, page_no, unnest(generate_series(0, 4)) AS k FROM p)
        |SELECT facet, page_no, page_no*5+k AS id,
        |  facet || '#' || (page_no*5+k) AS title
        |FROM i ORDER BY facet, id""".stripMargin,
    "q48_json_array_paths" ->
      """SELECT doc_id, source AS category1, lang AS category2,
        | 'loc-' || doc_id AS location
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q49_keyword_grid" ->
      """WITH k AS (SELECT DISTINCT trim(split_part(p_type,' ',1)) AS keyword
        |           FROM part),
        |g AS (SELECT unnest(generate_series(0,60)) AS page)
        |SELECT keyword, page,
        | 'https://jobs.test/search?q=' || keyword || '&start=' ||
        |   CAST(page*15 AS VARCHAR) AS url
        |FROM k, g ORDER BY keyword, page""".stripMargin,
    "q55_html_file_scan" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_key, n_name AS name,
        | 'region ' || n_regionkey AS region
        |FROM nation ORDER BY n_key""".stripMargin,
    "q56_graphql_paged" ->
      """WITH i AS (SELECT unnest(generate_series(0, 122)) AS id)
        |SELECT id // 5 AS page, id, 'job-' || id AS title,
        |  'co-' || (id % 7) AS company
        |FROM i ORDER BY id""".stripMargin,
    "q54_completeness" ->
      """WITH w AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS fields FROM documents)
        |SELECT doc_id, CAST(len(fields) AS BIGINT) AS n_fields,
        |  fields[20] AS f20
        |FROM w WHERE len(fields) >= 20 ORDER BY doc_id""".stripMargin,
    "q50_crawl_docs" -> dumpSql("q50_crawl_docs", "doc_id"),
    "q51_crawl_fetch_log" -> dumpSql("q51_crawl_fetch_log", "\"round\", host_hash, seq"),
    "q93_rank_crawl_log" -> dumpSql("q93_rank_crawl_log", "\"round\", host_hash, seq"),
    // q95 deliberately rides q51's SEQUENTIAL dump: the real-HTTP crawl
    // must produce the exact fetch log the in-memory sequential oracle
    // does — transport is not allowed to change the crawl
    "q95_http_crawl_log" -> dumpSql("q51_crawl_fetch_log", "\"round\", host_hash, seq"),
    "q52_crawl_spans" -> dumpSql("q52_crawl_spans", "doc_id, \"offset\""),
    "q53_crawl_metrics" ->
      s"""SELECT "round", ((host_hash % 32) + 32) % 32 AS bucket,
         | count(*) AS fetched,
         | CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS fetched_ok,
         | CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS fetched_404,
         | CAST(sum(CASE WHEN status <> 200 AND status <> 404 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS fetched_retryable
         |FROM read_parquet('${graft.oracle.SeqOracles.root}/q51_crawl_fetch_log/*.parquet')
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q67_training_shard" ->
      // end-to-end pipeline oracle: recomposed in SQL over the
      // INDEPENDENT sequential dumps — q52 (spans) for text assembly
      // and image refs, q50 for the doc list, q39 for decoded image
      // metadata. Near-dup at jaccard 1.0 == equal 3-shingle sets
      // (i = |A∩B| = |A| = |B|), the same structural guarantee q58
      // rides; token/stop/lang formulas are q29/q30/q31's.
      s"""WITH d AS (SELECT doc_id, url, host
         |  FROM read_parquet('${graft.oracle.SeqOracles.root}/q50_crawl_docs/*.parquet')),
         |sp AS (SELECT *
         |  FROM read_parquet('${graft.oracle.SeqOracles.root}/q52_crawl_spans/*.parquet')),
         |t0 AS (SELECT doc_id, string_agg(text, ' ' ORDER BY "offset") AS text
         |       FROM sp WHERE kind = 'text' GROUP BY doc_id),
         |texts AS (SELECT d.doc_id, d.url, d.host,
         |                 coalesce(t0.text, '') AS text,
         |                 sha256(regexp_replace(lower(trim(coalesce(t0.text, ''))),
         |                                       '\\s+', ' ', 'g')) AS content_key
         |          FROM d LEFT JOIN t0 USING (doc_id)),
         |keep AS (SELECT content_key, min(doc_id) AS doc_id
         |         FROM texts GROUP BY 1),
         |exact AS (SELECT t.* FROM texts t
         |          JOIN keep k ON t.doc_id = k.doc_id
         |                     AND t.content_key = k.content_key),
         |words AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
         |              x -> x <> '') AS ws FROM exact),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2],' ') AS gram
         |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) g
         |  WHERE len(ws) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1,2),
         |drops AS (SELECT DISTINCT id_b AS doc_id FROM inter
         |          JOIN sizes sa ON sa.doc_id = id_a
         |          JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE i = sa.n_grams AND i = sb.n_grams),
         |deduped AS (SELECT e.* FROM exact e
         |            LEFT JOIN drops x USING (doc_id) WHERE x.doc_id IS NULL),
         |qw AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
         |              x -> x <> '') AS ws FROM deduped),
         |lw AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                x -> x <> '') AS ws,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS total_chars,
         |    length(regexp_replace(text,
         |      '[^\\x{4e00}-\\x{9fff}\\x{3400}-\\x{4dbf}]', '', 'g')) AS cjk
         |  FROM deduped),
         |lh AS (SELECT doc_id, ws, total_chars, cjk,
         |    len(list_filter(ws, x -> x IN
         |      ('the','and','of','is','to','in','that','it','with','for'))) AS h_en,
         |    len(list_filter(ws, x -> x IN
         |      ('der','die','das','und','ist','nicht','mit','ein','zu','von'))) AS h_de,
         |    len(list_filter(ws, x -> x IN
         |      ('el','la','los','las','que','es','en','un','una','por'))) AS h_es,
         |    len(list_filter(ws, x -> x IN
         |      ('le','la','les','et','est','un','une','dans','pour','que'))) AS h_fr
         |  FROM lw),
         |ann AS (SELECT dd.doc_id,
         |  CAST(CASE WHEN length(trim(dd.text))=0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(dd.text),'\\s+')) END
         |    AS BIGINT) AS n_tokens,
         |  round(len(list_filter(qw.ws, x -> x IN
         |    ('the','a','an','of','and','or','to','in','is','it')))::DOUBLE
         |    / greatest(len(qw.ws),1), 4) AS stop_ratio,
         |  round(list_sum(list_transform(qw.ws, x -> length(x)))::DOUBLE
         |    / greatest(len(qw.ws),1), 4) AS mean_wlen,
         |  CASE
         |    WHEN lh.total_chars > 0 AND lh.cjk::DOUBLE / lh.total_chars > 0.2
         |      THEN 'zh'
         |    WHEN len(lh.ws) = 0 OR greatest(h_en,h_de,h_es,h_fr) = 0 THEN 'und'
         |    WHEN h_en = greatest(h_en,h_de,h_es,h_fr) THEN 'en'
         |    WHEN h_de = greatest(h_de,h_es,h_fr) THEN 'de'
         |    WHEN h_es = greatest(h_es,h_fr) THEN 'es'
         |    ELSE 'fr'
         |  END AS lang_pred
         |  FROM deduped dd JOIN qw USING (doc_id) JOIN lh USING (doc_id)),
         |img0 AS (SELECT DISTINCT doc_id, media_ref FROM sp WHERE kind = 'image'),
         |imgs AS (SELECT i.doc_id, count(*) AS n_images,
         |                CAST(sum(m.n_bytes) AS BIGINT) AS img_bytes
         |         FROM img0 i
         |         JOIN read_parquet('${graft.oracle.SeqOracles.root}/q39_media_from_crawl/*.parquet') m
         |           USING (media_ref)
         |         GROUP BY 1)
         |SELECT dd.doc_id, dd.url, dd.host, ann.lang_pred, ann.n_tokens,
         |       ann.stop_ratio, ann.mean_wlen, dd.content_key,
         |       coalesce(imgs.n_images, 0) AS n_images,
         |       coalesce(imgs.img_bytes, 0) AS img_bytes
         |FROM deduped dd JOIN ann USING (doc_id)
         |LEFT JOIN imgs USING (doc_id)
         |WHERE ann.n_tokens >= 5
         |ORDER BY dd.doc_id""".stripMargin,
    // streaming operators, replay-oracled: q64 diffs against a
    // sequential sessionization dump (gap merge is not native DuckDB);
    // q65/q66 reduce to pure batch semantics by replay construction,
    // so their oracles are native SQL
    "q64_stream_sessions" -> dumpSql("q64_stream_sessions", "host, first_ts"),
    "q65_stream_dedup" ->
      // survivors = every original + every beyond-horizon re-arrival;
      // in-horizon re-arrivals (i % 3) never appear
      """WITH d AS (
        |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) - 1 AS i
        |  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 60)
        |)
        |SELECT id, text FROM (
        |  SELECT doc_id * 10 AS id, text FROM d
        |  UNION ALL
        |  SELECT doc_id * 10 + 2 AS id, chr(9) || text AS text FROM d
        |  WHERE i % 5 = 0
        |) ORDER BY id""".stripMargin,
    "q66_stream_window_counts" ->
      // the replay's final watermark passed every real window's end, so
      // the streamed append-mode output equals the batch GROUP BY
      """SELECT date_trunc('day', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q40_taxonomy_unnest" ->
      ("""WITH tax AS (SELECT unnest(from_json('""" + taxonomyJson.replace("'", "''") + """',
        | '[{"id":"INTEGER","name":"VARCHAR","subs":[{"id":"INTEGER","name":"VARCHAR"}]}]')) AS cat)
        |SELECT cat.id AS parent_id, cat.name AS parent_name,
        |       s.id AS sub_id, s.name AS sub_name
        |FROM tax, LATERAL unnest(cat.subs) AS t(s)
        |ORDER BY parent_id, sub_id""").stripMargin,
    "q41_csv_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_url_encode" ->
      """SELECT p_partkey, replace(p_name, ' ', '+') AS enc
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q33_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |  CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id<10),
        |c AS (SELECT vec_id AS neighbor_id,
        |  CAST(embedding AS DOUBLE[]) AS nv FROM embeddings WHERE vec_id>=10),
        |sims AS (
        |  SELECT query_id, neighbor_id,
        |   round(list_dot_product(qv,nv)
        |     / (sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(nv,nv))),4)
        |     AS sim
        |  FROM c CROSS JOIN q),
        |ranked AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |                     ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims)
        |SELECT query_id, rnk, neighbor_id, sim FROM ranked WHERE rnk<=5
        |ORDER BY query_id, rnk""".stripMargin
  )
}
