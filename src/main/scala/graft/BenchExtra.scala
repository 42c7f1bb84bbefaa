package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sched.CrawlScheduler
import graft.store.Snapshots
import graft.util.TempDirs

/** Round-6 optimization harness — ISOLATED measurements per guide §1
  * (noop sink, per-phase splits, plan dumps). This is NOT the driver
  * bench: `Bench.scala` stays frozen; numbers here are cited in
  * OPTIMIZATION_r06.md only.
  *
  * Usage: sbt "runMain graft.BenchExtra <leg> [reps]"
  *   explain  — dump .explain("formatted") for every headline query to
  *              plans/r06/<q>_<suffix>.txt (suffix = arg 2, default "before")
  *   queries  — noop-sink timings (median of reps) for headline queries
  *   dedup    — phase split of the dedup_at_scale leg
  *   ann      — phase split of the ann_at_scale leg
  *   cc       — the cc_at_scale leg, with each round's edges and seconds
  *   hygiene  — phase split of the hygiene_at_scale leg
  *   crawl    — one 32c bench-config crawl with per-job-description time
  */
object BenchExtra {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timeIt[T](label: String, reps: Int = 3)(f: => T): T = {
    var last: T = null.asInstanceOf[T]
    val ts = (1 to reps).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      last = f
      (System.nanoTime() - t0) / 1e9
    }
    val med = ts.sorted.apply(ts.length / 2)
    println(f"TIMER $label%-40s median=$med%8.3f s  runs=${ts.map(t => f"$t%.3f").mkString("[", ",", "]")}")
    last
  }

  private def explainStr(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val leg = args.headOption.getOrElse("queries")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val headline = Seq("q01_agg_pricing", "q05_join_region", "q10_window_ffill",
                       "q13_topk", "q16_trimhtml", "q23_content_key",
                       "q25_exact_dedup", "q26_ngram_jaccard", "q27_minhash_lsh",
                       "q28_simhash", "q30_quality", "q33_cosine_topk",
                       "q35_ann_lsh")
    leg match {
      case "explain" =>
        val suffix = if (args.length > 1) args(1) else "before"
        // optional explicit query list after the suffix; defaults to the
        // headline set so the original invocation is unchanged
        val names = if (args.length > 2) args.drop(2).toSeq else headline
        val s = session(cpus)
        val dir = java.nio.file.Paths.get("plans/r06")
        java.nio.file.Files.createDirectories(dir)
        names.foreach { n =>
          val df = SparkEntry.queries(n)(s, sfDir)
          java.nio.file.Files.write(dir.resolve(s"${n}_$suffix.txt"),
                                    explainStr(df).getBytes("UTF-8"))
          println(s"wrote plans/r06/${n}_$suffix.txt")
        }
        s.stop()

      case "queries" =>
        val s = session(cpus)
        // warm
        headline.foreach(n => SparkEntry.queries(n)(s, sfDir).count())
        headline.foreach { n =>
          s.sparkContext.setJobDescription(n)
          timeIt(n)(SparkEntry.queries(n)(s, sfDir).count())
        }
        s.stop()

      case "dedup" =>
        val s = session(cpus)
        // same corpus construction as Bench part 3, but from a fresh tiny
        // crawl is slow; reuse the sf docs expanded 8x like Bench's shape
        // (ids/text differ from Bench's crawl-derived corpus, the PHASE
        // RATIOS are what this leg measures)
        val raw = s.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"),
                  col("text").as("text0"))
          .withColumn("id0", pmod(xxhash64(col("doc_id")), lit(1000000000000L)))
          .select(col("id0"), col("text0"))
        val copies = raw.crossJoin(
            s.range(0, 25).select(col("id").cast("int").as("k")))
          .select(
            (col("id0") * 32 + col("k")).as("id"),
            when(col("k") <= 1, col("text0"))
              .otherwise(concat(col("text0"), lit(" salt"), col("k"),
                                lit(" v"), pmod(col("id0"), lit(997))))
              .as("text"))
          .persist()
        println(s"docs=${copies.count()}")
        val shingled = copies.select(col("id"),
          graft.ops.Dedup.shingles(col("text"), 3).as("sh"))
        timeIt("shingles-only")(noop(shingled))
        val sig = shingled
          .withColumn("sig", graft.ops.Dedup.minhashSignature(col("sh"), 32))
          .select("id", "sig")
        timeIt("shingle+minhash")(noop(sig))
        val banded = graft.ops.IncrementalLsh.bands(copies, "id", "text")
        timeIt("bands")(noop(banded))
        timeIt("bands+cappedPairs")(
          graft.ops.LshPairs.cappedIdPairs(banded, 1024).count())
        timeIt("exactClusters")(
          graft.ops.Dedup.exactClusters(copies, "id", "text")
            .filter(col("n_dups") > 1).count())
        timeIt("lsh-full")(
          graft.ops.Dedup.minhashNearDups(copies, "id", "text",
            shingleN = 3, numHashes = 32, rowsPerBand = 4,
            threshold = 1.0, maxBucket = 1024).count())
        // verify-phase isolation: pair set pinned outside the timer
        val banded2 = graft.ops.IncrementalLsh.bands(copies, "id", "text")
        val pr = graft.ops.LshPairs.cappedIdPairs(banded2, 1024).localCheckpoint()
        val nPr = pr.count()
        println(s"pairsRaw rows=$nPr")
        timeIt("ckpt+count-overhead")(
          graft.ops.LshPairs.cappedIdPairs(banded2, 1024).localCheckpoint().count())
        timeIt("verify-only") {
          val ids = pr.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
          val lookup = copies
            .join(broadcast(ids), Seq("id"), "left_semi")
            .select(col("id"), graft.ops.Dedup.shingles(col("text"), 3).as("sh"))
          broadcast(pr)
            .join(lookup.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
            .join(lookup.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
            .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
            .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
            .filter(col("inter") / greatest(col("uni"), lit(1.0)) >= 1.0)
            .count()
        }
        copies.unpersist()
        s.stop()

      case "ann" =>
        val s = session(cpus)
        val base = s.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("id0"), col("embedding"))
        val vecs = base.crossJoin(
            s.range(0, 64).select(col("id").cast("int").as("k")))
          .select(
            (col("id0") * 64 + col("k")).as("id"),
            when(col("k") <= 1, col("embedding"))
              .otherwise(
                transform(sequence(lit(0), lit(63)),
                          i => ((pmod(xxhash64(col("id0") * 64 + col("k"), i),
                                      lit(2001)) - 1000) / 1000.0).cast("float")))
              .as("vec"))
          .persist()
        println(s"vecs=${vecs.count()}")
        val banded = graft.ops.IncrementalAnn.bands(vecs, "id", "vec",
                                                    tables = 8, bits = 16)
        timeIt("signatures(bands)")(noop(banded))
        timeIt("bands+cappedPairs")(
          graft.ops.LshPairs.cappedIdPairs(banded, 1024).count())
        timeIt("cosineNearDups-full")(
          graft.ops.Similarity.cosineNearDups(s, vecs, "id", "vec",
            threshold = 0.9999, bits = 16).count())
        vecs.unpersist()
        s.stop()

      case "annincr" =>
        val s = session(cpus)
        val base = s.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("id0"), col("embedding"))
        val vecs = base.crossJoin(
            s.range(0, 64).select(col("id").cast("int").as("k")))
          .select(
            (col("id0") * 64 + col("k")).as("id"),
            when(col("k") <= 1, col("embedding"))
              .otherwise(
                transform(sequence(lit(0), lit(63)),
                          i => ((pmod(xxhash64(col("id0") * 64 + col("k"), i),
                                      lit(2001)) - 1000) / 1000.0).cast("float")))
              .as("vec"))
          .persist()
        println(s"vecs=${vecs.count()}")
        val delta = base.select((lit(10000000L) + col("id0")).as("id"),
                                col("embedding").as("vec"))
        (1 to 3).foreach { rep =>
          val idx = TempDirs.create("extra-incann-")
          val r1c = graft.ops.IncrementalAnn.roundPairs(
            s, idx, vecs.filter(pmod(col("id"), lit(2)) === 0), "id",
            "vec", threshold = 0.9999, bits = 16).count()
          timeIt(s"ann-incr-round2 rep$rep", 1)(
            graft.ops.IncrementalAnn.roundPairs(
              s, idx, vecs.filter(pmod(col("id"), lit(2)) === 1), "id",
              "vec", threshold = 0.9999, bits = 16).count())
          timeIt(s"ann-incr-smalldelta rep$rep", 1)(
            graft.ops.IncrementalAnn.roundPairs(
              s, idx, delta, "id", "vec", threshold = 0.9999,
              bits = 16).count())
          println(s"  r1pairs=$r1c")
        }
        vecs.unpersist()
        s.stop()

      case "lshincr" =>
        val s = session(cpus)
        val raw = s.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text").as("text0"))
          .withColumn("id0", pmod(xxhash64(col("doc_id")), lit(1000000000000L)))
          .select(col("id0"), col("text0"))
        val copies = raw.crossJoin(
            s.range(0, 8).select(col("id").cast("int").as("k")))
          .select(
            (col("id0") * 16 + col("k")).as("id"),
            when(col("k") <= 1, col("text0"))
              .otherwise(concat(col("text0"), lit(" salt"), col("k"),
                                lit(" v"), pmod(col("id0"), lit(997))))
              .as("text"))
          .persist()
        println(s"docs=${copies.count()}")
        (1 to 3).foreach { rep =>
          val idx = TempDirs.create("extra-inclsh-")
          graft.ops.IncrementalLsh.roundPairs(
            s, idx, copies.filter(pmod(col("id"), lit(2)) === 0), "id",
            "text", shingleN = 3, numHashes = 32, rowsPerBand = 4,
            threshold = 1.0, maxBucket = 1024).count()
          timeIt(s"lsh-incr-round2 rep$rep", 1)(
            graft.ops.IncrementalLsh.roundPairs(
              s, idx, copies.filter(pmod(col("id"), lit(2)) === 1), "id",
              "text", shingleN = 3, numHashes = 32, rowsPerBand = 4,
              threshold = 1.0, maxBucket = 1024).count())
        }
        copies.unpersist()
        s.stop()

      case "cc" =>
        val s = session(cpus)
        val nNodes = 10010000L
        val groupLen = 1000L
        val off = pmod(col("id"), lit(groupLen))
        val edges = s.range(0, nNodes)
          .filter(off =!= 0)
          .select(col("id").as("id_a"),
                  (col("id") - off + pmod(xxhash64(col("id"), lit(41L)), off))
                    .as("id_b"))
        timeIt("cc-full", reps = 3) {
          val (comp, trace) = graft.ops.ConnectedComponents.componentsTraced(edges)
          val n = comp.groupBy("component_id").count().count()
          println(s"  components=$n rounds=${trace.last.round}")
          trace.foreach(r => println(f"    round ${r.round}%2d: edges ${r.edges}%9d, ${r.seconds}%7.3f s"))
        }
        s.stop()

      case "hygiene" =>
        val s = session(cpus)
        val base = s.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val bench = s.range(0, 200).select(
          concat_ws(" ", transform(sequence(lit(0), lit(11)),
            j => concat(lit("bq"), col("id"), lit("w"), j))).as("text"))
        val frag = concat_ws(" ", transform(sequence(lit(0), lit(6)),
          j => concat(lit("bq"), pmod(col("doc_id"), lit(200)), lit("w"), j)))
        val corpus = base.crossJoin(
            s.range(0, 32).select(col("id").cast("int").as("k")))
          .select(
            (col("doc_id") * 32 + col("k")).as("id"),
            when(col("k") === 1, concat(col("text"), lit(" "), frag))
              .otherwise(concat(col("text"), lit(" salt"), col("k"),
                                lit(" u"), pmod(col("doc_id"), lit(997))))
              .as("text"))
          .persist()
        println(s"docs=${corpus.count()}")
        timeIt("words-only(noop)")(
          noop(corpus.select(graft.ops.TextOps.words(col("text")).as("ws"))))
        timeIt("shingles5-only(noop)")(
          noop(corpus.select(graft.ops.Dedup.shingles(col("text"), 5).as("sh"))))
        timeIt("decon")(
          graft.ops.Decontaminate.overlap(corpus, bench, "id", "text", n = 5)
            .filter(col("contaminated")).count())
        val ch = graft.ops.Chunking.slidingChunks(corpus, "id", "text", 12, 8)
        timeIt("chunk-only(noop)")(noop(ch))
        timeIt("chunk+index") {
          val ch2 = graft.ops.Chunking.slidingChunks(corpus, "id", "text", 12, 8)
          val idx = graft.ops.GlobalIndex.globalRowNumber(
            ch2, Seq(col("n_tokens").desc, col("id"), col("chunk_idx")),
            numPartitions = cpus)
          idx.agg(count(lit(1)), countDistinct(col("global_idx")),
                  min("global_idx"), max("global_idx")).head()
        }
        corpus.unpersist()
        s.stop()

      case "crawl" =>
        val s = session(cpus)
        val jobTimes =
          new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
        val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
        val nJobs = new java.util.concurrent.atomic.AtomicLong()
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("(none)")
            jobStart.put(js.jobId, (desc, System.nanoTime()))
            nJobs.incrementAndGet(); ()
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            Option(jobStart.remove(je.jobId)).foreach { case (desc, t0) =>
              jobTimes.computeIfAbsent(desc, _ => new java.util.concurrent.atomic.AtomicLong())
                .addAndGet(System.nanoTime() - t0)
            }
            ()
          }
        })
        // warmup like Bench
        new CrawlScheduler(s, BenchCfg.warmup(
          TempDirs.create("extra-warm-"))).run()
        jobTimes.clear(); nJobs.set(0)
        val out = TempDirs.create("extra-crawl-")
        val t0 = System.nanoTime()
        val last = new CrawlScheduler(s, BenchCfg.crawl(out)).run()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(800)
        val pages = s.read.parquet(new Snapshots(out).fetchLogPaths(last): _*).count()
        println(f"CRAWL sec=$sec%.2f pages=$pages rounds=$last jobs=${nJobs.get}")
        import scala.jdk.CollectionConverters._
        jobTimes.asScala.toSeq.sortBy(-_._2.get).foreach { case (d, t) =>
          println(f"  JOB ${t.get / 1e9}%8.2f s  $d")
        }
        s.stop()

      case other =>
        Console.err.println(s"unknown leg: $other")
        sys.exit(2)
    }
  }
}

/** The Bench crawl configs, duplicated here so the frozen Bench.scala
  * stays untouched (same values; drift here only mis-calibrates the
  * EXTRA harness, never the driver bench).
  */
private object BenchCfg {
  import graft.sched.CrawlConfig
  import graft.synthweb.WebConfig
  def crawl(out: String): CrawlConfig = CrawlConfig(
    web = WebConfig(seed = 202, nHosts = 16, listPagesPerHost = 40,
                    detailsPerList = 25, hotHostFactor = 2, pct404 = 3,
                    pct503 = 2, crossHostLinkPct = 5,
                    latencyBaseMs = 105, latencyJitterMs = 61,
                    seedAllListPages = true),
    outDir = out, maxRounds = 12, maxAttempts = 3, salts = 8,
    hostCapacity = 100000, hostRefill = 100000,
    bloomBits = 1 << 22, simulateLatency = true)
  def warmup(out: String): CrawlConfig = CrawlConfig(
    web = WebConfig(seed = 9, nHosts = 2, listPagesPerHost = 1,
                    detailsPerList = 3),
    outDir = out, maxRounds = 8, hostCapacity = 64, hostRefill = 64)
}
