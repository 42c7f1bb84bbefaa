package graft

import org.apache.spark.sql.SparkSession

import graft.sched.{CrawlConfig, CrawlScheduler}
import graft.store.Snapshots
import graft.synthweb.WebConfig

/** 10^6-10^7 frontier demonstration (SURVEY.md §7.4.6; numbers
  * recorded in BASELINE.md): the size-parametric knobs of the same
  * scheduler the tests pin, turned up to ~1M pages — CPU-bound (no
  * simulated fetch latency), 64 hosts with 4x hot-host skew, fat
  * seed-all-listings rounds. This main exists so the headline
  * pages/sec claim is reproducible: `sbt 'runMain graft.FrontierDemo'`.
  *
  * `SPARK_GRAFT_DEMO_SCALE=10` multiplies the page count to ~9.3M (the
  * 10^7-class run: 2x hosts, 2.5x listings/host, 2x details/listing)
  * with the SAME bucket/filter layout — the point being that only
  * size-parametric knobs move, no code changes, as a 1000-executor
  * scale-up would.
  */
object FrontierDemo {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scale = sys.env.getOrElse("SPARK_GRAFT_DEMO_SCALE", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-frontier-demo")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = graft.util.TempDirs.create("frontier-demo-")
    val (hosts, lists, details) =
      if (scale >= 10) (128, 375, 200) else (64, 150, 100)
    val cfg = CrawlConfig(
      web = WebConfig(seed = 777, nHosts = hosts, listPagesPerHost = lists,
                      detailsPerList = details, hotHostFactor = 4, pct404 = 3,
                      pct503 = 2, crossHostLinkPct = 2,
                      seedAllListPages = true),
      outDir = out, maxRounds = 10, salts = 8,
      hostCapacity = 10000000, hostRefill = 10000000,
      bloomBits = if (scale >= 10) 1 << 27 else 1 << 24)
    val t0 = System.nanoTime()
    val last = new CrawlScheduler(spark, cfg).run()
    val sec = (System.nanoTime() - t0) / 1e9
    val snaps = new Snapshots(out)
    val m = snaps.readManifest(last)
    val pages = spark.read.parquet(snaps.fetchLogPaths(last): _*).count()
    val docs = spark.read.parquet(snaps.docsPaths(last): _*).count()
    val seen = spark.read.parquet(snaps.seenPaths(m): _*).count()
    println(f"== DEMO: rounds=$last done=${m.done} pages=$pages docs=$docs " +
      f"seen=$seen sec=$sec%.1f pps=${pages / sec}%.0f")
    spark.stop()
  }
}
