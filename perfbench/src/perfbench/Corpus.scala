package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.ops.{ConnectedComponents, Dedup, IncrementalAnn, IncrementalLsh,
  Similarity}
import graft.synthweb.SyntheticWeb

/** Corpus dedup: only the ops layer runs. Batch near-dup only reads;
  * incremental ingest writes its persisted indexes beside its reads; CC
  * iterates through checkpoints. One unit is one pass: exact clusters,
  * MinHash near-dups, cosine near-dups, connected components, then the
  * same docs and vectors arriving in `ingestRounds` ingest rounds. The
  * untraced run's ingest never compacts the persisted indexes (the
  * operators' default); in the traced run the last ingest round
  * compacts them. The measured units are `passes` passes, a count fixed
  * by `--seconds`. A fresh JVM's passes keep getting faster for several
  * passes (JIT), so a pass's throughput is taken over the whole pass,
  * batch calls and ingest rounds together, and its step is the median
  * ingest round.
  */
final class CorpusDedup(env: Env) extends Workload {
  // sizes: documents = docBase × copies, vectors = vecBase × copies
  val docBase = 1000
  val vecBase = 500
  val copies = 8
  // CC forest: groups of groupLen nodes. CC takes 5 rounds on groups of
  // 200 on most seeds and 6 on a few.
  val groups = 100
  val groupLen = 200L
  val ingestRounds = 3
  /** Ingest rounds in the warm-up: the first creates the indexes, the
    * second probes them, as every later round does.
    */
  val warmIngestRounds = 2
  val compactEvery: Int = if (env.trace) ingestRounds else 0
  val annBits = 16
  /** Measured passes: one per `passSeconds` of `--seconds`, at least 1. */
  val passSeconds = 15.0
  val passes: Int = math.max(1, math.round(env.seconds / passSeconds).toInt)

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var edges: DataFrame = _
  private def nDocs = docBase.toLong * copies
  private def nVecs = vecBase.toLong * copies
  private def nEdges = groups * (groupLen - 1)
  private def tracer = env.tracer

  /** What the last pass returned, for the checks. */
  private var last: Pass = _

  /** One ingest round's LSH and ANN walls; `compacted` when the round
    * compacted the indexes.
    */
  final case class Ingest(lsh: Double, ann: Double, compacted: Boolean) {
    def seconds: Double = lsh + ann
  }

  final case class Pass(exact: Long, minhash: Set[(Long, Long)], cosine: Set[(Long, Long)],
                        cc: DataFrame, ccRounds: Int, lsh: Set[(Long, Long)],
                        ann: Set[(Long, Long)], walls: Map[String, Double],
                        ingest: Seq[Ingest], dropped: Long, compiles: Long)

  /** Docs: a random base text per id0 (k = 0), its exact mirror (k = 1)
    * and salted variants (k >= 2). Vectors: a random base per id0, its
    * exact mirror, and independent random vectors. Edges: a random
    * recursive forest, each node wired to an earlier node of its group.
    * All of it is a function of the seed.
    */
  private def generate(): Unit = {
    val spark = env.spark
    import spark.implicits._
    val seed = env.seed
    def h(xs: Long*): Long = xs.foldLeft(seed)((acc, x) => SyntheticWeb.mix64(acc ^ x))
    def part(salt: Long, id: Long) = java.lang.Math.floorMod(h(salt, id), ingestRounds.toLong).toInt
    docs = (0L until docBase).flatMap { id0 =>
      val text0 = (0 until 40).map(i => s"w${java.lang.Math.floorMod(h(1, id0, i), 5000L)}")
        .mkString(" ")
      (0 until copies).map { k =>
        val id = id0 * 16 + k
        (id, if (k <= 1) text0 else s"$text0 salt$k v${id0 % 997}", part(2, id))
      }
    }.toDF("id", "text", "part").persist(StorageLevel.MEMORY_ONLY)
    vecs = (0L until vecBase).flatMap { id0 =>
      (0 until copies).map { k =>
        val id = id0 * 64 + k
        val src = if (k <= 1) id0 * 64 else id // copy 1 mirrors copy 0
        (id, Array.tabulate(64)(i =>
          ((java.lang.Math.floorMod(h(3, src, i), 2001L) - 1000) / 1000.0).toFloat),
         part(4, id))
      }
    }.toDF("id", "vec", "part").persist(StorageLevel.MEMORY_ONLY)
    val off = pmod(col("id"), lit(groupLen)) // 0 = group root
    edges = spark.range(0, groups * groupLen).filter(off =!= 0)
      .select(col("id").as("id_a"),
              (col("id") - off + pmod(xxhash64(col("id"), lit(seed)), off)).as("id_b"))
      .persist(StorageLevel.MEMORY_ONLY)
    require(docs.count() == nDocs && vecs.count() == nVecs && edges.count() == nEdges,
            "generated input sizes")
  }

  def prepare(): Unit = generate()

  /** Untimed warm-up: every operator once, in four threads side by side
    * (batch near-dup; cosine and CC; the LSH ingest rounds; the ANN ingest
    * rounds, each on its own index directory). It pays the cold costs a
    * first sequential pass pays (class loading, JIT, codegen) in less wall
    * time.
    */
  def warmUp(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val lshDir = env.freshDir("lsh-index")
    val annDir = env.freshDir("ann-index")
    def timed(name: String)(f: => Any): String = s"$name ${Main.fmt(Stats.timed(f)._2)} s"
    val groups = Seq(
      Future(Seq(timed("exact")(exactCount()), timed("minhash")(minhashPairs(None)))),
      Future(Seq(timed("cosine")(cosinePairs()), timed("cc")(components()))),
      Future((0 until warmIngestRounds).map(i => timed(s"lsh round $i")(lshRound(lshDir, i)))),
      Future((0 until warmIngestRounds).map(i => timed(s"ann round $i")(annRound(annDir, i)))))
    val walls = Await.result(Future.sequence(groups), Duration.Inf).flatten
    println(s"warm-up, four threads: ${walls.mkString(", ")}")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def exactCount(): Long =
    Dedup.exactClusters(docs, "id", "text").filter(col("n_dups") > 1).count()

  private def minhashPairs(acc: Option[LongAccumulator]): Set[(Long, Long)] =
    pairs(Dedup.minhashNearDups(docs, "id", "text", shingleN = 3, numHashes = 32,
                                rowsPerBand = 4, threshold = 1.0, maxBucket = 1024, acc = acc))

  private def cosinePairs(): Set[(Long, Long)] =
    pairs(Similarity.cosineNearDups(env.spark, vecs, "id", "vec", threshold = 0.9999,
                                    bits = annBits))

  /** Components, forced, and the number of CC rounds. */
  private def components(): (DataFrame, Int) = {
    val (c, n) = ConnectedComponents.componentsWithRounds(edges)
    c.count()
    (c, n)
  }

  private def lshRound(dir: String, i: Int): Set[(Long, Long)] =
    pairs(IncrementalLsh.roundPairs(env.spark, dir, docs.filter(col("part") === i),
                                    "id", "text", shingleN = 3, numHashes = 32,
                                    rowsPerBand = 4, threshold = 1.0,
                                    maxBucket = 1024, compactEvery = compactEvery))

  private def annRound(dir: String, i: Int): Set[(Long, Long)] =
    pairs(IncrementalAnn.roundPairs(env.spark, dir, vecs.filter(col("part") === i),
                                    "id", "vec", threshold = 0.9999, bits = annBits,
                                    compactEvery = compactEvery))

  /** One timed operator call: (result, wall seconds). */
  private def call[T](name: String)(f: => T): (T, Double) = {
    val (r, s) = Stats.timed(env.out.op(name)(tracer.span(name)(f)))
    (r.getOrElse(throw new IllegalStateException(s"$name failed")), s)
  }

  private def pass(traced: Boolean): Pass = {
    val cg0 = Codegen.compiles()
    val acc = env.spark.sparkContext.longAccumulator("minhash_dropped")
    val (exact, tExact) = call("exactClusters")(exactCount())
    val (mh, tMh) = call("minhashNearDups")(minhashPairs(Some(acc)))
    val (cos, tCos) = call("cosineNearDups")(cosinePairs())
    val storage = if (traced) Some(new StoragePoller(env)) else None
    val ((cc, ccRounds), tCc) = call("componentsWithRounds")(components())
    storage.foreach(p => env.out.put("ops.cc.storage_mb_peak", p.stop(), "MB"))

    val lshDir = env.freshDir("lsh-index")
    val annDir = env.freshDir("ann-index")
    val lsh = mutable.Set.empty[(Long, Long)]
    val ann = mutable.Set.empty[(Long, Long)]
    val ingest = (0 until ingestRounds).map { i =>
      tracer.span(s"ingest round $i") {
        val (l, tl) = call("IncrementalLsh.roundPairs")(lshRound(lshDir, i))
        val (a, ta) = call("IncrementalAnn.roundPairs")(annRound(annDir, i))
        lsh ++= l
        ann ++= a
        Ingest(tl, ta, compacted = compactEvery > 0 && (i + 1) % compactEvery == 0)
      }
    }
    Pass(exact, mh, cos, cc, ccRounds, lsh.toSet, ann.toSet,
         Map("exact" -> tExact, "minhash" -> tMh, "cosine" -> tCos, "cc" -> tCc),
         ingest, acc.value.toLong, Codegen.compiles() - cg0)
  }

  def measure(traced: Boolean): Double = {
    val runs = (1 to passes).map { _ =>
      val from = Clock.nowUs
      val p = tracer.span("pass")(pass(traced))
      (p, from, Clock.nowUs)
    }
    last = runs.last._1
    val ps = runs.map(_._1)
    // batch: docs twice (exact, MinHash), vectors, edges; ingest: docs
    // and vectors once more
    val rows = 3 * nDocs + 2 * nVecs + nEdges
    val rps = ps.map(p => rows / (p.walls.values.sum + p.ingest.map(_.seconds).sum))
    // a compacting round (traced run only) is a different step;
    // ops.ingest.compact_round_s carries it
    val steps = ps.flatMap(_.ingest.filterNot(_.compacted).map(_.seconds))
    println(s"passes: ${ps.size}, rows/s ${rps.map(Main.fmt).mkString(" ")}, " +
      s"ingest rounds ${ps.flatMap(_.ingest).map(i => Main.fmt(i.seconds) +
        (if (i.compacted) " (compacting)" else "")).mkString(" ")}")
    ps.foreach(p => println("  " + p.walls.map { case (k, v) => s"$k ${Main.fmt(v)} s" }
      .mkString(", ") + s", cc rounds ${p.ccRounds}, codegen compiles ${p.compiles}"))
    if (!traced) {
      env.out.put("rows_per_s", Stats.median(rps), "rows/s")
      env.out.put("step_p50_s", Stats.median(steps), "s")
    } else layerMetrics(runs)
    Stats.median(runs.map { case (_, a, b) => (b - a) / 1e6 })
  }

  private def layerMetrics(runs: Seq[(Pass, Long, Long)]): Unit = {
    Thread.sleep(500) // let the listener bus deliver the last job events
    val out = env.out
    val l = env.listener
    val ps = runs.map(_._1)
    def med(k: String) = Stats.median(ps.map(_.walls(k)))
    // jobs of one operator: those submitted inside its spans
    def jobsOf(name: String): Seq[JobStat] =
      tracer.spans.filter(_.name == name).flatMap(s => l.within(s.startUs, s.endUs))
    val n = ps.size.toDouble
    out.put("ops.exact.wall_s", med("exact"), "s")
    out.put("ops.minhash.wall_s", med("minhash"), "s")
    out.put("ops.minhash.shuffle_mb",
            jobsOf("minhashNearDups").map(_.shuffleBytes).sum / 1e6 / n, "MB")
    out.put("ops.minhash.dropped_rows", ps.map(_.dropped).max.toDouble, "count")
    out.put("ops.cosine.wall_s", med("cosine"), "s")
    out.put("ops.cosine.shuffle_mb",
            jobsOf("cosineNearDups").map(_.shuffleBytes).sum / 1e6 / n, "MB")
    out.put("ops.cosine.jobs", jobsOf("cosineNearDups").size / n, "count")
    out.put("ops.cc.rounds", Stats.median(ps.map(_.ccRounds.toDouble)), "count")
    out.put("ops.cc.wall_s", med("cc"), "s")
    out.put("ops.cc.spill_mb",
            jobsOf("componentsWithRounds").map(_.spillBytes).sum / 1e6 / n, "MB")
    val ing = ps.flatMap(_.ingest)
    val steady = ing.filterNot(_.compacted)
    out.put("ops.ingest.lsh_s", Stats.median(steady.map(_.lsh)), "s")
    out.put("ops.ingest.ann_s", Stats.median(steady.map(_.ann)), "s")
    out.put("ops.ingest.index_mb_written",
            (jobsOf("IncrementalLsh.roundPairs") ++ jobsOf("IncrementalAnn.roundPairs"))
              .map(_.outputBytes).sum / 1e6 / n, "MB")
    out.put("ops.ingest.compact_round_s",
            Stats.mean(ing.filter(_.compacted).map(_.seconds)), "s")
    out.put("codegen.compiles", Stats.mean(ps.map(_.compiles.toDouble)), "count")
  }

  def check(): Unit = {
    val p = last
    val o = env.out
    o.check("exact clusters = planted mirrors", p.exact == docBase,
            s"${p.exact} clusters, $docBase planted")
    o.check("minhash pairs = planted mirrors",
            p.minhash.size == docBase && p.minhash.forall { case (a, b) => a / 16 == b / 16 },
            s"${p.minhash.size} pairs, $docBase planted, ${p.dropped} rows dropped")
    o.check("cosine pairs = planted mirrors",
            p.cosine.size == vecBase && p.cosine.forall { case (a, b) => a / 64 == b / 64 },
            s"${p.cosine.size} pairs, $vecBase planted")
    o.check("ingest LSH union covers batch pairs", p.minhash.subsetOf(p.lsh),
            s"${(p.minhash -- p.lsh).size} batch pairs missing of ${p.minhash.size}")
    o.check("ingest ANN union covers batch pairs", p.cosine.subsetOf(p.ann),
            s"${(p.cosine -- p.ann).size} batch pairs missing of ${p.cosine.size}")
    o.op("component sizes") {
      val r = p.cc.groupBy("component_id").count()
        .agg(count(lit(1)), min(col("count")), max(col("count"))).head()
      o.check("one component per group, each of its size",
              r.getLong(0) == groups && r.getLong(1) == groupLen && r.getLong(2) == groupLen,
              s"${r.getLong(0)} components of sizes ${r.getLong(1)}..${r.getLong(2)}; " +
                s"$groups groups of $groupLen")
    }
  }
}

/** Peak block-manager storage in use above its level at start, sampled
  * every 20 ms on a daemon thread while it runs.
  */
final class StoragePoller(env: Env) {
  private def used(): Long = env.spark.sparkContext.getExecutorMemoryStatus
    .values.map { case (max, free) => max - free }.sum
  private val base = used()
  @volatile private var peak = base
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) { peak = math.max(peak, used()); Thread.sleep(20) }
  }, "storage-poller")
  t.setDaemon(true)
  t.start()

  /** Stops sampling; returns the peak above the starting level in MB. */
  def stop(): Double = {
    running = false
    t.join()
    peak = math.max(peak, used())
    (peak - base) / 1e6
  }
}
