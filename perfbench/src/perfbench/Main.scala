package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Counts operations and checks, and gathers the metrics of one run. An
  * operation that throws counts as failed and is never retried.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        notes += s"FAILED $name: $e"
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"CHECK FAILED $name: $detail" }
    else notes += s"check ok $name: $detail"
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** Everything a workload needs from the harness. */
final class Env(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: Path, val cores: Int) {
  val out = new Outcome
  val tracer = new Tracer(s"$workload-seed$seed-${ProcessHandle.current().pid()}")
  private var s: SparkSession = _
  private var listenerOpt: Option[JobListener] = None
  private var dirSeq = 0

  def spark: SparkSession = s
  def listener: JobListener = listenerOpt.get

  def newSession(): SparkSession = {
    s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Turns the job listener on for the rest of the run. */
  def listen(): JobListener = {
    val l = new JobListener
    listenerOpt = Some(l)
    s.sparkContext.addSparkListener(l)
    l
  }

  def freshDir(prefix: String): String = {
    dirSeq += 1
    val d = work.resolve(s"$prefix-$dirSeq")
    Files.createDirectories(d)
    d.toString
  }

  def stop(): Unit = if (s != null) { s.stop(); s = null }
}

/** Context recorded beside every run and never used to select runs:
  * hypervisor steal from /proc/stat and JVM GC time.
  */
object Context {
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
}

/** Janino compiles of Spark's whole-stage and expression codegen so far
  * in this JVM: a class missing from the codegen cache is compiled again.
  */
object Codegen {
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds covered by the union of the given intervals (microseconds). */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var cov = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { cov += b - from; reach = b }
    }
    cov / 1e6
  }
}

/** A workload: set-up that can be repeated, a measured loop, and output
  * checks made outside the measured region.
  */
trait Workload {
  /** Prepares the inputs on a fresh session. */
  def prepare(): Unit
  /** Untimed warm-up after the last `prepare`, so that the measured units
    * start warm.
    */
  def warmUp(): Unit
  /** Runs the measured units, a count set by `env.seconds`; puts the
    * end-to-end metrics with `traced` false, the per-layer metrics with
    * `traced` true. Returns the median wall of one unit.
    */
  def measure(traced: Boolean): Double
  /** Correctness checks on what the last `measure` produced. */
  def check(): Unit
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <crawl|corpus_dedup> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --spans <file>")
    sys.exit(2)
  }

  def fmt(v: Double): String = String.format(Locale.ROOT, "%.6g", Double.box(v))

  def json(out: Outcome, correct: Boolean): String = {
    val ms = out.metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = arg("seconds").toDoubleOption.filter(_ > 0)
      .getOrElse(usage("--seconds must be positive"))
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case t   => usage(s"--trace must be 0 or 1, not $t")
    }
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val env = new Env(workload, seed, seconds, trace, work,
                      Runtime.getRuntime.availableProcessors())
    val wl: Workload = workload match {
      case "crawl"        => new Crawl(env)
      case "corpus_dedup" => new CorpusDedup(env)
      case w              => usage(s"unknown workload $w")
    }
    val out = env.out
    val ticks0 = Context.cpuTicks()
    val gc0 = Context.gcSeconds()
    val code =
      try {
        env.tracer.enabled = trace
        // set-up runs once: what it costs is a fresh JVM's first session,
        // codegen and JIT, which a second set-up in the same JVM would not
        // pay again
        val (sess, prep) = env.tracer.span("prepare") {
          val sess = Stats.timed(env.newSession())._2
          (sess, sess + Stats.timed(wl.prepare())._2)
        }
        val warm = Stats.timed(env.tracer.span("warm-up")(wl.warmUp()))._2
        println(s"set-up: session ${fmt(sess)} s, inputs ${fmt(prep - sess)} s, " +
          s"warm-up ${fmt(warm)} s")
        if (!trace) {
          out.put("setup_s", prep + warm, "s")
          wl.measure(traced = false)
        } else {
          // untraced then traced, on the same warm session: their
          // difference is the tracing overhead
          env.tracer.enabled = false
          val plain = wl.measure(traced = false)
          out.metrics.clear()
          val l = env.listen()
          env.tracer.enabled = true
          val gcT = Context.gcSeconds()
          val traced = env.tracer.span(workload)(wl.measure(traced = true))
          out.put("jvm.gc_s", Context.gcSeconds() - gcT, "s")
          out.put("trace.unit_untraced_s", plain, "s")
          out.put("trace.unit_traced_s", traced, "s")
          out.put("trace.overhead_s", traced - plain, "s")
          println(s"tracing overhead: ${fmt(traced - plain)} s per unit " +
            s"(traced ${fmt(traced)} s, untraced ${fmt(plain)} s); " +
            s"${l.all.size} Spark jobs seen")
          Layers.fillZeros(out)
          env.tracer.write(Paths.get(arg("spans")), l.all)
        }
        wl.check()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out.notes += s"FAILED run: $e"
          1
      } finally env.stop()
    val steal = Context.stealPct(ticks0, Context.cpuTicks())
    val gc = Context.gcSeconds() - gc0
    out.notes.foreach(println)
    println(s"context (not used to select runs): steal_pct=${fmt(steal)} jvm_gc_s=${fmt(gc)}")
    if (trace) out.put("host.steal_pct", steal, "%")
    if (code != 0) sys.exit(code)
    println(json(out, correct = out.failed == 0))
  }
}
