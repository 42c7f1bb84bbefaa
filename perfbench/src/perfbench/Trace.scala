package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch microseconds: the span clock and the Spark event
  * clock (epoch milliseconds) must share one time base so that a job can
  * be placed inside the span that submitted it.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val micro0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = micro0 + (System.nanoTime() - nano0) / 1000L
}

final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

/** Spans recorded around the benchmark's calls into the program: one per
  * call boundary (workload, set-up, crawl round, operator call, ingest
  * round). Spark jobs become child spans when the trace is written, by
  * time containment. Kept in memory; written once at the end.
  * Disabled, [[span]] is a plain call and records nothing.
  */
final class Tracer(traceId: String) {
  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long)] // (id, start)
  private var nextId = 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open.push((id, Clock.nowUs))
      try f
      finally {
        val (_, start) = open.pop()
        done += Span(id, parent, name, start, Clock.nowUs)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.startUs)

  /** All spans plus one child span per Spark job, parented to the
    * innermost span whose interval holds the job's submission.
    */
  def withJobs(jobs: Seq[JobStat]): Seq[Span] = {
    val own = spans
    var id = nextId
    val jobSpans = jobs.map { j =>
      val holders = own.filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
      val parent =
        if (holders.isEmpty) 0 else holders.maxBy(_.startUs).id
      id += 1
      Span(id, parent, s"job ${j.jobId}: ${j.desc}", j.startUs, j.endUs)
    }
    (own ++ jobSpans).sortBy(_.startUs)
  }

  /** Writes every span, one JSON object a line, and prints the self
    * time of each span kind.
    */
  def write(path: java.nio.file.Path, jobs: Seq[JobStat]): Unit = {
    val all = withJobs(jobs)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = all.map(s =>
      s"""{"trace": ${q(traceId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": ${q(s.name)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val kind = (n: String) => n.replaceAll("\\d+", "N")
    val self = selfSeconds(all).toSeq.groupBy(x => kind(x._1))
      .map { case (k, xs) => k -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
    println(s"trace $traceId: ${all.size} spans written to $path; self time by kind:")
    self.take(25).foreach { case (k, v) => println(f"  $v%9.3f s  $k") }
  }

  /** Self time by span name: each span minus the part of it that its
    * child spans cover.
    */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        (s.endUs - s.startUs) / 1e6 - Stats.unionSeconds(covered)
      }.sum
    }
  }
}

/** Per-job counters from the listener bus. */
final class JobStat(val jobId: Int, val desc: String, val startUs: Long) {
  @volatile var endUs: Long = startUs
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L // shuffle write
  var outputBytes = 0L
  var spillBytes = 0L // memory + disk spill
}

/** A `SparkListener` owned by the benchmark: it records every job's
  * description (the scheduler sets one per commit write), its start and
  * end, and the task time, shuffle, output and spill bytes of its tasks.
  * It adds no Spark job. Attribution to phases happens after the run.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, new JobStat(e.jobId, desc, e.time * 1000L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    j.foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def all: Seq[JobStat] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  def within(fromUs: Long, toUs: Long): Seq[JobStat] =
    all.filter(j => j.startUs >= fromUs && j.startUs <= toUs)
}

/** Crawl-phase attribution keyed on the job descriptions that
  * `CrawlScheduler.runRound` sets. A job with any other description,
  * after the round's first `fetch+log` job, lands in `other` and is
  * reported, so a renamed phase cannot go stale silently.
  */
object Phases {
  val names: Seq[String] = Seq("select", "fetch_log", "frontier_update",
    "host_state", "robots", "docs", "seen_write", "filter_shards",
    "seen_compaction", "other")

  private val known = Map(
    "fetch+log" -> "fetch_log", "docs write" -> "docs",
    "seen write" -> "seen_write", "frontier update" -> "frontier_update",
    "robots write" -> "robots", "host_state write" -> "host_state",
    "filter shards" -> "filter_shards", "seen compaction" -> "seen_compaction")

  private val Desc = """crawl r(\d+): (.+)""".r

  /** (phase, job) for the jobs submitted during `runRound(r)`: the jobs
    * before its first `crawl rN: fetch+log` job are selection.
    */
  def attribute(r: Int, jobs: Seq[JobStat]): Seq[(String, JobStat)] = {
    val fetchAt = jobs.collectFirst {
      case j if j.desc == s"crawl r$r: fetch+log" => j.startUs
    }.getOrElse(Long.MaxValue)
    jobs.map { j =>
      if (j.startUs < fetchAt) "select" -> j
      else j.desc match {
        case Desc(n, what) if n.toInt == r && known.contains(what) => known(what) -> j
        case _ => "other" -> j
      }
    }
  }
}
