package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.{Doc, Span}
import graft.streaming.Streams

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def sampleDocs(n: Int): Seq[Doc] =
    (0 until n).map { i =>
      Doc(f"d$i%04d", s"https://h-${i % 3}.test/item/$i", s"h-${i % 3}.test",
          1 + i % 4,
          Seq(Span("text", s"hello world $i", "", 0),
              Span("image", "", s"https://h.test/img-$i.jpg", 1)))
    }

  test("docs stream micro-batches to parquet (K1/ST1 analogue)") {
    val src = tmpDir("stream-src-")
    val out = tmpDir("stream-out-")
    val chk = tmpDir("stream-chk-")
    sampleDocs(40).toDS().write.mode("append").parquet(src)

    val q = Streams.docsToParquet(spark, src, out, chk,
                                  trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.count() == 40)
    assert(got.columns.contains("n_tokens") && got.columns.contains("n_media"))
    val row = got.filter(col("doc_id") === "d0001").head()
    assert(row.getAs[Int]("n_tokens") == 3) // "hello world 1"
    assert(row.getAs[Int]("n_media") == 1)

    // second batch appends (stream resumes from checkpoint)
    sampleDocs(10).map(d => d.copy(doc_id = "x" + d.doc_id)).toDS()
      .write.mode("append").parquet(src)
    val q2 = Streams.docsToParquet(spark, src, out, chk,
                                   trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    // checkpoint resume: only the 10 new files processed, appended to out
    assert(spark.read.parquet(out).count() == 50)
  }

  test("watermarked windowed counts run on the events table") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val agg = Streams.windowedEventCounts(events, "1 day", "1 day", "1 hour")
    // batch execution of the same plan validates the aggregation shape
    val n = agg.count()
    assert(n > 0)
    assert(agg.columns.toSeq ==
      Seq("win_start", "event_type", "n", "total_value"))
  }

  test("watermark drops late rows in true stream mode (windowed counts)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = Streams.windowedEventCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      windowLen = "5 minutes", slide = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("wincounts")
      .outputMode("append").start()
    try {
      in.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0))
      q.processAllAvailable()
      // advance watermark past window [0,5) end: 30 - 10 = 20 > 5
      in.addData((ts(30), "view", 1.0))
      q.processAllAvailable()
      // LATE row inside the finalized window: must be dropped
      in.addData((ts(1), "click", 100.0))
      q.processAllAvailable()
      in.addData((ts(60), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wincounts")
        .filter(col("event_type") === "click").collect()
      assert(rows.length == 1, s"window rows: ${rows.toSeq}")
      assert(rows.head.getAs[Long]("n") == 2, "late row leaked into the window")
      assert(rows.head.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("session windows close on event-time gap (flatMapGroupsWithState)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.FetchEvent
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[FetchEvent]
    val sessions = Streams.hostSessions(spark, in.toDS(), gapSeconds = 60)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // t=100/110 (not t=0: an event AT the initial watermark would be
      // filtered as late)
      in.addData(FetchEvent("h1", ts(100), 200), FetchEvent("h1", ts(110), 404))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // session still open
      // event-time advances far past h1's gap -> its session closes
      in.addData(FetchEvent("h2", ts(700), 200))
      q.processAllAvailable()
      in.addData(FetchEvent("h2", ts(1300), 200))
      q.processAllAvailable()
      val h1 = spark.table("sessions")
        .filter(col("host") === "h1")
        .as[graft.streaming.Streams.HostSession].collect()
      assert(h1.length == 1, s"sessions: ${spark.table("sessions").collect().toSeq}")
      assert(h1.head.n_fetches == 2 && h1.head.n_ok == 1)
      assert(h1.head.first_ts == ts(100) && h1.head.last_ts == ts(110))
    } finally q.stop()
  }

  test("a gap WITHIN one micro-batch splits into separate sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.FetchEvent
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[FetchEvent]
    val q = Streams.hostSessions(spark, in.toDS(), gapSeconds = 60)
      .writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    try {
      // replay/backfill shape: one batch, 400s of silence in the middle
      in.addData(FetchEvent("h1", ts(100), 200), FetchEvent("h1", ts(110), 200),
                 FetchEvent("h1", ts(510), 404))
      q.processAllAvailable()
      // the batch advances the watermark to 450 (510-60), which passes
      // [100,110]'s close point (170) but not [510,510]'s (570): exactly
      // the first session seals — never prematurely, a fragmenting
      // on-time out-of-order event is still admissible for the second
      val afterFirst = spark.table("sessions2")
        .as[graft.streaming.Streams.HostSession].collect()
      assert(afterFirst.length == 1, s"got: ${afterFirst.toSeq}")
      assert(afterFirst.head.n_fetches == 2 && afterFirst.head.last_ts == ts(110))
      // event time passes both close points -> two separate sessions
      in.addData(FetchEvent("h2", ts(1200), 200))
      q.processAllAvailable()
      in.addData(FetchEvent("h2", ts(2400), 200))
      q.processAllAvailable()
      val h1 = spark.table("sessions2").filter(col("host") === "h1")
        .as[graft.streaming.Streams.HostSession].collect()
        .sortBy(_.first_ts.getTime)
      assert(h1.length == 2, s"got: ${h1.toSeq}")
      assert(h1(0).n_fetches == 2 && h1(0).last_ts == ts(110))
      assert(h1(1).n_fetches == 1 && h1(1).first_ts == ts(510))
    } finally q.stop()
  }

  test("a cross-batch event newer than the open session by > gap splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.FetchEvent
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[FetchEvent]
    val q = Streams.hostSessions(spark, in.toDS(), gapSeconds = 60)
      .writeStream.format("memory").queryName("sessions3")
      .outputMode("append").start()
    try {
      in.addData(FetchEvent("h1", ts(500), 200))
      q.processAllAvailable()
      // next batch: the open [500,500] session and the new [900,950]
      // burst are separated by 400s > gap — they must stay separate
      // intervals, NOT merge into one span
      in.addData(FetchEvent("h1", ts(900), 404), FetchEvent("h1", ts(950), 200))
      q.processAllAvailable()
      // advance the watermark past [500,500]'s close point (560) but not
      // past [900,950]'s (1010): exactly the old session seals
      in.addData(FetchEvent("h2", ts(1000), 200))
      q.processAllAvailable()
      in.addData(FetchEvent("h2", ts(1050), 200))
      q.processAllAvailable()
      val closed = spark.table("sessions3").filter(col("host") === "h1")
        .as[graft.streaming.Streams.HostSession].collect()
      assert(closed.length == 1, s"got: ${closed.toSeq}")
      assert(closed.head.first_ts == ts(500) && closed.head.last_ts == ts(500)
               && closed.head.n_fetches == 1)
    } finally q.stop()
  }

  test("stateful host progress accumulates per key") {
    val ds = sampleDocs(30).toDS()
    val prog = Streams.hostProgress(ds).collect().map(p => p.host -> p).toMap
    assert(prog.size == 3)
    assert(prog("h-0.test").pages == 10)
    assert(prog("h-0.test").spans == 20)
    assert(prog.values.map(_.pages).sum == 30)
  }

  test("open-interval state holds bridge/backward-extend/interior fill; sealed sessions are final") {
    // Pins the documented state boundary (Streams.scala hostSessions
    // doc): BEFORE the watermark seals an interval, aggregate state
    // (counts + bounds) admits ANY on-time reordering — an out-of-order
    // event may bridge two open intervals, extend one backward before
    // its first_ts, or fill its interior. AFTER the seal, the emitted
    // aggregate is final: a later event inside the sealed span is
    // watermark-late and dropped, never appended or re-emitted.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams.FetchEvent
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[FetchEvent]
    val q = Streams.hostSessions(spark, in.toDS(), gapSeconds = 100)
      .writeStream.format("memory").queryName("sessions_boundary")
      .outputMode("append").start()
    try {
      // two open intervals [300,300] and [460,460] (160 s apart > gap)
      in.addData(FetchEvent("h1", ts(300), 200), FetchEvent("h1", ts(460), 404))
      q.processAllAvailable()
      // watermark is now 360 (= 460 - gap). An on-time out-of-order
      // event at 370 backward-extends [460] (460-370 <= gap) AND
      // bridges to [300] (370-300 <= gap): one open interval [300,460]
      in.addData(FetchEvent("h1", ts(370), 200))
      q.processAllAvailable()
      // interior fill: 420 lies inside the open interval — counts up,
      // bounds unchanged
      in.addData(FetchEvent("h1", ts(420), 200))
      q.processAllAvailable()
      assert(spark.table("sessions_boundary").count() == 0) // still open
      // seal: watermark moves to 900 > close point 560
      in.addData(FetchEvent("h2", ts(1000), 200))
      q.processAllAvailable()
      val closed = spark.table("sessions_boundary").filter(col("host") === "h1")
        .as[graft.streaming.Streams.HostSession].collect()
      assert(closed.length == 1, s"got: ${closed.toSeq}")
      assert(closed.head.first_ts == ts(300) && closed.head.last_ts == ts(460))
      assert(closed.head.n_fetches == 4 && closed.head.n_ok == 3)
      // NOT held: an event inside the sealed span arriving after the
      // seal is watermark-late — dropped, the emitted aggregate never
      // changes and no fragment session appears
      in.addData(FetchEvent("h1", ts(400), 200))
      q.processAllAvailable()
      in.addData(FetchEvent("h2", ts(2500), 200))
      q.processAllAvailable()
      val after = spark.table("sessions_boundary").filter(col("host") === "h1")
        .as[graft.streaming.Streams.HostSession].collect()
      assert(after.length == 1 && after.head.n_fetches == 4,
             s"late event mutated a sealed session: ${after.toSeq}")
    } finally q.stop()
  }

  test("q65 replay: in-horizon re-arrivals drop, beyond-horizon re-arrivals pass") {
    val got = SparkEntry.queries("q65_stream_dedup")(spark, "/root/testdata/sf0.001")
      .collect()
    val ids = got.map(_.getAs[Long]("id"))
    assert(ids.length == 60 + 12, s"got ${ids.length} rows")
    assert(ids.count(_ % 10 == 0) == 60)   // every original
    assert(ids.count(_ % 10 == 1) == 0)    // no in-horizon duplicate
    assert(ids.count(_ % 10 == 2) == 12)   // every beyond-horizon re-arrival
  }

  test("q66 replay: streamed windowed counts equal the batch GROUP BY") {
    val got = SparkEntry.queries("q66_stream_window_counts")(
      spark, "/root/testdata/sf0.001").collect().map(_.toString).sorted.toSeq
    val want = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy(date_trunc("day", col("ts")).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming dedup drops in-horizon duplicates, passes firsts (true stream mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Streams.dedupStream(
        in.toDF().toDF("ts", "id", "text"), "text", "ts", "60 seconds")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: two distinct texts + an exact dup (whitespace-normalized)
      in.addData((ts(100), 1L, "alpha beta"), (ts(101), 2L, "gamma"),
                 (ts(102), 3L, "alpha  beta "))
      q.processAllAvailable()
      // batch 2: cross-batch dup within the horizon is dropped too
      in.addData((ts(130), 4L, "ALPHA beta"))
      q.processAllAvailable()
      // advance event time far past the horizon: state for "alpha beta"
      // expires, so a late re-arrival counts as new (the documented
      // horizon contract)
      in.addData((ts(500), 5L, "delta"))
      q.processAllAvailable()
      in.addData((ts(600), 6L, "alpha beta"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("id").as[Long]
        .collect().toSet
      assert(got == Set(1L, 2L, 5L, 6L), s"got: $got")
    } finally q.stop()
  }

  test("incrementalNearDupSink: stream union equals batch near-dups, per-batch emit") {
    import graft.streaming.Replay
    // 12 docs in 3 micro-batches (id % 3); one planted near-pair per
    // batch boundary: (0,1) same text across batches 0/1, (2,5) across
    // batches 2/2... keep it simple: ids 0..11, text groups of 2
    val docs = (0L until 12L).map(i => (i, s"alpha beta gamma delta w${i / 2} x y"))
    val df = docs.toDF("id", "text")
      .withColumn("batch", pmod(col("id"), lit(3)).cast("int"))
    val logDir = tmpDir("sink-log-")
    Replay.writeLog(df, "batch", logDir)
    val idxDir = tmpDir("sink-idx-")
    val outDir = tmpDir("sink-out-")
    val chkDir = tmpDir("sink-chk-")
    val src = spark.readStream.schema(docs.toDF("id", "text").schema)
      .option("maxFilesPerTrigger", 1).parquet(logDir)
    val q = Streams.incrementalNearDupSink(spark, src, idxDir, outDir,
                                           chkDir, threshold = 0.5)
    q.awaitTermination()
    val got = spark.read.parquet(s"$outDir/r*")
      .select("id_a", "id_b", "emit_round").as[(Long, Long, Int)]
      .collect().toSet
    val batch = graft.ops.Dedup.minhashNearDups(
        docs.toDF("id", "text"), "id", "text", shingleN = 3,
        numHashes = 32, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == batch,
           s"stream ${got.map(t => (t._1, t._2))} != batch $batch")
    // each pair rode exactly the later member's micro-batch
    got.foreach { case (a, b, r) =>
      assert(r == math.max(a % 3, b % 3).toInt, s"pair ($a,$b) in round $r")
    }
  }

  test("quantileSketchSink: stream-maintained sketch equals the batch sketch; restart is a no-op") {
    import graft.streaming.Replay
    import graft.ops.QuantileSketch
    val rows = (1L to 300L).map(v => (s"g${v % 3}", v * 7))
    val df = rows.toDF("g", "v")
    val logDir = tmpDir("qsk-log-")
    Replay.writeLog(
      df.withColumn("batch", pmod(col("v"), lit(4)).cast("int")),
      "batch", logDir)
    val skDir = tmpDir("qsk-sk-")
    val chkDir = tmpDir("qsk-chk-")
    def runOnce(): Unit = {
      val src = spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(logDir)
      Streams.quantileSketchSink(spark, src, skDir, chkDir, "g", "v")
        .awaitTermination()
    }
    runOnce()
    def quantiles() = QuantileSketch.histQuantiles(
        Streams.readQuantileSketch(spark, skDir, "g",
          org.apache.spark.sql.types.StringType), "g", Seq(50, 90, 99))
      .as[(String, Int, Long)].collect().toSet
    val streamed = quantiles()
    // merge is addition: stream-final == one batch sketch, EXACTLY
    val batch = QuantileSketch.histQuantiles(
        QuantileSketch.histSketch(df, "g", "v"), "g", Seq(50, 90, 99))
      .as[(String, Int, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // a restart on the same checkpoint processes nothing new and
    // changes nothing (slot overwrite = at-least-once safe)
    runOnce()
    assert(quantiles() == streamed)
  }
}
