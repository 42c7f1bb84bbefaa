package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.util.TempDirs

/** Deterministic event-log replay: turns a batch DataFrame into a file
  * stream whose micro-batch schedule is fixed, so a streaming operator's
  * output is reproducible and can be diffed against a sequential oracle
  * (the CORRECTNESS route for the streaming operators, which DuckDB
  * cannot execute natively).
  *
  * Protocol: one parquet FILE per `batch` value, written with strictly
  * increasing modification times and lexicographic names matching batch
  * order; the stream reads with `maxFilesPerTrigger = 1`, so micro-batch
  * k sees exactly the rows tagged batch k (the file source admits the
  * oldest unseen file per trigger). `Trigger.AvailableNow` drains the
  * log and stops. Replays are designed so that the FINAL output is
  * invariant to everything the schedule doesn't pin: rows ride batches
  * in nondecreasing event-time order (nothing is watermark-late), and
  * trailing flush batches push the watermark past every real close
  * point, so "emitted by end of log" equals the schedule-free
  * sequential semantics.
  */
object Replay {

  /** Write `df` as one parquet file per distinct value of `batchCol`
    * (ascending), under `dir`, mod-times 2 s apart in batch order. The
    * batch column is dropped from the written rows. Returns the number
    * of batch files written.
    */
  def writeLog(df: DataFrame, batchCol: String, dir: String): Int = {
    val spark = df.sparkSession
    val batches = df.select(col(batchCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).sorted
    Files.createDirectories(Paths.get(dir))
    // staging for the per-batch writes, deleted once their parts moved
    val staging = TempDirs.create("replay-write-")
    // fixed past base so re-created logs in the same JVM still order;
    // only RELATIVE order matters to the file source
    val base = 1700000000000L
    try batches.zipWithIndex.foreach { case (b, k) =>
      val tmp = Paths.get(staging, s"b$k").toString
      df.filter(col(batchCol) === b).drop(batchCol)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listing.close()
      val dst = Paths.get(dir, f"b$k%05d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + k * 2000L))
    } finally TempDirs.delete(staging)
    batches.length
  }

  /** Stream the log at `srcDir` through `transform` to completion
    * (append mode, one file per micro-batch, AvailableNow) and return
    * the materialized result. Its output and checkpoint directories
    * are deleted at JVM exit: the returned frame reads the output.
    */
  def run(spark: SparkSession, srcDir: String, schema: StructType)
         (transform: DataFrame => DataFrame): DataFrame = {
    val outDir = TempDirs.create("replay-out-")
    val chkDir = TempDirs.create("replay-chk-")
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = transform(src).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", chkDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }
}
