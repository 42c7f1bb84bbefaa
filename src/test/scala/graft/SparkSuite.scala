package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh temp directory, deleted with everything in it when the JVM exits. */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir.toString
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tmpDirs.forEach { dir =>
      if (Files.exists(dir)) {
        val paths = Files.walk(dir)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        catch { case _: java.io.IOException => () } // best effort at exit
        finally paths.close()
      }
    }, "graft-test-tmp-cleanup"))
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def tmpDir(prefix: String): String = SparkSuite.tmpDir(prefix)
}
