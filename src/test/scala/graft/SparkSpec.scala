package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cores = 4, shufflePartitions = 8)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Frames currently registered with the session's cache manager. */
  def cachedFrames: Int = org.apache.spark.sql.CacheProbe.entries(spark)
}
