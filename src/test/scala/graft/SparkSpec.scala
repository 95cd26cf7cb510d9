package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // match Bench/Verify: cached subtrees keep AQE
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", SparkSpec.tempDir("wh").toString)
    .getOrCreate()
  graft.functions.VectorFunctions.register(spark)
  graft.functions.TopKFunctions.register(spark)
}

object SparkSpec {
  /** The specs' one temp-dir fixture: a fresh dir under the run's
    * scratch root ([[graft.queries.Harness.root]]), so the JVM-exit hook
    * that removes the root removes it too. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(java.nio.file.Files
      .createDirectories(graft.queries.Harness.root), prefix + "_")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
