package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per JVM — suites reuse it via getOrCreate). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Write `df` as parquet to a fresh temp directory and return its
    * path — the planner registries take path-backed indexes and MVs.
    */
  def writeTemp(df: DataFrame, prefix: String = "graft_spec"): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    df.write.mode("overwrite").parquet(dir)
    dir
  }
}
