package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global state). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001: String = SparkSpec.Sf0001
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The fixed-centroid IVF rebuild reference: index `from`'s trained
    * centroids copied into a fresh index at `to`, then ONE
    * `appendToIvfIndexBatch` of `emb` at the bootstrap id. Appends never
    * retrain, so this is what an append-maintained index must equal. */
  def ivfRebuildWith(from: String, emb: DataFrame, to: String): Unit = {
    spark.read.parquet(s"$from/centroids").write.parquet(s"$to/centroids")
    graft.operators.Similarity.appendToIvfIndexBatch(spark, emb, to,
      graft.operators.Compaction.BootstrapBatchId)
  }
}
