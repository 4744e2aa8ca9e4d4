package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession; suites run
  * sequentially under sbt's forked test JVM).
  */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get(localCores = 4, shufflePartitions = 4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
