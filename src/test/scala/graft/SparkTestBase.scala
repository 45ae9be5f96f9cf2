package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.build(4)
  val sfDir = "/root/testdata/sf0.001"
}
