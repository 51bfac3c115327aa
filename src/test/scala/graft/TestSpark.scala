package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.build("graft-test", "local[4]", 4)

  val sf: String = "/root/testdata/sf0.001"
}
