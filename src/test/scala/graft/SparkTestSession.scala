package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built by the same factory as
  * the timed entry points.
  */
object SparkTestSession {
  lazy val spark: SparkSession =
    Sessions.benchBuilder(Sessions.cpus).appName("graft-test").getOrCreate()
}
