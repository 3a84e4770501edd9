package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (JVM startup dominates test
  * wall-clock; suites must not stop() it). It is the production session
  * from [[Harness.session]] — same extensions, so the same plans. The
  * test JVM's settings (4 cores, app name, temporary warehouse, ScaleRank
  * forced onto its scale path) come from `Test / envVars` and
  * `Test / javaOptions` in build.sbt. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session()
}
