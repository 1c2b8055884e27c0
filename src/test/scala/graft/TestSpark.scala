package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
