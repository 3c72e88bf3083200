package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: the production wiring
  * ([[GraftSession]]) on four cores — also inherited by every session
  * the Spark Connect service spawns for remote clients (ConnectSpec). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
