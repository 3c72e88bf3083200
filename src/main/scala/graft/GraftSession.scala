package graft

import org.apache.spark.sql.SparkSession

/** The one session policy: every graft main and the test session build
  * their SparkSession here. `local[cpus]` with one shuffle partition per
  * core, UTC session time, no UI, and [[org.apache.spark.sql.graft.GraftExtensions]]
  * (native expressions, the graft_sql dialect gateway, and the
  * skipping, metadata and top-k rules). AQE is Spark 4.1's default. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graft.GraftExtensions")
}
