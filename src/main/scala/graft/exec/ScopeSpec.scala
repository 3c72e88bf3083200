package graft.exec

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Config-driven session bootstrap — the Spark analog of the reference's
  * SQLAlchemy scope-spec JSON (reference src/framequery/alchemy/
  * dialect.py:18-48, tests/data/scope.json): a JSON file declaring
  * `setup` statements executed at connect time, optional `basepath`, and
  * (extension) a `tables` map of name → parquet/csv path.
  *
  * ```json
  * { "basepath": "/data",
  *   "tables": {"lineitem": "lineitem.parquet"},
  *   "setup": ["COPY foo FROM './test.csv' WITH delimiter ';', format 'csv'"] }
  * ```
  */
object ScopeSpec {
  def load(spark: SparkSession, path: String): Executor = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    val exec = new Executor(spark)

    val basepath = Option(root.get("basepath")).map(_.asText())
      .getOrElse(Paths.get(path).toAbsolutePath.getParent.toString)
    exec.setBasepath(basepath)

    for (tables <- Option(root.get("tables"))) {
      tables.properties().asScala.foreach { e =>
        val p = e.getValue.asText()
        val full = if (p.startsWith("/")) p else s"$basepath/$p"
        val df =
          if (p.endsWith(".csv")) exec.tableFunctions.readCsv(full, Map.empty)
          else graft.sources.Tables.readParquet(spark, full)
        // path-backed attach: picks up sidecar ANALYZE stats if present
        exec.attachFromPath(e.getKey, df, full)
      }
    }
    for (setup <- Option(root.get("setup")); stmt <- setup.elements().asScala)
      exec.execute(stmt.asText())
    exec
  }

  /** Per-connection executor bootstrap for [[graft.server.PgWireServer]]:
    * the optional scope spec runs first (connect-time `setup` parity
    * with the reference dialect), then the static scope map rides on
    * top. Throws on a bad spec — the server answers the client with an
    * ErrorResponse and closes (never leave the socket silently open: a
    * client blocked on its first read would hang). */
  def bootstrap(spark: SparkSession,
      scope: Map[String, org.apache.spark.sql.DataFrame],
      scopeSpecPath: Option[String]): Executor =
    scopeSpecPath match {
      case Some(p) =>
        val e = load(spark, p)
        e.update(scope.toSeq: _*)
        e
      case None => new Executor(spark, scope)
    }
}
