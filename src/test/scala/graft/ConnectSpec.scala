package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark Connect round-trip — the modern remote-access path to a Spark
  * cluster (SURVEY §7.4: the reference's SQLAlchemy/DBAPI role is
  * covered by the Postgres wire server; Connect is the
  * Spark-native equivalent). Rounds 1–11 documented this as an
  * environment blocker (no client jar in the sandbox); the round-12
  * re-probe found the 4.1.2 client jars under
  * /opt/spark/jars/connect-repl/, so the round-trip is now TESTED:
  * an in-process gRPC SparkConnectService serves the session that
  * holds a graft-produced result, and the official Spark Connect JDBC
  * client — loaded in a child classloader so the client jars never
  * pollute the library classpath — reads it back over the wire.
  *
  * At scale this is exactly how a remote analyst reaches a graft
  * deployment: the library runs in the cluster-side session; results
  * publish as (global temp) views; any Connect client — JDBC here,
  * pyspark-connect, spark-connect-repl — queries them without a
  * cluster-side classpath. */
class ConnectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val clientJars = Seq(
    "/opt/spark/jars/connect-repl/spark-connect-client-jdbc_2.13-4.1.2.jar",
    "/opt/spark/jars/connect-repl/spark-connect-client-jvm_2.13-4.1.2.jar")
    .map(new java.io.File(_))

  test("Spark Connect JDBC client round-trips a graft query over gRPC") {
    // assert, not assume: the client jars ship since round 12, so their
    // disappearance is an environment REGRESSION that must fail loudly
    // instead of silently skipping the only remote-wire coverage
    assert(clientJars.forall(_.exists()),
      s"Spark Connect client jars vanished from the image: $clientJars")
    // in-process gRPC service on an ephemeral port (0 → bind any free)
    val bridge = org.apache.spark.sql.connect.service.GraftConnectBridge
    val port = bridge.start(spark.sparkContext, 0)
    try {
      // a graft-produced frame, published where every session created
      // by the Connect service can see it (Connect gives each client
      // its own session; global temp views span them)
      val q1 = SparkEntry.queries("q1_pricing_summary")(
        spark, "/root/testdata/sf0.001")
      q1.createOrReplaceGlobalTempView("graft_connect_q1")
      val expectRows = q1.count()
      // child classloader: the client jars resolve their own classes,
      // everything shared (sql-api, shaded grpc bytes of the same
      // release) delegates to the test classpath — and nothing of the
      // client leaks onto the library's compile or runtime classpath
      val loader = new java.net.URLClassLoader(
        clientJars.map(_.toURI.toURL).toArray,
        Thread.currentThread.getContextClassLoader)
      val drv = Class.forName(
        "org.apache.spark.sql.connect.client.jdbc.SparkConnectDriver",
        true, loader).getDeclaredConstructor().newInstance()
        .asInstanceOf[java.sql.Driver]
      val conn = drv.connect(s"jdbc:sc://localhost:$port",
        new java.util.Properties)
      try {
        val st = conn.createStatement()
        // plain expression round-trip (ResultSets closed before the
        // connection: the client's arrow allocator audits open buffers)
        val r1 = st.executeQuery("SELECT 1 + 1 AS two")
        assert(r1.next() && r1.getInt("two") == 2)
        r1.close()
        // the graft result, read back remotely
        val r2 = st.executeQuery(
          "SELECT count(*) AS n, sum(sum_qty) AS q " +
            "FROM global_temp.graft_connect_q1")
        assert(r2.next())
        assert(r2.getLong("n") == expectRows,
          s"remote row count ${r2.getLong(1)} != local $expectRows")
        assert(r2.getDouble("q") > 0.0)
        r2.close()
        st.close()
      } finally conn.close()
    } finally bridge.stop()
  }

  test("graft DIALECT executes remotely over Connect via graft_sql") {
    // assert, not assume: the client jars ship since round 12, so their
    // disappearance is an environment REGRESSION that must fail loudly
    // instead of silently skipping the only remote-wire coverage
    assert(clientJars.forall(_.exists()),
      s"Spark Connect client jars vanished from the image: $clientJars")
    val bridge = org.apache.spark.sql.connect.service.GraftConnectBridge
    val port = bridge.start(spark.sparkContext, 0)
    try {
      // the data a remote analyst would reach: a global temp view
      // (spans the per-client sessions the Connect service creates)
      import spark.implicits._
      val jdoc = Seq(
        (1L, """{"a": 10, "b": 20}"""), (2L, """{"c": 30}"""))
        .toDF("doc_id", "payload")
      jdoc.createOrReplaceGlobalTempView("gconn_jdoc")
      // local expected result: the same dialect statement through the
      // engine directly (:: casts + json_each lateral are graft
      // dialect — plain Spark SQL cannot parse them)
      val stmt = "select d.doc_id, j.key, j.value::int as v " +
        "from gconn_jdoc d, lateral json_each(d.payload::json) j " +
        "order by d.doc_id, j.key"
      val expect = new graft.exec.Executor(spark,
        Map("gconn_jdoc" -> jdoc)).query(stmt)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      val loader = new java.net.URLClassLoader(
        clientJars.map(_.toURI.toURL).toArray,
        Thread.currentThread.getContextClassLoader)
      val drv = Class.forName(
        "org.apache.spark.sql.connect.client.jdbc.SparkConnectDriver",
        true, loader).getDeclaredConstructor().newInstance()
        .asInstanceOf[java.sql.Driver]
      val conn = drv.connect(s"jdbc:sc://localhost:$port",
        new java.util.Properties)
      try {
        val st = conn.createStatement()
        // the remote client submits Spark SQL; graft_sql carries the
        // dialect statement through it
        val r = st.executeQuery(
          s"SELECT * FROM graft_sql('${stmt.replace("'", "''")}')")
        val got = Iterator.continually(r)
          .takeWhile(_.next())
          .map(rs => (rs.getLong(1), rs.getString(2), rs.getInt(3)))
          .toSeq
        r.close()
        assert(got == expect,
          s"remote dialect result $got != local $expect")
        // dialect state carries across calls within the remote session:
        // CTAS republishes as a temp view the next graft_sql sees
        val r2 = st.executeQuery(
          "SELECT * FROM graft_sql('create table gconn_ct as " +
            "select doc_id * 10 as x from gconn_jdoc')")
        assert(r2.next()); r2.close()
        val r3 = st.executeQuery(
          "SELECT * FROM graft_sql('select sum(x) as s from gconn_ct')")
        assert(r3.next() && r3.getLong("s") == 30L)
        r3.close()
        st.close()
      } finally conn.close()
    } finally bridge.stop()
  }
}
