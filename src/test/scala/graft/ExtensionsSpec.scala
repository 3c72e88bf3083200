package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.{Executor, ScopeSpec}

/** DISTINCT ON, rowid(), scope-spec bootstrap. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  test("driver contract: queries and oracles are in lockstep") {
    // a query without an oracle silently downgrades to a rows-only
    // check; an oracle without a query is dead SQL — both are drift
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
  }

  test("the test session is GraftSession's: GraftExtensions, UTC") {
    assert(spark.conf.get("spark.sql.extensions") ==
      "org.apache.spark.sql.graft.GraftExtensions" &&
      spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("DISTINCT ON keeps first row per key under ORDER BY") {
    val exec = new Executor(spark, Map(
      "t" -> Seq((0, 1, "a"), (0, 2, "b"), (1, 3, "c"), (1, 1, "d"))
        .toDF("k", "v", "s")))
    val got = exec.query(
      "select distinct on (k) k, v, s from t order by k, v desc")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set((0, 2, "b"), (1, 3, "c")))
  }

  test("DISTINCT ON without order by returns one row per key") {
    val exec = new Executor(spark, Map(
      "t" -> Seq((0, 1), (0, 2), (1, 3)).toDF("k", "v")))
    val got = exec.query("select distinct on (k) k from t")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(0, 1))
  }

  test("rowid() produces distinct monotonic ids") {
    val exec = new Executor(spark, Map("t" -> Seq(1, 2, 3, 4).toDF("x")))
    val ids = exec.query("select rowid() as id from t")
      .collect().map(_.getLong(0))
    assert(ids.distinct.length == 4)
  }

  test("partitioned write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part").toString + "/t"
    val df = Seq((1, "a", 10), (2, "b", 20), (3, "a", 30)).toDF("id", "part", "v")
    graft.sources.Sinks.writePartitioned(df, dir, Seq("part"))
    val read = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("part") === "a")
    assert(read.count() == 2)
    // partition pruning: only the part=a directory appears in the scan
    val plan = read.queryExecution.executedPlan.toString
    assert(!plan.contains("part=b") || plan.contains("PartitionFilters"))
  }

  test("z-ordered write localizes BOTH dimensions per file; a 1-D sort does not") {
    import org.apache.spark.sql.functions._
    val n = 128 * 128
    // full 128×128 grid: every (x, y) pair exactly once
    val grid = spark.range(n).select(
      (col("id") % 128).cast("int").as("x"),
      (col("id") / 128).cast("int").as("y"))
    val dir = Files.createTempDirectory("graft_zorder").toString
    graft.sources.Sinks.writeZOrdered(grid, s"$dir/z", "x", "y",
      nFiles = 16, bits = 8)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/xsort")
    def avgRange(path: String, c: String): Double = {
      val files = new java.io.File(path).listFiles
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      files.map { f =>
        val r = spark.read.parquet(f.toString)
          .agg(min(col(c)), max(col(c))).head()
        (r.getInt(1) - r.getInt(0)).toDouble
      }.sum / files.length
    }
    // 16 files over a 128×128 Z-curve = one 32×32 quadrant each: both
    // dimensions span ~31 per file, so min/max stats prune 2-D boxes
    assert(avgRange(s"$dir/z", "x") < 64.0, "z-order x not localized")
    assert(avgRange(s"$dir/z", "y") < 64.0, "z-order y not localized")
    // the 1-D sort localizes x but leaves y spanning the whole domain
    assert(avgRange(s"$dir/xsort", "y") > 100.0,
      "control layout unexpectedly localized y")
  }

  test("bucketed write makes the bucket-key join shuffle-free") {
    // saveAsTable writes under the session's default warehouse dir; the
    // tables are dropped (data deleted) in the finally block
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "va")
    val b = Seq((1, 10), (2, 20), (4, 40)).toDF("k", "vb")
    graft.sources.Sinks.writeBucketed(a, "graft_buck_a", "k", 4)
    graft.sources.Sinks.writeBucketed(b, "graft_buck_b", "k", 4)
    // force the sort-merge path (at test scale the planner would rather
    // broadcast, which bypasses bucketing entirely)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_buck_a")
        .join(spark.table("graft_buck_b"), "k")
      assert(joined.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        .toSet == Set((1, "x", 10), (2, "y", 20)))
      // both sides pre-bucketed on k → no Exchange in the join subtree
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"expected shuffle-free bucketed sort-merge join, got:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS graft_buck_a")
      spark.sql("DROP TABLE IF EXISTS graft_buck_b")
    }
  }

  test("native float_dot matches interpreted HOF dot bit-for-bit") {
    import org.apache.spark.sql.functions.col
    // via parquet so the plan has a real scan (a pure LocalRelation gets
    // constant-folded by ConvertToLocalRelation and shows no expressions)
    val dir = Files.createTempDirectory("graft_vec").toString
    Seq(
      (1L, Array(0.25f, -1.5f, 3.125f), Array(2.0f, 0.5f, -0.125f)),
      (2L, Array(1e-7f, 1e7f, -0.33333f), Array(0.77777f, -1e-6f, 1e6f)),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val native = vecs.select(col("id"),
      graft.operators.Vectors.dotFast(col("a"), col("b")).as("d"))
    val hof = vecs.select(col("id"),
      graft.operators.Vectors.dot(col("a"), col("b")).as("d"))
    assert(native.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      hof.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    // the hot path must be the native codegen'd expression, not a UDF
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("float_dot"), plan)
    assert(!plan.contains("UDF"), plan)
  }

  test("multiple native dots in one projection survive strict codegen") {
    // regression: fixed Java local names collided when cosine expanded to
    // three FloatDots in one generated scope (silent interpreted
    // fallback); CODEGEN_ONLY turns any Janino failure into a hard error
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val dir = Files.createTempDirectory("graft_cos").toString
      Seq((1L, Array(1.0f, 0.0f), Array(0.6f, 0.8f)))
        .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
      val got = spark.read.parquet(dir)
        .select(graft.functions.NativeVector.cosine(col("a"), col("b")).as("c"))
        .collect().head.getDouble(0)
      assert(math.abs(got - 0.6) < 1e-6)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("int_dot answers NULL on length mismatch and null elements, " +
      "in both codegen and interpreted eval") {
    // r18 ADVICE: the zip_with+aggregate forms int_dot replaced answer
    // NULL for mismatched lengths / null elements — a truncated or
    // garbage finite sum must never escape. Exercise both eval paths.
    import org.apache.spark.sql.functions.{col, expr}
    val intDot = org.apache.spark.sql.graft.NativeVectorColumns.intDot _
    val df = Seq(
      (1L, Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6)),   // clean
      (2L, Seq[Integer](1, 2), Seq[Integer](4, 5, 6)),      // mismatch
      (3L, Seq[Integer](1, null, 3), Seq[Integer](4, 5, 6)) // null elem
    ).toDF("id", "a", "b")
    def run(factoryMode: String): Map[Long, Any] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      try df.select(col("id"), intDot(col("a"), col("b")).as("d"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    val exp = Map[Long, Any](1L -> 32L, 2L -> null, 3L -> null)
    assert(run("CODEGEN_ONLY") == exp)
    assert(run("NO_CODEGEN") == exp)
  }

  test("count_in_set equals size(filter(isInCollection)) in both eval " +
      "modes, incl. duplicates, null elements, and null arrays") {
    import org.apache.spark.sql.functions.{col, filter, size}
    val words = Seq("the", "a", "of")
    val df = Seq(
      (1L, Seq("the", "the", "a", "dog", "of")), // duplicates count
      (2L, Seq("dog", "cat")),
      (3L, Seq[String](null, "the", null)),      // nulls never count
      (4L, Seq.empty[String]),
      (5L, null)                                  // null array -> null
    ).toDF("id", "toks")
    val lambda = df.select(col("id"),
      size(filter(col("toks"),
        t => t.isInCollection(words))).as("n"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    def native(mode: String): Map[Long, Any] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"),
        org.apache.spark.sql.graft.NativeVectorColumns
          .countInSet(col("toks"), words).as("n"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(native("CODEGEN_ONLY") == lambda)
    assert(native("NO_CODEGEN") == lambda)
  }

  test("count_matching equals size(filter(rlike)) in both eval modes, " +
      "with and without trim, incl. null elements and null arrays") {
    import org.apache.spark.sql.functions.{col, filter, size, trim}
    val df = Seq(
      (1L, Seq("- bullet", "  - indented bullet", "prose line", "-tight")),
      (2L, Seq("no match here", "still none")),
      (3L, Seq[String](null, "- after null", null)), // nulls never count
      (4L, Seq.empty[String]),
      (5L, null) // null array -> null
    ).toDF("id", "lines")
    val re = "^[-*•]"
    val lambdaTrim = df.select(col("id"),
      size(filter(col("lines"), l => trim(l).rlike(re))).as("n"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val lambdaRaw = df.select(col("id"),
      size(filter(col("lines"), l => l.rlike(re))).as("n"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    def native(mode: String, doTrim: Boolean): Map[Long, Any] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"),
        org.apache.spark.sql.graft.NativeVectorColumns
          .countMatching(col("lines"), re, trimFirst = doTrim).as("n"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(native("CODEGEN_ONLY", doTrim = true) == lambdaTrim)
    assert(native("NO_CODEGEN", doTrim = true) == lambdaTrim)
    assert(native("CODEGEN_ONLY", doTrim = false) == lambdaRaw)
    assert(native("NO_CODEGEN", doTrim = false) == lambdaRaw)
  }

  test("native float_double_dist2 computes squared L2 against centroids") {
    import org.apache.spark.sql.functions.col
    val df = Seq((Array(1.0f, 2.0f), Array(0.5, 0.0)))
      .toDF("v", "c")
      .select(graft.operators.Vectors.dist2FD(col("v"), col("c")).as("d"))
    assert(df.collect().head.getDouble(0) == 0.25 + 4.0)
  }

  test("float_dot registers into spark.sql and the dialect engine") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      """select float_dot(array(cast(1.5 as float), cast(-2.0 as float)),
        |                 array(cast(4.0 as float), cast(0.5 as float))) as d
        |""".stripMargin).collect().head.getDouble(0)
    assert(r == 1.5 * 4.0 + -2.0 * 0.5)
    // dialect engine: registry-native cosine_sim over an embedding scope
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val exec = new Executor(spark, Map("embeddings" -> emb))
    val cos = exec.query(
      """select a.vec_id as id, cosine_sim(a.embedding, b.embedding) as c
        |from embeddings as a join embeddings as b on b.vec_id = a.vec_id + 1
        |""".stripMargin).collect().head
    assert(cos.getLong(0) == 1L && math.abs(cos.getDouble(1) - 0.6) < 1e-6)
  }

  test("graft_sql table function runs dialect SQL from Spark SQL") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // dialect-only constructs (:: cast + json_each lateral) over a temp
    // view the session owns — the scope assembles from the catalog
    Seq((1L, """{"a": 10, "b": 20}"""), (2L, """{"c": 30}"""))
      .toDF("doc_id", "payload").createOrReplaceTempView("gsql_jdoc")
    val rows = spark.sql(
      """select * from graft_sql(
        |  'select d.doc_id, j.key, j.value::int as v
        |   from gsql_jdoc d, lateral json_each(d.payload::json) j')
        |order by doc_id, key""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, "a", 10), (1L, "b", 20), (2L, "c", 30)),
      rows.mkString(","))
    // dialect DDL republishes as a temp view: state carries across
    // graft_sql calls AND into plain Spark SQL
    val st = spark.sql(
      "select * from graft_sql('create table gsql_ct as " +
        "select doc_id * 10 as x from gsql_jdoc')").collect()
    assert(st.length == 1 && st.head.getString(0).nonEmpty,
      s"statement must resolve to a one-row status relation: ${st.mkString}")
    val back = spark.sql(
      "select * from graft_sql('select sum(x) as s from gsql_ct')")
      .collect().head.getLong(0)
    assert(back == 30L)
    assert(spark.sql("select sum(x) from gsql_ct").collect()
      .head.getLong(0) == 30L, "dialect-created table invisible to Spark SQL")
    // a non-literal argument is a clear analysis error, not a crash
    val e = intercept[Exception](spark.sql(
      "select * from graft_sql(payload) ").collect())
    assert(e.getMessage != null)
    // dialect COPY through the gateway: a remote client can trigger a
    // cluster-side bulk load — the path is read lazily on the cluster,
    // nothing rides the wire, and the loaded table persists as a view
    spark.sql("select * from graft_sql(" +
      "'copy gsql_region from ''/root/testdata/sf0.001/region.parquet'' " +
      "with format ''parquet''')").collect()
    assert(spark.sql(
      "select * from graft_sql('select count(*) as n from gsql_region')")
      .collect().head.getLong(0) == 5L)
    // dialect DROP sticks across calls: the republished temp view goes
    // away too, so the next call (and plain Spark SQL) no longer see it
    spark.sql("select * from graft_sql('drop table gsql_ct')").collect()
    assert(!spark.catalog.tableExists("gsql_ct"),
      "dropped dialect table still visible as a temp view")
    val e2 = intercept[Exception](spark.sql(
      "select * from graft_sql('select * from gsql_ct')").collect())
    assert(String.valueOf(e2.getMessage).contains("not found"),
      s"post-drop query must fail with not-found: ${e2.getMessage}")
  }

  test("graft_sql defers mutating statements to execution (EXPLAIN-safe)") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark.sql(
      "select * from graft_sql('create table gdef_t as select 1 as x')")
      .collect()
    def n(): Long = spark.sql("select count(*) as n from gdef_t")
      .collect().head.getLong(0)
    assert(n() == 1L)
    // EXPLAIN plans with command execution SKIPPED — the INSERT must
    // not run (the r13 ADVICE footgun: EXPLAIN-executes-DML)
    val plan = spark.sql(
      "explain select * from graft_sql('insert into gdef_t values (2)')")
      .collect().head.getString(0)
    assert(plan.contains("GraftSqlCommand"), plan.take(200))
    assert(n() == 1L, "EXPLAIN executed the INSERT")
    // executing runs it exactly once; a second action on the SAME
    // dataset does not re-append (command side-effect result is cached)
    val st = spark.sql(
      "select * from graft_sql('insert into gdef_t values (2)')")
    assert(st.collect().head.getString(0).nonEmpty)
    assert(n() == 2L)
    st.collect()
    assert(n() == 2L, "re-collecting one dataset double-appended")
    // intentional re-submission is a NEW dataset and appends again
    spark.sql("select * from graft_sql('insert into gdef_t values (3)')")
      .collect()
    assert(n() == 3L)
    spark.sql("select * from graft_sql('drop table gdef_t')").collect()
  }

  test("TABLESAMPLE REPEATABLE is deterministic and ~fraction-sized") {
    val df = (0 until 4000).map(i => (i, i % 7)).toDF("id", "g")
    val exec = new Executor(spark, Map("big" -> df))
    val q = "select id from big tablesample bernoulli(25) repeatable(42)"
    val a = exec.query(q).collect().map(_.getInt(0)).toSet
    val b = exec.query(q).collect().map(_.getInt(0)).toSet
    assert(a == b) // reproducible
    assert(math.abs(a.size / 4000.0 - 0.25) < 0.05, s"got ${a.size}")
    // different seed → different (but still deterministic) subset
    val c = exec.query(
      "select id from big tablesample bernoulli(25) repeatable(7)")
      .collect().map(_.getInt(0)).toSet
    assert(c != a)
    // unsupported method rejected
    val e = intercept[Exception] {
      exec.query("select id from big tablesample reservoir(25)")
    }
    assert(e.getMessage.contains("TABLESAMPLE"), e.getMessage)
  }

  test("executeScript runs statements and returns last result") {
    val exec = new Executor(spark, Map("t" -> Seq(1, 2, 3).toDF("x")))
    val out = exec.executeScript(
      """create table big as select x from t where x > 1;
        |select count(1) as n from big;""".stripMargin)
    assert(out.get.collect()(0).getLong(0) == 2L)
  }

  test("explain exposes the physical plan") {
    val exec = new Executor(spark, Map("t" -> Seq(1, 2, 3).toDF("x")))
    val plan = exec.explain("select x from t where x > 1")
    assert(plan.contains("Filter") || plan.contains("LocalTableScan"))
  }

  test("scope-spec JSON bootstrap (reference dialect.py semantics)") {
    val dir = Files.createTempDirectory("graft_spec")
    Files.writeString(dir.resolve("test.csv"), "f;g;i\n7.0;0;1\n8.0;0;2\n9.0;1;3\n")
    Files.writeString(dir.resolve("scope.json"),
      """{ "setup": [
        |  "COPY foo FROM 'test.csv' WITH delimiter ';', format 'csv'  ",
        |  "CREATE TABLE agg AS select g, sum(i) as s from foo group by g"
        |] }""".stripMargin)
    val exec = ScopeSpec.load(spark, dir.resolve("scope.json").toString)
    assert(exec.tableNames == Seq("agg", "foo"))
    val got = exec.query("select g, s from agg")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((0, 3L), (1, 3L)))
  }
}
