package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Executor

/** Port of the reference's PostgreSQL-differential conformance corpus
  * (reference tests/test__postgres_conformance.py:81-255) — the best
  * executable spec of the dialect's semantics (SURVEY §5).
  *
  * Oracle: `spark.sql` over the same fixtures (ANSI-equivalent query
  * text where the dialect diverges), or literal expected rows where no
  * Spark SQL equivalent exists. Row comparison is order-insensitive and
  * dtype-lenient, mirroring the reference's `_norm_result`.
  */
class ConformanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  lazy val fixtures: Map[String, DataFrame] = {
    val m = Map(
      "test" -> Seq((0, 1), (1, 2), (0, 3), (1, 4), (0, 5), (1, 6)).toDF("c1", "c2"),
      "other" -> Seq((0, 7), (1, 8), (0, 9), (1, 0), (0, 1), (1, 2)).toDF("c3", "c4"),
      "names" -> Seq(("foo", 0), ("bar", 1), ("baz", 2)).toDF("name", "id"),
      "ages" -> Seq((20, 0), (30, 1), (40, 2)).toDF("age", "id"))
    m.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    m
  }

  lazy val exec = new Executor(spark, fixtures)

  private def norm(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => b.toString
    case b: Byte => b.toLong.toString
    case s: Short => s.toLong.toString
    case i: Int => i.toLong.toString
    case l: Long => l.toString
    case f: Float => f"${f.toDouble}%.6f"
    case d: Double => f"$d%.6f"
    case d: java.math.BigDecimal => f"${d.doubleValue}%.6f"
    case other => other.toString
  }

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => norm(r.get(i)))).sortBy(_.mkString("|"))

  /** engine result vs spark.sql oracle (same text unless `oracle` given) */
  private def check(q: String, oracle: String = null): Unit = {
    fixtures // force view registration
    val got = rows(exec.query(q))
    val exp = rows(spark.sql(if (oracle == null) q else oracle))
    assert(got == exp, s"\nquery: $q\ngot:  $got\nexp:  $exp")
  }

  /** engine result vs literal expected rows */
  private def checkLit(q: String, expected: Seq[Seq[Any]]): Unit = {
    val got = rows(exec.query(q))
    val exp = expected.map(_.map(norm)).sortBy(_.mkString("|"))
    assert(got == exp, s"\nquery: $q\ngot:  $got\nexp:  $exp")
  }

  // ------------------------------------------------ aggregates & group by
  test("group by column") {
    check("select c1, count(1) as cnt, sum(c2) from test group by c1")
  }
  test("group by ordinal") {
    check("select c1, count(1) as cnt, sum(c2) from test group by 1")
  }
  test("projection with exprs and aliases") {
    check("select c1 as a, c2 as b, c1 + c2 from test")
  }
  test("where filter") {
    check("select c1 as a, c2 as b, c1 + c2 from test where c1 = 0")
  }
  test("cte") {
    check("""with temp as (select c1 as a, c2 as b from test)
             select a + b from temp""")
  }

  // ------------------------------------------------------- named windows
  test("window clause: named spec shared by two functions") {
    check(
      """select c1, c2, row_number() over w as rn, sum(c2) over w as run
        |from test window w as (partition by c1 order by c2)""".stripMargin)
  }
  test("window clause: multiple named specs, one with a frame") {
    check(
      """select c1, c2, rank() over wa as r,
        |  sum(c2) over wb as tail_sum
        |from test
        |window wa as (partition by c1 order by c2),
        |  wb as (partition by c1 order by c2
        |         rows between current row and unbounded following)""".stripMargin)
  }
  test("ignore nulls: LOCF via last_value, lag skips nulls") {
    checkLit(
      """select c1, c2,
        |  last_value(case when c2 % 2 = 0 then c2 end) ignore nulls
        |    over (order by c2) as lv
        |from test order by c2""".stripMargin,
      // c2 = 1..6; even values carry forward over odd rows
      Seq(Seq(0, 1, null), Seq(1, 2, 2), Seq(0, 3, 2),
        Seq(1, 4, 4), Seq(0, 5, 4), Seq(1, 6, 6)))
    checkLit(
      """select c2, lag(case when c2 % 2 = 0 then c2 end, 1) ignore nulls
        |  over (order by c2) as pl
        |from test order by c2""".stripMargin,
      Seq(Seq(1, null), Seq(2, null), Seq(3, 2),
        Seq(4, 2), Seq(5, 4), Seq(6, 4)))
  }
  test("ignore nulls without OVER is rejected") {
    intercept[graft.parser.ParseException] {
      exec.query("select last_value(c2) ignore nulls from test")
    }
  }

  test("window clause: undefined reference fails loudly") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query("select row_number() over nope from test").collect()
    }
    assert(e.getMessage.contains("nope"))
  }

  // ------------------------------------------------------ pivot / unpivot
  test("pivot: explicit value list with aliases") {
    checkLit(
      """select * from (select c1, c2 % 2 as par, c2 from test)
        |pivot (sum(c2) for par in (0 as even, 1 as odd))
        |order by c1""".stripMargin,
      Seq(Seq(0, null, 9), Seq(1, 12, null)))
  }
  test("pivot: unaliased values name columns by the literal") {
    checkLit(
      """select c1, "0", "1" from (select c1, c2 % 2 as par from test)
        |pivot (count(1) for par in (0, 1)) order by c1""".stripMargin,
      // count over an absent pivot cell is an empty group → NULL (same
      // as Spark SQL PIVOT), not 0
      Seq(Seq(0, null, 3), Seq(1, 3, null)))
  }
  test("unpivot: melt with labels, exclude-nulls default") {
    checkLit(
      """select c1, k, v from (select c1, c2, c1 + c2 as s from test where c2 < 3)
        |unpivot (v for k in (c2, s as 'total'))""".stripMargin,
      Seq(Seq(0, "c2", 1), Seq(0, "total", 1), Seq(1, "c2", 2), Seq(1, "total", 3)))
  }
  test("unpivot: include nulls keeps null cells") {
    checkLit(
      """select count(1) as n from (
        |  select c1, case when c2 > 4 then c2 end as big, c2 from test)
        |unpivot (v for k in (big, c2))""".stripMargin,
      Seq(Seq(8)))
    checkLit(
      """select count(1) as n from (
        |  select c1, case when c2 > 4 then c2 end as big, c2 from test)
        |unpivot include nulls (v for k in (big, c2))""".stripMargin,
      Seq(Seq(12)))
  }
  test("pivot: same text executes identically in Spark SQL") {
    // the dialect's PIVOT is Spark-SQL-shaped on purpose — one corpus
    // of queries works against both front-ends
    check(
      """select * from (select c1, c2 % 2 as par, c2 from test)
        |pivot (sum(c2) for par in (0 as even, 1 as odd))""".stripMargin)
  }
  test("unpivot: same text executes identically in Spark SQL") {
    check(
      """select * from (select c1, c2, c1 + c2 as s from test)
        |unpivot (v for k in (c2, s))""".stripMargin)
    check(
      """select count(1) as n from (
        |  select c1, case when c2 > 4 then c2 end as big, c2 from test)
        |unpivot include nulls (v for k in (big, c2))""".stripMargin)
  }
  test("pivot: non-literal IN value is rejected") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        "select * from test pivot (sum(c2) for c1 in (c2))").collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  // ------------------------------------------------------ recursive CTEs
  test("recursive cte: union all series") {
    checkLit(
      """with recursive t(n) as (select 1 union all select n + 1 from t where n < 5)
        |select n from t""".stripMargin,
      Seq(Seq(1), Seq(2), Seq(3), Seq(4), Seq(5)))
  }
  test("recursive cte: union distinct terminates a cycle") {
    checkLit(
      """with recursive r(id) as (select 0 union select (id + 1) % 3 from r)
        |select id from r""".stripMargin,
      Seq(Seq(0), Seq(1), Seq(2)))
  }
  test("recursive cte: no-repeat UNION iteration pays three actions") {
    // The fixpoint loop's cost floor is driver round-trips per
    // iteration, not data volume. A no-repeat UNION-distinct iteration
    // must pay exactly three actions — delta checkpoint, the fused
    // (count, bloom-maybe-count) aggregate, Bloom build — and only the
    // final repeat iteration pays the confirm joins. The +3 mod 11 walk
    // runs 11 iterations (10 no-repeat + 1 terminal repeat); measured
    // 64 jobs in this shape vs 116 for the pre-r19 shape (separate
    // maybe checkpoint + count + re-checkpoint + two emptiness
    // probes). Bound with slack for AQE stage jobs; a return to the
    // old shape blows well past it.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      checkLit(
        """with recursive r(id) as (select 0 union select (id + 3) % 11 from r)
          |select cast(count(1) as bigint) as cnt from r""".stripMargin,
        Seq(Seq(11L)))
      spark.sparkContext.parallelize(Seq(1), 1).count() // flush listener bus
      // the listener bus is async: drain it so every job start, the
      // sentinel's included, has reached the listener before the read
      // (a poll could read early, undercount, and pass spuriously)
      org.apache.spark.sql.graft.ListenerBusProbe.drain(spark)
      val n = jobs.get() - 1 // minus the sentinel
      assert(n <= 85, s"mod-11 recursion ran $n jobs (expected ~64: " +
        "3 actions per no-repeat iteration; the pre-r19 shape ran 116)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
  test("recursive cte: join in the recursive term walks a chain") {
    checkLit(
      """with recursive d(id, depth) as (
        |  select 0, 0
        |  union all
        |  select e.c, d.depth + 1
        |  from (values (1, 0), (2, 1), (3, 2)) as e(c, p)
        |  join d on e.p = d.id
        |)
        |select id, depth from d""".stripMargin,
      Seq(Seq(0, 0), Seq(1, 1), Seq(2, 2), Seq(3, 3)))
  }
  test("recursive cte: declared columns rename a plain cte too") {
    checkLit(
      "with recursive t(a, b) as (select 1, 2) select b, a from t",
      Seq(Seq(2, 1)))
  }
  test("recursive cte: only UNION may combine arms") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        "with recursive t(n) as (select 1 intersect select n from t) select n from t")
        .collect()
    }
    assert(e.getMessage.contains("UNION"))
  }
  test("recursive cte: base term may not self-reference") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        """with recursive t(n) as (
          |  select n from t union all select 1) select n from t""".stripMargin)
        .collect()
    }
    assert(e.getMessage.contains("base"))
  }
  test("recursive cte: declared column arity is enforced") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        "with recursive t(a, b) as (select 1 union all select a from t) select a from t")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("column"))
  }
  test("recursive cte: double self-reference is rejected (PG parity)") {
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        """with recursive t(n) as (
          |  select 1 union all
          |  select a.n + b.n from t a join t b on a.n = b.n where a.n < 4)
          |select n from t""".stripMargin).collect()
    }
    assert(e.getMessage.contains("only once"))
  }

  test("recursive cte: body's own inner WITH list is in scope (PG parity)") {
    checkLit(
      """with recursive t(n) as (
        |  with h(s) as (select 2)
        |  select s from h
        |  union all
        |  select n + 1 from t where n < 4)
        |select n from t""".stripMargin,
      Seq(Seq(2), Seq(3), Seq(4)))
    // ...and the recursive ARM sees the inner CTE too
    checkLit(
      """with recursive t(n) as (
        |  with h(step) as (select 10)
        |  select 0
        |  union all
        |  select n + step from t, h where n < 30)
        |select n from t""".stripMargin,
      Seq(Seq(0), Seq(10), Seq(20), Seq(30)))
  }
  test("recursive cte: self-reference inside an expression subquery is rejected (PG parity)") {
    // PG: "recursive reference to query t must not appear within a
    // subquery" — silently running it against the working table would
    // be a wrong answer, not an error
    val e = intercept[graft.compiler.CompileException] {
      exec.query(
        """with recursive t(n) as (
          |  select 1 union all
          |  select n + 1 from t where n < 5 and n in (select n from t))
          |select n from t""".stripMargin).collect()
    }
    assert(e.getMessage.contains("subquery"))
    // FROM-position derived tables remain legal (PG allows these)
    checkLit(
      """with recursive t(n) as (
        |  select 1 union all
        |  select m + 1 from (select n as m from t) s where m < 3)
        |select n from t""".stripMargin,
      Seq(Seq(1), Seq(2), Seq(3)))
  }

  test("recursive cte: arm narrower than base cannot re-admit a seen value") {
    // the arm casts to INT while the base literal is BIGINT — the seen-
    // row check must compare post-conformance values (PG types the
    // union by the non-recursive term), or the 11-cycle wrap-around 0
    // would hash differently from the base 0 and duplicate
    checkLit(
      """with recursive reach(id) as (
        |  select 0
        |  union
        |  select cast((id + 3) % 11 as int) from reach
        |)
        |select id from reach""".stripMargin,
      (0 to 10).map(i => Seq(i)))
  }

  test("recursive cte: iteration cap fails loudly, not forever") {
    spark.conf.set("graft.recursive.maxIterations", "5")
    try {
      val e = intercept[graft.compiler.CompileException] {
        exec.query(
          "with recursive t(n) as (select 1 union all select n + 1 from t) select n from t")
          .collect()
      }
      assert(e.getMessage.contains("5 iterations"))
    } finally spark.conf.unset("graft.recursive.maxIterations")
  }
  test("table wildcard") { check("select test.* from test") }
  test("group by boolean expression") {
    // spark.sql reads `1 = 1` as ordinal-1 = 1; rewrite to a constant
    // group key (one group regardless of fixture data — `c1 is not null`
    // would silently split into two groups if the fixture gained a NULL)
    check("select count(*) from test group by 1 = 1",
      "select count(*) from test group by 'x'")
  }
  test("global count") { check("select count(*) from test") }
  test("qualified refs") { check("select test.c1, 2 * test.c2 from test") }
  test("subquery in from") {
    check("""select c1, count(1) as cnt, sum(c2)
             from (select c1, 2 * c2 as c2 from test) sq group by c1""")
  }
  test("group by alias") {
    check("select 2 * c1 as cc, sum(c2) from test group by cc",
      "select 2 * c1 as cc, sum(c2) from test group by 2 * c1")
  }
  test("group by expression verbatim") {
    check("select sum(c2) from test group by 2 * c1")
  }
  test("global agg avg/min/max") {
    check("select avg(c2), min(c2), max(c2), sum(c2), count(c2) from test")
  }
  test("having") {
    check("select c1, sum(c2) as s from test group by c1 having sum(c2) > 6")
  }
  test("distinct aggregate") {
    check("select count(distinct c1) from test")
  }

  // ---------------------------------------------------------------- joins
  test("simple equi join") {
    check("select c2, c4 from test join other on c1 = c3")
  }
  test("join with left-side filter in ON") {
    check("select c2, c4 from test join other on c1 = c3 and c1 = 0")
  }
  test("join with right-side filter in ON") {
    check("select c2, c4 from test join other on c1 = c3 and c3 = 0")
  }
  test("join with left transform key") {
    check("select c2, c4 from test join other on (c1 + 1) % 2 = c3")
  }
  test("join with right transform key") {
    check("select c2, c4 from test join other on c1 = (c3 + 1) % 2")
  }
  test("cross join with where promotion") {
    check("select c2, c4 from test, other where c1 = (c3 + 1) % 2")
  }
  test("theta inner join") {
    check("select c2, c4 from test join other on c1 <= c3")
  }
  test("theta left join") {
    check("select * from test left join other on c1 < c3")
  }
  test("theta right join") {
    check("select * from other right join test on c1 < c3")
  }
  test("left join with transform key") {
    check("select c2, c4 from test left join other on c1 = (c3 + 1) % 2")
  }
  test("join then group") {
    check("select sum(c2), avg(c4) from test join other on c1 = c3 group by c1")
  }
  test("full outer join") {
    check("select * from test full join other on c1 = c3 and c4 > 5")
  }
  test("join chain to third table") {
    check("""select name, age from names join ages on names.id = ages.id
             join test on test.c1 = names.id""")
  }
  test("self join with aliases") {
    check("select * from test as a, test as b")
  }
  test("named join-agg over fixture pair") {
    check("""select names.id, avg(age) from names join ages
             on names.id = ages.id group by 1""")
  }

  // --------------------------------------------------- quoted identifiers
  test("quoted identifiers") {
    check("""select "c1", "test"."c2" from test""",
      "select c1, test.c2 from test")
  }

  test("quoted identifiers carry dots and spaces (reference split_quoted_name)") {
    // the reference's name splitter preserves dots/spaces INSIDE quotes
    // (tests/test__executor__util.py:16-22); observable here as scope
    // tables and columns with such names resolving correctly
    val odd = Seq((1, 10), (2, 20)).toDF("bar baz", "c.d")
    val exec2 = new Executor(spark, Map("my table" -> odd))
    val got = exec2.query(
      """select "bar baz", "my table"."c.d" from "my table" order by "bar baz"""")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((1, 10), (2, 20)))
  }

  // ------------------------------------------------------- case sensitivity
  test("like is case sensitive") {
    checkLit("select 'Foo' like '%oo'", Seq(Seq(true)))
    checkLit("select 'Foo' like '%OO'", Seq(Seq(false)))
    checkLit("select upper('Foo') like '%OO'", Seq(Seq(true)))
    checkLit("select 'Foo' like lower('%OO')", Seq(Seq(true)))
  }
  test("concat coalesces nulls (PG semantics)") {
    checkLit("select concat('foo', null, 'bar')", Seq(Seq("foobar")))
  }

  // ------------------------------------------------------------------ json
  test("json_each from cast") {
    checkLit(
      """select * from json_each(cast('{"foo": "bar", "hello": "world"}' as json))""",
      Seq(Seq("foo", "bar"), Seq("hello", "world")))
  }
  test("json_each from :: cast") {
    checkLit(
      """select * from json_each('{"foo": "bar", "hello": "world"}' :: json)""",
      Seq(Seq("foo", "bar"), Seq("hello", "world")))
  }
  test("lateral json_each over json_array_elements") {
    checkLit(
      """select b.key from json_array_elements('[{"foo": "bar"}]' :: json),
         lateral json_each(value) as b order by key""",
      Seq(Seq("foo")))
  }

  test("json lateral: variant mode matches the default mode row sets") {
    // graft.json.variant routes LATERAL json_each/json_array_elements
    // through try_parse_json + VariantExplode (codegen'd; from_json is
    // CodegenFallback). Pair ORDER diverges (variant sorts object keys
    // — documented PG-jsonb-like semantics); the row SETS must be
    // identical, which is also what the driver's sorted-row hash gates
    // (fq_json_lateral green in both modes reduces to this).
    val cases = Seq(
      """select j.key, j.value
         from (select '{"z":26,"a":{"n":[1,2]},"s":"txt","nul":null,"b":true}' as js) t,
         lateral json_each(js) as j""",
      """select e.value
         from (select '[3,1,2,"s",null,[4],{"o":true}]' as js) t,
         lateral json_array_elements(js) as e""",
      // shape guards: json_each over an array / elements over an object
      // yield no rows in BOTH modes; malformed JSON likewise
      """select count(1) as n
         from (select '[1,2]' as js) t, lateral json_each(js) as j""",
      """select count(1) as n
         from (select '{"k":1}' as js) t,
         lateral json_array_elements(js) as e""",
      """select count(1) as n
         from (select 'not json' as js) t, lateral json_each(js) as j""",
      """select b.key from json_array_elements('[{"foo": "bar"}]' :: json),
         lateral json_each(value) as b order by key""")
    val defaults = cases.map(q => rows(exec.query(q)))
    spark.conf.set("graft.json.variant", "true")
    try cases.zip(defaults).foreach { case (q, exp) =>
      assert(rows(exec.query(q)) == exp, s"variant mode diverges on: $q")
    } finally spark.conf.unset("graft.json.variant")
  }

  test("fq_json_lateral: the variant path matches the default over " +
      "real events and actually plans VariantExplode") {
    val dir = "/root/testdata/sf0.001"
    def run() = rows(SparkEntry.queries("fq_json_lateral")(spark, dir))
    val exp = run()
    spark.conf.set("graft.json.variant", "true")
    try {
      assert(run() == exp,
        "variant path changed fq_json_lateral's result set")
      val p = SparkEntry.queries("fq_json_lateral")(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("variant_explode") || p.contains("VariantExplode"),
        "variant mode did not plan the VariantExplode generator")
      assert(!p.contains("from_json"),
        "variant mode still plans the interpreted from_json path")
    } finally spark.conf.unset("graft.json.variant")
  }

  test("json_each nested MULTI-key object value text: document order " +
      "by default, key-sorted in variant mode (documented divergence)") {
    // r18 ADVICE: the variant divergence reaches nested VALUE TEXT,
    // not just pair order — Variant re-renders a nested multi-key
    // object key-sorted (PG jsonb), from_json preserves document
    // order (PG json). Pin both behaviors.
    val q = """select j.value from (select '{"a":{"z":1,"b":2}}' as js)
               t, lateral json_each(js) as j"""
    assert(rows(exec.query(q)) == Seq(Seq("""{"z":1,"b":2}""")),
      "default mode must re-emit the nested object in document order")
    spark.conf.set("graft.json.variant", "true")
    try assert(rows(exec.query(q)) == Seq(Seq("""{"b":2,"z":1}""")),
      "variant mode must re-emit the nested object key-sorted")
    finally spark.conf.unset("graft.json.variant")
  }

  test("json_get scalar field access (dialect extension)") {
    // render contract: top-level strings unquoted, numbers/objects as
    // compact JSON (document order — the from_json path), JSON null as
    // the TEXT 'null', missing field as SQL NULL, non-object as NULL
    checkLit(
      """select json_get(js, 'a') as a, json_get(js, 'n') as n,
                json_get(js, 'o') as o, json_get(js, 'nul') as nul,
                json_get(js, 'missing') as m
         from (select '{"a":"x","n":5,"o":{"z":1,"b":2},"nul":null}' as js) t""",
      Seq(Seq("x", "5", """{"z":1,"b":2}""", "null", null)))
    checkLit("""select json_get('[1,2]' :: json, 'a') as a""",
      Seq(Seq(null)))
  }

  // --------------------------------------------------------- special forms
  test("trim both chars") {
    checkLit("select trim(both 'xyz' from 'yxTomxx')", Seq(Seq("Tom")))
  }
  test("position") {
    checkLit("select position('f' in 'foo'), position('b' in 'foo')",
      Seq(Seq(1, 0)))
  }
  test("string concat operator") {
    checkLit("select 'Post' || 'greSQL'", Seq(Seq("PostgreSQL")))
  }

  // -------------------------------------------------------------- operators
  test("boolean operators") {
    checkLit("select true and false, true or false, true and not false",
      Seq(Seq(false, true, true)))
  }
  test("comparisons") {
    checkLit("select 0 <> 1, 0 < 1, 1 > 2, 1 <= 2, 3 >= 4, 3 = 3, 4 != 4",
      Seq(Seq(true, true, false, true, false, true, false)))
  }
  test("arithmetic and bitwise operators") {
    // ^ is POWER (not XOR), # is XOR — the PG operator set (§2.9)
    checkLit(
      """select 2 + 3, 2 - 3, 2 * 3, 4 / 2, 5 % 4, 2.0 ^ 3.0, 91 & 15,
         32 | 3, 17 # 5, ~1, 1 << 4, 8 >> 2""",
      Seq(Seq[Any](5L, -1L, 6L, 2.0, 1L, 8.0, 11L, 35L, 20L, -2L, 16L, 2L)))
  }
  test("operator precedence") {
    checkLit(
      """select (2.0 + 3.0) ^ 2.0 + (1.0 - 2.0) ^ 2.0, 2.0 * 3.0 ^ 2.0,
         2.0 * 4.0 + 3.0""",
      Seq(Seq(26.0, 18.0, 11.0)))
  }
  test("boolean precedence") {
    checkLit("select false and true or true", Seq(Seq(true)))
  }

  // -------------------------------------------------------- limits & sorts
  test("limit") { check("select * from test limit 3") }
  test("limit offset") {
    // positional slice over unordered input isn't deterministic in a
    // distributed engine; pin the order
    check("select * from test order by c2 limit 3 offset 2")
  }
  test("offset only") { check("select * from test order by c2 offset 3") }
  test("distinct") { check("select distinct c1 from test") }
  test("select all") { check("select all c1 from test") }
  test("order by ordinal and column") {
    check("select c1, c2 from test order by 1, c2")
  }
  test("order by expression (reference xfail, supported here)") {
    check("select c1, c2 from test order by 4 * c2")
  }
  test("order by desc") {
    check("select c1, c2 from test order by c2 desc")
  }

  // ------------------------------------------------------------------- case
  test("searched case") {
    check("""SELECT c2, CASE WHEN c2 = 1 THEN 'one' WHEN c2 = 2 THEN 'two'
             ELSE 'other' END FROM test""")
  }
  test("simple case (desugared)") {
    check("""SELECT c2, CASE c2 WHEN 1 THEN 'one' WHEN 2 THEN 'two'
             ELSE 'other' END FROM test""")
  }

  // ------------------------------------------------------------ extensions
  test("window function over partition") {
    check("""select c1, c2, sum(c2) over (partition by c1 order by c2) as running
             from test""")
  }
  test("row_number window") {
    check("""select c1, c2, row_number() over (partition by c1 order by c2 desc) as rn
             from test""")
  }
  test("window frame rows between") {
    check("""select c1, c2, sum(c2) over (partition by c1 order by c2
             rows between 1 preceding and current row) as s from test""")
  }
  test("window over aggregate result (rank of group sums)") {
    check("""select c1, sum(c2) as s, rank() over (order by sum(c2) desc) as r
             from test group by c1""")
  }
  test("lag/lead/first_value window functions") {
    check("""select c1, c2,
               lag(c2) over (partition by c1 order by c2) as prev,
               lead(c2) over (partition by c1 order by c2) as nxt,
               first_value(c2) over (partition by c1 order by c2) as fst
             from test""")
  }
  test("coalesce and nullif") {
    check("""select c2, coalesce(c4, -1) as c4x, nullif(c1, 0) as n
             from test left join other on c1 = c3 and c4 > 7""")
  }
  test("union / union all / intersect / except") {
    check("select c1 from test union select c3 from other")
    check("select c1 from test union all select c3 from other")
    check("select c1 from test intersect select c3 from other")
    check("select c2 from test except select c4 from other")
  }
  test("in value list") {
    check("select c2 from test where c2 in (1, 3, 5)")
  }
  test("not in value list") {
    check("select c2 from test where c2 not in (1, 3, 5)")
  }
  test("between") {
    check("select c2 from test where c2 between 2 and 4")
  }
  test("scalar subquery in WHERE (broadcast cross join lowering)") {
    check("select c1, c2 from test where c2 > (select avg(c4) from other)")
  }
  test("scalar subquery in select list") {
    check("select c1, (select max(c4) from other) as m from test")
  }
  test("scalar subquery in HAVING (first-wrapped helper column)") {
    check("""select c1, sum(c2) as s from test group by c1
             having sum(c2) > (select avg(c4) from other)""")
  }
  test("scalar subquery in aggregate select item") {
    check("""select c1, sum(c2) - (select min(c4) from other) as adj
             from test group by c1""")
  }
  test("correlated scalar subquery in HAVING") {
    check("""select c1, sum(c2) as s from test group by c1
             having sum(c2) > (select avg(c4) from other where c3 = c1)""",
      """select c1, sum(c2) as s from test t group by c1
         having sum(c2) > (select avg(c4) from other where c3 = t.c1)""")
  }
  test("VALUES relation with column aliases") {
    check("select a, b from (values (1, 'x'), (2, 'y')) as v(a, b) order by a")
    check("""select c1, s from test
             join (values (0, 'zero'), (1, 'one')) as names(n, s) on c1 = n""")
  }
  test("VALUES default column names are column1..columnN (PG style)") {
    // Spark's own default is col1..colN — the oracle adapts
    check("select column1 + column2 as s from (values (1, 2)) as v",
      "select col1 + col2 as s from (values (1, 2)) as v")
  }
  // Spark SQL has no quantified subqueries — oracles use EXISTS forms
  test("quantified comparison: op ANY (subquery)") {
    check("select c1, c2 from test where c2 > any (select c4 from other)",
      "select c1, c2 from test where exists (select 1 from other where c2 > c4)")
    check("""select c1, c2 from test
             where c2 = any (select c4 from other where c3 = c1)""",
      """select c1, c2 from test t
         where exists (select 1 from other where c3 = t.c1 and t.c2 = c4)""")
    checkLit("select c1 from test where c2 > any (select c4 from other where c4 > 100)",
      Seq()) // empty set: ANY is false
  }
  test("quantified comparison: op ALL (subquery)") {
    check("select c1, c2 from test where c2 > all (select c4 from other where c4 < 5)",
      """select c1, c2 from test
         where not exists (select 1 from other where c4 < 5 and not c2 > c4)""")
    // empty set: ALL is true — every row passes
    check("select c1 from test where c2 > all (select c4 from other where c4 > 100)",
      "select c1 from test")
    // NULL in the set makes ALL not-true → row filtered
    checkLit("""select c1 from test
                where c2 > all (select case when c4 > 8 then null else c4 end
                                from other)""",
      Seq())
  }
  test("NOT ANY / NOT ALL are three-valued (PG semantics)") {
    // NULL in the set: NOT (= ANY) filters EVERY row — matching rows are
    // false, non-matching are unknown (the old EXISTS-flip desugar kept
    // the non-matching rows)
    checkLit("""select c1 from test
                where not (c2 = any (select case when c4 > 8 then null else c4 end
                                     from other))""",
      Seq())
    // empty set: NOT ANY keeps every row
    checkLit("""select c1 from test
                where not (c2 = any (select c4 from other where c4 > 100))""",
      Seq(Seq(0), Seq(1), Seq(0), Seq(1), Seq(0), Seq(1)))
    // NOT ALL without NULLs is the plain complement: not(c2 > all {0,1,2})
    checkLit("""select c1 from test
                where not (c2 > all (select c4 from other where c4 < 5))""",
      Seq(Seq(0), Seq(1)))
    // NOT ALL keeps a row only when some element makes the op FALSE —
    // an all-NULL set never does, so both polarities filter everything
    checkLit("""select c1 from test
                where not (c2 > all (select case when c4 >= 0 then null end
                                     from other))""",
      Seq())
    checkLit("""select c1 from test
                where c2 > all (select case when c4 >= 0 then null end
                                from other)""",
      Seq())
    // NOT ALL with a NULL present still keeps rows some element falsifies
    checkLit("""select c1 from test
                where not (c2 > all (select case when c4 > 8 then null else c4 end
                                     from other))""",
      Seq(Seq(0), Seq(1), Seq(0), Seq(1), Seq(0), Seq(1)))
  }
  test("quantified comparison: outer operand collides with inner column name") {
    // outer test.c2 vs inner v.c2 — without outer-scope tagging the
    // injected conjunct binds BOTH sides to the inner relation and the
    // EXISTS degenerates to a constant probe (capture bug)
    checkLit(
      "select c1, c2 from test where c2 > any (select c2 from (values (4)) as v(c2))",
      Seq(Seq(0, 5), Seq(1, 6)))
    checkLit(
      "select c1, c2 from test where c2 <= all (select c2 from (values (4)) as v(c2))",
      Seq(Seq(0, 1), Seq(1, 2), Seq(0, 3), Seq(1, 4)))
    // strongest form: quantified over the SAME table/column as the outer
    checkLit("select c1, c2 from test where c2 >= all (select c2 from test)",
      Seq(Seq(1, 6)))
    // expression operand with a colliding ref inside
    checkLit("select c1, c2 from test where c2 + 1 > any (select c2 from test)",
      Seq(Seq(0, 1), Seq(1, 2), Seq(0, 3), Seq(1, 4), Seq(0, 5), Seq(1, 6)))
  }
  test("aggregate FILTER (WHERE ...) clause") {
    check("""select c1, count(*) filter (where c2 > 2) as n,
                    sum(c2) filter (where c2 % 2 = 0) as s
             from test group by c1 order by c1""")
    check("select count(distinct c1) filter (where c2 < 5) as n from test")
  }
  test("FILTER on non-null-skipping aggregates removes rows, not nulls-in") {
    // any_value/first take the FIRST row's value, so the plain CASE
    // desugar could surface a filtered-out row's NULL; the ignoreNulls
    // desugar must yield the single qualifying row's value
    checkLit("select any_value(c1) filter (where c2 = 6) as v from test",
      Seq(Seq(1)))
    checkLit("select first_value_agg(c1) filter (where c2 = 5) as v from test",
      Seq(Seq(0)))
    // first_value_agg without FILTER aggregates normally
    checkLit("select first_value_agg(c2) as v from test where c2 = 3",
      Seq(Seq(3)))
  }
  test("row-constructor IN subquery (multi-key semi/anti join)") {
    check("""select c1, c2 from test
             where (c1, c2) in (select c3, c4 from other)""")
    check("""select c1, c2 from test
             where (c1, c2) not in (select c3, c4 from other where c4 < 3)""")
    val e = intercept[Exception] {
      exec.query("select c1 from test where (c1, c2) in (select c3 from other)")
    }
    assert(e.getMessage.contains("arity"), e.getMessage)
  }
  test("ARRAY constructor and 1-based subscript") {
    check("select array[10, 20, 30][2] as x",
      "select element_at(array(10, 20, 30), 2) as x")
    check("select c1, array[c1, c2][1 + 1] as second from test",
      "select c1, element_at(array(c1, c2), 2) as second from test")
  }
  test("SIMILAR TO uses SQL regex flavor") {
    checkLit("select name from names where name similar to '%(oo|az)%'",
      Seq(Seq("foo"), Seq("baz")))
    checkLit("select name from names where name similar to 'ba_'",
      Seq(Seq("bar"), Seq("baz")))
    // '.' is literal in the SQL flavor — matches nothing here
    checkLit("select name from names where name similar to 'b.r'", Seq())
    checkLit("select name from names where name not similar to '%a%'",
      Seq(Seq("foo")))
  }
  test("QUALIFY with star projection and with DISTINCT") {
    check("""select * from test
             qualify row_number() over (partition by c1 order by c2 desc) = 1""",
      """select c1, c2 from (
           select c1, c2, row_number() over (partition by c1 order by c2 desc) rn
           from test) where rn = 1""")
    check("""select distinct c1 from test
             qualify row_number() over (partition by c1, c2 order by c2) = 1""",
      "select distinct c1 from test")
  }
  test("SIMILAR TO top-level alternation stays fully anchored") {
    // 'foo|bar' must match ONLY 'foo' or 'bar' exactly — not substrings
    checkLit("select name from names where name similar to 'fo|ba'", Seq())
    checkLit("select name from names where name similar to 'foo|bar'",
      Seq(Seq("foo"), Seq("bar")))
  }
  test("subscript out-of-range and non-positive indexes return NULL") {
    checkLit("select array[1, 2][0] as x", Seq(Seq(null)))
    checkLit("select array[1, 2][-1] as x", Seq(Seq(null)))
    checkLit("select array[1, 2][5] as x", Seq(Seq(null)))
  }
  test("GROUP BY ALL excludes window items") {
    // the rank item must not become a grouping key
    check("""select c1, rank() over (order by sum(c2) desc) as r, count(*) as n
             from test group by all order by 1""",
      """select c1, rank() over (order by sum(c2) desc) as r, count(*) as n
         from test group by c1 order by 1""")
  }
  test("QUALIFY filters on window results") {
    check("""select c1, c2 from test
             qualify row_number() over (partition by c1 order by c2 desc) = 1""",
      """select c1, c2 from (
           select c1, c2, row_number() over (partition by c1 order by c2 desc) rn
           from test) where rn = 1""")
    // QUALIFY over a windowed aggregate (rank of group sums)
    check("""select c1, sum(c2) as s from test group by c1
             qualify rank() over (order by sum(c2) desc) = 1""",
      """select c1, s from (
           select c1, sum(c2) as s, rank() over (order by sum(c2) desc) rk
           from test group by c1) where rk = 1""")
  }
  test("GROUP BY ALL groups by every non-aggregate item") {
    check("select c1, c2 % 2 as par, count(*) as n from test group by all order by 1, 2",
      "select c1, c2 % 2 as par, count(*) as n from test group by c1, c2 % 2 order by 1, 2")
  }
  test("intersect all / except all keep duplicates") {
    check("""select c1 from test intersect all select c1 from test""")
    check("""select c1 from test except all select c1 from test where c2 > 4""")
  }
  test("VALUES relation inside subqueries and quantified comparisons") {
    // regression: relAliases must handle ValuesRel (was a MatchError)
    check("select (select n from (values (7)) as v(n)) as x",
      "select 7 as x")
    check("select c1 from test where c1 = any (select n from (values (0), (5)) as v(n))",
      "select c1 from test where c1 = 0")
  }
  test("correlated scalar in HAVING with ungrouped key is rejected") {
    val e = intercept[Exception] {
      exec.query("""select c1, sum(c2) as s from test group by c1
                    having sum(c2) > (select avg(c4) from other where c3 = c2)""")
    }
    assert(e.getMessage.contains("GROUP BY"), e.getMessage)
  }
  test("unknown COPY format is rejected") {
    val e = intercept[Exception] {
      exec.execute("COPY test TO 'out.x' WITH format 'feather'")
    }
    assert(e.getMessage.contains("unsupported COPY format"), e.getMessage)
  }
  test("join using shared columns") {
    check("select name, age from names join ages using (id)")
  }
  test("natural join over shared columns") {
    check("select name, age from names natural join ages")
    check("select name, age from names natural left join ages")
  }
  test("natural join with no shared columns is rejected") {
    val e = intercept[Exception] {
      exec.query("select 1 from test natural join names")
    }
    assert(e.getMessage.contains("no common columns"))
  }
  test("is distinct from / is not distinct from") {
    check("""select c2, c4 is distinct from c2, c4 is not distinct from c2
             from test left join other on c1 = c3 and c4 > 7""")
  }
  test("having without group by (global aggregate filter)") {
    check("select sum(c2) as s from test having sum(c2) > 10")
    checkLit("select sum(c2) as s from test having sum(c2) > 100", Seq())
  }
  test("exact percentile matches") {
    check("select percentile(c2, 0.5) as med from test",
      "select percentile(c2, 0.5) as med from test")
  }
  test("string_agg / collect sorted") {
    check("select c1, array_sort(collect(c2)) as vs from test group by c1",
      "select c1, sort_array(collect_list(c2)) as vs from test group by c1")
  }
  test("correlated EXISTS lowered to semi join") {
    check("""select c1, c2 from test
             where exists (select 1 from other where c3 = c1 and c4 > 5)""")
  }
  test("correlated NOT EXISTS lowered to anti join") {
    check("""select c1, c2 from test
             where not exists (select 1 from other where c3 = c1 and c4 > 6)""")
  }
  test("correlated EXISTS with non-equi predicate (generalized lowering)") {
    check("""select c1, c2 from test
             where exists (select 1 from other where c3 = c1 and c4 > c2)""")
  }
  test("correlated NOT EXISTS with non-equi predicate") {
    check("""select c1, c2 from test
             where not exists (select 1 from other where c3 = c1 and c4 < c2)""")
  }
  test("uncorrelated EXISTS (non-emptiness probe)") {
    check("select c1, c2 from test where exists (select 1 from other where c4 > 8)")
    checkLit("select c1 from test where exists (select 1 from other where c4 > 100)",
      Seq())
  }
  test("correlated scalar subquery in WHERE (grouped-agg decorrelation)") {
    check("""select c1, c2 from test
             where c2 > (select avg(c4) from other where c3 = c1)""")
  }
  test("correlated scalar subquery in select list") {
    check("select c1, c2, (select max(c4) from other where c3 = c1) as m from test")
  }
  test("correlated scalar count is 0 for empty groups") {
    check("""select c2, (select count(1) from other where c3 = c1 and c4 > 100) as n
             from test""")
  }
  test("correlated scalar with expression over the aggregate") {
    check("""select c1, c2 from test
             where c2 < (select 2 * avg(c4) from other where c3 = c1)""")
  }
  test("star projection unaffected by scalar subquery helper columns") {
    check("select * from test where c2 > (select avg(c4) from other where c3 = c1)",
      "select * from test t where c2 > (select avg(c4) from other where c3 = t.c1)")
  }
  test("!> and !< execute as their ANSI complements") {
    check("select c2 from test where c2 !> 3", "select c2 from test where c2 <= 3")
    check("select c2 from test where c2 !< 3", "select c2 from test where c2 >= 3")
  }
  test("group by rollup") {
    check("""select c1, c2 % 2 as par, count(1) as n, sum(c2) as s
             from test group by rollup (c1, c2 % 2)""")
  }
  test("group by cube") {
    check("""select c1, c2 % 2 as par, count(1) as n
             from test group by cube (c1, c2 % 2)""")
  }
  test("group by grouping sets") {
    check("""select c1, c2 % 2 as par, count(1) as n
             from test group by grouping sets ((c1), (c2 % 2), ())""")
  }
  test("grouping() marker function under rollup") {
    check("""select c1, grouping(c1) as g, count(1) as n
             from test group by rollup (c1)""")
  }
  test("in subquery lowered to semi join") {
    check("select c2 from test where c1 in (select c3 from other where c4 > 5)")
  }
  test("not in subquery lowered to anti join") {
    check("select c2 from test where c1 not in (select c3 from other where c4 > 6)",
      // Spark SQL NOT IN has three-valued semantics; fixture has no NULLs
      // so anti-join === NOT IN here
      "select c2 from test where c1 not in (select c3 from other where c4 > 6)")
  }
  test("NOT IN is three-valued: NULL in the set filters every row") {
    // 9 > 8 produces one NULL in the set → every comparison is at best
    // UNKNOWN → NOT IN never true (PG semantics; oracle is spark.sql's
    // own null-aware NOT IN planning)
    check("""select c1 from test
             where c2 not in (select case when c4 > 8 then null else c4 end
                              from other)""")
    // empty set → NOT IN true for every row, even NULL keys
    check("""select c1 from test
             where c2 not in (select c4 from other where c4 > 100)""")
  }
  test("NOT IN is three-valued: NULL key filtered against non-empty set") {
    // key is NULL for c2 = 2 → UNKNOWN → filtered; c2 = 1 matches → out;
    // the rest pass (set {0, 1, 2} contains no NULL)
    check("""select c1, c2 from test
             where (case when c2 = 2 then null else c2 end)
               not in (select c4 from other where c4 < 3)""")
  }
  test("row-constructor NOT IN with NULL component is three-valued") {
    check("""select c1, c2 from test
             where (c1, case when c2 = 2 then null else c2 end)
               not in (select c3, c4 from other where c4 < 3)""")
  }
  test("is null / is not null") {
    check("""select c2 from test left join other on c1 = c3 and c4 > 100
             where c4 is null""")
  }
  test("generate_series table function") {
    checkLit("select * from generate_series(1, 5)",
      Seq(Seq(1), Seq(2), Seq(3), Seq(4), Seq(5)))
  }
  test("generate_series with step") {
    checkLit("select * from generate_series(0, 10, 5)",
      Seq(Seq(0), Seq(5), Seq(10)))
  }
  test("lateral generate_series") {
    check("select c1, generate_series from test, lateral generate_series(1, c2)",
      "select c1, s as generate_series from test lateral view explode(sequence(1, c2)) t as s")
  }
  test("pg_namespace catalog table") {
    checkLit("""select nspname from pg_namespace where nspname not like 'pg_%'
                order by nspname""",
      Seq(Seq("information_schema"), Seq("public")))
  }
  test("dual (from-less select)") {
    checkLit("select 1 + 1", Seq(Seq(2)))
  }
  test("version stub") {
    checkLit("select version() like 'PostgreSQL%'", Seq(Seq(true)))
  }
  test("cast varchar") {
    checkLit("select cast(1 as varchar) || '!'", Seq(Seq("1!")))
  }
  test("postgres :: cast") {
    checkLit("select 1 :: varchar, '2.5' :: double", Seq(Seq("1", 2.5)))
  }
  test("scientific notation floats") {
    checkLit("select 1e3, 1.5e-2, 2.5", Seq(Seq(1000.0, 0.015, 2.5)))
  }
  // ------------------------- reference xfail list, supported here (§2.6)
  test("xfail 1: distinct on with pow projection") {
    checkLit(
      """select distinct on (c1) c1, c2, -c2 ^ c1 as c3 from test
         order by c1, c2""",
      Seq(Seq[Any](0L, 1L, -1.0), Seq[Any](1L, 2L, -2.0)))
  }
  test("xfail 2: order by transformed column") {
    check("select * from test order by 4 * c1")
  }
  test("pow binds tighter than unary minus (PG -2^2 = -4)") {
    checkLit("select -2 ^ 2, 2 ^ -1 :: double", Seq(Seq[Any](-4.0, 0.5)))
  }

  test("subqueries must be named") {
    val e = intercept[Exception] {
      exec.query("select * from (select 1) ")
    }
    assert(e.getMessage.contains("named"))
  }

  // =====================================================================
  // THE REFERENCE CORPUS, VERBATIM — every query of the reference's
  // `examples` list (tests/test__postgres_conformance.py:81-255) in its
  // original order, one registered test per query, so the correspondence
  // between the reference suite and this engine is auditable line by
  // line. The thematic tests above pin the same semantics with richer
  // oracles; this section is the complete enumeration (nothing skipped,
  // nothing re-ordered) plus the mirrored xfail list.
  //
  // Oracle kinds: SameSql (the verbatim text is also valid ANSI/Spark
  // SQL with identical semantics — engine vs spark.sql), OracleSql
  // (equivalent ANSI rewrite where the dialect diverges), LitRows (the
  // reference's PostgreSQL-verified expected values), CountVsSpark
  // (positional slices over unordered input: row count only, the
  // content is nondeterministic by SQL semantics).
  private sealed trait RefCheck
  private case object SameSql extends RefCheck
  private case class OracleSql(sql: String) extends RefCheck
  private case class LitRows(rows: Seq[Seq[Any]]) extends RefCheck
  private case object CountVsSpark extends RefCheck

  private val referenceCorpus: Seq[(String, RefCheck)] = Seq(
    "select c1, count(1) as cnt, sum(c2) from test group by c1" -> SameSql,
    "select c1, count(1) as cnt, sum(c2) from test group by 1" -> SameSql,
    "select c1 as a, c2 as b, c1 + c2 from test" -> SameSql,
    "select c1 as a, c2 as b, c1 + c2 from test where c1 = 0" -> SameSql,
    """
        with temp as (
            select
                c1 as a,
                c2 as b
            from test
        )

        select a + b from temp
    """ -> SameSql,
    "select test.* from test" -> SameSql,
    // spark.sql reads `1 = 1` as ordinal-1 = 1; group by a constant-true
    // expression is rewritten to grouping by a different constant — any
    // constant puts all rows in one group regardless of fixture data
    // (a column-based rewrite like `c1 is not null` would silently split
    // into two groups if the fixture ever gained a NULL)
    "select count(*) from test group by 1 = 1" ->
      OracleSql("select count(*) from test group by 'x'"),
    "select count(*) from test" -> SameSql,
    "select test.c1, 2 * test.c2 from test" -> SameSql,
    """
        select
            c1, count(1) as cnt, sum(c2)
        from (
                select c1, 2 * c2 as c2
                from test
            ) sq
        group by c1
    """ -> SameSql,
    """-- simple join
        select c2, c4
        from test
        join other
        on c1 = c3
    """ -> SameSql,
    """-- joins as filters (left filter)
        select c2, c4
        from test
        join other
        on c1 = c3 and c1 = 0
    """ -> SameSql,
    """-- joins as filters (right filter)
        select c2, c4
        from test
        join other
        on c1 = c3 and c3 = 0
    """ -> SameSql,
    """-- join with transforms (left transform)
        select c2, c4
        from test
        join other
        on (c1 + 1) % 2 = c3
    """ -> SameSql,
    """-- join with transforms (right transform)
        select c2, c4
        from test
        join other
        on c1 = (c3 + 1) % 2
    """ -> SameSql,
    """-- cross-join with filter
        select c2, c4
        from test, other
        where c1 = (c3 + 1) % 2
    """ -> SameSql,
    """-- join with inequality
        select c2, c4
        from test
        join other
        on c1 <= c3
    """ -> SameSql,
    """
        select *
        from test
        left join other
        on c1 < c3
    """ -> SameSql,
    """
        select *
        from other
        right join test
        on c1 < c3
    """ -> SameSql,
    """
        select c2, c4
        from test
        left join other
        on c1 = (c3 + 1) % 2
    """ -> SameSql,
    """
        select sum(c2), avg(c4)
        from test
        join other
        on c1 = c3
        group by c1
    """ -> SameSql,
    // PG double-quoted identifiers; Spark SQL quotes with backticks
    """select "c1", "test"."c2" from test""" ->
      OracleSql("select c1, test.c2 from test"),
    // case sensitivity: the reference's PostgreSQL-verified expectations
    "select 'Foo' like '%oo' " -> LitRows(Seq(Seq(true))),
    "select 'Foo' like '%OO' " -> LitRows(Seq(Seq(false))),
    "select upper('Foo') like '%OO' " -> LitRows(Seq(Seq(true))),
    "select 'Foo' like lower('%OO') " -> LitRows(Seq(Seq(true))),
    // PG concat skips NULLs (Spark's returns NULL — genuine divergence)
    "select concat('foo', null, 'bar')" -> LitRows(Seq(Seq("foobar"))),
    """select * from json_each(cast('{"foo": "bar", "hello": "world"}' as json)) """ ->
      LitRows(Seq(Seq("foo", "bar"), Seq("hello", "world"))),
    """select * from json_each('{"foo": "bar", "hello": "world"}' :: json)""" ->
      LitRows(Seq(Seq("foo", "bar"), Seq("hello", "world"))),
    """
        select b.key
        from
            json_array_elements('[{"foo": "bar"}]' :: json),
            lateral json_each(value) as b
        order by key
    """ -> LitRows(Seq(Seq("foo"))),
    "select trim(both 'xyz' from 'yxTomxx')" -> LitRows(Seq(Seq("Tom"))),
    "select position('f' in 'foo'), position('b' in 'foo')" ->
      LitRows(Seq(Seq(1, 0))),
    "select 'Post' || 'greSQL' " -> LitRows(Seq(Seq("PostgreSQL"))),
    "select true and false, true or false, true and not false " ->
      LitRows(Seq(Seq(false, true, true))),
    "select 0 <> 1, 0 < 1, 1 > 2, 1 <= 2, 3 >= 4, 3 = 3, 4 != 4 " ->
      LitRows(Seq(Seq(true, true, false, true, false, true, false))),
    // ^ is POWER and # is XOR in the dialect (Spark: ^ is XOR, no #)
    """
         select
             2 + 3, 2 - 3, 2 * 3, 4 / 2,
             5 % 4, 2.0 ^ 3.0, 91 & 15,
             32 | 3, 17 # 5, ~1, 1 << 4,
             8 >> 2
    """ -> LitRows(Seq(Seq[Any](5L, -1L, 6L, 2.0, 1L, 8.0, 11L, 35L, 20L,
      -2L, 16L, 2L))),
    "select * from test limit 3" -> SameSql,
    "select * from test limit 3 offset 2" -> CountVsSpark,
    "select * from test offset 3" -> CountVsSpark,
    "select distinct c1 from test" -> SameSql,
    "select all c1 from test" -> SameSql,
    """
        SELECT c2,
           CASE WHEN c2 = 1 THEN 'one'
                WHEN c2 = 2 THEN 'two'
                ELSE 'other'
           END
        FROM test
    """ -> SameSql,
    """
        SELECT c2,
           CASE c2
               WHEN 1 THEN 'one'
               WHEN 2 THEN 'two'
               ELSE 'other'
           END
        FROM test
    """ -> SameSql,
    "select false and true or true" -> LitRows(Seq(Seq(true))),
    "select c1, c2 from test order by 1, c2" -> SameSql,
    "select * from test as a, test as b" -> SameSql,
    """
        select
            (2.0 + 3.0) ^ 2.0 + (1.0 - 2.0) ^ 2.0,
            2.0 * 3.0 ^ 2.0,
            2.0 * 4.0 + 3.0
    """ -> LitRows(Seq(Seq(26.0, 18.0, 11.0))),
    """
        select names.id, avg(age)
        from names
        join ages
        on names.id = ages.id
        group by 1
    """ -> SameSql)

  // the reference's xfail_examples, mirrored: queries PostgreSQL accepts
  // but the reference engine cannot execute. This engine SUPPORTS both —
  // a documented divergence-in-its-favor, so they are asserted to PASS
  // with PostgreSQL's values rather than to fail.
  private val referenceXfailCorpus: Seq[(String, RefCheck)] = Seq(
    """
        select distinct on (c1)
            c1,
            c2,
            -c2 ^ c1 as c3
        from test
        order by c1, c2
    """ -> LitRows(Seq(Seq[Any](0L, 1L, -1.0), Seq[Any](1L, 2L, -2.0))),
    """
        -- order-by with a transformed column
        select *
        from test
        order by 4 * c1
    """ -> SameSql)

  private def runRefCheck(q: String, chk: RefCheck): Unit = chk match {
    case SameSql => check(q)
    case OracleSql(o) => check(q, o)
    case LitRows(rows) => checkLit(q, rows)
    case CountVsSpark =>
      fixtures
      assert(exec.query(q).count() == spark.sql(q).count(),
        s"row count mismatch for: $q")
  }

  referenceCorpus.zipWithIndex.foreach { case ((q, chk), i) =>
    val label = q.trim.linesIterator.next().take(58)
    test(f"reference corpus [${i + 1}%02d/${referenceCorpus.size}] $label") {
      runRefCheck(q, chk)
    }
  }
  referenceXfailCorpus.zipWithIndex.foreach { case ((q, chk), i) =>
    val label = q.trim.linesIterator.next().take(50)
    test(f"reference corpus xfail [${i + 1}] (supported here) $label") {
      runRefCheck(q, chk)
    }
  }

  test("reference corpus is complete: 48 examples + 2 xfail") {
    // pinned to the reference list's length so a silent drop of an entry
    // (merge damage, accidental dedup) fails loudly
    assert(referenceCorpus.size == 48)
    assert(referenceXfailCorpus.size == 2)
  }
}
