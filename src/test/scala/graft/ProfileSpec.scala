package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.tools.Profile

/** Profile's layered measurement: what runs while the DataFrame is built
  * versus when its final plan executes, counted in Spark jobs. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  /** Two runs of one query, after the memoized scope is built: its
    * listings and footer reads are a one-time cost, paid here. */
  private def twoRuns(name: String): Seq[Profile.Run] = {
    Tables.scope(spark, dir)
    (1 to 2).map(i => Profile.measure(spark, dir, name, i))
  }

  private def assertStable(runs: Seq[Profile.Run]): Unit = {
    val lines = runs.map(_.json).mkString("\n")
    assert(runs.map(_.preplanJobs).distinct.size == 1, lines)
    assert(runs.map(_.execJobs).distinct.size == 1, lines)
  }

  test("q1_pricing_summary: no job before the plan, the noop write runs jobs") {
    val runs = twoRuns("q1_pricing_summary")
    runs.foreach { r =>
      assert(r.preplanJobs == 0, r.json)
      assert(r.execJobs >= 1, r.json)
    }
    assertStable(runs)
  }

  test("fq_recursive_series: the recursion runs jobs before the plan exists") {
    val runs = twoRuns("fq_recursive_series")
    runs.foreach(r => assert(r.preplanJobs > 0, r.json))
    assertStable(runs)
  }

  test("select: exact names win over prefixes, a prefix selects a family") {
    assert(Profile.select("ta_gopher") == Seq("ta_gopher"))
    val fq = Profile.select("fq_")
    assert(fq.nonEmpty && fq.forall(_.startsWith("fq_")))
    assert(Profile.select("q1_pricing_summary,fq_,q1_pricing_summary") ==
      "q1_pricing_summary" +: fq)
    assert(Profile.select("all").size == SparkEntry.queries.size)
    intercept[RuntimeException](Profile.select("no_such_query"))
  }
}
