package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Dev tool: sweep knnPq refine against the in-plan brute-force top-10. */
object TunePq {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-tunepq").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val dir = s"/root/testdata/sf$sf"
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(e, q, k = 10)
        .select(col("q_id"), col("nn_id")).cache()
      val nBrute = brute.count()
      for (m <- Seq(8, 16); refine <- Seq(50, 100, 150)) {
        val got = Similarity.knnPq(e, q, k = 10, dim = 64, m = m,
            codebookSize = 16, refine = refine)
          .select(col("q_id").as("pq"), col("nn_id").as("pnn"))
        val hits = brute.join(got,
          col("q_id") === col("pq") && col("nn_id") === col("pnn"),
          "left_semi").count()
        println(f"sf=$sf%s m=$m%d refine=$refine%d recall=${hits.toDouble / nBrute}%.2f")
      }
      brute.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
