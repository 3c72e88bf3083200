package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.Similarity
import graft.sources.Tables

/** Dev tool: sweep knnIvfPq parameters against the in-plan brute-force
  * top-10 and print recall plus candidate-level recall (fraction of true
  * neighbours that even survive cell pruning) — separates the "nProbe too
  * low" failure mode from "ADC/refine too lossy". */
object TuneIvfPq {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus)
      .appName("graft-tune").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("0.1")) {
      val dir = s"/root/testdata/sf$sf"
      val e = Tables.load(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(e, q, k = 10)
        .select(col("q_id"), col("nn_id")).cache()
      val nBrute = brute.count()
      val nCorpus = e.count()
      for ((nCells, nProbe) <- Seq((32, 12), (32, 14))) {
        // candidate-level recall: true neighbour in a probed cell at all?
        val (cand, _, _, _) = Similarity.ivfPqCandidates(e, q, dim = 64,
          nCells = nCells, nProbe = nProbe, m = 16, codebookSize = 16)
        val candC = cand.cache()
        val nCand = candC.count()
        val frac = nCand.toDouble / (nCorpus * 5)
        val candRecall = brute.join(
            candC.select(col("q_id").as("cq"), col("nn_id").as("cnn")),
            col("q_id") === col("cq") && col("nn_id") === col("cnn"),
            "left_semi").count().toDouble / nBrute
        candC.unpersist()
        for (refine <- Seq(100, 150, 200)) {
          val got = Similarity.knnIvfPq(e, q, k = 10, dim = 64, nCells = nCells,
              nProbe = nProbe, m = 16, codebookSize = 16, refine = refine)
            .select(col("q_id").as("iq"), col("nn_id").as("inn"))
          val hits = brute.join(got,
            col("q_id") === col("iq") && col("nn_id") === col("inn"),
            "left_semi").count()
          println(f"sf=$sf%s nCells=$nCells%d nProbe=$nProbe%d refine=$refine%d candFrac=$frac%.2f candRecall=$candRecall%.2f recall=${hits.toDouble / nBrute}%.2f")
        }
      }
      brute.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
