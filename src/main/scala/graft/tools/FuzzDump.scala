package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession
import graft.exec.Executor
import graft.sources.Tables

/** Dev tool: dump the fuzz corpus and the graft engine's result for
  * every corpus query, for the external DuckDB differential
  * (tools/check_fuzz.py). Mirrors graft.Verify's layout: one parquet
  * dir per query plus a name→SQL JSON. Usage:
  *
  *   runMain graft.tools.FuzzDump <sfDir> <outDir>
  *
  * Also writes <outDir>/fuzz_corpus_v1.sql — the committed regression
  * copy at src/test/resources/ is refreshed from here when the
  * generator version is deliberately bumped.
  */
object FuzzDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val tbls = Seq("region", "nation", "customer", "supplier", "orders", "part")
      .map(n => n -> Tables.load(spark, sfDir, n)).toMap
    val exec = new Executor(spark, tbls)

    val version = args.lift(2).getOrElse("v1")
    // v4 is the DML-sequence corpus: statements are stateful, so there
    // is no DuckDB result leg — only the pinned corpus file is written
    // (DmlFuzzSpec holds the in-memory reference fold).
    if (version == "v4") {
      val corpus = SqlFuzzer.corpusV4()
      Files.write(Paths.get(s"$outDir/fuzz_corpus_v4.sql"),
        (("-- Seeded fuzz corpus v4 (DML sequences): seed " +
          SqlFuzzer.CorpusV4Seed + ", " + corpus.size +
          " programs (one per line; statements joined by '; ').\n" +
          "-- DmlFuzzSpec asserts the generator reproduces this file byte-identically.\n" +
          corpus.mkString("\n")) + "\n").getBytes("UTF-8"))
      println(s"[fuzz] dumped ${corpus.size} v4 DML programs to $outDir")
      spark.stop()
      return
    }
    val (corpus, seed) = version match {
      case "v3" => (SqlFuzzer.corpusV3(), SqlFuzzer.CorpusV3Seed)
      case "v2" => (SqlFuzzer.corpusV2(), SqlFuzzer.CorpusV2Seed)
      case _ => (SqlFuzzer.corpus(), SqlFuzzer.CorpusSeed)
    }
    Files.write(Paths.get(s"$outDir/fuzz_corpus_$version.sql"),
      (("-- Seeded fuzz corpus " + version + ": seed " + seed + ", " +
        corpus.size + " queries. Regenerable via SqlFuzzer;\n" +
        "-- FuzzSpec asserts the generator reproduces this file byte-identically.\n" +
        corpus.mkString("\n")) + "\n").getBytes("UTF-8"))

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    var failed = 0
    val names = corpus.zipWithIndex.map { case (sql, i) =>
      val name = f"fz_$i%04d"
      try exec.query(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
      }
      name -> sql
    }
    val json = names.map { case (n, s) => s"${q(n)}: ${q(s)}" }
      .mkString("{", ",", "}")
    Files.write(Paths.get(s"$outDir/fuzz_sql.json"), json.getBytes("UTF-8"))
    println(s"[fuzz] dumped ${names.length - failed}/${names.length} queries to $outDir")
    spark.stop()
  }
}
