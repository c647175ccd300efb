package graft

import graft.operators.InvertedIndex
import graft.sources.RawCorpus

/** Head-to-head with the reference engine on its own task: read a raw
  * text corpus, build the inverted index, write the letter-partitioned
  * `a.txt…z.txt` output (R1–R16 end to end).
  *
  * `runMain graft.IndexBench <corpusDir> <outDir>` prints one JSON line
  * with the indexing wall time, measured after a warmup job so the
  * figure is steady-state job time, not JVM/session startup (a constant
  * that amortizes to zero at scale). Compare against
  * `/tmp/ref_engine <m> <r> manifest` built from
  * /root/reference/main.c++. */
object IndexBench {
  def main(args: Array[String]): Unit = {
    // args: <mode: files|parquet> <corpusDirOrSfDir> <outDir>
    val mode = args(0)
    val corpusDir = args(1)
    val outDir = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession(cpus.toInt, cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup

    val t0 = System.nanoTime()
    val corpus = mode match {
      case "parquet" => graft.sources.Tables(spark, corpusDir, "documents")
      case _ => RawCorpus.fromDirectory(spark, corpusDir)
    }
    InvertedIndex.writeIndex(corpus, outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val nDocs = corpus.select("doc_id").distinct().count()
    println(s"""{"metric":"index_build","mode":"$mode","value":$secs,"unit":"sec","docs":$nDocs,"out":"$outDir"}""")
    spark.stop()
  }
}
