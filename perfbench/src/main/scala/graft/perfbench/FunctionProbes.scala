package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Traced-run probes of the SQL-callable kernels (`graft.functions`):
  * rows per second of MinHash, SimHash and cosine over an in-memory copy
  * of the curation corpus, so kernel speed is visible without the chain
  * around it. Each probe runs once untimed (codegen) and once timed. */
object FunctionProbes {
  private val Docs = 3000
  private val Vecs = 1200
  private val Exprs = Seq(
    "functions.minhash_rows_per_s" -> ("documents",
      "sum(hash(minhash_sig(shingle_hash64(text, split(text, ' '), 3), 64)))"),
    "functions.simhash_rows_per_s" -> ("documents", "sum(hash(simhash64(split(text, ' '))))"),
    "functions.cosine_rows_per_s" -> ("embeddings",
      "sum(cosine_sim(embedding, reverse(embedding)))"))

  def run(spark: SparkSession): Seq[(String, Double)] = {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-probe").toFile
    try {
      Corpus.write(spark, CurateProbe.CorpusSeed, Docs, Vecs, dir)
      val tables = Seq("documents", "embeddings").map { t =>
        val df = spark.read.parquet(new java.io.File(dir, s"$t.parquet").getPath).cache()
        df.count()
        t -> df
      }.toMap
      val out = Exprs.map { case (name, (t, expr)) =>
        val q = tables(t).selectExpr(expr)
        q.collect()
        val t0 = System.nanoTime()
        Trace.span("functions", name)(q.collect())
        val secs = (System.nanoTime() - t0) / 1e9
        name -> (if (t == "documents") Docs else Vecs) / secs
      }
      tables.values.foreach(_.unpersist())
      out
    } finally ScanData.deleteRecursively(dir)
  }
}
