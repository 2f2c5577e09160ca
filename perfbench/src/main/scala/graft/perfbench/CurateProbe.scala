package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{ConcurrentHarness, PinScope, SparkEntry}
import graft.operators.Tables

/** Synthetic curation corpus in the schema the curation queries read:
  * `documents(doc_id, text, lang, source, n_chars)` over a 30-word
  * vocabulary with planted " dup" near-copies, and unit-norm 64-d
  * `embeddings(vec_id, embedding, label)`; plus an event log in the
  * schema of the streaming queries,
  * `events(event_id, ts, user_id, event_type, value)`. */
object Corpus {
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "zh", "de", "es", "fr")

  def write(spark: SparkSession, seed: Long, docs: Int, vecs: Int, dir: File): Unit = {
    val rnd = new java.util.Random(seed)
    val texts = new Array[String](docs)
    val docRows = (0 until docs).map { i =>
      texts(i) =
        if (i % 20 == 7 && i > 20) texts(i - 1 - rnd.nextInt(20)) + " dup"
        else Seq.fill(8 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val vecRows = (0 until vecs).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    dir.mkdirs()
    one(spark, docRows, docSchema, dir, "documents")
    if (vecs > 0) one(spark, vecRows, vecSchema, dir, "embeddings")
  }

  private val EventTypes = IndexedSeq("view", "click", "click", "purchase", "error")

  /** `n` events of 150 users over 30 days from 2024-01-01 UTC, values on
    * a cent grid, as `dir/events.parquet`. */
  def writeEvents(spark: SparkSession, seed: Long, n: Int, dir: File): Unit = {
    val rnd = new java.util.Random(seed)
    val t0Us = 1704067200L * 1000000L
    val rows = (0 until n).map { i =>
      val ts = new java.sql.Timestamp(0L)
      val us = t0Us + (rnd.nextDouble() * 30 * 86400e6).toLong
      ts.setTime(us / 1000)
      ts.setNanos(((us % 1000000) * 1000).toInt)
      Row(i.toLong, ts, rnd.nextInt(150).toLong, EventTypes(rnd.nextInt(EventTypes.length)),
        rnd.nextInt(5000) / 100.0)
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    dir.mkdirs()
    one(spark, rows, schema, dir, "events")
  }

  /** Writes `rows` as the single file `dir/<name>.parquet`. */
  private def one(spark: SparkSession, rows: Seq[Row], schema: StructType,
      dir: File, name: String): Unit = {
    val staging = new File(dir, s"_$name")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(staging.getPath)
    val f = staging.listFiles().find(_.getName.endsWith(".parquet")).get
    require(f.renameTo(new File(dir, s"$name.parquet")), s"rename $f")
    ScanData.deleteRecursively(staging)
  }
}

/** Curation probe of the traced run: MinHash-LSH near-duplicate detection
  * (`d06_dedup_minhash_lsh`, whose shingling and signatures are the
  * `graft.functions` kernels) reads a corpus held in the simulated store
  * through `graft://`; its output is written back through the caching file
  * system and a second job reads it back cold and fingerprints it.
  * Operators and kernels do the work and the data is tiny, so it shows
  * the `operators` layer where cache changes should not reach. The corpus
  * is fixed (seed [[CurateProbe.CorpusSeed]], whatever the run's seed) so
  * the fingerprint is pinned; the pin was checked against the DuckDB
  * oracle of d06 (see perfbench/README.md). */
object CurateProbe {
  val CorpusSeed = 42L
  val Query = "d06_dedup_minhash_lsh"
  val Docs = 2000
  val Ops = 3
  /** ConcurrentHarness.resultHash of d06 over the fixed corpus. */
  val Pinned: (Long, Long) = (2178L, 1232086849206649L)

  /** One curation step over `corpus`, output to `out`: (query and write
    * ms, read-back ms, fingerprint of the read-back). */
  private def step(ctx: RunContext, corpus: File, out: File): (Double, Double, (Long, Long)) =
    PinScope.run(ctx.spark) {
      val t0 = System.nanoTime()
      val target = "graft://" + out.getAbsolutePath
      Trace.span("operators", "curate") {
        ctx.job(SparkEntry.queries(Query)(ctx.spark, corpus.getAbsolutePath)
          .write.parquet(target))
      }
      val t1 = System.nanoTime()
      val h = Trace.span("operators", "readback") {
        ctx.job(ConcurrentHarness.resultHash(ctx.spark.read.parquet(target)))
      }
      ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, h)
    }

  /** Warm-up step on a small corpus of its own, then [[Ops]] measured
    * steps over the fixed corpus. Returns the per-step results (the
    * fingerprint is checked) and the op ids they ran under. */
  def run(ctx: RunContext): (Seq[OpResult], Long) = {
    val prefix = Tables.pathPrefix
    Tables.pathPrefix = "graft://"
    try {
      val root = new File(ctx.storeRoot, "curate")
      Corpus.write(ctx.spark, CorpusSeed + 1, 400, 0, new File(root, "warm-corpus"))
      step(ctx, new File(root, "warm-corpus"), new File(root, "warm-out"))
      val corpus = new File(root, "corpus")
      Corpus.write(ctx.spark, CorpusSeed, Docs, 0, corpus)
      val firstOp = ctx.opCounter.get + 1
      val results = (1 to Ops).map { i =>
        ctx.asOp {
          val t0 = System.nanoTime()
          val (curate, readback, h) = step(ctx, corpus, new File(root, s"out-$i"))
          val ok = h == Pinned
          OpResult((System.nanoTime() - t0) / 1e6, Docs, ok, isWrite = false,
            phaseMs = Map("curate" -> curate, "readback" -> readback),
            error = if (ok) None else Some(s"d06 fingerprint $h, pinned $Pinned"))
        }
      }
      (results, firstOp)
    } finally Tables.pathPrefix = prefix
  }

  /** Writes the fixed inputs of both probes (documents and events), the
    * outputs of their queries and the queries' DuckDB oracle SQL to `dir`
    * in the layout `tools/check.py <dir> <dir>` reads (the other
    * test-data tables must be added for its views), and prints each
    * fingerprint. This is how [[Pinned]] and [[StreamProbe.Pinned]] were
    * checked. */
  def dumpForOracle(dir: File): Unit = {
    val spark = graft.GraftSession.builder(master = "local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
    try {
      Corpus.write(spark, CorpusSeed, Docs, 0, dir)
      Corpus.writeEvents(spark, CorpusSeed, StreamProbe.Events, dir)
      val queries = Seq(Query, StreamProbe.Curation, StreamProbe.Window)
      queries.foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir.getAbsolutePath).localCheckpoint()
        df.write.parquet(new File(dir, q).getPath)
        println(s"$q fingerprint ${ConcurrentHarness.resultHash(df)}")
      }
      java.nio.file.Files.writeString(new File(dir, "oracle_sql.json").toPath,
        Json.encode(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    } finally spark.stop()
  }
}
