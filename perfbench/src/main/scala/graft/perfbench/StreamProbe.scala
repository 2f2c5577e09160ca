package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{ConcurrentHarness, PinScope, SparkEntry}

/** Progress of every micro-batch, from Spark's public streaming listener. */
final class StreamLayer extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** The progress reports delivered since the last call. */
  def take(): Seq[StreamingQueryProgress] =
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
}

/** Streaming probe of the traced run (`graft.streaming`). Two `s*` queries
  * read their input from the simulated store through `graft://`:
  *   - `s15_stream_curation`, the composed curation pipeline: four
  *     micro-batches, each a chain of jobs against three external
  *     batch-keyed stores;
  *   - `s01_stream_window`, a watermarked window aggregate, whose state
  *     lives in Spark's state store.
  * Each runs once as warm-up on inputs of its own, then once measured.
  * The inputs are fixed whatever the run's seed, so the result
  * fingerprints are pinned; the pins were checked against the DuckDB
  * oracle (see perfbench/README.md). */
object StreamProbe {
  val Curation = "s15_stream_curation"
  val Window = "s01_stream_window"
  /** The curation probe's corpus size: both probes read the same documents. */
  val Docs = CurateProbe.Docs
  val Events = 20000
  /** ConcurrentHarness.resultHash of each query over the fixed inputs. */
  val Pinned: Map[String, (Long, Long)] = Map(
    Curation -> (1333L, 734668710704332L),
    Window -> (480L, 265931369182497L))

  /** Writes the probe's inputs (documents and events) to `dir`. */
  private def writeInputs(ctx: RunContext, seed: Long, docs: Int, events: Int, dir: File): Unit = {
    Corpus.write(ctx.spark, seed, docs, 0, dir)
    Corpus.writeEvents(ctx.spark, seed, events, dir)
  }

  /** Runs `query` over `dir` and fingerprints its result. */
  private def once(ctx: RunContext, query: String, dir: File): (Long, Long) =
    PinScope.run(ctx.spark) {
      Trace.span("streaming", query) {
        ctx.job(ConcurrentHarness.resultHash(
          SparkEntry.queries(query)(ctx.spark, "graft://" + dir.getAbsolutePath)))
      }
    }

  /** Returns the result of each measured query (the fingerprints are
    * checked) and the `streaming.*` layer metrics. */
  def run(ctx: RunContext): (Seq[OpResult], Seq[(String, Double)]) = {
    val listener = new StreamLayer
    val sc = ctx.spark.sparkContext
    try {
      val root = new File(ctx.storeRoot, "stream")
      val warm = new File(root, "warm")
      writeInputs(ctx, CurateProbe.CorpusSeed + 1, 400, 2000, warm)
      Seq(Curation, Window).foreach(once(ctx, _, warm))
      val in = new File(root, "in")
      writeInputs(ctx, CurateProbe.CorpusSeed, Docs, Events, in)
      ctx.spark.streams.addListener(listener)
      val runs = Seq(Curation, Window).map { query =>
        query -> ctx.asOp {
          val t0 = System.nanoTime()
          val h = once(ctx, query, in)
          val ms = (System.nanoTime() - t0) / 1e6
          org.apache.spark.perfbench.ListenerBus.drain(sc)
          val ok = h == Pinned(query)
          (OpResult(ms, if (query == Curation) Docs else Events, ok, isWrite = false,
            error = if (ok) None else Some(s"$query fingerprint $h, pinned ${Pinned(query)}")),
            listener.take())
        }
      }.toMap
      val (curation, batches) = runs(Curation)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val layers = Seq(
        "streaming.query_ms" -> curation.ms,
        "streaming.batches" -> batches.length.toDouble,
        "streaming.add_batch_ms" -> med(batches.map(dur(_, "addBatch"))),
        "streaming.plan_ms" -> med(batches.map(dur(_, "queryPlanning"))),
        "streaming.commit_ms" -> med(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
        "streaming.rows_per_batch" ->
          (if (batches.isEmpty) 0.0 else batches.map(_.numInputRows).sum.toDouble / batches.length),
        "streaming.state_rows" -> runs(Window)._2.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
      (runs.values.map(_._1).toSeq, layers)
    } finally ctx.spark.streams.removeListener(listener)
  }
}
