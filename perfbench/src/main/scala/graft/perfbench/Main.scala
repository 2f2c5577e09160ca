package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.cache.{CacheManager, GraftFileSystem}

/** One benchmark run of one workload in a fresh JVM (started by run.py):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <private dir> --out <result.json> --t0-ms <launch epoch ms>
  *        [--spans <file>]
  *
  * Phases: set-up (session, data into the simulated store, warm-up on
  * separate data), the cold pass, then the timed closed loop. The result
  * file holds every metric, the environment and the first errors. */
object Main {
  val Model = StoreModel(latencyMs = 20.0, mbPerSec = 100.0)

  def workload(name: String): ScanWorkload = name match {
    case "scan-hot" => new ScanWorkload(name,
      ScanShape(parts = 16, writeEvery = 0, viaDataSource = true, cacheBudgetMb = 0))
    case "scan-churn" => new ScanWorkload(name,
      ScanShape(parts = 32, writeEvery = 10, viaDataSource = false, cacheBudgetMb = 24))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-curate").foreach { dir => CurateProbe.dumpForOracle(new File(dir)); return }
    val w = workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workDir = new File(a("work")).getAbsoluteFile
    val t0Ms = a("t0-ms").toLong

    SimStore.model = Model
    Trace.enabled = traced
    val fsClass = if (traced) classOf[TracingGraftFileSystem] else classOf[GraftFileSystem]
    val b = GraftSession.builder(master = "local[4]",
        cacheDir = Some(new File(workDir, "cache").getPath))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.graft.impl", fsClass.getName)
      .config("spark.hadoop.graft.underlying.scheme", SimStore.Scheme)
      .config(s"spark.hadoop.fs.${SimStore.Scheme}.impl", classOf[SimStoreFileSystem].getName)
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
    w.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    val sparkLayer = new SparkLayer
    spark.sparkContext.addSparkListener(sparkLayer)
    val ctx = new RunContext(spark, seed, workDir)
    val out = collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      ctx.storeRoot.mkdirs()
      w.setup(ctx)
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

      SimStore.stats = new StoreStats
      val cold = ctx.asOp(w.coldPass(ctx))
      val coldVectored = cacheSnapshot.getOrElse("vectored_ranges", 0L)
      val firstTimedOp = ctx.opCounter.get + 1

      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val store0 = SimStore.stats.snapshot
      SimStore.stats.resetMaxInflight()
      val cache0 = cacheSnapshot
      val spark0 = sparkLayer.snapshot
      // run.py samples the cache directory while this marker reads "timed"
      val marker = new File(workDir, "phase")
      java.nio.file.Files.writeString(marker.toPath, "timed")
      val (results, elapsedS) = closedLoop(ctx, w, seconds)
      java.nio.file.Files.writeString(marker.toPath, "done")
      val lastTimedOp = ctx.opCounter.get
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val store1 = SimStore.stats.snapshot
      val cache1 = cacheSnapshot
      val spark1 = sparkLayer.snapshot

      var probe = Seq.empty[OpResult]
      val done = results.filter(_.ok)
      val failed = results.filterNot(_.ok)
      val n = math.max(results.length, 1).toDouble
      def d(m0: Map[String, Long], m1: Map[String, Long], k: String): Long =
        m1.getOrElse(k, 0L) - m0.getOrElse(k, 0L)
      def st(k: String) = d(store0, store1, k)
      def ca(k: String) = d(cache0, cache1, k)
      def sp(k: String) = d(spark0, spark1, k)
      val mb = 1024.0 * 1024.0
      val lat = done.map(_.ms)
      val writes = done.filter(_.isWrite).map(_.ms)

      val e2e = collection.mutable.LinkedHashMap[String, Double](
        "op_ms_p50" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
        "ops_per_s" -> done.length / elapsedS,
        "rows_per_s" -> done.map(_.rows).sum / elapsedS,
        "cold_pass_s" -> cold.ms / 1000.0,
        "setup_s" -> setupS)
      val tail = Stats.tailPercentile(lat.length).filter(_ > 50)
      tail.foreach(p => out("op_ms_tail") = Map("percentile" -> p,
        "ms" -> Stats.percentile(lat, p)))
      out("op_samples") = lat.length
      out("op_ms") = lat

      val hits = ca("cached_requests") + ca("nonlocal_requests")
      val blocks = hits + ca("remote_requests")
      val layers = collection.mutable.LinkedHashMap[String, Double](
        "store.get_requests" -> st("get") / n,
        "store.get_mb" -> st("get_bytes") / mb / n,
        "store.get_kb_mean" -> (if (st("get") == 0) 0.0 else st("get_bytes") / 1024.0 / st("get")),
        "store.get_busy_ms" -> st("get_busy_ns") / 1e6 / n,
        "store.max_inflight" -> store1("max_inflight").toDouble,
        "store.head_requests" -> st("head") / n,
        "store.list_requests" -> st("list") / n,
        "store.put_requests" -> st("put") / n,
        "store.put_mb" -> st("put_bytes") / mb / n,
        "cache.hit_ratio" -> (if (blocks == 0) 0.0 else hits.toDouble / blocks),
        "cache.cached_blocks" -> hits / n,
        "cache.remote_blocks" -> ca("remote_requests") / n,
        "cache.mb_from_cache" -> ca("bytes_from_cache") / mb / n,
        "cache.mb_from_store" -> ca("bytes_from_remote") / mb / n,
        "cache.extra_read_mb" -> ca("extra_read_bytes") / mb / n,
        "cache.useful_fetch_ratio" ->
          (if (st("get_bytes") == 0) 0.0 else ca("bytes_from_remote").toDouble / st("get_bytes")),
        "cache.evictions" -> ca("evictions") / n,
        "cache.invalidations" -> ca("invalidations") / n,
        "cache.warmup_mb" -> ca("warmup_bytes") / mb / n,
        "cache.vectored_ranges" -> coldVectored.toDouble,
        "cache.corruption_fallbacks" -> ca("corruption_fallbacks") / n,
        "plans.plan_ms" -> (if (done.isEmpty) 0.0 else done.map(_.planMs).sum / done.length),
        "spark.jobs_per_op" -> sp("jobs") / n,
        "spark.stages_per_op" -> sp("stages") / n,
        "spark.tasks_per_op" -> sp("tasks") / n,
        "spark.task_run_ms" -> sp("run_ms") / n,
        "spark.task_cpu_ms" -> sp("cpu_ns") / 1e6 / n,
        "spark.gc_ms" -> sp("gc_ms") / n,
        "spark.scheduler_delay_ms" -> sp("sched_delay_ms") / n,
        "spark.shuffle_write_mb" -> sp("shuffle_write_bytes") / mb / n,
        "spark.spill_mb" -> sp("spill_bytes") / mb / n,
        "write_ms_p50" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)))

      if (traced) {
        val spans = Trace.all
        val timed = spans.filter(s => s.op >= firstTimedOp && s.op <= lastTimedOp)
        def total(layer: String, name: String) =
          timed.filter(s => s.layer == layer && s.name == name)
        val kids = timed.groupBy(_.parent)
        def ms(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e6 / n
        layers("cache.open_calls") = total("cache", "open").length / n
        layers("cache.open_ms") = ms(total("cache", "open"))
        layers("cache.read_calls") = total("cache", "read").length / n
        layers("cache.read_ms") = ms(total("cache", "read"))
        layers("cache.read_self_ms") = total("cache", "read")
          .map(s => Trace.selfNanos(s, kids.getOrElse(s.id, Nil))).sum / 1e6 / n
        layers("cache.write_ms") = ms(total("cache", "write"))
        Trace.selfByLayer(timed).foreach { case (layer, ns) =>
          layers(s"trace.${layer}_self_ms") = ns / 1e6 / n
        }
        Seq("bench", "plans", "spark", "cache", "store").foreach { l =>
          layers.getOrElseUpdate(s"trace.${l}_self_ms", 0.0)
        }
        layers("trace.spans_per_op") = timed.length / n
        layers ++= FunctionProbes.run(spark)
        val probeSpark0 = sparkLayer.snapshot
        val (probed, firstProbeOp) = CurateProbe.run(ctx)
        probe = probed
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val probeSpans = Trace.all.filter(_.op >= firstProbeOp)
        val k = probe.length.toDouble
        layers("operators.curate_ms") = phaseMedian(probe, "curate")
        layers("operators.readback_ms") = phaseMedian(probe, "readback")
        layers("operators.task_run_ms") = d(probeSpark0, sparkLayer.snapshot, "run_ms") / k
        layers("operators.cache_read_ms") = probeSpans
          .filter(s => s.layer == "cache" && s.name == "read").map(_.durNs).sum / 1e6 / k
        val (streamed, streamLayers) = StreamProbe.run(ctx)
        probe ++= streamed
        layers ++= streamLayers
        a.get("spans").foreach(f => Trace.write(new File(f), Trace.all))
      }

      out("workload") = w.name
      val allFailed = failed ++ probe.filterNot(_.ok)
      out("attempted") = results.length + probe.length
      out("failed") = allFailed.length + (if (cold.ok) 0 else 1)
      out("errors") = (cold.error.toSeq ++ allFailed.flatMap(_.error)).take(5)
      out("elapsed_s") = elapsedS
      out("setup_phases") = Map("session" -> sessionS) ++ ctx.phases
      out("end_to_end") = e2e
      out("layers") = layers
      out("store_raw") = store1
      out("cache_raw") = cache1
      out("spark_raw") = spark1
      out("store_distinct_mb_read") = SimStore.stats.distinctBytesRead / mb
      out("cache_dir") = new File(workDir, "cache").getPath
      out("env") = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "master" -> spark.sparkContext.master,
        "clients" -> w.clients,
        "seed" -> seed,
        "store_model" -> Map("latency_ms" -> Model.latencyMs, "mb_per_s" -> Model.mbPerSec))
    } catch {
      case e: Throwable =>
        out("workload") = w.name
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      writeJson(new File(a("out")), out)
      spark.stop()
    }
  }

  private def phaseMedian(rs: Seq[OpResult], k: String): Double = {
    val xs = rs.flatMap(_.phaseMs.get(k))
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  private def cacheSnapshot: Map[String, Long] =
    CacheManager.current.map(_.metrics.snapshot.toMap).getOrElse(Map.empty)

  /** `w.clients` threads run operations of the seeded sequence back to
    * back until `seconds` have passed; an operation started before the
    * deadline runs to completion. Returns the results and the elapsed
    * time up to the last completion. */
  private def closedLoop(ctx: RunContext, w: ScanWorkload,
      seconds: Double): (Seq[OpResult], Double) = {
    val results = new ConcurrentLinkedQueue[OpResult]
    val next = new AtomicInteger
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          val r =
            try ctx.asOp(w.op(ctx, i))
            catch {
              case e: Throwable =>
                OpResult(0, 0, ok = false, isWrite = false,
                  error = Some(s"op $i: ${e.getClass.getName}: ${e.getMessage}"))
            }
          results.add(r)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (results.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def writeJson(f: File, m: collection.Map[String, Any]): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, Json.encode(m) + "\n")
  }
}

/** Minimal JSON encoder for result files (maps, sequences, numbers, strings). */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => encode(k.toString) + ": " + encode(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ", ", "]")
    case other => encode(other.toString)
  }
}
