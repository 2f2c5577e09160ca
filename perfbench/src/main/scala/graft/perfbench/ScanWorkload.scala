package graft.perfbench

import java.io.File
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Read operations over a subset of partitions, plus partition rewrites. */
sealed trait ScanOp
final case class Q1(parts: Seq[Int]) extends ScanOp
final case class Q6(parts: Seq[Int], variant: Int) extends ScanOp
final case class Lookup(parts: Seq[Int], key: Long) extends ScanOp
final case class Rewrite(part: Int) extends ScanOp

/** What differs between the scan workloads: partition count, rewrite
  * rhythm (0 = read only), read path and cache budget (0 = unbounded). */
final case class ScanShape(parts: Int, writeEvery: Int, viaDataSource: Boolean,
    cacheBudgetMb: Long)

/** `scan-hot` and `scan-churn`: two clients run a seeded mix of Q1-style
  * wide aggregates, Q6-style selective aggregates and l_orderkey point
  * lookups, each over a Zipf-chosen subset of lineitem-like partitions
  * held in the simulated store. Partitions are byte copies of a few
  * seeded templates (generation dominates set-up otherwise); neighbouring
  * partitions differ, so a read served from the wrong file does not match.
  * `scan-churn` also rewrites partitions through the caching file system;
  * a rewrite alternates a partition between its two pre-generated
  * versions, so a stale read never matches. */
final class ScanWorkload(val name: String, shape: ScanShape) {
  val clients = 2
  private val zipfS = 1.1
  private val subsetSize = 4
  private val WarmUpOps = 72
  private val templates = 8
  private val rowsPerPart = 100000

  private var dataDir: File = _
  private var versionsDir: File = _
  private var expected: IndexedSeq[IndexedSeq[Expected]] = _ // (version)(part)
  private var ops: IndexedSeq[ScanOp] = _
  private var current: Array[Int] = _
  private var locks: IndexedSeq[ReentrantReadWriteLock] = _

  /** Session settings beyond the system defaults: the cache budget. */
  def sessionConf: Map[String, String] =
    if (shape.cacheBudgetMb > 0)
      Map("spark.hadoop.graft.cache.max.size.mb" -> shape.cacheBudgetMb.toString)
    else Map.empty

  /** Generates the inputs into the store and warms JIT and codegen on
    * separate data. */
  def setup(ctx: RunContext): Unit = {
    val spark = ctx.spark
    dataDir = new File(ctx.storeRoot, "lineitem")
    versionsDir = new File(ctx.genDir, "versions")
    val nVersions = if (shape.writeEvery > 0) 2 else 1
    expected = ctx.phase("generate") {
      (0 until nVersions).map { v =>
        val d = new File(versionsDir, s"v$v")
        d.mkdirs()
        ScanData.write(spark, ctx.seed, v, templates, rowsPerPart, d)
      }
    }
    dataDir.mkdirs()
    (0 until shape.parts).foreach { p =>
      java.nio.file.Files.copy(versionFile(0, p).toPath,
        new File(dataDir, ScanData.fileName(p)).toPath)
    }
    current = Array.fill(shape.parts)(0)
    locks = IndexedSeq.fill(shape.parts)(new ReentrantReadWriteLock)
    ops = sequence(ctx.seed, 20000)
    ctx.phase("warm_up")(warmUp(ctx))
  }

  /** Partition p holds a copy of template p mod `templates`. */
  private def tpl(p: Int): Int = p % templates

  private def versionFile(v: Int, p: Int): File =
    new File(new File(versionsDir, s"v$v"), ScanData.fileName(tpl(p)))

  /** Seeded operation sequence. Every run gets the same mix in the same
    * rhythm (Q1, Q6, lookup in turn; every `writeEvery`-th op a rewrite),
    * so seeds differ only in which partitions, variants and keys are hit.
    * Partition popularity is Zipf(s) over a seeded permutation. */
  private def sequence(seed: Long, n: Int): IndexedSeq[ScanOp] = {
    val rnd = new java.util.Random(seed)
    val perm = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until shape.parts).toVector)
    val w = (1 to shape.parts).map(r => 1.0 / math.pow(r, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def pick(): Int = {
      val u = rnd.nextDouble()
      perm(math.min(cdf.indexWhere(_ >= u), shape.parts - 1))
    }
    def subset(): Seq[Int] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (s.size < subsetSize) s += pick()
      s.toSeq.sorted
    }
    var reads = 0
    (0 until n).map { i =>
      if (shape.writeEvery > 0 && i % shape.writeEvery == shape.writeEvery - 1) Rewrite(pick())
      else {
        val parts = subset()
        reads += 1
        reads % 3 match {
          case 0 => Q1(parts)
          case 1 => Q6(parts, rnd.nextInt(ScanData.Q6Variants.length))
          case _ =>
            val p = parts(rnd.nextInt(parts.length))
            Lookup(parts, ScanData.lookupKeys(seed, tpl(p), rowsPerPart)(
              rnd.nextInt(ScanData.LookupKeysPerPart)))
        }
      }
    }
  }

  private def path(dir: File, p: Int): String =
    new File(dir, ScanData.fileName(p)).getAbsolutePath

  private def frame(ctx: RunContext, dir: File, parts: Seq[Int]): DataFrame = {
    val r = ctx.spark.read.schema(ScanData.schema)
    if (shape.viaDataSource) r.format("graft").load(parts.map(path(dir, _)): _*)
    else r.parquet(parts.map(p => "graft://" + path(dir, p)): _*)
  }

  /** Runs one read against `dir` and compares it with `exp` (per part). */
  private def read(ctx: RunContext, dir: File, op: ScanOp,
      exp: Int => Expected): OpResult = {
    val t0 = System.nanoTime()
    val (df, check): (DataFrame, Array[Row] => Boolean) = op match {
      case Q1(parts) =>
        val want = parts.map(exp(_).q1).reduce { (a, b) =>
          (a.keySet ++ b.keySet).map(k => k -> Seq(a.get(k), b.get(k)).flatten.reduce(_ + _)).toMap
        }
        val df = frame(ctx, dir, parts).groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").cast("long"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(100) - col("l_discount"))),
          sum(col("l_extendedprice") * (lit(100) - col("l_discount")) * (lit(100) + col("l_tax"))),
          count(lit(1)))
        (df, rows => rows.map(r => (r.getString(0), r.getString(1)) ->
          Q1Row(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap == want)
      case Q6(parts, v) =>
        val want = parts.map(exp(_).q6(v)).sum
        val df = frame(ctx, dir, parts).filter(ScanData.q6Cond(v))
          .agg(coalesce(sum(col("l_extendedprice") * col("l_discount")), lit(0L)))
        (df, rows => rows.length == 1 && rows(0).getLong(0) == want)
      case Lookup(parts, key) =>
        val want = parts.map(exp(_).lookups.getOrElse(key, (0L, 0L)))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        val df = frame(ctx, dir, parts).filter(col("l_orderkey") === key)
          .agg(count(lit(1)), coalesce(sum("l_extendedprice"), lit(0L)))
        (df, rows => rows.length == 1 && (rows(0).getLong(0), rows(0).getLong(1)) == want)
      case Rewrite(_) => throw new IllegalArgumentException("not a read")
    }
    val tp = System.nanoTime()
    Trace.span("plans", "plan") { df.queryExecution.executedPlan }
    val planMs = (System.nanoTime() - tp) / 1e6
    val rows = ctx.job(df.collect())
    val ok = check(rows)
    val parts = op match {
      case Q1(p) => p; case Q6(p, _) => p; case Lookup(p, _) => p; case _ => Nil
    }
    OpResult((System.nanoTime() - t0) / 1e6, parts.length.toLong * rowsPerPart,
      ok, isWrite = false, planMs,
      error = if (ok) None else Some(s"wrong result for $op: ${rows.mkString(",")}"))
  }

  /** Rewrites partition p with its next version through `graft://`
    * (create with overwrite, copy, close). */
  private def rewrite(ctx: RunContext, p: Int): OpResult = {
    val lock = locks(p).writeLock()
    lock.lock()
    try {
      val next = (current(p) + 1) % expected.length
      val t0 = System.nanoTime()
      putThrough(ctx, versionFile(next, p), path(dataDir, p))
      current(p) = next
      OpResult((System.nanoTime() - t0) / 1e6, 0L, ok = true, isWrite = true)
    } finally lock.unlock()
  }

  /** Copies `src` over the store object at `dst` through `graft://`
    * (create with overwrite, write, close). */
  private def putThrough(ctx: RunContext, src: File, dst: String): Unit = {
    val target = new Path("graft://" + dst)
    val out = target.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      .create(target, true)
    val in = new java.io.FileInputStream(src)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally { in.close(); out.close() }
  }

  /** Operation `i` of the seeded sequence. */
  def op(ctx: RunContext, i: Int): OpResult = ops(i % ops.length) match {
    case Rewrite(p) => rewrite(ctx, p)
    case o =>
      val parts = o match {
        case Q1(p) => p; case Q6(p, _) => p; case Lookup(p, _) => p; case _ => Nil
      }
      // read locks in partition order: a read sees one version per
      // partition, and that is the version it is checked against
      val held = parts.map(locks(_).readLock())
      held.foreach(_.lock())
      try read(ctx, dataDir, o, p => expected(current(p))(tpl(p)))
      finally held.foreach(_.unlock())
  }

  /** Reads every partition file whole through `graft://` (four readers,
    * like four scan tasks), then runs Q1 over all of them. */
  def coldPass(ctx: RunContext): OpResult = {
    val t0 = System.nanoTime()
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val sizes = try {
      (0 until shape.parts).map { p =>
        pool.submit(() => {
          val f = new Path("graft://" + path(dataDir, p))
          val in = f.getFileSystem(conf).open(f)
          try {
            val buf = new Array[Byte](1 << 20)
            var total = 0L
            var n = in.read(buf)
            while (n > 0) { total += n; n = in.read(buf) }
            p -> total
          } finally in.close()
        })
      }.map(_.get)
    } finally pool.shutdown()
    val short = sizes.filter { case (p, n) => n != new File(path(dataDir, p)).length }
    val q1 = read(ctx, dataDir, Q1(0 until shape.parts), p => expected(0)(tpl(p)))
    q1.copy(ms = (System.nanoTime() - t0) / 1e6, ok = q1.ok && short.isEmpty,
      error = q1.error.orElse(
        if (short.isEmpty) None else Some(s"cold pass read short: $short")))
  }

  /** JIT and codegen warm-up on data of its own: the timed loop's mix
    * (and, for churn, its rewrites), run by the same number of clients
    * through the same store and cache path, for a fixed number of ops. */
  private def warmUp(ctx: RunContext): Unit = {
    val tplDir = new File(ctx.genDir, "warm")
    val warmDir = new File(ctx.storeRoot, "warm")
    tplDir.mkdirs()
    warmDir.mkdirs()
    val (seed, rows, parts) = (ctx.seed + 7777, 40000, 0 until 4)
    val exp = ScanData.write(ctx.spark, seed, 0, 2, rows, tplDir)
    def tplFile(p: Int) = new File(tplDir, ScanData.fileName(p % 2))
    parts.foreach(p => java.nio.file.Files.copy(tplFile(p).toPath,
      new File(warmDir, ScanData.fileName(p)).toPath))
    val keys = ScanData.lookupKeys(seed, 0, rows) ++ ScanData.lookupKeys(seed, 1, rows)
    val lock = new ReentrantReadWriteLock
    val next = new java.util.concurrent.atomic.AtomicInteger
    val failure = new java.util.concurrent.atomic.AtomicReference[String]
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < WarmUpOps && failure.get == null) {
        if (shape.writeEvery > 0 && i % shape.writeEvery == shape.writeEvery - 1) {
          // rewrite with the same bytes: exercises the write path, keeps results
          lock.writeLock().lock()
          try putThrough(ctx, tplFile(i), path(warmDir, i % parts.length))
          finally lock.writeLock().unlock()
        } else {
          val o = i % 3 match {
            case 0 => Q1(parts)
            case 1 => Q6(parts, i % ScanData.Q6Variants.length)
            case _ => Lookup(parts, keys(i % keys.length))
          }
          lock.readLock().lock()
          val r = try read(ctx, warmDir, o, p => exp(p % 2)) finally lock.readLock().unlock()
          if (!r.ok) failure.compareAndSet(null, r.error.getOrElse(o.toString))
        }
        i = next.getAndIncrement()
      }
    }
    val threads = (0 until clients).map(_ => new Thread(() => work()))
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (failure.get != null) throw new IllegalStateException(s"warm-up: ${failure.get}")
  }
}
