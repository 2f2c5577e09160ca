package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming surface: event-time windowed aggregation with a
  * watermark over the events table, driven to completion with
  * Trigger.AvailableNow + a memory sink so a batch oracle can check it.
  *
  * The reference has no streaming at all (SURVEY §2.10) — this is the
  * beyond-reference surface: at scale the same code runs on a Kafka/file
  * stream; `readStream` over the parquet directory is the local stand-in.
  */
object EventStreams {
  private val counter = new AtomicInteger

  /** Stateful operators plan one state-store instance per shuffle
    * partition; at this data scale 32 instances are pure checkpoint-IO
    * overhead (~30% of query time measured at sf0.1). Run the stateful
    * stage at `graft.streaming.state.partitions` (default 8) — the
    * stateless scan stages still parallelize by file split. At cluster
    * scale, set it to O(cores) like any shuffle; state partition count is
    * fixed per checkpoint once a query starts.
    *
    * `noDataBatches=false` (the default here) additionally skips the
    * trailing zero-row watermark-advance micro-batch, which re-executes
    * the whole stateful plan against empty inputs just to evict state —
    * measured 3.5 s of s04's 9 s, ~1 s of s03. That is safe ONLY for
    * queries whose every output row is emitted in the data batch itself:
    * inner stream-stream joins (eager emission), complete-mode aggs
    * (state dump per batch), NoTimeout flatMapGroupsWithState, and
    * dropDuplicates. Queries that rely on event-time TIMEOUTS firing
    * after the last data batch (e.g. [[sessionizeOpen]]) MUST pass
    * `noDataBatches=true` or their final sessions never emit.
    *
    * (RocksDB state store measured for the record: 2-4x SLOWER here —
    * one native DB instance per store x 32 stores dwarfs these state
    * sizes. The HDFS-backed provider is right until per-partition state
    * stops fitting in executor memory.) */
  private def withStreamConf[A](spark: SparkSession,
      noDataBatches: Boolean = false)(body: => A): A = {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevShuffle = spark.conf.get(shuffleKey)
    val prevNoData = spark.conf.get(noDataKey)
    val n = spark.conf.getOption("graft.streaming.state.partitions")
      .getOrElse("8")
    spark.conf.set(shuffleKey, n)
    spark.conf.set(noDataKey, noDataBatches.toString)
    try body finally {
      spark.conf.set(shuffleKey, prevShuffle)
      spark.conf.set(noDataKey, prevNoData)
    }
  }

  /** 30-minute inactivity gap used by [[sessionize]] (microseconds). */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Write `input` as id-ordered single-file arrival slices under
    * `$base/in/slice-<i>.parquet` with strictly increasing mtimes, so
    * FileStreamSource's (mtime, path) order replays arrival order
    * deterministically — the slice scaffolding shared by s13/s14/s15.
    * `bounds` are half-open [lo, hi) doc_id ranges, one slice each. */
  private def writeIdSlices(spark: SparkSession, input: DataFrame,
      base: String, bounds: Seq[Long]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    // each slice is a coalesce(1) single-task job — overlap the four of
    // them (r18, guide §2.6); paths are disjoint and the replay order is
    // the EXPLICIT per-slice mtime below, not write completion order
    graft.operators.Par.writes(bounds.sliding(2).zipWithIndex.map {
      case (Seq(lo, hi), i) => () => {
        val tmp = new org.apache.hadoop.fs.Path(s"$base/_slice_$i")
        input.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"slice $i wrote no part file"))
        val dest = new org.apache.hadoop.fs.Path(s"$base/in/slice-$i.parquet")
        fs.mkdirs(dest.getParent)
        fs.rename(part, dest)
        fs.delete(tmp, true)
        // mtime IS the replay order: a silently-failed set would scramble
        // FileStreamSource's (mtime, path) ordering and surface downstream
        // as an inscrutable hash mismatch — fail loudly here instead
        require(new java.io.File(dest.toUri.getPath)
            .setLastModified(1000L * (i + 1)),
          s"failed to set mtime on slice $i at $dest")
      }
    }.toSeq: _*)
  }

  /** One batch-side footer read of the events schema — hoisted so the
    * two-source gates (s04/s11) pay schema inference once per query
    * instead of once per stream arm (r19). */
  private def eventsSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType =
    spark.read.parquet(s"$dir/events.parquet").schema

  private def eventsStream(spark: SparkSession, dir: String,
      knownSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = knownSchema.getOrElse(eventsSchema(spark, dir))
    // events.parquet is a single FILE in the driver corpus but a
    // DIRECTORY of part files in any Spark-written corpus (the tiled
    // SCALE.md corpora, real deployments). A glob on the literal file name
    // reads the directory layout as an EMPTY stream — silently. Stream
    // from inside the directory when it is one.
    val isDir = new java.io.File(s"$dir/events.parquet").isDirectory
    val reader = spark.readStream.schema(batchSchema)
    val raw =
      if (isDir) reader.parquet(s"$dir/events.parquet")
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      // naive timestamp[us] testdata (2026-08-13 regeneration): same
      // normalization as Tables.load — UTC session tz makes it lossless.
      raw.withColumn("ts", col("ts").cast("timestamp"))
    else raw
  }

  /** Stateful sessionization with flatMapGroupsWithState: per-user
    * sessions split on >30min inactivity. Custom state management is the
    * KeyValueGroupedDataset path the reference surface has no analog for
    * (SURVEY §2.10). Scope note: this runs in one-shot AvailableNow mode
    * — every session is emitted from the single batch, and the GroupState
    * only carries the per-user session counter. The continuously-running
    * variant is [[sessionizeOpen]]: state carries the OPEN session and
    * emits on inactivity timeout (GroupStateTimeout.EventTimeTimeout);
    * the per-batch islands computation is shared arithmetic. This one
    * stays the GATE query because its output is exactly the batch islands
    * oracle — sessionizeOpen holds back sessions still inside the final
    * watermark, which is correct continuously but not batch-comparable.
    *
    * Whale-user memory bound: the group iterator arrives unsorted, so one
    * sort buffer per user-batch is unavoidable — but it is a PRIMITIVE
    * long array of timestamps only (8 bytes/event, no boxing; event ids
    * don't participate in session arithmetic, so ties need no tiebreak).
    * A 10M-event user costs 80 MB transient, not the ~500 MB a boxed
    * tuple sort would; SessionizeWhaleSpec drives a 100k-event user
    * through this path. Beyond that, bound the batch itself: with a
    * watermark + micro-batch triggers each batch carries only the
    * watermark window's events per user, and session continuity across
    * batches rides the GroupState, not the buffer. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) { sessionize0(spark, dir) }

  private def sessionize0(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) AS tus", "event_id")
      .as[(Long, Long, Long)]
    val sessions = events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long)], state: GroupState[Long]) =>
          val ts = it.map(_._2).toArray
          java.util.Arrays.sort(ts)
          if (ts.isEmpty) Iterator.empty
          else {
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            var sid = 0L
            var start = 0L
            var last = Long.MinValue
            var n = 0L
            def emit(): Unit =
              if (n > 0) out += ((uid, sid, n, last - start))
            ts.foreach { t =>
              if (last == Long.MinValue || t - last > SessionGapUs) {
                emit(); sid += 1; start = t; n = 0
              }
              last = t; n += 1
            }
            emit()
            state.update(sid)
            out.result().iterator
          }
      }
    val name = s"graft_sessions_${counter.incrementAndGet()}"
    val q = sessions
      .toDF("user_id", "sid", "n_events", "dur_us")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    StreamWait.await(q, 120000)
    spark.table(name)
  }

  /** Continuous-deployment sessionization: GroupState carries the OPEN
    * session across micro-batches and emits it when event time passes the
    * inactivity gap (GroupStateTimeout.EventTimeTimeout) — the extension
    * [[sessionize]]'s scope note promises. A session spanning a batch
    * boundary emits ONCE, with the merged duration; the per-batch islands
    * arithmetic is identical to [[sessionize]].
    *
    * Input: a streaming DataFrame with `user_id` and an event-time `ts`
    * column that already carries the watermark (EventTimeTimeout requires
    * one). Output rows: (user_id, sid, n_events, dur_us). Closed sessions
    * emit in the batch that closes them; the open session emits when the
    * WATERMARK (not wall clock) passes last+gap, so emission is
    * deterministic under replay. State is one 4-long tuple per ACTIVE
    * user and is REMOVED on timeout — state size tracks users active
    * within the gap+watermark horizon, not lifetime cardinality (the
    * 100 TB/day bound that matters). Consequently `sid` is unique within
    * one activity run; after an idle timeout a returning user restarts at
    * 1, so a global session key is (user_id, session start), not sid.
    * The per-batch sort buffer is the same primitive long array as
    * [[sessionize]] (whale bound applies).
    *
    * Late events (accepted by the watermark but older than the open
    * session's `last`) merge INTO the open session — extending `start`
    * backward if they precede it — rather than splitting it: the batch
    * boundary must not manufacture splits that a single-batch run of the
    * same data would not produce. A late event older than start-gap
    * logically belongs to an already-emitted session; it still merges
    * (never a negative duration, never a retro-split) — the standard
    * watermark-lateness approximation.
    *
    * Callers MUST leave no-data micro-batches ENABLED (the session
    * default; [[withStreamConf]] only disables them for the batch-
    * emitting queries): the watermark-advance batch after the last data
    * batch is what fires trailing timeouts. */
  def sessionizeOpen(spark: SparkSession, events: DataFrame,
      gapUs: Long = SessionGapUs): org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    // state: (nextSid, startUs, lastUs, n); open session exists iff n > 0
    val gapMs = gapUs / 1000
    events
      .selectExpr("user_id", "ts", "unix_micros(ts) AS tus")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (sid, start, last, n) = state.get
            // REMOVE, don't park: parked counters would leak one state
            // entry per lifetime user (see scaladoc on sid semantics)
            state.remove()
            if (n > 0) Iterator.single((uid, sid, n, last - start))
            else Iterator.empty
          } else {
            val ts = it.map(_._3).toArray
            java.util.Arrays.sort(ts)
            if (ts.isEmpty) Iterator.empty
            else {
              val out = Seq.newBuilder[(Long, Long, Long, Long)]
              var (sid, start, last, n) = state.getOption.getOrElse((1L, 0L, 0L, 0L))
              ts.foreach { t =>
                if (n > 0 && t <= last) {
                  // late event inside (or before) the open session: merge,
                  // never split or walk `last` backwards
                  if (t < start) start = t
                  n += 1
                } else {
                  if (n > 0 && t - last > gapUs) {
                    out += ((uid, sid, n, last - start))
                    sid += 1; n = 0
                  }
                  if (n == 0) start = t
                  last = t; n += 1
                }
              }
              state.update((sid, start, last, n))
              // fire once the WATERMARK passes the inactivity gap; clamp
              // above the current watermark (required by the API when
              // late events put last+gap behind it)
              state.setTimeoutTimestamp(
                math.max(last / 1000 + gapMs, state.getCurrentWatermarkMs() + 1))
              out.result().iterator
            }
          }
      }
  }

  /** Streaming deduplication: dropDuplicates over a watermarked stream —
    * the streaming analog of exact dedup (state holds one entry per key
    * inside the watermark; expired keys are evicted, bounding state at
    * 100 TB/day ingest). Output is the distinct key SET (not "first
    * occurrence" rows, whose payload would depend on arrival order), so
    * a batch SELECT DISTINCT oracle checks it exactly. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val events = eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      val name = s"graft_dedup_${counter.incrementAndGet()}"
      val q = events.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      StreamWait.await(q, 120000)
      spark.table(name)
    }

  /** Stream-stream inner join with watermarks + a time-range condition:
    * each purchase joined to the same user's clicks in the preceding
    * hour. Both sides buffer state only within the watermark bound —
    * the join state a 100 TB/day pipeline can actually hold. Output
    * counts per purchase (event ids + count), deterministic, so a batch
    * interval-join oracle checks it exactly. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val sch = Some(eventsSchema(spark, dir))
      val purchases = eventsStream(spark, dir, sch)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = eventsStream(spark, dir, sch)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val name = s"graft_ssjoin_${counter.incrementAndGet()}"
      // the streaming stage emits the raw join pairs (append mode — the
      // only mode a stream-stream join supports); the count-per-purchase
      // rollup happens as a batch step over the sink table
      val q = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("p_user"), col("p_id"), col("c_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      StreamWait.await(q, 120000)
      spark.table(name)
        .groupBy(col("p_user"), col("p_id"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_clicks"))
    }

  /** Stream-stream LEFT OUTER join: s04's purchase×preceding-hour-clicks
    * pairing, but purchases with NO clicks also emit — as a null-padded
    * row once the watermark proves no match can still arrive. This is
    * the state-machine behavior the inner join never exercises: Spark
    * holds the unmatched left row until the watermark passes its join
    * window, then evicts-and-emits, which requires no-data micro-batches
    * after the final data batch (noDataBatches=true below — the s02/s09
    * comment's caveat, load-bearing here).
    *
    * A stream never "ends", so the last watermark-delay's worth of
    * purchases is still pending in state when AvailableNow stops —
    * their no-click verdict is genuinely unknowable yet. Both the
    * engine arm and the batch oracle therefore restrict to the
    * COMPLETED region (p_ts at least 2 h before the stream's max event
    * time: 30 min watermark delay + 1 h join range + margin), which is
    * the deployment semantics too — a purchase's click count is final
    * only once its window closed. Scale shape: state is bounded by the
    * watermark on both sides exactly as s04; the outer emission adds no
    * state, only an eviction-time emit. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark, noDataBatches = true) {
      val sch = Some(eventsSchema(spark, dir))
      val purchases = eventsStream(spark, dir, sch)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "30 minutes")
      val clicks = eventsStream(spark, dir, sch)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      val name = s"graft_ssoj_${counter.incrementAndGet()}"
      val q = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
        .select(col("p_user"), col("p_id"), col("p_ts"), col("c_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      StreamWait.await(q, 120000)
      // completed-region boundary, computed batch-side (deterministic)
      val maxUs = graft.operators.Tables.load(spark, dir, "events")
        .agg(org.apache.spark.sql.functions.max(unix_micros(col("ts"))))
        .head().getLong(0)
      spark.table(name)
        .filter(unix_micros(col("p_ts")) <= maxUs - 7200L * 1000000L)
        .groupBy(col("p_user"), col("p_id"))
        .agg(org.apache.spark.sql.functions.count(col("c_id")).as("n_clicks"))
    }

  /** Tumbling 6h windows of count/sum(value) per event_type.
    * Returns the final (complete-mode) result as a batch DataFrame. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) { windowedCounts0(spark, dir) }

  private def windowedCounts0(spark: SparkSession, dir: String): DataFrame = {
    val events = eventsStream(spark, dir)
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
      .select(unix_seconds(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamWait.await(q, 120000)
    spark.table(name)
  }

  /** Built-in session windows (session_window, Spark 3.2+): per-user
    * sessions split on >30min inactivity, same semantics as the custom
    * flatMapGroupsWithState [[sessionize]] but expressed through the
    * native session-window state store — merging windows, watermark-aware
    * eviction, no user state code. Sessions are identified by their start
    * time (epoch micros), not a counter, because window identity IS the
    * merged interval here. Runs in complete mode onto a memory sink so
    * the batch islands oracle can check the final merged sessions; in a
    * continuous deployment this would be append mode + watermark, where
    * closed sessions emit exactly once. Scale shape: state is
    * hash-partitioned on user_id and each merge touches only that key's
    * open windows — the same per-key bound as the custom op, minus the
    * per-batch sort buffer (the state store keeps windows ordered). */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val events = eventsStream(spark, dir)
      val agg = events
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("mx"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n_events"),
          (unix_micros(col("mx")) - unix_micros(col("session_window.start")))
            .as("dur_us"))
      val name = s"graft_sesswin_${counter.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      spark.table(name)
    }

  /** Sliding-window aggregation (size 6 h, slide 3 h): every event lands
    * in exactly TWO overlapping windows — the moving-average/trailing-
    * rate shape tumbling windows (s01) can't express. Spark expands each
    * row into its size/slide = 2 window assignments before the shuffle,
    * so state is 2× the tumbling equivalent and still hash-partitioned
    * on (window, key); the watermark evicts each window size-after-slide
    * later than tumbling would. Complete mode onto a memory sink so the
    * batch oracle (each event UNION ALL'd into both its window starts)
    * can check the final counts. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val events = eventsStream(spark, dir)
      val agg = events
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
        .select(unix_seconds(col("window.start")).as("win_start_s"),
          col("event_type"), col("n"), col("sum_value"))
      val name = s"graft_sliding_${counter.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      spark.table(name)
    }

  /** Stream-static join: the events stream enriched with the customer
    * dimension, then aggregated per (segment, event_type). The static
    * side is re-planned per micro-batch (so a dimension update between
    * batches is picked up) and explicitly broadcast — at 100 TB/day of
    * stream the dimension rides to every executor once per batch and the
    * join never shuffles the stream side, which is THE stream-enrichment
    * shape. Aggregation runs in complete mode onto a memory sink so the
    * batch oracle (same join + agg in SQL) can check it. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val events = eventsStream(spark, dir)
      val cust = graft.operators.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = events
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
      val name = s"graft_ssj_${counter.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      spark.table(name)
    }

  /** Streaming parquet sink THROUGH the caching filesystem: the events
    * stream is written as graft:// parquet (exercising create/commit/
    * rename through the FS wrapper under the streaming file-sink commit
    * protocol), then read back — also through the cache — for the
    * aggregate the oracle checks against the batch table. Checkpoint
    * stays on the local FS: state/offset durability belongs to the
    * streaming engine, not the block cache. Output + checkpoint are
    * recreated as a pair each run — a stale checkpoint against an empty
    * output dir would silently skip every batch. */
  def streamToCacheSink(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.graft.impl", "graft.cache.GraftFileSystem")
      if (hc.get("graft.cache.dir") == null)
        hc.set("graft.cache.dir",
          sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-cache")
      val base = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        "/graft-ssink/" + new java.io.File(dir).getName
      val localFs = org.apache.hadoop.fs.FileSystem.getLocal(hc)
      localFs.delete(new org.apache.hadoop.fs.Path(base), true)
      val q = eventsStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .writeStream
        .format("parquet")
        .option("path", s"graft://$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      spark.read.parquet(s"graft://$base/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
    }

  /** foreachBatch incremental ETL: each micro-batch is pre-aggregated
    * into per-type partials (count + exact cents sum — longs, so the
    * final re-aggregation is order-independent no matter how many
    * batches the trigger slices the input into) and APPENDED to a
    * graft:// parquet log; the returned frame folds the partials. This
    * is the production sink pattern for engines without streaming-MERGE
    * support — foreachBatch gives the batch DataFrame API (and exactly-
    * once via batchId-keyed idempotence at real deployments) inside a
    * streaming query. */
  def foreachBatchPartials(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.graft.impl", "graft.cache.GraftFileSystem")
      if (hc.get("graft.cache.dir") == null)
        hc.set("graft.cache.dir",
          sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-cache")
      val base = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        "/graft-febatch/" + new java.io.File(dir).getName
      val localFs = org.apache.hadoop.fs.FileSystem.getLocal(hc)
      localFs.delete(new org.apache.hadoop.fs.Path(base), true)
      val q = eventsStream(spark, dir)
        .select(col("event_type"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(floor(col("value") * 100).cast("long")).as("cents"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"graft://$base/partials")
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      spark.read.parquet(s"graft://$base/partials")
        .groupBy("event_type")
        .agg(sum("n").as("n"),
          (sum("cents").cast("double") / 100).as("sum_value"))
    }

  /** Streaming sketch maintenance (s12): each micro-batch folds its
    * user-id frequencies into a count-min sketch (Spark's native
    * `count_min_sketch` aggregate — distributed, one binary row per
    * batch), appended to a partials log exactly like [[foreachBatchPartials]]'
    * cents; sketches are associative, so the post-stream merge is a fold
    * over batch-count rows (driver-side here; a treeAggregate at scale)
    * with NO raw-event replay — the streaming analog of d31's
    * heavy-hitter contract, and the op a 100 TB/day pipeline runs to
    * keep "how often has this key been seen, ever" queryable without
    * storing per-key state. Emission: the exact top-10 users (truth arm,
    * batch SQL over the same events) with the merged sketch's estimate
    * contract in-band — est >= true and est - true <= eps*N, seed-fixed
    * so the flag is deterministic per SF. */
  def streamingSketch(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      import org.apache.spark.util.sketch.CountMinSketch
      // Per-run scratch root: createTempDirectory is unique per call, so two
      // JVMs (or two same-named dataset dirs) benchmarking concurrently can
      // never delete each other's partials log or checkpoint mid-run.
      val base = java.nio.file.Files
        .createTempDirectory("graft-scms-").toString
      // Scratch cleanup rides a finally: a failed run (empty input, stream
      // exception, timeout) must not leak the checkpoint/partials dir.
      try {
      val q = eventsStream(spark, dir)
        .select(col("user_id").cast("string").as("uid"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.agg(
            expr("count_min_sketch(uid, 0.001d, 0.99d, 42)").as("sk"),
            count(lit(1)).as("n"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$base/sketches")
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      StreamWait.await(q, 120000)
      val parts = spark.read.parquet(s"$base/sketches")
        .select(col("sk"), col("n")).collect()
      require(parts.nonEmpty,
        s"streaming sketch produced no partials under $base/sketches - empty events input?")
      val merged = parts.map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]](0)))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val total = parts.map(_.getLong(1)).sum
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      val skBytes = bos.toByteArray
      // truth arm + in-band estimate contract over the merged sketch.
      // TakeOrdered top-k (d31's shape): orderBy.limit(10) keeps the
      // user-cardinality rows distributed; the rank window runs over only
      // the 10 surviving rows — never a single-partition global window.
      val top = graft.operators.Tables.load(spark, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
        .withColumn("rnk", org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("user_id"))).cast("long"))
        .persist()
      val ok = top
        .withColumn("est", graft.functions.CmsEstimate.cmsEstimateCol(
          lit(skBytes), col("user_id").cast("string")))
        .agg(min(col("est") >= col("cnt") &&
          (col("est") - col("cnt")).cast("double") <= total * 0.001)
          .as("cms_ok"))
      top.select(col("user_id"), col("cnt"), col("rnk"))
        .crossJoin(broadcast(ok))
      } finally {
        // The returned plan reads only the events table and the in-memory
        // sketch bytes, so the scratch dir is reclaimable on every path.
        org.apache.hadoop.fs.FileSystem
          .getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(base), true)
      }
    }

  /** Streaming ingest near-dup dedup (s13) — d49's streaming sibling:
    * documents arrive as id-ordered micro-batches (four slice files,
    * `maxFilesPerTrigger=1`, strictly increasing mtimes) and each batch
    * is deduped at shingle-jaccard >= 0.3 against the ACCUMULATED
    * SIGNATURE STORE of everything ingested before it plus its own
    * lower-id members — greedy first-occurrence, the continuous-ingest
    * discipline (Dolma-style) where yesterday's corpus is never
    * rescanned. The store is a parquet-append gram table (the s12
    * partials pattern); per batch: one equi-join of batch grams against
    * store grams (cost ∝ batch, the d49 property) plus the in-batch
    * lower-id join. `n_dups_prior` counts ALL lower-id matches, so the
    * output is independent of batch boundaries — the batch oracle is the
    * global lower-id rule — while `batches_ok` pins in-band that the
    * run REALLY went through 4 distinct micro-batches (a collapse into
    * one batch would silently make the store path vacuous). Planted
    * re-crawl twins (id + 3,000,000, the d47/d49 device) land in the
    * final batch and must be flagged against the store at every SF.
    *
    * At 100 TB the slices are arrival days, the store is the signature
    * index the bootstrap persisted, and the per-batch join is the only
    * work — no state grows in the streaming engine itself (the store is
    * external, append-only, and id-pruned upstream). */
  def streamIngestDedup(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val docs = graft.operators.Tables.load(spark, dir, "documents")
        .select("doc_id", "lang", "source", "text")
      val twins = docs.filter(pmod(col("doc_id"), lit(6)) === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          col("source"),
          concat(col("text"), lit(" is "),
            pmod(col("doc_id"), lit(97)).cast("string")).as("text"))
      val input = docs.unionByName(twins)
      val base = java.nio.file.Files
        .createTempDirectory("graft-sidedup-").toString
      try {
        // four id-ordered arrival slices (pure doc_id arithmetic: the
        // twin block is its own final slice); one file each, mtimes
        // strictly increasing so FileStreamSource's (mtime, path) order
        // replays arrival order deterministically
        val maxId = docs.agg(max("doc_id")).head.getLong(0)
        // The twin offset (3,000,000 — also hardcoded in the oracle SQL)
        // assumes all real ids sit strictly below it AND below the third
        // slice bound; fail loudly at generation time rather than let a
        // larger corpus silently collide twins with real docs or empty
        // slice 3.
        require(2 * maxId / 3 + 1 < 3000000L && maxId < 3000000L,
          s"s13 twin offset 3000000 violated: max(doc_id)=$maxId")
        writeIdSlices(spark, input,
          base, Seq(0L, maxId / 3 + 1, 2 * maxId / 3 + 1, 3000000L,
            Long.MaxValue))
        val schema = input.schema
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            ingestDedupBatch(base, batch, batchId)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        StreamWait.await(q, 180000)
        // eager localCheckpoint severs lineage from the scratch files —
        // the finally below deletes them before the caller materializes
        val out = spark.read.parquet(s"$base/out").localCheckpoint(true)
        val nBatches = out.agg(countDistinct("batch_id").as("nb"))
          .select((col("nb") === 4).as("batches_ok"))
        out.select(col("doc_id"), col("n_dups_prior"),
            (col("n_dups_prior") === 0).as("kept"))
          .crossJoin(broadcast(nBatches))
      } finally {
        org.apache.hadoop.fs.FileSystem
          .getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(base), true)
      }
    }

  /** One s13 micro-batch — IDEMPOTENT under Spark's at-least-once batch
    * retry (foreachBatch can re-deliver a batch after a mid-write
    * failure): both outputs land in batch_id-keyed partition dirs with
    * OVERWRITE, so a retry replaces its own partial files instead of
    * appending duplicates, and the store read excludes the current
    * batch id, so a retry never counts its own earlier partial store
    * write as prior data. StreamRetrySpec drives this contract. */
  // ---- batch-pruned cross-batch stores (r14) ----------------------------
  // The r13 layout re-aggregated the full line/quota stores and re-exploded
  // the full gram store EVERY micro-batch, so steady-state per-batch cost
  // grew with corpus size x batch count. The replacements:
  //   * FOLD stores (lines, quota): each batch writes ONE pre-aggregated
  //     snapshot keyed by batch_id; the probe reads the latest snapshot
  //     strictly below the current id — one partition, no re-aggregation
  //     over history. Snapshots <= N-2 are retired (foreachBatch only ever
  //     re-delivers the last uncommitted id, which replays from N-1), so
  //     the store footprint stays ~2x state size.
  //   * GRAM store: per-batch contributions stay delta-keyed (idempotent
  //     overwrite) but land pre-EXPLODED with the owning doc's gram count
  //     np embedded, partitioned by gbkt = pmod(gh, GramBuckets). A probe
  //     (a) prunes store partitions to the buckets the batch's grams hash
  //     into and (b) Bloom-prefilters rows on the batch's exact gram set
  //     (the d37 zero-shuffle codegen expression), so the store-side
  //     SHUFFLE carries candidates, not the corpus — the join stays exact
  //     on gh, Bloom false positives only cost I/O.

  private[streaming] val GramBuckets = 32L

  // All store listing/GC/manifest I/O goes through
  // org.apache.hadoop.fs.FileSystem (r16): the r15 layout used
  // java.io.File + java.nio ATOMIC_MOVE, which made the "safe on an
  // object store" claim unexercisable — the same code now runs over
  // file://, graft:// and the s3a/gs/abfs shims, and StoreLayoutSpec
  // drives a full store lifecycle through an explicit file: URI.
  private def storeRoot(s: SparkSession, path: String):
      (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def listDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(root).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** `batch_id=N` children with a PARSEABLE id, sorted; a stray
    * `batch_id=*` entry (operator artifact, interrupted tool) is skipped
    * rather than thrown on — r15 advice: one malformed name previously
    * bricked every probe read and compaction via NumberFormatException. */
  private def batchIdDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] =
    listDirs(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("batch_id=").toLong).toOption
        .map(st.getPath -> _))
      .sortBy(_._2)

  /** Latest fold snapshot strictly before `batchId`, if any. */
  private def latestFold(s: SparkSession, path: String,
      batchId: Long, schema: org.apache.spark.sql.types.StructType):
      Option[DataFrame] =
    latestFoldSized(s, path, batchId, schema).map(_._1)

  /** Latest fold snapshot plus its on-disk byte size — the size drives
    * the adaptive-prefilter decision below. The fold's schema is passed
    * explicitly (r19): inference re-reads a parquet footer on the driver
    * once per micro-batch, a sequential seam the s15 profile attributed
    * real wall to (the gram store reads were already explicit-schema). */
  private def latestFoldSized(s: SparkSession, path: String,
      batchId: Long, schema: org.apache.spark.sql.types.StructType):
      Option[(DataFrame, Long)] = {
    val (fs, root) = storeRoot(s, path)
    batchIdDirs(fs, root).filter(_._2 < batchId)
      .sortBy(_._2).lastOption
      .map { case (p, k) =>
        (s.read.schema(schema).parquet(s"$path/batch_id=$k"),
          bytesUnder(fs, Seq(p)))
      }
  }

  /** Fold schemas (see [[latestFoldSized]]): per-line distinct-doc
    * counts (s15's linefold) and per-lang consumed tokens (s14 + s15's
    * quotafold). */
  private val lineFoldSchema =
    org.apache.spark.sql.types.StructType.fromDDL("line STRING, cnt BIGINT")
  private val quotaFoldSchema =
    org.apache.spark.sql.types.StructType.fromDDL("lang STRING, toks BIGINT")

  /** ADAPTIVE PREFILTER THRESHOLD (r18): the probe-side prefilter
    * devices — bucket pruning (a distinct+collect job over the batch's
    * grams) and the broadcast Bloom (an aggregate job) — are pure I/O
    * reducers: they shrink the STORE scan, never change results. Below
    * this store size they cost more than the scan they save (the r18
    * s15 profile attributed ~7 s/batch at sf0.1 — 3 extra Spark jobs
    * per micro-batch — to prefilter builds against stores of a few MB).
    * At or above it, the 100 TB path (prune + Bloom, SCALE.md's scan
    * term) engages unchanged. Conf-able so specs can force either arm. */
  private def pruneThreshold(s: SparkSession): Long =
    s.conf.getOption("graft.streaming.probe.prune.threshold.bytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(256L << 20)

  /** Total bytes under `paths`; an unlistable path reads as HUGE so a
    * transient store error keeps the conservative (prefiltered) arm. */
  private def bytesUnder(fs: org.apache.hadoop.fs.FileSystem,
      paths: Seq[org.apache.hadoop.fs.Path]): Long =
    paths.foldLeft(0L) { (acc, p) =>
      val b = try fs.getContentSummary(p).getLength
        catch { case _: Exception => Long.MaxValue / 1024 }
      math.min(Long.MaxValue / 2, acc + b)
    }

  /** Write fold snapshot `batchId` and retire snapshots <= batchId-2
    * (N-1 stays: a re-delivered batch N replays from it; older snapshots
    * can never be read again). */
  private def writeFold(df: DataFrame, path: String, batchId: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    val (fs, root) = storeRoot(df.sparkSession, path)
    batchIdDirs(fs, root).filter(_._2 <= batchId - 2)
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** One batch's gram contributions: pre-exploded, np embedded,
    * bucket-partitioned (layout above). Multiplicity is preserved — a
    * gram repeated in a doc's shingle array lands once per instance,
    * exactly what the packed-array explode produced, so `inter` counts
    * are bit-identical to the r13 layout. */
  private def writeGramStore(sigs: DataFrame, path: String,
      batchId: Long): Unit =
    sigs.select(col("doc_id"), col("lang"), col("source"),
        size(col("ghs")).as("np"), explode(col("ghs")).as("gh"))
      .withColumn("gbkt", pmod(col("gh"), lit(GramBuckets)))
      .write.mode("overwrite").partitionBy("gbkt")
      .parquet(s"$path/batch_id=$batchId")

  /** Probe prior grams with this batch's exploded grams `bg`
    * (doc_id, lang, source, gh): bucket-pruned, Bloom-prefiltered scan,
    * then the exact same-lang/source gh equi-join. Returns
    * (doc_id, prior_id, inter, np) pairs, or None when no prior batch
    * has written yet. */
  private[graft] def gramStoreProbe(s: SparkSession, path: String,
      batchId: Long, bg: DataFrame): Option[DataFrame] =
    readGramStoreSized(s, path, below = batchId).map { case (store, bytes) =>
      probeAgainst(s, store, batchId, bg,
        prefilter = bytes >= pruneThreshold(s))
    }

  private def probeAgainst(s: SparkSession, store: DataFrame, batchId: Long,
      bg: DataFrame, prefilter: Boolean): DataFrame = {
    val st =
      if (!prefilter)
        // small store (adaptive threshold above): the whole pruned scan
        // costs less than building the prefilters — plain committed-id
        // filter, identical join, identical results
        store.filter(col("batch_id") < batchId)
      else {
        // bounded driver fetch: <= GramBuckets rows
        val bkts = bg.select(pmod(col("gh"), lit(GramBuckets)).as("gbkt"))
          .distinct().collect().map(_.getLong(0)).toSeq
        // sized for a generous batch; an undersized Bloom only raises the
        // false-positive rate (more candidate I/O), never wrong results
        val bloom = graft.functions.BloomExprs.broadcastBloom(
          s, bg.select("gh"), "gh", 1L << 20, 0.01)
        store
          .filter(col("batch_id") < batchId && col("gbkt").isin(bkts: _*) &&
            graft.functions.BloomExprs.mightContainCol(col("gh"), bloom))
      }
    bg.join(st.select(col("doc_id").as("prior_id"),
        col("lang").as("lang_p"), col("source").as("source_p"),
        col("np"), col("gh").as("gh_p")),
      col("gh") === col("gh_p") && col("lang") === col("lang_p") &&
        col("source") === col("source_p"))
      .groupBy("doc_id", "prior_id")
      .agg(count(lit(1)).as("inter"), max("np").as("np"))
  }

  /** ONE SEGMENT of the gram-store probe (r16 — the third 100 TB lever
    * SCALE.md r15 named but left unbuilt: "corpus-segment sharding of
    * the store when a single scan stops fitting the batch cadence").
    * Segment `k` of `segments` = the store's gbkt partition dirs with
    * `gbkt % segments == k`; `segments` must divide [[GramBuckets]] so
    * segments align exactly with the physical partition layout. The
    * batch side is restricted to the segment's grams, so the probe's
    * bucket list — and therefore the store SCAN, via partition pruning —
    * covers only 1/segments of every base/delta dir. Segment probes are
    * INDEPENDENT Spark jobs: at 100 TB, where SCALE.md's replay-ladder
    * cost model (constant + α·store-bytes-scanned) says a single
    * store-sized scan eventually outgrows the batch cadence, the S jobs
    * can be spread across the cadence window, staggered between
    * maintenance windows, or run on disjoint executor groups — each
    * bounded at 1/S of the scan term (measured: SCALE.md r16, the
    * segment ladder). */
  private[graft] def gramStoreProbeSegment(s: SparkSession, path: String,
      batchId: Long, bg: DataFrame, segments: Int, k: Int): Option[DataFrame] = {
    require(segments > 0 && GramBuckets % segments == 0,
      s"segments=$segments must divide GramBuckets=$GramBuckets")
    // segment sharding IS a big-store device, but honor the adaptive
    // threshold anyway so spec-driven small-store runs stay cheap
    readGramStoreSized(s, path, below = batchId).map { case (store, bytes) =>
      probeAgainst(s, store, batchId,
        bg.filter(pmod(pmod(col("gh"), lit(GramBuckets)), lit(segments))
          === k),
        prefilter = bytes >= pruneThreshold(s))
    }
  }

  /** Union-of-segments probe, provably ≡ the unsegmented probe: a gram
    * match requires equal `gh`, hence equal `gbkt`, hence the same
    * segment — but one (doc, prior) PAIR can share grams across several
    * segments, so the per-segment partial intersections are re-summed
    * (`np` is a per-prior constant; max is a no-op merge). */
  private[graft] def gramStoreProbeSegmented(s: SparkSession, path: String,
      batchId: Long, bg: DataFrame, segments: Int): Option[DataFrame] =
    if (segments <= 1) gramStoreProbe(s, path, batchId, bg)
    else {
      val parts = (0 until segments).flatMap(k =>
        gramStoreProbeSegment(s, path, batchId, bg, segments, k))
      parts.reduceOption(_ unionByName _).map(
        _.groupBy("doc_id", "prior_id")
          .agg(sum("inter").as("inter"), max("np").as("np")))
    }

  // ---- gram-store manifest commit (r15; FileSystem-routed + lag-one GC
  // r16) -------------------------------------------------------------------
  // r14's compaction published by POSIX dir rename; on the object stores
  // this store would live on at 100 TB (S3/ABFS), a dir rename is neither
  // atomic nor cheap, and a reader listing batch_id= dirs could observe
  // the swap mid-flight. The r15 protocol publishes by atomically swapping
  // ONE small manifest file instead (a single-object PUT on any store —
  // the mdfile generation-publish discipline, reference
  // CacheUtil.java:162-182): folded rows land under a `base-<upto>` dir
  // (never `batch_id=`-prefixed, so partition discovery and pre-manifest
  // readers can't half-see it), and the reader resolves base + live
  // deltas FROM the manifest, not from a listing race with the compactor.
  // The swap alone only makes the PUBLISH atomic; what makes it safe for
  // an in-flight reader is the compactor's lag-one-generation GC (see
  // compactGramStore) — the prior generation's base + deltas survive one
  // more cycle, so a view resolved just before the swap stays readable.
  // All of it goes through org.apache.hadoop.fs.FileSystem, so file://,
  // graft:// and the s3a/gs/abfs shims run the identical code path.

  private val ManifestName = "_graft_manifest"

  /** Three-valued completeness: Some(true)=_SUCCESS present,
    * Some(false)=AFFIRMATIVELY absent, None=the existence check itself
    * failed (transient store error). The distinction is load-bearing: the
    * compactor's torn-fold sweep DELETES incomplete bases, and treating a
    * transient s3a/abfs error as "incomplete" would destroy the current
    * published generation (review r16). Unknown never deletes and never
    * resolves. */
  private def baseCompleteOpt(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Option[Boolean] =
    try Some(fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
    catch { case _: Exception => None }

  private def baseComplete(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Boolean =
    baseCompleteOpt(fs, d).contains(true)

  /** Complete `base-<upto>` dirs present, sorted by upto. */
  private def listBases(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] =
    listDirs(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("base-") &&
        baseComplete(fs, st.getPath))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("base-").toLong).toOption
        .map(st.getPath -> _))
      .sortBy(_._2)

  /** The store's published base (`base-<upto>` dir, upto) — from the
    * manifest when it names a complete dir, else recovered as the newest
    * COMPLETE base dir present (a torn manifest cannot happen under the
    * single-object publish, but a reader must never brick on one; and a
    * complete-but-unpublished base — crash between fold and publish — is
    * safe to adopt early: its source deltas are still on disk, so reading
    * it merely swaps equivalent rows). Largest upto wins. */
  private[streaming] def resolveGramBase(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path):
      Option[(org.apache.hadoop.fs.Path, Long)] = {
    val named = try {
      val mf = new org.apache.hadoop.fs.Path(root, ManifestName)
      if (!fs.exists(mf)) None
      else {
        val in = fs.open(mf)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toByteArray
        } finally in.close()
        val kv = new String(bytes, "UTF-8").linesIterator
          .flatMap(_.split("=", 2) match {
            case Array(k, v) => Some(k -> v)
            case _ => None
          }).toMap
        val d = new org.apache.hadoop.fs.Path(root, kv("base"))
        // The manifest's named base is refused only on an AFFIRMATIVE
        // _SUCCESS absence (r17): publish happens strictly after the
        // fold's _SUCCESS landed, so the only world where the named dir
        // is genuinely torn is an operator-restored partial backup —
        // which still reads refused here. A TRANSIENT probe error must
        // not fell the reader back a generation: with two coincident
        // transients right after two compactions, the listing fallback
        // can land TWO generations back, where the lag-one GC has
        // already retired the deltas that view needs — a silently
        // incomplete store. Trusting the manifest on unknown keeps the
        // reader on the published view; a truly-missing dir then fails
        // loudly at the parquet read instead of silently thinning rows
        // (StoreLayoutSpec pins both directions).
        if (baseCompleteOpt(fs, d).contains(false)) None
        else Some(d -> kv("upto").toLong)
      }
    } catch { case _: Exception => None }
    (named.toSeq ++ listBases(fs, root)).sortBy(_._2).lastOption
  }

  private def gramDeltaDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] =
    batchIdDirs(fs, root)

  /** The live gram store as one frame — the published base (rows
    * re-stamped `batch_id = upto`, a committed id, preserving the probe's
    * `batch_id < current` semantics exactly) unioned with the delta dirs
    * above it — or None when nothing has been written yet. Explicit
    * schemas throughout: a zero-gram batch writes no part files under
    * partitionBy, and inference over an all-empty store would fail. */
  private[streaming] def readGramStore(s: SparkSession, path: String):
      Option[DataFrame] = readGramStoreSized(s, path).map(_._1)

  /** [[readGramStore]] plus the resolved view's on-disk byte size
    * (base dir + live deltas), which drives the adaptive-prefilter
    * decision in the probes.
    *
    * `below` (r19): delta dirs with batch_id >= below are excluded from
    * the FILE LISTING, not just row-filtered. The probes pass the
    * current batch id: their `batch_id < current` predicate already
    * discarded those rows, so results are identical — but on a
    * RE-DELIVERED batch the current dir exists from the failed attempt
    * and is concurrently overwritten by this batch's own store write,
    * and a listing that included it could race the overwrite's delete.
    * Excluding it up front makes the probe read and the store write
    * touch disjoint paths, so the write can launch before the probe
    * composes (Par.scoped overlap). */
  private[streaming] def readGramStoreSized(s: SparkSession, path: String,
      below: Long = Long.MaxValue): Option[(DataFrame, Long)] = {
    val (fs, root) = storeRoot(s, path)
    val base = resolveGramBase(fs, root)
    val upto = base.map(_._2).getOrElse(Long.MinValue)
    val deltas = gramDeltaDirs(fs, root).filter(d => d._2 > upto && d._2 < below)
    val deltaDf =
      if (deltas.isEmpty) None
      else Some(s.read.schema(gramStoreSchema).option("basePath", path)
        .parquet(deltas.map(_._1.toString): _*))
    val baseDf = base.map { case (d, u) =>
      s.read.schema(gramBaseSchema).parquet(d.toString)
        .withColumn("batch_id", lit(u))
    }
    val df = (baseDf, deltaDf) match {
      case (Some(b), Some(d)) => Some(b.unionByName(d))
      case (b, d)             => b.orElse(d)
    }
    df.map(d => (d,
      bytesUnder(fs, base.map(_._1).toSeq ++ deltas.map(_._1))))
  }
  /** Offline gram-store compaction (the LSM half the delta layout needs
    * at scale): fold the published base plus every COMMITTED delta into
    * one fresh bucketed `base-<upto>` dir and publish it with the atomic
    * manifest swap (layout notes above [[resolveGramBase]]). Committed
    * means strictly below the newest delta present: foreachBatch can only
    * re-deliver the LAST batch id, so everything below ids.max is
    * provably checkpoint-committed, and the newest delta always stays a
    * delta — folding it would let a post-crash re-delivery of that batch
    * probe `batch_id < maxId`, miss the entire folded history, and then
    * overwrite it (r14 advice). A probe is equivalence-preserving by
    * construction — gram rows are facts (no aggregation), and folded
    * rows re-stamped `upto` satisfy `batch_id < current` exactly when
    * their original ids did.
    *
    * Crash-safe by roll-forward, not multi-file atomicity:
    * (1) merged rows land under `base-<upto>` with Spark's _SUCCESS
    * marker; (2) ONE small manifest file is atomically swapped in to
    * name it; (3) garbage collection runs with ONE GENERATION OF LAG
    * (r16, from the r15 advice — the reference's mdfile generation
    * pattern, CacheUtil.java:162-182): the PREVIOUS published base and
    * the deltas its view still needs (`prevUpto < batch_id <= upto`)
    * stay on disk until the NEXT compaction retires them, so a reader
    * that resolved its view from the prior manifest stays valid across
    * one concurrent compaction — on an object store, where the swap is
    * visible to in-flight readers, this is what actually makes the
    * publish safe for them. The residual contract: a single READ must
    * complete within one compaction cycle (a reader two generations
    * behind can lose its base); WRITERS are still exclusive — run the
    * compactor quiesced against ingest. A rerun after a crash at
    * any point adopts the newest complete base without recomputation
    * (the repair step below), discards torn folds (no _SUCCESS — inputs
    * untouched), and finishes the GC; a torn or stale manifest is
    * re-published from the same resolution. Idempotent when nothing
    * needs folding.
    *
    * Trigger policy (r15, from the 24x200-doc batch ladder in
    * SCALE.md): run when the store holds ~12+ delta dirs (~400 files at
    * GramBuckets=32) — the ladder shows probe cost flat through ~800
    * delta files and the fold itself costs ~1-2 s at that size, so a
    * delta-count trigger in the 12-24 range amortizes compaction to
    * noise while bounding the file count the probe's pruned listing
    * touches. At 100 TB this keeps the store at O(1) dirs x GramBuckets
    * files between maintenance windows instead of one dir per
    * micro-batch forever. */
  def compactGramStore(s: SparkSession, path: String): Unit = {
    val (fs, root) = storeRoot(s, path)
    def publish(baseName: String, upto: Long): Unit = {
      val content = s"upto=$upto\nbase=$baseName\n".getBytes("UTF-8")
      val dst = new org.apache.hadoop.fs.Path(root, ManifestName)
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".manifest-tmp-${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      // single-object swap through the FileSystem abstraction, in
      // preference order (honest per-FS semantics, review r16):
      // (1) rename onto the manifest — atomic where the FS overwrites
      //     an existing dst (POSIX local);
      // (2) delete + rename — HDFS refuses rename onto an existing dst,
      //     so every RE-publish takes this path there: content is never
      //     torn, only briefly MISSING, and readers recover from a
      //     missing manifest via base listing by design;
      // (3) create-overwrite of the manifest itself — on object stores,
      //     where rename is copy+delete anyway, one PUT of a small
      //     object IS the native atomic primitive.
      def tryRename(): Boolean =
        try fs.rename(tmp, dst) catch { case _: Exception => false }
      val renamed = tryRename() || {
        try fs.delete(dst, false) catch { case _: Exception => () }
        tryRename()
      }
      if (!renamed) {
        val o2 = fs.create(dst, true)
        try o2.write(content) finally o2.close()
        try fs.delete(tmp, false) catch { case _: Exception => () }
      }
    }
    // lag-one-generation GC (scaladoc above): keep the current base plus
    // the newest complete base BELOW it (the previous generation) and
    // every delta the previous generation's view still needs
    // (batch_id > prevUpto); retire everything older, plus torn folds'
    // leftovers and stray manifest tmp files. Unparseable batch_id=*
    // and base-* entries are left alone — they are not ours to delete.
    //
    // Three-valued completeness propagates INTO this path (r17, from the
    // r16 advice): the old keep-set came from listBases, which silently
    // DROPS a base whose _SUCCESS existence check transiently fails —
    // prevName then pointed one generation too far back and GC deleted
    // the live previous generation, violating the "unknown never
    // deletes" invariant on exactly the object stores the lag targets.
    // Now (a) any unknown-completeness base suppresses ALL base-*
    // deletions this cycle (the next run retries — GC is idempotent and
    // deferral only costs disk); (b) prevUpto stays over AFFIRMATIVELY
    // complete bases only — counting an unknown that is really a torn
    // fold would INFLATE prevUpto and retire deltas the true previous
    // generation's readers still need, while under-counting merely keeps
    // extra deltas one cycle (and (a) already protects the base dirs);
    // (c) a base whose upto exceeds keepBase's is NEVER retired,
    // independent of completeness probes — a torn newer fold is the
    // repair sweep's job (which requires an AFFIRMATIVE _SUCCESS
    // absence), not GC's.
    def gc(keepBase: String, upto: Long): Unit = {
      val baseDirs = listDirs(fs, root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("base-"))
        .flatMap { st =>
          scala.util.Try(st.getPath.getName.stripPrefix("base-").toLong)
            .toOption.map(u => (st.getPath.getName, u,
              baseCompleteOpt(fs, st.getPath)))
        }
      val anyUnknown = baseDirs.exists(_._3.isEmpty)
      val prevUpto = baseDirs
        .filter { case (n, u, c) => u < upto && n != keepBase && c.contains(true) }
        .map(_._2).sorted.lastOption.getOrElse(Long.MinValue)
      val prevName = if (prevUpto == Long.MinValue) "" else s"base-$prevUpto"
      listDirs(fs, root).foreach { st =>
        val n = st.getPath.getName
        val deltaId =
          if (n.startsWith("batch_id="))
            scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
          else None
        val baseUpto =
          if (n.startsWith("base-"))
            scala.util.Try(n.stripPrefix("base-").toLong).toOption
          else None
        val retired =
          deltaId.exists(_ <= prevUpto) ||
            (!anyUnknown && n != keepBase && n != prevName &&
              baseUpto.exists(_ < upto)) ||
            n.startsWith(".manifest-tmp-")
        if (retired) fs.delete(st.getPath, true)
      }
    }
    // repair/roll-forward: drop torn folds — only those whose _SUCCESS is
    // AFFIRMATIVELY absent (a transient existence-check error must never
    // delete a possibly-complete base) — then re-publish + GC around
    // whatever resolution says is current (no-op when already current)
    listDirs(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("base-") &&
        baseCompleteOpt(fs, st.getPath).contains(false))
      .foreach(st => fs.delete(st.getPath, true))
    resolveGramBase(fs, root).foreach { case (d, upto) =>
      publish(d.getName, upto)
      gc(d.getName, upto)
    }
    // fold: base + committed deltas (strictly below the newest delta)
    val base = resolveGramBase(fs, root)
    val upto0 = base.map(_._2).getOrElse(Long.MinValue)
    val committed = gramDeltaDirs(fs, root).filter(_._2 > upto0).dropRight(1)
    if (committed.size + (if (base.isDefined) 1 else 0) < 2)
      return // nothing to merge
    val newUpto = committed.last._2
    val deltaDf = s.read.schema(gramStoreSchema).option("basePath", path)
      .parquet(committed.map(_._1.toString): _*)
      .drop("batch_id") // re-stamped from the manifest's upto at read
    val all = base
      .map { case (d, _) =>
        s.read.schema(gramBaseSchema).parquet(d.toString).unionByName(deltaDf)
      }
      .getOrElse(deltaDf)
    val newBase = new org.apache.hadoop.fs.Path(root, s"base-$newUpto")
    // one file per bucket: the point of compaction is a bounded file
    // count, and an un-clustered write fans out per task
    all.repartition(col("gbkt"))
      .write.mode("overwrite").partitionBy("gbkt").parquet(newBase.toString)
    publish(newBase.getName, newUpto)
    gc(newBase.getName, newUpto)
  }

  /** The documented GC trigger as an executable policy: compact iff the
    * store holds >= `triggerDeltas` LIVE delta dirs (those above the
    * published base's upto — lagged deltas kept for the previous
    * generation's readers don't count, or the lag-one GC would re-fire
    * the trigger every batch until the next fold). Default 12, from the
    * 24-batch ladders — SCALE.md r15: a firing costs
    * ~1-2 s, amortizes over the 11 batches before the next one, and
    * post-compaction batches stay on their ladder. Returns whether
    * compaction ran. Call QUIESCED between micro-batches, the same
    * contract as [[compactGramStore]]. */
  def maybeCompactGramStore(s: SparkSession, path: String,
      triggerDeltas: Int = 12): Boolean = {
    val (fs, root) = storeRoot(s, path)
    val upto = resolveGramBase(fs, root).map(_._2).getOrElse(Long.MinValue)
    val fire = gramDeltaDirs(fs, root).count(_._2 > upto) >= triggerDeltas
    if (fire) compactGramStore(s, path)
    fire
  }

  private val gramStoreSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, lang STRING, source STRING, np INT, gh BIGINT, " +
      "gbkt BIGINT, batch_id BIGINT")
  private val gramBaseSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, lang STRING, source STRING, np INT, gh BIGINT, " +
      "gbkt BIGINT")

  // -----------------------------------------------------------------------

  def ingestDedupBatch(base: String, batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val b = batch
      .withColumn("__tok", graft.operators.Dedup.tokenCol)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.TextHashes.shingleHash64Col(
          col("text"), col("__tok"), 3, emptyIfShort = true).as("ghs"))
      .persist()
    graft.operators.Par.scoped { sc =>
    val bg = b.select(col("doc_id"), col("lang"), col("source"),
      explode(col("ghs")).as("gh"))
    val bn = b.select(col("doc_id"), size(col("ghs")).as("ng"))
    // pairsNp: (doc_id, prior_id, inter, np) -> per-doc dup count
    def jacTail(pairsNp: DataFrame) = pairsNp
      .join(bn, "doc_id")
      .filter(round(col("inter").cast("double") /
        (col("ng") + col("np") - col("inter")), 3) >= 0.3)
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    // launch the gram-store append first so it executes — materializing
    // the persisted `b` — while the driver composes the probe + outcome
    // plans (r19). Safe against a re-delivered batch's overwrite of its
    // own delta dir: the probe's listing excludes batch_id >= current
    // ([[readGramStoreSized]] `below`), so read and write paths are
    // disjoint.
    sc.launch(() => writeGramStore(b, s"$base/store", batchId))
    val fromStore =
      gramStoreProbe(s, s"$base/store", batchId, bg).map(jacTail)
    val inBatch = jacTail(
      bg.join(
        bg.select(col("doc_id").as("prior_id"),
          col("lang").as("lang_p"), col("source").as("source_p"),
          col("gh").as("gh_p")),
        col("gh") === col("gh_p") && col("lang") === col("lang_p") &&
          col("source") === col("source_p") &&
          col("prior_id") < col("doc_id"))
        .groupBy("doc_id", "prior_id")
        .agg(count(lit(1)).as("inter"))
        .join(bn.select(col("doc_id").as("prior_id"), col("ng").as("np")),
          "prior_id"))
    // union + re-aggregation instead of a full_outer join (r19, guide
    // §2.4 — same device as s15's counts): per-doc sums of disjoint
    // contributions are identical either way and one SMJ leaves the
    // critical path
    val counts = fromStore.fold(inBatch.withColumnRenamed("c", "ct"))(
      st => inBatch.unionByName(st)
        .groupBy("doc_id").agg(sum("c").as("ct")))
    sc.launch(() => b.select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ct"), lit(0L)).as("n_dups_prior"))
      .write.mode("overwrite").parquet(s"$base/out/batch_id=$batchId"))
    } // Par.scoped: join both writes
    b.unpersist()
    ()
  }

  /** Streaming per-language token-budget quota admission (s14) — the
    * streaming counterpart of d29's budget selection: documents arrive
    * as id-ordered micro-batches and each language admits docs until a
    * provisioned token budget is exhausted, carrying per-lang consumed
    * state across batches in an external batch_id-keyed store (the s13
    * discipline: overwrite-per-batch dirs, store read excludes the
    * current id — idempotent under foreachBatch re-delivery).
    *
    * Budget = corpus_total_tokens div 8, computed in a provisioning
    * pre-pass (at 100 TB: yesterday's stats size today's quota) — it
    * binds at a DIFFERENT batch per language at every SF (en crosses in
    * batch 2, the small languages in batch 4), so the cross-batch state
    * is load-bearing, and `batches_ok` pins the 4-batch shape in-band.
    *
    * The admitted set is batch-boundary independent, so the oracle is
    * the global rule: admit iff the same-language tokens AHEAD of the
    * doc (all lower ids) are under budget. That equals true
    * admitted-consumes semantics by a monotonicity argument: the first
    * rejected doc r of a language sees only admitted predecessors, so
    * its all-docs and admitted-only prefix sums coincide (both >= B),
    * and every later doc's flag is false under both rules — rejected
    * docs never free quota. The store therefore accumulates plain
    * per-lang arrival totals.
    *
    * At 100 TB: per-batch work is one window over the batch keyed by
    * language plus a languages-sized store read — no engine-internal
    * state, nothing corpus-scale crosses a partition. */
  def streamQuota(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val docs = graft.operators.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(graft.functions.TextStats.wsTokensCol(col("text")))
            .cast("long").as("n_tok"))
      val budget = docs.agg(expr("sum(n_tok) div 8")).head.getLong(0)
      val base = java.nio.file.Files
        .createTempDirectory("graft-squota-").toString
      try {
        val maxId = docs.agg(max("doc_id")).head.getLong(0)
        writeIdSlices(spark, docs,
          base, Seq(0L, maxId / 4 + 1, maxId / 2 + 1,
            3 * maxId / 4 + 1, Long.MaxValue))
        val q = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            quotaBatch(base, budget, batch, batchId)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        StreamWait.await(q, 180000)
        val out = spark.read.parquet(s"$base/out").localCheckpoint(true)
        val nBatches = out.agg(countDistinct("batch_id").as("nb"))
          .select((col("nb") === 4).as("batches_ok"))
        out.select(col("doc_id"), col("lang"), col("n_tok"),
            col("arrived_before"), col("admitted"))
          .crossJoin(broadcast(nBatches))
      } finally {
        org.apache.hadoop.fs.FileSystem
          .getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(base), true)
      }
    }

  /** One s14 micro-batch: prior per-lang totals from the latest FOLD
    * snapshot strictly below the current id (r14 layout — one
    * pre-aggregated read, snapshots <= N-2 retired), a within-batch
    * prefix window, the admission flag, and a fresh fold snapshot
    * absorbing this batch — idempotent under re-delivery (s13's
    * overwrite discipline: a retry recomputes the identical snapshot
    * from N-1). */
  def quotaBatch(base: String, budget: Long, batch: DataFrame,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    // prior per-lang totals from the FOLD snapshot (r14 layout, same as
    // s15's quotafold): one pre-aggregated read, never a re-aggregation
    // over all prior batch partitions
    val priorQuota = latestFold(s, s"$base/store", batchId, quotaFoldSchema)
    val prior = priorQuota
      .map(_.select(col("lang"), col("toks").as("base_toks")))
      .getOrElse(s.emptyDataFrame
        .select(lit("").as("lang"), lit(0L).as("base_toks")).limit(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // out write and fold write are independent (r18, guide §2.6)
    val batchQuota = batch.groupBy("lang").agg(sum("n_tok").as("toks"))
    graft.operators.Par.writes(
      () => batch
        .join(broadcast(prior), Seq("lang"), "left")
        .withColumn("arrived_before",
          coalesce(col("base_toks"), lit(0L)) +
            coalesce(sum("n_tok").over(w), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("arrived_before").cast("long").as("arrived_before"),
          (col("arrived_before") < budget).as("admitted"))
        .write.mode("overwrite").parquet(s"$base/out/batch_id=$batchId"),
      () => writeFold(priorQuota
          .map(_.unionByName(batchQuota)
            .groupBy("lang").agg(sum("toks").as("toks")))
          .getOrElse(batchQuota),
        s"$base/store", batchId))
    ()
  }

  /** Streaming curation COMPOSITION (s15): quality → repetition →
    * line-clean vs the accumulated hot-line store → near-dup vs the
    * accumulated gram store (s13's stage) → per-lang token-quota
    * admission (s14's stage), run as ONE micro-batch pipeline over
    * id-ordered arrival slices — the production ingest shape, where
    * batch-boundary bugs compose exactly like d47's stage-order bugs.
    * Three external batch_id-keyed stores carry the cross-batch state
    * (per-line distinct-doc counts, cleaned-doc gram signatures,
    * per-lang consumed tokens), all under s13's idempotency discipline.
    *
    * Every rule is CAUSAL (lower-id = already-arrived), so the composed
    * output is batch-boundary independent and the oracle is one global
    * replay: a line is hot FOR a doc iff ≥ 3 distinct admitted docs
    * with lower ids carry it (the first three keep it — the streaming
    * variant of d52's corpus-wide rule); a doc is a dup iff a lower-id
    * line-CLEANED doc matches at jaccard ≥ 0.3; quota admits while the
    * same-lang CLEANED tokens of lower-id kept docs are under budget
    * (s14's monotonicity argument, unchanged by the upstream filters
    * because they are quota-independent). Plants: s13's re-crawl twins
    * (+3,000,000, the final slice — dup flow vs the store), d52's
    * header/footer + pure-boilerplate docs (line flow incl. emptied),
    * and the budget div picked so quota binds mid-stream per language.
    *
    * At 100 TB: per batch, admission is per-doc map work; the line and
    * quota probes read ONE pre-aggregated fold snapshot each (never a
    * re-aggregation over history — snapshots <= N-2 are retired, so the
    * store footprint is ~2x state); the gram probe is a bucket-pruned,
    * Bloom-prefiltered scan whose shuffle carries candidates, not the
    * corpus — the store is never rescanned pairwise, no engine-internal
    * state. */
  def streamCuration(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      // The gate replays the EVEN-id half of the corpus (r18, verdict
      // #4): s15 was the suite's most expensive query (2x the runner-up)
      // and its cost is a harness replay choice, not operator semantics —
      // every stage, store, plant and outcome class is identical on the
      // half corpus (twin sources are doc_id % 6 = 2, all even, so the
      // re-crawl dup plant survives whole). The oracle applies the same
      // predicate. Production cost models ride the SCALE.md r14-r16
      // ladders, which drove curationBatch at arbitrary corpus scale.
      val docs = graft.operators.Tables.load(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "lang", "source", "text")
      // pure-boilerplate replacement docs (d52's device; twin sources
      // excluded so the dup plant keeps its organic body)
      val base0 = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(101)) === 17 &&
            pmod(col("doc_id"), lit(6)) =!= 2,
          concat(lit("subscribe to the newsletter edition "),
            pmod(col("doc_id"), lit(3)).cast("string"),
            lit(". all rights reserved form "),
            pmod(col("doc_id"), lit(2)).cast("string")))
          .otherwise(col("text")))
      val twins = base0.filter(pmod(col("doc_id"), lit(6)) === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          col("source"),
          concat(col("text"), lit(" is "),
            pmod(col("doc_id"), lit(97)).cast("string")).as("text"))
      val input = graft.operators.PipelineQueries.headerFooter(
        base0.unionByName(twins))
      // provisioning pre-pass (s14's discipline): the budget is sized
      // from raw feed stats, not from anything the pipeline computes
      val budget = input
        .select(size(graft.functions.TextStats.wsTokensCol(col("text")))
          .cast("long").as("__ntok"))
        .agg(expr("sum(__ntok) div 16"))
        .head.getLong(0)
      val base = java.nio.file.Files
        .createTempDirectory("graft-scur-").toString
      try {
        val maxId = docs.agg(max("doc_id")).head.getLong(0)
        require(2 * maxId / 3 + 1 < 3000000L && maxId < 3000000L,
          s"s15 twin offset 3000000 violated: max(doc_id)=$maxId")
        writeIdSlices(spark, input,
          base, Seq(0L, maxId / 3 + 1, 2 * maxId / 3 + 1, 3000000L,
            Long.MaxValue))
        val q = spark.readStream.schema(input.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            curationBatch(base, budget, batch, batchId)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        StreamWait.await(q, 300000)
        val out = spark.read.parquet(s"$base/out").localCheckpoint(true)
        val nBatches = out.agg(countDistinct("batch_id").as("nb"))
          .select((col("nb") === 4).as("batches_ok"))
        out.select(col("doc_id"), col("lang"), col("outcome"))
          .crossJoin(broadcast(nBatches))
      } finally {
        org.apache.hadoop.fs.FileSystem
          .getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(base), true)
      }
    }

  /** One s15 micro-batch: the five composed stages against the three
    * external stores (line/quota FOLD snapshots + the bucketed gram
    * delta store — layout notes above [[ingestDedupBatch]]), every
    * output overwritten into batch_id-keyed dirs and every store read
    * strictly below the current id — idempotent under foreachBatch
    * re-delivery (StreamRetrySpec drives s15 like s13).
    *
    * `storeSegments` > 1 runs the near-dup store probe segment-sharded
    * ([[gramStoreProbeSegmented]]) — identical outcomes (StoreLayoutSpec
    * pins it), S independent 1/S-sized scans instead of one store-sized
    * scan. Dial it up when SCALE.md's cost model says the scan term no
    * longer fits the batch cadence; policy notes sit next to the GC
    * trigger in SCALE.md r16. */
  def curationBatch(base: String, budget: Long, batch0: DataFrame,
      batchId: Long, storeSegments: Int = 1): Unit = {
    val s = batch0.sparkSession
    val batch = batch0.persist()
    // Stage frames are LAZY localCheckpoints rather than persists (r19):
    // same share-the-computation semantics (one storage-backed RDD, all
    // consumers read it), but every downstream plan sees a depth-1
    // LogicalRDD instead of the stitched batch lineage — the s15 profile
    // attributed ~1.2 s/micro-batch to driver-side ANALYSIS of the
    // deep composed trees (the d59 severing precedent, lazy variant: no
    // materialization barrier; the first consuming job computes it).
    // Recompute trade as d59: a lost executor fails the batch instead
    // of recomputing, and the foreachBatch retry replays it (writes are
    // overwrite-keyed/idempotent). Freed by rep-end PinScope sweep /
    // ContextCleaner, not CacheManager.
    // stages 1+2: per-doc admission — d19/d53's proven rule bodies.
    // qualityDocs is kept in its own right (r18): the outcome join
    // needs quality-stage membership again, and recomputing it re-paid
    // the tokenize pass over the batch once per micro-batch.
    val qd = graft.operators.PipelineQueries.qualityDocs(batch)
      .localCheckpoint(false)
    val adm = graft.operators.PipelineQueries.repetitionDocs(qd)
      .localCheckpoint(false)
    // stage 3: causal line-clean — a line is hot FOR a doc iff >= 3
    // distinct lower-id admitted docs carry it (store counts + in-batch
    // rank); all instances of a hot-for-doc line drop, docs with zero
    // kept lines drop entirely
    val lns = graft.operators.PipelineQueries.linesOf(adm)
    // ONE line-keyed aggregation (r19, guide §2.4) replaces the r18
    // distinct + rank-window + count trio — three shuffles over the same
    // key collapsed into one. Per line: the distinct-doc count (the fold
    // contribution) and the 3 SMALLEST distinct doc ids. Only positions
    // 0..2 can ever be KEPT (prior = pc + rn with pc >= 0, so rn >= 3 is
    // hot regardless of the fold), so a (doc, line) instance survives
    // iff it is one of those <= 3 pairs with pc + rn < 3 — the anti-join
    // against the (large) hot set becomes a semi-join against a <= 3-per-
    // line kept set. Skew note: collect_set buffers one line's batch
    // doc ids in memory where the old window sort-spilled; per-batch
    // slicing bounds it, and the r18 window form is the fallback if a
    // viral in-batch line ever breaks that bound.
    val lineAgg = lns.groupBy("line")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(col("line"), size(col("ids")).cast("long").as("cnt"),
        slice(col("ids"), 1, 3).as("first3"))
      .localCheckpoint(false)
    val rn0 = lineAgg.select(col("line"),
        posexplode(col("first3")).as(Seq("rn", "doc_id")))
      .select(col("line"), col("doc_id"), col("rn").cast("long").as("rn"))
    // prior per-line counts: ONE pre-aggregated fold snapshot (never a
    // re-aggregation over all batches), Bloom-shrunk to ~this batch's
    // lines before the probe join so AQE can build-side it
    val priorLinesSized =
      latestFoldSized(s, s"$base/linefold", batchId, lineFoldSchema)
    val priorLines = priorLinesSized.map(_._1)
    // From here on, every store write LAUNCHES the moment its input
    // frame is composed (r19, guide §2.6 via Par.scoped): the linefold
    // write only needs lineAgg + the fold just read, so it executes
    // while the driver is still composing the near-dup/quota/outcome
    // plans below — the s15 profile attributed ~0.7 s/batch to that
    // purely sequential composition. Write set, paths and idempotence
    // are identical to the r18 all-at-once Par.writes.
    val lateFrames = graft.operators.Par.scoped { sc =>
    val batchLineCnt = lineAgg.select(col("line"), col("cnt"))
    sc.launch(() => writeFold(priorLines
        .map(_.unionByName(batchLineCnt)
          .groupBy("line").agg(sum("cnt").as("cnt")))
        .getOrElse(batchLineCnt),
      s"$base/linefold", batchId))
    val rn = priorLinesSized
      .fold(rn0.withColumn("prior", col("rn"))) { case (pf, bytes) =>
        // the Bloom shrink is an I/O reducer for BIG folds; under the
        // adaptive threshold the fold broadcast-joins whole and the
        // Bloom build (an extra Spark job per batch) is skipped
        val pl =
          if (bytes < pruneThreshold(s))
            pf.select(col("line"), col("cnt").as("pc"))
          else {
            val lb = graft.functions.BloomExprs.broadcastBloom(
              s, lineAgg.select(xxhash64(col("line")).as("lh")), "lh",
              1L << 20, 0.01)
            pf.filter(graft.functions.BloomExprs.mightContainCol(
                xxhash64(col("line")), lb))
              .select(col("line"), col("cnt").as("pc"))
          }
        rn0.join(pl, Seq("line"), "left")
          .withColumn("prior", coalesce(col("pc"), lit(0L)) + col("rn"))
      }
    val keptFor = rn.filter(col("prior") < 3).select("doc_id", "line")
    val rebuilt = lns.join(keptFor, Seq("doc_id", "line"), "left_semi")
      .groupBy("doc_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, line))), x -> x.line), ' ')")
        .as("ltext"))
    val ld = adm.select("doc_id", "lang", "source").join(rebuilt, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("ltext").as("text"))
      .withColumn("tk", graft.functions.TextStats.wsTokensCol(col("text")))
      .localCheckpoint(false)
    // stage 4: near-dup vs the gram store + in-batch lower-id, over the
    // CLEANED text (s13's mechanism on the composed stream)
    val bsh = ld.select(col("doc_id"), col("lang"), col("source"),
      graft.functions.TextHashes.shingleHash64Col(
        col("text"), col("tk"), 3, emptyIfShort = true).as("ghs"))
      .localCheckpoint(false)
    val bg = bsh.select(col("doc_id"), col("lang"), col("source"),
      explode(col("ghs")).as("gh"))
    val bn = bsh.select(col("doc_id"), size(col("ghs")).as("ng"))
    def jacTail(pairsNp: DataFrame) = pairsNp
      .join(bn, "doc_id")
      .filter(round(col("inter").cast("double") /
        (col("ng") + col("np") - col("inter")), 3) >= 0.3)
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    // gram write launches before the probe composes (r19): safe because
    // the probe's listing excludes batch_id >= current — see
    // [[readGramStoreSized]] `below` — so a re-delivered batch's
    // overwrite of its own delta dir can't race the probe's read.
    sc.launch(() => writeGramStore(bsh, s"$base/gramstore", batchId))
    val fromStore = gramStoreProbeSegmented(s, s"$base/gramstore", batchId,
      bg, storeSegments).map(jacTail)
    val inBatch = jacTail(
      bg.join(
        bg.select(col("doc_id").as("prior_id"),
          col("lang").as("lang_p"), col("source").as("source_p"),
          col("gh").as("gh_p")),
        col("gh") === col("gh_p") && col("lang") === col("lang_p") &&
          col("source") === col("source_p") &&
          col("prior_id") < col("doc_id"))
        .groupBy("doc_id", "prior_id")
        .agg(count(lit(1)).as("inter"))
        .join(bn.select(col("doc_id").as("prior_id"), col("ng").as("np")),
          "prior_id"))
    // the two candidate sources merge by UNION + re-aggregation instead
    // of the r18 full_outer join (r19, guide §2.4): per-doc sums of
    // disjoint contributions are identical either way, the union's
    // children compute concurrently, and one SMJ leaves the critical
    // path
    val counts = fromStore.fold(inBatch.withColumnRenamed("c", "ct"))(
      st => inBatch.unionByName(st)
        .groupBy("doc_id").agg(sum("c").as("ct")))
    // dupped carries lang + the cleaned token count so the kept/dup/
    // quota consumers below are plain FILTERS of this one persisted
    // frame — the r18 shape re-joined ld twice (a semi-join for kept
    // and the outcome stitch) for columns ld already had (r19)
    val dupped = ld.select(col("doc_id"), col("lang"),
        size(col("tk")).cast("long").as("n_tok"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        coalesce(col("ct"), lit(0L)).as("n_dups_prior"))
      .localCheckpoint(false)
    // stage 5: per-lang quota over the kept docs' CLEANED token counts
    val kept = dupped.filter(col("n_dups_prior") === 0)
      .select("doc_id", "lang", "n_tok")
    // prior per-lang totals: the fold snapshot IS the aggregate
    val priorQuota =
      latestFold(s, s"$base/quotafold", batchId, quotaFoldSchema)
    val prior = priorQuota
      .map(_.select(col("lang"), col("toks").as("base_toks")))
      .getOrElse(s.emptyDataFrame
        .select(lit("").as("lang"), lit(0L).as("base_toks")).limit(0))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val quota = kept.join(broadcast(prior), Seq("lang"), "left")
      .withColumn("arrived_before",
        coalesce(col("base_toks"), lit(0L)) +
          coalesce(sum("n_tok").over(wq), lit(0L)))
      .select(col("doc_id"), col("lang"),
        when(col("arrived_before") < budget, "admitted")
          .otherwise("quota").as("outcome"))
    // first-failure outcome per input doc — as a UNION of the five
    // DISJOINT, exhaustive outcome classes instead of the r18 chain of
    // five sequential left joins (r19, guide §2.4): the stage nesting
    // batch ⊇ qd ⊇ adm ⊇ ld-domain = dup ⊎ kept makes each class a
    // filter or a single anti-join, the branches compute concurrently
    // as union children, and the union itself is shuffle-free. Row set
    // identical: every batch doc lands in exactly one class, with the
    // same first-failure label the join chain's when-cascade produced.
    val outcomes = quota
      .unionByName(dupped.filter(col("n_dups_prior") > 0)
        .select(col("doc_id"), col("lang"), lit("dup").as("outcome")))
      .unionByName(adm.join(dupped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"),
          lit("line_emptied").as("outcome")))
      .unionByName(qd.join(adm, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), lit("repetition").as("outcome")))
      .unionByName(batch.join(qd, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), lit("quality").as("outcome")))
    val batchQuota = kept.groupBy("lang").agg(sum("n_tok").as("toks"))
    sc.launch(() => outcomes.write.mode("overwrite")
      .parquet(s"$base/out/batch_id=$batchId"))
    sc.launch(() => writeFold(priorQuota
        .map(_.unionByName(batchQuota)
          .groupBy("lang").agg(sum("toks").as("toks")))
        .getOrElse(batchQuota),
      s"$base/quotafold", batchId))
    Seq(ld, bsh, dupped)
    } // Par.scoped: join the four writes (first failure, original type)
    (Seq(batch, qd, adm, lineAgg) ++ lateFrames).foreach(_.unpersist())
    ()
  }

  /** Per-user lifetime stats via Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes [[sessionize]]'s
    * flatMapGroupsWithState (typed ValueState/ListState/MapState handles,
    * timers, TTL). State here is one 4-long ValueState per user (count,
    * min/max event time, click count) — it merges across micro-batches,
    * and each batch emits the user's updated running totals; in the
    * gate's one-shot AvailableNow run that single emission equals the
    * batch aggregate the oracle computes. Requires the RocksDB state
    * store provider (the API rejects the HDFS-backed default) — scoped
    * to this query via the conf save/restore, same discipline as
    * [[EventStreams.withStreamConf]]. */
  def transformWithStateStats(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import spark.implicits._
        import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
        val proc = new StatefulProcessor[Long, (Long, Long, String), (Long, Long, Long, Long)] {
          @transient private var st: ValueState[(Long, Long, Long, Long)] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[(Long, Long, Long, Long)]("agg",
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong),
              TTLConfig.NONE)
          override def handleInputRows(key: Long,
              rows: Iterator[(Long, Long, String)],
              timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
            var (n, mn, mx, clicks) =
              if (st.exists()) st.get() else (0L, Long.MaxValue, Long.MinValue, 0L)
            rows.foreach { case (_, tus, typ) =>
              n += 1
              if (tus < mn) mn = tus
              if (tus > mx) mx = tus
              if (typ == "click") clicks += 1
            }
            st.update((n, mn, mx, clicks))
            Iterator.single((key, n, mx - mn, clicks))
          }
        }
        val out = eventsStream(spark, dir)
          .selectExpr("user_id", "unix_micros(ts) AS tus", "event_type")
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .transformWithState(proc, TimeMode.None(), OutputMode.Append())
        val name = s"graft_tws_${counter.incrementAndGet()}"
        val q = out.toDF("user_id", "n_events", "span_us", "n_clicks")
          .writeStream.outputMode("append").format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        StreamWait.await(q, 120000)
        spark.table(name)
      } finally prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None    => spark.conf.unset(provKey)
      }
    }
}
