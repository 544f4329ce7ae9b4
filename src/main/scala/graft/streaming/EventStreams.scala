package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.9/§7.5 stretch): the
  * batch event-time operators re-run as streams, plus a custom
  * stateful operator via mapGroupsWithState.
  *
  * Design: every builder takes a *source* DataFrame, so the identical
  * plan runs batch (read.parquet) or streaming (readStream.parquet) —
  * that equivalence is the correctness check (StreamingSpec runs both
  * with Trigger-less processAllAvailable and compares).
  */
object EventStreams {

  /** Streaming source over the events parquet directory (ns-timestamp
    * handling centralized in EventSource).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventSource.stream(spark, dir)

  /** Tumbling 1-hour counts per event type; with a 1-hour watermark
    * when the source is streaming.
    */
  def tumblingCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start_s"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Sliding 2-hour windows advancing hourly (each event in 2 windows);
    * DECIMAL-exact sum (see EventQueries q_window_sliding for the
    * rounding-boundary trap that forces it).
    */
  def slidingCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(24,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start_s"),
        col("n"), col("sum_value"))
  }

  /** Session windows (30-min inactivity gap) per user. Streaming
    * session aggregation supports update/append only (no Complete);
    * with the whole static source in one micro-batch, update mode
    * emits each final session exactly once.
    */
  def sessionCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start_s"),
        (unix_timestamp(col("w.end")) - 1800).as("session_end_s"),
        col("n_events"), col("sum_value"))
  }

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  final case class TsEvent(user_id: Long, ts: java.sql.Timestamp, ts_ms: Long,
      value: Double)
  final case class SessionState(start_ms: Long, end_ms: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start_s: Long,
      session_end_s: Long, n_events: Long, sum_value: Double)

  /** Hand-rolled session windows via flatMapGroupsWithState +
    * EventTimeTimeout — the custom-stateful-operator construction of
    * what `session_window` does built-in (and the §2.10 surface for
    * arbitrary session semantics built-ins can't express: per-key gap
    * policies, session caps, mid-session emission…).
    *
    * Protocol per group invocation: merge the batch's events into the
    * gap-separated session list held in state; a session whose
    * `end + gap ≤ watermark` can never grow again (later events would
    * be dropped as late), so it is emitted and removed; the rest stay
    * in state with an event-time timeout at the earliest moment the
    * watermark could finalize one. The timeout branch (no new rows)
    * re-runs the same finalize step — that is what flushes everything
    * when a control-stream sentinel advances the watermark.
    */
  def customSessions(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // µs-exact event times (unix_micros = TimestampType's native
    // precision, the same resolution session_window compares gaps at)
    val gapUs = gapMs * 1000L
    // the raw ts column rides along: the watermark tag lives on that
    // attribute, and flatMapGroupsWithState's event-time timeout check
    // requires it to survive into the operator's child projection
    val typed = events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_ms"),
        col("value"))
      .as[TsEvent]

    // state fields hold MICROSECONDS (despite the _ms names of the
    // generic record); the engine's watermark API speaks milliseconds,
    // so conversions happen exactly at that boundary
    def mergeSessions(existing: Seq[SessionState], fresh: Seq[TsEvent]): Seq[SessionState] = {
      val all = (existing ++ fresh.map(e => SessionState(e.ts_ms, e.ts_ms, 1L, e.value)))
        .sortBy(s => (s.start_ms, s.end_ms))
      all.foldLeft(Vector.empty[SessionState]) { (acc, s) =>
        acc.lastOption match {
          case Some(prev) if s.start_ms - prev.end_ms <= gapUs =>
            acc.init :+ SessionState(prev.start_ms, math.max(prev.end_ms, s.end_ms),
              prev.n + s.n, prev.sum + s.sum)
          case _ => acc :+ s
        }
      }
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[TsEvent], state: GroupState[Seq[SessionState]]) =>
          val merged = mergeSessions(state.getOption.getOrElse(Seq.empty), rows.toSeq)
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          // STRICT <: an on-time event at exactly end + gap still merges
          // into the session (mergeSessions and the oracle both use ≤ on
          // the gap), so a session is only closed once the watermark has
          // passed the last instant that could extend it
          val (done, open) = merged.partition(_.end_ms + gapUs < wmUs)
          if (open.nonEmpty) {
            state.update(open)
            // earliest instant the watermark could close an open session
            // (ceil to ms); must be strictly past the current watermark
            val closeMs = (open.map(_.end_ms + gapUs).min + 999L) / 1000L
            state.setTimeoutTimestamp(math.max(wmMs + 1, closeMs))
          } else state.remove()
          done.sortBy(_.start_ms).iterator.map(s => SessionOut(uid,
            s.start_ms / 1000000L, s.end_ms / 1000000L, s.n,
            math.rint(s.sum * 100) / 100))
      }
  }

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp, ts_ms: Long,
      event_id: Long, qv: Long)
  final case class EwmaEntry(ts_ms: Long, event_id: Long, qv: Long)
  final case class EwmaState(n: Long, ring: Seq[EwmaEntry])
  final case class EwmaOut(user_id: Long, n_events: Long, last_ewma_pm: Long)

  /** Per-user dyadic EWMA levels via flatMapGroupsWithState — the
    * streaming twin of batch q_ewma_dyadic, and the canonical shape of
    * a streaming feature store: BOUNDED state per key (the 10-entry
    * ring plus a counter — never the event history), merged
    * incrementally per micro-batch, finalized by event-time timeout
    * once the watermark proves no on-time event can still reorder the
    * ring. Weights are powers of two over 10²-quantized values, so the
    * emitted per-mille level is the exact integer the batch plan (ten
    * lag() columns) computes — one oracle serves both.
    *
    * State fields hold MICROSECONDS (despite the generic _ms names);
    * the watermark API speaks milliseconds — conversions happen only
    * at that boundary, like customSessions.
    */
  def ewmaLevels(events: DataFrame): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_ms"),
        col("event_id"), expr("CAST(floor(value * 100) AS BIGINT)").as("qv"))
      .as[EwmaEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val prev = state.getOption.getOrElse(EwmaState(0L, Vector.empty))
          val fresh = rows.toSeq
          if (fresh.nonEmpty) {
            // merge, keep only the 10 latest (ts, event_id) entries —
            // everything older can never re-enter the window
            val ring = (prev.ring ++
              fresh.map(e => EwmaEntry(e.ts_ms, e.event_id, e.qv)))
              .sortBy(e => (-e.ts_ms, -e.event_id)).take(10)
            state.update(EwmaState(prev.n + fresh.size, ring))
            // finalize once the watermark passes the newest entry (ceil
            // to ms, clamped strictly past the current watermark)
            val closeMs = math.max((ring.head.ts_ms + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L)
            state.setTimeoutTimestamp(closeMs)
            Iterator.empty
          } else {
            // timeout: the ring is final — same weights as the batch
            // plan's lag columns (newest 2⁹ … oldest 2⁰)
            val num = prev.ring.zipWithIndex
              .map { case (e, i) => e.qv * (512L >> i) }.sum
            val den = prev.ring.zipWithIndex.map { case (_, i) => 512L >> i }.sum
            state.remove()
            if (den == 0L) Iterator.empty
            else Iterator.single(EwmaOut(uid, prev.n, num * 1000L / den))
          }
      }
  }

  /** Custom stateful operator: per-user running totals via
    * mapGroupsWithState (KeyValueGroupedDataset) — the §2.10 surface
    * Spark's built-ins don't cover. In batch mode Spark executes the
    * same function with per-group state confined to the batch, so
    * batch output == streaming output after processAllAvailable on a
    * static source.
    */
  def userTotals(events: DataFrame): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val typed = events.select(col("user_id"), col("value")).as[UserEvent]
    typed.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          // state keeps the exact running sum; rounding happens only on
          // emission (rounding state would compound across batches)
          state.update(UserTotals(uid, n, tot))
          UserTotals(uid, n, math.rint(tot * 100) / 100)
      }
  }

  /** Run a streaming DataFrame to completion against a static source
    * and return the materialized result (memory sink).
    *
    * The checkpoint goes to an EPHEMERAL tmpfs directory (/dev/shm
    * when present) and is deleted on stop: a memory sink is not
    * restartable, so its checkpoint has no recovery value — but the
    * engine still fsyncs offset/commit logs and state deltas into it
    * every micro-batch, which on a disk-backed temp dir is a pure
    * per-query tax. A production query with a durable sink sizes a
    * durable checkpoint instead; this harness is explicitly the
    * drain-and-compare path.
    */
  def runToCompletion(df: DataFrame, name: String, outputMode: OutputMode): DataFrame = {
    val ckpt = tempCheckpoint()
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      deleteCheckpoint(ckpt)
    }
    val out = df.sparkSession.table(name)
    // the memory sink's temp view (UUID name, never reused) would
    // otherwise pin its full result array in the driver for the rest
    // of the session — across a 3-pass bench that is 50+ leaked result
    // tables. The returned frame holds its resolved plan, so dropping
    // the NAME after the consumer is done (releaseAll) frees the rows
    // to GC without breaking the in-flight result.
    graft.queries.QueryCaches.defer(() => {
      df.sparkSession.catalog.dropTempView(name)
      // forget the stopped query too: the manager tracks terminated
      // queries (for awaitAnyTermination) until reset, and each one
      // pins its sink
      df.sparkSession.streams.resetTerminated()
    }, s"drop of memory-sink view $name")
    out
  }

  /** State-partition count for graft's streaming queries
    * (`spark.graft.stream.statePartitions`): the knob should track peak
    * state cardinality, not CPU count — size it once per query at first
    * start (it freezes into the checkpoint). An explicit conf always
    * wins; otherwise the default DERIVES from the event volume (the
    * IVF-coarseK precedent: parameters an operator would hand-tune per
    * corpus should scale with the corpus): clamp(eventBytes/1 MiB, 2,
    * cores). At fixture scale that lands on 2 — the measured optimum
    * (8→2 partitions cut the stream-stream left join 4.75→3.32 s
    * median-of-3 at sf0.1; every extra partition costs a store
    * instance + commit per micro-batch, and a pack-wide re-sweep kept
    * 2 ahead of 8 on the 12-query total) — while at the 10× fixture it
    * lands ~15, where the r13 session-window profile showed the scale
    * cost is MERGE PARALLELISM, not store churn: q_stream_session at
    * 10× events measured 21.2 s wall at 2 partitions vs 15.3 s at 8
    * and 11.9 s at 32 (cold single-query runs over a ~13.6 s JVM/plan
    * floor — i.e. the data-dependent cost collapsed 7.6 → ≈0 s as
    * partitions approached cores). RocksDB on the same grid: slower
    * than in-memory at sf0.1 state (column-family open/commit per
    * batch dominates) but FASTER at the 10× state size (13.5 vs
    * 15.3 s at 8 partitions) — the crossover sits near the 10×
    * fixture, so the provider stays an operator-set `--conf` with
    * that data point recorded.
    */
  def statePartitions(s: SparkSession, dir: String = ""): Int = {
    val key = "spark.graft.stream.statePartitions"
    s.conf.getOption(key)
      .map(_.toInt)
      .getOrElse {
        val bytes =
          if (dir.isEmpty) 0L
          else graft.queries.ScaleGate.size(s, key, s"$dir/events.parquet",
            "taking the minimum partition count").getOrElse(0L)
        val cores = s.sparkContext.defaultParallelism
        math.max(2, math.min((bytes >> 20).toInt, cores))
      }
  }

  def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Scope `spark.sql.streaming.noDataMicroBatches.enabled=false`
    * around a drain-to-completion run. After the last data batch the
    * engine normally schedules an extra empty micro-batch so watermark-
    * driven state (outer-join nulls, closing sessions, timeouts) can
    * flush — a per-query constant of one full batch cycle (~0.3 s at
    * fixture scale, measured: 25.7→22.1 s over the 12-query stream
    * pack). Queries whose final rows all emit ON the data batch
    * (inner/semi joins, Complete-mode aggregations, dedup, stream-
    * static) don't need it and skip it with this wrapper. Queries that
    * DO flush on watermark advancement (left-outer join, session
    * windows, flatMapGroupsWithState timeouts) must NOT use it —
    * verified: with the batch disabled those three return 0/33 rows.
    */
  def withoutNoDataBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** The standard drain wrapper for stream queries that emit all rows
    * on the data batch: state partitions pinned + trailing no-data
    * batch skipped. Watermark-flush queries (left-outer, sessions,
    * timeouts) keep [[withStatePartitions]] alone.
    */
  def drainTuned[T](s: SparkSession, dir: String = "")(body: => T): T =
    withoutNoDataBatches(s)(withStatePartitions(s, statePartitions(s, dir))(body))

  /** Drain a parquet file-stream over `pathGlob` — one file per
    * micro-batch, `Trigger.AvailableNow` — through `update`, with the
    * checkpoint on /dev/shm when available and recursively deleted
    * afterwards. ONE recipe for the foreachBatch drains whose
    * per-batch state the caller accretes itself (streamClusterDrain,
    * q_stream_index_delta) — the r13 copy-paste lesson: a fix to the
    * checkpoint hygiene or the shm fallback must not need replicating
    * by hand.
    */
  def drainParquetFiles(s: SparkSession, schema: String, pathGlob: String)(
      update: (DataFrame, Long) => Unit): Unit = {
    val ckpt = tempCheckpoint()
    val q = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(pathGlob)
      .writeStream
      .foreachBatch(update)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try { q.awaitTermination(); () } finally {
      q.stop()
      deleteCheckpoint(ckpt)
      s.streams.resetTerminated()
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A fresh checkpoint directory, on /dev/shm when it is writable. */
  private def tempCheckpoint(): java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_ckpt_")
  }

  /** Recursively deletes a stopped query's checkpoint; a tree that
    * cannot be deleted is left behind with a warning.
    */
  private def deleteCheckpoint(ckpt: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    } catch {
      case NonFatal(e) => log.warn(s"could not delete checkpoint $ckpt ($e)")
    }
}
