package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch operators: the same windowed
  * aggregation and sessionization semantics expressed over `readStream`.
  * Strictly additive to the reference (which is pure batch, SURVEY §2.10) —
  * the point is that the engine's operators carry over to streams unchanged:
  * watermark + window for the hourly rollup, `session_window` for gap
  * sessions, and `flatMapGroupsWithState` for custom state machines.
  */
object StreamOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)
  ))

  /** Hourly tumbling-window counts per event type (streaming q18 twin).
    * Watermark bounds state: late rows beyond 1h are dropped at 100 TB/day
    * rates instead of accumulating unbounded window state. The value sum
    * accumulates in exact decimal and surfaces as double — identical results
    * on any micro-batch arrival order (a raw double sum is order-dependent),
    * which is what lets the batch-equivalence gate (q77) hash-compare this
    * against the batch q18.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based session aggregation using the built-in `session_window`
    * (streaming twin of `Relational.sessionize`). Append-only output (Spark
    * rejects update/complete for session windows): a session is emitted once
    * its window end (last event + gap) falls at or before the watermark, so
    * with `watermark = "0 seconds"` the emitted set over a fully-consumed
    * source is exactly the sessions whose end+gap <= max event time — the
    * deterministic, batch-checkable subset (q92's oracle filters the same
    * way; the held-back tail is the streaming-correctness point, not loss).
    */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state machine via flatMapGroupsWithState: running per-user
    * totals emitted on every update (demonstrates arbitrary stateful
    * processing — the escape hatch when window/session built-ins can't
    * express the semantics).
    *
    * STATE CAVEAT: running totals are inherently forever-state — one entry
    * per distinct key, never evicted (NoTimeout). For unbounded key spaces
    * choose an eviction policy (GroupStateTimeout + state.remove on timeout,
    * accepting total resets) the way hourlyCounts/dedupEvents bound state by
    * watermark.
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Event], state: GroupState[UserTotal]) => {
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          Iterator(next)
        }
      )
      .toDF()
  }

  final case class EventC(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                          event_type: String, cents: Long)
  final case class UserTotalC(user_id: Long, n_events: Long, cents: Long)

  /** [[runningUserTotals]] in EXACT integer cents — the hash-gateable form:
    * long addition is commutative/associative, so per-user totals are
    * independent of arrival order, batch boundaries, and partitioning,
    * where the double-accumulating twin wobbles low bits by arrival order.
    * With a single micro-batch (one input file), Append emits exactly one
    * final row per user — the batch-equivalence gate (q118). Same
    * forever-state caveat as [[runningUserTotals]].
    */
  def runningUserTotalsExact(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[EventC]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[EventC], state: GroupState[UserTotalC]) => {
          val prev = state.getOption.getOrElse(UserTotalC(uid, 0L, 0L))
          var n = prev.n_events
          var cents = prev.cents
          rows.foreach { e => n += 1; cents += e.cents }
          val next = UserTotalC(uid, n, cents)
          state.update(next)
          Iterator(next)
        }
      )
      .toDF()
  }

  final case class UserTypeCount(user_id: Long, event_type: String, n: Long, n_types: Long)

  /** Stateful-v2 processor behind [[typeCountsV2]]: a keyed
    * `transformWithState` machine holding one `MapState[event_type → count]`
    * per user — the arbitrary-state API Spark 4 ships as the successor to
    * `flatMapGroupsWithState` (typed state VARIABLES instead of one opaque
    * state object; the map's per-key point updates land in the state store
    * without rewriting the whole user's state, which is the scale win once
    * per-key state is wide). Emits one row per (user, type touched this
    * batch) carrying the post-batch count and the user's distinct-type
    * cardinality — the latter read straight off the map's key set, state
    * that `GroupState` would have forced into a hand-rolled case class.
    * Count increments are commutative, so emitted totals are independent
    * of arrival order and partitioning — the [[runningUserTotalsExact]]
    * discipline that makes the operator batch-equivalence-gateable.
    */
  private final class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventC, UserTypeCount] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "type_counts", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[EventC], tv: TimerValues): Iterator[UserTypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      val nTypes = counts.keys().size.toLong
      touched.iterator.map(t => UserTypeCount(key, t, counts.getValue(t), nTypes))
    }
  }

  /** Per-user per-event-type running counts via Spark 4's
    * `transformWithState` (stateful v2) — see [[TypeCountProcessor]]. The
    * operator REQUIRES the RocksDB state store provider (the HDFS-backed
    * default refuses stateful v2), so the provider conf is scoped to this
    * call and restored in `finally`; RocksDB is also the right answer at
    * scale — state lives off-heap and spills to disk instead of growing
    * the executor heap with one map per user. With a single micro-batch
    * (the gate's feed) every emitted row is final, so the output equals
    * the batch GROUP BY user_id, event_type twin plus the per-user
    * distinct-type count.
    */
  /** Scope the RocksDB state-store provider (stateful v2 refuses the
    * HDFS-backed default) PLUS its one measured perf knob:
    * `trackTotalNumberOfRows=false`. The tracker maintains the
    * numTotalStateRows METRIC by pairing every state write with a JNI read —
    * measured 2.5× on the q309 index build (5.8–6.9 s → 2.2–2.9 s
    * alternated same-session at sf0.1); results are unaffected, only the
    * metric goes unreported. Changelog checkpointing was A/B'd alongside
    * and moved nothing (one-batch gates upload one snapshot either way).
    * Both confs restored in `finally`.
    */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
      // Changelog checkpointing ON (round-12): the per-batch ledger
      // (tools/StreamBatchLedger) finally showed WHERE commit time goes —
      // rocksdbSaveZipFilesLatencyMs + rocksdbCommitFileSyncLatencyMs are
      // the bulk of every RocksDB gate's state commitTimeMs (q353: zip
      // 1.53 s + sync 1.96 s of 2.26 s; q309: 1.37 + 1.81 of 2.27) — i.e.
      // the cost is the per-batch FULL-SNAPSHOT zip+upload, which
      // changelog checkpointing replaces with an O(delta) append
      // (snapshots then happen every minDeltasForSnapshot=10 commits, so
      // never inside the 2-5-batch gates). Re-A/B'd on ALL 12 RocksDB
      // gates under this evidence (VERDICT r11 #1's condition): q354
      // +12.1%, q304 +6.3%, q303 +5.2%, q359 +2.8%, rest flat within
      // ±3.5% noise, nothing beyond it — net ≈ +0.9 s, and the earlier
      // r8 q303/q306 losses did not reproduce. Also the scale-correct
      // setting: full-snapshot-per-batch upload is O(state size) per
      // microbatch, changelog upload is O(batch delta).
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def typeCountsTransformed(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EventC]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  def typeCountsV2(spark: SparkSession, events: DataFrame): DataFrame =
    withRocksDb(spark) {
      runToMemory(spark, typeCountsTransformed(spark, events), "type_counts_v2")
    }

  /** [[typeCountsV2]] through a RECOVERABLE sink: parquet output + a real
    * checkpoint (the memory sink REFUSES checkpoint recovery — Spark
    * treats it as non-fault-tolerant). A later call pointing at the same
    * (outDir, checkpoint) restores the RocksDB snapshots, the watermark,
    * and the source's processed-file log, and continues from the next
    * unprocessed input — the production restart path, spec-gated by
    * StreamingSpec's RESTART case. Returns the number of data microbatches
    * THIS run executed (a restart that re-processed old files would show
    * more than the newly-landed count).
    */
  def typeCountsV2ToParquet(spark: SparkSession, events: DataFrame,
                            outDir: String, checkpoint: String): Long =
    runToParquet(spark, typeCountsTransformed(spark, events), outDir, checkpoint)

  /** Scale-adaptive STATE-partition scope for a streaming run (round-11).
    * `spark.sql.shuffle.partitions` fixes the number of state-store
    * partitions — and so RocksDB instances opened/committed per microbatch —
    * at the first batch of a fresh checkpoint; the session-wide value is
    * sized for batch shuffles, not for state-store count. For operators
    * that hold SEVERAL stores per partition (a stream-stream join keeps 4:
    * keyToNumValues/keyWithIndexToValue × both sides), per-store fixed cost
    * (JNI open, snapshot upload, commit) dominates KB-sized batches:
    * QueryLedger measured ~0.5 s of executor time per state task over ~2 MB
    * of total input, and an 8→2 A/B cut the three stream-join gates 3.6→3.0 s
    * and the two restart gates by ~0.4 s each, while single-store
    * transformWithState gates were flat-to-worse (left alone) and q309's
    * CPU-bound LSH index build regressed (left alone).
    *
    * The partition count derives from the INPUT's byte size — floor 2
    * (a single partition serializes the join's stores: measured worse),
    * ceiling the session's `spark.sql.shuffle.partitions` — so on a real
    * cluster against a real stream the clamp leaves the cluster-sized
    * session value in charge; only provably tiny inputs narrow. Knob:
    * `spark.graft.stream.bytesPerStatePartition` (default 4 MB). Restart
    * safety: Spark recovers the shuffle-partition count from the
    * checkpoint's offset metadata, and both runs of a restart gate compute
    * the same value from the same source file anyway. Results are
    * partition-count-independent (set-semantics outputs, final orderBy).
    */
  def withStateParts[T](spark: SparkSession, inputBytes: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.sessionState.conf.numShufflePartitions
    val per = math.max(1L,
      spark.conf.get("spark.graft.stream.bytesPerStatePartition",
        (4L << 20).toString).toLong)
    val n = math.max(math.min(2L, session.toLong),
      math.min(session.toLong, inputBytes / per + 1L)).toInt
    if (n >= session) body
    else {
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }
  }

  /** Drive any streaming DataFrame through the RECOVERABLE sink shape:
    * parquet output + a real checkpoint, RocksDB provider scoped. The
    * restart contract is the sink's `_spark_metadata` commit log (batch
    * reads of `outDir` see only committed files — exactly-once across a
    * restart) plus the checkpoint (state snapshots, watermark,
    * processed-file log). Returns the number of DATA microbatches THIS run
    * executed — a restarted run that re-processed old input would show
    * more than the newly-landed count, which is what the restart gates
    * assert on.
    */
  def runToParquet(spark: SparkSession, stream: DataFrame,
                   outDir: String, checkpoint: String): Long =
    withRocksDb(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val n = countDataBatches(q)
      lastRunBatches = n
      n
    }

  /** Incremental batch ingest: drain everything available NOW through the
    * checkpointed pipeline, then terminate — `Trigger.AvailableNow`, the
    * API that turns a streaming definition into a rerunnable nightly
    * batch job. Unlike [[runToParquet]] (processAllAvailable = test
    * harness polling), AvailableNow snapshots the file listing at start
    * and the query STOPS ITSELF when the snapshot is drained — the shape
    * a scheduler invokes per ingest cycle at 100 TB: each invocation
    * processes exactly the files that arrived since the last one (the
    * checkpointed file index carries the high-water mark), appends
    * exactly-once through the sink's `_spark_metadata` commit log, and
    * respects `maxFilesPerTrigger` within the run so one giant backlog
    * does not become one giant microbatch. Returns the number of DATA
    * microbatches (0 = nothing new had arrived — the idempotent no-op).
    */
  def availableNowToParquet(spark: SparkSession, stream: DataFrame,
                            outDir: String, checkpoint: String): Long = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() // AvailableNow self-terminates at the snapshot
    finally q.stop()
    val n = countDataBatches(q)
    lastRunBatches = n
    n
  }

  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class SessionRow(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Stateful-v2 sessionizer behind [[sessionsV2]]: gap sessions built with
    * EVENT-TIME TIMERS — the v2 feature `flatMapGroupsWithState` never had
    * (its timeouts were per-GROUP and one-shot; v2 timers are first-class,
    * per-key, many-at-once, fired by the watermark). In-batch rows are
    * buffered and sorted by (ts, event_id) — per-user-per-batch bounded,
    * the same bound [[sessionCounts]]'s engine-side sort carries — then
    * folded left to right: a row at strictly less than `last + gap` merges
    * (the `session_window` [start, end+gap) convention), otherwise the
    * previous session CLOSES and emits immediately. The still-open tail
    * session is parked in ValueState with a timer at `last + gap`; when the
    * watermark passes it, [[handleExpiredTimer]] emits it and clears the
    * state — the watermark-driven flush that makes streaming sessions
    * eventually COMPLETE, not just eventually consistent. Emitted rows are
    * a pure function of the input multiset: in-batch closes depend only on
    * per-user event times, timer flushes only on the end-of-input
    * watermark — the q92/q300 deterministic-subset contract.
    */
  /** Exact epoch microseconds of a Timestamp — `getTime` alone is
    * millisecond-truncated; the sub-millisecond digits live in `getNanos`
    * (which carries the FULL fractional second, so the ms part of getTime
    * must be floored away first). The gate's oracles compare on
    * `epoch_us`, so dropping micros here would wobble session boundaries.
    */
  private def tsUs(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private final class TimerSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventC, SessionRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var open: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession](
        "open", org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)
    private def timerMsOf(s: OpenSession): Long = s.lastUs / 1000L + gapMs
    override def handleInputRows(
        key: Long, rows: Iterator[EventC], tv: TimerValues): Iterator[SessionRow] = {
      val gapUs = gapMs * 1000L
      val sorted = rows.toArray.sortBy(e => (tsUs(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
      var cur = if (open.exists()) open.get() else null
      if (cur != null) getHandle.deleteTimer(timerMsOf(cur))
      sorted.foreach { e =>
        val us = tsUs(e.ts)
        if (cur == null) cur = OpenSession(us, us, 1L)
        // min/max, not (startUs, us): a later BATCH can deliver an event
        // older than the parked session's start (the engine only filters
        // below the watermark) — taking `us` as the new end would corrupt
        // both boundaries of the emitted session
        else if (us < cur.lastUs + gapUs)
          cur = OpenSession(math.min(cur.startUs, us), math.max(cur.lastUs, us), cur.n + 1L)
        else {
          out += SessionRow(key, cur.startUs, cur.lastUs, cur.n)
          cur = OpenSession(us, us, 1L)
        }
      }
      open.update(cur)
      getHandle.registerTimer(timerMsOf(cur))
      out.iterator
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[SessionRow] = {
      val cur = if (open.exists()) open.get() else null
      // a stale timer can outlive its session only if the delete above was
      // skipped (no state) — emit iff the parked session IS this timer's
      if (cur != null && timerMsOf(cur) == info.getExpiryTimeInMs) {
        open.clear()
        Iterator(SessionRow(key, cur.startUs, cur.lastUs, cur.n))
      } else Iterator.empty
    }
  }

  /** Gap sessions via Spark 4's `transformWithState` with EVENT-TIME timers
    * (TimeMode.EventTime) — see [[TimerSessionProcessor]]. Requires the
    * RocksDB provider (scoped + restored) and a watermark on the input so
    * the engine has an event-time clock to fire timers against. Output:
    * one row per closed session (user_id, start_us, end_us, n_events) in
    * integer microseconds; sessions whose `end + gap` the end-of-input
    * watermark never passed stay parked — the deterministic held-back
    * tail the gate's oracle filters identically.
    */
  def sessionsV2(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "0 seconds"): DataFrame =
    withRocksDb(spark) {
      runToMemory(spark, sessionsV2Stream(spark, events, gapMinutes, watermark),
        "sessions_v2")
    }

  /** [[sessionsV2]]'s UNSTARTED streaming plan — for runners that need a
    * different sink (the restart gates drive it through [[runToParquet]],
    * whose checkpoint restores the parked open-session ValueState and its
    * event-time timer across a query restart).
    */
  def sessionsV2Stream(spark: SparkSession, events: DataFrame,
                       gapMinutes: Int = 30,
                       watermark: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EventC]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  final case class RankedEvent(user_id: Long, rank: Long, event_id: Long,
                               event_type: String, cents: Long,
                               n_seen: Long) // rows seen so far by this key — monotone

  /** Stateful-v2 first-k events per user behind [[firstKV2]]: a
    * `ListState[EventC]` holding each user's k earliest events by
    * (ts, event_id) — the typed-list state variable v2 adds over
    * `GroupState`'s single opaque object (point appends via `appendValue`,
    * whole-list replace via `put`, no hand-rolled container case class).
    * Keeping the k SMALLEST under a total order is a commutative,
    * idempotent fold — independent of arrival order, batch boundaries and
    * partitioning, the [[runningUserTotalsExact]] discipline — so the
    * final list always equals the batch `ROW_NUMBER() ≤ k` twin.
    */
  private final class FirstKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventC, RankedEvent] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var firstK: ListState[EventC] = _
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      firstK = getHandle.getListState[EventC](
        "first_k", org.apache.spark.sql.Encoders.product[EventC], TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[EventC], tv: TimerValues): Iterator[RankedEvent] = {
      var nSeen = if (seen.exists()) seen.get() else 0L
      val batch = rows.toArray
      nSeen += batch.length
      seen.update(nSeen)
      val merged = (firstK.get().toArray ++ batch)
        .sortBy(e => (tsUs(e.ts), e.event_id)).take(k)
      firstK.put(merged)
      // n_seen stamps every emission with the key's MONOTONE row count, so
      // a multi-batch consumer selects the final ranked list as the
      // max-n_seen emission (the per-batch lists are true prefixes of the
      // fold, not the final answer)
      merged.iterator.zipWithIndex.map { case (e, i) =>
        RankedEvent(key, i + 1L, e.event_id, e.event_type, e.cents, nSeen)
      }
    }
  }

  /** First k events per user via `transformWithState` + `ListState` — see
    * [[FirstKProcessor]]. RocksDB provider scoped + restored. With the
    * gate's single-batch feed each user emits exactly one final ranked
    * list, equal to the batch window `ROW_NUMBER() OVER (PARTITION BY user
    * ORDER BY ts, event_id) ≤ k`.
    */
  def firstKV2(spark: SparkSession, events: DataFrame, k: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    withRocksDb(spark) {
      val out = events
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[EventC]
        .groupByKey(_.user_id)
        .transformWithState(new FirstKProcessor(k), TimeMode.None(), OutputMode.Append())
        .toDF()
      runToMemory(spark, out, "first_k_v2")
    }
  }

  final case class BalanceSnapshot(user_id: Long, start_cents: Long)
  final case class BalanceOut(user_id: Long, start_cents: Long, end_cents: Long,
                              n_purchases: Long) // n_purchases is CUMULATIVE (monotone per key)

  /** Stateful-v2 warm start behind [[balancesV2]]: a
    * `StatefulProcessorWithInitialState` whose state is SEEDED from a batch
    * snapshot before the first stream batch — the migration shape every
    * production stateful job eventually needs (start the streaming fold
    * from yesterday's table, not from zero) that `flatMapGroupsWithState`
    * could only fake by unioning the snapshot into the stream with a
    * sentinel. Two ValueStates per key (the immutable snapshot balance and
    * the running balance) show state VARIABLES doing what one opaque
    * GroupState object used to: independent lifecycle per variable.
    * Increment folding is commutative long addition — emitted balances are
    * independent of arrival order, batch boundaries, partitioning (the
    * [[runningUserTotalsExact]] discipline).
    */
  private final class WarmBalanceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, EventC, BalanceOut, BalanceSnapshot] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var start: ValueState[Long] = _
    @transient private var balance: ValueState[Long] = _
    @transient private var nTotal: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      start = getHandle.getValueState[Long](
        "start", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      balance = getHandle.getValueState[Long](
        "balance", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      nTotal = getHandle.getValueState[Long](
        "n_total", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInitialState(
        key: Long, snap: BalanceSnapshot, tv: TimerValues): Unit = {
      start.update(snap.start_cents)
      balance.update(snap.start_cents)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[EventC], tv: TimerValues): Iterator[BalanceOut] = {
      var bal = if (balance.exists()) balance.get() else 0L
      // n_purchases is the RUNNING total, not this batch's count: monotone
      // per key, so a multi-batch consumer reads the final state as the
      // max-n emission (single-batch output is unchanged — cumulative and
      // per-batch coincide)
      var n = if (nTotal.exists()) nTotal.get() else 0L
      rows.foreach { e => bal += e.cents; n += 1L }
      balance.update(bal)
      nTotal.update(n)
      Iterator(BalanceOut(key, if (start.exists()) start.get() else 0L, bal, n))
    }
  }

  /** Purchase-stream balances warm-started from a batch snapshot via
    * `transformWithState` with INITIAL STATE — see [[WarmBalanceProcessor]].
    * `snapshot` is (user_id, start_cents); the stream folds purchase cents
    * on top. Users absent from the snapshot start at 0; snapshot users with
    * no stream rows never emit (the oracle filters identically). RocksDB
    * provider scoped + restored.
    */
  def balancesV2(spark: SparkSession, events: DataFrame,
                 snapshot: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    withRocksDb(spark) {
      val init = snapshot
        .select(col(snapshot.columns(0)).cast("long").as("user_id"),
          col(snapshot.columns(1)).cast("long").as("start_cents"))
        .as[BalanceSnapshot]
        .groupByKey(_.user_id)
      val out = events
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[EventC]
        .groupByKey(_.user_id)
        .transformWithState(new WarmBalanceProcessor,
          TimeMode.None(), OutputMode.Append(), init)
      runToMemory(spark, out.toDF(), "balances_v2")
    }
  }

  final case class BandDoc(band: Int, bhash: Long, id: Long, fsig: Long, sz: Int)

  /** Probe-broadcast cell bound for [[expandBucketPairsRaw]], derived
    * from the JVM heap instead of the r8 fixed 4M constant (round-9 task
    * 3a — the documented knob, made self-tuning; round-10 hoisted the
    * formula and its derivation into [[graft.util.HeapBounds]]). On the
    * 1g default test heap this derives ~1M cells (stricter than the old
    * constant, same regime for every gated feed: sf0.1 is ≈0.08M); on
    * the 64g ladder heap it derives the 32M cap, keeping the 100× rung
    * (≈8M cells, past the old constant) in the skew-immune broadcast
    * form. `graft.expand.cellBound` (sys prop, for in-process specs) /
    * `GRAFT_EXPAND_CELL_BOUND` (env, for the ladder) override for
    * regime-pinned measurement — the ladder measures BOTH forms at 100×,
    * and a spec pins the SMJ form's one-exchange property.
    */
  private[graft] def broadcastCellBound: Long =
    graft.util.HeapBounds.broadcastRowBound(
      "graft.expand.cellBound", env = Some("GRAFT_EXPAND_CELL_BOUND"))
  final case class BucketMember(id: Long, fsig: Long, sz: Int)
  final case class BucketRow(band: Int, bhash: Long,
                             members: Array[Long], fsigs: Array[Long],
                             szs: Array[Int])

  /** Stateful-v2 LSH index maintainer behind [[streamingNearDupCandidates]]:
    * keyed by (band, band-hash), a `ListState[Long]` accumulates every doc
    * id the bucket has ever seen, and each batch that touches a bucket
    * emits ONE row with the bucket's post-batch membership. Emitting the
    * compact index instead of per-bucket pairs is the load-bearing choice:
    * a near-dup FAMILY (sf0.1 carries one ~2k docs wide) puts C(n,2) pairs
    * in each of its buckets — 26.7M emissions measured at sf0.1, which
    * OOMs a default-heap local run when pushed through the streaming sink —
    * while its index rows total Σ|bucket| = docs × bands (80k cells). Pair
    * expansion then happens batch-side as a spillable self-join, exactly
    * where the batch cascade pays the same cost. The membership multiset is
    * a pure function of the input (bucket assignment ignores order); the
    * single-batch gate feed makes the emitted row the bucket's final state.
    */
  private final class BucketIndexProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandDoc, BucketRow] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
    @transient private var members: ListState[BucketMember] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BucketMember](
        "members", org.apache.spark.sql.Encoders.product[BucketMember], TTLConfig.NONE)
    override def handleInputRows(
        key: (Int, Long), rows: Iterator[BandDoc], tv: TimerValues): Iterator[BucketRow] = {
      rows.foreach(r => members.appendValue(BucketMember(r.id, r.fsig, r.sz)))
      val sorted = members.get().toArray.sortBy(_.id)
      Iterator(BucketRow(key._1, key._2,
        sorted.map(_.id), sorted.map(_.fsig), sorted.map(_.sz)))
    }
  }

  /** Streaming LSH near-dup CANDIDATE pairs: minhash-sign each arriving
    * document (the same native one-pass `graft_minhash` expression as the
    * batch cascade), explode its bands, maintain the (band, band-hash)
    * bucket index incrementally in [[BucketIndexProcessor]] — "index while
    * crawling": a new document pays only its own bands' bucket updates,
    * never a corpus rescan — then expand colliding pairs from the emitted
    * index with a batch self-join (spillable; the in-stream pair form
    * OOM'd on clique-shaped corpora, see the processor doc). Output is the
    * DISTINCT band-collision pair set, identical to the batch
    * `minHashCandidates`; like it, callers must exact-verify pairs (at
    * the recall-1.0 band config the verified output equals exact all-pairs
    * Jaccard — the q24/q85 gate device). RocksDB provider scoped +
    * restored.
    */
  def streamingNearDupIndex(spark: SparkSession, docs: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int = 96, bands: Int = 16,
                            seed: Long = 42L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    graft.functions.GraftFunctions.register(spark)
    val rowsPerBand = numHashes / bands
    withRocksDb(spark) {
      val banded = docs
        .select(col(idCol).cast("long").as("id"),
          array_distinct(graft.ops.TextAnalysis.tokens(col(textCol))).as("toks"))
        .select(col("id"), size(col("toks")).as("sz"),
          graft.ops.Dedup.minHashSignature(col("toks"), numHashes, seed).as("sig"))
        .select(col("id"), col("sz"), xxhash64(col("sig")).as("fsig"), explode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(b.cast("int").as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bhash"))))
          .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bhash").as("bhash"),
          col("id"), col("fsig"), col("sz"))
        .as[BandDoc]
      val buckets = banded.groupByKey(r => (r.band, r.bhash))
        .transformWithState(new BucketIndexProcessor, TimeMode.None(), OutputMode.Append())
      runToMemory(spark, buckets.toDF(), "stream_neardup_index")
    }
  }

  /** Pair expansion over the emitted bucket index. Three measured devices:
    *
    * 1. **Identical-full-signature pairs expand from band 0 only** (the
    *    batch cascade's fsig rule, `Dedup.minHashCandidatesRaw`): an
    *    exact-duplicate clique has ONE minhash signature, so it collides in
    *    every band and would otherwise be expanded `bands`× over — at sf0.1
    *    that rule alone cuts raw collision volume 27.5M → a few M. fsig
    *    rides the index (a parallel array in each bucket row, ~8 B/cell in
    *    RocksDB state); recall is unchanged because equal signatures
    *    ALWAYS collide in band 0.
    * 2. **Join-form expansion, not a per-row tail-explode** (measured 2.4×
    *    slower end-to-end despite being join-free): one wide clique's
    *    C(n,2) output all descends from ONE bucket row, and a generator
    *    chain pins that expansion to a single task.
    * 3. **The probe side is broadcast while the MEASURED cell count allows
    *    it**: a shuffled sort-merge join serializes each bucket's C(n,2)
    *    expansion into the one task that owns its key — AQE's skew split
    *    can't help, because skew detection reads shuffle-file INPUT sizes
    *    and a 2k-member clique is only 2k tiny input rows; the quadratic
    *    blowup is on the OUTPUT side the planner never sees. With a
    *    broadcast probe, expansion parallelism is the build side's
    *    partition count, independent of key skew. The bound is DERIVED
    *    from the JVM heap ([[broadcastCellBound]], round-9): the r8 4M
    *    constant was calibrated on a small test heap and forced the 100×
    *    ladder rung (≈8M cells on a 64g heap, a ~1 GB relation) into
    *    sort-merge form a decade before memory actually ran out.
    * 4. **Past the bound, the self-join adds NO exchange at all** (round-9):
    *    the latest-emission collapse groupBy already hash-partitions on
    *    (band, bhash) — the join keys — and explode + rename preserve that
    *    partitioning on both sides, so ReuseExchange/AQE stage reuse
    *    executes the one collapse shuffle a single time and the SMJ sorts
    *    in place. The r8 ladder's 4.76×-shuffle-for-3.33×-data slope was
    *    the broadcast-regime coalesce leaking into this regime, destroying
    *    the partitioning and re-shuffling the exploded table on BOTH join
    *    sides. A spec pins the no-new-exchange property.
    *
    * In the broadcast regime a SMALL-HEAP-ONLY coalesce bounds concurrent
    * sorter-page pressure (32 tasks × 32 MB sort pages OOM'd a default 1g
    * heap once under RocksDB's pinned JNI criticals); on a ≥4 GiB heap it
    * is skipped — the 8-task pinch measured 70 GB of distinct-sort spill
    * at the 100× rung (SURVEY.md §8.10 #7, commit 5a837d0). Both join
    * sides descend from the same memory-table view, so qualified aliases
    * stay ambiguous
    * (identical attribute ids) — hence the toDF rename.
    */
  def expandBucketPairs(index: DataFrame): DataFrame =
    expandBucketPairsRaw(index, sizeRatio = None).distinct()

  /** Raw (possibly duplicated) collision pairs from the index, with an
    * OPTIONAL inline size-ratio prefilter: when `sizeRatio = Some(t)` the
    * join condition also requires min(sz)/max(sz) ≥ t, which is implied by
    * jaccard ≥ t — so for a verify-bound consumer it drops no true pair
    * but kills most false collisions BEFORE they reach any shuffle
    * (~69% at sf0.1, the same ratio the batch verify measures). The
    * member's token-set size rides the index as a third parallel array.
    */
  private[graft] def expandBucketPairsRaw(
      rawIndex: DataFrame, sizeRatio: Option[Double]): DataFrame = {
    // LATEST emission per bucket: under a multi-batch feed a bucket touched
    // in b batches emits b membership rows, each a strict superset of the
    // last (the processor appends, never removes) — expanding them all
    // would re-derive every earlier pair O(batches²) times. Memberships
    // strictly grow per touch, so max-by-size IS the final state; under the
    // single-batch feed this collapse is a no-op (one row per bucket).
    val index = rawIndex
      .groupBy(col("band"), col("bhash"))
      .agg(max_by(struct(col("members"), col("fsigs"), col("szs")),
        size(col("members"))).as("x"))
      .select(col("band"), col("bhash"),
        col("x.members").as("members"), col("x.fsigs").as("fsigs"),
        col("x.szs").as("szs"))
    val mBase = index
      .select(col("band"), col("bhash"),
        explode(arrays_zip(col("members"), col("fsigs"), col("szs"))).as("mf"))
      .select(col("band"), col("bhash"), col("mf.members").as("id"),
        col("mf.fsigs").as("fsig"), col("mf.szs").as("sz"))
    // coalesce: sum() over an EMPTY index is NULL, and an empty stream is a
    // legitimate input — getLong on the bare sum would NPE instead of
    // producing the empty pair set
    val cells = index
      .select(coalesce(sum(size(col("members"))), lit(0L))).first.getLong(0)
    val broadcastRegime = cells <= broadcastCellBound
    // Past the broadcast bound: ZERO new exchanges (doc device 4). The
    // index-collapse groupBy above already hash-partitioned the data on
    // (band, bhash) — exactly the join keys — and both Generate (explode)
    // and the rename projection preserve that partitioning, so
    // EnsureRequirements inserts no exchange at the join and exchange
    // reuse executes the one collapse shuffle a single time for both
    // sides. The r8 ladder's 4.76× shuffle slope was the coalesce below
    // DESTROYING this partitioning, which re-shuffled the exploded table
    // on both join sides; the coalesce (a broadcast-regime sorter-pressure
    // bound) buys nothing here, where the join itself sorts by key.
    // The broadcast-regime coalesce exists ONLY to bound concurrent
    // sorter-page pressure on small heaps (32 tasks × 32 MB pages OOM'd a
    // 1g heap under RocksDB's pinned JNI criticals) — so gate it on the
    // heap instead of applying it always: at the 100× rung the 8-task
    // pinch made each task distinct-sort ~700 MB of raw pairs and spill
    // 70 GB (SURVEY.md §8.10 #7); on a ≥4 GiB heap the natural 32-way
    // collapse partitioning spreads the same sort 4× wider, spill-free.
    val m =
      if (!broadcastRegime) mBase
      else if (Runtime.getRuntime.maxMemory() < 4L * 1024 * 1024 * 1024)
        mBase.coalesce(8)
      else
        // Round-12 (guide §2.5, QueryLedger evidence): pin the expansion
        // width. The collapse shuffle's BYTES are tiny (~2.4 MB at sf0.1),
        // so AQE coalesced its read to 2 partitions — but this stage's cost
        // is the quadratic pair OUTPUT, which AQE never sees (skew/coalesce
        // decisions read shuffle-file INPUT sizes; the blowup is on the
        // output side) — and the whole expansion ran on 2 tasks: 4.6 s of
        // CPU in a 6.5 s query. An EXPLICIT partition count is
        // AQE-coalesce-exempt (the Par.spread device); hashing on
        // (band, bhash, id) spreads a clique's member rows — and so its
        // C(n,2) expansion — across partitions instead of parking each hot
        // bucket on one task. Broadcast-regime only: the SMJ branch's
        // no-new-exchange property (device 4, spec-pinned) is untouched.
        mBase.repartition(
          mBase.sparkSession.sessionState.conf.numShufflePartitions,
          col("band"), col("bhash"), col("id"))
    val m2 = m.toDF("band2", "bhash2", "id2", "fsig2", "sz2")
    val probe = if (broadcastRegime) broadcast(m2) else m2
    val base = col("band") === col("band2") && col("bhash") === col("bhash2") &&
      col("id") < col("id2") &&
      (col("fsig") =!= col("fsig2") || col("band") === 0)
    val cond = sizeRatio match {
      case Some(t) => base &&
        ((col("sz") === 0 && col("sz2") === 0) ||
          least(col("sz"), col("sz2")).cast("double") /
            greatest(col("sz"), col("sz2")).cast("double") >= t)
      case None => base
    }
    m.join(probe, cond).select(col("id").as("id_a"), col("id2").as("id_b"))
  }

  def streamingNearDupCandidates(spark: SparkSession, docs: DataFrame,
                                 idCol: String, textCol: String,
                                 numHashes: Int = 96, bands: Int = 16,
                                 seed: Long = 42L): DataFrame =
    expandBucketPairs(
      streamingNearDupIndex(spark, docs, idCol, textCol, numHashes, bands, seed))

  /** End-to-end "dedupe while crawling": streaming bucket index → inline
    * size-prefiltered raw pair expansion → exact-Jaccard verify. The fusion
    * skips the candidate-set distinct entirely (the verify's shuffle arm
    * dedups internally, so materializing a distinct pair set first would
    * pay the same shuffle twice) and the inline size filter means the
    * distinct that DOES run sees only ratio-surviving pairs. At the
    * recall-1.0 band config the output equals exact all-pairs Jaccard ≥
    * threshold — the q24/q85 gate device.
    */
  def streamingVerifiedNearDups(spark: SparkSession, docs: DataFrame,
                                verifyDocs: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double,
                                numHashes: Int = 96, bands: Int = 16,
                                seed: Long = 42L): DataFrame = {
    val index = streamingNearDupIndex(spark, docs, idCol, textCol, numHashes, bands, seed)
    val raw = expandBucketPairsRaw(index, sizeRatio = Some(threshold))
    // verify-side token sets come from the BATCH document store (`docs` is
    // a stream and can't be re-scanned); in a crawl this is the same
    // landed corpus the stream indexed
    val ws = graft.ops.Dedup.hashedWordSets(verifyDocs, idCol, textCol).localCheckpoint()
    graft.ops.Dedup.verifyCandidatePairs(raw, ws, threshold, broadcastAttach = false)
  }

  final case class CdcChange(key: Long, name: String, cents: Long, version: Long, op: String)

  /** Streaming CDC latest-state store: a keyed `flatMapGroupsWithState`
    * machine that keeps the MAX-version change per key and emits the
    * post-batch latest row — the stream-side half of
    * [[graft.ops.Relational.applyCdc]]'s latest-wins fold. Max-version
    * selection is commutative/associative/idempotent, so the state is
    * independent of arrival order, batch boundaries, and partitioning —
    * the same order-free-aggregation discipline as
    * [[runningUserTotalsExact]], which is exactly what makes a streaming
    * operator batch-equivalence-GATEABLE (q137 folds the emitted latest
    * rows into the base snapshot and must match q134's batch oracle).
    * Versions must be unique per key (ties would make latest-wins
    * nondeterministic in any execution model). State is one row per key,
    * forever — real deployments add a TTL/timeout; the gate's feed is
    * bounded.
    */
  def cdcLatest(spark: SparkSession, changes: DataFrame): DataFrame = {
    import spark.implicits._
    changes.as[CdcChange]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[CdcChange], state: GroupState[CdcChange]) => {
          var cur = state.getOption.orNull
          rows.foreach { r => if (cur == null || r.version > cur.version) cur = r }
          state.update(cur)
          Iterator(cur)
        })
      .toDF()
  }

  /** Streaming twin of the Bronze→Silver entregas ingest (SURVEY §2.10):
    * `readStream.csv` with the fixed schema → the SAME typed/enrich/quality
    * expressions as the batch pipeline → `foreachBatch` splitting each
    * micro-batch into clean/quarantine partitioned sinks. Demonstrates that
    * the config-compiled rule engine is execution-model agnostic.
    */
  def entregasIngest(
      spark: SparkSession,
      cfg: graft.config.EtlConfig,
      csvDir: String,
      outRoot: String,
      checkpoint: Option[String] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(graft.etl.Schemas.csvSchema)
      .option("header", "true")
      .csv(csvDir)
    val enriched = graft.etl.Silver.enriched(
      graft.etl.Silver.renamed(graft.etl.Bronze.typed(raw)), cfg, csvDir)
    // without a durable checkpoint a restart re-ingests every file and
    // appends duplicates — default it next to the output so restarts resume.
    val writer = enriched.writeStream
      .option("checkpointLocation", checkpoint.getOrElse(s"$outRoot/_checkpoint"))
      .outputMode("append")
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a replayed batch must OVERWRITE its
        // own previous (possibly partial) output, not append a duplicate —
        // partition by the batch id and dynamic-overwrite exactly it.
        val b = batch.persist()
        try {
          graft.etl.Silver.clean(b)
            .withColumn("_batch_id", org.apache.spark.sql.functions.lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", "fec_proceso").parquet(s"$outRoot/depurado")
          // quarantine: batch-id partition only (a date partition dir would
          // come back DATE-typed via inference, breaking all-STRING)
          graft.etl.Silver.quarantine(b)
            .withColumn("_batch_id", org.apache.spark.sql.functions.lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id").parquet(s"$outRoot/obs")
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** Stream-static enrichment join: each micro-batch of events joins the
    * (broadcastable) static dimension — no state, no watermark needed. The
    * static side's file LISTING is snapshotted when the DataFrame is created:
    * contents of those files are re-scanned per batch, but files added to the
    * directory later are NOT picked up — re-create the dimension frame (or
    * use a Delta-like source) for slowly-changing dims.
    *
    * The static key column is dropped from the output so callers may pass
    * identically-named keys without creating an ambiguous duplicate column.
    */
  def enrichWithStatic(
      events: DataFrame,
      static: DataFrame,
      eventKey: String,
      staticKey: String
  ): DataFrame =
    events
      .join(broadcast(static), events(eventKey) === static(staticKey), "left")
      .drop(static(staticKey))

  /** Stream-stream join: match events from two streams on a key within
    * a bounded event-time skew. Both sides are watermarked so the join state
    * is bounded — without the time-range condition the state would grow
    * forever. The classic use: joining impressions to clicks.
    *
    * `joinType = "left_outer"` is the attribution-completeness form: a left
    * row with no match inside its skew window is emitted ONCE with nulls
    * when the watermark passes the end of its match window (leftTs + skew)
    * and its state is evicted — the "which impressions never converted"
    * stream. Matched rows emit immediately in both modes; the held-back
    * tail (left rows whose window the watermark has not yet closed at
    * end-of-input) is the same deterministic-subset contract as
    * [[sessionCounts]]: the gate's oracle filters identically on
    * integer-microsecond event time.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      skew: String = "10 minutes",
      watermark: String = "1 hour",
      joinType: String = "inner"
  ): DataFrame = {
    // de-collide right-side column names that the left also has (key and,
    // with default args, ts) — duplicate names would make the output
    // unselectable and unwritable
    val rTs = if (rightTs == leftTs) rightTs + "_r" else rightTs
    val rSafe0 = if (rightTs == leftTs) right.withColumnRenamed(rightTs, rTs) else right
    val rKey = key + "_r"
    val rSafe = rSafe0.withColumnRenamed(key, rKey)
    val l = left.withWatermark(leftTs, watermark)
    val r = rSafe.withWatermark(rTs, watermark)
    l.join(
        r,
        col(key) === col(rKey) &&
          col(rTs).between(col(leftTs), col(leftTs) + expr(s"INTERVAL $skew")),
        joinType)
      .drop(rKey)
  }

  /** Streaming exact dedup: drop re-deliveries of the same `idCol` within the
    * watermark horizon — state is bounded by the watermark (the streaming
    * twin of `Dedup.exactGroups`). Uses `dropDuplicatesWithinWatermark`, so a
    * re-delivery with a re-stamped/jittered timestamp is still dropped as
    * long as it arrives inside the horizon.
    */
  def dedupEvents(
      events: DataFrame,
      idCol: String,
      tsCol: String = "ts",
      horizon: String = "1 hour"
  ): DataFrame =
    events.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(idCol)

  /** Streaming CONTENT dedup: drop documents whose canonical word-set
    * signature was already seen inside the watermark horizon — the streaming
    * twin of the batch exact-dedup cascade ([[graft.ops.Dedup.exactGroups]]
    * over [[graft.ops.Dedup.wordSetSignature]]). Catches re-crawls and
    * shuffled-bag duplicates of recent documents with watermark-bounded
    * state; corpus-wide dedup remains the batch pass's job.
    */
  def dedupDocsByContent(
      docs: DataFrame,
      textCol: String,
      tsCol: String,
      horizon: String = "1 hour"
  ): DataFrame =
    docs
      .withColumn("_content_sig", graft.ops.Dedup.wordSetSignature(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("_content_sig")
      .drop("_content_sig")

  /** Drive a streaming DataFrame synchronously to completion against a batch
    * of files and return the materialized result (memory sink) — the local
    * smoke harness for the streaming ops.
    */
  final case class HllRow(event_type: String, b: Long, rho: Int)
  final case class TypeSketch(event_type: String, m_hit: Long, sum_hit: Long,
                              n_seen: Long) // rows folded so far — monotone per key

  /** Stateful-v2 processor behind [[streamingLogLog]]: one
    * `MapState[bucket → max ρ]` per event_type — the INCREMENTAL form of
    * the q329 LogLog distinct sketch. Register updates are max-folds
    * (idempotent, commutative), so the post-batch sketch is independent of
    * arrival order, duplication, and partitioning — the property that
    * makes a STREAMING cardinality estimate batch-equivalence-gateable.
    * Emits the per-key summary (touched-bucket count, Σ 2^(25−ρ_max))
    * after each batch: state is ≤ 1024 registers per key — ~8 KB of
    * RocksDB state per event_type no matter how many billion users pass
    * through, which is the whole point of sketching the stream instead of
    * retaining it.
    */
  private final class LogLogProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, HllRow, TypeSketch] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var regs: MapState[Long, Int] = _
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      regs = getHandle.getMapState[Long, Int](
        "registers", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        key: String, rows: Iterator[HllRow], tv: TimerValues): Iterator[TypeSketch] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { r =>
        n += 1L
        val cur = if (regs.containsKey(r.b)) regs.getValue(r.b) else 0
        if (r.rho > cur) regs.updateValue(r.b, r.rho)
      }
      seen.update(n)
      var m = 0L
      var sum = 0L
      regs.keys().foreach { b =>
        m += 1L
        sum += 1L << (25 - regs.getValue(b))
      }
      // n_seen stamps the emission with the key's monotone row count: the
      // per-batch summary is NOT monotone itself (new buckets add terms,
      // deeper ρ shrinks them), so a multi-batch consumer needs the stamp
      // to pick the final state
      Iterator.single(TypeSketch(key, m, sum, n))
    }
  }

  /** Per-event-type streaming distinct-user LogLog sketch via
    * `transformWithState` — see [[LogLogProcessor]]. The md5 bucket/ρ
    * derivation (identical to the batch q329 audit: 32-bit md5 prefix,
    * 2¹⁰ buckets, 22-bit ρ domain) runs as row expressions BEFORE the
    * keyed state machine, so the processor only max-folds integers.
    * RocksDB provider scoped + restored (stateful v2 refuses the default
    * HDFS-backed store). With a single micro-batch every emitted summary
    * is final — the single-batch gate device.
    */
  def streamingLogLog(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    withRocksDb(spark) {
      val rows = events
        .select(col("event_type"),
          conv(substring(md5(concat(lit("hll:"),
            col("user_id").cast("string"))), 1, 8), 16, 10).cast("long").as("h"))
        .select(col("event_type"), expr("h DIV 4194304").as("b"),
          pmod(col("h"), lit(4194304L)).as("w"))
        .select(col("event_type"), col("b"),
          when(col("w") === 0, lit(23))
            .otherwise(expr("instr(lpad(bin(w), 22, '0'), '1')")).cast("int").as("rho"))
        .as[HllRow]
        .groupByKey(_.event_type)
        .transformWithState(new LogLogProcessor, TimeMode.None(), OutputMode.Append())
        .toDF()
      // final state per key = the max-n_seen emission (a multi-batch feed
      // emits one summary per touched batch); single-batch output unchanged
      runToMemory(spark, rows, "stream_loglog")
        .groupBy(col("event_type"))
        .agg(max_by(struct(col("m_hit"), col("sum_hit")), col("n_seen")).as("x"))
        .select(col("event_type"),
          col("x.m_hit").as("m_hit"), col("x.sum_hit").as("sum_hit"))
    }
  }

  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame =
    runToMemoryCounting(spark, stream, name, mode)._1

  /** Data-microbatch count of the most recent [[runToMemory]] run in this
    * JVM — the multi-batch gates' spec witness (every streaming op funnels
    * through runToMemory, so a spec can drive the public op and then assert
    * its feed really crossed ≥ n−1 batch boundaries).
    */
  @volatile var lastRunBatches: Long = -1L

  /** [[runToMemory]] plus the number of DATA microbatches the run executed
    * (no-data watermark-flush batches excluded). With `checkpoint` set the
    * query is RESUMABLE: a later run pointing at the same location restores
    * operator state (RocksDB snapshots, watermark, processed-file log) and
    * continues from the next unprocessed input — the production failure-
    * recovery path, spec-gated by StreamingSpec's restart case.
    */
  def runToMemoryCounting(spark: SparkSession, stream: DataFrame, name: String,
                          mode: OutputMode = OutputMode.Append,
                          checkpoint: Option[String] = None): (DataFrame, Long) = {
    val w0 = stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
    val q = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c)).start()
    try q.processAllAvailable()
    finally q.stop()
    val dataBatches = countDataBatches(q)
    lastRunBatches = dataBatches
    (spark.table(name), dataBatches)
  }

  /** Data-microbatch count from `recentProgress`, guarded against the ring
    * buffer it actually is: `recentProgress` keeps only the last
    * `spark.sql.streaming.numRecentProgressUpdates` entries (default 100),
    * so a feed with more microbatches than the cap would silently
    * UNDERCOUNT — corrupting the `lastRunBatches` gate witness and the
    * restart diagnostics built on it. The registry's feeds use n ≤ 16
    * splits, far under any cap, so instead of a listener (whose event bus
    * is asynchronous — no public drain point after `stop()`), assert the
    * buffer did not wrap: strictly fewer retained entries than the cap
    * proves nothing was evicted.
    */
  private def countDataBatches(q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
    // the cap of the session that RAN the query — SparkSession.active can
    // be a different session in a multi-session JVM, and checking the
    // wrong cap re-opens exactly the silent undercount this guard rejects
    val cap = q.sparkSession.conf
      .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
    val prog = q.recentProgress
    require(prog.length < cap,
      s"recentProgress holds ${prog.length} entries with cap $cap — the ring " +
        "buffer may have wrapped and the data-batch count would undercount; " +
        "raise spark.sql.streaming.numRecentProgressUpdates above the feed's " +
        "microbatch count")
    prog.count(_.numInputRows > 0).toLong
  }
}
