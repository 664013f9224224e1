package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

/** Structured Streaming surface — the streaming duals of the batch
  * temporal queries in [[graft.ops.Temporal]] and the STM fold in
  * [[graft.ops.Transactional]].
  *
  * Reference analogue: opusdb's WAL is an append-only ordered stream with
  * replay (/root/reference/src/opusdb/logging/log_mgr.clj:16-33,46-66) and
  * its benchmark threads produce concurrent event streams folded into
  * keyed state (/root/reference/src/opusdb/benchmark/throughput.clj:102-147).
  * Here: `readStream` file source plays the WAL tail, watermarked window
  * aggregations play the replay folds, and `mapGroupsWithState` holds the
  * per-key mutable state the reference kept in refs — with Spark's
  * checkpoint WAL providing the flush-before-data durability contract the
  * reference implemented by hand (buffer.clj:44-54).
  *
  * Scale notes: every pipeline below is keyed (shuffle on user_id /
  * window key) with map-side partial aggregation; state stores are
  * per-key incremental (RocksDB-backable via conf at deployment — no code
  * change). Watermarks bound state: late events beyond 1 hour are
  * dropped, so state size is O(active keys × windows-in-horizon), not
  * O(stream length).
  *
  * Most of these are NOT in SparkEntry.queries: open-ended streaming
  * sinks aren't DuckDB-oracle-checkable. StreamingSpec verifies each
  * pipeline against its batch twin on identical input
  * (same-result-on-same-data is the snapshot-consistency idiom of the
  * reference's own tests, stm_test.clj:156-173). The exception is
  * [[streamTumblingGated]]: run to completion with Trigger.AvailableNow
  * its final sink table IS deterministic, so it sits under the full
  * oracle gate as q_stream_tumbling.
  */
object Streams {

  /** Typed event row for the streaming Datasets (micros timestamp). */
  case class EventRow(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double,
      props: String)

  /** Per-account folded state: exact integer cents (doubles carry ≤2
    * decimals in the testdata, so cents are lossless — the streaming
    * twin of the decimal-exact batch fold).
    */
  case class AccountState(netCents: Long, nTx: Long)

  case class AccountUpdate(user_id: Long, net_cents: Long, n_tx: Long)

  case class SessionUpdate(
      user_id: Long,
      session_start_us: Long,
      n_events: Long)

  /** File-source stream over the events table: the WAL tail. The physical
    * timestamp unit is read from the parquet FOOTER ([[Tables.eventsTsUnit]])
    * — never assumed — and the decode path matches the batch reader exactly:
    * NANOS → raw-LONG schema + integral `div 1000`; MICROS/MILLIS → native
    * NTZ read cast to the session-tz TimestampType (a wall-clock no-op under
    * the engine's fixed UTC session timezone).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    Tables.eventsTsUnit(spark, dir) match {
      case TimeUnit.NANOS =>
        spark.readStream
          .schema(Tables.eventsSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        val ntz = StructType(Tables.eventsSchema.map {
          case f if f.name == "ts" => f.copy(dataType = TimestampNTZType)
          case f => f
        })
        spark.readStream
          .schema(ntz)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour windows per event type — streaming twin of
    * q_window_tumbling. Watermark bounds state to one hour of lateness.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("value_total"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"),
        col("n"),
        col("value_total"))

  /** Sliding 1-hour windows every 15 minutes — streaming twin of
    * q_window_sliding.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows (30-minute gap) per user — streaming twin of
    * q_window_session's sessionization rule.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("user_id"),
        col("n_events"))

  /** Open-session state carried across micro-batches. */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  case class ClosedSession(
      user_id: Long,
      start_us: Long,
      dur_us: Long,
      n_events: Long)

  /** Session stream via flatMapGroupsWithState: emits one row per CLOSED
    * session (gap > `gapUs` between consecutive events of a user); the
    * still-open tail session lives in keyed state across micro-batches.
    * This is the 0..n-rows-per-group generalization mapGroupsWithState
    * can't express — the streaming dual of q_window_session's
    * sessionization rule, emitting incrementally instead of
    * recomputing.
    */
  def sessionFlow(
      spark: SparkSession,
      events: Dataset[EventRow],
      gapUs: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long,
         it: Iterator[EventRow],
         state: GroupState[OpenSession]) =>
          // full-precision micros: getTime carries whole millis, the
          // sub-millisecond part lives in getNanos
          def micros(e: EventRow): Long =
            e.ts.getTime * 1000 + (e.ts.getNanos % 1000000) / 1000
          // iterator order within a group is unspecified — sort by event
          // time (micros) + id for a deterministic fold
          val sorted = it.toArray.sortBy(e => (micros(e), e.event_id))
          var open = state.getOption.orNull
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          sorted.foreach { e =>
            val t = micros(e)
            open match {
              case null =>
                open = OpenSession(t, t, 1L)
              case o if t - o.lastUs > gapUs =>
                closed += ClosedSession(uid, o.startUs, o.lastUs - o.startUs, o.n)
                open = OpenSession(t, t, 1L)
              case o =>
                open = o.copy(lastUs = t, n = o.n + 1)
            }
          }
          if (open != null) state.update(open)
          closed.iterator
      }
  }

  /** Stream-stream attribution join: purchases matched to the views of
    * the same user within the preceding hour. Both sides are watermarked
    * so the join state is bounded — Spark retains only one hour of
    * buffered rows per side; older state is evicted as the watermark
    * advances (the streaming twin of the batch band join q_range_join).
    */
  def attributionJoin(
      purchases: DataFrame,
      views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    val v = views.withWatermark("ts", "1 hour").alias("v")
    p.join(
      v,
      expr(
        """p.user_id = v.user_id AND
          |v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin))
      .select(
        col("p.user_id").as("user_id"),
        col("p.event_id").as("purchase_id"),
        col("v.event_id").as("view_id"))
  }

  /** Streaming exact dedup on the event key with watermark-bounded
    * state: re-deliveries (at-least-once sources) are dropped; state
    * holds only keys inside the watermark horizon.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  /** Watermark-BOUNDED streaming dedup: unlike [[dedupStream]] (whose
    * key state grows with every id ever seen — unbounded on an infinite
    * stream), `dropDuplicatesWithinWatermark` evicts a key's state once
    * the watermark passes its event time, so state is O(keys per
    * watermark horizon). The contract weakens accordingly: only
    * re-deliveries arriving within the horizon are dropped — exactly
    * the at-least-once-source retry window it exists for.
    */
  def dedupStreamBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Conditional-transfer state: balance in exact cents + outcome
    * counters (the reference's bank account,
    * /root/reference/src/opusdb/benchmark/bank.clj:6-18).
    */
  case class CondState(cents: Long, accepted: Long, rejected: Long)

  case class CondOutcome(
      user_id: Long,
      final_cents: Long,
      accepted: Long,
      rejected: Long)

  /** Streaming twin of [[graft.ops.Transactional.conditionalFold]]: the
    * reference's conditional transfer (reject on insufficient funds)
    * applied in event order per account, with the balance carried in
    * keyed state across micro-batches. Events inside a batch are sorted
    * by (time, id); callers must feed batches in time order (the WAL
    * replay contract).
    */
  def conditionalBalances(
      spark: SparkSession,
      events: Dataset[EventRow],
      initialCents: Long): Dataset[CondOutcome] = {
    import spark.implicits._
    events
      .filter(e => e.event_type == "purchase" || e.event_type == "signup")
      .groupByKey(_.user_id)
      .mapGroupsWithState[CondState, CondOutcome](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[CondState]) =>
          def micros(e: EventRow): Long =
            e.ts.getTime * 1000 + (e.ts.getNanos % 1000000) / 1000
          var st = state.getOption.getOrElse(CondState(initialCents, 0L, 0L))
          it.toArray.sortBy(e => (micros(e), e.event_id)).foreach { e =>
            val amt = math.round(e.value * 100.0)
            if (e.event_type == "signup") {
              st = st.copy(cents = st.cents + amt, accepted = st.accepted + 1)
            } else if (st.cents >= amt) {
              st = st.copy(cents = st.cents - amt, accepted = st.accepted + 1)
            } else {
              st = st.copy(rejected = st.rejected + 1)
            }
          }
          state.update(st)
          CondOutcome(uid, st.cents, st.accepted, st.rejected)
      }
  }

  /** Keyed mutable state via mapGroupsWithState: per-user running net
    * balance folded from signed deltas (purchase = debit, signup =
    * credit) — the streaming dual of the reference's bank-of-refs
    * transfer fold and of the batch q_transfer_fold. Emits the updated
    * running state per key per micro-batch.
    */
  def runningBalances(
      spark: SparkSession,
      events: Dataset[EventRow]): Dataset[AccountUpdate] = {
    import spark.implicits._
    events
      .filter(e => e.event_type == "purchase" || e.event_type == "signup")
      .groupByKey(_.user_id)
      .mapGroupsWithState[AccountState, AccountUpdate](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[AccountState]) =>
          val prev = state.getOption.getOrElse(AccountState(0L, 0L))
          var net = prev.netCents
          var n = prev.nTx
          it.foreach { e =>
            val cents = math.round(e.value * 100.0)
            net += (if (e.event_type == "purchase") -cents else cents)
            n += 1
          }
          val next = AccountState(net, n)
          state.update(next)
          AccountUpdate(uid, net, n)
      }
  }

  /** [[runningBalances]] re-expressed on `transformWithState` — Spark
    * 4's arbitrary-state API: named, individually-evolvable state
    * variables on a StatefulProcessor instead of one opaque GroupState
    * blob (plus timers and TTL when needed; the exact-cents fold needs
    * neither). Requires the RocksDB state store provider. Value
    * contract: identical output to [[runningBalances]] on identical
    * input — pinned in StreamingSpec.
    */
  class BalanceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        EventRow,
        AccountUpdate] {
    @transient private var bal
        : org.apache.spark.sql.streaming.ValueState[AccountState] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bal = getHandle.getValueState[AccountState](
        "balance",
        org.apache.spark.sql.Encoders.product[AccountState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[AccountUpdate] = {
      val prev = if (bal.exists()) bal.get() else AccountState(0L, 0L)
      var net = prev.netCents
      var n = prev.nTx
      rows.foreach { e =>
        val cents = math.round(e.value * 100.0)
        net += (if (e.event_type == "purchase") -cents else cents)
        n += 1
      }
      bal.update(AccountState(net, n))
      Iterator.single(AccountUpdate(uid, net, n))
    }
  }

  /** Session closed by gap rule within a batch or by TIMER expiry. */
  case class TimedSession(
      user_id: Long,
      start_us: Long,
      n_events: Long,
      closed_by: String)

  case class SessTimerState(
      startUs: Long,
      lastUs: Long,
      n: Long,
      timerMs: Long)

  /** Gap sessionization on transformWithState with EVENT-TIME TIMERS:
    * intra-batch gap closures emit immediately; the open tail arms a
    * timer at (last event + gap), re-armed per batch, and
    * `handleExpiredTimer` closes the session once the watermark passes
    * it — the idle-timeout shape `GroupStateTimeout` covered in the old
    * API, now with explicit per-key timer registration. A stale timer
    * (superseded by newer events) is deleted on re-arm and double-
    * checked against state at expiry.
    */
  class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        EventRow,
        TimedSession] {
    @transient private var st
        : org.apache.spark.sql.streaming.ValueState[SessTimerState] = _

    private def micros(e: EventRow): Long = {
      val i = e.ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessTimerState](
        "session",
        org.apache.spark.sql.Encoders.product[SessTimerState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TimedSession] = {
      val sorted = rows.toArray.sortBy(e => (micros(e), e.event_id))
      val oldTimer = if (st.exists()) st.get().timerMs else 0L
      var cur = if (st.exists()) Option(st.get()) else None
      var out = List.empty[TimedSession]
      sorted.foreach { e =>
        val t = micros(e)
        cur = cur match {
          case Some(s0) if t - s0.lastUs > gapUs =>
            out ::= TimedSession(uid, s0.startUs, s0.n, "gap")
            Some(SessTimerState(t, t, 1L, 0L))
          case Some(s0) =>
            Some(s0.copy(lastUs = t, n = s0.n + 1))
          case None =>
            Some(SessTimerState(t, t, 1L, 0L))
        }
      }
      cur.foreach { s0 =>
        val newTimer = (s0.lastUs + gapUs) / 1000L + 1L
        if (oldTimer > 0L && oldTimer != newTimer)
          getHandle.deleteTimer(oldTimer)
        getHandle.registerTimer(newTimer)
        st.update(s0.copy(timerMs = newTimer))
      }
      out.reverseIterator
    }

    override def handleExpiredTimer(
        uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TimedSession] =
      if (st.exists() && st.get().timerMs == expiredTimerInfo.getExpiryTimeInMs) {
        val s0 = st.get()
        st.clear()
        Iterator.single(TimedSession(uid, s0.startUs, s0.n, "timer"))
      } else Iterator.empty
  }

  /** The timer-closed sessionization pipeline (event-time TimeMode). */
  def timedSessions(
      spark: SparkSession,
      events: Dataset[EventRow],
      gapUs: Long): Dataset[TimedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionTimerProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** The transformWithState pipeline over the filtered event stream. */
  def runningBalancesTws(
      spark: SparkSession,
      events: Dataset[EventRow]): Dataset[AccountUpdate] = {
    import spark.implicits._
    events
      .filter(e => e.event_type == "purchase" || e.event_type == "signup")
      .groupByKey(_.user_id)
      .transformWithState(
        new BalanceProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ---------------------------------------------------------------------
  // q_stream_tumbling — the FULL streaming pipeline under the oracle
  // gate: readStream file source (the WAL tail) → watermark → tumbling
  // 1-hour window aggregation → Trigger.AvailableNow run to completion.
  // AvailableNow processes exactly the files present at start and
  // terminates, so the final complete-mode sink table is deterministic
  // and oracle-checkable against the same SQL as the batch twin
  // (q_window_tumbling, minus countDistinct which streaming aggs don't
  // support). The memory sink is the verify/bench harness; a production
  // deployment writes the identical aggregation to parquet/Kafka — the
  // sink is the only swap. Driver-side state is bounded: one row per
  // (hour, event_type), not per event.
  // ---------------------------------------------------------------------
  /** Run `f` with the session's shuffle-partition count (which fixes a
    * streaming query's STATE partition count at start) scoped to `n`,
    * restoring the previous value afterwards. Stateful operators open
    * one state store per partition; for the local oracle-gate runs the
    * per-store fixed cost dominates, so the gated pipelines size state
    * to the data (a cluster deployment sizes it up the same way —
    * per-query, at start). Results are partition-count-invariant
    * (asserted by the partition-invariance property test).
    */
  private def withStatePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val HourUs = 3600L * 1000000L
  private val gateN = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamTumblingGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_tumbling_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = tumblingCounts(eventsStream(s, d)).writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("event_type"),
        col("n"),
        col("value_total"))
      .orderBy(col("hour_idx"), col("event_type"))
  }

  val streamTumblingGatedSql: String =
    s"""SELECT epoch_us(ts) // $HourUs AS hour_idx, event_type,
       |count(*) AS n,
       |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_total
       |FROM events GROUP BY 1, 2 ORDER BY hour_idx, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_append — WATERMARK-DRIVEN emission under the oracle gate:
  // the same tumbling aggregation in APPEND mode, where a window row is
  // emitted only once the watermark (max event time − 1 h) passes the
  // window end. Run to completion with AvailableNow (the trailing
  // no-data micro-batch advances the watermark and flushes eligible
  // windows), the emitted set is a deterministic function of the input:
  // exactly the windows with end ≤ final watermark — which is what the
  // DuckDB twin computes with a scalar subquery. This pins down the
  // append/watermark contract the complete-mode gate cannot see: the
  // final (incomplete-horizon) windows are withheld.
  // ---------------------------------------------------------------------
  val streamTumblingAppend: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_append_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = tumblingCounts(eventsStream(s, d)).writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("event_type"),
        col("n"),
        col("value_total"))
      .orderBy(col("hour_idx"), col("event_type"))
  }

  /** Watermark arithmetic mirrors Spark exactly: event-time stats are
    * tracked in MILLISECONDS (micros truncated), watermark = max_ms −
    * 3600000, and a window is emitted iff window_end_ms ≤ watermark.
    */
  val streamTumblingAppendSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events)
       |SELECT epoch_us(ts) // $HourUs AS hour_idx, event_type,
       |count(*) AS n,
       |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_total
       |FROM events, mx
       |WHERE (epoch_us(ts) // $HourUs + 1) * 3600000 <= mx.wm_ms - 3600000
       |GROUP BY 1, 2 ORDER BY hour_idx, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_parquet_sink — the PRODUCTION FILE SINK under the oracle
  // gate: the same watermarked append-mode tumbling aggregation, but
  // written to a parquet directory with a checkpointed exactly-once
  // file-commit log (_spark_metadata) instead of the memory-sink
  // harness — sink semantics themselves under test: only files recorded
  // in the commit log are the query's output, a torn write never
  // surfaces, and re-reading the directory through the committed
  // manifest yields exactly the watermark-eligible windows (same twin
  // as q_stream_append). Fresh sink+checkpoint dirs per invocation:
  // Bench runs every query twice, and an append sink would otherwise
  // double its rows.
  // ---------------------------------------------------------------------
  val streamParquetSink: (SparkSession, String) => DataFrame = (s, d) => {
    val n = gateN.incrementAndGet()
    val base = java.nio.file.Files
      .createTempDirectory(s"graft_psink_$n")
      .toString
    withStatePartitions(s, 8) {
      val q = tumblingCounts(eventsStream(s, d)).writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read
      .parquet(s"$base/out") // resolved via the _spark_metadata commit log
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("event_type"),
        col("n"),
        col("value_total"))
      .orderBy(col("hour_idx"), col("event_type"))
  }

  // ---------------------------------------------------------------------
  // q_stream_enrich — STREAM-STATIC enrichment under the oracle gate:
  // the purchases stream joined to the static customer dimension
  // (user_id = c_custkey) and aggregated per (hour window, market
  // segment) — the most common production streaming shape: enrich a
  // fact stream with a slowly-changing dimension, then window. The
  // static side needs no watermark and holds no state: Spark re-plans
  // it per micro-batch (broadcast at dim sizes — AQE's call, no hint,
  // same policy as the batch joins). Append-mode emission follows the
  // q_stream_append contract: a window row appears iff its end ≤
  // watermark (max event-time ms − 1 h), mirrored exactly by the twin.
  // ---------------------------------------------------------------------
  val streamEnrichGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_enrich_${gateN.incrementAndGet()}"
    val cust = Tables
      .customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("value_total"))
      .select(
        col("window.start").as("win_start"),
        col("c_mktsegment"),
        col("n"),
        col("value_total"))
    withStatePartitions(s, 8) {
      val q = enriched.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("c_mktsegment"),
        col("n"),
        col("value_total"))
      .orderBy(col("hour_idx"), col("c_mktsegment"))
  }

  // The watermark column feeds through the purchase filter (Spark
  // pushes the filter below EventTimeWatermark), so the stream's
  // watermark advances from max PURCHASE ts — the twin must derive
  // wm_ms from the same filtered rows, not the global max(ts), or the
  // two diverge whenever the last purchase and the global max event
  // straddle an hour boundary relative to a window end.
  val streamEnrichGatedSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events
       |            WHERE event_type = 'purchase')
       |SELECT epoch_us(e.ts) // $HourUs AS hour_idx, c.c_mktsegment,
       |count(*) AS n,
       |CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_total
       |FROM events e, mx, customer c
       |WHERE e.event_type = 'purchase' AND e.user_id = c.c_custkey
       |  AND (epoch_us(e.ts) // $HourUs + 1) * 3600000 <= mx.wm_ms - 3600000
       |GROUP BY 1, 2 ORDER BY hour_idx, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_session — SESSION windows under the oracle gate: per-user
  // 30-minute-gap sessions in APPEND mode, Trigger.AvailableNow. Two
  // boundary contracts the batch twin (q_window_session) cannot pin
  // down, both mirrored exactly by the DuckDB twin:
  //  * the MERGE rule is strict: an event exactly gap after its
  //    predecessor starts a NEW session (Spark merges sessions only
  //    when next.start < current.end), so the oracle's island break is
  //    `t - prev >= gap`, not the batch twin's `> gap`;
  //  * the EMIT rule is watermark-driven: a session row appears iff
  //    session_end ≤ watermark = max event-time (ms-truncated) − 1 h.
  // State stays bounded: one open session per (user, gap-island), and
  // the watermark evicts closed sessions every batch.
  // ---------------------------------------------------------------------
  private val SessGapUs = 1800L * 1000000L

  val streamSessionGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_session_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("value_total"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"),
        col("n_events"),
        col("value_total"))
      .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        col("user_id"),
        unix_micros(col("sess_start")).as("start_us"),
        unix_micros(col("sess_end")).as("end_us"),
        col("n_events"),
        col("value_total"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val streamSessionGatedSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS max_ms FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS t_us, value,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= $SessGapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |sess AS (
       |  SELECT user_id, t_us, value,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id, min(t_us) AS start_us,
       |    max(t_us) + $SessGapUs AS end_us,
       |    count(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_total
       |  FROM sess GROUP BY user_id, sess_id)
       |SELECT user_id, start_us, end_us, n_events, value_total
       |FROM agg, mx
       |WHERE end_us <= (max_ms - 3600000) * 1000
       |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_join — STREAM-STREAM inner interval join under the oracle
  // gate: the purchases stream joined with the views stream of the same
  // user within the preceding hour, run to completion with
  // Trigger.AvailableNow. For an INNER join the watermark only governs
  // state eviction, never the result: every qualifying pair is emitted
  // exactly once, so the completed sink table equals the plain batch
  // interval join — which is the DuckDB twin verbatim. (The append-mode
  // WITHHOLDING contracts are covered by q_stream_append/session; this
  // pins the join-matching contract.) State stays bounded: both sides
  // keep only rows inside the 1-hour horizon per user.
  // ---------------------------------------------------------------------
  val streamJoinGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_join_${gateN.incrementAndGet()}"
    val ev = eventsStream(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("v_user"),
        col("ts").as("v_ts"),
        col("value").as("v_val"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(
      views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    withStatePartitions(s, 8) {
      val q = joined.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("v_val").cast("decimal(18,4)")).cast("double")
          .as("viewed_total"))
      .orderBy(col("user_id"))
  }

  /** min(max purchase ts, max view ts) in micros — the event time the
    * two-sided global watermark is derived from (each side's watermark
    * tracks only its own filtered stream). O(1) driver scalar.
    */
  private def minSideMaxUs(s: SparkSession, d: String): Long =
    Tables
      .events(s, d)
      .agg(least(
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))),
        max(when(col("event_type") === "view", unix_micros(col("ts"))))))
      .head()
      .getLong(0)

  // ---------------------------------------------------------------------
  // q_stream_join_outer — LEFT-OUTER stream-stream join under the oracle
  // gate: every purchase, with its same-user views from the preceding
  // hour attached — or ONE null-padded row if no view qualified. Unlike
  // the inner variant, here the watermark drives the RESULT, not just
  // eviction: a purchase's null row is emitted only once the views-side
  // watermark proves no match can still arrive (watermark > p_ts, i.e.
  // max seen v_ts - 1h delay > p_ts). Under Trigger.AvailableNow the
  // closing no-data micro-batch flushes those final-state rows. Purchases
  // within (delay + lookback) of the stream's end sit on the emission
  // boundary — whether their null row flushed depends on which side
  // carried the last watermark update — so the gated output (and the
  // DuckDB twin, a plain batch LEFT JOIN) is filtered to the horizon
  // p_ts <= max_ts - 2h, where emission is contractual. State stays
  // bounded exactly as in the inner join: one horizon per side per user.
  // ---------------------------------------------------------------------
  val streamJoinOuterGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_join_outer_${gateN.incrementAndGet()}"
    val ev = eventsStream(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("v_user"),
        col("ts").as("v_ts"),
        col("value").as("v_val"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(
      views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
    withStatePartitions(s, 8) {
      val q = joined.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Emittable horizon: a driver-side O(1) scalar off the batch reader,
    // same idiom as q_stream_session's max-ts cutoff. Null-row flushing
    // is driven by the PER-SIDE watermarks (purchase-only / view-only
    // filtered streams), so the horizon must come from the MINIMUM of
    // the two sides' max event times — the value Spark's global
    // watermark (min policy) is actually derived from. Measuring from
    // the global max(ts) would overstate the flushed region whenever
    // the trailing data lacks one event type.
    val maxUs = minSideMaxUs(s, d)
    s.table(name)
      .filter(unix_micros(col("p_ts")) <= lit(maxUs - 2 * HourUs))
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("p_id")).as("n_purchases"),
        count(col("v_val")).as("n_viewed_pairs"),
        countDistinct(when(col("v_val").isNull, col("p_id")))
          .as("n_unmatched"),
        sum(col("v_val").cast("decimal(18,4)")).cast("double")
          .as("viewed_total"))
      .orderBy(col("user_id"))
  }

  val streamJoinOuterGatedSql: String =
    s"""WITH mx AS (SELECT least(
       |      max(epoch_us(ts)) FILTER (WHERE event_type = 'purchase'),
       |      max(epoch_us(ts)) FILTER (WHERE event_type = 'view'))
       |      AS max_us FROM events),
       |p AS (SELECT user_id, epoch_us(ts) AS p_us, event_id FROM events
       |      WHERE event_type = 'purchase'),
       |ph AS (SELECT p.user_id, p.p_us, p.event_id FROM p, mx
       |       WHERE p.p_us <= mx.max_us - ${2 * HourUs}),
       |v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us, value AS v_val
       |      FROM events WHERE event_type = 'view')
       |SELECT ph.user_id,
       |count(DISTINCT ph.event_id) AS n_purchases,
       |count(v.v_val) AS n_viewed_pairs,
       |count(DISTINCT CASE WHEN v.v_val IS NULL THEN ph.event_id END)
       |  AS n_unmatched,
       |CAST(SUM(CAST(v.v_val AS DECIMAL(18,4))) AS DOUBLE) AS viewed_total
       |FROM ph LEFT JOIN v
       |  ON ph.user_id = v.v_user
       | AND v.v_us <= ph.p_us
       | AND v.v_us >= ph.p_us - $HourUs
       |GROUP BY ph.user_id ORDER BY ph.user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_asof — STREAM-STREAM AS-OF JOIN under the oracle gate: for
  // every purchase, the LATEST same-user view in the preceding hour
  // (the trade/quote pattern — the streaming continuation of the
  // batch as-of family, q_asof_join × 6). Spark has no native
  // stream-stream as-of, so it composes from primitives whose
  // semantics ARE exactly-once: the inner interval join emits each
  // qualifying (purchase, view) pair exactly once, and the as-of
  // winner is then a per-purchase max over the completed sink — a
  // lexicographic max(struct(v_us, cents)), associative and
  // total-ordered, so it could equally ride the state store as a
  // per-purchase aggregate (the q_stream_topk contract at k = 1).
  // State stays bounded: one 1-hour horizon per side per user.
  // ---------------------------------------------------------------------
  val streamAsofGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_asof_${gateN.incrementAndGet()}"
    val ev = eventsStream(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("v_user"),
        col("ts").as("v_ts"),
        col("value").as("v_val"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(
      views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    withStatePartitions(s, 8) {
      val q = joined.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        col("p_id"),
        col("user_id"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("v_ts")).as("v_us"),
        round(col("v_val") * 100).cast("long").as("cents"))
      .groupBy(col("p_id"), col("user_id"), col("p_us"))
      .agg(max(struct(col("v_us"), col("cents"))).as("st"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_asof"),
        sum(col("st.cents")).as("cents_total"),
        sum(col("p_us") - col("st.v_us")).as("lag_us_total"))
      .orderBy(col("user_id"))
  }

  val streamAsofGatedSql: String =
    s"""WITH p AS (SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
       |      FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us, value AS v_val
       |      FROM events WHERE event_type = 'view'),
       |pairs AS (
       |  SELECT p.p_id, p.user_id, p.p_us, v.v_us,
       |    CAST(round(v.v_val * 100) AS BIGINT) AS cents
       |  FROM p JOIN v
       |    ON p.user_id = v.v_user
       |   AND v.v_us <= p.p_us
       |   AND v.v_us >= p.p_us - $HourUs),
       |last AS (
       |  SELECT p_id, user_id, p_us, v_us, cents FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p_id
       |      ORDER BY v_us DESC, cents DESC) AS rn FROM pairs)
       |  WHERE rn = 1)
       |SELECT user_id, count(*) AS n_asof,
       |  CAST(sum(cents) AS BIGINT) AS cents_total,
       |  CAST(sum(p_us - v_us) AS BIGINT) AS lag_us_total
       |FROM last GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_join_full — FULL-OUTER stream-stream join under the oracle
  // gate: every purchase with its preceding-hour views, every view with
  // its following-hour purchases — null-padded on whichever side never
  // matched. Both directions of null emission are watermark-driven: an
  // unmatched purchase flushes when the views watermark passes p_ts; an
  // unmatched view when the purchases watermark passes v_ts + 1 h (its
  // match window's upper bound). Gated on the horizon where BOTH are
  // contractual — p_ts ≤ max − 2 h for purchase-bearing rows, v_ts ≤
  // max − 2 h for view-only rows (a matched pair's v_ts ≤ p_ts, so the
  // purchase filter subsumes it). The DuckDB twin is the batch FULL
  // OUTER join with the same horizon predicate on the output.
  // ---------------------------------------------------------------------
  val streamJoinFullGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_join_full_${gateN.incrementAndGet()}"
    val ev = eventsStream(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user"),
        col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id").as("v_user"),
        col("ts").as("v_ts"),
        col("event_id").as("v_id"),
        col("value").as("v_val"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(
      views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "full_outer")
    withStatePartitions(s, 8) {
      val q = joined.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Same per-side-minimum horizon as the left-outer gate: both
    // directions of null emission are bounded by the slower side's
    // watermark, so min(max p_ts, max v_ts) is the anchor.
    val maxUs = minSideMaxUs(s, d)
    val horizon = lit(maxUs - 2 * HourUs)
    s.table(name)
      .filter(
        when(col("p_id").isNotNull, unix_micros(col("p_ts")) <= horizon)
          .otherwise(unix_micros(col("v_ts")) <= horizon))
      .groupBy(coalesce(col("p_user"), col("v_user")).as("user_id"))
      .agg(
        count(when(col("p_id").isNotNull && col("v_id").isNotNull, 1))
          .as("n_pairs"),
        countDistinct(when(col("v_id").isNull, col("p_id")))
          .as("n_lonely_purchases"),
        countDistinct(when(col("p_id").isNull, col("v_id")))
          .as("n_lonely_views"),
        sum(col("v_val").cast("decimal(18,4)")).cast("double")
          .as("viewed_total"))
      .orderBy(col("user_id"))
  }

  val streamJoinFullGatedSql: String =
    s"""WITH mx AS (SELECT least(
       |      max(epoch_us(ts)) FILTER (WHERE event_type = 'purchase'),
       |      max(epoch_us(ts)) FILTER (WHERE event_type = 'view'))
       |      AS max_us FROM events),
       |p AS (SELECT user_id AS p_user, epoch_us(ts) AS p_us, event_id AS p_id
       |      FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id AS v_user, epoch_us(ts) AS v_us,
       |        event_id AS v_id, value AS v_val
       |      FROM events WHERE event_type = 'view'),
       |j AS (
       |  SELECT * FROM p FULL OUTER JOIN v
       |    ON p.p_user = v.v_user
       |   AND v.v_us <= p.p_us AND v.v_us >= p.p_us - $HourUs)
       |SELECT coalesce(j.p_user, j.v_user) AS user_id,
       |CAST(SUM(CASE WHEN j.p_id IS NOT NULL AND j.v_id IS NOT NULL
       |  THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       |count(DISTINCT CASE WHEN j.v_id IS NULL THEN j.p_id END)
       |  AS n_lonely_purchases,
       |count(DISTINCT CASE WHEN j.p_id IS NULL THEN j.v_id END)
       |  AS n_lonely_views,
       |CAST(SUM(CAST(j.v_val AS DECIMAL(18,4))) AS DOUBLE) AS viewed_total
       |FROM j, mx
       |WHERE CASE WHEN j.p_id IS NOT NULL
       |  THEN j.p_us <= mx.max_us - ${2 * HourUs}
       |  ELSE j.v_us <= mx.max_us - ${2 * HourUs} END
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_dedup — streaming DEDUPLICATION under the oracle gate:
  // dropDuplicates keyed on (user_id, event_type, hour window), run to
  // completion with Trigger.AvailableNow. Emission is immediate (append
  // passes the FIRST row per key through), but WHICH physical row wins
  // a key is a race across partitions — so the gated output is the KEY
  // SET only, which is deterministic: exactly the distinct keys, i.e.
  // the batch SELECT DISTINCT. The hour window rides the dedup key, so
  // the watermark evicts each key's state one horizon after its hour
  // passes — state is O(active keys per horizon), not O(stream length).
  // ---------------------------------------------------------------------
  val streamDedupGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_dedup_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        // the derived window column CARRIES the event-time/watermark
        // metadata; `ts` itself must be dropped (one event-time column
        // per stream) — state eviction keys off `win.end`
        .select(
          col("user_id"),
          col("event_type"),
          window(col("ts"), "1 hour").as("win"))
        .dropDuplicates("user_id", "event_type", "win")
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win.start) div $HourUs").as("hour_idx"),
        col("event_type"),
        col("user_id"))
      .orderBy(col("hour_idx"), col("event_type"), col("user_id"))
  }

  val streamDedupGatedSql: String =
    s"""SELECT DISTINCT epoch_us(ts) // $HourUs AS hour_idx, event_type, user_id
       |FROM events ORDER BY hour_idx, event_type, user_id""".stripMargin

  val streamJoinGatedSql: String =
    s"""SELECT p.user_id, count(*) AS n_pairs,
       |count(DISTINCT p.event_id) AS n_purchases,
       |CAST(SUM(CAST(v.value AS DECIMAL(18,4))) AS DOUBLE) AS viewed_total
       |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
       |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
       |  ON p.user_id = v.user_id
       | AND epoch_us(v.ts) <= epoch_us(p.ts)
       | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
       |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_upsert — the transactional MERGE sink (MergeSink.scala)
  // under the oracle gate, end-to-end: the event stream upserted
  // per-micro-batch into the snapshot-versioned parquet state table
  // (latest value per user by event_id), read back from the COMMITTED
  // snapshot and aggregated per user-decile. The gate proves the whole
  // protocol — merge, snapshot write, marker publish — converges to
  // the batch latest-wins state the DuckDB twin computes declaratively
  // (arg_max per key); StateSpec separately proves the kill/restart
  // and replayed-epoch paths the oracle can't drive.
  // ---------------------------------------------------------------------
  val streamUpsertGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_upsert_tbl")
      .toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_upsert_ckpt")
      .toString
    withStatePartitions(s, 8) {
      val q = MergeSink
        .sink(
          eventsStream(s, d)
            .select(col("user_id"), col("event_id"), col("value")),
          table,
          ckpt,
          key = "user_id",
          seq = "event_id")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeSink
      .currentState(s, table)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val streamUpsertGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_incr_agg — streaming MATERIALIZED AGGREGATE maintenance:
  // the streaming sibling of q_incr_agg. Each micro-batch aggregates to
  // the partial shape (per-hour counts + exact cents) and stores the
  // partials through the MERGE sink keyed (hour, epoch) — a replayed
  // epoch hits its commit marker and is skipped whole, and even past
  // the marker it would only overwrite ITS OWN (hour, epoch) rows:
  // additive state stays exactly-once without a read-modify-write of
  // the aggregate (the classic double-add hazard). Reading the rollup
  // = summing each hour's epoch-partials — O(epochs × hours) rows,
  // compacted by table maintenance, never a fact rescan. StateSpec
  // drives the multi-epoch + replay path explicitly; this gate pins
  // the end-to-end converged rollup against the declarative twin.
  // ---------------------------------------------------------------------
  val streamIncrAggGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_incragg_tbl")
      .toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_incragg_ckpt")
      .toString
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .select(col("ts"), col("value"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          val runId = Option(
            batch.sparkSession.sparkContext
              .getLocalProperty("sql.streaming.queryId"))
            .getOrElse(
              java.util.UUID
                .nameUUIDFromBytes(ckpt.getBytes("UTF-8"))
                .toString)
          val partials = batch
            .groupBy(expr(s"unix_micros(ts) div $HourUs").as("hour_idx"))
            .agg(
              count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
            .withColumn(
              "agg_key",
              concat_ws(":", col("hour_idx"), lit(epochId)))
            .withColumn("epoch", lit(epochId))
          MergeSink.upsertBatch(partials, table, "agg_key", "epoch", epochId, runId)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeSink
      .currentState(s, table)
      .get
      .groupBy(col("hour_idx"))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("cents")).as("cents_total"))
      .orderBy(col("hour_idx"))
  }

  val streamIncrAggGatedSql: String =
    s"""SELECT epoch_us(ts) // $HourUs AS hour_idx, count(*) AS n_events,
       |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |  AS cents_total
       |FROM events GROUP BY 1 ORDER BY hour_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_cdc — FULL CDC (upserts AND deletes) through the MERGE
  // sink: 'error' events are account-delete tombstones; every other
  // event upserts the user's latest value. A user whose LAST event (by
  // event_id) is a delete is absent from the table — but the tombstone
  // row is RETAINED in the stored buckets so a late-arriving lower-seq
  // upsert cannot resurrect the key (StateSpec drives that path; the
  // oracle proves the converged visible state). The twin computes the
  // same thing declaratively: arg_max over each user's history, keys
  // whose winner is a delete filtered out.
  // ---------------------------------------------------------------------
  val streamCdcGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_cdc_tbl")
      .toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdc_ckpt")
      .toString
    withStatePartitions(s, 8) {
      val q = MergeSink
        .sink(
          eventsStream(s, d)
            .select(
              col("user_id"),
              col("event_id"),
              col("value"),
              (col("event_type") === "error").as(MergeSink.DeletedCol)),
          table,
          ckpt,
          key = "user_id",
          seq = "event_id")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeSink
      .currentState(s, table)
      .get // live rows only: tombstone winners filtered, __deleted dropped
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val streamCdcGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val,
      |    arg_max(event_type, event_id) AS last_type
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st WHERE last_type <> 'error'
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_point — BUCKET-PRUNED POINT LOOKUP on the merge table: the
  // table is built in two batch commits (so the second manifest carries
  // half its buckets forward), then five keys are read back through
  // MergeSink.pointLookup, which resolves ONLY the bucket files those
  // keys hash into — at 100 TB a point read touches O(keys) buckets of
  // O(100 MB–1 GB), never the table (StateSpec pins the pruning: the
  // resolved file list is a strict subset of the manifest). The oracle
  // proves the looked-up rows are each key's latest-by-seq state.
  // ---------------------------------------------------------------------
  private val PointIds = Seq(1L, 3L, 7L, 11L, 13L)

  val mergePointGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_point_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "pt")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "pt")
    MergeSink
      .pointLookup(s, table, "user_id", PointIds)
      .get
      .select(
        col("user_id"),
        col("event_id").as("last_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy(col("user_id"))
  }

  val mergePointGatedSql: String =
    s"""SELECT user_id, max(event_id) AS last_id,
       |  CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS cents
       |FROM events WHERE user_id IN (${PointIds.mkString(", ")})
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_bloom — NON-KEY point lookup served by parquet-native bloom
  // filters: the merge table's third skipping tier. Bucket pruning
  // needs the key (hash); min/max row-group stats need sorted data; a
  // point predicate on a random high-cardinality SECONDARY column
  // (here sid = md5(event_id), stored) is the shape neither serves —
  // without an index it scans every bucket. setBloomIndex("sid")
  // makes every bucket file carry a parquet bloom for the column, and
  // the connector's pushed In conjunct prunes row groups through the
  // file blooms at read time (required: the plan records the pushed
  // conjunct; Dsv2Spec pins the skip mechanics with a dictionary-off
  // control). The five probe sids are the PointIds users' latest
  // events, so the oracle reconstructs the identical rows keyed by
  // user — the gate proves sid-served reads return exactly the
  // latest-wins state. At 100 TB the blooms live IN the data files:
  // per-file metadata, distributed with the data, nothing table-sized
  // anywhere.
  // ---------------------------------------------------------------------
  val mergeBloomGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_bloom_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(
        col("user_id"), col("event_id"), col("value"),
        md5(col("event_id").cast("string")).as("sid"))
    MergeSink.setBloomIndex(s, table, Seq("sid:20000"))
    MergeSink.upsertBatch(e, table, "user_id", "event_id", 0L, "bl")
    require(MergeSink.bloomIndexCols(s, table).nonEmpty)
    // the probe sids: each PointIds user's LATEST event id, hashed —
    // O(|PointIds|) driver values, the bounded probe-panel shape
    val targets = e
      .filter(col("user_id").isin(PointIds: _*))
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("last_id"))
      .select(md5(col("last_id").cast("string")))
      .collect()
      .map(_.getString(0))
      .toSeq
    val df = s.read.format("graft-merge")
      .option("path", table)
      .option("key", "user_id")
      .load()
      .filter(col("sid").isin(targets: _*))
      .select(
        col("user_id"),
        col("event_id").as("last_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy(col("user_id"))
    require(
      df.queryExecution.executedPlan.toString.contains("pushed=[In(sid"),
      "sid conjunct not pushed to the connector's row-group filter")
    df
  }

  val mergeBloomGatedSql: String = mergePointGatedSql

  // ---------------------------------------------------------------------
  // q_merge_timetravel — TIME TRAVEL on the merge table under the oracle
  // gate: two commits land, then the PREVIOUS version is read back
  // through MergeSink.stateAt. The oracle recomputes that snapshot
  // declaratively (latest-by-seq over only the first half of the log),
  // proving a historical read returns the exact committed bits, not a
  // reconstruction. Retention: GC keeps current + previous, so v0 is
  // contractually readable here; reading further back requires a wider
  // retention window (the manifest/marker files are the only cost).
  // ---------------------------------------------------------------------
  val mergeTimetravelGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_tt_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "tt")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "tt")
    val v0 = MergeSink.commits(s, table).map(_.version).min
    MergeSink
      .stateAt(s, table, v0)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val mergeTimetravelGatedSql: String =
    """WITH b AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val
      |  FROM events, b WHERE event_id <= b.t1 GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_changes — CHANGE FEED between the last two snapshots of a
  // CDC merge table (the Delta/Iceberg CDF shape): commit the first
  // half of the event log as upserts, the second half with 'error'
  // events as tombstones, then read MergeSink.changes — per-key
  // insert / update / delete rows derived from ONLY the buckets the
  // second commit moved. A key in a touched bucket that didn't itself
  // change joins equal and is filtered; a key whose tombstone won
  // before it was ever visible produces no row. The oracle recomputes
  // both snapshots declaratively and diffs them.
  // ---------------------------------------------------------------------
  val mergeChangesGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_changes_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "cf")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "cf")
    MergeSink
      .changes(s, table, "user_id")
      .get
      .groupBy(col("change"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("change"))
  }

  val mergeChangesGatedSql: String =
    """WITH b AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st0 AS (
      |  SELECT user_id, max(event_id) AS id0, arg_max(value, event_id) AS v0
      |  FROM events, b WHERE event_id <= b.t1 GROUP BY user_id),
      |st1 AS (
      |  SELECT e.user_id, max(e.event_id) AS id1,
      |    arg_max(e.value, e.event_id) AS v1,
      |    arg_max(CASE WHEN e.event_type = 'error' AND e.event_id > b.t1
      |                 THEN 1 ELSE 0 END, e.event_id) AS dead
      |  FROM events e, b GROUP BY e.user_id),
      |ch AS (
      |  SELECT
      |    CASE WHEN s1.dead = 1 AND s0.user_id IS NOT NULL THEN 'delete'
      |         WHEN s1.dead = 1 THEN NULL
      |         WHEN s0.user_id IS NULL THEN 'insert'
      |         WHEN s1.id1 <> s0.id0 THEN 'update' END AS change,
      |    CASE WHEN s1.dead = 1 THEN s0.id0 ELSE s1.id1 END AS eid,
      |    CASE WHEN s1.dead = 1 THEN s0.v0 ELSE s1.v1 END AS val
      |  FROM st1 s1 LEFT JOIN st0 s0 ON s1.user_id = s0.user_id)
      |SELECT change, count(*) AS n_keys,
      |  CAST(sum(eid) AS BIGINT) AS id_total,
      |  CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS cents_total
      |FROM ch WHERE change IS NOT NULL
      |GROUP BY change ORDER BY change""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_retention — TOMBSTONE RETIREMENT as a gated maintenance
  // commit: build the q_merge_changes CDC table (second-half 'error'
  // events win their keys as tombstones), then expireTombstones at a
  // horizon past every tombstone's seq — the touched buckets rewrite
  // copy-on-write, untouched buckets carry forward. The CONTRACT under
  // the gate: retention must be invisible to readers — the
  // post-retention snapshot aggregate equals the declarative
  // latest-wins-minus-deleted state exactly (a retention pass that
  // loses or resurrects a key goes red here). The lane also requires
  // that at least one bucket actually rewrote, so a silently no-op
  // retention fails loudly rather than passing vacuously. Physical
  // assertions (tombstone rows gone from storage, resurrection hazard
  // at an UNSAFE horizon) live in StateSpec.
  // ---------------------------------------------------------------------
  val mergeRetentionGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_retention_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val bounds = e.agg(max(col("event_id")).as("m")).head().getLong(0)
    val t1 = bounds / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "rt")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "rt")
    val rewritten =
      MergeSink.expireTombstones(s, table, "user_id", "event_id", bounds + 1)
    require(rewritten > 0,
      s"retention retired nothing (rewrote $rewritten buckets) — the gate " +
        "would pass vacuously")
    MergeSink
      .currentState(s, table)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val mergeRetentionGatedSql: String =
    """WITH b AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st AS (
      |  SELECT e.user_id, max(e.event_id) AS last_id,
      |    arg_max(e.value, e.event_id) AS last_val,
      |    arg_max(CASE WHEN e.event_type = 'error' AND e.event_id > b.t1
      |                 THEN 1 ELSE 0 END, e.event_id) AS dead
      |  FROM events e, b GROUP BY e.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |  CAST(SUM(last_id) AS BIGINT) AS id_total,
      |  CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_total
      |FROM st WHERE dead = 0
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_compact — COMPACTION (OPTIMIZE) as a gated maintenance
  // commit: four small upsert commits leave the table as 16 tiny bucket
  // files (one per bucket — the shape high-frequency upserts produce);
  // MergeSink.compact re-hashes every row to 4 buckets and flips the
  // manifest atomically. The CONTRACT under the gate: compaction is
  // INVISIBLE to readers — the post-compaction snapshot aggregate
  // equals the declarative latest-wins state exactly — while the file
  // count must actually DROP (asserted, so a no-op pass cannot green
  // vacuously) and a bucket-pruned point lookup through the connector
  // still answers correctly under the NEW modulus (the manifest's
  // B-header is authoritative per version). At 100 TB this is the
  // bin-pack that keeps bucket files at O(100 MB–1 GB) as volume
  // drifts from the count fixed at first commit.
  // ---------------------------------------------------------------------
  val mergeCompactGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_compact_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val m = e.agg(max(col("event_id")).as("m")).head().getLong(0)
    // four commits = the small-batch pattern that fragments the table
    (0 until 4).foreach { i =>
      MergeSink.upsertBatch(
        e.filter(col("event_id") % 4 === i),
        table, "user_id", "event_id", i.toLong, "cp")
    }
    val preFiles = MergeSink.currentFiles(s, table).values.map(_.size).sum
    val written = MergeSink.compact(s, table, "user_id", targetBuckets = 4)
    val postFiles = MergeSink.currentFiles(s, table).values.map(_.size).sum
    require(written > 0 && postFiles < preFiles,
      s"compaction did not shrink the table: $preFiles -> $postFiles " +
        s"($written buckets written) — the gate would pass vacuously")
    // the new modulus must serve pruned point reads correctly
    val probe = MergeSink.pointLookup(s, table, "user_id", PointIds)
      .get.count()
    require(probe > 0, "post-compaction point lookup returned nothing")
    MergeSink
      .currentState(s, table)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val mergeCompactGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_compact_incr — INCREMENTAL compaction as a gated maintenance
  // commit: three upserts build the table, a full sorted compaction
  // re-bases it, then a day-2 upsert dirties only the handful of buckets
  // its keys hash to. MergeSink.compactIncremental(sinceVersion =
  // the compaction's version) rewrites EXACTLY those dirtied buckets
  // sorted, carrying every clean bucket's files untouched — asserted:
  // the rewritten set is non-empty and a STRICT subset of the table's
  // buckets, and a second pass against the new version rewrites nothing
  // and mints no version (so a full-rewrite masquerading as incremental
  // cannot green). The gate then proves invisibility: the post-
  // maintenance snapshot aggregate equals the declarative latest-wins
  // state over every batch. At 100 TB this is the maintenance loop that
  // keeps the sorted (row-group-skippable) layout WITHOUT ever paying a
  // table-sized rewrite — cost tracks the dirtied bytes.
  // ---------------------------------------------------------------------
  val mergeCompactIncrGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_cinc_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    (0 until 3).foreach { i =>
      MergeSink.upsertBatch(
        e.filter(col("event_id") % 3 === i),
        table, "user_id", "event_id", i.toLong, "ci")
    }
    val nb = 8
    MergeSink.compact(s, table, "user_id", targetBuckets = nb)
    val baseV = MergeSink.lastCommit(s, table).get.version
    // day-2: a small upsert (a few keys) dirties only their buckets
    MergeSink.upsertBatch(
      e.filter(col("user_id").isin(PointIds: _*)),
      table, "user_id", "event_id", 3L, "ci")
    val rewritten =
      MergeSink.compactIncremental(s, table, "user_id", baseV)
    require(rewritten.nonEmpty && rewritten.size < nb,
      s"incremental compaction rewrote ${rewritten.size}/$nb buckets — " +
        "not incremental, the gate would pass vacuously")
    val v2 = MergeSink.lastCommit(s, table).get.version
    val again = MergeSink.compactIncremental(s, table, "user_id", v2)
    require(again.isEmpty && MergeSink.lastCommit(s, table).get.version == v2,
      "clean-table incremental compaction was not a no-op")
    MergeSink
      .currentState(s, table)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------------
  // q_dsv2_lookup — the bucket-pruned point lookup THROUGH THE DSv2
  // SOURCE: the same two-commit merge table as q_merge_point, read back
  // with spark.read.format("graft-merge") and a plain .isin filter. The
  // connector's ScanBuilder (SupportsPushDownFilters) receives the In
  // predicate from Catalyst, hashes the keys with the writer's bucket
  // function, and plans ONLY those buckets' files — q_merge_point's
  // pruning moved INTO the source, driven by the optimizer instead of a
  // library call (PlanSpec asserts planned files < manifest files).
  // Same oracle as q_merge_point: the looked-up rows are each key's
  // latest-by-seq state.
  // ---------------------------------------------------------------------
  val dsv2LookupGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "dv")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "dv")
    s.read.format("graft-merge")
      .option("path", table)
      .option("key", "user_id")
      .load()
      .filter(col("user_id").isin(PointIds: _*))
      .select(
        col("user_id"),
        col("event_id").as("last_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy(col("user_id"))
  }

  val dsv2LookupGatedSql: String = mergePointGatedSql

  // ---------------------------------------------------------------------
  // q_dsv2_changes — the commit log REPLAYED AS A STREAM through the
  // DSv2 MicroBatchStream (the reference WAL's ordered replay dual,
  // log_mgr.clj:16-33): the same CDC merge table as q_merge_changes,
  // then readStream.format("graft-merge").option("cdc","true") replays
  // every committed version's written buckets (tagged _version/_bucket,
  // tombstones retained) into a memory sink under AvailableNow. The
  // batch post-pass folds the replayed epochs back into the last-two-
  // snapshot change feed — per-key insert/update/delete — and must
  // match q_merge_changes' declarative oracle exactly: replaying the
  // log reconstructs precisely what the snapshot diff computes.
  // ---------------------------------------------------------------------
  val dsv2ChangesGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_cdc_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "dv2")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(
          col("user_id"),
          col("event_id"),
          col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "dv2")
    val name = s"graft_stream_dsv2_${gateN.incrementAndGet()}"
    val q = s.readStream
      .format("graft-merge")
      .option("path", table)
      .option("cdc", "true")
      .load()
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option(
        "checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_dsv2_ck").toString)
      .start()
    q.awaitTermination()
    foldReplayToChangeFeed(s.table(name))
  }

  /** Fold a replayed commit log (memory-sink rows tagged
    * `_version`/`_bucket`, tombstones retained) into the last-two-
    * snapshot change feed — shared by the option-based and
    * catalog-based CDC stream lanes, which must produce identical
    * results from their different read paths.
    */
  private def foldReplayToChangeFeed(log: DataFrame): DataFrame = {
    // a bucket's content "as of prev" is its rows at the highest
    // replayed version below the head — the log IS the history.
    val vmax = log.agg(max(col("_version"))).head().getLong(0)
    // both join sides derive from the same memory-sink view: rename the
    // bucket key on the derived frames so the self-join resolves
    val newBuckets = log
      .filter(col("_version") === lit(vmax))
      .select(col("_bucket").as("nbk"))
      .distinct()
    val prevPerBucket = log
      .filter(col("_version") < lit(vmax))
      .groupBy(col("_bucket").as("pbk"))
      .agg(max(col("_version")).as("pv"))
    def visible(df: DataFrame): DataFrame =
      df.filter(!coalesce(col(MergeSink.DeletedCol), lit(false)))
    val newSide = visible(log.filter(col("_version") === lit(vmax)))
      .select(
        col("user_id").as("n_user_id"),
        col("event_id").as("n_event_id"),
        col("value").as("n_value"))
    val oldSide = visible(
      log
        .join(prevPerBucket,
          col("_bucket") === col("pbk") && col("_version") === col("pv"))
        .join(newBuckets, col("_bucket") === col("nbk"), "left_semi"))
      .select(
        col("user_id").as("o_user_id"),
        col("event_id").as("o_event_id"),
        col("value").as("o_value"))
    oldSide
      .join(newSide, col("o_user_id") === col("n_user_id"), "full_outer")
      .select(
        when(col("o_user_id").isNull, "insert")
          .when(col("n_user_id").isNull, "delete")
          .when(
            !(col("o_event_id") <=> col("n_event_id")) ||
              !(col("o_value") <=> col("n_value")),
            "update")
          .as("change"),
        coalesce(col("n_event_id"), col("o_event_id")).as("event_id"),
        when(col("n_user_id").isNull, col("o_value"))
          .otherwise(col("n_value"))
          .as("value"))
      .filter(col("change").isNotNull)
      .groupBy(col("change"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("change"))
  }

  val dsv2ChangesGatedSql: String = mergeChangesGatedSql

  // ---------------------------------------------------------------------
  // q_catalog_stream — STREAMING READ THROUGH THE CATALOG: the same CDC
  // replay as q_dsv2_changes, but the reader names a SQL identifier —
  // `spark.readStream.table("cat.g.t_changes")` — instead of wiring
  // format/options by hand. The catalog table is declared with the
  // `cdc 'true'` property, making it the commit-log VIEW of its path
  // (its schema carries __deleted/_version/_bucket; streaming reads
  // replay, batch reads return the retained log). Folds to exactly
  // q_merge_changes' oracle: the pure-SQL identifier path must
  // reconstruct the same change feed the library computes.
  // ---------------------------------------------------------------------
  val catalogStreamGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gcst$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_cst_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    val table = java.nio.file.Files
      .createTempDirectory("graft_cst_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(col("user_id"), col("event_id"), col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "cst")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(col("user_id"), col("event_id"), col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "cst")
    s.sql(
      s"""CREATE TABLE $cat.g.t_changes
         |(user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'user_id', seq 'event_id', path '$table',
         |  cdc 'true')""".stripMargin)
    val name = s"graft_stream_cst_$nRun"
    val q = s.readStream
      .table(s"$cat.g.t_changes")
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option(
        "checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cst_ck").toString)
      .start()
    q.awaitTermination()
    foldReplayToChangeFeed(s.table(name))
  }

  val catalogStreamGatedSql: String = mergeChangesGatedSql

  // ---------------------------------------------------------------------
  // q_catalog_changes — the `.changes` SUFFIX gated end to end: the
  // catalog table is declared PLAIN (a snapshot table, no cdc option);
  // `readStream.table("cat.g.t.changes")` replays its commit log
  // anyway (the Delta table_changes shape as a pure SQL identifier),
  // and folding the replay reproduces exactly the library change feed
  // — same oracle as q_merge_changes / q_catalog_stream.
  // ---------------------------------------------------------------------
  val catalogChangesGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gchg$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_chg_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    val table = java.nio.file.Files
      .createTempDirectory("graft_chg_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1)
        .select(col("user_id"), col("event_id"), col("value"),
          lit(false).as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 0L, "chg")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1)
        .select(col("user_id"), col("event_id"), col("value"),
          (col("event_type") === "error").as(MergeSink.DeletedCol)),
      table, "user_id", "event_id", 1L, "chg")
    s.sql(
      s"""CREATE TABLE $cat.g.t
         |(user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'user_id', seq 'event_id', path '$table')""".stripMargin)
    val name = s"graft_stream_chg_$nRun"
    val q = s.readStream
      .table(s"$cat.g.t.changes")
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option(
        "checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_chg_ck2").toString)
      .start()
    q.awaitTermination()
    foldReplayToChangeFeed(s.table(name))
  }

  val catalogChangesGatedSql: String = mergeChangesGatedSql

  // ---------------------------------------------------------------------
  // q_merge_restore — rollback gated end to end: both halves of the
  // log land as two commits, `CALL cat.sys.restore('g.t', 0)` rolls
  // back to the first (a metadata-only commit — the gate REQUIREs the
  // data-file inventory unchanged), and the final per-bucket aggregate
  // must equal the declarative latest-wins over the FIRST half alone —
  // proving the head now serves exactly the pre-deploy snapshot while
  // the rolled-back-over version stays time-travelable (REQUIREd too).
  // ---------------------------------------------------------------------
  val mergeRestoreGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"grst$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_rst_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.t (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_rst_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(s"INSERT INTO $cat.g.t SELECT * FROM $view WHERE event_id <= $t1")
    s.sql(s"INSERT INTO $cat.g.t SELECT * FROM $view WHERE event_id > $t1")
    val path = s.sql(s"SHOW TBLPROPERTIES $cat.g.t")
      .filter(col("key") === "path").head().getString(1)
    val MS = graft.streaming.MergeSink
    val filesBefore = MS.manifestFiles(s, path, 0L)
    val preRestoreCount = s.table(s"$cat.g.t").count()
    require(
      s.sql(s"CALL $cat.sys.restore('g.t', 0)").head().getInt(0) == 2,
      "restore did not mint version 2")
    // metadata-only: the restored head references v0's exact files
    require(MS.manifestFiles(s, path, 2L) == filesBefore,
      "restore must re-reference, not rewrite")
    // the bad deploy stays time-travelable
    require(
      s.sql(s"SELECT count(*) FROM $cat.g.t VERSION AS OF 1")
        .head().getLong(0) == preRestoreCount,
      "rolled-back-over version lost")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |CAST(SUM(event_id) AS BIGINT) AS id_total,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.t GROUP BY user_id % 10 ORDER BY bucket""".stripMargin)
  }

  val mergeRestoreGatedSql: String =
    """WITH mx AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st AS (
      |  SELECT e.user_id, max(e.event_id) AS last_id,
      |    arg_max(e.value, e.event_id) AS last_val
      |  FROM events e, mx WHERE e.event_id <= mx.t1 GROUP BY e.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_race — CONCURRENT SQL writers, gated end to end: two
  // sessionless threads INSERT disjoint halves of the event log into
  // the same catalog table simultaneously (one barrier, zero
  // pre-arrangement). Both race through the connector's commit path:
  // the claim protocol serializes version minting, the loser's
  // ConcurrentCommitException is retried automatically
  // (withCommitRetry — the reference's process-result/run backoff
  // loop, stm.clj:85-106,124-143), and the retry RECOMPUTES the merge
  // against the winner's head. The gate REQUIREs both statements'
  // commits present (exactly two versions, both dsv2b runIds) and the
  // final aggregate equals the declarative latest-wins over the full
  // log — the serializable-equivalent outcome.
  // ---------------------------------------------------------------------
  val mergeRaceGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"grace$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_race_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.t (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_race_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(pred: String): Thread = new Thread(() => {
      try {
        barrier.await()
        s.sql(s"INSERT INTO $cat.g.t SELECT * FROM $view WHERE $pred")
      } catch { case t: Throwable => errs.add(t) }
    })
    val a = writer("user_id % 2 = 0")
    val b = writer("user_id % 2 = 1")
    a.start(); b.start(); a.join(); b.join()
    require(errs.isEmpty, s"racing INSERT failed: ${errs.peek()}")
    val path = s.sql(s"SHOW TBLPROPERTIES $cat.g.t")
      .filter(col("key") === "path").head().getString(1)
    val cs = graft.streaming.MergeSink.commits(s, path)
    require(cs.map(_.version) == Seq(0L, 1L),
      s"both racing statements must commit exactly once: $cs")
    require(cs.forall(_.runId.startsWith("dsv2b-")) &&
      cs.map(_.runId).distinct.size == 2,
      s"expected two distinct SQL-writer commits: $cs")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |CAST(SUM(event_id) AS BIGINT) AS id_total,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.t GROUP BY user_id % 10 ORDER BY bucket""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // q_txn_transfer — CROSS-TABLE ATOMIC TRANSACTION gated end to end:
  // the dosync-over-multiple-refs dual (bank.clj:10-18 debits one ref
  // and credits another in ONE transaction). Every event posts a debit
  // to the `debits` table and the matching credit to the `credits`
  // table — two tables, one commitTransaction: the txn-file commit
  // point makes both versions visible at the same instant. The gate
  // REQUIREs (1) a killed transaction (crash before the commit point,
  // abort handler suppressed) leaves BOTH tables at their prior
  // versions — no half-state, the money-conservation invariant the
  // reference's bank example exists to prove; (2) after the second
  // (successful, retry-wrapped) transaction, debits + credits sum to
  // EXACTLY zero in integer cents across both tables. Output: per-
  // bucket account aggregate over the union of both tables vs the
  // latest-wins oracle on raw events.
  // ---------------------------------------------------------------------
  val txnTransferGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MS = graft.streaming.MergeSink
    val debits = java.nio.file.Files
      .createTempDirectory("graft_txn_debits").toString
    val credits = java.nio.file.Files
      .createTempDirectory("graft_txn_credits").toString
    val txnDir = java.nio.file.Files
      .createTempDirectory("graft_txn_log").toString
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val t1 = e.agg(max(col("event_id"))).head().getLong(0) / 2
    def debitHalf(pred: org.apache.spark.sql.Column) = e.filter(pred)
      .select(col("user_id").as("account"), col("event_id"),
        (-col("cents")).as("amount"))
    def creditHalf(pred: org.apache.spark.sql.Column) = e.filter(pred)
      .select((col("user_id") + 1000001L).as("account"), col("event_id"),
        col("cents").as("amount"))
    def writes(pred: org.apache.spark.sql.Column) = Seq(
      MS.TxnWrite(debits, "account", "event_id", debitHalf(pred)),
      MS.TxnWrite(credits, "account", "event_id", creditHalf(pred)))
    // txn 1: first half of the ledger, atomically into both tables
    MS.commitTransaction(s, txnDir, writes(col("event_id") <= t1))
    val vA = MS.commits(s, debits).map(_.version)
    val vB = MS.commits(s, credits).map(_.version)
    require(vA == Seq(0L) && vB == Seq(0L), s"txn1 versions: $vA / $vB")
    // a transaction KILLED before its commit point (abort suppressed,
    // as a crash would) leaves no half-state anywhere
    class Kill extends scala.util.control.ControlThrowable("kill")
    try {
      MS.commitTransaction(s, txnDir, writes(col("event_id") > t1),
        hook = k => if (k == "precommit") throw new Kill)
      require(false, "kill did not fire")
    } catch { case _: Kill => () }
    require(MS.commits(s, debits).map(_.version) == Seq(0L) &&
      MS.commits(s, credits).map(_.version) == Seq(0L),
      "killed transaction leaked a half-state")
    require(MS.currentState(s, debits).get.count() ==
      MS.currentState(s, credits).get.count(),
      "debit/credit row counts diverged after the kill")
    // txn 2: the rest. The killed attempt's claims belong to a dead
    // runId and block the next writer until the TTL — exactly what
    // VACUUM's torn-transaction sweep is for; age them past the lease
    // and run it, as an operator recovering from a crashed job would
    for (t <- Seq(debits, credits)) {
      val p = new org.apache.hadoop.fs.Path(t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_pending_") || n.startsWith("_claim_"))
          fs.setTimes(st.getPath,
            System.currentTimeMillis() - 16L * 60L * 1000L, -1L)
      }
      MS.vacuum(s, t)
    }
    MS.withCommitRetry() {
      MS.commitTransaction(s, txnDir, writes(col("event_id") > t1))
    }
    def read(t: String) = s.read.format("graft-merge")
      .option("path", t).option("key", "account").option("seq", "event_id")
      .load()
    val un = read(debits).unionByName(read(credits))
    // THE invariant: money is conserved across the two tables, exactly
    val total = un.agg(sum("amount")).head().getLong(0)
    require(total == 0L, s"conservation broken: $total cents")
    un.groupBy((col("account") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_acc"),
        sum(col("amount")).cast("long").as("total"))
      .orderBy(col("bucket"))
      .select(col("bucket"), col("n_acc"), col("total"))
  }

  val txnTransferGatedSql: String =
    """WITH st AS (
      |  SELECT user_id,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
      |  FROM events GROUP BY user_id),
      |un AS (
      |  SELECT user_id AS account, -cents AS amount FROM st
      |  UNION ALL
      |  SELECT user_id + 1000001 AS account, cents AS amount FROM st)
      |SELECT account % 10 AS bucket, count(*) AS n_acc,
      |  CAST(SUM(amount) AS BIGINT) AS total
      |FROM un GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_txn_stream — the cross-table transaction as an EXACTLY-ONCE
  // STREAMING SINK (MergeSink.txnSink): the event stream lands in
  // THREE micro-batches (maxFilesPerTrigger=1 over a 3-file source),
  // and every micro-batch commits its debit rows to one table and its
  // credit rows to another in ONE transaction — the bank ledger
  // (bank.clj:10-18) as a continuously-maintained pipeline. The gate
  // REQUIREs the two tables' commit histories in LOCKSTEP (same
  // (version, epoch) sequence — no table ever ran ahead), >= 2
  // micro-batches (the multi-epoch path, not one big batch), exact
  // conservation at the end, and the same per-bucket oracle as
  // q_txn_transfer. StateSpec drives the replay/crash matrix
  // (idempotent epoch replay, crash-after-commit-point completion,
  // crash-before re-staging) the oracle can't.
  // ---------------------------------------------------------------------
  val txnStreamGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MS = graft.streaming.MergeSink
    val debits = java.nio.file.Files
      .createTempDirectory("graft_txns_debits").toString
    val credits = java.nio.file.Files
      .createTempDirectory("graft_txns_credits").toString
    val txnDir = java.nio.file.Files
      .createTempDirectory("graft_txns_log").toString
    val src = java.nio.file.Files
      .createTempDirectory("graft_txns_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_txns_ckpt").toString
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val mx = e.agg(max(col("event_id"))).head().getLong(0)
    val (t1, t2) = (mx / 3, 2 * mx / 3)
    // three source files -> three micro-batches under AvailableNow
    Seq(
      col("event_id") <= t1,
      col("event_id") > t1 && col("event_id") <= t2,
      col("event_id") > t2)
      .foreach(p =>
        e.filter(p).coalesce(1).write.mode("append").parquet(src))
    def prepDebit(b: DataFrame) = b.select(
      col("user_id").as("account"), col("event_id"),
      (-round(col("value") * 100).cast("long")).as("amount"))
    def prepCredit(b: DataFrame) = b.select(
      (col("user_id") + 1000001L).as("account"), col("event_id"),
      round(col("value") * 100).cast("long").as("amount"))
    withStatePartitions(s, 8) {
      val stream = s.readStream
        .schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = MS.txnSink(
        stream, txnDir,
        Seq(
          MS.TxnTarget(debits, "account", "event_id", prepDebit),
          MS.TxnTarget(credits, "account", "event_id", prepCredit)),
        ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val hA = MS.commits(s, debits).map(c => (c.version, c.epoch))
    val hB = MS.commits(s, credits).map(c => (c.version, c.epoch))
    require(hA == hB,
      s"ledger tables diverged — atomicity broken: $hA vs $hB")
    require(hA.size >= 2,
      s"expected multiple micro-batch transactions, got $hA")
    def read(t: String) = s.read.format("graft-merge")
      .option("path", t).option("key", "account").option("seq", "event_id")
      .load()
    val un = read(debits).unionByName(read(credits))
    require(un.agg(sum("amount")).head().getLong(0) == 0L,
      "conservation broken across the streamed ledger")
    un.groupBy((col("account") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_acc"),
        sum(col("amount")).cast("long").as("total"))
      .orderBy(col("bucket"))
      .select(col("bucket"), col("n_acc"), col("total"))
  }

  val mergeRaceGatedSql: String =
    """WITH st AS (
      |  SELECT e.user_id, max(e.event_id) AS last_id,
      |    arg_max(e.value, e.event_id) AS last_val
      |  FROM events e GROUP BY e.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // MATERIALIZED VIEWS (MaterializedViews): the event ledger lands in a
  // merge table in two commits — v0 = the ids not divisible by 3; v1
  // confines inserts (id%3=0), updates (+7 cents where id%5=0) and
  // deletes (id%7=0 among the remainder) to groups with grp % 5 = 0 —
  // a ~1/5 subset of whatever groups the SF exhibits, so an
  // incremental refresh provably touches a strict subset at EVERY SF
  // (sf0.001 exhibits only 15 of the 97 possible groups).
  // Shared by the three q_mv_*/q_catalog_mv lanes.
  // ---------------------------------------------------------------------
  // NULL lane: every 11th event carries NULL cents — the algebraic
  // fold must pass stored sums through an all-NULL delta (SQL SUM
  // ignores NULL inputs; stored + NULL must never poison the view)
  private def mvSourceRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      (col("user_id") % 97).as("grp"),
      when(col("event_id") % 11 === 0, lit(null).cast("long"))
        .otherwise(round(col("value") * 100).cast("long")).as("cents"))

  private def mvLoadV0(e: DataFrame, dir: String): Unit =
    graft.streaming.MergeSink.upsertBatch(
      e.filter(col("event_id") % 3 =!= 0).withColumn("rv", lit(1L)),
      dir, "event_id", "rv", epochId = 0L, runId = "load")

  private def mvLoadV1(e: DataFrame, dir: String): Unit = {
    val narrow = col("grp") % 5 === 0
    val ins = e.filter(col("event_id") % 3 === 0 && narrow)
      .withColumn("rv", lit(2L)).withColumn("__deleted", lit(false))
    val upd = e.filter(col("event_id") % 3 =!= 0 &&
        col("event_id") % 5 === 0 && narrow)
      .withColumn("cents", col("cents") + 7L)
      .withColumn("rv", lit(2L)).withColumn("__deleted", lit(false))
    val del = e.filter(col("event_id") % 3 =!= 0 &&
        col("event_id") % 5 =!= 0 && col("event_id") % 7 === 0 && narrow)
      .withColumn("rv", lit(2L)).withColumn("__deleted", lit(true))
    graft.streaming.MergeSink.upsertBatch(
      ins.unionByName(upd).unionByName(del),
      dir, "event_id", "rv", epochId = 1L, runId = "load")
  }

  /** The two lanes' shared oracle arithmetic over the raw events. */
  private def mvOracleWith: String =
    """WITH base AS (
      |  SELECT event_id, user_id % 97 AS grp,
      |    CASE WHEN event_id % 11 = 0 THEN NULL
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events),
      |final AS (
      |  SELECT grp, CASE WHEN grp % 5 = 0 AND event_id % 5 = 0
      |    THEN cents + 7 ELSE cents END AS cents
      |  FROM base
      |  WHERE event_id % 3 <> 0
      |    AND NOT (grp % 5 = 0 AND event_id % 5 <> 0 AND event_id % 7 = 0)
      |  UNION ALL
      |  SELECT grp, cents FROM base WHERE event_id % 3 = 0 AND grp % 5 = 0)
      |""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_refresh — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE, algebraic
  // mode: the view (per-group sum + count) materializes at source v0,
  // then advances to v1 by folding the retraction delta
  // (MergeSink.changeDelta) into the stored aggregates — ZERO source
  // re-aggregation, and the gate REQUIREs the refresh wrote only the
  // ≤ 20 changed groups (of 97), a second refresh is a no-op, and a
  // REPLAYED refresh commit is idempotent (exactly-once via the
  // (runId, epoch=source version) contract). Oracle: the full
  // aggregate over the final source state — the refresh must converge
  // to exactly the from-scratch answer.
  // ---------------------------------------------------------------------
  val mvRefreshGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val src = java.nio.file.Files.createTempDirectory("graft_mv_src").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mv_v").toString
    val aggs = Seq(MV.Agg("total", "sum", "cents"), MV.Agg("n", "count", "*"))
    val e = mvSourceRows(s, d)
    val touchable = e.filter(col("grp") % 5 === 0)
      .select(col("grp")).distinct().count()
    mvLoadV0(e, src)
    val g0 = MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "algebraic")
    require(g0 > touchable, s"initial materialization too small: $g0 groups")
    mvLoadV1(e, src)
    val g1 = MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "algebraic")
    require(g1 >= 1L && g1 <= touchable,
      s"algebraic refresh must write only the <= $touchable changed groups, wrote $g1")
    // already current -> no-op; and the view advanced in exactly 2 commits
    require(MV.refreshDir(
      s, src, "event_id", mv, Seq("grp"), aggs, "algebraic") == 0L,
      "refresh at head must be a no-op")
    val MS = graft.streaming.MergeSink
    require(MS.commits(s, mv).map(_.version) == Seq(0L, 1L),
      "view history must be initial + one incremental commit")
    MS.currentState(s, mv).get
      .select(col("grp"), col("total"), col("n"))
      .orderBy(col("grp"))
  }

  val mvRefreshGatedSql: String =
    mvOracleWith +
      """SELECT grp, CAST(SUM(cents) AS BIGINT) AS total,
        |  count(*) AS n
        |FROM final GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_rewrite — TRANSPARENT VIEW ROUTING: the same maintained view
  // as q_mv_refresh, but the measured query is a plain GROUP BY over
  // the SOURCE scan with spark.graft.mvRewrite=true — the optimizer
  // must route it to the fresh view (REQUIREd: the executed plan scans
  // the view directory and contains NO aggregate operator at all; the
  // answer is the stored one, read, not recomputed). The oracle is the
  // direct aggregate over the raw events — a wrong or stale rewrite is
  // hash-visible. At 100 TB this is O(groups) read vs O(fact) scan +
  // shuffle + aggregate.
  // ---------------------------------------------------------------------
  val mvRewriteGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val src = java.nio.file.Files.createTempDirectory("graft_mvw_src").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvw_v").toString
    val aggs = Seq(MV.Agg("total", "sum", "cents"), MV.Agg("n", "count", "*"))
    val e = mvSourceRows(s, d)
    mvLoadV0(e, src)
    MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "algebraic")
    mvLoadV1(e, src)
    MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "algebraic")
    s.conf.set("spark.graft.mvRewrite", "true")
    try {
      val scan = s.read.format("graft-merge")
        .option("path", src).option("key", "event_id").option("seq", "rv")
        .load()
      val out = scan.groupBy(col("grp"))
        .agg(sum(col("cents")).as("total"), count(lit(1)).as("n"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains(mv),
        s"mv rewrite did not engage (no view scan in plan):\n$plan")
      require(!plan.toLowerCase(java.util.Locale.ROOT).contains("aggregate"),
        s"mv rewrite must READ the answer, not re-aggregate:\n$plan")
      val ordered = out.orderBy(col("grp"))
      // Return the REWRITTEN logical plan itself (optimization already
      // replaced the aggregate with the view projection), so the frame
      // Verify/Bench materialize AFTER the conf resets still executes
      // the rewrite — the oracle hash pins the rewritten VALUES, not
      // the fallback aggregate's. Re-optimizing this plan with the
      // rule off is a no-op: there is no Aggregate left to rewrite.
      val rewritten = ordered.queryExecution.optimizedPlan
      require(rewritten.toString.contains(mv),
        s"rewritten logical plan lost the view scan:\n$rewritten")
      org.apache.spark.sql.graft.Exprs.ofRows(s, rewritten)
    } finally s.conf.unset("spark.graft.mvRewrite")
  }

  // ---------------------------------------------------------------------
  // q_mv_rollup — ROLLUP REWRITE: the maintained view groups by the
  // FINER set (grp, sub); the measured query groups by grp alone. The
  // optimizer must serve it by RE-AGGREGATING the O(groups) view —
  // sum of stored sums, sum of stored counts — never the fact.
  // REQUIREd: the executed plan scans the view directory and does NOT
  // scan the source. Oracle: the direct aggregate over the raw
  // events. At 100 TB every coarser-than-the-view grouping (daily →
  // monthly, per-sku → per-category) rides the same view.
  // ---------------------------------------------------------------------
  val mvRollupGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val src = java.nio.file.Files.createTempDirectory("graft_mvu_src").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvu_v").toString
    val aggs = Seq(MV.Agg("total", "sum", "cents"), MV.Agg("n", "count", "*"))
    val e = mvSourceRows(s, d)
      .withColumn("sub", (col("event_id") % 2).cast("long"))
    mvLoadV0(e, src)
    MV.refreshDir(s, src, "event_id", mv, Seq("grp", "sub"), aggs, "algebraic")
    mvLoadV1(e, src)
    MV.refreshDir(s, src, "event_id", mv, Seq("grp", "sub"), aggs, "algebraic")
    s.conf.set("spark.graft.mvRewrite", "true")
    try {
      val scan = s.read.format("graft-merge")
        .option("path", src).option("key", "event_id").option("seq", "rv")
        .load()
      val out = scan.groupBy(col("grp"))
        .agg(sum(col("cents")).as("total"), count(lit(1)).as("n"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains(mv),
        s"rollup rewrite did not engage (no view scan in plan):\n$plan")
      require(!plan.contains(src),
        s"rollup rewrite must never scan the FACT:\n$plan")
      val ordered = out.orderBy(col("grp"))
      val rewritten = ordered.queryExecution.optimizedPlan
      require(rewritten.toString.contains(mv),
        s"rewritten logical plan lost the view scan:\n$rewritten")
      org.apache.spark.sql.graft.Exprs.ofRows(s, rewritten)
    } finally s.conf.unset("spark.graft.mvRewrite")
  }

  val mvRollupGatedSql: String = mvRefreshGatedSql

  // ---------------------------------------------------------------------
  // q_mv_rewrite_join — JOIN-VIEW REWRITE: the measured query is the
  // full fact ⋈ dim GROUP BY category aggregate (incl. the derived
  // avg); the optimizer must recognize the join graph as the one a
  // maintained join view was declared on and serve the STORED answer —
  // the join AND the aggregate both disappear (REQUIREd: no aggregate,
  // no join, no fact/dim scan in the executed plan). Oracle: the
  // from-scratch join aggregate over the raw events.
  // ---------------------------------------------------------------------
  val mvRewriteJoinGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val MS = graft.streaming.MergeSink
    val fact = java.nio.file.Files.createTempDirectory("graft_mvwj_f").toString
    val dim = java.nio.file.Files.createTempDirectory("graft_mvwj_d").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvwj_v").toString
    val e = mvSourceRows(s, d)
    mvLoadV0(e, fact)
    MS.upsertBatch(
      s.range(97).select(col("id").as("gid"),
        (col("id") % 10).as("category")).withColumn("drv", lit(1L)),
      dim, "gid", "drv", 0L, "load")
    val aggs = Seq(MV.Agg("total", "sum", "cents"),
      MV.Agg("n", "count", "*"), MV.Agg("avgc", "avg", "cents"))
    MV.refreshDir(s, fact, "event_id", mv, Seq("category"), aggs,
      "algebraic", dims = Seq(MV.StarDim(dim, "gid", "grp", "gid")))
    s.conf.set("spark.graft.mvRewrite", "true")
    try {
      def scanOf(dir: String, key: String, seq: String) =
        s.read.format("graft-merge")
          .option("path", dir).option("key", key).option("seq", seq).load()
      val out = scanOf(fact, "event_id", "rv")
        .join(scanOf(dim, "gid", "drv"), col("grp") === col("gid"))
        .groupBy(col("category"))
        .agg(sum(col("cents")).as("total"), count(lit(1)).as("n"),
          avg(col("cents")).as("avgc"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains(mv),
        s"join-view rewrite did not engage (no view scan in plan):\n$plan")
      val lower = plan.toLowerCase(java.util.Locale.ROOT)
      require(!lower.contains("aggregate") && !lower.contains("join"),
        s"join-view rewrite must READ the answer (no agg, no join):\n$plan")
      require(!plan.contains(fact) && !plan.contains(dim),
        s"join-view rewrite must scan neither source:\n$plan")
      val ordered = out.orderBy(col("category"))
      val rewritten = ordered.queryExecution.optimizedPlan
      require(rewritten.toString.contains(mv),
        s"rewritten logical plan lost the view scan:\n$rewritten")
      org.apache.spark.sql.graft.Exprs.ofRows(s, rewritten)
    } finally s.conf.unset("spark.graft.mvRewrite")
  }

  val mvRewriteJoinGatedSql: String =
    mvOracleWith +
      """, v0 AS (
        |  SELECT grp, cents FROM base WHERE event_id % 3 <> 0),
        |dim AS (
        |  SELECT gid, gid % 10 AS category
        |  FROM (SELECT unnest(range(0, 97)) AS gid))
        |SELECT category, CAST(SUM(cents) AS BIGINT) AS total,
        |  count(*) AS n,
        |  CASE WHEN count(cents) = 0 THEN NULL
        |    ELSE CAST(SUM(cents) AS DOUBLE) / count(cents) END AS avgc
        |FROM v0 JOIN dim ON v0.grp = dim.gid
        |GROUP BY category ORDER BY category""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_rescan — the same view maintenance for NON-self-maintainable
  // aggregates (min/max cannot fold a delete): rescan mode recomputes
  // ONLY the groups the delta touched via a semi-join-pruned source
  // pass. The v1 deletes remove candidate minima, so a wrong
  // (algebraic-style) fold is oracle-visible. Same ≤ 20-group cost
  // bound, same convergence oracle.
  // ---------------------------------------------------------------------
  val mvRescanGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val src = java.nio.file.Files.createTempDirectory("graft_mvr_src").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvr_v").toString
    val aggs = Seq(MV.Agg("mn", "min", "cents"), MV.Agg("mx", "max", "cents"),
      MV.Agg("n", "count", "*"))
    val e = mvSourceRows(s, d)
    val touchable = e.filter(col("grp") % 5 === 0)
      .select(col("grp")).distinct().count()
    mvLoadV0(e, src)
    val g0 = MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "rescan")
    require(g0 > touchable, s"initial materialization too small: $g0 groups")
    mvLoadV1(e, src)
    val g1 = MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs, "rescan")
    require(g1 >= 1L && g1 <= touchable,
      s"rescan refresh must recompute only the <= $touchable touched groups, wrote $g1")
    require(MV.refreshDir(
      s, src, "event_id", mv, Seq("grp"), aggs, "rescan") == 0L,
      "refresh at head must be a no-op")
    graft.streaming.MergeSink.currentState(s, mv).get
      .select(col("grp"), col("mn"), col("mx"), col("n"))
      .orderBy(col("grp"))
  }

  val mvRescanGatedSql: String =
    mvOracleWith +
      """SELECT grp, CAST(MIN(cents) AS BIGINT) AS mn,
        |  CAST(MAX(cents) AS BIGINT) AS mx, count(*) AS n
        |FROM final GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q_catalog_mv — the MATERIALIZED VIEW as a CATALOG CITIZEN, end to
  // end through SQL: CREATE TABLE + INSERT the v0 ledger, CALL
  // cat.sys.create_mv (definition persists as graft.mv.* properties;
  // first refresh materializes in full), apply the v1 inserts/updates
  // with INSERT and the deletes with row-level DELETE, CALL
  // cat.sys.refresh_mv and REQUIRE it reports only the changed groups,
  // then read the view back as an ordinary catalog table. Same
  // convergence oracle as q_mv_refresh.
  // ---------------------------------------------------------------------
  val catalogMvGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gmv$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_mv_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.src (event_id BIGINT, grp BIGINT,
         |cents BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'event_id', seq 'rv')
         |""".stripMargin)
    // the source accrues 3 commits before the incremental refresh reads
    // v0 -> head; default retention (keep 2) would GC v0 and force the
    // full-rebuild fallback — widen it, as any CDC consumer must
    s.sql(s"CALL $cat.sys.set_history_keep('g.src', 6)")
    val view = s"graft_mv_events_$nRun"
    mvSourceRows(s, d).createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.g.src
             |SELECT event_id, grp, cents, 1 AS rv FROM $view
             |WHERE event_id % 3 <> 0""".stripMargin)
    val touchable = mvSourceRows(s, d).filter(col("grp") % 5 === 0)
      .select(col("grp")).distinct().count()
    val created = s.sql(
      s"""CALL $cat.sys.create_mv('g.mv', 'g.src', 'grp',
         |'total=sum:cents,n=count:*', 'algebraic')""".stripMargin)
      .head().getInt(0)
    require(created > touchable, s"create_mv materialized too little: $created")
    // day-2: inserts + updates via INSERT (latest-wins upsert), the
    // deletes via row-level DELETE — all confined to grp % 5 = 0
    s.sql(s"""INSERT INTO $cat.g.src
             |SELECT event_id, grp,
             |  CASE WHEN event_id % 3 <> 0 AND event_id % 5 = 0
             |    THEN cents + 7 ELSE cents END,
             |  2 AS rv
             |FROM $view
             |WHERE grp % 5 = 0 AND (event_id % 3 = 0 OR event_id % 5 = 0)
             |""".stripMargin)
    s.sql(s"""DELETE FROM $cat.g.src
             |WHERE grp % 5 = 0 AND event_id % 3 <> 0
             |  AND event_id % 5 <> 0 AND event_id % 7 = 0""".stripMargin)
    val refreshed = s.sql(s"CALL $cat.sys.refresh_mv('g.mv')").head().getInt(0)
    require(refreshed >= 1 && refreshed <= touchable,
      s"refresh_mv must fold only the <= $touchable changed groups, wrote $refreshed")
    require(s.sql(s"CALL $cat.sys.refresh_mv('g.mv')").head().getInt(0) == 0,
      "refresh_mv at head must be a no-op")
    s.sql(s"SELECT grp, total, n FROM $cat.g.mv ORDER BY grp")
  }

  val catalogMvGatedSql: String =
    mvRefreshGatedSql

  // ---------------------------------------------------------------------
  // q_merge_wap — WRITE-AUDIT-PUBLISH gated end to end: the second half
  // of the event log STAGES under a wap id (full commit machinery, zero
  // visibility — the gate REQUIREs head, count and history unchanged),
  // the audit reads the complete future state (carried buckets + staged
  // rows) and its row count is the quality gate, then ONE atomic file
  // create publishes. A tag pins the pre-publish snapshot and the gate
  // REQUIREs `VERSION AS OF '<tag>'` still answers with the old state
  // after publish. Output: the latest-wins aggregate over the full log
  // — publishing staged bytes must equal having committed them directly.
  // ---------------------------------------------------------------------
  val mergeWapGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MS = graft.streaming.MergeSink
    val t = java.nio.file.Files.createTempDirectory("graft_wap_tbl").toString
    MS.setHistoryKeep(s, t, 8)
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val mid = e.agg(max(col("event_id"))).head().getLong(0) / 2
    MS.upsertBatch(e.filter(col("event_id") <= mid),
      t, "user_id", "event_id", 0L, "load")
    val preCount = MS.currentState(s, t).get.count()
    // STAGE day 2 — invisible until published
    val staged = MS.wapStage(e.filter(col("event_id") > mid),
      t, "user_id", "event_id", "day2")
    require(staged == 1L, s"stage reserved v$staged, expected v1")
    require(MS.commits(s, t).map(_.version) == Seq(0L),
      "staged wap leaked into the commit history")
    require(MS.currentState(s, t).get.count() == preCount,
      "staged wap leaked rows to readers")
    // AUDIT the future state: every user present exactly once
    val audit = MS.wapAudit(s, t, "day2").get
    val users = e.select(col("user_id")).distinct().count()
    require(audit.count() == users &&
      audit.select(col("user_id")).distinct().count() == users,
      "audit must see the complete deduped future state")
    // pin the pre-publish snapshot by name, then PUBLISH
    MS.createTag(s, t, "pre-day2", 0L)
    require(MS.wapPublish(s, t, "day2") == 1L)
    require(MS.commits(s, t).map(_.version) == Seq(0L, 1L),
      "publish must mint exactly the staged version")
    def read(v: Option[String]) = {
      val r = s.read.format("graft-merge")
        .option("path", t).option("key", "user_id").option("seq", "event_id")
      v.fold(r)(tag => r.option("versionAsOf", tag)).load()
    }
    require(read(Some("pre-day2")).count() == preCount,
      "the tagged pre-publish snapshot must still answer")
    read(None)
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("event_id")).cast("long").as("id_total"),
        sum(col("cents")).cast("long").as("cents_total"))
      .orderBy(col("bucket"))
      .select(col("bucket"), col("n_keys"), col("id_total"),
        col("cents_total"))
  }

  val mergeWapGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS last_cents
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(last_cents) AS BIGINT) AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_stream — the CONTINUOUSLY MAINTAINED VIEW: the event ledger
  // streams into the source table in >= 2 micro-batches and EVERY
  // micro-batch also advances the materialized per-group aggregate
  // (MaterializedViews.maintainedSink: source upsert + algebraic
  // refresh in one foreachBatch, each leg independently exactly-once).
  // The gate REQUIREs the view committed once per data epoch (it was
  // fresh at every point, not rebuilt at the end) and converged to the
  // from-scratch aggregate — the DuckDB oracle over the full ledger.
  // ---------------------------------------------------------------------
  val mvStreamGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val MS = graft.streaming.MergeSink
    val src = java.nio.file.Files.createTempDirectory("graft_mvs_src").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvs_v").toString
    val files = java.nio.file.Files.createTempDirectory("graft_mvs_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mvs_ck").toString
    val aggs = Seq(MV.Agg("total", "sum", "cents"), MV.Agg("n", "count", "*"))
    val e = mvSourceRows(s, d)
    val mx = e.agg(max(col("event_id"))).head().getLong(0)
    // three source files -> three micro-batches under AvailableNow
    Seq(col("event_id") <= mx / 3,
      col("event_id") > mx / 3 && col("event_id") <= 2 * mx / 3,
      col("event_id") > 2 * mx / 3)
      .foreach(p => e.filter(p).withColumn("rv", lit(1L))
        .coalesce(1).write.mode("append").parquet(files))
    withStatePartitions(s, 8) {
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("grp",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cents",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rv",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(files)
      val q = MV.maintainedSink(
        stream, src, "event_id", "rv", ckpt, mv, Seq("grp"), aggs,
        "algebraic")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val srcCommits = MS.commits(s, src).size
    val mvCommits = MS.commits(s, mv).size
    require(srcCommits >= 2 && mvCommits == srcCommits,
      s"view must advance once per data epoch: src $srcCommits, mv $mvCommits")
    // at head: one more refresh is free
    require(MV.refreshDir(s, src, "event_id", mv, Seq("grp"), aggs,
      "algebraic") == 0L, "refresh at head must be a no-op")
    MS.currentState(s, mv).get
      .select(col("grp"), col("total"), col("n"))
      .orderBy(col("grp"))
  }

  val mvStreamGatedSql: String =
    """WITH base AS (
      |  SELECT user_id % 97 AS grp,
      |    CASE WHEN event_id % 11 = 0 THEN NULL
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events)
      |SELECT grp, CAST(SUM(cents) AS BIGINT) AS total, count(*) AS n
      |FROM base GROUP BY grp ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_constraint — CHECK CONSTRAINTS gated end to end: the table
  // declares 'cents >= 0' and 'user_id IS NOT NULL'; a poisoned batch
  // (negated cents on every 11th event) is REJECTED with the violating
  // constraint named and the gate REQUIREs the table is completely
  // untouched (no commit, no claim, no version minted); the clean
  // batch then admits normally. Output: the latest-wins aggregate —
  // enforcement must be pure admission control, invisible in the data.
  // ---------------------------------------------------------------------
  val mergeConstraintGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MS = graft.streaming.MergeSink
    val t = java.nio.file.Files.createTempDirectory("graft_ck_tbl").toString
    MS.setCheckConstraint(s, t, "nonneg", "cents >= 0")
    MS.setCheckConstraint(s, t, "has-user", "user_id IS NOT NULL")
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val poisoned = e.withColumn("cents",
      when(col("event_id") % 11 === 0, -col("cents") - 1L)
        .otherwise(col("cents")))
    val err =
      try { MS.upsertBatch(poisoned, t, "user_id", "event_id", 0L, "load"); "" }
      catch { case v: MS.ConstraintViolationException => v.getMessage }
    require(err.contains("nonneg"),
      s"poisoned batch must be rejected by 'nonneg', got: $err")
    require(MS.commits(s, t).isEmpty && MS.lastCommit(s, t).isEmpty,
      "rejected batch must leave the table unborn")
    MS.upsertBatch(e, t, "user_id", "event_id", 0L, "load")
    require(MS.commits(s, t).map(_.version) == Seq(0L))
    s.read.format("graft-merge")
      .option("path", t).option("key", "user_id").option("seq", "event_id")
      .load()
      .groupBy((col("user_id") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cents")).cast("long").as("cents_total"))
      .orderBy(col("bucket"))
      .select(col("bucket"), col("n_keys"), col("cents_total"))
  }

  val mergeConstraintGatedSql: String =
    """WITH st AS (
      |  SELECT user_id,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS last_cents
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 7 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_cents) AS BIGINT) AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_join — MATERIALIZED VIEW OVER A STAR JOIN, maintained by
  // delta-join IVM (one pass per moved side over the retraction
  // streams, MaterializedViews.refreshDir with one dim): the event
  // ledger is the fact (reusing the q_mv_* v0/v1 load shapes incl. the
  // NULL-cents lane), a 97-row gid→category dim is the dimension, and
  // the view holds sum + count + the DERIVED avg per category. Day 2 changes BOTH
  // sides — fact inserts/updates/deletes confined to grp % 5 = 0
  // (≤ 2 of the 10 categories, cost bound REQUIREd) and a dim
  // recategorization + dim-row deletion (≤ 3 categories) — and the
  // gate REQUIREs each refresh wrote only the touched categories.
  // Oracle: the from-scratch join aggregate over the raw events.
  // ---------------------------------------------------------------------
  val mvJoinGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val MS = graft.streaming.MergeSink
    val fact = java.nio.file.Files.createTempDirectory("graft_mvj_f").toString
    val dim = java.nio.file.Files.createTempDirectory("graft_mvj_d").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvj_v").toString
    MS.setHistoryKeep(s, fact, 8)
    MS.setHistoryKeep(s, dim, 8)
    val e = mvSourceRows(s, d)
    mvLoadV0(e, fact)
    MS.upsertBatch(
      s.range(97).select(col("id").as("gid"),
        (col("id") % 10).as("category")).withColumn("drv", lit(1L)),
      dim, "gid", "drv", 0L, "load")
    val aggs = Seq(MV.Agg("total", "sum", "cents"),
      MV.Agg("n", "count", "*"), MV.Agg("avgc", "avg", "cents"))
    def refresh(): Long = MV.refreshDir(
      s, fact, "event_id", mv, Seq("category"), aggs, "algebraic",
      dims = Seq(MV.StarDim(dim, "gid", "grp", "gid")))
    val g0 = refresh()
    require(g0 >= 3, s"initial join materialization too small: $g0")
    // day 2a: FACT side — the shared v1 shape (grp % 5 = 0 only)
    mvLoadV1(e, fact)
    val g1 = refresh()
    require(g1 >= 1 && g1 <= 2,
      s"fact delta (grps % 5 = 0 -> categories 0,5) must fold <= 2 " +
        s"categories, wrote $g1")
    // day 2b: DIM side — gid 5 recategorizes 5 -> 7; gid 0 leaves
    // (its facts drop out of the inner join): F@old ⋈ ΔD at work
    MS.upsertBatch(
      s.range(1).select(lit(5L).as("gid"), lit(7L).as("category"),
        lit(2L).as("drv"), lit(false).as("__deleted"))
        .unionByName(s.range(1).select(lit(0L).as("gid"),
          lit(0L).as("category"), lit(2L).as("drv"),
          lit(true).as("__deleted"))),
      dim, "gid", "drv", 1L, "load")
    val g2 = refresh()
    require(g2 >= 1 && g2 <= 3,
      s"dim delta (cats 0, 5, 7) must fold <= 3 categories, wrote $g2")
    require(refresh() == 0L, "refresh at both heads must be a no-op")
    MS.currentState(s, mv).get
      .select(col("category"), col("total"), col("n"), col("avgc"))
      .orderBy(col("category"))
  }

  val mvJoinGatedSql: String =
    mvOracleWith +
      """, dim AS (
        |  SELECT gid, CASE WHEN gid = 5 THEN 7 ELSE gid % 10 END AS category
        |  FROM (SELECT unnest(range(0, 97)) AS gid) WHERE gid <> 0)
        |SELECT category, CAST(SUM(cents) AS BIGINT) AS total,
        |  count(*) AS n,
        |  CASE WHEN count(cents) = 0 THEN NULL
        |    ELSE CAST(SUM(cents) AS DOUBLE) / count(cents) END AS avgc
        |FROM final JOIN dim ON final.grp = dim.gid
        |GROUP BY category ORDER BY category""".stripMargin

  // ---------------------------------------------------------------------
  // q_mv_star — MATERIALIZED VIEW OVER A MULTI-DIM STAR (one fact ⋈
  // TWO dims), maintained by per-source delta-join IVM
  // (MaterializedViews.refreshDir with two dims): the delta algebra
  // telescopes into one single-source pass per moved source — Δsource
  // ⋈ every other side PINNED at its working version — each pass
  // exactly-once under the view's version-vector watermark (no
  // bit-packed versions, no out-of-band state). Day 2 moves ALL THREE sources (the shared
  // fact v1 shape incl. the NULL-cents lane, a dim-1 recategorize +
  // delete, a dim-2 rezone + delete) and the gate REQUIREs each
  // refresh wrote only the touched (category, zone) groups. Oracle:
  // the from-scratch 3-table join aggregate over the raw events.
  // ---------------------------------------------------------------------
  val mvStarGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MV = graft.sources.MaterializedViews
    val MS = graft.streaming.MergeSink
    val fact = java.nio.file.Files.createTempDirectory("graft_mvs_f").toString
    val dim1 = java.nio.file.Files.createTempDirectory("graft_mvs_d1").toString
    val dim2 = java.nio.file.Files.createTempDirectory("graft_mvs_d2").toString
    val mv = java.nio.file.Files.createTempDirectory("graft_mvs_v").toString
    Seq(fact, dim1, dim2).foreach(MS.setHistoryKeep(s, _, 8))
    // fact: the shared mv ledger + a SECOND fk (site, stable in
    // event_id so updates never move a row between dims' keys)
    val e = mvSourceRows(s, d).withColumn("site", col("event_id") % 7)
    mvLoadV0(e, fact)
    MS.upsertBatch(
      s.range(97).select(col("id").as("gid"),
        (col("id") % 10).as("category")).withColumn("drv", lit(1L)),
      dim1, "gid", "drv", 0L, "load")
    MS.upsertBatch(
      s.range(7).select(col("id").as("sid"),
        (col("id") % 3).as("zone")).withColumn("drv", lit(1L)),
      dim2, "sid", "drv", 0L, "load")
    val aggs = Seq(MV.Agg("total", "sum", "cents"),
      MV.Agg("n", "count", "*"), MV.Agg("avgc", "avg", "cents"))
    val dims = Seq(
      MV.StarDim(dim1, "gid", "grp", "gid"),
      MV.StarDim(dim2, "sid", "site", "sid"))
    def refresh(): Long = MV.refreshDir(
      s, fact, "event_id", mv, Seq("category", "zone"), aggs, "algebraic",
      dims = dims)
    val g0 = refresh()
    require(g0 >= 6, s"initial star materialization too small: $g0")
    // day 2a: FACT — the shared v1 shape (grp % 5 = 0 -> categories
    // {0,5} x <= 7 zones)
    mvLoadV1(e, fact)
    val g1 = refresh()
    require(g1 >= 1 && g1 <= 14,
      s"fact delta must fold <= 14 (category,zone) groups, wrote $g1")
    // day 2b: DIM 1 — gid 5 recategorizes 5 -> 7; gid 0 leaves (its
    // facts drop out of the join): Δdim1 ⋈ fact@applied ⋈ dim2@applied
    MS.upsertBatch(
      s.range(1).select(lit(5L).as("gid"), lit(7L).as("category"),
        lit(2L).as("drv"), lit(false).as("__deleted"))
        .unionByName(s.range(1).select(lit(0L).as("gid"),
          lit(0L).as("category"), lit(2L).as("drv"),
          lit(true).as("__deleted"))),
      dim1, "gid", "drv", 1L, "load")
    val g2 = refresh()
    require(g2 >= 1 && g2 <= 21,
      s"dim-1 delta (cats 0,5,7) must fold <= 21 groups, wrote $g2")
    // day 2c: DIM 2 — sid 3 rezones 0 -> 9; sid 6 leaves
    MS.upsertBatch(
      s.range(1).select(lit(3L).as("sid"), lit(9L).as("zone"),
        lit(2L).as("drv"), lit(false).as("__deleted"))
        .unionByName(s.range(1).select(lit(6L).as("sid"),
          lit(0L).as("zone"), lit(2L).as("drv"),
          lit(true).as("__deleted"))),
      dim2, "sid", "drv", 1L, "load")
    val g3 = refresh()
    require(g3 >= 1 && g3 <= 22,
      s"dim-2 delta (zones 0,9) must fold <= 22 groups, wrote $g3")
    require(refresh() == 0L, "refresh at all three heads must be a no-op")
    MS.currentState(s, mv).get
      .select(col("category"), col("zone"), col("total"), col("n"),
        col("avgc"))
      .orderBy(col("category"), col("zone"))
  }

  val mvStarGatedSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id % 97 AS grp,
      |    CASE WHEN event_id % 11 = 0 THEN NULL
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events),
      |final AS (
      |  SELECT event_id, grp, CASE WHEN grp % 5 = 0 AND event_id % 5 = 0
      |    THEN cents + 7 ELSE cents END AS cents
      |  FROM base
      |  WHERE event_id % 3 <> 0
      |    AND NOT (grp % 5 = 0 AND event_id % 5 <> 0 AND event_id % 7 = 0)
      |  UNION ALL
      |  SELECT event_id, grp, cents FROM base
      |  WHERE event_id % 3 = 0 AND grp % 5 = 0)
      |""".stripMargin +
      """, dim1 AS (
        |  SELECT gid, CASE WHEN gid = 5 THEN 7 ELSE gid % 10 END AS category
        |  FROM (SELECT unnest(range(0, 97)) AS gid) WHERE gid <> 0),
        |dim2 AS (
        |  SELECT sid, CASE WHEN sid = 3 THEN 9 ELSE sid % 3 END AS zone
        |  FROM (SELECT unnest(range(0, 7)) AS sid) WHERE sid <> 6)
        |SELECT category, zone, CAST(SUM(cents) AS BIGINT) AS total,
        |  count(*) AS n,
        |  CASE WHEN count(cents) = 0 THEN NULL
        |    ELSE CAST(SUM(cents) AS DOUBLE) / count(cents) END AS avgc
        |FROM final
        |JOIN dim1 ON final.grp = dim1.gid
        |JOIN dim2 ON (final.event_id % 7) = dim2.sid
        |GROUP BY category, zone ORDER BY category, zone""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_partitioned — TIME-PARTITIONED MERGE TABLE gated end to
  // end: the event ledger lands in a day-partitioned layout (global
  // bucket id = epochDay * nb + hash(key) % nb — the two-level
  // p=<day>/b=<bucket> organization a 100 TB fact table lives in). The
  // gate REQUIREs (1) a mid-month window read plans only the window's
  // partitions (manifest-level pruning, before any file or footer),
  // (2) retiring the first week via dropPartitions is ONE metadata
  // commit — zero data moved, and (3) the pre-drop snapshot still
  // time-travels in full. Output: the per-day aggregate over the
  // retained days — the DuckDB oracle recomputes it from the raw
  // events with the same date cutoff.
  // ---------------------------------------------------------------------
  val mergePartitionedGated: (SparkSession, String) => DataFrame = (s, d) => {
    val MS = graft.streaming.MergeSink
    val t = java.nio.file.Files.createTempDirectory("graft_part_tbl").toString
    MS.setPartitionSpec(s, t, "day", "day", 4)
    MS.setHistoryKeep(s, t, 8)
    val e = Tables.events(s, d).select(
      to_date(col("ts")).as("day"),
      col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val total = e.count()
    MS.upsertBatch(e.withColumn("rv", lit(1L)),
      t, "day,event_id", "rv", 0L, "load")
    def read() = s.read.format("graft-merge")
      .option("path", t).option("key", "day,event_id").option("seq", "rv")
      .load()
    val days = e.select(col("day")).distinct().count()
    // (1) window read prunes to the window's partitions
    graft.sources.GraftMergeScan.lastPrune.set(null)
    read()
      .filter(col("day") >= lit(java.sql.Date.valueOf("2024-01-10")) &&
        col("day") <= lit(java.sql.Date.valueOf("2024-01-12")))
      .agg(count(lit(1))).head()
    val prune = graft.sources.GraftMergeScan.lastPrune.get()
    require(prune != null && prune._1 <= 3 * 4 && prune._1 < prune._2,
      s"3 of $days days must plan <= 12 bucket files, planned $prune")
    // (2) retention = metadata commit
    val dropped = MS.dropPartitions(s, t, "lt", "2024-01-08")
    require(dropped >= 7, s"a week of partitions must drop, got $dropped")
    require(MS.commits(s, t).map(_.version) == Seq(0L, 1L),
      "drop_partitions must be exactly one commit")
    // (3) the pre-drop snapshot still answers in full
    val v0 = s.read.format("graft-merge")
      .option("path", t).option("key", "day,event_id").option("seq", "rv")
      .option("versionAsOf", "0").load()
    require(v0.count() == total, "pre-drop snapshot must time-travel whole")
    read()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("long").as("cents_total"))
      .orderBy(col("day"))
      // DATE dtypes differ across engines' parquet/pandas bridges —
      // gate the ISO string form
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("cents_total"))
  }

  val mergePartitionedGatedSql: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_total
      |FROM events
      |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q_part_evolution — PARTITION-SPEC EVOLUTION gated end to end: the
  // fact lands under days(ts); `CALL cat.sys.evolve_partition` moves
  // the layout to hours(ts); day-2 data lands under the NEW transform
  // while the old days stay in theirs; a row-level UPDATE touching
  // old-generation keys migrates their buckets (bucket-granular CoW);
  // one query answers across BOTH generations, with pruning REQUIREd
  // at each generation's own granularity. Oracle: the same per-day
  // roll-up over the raw events — a mis-decoded generation, a lost
  // migration row or a wrong-generation prune is hash-visible.
  // ---------------------------------------------------------------------
  val partEvolutionGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gevo$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_evo_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.db")
    s.sql(
      s"""CREATE TABLE $cat.db.ev
         |(event_id BIGINT, ts TIMESTAMP_NTZ, seq BIGINT, cents BIGINT)
         |USING `graft-merge`
         |OPTIONS (key 'event_id,ts', seq 'seq', buckets '2')
         |PARTITIONED BY (days(ts))""".stripMargin)
    s.sql(s"CALL $cat.sys.set_history_keep('db.ev', 8)")
    val view = s"graft_evo_events_$nRun"
    Tables.events(s, d).select(
      col("event_id"), col("ts"),
      round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView(view)
    // day 1: half the fact, under days(ts)
    s.sql(s"""INSERT INTO $cat.db.ev
             |SELECT event_id, ts, 1L, cents FROM $view
             |WHERE event_id % 2 = 0""".stripMargin)
    val off = s.sql(s"CALL $cat.sys.evolve_partition('db.ev', 'hours', 2)")
      .head().getInt(0)
    require(off > 0, "evolution must mint a fresh bucket-id range")
    // day 2: the other half, bounded to two calendar days so the new
    // generation's hour grain stays a bounded file count at any SF —
    // lands under hours(ts)
    s.sql(s"""INSERT INTO $cat.db.ev
             |SELECT event_id, ts, 1L, cents FROM $view
             |WHERE event_id % 2 = 1
             |  AND ts < TIMESTAMP '2024-01-03 00:00:00'""".stripMargin)
    // both generations hold buckets
    val path = s.sql(s"SHOW TBLPROPERTIES $cat.db.ev").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.apply("path")
    val MS = graft.streaming.MergeSink
    val m0 = MS.manifest(s, path, MS.lastCommit(s, path).get.version)
    require(m0.keySet.exists(_ < off) && m0.keySet.exists(_ >= off),
      s"both generations must hold buckets (offset $off, ids ${m0.keySet})")
    // a row-level UPDATE whose keys live in the OLD generation
    // migrates their buckets to the current layout
    s.sql(
      s"""UPDATE $cat.db.ev SET cents = cents + 7, seq = 2
         |WHERE event_id % 31 = 5
         |  AND ts >= TIMESTAMP '2024-01-20 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-22 00:00:00'""".stripMargin)
    // pruning bites at EACH generation's granularity: an hour window
    // over day-2 data and a day window over the retired generation
    // both plan strict file subsets
    def prunedCount(cond: org.apache.spark.sql.Column): Long = {
      graft.sources.GraftMergeScan.lastPrune.set(null)
      val n = s.table(s"$cat.db.ev").filter(cond).count()
      val p = graft.sources.GraftMergeScan.lastPrune.get()
      require(p != null && p._1 < p._2,
        s"generation prune did not engage: $p")
      n
    }
    prunedCount(col("ts") >= lit("2024-01-02 12:00:00").cast("timestamp_ntz")
      && col("ts") < lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
    prunedCount(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp_ntz")
      && col("ts") < lit("2024-01-11 00:00:00").cast("timestamp_ntz"))
    // the answer spans both generations and the migrated rows
    s.table(s"$cat.db.ev")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("long").as("cents_total"))
      .orderBy(col("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("cents_total"))
  }

  val partEvolutionGatedSql: String =
    """WITH rows0 AS (
      |  SELECT event_id, ts,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE event_id % 2 = 0
      |     OR (event_id % 2 = 1 AND ts < TIMESTAMP '2024-01-03 00:00:00')),
      |final AS (
      |  SELECT event_id, ts,
      |    CASE WHEN event_id % 31 = 5
      |      AND ts >= TIMESTAMP '2024-01-20 00:00:00'
      |      AND ts < TIMESTAMP '2024-01-22 00:00:00'
      |      THEN cents + 7 ELSE cents END AS cents
      |  FROM rows0)
      |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_branch — BRANCHES gated end to end: the ledger lands on
  // MAIN, `CALL cat.sys.create_branch` forks a zero-copy writable
  // branch at the head (hard-linked data — O(files) metadata, zero
  // bytes), the whole day-2 batch (inserts+updates via INSERT, deletes
  // via row-level DELETE) runs ON THE BRANCH while the gate REQUIREs
  // main's head version, row count and aggregate are byte-for-byte
  // untouched (the audit window), then ONE `CALL cat.sys.fast_forward`
  // publishes the branch's commits onto main — REQUIREd to promote
  // exactly the branch's commit count, be idempotent at head, and
  // leave main equal to the branch. WAP generalized: a stage audits
  // one commit behind a withheld marker; a branch audits MANY commits
  // behind a table boundary. Oracle: the same final-state arithmetic
  // as q_mv_refresh over the raw events.
  // ---------------------------------------------------------------------
  val mergeBranchGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gbr$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_br_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ledger (event_id BIGINT, grp BIGINT,
         |cents BIGINT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'event_id', seq 'rv')
         |""".stripMargin)
    s.sql(s"CALL $cat.sys.set_history_keep('g.ledger', 8)")
    val view = s"graft_branch_events_$nRun"
    mvSourceRows(s, d).createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.g.ledger
             |SELECT event_id, grp, cents, 1 AS rv FROM $view
             |WHERE event_id % 3 <> 0""".stripMargin)
    val preCount = s.sql(s"SELECT count(*) FROM $cat.g.ledger")
      .head().getLong(0)
    val preAgg = s.sql(
      s"SELECT CAST(sum(cents) AS BIGINT) FROM $cat.g.ledger").head().get(0)
    val base = s.sql(s"CALL $cat.sys.create_branch('g.dev', 'g.ledger')")
      .head().getInt(0)
    // the branch starts byte-identical
    require(s.sql(s"SELECT count(*) FROM $cat.g.dev").head().getLong(0)
      == preCount, "branch must open at the source's head state")
    // ---- day 2, entirely ON THE BRANCH (the audit window) ----
    s.sql(s"""INSERT INTO $cat.g.dev
             |SELECT event_id, grp,
             |  CASE WHEN event_id % 3 <> 0 AND event_id % 5 = 0
             |    THEN cents + 7 ELSE cents END,
             |  2 AS rv
             |FROM $view
             |WHERE grp % 5 = 0 AND (event_id % 3 = 0 OR event_id % 5 = 0)
             |""".stripMargin)
    s.sql(s"""DELETE FROM $cat.g.dev
             |WHERE grp % 5 = 0 AND event_id % 3 <> 0
             |  AND event_id % 5 <> 0 AND event_id % 7 = 0""".stripMargin)
    // MAIN is untouched through the whole audit window: same rows,
    // same aggregate, before anything publishes
    require(s.sql(s"SELECT count(*) FROM $cat.g.ledger")
      .head().getLong(0) == preCount,
      "branch writes must not reach the source table")
    require(s.sql(s"SELECT CAST(sum(cents) AS BIGINT) FROM $cat.g.ledger")
      .head().get(0) == preAgg,
      "branch writes must not change the source aggregate")
    val published = s.sql(s"CALL $cat.sys.fast_forward('g.ledger', 'g.dev')")
      .head().getInt(0)
    require(published == 2,
      s"fast_forward must publish the branch's 2 commits, got $published")
    require(s.sql(s"CALL $cat.sys.fast_forward('g.ledger', 'g.dev')")
      .head().getInt(0) == 0, "fast_forward at head must be a no-op")
    // the pre-publish snapshot still time-travels: version `base` IS
    // the audited state
    require(s.sql(
      s"""SELECT CAST(sum(cents) AS BIGINT)
         |FROM $cat.g.ledger VERSION AS OF $base""".stripMargin)
      .head().get(0) == preAgg,
      "the branch-point snapshot must survive publication")
    s.sql(s"""SELECT grp, sum(cents) AS total, count(*) AS n
             |FROM $cat.g.ledger GROUP BY grp ORDER BY grp""".stripMargin)
  }

  val mergeBranchGatedSql: String =
    mvRefreshGatedSql

  // ---------------------------------------------------------------------
  // q_merge_widen — TYPE WIDENING gated end to end: the ledger lands
  // with INT cents, `ALTER COLUMN cents TYPE BIGINT` evolves it as a
  // SCHEMA-ONLY commit (the gate REQUIREs zero data files moved), and
  // the day-2 inserts carry values beyond the int range. One scan then
  // reads BOTH generations — old int32 files up-cast through parquet
  // type promotion under the recorded wide schema. Oracle: the same
  // arithmetic over the raw events.
  // ---------------------------------------------------------------------
  val mergeWidenGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gwid$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_wid_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.w")
    s.sql(
      s"""CREATE TABLE $cat.w.ledger (event_id BIGINT, cents INT, rv BIGINT)
         |USING `graft-merge` OPTIONS (key 'event_id', seq 'rv')
         |""".stripMargin)
    val view = s"graft_widen_events_$nRun"
    Tables.events(s, d).select(col("event_id"),
      round(col("value") * 100).cast("int").as("cents"))
      .createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.w.ledger
             |SELECT event_id, cents, 1 AS rv FROM $view
             |WHERE event_id % 2 = 0""".stripMargin)
    val dir = s.sql(s"SELECT location FROM $cat.w.ledger.detail")
      .head().getString(0)
    val before = graft.streaming.MergeSink.currentFiles(s, dir)
    s.sql(s"ALTER TABLE $cat.w.ledger ALTER COLUMN cents TYPE BIGINT")
    require(graft.streaming.MergeSink.currentFiles(s, dir) == before,
      "widening must be a schema-only commit: zero data files moved")
    require(s.table(s"$cat.w.ledger").schema("cents").dataType ==
      org.apache.spark.sql.types.LongType,
      "catalog schema must follow the widening commit")
    // day 2: values beyond the int range land in the SAME buckets as
    // the int32 generation
    s.sql(s"""INSERT INTO $cat.w.ledger
             |SELECT event_id, CAST(cents AS BIGINT) + 5000000000, 2 AS rv
             |FROM $view WHERE event_id % 2 = 1""".stripMargin)
    s.sql(
      s"""SELECT event_id % 10 AS bucket, count(*) AS n,
         |CAST(SUM(cents) AS BIGINT) AS cents_total
         |FROM $cat.w.ledger GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val mergeWidenGatedSql: String =
    """SELECT event_id % 10 AS bucket, count(*) AS n,
      |CAST(SUM(CASE WHEN event_id % 2 = 0
      |  THEN CAST(CAST(round(value * 100) AS INT) AS BIGINT)
      |  ELSE CAST(CAST(round(value * 100) AS INT) AS BIGINT)
      |    + 5000000000 END) AS BIGINT) AS cents_total
      |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_evolution — MERGE ... WITH SCHEMA EVOLUTION gated end to
  // end: the day-2 source carries a column the target never declared
  // (`flag`); Spark derives the AddColumn change from the source
  // schema and applies it through the catalog's metadata-only ADD
  // COLUMN (zero data rewritten) before resolving the merge — matched
  // users update to the source row, new users insert, and every
  // pre-evolution row reads the new column as NULL. Output: the
  // per-bucket aggregate over the evolved table (NULL flags fold as
  // -1) vs the declarative full-outer latest-wins oracle.
  // ---------------------------------------------------------------------
  val mergeEvolutionGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gevo$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_evo_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.t (user_id BIGINT, event_id BIGINT,
         |cents BIGINT)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val mid = e.agg(max(col("event_id"))).head().getLong(0) / 2
    val view = s"graft_evo_events_$nRun"
    e.createOrReplaceTempView(view)
    s.sql(s"""INSERT INTO $cat.g.t
             |SELECT user_id, event_id, cents FROM $view
             |WHERE event_id <= $mid""".stripMargin)
    require(!s.table(s"$cat.g.t").columns.contains("flag"))
    // day-2 source: one row per key (the MERGE cardinality contract),
    // carrying the NEW `flag` column
    s.sql(s"""SELECT user_id, max(event_id) AS event_id,
             |  max_by(cents, event_id) AS cents,
             |  max(event_id) % 2 AS flag
             |FROM $view WHERE event_id > $mid GROUP BY user_id"""
      .stripMargin).createOrReplaceTempView(s"${view}_day2")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.g.t t
         |USING ${view}_day2 s ON t.user_id = s.user_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(s.table(s"$cat.g.t").columns.contains("flag"),
      "schema evolution must add the source's new column")
    s.sql(
      s"""SELECT user_id % 9 AS bucket, count(*) AS n_keys,
         |CAST(SUM(cents) AS BIGINT) AS cents_total,
         |CAST(SUM(COALESCE(flag, -1)) AS BIGINT) AS flag_total
         |FROM $cat.g.t GROUP BY user_id % 9 ORDER BY bucket""".stripMargin)
  }

  val mergeEvolutionGatedSql: String =
    """WITH m AS (SELECT max(event_id) // 2 AS mid FROM events),
      |fh AS (
      |  SELECT user_id, max(event_id) AS id,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
      |  FROM events, m WHERE event_id <= mid GROUP BY user_id),
      |sh AS (
      |  SELECT user_id, max(event_id) AS id,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
      |  FROM events, m WHERE event_id > mid GROUP BY user_id),
      |merged AS (
      |  SELECT COALESCE(s.user_id, f.user_id) AS user_id,
      |    CASE WHEN s.user_id IS NOT NULL THEN s.cents ELSE f.cents END
      |      AS cents,
      |    CASE WHEN s.user_id IS NOT NULL THEN s.id % 2 ELSE -1 END
      |      AS flag
      |  FROM fh f FULL OUTER JOIN sh s ON f.user_id = s.user_id)
      |SELECT user_id % 9 AS bucket, count(*) AS n_keys,
      |CAST(SUM(cents) AS BIGINT) AS cents_total,
      |CAST(SUM(flag) AS BIGINT) AS flag_total
      |FROM merged GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_write — the connector's BATCH WRITE path: two merge commits
  // issued through the STANDARD writer API
  // (df.write.format("graft-merge").mode("append") with key/seq
  // options) instead of library calls. Executor tasks stage per-task
  // parquet; the driver's commit runs the staged batch through the
  // MergeSink transaction (two-phase, abort leaves the table
  // untouched — Dsv2Spec pins both). Read back through the pruned
  // connector scan; same oracle as q_merge_point: writer-API commits
  // produce the identical latest-wins state.
  // ---------------------------------------------------------------------
  val dsv2WriteGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_wr_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    def writeHalf(df: DataFrame): Unit =
      df.write
        .format("graft-merge")
        .mode("append")
        .option("path", table)
        .option("key", "user_id")
        .option("seq", "event_id")
        .save()
    writeHalf(e.filter(col("event_id") <= t1))
    writeHalf(e.filter(col("event_id") > t1))
    s.read.format("graft-merge")
      .option("path", table)
      .option("key", "user_id")
      .load()
      .filter(col("user_id").isin(PointIds: _*))
      .select(
        col("user_id"),
        col("event_id").as("last_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy(col("user_id"))
  }

  val dsv2WriteGatedSql: String = mergePointGatedSql

  // ---------------------------------------------------------------------
  // q_dsv2_timetravel — TIME TRAVEL through the connector: the same
  // two-commit table as q_merge_timetravel, read back at the PREVIOUS
  // version with option("versionAsOf", v0) — the Delta-style read
  // surface on the DSv2 source (the scan resolves v0's manifest; a
  // collected version fails loudly). Same oracle: the historical read
  // returns the exact committed bits.
  // ---------------------------------------------------------------------
  val dsv2TimetravelGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_tt_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "dvt")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "dvt")
    val v0 = MergeSink.commits(s, table).map(_.version).min
    s.read.format("graft-merge")
      .option("path", table)
      .option("versionAsOf", v0.toString)
      .load()
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val dsv2TimetravelGatedSql: String = mergeTimetravelGatedSql

  // ---------------------------------------------------------------------
  // q_dsv2_sql — the merge table as a FIRST-CLASS SQL CITIZEN through
  // the graft TableCatalog (sources/GraftCatalog): CREATE NAMESPACE +
  // CREATE TABLE … USING `graft-merge`, two INSERT INTO … SELECT
  // statements (each a real two-phase merge commit through the DSv2
  // writer), and a pure-SQL point SELECT whose IN predicate drives the
  // connector's bucket pruning — no DataFrame reader call anywhere in
  // the lane. The reference is a DATABASE kernel; reaching its Spark
  // dual entirely from SQL is what "matching a database" means. Same
  // oracle as q_merge_point: the looked-up rows are each key's
  // latest-by-seq state.
  // ---------------------------------------------------------------------
  val dsv2SqlGated: (SparkSession, String) => DataFrame = (s, d) => {
    // the CatalogManager caches instances by name: a fresh name per run
    // keeps each invocation's warehouse isolated (bench runs twice)
    val nRun = gateN.incrementAndGet()
    val cat = s"gsql$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_sql_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.events_merged
         |(user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_sql_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(
      s"INSERT INTO $cat.g.events_merged SELECT * FROM $view WHERE event_id <= $t1")
    s.sql(
      s"INSERT INTO $cat.g.events_merged SELECT * FROM $view WHERE event_id > $t1")
    s.sql(
      s"""SELECT user_id, event_id AS last_id,
         |CAST(round(value * 100) AS BIGINT) AS cents
         |FROM $cat.g.events_merged
         |WHERE user_id IN (${PointIds.mkString(", ")})
         |ORDER BY user_id""".stripMargin)
  }

  val dsv2SqlGatedSql: String = mergePointGatedSql

  // ---------------------------------------------------------------------
  // q_catalog_maint — the WAREHOUSE OPERATOR'S DAY entirely in SQL:
  // CREATE + two INSERT commits, CALL compact (full sorted rewrite at a
  // new modulus, ProcedureCatalog), another INSERT dirtying a few
  // buckets, CALL compact_incremental (strict-subset rewrite, asserted
  // through the procedure's own result row), then the latest-wins
  // aggregate read back — every maintenance operation a one-line CALL
  // a scheduler can own, zero Scala in the operating loop. The oracle
  // is the declarative latest-wins state over the full log: three
  // maintenance commits later, the table still answers bit-identically.
  // ---------------------------------------------------------------------
  val catalogMaintGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gmnt$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_mnt_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ev (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_mnt_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(s"INSERT INTO $cat.g.ev SELECT * FROM $view WHERE event_id <= $t1")
    s.sql(
      s"INSERT INTO $cat.g.ev SELECT * FROM $view WHERE event_id > $t1 " +
        s"AND user_id % 4 != 1")
    val written = s.sql(s"CALL $cat.sys.compact('g.ev', 4)").head().getInt(0)
    require(written == 4, s"CALL compact wrote $written buckets")
    val path = s"$wh/_data/g/ev"
    val baseV = MergeSink.lastCommit(s, path).get.version
    s.sql(
      s"INSERT INTO $cat.g.ev SELECT * FROM $view WHERE event_id > $t1 " +
        s"AND user_id % 4 = 1")
    val rewritten = s
      .sql(s"CALL $cat.sys.compact_incremental('g.ev', $baseV)")
      .head().getInt(0)
    require(rewritten >= 1 && rewritten <= 4,
      s"CALL compact_incremental rewrote $rewritten buckets")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |CAST(SUM(event_id) AS BIGINT) AS id_total,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.ev GROUP BY user_id % 10 ORDER BY bucket""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // q_merge_spj — STORAGE-PARTITIONED JOIN: two merge tables with the
  // same bucket layout joined on their merge key with ZERO shuffle.
  // The scan reports its on-disk hash clustering as a V2
  // KeyGroupedPartitioning over the catalog's own `xxbucket` function;
  // Spark matches the two sides bucket-for-bucket and the join (and a
  // follow-on GROUP BY the key) runs without a single exchange — at
  // 100 TB this deletes the dominant cost of a fact-to-fact join. The
  // gate REQUIREs the shuffle-free plan (join and join+agg both), then
  // answers an aggregate the DuckDB oracle recomputes from the two
  // tables' declarative latest-wins states.
  // ---------------------------------------------------------------------
  val mergeSpjGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gspj$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_spj_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.fa (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    s.sql(
      s"""CREATE TABLE $cat.g.fb (user_id BIGINT, event_id BIGINT, w DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    val view = s"graft_spj_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    s.sql(s"INSERT INTO $cat.g.fa SELECT user_id, event_id, value FROM $view")
    s.sql(
      s"""INSERT INTO $cat.g.fb SELECT user_id, event_id, value * 2
         |FROM $view WHERE user_id % 3 = 0""".stripMargin)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      def shuffles(df: DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
      val joined = s.sql(
        s"""SELECT a.user_id, a.value, b.w FROM $cat.g.fa a
           |JOIN $cat.g.fb b ON a.user_id = b.user_id""".stripMargin)
      require(shuffles(joined) == 0,
        s"storage-partitioned join did not engage:\n" +
          joined.queryExecution.executedPlan)
      // the clustering serves the follow-on aggregate-on-key too
      val perKey = s.sql(
        s"""SELECT a.user_id,
           |CAST(SUM(CAST(round((a.value + b.w) * 100) AS BIGINT)) AS BIGINT)
           |  AS cents
           |FROM $cat.g.fa a JOIN $cat.g.fb b ON a.user_id = b.user_id
           |GROUP BY a.user_id""".stripMargin)
      require(shuffles(perKey) == 0,
        s"join+agg re-shuffled:\n" + perKey.queryExecution.executedPlan)
      val out = perKey.groupBy((col("user_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cents")).as("cents_total"))
        .orderBy("bucket")
      // materialize the SHUFFLE-FREE physical plan BEFORE confs restore
      // (a Dataset caches its QueryExecution once built — the later
      // collect executes exactly this plan)
      out.queryExecution.executedPlan
      out
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  // ---------------------------------------------------------------------
  // q_merge_zorder — OPTIMIZE ... ZORDER BY as SQL: after
  // `CALL cat.sys.zorder('g.ev', 8, 'user_id,value')` the table's
  // bucket files are Morton-ordered on (user_id, value), so footer
  // min/max stats prune 2-D range scans (Dsv2Spec pins the actual
  // row-group skipping on both dimensions). The gate pins the CALL
  // path end to end and that the rewrite is CONTENT-PRESERVING: a 2-D
  // range aggregate over the z-ordered table must equal the
  // declarative latest-wins oracle under the same predicate.
  // ---------------------------------------------------------------------
  val mergeZOrderGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gzo$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_zo_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ev (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    val view = s"graft_zo_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    s.sql(s"INSERT INTO $cat.g.ev SELECT user_id, event_id, value FROM $view")
    val written = s.sql(s"CALL $cat.sys.zorder('g.ev', 8, 'user_id,value')")
      .head().getInt(0)
    require(written == 8, s"zorder rewrote $written buckets, expected 8")
    s.sql(
      s"""SELECT count(*) AS n,
         |CAST(SUM(user_id) AS BIGINT) AS uid_total,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.ev
         |WHERE user_id BETWEEN 100 AND 400 AND value BETWEEN 10 AND 60
         |""".stripMargin)
  }

  val mergeZOrderGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, arg_max(value, event_id) AS last_val
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |CAST(SUM(user_id) AS BIGINT) AS uid_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st
      |WHERE user_id BETWEEN 100 AND 400 AND last_val BETWEEN 10 AND 60""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_zorder3 — N-dimensional OPTIMIZE ZORDER: `CALL
  // cat.sys.zorder('g.ev', 8, 'user_id,event_id,value')` clusters the
  // table on THREE dimensions via the ZOrderN Morton interleave
  // (Dsv2Spec pins actual row-group skipping on all three). The gate
  // pins the CALL path, content preservation under a 3-D range
  // predicate, and — the bit-twin — recomputes the 3-D interleave of
  // deterministic bucketizations of the surviving rows with the native
  // zordern expression, aggregated exactly; the DuckDB oracle computes
  // the identical interleave with SQL bit operators
  // (ZOrderN.sqlZOrder), so one flipped bit anywhere in the N-D spread
  // hash-mismatches.
  // ---------------------------------------------------------------------
  val mergeZOrder3Gated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gzo3$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_zo3_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ev (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    val view = s"graft_zo3_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    s.sql(s"INSERT INTO $cat.g.ev SELECT user_id, event_id, value FROM $view")
    val written = s.sql(
      s"CALL $cat.sys.zorder('g.ev', 8, 'user_id,event_id,value')")
      .head().getInt(0)
    require(written == 8, s"zorder3 rewrote $written buckets, expected 8")
    val t = s.table(s"$cat.g.ev")
      .filter(col("user_id").between(100, 700))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .filter(col("cents").between(500, 8000))
    val z = graft.plans.ZOrderN.zorder(
      Seq(col("user_id") % 256, col("cents") % 256, col("event_id") % 256),
      8)
    t.agg(
      count(lit(1)).as("n"),
      sum(col("user_id")).cast("long").as("uid_total"),
      sum(col("cents")).cast("long").as("cents_total"),
      sum(z).cast("long").as("z_total"),
      min(z).cast("long").as("z_min"),
      max(z).cast("long").as("z_max"))
  }

  val mergeZOrder3GatedSql: String = {
    val z = graft.plans.ZOrderN.sqlZOrder(
      Seq("(user_id % 256)", "(cents % 256)", "(last_id % 256)"), 8)
    s"""WITH st AS (
       |  SELECT user_id, max(event_id) AS last_id,
       |    CAST(round(arg_max(value, event_id) * 100) AS BIGINT) AS cents
       |  FROM events GROUP BY user_id)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |CAST(SUM(user_id) AS BIGINT) AS uid_total,
       |CAST(SUM(cents) AS BIGINT) AS cents_total,
       |CAST(SUM($z) AS BIGINT) AS z_total,
       |CAST(MIN($z) AS BIGINT) AS z_min,
       |CAST(MAX($z) AS BIGINT) AS z_max
       |FROM st
       |WHERE user_id BETWEEN 100 AND 700
       |  AND cents BETWEEN 500 AND 8000""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_merge_sortjoin — the full layout payoff: after `CALL compact` on
  // both co-bucketed tables, the scans report BOTH the bucket
  // clustering (KeyGroupedPartitioning) and the within-bucket key
  // ordering (SupportsReportOrdering keyed on the manifest's O flag),
  // so the fact-to-fact join plans as a sort-merge join with ZERO
  // shuffle AND ZERO sort — the scan streams straight into the merge.
  // At 100 TB this deletes both the exchange AND the sort spill from
  // every join between maintained tables. The gate REQUIREs the
  // sortless shuffle-free plan, then returns the per-bucket aggregate
  // the oracle recomputes declaratively.
  // ---------------------------------------------------------------------
  val mergeSortJoinGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gsmj$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_smj_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.fa (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    s.sql(
      s"""CREATE TABLE $cat.g.fb (user_id BIGINT, event_id BIGINT, w DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')""".stripMargin)
    val view = s"graft_smj_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    s.sql(s"INSERT INTO $cat.g.fa SELECT user_id, event_id, value FROM $view")
    s.sql(
      s"""INSERT INTO $cat.g.fb SELECT user_id, event_id, value * 2
         |FROM $view WHERE user_id % 3 = 0""".stripMargin)
    // compaction IS the sort: bucket files become key-ordered and the
    // manifest records the table-wide O flag the scan's reported
    // ordering keys on
    s.sql(s"CALL $cat.sys.compact('g.fa', 16)")
    s.sql(s"CALL $cat.sys.compact('g.fb', 16)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val joined = s.sql(
        s"""SELECT a.user_id,
           |CAST(SUM(CAST(round((a.value + b.w) * 100) AS BIGINT)) AS BIGINT)
           |  AS cents
           |FROM $cat.g.fa a JOIN $cat.g.fb b ON a.user_id = b.user_id
           |GROUP BY a.user_id""".stripMargin)
      val plan = joined.queryExecution.executedPlan
      val sorts = plan.collect {
        case e: org.apache.spark.sql.execution.SortExec => e }.size
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      require(sorts == 0 && shuffles == 0 &&
        plan.toString.contains("SortMergeJoin"),
        s"expected sortless shuffle-free SMJ (sorts=$sorts " +
          s"shuffles=$shuffles):\n$plan")
      val out = joined.groupBy((col("user_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cents")).as("cents_total"))
        .orderBy("bucket")
      out.queryExecution.executedPlan // pin the plan before confs restore
      out
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  val mergeSpjGatedSql: String =
    """WITH fa AS (
      |  SELECT user_id, arg_max(value, event_id) AS v
      |  FROM events GROUP BY user_id),
      |fb AS (
      |  SELECT user_id, arg_max(value * 2, event_id) AS w
      |  FROM events WHERE user_id % 3 = 0 GROUP BY user_id),
      |pk AS (
      |  SELECT fa.user_id,
      |    CAST(CAST(round((fa.v + fb.w) * 100) AS BIGINT) AS BIGINT) AS cents
      |  FROM fa JOIN fb ON fa.user_id = fb.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM pk GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_spj_part — STORAGE-PARTITIONED JOIN ON THE PARTITIONED
  // LAYOUT: two day-partitioned fact tables (key (user_id, day),
  // `bucket_by 'user_id'` so the hash is single-reference) joined on
  // the full key with ZERO shuffle. The scan reports the true
  // two-level physical grouping as the Iceberg multi-transform shape
  // [days(day), bucket(nb, user_id)] — Spark's SPJ machinery resolves
  // both transforms through the catalog's FunctionCatalog and matches
  // the two sides (partition, hash)-group for group. This is THE
  // 100 TB fact-to-fact shape: day-partitioned for retention, hash-
  // bucketed for joins, and the join (plus the follow-on aggregate on
  // the key) runs without a single exchange. The gate REQUIREs the
  // shuffle-free plan for both; the DuckDB oracle recomputes the
  // aggregate from the raw events' declarative latest-wins state.
  // ---------------------------------------------------------------------
  val mergeSpjPartGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gspjp$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_spjp_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    for (t <- Seq("fa", "fb"))
      // buckets '4': the fixture spans ~30 days — 4 hash buckets per
      // day keeps the gate's file count proportionate at sf0.1 (a real
      // 100 TB table sizes nb so day×bucket ≈ 100 MB–1 GB files)
      s.sql(
        s"""CREATE TABLE $cat.g.$t (user_id BIGINT, day DATE,
           |event_id BIGINT, value DOUBLE)
           |USING `graft-merge`
           |OPTIONS (key 'user_id,day', seq 'event_id',
           |  bucket_by 'user_id', buckets '4')
           |PARTITIONED BY (days(day))""".stripMargin)
    val view = s"graft_spjp_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    s.sql(
      s"INSERT INTO $cat.g.fa SELECT user_id, day, event_id, value FROM $view")
    s.sql(
      s"""INSERT INTO $cat.g.fb SELECT user_id, day, event_id, value * 2
         |FROM $view WHERE user_id % 3 = 0""".stripMargin)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      def shuffles(df: DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
      val joined = s.sql(
        s"""SELECT a.user_id, a.day, a.value, b.value AS w FROM $cat.g.fa a
           |JOIN $cat.g.fb b ON a.user_id = b.user_id AND a.day = b.day
           |""".stripMargin)
      require(shuffles(joined) == 0,
        s"partitioned storage-partitioned join did not engage:\n" +
          joined.queryExecution.executedPlan)
      val perKey = s.sql(
        s"""SELECT a.user_id, a.day,
           |CAST(round((a.value + b.value) * 100) AS BIGINT) AS cents
           |FROM $cat.g.fa a
           |JOIN $cat.g.fb b ON a.user_id = b.user_id AND a.day = b.day
           |""".stripMargin)
      val agg = s.sql(
        s"""SELECT a.user_id, a.day,
           |CAST(SUM(CAST(round((a.value + b.value) * 100) AS BIGINT))
           |  AS BIGINT) AS cents
           |FROM $cat.g.fa a
           |JOIN $cat.g.fb b ON a.user_id = b.user_id AND a.day = b.day
           |GROUP BY a.user_id, a.day""".stripMargin)
      require(shuffles(agg) == 0,
        s"join+agg on the partitioned key re-shuffled:\n" +
          agg.queryExecution.executedPlan)
      val out = perKey
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cents")).cast("long").as("cents_total"))
        .orderBy(col("day"))
      // materialize the SHUFFLE-FREE physical scan plans BEFORE confs
      // restore (a Dataset caches its QueryExecution once built)
      out.queryExecution.executedPlan
      out
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  val mergeSpjPartGatedSql: String =
    """WITH fa AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    arg_max(value, event_id) AS v
      |  FROM events GROUP BY 1, 2),
      |fb AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    arg_max(value * 2, event_id) AS w
      |  FROM events WHERE user_id % 3 = 0 GROUP BY 1, 2),
      |pk AS (
      |  SELECT fa.user_id, fa.day,
      |    CAST(round((fa.v + fb.w) * 100) AS BIGINT) AS cents
      |  FROM fa JOIN fb ON fa.user_id = fb.user_id AND fa.day = fb.day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_keys,
      |CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_overwrite — INSERT OVERWRITE as a versioned truncate-and-
  // load (SupportsTruncate -> MergeSink.overwriteBatch): the full log
  // lands as two merge commits, then INSERT OVERWRITE replaces the
  // table with only the SECOND half — the final state must equal the
  // declarative latest-wins over that half alone (the oracle), proving
  // the overwrite dropped every first-half-only key while keeping the
  // table a normal merge table (the read is the ordinary connector
  // scan). The pre-overwrite snapshot must still time-travel (checked
  // with a require on the v1 row count) — an overwrite is a COMMIT,
  // not an erasure.
  // ---------------------------------------------------------------------
  val dsv2OverwriteGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gow$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_ow_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ev (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_ow_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(s"INSERT INTO $cat.g.ev SELECT * FROM $view WHERE event_id <= $t1")
    s.sql(s"INSERT INTO $cat.g.ev SELECT * FROM $view WHERE event_id > $t1")
    val preCount = s.table(s"$cat.g.ev").count()
    s.sql(s"INSERT OVERWRITE $cat.g.ev SELECT * FROM $view WHERE event_id > $t1")
    // the replaced snapshot is a real version, not an erasure
    val travel = s.sql(s"SELECT count(*) FROM $cat.g.ev VERSION AS OF 1")
      .head().getLong(0)
    require(travel == preCount,
      s"pre-overwrite snapshot lost: $travel != $preCount")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |CAST(SUM(event_id) AS BIGINT) AS id_total,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.ev GROUP BY user_id % 10 ORDER BY bucket""".stripMargin)
  }

  val dsv2OverwriteGatedSql: String =
    """WITH mx AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st AS (
      |  SELECT e.user_id, max(e.event_id) AS last_id,
      |    arg_max(e.value, e.event_id) AS last_val
      |  FROM events e, mx WHERE e.event_id > mx.t1 GROUP BY e.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_evolution — ALTER TABLE ADD COLUMN as a SCHEMA-ONLY commit:
  // first-half events land, the table gains `etype STRING` (zero data
  // rewritten — the gate requires every pre-alter bucket file carried
  // untouched), the second half lands WITH the column. The final
  // per-bucket aggregate counts keys whose winning row predates the
  // evolution (their etype reads as the missing-column NULL) — the
  // oracle recomputes that declaratively: a key's stored etype is NULL
  // iff its latest event is first-half. This pins the entire NULL-fill
  // read path across mixed-schema files, not just the DDL.
  // ---------------------------------------------------------------------
  val dsv2EvolutionGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gevo$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_evo_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.ev (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_evo_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(
      s"""INSERT INTO $cat.g.ev
         |SELECT user_id, event_id, value FROM $view
         |WHERE event_id <= $t1""".stripMargin)
    val path = s.sql(s"SHOW TBLPROPERTIES $cat.g.ev")
      .filter(col("key") === "path").head().getString(1)
    val MS = graft.streaming.MergeSink
    val preV = MS.lastCommit(s, path).get.version
    val preFiles = MS.manifestFiles(s, path, preV)
    s.sql(s"ALTER TABLE $cat.g.ev ADD COLUMN etype STRING")
    val postV = MS.lastCommit(s, path).get.version
    require(postV == preV + 1 &&
      MS.manifestFiles(s, path, postV) == preFiles,
      "ADD COLUMN must be a schema-only commit carrying every file")
    s.sql(
      s"""INSERT INTO $cat.g.ev
         |SELECT user_id, event_id, value, event_type FROM $view
         |WHERE event_id > $t1""".stripMargin)
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |CAST(SUM(CASE WHEN etype IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS legacy_keys,
         |CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_total
         |FROM $cat.g.ev GROUP BY user_id % 10 ORDER BY bucket""".stripMargin)
  }

  val dsv2EvolutionGatedSql: String =
    """WITH mx AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |st AS (
      |  SELECT e.user_id, max(e.event_id) AS last_id,
      |    arg_max(e.value, e.event_id) AS last_val
      |  FROM events e GROUP BY e.user_id)
      |SELECT st.user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(CASE WHEN st.last_id <= mx.t1 THEN 1 ELSE 0 END) AS BIGINT)
      |  AS legacy_keys,
      |CAST(SUM(CAST(round(st.last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st, mx GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_delete — SQL DELETE on the merge table (SupportsDelete):
  // `DELETE FROM t WHERE event_type = 'error'` becomes a TOMBSTONE
  // COMMIT — matching visible rows re-enter the merge as
  // `__deleted = true` at `seq + 1` (the same mechanism CDC deletes
  // use; the q_merge_retention discipline then ages them out), so the
  // DELETE is an event in the log: nothing is erased, a newer upsert
  // still resurrects the key, abort leaves the table bit-identical.
  // The matching read goes through the connector's own scan (a
  // key-predicate DELETE is bucket-pruned like a point lookup).
  // Oracle: latest-wins state minus the keys whose final event is an
  // error — the post-delete snapshot recomputed declaratively.
  // ---------------------------------------------------------------------
  val dsv2DeleteGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gdel$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_del_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_del_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "dd")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "dd")
    s.sql(
      s"""CREATE TABLE $cat.g.t
         |(user_id BIGINT, event_id BIGINT, value DOUBLE, event_type STRING)
         |USING `graft-merge`
         |OPTIONS (key 'user_id', seq 'event_id', path '$table')""".stripMargin)
    s.sql(s"DELETE FROM $cat.g.t WHERE event_type = 'error'")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |sum(event_id) AS id_total,
         |sum(CAST(round(value * 100) AS BIGINT)) AS cents_total
         |FROM $cat.g.t GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val dsv2DeleteGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val,
      |    arg_max(event_type, event_id) AS last_type
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM st WHERE last_type <> 'error'
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_merge_into — SQL MERGE INTO through the row-level delta
  // protocol (SupportsRowLevelOperations + SupportsDelta,
  // sources/MergeRowLevelOps.scala): the first half of the event log
  // seeds the table (INSERT INTO = merge-upsert), the second half —
  // pre-aggregated to latest-per-user, the MERGE cardinality
  // contract — drives a three-arm MERGE: matched error keys DELETE
  // (tombstone commit), matched keys UPDATE (delta rows that out-seq
  // their stored copies), unmatched non-error keys INSERT. Spark
  // rewrites the statement into per-row operations; every one lands as
  // a merge-batch row through the same two-phase staged writer as
  // INSERT INTO. Oracle: the half-split full-outer reconstruction.
  // ---------------------------------------------------------------------
  val dsv2MergeIntoGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gmrg$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_mrg_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    s.sql(
      s"""CREATE TABLE $cat.g.t (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge` OPTIONS (key 'user_id', seq 'event_id')
         |""".stripMargin)
    val view = s"graft_mrg_events_$nRun"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
      .createOrReplaceTempView(view)
    val t1 = s.sql(s"SELECT max(event_id) DIV 2 FROM $view").head().getLong(0)
    s.sql(
      s"""INSERT INTO $cat.g.t
         |SELECT user_id, event_id, value FROM $view WHERE event_id <= $t1
         |""".stripMargin)
    s.sql(
      s"""MERGE INTO $cat.g.t t USING (
         |  SELECT user_id, max(event_id) AS event_id,
         |    max_by(value, event_id) AS value,
         |    max_by(event_type, event_id) AS ty
         |  FROM $view WHERE event_id > $t1 GROUP BY user_id) s
         |ON t.user_id = s.user_id
         |WHEN MATCHED AND s.ty = 'error' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET event_id = s.event_id, value = s.value
         |WHEN NOT MATCHED AND s.ty != 'error' THEN
         |  INSERT (user_id, event_id, value)
         |  VALUES (s.user_id, s.event_id, s.value)
         |""".stripMargin)
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |sum(event_id) AS id_total,
         |sum(CAST(round(value * 100) AS BIGINT)) AS cents_total
         |FROM $cat.g.t GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val dsv2MergeIntoGatedSql: String =
    """WITH b AS (SELECT max(event_id) // 2 AS t1 FROM events),
      |h1 AS (
      |  SELECT user_id, max(event_id) AS id1,
      |    arg_max(value, event_id) AS v1
      |  FROM events, b WHERE event_id <= b.t1 GROUP BY user_id),
      |h2 AS (
      |  SELECT e.user_id, max(e.event_id) AS id2,
      |    arg_max(e.value, e.event_id) AS v2,
      |    arg_max(e.event_type, e.event_id) AS ty2
      |  FROM events e, b WHERE e.event_id > b.t1 GROUP BY e.user_id),
      |fin AS (
      |  SELECT COALESCE(h2.user_id, h1.user_id) AS user_id,
      |    CASE WHEN h2.user_id IS NULL THEN h1.id1 ELSE h2.id2 END AS last_id,
      |    CASE WHEN h2.user_id IS NULL THEN h1.v1 ELSE h2.v2 END AS last_val,
      |    CASE WHEN h2.user_id IS NOT NULL AND h2.ty2 = 'error'
      |         THEN 1 ELSE 0 END AS dead
      |  FROM h1 FULL OUTER JOIN h2 ON h1.user_id = h2.user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(last_id) AS BIGINT) AS id_total,
      |CAST(SUM(CAST(round(last_val * 100) AS BIGINT)) AS BIGINT)
      |  AS cents_total
      |FROM fin WHERE dead = 0
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_update — SQL UPDATE through the row-level delta protocol:
  // the latest-wins table (both event-log halves merged) takes
  // `UPDATE t SET value = value * 2 WHERE user_id % 7 = 0` — Spark
  // rewrites it into per-row update operations; each arrives at the
  // delta writer with its row id (key, old seq) and leaves as a
  // merge-batch row at seq+1, out-sequencing the stored copy it
  // replaces (the UPDATE consumes one sequence slot — the log-like
  // discipline shared with SQL DELETE). Oracle: latest-wins state with
  // the matching keys' values doubled.
  // ---------------------------------------------------------------------
  val dsv2UpdateGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gupd$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_upd_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_upd_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "du")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "du")
    s.sql(
      s"""CREATE TABLE $cat.g.t (user_id BIGINT, event_id BIGINT, value DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'user_id', seq 'event_id', path '$table')""".stripMargin)
    s.sql(s"UPDATE $cat.g.t SET value = value * 2 WHERE user_id % 7 = 0")
    s.sql(
      s"""SELECT user_id % 10 AS bucket, count(*) AS n_keys,
         |sum(CAST(round(value * 100) AS BIGINT)) AS cents_total
         |FROM $cat.g.t GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  val dsv2UpdateGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, arg_max(value, event_id) AS last_val
      |  FROM events GROUP BY user_id)
      |SELECT user_id % 10 AS bucket, count(*) AS n_keys,
      |CAST(SUM(CAST(round(
      |  CASE WHEN user_id % 7 = 0 THEN last_val * 2 ELSE last_val END
      |  * 100) AS BIGINT)) AS BIGINT) AS cents_total
      |FROM st GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_merge_composite — COMPOSITE MERGE KEY end to end: the table keys
  // on (user_id, event_type) — the real-CDC shape most primary keys
  // have — with the bucket a hash of BOTH columns
  // (`xxhash64(user_id, event_type)`). Two library commits build the
  // latest-wins-per-(user,type) state; a SQL MERGE INTO on the
  // composite ON clause updates five (user,'click') identities and
  // inserts a brand-new one through the row-level delta protocol
  // (rowId = (user_id, event_type, seq)); the final read is a
  // composite point lookup whose per-column IN conjuncts prune the
  // scan to the candidate tuples' buckets (the cartesian superset —
  // PlanSpec pins files < total). At 100 TB: same O(touched buckets)
  // economics as the single-key table, no synthetic concat-key column.
  // Oracle: latest-by-(user,type) reconstruction full-outer-joined
  // with the same merge source.
  // ---------------------------------------------------------------------
  val mergeCompositeGated: (SparkSession, String) => DataFrame = (s, d) => {
    val nRun = gateN.incrementAndGet()
    val cat = s"gcmp$nRun"
    val wh = java.nio.file.Files.createTempDirectory("graft_cmp_wh").toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.g")
    val table = java.nio.file.Files
      .createTempDirectory("graft_cmp_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val mx = e.agg(max(col("event_id")).as("m")).head().getLong(0)
    val t1 = mx / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table,
      "user_id,event_type", "event_id", 0L, "cp")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table,
      "user_id,event_type", "event_id", 1L, "cp")
    s.sql(
      s"""CREATE TABLE $cat.g.t
         |(user_id BIGINT, event_type STRING, event_id BIGINT, value DOUBLE)
         |USING `graft-merge`
         |OPTIONS (key 'user_id,event_type', seq 'event_id', path '$table')
         |""".stripMargin)
    s.sql(
      s"""MERGE INTO $cat.g.t t USING (
         |  SELECT CAST(u AS BIGINT) AS user_id, 'click' AS event_type,
         |    CAST($mx + u AS BIGINT) AS event_id,
         |    CAST(u AS DOUBLE) * 0.25 AS value
         |  FROM (SELECT explode(array(1, 3, 7, 11, 13)) AS u)
         |  UNION ALL
         |  SELECT CAST(999999 AS BIGINT), 'zzz',
         |    CAST($mx + 999999 AS BIGINT), CAST(9.99 AS DOUBLE)) s
         |ON t.user_id = s.user_id AND t.event_type = s.event_type
         |WHEN MATCHED THEN UPDATE SET event_id = s.event_id, value = s.value
         |WHEN NOT MATCHED THEN
         |  INSERT (user_id, event_type, event_id, value)
         |  VALUES (s.user_id, s.event_type, s.event_id, s.value)
         |""".stripMargin)
    s.sql(
      s"""SELECT user_id, event_type, event_id,
         |CAST(round(value * 100) AS BIGINT) AS cents
         |FROM $cat.g.t
         |WHERE user_id IN (1, 3, 7, 11, 13, 999999)
         |  AND event_type IN ('click', 'view', 'zzz')
         |ORDER BY user_id, event_type""".stripMargin)
  }

  val mergeCompositeGatedSql: String =
    """WITH b AS (SELECT max(event_id) AS mx FROM events),
      |st AS (
      |  SELECT user_id, event_type, max(event_id) AS last_id,
      |    arg_max(value, event_id) AS last_val
      |  FROM events GROUP BY user_id, event_type),
      |src AS (
      |  SELECT CAST(u AS BIGINT) AS user_id, 'click' AS event_type,
      |    CAST(b.mx + u AS BIGINT) AS event_id,
      |    CAST(u AS DOUBLE) * 0.25 AS value
      |  FROM (SELECT unnest([1, 3, 7, 11, 13]) AS u), b
      |  UNION ALL
      |  SELECT CAST(999999 AS BIGINT), 'zzz',
      |    CAST(b.mx + 999999 AS BIGINT), CAST(9.99 AS DOUBLE) FROM b),
      |fin AS (
      |  SELECT coalesce(t.user_id, s.user_id) AS user_id,
      |    coalesce(t.event_type, s.event_type) AS event_type,
      |    CASE WHEN s.user_id IS NULL THEN t.last_id
      |         ELSE s.event_id END AS event_id,
      |    CASE WHEN s.user_id IS NULL THEN t.last_val
      |         ELSE s.value END AS value
      |  FROM st t FULL OUTER JOIN src s
      |    ON t.user_id = s.user_id AND t.event_type = s.event_type)
      |SELECT user_id, event_type, event_id,
      |  CAST(round(value * 100) AS BIGINT) AS cents
      |FROM fin
      |WHERE user_id IN (1, 3, 7, 11, 13, 999999)
      |  AND event_type IN ('click', 'view', 'zzz')
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_agg_pushdown — AGGREGATE PUSHDOWN on the connector
  // (SupportsPushDownAggregates): count(*) / count(col) / min / max
  // over the merge table answered entirely from parquet FOOTERS + the
  // manifest — the scan the optimizer plans is a one-row
  // GraftMergeAggScan that never constructs a data-file reader
  // (Dsv2Spec asserts the plan and the files=0 discipline; a surviving
  // filter falls back to the real columnar scan). The DSv2 dual of the
  // manifest-served q_table_checksum maintenance discipline: at 100 TB
  // these table-health queries become O(files) driver metadata reads.
  // Oracle: the same aggregates over the latest-wins reconstruction.
  // ---------------------------------------------------------------------
  val dsv2AggPushGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_agg_tbl")
      .toString
    val e = Tables
      .events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("event_type"))
    val t1 = e.agg(max(col("event_id")).as("m")).head().getLong(0) / 2
    MergeSink.upsertBatch(
      e.filter(col("event_id") <= t1), table, "user_id", "event_id", 0L, "da")
    MergeSink.upsertBatch(
      e.filter(col("event_id") > t1), table, "user_id", "event_id", 1L, "da")
    s.read.format("graft-merge")
      .option("path", table)
      .load()
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("user_id")).as("min_uid"),
        max(col("user_id")).as("max_uid"),
        min(col("event_id")).as("min_last_id"),
        max(col("event_id")).as("max_last_id"),
        min(col("event_type")).as("min_type"),
        max(col("event_type")).as("max_type"))
  }

  val dsv2AggPushGatedSql: String =
    """WITH st AS (
      |  SELECT user_id, max(event_id) AS last_id,
      |    arg_max(event_type, event_id) AS last_type
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  min(user_id) AS min_uid, max(user_id) AS max_uid,
      |  min(last_id) AS min_last_id, max(last_id) AS max_last_id,
      |  min(last_type) AS min_type, max(last_type) AS max_type
      |FROM st""".stripMargin

  // ---------------------------------------------------------------------
  // q_dsv2_stream_write — the connector's STREAMING WRITE path: the
  // event stream upserts through writeStream.format("graft-merge")
  // (StreamingWrite: per-epoch staging + the MergeSink transaction at
  // epoch commit) instead of the foreachBatch sink. Same oracle as
  // q_stream_upsert: both sinks must land the identical latest-wins
  // state.
  // ---------------------------------------------------------------------
  val dsv2StreamWriteGated: (SparkSession, String) => DataFrame = (s, d) => {
    val table = java.nio.file.Files
      .createTempDirectory("graft_dsv2_swr_tbl")
      .toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dsv2_swr_ckpt")
      .toString
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
        .writeStream
        .format("graft-merge")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", table)
        .option("key", "user_id")
        .option("seq", "event_id")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeSink
      .currentState(s, table)
      .get
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("id_total"),
        sum(round(col("value") * 100).cast("long")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val dsv2StreamWriteGatedSql: String = streamUpsertGatedSql

  // ---------------------------------------------------------------------
  // q_stream_quantiles — the mergeable LogHistogram sketch as STREAMING
  // STATE: per-hour windowed histograms of event cents with the
  // q_stream_append watermark/emission contract, quantiles picked from
  // each emitted window's histogram in batch post-processing. This is
  // why a percentile sketch must be MERGEABLE: each micro-batch folds
  // partial buffers into the window's state store entry (bounded at
  // ≤1,920 counters per window regardless of event volume), something
  // an exact order statistic cannot do without unbounded state. The
  // DuckDB twin recomputes identical buckets declaratively over the
  // emittable windows — same bit-exact discipline as the batch gate.
  // ---------------------------------------------------------------------
  private val sqQs = Seq(0.5, 0.9, 0.99)

  val streamQuantilesGated: (SparkSession, String) => DataFrame = (s, d) => {
    import graft.plans.LogHistogram
    val name = s"graft_stream_quantiles_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(
          count(lit(1)).as("n"),
          LogHistogram
            .logHist(round(col("value") * 100).cast("long"), graft.ops.Sketches.lhShift)
            .as("hist"))
        .select(col("window.start").as("win_start"), col("n"), col("hist"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_idx"))
      .orderBy(col("b"))
    val fracs = s
      .range(1)
      .select(explode(array(sqQs.map(lit): _*)).as("q"))
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("n"),
        explode(col("hist")).as("hb"))
      .select(
        col("hour_idx"),
        col("n"),
        col("hb.bucket").as("b"),
        col("hb.cnt").as("bc"))
      .withColumn("cum", sum(col("bc")).over(wCum))
      .crossJoin(fracs)
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("hour_idx"), col("q"))
      .agg(min(col("b")).as("b"), max(col("n")).as("n"))
      .withColumn("est_cents", expr(graft.ops.Sketches.lhLowerSql))
      .select(col("hour_idx"), col("q"), col("est_cents"), col("n"))
      .orderBy(col("hour_idx"), col("q"))
  }

  val streamQuantilesGatedSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events),
       |e AS (
       |  SELECT epoch_us(ts) // $HourUs AS hour_idx,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events, mx
       |  WHERE (epoch_us(ts) // $HourUs + 1) * 3600000 <= mx.wm_ms - 3600000),
       |bkt AS (SELECT hour_idx, ${graft.ops.Sketches.sqlLhBucket("cents")} AS b
       |        FROM e),
       |g AS (SELECT hour_idx, b, count(*) AS bc FROM bkt GROUP BY 1, 2),
       |c AS (
       |  SELECT hour_idx, b, bc,
       |    CAST(sum(bc) OVER (PARTITION BY hour_idx ORDER BY b) AS BIGINT)
       |      AS cum,
       |    CAST(sum(bc) OVER (PARTITION BY hour_idx) AS BIGINT) AS n
       |  FROM g),
       |p AS (
       |  SELECT c.hour_idx, f.q, min(c.b) AS b, max(c.n) AS n
       |  FROM c, (VALUES ${sqQs
        .map(q => s"(CAST($q AS DOUBLE))")
        .mkString(",")}) AS f(q)
       |  WHERE c.cum >= CAST(ceil(f.q * c.n) AS BIGINT)
       |  GROUP BY 1, 2)
       |SELECT hour_idx, q, ${graft.ops.Sketches.sqlLhLower("b")} AS est_cents, n
       |FROM p ORDER BY hour_idx, q""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_topk — EXACT windowed top-k as BOUNDED streaming state:
  // per-hour top-3 events by (value DESC, event_id ASC) via the
  // TopKAgg Aggregator. Completes the bounded-state trilogy beside
  // q_stream_distinct (KMV) and q_stream_quantiles (LogHistogram):
  // a full per-window sort cannot ride the state store, but a k-element
  // buffer whose merge is associative + commutative + total-ordered
  // can — each micro-batch folds its partials into O(k) state per
  // window, and unlike the sketches the result is EXACT. Emission is
  // the q_stream_append watermark contract; the twin ranks the same
  // emittable windows declaratively.
  // ---------------------------------------------------------------------
  val streamTopkGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_topk_${gateN.incrementAndGet()}"
    val topk = udaf(graft.functions.TopKAgg(3))
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(
          count(lit(1)).as("n"),
          // the Aggregator's case-class input arrives as its fields:
          // (score, id)
          topk(col("value"), col("event_id")).as("ids"))
        .select(col("window.start").as("win_start"), col("n"), col("ids"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("n"),
        array_join(transform(col("ids"), x => x.cast("string")), ",")
          .as("top_ids"))
      .orderBy(col("hour_idx"))
  }

  val streamTopkGatedSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events),
       |e AS (
       |  SELECT epoch_us(ts) // $HourUs AS hour_idx, event_id, value
       |  FROM events, mx
       |  WHERE (epoch_us(ts) // $HourUs + 1) * 3600000 <= mx.wm_ms - 3600000),
       |r AS (
       |  SELECT hour_idx, event_id,
       |    row_number() OVER (PARTITION BY hour_idx
       |      ORDER BY value DESC, event_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY hour_idx) AS n
       |  FROM e)
       |SELECT hour_idx, CAST(max(n) AS BIGINT) AS n,
       |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS top_ids
       |FROM r WHERE rn <= 3 GROUP BY hour_idx ORDER BY hour_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_distinct — DISTINCT COUNT OVER A STREAM via the KMV
  // sketch: per-hour distinct users estimated from KMinDistinct state.
  // Exact streaming distinct is famously unsupported in append mode
  // (count(DISTINCT) needs the window's full key set in state); the
  // mergeable bounded sketch is THE standard answer — each micro-batch
  // folds its partition partials into the window's O(k) buffer. The
  // emitted estimate and k-th hash are deterministic, so the gate
  // hash-compares them against the DuckDB twin computing the same
  // k-smallest-distinct declaratively over the emittable windows
  // (q_stream_append's watermark contract).
  // ---------------------------------------------------------------------
  val streamDistinctGated: (SparkSession, String) => DataFrame = (s, d) => {
    import graft.functions.Hashing.h32
    import graft.plans.KMinDistinct
    val k = 64
    val name = s"graft_stream_distinct_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withColumn("h", h32(11, col("user_id").cast("string")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), KMinDistinct.kmin(col("h"), k).as("hs"))
        .select(col("window.start").as("win_start"), col("n"), col("hs"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $HourUs").as("hour_idx"),
        col("n"),
        element_at(col("hs"), size(col("hs"))).as("kmv_kth"),
        when(size(col("hs")) < k, size(col("hs")).cast("long"))
          .otherwise(
            expr(s"${(k - 1) * 4294967296L}L div element_at(hs, size(hs))"))
          .as("est_users"))
      .orderBy(col("hour_idx"))
  }

  val streamDistinctGatedSql: String = {
    import graft.functions.Hashing.sqlH32
    val k = 64
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events),
       |e AS (
       |  SELECT epoch_us(ts) // $HourUs AS hour_idx,
       |    ${sqlH32(11, "user_id::VARCHAR")} AS h
       |  FROM events, mx
       |  WHERE (epoch_us(ts) // $HourUs + 1) * 3600000 <= mx.wm_ms - 3600000),
       |n AS (SELECT hour_idx, count(*) AS n FROM e GROUP BY 1),
       |hd AS (SELECT DISTINCT hour_idx, h FROM e),
       |r AS (SELECT hour_idx, h,
       |        row_number() OVER (PARTITION BY hour_idx ORDER BY h ASC)
       |          AS rn,
       |        count(*) OVER (PARTITION BY hour_idx) AS nh
       |      FROM hd),
       |kth AS (SELECT hour_idx, h AS kmv_kth, nh FROM r
       |        WHERE rn = least($k, nh))
       |SELECT n.hour_idx, n.n, kth.kmv_kth,
       |CASE WHEN kth.nh < $k THEN kth.nh
       |     ELSE ${(k - 1) * 4294967296L} // kth.kmv_kth END AS est_users
       |FROM n JOIN kth ON n.hour_idx = kth.hour_idx
       |ORDER BY n.hour_idx""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_stream_scd2 — SCD2 CONTINUOUSLY MAINTAINED: the dimension-update
  // stream (signup/purchase events) appended to a parquet version log
  // through the exactly-once file sink (its _spark_metadata commit log
  // is what makes replays invisible — StateSpec's recovery contract),
  // then read back and turned into effective-dated rows exactly like
  // the batch build in q_scd2_enrich (dedupe (user, ts) by max
  // event_id, valid_to via lead). The gate pins per-decile version
  // counts, open-version counts, total validity duration, and cents —
  // proving the streamed version LOG reconstructs the identical SCD2
  // table the batch twin computes from the raw events. The append-only
  // log + derived-view split is the production CDC→dimension shape: at
  // 100 TB the log partitions by arrival date and the view is a
  // nightly compaction or a reader-side window.
  // ---------------------------------------------------------------------
  val streamScd2Gated: (SparkSession, String) => DataFrame = (s, d) => {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_scd2_log")
      .toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_scd2_ckpt")
      .toString
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("valid_from_us"),
          col("event_id"),
          round(col("value") * 100).cast("long").as("attr_cents"))
        .writeStream
        .format("parquet")
        .option("path", dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"))
    s.read
      .parquet(dir)
      .groupBy(col("user_id"), col("valid_from_us"))
      .agg(max_by(col("attr_cents"), col("event_id")).as("attr_cents"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_versions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("valid_to_us").isNull, 1L).otherwise(0L))
          .as("n_current"),
        sum(col("valid_to_us") - col("valid_from_us")).as("dur_us_total"),
        sum(col("attr_cents")).as("cents_total"))
      .orderBy(col("bucket"))
  }

  val streamScd2GatedSql: String =
    """WITH up AS (
      |  SELECT user_id, epoch_us(ts) AS vf,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS cents
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |  GROUP BY 1, 2),
      |scd AS (
      |  SELECT user_id, vf, cents,
      |    lead(vf, 1) OVER (PARTITION BY user_id ORDER BY vf) AS vt
      |  FROM up)
      |SELECT user_id % 10 AS bucket,
      |count(*) AS n_versions,
      |count(DISTINCT user_id) AS n_users,
      |CAST(SUM(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_current,
      |CAST(SUM(vt - vf) AS BIGINT) AS dur_us_total,
      |CAST(SUM(cents) AS BIGINT) AS cents_total
      |FROM scd GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_sliding — SLIDING windows (1 h every 15 min) under the
  // oracle gate, APPEND mode: each event lands in 4 overlapping
  // windows; a window row is emitted iff its end ≤ watermark (the
  // q_stream_append contract). The DuckDB twin enumerates each event's
  // 4 member windows arithmetically (start index ∈ [t₁₅ − 3, t₁₅] on
  // the 15-minute grid) — no window-function analogue needed, just the
  // grid math Spark's window() performs internally.
  // ---------------------------------------------------------------------
  private val SlideUs = 900L * 1000000L // 15 min

  val streamSlidingGated: (SparkSession, String) => DataFrame = (s, d) => {
    val name = s"graft_stream_sliding_${gateN.incrementAndGet()}"
    withStatePartitions(s, 8) {
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("value_total"))
        .select(
          col("window.start").as("win_start"),
          col("event_type"),
          col("n"),
          col("value_total"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .select(
        expr(s"unix_micros(win_start) div $SlideUs").as("slot_idx"),
        col("event_type"),
        col("n"),
        col("value_total"))
      .orderBy(col("slot_idx"), col("event_type"))
  }

  val streamSlidingGatedSql: String =
    s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM events),
       |w AS (
       |  SELECT (epoch_us(ts) // $SlideUs) - t.k AS slot_idx,
       |    event_type, value
       |  FROM events, range(0, 4) AS t(k)),
       |em AS (
       |  SELECT w.slot_idx, w.event_type, w.value FROM w, mx
       |  WHERE w.slot_idx >= 0
       |    AND (w.slot_idx * $SlideUs + ${4 * 900L * 1000L * 1000L}) // 1000
       |        <= mx.wm_ms - 3600000)
       |SELECT slot_idx, event_type, count(*) AS n,
       |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_total
       |FROM em GROUP BY 1, 2 ORDER BY slot_idx, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_stream_binary — STREAMING binaryFile ingest under the oracle gate:
  // the documents corpus written once as loose <source>/doc_<id>.bin
  // files (UTF-8 payload bytes), ingested by the binaryFile STREAMING
  // source, per-source payload-size LogHistograms aggregated as
  // micro-batch state (complete mode — the sketch's merge is
  // associative+commutative, so batch == stream), quantiles extracted
  // from the final state. This is how raw media actually ENTERS a
  // 100 TB pipeline: a file-arrival stream, not a parquet table. The
  // oracle is q_binary_hist's twin verbatim: octet_length(encode(text))
  // == the ingested files' byte lengths, so the whole file-write →
  // stream-ingest → sketch path is value-pinned end to end.
  // ---------------------------------------------------------------------
  private val binDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def binFilesDir(s: SparkSession, d: String): String =
    binDirCache.computeIfAbsent(
      d,
      _ => {
        val dir = java.nio.file.Files.createTempDirectory("graft_stream_bin")
        val dirStr = dir.toString
        val docs = graft.Tables
          .documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        // one loose file per document, written BY THE TASKS — nothing
        // corpus-sized ever reaches the driver (only the bounded
        // distinct-source list does, to pre-create the directories);
        // at scale the target is shared storage and this IS how a
        // corpus materializes: a distributed file fan-out
        docs.select(col("source")).distinct().collect().foreach { r =>
          java.nio.file.Files.createDirectories(dir.resolve(r.getString(0)))
        }
        docs.foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(
                  dirStr, r.getString(1), s"doc_${r.getLong(0)}.bin"),
                r.getString(2).getBytes("UTF-8"))
            }
        }
        dirStr
      })

  // binaryFile's schema is fixed by the source (BinaryFileFormat) —
  // declaring it verbatim skips the batch-reader listing a
  // schema-inference `.load()` would cost on every gate run
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField(
        "path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(
        "modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField(
        "length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        "content",
        org.apache.spark.sql.types.BinaryType)))

  /** Scope a (conf, value) pair to `f`, restoring the prior value. */
  private def withConf[A](s: SparkSession, key: String, v: String)(
      f: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, v)
    try f
    finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None    => s.conf.unset(key)
    }
  }

  val streamBinaryGated: (SparkSession, String) => DataFrame = (s, d) => {
    val dir = binFilesDir(s, d)
    val name = s"graft_stream_binary_${gateN.incrementAndGet()}"
    val schema = binaryFileSchema
    // the corpus is thousands of ~1 KB loose files; the default 4 MB
    // file-open cost would bin-pack them into hundreds of read
    // partitions of a handful of files each — size the open cost to
    // the actual small-file overhead so tasks carry a useful batch of
    // files (the same knob a real small-file ingest sets)
    withConf(s, "spark.sql.files.openCostInBytes", "16384") {
    // each micro-batch resolves its file list through an
    // InMemoryFileIndex; above parallelPartitionDiscovery.threshold
    // (default 32) paths that listing runs as a Spark JOB with one
    // task per path — thousands of millisecond tasks of pure
    // scheduling overhead per batch (measured: 9.4 s of a 10.9 s
    // trigger in getBatch). Local-FS stats are microseconds; list on
    // the driver. (An object-store deployment flips this back — that
    // is exactly what the threshold knob is for.)
    withConf(s, "spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000") {
    withStatePartitions(s, 8) {
      val sizes = s.readStream
        .format("binaryFile")
        .schema(schema)
        .option("recursiveFileLookup", "true")
        .load(dir)
        .select(
          regexp_extract(col("path"), "([^/]+)/doc_\\d+\\.bin$", 1)
            .as("source"),
          col("length").cast("long").as("nb"))
      val q = graft.ops.Multimodal
        .sizeHistAgg(sizes)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    }
    }
    graft.ops.Multimodal.histQuantiles(s.table(name))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_binary" -> streamBinaryGated,
    "q_stream_sliding" -> streamSlidingGated,
    "q_stream_scd2" -> streamScd2Gated,
    "q_stream_distinct" -> streamDistinctGated,
    "q_stream_upsert" -> streamUpsertGated,
    "q_stream_incr_agg" -> streamIncrAggGated,
    "q_stream_cdc" -> streamCdcGated,
    "q_stream_topk" -> streamTopkGated,
    "q_merge_point" -> mergePointGated,
    "q_merge_changes" -> mergeChangesGated,
    "q_dsv2_lookup" -> dsv2LookupGated,
    "q_dsv2_changes" -> dsv2ChangesGated,
    "q_dsv2_write" -> dsv2WriteGated,
    "q_dsv2_stream_write" -> dsv2StreamWriteGated,
    "q_dsv2_timetravel" -> dsv2TimetravelGated,
    "q_dsv2_sql" -> dsv2SqlGated,
    "q_dsv2_agg_pushdown" -> dsv2AggPushGated,
    "q_dsv2_delete" -> dsv2DeleteGated,
    "q_dsv2_merge_into" -> dsv2MergeIntoGated,
    "q_dsv2_update" -> dsv2UpdateGated,
    "q_merge_composite" -> mergeCompositeGated,
    "q_catalog_stream" -> catalogStreamGated,
    "q_catalog_changes" -> catalogChangesGated,
    "q_merge_restore" -> mergeRestoreGated,
    "q_merge_race" -> mergeRaceGated,
    "q_mv_refresh" -> mvRefreshGated,
    "q_mv_rewrite" -> mvRewriteGated,
    "q_mv_rollup" -> mvRollupGated,
    "q_mv_rewrite_join" -> mvRewriteJoinGated,
    "q_mv_join" -> mvJoinGated,
    "q_mv_star" -> mvStarGated,
    "q_mv_rescan" -> mvRescanGated,
    "q_catalog_mv" -> catalogMvGated,
    "q_mv_stream" -> mvStreamGated,
    "q_merge_wap" -> mergeWapGated,
    "q_merge_constraint" -> mergeConstraintGated,
    "q_merge_partitioned" -> mergePartitionedGated,
    "q_part_evolution" -> partEvolutionGated,
    "q_merge_widen" -> mergeWidenGated,
    "q_merge_branch" -> mergeBranchGated,
    "q_merge_evolution" -> mergeEvolutionGated,
    "q_txn_transfer" -> txnTransferGated,
    "q_txn_stream" -> txnStreamGated,
    "q_merge_timetravel" -> mergeTimetravelGated,
    "q_merge_retention" -> mergeRetentionGated,
    "q_merge_compact" -> mergeCompactGated,
    "q_merge_compact_incr" -> mergeCompactIncrGated,
    "q_merge_bloom" -> mergeBloomGated,
    "q_catalog_maint" -> catalogMaintGated,
    "q_dsv2_overwrite" -> dsv2OverwriteGated,
    "q_dsv2_evolution" -> dsv2EvolutionGated,
    "q_merge_spj" -> mergeSpjGated,
    "q_merge_spj_part" -> mergeSpjPartGated,
    "q_merge_sortjoin" -> mergeSortJoinGated,
    "q_merge_zorder" -> mergeZOrderGated,
    "q_merge_zorder3" -> mergeZOrder3Gated,
    "q_stream_asof" -> streamAsofGated,
    "q_stream_quantiles" -> streamQuantilesGated,
    "q_stream_tumbling" -> streamTumblingGated,
    "q_stream_append" -> streamTumblingAppend,
    "q_stream_parquet_sink" -> streamParquetSink,
    "q_stream_enrich" -> streamEnrichGated,
    "q_stream_session" -> streamSessionGated,
    "q_stream_join" -> streamJoinGated,
    "q_stream_join_outer" -> streamJoinOuterGated,
    "q_stream_join_full" -> streamJoinFullGated,
    "q_stream_dedup" -> streamDedupGated
  )

  val oracleSql: Map[String, String] = Map(
    "q_stream_binary" -> graft.ops.Multimodal.binaryHistSql,
    "q_stream_sliding" -> streamSlidingGatedSql,
    "q_stream_scd2" -> streamScd2GatedSql,
    "q_stream_distinct" -> streamDistinctGatedSql,
    "q_stream_upsert" -> streamUpsertGatedSql,
    "q_stream_incr_agg" -> streamIncrAggGatedSql,
    "q_stream_cdc" -> streamCdcGatedSql,
    "q_stream_topk" -> streamTopkGatedSql,
    "q_merge_point" -> mergePointGatedSql,
    "q_merge_changes" -> mergeChangesGatedSql,
    "q_dsv2_lookup" -> dsv2LookupGatedSql,
    "q_dsv2_changes" -> dsv2ChangesGatedSql,
    "q_dsv2_write" -> dsv2WriteGatedSql,
    "q_dsv2_stream_write" -> dsv2StreamWriteGatedSql,
    "q_dsv2_timetravel" -> dsv2TimetravelGatedSql,
    "q_dsv2_sql" -> dsv2SqlGatedSql,
    "q_dsv2_agg_pushdown" -> dsv2AggPushGatedSql,
    "q_dsv2_delete" -> dsv2DeleteGatedSql,
    "q_dsv2_merge_into" -> dsv2MergeIntoGatedSql,
    "q_dsv2_update" -> dsv2UpdateGatedSql,
    "q_merge_composite" -> mergeCompositeGatedSql,
    "q_catalog_stream" -> catalogStreamGatedSql,
    "q_catalog_changes" -> catalogChangesGatedSql,
    "q_merge_restore" -> mergeRestoreGatedSql,
    "q_merge_race" -> mergeRaceGatedSql,
    "q_mv_refresh" -> mvRefreshGatedSql,
    "q_mv_rewrite" -> mvRefreshGatedSql,
    "q_mv_rollup" -> mvRollupGatedSql,
    "q_mv_rewrite_join" -> mvRewriteJoinGatedSql,
    "q_mv_join" -> mvJoinGatedSql,
    "q_mv_star" -> mvStarGatedSql,
    "q_mv_rescan" -> mvRescanGatedSql,
    "q_catalog_mv" -> catalogMvGatedSql,
    "q_mv_stream" -> mvStreamGatedSql,
    "q_merge_wap" -> mergeWapGatedSql,
    "q_merge_constraint" -> mergeConstraintGatedSql,
    "q_merge_partitioned" -> mergePartitionedGatedSql,
    "q_part_evolution" -> partEvolutionGatedSql,
    "q_merge_widen" -> mergeWidenGatedSql,
    "q_merge_branch" -> mergeBranchGatedSql,
    "q_merge_evolution" -> mergeEvolutionGatedSql,
    "q_txn_transfer" -> txnTransferGatedSql,
    "q_txn_stream" -> txnTransferGatedSql,
    "q_merge_timetravel" -> mergeTimetravelGatedSql,
    "q_merge_retention" -> mergeRetentionGatedSql,
    "q_merge_compact" -> mergeCompactGatedSql,
    "q_merge_compact_incr" -> mergeCompactGatedSql,
    "q_merge_bloom" -> mergeBloomGatedSql,
    "q_catalog_maint" -> mergeCompactGatedSql,
    "q_dsv2_overwrite" -> dsv2OverwriteGatedSql,
    "q_dsv2_evolution" -> dsv2EvolutionGatedSql,
    "q_merge_spj" -> mergeSpjGatedSql,
    "q_merge_spj_part" -> mergeSpjPartGatedSql,
    "q_merge_sortjoin" -> mergeSpjGatedSql,
    "q_merge_zorder" -> mergeZOrderGatedSql,
    "q_merge_zorder3" -> mergeZOrder3GatedSql,
    "q_stream_asof" -> streamAsofGatedSql,
    "q_stream_quantiles" -> streamQuantilesGatedSql,
    "q_stream_tumbling" -> streamTumblingGatedSql,
    "q_stream_append" -> streamTumblingAppendSql,
    "q_stream_parquet_sink" -> streamTumblingAppendSql,
    "q_stream_enrich" -> streamEnrichGatedSql,
    "q_stream_session" -> streamSessionGatedSql,
    "q_stream_join" -> streamJoinGatedSql,
    "q_stream_join_outer" -> streamJoinOuterGatedSql,
    "q_stream_join_full" -> streamJoinFullGatedSql,
    "q_stream_dedup" -> streamDedupGatedSql
  )
}
