package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftShim, SparkSession, sources}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, Cast, EqualTo, EvalMode, Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.pipeline.ChangeLog

/** A raw change event as it arrives on the stream (the `events` corpus
  * shape; FIXTURES.md maps user_id→key, event_id→LSN, event_type→op).
  */
case class RawEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Emitted state transition: the current materialized row per key, or a
  * tombstone marker when the latest op deleted the key.
  */
case class StateOut(user_id: Long, event_id: Long, event_type: String,
    value: Double, deleted: Boolean)

/** One SCD Type 2 validity interval: version `version` of key `user_id`
  * held `value` over [valid_from_lsn, valid_to_lsn); the open (current)
  * interval has valid_to_lsn = None. Update-keyed by (user_id, version):
  * closing an interval re-emits the same version with its upper bound.
  */
case class Scd2Out(user_id: Long, version: Int, event_type: String,
    value: Double, valid_from_lsn: Long, valid_to_lsn: Option[Long],
    is_current: Boolean)

/** Open-session accumulator for [[ChangeLogStream.sessionizePerUser]]:
  * per-user session counter plus the open session's min/max event time,
  * the ts of the latest event in LSN order (the batch gap rule compares
  * against THAT, not the max — they differ when commit order and event
  * time disagree), and the event count. All times in micros. */
case class SessionAcc(sessionId: Long, minTs: Long, maxTs: Long,
    lastEvTs: Long, n: Long)

/** One CLOSED session emitted by [[ChangeLogStream.sessionizePerUser]] —
  * same shape as a batch `window_sessionize` row. */
case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

/** SpaceSaving counter cell: estimated count and its one-sided error
  * bound (true count ∈ [count − err, count]). */
case class CountErr(count: Long, err: Long)

/** One current heavy hitter emitted by
  * [[ChangeLogStream.heavyHittersPerType]]: the estimate overcounts the
  * true frequency by at most `err`. */
case class HeavyHitter(event_type: String, user_id: Long, est_count: Long,
    err: Long)

/** Structured Streaming re-expression of the reference pipeline
  * (SURVEY.md §3): WAL stream → keyed events → idempotent latest-state
  * materialization.
  *
  * What the reference does with hand-rolled loops maps 1:1 here:
  *  - LSN checkpoint every ~10 s in BoltDB (store.go:54-61, lossy)
  *    → `checkpointLocation` offsets+state, exact per microbatch.
  *  - at-least-once redelivery made safe by ES doc-id overwrite
  *    (es_consumer/main.go:77) → `dropDuplicatesWithinWatermark` +
  *    idempotent `foreachBatch` merge.
  *  - no event-time semantics at all (§2.7) → watermarked windows added
  *    as a first-class improvement.
  *
  * State stores scale horizontally: all stateful ops here key by
  * `user_id`, so state is hash-partitioned across executors and each
  * partition's store is O(its keys).
  */
object ChangeLogStream {

  /** Event-time tumbling-window aggregation with late-data drop. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Event-time windowed DISTINCT-USER count with BOUNDED state. The
    * exact formulation keeps every seen user_id per open window in
    * state — O(distinct users), unbounded under key churn; the HLL
    * sketch keeps a fixed 2^lgK-register summary per (window, type)
    * group regardless of cardinality, and micro-batch partials merge
    * by sketch UNION, never a row rescan (lgK=12 → relative standard
    * error 1.04/√4096 ≈ 1.6%). The union is split-invariant
    * (SketchMergeLawSpec proves estimates invariant under arbitrary
    * partitions of the input), so the streaming answer equals the
    * batch sketch over the same log no matter how batches split — the
    * spec asserts that equality and the accuracy bound vs exact.
    */
  def windowedDistinctHll(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes", lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgK))
        .as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("approx_users"))

  /** Streaming replay-dedup: the reference's doc-id idempotency (D13)
    * with bounded state — duplicates beyond the watermark horizon are
    * already impossible to re-deliver in-order, so state is evictable.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateful latest-state per key with tombstones: the A3 upsert as
    * explicit keyed state. Emits a StateOut per input change (Update
    * mode); `deleted=true` marks key removal (reference never emits
    * these — §2.6). Events within a batch apply in LSN order; stale
    * (lower-LSN) arrivals are ignored — replay/out-of-order safe.
    */
  def latestStatePerKey(events: Dataset[RawEvent]): Dataset[StateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[RawEvent], state: GroupState[StateOut]) =>
          val (next, out) = latestStateFold(uid, state.getOption, batch.toSeq)
          next.foreach(state.update)
          out.iterator
      }
  }

  /** Pure latest-state fold of one key's batch (the [[sessionFold]]
    * convention), shared by the FMGWS, transformWithState and TTL forms:
    * events apply in LSN order, one at or below the state's LSN is
    * ignored. Returns the new state and the emitted transitions.
    */
  def latestStateFold(uid: Long, init: Option[StateOut],
      events: Seq[RawEvent]): (Option[StateOut], Seq[StateOut]) = {
    var cur = init
    val out = scala.collection.mutable.ArrayBuffer.empty[StateOut]
    events.sortBy(_.event_id).foreach { e =>
      if (!cur.exists(_.event_id >= e.event_id)) {
        val next = StateOut(uid, e.event_id, e.event_type, e.value,
          deleted = e.event_type == "error")
        cur = Some(next)
        out += next
      }
    }
    (cur, out.toSeq)
  }

  /** Streaming SCD Type 2: the batch `cdc_scd2_intervals` history table
    * maintained incrementally. Each arriving change CLOSES the key's
    * open interval (re-emitting it with its upper bound — Update mode
    * keyed on (user_id, version), so a sink upserts the closed form
    * over the earlier open emission) and opens the next version. State
    * is exactly ONE open interval per key — O(keys), not O(history):
    * the closed intervals live in the sink, which is what makes the
    * history table maintainable at 100 TB of changelog without ever
    * re-reading it. Stale (LSN ≤ open interval's start) arrivals are
    * ignored — replay-safe for the same reason latestStatePerKey is.
    */
  def scd2PerKey(events: Dataset[RawEvent]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[RawEvent], state: GroupState[Scd2Out]) =>
          val ordered = batch.toSeq.sortBy(_.event_id)
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          ordered.foreach { e =>
            if (!cur.exists(_.valid_from_lsn >= e.event_id)) {
              cur.foreach { open =>
                out += open.copy(valid_to_lsn = Some(e.event_id),
                  is_current = false)
              }
              val next = Scd2Out(uid, cur.map(_.version).getOrElse(0) + 1,
                e.event_type, e.value, e.event_id, None, is_current = true)
              cur = Some(next)
              out += next
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Stream-stream interval join: purchases attributed to the click
    * that preceded them within `horizon` — the streaming form of the
    * batch `asof_click_purchase` attribution. Both sides carry
    * watermarks, which is what lets Spark BOUND the join state: a
    * buffered click can only match purchases inside its horizon, so
    * once the purchase watermark passes click_ts + horizon the click is
    * evicted. Without the time bound the state grows with every click
    * ever seen — the difference between a join that runs forever at
    * 100 TB/day and one that OOMs in an afternoon. Inner join in
    * append mode: matches emit as soon as both sides arrive.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "5 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases
      .select(col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p, expr(
      s"""click_user = purchase_user AND
         |purchase_ts >= click_ts AND
         |purchase_ts <= click_ts + interval $horizon""".stripMargin))
      .select(col("click_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** foreachBatch adapter wiring [[scd2PerKey]] into the bucketed
    * [[upsertBatch]] sink: the history table keyed on (user_id,
    * version), so a closed interval's re-emission UPSERTS over its
    * earlier open emission and the sink converges to the batch
    * `cdc_scd2_intervals` table.
    *
    * The upsert's version column cannot be `valid_from_lsn` alone: the
    * open and closed emissions of one (key, version) share it (it is
    * the interval's fixed lower bound), and a tie must not let the open
    * form survive. `__closed_seq` = coalesce(valid_to_lsn, -1) makes
    * closure dominant — any closed emission (valid_to_lsn ≥ 0) beats
    * the open one (-1), and replayed duplicates are idempotent. The
    * column stays in the table as sink metadata (readers get it from
    * [[readState]]; it equals valid_to_lsn except for open rows).
    */
  def scd2UpsertBatch(tableDir: String, numBuckets: Int = 16)(
      batch: Dataset[Scd2Out], batchId: Long): Unit =
    upsertBatch(tableDir, Seq("user_id", "version"), "__closed_seq", numBuckets)(
      batch.toDF().withColumn("__closed_seq",
        coalesce(col("valid_to_lsn"), lit(-1L))), batchId)

  /** The same latest-state semantics on Spark 4's transformWithState —
    * the successor to flatMapGroupsWithState: typed state variables
    * (ValueState here; list/map state available), per-state TTL config,
    * timers, and a RocksDB-backed store (set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider — the API requires it). Kept alongside the FMGWS version:
    * both are driver-relevant surfaces of the same operator.
    */
  class LatestStateProcessor extends StatefulProcessor[Long, RawEvent, StateOut] {
    @transient private var state: ValueState[StateOut] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StateOut]("latest",
        Encoders.product[StateOut], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[RawEvent],
        timerValues: TimerValues): Iterator[StateOut] = {
      val (next, out) = latestStateFold(key, Option(state.get()), rows.toSeq)
      next.foreach(state.update)
      out.iterator
    }
  }

  def latestStatePerKeyTws(events: Dataset[RawEvent]): Dataset[StateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LatestStateProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming heavy hitters per event_type — the SpaceSaving algorithm
    * (Metwally et al. 2005) on transformWithState MAP state: at most
    * `capacity` (user → (count, err)) counters live per group key, so
    * state is O(groups · capacity) REGARDLESS of how many distinct
    * users stream past — the bounded-memory property that lets a
    * top-k monitor run forever against an unbounded key space. On
    * overflow the minimum counter is evicted and the newcomer inherits
    * its count as `err` — giving the classic guarantees the spec
    * checks: true ≤ est ≤ true + err per tracked item, and any item
    * with true count > N/capacity is guaranteed tracked. Each batch
    * emits the group's current top-`k` (Update semantics downstream).
    * The O(capacity) min scans only run on eviction; with the default
    * 64 counters that is bounded constant work per row.
    */
  class HeavyHittersProcessor(capacity: Int = 64, k: Int = 10)
      extends StatefulProcessor[String, RawEvent, HeavyHitter] {
    @transient private var counters: org.apache.spark.sql.streaming.MapState[Long, CountErr] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[Long, CountErr]("ss_counters",
        Encoders.scalaLong, Encoders.product[CountErr], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[RawEvent],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      // local mirror: one state read per batch, one write per touched key
      val before = counters.iterator()
        .map { case (u, ce) => u -> ce }.toMap
      val after = ChangeLogStream.spaceSavingFold(before,
        rows.map(_.user_id), capacity)
      (before.keySet -- after.keySet).foreach(counters.removeKey)
      after.foreach { case (u, ce) => counters.updateValue(u, ce) }
      after.toSeq.sortBy { case (u, ce) => (-ce.count, u) }.take(k)
        .map { case (u, ce) => HeavyHitter(key, u, ce.count, ce.err) }
        .iterator
    }
  }

  /** Pure SpaceSaving update — the whole counter semantics in one
    * referentially transparent function (the sessionFold convention) so
    * the algorithm's guarantees are directly property-testable: at most
    * `capacity` counters survive; a tracked item's estimate brackets
    * its true count within `err`; any item with true count > N/capacity
    * is tracked; and chunked folding equals one pass by construction.
    * Eviction takes the (count, key)-lexicographic minimum, so the fold
    * is deterministic for a given input order.
    */
  def spaceSavingFold(init: Map[Long, CountErr], items: IterableOnce[Long],
      capacity: Int): Map[Long, CountErr] = {
    val m = scala.collection.mutable.Map.empty[Long, CountErr]
    m ++= init
    items.iterator.foreach { item =>
      m.get(item) match {
        case Some(ce) => m(item) = ce.copy(count = ce.count + 1)
        case None if m.size < capacity =>
          m(item) = CountErr(1L, 0L)
        case None =>
          // evict the min (deterministic tie-break on key), the
          // newcomer inherits its count as the error bound
          val (mu, mc) = m.minBy { case (u, ce) => (ce.count, u) }
          m.remove(mu)
          m(item) = CountErr(mc.count + 1, mc.count)
      }
    }
    m.toMap
  }

  /** [[HeavyHittersProcessor]] wired per event_type. */
  def heavyHittersPerType(events: Dataset[RawEvent], capacity: Int = 64,
      k: Int = 10): Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HeavyHittersProcessor(capacity, k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Latest-state with TTL: keys idle past `ttl` have their state
    * dropped via event-time timeout. At 100 TB of changelog the state
    * store is the scaling liability — unbounded latestStatePerKey state
    * grows with EVERY key ever seen; TTL caps it at the active-key set.
    * Trade-off (made explicit, not accidental): an event arriving after
    * its key expired is applied fresh, exactly like the reference's
    * at-least-once redelivery re-creating an ES doc.
    */
  def latestStatePerKeyWithTTL(events: Dataset[RawEvent],
      watermark: String = "10 minutes",
      ttlMs: Long = 60L * 60 * 1000): Dataset[StateOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[RawEvent], state: GroupState[StateOut]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val events = batch.toSeq
            val (next, out) = latestStateFold(uid, state.getOption, events)
            next.foreach(state.update)
            if (events.nonEmpty)
              state.setTimeoutTimestamp(events.map(_.ts.getTime).max + ttlMs)
            out.iterator
          }
      }
  }

  /** Streaming sessionization — the stateful form of the batch
    * `window_sessionize` query (same gap rule: a new session opens after
    * a silence longer than `gapMinutes`, events ordered by event_id =
    * LSN commit order). Per user the state is ONE open session (id,
    * start, last, count) — O(active users), hash-partitioned by key like
    * every stateful op here. A session is emitted exactly once, when it
    * CLOSES: either a later event opens the next session (gap observed
    * in-data) or the event-time watermark passes last_ts + gap and the
    * EventTimeTimeout fires (the open tail of an inactive user — the
    * case a pure batch job can only resolve by re-scanning). Session ids
    * count gaps from 0 per user, matching the batch numbering, so the
    * closed-session stream converges to the batch table row-for-row —
    * INCLUDING users who return after a timeout: the timeout leaves a
    * per-user numbering marker (n = 0) in state so the comeback session
    * continues at sessionId + 1 instead of restarting at 0.
    */
  def sessionizePerUser(events: Dataset[RawEvent],
      gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    // full µs fidelity: Timestamp.getTime truncates to millis, the
    // sub-millisecond fraction lives in getNanos
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def stamp(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos(((us - Math.floorDiv(us, 1000000L) * 1000000L) * 1000L).toInt)
      t
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[RawEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed the session's last activity + gap: no
            // in-order event can extend it any more — close it. Do NOT
            // remove the state: a user who returns after the timeout
            // must continue numbering at sessionId+1, or the stream
            // would re-emit session_id 0 and diverge from the batch
            // table. We retain a NUMBERING MARKER — a SessionAcc with
            // n = 0 (impossible for a real session, which always holds
            // ≥1 event) carrying the next id and the closed session's
            // lastEvTs. No new timeout is armed for markers, so they
            // never fire again; the state cost is a few longs per
            // user-ever-seen instead of per-active-user — the price of
            // the row-for-row batch-parity contract. (A deployment that
            // cannot afford per-user markers can bound them with a
            // state-store TTL and accept numbering restarts past it.)
            val s = state.get
            if (s.n == 0L) Iterator.empty // marker timeout: nothing open
            else {
              state.update(SessionAcc(s.sessionId + 1, s.lastEvTs,
                s.lastEvTs, s.lastEvTs, 0L))
              Iterator(SessionOut(uid, s.sessionId, s.n, stamp(s.minTs),
                stamp(s.maxTs)))
            }
          } else {
            val ordered = batch.toSeq.sortBy(_.event_id)
              .map(e => micros(e.ts))
            val (next, closed) =
              sessionFold(state.getOption, ordered, gapMicros)
            val out = closed.map(s => SessionOut(uid, s.sessionId, s.n,
              stamp(s.minTs), stamp(s.maxTs)))
            next.foreach { s =>
              state.update(s)
              // +1: the ms-truncation must round UP so the timeout never
              // lands strictly inside the gap window. Markers (n == 0,
              // possible here only on an empty replay batch) are never
              // armed — they must outlive every watermark.
              if (s.n > 0L)
                state.setTimeoutTimestamp(
                  s.maxTs / 1000L + 1L + gapMinutes * 60L * 1000L)
            }
            out.iterator
          }
      }
  }

  /** Pure per-batch session fold — the whole sessionizer semantics in
    * one referentially transparent function so the split-invariance
    * law (any batching of a user's in-order event times yields the
    * same closed sessions and final open state) is directly property-
    * testable without a streaming harness. `times` must be the batch's
    * event times in LSN order, micros.
    */
  def sessionFold(init: Option[SessionAcc], times: Seq[Long],
      gapMicros: Long): (Option[SessionAcc], Seq[SessionAcc]) = {
    var cur = init
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
    times.foreach { t =>
      cur match {
        case Some(s) if s.n == 0L =>
          // numbering marker left behind by an EventTimeTimeout: the
          // previous session is already emitted, so the first event
          // after it opens the session CARRYING THE MARKER'S id (the
          // marker stores sessionId + 1 of the closed session). No gap
          // check — the timeout already proved the gap.
          cur = Some(SessionAcc(s.sessionId, t, t, t, 1L))
        case Some(s) if t - s.lastEvTs > gapMicros =>
          closed += s
          cur = Some(SessionAcc(s.sessionId + 1, t, t, t, 1L))
        case Some(s) =>
          cur = Some(s.copy(minTs = math.min(s.minTs, t),
            maxTs = math.max(s.maxTs, t), lastEvTs = t, n = s.n + 1))
        case None =>
          cur = Some(SessionAcc(0L, t, t, t, 1L))
      }
    }
    (cur, closed.toSeq)
  }

  /** Partition-column name of the bucketed latest-state layout. Spark's
    * file index exposes it as an ordinary (int) column; [[readState]]
    * drops it for callers that only want the payload.
    */
  val BucketCol = "__bucket"

  /** Deterministic bucket of a key: `xxhash64(keyCols) mod numBuckets`.
    * A pure function of the key columns, so a key lives in exactly one
    * bucket directory for the life of the table.
    */
  def bucketOf(keyCols: Seq[String], numBuckets: Int): Column =
    bucketOf(keyCols, lit(numBuckets.toLong))

  /** [[bucketOf]] with the bucket count as a (long) column: a merge over
    * several tables looks up each row's count by its table.
    */
  private def bucketOf(keyCols: Seq[String], numBuckets: Column): Column =
    GraftShim.column(bucketExpr(keyCols.map(k => GraftShim.expression(col(k))),
      GraftShim.expression(numBuckets)))

  /** The bucket expression over `keys` (seed 42, the SQL `xxhash64`'s):
    * the merge evaluates it per row through [[bucketOf]], a lookup
    * evaluates it on the driver over typed literals, so the bucket a
    * lookup probes is the bucket the merge wrote to.
    */
  private def bucketExpr(keys: Seq[Expression], numBuckets: Expression): Expression =
    Cast(Pmod(new XxHash64(keys), numBuckets), IntegerType)

  /** foreachBatch idempotent keyed upsert into a BUCKETED parquet
    * "latest state" table — the ES-sink analog (K2/A3) with batch
    * commits instead of one refresh per document: the one-table,
    * last-writer-wins case of [[upsertBatchImpl]], which documents the
    * layout, the per-bucket rewrite and the crash protocol.
    */
  def upsertBatch(tableDir: String, keyCols: Seq[String], versionCol: String,
      numBuckets: Int = 16)(batch: DataFrame, batchId: Long): Unit =
    lastWriterBatch(tableDir, LastWriter(keyCols, versionCol, None), -1L, numBuckets)(
      batch, batchId)

  /** A merge row's table: its index in the merge's table list, which
    * also names its staging directory, so no table name reaches a path.
    */
  private val TableCol = "__table"

  /** One table of a merge: its store, its slice's max version and max
    * truncate LSN (-1 for none), and its touched buckets.
    */
  private final case class Target(dir: String, batchMax: Long, truncateMax: Long,
      touched: Array[Int])

  /** How a merge resolves a key's rows; a law that `retains` keeps a
    * retention head and may remove a key outright.
    */
  private sealed abstract class Law(val keyCols: Seq[String], val retains: Boolean)

  /** The highest `versionCol` wins; with `retain`, a winning delete is
    * dropped once the retention horizon passes it.
    */
  private final case class LastWriter(override val keyCols: Seq[String], versionCol: String,
      retain: Option[Column]) extends Law(keyCols, retain.isDefined)

  /** [[carryForwardRetentionUpsertBatch]]'s law, behind the TRUNCATE fence. */
  private case object CarryForward extends Law(Seq("key"), retains = true)

  /** The one-table case of [[upsertBatchImpl]], staged beside the table. */
  private def upsertOne(t: Target, law: Law, numBuckets: Int)(
      batch: DataFrame, batchId: Long): Unit =
    upsertBatchImpl(t.dir, IndexedSeq(t), law, numBuckets)(
      batch.withColumn(TableCol, lit(0)), batchId)

  /** A one-table last-writer merge. One shuffle-free job finds its
    * touched buckets: each partition's distinct ones, merged on the driver.
    */
  private def lastWriterBatch(tableDir: String, law: LastWriter, batchMax: Long,
      numBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    val nb = storeLayout(batch.sparkSession, tableDir, numBuckets)._1
    val touched = batch.select(bucketOf(law.keyCols, nb)).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect().distinct.sorted
    upsertOne(Target(tableDir, batchMax, -1L, touched), law, numBuckets)(batch, batchId)
  }

  /** Advances the store's monotone persisted head at `tableDir__head`
    * ([[graft.pipeline.LsnCheckpoint]]'s atomic replace) to cover
    * `batchMax`, and returns it.
    */
  private def advanceHead(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, batchMax: Long): Long = {
    val headPath = tableDir + "__head"
    val oldHead = graft.pipeline.LsnCheckpoint.read(spark, headPath)
    val head = math.max(oldHead, batchMax)
    if (head > oldHead)
      graft.pipeline.LsnCheckpoint.write(spark, headPath, head)
    head
  }

  /** [[upsertBatch]] with the compact+delete tombstone-retention policy
    * wired into the merge (reference K2's ES store never GCs deletes;
    * Kafka's log cleaner is the model — SURVEY.md §2.6). The policy is
    * [[graft.pipeline.ChangeLog.tombstoneHorizon]] — the SAME code the
    * batch report `cdc_tombstone_gc` classifies with, so sink and
    * report can never drift.
    *
    * Mechanics: the store's head LSN persists monotonically at
    * `tableDir + "__head"` ([[graft.pipeline.LsnCheckpoint]]'s atomic
    * replace); each batch advances it and drops, FROM THE MERGED
    * TOUCHED BUCKETS, every row whose op is a delete and whose version
    * is at-or-below the horizon. Purge rides the rewrite the merge
    * already does (zero extra IO — the Kafka cleaner's
    * compact-on-rewrite); tombstones in untouched buckets persist until
    * their bucket is next touched, exactly like segments the cleaner
    * hasn't visited. Head is written BEFORE the publish: a crash
    * between the two replays the batch against the same (monotonic)
    * horizon — idempotent.
    *
    * Contract (Kafka's): a replay of history OLDER than the horizon can
    * resurrect a purged key — that is precisely why consumers lagging
    * past the horizon must resnapshot, and why the horizon trails the
    * head by a quarter of the log rather than hugging it.
    */
  def retentionUpsertBatch(tableDir: String, keyCols: Seq[String],
      versionCol: String, isDelete: Column,
      numBuckets: Int = 16)(batch: DataFrame, batchId: Long): Unit =
    lastWriterBatch(tableDir, LastWriter(keyCols, versionCol, Some(isDelete)),
      batch.agg(maxOrNone(col(versionCol))).head().getLong(0), numBuckets)(
      batch, batchId)

  /** Standalone log-cleaner pass — the Kafka cleaner visits COLD
    * segments too: [[retentionUpsertBatch]] compacts only buckets its
    * batch touches, so a tombstone in a bucket no batch revisits would
    * otherwise outlive its horizon forever. This sweep reads the
    * store's own persisted head (no batch required), finds the buckets
    * actually holding expired tombstones with ONE pruned scan
    * (bucket/op/version columns only — payload never reads), and
    * rewrites ONLY those through the identical merge with an empty
    * batch and those buckets as its touched set (an all-expired bucket
    * publishes as a deletion). Returns the number of buckets rewritten;
    * 0 = store already clean, nothing written. Idempotent and
    * crash-safe for the same reasons the batch path is: re-running
    * re-merges to the same result, and a crash between renames is
    * restored by the recovery sweep.
    */
  def compactTombstones(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, keyCols: Seq[String], versionCol: String,
      isDelete: Column, numBuckets: Int = 16): Int = {
    val head = graft.pipeline.LsnCheckpoint.read(spark, tableDir + "__head")
    val target = new Path(tableDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (head < 0 || !fs.exists(target) ||
        !fs.listStatus(target).exists(_.isDirectory)) return 0
    val store = readStore(spark, tableDir)
    val expired = store
      .filter(isDelete && !graft.pipeline.ChangeLog.tombstoneRetained(
        col(versionCol).cast("long"), lit(head)))
      .select(BucketCol).distinct().collect().map(_.getInt(0)).sorted
    if (expired.isEmpty) return 0
    upsertOne(Target(tableDir, -1L, -1L, expired),
      LastWriter(keyCols, versionCol, Some(isDelete)), numBuckets)(
      store.drop(BucketCol).limit(0), -1L)
    expired.length
  }

  /** The one merge of every sink here: each table of `batch` (a row names
    * its table by its index in `tables`, [[TableCol]]) merged into its
    * store under `law` — one table for the single-table sinks, every
    * table of the micro-batch for [[fullProductionBatch]].
    *
    * Layout: `<dir>/__bucket=<hash(key) mod NB>/` plus a `_graft_buckets`
    * marker pinning NB (a TABLE constant: a changed count would strand
    * rows). Only touched buckets are read, merged and swapped: write
    * amplification is O(touched state), the reference's per-doc-ID ES
    * upsert (es_consumer/main.go:77-95) batched.
    *
    * Per table, on the driver, in table order: the recovery sweep of
    * `<dir>__prev`, the pinned count, the fence ([[advanceFence]]), the
    * head ([[advanceHead]]), and the touched buckets' read with the
    * footer schema, so a store whose schema does not merge fails the
    * batch before any job. Then ONE job: the rows above their table's
    * fence and the prior rows, repartitioned once on (table, bucket),
    * which meets the law's clustering on (table, bucket, key) and the
    * `partitionBy(table, bucket)` staging write (each table's count,
    * fence and head are columns looked up by table). A failed job
    * publishes nothing. Then per (table, bucket): move the live bucket
    * aside, rename the staged one in, drop the aside copy, each step
    * checked ([[CheckedFs]]). A crash mid-publish is safe under replay:
    * re-merging an updated bucket is a no-op, and the sweep restores a
    * bucket caught between its renames. (A real deployment would use a
    * Delta/Iceberg MERGE; plain parquet keeps this repo dependency-free.)
    */
  private def upsertBatchImpl(root: String, tables: IndexedSeq[Target], law: Law,
      numBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layouts = tables.map { t =>
      val target = new Path(t.dir)
      val backupRoot = new Path(t.dir + "__prev")
      // crash recovery: restore any bucket a dying batch left moved aside
      // (target missing, backup present); backups whose target EXISTS are
      // superseded copies from after a completed publish — drop them
      if (fs.exists(backupRoot)) {
        fs.listStatus(backupRoot).foreach { st =>
          val restored = new Path(target, st.getPath.getName)
          if (!fs.exists(restored)) {
            fs.mkdirs(target)
            CheckedFs.rename(fs, st.getPath, restored)
          }
        }
        CheckedFs.delete(fs, backupRoot)
      }
      val nb = readOrPinBucketCount(fs, target, numBuckets)
      val fence = if (law == CarryForward) advanceFence(spark, t.dir, t.truncateMax) else -1L
      val head = if (law.retains) advanceHead(spark, t.dir, t.batchMax) else -1L
      (nb.toLong, fence, head)
    }
    val (nbs, fences, heads) = layouts.unzip3
    def ofTable(values: Seq[Long]): Column =
      if (values.distinct.length == 1) lit(values.head)
      else element_at(typedLit(values), col(TableCol) + 1)
    val rows = (if (fences.forall(_ < 0)) batch else batch.filter(aboveFence(ofTable(fences))))
      .withColumn(BucketCol, bucketOf(law.keyCols, ofTable(nbs)))
    val merging = tables.indices.filter(tables(_).touched.nonEmpty)
    if (merging.isEmpty) return
    // the store's merged footer schema + allowMissingColumns: an upstream
    // ALTER TABLE ADD COLUMN (CDC tables drift over a pipeline's
    // lifetime) must not kill the sink. Added columns surface as NULL on
    // the side that lacks them — the Delta/Iceberg MERGE evolution
    // contract; type CHANGES still refuse loudly (SchemaEvolutionSpec
    // documents the explicit per-epoch widening path for those).
    val prior = merging.flatMap { i =>
      val target = new Path(tables(i).dir)
      if (!fs.exists(target) || !fs.listStatus(target).exists(_.isDirectory)) None
      else Some(readStore(spark, tables(i).dir)
        .filter(col(BucketCol).isin(tables(i).touched.map(Int.box): _*))
        .withColumn(TableCol, lit(i)))
    }
    val keys = TableCol +: BucketCol +: law.keyCols
    val merged = law match {
      case LastWriter(_, versionCol, retain) =>
        val latest = ChangeLog.latestState((prior :+ rows)
          .reduce(_.unionByName(_, allowMissingColumns = true))
          .repartition(col(TableCol), col(BucketCol)), keys, versionCol)
        retain.fold(latest)(isDelete => latest.filter(!isDelete ||
          ChangeLog.tombstoneRetained(col(versionCol).cast("long"), ofTable(heads))))
      case CarryForward =>
        ChangeLog.retainedState(ChangeLog.carryForwardKeys(withPriorState(prior, rows)
          .repartition(col(TableCol), col(BucketCol)), keys), keys, ofTable(heads))
    }
    val stagingRoot = new Path(root + s"__staging_$batchId")
    merged.write.partitionBy(TableCol, BucketCol).mode("overwrite")
      .parquet(stagingRoot.toString)
    // publish concurrently on a bounded pool: the protocol is per
    // (table, bucket) — only the order WITHIN a bucket is an invariant —
    // and serial renames dominate a batch against an object store
    merging.foreach { i =>
      fs.mkdirs(new Path(tables(i).dir))
      fs.mkdirs(new Path(tables(i).dir + "__prev"))
    }
    val buckets = merging.flatMap(i => tables(i).touched.map(i -> _))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(buckets.length, 16))
    try {
      val tasks = buckets.map { case (i, b) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val staged = new Path(stagingRoot, s"$TableCol=$i/$BucketCol=$b")
            val live = new Path(tables(i).dir, s"$BucketCol=$b")
            val aside = new Path(tables(i).dir + s"__prev/$BucketCol=$b")
            // a bucket missing from staging merged to no row: publishing
            // it deletes the live copy, which only a retaining law may do
            if (!fs.exists(staged)) {
              if (!law.retains)
                throw new IllegalStateException(s"staging missing touched bucket $staged")
              CheckedFs.delete(fs, aside)
              CheckedFs.delete(fs, live)
            } else {
              CheckedFs.delete(fs, aside) // a rename onto it would nest inside it
              if (fs.exists(live)) CheckedFs.rename(fs, live, aside)
              if (!fs.rename(staged, live)) {
                if (fs.exists(aside)) fs.rename(aside, live)
                throw new java.io.IOException(s"failed to publish $staged to $live")
              }
              if (fs.exists(aside)) fs.delete(aside, true)
            }
          }
        })
      }
      // get() rethrows the task's exception (unwrapped from the
      // ExecutionException) after every task has been submitted
      tasks.foreach { t =>
        try t.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
    fs.delete(stagingRoot, true) // only _SUCCESS & co remain
    merging.foreach(i => fs.delete(new Path(tables(i).dir + "__prev"), true))
  }

  /** The bucket count is pinned by a `_graft_buckets` marker when the
    * table is created; later batches use the PINNED value so a changed
    * default can never silently split keys across layouts.
    */
  private def readOrPinBucketCount(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, numBuckets: Int): Int = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    readBucketCount(fs, target).getOrElse {
      fs.mkdirs(target)
      val out = fs.create(new Path(target, "_graft_buckets"), true)
      try out.write(numBuckets.toString.getBytes("UTF-8"))
      finally out.close()
      numBuckets
    }
  }

  /** The pinned bucket count, if the table has been created. */
  private def readBucketCount(fs: org.apache.hadoop.fs.FileSystem,
      target: Path): Option[Int] = {
    val marker = new Path(target, "_graft_buckets")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toInt)
      finally in.close()
    }
  }

  /** The latest-state table without the layout's partition column,
    * read with the store's merged schema ([[storeSchema]]): after a
    * schema-evolving batch, rewritten buckets carry the new column
    * while untouched buckets still hold the old file schema, and their
    * rows surface NULL in it.
    */
  def readState(spark: SparkSession, tableDir: String): DataFrame =
    readStore(spark, tableDir).drop(BucketCol)

  /** Point lookup served on the driver: it reads the one bucket the key
    * can live in and returns a local DataFrame, so neither the lookup
    * nor a `collect` of its result starts a Spark job. The rows come
    * from the `__bucket=<b>/` data files through Spark's parquet row
    * reader, with the key equality pushed down as a row-group filter;
    * other buckets' files are never opened. The result has the
    * store's merged schema ([[storeSchema]]) plus [[BucketCol]], like a
    * Spark read of the store filtered on the key.
    *
    * Each key value is cast to its key column's type in the store
    * before it is hashed, so `7` and `7L` probe the same bucket of a
    * bigint key (xxhash64 hashes by type: hashing the caller's literal
    * type probed the wrong bucket and silently read empty). The
    * equality filter `col(k) === lit(v)` is applied as given, so a
    * value that does not cast exactly still matches nothing. A key
    * column the store does not have is an `IllegalArgumentException`.
    *
    * The bucket count comes from the table's own `_graft_buckets`
    * marker, same as [[upsertBatch]] — the table is the single source
    * of truth for its layout. `numBuckets` is only a fallback for
    * pre-marker tables (and otherwise ignored): a caller passing a
    * stale count against a pinned table would probe the wrong
    * directory and silently read empty, the worst failure mode a
    * point lookup can have.
    */
  def stateForKey(spark: SparkSession, tableDir: String,
      keyCols: Seq[String], keyValues: Seq[Any], numBuckets: Int = -1): DataFrame = {
    require(keyCols.nonEmpty && keyCols.length == keyValues.length,
      "at least one key column, and one value per key column")
    val target = new Path(tableDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val nb = readBucketCount(target.getFileSystem(conf), target).getOrElse {
      require(numBuckets > 0,
        s"$tableDir has no _graft_buckets marker and no explicit bucket count was given")
      numBuckets
    }
    val footers = storeFooters(spark, tableDir)
    val schema = storeSchema(spark, tableDir, footers)
    val caseSensitive = spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean
    val tz = Some(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    // (ordinal, type, value cast to the column type — null if it cannot)
    val keys: Seq[(Int, DataType, Any)] = keyCols.zip(keyValues).map { case (k, v) =>
      val i = schema.fieldNames.indexWhere(n => n == k || !caseSensitive && n.equalsIgnoreCase(k))
      require(i >= 0, s"key column $k is not in the schema of $tableDir: ${schema.simpleString}")
      val dt = schema(i).dataType
      (i, dt, Cast(Literal(v), dt, tz, EvalMode.TRY).eval())
    }
    val bucket = bucketExpr(keys.map { case (_, dt, v) => Literal(v, dt) }, Literal(nb.toLong))
      .eval().asInstanceOf[Int]
    val isKey = keys.map { case (i, dt, v) =>
      EqualTo(BoundReference(i, dt, nullable = true), Literal(v, dt)): Expression
    }.reduce(And)
    val pushed = keys.map { case (i, dt, v) =>
      (schema(i).name, CatalystTypeConverters.convertToScala(v, dt)) }
    val rows = footers.filter(_._1.getPath.getParent.getName == s"$BucketCol=$bucket")
      .flatMap { case (file, meta) =>
        matchingRows(spark, file, meta, schema, pushed, isKey.eval(_) == true) }
      .map(r => InternalRow.fromSeq(r.toSeq(schema) :+ bucket))
    val local = GraftShim.ofRows(spark, LocalRelation(
      DataTypeUtils.toAttributes(schema.add(BucketCol, IntegerType)), rows))
    keyCols.zip(keyValues).foldLeft(local) {
      case (df, (k, v)) => df.filter(col(k) === lit(v))
    }
  }

  /** Every data file of the store with its parquet footer, read on the
    * driver (row groups skipped), in path order. Names starting with
    * `_` or `.` are not data, as for Spark's file index.
    */
  private def storeFooters(spark: SparkSession,
      tableDir: String): Seq[(FileStatus, FileMetaData)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new Path(tableDir, s"$BucketCol=*/*")
    Option(files.getFileSystem(conf).globStatus(files,
        (p: Path) => !p.getName.startsWith("_") && !p.getName.startsWith(".")))
      .fold(Seq.empty[FileStatus])(_.toSeq.filter(_.isFile).sortBy(_.getPath.toString))
      .map(f => f -> ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData)
  }

  /** The store's data schema: Spark's schema of each data file (the row
    * metadata Spark writes into the footer, else the converted parquet
    * schema), folded with Spark's own `StructType.merge` — what a
    * `mergeSchema` read infers, without the Spark job that read runs
    * over the footers. A conflicting column type fails with the same
    * `CANNOT_MERGE_SCHEMAS` error. A store with no data file fails as a
    * plain read of it does (`UNABLE_TO_INFER_SCHEMA`); no schema is
    * guessed. Every store reader takes its schema from here.
    */
  private def storeSchema(spark: SparkSession, tableDir: String,
      footers: Seq[(FileStatus, FileMetaData)]): StructType = {
    val caseSensitive = spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean
    val schemas = footers.map { case (_, meta) =>
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
    }
    if (schemas.isEmpty) spark.read.parquet(tableDir).schema // raises Spark's inference error
    else GraftShim.asNullable(schemas.reduceLeft(GraftShim.mergeSchemas(_, _, caseSensitive)))
  }

  /** The store as a Spark read with its merged schema ([[storeSchema]])
    * and the [[BucketCol]] partition column.
    */
  private def readStore(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(storeSchema(spark, tableDir, storeFooters(spark, tableDir)))
      .parquet(tableDir)

  /** The rows of one data file that satisfy `keep`, read on the driver
    * in `schema` through Spark's parquet row reader — columns the file
    * lacks read as NULL — with the `keys` equalities (column name, value
    * as Spark's filter API types it) pushed down as a row-group filter.
    */
  private def matchingRows(spark: SparkSession, file: FileStatus,
      meta: FileMetaData, schema: StructType, keys: Seq[(String, Any)],
      keep: InternalRow => Boolean): Seq[InternalRow] = {
    def conf(key: String): String = spark.conf.get(key)
    val hadoopConf = new Configuration(spark.sparkContext.hadoopConfiguration)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the session flags Spark's parquet schema converter reads
    Seq(SQLConf.PARQUET_BINARY_AS_STRING.key, SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
        SQLConf.CASE_SENSITIVE.key, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key)
      .foreach(k => hadoopConf.set(k, conf(k)))
    val kv = meta.getKeyValueMetaData
    val rebase = DataSourceUtils.datetimeRebaseSpec(k => kv.get(k), conf(SQLConf.PARQUET_REBASE_MODE_IN_READ.key))
    val filters = new ParquetFilters(meta.getSchema,
      conf(SQLConf.PARQUET_FILTER_PUSHDOWN_DATE_ENABLED.key).toBoolean,
      conf(SQLConf.PARQUET_FILTER_PUSHDOWN_TIMESTAMP_ENABLED.key).toBoolean,
      conf(SQLConf.PARQUET_FILTER_PUSHDOWN_DECIMAL_ENABLED.key).toBoolean,
      conf(SQLConf.PARQUET_FILTER_PUSHDOWN_STRING_PREDICATE_ENABLED.key).toBoolean,
      conf(SQLConf.PARQUET_FILTER_PUSHDOWN_INFILTERTHRESHOLD.key).toInt,
      conf(SQLConf.CASE_SENSITIVE.key).toBoolean, rebase)
    val pushed = keys.collect { case (k, v) if v != null => filters.createFilter(sources.EqualTo(k, v)) }
      .flatten.reduceOption(FilterApi.and)
    val support = new ParquetReadSupport(None, false, rebase,
      DataSourceUtils.int96RebaseSpec(k => kv.get(k), conf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key)))
    val reader = ParquetReader.builder(support, file.getPath).withConf(hadoopConf)
      .withFilter(pushed.fold(FilterCompat.NOOP)(FilterCompat.get)).build()
    // the reader reuses its row object: copy what is kept
    try Iterator.continually(reader.read()).takeWhile(_ != null).filter(keep).map(_.copy()).toList
    finally reader.close()
  }

  /** D12 index routing as physical layout: the reference routes each
    * document to a per-table ES index named `cdc_<schema>_<table>`
    * (es_consumer/main.go:66-75); here the envelope lands partitioned
    * by (schemaName, tableName) — one DIRECTORY per routed table, so a
    * reader of one table prunes every other table at the directory
    * level (SinkSpec asserts the pruning from the physical plan).
    * Append-mode: existing tables' files are never rewritten.
    */
  def routeToTables(envelope: DataFrame, dir: String): Unit =
    envelope.write.partitionBy("schemaName", "tableName")
      .mode("append").parquet(dir)

  /** Read back ONE routed table — the per-index reader. */
  def readTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: String, table: String): DataFrame =
    spark.read.parquet(dir)
      .filter(col("schemaName") === schema && col("tableName") === table)

  /** [[upsertBatch]] with the K3 log tee: one structured progress record
    * (rows, LSN range) appended to the durable log table per committed
    * micro-batch — what the reference's replicator logs into SQLite on
    * every message + checkpoint cycle (logger.go:56-73). The aggregate
    * runs BEFORE the upsert evaluates the batch and the record is
    * appended only AFTER the upsert commit, so the log never claims
    * progress the state table lost.
    */
  def loggedUpsertBatch(tableDir: String, logDir: String, keyCols: Seq[String],
      versionCol: String, numBuckets: Int = 16,
      component: String = "upsert-sink")(batch: DataFrame, batchId: Long): Unit = {
    val record =
      graft.ops.LogSink.progressRecord(batch, batchId, versionCol, component)
    upsertBatch(tableDir, keyCols, versionCol, numBuckets)(batch, batchId)
    graft.ops.LogSink.append(batch.sparkSession, logDir, Seq(record))
  }

  /** Event-time LATE-DATA tee — the watermark sibling of the
    * dead-letter tee. Spark's built-in windowed aggregations DROP rows
    * behind the watermark silently (StreamingSpec's first test proves
    * it); a production pipeline routes them to a durable side table for
    * backfill and audit instead. The tee applies the watermark rule
    * explicitly in foreachBatch: a row is late when its event time is
    * older than (high-water event time as of the END of the previous
    * batch) − delay — the same "watermark for batch N comes from
    * batches < N" contract as Spark's global watermark.
    *
    * REPLAY DETERMINISM: each batch's high-water mark is RECORDED
    * (`wmDir/wm-<id>`, the LsnCheckpoint atomic-replace protocol), and
    * a replayed batch re-reads its PREDECESSOR's recorded mark — so the
    * late/on-time split, and therefore the late ledger (a per-batch
    * overwrite, like the DLQ), is byte-identical on replay even though
    * the live watermark has advanced since the crash. This is the
    * watermark-per-batch contract Spark's own OffsetSeqLog keeps for
    * its internal aggregations, applied to a user-visible tee.
    *
    * The two sides are exact complements: every row lands in exactly
    * one. Once a mark is recorded, a row without an event time is late.
    * This split records the mark from its own max over the batch; the
    * consumer topology ([[fullProductionBatch]]) applies the same rule
    * ([[LateRule]]) but records the mark from its demux aggregate.
    */
  def lateDataSplit(wmDir: String, delayUs: Long)(
      batch: DataFrame, batchId: Long): (DataFrame, DataFrame) = {
    val rule = new LateRule(batch.sparkSession, wmDir, delayUs, batchId)
    // record THIS batch's mark before the caller commits
    val bmax = batch.agg(max(eventMicros)).head()
    rule.record(if (bmax.isNullAt(0)) None else Some(bmax.getLong(0)))
    (batch.filter(rule.onTime), batch.filter(!rule.onTime))
  }

  private def eventMicros = unix_micros(col("ts"))

  /** The recorded-watermark rule of batch `batchId`: the one place that
    * says which rows are on time and which mark the batch records.
    */
  private final class LateRule(spark: SparkSession, wmDir: String,
      delayUs: Long, batchId: Long) {
    /** The mark recorded by the previous batch; -1 when there is none. */
    val prev: Long = graft.pipeline.LsnCheckpoint.read(spark, s"$wmDir/wm-${batchId - 1}")

    /** True for a row the mark admits, else false — never null. */
    val onTime: org.apache.spark.sql.Column =
      if (prev < 0) lit(true)
      else coalesce(eventMicros >= prev - delayUs, lit(false))

    /** Records this batch's mark, max(prev, batch max): monotone, and
      * deterministic on replay because the same inputs give the same
      * max. `batchMax` is None for a batch without event times.
      */
    def record(batchMax: Option[Long]): Unit =
      graft.pipeline.LsnCheckpoint.write(spark, s"$wmDir/wm-$batchId",
        batchMax.fold(prev)(math.max(prev, _)))
  }

  /** The consumer topology's late tee: writes the rows `rule` finds late
    * to `latePath` (a per-batch overwrite) and returns the on-time rows.
    * The caller records the mark. A method of its own so that a stack
    * sample of the late write names the late tee (perfbench's step
    * sampler attributes batch time by method name).
    */
  private def lateDataSplitTee(rule: LateRule, batch: DataFrame,
      latePath: String): DataFrame = {
    batch.filter(!rule.onTime).write.mode("overwrite").parquet(latePath)
    batch.filter(rule.onTime)
  }

  /** Carry-forward merge WITH Kafka-style tombstone retention, behind
    * the table's TRUNCATE fence: the one-table case of the merge
    * [[fullProductionBatch]] runs over every table of a batch. TOASTed
    * updates must heal from prior state across batch boundaries, a
    * deleted key must leave a tombstone that protects lagging consumers
    * until the retention horizon passes, and a truncate clears the
    * table (the fence and its crash order are documented on
    * [[fullProductionBatch]]).
    *
    * Store schema: (key, state_lsn, state, tombstone). Live rows carry
    * the carried-forward state map; tombstone rows carry the delete
    * LSN and a NULL state. Merge per touched bucket: prior live rows
    * re-enter as synthetic `snapshot` events, prior tombstones as
    * `delete` events (so the fence survives batch boundaries — a
    * replayed pre-delete event cannot resurrect a key its tombstone
    * still guards), and ONE keyed pass
    * ([[graft.pipeline.ChangeLog.carryForwardKeys]]) resolves the
    * union and [[graft.pipeline.ChangeLog.retainedState]] shapes it: a
    * key with a live row is stored live, a fenced key with no live row
    * is a tombstone — RETAINED only while the horizon (from the store's
    * monotone persisted head, the [[retentionUpsertBatch]] protocol)
    * still protects someone. Rows at or below the fence are dropped
    * before the merge; every truncate is among them, since the fence
    * covers the batch's truncates. One aggregate over the batch yields
    * its max LSN, its max truncate LSN and its touched buckets.
    */
  def carryForwardRetentionUpsertBatch(tableDir: String,
      numBuckets: Int = 16)(batch: DataFrame, batchId: Long): Unit = {
    val (nb, fence) = storeLayout(batch.sparkSession, tableDir, numBuckets)
    val r = batch.agg(maxOrNone(col("lsn")), touchAggs(lit(nb.toLong), lit(fence)): _*).head()
    upsertOne(Target(tableDir, r.getLong(0), r.getLong(1), r.getSeq[Int](2).toArray),
      CarryForward, numBuckets)(batch, batchId)
  }

  /** The max of `c` as a long, -1 over no (non-NULL) value. */
  private def maxOrNone(c: Column): Column = coalesce(max(c.cast("long")), lit(-1L))

  /** A carry-forward batch's max truncate LSN and touched buckets (rows
    * above the stored fence), given each row's [[storeLayout]]. A bucket
    * below this batch's own truncate stays in: the clear empties it.
    */
  private def touchAggs(numBuckets: Column, fence: Column): Seq[Column] = Seq(
    maxOrNone(when(col("op") === "truncate", col("lsn"))),
    collect_set(when(!(col("op") <=> "truncate") && aboveFence(fence),
      bucketOf(CarryForward.keyCols, numBuckets))))

  /** True for a row above its table's TRUNCATE fence (-1: never truncated). */
  private def aboveFence(fence: Column): Column = fence < 0 || col("lsn") > fence

  /** A store's bucket count (`numBuckets` before its first batch) and
    * TRUNCATE fence (-1 for none), read on the driver.
    */
  private def storeLayout(spark: SparkSession, dir: String, numBuckets: Int): (Int, Long) = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val target = new Path(dir)
    (readBucketCount(target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
      .getOrElse(numBuckets),
      graft.pipeline.LsnCheckpoint.read(spark, dir + "__fence"))
  }

  /** The batch's envelope rows plus the touched buckets' `prior` rows as
    * events: live rows as `snapshot`s, tombstones as `delete` fences.
    */
  private def withPriorState(prior: Seq[DataFrame], rows: DataFrame): DataFrame = {
    val where = Seq(col(TableCol), col(BucketCol), col("key"))
    prior.foldLeft(rows.select(where ++ Seq(col("op"), col("lsn"), col("after"),
        col("unchangedCols")): _*)) { (env, store) =>
      env.unionByName(store.select(where ++ Seq(
        (if (store.columns.contains("tombstone"))
          when(col("tombstone"), "delete").otherwise("snapshot")
        else lit("snapshot")).as("op"),
        col("state_lsn").as("lsn"), col("state").as("after"),
        lit(null).cast("array<string>").as("unchangedCols")): _*))
    }
  }

  /** The table's TRUNCATE fence, persisted at `tableDir__fence`
    * ([[graft.pipeline.LsnCheckpoint]]'s atomic replace), advanced to
    * `truncateMax` when that is newer — after clearing the moved-aside
    * copies and then every bucket, in that order, each delete CHECKED:
    * the fence filters only the batch, never the store, so a fence
    * written over a bucket that was not cleared would serve the
    * truncated rows forever. Returns the fence, -1 for a table never
    * truncated. Without a newer truncate this costs one existence check.
    */
  private def advanceFence(spark: SparkSession, tableDir: String,
      truncateMax: Long): Long = {
    val fencePath = tableDir + "__fence"
    val fence = graft.pipeline.LsnCheckpoint.read(spark, fencePath)
    if (truncateMax <= fence) fence
    else {
      val target = new Path(tableDir)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      CheckedFs.delete(fs, new Path(tableDir + "__prev"))
      Option(fs.globStatus(new Path(target, s"$BucketCol=*")))
        .foreach(_.foreach(st => CheckedFs.delete(fs, st.getPath)))
      graft.pipeline.LsnCheckpoint.write(spark, fencePath, truncateMax)
      truncateMax
    }
  }

  /** The consumer topology BODY of [[fullProductionBatch]] (decode →
    * dead-letter tee → recorded-watermark admission → late tee →
    * per-(schema, table) demux → one fenced merge of every table →
    * progress log). A method of its own so that a stack sample of the
    * batch names it (perfbench's step sampler attributes batch time by
    * method name). Decode runs once (persisted). An envelope without an
    * LSN or an event time is dead-lettered: neither side of the late
    * split could admit it.
    *
    * The demux is ONE aggregate per batch: `groupBy(schema, table)`
    * with the progress aggregate (count, min and max LSN), the max
    * event time and [[touchAggs]] (each existing store's [[storeLayout]]
    * read first) collects O(tables × buckets) values, never payload. It
    * yields every table's progress record, truncate max and touched
    * buckets, and the batch's watermark: `wm-<batchId>` is recorded as
    * max(previous mark, max over the groups) before the merge runs. The
    * groups hold only on-time rows, and that is the same mark as the
    * max over every decoded row: a late row is older than the previous
    * mark minus a non-negative delay, so it can never raise the mark.
    *
    * Then ONE merge of every table ([[upsertBatchImpl]], store
    * `state/<schema.table>`). The records are written in one per-batch
    * overwrite only after it published: the log never claims progress
    * the state lost, and a replayed batch rewrites its records instead
    * of doubling them, so the conservation law survives replay.
    */
  private def consumerTopology(baseDir: String, delayUs: Long, numBuckets: Int)(
      wire: DataFrame, batchId: Long): Unit = {
    require(delayUs >= 0, s"the late delay must not be negative, got $delayUs us")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val spark = wire.sparkSession
    val decoded = wire
      .withColumn("ev", from_json(col("value").cast("string"),
        graft.model.CdcEvent.envelopeSchema))
      .persist()
    try {
      val dead = col("ev.lsn").isNull || col("ev.ts").isNull
      decoded.filter(dead)
        .select(col("key").cast("string").as("msg_key"),
          col("value").cast("string").as("raw_value"))
        .write.mode("overwrite").parquet(s"$baseDir/dlq/batch_id=$batchId")
      val rule = new LateRule(spark, s"$baseDir/wm", delayUs, batchId)
      val adm = lateDataSplitTee(rule, decoded.filter(!dead).select("ev.*"),
        s"$baseDir/late/batch_id=$batchId").persist()
      try {
        val stateRoot = s"$baseDir/state"
        val table = concat(col("schemaName"), lit("."), col("tableName"))
        val fs = new Path(stateRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val layouts = Option(fs.globStatus(new Path(stateRoot, "*/_graft_buckets")))
          .fold(Seq.empty[(String, (Int, Long))])(_.toSeq.map { st =>
            st.getPath.getParent.getName -> storeLayout(spark, st.getPath.getParent.toString, numBuckets)
          })
        def byTable(value: ((Int, Long)) => Long, default: Long): Column = coalesce(element_at(
          typedLit(layouts.map { case (t, l) => t -> value(l) }.toMap), table), lit(default))
        val aggs = graft.ops.LogSink.progressAggs("lsn") ++ (max(eventMicros) +:
          touchAggs(byTable(_._1.toLong, numBuckets), byTable(_._2, -1L)))
        val groups = adm.groupBy("schemaName", "tableName")
          .agg(aggs.head, aggs.tail: _*).collect()
          .sortBy(r => (r.getString(0), r.getString(1)))
        // field 5 is the group's max event time, 6 its max truncate LSN,
        // 7 its touched buckets
        rule.record(groups.filterNot(_.isNullAt(5)).map(_.getLong(5)).maxOption)
        val records = groups.map { r =>
          graft.ops.LogSink.progressFrom(r, 2, batchId, s"${r.getString(0)}.${r.getString(1)}")
        }
        val targets = groups.zip(records).map { case (r, rec) =>
          Target(s"$stateRoot/${rec.component}", rec.lastLsn, r.getLong(6), r.getSeq[Int](7).toArray)
        }
        upsertBatchImpl(stateRoot, targets.toIndexedSeq, CarryForward, numBuckets)(
          adm.withColumn(TableCol,
            element_at(typedLit(records.map(_.component).zipWithIndex.toMap), table)),
          batchId)
        graft.ops.LogSink.writeBatch(spark, s"$baseDir/log", batchId, records.toSeq)
      } finally { adm.unpersist(); () }
    } finally { decoded.unpersist(); () }
  }

  /** The production sink — the reference's whole es_consumer main loop
    * (es_consumer/main.go:44-95) as one idempotent foreachBatch body
    * behind one checkpoint, with the two error paths it only logs made
    * durable and the TRUNCATE it only logs (replicator.go:409-411)
    * applied:
    *
    *   wire bytes → decode (undecodable, or no LSN or event time →
    *               dead-letter ledger)
    *             → event-time admission (recorded watermark; too-late
    *               rows → late ledger)
    *             → per-(schema, table) demux, one aggregate that also
    *               yields the batch's watermark (recorded before the
    *               merge runs), each table's retention head, its max
    *               truncate LSN and its touched buckets
    *             → per table, on the driver, the TRUNCATE fence: a
    *               truncate newer than the table's fence clears the
    *               table; rows at or below the fence, truncates
    *               included, are dropped
    *             → ONE CARRY-FORWARD + TOMBSTONE-RETENTION merge of
    *               every table ([[carryForwardRetentionUpsertBatch]]'s
    *               law: TOASTed cells heal from prior batches, deletes
    *               leave horizon-guarded tombstones): one shuffle on
    *               (table, bucket), one staged write, then a publish
    *               per (table, bucket)
    *             → one progress record per (table, batch), computed in
    *               the demux aggregate and written once per batch,
    *               after the merge published.
    *
    * A truncate is a TABLE-level operation, so it belongs at the
    * table's commit point, not inside the per-key merge: a key's group
    * never sees another key's truncate, and exploding the fence across
    * the key universe is the shuffle the keyed layout exists to avoid.
    * Per table, in crash-safe order:
    *  1. a truncate whose LSN advances the persisted fence
    *     (`state/<schema>.<table>__fence`) first deletes the moved-aside
    *     copies (`__prev`, which the merge's recovery sweep would
    *     otherwise restore after the clear), then every `__bucket=*`
    *     directory, and only then writes the fence; a delete that fails
    *     fails the batch before the fence is written. A crash before the
    *     write re-runs the clear on replay (the truncate is still ahead
    *     of the stored fence); the reverse order could persist a fence
    *     over uncleared state.
    *  2. rows at or below the fence are dropped: a stale replay of
    *     pre-truncate history must not resurrect cleared keys, and a
    *     truncate in the middle of a batch keeps only that table's
    *     events above it.
    *  3. the surviving rows merge as usual (idempotent, bucketed).
    *
    * Failure contract: the merge stages every table in one write, so a
    * batch whose merge fails — a store whose schema does not merge fails
    * it on the driver, before any job — publishes no table and logs
    * nothing; the driver steps it already took (a fence's clear, a
    * head's advance) are the ones a replay repeats as no-ops. A failure
    * during the publish leaves some (table, bucket)s published, behind
    * the recovery sweep, as a crash does; a replay completes the batch.
    *
    * Conservation law (asserted by the spec): every wire message is in
    * exactly one of {dead ledger, late ledger, Σ logged per-table rows}
    * — a truncate counts as logged — also after a replayed batch;
    * additionally each table's live state equals the batch
    * carry-forward reference over its admitted slice, tombstones in the
    * store are exactly the fenced keys the horizon still retains, and at
    * least one materialized cell is provably CARRIED (its provenance LSN
    * older than its row's state LSN) across a batch boundary. Layout
    * under `baseDir`: `dlq/`, `late/`, `wm/`, `log/`,
    * `state/<schema>.<table>/`.
    */
  def fullProductionBatch(baseDir: String, delayUs: Long, numBuckets: Int = 4)(
      wire: DataFrame, batchId: Long): Unit =
    consumerTopology(baseDir, delayUs, numBuckets)(wire, batchId)
}
