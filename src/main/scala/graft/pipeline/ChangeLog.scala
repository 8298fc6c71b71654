package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch CDC dataflow: the semantics the whole reference pipeline exists
  * to produce, re-expressed as declarative Spark plans.
  *
  * The reference materializes "latest state per key" implicitly via
  * idempotent keyed upserts into Elasticsearch (doc id = LSN,
  * es_consumer/main.go:77-95) fed by an ordered WAL stream
  * (replicator.go:247-421). Here the same semantics are the custom
  * two-phase top-k operator with k=1: each partition keeps ONE candidate
  * row per key in a heap (no sort — `max_by(struct(*))` would fall back
  * to SortAggregate because struct buffers can't hash-aggregate), the
  * exchange moves O(distinct keys) rows, and the final pass streams.
  * At 100 TB the shuffle volume is the answer, not the changelog.
  */
object ChangeLog {

  /** Latest row per key by a total-order version column (reference A3).
    * `versionCol` must be unique per key for determinism (the WAL LSN is;
    * `event_id` in the test corpus is globally unique).
    */
  def latestState(df: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame =
    graft.plans.TopK.perKey(df, keyCols, Seq((versionCol, false)), 1)

  /** Latest state with TOAST carry-forward (SURVEY §7.5.5): the merge
    * [[graft.model.CdcEvent.unchangedCols]] exists for. An update that
    * lists a column there did NOT re-ship that column's (TOASTed)
    * value — the materialized state must carry the key's PRIOR value
    * forward, which plain last-event-wins ([[latestState]]) cannot do:
    * it would overwrite the state with the marker's null (or, in the
    * reference, with the literal string `"(unchanged)"`,
    * replicator.go:349-350).
    *
    * Distributed formulation — ONE keyed pass, per-COLUMN argmax
    * inside it (a key's whole history never has to be folded in order):
    *   1. one `Window.partitionBy(key)` computes, per key, the delete
    *      fence (max delete LSN) and the live state LSN (max insert/
    *      update/snapshot LSN above the fence); the window buffers each
    *      key's events in Spark's external row buffer, which spills, so
    *      a hot key costs disk, not heap;
    *   2. each live after-image minus the columns it flagged unchanged
    *      explodes to (key, column, lsn, value) — absence is what makes
    *      the older value win; every other event keeps one NULL-column
    *      row so fenced and cell-less keys survive to step 4;
    *   3. the latest entry per (key, column) via the TopK heap (k=1, no
    *      sort of the raw history) — its clustering on (key, column) is
    *      already satisfied by the window's hash(key), so it adds no
    *      exchange;
    *   4. one `groupBy(key)` (same partitioning, no exchange) returns
    *      [[carryForwardKeys]]: (key, del_lsn, state_lsn, state).
    * Cost: one shuffle of the envelope on the key, one O(columns)
    * expansion; no state, no iteration. Every user of the law reads
    * this relation: this view, [[cellProvenance]], the retention sink
    * and the `cdc_retained_state` report.
    * Output: (key, state_lsn, state map); keys whose latest event is
    * the delete fence disappear, like [[latestStateWithTombstones]]; a
    * live key with no surviving cell has a NULL state.
    */
  def latestStateCarryForward(env: DataFrame): DataFrame =
    carryForwardKeys(env, Seq("key")).filter(col("state_lsn").isNotNull)
      .select("key", "state_lsn", "state")

  /** The carry-forward law per `keyCols` (`key` in the reports; (table,
    * bucket, key) in the sink, whose keys need not name their table):
    * `del_lsn` is the delete fence (NULL when the key was never deleted),
    * `state_lsn` the latest live event above it (NULL when the fence is
    * the key's latest event) and `state` the carried-forward cells (NULL
    * when no cell survives).
    * A fenced key with no live row is the tombstone the retention sink
    * keeps while [[tombstoneRetained]] holds.
    */
  def carryForwardKeys(env: DataFrame, keyCols: Seq[String]): DataFrame = {
    val entries = collect_list(when(col("c").isNotNull, struct(col("c"), col("v"))))
    carryForwardCells(env, keyCols).groupBy(keyCols.map(col): _*).agg(
      max("del_lsn").as("del_lsn"), max("state_lsn").as("state_lsn"),
      when(size(entries) > 0, map_from_entries(array_sort(entries))).as("state"))
  }

  /** The retention store's rows over [[carryForwardKeys]] by `keyCols`:
    * each live key as (keyCols, state_lsn, state, tombstone = false), each
    * fenced key with no live row as a tombstone at its delete LSN (state
    * NULL) while [[tombstoneRetained]] holds against `head`. Shared by the
    * streaming sink and the `cdc_retained_state` report.
    */
  def retainedState(keys: DataFrame, keyCols: Seq[String], head: Column): DataFrame =
    keys.filter(col("state_lsn").isNotNull || tombstoneRetained(col("del_lsn"), head))
      .select(keyCols.map(col) ++ Seq(coalesce(col("state_lsn"), col("del_lsn")).as("state_lsn"),
        col("state"), col("state_lsn").isNull.as("tombstone")): _*)

  /** Steps 1-3 of [[latestStateCarryForward]] per `keyCols`: the winning
    * (keyCols, c, lsn, v) cell per column, each row carrying its key's
    * `del_lsn` and `state_lsn`, plus one `c` = NULL row per key with a
    * non-shipping event.
    */
  private def carryForwardCells(env: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val byKey = Window.partitionBy(keys: _*)
    val isLive = col("op").isin("insert", "update", "snapshot")
    val unfenced = col("del_lsn").isNull || col("lsn") > col("del_lsn")
    val shipped = map_filter(col("after"), (c, _) => !array_contains(
      coalesce(col("unchangedCols"), array().cast("array<string>")), c))
    val cells = env.filter(isLive || col("op") === "delete")
      .select(keys ++ Seq(col("op"), col("lsn"), col("after"), col("unchangedCols"),
        max(when(col("op") === "delete", col("lsn"))).over(byKey).as("del_lsn"),
        max(when(isLive, col("lsn"))).over(byKey).as("live_lsn")): _*)
      .select(keys ++ Seq(col("del_lsn"),
        when(col("del_lsn").isNull || col("live_lsn") > col("del_lsn"),
          col("live_lsn")).as("state_lsn"),
        col("lsn"), explode_outer(when(isLive && unfenced, shipped)).as(Seq("c", "v"))): _*)
    graft.plans.TopK.perKey(cells, keyCols :+ "c", Seq(("lsn", false)), 1)
  }

  /** Cell-level LINEAGE of the carried-forward state: which LSN wrote
    * each column of each key's current row. Under TOAST markers a
    * cell's source can be OLDER than the row's state LSN (the marked
    * update kept the prior value), which row-level provenance cannot
    * express — this is the audit view that makes the carry-forward
    * inspectable. Output: (key, state_lsn, one src-LSN column per
    * payload column) — integers only, no value formatting. The same
    * keyed pass as [[latestStateCarryForward]], pivoted instead of
    * reassembled.
    */
  def cellProvenance(env: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val aggs = payloadCols.map(p =>
      max(when(col("c") === p, col("lsn"))).as(s"lsn_$p"))
    carryForwardCells(env, Seq("key")).groupBy("key")
      .agg(max("state_lsn").as("state_lsn"), aggs: _*)
      .filter(col("state_lsn").isNotNull)
  }

  /** Latest state with delete tombstones: a key whose LATEST op is a
    * delete disappears from the materialized view (reference stubs
    * DELETE at replicator.go:398-407 and never emits it; SURVEY.md §2.6
    * says we must do it right).
    */
  def latestStateWithTombstones(df: DataFrame, keyCols: Seq[String],
      versionCol: String, isDelete: Column): DataFrame = {
    val tagged = df.withColumn("__is_delete", isDelete)
    latestState(tagged, keyCols, versionCol)
      .filter(!col("__is_delete"))
      .drop("__is_delete")
  }

  /** Kafka-style compact+delete retention policy (log.cleanup.policy=
    * compact + delete.retention.ms, in LSN space): a tombstone is
    * retained only while it is younger than `fence − fence/4` —
    * consumers lagging further than a quarter of the log must
    * resnapshot anyway, so the tombstone no longer protects anyone.
    * SHARED by the batch report (`cdc_tombstone_gc`) and the streaming
    * sink ([[graft.streaming.ChangeLogStream.retentionUpsertBatch]]) so
    * the two can never drift. LSNs are non-negative, so the shift IS
    * integer division by 4 (matches the oracle's `fence // 4`).
    */
  def tombstoneHorizon(fence: Column): Column =
    fence - shiftright(fence, 2)

  /** True while a tombstone at `lsn` must still be served. */
  def tombstoneRetained(lsn: Column, fence: Column): Column =
    lsn > tombstoneHorizon(fence)

  /** Snapshot-seed ∪ change-stream with an LSN fence + keyed dedup.
    *
    * The reference reads the fence AFTER the snapshot (replicator.go:167-183)
    * so rows changed mid-snapshot are emitted twice, and snapshot events
    * carry no LSN so the dedup that should save it can't (SURVEY.md §3.2).
    * Correct form: both sides carry the version; union + dropDuplicates on
    * the unique version id. The dedup is a hash aggregation on the id —
    * no sort, map-side partial dedup first.
    */
  def fenceUnion(snapshot: DataFrame, stream: DataFrame, idCol: String): DataFrame =
    dedupById(snapshot.unionByName(stream), idCol)

  /** Replay idempotency (reference A4/D13): consuming the same changelog
    * twice must not change the result. Dedup on the unique event id is
    * the batch analog of the ES doc-id overwrite.
    */
  def replayDedup(df: DataFrame, idCol: String): DataFrame =
    dedupById(df, idCol)

  /** One row per id via the top-k operator (k=1, keyed by the id):
    * `dropDuplicates(id)` would aggregate every payload column with
    * First over immutable buffers — a SortAggregate that sorts whole
    * partitions; the heap form never sorts. Rows sharing an id are
    * replayed duplicates of the SAME logical row, so which copy
    * survives is immaterial (the same contract dropDuplicates has).
    */
  private def dedupById(df: DataFrame, idCol: String): DataFrame =
    graft.plans.TopK.perKey(df, Seq(idCol), Seq((idCol, false)), 1)
}
