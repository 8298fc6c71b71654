package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** CDC queries over the `events` change log (FIXTURES.md role mapping:
  * user_id = key, event_id = LSN, event_type = op analog, props = payload).
  *
  * Op mapping mirrors the reference's message kinds (replicator.go:319-415):
  * signup → insert, error → delete (tombstone), click/view/purchase →
  * update. Every query has a DuckDB oracle; float aggregates go through
  * exact decimal sums cast back to double so Spark and DuckDB produce
  * bitwise-identical results regardless of accumulation order.
  */
object CdcQueries {

  private def opCol = when(col("event_type") === "signup", "insert")
    .when(col("event_type") === "error", "delete")
    .otherwise("update")

  private val opSql =
    "CASE event_type WHEN 'signup' THEN 'insert' WHEN 'error' THEN 'delete' ELSE 'update' END"

  /** The pipeline's default watermark delay (ChangeLogStream
    * .windowedCounts' "10 minutes") in event-time µs — the candidate
    * the freshness dashboard scores p95 lateness against.
    */
  private val WATERMARK_US = 600000000L

  /** Exact sum of a double column: decimal accumulate, double result. */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast("decimal(25,6)")).cast("double")
  private def dsumSql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(25,6))) AS DOUBLE)"

  /** Family-window shared envelope relations (r18): Envelope.toCdcEvents
    * embeds one key-shuffle + LSN-sort window (the before-image pass),
    * and ~10 cdc_* queries each rebuilt it from the raw scan. Shared
    * through CachePool.shared and CachePool-persisted, the family window
    * now pays that exchange+window once (guide §2.4 — remove repeated
    * shuffles outright).
    */
  private def cdcEnv(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[graft.model.CdcEvent] =
    graft.CachePool.shared(s, d, "cdc_env") {
      val ds = Envelope.toCdcEvents(Tables.eventsShared(s, d))
      graft.CachePool.persist(ds.toDF())
      ds
    }

  private def cdcEnvToast(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "cdc_env_toast")(
      graft.CachePool.persist(
        Envelope.toCdcEventsToast(Tables.eventsShared(s, d)).toDF()))

  /** The TOAST envelope's state map reprojected to its typed columns. */
  private def toastStateCols: Seq[Column] = Seq(
    col("state")("user_id").cast("long").as("user_id"),
    col("state")("value").cast("double").as("value"),
    col("state")("k").cast("long").as("k"))

  /** The shared registry-replay FIXTURE (cdc_registry_asof /
    * cdc_registry_dead_letter): the event envelope routed to two
    * relations plus the registry log carrying every branch the
    * r16-widened surface needs (same-lsn tie-breaks, the
    * registered-but-absent column, activity's unregistered pre-f1
    * window — see the cdc_registry_asof comment for the timeline).
    * Fences derive from the corpus (max/3, 2·max/3 — planner-sized
    * aggregates), so the fixture scales with the SF.
    */
  private def registryFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val env = cdcEnv(s, d).toDF()
      .withColumn("tableName",
        when(col("op").isin("insert", "delete"), "users")
          .otherwise("activity"))
    val mx = env.agg(max(col("lsn"))).head()
    val m = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    val (f1, f2) = (m / 3, 2 * (m / 3))
    val log = Seq(
      ("users", 0L, Seq("user_id", "value")),
      ("users", f1, Seq("user_id", "value", "k")),
      ("users", f1, Seq("user_id", "value")),
      ("users", f2, Seq("user_id", "value", "k", "flag")),
      ("users", f2, Seq("user_id", "value")),
      ("activity", f1, Seq("user_id", "k")))
      .toDF("relation", "lsn", "columns")
    (env, log)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3: latest state per key — the flagship semantics.
    "cdc_latest_state" -> ((s, d) => {
      ChangeLog.latestState(Tables.eventsShared(s, d), Seq("user_id"), "event_id")
    }),

    // Query over the MATERIALIZATION — the read path the reference
    // builds its whole pipeline for (consumers query the ES index, not
    // the log, es_consumer/main.go:77-95): per-type census and exact
    // value total of the CURRENT state only, with the live share of
    // all keys. Distinct from cdc_op_mix (a census of the LOG): a key
    // updated 100 times counts once here, at its latest value. Cost is
    // one TopKPerKey pass (sort-free, the cdc_latest_state plan) plus
    // an O(types) roll-up.
    "cdc_state_rollup" -> ((s, d) => {
      val st = ChangeLog.latestState(Tables.eventsShared(s, d),
        Seq("user_id"), "event_id")
      val tot = st.agg(count(lit(1)).as("n_keys")).withColumn("__k", lit(1))
      st.groupBy("event_type")
        .agg(count(lit(1)).as("n_live"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"),
          max("event_id").as("max_lsn"))
        .withColumn("__k", lit(1)).join(broadcast(tot), "__k")
        .select(col("event_type"), col("n_live"), col("total_value"),
          col("max_lsn"),
          (col("n_live").cast("double") / col("n_keys").cast("double"))
            .as("share_of_keys"))
    }),

    // §2.6 DELETE done right: tombstoned keys drop out of the view.
    "cdc_latest_state_delete" -> ((s, d) => {
      ChangeLog.latestStateWithTombstones(
        Tables.eventsShared(s, d), Seq("user_id"), "event_id",
        col("event_type") === "error")
    }),

    // SURVEY §7.5.5: TOAST `'u'` markers resolved by the carry-forward
    // merge — latest state where an update's unchanged columns keep the
    // key's PRIOR value instead of being overwritten with the marker
    // (the reference ships the string "(unchanged)" as data instead,
    // replicator.go:349-350). Markers synthesized deterministically on
    // the corpus (Envelope.toCdcEventsToast); state reprojected to
    // typed columns — value's double→string→double round trip is exact
    // (Java shortest-repr toString), so cells compare bitwise.
    "cdc_toast_latest_state" -> ((s, d) =>
      ChangeLog.latestStateCarryForward(cdcEnvToast(s, d))
        .select(col("key") +: col("state_lsn") +: toastStateCols: _*)),

    // The FULL production-sink row semantics as one batch relation —
    // what a store materialized by
    // [[graft.streaming.ChangeLogStream.carryForwardRetentionUpsertBatch]]
    // converges to over this log: carried-forward live rows PLUS the
    // delete tombstones the Kafka-style horizon (head − head/4, the
    // shared ChangeLog.tombstoneHorizon law) still retains for lagging
    // consumers. CfrModelSpec property-tests the streaming merge
    // against an in-memory model; this query puts the same row
    // semantics under the DuckDB oracle, through the sink's own row
    // rule (ChangeLog.retainedState). Cost: the one keyed carry-forward
    // pass (carryForwardKeys already holds each key's fence and live
    // LSN, so a tombstone is a fenced key with no live row) + a 1-row
    // head broadcast read off that same relation.
    "cdc_retained_state" -> ((s, d) => {
      val keys = ChangeLog.carryForwardKeys(cdcEnvToast(s, d), Seq("key"))
      val head = keys.agg(max(greatest(col("del_lsn"), col("state_lsn"))).as("head"))
        .withColumn("__k", lit(1))
      ChangeLog.retainedState(
          keys.withColumn("__k", lit(1)).join(broadcast(head), "__k"), Seq("key"), col("head"))
        .select(col("key") +: col("state_lsn") +: toastStateCols :+ col("tombstone"): _*)
    }),

    // Cell-level LINEAGE of the carried-forward state: which LSN wrote
    // each column of each key's current row. Under TOAST markers a
    // cell's source is OLDER than the row's state LSN whenever the
    // marked update kept the prior value — the audit row-level
    // provenance cannot express, and the view that makes the
    // carry-forward inspectable (Debezium users know this as the gap
    // between source.lsn and the actual cell origin). Integer columns
    // only — no cross-engine value formatting anywhere.
    "cdc_cell_provenance" -> ((s, d) => {
      val env = cdcEnvToast(s, d)
      ChangeLog.cellProvenance(env, Seq("user_id", "value", "k"))
    }),

    // D6-D11: envelope normalization — op mapping, key construction,
    // JSON payload projection (D9/D10 analog via get_json_object).
    "cdc_envelope" -> ((s, d) => {
      Tables.eventsShared(s, d).select(
        opCol.as("op"),
        col("event_id").as("lsn"),
        col("ts"),
        concat(lit("public.users:"), col("user_id").cast("string")).as("key"),
        col("user_id"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
    }),

    // A4/D13 idempotent replay: duplicated changelog → identical result.
    "cdc_replay_dedup" -> ((s, d) => {
      val e = Tables.eventsShared(s, d)
      ChangeLog.replayDedup(e.unionByName(e), "event_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("event_id").as("max_lsn"),
          dsum("value").as("total_value"))
    }),

    // §3.2 fixed: snapshot seed ∪ overlapping stream, fenced + deduped,
    // then latest-state — no double-emit, no gaps.
    "cdc_snapshot_union_fence" -> ((s, d) => {
      val e = Tables.eventsShared(s, d)
      val snapshot = e.filter(col("event_id") <= 500)
      val stream = e.filter(col("event_id") > 400) // overlap on purpose
      ChangeLog.latestState(
        ChangeLog.fenceUnion(snapshot, stream, "event_id"),
        Seq("user_id"), "event_id")
    }),

    // D6-D11 full envelope incl. lag-derived before-images. The map
    // payloads are projected to scalar before/after fields so the result
    // is fully oracle-checkable (the driver's row hasher cannot sort
    // map cells); the typed Dataset[CdcEvent] surface is EnvelopeSpec's.
    // value round-trips double→string(map)→double exactly (shortest-repr
    // string casts are lossless), so the oracle lags the raw double.
    "cdc_full_envelope" -> ((s, d) => {
      cdcEnv(s, d).toDF()
        .select(col("op"), col("lsn"), col("ts"), col("key"),
          element_at(col("before"), "value").cast("double").as("before_value"),
          element_at(col("before"), "k").as("before_k"),
          element_at(col("after"), "value").cast("double").as("after_value"),
          element_at(col("after"), "k").as("after_k"),
          col("txnId"))
    }),

    // D4 replay semantics (r14 verdict #5, fixture widened r16 verdict
    // #3): each event's after-image projected through the relation-
    // registry schema version current AT ITS LSN — the reference
    // decodes tuples positionally against the registry built from
    // RelationMessages (replicator.go:320-322), so a column is visible
    // exactly from the LSN its RelationMessage registered it. Events
    // route to TWO relations (the cdc_publication_routing demux:
    // lifecycle ops → users, activity ops → activity) and the registry
    // log carries the full semantic surface, every branch derived from
    // corpus fences (max/3, 2·max/3 — planner-sized aggregates):
    //   users    v0 @0 (user_id,value); @f1 BOTH (user_id,value,k) and
    //            a narrower re-registration (user_id,value) — the
    //            same-lsn wider-schema tie-break must pick k; @f2 BOTH
    //            (user_id,value,k,flag) and (user_id,value) — the SAME
    //            tie-break at the registry head, so currentSchemas'
    //            resolution is oracle-checked too (cur_cols column).
    //            `flag` is registered but absent from every payload —
    //            the widened-schema NULL case.
    //   activity registered only FROM f1 — activity events below f1
    //            have NO applicable version and surface with a NULL
    //            projection (the r16 left-join semantics; the r15 inner
    //            join silently dropped them).
    // The registry broadcast is O(versions); the payload never
    // shuffles (interval join — see RelationRegistry.projectAsOf). The
    // STREAMING half — a RelationMessage landing between microbatches
    // refreshing the projection without restart — is StreamingSpec's
    // registry-refresh test over the same RelationRegistry functions.
    "cdc_registry_asof" -> ((s, d) => {
      val (env, log) = registryFixture(s, d)
      val cur = RelationRegistry.currentSchemas(log)
        .select(col("relation").as("cur_relation"),
          size(col("columns")).as("cur_cols"))
      RelationRegistry.projectAsOf(env, log)
        .join(broadcast(cur), col("tableName") === col("cur_relation"), "left")
        .select(col("op"), col("lsn"), col("key"), col("tableName"),
          size(col("columns")).as("n_cols"),
          array_join(col("columns"), ",").as("schema_cols"),
          element_at(col("after"), "user_id").cast("long").as("after_user_id"),
          element_at(col("after"), "value").cast("double").as("after_value"),
          element_at(col("after"), "k").as("after_k"),
          element_at(col("after"), "flag").as("after_flag"),
          col("cur_cols"))
    }),

    // D4's dead-letter parity (r16 verdict #6): projectAsOf KEEPS
    // events with no applicable registry version as NULL-projection
    // rows where the reference CRASHES on an unregistered relation id
    // (replicator.go:330-333) — a pipeline re-expresses that crash as
    // a dead-letter route, and this query IS that route as a report:
    // per (relation, op), total vs dead (NULL-projection) counts, the
    // dead LSN range, and the rate — the cdc_dead_letter report shape
    // applied to registry coverage. On this fixture the dead set is
    // exactly activity's pre-f1 window (its first RelationMessage
    // lands at f1); users registers at lsn 0 and never dead-letters.
    // One broadcast interval join + an O(relations·ops) aggregate.
    "cdc_registry_dead_letter" -> ((s, d) => {
      val (env, log) = registryFixture(s, d)
      RelationRegistry.projectAsOf(env, log)
        .groupBy("tableName", "op")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("columns").isNull, 1L).otherwise(0L)).as("n_dead"),
          min(when(col("columns").isNull, col("lsn"))).as("first_dead_lsn"),
          max(when(col("columns").isNull, col("lsn"))).as("last_dead_lsn"))
        .withColumn("dead_rate",
          col("n_dead").cast("double") / col("n_total").cast("double"))
    }),

    // D9/D10 wire-format round trip: envelope → JSON → envelope must be
    // the identity on every scalar field (checked against the source).
    "cdc_json_roundtrip" -> ((s, d) => {
      Envelope.jsonRoundTrip(cdcEnv(s, d))
        .select(col("lsn"), col("op"), col("key"), col("txnId"))
    }),

    // S4 analog put to work: the envelope demuxed to per-kind tables
    // (the reference's index router, D12), then filtered by a
    // publication that subscribes to a strict SUBSET — unpublished
    // tables' changes never reach the subscriber. Per-table/op progress
    // counts + LSN range, oracle-checked.
    "cdc_publication_routing" -> ((s, d) => {
      val routed = cdcEnv(s, d).toDF()
        // route lifecycle ops to "users", activity ops to "activity" —
        // the cdc_<schema>_<table> demux of es_consumer/main.go:66-75
        .withColumn("tableName",
          when(col("op").isin("insert", "delete"), "users").otherwise("activity"))
      Publication.feed(routed, Publication.Spec("pub_users", Seq("public.users")))
        .groupBy("tableName", "op")
        .agg(count(lit(1)).as("n"),
          min("lsn").as("min_lsn"), max("lsn").as("max_lsn"))
    }),

    // K3 analog's payload: the per-transaction replication-progress
    // report the structured log sink records (rows, LSN range, deletes)
    // — computed from the changelog itself so it is fully deterministic
    // and oracle-checked; LogSinkSpec covers the durable append.
    "cdc_replication_log" -> ((s, d) => {
      cdcEnv(s, d).toDF()
        .groupBy("txnId")
        .agg(count(lit(1)).as("n_events"),
          min("lsn").as("first_lsn"), max("lsn").as("last_lsn"),
          sum(when(col("op") === "delete", 1).otherwise(0)).cast("long")
            .as("n_deletes"))
    }),

    // K1 wire loop closed end-to-end: envelope → Kafka message shape
    // (key/value BINARY columns, producer.go:35-42) → consumer-side parse
    // (es_consumer/main.go:44-75) → latest-state materialization. The
    // oracle computes latest-state directly from the source table, so a
    // pass proves the produce→consume round trip is the identity on the
    // pipeline's semantics, not just on individual fields.
    // C3's error path made queryable — the dead-letter ledger. The
    // reference LOGS decode failures and drops the message
    // (es_consumer/main.go:66-71); a production pipeline needs that
    // path to be an auditable relation, not a log line. Here 1/32 of
    // wire messages are deterministically corrupted (salted-md5
    // membership — the fault set is a pure function of the LSN,
    // classified in PlanQualitySpec's routing map; the payload loses
    // its last 8 bytes, so the outer JSON object can never close and
    // the parse MUST fail), pushed through the same from_json decode
    // the consumer uses, and classified dead on the envelope's
    // non-null lsn contract. The oracle computes the EXPECTED dead set
    // from the fault predicate alone — so a pass proves Spark's
    // permissive-mode decode fails on exactly the injected faults and
    // nothing else: no silently-committed poison pills, no healthy
    // messages discarded. One map-side pass + an O(ops) aggregate.
    "cdc_dead_letter" -> ((s, d) => {
      val ev = cdcEnv(s, d)
      val wire = ev
        .select(col("lsn"), col("op"),
          to_json(struct(ev.columns.map(col): _*)).as("w"))
        .withColumn("faulty",
          substring(md5(concat(lit("dlq|"), col("lsn"))), 1, 2) < "08")
        .withColumn("w2", when(col("faulty"),
          expr("substring(w, 1, length(w) - 8)")).otherwise(col("w")))
      wire
        .select(col("lsn"), col("op"),
          from_json(col("w2"), graft.model.CdcEvent.envelopeSchema).as("ev"))
        .groupBy("op")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ev.lsn").isNull, 1L).otherwise(0L)).as("n_dead"),
          min(when(col("ev.lsn").isNull, col("lsn"))).as("first_dead_lsn"))
        .withColumn("dead_rate",
          col("n_dead").cast("double") / col("n_total").cast("double"))
    }),

    "cdc_kafka_wire" -> ((s, d) => {
      val env = cdcEnv(s, d)
      val parsed = Envelope.fromKafkaMessages(Envelope.toKafkaMessages(env))
      ChangeLog.latestState(parsed.toDF(), Seq("key"), "lsn")
        .select(col("key"), col("lsn"), col("op"),
          element_at(col("after"), "value").cast("double").as("after_value"),
          element_at(col("after"), "k").as("after_k"))
    }),

    // Snapshot column-catalog metadata put to work: each snapshot event
    // carries the per-column {name, typeOid, typeMod, format} catalog the
    // reference captures from wire FieldDescriptions (replicator.go:114-126)
    // and its consumer then drops. Here the OID DRIVES the typed
    // projection of the string-erased payload — each value lands in the
    // typed column its declared type dictates, the way the reference's
    // ES mapping inference would type an index.
    "cdc_snapshot_catalog" -> ((s, d) => {
      Envelope.snapshotEvents(Tables.eventsShared(s, d), fenceLsn = 2000L).toDF()
        .select(col("lsn"), explode(col("columns")).as("c"), col("after"))
        .select(
          col("lsn"),
          col("c.name").as("col_name"),
          col("c.typeOid").as("type_oid"),
          col("c.typeMod").as("type_mod"),
          col("c.format").as("fmt"),
          when(col("c.typeOid") === 20,
            element_at(col("after"), col("c.name")).cast("long")).as("val_bigint"),
          when(col("c.typeOid") === 701,
            element_at(col("after"), col("c.name")).cast("double")).as("val_double"),
          when(col("c.typeOid") === 25,
            element_at(col("after"), col("c.name"))).as("val_text"))
    }),

    // Incremental view maintenance — the flagship CDC-CONSUMER pattern:
    // a per-key SUM maintained from signed changelog deltas (insert:
    // +after, delete: -before, update: after − before) instead of
    // rescanning the base table. The before-images the envelope carries
    // (and the reference never emitted) are exactly what makes the
    // update/delete deltas computable. One hash aggregation over the
    // changelog; at 100 TB the delta stream is the only thing read.
    // On a protocol-consistent log the deltas telescope to the
    // latest-state value per key (PipelineSpec proves it); here the
    // corpus's synthetic op mapping re-"inserts" live keys, so this is
    // the delta-sum itself, oracle-checked as such.
    "cdc_incremental_sum" -> ((s, d) => {
      val env = cdcEnv(s, d).toDF()
      val beforeV = element_at(col("before"), "value").cast("double")
      val afterV = element_at(col("after"), "value").cast("double")
      val delta =
        when(col("op") === "insert", afterV)
          .when(col("op") === "delete", -coalesce(beforeV, lit(0.0)))
          .otherwise(afterV - coalesce(beforeV, lit(0.0)))
      env.select(col("key"), delta.as("delta"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_changes"), dsum("delta").as("net_sum"))
    }),

    // Incremental COUNT DISTINCT with RETRACTIONS — the IVM case the
    // delta-sum pair cannot express: a key UPDATE moves a user between
    // k-groups, so the maintained "distinct users per k-group" view
    // needs -1 on the old group and +1 on the new one, which only the
    // before-image makes computable (the algebra of Gupta/Mumick-style
    // counting maintenance: refcount per (group, value), view = groups'
    // positive-count census). The corpus op mapping is not
    // protocol-consistent (live keys re-"insert"), so ops are first
    // NORMALIZED per key history — first-or-post-delete event = insert,
    // delete stays, rest = update — exactly the consistency a real
    // pgoutput log has by construction; the lag window that does it
    // here is the per-key shuffle a streaming consumer gets for free
    // from the wire's before-images. The ORACLE is the full recompute
    // over final latest-state, so the driver's hash match IS the proof
    // the signed deltas telescope losslessly. At 100 TB: one key-
    // partitioned window + one hash agg on (group, user) — the view
    // refresh never rescans history.
    "cdc_incremental_distinct" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val hist = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), opCol.as("op"),
          get_json_object(col("props"), "$.k").as("k"))
        .withColumn("prev", lag(struct(col("op"), col("k")), 1).over(w))
        .withColumn("nop",
          when(col("op") === "delete", "delete")
            .when(col("prev").isNull || col("prev.op") === "delete", "insert")
            .otherwise("update"))
      // retraction fires only when a LIVE predecessor asserted a group;
      // assertion only when this event leaves the key live
      val deltas = hist.select(col("user_id"), explode(array(
          struct(when(col("nop") =!= "insert" && col("prev.op") =!= "delete",
            col("prev.k")).as("g"), lit(-1L).as("dc")),
          struct(when(col("nop") =!= "delete", col("k")).as("g"),
            lit(1L).as("dc")))).as("delta"))
        .select(col("user_id"), col("delta.g").as("g"), col("delta.dc").as("dc"))
        .filter(col("g").isNotNull)
      deltas.groupBy("g", "user_id").agg(sum("dc").as("rc"))
        .filter(col("rc") > 0)
        .groupBy("g").agg(count(lit(1)).as("n_users"))
        .select(col("g").as("k_group"), col("n_users"))
    }),

    // §2.6 TRUNCATE done right: the reference only logs truncate
    // messages (replicator.go:409-411). Semantics: a truncate at LSN F
    // clears ALL state; keys exist afterwards only if re-created by
    // later events — i.e. latest-state over the post-fence suffix.
    "cdc_truncate_reset" -> ((s, d) => {
      val fence = 8000L
      ChangeLog.latestState(
        Tables.eventsShared(s, d).filter(col("event_id") > fence),
        Seq("user_id"), "event_id")
        .select("user_id", "event_id", "event_type", "value")
    }),

    // Incremental view maintenance over a JOIN: the maintained view is
    // "activity value per market segment" = events ⋈ customer, and a
    // delta batch updates it WITHOUT rejoining history — ΔQ = Δfacts ⋈
    // dim (the dim is static here; for a changing dim the symmetric
    // A⋈ΔB term is added the same way). This query computes the view as
    // base-at-fence PLUS the delta increment, merged by re-aggregation
    // (counts add; decimal sums add exactly), while the ORACLE is the
    // full recompute over all events — so the driver's hash match IS
    // the proof that the delta algebra loses nothing. At 100 TB the
    // base term is the materialized O(groups) view (never recomputed;
    // recomputed here only because a query is stateless), so a batch
    // costs one broadcast join over the delta + an O(groups) merge.
    // PipelineSpec proves the multi-batch telescoping fold separately.
    "cdc_incremental_join" -> ((s, d) => {
      val e = Tables.eventsShared(s, d)
      val fence = e.agg(expr("max(event_id) div 2").as("fence"))
      val dim = broadcast(Tables.customerShared(s, d)
        .select(col("c_custkey"), col("c_mktsegment")))
      val withF = e.crossJoin(broadcast(fence))
      def part(src: DataFrame) =
        src.join(dim, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(25,6)")).as("v"))
      val base = part(withF.filter(col("event_id") <= col("fence")))
      val delta = part(withF.filter(col("event_id") > col("fence")))
      base.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(sum("n").as("n_events"),
          sum("v").cast("double").as("total_value"))
    }),

    // Daily op-mix monitor — the feed-health dashboard row every CDC
    // consumer watches: a delete-share spike means an upstream purge is
    // in flight, an insert collapse means the producer stalled. One
    // hash aggregation into O(days) rows.
    "cdc_op_mix" -> ((s, d) => {
      Tables.eventsShared(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(opCol === "insert", 1L).otherwise(0L)).as("n_insert"),
          sum(when(opCol === "update", 1L).otherwise(0L)).as("n_update"),
          sum(when(opCol === "delete", 1L).otherwise(0L)).as("n_delete"),
          count(lit(1)).as("n_total"))
        .withColumn("delete_share",
          col("n_delete").cast("double") / col("n_total").cast("double"))
    }),

    // LSN-vs-commit-time COHERENCE census — the replication-feed
    // health check: within one key's history, the LSN order (the order
    // the consumer APPLIES) should agree with the source commit
    // timestamps; an adjacent-in-LSN pair whose timestamp runs
    // backwards means clock skew, a restored backup, or a producer
    // reordering bug — the class of feed defect that silently turns
    // "latest state" into "wrong state" for any consumer keyed on time
    // instead of LSN. One key-partitioned window pass (the
    // events_interarrival shuffle shape, key = the CDC entity), O(1)
    // per-row state, a 1-row integer report; share is one IEEE
    // division of exact longs, NULL-guarded for the no-pairs corpus.
    "cdc_lsn_inversions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val ev = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      ev.agg(count(lit(1)).as("n_events"),
          sum(when(col("prev_ts").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
          sum(when(col("prev_ts") > col("ts"), 1L).otherwise(0L))
            .as("n_inversions"),
          count_distinct(when(col("prev_ts") > col("ts"), col("user_id")))
            .as("n_keys_affected"))
        .withColumn("inversion_share",
          when(col("n_pairs") === 0L, lit(null).cast("double"))
            .otherwise(col("n_inversions").cast("double") /
              col("n_pairs").cast("double")))
    }),

    // §2.6 BEGIN/COMMIT done right: the reference LOGS Begin/Commit
    // Xids and then drops them (replicator.go:323-331) — no consumer
    // can ever reassemble a transaction. This is the Debezium
    // "transaction metadata" surface: one row per txn with its op
    // census, key fan-out, and LSN span, built from the SAME txnId the
    // envelope carries (Envelope.scala — every consumer sees the same
    // assignment). At 100 TB: one hash aggregation keyed on txn_id
    // with map-side partials; output is O(transactions), and no join
    // or window touches the event log a second time.
    "cdc_txn_assembly" -> ((s, d) => {
      val env = cdcEnv(s, d).toDF()
      env.groupBy(col("txnId").as("txn_id"))
        .agg(count(lit(1)).as("n_ops"),
          countDistinct(col("key")).as("n_keys"),
          min("lsn").as("first_lsn"), max("lsn").as("last_lsn"),
          sum(when(col("op") === "insert", 1L).otherwise(0L)).as("n_insert"),
          sum(when(col("op") === "update", 1L).otherwise(0L)).as("n_update"),
          sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_delete"))
    }),

    // Snapshot differencing — QUERY-BASED CDC, the fallback every CDC
    // service ships for sources with no WAL access (the reference's
    // snapshot path, replicator.go:69-184, is the half of this that
    // reads one side): diff the materialized state at two fences and
    // emit the insert/update/delete changelog that replays one into the
    // other. Both states are tombstone-aware latest-state (the A3
    // operator); the diff is ONE full-outer join on the key, and a key
    // appears in the output only if its version actually moved — so the
    // emitted changelog is minimal. The fence is derived (max LSN div 2)
    // rather than a literal so the query exercises the same shape at
    // every SF. At 100 TB both sides shuffle by the key once; the join
    // carries O(keys) rows, not O(events).
    "cdc_snapshot_diff" -> ((s, d) => {
      val e = Tables.eventsShared(s, d)
      val fence = e.agg(expr("max(event_id) div 2").as("fence"))
      def state(src: org.apache.spark.sql.DataFrame) =
        ChangeLog.latestStateWithTombstones(
          src.select("user_id", "event_id", "event_type", "value"),
          Seq("user_id"), "event_id", col("event_type") === "error")
      val old = state(e.crossJoin(broadcast(fence))
          .filter(col("event_id") <= col("fence")))
        .select(col("user_id"), col("event_id").as("old_lsn"),
          col("value").as("old_value"))
      val now = state(e)
        .select(col("user_id"), col("event_id").as("new_lsn"),
          col("value").as("new_value"))
      old.join(now, Seq("user_id"), "full_outer")
        .filter(col("old_lsn").isNull || col("new_lsn").isNull ||
          col("old_lsn") =!= col("new_lsn"))
        .withColumn("op",
          when(col("old_lsn").isNull, "insert")
            .when(col("new_lsn").isNull, "delete")
            .otherwise("update"))
    }),

    // SCD Type 2 from the raw change log: every change per key becomes a
    // validity interval [valid_from_lsn, valid_to_lsn) with its payload;
    // the current version has an open (null) upper bound. One window
    // per key (lead over event_id) — partitioned by the key, so the sort
    // is per-key local and the op scales as a single shuffle on user_id.
    // This is the warehouse-side history table a CDC feed materializes
    // when consumers need "value as of any LSN", not just latest.
    "cdc_scd2_intervals" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), opCol.as("op"), col("value"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_from_lsn", col("event_id"))
        .withColumn("valid_to_lsn", lead("event_id", 1).over(w))
        .withColumn("is_current", col("valid_to_lsn").isNull)
        .drop("event_id")
    }),

    // Log compaction (the Kafka-compacted-topic semantics the reference's
    // producer relies on): keep only the LAST event per (key, utc day).
    // Bounds retained history to keys × days regardless of update rate —
    // the difference between an append-only log and a log you can still
    // replay after a year at 100 TB/day. One partitioned window, no
    // global sort; n_collapsed records the compaction ratio per cell.
    "cdc_log_compact" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("day"))
        .orderBy(col("event_id").desc)
      Tables.eventsShared(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"),
          col("event_id"), col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_collapsed",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("day"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("event_id").as("last_lsn"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          col("n_collapsed"))
    }),

    // Consumer low-watermark: per consumer group (event_type is the
    // sandbox's consumer proxy), the highest LSN it has processed and
    // its lag behind the head; the MINIMUM of those positions is the
    // only LSN the whole fleet has passed — the safe truncation /
    // replay fence a multi-consumer changelog must respect (Kafka's
    // low-watermark, Postgres' restart_lsn across slots). Two tiny
    // aggregations + 1-row broadcasts; the verdict marks the laggard
    // that pins the log.
    "cdc_low_watermark" -> ((s, d) => {
      val pos = Tables.eventsShared(s, d)
        .groupBy(col("event_type").as("consumer"))
        .agg(max("event_id").as("acked_lsn"), count(lit(1)).as("n_events"))
      val head = Tables.eventsShared(s, d)
        .agg(max("event_id").as("head_lsn")).withColumn("__k", lit(1))
      val low = pos.agg(min("acked_lsn").as("low_watermark"))
        .withColumn("__k", lit(1))
      pos.withColumn("__k", lit(1))
        .join(broadcast(head), "__k").join(broadcast(low), "__k")
        .select(col("consumer"), col("n_events"), col("acked_lsn"),
          (col("head_lsn") - col("acked_lsn")).as("lag"),
          col("low_watermark"),
          (col("acked_lsn") === col("low_watermark")).as("is_laggard"))
    }),

    // Kafka-style compaction with delete retention (log.cleanup.policy=
    // compact + delete.retention.ms): the compacted head keeps the
    // latest record per key; a key whose head is a DELETE keeps its
    // tombstone only while it is younger than the retention horizon
    // (fence − fence/4 in LSN space — consumers that lag further than
    // that must resnapshot anyway), and is purged entirely after. The
    // per-key head is one user-partitioned window; the fence is a 1-row
    // broadcast. This is the GC policy that stops a delete-heavy
    // changelog from growing tombstones forever at 100 TB.
    "cdc_tombstone_gc" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("event_id").desc)
      val latest = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), opCol.as("op"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val fence = Tables.eventsShared(s, d)
        .agg(max("event_id").as("fence")).withColumn("__k", lit(1))
      latest.withColumn("__k", lit(1)).join(broadcast(fence), "__k")
        .select(col("user_id"), col("event_id").as("last_lsn"),
          col("op").as("last_op"),
          when(col("op") =!= "delete", "live")
            .when(ChangeLog.tombstoneRetained(col("event_id"), col("fence")),
              "tombstone_retained")
            .otherwise("purged").as("outcome"))
    }),

    // Per-consumer freshness / watermark-headroom dashboard — the ops
    // view the reference's Kibana dashboards approximated
    // (/root/reference/README.md:189-194), combining cdc_low_watermark's
    // LSN-space position with events_lag_percentiles' event-time
    // disorder, per consumer: how far behind the head each consumer is
    // (lag, LSN), how stale its newest event is (staleness, event-time
    // µs vs the head), and whether the pipeline's default 10-minute
    // watermark (ChangeLogStream.windowedCounts) clears the consumer's
    // p95 observed lateness — the go/no-go a watermark-sizing review
    // asks per consumer. One user-partitioned running-max pass for
    // lateness (the events_lag_percentiles shape) + one per-consumer
    // hash agg + two 1-row broadcasts; all exact, the verdict compares
    // identical doubles in both engines.
    "cdc_consumer_freshness" -> ((s, d) => {
      val ev = Tables.eventsShared(s, d)
        .select(col("event_type").as("consumer"), col("user_id"),
          col("event_id"), unix_micros(col("ts")).as("us"))
        .transform(graft.CachePool.persist) // position pass + lateness pass
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val late = ev
        .withColumn("lateness_us",
          greatest(lit(0L), coalesce(max("us").over(w) - col("us"), lit(0L))))
        .groupBy("consumer")
        .agg(expr("percentile(lateness_us, 0.95D)").as("p95_lateness_us"))
      val pos = ev.groupBy("consumer")
        .agg(max("event_id").as("acked_lsn"),
          max("us").as("last_event_us"), count(lit(1)).as("n_events"))
      val head = ev.agg(max("event_id").as("head_lsn"),
        max("us").as("head_us")).withColumn("__k", lit(1))
      val low = pos.agg(min("acked_lsn").as("low_watermark"))
        .withColumn("__k", lit(1))
      pos.join(late, Seq("consumer")).withColumn("__k", lit(1))
        .join(broadcast(head), "__k").join(broadcast(low), "__k")
        .select(col("consumer"), col("n_events"), col("acked_lsn"),
          (col("head_lsn") - col("acked_lsn")).as("lag"),
          (col("head_us") - col("last_event_us")).as("staleness_us"),
          col("p95_lateness_us"),
          (col("p95_lateness_us") <= lit(WATERMARK_US.toDouble))
            .as("watermark_headroom_ok"),
          (col("acked_lsn") === col("low_watermark")).as("is_laggard"))
    }),

    // Replication-slot retention projection — the disk-pressure
    // dashboard cdc_consumer_freshness's lag numbers feed: Postgres
    // pins WAL from the SLOWEST consumer's restart LSN (the low
    // watermark), so one stalled subscriber grows the primary's disk
    // until the slot is dropped — the classic logical-replication
    // outage. Reports the slot's head/low-watermark span, the events
    // and wire bytes pinned behind it (byte size = the mirrored
    // payload-length proxy: props + op tag + fixed header), and the
    // pinned fraction of the whole log. One O(consumers) roll-up + one
    // fenced scan; all exact integers, one shipped double ratio.
    "cdc_slot_retention" -> ((s, d) => {
      val ev = Tables.eventsShared(s, d)
        .select(col("event_type").as("consumer"), col("event_id"),
          (length(col("props")) + length(col("event_type")) + lit(20))
            .cast("long").as("bytes"))
        .transform(graft.CachePool.persist) // head + low + fenced pass
      val low = ev.groupBy("consumer").agg(max("event_id").as("acked"))
        .agg(min("acked").as("low_watermark")).withColumn("__k", lit(1))
      val tot = ev.agg(max("event_id").as("head_lsn"),
        count(lit(1)).as("n_total"), sum("bytes").as("total_bytes"))
        .withColumn("__k", lit(1))
      val ret = ev.withColumn("__k", lit(1)).join(broadcast(low), "__k")
        .filter(col("event_id") > col("low_watermark"))
        .agg(count(lit(1)).as("retained_events"),
          coalesce(sum("bytes"), lit(0L)).as("retained_bytes"))
        .withColumn("__k", lit(1))
      low.join(broadcast(tot), "__k").join(broadcast(ret), "__k")
        .select(col("head_lsn"), col("low_watermark"),
          (col("head_lsn") - col("low_watermark")).as("slot_lag"),
          col("retained_events"), col("retained_bytes"),
          (col("retained_bytes").cast("double") /
            col("total_bytes").cast("double")).as("retained_frac"))
    }),

    // Event-time tumbling window aggregation (batch analog of the
    // streaming windowed agg; reference has no event-time semantics at
    // all — SURVEY.md §2.7 — we add them).
    "cdc_window_hourly" -> ((s, d) => {
      Tables.eventsShared(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum("value").as("total_value"))
    })
  )

  private val latestSql =
    """SELECT event_id, ts, user_id, event_type, value, props FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    // Deliberately the FULL recompute (no fence, no delta): matching it
    // proves the Spark side's base+increment decomposition is lossless.
    "cdc_incremental_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "cdc_op_mix" ->
      s"""SELECT CAST(ts AS DATE) AS day,
         |  CAST(SUM(CASE WHEN $opSql = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_insert,
         |  CAST(SUM(CASE WHEN $opSql = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_update,
         |  CAST(SUM(CASE WHEN $opSql = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delete,
         |  COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN $opSql = 'delete' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS delete_share
         |FROM events GROUP BY 1""".stripMargin,
    // Same key-partitioned lag; COUNT(DISTINCT CASE...) counts only the
    // keys whose CASE fires (NULL otherwise) on both engines.
    "cdc_lsn_inversions" ->
      """WITH ev AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev_ts
        |  FROM events)
        |SELECT COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN prev_ts > ts THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inversions,
        |  COUNT(DISTINCT CASE WHEN prev_ts > ts THEN user_id END)
        |    AS n_keys_affected,
        |  CASE WHEN SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END) = 0
        |    THEN NULL
        |    ELSE CAST(SUM(CASE WHEN prev_ts > ts THEN 1 ELSE 0 END)
        |        AS DOUBLE)
        |      / CAST(SUM(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) END AS inversion_share
        |FROM ev""".stripMargin,
    // txn_id = event_id // 100, the envelope's own derivation
    // (Envelope.scala txnId); event_ids are non-negative so Spark's
    // truncating cast and DuckDB's flooring // agree.
    "cdc_txn_assembly" ->
      s"""SELECT event_id // 100 AS txn_id, COUNT(*) AS n_ops,
         |  COUNT(DISTINCT user_id) AS n_keys,
         |  MIN(event_id) AS first_lsn, MAX(event_id) AS last_lsn,
         |  CAST(SUM(CASE WHEN $opSql = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_insert,
         |  CAST(SUM(CASE WHEN $opSql = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_update,
         |  CAST(SUM(CASE WHEN $opSql = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delete
         |FROM events GROUP BY 1""".stripMargin,
    // Deliberately the FULL recompute over final latest-state — the
    // refcount delta fold matching it is the lossless-maintenance proof.
    "cdc_incremental_distinct" ->
      s"""WITH latest AS (SELECT user_id, k, op FROM (
         |    SELECT user_id, json_extract_string(props, '$$.k') AS k,
         |      $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY event_id DESC) AS rn
         |    FROM events) t WHERE rn = 1)
         |SELECT k AS k_group, COUNT(DISTINCT user_id) AS n_users
         |FROM latest WHERE op <> 'delete' AND k IS NOT NULL
         |GROUP BY 1""".stripMargin,
    "cdc_low_watermark" ->
      """WITH pos AS (SELECT event_type AS consumer,
        |    MAX(event_id) AS acked_lsn, COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |h AS (SELECT MAX(event_id) AS head_lsn FROM events),
        |lw AS (SELECT MIN(acked_lsn) AS low_watermark FROM pos)
        |SELECT consumer, n_events, acked_lsn,
        |  head_lsn - acked_lsn AS lag, low_watermark,
        |  acked_lsn = low_watermark AS is_laggard
        |FROM pos, h, lw""".stripMargin,
    // Same fenced-scan algebra; the byte proxy mirrors length()+20.
    "cdc_slot_retention" ->
      """WITH ev AS (SELECT event_type AS consumer, event_id,
        |    CAST(length(props) + length(event_type) + 20 AS BIGINT) AS bytes
        |  FROM events),
        |low AS (SELECT MIN(acked) AS low_watermark FROM (
        |  SELECT consumer, MAX(event_id) AS acked FROM ev GROUP BY 1) a),
        |tot AS (SELECT MAX(event_id) AS head_lsn, COUNT(*) AS n_total,
        |  CAST(SUM(bytes) AS BIGINT) AS total_bytes FROM ev),
        |ret AS (SELECT COUNT(*) AS retained_events,
        |    CAST(COALESCE(SUM(bytes), 0) AS BIGINT) AS retained_bytes
        |  FROM ev, low WHERE event_id > low_watermark)
        |SELECT head_lsn, low_watermark,
        |  head_lsn - low_watermark AS slot_lag,
        |  retained_events, retained_bytes,
        |  CAST(retained_bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE)
        |    AS retained_frac
        |FROM tot, low, ret""".stripMargin,
    "cdc_consumer_freshness" ->
      s"""WITH m AS (SELECT event_type AS consumer, user_id, event_id,
         |    epoch_us(ts) AS us,
         |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM events),
         |late AS (SELECT consumer,
         |    quantile_cont(GREATEST(0, COALESCE(pm - us, 0)), 0.95)
         |      AS p95_lateness_us
         |  FROM m GROUP BY 1),
         |pos AS (SELECT consumer, MAX(event_id) AS acked_lsn,
         |    MAX(us) AS last_event_us, COUNT(*) AS n_events
         |  FROM m GROUP BY 1),
         |h AS (SELECT MAX(event_id) AS head_lsn, MAX(us) AS head_us FROM m),
         |lw AS (SELECT MIN(acked_lsn) AS low_watermark FROM pos)
         |SELECT consumer, n_events, acked_lsn,
         |  head_lsn - acked_lsn AS lag,
         |  head_us - last_event_us AS staleness_us,
         |  p95_lateness_us,
         |  p95_lateness_us <= ${WATERMARK_US}e0 AS watermark_headroom_ok,
         |  acked_lsn = low_watermark AS is_laggard
         |FROM pos JOIN late USING (consumer), h, lw""".stripMargin,
    "cdc_tombstone_gc" ->
      s"""WITH latest AS (SELECT user_id, event_id, $opSql AS op
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rn FROM events) t
         |  WHERE rn = 1),
         |f AS (SELECT MAX(event_id) AS fence FROM events)
         |SELECT user_id, event_id AS last_lsn, op AS last_op,
         |  CASE WHEN op <> 'delete' THEN 'live'
         |    WHEN event_id > fence - fence // 4 THEN 'tombstone_retained'
         |    ELSE 'purged' END AS outcome
         |FROM latest, f""".stripMargin,
    "cdc_snapshot_diff" ->
      """WITH f AS (SELECT MAX(event_id) // 2 AS fence FROM events),
        |os AS (SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events, f WHERE event_id <= fence),
        |old AS (SELECT user_id, event_id AS old_lsn, value AS old_value
        |  FROM os WHERE rn = 1 AND event_type <> 'error'),
        |ns AS (SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |nw AS (SELECT user_id, event_id AS new_lsn, value AS new_value
        |  FROM ns WHERE rn = 1 AND event_type <> 'error')
        |SELECT user_id, old_lsn, old_value, new_lsn, new_value,
        |  CASE WHEN old_lsn IS NULL THEN 'insert'
        |       WHEN new_lsn IS NULL THEN 'delete'
        |       ELSE 'update' END AS op
        |FROM old FULL OUTER JOIN nw USING (user_id)
        |WHERE old_lsn IS NULL OR new_lsn IS NULL OR old_lsn <> new_lsn""".stripMargin,
    "cdc_scd2_intervals" ->
      s"""SELECT user_id, $opSql AS op, value,
         |  CAST(row_number() OVER w AS INT) AS version,
         |  event_id AS valid_from_lsn,
         |  lead(event_id, 1) OVER w AS valid_to_lsn,
         |  lead(event_id, 1) OVER w IS NULL AS is_current
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin,
    "cdc_log_compact" ->
      """SELECT user_id, day, event_id AS last_lsn,
        |  event_type AS last_event_type, value AS last_value, n_collapsed
        |FROM (SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |    event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id, CAST(DATE_TRUNC('day', ts) AS DATE)
        |      ORDER BY event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, CAST(DATE_TRUNC('day', ts) AS DATE)) AS n_collapsed
        |  FROM events) t
        |WHERE rn = 1""".stripMargin,
    "cdc_latest_state" -> latestSql,
    // The same latest-per-key relation rolled up per type; decimal sum
    // → one double cast, mirrored.
    "cdc_state_rollup" ->
      s"""WITH st AS ($latestSql),
         |tot AS (SELECT COUNT(*) AS n_keys FROM st)
         |SELECT event_type, COUNT(*) AS n_live,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
         |    AS DOUBLE) AS total_value,
         |  MAX(event_id) AS max_lsn,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(n_keys AS DOUBLE) AS share_of_keys
         |FROM st, tot GROUP BY event_type, n_keys""".stripMargin,
    "cdc_latest_state_delete" ->
      s"SELECT * FROM ($latestSql) u WHERE event_type <> 'error'",
    // Carry-forward semantics per COLUMN: the latest live event where
    // that column was not flagged unchanged (update ∧ lsn%3=0 flags k,
    // update ∧ lsn%5=0 flags value — the synthesis rule in
    // Envelope.toCdcEventsToast); deletes fence earlier state.
    "cdc_toast_latest_state" ->
      s"""WITH e AS (SELECT event_id, user_id, value, $opSql AS op,
         |    json_extract_string(props, '$$.k') AS k
         |  FROM events),
         |dels AS (SELECT user_id, MAX(event_id) AS del_lsn FROM e
         |  WHERE op = 'delete' GROUP BY 1),
         |live AS (SELECT e.* FROM e LEFT JOIN dels USING (user_id)
         |  WHERE op <> 'delete' AND (del_lsn IS NULL OR event_id > del_lsn)),
         |mx AS (SELECT user_id, MAX(event_id) AS state_lsn FROM live GROUP BY 1),
         |lv AS (SELECT user_id, value FROM (
         |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rn
         |    FROM live WHERE NOT (op = 'update' AND event_id % 5 = 0)) t
         |  WHERE rn = 1),
         |lk AS (SELECT user_id, k FROM (
         |    SELECT user_id, k, row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rn
         |    FROM live WHERE NOT (op = 'update' AND event_id % 3 = 0)) t
         |  WHERE rn = 1)
         |SELECT 'public.users:' || CAST(mx.user_id AS VARCHAR) AS key,
         |  state_lsn, mx.user_id AS user_id, lv.value AS value,
         |  CAST(lk.k AS BIGINT) AS k
         |FROM mx LEFT JOIN lv USING (user_id) LEFT JOIN lk USING (user_id)""".stripMargin,
    // cdc_toast_latest_state's CTEs + the retained-tombstone leg:
    // fenced keys (a delete with no later live event) survive while
    // del_lsn > head − head>>2 (LSNs non-negative, so DuckDB's >> is
    // Spark's shiftright — the layout_fingerprint_order lesson).
    "cdc_retained_state" ->
      s"""WITH e AS (SELECT event_id, user_id, value, $opSql AS op,
         |    json_extract_string(props, '$$.k') AS k
         |  FROM events),
         |dels AS (SELECT user_id, MAX(event_id) AS del_lsn FROM e
         |  WHERE op = 'delete' GROUP BY 1),
         |live AS (SELECT e.* FROM e LEFT JOIN dels USING (user_id)
         |  WHERE op <> 'delete' AND (del_lsn IS NULL OR event_id > del_lsn)),
         |mx AS (SELECT user_id, MAX(event_id) AS state_lsn FROM live GROUP BY 1),
         |lv AS (SELECT user_id, value FROM (
         |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rn
         |    FROM live WHERE NOT (op = 'update' AND event_id % 5 = 0)) t
         |  WHERE rn = 1),
         |lk AS (SELECT user_id, k FROM (
         |    SELECT user_id, k, row_number() OVER (PARTITION BY user_id
         |      ORDER BY event_id DESC) AS rn
         |    FROM live WHERE NOT (op = 'update' AND event_id % 3 = 0)) t
         |  WHERE rn = 1),
         |hd AS (SELECT MAX(event_id) AS head FROM e),
         |tomb AS (SELECT dels.user_id, del_lsn FROM dels, hd
         |  WHERE dels.user_id NOT IN (SELECT user_id FROM mx)
         |    AND del_lsn > head - (head >> 2))
         |SELECT 'public.users:' || CAST(mx.user_id AS VARCHAR) AS key,
         |  state_lsn, mx.user_id AS user_id, lv.value AS value,
         |  CAST(lk.k AS BIGINT) AS k, FALSE AS tombstone
         |FROM mx LEFT JOIN lv USING (user_id) LEFT JOIN lk USING (user_id)
         |UNION ALL
         |SELECT 'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |  del_lsn AS state_lsn, CAST(NULL AS BIGINT) AS user_id,
         |  CAST(NULL AS DOUBLE) AS value, CAST(NULL AS BIGINT) AS k,
         |  TRUE AS tombstone
         |FROM tomb""".stripMargin,

    // Same fence/liveness CTEs as cdc_toast_latest_state; per column,
    // the winning LSN is the latest live event NOT flagged unchanged
    // for it (user_id is never flagged, so its source is state_lsn).
    "cdc_cell_provenance" ->
      s"""WITH e AS (SELECT event_id, user_id, $opSql AS op FROM events),
         |dels AS (SELECT user_id, MAX(event_id) AS del_lsn FROM e
         |  WHERE op = 'delete' GROUP BY 1),
         |live AS (SELECT e.* FROM e LEFT JOIN dels USING (user_id)
         |  WHERE op <> 'delete' AND (del_lsn IS NULL OR event_id > del_lsn)),
         |mx AS (SELECT user_id, MAX(event_id) AS state_lsn FROM live GROUP BY 1),
         |lv AS (SELECT user_id, MAX(event_id) AS lsn_value FROM live
         |  WHERE NOT (op = 'update' AND event_id % 5 = 0) GROUP BY 1),
         |lk AS (SELECT user_id, MAX(event_id) AS lsn_k FROM live
         |  WHERE NOT (op = 'update' AND event_id % 3 = 0) GROUP BY 1)
         |SELECT 'public.users:' || CAST(mx.user_id AS VARCHAR) AS key,
         |  state_lsn, state_lsn AS lsn_user_id, lsn_value, lsn_k
         |FROM mx LEFT JOIN lv USING (user_id) LEFT JOIN lk USING (user_id)""".stripMargin,
    "cdc_envelope" ->
      s"""SELECT $opSql AS op, event_id AS lsn, ts,
         |  'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |  user_id, value,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS prop_k
         |FROM events""".stripMargin,
    "cdc_replay_dedup" ->
      s"""SELECT user_id, COUNT(*) AS n_events, MAX(event_id) AS max_lsn,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY user_id""".stripMargin,
    "cdc_snapshot_union_fence" -> latestSql,
    "cdc_full_envelope" ->
      s"""WITH e AS (
         |  SELECT event_id, ts, user_id, value, $opSql AS op,
         |    json_extract_string(props, '$$.k') AS k
         |  FROM events),
         |l AS (
         |  SELECT *, lag(op) OVER w AS prev_op,
         |    lag(value) OVER w AS prev_value, lag(k) OVER w AS prev_k
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
         |SELECT op, event_id AS lsn, ts,
         |  'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |  CASE WHEN op = 'insert' OR prev_op = 'delete' THEN NULL ELSE prev_value END AS before_value,
         |  CASE WHEN op = 'insert' OR prev_op = 'delete' THEN NULL ELSE prev_k END AS before_k,
         |  CASE WHEN op = 'delete' THEN NULL ELSE value END AS after_value,
         |  CASE WHEN op = 'delete' THEN NULL ELSE k END AS after_k,
         |  event_id // 100 AS txnId
         |FROM l""".stripMargin,
    "cdc_json_roundtrip" ->
      s"""SELECT event_id AS lsn, $opSql AS op,
         |  'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |  event_id // 100 AS txnId
         |FROM events""".stripMargin,
    // the as-of registry projection, widened fixture (r16): an
    // INDEPENDENT formulation — where Spark resolves versions through
    // the interval join, the oracle writes each relation's schema
    // timeline as explicit fence CASEs. Fences = max//3 and 2*(max//3),
    // truncating identically in both engines on non-negative lsns.
    // users: 2 cols below f1, 3 from f1 (same-lsn tie-break to the
    // wider registration), 4 from f2 ('flag' registered but absent →
    // always-NULL after_flag); activity (the non-lifecycle ops):
    // registered only from f1 — below it the projection is NULL across
    // the board (the left-join keep-with-NULL semantics). cur_cols is
    // the registry-HEAD width per relation (currentSchemas' same-lsn
    // tie-break at f2 must also pick the wider: 4 / 2).
    "cdc_registry_asof" ->
      s"""WITH f AS (SELECT COALESCE(MAX(event_id), 0) // 3 AS f1,
         |    2 * (COALESCE(MAX(event_id), 0) // 3) AS f2 FROM events),
         |e AS (SELECT event_id AS lsn, user_id, value,
         |    json_extract_string(props, '$$.k') AS k, $opSql AS op
         |  FROM events),
         |r AS (SELECT *, CASE WHEN op IN ('insert', 'delete')
         |    THEN 'users' ELSE 'activity' END AS tableName FROM e)
         |SELECT op, lsn,
         |  'public.users:' || CAST(user_id AS VARCHAR) AS key, tableName,
         |  CAST(CASE WHEN tableName = 'users' THEN
         |      CASE WHEN lsn >= (SELECT f2 FROM f) THEN 4
         |           WHEN lsn >= (SELECT f1 FROM f) THEN 3 ELSE 2 END
         |    WHEN lsn >= (SELECT f1 FROM f) THEN 2 END AS INT) AS n_cols,
         |  CASE WHEN tableName = 'users' THEN
         |      CASE WHEN lsn >= (SELECT f2 FROM f) THEN 'user_id,value,k,flag'
         |           WHEN lsn >= (SELECT f1 FROM f) THEN 'user_id,value,k'
         |           ELSE 'user_id,value' END
         |    WHEN lsn >= (SELECT f1 FROM f) THEN 'user_id,k' END AS schema_cols,
         |  CASE WHEN op = 'delete'
         |      OR (tableName = 'activity' AND lsn < (SELECT f1 FROM f))
         |    THEN NULL ELSE user_id END AS after_user_id,
         |  CASE WHEN op = 'delete' OR tableName = 'activity'
         |    THEN NULL ELSE value END AS after_value,
         |  CASE WHEN op <> 'delete' AND lsn >= (SELECT f1 FROM f)
         |    THEN k END AS after_k,
         |  CAST(NULL AS VARCHAR) AS after_flag,
         |  CAST(CASE WHEN tableName = 'users' THEN 4 ELSE 2 END AS INT)
         |    AS cur_cols
         |FROM r""".stripMargin,
    // the registry dead-letter report: INDEPENDENT formulation — where
    // Spark classifies dead rows off the interval join's NULL columns,
    // the oracle derives the dead predicate from the fixture timeline
    // directly (activity below its f1 registration; users never).
    "cdc_registry_dead_letter" ->
      s"""WITH f AS (SELECT COALESCE(MAX(event_id), 0) // 3 AS f1
         |  FROM events),
         |e AS (SELECT event_id AS lsn, $opSql AS op FROM events),
         |r AS (SELECT lsn, op,
         |    CASE WHEN op IN ('insert', 'delete')
         |      THEN 'users' ELSE 'activity' END AS tableName
         |  FROM e),
         |w AS (SELECT *, CASE WHEN tableName = 'activity'
         |    AND lsn < (SELECT f1 FROM f) THEN 1 ELSE 0 END AS dead
         |  FROM r)
         |SELECT tableName, op, COUNT(*) AS n_total,
         |  CAST(SUM(dead) AS BIGINT) AS n_dead,
         |  MIN(CASE WHEN dead = 1 THEN lsn END) AS first_dead_lsn,
         |  MAX(CASE WHEN dead = 1 THEN lsn END) AS last_dead_lsn,
         |  CAST(SUM(dead) AS DOUBLE) / COUNT(*) AS dead_rate
         |FROM w GROUP BY 1, 2""".stripMargin,
    "cdc_publication_routing" ->
      s"""SELECT 'users' AS tableName,
         |  CASE event_type WHEN 'signup' THEN 'insert' ELSE 'delete' END AS op,
         |  COUNT(*) AS n, MIN(event_id) AS min_lsn, MAX(event_id) AS max_lsn
         |FROM events WHERE event_type IN ('signup', 'error')
         |GROUP BY 2""".stripMargin,
    "cdc_replication_log" ->
      s"""SELECT event_id // 100 AS txnId, COUNT(*) AS n_events,
         |  MIN(event_id) AS first_lsn, MAX(event_id) AS last_lsn,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
         |FROM events GROUP BY 1""".stripMargin,
    "cdc_dead_letter" ->
      s"""WITH w AS (SELECT event_id AS lsn, $opSql AS op,
         |    substr(md5('dlq|' || CAST(event_id AS VARCHAR)), 1, 2) < '08'
         |      AS faulty
         |  FROM events),
         |g AS (SELECT op, COUNT(*) AS n_total,
         |    CAST(SUM(CASE WHEN faulty THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dead,
         |    MIN(CASE WHEN faulty THEN lsn END) AS first_dead_lsn
         |  FROM w GROUP BY op)
         |SELECT op, n_total, n_dead, first_dead_lsn,
         |  CAST(n_dead AS DOUBLE) / CAST(n_total AS DOUBLE) AS dead_rate
         |FROM g""".stripMargin,
    "cdc_kafka_wire" ->
      s"""WITH l AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |  FROM events)
         |SELECT 'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |  event_id AS lsn, $opSql AS op,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS after_value,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE json_extract_string(props, '$$.k') END AS after_k
         |FROM l WHERE rn = 1""".stripMargin,
    "cdc_snapshot_catalog" ->
      """WITH snap AS (SELECT * FROM events WHERE event_id <= 2000),
        |cols(name, type_oid, type_mod, fmt) AS (
        |  VALUES ('user_id', 20, -1, 0), ('value', 701, -1, 0), ('k', 25, -1, 0))
        |SELECT s.event_id AS lsn, c.name AS col_name, c.type_oid, c.type_mod, c.fmt,
        |  CASE WHEN c.type_oid = 20 THEN CAST(s.user_id AS BIGINT) END AS val_bigint,
        |  CASE WHEN c.type_oid = 701 THEN s.value END AS val_double,
        |  CASE WHEN c.type_oid = 25 THEN json_extract_string(s.props, '$.k') END AS val_text
        |FROM snap s CROSS JOIN cols c""".stripMargin,
    "cdc_incremental_sum" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, value, $opSql AS op FROM events),
         |l AS (
         |  SELECT *, lag(op) OVER w AS prev_op, lag(value) OVER w AS prev_value
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         |d AS (
         |  SELECT 'public.users:' || CAST(user_id AS VARCHAR) AS key,
         |    CASE WHEN op = 'insert' THEN value
         |         WHEN op = 'delete'
         |           THEN -COALESCE(CASE WHEN prev_op = 'delete' THEN NULL ELSE prev_value END, 0)
         |         ELSE value - COALESCE(CASE WHEN prev_op = 'delete' THEN NULL ELSE prev_value END, 0)
         |    END AS delta
         |  FROM l)
         |SELECT key, COUNT(*) AS n_changes, ${dsumSql("delta")} AS net_sum
         |FROM d GROUP BY key""".stripMargin,
    "cdc_truncate_reset" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id > 8000) t WHERE rn = 1""".stripMargin,
    "cdc_window_hourly" ->
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  COUNT(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin
  )
}
