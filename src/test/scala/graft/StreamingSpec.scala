package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ChangeLogStream, RawEvent, Scd2Out, StateOut}

/** Incoming ingestion record for the incremental-ANN microbatch test:
  * a document with its embedding, the unit a multimodal training
  * pipeline appends.
  */
case class IngestDoc(doc_id: Long, text: String, emb: Seq[Double])

/** Incoming vector for the streaming graph-edge append test. */
case class IngestVec(vec_id: Long, e: Seq[Double])

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, uid: Long, typ: String, v: Double = 1.0) =
    RawEvent(id, ts(minute), uid, typ, v, "{}")

  test("windowed agg with watermark drops too-late events") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.windowedCounts(in.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 5, 1, "click"), ev(2, 30, 1, "click"), ev(3, 59, 2, "view"))
      q.processAllAvailable()
      // advance watermark far past hour-0 (event at 02:30 → wm 02:20)
      in.addData(ev(4, 150, 1, "click"))
      q.processAllAvailable()
      // this event is in hour 0, far behind the watermark → dropped
      in.addData(ev(5, 10, 1, "click"))
      q.processAllAvailable()
      // close hour-2's window too so nothing is pending for assertion stability
      in.addData(ev(6, 300, 1, "click"))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(rows.contains((Timestamp.valueOf("2024-01-01 00:00:00"), "click", 2L)),
        s"late event must NOT be counted; got $rows")
      assert(rows.contains((Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1L)))
    } finally q.stop()
  }

  test("windowed HLL distinct users: split-invariant, equals batch sketch, bounded error") {
    // bounded-state distinct counting: the streaming result must not
    // depend on HOW the log splits into micro-batches (sketch-union
    // merge law), must equal the batch sketch over the full log, and
    // must sit within the lgK=12 accuracy envelope of the exact count.
    import org.apache.spark.sql.functions.{col, countDistinct, hll_sketch_agg, hll_sketch_estimate, window}
    implicit val sqlCtx = spark.sqlContext
    val log = (1 to 400).map { i =>
      // ~160 distinct users spread over two hour windows, two types
      ev(i.toLong, if (i <= 200) i % 50 else 60 + i % 50, (i % 160).toLong,
        if (i % 3 == 0) "view" else "click")
    }
    val closer = ev(999, 600, 9999, "click") // advances watermark past both
    def run(splits: Seq[Seq[RawEvent]], name: String): Map[(Timestamp, String), Long] = {
      val in = MemoryStream[RawEvent]
      val q = ChangeLogStream.windowedDistinctHll(in.toDF(), "1 hour", "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        splits.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        in.addData(closer); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).select($"window_start", $"event_type", $"approx_users")
        .as[(Timestamp, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    val oneShot = run(Seq(log), "hll_a")
    val manySplit = run(log.grouped(37).toSeq, "hll_b")
    assert(oneShot === manySplit,
      "windowed HLL estimates must be invariant to micro-batch splits")
    // batch reference: same sketch over the full log, exact alongside
    val batch = spark.createDataset(log).toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("est"),
        countDistinct(col("user_id")).as("exact"))
      .select($"window.start", $"event_type", $"est", $"exact")
      .as[(Timestamp, String, Long, Long)].collect()
    assert(batch.nonEmpty)
    batch.foreach { case (ws, t, est, exact) =>
      assert(oneShot((ws, t)) === est,
        s"stream must equal batch sketch for ($ws, $t)")
      assert(math.abs(est - exact).toDouble <= 0.06 * exact,
        s"estimate $est outside ±6% of exact $exact for ($ws, $t)")
    }
  }

  test("dropDuplicatesWithinWatermark suppresses replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.dedupWithinWatermark(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, 1, "insert"), ev(1, 1, 1, "insert"), ev(2, 2, 1, "update"))
      q.processAllAvailable()
      in.addData(ev(2, 2, 1, "update"), ev(3, 3, 2, "insert")) // replay of 2
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stateful latest-state applies LSN order, tombstones, re-insert") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.latestStatePerKey(in.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 1, 1, "signup", 10), ev(2, 2, 1, "click", 20))
      q.processAllAvailable()
      in.addData(ev(3, 3, 2, "signup", 5), ev(4, 4, 1, "error")) // delete u1
      q.processAllAvailable()
      in.addData(ev(2, 2, 1, "click", 20)) // stale replay — must be ignored
      q.processAllAvailable()
      in.addData(ev(5, 5, 1, "signup", 99)) // re-insert after tombstone
      q.processAllAvailable()
      val last = spark.table("state_out").as[StateOut].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.event_id)).toMap
      assert(last(1L) === StateOut(1L, 5L, "signup", 99.0, deleted = false))
      assert(last(2L) === StateOut(2L, 3L, "signup", 5.0, deleted = false))
      val u1Emissions = spark.table("state_out").as[StateOut].collect()
        .filter(_.user_id == 1L).map(_.event_id).sorted
      assert(u1Emissions.toSeq === Seq(1L, 2L, 4L, 5L), "stale replay must not re-emit")
    } finally q.stop()
  }

  test("streaming SCD2 intervals converge to the batch window formulation") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lead, row_number}
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.scd2PerKey(in.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Update).start()
    val events = Seq(
      ev(1, 1, 1, "signup", 10), ev(2, 2, 1, "click", 20),
      ev(3, 3, 2, "signup", 5))
    val later = Seq(
      ev(5, 5, 1, "purchase", 30), ev(2, 2, 1, "click", 20), // stale replay
      ev(6, 6, 2, "error"))
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(later: _*)
      q.processAllAvailable()
      // Update-mode sink semantics: latest emission per (user_id, version)
      val streamed = spark.table("scd2_out").as[Scd2Out].collect()
        .groupBy(r => (r.user_id, r.version)).values
        .map(_.maxBy(r => (r.valid_to_lsn.isDefined, r.valid_from_lsn)))
        .map(r => (r.user_id, r.version, r.value, r.valid_from_lsn,
          r.valid_to_lsn.getOrElse(-1L), r.is_current))
        .toSet
      // the batch formulation over the SAME (deduped) event set
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val batch = (events ++ later).distinct.toDF()
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to_lsn", lead("event_id", 1).over(w))
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("version"),
          r.getAs[Double]("value"), r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("valid_to_lsn")).map(_.toLong).getOrElse(-1L),
          r.isNullAt(r.fieldIndex("valid_to_lsn"))))
        .toSet
      assert(streamed === batch,
        "incremental interval maintenance must equal the batch window")
      // exactly one open interval per key
      val open = streamed.filter(_._6)
      assert(open.map(_._1) === Set(1L, 2L))
    } finally q.stop()
  }

  test("file-stream source: changelog directory drives the same pipeline") {
    // S3/S5 analog: the change log lands as files; readStream picks them
    // up incrementally and the latest-state operator consumes unchanged.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_filestream").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, ts(1), 1L, "signup", 5.0, "{}"),
      org.apache.spark.sql.Row(2L, ts(2), 1L, "click", 6.0, "{}"),
      org.apache.spark.sql.Row(3L, ts(3), 2L, "signup", 7.0, "{}"))), schema)
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[RawEvent]
    val q = ChangeLogStream.latestStatePerKey(stream)
      .writeStream.format("memory").queryName("file_state_out")
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val last = spark.table("file_state_out").as[StateOut].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.event_id)).toMap
      assert(last(1L).event_id === 2L && last(2L).event_id === 3L)
    } finally q.stop()
  }

  test("stream-static join enriches the changelog with a dimension") {
    // D5 at runtime: the relation-registry lookup as a broadcast join
    // between the live stream and a static dimension table.
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[RawEvent]
    val q = in.toDF().join(dim, Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, 1, "click"), ev(2, 2, 2, "click"), ev(3, 3, 9, "click"))
      q.processAllAvailable()
      val tiers = spark.table("enrich_out")
        .select($"user_id", $"tier").as[(Long, Option[String])]
        .collect().toMap
      assert(tiers === Map(1L -> Some("gold"), 2L -> Some("basic"), 9L -> None))
    } finally q.stop()
  }

  test("streaming session windows close after the gap + watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{session_window, col, count}
    val in = MemoryStream[RawEvent]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(col("*")).as("n"))
      .select(col("session_window.start").as("s"), col("user_id"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // two bursts for u1 separated by > 30 min → two sessions
      in.addData(ev(1, 0, 1, "click"), ev(2, 10, 1, "click"), ev(3, 60, 1, "click"))
      q.processAllAvailable()
      in.addData(ev(4, 300, 1, "click")) // advance watermark to close them
      q.processAllAvailable()
      in.addData(ev(5, 600, 9, "click")) // close u1's third session too
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select($"user_id", $"n").as[(Long, Long)].collect()
        .filter(_._1 == 1L).map(_._2).sorted
      assert(rows.toSeq === Seq(1L, 1L, 2L),
        s"expected sessions of 2,1,1 events for u1; got $rows")
    } finally q.stop()
  }

  test("sessionizer: a user returning AFTER a timeout continues numbering, not session_id 0") {
    // The EventTimeTimeout closes an inactive user's open session. If
    // the timeout also dropped the user's state, a comeback would
    // restart at session_id 0 — a duplicate id that diverges from the
    // batch numbering. The timeout instead leaves an n=0 numbering
    // marker, so the comeback session must arrive as session_id 1.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.sessionizePerUser(in.toDS(), 30, "10 minutes")
      .writeStream.format("memory").queryName("sess_comeback")
      .outputMode(OutputMode.Append).start()
    try {
      // u1 session 0 (2 events), then u9 traffic far ahead advances the
      // watermark past u1's gap + timeout...
      in.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "click"))
      q.processAllAvailable()
      in.addData(ev(3, 300, 9, "click"))
      q.processAllAvailable()
      in.addData(ev(4, 310, 9, "click")) // second trigger fires the timeout
      q.processAllAvailable()
      val afterTimeout = spark.table("sess_comeback")
        .filter($"user_id" === 1L)
        .select($"session_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(afterTimeout === Set((0L, 2L)),
        s"u1's first session should close by timeout as id 0; got $afterTimeout")
      // ...u1 RETURNS (minute 320, within u9's watermark) → new session;
      // close it via the in-data gap rule with a much later u1 event.
      in.addData(ev(5, 320, 1, "click"), ev(6, 321, 1, "click"))
      q.processAllAvailable()
      in.addData(ev(7, 700, 1, "click")) // gap > 30 min closes the comeback
      q.processAllAvailable()
      val all = spark.table("sess_comeback")
        .filter($"user_id" === 1L)
        .select($"session_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(all === Set((0L, 2L), (1L, 2L)),
        s"comeback must continue at session_id 1; got $all")
    } finally q.stop()
  }

  test("stateful sessionizer converges to the batch window_sessionize table on real events") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    // real corpus slice: every event of a handful of users, LSN order
    val users = (1L to 8L).toSet
    val real = graft.sources.Tables.events(spark, sfDir)
      .filter(col("user_id").isin(users.toSeq: _*))
      .as[RawEvent].collect().sortBy(_.event_id)
    assert(real.nonEmpty)
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.sessionizePerUser(in.toDS(), 30, "10 minutes")
      .writeStream.format("memory").queryName("sessionize_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(real.toIndexedSeq)
      q.processAllAvailable()
      // sentinel far past every session + gap: advances the watermark...
      val far = new Timestamp(real.map(_.ts.getTime).max + 86400000L)
      in.addData(RawEvent(real.map(_.event_id).max + 1, far, 999999L, "click", 0, "{}"))
      q.processAllAvailable()
      // ...and a second trigger fires the EventTimeTimeouts it armed
      in.addData(RawEvent(real.map(_.event_id).max + 2, far, 999999L, "click", 0, "{}"))
      q.processAllAvailable()
      val got = spark.table("sessionize_out")
        .filter(col("user_id") =!= 999999L)
        .select($"user_id", $"session_id", $"n_events", $"session_start", $"session_end")
        .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
      val want = graft.operators.RelationalExt.queries("window_sessionize")(spark, sfDir)
        .filter(col("user_id").isin(users.toSeq: _*))
        .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
      assert(got === want,
        s"stream-closed sessions must equal batch rows; missing=${want -- got} extra=${got -- want}")
      // non-vacuous: the slice must contain a multi-session user
      assert(want.exists(_._2 > 0), "expected a user with >1 session in the slice")
    } finally q.stop()
  }

  test("stream-stream join: purchase pairs with clicks at most 1h older") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.expr
    val clicks = MemoryStream[RawEvent]
    val purchases = MemoryStream[RawEvent]
    val c = clicks.toDF()
      .selectExpr("user_id AS c_user", "event_id AS click_id", "ts AS click_ts")
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.toDF()
      .selectExpr("user_id AS p_user", "event_id AS purchase_id", "ts AS purchase_ts")
      .withWatermark("purchase_ts", "10 minutes")
    val joined = p.join(c, expr(
      """p_user = c_user AND purchase_ts >= click_ts
        |AND purchase_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(ev(1, 1, 1, "click"))
      purchases.addData(ev(2, 30, 1, "purchase"), // 29 min after click → joins
        ev(3, 200, 1, "purchase"))                // >1h after click → no match
      q.processAllAvailable()
      val pairs = spark.table("ssj_out")
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(pairs === Set((2L, 1L)))
    } finally q.stop()
  }

  test("transformWithState latest-state matches the FMGWS formulation") {
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[RawEvent]
      val q = ChangeLogStream.latestStatePerKeyTws(in.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(ev(1, 1, 1, "signup", 5.0), ev(3, 3, 1, "click", 7.0),
          ev(2, 2, 1, "view", 6.0)) // out-of-order within the batch
        q.processAllAvailable()
        in.addData(ev(2, 2, 1, "view", 6.0)) // stale replay: ignored
        in.addData(ev(4, 4, 2, "error", 0.0))
        q.processAllAvailable()
        val out = spark.table("tws_out").as[StateOut].collect()
        val latest = out.groupBy(_.user_id).view.mapValues(_.maxBy(_.event_id)).toMap
        assert(latest(1L).event_id === 3L && latest(1L).value === 7.0)
        assert(latest(2L).deleted, "tombstone flag must surface")
        assert(!out.exists(o => o.user_id == 1L && o.event_id == 2L && out.count(x =>
          x.user_id == 1L && x.event_id == 2L) > 1), "stale replay must not re-emit")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("streaming SpaceSaving heavy hitters: bounded state, guarantees hold vs exact counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.HeavyHitter
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[RawEvent]
      // the report of record is the LAST batch's emission (Update
      // semantics): capture per-batch, not the memory sink's union
      val lastBatch = new java.util.concurrent.atomic.AtomicReference[Array[HeavyHitter]](Array.empty)
      // capacity 8 counters against 40 distinct users → real evictions
      val q = ChangeLogStream.heavyHittersPerType(in.toDS(), capacity = 8, k = 8)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[HeavyHitter], _: Long) =>
          val rows = batch.collect()
          if (rows.nonEmpty) lastBatch.set(rows); ()
        }
        .outputMode(OutputMode.Update).start()
      try {
        // skewed stream: user u occurs 50-u times for u in 1..40, + a
        // burst of 60 for user 7 — clear heavy hitters at 7, 1, 2, 3
        var id = 0L
        val data = (1L to 40L).flatMap(u =>
          Seq.fill((50 - u).toInt)(u)) ++ Seq.fill(60)(7L)
        val shuffled = data.zipWithIndex // deterministic interleave
          .sortBy { case (u, i) => (i % 7, i) }.map(_._1)
        shuffled.grouped(200).foreach { chunk =>
          in.addData(chunk.map { u => id += 1; ev(id, 1, u, "click") })
          q.processAllAvailable()
        }
        val fin = lastBatch.get().filter(_.event_type == "click")
          .map(h => h.user_id -> h).toMap
        assert(fin.size <= 8, "at most capacity counters emitted")
        val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
        // guarantee 1: per tracked item, true <= est <= true + err
        fin.foreach { case (u, h) =>
          assert(h.est_count >= exact(u), s"u$u must not undercount")
          assert(h.est_count - h.err <= exact(u),
            s"u$u err bound: est=${h.est_count} err=${h.err} true=${exact(u)}")
        }
        // guarantee 2: any item with true count > N/capacity is tracked
        val n = data.size
        exact.filter(_._2 > n / 8).keys.foreach(u =>
          assert(fin.contains(u), s"guaranteed heavy hitter u$u missing"))
        // the burst user must rank first
        assert(fin.maxBy(_._2.est_count)._1 === 7L)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("TTL state expiry: idle keys drop, fresh events re-create state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream
      .latestStatePerKeyWithTTL(in.toDS(), "10 minutes", ttlMs = 60L * 60 * 1000)
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(10, 0, 1, "signup"))
      q.processAllAvailable()
      in.addData(ev(5, 1, 1, "click")) // stale (lower LSN): state ignores it
      q.processAllAvailable()
      // advance watermark far past key 1's TTL (t0 + 1h); timeout fires
      in.addData(ev(100, 300, 2, "signup"))
      q.processAllAvailable()
      // key 1's state is GONE, so this lower-LSN event now applies fresh
      in.addData(ev(6, 299, 1, "click"))
      q.processAllAvailable()
      val uid1 = spark.table("ttl_out").as[StateOut].collect()
        .filter(_.user_id == 1L).map(_.event_id).sorted.toSeq
      assert(uid1 === Seq(6L, 10L),
        s"expected initial(10) + post-expiry(6), stale(5) ignored; got $uid1")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[RawEvent]
    val buys = MemoryStream[RawEvent]
    val c = clicks.toDF().selectExpr("user_id AS c_uid", "event_id AS click_id", "ts AS c_ts")
      .withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().selectExpr("user_id AS b_uid", "event_id AS buy_id", "ts AS b_ts")
      .withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      org.apache.spark.sql.functions.expr(
        "c_uid = b_uid AND b_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ss_outer")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(ev(1, 0, 1, "click"), ev(2, 5, 2, "click"))
      buys.addData(ev(100, 30, 1, "purchase"))
      q.processAllAvailable()
      // push BOTH watermarks far past click-2's join window (+1h+10m)
      clicks.addData(ev(3, 300, 9, "click"))
      buys.addData(ev(101, 300, 9, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("ss_outer")
        .selectExpr("c_uid", "click_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSet
      assert(rows.contains((1L, 1L, 100L)), s"matched pair missing: $rows")
      assert(rows.contains((2L, 2L, -1L)),
        s"unmatched click must surface with null buy after watermark: $rows")
    } finally q.stop()
  }

  test("retention sink: tombstone inside horizon retained, outside purged, re-insert after purge") {
    // the compact+delete policy (ChangeLog.tombstoneHorizon) wired into
    // the bucketed upsert: head=100 ⇒ horizon 75; a tombstone at 40 is
    // purged on the rewrite, one at 90 survives, and a later re-insert
    // of the purged key materializes normally.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_retention").toString + "/state"
    val sink = ChangeLogStream.retentionUpsertBatch(
      dir, Seq("user_id"), "event_id",
      org.apache.spark.sql.functions.col("event_type") === "delete", 4) _
    def state(): Map[Long, (Long, String)] =
      ChangeLogStream.readState(spark, dir)
        .select($"user_id", $"event_id", $"event_type")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    sink(Seq(ev(10, 1, 1, "signup"), ev(20, 2, 2, "signup"),
      ev(30, 3, 3, "signup")).toDF(), 0L)
    assert(state().keySet === Set(1L, 2L, 3L))
    // deletes at LSN 40 (key 1) and 90 (key 2); head row advances to 100
    sink(Seq(ev(40, 4, 1, "delete"), ev(90, 5, 2, "delete"),
      ev(95, 6, 3, "click"), ev(100, 7, 4, "signup")).toDF(), 1L)
    val s1 = state()
    assert(!s1.contains(1L), "tombstone at 40 <= horizon 75 must purge")
    assert(s1(2L) === ((90L, "delete")),
      "tombstone at 90 > horizon 75 must be retained")
    assert(s1(3L) === ((95L, "click")) && s1(4L) === ((100L, "signup")))
    // re-insert of the purged key at a fresh LSN materializes normally
    sink(Seq(ev(105, 8, 1, "signup")).toDF(), 2L)
    assert(state()(1L) === ((105L, "signup")))
    // advance head to 200 (horizon 150) AND touch key 2's bucket with a
    // stale replay (LSN 15 < its tombstone): the rewrite re-compacts
    // and now purges the 90-tombstone — the key vanishes entirely
    sink(Seq(ev(200, 9, 6, "signup"), ev(15, 10, 2, "signup")).toDF(), 3L)
    val s3 = state()
    assert(!s3.contains(2L),
      "tombstone at 90 <= horizon 150 must purge when its bucket rewrites")
    assert(s3(6L) === ((200L, "signup")))
  }

  test("AvailableNow file ingest resumes from checkpoint, not from zero") {
    // A2 analog done right: the reference checkpoints its LSN every ~10 s
    // (lossy); Structured Streaming's checkpointLocation records exact
    // per-batch file offsets. Two separate query runs share a checkpoint:
    // the second run must process ONLY files added after the first.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_availnow").toString
    val (inDir, ckpt, state) = (s"$base/in", s"$base/ckpt", s"$base/state")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.synchronized { seen += batch.count() }
          ChangeLogStream.upsertBatch(state, Seq("user_id"), "event_id")(batch, id)
        }
        .start()
      q.awaitTermination()
    }
    writeFiles(Seq(
      org.apache.spark.sql.Row(1L, ts(1), 1L, "signup", 5.0, "{}"),
      org.apache.spark.sql.Row(2L, ts(2), 1L, "click", 6.0, "{}"),
      org.apache.spark.sql.Row(3L, ts(3), 2L, "signup", 7.0, "{}")))
    run()
    val firstRun = seen.sum
    assert(firstRun === 3L)
    writeFiles(Seq(
      org.apache.spark.sql.Row(4L, ts(4), 2L, "click", 9.0, "{}")))
    run()
    assert(seen.sum - firstRun === 1L,
      s"second run must read only the new file; batches=$seen")
    val finalState = spark.read.parquet(state)
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().toSet
    assert(finalState === Set((1L, 2L, 6.0), (2L, 4L, 9.0)))
  }

  test("end-to-end dataflow: stream → wire → publication → logged upsert == batch") {
    // the whole reference pipeline in one streaming query: raw change
    // stream → envelope → Kafka message bytes → consumer-side parse →
    // publication filter (only the users table is subscribed) → logged
    // idempotent upsert. The materialized state must equal the batch
    // computation over the same (published) events, and the log must
    // hold one progress record per microbatch.
    import graft.pipeline.{Envelope, Publication}
    import org.apache.spark.sql.functions.{col, when}
    val base = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val table = s"$base/state"
    val logs = s"$base/logs"
    val pub = Publication.Spec("pub_users", Seq("public.users"))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val env = Envelope.toCdcEventsStreaming(batch)
        // demux lifecycle ops to "users", activity to "activity" (D12)
        val routed = env.toDF()
          .withColumn("tableName",
            when(col("op").isin("insert", "delete"), "users")
              .otherwise("activity"))
          .as[graft.model.CdcEvent]
        val parsed = Envelope.fromKafkaMessages(Envelope.toKafkaMessages(routed))
        ChangeLogStream.loggedUpsertBatch(table, logs, Seq("key"), "lsn")(
          Publication.feed(parsed.toDF(), pub), id)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      in.addData(ev(1, 1, 1, "signup", 5.0), ev(2, 2, 1, "click", 6.0),
        ev(3, 3, 2, "signup", 7.0))
      q.processAllAvailable()
      in.addData(ev(4, 4, 2, "error"), ev(5, 5, 3, "signup", 9.0))
      q.processAllAvailable()
    } finally q.stop()
    // published subset = users table = insert/delete ops only; latest
    // per key: u1→lsn1 insert (click went to the unsubscribed table),
    // u2→lsn4 delete, u3→lsn5 insert
    val state = spark.read.parquet(table)
      .select($"key", $"lsn", $"op").as[(String, Long, String)]
      .collect().toSet
    assert(state === Set(
      ("public.users:1", 1L, "insert"),
      ("public.users:2", 4L, "delete"),
      ("public.users:3", 5L, "insert")))
    // one log record per microbatch, counting only PUBLISHED rows
    val log = graft.ops.LogSink.read(spark, logs).collect().sortBy(_.batchId)
    assert(log.map(r => (r.nRows, r.firstLsn, r.lastLsn)).toSeq ===
      Seq((2L, 1L, 3L), (2L, 4L, 5L)))
  }

  test("maxFilesPerTrigger bounds each microbatch (C2 poll-loop analog)") {
    // the reference polls with a 5 s receive timeout (C2); the file
    // source's per-trigger cap is the backpressure knob that keeps one
    // microbatch from swallowing an arbitrarily large backlog
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_ratelim").toString
    val inDir = s"$base/in"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    (1 to 3).foreach { i =>
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(i.toLong, ts(i), i.toLong, "click", 1.0, "{}"))), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }; ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batchSizes.size === 3 && batchSizes.forall(_ == 1L),
      s"3 files with cap 1 must become 3 single-row batches: $batchSizes")
  }

  test("streaming ingestion near-dedup against a standing corpus == batch incremental") {
    // The LLM-pipeline ingestion shape: docs arrive as a stream, each
    // microbatch is one incremental snapshot probed against the standing
    // corpus band index (Dedup.incrementalMatches inside foreachBatch).
    // Splitting the incoming set across TWO microbatches must yield
    // exactly the batch dedup_incremental result — per-doc signatures
    // make the bipartite probe batch-size-invariant.
    import org.apache.spark.sql.functions.{col, md5, substring}
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val incomingSide = substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin("0", "1", "2")
    val corpus = docs.filter(!incomingSide)
    val incoming = docs.filter(incomingSide)
      .as[(Long, String)].collect().sortBy(_._1)
    val (half1, half2) = incoming.splitAt(incoming.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val m = graft.operators.Dedup.incrementalMatches(corpus, b)
          .select("doc_a", "doc_b").as[(Long, Long)].collect()
        got.synchronized { got ++= m }; ()
      }
      .start()
    try {
      in.addData(half1.toIndexedSeq); q.processAllAvailable()
      in.addData(half2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val expected = SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.toSet === expected, s"stream=${got.toSet} batch=$expected")
    assert(expected.nonEmpty, "test corpus must contain cross-split near-dups")
  }

  test("keyed state survives a query RESTART via the checkpoint") {
    // A2 for STATE, not just offsets: the reference persists only an
    // LSN; our state store checkpoints the per-key latest state itself.
    // Run 1 sets key 1 to LSN 10; run 2 (new query object, same
    // checkpoint) must still ignore a stale LSN-5 event.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_stateckpt").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[StateOut]
    def run(): Unit = {
      // memory sink can't recover from a checkpoint; foreachBatch can
      val q = ChangeLogStream.latestStatePerKey(
        spark.readStream.schema(schema).parquet(inDir).as[RawEvent])
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StateOut], _: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Update).start()
      q.awaitTermination()
    }
    writeFiles(Seq(org.apache.spark.sql.Row(10L, ts(1), 1L, "signup", 5.0, "{}")))
    run()
    writeFiles(Seq(
      org.apache.spark.sql.Row(5L, ts(2), 1L, "click", 9.0, "{}"), // stale LSN
      org.apache.spark.sql.Row(11L, ts(3), 2L, "signup", 7.0, "{}")))
    run()
    assert(!emitted.exists(o => o.user_id == 1L && o.event_id == 5L),
      s"stale LSN must be ignored because restored state knows LSN 10: ${emitted.toSeq}")
    assert(emitted.exists(_.user_id == 2L), s"fresh key must emit: ${emitted.toSeq}")
    assert(emitted.exists(o => o.user_id == 1L && o.event_id == 10L))
  }

  test("SCD2 open interval survives a query RESTART and closes correctly") {
    // the open interval IS the state: after a restart, the next change
    // must close the interval opened before the restart with the right
    // version number — proving history continuity across failures.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_scd2ckpt").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
    def run(): Unit = {
      val q = ChangeLogStream.scd2PerKey(
        spark.readStream.schema(schema).parquet(inDir).as[RawEvent])
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Scd2Out], _: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Update).start()
      q.awaitTermination()
    }
    writeFiles(Seq(org.apache.spark.sql.Row(10L, ts(1), 1L, "signup", 5.0, "{}")))
    run()
    writeFiles(Seq(org.apache.spark.sql.Row(20L, ts(2), 1L, "click", 9.0, "{}")))
    run()
    // run 2 must emit v1 CLOSED at exactly LSN 20 (state restored) + v2 open
    assert(emitted.exists(o => o.version == 1 && o.valid_to_lsn.contains(20L)
      && !o.is_current), s"v1 must close at the restart-crossing change: ${emitted.toSeq}")
    assert(emitted.exists(o => o.version == 2 && o.valid_from_lsn == 20L
      && o.is_current), s"v2 must open: ${emitted.toSeq}")
  }

  test("open session survives a query RESTART: gap close and timeout close stay exact") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SessionOut
    val base = java.nio.file.Files.createTempDirectory("graft_sessckpt").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    def run(): Unit = {
      val q = ChangeLogStream.sessionizePerUser(
        spark.readStream.schema(schema).parquet(inDir).as[RawEvent])
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Append).start()
      q.awaitTermination()
    }
    // run 1: session 0 of user 1 opens with two events
    writeFiles(Seq(
      org.apache.spark.sql.Row(1L, ts(0), 1L, "click", 1.0, "{}"),
      org.apache.spark.sql.Row(2L, ts(10), 1L, "click", 1.0, "{}")))
    run()
    assert(emitted.isEmpty, "nothing closes while the session is open")
    // run 2 (restarted query): a >30min-later event must close session 0
    // from RESTORED state — right bounds, count, and session counter
    writeFiles(Seq(
      org.apache.spark.sql.Row(3L, ts(100), 1L, "click", 1.0, "{}"),
      org.apache.spark.sql.Row(4L, ts(3000), 999L, "click", 1.0, "{}")))
    run()
    assert(emitted.headOption.contains(SessionOut(1L, 0L, 2L, ts(0), ts(10))),
      s"gap close across restart: ${emitted.toSeq}")
    // the watermark the sentinel advanced has passed session 1 + gap →
    // the armed EventTimeTimeout closes it with the NEXT counter value
    // (AvailableNow may fire it in run 2's trailing batch or need one
    // more trigger — either is correct; force the extra trigger)
    writeFiles(Seq(
      org.apache.spark.sql.Row(5L, ts(3001), 999L, "click", 1.0, "{}")))
    run()
    assert(emitted.exists(o => o.user_id == 1L && o.session_id == 1L &&
      o.n_events == 1L && o.session_start == ts(100) && o.session_end == ts(100)),
      s"timeout close across restart: ${emitted.toSeq}")
  }

  test("stream-stream interval join equals the batch attribution join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = MemoryStream[RawEvent]
    val purchases = MemoryStream[RawEvent]
    val q = ChangeLogStream.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    val clickRows = Seq(
      ev(1, 10, 1, "click"), ev(2, 30, 1, "click"),
      ev(3, 10, 2, "click"), ev(4, 50, 3, "click"))
    val purchaseRows = Seq(
      ev(10, 12, 1, "purchase", 5.0),   // ← click 1 (2 min later)
      ev(11, 33, 1, "purchase", 7.0),   // ← click 2 only (23 min after click 1)
      ev(12, 40, 2, "purchase", 9.0),   // 30 min after click 3: outside horizon
      ev(13, 49, 3, "purchase", 1.0))   // 1 min BEFORE click 4: no match
    try {
      in2(clicks, clickRows); in2(purchases, purchaseRows)
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("click_id", "purchase_id", "purchase_value")
        .as[(Long, Long, Double)].collect().toSet
      // the batch formulation of the same interval predicate
      val batch = clickRows.toDF().as("c").join(purchaseRows.toDF().as("p"),
        expr("""c.user_id = p.user_id AND p.ts >= c.ts AND
                p.ts <= c.ts + interval 5 minutes"""))
        .select(col("c.event_id"), col("p.event_id"), col("p.value"))
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed === batch, "stream-stream join must equal batch join")
      assert(streamed === Set((1L, 10L, 5.0), (2L, 11L, 7.0)),
        "horizon and ordering constraints must both bind")
    } finally q.stop()
  }

  test("stream-stream join state is bounded: watermark evicts expired clicks") {
    // the 100 TB argument made observable: after the watermark passes
    // click_ts + horizon + delay, the buffered click is GONE from the
    // state store — a late purchase inside its horizon no longer joins.
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[RawEvent]
    val purchases = MemoryStream[RawEvent]
    val q = ChangeLogStream.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_evict")
      .outputMode(OutputMode.Append).start()
    try {
      in2(clicks, Seq(ev(1, 10, 1, "click")))
      in2(purchases, Seq(ev(10, 11, 9, "purchase"))) // unrelated user, advances wm
      q.processAllAvailable()
      // advance BOTH watermarks far past click 1's eviction point
      in2(clicks, Seq(ev(2, 500, 8, "click")))
      in2(purchases, Seq(ev(11, 500, 9, "purchase")))
      q.processAllAvailable()
      // a purchase that WOULD have matched click 1 arrives way late
      in2(purchases, Seq(ev(12, 12, 1, "purchase", 5.0)))
      q.processAllAvailable()
      val matched = spark.table("attr_evict")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(!matched.contains((1L, 12L)),
        "expired click state must be evicted, not kept forever")
      // sanity: the machinery does match in-horizon pairs (the first
      // assert isn't vacuously passing on a broken join)
      in2(purchases, Seq(ev(13, 501, 8, "purchase", 2.0)))
      q.processAllAvailable()
      assert(spark.table("attr_evict")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
        .contains((2L, 13L)))
    } finally q.stop()
  }

  private def in2(s: MemoryStream[RawEvent], rows: Seq[RawEvent]): Unit =
    s.addData(rows: _*)

  test("streaming SCD2 through the bucketed sink equals batch cdc_scd2_intervals") {
    // end-to-end: scd2PerKey emissions → scd2UpsertBatch (keyed on
    // (user_id, version)) must leave the sink holding EXACTLY the batch
    // history table — every closed interval's re-emission upserting
    // over its earlier open form, including pairs split across
    // micro-batches AND pairs inside one batch.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val sfDir = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2sink").toString + "/hist"
    val in = MemoryStream[RawEvent]
    val q = ChangeLogStream.scd2PerKey(in.toDS())
      .writeStream
      .foreachBatch(ChangeLogStream.scd2UpsertBatch(dir, numBuckets = 4) _)
      .outputMode(OutputMode.Update).start()
    try {
      // the real corpus, delivered in LSN order split across two
      // batches: intervals opened in batch 1 close in batch 2
      val events = sources.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .as[RawEvent].collect().sortBy(_.event_id)
      val (first, second) = events.splitAt(events.length / 2)
      in.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("version").cast("int"), col("op"),
        col("value"), col("valid_from_lsn"),
        coalesce(col("valid_to_lsn"), lit(-1L)).as("valid_to_lsn"),
        col("is_current"))
      .as[(Long, Int, String, Double, Long, Long, Boolean)].collect().toSet
    val sunk = canon(ChangeLogStream.readState(spark, dir)
      .withColumn("op", when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete").otherwise("update")))
    val batch = canon(SparkEntry.queries("cdc_scd2_intervals")(spark, sfDir))
    assert(sunk === batch,
      "incrementally maintained history must equal the batch SCD2 table")
  }

  test("retention sink runs end-to-end under a streaming query") {
    // the directive-4 wiring proven through the actual writeStream →
    // foreachBatch path, not direct sink calls: microbatch boundaries
    // decide head advancement, so this also pins the cross-batch
    // monotonic-head behavior under Structured Streaming's delivery.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ret_e2e").toString + "/state"
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch(ChangeLogStream.retentionUpsertBatch(
        dir, Seq("user_id"), "event_id",
        org.apache.spark.sql.functions.col("event_type") === "error", 4) _)
      .outputMode(OutputMode.Append).start()
    def state(): Map[Long, String] =
      ChangeLogStream.readState(spark, dir)
        .select($"user_id", $"event_type").as[(Long, String)]
        .collect().toMap
    try {
      in.addData(ev(10, 1, 1, "signup", 1), ev(20, 2, 2, "signup", 1))
      q.processAllAvailable()
      assert(state().keySet === Set(1L, 2L))
      // delete key 1 at LSN 40, head moves to 100 ⇒ horizon 75: purged
      in.addData(ev(40, 3, 1, "error", 0), ev(100, 4, 3, "signup", 1))
      q.processAllAvailable()
      val s = state()
      assert(!s.contains(1L), "expired tombstone purged in-stream")
      assert(s(2L) === "signup" && s(3L) === "signup")
      // delete key 2 at LSN 90 (> horizon 75): tombstone retained
      in.addData(ev(90, 5, 2, "error", 0))
      q.processAllAvailable()
      assert(state()(2L) === "error", "young tombstone survives as a row")
    } finally q.stop()
  }

  test("truncate event clears relation state and fences stale replays") {
    // the production sink applies the TRUNCATE the reference only logs
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(
          usersWire(b, truncates = Seq(5L)), id)
        ()
      }
      .outputMode(OutputMode.Append).start()
    def state(): Set[(Long, Long)] = usersStore(base).map(r => (r._1, r._2))
    try {
      in.addData(ev(1, 1, 1, "signup", 10), ev(2, 2, 2, "signup", 7))
      q.processAllAvailable()
      assert(state() === Set((1L, 1L), (2L, 2L)))
      // TRUNCATE at LSN 5, carried on an arbitrary key — it applies to
      // the TABLE; the same batch already re-creates user 3 at LSN 6
      in.addData(ev(5, 3, 99, "truncate"), ev(6, 4, 3, "signup", 1))
      q.processAllAvailable()
      assert(state() === Set((3L, 6L)),
        "truncate must clear EVERY key, not just the carrier key's group")
      // a stale replay of pre-truncate history (LSN 1 < fence 5) must
      // not resurrect user 1; a fresh post-fence event re-creates user 2
      in.addData(ev(1, 1, 1, "signup", 10), ev(7, 5, 2, "click", 2))
      q.processAllAvailable()
      assert(state() === Set((3L, 6L), (2L, 7L)),
        "pre-fence replay resurrected cleared state")
      assert(usersStore(base).forall(!_._3), "no delete ran: no tombstone")
    } finally q.stop()
  }

  test("foreachBatch upsert sink is idempotent across replays") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/state"
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch(ChangeLogStream.upsertBatch(dir, Seq("user_id"), "event_id") _)
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, 1, "signup", 10), ev(2, 2, 2, "signup", 7))
      q.processAllAvailable()
      in.addData(ev(3, 3, 1, "click", 30))
      q.processAllAvailable()
      val afterTwo = spark.read.parquet(dir)
        .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
        .collect().toSet
      assert(afterTwo === Set((1L, 3L, 30.0), (2L, 2L, 7.0)))
      in.addData(ev(3, 3, 1, "click", 30), ev(1, 1, 1, "signup", 10)) // full replay
      q.processAllAvailable()
      val afterReplay = spark.read.parquet(dir)
        .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
        .collect().toSet
      assert(afterReplay === afterTwo, "replay must not change materialized state")
    } finally q.stop()
  }

  test("multi-table topology: one stream + one checkpoint fans out to N bucketed stores == batch") {
    // The reference's actual deployment shape: ONE replication topic,
    // the consumer demuxing every message to a per-table ES index named
    // from its (schema, table) (es_consumer/main.go:66-75). Here: one
    // file-stream changelog and one checkpoint; each microbatch routes
    // per table and upserts each slice into that table's OWN bucketed
    // store. The query restarts mid-stream (new query object, same
    // checkpoint). Every table's materialized state must equal batch
    // latest-state over the full log, and no store may hold a foreign
    // table's keys.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, split}
    import graft.pipeline.Envelope
    val base = java.nio.file.Files.createTempDirectory("graft_multitable").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the routing rule the publication side would implement: 3 logical
    // tables sharing one topic, key rewritten to the routed identity
    // ("schema.table:pk", replicator.go:374-379)
    def routed(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val env = Envelope.toCdcEventsStreaming(events).toDF()
      val uid = split(col("key"), ":").getItem(1).cast("long")
      env.withColumn("tableName", concat(lit("t"), pmod(uid, lit(3))))
        .withColumn("key", concat(lit("public."), col("tableName"), lit(":"), uid))
    }
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(inDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val env = routed(batch).persist()
          try {
            // the consumer's per-index write loop, batched: O(tables
            // present in the batch) driver-side names, never row data
            val tables = env.select("schemaName", "tableName").distinct()
              .collect().map(r => (r.getString(0), r.getString(1))).sorted
            tables.foreach { case (s0, t) =>
              ChangeLogStream.upsertBatch(s"$base/state/${s0}.$t",
                Seq("key"), "lsn", numBuckets = 4)(
                env.filter(col("schemaName") === s0 && col("tableName") === t), id)
            }
          } finally { env.unpersist(); () }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rnd = new scala.util.Random(0xF00D)
    def mkRows(ids: Range): Seq[org.apache.spark.sql.Row] = ids.map { i =>
      val typ = rnd.nextInt(4) match {
        case 0 => "signup" case 1 => "error" case _ => "click"
      }
      org.apache.spark.sql.Row(i.toLong, ts(i), (rnd.nextInt(12) + 1).toLong,
        typ, rnd.nextInt(50).toDouble, """{"k":"7"}""")
    }
    val first = mkRows(1 to 25)
    val second = mkRows(26 to 50)
    writeFiles(first); run()       // session 1
    writeFiles(second); run()      // RESTART: new query, same checkpoint
    // batch reference: same routing over the full log, latest per key
    val fullLog = spark.createDataFrame(
      spark.sparkContext.parallelize(first ++ second), schema)
    val batchLatest = graft.pipeline.ChangeLog
      .latestState(routed(fullLog), Seq("key"), "lsn")
      .select($"tableName", $"key", $"lsn", $"op")
      .as[(String, String, Long, String)].collect()
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(r => (r._2, r._3, r._4)).toSet }
    assert(batchLatest.keySet === Set("t0", "t1", "t2"),
      "corpus must populate all three routed tables")
    for (t <- Seq("t0", "t1", "t2")) {
      val store = spark.read.parquet(s"$base/state/public.$t")
        .select($"key", $"lsn", $"op").as[(String, Long, String)].collect().toSet
      assert(store === batchLatest(t), s"table $t: store drifted from batch")
      assert(store.forall(_._1.startsWith(s"public.$t:")),
        s"table $t: foreign keys leaked into the store")
    }
  }

  test("built-in session_window equals gap-islands sessionization (closed boundary pinned)") {
    // two formulations of the same operator must agree — and the test
    // pins the boundary semantic: Spark's session_window MERGES an
    // event at exactly prev+gap (adjacent [a, a+gap) intervals
    // coalesce, measured here), which is the same CLOSED boundary as
    // window_sessionize's islands (new session only when diff > gap).
    // The fixture includes an exactly-30:00 gap to prove the edge.
    import org.apache.spark.sql.functions.{col, count, lag, lit, max, min, session_window, sum, unix_micros, when}
    import org.apache.spark.sql.expressions.{Window => W}
    val rows = Seq(
      ev(1, 0, 1, "click"), ev(2, 10, 1, "click"), ev(3, 41, 1, "click"),
      ev(4, 70, 1, "click"), // 29-min gap: same session
      ev(5, 100, 1, "click"), // EXACTLY 30:00 after id 4 → still MERGES
      ev(6, 131, 1, "click"), // 31-min gap: new session
      ev(7, 5, 2, "view"), ev(8, 200, 2, "view"))
    val df = spark.createDataset(rows).toDF()
    val builtin = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), min("ts").as("s"), max("ts").as("e"))
      .select($"user_id", $"n", $"s", $"e")
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    val byUser = W.partitionBy("user_id").orderBy("ts", "event_id")
    val islands = df
      .withColumn("new_session", when(
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) >
          1800L * 1000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("new_session"))
        .over(byUser.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n"), min("ts").as("s"), max("ts").as("e"))
      .select($"user_id", $"n", $"s", $"e")
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    assert(builtin === islands)
    assert(builtin.contains((1L, 3L, ts(41), ts(100))),
      "the exactly-30:00 event must MERGE into the 00:41 session")
    assert(builtin.count(_._1 == 1L) === 3,
      "only the two 31-min gaps open new sessions for user 1")
  }

  /** Kafka wire bytes of raw events as table `public.users`: the
    * streaming envelope, with the events at `truncates` turned into
    * truncate envelopes and the envelopes `poison` selects cut 8 bytes
    * short, so that their JSON can never close.
    */
  private def usersWire(events: org.apache.spark.sql.DataFrame,
      truncates: Seq[Long] = Nil,
      poison: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(false))
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, struct, to_json, when}
    val env = graft.pipeline.Envelope.toCdcEventsStreaming(events).toDF()
      .withColumn("op", when(col("lsn").isin(truncates: _*), "truncate").otherwise(col("op")))
    env.select(col("key").cast("binary").as("k2"),
        to_json(struct(env.columns.map(col): _*)).as("w"), poison.as("cut"))
      .select(col("k2").as("key"),
        when(col("cut"), expr("substring(w, 1, length(w) - 8)"))
          .otherwise(col("w")).cast("binary").as("value"))
  }

  /** (user, state LSN, tombstone) of every row of the production store
    * of table `public.users` under `base`. */
  private def usersStore(base: String): Set[(Long, Long, Boolean)] = {
    import org.apache.spark.sql.functions.{col, split}
    ChangeLogStream.readState(spark, s"$base/state/public.users")
      .select(split(col("key"), ":").getItem(1).cast("long"), col("state_lsn"),
        col("tombstone"))
      .as[(Long, Long, Boolean)].collect().toSet
  }

  test("dead-letter tee: poisoned wire bytes land in the DLQ exactly once, never in state") {
    // C3's error path under a live streaming query: wire messages whose
    // lsn % 3 == 0 lose their last 8 bytes (the JSON object can never
    // close, so the consumer decode MUST fail). The production sink must
    // (a) commit exactly the decodable remainder as state, (b) ledger
    // exactly the poisoned originals with batch provenance, (c) stay
    // idempotent when foreachBatch replays a batch after a crash.
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_dlq").toString
    val delayUs = 10L * 60 * 1000000
    def wire(b: org.apache.spark.sql.DataFrame) = usersWire(b, poison = col("lsn") % 3 === 0)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        ChangeLogStream.fullProductionBatch(base, delayUs)(wire(batch), id)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val second = Seq(ev(4, 4, 2, "click", 8.0), ev(5, 5, 3, "signup", 9.0),
      ev(6, 6, 3, "error"))
    try {
      in.addData(ev(1, 1, 1, "signup", 5.0), ev(2, 2, 2, "signup", 6.0),
        ev(3, 3, 1, "click", 7.0)) // lsn 3 poisoned
      q.processAllAvailable()
      in.addData(second: _*) // lsn 6 poisoned
      q.processAllAvailable()
    } finally q.stop()
    // state: u1→lsn1 (its lsn-3 update died), u2→lsn4, u3→lsn5 (its
    // lsn-6 delete died — a poisoned delete must NOT remove the key,
    // nor leave a tombstone)
    val state = usersStore(base)
    assert(state === Set((1L, 1L, false), (2L, 4L, false), (3L, 5L, false)))
    // ledger: exactly the two poisoned messages, keyed to their batch,
    // raw bytes preserved verbatim (truncated JSON never closes)
    def ledger() = spark.read.parquet(s"$base/dlq")
      .select($"batch_id".cast("long"), $"msg_key", $"raw_value")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val dead = ledger()
    assert(dead.map(d => (d._1, d._2)).toSeq ===
      Seq((0L, "public.users:1"), (1L, "public.users:3")))
    assert(dead.forall(d => !d._3.endsWith("}")),
      "raw_value must be the verbatim truncated bytes")
    // replay batch 1 (the crash-recovery path foreachBatch takes): the
    // per-batch overwrite must leave the ledger and state unchanged
    ChangeLogStream.fullProductionBatch(base, delayUs)(
      wire(spark.createDataset(second).toDF()), 1L)
    assert(ledger().toSeq === dead.toSeq,
      "replaying a batch must not duplicate dead letters")
    assert(usersStore(base) === state, "replay must not move state")
  }

  test("late-data tee: rows behind the recorded watermark are ledgered, split replay-stable") {
    // the event-time sibling of the DLQ: rows older than the previous
    // batch's recorded high-water mark minus the delay go to a durable
    // ledger instead of silently vanishing; the recorded per-batch mark
    // makes the split identical on replay even after the live watermark
    // has advanced.
    val base = java.nio.file.Files.createTempDirectory("graft_late").toString
    val delayUs = 10L * 60 * 1000000 // 10 minutes
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        ChangeLogStream.fullProductionBatch(base, delayUs)(usersWire(b), id)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    // batch 0: high-water mark lands at 01:00 (no predecessor → no lates)
    // batch 1: horizon 01:00 − 10 min = 00:50; event 3 (00:45) is LATE,
    // event 4 (00:55) is admitted, event 5 advances the mark to 02:00
    val batch2 = Seq(ev(3, 45, 1, "click", 7.0), ev(4, 55, 2, "click", 8.0),
      ev(5, 120, 3, "signup", 9.0))
    try {
      in.addData(ev(1, 5, 1, "signup", 5.0), ev(2, 60, 2, "signup", 6.0))
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val state = usersStore(base)
    assert(state === Set(
      (1L, 1L, false), // its 00:45 update was late
      (2L, 4L, false),
      (3L, 5L, false)), s"got $state")
    def lateIds() = spark.read.parquet(s"$base/late")
      .select($"batch_id".cast("long"), $"lsn")
      .as[(Long, Long)].collect().toSet
    assert(lateIds() === Set((1L, 3L)))
    // replay batch 1 AFTER the live mark advanced to 02:00: the split
    // must still use the recorded wm-0 (01:00) — identical ledger, no
    // extra rows reclassified late, state unmoved
    ChangeLogStream.fullProductionBatch(base, delayUs)(
      usersWire(spark.createDataset(batch2).toDF()), 1L)
    assert(lateIds() === Set((1L, 3L)),
      "replay must reproduce the same late set from the recorded mark")
    assert(usersStore(base) === state, "replay must not move state")
  }

  // ---- the production-topology wire fixture ----
  private val prodSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  private def prodRow(id: Long, minute: Int, uid: Long, typ: String,
      v: Double, props: String) =
    org.apache.spark.sql.Row(id, ts(minute), uid, typ, v, props)

  /** TOAST envelopes routed to tables t0 .. t(tables-1) by user id. */
  private def prodRouted(events: org.apache.spark.sql.DataFrame,
      tables: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, split}
    val env = graft.pipeline.Envelope.toCdcEventsToast(events).toDF()
    val uid = split(col("key"), ":").getItem(1).cast("long")
    env.withColumn("tableName", concat(lit("t"), pmod(uid, lit(tables))))
      .withColumn("key", concat(lit("public."), col("tableName"), lit(":"), uid))
  }

  /** Kafka wire shape of `env`; lsn % 7 == 0 loses 8 tail bytes (NOT
    * % 3 / % 5 — those are the TOAST marker residues; the fault set and
    * the marker set must stay disjoint enough that both paths are
    * exercised).
    */
  private def prodWire(env: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, struct, to_json, when}
    env.select(col("key").cast("binary").as("k2"),
        to_json(struct(env.columns.map(col): _*)).as("w"), col("lsn"))
      .select(col("k2").as("key"),
        when(col("lsn") % 7 === 0, expr("substring(w, 1, length(w) - 8)"))
          .otherwise(col("w")).cast("binary").as("value"))
  }

  /** The envelopes of [[prodBatch]], before the wire. */
  private def prodEnv(from: Long, n: Int, tables: Int): org.apache.spark.sql.DataFrame = {
    val types = Seq("signup", "click", "view", "error")
    val rows = (from until from + n).map(i =>
      prodRow(i, 20 + (i % 1000).toInt / 10, i % 11, types((i % 4).toInt),
        i * 1.0, s"""{"k":"${i % 9}"}"""))
    prodRouted(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), prodSchema), tables)
  }

  /** One wire batch of `n` events from LSN `from`, minutes ascending,
    * over `tables` tables: inserts, TOAST-marked updates and deletes. */
  private def prodBatch(from: Long, n: Int, tables: Int): org.apache.spark.sql.DataFrame =
    prodWire(prodEnv(from, n, tables))

  /** `env` with the envelope at `lsn` turned into a truncate of its table. */
  private def truncateAt(env: org.apache.spark.sql.DataFrame,
      lsn: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    env.withColumn("op", when(col("lsn") === lsn, "truncate").otherwise(col("op")))
  }

  /** (dead, late, Σ logged rows) of a production topology under `base`. */
  private def prodLedgers(base: String): (Long, Long, Long) = (
    spark.read.parquet(s"$base/dlq").count(),
    spark.read.parquet(s"$base/late").count(),
    graft.ops.LogSink.read(spark, s"$base/log").collect().map(_.nRows).sum)

  /** Every row of tables t0 and t1 of a production topology under `base`. */
  private def prodStore(base: String): Set[(String, String, Long, Map[String, String], Boolean)] = {
    import org.apache.spark.sql.functions.col
    Seq("t0", "t1").flatMap { t =>
      spark.read.parquet(s"$base/state/public.$t")
        .select(col("key"), col("state_lsn"), col("state"), col("tombstone"))
        .as[(String, Long, Map[String, String], Boolean)].collect()
        .map(r => (t, r._1, r._2, r._3, r._4))
    }.toSet
  }

  test("production topology: a replayed batch leaves conservation and the store unchanged") {
    // a foreachBatch replay after a crash re-runs the batch under the
    // same id: the DLQ and late ledgers overwrite per batch, and so must
    // the progress log, or conservation counts the batch twice
    val base = java.nio.file.Files.createTempDirectory("graft_prodreplay").toString
    val wire = prodBatch(1L, 60, 2).persist()
    val consumed = wire.count()
    ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(wire, 0L)
    val (ledger0, store0) = (prodLedgers(base), prodStore(base))
    val (dead, late, logged) = ledger0
    assert(dead > 0 && logged > 0, s"fixture must exercise both paths: $ledger0")
    assert(consumed === dead + late + logged,
      s"conservation: $consumed != $dead + $late + $logged")
    ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(wire, 0L)
    assert(prodLedgers(base) === ledger0, "replay must not move the ledgers")
    assert(prodStore(base) === store0, "replay must not move the store")
    wire.unpersist()
  }

  test("production topology: an envelope without an event time is dead-lettered, not dropped") {
    // once batch 0 has recorded a mark, an envelope with no ts is neither
    // on time nor late: it must land in the dead ledger, or conservation
    // loses it
    import org.apache.spark.sql.functions.{col, lit, when}
    val base = java.nio.file.Files.createTempDirectory("graft_nullts").toString
    def wire(from: Long, n: Int, noTs: Long*) = {
      val rows = (from until from + n).map(i => prodRow(i, 20, i % 11, "signup", i * 1.0, "{}"))
      val env = prodRouted(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), prodSchema), 2)
      prodWire(env.withColumn("ts",
        when(col("lsn").isin(noTs: _*), lit(null)).otherwise(col("ts"))))
    }
    val sink = ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000) _
    sink(wire(1L, 1), 0L)
    sink(wire(2L, 2, 2L), 1L)
    assert(prodLedgers(base) === ((1L, 0L, 2L)), "3 consumed = 1 dead + 0 late + 2 logged")
    assert(spark.read.parquet(s"$base/dlq/batch_id=1").count() === 1L)
    // a negative delay could let a late row raise the mark: refused
    intercept[IllegalArgumentException] {
      ChangeLogStream.fullProductionBatch(base, -1L)(wire(4L, 1), 2L)
    }
  }

  test("production topology: one failing table merge fails the batch, logs nothing, and replays clean") {
    // the tables of a batch merge in one staged write: a conflicting file
    // in one table's store must fail the whole batch before any table is
    // published or its progress records are written, and a replay once
    // the file is gone must leave exactly what a clean run leaves
    val (bad, clean) = (java.nio.file.Files.createTempDirectory("graft_prodfail").toString,
      java.nio.file.Files.createTempDirectory("graft_prodclean").toString)
    val batches = Seq(prodBatch(1L, 200, 2), prodBatch(201L, 200, 2))
    def run(base: String, b: Int): Unit =
      ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(batches(b), b.toLong)
    run(bad, 0); run(clean, 0)
    val t0 = s"$bad/state/public.t0"
    val bucket = new java.io.File(t0).list().filter(_.startsWith(s"${ChangeLogStream.BucketCol}="))
      .map(_.split('=')(1).toInt).min
    val planted = SinkSpec.plant(Seq(("public.t0:99", "not-a-long")).toDF("key", "state_lsn"),
      t0, bucket)
    def t1Store() = spark.read.parquet(s"$bad/state/public.t1").collect().toSet
    val t1AfterBatch0 = t1Store()
    val e = intercept[org.apache.spark.SparkException](run(bad, 1))
    assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS"), e.getMessage)
    assert(!new java.io.File(s"$bad/log/batch_id=1").exists(),
      "a failed batch must not log progress")
    assert(t1Store() === t1AfterBatch0, "a failed batch must publish no table")
    assert(planted.delete())
    run(bad, 1); run(clean, 1)
    val consumed = batches.map(_.count()).sum
    val (dead, late, logged) = prodLedgers(bad)
    assert(consumed === dead + late + logged, s"conservation: $consumed != $dead + $late + $logged")
    assert(prodLedgers(bad) === prodLedgers(clean))
    assert(prodStore(bad) === prodStore(clean), "the replayed store must equal a clean run's")
  }

  test("production topology: every job of a warm batch carries the caller's job group") {
    // every job of the batch, the merge's included, must carry the
    // caller's job group, so cancelling it cancels them
    val base = java.nio.file.Files.createTempDirectory("graft_prodgroup").toString
    val sink = ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000) _
    sink(prodBatch(1L, 200, 2), 0L)
    val wire = prodBatch(201L, 200, 2)
    val sc = spark.sparkContext
    val groups = SparkJobs.propertiesDuring(spark) {
      sc.setJobGroup("graft-warm-batch", "warm batch")
      try sink(wire, 1L) finally sc.clearJobGroup()
    }.map(_.getProperty("spark.jobGroup.id"))
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "graft-warm-batch"), s"job groups: $groups")
  }

  test("production topology: a warm micro-batch runs at most 8 Spark jobs, at 2 and at 8 tables") {
    // the per-batch fixed cost is jobs, not data, and not tables: decode
    // + ledgers, one demux aggregate that also yields the progress
    // records, the watermark and every table's touched buckets, and ONE
    // merge of every table — one shuffle on (table, bucket) and one
    // staged write — whose store schemas come from the footers on the
    // driver. A per-table job, a law that re-derives the fence, a
    // progress or watermark scan, a touched-bucket job or a footer-merge
    // job shows up here first.
    val jobsAt = Seq(2, 8).map { tables =>
      val base = java.nio.file.Files.createTempDirectory(s"graft_prodjobs$tables").toString
      val sink = ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000) _
      sink(prodBatch(1L, 200, tables), 0L) // cold: creates the stores
      val warm = (1 to 2).map { b =>
        val wire = prodBatch(1L + 200L * b, 200, tables)
        val jobs = SparkJobs.during(spark)(sink(wire, b.toLong))
        info(s"$tables tables, warm batch $b: $jobs jobs")
        assert(jobs <= 8, s"$tables tables: warm batch $b ran $jobs jobs")
        jobs
      }
      // a truncate of t0 (LSN 701, user 8, t0 at 2 and at 8 tables) rides
      // the demux aggregate: the fence clears t0 with file-system calls
      // and adds no job
      val truncating = prodWire(truncateAt(prodEnv(601L, 200, tables), 701L))
      val jobs = SparkJobs.during(spark)(sink(truncating, 3L))
      info(s"$tables tables, warm batch 3 with a truncate: $jobs jobs")
      assert(jobs <= 8, s"$tables tables: warm batch 3 with a truncate ran $jobs jobs")
      warm
    }
    assert(jobsAt(0) === jobsAt(1), s"jobs per warm batch at 2 and 8 tables: $jobsAt")
  }

  test("production topology: two tables whose envelopes share a key each keep their own row") {
    // the merge keys by (table, bucket, key): an envelope key need not
    // name its table, and one table's row must never overwrite another's
    import org.apache.spark.sql.functions.{col, lit}
    val base = java.nio.file.Files.createTempDirectory("graft_prodsharedkey").toString
    val env = prodEnv(1L, 40, 2).withColumn("key", lit("shared"))
    ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(prodWire(env), 0L)
    val admitted = env.filter(col("lsn") % 7 =!= 0)
    val got = prodStore(base).map { case (t, k, lsn, _, tomb) => (t, k, lsn, tomb) }
    val want = Seq("t0", "t1").map { t =>
      val last = admitted.filter(col("tableName") === t)
        .select(org.apache.spark.sql.functions.max("lsn")).as[Long].head()
      val op = admitted.filter(col("lsn") === last).select("op").as[String].head()
      (t, "shared", last, op == "delete")
    }.toSet
    assert(got === want, s"each table keeps its own row of key 'shared': $got")
  }

  test("production topology: a truncate whose bucket delete fails fails the batch; a replay clears the table") {
    // the fence filters only the batch, never the store: a fence written
    // over a bucket the truncate did not clear would serve the truncated
    // rows forever. The fault file system reports a failed `__bucket=`
    // delete by returning false, as Hadoop's mutators do
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfault.impl", classOf[FaultFs].getName)
    conf.setBoolean("fs.graftfault.impl.disable.cache", true)
    val base = "graftfault://" +
      java.nio.file.Files.createTempDirectory("graft_prodfault").toString
    // the fixture of the truncate test above: batch 1 truncates t0 at LSN
    // 114, and only t0's three decodable events above it survive
    import org.apache.spark.sql.functions.col
    val fence = 114L
    val (env0, env1) = (prodEnv(1L, 60, 2), prodEnv(61L, 60, 2))
    val sink = ChangeLogStream.fullProductionBatch(base, 60L * 60 * 1000000) _
    sink(prodWire(env0), 0L)
    val truncating = prodWire(truncateAt(env1, fence))
    def t0Keys() = prodStore(base).collect { case ("t0", k, _, _, _) => k }
    val postFence = env1.filter(col("tableName") === "t0" && col("lsn") > fence &&
      col("lsn") % 7 =!= 0).select("key").as[String].collect().toSet
    assert(postFence.size === 3 && !t0Keys().subsetOf(postFence),
      s"fixture: t0 holds ${t0Keys()}, post-fence keys $postFence")
    FaultFs.failBucketDeletes = true
    try intercept[java.io.IOException](sink(truncating, 1L))
    finally FaultFs.failBucketDeletes = false
    assert(!new java.io.File(new java.net.URI(base).getPath + "/log/batch_id=1").exists(),
      "a failed batch must not log progress")
    sink(truncating, 1L)
    assert(t0Keys() === postFence,
      "the replay must clear t0 down to the rows above its truncate")
  }

  test("production topology: a truncate clears its table only and fences stale replays, also through Topology.run") {
    // batch 1 (LSNs 61-120) carries a TRUNCATE of t0 at LSN 114. t0 must
    // keep only its batch-1 events above 114 — users 6, 8 and 10, so
    // users 0, 2 and 4 are cleared — and t1 must not move: the store
    // must equal a run that never saw t0's events at or below 114. A
    // replay of batch 1 changes nothing; a stale replay of t0's
    // pre-truncate history (batch 2) resurrects nothing.
    import org.apache.spark.sql.functions.col
    import graft.streaming.Topology
    val delayUs = 60L * 60 * 1000000 // nothing is late: every stale row meets the fence
    val fence = 114L // user 114 % 11 = 4 → t0; 114 % 7 != 0, so it decodes
    val (env0, env1) = (prodEnv(1L, 60, 2), prodEnv(61L, 60, 2))
    val t0 = col("tableName") === "t0"
    val batches = Seq(prodWire(env0), prodWire(truncateAt(env1, fence)), prodWire(env0.filter(t0)))
      .map(_.persist())
    val consumed = batches.map(_.count()).scan(0L)(_ + _).tail
    val base = java.nio.file.Files.createTempDirectory("graft_prodtrunc").toString
    val sink = ChangeLogStream.fullProductionBatch(base, delayUs) _
    sink(batches(0), 0L)
    assert(prodStore(base).exists(r => r._1 == "t0" && r._3 < fence),
      "fixture: batch 0 must leave t0 rows below the fence")
    sink(batches(1), 1L)
    val (ledger1, store1) = (prodLedgers(base), prodStore(base))
    val ref = java.nio.file.Files.createTempDirectory("graft_prodtruncref").toString
    ChangeLogStream.fullProductionBatch(ref, delayUs)(prodWire(env0.filter(!t0)), 0L)
    ChangeLogStream.fullProductionBatch(ref, delayUs)(
      prodWire(env1.filter(!t0 || col("lsn") > fence)), 1L)
    assert(store1 === prodStore(ref), "the truncate must clear t0 up to its LSN, and only t0")
    // by value: t0 holds exactly the keys of its decodable post-fence
    // events, all live
    val postFence = env1.filter(t0 && col("lsn") > fence && col("lsn") % 7 =!= 0)
      .select("key").as[String].collect().toSet
    assert(postFence.size === 3, s"fixture: $postFence")
    assert(store1.filter(_._1 == "t0").map(r => (r._2, r._3 > fence, r._5)) ===
      postFence.map(k => (k, true, false)), s"t0 must hold only post-fence rows: $store1")
    // conservation, with the truncate counted as a logged row
    val (dead, late, logged) = ledger1
    assert(consumed(1) === dead + late + logged, s"conservation: ${consumed(1)} != $ledger1")
    sink(batches(1), 1L) // replay under the same id
    assert(prodLedgers(base) === ledger1, "replay must not move the ledgers")
    assert(prodStore(base) === store1, "replay must not move the store")
    sink(batches(2), 2L)
    assert(prodStore(base) === store1, "a stale replay of pre-truncate history resurrected state")
    val (dead2, late2, logged2) = prodLedgers(base)
    assert(consumed(2) === dead2 + late2 + logged2, s"conservation: ${consumed(2)} != ${prodLedgers(base)}")

    // the same feed through the config-driven topology: one checkpoint,
    // a restart per batch file
    val topo = java.nio.file.Files.createTempDirectory("graft_prodtrunctopo").toString
    val cfg = Topology.Config(s"$topo/feed",
      graft.pipeline.Publication.Spec("p", Seq("public.t0", "public.t1")),
      s"$topo/sink", s"$topo/ckpt", delayUs, 4)
    val want = store1.groupBy(_._1).map { case (t, rs) =>
      s"public.$t" -> Topology.TableState(s"public.$t", rs.count(!_._5), rs.count(_._5)) }
    for (b <- batches.indices) {
      batches(b).coalesce(1).write.mode("append").parquet(cfg.feedDir)
      Topology.run(spark, cfg)
      val c = Topology.census(spark, cfg)
      assert(c.consumed === consumed(b) && c.conserved, s"batch $b: $c")
      if (b > 0) {
        assert(c.states.map(s => s.table -> s).toMap === want, s"batch $b: $c")
        assert(c.states.head === Topology.TableState("public.t0", postFence.size, 0L),
          s"batch $b: t0 must count only post-fence keys: $c")
      }
    }
    batches.foreach(_.unpersist())
  }

  test("full PRODUCTION topology: routing + carry-forward + retention + late tee + dead letter, one checkpoint, restart") {
    // Every durable sink feature active in ONE streaming query
    // (fullProductionBatch), restarted mid-stream on one checkpoint:
    //   - wire decode failures (lsn % 7 == 0 loses 8 tail bytes) → DLQ
    //   - recorded-watermark admission → late ledger
    //   - per-(schema, table) demux → 3 bucketed stores
    //   - carry-forward merge: TOAST-marked update cells heal from
    //     state committed in an EARLIER batch
    //   - tombstone retention: a delete near the head survives as a
    //     tombstone; a delete behind the horizon purges
    // plus the EXTENDED conservation law: every message in exactly one
    // of {dead, late, Σ logged}; live state equals the batch
    // carry-forward reference per table; tombstone + purge census
    // exact; at least one cell provably CARRIED across batches.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    import graft.pipeline.ChangeLog
    val base = java.nio.file.Files.createTempDirectory("graft_fullprod").toString
    val (inDir, ckpt) = (s"$base/in", s"$base/ckpt")
    def writeFiles(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), prodSchema)
        .coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val q = spark.readStream.schema(prodSchema).parquet(inDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          ChangeLogStream.fullProductionBatch(base, 10L * 60 * 1000000)(
            prodWire(prodRouted(b, 3)), id)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 0: 12 inserts, minutes 11..22 → recorded mark 22:00; id 7
    // is DEAD (7 % 7 == 0) so user 7 never materializes
    val first = (1 to 12).map(i =>
      prodRow(i.toLong, 10 + i, i.toLong, "signup", i * 1.0, """{"k":"7"}"""))
    // batch 1 (after RESTART): late horizon = 22:00 − 10 min = 12:00
    val second = Seq(
      prodRow(29, 5, 2, "click", 29.0, """{"k":"9"}"""),  // LATE (minute 5)
      prodRow(30, 40, 5, "click", 555.0, """{"k":"9"}"""), // %15: k AND value marked → heal BOTH from lsn 5
      prodRow(31, 41, 1, "click", 31.0, """{"k":"9"}"""),  // full re-ship
      prodRow(33, 42, 6, "click", 33.0, """{"k":"9"}"""),  // %3: k marked → k heals
      prodRow(35, 43, 8, "click", 35.0, """{"k":"9"}"""),  // DEAD (35 % 7 == 0)
      prodRow(40, 45, 3, "error", 0.0, "{}"),              // delete → PURGED (t0 head 100, horizon 75)
      prodRow(90, 46, 4, "error", 0.0, "{}"),              // delete → RETAINED (t1 head 95, horizon 72)
      prodRow(100, 50, 9, "click", 100.0, """{"k":"9"}"""), // %5: value marked → value heals
      prodRow(95, 51, 10, "click", 95.0, """{"k":"9"}"""))  // %5: value marked → value heals
    writeFiles(first); run()
    writeFiles(second); run() // RESTART: new query object, same checkpoint
    val deadKeys = spark.read.parquet(s"$base/dlq")
      .select($"msg_key").as[String].collect().toSet
    assert(deadKeys === Set("public.t1:7", "public.t2:8"), s"dead: $deadKeys")
    val lateLsns = spark.read.parquet(s"$base/late")
      .select($"lsn").as[Long].collect().toSet
    assert(lateLsns === Set(29L))
    // extended conservation: every wire message in exactly one bucket
    val logged = graft.ops.LogSink.read(spark, s"$base/log")
      .collect().map(_.nRows).sum
    val nInput = (first ++ second).size.toLong
    assert(nInput === deadKeys.size + lateLsns.size + logged,
      s"conservation broke: $nInput != ${deadKeys.size} + ${lateLsns.size} + $logged")
    // per-table: store == the batch carry-forward + retention reference
    // over exactly the admitted slice (the same law, evaluated once
    // over the full log — streaming across a restart must agree)
    val deadOrLate = Set(7L, 35L, 29L)
    val fullLog = spark.createDataFrame(
      spark.sparkContext.parallelize(first ++ second), prodSchema)
    val admitted = prodRouted(fullLog, 3)
      .filter(!col("lsn").isInCollection(deadOrLate))
      .select("tableName", "key", "op", "lsn", "after", "unchangedCols")
      .persist()
    def expect(t: String): Set[(String, Long, Map[String, String], Boolean)] = {
      val sl = admitted.filter(col("tableName") === t).drop("tableName")
      val head = sl.agg(smax("lsn")).as[Long].head()
      val live = ChangeLog.latestStateCarryForward(sl)
      val tomb = sl.filter(col("op") === "delete")
        .groupBy("key").agg(smax("lsn").as("del_lsn"))
        .join(live.select("key"), Seq("key"), "left_anti")
        .filter(ChangeLog.tombstoneRetained(col("del_lsn"), lit(head)))
        .select($"key", $"del_lsn".as("state_lsn"))
      live.select($"key", $"state_lsn", $"state", lit(false).as("tombstone"))
        .unionByName(tomb.select($"key", $"state_lsn",
          lit(null).cast("map<string,string>").as("state"),
          lit(true).as("tombstone")))
        .as[(String, Long, Map[String, String], Boolean)].collect().toSet
    }
    def store(t: String): Set[(String, Long, Map[String, String], Boolean)] =
      spark.read.parquet(s"$base/state/public.$t")
        .select($"key", $"state_lsn", $"state", $"tombstone")
        .as[(String, Long, Map[String, String], Boolean)].collect().toSet
    for (t <- Seq("t0", "t1", "t2"))
      assert(store(t) === expect(t), s"table $t drifted from batch reference")
    // the healed row, asserted by VALUE (not merely merge == merge):
    // user 5's update (lsn 30) marked both payload cells unchanged, so
    // its state must carry the lsn-5 insert's cells — which were
    // committed in the PREVIOUS batch and healed from the store
    val healed = store("t2").find(_._1 == "public.t2:5").get
    assert(healed === (("public.t2:5", 30L,
      Map("user_id" -> "5", "value" -> "5.0", "k" -> "7"), false)), healed)
    // cell provenance agrees: both payload cells of key 5 trace to an
    // LSN OLDER than the row's state LSN (the carried-cell signature)
    val prov = ChangeLog.cellProvenance(
        admitted.filter($"tableName" === "t2").drop("tableName"),
        Seq("value", "k"))
      .filter($"key" === "public.t2:5")
      .select($"state_lsn", $"lsn_value", $"lsn_k")
      .as[(Long, Long, Long)].head()
    assert(prov === ((30L, 5L, 5L)), s"provenance: $prov")
    // tombstone + purge census: user 4's delete (lsn 90) survives the
    // t1 horizon (95 − 95/4 = 72); user 3's (lsn 40) fell behind the
    // t0 horizon (100 − 25 = 75) and purged ON the delete's own rewrite
    val storedTombs = Seq("t0", "t1", "t2")
      .flatMap(t => store(t).filter(_._4).map(r => (t, r._1, r._2))).toSet
    assert(storedTombs === Set(("t1", "public.t1:4", 90L)), storedTombs)
    val fencedKeys = Set("public.t0:3", "public.t1:4") // both deletes fence
    val purged = fencedKeys -- storedTombs.map(_._2)
    assert(purged === Set("public.t0:3"),
      s"exactly the behind-horizon tombstone must purge: $purged")
    admitted.unpersist()
  }

  test("incremental ANN ingestion: dedup screen + standing-cell assignment, split-invariant and conserving") {
    // the vector tier's append path (ann_incremental's streaming twin):
    // each microbatch of (doc, embedding) is screened against the
    // STANDING doc corpus for near-dups (Dedup.incrementalMatches — the
    // established ingestion screen), and the survivors are assigned to
    // the STANDING coarse cells (Similarity.assignToCells) — one
    // broadcast argmax per batch, no Lloyd re-run, no index rebuild.
    // The appended index must be invariant to HOW the stream splits
    // into microbatches, and every incoming doc must be accounted for:
    // either screened out as a dup or assigned to exactly one cell.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val standingDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cent_id", "ce")
    // 101/104 are exact dups of standing docs (the screen must drop
    // them); the rest are unique and point at a known centroid
    val incoming = Seq(
      IngestDoc(101L, "alpha beta gamma delta epsilon zeta", Seq(0.9, 0.1, 0.0, 0.0)),
      IngestDoc(102L, "red green blue cyan magenta yellow", Seq(0.8, 0.2, 0.0, 0.0)),
      IngestDoc(103L, "six seven eight nine ten eleven", Seq(0.1, 0.9, 0.0, 0.0)),
      IngestDoc(104L, "one two three four five six", Seq(0.0, 1.0, 0.0, 0.0)),
      IngestDoc(105L, "gold silver bronze iron copper tin", Seq(0.2, 0.7, 0.0, 0.0)))
    def ingest(df: DataFrame): DataFrame = {
      val dups = graft.operators.Dedup
        .incrementalMatches(standingDocs, df.select(col("doc_id"), col("text")))
        .select(col("doc_b").as("doc_id")).distinct()
      val survivors = df.join(dups, Seq("doc_id"), "left_anti")
      graft.operators.Similarity.assignToCells(
        survivors.select(col("doc_id").as("vec_id"), col("emb").as("e")), cents)
    }
    val appended = scala.collection.mutable.Set.empty[(Long, Long)]
    val in = MemoryStream[IngestDoc]
    val q = in.toDF().writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = ingest(b).as[(Long, Long)].collect()
        appended.synchronized { appended ++= rows }
        ()
      }.start()
    try {
      in.addData(incoming(0), incoming(1)); q.processAllAvailable()
      in.addData(incoming(2)); q.processAllAvailable()
      in.addData(incoming(3), incoming(4)); q.processAllAvailable()
    } finally q.stop()
    val oneShot = ingest(spark.createDataset(incoming).toDF())
      .as[(Long, Long)].collect().toSet
    assert(appended.toSet === oneShot,
      "microbatch splits must not change the appended index")
    assert(oneShot === Set((102L, 10L), (103L, 20L), (105L, 20L)))
    // conservation: every incoming doc either matched the screen or
    // landed in exactly one cell
    assert(oneShot.map(_._1) ++ Set(101L, 104L) ===
      incoming.map(_.doc_id).toSet)
    CachePool.releaseAll()
  }

  test("relation registry refresh: a mid-stream RelationMessage reprojects without restart") {
    // D4 under streaming (r14 verdict #5): the reference updates its
    // relation store per WAL RelationMessage (replicator.go:320-322)
    // and decodes every subsequent tuple against the store's CURRENT
    // schema. Here the registry is an append-only parquet log the
    // foreachBatch handler RE-READS per microbatch (a refreshed
    // broadcast dimension): a v2 RelationMessage written between
    // microbatches must widen the NEXT batch's projection — post-change
    // events surface k, pre-change events must NOT (the registry could
    // not name it), with no stream restart anywhere.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, map_keys, element_at}
    import graft.pipeline.{Envelope, RelationRegistry}
    implicit val sqlCtx = spark.sqlContext
    val regDir = java.nio.file.Files
      .createTempDirectory("graft_registry").toFile.getAbsolutePath
    Seq(("users", 0L, Seq("user_id", "value")))
      .toDF("relation", "lsn", "columns")
      .write.mode("append").parquet(regDir)
    val out = scala.collection.mutable.Map
      .empty[Long, (Seq[String], Option[String])]
    val in = MemoryStream[RawEvent]
    val q = in.toDF().writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        // re-read the registry log INSIDE the batch — the refresh point
        val schemas = RelationRegistry.currentSchemas(
          spark.read.parquet(regDir))
        val rows = RelationRegistry
          .projectThroughRegistry(Envelope.toCdcEventsStreaming(b).toDF(),
            schemas)
          .select(col("lsn"), map_keys(col("after")).as("cols"),
            element_at(col("after"), "k").as("k"))
          .as[(Long, Seq[String], Option[String])].collect()
        out.synchronized { rows.foreach(r => out(r._1) = (r._2, r._3)) }
        ()
      }.start()
    try {
      // both tuples CARRY k in props; only the registry decides
      // whether the projection can name it
      def kev(id: Long, minute: Int, uid: Long, typ: String) =
        RawEvent(id, ts(minute), uid, typ, 1.0, s"""{"k":"$id"}""")
      in.addData(kev(1, 5, 1, "signup"), kev(2, 6, 2, "click"))
      q.processAllAvailable()
      // the RelationMessage: users re-registered WITH k
      Seq(("users", 100L, Seq("user_id", "value", "k")))
        .toDF("relation", "lsn", "columns")
        .write.mode("append").parquet(regDir)
      in.addData(kev(3, 7, 1, "click"), kev(4, 8, 3, "signup"))
      q.processAllAvailable()
    } finally q.stop()
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    for (l <- Seq(1L, 2L)) {
      assert(out(l)._1 === Seq("user_id", "value"),
        s"pre-change event $l must project through the OLD column set")
      assert(out(l)._2.isEmpty, s"pre-change event $l surfaced k")
    }
    for (l <- Seq(3L, 4L)) {
      assert(out(l)._1 === Seq("user_id", "value", "k"),
        s"post-change event $l must project through the NEW column set")
      assert(out(l)._2 === Some(l.toString),
        s"post-change event $l must carry k's VALUE through the projection")
    }
    CachePool.releaseAll()
  }

  test("incremental graph ingestion: streamed edge append equals the batch appended arm") {
    // the missing half of the ingestion composition (r14 verdict #4):
    // the CELL assignment streamed per microbatch since r14, but the
    // top-G edge construction only ran in the batch A/B. Here the
    // append batch (the newest decile by the same fence) arrives
    // through foreachBatch, Similarity.appendGraphEdges builds its
    // edges against the standing assignment, and the resulting edge
    // store must EQUAL ann_incremental_graph's appended arm. The whole
    // decile ships as ONE microbatch for the equality leg — the batch
    // arm lets batch vectors link to each other, which a split stream
    // cannot reproduce (an early vector cannot see a later one); the
    // split case is covered by the structural leg below.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val fence = graft.operators.Similarity.incFence(spark, d)
    val (cents, standAssign) = graft.operators.Similarity.incStandingState(spark, d)
    val standingSym = graft.operators.Similarity.incStandingSymEdges(spark, d)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val batchVecs = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") > fence)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => IngestVec(id, e) }
    assert(batchVecs.nonEmpty, "fence must leave a non-empty batch")
    def runStream(splits: Seq[Seq[IngestVec]]): Set[(Long, Long)] = {
      val edges = scala.collection.mutable.Set.empty[(Long, Long)]
      var standing = standAssign
      val in = MemoryStream[IngestVec]
      val q = in.toDF().writeStream.outputMode(OutputMode.Append)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val (newEdges, bAssign) = graft.operators.Similarity
            .appendGraphEdges(b.select("vec_id", "e"), standing, cents)
          edges.synchronized {
            edges ++= newEdges.select("src", "dst")
              .as[(Long, Long)].collect()
          }
          // fold the batch into the standing assignment (collected —
          // test-sized; a deployment would append to a parquet store)
          standing = standing.unionByName(bAssign).localCheckpoint()
          ()
        }.start()
      try {
        splits.foreach { s => in.addData(s: _*); q.processAllAvailable() }
      } finally q.stop()
      edges.toSet
    }
    // equality leg: one microbatch == the batch A/B's appended arm
    val streamed = runStream(Seq(batchVecs.toSeq))
    val appendedArm = graft.operators.Similarity.incAppendedEdges(spark, d)
      .as[(Long, Long)].collect().toSet
    assert(standingSym ++ streamed === appendedArm,
      "streamed edge store diverged from ann_incremental_graph's appended arm")
    // structural leg: a 2-way split still only ADDS batch-touching
    // edges on top of the standing build (no standing-standing edge,
    // nothing lost), even though early vectors cannot see later ones
    val (h1, h2) = batchVecs.splitAt(batchVecs.length / 2)
    val split = runStream(Seq(h1.toSeq, h2.toSeq))
    val extras = split -- standingSym
    assert(extras.nonEmpty, "split stream appended nothing")
    val batchIds = batchVecs.map(_.vec_id).toSet
    assert(extras.forall(e => batchIds(e._1) || batchIds(e._2)),
      "a split-stream edge links two standing nodes")
    CachePool.releaseAll()
  }

  test("durable graph ingestion: parquet stores, mid-stream restart, replay — equals the batch arms") {
    // The deployment shape of the test above (r15 verdict #2): the
    // standing assignment and the edge store are PARQUET, appended by
    // GraphIngest.appendBatch inside foreachBatch — no driver-side
    // index state — and the query is killed and resumed mid-stream on
    // its checkpoint (the AvailableNow restart convention). Three legs:
    //   1. whole decile as one microbatch → store edges must EQUAL
    //      ann_incremental_graph's appended arm (the durable path is
    //      the proven streamed path);
    //   2. two files with a stop between them (restart) → stores must
    //      EQUAL the deterministic two-fold batch reference (nothing
    //      lost or duplicated across the restart), and the assign
    //      store must hold exactly the batch's multi-probe rows;
    //   3. a manual re-invocation of the LAST batch (the real
    //      crash-after-write, before-checkpoint-commit window — the
    //      checkpoint guarantees batch N replays before N+1 ever runs)
    //      must leave both stores value-equal: the replay sees its own
    //      assign rows in the store, and topGEdges' per-(src,dst)
    //      group-max collapses the doubled targets to identical edges.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.GraphIngest
    val d = "/root/testdata/sf0.001"
    val fence = graft.operators.Similarity.incFence(spark, d)
    val (cents, standAssign) = graft.operators.Similarity.incStandingState(spark, d)
    val standingSym = graft.operators.Similarity.incStandingSymEdges(spark, d)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val batchDf = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") > fence)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
      .persist()
    val mid = batchDf.agg(org.apache.spark.sql.functions
      .percentile_approx(col("vec_id"), org.apache.spark.sql.functions
        .lit(0.5), org.apache.spark.sql.functions.lit(1000)))
      .head().getLong(0)
    val (h1, h2) = (batchDf.filter(col("vec_id") <= mid),
      batchDf.filter(col("vec_id") > mid))
    assert(h1.count() > 0 && h2.count() > 0, "both halves must be non-empty")
    def runIngest(base: String, files: Seq[DataFrame]): Unit = {
      val (inDir, ckpt, store) = (s"$base/in", s"$base/ckpt", s"$base/store")
      files.foreach { f =>
        // one coalesced file per run: the file source (no
        // maxFilesPerTrigger) takes ALL unseen files as one microbatch,
        // so each run() is exactly one batch
        f.coalesce(1).write.mode("append").parquet(inDir)
        val q = spark.readStream
          .schema("vec_id LONG, e ARRAY<DOUBLE>").parquet(inDir)
          .writeStream
          .foreachBatch(GraphIngest.appendBatch(store, cents, standAssign) _)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination() // then the query object dies — next run restarts
      }
    }
    def storeEdges(base: String): Set[(Long, Long)] =
      GraphIngest.edges(spark, s"$base/store")
        .as[(Long, Long)].collect().toSet
    // ── leg 1: one microbatch == the batch A/B's appended arm ──
    val base1 = java.nio.file.Files.createTempDirectory("graft_gingest1").toString
    runIngest(base1, Seq(batchDf))
    val appendedArm = graft.operators.Similarity.incAppendedEdges(spark, d)
      .as[(Long, Long)].collect().toSet
    assert(standingSym ++ storeEdges(base1) === appendedArm,
      "durable one-batch store diverged from the appended arm")
    // ── leg 2: restart between the halves == the two-fold reference ──
    val base2 = java.nio.file.Files.createTempDirectory("graft_gingest2").toString
    runIngest(base2, Seq(h1, h2)) // query stops + restarts on one checkpoint
    val (e1, a1) = graft.operators.Similarity
      .appendGraphEdges(h1, standAssign, cents)
    val standing2 = standAssign.unionByName(a1).localCheckpoint()
    val (e2, _) = graft.operators.Similarity
      .appendGraphEdges(h2, standing2, cents)
    val refEdges = e1.select("src", "dst").unionByName(e2.select("src", "dst"))
      .as[(Long, Long)].collect().toSet
    assert(storeEdges(base2) === refEdges,
      "restart-crossing store diverged from the deterministic fold reference")
    // the assign store recovers the batch's exact multi-probe rows
    val storedAssign = spark.read.parquet(s"$base2/store/assign")
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
    val refAssign = graft.operators.Similarity
      .appendGraphEdges(batchDf, standAssign, cents)._2
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
    assert(storedAssign === refAssign,
      "assign store diverged from the batch multi-probe assignment")
    // ── leg 3: replaying the last batch (crash-after-write) is a no-op ──
    GraphIngest.appendBatch(s"$base2/store", cents, standAssign)(h2, 1L)
    assert(storeEdges(base2) === refEdges, "replay changed the edge store")
    assert(spark.read.parquet(s"$base2/store/assign")
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
      === refAssign, "replay changed the assign store")
    // ── leg 4: offline compaction is value-preserving and appendable ──
    // fold the per-batch partitions into batch=-1 (cent_id-bucketed
    // assign, group-maxed edges): both readers must see the same rows,
    // and a NEW batch must still append beside the compacted partition
    // (mixed batch=-1 / batch=N layout). The fresh batch is the query
    // vectors — ids the store has never ingested.
    GraphIngest.compact(spark, s"$base2/store")
    assert(storeEdges(base2) === refEdges, "compaction changed the edge store")
    assert(spark.read.parquet(s"$base2/store/assign")
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
      === refAssign, "compaction changed the assign store")
    val fresh = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") < 3)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
    GraphIngest.appendBatch(s"$base2/store", cents, standAssign)(fresh, 2L)
    val afterIds = spark.read.parquet(s"$base2/store/assign")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(Set(0L, 1L, 2L).subsetOf(afterIds),
      "post-compaction append did not land beside batch=-1")
    val grown = storeEdges(base2)
    assert(refEdges.subsetOf(grown), "post-compaction append lost edges")
    assert((grown -- refEdges).forall(e => e._1 < 3 || e._2 < 3),
      "a post-compaction edge links two pre-existing nodes")
    batchDf.unpersist()
    CachePool.releaseAll()
  }

  test("graph store crash windows: readers refuse a half-finished compaction; recover restores") {
    // r16 verdict #3: compact()'s crash contract used to be a scaladoc
    // comment ("a leftover _precompact directory is the recovery marker
    // an operator acts on") that neither reader enforced — the crash
    // window silently served a half-swapped store. Now every crash
    // window is simulated by hand-placing the marker/aside directories
    // exactly as a killed compact() leaves them, and each one must make
    // standingAssign/edges/compact REFUSE, then recover() must restore
    // the byte-equal original. Plus the r16-advice centroid gate: a
    // misconfigured appendBatch (empty cents) fails on its first batch
    // instead of writing empty partitions forever.
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    import graft.streaming.GraphIngest
    val d = "/root/testdata/sf0.001"
    val fence = graft.operators.Similarity.incFence(spark, d)
    val (cents, standAssign) = graft.operators.Similarity.incStandingState(spark, d)
    val batchDf = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") > fence)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
    val base = java.nio.file.Files.createTempDirectory("graft_gcrash").toString
    val store = s"$base/store"
    GraphIngest.appendBatch(store, cents, standAssign)(batchDf, 0L)
    def readBoth(): (Seq[(Long, Long)], Set[(Long, Long)]) = (
      GraphIngest.standingAssign(spark, store, standAssign)
        .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq,
      GraphIngest.edges(spark, store).as[(Long, Long)].collect().toSet)
    val (refAssign, refEdges) = readBoth()
    val fs = new Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def refusesAll(window: String): Unit = {
      Seq(
        ("standingAssign", () => GraphIngest
          .standingAssign(spark, store, standAssign).count()),
        ("edges", () => GraphIngest.edges(spark, store).count()),
        ("compact", () => { GraphIngest.compact(spark, store); 0L }),
        ("appendBatch", () => {
          GraphIngest.appendBatch(store, cents, standAssign)(batchDf, 9L); 0L
        })).foreach { case (name, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("recover"),
          s"$window: $name must refuse and point at recover(): ${e.getMessage}")
      }
    }
    // window 1 — crash after the _compacting write, before the aside
    // rename: live store untouched, orphan marker present
    fs.mkdirs(new Path(s"$store/assign_compacting"))
    refusesAll("window 1")
    GraphIngest.recover(spark, store)
    assert(readBoth() === ((refAssign, refEdges)), "window-1 recovery changed data")
    // window 2 — crash between the aside rename and the rename-in: the
    // assign sub-store is GONE, only the aside copy exists
    assert(fs.rename(new Path(s"$store/assign"), new Path(s"$store/assign_precompact")))
    fs.mkdirs(new Path(s"$store/assign_compacting"))
    refusesAll("window 2")
    GraphIngest.recover(spark, store)
    assert(readBoth() === ((refAssign, refEdges)), "window-2 recovery changed data")
    // window 3 — crash after the rename-in, before the final delete:
    // the sub-store holds a complete compacted copy AND the aside copy
    // remains; recover restores the (equal-valued) original
    GraphIngest.compact(spark, store) // edges sub now holds the compacted copy
    // stage the aside copy: an equal-valued original-layout edge store
    // (appendGraphEdges is deterministic, so ref2 rebuilds batch 0 exactly)
    GraphIngest.appendBatch(s"$base/ref2", cents, standAssign)(batchDf, 0L)
    assert(fs.rename(new Path(s"$base/ref2/edges"), new Path(s"$store/edges_precompact")))
    refusesAll("window 3")
    GraphIngest.recover(spark, store)
    assert(readBoth() === ((refAssign, refEdges)), "window-3 recovery changed data")
    // recover() is idempotent on a clean store
    GraphIngest.recover(spark, store)
    assert(readBoth() === ((refAssign, refEdges)))
    // the r16-advice gate: empty external centroids fail on the FIRST
    // batch of a fresh store, before anything is written
    val emptyCents = cents.filter(col("cent_id") < Long.MinValue)
    val e = intercept[IllegalArgumentException](
      GraphIngest.appendBatch(s"$base/empty", emptyCents, standAssign)(batchDf, 0L))
    assert(e.getMessage.contains("empty centroid set"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/empty")),
      "a failed-validation appendBatch must write nothing")
    CachePool.releaseAll()
  }
}

/** A local file system under its own scheme whose delete of a
  * `__bucket=` path returns false while [[FaultFs.failBucketDeletes]] is
  * set — a fault that needs no permissions, since the tests run as root.
  */
class FaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfault:///")
  override def getScheme: String = "graftfault"
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (FaultFs.failBucketDeletes && p.getName.startsWith("__bucket=")) false
    else super.delete(p, recursive)
}

object FaultFs {
  @volatile var failBucketDeletes = false
}
