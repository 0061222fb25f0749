package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streaming
import graft.operators.Ingest
import graft.core.{Tables => T}

/** T1-T6: the REAL Structured Streaming path — readStream/MemoryStream
  * sources, watermarked tumbling windows, writeStream sinks, and the
  * streaming dead-letter branch — asserted against the equivalent batch
  * computation (Structured Streaming's correctness contract). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventsStatic = T.load(spark, sfDir, "events").limit(2000).cache()

  test("T1/T5: streamed tumbling window agg equals batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val static = eventsStatic
      .select($"ts", $"event_type", $"value").as[(java.sql.Timestamp, String, Double)]
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")

    val q = Streaming.windowedStats(streamDf, "ts", "value", "event_type")
      .writeStream.format("memory").queryName("t1_windows")
      .outputMode("append").start()
    try {
      mem.addData(static.collect().toSeq)
      q.processAllAvailable()
      // Append mode emits only watermark-closed windows; advance the
      // watermark far past the data with one sentinel event, then drop it.
      mem.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "sentinel", 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("t1_windows")
      .filter($"event_type" =!= "sentinel")
      .orderBy("window_start", "event_type")
      .collect().toSeq
    val batch = Streaming.windowedStats(
        eventsStatic.select($"ts", $"event_type", $"value"),
        "ts", "value", "event_type")
      .orderBy("window_start", "event_type")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("T3: ingestion-time clock windows on the arrival column, " +
      "stream equals batch, and regroups rows vs the event clock") {
    implicit val sqlCtx = spark.sqlContext
    // arrival = event time + a deterministic per-user skew (up to 10
    // min) — late enough that many rows land in a DIFFERENT window
    // under the two clocks, so the assertion below can't pass vacuously
    val static = eventsStatic
      .select($"ts", $"event_type", $"value",
        ($"ts" + expr("make_interval(0, 0, 0, 0, 0, 0, user_id % 600)"))
          .as("ingest_ts"))
    val typed = static
      .as[(java.sql.Timestamp, String, Double, java.sql.Timestamp)]
    val mem = MemoryStream[(java.sql.Timestamp, String, Double,
      java.sql.Timestamp)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "ingest_ts")

    val cfg = Streaming.Config(
      clock = Streaming.IngestionTimeClock("ingest_ts"))
    val q = Streaming.windowedStats(streamDf, "ts", "value", "event_type", cfg)
      .writeStream.format("memory").queryName("t3_ingest_clock")
      .outputMode("append").start()
    try {
      mem.addData(typed.collect().toSeq)
      q.processAllAvailable()
      val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      mem.addData(Seq((far, "sentinel", 0.0, far)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("t3_ingest_clock")
      .filter($"event_type" =!= "sentinel")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = Streaming.windowedStats(static, "ts", "value",
        "event_type", cfg)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // and the knob actually changes the grouping: the event-time
    // windows over the same rows differ
    val eventClock = Streaming.windowedStats(static, "ts", "value",
        "event_type")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(batch != eventClock,
      "ingestion-clock windows unexpectedly identical to event-time windows")
  }

  test("sessionization: streamed session windows equal batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val static = eventsStatic
      .select($"ts", $"user_id").as[(java.sql.Timestamp, Long)]
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val streamDf = mem.toDF().toDF("ts", "user_id")

    val q = Streaming.sessionStats(streamDf, "ts", "user_id")
      .writeStream.format("memory").queryName("t3_sessions")
      .outputMode("append").start()
    try {
      mem.addData(static.collect().toSeq)
      q.processAllAvailable()
      // sessions only emit once the watermark passes their close;
      // advance it with a sentinel user and drop that user after
      mem.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("t3_sessions")
      .filter($"user_id" =!= -1L)
      .orderBy("user_id", "session_start")
      .collect().toSeq
    val batch = Streaming.sessionStats(
        eventsStatic.select($"ts", $"user_id"), "ts", "user_id")
      .orderBy("user_id", "session_start")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("t09: streamed sliding windows equal batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val static = eventsStatic
      .select($"ts", $"event_type", $"value")
      .as[(java.sql.Timestamp, String, Double)]
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")

    val q = Streaming.slidingStats(streamDf, "ts", "value", "event_type")
      .writeStream.format("memory").queryName("t9_sliding")
      .outputMode("append").start()
    try {
      mem.addData(static.collect().toSeq)
      q.processAllAvailable()
      mem.addData(Seq(
        (java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "sentinel", 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("t9_sliding")
      .filter($"event_type" =!= "sentinel")
      .orderBy("window_start", "event_type")
      .collect().toSeq
    val batch = Streaming.slidingStats(
        eventsStatic.select($"ts", $"event_type", $"value"),
        "ts", "value", "event_type")
      .orderBy("window_start", "event_type")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // 4-way membership: total per-window event count = 4 × raw count
    val total = batch.map(_.getLong(3)).sum
    assert(total == 4L * eventsStatic.count(),
      s"each event must land in exactly 4 sliding windows ($total)")
  }

  test("T2: window_start/window_end metadata is projected") {
    val row = Streaming.windowedStats(eventsStatic, "ts", "value", "event_type")
      .select("window_start", "window_end", "stat_hour").limit(1).collect().head
    val (start, end) = (row.getTimestamp(0), row.getTimestamp(1))
    assert(end.getTime - start.getTime == 60000L)
  }

  test("T4: lateness parameter reaches the watermark") {
    // On batch inputs EliminateEventTimeWatermark drops the node (that
    // elimination is itself the batch≡stream design), so assert on a
    // genuinely streaming frame where the watermark must survive.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val plan = Streaming.windowedStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        "ts", "value", "event_type",
        Streaming.Config(lateness = "5 minutes"))
      .queryExecution.logical.toString
    assert(plan.contains("5 minutes"))
  }

  test("T4: an event older than the watermark is dropped and ACCOUNTED") {
    // the operational half of lateness: the row must not reach the
    // aggregate, and the engine must say so (numRowsDroppedByWatermark
    // in the state-operator progress) — silent late-data loss is how
    // streaming pipelines lie about completeness
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streaming.windowedStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        "ts", "value", "event_type")
      .writeStream.format("memory").queryName("t4_late")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1 advances the watermark to 12:00 (lateness 0)
      mem.addData(Seq((t("2024-01-01 12:00:00"), "on_time", 5.0)))
      q.processAllAvailable()
      // batch 2: an 11:00 event is behind the watermark -> dropped
      mem.addData(Seq((t("2024-01-01 11:00:00"), "late", 3.0)))
      q.processAllAvailable()
      // sentinel flushes the open 12:00 window
      mem.addData(Seq((t("2030-01-01 00:00:00"), "sentinel", 0.0)))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1, s"late row not accounted: dropped=$dropped")
    } finally q.stop()
    val types = spark.table("t4_late").select("event_type")
      .collect().map(_.getString(0)).toSet
    assert(types.contains("on_time") && !types.contains("late"),
      s"late row leaked into output: $types")
  }

  test("T7-adjacent: restart from checkpoint neither drops nor duplicates") {
    // memory sinks can't recover; the parquet sink + checkpoint is the
    // exactly-once path the engine's streaming story rests on.
    val inDir = Files.createTempDirectory("graft_restart_in").toString
    val ckDir = Files.createTempDirectory("graft_restart_ck").toString
    val outDir = Files.createTempDirectory("graft_restart_out").toString
    val batch1 = Ingest.rawRecords(spark, sfDir)
      .filter(col("event_id") < 400).select(col("raw"))
    val batch2 = Ingest.rawRecords(spark, sfDir)
      .filter(col("event_id").between(400, 799)).select(col("raw"))
    batch1.write.mode("overwrite").text(inDir)

    def runToCompletion(): Unit = {
      val q = spark.readStream.textFile(inDir).toDF("raw")
        .transform(Ingest.parseRecords(_, "restart"))
        .filter(col("error_type").isNull)
        .select("trip_id")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runToCompletion()
    val afterFirst = spark.read.parquet(outDir).count()
    // new input lands while the query is DOWN; restart from checkpoint
    batch2.write.mode("append").text(inDir)
    runToCompletion()
    val out = spark.read.parquet(outDir).cache()
    val expectedValid = Ingest.valid(Ingest.parseRecords(
      batch1.union(batch2), "restart")).count()
    assert(afterFirst > 0)
    assert(out.count() == expectedValid,
      s"restart lost or duplicated rows: got ${out.count()}, want $expectedValid")
    assert(out.distinct().count() == out.count(), "duplicate trip ids emitted")
  }

  test("streaming dedup: redelivered events within the watermark emit exactly once") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val streamDf = mem.toDF().toDF("ts", "event_id", "event_type")

    val q = Streaming.dedupedEvents(streamDf, "ts", "event_id")
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      mem.addData(Seq((ts(0), 1L, "a"), (ts(1), 2L, "b"), (ts(1), 2L, "b")))
      q.processAllAvailable()
      // redelivery in a LATER micro-batch, still inside the 10-minute
      // state window — the state store must drop it
      mem.addData(Seq((ts(2), 1L, "a"), (ts(3), 3L, "c")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("t_dedup").collect()
    assert(out.length == 3, s"expected exactly-once ids, got ${out.toSeq}")
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("t11: streamed windowed distinct users equals batch; cross-batch " +
      "re-activity inside a window counts once") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val streamDf = mem.toDF().toDF("ts", "user_id")
    val q = Streaming.windowedDistinctUsers(streamDf)
      .writeStream.format("memory").queryName("t11_distinct")
      .outputMode("append").start()
    try {
      // user 1 twice in one batch, user 2 once
      mem.addData(Seq((ts(0), 1L), (ts(5), 1L), (ts(10), 2L)))
      q.processAllAvailable()
      // user 1 AGAIN in a later micro-batch, same hour window — the
      // dedup state, not the batch boundary, must decide
      mem.addData(Seq((ts(20), 1L), (ts(30), 3L)))
      q.processAllAvailable()
      // sentinel advances the watermark past the 10:00 window
      mem.addData(Seq((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 9L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t11_distinct")
      .filter(col("window_start") === ts(0))
      .select("n_users").collect().map(_.getLong(0)).toSeq
    assert(streamed == Seq(3L), s"streamed window: $streamed")

    // batch equivalence on the same rows
    val batch = Streaming.windowedDistinctUsers(
      Seq((ts(0), 1L), (ts(5), 1L), (ts(10), 2L), (ts(20), 1L),
        (ts(30), 3L)).toDF("ts", "user_id"))
      .collect()
    assert(batch.length == 1 && batch(0).getAs[Long]("n_users") == 3L)
  }

  test("streaming upsert: foreachBatch merges micro-batches into the versioned table, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val sn = new graft.plans.Snapshots(graft.core.Scratch.dir("stream_upsert"))
    val table = "kv"

    val mem = MemoryStream[(Long, Double, Long)]
    val q = Streaming.upsertSink(mem.toDF().toDF("k", "v", "seq"),
        sn, table, "k", "seq")
      .option("checkpointLocation",
        graft.core.Scratch.dir("stream_upsert_ck"))
      .start()
    try {
      // bootstrap: first batch against a fresh table seeds it, and an
      // insert-then-correct pair for k=1 must resolve to the higher seq
      mem.addData(Seq((1L, 9.0, 1L), (1L, 10.0, 2L), (3L, 0.0, 3L)))
      q.processAllAvailable()
      mem.addData(Seq((2L, 20.0, 4L), (4L, 4.0, 5L)))  // update + insert
      q.processAllAvailable()
    } finally q.stop()

    def snapshot() = sn.current(spark, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val afterStream = snapshot()
    assert(afterStream == Map(1L -> 10.0, 2L -> 20.0, 3L -> 0.0, 4L -> 4.0),
      s"merge result wrong: $afterStream")
    assert(sn.versions(table).size == 2, "one version per non-empty batch")

    // replay the last batch (what foreachBatch does after a crash
    // between effect and checkpoint): the row set must not change —
    // idempotent effects are the exactly-once contract
    Streaming.applyUpsertBatch(sn, table, "k", "seq")(
      Seq((2L, 20.0, 4L), (4L, 4.0, 5L)).toDF("k", "v", "seq"))
    assert(snapshot() == afterStream, "batch replay must be idempotent")

    // an empty batch must not commit a new (identical) version
    val before = sn.versions(table).size
    Streaming.applyUpsertBatch(sn, table, "k", "seq")(
      Seq.empty[(Long, Double, Long)].toDF("k", "v", "seq"))
    assert(sn.versions(table).size == before,
      "empty batch must not churn a version")

    // a LATER batch carrying an OLDER change (lagging source partition,
    // seq below the stored one) must not overwrite the newer row
    Streaming.applyUpsertBatch(sn, table, "k", "seq")(
      Seq((1L, 9.0, 1L)).toDF("k", "v", "seq"))
    assert(snapshot() == afterStream,
      "stale cross-batch update must lose to the stored seq")
  }

  test("streaming upsert is file-granularity CoW: dirs without batch " +
      "keys carry over as manifest entries, byte-identical") {
    import spark.implicits._
    val root = graft.core.Scratch.dir("upsert_cow")
    val sn = new graft.plans.Snapshots(root)
    def files(rel: String): Map[String, Long] =
      Option(new java.io.File(s"$root/$rel").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((1L, 1.0, 1L), (2L, 2.0, 1L)).toDF("k", "v", "seq")) // v1 → d1
    val d1 = sn.readManifest("t", 1).head
    val d1Files = files(d1)
    // disjoint key set: no dir is touched, the batch lands as a new
    // dir and d1 carries over in the manifest
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((10L, 1.0, 2L)).toDF("k", "v", "seq"))               // v2 → d1+d2
    assert(sn.readManifest("t", 2).contains(d1))
    val d2 = sn.readManifest("t", 2).last
    // update hitting only d2's key: d2 is rewritten, d1 must survive
    // with its exact files
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((10L, 3.0, 3L)).toDF("k", "v", "seq"))               // v3 → d1+d3
    val m3 = sn.readManifest("t", 3)
    assert(m3.contains(d1) && !m3.contains(d2),
      s"CoW merge must keep untouched dirs and replace touched ones: $m3")
    assert(files(d1) == d1Files,
      "untouched dir must be byte-identical across merges")
    val state = sn.current(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 1.0, 2L -> 2.0, 10L -> 3.0))
  }

  test("upsert sink on a MoR table: delete entries carry across batch " +
      "commits and the rewrite never resurrects MoR-deleted rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = graft.core.Scratch.dir("upsert_mor")
    val sn = new graft.plans.Snapshots(root)
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((1L, 1.0, 1L), (2L, 2.0, 1L), (3L, 3.0, 1L))
        .toDF("k", "v", "seq"))                                // v1 → d1
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((10L, 10.0, 2L)).toDF("k", "v", "seq"))              // v2 → d1+d2
    sn.deleteWhereMoR(spark, "t", col("k") === 2L, Seq("k"))   // v3
    // batch touches d1 (key 1) → d1 rewrites THROUGH the MoR frame,
    // so key 2 must not come back; the delete entry must survive in
    // the new manifest (it still guards d2, which didn't rewrite)
    Streaming.applyUpsertBatch(sn, "t", "k", "seq")(
      Seq((1L, 9.0, 3L)).toDF("k", "v", "seq"))                // v4
    val e4 = sn.readEntries("t", sn.currentVersion("t").get)
    assert(e4.exists(_.kind == "delete"),
      "the sink must carry delete entries forward, not drop them")
    val state = sn.current(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 9.0, 3L -> 3.0, 10L -> 10.0),
      s"MoR-deleted key must stay deleted through a sink rewrite: $state")
  }

  test("upsert sink runs each micro-batch's plan once: a counting " +
      "projection above the windowed aggregate sees every output row once") {
    // foreachBatch hands the sink a frame over the micro-batch's planned
    // RDD, so every action on it re-runs the stateful aggregate and
    // commits its state store again; the counter sits above the
    // aggregate and counts each execution of the batch's rows
    implicit val sqlCtx = spark.sqlContext
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $t")
    val sn = new graft.plans.Snapshots(graft.core.Scratch.dir("upsert_once"))
    // an empty bootstrap batch commits nothing and throws nothing
    Streaming.applyUpsertBatch(sn, "w", "window_key", "trip_count")(
      Seq.empty[(String, Long)].toDF("window_key", "trip_count"))
    assert(sn.versions("w").isEmpty, "an empty bootstrap must not commit")

    val seen = spark.sparkContext.longAccumulator("upsert_once_rows")
    val counted = udf { (k: String) => seen.add(1L); k }.asNondeterministic()
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stats = Streaming.windowedStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        "ts", "value", "event_type")
      .withColumn("window_key", counted(concat_ws("|",
        col("window_start").cast("string"), col("event_type"))))
    val q = Streaming.upsertSink(stats, sn, "w", "window_key", "trip_count")
      .outputMode("update")
      .option("checkpointLocation", graft.core.Scratch.dir("upsert_once_ck"))
      .start()
    // rows the counter saw while the batch(es) for `rows` ran
    def executedRows(rows: Seq[(java.sql.Timestamp, String, Double)]): Long = {
      val before = seen.value
      mem.addData(rows)
      q.processAllAvailable()
      seen.value - before
    }
    try {
      // bootstrap batch: three (window, type) groups are emitted
      assert(executedRows(Seq((ts("10:00:05"), "view", 1.0),
        (ts("10:00:10"), "view", 2.0), (ts("10:00:20"), "buy", 3.0),
        (ts("10:01:05"), "view", 4.0))) == 3L)
      assert(sn.versions("w") == Seq(1))
      // two groups updated, one of them already stored
      assert(executedRows(Seq((ts("10:01:30"), "view", 5.0),
        (ts("10:02:00"), "buy", 6.0))) == 2L)
      assert(sn.versions("w") == Seq(1, 2))
      // every row behind the watermark: the batch emits nothing
      assert(executedRows(Seq((ts("09:00:00"), "view", 7.0))) == 0L)
      assert(sn.versions("w") == Seq(1, 2), "an empty batch must not commit")
    } finally q.stop()
    val state = sn.current(spark, "w").collect()
      .map(r => r.getAs[String]("window_key") -> r.getAs[Long]("trip_count"))
      .toMap
    assert(state == Map("2026-01-01 10:00:00|view" -> 2L,
      "2026-01-01 10:00:00|buy" -> 1L, "2026-01-01 10:01:00|view" -> 2L,
      "2026-01-01 10:02:00|buy" -> 1L), s"upserted windows wrong: $state")
    // a few rows fit one read split: each commit wrote one file
    val files = sn.readEntries("w", 2).map(e =>
      new java.io.File(s"${sn.rootDir}/${e.rel}").listFiles()
        .count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_ == 1), s"files per dir: $files")
  }

  test("T5/T7: IN-FLIGHT windowed-aggregation state survives kill/" +
      "resume — rows from both incarnations merge into one window") {
    // The upsert kill/resume case below proves offset/effect recovery
    // for foreachBatch (state in an external table); this one proves
    // the HARD half: the state-store contents of an OPEN window —
    // partial counts/sums the sink has never seen — must be restored
    // from the checkpoint by the next incarnation and merged with
    // post-outage arrivals. A count of 3 for the window can only exist
    // if incarnation 2 recovered incarnation 1's in-flight 2 and added
    // its own 1 — replaying from scratch would give 1, double-applying
    // would give 4+.
    implicit val sqlCtx = spark.sqlContext
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $t")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val ck = Files.createTempDirectory("graft_winstate_ck").toString
    val outDir = Files.createTempDirectory("graft_winstate_out").toString
    def incarnation() = Streaming.windowedStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        "ts", "value", "event_type")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ck).outputMode("append").start()

    // incarnation 1: two rows land in the 10:00:00 minute window —
    // the window stays OPEN (watermark at 10:00:20), so the sink has
    // emitted nothing when the query is killed
    val q1 = incarnation()
    try {
      mem.addData(Seq((ts("10:00:05"), "view", 10.0),
        (ts("10:00:20"), "view", 20.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.schema(
        "window_start timestamp, window_end timestamp, " +
        "stat_hour timestamp, event_type string, trip_count long, " +
        "avg_value double, total_revenue double")
      .parquet(outDir).isEmpty,
      "the open window must not have been emitted before the kill")

    // a third same-window row arrives during the outage
    mem.addData(Seq((ts("10:00:40"), "view", 30.0)))
    val q2 = incarnation()
    try {
      q2.processAllAvailable()
      // sentinel advances the watermark past the window, closing it
      mem.addData(Seq((ts("12:00:00"), "sentinel", 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()

    val out = spark.read.parquet(outDir)
      .filter($"event_type" =!= "sentinel")
      .select("window_start", "event_type", "trip_count", "avg_value",
        "total_revenue")
      .collect().toSeq
    val batch = Streaming.windowedStats(
        Seq((ts("10:00:05"), "view", 10.0), (ts("10:00:20"), "view", 20.0),
          (ts("10:00:40"), "view", 30.0))
          .toDF("ts", "event_type", "value"),
        "ts", "value", "event_type")
      .select("window_start", "event_type", "trip_count", "avg_value",
        "total_revenue")
      .collect().toSeq
    assert(out.size == 1 && out == batch,
      s"recovered window wrong: $out vs batch $batch")
    assert(out.head.getAs[Long]("trip_count") == 3L,
      "in-flight state was lost (count 1) or double-applied (count 4+) " +
        s"across the restart: ${out.head}")
  }

  test("T7: kill/resume from checkpoint — a second query incarnation " +
      "converges to the uninterrupted run's state AND version count") {
    // The exactly-once claim (SURVEY T7 note), demonstrated rather
    // than asserted: the same batch sequence is driven through (a) one
    // uninterrupted query and (b) a query KILLED after the first
    // batch, with the second batch arriving while it is down, then a
    // NEW query incarnation resuming from the same checkpoint. Final
    // table state and committed version count must be identical —
    // proving the resumed incarnation neither re-applies the batch the
    // checkpoint already committed nor skips the one that arrived
    // during the outage. (The crash-BETWEEN-effect-and-checkpoint arm
    // is the applyUpsertBatch replay-idempotence case above; together
    // they cover both halves of exactly-once.)
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, 1.0, 1L), (2L, 2.0, 2L))
    val b2 = Seq((1L, 10.0, 3L), (3L, 3.0, 4L))
    val b3 = Seq((2L, 20.0, 5L), (4L, 4.0, 6L))
    val want = Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0)

    def state(sn: graft.plans.Snapshots) = sn.current(spark, "kv")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // control: one uninterrupted query over all three batches
    val snC = new graft.plans.Snapshots(graft.core.Scratch.dir("t7_ctl"))
    val memC = MemoryStream[(Long, Double, Long)]
    val qc = Streaming.upsertSink(memC.toDF().toDF("k", "v", "seq"),
        snC, "kv", "k", "seq")
      .option("checkpointLocation", graft.core.Scratch.dir("t7_ctl_ck"))
      .start()
    try {
      Seq(b1, b2, b3).foreach { b => memC.addData(b); qc.processAllAvailable() }
    } finally qc.stop()

    // interrupted: killed after b1; b2 lands during the outage; a new
    // incarnation over the SAME checkpoint + source must pick up b2
    // exactly once and then consume b3 live
    val snI = new graft.plans.Snapshots(graft.core.Scratch.dir("t7_int"))
    val memI = MemoryStream[(Long, Double, Long)]
    val ck = graft.core.Scratch.dir("t7_int_ck")
    def incarnation() =
      Streaming.upsertSink(memI.toDF().toDF("k", "v", "seq"),
          snI, "kv", "k", "seq")
        .option("checkpointLocation", ck).start()
    val q1 = incarnation()
    try { memI.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val afterKill = state(snI)
    memI.addData(b2) // arrives while no query is running
    val q2 = incarnation()
    try {
      q2.processAllAvailable()
      memI.addData(b3); q2.processAllAvailable()
    } finally q2.stop()

    assert(afterKill == Map(1L -> 1.0, 2L -> 2.0),
      s"pre-kill state wrong: $afterKill")
    assert(state(snI) == want && state(snC) == want,
      s"resumed ${state(snI)} vs control ${state(snC)}")
    assert(snI.versions("kv").size == snC.versions("kv").size,
      "resumed run committed a different number of versions " +
        s"(${snI.versions("kv").size} vs ${snC.versions("kv").size}) — " +
        "a batch was re-applied or dropped across the restart")
  }

  test("S2-adjacent: malformed CSV rows route to a corrupt-record column, not a crash") {
    // The reference's CSV parse tests feed malformed lines
    // (/root/reference/PRD.md:3193-3230); PERMISSIVE mode + a declared
    // corrupt-record column is the Spark dead-letter analog.
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_badcsv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/data.csv"),
      """id,amount,when
        |1,10.5,2024-01-01T00:00:00
        |2,not-a-number,2024-01-02T00:00:00
        |3,30.25,2024-01-03T00:00:00
        |totally,broken,line,with,extra,fields
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("amount", DoubleType),
      StructField("when", TimestampType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(dir)
      .cache()
    assert(df.count() == 4)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNull && col("amount").isNotNull)
      .count() == 2)
  }

  test("T3/T6/S3: file-source stream with dead-letter branch routes every line once") {
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString
    // JSONL input: taxi-shaped lines from the ingest synthesizer (real
    // file source = the engine's Pub/Sub stand-in, SURVEY §2.1 S3).
    Ingest.rawRecords(spark, sfDir).limit(1000).select("raw")
      .write.mode("overwrite").text(inDir)

    val rawStream = spark.readStream.textFile(inDir).toDF("raw")
    val parsed = Ingest.parseRecords(rawStream, "graft-streaming")
    val validQ = parsed.filter(col("error_type").isNull)
      .writeStream.format("memory").queryName("t6_valid")
      .option("checkpointLocation", s"$ckDir/valid")
      .outputMode("append").start()
    val deadQ = Streaming.deadLetters(rawStream, "graft-streaming")
      .writeStream.format("memory").queryName("t6_dead")
      .option("checkpointLocation", s"$ckDir/dead")
      .outputMode("append").start()
    try { validQ.processAllAvailable(); deadQ.processAllAvailable() }
    finally { validQ.stop(); deadQ.stop() }

    val nValid = spark.table("t6_valid").count()
    val nDead = spark.table("t6_dead").count()
    assert(nValid + nDead == 1000)
    val types = spark.table("t6_dead").select("error_type")
      .distinct().as[String].collect().toSet
    assert(types.contains("json_parsing_failed"))
    assert(spark.table("t6_dead").columns.toSeq ==
      Seq("error", "record", "error_type", "pipeline_name"))
  }

  test("t05: streamed click->purchase attribution equals the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val ev = eventsStatic
    val clicksStatic = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"))
    val buysStatic = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("buy_ts"), $"value")

    val memC = MemoryStream[(Long, java.sql.Timestamp)]
    val memP = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Streaming.attributionJoin(
        memC.toDF().toDF("user_id", "click_ts"),
        memP.toDF().toDF("user_id", "buy_ts", "value"))
      .writeStream.format("memory").queryName("t5_attr")
      .outputMode("append").start()
    try {
      memC.addData(clicksStatic.as[(Long, java.sql.Timestamp)].collect().toSeq)
      memP.addData(
        buysStatic.as[(Long, java.sql.Timestamp, Double)].collect().toSeq)
      q.processAllAvailable()
      // inner stream-stream join emits matches as both sides arrive;
      // advance both watermarks so every buffered pair flushes
      val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      memC.addData(Seq((-1L, far)))
      memP.addData(Seq((-1L, far, 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3))
    val streamed = spark.table("t5_attr").filter($"user_id" >= 0)
      .collect().map(key).sorted
    val batch = Streaming.attributionJoin(clicksStatic, buysStatic)
      .collect().map(key).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("t10: streamed OUTER attribution equals batch; watermark " +
      "eviction emits the organic (unmatched) purchases") {
    implicit val sqlCtx = spark.sqlContext
    val ev = eventsStatic
    val clicksStatic = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"))
    val buysStatic = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("buy_ts"), $"value")

    val memC = MemoryStream[(Long, java.sql.Timestamp)]
    val memP = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Streaming.attributionJoinOuter(
        memC.toDF().toDF("user_id", "click_ts"),
        memP.toDF().toDF("user_id", "buy_ts", "value"))
      .writeStream.format("memory").queryName("t10_attr")
      .outputMode("append").start()
    try {
      memC.addData(clicksStatic.as[(Long, java.sql.Timestamp)].collect().toSeq)
      memP.addData(
        buysStatic.as[(Long, java.sql.Timestamp, Double)].collect().toSeq)
      q.processAllAvailable()
      // Note: unmatched (null-click) rows appear WITHOUT any sentinel —
      // the watermark computed at the end of the first batch is applied
      // by the trailing no-data micro-batch, which evicts every click
      // whose join window the max event time has passed. The sentinel
      // rounds below only flush the stragglers near the stream's end.
      val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      memC.addData(Seq((-1L, far))); memP.addData(Seq((-1L, far, 0.0)))
      q.processAllAvailable()
      memC.addData(Seq((-2L, far))); memP.addData(Seq((-2L, far, 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.getTime).getOrElse(-1L),
        r.getTimestamp(2).getTime, r.getDouble(3))
    val streamed = spark.table("t10_attr").filter($"user_id" >= 0)
      .collect().map(key).sorted
    val batch = Streaming.attributionJoinOuter(clicksStatic, buysStatic)
      .collect().map(key).sorted
    assert(streamed.exists(_._2 == -1L),
      "expected at least one organic (null-click) purchase")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("t07: stream-static enrichment joins each micro-batch against the dim") {
    implicit val sqlCtx = spark.sqlContext
    val static = eventsStatic.select($"user_id", $"event_type")
      .as[(Long, String)]
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.enrichWithTier(
        mem.toDF().toDF("user_id", "event_type"))
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("t7_enrich")
      .outputMode("complete").start()
    try {
      mem.addData(static.collect().toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t7_enrich")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Streaming.enrichWithTier(eventsStatic)
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // the join must be a broadcast lookup — a shuffled stream side
    // would defeat the whole shape
    val plan = Streaming.enrichWithTier(eventsStatic)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$plan")
    // the unmatched-dim branch must actually fire (at the gate scale
    // factors every fixture user_id falls inside the dim's [0,150)
    // range, so only this planted out-of-range user exercises it — an
    // inner join or dropped coalesce would silently discard the row)
    val planted = Streaming.enrichWithTier(
      Seq((9999L, "click"), (3L, "click")).toDF("user_id", "event_type"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[String]("tier")).toMap
    assert(planted(9999L) == "unknown", s"unmatched user lost: $planted")
    assert(planted(3L) == "regular") // 3 % 10 = 3 -> the 2..5 band
  }

  test("t06: mapGroupsWithState converges to the batch fold") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import Streaming.{UserEvent, UserProfile}
    implicit val sqlCtx = spark.sqlContext

    val static = eventsStatic
      .select($"user_id", $"event_id", $"ts", $"value").as[UserEvent]
    val mem = MemoryStream[UserEvent]

    // state = the events seen so far; each batch re-folds state ∪ new.
    // (A real deployment folds incrementally; buffering keeps the spec
    // honest about WHAT converges without duplicating the transition.)
    def update(uid: Long, batch: Iterator[UserEvent],
        st: GroupState[Seq[UserEvent]]): UserProfile = {
      val all = st.getOption.getOrElse(Seq.empty) ++ batch
      st.update(all)
      Streaming.foldUser(uid, all.iterator)
    }
    val q = mem.toDS().groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .writeStream.format("memory").queryName("t6_profile")
      .outputMode("update").start()
    try {
      // two batches: the second must REVISE the first's emitted state
      val (a, b) = static.collect().toSeq.splitAt(800)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()

    // update mode emits one row per touched key per batch; the LAST
    // emission per key is the converged state. Select it by max
    // n_events — monotone per key because the state buffer only ever
    // grows (a batch touching a key appends >= 1 event). NOT by
    // monotonically_increasing_id over the sink table: that id encodes
    // partition index, not commit order, so a later micro-batch landing
    // in a lower-indexed partition would pick a stale profile.
    val streamed = spark.table("t6_profile")
      .groupBy($"user_id").agg(max(struct($"n_events",
        $"total_value", $"max_gap_ms")).as("s"))
      .select($"user_id", $"s.n_events", $"s.total_value", $"s.max_gap_ms")
      .as[UserProfile].collect().sortBy(_.user_id).toSeq
    val batch = static.groupByKey(_.user_id)
      .mapGroups((uid, it) => Streaming.foldUser(uid, it))
      .collect().sortBy(_.user_id).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("t08: transformWithState (StatefulProcessor + ValueState) " +
      "converges to the batch fold with O(users) state") {
    import Streaming.{UserEvent, UserProfile}
    implicit val sqlCtx = spark.sqlContext

    // transformWithState requires the RocksDB state store; restore the
    // session default afterwards (other suites share this session)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val static = eventsStatic
        .select($"user_id", $"event_id", $"ts", $"value").as[UserEvent]
      val mem = MemoryStream[UserEvent]
      val q = mem.toDS().groupByKey(_.user_id)
        .transformWithState(new Streaming.ProfileProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .writeStream.format("memory").queryName("t8_profile")
        .outputMode("update").start()
      try {
        // ordered slices per key (the spec contract under which the
        // incremental fold equals the batch fold): split by TIME, so
        // every key's batch-2 events follow its batch-1 events
        val all = static.collect().toSeq
          .sortBy(e => (e.ts.getTime, e.event_id))
        val (a, b) = all.splitAt(all.size / 2)
        mem.addData(a); q.processAllAvailable()
        mem.addData(b); q.processAllAvailable()
      } finally q.stop()

      // last emission per key = converged profile (max n_events is
      // monotone per key, same selection rule as t06)
      val streamed = spark.table("t8_profile")
        .groupBy($"user_id").agg(max(struct($"n_events",
          $"total_value", $"max_gap_ms")).as("s"))
        .select($"user_id", $"s.n_events", $"s.total_value", $"s.max_gap_ms")
        .as[UserProfile].collect().sortBy(_.user_id).toSeq
      val batch = static.groupByKey(_.user_id)
        .mapGroups((uid, it) => Streaming.foldUser(uid, it))
        .collect().sortBy(_.user_id).toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("t12: per-micro-batch CMS partials merged via foreachBatch equal " +
      "the single-pass batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.ScaleOps
    val ids = eventsStatic.select($"user_id").as[Long].collect().toSeq
    // driver-side accumulator: (seed, bucket) -> count, merged counter-
    // wise per micro-batch — the per-executor partial-sketch shape
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("user_id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch
          .select(explode(ScaleOps.cmsPositions(col("user_id"))).as("c"))
          .groupBy(col("c.sd"), col("c.pos")).agg(count(lit(1)).as("n"))
          .collect()
          .foreach { r =>
            val k = (r.getLong(0), r.getLong(1))
            acc(k) = acc.getOrElse(k, 0L) + r.getLong(2)
          }
        ()
      }
      .start()
    try {
      // four uneven micro-batches
      ids.grouped(math.max(1, ids.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batchSketch = eventsStatic
      .select(explode(ScaleOps.cmsPositions($"user_id")).as("c"))
      .groupBy($"c.sd", $"c.pos").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(acc.toMap === batchSketch,
      "streamed partial-sketch merge diverged from the batch sketch")
  }

  test("t14: flatMapGroupsWithState band dedup converges to the batch " +
      "min-id ownership flags under out-of-order micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val docsStatic = T.load(spark, sfDir, "documents")
      .limit(150).select($"doc_id", $"text").cache()
    val rows = docsStatic.as[(Long, String)].collect().toSeq

    val mem = MemoryStream[(Long, String)]
    val keyed = Streaming.bandKeyRows(
        mem.toDF().toDF("doc_id", "text"))
      .as[(Long, Int, Long)]
    // one LONG of state per band key: the min doc_id seen; a doc is
    // flagged on a key when a lower id exists in state or in-batch
    val flags = keyed.groupByKey { case (_, bi, bk) => (bi, bk) }
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), it: Iterator[(Long, Int, Long)],
            state: GroupState[Long]) =>
          val ids = it.map(_._1).toVector.distinct.sorted
          val prior = state.getOption
          val allMin = math.min(prior.getOrElse(Long.MaxValue), ids.head)
          // flag = some STRICTLY LOWER id shares this key. When a new
          // global min arrives late, exactly ONE retro-flag is owed:
          // the previous min (everything else was already > old min,
          // hence already flagged) — the reason min-id state suffices
          // for exact convergence.
          val out = ids.map(id => (id, id > allMin)) ++
            prior.filter(_ > allMin).map(p => (p, true))
          state.update(allMin)
          out.iterator
      }
      .toDF("doc_id", "flag")
    val q = flags.writeStream.format("memory").queryName("t14_flags")
      .outputMode("update").start()
    try {
      // three micro-batches grouped by doc_id % 3: low ids arrive in
      // EVERY batch, so ownership must compose across state + in-batch
      (0 until 3).foreach { b =>
        mem.addData(rows.filter(_._1 % 3 == b))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamedFlagged = spark.table("t14_flags")
      .groupBy($"doc_id").agg(max($"flag").as("f"))
      .filter($"f").select($"doc_id").as[Long].collect().toSet

    val keyedB = Streaming.bandKeyRows(docsStatic)
    val owner = keyedB.groupBy($"band_idx", $"band_key")
      .agg(min($"doc_id").as("owner"))
    val batchFlagged = keyedB.join(owner, Seq("band_idx", "band_key"))
      .filter($"owner" < $"doc_id")
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(batchFlagged.nonEmpty,
      "fixture has no near-dup band collisions — the test is vacuous")
    assert(streamedFlagged === batchFlagged)
  }

  test("d22 streamed: foreachBatch delta joins accumulate to the full " +
      "recompute (join-IVM under micro-batched appends)") {
    implicit val sqlCtx = spark.sqlContext
    // static side B and an append-only stream of A-deltas: each batch
    // contributes exactly ΔA⋈B (B is static, so the ΔA⋈ΔB and A⋈ΔB
    // terms are empty — the streaming degenerate of d22's full rule)
    val b = T.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice").cache()
    val aRows = T.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderpriority")
      .as[(Long, String)].collect().toSeq
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("o_orderkey", "o_orderpriority")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.join(b, batch("o_orderkey") === b("l_orderkey"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(($"l_extendedprice" * 100).cast("long")).as("cents"))
          .collect()
          .foreach(r => acc += ((r.getString(0), r.getLong(1),
            r.getLong(2))))
        ()
      }.start()
    try {
      aRows.grouped(math.max(1, aRows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = acc.groupBy(_._1).view
      .mapValues(v => (v.map(_._2).sum, v.map(_._3).sum)).toMap
    val full = T.load(spark, sfDir, "orders")
      .join(b, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(($"l_extendedprice" * 100).cast("long")).as("cents"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === full,
      "micro-batched delta joins diverged from the full recompute")
  }

  test("t14: the registered candidate-derived rollup equals the direct " +
      "ownership rollup") {
    val direct = Streaming.bandDedupFlags(
        T.load(spark, sfDir, "documents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val derived = SparkEntry.queries("t14_stream_band_dedup")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(direct.toSeq === derived.toSeq)
  }
}
