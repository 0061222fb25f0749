package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** `stream_tail`: writes beside reads on one store, in closed-loop
  * rounds. Each round stamps and writes one small JSONL file, ingests it
  * as one append to `trips`, and drives the `graft-snapshots` tail of
  * `trips` through `Streaming.windowedStats` (update mode) into
  * `Streaming.upsertSink` with `processAllAvailable()`. The next round
  * starts only when this one is visible in `window_stats`, so a round is
  * exactly one commit and one micro-batch, whatever the machine's speed.
  *
  * The unit operation is a round's freshness: from the stamp to the
  * round's events being reflected in `window_stats`. The first rounds
  * are the untimed warm-up, on the same tail. */
object StreamTail {
  /** Below the store's default of 64 so that both tables' histories cross
    * it within the rounds the run time allows. */
  val SegThreshold = 6

  def run(ctx: Ctx): Unit = {
    val plan = ctx.props("stream/plan.properties")
    if (Trace.enabled)
      ctx.extra("json_parses_in_plan") = Lifecycle.jsonParsesInPlan(
        ctx.spark, s"${ctx.in}/stream/r001.jsonl")
    val spark = ctx.spark
    val inDir = s"${ctx.in}/stream"
    val warm = plan("warm_rounds").toInt
    val rounds = plan("rounds").toInt
    val root = s"${ctx.work}/tables/tail"
    val landing = s"${ctx.work}/landing/tail"
    Files.createDirectories(Paths.get(landing))
    val store = new Store(root, SegThreshold)
    def land(r: Int): String = {
      val dst = f"$landing/r$r%03d.jsonl"
      Files.write(Paths.get(dst), Files.readAllBytes(Paths.get(f"$inDir/r$r%03d.jsonl")))
      dst
    }
    // the history is the table the tail starts from (its initial snapshot)
    val history = s"$inDir/h000.jsonl"
    ctx.phase("start")
    Lifecycle.ingest(spark, store, history, withDeadLetters = false)
    ctx.phase("history loaded")
    val events = spark.readStream.format("graft-snapshots")
      .option("root", root).option("table", "trips").load()
    val stats = Streaming.windowedStats(events, "pickup_datetime",
        "total_amount", "payment_type",
        Streaming.Config(windowSeconds = plan("window_seconds").toInt))
      .withColumn("window_key",
        concat_ws("|", col("window_start").cast("string"), col("payment_type")))
    val query = Streaming.upsertSink(stats, store, "window_stats",
        "window_key", "trip_count")
      .outputMode("update")
      .option("checkpointLocation", s"${ctx.work}/checkpoints/tail")
      .start()
    var work = 0.0
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lag = 0
    try {
      query.processAllAvailable()
      ctx.phase("initial batch done")
      for (r <- 1 to warm + rounds) {
        val measured = r > warm
        if (measured) { ctx.timedStart(); Trace.open("timed") }
        val stamp = System.nanoTime()
        val f = land(r)
        Lifecycle.ingest(spark, store, f, withDeadLetters = false)
        // versions the tail has not yet planned when the round's commit
        // lands (0 when it already picked the commit up by itself)
        val behind = store.currentVersion("trips").get - Option(
            query.lastProgress).flatMap(_.sources.headOption)
          .flatMap(s => Option(s.endOffset)).flatMap(_.trim.toIntOption)
          .getOrElse(0)
        query.processAllAvailable()
        val t1 = System.nanoTime()
        if (measured) {
          lag += behind
          fresh += (t1 - stamp) / 1e9
          work += (t1 - stamp) / 1e9
          Trace.close()
        }
      }
    } finally query.stop()
    ctx.phase("rounds done")
    val runId = query.runId.toString
    ((warm + 1L) to (warm + rounds).toLong)
      .foreach(b => Trace.Progress.timedBatches.add((runId, b)))
    Lifecycle.storeCounters(root, store, Seq("trips", "window_stats"))
    Trace.put("timed", "stream.lag_versions", lag.toDouble / rounds)
    Trace.put("timed", "ingest.records",
      Lifecycle.liveRecords(store, "trips").toDouble)
    // the reference's maintenance on the tail's trips, once the tail has
    // stopped: outside work_s, inside the stored bytes
    Lifecycle.maintain(spark, store, root, record = true) { b =>
      Trace.open("timed"); try b finally Trace.close()
    }
    ctx.phase("maintenance done")
    ctx.dump("stream_trips_after_maintenance.jsonl",
      store.current(spark, "trips").select("trip_id", "total_amount"))
    // every round's table state: version k of window_stats is the
    // commit of micro-batch k - 1 (the initial snapshot is batch 0)
    val vs = store.versions("window_stats")
    ctx.dump("stream_windows.jsonl", vs.map(v =>
      store.asOf(spark, "window_stats", v).withColumn("version", lit(v)))
      .reduce(_ unionByName _))
    val inputs = history +: (1 to warm + rounds).map(r => f"$inDir/r$r%03d.jsonl")
    ctx.timed = Map("work_s" -> work, "ops" -> fresh.toSeq,
      "stored_bytes" -> Store.du(new java.io.File(root))._1,
      "input_bytes" -> Lifecycle.inputBytes(inputs),
      "batches" -> Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L),
      "files" -> Store.du(new java.io.File(root))._2)
  }
}
