package perfbench

import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** `lakehouse_batch`: the reference's batch DAG followed by DML and
  * maintenance, on a fresh table root per pass: an untimed warm-up pass,
  * then the measured one.
  *
  * A pass ingests every input file (the unit operation: parse through
  * the committed appends of trips and dead letters), builds the hourly
  * aggregates, runs an update, a merge and a merge-on-read delete, and
  * ends with the full maintenance run. Between the timed steps the pass
  * dumps what the checks need; that time is not part of `work_s`. */
object Batch {
  /** Below the store's default of 64 so that the trips table crosses it
    * within a pass of the size the run time allows. */
  val SegThreshold = 8

  def run(ctx: Ctx): Unit = {
    val plan = ctx.props("batch/plan.properties")
    def inputs(dir: String, n: String) =
      (0 until plan(n).toInt).map(i => f"$dir/f$i%03d.jsonl")
    val files = inputs(s"${ctx.in}/batch", "files")

    // one untimed warm-up pass fills codegen and the program's caches
    pass(ctx, plan, inputs(s"${ctx.in}/batch/warm", "warm_files"),
      s"${ctx.work}/tables/warm", measured = false)
    if (Trace.enabled)
      ctx.extra("json_parses_in_plan") =
        Lifecycle.jsonParsesInPlan(ctx.spark, files.head)
    pass(ctx, plan, files, s"${ctx.work}/tables/timed", measured = true)
  }

  /** One pass. The measured pass is timed, traced, and dumps what the
    * checks need; the warm-up pass runs the same steps on other files. */
  private def pass(ctx: Ctx, plan: Map[String, String], files: Seq[String],
      root: String, measured: Boolean): Unit = {
    val spark = ctx.spark
    val store = new Store(root, SegThreshold)
    var work = 0.0
    def timed[T](body: => T): T = {
      if (measured) { ctx.timedStart(); Trace.open("timed") }
      val t0 = System.nanoTime()
      try body finally {
        work += (System.nanoTime() - t0) / 1e9
        if (measured) Trace.close()
      }
    }
    def dump(name: String, f: => org.apache.spark.sql.DataFrame): Unit =
      if (measured) ctx.dump(name, f)

    ctx.phase(s"$root start")
    val ops = files.map { f =>
      timed {
        val t0 = System.nanoTime()
        Lifecycle.ingest(spark, store, f)
        (System.nanoTime() - t0) / 1e9
      }
    }
    val appended = Seq("trips", "dead_letters")
      .map(Lifecycle.liveRecords(store, _))
    dump("batch_trips_appended.jsonl", store.current(spark, "trips"))
    dump("batch_dead_letters.jsonl", store.current(spark, "dead_letters"))

    timed {
      val hourly = Trace.span("query.hourly_stats")(Trace.constructing(
        Streaming.windowedStats(store.current(spark, "trips"),
          "pickup_datetime", "total_amount", "payment_type",
          Streaming.Config(windowSeconds = 3600))))
      store.append(hourly, "hourly_trip_stats")
    }
    ctx.phase(s"$root hourly done")
    dump("batch_hourly.jsonl", store.current(spark, "hourly_trip_stats"))

    timed {
      store.updateWhere(spark, "trips",
        col("pickup_datetime") >= Lifecycle.at(plan("update_from")) &&
          col("pickup_datetime") < Lifecycle.at(plan("update_to")) &&
          col("payment_type") === plan("update_payment"),
        Map("payment_type" -> lit(plan("update_set_payment")),
          "total_amount" -> (col("total_amount") + plan("update_add").toDouble)))
    }
    dump("batch_after_update.jsonl", store.current(spark, "trips"))

    timed {
      val schema = store.current(spark, "trips").schema
      store.mergeUpsert(spark, "trips", spark.read.schema(schema)
        .json(s"${ctx.in}/batch/merge_source.jsonl"), "trip_id")
    }
    dump("batch_after_merge.jsonl", store.current(spark, "trips"))

    timed {
      store.deleteWhereMoR(spark, "trips",
        col("total_amount") > plan("delete_over").toDouble, Seq("trip_id"))
    }
    dump("batch_after_delete.jsonl", store.current(spark, "trips"))

    ctx.phase(s"$root dml done")
    Lifecycle.maintain(spark, store, root, measured)(b => timed(b))
    ctx.phase(s"$root maintenance done")
    val versions = store.versions("trips")
    dump("batch_after_maintenance.jsonl", store.current(spark, "trips"))
    dump("batch_retained.jsonl", store.asOf(spark, "trips", versions.head))

    if (measured) {
      Lifecycle.storeCounters(root, store,
        Seq("trips", "dead_letters", "hourly_trip_stats"))
      def put(n: String, v: Double) = Trace.put("timed", n, v)
      put("ingest.records", appended.sum.toDouble)
      put("ingest.dead_letters", appended(1).toDouble)
      val stored = Store.du(new java.io.File(root))._1
      ctx.timed = Map("work_s" -> work, "ops" -> ops,
        "stored_bytes" -> stored,
        "input_bytes" -> Lifecycle.inputBytes(files))
    }
  }
}
