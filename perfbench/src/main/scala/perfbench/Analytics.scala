package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Joins, Windows}

/** `analytics`: the read side. Setup ingests a trips table through the
  * same path as `lakehouse_batch` (fewer than 64 entries, so its
  * manifest stays inline), then leaves older versions and unfolded
  * merge-on-read deletes on it. Closed-loop clients, one thread and one
  * FAIR pool each, then run a fixed mix: the ten members of the
  * reference's concurrent scenario over the generated warehouse tables,
  * and the trip analytics over the snapshot table, read through a store
  * instance other than the writer's. Every query is fully collected.
  *
  * A round is the clients draining one copy of the mix together; the
  * timed phase is a fixed number of rounds after one untimed warm-up
  * round, and `work_s` is its wall time. */
object Analytics {
  type Query = (SparkSession, Store) => DataFrame

  /** The reference's concurrent scenario: the program's own k03 list. */
  val k03: Seq[(String, graft.core.QueryPack)] = Seq(
    "q01_revenue_by_nation" -> Joins, "q02_hourly_stats" -> Aggregates,
    "q05_count_distinct" -> Aggregates, "q07_having" -> Aggregates,
    "q08_stddev" -> Aggregates, "q09_agg_of_agg" -> Aggregates,
    "q12_prepost_compare" -> Joins, "q13_left_join_expr" -> Joins,
    "q15_rank_join" -> Joins, "w04_rolling_avg" -> Windows)

  def cents(c: Column): Column = round(c * 100).cast("long")

  def tripQueries(p: Map[String, String], asOfVersion: Int)
      : Seq[(String, Query)] = {
    def ts(k: String) = Lifecycle.at(p(k))
    val inList = p("in_list").split(",").map(_.toLong).toSeq
    Seq(
      "trips_30d_top100" -> ((s, st) => st.current(s, "trips")
        .filter(col("pickup_datetime") >= ts("d30_from") &&
          col("pickup_datetime") < ts("d30_to") &&
          col("pickup_location_id").isin(inList: _*))
        .groupBy(col("pickup_location_id"),
          to_date(col("pickup_datetime")).as("trip_date"))
        .agg(count(lit(1)).as("trips"),
          sum(cents(col("total_amount"))).as("revenue_cents"))
        .orderBy(desc("trips"), desc("revenue_cents"),
          col("pickup_location_id"), col("trip_date"))
        .limit(100)),
      "trips_hourly_rank_top50" -> { (s, st) =>
        val hourly = st.current(s, "trips")
          .groupBy(date_trunc("hour", col("pickup_datetime")).as("stat_hour"),
            col("pickup_location_id"))
          .agg(count(lit(1)).as("trips"),
            sum(cents(col("total_amount"))).as("revenue_cents"))
        hourly.withColumn("hour_rank", rank().over(Window
            .partitionBy(col("stat_hour")).orderBy(desc("revenue_cents"))))
          .filter(col("hour_rank") <= 3)
          .orderBy(desc("revenue_cents"), col("stat_hour"),
            col("pickup_location_id"))
          .limit(50)
      },
      "trips_day_scan" -> ((s, st) => st.scanWhere(s, "trips",
          col("pickup_datetime") >= ts("day_from") &&
            col("pickup_datetime") < ts("day_to"))
        .select(col("trip_id"), col("pickup_datetime"), col("payment_type"),
          cents(col("total_amount")).as("amount_cents"))),
      "trips_as_of" -> ((s, st) => st.asOf(s, "trips", asOfVersion)
        .groupBy(col("payment_type"))
        .agg(count(lit(1)).as("trips"),
          sum(cents(col("total_amount"))).as("revenue_cents"))),
      "trips_files" -> ((s, st) => st.filesMetadata(s, "trips",
        st.currentVersion("trips").get)),
      "trips_partitions" -> ((s, st) => st.partitionsMetadata(s, "trips",
        st.currentVersion("trips").get, "payment_type", exact = true)))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val p = ctx.props("analytics/plan.properties")
    val root = s"${ctx.work}/tables/analytics"
    val sf = s"${ctx.in}/sf"

    ctx.phase("analytics start")
    Trace.open("setup")
    val writer = new Store(root)
    var asOfVersion = 0
    (0 until p("files").toInt).foreach { i =>
      Lifecycle.ingest(spark, writer, f"${ctx.in}/analytics/t$i%03d.jsonl",
        withDeadLetters = false)
      if (i + 1 == p("as_of_after").toInt)
        asOfVersion = writer.currentVersion("trips").get
    }
    writer.updateWhere(spark, "trips",
      col("pickup_datetime") >= Lifecycle.at(p("update_from")) &&
        col("pickup_datetime") < Lifecycle.at(p("update_to")) &&
        col("payment_type") === p("update_payment"),
      Map("payment_type" -> lit(p("update_set_payment")),
        "total_amount" -> (col("total_amount") + p("update_add").toDouble)))
    writer.deleteWhereMoR(spark, "trips",
      col("total_amount") > p("delete_over").toDouble, Seq("trip_id"))
    writer.deleteWhereMoR(spark, "trips",
      col("pickup_location_id") === p("delete_location").toLong,
      Seq("trip_id"))
    Lifecycle.storeCounters(root, writer, Seq("trips"), "setup")
    Trace.put("setup", "ingest.records",
      Lifecycle.liveRecords(writer, "trips").toDouble)
    Trace.close()
    ctx.phase("analytics table built")
    if (Trace.enabled)
      ctx.extra("json_parses_in_plan") = Lifecycle.jsonParsesInPlan(spark,
        f"${ctx.in}/analytics/t000.jsonl")

    val reader = new Store(root)
    // the slowest members first, so a round's length depends least on
    // which client happens to take the last query
    val mix: Seq[(String, () => DataFrame)] =
      tripQueries(p, asOfVersion).map { case (n, q) =>
        n -> (() => q(spark, reader)) } ++
        k03.map { case (n, pack) => n -> (() => pack.queries(n)(spark, sf)) }
    ctx.writeLines("analytics_oracle.json", Seq(Json(k03.map { case (n, pack) =>
      n -> pack.oracle(n) }.toMap)))
    ctx.extra("as_of_version") = asOfVersion
    ctx.extra("delete_entries") = writer.readEntries("trips",
      writer.currentVersion("trips").get).count(_.kind == "delete")

    val clients = Runtime.getRuntime.availableProcessors()
    val pool = Executors.newFixedThreadPool(clients)
    /** One round: the clients drain one copy of the mix, each taking the
      * next query as soon as its last one is collected. */
    def round(): (Seq[(String, Double, Array[Row])], Double) = {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue(mix.asJava)
      val t0 = System.nanoTime()
      val futures = (0 until clients).map { c =>
        pool.submit(new Callable[Seq[(String, Double, Array[Row])]] {
          def call(): Seq[(String, Double, Array[Row])] = {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              s"perfbench-client-$c")
            Iterator.continually(queue.poll()).takeWhile(_ != null).map {
              case (n, q) =>
                val q0 = System.nanoTime()
                val rows = Trace.span(s"query.$n") {
                  Trace.constructing(q()).collect()
                }
                (n, (System.nanoTime() - q0) / 1e9, rows)
            }.toList
          }
        })
      }
      val ops = futures.flatMap(_.get())
      (ops, (System.nanoTime() - t0) / 1e9)
    }

    try {
      // warm-up: one untimed round; its results are the reference the
      // checks compare with the oracle, and each timed run with it
      val reference = round()._1.map { case (n, _, rows) =>
        ctx.writeLines(s"analytics_$n.jsonl", rows.map(_.json).toSeq)
        n -> Ctx.digest(rows)
      }.toMap
      ctx.phase("analytics warm-up round done")
      ctx.timedStart()
      Trace.open("timed")
      val t0 = System.nanoTime()
      val ops = (1 to p("rounds").toInt).flatMap(_ => round()._1)
      val work = (System.nanoTime() - t0) / 1e9
      Trace.close()
      ctx.timed = Map("work_s" -> work, "ops" -> ops.map(_._2),
        "op_detail" -> ops.map { case (n, s, rows) =>
          Map("query" -> n, "s" -> s, "ok" -> (Ctx.digest(rows) == reference(n)))
        },
        "stored_bytes" -> Store.du(new java.io.File(root))._1,
        "input_bytes" -> Lifecycle.inputBytes((0 until p("files").toInt)
          .map(i => f"${ctx.in}/analytics/t$i%03d.jsonl")))
    } finally pool.shutdownNow()
  }
}
