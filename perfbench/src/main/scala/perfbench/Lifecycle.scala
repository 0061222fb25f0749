package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ingest
import graft.plans.Maintenance

/** The reference's ingest step as the program exposes it: one JSONL
  * file through `Ingest.parseRecords`, its `valid` branch projected to
  * the trips table and its `invalid` branch as the dead letters. The
  * two branches are composed exactly as a caller would compose them,
  * without a barrier between parse and filter. */
object Lifecycle {
  val Pipeline = "perfbench"

  val tripColumns: Seq[Column] = Seq(col("trip_id"),
    col("vendor_id_l").as("vendor_id"),
    col("pickup_ts").as("pickup_datetime"),
    col("dropoff_ts").as("dropoff_datetime"),
    col("passenger_count"), col("trip_distance"), col("payment_type"),
    col("total_amount"), col("pickup_location_id"), col("pickup_latitude"),
    col("pickup_longitude"), col("created_at"), col("pipeline_name"))

  def parse(spark: SparkSession, path: String): DataFrame =
    Trace.span("ingest.parse")(Trace.constructing(
      Ingest.parseRecords(
        spark.read.text(path).withColumnRenamed("value", "raw"), Pipeline)))

  /** A UTC time of the inputs' plan as a timestamp literal: the form
    * the store's stats pruning reads (`DirStats.mayMatch` compares a
    * column with a `Literal`; a `to_timestamp` call is not one). */
  def at(isoUtc: String): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.parse(isoUtc + "Z")))

  def trips(parsed: DataFrame): DataFrame =
    Ingest.valid(parsed).select(tripColumns: _*)

  /** Ingests one file: the valid rows and (optionally) the dead letters,
    * each as one append. */
  def ingest(spark: SparkSession, store: Store, path: String,
      withDeadLetters: Boolean = true): Unit = {
    val parsed = parse(spark, path)
    store.append(trips(parsed), "trips")
    if (withDeadLetters) store.append(Ingest.invalid(parsed), "dead_letters")
  }

  /** `from_json` calls in the executed plan of one file's valid branch. */
  def jsonParsesInPlan(spark: SparkSession, path: String): Int =
    "from_json\\(".r.findAllIn(
      trips(parse(spark, path)).queryExecution.executedPlan.toString).size

  /** Rows appended by the current version's entries with known stats. */
  def liveRecords(store: Store, table: String): Long =
    store.currentVersion(table).map(v => store.readEntries(table, v)
      .filter(_.kind == "data").map(_.records).filter(_ >= 0).sum)
      .getOrElse(0L)

  /** Per-layer counters read off the store at the end of a phase. */
  def storeCounters(root: String, store: Store, tables: Seq[String],
      bucket: String = "timed"): Unit =
    if (Trace.enabled) tables.foreach { t =>
      val (bytes, segs) = Store.manifestStats(root, t)
      Trace.put(bucket, "snapshots.manifest_bytes", bytes.toDouble)
      Trace.put(bucket, "snapshots.segment_files", segs.toDouble)
      Trace.put(bucket, "snapshots.commits",
        store.currentVersion(t).getOrElse(0).toDouble)
      Trace.put(bucket, "snapshots.live_entries", store.currentVersion(t)
        .map(store.readEntries(t, _).size).getOrElse(0).toDouble)
    }

  /** `Maintenance.fullMaintenance` on `trips` (delete fold, compaction,
    * sort rewrite, expire keeping 2, orphan cleanup at age 0), called
    * through `run` (the caller's timer), and with `record` its per-layer
    * counters: data files before and after, bytes written and reclaimed
    * under the root. */
  def maintain(spark: SparkSession, store: Store, root: String,
      record: Boolean)(run: (=> Unit) => Unit): Unit = {
    val dir = new java.io.File(root)
    def dataFiles = store.dataDirs("trips", store.currentVersion("trips").get)
      .map(Maintenance.fileStats(_).nFiles).sum
    val before = Store.files(dir)
    val filesBefore = dataFiles
    run {
      Trace.span("maintenance")(Maintenance.fullMaintenance(spark, store,
        "trips", s"$root/_maintenance", Seq("pickup_datetime"),
        retainSnapshots = 2, gcOlderThanMillis = 0L))
      ()
    }
    if (record) {
      val after = Store.files(dir)
      def put(n: String, v: Double) = Trace.put("timed", n, v)
      put("maintenance.files_before", filesBefore.toDouble)
      put("maintenance.files_after", dataFiles.toDouble)
      put("maintenance.bytes_written", after
        .filter { case (p, _) => !before.contains(p) }.values.sum.toDouble)
      put("maintenance.bytes_reclaimed", before
        .filter { case (p, _) => !after.contains(p) }.values.sum.toDouble)
    }
  }

  def inputBytes(paths: Seq[String]): Long =
    paths.map(p => new java.io.File(p).length).sum
}
