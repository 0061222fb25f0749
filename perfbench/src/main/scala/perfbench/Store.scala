package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.plans.Snapshots

/** The program's snapshot store with a span around each public call the
  * benchmark makes, and around the calls the program's own streaming
  * sink and maintenance make through the same instance (`current` reads
  * through `asOf`, so it is traced there). Behaviour is
  * the parent's: every override delegates to `super`. The counts of
  * rewritten and scanned dirs are read from the manifests, and only
  * while a traced phase is open. */
class Store(root: String, segThreshold: Int = 64)
    extends Snapshots(root, segThreshold) {

  private def entries(table: String): Seq[graft.plans.ManifestEntry] =
    currentVersion(table).map(readEntries(table, _)).getOrElse(Seq.empty)

  /** Spans a write and counts the data dirs the new version adds. */
  private def write(name: String, table: String)(body: => Int): Int =
    if (!Trace.recording) body
    else {
      val before = entries(table).map(_.rel).toSet
      val v = Trace.span(name)(body)
      val fresh = entries(table).count(e =>
        e.kind == "data" && !before.contains(e.rel))
      if (name != "snapshots.append")
        Trace.add("snapshots.dirs_rewritten", fresh)
      v
    }

  /** Spans a read's resolution and counts the dirs it will scan, once
    * per read: a resolution the program nests in another (scanWhere's
    * empty case reads through asOf) is left to the outer one. */
  private def read(table: String, v: => Option[Int])(body: => DataFrame)
      : DataFrame =
    if (!Trace.recording || Trace.inSpan("snapshots.resolve")) body
    else {
      val df = Trace.span("snapshots.resolve")(body)
      v.foreach { ver =>
        val es = readEntries(table, ver)
        val live = es.filter(_.kind == "data").map(e => s"$rootDir/${e.rel}")
        val scanned = df.inputFiles.map(f =>
          new java.io.File(new java.net.URI(f).getPath).getParent).toSet
        Trace.add("snapshots.scan_dirs_live", live.size)
        Trace.add("snapshots.scan_dirs_read", live.count(d =>
          scanned.contains(new java.io.File(d).getPath)))
        Trace.add("snapshots.delete_entries_applied",
          es.count(_.kind == "delete"))
      }
      df
    }

  override def append(df: DataFrame, table: String): Int =
    write("snapshots.append", table)(super.append(df, table))

  override def updateWhere(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column]): Int =
    write("snapshots.update", table)(super.updateWhere(spark, table, cond, set))

  override def mergeUpsert(spark: SparkSession, table: String,
      source: DataFrame, key: String): Int =
    write("snapshots.merge", table)(
      super.mergeUpsert(spark, table, source, key))

  override def mergeWith(spark: SparkSession, table: String,
      source: DataFrame, key: String, broadcastKeys: Boolean)
      (combine: DataFrame => DataFrame): Int =
    write("snapshots.upsert_batch", table)(
      super.mergeWith(spark, table, source, key, broadcastKeys)(combine))

  override def deleteWhereMoR(spark: SparkSession, table: String,
      cond: Column, keyCols: Seq[String]): Int =
    Trace.span("snapshots.mor_delete")(
      super.deleteWhereMoR(spark, table, cond, keyCols))

  override def asOf(spark: SparkSession, table: String, v: Int): DataFrame =
    read(table, Some(v))(super.asOf(spark, table, v))

  override def scanWhere(spark: SparkSession, table: String,
      cond: Column): DataFrame =
    read(table, currentVersion(table))(super.scanWhere(spark, table, cond))
}

object Store {
  /** Path → size of every file under `dir`. */
  def files(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    if (!dir.exists()) Map.empty
    else walk(dir).map(f => f.getPath -> f.length).toMap
  }

  /** Bytes and files under a directory tree, with a filter on the name. */
  def du(dir: java.io.File, keep: String => Boolean = _ => true)
      : (Long, Long) = {
    val fs = files(dir).filter { case (p, _) => keep(p) }
    (fs.values.sum, fs.size.toLong)
  }

  /** Manifest metadata of one table: (version-file bytes + segment
    * bytes, segment files). */
  def manifestStats(root: String, table: String): (Long, Long) = {
    val m = new java.io.File(s"$root/$table/manifests")
    val (bytes, _) = du(m)
    val (_, segs) = du(new java.io.File(m, "seg"), _.endsWith(".seg"))
    (bytes, segs)
  }
}
