package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators M1-M9 (SURVEY.md §2.10) — the Spark
  * re-expression of the reference's maintenance service
  * (`/root/reference/src/maintenance/iceberg_maintenance.py:28-387`).
  *
  * Thresholds mirror the reference exactly: 128 MB compaction target
  * (`iceberg_maintenance.py:28,36-45`), split partitions > 5 GB /
  * compact partitions < 10k rows & < 0.1 GB (`:252-267`), snapshot
  * retention (`:73-93`), orphan cleanup (`:129-152`), slow-query flags
  * > 30 s / expensive > 60 s or > 10 GB (`:183-197`).
  *
  * Scale notes: compaction sizes the output file count from observed
  * bytes (ceil(bytes / target)) and rewrites with a round-robin
  * repartition — no shuffle key needed; the sort rewrite clusters files
  * by the reference's per-table sort keys so parquet min/max row-group
  * stats give data skipping (the Z-order-lite the reference calls
  * 'sort' strategy). All file accounting comes from directory listings —
  * at 100 TB you'd list via the table manifest instead, same contract.
  */
object Maintenance {

  final case class FileStats(nFiles: Long, totalBytes: Long) {
    def avgBytes: Long = if (nFiles == 0) 0 else totalBytes / nFiles
  }

  def fileStats(dir: String): FileStats = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    FileStats(fs.length, fs.map(_.length()).sum)
  }

  final case class CompactionReport(before: FileStats, after: FileStats,
    targetFileSizeMB: Int)

  /** M1: compaction to a target file size — read the (fragmented) dir,
    * rewrite as ceil(bytes/target) files, report before/after. */
  def compact(spark: SparkSession, dir: String, outDir: String,
      targetFileSizeMB: Int = 128): CompactionReport = {
    val before = fileStats(dir)
    val targetBytes = targetFileSizeMB.toLong * 1024 * 1024
    val nFiles = math.max(1, math.ceil(
      before.totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(dir)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    CompactionReport(before, fileStats(outDir), targetFileSizeMB)
  }

  /** M3: sort-based layout rewrite (the reference's 'sort' strategy,
    * per-table keys from `iceberg_maintenance.py:101-117`): repartition
    * then sortWithinPartitions so row groups are key-clustered. */
  def sortRewrite(spark: SparkSession, dir: String, outDir: String,
      sortCols: Seq[String], nPartitions: Int = 4): Unit =
    sortRewriteDirs(spark, Seq(dir), outDir, sortCols, nPartitions)

  /** [[sortRewrite]] over a manifest's full data-dir list. */
  def sortRewriteDirs(spark: SparkSession, dirs: Seq[String], outDir: String,
      sortCols: Seq[String], nPartitions: Int = 4): Unit =
    spark.read.parquet(dirs: _*)
      .repartition(nPartitions)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** M3 (Z-order variant): rewrite clustered by the Morton interleave of
    * two key columns — both dimensions land in parquet row-group min/max
    * stats, so scans filtered on EITHER key prune (lexicographic sort
    * only prunes the leading key). Uses the native codegen'd
    * zorder_interleave expression, not a UDF. */
  def zorderRewrite(spark: SparkSession, dir: String, outDir: String,
      keyA: String, keyB: String, nPartitions: Int = 4): Unit = {
    graft.core.GraftExtensions.register(spark)
    spark.read.parquet(dir)
      .repartition(nPartitions)
      .sortWithinPartitions(
        expr(s"zorder_interleave(CAST($keyA AS BIGINT), CAST($keyB AS BIGINT))"))
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** M6: ANALYZE TABLE statistics refresh (needs a catalog table). */
  def analyzeTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  /** M7: partition analysis with the reference's health bounds. Row
    * counts come from ONE scan grouped by the partition column (never a
    * per-partition job loop — that's a driver-side O(partitions) job
    * storm at scale); byte sizes come from the directory listing, joined
    * in as a tiny broadcast frame. */
  def partitionAnalysis(spark: SparkSession, dir: String,
      partitionCol: String): DataFrame = {
    val rows = spark.read.parquet(dir)
      .groupBy(col(partitionCol).cast("string").as("partition_value"))
      .agg(count(lit(1)).as("n_rows"))
    val bytes = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partitionCol="))
      .map(d => (d.getName.stripPrefix(s"$partitionCol="),
        fileStats(d.getPath).totalBytes)) // one accounting rule, not two
      .toSeq
    import spark.implicits._
    val bytesDf = bytes.toDF("partition_value", "n_bytes")
    rows.join(broadcast(bytesDf), Seq("partition_value"))
      .withColumn("needs_split", col("n_bytes") > 5L * 1024 * 1024 * 1024)
      .withColumn("needs_compaction",
        col("n_rows") < 10000 && col("n_bytes") < (0.1 * 1024 * 1024 * 1024).toLong)
  }

  final case class QueryPerf(name: String, rows: Long, seconds: Double,
    slow: Boolean, expensive: Boolean)

  /** M5: query-performance analysis — run each query, record wall time,
    * flag with the reference thresholds (slow > 30 s, expensive > 60 s). */
  def queryPerfAnalysis(queries: Seq[(String, () => DataFrame)]): Seq[QueryPerf] =
    queries.map { case (name, thunk) =>
      val t0 = System.nanoTime()
      val rows = thunk().count()
      val sec = (System.nanoTime() - t0) / 1e9
      QueryPerf(name, rows, sec, slow = sec > 30, expensive = sec > 60)
    }

  /** Minimum count of under-half-target dirs before cross-dir merging
    * kicks in — Iceberg's `min-input-files` discipline (its binPack
    * default is 5): merging two smalls saves little and would make
    * compaction non-idempotent (the merged output is itself small). */
  val MinSmallDirsToMerge = 5

  /** M1 over a manifest table: compact the FRAGMENTED data dirs of the
    * current snapshot — a dir is fragmented when it holds more files
    * than ceil(bytes/target), or when it is one of ≥
    * [[MinSmallDirsToMerge]] under-half-target dirs (the micro-batch
    * append pattern: one small file per dir fragments the TABLE even
    * though no single dir is internally fragmented) — rewriting them
    * together into right-sized files and committing a manifest that
    * references the compacted dir PLUS the untouched dirs by their
    * original paths (zero I/O on them). This is the semantics of the
    * reference's `BQ.ICEBERG_COMPACTION(partition_filter=...)`
    * (`iceberg_maintenance.py:28-71`): compaction is itself a snapshot
    * commit over immutable files, so time travel to the pre-compaction
    * version still works and concurrent readers never see a
    * half-compacted table. At 100 TB the win is the point: a table
    * that is 95% well-sized history + 5% fresh small-file appends
    * rewrites 5%, not 100%. The whole read-classify-commit runs under
    * the optimistic retry — the file list is DERIVED from the snapshot
    * it read, so a concurrent append/delete between read and commit
    * forces a re-derive instead of being silently dropped. Returns the
    * report; no-op (and NO version churn) when nothing is fragmented. */
  def compactTable(spark: SparkSession, snaps: Snapshots, table: String,
      targetFileSizeMB: Int = 128): CompactionReport = {
    val targetBytes = targetFileSizeMB.toLong * 1024 * 1024
    def totals(sts: Seq[FileStats]) = sts
      .reduceOption((a, b) => FileStats(a.nFiles + b.nFiles,
        a.totalBytes + b.totalBytes)).getOrElse(FileStats(0, 0))
    val before = snaps.occRetry(table) { cur =>
      val v = cur.getOrElse(sys.error(s"no snapshots for $table"))
      // bin-pack compaction reasons about raw data files; outstanding
      // equality deletes must fold first (Iceberg orders its
      // maintenance the same way: delete files, then data files)
      val entries = snaps.readEntries(table, v)
      require(entries.forall(_.kind == "data"),
        s"$table has unfolded equality deletes - run rewriteDeletes first")
      val rels = entries.map(_.rel)
      // physical footprint per dir, memoized — the classification below
      // reads each dir's stats several times. File count + bytes ride in
      // each entry's inline stats, so sizing 100k dirs is one manifest
      // read; a directory listing only for a statless entry.
      val st = entries.map(e => e.rel -> physOf(snaps, e)).toMap
      def needed(s: FileStats) = math.max(1L,
        math.ceil(s.totalBytes.toDouble / targetBytes).toLong)
      val (fragged, rest) = rels.partition(r => st(r).nFiles > needed(st(r)))
      val smalls = rest.filter(r => st(r).totalBytes < targetBytes / 2)
      val frag = (fragged ++
        (if (smalls.size >= MinSmallDirsToMerge) smalls else Nil)).toSet
      if (frag.nonEmpty) {
        val fragBytes = frag.toSeq.map(st(_).totalBytes).sum
        val nOut = math.max(1, math.ceil(
          fragBytes.toDouble / targetBytes).toInt)
        val compacted = snaps.stageEntry(
          spark.read.parquet(frag.toSeq.map(r => s"${snaps.rootDir}/$r"): _*)
            .repartition(nOut), table, "data", 0)
        // untouched entries carry over VERBATIM, inline stats included:
        // the manifest line is the only place a dir's stats live
        val tight = entries.filterNot(e => frag.contains(e.rel))
        snaps.commitEntriesIfCurrent(table, cur, tight :+ compacted)
      }
      totals(rels.map(st))
    }
    val after = totals(snaps.readEntries(table,
        snaps.currentVersion(table).get)
      .map(e => physOf(snaps, e)))
    CompactionReport(before, after, targetFileSizeMB)
  }

  /** A manifest entry's physical footprint: the file count + byte total
    * inlined in its manifest stats (one metadata read for the whole
    * table), a directory listing only for a statless entry. */
  private def physOf(snaps: Snapshots, e: ManifestEntry): FileStats =
    e.stats.map(s => FileStats(s.files, s.bytes))
      .getOrElse(fileStats(s"${snaps.rootDir}/${e.rel}"))

  /** M9: full maintenance orchestration over a snapshot-managed table:
    * stats → manifest-aware compaction (a snapshot commit) → sort
    * rewrite → snapshot expiry → orphan cleanup, returning one report
    * row per step (the reference's report shape,
    * `iceberg_maintenance.py:334-387`). */
  def fullMaintenance(spark: SparkSession, snaps: Snapshots, table: String,
      scratchDir: String, sortCols: Seq[String],
      retainSnapshots: Int = 2,
      gcOlderThanMillis: Long = Snapshots.DefaultGcAgeMillis)
      : Seq[(String, String, Long)] = {
    val cur = snaps.current(spark, table)
    // count EAGERLY: expire() below deletes old versions, and with an
    // aggressive retention the lazily-evaluated count would read
    // already-deleted files
    val curRows = cur.count()
    val beforeFiles = snaps.dataDirs(table, snaps.currentVersion(table).get)
      .map(fileStats(_).nFiles).sum
    // fold merge-on-read deletes FIRST (Iceberg's maintenance order:
    // rewrite delete files, then data files) — a no-op with no version
    // churn on pure-data tables, and the step that makes the rest of
    // the pipeline (bin-pack compaction, sort rewrite over data dirs)
    // legal on a table carrying equality deletes
    val delsFolded = snaps
      .readEntries(table, snaps.currentVersion(table).get)
      .count(_.kind == "delete").toLong
    snaps.rewriteDeletes(spark, table)
    val rep = compactTable(spark, snaps, table)
    sortRewriteDirs(spark,
      snaps.dataDirs(table, snaps.currentVersion(table).get),
      s"$scratchDir/${table}_sorted", sortCols)
    // pass the GC age cutoff through: concurrent deployments set it
    // above their longest stage-to-commit window so the sweeps can't
    // gut a dir an in-flight commit has staged but not yet claimed
    val expired = snaps.expire(table, retainSnapshots, gcOlderThanMillis)
    val orphans = snaps.cleanOrphans(table, gcOlderThanMillis)
    Seq(
      ("table_stats", "rows", curRows),
      ("rewrite_deletes", "delete entries folded", delsFolded),
      ("compaction", s"files ${rep.before.nFiles} -> ${rep.after.nFiles}",
        rep.after.nFiles),
      ("sort_rewrite", sortCols.mkString(","),
        fileStats(s"$scratchDir/${table}_sorted").nFiles),
      ("expire_snapshots", s"removed ${expired.mkString(",")}",
        expired.size.toLong),
      ("orphan_cleanup", "removed", orphans.size.toLong),
      ("before_files", "files", beforeFiles))
  }
}
