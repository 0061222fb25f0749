package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{
  ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetConn}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import graft.plans.Snapshots

/** The snapshot store as a STRUCTURED STREAMING SOURCE — Iceberg's
  * Spark streaming read (`SparkMicroBatchStream`: snapshots are the
  * offsets, appended files are the batches) re-expressed over graft's
  * manifest store. The reference platform consumes streams INTO tables
  * (`/root/reference/main.py:346-398`); a lakehouse equally streams
  * OUT of them — every downstream incremental job is a tail of the
  * table's append history. This source makes [[Snapshots.appendsBetween]]
  * (already the incremental batch read, d28) the micro-batch planner:
  *
  *  - OFFSETS ARE TABLE VERSIONS. A micro-batch is the half-open
  *    version range `(start, end]`; offsets serialize as the bare
  *    version number, so the checkpoint's offset log is
  *    human-auditable against `$snapshots` and a restart resumes from
  *    the exact committed version (kill/resume spec'd in
  *    SnapshotStreamSpec).
  *  - BATCHES ARE MANIFEST SET-DIFFS. Planning a batch costs O(manifest)
  *    metadata, and the scan touches ONLY the dirs appended in the
  *    range — never the table. At 100 TB a consumer lagging three
  *    commits reads three commits' worth of files.
  *  - NON-APPEND COMMITS (CoW rewrite, MoR delete, upsert, fold,
  *    rollback, compaction) are change data, not appends — replaying a
  *    rewrite would duplicate rows the consumer already processed, and
  *    an upsert's data files without their retractions are half a
  *    change. Default `onNonAppend=fail` stops the query loudly
  *    (Iceberg's streaming default: refuse silent mis-delivery);
  *    `onNonAppend=skip` mirrors
  *    `streaming-skip-overwrite/delete-snapshots=true` — the stream
  *    stays an append tail and reconciliation belongs to the change
  *    feed, which `mode=changes` serves as a stream of its own
  *    ([[SnapshotChangesSource]]). SKIP-MODE ROLLBACK-REPUBLISH
  *    dedup: a ROLLBACK is skipped as non-append; a LATER commit can
  *    re-point to a dir the rollback removed (a second rollback
  *    forward, or a manual re-publish of the same manifest entry —
  *    ordinary appends always mint fresh dirs), and that dir then
  *    re-enters a step diff looking like a fresh append. Offsets
  *    carry version numbers, not dir identity, so the tail keeps a
  *    RETIRED-ENTRY set of its own ([[Snapshots.appendAdditionsTracked]]
  *    threads it across micro-batches): every data entry a skipped
  *    non-append commit removed is retired, and a retired entry
  *    re-entering a step diff is suppressed, never re-delivered —
  *    Iceberg's incremental append scan re-emits here; this tail does
  *    not (SnapshotStreamSpec pins both the in-run and the
  *    across-restart case). After a RESTART the set is reconstructed
  *    from the live manifest history between the stream's ANCHOR and
  *    the checkpointed version — the anchor being `startVersion` in
  *    tail mode and, in default (initial-snapshot) mode, the version
  *    the first batch persisted under the source's checkpoint
  *    metadataPath (so pre-anchor removals never retire: a dir removed
  *    before the stream began and republished later is fresh data TO
  *    THIS CONSUMER and is delivered). One best-effort corner remains:
  *    versions expired mid-history collapse into one merged edge diff
  *    during reconstruction. A remove-then-readd fully inside the gap
  *    self-cancels (the entry is present at both edges — nothing to
  *    retire, nothing missed); the residual hazard is an entry ADDED
  *    and removed inside the gap (delivered, then retired, both
  *    invisible at the edges) and republished after it — a duplicate.
  *    Retention covering consumer lag — already the resume contract —
  *    keeps consumed versions live and prevents it. Where rollback
  *    interleavings must be consumed, not just deduped, run fail mode
  *    (stops loudly AT the rollback) or `mode=changes`, whose
  *    per-step diff handles re-pointed dirs as the inserts/deletes
  *    they logically are.
  *
  * Spark-first note on the API choice: this is a DSv1
  * [[org.apache.spark.sql.execution.streaming.Source]] PLUS the
  * connector-level [[SupportsTriggerAvailableNow]] admission-control
  * face — exactly Spark's own FileStreamSource shape, and deliberately
  * not a DSv2 `MicroBatchStream`. The v1 contract — offset range →
  * DataFrame — is what a manifest-backed table needs: the batch IS
  * `spark.read.parquet(appended dirs)`, planned by Catalyst with full
  * pushdown/pruning/codegen; a v2 stream hands back
  * `PartitionReader[InternalRow]`s, i.e. would force re-implementing
  * the vectorized parquet reader by hand (the v2 face of this engine's
  * source family lives in [[SeqSource]], where rows are generated, not
  * read). The admission-control face matters for two behaviors the
  * bare v1 `getOffset` cannot express:
  *
  *  - RATE LIMITING (`maxVersionsPerBatch`, the maxFilesPerTrigger /
  *    `streaming-max-files-per-micro-batch` analog in the store's
  *    natural unit): `latestOffset(start, limit)` receives the
  *    previous batch's END from the engine — including across
  *    restarts, recovered from the offset log — so a consumer
  *    resuming over a 10k-version backlog drains bounded catch-up
  *    batches with no source-side bookkeeping to lose.
  *  - `Trigger.AvailableNow`: without the interface the engine wraps a
  *    v1 source in a one-shot wrapper that captures the offset ONCE —
  *    under a rate limit that run would stop after a single clamped
  *    batch, silently under-delivering. Implementing
  *    [[SupportsTriggerAvailableNow]] pins the run's target at prepare
  *    time and drains up to it in bounded batches, then terminates.
  *
  * Two start modes, both replay-stable (manifests are immutable, so
  * re-running a checkpointed batch range re-reads identical entries):
  *
  *  - DEFAULT (no `startVersion`): the first batch is the FULL logical
  *    snapshot at the first observed version — Delta's
  *    initial-snapshot semantics: the consumer sees the whole table,
  *    then its growth. The anchor needs no driver state: it is the
  *    first offset Spark logs, so a restart replays `asOf` the same
  *    version. The initial-snapshot batch is never rate-limited (it is
  *    one snapshot by definition).
  *  - `startVersion=v`: tail-only — appends strictly after version `v`
  *    (Iceberg's `stream-from` semantics). Rows the table held at `v`
  *    are the consumer's presumed-already-processed past. `v` must not
  *    exceed the current version (typo guard), but is NOT required to
  *    be live: retention may legitimately expire the anchor of a
  *    long-running stream whose checkpoint is far ahead — only a
  *    stream that still NEEDS the anchor (first batch, no checkpoint)
  *    fails, loudly, through the range guard.
  *
  * SCHEMA CONTRACT: every batch is projected to the schema the
  * consumer subscribed at stream start (Delta's rule: evolution binds
  * at restart) — a mid-stream ADD COLUMN widens the appended dirs
  * without breaking the running query; a DROPPED subscribed column
  * fails loudly rather than fabricating nulls.
  *
  * RETENTION CONTRACT: resuming needs the checkpointed version still
  * live — [[Snapshots.expire]] retention must cover consumer lag
  * (Iceberg's rule verbatim) — plus, while the FIRST batch is still
  * the newest committed one, its start (the anchor, or the snapshot
  * version) too: the engine's clean restart replays the last committed
  * batch through getBatch to restore source state, and that batch's
  * range must still resolve. A resume past an expired version fails
  * loudly rather than silently skipping the GC'd gap. */
class SnapshotStreamProvider extends StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-snapshots"

  // DataStreamReader lower-cases option keys on some paths and not
  // others; normalize so `startVersion` and `startversion` both work
  private def norm(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase -> v }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val p = norm(parameters)
    val declared = schema.getOrElse(SnapshotStreamProvider.schemaFor(
      sqlContext.sparkSession, p))
    (shortName(), declared)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val p = norm(parameters)
    val maxVersions = p.get("maxversionsperbatch").map(_.toInt)
    maxVersions.foreach(m => require(m >= 1,
      s"maxVersionsPerBatch must be >= 1, got $m"))
    p.getOrElse("mode", "appends") match {
      case "appends" =>
        new SnapshotTailSource(sqlContext.sparkSession, p("root"),
          p("table"), p.get("startversion").map(_.toInt),
          p.getOrElse("onnonappend", "fail"), maxVersions,
          metadataPath = metadataPath)
      case "changes" =>
        new SnapshotChangesSource(sqlContext.sparkSession, p("root"),
          p("table"),
          p.getOrElse("key", sys.error(
            "mode=changes requires key — the change feed's equality column")),
          p.getOrElse("startversion",
            sys.error("mode=changes requires startVersion — a change " +
              "consumer names the version its state reflects " +
              "(Delta CDF's startingVersion contract)")).toInt,
          maxVersions)
      case other => sys.error(s"mode must be appends|changes, got $other")
    }
  }
}

object SnapshotStreamProvider {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

  /** The change-feed projection: the consumer's key column (typed from
    * the table) plus the CDC pseudo-columns [[Snapshots.changesBetween]]
    * emits. */
  private[sources] def changesSchema(tableSchema: StructType,
      key: String): StructType =
    StructType(Seq(tableSchema(key),
      StructField("_change_type", StringType),
      StructField("_change_version", IntegerType)))

  private[sources] def schemaFor(spark: SparkSession,
      p: Map[String, String]): StructType = {
    val tableSchema =
      new Snapshots(p("root")).current(spark, p("table")).schema
    if (p.getOrElse("mode", "appends") == "changes")
      changesSchema(tableSchema, p("key"))
    else tableSchema
  }
}

/** A table version as a streaming offset. Serializes as the bare
  * number so checkpoint offset logs read as version history. */
case class VersionOffset(v: Int) extends OffsetV1 {
  override def json(): String = v.toString
}

/** Shared machinery of both stream faces: version-offset parsing, the
  * schema-pinned streaming hand-off, and the admission-control
  * implementation (rate limit + Trigger.AvailableNow). Offset
  * progression is ENGINE-owned: `latestOffset(start, limit)` receives
  * the previous end — null before anything is committed, the
  * deserialized offset-log entry after a restart — so there is no
  * source-side watermark to lose across incarnations. */
private[sources] abstract class SnapshotSourceBase(
    protected val spark: SparkSession, protected val root: String,
    protected val table: String,
    protected val maxVersionsPerBatch: Option[Int])
    extends Source with SupportsTriggerAvailableNow {

  protected val store = new Snapshots(root)

  /** "Nothing consumed yet": the tail/changes faces anchor at their
    * startVersion; the initial-snapshot face uses -1 — its first batch
    * is the full snapshot and is exempt from the rate limit. */
  protected def baseVersion: Int

  /** Accepts every offset face — live [[VersionOffset]], the offset
    * log's SerializedOffset on recovery — via the JSON payload. */
  protected def vOf(o: OffsetConn): Int = o.json().trim.toInt

  protected def currentOrFail: Int =
    store.currentVersion(table).getOrElse(
      sys.error(s"no snapshots for $table"))

  protected def emptyBatch: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Pin `batch` to the SUBSCRIBED schema and re-root it as the
    * streaming-flagged frame the v1 contract wants (see
    * [[org.apache.spark.sql.graft.ColumnBridge.streamingFrame]]).
    * BOTH schema-divergence axes fail loudly: a dropped subscribed
    * column through the select-by-name (AnalysisException), and a
    * mid-stream column TYPE change through the explicit dataType
    * comparison below — select-by-name projects but does NOT cast, so
    * without the check a type-evolved append would ship batches whose
    * runtime rows silently disagree with the subscribed schema and
    * surface downstream as attribute-rebinding errors or wrong
    * results, far from the cause. */
  protected def deliver(batch: DataFrame): DataFrame = {
    val pinned =
      if (batch.schema == schema) batch
      else {
        val projected = batch.select(schema.fieldNames.toIndexedSeq.map(
          org.apache.spark.sql.functions.col): _*)
        // nullability-INSENSITIVE: a nested-struct nullability
        // relaxation in an appended batch is benign (the projection
        // carries it; rows still bind), so only a genuine TYPE
        // evolution may kill the stream
        val diverged = schema.fields.zip(projected.schema.fields).collect {
          case (sub, got) if !org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(sub.dataType, got.dataType) =>
            s"${sub.name} (subscribed ${sub.dataType.simpleString}, " +
              s"batch carries ${got.dataType.simpleString})"
        }
        if (diverged.nonEmpty) throw new IllegalStateException(
          s"schema evolved mid-stream on $table — column type(s) " +
            s"changed: ${diverged.mkString("; ")}. Schema binds at " +
            "stream start; restart the stream to subscribe the " +
            "evolved schema.")
        projected
      }
    org.apache.spark.sql.graft.ColumnBridge.streamingFrame(pinned)
  }

  // Trigger.AvailableNow pins the run's target when the query starts;
  // versions committed after that drain in the NEXT run
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentOrFail)

  override def latestOffset(start: OffsetConn, limit: ReadLimit)
      : OffsetConn = {
    val cur = availableNowCap.fold(currentOrFail)(
      math.min(currentOrFail, _))
    // the engine passes null before anything is committed (v1 path)
    val from = Option(start).map(vOf).getOrElse(baseVersion)
    val avail = maxVersionsPerBatch match {
      // from < 0 is the initial-snapshot sentinel: that batch is one
      // snapshot by definition and the limit governs the tail after it
      case Some(m) if from >= 0 => math.min(cur, from + m)
      case _ => cur
    }
    VersionOffset(math.max(avail, from))
  }

  /** Legacy v1 face. The 4.1.2 engine routes admission-control sources
    * through [[latestOffset]] (verified against the jar's
    * MicroBatchExecution: the SupportsAdmissionControl branch matches
    * before the bare Source branch), so this exists only for
    * completeness — but it must not be a silent hole in the admission
    * contract: it honors the AvailableNow cap, and when a rate limit
    * is configured it fails LOUDLY, because this face has no `start`
    * argument and so cannot express `start + maxVersionsPerBatch` —
    * an engine path that took it (an older Spark, a wrapper) would
    * otherwise plan one unclamped catch-up batch over the whole
    * backlog, exactly what the limit exists to prevent. */
  override def getOffset: Option[OffsetV1] = {
    maxVersionsPerBatch.foreach { m => throw new IllegalStateException(
      s"maxVersionsPerBatch=$m requires the admission-control offset " +
        "path (latestOffset(start, limit)); the bare v1 getOffset " +
        "cannot bound a batch and refusing beats planning one " +
        "unclamped catch-up batch") }
    Some(VersionOffset(availableNowCap.fold(currentOrFail)(
      math.min(currentOrFail, _))))
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}

/** The APPEND-TAIL face — see [[SnapshotStreamProvider]].
  * `metadataPath` is the engine-provided per-source checkpoint dir
  * (the contract Spark's FileStreamSource persists its file log
  * under); the tail writes the DEFAULT mode's anchor version there
  * once, so a restart's retired-set reconstruction can start the walk
  * AT the anchor instead of over-retiring pre-anchor removals. Empty
  * (direct construction in specs) ⇒ no persistence, earliest-live
  * fallback. */
class SnapshotTailSource(spark: SparkSession, root: String, table: String,
    startVersion: Option[Int], onNonAppend: String,
    maxVersions: Option[Int] = None, metadataPath: String = "")
    extends SnapshotSourceBase(spark, root, table, maxVersions) {
  require(onNonAppend == "fail" || onNonAppend == "skip",
    s"onNonAppend must be fail|skip, got $onNonAppend")
  // typo guard only — NOT a liveness requirement: retention may expire
  // the anchor of a long-lived stream whose checkpoint is far ahead,
  // and blocking the restart would contradict the retention contract
  // (only a stream that still NEEDS the anchor fails, in getBatch,
  // through the range guard's loud require)
  startVersion.foreach { v =>
    require(v <= currentOrFail,
      s"startVersion $v is beyond $table's current version " +
        s"${currentOrFail}")
  }

  override protected def baseVersion: Int = startVersion.getOrElse(-1)

  override val schema: StructType = store.current(spark, table).schema

  // ---- skip-mode cross-batch dedup state --------------------------------
  // Offsets carry version numbers, not dir identity, so the set of data
  // ENTRIES whose removal this consumer has SKIPPED lives here: a later
  // commit re-pointing at one of them (rollback-republish) must not be
  // re-delivered as a fresh append — see the provider scaladoc.
  // Identity is the full manifest entry, not the rel (a GC'd dir name
  // can be legitimately reused by a fresh append — Snapshots.stepDelta
  // documents why full identity cannot collide with fresh data). Only
  // the stream-execution thread calls getBatch, so plain vars suffice;
  // the set grows with rolled-back/rewritten dirs this consumer
  // observed, never with table size.
  private var retiredThrough: Option[Int] = None
  private var retired: Set[graft.plans.ManifestEntry] = Set.empty

  // Long-lived tails: the retired set grows with observed CHURN (every
  // fold/compaction retires the dirs it rewrote), which over a
  // year-long stream is unbounded driver state. An entry whose dir has
  // been GC'd can never be SILENTLY re-delivered — a later manifest
  // re-pointing at a missing dir yields a scan that fails loudly at
  // listing/read time — so once the set crosses the floor, entries
  // with no dir on disk are dropped; the floor doubles with the kept
  // size so the stat sweep is amortized O(1) per retirement. One
  // imprecision, memory-only: a GC'd path RECREATED by fresh data
  // (max+1 naming reuses freed names) keeps the stale entry alive in
  // the set — harmless, since full-entry identity still distinguishes
  // the fresh dir from the retired one. The var is test-visible so
  // the prune law is spec'd without 256 real rollbacks
  // ([[graft.SnapshotStreamSpec]]).
  private[graft] var retiredPruneFloor: Int = 256
  private[graft] def retiredCount: Int = retired.size
  private def prunedIfLarge(rs: Set[graft.plans.ManifestEntry])
      : Set[graft.plans.ManifestEntry] =
    if (rs.size < retiredPruneFloor) rs
    else {
      val kept = rs.filter(e =>
        new java.io.File(s"$root/${e.rel}").exists())
      retiredPruneFloor = math.max(retiredPruneFloor, kept.size * 2)
      kept
    }

  // ---- anchor persistence (default mode) --------------------------------
  // The initial-snapshot anchor is the ONE piece of source state a
  // mid-stream offset cannot recover (offsets carry batch ENDS; the
  // anchor is batch 0's end, long since superseded). Persist it once
  // under the engine-provided metadataPath — the per-source checkpoint
  // dir Spark's own FileStreamSource keeps its log in — via the Hadoop
  // FS API so any checkpoint filesystem works. The publish is ATOMIC:
  // bytes land in a uniquely-named tmp file first, then rename into
  // place (the checkpoint-FS rename contract) — a create-then-write
  // would leave a crash window where an EMPTY anchor file exists,
  // unparseable forever after (first-writer-wins means it would never
  // be repaired: a permanently bricked stream). A replay losing the
  // rename race wrote the same value by construction (batch 0's end
  // comes from the offset log), so the loser just drops its tmp.
  private def anchorFile = new org.apache.hadoop.fs.Path(
    metadataPath, "graft-anchor")
  // one FileSystem for the source's lifetime: metadataPath is fixed,
  // and rebuilding a full Hadoop Configuration per micro-batch persist
  // would be pure overhead. Lazy + only reached from call sites that
  // guard metadataPath.nonEmpty (Path("") is unconstructible).
  private lazy val hadoopFs = anchorFile.getFileSystem(
    spark.sessionState.newHadoopConf())
  private def atomicWrite(p: org.apache.hadoop.fs.Path, content: String,
      fs: org.apache.hadoop.fs.FileSystem, overwrite: Boolean): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s"${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // Hadoop rename refuses an existing destination; the re-persisting
    // caller (the high-water, whose marks are monotone) deletes first.
    // The no-file window this opens is safe there: a reader finding no
    // high-water falls back to the anchor-bounded walk, which is
    // correct, just slower. The anchor itself is write-once
    // (overwrite = false) so its publish has no such window.
    if (overwrite && fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      // rename returning false with the destination PRESENT is the
      // benign lost race (a concurrent replay published the same
      // value); false with NO destination is a genuine FS failure —
      // swallowing it would leave e.g. a write-once anchor silently
      // unpersisted, surfacing restarts later as a misleading
      // "checkpoint predates anchor persistence". Loud here, where
      // the engine's batch machinery can retry.
      if (!fs.exists(p)) throw new java.io.IOException(
        s"failed to publish $p: rename from $tmp returned false and " +
          "no destination exists — checkpoint filesystem fault")
    }
  }
  private def persistAnchor(v: Int): Unit =
    if (metadataPath.nonEmpty) {
      val fs = hadoopFs
      if (!fs.exists(anchorFile))
        atomicWrite(anchorFile, v.toString, fs, overwrite = false)
    }
  private def readAnchor(): Option[Int] =
    if (metadataPath.isEmpty) None
    else {
      val p = anchorFile
      val fs = hadoopFs
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        // corrupt ⇒ loud with remediation, not a NumberFormatException
        // on every restart: an empty/garbled anchor predates the
        // atomic tmp+rename write (or was hand-edited), and silently
        // ignoring it would change dedup semantics (earliest-live
        // over-retirement) under the consumer's feet
        if (txt.isEmpty || !txt.forall(_.isDigit))
          throw new IllegalStateException(
            s"corrupt graft-anchor at $p (content: '${txt.take(40)}'). " +
              "The anchor records the stream's initial-snapshot " +
              "version for retired-set reconstruction. If the " +
              "initial version is known, write it into the file; " +
              "otherwise restart from a fresh checkpoint.")
        Some(txt.toInt)
      }
    }

  // ---- retired-set high-water (skip mode) --------------------------------
  // Restart reconstruction without a persisted set walks every live
  // manifest above the anchor — O(live versions), deep-retention
  // high-churn tables pay it on every restart. The high-water file
  // `(mark, retired entries)` next to the anchor makes restart
  // O(since-last-persist): seed from the persisted set and walk only
  // (mark, fromV]. Written atomically (same tmp+rename as the anchor)
  // on an amortized cadence — whenever the set CHANGED (retirements
  // are rare: one per skipped non-append commit) or every
  // `retiredPersistEvery` versions otherwise, so even a pure-append
  // tail refreshes the mark often enough to keep restarts O(1). A
  // missing/torn/unparseable file is NOT loud: the anchor-bounded walk
  // below reconstructs the identical set, just slower — unlike the
  // anchor, the high-water is a pure accelerator, never semantics.
  // Entries serialize as manifest lines (the format already proven
  // tab/newline-free by ManifestEntry's own require).
  private def retiredFile = new org.apache.hadoop.fs.Path(
    metadataPath, "graft-retired")
  private[graft] var retiredPersistEvery: Int = 16
  private var retiredDirty: Boolean = false
  private var lastPersistedMark: Option[Int] = None
  /** Test hook: where the last restart reconstruction started its
    * manifest walk (the persisted mark when the high-water was used —
    * SnapshotStreamSpec asserts exactly that). */
  private[graft] var lastReconstructFrom: Option[Int] = None
  private def persistRetiredMaybe(mark: Int): Unit =
    if (metadataPath.nonEmpty &&
        (retiredDirty ||
          lastPersistedMark.forall(m => mark - m >= retiredPersistEvery))) {
      val lines = retired.toSeq.map(Snapshots.renderEntryLine).sorted
      atomicWrite(retiredFile, (mark.toString +: lines).mkString("\n"),
        hadoopFs, overwrite = true)
      lastPersistedMark = Some(mark)
      retiredDirty = false
    }
  private def readRetired(): Option[(Int, Set[graft.plans.ManifestEntry])] =
    if (metadataPath.isEmpty) None
    else scala.util.Try {
      val p = retiredFile
      val fs = hadoopFs
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = txt.linesIterator.toSeq
        Some((lines.head.trim.toInt,
          lines.tail.filter(_.nonEmpty)
            .map(Snapshots.parseEntryLine).toSet))
      }
    }.toOption.flatten

  /** Bring the retired set up to `fromV`. In-run, `retiredThrough`
    * already equals the previous batch's end and this is a no-op. On
    * the first batch after a RESTART (the engine replays the last
    * committed range into a fresh Source) the set is reconstructed:
    * from the persisted HIGH-WATER when available (seed set + a walk
    * of only `(mark, fromV]` — O(since-last-persist)); otherwise from
    * the live manifest history up to `fromV`, anchored at
    * `startVersion` when configured or at the PERSISTED
    * initial-snapshot anchor in default mode (see [[persistAnchor]]).
    * The earliest-live fallback applies ONLY to anchor-less direct
    * construction (no metadataPath — the spec harness), where its
    * over-retirement of pre-anchor removals is the suppression-side
    * bias documented on the provider; a default-mode CHECKPOINT
    * restart with no anchor file (a checkpoint created before anchors
    * existed) fails LOUDLY instead — silently over-retiring a
    * pre-anchor removal would suppress a legitimately republished dir
    * under a consumer that once received delivery guarantees without
    * that bias. The anchor bounds the walk even when the anchor
    * version itself has been retention-expired (it is a number, not a
    * read). Cost: recovery path only. */
  private def syncRetiredTo(fromV: Int): Unit =
    if (!retiredThrough.contains(fromV)) {
      val live = store.versions(table).filter(_ <= fromV)
      retired = readRetired() match {
        case Some((mark, seed)) if mark <= fromV =>
          // retention keeps consumed versions live, so normally
          // mark itself is live; if expired, start at the earliest
          // live above it (the merged-edge best-effort corner the
          // provider documents)
          val lo = live.filter(_ >= mark).headOption.getOrElse(fromV)
          lastReconstructFrom = Some(lo)
          lastPersistedMark = Some(mark)
          if (lo >= fromV) seed
          else {
            // the walk advanced past the persisted mark: flag dirty so
            // the next batch's persist refreshes the file instead of
            // waiting out the version cadence
            retiredDirty = true
            store.appendAdditionsTracked(table, lo, fromV, seed)._2
          }
        case _ =>
          if (startVersion.isEmpty && metadataPath.nonEmpty &&
              readAnchor().isEmpty)
            throw new IllegalStateException(
              s"restarting a default-mode checkpoint for $table with " +
                "no graft-anchor file: this checkpoint predates anchor " +
                "persistence, and reconstructing the skip-mode retired " +
                "set from the earliest live version could over-retire " +
                "pre-anchor removals (suppressing legitimately " +
                "republished dirs). Write the stream's initial-snapshot " +
                "version into <checkpoint>/sources/0/graft-anchor, or " +
                "restart from a fresh checkpoint.")
          val anchored = startVersion.orElse(readAnchor())
            .map(a => live.filter(_ >= a)).getOrElse(live)
          val lo = anchored.headOption.getOrElse(fromV)
          lastReconstructFrom = Some(lo)
          retiredDirty = true // make the next persist refresh the mark
          if (lo >= fromV) Set.empty
          else store.appendAdditionsTracked(table, lo, fromV, Set.empty)._2
      }
      retiredThrough = Some(fromV)
    }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = vOf(end)
    val batch = start.map(vOf).orElse(startVersion) match {
      case Some(fromV) if fromV >= endV =>
        // no new versions (or a replayed empty range): schema-stable
        // empty frame with no file paths planted in the plan
        emptyBatch
      case Some(fromV) if onNonAppend == "fail" =>
        val bad = store.nonAppendVersionsBetween(table, fromV, endV)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"non-append commit(s) at version(s) ${bad.mkString(",")} of " +
            s"$table: their row deltas are change data, not appends. " +
            "Consume them via changesBetween (mode=changes), or set " +
            "onNonAppend=skip to tail appends only.")
        // the guard proved the range append-only, so no removal can
        // have retired anything — the plain range read is exact
        store.appendsBetween(spark, table, fromV, endV)
      case Some(fromV) => // skip mode: the retired-entry-tracked walk
        syncRetiredTo(fromV)
        val (added, retired1) =
          store.appendAdditionsTracked(table, fromV, endV, retired)
        val pruned = prunedIfLarge(retired1)
        if (pruned != retired) retiredDirty = true
        retired = pruned
        retiredThrough = Some(endV)
        persistRetiredMaybe(endV)
        if (added.isEmpty) emptyBatch
        else {
          val scan = store.readDirs(spark, added.map(_.rel))
          // post-listing expiry-race re-check, same dichotomy as the
          // batch readers: full batch or loud refusal, never a dir
          // half-gutted by a racing sweep delivered as a short batch
          store.requireRangeStillLive(table, fromV, endV)
          scan
        }
      case None =>
        // default mode's first batch: the full logical snapshot at the
        // first logged offset — replay-stable because `end` comes from
        // the offset log on recovery. Nothing can be retired yet: the
        // snapshot IS the consumer's baseline; the anchor persists to
        // the source's checkpoint dir so a later restart's retired-set
        // reconstruction starts here, not at the earliest live version.
        persistAnchor(endV)
        retired = Set.empty
        retiredThrough = Some(endV)
        persistRetiredMaybe(endV) // empty set at mark endV: a restart
        // then seeds from the high-water and never pays the anchor walk
        store.asOf(spark, table, endV)
    }
    deliver(batch)
  }

  override def toString: String =
    s"SnapshotTailSource(root=$root, table=$table, " +
      s"start=${startVersion.getOrElse("snapshot")}, $onNonAppend)"
}

/** `mode=changes`: the CHANGE FEED as a stream — Delta's CDF streaming
  * read / Iceberg's changelog scan re-expressed over
  * [[Snapshots.changesBetween]]. Where the append tail refuses (or
  * skips) non-append commits, this source CONSUMES them: every commit
  * type — append, CoW rewrite, MoR delete, upsert — becomes
  * (key, _change_type, _change_version) rows, the reconciliation
  * stream a downstream serving table applies (the t13 upsert pattern
  * closes the loop: snapshot-store changes in, keyed MERGE out).
  * `startVersion` is required — a change consumer names the version
  * its state reflects. Batch-slicing invariant: changesBetween over
  * (a, c] equals the union of (a, b] and (b, c] step diffs by
  * construction (it is computed per version step), so HOW triggers
  * slice the version range cannot change the delivered rows —
  * SnapshotStreamSpec pins it. Per-step cost: the delta-restricted
  * diff (exclusive dirs ∪ delete-applicability-changed kept dirs),
  * never O(table); the pure-append fast path skips the join entirely. */
class SnapshotChangesSource(spark: SparkSession, root: String,
    table: String, key: String, startVersion: Int,
    maxVersions: Option[Int] = None)
    extends SnapshotSourceBase(spark, root, table, maxVersions) {
  // same typo-guard-not-liveness rule as the tail face: an expired
  // anchor only matters to a stream still needing batch 0
  require(startVersion <= currentOrFail,
    s"startVersion $startVersion is beyond $table's current version " +
      s"${currentOrFail}")

  override protected def baseVersion: Int = startVersion

  override val schema: StructType = SnapshotStreamProvider.changesSchema(
    store.current(spark, table).schema, key)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = vOf(end)
    val fromV = start.map(vOf).getOrElse(startVersion)
    deliver(
      if (fromV >= endV) emptyBatch
      else store.changesBetween(spark, table, fromV, endV, key))
  }

  override def toString: String =
    s"SnapshotChangesSource(root=$root, table=$table, key=$key, " +
      s"from=$startVersion)"
}
