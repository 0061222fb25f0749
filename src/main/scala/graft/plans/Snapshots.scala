package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition

/** A snapshot commit validated against an expected current version lost
  * its race: another writer committed first. Carries what the writer
  * assumed vs what it found so retry loops (and humans) can see the
  * interleaving. The Iceberg commit protocol surfaces the same event as
  * `CommitFailedException` and resolves it the same way: re-read,
  * re-validate, re-attempt — never last-writer-wins. */
final class ConcurrentCommitException(val table: String,
    val expected: Option[Int], val found: Option[Int])
  extends RuntimeException(
    s"concurrent commit on $table: expected current version $expected, found $found")

/** One manifest line. `kind` is "data" (an immutable parquet dir of
  * table rows) or "delete" (an Iceberg-v2-style EQUALITY-DELETE dir: a
  * parquet dir holding the distinct `key` values whose rows are
  * logically deleted). `seq` is the entry's data sequence number —
  * Iceberg's ordering rule re-expressed: a delete applies only to data
  * entries with a STRICTLY SMALLER seq, so a row re-inserted after the
  * delete (higher seq) survives it. `key` names the equality columns
  * (delete entries only).
  *
  * `statsJson` inlines the dir's metrics — record count plus per-column
  * min/max/null bounds ([[DirStats.toJson]]) — into the manifest line
  * itself, the way Iceberg manifests carry `record_count` and column
  * bounds per file: scan planning, CoW pruning, and per-version row
  * accounting read ONE manifest, and nothing else holds a copy of the
  * stats. Kept as the RAW JSON STRING so a parse→format round trip is
  * byte-stable (entries migrate across manifests verbatim). An entry
  * whose footer harvest failed carries None: it never prunes and its
  * rows count as unknown. */
final case class ManifestEntry(kind: String, seq: Int, rel: String,
    key: Seq[String], statsJson: Option[String] = None) {
  require(kind == "data" || kind == "delete",
    s"manifest entry kind must be data|delete, got $kind")
  require(kind == "data" || key.nonEmpty,
    "a delete entry needs at least one equality key column")
  // the manifest is line-per-entry and tab-separated; Jsonish escapes
  // control chars so this only rejects hand-built invalid entries
  require(statsJson.forall(j => !j.exists(c => c == '\t' || c == '\n' ||
    c == '\r')), "inline stats JSON must not contain tab/newline")

  /** Parsed inline metrics; None when the entry carries none. */
  lazy val stats: Option[DirStats.Stats] = statsJson.flatMap(DirStats.parseJson)

  /** The dir's record count from inline metrics, -1 when unknown. */
  def records: Long = stats.map(_.rows).getOrElse(-1L)
}

object Snapshots {
  /** JVM-global staging-tmp counter — see writerTag. */
  private[plans] val tmpSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Default GC age cutoff for [[Snapshots.expire]]/
    * [[Snapshots.cleanOrphans]]: an unreferenced dir younger than this
    * is presumed to belong to an IN-FLIGHT commit (staging precedes
    * the manifest claim) and survives the sweep. One hour covers any
    * realistic stage-to-commit window; immediate-GC callers opt in
    * with 0L. */
  val DefaultGcAgeMillis: Long = 60L * 60 * 1000

  /** [[parseEntryLine]]'s inverse — the manifest line format. Exposed
    * graft-wide because the streaming tail's retired-set high-water
    * file serializes entries in exactly this (already proven
    * tab/newline-free) format. */
  private[graft] def renderEntryLine(e: ManifestEntry): String = e match {
    case ManifestEntry("data", seq, rel, _, None) => s"data\t$seq\t$rel"
    case ManifestEntry("data", seq, rel, _, Some(j)) =>
      s"data\t$seq\t$rel\t\t$j" // empty 4th field = no key columns
    case ManifestEntry("delete", seq, rel, key, None) =>
      s"delete\t$seq\t$rel\t${key.mkString(",")}"
    case ManifestEntry("delete", seq, rel, key, Some(j)) =>
      s"delete\t$seq\t$rel\t${key.mkString(",")}\t$j"
    case other => sys.error(s"unserializable manifest entry $other")
  }

  /** Parse one manifest entry line. STATIC (captures no instance
    * state) so the distributed `\$files` read path can run it on
    * executors over `spark.read.textFile` of the segment files. */
  private[graft] def parseEntryLine(line: String): ManifestEntry =
    line.split('\t') match {
      case Array("data", seq, rel) => ManifestEntry("data", seq.toInt, rel, Nil)
      case Array("data", seq, rel, "", j) =>
        ManifestEntry("data", seq.toInt, rel, Nil, Some(j))
      case Array("delete", seq, rel, key) =>
        ManifestEntry("delete", seq.toInt, rel, key.split(',').toSeq)
      case Array("delete", seq, rel, key, j) =>
        ManifestEntry("delete", seq.toInt, rel, key.split(',').toSeq, Some(j))
      case _ => sys.error(s"unparseable manifest line: $line")
    }

  /** One `\$files` row from an entry and its inline stats. Static so
    * the distributed path's closure captures no Snapshots instance
    * (and with it its caches). */
  private[plans] def fileRowFrom(e: ManifestEntry)
      : (String, Long, String, Long, Long, Long, Long) = {
    val st = e.stats
    (e.kind, e.seq.toLong, e.rel,
      st.map(_.rows).getOrElse(-1L),
      st.map(_.cols.size.toLong).getOrElse(-1L),
      st.map(_.files).getOrElse(-1L),
      st.map(_.bytes).getOrElse(-1L))
  }

  /** Stats-attributed partition value of a temporal/numeric/string
    * min-max pair — day ordinals and epoch micros render as their
    * integer value. */
  private def renderPartValue(x: Any): String = x match {
    case DirStats.Days(d) => d.toString
    case DirStats.Micros(u) => u.toString
    case other => other.toString
  }

  /** One `\$partitions` pre-rollup row from an entry and its inline
    * stats: (isData, rel, attributed partition value or null, rows,
    * files, bytes). Static for the same executor-closure reason as
    * [[fileRowFrom]]. `rel` rides along so the exact-rollup fallback
    * can scan just the unattributable dirs. */
  private[plans] def partRowFrom(partCol: String, e: ManifestEntry)
      : (Boolean, String, String, Long, Long, Long) = {
    val st = e.stats
    val value = st.flatMap(_.cols.get(partCol)) match {
      case Some(c) if c.min == c.max && c.nulls == 0 =>
        renderPartValue(c.min)
      case _ => null
    }
    (e.kind == "data", e.rel, value,
      st.map(_.rows).getOrElse(-1L),
      st.map(_.files).getOrElse(-1L),
      st.map(_.bytes).getOrElse(-1L))
  }

  /** Entry counts of one manifest segment: the quadruple [[history]]
    * and [[segmentsMetadata]] need per version-file ref — cached per
    * segment so those surfaces are O(refs), not O(entries), after the
    * first touch. */
  private[graft] final case class SegCounts(nEntries: Long, nData: Long,
      nDelete: Long, maxSeq: Int)

  private[graft] def countsOf(es: IterableOnce[ManifestEntry]): SegCounts = {
    var n = 0L; var d = 0L; var del = 0L; var mx = 0
    es.iterator.foreach { e =>
      n += 1
      if (e.kind == "data") d += 1 else del += 1
      if (e.seq > mx) mx = e.seq
    }
    SegCounts(n, d, del, mx)
  }

  /** Bound a version file's ref-group list (reused `@seg` refs or
    * fresh entry runs, in order) to at most `maxRefs`.
    *
    * Pass 1 — GEOMETRIC tail merge (LSM tiering / Lucene merge-policy
    * economics): adjacent groups merge while the earlier one holds
    * fewer than 2× the later one's entries, so surviving sizes
    * decrease geometrically front-to-back — the ref list is O(log
    * entries), each entry is rewritten O(log entries) times over the
    * table's lifetime (amortized O(delta · log) metadata writes), and
    * the big head segments are REUSED verbatim through a merge commit.
    *
    * Pass 2 — coarse fallback, so `maxRefs` is an INVARIANT rather
    * than the O(log entries) estimate: a pathological size profile
    * (strictly ≥2×-decreasing sizes across more than `maxRefs` groups,
    * i.e. beyond ~2^maxRefs entries at the 16-ref floor) can survive
    * the geometric pass over-long; the fallback then merges the
    * adjacent pair with the smallest combined entry count until the
    * bound holds, touching the cheapest (tail-most) metadata first.
    * A merged group is FRESH (ref `None`): its bytes must be
    * rewritten; untouched groups keep their reused refs. */
  private[graft] def boundRefGroups(
      groups: IndexedSeq[(Option[String], List[ManifestEntry])],
      maxRefs: Int)
      : IndexedSeq[(Option[String], List[ManifestEntry])] = {
    if (groups.size <= maxRefs) return groups
    val stack = scala.collection.mutable.ArrayBuffer
      .empty[(Option[String], List[ManifestEntry])]
    groups.foreach { g =>
      stack += g
      while (stack.size >= 2 &&
          stack(stack.size - 2)._2.size < 2 * stack.last._2.size) {
        val b = stack.remove(stack.size - 1)
        val a = stack.remove(stack.size - 1)
        stack += ((None, a._2 ++ b._2)) // merged ⇒ fresh
      }
    }
    while (stack.size > maxRefs) {
      val i = (0 until stack.size - 1)
        .minBy(j => stack(j)._2.size + stack(j + 1)._2.size)
      val merged: (Option[String], List[ManifestEntry]) =
        (None, stack(i)._2 ++ stack(i + 1)._2)
      stack.remove(i + 1)
      stack(i) = merged
    }
    stack.toIndexedSeq
  }
}

/** Manifest-based versioned-snapshot store — the table-format emulation
  * for time travel (D5), CDC inputs (D6), WAP branching (D17), and
  * snapshot expiry (M2), since no Iceberg/Delta jars exist in this
  * build (SURVEY.md §7.0).
  *
  * Layout (the Iceberg metadata/data split, re-expressed on a plain
  * filesystem; /root/reference/src/maintenance/iceberg_maintenance.py:73-93
  * treats retention/fast-forward as metadata ops over immutable files):
  * {{{
  *   <root>/<table>/manifests/v=<N>.manifest  # text: one ManifestEntry
  *                                            #   per line, or `@seg`
  *                                            #   refs (see below)
  *   <root>/<table>/manifests/seg/<tag>.seg   # immutable entry-line
  *                                            #   segments, shared
  *                                            #   across versions and
  *                                            #   branches
  *   <root>/<table>/data/d<K>/                # immutable parquet dirs
  * }}}
  * A VERSION IS A MANIFEST — a tiny text file of [[ManifestEntry]]
  * lines: data dirs plus Iceberg-v2-style equality-DELETE dirs, each
  * carrying a data sequence number and the dir's inline stats — the
  * only place the store keeps them. Consequences, each O(metadata)
  * where the pre-r11 store paid O(table):
  *   - [[append]] writes ONLY the delta files and a manifest that is
  *     `prev lines + 1` — and above `segThreshold` entries the
  *     manifest itself goes two-level (Iceberg's manifest-list /
  *     manifest split): the version file is a short list of `@seg`
  *     refs to immutable segment files, commits reuse the
  *     predecessor's segments for every surviving in-order slice and
  *     write only the changed runs, so the METADATA write is O(delta)
  *     too, never O(table-entries);
  *   - [[publish]]/[[branch]]/[[rollback]] copy a manifest VERBATIM —
  *     zero data bytes move, exactly Iceberg's branch fast-forward;
  *   - [[deleteWhere]]/[[updateWhere]]/[[mergeUpsert]]/[[mergeWith]]
  *     rewrite only the data dirs that actually contain affected rows
  *     (file-granularity copy-on-write, footer-stat pruned);
  *   - [[deleteWhereMoR]] writes O(deleted keys) — a delete FILE, no
  *     data rewrites; reads apply it under the sequence-number rule
  *     until [[rewriteDeletes]] folds it away;
  *   - [[scanWhere]] prunes provably-unmatchable dirs at planning
  *     time from the same inline footer stats;
  *   - [[expire]] deletes manifest files, then garbage-collects data
  *     dirs no live manifest references — shared files survive as long
  *     as ANY branch still points at them; [[history]] is the
  *     `\$snapshots` metadata table over the same manifests.
  * Manifest paths are root-relative so branches/tables under one root
  * share data files without copying (publish staging→main makes main
  * reference staging's files, as Iceberg does).
  *
  * Versions are DETERMINISTIC integers (never wall-clock — reference
  * queries pin `FOR SYSTEM_TIME AS OF`,
  * /root/reference/scripts/verify_loaded_data.sql:107-110; our resolver
  * pins `v=N`). The manifest write is the commit point (tmp + rename);
  * readers of v=N never block writers of v=N+1.
  */
class Snapshots(root: String, segThreshold: Int = 64) {

  val rootDir: String = root

  private val sep = java.io.File.separator
  private def tableDir(table: String) = new java.io.File(s"$root/$table")
  private def manifestsDir(table: String) =
    new java.io.File(s"$root/$table/manifests")
  private def manifestFile(table: String, v: Int) =
    new java.io.File(manifestsDir(table), s"v=$v.manifest")
  private def segDir(table: String) =
    new java.io.File(manifestsDir(table), "seg")

  // ---- manifest segments ----------------------------------------------
  // Two-level metadata, Iceberg's manifest-list economics: once a
  // table's entry count reaches `segThreshold`, a version file stops
  // inlining entries and becomes a short list of `@seg <rel>` lines
  // referencing IMMUTABLE segment files that hold the entry lines. A
  // commit then reuses the predecessor's segments verbatim for every
  // entry that survives in order and writes only the changed runs as
  // new segments — an append's metadata write is O(delta), a CoW's is
  // O(changed segments), never O(table-entries) (a 100k-entry table
  // would otherwise rewrite tens of MB of manifest text per commit).
  // Segment refs are ROOT-relative, so branch/publish/rollback stay
  // verbatim version-file copies and branches share segments the same
  // way they share data dirs; liveness for GC is root-wide.

  /** Once a version file's ref list outgrows this, the commit merges
    * trailing segments GEOMETRICALLY (see [[renderManifest]]) —
    * Iceberg's manifest merging (`commit.manifest.min-count-to-merge`)
    * with LSM-tier economics: the ref list stays O(log entries) and a
    * commit's metadata write is amortized O(delta · log), never a flat
    * full re-chunk. */
  private def maxSegRefs: Int = math.max(16, segThreshold * 4)

  /** Cache of immutable segment files (they are write-once, so a
    * cached parse can never go stale). Bounded by LIVE metadata only
    * because GC evicts: [[expire]] and [[cleanOrphans]] call
    * [[evictDeadCacheEntries]] after deleting segment files, so a
    * long-lived writer's cache tracks the live segment set instead of
    * accumulating every segment ever touched (orphaned re-chunk
    * leftovers, lost-race stages, expired history) — and a post-GC
    * read of a vanished segment fails loudly in [[readSeg]] instead of
    * serving a cached ghost. */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, List[ManifestEntry]]()

  /** Per-segment entry COUNTS — (entries, data, delete, max seq) —
    * cached separately from the parsed lists so counts-only consumers
    * ([[history]], [[segmentsMetadata]]) stay O(version-file refs)
    * per version after one touch per segment, and never hold a giant
    * table's full entry lists in memory just to count them: a
    * 1000-version audit over a segmented table touches version files
    * plus each distinct segment ONCE, not O(versions × entries). */
  private val segCountsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshots.SegCounts]()

  /** Drop cache entries whose segment file, or whose dir's part file,
    * no longer exists (deleted by [[expire]]/[[cleanOrphans]], here or
    * in another instance on the same root). O(cache size)
    * file-existence probes — metadata stat calls, paid once per GC
    * pass, which bounds the caches at the live segments and dirs. */
  private def evictDeadCacheEntries(): Unit = {
    segCache.keySet.removeIf(rel =>
      !new java.io.File(s"$root/$rel").exists())
    segCountsCache.keySet.removeIf(rel =>
      !new java.io.File(s"$root/$rel").exists())
    dirSchemaCache.keySet.removeIf { case (rel, part) =>
      !new java.io.File(s"$root/$rel/$part").exists()
    }
  }

  /** Per-DIR schema cache, read-through: a dir's schema is resolved
    * from its first part file's footer on the driver
    * (`ColumnBridge.parquetFileSchema`, Spark's own footer-to-schema
    * step) the first time this instance reads the dir, and never
    * again. Purpose: `spark.read.parquet` otherwise re-infers the
    * schema on every read, and each inference is a Spark job (~80-120
    * ms of driver work, measured via tools.CommitMicro: bare resolve
    * 128 ms vs schema-pinned 14 ms) — a reader that builds the same
    * merge-on-read frame per query paid it once per dir per query.
    *
    * Keyed on dir IDENTITY, not name: (root-relative dir, name of its
    * first part file). Part-file names carry the writing job's UUID,
    * so when rollback + GC frees a dir name and [[freshDataRel]]
    * re-mints it with other content, the new dir has a new key and a
    * schema cached for the old one can never be served for it. GC
    * ([[evictDeadCacheEntries]]) drops keys whose part file is
    * gone, which bounds the cache at the live dirs this instance
    * read. */
  private val dirSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** `spark.read.parquet` over root-relative dirs, schema-pinned when
    * every dir resolves to one identical schema through
    * [[dirSchemaCache]]. Reads spanning dirs with DIFFERENT schemas
    * (schema-evolution fixtures) or a dir holding no parquet file fall
    * back to plain inference, so the pinned path is only taken when it
    * is the schema inference would return. Shared by every read of the
    * store, the streaming tail's included. */
  private[graft] def readDirs(spark: SparkSession,
      rels: Seq[String]): DataFrame = {
    val paths = rels.map(r => s"$root/$r")
    val parts = rels.map(r => Option(new java.io.File(s"$root/$r").list())
      .flatMap(_.filter(_.endsWith(".parquet")).minOption).map(r -> _))
    val schemas =
      if (parts.exists(_.isEmpty)) Seq.empty
      else parts.flatten.map(id => dirSchemaCache.computeIfAbsent(id,
        _ => org.apache.spark.sql.graft.ColumnBridge
          .parquetFileSchema(spark, s"$root/${id._1}/${id._2}"))).distinct
    if (schemas.size == 1) spark.read.schema(schemas.head).parquet(paths: _*)
    else spark.read.parquet(paths: _*)
  }

  /** Test visibility: current segment-cache entry count. */
  private[graft] def segCacheSize: Int = segCache.size()

  /** Test visibility: segment-file PARSES performed (cold reads, list
    * or counts) — the meter for "a warm metadata scan re-parses
    * nothing". */
  private[graft] val segParseCount = new java.util.concurrent.atomic.AtomicLong()

  private def readSeg(rel: String): List[ManifestEntry] =
    segCache.computeIfAbsent(rel, _ => {
      segParseCount.incrementAndGet()
      val f = new java.io.File(s"$root/$rel")
      require(f.exists(), s"missing manifest segment $rel")
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(_.nonEmpty)
        .map(parseEntry).toList
      finally src.close()
    })

  /** The counts quadruple of an immutable segment. Served from the
    * parsed-list cache when that is already warm; otherwise STREAMED
    * off the file without materializing (or caching) the entry list —
    * a counts-only history audit should not pull every segment's
    * entries into memory as a side effect. */
  private def segCounts(rel: String): Snapshots.SegCounts =
    segCountsCache.computeIfAbsent(rel, _ => {
      Option(segCache.get(rel)) match {
        case Some(es) => Snapshots.countsOf(es)
        case None =>
          segParseCount.incrementAndGet()
          val f = new java.io.File(s"$root/$rel")
          require(f.exists(), s"missing manifest segment $rel")
          val src = scala.io.Source.fromFile(f)
          try Snapshots.countsOf(src.getLines().map(_.trim)
            .filter(_.nonEmpty).map(parseEntry))
          finally src.close()
      }
    })

  private def writeSeg(table: String, es: Seq[ManifestEntry]): String = {
    val dir = segDir(table)
    dir.mkdirs()
    val name = s"$writerTag.seg" // writer-unique: no two committers collide
    java.nio.file.Files.writeString(new java.io.File(dir, name).toPath,
      es.map(fmtEntry).mkString("\n"))
    val rel = s"$table/manifests/seg/$name"
    segCache.put(rel, es.toList)
    segCountsCache.put(rel, Snapshots.countsOf(es))
    rel
  }

  /** The reusable `@seg` refs of a version file, in order, resolved.
    * Resilient to a concurrently-expired predecessor (readRaw would
    * throw): segment reuse is an OPTIMIZATION, so a vanished manifest
    * degrades to "no reusable groups" (the commit writes fresh
    * segments) — and if the predecessor vanished because the table
    * moved on, the OCC current-version check right after rejects the
    * commit as the retryable race it is, instead of crashing here. */
  private def segGroups(table: String, vOpt: Option[Int])
      : Seq[(String, List[ManifestEntry])] =
    vOpt.toSeq.flatMap { v =>
      scala.util.Try {
        readRaw(table, v).linesIterator.map(_.trim).collect {
          case l if l.startsWith("@seg\t") =>
            val rel = l.stripPrefix("@seg\t"); (rel, readSeg(rel))
        }.toSeq
      }.getOrElse(Seq.empty)
    }

  /** Render `entries` as version-file content, reusing `derivedFrom`'s
    * segments for every order-preserving surviving slice and writing
    * only uncovered runs as new segment files. Returns (content, the
    * FRESH entries — the ones not covered by a reused segment — which
    * are the only ones the commit needs to re-validate: reused
    * segments' dirs are part of the live predecessor snapshot, so GC
    * cannot have touched them). Below the threshold (and with no
    * segmented predecessor) the content is the flat inline format. */
  private def renderManifest(table: String, derivedFrom: Option[Int],
      entries: Seq[ManifestEntry]): (String, Seq[ManifestEntry]) = {
    val prior = segGroups(table, derivedFrom)
    if (prior.isEmpty && entries.size < segThreshold)
      return (entries.map(fmtEntry).mkString("\n"), entries)
    // greedy in-order cover: at each position, reuse a predecessor
    // segment iff its entry list equals the upcoming slice exactly.
    // Some(rel) = reused predecessor segment; None = fresh run.
    val byFirst = prior.filter(_._2.nonEmpty).groupBy(_._2.head)
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(Option[String], List[ManifestEntry])]
    val run = scala.collection.mutable.ArrayBuffer.empty[ManifestEntry]
    def flushRun(): Unit = if (run.nonEmpty) {
      groups += ((None, run.toList)); run.clear()
    }
    var i = 0
    while (i < entries.size) {
      byFirst.getOrElse(entries(i), Seq.empty).find { case (_, es) =>
        es.size <= entries.size - i && entries.slice(i, i + es.size) == es
      } match {
        case Some((rel, es)) =>
          flushRun(); groups += ((Some(rel), es)); i += es.size
        case None => run += entries(i); i += 1
      }
    }
    flushRun()
    // Ref-list bound: GEOMETRIC tail merge with a coarse fallback that
    // makes maxSegRefs a hard invariant — [[Snapshots.boundRefGroups]]
    // (extracted there so the bound itself is spec-testable without a
    // 2^16-entry fixture).
    val bounded = Snapshots.boundRefGroups(groups.toIndexedSeq, maxSegRefs)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[ManifestEntry]
    val out = bounded.map {
      case (Some(rel), _) => s"@seg\t$rel"
      case (None, es) => fresh ++= es; s"@seg\t${writeSeg(table, es)}"
    }
    (out.mkString("\n"), fresh.toSeq)
  }

  def versions(table: String): Seq[Int] = {
    val d = manifestsDir(table)
    if (!d.exists()) Seq.empty
    else Option(d.listFiles()).getOrElse(Array.empty).toSeq
      // strict v=<digits>.manifest match: an aborted commit can leave
      // *.tmp files, which must read as orphans, not crash every op
      .filter(f => f.isFile && f.getName.matches("v=\\d+\\.manifest"))
      .map(_.getName.stripPrefix("v=").stripSuffix(".manifest").toInt)
      .sorted
  }

  def currentVersion(table: String): Option[Int] = versions(table).lastOption

  // ---- manifest entry (de)serialization --------------------------------

  private def fmtEntry(e: ManifestEntry): String =
    Snapshots.renderEntryLine(e)

  private def parseEntry(line: String): ManifestEntry =
    Snapshots.parseEntryLine(line)

  private def readRaw(table: String, v: Int): String = {
    val f = manifestFile(table, v)
    require(f.exists(), s"no manifest for $table v=$v")
    val src = scala.io.Source.fromFile(f)
    try src.getLines().mkString("\n") finally src.close()
  }

  /** Every entry of snapshot `v` — data dirs AND equality-delete dirs.
    * `@seg` refs resolve through the (immutable, cached) segment
    * files; inline entry lines parse as before, so every pre-segment
    * manifest stays readable unchanged. */
  def readEntries(table: String, v: Int): Seq[ManifestEntry] =
    readRaw(table, v).linesIterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        if (l.startsWith("@seg\t")) readSeg(l.stripPrefix("@seg\t"))
        else List(parseEntry(l))
      }.toList

  /** The root-relative DATA dirs snapshot `v` is made of (delete
    * entries excluded — callers that must see them use [[readEntries]]). */
  def readManifest(table: String, v: Int): Seq[String] =
    readEntries(table, v).collect {
      case e if e.kind == "data" => e.rel
    }

  /** Absolute data-dir paths of snapshot `v` (for scans / file stats). */
  def dataDirs(table: String, v: Int): Seq[String] =
    readManifest(table, v).map(rel => s"$root/$rel")

  /** The next data sequence number for a commit carrying `entries`
    * forward — one past the largest seq PRESENT, not the version
    * number: versions are per-table counters while entries migrate
    * across tables verbatim (branch/publish are manifest copies), so a
    * seq derived from the DESTINATION's version could duck under a
    * copied delete's seq and resurrect its deleted rows into new data. */
  private def nextSeq(entries: Seq[ManifestEntry]): Int =
    (entries.map(_.seq) :+ 0).max + 1

  // per-writer tmp-file disambiguator: two concurrent committers must
  // never share a staging path, or the loser's bytes could publish
  // under the winner's link. The counter is JVM-GLOBAL (companion
  // object), not per-instance: two `new Snapshots(root)` on the same
  // root would otherwise mint identical tags and truncate each
  // other's staging bytes mid-CAS — the exact torn commit the tag
  // exists to prevent.
  private def writerTag: String =
    s"p${ProcessHandle.current().pid()}-t${Snapshots.tmpSeq.incrementAndGet()}"

  /** Atomically claim version `v` for `relDirs`; false iff another
    * writer claimed `v` first. The CAS is a HARD LINK, not a rename:
    * POSIX link(2) fails with EEXIST when the target exists, whereas
    * rename(2) silently REPLACES it — under rename, two writers racing
    * to v=N would both "succeed" and one commit would vanish
    * (last-writer-wins, the lost update a table format exists to
    * prevent). With link-as-CAS the first claimant wins and every
    * loser OBSERVES the loss, which is what makes the optimistic
    * retry loops above this sound. A crash mid-write leaves only a
    * .tmp orphan ([[cleanOrphans]] sweeps it), never a half-readable
    * version. */
  private def claimVersion(table: String, v: Int,
      content: String): Boolean = {
    manifestsDir(table).mkdirs()
    val tmp = new java.io.File(manifestsDir(table),
      s"v=$v.manifest.$writerTag.tmp")
    java.nio.file.Files.writeString(tmp.toPath, content)
    try {
      java.nio.file.Files.createLink(
        manifestFile(table, v).toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally tmp.delete()
  }

  /** Commit a manifest of EXISTING entries (data + delete, dirs
    * root-relative) — the metadata-only commit primitive.
    *
    * PREV-INDEPENDENT intent only: "make exactly these entries the next
    * snapshot", so losing a version race is resolved by re-claiming
    * the next number with the SAME list (overwrite/rollback/branch
    * semantics don't read the predecessor). A commit whose entry list
    * was DERIVED from the current snapshot (append, CoW delete,
    * compaction) must instead go through [[commitEntriesIfCurrent]] +
    * [[occRetry]], or a concurrent commit's rows would be silently
    * dropped by the stale list. */
  def commitEntries(table: String, entries: Seq[ManifestEntry]): Int = {
    val (content, fresh) = renderManifest(table, None, entries)
    validateDirs(table, fresh)
    commitRaw(table, content)
  }

  /** Fail a commit HERE when a referenced dir is missing or emptied —
    * a GC racing the commit could have gutted a freshly staged dir
    * before the manifest landed; publishing over it would surface
    * later as a half-readable snapshot. Only FRESH entries need this:
    * entries covered by a reused segment belong to the live
    * predecessor snapshot, which reference-counted GC never touches. */
  private def validateDirs(table: String,
      entries: Seq[ManifestEntry]): Unit =
    entries.foreach { e =>
      val d = new java.io.File(s"$root/${e.rel}")
      require(d.exists() && Option(d.listFiles()).exists(_.nonEmpty),
        s"manifest for $table would reference missing or emptied dir ${e.rel}")
    }

  private def commitRaw(table: String, content: String): Int = {
    var attempts = 0
    while (true) {
      val v = currentVersion(table).getOrElse(0) + 1
      if (claimVersion(table, v, content)) return v
      attempts += 1
      require(attempts < 1000, s"commit of $table starved after $attempts races")
    }
    -1 // unreachable
  }

  /** Optimistic commit: claim `expected+1` only if the table is STILL
    * at `expected` — the validation step of the Iceberg commit
    * protocol, for SNAPSHOT-DERIVED entry lists (data + delete). Throws
    * [[ConcurrentCommitException]] when the snapshot moved (or the
    * claim loses the final CAS), so callers whose entry list was
    * derived from snapshot `expected` re-derive it instead of
    * publishing a stale view. */
  def commitEntriesIfCurrent(table: String, expected: Option[Int],
      entries: Seq[ManifestEntry]): Int = {
    // derive the segment layout from `expected` — the snapshot this
    // entry list was built from — so surviving slices reuse its
    // segment files and the metadata write is O(changed), not O(table)
    val (content, fresh) = renderManifest(table, expected, entries)
    validateDirs(table, fresh)
    val found = currentVersion(table)
    if (found != expected ||
        !claimVersion(table, expected.getOrElse(0) + 1, content))
      throw new ConcurrentCommitException(table, expected, currentVersion(table))
    expected.getOrElse(0) + 1
  }

  /** Run one optimistic read-derive-commit attempt against the current
    * version, retrying from a FRESH read on each
    * [[ConcurrentCommitException]] — the standard validate-and-retry
    * loop of every table format's committer. `body` gets the version
    * it must derive from and validate against; staging done inside a
    * losing attempt becomes orphan dirs, swept by [[cleanOrphans]]
    * (stage-then-retry is how Iceberg's CoW retries work too: data
    * files are cheap to abandon, the manifest pointer is the truth). */
  def occRetry[T](table: String)(body: Option[Int] => T): T = {
    var last: ConcurrentCommitException = null
    for (_ <- 0 until 50) {
      try return body(currentVersion(table))
      catch { case e: ConcurrentCommitException => last = e }
    }
    throw last
  }

  /** Claim the next unused data-dir name for `table` — derived from a
    * listing, not a clock, so reruns are deterministic; a crashed
    * write's dir is skipped (max+1) and later swept as an orphan.
    * The claim is `Files.createDirectory` (atomic first-creator-wins),
    * so two concurrent stagers can never pick the same dir and
    * interleave their parquet files: the loser observes
    * FileAlreadyExists and takes the next number. */
  private def freshDataRel(table: String): String = {
    val dd = new java.io.File(s"$root/$table/data")
    dd.mkdirs()
    var k = {
      val used = Option(dd.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.matches("d\\d+"))
        .map(_.stripPrefix("d").toInt)
      if (used.isEmpty) 1 else used.max + 1
    }
    while (!scala.util.Try(java.nio.file.Files.createDirectory(
        new java.io.File(dd, s"d$k").toPath)).isSuccess) k += 1
    s"$table/data/d$k"
  }

  /** Write `df` as a new immutable dir (NOT yet referenced by any
    * manifest) and return its [[ManifestEntry]]. Crash before the
    * subsequent commit ⇒ the dir is an orphan, never visible. The
    * dir's parquet-footer metrics (record count, column bounds, file
    * count and bytes — a driver-side metadata read, no extra data
    * pass) are INLINED into the entry, the only place they are kept,
    * so planning and row accounting stay metadata-only. */
  def stageEntry(df: DataFrame, table: String, kind: String, seq: Int,
      key: Seq[String] = Nil): ManifestEntry = {
    val rel = freshDataRel(table)
    // APPEND into the freshly claimed (empty) dir — same content, but
    // Overwrite would DELETE the dir before recreating it, and in that
    // window a concurrent stager's createDirectory can re-claim the
    // same name: two writers then share one dir and wreck each other's
    // _temporary staging (caught by the 8-appender race spec under
    // load). Append never removes the claim, so the CAS stays a CAS.
    df.write.mode(SaveMode.Append).parquet(s"$root/$rel")
    ManifestEntry(kind, seq, rel, key, inlineStats(rel))
  }

  /** Stage SEVERAL same-schema frames as separate immutable data dirs
    * with ONE Spark write job — the bulk-load twin of [[stageEntry]].
    * A tiny fixture write costs ~130-160 ms of fixed parquet+commit
    * machinery regardless of rows (measured, tools.CommitMicro), so a
    * fixture that appends N slices serially pays it N times on the
    * driver's clock; here the union of the slices, tagged with a
    * partition column, writes all N dirs in one job whose tasks run in
    * parallel, and the files MOVE (rename, no byte copy) into the
    * claimed d<K> dirs. Each dir holds the same row set as a separate
    * [[stageEntry]] call would write (each input frame's partitions
    * carry only its own tag), under the same manifest semantics; the
    * files themselves may differ — a dynamic-partition write emits no
    * file for an empty task, and moved dirs carry no `_SUCCESS`
    * marker — so per-dir file sets and inline stats are not promised
    * byte-equal to serial staging. A frame that writes no rows leaves
    * no partition dir — it falls back to its own [[stageEntry]] call
    * (which writes an empty parquet file, as the serial path does).
    * DATA entries only: an equality-delete entry needs its key
    * columns, which only [[stageEntry]] takes. Entries are returned in
    * input order with the given seq; commit them individually
    * ([[appendMany]]) or together. */
  def stageEntries(dfs: Seq[DataFrame], table: String, kind: String = "data",
      seq: Int = 0): Seq[ManifestEntry] = {
    import org.apache.spark.sql.functions.lit
    require(kind == "data", "stageEntries stages DATA dirs; a delete " +
      "entry needs its key columns — stage it through stageEntry")
    if (dfs.isEmpty) return Seq.empty
    if (dfs.size == 1) return Seq(stageEntry(dfs.head, table, kind, seq))
    val rels = dfs.map(_ => freshDataRel(table)) // claim names up front
    val tag = "_graft_stage_tag"
    val staging = s"$root/$table/data/.stage-$writerTag"
    dfs.zipWithIndex
      .map { case (df, i) => df.withColumn(tag, lit(i)) }
      .reduce(_ unionByName _)
      .write.partitionBy(tag).parquet(staging)
    try dfs.indices.foreach { i =>
      val part = new java.io.File(s"$staging/$tag=$i")
      val files = Option(part.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).filterNot(_.getName.startsWith("_SUCCESS"))
      files.foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(s"$root/${rels(i)}", f.getName).toPath)
      }
      if (!files.exists(_.getName.endsWith(".parquet")))
        // empty slice: no partition dir was written — stage it the
        // serial way so the dir holds an empty parquet file, exactly
        // as N individual stageEntry calls would have left it
        dfs(i).write.mode(SaveMode.Append).parquet(s"$root/${rels(i)}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(staging))
    }
    rels.map(rel => ManifestEntry(kind, seq, rel, Nil, inlineStats(rel)))
  }

  /** A staged dir's footer metrics as inline manifest JSON; None when
    * the harvest failed (the entry then never prunes). */
  private def inlineStats(rel: String): Option[String] =
    DirStats.collect(new java.io.File(s"$root/$rel")).map(DirStats.toJson)

  /** N sequential append-commits over frames staged in ONE write job
    * ([[stageEntries]]) — the same row sets and manifest semantics as
    * N [[append]] calls (same dir names, same per-commit seq/mint
    * stamps, same version count), minus N-1 write jobs' fixed cost. */
  def appendMany(dfs: Seq[DataFrame], table: String): Seq[Int] =
    stageEntries(dfs, table).map(e => appendEntries(table, Seq(e)))

  /** Commit `df` as the next snapshot (full-overwrite semantics: the
    * new version is exactly `df`); returns the new version. For
    * incremental loads use [[append]] — it writes only the delta. */
  def commit(df: DataFrame, table: String): Int =
    commitEntries(table, Seq(stageEntry(df, table, "data", 0)))

  /** Stamp the COMMITTING VERSION into an entry's inline stats JSON —
    * what makes a fresh append's manifest identity truly fresh. The
    * skip-mode streaming tail suppresses retired entries by FULL-entry
    * equality ([[appendAdditionsTracked]]); without the stamp a
    * pathological interleaving could mint a byte-identical twin of a
    * retired entry: rollback shrinks the live max seq (so [[nextSeq]]
    * re-mints an old seq number), GC frees the retired dir's NAME (so
    * [[freshDataRel]] re-mints it), and statsJson is content-derived
    * (so identical content reproduces it) — a genuinely new append
    * would then be silently suppressed. Versions are per-table
    * monotonic and never reused (commitRaw claims max+1; expire only
    * removes), so `mintv` can never repeat for one table and the twin
    * is structurally impossible. Injected as a leading JSON field —
    * [[DirStats.parseJson]] (Jackson) ignores unknown fields, and the
    * raw string migrates across manifests verbatim afterwards, so the
    * byte-stability contract holds from birth. Residual corner, by
    * design: a statless entry (stats harvest failed — exceptional)
    * carries no stamp and keeps the pre-stamp exposure. */
  private def mintStamped(e: ManifestEntry, v: Int): ManifestEntry =
    e.copy(statsJson = e.statsJson.map { j =>
      // REPLACE any existing stamp rather than prepending a second one:
      // a stage-once/publish-many pipeline re-appends the same entry
      // through appendEntries repeatedly, and blind prepending would
      // mint duplicate JSON keys and grow the stats string per hop.
      // Re-stamping is the intended semantics — appendEntries registers
      // the files as NEW data of THIS commit (fresh identity); verbatim
      // republish (same identity, suppression preserved) goes through
      // commitEntries, which never stamps.
      val body = j.trim.replaceFirst("""^\{"mintv":\d+,""", "{")
        .replaceFirst("""^\{"mintv":\d+\}$""", "{}")
      if (body == "{}") s"""{"mintv":$v}"""
      else if (body.startsWith("{")) s"""{"mintv":$v,${body.drop(1)}"""
      else body
    })

  /** Append-commit: the next snapshot is `previous ∪ df`, materializing
    * ONLY `df` — prior data dirs are referenced, not rewritten. This is
    * the O(delta) load path a 100 TB table lives on.
    *
    * The delta stages ONCE; the manifest union is re-derived under
    * [[occRetry]] because "previous" is read state — concurrent
    * appenders each land their own delta and every retry re-reads the
    * latest manifest, so no appender's files are ever dropped (the
    * ConcurrencySpec races 8 of them to prove it). */
  def append(df: DataFrame, table: String): Int =
    appendEntries(table, Seq(stageEntry(df, table, "data", 0)))

  /** Iceberg's `appendFiles` — the METADATA-ONLY append: commit
    * PRE-STAGED entries (dirs already on disk, from [[stageEntry]] or
    * another table's manifest — entries are root-relative and migrate
    * across tables verbatim, the branch/publish contract) as
    * `previous ∪ entries`. No data I/O: the commit is one manifest
    * write under the same OCC loop as [[append]]. This is the
    * register-existing-files path a bulk loader or a publish pipeline
    * uses at 100 TB — stage once, reference many times. Every entry of
    * one call shares the commit's data seq (Iceberg's rule: all files
    * of one append carry the commit's sequence number, so later MoR
    * deletes order against all of them identically) and gets the
    * [[mintStamped]] commit-version stamp (fresh manifest identity per
    * commit). DATA entries only: rewriting a delete entry's seq to the
    * commit seq would collapse its ordering against co-committed data
    * and resurrect the rows it masks — and delete additions are not an
    * append anyway ([[appendStep]] classifies them non-append).
    * Migrating data+delete groups with their relative seqs intact is
    * [[commitEntries]]/[[branch]]'s verbatim-copy contract. */
  def appendEntries(table: String, entries: Seq[ManifestEntry]): Int = {
    require(entries.forall(_.kind == "data"),
      "appendEntries registers DATA dirs; delete entries carry seq " +
        "ordering that a re-stamp would break — migrate data+delete " +
        "groups verbatim via commitEntries/branch instead")
    occRetry(table) { cur =>
      val prev = cur.map(readEntries(table, _)).getOrElse(Seq.empty)
      val v = cur.getOrElse(0) + 1
      val seq = nextSeq(prev)
      commitEntriesIfCurrent(table, cur,
        prev ++ entries.map(e => mintStamped(e.copy(seq = seq), v)))
    }
  }

  /** D5: read the table as of a pinned version — with any equality-
    * delete entries APPLIED (the merge-on-read path: one anti-join per
    * distinct delete key set, [[logicalFrame]]). Pure-data snapshots
    * take the zero-overhead fast path: one multi-dir scan, no joins in
    * the plan. Every dir's schema comes from the instance's schema
    * cache, so building the frame launches no Spark job once the dirs
    * have been read before.
    *
    * EXPIRY-RACE GUARD: a pinned read must return the FULL version or
    * fail loudly — never a partial row set. The silent-partial window
    * is real without the re-check below: [[expire]] deletes the doomed
    * manifest FIRST and guts the dirs after, and `spark.read.parquet`
    * lists files eagerly at read time — a listing that lands while a
    * dir is being emptied sees only the surviving files and would
    * silently contribute a truncated scan. Re-checking the manifest
    * AFTER the listing closes it: manifest still present ⇒ no expire
    * had started deleting this version when the listing completed, so
    * every listed file was live (a file GC'd later fails the task
    * loudly — `ignoreMissingFiles` stays false); manifest gone ⇒ the
    * version expired mid-read and the read refuses. One file stat per
    * read; the loud face is the same retention-violation contract the
    * streaming resume path pins. */
  def asOf(spark: SparkSession, table: String, v: Int): DataFrame = {
    val entries = readEntries(table, v)
    val df =
      if (entries.forall(_.kind == "data"))
        readDirs(spark, entries.map(_.rel))
      else logicalFrame(spark, entries)
    if (!manifestFile(table, v).exists()) throw new IllegalStateException(
      s"version $v of $table expired mid-read: the snapshot was " +
        "retention-expired between pinning and planning — a partial " +
        "scan would be a wrong answer, so the read refuses. Retention " +
        "must cover reader lag (the expire/streaming-resume contract).")
    df
  }

  /** The merge-on-read scan: the data entries' seq groups, each read
    * once and tagged with its seq as a literal column, unioned; then
    * ONE anti-join per distinct delete key set against that set's
    * delete dirs ([[deleteSets]], each read once, tagged with its
    * entry's seq), with the residual `del.seq > data.seq` — Iceberg's
    * sequence-number rule: a delete applies only to data of a STRICTLY
    * smaller seq. The plan as built holds one join per key set, not
    * one per (seq group × delete); Spark's optimizer then pushes each
    * anti-join into the union's seq groups, where the residual folds
    * to the deletes the group's seq admits, so a data row is probed
    * once per key set and groups admitting the same deletes share one
    * broadcast of them. Each delete still costs its dir's rows on
    * every read, which is why MoR engines fold deletes
    * periodically ([[rewriteDeletes]] is that major compaction).
    * Delete frames are O(deleted keys) and AQE broadcasts them when
    * small. Deletes no data entry under-ranks add nothing to the plan. */
  private def logicalFrame(spark: SparkSession,
      entries: Seq[ManifestEntry]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val datas = entries.filter(_.kind == "data")
    require(datas.nonEmpty, "logicalFrame needs at least one data entry")
    val minSeq = datas.map(_.seq).min
    val dels = entries.filter(e => e.kind == "delete" && e.seq > minSeq)
    if (dels.isEmpty) return readDirs(spark, datas.map(_.rel))
    val dataSeq = "_graft_data_seq"
    val tagged = datas.groupBy(_.seq).toSeq.sortBy(_._1).map {
      case (seq, group) =>
        readDirs(spark, group.map(_.rel)).withColumn(dataSeq, lit(seq))
    }.reduce(_ unionByName _)
    deleteSets(spark, dels).foldLeft(tagged) { case (df, (key, del)) =>
      // NULL-SAFE anti-join (Iceberg equality-delete semantics: null
      // matches null) — a plain using-column anti would never match a
      // NULL key value, so rows deleteWhereMoR wrote into the delete
      // file would silently survive every read
      df.join(del, key.map(k => df(k) <=> del(k)).reduce(_ && _) &&
        del(DeleteSeq) > df(dataSeq), "left_anti")
    }.drop(dataSeq)
  }

  /** Name of the seq column [[deleteSets]] tags delete rows with. */
  private val DeleteSeq = "_graft_delete_seq"

  /** The delete entries grouped by key set (in order of first seq):
    * per set, its key columns and the union of its delete dirs — each
    * read once, projected to the key columns and tagged with its
    * entry's seq ([[DeleteSeq]]). The one delete-side shape of both
    * the merge-on-read scan and [[rewriteDeletes]]'s probe. */
  private def deleteSets(spark: SparkSession, dels: Seq[ManifestEntry])
      : Seq[(Seq[String], DataFrame)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val sorted = dels.sortBy(_.seq)
    sorted.map(_.key.toSet).distinct.map { keySet =>
      val set = sorted.filter(_.key.toSet == keySet)
      val key = set.head.key
      key -> set.map(d => readDirs(spark, Seq(d.rel))
        .select(key.map(col): _*).withColumn(DeleteSeq, lit(d.seq)))
        .reduce(_ unionByName _)
    }
  }

  /** Read the current snapshot. */
  def current(spark: SparkSession, table: String): DataFrame =
    asOf(spark, table, currentVersion(table)
      .getOrElse(sys.error(s"no snapshots for $table")))

  /** Planning-time scan pruning — Iceberg's manifest-stats file skip:
    * data dirs whose inline manifest stats PROVE no row can satisfy
    * `cond` are dropped BEFORE Spark lists or opens them; `cond` still
    * filters the survivors (footer stats are inclusive, not exact —
    * same contract as [[DirStats.mayMatch]] everywhere else). Delete
    * entries always carry into the read so MoR semantics hold on the
    * surviving dirs. At 100 TB this is the difference between opening
    * the handful of dirs a narrow predicate can touch and listing the
    * whole table — partition-pruning economics without requiring a
    * partition column. */
  def scanWhere(spark: SparkSession, table: String, cond: Column): DataFrame = {
    val v = currentVersion(table)
      .getOrElse(sys.error(s"no snapshots for $table"))
    val entries = readEntries(table, v)
    val condExpr =
      org.apache.spark.sql.graft.ColumnBridge.catalystExpression(cond)
    val kept = entries.filter(e => e.kind == "delete" ||
      e.stats.forall(st => DirStats.mayMatch(condExpr, st)))
    if (!kept.exists(_.kind == "data"))
      // every dir provably unmatchable: empty frame, correct schema
      asOf(spark, table, v).filter(cond).limit(0)
    else {
      val df = logicalFrameOrPlain(spark, kept).filter(cond)
      // same post-listing expiry-race guard as [[asOf]]: `v` was
      // current at entry, but commits + a racing expire can doom it
      // before the eager file listing above completes
      if (!manifestFile(table, v).exists())
        throw new IllegalStateException(
          s"version $v of $table expired mid-read: the snapshot was " +
            "retention-expired between pinning and planning — a " +
            "partial scan would be a wrong answer, so the read refuses.")
      df
    }
  }

  /** D12: roll the table back to snapshot `v` — committed as a NEW
    * version (Iceberg-rollback semantics: history is preserved, the
    * bad version stays inspectable, readers mid-flight on it never
    * break; nothing is deleted — that's expiry's job). Metadata-only:
    * the new manifest is a copy of v's, no data bytes move. Returns
    * the new current version. */
  def rollback(spark: SparkSession, table: String, v: Int): Int = {
    require(versions(table).contains(v),
      s"cannot roll $table back to missing version $v")
    commitRaw(table, readRaw(table, v)) // verbatim: delete entries too
  }

  /** Branch: make `toTable`'s next snapshot reference exactly
    * `fromTable`'s current data files — a manifest copy, zero bytes of
    * data move (Iceberg branch create / fast-forward). The branches
    * then evolve independently; shared files stay live until NO branch
    * references them ([[expire]]'s GC is root-wide). */
  def branch(fromTable: String, toTable: String): Int =
    commitRaw(toTable, readRaw(fromTable, // verbatim: delete entries too
      currentVersion(fromTable)
        .getOrElse(sys.error(s"no snapshots for $fromTable"))))

  /** D17: publish a branch — promote `fromTable`'s current snapshot to
    * be `toTable`'s next version (the write-audit-publish pattern:
    * loads land on a staging branch, audit queries gate them, publish
    * fast-forwards main). Readers of main never see pre-audit data;
    * a failed audit leaves main untouched and the staging history
    * inspectable. Metadata-only, like the platform's own fast-forward
    * (/root/reference/README.md:573-589). Returns main's new version. */
  def publish(spark: SparkSession, fromTable: String, toTable: String): Int =
    branch(fromTable, toTable)

  /** Copy-on-write DELETE at file granularity: data dirs with no
    * matching row keep their exact manifest entry (zero write I/O);
    * dirs that do match are re-written filtered into ONE new dir. The
    * probe is a single pushdown-filtered pass over the snapshot that
    * collects the DISTINCT matching file paths (driver pull bounded by
    * file count, not rows — the same planning pull Iceberg's CoW
    * delete makes); at 100 TB manifest min/max column stats would
    * answer it without the scan — same contract, and the write cost
    * stays O(affected files), never O(table). A predicate matching
    * nothing returns the current version unchanged (no version churn —
    * the same discipline as the streaming upsert's empty-batch guard).
    * Probe + commit run under [[occRetry]]: the surviving-file list is
    * derived from the snapshot the probe read, so if another writer
    * commits in between, the validation fails and the probe re-runs
    * against the new snapshot instead of deleting from a stale view.
    * Returns the current version after the op. */
  def deleteWhere(spark: SparkSession, table: String, cond: Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // NULL-safe negation: SQL DELETE removes rows where cond is TRUE;
    // a bare filter(!cond) would also drop rows where cond evaluates
    // to NULL (three-valued logic), silently deleting rows the
    // predicate never matched — and only in REWRITTEN dirs, so the
    // same row would live or die by which dir it shared with a match.
    cowRewrite(spark, table, cond, _.filter(!coalesce(cond, lit(false))))
  }

  /** D-ext: copy-on-write UPDATE at file granularity — same probe/
    * rewrite discipline as [[deleteWhere]]: footer stats prove most
    * dirs can't match, one scan probes the rest, and ONLY dirs holding
    * a matching row rewrite. `set` is applied simultaneously (every
    * right-hand side sees the OLD row — SQL UPDATE semantics — because
    * the rewrite is one projection, not a withColumn chain). Write
    * cost O(affected files), never O(table). */
  def updateWhere(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column]): Int =
    cowRewrite(spark, table, cond, { base =>
      import org.apache.spark.sql.functions.{col, when}
      base.select(base.columns.toIndexedSeq.map { c =>
        set.get(c).map(e => when(cond, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    })

  /** Shared CoW probe-and-rewrite: partition the current snapshot's
    * data dirs into (proven-clean, probed-clean, touched) — footer
    * stats first (no I/O), one pushdown scan for the rest — then
    * rewrite ONLY the touched dirs through `rewrite` applied to their
    * MERGE-ON-READ frame (outstanding equality deletes applied before
    * the rewrite, so a CoW op never resurrects MoR-deleted rows; the
    * new dir's seq outranks every existing delete, so those deletes
    * stop applying to it — they keep applying to untouched dirs,
    * whose entries carry over verbatim). Matching nothing returns the
    * current version unchanged: no version churn. */
  private def cowRewrite(spark: SparkSession, table: String, cond: Column,
      rewrite: DataFrame => DataFrame): Int =
    occRetry(table) { cur =>
      val v = cur.getOrElse(sys.error(s"no snapshots for $table"))
      val entries = readEntries(table, v)
      val dels = entries.filter(_.kind == "delete")
      val datas = entries.filter(_.kind == "data")
      // metadata pass first: dirs whose footer stats PROVE no row can
      // match are untouched without any scan (Iceberg's inclusive
      // metrics evaluation); only the survivors pay the scan probe.
      // (On a MoR table the probe sees not-yet-folded deleted rows, so
      // it can only OVER-mark a dir as touched — extra rewrite work,
      // never a wrong result, since the rewrite reads the MoR frame.)
      val condExpr =
        org.apache.spark.sql.graft.ColumnBridge.catalystExpression(cond)
      val (mayMatch, proven) = datas.partition(e =>
        e.stats.forall(st => DirStats.mayMatch(condExpr, st)))
      val (touchedRels, _) =
        splitByMark(spark, mayMatch.map(_.rel), _.filter(cond))
      if (touchedRels.isEmpty) v
      else {
        val touched = mayMatch.filter(e => touchedRels.contains(e.rel))
        val rewritten = rewrite(logicalFrame(spark, touched ++ dels))
        // kept entries keep their PREDECESSOR ORDER (filter, not
        // regroup): surviving slices then match the previous segments
        // and the manifest write stays O(changed), not O(table)
        val carried = entries.filterNot(e =>
          e.kind == "data" && touchedRels.contains(e.rel))
        commitEntriesIfCurrent(table, cur, carried :+
          stageEntry(rewritten, table, "data", nextSeq(entries)))
      }
    }

  /** D-ext: copy-on-write MERGE (upsert) at file granularity — source
    * rows REPLACE target rows on `key` match and INSERT otherwise (the
    * MERGE WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * form).
    * Only data dirs containing a source key are re-read and rewritten —
    * the batch twin of the streaming upsert sink's discipline, under
    * the same optimistic commit. The rewrite collapses every dir
    * holding a source key into one, so merge COLOCATES keys; an empty
    * source commits nothing and returns the current version (0 when
    * the table has no snapshots yet). Write cost O(affected files +
    * source), never O(table). */
  def mergeUpsert(spark: SparkSession, table: String, source: DataFrame,
      key: String): Int =
    keyedCow(spark, table, source, key, broadcastKeys = false) {
      (touched, src) =>
        import org.apache.spark.sql.functions.col
        touched match {
          case None => src
          case Some(t) =>
            val keys = src.select(col(key)).distinct()
            // null-safe anti: a stored null-key row must be REPLACED by
            // a source null-key row, not kept beside it
            t.join(keys, t(key) <=> keys(key), "left_anti").unionByName(src)
        }
    }

  /** Shared keyed copy-on-write engine under [[mergeUpsert]], [[mergeWith]],
    * and through them the streaming upsert sink. `source` is persisted
    * for the call and its FIRST pass is one aggregate — row count, key
    * [min, max] and null presence in one job — which materializes the
    * cache at the source's own partitioning; every later pass reads
    * the cache. (A micro-batch frame re-runs its stateful plan, state
    * commit included, on every action over it; here it runs once.)
    * An empty source commits nothing: it returns the current version,
    * or 0 for a table with no snapshots. Per optimistic attempt:
    *  - BOOTSTRAP: a table with no snapshots commits `build(None, source)`
    *    as v1 — VALIDATED, so a racing first writer forces a retry
    *    instead of being silently overwritten;
    *  - METADATA PRUNE: the aggregate's key bounds + null presence
    *    against footer stats drop dirs whose key range provably misses
    *    the source (an IsNull arm keeps null-key dirs in play whenever
    *    the source carries a null key — otherwise stats on non-null
    *    values would prune a dir whose null rows the null-safe probe
    *    must see);
    *  - SIZING: when the surviving candidates' inline `bytes` plus the
    *    source's cached size fit the split Spark's file scan would size
    *    for that many bytes (`FilePartition.maxSplitBytes`:
    *    min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))
    *    — 4 MB by default on a multi-core session), the probe and the
    *    rewrite run on ONE partition: no exchange, one written file. A
    *    micro-batch of a few rows otherwise shuffles into
    *    `spark.sql.shuffle.partitions` and writes that many files
    *    (a streaming query's session runs without AQE). Any merge that
    *    Spark would itself spread over several splits keeps the
    *    partitioned plan;
    *  - PROBE: survivors pay one NULL-SAFE semi-join scan (a plain
    *    equi-join would never mark a dir holding null-key rows, making
    *    the dedup outcome depend on physical colocation);
    *  - REWRITE: dirs holding a source key are replaced by
    *    `build(Some(touched MoR frame), source)`; every other entry
    *    carries over verbatim — except delete entries no surviving
    *    data entry can feel (no kept entry with a smaller seq), which
    *    drop so a long-running sink self-compacts its delete metadata
    *    instead of carrying inert delete entries forever. */
  private def keyedCow(spark: SparkSession, table: String,
      source: DataFrame, key: String, broadcastKeys: Boolean)
      (build: (Option[DataFrame], DataFrame) => DataFrame): Int = {
    import org.apache.spark.sql.functions._
    // Ownership-guarded persist: a caller that ALREADY cached `source`
    // keeps its cache — unpersisting a frame we didn't persist would
    // silently evict the caller's data. The cache spans every OCC
    // attempt: the source does not change when another writer wins.
    val ownPersist =
      source.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPersist)
      source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val b = source.agg(count(lit(1)), min(col(key)), max(col(key)),
        sum(when(col(key).isNull, 1L).otherwise(0L))).collect()(0)
      if (b.getLong(0) == 0) return currentVersion(table).getOrElse(0)
      val hasNullKey = b.getLong(3) > 0
      // the cache is loaded now, so its stats are the in-memory size
      val sourceBytes = source.select(col("*")).queryExecution
        .optimizedPlan.stats.sizeInBytes
      occRetry(table) { cur =>
        // one partition end to end when Spark's file scan would read
        // that many bytes as one split, else the partitioned plan
        def sized(candidates: Seq[ManifestEntry]): DataFrame => DataFrame = {
          val total = (sourceBytes + candidates.flatMap(_.stats)
            .map(s => BigInt(s.bytes)).sum).min(Long.MaxValue).toLong
          if (candidates.forall(_.stats.isDefined) &&
              total <= FilePartition.maxSplitBytes(spark, total))
            _.coalesce(1)
          else identity
        }
        cur match {
          case None =>
            val fit = sized(Nil)
            commitEntriesIfCurrent(table, None,
              Seq(stageEntry(fit(build(None, fit(source))), table, "data", 1)))
          case Some(v) =>
            val entries = readEntries(table, v)
            val dels = entries.filter(_.kind == "delete")
            val datas = entries.filter(_.kind == "data")
            val mayTouch = scala.util.Try {
              val range = if (b.isNullAt(1)) None
                else Some(col(key) >= lit(b.get(1)) && col(key) <= lit(b.get(2)))
              val pred = (range, hasNullKey) match {
                case (Some(r), true) => r || col(key).isNull
                case (Some(r), false) => r
                case (None, _) => col(key).isNull // all source keys null
              }
              val pe = org.apache.spark.sql.graft.ColumnBridge
                .catalystExpression(pred)
              datas.filter(e =>
                e.stats.forall(st => DirStats.mayMatch(pe, st)))
            }.getOrElse(datas) // un-literal-able key type: probe them all
            val fit = sized(mayTouch)
            val src = fit(source)
            val keys0 = src.select(col(key)).distinct()
            val keys = if (broadcastKeys) broadcast(keys0) else keys0
            val (touchedRels, _) = splitByMark(spark, mayTouch.map(_.rel),
              df => fit(df).join(keys, df(key) <=> keys(key), "left_semi"))
            val touched = mayTouch.filter(e => touchedRels.contains(e.rel))
            val kept = datas.filterNot(e => touchedRels.contains(e.rel))
            val touchedFrame =
              if (touched.isEmpty) None
              else Some(fit(logicalFrame(spark, touched ++ dels)))
            // a delete stays live iff SOME kept data entry under-ranks
            // it — equivalent to comparing against the minimum kept
            // seq (O(E+D), not the O(E×D) exists-per-delete scan)
            val minKeptSeq =
              if (kept.isEmpty) Int.MaxValue else kept.map(_.seq).min
            val liveDels = dels.filter(_.seq > minKeptSeq).toSet
            // predecessor order preserved (one filter over `entries`)
            // so surviving slices reuse the previous manifest segments
            val carried = entries.filter(e =>
              if (e.kind == "data") !touchedRels.contains(e.rel)
              else liveDels(e))
            commitEntriesIfCurrent(table, cur, carried :+
              stageEntry(fit(build(touchedFrame, src)), table, "data",
                nextSeq(entries)))
        }
      }
    } finally if (ownPersist) source.unpersist(blocking = false)
  }

  /** CoW merge at file granularity with a caller-supplied combiner —
    * the engine under the streaming upsert sink: data dirs holding a
    * `source` key are replaced by `combine(touched-MoR-frame ∪
    * source)`, with the rewrite applying outstanding equality deletes
    * before combining (so a sink batch never resurrects MoR-deleted
    * rows). A table with no snapshots yet bootstraps to v1 from
    * `combine(source)` under the same validated commit; an empty
    * source commits nothing. `source` runs once: [[keyedCow]] caches
    * it, and its first pass is the one aggregate that also decides
    * emptiness. A merge whose input Spark's file scan would read as
    * one split (`FilePartition.maxSplitBytes`) combines on one
    * partition — no exchange, one file. `broadcastKeys` lets
    * micro-batch callers broadcast the membership probe. All the
    * probe/commit discipline lives in [[keyedCow]]. */
  def mergeWith(spark: SparkSession, table: String, source: DataFrame,
      key: String, broadcastKeys: Boolean = false)
      (combine: DataFrame => DataFrame): Int =
    keyedCow(spark, table, source, key, broadcastKeys) { (touched, src) =>
      combine(touched.map(_.unionByName(src)).getOrElse(src))
    }

  /** D-ext: MERGE-ON-READ delete — instead of rewriting any data file,
    * write the matching rows' DISTINCT `keyCols` values as an
    * equality-delete dir and commit a manifest that adds one delete
    * entry (Iceberg v2's equality deletes). Write cost O(deleted
    * keys): at 100 TB this is the only delete a hot path can afford —
    * the read applies deletes as anti-joins ([[logicalFrame]]) until
    * [[rewriteDeletes]] folds them into data files. A later append
    * gets a higher seq, so re-inserted keys survive the delete — the
    * sequence-number semantics real MoR tables have. Matching nothing
    * returns the current version unchanged. */
  def deleteWhereMoR(spark: SparkSession, table: String, cond: Column,
      keyCols: Seq[String]): Int =
    occRetry(table) { cur =>
      val v = cur.getOrElse(sys.error(s"no snapshots for $table"))
      val entries = readEntries(table, v)
      import org.apache.spark.sql.functions.col
      // the key probe rides scanWhere, so footer stats skip every dir
      // that provably can't match before any scan I/O — a no-op MoR
      // delete against a disjoint predicate costs metadata only. The
      // probe PERSISTS across the emptiness check and the stage write:
      // without it the scan+distinct would run twice.
      val doomed = scanWhere(spark, table, cond)
        .select(keyCols.map(col): _*).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (doomed.isEmpty) v
        else commitEntriesIfCurrent(table, cur, entries :+
          stageEntry(doomed, table, "delete", nextSeq(entries), keyCols))
      } finally doomed.unpersist(blocking = false)
    }

  private def logicalFrameOrPlain(spark: SparkSession,
      entries: Seq[ManifestEntry]): DataFrame =
    if (entries.forall(_.kind == "data"))
      readDirs(spark, entries.map(_.rel))
    else logicalFrame(spark, entries)

  /** Fold outstanding equality deletes into data files — Iceberg's
    * major compaction (`rewrite_data_files` over a table with delete
    * files). Data entries no delete can apply to (seq ≥ every delete
    * seq) carry over VERBATIM; among the rest, one scan probes which
    * dirs actually contain a deleted key, and only those rewrite
    * (with their applicable deletes applied). The new manifest has
    * zero delete entries, so reads return to the fast no-join path.
    * No deletes → current version unchanged. */
  def rewriteDeletes(spark: SparkSession, table: String): Int =
    occRetry(table) { cur =>
      val v = cur.getOrElse(sys.error(s"no snapshots for $table"))
      val entries = readEntries(table, v)
      val dels = entries.filter(_.kind == "delete")
      if (dels.isEmpty) v
      else {
        val datas = entries.filter(_.kind == "data")
        val maxDelSeq = dels.map(_.seq).max
        val (fresh, applicable) = datas.partition(_.seq >= maxDelSeq)
        // metadata pre-prune: a dir whose key bounds provably miss
        // every applicable delete's key bounds (inline manifest stats,
        // no I/O) keeps its entry without even joining the probe scan
        val (candidates, provenClean) = applicable.partition(e =>
          dels.exists(d => d.seq > e.seq && DirStats.mayContainDeleteKeys(
            e.stats, d.stats, d.key)))
        // conservative probe: a candidate dir containing ANY deleted
        // key rewrites (even if only a later-seq delete names that
        // key) — a superset, never a wrong result, because the
        // rewrite materializes each dir group's exact MoR frame
        // the probe mirrors logicalFrame's NULL-SAFE delete application,
        // over the same per-key-set delete frames (one semi-join per key
        // set): a dir whose only deleted rows carry a NULL key must
        // still rewrite, or the delete entry would fold away while its
        // rows survive
        val (touchedRels, _) = splitByMark(spark, candidates.map(_.rel),
          df => deleteSets(spark, dels).map { case (key, del) =>
            df.join(del, key.map(k => df(k) <=> del(k)).reduce(_ && _),
              "left_semi")
          }.reduce(_ unionByName _))
        val touched = candidates.filter(e => touchedRels.contains(e.rel))
        // delete entries drop; surviving data entries keep predecessor
        // order (segment reuse), the fold result lands last
        val carried = entries.filter(e =>
          e.kind == "data" && !touchedRels.contains(e.rel))
        val folded =
          if (touched.isEmpty) carried
          else carried :+ stageEntry(logicalFrame(spark, touched ++ dels),
            table, "data", nextSeq(entries))
        commitEntriesIfCurrent(table, cur, folded)
      }
    }

  /** Partition data dirs into (touched, untouched) by whether they
    * contain a row `mark` selects — `mark` receives the dirs' frame
    * and returns the matching subset (a filter for predicate probes, a
    * semi-join for key-set probes). ONE pushdown-filtered pass
    * collecting DISTINCT matching file paths; driver pull bounded by
    * file count, not rows — the planning pull every CoW engine makes. */
  private def splitByMark(spark: SparkSession, rels: Seq[String],
      mark: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.input_file_name
    if (rels.isEmpty) return (Seq.empty, Seq.empty)
    val withFile = readDirs(spark, rels)
      .withColumn("_graft_file", input_file_name())
    val hitFiles = mark(withFile)
      .select(org.apache.spark.sql.functions.col("_graft_file")).distinct()
      .collect().map { r => // file:///x/y%20z → /x/y z (match File paths)
        val raw = r.getString(0)
        val p = scala.util.Try(new java.net.URI(raw).getPath).getOrElse(raw)
        // canonicalize BOTH sides of the prefix match: the rel side
        // below resolves symlinks via getCanonicalPath, while
        // input_file_name() reports the unresolved path — on a
        // symlinked root (e.g. /tmp → /private/tmp) a raw comparison
        // would never match and every probe would read as untouched
        scala.util.Try(new java.io.File(p).getCanonicalPath).getOrElse(p)
      }
    rels.partition { rel =>
      val p = new java.io.File(s"$root/$rel").getCanonicalPath + sep
      hitFiles.exists(_.startsWith(p))
    }
  }

  /** D16: `FOR SYSTEM_TIME BETWEEN` change enumeration
    * (/root/reference/README.md:573-589 pairs AS-OF with a BETWEEN
    * change-history window) — every keyed change the table went through
    * from version `fromV` to `toV`, tagged with the D6 pseudo-columns:
    * `_change_type` (INSERT/UPDATE/DELETE) and `_change_version` (the
    * version that introduced the change — the deterministic stand-in
    * for `_CHANGE_TIMESTAMP`, same trade D10 makes).
    *
    * Each consecutive version pair diffs by ONE full-outer join on the
    * key with the non-key payload struct-compared (null-safe) — one
    * shuffle per step, the same plan shape MERGE uses; unchanged rows
    * drop before the union, so the result is O(changes), not O(rows ×
    * versions).
    *
    * The joined frames are restricted to the entries that CAN differ:
    * kept manifest entries are byte-identical immutable dirs on both
    * sides, so each side scans only (its exclusive data entries) ∪
    * (kept data dirs whose delete-applicability changed — an added or
    * removed delete with a larger seq whose key bounds can reach them,
    * a pure-metadata test). An append step therefore scans the delta
    * dirs only; a CoW step scans the rewritten dirs; O(changed files)
    * per step, never O(table). */
  def changesBetween(spark: SparkSession, table: String, fromV: Int,
      toV: Int, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val vs = versions(table).filter(v => v >= fromV && v <= toV)
    require(vs.contains(fromV) && vs.contains(toV) && fromV < toV,
      s"changesBetween needs existing versions $fromV < $toV; have ${versions(table)}")
    vs.sliding(2).map { case Seq(pv, nv) =>
      val prev = readEntries(table, pv)
      val next = readEntries(table, nv)
      val prevSet = prev.toSet
      val nextSet = next.toSet
      val removed = prev.filterNot(nextSet)
      val added = next.filterNot(prevSet)
      val changedDels = (removed ++ added).filter(_.kind == "delete")
      // a KEPT data dir's logical rows change only when a delete that
      // can apply to it (larger seq, overlapping key bounds) appeared
      // or disappeared across the step — decided from manifest stats
      val affectedKept = prev.filter(e => e.kind == "data" &&
        nextSet.contains(e) && changedDels.exists(d => d.seq > e.seq &&
          DirStats.mayContainDeleteKeys(e.stats, d.stats, d.key)))
      // PURE-APPEND FAST PATH: nothing removed and no kept dir's
      // delete-applicability changed ⇒ the prev side scans nothing, so
      // every surviving row of the added dirs is an INSERT by
      // construction — emit them directly and skip the full-outer join
      // (and its shuffle) entirely. This is the common step shape for
      // an append-mostly table history, where the diff join would pay
      // a key shuffle per step just to discover there is nothing to
      // match against.
      if (removed.isEmpty && affectedKept.isEmpty) {
        val datas = added.filter(_.kind == "data")
        if (datas.isEmpty) {
          // metadata-only step (e.g. a no-op republish): no changes.
          // Schema-only empty frame, same columns as the join path.
          import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
          val keyField = asOf(spark, table, nv).schema(key)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(keyField,
              StructField("_change_type", StringType),
              StructField("_change_version", IntegerType))))
        } else
          // the step's own deletes (all in `added`) still apply to its
          // own dirs by seq — logicalFrame folds them before the emit
          logicalFrame(spark, datas ++ next.filter(_.kind == "delete"))
            .select(col(key), lit("INSERT").as("_change_type"),
              lit(nv).cast("int").as("_change_version"))
      } else changeJoinStep(spark, table, key, pv, nv, prev, next,
        removed, added, affectedKept)
    }.reduce(_ unionByName _) match { case df =>
      // post-listing re-check: every step's scans listed eagerly above
      rangeStillLiveOrFail(table, fromV, toV)
      df
    }
  }

  /** The general [[changesBetween]] step: one full-outer join on the
    * key with null-safe payload compare — the path a step takes when
    * rows can have been removed or updated. */
  private def changeJoinStep(spark: SparkSession, table: String,
      key: String, pv: Int, nv: Int, prev: Seq[ManifestEntry],
      next: Seq[ManifestEntry], removed: Seq[ManifestEntry],
      added: Seq[ManifestEntry], affectedKept: Seq[ManifestEntry])
      : DataFrame = {
    import org.apache.spark.sql.functions._
    {
      // each side applies ITS version's full delete set to its scanned
      // dirs (logicalFrame drops non-applicable deletes by seq)
      def side(own: Seq[ManifestEntry], all: Seq[ManifestEntry],
          v: Int): DataFrame = {
        val datas = own.filter(_.kind == "data") ++ affectedKept
        if (datas.isEmpty)
          // schema-only empty frame: .schema is a footer read; a
          // limit(0) over asOf would still plant the version's full
          // file list in the scan node, defeating the delta-only claim
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            asOf(spark, table, v).schema)
        else logicalFrame(spark, datas ++ all.filter(_.kind == "delete"))
      }
      val prevFrame = side(removed, prev, pv)
      val nextFrame = side(added, next, nv)
      val others = nextFrame.columns.filterNot(_ == key)
      def payload(f: DataFrame, as: String) = f
        .select(col(key), struct(others.toIndexedSeq.map(col): _*).as(as))
      payload(prevFrame, "_prev")
        .join(payload(nextFrame, "_next"), Seq(key), "full_outer")
        .withColumn("_change_type",
          when(col("_prev").isNull, "INSERT")
            .when(col("_next").isNull, "DELETE")
            .when(!(col("_prev") <=> col("_next")), "UPDATE"))
        .filter(col("_change_type").isNotNull) // unchanged rows drop here
        .select(col(key), col("_change_type"),
          lit(nv).cast("int").as("_change_version"))
    }
  }

  /** A step's added DATA entries when it is a PURE APPEND, None when it
    * is not. The classification is Iceberg's snapshot-operation split,
    * strict on both axes: nothing removed (a removal is a CoW rewrite /
    * rollback / compaction — replaying its dirs would duplicate rows)
    * AND no delete entry added (a MoR delete or merge-upsert is an
    * `overwrite`/`delete` operation; emitting its new data dirs while
    * silently dropping the retraction half would hand a consumer half a
    * change). One shared classifier so [[appendsBetween]] and the
    * streaming source's fail/skip modes can never disagree about what
    * an "append" is. Set-based: the naive prev.forall(next.contains)
    * is O(|prev|·|next|) per step — 10^10 driver comparisons at a
    * 100k-entry manifest. */
  private def appendStep(table: String, pv: Int,
      nv: Int): Option[Seq[ManifestEntry]] =
    stepDelta(table, pv, nv).toOption

  /** One step's full classification, shared by [[appendStep]] and the
    * tracked walk: Right(added entries) when the step is a pure
    * append, Left(the DATA entries the step removed) otherwise — the
    * removal set is what the streaming tail's cross-batch dedup
    * retires, so a later commit re-pointing at a removed dir is
    * recognized as a republish round trip, not a fresh append.
    * Retirement identity is the FULL entry (kind, seq, rel, inline
    * stats), not the bare rel: [[freshDataRel]] mints names as
    * max+1 over the dirs PRESENT, so after a GC a retired dir's NAME
    * can be legitimately reused by a brand-new append — which must
    * not be suppressed. A verbatim republish (rollback-forward /
    * manifest copy) matches on full identity (manifest lines are
    * byte-stable); a fresh append reusing the name carries a fresh
    * seq and fresh stats and sails through. */
  private def stepDelta(table: String, pv: Int,
      nv: Int): Either[Set[ManifestEntry], Seq[ManifestEntry]] = {
    val prev = readEntries(table, pv).toSet
    val next = readEntries(table, nv)
    val added = next.filterNot(prev)
    if (prev.subsetOf(next.toSet) && added.forall(_.kind == "data"))
      Right(added)
    else Left((prev -- next).filter(_.kind == "data"))
  }

  /** Post-listing expiry-race guard, the MULTI-VERSION face of
    * [[asOf]]'s: a range reader over `(fromV, toV]` re-checks that
    * `fromV`'s manifest still exists AFTER its eager file listing, and
    * refuses if not. Checking only `fromV` suffices because every
    * sweeper deletes doomed manifests in ASCENDING version order
    * ([[expire]] walks `versions(table).dropRight(keep)`, which
    * [[versions]] returns sorted) — so while the range's OLDEST
    * manifest exists, no sweep that dooms any part of the range has
    * finished its manifest phase, and its dir-GC phase (which runs
    * strictly after all manifest deletions) cannot have started:
    * every file the listing saw was live. A file GC'd after the
    * listing fails the task loudly (`ignoreMissingFiles` stays
    * false). This holds under concurrent sweepers too — each deletes
    * ascending, so "fromV's manifest present" bounds every peer. */
  private def rangeStillLiveOrFail(table: String, fromV: Int,
      toV: Int): Unit =
    if (!manifestFile(table, fromV).exists())
      throw new IllegalStateException(
        s"versions ($fromV, $toV] of $table expired mid-read: the " +
          "range was retention-expired between planning and listing — " +
          "a partial scan would be a wrong answer, so the read " +
          "refuses. Retention must cover reader/consumer lag (the " +
          "expire/streaming-resume contract).")

  /** [[rangeStillLiveOrFail]] for the streaming tail's self-built
    * scans (the skip-mode batch reads dirs the walk selected). */
  private[graft] def requireRangeStillLive(table: String, fromV: Int,
      toV: Int): Unit = rangeStillLiveOrFail(table, fromV, toV)

  /** Iceberg-style incremental APPEND scan: the rows added by
    * append-type commits in `(fromV, toV]` — the read an incremental
    * downstream pipeline tails instead of reprocessing the table. A
    * version is append-type per [[appendStep]] (nothing removed, no
    * delete entries added); every other version (CoW rewrite, MoR
    * delete, merge-upsert, fold, rollback, compaction) is SKIPPED,
    * exactly as Iceberg's incremental read handles non-append
    * snapshots — their row deltas are change data ([[changesBetween]]),
    * not appends. Emits appended rows AS WRITTEN (later deletes don't
    * retro-apply — the consumer already processed those rows;
    * reconciliation is the change feed's job). Cost: manifest set-diffs
    * (metadata) plus a scan of ONLY the appended dirs. */
  def appendsBetween(spark: SparkSession, table: String, fromV: Int,
      toV: Int): DataFrame = {
    val live = versions(table)
    require(live.contains(fromV) && live.contains(toV) && fromV <= toV,
      s"appendsBetween needs live versions $fromV <= $toV; have $live")
    val added = live.filter(v => v >= fromV && v <= toV).sliding(2)
      .collect { case Seq(pv, nv) =>
        appendStep(table, pv, nv).getOrElse(Seq.empty)
      }.flatten.toSeq
      // distinct: a rollback-then-republish round trip re-introduces an
      // entry the range already emitted; without the dedup the same dir
      // would enter the scan twice and double its rows downstream.
      // SCOPE: the dedup sees only THIS range — a BATCH caller names
      // its whole range at once, so range-local is complete for it.
      // When the round trip straddles two calls (the streaming tail's
      // successive micro-batches), the tail threads its retired-dir
      // set through [[appendAdditionsTracked]] instead, which carries
      // the removal memory across ranges.
      .distinct
    if (added.isEmpty)
      current(spark, table).limit(0) // empty frame, correct schema
    else {
      val df = readDirs(spark, added.map(_.rel))
      rangeStillLiveOrFail(table, fromV, toV) // post-listing re-check
      df
    }
  }

  /** The tracked variant of the [[appendsBetween]] walk — the streaming
    * tail's skip-mode planner. Walks the same live versions of
    * `(fromV, toV]` step by step, threading a RETIRED-ENTRY set:
    * `retired0` seeds it with the data entries earlier walks saw
    * removed (the tail's cross-batch state); each non-append step in
    * THIS range adds its own removals. An append-step addition equal
    * to a retired entry is a rollback-republish round trip — its rows
    * were either already delivered (dir was emitted before the
    * rollback) or are change data wearing an append's clothes (dir was
    * minted by a rewrite/upsert the tail skipped) — so it is SUPPRESSED
    * rather than re-emitted; the change feed ([[changesBetween]]) is
    * where re-pointed dirs surface as the logical inserts/deletes they
    * are. Returns (the additions to scan, the advanced retired set).
    * Identity is the FULL manifest entry — see [[stepDelta]]: a GC'd
    * dir NAME reused by a fresh append must not be suppressed, and a
    * fresh append's entry is made unique BY CONSTRUCTION: the
    * [[mintStamped]] commit-version stamp in its inline stats can
    * never repeat for a table (versions are monotonic, never reused),
    * so no interleaving of rollback (seq reuse) + GC (dir-name reuse)
    * + identical content can mint a byte-identical twin of a retired
    * entry. Residual corner: a STATLESS fresh entry (stats harvest
    * failed — exceptional) has no stamp and relies on seq+rel alone.
    * Cost: the same manifest set-diffs as [[appendsBetween]], zero
    * data I/O; the retired set grows with ROLLED-BACK/REWRITTEN dirs
    * observed by this consumer, never with table size. */
  def appendAdditionsTracked(table: String, fromV: Int, toV: Int,
      retired0: Set[ManifestEntry])
      : (Seq[ManifestEntry], Set[ManifestEntry]) = {
    val live = versions(table)
    require(live.contains(fromV) && live.contains(toV) && fromV <= toV,
      s"appendAdditionsTracked needs live versions $fromV <= $toV; have $live")
    var retired = retired0
    val out = Seq.newBuilder[ManifestEntry]
    live.filter(v => v >= fromV && v <= toV).sliding(2).foreach {
      case Seq(pv, nv) =>
        stepDelta(table, pv, nv) match {
          case Right(added) =>
            out ++= added.filterNot(retired)
          case Left(removed) => retired ++= removed
        }
      case _ => () // single-version window: no step
    }
    // distinct is belt-and-braces: with the retired filter a re-added
    // entry is suppressed, and an entry present cannot be added again,
    // so duplicates should be impossible by construction
    (out.result().distinct, retired)
  }

  /** The versions in `(fromV, toV]` whose commit was NOT a pure append
    * per [[appendStep]] (CoW rewrite, MoR delete, merge-upsert, fold,
    * rollback, compaction). The streaming source's `onNonAppend=fail`
    * guard reads this before planning a batch: replaying a rewrite
    * would duplicate rows the consumer already processed, and tailing
    * an upsert's data files without their retractions would deliver
    * half a change — so the safe default is to stop loudly (Iceberg's
    * streaming-read default) and point at the offending versions.
    * Manifest set-diffs only — zero data I/O. */
  def nonAppendVersionsBetween(table: String, fromV: Int,
      toV: Int): Seq[Int] = {
    val live = versions(table)
    require(live.contains(fromV) && live.contains(toV) && fromV <= toV,
      s"nonAppendVersionsBetween needs live versions $fromV <= $toV; have $live")
    live.filter(v => v >= fromV && v <= toV).sliding(2).collect {
      case Seq(pv, nv) if appendStep(table, pv, nv).isEmpty => nv
    }.toSeq
  }

  /** Iceberg-style `$snapshots` metadata table: one row per LIVE
    * version with its manifest composition — the introspection surface
    * the reference platform's verification queries read (snapshot
    * history / file counts per snapshot; README.md:573-589's
    * time-travel checks are written against it). Pure metadata: built
    * from manifest files alone, no data I/O. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(table).flatMap { v =>
      // counts per version come from the per-segment counts cache, so
      // a long history over a segmented table costs O(versions × refs)
      // after each distinct (immutable) segment is counted once —
      // never an O(entries) list walk per version.
      // unlessVanished: this is a LISTING over the versions that
      // existed a moment ago, not a pinned read — a version a peer GC
      // expires between the listing and its count read simply drops
      // from the answer (exactly the result of listing a moment
      // later); a PINNED read of an expired version stays loud.
      unlessVanished(manifestFile(table, v))(
        versionLineCounts(table, v).map(_._2)).map { cs =>
        (v.toLong, cs.map(_.nData).sum, cs.map(_.nDelete).sum,
          (cs.map(_.maxSeq) :+ 0).max.toLong)
      }
    }.toDF("version", "n_data_entries", "n_delete_entries", "max_seq")
  }

  /** Per version-file LINE: its kind ("seg" ref or "inline" entry) and
    * its counts — segments through the counts cache, inline lines
    * parsed in place. The O(refs) backbone of [[history]] and
    * [[segmentsMetadata]]. */
  private def versionLineCounts(table: String, v: Int)
      : Seq[(String, Snapshots.SegCounts)] =
    readRaw(table, v).linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        if (l.startsWith("@seg\t"))
          ("seg", segCounts(l.stripPrefix("@seg\t")))
        else ("inline", Snapshots.countsOf(List(parseEntry(l))))
      }.toSeq

  /** Logical row count of snapshot `v` — Iceberg's `total-records`,
    * answered from manifest metadata wherever possible: a pure-data
    * snapshot whose entries carry record counts is the SUM OF MANIFEST
    * FIELDS, zero data I/O (the shape a 1000-snapshot history audit
    * needs — the pre-r12 m14 paid one table scan per version). Only
    * dirs whose rows the metadata can't pin — entries with no stats
    * (footer harvest failed), or dirs an outstanding equality delete
    * can reach (larger seq, overlapping key bounds) — fall back to one
    * MoR-applied scan, so the cost is O(delete-affected files), never
    * O(table). */
  def logicalRowCount(spark: SparkSession, table: String, v: Int): Long = {
    val entries = readEntries(table, v)
    val dels = entries.filter(_.kind == "delete")
    val datas = entries.filter(_.kind == "data")
    val (clean, risky) = datas.partition { e =>
      e.stats.isDefined && !dels.exists(d => d.seq > e.seq &&
        DirStats.mayContainDeleteKeys(e.stats, d.stats, d.key))
    }
    clean.map(_.stats.get.rows).sum +
      (if (risky.isEmpty) 0L
       else {
         val n = logicalFrame(spark, risky ++ dels).count()
         // post-ACTION expiry-race re-check (asOf's guard, pinned-count
         // face): the risky-dir scan ran to completion above, so if the
         // version's manifest still exists no sweep touched its dirs
         // and `n` counted every row; manifest gone ⇒ the count may be
         // silently short — refuse rather than report it
         if (!manifestFile(table, v).exists())
           throw new IllegalStateException(
             s"version $v of $table expired mid-read: the logical row " +
               "count's delete-applicability scan raced retention " +
               "expiry — a short count would be a wrong answer, so " +
               "the read refuses.")
         n
       })
  }

  /** Iceberg-style `$files` metadata table: one row per manifest entry
    * of snapshot `v` with its inline metrics — the per-file
    * introspection surface that pairs with [[history]]'s `$snapshots`.
    * Pure metadata: built from the manifest, no data I/O. */
  def filesMetadata(spark: SparkSession, table: String, v: Int): DataFrame = {
    import spark.implicits._
    val cols = Seq("entry_kind", "seq", "rel_path", "record_count",
      "n_stat_columns", "file_count", "total_bytes")
    // a version file is either all inline entry lines or all @seg refs
    val segLines = readRaw(table, v).linesIterator.map(_.trim)
      .filter(_.startsWith("@seg\t")).toSeq
    if (segLines.isEmpty)
      // inline manifest (below segThreshold): the entry list is tiny by
      // construction — a driver-side Seq→toDF is the right shape
      readEntries(table, v).map(Snapshots.fileRowFrom).toDF(cols: _*)
    else {
      // segmented manifest: the entry list can be table-sized (a
      // multi-million-file table), so the rows come from a DISTRIBUTED
      // text scan over the segment files themselves — the driver
      // touches only the version file's @seg ref list, and building
      // the frame launches no job. The closure captures nothing but
      // the static parse + row helpers on the companion.
      val segPaths =
        segLines.map(l => s"$root/${l.stripPrefix("@seg\t")}")
      spark.read.textFile(segPaths: _*)
        .map(_.trim).filter(_.nonEmpty)
        .map(l => Snapshots.fileRowFrom(Snapshots.parseEntryLine(l)))
        .toDF(cols: _*)
    }
  }

  /** Iceberg-style `$partitions` metadata table: per-partition rollup
    * of snapshot `v`'s data entries from INLINE manifest stats — the
    * surface the reference platform's partition analysis reads
    * (iceberg_maintenance.py:226-272 flags over/under-sized partitions
    * from exactly this rollup). A dir belongs to partition `p` iff its
    * footer stats PROVE it is single-valued on `partCol` (min == max,
    * no nulls) — which is what a partitioned write produces, one dir
    * per partition value per commit; a dir the stats can't attribute
    * (multi-valued, null-bearing, or statless) rolls up under a
    * NULL partition value so its rows are never silently dropped.
    * Pure metadata: no data I/O; the rollup itself is a Spark groupBy
    * so the shape survives a manifest with millions of entries. */
  /** M19: MoR FOLD ADVISOR — the maintenance-surface mirror of M7's
    * threshold analysis, for the read cost that is data-proportional
    * BY DESIGN: every equality-delete entry a snapshot carries adds
    * one delete-dir scan to the anti-join of its key set in [[asOf]]'s
    * merge-on-read plan (one join per distinct key set), and the delete
    * rows themselves are shuffled on every read until
    * [[rewriteDeletes]] folds them (Iceberg's major compaction — its
    * `rewrite_data_files` advisors read exactly these two signals:
    * delete-file count and delete-to-data ratio). Pure metadata: one
    * manifest read, entry counts + inline row stats, no data I/O —
    * the shape a 100k-dir table needs. Recommends FOLD_DELETES when
    * the live snapshot carries more than `maxDeleteEntries` delete
    * entries (per-read delete-dir scans) OR its deleted-row mass exceeds
    * `maxDeletePermille` of data rows (per-read shuffle mass);
    * otherwise OK. Row totals exclude statless entries (the
    * [[partitionsMetadata]] rule: -1 is a sentinel, never a quantity)
    * and surface `has_unknown_stats` so an advisor consumer knows when
    * the permille is a floor, not the truth; an unknowable permille
    * (no attributable data rows) falls back to the entry-count signal
    * alone. MaintenanceSpec pins the threshold flip both ways. */
  def morFoldAdvice(spark: SparkSession, table: String,
      maxDeleteEntries: Int = 8, maxDeletePermille: Long = 50)
      : DataFrame = {
    import spark.implicits._
    val v = currentVersion(table).getOrElse(
      sys.error(s"no snapshots for $table"))
    val entries = readEntries(table, v)
    val (data, del) = entries.partition(_.kind == "data")
    def known(es: Seq[ManifestEntry]): (Long, Boolean) = {
      val rs = es.map(_.records)
      (rs.filter(_ >= 0).sum, rs.exists(_ < 0))
    }
    val (dataRows, dataUnknown) = known(data)
    val (delRows, delUnknown) = known(del)
    val permille: Option[Long] =
      if (dataRows > 0 && !dataUnknown && !delUnknown)
        Some(1000L * delRows / dataRows)
      else None
    val fold = del.size > maxDeleteEntries ||
      permille.exists(_ > maxDeletePermille)
    Seq((v.toLong, data.size.toLong, del.size.toLong, dataRows, delRows,
      permille, dataUnknown || delUnknown,
      if (fold) "FOLD_DELETES" else "OK"))
      .toDF("version", "n_data_entries", "n_delete_entries", "data_rows",
        "delete_rows", "delete_permille", "has_unknown_stats",
        "recommendation")
  }

  def partitionsMetadata(spark: SparkSession, table: String, v: Int,
      partCol: String): DataFrame =
    partitionsMetadata(spark, table, v, partCol, exact = false)

  /** [[partitionsMetadata]] with an EXACT mode for unattributable dirs.
    * `exact = false` (the metadata-only default) rolls a dir the stats
    * can't attribute — multi-valued on `partCol`, or statless —
    * into the NULL bucket, rows conserved but unattributed. `exact =
    * true` adds a bounded fallback: those dirs (and ONLY those — the
    * m07 pattern) are data-scanned and their rows attributed by VALUE,
    * so the NULL bucket holds only rows whose `partCol` is genuinely
    * NULL. Cost is O(unattributable dirs) data I/O plus their rel list
    * on the driver — proven single-valued dirs keep the manifest-only
    * path, so a well-partitioned 100 TB table pays nothing and a table
    * with one mixed dir pays one dir's scan. Scanned
    * contributions count rows and contributing entries exactly;
    * file/byte totals stay manifest-side only (a multi-valued dir's
    * files span partitions — attributing whole files to one value
    * would fabricate the quantity), surfaced per bucket via
    * `has_unknown_stats`. */
  def partitionsMetadata(spark: SparkSession, table: String, v: Int,
      partCol: String, exact: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pre = partitionsPreRollup(spark, table, v, partCol)
      .filter(col("is_data"))
    def rollup(rows: DataFrame): DataFrame = rows
      .groupBy(col("partition_value"))
      .agg(count(lit(1)).as("n_entries"),
        // -1 is the 'stats unknown' sentinel, never a quantity: summing
        // it would silently DEFLATE a bucket that mixes one statless
        // dir with attributed ones (10 + (-1) = 9) on the exact
        // surface compaction decisions read. Unknowns are excluded from
        // the totals and surfaced per bucket as has_unknown_stats
        // (all-unknown buckets total NULL, not a fabricated number).
        sum(when(col("rows") >= 0, col("rows"))).as("record_count"),
        sum(when(col("files") >= 0, col("files"))).as("file_count"),
        sum(when(col("bytes") >= 0, col("bytes"))).as("total_bytes"),
        max(col("rows") < 0 || col("files") < 0 || col("bytes") < 0)
          .as("has_unknown_stats"))
    if (!exact) return rollup(pre)
    // bounded: only the rels the manifest could NOT attribute reach the
    // driver (and the scan); zero unattributable dirs ⇒ zero data I/O
    val unattr = pre.filter(col("partition_value").isNull)
      .select(col("rel")).as[String].collect()
    val attributed = rollup(pre.filter(col("partition_value").isNotNull))
    if (unattr.isEmpty) attributed
    else {
      val scan = readDirs(spark, unattr.toSeq)
      // post-listing expiry-race re-check (asOf's guard, exact-mode
      // face): a racing sweep gutting an unattributable dir between
      // the pre-rollup and this listing would silently under-attribute
      // its bucket — full attribution or loud refusal
      if (!manifestFile(table, v).exists())
        throw new IllegalStateException(
          s"version $v of $table expired mid-read: the exact-mode " +
            "partition scan raced retention expiry — a partial " +
            "attribution would be a wrong answer, so the read refuses.")
      // render scanned values EXACTLY as the manifest path renders
      // stats bounds ([[Snapshots.renderPartValue]]): dates as epoch-day
      // ordinals, timestamps as epoch micros — otherwise the same
      // partition would split into two buckets by attribution path
      val rendered = scan.schema(partCol).dataType match {
        case org.apache.spark.sql.types.DateType =>
          datediff(col(partCol), to_date(lit("1970-01-01")))
            .cast("string")
        case org.apache.spark.sql.types.TimestampType =>
          unix_micros(col(partCol)).cast("string")
        case _ => col(partCol).cast("string")
      }
      val scanned = scan
        .select(rendered.as("partition_value"),
          // dir identity for n_entries: a dir counts under every value
          // it contributes rows to
          regexp_replace(input_file_name(), "/[^/]*$", "").as("dir"))
        .groupBy(col("partition_value"))
        .agg(count_distinct(col("dir")).as("n_entries"),
          count(lit(1)).as("record_count"))
      attributed.as("m")
        .join(scanned.as("s"), $"m.partition_value" <=> $"s.partition_value",
          "full_outer")
        .select(
          coalesce($"m.partition_value", $"s.partition_value")
            .as("partition_value"),
          (coalesce($"m.n_entries", lit(0L)) +
            coalesce($"s.n_entries", lit(0L))).as("n_entries"),
          (coalesce($"m.record_count", lit(0L)) +
            coalesce($"s.record_count", lit(0L))).as("record_count"),
          $"m.file_count", $"m.total_bytes",
          // scanned contributions carry no attributable file/byte
          // totals — the bucket says so instead of understating silently
          (coalesce($"m.has_unknown_stats", lit(false)) ||
            $"s.record_count".isNotNull).as("has_unknown_stats"))
    }
  }

  /** The per-entry pre-rollup under [[partitionsMetadata]]: one row
    * per manifest entry of snapshot `v` with its stats-attributed
    * partition value (null when unattributable). Same inline/segmented
    * split as [[filesMetadata]]: a segmented (potentially table-sized)
    * manifest pre-rolls up from a DISTRIBUTED text scan of the segment
    * files; a tiny inline manifest stays on the driver. */
  private def partitionsPreRollup(spark: SparkSession, table: String,
      v: Int, partCol: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("is_data", "rel", "partition_value", "rows", "files",
      "bytes")
    val segLines = readRaw(table, v).linesIterator.map(_.trim)
      .filter(_.startsWith("@seg\t")).toSeq
    if (segLines.isEmpty)
      readEntries(table, v).map(Snapshots.partRowFrom(partCol, _))
        .toDF(cols: _*)
    else {
      val partColLocal = partCol
      val segPaths = segLines.map(l => s"$root/${l.stripPrefix("@seg\t")}")
      spark.read.textFile(segPaths: _*)
        .map(_.trim).filter(_.nonEmpty)
        .map(l => Snapshots.partRowFrom(partColLocal,
          Snapshots.parseEntryLine(l)))
        .toDF(cols: _*)
    }
  }

  /** Iceberg-style `$manifests`-like metadata table over the segment
    * layer: one row per version-file line of snapshot `v` — a reused
    * or fresh `@seg` ref (kind "seg") or an inline entry line
    * (kind "inline") — with its position and the entry counts it
    * contributes. Pure metadata (version file + cached immutable
    * segments); the view that shows a commit's O(delta) metadata
    * shape: an append's version file is `prev refs + one new ref`. */
  def segmentsMetadata(spark: SparkSession, table: String, v: Int)
      : DataFrame = {
    import spark.implicits._
    versionLineCounts(table, v).zipWithIndex.map { case ((kind, c), i) =>
      (i.toLong, kind, c.nEntries, c.nData, c.nDelete)
    }.toDF("position", "ref_kind", "n_entries", "n_data", "n_delete")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete()
  }

  /** Every data dir referenced by ANY live manifest under the root —
    * liveness is ROOT-wide, not per-table, because branches share data
    * dirs by reference (publish/branch are manifest copies).
    *
    * Cost discipline for a GC pass over many tables × long histories:
    * version files are walked once each (O(versions × refs)), but each
    * DISTINCT segment resolves once root-wide and each DISTINCT entry
    * rel canonicalizes once — the pre-r14 shape re-walked every
    * version's full entry list and paid one getCanonicalPath SYSCALL
    * per entry PER VERSION, an O(total-metadata) driver walk per GC. */
  /** Peer-GC tolerance for the LIVENESS walks only: a manifest or
    * segment that vanishes between the version listing and the read
    * was expired by a CONCURRENT maintenance deployment under an
    * equal-or-stricter retention — nothing references it any more, so
    * its correct liveness contribution is "none" and the walk skips
    * it. The guard is deliberately narrow: the read is retried against
    * existence AT CATCH TIME, so a present-but-corrupt file still
    * fails loudly (silently skipping one would let the sweep collect
    * dirs the corrupt manifest still references). Query-path readers
    * keep their loud requires — a vanished manifest under a QUERY is
    * a retention violation, not a peer to tolerate. */
  private[graft] def unlessVanished[T](f: java.io.File)(read: => T)
      : Option[T] =
    try Some(read)
    catch { case scala.util.control.NonFatal(_) if !f.exists() => None }

  private def liveDataDirs(): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    val seenSegs = scala.collection.mutable.Set.empty[String]
    val canon = scala.collection.mutable.HashMap.empty[String, String]
    def add(rel: String): Unit =
      out += canon.getOrElseUpdate(rel,
        new java.io.File(s"$root/$rel").getCanonicalPath)
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .foreach { td =>
        versions(td.getName).foreach { v =>
          unlessVanished(manifestFile(td.getName, v))(
            readRaw(td.getName, v)).foreach(_.linesIterator.map(_.trim)
            .filter(_.nonEmpty).foreach { l =>
              if (l.startsWith("@seg\t")) {
                val rel = l.stripPrefix("@seg\t")
                // delete dirs are live too — readSeg keeps them
                if (seenSegs.add(rel))
                  unlessVanished(new java.io.File(s"$root/$rel"))(
                    readSeg(rel)).toList.flatten.foreach(e => add(e.rel))
              } else add(parseEntry(l).rel)
            })
        }
      }
    out.toSet
  }

  /** Every manifest segment referenced by ANY live version under the
    * root — root-wide like [[liveDataDirs]], because branch/publish
    * copy version files verbatim and with them cross-table `@seg`
    * refs. A segment unreferenced by every live version (an expired
    * history's leftover, or a lost commit race's stage) is an orphan. */
  private def liveSegFiles(): Set[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq
      .flatMap(td => versions(td.getName).flatMap(v =>
        unlessVanished(manifestFile(td.getName, v))(
          readRaw(td.getName, v)).toSeq.flatMap(_.linesIterator.map(_.trim)
          .filter(_.startsWith("@seg\t")).map(_.stripPrefix("@seg\t")))))
      .map(r => new java.io.File(s"$root/$r").getCanonicalPath)
      .toSet

  /** M2: expire old snapshots, keeping the most recent `keep` — delete
    * their manifest files, then garbage-collect this table's data dirs
    * that no live manifest (any table, any branch) still references.
    * Metadata delete + reference-counted data delete: exactly the
    * retention op the reference schedules
    * (iceberg_maintenance.py:73-93). Returns the versions removed.
    *
    * `gcOlderThanMillis` defaults to [[Snapshots.DefaultGcAgeMillis]]
    * (one hour), NOT zero: a dir staged by an in-flight commit is
    * unreferenced until its manifest lands, and a zero cutoff would let
    * a concurrent maintenance run gut it mid-commit (Iceberg's
    * remove_orphan_files defaults to 3 days for the same reason).
    * Quiesced single-writer callers — and tests — pass 0L explicitly. */
  def expire(table: String, keep: Int,
      gcOlderThanMillis: Long = Snapshots.DefaultGcAgeMillis): Seq[Int] = {
    // retain-last >= 1, Iceberg's own floor: keep=0 would delete every
    // manifest and GC all data — a retention knob must never be able
    // to destroy the table it maintains
    require(keep >= 1, s"expire must retain at least 1 snapshot, got $keep")
    val vs = versions(table)
    val doomed = vs.dropRight(keep)
    doomed.foreach(v => manifestFile(table, v).delete())
    val live = liveDataDirs()
    val cutoff = System.currentTimeMillis() - gcOlderThanMillis
    Option(new java.io.File(s"$root/$table/data").listFiles())
      .getOrElse(Array.empty)
      // age cutoff (Iceberg's remove-orphans discipline): a dir staged
      // by an IN-FLIGHT commit is unreferenced until its manifest
      // lands — concurrent deployments pass a cutoff comfortably above
      // their longest stage-to-commit window so the GC can't gut it
      .filter(d => d.isDirectory && !live.contains(d.getCanonicalPath) &&
        d.lastModified() <= cutoff)
      .foreach(deleteRecursively)
    // segment sweep: manifest segments referenced ONLY by the expired
    // versions are dead metadata now — without this, expire-only
    // callers leak .seg disk proportional to expired history until a
    // separate cleanOrphans pass (same root-wide liveness + age-cutoff
    // discipline as the data-dir GC above).
    val liveSegs = liveSegFiles()
    Option(segDir(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !liveSegs.contains(f.getCanonicalPath) &&
        f.lastModified() <= cutoff)
      .foreach(_.delete())
    evictDeadCacheEntries()
    doomed
  }

  /** M4: orphan-file cleanup — delete files under the table root that
    * no live snapshot references: aborted data-dir writes never
    * committed to a manifest, manifest .tmp leftovers, stray files.
    * Returns deleted paths. Age cutoff defaults safe-side like
    * [[expire]]'s — see [[Snapshots.DefaultGcAgeMillis]]. */
  def cleanOrphans(table: String,
      olderThanMillis: Long = Snapshots.DefaultGcAgeMillis): Seq[String] = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val liveData = liveDataDirs()
    val liveSegs = liveSegFiles()
    val liveManifests = versions(table)
      .map(v => manifestFile(table, v).getCanonicalPath).toSet
    // the structural dirs are containers, not content — keep them
    val containers = Set(manifestsDir(table), segDir(table),
      new java.io.File(s"$root/$table/data")).map(_.getCanonicalPath)
    def isLive(f: java.io.File): Boolean = {
      val p = f.getCanonicalPath
      containers.contains(p) || liveManifests.contains(p) ||
        liveSegs.contains(p) || liveData.contains(p) ||
        // a path UNDER a live data dir — bare startsWith would keep
        // .../d1_aborted.tmp alive because it extends .../d1
        liveData.exists(l => p.startsWith(l + sep))
    }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk) :+ f
      else Seq(f)
    val rootD = tableDir(table)
    if (!rootD.exists()) return Seq.empty
    val doomed = walk(rootD)
      .filter(_ != rootD)
      .filterNot(isLive)
      // age cutoff (Iceberg's remove_orphan_files ships a default of
      // 3 days for the same reason): a dir STAGED by an in-flight
      // commit is an "orphan" until its manifest lands; concurrent
      // deployments pass a cutoff above their stage-to-commit window
      .filter(_.lastModified() <= cutoff)
    val deleted =
      doomed.filter(_.isFile).map { f => val p = f.getPath; f.delete(); p } ++
        doomed.filter(_.isDirectory).flatMap { d =>
          if (Option(d.listFiles()).getOrElse(Array.empty).isEmpty) {
            val p = d.getPath; d.delete(); Seq(p)
          } else Seq.empty
        }
    evictDeadCacheEntries()
    deleted
  }
}
