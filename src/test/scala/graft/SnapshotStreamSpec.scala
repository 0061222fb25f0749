package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.plans.Snapshots
import graft.sources.SnapshotStreamProvider

/** The snapshot store as a streaming SOURCE
  * ([[graft.sources.SnapshotStreamProvider]]): version-offsets,
  * kill/resume off the checkpoint, tail-from-version, the non-append
  * guard, and the soak consumption law — a skip-mode tail drained WHILE
  * MoR-delete/upsert/fold commits interleave with appends must deliver
  * exactly the initial snapshot plus the pure appends, once each. */
class SnapshotStreamSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("snapstream").toFile.getAbsolutePath

  private def readTail(root: String, table: String,
      extra: (String, String)*) = {
    val base = spark.readStream
      .format(classOf[SnapshotStreamProvider].getName)
      .option("root", root).option("table", table)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  private def kv(rows: Seq[(Long, Double)]) =
    rows.toDF("k", "v").coalesce(1)

  test("the provider registers its short name: readStream.format(" +
      "\"graft-snapshots\") resolves and tails the table") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "short"
    sn.commit(kv(Seq((1L, 1.0), (2L, 2.0))), t)
    val df = spark.readStream.format("graft-snapshots")
      .option("root", root).option("table", t).load()
    assert(df.isStreaming && df.columns.toSeq == Seq("k", "v"))
    val q = df.writeStream.format("memory").queryName("graft_short_name")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft_short_name").as[(Long, Double)].collect()
      .toSet == Set((1L, 1.0), (2L, 2.0)))
  }

  test("kill/resume: a second incarnation from the checkpoint neither " +
      "drops nor duplicates, and the offset log reads as table versions") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "kr"
    sn.commit(kv((0L until 100L).map(k => (k, 1.0))), t) // v1
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def drainOnce(): Unit = {
      val q = readTail(root, t).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drainOnce() // incarnation 1: the v1 initial snapshot
    // new appends land while the query is DOWN
    sn.append(kv((100L until 150L).map(k => (k, 2.0))), t) // v2
    sn.append(kv((150L until 160L).map(k => (k, 3.0))), t) // v3
    drainOnce() // incarnation 2 resumes from the same checkpoint
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == 160, s"expected 160 rows once each, got ${got.size}")
    assert(got.toSet ==
      ((0L until 100L).map(k => (k, 1.0)) ++
        (100L until 150L).map(k => (k, 2.0)) ++
        (150L until 160L).map(k => (k, 3.0))).toSet)
    // the checkpoint's offset log is auditable AGAINST $snapshots: the
    // source serializes offsets as bare version numbers
    val offsetFiles = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    assert(offsetFiles.nonEmpty)
    val lastOffset =
      Files.readAllLines(offsetFiles.last.toPath).asScala.last.trim
    assert(lastOffset.toInt == sn.currentVersion(t).get,
      s"offset log tail $lastOffset is not the table's current version")
  }

  test("startVersion tails ONLY post-anchor appends — the anchor's " +
      "content is the consumer's presumed-processed past") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "tail"
    sn.commit(kv(Seq((1L, 1.0), (2L, 1.0))), t)  // v1: pre-anchor
    sn.append(kv(Seq((3L, 2.0), (4L, 2.0))), t)  // v2: after the anchor
    val sink = s"tail_sink_${System.nanoTime()}"
    val q = readTail(root, t, "startVersion" -> "1")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(sink).as[(Long, Double)].collect().toSet ==
        Set((3L, 2.0), (4L, 2.0)), "v1 rows must NOT be emitted")
      sn.append(kv(Seq((5L, 3.0))), t)           // v3: mid-query
      q.processAllAvailable()
      assert(spark.table(sink).as[(Long, Double)].collect().toSet ==
        Set((3L, 2.0), (4L, 2.0), (5L, 3.0)))
    } finally q.stop()
  }

  test("onNonAppend=fail (the default) stops the query loudly at a " +
      "rewrite, naming the offending version") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "guard"
    sn.commit(kv((0L until 10L).map(k => (k, 1.0))), t) // v1
    val sink = s"guard_sink_${System.nanoTime()}"
    val q = readTail(root, t).writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable() // drains the v1 snapshot
      sn.deleteWhere(spark, t, col("k") < 3L) // v2: CoW rewrite
      sn.append(kv(Seq((100L, 9.0))), t)      // v3: a later append can't mask it
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      def messages(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(t =>
          Option(t.getMessage).toSeq ++ messages(t.getCause))
      val all = messages(ex).mkString(" | ")
      assert(all.contains("non-append") && all.contains("2"),
        s"expected a non-append failure naming version 2, got: $all")
    } finally q.stop()
  }

  test("a MoR upsert is NOT an append: fail-mode stops rather than " +
      "delivering the upsert's data files without their retractions") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "upguard"
    sn.commit(kv(Seq((1L, 1.0), (2L, 1.0))), t)
    val sink = s"upguard_sink_${System.nanoTime()}"
    val q = readTail(root, t).writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      sn.mergeUpsert(spark, t, kv(Seq((1L, -1.0), (3L, 5.0))), "k")
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      def messages(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(t =>
          Option(t.getMessage).toSeq ++ messages(t.getCause))
      assert(messages(ex).mkString(" | ").contains("non-append"))
    } finally q.stop()
  }

  test("maxVersionsPerBatch drains a version backlog as BOUNDED " +
      "catch-up batches — never one giant batch, never a lost row") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "rate"
    sn.commit(kv(Seq((0L, 0.0))), t) // v1: the consumer's anchor
    // a 5-version backlog accumulates before the consumer starts
    (1 to 5).foreach(i => sn.append(kv(Seq((i.toLong, i.toDouble))), t))
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    val q = readTail(root, t, "startVersion" -> "1",
        "maxVersionsPerBatch" -> "2")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSet
    assert(got == (1 to 5).map(i => (i.toLong, i.toDouble)).toSet,
      "rate limiting must slow delivery, not lose or duplicate it")
    // the offset log shows the bounded climb: batch ends advance by at
    // most 2 versions from the startVersion base, reaching v6 in >= 3
    // batches instead of one catch-up batch over the whole backlog
    val ends = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      .map(f => Files.readAllLines(f.toPath).asScala.last.trim.toInt)
      .toSeq
    assert(ends.size >= 3, s"backlog drained in too few batches: $ends")
    assert(ends.last == 6, s"backlog not fully drained: $ends")
    (1 +: ends).sliding(2).foreach { case Seq(a, b) =>
      assert(b - a <= 2, s"a batch advanced ${b - a} > 2 versions: $ends")
    }
  }

  test("the rate limit survives a clean restart: catch-up after " +
      "downtime is still bounded from the COMMITTED offset — " +
      "snapshot mode, where no startVersion anchor can mask a reset") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "raterestart"
    sn.commit(kv(Seq((0L, 0.0))), t) // v1
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def drainOnce(): Unit = {
      // DEFAULT (snapshot) mode: the only correct clamp base after the
      // restart is the offset log's committed v1 — a rate limiter that
      // lost its base to the restart would plan one unclamped batch
      val q = readTail(root, t, "maxVersionsPerBatch" -> "2")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drainOnce() // clean shutdown after the initial snapshot, nothing pending
    // a 6-version backlog accrues while the consumer is DOWN
    (1 to 6).foreach(i => sn.append(kv(Seq((i.toLong, i.toDouble))), t))
    drainOnce()
    assert(spark.read.parquet(out).as[(Long, Double)].collect().toSet ==
      Set((0L, 0.0)) ++ (1 to 6).map(i => (i.toLong, i.toDouble)))
    val ends = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      .map(f => Files.readAllLines(f.toPath).asScala.last.trim.toInt)
      .toSeq
    assert(ends.last == 7, s"backlog not drained: $ends")
    (1 +: ends).sliding(2).foreach { case Seq(a, b) =>
      assert(b - a <= 2,
        s"restart catch-up advanced ${b - a} > 2 versions: $ends")
    }
  }

  test("Trigger.AvailableNow under a rate limit drains the WHOLE " +
      "backlog in bounded batches, then terminates — no silent " +
      "under-delivery from a one-shot offset capture") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "availnow"
    sn.commit(kv(Seq((0L, 0.0))), t) // v1
    (1 to 6).foreach(i => sn.append(kv(Seq((i.toLong, i.toDouble))), t))
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    val q = readTail(root, t, "startVersion" -> "1",
        "maxVersionsPerBatch" -> "2")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    assert(q.awaitTermination(120000), "AvailableNow run did not terminate")
    assert(spark.read.parquet(out).as[(Long, Double)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, i.toDouble)).toSet,
      "the run must drain everything available at start, not one batch")
    val ends = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      .map(f => Files.readAllLines(f.toPath).asScala.last.trim.toInt)
      .toSeq
    assert(ends.size >= 3 && ends.last == 7,
      s"expected >= 3 bounded batches reaching v7: $ends")
  }

  test("an EXPIRED startVersion anchor does not block a restart whose " +
      "checkpoint is ahead of it — retention covers lag, not anchors") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "anchor"
    sn.commit(kv(Seq((1L, 1.0))), t)      // v1: the anchor
    sn.append(kv(Seq((2L, 2.0))), t)      // v2
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def drainOnce(mid: => Unit): Unit = {
      val q = readTail(root, t, "startVersion" -> "1")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try { q.processAllAvailable(); mid; q.processAllAvailable() }
      finally q.stop()
    }
    // incarnation 1 advances PAST the anchor batch: the engine's clean
    // restart replays the LAST COMMITTED batch through getBatch, so the
    // anchor stays load-bearing only while batch 0 is the newest commit
    drainOnce { sn.append(kv(Seq((3L, 3.0))), t) } // batches (1,2], (2,3]
    sn.expire(t, keep = 2, gcOlderThanMillis = 0L) // v1 (the anchor) expires
    assert(!sn.versions(t).contains(1), "fixture: anchor must be expired")
    sn.append(kv(Seq((4L, 4.0))), t)      // v4 while down
    drainOnce(()) // must resume fine: the checkpointed v3 is still live
    assert(spark.read.parquet(out).as[(Long, Double)].collect().toSet ==
      Set((2L, 2.0), (3L, 3.0), (4L, 4.0)))
  }

  test("a widened append mid-stream delivers under the SUBSCRIBED " +
      "schema — schema binds at stream start, evolution needs a restart") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "widen"
    sn.commit(kv(Seq((1L, 1.0))), t)
    val sink = s"widen_sink_${System.nanoTime()}"
    val q = readTail(root, t).writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      // an ADD COLUMN-style evolution commit: the appended dir carries
      // a superset schema; the running consumer must keep its columns
      sn.append(Seq((2L, 2.0, "extra")).toDF("k", "v", "w").coalesce(1), t)
      q.processAllAvailable()
      val out = spark.table(sink)
      assert(out.columns.toSeq == Seq("k", "v"),
        s"subscribed schema leaked mid-stream: ${out.columns.toSeq}")
      assert(out.as[(Long, Double)].collect().toSet ==
        Set((1L, 1.0), (2L, 2.0)))
    } finally q.stop()
  }

  test("a mid-stream column TYPE change fails loudly under the " +
      "subscribed schema — select-by-name projects but must not ship " +
      "silently diverged runtime types") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "retype"
    sn.commit(kv(Seq((1L, 1.0))), t)
    val sink = s"retype_sink_${System.nanoTime()}"
    val q = readTail(root, t).writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      // same column NAMES, evolved TYPE: v becomes a string — the name
      // projection alone would succeed and hand downstream a batch
      // whose rows disagree with the subscribed schema
      sn.append(Seq((2L, "oops")).toDF("k", "v").coalesce(1), t)
      val ex = intercept[StreamingQueryException](q.processAllAvailable())
      def messages(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      val all = messages(ex).mkString(" | ")
      assert(all.contains("schema evolved") && all.contains("restart"),
        s"expected the explicit type-divergence failure, got: $all")
    } finally q.stop()
  }

  test("the legacy v1 getOffset face cannot bypass admission control: " +
      "it honors the AvailableNow cap and refuses to run under a rate " +
      "limit it cannot express") {
    import graft.sources.SnapshotTailSource
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "v1face"
    sn.commit(kv(Seq((1L, 1.0))), t) // v1
    sn.append(kv(Seq((2L, 2.0))), t) // v2
    // a rate-limited source must fail LOUDLY on the bare v1 path — it
    // has no `start`, so it cannot clamp, and silence would mean one
    // unclamped catch-up batch over the whole backlog
    val limited = new SnapshotTailSource(spark, root, t, Some(1), "fail",
      maxVersions = Some(2))
    val ex = intercept[IllegalStateException](limited.getOffset)
    assert(ex.getMessage.contains("latestOffset"),
      s"the refusal must point at the admission-control path: $ex")
    // an unlimited source under Trigger.AvailableNow: versions landing
    // AFTER prepare must not leak into this run's target offset
    val capped = new SnapshotTailSource(spark, root, t, Some(1), "fail")
    capped.prepareForTriggerAvailableNow() // pins v2
    sn.append(kv(Seq((3L, 3.0))), t)       // v3 lands after the pin
    assert(capped.getOffset.map(_.json().trim.toInt) == Some(2),
      "getOffset leaked a post-prepare version past the AvailableNow cap")
  }

  test("Spark-version pin for the admission-control routing claim: " +
      "getOffset throws under a rate limit BECAUSE this engine routes " +
      "SupportsAdmissionControl sources through latestOffset — a " +
      "version bump must re-verify that routing before moving this pin") {
    // the behavioral half is already load-bearing elsewhere: every
    // maxVersionsPerBatch test RUNS a rate-limited stream end-to-end,
    // which only works while the engine takes latestOffset(start,
    // limit) — an engine that fell back to the bare v1 getOffset would
    // crash those tests on the deliberate loud refusal. This pin adds
    // the signpost: when it fails, re-read MicroBatchExecution's
    // source-dispatch order in the new jars, then move the pin.
    assert(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"Spark bumped to ${org.apache.spark.SPARK_VERSION}: re-verify " +
        "that MicroBatchExecution matches SupportsAdmissionControl " +
        "before the bare Source branch (see SnapshotSourceBase." +
        "getOffset's scaladoc), then update this pin")
  }

  test("changes mode: the streamed feed equals batch changesBetween, " +
      "coalesced triggers included, and resumes across a kill") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "cdc"
    def snap(rows: Seq[(Long, Double)]) = kv(rows)
    sn.commit(snap(Seq((1L, 1.0), (2L, 1.0), (3L, 1.0))), t) // v1
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def run(body: org.apache.spark.sql.streaming.StreamingQuery => Unit)
        : Unit = {
      val q = readTail(root, t, "mode" -> "changes", "key" -> "k",
          "startVersion" -> "1")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try body(q) finally q.stop()
    }
    run { q =>
      q.processAllAvailable() // state reflects v1: nothing to emit
      sn.commit(snap(Seq((1L, 9.0), (2L, 1.0), (4L, 1.0))), t) // v2: upd/del/ins
      q.processAllAvailable()
      // TWO versions land before one drain — the trigger coalesces the
      // range, and the per-step diff must make slicing invisible
      sn.commit(snap(Seq((1L, 9.0), (2L, 1.0))), t)            // v3: delete 4
      sn.append(snap(Seq((5L, 5.0))), t)                       // v4: insert 5
      q.processAllAvailable()
    }
    // a kill/resume boundary: v5 lands while the query is DOWN
    sn.commit(snap(Seq((1L, 9.0), (5L, 5.0))), t)              // v5: delete 2
    run(_.processAllAvailable())
    val got = spark.read.parquet(out)
      .select(col("k"), col("_change_type"), col("_change_version"))
      .as[(Long, String, Int)].collect().toSet
    val batch = sn.changesBetween(spark, t, 1,
        sn.currentVersion(t).get, "k")
      .as[(Long, String, Int)].collect().toSet
    assert(got == batch,
      s"streamed feed diverged from batch changesBetween:\n$got\nvs\n$batch")
    assert(got.contains((5L, "INSERT", 4)) && got.contains((4L, "DELETE", 3)),
      "the coalesced trigger must still attribute changes to their step")
  }

  test("a tail batch PLANS only the appended dirs — the delta-only " +
      "claim audited at the file-scan level, not just by row delivery") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "delta"
    sn.commit(kv((0L until 1000L).map(k => (k, 1.0))), t)   // v1: bulk
    sn.append(kv(Seq((5000L, 2.0))), t)                     // v2: delta
    sn.append(kv(Seq((5001L, 3.0))), t)                     // v3: delta
    // the (v2, v3] batch must not plant v1's (or v2's) files in its scan
    val batch = sn.appendsBetween(spark, t, 2, 3)
    // inputFiles returns file:///-scheme URIs; normalize to plain paths
    def paths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.inputFiles.toSeq.map(f =>
        "/" + f.stripPrefix("file:").dropWhile(_ == '/'))
    val files = paths(batch)
    assert(files.nonEmpty)
    val v2Dirs = sn.dataDirs(t, 2).toSet
    val v3Only = sn.dataDirs(t, 3).toSet -- v2Dirs
    assert(v3Only.size == 1)
    assert(files.forall(f => v3Only.exists(f.startsWith)),
      s"batch scan planted non-delta files: $files vs delta dirs $v3Only")
    // the change feed's pure-append fast path carries the same bound
    assert(paths(sn.changesBetween(spark, t, 2, 3, "k"))
        .forall(f => v3Only.exists(f.startsWith)),
      "pure-append change step scanned beyond the delta")
  }

  test("retention contract: resuming past an EXPIRED version fails " +
      "loudly — never a silent skip over the GC'd gap") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "ret"
    sn.commit(kv(Seq((1L, 1.0))), t) // v1
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def start() = readTail(root, t).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // checkpoint at v1
    sn.append(kv(Seq((2L, 2.0))), t)  // v2
    sn.append(kv(Seq((3L, 3.0))), t)  // v3
    // retention violates consumer lag: v1 (the checkpointed offset)
    // and v2 are expired before the consumer returns
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    val q2 = start()
    try {
      val ex = intercept[StreamingQueryException](q2.processAllAvailable())
      def messages(e: Throwable): Seq[String] =
        Option(e).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      val all = messages(ex).mkString(" | ")
      // either liveness face is acceptable as long as it is LOUD and
      // names the gap: the range guard ("live versions") on a tail
      // batch, or the manifest read ("no manifest for ... v=1") when
      // the engine replays the un-committed initial-snapshot batch
      assert(all.contains("live versions") || all.contains("no manifest"),
        s"the failure must name the retention/liveness violation: $all")
    } finally q2.stop()
  }

  test("the tail stays exact while CONCURRENT appenders race the " +
      "consumer (OCC commits vs live micro-batch planning)") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "race"
    sn.commit(kv(Seq((-1L, 0.0))), t) // seed
    val out = s"${scratch()}/out"
    val q = readTail(root, t).writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"${scratch()}/ck")
      .outputMode("append").start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      q.processAllAvailable()
      // 4 writers × 8 appends race each other's OCC retries while the
      // consumer keeps draining whatever versions it observes
      val futures = (0 until 4).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = (0 until 8).foreach { i =>
            sn.append(kv(Seq((w * 100L + i, 1.0))), t)
          }
        })
      }
      while (!futures.forall(_.isDone)) q.processAllAvailable()
      q.processAllAvailable()
      futures.foreach(_.get()) // surface any writer failure
    } finally { pool.shutdown(); q.stop() }
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    val expected = Set((-1L, 0.0)) ++
      (for (w <- 0 until 4; i <- 0 until 8) yield (w * 100L + i, 1.0))
    assert(got.size == expected.size,
      s"delivered ${got.size} rows vs ${expected.size} (dup or loss under race)")
    assert(got.toSet == expected)
  }

  test("full lakehouse loop: tail table A into a seq-conditioned upsert " +
      "on table B — exactly-once across mid-stream appends AND a " +
      "kill/resume boundary") {
    import graft.streaming.Streaming
    val root = scratch()
    val sn = new Snapshots(root)
    def src(rows: (Long, Double, Long)*) =
      rows.toSeq.toDF("k", "v", "seq").coalesce(1)
    sn.commit(src((1L, 10.0, 1L), (2L, 20.0, 1L)), "a") // A v1
    val ck = s"${scratch()}/ck"
    def drainOnce(mid: => Unit): Unit = {
      val q = Streaming.upsertSink(readTail(root, "a"), sn, "b", "k", "seq")
        .option("checkpointLocation", ck).start()
      try { q.processAllAvailable(); mid; q.processAllAvailable() }
      finally q.stop()
    }
    // incarnation 1: initial snapshot lands in B, then a mid-stream
    // append flows A → stream → MERGE into B
    drainOnce { sn.append(src((2L, 21.0, 2L), (4L, 40.0, 1L)), "a") }
    // while the pipeline is DOWN, A keeps moving
    sn.append(src((1L, 11.0, 2L), (3L, 30.0, 1L)), "a")
    drainOnce(())
    val b = sn.current(spark, "b").select(col("k"), col("v"))
      .as[(Long, Double)].collect().toSet
    assert(b == Set((1L, 11.0), (2L, 21.0), (3L, 30.0), (4L, 40.0)),
      s"serving table diverged from latest-per-key over A's history: $b")
  }

  test("skip mode never re-delivers a dir republished after a rollback: " +
      "the retired-dir set carries across MICRO-BATCH boundaries, while " +
      "fresh appends keep flowing") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "repub"
    sn.commit(kv(Seq((1L, 1.0), (2L, 1.0))), t) // v1: seed snapshot
    sn.append(kv(Seq((3L, 2.0))), t)            // v2: B — the republish target
    val sink = s"repub_sink_${System.nanoTime()}"
    val q = readTail(root, t, "onNonAppend" -> "skip")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch: seed snapshot + B delivered
      assert(spark.table(sink).count() == 3)
      sn.rollback(spark, t, 1) // v3: removes B's dir (skipped non-append)
      q.processAllAvailable() // batch (2,3]: nothing to emit; B retires
      // the republish lands in a LATER micro-batch than the rollback:
      // rolling forward to v2 re-points at B's dir VERBATIM (same
      // manifest entry), which to a range-local reader is
      // indistinguishable from a fresh append — the cross-batch
      // retired set is what must recognize the round trip
      sn.rollback(spark, t, 2)         // v4: the republish
      sn.append(kv(Seq((4L, 3.0))), t) // v5: genuinely new data
      q.processAllAvailable()
      val got = spark.table(sink).as[(Long, Double)].collect().toSeq
      assert(got.size == 4,
        s"expected 4 rows once each, got ${got.size} — a 5th row means " +
          "the republished dir was re-delivered")
      assert(got.toSet ==
        Set((1L, 1.0), (2L, 1.0), (3L, 2.0), (4L, 3.0)))
    } finally q.stop()
  }

  test("the retired-dir set survives a RESTART: a rollback consumed " +
      "before the kill suppresses a republish landing after it — " +
      "reconstructed from the manifest history, not from lost memory") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "repubkr"
    sn.commit(kv(Seq((1L, 1.0))), t)  // v1: the tail anchor
    sn.append(kv(Seq((2L, 2.0))), t)  // v2: B
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def drainOnce(mid: => Unit): Unit = {
      val q = readTail(root, t, "startVersion" -> "1",
          "onNonAppend" -> "skip")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try { q.processAllAvailable(); mid; q.processAllAvailable() }
      finally q.stop()
    }
    // incarnation 1 delivers B, then consumes the rollback (retiring
    // B's dir) — and dies, taking the in-memory retired set with it
    drainOnce { sn.rollback(spark, t, 1) } // v3 mid-query
    // while DOWN: the republish (roll forward to v2) and a fresh append
    sn.rollback(spark, t, 2)         // v4: re-points at B's dir
    sn.append(kv(Seq((3L, 3.0))), t) // v5: new data
    // incarnation 2 must reconstruct "B's dir was removed at v3" from
    // the live manifests up to its checkpointed offset
    drainOnce(())
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == 2,
      s"expected 2 rows once each, got ${got.size} — a 3rd row means " +
        "the restart forgot the rollback and re-delivered the republish")
    assert(got.toSet == Set((2L, 2.0), (3L, 3.0)))
  }

  test("the retired set stays churn-bounded: once a retired dir is " +
      "GC'd it can never be SILENTLY re-delivered, so the prune drops " +
      "it — while a still-on-disk retired dir survives the sweep") {
    import graft.sources.{SnapshotTailSource, VersionOffset}
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "prune"
    sn.commit(kv(Seq((1L, 1.0))), t) // v1: A
    sn.append(kv(Seq((2L, 2.0))), t) // v2: +B
    val src = new SnapshotTailSource(spark, root, t, Some(1), "skip")
    src.retiredPruneFloor = 1 // every batch sweeps — 256 real rollbacks
                              // would prove the same law slower
    src.getBatch(Some(VersionOffset(1)), VersionOffset(2)) // delivers B
    sn.rollback(spark, t, 1)                               // v3: -B
    src.getBatch(Some(VersionOffset(2)), VersionOffset(3))
    // B's dir is still on disk (rollback deletes nothing), so the
    // sweep must KEEP it: a verbatim republish is still possible and
    // must still be suppressed
    assert(src.retiredCount == 1,
      "a retired entry whose dir is still on disk must survive the prune")
    // append BEFORE the expire: dir names mint max+1 over dirs PRESENT,
    // so appending after the GC would recreate B's path (d2) for fresh
    // data and the path-based sweep would keep the stale entry — the
    // documented (harmless: memory-only) imprecision, but not what
    // this test pins
    sn.append(kv(Seq((3L, 3.0))), t)               // v4: C, dir d3
    // keep=2 keeps v3/v4 (the consumer's checkpointed v3 must stay
    // live — the retention contract) while expiring v1/v2; d2 is then
    // referenced by no live version and is GC'd
    sn.expire(t, keep = 2, gcOlderThanMillis = 0L)
    sn.append(kv(Seq((4L, 4.0))), t)               // v5: D, dir d4
    // the first sweep kept B and doubled the floor (the amortization:
    // a stable set must not be re-stat'd every batch) — re-arm it so
    // the post-GC batch sweeps again
    src.retiredPruneFloor = 1
    src.getBatch(Some(VersionOffset(3)), VersionOffset(5))
    assert(src.retiredCount == 0,
      "a retired entry whose dir was GC'd can never be silently " +
        "re-delivered and must be pruned")
  }

  test("default-mode restart does NOT over-retire pre-anchor removals: " +
      "a dir removed BEFORE the stream began and republished after a " +
      "restart is fresh data to this consumer — the anchor persisted " +
      "in the source's checkpoint dir bounds the reconstruction walk") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "anchorrepub"
    sn.commit(kv(Seq((1L, 1.0))), t) // v1: A
    sn.append(kv(Seq((2L, 2.0))), t) // v2: +D — the pre-anchor dir
    sn.rollback(spark, t, 1)         // v3: D removed, before any consumer
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    def drainOnce(mid: => Unit): Unit = {
      // DEFAULT mode: no startVersion — the anchor is batch 0's end,
      // recoverable after a restart only from the persisted marker
      val q = readTail(root, t, "onNonAppend" -> "skip")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try { q.processAllAvailable(); mid; q.processAllAvailable() }
      finally q.stop()
    }
    // incarnation 1: batch 0 = snapshot(v3) = {A} (D is the consumer's
    // never-seen past), then a mid-query append E — then the kill
    drainOnce { sn.append(kv(Seq((3L, 3.0))), t) } // v4
    // while DOWN: D's exact manifest entry is re-published as a PURE
    // APPEND (the manual-republish shape), plus a fresh append F
    val dEntry = (sn.readEntries(t, 2).toSet -- sn.readEntries(t, 1)).head
    sn.commitEntries(t,
      sn.readEntries(t, sn.currentVersion(t).get) :+ dEntry) // v5: +D
    sn.append(kv(Seq((4L, 4.0))), t)                         // v6: F
    // incarnation 2 reconstructs retired over [anchor=3, checkpoint] —
    // an earliest-live walk would see v2→v3 remove D and wrongly
    // suppress it; the anchor-bounded walk delivers it as the fresh
    // (to this consumer) append it is
    drainOnce(())
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == 4,
      s"expected A,E,D,F once each, got $got — 3 rows means the restart " +
        "over-retired the pre-anchor dir; 5 means a duplicate")
    assert(got.toSet ==
      Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
  }

  test("rollback-republish SOAK: a free-running skip tail drains 150 " +
      "commits mixing appends, backward rollbacks, and forward " +
      "republishes — every appended row delivered EXACTLY once, " +
      "however the trigger slices the version ranges") {
    val root = scratch()
    // segThreshold=2: the walk reads segmented manifests under the
    // reader, like the maintenance soak
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "rbsoak"
    val seed = (0 until 10).map(k => (k.toLong, 0.0))
    sn.commit(kv(seed), t)
    // THE LAW: an append's rows are delivered exactly once — when the
    // tail first observes them (or suppressed-on-republish if a
    // rollback round-trips their dir) — and later removals never
    // retract (append-tail semantics: deletes are change data). So
    // `expected` is every row ever APPENDED, independent of how many
    // rollbacks later removed or republished its dir.
    val expected = scala.collection.mutable.Set.empty[(Long, Double)]
    expected ++= seed
    val out = s"${scratch()}/out"
    val q = readTail(root, t, "onNonAppend" -> "skip")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"${scratch()}/ck")
      .outputMode("append").start()
    var nextKey = 100L
    // the data entries the last backward roll dropped — the republish
    // arm re-commits them VERBATIM as a pure append (the headline
    // hazard shape: to a range-local reader, indistinguishable from
    // fresh data)
    var dropped: Seq[graft.plans.ManifestEntry] = Nil
    try {
      // pin the anchor BEFORE the churn: without this first drain a
      // rollback could remove an append before the initial snapshot
      // observes it and the expected-set model would overcount
      q.processAllAvailable()
      (1 to 150).foreach { i =>
        if (i % 25 == 0 && dropped.nonEmpty) {
          // PURE-APPEND republish of the rolled-back dirs: current
          // manifest plus the dropped entries, nothing removed — the
          // retired-entry set is the ONLY thing standing between this
          // commit and duplicate delivery
          val cur = sn.readEntries(t, sn.currentVersion(t).get)
          val add = dropped.filterNot(cur.toSet)
          if (add.nonEmpty) sn.commitEntries(t, cur ++ add)
        } else if (i % 10 == 0 && sn.versions(t).size > 3) {
          // BACKWARD roll: drop the last two commits' dirs
          val vs = sn.versions(t)
          val pre = sn.readEntries(t, vs.last).toSet
          sn.rollback(spark, t, vs(vs.size - 3))
          val post = sn.readEntries(t, sn.currentVersion(t).get).toSet
          dropped = (pre -- post).toSeq.filter(_.kind == "data")
        } else {
          val rows = Seq((nextKey, i.toDouble)); nextKey += 1
          sn.append(kv(rows), t)
          expected ++= rows
        }
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == expected.size,
      s"delivered ${got.size} rows vs ${expected.size} expected — more " +
        "means a republished dir was re-delivered, fewer means a fresh " +
        "append was wrongly suppressed")
    assert(got.toSet == expected.toSet)
  }

  // Built by the 400-commit soak test below and REUSED by the deep
  // AvailableNow catch-up test: (root, pure-append rows, final version).
  // ScalaTest runs a suite's tests in registration order, so the
  // depth test sees the built table; if the soak test fails, the depth
  // test reports the missing fixture instead of a misleading pass.
  private var soakFixture: Option[(String, Set[(Long, Double)], Int)] = None

  test("soak consumption law under commit PRESSURE: a skip-mode tail " +
      "with a free-running trigger drains the 400-commit append/MoR-" +
      "delete/upsert/fold interleaving (the MaintenanceSpec soak mix) " +
      "WHILE the commits land — exactly the seed snapshot plus every " +
      "pure append, once each") {
    val root = scratch()
    // segThreshold=2 keeps the manifest in its segmented shape under the
    // reader, so batches plan across the geometric-merge boundary too
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "soaktail"
    val model = scala.collection.mutable.SortedMap.empty[Long, Double]
    var nextKey = 0L
    def one(tag: Double): Seq[(Long, Double)] = {
      val rows = Seq((nextKey, tag)); model(nextKey) = tag; nextKey += 1
      rows
    }
    val expected = scala.collection.mutable.Set.empty[(Long, Double)]
    val seed = (0 until 20).flatMap(_ => one(0.0))
    sn.commit(kv(seed), t)
    expected ++= seed
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    val q = readTail(root, t, "onNonAppend" -> "skip")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // anchor = the seed snapshot
      // the commit mix is MaintenanceSpec's metadata-soak schedule
      // verbatim; the DEFAULT trigger polls continuously, so the
      // consumer plans micro-batches AGAINST the live commit stream
      // (no drain calls inside the loop — overlap is the point)
      (1 to 400).foreach { i =>
        if (i % 80 == 0) {
          sn.rewriteDeletes(spark, t) // fold: rewrites data dirs
        } else if (i % 25 == 0 && model.nonEmpty) {
          // upsert: updates a seen key AND inserts a brand-new one; skip
          // mode must deliver NEITHER (the new key would be half a change)
          val k = model.lastKey
          sn.mergeUpsert(spark, t, kv(Seq((k, -1.0), (nextKey, 1.0))), "k")
          model(k) = -1.0; model(nextKey) = 1.0; nextKey += 1
        } else if (i % 10 == 0 && model.size > 3) {
          // MoR delete: append-tail semantics — no retraction downstream
          val k = model.firstKey
          sn.deleteWhereMoR(spark, t, col("k") === k, Seq("k"))
          model -= k
        } else {
          val b = one(i.toDouble)
          sn.append(kv(b), t)
          expected ++= b
        }
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == expected.size,
      s"delivered ${got.size} rows, expected ${expected.size} " +
        "(a mismatch means duplicate delivery or a skipped append)")
    assert(got.toSet == expected.toSet,
      "delivered set diverged: a rewrite/upsert/fold leaked into the tail")
    // the overlap itself, receipted: the offset log must show MANY
    // micro-batches whose ends climb THROUGH the commit window — a
    // consumer that woke up once at the end would log one giant range
    val ends = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      .map(f => Files.readAllLines(f.toPath).asScala.last.trim.toInt)
      .toSeq
    val finalV = sn.currentVersion(t).get
    // threshold derives from the OBSERVED batch count, not a fixed 10:
    // on a loaded box micro-batch planning can stall while the 400
    // commits land, logging fewer mid-window ends — the delivered-set
    // assertions above already carry the correctness law, so this
    // receipt only needs "a material fraction of batches ran inside
    // the window", with an absolute floor of 3 so a one-giant-batch
    // consumer still fails
    val midWindow = ends.count(e => e > 1 && e < finalV)
    assert(midWindow >= math.max(3, ends.size / 4),
      s"free-running consumption did not overlap the commits: " +
        s"$midWindow of ${ends.size} batch ends fell inside the commit " +
        s"window (offset log $ends against final version $finalV)")
    soakFixture = Some((root, expected.toSet, finalV))
  }

  test("deep rate-limited AvailableNow catch-up: a ~400-version backlog " +
      "drains to termination in bounded batches — ends monotonic, each " +
      "step <= limit, batch count ~ versions/limit, final offset = the " +
      "pinned cap") {
    // Full-suite runs reuse the 400-commit soak table (the suite runs
    // in registration order); a TARGETED run of just this test builds
    // its own lighter backlog — same law, self-contained either way.
    // ANNOUNCE which fixture path ran: the coupling to the soak test is
    // by registration order, so a reorder or parallel execution would
    // silently degrade this test to the 150-version fallback — the
    // info line makes that degradation visible in test output.
    val (root, expected, finalV) = soakFixture match {
      case Some(fix) =>
        info("using the 400-commit soak fixture (deep mixed backlog)")
        fix
      case None =>
        info("soak fixture unavailable (targeted run?) — building the " +
          "150-version pure-append fallback backlog")
        val r = scratch()
        val sn = new Snapshots(r, segThreshold = 2)
        sn.commit(kv(Seq((0L, 0.0))), "soaktail")
        val rows = (1 to 150).map(i => (i.toLong, i.toDouble))
        rows.foreach(row => sn.append(kv(Seq(row)), "soaktail"))
        (r, Set((0L, 0.0)) ++ rows.toSet,
          sn.currentVersion("soaktail").get)
    }
    val limit = 10
    val out = s"${scratch()}/out"
    val ck = s"${scratch()}/ck"
    val q = readTail(root, "soaktail", "startVersion" -> "1",
        "onNonAppend" -> "skip", "maxVersionsPerBatch" -> limit.toString)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    assert(q.awaitTermination(600000), "AvailableNow run did not terminate")
    // tail-only from the seed version: everything EXCEPT the seed rows
    val seedless = expected.filterNot { case (_, tag) => tag == 0.0 }
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSeq
    assert(got.size == seedless.size && got.toSet == seedless,
      s"depth drain delivered ${got.size} rows vs ${seedless.size} expected")
    val ends = Option(new java.io.File(s"$ck/offsets").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
      .map(f => Files.readAllLines(f.toPath).asScala.last.trim.toInt)
      .toSeq
    assert(ends.last == finalV,
      s"final offset ${ends.last} != the pinned cap $finalV")
    assert(ends == ends.sorted && ends.distinct == ends,
      s"checkpoint did not advance monotonically: $ends")
    (1 +: ends).sliding(2).foreach { case Seq(a, b) =>
      assert(b - a <= limit, s"a batch advanced ${b - a} > $limit: $ends")
    }
    val exact = math.ceil((finalV - 1).toDouble / limit).toInt
    assert(ends.size >= exact && ends.size <= exact + 1,
      s"expected ~$exact bounded batches (versions/limit), got ${ends.size}")
  }

  test("restart reconstruction starts at the PERSISTED high-water mark, " +
      "not the anchor: the graft-retired file makes recovery " +
      "O(since-last-persist) while keeping the suppression exact") {
    import graft.sources.{SnapshotTailSource, VersionOffset}
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "highwater"
    val mp = scratch() // the engine-provided per-source checkpoint dir
    sn.commit(kv(Seq((1L, 1.0))), t)  // v1: A (the anchor)
    sn.append(kv(Seq((2L, 2.0))), t)  // v2: +B
    val src1 = new SnapshotTailSource(spark, root, t, Some(1), "skip",
      metadataPath = mp)
    src1.getBatch(Some(VersionOffset(1)), VersionOffset(2)) // delivers B
    val bEntry = (sn.readEntries(t, 2).toSet -- sn.readEntries(t, 1)).head
    sn.rollback(spark, t, 1)                                // v3: -B
    src1.getBatch(Some(VersionOffset(2)), VersionOffset(3)) // retires B
    assert(src1.retiredCount == 1)
    // the high-water persisted: mark = the last batch end, B's entry
    val hw = new java.io.File(mp, "graft-retired")
    assert(hw.exists(), "the retired-set high-water file was not persisted")
    val lines = Files.readAllLines(hw.toPath).asScala
    assert(lines.head.trim == "3", s"persisted mark: ${lines.head}")
    assert(lines.tail.map(graft.plans.Snapshots.parseEntryLine).toSet ==
      Set(bEntry), "persisted set must be exactly B's retired entry")
    // while DOWN: republish B (roll forward) and land fresh data
    sn.rollback(spark, t, 2)          // v4: re-points at B's dir
    sn.append(kv(Seq((3L, 3.0))), t)  // v5: C
    // incarnation 2: the walk must SEED from the persisted (3, {B}),
    // not re-walk from the anchor at v1
    val src2 = new SnapshotTailSource(spark, root, t, Some(1), "skip",
      metadataPath = mp)
    src2.getBatch(Some(VersionOffset(3)), VersionOffset(5))
    assert(src2.lastReconstructFrom.contains(3),
      s"reconstruction walked from ${src2.lastReconstructFrom}, not the " +
        "persisted mark 3 — the high-water was ignored")
    assert(src2.retiredCount >= 1, "the seeded set lost B's entry")
    // delivery through the seeded set, on the walk the source plans
    // with: C's entry emitted, B's republished entry suppressed
    val (added, _) = sn.appendAdditionsTracked(t, 3, 5, Set(bEntry))
    assert(added.size == 1 && added.head != bEntry,
      s"expected only C's entry (B suppressed via the seeded set), " +
        s"got $added")
  }

  test("a corrupt anchor file fails LOUDLY with remediation — never a " +
      "bare NumberFormatException, never silent earliest-live semantics") {
    import graft.sources.{SnapshotTailSource, VersionOffset}
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "corruptanchor"
    sn.commit(kv(Seq((1L, 1.0))), t)
    sn.append(kv(Seq((2L, 2.0))), t)
    val mp = scratch()
    Files.writeString(new java.io.File(mp, "graft-anchor").toPath, "")
    val src = new SnapshotTailSource(spark, root, t, None, "skip",
      metadataPath = mp)
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(VersionOffset(1)), VersionOffset(2))
    }
    assert(e.getMessage.contains("corrupt graft-anchor"),
      s"wrong failure face: ${e.getMessage}")
    assert(e.getMessage.contains("fresh checkpoint"),
      "the error must carry its remediation")
  }

  test("default-mode restart of a PRE-ANCHOR checkpoint (no graft-anchor " +
      "file) fails loudly instead of silently over-retiring with " +
      "earliest-live semantics — the upgrade-path corner") {
    import graft.sources.{SnapshotTailSource, VersionOffset}
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "preanchor"
    sn.commit(kv(Seq((1L, 1.0))), t)  // v1
    sn.append(kv(Seq((2L, 2.0))), t)  // v2
    sn.rollback(spark, t, 1)          // v3: the removal an earliest-live
                                      // walk would wrongly retire
    val mp = scratch() // checkpoint dir from before anchors existed:
                       // empty — no graft-anchor, no graft-retired
    val src = new SnapshotTailSource(spark, root, t, None, "skip",
      metadataPath = mp)
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(VersionOffset(2)), VersionOffset(3))
    }
    assert(e.getMessage.contains("predates anchor persistence"),
      s"wrong failure face: ${e.getMessage}")
    // direct construction (no metadataPath — the spec harness) keeps
    // the documented earliest-live fallback: same call, no throw
    val bare = new SnapshotTailSource(spark, root, t, None, "skip")
    bare.getBatch(Some(VersionOffset(2)), VersionOffset(3)) // no throw
  }

  test("a fresh append can NEVER be byte-identical to a retired entry: " +
      "the commit-version stamp keeps rollback(seq reuse) + GC(dir-name " +
      "reuse) + identical content deliverable, not silently suppressed") {
    import graft.sources.{SnapshotTailSource, VersionOffset}
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "mintfresh"
    val contentX = kv(Seq((7L, 7.0)))
    sn.commit(kv(Seq((1L, 1.0))), t)  // v1: A in d1 (seq 0)
    sn.append(contentX, t)            // v2: +X in d2, seq 1
    val xEntry = (sn.readEntries(t, 2).toSet -- sn.readEntries(t, 1)).head
    val src = new SnapshotTailSource(spark, root, t, Some(1), "skip")
    src.getBatch(Some(VersionOffset(1)), VersionOffset(2)) // delivers X
    sn.rollback(spark, t, 1)                               // v3: -X, retired
    src.getBatch(Some(VersionOffset(2)), VersionOffset(3))
    assert(src.retiredCount == 1)
    // GC frees d2's NAME (keep v3 only — the consumer is at v3)
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    assert(!new java.io.File(s"$root/$t/data/d2").exists(), "d2 not GC'd")
    // the adversarial append: IDENTICAL content, which re-mints d2
    // (max+1 over dirs present) AND re-mints seq 1 (nextSeq over the
    // rolled-back manifest) AND reproduces the content-derived stats
    sn.append(contentX, t)                                 // v4
    val fresh = (sn.readEntries(t, 4).toSet -- sn.readEntries(t, 3)).head
    assert(fresh.rel == xEntry.rel && fresh.seq == xEntry.seq,
      s"fixture drift: the interleaving must reproduce rel+seq " +
        s"($fresh vs $xEntry) for the stamp to be what distinguishes them")
    assert(fresh != xEntry,
      "the fresh entry is byte-identical to the retired one — the " +
        "mintv stamp is gone and skip-mode would silently swallow it")
    // delivery on the exact walk the source plans with, seeded with the
    // retired entry the tail holds: the fresh (stamped) entry must come
    // through — pre-stamp, `fresh == xEntry` and this walk returns Nil
    val (added, _) = sn.appendAdditionsTracked(t, 3, 4, Set(xEntry))
    assert(added == Seq(fresh),
      s"the genuinely new append was suppressed: $added")
    src.getBatch(Some(VersionOffset(3)), VersionOffset(4)) // and the
    // source's own batch bookkeeping accepts the same range cleanly
  }
}
