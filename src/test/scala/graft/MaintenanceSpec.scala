package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.plans.{Maintenance, ManifestEntry, Snapshots}

/** M1-M4, M6, M9 + D5 snapshot semantics — the filesystem-effect
  * operators the SQL oracle can't see. */
class MaintenanceSpec extends SparkSpec {

  private def scratch(): String =
    Files.createTempDirectory("graft_maint").toString

  test("m11: violation counts equal independent recomputations and the " +
      "passed booleans are consistent") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("m11_dq_expectations")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size === 5)
    // each rule's passed bool must equal violations == 0
    out.values.foreach { case (_, viol, passed) =>
      assert(passed === (viol == 0))
    }
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val ev = graft.core.Tables.loadEvents(spark, sfDir)
    assert(out("r4_status_accepted")._2 ===
      orders.filter(col("o_orderstatus") === "P").count())
    assert(out("r5_value_range")._2 ===
      ev.filter(col("value") > 400.0).count())
    assert(out("r2_notnull_user")._1 === ev.count())
    // referential integrity holds in this corpus — the rule must say so
    assert(out("r3_ref_order_exists")._2 === 0L)
    assert(out("r3_ref_order_exists")._3)
  }

  test("M1: compaction reduces a fragmented table to the target file count") {
    val dir = scratch()
    // fragment: 40 tiny files
    T.load(spark, sfDir, "lineitem").repartition(40)
      .write.mode("overwrite").parquet(s"$dir/frag")
    val before = Maintenance.fileStats(s"$dir/frag")
    assert(before.nFiles == 40)
    val rep = Maintenance.compact(spark, s"$dir/frag", s"$dir/compacted", 128)
    // ~0.5 MB of data vs 128 MB target → exactly one output file
    assert(rep.after.nFiles == 1)
    assert(spark.read.parquet(s"$dir/compacted").count() ==
      spark.read.parquet(s"$dir/frag").count())
  }

  test("M3: sort rewrite clusters rows within files by the sort key") {
    val dir = scratch()
    T.load(spark, sfDir, "lineitem")
      .write.mode("overwrite").parquet(s"$dir/raw")
    Maintenance.sortRewrite(spark, s"$dir/raw", s"$dir/sorted",
      Seq("l_suppkey", "l_shipdate"), nPartitions = 2)
    val sorted = spark.read.parquet(s"$dir/sorted")
    assert(sorted.count() == T.load(spark, sfDir, "lineitem").count())
    // within every file, l_suppkey must be non-decreasing
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name())
      .orderBy(monotonically_increasing_id())
    val violations = sorted
      .withColumn("prev", lag(col("l_suppkey"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("l_suppkey"))
      .count()
    assert(violations == 0)
  }

  test("M2/D5: snapshot commit, time travel, and expiry") {
    val sn = new Snapshots(scratch())
    val o = T.load(spark, sfDir, "orders")
    val v1 = sn.commit(o.limit(100), "orders_t")
    val v2 = sn.commit(o.limit(300), "orders_t")
    val v3 = sn.commit(o.limit(600), "orders_t")
    assert((v1, v2, v3) == (1, 2, 3))
    assert(sn.asOf(spark, "orders_t", 1).count() == 100)
    assert(sn.current(spark, "orders_t").count() == 600)
    val removed = sn.expire("orders_t", keep = 2, gcOlderThanMillis = 0L)
    assert(removed == Seq(1))
    assert(sn.versions("orders_t") == Seq(2, 3))
    assert(sn.asOf(spark, "orders_t", 2).count() == 300)
  }

  test("D16: changesBetween enumerates exactly the keyed diffs, tagged by version") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    val t = "ct"
    sn.commit(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null, 30.0))
      .toDF("k", "s", "v"), t)
    // v2: key 2 updated, key 4 inserted, key 3 unchanged (null payload
    // field — the null-safe struct compare must NOT flag it)
    sn.commit(Seq((1L, "a", 10.0), (2L, "B", 20.0), (3L, null, 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v"), t)
    // v3: key 1 deleted, key 3's null flips to a value (an UPDATE)
    sn.commit(Seq((2L, "B", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "s", "v"), t)
    val frame = sn.changesBetween(spark, t, 1, 3, "k")
    // plan shape: each consecutive diff is a keyed shuffle join (full
    // outer cannot broadcast) — never a nested-loop/cartesian product,
    // which the side-effecting d16 entry can't get from PlanAuditSpec
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"changesBetween must diff via keyed joins:\n$plan")
    val changes = frame.as[(Long, String, Int)].collect().toSet
    assert(changes == Set(
      (2L, "UPDATE", 2), (4L, "INSERT", 2),
      (1L, "DELETE", 3), (3L, "UPDATE", 3)))
  }

  test("the change feed expresses a rollback-republish round trip as " +
      "the logical DELETE/INSERT pair it is — the reconciliation the " +
      "append tail's skip mode points consumers at") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    val t = "rbfeed"
    sn.commit(Seq((1L, 1.0), (2L, 1.0)).toDF("k", "v").coalesce(1), t) // v1
    sn.append(Seq((3L, 2.0)).toDF("k", "v").coalesce(1), t)            // v2
    sn.rollback(spark, t, 1)  // v3: k=3's dir removed
    sn.rollback(spark, t, 2)  // v4: the republish — same dir, verbatim
    val got = sn.changesBetween(spark, t, 1, 4, "k")
      .as[(Long, String, Int)].collect().toSet
    // where the append TAIL must deliver k=3 exactly once (the retired
    // set suppresses the v4 re-entry), the CHANGE feed must narrate the
    // whole round trip: in at v2, out at v3, back in at v4 — a state-
    // applying consumer replays it to the correct final state
    assert(got == Set(
      (3L, "INSERT", 2), (3L, "DELETE", 3), (3L, "INSERT", 4)),
      s"rollback-republish must read as INSERT/DELETE/INSERT, got $got")
  }

  test("D19: SCD2 lifecycle invariants — one current row per key, " +
    "closed rows chain into their replacements") {
    val out = SparkEntry.queries("d19_scd2")(spark, sfDir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString),
        r.getBoolean(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val nCustomers = T.load(spark, sfDir, "customer").count()
    val keyTotal = T.load(spark, sfDir, "customer")
      .agg(sum(col("c_custkey"))).head().getLong(0)
    // the feed covers every key, so current rows partition the key set:
    // exactly one current row per customer, key-sum conserved
    val currents = out.filter(_._3)
    assert(currents.map(_._4).sum == nCustomers)
    assert(currents.map(_._5).sum == keyTotal)
    // closed rows carry pre-change segments (never MACHINERY) and their
    // replacements all landed in the batch-2 open group as MACHINERY
    val closed = out.filter(!_._3)
    assert(closed.length == 1 && closed.head._2.contains("2"))
    assert(closed.head._6 == 0)
    val opened = out.filter(r => r._3 && r._1 == 2L).head
    assert(opened._6 >= closed.head._4,
      "every changed-row replacement must be MACHINERY in the open group")
  }

  test("manifest commit point is the rename: aborted writes are " +
      "invisible to readers and swept as orphans") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.limit(50), "t")
    // simulate a crash AFTER the data write but BEFORE the manifest
    // rename: a staged-but-uncommitted data dir and a manifest .tmp
    val staged = sn.stageData(o.limit(20), "t")
    Files.writeString(new java.io.File(
      s"$root/t/manifests/v=2.manifest.tmp").toPath, staged)
    // readers see only the committed version; the wreckage is inert
    assert(sn.versions("t") == Seq(1))
    assert(sn.current(spark, "t").count() == 50)
    // cleanup removes both pieces of wreckage, and nothing live
    // (0L: the test IS the quiesced single-writer case; the default
    // age cutoff exists to protect concurrent in-flight commits)
    val removed = sn.cleanOrphans("t", 0L)
    assert(removed.exists(_.endsWith("v=2.manifest.tmp")))
    assert(removed.exists(_.contains(staged.split('/').last)))
    assert(sn.current(spark, "t").count() == 50)
    // the store recovers: the next commit proceeds normally
    val v2 = sn.commit(o.limit(10), "t")
    assert(v2 == 2 && sn.current(spark, "t").count() == 10)
  }

  test("GC age cutoff is safe by default: a just-staged dir (an " +
      "in-flight commit's data) survives default-age sweeps and the " +
      "commit still lands") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.limit(50), "gcd")
    // an in-flight appender has staged its delta but not yet claimed
    // the manifest — exactly the window a concurrent maintenance run
    // must not gut (staging precedes the CAS claim by design)
    val staged = sn.stageEntry(o.limit(20), "gcd", "data", 0)
    assert(sn.cleanOrphans("gcd").isEmpty, // DefaultGcAgeMillis cutoff
      "default-age orphan sweep must spare a freshly staged dir")
    assert(sn.expire("gcd", keep = 1).isEmpty)
    // the in-flight commit completes against the surviving dir
    val v2 = sn.occRetry("gcd") { cur =>
      val prev = cur.map(sn.readEntries("gcd", _)).getOrElse(Seq.empty)
      sn.commitEntriesIfCurrent("gcd", cur, prev :+ staged.copy(seq = 1))
    }
    assert(v2 == 2 && sn.current(spark, "gcd").count() == 70)
  }

  test("snapshot isolation: a reader pinned to v=N is unaffected by " +
      "later commits and expiry of OTHER versions") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.limit(100), "t")
    sn.commit(o.limit(300), "t")
    val pinned = sn.asOf(spark, "t", 2) // reader opens v2
    sn.commit(o.limit(600), "t")        // writer moves on
    sn.expire("t", keep = 2, gcOlderThanMillis = 0L) // v1 manifest+data drop
    assert(pinned.count() == 300, "pinned reader must still see v2")
    assert(sn.current(spark, "t").count() == 600)
  }

  test("DirStats: footer-stat sidecars are exact on rows and the " +
      "inclusive evaluator prunes only provably-unmatchable dirs") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.plans.DirStats
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.filter(col("o_orderkey") <= 1000), "t")
    sn.append(o.filter(col("o_orderkey") > 1000), "t")
    val rels = sn.readManifest("t", 2)
    val stats = rels.map(r =>
      r -> DirStats.read(new java.io.File(s"$root/$r")).get)
    assert(stats.map(_._2.rows).sum == o.count(),
      "sidecar row counts must sum to the table")
    // pruning law: whenever the evaluator says a dir CANNOT match, a
    // real scan finds zero matching rows — over comparison, equality,
    // IN-adjacent, string, null, and conjunction shapes
    val preds = Seq(
      col("o_orderkey") <= 500, col("o_orderkey") > 1000,
      col("o_orderkey") === 1L, col("o_totalprice") < 0,
      col("o_orderstatus") === "F", col("o_orderstatus") === "ZZZ",
      col("o_orderkey").isNull, col("o_orderkey").isNotNull,
      col("o_orderkey") <= 500 && col("o_totalprice") > 0)
    val pruned = for {
      (rel, st) <- stats; p <- preds
      if !DirStats.mayMatch(ColumnBridge.catalystExpression(p), st)
    } yield {
      val actual = spark.read.parquet(s"$root/$rel").filter(p).count()
      assert(actual == 0, s"pruned dir $rel has $actual rows matching $p")
      (rel, p.toString)
    }
    assert(pruned.nonEmpty,
      "disjoint key ranges must let the evaluator prune something")
    // end-to-end: a CoW delete local to the high-key dir keeps the
    // low-key dir as a manifest entry via the METADATA path alone
    sn.deleteWhere(spark, "t",
      col("o_orderkey") > 1000 && col("o_orderkey") % 2 === 0)
    assert(sn.readManifest("t", 3).contains(rels.head))
    assert(sn.current(spark, "t").count() ==
      o.filter(!(col("o_orderkey") > 1000 && col("o_orderkey") % 2 === 0))
        .count())
  }

  test("DirStats typed comparisons: timestamps prune in their own unit, " +
      "cross-unit and decimal-vs-double predicates never mis-prune, and " +
      "unversioned sidecars are rejected") {
    import org.apache.spark.sql.graft.ColumnBridge
    import graft.plans.DirStats
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    // UTC wall-clock (not Timestamp.valueOf, which parses in the JVM
    // default zone and would skew the split on a non-UTC host)
    def utcTs(s: String) = java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC))
    val split = utcTs("1998-01-01T00:00:00")
    sn.append(o.filter(col("o_orderdate") < lit(split)), "ty")
    sn.append(o.filter(col("o_orderdate") >= lit(split)), "ty")
    val Seq(early, late) = sn.readManifest("ty", 2)
    val earlySt = DirStats.read(new java.io.File(s"$root/$early")).get
    def may(p: org.apache.spark.sql.Column,
        st: graft.plans.DirStats.Stats): Boolean =
      DirStats.mayMatch(ColumnBridge.catalystExpression(p), st)
    // same-unit timestamp predicate prunes the early dir
    val probe = utcTs("2000-01-01T00:00:00")
    assert(!may(col("o_orderdate") >= lit(probe), earlySt))
    // a DATE literal against timestamp stats is cross-unit: day counts
    // vs epoch micros must read UNKNOWN (true), never a wrong prune
    assert(may(col("o_orderdate") >= lit(java.sql.Date.valueOf("2000-01-01")),
      earlySt))
    // a raw long literal against timestamp stats: incomparable ⇒ true
    assert(may(col("o_orderdate") >= lit(0L), earlySt))
    // decimal column stats are SCALED before comparing with a double
    // literal: DECIMAL(12,2) value 30.00 stores unscaled 3000, which
    // raw would dwarf 40.5 and wrongly prune a `< 40.5` predicate
    val decDir = new java.io.File(s"$root/decimals")
    o.limit(50).select(col("o_orderkey"),
        (col("o_totalprice") * 0 + 30.0).cast("decimal(12,2)").as("price"))
      .write.mode("overwrite").parquet(decDir.getPath)
    DirStats.writeFor(decDir)
    val decSt = DirStats.read(decDir).get
    assert(may(col("price") < 40.5, decSt),
      "30.00 < 40.5 — the dir matches and must not prune")
    assert(!may(col("price") > 40.5, decSt),
      "every value is 30.00 — a > 40.5 predicate must prune")
    // an unversioned (stale-format) sidecar must be rejected so stale
    // units degrade to the conservative no-prune path
    val sidecar = new java.io.File(s"$root/$early", DirStats.FileName)
    val body = java.nio.file.Files.readString(sidecar.toPath)
    java.nio.file.Files.writeString(sidecar.toPath,
      body.replaceFirst("\\{\"v\":\\d+,", "{"))
    assert(DirStats.read(new java.io.File(s"$root/$early")).isEmpty)
  }

  test("M4: orphan cleanup removes files outside live snapshots only") {
    val root = scratch()
    val sn = new Snapshots(root)
    sn.commit(T.load(spark, sfDir, "orders").limit(10), "t")
    // plant an orphan next to the live snapshot
    val orphan = new java.io.File(s"$root/t/_aborted_write.tmp")
    Files.writeString(orphan.toPath, "junk")
    val removed = sn.cleanOrphans("t", 0L) // quiesced: sweep immediately
    assert(removed.exists(_.endsWith("_aborted_write.tmp")))
    assert(!orphan.exists())
    assert(sn.current(spark, "t").count() == 10)
  }

  test("M6: ANALYZE TABLE computes catalog statistics") {
    spark.sql("DROP TABLE IF EXISTS nation_m6")
    // a stale warehouse dir from an aborted run blocks CTAS
    val loc = new java.io.File("spark-warehouse/nation_m6")
    if (loc.exists()) { loc.listFiles().foreach(_.delete()); loc.delete() }
    T.load(spark, sfDir, "nation").write.mode("overwrite")
      .saveAsTable("nation_m6")
    Maintenance.analyzeTable(spark, "nation_m6")
    val stats = spark.sql("DESCRIBE EXTENDED nation_m6")
      .filter(col("col_name") === "Statistics")
      .collect()
    assert(stats.nonEmpty, "ANALYZE must publish table statistics")
    assert(stats.head.getString(1).contains("rows"))
  }

  test("M9: full maintenance orchestration reports every step") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.limit(200).repartition(10), "m9t")
    sn.commit(o.limit(400).repartition(10), "m9t")
    sn.commit(o.repartition(10), "m9t")
    val report = Maintenance.fullMaintenance(spark, sn, "m9t",
      scratch(), Seq("o_orderstatus"), retainSnapshots = 2)
    val steps = report.map(_._1).toSet
    assert(steps == Set("table_stats", "rewrite_deletes", "compaction",
      "sort_rewrite", "expire_snapshots", "orphan_cleanup", "before_files"))
    assert(report.find(_._1 == "rewrite_deletes").get._3 == 0,
      "pure-data table: nothing to fold, and no version churn from it")
    assert(report.find(_._1 == "compaction").get._3 == 1) // 10 files → 1
    // compaction itself committed v4, so retain-2 keeps (v3, v4) —
    // time travel to the pre-compaction snapshot still works
    assert(sn.versions("m9t") == Seq(3, 4))
    assert(sn.current(spark, "m9t").count() == o.count())
  }

  private def dirContents(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap

  test("WAP: branch/append/publish move zero data bytes — manifests " +
      "share immutable files across branches") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    val h1 = o.filter(month(col("o_orderdate")) <= 6)
    val q3 = o.filter(month(col("o_orderdate")).between(7, 9))
    sn.commit(h1, "main")
    val mainRel = sn.readManifest("main", 1).head
    val mainDir = s"$root/$mainRel"
    val mainFiles = dirContents(mainDir)

    sn.branch("main", "staging") // metadata-only: same data dirs
    assert(sn.readManifest("staging", 1) == sn.readManifest("main", 1))
    assert(!new java.io.File(s"$root/staging/data").exists(),
      "branch must not materialize any data under the new branch")

    sn.append(q3, "staging")
    // O(delta): the new manifest is prev + exactly one new dir, and
    // the shared main dir is untouched byte-for-byte
    val m2 = sn.readManifest("staging", 2)
    assert(m2.take(m2.size - 1) == sn.readManifest("staging", 1))
    assert(dirContents(mainDir) == mainFiles)
    assert(sn.current(spark, "staging").count() == h1.count() + q3.count())

    // CoW delete with a predicate local to the delta: the shared H1
    // dir must keep its exact manifest entry (zero I/O), the delta dir
    // must be replaced
    val delRel = m2.last
    sn.deleteWhere(spark, "staging",
      month(col("o_orderdate")).between(7, 9) && col("o_orderkey") % 2 === 0)
    val m3 = sn.readManifest("staging", 3)
    assert(m3.contains(mainRel), "untouched dir must survive CoW delete")
    assert(!m3.contains(delRel), "matching dir must be replaced")
    assert(sn.current(spark, "staging").count() ==
      h1.count() + q3.filter(col("o_orderkey") % 2 =!= 0).count())
    // a predicate matching nothing must not churn a version
    sn.deleteWhere(spark, "staging", col("o_totalprice") < -1)
    assert(sn.currentVersion("staging").contains(3))

    sn.publish(spark, "staging", "main")
    assert(sn.readManifest("main", 2) == m3,
      "publish must be a manifest copy, not a rewrite")
    assert(dirContents(mainDir) == mainFiles)
  }

  test("M1/manifests: compaction rewrites only fragmented dirs and " +
      "keeps untouched files byte-identical at their original paths") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.filter(month(col("o_orderdate")) <= 6).coalesce(1), "ct")
    val tightRel = sn.readManifest("ct", 1).head
    val tightFiles = dirContents(s"$root/$tightRel")
    assert(tightFiles.size == 1)
    // v2 appends a badly fragmented delta
    sn.append(o.filter(month(col("o_orderdate")) >= 7).repartition(30), "ct")
    val rep = Maintenance.compactTable(spark, sn, "ct", 128)
    val m3 = sn.readManifest("ct", 3)
    assert(m3.contains(tightRel),
      "untouched dir must keep its exact manifest entry")
    assert(dirContents(s"$root/$tightRel") == tightFiles,
      "untouched files must be byte-identical across the compaction commit")
    assert(rep.after.nFiles == 2, s"1 tight + 1 compacted, got $rep")
    assert(sn.current(spark, "ct").count() == o.count())
    // idempotence: nothing fragmented left → no version churn
    Maintenance.compactTable(spark, sn, "ct", 128)
    assert(sn.currentVersion("ct").contains(3))
  }

  test("M1/small dirs: >= MinSmallDirsToMerge one-file append dirs merge " +
      "into one right-sized dir; fewer small dirs stay untouched") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    // the micro-batch append disease: each append lands ONE small file
    // in its own dir — no dir is internally fragmented, the TABLE is
    (1 to 6).foreach { m =>
      sn.append(o.filter(month(col("o_orderdate")) === m).coalesce(1), "sm")
    }
    val rep = Maintenance.compactTable(spark, sn, "sm", 128)
    assert(rep.before.nFiles == 6 && rep.after.nFiles == 1,
      s"six small append dirs must merge into one right-sized dir: $rep")
    assert(sn.current(spark, "sm").count() ==
      o.filter(month(col("o_orderdate")) <= 6).count())
    // idempotent: the merged output is itself small, but ONE small dir
    // is below the merge floor — no churn
    Maintenance.compactTable(spark, sn, "sm", 128)
    assert(sn.currentVersion("sm").contains(7))
    // and a table with only TWO small dirs stays untouched
    val sn2 = new Snapshots(scratch())
    sn2.append(o.filter(month(col("o_orderdate")) === 1).coalesce(1), "sm2")
    sn2.append(o.filter(month(col("o_orderdate")) === 2).coalesce(1), "sm2")
    Maintenance.compactTable(spark, sn2, "sm2", 128)
    assert(sn2.currentVersion("sm2").contains(2),
      "two small dirs are below the merge floor - no rewrite, no churn")
  }

  test("CoW UPDATE: only dirs holding a matching row rewrite; untouched " +
      "entries carry over verbatim; no-match updates don't churn a version") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.append(o.filter(month(col("o_orderdate")) <= 3), "cu")
    sn.append(o.filter(month(col("o_orderdate")).between(4, 6)), "cu")
    val m2 = sn.readManifest("cu", 2)
    val (q1Rel, q2Rel) = (m2.head, m2.last)
    val q1Files = dirContents(s"$root/$q1Rel")
    sn.updateWhere(spark, "cu", month(col("o_orderdate")).between(4, 6),
      Map("o_totalprice" -> -col("o_totalprice")))
    val m3 = sn.readManifest("cu", 3)
    assert(m3.contains(q1Rel), "untouched dir must keep its manifest entry")
    assert(!m3.contains(q2Rel), "matching dir must be replaced")
    assert(dirContents(s"$root/$q1Rel") == q1Files,
      "untouched files must be byte-identical across the update commit")
    val cur = sn.current(spark, "cu")
    assert(cur.filter(col("o_totalprice") < 0).count() ==
      o.filter(month(col("o_orderdate")).between(4, 6)).count())
    assert(cur.count() ==
      o.filter(month(col("o_orderdate")) <= 6).count())
    // a predicate matching nothing must not churn a version
    sn.updateWhere(spark, "cu", col("o_totalprice") < -1e12,
      Map("o_orderstatus" -> lit("X")))
    assert(sn.currentVersion("cu").contains(3))
  }

  test("mergeUpsert: insert-only sources carry every existing entry " +
      "verbatim; matched keys rewrite only their dirs; empty source no-ops") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.append(o.filter(month(col("o_orderdate")) <= 3), "mu")
    sn.append(o.filter(month(col("o_orderdate")).between(4, 6)), "mu")
    val m2 = sn.readManifest("mu", 2)
    val (q1Rel, q2Rel) = (m2.head, m2.last)
    // insert-only: Q3 keys exist in no dir → pure append shape
    sn.mergeUpsert(spark, "mu",
      o.filter(month(col("o_orderdate")).between(7, 9)), "o_orderkey")
    val m3 = sn.readManifest("mu", 3)
    assert(m3.contains(q1Rel) && m3.contains(q2Rel),
      "insert-only merge must not rewrite any existing dir")
    assert(sn.current(spark, "mu").count() ==
      o.filter(month(col("o_orderdate")) <= 9).count())
    // matched keys live only in the Q1 dir → only that dir collapses
    val src = o
      .filter(month(col("o_orderdate")) <= 3 && col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
    sn.mergeUpsert(spark, "mu", src, "o_orderkey")
    val m4 = sn.readManifest("mu", 4)
    assert(!m4.contains(q1Rel), "dir holding matched keys must rewrite")
    assert(m4.contains(q2Rel), "dir without a source key must carry over")
    val cur = sn.current(spark, "mu")
    assert(cur.filter(col("o_orderstatus") === "U").count() == src.count())
    assert(cur.count() == o.filter(month(col("o_orderdate")) <= 9).count(),
      "upsert of existing keys must not change the row count")
    // an empty source must not churn a version
    sn.mergeUpsert(spark, "mu", src.filter(lit(false)), "o_orderkey")
    assert(sn.currentVersion("mu").contains(4))
  }

  test("keyed CoW handles null keys deterministically and drops delete " +
      "entries once no surviving data entry can feel them") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root)
    // bootstrap through the merge path itself (validated v1)
    sn.mergeUpsert(spark,
      "nk", Seq((Some(1L), "a"), (None, "x")).toDF("k", "v"), "k")
    sn.append(Seq((Some(2L), "b")).toDF("k", "v"), "nk")
    // a null-key source row must REPLACE the stored null-key row, not
    // duplicate it — the probe and the anti-join are null-safe
    sn.mergeUpsert(spark,
      "nk", Seq((Option.empty[Long], "x2")).toDF("k", "v"), "k")
    val rows = sn.current(spark, "nk").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1))).toSet
    assert(rows == Set((Some(1L), "a"), (Some(2L), "b"), (None, "x2")),
      s"null-key upsert must be deterministic, got $rows")
    // inert-delete self-compaction: delete %1-keyed rows via MoR, then
    // merge a source touching EVERY dir — all surviving data outranks
    // the delete, so the delete entry must drop from the manifest
    sn.deleteWhereMoR(spark, "nk", col("k") === 1L, Seq("k"))
    assert(sn.readEntries("nk", sn.currentVersion("nk").get)
      .exists(_.kind == "delete"))
    sn.mergeUpsert(spark, "nk",
      Seq((Some(2L), "b2"), (Option.empty[Long], "x3")).toDF("k", "v"), "k")
    val eFinal = sn.readEntries("nk", sn.currentVersion("nk").get)
    assert(eFinal.forall(_.kind == "data"),
      s"inert delete entries must self-compact, got $eFinal")
    assert(sn.current(spark, "nk").collect().map(_.getString(1)).toSet ==
      Set("b2", "x3"), "the folded delete must still have applied")
  }

  test("MoR delete: the delete dir holds only keys (O(delta) write), " +
      "re-inserts outrank it by seq, time travel still works, and the " +
      "fold drops delete entries while carrying unaffected dirs verbatim") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.append(o.filter(month(col("o_orderdate")) <= 6), "mor")
    sn.append(o.filter(month(col("o_orderdate")) >= 7), "mor")
    sn.deleteWhereMoR(spark, "mor", col("o_orderkey") % 7 === 0,
      Seq("o_orderkey"))
    val e3 = sn.readEntries("mor", 3)
    val del = e3.filter(_.kind == "delete")
    assert(del.size == 1 && del.head.key == Seq("o_orderkey"))
    // O(delta): the delete dir contains exactly the distinct doomed keys
    val delFrame = spark.read.parquet(s"$root/${del.head.rel}")
    assert(delFrame.columns.toSeq == Seq("o_orderkey"))
    assert(delFrame.count() ==
      o.filter(col("o_orderkey") % 7 === 0).count())
    // the read applies the delete; the pre-delete snapshot is complete
    assert(sn.current(spark, "mor").count() ==
      o.filter(col("o_orderkey") % 7 =!= 0).count())
    assert(sn.asOf(spark, "mor", 2).count() == o.count())
    // deleting nothing must not churn a version
    sn.deleteWhereMoR(spark, "mor", col("o_totalprice") < -1e12,
      Seq("o_orderkey"))
    assert(sn.currentVersion("mor").contains(3))
    // a re-insert AFTER the delete has a higher seq and survives it
    val reins = o.filter(col("o_orderkey") % 14 === 0)
    sn.append(reins, "mor")
    val expected =
      o.filter(col("o_orderkey") % 7 =!= 0).count() + reins.count()
    assert(sn.current(spark, "mor").count() == expected)
    val reinsEntry = sn.readEntries("mor", 4).filter(_.kind == "data").last
    val reinsFiles = dirContents(s"$root/${reinsEntry.rel}")
    // fold: zero delete entries left, logical frame unchanged, and the
    // re-insert dir (no delete applies to it) carries over verbatim
    sn.rewriteDeletes(spark, "mor")
    val e5 = sn.readEntries("mor", 5)
    assert(e5.forall(_.kind == "data"))
    assert(e5.map(_.rel).contains(reinsEntry.rel),
      "dir unaffected by every delete must keep its manifest entry")
    assert(dirContents(s"$root/${reinsEntry.rel}") == reinsFiles)
    assert(sn.current(spark, "mor").count() == expected)
    // the fold returns reads to the zero-join fast path — the plan
    // must carry no anti-joins once no delete entries remain
    assert(sn.current(spark, "mor").queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "post-fold read must plan as a bare multi-dir scan")
    // idempotence: nothing left to fold → no version churn
    sn.rewriteDeletes(spark, "mor")
    assert(sn.currentVersion("mor").contains(5))
    // M9 on a (fresh) MoR table: the orchestration folds first, so
    // compaction is legal and the report carries the fold count
    val root2 = scratch()
    val sn2 = new Snapshots(root2)
    sn2.append(o.filter(month(col("o_orderdate")) <= 6), "m9m")
    sn2.deleteWhereMoR(spark, "m9m", col("o_orderkey") % 5 === 0,
      Seq("o_orderkey"))
    val rep = Maintenance.fullMaintenance(spark, sn2, "m9m",
      scratch(), Seq("o_orderstatus"))
    assert(rep.find(_._1 == "rewrite_deletes").get._3 == 1)
    assert(sn2.current(spark, "m9m").count() ==
      o.filter(month(col("o_orderdate")) <= 6 &&
        col("o_orderkey") % 5 =!= 0).count())
  }

  test("scanWhere: footer stats prune provably-unmatchable dirs at " +
      "planning time; survivors still filter; MoR deletes still apply") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    val mid = o.agg(expr("percentile_approx(o_orderkey, 0.5)"))
      .collect()(0).getLong(0)
    sn.append(o.filter(col("o_orderkey") <= mid), "sw")
    sn.append(o.filter(col("o_orderkey") > mid), "sw")
    val m = sn.readManifest("sw", 2)
    val lowKey = o.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val probe = sn.scanWhere(spark, "sw", col("o_orderkey") === lowKey)
    // planning-time skip: only the low dir's files enter the scan
    assert(probe.inputFiles.nonEmpty &&
      probe.inputFiles.forall(_.contains(m.head)),
      s"high dir must be pruned before the read: ${probe.inputFiles.toSeq}")
    assert(probe.count() ==
      o.filter(col("o_orderkey") === lowKey).count())
    // a provably-unmatchable predicate reads zero dirs, keeps schema
    val none = sn.scanWhere(spark, "sw", col("o_orderkey") === -5L)
    assert(none.count() == 0 && none.columns.sameElements(o.columns))
    // MoR: the delete still applies to a surviving dir
    sn.deleteWhereMoR(spark, "sw", col("o_orderkey") === lowKey,
      Seq("o_orderkey"))
    assert(sn.scanWhere(spark, "sw",
      col("o_orderkey") === lowKey).count() == 0,
      "scanWhere must apply equality deletes to surviving dirs")
  }

  test("manifest entries round-trip: mixed kinds, seqs, multi-column " +
      "delete keys, and legacy bare lines all read back exactly") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders").limit(10)
    // stage three dirs so the entries have real targets
    val d1 = sn.stageData(o, "rt")
    val d2 = sn.stageData(o.select("o_orderkey", "o_orderstatus"), "rt")
    val d3 = sn.stageData(o.select("o_orderkey"), "rt")
    val entries = Seq(
      graft.plans.ManifestEntry("data", 0, d1, Nil),   // legacy bare form
      graft.plans.ManifestEntry("data", 7, d2, Nil),
      graft.plans.ManifestEntry("delete", 9, d3,
        Seq("o_orderkey", "o_orderstatus")))
    val v = sn.commitEntries("rt", entries)
    assert(sn.readEntries("rt", v) == entries,
      "commit/read must round-trip every entry field exactly")
    // the legacy line really is the bare path (format compatibility)
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/rt/manifests/v=$v.manifest"))
    assert(raw.linesIterator.next() == d1,
      "a seq-0 data entry must serialize as the pre-MoR bare path")
  }

  test("appendsBetween: emits exactly the appended rows, skips rewrite " +
      "versions, and keeps working across expired history") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    val q1 = o.filter(month(col("o_orderdate")) <= 3)
    val q2 = o.filter(month(col("o_orderdate")).between(4, 6))
    val q3 = o.filter(month(col("o_orderdate")).between(7, 9))
    sn.commit(q1, "ia")                                           // v1
    sn.append(q2, "ia")                                           // v2
    sn.deleteWhere(spark, "ia",
      month(col("o_orderdate")) <= 3 && col("o_orderkey") % 2 === 0) // v3
    sn.append(q3, "ia")                                           // v4
    assert(sn.appendsBetween(spark, "ia", 1, 4).count() ==
      q2.count() + q3.count(),
      "the CoW rewrite version must be skipped, not emitted")
    assert(sn.appendsBetween(spark, "ia", 2, 3).count() == 0,
      "(v2, v3] holds only a rewrite — nothing to emit")
    assert(sn.appendsBetween(spark, "ia", 4, 4).count() == 0)
    // expiry leaves a version gap; classification still works across it
    sn.expire("ia", 2) // live = {3, 4}
    assert(sn.appendsBetween(spark, "ia", 3, 4).count() == q3.count())
  }

  test("branch copies delete entries verbatim and destination appends " +
      "outrank them — seq comes from the entries, not the version counter") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.append(o.filter(month(col("o_orderdate")) <= 6), "src")
    sn.deleteWhereMoR(spark, "src", col("o_orderkey") % 3 === 0,
      Seq("o_orderkey"))                       // src v2: delete at seq 2
    sn.branch("src", "dst")                    // dst v1 carries seqs {1,2}
    assert(sn.readEntries("dst", 1) == sn.readEntries("src", 2))
    val alive = o.filter(month(col("o_orderdate")) <= 6 &&
      col("o_orderkey") % 3 =!= 0).count()
    assert(sn.current(spark, "dst").count() == alive)
    // dst's next commit is v2; a seq derived from the VERSION would be
    // 2 — not greater than the copied delete's seq 2 — and the delete
    // would wrongly swallow these re-inserted keys
    val reins = o.filter(col("o_orderkey") % 3 === 0 &&
      month(col("o_orderdate")) <= 2)
    sn.append(reins, "dst")
    assert(sn.current(spark, "dst").count() == alive + reins.count(),
      "append after a copied delete must outrank it")
  }

  test("multi-writer: 8 concurrent appenders all land — no lost update, " +
      "every delta file referenced by the final manifest") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders").limit(800).cache()
    sn.commit(o.limit(0), "race") // empty v1 so every appender races
    // 8 threads, each appending a DISJOINT 100-row slice concurrently.
    // Under rename-as-commit this test fails nondeterministically with
    // lost slices (rename(2) replaces an existing manifest, so two
    // claimants of v=N both "succeed"); under link-CAS + occRetry every
    // appender must observe its losses and re-union onto the winner.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(8))
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val fs = (0 until 8).map { i =>
      val lo = keys(i * 100); val hi = keys(i * 100 + 99)
      Future(sn.append(o.filter(col("o_orderkey").between(lo, hi)), "race"))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.sorted == (2 to 9), s"each appender a distinct version: $versions")
    assert(sn.current(spark, "race").count() == 800,
      "every appender's rows must survive the race")
    // the final manifest references all 8 delta dirs plus v1's base
    assert(sn.readManifest("race", 9).size == 9)
    // the full version ladder is intact history: v=k holds exactly k-1 slices
    (1 to 9).foreach { v =>
      assert(sn.asOf(spark, "race", v).count() == (v - 1) * 100L) }
  }

  test("keyed-DML race: 4 concurrent writers upserting DISJOINT key " +
      "bands serialize — every writer's last update and every insert " +
      "survives the interleaved copy-on-write rewrites") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "urace"
    def df(rows: Seq[(Long, Double)]) = rows.toDF("k", "v").coalesce(1)
    sn.commit(df((0L until 40L).map(k => (k, 0.0))), t)
    // 4 writers x 5 rounds; each round updates the writer's own 10-key
    // band and inserts one fresh key. Under a naive retry that replays
    // a STALE rewrite (losing the other writers' dirs), bands or
    // inserts vanish nondeterministically; under occRetry the keyed
    // CoW must re-derive its touched-file set against the winner's
    // base every attempt.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(4))
    val fs = (0 until 4).map { w =>
      Future {
        (1 to 5).foreach { r =>
          val band = (0 until 10).map(j => (w * 10L + j, r.toDouble))
          val fresh = (1000L + w * 100L + r, -1.0)
          sn.mergeUpsert(spark, t, df(band :+ fresh), "k")
        }
      }
    }
    Await.result(Future.sequence(fs), 300.seconds)
    val got = sn.current(spark, t).as[(Long, Double)].collect().toMap
    val expected =
      (0L until 40L).map(k => k -> 5.0).toMap ++
        (for (w <- 0 until 4; r <- 1 to 5)
          yield (1000L + w * 100L + r, -1.0)).toMap
    assert(got.size == expected.size,
      s"row count diverged under the keyed race: ${got.size} vs " +
        s"${expected.size}")
    assert(got == expected,
      "a racing upsert replayed a stale rewrite: " +
        (expected.toSet -- got.toSet).take(5).toString)
    // 21 commits must have landed: the seed plus every writer round
    assert(sn.currentVersion(t).contains(21))
  }

  test("maintenance race: compaction concurrent with appenders loses " +
      "no rows — OCC re-derives the file list or the appender re-unions " +
      "past the compaction commit") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders").limit(600).cache()
    // a fragmented base: 6 tiny one-file dirs → compaction WILL rewrite
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    def slice(i: Int) = o.filter(
      col("o_orderkey").between(keys(i * 100), keys(i * 100 + 99)))
    (0 until 4).foreach(i => sn.append(slice(i).coalesce(1), "mrace"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(3))
    // compaction (a snapshot commit derived from whatever version it
    // reads) races two more appenders; all three must land
    val fs = Seq(
      Future { Maintenance.compactTable(spark, sn, "mrace"); 0 },
      Future { sn.append(slice(4).coalesce(1), "mrace") },
      Future { sn.append(slice(5).coalesce(1), "mrace") })
    Await.result(Future.sequence(fs), 120.seconds)
    assert(sn.current(spark, "mrace").count() == 600,
      "no appender's rows may be dropped by a racing compaction")
    assert(sn.current(spark, "mrace")
      .select("o_orderkey").distinct().count() == 600)
    // and a quiesced follow-up compaction still converges the layout
    sn.rewriteDeletes(spark, "mrace")
    Maintenance.compactTable(spark, sn, "mrace")
    val entries = sn.readEntries("mrace", sn.currentVersion("mrace").get)
    assert(entries.size <= Maintenance.MinSmallDirsToMerge,
      s"post-race compaction must converge the manifest: ${entries.size}")
    assert(sn.current(spark, "mrace").count() == 600)
  }

  test("mixed-writer race: concurrent appends and MoR deletes all land " +
      "as distinct versions and non-deleted rows are never lost") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders").limit(600).cache()
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    // deletes target a FIXED key set K (every 3rd key of the seed
    // slice); appends add K-free slices. Whatever the interleaving,
    // the final frame restricted to the complement of K must be the
    // union of every append plus the seed's K-free rows — and rows in
    // K can only be MISSING or present-from-the-seed, never corrupted.
    val seedHi = keys(199)
    sn.commit(o.filter(col("o_orderkey") <= seedHi), "mix") // v1
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(6))
    val appends = (0 until 4).map { i =>
      val lo = keys(200 + i * 100); val hi = keys(200 + i * 100 + 99)
      Future(sn.append(o.filter(col("o_orderkey").between(lo, hi)), "mix"))
    }
    val deletes = (0 until 2).map { _ =>
      Future(sn.deleteWhereMoR(spark, "mix",
        col("o_orderkey") <= seedHi && col("o_orderkey") % 3 === 0,
        Seq("o_orderkey")))
    }
    Await.result(Future.sequence(appends ++ deletes), 120.seconds)
    // 1 seed + 4 appends + >=1 effective delete (the second deleter may
    // legitimately no-op if it probes after the first's commit)
    val nv = sn.versions("mix").size
    assert(nv >= 6 && nv <= 7, s"got $nv versions")
    val fin = sn.current(spark, "mix")
    val expectedSurvivors =
      o.filter(col("o_orderkey") <= seedHi &&
        col("o_orderkey") % 3 =!= 0).count() + 400
    assert(fin.filter(col("o_orderkey") % 3 =!= 0 ||
      col("o_orderkey") > seedHi).count() == expectedSurvivors,
      "no append's rows may be lost to a racing delete commit")
    assert(fin.filter(col("o_orderkey") <= seedHi &&
      col("o_orderkey") % 3 === 0).count() == 0,
      "the deleted key set must be gone")
  }

  test("optimistic validation: a commit derived from a stale snapshot " +
      "throws instead of silently dropping the concurrent writer's rows") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.commit(o.limit(10), "occ")
    val stale = sn.currentVersion("occ") // Some(1)
    val rel = sn.readManifest("occ", 1)
    sn.commit(o.limit(20), "occ") // concurrent writer lands v2
    val e = intercept[graft.plans.ConcurrentCommitException] {
      sn.commitFilesIfCurrent("occ", stale, rel)
    }
    assert(e.expected == Some(1) && e.found == Some(2))
    // prev-INDEPENDENT commits (rollback/branch/publish intent) are
    // allowed to proceed past the race: commitFiles re-claims
    assert(sn.commitFiles("occ", rel) == 3)
    assert(sn.current(spark, "occ").count() == 10)
  }

  test("changesBetween scans only changed entries: an append step reads " +
      "the delta dirs, a CoW step reads the swapped dirs — never the " +
      "kept table") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    val t = "cbd"
    sn.append(o.filter(month(col("o_orderdate")) <= 6), t)     // v1
    sn.append(o.filter(month(col("o_orderdate")) >= 7), t)     // v2 append
    val v1Dirs = sn.readManifest(t, 1)
    val v2Delta = sn.readManifest(t, 2).filterNot(v1Dirs.contains)
    val appendStep = sn.changesBetween(spark, t, 1, 2, "o_orderkey")
    // kept entries are byte-identical immutable dirs on both sides —
    // the v1 dir must not appear in the diff's scan at all
    val f12 = appendStep.inputFiles
    assert(f12.nonEmpty && f12.forall(p => v2Delta.exists(p.contains)),
      s"append step must scan only the delta dirs: ${f12.toSeq}")
    assert(appendStep.count() ==
      o.filter(month(col("o_orderdate")) >= 7).count())
    assert(appendStep.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("INSERT"))
    // v3: CoW update touches only the dir holding the target keys
    val probe = o.filter(month(col("o_orderdate")) <= 6)
      .limit(1).select("o_orderkey").collect()(0).getLong(0)
    sn.updateWhere(spark, t, col("o_orderkey") === probe,
      Map("o_totalprice" -> lit(0.0)))
    val v2Entries = sn.readManifest(t, 2)
    val v3 = sn.readManifest(t, 3)
    val swapped = (v2Entries.filterNot(v3.contains) ++
      v3.filterNot(v2Entries.contains)).toSet
    assert(swapped.nonEmpty && swapped.size < v2Entries.size + v3.size,
      "CoW must swap a strict subset of dirs")
    val cowStep = sn.changesBetween(spark, t, 2, 3, "o_orderkey")
    val f23 = cowStep.inputFiles
    assert(f23.nonEmpty && f23.forall(p => swapped.exists(p.contains)),
      s"CoW step must scan only the swapped dirs: ${f23.toSeq}")
    assert(cowStep.count() == 1 &&
      cowStep.select("_change_type").collect()(0).getString(0) == "UPDATE")
  }

  test("logicalRowCount answers pure-data versions from manifest " +
      "metadata alone — correct even after the parquet files are gone") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    val t = "lrc"
    val n1 = o.filter(month(col("o_orderdate")) <= 6).count()
    val n2 = o.filter(month(col("o_orderdate")) >= 7).count()
    sn.append(o.filter(month(col("o_orderdate")) <= 6), t)
    sn.append(o.filter(month(col("o_orderdate")) >= 7), t)
    assert(sn.logicalRowCount(spark, t, 1) == n1)
    assert(sn.logicalRowCount(spark, t, 2) == n1 + n2)
    // the proof it is metadata-only: destroy every data file; the
    // counts must still come back, because the inline manifest stats
    // are the only thing consulted on the pure-data path
    sn.dataDirs(t, 2).foreach { d =>
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete()))
    }
    assert(sn.logicalRowCount(spark, t, 1) == n1)
    assert(sn.logicalRowCount(spark, t, 2) == n1 + n2)
  }

  test("compaction sizing is manifest metadata: a well-laid-out table " +
      "plans a no-op from inline stats without listing or reading its " +
      "data files") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    // two right-sized dirs: 1 file each (not fragmented), and only two
    // small dirs (< MinSmallDirsToMerge) so nothing merges — a no-op
    sn.append(o.limit(100).coalesce(1), "mc")
    sn.append(o.limit(50).coalesce(1), "mc")
    val liveBytes = sn.dataDirs("mc", 2).map(Maintenance.fileStats(_))
    assert(liveBytes.forall(_.nFiles == 1))
    // destroy the physical files: sizing must come from the manifest
    sn.dataDirs("mc", 2).foreach { d =>
      new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete()))
    }
    val rep = Maintenance.compactTable(spark, sn, "mc")
    assert(rep.before.nFiles == 2 && rep.after.nFiles == 2)
    assert(rep.before.totalBytes == liveBytes.map(_.totalBytes).sum &&
      rep.before.totalBytes > 0)
    assert(sn.currentVersion("mc").contains(2),
      "a no-op compaction must not churn a version")
  }

  private def rawManifest(root: String, t: String, v: Int): Seq[String] =
    Files.readString(new java.io.File(
      s"$root/$t/manifests/v=$v.manifest").toPath)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  test("segmented manifests: appends write O(delta) metadata — the new " +
      "version file reuses every predecessor segment ref verbatim plus " +
      "one new ref; entries round-trip exactly; re-chunking bounds the " +
      "ref count") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders")
    val t = "seg"
    val slices = (0 until 24).map(i => o.filter(col("o_orderkey") % 24 === i))
    sn.append(slices(0), t)
    sn.append(slices(1), t)
    sn.append(slices(2), t) // >= threshold from here: segmented
    val r3 = rawManifest(root, t, 3)
    assert(r3.forall(_.startsWith("@seg\t")),
      s"above the threshold the version file must be all refs: $r3")
    sn.append(slices(3), t)
    val r4 = rawManifest(root, t, 4)
    // O(delta): v4 = v3's refs verbatim + exactly one new segment
    assert(r4.size == r3.size + 1 && r4.startsWith(r3),
      s"append must reuse predecessor segments: $r3 -> $r4")
    // resolution is exact: entries equal the versions' logical content
    assert(sn.readEntries(t, 4).size == 4)
    assert(sn.current(spark, t).count() ==
      slices.take(4).map(_.count()).sum)
    assert(sn.asOf(spark, t, 3).count() == slices.take(3).map(_.count()).sum)
    // sustained appends: re-chunk keeps the ref list bounded while
    // entries stay exact (maxSegRefs floors at 16)
    (4 until 24).foreach(i => sn.append(slices(i), t))
    val rN = rawManifest(root, t, 24)
    assert(rN.size <= 16, s"manifest merge must bound the ref list: ${rN.size}")
    assert(sn.readEntries(t, 24).size == 24)
    assert(sn.current(spark, t).count() == slices.map(_.count()).sum)
  }

  test("segmented manifests: CoW rewrites only the touched segment; " +
      "branches share segments; GC never deletes a referenced segment " +
      "and sweeps unreferenced ones") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders")
    val t = "segcow"
    (1 to 4).foreach(q => sn.append(
      o.filter(month(col("o_orderdate")).between(3 * q - 2, 3 * q)), t))
    val pre = rawManifest(root, t, 4)
    assert(pre.forall(_.startsWith("@seg\t")))
    // CoW UPDATE touching one quarter: surviving slices must reuse refs
    val probe = o.filter(month(col("o_orderdate")) <= 3)
      .limit(1).select("o_orderkey").collect()(0).getLong(0)
    sn.updateWhere(spark, t, col("o_orderkey") === probe,
      Map("o_totalprice" -> lit(0.0)))
    val post = rawManifest(root, t, 5)
    val reused = post.toSet.intersect(pre.toSet)
    assert(reused.nonEmpty,
      s"a one-dir CoW must not rewrite every segment: $pre -> $post")
    assert(sn.current(spark, t).count() == o.count())
    // branch shares segments cross-table (verbatim version-file copy)
    sn.branch(t, "segbr")
    assert(rawManifest(root, "segbr", 1) == post)
    assert(sn.current(spark, "segbr").count() == o.count())
    // expire the source's history; the branch still resolves because
    // segment liveness is root-wide
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    sn.cleanOrphans(t, 0L)
    assert(sn.current(spark, "segbr").count() == o.count())
    assert(sn.current(spark, t).count() == o.count())
    // a lost commit race's staged segment (unreferenced) is an orphan
    val stray = new java.io.File(s"$root/$t/manifests/seg/stray.seg")
    Files.writeString(stray.toPath, "no/such/dir")
    val removed = sn.cleanOrphans(t, 0L)
    assert(removed.exists(_.endsWith("stray.seg")) && !stray.exists())
    assert(sn.current(spark, t).count() == o.count(),
      "sweeping the stray segment must not touch live metadata")
  }

  test("segmented manifests: concurrent appenders over a segmented " +
      "table all land with exact content") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders").limit(400).cache()
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    def slice(i: Int) = o.filter(
      col("o_orderkey").between(keys(i * 100), keys(i * 100 + 99)))
    sn.append(slice(0), "segrace")
    sn.append(slice(1), "segrace") // segmented from v2
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(2))
    Await.result(Future.sequence(Seq(
      Future(sn.append(slice(2), "segrace")),
      Future(sn.append(slice(3), "segrace")))), 120.seconds)
    assert(sn.current(spark, "segrace").count() == 400)
    assert(sn.readEntries("segrace", 4).size == 4)
  }

  test("$files physical columns equal ground truth: record_count, " +
      "file_count and total_bytes per entry match a scan and a listing") {
    val root = scratch()
    val sn = new Snapshots(root)
    val o = T.load(spark, sfDir, "orders")
    sn.append(o.filter(month(col("o_orderdate")) <= 6), "fm")
    sn.append(o.filter(month(col("o_orderdate")) >= 7).coalesce(1), "fm")
    val rows = sn.filesMetadata(spark, "fm", 2)
      .orderBy("seq").collect()
    val rels = sn.readManifest("fm", 2)
    assert(rows.length == 2)
    rows.zip(rels).foreach { case (r, rel) =>
      val dir = s"$root/$rel"
      assert(r.getAs[Long]("record_count") ==
        spark.read.parquet(dir).count())
      val fs = Maintenance.fileStats(dir)
      assert(r.getAs[Long]("file_count") == fs.nFiles)
      assert(r.getAs[Long]("total_bytes") == fs.totalBytes)
    }
  }

  test("segmented manifests: rollback is a verbatim ref copy and its " +
      "target's segments survive expiry of the intermediate history") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders")
    (1 to 4).foreach(q => sn.append(
      o.filter(month(col("o_orderdate")).between(3 * q - 2, 3 * q)), "rb"))
    val n2 = sn.asOf(spark, "rb", 2).count()
    val raw2 = rawManifest(root, "rb", 2)
    val v5 = sn.rollback(spark, "rb", 2)
    assert(v5 == 5 && rawManifest(root, "rb", 5) == raw2,
      "rollback must copy the target's ref list verbatim")
    assert(sn.current(spark, "rb").count() == n2)
    // expire everything but the rollback head; its segments (written
    // for v2, referenced again by v5) must survive the sweep
    sn.expire("rb", keep = 1, gcOlderThanMillis = 0L)
    sn.cleanOrphans("rb", 0L)
    assert(sn.current(spark, "rb").count() == n2,
      "live head must keep resolving after expiry + orphan sweep")
  }

  test("metadata-bounded sink law: sustained interleaved appends, MoR " +
      "deletes and merges with periodic maintenance keep the manifest " +
      "entry count bounded by live data, not by operation count — and " +
      "the logical content tracks an independent row-level simulation") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "sinklaw"
    val o = T.load(spark, sfDir, "orders")
      .select(col("o_orderkey").cast("long").as("k"),
        col("o_totalprice").cast("double").as("p"))
    // independent oracle: the same op sequence simulated row-by-row on
    // the driver (sf0.001 orders ≈ 1.5k rows). `rows` is a MULTISET —
    // append is unkeyed, so a merged-in key can coexist with a later
    // appended row of the same key until a delete or merge collapses it.
    val base = o.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    var rows = Seq.empty[(Long, Double)]
    val perCycle = 4
    var lastPost = 0
    for (cycle <- 0 until 3) {
      for (r <- 0 until perCycle) {
        val i = cycle * perCycle + r
        // sustained sink traffic: one append, one MoR delete, one merge
        sn.append(o.filter(col("k") % 12 === i), t)
        rows = rows ++ base.filter(_._1 % 12 == i)
        sn.deleteWhereMoR(spark, t, col("k") % 17 === i % 17, Seq("k"))
        rows = rows.filterNot(_._1 % 17 == i % 17)
        val srcKeys = base.map(_._1).filter(_ % 23 == i).toSet
        sn.mergeUpsert(spark, t,
          o.filter(col("k") % 23 === i).withColumn("p", lit(-1.0 * i)), "k")
        rows = rows.filterNot(x => srcKeys(x._1)) ++
          srcKeys.toSeq.sorted.map(k => (k, -1.0 * i))
      }
      val v = sn.currentVersion(t).get
      val pre = sn.readEntries(t, v).size
      // between maintenances metadata grows at most O(ops): each round
      // nets <= +3 entries (append +1, delete +1, merge rewrite +1)
      assert(pre <= lastPost + 3 * perCycle,
        s"cycle $cycle: $pre entries from $lastPost after $perCycle rounds")
      sn.rewriteDeletes(spark, t)
      Maintenance.compactTable(spark, sn, t)
      val post = sn.readEntries(t, sn.currentVersion(t).get)
      // THE LAW: after fold+compact, the manifest is pure-data and its
      // size is set by live data volume (tiny here → a handful of
      // dirs), NOT by how many sink operations have ever run. Without
      // the fold/compact/inert-delete-drop mechanisms this count would
      // be ~3 entries per round forever.
      assert(post.forall(_.kind == "data"),
        s"cycle $cycle: unfolded delete entries survive maintenance")
      assert(post.size <= Maintenance.MinSmallDirsToMerge,
        s"cycle $cycle: ${post.size} entries — metadata not bounded")
      // every surviving entry carries inline stats, so planning over
      // the maintained table stays one metadata read
      assert(post.forall(_.stats.isDefined),
        s"cycle $cycle: maintained manifest lost inline stats")
      lastPost = post.size
      // content: the store's logical table == the driver simulation
      val got = sn.current(spark, t).select("k", "p")
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq.sorted
      assert(got == rows.sorted,
        s"cycle $cycle: logical content diverged from the simulation " +
          s"(${got.size} vs ${rows.size} rows)")
    }
  }

  test("segmented manifests: concurrent appenders crossing the geometric " +
      "MERGE boundary all land exactly; lost-race segments sweep as orphans") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2) // maxSegRefs = 16
    val o = T.load(spark, sfDir, "orders").limit(600).cache()
    val keys = o.select("o_orderkey").collect().map(_.getLong(0)).sorted
    def slice(i: Int) = o.filter(
      col("o_orderkey").between(keys(i * 24), keys(i * 24 + 23)))
    val t = "segmerge"
    // serial ramp to 14 refs, just under the merge trigger
    (0 until 14).foreach(i => sn.append(slice(i), t))
    // 8 concurrent appenders push the ref list across maxSegRefs, so
    // several commits run the geometric tail merge WHILE racing: lost
    // CAS attempts orphan their freshly-written merge segments, and
    // the winners' manifests must stay exact
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(4))
    Await.result(Future.sequence((14 until 22).map(i =>
      Future(sn.append(slice(i), t)))), 180.seconds)
    val cur = sn.currentVersion(t).get
    assert(cur == 22)
    assert(sn.readEntries(t, cur).size == 22, "an appender's entry was lost")
    assert(rawManifest(root, t, cur).size <= 16,
      "the merge bound must hold through contention")
    val expect = (0 until 22).map(i => slice(i).count()).sum
    assert(sn.current(spark, t).count() == expect)
    // lost-race merge segments are unreferenced; the sweep removes
    // them without touching live metadata
    sn.cleanOrphans(t, 0L)
    assert(sn.current(spark, t).count() == expect)
    assert(sn.readEntries(t, cur).size == 22)
  }

  test("segCache: GC evicts dead segments (cache bounded by live metadata) " +
      "and a read of a vanished segment fails loudly, never a cached ghost") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders")
    val t = "segev"
    (0 until 8).foreach(i =>
      sn.append(o.filter(col("o_orderkey") % 8 === i), t))
    // CoW-touch a row from the first slice: the head segment is
    // superseded in the new version, so expiring the history below
    // orphans it (append-only histories share every segment with the
    // live head — nothing would die)
    val probe = o.filter(col("o_orderkey") % 8 === 0)
      .limit(1).select("o_orderkey").collect()(0).getLong(0)
    sn.updateWhere(spark, t, col("o_orderkey") === probe,
      Map("o_totalprice" -> lit(0.0)))
    // warm the cache over the full history
    sn.versions(t).foreach(v => sn.readEntries(t, v))
    val warm = sn.segCacheSize
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    sn.cleanOrphans(t, 0L)
    val segDir = new java.io.File(s"$root/$t/manifests/seg")
    val liveSegs = Option(segDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".seg"))
    assert(sn.segCacheSize <= liveSegs,
      s"cache (${sn.segCacheSize}) must not exceed live segments ($liveSegs)")
    assert(sn.segCacheSize < warm,
      "GC must shrink a cache warmed over expired history")
    assert(sn.current(spark, t).count() == o.count())
    // ghost rejection: a segment deleted OUT FROM UNDER a live version
    // (a foreign GC bug, a manual rm) must fail the read after the
    // next eviction pass — not serve the stale cached parse forever
    val cur = sn.currentVersion(t).get
    sn.readEntries(t, cur) // cache it
    Option(segDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".seg")).foreach(_.delete())
    sn.cleanOrphans(t, 0L) // evicts the now-dead cache entries
    intercept[IllegalArgumentException] { sn.readEntries(t, cur) }
  }

  test("changesBetween: a pure-append step plans with NO join and emits " +
      "exactly the appended rows as INSERTs") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    val t = "cfp"
    sn.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), t)
    sn.append(Seq((3L, "c"), (4L, "d")).toDF("k", "s"), t)
    val frame = sn.changesBetween(spark, t, 1, 2, "k")
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"an append step must skip the diff join entirely:\n$plan")
    assert(frame.as[(Long, String, Int)].collect().toSet ==
      Set((3L, "INSERT", 2), (4L, "INSERT", 2)))
    // and a mixed range still unions fast and join steps correctly:
    // v3 updates key 2, so that step must take the join path
    sn.commit(Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
      .toDF("k", "s"), t)
    val mixed = sn.changesBetween(spark, t, 1, 3, "k")
    assert(mixed.as[(Long, String, Int)].collect().toSet ==
      Set((3L, "INSERT", 2), (4L, "INSERT", 2), (2L, "UPDATE", 3)))
  }

  test("$files on a segmented manifest is a DISTRIBUTED text scan over " +
      "the segment files; inline manifests keep the driver path") {
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val o = T.load(spark, sfDir, "orders")
    val t = "fmseg"
    (1 to 4).foreach(q => sn.append(
      o.filter(quarter(col("o_orderdate")) === q), t))
    val fm = sn.filesMetadata(spark, t, 4)
    val plan = fm.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan text"),
      s"segmented \\$$files must scan segment files distributed:\n$plan")
    val rows = fm.collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("record_count")).sum == o.count(),
      "distributed rows must carry the same inline metrics")
    // inline (sub-threshold) tables keep the tiny driver-side path
    val sn2 = new Snapshots(scratch())
    sn2.append(o.limit(10), "fmin")
    val plan2 = sn2.filesMetadata(spark, "fmin", 1)
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("FileScan"),
      s"inline \\$$files must not launch a file scan:\n$plan2")
    // $partitions takes the same distributed pre-rollup on a segmented
    // manifest — and its rollup still attributes correctly there
    val o2 = o.withColumn("oq", quarter(col("o_orderdate")).cast("long"))
    val t3 = "ptseg"
    (1 to 4).foreach(q => sn.append(o2.filter(col("oq") === q), t3))
    val pm = sn.partitionsMetadata(spark, t3, 4, "oq")
    assert(pm.queryExecution.executedPlan.toString.contains("FileScan text"),
      "segmented \\$partitions must pre-roll up from a distributed scan")
    val byVal = pm.collect()
      .map(r => r.getAs[String]("partition_value") ->
        r.getAs[Long]("record_count")).toMap
    (1 to 4).foreach { q =>
      assert(byVal(q.toString) == o2.filter(col("oq") === q).count())
    }
  }

  test("$partitions attribution: single-valued dirs roll up under their " +
      "value, multi-valued and null-bearing dirs under NULL, deletes excluded") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    val t = "pt"
    // dir 1: single-valued p=1 (attributable)
    sn.commit(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "p", "s"), t)
    // dir 2: multi-valued p (NOT attributable — stats bounds differ)
    sn.append(Seq((3L, 2L, "c"), (4L, 3L, "d")).toDF("k", "p", "s"), t)
    // dir 3: single bound but carries a null p (NOT attributable:
    // min==max alone would silently drop the null rows from p=4)
    sn.append(Seq((5L, Some(4L), "e"), (6L, None, "f"))
      .toDF("k", "p", "s"), t)
    // a MoR delete entry must not appear in the rollup at all
    sn.deleteWhereMoR(spark, t, col("k") === 2L, Seq("k"))
    val v = sn.currentVersion(t).get
    val got = sn.partitionsMetadata(spark, t, v, "p")
      .select($"partition_value", $"n_entries", $"record_count")
      .as[(String, Long, Long)].collect()
      .map(r => (Option(r._1), r._2, r._3)).toSet
    assert(got == Set(
      (Some("1"), 1L, 2L),   // dir 1 attributed to p=1
      (None, 2L, 4L)),       // dirs 2+3 under NULL, rows intact
      s"got $got")
    // row conservation: NULL bucket keeps every unattributable row
    assert(got.toSeq.map(_._3).sum ==
      sn.filesMetadata(spark, t, v)
        .filter($"entry_kind" === "data")
        .agg(sum($"record_count")).as[Long].head())
  }

  test("$partitions: a statless legacy dir never deflates a bucket's " +
      "totals — unknowns are excluded and flagged, not summed as -1") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "ptu"
    // attributed p=1, 2 known rows
    sn.commit(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "p", "s"), t)
    // multi-valued WITH stats → NULL bucket, 2 known rows
    sn.append(Seq((3L, 2L, "c"), (4L, 3L, "d")).toDF("k", "p", "s"), t)
    // legacy statless dir: parquet written directly (no sidecar, no
    // inline stats), committed as a bare entry — rows UNKNOWN (-1)
    Seq((5L, 9L, "e")).toDF("k", "p", "s")
      .write.parquet(s"$root/$t/data/d99")
    sn.occRetry(t) { cur =>
      sn.commitEntriesIfCurrent(t, cur, sn.readEntries(t, cur.get) :+
        ManifestEntry("data", 0, s"$t/data/d99", Nil))
    }
    val v = sn.currentVersion(t).get
    val byVal = sn.partitionsMetadata(spark, t, v, "p").collect()
      .map(r => Option(r.getAs[String]("partition_value")) -> r).toMap
    val nullB = byVal(None)
    assert(nullB.getAs[Long]("n_entries") == 2L)
    // 2 known rows from the multi-valued dir; the statless dir's -1
    // sentinel must NOT deflate this to 1
    assert(nullB.getAs[Long]("record_count") == 2L)
    assert(nullB.getAs[Boolean]("has_unknown_stats"))
    val p1 = byVal(Some("1"))
    assert(p1.getAs[Long]("record_count") == 2L)
    assert(!p1.getAs[Boolean]("has_unknown_stats"))
    // an all-unknown bucket totals NULL, never a fabricated number
    val sn2 = new Snapshots(scratch())
    Seq((1L, 1L, "x")).toDF("k", "p", "s")
      .write.parquet(s"${sn2.rootDir}/ptz/data/d7")
    sn2.commitEntriesIfCurrent("ptz", None,
      Seq(ManifestEntry("data", 0, "ptz/data/d7", Nil)))
    val z = sn2.partitionsMetadata(spark, "ptz", 1, "p").collect()
    assert(z.length == 1 && z.head.isNullAt(z.head.fieldIndex("record_count")))
    assert(z.head.getAs[Boolean]("has_unknown_stats"))
  }

  test("history/segmentsMetadata count from the per-segment cache: a " +
      "warm audit re-parses ZERO segments, a cold one parses each once") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "hcache"
    (1 to 8).foreach(i => sn.append(Seq((i.toLong, s"s$i")).toDF("k", "s"), t))
    val segFiles = Option(new java.io.File(s"$root/$t/manifests/seg")
      .listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".seg"))
    assert(segFiles > 2, "fixture must actually be segmented")
    // a COLD reader (no writer-side caches): the full history audit
    // parses each distinct segment at most once...
    val cold = new Snapshots(root, segThreshold = 2)
    val h1 = cold.history(spark, t).collect()
    val parsesAfterWarmup = cold.segParseCount.get()
    assert(parsesAfterWarmup <= segFiles,
      s"cold history must parse each segment at most once: " +
        s"$parsesAfterWarmup parses for $segFiles segments")
    // ...and a warm re-audit (history + $segments over every version)
    // re-parses NOTHING — counts come from the cache
    val h2 = cold.history(spark, t).collect()
    cold.versions(t).foreach(v => cold.segmentsMetadata(spark, t, v).collect())
    assert(cold.segParseCount.get() == parsesAfterWarmup,
      "warm metadata scans must hit the counts cache, not the files")
    assert(h1.toSeq == h2.toSeq)
    // the counts agree with a full entry-list walk
    val last = cold.versions(t).last
    val es = cold.readEntries(t, last)
    val row = h2.find(_.getAs[Long]("version") == last.toLong).get
    assert(row.getAs[Long]("n_data_entries") == es.count(_.kind == "data"))
    assert(row.getAs[Long]("max_seq") == es.map(_.seq).max.toLong)
    // GC eviction clears the counts cache too: counting a manually
    // deleted segment must fail loudly, not serve a cached ghost
    cold.expire(t, 1, 0L)
    Option(new java.io.File(s"$root/$t/manifests/seg").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".seg"))
      .foreach(_.delete())
    cold.cleanOrphans(t, 0L) // evicts both caches
    intercept[IllegalArgumentException] {
      cold.history(spark, t).collect()
    }
  }

  test("boundRefGroups: the geometric pass bounds typical profiles and " +
      "the coarse fallback makes maxRefs a hard invariant") {
    def grp(ref: Option[String], n: Int, tag: String) =
      (ref, (0 until n)
        .map(i => ManifestEntry("data", 0, s"$tag/d$i", Nil)).toList)
    // strictly ≥2×-decreasing sizes: the geometric pass merges nothing,
    // so only the coarse fallback can enforce the bound
    val steep = IndexedSeq(grp(Some("s16"), 16, "a"),
      grp(Some("s8"), 8, "b"), grp(None, 4, "c"), grp(None, 2, "d"),
      grp(None, 1, "e"))
    val bounded = Snapshots.boundRefGroups(steep, 4)
    assert(bounded.size <= 4, s"maxRefs must be an invariant: $bounded")
    assert(bounded.flatMap(_._2) == steep.flatMap(_._2),
      "order-preserving: the entry concatenation must be unchanged")
    assert(bounded.head._1.contains("s16"),
      "untouched head segments keep their reused refs through the fallback")
    // the cheapest (tail-most) pair merges first: 2+1, not the 24-entry head
    assert(bounded(1)._1.contains("s8"))
    // a gentle (non-geometric) profile is bounded by the geometric pass
    val gentle = IndexedSeq(grp(None, 3, "f"), grp(None, 3, "g"),
      grp(None, 3, "h"), grp(None, 3, "i"), grp(None, 3, "j"))
    val g = Snapshots.boundRefGroups(gentle, 4)
    assert(g.size <= 4)
    assert(g.flatMap(_._2) == gentle.flatMap(_._2))
    // within-bound input passes through untouched (refs preserved)
    val small = IndexedSeq(grp(Some("x"), 2, "k"), grp(None, 1, "l"))
    assert(Snapshots.boundRefGroups(small, 4) == small)
  }

  test("$partitions exact mode: the NULL bucket holds only true NULL " +
      "values, buckets merge across attribution paths, and the " +
      "segmented-manifest shape answers the same") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2) // segmented manifest
    val t = "px"
    def df(rows: Seq[(Option[Long], Double)]) =
      rows.toDF("p", "v").coalesce(1)
    sn.append(df(Seq((Some(1L), 1.0), (Some(1L), 2.0))), t) // attributable
    // multi-valued AND null-bearing: unattributable from stats alone
    sn.append(df(Seq((Some(2L), 1.0), (Some(3L), 1.0), (None, 9.0))), t)
    sn.append(df(Seq((Some(2L), 5.0))), t) // second p=2 dir, attributable
    val v = sn.currentVersion(t).get
    val exact = sn.partitionsMetadata(spark, t, v, "p", exact = true)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2), r.getBoolean(5))).toSet
    assert(exact == Set(
      (Some("1"), 1L, 2L, false), // manifest-only: exact file stats too
      (Some("2"), 2L, 2L, true),  // one manifest dir + one scanned dir
      (Some("3"), 1L, 1L, true),  // scanned only
      (None, 1L, 1L, true)),      // ONLY the genuinely-NULL row
      s"exact rollup diverged: $exact")
    // the metadata-only default conserves the whole mixed dir into the
    // NULL bucket instead (rows never dropped, just unattributed)
    val metaNull = sn.partitionsMetadata(spark, t, v, "p")
      .filter(col("partition_value").isNull)
      .select(col("record_count")).as[Long].collect().toSeq
    assert(metaNull == Seq(3L))
  }

  test("metadata soak law: 400 interleaved append/MoR-delete/merge/fold " +
      "commits keep the version file bounded, metadata writes amortized " +
      "O(delta log), and logical content exact") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "soak"
    val segDir = new java.io.File(s"$root/$t/manifests/seg")
    // per-commit metadata-write meter: entry lines landing in NEW
    // segment files (segments are immutable, so new-file lines == the
    // commit's segment-write volume)
    val seen = scala.collection.mutable.Set.empty[String]
    def newSegLines(): Long = {
      val fs = Option(segDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".seg") &&
          !seen(f.getName))
      fs.foreach(f => seen += f.getName)
      fs.map(f => Files.readAllLines(f.toPath).size.toLong).sum
    }
    val model = scala.collection.mutable.SortedMap.empty[Long, Double]
    def df(rows: Seq[(Long, Double)]) = rows.toDF("k", "v").coalesce(1)
    var nextKey = 0L
    var maxRefs = 0
    var maxVfBytes = 0L
    val perCommit = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nCommits = 400
    (1 to nCommits).foreach { i =>
      if (i % 80 == 0) {
        sn.rewriteDeletes(spark, t) // fold: logical content unchanged
      } else if (i % 25 == 0 && model.nonEmpty) {
        val k = model.lastKey // update newest + insert one
        sn.mergeUpsert(spark, t, df(Seq((k, -1.0), (nextKey, 1.0))), "k")
        model(k) = -1.0; model(nextKey) = 1.0; nextKey += 1
      } else if (i % 10 == 0 && model.size > 3) {
        val k = model.firstKey // MoR-delete oldest
        sn.deleteWhereMoR(spark, t, col("k") === k, Seq("k"))
        model -= k
      } else {
        if (sn.currentVersion(t).isEmpty)
          sn.commit(df(Seq((nextKey, 1.0))), t)
        else sn.append(df(Seq((nextKey, 1.0))), t)
        model(nextKey) = 1.0; nextKey += 1
      }
      val v = sn.currentVersion(t).get
      maxRefs = math.max(maxRefs, rawManifest(root, t, v).size)
      maxVfBytes = math.max(maxVfBytes,
        new java.io.File(s"$root/$t/manifests/v=$v.manifest").length())
      perCommit += newSegLines()
    }
    // LAW 1: the version file's ref list stays bounded at EVERY commit
    assert(maxRefs <= 16, s"version-file line count crept to $maxRefs")
    // LAW 2: version-file bytes stay flat — O(refs), never O(table)
    assert(maxVfBytes < 4096, s"version file grew to $maxVfBytes bytes")
    // LAW 3: segment writes are amortized O(delta·log): total entry
    // lines written over the run is O(n log n) — the old flat re-chunk
    // policy was O(n²/const) here — and the MEDIAN commit writes only
    // its delta
    val total = perCommit.sum.toDouble
    val bound = (2 * math.log(nCommits.toDouble) / math.log(2) + 4) * nCommits
    assert(total <= bound,
      s"total segment lines $total exceed the O(n log n) bound $bound")
    assert(perCommit.sorted.apply(perCommit.size / 2) <= 4,
      "the median commit must write delta-sized metadata")
    // LAW 4: logical content is exact after the whole interleaving
    val got = sn.current(spark, t).as[(Long, Double)].collect().toMap
    assert(got == model.toMap,
      s"content diverged: ${got.size} rows vs model ${model.size}")
    // LAW 5: after expiry + GC the live segment count is log-bounded too
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    sn.cleanOrphans(t, 0L)
    val liveSegs = Option(segDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".seg"))
    assert(liveSegs <= 16, s"live segments after GC: $liveSegs")
    assert(sn.current(spark, t).as[(Long, Double)].collect().toMap ==
      model.toMap)
  }

  test("peer-GC tolerance is exactly as narrow as documented: a " +
      "VANISHED file reads as absent, a present-but-corrupt read still " +
      "throws") {
    val root = scratch()
    val sn = new Snapshots(root)
    val gone = new java.io.File(s"$root/nope.manifest")
    // vanished (the peer-expiry case): the walk must skip, not crash
    assert(sn.unlessVanished(gone)(
      sys.error("simulated NoSuchFile")).isEmpty)
    // present but failing (corruption): MUST rethrow — silently
    // skipping a live-but-corrupt manifest would let the sweep collect
    // dirs it still references
    val present = new java.io.File(s"$root/here.manifest")
    java.nio.file.Files.writeString(present.toPath, "garbage")
    val ex = intercept[RuntimeException](
      sn.unlessVanished(present)(sys.error("corrupt parse")))
    assert(ex.getMessage == "corrupt parse")
    // fatal errors pass through even when the file is gone
    intercept[OutOfMemoryError](
      sn.unlessVanished(gone)(throw new OutOfMemoryError("fatal")))
  }

  test("GC RACES the geometric merge boundary: an expire+cleanOrphans " +
      "loop runs concurrently with commits whose ref-list merges reuse " +
      "head segments — every commit lands, aged dead metadata is " +
      "actually collected mid-run, content stays exact, every " +
      "surviving version stays readable") {
    import spark.implicits._
    val root = scratch()
    // segThreshold=2: segments form immediately and nearly every commit
    // exercises the geometric tail merge, so head-segment REUSE (the
    // merge commit re-referencing an old .seg verbatim) is constantly
    // in flight while the sweeper computes liveness
    val sn = new Snapshots(root, segThreshold = 2)
    val t = "gcrace"
    def df(rows: Seq[(Long, Double)]) = rows.toDF("k", "v").coalesce(1)
    val model = scala.collection.mutable.SortedMap.empty[Long, Double]
    // The retention contract's age shield: artifacts younger than the
    // cutoff are never swept, protecting in-flight staging (a fresh
    // merged .seg or data dir exists on disk before its manifest
    // lands). 2 s covers a local stage-to-commit window with margin;
    // metadata that has been DEAD longer than that is fair game, and
    // the run below lasts long enough for early segments to age out
    // while the writer keeps merging — the raced boundary this test
    // exists to hit.
    val shieldMs = 2000L
    @volatile var stopGc = false
    val gcErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val nExpired = new java.util.concurrent.atomic.AtomicInteger(0)
    // TWO maintenance deployments, not one: concurrent GC is the
    // documented operating mode ("concurrent deployments pass a
    // cutoff above their stage-to-commit window"), and peers racing
    // each other hit the vanish-mid-walk window — one peer deletes a
    // doomed manifest between the other's version listing and its
    // liveness read. Slightly different retention and cadence so the
    // peers genuinely interleave rather than lockstep.
    def gcLoop(keep: Int, sleepMs: Long) = new Thread(() => {
      while (!stopGc) {
        try {
          nExpired.addAndGet(
            sn.expire(t, keep = keep, gcOlderThanMillis = shieldMs).size)
          sn.cleanOrphans(t, shieldMs)
        } catch { case e: Throwable => gcErrors.add(e) }
        Thread.sleep(sleepMs)
      }
    })
    val gc = gcLoop(keep = 3, sleepMs = 50)
    val gc2 = gcLoop(keep = 4, sleepMs = 70)
    var nextKey = 0L
    sn.commit(df(Seq((nextKey, 0.0))), t); model(nextKey) = 0.0; nextKey += 1
    gc.start(); gc2.start()
    try {
      // run PAST several shield windows so early segments age into
      // sweep eligibility while commits are still merging; the floor
      // on i keeps the mix meaningful on a fast box
      val deadline = System.currentTimeMillis() + 6 * shieldMs
      var i = 0
      while (System.currentTimeMillis() < deadline || i < 60) {
        i += 1
        if (i % 15 == 0 && model.size > 3) {
          val k = model.firstKey
          sn.deleteWhereMoR(spark, t, col("k") === k, Seq("k"))
          model -= k
        } else if (i % 40 == 0) {
          sn.rewriteDeletes(spark, t) // fold: rewrites dirs AND segs
        } else {
          sn.append(df(Seq((nextKey, i.toDouble))), t)
          model(nextKey) = i.toDouble; nextKey += 1
        }
        if (i % 10 == 0) {
          // the $snapshots metadata LISTING races the sweepers too: a
          // version expiring between its listing and its count read
          // must drop from the answer, never crash the query
          assert(sn.history(spark, t).count() >= 1)
        }
      }
    } finally { stopGc = true; gc.join(); gc2.join() }
    assert(gcErrors.isEmpty,
      s"a GC loop failed mid-race: ${gcErrors.peek()}")
    assert(nExpired.get() > 0,
      "fixture: the race never expired a version — lengthen the run")
    // content is exact after the whole raced interleaving
    val got = sn.current(spark, t).as[(Long, Double)].collect().toMap
    assert(got == model.toMap,
      s"content diverged under the GC race: ${got.size} rows vs " +
        s"model ${model.size}")
    // no surviving version lost a referenced segment or data dir to
    // the sweeper — each must still materialize end-to-end
    sn.versions(t).foreach(v => sn.asOf(spark, t, v).count())
    // quiesced bound: with the writer stopped, one unshielded GC pass
    // must land the metadata at the soak law's steady state
    sn.expire(t, keep = 1, gcOlderThanMillis = 0L)
    sn.cleanOrphans(t, 0L)
    val segs = Option(
      new java.io.File(s"$root/$t/manifests/seg").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".seg"))
    assert(segs <= 16, s"live segments after quiesced GC: $segs")
    assert(sn.current(spark, t).as[(Long, Double)].collect().toMap ==
      model.toMap)
  }

  test("a PINNED time-travel read racing an expire loop returns the " +
      "FULL version or fails loudly — never a partial row set (the " +
      "reader-side dichotomy of peer-expiry tolerance)") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "pinrace"
    val rowsPerVersion = 40
    // FULL-OVERWRITE commits: every version owns fresh dirs, so an
    // expired version's dirs become GC-eligible immediately — exactly
    // the shape where a half-gutted dir could silently truncate a
    // pinned read that listed files mid-sweep. 4 files per dir widen
    // that window.
    def snap(tag: Int) = (0 until rowsPerVersion)
      .map(k => (k.toLong, tag.toDouble)).toDF("k", "v").repartition(4)
    sn.commit(snap(0), t)
    @volatile var stopBg = false
    val bgErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val nExpired = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      var i = 1
      while (!stopBg) {
        try { sn.commit(snap(i), t); i += 1 }
        catch { case e: Throwable => bgErrors.add(e) }
      }
    })
    // The age shield protects the WRITER's in-flight staging (a 0L
    // cutoff would let the sweeper gut a freshly staged dir before its
    // manifest lands — the exact window DefaultGcAgeMillis documents);
    // 1.5 s is far above a local stage-to-commit and far below the
    // run, so doomed versions still age into GC eligibility while a
    // pinned read of them is mid-plan — the raced window this test is
    // FOR stays wide open.
    val shieldMs = 1500L
    val expirer = new Thread(() => {
      while (!stopBg) {
        try nExpired.addAndGet(
          sn.expire(t, keep = 2, gcOlderThanMillis = shieldMs).size)
        catch { case e: Throwable => bgErrors.add(e) }
        Thread.sleep(5)
      }
    })
    writer.start(); expirer.start()
    var nFull = 0
    var nRefused = 0
    val partials = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    try {
      val deadline = System.currentTimeMillis() + 8000
      while (System.currentTimeMillis() < deadline) {
        // pin the OLDEST live version — the next one the expirer dooms
        sn.versions(t).headOption.foreach { v =>
          try {
            val n = sn.asOf(spark, t, v).count()
            if (n == rowsPerVersion) nFull += 1
            else partials += ((v, n)) // the forbidden third outcome
          } catch {
            // loud refusal — any face: the pre-read manifest require
            // ("no manifest"), the post-listing expiry guard ("expired
            // mid-read"), a path vanishing under the eager listing, or
            // a task failing on a file GC'd post-listing
            case scala.util.control.NonFatal(_) => nRefused += 1
          }
        }
      }
    } finally { stopBg = true; writer.join(); expirer.join() }
    assert(bgErrors.isEmpty,
      s"a background loop failed mid-race: ${bgErrors.peek()}")
    assert(partials.isEmpty,
      s"pinned reads returned PARTIAL row sets under expiry: $partials " +
        s"(each read must deliver all $rowsPerVersion rows or refuse)")
    // fixture relevance receipts: versions really expired during the
    // window, and full reads really happened (an always-refusing or
    // never-expiring run would prove nothing)
    assert(nExpired.get() > 0, "fixture: the expirer never expired")
    assert(nFull > 0, s"fixture: no pinned read completed (refused " +
      s"$nRefused times) — the race drowned the reader")
    info(s"pinned reads: $nFull full, $nRefused loud refusals, " +
      s"${nExpired.get()} versions expired")
  }

  test("mid-read expiry, the silent-partial window played DETERMINISTICALLY: " +
      "a peer expire that lands between the manifest read and the file " +
      "listing — manifest deleted, one dir gutted — must refuse loudly, " +
      "never return the surviving dirs as a truncated row set") {
    import spark.implicits._
    val root = scratch()
    val plain = new Snapshots(root)
    val t = "midread"
    def df(tag: Double, n: Int) =
      (0 until n).map(k => (k.toLong, tag)).toDF("k", "v").coalesce(1)
    plain.append(df(1.0, 30), t) // v1: {d1}
    plain.append(df(2.0, 20), t) // v2: {d1, d2} — the pinned read target
    // a Snapshots whose manifest read triggers the peer's sweep at the
    // worst possible instant: AFTER the entries are in hand, BEFORE the
    // scan lists files. The peer replays expire's exact order — doomed
    // manifest first, dirs gutted after — leaving d2 present but EMPTY
    // (mid-deleteRecursively state) while d1 still has its files: the
    // eager parquet listing then succeeds with d1's files only, which
    // without the post-listing guard is a silent 30-of-50-row answer.
    @volatile var armed = true
    val racy = new Snapshots(root) {
      override def readEntries(table: String, v: Int): Seq[ManifestEntry] = {
        val es = super.readEntries(table, v)
        if (armed && table == t && v == 2) {
          armed = false
          new java.io.File(s"$root/$t/manifests/v=2.manifest").delete()
          val d2 = es.map(_.rel).filter(_.endsWith("/d2"))
          assert(d2.size == 1, s"fixture: expected one d2 entry, got $es")
          Option(new java.io.File(s"$root/${d2.head}").listFiles())
            .getOrElse(Array.empty).foreach(_.delete())
        }
        es
      }
    }
    val ex = intercept[IllegalStateException](racy.asOf(spark, t, 2).count())
    assert(ex.getMessage.contains("expired mid-read"),
      s"expected the post-listing expiry guard, got: ${ex.getMessage}")
    // the surviving version still reads exactly (the guard refuses the
    // doomed read only, never poisons the store)
    assert(plain.asOf(spark, t, 1).count() == 30)
  }

  test("mid-read expiry on a RANGE read: an incremental appendsBetween " +
      "whose range is swept between the step walk and the listing " +
      "refuses loudly — never a short batch of the surviving dirs") {
    import spark.implicits._
    val root = scratch()
    val plain = new Snapshots(root)
    val t = "midrange"
    def df(tag: Double, n: Int) =
      (0 until n).map(k => (k.toLong, tag)).toDF("k", "v").coalesce(1)
    plain.commit(df(0.0, 10), t) // v1: seed (the range anchor)
    plain.append(df(1.0, 25), t) // v2: +B
    plain.append(df(2.0, 15), t) // v3: +C
    // the peer sweep lands after the walk's LAST manifest read and
    // before the scan lists files: expire's exact order — the oldest
    // doomed manifest (v1, the range's fromV) deleted first, then one
    // of the range's dirs mid-gut (C's files gone, dir present). The
    // eager listing then sees B's files only: without the post-listing
    // range guard that is a silent 25-of-40-row batch.
    @volatile var armed = true
    val racy = new Snapshots(root) {
      override def readEntries(table: String, v: Int): Seq[ManifestEntry] = {
        val es = super.readEntries(table, v)
        if (armed && table == t && v == 3) {
          armed = false
          new java.io.File(s"$root/$t/manifests/v=1.manifest").delete()
          val c = es.map(_.rel).filter(_.endsWith("/d3"))
          assert(c.size == 1, s"fixture: expected one d3 entry, got $es")
          Option(new java.io.File(s"$root/${c.head}").listFiles())
            .getOrElse(Array.empty).foreach(_.delete())
        }
        es
      }
    }
    val ex = intercept[IllegalStateException](
      racy.appendsBetween(spark, t, 1, 3).count())
    assert(ex.getMessage.contains("expired mid-read"),
      s"expected the post-listing range guard, got: ${ex.getMessage}")
  }

  test("m19 MoR fold advisor: crossing either threshold FLIPS the " +
      "recommendation — delete-row permille one way, delete-entry " +
      "count the other — from pure manifest metadata") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    val t = "advise"
    val rows = (1 to 1000).map(i => (i.toLong, i.toDouble))
    sn.commit(rows.toDF("k", "v").coalesce(1), t)
    // 10 of 1000 deleted: 10‰ <= 50‰, 1 delete entry <= 8 ⇒ OK
    sn.deleteWhereMoR(spark, t, col("k") <= 10, Seq("k"))
    val before = sn.morFoldAdvice(spark, t).collect().head
    assert(before.getAs[Long]("n_delete_entries") == 1L)
    assert(before.getAs[Long]("delete_rows") == 10L)
    assert(before.getAs[Long]("delete_permille") == 10L)
    assert(before.getAs[String]("recommendation") == "OK",
      s"below both thresholds must be OK: $before")
    // 90 more (k in 11..100, matched against the CURRENT snapshot which
    // already hides k<=10): 100 of 1000 ⇒ 100‰ > 50‰ ⇒ FOLD
    sn.deleteWhereMoR(spark, t, col("k") <= 100, Seq("k"))
    val after = sn.morFoldAdvice(spark, t).collect().head
    assert(after.getAs[Long]("n_delete_entries") == 2L)
    assert(after.getAs[Long]("delete_rows") == 100L)
    assert(after.getAs[Long]("delete_permille") == 100L)
    assert(after.getAs[String]("recommendation") == "FOLD_DELETES",
      s"crossing the permille threshold must flip: $after")
    // the OTHER signal flips independently: same table, permille back
    // under a raised bar, but the per-read anti-join count (2 delete
    // entries) over a tightened entry threshold still says fold
    val byEntries = sn.morFoldAdvice(spark, t,
      maxDeleteEntries = 1, maxDeletePermille = 500).collect().head
    assert(byEntries.getAs[String]("recommendation") == "FOLD_DELETES",
      s"the entry-count trigger must flip on its own: $byEntries")
    // and folding returns the advice to OK — the advisor closes its loop
    sn.rewriteDeletes(spark, t)
    val folded = sn.morFoldAdvice(spark, t).collect().head
    assert(folded.getAs[Long]("n_delete_entries") == 0L)
    assert(folded.getAs[String]("recommendation") == "OK",
      s"after rewriteDeletes the advice must return to OK: $folded")
  }

  test("appendEntries is the metadata-only appendFiles: pre-staged dirs " +
      "publish into a table without a byte rewritten, and each commit " +
      "stamps fresh manifest identity") {
    import spark.implicits._
    val sn = new Snapshots(scratch())
    // stage once under a fixture namespace: dirs on disk, no manifest
    val staged = sn.stageEntry(
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1),
      "fix", "data", 0)
    val files = new java.io.File(s"${sn.rootDir}/${staged.rel}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    // publish the SAME staged dir into two tables, metadata-only
    sn.commit(Seq((0L, 0.0)).toDF("k", "v").coalesce(1), "ta")
    sn.appendEntries("ta", Seq(staged))
    sn.appendEntries("tb", Seq(staged))
    assert(sn.current(spark, "ta").count() == 3)
    assert(sn.current(spark, "tb").count() == 2)
    // no data I/O happened: the staged dir's files are untouched
    val filesAfter = new java.io.File(s"${sn.rootDir}/${staged.rel}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    assert(filesAfter == files, "appendEntries rewrote data files")
    // fresh identity per commit: the two published entries differ from
    // each other (different commit versions) and from the staged one
    def published(t: String) = sn.readEntries(t,
      sn.currentVersion(t).get).filter(_.rel == staged.rel).head
    assert(published("ta") != published("tb"),
      "two appendEntries commits minted identical manifest identity")
    assert(published("ta").statsJson.exists(_.contains("\"mintv\":")),
      "the commit-version stamp is missing from the appended entry")
    // stage-once/publish-many: re-appending an ALREADY-STAMPED entry
    // REPLACES the stamp (fresh identity for the new commit), never
    // prepends a duplicate JSON key or grows the stats string per hop
    sn.appendEntries("tc", Seq(published("ta")))
    val hops = published("tc").statsJson.get
    assert("\"mintv\":".r.findAllIn(hops).size == 1,
      s"re-append must replace the stamp, not stack one: $hops")
    assert(hops.startsWith("""{"mintv":1,"""),
      s"tc's stamp must carry tc's own commit version: $hops")
    assert(hops.length == published("ta").statsJson.get.length,
      "stats string must not grow across publish hops")
    // and delete entries are refused — their seq ordering must migrate
    // verbatim (commitEntries/branch), never be re-stamped
    val delE = graft.plans.ManifestEntry("delete", 5, staged.rel, Seq("k"))
    intercept[IllegalArgumentException] {
      sn.appendEntries("td", Seq(delE))
    }
  }

  /** Spark jobs started on this thread while `body` runs, counted by a
    * SparkListener. Events reach listeners asynchronously, so a
    * sentinel job of its own group runs after `body`: once the
    * listener has seen it start, it has seen every earlier job. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the sentinel job")
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  /** A merge-on-read table mixing two delete key sets, null keys and
    * re-inserted keys over three data seq groups (seq 1, 3, 6):
    * v1 append, v2 delete on (k), v3 append re-inserting a deleted key,
    * v4 delete on (k, s) with null keys, v5 delete on (k), v6 append
    * re-inserting keys both sets deleted, v7 delete on (k, s). */
  private def mixedMoRTable(sn: Snapshots, t: String): Unit = {
    import spark.implicits._
    def rows(rs: (Option[Long], Option[String], Double)*) =
      rs.toDF("k", "s", "v").coalesce(1)
    sn.append(rows((Some(1L), Some("a"), 1.0), (Some(2L), Some("b"), 2.0),
      (Some(3L), None, 3.0), (None, Some("n"), 4.0), (None, None, 5.0),
      (Some(4L), Some("d"), 6.0)), t)
    sn.deleteWhereMoR(spark, t, col("k") === 1L, Seq("k"))
    sn.append(rows((Some(1L), Some("a2"), 7.0), (Some(5L), Some("e"), 8.0),
      (None, Some("n"), 9.0)), t)
    sn.deleteWhereMoR(spark, t,
      col("k").isNull && col("s") === "n" || col("k") === 3L, Seq("k", "s"))
    sn.deleteWhereMoR(spark, t, col("k").isin(2L, 5L), Seq("k"))
    sn.append(rows((Some(2L), Some("b2"), 10.0), (None, Some("n"), 11.0),
      (Some(3L), None, 12.0)), t)
    sn.deleteWhereMoR(spark, t, col("v") === 6.0 || col("v") === 12.0,
      Seq("k", "s"))
  }

  test("merge-on-read plans ONE anti-join per delete key set, reading " +
      "each data seq group and each delete dir once") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def joins(p: LogicalPlan) = p.collect { case j: Join => j }.size
    def scans(p: LogicalPlan) = p.collect { case r: LogicalRelation => r }.size
    val root = scratch()
    val sn = new Snapshots(root)
    mixedMoRTable(sn, "mplan")
    val es = sn.readEntries("mplan", sn.currentVersion("mplan").get)
    val dels = es.filter(_.kind == "delete")
    val groups = es.filter(_.kind == "data").map(_.seq).distinct.size
    assert(groups == 3 && dels.size == 4 &&
      dels.map(_.key.toSet).distinct.size == 2, s"fixture drift: $es")
    val qe = sn.current(spark, "mplan").queryExecution
    // the plan as built: one null-safe anti-join per key set, with the
    // seq rule as its residual, over one scan per group and per delete
    assert(joins(qe.analyzed) == 2, s"one join per key set:\n${qe.analyzed}")
    assert(scans(qe.analyzed) == groups + dels.size, qe.analyzed.toString)
    // Spark pushes each anti-join into the union's seq groups, where the
    // residual folds to the group's applicable deletes: never more than
    // one join per (group × key set), where the per-(group × delete)
    // plan had one per applicable delete (8 here)
    val perPair = es.filter(_.kind == "data").map(_.seq).distinct
      .map(g => dels.count(_.seq > g)).sum
    assert(perPair == 8 && joins(qe.optimizedPlan) <= groups * 2,
      s"a join per delete came back:\n${qe.optimizedPlan}")
    // when every delete is newer than every data group — an appended
    // table with unfolded deletes — the pushed-down joins share one
    // delete frame, so the executed plan scans each delete dir ONCE
    val t = "mplan2"
    sn.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), t)
    sn.append(Seq((3L, "c"), (4L, "d")).toDF("k", "s").coalesce(1), t)
    sn.deleteWhereMoR(spark, t, col("k") === 1L, Seq("k"))
    sn.deleteWhereMoR(spark, t, col("k") === 3L, Seq("k"))
    val delRels = sn.readEntries(t, sn.currentVersion(t).get)
      .filter(_.kind == "delete").map(_.rel)
    val df = sn.current(spark, t)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    val executed = new AdaptiveSparkPlanHelper {}.collect(
      df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
    delRels.foreach { rel =>
      val n = executed.count(_.relation.location.rootPaths
        .exists(_.toString.endsWith(rel)))
      assert(n == 1, s"delete dir $rel scanned $n times:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("merge-on-read per key set returns exactly the per-(seq group × " +
      "delete) semantics: re-inserted keys, null keys, two key sets, " +
      "every version, and the fold") {
    val root = scratch()
    val sn = new Snapshots(root)
    val t = "msem"
    mixedMoRTable(sn, t)
    // the reference: each data seq group anti-joined against every
    // delete entry of a strictly larger seq, one null-safe join each
    def perPair(v: Int) = {
      val es = sn.readEntries(t, v)
      val dels = es.filter(_.kind == "delete")
      es.filter(_.kind == "data").groupBy(_.seq).toSeq.map { case (seq, g) =>
        val base = spark.read.parquet(g.map(e => s"$root/${e.rel}"): _*)
        dels.filter(_.seq > seq).foldLeft(base) { (df, d) =>
          val del = spark.read.parquet(s"$root/${d.rel}")
          df.join(del, d.key.map(k => df(k) <=> del(k)).reduce(_ && _),
            "left_anti")
        }
      }.reduce(_ unionByName _)
    }
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "s", "v").collect().map(_.toString).sorted.toSeq
    val vs = sn.versions(t)
    vs.foreach(v => assert(bag(sn.asOf(spark, t, v)) == bag(perPair(v)),
      s"v=$v differs from the per-pair semantics"))
    val expected = bag(perPair(vs.last))
    // spot checks of the fixture itself: the re-inserted (1, a2) and
    // (2, b2) survive the deletes older than them, (3, null) re-inserted
    // at v6 dies under the v7 (k, s) delete, and the null-key (null, n)
    // rows die except the one re-inserted after the v4 delete
    assert(expected.contains("[1,a2,7.0]") && expected.contains("[2,b2,10.0]"))
    assert(!expected.exists(_.startsWith("[3,")))
    assert(expected.count(_.startsWith("[null,n,")) == 1 &&
      expected.contains("[null,n,11.0]"))
    assert(bag(sn.scanWhere(spark, t, col("v") > 0)) == expected)
    // the fold's probe and rewrite see the same deletes
    sn.rewriteDeletes(spark, t)
    assert(sn.readEntries(t, sn.currentVersion(t).get)
      .forall(_.kind == "data"))
    assert(bag(sn.current(spark, t)) == expected)
  }

  test("a second store instance builds a merge-on-read frame without a " +
      "Spark job once it has read the table's dirs") {
    val root = scratch()
    mixedMoRTable(new Snapshots(root), "mjobs")
    val reader = new Snapshots(root)
    reader.current(spark, "mjobs").collect() // first read
    val jobs = jobsDuring {
      (1 to 3).foreach { _ =>
        reader.current(spark, "mjobs")
        reader.scanWhere(spark, "mjobs", col("v") > 2.0)
      }
    }
    assert(jobs == 0,
      s"building the frame launched $jobs Spark jobs (footer inference)")
  }

  test("the dir schema cache keys on dir identity: a dir name rollback + " +
      "GC frees and a new commit re-mints with a new schema reads its " +
      "new columns in the writer that staged the old dir and in a reader") {
    import spark.implicits._
    val root = scratch()
    val writer = new Snapshots(root)
    val reader = new Snapshots(root)
    val t = "remint"
    writer.commit(Seq((1L, "a")).toDF("k", "s").coalesce(1), t) // v1: d1
    writer.commit(Seq((2L, "b")).toDF("k", "s").coalesce(1), t) // v2: d2
    Seq(writer, reader).foreach(sn =>
      assert(sn.current(spark, t).columns.toSeq == Seq("k", "s")))
    // another instance rolls back, expires (freeing d2) and commits a
    // frame of another schema, which re-mints the name d2
    val maint = new Snapshots(root)
    maint.rollback(spark, t, 1)
    maint.expire(t, keep = 1, gcOlderThanMillis = 0L)
    assert(!new java.io.File(s"$root/$t/data/d2").exists(), "d2 not GC'd")
    maint.commit(Seq((3L, "c", 9.5)).toDF("k", "s", "x").coalesce(1), t)
    assert(maint.readManifest(t, maint.currentVersion(t).get) ==
      Seq(s"$t/data/d2"), "fixture drift: the commit must re-mint d2")
    Seq(writer, reader).foreach { sn =>
      val df = sn.current(spark, t)
      assert(df.columns.toSeq == Seq("k", "s", "x"),
        s"stale schema served for the re-minted dir: ${df.columns.toSeq}")
      assert(df.as[(Long, String, Double)].collect().toSeq ==
        Seq((3L, "c", 9.5)))
    }
  }

  test("stageEntries refuses delete entries before staging anything: " +
      "it takes no key columns to give them") {
    import spark.implicits._
    val root = scratch()
    val sn = new Snapshots(root)
    intercept[IllegalArgumentException] {
      sn.stageEntries(Seq(Seq(1L).toDF("k"), Seq(2L).toDF("k")), "se",
        kind = "delete")
    }
    assert(!new java.io.File(s"$root/se").exists(),
      "a refused delete staging must not leave dirs behind")
  }
}
