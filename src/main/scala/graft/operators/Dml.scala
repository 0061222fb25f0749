package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T, QueryPack, Scratch}
import graft.plans.Snapshots

/** DML / table-format operators D1, D3-D9 (SURVEY.md §2.9) — the
  * BigQuery-Iceberg DML surface re-expressed as parquet rewrites +
  * versioned snapshots (no table-format jars in this build, §7.0).
  *
  * Reference semantics reproduced:
  *  - D1 INSERT INTO ... SELECT filtered reload (`PRD.md:741-766`)
  *  - D3 DELETE WHERE as anti-filter rewrite (`PRD.md:781-787`)
  *  - D4 UPDATE SET WHERE as conditional projection (`PRD.md:789-797`)
  *  - D5 time travel via pinned snapshot versions
  *    (`scripts/verify_loaded_data.sql:107-110`, `README.md:573-589`)
  *  - D6 CDC pseudo-columns `_CHANGE_TYPE`/`_CHANGE_TIMESTAMP` as an
  *    explicit change-log between snapshots (`PRD.md:955-972`)
  *  - D7 schema evolution: ADD COLUMN DEFAULT + generated column
  *    (`PRD.md:1044-1111`)
  *  - D8 CTAS snapshot (`PRD.md:974-988`)
  *  - D9 materialized-view recompute (`PRD.md:881-902`)
  *  - D10 `schema_evolution_log` audit table
  *    (`sql/create_iceberg_tables.sql:108-123`)
  *  - D11 NUMERIC→BIGNUMERIC type widening (`PRD.md:1214-1229`)
  *  - D15 CHECK-constraint evolution step (`PRD.md:1086-1105`)
  *  - D16 FOR SYSTEM_TIME BETWEEN change enumeration
  *    (`README.md:573-589`)
  *  - D20 MERGE with mid-merge schema evolution (D2 × D7)
  *
  * Scale notes: every mutation is copy-on-write into a NEW snapshot
  * version — at 100 TB you rewrite only affected partitions, readers of
  * the old version never block, and "UPDATE"/"DELETE" cost exactly one
  * scan + one write with no shuffle (narrow, codegen'd projections).
  * The CDC diff joins two snapshots on the primary key — one shuffle
  * on o_orderkey, the same plan MERGE uses.
  */
object Dml extends QueryPack {

  /** D1: INSERT INTO ... SELECT — append a filtered/projected reload of
    * "staging" (months 4-6) into a table seeded with months 1-3. */
  private val insertSelect: Q = (s, dir) => {
    val path = Scratch.dir("d01_insert")
    val o = T.load(s, dir, "orders")
    o.filter(month(col("o_orderdate")).between(1, 3))
      .write.mode(SaveMode.Overwrite).parquet(path)
    o.filter(month(col("o_orderdate")).between(4, 6))
      .filter(col("o_totalprice") > 0)
      .write.mode(SaveMode.Append).parquet(path)
    s.read.parquet(path)
      .groupBy(month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("m")
  }

  /** D3: DELETE WHERE as anti-filter rewrite: remove low-value orders,
    * rewrite, read back. */
  private val deleteWhere: Q = (s, dir) => {
    val path = Scratch.dir("d03_delete")
    val o = T.load(s, dir, "orders")
    o.write.mode(SaveMode.Overwrite).parquet(path)
    val tbl = s.read.parquet(path)
    tbl.filter(!(col("o_totalprice") < 50000.0))    // DELETE WHERE price < 50k
      .write.mode(SaveMode.Overwrite).parquet(path + "_v2")
    s.read.parquet(path + "_v2")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** D4: UPDATE SET WHERE as conditional projection rewrite — the
    * payment-migration example: collapse low priorities to 'OTHER'. */
  private val updateWhere: Q = (s, dir) => {
    val path = Scratch.dir("d04_update")
    T.load(s, dir, "orders")
      .withColumn("o_orderpriority",
        when(col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"),
          lit("OTHER")).otherwise(col("o_orderpriority")))
      .write.mode(SaveMode.Overwrite).parquet(path)
    s.read.parquet(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("o_orderpriority")
  }

  /** D5: time travel across deterministic snapshot versions: v1 = H1
    * orders, v2 = full year. Querying v1 after v2 exists must see the
    * old counts. */
  private val timeTravel: Q = (s, dir) => {
    val o = T.load(s, dir, "orders")
    // Per-invocation snapshot store, scoped HERE (not a shared-looking
    // member): Scratch.dir is unique per call, so the store starts
    // empty (commit 1 → v=1 deterministically) and two concurrent
    // invocations never see each other's versions.
    val sn = new Snapshots(Scratch.dir("snapshots"))
    val table = "orders_tt"
    sn.commit(o.filter(month(col("o_orderdate")) <= 6), table)
    sn.commit(o, table)
    // One deferred job: the three snapshot counts meet in a crossJoin
    // of 1-row aggregates instead of three eager .head() round trips.
    sn.asOf(s, table, 1).agg(count(lit(1)).as("v1_rows"))
      .crossJoin(sn.asOf(s, table, 2).agg(count(lit(1)).as("v2_rows")))
      .crossJoin(sn.current(s, table).agg(count(lit(1)).as("current_rows")))
  }

  /** D12: snapshot rollback — the recovery path the evolution log's
    * rollback_script column (d10) promises but d01-d11 never execute:
    * a bad write (v2 drops months 7-12) is undone by restoring v1 AS
    * v3, so current == v1 while the full history v1..v3 stays
    * readable. */
  private val rollbackQ: Q = (s, dir) => {
    val o = T.load(s, dir, "orders")
    val sn = new Snapshots(Scratch.dir("d12_rollback"))
    val table = "orders_rb"
    sn.commit(o, table)                                        // v1 good
    sn.commit(o.filter(month(col("o_orderdate")) <= 6), table) // v2 bad
    sn.rollback(s, table, 1)                                   // v3 == v1
    sn.current(s, table).agg(count(lit(1)).as("current_rows"))
      .crossJoin(sn.asOf(s, table, 2).agg(count(lit(1)).as("bad_rows")))
      .withColumn("n_versions",
        lit(sn.versions(table).size).cast("long"))
  }

  /** D6: CDC change log between two snapshots — explicit _change_type
    * per key (INSERT for new keys, UPDATE for changed rows), the
    * emulation of `APPENDS`/`_CHANGE_TYPE` pseudo-columns. */
  private val cdcChangeLog: Q = (s, dir) => {
    val o = T.load(s, dir, "orders")
    val v1 = o.filter(month(col("o_orderdate")) <= 9)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.select(col("o_orderkey"),
      when(col("o_orderpriority") === "1-URGENT",
        round(T.dec2(col("o_totalprice")) * lit(BigDecimal("1.05")), 2)
          .cast("double"))
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    v2.as("n").join(v1.as("p"), Seq("o_orderkey"), "left")
      .select(
        when(col("p.o_totalprice").isNull, lit("INSERT"))
          .when(col("n.o_totalprice") =!= col("p.o_totalprice"), lit("UPDATE"))
          .otherwise(lit("UNCHANGED")).as("_change_type"))
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("_change_type")
  }

  /** D7: schema evolution — ADD COLUMN with DEFAULT (backfill via
    * coalesce-view, `PRD.md:3421-3473`) + a generated column
    * (order_date DATE generated from the timestamp, `PRD.md:817`). */
  private val schemaEvolution: Q = (s, dir) => {
    val evolved = T.load(s, dir, "orders")
      .withColumn("booking_channel",
        when(col("o_orderkey") % 3 === 0, lit("mobile"))
          .otherwise(lit(null).cast("string")))
    // v1-compat view: readers of the old schema see the default
    val compat = evolved
      .withColumn("booking_channel",
        coalesce(col("booking_channel"), lit("web")))
      .withColumn("order_date", to_date(col("o_orderdate"))) // generated col
    compat.groupBy(col("booking_channel"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("order_date")).as("n_days"))
      .orderBy("booking_channel")
  }

  /** D10: `schema_evolution_log` audit table
    * (/root/reference/sql/create_iceberg_tables.sql:108-123): every
    * evolution op appends one audit row recording what changed and how
    * to roll it back. Each step here ACTUALLY evolves the orders frame
    * and commits its evolved SCHEMA as a snapshot (limit(0) — schema
    * evolution is a metadata-only operation in the reference's table
    * format, so the emulation must not rewrite data either; the data
    * transforms themselves are verified by d07/d11). The logged
    * `snapshot_version` is the version that commit returned, so the
    * log provably tracks real schema history. Divergence from the
    * reference: the audit column is a deterministic snapshot version,
    * not `applied_timestamp` wall clock — same ordering information,
    * oracle-comparable (the same trade P8/created_at makes). */
  private val schemaEvolutionLog: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("evolog"))
    val o = T.load(s, dir, "orders")
    val evolutions: Seq[(String, String, String, DataFrame => DataFrame)] =
      Seq(
        ("ev_001", "ADD_COLUMN",
          "booking_channel STRING DEFAULT 'web'",
          df => df.withColumn("booking_channel",
            when(col("o_orderkey") % 3 === 0, lit("mobile"))
              .otherwise(lit(null).cast("string")))),
        ("ev_002", "ADD_GENERATED_COLUMN",
          "order_date DATE GENERATED ALWAYS AS (DATE(o_orderdate))",
          df => df.withColumn("order_date", to_date(col("o_orderdate")))),
        ("ev_003", "TYPE_WIDENING",
          "o_totalprice NUMERIC(18,2) -> BIGNUMERIC(38,8)",
          df => df.withColumn("o_totalprice_precise",
            T.dec2(col("o_totalprice")).cast("decimal(38,8)"))))
    var cur = o
    val logRows = evolutions.map { case (id, typ, desc, evolve) =>
      cur = evolve(cur)
      val v = sn.commit(cur.limit(0), "orders_evolved")
      (id, "orders", typ, desc, v, "graft",
        s"ALTER TABLE orders DROP COLUMN -- rollback of $id")
    }
    import s.implicits._
    sn.commit(
      logRows.toDF("evolution_id", "table_name", "change_type",
        "change_description", "snapshot_version", "applied_by",
        "rollback_script"),
      "schema_evolution_log")
    sn.current(s, "schema_evolution_log").orderBy("evolution_id")
  }

  /** D20: MERGE with schema evolution — the composition d02 (MERGE) and
    * d07 (ADD COLUMN) each cover alone: the SOURCE carries a column the
    * target has never seen (`channel`), so the upsert must evolve the
    * target schema mid-merge — matched rows update price AND gain the
    * new column, source-only rows insert with it, target-only rows
    * carry through with NULL (Iceberg's
    * `spark.sql.merge.schema.evolution` / Delta `autoMerge` behavior).
    * Both schema states are PHYSICAL parquet round trips, and the
    * output pins the column counts of each version — the evolution is
    * proven on disk, not on a DataFrame in flight.
    *
    * Scale notes: same copy-on-write shape as q16 — one shuffle join on
    * the key, no broadcast of the ~50% update set; the schema change
    * itself costs nothing extra (new column = new parquet footer, old
    * files never rewritten under a real table format; here v2 is a full
    * rewrite because plain parquet has no delete files). */
  private val mergeSchemaEvolution: Q = (s, dir) => {
    val path = Scratch.dir("d20_merge_evo")
    val o = T.load(s, dir, "orders")
    o.filter(month(col("o_orderdate")).between(1, 6))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(path + "/v1")
    val target = s.read.parquet(path + "/v1")
    val source = o.filter(month(col("o_orderdate")).between(4, 9))
      .select(col("o_orderkey").as("src_key"),
        col("o_orderstatus").as("src_status"),
        col("o_totalprice").as("src_price"),
        when(col("o_orderkey") % 3 === 0, lit("mobile"))
          .when(col("o_orderkey") % 3 === 1, lit("web"))
          .otherwise(lit("partner")).as("channel"))
    val merged = target
      .join(source, target("o_orderkey") === source("src_key"),
        "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("src_key")).as("o_orderkey"),
        coalesce(col("src_status"), col("o_orderstatus"))
          .as("o_orderstatus"),
        coalesce(col("src_price"), col("o_totalprice")).as("o_totalprice"),
        col("channel"),
        when(col("o_orderkey").isNull, lit("inserted"))
          .when(col("src_key").isNull, lit("unchanged"))
          .otherwise(lit("updated")).as("merge_action"))
    merged.write.mode(SaveMode.Overwrite).parquet(path + "/v2")
    val evolved = s.read.parquet(path + "/v2")
    evolved
      .groupBy(col("merge_action"),
        coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      // the on-disk schema proof: v1 never had the column, v2 does
      .withColumn("v1_n_cols", lit(target.columns.length.toLong))
      .withColumn("v2_n_cols", lit(evolved.columns.length.toLong))
      .orderBy("merge_action", "channel")
  }

  /** D11: the NUMERIC → BIGNUMERIC type-widening migration
    * (/root/reference/PRD.md:1214-1229): ADD COLUMN at the wider type,
    * backfill by casting the old column, then a compat view exposing
    * the precise column under the canonical name. Widening goes
    * through the exact 2-dp decimal (never double→decimal directly —
    * Spark casts the shortest decimal string while DuckDB casts the
    * binary value, and extending a DECIMAL's scale is exact in both).
    * Output: proof the backfill is total and value-preserving. */
  private val typeWidening: Q = (s, dir) => {
    val path = Scratch.dir("d11_widen")
    T.load(s, dir, "orders")
      .withColumn("o_totalprice_precise",
        T.dec2(col("o_totalprice")).cast("decimal(38,8)"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    // compat view: old readers see the canonical column name at the
    // new precision (reference: CREATE VIEW ... EXCEPT(fare_amount))
    val precise = s.read.parquet(path)
      .drop("o_totalprice")
      .withColumnRenamed("o_totalprice_precise", "o_totalprice")
    // Final projection casts DECIMAL(38,8) → STRING: the driver's hash
    // compare stringifies values, and a decimal-typed output column
    // keeps full-scale trailing zeros on the Spark side while the
    // oracle path drops them (the r5 d11/p03 hash mismatches — the
    // only two queries emitting decimal columns). The string form is
    // identical in both engines ('…06000000'), and casting to DOUBLE
    // instead would double-round 18-significant-digit sums in DuckDB
    // (int128 → double, then /10^8).
    precise.agg(
      count(lit(1)).as("n_rows"),
      count(when(col("o_totalprice").isNull, 1)).as("n_null"),
      sum(col("o_totalprice")).cast("decimal(38,8)").cast("string")
        .as("sum_precise"),
      max(col("o_totalprice")).cast("string").as("max_precise"))
  }

  /** D8: CTAS snapshot of an aggregate, then query the snapshot. */
  private val ctasSnapshot: Q = (s, dir) => {
    val path = Scratch.dir("d08_ctas")
    T.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        round(T.moneySum(col("l_extendedprice")), 2).as("revenue"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    s.read.parquet(path).orderBy("l_returnflag", "l_linestatus")
  }

  /** D9: materialized-view recompute — the daily stats matview rebuilt
    * from base tables with a deterministic refresh version stamp. */
  private val matviewRecompute: Q = (s, dir) => {
    val path = Scratch.dir("d09_matview")
    val mv = T.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(count(lit(1)).as("n_orders"),
        round(T.moneySum(col("o_totalprice")), 2).as("revenue"))
      .withColumn("refresh_version", lit(1))
    mv.write.mode(SaveMode.Overwrite).parquet(path)
    s.read.parquet(path)
      .filter(col("n_orders") >= 2)
      .orderBy("order_day")
  }

  /** D9-ext: INCREMENTAL matview maintenance — the refresh d09 does by
    * full recompute, done by merging partial aggregates instead: the
    * view stores decomposable state (count + exact decimal sum), a
    * delta batch aggregates ONLY its own rows, and the new version is
    * a small groupBy over (stored state ∪ delta state). History is
    * never rescanned — at 100 TB the full recompute rereads the world
    * while this reads yesterday's partial rows (|days| rows) plus the
    * delta. The oracle is the full recompute over all rows: merged
    * partials must be indistinguishable from it (sum/count are
    * self-decomposable; the exact-decimal state dodges float
    * reassociation). Final projection casts the decimal state out to
    * double — the published schema carries no DECIMAL column. */
  private val incrementalMatview: Q = (s, dir) => {
    val path = Scratch.dir("d13_incr_mv")
    val o = T.load(s, dir, "orders")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(T.dec2(col("o_totalprice"))).as("price_state"))
    // v1: bootstrap from history (months 1-6)
    partial(o.filter(month(col("o_orderdate")) <= 6))
      .write.mode(SaveMode.Overwrite).parquet(path)
    // delta arrives (months 7-12): aggregate the delta alone, merge
    // states — one shuffle over |days| + |delta days| partial rows
    val delta = partial(o.filter(month(col("o_orderdate")) > 6))
    // both sides carry identical types: the stored state is the same
    // sum(decimal(18,2)) the delta produces, round-tripped via parquet
    val merged = s.read.parquet(path)
      .unionByName(delta)
      .groupBy(col("order_day"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("price_state")).as("price_state"))
    merged
      .select(col("order_day"), col("n_orders").cast("long").as("n_orders"),
        round(col("price_state").cast("double"), 2).as("revenue"))
      .orderBy("order_day")
  }

  /** D-ext: dynamic partition overwrite — the idempotent daily-reload
    * primitive: rewriting one day's partition must not touch the
    * others (static overwrite mode would wipe the whole table; the
    * reference's WRITE_TRUNCATE per-partition loads assume exactly
    * this). Writes month-partitioned orders, then reloads ONLY month
    * 3 with a filtered (corrected) copy in dynamic mode; months ≠ 3
    * must survive byte-for-byte. The read-back proves both halves:
    * month 3 shows the correction (low-value rows dropped), other
    * months show original counts. At 100 TB this is the difference
    * between rewriting ~1/365th of the table and rewriting the
    * table. */
  private val dynamicPartitionOverwrite: Q = (s, dir) => {
    val path = Scratch.dir("d14_dyn_overwrite")
    val o = T.load(s, dir, "orders")
      .withColumn("o_month", month(col("o_orderdate")))
    o.write.mode(SaveMode.Overwrite)
      .partitionBy("o_month").parquet(path)
    // daily reload, corrected: month 3 drops its sub-1000 rows.
    // Restore the PREVIOUS mode, not a hardcoded "static" — the conf
    // is session-shared and a harness that runs dynamic by default
    // must not be silently flipped.
    val prevMode = s.conf.get(
      "spark.sql.sources.partitionOverwriteMode", "static")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      o.filter(col("o_month") === 3 && col("o_totalprice") >= 1000.0)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("o_month").parquet(path)
    } finally
      s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    s.read.parquet(path)
      .groupBy(col("o_month").cast("long").as("o_month"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("o_month")
  }

  /** D15: CHECK-constraint evolution — the last step of the reference's
    * payment-migration story (`PRD.md:1086-1105`): ADD COLUMN
    * payment_method + migrate via business-logic CASE, then ADD
    * CONSTRAINT valid_payment_method enforced as a validation filter
    * (the engine has no declarative CHECK): conforming rows commit,
    * violations dead-letter with a reason (the s06 pattern), and the
    * evolution lands as a d10-style audit row whose snapshot_version is
    * the commit the constraint first gated. Every output value is read
    * BACK from the three sinks, so the split/commit/log side effects —
    * not the in-memory frames — are what the oracle checks. */
  private val checkConstraint: Q = (s, dir) => {
    import s.implicits._
    val sn = new Snapshots(Scratch.dir("d15_check"))
    // Step 1+2: ADD COLUMN + migrate existing data with business logic
    val migrated = T.load(s, dir, "orders")
      .withColumn("payment_method",
        when(col("o_orderpriority") === "1-URGENT", "credit_card")
          .when(col("o_orderpriority") === "2-HIGH", "debit_card")
          .when(col("o_orderpriority") === "3-MEDIUM", "cash")
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", "comp")
          .otherwise("unknown")) // 5-LOW falls outside the domain
    // Step 3: ADD CONSTRAINT valid_payment_method CHECK (payment_method
    // IN (...)) — as a filter + dead letter, one narrow pass each side
    val allowed = Seq("credit_card", "debit_card", "cash", "comp")
    val inDomain = col("payment_method").isin(allowed: _*)
    val errPath = Scratch.dir("d15_violations")
    migrated.filter(!inDomain)
      .withColumn("error_reason",
        concat(lit("CHECK valid_payment_method failed: "),
          col("payment_method")))
      .write.mode(SaveMode.Overwrite).parquet(errPath)
    val v = sn.commit(migrated.filter(inDomain), "orders_checked")
    sn.commit(Seq(("ev_004", "orders", "ADD_CONSTRAINT",
      s"valid_payment_method CHECK (payment_method IN (${allowed.mkString(", ")}))",
      v, "graft",
      "ALTER TABLE orders DROP CONSTRAINT valid_payment_method"))
      .toDF("evolution_id", "table_name", "change_type",
        "change_description", "snapshot_version", "applied_by",
        "rollback_script"),
      "schema_evolution_log")
    sn.current(s, "schema_evolution_log")
      .select(col("evolution_id"), col("change_type"),
        col("snapshot_version"))
      .crossJoin(sn.current(s, "orders_checked")
        .agg(count(lit(1)).as("n_valid")))
      .crossJoin(s.read.parquet(errPath)
        .agg(count(lit(1)).as("n_violations"),
          max(col("payment_method")).as("violating_method")))
  }

  /** D16: `FOR SYSTEM_TIME BETWEEN` change enumeration
    * (`README.md:573-589`) — the D5×D6 composition the reference's
    * audit query runs: three snapshots (H1 → bumped 9 months → full
    * year with a correction delete), then every change between v1 and
    * v3 with its `_change_type` and `_change_version`, rolled up per
    * (version, type). The diff itself is [[Snapshots.changesBetween]];
    * the oracle re-derives each count from the month/priority/status
    * predicates that defined the snapshots. */
  private val systemTimeBetween: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d16_changes"))
    val t = "orders_hist"
    val o = T.load(s, dir, "orders")
    val bumped = o.withColumn("o_totalprice",
      when(col("o_orderpriority") === "1-URGENT",
        round(T.dec2(col("o_totalprice")) * lit(BigDecimal("1.05")), 2)
          .cast("double"))
        .otherwise(col("o_totalprice")))
    def snap(df: DataFrame) =
      df.select(col("o_orderkey"), col("o_totalprice"))
    sn.commit(snap(o.filter(month(col("o_orderdate")) <= 6)), t)      // v1
    sn.commit(snap(bumped.filter(month(col("o_orderdate")) <= 9)), t) // v2
    sn.commit(snap(bumped.filter(!(month(col("o_orderdate")) <= 3 &&
      col("o_orderstatus") === "F"))), t)                             // v3
    sn.changesBetween(s, t, 1, 3, "o_orderkey")
      .groupBy(col("_change_version").cast("long").as("_change_version"),
        col("_change_type"))
      .agg(count(lit(1)).as("n_changes"))
      .orderBy("_change_version", "_change_type")
  }

  /** D17: write-audit-publish — the branch workflow a production
    * lakehouse runs every load through (Iceberg's WAP pattern; the
    * reference's staging-then-publish loads assume it): the candidate
    * batch lands on a STAGING branch, an audit query gates it, a
    * failed audit triggers a fix + restage (main never sees the bad
    * rows), and only the passing snapshot publishes. Here the Q3 load
    * arrives with deterministic corruption (negated prices on
    * orderkey % 97 == 0); audit v1 fails, the fixed batch restages,
    * audit v2 passes, publish fast-forwards main. Every count is read
    * back from the branch/main snapshots, so the isolation property —
    * main's row count changes only at publish — is what the oracle
    * checks. */
  private val writeAuditPublish: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d17_wap"))
    val o = T.load(s, dir, "orders")
    sn.commit(o.filter(month(col("o_orderdate")) <= 6), "main")   // main v1
    // staging branches FROM main — a manifest copy, zero data bytes —
    // then the Q3 load APPENDS onto it WITH a defect (negated prices
    // on a deterministic key slice). Only the Q3 delta is written;
    // main's H1 files are referenced, never copied.
    sn.branch("main", "staging")                                  // staging v1
    val q3 = o.filter(month(col("o_orderdate")).between(7, 9))
    sn.append(
      q3.withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice"))), "staging")            // staging v2
    val mainBefore = sn.current(s, "main").agg(count(lit(1)).as("main_before"))
    def audit(df: DataFrame) =
      df.agg(coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
        lit(0L)).as("n"))
    val audit1 = audit(sn.current(s, "staging"))
      .select(col("n").as("audit1_violations"))
    // audit failed -> copy-on-write fix (staging v3): the bad rows live
    // only in the appended delta dir, so deleteWhere rewrites THAT dir
    // and keeps main's shared H1 files untouched; main never sees any
    // of it
    sn.deleteWhere(s, "staging", col("o_totalprice") <= 0)        // staging v3
    sn.publish(s, "staging", "main")           // main v2 — manifest copy
    // audit2 + main_after read back from main AFTER the fast-forward —
    // main v2 IS staging v3 (same manifest), so one scan proves both
    // "the published snapshot is violation-free" and the row count
    val mainAfter = sn.current(s, "main").agg(
      coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
        lit(0L)).as("audit2_violations"),
      count(lit(1)).as("main_after"))
    mainBefore.crossJoin(audit1).crossJoin(mainAfter)
      .withColumn("main_versions",
        lit(sn.versions("main").size).cast("long"))
  }

  /** D-ext: partition-spec evolution — the Iceberg capability the
    * BigQuery-Iceberg reference platform leans on (partition layout
    * can change without rewriting history): months 1-6 were written
    * under the ORIGINAL spec (partitioned by month), the table then
    * evolves to (month, orderpriority), and months 7-12 land under the
    * new spec. Old files are never rewritten — evolution is a
    * metadata-only change — and readers see one logical table across
    * both layouts (`unionByName` aligns the differing column orders).
    *
    * 100 TB shape: the evolution itself costs ZERO data movement; a
    * predicate on the new partition key partition-prunes every
    * new-spec file and falls back to row-group stats on old-spec
    * files — exactly Iceberg's documented read behavior after
    * evolution. The read-back aggregates across both specs to prove
    * the logical table is seamless. */
  private val partitionEvolution: Q = (s, dir) => {
    val path = Scratch.dir("d18_partition_evolution")
    val o = T.load(s, dir, "orders")
      .withColumn("o_month", month(col("o_orderdate")))
    // CLUSTERED writes: repartition by the partition columns first, so
    // each partition dir is written by the one task that owns its
    // group — one right-sized file per dir instead of (tasks ×
    // partitions) shards. This is Iceberg's write-distribution-mode=
    // hash discipline, and it is what keeps the spec2 layout (month ×
    // priority = 30 dirs) from exploding into hundreds of tiny files
    // that every later read re-lists and re-opens — the exact
    // small-file disease M1 compaction exists to cure, avoided at
    // write time.
    o.filter(col("o_month") <= 6)
      .repartition(col("o_month"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("o_month").parquet(s"$path/spec1")
    o.filter(col("o_month") >= 7)
      .repartition(col("o_month"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("o_month", "o_orderpriority").parquet(s"$path/spec2")
    s.read.parquet(s"$path/spec1")
      .unionByName(s.read.parquet(s"$path/spec2"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_month")).as("n_months"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** D-ext: copy-on-write UPDATE at file granularity over the manifest
    * store — the table-format UPDATE the reference's `PRD.md:789-797`
    * in-place example becomes once the table is snapshot-managed: four
    * quarterly appends seed four immutable data dirs, then ONE
    * `updateWhere` flips Q3's sign and tags its priorities. Only the
    * dir(s) holding Q3 rows rewrite; Q1/Q2/Q4 entries carry over
    * verbatim in the new manifest (MaintenanceSpec proves the paths
    * are identical). Both SET columns are applied simultaneously —
    * each right-hand side sees the OLD row, SQL UPDATE semantics.
    * 100 TB shape: write cost is O(affected files); the probe is one
    * pushdown scan after footer-stat pruning. */
  private val cowUpdate: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d23_cow_update"))
    val t = "orders_cu"
    val o = T.load(s, dir, "orders")
    // one staging job for all four quarterly dirs, four O(metadata)
    // append-commits — the same row sets and manifest semantics as four
    // sn.append calls, minus three tiny-write jobs' fixed cost (see
    // Snapshots.stageEntries)
    sn.appendMany(Seq((1, 3), (4, 6), (7, 9), (10, 12)).map { case (a, b) =>
      o.filter(month(col("o_orderdate")).between(a, b)) }, t)
    val q3 = month(col("o_orderdate")).between(7, 9)
    sn.updateWhere(s, t, q3, Map(
      "o_totalprice" -> -col("o_totalprice"),
      "o_orderpriority" -> concat(lit("U:"), col("o_orderpriority"))))
    sn.current(s, t)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("n_versions",
        lit(sn.versions(t).size).cast("long"))
      .orderBy("o_orderpriority")
  }

  /** D-ext: batch copy-on-write MERGE (upsert) over the manifest store —
    * the WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * form at
    * file granularity (the batch twin of the streaming upsert sink).
    * Target = three quarterly dirs (months 1-9); source = Q1 rows with
    * key%5==0 re-statused 'U' (updates) plus all Q4 rows (inserts).
    * Only the Q1 dir holds a source key, so Q2/Q3 dirs carry over by
    * reference — write cost O(affected files + source). */
  private val mergeUpsertQ: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d24_merge_upsert"))
    val t = "orders_mu"
    val o = T.load(s, dir, "orders")
    sn.appendMany(Seq((1, 3), (4, 6), (7, 9)).map { case (a, b) =>
      o.filter(month(col("o_orderdate")).between(a, b)) }, t)
    val src = o
      .filter(month(col("o_orderdate")) <= 3 && col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(o.filter(month(col("o_orderdate")) >= 10))
    sn.mergeUpsert(s, t, src, "o_orderkey")
    sn.current(s, t)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("n_versions",
        lit(sn.versions(t).size).cast("long"))
      .orderBy("o_orderstatus")
  }

  /** D-ext: MERGE-ON-READ equality delete — Iceberg v2's delete-file
    * mechanism, the only delete shape a 100 TB hot path can afford:
    * `deleteWhereMoR` writes ONLY the matching keys as an equality-
    * delete dir (no data file rewrites), the read applies it as an
    * anti-join, and a LATER append re-inserting some of those keys
    * survives the delete because its data sequence number outranks the
    * delete's — the Iceberg sequencing rule, proven cross-engine here:
    * keys %7 deleted, keys %14 re-landed with status 'R', and the
    * pre-delete snapshot still reads complete (time travel under MoR). */
  /** Shared d25/d26 fixture: two half-year appends, the %7 MoR delete,
    * the %14 're-landed' append that must outrank it. Returns (store,
    * table, pre-delete version). One definition so the d26 oracle's
    * "same table shape as d25" premise can't drift one-sided. */
  private[graft] def buildMorTable(s: SparkSession, dir: String,
      scratchName: String): (Snapshots, String, Int) = {
    val sn = new Snapshots(Scratch.dir(scratchName))
    val t = "orders_mor"
    val o = T.load(s, dir, "orders")
    sn.appendMany(Seq(
      o.filter(month(col("o_orderdate")) <= 6),
      o.filter(month(col("o_orderdate")) >= 7)), t)          // v1-v2, seq 1-2
    val preV = sn.currentVersion(t).get
    sn.deleteWhereMoR(s, t, col("o_orderkey") % 7 === 0,
      Seq("o_orderkey"))                                     // v3: delete file
    sn.append(o.filter(col("o_orderkey") % 14 === 0)
      .withColumn("o_orderstatus", lit("R")), t)             // v4, seq 4
    (sn, t, preV)
  }

  private val morDelete: Q = (s, dir) => {
    val (sn, t, preV) = buildMorTable(s, dir, "d25_mor_delete")
    val now = sn.current(s, t).agg(
      count(lit(1)).as("n_rows"),
      count(when(col("o_orderkey") % 7 === 0, 1)).as("n_div7"),
      count(when(col("o_orderstatus") === "R", 1)).as("n_reinserted"))
    val preDelete = sn.asOf(s, t, preV)
      .agg(count(lit(1)).as("n_pre_delete"))
    now.crossJoin(preDelete)
      .withColumn("n_versions", lit(sn.versions(t).size).cast("long"))
  }

  /** D-ext: fold merge-on-read deletes into data files — Iceberg's
    * major compaction (`rewrite_data_files` over a table carrying
    * delete files), the maintenance step that returns reads to the
    * zero-join fast path. Same table shape as d25; after
    * `rewriteDeletes` the manifest holds zero delete entries (emitted
    * as a column from the manifest itself), the re-inserted rows are
    * still present, and the logical frame is IDENTICAL to the unfolded
    * one — which is exactly what the shared DuckDB oracle checks. The
    * re-insert dir (seq ≥ every delete seq) carries over without
    * rewrite; only dirs holding a deleted key pay I/O. */
  private val morFold: Q = (s, dir) => {
    val (sn, t, _) = buildMorTable(s, dir, "d26_mor_fold")
    sn.rewriteDeletes(s, t)
    val nDeleteEntries = sn
      .readEntries(t, sn.currentVersion(t).get)
      .count(_.kind == "delete")
    sn.current(s, t).agg(
      count(lit(1)).as("n_rows"),
      count(when(col("o_orderkey") % 7 === 0, 1)).as("n_div7"),
      count(when(col("o_orderstatus") === "R", 1)).as("n_reinserted"))
      .withColumn("n_delete_entries", lit(nDeleteEntries).cast("long"))
      .withColumn("n_versions", lit(sn.versions(t).size).cast("long"))
  }

  /** D-ext: manifest-stats pruned scan — Iceberg's scan-planning file
    * skip: the snapshot's data dirs carry footer-stat sidecars
    * (min/max/nulls per column, harvested at stage time), and
    * `scanWhere` drops every dir whose stats PROVE the predicate can't
    * match before Spark lists or opens it. The table splits on
    * o_orderdate at 1998; the probe predicate (>= 2000) provably
    * excludes the early dir, so exactly ONE of the two dirs enters the
    * scan — `n_dirs_read` is computed from the plan's actual input
    * files and cross-checked as a constant. Partition-pruning
    * economics with no partition column: at 100 TB a narrow time
    * predicate opens the handful of dirs it can touch, not the table. */
  /** A timestamp literal pinned to UTC WALL-CLOCK — `Timestamp.valueOf`
    * would parse in the JVM-default zone and diverge from the oracle's
    * naive TIMESTAMP literal on any non-UTC host (the session zone is
    * pinned to UTC; the JVM zone is not). */
  private def utcTs(isoDateTime: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.LocalDateTime.parse(isoDateTime)
      .toInstant(java.time.ZoneOffset.UTC))

  private val prunedScan: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d27_pruned_scan"))
    val t = "orders_ps"
    val o = T.load(s, dir, "orders")
    val split = utcTs("1998-01-01T00:00:00")
    val probe = utcTs("2000-01-01T00:00:00")
    sn.appendMany(Seq(
      o.filter(col("o_orderdate") < lit(split)),
      o.filter(col("o_orderdate") >= lit(split))), t)
    val m = sn.readManifest(t, sn.currentVersion(t).get)
    val pruned = sn.scanWhere(s, t, col("o_orderdate") >= lit(probe))
    // trailing '/' so 'data/d1' can never prefix-collide with a
    // hypothetical 'data/d10'; one inputFiles walk, not one per entry
    val inFiles = pruned.inputFiles
    val dirsRead = m.count(rel => inFiles.exists(_.contains(rel + "/")))
    pruned.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("n_dirs_read", lit(dirsRead).cast("long"))
      .orderBy("o_orderstatus")
  }

  /** D-ext: incremental append scan — the tail read an incremental
    * downstream pipeline runs instead of reprocessing the table
    * (Iceberg's incremental read). Commit sequence: v1 seeds Q1, v2
    * appends Q2, v3 is a copy-on-write DELETE inside Q1 (a REWRITE —
    * not an append), v4 appends Q3. `appendsBetween(1, 4)` must emit
    * exactly Q2 ∪ Q3 — the CoW version is skipped (its delta is change
    * data, not an append; emitting its rewritten dir would DUPLICATE
    * Q1 rows downstream), and the deleted rows don't retro-vanish from
    * Q2/Q3 because they were never in them. The version-type
    * classification is a manifest set-diff: pure metadata, zero data
    * I/O; only the two appended dirs are scanned. */
  private val incrementalAppends: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d28_appends"))
    val t = "orders_ia"
    val o = T.load(s, dir, "orders")
    val ia = sn.stageEntries(Seq(
      o.filter(month(col("o_orderdate")) <= 3),
      o.filter(month(col("o_orderdate")).between(4, 6))), t)
    sn.commitEntries(t, Seq(ia(0)))                                 // v1
    sn.appendEntries(t, Seq(ia(1)))                                 // v2
    sn.deleteWhere(s, t,
      month(col("o_orderdate")) <= 3 && col("o_orderkey") % 2 === 0) // v3
    sn.append(o.filter(month(col("o_orderdate")).between(7, 9)), t) // v4
    sn.appendsBetween(s, t, 1, sn.currentVersion(t).get)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("n_versions", lit(sn.versions(t).size).cast("long"))
      .orderBy("o_orderstatus")
  }

  /** D19: SCD Type-2 dimension build — the versioned-dimension staple a
    * lakehouse warehouse layer runs on every batch (the reference's
    * MERGE story, `PRD.md:799-815`, only updates in place; Type-2 is
    * what its BI consumers need for as-was reporting). v1 seeds the
    * dimension (keys with custkey % 5 != 0) with
    * (valid_from, valid_to, is_current) lifecycle columns; a full
    * update feed then arrives where every custkey % 7 == 0 moved to
    * the MACHINERY segment, and the merge must: close changed rows
    * (valid_to = batch version), open their replacements, insert
    * brand-new keys, and leave unchanged rows untouched.
    *
    * Shape: ONE left join of the feed against current rows, then each
    * joined row explodes into exactly the lifecycle rows it produces
    * (close+open / open / keep) — the three-way outcome is a single
    * pass, not three filters each re-running the join. History rows
    * never join at all. At 100 TB the cost is one shuffle on the dim
    * key over current rows only — the same plan MERGE (q16) uses —
    * and the explode adds no exchange. Every output value is read
    * back from the committed v2 snapshot. */
  private val scd2Build: Q = (s, dir) => {
    val sn = new Snapshots(Scratch.dir("d19_scd2"))
    val t = "dim_customer"
    val c = T.load(s, dir, "customer")
    sn.commit(
      c.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          lit(1L).as("valid_from"),
          lit(null).cast("long").as("valid_to"),
          lit(true).as("is_current")),
      t)
    val updates = c.select(col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit("MACHINERY"))
        .otherwise(col("c_mktsegment")).as("new_segment"))
    val dim = sn.current(s, t)
    val cur = dim.filter(col("is_current"))
      .select(col("c_custkey"), col("c_mktsegment").as("old_segment"),
        col("valid_from").as("old_from"))
    val batchV = lit((sn.currentVersion(t).get + 1).toLong)
    val open = struct(col("new_segment").as("c_mktsegment"),
      batchV.as("valid_from"), lit(null).cast("long").as("valid_to"),
      lit(true).as("is_current"))
    val close = struct(col("old_segment").as("c_mktsegment"),
      col("old_from").as("valid_from"), batchV.as("valid_to"),
      lit(false).as("is_current"))
    val keep = struct(col("old_segment").as("c_mktsegment"),
      col("old_from").as("valid_from"),
      lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    val merged = updates.join(cur, Seq("c_custkey"), "left")
      .select(col("c_custkey"), explode(
        when(col("old_segment").isNull, array(open))          // new key
          .when(col("old_segment") =!= col("new_segment"),
            array(close, open))                               // changed
          .otherwise(array(keep))).as("r"))                   // unchanged
      .select(col("c_custkey"), col("r.*"))
    // current keys absent from the feed stay current; closed history
    // rows pass through untouched (v1 has none — kept for generality,
    // both legs prune to empty scans here)
    val untouched = cur.join(updates, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("old_segment").as("c_mktsegment"),
        col("old_from").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    sn.commit(
      dim.filter(!col("is_current")).unionByName(merged)
        .unionByName(untouched), t)
    sn.current(s, t)
      .groupBy(col("valid_from"), col("valid_to"), col("is_current"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_custkey")).as("key_sum"),
        count(when(col("c_mktsegment") === "MACHINERY", 1))
          .as("n_machinery"))
      .orderBy("valid_from", "is_current")
  }

  /** D2 as its own id: MERGE with a CONDITIONAL matched clause — WHEN
    * MATCHED **AND** guard THEN UPDATE, else the match is skipped
    * (q16 exercises the unconditional update; the guarded clause is
    * the variant Iceberg/Delta MERGE grammars add and the reference's
    * PRD MERGE examples use). Emulation: left join source onto target,
    * three-way action classification, guarded price rewrite. One
    * keyed shuffle; the source side aggregates before nothing — it is
    * a filtered projection, broadcast at dim scale. */
  /** D22: incremental JOIN-view maintenance — the algebraic delta rule
    * behind every streaming materialized join view:
    * (A₀∪ΔA) ⋈ (B₀∪ΔB) = A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, so an
    * append-only view refresh touches only the three DELTA terms —
    * never recomputes A₀⋈B₀ (d13 maintains an AGGREGATE incrementally;
    * this maintains a JOIN, the harder half of IVM). The base view is
    * a PHYSICAL parquet round trip (the d20/d21 discipline), the three
    * delta joins append to it, and the published rollup comes from the
    * incrementally-built view — the oracle recomputes the full join
    * from scratch, so equality IS the delta-rule proof.
    *
    * Splits: A = orders by order half-year, B = lineitem by line
    * number — both deltas overlap the other side's base and delta, so
    * all four product terms are non-empty and each delta term is
    * exercised with real rows.
    *
    * 100 TB shape: the refresh cost is |ΔA|·|B|-selectivity +
    * |A|·|ΔB|-selectivity joins keyed on the same join key as the
    * base build — at production scale ΔA⋈B₀ prunes to the delta's key
    * range (partition/zone pruning on the big side), which is exactly
    * why IVM beats recompute. */
  private val joinIvm: Q = (s, dir) => {
    val path = Scratch.dir("d22_join_ivm")
    val o = T.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = T.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val a0 = o.filter(month(col("o_orderdate")) <= 6)
    val da = o.filter(month(col("o_orderdate")) > 6)
    val b0 = li.filter(col("l_linenumber") <= 2)
    val db = li.filter(col("l_linenumber") > 2)
    def j(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
    j(a0, b0).write.mode(SaveMode.Overwrite).parquet(path + "/v0")
    val delta = j(da, b0).unionByName(j(a0, db)).unionByName(j(da, db))
    delta.write.mode(SaveMode.Append).parquet(path + "/v0")
    val v1 = s.read.parquet(path + "/v0")
    v1.groupBy(month(col("o_orderdate")).cast("long").as("order_month"))
      .agg(count(lit(1)).as("n_rows"),
        T.revenueSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
      .orderBy("order_month")
  }

  /** D21: tri-branch MERGE with a DELETE arm — the full MERGE grammar
    * face the other d-entries leave uncovered:
    * `WHEN MATCHED AND src.cancel THEN DELETE / WHEN MATCHED THEN
    * UPDATE / WHEN NOT MATCHED AND NOT src.cancel THEN INSERT` (a CDC
    * cancellation feed applied to an orders table; a cancel for a key
    * the target never had falls through BOTH guarded arms — a no-op,
    * surfaced here as the excluded `dropped_insert` class). Both table versions are PHYSICAL
    * parquet round trips, and the deleted count is derived from an
    * ON-DISK anti join of v1 keys against v2 — the deletion is proven
    * on storage, not on an in-flight frame (the d20 discipline).
    *
    * Scale notes: one full_outer shuffle join on the key (the
    * copy-on-write MERGE shape); the delete arm costs nothing extra —
    * it is a filter on the same joined frame. Under a real table
    * format the delete writes positional delete files instead of
    * rewriting; plain parquet forces the full rewrite, which is
    * exactly the cost a format's delete files exist to avoid. */
  private val mergeDelete: Q = (s, dir) => {
    val path = Scratch.dir("d21_merge_del")
    val o = T.load(s, dir, "orders")
    o.filter(month(col("o_orderdate")).between(1, 6))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite).parquet(path + "/v1")
    val target = s.read.parquet(path + "/v1")
    val source = o.filter(month(col("o_orderdate")).between(4, 9))
      .select(col("o_orderkey").as("src_key"),
        (col("o_orderkey") % 4 === 0).as("cancel"),
        (col("o_totalprice") + 10.0).as("src_price"))
    val merged = target
      .join(source, target("o_orderkey") === source("src_key"),
        "full_outer")
      .withColumn("action",
        when(col("src_key").isNull, lit("carried"))
          .when(col("o_orderkey").isNull,
            when(col("cancel"), lit("dropped_insert")).otherwise(lit("inserted")))
          .when(col("cancel"), lit("deleted"))
          .otherwise(lit("updated")))
    // a cancel for a key the target never had is a no-op, exactly as
    // MERGE's NOT MATCHED arm never sees the DELETE branch
    merged.filter(col("action").isin("carried", "updated", "inserted"))
      .select(
        coalesce(col("o_orderkey"), col("src_key")).as("o_orderkey"),
        coalesce(col("o_orderstatus"), lit("NEW")).as("o_orderstatus"),
        when(col("action") === "carried", col("o_totalprice"))
          .otherwise(col("src_price")).as("o_totalprice"),
        col("action"))
      .write.mode(SaveMode.Overwrite).parquet(path + "/v2")
    val v2 = s.read.parquet(path + "/v2")
    val survivors = v2.groupBy(col("action"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
    val deleted = target
      .join(v2.select(col("o_orderkey").as("k2")),
        col("o_orderkey") === col("k2"), "left_anti")
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("o_totalprice")), 2).as("sum_price"))
      .select(lit("deleted").as("action"), col("n_rows"), col("sum_price"))
    survivors.unionByName(deleted).orderBy("action")
  }

  private val conditionalMerge: Q = (s, dir) => {
    val o = T.load(s, dir, "orders")
    val src = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("src_key"),
        round(T.dec2(col("o_totalprice")) * lit(BigDecimal("1.05")), 2)
          .cast("double").as("proposed"))
    o.join(src, o("o_orderkey") === src("src_key"), "left")
      .select(col("o_orderstatus"),
        when(col("proposed").isNotNull && col("o_totalprice") >= 100.0,
          lit("updated"))
          .when(col("proposed").isNotNull, lit("matched_skipped"))
          .otherwise(lit("untouched")).as("action"),
        when(col("proposed").isNotNull && col("o_totalprice") >= 100.0,
          col("proposed"))
          .otherwise(col("o_totalprice")).as("price"))
      .groupBy(col("o_orderstatus"), col("action"))
      .agg(count(lit(1)).as("n_rows"),
        round(T.moneySum(col("price")), 2).as("sum_price"))
      .orderBy("o_orderstatus", "action")
  }

  val queries: Map[String, Q] = Map(
    "d02_conditional_merge" -> conditionalMerge,
    "d19_scd2" -> scd2Build,
    "d20_merge_schema_evolution" -> mergeSchemaEvolution,
    "d21_merge_delete" -> mergeDelete,
    "d22_join_ivm" -> joinIvm,
    "d18_partition_evolution" -> partitionEvolution,
    "d23_cow_update" -> cowUpdate,
    "d24_merge_upsert" -> mergeUpsertQ,
    "d25_mor_delete" -> morDelete,
    "d26_mor_fold" -> morFold,
    "d27_pruned_scan" -> prunedScan,
    "d28_incremental_appends" -> incrementalAppends,
    "d15_check_constraint" -> checkConstraint,
    "d16_system_time_between" -> systemTimeBetween,
    "d17_write_audit_publish" -> writeAuditPublish,
    "d01_insert_select" -> insertSelect,
    "d03_delete_where" -> deleteWhere,
    "d04_update_where" -> updateWhere,
    "d05_time_travel" -> timeTravel,
    "d06_cdc_changelog" -> cdcChangeLog,
    "d07_schema_evolution" -> schemaEvolution,
    "d08_ctas_snapshot" -> ctasSnapshot,
    "d09_matview_recompute" -> matviewRecompute,
    "d10_schema_evolution_log" -> schemaEvolutionLog,
    "d11_type_widening" -> typeWidening,
    "d12_rollback" -> rollbackQ,
    "d13_incremental_matview" -> incrementalMatview,
    "d14_dynamic_partition_overwrite" -> dynamicPartitionOverwrite)

  val oracle: Map[String, String] = Map(
    // each lifecycle group re-derived from the predicates that defined
    // the feed: "changed" = in the v1 dim (custkey%5<>0), moved by the
    // feed (custkey%7=0) and not already MACHINERY; "new" = custkey%5=0
    "d19_scd2" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current,
        |    COUNT(*) AS n_rows,
        |    CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |    COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END)
        |      AS n_machinery
        |  FROM customer WHERE c_custkey % 5 <> 0
        |    AND NOT (c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY')
        |  UNION ALL
        |  SELECT 1, 2, FALSE, COUNT(*), CAST(SUM(c_custkey) AS BIGINT),
        |    CAST(0 AS BIGINT)
        |  FROM customer WHERE c_custkey % 5 <> 0
        |    AND c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY'
        |  UNION ALL
        |  SELECT 2, NULL, TRUE, COUNT(*), CAST(SUM(c_custkey) AS BIGINT),
        |    COUNT(CASE WHEN c_custkey % 7 = 0 OR c_mktsegment = 'MACHINERY'
        |               THEN 1 END)
        |  FROM customer WHERE c_custkey % 5 = 0
        |    OR (c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY'))
        |ORDER BY valid_from, is_current""".stripMargin,
    "d02_conditional_merge" ->
      s"""WITH src AS (
         |  SELECT o_orderkey AS src_key,
         |    ROUND(CAST(o_totalprice AS DECIMAL(18,2))
         |      * CAST(1.05 AS DECIMAL(3,2)), 2) AS proposed
         |  FROM orders WHERE o_orderpriority = '1-URGENT'),
         |m AS (
         |  SELECT o.o_orderstatus,
         |    CASE
         |      WHEN s.proposed IS NOT NULL AND o.o_totalprice >= 100.0
         |        THEN 'updated'
         |      WHEN s.proposed IS NOT NULL THEN 'matched_skipped'
         |      ELSE 'untouched' END AS action,
         |    CASE
         |      WHEN s.proposed IS NOT NULL AND o.o_totalprice >= 100.0
         |        THEN CAST(s.proposed AS DOUBLE)
         |      ELSE o.o_totalprice END AS price
         |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.src_key)
         |SELECT o_orderstatus, action, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("price")}, 2) AS sum_price
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d01_insert_select" ->
      """SELECT month(o_orderdate) AS m, COUNT(*) AS n_rows
        |FROM orders
        |WHERE month(o_orderdate) BETWEEN 1 AND 6 AND o_totalprice > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merge replayed as a full outer join; the column counts are
    // the on-disk schema contract (v1: key/status/price, v2: + channel
    // + merge_action)
    // the oracle recomputes the join view FROM SCRATCH; equality with
    // the incrementally-appended view is the delta-rule proof
    "d22_join_ivm" ->
      s"""SELECT CAST(month(o_orderdate) AS BIGINT) AS order_month,
         |  COUNT(*) AS n_rows,
         |  ${graft.core.Tables.oRevenueSum("l_extendedprice", "l_discount")}
         |    AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the tri-branch classification replayed relationally: deleted =
    // matched & cancel, updated = matched & ¬cancel, inserted =
    // source-only & ¬cancel, carried = target-only; source-only
    // cancels fall through both guarded arms
    "d21_merge_delete" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE month(o_orderdate) BETWEEN 1 AND 6),
        |s AS (
        |  SELECT o_orderkey AS src_key, o_orderkey % 4 = 0 AS cancel,
        |    o_totalprice + 10.0 AS src_price
        |  FROM orders WHERE month(o_orderdate) BETWEEN 4 AND 9),
        |m AS (
        |  SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice,
        |    s.src_key, s.cancel, s.src_price,
        |    CASE WHEN s.src_key IS NULL THEN 'carried'
        |      WHEN t.o_orderkey IS NULL THEN
        |        CASE WHEN s.cancel THEN 'dropped_insert' ELSE 'inserted' END
        |      WHEN s.cancel THEN 'deleted'
        |      ELSE 'updated' END AS action
        |  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.src_key),
        |v2 AS (
        |  SELECT action,
        |    CASE WHEN action = 'carried' THEN o_totalprice
        |      ELSE src_price END AS price
        |  FROM m WHERE action IN ('carried', 'updated', 'inserted')),
        |surv AS (
        |  SELECT action, COUNT(*) AS n_rows,
        |    ROUND(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM v2 GROUP BY 1),
        |del AS (
        |  SELECT 'deleted' AS action, COUNT(*) AS n_rows,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DOUBLE), 2) AS sum_price
        |  FROM m WHERE action = 'deleted')
        |SELECT * FROM surv UNION ALL SELECT * FROM del
        |ORDER BY action""".stripMargin,
    "d20_merge_schema_evolution" ->
      s"""WITH t AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  WHERE month(o_orderdate) BETWEEN 1 AND 6),
         |s AS (
         |  SELECT o_orderkey, o_totalprice,
         |    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'mobile'
         |      WHEN 1 THEN 'web' ELSE 'partner' END AS channel
         |  FROM orders WHERE month(o_orderdate) BETWEEN 4 AND 9),
         |m AS (
         |  SELECT COALESCE(s.o_totalprice, t.o_totalprice) AS price,
         |    COALESCE(s.channel, 'none') AS channel,
         |    CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
         |         WHEN s.o_orderkey IS NULL THEN 'unchanged'
         |         ELSE 'updated' END AS merge_action
         |  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
         |SELECT merge_action, channel, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("price")}, 2) AS sum_price,
         |  CAST(3 AS BIGINT) AS v1_n_cols,
         |  CAST(5 AS BIGINT) AS v2_n_cols
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d03_delete_where" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price
         |FROM orders WHERE NOT (o_totalprice < 50000.0)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d04_update_where" ->
      """SELECT CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        |    THEN 'OTHER' ELSE o_orderpriority END AS o_orderpriority,
        |  COUNT(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "d05_time_travel" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE month(o_orderdate) <= 6)
        |    AS v1_rows,
        |  (SELECT COUNT(*) FROM orders) AS v2_rows,
        |  (SELECT COUNT(*) FROM orders) AS current_rows""".stripMargin,
    "d06_cdc_changelog" ->
      """SELECT CASE
        |    WHEN month(o_orderdate) > 9 THEN 'INSERT'
        |    WHEN o_orderpriority = '1-URGENT' THEN 'UPDATE'
        |    ELSE 'UNCHANGED' END AS _change_type,
        |  COUNT(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "d07_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'mobile' ELSE 'web' END
        |    AS booking_channel,
        |  COUNT(*) AS n_rows,
        |  COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "d08_ctas_snapshot" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
         |  ROUND(${T.oMoneySum("l_extendedprice")}, 2) AS revenue
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d09_matview_recompute" ->
      s"""SELECT CAST(o_orderdate AS DATE) AS order_day,
         |  COUNT(*) AS n_orders,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS revenue,
         |  1 AS refresh_version
         |FROM orders GROUP BY 1 HAVING COUNT(*) >= 2
         |ORDER BY 1""".stripMargin,
    "d10_schema_evolution_log" ->
      """SELECT * FROM (VALUES
        |  ('ev_001', 'orders', 'ADD_COLUMN',
        |   'booking_channel STRING DEFAULT ''web''', 1, 'graft',
        |   'ALTER TABLE orders DROP COLUMN -- rollback of ev_001'),
        |  ('ev_002', 'orders', 'ADD_GENERATED_COLUMN',
        |   'order_date DATE GENERATED ALWAYS AS (DATE(o_orderdate))', 2,
        |   'graft',
        |   'ALTER TABLE orders DROP COLUMN -- rollback of ev_002'),
        |  ('ev_003', 'orders', 'TYPE_WIDENING',
        |   'o_totalprice NUMERIC(18,2) -> BIGNUMERIC(38,8)', 3, 'graft',
        |   'ALTER TABLE orders DROP COLUMN -- rollback of ev_003')
        |) AS t(evolution_id, table_name, change_type, change_description,
        |       snapshot_version, applied_by, rollback_script)
        |ORDER BY evolution_id""".stripMargin,
    "d11_type_widening" ->
      s"""SELECT COUNT(*) AS n_rows,
         |  COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS n_null,
         |  CAST(CAST(SUM(CAST(${T.oDec2("o_totalprice")} AS DECIMAL(38,8)))
         |    AS DECIMAL(38,8)) AS VARCHAR) AS sum_precise,
         |  CAST(MAX(CAST(${T.oDec2("o_totalprice")} AS DECIMAL(38,8)))
         |    AS VARCHAR) AS max_precise
         |FROM orders""".stripMargin,
    "d12_rollback" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders) AS current_rows,
        |  (SELECT COUNT(*) FROM orders WHERE month(o_orderdate) <= 6)
        |    AS bad_rows,
        |  CAST(3 AS BIGINT) AS n_versions""".stripMargin,
    // merged partials must equal the full recompute over ALL rows
    "d13_incremental_matview" ->
      s"""SELECT CAST(o_orderdate AS DATE) AS order_day,
         |  COUNT(*) AS n_orders,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS revenue
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the constraint splits exactly on the priority CASE: 5-LOW maps to
    // 'unknown', the one value outside the CHECK domain
    "d15_check_constraint" ->
      """SELECT 'ev_004' AS evolution_id, 'ADD_CONSTRAINT' AS change_type,
        |  1 AS snapshot_version,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderpriority <> '5-LOW')
        |    AS n_valid,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderpriority = '5-LOW')
        |    AS n_violations,
        |  'unknown' AS violating_method""".stripMargin,
    // each change count re-derived from the predicates that defined the
    // snapshots: v2 inserts Q3 and bumps H1's urgent rows (price > 0, so
    // the 5% bump always differs); v3 inserts Q4 and deletes Q1's 'F'
    // rows — surviving values identical on both sides (both bumped)
    "d16_system_time_between" ->
      """SELECT * FROM (
        |  SELECT CAST(2 AS BIGINT) AS _change_version,
        |    'INSERT' AS _change_type,
        |    (SELECT COUNT(*) FROM orders
        |     WHERE month(o_orderdate) BETWEEN 7 AND 9) AS n_changes
        |  UNION ALL SELECT 2, 'UPDATE',
        |    (SELECT COUNT(*) FROM orders WHERE month(o_orderdate) <= 6
        |     AND o_orderpriority = '1-URGENT')
        |  UNION ALL SELECT 3, 'INSERT',
        |    (SELECT COUNT(*) FROM orders
        |     WHERE month(o_orderdate) BETWEEN 10 AND 12)
        |  UNION ALL SELECT 3, 'DELETE',
        |    (SELECT COUNT(*) FROM orders WHERE month(o_orderdate) <= 3
        |     AND o_orderstatus = 'F'))
        |ORDER BY 1, 2""".stripMargin,
    // isolation is the property: main_before sees only H1, violations
    // exist only on the staging branch (audit1 counts them, the fixed
    // restage zeroes them), and main_after = everything that survived
    // the audit — published in ONE version step
    "d17_write_audit_publish" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE month(o_orderdate) <= 6)
        |    AS main_before,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE month(o_orderdate) BETWEEN 7 AND 9
        |     AND o_orderkey % 97 = 0) AS audit1_violations,
        |  CAST(0 AS BIGINT) AS audit2_violations,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE month(o_orderdate) <= 9
        |     AND NOT (month(o_orderdate) BETWEEN 7 AND 9
        |              AND o_orderkey % 97 = 0)) AS main_after,
        |  CAST(2 AS BIGINT) AS main_versions""".stripMargin,
    // both partition specs must aggregate back to the one logical table
    "d18_partition_evolution" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
         |  COUNT(DISTINCT month(o_orderdate)) AS n_months,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // UPDATE applied only to Q3 rows; both SET columns see the old row
    "d23_cow_update" ->
      s"""WITH upd AS (
         |  SELECT
         |    CASE WHEN month(o_orderdate) BETWEEN 7 AND 9
         |         THEN 'U:' || o_orderpriority ELSE o_orderpriority END
         |      AS o_orderpriority,
         |    CASE WHEN month(o_orderdate) BETWEEN 7 AND 9
         |         THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
         |  FROM orders)
         |SELECT o_orderpriority, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price,
         |  CAST(5 AS BIGINT) AS n_versions
         |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin,
    // merge = matched rows replaced by source (status 'U'), unmatched
    // source rows (Q4) inserted, everything else untouched
    "d24_merge_upsert" ->
      s"""WITH merged AS (
         |  SELECT
         |    CASE WHEN month(o_orderdate) <= 3 AND o_orderkey % 5 = 0
         |         THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE month(o_orderdate) <= 9
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE month(o_orderdate) >= 10)
         |SELECT o_orderstatus, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price,
         |  CAST(4 AS BIGINT) AS n_versions
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // %7 keys equality-deleted, %14 keys re-inserted AFTER the delete
    // (higher data seq -> they survive); pre-delete snapshot complete
    "d25_mor_delete" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 0)
        |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_rows,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_div7,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_reinserted,
        |  (SELECT COUNT(*) FROM orders) AS n_pre_delete,
        |  CAST(4 AS BIGINT) AS n_versions""".stripMargin,
    // only the two APPEND commits (months 4-6, 7-9) feed the tail; the
    // CoW delete version is a rewrite and contributes nothing
    "d28_incremental_appends" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price,
         |  CAST(4 AS BIGINT) AS n_versions
         |FROM orders WHERE month(o_orderdate) BETWEEN 4 AND 9
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the early dir (max o_orderdate < 1998) is provably unmatchable
    // for a >= 2000 predicate, so exactly one of the two dirs is read
    "d27_pruned_scan" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price,
         |  CAST(1 AS BIGINT) AS n_dirs_read
         |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // after the fold the logical frame is unchanged and the manifest
    // carries zero delete entries
    "d26_mor_fold" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 0)
        |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_rows,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_div7,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 14 = 0)
        |    AS n_reinserted,
        |  CAST(0 AS BIGINT) AS n_delete_entries,
        |  CAST(5 AS BIGINT) AS n_versions""".stripMargin,
    // month 3 reflects the corrected reload; every other month must
    // still aggregate to its ORIGINAL content
    "d14_dynamic_partition_overwrite" ->
      s"""SELECT CAST(month(o_orderdate) AS BIGINT) AS o_month,
         |  COUNT(*) AS n_rows,
         |  ROUND(${T.oMoneySum("o_totalprice")}, 2) AS sum_price
         |FROM orders
         |WHERE month(o_orderdate) <> 3 OR o_totalprice >= 1000.0
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
