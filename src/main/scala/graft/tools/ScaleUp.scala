package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up: replicate a testdata directory `factor`× into a
  * new directory, preserving each query's SEMANTIC shape so measured
  * times scale the way real data growth would:
  *
  *  - every fact/entity key is shifted by `replica × (max_key + 1)`, so
  *    the replicas form DISJOINT join graphs — orders still match
  *    exactly their own lineitems, users their own events, and the
  *    q28-q30 co-purchase graph becomes `factor` disconnected copies
  *    (linear growth), not one graph with `factor²` edge inflation;
  *  - document text is rotated through a replica-specific `translate`
  *    over the ten most frequent English letters — length-preserving
  *    (n_chars stays true) and deterministic, so near-dup shingles do
  *    NOT collide across replicas: without this, every doc would gain
  *    `factor − 1` near-copies and the banded dedup family would grow
  *    quadratically by DATA construction, which would wrongly read as
  *    an engine scaling failure. Exact duplicates planted WITHIN a
  *    replica survive the rotation (it is a per-replica bijection), so
  *    dedup rates per replica are unchanged;
  *  - fixed-size dimensions (region, nation) copy through once —
  *    exactly how TPC-H scale factors treat them;
  *  - timestamps are left alone: the time grid keeps its span and the
  *    per-hour densities grow `factor`× (more traffic, same calendar),
  *    so gap-fill/window grids stay fixed-size and window families
  *    scale by input volume only.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor] [only]`.
  * `only` is an optional comma-separated table list — a factor-100
  * exponent audit of three queries should not pay for (or store) the
  * seven tables they never read. The output feeds Bench
  * (SPARK_GRAFT_SF_DIR=<dstDir>) for the super-linearity audit
  * recorded in BENCH_NOTES.md.
  */
object ScaleUp {

  /** Length-preserving text bijections: rotate two DISJOINT frequent-
    * letter sets independently — r%10 on the first, (r/10)%10 on the
    * second — giving 100 distinct composite bijections. One rotation
    * alphabet capped the family at 10: at factor 100, replicas 10, 20,
    * … would repeat replica 0's rotation VERBATIM, planting factor×
    * cross-replica exact text copies and inflating every dedup family
    * quadratically by data construction (the exact artifact this
    * rotation exists to avoid). Replicas 0-9 keep the second set at
    * identity, so factor-10 outputs are byte-identical to the
    * single-alphabet tool's. */
  private val rotAlphabet = "etaoinshrd"
  private val rotAlphabet2 = "lcumwfgypb"
  private def rot(s: String, k: Int): String =
    s.drop(k % s.length) ++ s.take(k % s.length)
  private def rotated(r: Int): String =
    rot(rotAlphabet, r % 10) + rot(rotAlphabet2, (r / 10) % 10)

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)

    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def save(t: String, df: => DataFrame): Unit =
      if (only.forall(_.contains(t))) {
        df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"[scaleup] $t -> $dst/$t.parquet")
      } else println(s"[scaleup] $t skipped (not in only-list)")
    /** max(key)+1 — the per-replica stride that keeps shifted keys
      * disjoint. Every load/stride below is LAZY so a restricted run
      * pays only for tables it actually touches: a skipped table's
      * stride action fires only when an INCLUDED table's key shift
      * references it (lineitem legitimately needs orders/part/supplier
      * strides; an only=documents run must scan nothing else). */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union `factor` transformed copies (replica 0 = identity). */
    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until factor).map(r => shift(df, r)).reduce(_ unionAll _)

    // dims: fixed size at every scale factor
    save("region", load("region"))
    save("nation", load("nation"))

    lazy val cust = load("customer")
    lazy val kCust = stride(cust, "c_custkey")
    save("customer", replicate(cust)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * kCust))))

    lazy val part = load("part")
    lazy val kPart = stride(part, "p_partkey")
    save("part", replicate(part)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))))

    lazy val supp = load("supplier")
    lazy val kSupp = stride(supp, "s_suppkey")
    save("supplier", replicate(supp)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp))))

    lazy val ord = load("orders")
    lazy val kOrd = stride(ord, "o_orderkey")
    save("orders", replicate(ord)((d, r) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
      .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))))

    save("lineitem", replicate(load("lineitem"))((d, r) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
      .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))))

    lazy val ev = load("events")
    lazy val kEvent = stride(ev, "event_id")
    lazy val kUser = stride(ev, "user_id")
    save("events", replicate(ev)((d, r) => d
      .withColumn("event_id", col("event_id") + lit(r * kEvent))
      .withColumn("user_id", col("user_id") + lit(r * kUser))))

    lazy val docs = load("documents")
    lazy val kDoc = stride(docs, "doc_id")
    save("documents", replicate(docs)((d, r) => d
      .withColumn("doc_id", col("doc_id") + lit(r * kDoc))
      .withColumn("text",
        translate(col("text"), rotAlphabet + rotAlphabet2, rotated(r)))))

    // Embeddings must not replicate verbatim: identical copies make
    // every vector factor−1 exact semantic dups, so bucket populations
    // (LSH, IVF cells, SemDeDup buckets) grow factor× and their
    // pairwise confirms factor²× — a quadratic load real data growth
    // would not produce. A per-replica ±1 sign pattern is
    // norm-preserving and deterministic, and scatters replicas across
    // hyperplane/IVF buckets (replica 0 = identity, no flips).
    lazy val emb = load("embeddings")
    lazy val kVec = stride(emb, "vec_id")
    save("embeddings", replicate(emb)((d, r) => d
      .withColumn("vec_id", col("vec_id") + lit(r * kVec))
      .withColumn("embedding",
        expr(s"transform(embedding, (x, i) -> " +
          s"IF($r > 0 AND (i * 31 + $r * 17) % 10 < 5, " +
          s"CAST(-x AS FLOAT), x))"))))

    spark.stop()
  }
}
