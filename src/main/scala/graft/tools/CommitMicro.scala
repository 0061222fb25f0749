package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.{DirStats, Snapshots}

/** Micro-decomposition of the snapshot-store commit path — the
  * companion receipt to [[JobProfile]] for the d-family: where do the
  * ~300-400 ms per append/commit actually go (Spark write job, footer
  * harvest into the manifest line, manifest render/claim, read-back
  * resolution)?
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.CommitMicro"` */
object CommitMicro {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)

    def ms[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"$tag%-34s ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
      r
    }

    val o = graft.core.Tables.load(spark, dir, "orders")
    val slice = o.filter(month(col("o_orderdate")) <= 3)

    // warm everything once
    val snW = new Snapshots(graft.core.Scratch.dir("micro_warm"))
    snW.append(slice, "w"); snW.current(spark, "w").count()

    (1 to 3).foreach { rep =>
      println(s"-- rep $rep")
      val sn = new Snapshots(graft.core.Scratch.dir(s"micro_$rep"))
      val t = "orders_m"
      val rel = ms("  write.parquet (stage dir)") {
        val rel = s"$t/data/d$rep"
        new java.io.File(s"${sn.rootDir}/$t/data").mkdirs()
        slice.write.parquet(s"${sn.rootDir}/$rel")
        rel
      }
      ms("  DirStats.collect (footers)") {
        DirStats.collect(new java.io.File(s"${sn.rootDir}/$rel"))
      }
      ms("  full append (2nd dir)") { sn.append(slice, t) }
      ms("  read current (resolve+count)") { sn.current(spark, t).count() }
      ms("  read current again") { sn.current(spark, t).count() }
      ms("  bare read.parquet resolve") {
        spark.read.parquet(s"${sn.rootDir}/$t/data/d1")
      }
      ms("  1-row local write") {
        import spark.implicits._
        Seq((1, "x")).toDF("a", "b").coalesce(1)
          .write.parquet(s"${sn.rootDir}/tiny$rep")
      }
      ms("  1-row local write #2") {
        import spark.implicits._
        Seq((1, "x")).toDF("a", "b").coalesce(1)
          .write.parquet(s"${sn.rootDir}/tiny${rep}b")
      }
      ms("  1-row noop write") {
        import spark.implicits._
        Seq((1, "x")).toDF("a", "b").coalesce(1)
          .write.format("noop").mode("overwrite").save()
      }
      ms("  1-row count") {
        import spark.implicits._
        Seq((1, "x")).toDF("a", "b").coalesce(1).count()
      }
      ms("  read with known schema") {
        val sch = spark.read.parquet(s"${sn.rootDir}/$t/data/d1").schema
        spark.read.schema(sch).parquet(s"${sn.rootDir}/$t/data/d1")
      }
      val sch2 = spark.read.parquet(s"${sn.rootDir}/$t/data/d1").schema
      ms("  schema-pinned resolve only") {
        spark.read.schema(sch2).parquet(s"${sn.rootDir}/$t/data/d1")
      }
      ms("  schema-pinned resolve+count") {
        spark.read.schema(sch2).parquet(
          s"${sn.rootDir}/$t/data/d1", s"${sn.rootDir}/$t/data/d2").count()
      }
      import spark.implicits._
      val tiny = Seq((1, "x")).toDF("a", "b").coalesce(1)
      def batch(tag: String)(one: Int => Unit): Unit =
        ms(tag) { (0 until 8).foreach(one) }
      batch("  8x tiny write v1        ") { i =>
        tiny.write.parquet(s"${sn.rootDir}/bv1_$i") }
      batch("  8x tiny write v2        ") { i =>
        tiny.write
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .parquet(s"${sn.rootDir}/bv2_$i") }
      batch("  8x tiny write nosummary ") { i =>
        tiny.write
          .option("parquet.summary.metadata.level", "NONE")
          .parquet(s"${sn.rootDir}/bns_$i") }
      batch("  8x tiny noop            ") { _ =>
        tiny.write.format("noop").mode("overwrite").save() }
      batch("  8x tiny count           ") { _ => tiny.count() }
    }
    spark.stop()
  }
}
