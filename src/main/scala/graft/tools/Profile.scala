package graft.tools

import org.apache.spark.sql.SparkSession

/** Timing probe for individual registered queries — the companion to
  * [[Explain]] for the per-operator performance review:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.Profile 3 d17_write_audit_publish"
  *
  * Runs each named query `reps` times under a session shaped like
  * Bench's (`local[SPARK_GRAFT_CPUS]`, default 4) and prints every
  * run's wall seconds, so a regression can be attributed to a query
  * (and its variance seen) without paying for the full 277-query
  * sweep. Construction + execution are both inside the timer,
  * matching Bench's charge. */
object Profile {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val names = if (args.headOption.exists(_.toIntOption.isDefined))
      args.drop(1) else args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names.foreach { q =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$q%-35s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
