package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-audit entry point: dump the formatted physical plan of any
  * registered query.
  *
  *   sbt "runMain graft.tools.Explain l24_bigram_commonness"
  *
  * The per-operator scale review (is the filter pushed down? is the
  * small side broadcast? how many exchanges?) reads these plans —
  * keeping the dump one command away is what makes that review happen
  * after every change rather than only when something is slow.
  *
  * Caveat: query CONSTRUCTION runs eagerly, so the setup writes of the
  * side-effecting DML/sink queries (d01/d05/d08/d11, s05/s06, ...)
  * execute before the plan prints, and the printed plan covers only
  * the final read-back over their scratch output. Point this at the
  * default sf0.001/sf0.01 dirs; audit those queries' write stages in
  * the Spark UI instead.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { q =>
      println(s"==== $q ====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
