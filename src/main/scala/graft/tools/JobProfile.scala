package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job-granular timing probe — the companion to [[Profile]] when a
  * query's cost is NOT inside one big stage but spread across the many
  * small jobs an iterative kernel or a commit-protocol fixture issues
  * (materialize barriers, broadcast builds, counts, metadata writes).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.JobProfile q41_connected_components"
  *
  * Prints one line per Spark job (duration, #stages, #tasks, first
  * stage name) plus the driver-side gap before the job started — the
  * gap column is what exposes driver-bound time (planning, file IO,
  * manifest commits) that no stage metric ever shows. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class Job(id: Int, start: Long, var end: Long = -1,
      var stages: Int = 0, var tasks: Int = 0, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(j.jobId, Job(j.jobId, j.time,
          stages = j.stageInfos.size, desc = d.take(60)))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        // stages carry no job id here; attribute to the most recently
        // started still-open job (correct for the serial bench shape
        // this tool profiles)
        val open = jobs.values.toArray.map(_.asInstanceOf[Job])
          .filter(_.end < 0)
        if (open.nonEmpty)
          open.maxBy(_.start).tasks += s.stageInfo.numTasks
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { q =>
      jobs.clear()
      val t0 = System.nanoTime()
      // warm construction once so caches/fixtures are in place, then
      // profile the second (bench-timed-equivalent) invocation
      graft.SparkEntry.queries(q)(spark, dir).count()
      val warm = (System.nanoTime() - t0) / 1e9
      jobs.clear()
      // wall-clock anchor taken at the same instant as the nano timer:
      // listener job.start times are wall-clock millis, so the first
      // job's gap must be measured from a wall-clock zero, not from a
      // nanoTime-epoch value (which made the first gap meaningless)
      val wall1 = System.currentTimeMillis()
      val t1 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      val timed = (System.nanoTime() - t1) / 1e9
      println(f"==== $q warm=$warm%.2f timed=$timed%.2f ====")
      val sorted = jobs.values.toArray.map(_.asInstanceOf[Job])
        .sortBy(_.start)
      var prevEnd = wall1
      sorted.foreach { j =>
        val gap = j.start - prevEnd
        val dur = if (j.end > 0) j.end - j.start else -1
        println(f"job ${j.id}%4d gap=${gap}%5d ms dur=${dur}%6d ms " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%3d ${j.desc}")
        prevEnd = if (j.end > 0) j.end else j.start
      }
      val totalDur = sorted.collect { case j if j.end > 0 => j.end - j.start }.sum
      println(f"jobs=${sorted.length} sum(job dur)=${totalDur} ms " +
        f"(timed=${timed * 1000}%.0f ms => driver gaps=${timed * 1000 - totalDur}%.0f ms)")
    }
    spark.stop()
  }
}
