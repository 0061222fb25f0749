package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing, recorded from outside the program.
  *
  * Spans wrap each call the benchmark makes into a public function of
  * the program; Spark's own listeners record jobs, tasks, planning
  * phases and micro-batch progress. Everything is kept in memory and
  * summarised once at the end of the run. Recording happens only while
  * a measured phase is open: the warm-up pass and the output checks
  * are never traced. With tracing off (the default, and the mode every
  * end-to-end metric comes from) a span is a plain call and no
  * listener is registered.
  *
  * Two buckets keep setup work (the analytics table build) apart from
  * the timed phase. */
object Trace {
  @volatile var enabled = false
  /** "", "setup" or "timed": which bucket is open. */
  @volatile private var bucket = ""
  private var openedAtMs = 0L
  private val intervals = scala.collection.mutable.ArrayBuffer
    .empty[(String, Long, Long)]

  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxes = new ConcurrentHashMap[String, java.lang.Double]()
  private val samples = new ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]]()

  def open(b: String): Unit = if (enabled) synchronized {
    bucket = b; openedAtMs = System.currentTimeMillis()
  }
  def close(): Unit = if (enabled) synchronized {
    if (bucket.nonEmpty)
      intervals += ((bucket, openedAtMs, System.currentTimeMillis()))
    bucket = ""
  }
  def recording: Boolean = enabled && bucket.nonEmpty

  def add(name: String, v: Double): Unit = if (recording)
    sums.computeIfAbsent(s"$bucket/$name", _ => new DoubleAdder).add(v)
  /** A count read off the store after a pass, outside any open phase. */
  def put(b: String, name: String, v: Double): Unit = if (enabled)
    sums.computeIfAbsent(s"$b/$name", _ => new DoubleAdder).add(v)
  def sample(name: String, v: Double): Unit = if (recording)
    samples.computeIfAbsent(s"$bucket/$name",
      _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(v)

  /** Spans of one name do not nest: a call the program makes into
    * another traced function of the same layer (current → asOf) is
    * counted once, by the outermost span. */
  private val open = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Whether a span of this name is open on the calling thread. */
  def inSpan(name: String): Boolean = open.get.contains(name)

  def span[T](name: String)(body: => T): T =
    if (!recording || open.get.contains(name)) body
    else {
      val sc = org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext)
      val prior = sc.map(_.getLocalProperty("perfbench.span")).orNull
      sc.foreach(_.setLocalProperty("perfbench.span", name))
      open.set(open.get + name)
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        open.set(open.get - name)
        sc.foreach(_.setLocalProperty("perfbench.span", prior))
        add(s"$name.s", s); add(s"$name.n", 1); sample(s"$name.s", s)
      }
    }

  /** Marks jobs fired while a DataFrame is being built, before its
    * action, so they count as construction jobs. */
  def constructing[T](body: => T): T =
    if (!recording) body
    else {
      val sc = org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext)
      sc.foreach(_.setLocalProperty("perfbench.phase", "construct"))
      try body finally sc.foreach(_.setLocalProperty("perfbench.phase", null))
    }

  // ---- Spark listeners ---------------------------------------------------

  private final case class Job(start: Long, span: String, site: String,
      construct: Boolean, var end: Long = -1L)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val executions = new ConcurrentHashMap[Long, String]()
  private final case class Task(launch: Long, input: Long, shuffle: Long,
      spill: Long, output: Long)
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val planning =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the call site Spark names the job by: the thread's callSite.short
      // when one is set (a streaming query's jobs carry its start site),
      // else the site of the SQL execution the job belongs to (adaptive
      // execution submits stages from its own threads), else the short
      // form Spark gave the job's final stage
      val site = prop("callSite.short")
        .orElse(prop("spark.sql.execution.id").flatMap(id =>
          Option(executions.get(id.toLong))))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      jobs.put(e.jobId, Job(e.time, prop("perfbench.span").getOrElse(""),
        site.getOrElse(""),
        prop("perfbench.phase").contains("construct")))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, x.description)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.launchTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
  }

  private object Planning extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
  }

  /** Micro-batch progress of the stream tail, kept as reported. The
    * workload names the batches it timed; [[summarise]] folds only those
    * into the timed bucket, since progress arrives on the listener bus
    * after the batch has ended. */
  object Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val timedBatches = ConcurrentHashMap.newKeySet[(String, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      events.add(e.progress)
  }

  private def foldProgress(): Unit =
    Progress.events.asScala.filter(p => Progress.timedBatches.contains(
        (p.runId.toString, p.batchId))).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
      Seq("latestOffset" -> "stream.latest_offset_s",
        "getBatch" -> "stream.get_batch_s",
        "queryPlanning" -> "stream.planning_s",
        "addBatch" -> "stream.add_batch_s",
        "walCommit" -> "stream.wal_commit_s").foreach { case (k, m) =>
        put("timed", m, d.getOrElse(k, 0.0))
      }
      put("timed", "stream.batches", 1)
      put("timed", "stream.rows", p.numInputRows.toDouble)
      p.stateOperators.headOption.foreach { so =>
        maxes.merge("timed/stream.state_rows", so.numRowsTotal.toDouble,
          (a, b) => math.max(a, b))
        maxes.merge("timed/stream.state_bytes", so.memoryUsedBytes.toDouble,
          (a, b) => math.max(a, b))
      }
    }

  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) {
      spark.sparkContext.addSparkListener(Jobs)
      spark.listenerManager.register(Planning)
      spark.streams.addListener(Progress)
    }

  // ---- summary -----------------------------------------------------------

  private def bucketOf(t: Long): Option[String] = synchronized {
    intervals.collectFirst { case (b, s, e) if t >= s && t <= e => b }
  }

  /** Closes the books: folds the listener records into the buckets.
    * Call after the last measured phase, once the listener bus drained. */
  def summarise(sc: SparkContext): Unit = {
    // no job or task event may still be queued for the listeners
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
    bus.foreach { m =>
      val b = m.invoke(sc)
      b.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" &&
        m.getParameterCount == 0).foreach(_.invoke(b))
    }
    def addTo(b: String, name: String, v: Double): Unit = put(b, name, v)
    foldProgress()
    val done = jobs.values.asScala.filter(_.end >= 0)
    done.foreach { j =>
      bucketOf(j.start).foreach { b =>
        val s = (j.end - j.start) / 1e3
        addTo(b, "spark.jobs", 1)
        addTo(b, "spark.exec_s", s)
        if (j.construct) addTo(b, "spark.construct_jobs", 1)
        if (j.span.nonEmpty) addTo(b, s"${j.span}.job_s", s)
        val file = j.site.split(" at ").lastOption.getOrElse("")
          .takeWhile(_ != ':').stripSuffix(".scala")
        addTo(b, s"jobs.${if (file.isEmpty) "unknown" else file}_s", s)
      }
    }
    tasks.asScala.foreach { t =>
      bucketOf(t.launch).foreach { b =>
        addTo(b, "spark.tasks", 1)
        addTo(b, "spark.input_bytes", t.input.toDouble)
        addTo(b, "spark.shuffle_bytes", t.shuffle.toDouble)
        addTo(b, "spark.spill_bytes", t.spill.toDouble)
        addTo(b, "spark.output_bytes", t.output.toDouble)
      }
    }
    planning.asScala.foreach { case (start, ms) =>
      bucketOf(start).foreach(addTo(_, "spark.plan_s", ms / 1e3))
    }
    // driver gap: the part of each measured interval no job covered
    val ivs = synchronized(intervals.toList)
    ivs.foreach { case (b, s, e) =>
      val covered = done.toSeq
        .map(j => (math.max(j.start, s), math.min(j.end, e)))
        .filter { case (a, z) => z > a }.sortBy(_._1)
        .foldLeft((0L, s)) { case ((acc, reach), (a, z)) =>
          if (z <= reach) (acc, reach)
          else (acc + z - math.max(a, reach), z)
        }._1
      addTo(b, "spark.driver_gap_s", ((e - s) - covered) / 1e3)
    }
  }

  /** bucket → metric → value. Samples report their mean. */
  def totals: Map[String, Map[String, Double]] = {
    val flat = sums.asScala.map { case (k, v) => k -> v.sum } ++
      maxes.asScala.map { case (k, v) => k -> v.doubleValue } ++
      samples.asScala.map { case (k, q) =>
        val xs = q.asScala.map(_.doubleValue).toSeq
        s"$k.mean" -> (if (xs.isEmpty) 0.0 else xs.sum / xs.size)
      }
    flat.toSeq.map { case (k, v) =>
      val (b, n) = k.splitAt(k.indexOf('/'))
      (b, n.drop(1), v)
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(x => x._2 -> x._3).toMap }
  }

  def sampleList(bucketName: String, name: String): Seq[Double] =
    Option(samples.get(s"$bucketName/$name"))
      .map(_.asScala.map(_.doubleValue).toSeq).getOrElse(Seq.empty)
}
