package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The lifecycle benchmark's JVM side. `run.py` generates the inputs
  * and the expected outputs, starts this main in a fresh JVM, and
  * checks what it writes.
  *
  * Usage: `perfbench.Main <workload> <workDir> <trace 0|1>`
  *
  * The main reads its inputs under `<workDir>/in`, writes every output
  * the checks need under `<workDir>/out`, and ends with
  * `<workDir>/out/result.json`: the clock reading of the first timed
  * operation, the timings of the timed phase, and (traced) the per-layer
  * totals. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, trace) = args
    Trace.enabled = trace == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // a fixed count, whatever the core count, so plans are the same
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      // one micro-batch per commit: no extra batch when only the
      // watermark moved (it would run on the stream's own schedule)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftExtensions.register(spark)
    Trace.install(spark)
    val ctx = new Ctx(spark, new File(workDir).getCanonicalPath)
    try {
      workload match {
        case "lakehouse_batch" => Batch.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case "stream_tail" => StreamTail.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      if (Trace.enabled) Trace.summarise(spark.sparkContext)
      ctx.finish()
      ctx.phase("finished")
    } finally spark.stop()
  }
}

/** What a workload needs: the session, its directories, the clock, and
  * the record of what it measured. */
final class Ctx(val spark: SparkSession, val work: String) {
  val in = s"$work/in"
  val out = s"$work/out"
  new File(out).mkdirs()

  /** Epoch seconds, microsecond resolution: comparable with the clock
    * `run.py` read at its own start. */
  def epoch(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private val born = System.nanoTime()
  /** Notes a phase boundary in the JVM log (seconds since the session). */
  def phase(name: String): Unit =
    System.err.println(f"perfbench phase $name%s at ${(System.nanoTime() - born) / 1e9}%.2f s")

  var firstOpAt: Double = -1
  /** Marks the start of the first timed operation (setup ends here). */
  def timedStart(): Unit = if (firstOpAt < 0) firstOpAt = epoch()

  /** The timed phase's figures: `work_s`, `ops` (unit-operation
    * latencies), `stored_bytes`, `input_bytes` and the workload's own. */
  var timed: Map[String, Any] = Map.empty
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def props(name: String): Map[String, String] = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(new File(s"$in/$name").toPath, UTF_8)
    try p.load(r) finally r.close()
    p.asScala.toMap
  }

  /** Writes rows as JSON lines (the session's UTC timestamp rendering). */
  def dump(name: String, df: DataFrame): Unit =
    writeLines(name, df.toJSON.collect().toSeq)

  def writeLines(name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(s"$out/$name"), UTF_8)
    try lines.foreach(w.println) finally w.close()
  }

  def finish(): Unit = {
    val layers = if (Trace.enabled) Trace.totals else Map.empty
    if (Trace.enabled) extra("append_samples") = Seq("timed", "setup")
      .map(Trace.sampleList(_, "snapshots.append.s")).find(_.nonEmpty)
      .getOrElse(Seq.empty)
    val res = Map[String, Any](
      "first_op_at" -> firstOpAt,
      "timed" -> timed,
      "extra" -> extra.toMap,
      "layers" -> layers,
      "gc_s" -> java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      "peak_rss_mb" -> Ctx.peakRssMb)
    writeLines("result.json", Seq(Json(res)))
  }
}

object Ctx {
  /** VmHWM of this process, in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def canonical(rows: Array[Row]): String = {
    // doubles at 9 significant digits: the checks compare values, this
    // only has to tell one run of a query from another
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double => f"$d%.9g"
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case o => o.toString
    }
    rows.map(r => r.toSeq.map(v).mkString("|")).sorted.mkString("\n")
  }

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical(rows).getBytes(UTF_8)).take(12)
      .map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Enough JSON for the result files: maps, sequences, numbers, strings. */
object Json {
  def apply(x: Any): String = x match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, v) => s"${str(k.toString)}:${apply(v)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case s => str(s.toString)
  }
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
