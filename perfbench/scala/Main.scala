package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark workload driven through the program's public entry
  * points. `Main` calls `prepare` (untimed set-up), then `step` in a closed
  * loop for the run's time window, then `finish` for the untimed checks.
  */
trait Workload {
  /** Build the state the timed loop starts from, including one untimed
    * warm iteration.
    */
  def prepare(): Unit
  /** One timed operation plus its reads. False when the generated inputs
    * are used up.
    */
  def step(): Boolean
  /** Untimed facts for the checker: what the outputs hold. */
  def finish(): Map[String, Any]
}

/** Per-run record of timed operations and reads. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  var traced = false
  /** Reads are grouped into refreshes: one pass of a workload's read mix. */
  private var refresh = 0
  private var recording = true

  /** The read mix after an operation. The mix stands for one consumer
    * refresh; it is run five times back to back only so that its latency,
    * a fraction of a second, is a median of several samples rather than
    * one. After the warm iteration the passes run but are not recorded.
    */
  def refreshes(warm: Boolean)(mix: => Unit): Unit = {
    recording = !warm
    try (1 to 5).foreach { _ => refresh += 1; mix }
    finally recording = true
  }

  def op(kind: String, seconds: Double, ok: Boolean,
      extra: Map[String, Any] = Map.empty): Unit =
    ops += Map("kind" -> kind, "s" -> seconds, "ok" -> ok,
      "traced" -> traced) ++ extra

  /** One timed consumer read of `tables`. `body` fully collects its
    * result; the digest of the rows is taken after the clock stops.
    */
  def read(name: String, trace: Tracer, tables: Seq[String],
      extra: Map[String, Any] = Map.empty)
      (body: => Iterable[Seq[Any]]): Unit = {
    var out: Iterable[Seq[Any]] = Nil
    var error: String = null
    val (s, _) = Common.timed {
      try out = trace("pipeline", "read") { body }
      catch { case e: Throwable => error = e.toString }
    }
    // no table here is partitioned, so a read scans every data file
    trace.count("pipeline.read_files",
      tables.map(t => Common.diskUsage(t)._2).sum)
    if (recording) reads += Map("name" -> name, "s" -> s, "ok" -> (error == null),
      "traced" -> traced, "error" -> error, "refresh" -> refresh) ++ extra ++
      (if (error == null) Common.digest(out) else Map.empty)
  }
}

/** Entry point, launched by run.py:
  * `perfbench.Main <workload> <inputs> <work> <seconds> <trace> <cpus>
  * <result.json>`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, cpusArg, out) =
      args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    Files.createDirectories(Paths.get(work))
    val (sessionS, spark) = Common.timed {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace, workload,
      s"$workload-${ProcessHandle.current().pid()}")
    tracer.on = false
    val rec = new Recorder
    val w: Workload = workload match {
      case "sec_daily" => new SecDaily(spark, inputs, work, rec, tracer)
      case "corpus_curate" => new CorpusCurate(spark, inputs, work, rec, tracer)
      case "stream_dedup" => new StreamDedup(spark, inputs, work, rec, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val (prepS, _) = Common.timed(w.prepare())
    val measureStartMs = System.currentTimeMillis()

    // closed loop: the next operation starts when the previous one ends,
    // and only if the previous one's duration still fits in the window --
    // so the number of operations a run makes does not flip between two
    // counts when the window is close to a multiple of an operation. A
    // traced run spends its first half untraced and the rest traced, so it
    // reports the tracing overhead from one process.
    val (steal0, total0) = Common.cpuJiffies()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var last = 0.0
    def step(): Boolean = {
      val start = elapsed
      val more = w.step()
      last = elapsed - start
      more
    }
    def fits(window: Double) = elapsed + last <= window
    var more = step()
    if (trace) {
      while (more && fits(seconds / 2)) more = step()
      tracer.on = true
      rec.traced = true
      if (more) more = step()
    }
    while (more && fits(seconds)) more = step()
    val measuredS = elapsed
    val (steal1, total1) = Common.cpuJiffies()
    tracer.on = false
    rec.traced = false

    val facts = w.finish()
    tracer.drain()
    val sc = spark.sparkContext
    val meta = Map(
      "nproc" -> cpus, "master" -> sc.master,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)
    val result = Map(
      "meta" -> meta,
      "session_s" -> sessionS, "prep_s" -> prepS,
      "measure_start_ms" -> measureStartMs, "measured_s" -> measuredS,
      "host_steal_share" ->
        (steal1 - steal0).toDouble / math.max(1L, total1 - total0),
      "ops" -> rec.ops, "reads" -> rec.reads, "facts" -> facts,
      "peak_rss_mb" -> Common.peakRssMb(),
      "trace" -> (if (trace) tracer.toJson else null))
    Files.write(Paths.get(out),
      Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }
}
