package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One traced call into a layer of the program. `parent` is the span that
  * was open when this one started (-1 at the top); times are nanoseconds
  * of the JVM's monotonic clock.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, var end: Long = -1L)

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost open one carries its id as a local property, and each
  * finished task adds its metrics here.
  */
final class Counters {
  var tasks = 0L
  var executorMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "tasks" -> tasks, "executor_s" -> executorMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "sched_delay_s" -> schedDelayMs / 1e3, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes)
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * out with the result at the end. With `enabled = false` every call is a
  * plain pass-through, so the untraced run pays nothing but a branch.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, workload: String,
    runId: String) {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val openJobs = ConcurrentHashMap.newKeySet[Int]()
  private val named = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var lastEvent = System.nanoTime()
  /** Spans are recorded only while on; the listener runs whenever enabled. */
  @volatile var on = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent = System.nanoTime()
      openJobs.add(e.jobId)
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent = System.nanoTime()
      openJobs.remove(e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent = System.nanoTime()
      val m = e.taskMetrics
      if (m == null) return
      val c = counters.computeIfAbsent(stageSpan.getOrDefault(e.stageId, -1),
        _ => new Counters)
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.executorMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        // the scheduler-delay definition of Spark's own UI
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span of `layer`. */
  def apply[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      val s = synchronized {
        val s = Span(spans.length, stack.headOption.getOrElse(-1), layer, name,
          System.nanoTime())
        spans += s
        stack.push(s.id)
        s
      }
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        synchronized { stack.pop() }
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Add `v` to the named traced-run count `key` (layer.metric). */
  def count(key: String, v: => Long): Unit =
    if (enabled && on) named.merge(key, v, (a, b) => a + b)

  /** Wait until the listener bus has delivered every job's task events. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((!openJobs.isEmpty ||
        System.nanoTime() - lastEvent < 300_000_000L) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  def toJson: Map[String, Any] = Map(
    "workload" -> workload, "run_id" -> runId,
    "spans" -> spans.toSeq.map { s =>
      Map("workload" -> workload, "run_id" -> runId,
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "counters" -> Option(counters.get(s.id)).map(_.toMap).orNull)
    },
    "unattributed" -> Option(counters.get(-1)).map(_.toMap).orNull,
    "counts" -> {
      val m = Map.newBuilder[String, Any]
      named.forEach((k, v) => m += k -> v.longValue)
      m.result()
    })
}
