package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Classify, Scrub}
import graft.streaming.StreamingDedupIndex

/** Collects the progress events of the running streaming query: one entry
  * per micro-batch with its `durationMs` breakdown.
  */
final class ProgressLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile var terminated = false

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val ms = d.keySet().toArray.map(_.toString)
      .map(k => k -> d.get(k).longValue).toMap
    // AvailableNow ends with a trigger that finds no data; it is not a batch
    if (p.numInputRows > 0) synchronized {
      batches += Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> ms)
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated = true

  def reset(): Unit = synchronized { batches.clear(); terminated = false }
}

/** stream_dedup: streaming ingest through
  * `StreamingDedupIndex.runAvailableNow`, one file per micro-batch, with
  * PII scrub + the centroid quality gate as `prepare`. The backlog arrives
  * a few files at a time; each timed step moves the next files into the
  * source directory and runs one AvailableNow trigger over them, so the
  * dedup state (one delta per batch) grows through the run. Each timed
  * operation is one micro-batch: its `triggerExecution` from the progress
  * events.
  */
final class StreamDedup(spark: SparkSession, inputs: String, work: String,
    rec: Recorder, trace: Tracer) extends Workload {
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private val filesPerStep = 3
  private val progress = new ProgressLog
  spark.streams.addListener(progress)
  private val backlog = listFiles(s"$inputs/backlog")
  private var arrived = 0
  private var model: DataFrame = _
  private var warmOutput: Map[String, Any] = Map("prefixes" -> Nil)
  private val root = s"$work/stream"

  private def listFiles(dir: String): Seq[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).sortBy(_.toString).toSeq
    finally ls.close()
  }

  /** Scrub + quality gate on each micro-batch, before the dedup judgment. */
  private def gate(batch: DataFrame): DataFrame =
    trace("streaming", "prepare") {
      val gated = Classify.scoreByModel(Scrub.redactPii(batch)
          .select(col("doc_id"), col("redacted").as("text")), model)
        .where(col("quality_pred")).select("doc_id", "text")
      if (trace.on) Common.materialize(gated) else gated
    }

  /** One AvailableNow trigger over what has arrived in `dir`. */
  private def ingest(dir: String): (Double, String) = {
    progress.reset()
    var error: String = null
    val (s, _) = Common.timed {
      try trace("streaming", "run") {
        StreamingDedupIndex.runAvailableNow(spark, s"$dir/arrivals", schema,
          s"$dir/state", s"$dir/checkpoint", maxFilesPerTrigger = 1,
          prepare = gate)
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!progress.terminated && System.nanoTime() < deadline)
      Thread.sleep(10)
    (s, error)
  }

  private def arrive(files: Seq[java.nio.file.Path], dir: String): Unit = {
    val to = java.nio.file.Paths.get(dir, "arrivals")
    java.nio.file.Files.createDirectories(to)
    files.foreach(f => java.nio.file.Files.copy(f, to.resolve(f.getFileName),
      java.nio.file.StandardCopyOption.COPY_ATTRIBUTES))
  }

  /** Trains the gate once; the warm iteration ingests the short warm
    * backlog (the first files of the real one) into its own state, whose
    * accepted rows the same batches of the timed state must reproduce.
    * It arrives in triggers of the timed steps' size: a single warm
    * trigger left the first timed triggers running a fifth slower.
    */
  override def prepare(): Unit = {
    // the trained model is one row; keep it as local rows so each
    // micro-batch's gate is a broadcast of data, not a re-training
    val trained = Classify.centroidModel(
      spark.read.parquet(s"$inputs/seed.parquet"), col("label"))
    model = spark.createDataFrame(
      spark.sparkContext.parallelize(trained.collect().toSeq, 1),
      trained.schema)
    val warm = listFiles(s"$inputs/warm_backlog")
    warm.grouped(filesPerStep).foreach { files =>
      arrive(files, s"$work/warm")
      ingest(s"$work/warm")
    }
    // digest of the accepted rows of batches 1..k, for each k
    val rows = accepted(s"$work/warm").collect().map(_.toSeq)
    warmOutput = Map("prefixes" -> (1 to warm.size).map(k =>
      Common.digest(rows.filter(_(2).asInstanceOf[Long] <= k))))
    rec.refreshes(warm = true)(reads(s"$work/warm"))
    Common.deleteTree(s"$work/warm")
  }

  override def step(): Boolean =
    if (arrived >= backlog.size) false
    else {
      val files = backlog.slice(arrived, arrived + filesPerStep)
      arrive(files, root)
      arrived += files.size
      val (s, error) = ingest(root)
      val batches = progress.synchronized(progress.batches.toSeq)
      batches.foreach { b =>
        val ms = b("duration_ms").asInstanceOf[Map[String, Long]]
        rec.op("batch", ms.getOrElse("triggerExecution", 0L) / 1e3,
          error == null, b)
      }
      rec.op("trigger", s, error == null && batches.size == files.size,
        Map("files" -> files.size, "batches" -> batches.size,
          "error" -> error))
      if (error == null) rec.refreshes(warm = false)(reads(root))
      true
    }

  private def accepted(dir: String): DataFrame =
    StreamingDedupIndex.readState(spark, s"$dir/state")._1
      .select("doc_id", "text", "batch")

  /** One full read of the accepted documents after each trigger -- a
    * minimal stand-in for a consumer, not measured traffic.
    */
  private def reads(dir: String): Unit = {
    val version = StreamingDedupIndex.readState(spark, s"$dir/state")._3
    rec.read("accepted", trace, Seq(s"$dir/state/delta"),
        Map("version" -> version)) {
      accepted(dir).collect().map(_.toSeq)
    }
  }

  /** The gate's verdict on every arrived document, for the check that
    * each gated first arrival is accepted and each later copy is not.
    */
  override def finish(): Map[String, Any] = {
    Classify.scoreByModel(Scrub.redactPii(
        spark.read.schema(schema).parquet(s"$root/arrivals"))
        .select(col("doc_id"), col("redacted").as("text")), model)
      .select("doc_id", "quality_pred")
      .write.mode("overwrite").parquet(s"$root/verdicts")
    Map("state_root" -> s"$root/state", "verdicts" -> s"$root/verdicts",
      "files_arrived" -> arrived, "backlog_files" -> backlog.size,
      "warm_output" -> warmOutput)
  }
}
