package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.TextFunctions
import graft.operators.{Classify, Corpus, Dedup, Scrub}

/** Records the program's kernel expressions (`graft.functions.*`) in the
  * executed plan of every successful action, so a run can prove its timed
  * plans evaluated the kernels rather than a pruned projection.
  */
final class KernelAudit extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val seen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  @volatile var on = false

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (on) {
    def kernels(p: SparkPlan): Seq[String] = p.expressions.flatMap(
      _.collect { case e: Expression
        if e.getClass.getName.startsWith("graft.functions.") =>
        e.getClass.getSimpleName })
    collectWithSubqueries(qe.executedPlan) { case p => kernels(p) }
      .flatten.foreach(seen.add)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** corpus_curate: batch LLM-corpus curation, raw corpus to written packs:
  * Scrub.redactPii -> Classify centroid gate -> Dedup.exact ->
  * Dedup.minhashLshVerifiedPairs + nearDupClusters -> buildPieceVocab +
  * bpeCount -> packSequences -> materializePacks, packs written in full.
  * Frames read more than once downstream are materialized once (what a
  * curation job would persist); the traced run also materializes every
  * other stage boundary.
  */
final class CorpusCurate(spark: SparkSession, inputs: String, work: String,
    rec: Recorder, trace: Tracer) extends Workload {
  private val tokenBudget = 2048L
  private val nearDupThreshold = 0.8
  private val audit = new KernelAudit
  spark.listenerManager.register(audit)
  private val inputDocs = spark.read.parquet(s"$inputs/corpus.parquet").count()
  private var pieces: Seq[(String, Int)] = Nil
  private val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var warmOutput: Map[String, Any] = Map.empty

  private def stage(df: DataFrame): DataFrame =
    if (trace.on) Common.materialize(df) else df

  private val root = s"$work/corpus"
  private val warmRoot = s"$work/corpus-warm"

  /** Two untimed iterations over the same corpus. The first writes into
    * a root of its own; its output digest is what every timed curation
    * must reproduce. The second writes into the timed root, so that the
    * first timed curation overwrites an output like every later one (a
    * first write into a fresh root ran about a tenth slower).
    */
  override def prepare(): Unit = {
    warmOutput = run(warmRoot, timed = false)
    run(root, timed = false)
  }

  override def step(): Boolean = { outputs += run(root, timed = true); true }

  private def run(out: String, timed: Boolean): Map[String, Any] = {
    audit.on = timed
    var error: String = null
    val (s, _) = Common.timed {
      try curate(out) catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    audit.on = false
    if (timed) rec.op("curate", s, error == null,
      Map("docs" -> inputDocs, "error" -> error))
    if (error != null) return Map("error" -> error)
    rec.refreshes(warm = !timed)(reads(out))
    outputFacts(out)
  }

  private def curate(root: String): Unit = {
    val docs = spark.read.parquet(s"$inputs/corpus.parquet")
    val seed = spark.read.parquet(s"$inputs/seed.parquet")
    val scrubbed = trace("operators", "scrub") {
      stage(Scrub.redactPii(docs)
        .select(col("doc_id"), col("lang"), col("redacted").as("text")))
    }
    val gated = trace("operators", "classify") {
      val model = Classify.centroidModel(seed, col("label"))
      Common.materialize(Classify.scoreByModel(scrubbed, model)
        .where(col("quality_pred")).select("doc_id", "lang", "text"))
    }
    trace.count("operators.gate_in", inputDocs)
    trace.count("operators.gate_out", gated.count())
    val exact = trace("operators", "exact_dedup") {
      val keep = Dedup.exact(gated).select(col("keep_id").as("doc_id"))
      Common.materialize(gated.join(keep, Seq("doc_id"), "left_semi"))
    }
    val pairs = trace("operators", "lsh") {
      stage(Dedup.minhashLshVerifiedPairs(exact, nearDupThreshold))
    }
    if (trace.on) lshCounts(exact, pairs)
    trace("operators", "clusters") {
      val roots = Dedup.nearDupClusters(exact.select("doc_id"), pairs)
      exact.join(roots.where(col("doc_id") === col("root")).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$root/curated")
    }
    val curated = spark.read.parquet(s"$root/curated")
    pieces = trace("operators", "vocab") {
      Corpus.buildPieceVocab(curated, "text", minCount = 2, maxSize = 64)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    }
    val tokenized = trace("operators", "tokenize") {
      Common.materialize(curated.withColumn("n_bpe",
        TextFunctions.bpeCount(col("text"), pieces)))
    }
    trace("operators", "pack") {
      val packed = Corpus.packSequences(tokenized, "lang", "doc_id",
        col("n_bpe"), tokenBudget)
      Corpus.materializePacks(packed, "lang", "doc_id", "text")
        .write.mode("overwrite").parquet(s"$root/packs")
    }
    if (trace.on) {
      val p = spark.read.parquet(s"$root/packs")
        .agg(count(lit(1)), sum("pack_tokens")).head()
      trace.count("operators.packs", p.getLong(0))
      trace.count("operators.pack_tokens", p.getLong(1))
    }
  }

  /** Traced-run funnel counts of the LSH stage, computed outside its span:
    * candidate pairs, verified pairs, and the rows of the hottest
    * (band, key) -- the band rule of Dedup.minhashLshPairs (4 bands of 2
    * rows over an 8-lane signature).
    */
  private def lshCounts(exact: DataFrame, pairs: DataFrame): Unit = {
    trace.count("operators.lsh_candidates",
      Dedup.minhashLshPairs(exact).count())
    trace.count("operators.lsh_verified", pairs.count())
    val sig = Dedup.minhashSignature(exact, numHashes = 8)
    val keys = (0 until 4).map { b =>
      sig.select(lit(b).as("band"),
        concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("key"))
    }.reduce(_ union _)
    val hot = keys.groupBy("band", "key").count().agg(max("count")).head()
    trace.count("operators.lsh_max_key_rows", hot.getLong(0))
  }

  private def outputFacts(root: String): Map[String, Any] = {
    val curated = spark.read.parquet(s"$root/curated")
    val packs = spark.read.parquet(s"$root/packs")
    Map(
      "curated" -> Common.rowDigest(curated.select("doc_id").collect()),
      "packs" -> Common.rowDigest(packs.select("lang", "pack_id", "n_docs",
        "pack_tokens", "pack_text").collect()))
  }

  /** One full read of each written output after each curation run -- a
    * minimal stand-in for a consumer, not measured traffic.
    */
  private def reads(root: String): Unit = {
    rec.read("packs", trace, Seq(s"$root/packs")) {
      spark.read.parquet(s"$root/packs")
        .select("lang", "pack_id", "n_docs", "pack_tokens", "pack_text")
        .collect().map(_.toSeq)
    }
    rec.read("curated", trace, Seq(s"$root/curated")) {
      spark.read.parquet(s"$root/curated")
        .select("doc_id", "lang", "text").collect().map(_.toSeq)
    }
  }

  override def finish(): Map[String, Any] = {
    // every input doc's gate verdict, for the exact-duplicate check
    val docs = spark.read.parquet(s"$inputs/corpus.parquet")
    val model = Classify.centroidModel(spark.read.parquet(
      s"$inputs/seed.parquet"), col("label"))
    Classify.scoreByModel(Scrub.redactPii(docs)
        .select(col("doc_id"), col("redacted").as("text")), model)
      .select("doc_id", "quality_pred")
      .write.mode("overwrite").parquet(s"$root/verdicts")
    val curatedTokens = spark.read.parquet(s"$root/curated")
      .agg(sum(TextFunctions.bpeCount(col("text"), pieces))).head()
    val packTokens = spark.read.parquet(s"$root/packs")
      .agg(sum("pack_tokens")).head()
    val deadline = System.nanoTime() + 10_000_000_000L
    val want = Set("MinhashSigExpr", "BpeCountExpr")
    while (!want.forall(audit.seen.contains) && System.nanoTime() < deadline)
      Thread.sleep(50)
    Map("root" -> root, "outputs" -> outputs.toSeq,
      "warm_output" -> warmOutput,
      "curated_tokens" -> curatedTokens.getLong(0),
      "pack_tokens" -> packTokens.getLong(0),
      "kernels_seen" -> audit.seen.toArray.toSeq.map(_.toString).sorted,
      "kernels_required" -> want.toSeq.sorted,
      "token_budget" -> tokenBudget)
  }
}
