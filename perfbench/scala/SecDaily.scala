package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.model.Schemas
import graft.pipeline.{Extract, Flow, RawSource}
import graft.store.UpsertWriter
import graft.transform.{PriceTransforms, SymbolTransforms}
import graft.validate.Validator

/** Yahoo/Wikipedia stand-in over the generated files. `asOf` is the night
  * being simulated: a day before it is served as its restated print, the
  * night itself as its first print, and a ticker planted as failed comes
  * back all-null (and in the error channel) on every simulated night --
  * the yfinance failure shape. `asOf = None` is the history backfill:
  * every day restated, no failures.
  */
final class FileSource(inputs: String, manifest: Manifest) extends RawSource {
  var asOf: Option[LocalDate] = None

  override def fetchSymbols(spark: SparkSession, cat: String): DataFrame =
    spark.read.parquet(s"$inputs/symbols_$cat.parquet")

  override def fetchPrices(spark: SparkSession, symbols: Seq[String],
      start: LocalDate, end: LocalDate): (DataFrame, Seq[String]) = {
    val files = symbols.map(manifest.fileOf).distinct
    require(files.size == 1, s"chunk spans files $files")
    val failing = if (asOf.isEmpty) Set.empty[String] else manifest.failed
    val ts = (d: LocalDate) => Timestamp.valueOf(d.atStartOfDay())
    val firstPrint = asOf.fold(lit(false))(d => col("Date") === ts(d))
    val raw = spark.read.parquet(s"$inputs/${files.head}")
      .where(col("Date").between(ts(start), ts(end)) &&
        col("version") === when(firstPrint, 0).otherwise(1))
    val cells: Seq[Column] = for {
      f <- Seq("Open", "High", "Low", "Close", "Volume")
      s <- symbols
    } yield {
      val name = s"${f}_$s"
      if (failing(s))
        lit(null).cast(if (f == "Volume") LongType else DoubleType).as(name)
      else col(s"`$name`")
    }
    (raw.select(col("Date") +: cells: _*), symbols.filter(failing))
  }
}

/** The generator's description of the sec_daily inputs: `sec.properties`
  * (history_start, history_days, sim_days) and `sec_symbols.tsv` (symbol,
  * price file, planted-failed flag).
  */
final case class Manifest(historyStart: LocalDate, historyDays: Int,
    simDays: Int, fileOf: Map[String, String], failed: Set[String]) {
  def simStart: LocalDate = historyStart.plusDays(historyDays)
}

object Manifest {
  def load(inputs: String): Manifest = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(s"$inputs/sec.properties")
    try p.load(in) finally in.close()
    val rows = scala.io.Source.fromFile(s"$inputs/sec_symbols.tsv", "UTF-8")
      .getLines().map(_.split("\t")).toSeq
    Manifest(LocalDate.parse(p.getProperty("history_start")),
      p.getProperty("history_days").toInt, p.getProperty("sim_days").toInt,
      rows.map(r => r(0) -> r(1)).toMap,
      rows.filter(_(2) == "1").map(_(0)).toSet)
  }
}

/** sec_daily: the nightly securities run. Set-up backfills the history
  * through `Flow.etlFlow` + `Flow.runModels`; each timed operation is one
  * simulated night -- `etlFlow` for both asset categories with the default
  * (yesterday, today) window, then `runModels` and `runDataTests` --
  * followed by a fixed mix of dashboard reads.
  */
final class SecDaily(spark: SparkSession, inputs: String, work: String,
    rec: Recorder, trace: Tracer) extends Workload {
  private val manifest = Manifest.load(inputs)
  private val source = new FileSource(inputs, manifest)
  private var lake = ""
  private var dw = ""
  private var night = manifest.simStart
  private val nights = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val cats = Seq("sp_stocks", "fx")

  /** Backfills the history through the nightly flow, then warms the rest
    * of a night's code paths -- the data tests and the read mix -- once,
    * untimed.
    */
  override def prepare(): Unit = {
    lake = s"$work/lake"
    dw = s"$work/dw"
    source.asOf = None
    cats.foreach { c =>
      Flow.etlFlow(spark, source, lake, dw, c,
        start = Some(manifest.historyStart),
        end = Some(manifest.simStart.minusDays(1)), today = manifest.simStart)
    }
    Flow.runModels(spark, dw)
    Flow.runDataTests(spark, dw)
    rec.refreshes(warm = true)(reads(manifest.simStart.minusDays(1)))
  }

  override def step(): Boolean =
    if (!night.isBefore(manifest.simStart.plusDays(manifest.simDays))) false
    else { runNight(); true }

  /** One simulated night, timed, then its reads. */
  private def runNight(): Unit = {
    val today = night
    source.asOf = Some(today)
    val failed = mutable.ArrayBuffer.empty[String]
    var error: String = null
    var dq: Seq[graft.warehouse.DataTests.CheckResult] = Nil
    val (s, _) = Common.timed {
      try trace("pipeline", "night") {
        cats.foreach { c =>
          try {
            if (trace.on) tracedEtl(c, today)
            else Flow.etlFlow(spark, source, lake, dw, c, today = today)
          } catch { case e: Flow.PartialFailure => failed ++= e.failed }
        }
        trace("warehouse", "models") { Flow.runModels(spark, dw) }
        dq = trace("warehouse", "tests") { Flow.runDataTests(spark, dw) }
      } catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
    }
    night = today.plusDays(1)
    val (lakeBytes, lakeFiles) = Common.diskUsage(lake)
    val (dwBytes, dwFiles) = Common.diskUsage(dw)
    val facts = Map(
      "night" -> today.toString,
      "failed" -> failed.toSeq, "error" -> error,
      "dq" -> dq.map(r => Map("table" -> r.table, "check" -> r.check,
        "column" -> r.column, "violations" -> r.violations)),
      "stored_bytes" -> (lakeBytes + dwBytes),
      "files" -> (lakeFiles + dwFiles))
    nights += facts
    rec.op("night", s, error == null, facts)
    if (error == null) rec.refreshes(warm = false)(reads(today))
  }

  /** Flow.etlFlow driven stage by stage through the same public functions
    * in the same order, each boundary materialized so lazy work lands in
    * the layer that declares it.
    */
  private def tracedEtl(cat: String, today: LocalDate): Unit =
    trace("pipeline", "etl_flow") {
      val (s, e) = Flow.resolveDates(None, None, today)
      val raw = Common.materialize(source.fetchSymbols(spark, cat))
      val symbolsPath = s"$lake/symbols/$cat"
      if (cat == "sp_stocks") {
        val t = trace("transform", "symbols") {
          Common.materialize(SymbolTransforms.transformStockSymbols(raw,
            Date.valueOf(e.minusDays(1))))
        }
        val g = gate(t, Schemas.transformedStockSymbols)
        store(g) { UpsertWriter.upsert(spark, symbolsPath, g,
          Seq("symbol", "date_stamp")) }
      } else {
        val t = trace("transform", "symbols") {
          Common.materialize(SymbolTransforms.transformFxSymbols(raw))
        }
        val g = gate(t, Schemas.transformedFxSymbols)
        store(g) { UpsertWriter.replace(g, symbolsPath) }
      }
      val universe = spark.read.parquet(symbolsPath)
        .select("symbol").distinct().orderBy("symbol")
        .collect().map(_.getString(0)).toSeq
      val pricesPath = s"$lake/price_history/$cat"
      val failed = Seq.newBuilder[String]
      Flow.chunked(universe).foreach { chunk =>
        val (wide0, errs) = source.fetchPrices(spark, chunk, s, e)
        val wide = Common.materialize(wide0)
        failed ++= errs
        val long = trace("transform", "prices") {
          Common.materialize(PriceTransforms.transformPrices(wide, cat))
        }
        trace.count("transform.wide_cols", wide.columns.length - 1)
        if (!long.head(1).isEmpty) {
          trace.count("transform.rows_out", long.count())
          val g = gate(long, Schemas.transformedPrices)
          store(g) { UpsertWriter.upsert(spark, pricesPath, g,
            Seq("date_stamp", "symbol")) }
        }
      }
      trace("pipeline", "promote") {
        Flow.promote(spark, symbolsPath, s"$dw/symbols_$cat",
          if (cat == "sp_stocks") Some(Seq("symbol", "date_stamp")) else None)
        Flow.promote(spark, pricesPath, s"$dw/price_history_$cat",
          Some(Seq("date_stamp", "symbol")), dateRange = Some((s, e)))
      }
      val all = failed.result()
      if (all.nonEmpty) throw Flow.PartialFailure(all)
    }

  private def gate(df: DataFrame, schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    try trace("validate", "gate") {
      Common.materialize(Validator.validateOrThrow(df, schema))
    } catch {
      case e: Validator.SchemaValidationException =>
        trace.count("validate.rows_rejected", df.count())
        throw e
    }

  /** A store call, with the bytes of the rows it was handed (written once
    * as parquet outside the span) as the write-amplification base.
    */
  private def store(updates: DataFrame)(body: => Unit): Unit = {
    val side = s"$work/trace-side"
    updates.write.mode("overwrite").parquet(side)
    trace.count("store.update_bytes", Common.diskUsage(side)._1)
    trace("store", "upsert")(body)
  }

  private val readDays = 5

  /** The dashboard read mix after each night, each read fully
    * collected: date-range (and column-pruned) price scans off the lake,
    * the stock universe, and the last days' closes off fct_prices joined
    * with dim_symbols. The mix is a minimal stand-in for a dashboard, not
    * measured traffic.
    */
  private def reads(today: LocalDate): Unit = {
    val from = Date.valueOf(today.minusDays(readDays - 1))
    val to = Date.valueOf(today)
    def read(name: String, tables: String*)(body: => Iterable[Seq[Any]])
        : Unit =
      rec.read(name, trace, tables, Map("night" -> today.toString))(body)
    read("stock_close_window", s"$lake/price_history/sp_stocks") {
      Extract.fromLake(spark, lake, "price_history", "sp_stocks",
        columns = Some(Seq("date_stamp", "symbol", "close")),
        dateRange = Some((from, to))).collect().map(_.toSeq)
    }
    read("fx_window", s"$lake/price_history/fx") {
      Extract.fromLake(spark, lake, "price_history", "fx",
        dateRange = Some((from, to))).collect().map(_.toSeq)
    }
    read("stock_universe", s"$lake/symbols/sp_stocks") {
      Extract.symbolUniverse(spark, lake, "symbols", "sp_stocks").map(Seq(_))
    }
    read("sector_close_window", s"$dw/dim_symbols", s"$dw/fct_prices") {
      val dim = spark.read.parquet(s"$dw/dim_symbols")
        .where(col("sector") === "Information Technology")
      spark.read.parquet(s"$dw/fct_prices")
        .where(col("date_stamp").between(from, to))
        .join(dim, Seq("symbol"), "left_semi")
        .select("date_stamp", "symbol", "close")
        .collect().map(_.toSeq)
    }
  }

  override def finish(): Map[String, Any] = Map(
    "lake" -> lake, "dw" -> dw, "nights" -> nights.toSeq)
}
