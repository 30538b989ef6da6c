package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Transforms
import graft.schema.Schemas
import graft.sinks.{CsvAppend, MergeOverwrite, RestSink, StoreRead, UpsertIgnore}
import graft.sources.{CsvHistorySource, HtmlRatesSource, RestJsonSource}

/** Failure alerting seam (utils/email_utils.py:47-61 SMTP alert_admin).
  * The transport is injected; the default just logs — the reference's
  * errors never propagate (every stage logs and continues,
  * etl/api_fetcher.py:253-256), and neither do ours.
  */
trait Alerter {
  def alert(subject: String, body: String): Unit
}
object LogAlerter extends Alerter {
  def alert(subject: String, body: String): Unit =
    System.err.println(s"[alert] $subject: $body")
}

/** The three reference entry points (SURVEY §3 EP1-EP3) re-expressed as
  * single lazy Catalyst plans: source → transform chain → idempotent sink.
  * The pandas materialization barriers (e.g. the intermediate CSV between
  * filter and clean, etl/csv_loader.py:63→90) disappear — Catalyst sees
  * scan→filter→dedup→project→anti-join as ONE plan and optimizes it whole.
  */
object Pipelines {

  /** EP1 — REST-API pipeline (etl/api_fetcher.py:245-270): fetch → pivot
    * long → event-time synthesis → CSV append + upsert-ignore keyed on
    * (currency, timestamptz).
    */
  def api(
      spark: SparkSession,
      fetch: () => String,
      csvPath: String,
      tablePath: String,
      alerter: Alerter = LogAlerter): Option[UpsertIgnore.Result] =
    try {
      val df = RestJsonSource.read(spark, fetch)
        .withColumn("created_at", current_timestamp().cast("timestamp_ntz"))
        .cache()
      try {
        CsvAppend(df.drop("created_at"), csvPath)
        Some(UpsertIgnore(spark, df, tablePath,
          Schemas.apiKey, pruneCol = Some("timestamptz")))
      } finally df.unpersist()
    } catch {
      case e: Exception =>
        alerter.alert("api pipeline failed", e.getMessage)
        None
    }

  /** EP2 — historical-CSV pipeline (etl/csv_loader.py:263-287): scan with
    * explicit schema → month window (F1) → clean (A1+F2+F3+C1) → event-time
    * synthesis (C3) → upsert-ignore. One lazy plan; the reference's
    * intermediate file write is gone.
    */
  def history(
      spark: SparkSession,
      csvPath: String,
      tablePath: String,
      anchor: java.time.LocalDate,
      months: Int = 1,
      alerter: Alerter = LogAlerter): Option[UpsertIgnore.Result] =
    try {
      val raw = CsvHistorySource.read(spark, csvPath)
        .withColumn("date", Transforms.permissiveTimestamp(col("date")).cast("date"))
      val windowed = Transforms.windowMonths("date", lit(anchor), months)(raw)
      val cleaned = Transforms.cleanHistory(windowed)
      val stamped = Transforms.synthesizeEventTimeHistory("date")(cleaned)
        .withColumn("timestamptz", col("timestamptz").cast("timestamp_ntz"))
        .withColumn("created_at", current_timestamp().cast("timestamp_ntz"))
      Some(UpsertIgnore(spark, stamped, tablePath,
        Schemas.historyKey, pruneCol = Some("timestamptz")))
    } catch {
      case e: Exception =>
        alerter.alert("history pipeline failed", e.getMessage)
        None
    }

  /** EP3 — web-scrape pipeline (etl/web_scraper.py:210-235): parse HTML →
    * merge-overwrite per-day dataset (keep-existing, K2) + upsert-ignore
    * keyed on (currency_name, timestamptz). Structural parse failures
    * alert (etl/web_scraper.py:72-83).
    */
  def scrape(
      spark: SparkSession,
      html: String,
      dailyPath: String,
      tablePath: String,
      alerter: Alerter = LogAlerter): Option[UpsertIgnore.Result] =
    try {
      val rates = HtmlRatesSource.parseRates(html)
      // throws on a missing page timestamp, before the empty-table gate
      val parsed = HtmlRatesSource.read(spark, html, rates)
      if (rates.isEmpty) { // A4 gate, etl/web_scraper.py:224 — on the driver's rows, no job
        alerter.alert("scrape pipeline", "no rows parsed from rates table")
        None
      } else {
        val df = parsed
          .withColumn("created_at", current_timestamp().cast("timestamp_ntz"))
          .cache()
        try {
          MergeOverwrite(spark, df.drop("created_at"), dailyPath,
            Schemas.scrapedKey, orderCol = "timestamptz")
          Some(UpsertIgnore(spark, df, tablePath,
            Schemas.scrapedKey, pruneCol = Some("timestamptz")))
        } finally df.unpersist()
      }
    } catch {
      case e: Exception =>
        alerter.alert("scrape pipeline failed", e.getMessage)
        None
    }

  /** Sync (services/supabase.py:42-76): 20-minute `created_at` delta from
    * each source table, provenance-tagged, column-union schema merge
    * (§1.2 drift), shipped via the partition-parallel REST sink.
    *
    * One Spark job a day: the tables are schema-guarded upsert targets
    * whose schemas `UpsertIgnore` cached when it created them, so
    * `StoreRead` infers no footer, and the
    * shipped-row count comes back from the sink's own job (no cache, no
    * count). Returns the number of rows shipped; `post` never sees an
    * empty batch (A4 gate, supabase.py:65).
    */
  def sync(
      spark: SparkSession,
      tables: Seq[(String, String)], // (tablePath, sourceTag)
      now: java.time.LocalDateTime,
      post: Seq[String] => Unit,
      minutes: Int = 20,
      alerter: Alerter = LogAlerter): Option[Long] =
    try {
      val deltas = tables.map { case (path, tag) =>
        Transforms.withSource(tag)(
          Transforms.recentDelta("created_at", lit(now).cast("timestamp_ntz"), minutes)(
            StoreRead.parquet(spark, path)))
      }
      Some(RestSink(Transforms.unionBySchema(deltas), batchSize = 500)(post))
    } catch {
      case e: Exception =>
        alerter.alert("sync failed", e.getMessage) // supabase.py:70-73
        None
    }
}

/** The `run_etl()` analog (etl/__init__.py:11-16): run the three pipelines
  * sequentially with continue-on-failure, then sync. Returns per-stage
  * outcomes for the caller's logging.
  */
object Orchestrator {
  final case class EtlReport(
      api: Option[UpsertIgnore.Result],
      history: Option[UpsertIgnore.Result],
      scrape: Option[UpsertIgnore.Result],
      synced: Option[Long])

  def runEtl(
      spark: SparkSession,
      fetchApi: () => String,
      historyCsv: String,
      scrapeHtml: String,
      workDir: String,
      anchor: java.time.LocalDate,
      post: Seq[String] => Unit,
      alerter: Alerter = LogAlerter): EtlReport = {
    val api = Pipelines.api(spark, fetchApi,
      s"$workDir/api_rates_csv", s"$workDir/forex_rates_api", alerter)
    val hist = Pipelines.history(spark, historyCsv,
      s"$workDir/forex_rates_history", anchor, months = 1, alerter = alerter)
    val scr = Pipelines.scrape(spark, scrapeHtml,
      s"$workDir/scraped_daily", s"$workDir/forex_rates_scraped", alerter)
    // Reference quirk preserved: api sync runs unconditionally, the others
    // gate on their pipeline's success (SURVEY §3 EP1 step 6 vs EP2/EP3).
    val syncTables = Seq(
      Some(s"$workDir/forex_rates_api" -> "api"),
      hist.map(_ => s"$workDir/forex_rates_history" -> "csv"),
      scr.map(_ => s"$workDir/forex_rates_scraped" -> "web_scraper")
    ).flatten.filter { case (p, _) =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    // `created_at` is stamped in the SESSION time zone (current_timestamp
    // cast to timestamp_ntz), so the window's `now` must be too — the JVM's
    // zone can differ and would shift the 20-minute window off the rows.
    val now = java.time.LocalDateTime.now(
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
    val synced = Pipelines.sync(spark, syncTables, now, post, alerter = alerter)
    EtlReport(api, hist, scr, synced)
  }
}
