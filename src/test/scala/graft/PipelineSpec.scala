package graft

import org.apache.spark.sql.functions._
import graft.pipelines.{Alerter, Orchestrator, Pipelines}

class PipelineSpec extends SparkSpec {

  private def runEtl(s: org.apache.spark.sql.SparkSession, scrapeHtml: String) =
    Orchestrator.runEtl(
      s,
      fetchApi = () => readFixture("frankfurter_latest.json"),
      historyCsv = fixture("daily_forex_rates.csv"),
      scrapeHtml = scrapeHtml,
      workDir = tmpDir("orch"),
      anchor = java.time.LocalDate.parse("2026-08-10"),
      post = SyncHarness.post)

  test("EP1 api pipeline end-to-end: json -> long rows -> upsert table") {
    val work = tmpDir("ep1")
    val json = readFixture("frankfurter_latest.json")
    val r = Pipelines.api(spark, () => json, s"$work/csv", s"$work/table")
    assert(r.exists(_.inserted == 5))
    val t = spark.read.parquet(s"$work/table")
    assert(t.count() == 5)
    assert(!t.columns.contains("currency_name")) // api schema drift (§1.2)
    // rerun: idempotent, nothing inserted
    val r2 = Pipelines.api(spark, () => json, s"$work/csv", s"$work/table")
    assert(r2.exists(r => r.inserted == 0 && r.skipped == 5))
    assert(spark.read.parquet(s"$work/table").count() == 5)
  }

  test("EP2 history pipeline: window + clean + synthesize + upsert") {
    val work = tmpDir("ep2")
    val anchor = java.time.LocalDate.parse("2026-08-10")
    val r = Pipelines.history(spark, fixture("daily_forex_rates.csv"),
      s"$work/table", anchor, months = 1)
    // In-window rows: 2026-07-15(USD dup collapses to 1), GBP 07-15,
    // JPY 07-16, CHF 07-17, DKK 08-09, USD 08-10 = 6; AUD (negative),
    // CAD (null rate), null-currency, bad-date, out-of-window rows drop.
    assert(r.exists(_.inserted == 6))
    val t = spark.read.parquet(s"$work/table")
    // C3: history event time = date@10:00 UTC
    assert(t.select(date_format(col("timestamptz"), "HH:mm").as("hm"))
      .distinct().head().getString(0) == "10:00")
    // rerun idempotence
    val r2 = Pipelines.history(spark, fixture("daily_forex_rates.csv"),
      s"$work/table", anchor, months = 1)
    assert(r2.exists(_.inserted == 0))
  }

  test("EP3 scrape pipeline: html -> merge-overwrite daily + upsert table") {
    val work = tmpDir("ep3")
    val html = readFixture("x_rates_table.html")
    val r = Pipelines.scrape(spark, html, s"$work/daily", s"$work/table")
    assert(r.exists(_.inserted == 4))
    assert(spark.read.parquet(s"$work/daily").count() == 4)
    val r2 = Pipelines.scrape(spark, html, s"$work/daily", s"$work/table")
    assert(r2.exists(_.inserted == 0))
    assert(spark.read.parquet(s"$work/daily").count() == 4)
  }

  test("EP3 structural failure alerts instead of throwing") {
    var alerted = false
    val alerter = new Alerter {
      def alert(s: String, b: String): Unit = { alerted = true }
    }
    val r = Pipelines.scrape(spark, "<html>no table</html>",
      tmpDir("ep3f") + "/d", tmpDir("ep3f") + "/t", alerter)
    assert(r.isEmpty && alerted)
  }

  test("sync: 20-min delta, provenance tags, column-union merge") {
    val work = tmpDir("sync")
    val json = readFixture("frankfurter_latest.json")
    val html = readFixture("x_rates_table.html")
    Pipelines.api(spark, () => json, s"$work/csv", s"$work/api")
    Pipelines.scrape(spark, html, s"$work/daily", s"$work/scraped")
    SyncHarness.out.clear()
    val n = Pipelines.sync(spark,
      Seq(s"$work/api" -> "api", s"$work/scraped" -> "web_scraper"),
      sessionNow(), SyncHarness.post)
    assert(n.contains(9L)) // 5 api + 4 scraped, all inside the window
    val shipped = SyncHarness.out.toArray(Array.empty[String])
    assert(shipped.length == 9)
    // drifted schemas merged: api rows have currency, scraped have currency_name
    assert(shipped.exists(_.contains("\"currency\":\"USD\"")))
    assert(shipped.exists(_.contains("\"currency_name\":\"US Dollar\"")))
    assert(shipped.forall(_.contains("\"source\":")))
  }

  test("orchestrator: full run_etl analog, continue-on-failure") {
    SyncHarness.out.clear()
    val report = runEtl(spark, "<html>broken page</html>") // EP3 fails
    assert(report.api.exists(_.inserted == 5))
    assert(report.history.exists(_.inserted == 6))
    assert(report.scrape.isEmpty) // failed but did not abort the run
    assert(report.synced.contains(11L)) // 5 api + 6 history
    assert(SyncHarness.out.size() == 11)
  }

  test("orchestrator: sync window follows the session time zone, not the JVM's") {
    // A session zone BEHIND the JVM's puts every created_at before a
    // JVM-zone `now` minus 20 minutes; one ahead of it is the other way.
    val jvmOffsetH = java.time.ZoneId.systemDefault().getRules
      .getOffset(java.time.Instant.now()).getTotalSeconds / 3600
    val behind = java.time.ZoneOffset.ofHours(math.max(-18, jvmOffsetH - 9)).getId
    for (zone <- Seq("Asia/Tokyo", behind)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", zone)
      val report = runEtl(s, "<html>broken page</html>")
      assert(report.synced.contains(11L), s"session zone $zone: $report")
    }
  }
}

/** Executor-side sink target — must be a JVM singleton (see RestSinkTestHarness). */
object SyncHarness {
  val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val post: Seq[String] => Unit = recs => recs.foreach(SyncHarness.out.add)
}
