package graft

import java.time.LocalDateTime

import graft.pipelines.{Alerter, Pipelines}
import graft.sinks.UpsertIgnore

/** Spark-job budgets of the daily pipeline stages. A daily batch is tens
  * of rows, so each job's fixed driver cost is the stage's latency; job
  * counts do not move with host load, so these pins guard that cost where
  * timings could not. Counts are under the shared `SparkSpec` session.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("currency", "timestamptz")
  private val t0 = LocalDateTime.of(2026, 8, 11, 0, 0)
  private def hours(from: Int, until: Int) =
    (from until until).map(i => ("USD", t0.plusHours(i.toLong), i.toDouble))
      .toDF("currency", "timestamptz", "rate")

  test("K5 upsert-ignore with pruneCol: 2 jobs on a new target, 4 on an existing one") {
    val dir = tmpDir("jbk5") + "/t"
    val (r0, j0) = jobsIn(UpsertIgnore(spark, hours(0, 10), dir, keys, Some("timestamptz")))
    assert(r0 == UpsertIgnore.Result(10, 0))
    assert(j0 == 2, s"new target: $j0 jobs (stats scan, write)")
    // first read of the path adds its footer-inference job
    val (r1, j1) = jobsIn(UpsertIgnore(spark, hours(5, 15), dir, keys, Some("timestamptz")))
    assert(r1 == UpsertIgnore.Result(5, 5))
    assert(j1 == 5, s"existing target, first read: $j1 jobs")
    val (r2, j2) = jobsIn(UpsertIgnore(spark, hours(10, 20), dir, keys, Some("timestamptz")))
    assert(r2 == UpsertIgnore.Result(5, 5))
    assert(j2 == 4, s"existing target: $j2 jobs (stats scan, broadcast build, " +
      "delta checkpoint, append)")
    // nothing new: no append job, and no empty file lands in the table
    val files = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    val (r3, j3) = jobsIn(UpsertIgnore(spark, hours(10, 20), dir, keys, Some("timestamptz")))
    assert(r3 == UpsertIgnore.Result(0, 10))
    assert(j3 == 3, s"all-duplicate batch: $j3 jobs")
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == files)
  }

  test("sync over two tables: one job once the footer schemas are cached") {
    val work = tmpDir("jbsync")
    Pipelines.api(spark, () => readFixture("frankfurter_latest.json"),
      s"$work/csv", s"$work/api")
    Pipelines.scrape(spark, readFixture("x_rates_table.html"),
      s"$work/daily", s"$work/scraped")
    val tables = Seq(s"$work/api" -> "api", s"$work/scraped" -> "web_scraper")
    def sync() = Pipelines.sync(spark, tables, sessionNow(), SyncHarness.post)
    SyncHarness.out.clear()
    val (n1, j1) = jobsIn(sync())
    assert(n1.contains(9L))
    assert(j1 == 3, s"first sync: $j1 jobs (2 footer inferences, RestSink)")
    val (n2, j2) = jobsIn(sync())
    assert(n2.contains(9L))
    assert(j2 == 1, s"sync: $j2 jobs (RestSink only)")
    assert(SyncHarness.out.size() == 18)
  }

  test("scrape: the empty-table gate runs no job") {
    val work = tmpDir("jbscrape")
    val html = readFixture("x_rates_table.html")
    val (r, j) = jobsIn(Pipelines.scrape(spark, html,
      s"$work/daily", s"$work/table"))
    assert(r.exists(_.inserted == 4))
    assert(j == 3, s"scrape on new targets: $j jobs")
    var alerted = false
    val alerter = new Alerter {
      def alert(s: String, b: String): Unit = { alerted = true }
    }
    // a page with its timestamp but no rates rows
    val noRows = html.replaceAll("(?s)<table.*</table>", "")
    val (r0, j0) = jobsIn(Pipelines.scrape(spark, noRows,
      s"$work/daily", s"$work/table", alerter))
    assert(r0.isEmpty && alerted)
    assert(j0 == 0, s"empty-table gate ran $j0 job(s)")
  }
}
