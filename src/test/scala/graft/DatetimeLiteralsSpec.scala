package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipelines.Pipelines

/** Datetime literals reach generated code by reference: the daily
  * pipelines fold their clock and anchor day into timestamp and date
  * literals, and a run with new values must reuse the classes an earlier
  * run compiled. Scans keep their literal filters for pushdown, and the
  * interpreted path returns what generated code does.
  */
class DatetimeLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The non-null datetime literals in the expressions of `plan`'s
    * non-leaf nodes, adaptive stages and subqueries included.
    */
  private def inlinedDatetimes(plan: SparkPlan): Seq[Literal] =
    collectWithSubqueries(plan) { case p if p.children.nonEmpty => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case l @ Literal(v, DateType | TimestampType | TimestampNTZType) if v != null => l
      }))

  test("a second daily round with a new day and clock compiles no class") {
    val json = readFixture("frankfurter_latest.json")
    val html = readFixture("x_rates_table.html")
    def round(day: LocalDate, now: LocalDateTime): Seq[Option[Long]] = {
      val work = tmpDir("dtround")
      Seq(
        Pipelines.api(spark, () => json, s"$work/csv", s"$work/api").map(_.inserted),
        Pipelines.history(spark, fixture("daily_forex_rates.csv"),
          s"$work/history", day).map(_.inserted),
        Pipelines.scrape(spark, html, s"$work/daily", s"$work/scraped").map(_.inserted),
        Pipelines.sync(spark, Seq(s"$work/api" -> "api",
          s"$work/history" -> "csv", s"$work/scraped" -> "web_scraper"),
          now, SyncHarness.post))
    }
    val now = sessionNow()
    val (first, _) = compilesIn(round(LocalDate.parse("2026-08-10"), now))
    assert(first == Seq(Some(5L), Some(6L), Some(4L), Some(15L)))
    val (second, warm) = compilesIn(
      round(LocalDate.parse("2026-08-11"), now.plusMinutes(1)))
    assert(second == first)
    assert(warm == 0, s"the second round compiled $warm classes")
  }

  test("datetime literal filters: same rows interpreted as generated, no literal inlined") {
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def hour(h: Long) = Instant.ofEpochSecond(h * 3600)
    val day = LocalDate.ofInstant(hour(20), zone)
    def query: DataFrame = spark.range(48)
      .select(col("id"), timestamp_seconds(col("id") * 3600).as("ts"))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
      .withColumn("d", col("ts").cast("date"))
      .filter(col("ts") >= lit(java.sql.Timestamp.from(hour(5))) &&
        col("ntz") < lit(LocalDateTime.ofInstant(hour(30), zone)) &&
        col("d") <= lit(day))
      .groupBy("d")
      .agg(count(lit(1)).as("n"), min("id").as("lo"),
        max(greatest(col("ts"), lit(java.sql.Timestamp.from(hour(12))))).as("hi"))
      .orderBy("d")
    val generated = query
    val rows = generated.collect().toSeq
    assert(inlinedDatetimes(generated.queryExecution.executedPlan).isEmpty,
      generated.queryExecution.executedPlan.toString)
    val expected = (5L until 30L).filter(h => !LocalDate.ofInstant(hour(h), zone).isAfter(day))
      .groupBy(h => LocalDate.ofInstant(hour(h), zone)).toSeq.sortBy(_._1.toEpochDay)
    assert(rows.map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2))) ==
      expected.map { case (d, hs) => (d, hs.size.toLong, hs.min) })
    val key = "spark.sql.codegen.factoryMode"
    spark.conf.set(key, "NO_CODEGEN")
    val interpreted = try query.collect().toSeq finally spark.conf.unset(key)
    assert(interpreted == rows)
  }

  test("sync's scans keep the created_at bound in PushedFilters") {
    val work = tmpDir("dtpush")
    Pipelines.api(spark, () => readFixture("frankfurter_latest.json"),
      s"$work/csv", s"$work/api")
    Pipelines.scrape(spark, readFixture("x_rates_table.html"),
      s"$work/daily", s"$work/scraped")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val shipped = try {
      val n = Pipelines.sync(spark,
        Seq(s"$work/api" -> "api", s"$work/scraped" -> "web_scraper"),
        sessionNow(), SyncHarness.post)
      ListenerBusDrain(spark.sparkContext)
      n
    } finally spark.listenerManager.unregister(listener)
    assert(shipped.contains(9L))
    import scala.jdk.CollectionConverters._
    val synced = plans.asScala.toSeq
    val scans = synced.flatMap(p => collect(p) { case s: FileSourceScanExec => s })
    assert(scans.size == 2, synced.mkString("\n"))
    scans.foreach { s =>
      val pushed = s.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(created_at,"), pushed)
    }
    synced.foreach(p => assert(inlinedDatetimes(p).isEmpty, p.toString))
  }
}
