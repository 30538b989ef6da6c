package graft.sources

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** S1-S4 — historical-CSV source (etl/csv_loader.py:49,90). Explicit schema
  * (never inferred), permissive date parse downstream (C1). At scale the
  * path is a directory of CSVs read in parallel; header handling and
  * malformed-row tolerance are reader options, not driver loops.
  */
object CsvHistorySource {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.historyCsv)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
}

/** S5 + C11 — REST-JSON rates source (etl/api_fetcher.py:40-97).
  *
  * The HTTP fetch itself is a driver-side, once-per-batch concern (one
  * ~30-row document per day — distributing the fetch would be wrong); it
  * hides behind `fetch: () => String` so the offline harness injects
  * fixture text. Everything after the fetch is a lazy Spark plan: parse
  * the document with from_json against an explicit schema, explode the
  * `rates` map wide→long (the reference's dict→rows pivot at
  * etl/api_fetcher.py:85), synthesize the 16:00-CET event time (C4).
  */
object RestJsonSource {

  /** Parse a Frankfurter-shaped JSON document into the long api row shape. */
  def parse(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(json)).toDF("raw")
      .select(from_json(col("raw"), Schemas.frankfurterDoc).as("doc"))
      .select(
        explode(col("doc.rates")).as(Seq("currency", "exchange_rate")),
        col("doc.base").as("base_currency"),
        to_date(col("doc.date")).as("date"))
      .withColumn("timestamptz",
        to_utc_timestamp(
          to_timestamp(concat(date_format(col("date"), "yyyy-MM-dd"), lit(" 16:00:00"))),
          "CET").cast("timestamp_ntz"))
      .select("currency", "base_currency", "exchange_rate", "date", "timestamptz")
  }

  def read(spark: SparkSession, fetch: () => String): DataFrame =
    parse(spark, fetch())
}

/** S6-S8 + C5/C12 — HTML rates-table source (etl/web_scraper.py:36-104).
  *
  * The page fetch/parse is driver-side (one small page per batch; jsoup is
  * not in the offline cache so the table is extracted with regexes, which
  * the x-rates structure — plain <table class="...ratesTable"> of <td>
  * pairs — supports). Parsed rows become a DataFrame via createDataFrame
  * with the explicit scraped schema; row-level guards mirror the
  * reference: skip header row, skip rows with <2 cells
  * (etl/web_scraper.py:75,89-90), strip + float-cast (:91-92).
  */
object HtmlRatesSource {
  private val TablePattern =
    """(?s)<table[^>]*class="[^"]*ratesTable[^"]*"[^>]*>(.*?)</table>""".r
  private val RowPattern = """(?s)<tr[^>]*>(.*?)</tr>""".r
  private val CellPattern = """(?s)<td[^>]*>(.*?)</td>""".r
  private val TagStrip = """<[^>]*>""".r
  private val TimestampPattern =
    """<span[^>]*class="[^"]*ratesTimestamp[^"]*"[^>]*>([^<]*)</span>""".r

  /** S7 — page-level timestamp: `"Apr 12, 2025 18:28 UTC"` parsed with the
    * reference's format (etl/web_scraper.py:50-56), known-UTC.
    */
  def extractTimestamp(html: String): Option[LocalDateTime] =
    TimestampPattern.findFirstMatchIn(html).flatMap { m =>
      val text = m.group(1).trim.stripSuffix(" UTC").trim
      val fmt = DateTimeFormatter.ofPattern("MMM d, yyyy HH:mm", Locale.ENGLISH)
      try Some(LocalDateTime.parse(text, fmt))
      catch { case _: Exception => None }
    }

  /** S8 — rates table rows: (currency_name, rate) cell pairs. */
  def parseRates(html: String): Seq[(String, Double)] =
    TablePattern.findFirstMatchIn(html).toSeq.flatMap { tbl =>
      RowPattern.findAllMatchIn(tbl.group(1)).toSeq
        .drop(1) // header row, etl/web_scraper.py:75
        .flatMap { row =>
          val cells = CellPattern.findAllMatchIn(row.group(1))
            .map(c => TagStrip.replaceAllIn(c.group(1), "").trim).toSeq
          if (cells.length < 2) None // malformed-row guard, :89-90
          else cells(1).toDoubleOption.map(rate => (cells.head, rate))
        }
    }

  /** Full source: HTML text → scraped-shape DataFrame with the page
    * timestamp stamped on every row (C5, etl/web_scraper.py:98-99).
    */
  def read(spark: SparkSession, html: String): DataFrame =
    read(spark, html, parseRates(html))

  /** [[read]] over rates the caller already parsed from `html`. */
  def read(spark: SparkSession, html: String, rates: Seq[(String, Double)]): DataFrame = {
    val ts = extractTimestamp(html)
      .getOrElse(throw new IllegalArgumentException(
        "ratesTimestamp span missing or unparseable"))
    val rows = rates.map { case (name, rate) =>
      Row(name, "EUR", rate, ts.toLocalDate, ts, null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), Schemas.scraped)
  }
}
