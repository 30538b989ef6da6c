package perfbench

import java.time.{DayOfWeek, LocalDate}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), computed with xxhash64 or a seeded `Random` rather than `rand()`,
  * so the same seed gives the same rows whatever the partitioning or core
  * count.
  */
object Gen {

  /** A non-negative pseudo-random long for (salt, key). */
  private def h(seed: Long, salt: Int, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(Long.MaxValue))
  /** Uniform in [0, 1). */
  private def uni(seed: Long, salt: Int, key: Column): Column =
    pmod(h(seed, salt, key), lit(1000000007L)) / lit(1000000007.0)
  /** Uniform int in [0, n). */
  private def pick(seed: Long, salt: Int, key: Column, n: Int): Column =
    pmod(h(seed, salt, key), lit(n.toLong)).cast("int")
  private def choose(seed: Long, salt: Int, key: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), pick(seed, salt, key, xs.size) + 1)
  /** Midnight timestamps uniform over [from, from + days). */
  private def day(seed: Long, salt: Int, key: Column, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), pick(seed, salt, key, days))
      .cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** The ten analytic tables the query registry reads, in the shapes and
    * value domains of the repository's TPC-H-style testdata, at `sf`
    * (lineitem = 600,000 × sf rows). Written as one parquet file per table
    * under `dir`, the layout `graft.Tables` loads.
    */
  def analyticTables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Int) = math.max(1L, math.round(base * sf))
    def rows(count: Long) = spark.range(0, count, 1, 4)
    val id = col("id")
    // the writes are independent jobs: run them from a few driver threads
    val writes = mutable.ArrayBuffer.empty[() => Unit]
    def save(name: String, df: => DataFrame): Unit =
      writes += (() => df.coalesce(1).write.parquet(s"$dir/$name.parquet"))

    save("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), id.cast("int") + 1).as("r_name")))
    save("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    val nCust = n(15000)
    save("customer", rows(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, 1, id, 25).as("c_nationkey"),
      round(uni(seed, 2, id) * 11000 - 1000, 2).as("c_acctbal"),
      choose(seed, 3, id, Seq("FURNITURE", "MACHINERY", "AUTOMOBILE",
        "BUILDING", "HOUSEHOLD")).as("c_mktsegment")))
    val nSupp = n(1000)
    save("supplier", rows(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(seed, 4, id, 25).as("s_nationkey"),
      round(uni(seed, 5, id) * 11000 - 1000, 2).as("s_acctbal")))
    val nPart = n(20000)
    val adj = Seq("large", "hot", "blue", "old", "cold", "small", "red", "new")
    val noun = Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wire")
    save("part", rows(nPart).select(id.as("p_partkey"),
      concat_ws(" ", choose(seed, 6, id, adj), choose(seed, 7, id, noun)).as("p_name"),
      concat(lit("Brand#"), pick(seed, 8, id, 25)).as("p_brand"),
      choose(seed, 9, id, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
        "MEDIUM", "PROMO")).as("p_type"),
      (pick(seed, 10, id, 50) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    val nOrd = n(150000)
    save("orders", rows(nOrd).select(id.as("o_orderkey"),
      pmod(h(seed, 11, id), lit(nCust)).as("o_custkey"),
      choose(seed, 12, id, Seq("O", "F", "P")).as("o_orderstatus"),
      round(uni(seed, 13, id) * 499000 + 1000, 2).as("o_totalprice"),
      day(seed, 14, id, "1995-01-01", 2404).as("o_orderdate"),
      choose(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    save("lineitem", rows(n(600000)).select(
      pmod(h(seed, 16, id), lit(nOrd)).as("l_orderkey"),
      pmod(h(seed, 17, id), lit(nPart)).as("l_partkey"),
      pmod(h(seed, 18, id), lit(nSupp)).as("l_suppkey"),
      (pick(seed, 19, id, 7) + 1).as("l_linenumber"),
      (pick(seed, 20, id, 50) + 1).cast("double").as("l_quantity"),
      round(uni(seed, 21, id) * 104100 + 900, 2).as("l_extendedprice"),
      (pick(seed, 22, id, 11) / 100.0).as("l_discount"),
      (pick(seed, 23, id, 9) / 100.0).as("l_tax"),
      choose(seed, 24, id, Seq("N", "A", "R")).as("l_returnflag"),
      choose(seed, 25, id, Seq("O", "F")).as("l_linestatus"),
      day(seed, 26, id, "1995-01-02", 2499).as("l_shipdate")))
    save("events", rows(n(100000)).select(id.as("event_id"),
      (lit("2024-01-01").cast("timestamp_ntz") +
        make_dt_interval(lit(0), lit(0), lit(0),
          (id * 25.92 + uni(seed, 27, id) * 25.0).cast("decimal(18,6)"))).as("ts"),
      pmod(h(seed, 28, id), lit(math.max(10L, n(15000)))).as("user_id"),
      choose(seed, 29, id, Seq("error", "view", "signup", "purchase", "click"))
        .as("event_type"),
      round(-log1p(-uni(seed, 30, id)) * 50, 2).as("value"),
      format_string("{\"k\": %d}", pick(seed, 31, id, 100)).as("props")))
    writes += (() => documents(spark, dir, seed, n(50000).toInt))
    val nEmb = n(20000)
    // 64-dim unit vectors, Box-Muller normals from two hashed uniforms
    val raw = rows(nEmb).select(id.as("vec_id"),
      expr(s"""transform(sequence(0, 63), j ->
        sqrt(-2 * ln(1 - (pmod(xxhash64(${seed}L, 32, id, j), 1000000007) + 1) / 1000000008.0))
        * cos(2 * pi() * pmod(xxhash64(${seed}L, 33, id, j), 1000000007) / 1000000007.0))""")
        .as("v"),
      pick(seed, 34, id, 10).as("label"))
    save("embeddings", raw.select(col("vec_id"),
      expr("transform(v, x -> cast(x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y)) as float))")
        .as("embedding"),
      col("label")))
    Parallel.run(writes.toSeq)
  }

  /** The `documents` table: space-joined words from `Vocab`, 8–100 words a
    * doc, with an occasional "dup" token, 20 sources and five languages.
    */
  def documents(spark: SparkSession, dir: String, seed: Long, count: Int): Unit = {
    val id = col("id")
    spark.range(0, count, 1, 4).select(id.as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(1, 8 + pmod(xxhash64(${seed}L, 40, id), 93)),
        i -> CASE WHEN pmod(xxhash64(${seed}L, 41, id, i), 250) = 0 THEN 'dup'
             ELSE element_at(array(${Vocab.map(w => s"'$w'").mkString(",")}),
               cast(pmod(xxhash64(${seed}L, 42, id, i), ${Vocab.size}) + 1 as int)) END))""")
        .as("text"),
      choose(seed, 43, id, Seq("en", "en", "en", "zh", "es", "fr", "de")).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  // ---------------------------------------------------------------- corpus

  /** A curation corpus. `docs` are (doc_id, text) in ingest order; the
    * planted sets name the docs that must never reach the training table.
    */
  final case class Corpus(
      docs: IndexedSeq[(Long, String)],
      benchmark: IndexedSeq[(Long, String)],
      exactDups: Set[Long],
      nearDups: Set[Long],
      contaminated: Set[Long]) {
    def planted: Set[Long] = exactDups ++ nearDups ++ contaminated
  }

  /** `count` docs shaped like the `documents` table. About 4% are exact
    * copies and 4% near copies (one word appended) of an EARLIER doc, and
    * 2% carry a 12-word span of a benchmark doc — the decontamination
    * slice. Copies and sources are at least 40 words long, so a one-word
    * edit keeps word-3-gram Jaccard above 0.95.
    */
  def corpus(seed: Long, count: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    def words(k: Int) = Seq.fill(k)(Vocab(rnd.nextInt(Vocab.size)))
    // the benchmark uses words outside the corpus vocabulary, so no
    // organic doc can share an 8-gram with it by chance
    val benchVocab = Vocab.map(_ + "x")
    val bench = (0 until 40).map { i =>
      (1000000L + i, Seq.fill(40)(benchVocab(rnd.nextInt(benchVocab.size))).mkString(" "))
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val exact, near, contam = scala.collection.mutable.Set.empty[Long]
    var i = 0L
    while (docs.size < count) {
      val r = rnd.nextDouble()
      val longOnes = docs.filter(_._2.count(_ == ' ') >= 39)
      val text =
        if (r < 0.04 && longOnes.nonEmpty) {
          exact += i; longOnes(rnd.nextInt(longOnes.size))._2
        } else if (r < 0.08 && longOnes.nonEmpty) {
          near += i; longOnes(rnd.nextInt(longOnes.size))._2 + " " + Vocab(rnd.nextInt(Vocab.size))
        } else if (r < 0.10) {
          contam += i
          val b = bench(rnd.nextInt(bench.size))._2.split(' ')
          val at = rnd.nextInt(b.length - 12)
          (words(20) ++ b.slice(at, at + 12) ++ words(20)).mkString(" ")
        } else words(8 + rnd.nextInt(93)).mkString(" ")
      docs += i -> text
      i += 1
    }
    Corpus(docs.toIndexedSeq, bench, exact.toSet, near.toSet, contam.toSet)
  }

  // ----------------------------------------------------------------- forex

  val Currencies: Seq[(String, String)] = Seq(
    "USD" -> "US Dollar", "GBP" -> "British Pound", "JPY" -> "Japanese Yen",
    "CHF" -> "Swiss Franc", "AUD" -> "Australian Dollar",
    "CAD" -> "Canadian Dollar", "CNY" -> "Chinese Yuan Renminbi",
    "SEK" -> "Swedish Krona", "NOK" -> "Norwegian Krone",
    "DKK" -> "Danish Krone", "PLN" -> "Polish Zloty", "CZK" -> "Czech Koruna",
    "HUF" -> "Hungarian Forint", "INR" -> "Indian Rupee",
    "BRL" -> "Brazilian Real", "MXN" -> "Mexican Peso",
    "ZAR" -> "South African Rand", "KRW" -> "South Korean Won",
    "SGD" -> "Singapore Dollar", "HKD" -> "Hong Kong Dollar",
    "NZD" -> "New Zealand Dollar", "TRY" -> "Turkish Lira",
    "ILS" -> "Israeli New Shekel", "THB" -> "Thai Baht",
    "MYR" -> "Malaysian Ringgit", "PHP" -> "Philippine Peso",
    "IDR" -> "Indonesian Rupiah", "ISK" -> "Icelandic Krona",
    "RON" -> "Romanian Leu", "BGN" -> "Bulgarian Lev")

  private def rate(seed: Long, ccy: Int, d: LocalDate, salt: Int): Double = {
    val r = new scala.util.Random(seed * 1000003L + d.toEpochDay * 131 + ccy * 7 + salt)
    math.round((0.5 + ccy * 3.7 + r.nextDouble()) * 10000) / 10000.0
  }

  /** Days of the simulated run: `count` consecutive calendar days from a
    * Friday in a seeded week of 2024, so the second day is always a
    * Saturday, whose API rates replay Friday's.
    */
  def days(seed: Long, count: Int): IndexedSeq[LocalDate] = {
    val start = LocalDate.of(2024, 1, 5).plusWeeks(new scala.util.Random(seed).nextInt(45).toLong)
    (0 until count).map(i => start.plusDays(i.toLong))
  }

  /** The business day whose rates the Frankfurter API serves on `d`:
    * weekends replay Friday.
    */
  def apiDate(d: LocalDate): LocalDate = d.getDayOfWeek match {
    case DayOfWeek.SATURDAY => d.minusDays(1)
    case DayOfWeek.SUNDAY   => d.minusDays(2)
    case _                  => d
  }

  def frankfurterJson(seed: Long, d: LocalDate): String = {
    val ad = apiDate(d)
    Currencies.zipWithIndex.map { case ((code, _), i) =>
      s""""$code":${rate(seed, i, ad, 1)}"""
    }.mkString(s"""{"amount":1.0,"base":"EUR","date":"$ad","rates":{""", ",", "}}")
  }

  /** An x-rates style page for `d`, stamped at a seeded minute of the day. */
  def xratesHtml(seed: Long, d: LocalDate): String = {
    val minute = new scala.util.Random(seed + d.toEpochDay).nextInt(24 * 60)
    val month = d.getMonth.getDisplayName(java.time.format.TextStyle.SHORT,
      java.util.Locale.ENGLISH)
    val stamp = f"$month ${d.getDayOfMonth}, ${d.getYear} ${minute / 60}%02d:${minute % 60}%02d UTC"
    val rows = Currencies.zipWithIndex.map { case ((_, name), i) =>
      s"<tr><td>$name</td><td class='rtRates'>${rate(seed, i, d, 2)}</td>" +
        s"<td class='rtRates'>${math.round(10000 / rate(seed, i, d, 2)) / 10000.0}</td></tr>"
    }.mkString("\n")
    s"""<html><body><span class="ratesTimestamp">$stamp</span>
       |<table class="tablesorter ratesTable"><thead><tr><th>Euro</th><th>1.00 EUR</th><th>inv.</th></tr></thead>
       |$rows
       |</table></body></html>""".stripMargin
  }

  /** The multi-year history CSV and, per currency and date, whether a
    * valid row survives cleaning. Rows are daily from `from` through `to`.
    * Planted faults: ~2% exact duplicate lines, ~1% null rates, ~1%
    * non-positive rates and ~1% unparseable dates.
    */
  final case class History(csv: String, validKeys: Set[(String, LocalDate)])

  def historyCsv(seed: Long, from: LocalDate, to: LocalDate): History = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val sb = new StringBuilder("currency,base_currency,currency_name,exchange_rate,date\n")
    val valid = scala.collection.mutable.Set.empty[(String, LocalDate)]
    var d = from
    while (!d.isAfter(to)) {
      Currencies.zipWithIndex.foreach { case ((code, name), i) =>
        val r = rnd.nextDouble()
        val rateText =
          if (r < 0.01) "" else if (r < 0.02) "-1.0" else rate(seed, i, d, 3).toString
        val dateText = if (r >= 0.02 && r < 0.03) "not-a-date" else d.toString
        val line = s"$code,EUR,$name,$rateText,$dateText\n"
        sb ++= line
        if (r >= 0.03 && r < 0.05) sb ++= line
        if (r >= 0.03) valid += code -> d
      }
      d = d.plusDays(1)
    }
    History(sb.toString, valid.toSet)
  }
}
