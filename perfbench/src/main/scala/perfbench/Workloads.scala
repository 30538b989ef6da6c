package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Transforms
import graft.pipelines.{Alerter, Pipelines, TrainingSet}
import graft.queries.{ExtQueries, ParityQueries}
import graft.sources.TableIO

/** One closed-loop operation. `run` does the timed work and returns the
  * correctness check, which the harness runs outside the timed interval;
  * the check returns its failure messages (empty = correct).
  */
final case class Op(kind: String, run: Tracer => (() => Seq[String]))

/** A workload: fixed inputs from the seed, a warm-up, and a fixed list of
  * ops per pass. A pass `tag` names fresh state, so two passes in one run
  * (untraced, then traced) do identical work.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def pass(tag: String): IndexedSeq[Op]
  /** Timed passes; each op reports its best time over them. */
  def timedPasses: Int = 1
  /** Checks over the whole pass, run after its last op. */
  def endChecks(tag: String): Seq[String]
  /** On-disk bytes and data files of everything the pass wrote. */
  def written(tag: String): (Long, Long)
  /** Per-pass totals the ops observed (docs kept, rows inserted, ...). */
  def facts(tag: String): Map[String, Double]
  /** Input sizes, for the report. */
  def inputs: Seq[(String, Any)]
  /** Digest of the generated inputs, recomputed from what was written. */
  def inputDigest: String
}

/** Runs independent driver-side tasks from a few threads, rethrowing the
  * first failure after all have ended.
  */
object Parallel {
  def run(tasks: Seq[() => Unit], threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      val errors = fs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
      errors.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}

object Workloads {
  def du(spark: SparkSession, paths: Seq[String]): (Long, Long) = {
    val fs = new Path(paths.headOption.getOrElse("/")).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    paths.map(new Path(_)).filter(fs.exists).map { p =>
      val it = fs.listFiles(p, true)
      var bytes, files = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.endsWith(".crc")) bytes += f.getLen
        if (name.endsWith(".parquet") || name.endsWith(".csv")) files += 1
      }
      (bytes, files)
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  /** Order-insensitive digest of a frame: row count and the decimal sum of
    * per-row xxhash64 over every column rendered as a string.
    */
  def rowHash(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)), hashSum(df)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
  def hashSum(df: DataFrame): org.apache.spark.sql.Column =
    sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*)
      .cast("decimal(38,0)"))

  def sha(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def rm(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

// ------------------------------------------------------------------ query_mix

/** Read-only analytic entries of the query registry in a seeded order.
  *
  * The tables are generated from a FIXED data seed, independent of the run
  * seed, so each entry's row count and row hash can be pinned; the run seed
  * picks the order. Entries: the `ParityQueries` entries that write no
  * table, start no stream and are not in `Costly`, plus the `ExtQueries`
  * search and probe entries, whose indexes are built during set-up.
  */
class QueryMix(spark: SparkSession, work: String, seed: Long, rounds: Int,
    pins: Pins) extends Workload {
  import QueryMix._
  private val dir = s"$work/data"
  private val all = ParityQueries.queries ++ ExtQueries.queries
  val entries: IndexedSeq[(String, (SparkSession, String) => DataFrame)] =
    (ParityQueries.queries.keys.filterNot(k => WritesOrStreams(k) || Costly(k)).toSeq ++ Search).sorted
      .map(n => n -> all(n)).toIndexedSeq

  private val timings = mutable.ArrayBuffer.empty[(String, Any)]
  private val hashed = mutable.Set.empty[String]
  private val pendingHashes = mutable.ArrayBuffer.empty[(String, DataFrame)]
  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally timings += name -> f"${(System.nanoTime() - t0) / 1e9}%.2f"
  }

  def setup(): Unit = {
    timed("gen_s")(Gen.analyticTables(spark, dir, DataSeed, Sf))
    timed("index_s")(ExtQueries.buildIndexes(spark, dir))
  }

  /** One run of every entry. Entries that only read immutable tables and
    * in-memory indexes warm up from a few driver threads; the entries that
    * build or attach index artifacts on first use run one at a time.
    */
  def warmup(): Unit = {
    val (serial, parallel) = entries.partition(e => BuildsArtifacts.contains(e._1))
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    timed("warm_s") {
      Parallel.run(parallel.map { case (_, fn) => () => { fn(spark, dir).count(); () } })
      serial.foreach { case (_, fn) => fn(spark, dir).count() }
    }
    timings += "warm_jit_ms" -> (jit.getTotalCompilationTime - jit0)
  }

  def pass(tag: String): IndexedSeq[Op] = {
    val rnd = new scala.util.Random(seed)
    val order = (1 to rounds).flatMap(_ => rnd.shuffle(entries))
    order.map { case (name, fn) =>
      Op(name, t => {
        val df = t.span("queries.build")(fn(spark, dir))
        val n = t.span("queries.action")(df.count())
        () => {
          // every op's count is checked here; the row hash costs a job,
          // so each entry's first op of the run queues it for endChecks
          if (hashed.add(name)) pendingHashes += ((name, df))
          pins.entry(name) match {
            case Some(p) if n == p.rows => Nil
            case p => Seq(s"$name: count() gave $n rows, pinned ${p.map(_.rows)}")
          }
        }
      })
    }
  }

  /** The queued row-hash checks, a few at a time. A failure names the
    * observed row count and hash next to the pin.
    */
  def endChecks(tag: String): Seq[String] = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Parallel.run(pendingHashes.toSeq.map { case (name, df) => () => {
      val (rows, hash) = Workloads.rowHash(df)
      val p = pins.entry(name)
      if (!p.exists(x => x.rows == rows && x.hash.forall(_ == hash)))
        failures.add(s"$name: rows $rows hash $hash, pinned ${p.fold("nothing")(x => s"rows ${x.rows} hash ${x.hash.getOrElse("-")}")}")
    } })
    pendingHashes.clear()
    failures.toArray(Array.empty[String]).toSeq
  }
  /** The stores query_mix writes are the index artifacts its entries
    * persist under the session's temporary directory.
    */
  def written(tag: String): (Long, Long) =
    Workloads.du(spark, Seq(sys.props("java.io.tmpdir")))
  def facts(tag: String): Map[String, Double] = Map.empty
  def inputs: Seq[(String, Any)] = Seq("entries" -> entries.size, "rounds" -> rounds,
    "sf" -> Sf, "lineitem_rows" -> math.round(600000 * Sf)) ++ timings

  /** Row count and row hash of each generated table, in one action. */
  lazy val tableDigests: Seq[(String, String)] =
    graft.Tables.All.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      df.agg(lit(t).as("t"), count(lit(1)).as("n"), Workloads.hashSum(df).as("h"))
    }.reduce(_ unionByName _).collect().toSeq
      .map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getDecimal(2).toPlainString}")
      .sortBy(_._1)
  def inputDigest: String = Workloads.sha(tableDigests.map { case (t, h) => s"$t:$h" })
}

object QueryMix {
  val DataSeed = 42L
  val Sf = 0.005
  /** The `ParityQueries` entries that write a table or start a stream:
    * the streaming-runtime entries and the incremental rollups and SCD1
    * upsert, which commit to a temporary table before reading it back.
    */
  val WritesOrStreams: Set[String] = Set("stream_ingest_windowed",
    "stream_stream_join", "stream_drift_monitor", "stream_temporal_enrich",
    "rollup_incremental", "rollup_distinct_hll", "rollup_quantile_kll",
    "rollup_topk_freq", "rollup_tx_incremental", "scd1_upsert")
  /** Read-only `ParityQueries` entries left out to fit the run budget:
    * those whose warm op took more than 300 ms (median of five runs at
    * sf 0.005 on 4 shared cores). With all 94 read-only entries a run
    * took 76-100 s, too long for 48 runs to fit in an hour. 57 read-only
    * parity entries stay in.
    */
  val Costly: Set[String] = Set("a2_dedup_keepfirst", "agg_rollup",
    "cohort_retention", "drift_ks_price", "encode_target_loo",
    "fuzzy_join_suppliers", "grouped_topk_agg", "impute_mean_median",
    "interval_overlap_shipments", "join_broadcast_segment", "join_full_outer",
    "join_star_region", "layout_zorder_quantile", "profile_columns",
    "range_join_open_orders", "robust_iqr_outliers", "scd2_merge",
    "sessionization", "set_except_all", "set_intersect", "tpch_q10_returned",
    "tpch_q12_late_priority", "tpch_q13_order_distribution",
    "tpch_q15_top_supplier", "tpch_q16_supplier_cnt", "tpch_q17_small_quantity",
    "tpch_q18_large_orders", "tpch_q20_dominant_supplier",
    "tpch_q21_waiting_supplier", "tpch_q22_idle", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_priority_late", "tpch_q5_local_volume",
    "tpch_q7_volume", "tpch_q8_mktshare", "tpch_q9_profit")
  /** ExtQueries search and probe entries: IVF, PQ, BM25 and cosine top-k. */
  val Search: Seq[String] = Seq("ext_cosine_topk", "ext_batch_topk",
    "ext_pq_topk", "ext_ivf_topk", "ext_ivfpq_topk", "ext_ivf_topk_persisted",
    "ext_ivfpq_topk_persisted", "ext_bm25_search", "ext_bm25_indexed")
  /** Search entries that write or attach an index artifact on first use. */
  val BuildsArtifacts: Set[String] = Set("ext_ivf_topk_persisted",
    "ext_ivfpq_topk_persisted", "ext_bm25_indexed")
}

// ------------------------------------------------------------- curation_batch

/** Batches of a seeded corpus through `TrainingSet.ingest` into one durable
  * store and one TxTable target, with `compactStores` on a seeded cadence.
  */
class CurationBatch(spark: SparkSession, work: String, seed: Long,
    nBatches: Int, batchDocs: Int) extends Workload {
  import spark.implicits._
  private lazy val corpus = Gen.corpus(seed, nBatches * batchDocs)
  private val corpusPath = s"$work/inputs/corpus"
  private val benchPath = s"$work/inputs/benchmark"
  /** Compaction after every `cadence`-th batch. */
  val cadence: Int = 3 + new scala.util.Random(seed).nextInt(3)
  private val stats = mutable.Map.empty[String, mutable.Map[String, Double]]

  private def store(tag: String) = s"$work/$tag/store"
  private def target(tag: String) = s"$work/$tag/training"
  private def batch(b: Int): DataFrame =
    spark.read.schema("doc_id LONG, text STRING, batch INT").parquet(corpusPath)
      .filter(col("batch") === b).drop("batch")
  private def bench: DataFrame =
    spark.read.schema("doc_id LONG, text STRING").parquet(benchPath)

  def setup(): Unit = {
    corpus.docs.map { case (id, text) => (id, text, (id / batchDocs).toInt) }
      .toDF("doc_id", "text", "batch").write.partitionBy("batch").parquet(corpusPath)
    corpus.benchmark.toDF("doc_id", "text").coalesce(1).write.parquet(benchPath)
  }

  def warmup(): Unit = {
    val (s, t) = (store("warmup"), target("warmup"))
    Seq(0, 1).foreach(b => TrainingSet.ingest(spark, batch(b), bench, s, t, s"b$b"))
    TrainingSet.compactStores(spark, s)
    Workloads.rm(spark, s"$work/warmup")
  }

  def pass(tag: String): IndexedSeq[Op] = {
    val st = stats.getOrElseUpdate(tag, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    val benchDf = bench
    (0 until nBatches).map { b =>
      val batchDf = batch(b)
      Op("ingest", t => {
        val r = t.span("pipelines.ingest")(
          TrainingSet.ingest(spark, batchDf, benchDf, store(tag), target(tag), s"b$b"))
        if ((b + 1) % cadence == 0)
          t.span("pipelines.compact")(TrainingSet.compactStores(spark, store(tag)))
        st("docs_in") += r.input
        st("docs_kept") += r.afterSubstring
        () => {
          val again = TrainingSet.ingest(spark, batchDf, benchDf, store(tag), target(tag), s"b$b")
          Seq(
            if (r.alreadyApplied) Some(s"batch $b: first ingest reported alreadyApplied") else None,
            if (r.input != batchDocs) Some(s"batch $b: ingest saw ${r.input} docs, generated $batchDocs") else None,
            if (!again.alreadyApplied) Some(s"batch $b: re-ingest was not reported alreadyApplied") else None
          ).flatten
        }
      })
    }
  }

  def endChecks(tag: String): Seq[String] = {
    val kept = graft.sinks.TxTable.read(spark, target(tag)).map(
      _.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val leaked = kept.intersect(corpus.planted)
    val st = stats(tag)
    Seq(
      if (leaked.nonEmpty) Some(s"${leaked.size} planted duplicates or contaminated docs reached the training table, e.g. ${leaked.take(5).mkString(",")}") else None,
      if (kept.size != st("docs_kept").toLong) Some(s"training table holds ${kept.size} docs, ingest reports ${st("docs_kept").toLong}") else None,
      if (kept.isEmpty) Some("training table is empty") else None
    ).flatten
  }

  def written(tag: String): (Long, Long) = Workloads.du(spark, Seq(store(tag), target(tag)))
  def facts(tag: String): Map[String, Double] = stats(tag).toMap ++ Map(
    "store_files" -> Workloads.du(spark, Seq(store(tag)))._2.toDouble)
  def inputs: Seq[(String, Any)] = Seq("docs" -> corpus.docs.size,
    "batches" -> nBatches, "batch_docs" -> batchDocs, "compact_every" -> cadence,
    "planted_exact" -> corpus.exactDups.size, "planted_near" -> corpus.nearDups.size,
    "planted_contaminated" -> corpus.contaminated.size,
    "benchmark_docs" -> corpus.benchmark.size)
  def inputDigest: String = {
    val onDisk = spark.read.parquet(corpusPath).select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val gen = Workloads.sha(corpus.docs.map { case (i, t) => s"$i\t$t\n" })
    val read = Workloads.sha(onDisk.toSeq.map { case (i, t) => s"$i\t$t\n" })
    if (gen != read) throw new IllegalStateException(s"corpus on disk ($read) differs from the generated corpus ($gen)")
    gen
  }
}

// ---------------------------------------------------------------- daily_ingest

/** Simulated days of the reference's daily job: per day the API and scrape
  * pipelines on that day's generated documents, the history pipeline on a
  * multi-year CSV with a one-month window, a sync of exactly that day's
  * inserts, and a top-10 read of each table. Each stage is one op.
  */
class DailyIngest(spark: SparkSession, work: String, seed: Long, nDays: Int,
    plantFault: Boolean) extends Workload {
  val days: IndexedSeq[LocalDate] = Gen.days(seed, nDays)
  private val csvPath = s"$work/inputs/history.csv"
  private lazy val history = Gen.historyCsv(seed, days.head.minusYears(3), days.last)
  private val stats = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val posted = spark.sparkContext.longAccumulator("perfbench.posted")

  private object CountingAlerter extends Alerter {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def n: Int = seen.size
    def alert(subject: String, body: String): Unit = seen.add(s"$subject: $body")
  }

  private def p(tag: String, t: String) = s"$work/$tag/$t"
  private val Schemas = Map("api" -> graft.schema.Schemas.api,
    "csv" -> graft.schema.Schemas.history, "web_scraper" -> graft.schema.Schemas.scraped)
  private def tables(tag: String) = Seq(
    p(tag, "forex_rates_api") -> "api", p(tag, "forex_rates_history") -> "csv",
    p(tag, "forex_rates_scraped") -> "web_scraper")

  def setup(): Unit = {
    val f = new java.io.File(csvPath)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, history.csv.getBytes("UTF-8"))
  }

  /** Expected keys per table after each day, from the generator alone. */
  private lazy val expected: IndexedSeq[Map[String, Int]] = {
    val api = mutable.Set.empty[LocalDate]
    var windowFrom = Option.empty[LocalDate]
    days.indices.map { i =>
      api += Gen.apiDate(days(i))
      windowFrom = Some(windowFrom.getOrElse(days(i).minusMonths(1)))
      val hist = history.validKeys.count { case (_, d) =>
        !d.isBefore(windowFrom.get) && !d.isAfter(days(i)) }
      Map("api" -> api.size * Gen.Currencies.size, "csv" -> hist,
        "web_scraper" -> (i + 1) * Gen.Currencies.size)
    }
  }

  private def runDay(tag: String, i: Int, d: LocalDate,
      st: mutable.Map[String, Double]): IndexedSeq[Op] = {
    val json = Gen.frankfurterJson(seed, d)
    val html = Gen.xratesHtml(seed, d)
    val before = if (i == 0) Map("api" -> 0, "csv" -> 0, "web_scraper" -> 0) else expected(i - 1)
    val want = expected(i)
    var dayStart: LocalDateTime = null
    val inserted = mutable.Map.empty[String, Long]
    def upsertOp(kind: String, tableTag: String, call: => Option[graft.sinks.UpsertIgnore.Result]) =
      Op(kind, t => {
        if (kind == "api") dayStart = LocalDateTime.now(ZoneOffset.UTC)
        val r = t.span(s"pipelines.$kind")(call)
        r.foreach { x =>
          inserted(tableTag) = x.inserted
          st("rows_offered") += x.inserted + x.skipped
          st("rows_inserted") += x.inserted
        }
        if (plantFault && kind == "api" && i == 0) {
          val apiT = p(tag, "forex_rates_api")
          spark.read.parquet(apiT).limit(1).write.mode("append").parquet(apiT)
        }
        () => {
          val n = spark.read.parquet(tables(tag).find(_._2 == tableTag).get._1).count()
          Seq(
            if (r.isEmpty) Some(s"day $d $kind: pipeline failed") else None,
            r.filter(_.inserted != want(tableTag) - before(tableTag)).map(x =>
              s"day $d $kind: inserted ${x.inserted}, expected ${want(tableTag) - before(tableTag)}"),
            if (n != want(tableTag)) Some(s"day $d $kind: table holds $n rows, expected ${want(tableTag)}") else None
          ).flatten
        }
      })
    val sourceRows = Gen.Currencies.size * 2 + history.csv.count(_ == '\n') - 1
    IndexedSeq(
      upsertOp("api", "api", Pipelines.api(spark, () => json,
        p(tag, "api_rates_csv"), p(tag, "forex_rates_api"), CountingAlerter)),
      upsertOp("history", "csv", Pipelines.history(spark, csvPath,
        p(tag, "forex_rates_history"), d, months = 1, alerter = CountingAlerter)),
      upsertOp("scrape", "web_scraper", Pipelines.scrape(spark, html,
        p(tag, "scraped_daily"), p(tag, "forex_rates_scraped"), CountingAlerter)),
      Op("sync", t => {
        val posted0 = posted.value
        val acc = posted
        val post: Seq[String] => Unit = { batch => acc.add(batch.size.toLong) }
        val n = t.span("pipelines.sync")(Pipelines.sync(spark, tables(tag), dayStart, post,
          minutes = 0, alerter = CountingAlerter))
        n.foreach(st("synced_rows") += _)
        st("source_rows") += sourceRows
        () => {
          val want = inserted.values.sum
          Seq(
            if (!n.contains(want)) Some(s"day $d sync: shipped $n rows, that day inserted $want") else None,
            if (posted.value - posted0 != want) Some(s"day $d sync: posted ${posted.value - posted0} rows, expected $want") else None
          ).flatten
        }
      }),
      Op("inspect", t => {
        val tops = tables(tag).map { case (path, tableTag) =>
          val df = t.span("sources.read")(
            TableIO.read(spark, TableIO.Parquet, path, Schemas(tableTag)))
          val top = t.span("ops.build")(Transforms.topKDynamic(10, Seq(
            ("timestamptz", false), ("currency", true), ("currency_name", true)))(df))
          tableTag -> t.span("queries.action")(top.collect())
        }
        () => tops.flatMap { case (tableTag, rows) =>
          if (rows.length != math.min(10, want(tableTag)))
            Some(s"day $d inspect $tableTag: top-10 read gave ${rows.length} rows")
          else None
        }
      }))
  }

  override def timedPasses: Int = 2
  def pass(tag: String): IndexedSeq[Op] = {
    val st = stats.getOrElseUpdate(tag, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    days.indices.flatMap(i => runDay(tag, i, days(i), st))
  }

  def warmup(): Unit = {
    // one day of another seed, against throwaway tables
    val w = new DailyIngest(spark, s"$work/warmup", seed + 1, 1, plantFault = false)
    w.setup()
    val t = new Tracer(spark, enabled = false)
    w.pass("w").foreach(op => op.run(t)())
    Workloads.rm(spark, s"$work/warmup")
  }

  def endChecks(tag: String): Seq[String] = {
    val dupKeys = Seq(("forex_rates_api", Seq("currency", "timestamptz")),
      ("forex_rates_history", Seq("currency", "timestamptz")),
      ("forex_rates_scraped", Seq("currency_name", "timestamptz"))).flatMap { case (t, keys) =>
      val n = spark.read.parquet(p(tag, t)).groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).count()
      if (n > 0) Some(s"$t: $n duplicate keys") else None
    }
    dupKeys ++ CountingAlerter.seen.toArray.take(3).map(a => s"pipeline alert: $a")
  }

  private def allTables(tag: String) = Seq("api_rates_csv", "forex_rates_api",
    "forex_rates_history", "scraped_daily", "forex_rates_scraped").map(p(tag, _))
  def written(tag: String): (Long, Long) = Workloads.du(spark, allTables(tag))
  def facts(tag: String): Map[String, Double] = stats(tag).toMap ++ Map(
    "alerts" -> CountingAlerter.n.toDouble)
  def inputs: Seq[(String, Any)] = Seq("days" -> nDays,
    "first_day" -> days.head.toString, "weekend_days" -> days.count(d => Gen.apiDate(d) != d),
    "csv_rows" -> (history.csv.count(_ == '\n') - 1),
    "csv_valid_keys" -> history.validKeys.size, "currencies" -> Gen.Currencies.size,
    "final_api_rows" -> expected.last("api"), "final_history_rows" -> expected.last("csv"),
    "final_scraped_rows" -> expected.last("web_scraper"))
  def inputDigest: String = {
    val onDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(csvPath)), "UTF-8")
    if (onDisk != history.csv) throw new IllegalStateException("history CSV on disk differs from the generated one")
    Workloads.sha(Seq(history.csv) ++ days.flatMap(d =>
      Seq(Gen.frankfurterJson(seed, d), Gen.xratesHtml(seed, d))))
  }
}
