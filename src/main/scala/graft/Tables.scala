package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Central accessor for the driver-provided parquet testdata
  * (see /root/repo/TESTDATA.md). Every `SparkEntry.queries` function
  * receives `(spark, sfDir)` and resolves tables through here, so scans
  * stay lazy parquet reads that Catalyst can prune/push into.
  *
  * At 100 TB these paths would be date-partitioned table roots; the
  * accessor is the single seam where partition pruning predicates and
  * bucketing metadata would attach.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A testdata table, its parquet footer schema inferred ONCE per path
    * for the process (`StoreRead.parquet`): the query registry constructs
    * a fresh read per query, and each schemaless read would submit a
    * footer-inference job. The cache keys on the resolved path, so two
    * testdata dirs never share an entry; testdata is immutable within a
    * run.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sinks.StoreRead.parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  /** `events.ts` normalization — schema-adaptive because the driver has
    * shipped two generations of the file:
    *
    *  - INT64 TIMESTAMP(NANOS), which Spark's reader rejects outright
    *    ([PARQUET_TYPE_ILLEGAL]) unless `spark.sql.legacy.parquet
    *    .nanosAsLong=true` is set AT SESSION CONSTRUCTION (Bench, Verify,
    *    and the test harness all do — it cannot be scoped per-read:
    *    executors consult the job-propagated session SQLConf). Under the
    *    conf the column surfaces as epoch-nanos LONG; we truncate ns→µs,
    *    the same truncation DuckDB applies casting TIMESTAMP_NS.
    *  - plain TIMESTAMP(MICROS) NTZ (current testdata), which both
    *    engines read natively — passthrough.
    *
    * Either way the result is TIMESTAMP_NTZ µs: wall-clock identical to
    * the oracle's naive timestamps regardless of writer tz flags. The
    * branch reads only the parquet footer (schema), not data.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** Register every testdata table as a temp view so the FULL query
    * surface is reachable through `spark.sql(...)` as well as the
    * DataFrame API — same lazy scans, same Catalyst plans; a view adds
    * no materialization. (SURVEY §1.1: both surfaces are first-class.)
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    accessors.foreach { case (name, acc) =>
      acc(spark, dir).createOrReplaceTempView(name)
    }

  /** name -> accessor, the ONE place that knows which tables need
    * load-time normalization (events: ns->us cast) — registerAll and any
    * future callers dispatch through it rather than re-deciding.
    */
  private val accessors: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> (region _), "nation" -> (nation _), "customer" -> (customer _),
    "supplier" -> (supplier _), "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "events" -> (events _),
    "documents" -> (documents _), "embeddings" -> (embeddings _))

  /** Typed surfaces (SURVEY §1.1): case-class Datasets where field safety
    * helps. Same lazy scans underneath — `.as[T]` adds only an Encoder.
    */
  object typed {
    import graft.schema._
    def lineitem(s: SparkSession, dir: String): Dataset[Lineitem] =
      { import s.implicits._; Tables.lineitem(s, dir).as[Lineitem] }
    def orders(s: SparkSession, dir: String): Dataset[Order] =
      { import s.implicits._; Tables.orders(s, dir).as[Order] }
    def customer(s: SparkSession, dir: String): Dataset[Customer] =
      { import s.implicits._; Tables.customer(s, dir).as[Customer] }
    def events(s: SparkSession, dir: String): Dataset[Event] =
      { import s.implicits._; Tables.events(s, dir).as[Event] }
    def documents(s: SparkSession, dir: String): Dataset[Document] =
      { import s.implicits._; Tables.documents(s, dir).as[Document] }
    def embeddings(s: SparkSession, dir: String): Dataset[Embedding] =
      { import s.implicits._; Tables.embeddings(s, dir).as[Embedding] }
  }
}
