package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one session regime. The benchmark (`Bench`), the oracle
  * dump (`Verify`) and the test suite all build their session here, so
  * what the tests check and what the bench times run under the same
  * confs. Also the harness's one entry selection and JSON writer.
  */
object GraftSession {
  /** Cores of a harness session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The local session on `cpus` cores, one shuffle partition per core.
    *  - `parallelismFirst=false`: AQE coalesces post-shuffle partitions
    *    toward Spark's byte target (64 MB) instead of stopping at the
    *    core count, so a KB-sized shuffle is not cut into KB-sized
    *    tasks whose scheduling costs more than their work.
    *  - `nanosAsLong`: older testdata stores `events.ts` as INT64
    *    TIMESTAMP(NANOS), which the reader only accepts under this conf,
    *    and it must be set when the session is built (`Tables.events`).
    */
  def apply(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  type Entry = (SparkSession, String) => DataFrame

  /** The `SparkEntry.queries` entries named by `SPARK_GRAFT_ONLY=q1,q2`
    * (all of them when it is unset), in name order.
    */
  def entries: Seq[(String, Entry)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** Rounds over the entries: `SPARK_GRAFT_REPEAT`, default 1. */
  def repeat: Int = sys.env.get("SPARK_GRAFT_REPEAT").fold(1)(_.toInt)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as one line of JSON; a Scala map keeps its iteration order. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
