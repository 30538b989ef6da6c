package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (getOrCreate)
  * so the suite doesn't pay session startup per spec class.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  def readFixture(name: String): String =
    scala.io.Source.fromFile(fixture(name)).mkString

  /** Wall-clock now in `s`'s session time zone — the zone a
    * `current_timestamp().cast("timestamp_ntz")` column is stamped in.
    */
  def sessionNow(s: SparkSession = spark): java.time.LocalDateTime =
    java.time.LocalDateTime.now(
      java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone))

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it submitted. The
    * listener bus is asynchronous, so it is drained before the listener
    * is added (no earlier job leaks in) and after the body (no job of the
    * body is missed). Suites run one at a time in the forked JVM, so the
    * count is the body's own.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of classes Janino compiled while it
    * ran: cache misses of Spark's generated-class cache, counted by
    * Spark's own `CodegenMetrics`. The counter is JVM-wide, so like
    * `jobsIn` this relies on suites running one at a time.
    */
  def compilesIn[T](body: => T): (T, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = h.getCount
    val r = body
    (r, h.getCount - before)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
