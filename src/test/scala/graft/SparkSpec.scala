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

  /** `body`'s result and the number of Spark jobs it submitted
    * (`Layers`). Suites run one at a time in the forked JVM, so the count
    * is the body's own.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val (r, c) = Layers.measure(spark.sparkContext)(body)
    (r, c.jobs.toInt)
  }

  /** `body`'s result and the number of classes Janino compiled while it
    * ran: cache misses of Spark's generated-class cache (`Layers`). The
    * counter is JVM-wide, so like `jobsIn` this relies on suites running
    * one at a time.
    */
  def compilesIn[T](body: => T): (T, Long) = {
    val (r, c) = Layers.measure(spark.sparkContext)(body)
    (r, c.compiles)
  }
}

object SparkSpec {
  /** The engine's session regime (`GraftSession`) on 4 cores: the
    * `JobBudgetSpec` pins were measured on 4.
    */
  lazy val session: SparkSession = GraftSession(cpus = 4)
}
