package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Drift
import graft.sinks.UpsertIgnore

/** [§2.9 × ops.Drift] Continuous DISTRIBUTION-DRIFT monitoring on an
  * ingest stream: per micro-batch, the value column's binned
  * distribution is compared (PSI) against a FROZEN reference histogram,
  * and one (batch_id, n_rows, psi) row lands in a durable metrics table
  * — the data-quality sentinel that pages before a skewed feed poisons
  * a training table, running INSIDE the ingest rather than as a
  * day-late batch audit.
  *
  * Scale shape:
  *  - The reference side is an O(bins) count array computed ONCE
  *    (`Drift.binCounts`) and carried in the closure — no per-batch
  *    rescan of the reference corpus, which is the difference between
  *    a monitor and a second pipeline.
  *  - Per batch: one O(bins) aggregate over the batch (map-combinable),
  *    PSI arithmetic on the driver over 2×bins doubles
  *    (`Drift.psiFromCounts` — asserted equivalent to the batch
  *    `Drift.psi` in DriftSpec), one keyed metrics append.
  *  - Metrics are EXACTLY-ONCE under replay: UpsertIgnore keyed on
  *    batch_id, so a crashed-and-rerun micro-batch cannot double-report
  *    (same discipline as EventIngest's sink).
  */
object StreamingDrift {

  final case class Result(batches: Long, maxPsi: Double)

  /** Run-once (AvailableNow) monitor over `stream`. Returns the batch
    * count and max PSI observed; the durable per-batch rows are at
    * `metricsPath` (batch_id, n_rows, psi).
    */
  def monitorAvailableNow(
      spark: SparkSession,
      stream: DataFrame,
      valueCol: String,
      refCounts: Array[Long],
      lo: Double,
      hi: Double,
      nBins: Int,
      metricsPath: String,
      checkpointDir: String): Result = {
    require(refCounts.length == nBins,
      s"refCounts has ${refCounts.length} bins, expected $nBins")
    val maxRef = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val batches = AvailableNow.run(stream, checkpointDir) { (batch, batchId) =>
      val cur = Drift.binCounts(batch, valueCol, lo, hi, nBins)
      val psi = Drift.psiFromCounts(refCounts, cur)
      val s = batch.sparkSession
      import s.implicits._
      UpsertIgnore(s,
        Seq((batchId, cur.sum, psi)).toDF("batch_id", "n_rows", "psi"),
        metricsPath, keys = Seq("batch_id"))
      maxRef.updateAndGet(m => math.max(m, psi))
    }
    Result(batches, maxRef.get())
  }
}
