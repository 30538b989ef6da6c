package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one run-once streaming adapter: every AvailableNow form in the
  * engine (the durable-store dedup streams, the rollup, the drift
  * monitor, the event ingest and the training-set stream) runs its
  * micro-batches through [[run]].
  *
  * Crash and replay rules, shared by every user:
  *  - Structured Streaming checkpoints source offsets under
  *    `checkpointDir`, so after a crash a batch id is REPLAYED with the
  *    same content. A batch's effects must therefore be idempotent per
  *    batch id: an idempotent store or sink (keyed anti-join appends, a
  *    TxTable delta ledger keyed on the batch id), or a batch-id-stamped
  *    log whose reader removes replay duplicates.
  *  - A batch's effects land in the order `f` performs them, and a crash
  *    between two of them replays the whole batch; `f` orders them so
  *    that every prefix replays to the same end state (e.g. a survivors
  *    log written before the store registers the survivors).
  *  - After checkpoint LOSS the file-to-batch mapping can differ, so a
  *    replayed file may arrive under a new batch id; only content-keyed
  *    idempotence (the stores' key anti-joins) absorbs that.
  */
object AvailableNow {

  /** A streaming parquet source over `dir` with the caller's schema,
    * taking at most `maxFilesPerTrigger` new files per micro-batch.
    */
  def parquetSource(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Run `stream` under `Trigger.AvailableNow` until the data available
    * at start is consumed, handing each micro-batch and its id to `f`.
    * Returns the number of micro-batches run.
    */
  def run(stream: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        f(batch, batchId)
        batches.incrementAndGet()
        ()
      }
      .start()
      .awaitTermination()
    batches.get()
  }
}
