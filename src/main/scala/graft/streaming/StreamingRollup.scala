package graft.streaming

import org.apache.spark.sql.SparkSession
import graft.sinks.IncrementalRollup

/** [§2.9 × sinks] Continuous aggregate-table maintenance over a stream:
  * each micro-batch folds into the standing rollup through
  * `IncrementalRollup(transactional = true)` with the micro-batch id as
  * the deltaId. This composes the two exactly-once halves the engine
  * already has:
  *
  *  - Structured Streaming guarantees each batchId's CONTENT is replayed
  *    identically after a crash (checkpointed source offsets);
  *  - the TxTable delta ledger publishes fold + deltaId in ONE atomic
  *    manifest rename, so a replayed batch is recognized and skipped.
  *
  * Net: exactly-once maintenance of a non-idempotent fold under the
  * checkpoint's lifetime — a crashed run or a restart cannot
  * double-count a batch. A DELETED checkpoint is weaker: the deltaId
  * ledger still refuses every replayed batchId (no double-count), but
  * if the source grew since, the restarted stream regroups NEW files
  * into those same low batchIds and the ledger skips them too — a
  * silent under-count. After checkpoint loss over a source that may
  * have grown, start a fresh `streamId` against a fresh target (or
  * rebuild the rollup) instead of resuming. Unlike the pair-log sinks
  * (idempotent
  * consumer), no downstream dedup is needed: the table IS the result.
  * The rollup carries every mergeable measure family (count/sum, HLL
  * distinct, KLL quantile, FI top-k), so "live p50 latency per group"
  * is a read of O(groups) sketch rows, never a rescan of history.
  */
object StreamingRollup {

  /** Run-once (AvailableNow) streaming maintenance: rows under `srcDir`
    * stream in; the rollup at `targetPath` is TxTable-committed per
    * micro-batch. Read it back with `TxTable.read`. Returns the number
    * of micro-batches that ran (including ledger-skipped replays).
    *
    * @param streamId stable identifier mixed into each deltaId — replays
    *                 of the same logical stream must reuse it; a NEW
    *                 logical stream over the same target must not.
    */
  def maintainAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      targetPath: String,
      groupCols: Seq[String],
      sumCols: Seq[(String, String)],
      checkpointDir: String,
      partitionBy: Seq[String] = Nil,
      distinctCols: Seq[(String, String)] = Nil,
      quantileCols: Seq[(String, String)] = Nil,
      topkCols: Seq[(String, String)] = Nil,
      streamId: String = "stream",
      maxFilesPerTrigger: Option[Int] = None): Long = {
    require(streamId.nonEmpty && !streamId.exists(_.isWhitespace),
      s"streamId '$streamId' must be non-empty without whitespace " +
        "(it forms deltaIds)")
    AvailableNow.run(
      AvailableNow.parquetSource(spark, srcDir, schema, maxFilesPerTrigger),
      checkpointDir) { (batch, batchId) =>
      IncrementalRollup(batch.sparkSession, batch, targetPath,
        groupCols = groupCols, sumCols = sumCols,
        partitionBy = partitionBy,
        deltaId = Some(s"$streamId-$batchId"),
        transactional = true,
        distinctCols = distinctCols, quantileCols = quantileCols,
        topkCols = topkCols)
    }
  }
}
