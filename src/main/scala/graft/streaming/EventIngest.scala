package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.UpsertIgnore

/** [EXT] Structured-Streaming form of the reference's scheduled-micro-batch
  * ingestion (SURVEY §2.9): the daily cron + idempotent K5 sink maps to
  * `Trigger.AvailableNow` (run-once micro-batch per tick) + watermarked
  * dedup + a foreachBatch upsert-ignore sink. The watermark constant
  * mirrors the reference's 20-minute delta window
  * (services/supabase.py:57-61).
  *
  * Exactly-once-per-key comes from the SINK's idempotence (anti-join on
  * the natural key), not from fragile checkpoint coupling — reprocessing a
  * file after a checkpoint loss inserts nothing, same as the reference's
  * INSERT OR IGNORE re-runs.
  */
object EventIngest {

  /** File-based event stream with normalized µs event time. Watermarks
    * require TIMESTAMP (with-local-tz), not NTZ, so the stream keeps LTZ
    * `ts` (session is pinned UTC — same wall clock); sinks cast to NTZ at
    * the boundary to match the batch tables.
    *
    * `readStream` needs an explicit schema, and the driver has shipped two
    * generations of events.parquet (INT64 NANOS under the nanosAsLong
    * legacy conf, vs native TIMESTAMP µs — see Tables.events). A one-time
    * batch footer read of the directory resolves which one this stream is
    * ingesting; that is metadata-only (no data scan) and keeps the
    * streaming plan itself schema-exact.
    */
  /** Explicit raw schemas for the two file generations — the fallback
    * when the source directory is still EMPTY at stream start (the
    * normal landing-directory deployment order: start the stream, then
    * files arrive). Which one applies is decided by the nanosAsLong
    * conf: a session configured for the legacy NANOS files declares it.
    */
  private def rawSchema(nanosAsLong: Boolean) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (nanosAsLong) LongType else TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val confNanos =
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    // the conf-guessed fallback applies ONLY to a provably missing/empty
    // landing directory (checked explicitly, not inferred from a reader
    // failure): a corrupt footer, permission error, or transient FS
    // fault must PROPAGATE — swallowing it would silently start the
    // stream with the wrong generation's schema and mask the real error
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val fileSchema =
      if (!hasData) rawSchema(confNanos)
      else
        try spark.read.parquet(dir).schema
        catch {
          case e: Exception
              if e.getMessage != null &&
                (e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
                  e.getMessage.contains("Illegal Parquet type")) =>
            // fail with the actionable message, not the raw reader error
            throw new IllegalArgumentException(
              "events.parquet carries INT64(NANOS) timestamps: set " +
                "spark.sql.legacy.parquet.nanosAsLong=true at session " +
                "construction (see graft.Tables.events) — not mutated here " +
                "as a side effect", e)
        }
    val nanosAsLong = fileSchema("ts").dataType == LongType
    if (nanosAsLong) require(confNanos,
      "events.parquet carries INT64(NANOS) timestamps: set " +
        "spark.sql.legacy.parquet.nanosAsLong=true at session construction " +
        "(see graft.Tables.events) — not mutated here as a side effect")
    val raw = spark.readStream.schema(fileSchema).parquet(dir)
    if (nanosAsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Watermarked tumbling-window aggregation (the streaming form of the
    * `stream_windowed_agg` batch query — same results on closed windows).
    */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming dedup with BOUNDED state: duplicate keys are only tracked
    * within the watermark horizon, so the state store holds O(events per
    * 20 minutes), not every key ever seen — the difference between a
    * dedup that runs forever and one that OOMs in week two.
    * `ingestAvailableNow` uses the same within-watermark form; the
    * difference is downstream — the ingest ALSO has the idempotent keyed
    * sink absorbing cross-horizon replays, while this standalone form is
    * for pipelines whose sink has no key to dedup on.
    */
  def dedupedStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "20 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the static dimension is broadcast to
    * every task, so the stream is never shuffled and no state store is
    * involved — the stateless fast path for attaching reference data
    * (user segments, currency metadata) to an event stream. At 100 TB/day
    * the stream side stays partition-parallel; only the dim (small by
    * definition) moves.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame = {
    // the natural call shape shares the key name on both sides, which
    // would make col(key) ambiguous — rename the dim key internally
    require(!dim.columns.contains("__graft_dim_key") &&
      !stream.columns.contains("__graft_dim_key"), "__graft_dim_key is reserved")
    stream.join(
        broadcast(dim.withColumnRenamed(dimKey, "__graft_dim_key")),
        col(streamKey) === col("__graft_dim_key"), "left")
      .drop("__graft_dim_key")
  }

  /** EVENT-TIME-CORRECT stream enrichment against a versioned (SCD2)
    * dimension: each event joins the dim row whose validity interval
    * `[fromCol, toCol)` contains the EVENT time — the point-in-time
    * lookup that keeps training features leakage-free (processing-time
    * joins silently attach TOMORROW's attribute to yesterday's event,
    * the classic feature-store bug). Stream-static and stateless: the
    * full dim history broadcasts (SCD2 dims are small by definition —
    * versions of reference data), the stream is never shuffled and no
    * state store is involved. Open-ended current rows use a null
    * `toCol` (treated as +infinity).
    */
  def enrichAsOf(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, eventTime: String, fromCol: String,
      toCol: String): DataFrame = {
    require(!dim.columns.contains("__graft_dim_key") &&
      !stream.columns.contains("__graft_dim_key"), "__graft_dim_key is reserved")
    val d = dim.withColumnRenamed(dimKey, "__graft_dim_key")
    stream.join(broadcast(d),
        col(streamKey) === col("__graft_dim_key") &&
          col(eventTime) >= col(fromCol) &&
          (col(toCol).isNull || col(eventTime) < col(toCol)),
        "left")
      .drop("__graft_dim_key")
  }

  /** Stream-stream interval correlation (e.g. click → purchase within N
    * minutes, same user): both sides watermarked, and the join's time
    * range BOUNDS THE STATE STORE — a buffered row is dropped as soon as
    * the watermark passes its `ts + within`, so state is O(events in the
    * interval window), not O(stream history). Inner-join matches emit as
    * found (no watermark wait on the emit path).
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      withinMinutes: Int, latenessMinutes: Int = 20): DataFrame = {
    require(withinMinutes >= 1, s"withinMinutes must be >= 1, got $withinMinutes")
    require(latenessMinutes >= 1, s"latenessMinutes must be >= 1, got $latenessMinutes")
    // Lateness tolerance must cover the join horizon: a watermark shorter
    // than `withinMinutes` would expire buffered left rows while matching
    // right rows are still admissible, silently dropping in-window pairs.
    val wm = s"${math.max(withinMinutes, latenessMinutes)} minutes"
    val l = left.withWatermark("ts", wm)
      .select(col(key), col("ts").as("ts_l"), col("event_id").as("id_l"))
    val r = right.withWatermark("ts", wm)
      .select(col(key).as("__rkey"), col("ts").as("ts_r"), col("event_id").as("id_r"))
    l.join(r,
      col(key) === col("__rkey") &&
        col("ts_r") >= col("ts_l") &&
        col("ts_r") <= col("ts_l") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .drop("__rkey")
  }

  /** Run-once ingest: stream → watermark → in-batch natural-key dedup →
    * idempotent upsert sink. Returns total rows inserted across batches.
    */
  def ingestAvailableNow(
      spark: SparkSession,
      srcDir: String,
      targetPath: String,
      checkpointDir: String): Long = {
    val inserted = new java.util.concurrent.atomic.AtomicLong(0)
    val stream = readEventStream(spark, srcDir)
      .withWatermark("ts", "20 minutes")
      // within-watermark dedup: duplicate keys are tracked only inside
      // the lateness horizon, so state is O(events per 20 minutes) — the
      // plain dropDuplicates form would keep EVERY key forever, the
      // state-store leak that kills a long-running ingest. Cross-horizon
      // replays are still absorbed by the idempotent sink's anti-join.
      .dropDuplicatesWithinWatermark("event_id")
    AvailableNow.run(stream, checkpointDir) { (batch, _) =>
      val ntz = batch.withColumn("ts", col("ts").cast("timestamp_ntz"))
      // No pruneCol: ts is NOT part of the key, so range-pruning the
      // target on it could miss an existing event_id whose ts drifted
      // (replay with corrected clock) and re-insert the key. UpsertIgnore
      // enforces this (prunes only on key columns); stated here too so
      // the exactly-once-per-key guarantee is visibly unconditional.
      val r = UpsertIgnore(ntz.sparkSession, ntz, targetPath,
        keys = Seq("event_id"))
      inserted.addAndGet(r.inserted)
    }
    inserted.get()
  }
}
