package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{DurableStore, IncrementalDedup, IncrementalEmbedDedup,
  IncrementalImageDedup, IncrementalKeyedDedup, IncrementalLineDedup,
  IncrementalSubstring}

/** [EXT §2.9 × §2.11] Continuous dedup over a document STREAM: each
  * micro-batch runs one ingest of a durable store (MinHash near-dup,
  * verbatim span, embedding, image, line or key), so every arriving
  * item is checked against the whole accumulated corpus — in O(batch +
  * collisions), never O(corpus) — and then becomes part of the corpus
  * the next batch checks against.
  *
  * This is the shape a production curation stream actually needs:
  * the state is NOT in the streaming state store (which is sized for
  * per-key windows, not a corpus of shingle sets) but in the keyed
  * parquet store, which survives checkpoint loss and is shared with
  * batch ingests. Crash semantics compose from the parts (see
  * [[AvailableNow]] for the replay rules):
  *
  *  - Store registration is idempotent (keyed anti-join), so a replayed
  *    micro-batch cannot duplicate store rows.
  *  - Each batch's ingest result (pairs, or surviving rows) appends to
  *    a log stamped with the batchId, and the log readers below dedup
  *    it — exactly-once EFFECT via an idempotent consumer, the same
  *    discipline as EventIngest's keyed sink. A replayed pair batch
  *    re-emits its pairs; a replayed keyed batch re-emits the same
  *    survivors (the owner-aware collision check).
  */
object StreamingDedup {

  /** Run-once stream of the parquet files under `srcDir`: each batch's
    * `ingest` result appends, stamped with `batch_id`, to `logPath`.
    * Returns the number of micro-batches run.
    */
  private def availableNow(spark: SparkSession, srcDir: String,
      schema: StructType, logPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int])(ingest: DataFrame => DataFrame): Long =
    AvailableNow.run(
      AvailableNow.parquetSource(spark, srcDir, schema, maxFilesPerTrigger),
      checkpointDir) { (batch, batchId) =>
      ingest(batch).withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(logPath)
    }

  /** Run-once (AvailableNow) streaming ingest: documents under `srcDir`
    * stream in, near-dup pairs append to `pairsPath`, signatures
    * register in `storePath`. Returns the number of micro-batches run.
    */
  def ingestAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      storePath: String,
      pairsPath: String,
      checkpointDir: String,
      params: IncrementalDedup.Params = IncrementalDedup.Params(),
      maxFilesPerTrigger: Option[Int] = None): Long =
    availableNow(spark, srcDir, schema, pairsPath, checkpointDir,
      maxFilesPerTrigger)(b => IncrementalDedup.ingest(
        b.sparkSession, b, idCol, textCol, storePath, params))

  /** The streaming form of the incremental VERBATIM-SPAN dedup
    * (`IncrementalSubstring`): each micro-batch probes and grows the
    * durable winnowed-fingerprint store, so copy-paste spans are caught
    * across the entire accumulated stream; read with [[substringPairs]].
    */
  def ingestSubstringAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      storePath: String,
      pairsPath: String,
      checkpointDir: String,
      minLen: Int,
      maxFilesPerTrigger: Option[Int] = None): Long =
    availableNow(spark, srcDir, schema, pairsPath, checkpointDir,
      maxFilesPerTrigger)(b => IncrementalSubstring.ingest(
        b.sparkSession, b, idCol, textCol, storePath, minLen))

  /** The streaming form of the incremental EMBEDDING near-dup
    * (`IncrementalEmbedDedup`): each micro-batch of vectors probes and
    * grows the durable signature store; cosine pairs append to the log.
    */
  def ingestEmbeddingsAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      vecCol: String,
      storePath: String,
      pairsPath: String,
      checkpointDir: String,
      params: IncrementalEmbedDedup.Params = IncrementalEmbedDedup.Params(),
      maxFilesPerTrigger: Option[Int] = None): Long =
    availableNow(spark, srcDir, schema, pairsPath, checkpointDir,
      maxFilesPerTrigger)(b => IncrementalEmbedDedup.ingest(
        b.sparkSession, b, idCol, vecCol, storePath, params))

  /** The streaming form of the incremental IMAGE dedup
    * (`IncrementalImageDedup`): each micro-batch of mediaTable-shaped
    * rows (doc_id, media, width, height) probes the durable dHash
    * store; hamming pairs append to the log.
    */
  def ingestImagesAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      storePath: String,
      pairsPath: String,
      checkpointDir: String,
      params: IncrementalImageDedup.Params = IncrementalImageDedup.Params(),
      maxFilesPerTrigger: Option[Int] = None): Long =
    availableNow(spark, srcDir, schema, pairsPath, checkpointDir,
      maxFilesPerTrigger)(b => IncrementalImageDedup.ingest(
        b.sparkSession, b, storePath, params))

  /** The streaming form of the incremental LINE dedup
    * (`IncrementalLineDedup`): each micro-batch's lines are checked
    * against the durable line-hash store, the SURVIVING lines (new to
    * the corpus, first-in-batch) append to a batchId-stamped log, and
    * their hashes register in the store. Unlike the other forms, a
    * replayed line batch collides entirely and emits nothing, so the
    * LOG is written BEFORE the store registers: a crash between the two
    * replays the batch, the probe (still unregistered) re-emits the
    * same survivors, and the log converges with duplicate rows
    * [[survivingLines]] removes.
    */
  def ingestLinesAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      storePath: String,
      linesPath: String,
      checkpointDir: String,
      sepRegex: String = "\n",
      maxFilesPerTrigger: Option[Int] = None): Long =
    AvailableNow.run(
      AvailableNow.parquetSource(spark, srcDir, schema, maxFilesPerTrigger),
      checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val survivors = IncrementalLineDedup.probe(
          s, batch, idCol, textCol, storePath, sepRegex)
        .localCheckpoint(true)
      survivors.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(linesPath)
      IncrementalLineDedup.register(s, survivors, idCol, storePath)
    }

  /** The streaming form of the incremental KEYED dedup
    * (`IncrementalKeyedDedup`), the crawl-cadence URL dedup: each
    * micro-batch's rows are deduped on `key` against the durable key
    * store; the SURVIVORS (new key, first-in-batch, or the row's own
    * earlier registration, plus every null-key row) append to the log
    * and the new keys register. Read with [[keyedSurvivors]].
    */
  def ingestKeyedAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      key: Column,
      storePath: String,
      survivorsPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Long =
    availableNow(spark, srcDir, schema, survivorsPath, checkpointDir,
      maxFilesPerTrigger)(b => IncrementalKeyedDedup.ingest(
        b.sparkSession, b, idCol, key, storePath))

  /** The streaming form of the VIDEO dedup: the remux-robust mdat
    * payload fingerprint (`Multimodal.videoPayloadFp` — moov relocation,
    * metadata edits, free-atom padding and atom reorders do not move
    * it; WebM/MKV rides the EBML walk the same way) keys the durable
    * keyed store, so a re-WRAPPED copy of any previously streamed
    * video drops cross-batch. Non-video and
    * payload-less rows key NULL and pass through untouched
    * (`IncrementalKeyedDedup`'s keyless discipline). Same crash
    * semantics as [[ingestKeyedAvailableNow]], which this wraps.
    */
  def ingestVideosAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      videoCol: String,
      storePath: String,
      survivorsPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Long = {
    val fpU = udf((b: Array[Byte]) =>
      graft.ext.Multimodal.ContainerCodec.videoPayloadFp(b))
    ingestKeyedAvailableNow(spark, srcDir, schema, idCol, fpU(col(videoCol)),
      storePath, survivorsPath, checkpointDir, maxFilesPerTrigger)
  }

  /** `read` of the committed log at `path`, or an empty frame of
    * `empty` before its first committed append (a crashed first append's
    * `_temporary/` alone reads as empty too).
    */
  private def readLog(spark: SparkSession, path: String, empty: StructType)(
      read: DataFrame => DataFrame): DataFrame =
    DurableStore.read(spark, path).fold(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], empty))(read)

  /** The accumulated keyed-survivors log with replay duplicates removed
    * (identical rows can recur across batch ids after a crash-replay —
    * the distinct is over the DATA columns, not batch_id). Empty
    * DataFrame with the source schema when nothing has been emitted yet.
    */
  def keyedSurvivors(
      spark: SparkSession,
      survivorsPath: String,
      schema: StructType): DataFrame =
    readLog(spark, survivorsPath, schema) { log =>
      val dataCols = log.columns.filterNot(_ == "batch_id").toSeq
      log.select(dataCols.map(col): _*).dropDuplicates(dataCols)
    }

  /** The accumulated surviving-lines log, deduped on the line hash
    * (crash-replayed batches can duplicate log rows; the consumer-side
    * distinct restores exactly-once effect). Empty DataFrame with the
    * survivors schema when nothing has been emitted yet.
    *
    * @param idType the corpus id type — the written log inherits it
    *               (same pre-first-write schema contract as `pairs`).
    */
  def survivingLines(
      spark: SparkSession,
      linesPath: String,
      idCol: String,
      idType: DataType = LongType): DataFrame =
    readLog(spark, linesPath, StructType(Seq(StructField(idCol, idType),
        StructField("line_no", IntegerType), StructField("line", StringType)))) {
      _.dropDuplicates("line_hash").select(idCol, "line_no", "line")
    }

  /** The substring-pair log, deduped on the pair key (see `pairs`). */
  def substringPairs(
      spark: SparkSession,
      pairsPath: String,
      idType: DataType = LongType): DataFrame =
    readLog(spark, pairsPath, StructType(Seq(StructField("id_a", idType),
        StructField("id_b", idType)))) {
      _.select("id_a", "id_b").distinct()
    }

  /** The accumulated pair log, deduped on the pair key (replayed
    * batches re-emit; the consumer-side distinct restores exactly-once
    * effect). Empty DataFrame with the pair schema when nothing has
    * been emitted yet.
    *
    * @param idType the corpus id type — the written log inherits it, so
    *               the pre-first-write empty frame must declare the SAME
    *               type or a consumer that ran once before data arrived
    *               breaks its unions/joins when data appears.
    */
  def pairs(
      spark: SparkSession,
      pairsPath: String,
      idType: DataType = LongType): DataFrame =
    readLog(spark, pairsPath, StructType(Seq(StructField("id_a", idType),
        StructField("id_b", idType), StructField("jaccard", DoubleType)))) {
      _.groupBy("id_a", "id_b").agg(max("jaccard").as("jaccard"))
    }
}
