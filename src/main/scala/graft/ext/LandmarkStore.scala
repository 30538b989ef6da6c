package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.UpsertIgnore

/** [EXT] The shared LANDMARK-store machinery: incremental dedup against
  * a durable `(doc_id, fp)` multi-hash store, where a document carries
  * MANY 64-bit landmark hashes and two documents pair when they share
  * at least `minShared` of them. This is the exact-key sibling of the
  * single-signature stores (line/keyed/image): one content item emits
  * a SET of keys, so matching is a shared-count over key collisions
  * rather than a single-key equality — the model behind audio
  * fingerprints ([[AudioFingerprint]], spectral-peak landmarks) and
  * animation frames ([[AnimDedup]], composited-canvas frame hashes),
  * which share every line of this store.
  *
  * Layout (identical for every instantiation — [[AudioFingerprint]]'s
  * historical layout, so existing stores keep working):
  *
  *   store/fps/       (doc_id, fp) — landmark hashes per document
  *   store/forgotten/ (doc_id)     — takedown tombstones
  *
  * Ingest shape: the batch's hashes BROADCAST against ONE unshuffled
  * store scan; buckets whose COMBINED (batch + surviving store) size
  * exceeds `maxBucket` drop as degenerate hubs from both the in-batch
  * expansion and the cross join (so incremental == one-shot at the hub
  * boundary); a re-ingested doc_id neither self-pairs nor
  * double-registers (keyed appendAbsent). Pairs materialize BEFORE the
  * store mutates.
  */
private[graft] object LandmarkStore {

  /** Shared-count pairs over a `(doc_id, fp)` landmark frame —
    * (id_a, id_b, shared), id_a < id_b, hub hashes past `maxBucket`
    * dropped (a hash shared by thousands of documents identifies
    * nothing). GroupBy-fp blocking, map-side combinable.
    */
  def sharedCounts(fps: DataFrame, maxBucket: Int): DataFrame =
    fps.groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))

  /** Ingest a batch's landmark frame `(doc_id, fp)` — already
    * per-document DISTINCT — against the store: returns the pairs
    * sharing >= `minShared` hashes that this batch introduces
    * (new-vs-stored and new-vs-new), then registers the batch.
    */
  def ingest(spark: SparkSession, fps0: DataFrame, storePath: String,
      minShared: Int, maxBucket: Int): DataFrame = {
    val fpsPath = s"$storePath/fps"
    val storeExists = DurableStore.hasData(spark, fpsPath)
    val fps = fps0
      .dropDuplicates("doc_id", "fp")
      .localCheckpoint(false) // probe, in-batch pairs, registration

    // combined-bucket hub cap (the IncrementalImageDedup/EmbedDedup
    // discipline): a hash is degenerate when the documents CARRYING
    // it — batch plus surviving store rows together — exceed
    // maxBucket, and it must then drop from BOTH the in-batch
    // expansion and the cross join, or the incremental form diverges
    // from the one-shot operator at the hub boundary (hub landmarks
    // accumulated over many ingests would fan the cross join out
    // unboundedly while the batch side caps)
    val batchCnt = fps.groupBy("fp").agg(count(lit(1)).as("__bc"))
    def inBatchPairs(okFps: DataFrame) = fps
      .join(okFps, Seq("fp"), "left_semi")
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    val pairs =
      if (!storeExists)
        inBatchPairs(batchCnt.filter(col("__bc") <= maxBucket)
          .select("fp"))
      else {
        // one store scan, batch hashes broadcast; stored copies of
        // re-ingested ids drop FIRST (their batch rows already count,
        // and counting the stored copy too would push a bucket sitting
        // exactly at maxBucket over the cap)
        val hot = liveFps(spark, storePath)
          .join(broadcast(fps.select("doc_id").distinct()),
            Seq("doc_id"), "left_anti")
          .join(broadcast(fps.select("fp").distinct()), Seq("fp"),
            "left_semi")
          .localCheckpoint(false) // counted AND joined
        val okFps = batchCnt
          .join(hot.groupBy("fp").agg(count(lit(1)).as("__sc")), Seq("fp"),
            "left")
          .filter(col("__bc") + coalesce(col("__sc"), lit(0L)) <=
            maxBucket)
          .select("fp")
          .localCheckpoint(false) // prunes both sides of the cross join
        val cross = fps.select(col("fp"), col("doc_id").as("batch_id"))
          .join(okFps, Seq("fp"), "left_semi")
          .join(hot.join(okFps, Seq("fp"), "left_semi")
            .select(col("fp"), col("doc_id").as("store_id")), Seq("fp"))
          .groupBy(least(col("batch_id"), col("store_id")).as("id_a"),
            greatest(col("batch_id"), col("store_id")).as("id_b"))
          .agg(count(lit(1)).as("shared"))
        inBatchPairs(okFps).unionByName(cross)
      }
    val out = pairs
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b", "shared")
      // no ordering: consumers re-sort or aggregate, so an internal
      // orderBy is a determinism-only range exchange + sampling job per
      // ingest (opt guide §2.4)
      .localCheckpoint(true) // materialize BEFORE mutating the store

    if (!storeExists)
      graft.sinks.WriteLayout.sizedForWrite(fps)
        .write.mode("overwrite").parquet(fpsPath)
    else {
      val ids = fps.select("doc_id")
      val idBounds = ids.agg(min(col("doc_id")), max(col("doc_id"))).head()
      UpsertIgnore.appendAbsent(spark, fps, fpsPath, keys = Seq("doc_id"),
        pruneCol = Some("doc_id"), bounds = Some(idBounds))
    }
    out
  }

  /** The live probe surface: registered landmarks minus any whose
    * owner was forgotten.
    */
  def liveFps(spark: SparkSession, storePath: String): DataFrame =
    DurableStore.live(spark, storePath, "fps")

  /** Takedown: forget these owners' landmarks (O(takedown) tombstone
    * append; probes mask immediately, [[compactStore]] erases
    * physically). Fresh copies are admitted again under a new id.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids.select("doc_id"))

  /** Fold tombstones and compact; returns (filesBefore, filesAfter). */
  def compactStore(spark: SparkSession, storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("fps"), targetFileBytes)
}
