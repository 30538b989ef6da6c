package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.UpsertIgnore

/** [EXT] Incremental exact-substring dedup against a DURABLE fingerprint
  * store: the cross-batch form of `Dedup.sharedSubstringPairs`, built on
  * the same two artifacts that operator derives per run —
  *
  *   store/
  *     fps/    (doc_id, fp)     — winnowed fingerprint probe surface
  *     grams/  (doc_id, grams)  — full minLen-gram sets, exact verify
  *
  * and the same per-ingest asymmetry as `IncrementalDedup`: the batch's
  * distinct fingerprints BROADCAST against ONE scan of the stored rows
  * (the store is never shuffled), colliding buckets above `maxBucket`
  * drop as degenerate boilerplate, candidates verify by exact gram-set
  * intersection with the store side read semi-join-pruned, and the
  * batch's artifacts append idempotently through UpsertIgnore.
  *
  * Winnowing guarantees candidate recall (any shared span of >= minLen
  * chars shares a selected fingerprint — Dedup.winnowSelect), and the
  * verify keeps precision exact, so an incremental run over batches
  * B1..Bn reports exactly the pairs the one-shot operator reports over
  * B1 ∪ .. ∪ Bn (asserted in ExtSpec). Hashing is plain xxhash64 — the
  * same scheme in every session — so this store needs no permutation-
  * family marker (contrast IncrementalDedup's `_family`).
  */
object IncrementalSubstring {

  /** Ingest a batch: returns the verbatim >=minLen-char span pairs the
    * batch introduces — (id_a, id_b), new-vs-stored and new-vs-new —
    * then registers the batch's fingerprints and gram sets. Documents
    * shorter than minLen emit nothing (they cannot contain the span).
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      minLen: Int,
      window: Int = 16,
      maxBucket: Int = 2000): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minLen >= window + 1,
      s"minLen must be >= window + 1, got minLen=$minLen window=$window")
    val fpsPath = s"$storePath/fps"
    val gramsPath = s"$storePath/grams"
    val storeExists = DurableStore.hasData(spark, fpsPath)
    val g = minLen - window + 1

    val eligible = batch.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .localCheckpoint(false) // fingerprints AND gram sets read it
    val fps = eligible
      .withColumn("__h", Dedup.gramHashes(col("__text"), g))
      .select(col("doc_id"),
        explode(Dedup.winnowSelect(col("__h"), window)).as("fp"))
      .localCheckpoint(false) // probe, in-batch buckets, registration
    val grams = eligible
      .select(col("doc_id"),
        Dedup.fullGramSet(col("__text"), minLen)
          .cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = true))
          .as("grams"))
      .localCheckpoint(false) // verify AND registration

    // new-vs-new: the one-shot bucket machinery on the batch alone
    val inBatch = fps
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

    val candidates =
      (if (!storeExists) inBatch
       else {
         // ONE store scan, batch fingerprint keys broadcast — the store
         // side never shuffles (the IncrementalDedup.probeHot shape); the
         // live surface keeps a forgotten doc out of every pair (its gram
         // sets, pruned by candidate id, are never read)
         val hot = DurableStore.live(spark, storePath, "fps")
           .join(broadcast(fps.select("fp").distinct()), Seq("fp"), "left_semi")
           .localCheckpoint(false)
         val hotOk = hot.join(
           hot.groupBy("fp").count()
             .filter(col("count") <= maxBucket).select("fp"),
           Seq("fp"), "left_semi")
         val cross = fps
           .join(hotOk.withColumnRenamed("doc_id", "store_id"), Seq("fp"))
           .filter(col("doc_id") =!= col("store_id"))
           .select(least(col("doc_id"), col("store_id")).as("id_a"),
             greatest(col("doc_id"), col("store_id")).as("id_b"))
         cross.unionByName(inBatch)
       })
        .distinct()
        .localCheckpoint(false) // prunes the verify sets AND joins them

    // exact verify on full gram sets: batch sets + stored sets of the
    // colliding ids only (semi-join prune)
    val sets =
      if (!storeExists) grams
      else grams.unionByName(
          graft.sinks.StoreRead.parquet(spark, gramsPath).join(
            candidates
              .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
              .distinct(),
            Seq("doc_id"), "left_semi"))
        // a re-ingested doc appears in both sides with IDENTICAL grams
        .groupBy("doc_id").agg(first("grams").as("grams"))
    val pairs = candidates
      .join(sets.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .filter(Dedup.sharesGram(spark, col("ga"), col("gb")))
      .select("id_a", "id_b")

    // materialize BEFORE mutating the store (the returned plan must not
    // re-probe a store that now contains the batch itself)
    // no ordering here: every consumer (gates, dropPairLosers, the
    // streaming pair log) re-sorts or aggregates, so an internal orderBy
    // is a determinism-only range exchange + sampling job per ingest
    // (opt guide §2.4); the checkpoint alone is what the store-mutation
    // ordering contract needs
    val out = pairs.localCheckpoint(true)

    if (!storeExists) {
      graft.sinks.WriteLayout.sizedForWrite(grams)
        .write.mode("overwrite").parquet(gramsPath)
      graft.sinks.WriteLayout.sizedForWrite(fps)
        .write.mode("overwrite").parquet(fpsPath)
    } else {
      // count-free registration: one shared id-range scan + one
      // anti-join append per table (see UpsertIgnore.appendAbsent)
      val idBounds = eligible.agg(min(col("doc_id")), max(col("doc_id"))).head()
      UpsertIgnore.appendAbsent(spark, grams, gramsPath,
        keys = Seq("doc_id"), pruneCol = Some("doc_id"),
        bounds = Some(idBounds))
      UpsertIgnore.appendAbsent(spark, fps, fpsPath,
        keys = Seq("doc_id", "fp"), pruneCol = Some("doc_id"),
        bounds = Some(idBounds))
    }
    out
  }

  /** Takedown support: forget every fingerprint and gram set OWNED by
    * these ids — appends a tombstone set the probes anti-join (no store
    * rewrite; `compactStore` later erases the rows physically). Fresh
    * copies of forgotten content are admitted again under a NEW owner
    * id; re-using the forgotten id itself stays shadowed until a
    * compaction folds the tombstones (the idempotent registration sees
    * the masked rows). `ids` must carry a `doc_id` column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids.select("doc_id"))

  /** Stored doc count (distinct registered documents). */
  def storedDocs(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/grams")

  /** Compact both store tables — per-ingest file sets accumulate at the
    * same daily cadence as the sibling stores — AND fold the takedown
    * tombstones: forgotten owners' fingerprints and gram sets are
    * physically erased and `forgotten/` cleared (see [[DurableStore]]
    * for the crash ordering). Single-writer contract; returns
    * (filesBefore, filesAfter) summed over both tables.
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("fps", "grams"),
      targetFileBytes)
}
