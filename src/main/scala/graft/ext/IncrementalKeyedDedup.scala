package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Incremental keep-first dedup on an ARBITRARY key expression
  * against a durable key store — the generic form of the family
  * ([[IncrementalLineDedup]] specializes to exploded lines;
  * [[IncrementalDedup]] to MinHash buckets). The canonical use is
  * web-crawl URL dedup: daily crawl batches re-deliver mostly-known
  * canonical URLs, and dropping a re-crawl by KEY lookup costs a hash
  * probe instead of the text-similarity machinery it would otherwise
  * fall through to.
  *
  *   store/keys/  (key_hash, id)  — first owner per key
  *
  * Per-ingest dataflow (batch small, store huge):
  *
  *  1. Rows with a NULL key pass through untouched and are never
  *     registered — null means "no identity to collide on" (e.g. an
  *     unparseable URL), and hashing nulls would collapse every
  *     keyless row into one bogus dedup group (Spark's xxhash64 maps
  *     NULL to the seed, not to NULL).
  *  2. In-batch keep-first: min(id) per key hash — ONE map-combinable
  *     HashAggregate.
  *  3. The batch's distinct key hashes BROADCAST into a semi-join
  *     against ONE scan of the store (never shuffled, never broadcast);
  *     the batch-bounded collision set joins back OWNER-AWARE: a
  *     collision whose stored owner is a DIFFERENT id drops the batch
  *     row (first-ingested-wins), but a collision whose stored owner IS
  *     the batch row's own id means "already mine — an earlier run of
  *     this same batch registered it" and the row SURVIVES again.
  *  4. Only keys NEW to the store append (already-mine rows are already
  *     registered), so the store never grows duplicate keys and a
  *     crashed append converges on rerun (only committed files count as
  *     the store).
  *
  * The owner-aware step 3 is what makes the RETURN VALUE replay-safe,
  * not just the store: a caller that persists the survivors after
  * ingest (the natural usage — TrainingSet feeds them to its later
  * stages) and crashes before its own commit gets the SAME survivors
  * back on rerun instead of an empty frame whose every row "collided"
  * with its own registration.
  *
  * The store keeps 64-bit key hashes, not key values: 16 bytes/key,
  * with the repo's documented conservative collision direction (a new
  * key colliding in 64 bits with a stored one is over-removed, never
  * under-removed).
  *
  * Scale: step 3's store scan reads EVERY registered key per ingest
  * even when the batch is almost entirely new — the dominant probe
  * cost at crawl cadence. [[KeyBloom]] sidecars (written per ingest,
  * folded at compaction) prove most batch keys absent from O(2 B/key)
  * broadcast metadata: keys rejected by every sidecar skip the store
  * join entirely, and a batch with NO possible collisions skips the
  * store scan outright. Bloom false positives only re-pay the old
  * full-probe price; false negatives cannot occur (see KeyBloom's
  * coverage invariant), so results are bit-identical with or without
  * the sidecars — `ext_url_dedup_incr`'s differential oracle holds
  * either way.
  *
  * Determinism: batches ingested in id order keep exactly the rows a
  * one-shot keep-first over the union keeps (asserted in the spec; the
  * URL gate `ext_url_dedup_incr` oracles it differentially).
  */
object IncrementalKeyedDedup {

  /** The store's bloom coverage over its registered key hashes. */
  private def bloom(storePath: String, bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024) =
    DurableStore.Bloom(s"$storePath/bloom", s"$storePath/keys",
      _.select("key_hash"), bitsPerKey, maxBloomBytes)

  /** Store rows (key_hash, owner id) colliding with the batch's key set
    * — ONE unshuffled store scan, batch keys broadcast. Exposed for
    * plan-shape tests.
    */
  private[graft] def collisionsOf(
      store: DataFrame,
      batchKeys: DataFrame): DataFrame =
    store.join(broadcast(batchKeys), Seq("key_hash"), "left_semi")

  /** Ingest one batch: returns the SURVIVING rows (all columns — new
    * key, first-in-batch, already-owned-by-this-row (replay), plus
    * every null-key row) and registers the NEW keys durably.
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      key: Column,
      storePath: String,
      bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024): DataFrame = {
    val keysPath = s"$storePath/keys"
    val coverage = bloom(storePath, bitsPerKey, maxBloomBytes)
    val storeExisted = DurableStore.hasData(spark, keysPath)
    val hashed = batch.withColumn("_kh", xxhash64(key))
      .withColumn("_kn", key.isNull)
    val keyless = hashed.filter(col("_kn"))
    val keyed = hashed.filter(!col("_kn"))
    val batchFirst = keyed
      .groupBy(col("_kh").as("key_hash"))
      .agg(min(col(idCol)).as(idCol))
    // owner-aware collision resolution: _owner null -> key is new
    // (survives + registers); _owner == id -> this row's own earlier
    // registration (replay: survives, already registered); _owner != id
    // -> someone else owns the key (drops). The min() collapse makes the
    // owner deterministic even if a store pathology ever duplicated a
    // key row.
    val withOwner =
      if (!storeExisted)
        batchFirst.withColumn("_owner",
          lit(null).cast(batchFirst.schema(idCol).dataType))
      else {
        // bloom prefilter: keys every sidecar rejects are PROVEN absent
        // (no false negatives) and need no store consult — their _owner
        // comes out null from the left_outer join below either way, so
        // the pruning is invisible to results
        val probeKeys = DurableStore.mightCollide(spark, coverage,
          batchFirst.select("key_hash").distinct(), col("key_hash"))
        if (probeKeys.isEmpty) // whole batch proven new: no store scan
          batchFirst.withColumn("_owner",
            lit(null).cast(batchFirst.schema(idCol).dataType))
        else {
          // the live store: forgotten owners' keys stop blocking
          val owners = collisionsOf(
              DurableStore.live(spark, storePath, "keys", idCol), probeKeys)
            .groupBy("key_hash").agg(min(col(idCol)).as("_owner"))
          batchFirst.join(broadcast(owners), Seq("key_hash"), "left_outer")
        }
      }
    val mat = withOwner
      .filter(col("_owner").isNull || col("_owner") === col(idCol))
      .localCheckpoint(true)
    val newKeys = mat.filter(col("_owner").isNull).select("key_hash", idCol)
    // sidecar BEFORE keys (see DurableStore.cover)
    DurableStore.cover(spark, coverage, storeExisted, newKeys.select("key_hash"))
    // register only keys NEW to the store — an already-mine row is its
    // own registration, and re-appending it would duplicate the key
    graft.sinks.WriteLayout.sizedForWrite(newKeys)
      .write.mode("append").parquet(keysPath)
    // survivors join on (key, id) — id alone would resurrect a row
    // whose OTHER key lost when the same id carries several keys
    keyed.join(mat.select(col("key_hash").as("_kh"), col(idCol)),
        Seq("_kh", idCol), "left_semi")
      .unionByName(keyless)
      .drop("_kh", "_kn")
  }

  /** Takedown support: forget every key OWNED by these ids — appends a
    * tombstone set the probes anti-join (no store rewrite). Fresh
    * copies of forgotten content are admitted again under a new owner:
    * the right-to-erasure semantics for dedup state. `ids` must carry
    * the store's id column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids)

  /** Registered key count — store health/monitoring. */
  def storedKeys(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/keys")

  /** Compact the store's accumulated per-ingest file sets (one set per
    * batch — thousands of small files at daily cadence; every probe's
    * store scan pays per-file costs) AND fold the takedown tombstones:
    * the rewrite drops every key row whose owner is in `forgotten/`,
    * then clears the tombstone set — physically erasing what [[forget]]
    * only masked — and re-arms one bloom sidecar over the live keys (see
    * [[DurableStore.compact]]). Returns (files before, after).
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("keys"), targetFileBytes,
      Some(bloom(storePath, bitsPerKey, maxBloomBytes)))
}
