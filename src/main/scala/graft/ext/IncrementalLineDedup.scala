package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Incremental line-level dedup against a DURABLE line store — the
  * growing-corpus form of [[LineDedup.dedupLines]]. One-shot line dedup
  * re-hashes and re-groups EVERY line of the corpus per run (O(corpus));
  * this operator registers each batch's surviving line hashes once and
  * makes every later ingest O(batch + collisions):
  *
  *   store/lines/  (line_hash, doc id, line_no)  — first owner per line
  *
  * Per-ingest dataflow (batch small, store huge — every step exploits
  * the asymmetry):
  *
  *  1. In-batch keep-first via `LineDedup.dedupLines` (ONE map-combinable
  *     packed-key HashAggregate).
  *  2. The batch's distinct line hashes BROADCAST against ONE scan of
  *     the store — the store is never shuffled and never broadcast;
  *     only hashes colliding with the batch survive the semi-join
  *     (bounded by the batch size).
  *  3. Batch survivors = in-batch winners anti-joined (broadcast, tiny
  *     collision set) — lines whose value was seen in ANY earlier batch
  *     are dropped; the earlier owner keeps them.
  *  4. Survivors append to the store. They are store-disjoint BY
  *     CONSTRUCTION (step 3 ran against the committed store), so the
  *     append needs no second anti-join pass; a crashed append leaves
  *     only uncommitted temporary files, and the rerun — whose step 3
  *     sees only committed rows — converges without duplicating keys.
  *     A fully re-delivered batch collides entirely and appends nothing:
  *     replay is a no-op.
  *
  * The store keeps 64-bit xxhash64 line hashes, not line strings — 12
  * bytes/line instead of the line itself. The price is hash-collision
  * semantics: an unrelated new line colliding with a stored hash is
  * dropped (conservative over-removal, never under-removal — the same
  * documented direction as `Decontaminate`'s hashed mode; at trillions
  * of distinct lines the birthday expectation is a handful of rows).
  *
  * Determinism: an incremental run over batches B1..Bn keeps exactly
  * the lines the one-shot `dedupLines` over B1 ∪ .. ∪ Bn keeps, when
  * batches arrive in id order (asserted in IncrementalLineDedupSpec;
  * the two-ingest differential gate `ext_line_dedup_incr` oracles it
  * against the one-shot DuckDB form).
  *
  * Streaming composes the same way as the other incremental stores:
  * `foreachBatch((b, _) => IncrementalLineDedup.ingest(spark, b, …))`.
  */
object IncrementalLineDedup {

  /** The store's bloom coverage over its registered line hashes. */
  private def bloom(storePath: String, bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024) =
    DurableStore.Bloom(s"$storePath/bloom", s"$storePath/lines",
      _.select("line_hash").distinct(), bitsPerKey, maxBloomBytes)

  /** PURE probe: the batch's surviving lines — first-in-batch and new
    * to the committed store — as (line_hash, id, line_no, line), with
    * NO side effects. Callers that need to persist a survivors log AND
    * register (the streaming wrapper) sequence the two around this, so
    * a crash between them replays deterministically.
    */
  def probe(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      sepRegex: String = "\n",
      maxBloomBytes: Long = 256L * 1024 * 1024): DataFrame = {
    val linesPath = s"$storePath/lines"
    val batchFirst = LineDedup.dedupLines(batch, idCol, textCol, sepRegex)
      .withColumn("line_hash", xxhash64(col("line")))
    if (!DurableStore.hasData(spark, linesPath)) batchFirst
    else {
      // bloom prefilter: pruning proven-absent hashes leaves the
      // anti-join below bit-identical, and a batch of entirely-new
      // lines skips the store scan outright
      val probeHashes = DurableStore.mightCollide(spark,
        bloom(storePath, maxBloomBytes = maxBloomBytes),
        batchFirst.select("line_hash").distinct(), col("line_hash"))
      if (probeHashes.isEmpty) batchFirst
      else {
        // the live store: forgotten owners' lines stop blocking
        val collisions = collisionsOf(
          DurableStore.live(spark, storePath, "lines", idCol), probeHashes)
        batchFirst.join(broadcast(collisions), Seq("line_hash"), "left_anti")
      }
    }
  }

  /** Takedown support: forget every line OWNED by these ids. Appends a
    * tombstone set the probes anti-join (takedown-sized, broadcast) —
    * no store rewrite, no swap risk. After a forget, fresh copies of
    * the forgotten content are ADMITTED again under a new owner (the
    * content is gone; a new copy is new data), which is the correct
    * right-to-erasure semantics for dedup state. `ids` must carry the
    * store's id column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids)

  /** Register a probe result in the store. Rows must be store-disjoint
    * — true BY CONSTRUCTION for a `probe` result computed against the
    * committed store, so no second anti-join is needed; a crashed append
    * leaves only uncommitted temporary files and the rerun converges.
    */
  def register(
      spark: SparkSession,
      survivors: DataFrame,
      idCol: String,
      storePath: String,
      bitsPerKey: Int = 16): Unit = {
    val linesPath = s"$storePath/lines"
    // sidecar BEFORE the line append (see DurableStore.cover)
    DurableStore.cover(spark, bloom(storePath, bitsPerKey),
      DurableStore.hasData(spark, linesPath), survivors.select("line_hash"))
    graft.sinks.WriteLayout.sizedForWrite(
        survivors.select(col("line_hash"), col(idCol), col("line_no")))
      .write.mode("append").parquet(linesPath)
  }

  /** Ingest one batch: returns the batch's SURVIVING lines
    * (id, line_no, line) — new to the store and first-in-batch — and
    * registers them durably. See the object doc for the dataflow.
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      sepRegex: String = "\n"): DataFrame = {
    // localCheckpoint: survivors are (a) returned to the caller and
    // (b) appended — one computation, and the append must not observe
    // a store it is itself writing to
    val mat = probe(spark, batch, idCol, textCol, storePath, sepRegex)
      .localCheckpoint(true)
    register(spark, mat, idCol, storePath)
    mat.select(col(idCol), col("line_no"), col("line"))
  }

  /** Store hashes colliding with the batch's key set: the store is
    * scanned ONCE and never shuffled — the batch keys broadcast into a
    * semi-join, and the surviving collision set is batch-bounded.
    * Exposed for plan-shape tests.
    */
  private[graft] def collisionsOf(
      store: DataFrame,
      batchKeys: DataFrame): DataFrame =
    store.join(broadcast(batchKeys), Seq("line_hash"), "left_semi")
      .select("line_hash")

  /** Registered line count — store health/monitoring. */
  def storedLines(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/lines")

  /** Compact the store's accumulated per-ingest file sets (daily
    * cadence writes one set per batch — thousands of small files in a
    * year, and every probe's store scan pays the file-listing and
    * per-file open cost) AND fold the takedown tombstones: the rewrite
    * drops every line row owned by a forgotten id, then clears
    * `forgotten/` — physically erasing what [[forget]] only masked — and
    * re-arms one bloom sidecar over the live line hashes (see
    * [[DurableStore.compact]]). Returns (files before, files after).
    * Safe between ingests; same maintenance contract as the sibling
    * stores.
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("lines"), targetFileBytes,
      Some(bloom(storePath, bitsPerKey, maxBloomBytes)))
}
