package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Similarity.{asDouble, dotAuto}
import graft.sinks.UpsertIgnore

/** [EXT] Incremental EMBEDDING near-duplicate detection against a
  * durable store — the embedding-side counterpart of `IncrementalDedup`
  * (which is MinHash/text): every ingested batch is checked against the
  * whole accumulated corpus in O(batch + collisions), then joins it.
  * Completes the symmetry: text near-dup has one-shot, incremental, and
  * streaming forms; embedding near-dup had only the one-shot
  * `Similarity.rpNearDups`.
  *
  * Store layout (both registered idempotently through `UpsertIgnore`):
  *
  *   store/sigs/  (doc_id, chunk, cval)  — RP-LSH signature chunks, the
  *                                         probe surface (pigeonhole
  *                                         blocking: hamming <= maxHamming
  *                                         twins share >= 1 chunk value)
  *   store/vecs/  (doc_id, v, n)         — exact-cosine verify side
  *
  * Per-ingest shape, mirroring `IncrementalDedup.ingest`:
  *  - the batch's distinct (chunk, cval) keys BROADCAST against ONE scan
  *    of the stored sigs (the store is never shuffled);
  *  - buckets whose COMBINED (batch + stored) size exceeds `maxBucket`
  *    drop as degenerate hubs — the same cap, measured over the same
  *    union, as the one-shot blocking;
  *  - candidates verify by exact cosine against stored vectors read
  *    semi-join-pruned to the colliding ids;
  *  - precision is exact (every reported pair passed the cosine), and
  *    candidate recall is the pigeonhole guarantee — so a two-ingest run
  *    reports exactly the pairs the one-shot operator reports over the
  *    union (spec-asserted).
  */
object IncrementalEmbedDedup {

  /** @param pqM 0 (default) stores raw vectors under `store/vecs` —
    *             every verify is exact cosine, and a two-ingest run
    *             equals the one-shot operator EXACTLY. pqM > 0 stores
    *             PQ CODES under `store/codes` instead (m=pqM sub-codes,
    *             k=pqK centers, codebooks trained on the FIRST batch
    *             and persisted beside the store) — ~10x smaller at
    *             m=32 over 64-dim doubles, and the cross-batch verify
    *             is vector-free until the scoring join: only colliding
    *             candidate ids are reconstructed (m `element_at`
    *             lookups, pure Columns). The price is quantization:
    *             stored-side scores are the quantizer's approximation
    *             (in-batch pairs stay exact — both vectors in hand),
    *             so thresholds need margin over the reconstruction
    *             error; at m=32 (2-dim subspaces), k=64 the MEASURED
    *             reconstruction cosine on the test corpus is >= 0.992,
    *             so a 0.9 threshold keeps every true near-dup
    *             (spec-gated + the oracled recall gate
    *             `ext_embed_incr_pq_recall`). Choose pqM = 0 when
    *             thresholds sit within ~0.01 of true pair scores; pq
    *             mode needs long-castable ids (the encode pass keys by
    *             long, like the ANN index).
    */
  final case class Params(
      threshold: Double = 0.9,
      maxHamming: Int = 6,
      maxBucket: Int = 2000,
      pqM: Int = 0,
      pqK: Int = 32)

  /** The batch's codes rows, element-nullable like a parquet read-back —
    * the typed encode pass produces containsNull=false arrays, which
    * would trip the store's schema-drift guard on the second ingest
    * (the same normalization the vector store applies to `v`).
    */
  private def encodedBatch(e: DataFrame, cb: Pq.Codebooks): DataFrame =
    Pq.encode(e, "doc_id", "v", cb)
      .select(col("doc_id"), col("n"),
        col("codes").cast("array<int>").as("codes"))

  /** Ingest a batch of (idCol, vecCol) rows: returns the cosine>=threshold
    * pairs the batch introduces — (id_a, id_b, score), new-vs-stored and
    * new-vs-new — then registers the batch's signatures and vectors.
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      storePath: String,
      params: Params = Params()): DataFrame = {
    require(spark.catalog.functionExists("graft_rplsh"),
      "IncrementalEmbedDedup needs GraftExtensions " +
        "(spark.sql.extensions=graft.functions.GraftExtensions)")
    val sigsPath = s"$storePath/sigs"
    val vecsPath = s"$storePath/vecs"
    val codesPath = s"$storePath/codes"
    val cbPath = s"$storePath/codebooks"
    val pq = params.pqM > 0
    val storeExists = DurableStore.hasData(spark, sigsPath)
    // a store is EITHER vector-backed or codes-backed for its lifetime:
    // mixing modes across ingests would verify against a side that was
    // never written
    if (storeExists)
      require(DurableStore.hasData(spark, if (pq) codesPath else vecsPath),
        s"store at $storePath was built with " +
          s"${if (pq) "pqM = 0 (raw vectors)" else "pqM > 0 (PQ codes)"} — " +
          "ingest with the params the store was created with")
    val dt = dotAuto(spark) _

    val e = batch
      // normalize to array<double> WITH nullable elements: parquet reads
      // arrays back element-nullable, so a containsNull=false batch
      // (typed Dataset encoders produce those) would trip the store's
      // schema-drift guard on the second ingest
      .select(col(idCol).as("doc_id"),
        asDouble(col(vecCol)).cast("array<double>").as("v"))
      // ids are keys: a duplicated id in one batch would self-pair,
      // multiply candidate joins, and write duplicate store rows the
      // keyed registration could never clean up
      .dropDuplicates("doc_id")
      .withColumn("n", sqrt(dt(col("v"), col("v"))))
      .withColumn("sh", call_function("graft_rplsh", col("v"), lit(64)))
      .localCheckpoint(false) // chunks, verify, registration all read it
    val chunks = e
      .select(col("doc_id"),
        explode(Dedup.shChunks(col("sh"), params.maxHamming)).as("cc"))
      .select(col("doc_id"), col("cc.chunk").as("chunk"),
        col("cc.cval").as("cval"))
      .localCheckpoint(false) // probe, in-batch buckets, registration

    // the cap must apply to the COMBINED (batch + stored) bucket, or the
    // incremental run diverges from the one-shot operator at the cap
    // boundary in both directions: a union bucket over the cap would
    // expand here, and a degenerate batch hub would bypass the store-
    // side-only cap. Bucket sizes are O(keys) metadata. Re-ingested ids
    // are excluded from the STORE side below (anti-join, mirroring the
    // verify side) so they count exactly once — a bucket sitting at
    // maxBucket survives the incremental run iff the one-shot keeps it.
    val batchCnt = chunks.groupBy("chunk", "cval").count()
      .withColumnRenamed("count", "__bc")
    def inBatchPairs(okKeys: DataFrame) = chunks
      .join(okKeys, Seq("chunk", "cval"), "left_semi")
      .groupBy("chunk", "cval")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

    val candidates =
      (if (!storeExists)
         inBatchPairs(batchCnt.filter(col("__bc") <= params.maxBucket)
           .select("chunk", "cval"))
       else {
         // ONE store scan, batch chunk keys broadcast — the store side
         // never shuffles (the IncrementalDedup.probeHot shape); on the
         // live surface a forgotten doc can neither block a new copy nor
         // appear in a pair, and its stored vector (or PQ codes) is never
         // read by a verify
         val hot = DurableStore.live(spark, storePath, "sigs")
           .join(broadcast(e.select("doc_id")), Seq("doc_id"), "left_anti")
           .join(broadcast(chunks.select("chunk", "cval").distinct()),
             Seq("chunk", "cval"), "left_semi")
           .localCheckpoint(false)
         val okKeys = hot.groupBy("chunk", "cval").count()
           .withColumnRenamed("count", "__sc")
           .join(batchCnt, Seq("chunk", "cval"), "full_outer")
           .filter(coalesce(col("__sc"), lit(0L)) +
             coalesce(col("__bc"), lit(0L)) <= params.maxBucket)
           .select("chunk", "cval")
           .localCheckpoint(false) // gates the cross AND in-batch sides
         val cross = chunks
           .join(hot.join(okKeys, Seq("chunk", "cval"), "left_semi")
             .withColumnRenamed("doc_id", "store_id"),
             Seq("chunk", "cval"))
           .filter(col("doc_id") =!= col("store_id"))
           .select(least(col("doc_id"), col("store_id")).as("id_a"),
             greatest(col("doc_id"), col("store_id")).as("id_b"))
         cross.unionByName(inBatchPairs(okKeys))
       })
        .distinct()
        .localCheckpoint(false) // prunes the verify side AND joins it

    // cosine verify: batch vectors + stored vectors of colliding ids
    // only (semi-join prune). pq mode reconstructs ONLY those colliding
    // ids from their codes (m element_at lookups, pure Columns — the
    // store scan itself is vector-free); norms stay the stored exact
    // values, so the score is the standard ADC-style approximation.
    val vecs =
      if (!storeExists) e.select("doc_id", "v", "n")
      else {
        val candidateIds = candidates
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct()
        val stored =
          if (!pq)
            graft.sinks.StoreRead.parquet(spark, vecsPath)
              .join(candidateIds, Seq("doc_id"), "left_semi")
          else {
            // norm of the RECONSTRUCTION, not the stored exact norm: a
            // quantizer shrinks vectors toward centroids, so dividing
            // the decoded dot by the exact norm deflates every score by
            // |v̂|/|v| (measured up to ~7%) — the true cosine of the
            // reconstruction is the faithful approximation
            val cb = Pq.readCodebooks(spark, cbPath)
            graft.sinks.StoreRead.parquet(spark, codesPath)
              .join(candidateIds, Seq("doc_id"), "left_semi")
              .select(col("doc_id"), Pq.decodeCol(cb).as("v"))
              .withColumn("n", sqrt(dt(col("v"), col("v"))))
          }
        // a doc in BOTH sides (re-ingest) verifies with its exact batch
        // vector: stored rows of batch ids drop — deterministic, and in
        // pq mode it keeps the exact side, never the reconstruction
        e.select("doc_id", "v", "n").unionByName(
          stored.join(e.select("doc_id"), Seq("doc_id"), "left_anti"))
      }
    val pairs = candidates
      .join(vecs.select(col("doc_id").as("id_a"), col("v").as("va"),
        col("n").as("na")), "id_a")
      .join(vecs.select(col("doc_id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), "id_b")
      .withColumn("score",
        round(dt(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("score") >= params.threshold)
      .select("id_a", "id_b", "score")

    // materialize BEFORE mutating the store (the returned plan must not
    // re-probe a store that now contains the batch itself)
    // no ordering here: every consumer (gates, dropPairLosers, the
    // streaming pair log) re-sorts or aggregates, so an internal orderBy
    // is a determinism-only range exchange + sampling job per ingest
    // (opt guide §2.4); the checkpoint alone is what the store-mutation
    // ordering contract needs
    val out = pairs.localCheckpoint(true)

    if (!storeExists) {
      if (pq) {
        // codebooks train ONCE, on the first batch, and every later
        // ingest encodes against them — one quantizer per store lifetime
        // (mixing codebooks would make stored codes mutually meaningless,
        // the same family discipline as the minhash signature store)
        val cb = Pq.train(e, "doc_id", "v", params.pqM, params.pqK)
        Pq.writeCodebooks(spark, cb, cbPath)
        graft.sinks.WriteLayout.sizedForWrite(encodedBatch(e, cb))
          .write.mode("overwrite").parquet(codesPath)
      } else
        graft.sinks.WriteLayout.sizedForWrite(e.select("doc_id", "v", "n"))
          .write.mode("overwrite").parquet(vecsPath)
      graft.sinks.WriteLayout.sizedForWrite(chunks)
        .write.mode("overwrite").parquet(sigsPath)
    } else {
      // count-free registration: one shared id-range scan + one
      // anti-join append per table (see UpsertIgnore.appendAbsent)
      val idBounds = e.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (pq)
        UpsertIgnore.appendAbsent(spark,
          encodedBatch(e, Pq.readCodebooks(spark, cbPath)),
          codesPath, keys = Seq("doc_id"), pruneCol = Some("doc_id"),
          bounds = Some(idBounds))
      else
        UpsertIgnore.appendAbsent(spark, e.select("doc_id", "v", "n"), vecsPath,
          keys = Seq("doc_id"), pruneCol = Some("doc_id"),
          bounds = Some(idBounds))
      UpsertIgnore.appendAbsent(spark, chunks, sigsPath,
        keys = Seq("doc_id", "chunk"), pruneCol = Some("doc_id"),
        bounds = Some(idBounds))
    }
    out
  }

  /** Takedown support: forget every signature AND the stored raw vector
    * / PQ codes OWNED by these ids. This store is the one where forget
    * matters most — it retains the embedding itself, not just a hash,
    * so a takedown that left it behind would be a genuine
    * right-to-be-forgotten hazard. The append is O(takedown): probes
    * anti-join the tombstones immediately, and `compactStore` erases
    * the vectors/codes physically. Fresh copies of forgotten content
    * are admitted again under a NEW owner id; re-using the forgotten id
    * itself stays shadowed until a compaction folds the tombstones.
    * `ids` must carry a `doc_id` column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids.select("doc_id"))

  /** Stored doc count (distinct registered documents). */
  def storedDocs(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/sigs", Seq("doc_id"))

  /** Compact the store tables — per-ingest file sets accumulate at the
    * same daily cadence as the sibling stores — AND fold the takedown
    * tombstones: forgotten owners' signature chunks and their RAW
    * VECTORS (or PQ codes) are physically erased and `forgotten/`
    * cleared (see [[DurableStore]] for the crash ordering). Both
    * backing modes are covered — whichever of `vecs`/`codes` exists is
    * rewritten; the persisted codebooks carry no per-document data and
    * stay. Single-writer contract; returns (filesBefore, filesAfter)
    * summed over the rewritten tables.
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("sigs", "vecs", "codes"),
      targetFileBytes)
}
