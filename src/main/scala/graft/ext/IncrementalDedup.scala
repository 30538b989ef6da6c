package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.UpsertIgnore

/** [EXT] Incremental near-duplicate detection against a DURABLE
  * signature store: the form a growing 100 TB corpus actually needs.
  * One-shot `Dedup.minhashNearDups` re-derives signatures and re-forms
  * every bucket on each run — O(corpus) per ingest; this operator makes
  * each ingest O(batch + collisions) by persisting the MinHash artifacts
  * once and probing them forever after:
  *
  *   store/
  *     bands/     (doc_id, band, bucket)   — LSH probe surface
  *     shingles/  (doc_id, hset)           — exact-verify surface
  *
  * Per-ingest dataflow (batch small, store huge — the asymmetry every
  * step exploits):
  *
  *  1. The batch's shingle sets, signatures and band rows compute
  *     map-side (native `graft_minhash`, no shuffle).
  *  2. The batch's distinct (band, bucket) keys BROADCAST against ONE
  *     scan of the stored band rows — the store is never shuffled, and
  *     only rows whose bucket collides with the batch survive (tiny by
  *     the LSH contract).
  *  3. Colliding store buckets above `maxBucket` are dropped — the same
  *     degenerate-bucket discipline as every LSH path here; a bucket
  *     that huge means near-identical boilerplate that exact dedup
  *     should have collapsed first.
  *  4. Candidates (new-vs-store, plus new-vs-new from in-batch buckets)
  *     verify by exact Jaccard on shingle sets; the store's sets are
  *     read semi-join-pruned to the colliding ids only.
  *  5. The batch's artifacts append through UpsertIgnore keyed on
  *     (doc_id[, band]) with doc_id range pruning — idempotent growth:
  *     a crashed-and-rerun ingest neither duplicates store rows nor
  *     (thanks to the key anti-join) re-registers re-delivered docs.
  *
  * Determinism: signatures/buckets derive from seeded xxhash64 (or the
  * bit-compatible-per-session native expression), so an incremental run
  * over batches B1..Bn finds exactly the pairs the one-shot run over
  * B1 ∪ .. ∪ Bn finds (asserted in IncrementalDedupSpec; recall vs the
  * planted ground truth is oracled by `ext_incremental_recall`).
  */
object IncrementalDedup {

  final case class Params(
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 2000) {
    require(numHashes % bands == 0, s"bands must divide numHashes: $this")
    def rowsPerBand: Int = numHashes / bands
  }

  /** The MinHash permutation family a store's signatures were built
    * with, recorded at `storePath/_family` on first ingest. Signatures
    * from different families (native fmix64 vs seeded-xxhash64 fallback)
    * are mutually meaningless: a store written native and probed by an
    * uninstrumented session would produce DISJOINT buckets and silently
    * miss every cross-batch pair — so the marker makes every later
    * ingest reproduce the stored family, or fail loudly when it cannot
    * (see Dedup.minhashSigsOf).
    */
  private val FamilyFile = "_family"

  private[graft] def storedFamily(
      spark: SparkSession, storePath: String): Option[String] = {
    val p = new Path(storePath, FamilyFile)
    graft.sinks.SwapUtil.readText(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).map(_.trim)
  }

  private def writeFamily(
      spark: SparkSession, storePath: String, family: String): Unit = {
    val p = new Path(storePath, FamilyFile)
    graft.sinks.SwapUtil.writeSynced(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, family)
  }

  /** Resolve the signature family for this ingest: first ingest pins the
    * session's best available family into the marker; later ingests must
    * reproduce the stored one (auto-selected — a native session probing
    * a fallback-built store silently switches to the fallback scheme).
    */
  private def resolveFamily(
      spark: SparkSession, storePath: String, storeExists: Boolean): String =
    if (!storeExists) {
      val fam = if (spark.catalog.functionExists("graft_minhash")) "native"
        else "fallback"
      // marker first: a crash before the data writes (or during them,
      // which leaves only `bands/_temporary/`) leaves a store the
      // committed-data check still classifies as absent, and the rerun
      // just overwrites the marker — idempotent either way
      writeFamily(spark, storePath, fam)
      fam
    } else storedFamily(spark, storePath).getOrElse(
      sys.error(s"IncrementalDedup: store $storePath has no $FamilyFile " +
        "marker (created before hash-family tracking?) — its signatures' " +
        "permutation scheme is unknowable, so probing it risks silently " +
        "disjoint buckets; rebuild the store (or write _family manually " +
        "if the building session's scheme is known)"))

  /** Ingest a batch: returns the near-dup pairs the batch introduces —
    * (id_a, id_b, jaccard) with id_a < id_b, covering new-vs-stored and
    * new-vs-new — then registers the batch in the store. Pairs wholly
    * inside the existing store are NOT re-emitted (they were returned by
    * the ingest that introduced them); re-ingesting an already-stored
    * doc re-emits its pairs but cannot duplicate store rows.
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      p: Params = Params()): DataFrame = {
    val bandsPath = s"$storePath/bands"
    val shinglesPath = s"$storePath/shingles"
    val storeExists = DurableStore.hasData(spark, bandsPath)
    val family = resolveFamily(spark, storePath, storeExists)

    // consumed by candidates, verification AND the store append
    val hashed = Dedup.hashedShingleSets(batch, idCol, textCol, p.shingleN)
      .localCheckpoint(false)
    val newBands = Dedup.bandRowsOf(
      Dedup.minhashSigsOf(hashed, p.numHashes, Some(family)),
      p.bands, p.rowsPerBand)
      .localCheckpoint(false)

    // new-vs-new: the one-shot candidate machinery on the batch alone
    val inBatch = newBands
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= p.maxBucket)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("pp"))
      .select(col("pp.id_a"), col("pp.id_b"))

    val pairs =
      if (!storeExists)
        Dedup.verifyJaccard(inBatch.distinct(), hashed, hashed, p.threshold)
      else {
        // live probe surface: a forgotten doc can neither block a new
        // copy nor appear in a pair (its shingle sets, pruned by
        // candidate id, are never read)
        val hot = probeHotOf(DurableStore.live(spark, storePath, "bands"),
          newBands)
          .localCheckpoint(false)
        // degenerate-bucket cap on the STORE side of the collision
        val hotOk = hot.join(
          hot.groupBy("band", "bucket").count()
            .filter(col("count") <= p.maxBucket)
            .select("band", "bucket"),
          Seq("band", "bucket"), "left_semi")
        val cross = newBands
          .join(hotOk.withColumnRenamed("doc_id", "store_id"), Seq("band", "bucket"))
          // re-ingested docs collide with their own stored signature
          .filter(col("doc_id") =!= col("store_id"))
          .select(least(col("doc_id"), col("store_id")).as("id_a"),
            greatest(col("doc_id"), col("store_id")).as("id_b"))
        val candidates = cross.unionByName(inBatch).distinct()
          .localCheckpoint(false)
        // verify sets: batch sets + stored sets of the colliding ids only
        // (semi-join prune — the shingle table is read O(collisions))
        val storedSets = graft.sinks.StoreRead.parquet(spark, shinglesPath)
          .join(
            candidates.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
              .distinct(),
            Seq("doc_id"), "left_semi")
        // a re-ingested doc appears in both sides with an IDENTICAL hset
        // (same params, same hash family) — any representative works
        val sets = hashed.unionByName(storedSets)
          .groupBy("doc_id").agg(first("hset").as("hset"))
        Dedup.verifyJaccard(candidates, sets, sets, p.threshold)
      }
    // materialize results BEFORE mutating the store: the returned plan
    // must not re-probe a store that now contains the batch itself
    // no ordering here: every consumer (gates, dropPairLosers, the
    // streaming pair log) re-sorts or aggregates, so an internal orderBy
    // is a determinism-only range exchange + sampling job per ingest
    // (opt guide §2.4); the checkpoint alone is what the store-mutation
    // ordering contract needs
    val out = pairs.localCheckpoint(true)

    // idempotent registration: keyed anti-join append with doc_id range
    // pruning (monotone id batches touch only their own store region).
    // hset is cast to the nullable array form parquet reads back as, or
    // the second ingest's schema guard would flag containsNull drift.
    val shingleRows = hashed.select(col("doc_id"),
      col("hset").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true)).as("hset"))
    if (!storeExists) {
      // FIRST ingest: nothing to anti-join against — plain overwrite
      // writes are equivalent (and a crash between or during the two
      // leaves a state the committed-data check above re-classifies as
      // absent, so the rerun overwrites both — same result, still
      // idempotent). Skips
      // UpsertIgnore's cache/count/anti-join job overhead per table.
      graft.sinks.WriteLayout.sizedForWrite(shingleRows)
        .write.mode("overwrite").parquet(shinglesPath)
      graft.sinks.WriteLayout.sizedForWrite(newBands)
        .write.mode("overwrite").parquet(bandsPath)
    } else {
      // count-free registration: one shared id-range scan + one
      // anti-join append per table (the generic UpsertIgnore's
      // cache/count/delta-count jobs are accounting a store ingest
      // never reads — at per-batch cadence those fixed jobs dominate)
      val idBounds = hashed.agg(min(col("doc_id")), max(col("doc_id"))).head()
      UpsertIgnore.appendAbsent(spark, shingleRows, shinglesPath,
        keys = Seq("doc_id"), pruneCol = Some("doc_id"),
        bounds = Some(idBounds))
      UpsertIgnore.appendAbsent(spark, newBands, bandsPath,
        keys = Seq("doc_id", "band"), pruneCol = Some("doc_id"),
        bounds = Some(idBounds))
    }
    out
  }

  /** The store-probe plan: ONE scan of the stored band rows, the
    * batch's distinct bucket keys broadcast as the semi-join build side.
    * The store side must never shuffle — that single property is what
    * makes ingest O(batch + collisions) instead of O(corpus), so its
    * plan shape is asserted directly (IncrementalDedupSpec).
    */
  private[graft] def probeHotOf(
      store: DataFrame, newBands: DataFrame): DataFrame =
    store.join(broadcast(newBands.select("band", "bucket").distinct()),
      Seq("band", "bucket"), "left_semi")

  private[graft] def probeHot(
      spark: SparkSession, bandsPath: String, newBands: DataFrame): DataFrame =
    probeHotOf(graft.sinks.StoreRead.parquet(spark, bandsPath), newBands)

  /** Takedown support: forget every signature OWNED by these ids —
    * appends a tombstone set the probes anti-join (no store rewrite;
    * `compactStore` later erases the rows physically). Fresh copies of
    * forgotten content are admitted again under a NEW owner id — the
    * right-to-erasure semantics for dedup state. Re-using the forgotten
    * id itself stays shadowed until a compaction folds the tombstones
    * (the idempotent registration sees the masked rows). `ids` must
    * carry a `doc_id` column, the store tables' id column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids.select("doc_id"))

  /** Stored doc count (distinct registered documents). */
  def storedDocs(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/shingles")

  /** Compact both store tables: every ingest appends a small file set,
    * so a long-lived store accumulates exactly the small-file problem
    * `Maintenance.compact` exists for — and the probe scan's cost is
    * file-count-sensitive (one store scan per ingest). The rewrite also
    * FOLDS the takedown tombstones — forgotten owners' band rows and
    * shingle sets are physically erased and `forgotten/` cleared (see
    * [[DurableStore]] for the crash ordering). Run between ingests
    * (compact shares the sink family's single-writer contract).
    * Returns (filesBefore, filesAfter) summed over both tables.
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    DurableStore.compact(spark, storePath, Seq("bands", "shingles"),
      targetFileBytes)
}
