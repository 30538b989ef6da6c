package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.UpsertIgnore

/** [EXT] Incremental IMAGE near-duplicate detection against a durable
  * store — the perceptual-hash counterpart of `IncrementalDedup`
  * (MinHash/text) and `IncrementalEmbedDedup` (RP-LSH/embeddings):
  * every ingested media batch is checked against the whole accumulated
  * corpus in O(batch + collisions), then joins it. A re-crawled image
  * dedups cross-batch for the cost of a signature probe, and so does a
  * RE-ENCODED one when the payload decodes (PNG/JPEG/GIF/BMP — even
  * across container formats): the signature is
  * the pixel-aware `Multimodal.dHashPixels` — losslessly re-encoded
  * PNGs (different scanline filters, IDAT split, deflate level) hash
  * identically and a JPEG re-compression lands a few Hamming bits away,
  * because the hash reads the decoded BT.601 grayscale plane, not the
  * container bytes. Non-decodable payloads keep the byte-level dHash
  * regime (byte-near-identical copies only); the corpus is never
  * rescanned either way.
  *
  * The store is the SMALLEST of the family because the dHash is both
  * probe key and exact verifier — 8 bytes per image, no second
  * payload table:
  *
  *   store/sigs/        (doc_id, sh) — 64-bit dHash; chunk keys derive
  *                                     map-side on the (pruned) scan
  *   store/sig_regime   "dhash_px 1" — the signature REGIME is part of
  *     the artifact (the bloom_mh<H> discipline applied to the hash
  *     function itself): a store of byte-regime signatures probed with
  *     pixel-regime hashes would silently MISS re-crawled copies — a
  *     recall loss with no error — so a store without the marker (built
  *     before the pixel-aware hash) or with a different regime fails
  *     LOUDLY at ingest with a rebuild instruction instead
  *   store/forgotten/   (doc_id)     — takedown tombstones
  *   store/bloom_mh<H>/              — KeyBloom sidecars over the
  *     xxhash64(chunk, cval) blocking keys AT maxHamming = H. The dir
  *     name carries the blocking parameter because the keys do: a probe
  *     at a different maxHamming finds no sidecar and full-scans
  *     (correct), and an ingest at a different maxHamming DELETES the
  *     stale dirs (their coverage would silently lapse otherwise).
  *
  * Per-ingest shape, mirroring the siblings:
  *  - batch signatures = one scan (`Multimodal.dHashPixels` — native
  *    expression or its typed fallback);
  *  - the batch's distinct (chunk, cval) keys — PREFILTERED by the
  *    bloom sidecars: keys the bloom rejects are PROVEN absent from the
  *    store, and a batch of entirely-new images (the common crawl
  *    cadence) skips the store scan outright — BROADCAST against ONE
  *    scan of the stored sigs (pigeonhole blocking: hamming <=
  *    maxHamming twins share >= 1 whole chunk; the store side is never
  *    shuffled);
  *  - buckets whose COMBINED (batch + stored) size exceeds `maxBucket`
  *    drop as degenerate hubs — the same union-side cap as the
  *    siblings, so incremental == one-shot at the cap boundary;
  *  - candidates verify by EXACT Hamming on the two signatures, so
  *    precision is exact and a multi-ingest run reports exactly the
  *    pairs `Multimodal.imageNearDups` reports over the union (the
  *    oracled `ext_image_incr` gate holds a two-ingest run to the
  *    all-pairs DuckDB ground truth).
  */
object IncrementalImageDedup {

  final case class Params(
      maxHamming: Int = 10,
      maxBucket: Int = 2000,
      bitsPerKey: Int = 16,
      maxBloomBytes: Long = 256L * 1024 * 1024,
      // opt-in: fold the payload's own EXIF orientation into the
      // signature (decoded plane re-mapped upright before hashing —
      // `Multimodal.exifNormalizedSh`), so a rotated re-save that
      // CARRIES its rotation in metadata dedups against its upright
      // source at batch cadence. Off by default: the COVERAGE round-11
      // argument stands (a stripped-metadata copy must keep matching),
      // and the two hash populations are separate REGIMES — the store
      // marker prevents silent mixing.
      normalizeOrientation: Boolean = false)

  /** The store's bloom coverage: sidecars under `bloom_mh<H>` over the
    * xxhash64 of the (chunk, cval) blocking keys at maxHamming = H.
    */
  private def bloom(storePath: String, params: Params) =
    DurableStore.Bloom(s"$storePath/bloom_mh${params.maxHamming}",
      s"$storePath/sigs",
      _.select(explode(Dedup.shChunks(col("sh"), params.maxHamming)).as("cc"))
        .select(xxhash64(col("cc.chunk"), col("cc.cval")).as("__kh"))
        .distinct(),
      params.bitsPerKey, params.maxBloomBytes)

  /** The signature regime this code writes and probes with — a
    * FUNCTION of the hash semantics, not just a version: the plain
    * pixel regime and the EXIF-orientation-normalized regime produce
    * different hashes for the same rotated payload, so a store built
    * under one must never be probed under the other (bump the version
    * whenever either function changes meaning; byte-regime →
    * pixel-regime did exactly that in the past). Stored signatures
    * and probe signatures must come from the same function or recall
    * is silently lost.
    */
  private[graft] def sigRegime(normalizeOrientation: Boolean): String =
    if (normalizeOrientation) "dhash_px_exif 1" else "dhash_px 1"

  private[graft] val SigRegime = sigRegime(normalizeOrientation = false)

  private def regimePath(storePath: String) = new Path(s"$storePath/sig_regime")

  private def writeRegime(spark: SparkSession, storePath: String,
      params: Params): Unit = {
    val p = regimePath(storePath)
    graft.sinks.SwapUtil.writeSynced(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      s"${sigRegime(params.normalizeOrientation)}\n")
  }

  /** Refuse to probe/append a store whose signatures came from a
    * different hash regime. A missing marker means the store predates
    * regime tracking (its decodable images carry byte-regime hashes):
    * treat as mismatched — the failure mode being prevented is SILENT,
    * so absence must be loud too.
    */
  private def checkRegime(spark: SparkSession, storePath: String,
      params: Params): Unit = {
    val expected = sigRegime(params.normalizeOrientation)
    val p = regimePath(storePath)
    val found = graft.sinks.SwapUtil.readText(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).map(_.trim)
    require(found.contains(expected),
      s"image store at $storePath holds '${found.getOrElse("<no marker>")}' " +
        s"signatures but this build probes with '$expected' — re-crawled " +
        "copies would silently miss. Rebuild the store (re-ingest the " +
        "corpus into a fresh path) to upgrade its signatures.")
  }

  /** Capacity of the (chunk, cval) blocking-key space at this
    * maxHamming, measured by the NARROW chunks (nChunks slots of
    * 64/nChunks bits; the one wider tail chunk is never the
    * bottleneck) — UNLIKE the line/keyed stores' 64-bit content hashes
    * (sparse forever), pigeonhole keys live in a SMALL space. Bloom
    * pruning has power only while the stored keys are sparse in it: a
    * skip needs EVERY batch key absent, so once any chunk's value space
    * fills (a few hundred images at maxHamming = 10, thousands at 6,
    * ~100k at 3), the probe can never skip — the ingest then BYPASSES
    * the filter when the sidecars report a meaningfully-filled space
    * (>= quarter capacity), paying zero per-ingest overhead at crawl
    * scale while keeping the skip for the small/medium stores where it
    * wins. (Compaction rebuilds the exact distinct-key count, so an
    * over-counting pile of per-ingest sidecars gets corrected.)
    */
  private[ext] def blockingKeyspace(maxHamming: Int): Double = {
    val n = maxHamming + 1
    val cb = 64 / n
    n.toDouble * math.pow(2, cb)
  }

  /** Delete bloom dirs built for a DIFFERENT maxHamming: appending sigs
    * without updating them would silently break their no-false-negative
    * coverage. Runs BEFORE the sig append (a crash in between leaves no
    * bloom — probes full-scan, which is correct).
    */
  private def dropStaleBlooms(
      spark: SparkSession, storePath: String, maxHamming: Int): Unit = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("bloom_mh") &&
            n != s"bloom_mh$maxHamming")
          fs.delete(st.getPath, true)
      }
  }

  /** Ingest a `mediaTable`-shaped batch (doc_id, media, width, height):
    * returns the hamming<=maxHamming pairs the batch introduces —
    * (id_a, id_b, hamming), new-vs-stored and new-vs-new — then
    * registers the batch's signatures.
    */
  def ingest(
      spark: SparkSession,
      media: DataFrame,
      storePath: String,
      params: Params = Params()): DataFrame = {
    val sigsPath = s"$storePath/sigs"
    val storeExists = DurableStore.hasData(spark, sigsPath)
    if (storeExists) checkRegime(spark, storePath, params)
    val sig: org.apache.spark.sql.Column =
      if (params.normalizeOrientation) {
        val f = udf(Multimodal.exifNormalizedSh _)
        f(col("media"), coalesce(col("width").cast("int"), lit(0)),
          coalesce(col("height").cast("int"), lit(0)))
      } else
        Multimodal.dHashPixels(spark)(
          col("media"), col("width"), col("height")).getField("sh")
    val e = media
      .select(col("doc_id"), sig.as("sh"))
      // degenerate rows (null media/geometry) hash NULL: they can never
      // pair, so they neither probe nor register (and they must not —
      // a shared sentinel hash would make them mutual "duplicates")
      .filter(col("sh").isNotNull)
      // ids are keys: a duplicated id would self-pair and write store
      // rows the keyed registration could never clean up
      .dropDuplicates("doc_id")
      .localCheckpoint(false) // chunks, verify, registration all read it
    val chunks = e
      .select(col("doc_id"),
        explode(Dedup.shChunks(col("sh"), params.maxHamming)).as("cc"))
      .select(col("doc_id"), col("cc.chunk").as("chunk"),
        col("cc.cval").as("cval"))
      .localCheckpoint(false) // probe, in-batch buckets, registration
    // the batch's distinct blocking keys, hashed once for the bloom
    // probe AND the registration sidecar (bounded: <= 11 per image and
    // by the chunk-key space itself)
    val batchKeys = chunks.select("chunk", "cval").distinct()
      .withColumn("__kh", xxhash64(col("chunk"), col("cval")))
      .localCheckpoint(false)
    val coverage = bloom(storePath, params)

    // combined-bucket cap: see IncrementalEmbedDedup — capping either
    // side alone diverges from the one-shot operator at the boundary
    val batchCnt = chunks.groupBy("chunk", "cval").count()
      .withColumnRenamed("count", "__bc")
    def inBatchPairs(okKeys: DataFrame) = chunks
      .join(okKeys, Seq("chunk", "cval"), "left_semi")
      .groupBy("chunk", "cval")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    def batchOnlyPairs = inBatchPairs(
      batchCnt.filter(col("__bc") <= params.maxBucket)
        .select("chunk", "cval"))

    // bloom prefilter (see KeyBloom): keys every sidecar rejects are
    // PROVEN absent from the store — for those buckets __sc = 0, so the
    // combined cap reduces to the batch-only cap and the store
    // contributes no cross pair. A fully-new batch (the crawl common
    // case) therefore skips BOTH store scans (probe and verify)
    // outright; a partial hit shrinks the broadcast probe set; a store
    // that has SATURATED its bounded blocking-key space bypasses the
    // filter entirely (see [[blockingKeyspace]] — no skip is possible
    // there, so no overhead is paid). The surviving probe-key set is
    // bounded metadata (min of the batch's keys and the keyspace), so
    // it collects once: the emptiness decision and the broadcast reuse
    // the same job.
    lazy val probeKeys: Option[DataFrame] = // None = no store collision possible
      KeyBloom.loadSidecarsMeta(spark, coverage.dir, params.maxBloomBytes) match {
        case None => Some(batchKeys)
        case Some((blooms, storedKeys)) =>
          if (storedKeys >= 0.25 * blockingKeyspace(params.maxHamming))
            Some(batchKeys) // saturated: a full skip is no longer possible
          else {
            val hits = DurableStore.filterBy(spark, batchKeys, col("__kh"),
                blooms)
              .select("chunk", "cval").collect()
            if (hits.isEmpty) None
            else Some(spark.createDataFrame(
              spark.sparkContext.parallelize(hits.toSeq, 1),
              batchKeys.select("chunk", "cval").schema))
          }
      }
    val storeMayCollide = storeExists && probeKeys.isDefined

    val candidates =
      (if (!storeMayCollide) batchOnlyPairs
       else {
         // ONE store scan; chunk keys derive map-side from the stored
         // sh, the batch's distinct keys broadcast into the semi-join.
         // Re-ingested ids drop out FIRST (anti-join on the batch ids,
         // mirroring the verify side): their batch signature already
         // covers them, and counting the stored copy too would push a
         // bucket sitting exactly at maxBucket over the cap — a boundary
         // divergence from the one-shot operator.
         val hot = DurableStore.live(spark, storePath, "sigs")
           .join(broadcast(e.select("doc_id")), Seq("doc_id"), "left_anti")
           .select(col("doc_id").as("store_id"),
             explode(Dedup.shChunks(col("sh"), params.maxHamming)).as("cc"))
           .select(col("store_id"), col("cc.chunk").as("chunk"),
             col("cc.cval").as("cval"))
           .join(broadcast(probeKeys.get.select("chunk", "cval")),
             Seq("chunk", "cval"), "left_semi")
           .localCheckpoint(false)
         val okKeys = hot.groupBy("chunk", "cval").count()
           .withColumnRenamed("count", "__sc")
           .join(batchCnt, Seq("chunk", "cval"), "full_outer")
           .filter(coalesce(col("__sc"), lit(0L)) +
             coalesce(col("__bc"), lit(0L)) <= params.maxBucket)
           .select("chunk", "cval")
           .localCheckpoint(false)
         val cross = chunks
           .join(hot.join(okKeys, Seq("chunk", "cval"), "left_semi"),
             Seq("chunk", "cval"))
           .filter(col("doc_id") =!= col("store_id"))
           .select(least(col("doc_id"), col("store_id")).as("id_a"),
             greatest(col("doc_id"), col("store_id")).as("id_b"))
         cross.unionByName(inBatchPairs(okKeys))
       })
        .distinct()
        .localCheckpoint(false) // prunes the verify side AND joins it

    // exact-Hamming verify: batch signatures + stored signatures of
    // colliding ids only (semi-join prune); a re-ingested id verifies
    // with its batch signature (identical by determinism anyway). When
    // the bloom proved no store collision, every candidate id is a
    // batch id and the batch signatures alone verify — no store scan.
    val sigs =
      if (!storeMayCollide) e
      else {
        val candidateIds = candidates
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct()
        e.unionByName(
          DurableStore.live(spark, storePath, "sigs")
            .join(candidateIds, Seq("doc_id"), "left_semi")
            .join(e.select("doc_id"), Seq("doc_id"), "left_anti"))
      }
    val pairs = candidates
      .join(sigs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= params.maxHamming)
      .select("id_a", "id_b", "hamming")

    // materialize BEFORE mutating the store (the returned plan must not
    // re-probe a store that now contains the batch itself)
    // no ordering here: every consumer (gates, dropPairLosers, the
    // streaming pair log) re-sorts or aggregates, so an internal orderBy
    // is a determinism-only range exchange + sampling job per ingest
    // (opt guide §2.4); the checkpoint alone is what the store-mutation
    // ordering contract needs
    val out = pairs.localCheckpoint(true)

    // sidecar BEFORE the sig append (see DurableStore.cover).
    // Differently-parameterized bloom dirs drop first — appending keys
    // they don't cover would break their no-false-negative guarantee.
    dropStaleBlooms(spark, storePath, params.maxHamming)
    DurableStore.cover(spark, coverage, storeExists, batchKeys.select("__kh"))
    if (!storeExists) {
      // marker BEFORE the first sig write: a crash in between leaves a
      // marker with no sigs (next ingest re-creates both), never sigs
      // with no marker (which would fail the regime check forever)
      writeRegime(spark, storePath, params)
      graft.sinks.WriteLayout.sizedForWrite(e)
        .write.mode("overwrite").parquet(sigsPath)
    } else {
      val idBounds = e.agg(min(col("doc_id")), max(col("doc_id"))).head()
      UpsertIgnore.appendAbsent(spark, e, sigsPath, keys = Seq("doc_id"),
        pruneCol = Some("doc_id"), bounds = Some(idBounds))
    }
    out
  }

  /** Takedown support: forget these owners' signatures — an O(takedown)
    * tombstone append; probes mask immediately, `compactStore` erases
    * physically. Fresh copies of forgotten images are admitted again
    * under a new id. `ids` must carry a `doc_id` column.
    */
  def forget(spark: SparkSession, storePath: String, ids: DataFrame): Unit =
    DurableStore.forget(storePath, ids.select("doc_id"))

  /** Stored image count (distinct registered ids). */
  def storedDocs(spark: SparkSession, storePath: String): Long =
    DurableStore.count(spark, s"$storePath/sigs", Seq("doc_id"))

  /** Compact the signature table and fold the takedown tombstones —
    * forgotten signatures are physically erased and `forgotten/`
    * cleared. Then re-arm (or first-arm, for a legacy store) ONE bloom
    * sidecar over the now-live blocking keys at `params.maxHamming` —
    * forgotten owners drop out of the bloom here too, and a legacy or
    * re-parameterized store gains probe pruning from this point on.
    * Single-writer; returns (filesBefore, filesAfter).
    */
  def compactStore(
      spark: SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      params: Params = Params()): (Int, Int) = {
    dropStaleBlooms(spark, storePath, params.maxHamming)
    DurableStore.compact(spark, storePath, Seq("sigs"), targetFileBytes,
      Some(bloom(storePath, params)))
  }
}
