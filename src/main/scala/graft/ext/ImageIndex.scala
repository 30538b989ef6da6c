package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Persisted Hamming-space image index — the dHash instantiation
  * of the shared [[HammingIndex]] posting layout (see that file for the
  * artifact design, pruning math, and exactness argument): a one-time
  * layout pass that lets bounded-distance image search read a PRUNED
  * slice of the corpus instead of scanning it, the serving lever for
  * image corpora that outgrow the exhaustive `Multimodal.imageTopK`
  * baseline.
  *
  * Space at H=7 is 8 postings/image, ~2.5% of a 10 KB average image
  * payload, written once; a random probe reads ~3% of the postings.
  * The `ext_image_index_topk` gate holds the probe EQUAL to the
  * exhaustive top-k restricted to the bound against the brute-force
  * DuckDB oracle.
  *
  * Relationship to the family: `IncrementalImageDedup` answers "is this
  * BATCH near anything stored" at crawl cadence; this index answers
  * "what is near this PROBE" at serving cadence over a frozen corpus
  * snapshot. Rebuild = rerun `build` (stage-aside swap: a concurrent
  * probe never observes a half-written index).
  */
object ImageIndex {

  private val What = "image index"

  private def hashed(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    media.select(col("doc_id"),
      Multimodal.dHashPixels(spark)(
        col("media"), col("width"), col("height")).getField("sh").as("sh"))
      .filter(col("sh").isNotNull)
  }

  /** Hash `media` (a `Multimodal.mediaTable`-shaped frame) and persist
    * the posting layout at `path`. Degenerate rows (null hash) are not
    * indexed — they never pair anywhere in the family.
    */
  def build(media: DataFrame, path: String, maxHamming: Int = 7,
      filesPerChunk: Int = 8): Unit =
    HammingIndex.build(hashed(media), path, maxHamming, filesPerChunk,
      What, "Multimodal.imageTopK")

  /** True when a built artifact exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    HammingIndex.exists(spark, path)

  /** The blocking bound the artifact was built at (from build_meta). */
  def boundOf(spark: SparkSession, path: String): Int =
    HammingIndex.boundOf(spark, path, What)

  type AppendResult = HammingIndex.AppendResult

  /** Takedown: forgotten doc_ids (a `doc_id` column) stop ranking in
    * [[topK]] IMMEDIATELY; an explicit re-ingest via [[append]]
    * readmits; [[build]] clears the tombstones with the layout. The
    * index sits under the same erasure surface as the stores.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    HammingIndex.forget(spark, path, ids, What)

  /** Incrementally grow the index with a batch of new images — see
    * [[HammingIndex.append]] for the discipline (id anti-join against
    * one chunk partition, staleness vs the build-time row count,
    * rebuild advice past the threshold).
    */
  def append(media: DataFrame, path: String,
      rebuildThreshold: Double = 0.5): AppendResult =
    HammingIndex.append(hashed(media), path, rebuildThreshold, What)

  /** Re-pack the layout from the artifact alone (no media re-hash):
    * appended files merge back into the packed cval-sorted slices,
    * tombstoned images erase physically, staleness resets — see
    * [[HammingIndex.compact]]. The default (0) re-packs at the fan-out
    * the index was BUILT at, read from build_meta — a maintenance pass
    * never silently changes the pruning granularity. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
      filesPerChunk: Int = 0): (Int, Int) =
    HammingIndex.compact(spark, path, HammingIndex.Chunked, filesPerChunk,
      What)

  /** Bounded-distance top-k against the persisted index: for each probe
    * image, the k nearest corpus images WITHIN the index's Hamming
    * bound — equal to the exhaustive top-k restricted to the bound.
    * Probe hashes are a BOUNDED driver-side set (a serving call —
    * enforced); see [[HammingIndex.topK]] for the pruned-scan shape.
    */
  def topK(spark: SparkSession, path: String, probes: DataFrame, k: Int,
      maxProbes: Int = 4096): DataFrame = {
    val qs = probes.select(col("doc_id").as("q_id"),
      Multimodal.dHashPixels(spark)(
        col("media"), col("width"), col("height")).getField("sh").as("qsh"))
      .filter(col("qsh").isNotNull)
      .limit(maxProbes + 1)
      .collect()
    require(qs.length <= maxProbes,
      s"imageIndex: more than $maxProbes probes — this is a serving call; " +
        "batch-vs-corpus jobs belong on IncrementalImageDedup/imageNearDups")
    HammingIndex.topK(spark, path,
      qs.map(r => (r.getLong(0), r.getLong(1))), k, What)
  }

  /** Rotation-tolerant bounded search: probes all four quarter-turn
    * orientations of each probe image and keeps the BEST (minimum)
    * Hamming per (probe, document) — exact for quarter-turn re-saves,
    * because the rotated probe plane IS the stored copy's plane
    * (`Multimodal.orientedHashes`). The STORE stays orientation-free —
    * one hash per image, a pure function of the delivered plane (the
    * COVERAGE round-11 decision: a stripped-metadata copy must keep
    * matching; rotation tolerance costs 4 probe hashes at serve time,
    * nothing at rest). Result EQUALS the bounded top-k under the
    * per-pair best-orientation Hamming: each orientation's own top-k
    * is fetched, so any pair in the combined answer is present in its
    * best orientation's list (the k-way-merge argument). Probes whose
    * payload does not decode fall back to their single payload-regime
    * hash — rotation has no meaning for bytes. Returns
    * (q_id, doc_id, hamming), ties to the lower doc_id.
    */
  def topKOriented(spark: SparkSession, path: String, probes: DataFrame,
      k: Int, maxProbes: Int = 1024): DataFrame = {
    import spark.implicits._
    // width/height cast to int so any integral probe schema works, and
    // read LAZILY (null-safe) only on the undecodable-payload fallback
    // — the payload-hash path never needs metadata geometry
    val rows = probes
      .select(col("doc_id"), col("media"),
        col("width").cast("int"), col("height").cast("int"))
      .limit(maxProbes + 1)
      .collect()
    require(rows.length <= maxProbes,
      s"imageIndex: more than $maxProbes oriented probes — this is a " +
        "serving call; batch-vs-corpus jobs belong on " +
        "IncrementalImageDedup/imageNearDups")
    // synthetic probe ids (row index × 4 + orientation) keep the four
    // orientations distinct through the shared probe machinery; the
    // mapping joins the original ids back afterwards
    val synth = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val mapping = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    rows.zipWithIndex.foreach { case (r, idx) =>
      val qId = r.getLong(0)
      val media = r.getAs[Array[Byte]](1)
      val hashes = Multimodal.orientedHashes(media).getOrElse {
        val w = if (r.isNullAt(2)) 0 else r.getInt(2)
        val h = if (r.isNullAt(3)) 0 else r.getInt(3)
        graft.functions.DHashPixels
          .computeExternal(media, w, h)
          .map(px => Array(px.sh)).getOrElse(Array.empty[Long])
      }
      hashes.distinct.zipWithIndex.foreach { case (sh, o) =>
        val sid = idx.toLong * 4 + o
        synth += ((sid, sh))
        mapping += ((sid, qId))
      }
    }
    val raw = HammingIndex.topK(spark, path, synth.toArray, k, What)
      .withColumnRenamed("q_id", "sq_id")
    val best = raw
      .join(broadcast(mapping.toSeq.toDF("sq_id", "q_id")), Seq("sq_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(min(col("hamming")).as("hamming"))
    graft.ops.GroupedTopK(spark,
        best.select(col("q_id"), col("doc_id"),
          (-col("hamming")).cast("double").as("score")),
        "q_id", "score", "doc_id", k)
      .select(col("q_id").cast("long").as("q_id"), col("doc_id"),
        (-col("score")).cast("int").as("hamming"))
  }
}
