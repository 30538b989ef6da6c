package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [EXT] Incremental ANIMATION dedup against a durable frame-landmark
  * store — the [[AudioFingerprint]] store discipline (shared verbatim
  * through [[LandmarkStore]]) over the cross-container animation
  * surface ([[Multimodal.AnimSurface]]): every ingested media batch's
  * GIF/APNG/animated-WebP payloads emit their composited-canvas frame
  * hashes as landmarks, and a batch animation pairs with a STORED one
  * when they share >= `minSharedFrames` frames.
  *
  * Why it exists: the image-dedup stage keys an animation by its FIRST
  * frame's pixel hash, so a re-crawled CUT (intro frame dropped or
  * prepended — the most common sticker/meme edit) never pairs at batch
  * cadence, and neither does a cross-container re-encode whose first
  * frame survives but moved. Frame landmarks pair both, across crawls,
  * for the cost of one landmark probe per batch — and because the
  * landmark model is container-blind, a GIF stored last month pairs
  * with this week's APNG or WebP re-encode of the same animation.
  *
  * Store layout and semantics are [[LandmarkStore]]'s: `fps/` +
  * `forgotten/`, one unshuffled store scan per ingest with the batch's
  * hashes broadcast, combined batch+store hub cap (incremental ==
  * one-shot [[Multimodal.animDups]] at the cap boundary), re-ingest
  * replay-safe, pairs materialized before the store mutates, takedown
  * tombstones (`LandmarkStore.forget`) with physical erasure at
  * `LandmarkStore.compactStore`.
  */
object AnimDedup {

  /** Ingest a `(doc_id, media)` batch: returns the shared >=
    * `minSharedFrames` animation pairs the batch introduces
    * (new-vs-stored and new-vs-new) as (id_a, id_b, shared), id_a <
    * id_b, then registers the batch's landmarks. Non-animation
    * payloads emit no landmarks — they neither probe nor register.
    */
  def ingest(
      spark: SparkSession,
      media: DataFrame,
      storePath: String,
      minSharedFrames: Int = 2,
      maxBucket: Int = 2000,
      maxHashFrames: Int = 64): DataFrame =
    LandmarkStore.ingest(spark,
      Multimodal.animLandmarks(spark, media, maxHashFrames),
      storePath, minSharedFrames, maxBucket)
}
