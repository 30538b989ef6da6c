package graft

import org.apache.spark.sql.functions._
import graft.ext.{AnimDedup, LandmarkStore, Multimodal}

/** The durable animation-landmark store: incremental ingest must equal
  * the one-shot `animDups` over the union (the store sibling contract
  * every incremental family holds), pair cuts and CROSS-CONTAINER
  * re-encodes against stored animations, replay idempotently, and sit
  * under the takedown/compaction erasure surface.
  */
class AnimDedupSpec extends SparkSpec {
  import spark.implicits._

  private val W = 13
  private val H = 9
  private val Pal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
  // frame formulas globally unique per (anim, frame) — distinct
  // animations share no canvases by construction
  private def frame(k: Int, f: Int) = Array.tabulate(W * H)(p =>
    ((p * 31 + k * 7 + f * 53) % 251).toByte)
  private def gifFull(k: Int) = Multimodal.encodeGifAnim(W, H,
    (0 until 5).map(f => frame(k, f)), Pal, (0 until 5).map(f => 6 + f))
  private def apngCut(k: Int) = Multimodal.encodeApng(W, H, 0,
    (1 until 5).map(f =>
      Multimodal.ApngFrameSpec(frame(k, f), W, H, delayNum = 6 + f)))
  private def webpCut(k: Int) = Multimodal.encodeWebpAnim(W, H,
    (1 until 5).map(f => Multimodal.WebpFrameSpec(
      frame(k, f).map(v => 0xff000000 | ((v & 0xff) * 0x010101)),
      W, H, durationMs = 60 + f * 10)))

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("multi-ingest equals one-shot; cuts pair cross-batch and cross-container") {
    val store = tmpDir("animstore1") + "/store"
    val b1 = (0 until 4).map(k => (k.toLong, gifFull(k)))
      .toDF("doc_id", "media")
    // batch 2: an APNG cut of anim 0, a WebP cut of anim 2, a fresh
    // animation, and a non-animation payload (no landmarks)
    val b2 = Seq(
      (100L, apngCut(0)), (102L, webpCut(2)), (5L, gifFull(7)),
      (900L, Multimodal.encodePng(W, H, 0, frame(9, 0),
        (0 until H).map(_ => 0))))
      .toDF("doc_id", "media")
    val p1 = pairsOf(AnimDedup.ingest(spark, b1, store,
      minSharedFrames = 4))
    assert(p1.isEmpty, s"distinct animations must not pair: $p1")
    val p2 = pairsOf(AnimDedup.ingest(spark, b2, store,
      minSharedFrames = 4))
    assert(p2 == Set((0L, 100L, 4L), (2L, 102L, 4L)),
      s"cuts must pair against the STORE across containers: $p2")
    // incremental union == the one-shot operator over the union
    val oneShot = pairsOf(Multimodal.animDups(spark, b1.unionByName(b2),
      minSharedFrames = 4))
    assert(p1 ++ p2 == oneShot, s"${p1 ++ p2} vs $oneShot")
    // the non-animation payload registered nothing
    assert(spark.read.parquet(s"$store/fps")
      .filter(col("doc_id") === 900L).count() == 0)

    // replay: the family contract — ingest is a pure function of
    // (batch, store-before): the SAME pairs come back (no self-pairs,
    // no drift) and registration is idempotent (keyed appendAbsent)
    val before = spark.read.parquet(s"$store/fps").count()
    assert(pairsOf(AnimDedup.ingest(spark, b2, store,
      minSharedFrames = 4)) == p2, "replay drifted")
    assert(spark.read.parquet(s"$store/fps").count() == before,
      "replay must not grow the store")
  }

  test("takedown: forgotten animations stop pairing; compaction erases physically") {
    val store = tmpDir("animstore2") + "/store"
    AnimDedup.ingest(spark, (0 until 3).map(k => (k.toLong, gifFull(k)))
      .toDF("doc_id", "media"), store)
    LandmarkStore.forget(spark, store, Seq(1L).toDF("doc_id"))
    // a fresh full copy of the forgotten animation is admitted again
    // under its new id — and pairs with NOTHING (erased content must
    // not be remembered)
    val p = pairsOf(AnimDedup.ingest(spark,
      Seq((200L, gifFull(1))).toDF("doc_id", "media"), store))
    assert(p.isEmpty, s"forgotten landmarks must not pair: $p")
    val (fb, fa) = LandmarkStore.compactStore(spark, store)
    assert(fb >= fa, s"$fb -> $fa")
    assert(spark.read.parquet(s"$store/fps")
        .filter(col("doc_id") === 1L).count() == 0,
      "forgotten landmarks must be physically erased")
    // the re-admitted copy's landmarks live on: a later cut pairs it
    val p2 = pairsOf(AnimDedup.ingest(spark,
      Seq((300L, apngCut(1))).toDF("doc_id", "media"), store,
      minSharedFrames = 4))
    assert(p2 == Set((200L, 300L, 4L)), s"$p2")
  }
}
