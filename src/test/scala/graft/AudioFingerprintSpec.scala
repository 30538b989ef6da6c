package graft

import org.apache.spark.sql.functions._
import graft.ext.{AudioFingerprint, LandmarkStore}

/** Landmark audio fingerprints: the frozen-golden pin on the hash
  * family (cross-engine `sin()` ULP drift makes a DuckDB oracle unsafe
  * — the BPE/simhash golden discipline applies) plus the operator
  * properties: amplitude invariance (a re-mastered copy dedups),
  * discrimination (distinct tone sequences never pair), and the
  * durable-store contract (multi-ingest == one-shot, idempotent
  * replay, forget/readmit).
  */
class AudioFingerprintSpec extends SparkSpec {
  import spark.implicits._

  private val Sr = 8000
  // tones are globally UNIQUE per (seed, position) and spaced wider
  // than one FFT bin (25 Hz > 8000/512), so distinct recordings share
  // no spectral peaks by construction — discrimination failures then
  // mean the OPERATOR drifted, not the fixture collided
  private def seqOf(seed: Int): Seq[(Double, Int)] =
    (0 until 6).map(i => (300.0 + (seed * 6 + i) * 25.0, 1024))
  private def wav(seed: Int, amplitude: Double = 0.5): Array[Byte] =
    AudioFingerprint.tonesWav(Sr, seqOf(seed), amplitude)

  private def fpSet(bytes: Array[Byte]): Set[Long] =
    AudioFingerprint.fingerprints(spark,
      Seq((1L, bytes)).toDF("doc_id", "media"))
      .select("fp").as[Long].collect().toSet

  test("frozen golden: the landmark family is pinned on a fixed tone sequence") {
    val fps = fpSet(wav(1))
    // FROZEN on 2026-08-14 (first green run of the family): any change
    // to the windowing, FFT, peak pick, or pairing arithmetic moves
    // these and must be a deliberate, re-frozen decision.
    assert(fps.nonEmpty, "fixture produced no landmarks")
    val sorted = fps.toSeq.sorted
    val digest = (fps.size, sorted.head, sorted.last,
      fps.foldLeft(0L)(_ ^ _))
    assert(digest == GoldenDigest, s"landmark family drifted: $digest")
  }
  private val GoldenDigest = (54, 1879078913L, 2550174723L, 469825539L)

  test("amplitude-scaled and slightly attenuated copies share the fingerprint") {
    val a = fpSet(wav(2, amplitude = 0.5))
    val b = fpSet(wav(2, amplitude = 0.2)) // re-mastered quieter copy
    assert(a == b, s"peak POSITIONS must survive amplitude scaling: " +
      s"only-a=${(a -- b).size} only-b=${(b -- a).size}")
    val c = fpSet(wav(3))
    assert((a & c).size < AudioFingerprint.Params().minShared,
      s"distinct tone sequences share ${(a & c).size} landmarks")
  }

  test("a 24-bit / float MASTER fingerprints as the same recording as its 16-bit rip") {
    // the same tone sequence delivered three ways a crawl actually sees
    // it: the 16-bit web rip (tonesWav), a 24-bit studio master, a
    // 32-bit-float DAW export — byte-incompatible files, sample values
    // within quantization of each other, so the spectral peaks (and
    // therefore the landmark hashes) must agree
    def samples(seed: Int): Array[Double] =
      seqOf(seed).flatMap { case (freq, len) =>
        (0 until len).map(i =>
          0.5 * math.sin(2.0 * math.Pi * freq * i / Sr))
      }.toArray
    val rip = fpSet(wav(4))
    val master24 = fpSet(graft.ext.AudioDsp.pcmWav(samples(4), Sr, bits = 24))
    val masterF32 = fpSet(graft.ext.AudioDsp.pcmWav(samples(4), Sr,
      bits = 32, float = true))
    assert(rip == master24,
      s"24-bit master drifted: only-rip=${(rip -- master24).size} " +
        s"only-master=${(master24 -- rip).size}")
    assert(rip == masterF32,
      s"float master drifted: only-rip=${(rip -- masterF32).size} " +
        s"only-master=${(masterF32 -- rip).size}")
    val other = fpSet(wav(6))
    assert((rip & other).size < AudioFingerprint.Params().minShared,
      "distinct recordings must stay distinct across widths")

    // the lossless CONTAINER case: a FLAC master decodes to the
    // bit-identical signal (not merely within quantization), so its
    // fingerprint set is exactly the rip's
    val flacMaster = fpSet(AudioFingerprint.tonesFlac(Sr, seqOf(4)))
    assert(rip == flacMaster,
      s"FLAC master drifted: only-rip=${(rip -- flacMaster).size} " +
        s"only-flac=${(flacMaster -- rip).size}")
    // ...and the STUDIO-width master: a 24-bit FLAC encode of the same
    // recording (the widened encoder end) fingerprints as the same
    // recording as its 16-bit rip — the gate the 16-bit-only fixture
    // encoder could not run end-to-end before
    val flac24 = fpSet(AudioFingerprint.tonesFlac(Sr, seqOf(4), bits = 24))
    assert(rip == flac24,
      s"24-bit FLAC master drifted: only-rip=${(rip -- flac24).size} " +
        s"only-flac=${(flac24 -- rip).size}")

    // the LOSSY-compressed copy: an IMA-ADPCM re-encode of the same
    // recording (a telephony/game-audio rip) keeps its spectral peaks,
    // so it still PAIRS with the original — shared landmarks at or
    // above the dedup threshold, though not necessarily the full set
    val sig4 = seqOf(4).flatMap { case (freq, len) =>
      (0 until len).map(i => 0.5 * math.sin(2.0 * math.Pi * freq * i / Sr))
    }.toArray
    val adpcm = fpSet(graft.ext.AudioDsp.imaAdpcmWav(Seq(sig4), Sr))
    assert((rip & adpcm).size >= AudioFingerprint.Params().minShared,
      s"ADPCM rip must still pair: shared=${(rip & adpcm).size}")
    assert((adpcm & fpSet(wav(6))).size < AudioFingerprint.Params().minShared,
      "ADPCM rip must not pair with a distinct recording")
  }

  test("audioNearDups: planted scaled copy pairs, distinct audio does not") {
    val media = Seq(
      (1L, wav(10, 0.5)), (2L, wav(10, 0.25)), // copies of one recording
      (3L, wav(11)), (4L, wav(12)),            // distinct recordings
      (5L, "not audio".getBytes("UTF-8")))     // undecodable: no rows
      .toDF("doc_id", "media")
    val pairs = AudioFingerprint.audioNearDups(spark, media)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
  }

  test("hub cap: ingest caps on the COMBINED batch+store bucket, like the one-shot") {
    // four scaled copies of ONE recording share every landmark, so each
    // hash's bucket is exactly the copy count — a controllable hub
    val store = tmpDir("audiohub") + "/s"
    val b1 = Seq((1L, wav(30, 0.5)), (2L, wav(30, 0.4))).toDF("doc_id", "media")
    val b2 = Seq((3L, wav(30, 0.3)), (4L, wav(30, 0.25))).toDF("doc_id", "media")
    val p3 = AudioFingerprint.Params(maxBucket = 3)
    val p1 = AudioFingerprint.ingest(spark, b1, store, p3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((1L, 2L)), s"$p1")
    // second ingest: every landmark is carried by 4 documents COMBINED
    // (2 stored + 2 in batch) > maxBucket -> degenerate hub -> no pairs
    // from the cross join OR the in-batch expansion (capping only the
    // batch side would let the cross side fan out 4 pairs here)
    val p2 = AudioFingerprint.ingest(spark, b2, store, p3).collect()
    assert(p2.isEmpty, s"hub pairs leaked past the combined cap: ${p2.toSeq}")
    // the one-shot operator agrees at the cap boundary
    val all = Seq((1L, wav(30, 0.5)), (2L, wav(30, 0.4)),
      (3L, wav(30, 0.3)), (4L, wav(30, 0.25))).toDF("doc_id", "media")
    assert(AudioFingerprint.audioNearDups(spark, all, p3).collect().isEmpty)
    // one notch up (maxBucket = 4) the same second ingest reports the
    // full cross + in-batch pair set — the cap is the only gate
    val store2 = tmpDir("audiohub2") + "/s"
    val p4 = AudioFingerprint.Params(maxBucket = 4)
    AudioFingerprint.ingest(spark, b1, store2, p4)
    val q2 = AudioFingerprint.ingest(spark, b2, store2, p4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q2 == Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)), s"$q2")
  }

  test("incremental store: cross-batch == one-shot, replay idempotent, forget readmits") {
    val store = tmpDir("audiostore") + "/s"
    val b1 = Seq((1L, wav(20, 0.5)), (2L, wav(21))).toDF("doc_id", "media")
    val b2 = Seq((3L, wav(20, 0.3)), (4L, wav(22))).toDF("doc_id", "media")
    val p1 = AudioFingerprint.ingest(spark, b1, store).collect()
    assert(p1.isEmpty, s"first batch has no dups: ${p1.toSeq}")
    val p2 = AudioFingerprint.ingest(spark, b2, store)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p2.toSeq == Seq((1L, 3L)),
      s"re-mastered copy must pair cross-batch: ${p2.toSeq}")
    // replay of batch 2: the stored copy of id 3 must not self-pair,
    // and registration is idempotent (keyed appendAbsent)
    val replay = AudioFingerprint.ingest(spark, b2, store)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(replay.toSeq == Seq((1L, 3L)), s"replay drifted: ${replay.toSeq}")
    val storedRows = spark.read.parquet(s"$store/fps")
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedRows.keySet == Set(1L, 2L, 3L, 4L), s"$storedRows")

    // forget both copies of the recording: a fresh copy readmits
    LandmarkStore.forget(spark, store, Seq(1L, 3L).toDF("doc_id"))
    val p3 = AudioFingerprint.ingest(spark,
      Seq((9L, wav(20, 0.4))).toDF("doc_id", "media"), store).collect()
    assert(p3.isEmpty, s"forgotten audio still blocks: ${p3.toSeq}")
    // compaction physically erases the forgotten owners
    LandmarkStore.compactStore(spark, store)
    val left = spark.read.parquet(s"$store/fps")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(left == Set(2L, 4L, 9L), s"tombstones not folded: $left")
  }

  test("audioTopK: a re-mastered probe finds its recording; takedown hides it") {
    val corpus = (0 until 8).map(s => (s.toLong, wav(s, 0.5)))
      .toDF("doc_id", "media")
    val probes = Seq((500L, wav(3, 0.2)), (501L, wav(6, 0.3)),
      (502L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val got = AudioFingerprint.audioTopK(spark, corpus, probes, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // unique tones: each probe matches EXACTLY its source (minShared
    // floors out everything else), the undecodable probe matches nothing
    assert(got == Set((500L, 3L), (501L, 6L)), s"got $got")

    // store-backed search: same result, and a taken-down recording is
    // unfindable immediately (the compliance property of the store form)
    val store = tmpDir("audiosearch") + "/s"
    AudioFingerprint.ingest(spark, corpus, store)
    val viaStore = AudioFingerprint.audioTopKStore(spark, store, probes, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStore == got, s"store-backed search diverged: $viaStore")
    LandmarkStore.forget(spark, store, Seq(3L).toDF("doc_id"))
    val after = AudioFingerprint.audioTopKStore(spark, store, probes, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((501L, 6L)), s"taken-down doc still found: $after")
  }
}
