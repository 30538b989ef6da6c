package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Compact AUDIO fingerprints — the constellation/landmark-hash
  * family (peak-pair hashing over the short-time spectrum, the classic
  * broadcast-monitoring design) built on [[AudioDsp]]'s existing
  * decode + FFT machinery, feeding the durable-store dedup family the
  * way dHash does for images.
  *
  * Per document: mono PCM -> Hann/FFT frames -> per-frame spectral
  * PEAKS (local maxima above the frame mean — peak POSITIONS survive
  * volume changes, re-mastering and mild noise where raw spectra do
  * not) -> each anchor peak pairs with the next `fanout` peaks within
  * `windowFrames` frames -> hash = (anchorBin, targetBin, dt) packed
  * into one long. A document's fingerprint is its distinct hash SET;
  * two documents match when they share >= `minShared` hashes — an
  * amplitude-scaled or re-mastered copy shares nearly all of them, and
  * unrelated audio shares none (bin collisions die on the shared-count
  * threshold).
  *
  * Scale shape: fingerprints are one mapPartitions scan (no shuffle);
  * pair search groups by fp — map-side combinable, bucket-capped
  * (degenerate hub hashes drop, the SimHash/chunk discipline), never
  * all-pairs. The incremental store probes ONE unshuffled scan of
  * `fps/` with the batch's hash set broadcast.
  *
  * Correctness posture: FFT peak positions are deterministic on a fixed
  * JVM but `sin()`/float ULP drift makes a cross-engine DuckDB oracle
  * UNSAFE (the BPE precedent) — so the hash family is pinned by a
  * frozen-golden spec, and the `ext_audio_dedup_pairs` gate is oracled
  * on PLANTED truth instead: scaled copies must pair, distinct tone
  * sequences must not.
  */
object AudioFingerprint {

  final case class Params(
      frameSize: Int = 512,
      hop: Int = 256,
      peaksPerFrame: Int = 3,
      fanout: Int = 3,
      windowFrames: Int = 16,
      minShared: Int = 8,
      maxBucket: Int = 2000)

  /** Landmark hashes of one decoded signal: per-frame peak bins, then
    * anchor->target pairs packed as (b1 << 26) | (b2 << 10) | dt
    * (bins < 2^16 for any frameSize <= 65536 samples... bins here are
    * < frameSize/2+1, dt < 2^10). Deterministic; empty for signals
    * shorter than one frame.
    */
  private[graft] def landmarks(
      x: Array[Double], p: Params): Array[Long] = {
    val nFrames =
      if (x.length < p.frameSize) 0 else (x.length - p.frameSize) / p.hop + 1
    if (nFrames == 0) return Array.empty
    val nBins = p.frameSize / 2 + 1
    val window = AudioDsp.hann(p.frameSize)
    val re = new Array[Double](p.frameSize)
    val im = new Array[Double](p.frameSize)
    // per-frame top-P local-max bins (descending power, then bin asc)
    val framePeaks = new Array[Array[Int]](nFrames)
    var f = 0
    while (f < nFrames) {
      val off = f * p.hop
      var k = 0
      while (k < p.frameSize) {
        re(k) = x(off + k) * window(k); im(k) = 0.0; k += 1
      }
      AudioDsp.fft(re, im)
      val power = new Array[Double](nBins)
      var mean = 0.0
      k = 0
      while (k < nBins) {
        power(k) = re(k) * re(k) + im(k) * im(k)
        mean += power(k); k += 1
      }
      mean /= nBins
      // local maxima above the frame mean, strongest first
      val cand = (1 until nBins - 1).filter { b =>
        power(b) > mean && power(b) > power(b - 1) && power(b) >= power(b + 1)
      }
      framePeaks(f) = cand.sortBy(b => (-power(b), b))
        .take(p.peaksPerFrame).sorted.toArray
      f += 1
    }
    // anchor -> target pairing within the forward window
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    f = 0
    while (f < nFrames) {
      for (b1 <- framePeaks(f)) {
        var taken = 0
        var df = 1
        while (df <= p.windowFrames && f + df < nFrames && taken < p.fanout) {
          for (b2 <- framePeaks(f + df) if taken < p.fanout) {
            out += (b1.toLong << 26) | (b2.toLong << 10) | df.toLong
            taken += 1
          }
          df += 1
        }
      }
      f += 1
    }
    out.distinct.toArray
  }

  /** The distributed fingerprint operator: media rows (doc_id, media,
    * ...) in, (doc_id, fp) rows out — one partition-parallel scan, no
    * shuffle. Non-WAV/undecodable payloads yield no rows (they can
    * never audio-match anything; the decode census counts them).
    */
  def fingerprints(
      spark: SparkSession,
      media: DataFrame,
      params: Params = Params()): DataFrame = {
    require((params.frameSize & (params.frameSize - 1)) == 0,
      s"frameSize must be a power of two, got ${params.frameSize}")
    import spark.implicits._
    val p = params
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          AudioDsp.monoSamples(bytes) match {
            case Some((x, _)) => landmarks(x, p).iterator.map(fp => (id, fp))
            case None         => Iterator.empty
          }
        }
      }
      .toDF("doc_id", "fp")
  }

  /** One-shot near-duplicate audio pairs: documents sharing >=
    * `minShared` landmark hashes — (id_a, id_b, shared), id_a < id_b.
    * GroupBy-fp blocking (map-side combinable), hub hashes past
    * `maxBucket` drop as degenerate (a hash shared by thousands of
    * documents identifies nothing).
    */
  /** Per-stream WILD-MP3 coverage table ([[Mp3.frameCoverage]]):
    * (doc_id, frames_total, frames_decodable, decodable_fraction,
    * round 6). The data-card companion to the decode census: the
    * census says which REGIME each file landed in; this measures,
    * inside the MP3 regime, what fraction of FRAMES the embedded
    * Huffman subset actually covers — so the subset's real-world
    * coverage is a reported number, never an assumption. Rows whose
    * payload walks no MPEG frame contribute nothing. One mapPartitions
    * pass, side-info arithmetic only (no Huffman decode).
    */
  def mp3Coverage(s: SparkSession, media: DataFrame): DataFrame = {
    import s.implicits._
    media.select("doc_id", "media").as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        Mp3.frameCoverage(b).map { case (total, dec) => (id, total, dec) }
      }
      .toDF("doc_id", "frames_total", "frames_decodable")
      .withColumn("decodable_fraction",
        round(col("frames_decodable").cast("double") / col("frames_total"), 6))
  }

  def audioNearDups(
      spark: SparkSession,
      media: DataFrame,
      params: Params = Params()): DataFrame =
    sharedCounts(fingerprints(spark, media, params), params)
      .filter(col("shared") >= params.minShared)
      .select("id_a", "id_b", "shared")

  /** Query-by-example audio search: for each probe recording, the k
    * corpus documents sharing the most landmark hashes — the
    * `imageTopK` shape with shared-count in place of Hamming. Probe
    * fingerprints BROADCAST along one unshuffled corpus fingerprint
    * scan (probes are a bounded serving-side set; the corpus is never
    * shuffled), matches count per (probe, doc), bounded per-partition
    * top-k heaps. Ties break to the lower doc_id. Returns
    * (q_id, doc_id, shared) — documents sharing fewer than `minShared`
    * hashes with a probe never rank (they are noise, not matches).
    */
  def audioTopK(
      spark: SparkSession,
      media: DataFrame,
      probes: DataFrame,
      k: Int,
      params: Params = Params()): DataFrame =
    topKOverFps(spark, fingerprints(spark, media, params),
      probes, k, params)

  /** [[audioTopK]] against the DURABLE fingerprint store: the corpus
    * side is the store's live fingerprints (tombstoned owners never
    * surface — a taken-down recording is unfindable immediately).
    */
  def audioTopKStore(
      spark: SparkSession,
      storePath: String,
      probes: DataFrame,
      k: Int,
      params: Params = Params()): DataFrame =
    topKOverFps(spark, LandmarkStore.liveFps(spark, storePath), probes, k,
      params)

  private def topKOverFps(
      spark: SparkSession,
      corpusFps: DataFrame,
      probes: DataFrame,
      k: Int,
      params: Params): DataFrame = {
    require(k > 0, s"audioTopK: k must be positive, got $k")
    val qs = fingerprints(spark, probes, params)
      .select(col("doc_id").as("q_id"), col("fp"))
    val shared = corpusFps
      .join(broadcast(qs), Seq("fp"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= params.minShared)
    graft.ops.GroupedTopK(spark,
        shared.select(col("q_id"), col("doc_id"),
          col("shared").cast("double").as("score")),
        "q_id", "score", "doc_id", k)
      .select(col("q_id").cast("long").as("q_id"), col("doc_id"),
        col("score").cast("long").as("shared"))
  }

  private def sharedCounts(fps: DataFrame, p: Params): DataFrame =
    LandmarkStore.sharedCounts(fps, p.maxBucket)

  // ------------------------------------------------ durable store form

  /** Incremental audio dedup against a durable fingerprint store — the
    * [[LandmarkStore]] machinery (shared verbatim with the animation
    * family) over the spectral-peak landmark frame:
    *
    *   store/fps/       (doc_id, fp) — landmark hashes per document
    *   store/forgotten/ (doc_id)     — takedown tombstones
    *
    * Ingest returns the >= minShared pairs the batch introduces
    * (new-vs-stored and new-vs-new), then registers the batch's
    * fingerprints. Batch hash set broadcasts against ONE unshuffled
    * store scan; a re-ingested doc_id neither self-pairs nor
    * double-registers (keyed appendAbsent); combined batch+store hub
    * cap (incremental == one-shot at the hub boundary). Takedown and
    * compaction are `LandmarkStore.forget` and `.compactStore`.
    */
  def ingest(
      spark: SparkSession,
      media: DataFrame,
      storePath: String,
      params: Params = Params()): DataFrame =
    LandmarkStore.ingest(spark, fingerprints(spark, media, params),
      storePath, params.minShared, params.maxBucket)

  /** Deterministic tone-sequence WAV (concatenated fixed-frequency
    * segments) — the fixture generator for the audio-dedup gates: a
    * sequence of distinct tones produces landmark pairs across segment
    * boundaries (a single sine would collapse to one bin), while
    * staying restatable from (doc_id-derived) parameters.
    */
  /** The FLAC twin of [[tonesWav]]: the SAME quantized samples in a
    * real FLAC stream (fixed-prediction + Rice via [[Flac.encode]]),
    * so a lossless master and its WAV rip are byte-incompatible files
    * with bit-identical decoded signals — the cross-container dup
    * class the planted gates pin.
    */
  def tonesFlac(
      sampleRate: Int,
      tones: Seq[(Double, Int)],
      amplitude: Double = 0.5,
      bits: Int = 16): Array[Byte] = {
    val scale = ((1 << (bits - 1)) - 1).toDouble
    val q = tones.flatMap { case (freq, len) =>
      (0 until len).map(i => math.round(
        amplitude * math.sin(2.0 * math.Pi * freq * i / sampleRate)
          * scale).toInt)
    }.toArray
    Flac.encode(q, sampleRate, bits = bits)
  }

  /** The MP3 twin of [[tonesWav]]: the SAME quantized samples through
    * the real Layer III fixture encoder ([[Mp3.encode]]) — here the
    * re-encode is LOSSY, so the decoded signal is not bit-identical to
    * the master; the landmark regime pairs them anyway because the
    * spectral PEAKS survive the codec's quantization (the planted
    * cross-codec dup class the mp3 gate pins). `sampleRate` must be an
    * MPEG-1 rate (32000/44100/48000).
    */
  def tonesMp3(
      sampleRate: Int,
      tones: Seq[(Double, Int)],
      amplitude: Double = 0.5): Array[Byte] = {
    val pcm = tones.flatMap { case (freq, len) =>
      (0 until len).map(i => math.round(
        amplitude * math.sin(2.0 * math.Pi * freq * i / sampleRate)
          * 32767.0) / 32768.0)
    }.toArray
    Mp3.encode(pcm, sampleRate)
  }

  /** The Ogg-Vorbis twin of [[tonesMp3]]: the SAME quantized samples
    * through the real from-spec fixture encoder ([[Vorbis.encode]]) —
    * lossy like MP3, but with NO embedded-table boundary (Vorbis
    * codebooks are in-band), so the pairing claim extends to wild
    * streams. Any sample rate works (Vorbis is rate-agnostic).
    * `floor0` routes the stream through the legacy LSP floor (the
    * pre-2002 encoder vintage) instead of floor1.
    */
  def tonesVorbis(
      sampleRate: Int,
      tones: Seq[(Double, Int)],
      amplitude: Double = 0.5,
      floor0: Boolean = false): Array[Byte] = {
    val pcm = tones.flatMap { case (freq, len) =>
      (0 until len).map(i => math.round(
        amplitude * math.sin(2.0 * math.Pi * freq * i / sampleRate)
          * 32767.0) / 32768.0)
    }.toArray
    Vorbis.encode(pcm, sampleRate, floor0 = floor0)
  }

  def tonesWav(
      sampleRate: Int,
      tones: Seq[(Double, Int)], // (freqHz, nSamples)
      amplitude: Double = 0.5): Array[Byte] = {
    val n = tones.map(_._2).sum
    val dataLen = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    tones.foreach { case (freq, len) =>
      var i = 0
      while (i < len) {
        val v = amplitude * math.sin(2.0 * math.Pi * freq * i / sampleRate)
        out.putShort(math.round(v * 32767.0).toShort)
        i += 1
      }
    }
    out.array()
  }
}
