package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.StoreRead

/** [EXT] Persisted AUDIO-fingerprint posting index: the landmark-hash
  * store as an inverted `(fp -> doc_id)` layout, on the [[HammingIndex]]
  * lifecycle (its writer, build_meta, append tail, compaction,
  * takedown tombstones and stage-aside swap). Landmark hashes are EXACT-match
  * keys (a match shares the literal 64-bit hash, not a Hamming ball),
  * which makes this strictly simpler than the Hamming case: no chunk
  * arithmetic, no bound restriction — one fp-sorted posting table whose
  * row groups each cover a narrow hash band.
  *
  * Why it exists: [[AudioFingerprint.audioTopK]]/`audioTopKStore` are
  * full-scan forms — every query-by-example probe broadcast-scans ALL
  * stored fingerprints. Right at crawl cadence (batch-vs-corpus), wrong
  * at serving cadence: a takedown sweep or match-attribution lookup
  * pays O(corpus) per probe. Here a probe reads only the row groups
  * whose fp band intersects its own landmark set — a probe carries a
  * few hundred hashes scattered over a 2^35 key space, so the slice
  * read shrinks as the corpus grows (the pruning unit is the row
  * group, whose count grows with the corpus while the probe's stays
  * fixed).
  *
  * Layout:
  *
  *   path/postings/   (fp, doc_id) — one posting per distinct
  *     (document, landmark); range-partitioned AND sorted by fp with an
  *     explicit `files` fan-out, so every file and row group carries a
  *     narrow min/max fp band and a probe's pushed `fp IN (...)`
  *     predicate prunes at row-group granularity
  *   path/build_meta  "fpparams <frameSize> <hop> <peaksPerFrame>
  *     <fanout> <windowFrames>\nrows N\nfiles F" — the FINGERPRINT
  *     parameters are part of the artifact (the bloom_mh<H> / sig_regime
  *     discipline): stored hashes and probe hashes must come from the
  *     same landmark arithmetic or recall is silently lost, so [[topK]]
  *     and [[append]] fingerprint with the artifact's parameters, read
  *     from the artifact — a mismatch is impossible, not checked-for
  *   path/forgotten/  (doc_id) — takedown tombstones: probes mask
  *     immediately, [[append]] readmits explicitly re-given ids,
  *     [[build]] clears the set wholesale
  *
  * Pushdown mechanics, measured not assumed (AudioIndexSpec holds probe
  * bytes-read under the full scan via task `inputMetrics.bytesRead`):
  * Spark's parquet reader pushes an `In` predicate natively only up to
  * `spark.sql.parquet.pushdown.inFilterThreshold` values and degrades
  * to a [min,max] RANGE above it — useless for landmark sets that
  * span the key space. [[topK]] therefore raises the threshold to the
  * probe's own fp count for the duration of its (materialized) probe
  * job and restores it after; the result is a handful of rows per
  * probe, so materializing inside the call is free.
  *
  * Result contract: [[topK]] EQUALS [[AudioFingerprint.audioTopKStore]]
  * over the same live corpus — exact keys, exact shared counts, same
  * `minShared` floor, same tie-break (the `ext_audio_search_indexed`
  * gate holds the planted-truth identity; AudioIndexSpec holds the
  * form-equality directly).
  */
object AudioIndex {

  private val What = "audio index"

  /** fp-sorted, unpartitioned postings; `fpparams` pins the landmark
    * arithmetic, `files` the fan-out.
    */
  private val Fp = HammingIndex.Layout(Seq("fp", "doc_id"), Seq("fp"), Nil,
    "fpparams", "files", 32, _ => 1)

  /** Distinct (fp, doc_id) postings of a media frame under `p` —
    * non-audio/undecodable payloads contribute nothing (they can never
    * audio-match; the decode census counts them).
    */
  private def postingsOf(spark: SparkSession, media: DataFrame,
      p: AudioFingerprint.Params): DataFrame =
    AudioFingerprint.fingerprints(spark, media, p)
      .dropDuplicates("doc_id", "fp")
      .select(col("fp"), col("doc_id"))

  /** Fingerprint `media` and persist the posting layout at `path`.
    * `files` is the explicit fan-out — pruning granularity IS the
    * file/row-group count (the [[HammingIndex.build]] argument: a
    * single range partition would carry min=everything stats and prune
    * nothing on a small build; huge builds additionally split into
    * 128 MB row groups inside each file).
    */
  def build(spark: SparkSession, media: DataFrame, path: String,
      params: AudioFingerprint.Params = AudioFingerprint.Params(),
      files: Int = 32): Unit =
    HammingIndex.write(postingsOf(spark, media, params), path, Fp,
      s"${params.frameSize} ${params.hop} ${params.peaksPerFrame} " +
        s"${params.fanout} ${params.windowFrames}",
      files, What, mayBeAbsent = true)

  /** True when a built artifact exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    HammingIndex.exists(spark, path)

  private def paramsIn(meta: HammingIndex.Meta,
      path: String): AudioFingerprint.Params = {
    val fp = meta.param.split(" ").map(_.toInt)
    require(fp.length == 5, s"$What at $path: malformed fpparams")
    AudioFingerprint.Params(frameSize = fp(0), hop = fp(1),
      peaksPerFrame = fp(2), fanout = fp(3), windowFrames = fp(4))
  }

  /** The fingerprint parameters the artifact was built with. */
  def paramsOf(spark: SparkSession, path: String): AudioFingerprint.Params =
    paramsIn(HammingIndex.metaOf(spark, path, Fp, What), path)

  /** Takedown: forgotten doc_ids stop ranking in [[topK]] IMMEDIATELY;
    * an explicit re-ingest via [[append]] readmits; [[build]] clears
    * the tombstones with the layout — the index sits under the same
    * erasure surface as the stores.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    HammingIndex.forget(spark, path, ids, What)

  type AppendResult = HammingIndex.AppendResult

  /** Incrementally grow the index with a batch of new recordings —
    * fingerprinted with the ARTIFACT's parameters. Already-indexed
    * doc_ids skip (id anti-join along one column-pruned scan of the
    * postings' doc_id pages — exact keys have no cheap single-chunk id
    * carrier the way the Hamming layout does); fresh rows append as
    * their own fp-sorted files. Appends degrade pruning gradually, not
    * correctness; `staleness` (appended rows / build-time rows) tells
    * the caller when to re-run [[build]] or [[compact]] and restore the
    * packed layout.
    */
  def append(spark: SparkSession, media: DataFrame, path: String,
      rebuildThreshold: Double = 0.5): AppendResult = {
    val meta = HammingIndex.metaOf(spark, path, Fp, What)
    val existingIds =
      StoreRead.parquet(spark, s"$path/postings").select("doc_id").distinct()
    val batch = postingsOf(spark, media, paramsIn(meta, path))
      .localCheckpoint(false) // id set, fresh rows, readmit all read it
    val fresh = batch.join(existingIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(false) // counted AND written
    val freshCount = fresh.count()
    val input = batch.count()
    if (freshCount > 0)
      HammingIndex.writeSorted(fresh, s"$path/postings", Fp,
        math.max(1, (freshCount / 4000000L).toInt + 1), "append")
    HammingIndex.appended(spark, path, batch.select("doc_id").distinct(),
      freshCount, input, meta, rebuildThreshold, What)
  }

  /** Re-pack the posting layout from the artifact alone — see
    * [[HammingIndex.compact]]: appended files merge back into `files`
    * fp-sorted range slices (restoring row-group pruning), tombstoned
    * owners erase PHYSICALLY, the tombstone set clears with the swap,
    * and append staleness restarts at 0. No media re-fingerprinting.
    * The default (0) re-packs at the fan-out the index was BUILT at.
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
      files: Int = 0): (Int, Int) =
    HammingIndex.compact(spark, path, Fp, files, What)

  /** Query-by-example audio search against the persisted index: for
    * each probe recording, the k stored documents sharing the most
    * landmark hashes — EQUAL to [[AudioFingerprint.audioTopKStore]]
    * over the same live corpus, reading only the posting row groups
    * the probe's own hashes select instead of the whole store. Probes
    * are a BOUNDED serving-side set (enforced on the collected
    * fingerprint rows). Ties break to the lower doc_id; documents
    * sharing fewer than `minShared` hashes never rank.
    */
  def topK(spark: SparkSession, path: String, probes: DataFrame, k: Int,
      minShared: Int = AudioFingerprint.Params().minShared,
      maxProbeFps: Int = 262144): DataFrame = {
    require(k > 0, s"$What: k must be positive, got $k")
    val params = paramsOf(spark, path)
    import spark.implicits._
    val qfps = AudioFingerprint.fingerprints(spark, probes, params)
      .select(col("doc_id").as("q_id"), col("fp"))
      .limit(maxProbeFps + 1)
      .as[(Long, Long)].collect()
    require(qfps.length <= maxProbeFps,
      s"$What: more than $maxProbeFps probe fingerprints — this is a " +
        "serving call; batch-vs-corpus jobs belong on " +
        "AudioFingerprint.ingest/audioNearDups")
    if (qfps.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("q_id", "doc_id", "shared")
    val fpVals = qfps.map(_._2).distinct.toSeq
    // the pushed-In window: above the threshold Spark degrades In to a
    // [min,max] range that cannot prune scattered landmark sets. The
    // threshold is PLANNING-time session state, so it is raised on a
    // CHILD session (same SparkContext, own conf) instead of mutating
    // the caller's — a concurrent query on the caller's session can
    // never observe the window or race a restore — and the tiny
    // serving result (<= k rows per probe) materializes before return.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
      math.max(fpVals.length, 10).toString)
    val probeDf = s2.createDataFrame(qfps.toSeq).toDF("q_id", "fp")
    val cand0 = StoreRead.parquet(s2, s"$path/postings")
      .filter(col("fp").isInCollection(fpVals))
      .join(broadcast(probeDf), Seq("fp"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val cand = HammingIndex.tombstones(s2, path).fold(cand0)(ts =>
      cand0.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    graft.ops.GroupedTopK(s2,
        cand.select(col("q_id"), col("doc_id"),
          col("shared").cast("double").as("score")),
        "q_id", "score", "doc_id", k)
      .select(col("q_id").cast("long").as("q_id"), col("doc_id"),
        col("score").cast("long").as("shared"))
      .localCheckpoint(true) // executed under the child session's window
  }
}
