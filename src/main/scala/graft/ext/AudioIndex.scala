package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Persisted AUDIO-fingerprint posting index — the
  * [[HammingIndex]] persistence discipline (sorted postings, explicit
  * fan-out, build_meta parameter pinning, append + staleness, takedown
  * tombstones, stage-aside swap) applied to the landmark-hash store as
  * an inverted `(fp -> doc_id)` layout. Landmark hashes are EXACT-match
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
  *     <fanout> <windowFrames>\nrows N" — the FINGERPRINT parameters
  *     are part of the artifact (the bloom_mh<H> / sig_regime
  *     discipline): stored hashes and probe hashes must come from the
  *     same landmark arithmetic or recall is silently lost, so [[topK]]
  *     and [[append]] fingerprint with the artifact's parameters, read
  *     from the artifact — a mismatch is impossible, not checked-for
  *   path/forgotten/  (doc_id) — takedown tombstones ([[HammingIndex]]
  *     machinery verbatim: probes mask immediately, [[append]] readmits
  *     explicitly re-given ids, [[build]] clears the set wholesale)
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
    writeArtifact(spark, path, postingsOf(spark, media, params), files,
      params, dstMayBeAbsent = true)

  /** The one writer both [[build]] and [[compact]] share: fp-sorted
    * range slices into a staging dir, build_meta (fingerprint params +
    * row baseline), stage-aside swap.
    */
  private def writeArtifact(spark: SparkSession, path: String,
      postings: DataFrame, files: Int, params: AudioFingerprint.Params,
      dstMayBeAbsent: Boolean): Unit = {
    require(files >= 1, s"$What: files $files")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.SwapUtil.replace(fs, target, What, dstMayBeAbsent) { staging =>
      // Pin the postings before the range shuffle: repartitionByRange's
      // bound-sampling job executes the child plan, and the write then
      // plans it AGAIN (r16 job log: two ~equal jobs for one build —
      // the upstream here is the full decode+DSP fingerprint pass, the
      // most expensive stage of the build). The lazy checkpoint
      // materializes that pass ONCE; sampling, write, and the build_meta
      // row count all read the cached frame. O(postings) footprint —
      // the same size class the shuffle itself buffers.
      val pinned = postings.select(col("fp"), col("doc_id"))
        .localCheckpoint(false)
      pinned
        .repartitionByRange(files, col("fp"))
        .sortWithinPartitions(col("fp"))
        .write.mode("overwrite").parquet(s"$staging/postings")
      val rows = pinned.count()
      graft.sinks.SwapUtil.writeSynced(fs, new Path(staging, "build_meta"),
        s"fpparams ${params.frameSize} ${params.hop} " +
          s"${params.peaksPerFrame} ${params.fanout} ${params.windowFrames}\n" +
          s"rows $rows\nfiles $files\n")
    }
  }

  /** True when a built artifact exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    HammingIndex.exists(spark, path)

  /** (fingerprint params, build-time posting rows, build-time file
    * fan-out) from build_meta — the fan-out is part of the artifact so
    * [[compact]] restores the layout the index was BUILT at rather
    * than a hard-coded default (pre-pinning artifacts read the
    * historical default, 32).
    */
  private def metaOf(spark: SparkSession,
      path: String): (AudioFingerprint.Params, Long, Int) = {
    val p = new Path(s"$path/build_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val fields = text.linesIterator.flatMap { l =>
      l.split(" ", 2) match {
        case Array(k, v) => Some(k -> v.trim)
        case _ => None
      }
    }.toMap
    val fp = fields.getOrElse("fpparams",
      sys.error(s"$What at $path: no fpparams in build_meta"))
      .split(" ").map(_.toInt)
    require(fp.length == 5, s"$What at $path: malformed fpparams")
    (AudioFingerprint.Params(frameSize = fp(0), hop = fp(1),
      peaksPerFrame = fp(2), fanout = fp(3), windowFrames = fp(4)),
      fields.get("rows").map(_.toLong).getOrElse(0L),
      fields.get("files").map(_.toInt).getOrElse(32))
  }

  /** The fingerprint parameters the artifact was built with. */
  def paramsOf(spark: SparkSession, path: String): AudioFingerprint.Params =
    metaOf(spark, path)._1

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
    * the caller when to re-run [[build]] and restore the packed layout.
    */
  def append(spark: SparkSession, media: DataFrame, path: String,
      rebuildThreshold: Double = 0.5): AppendResult = {
    require(exists(spark, path), s"no $What at $path — build first")
    val (params, atBuild, _) = metaOf(spark, path)
    val existingIds =
      graft.sinks.StoreRead.parquet(spark, s"$path/postings").select("doc_id").distinct()
    val batch = postingsOf(spark, media, params)
      .localCheckpoint(false) // id set, fresh rows, readmit all read it
    val fresh = batch.join(existingIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(false) // counted AND written
    val freshCount = fresh.count()
    val input = batch.count()
    if (freshCount > 0)
      fresh
        .repartitionByRange(
          math.max(1, (freshCount / 4000000L).toInt + 1), col("fp"))
        .sortWithinPartitions(col("fp"))
        .write.mode("append").parquet(s"$path/postings")
    HammingIndex.readmit(spark, path, batch.select("doc_id").distinct(), What)
    val total = graft.sinks.StoreRead.parquet(spark, s"$path/postings").count()
    val staleness =
      (total - atBuild).toDouble / math.max(atBuild, 1L).toDouble
    HammingIndex.AppendResult(freshCount, input - freshCount, total,
      staleness, staleness > rebuildThreshold)
  }

  /** Re-pack the posting layout from the artifact alone — the
    * [[HammingIndex.compact]] contract on the exact-key layout:
    * appended files merge back into `files` fp-sorted range slices
    * (restoring row-group pruning), tombstoned owners erase
    * PHYSICALLY, the tombstone set clears with the stage-aside swap,
    * and the build_meta row baseline resets (append staleness restarts
    * at 0). No media re-fingerprinting: the layout is a pure function
    * of the postings. The default (0) re-packs at the fan-out the
    * index was BUILT at, read from build_meta — a maintenance pass
    * never silently changes the pruning granularity. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
      files: Int = 0): (Int, Int) = {
    require(exists(spark, path), s"no $What at $path — build first")
    require(files >= 0, s"$What: files $files (0 = build-time fan-out)")
    val (params, _, builtFiles) = metaOf(spark, path)
    val fanout = if (files == 0) builtFiles else files
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = HammingIndex.partFileCount(fs, new Path(s"$path/postings"))
    val live = HammingIndex.tombstones(spark, path).foldLeft(
        graft.sinks.StoreRead.parquet(spark, s"$path/postings"))((p, ts) =>
      p.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    // fully-tombstoned: keep the mask, advise rebuild/delete — see
    // HammingIndex.compact (an empty artifact has no schema to probe)
    if (live.isEmpty) return (before, before)
    writeArtifact(spark, path, live, fanout, params, dstMayBeAbsent = false)
    (before, HammingIndex.partFileCount(fs, new Path(s"$path/postings")))
  }

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
    require(exists(spark, path), s"no $What at $path — build first")
    val (params, _, _) = metaOf(spark, path)
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
    val cand0 = graft.sinks.StoreRead.parquet(s2, s"$path/postings")
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
