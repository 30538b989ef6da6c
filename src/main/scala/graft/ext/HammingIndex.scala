package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Persisted Hamming-space posting layout over ANY 64-bit
  * signature column — the shared core behind [[ImageIndex]] (perceptual
  * dHash) and [[SimhashIndex]] (text SimHash). One artifact design, two
  * modalities: a one-time layout pass that lets bounded-distance search
  * read a PRUNED slice of the corpus instead of scanning it.
  *
  * Layout = multi-index pigeonhole postings (the blocking arithmetic of
  * `Dedup.hammingCandidates` / the incremental stores, made DURABLE and
  * SORTED):
  *
  *   path/postings/chunk=<c>/   (cval, doc_id, sh) — one posting per
  *     (signature, chunk); files within each chunk partition are
  *     range-partitioned AND sorted by cval, so every parquet row group
  *     covers a narrow cval band and a probe's `cval IN (...)` pushed
  *     filter prunes at row-group granularity, not just directory
  *     granularity
  *   path/build_meta            "maxhamming H\nrows N" — the blocking
  *     parameter is part of the artifact (a probe at a different bound
  *     would silently lose recall; reading it from the artifact makes
  *     that impossible)
  *
  * Space is the classic multi-index-hashing trade: (maxHamming+1) rows
  * per signature, ~20 bytes each. A probe touches only the row groups
  * whose cval band intersects the probe's chunk values: with
  * b = 64/(H+1) bits per chunk a random probe selects ~(H+1)/2^b of the
  * postings, so the pruning pays off exactly when the bound is tight
  * relative to 64 bits (b >= 8, i.e. H <= 7: ~3% of the corpus read per
  * probe; at H=15, b=4, it reads ~100% and the exhaustive scan is
  * honestly the better plan — [[build]] rejects those bounds loudly
  * rather than persisting an index that cannot prune).
  *
  * Correctness is pigeonhole-exact, not approximate: any signature
  * within `maxHamming` bits of a probe agrees with it on at least one
  * whole chunk, so the candidate union contains every true match; exact
  * Hamming verification on the carried `sh` then makes the result EQUAL
  * to the exhaustive top-k restricted to the bound (the
  * `ext_image_index_topk` gate holds that equality against the
  * brute-force DuckDB oracle for the image wrapper; the simhash wrapper
  * shares every line of this machinery and holds the same equality
  * in-engine — SimhashIndexSpec). Deliberately NOT an approximate
  * recall trade: a takedown/compliance search ("find every stored
  * near-copy") needs the guarantee.
  */
private[ext] object HammingIndex {

  /** Persist the posting layout for a `(doc_id, sh)` signature frame
    * (null signatures must already be filtered). One pass: explode the
    * maxHamming+1 chunks, range-sort by (chunk, cval), write
    * partitioned by chunk with an EXPLICIT fan-out — pruning
    * granularity IS the file/row-group count per chunk directory. A
    * range partition covering a whole chunk (what the conf default
    * degenerates to on a small build) has min=0/max=everything cval
    * stats and can prune nothing; `filesPerChunk` sorted range slices
    * give every file a narrow cval band (huge builds additionally
    * split into 128 MB row groups inside each file, so granularity
    * scales with the corpus either way).
    */
  def build(sig: DataFrame, path: String, maxHamming: Int,
      filesPerChunk: Int, what: String, exhaustiveHint: String): Unit = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"$what: maxHamming must be 0..7 (>= 8 bits per chunk) so the " +
        s"layout can prune; at $maxHamming an exhaustive scan is the " +
        s"better plan — use $exhaustiveHint")
    require(filesPerChunk >= 1, s"$what: filesPerChunk $filesPerChunk")
    val spark = sig.sparkSession
    val postings = sig
      .select(col("doc_id"), col("sh"),
        explode(Dedup.shChunks(col("sh"), maxHamming)).as("cc"))
      .select(col("cc.chunk").as("chunk"), col("cc.cval").as("cval"),
        col("doc_id"), col("sh"))
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.SwapUtil.replace(fs, target, what, mayBeAbsent = true) { staging =>
      // Pin before the range shuffle (the AudioIndex.writeArtifact
      // discipline): the bound-sampling job and the write would otherwise
      // each execute the signature pass — for the image index that is the
      // full pixel-decode + dHash of the corpus. One materialization
      // serves sampling, write, and the build_meta row count.
      val pinned = postings.localCheckpoint(false)
      pinned
        .repartitionByRange((maxHamming + 1) * filesPerChunk,
          col("chunk"), col("cval"))
        .sortWithinPartitions(col("chunk"), col("cval"))
        .write.mode("overwrite").partitionBy("chunk")
        .parquet(s"$staging/postings")
      writeMeta(fs, staging, maxHamming, pinned.count(), filesPerChunk)
    }
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      maxHamming: Int, rows: Long, filesPerChunk: Int): Unit =
    graft.sinks.SwapUtil.writeSynced(fs, new Path(dir, "build_meta"),
      s"maxhamming $maxHamming\nrows $rows\nfilesperchunk $filesPerChunk\n")

  /** True when a built artifact exists at `path` (build_meta is staged
    * with the postings, so its presence implies the whole layout). A
    * swap that crashed between its renames is healed first: it left the
    * artifact parked, intact, at its backup name.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = graft.sinks.SwapUtil.healed(spark, path)
    fs.exists(new Path(root, "build_meta"))
  }

  /** The blocking bound the artifact was built at (from build_meta). */
  def boundOf(spark: SparkSession, path: String, what: String): Int =
    metaOf(spark, path, what)._1

  /** (maxHamming, build-time posting rows, build-time fan-out) from
    * build_meta. The row count is the staleness denominator for
    * [[append]] — it records the last full LAYOUT pass, so it does not
    * move on appends. The fan-out is part of the artifact so a
    * maintenance [[compact]] restores the layout the index was BUILT
    * at, not a hard-coded default (an artifact written before fan-out
    * pinning reads the historical default, 8).
    */
  private def metaOf(spark: SparkSession, path: String,
      what: String): (Int, Long, Int) = {
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
    (fields.get("maxhamming").map(_.toInt).getOrElse(
        sys.error(s"$what at $path: no maxhamming in build_meta")),
      fields.get("rows").map(_.toLong).getOrElse(0L),
      fields.get("filesperchunk").map(_.toInt).getOrElse(8))
  }

  /** Takedown support — the index artifacts live under the SAME
    * erasure surface as the durable stores: forgetting doc_ids is an
    * O(takedown) tombstone append under `path/forgotten`; [[topK]]
    * masks them immediately (the compliance property: a taken-down
    * item is unfindable the moment the tombstone lands, no rebuild
    * wait), [[append]] READMITS any id it is explicitly re-given (the
    * store family's takedown-then-re-ingest semantics), and [[build]]
    * clears the set wholesale — the stage-aside swap replaces the
    * whole artifact directory, tombstones included, at exactly the
    * moment the postings are rewritten from the (already-curated)
    * corpus anyway.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame,
      what: String): Unit = {
    require(exists(spark, path), s"no $what at $path — build first")
    DurableStore.forget(path, ids.select("doc_id"))
  }

  private[ext] def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    DurableStore.read(spark, s"$path/forgotten")
      .map(_.select("doc_id").distinct())

  /** Rewrite the (tiny) tombstone set minus the re-ingested batch ids —
    * stage-aside swapped; deleted outright when nothing remains. Crash
    * anywhere converges on replay: the batch anti-joins away on the
    * postings side and the readmit re-runs here.
    */
  private[ext] def readmit(spark: SparkSession, path: String,
      batchIds: DataFrame, what: String): Unit =
    tombstones(spark, path).foreach { ts =>
      val hit = ts.join(broadcast(batchIds.select("doc_id")), Seq("doc_id"))
        .limit(1).count()
      if (hit > 0) {
        val target = new Path(s"$path/forgotten")
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val remaining = ts.join(broadcast(batchIds.select("doc_id")),
            Seq("doc_id"), "left_anti")
          .localCheckpoint(false) // sever from the dir being replaced
        if (remaining.isEmpty) fs.delete(target, true)
        else
          graft.sinks.SwapUtil.replace(fs, target, s"$what tombstones",
            mayBeAbsent = true)(
            dir => remaining.coalesce(1).write.parquet(dir.toString))
        ()
      }
    }

  final case class AppendResult(
      appended: Long, skipped: Long, totalPostings: Long,
      staleness: Double, rebuildAdvised: Boolean)

  /** Parquet part files under `dir`, recursively — the compaction
    * before/after measure (pruning granularity IS the file count).
    * Shared with [[AudioIndex]]'s compactor.
    */
  private[ext] def partFileCount(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Int = {
    if (!fs.exists(dir)) return 0
    var n = 0
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.startsWith("part-")) n += 1
    }
    n
  }

  /** Re-pack the posting layout from the ARTIFACT alone — no source
    * corpus, no re-hashing: the packed layout is a pure function of
    * the postings, so compaction reads them, drops tombstoned owners
    * PHYSICALLY, and rewrites the `filesPerChunk` cval-sorted range
    * slices per chunk that [[build]] writes (restoring the pruning
    * granularity appends degrade). The stage-aside swap replaces the
    * whole artifact — tombstones clear with it, exactly like a rebuild
    * — and build_meta's row baseline resets, so append staleness
    * restarts at 0. This is what the stores' `compactStore` is to the
    * store family: the maintenance half of the takedown contract,
    * now covering the serving indexes too. Returns
    * (postingFilesBefore, postingFilesAfter).
    */
  def compact(spark: SparkSession, path: String, filesPerChunk: Int,
      what: String): (Int, Int) = {
    require(exists(spark, path), s"no $what at $path — build first")
    require(filesPerChunk >= 0,
      s"$what: filesPerChunk $filesPerChunk (0 = the build-time fan-out)")
    val (maxHamming, _, builtFanout) = metaOf(spark, path, what)
    // 0 = "re-pack at the fan-out the index was BUILT at" (from
    // build_meta) — so a maintenance pass over many indexes never
    // silently changes any one index's pruning granularity
    val fanout =
      if (filesPerChunk == 0) builtFanout else filesPerChunk
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = partFileCount(fs, new Path(s"$path/postings"))
    val live = tombstones(spark, path).foldLeft(
        graft.sinks.StoreRead.parquet(spark, s"$path/postings"))((p, ts) =>
      p.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    // a fully-tombstoned index cannot compact to a representable
    // artifact (an empty partitioned parquet tree has no schema to
    // probe) — leave the mask in place and tell the caller to rebuild
    // or delete; probes keep returning nothing, which is correct
    if (live.isEmpty) return (before, before)
    graft.sinks.SwapUtil.replace(fs, target, what) { staging =>
      live
        .select(col("chunk"), col("cval"), col("doc_id"), col("sh"))
        .repartitionByRange((maxHamming + 1) * fanout,
          col("chunk"), col("cval"))
        .sortWithinPartitions(col("chunk"), col("cval"))
        .write.mode("overwrite").partitionBy("chunk")
        .parquet(s"$staging/postings")
      writeMeta(fs, staging, maxHamming,
        spark.read.parquet(s"$staging/postings").count(), fanout)
    }
    (before, partFileCount(fs, new Path(s"$path/postings")))
  }

  /** Incrementally grow the index with a `(doc_id, sh)` batch — the
    * `ivfAppendPersisted` discipline applied to the Hamming layout.
    * Already-indexed doc_ids skip (id anti-join against ONE chunk
    * partition — every signature posts in every chunk, so chunk 0
    * carries the complete id set at 1/(H+1) of the postings); fresh
    * rows append as their own cval-sorted files per chunk directory.
    * Appends degrade pruning gradually, not correctness: each appended
    * file carries its own narrow cval band, but file COUNT grows per
    * batch, so `staleness` (appended rows / build-time rows) tells the
    * caller when to re-run [[build]] and restore the packed layout —
    * the same rebuild-economics contract as the IVF artifact. Probe
    * results are unaffected by replays: a re-appended batch anti-joins
    * away, and [[topK]]'s per-pair dropDuplicates absorbs any residue.
    */
  def append(sig: DataFrame, path: String, rebuildThreshold: Double,
      what: String): AppendResult = {
    val spark = sig.sparkSession
    require(exists(spark, path), s"no $what at $path — build first")
    val (maxHamming, atBuild, _) = metaOf(spark, path, what)
    val existingIds =
      graft.sinks.StoreRead.parquet(spark, s"$path/postings/chunk=0").select("doc_id")
    val fresh = sig.join(existingIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(false) // counted AND written
    val freshCount = fresh.count()
    val input = sig.count()
    if (freshCount > 0)
      fresh
        .select(col("doc_id"), col("sh"),
          explode(Dedup.shChunks(col("sh"), maxHamming)).as("cc"))
        .select(col("cc.chunk").as("chunk"), col("cc.cval").as("cval"),
          col("doc_id"), col("sh"))
        .repartitionByRange(maxHamming + 1, col("chunk"), col("cval"))
        .sortWithinPartitions(col("chunk"), col("cval"))
        .write.mode("append").partitionBy("chunk")
        .parquet(s"$path/postings")
    readmit(spark, path, sig, what) // explicit re-ingest lifts takedown
    val total = graft.sinks.StoreRead.parquet(spark, s"$path/postings").count()
    val staleness =
      (total - atBuild).toDouble / math.max(atBuild, 1L).toDouble
    AppendResult(freshCount, input - freshCount, total, staleness,
      staleness > rebuildThreshold)
  }

  /** Bounded-distance top-k against the persisted layout for a BOUNDED
    * driver-side probe set `(q_id, qsh)` (this is a serving call —
    * enforced, not assumed): each chunk directory gets its own scan
    * carrying a plain pushed `cval IN (...)` predicate, so the postings
    * read prunes to the probe's buckets (directories by chunk, row
    * groups and pages by the sorted cval bands) and never materializes
    * the corpus. An OR-of-ANDs over (chunk, cval) pushes NOTHING: the
    * partition pruner can only extract `chunk IN (all)` from it and the
    * parquet reader drops the mixed disjunction entirely — measured,
    * not assumed (the specs hold probe bytes-read below the full scan).
    * The pruned candidates broadcast-join the probe table, verify exact
    * Hamming on the carried signature, and feed bounded per-partition
    * top-k heaps. Ties break to the lower doc_id.
    *
    * Returns (q_id, doc_id, hamming) — at most k rows per probe; probes
    * with nothing inside the bound return no rows (the honest answer
    * for a bounded search).
    */
  def topK(spark: SparkSession, path: String,
      qs: Array[(Long, Long)], k: Int, what: String): DataFrame = {
    require(k > 0, s"$what: k must be positive, got $k")
    val maxHamming = boundOf(spark, path, what)
    import spark.implicits._
    if (qs.isEmpty)
      return Seq.empty[(Long, Long, Int)].toDF("q_id", "doc_id", "hamming")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    def cvalOf(sh: Long, c: Int): Long =
      if (c == nChunks - 1) sh >>> (c * chunkBits)
      else (sh >>> (c * chunkBits)) & ((1L << chunkBits) - 1)
    val parts = (0 until nChunks).map { c =>
      val vals = qs.map(r => cvalOf(r._2, c)).distinct.toSeq
      graft.sinks.StoreRead.parquet(spark, s"$path/postings/chunk=$c")
        .filter(col("cval").isInCollection(vals))
        .select(lit(c).as("chunk"), col("cval"), col("doc_id"), col("sh"))
    }
    val probeDf = qs.toSeq.toDF("q_id", "qsh")
      .select(col("q_id"), col("qsh"),
        explode(Dedup.shChunks(col("qsh"), maxHamming)).as("cc"))
      .select(col("cc.chunk").as("chunk"), col("cc.cval").as("cval"),
        col("q_id"), col("qsh"))
    val cand0 = parts.reduce(_ unionByName _)
      .join(broadcast(probeDf), Seq("chunk", "cval"))
      .select(col("q_id"), col("doc_id"),
        bit_count(col("sh").bitwiseXOR(col("qsh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("q_id", "doc_id") // a pair can share several chunks
    // takedown mask: forgotten ids never rank (tombstones are
    // O(takedowns since last rebuild) — a broadcast, like every store)
    val cand = tombstones(spark, path).fold(cand0)(ts =>
      cand0.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    graft.ops.GroupedTopK(spark, cand.select(col("q_id"), col("doc_id"),
        (-col("hamming")).cast("double").as("score")), "q_id", "score",
        "doc_id", k)
      .select(col("q_id").cast("long").as("q_id"), col("doc_id"),
        (-col("score")).cast("int").as("hamming"))
  }
}
