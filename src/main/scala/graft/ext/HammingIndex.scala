package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{StoreRead, SwapUtil}

/** [EXT] Persisted posting indexes: the one lifecycle — build, append,
  * takedown, compaction, probe — of the serving indexes
  * [[SimhashIndex]] (text SimHash), [[ImageIndex]] (perceptual dHash)
  * and [[AudioIndex]] (landmark hashes). The shared steps — the writer,
  * build_meta, the compaction skeleton, the append tail, tombstones and
  * readmission — take a [[Layout]] as data and never ask which index
  * calls; each index derives its own postings and decides which ids
  * already exist. This file also holds the Hamming layout and its
  * probe: bounded-distance search over ANY 64-bit signature column that
  * reads a PRUNED slice of the corpus instead of scanning it.
  *
  * Hamming layout = multi-index pigeonhole postings (the blocking
  * arithmetic of `Dedup.hammingCandidates` / the incremental stores,
  * made DURABLE and SORTED):
  *
  *   path/postings/chunk=<c>/   (cval, doc_id, sh) — one posting per
  *     (signature, chunk); files within each chunk partition are
  *     range-partitioned AND sorted by cval, so every parquet row group
  *     covers a narrow cval band and a probe's `cval IN (...)` pushed
  *     filter prunes at row-group granularity, not just directory
  *     granularity
  *   path/build_meta            "maxhamming H\nrows N\nfilesperchunk F"
  *     — the blocking parameter is part of the artifact (a probe at a
  *     different bound would silently lose recall; reading it from the
  *     artifact makes that impossible)
  *   path/forgotten/            (doc_id) — takedown tombstones
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
  * brute-force DuckDB oracle for the image index; SimhashIndexSpec
  * holds the same equality in-engine for the text index). Deliberately
  * NOT an approximate recall trade: a takedown/compliance search ("find
  * every stored near-copy") needs the guarantee.
  */
private[ext] object HammingIndex {

  /** How an index's postings sit on disk, as data: the columns written
    * (in file order), the range-partition and sort key, the directory
    * partitioning, the build_meta keys of the index's parameter line and
    * of its fan-out (with the fan-out an artifact written before fan-out
    * pinning reads), and the range slices per unit of fan-out, a
    * function of the parameter. Two layouts exist: [[Chunked]] here and
    * `AudioIndex`'s exact-key fp layout.
    */
  final case class Layout(
      cols: Seq[String],
      key: Seq[String],
      partitionBy: Seq[String],
      paramKey: String,
      fanoutKey: String,
      legacyFanout: Int,
      slicesPerFanout: String => Int)

  /** The Hamming layout: postings partitioned by `chunk`, sorted by
    * (chunk, cval); `maxhamming H` pins the bound, H+1 chunks of
    * `filesperchunk` slices each.
    */
  val Chunked: Layout = Layout(Seq("chunk", "cval", "doc_id", "sh"),
    Seq("chunk", "cval"), Seq("chunk"), "maxhamming", "filesperchunk", 8,
    h => h.toInt + 1)

  /** build_meta, parsed: the value of the layout's parameter line, the
    * posting rows at the last layout pass (the staleness baseline, which
    * appends do not move) and the fan-out the layout was written at.
    */
  final case class Meta(param: String, rows: Long, fanout: Int)

  /** The `(chunk, cval, doc_id, sh)` postings of a `(doc_id, sh)`
    * signature frame: one per (signature, chunk).
    */
  private def chunked(sig: DataFrame, maxHamming: Int): DataFrame =
    sig.select(col("doc_id"), col("sh"),
        explode(Dedup.shChunks(col("sh"), maxHamming)).as("cc"))
      .select(col("cc.chunk").as("chunk"), col("cc.cval").as("cval"),
        col("doc_id"), col("sh"))

  /** Persist the posting layout for a `(doc_id, sh)` signature frame
    * (null signatures must already be filtered), partitioned by chunk
    * with an EXPLICIT fan-out — pruning granularity IS the
    * file/row-group count per chunk directory. A range partition
    * covering a whole chunk (what the conf default degenerates to on a
    * small build) has min=0/max=everything cval stats and can prune
    * nothing; `filesPerChunk` sorted range slices give every file a
    * narrow cval band (huge builds additionally split into 128 MB row
    * groups inside each file, so granularity scales with the corpus
    * either way).
    */
  def build(sig: DataFrame, path: String, maxHamming: Int,
      filesPerChunk: Int, what: String, exhaustiveHint: String): Unit = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"$what: maxHamming must be 0..7 (>= 8 bits per chunk) so the " +
        s"layout can prune; at $maxHamming an exhaustive scan is the " +
        s"better plan — use $exhaustiveHint")
    write(chunked(sig, maxHamming), path, Chunked, maxHamming.toString,
      filesPerChunk, what, mayBeAbsent = true)
  }

  /** The one posting writer, for build and compaction alike: pin the
    * postings, range-partition and sort them by the layout's key into
    * `fanout` slices per unit, write them into the swap's staging dir
    * with build_meta (`param`, the row count, the fan-out) beside them.
    * The pin matters: the range shuffle's bound-sampling job and the
    * write would otherwise each execute the upstream plan — for a build
    * that is the full signature or fingerprint pass of the corpus. One
    * materialization serves sampling, write and the row count.
    */
  private[ext] def write(postings: DataFrame, path: String, layout: Layout,
      param: String, fanout: Int, what: String, mayBeAbsent: Boolean): Unit = {
    require(fanout >= 1, s"$what: ${layout.fanoutKey} $fanout")
    val target = new Path(path)
    val fs = target.getFileSystem(
      postings.sparkSession.sparkContext.hadoopConfiguration)
    SwapUtil.replace(fs, target, what, mayBeAbsent) { staging =>
      val pinned = postings.select(layout.cols.map(col): _*)
        .localCheckpoint(false)
      writeSorted(pinned, s"$staging/postings", layout,
        layout.slicesPerFanout(param) * fanout, "overwrite")
      SwapUtil.writeSynced(fs, new Path(staging, "build_meta"),
        s"${layout.paramKey} $param\nrows ${pinned.count()}\n" +
          s"${layout.fanoutKey} $fanout\n")
    }
  }

  /** `slices` range slices of `postings`, each sorted by the layout's
    * key, so every file and row group covers a narrow key band that a
    * probe's pushed `IN` predicate prunes on.
    */
  private[ext] def writeSorted(postings: DataFrame, dir: String,
      layout: Layout, slices: Int, mode: String): Unit = {
    val key = layout.key.map(col)
    postings.repartitionByRange(slices, key: _*)
      .sortWithinPartitions(key: _*)
      .write.mode(mode).partitionBy(layout.partitionBy: _*)
      .parquet(dir)
  }

  /** True when a built artifact exists at `path` (build_meta is staged
    * with the postings, so its presence implies the whole layout). A
    * swap that crashed between its renames is healed first: it left the
    * artifact parked, intact, at its backup name.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = SwapUtil.healed(spark, path)
    fs.exists(new Path(root, "build_meta"))
  }

  /** The artifact's build_meta, read after healing a parked artifact —
    * every probe, append and compaction starts here, so none of them
    * reads a crashed swap's leftovers. The fan-out is part of the
    * artifact so a compaction restores the layout the index was BUILT
    * at; an artifact written before fan-out pinning reads the layout's
    * legacy default.
    */
  private[ext] def metaOf(spark: SparkSession, path: String, layout: Layout,
      what: String): Meta = {
    val (fs, root) = SwapUtil.healed(spark, path)
    val text = SwapUtil.readText(fs, new Path(root, "build_meta"))
    require(text.isDefined, s"no $what at $path — build first")
    val fields = text.get.linesIterator.flatMap { l =>
      l.split(" ", 2) match {
        case Array(k, v) => Some(k -> v.trim)
        case _ => None
      }
    }.toMap
    Meta(fields.getOrElse(layout.paramKey,
        sys.error(s"$what at $path: no ${layout.paramKey} in build_meta")),
      fields.get("rows").map(_.toLong).getOrElse(0L),
      fields.get(layout.fanoutKey).map(_.toInt).getOrElse(layout.legacyFanout))
  }

  /** The blocking bound the artifact was built at (from build_meta). */
  def boundOf(spark: SparkSession, path: String, what: String): Int =
    metaOf(spark, path, Chunked, what).param.toInt

  /** Takedown support — the index artifacts live under the SAME
    * erasure surface as the durable stores: forgetting doc_ids is an
    * O(takedown) tombstone append under `path/forgotten`; the probes
    * mask them immediately (the compliance property: a taken-down item
    * is unfindable the moment the tombstone lands, no rebuild wait), an
    * append READMITS any id it is explicitly re-given (the store
    * family's takedown-then-re-ingest semantics), and a build clears the
    * set wholesale — the stage-aside swap replaces the whole artifact
    * directory, tombstones included, at exactly the moment the postings
    * are rewritten from the (already-curated) corpus anyway.
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
  private def readmit(spark: SparkSession, path: String,
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
          SwapUtil.replace(fs, target, s"$what tombstones",
            mayBeAbsent = true)(
            dir => remaining.coalesce(1).write.parquet(dir.toString))
        ()
      }
    }

  final case class AppendResult(
      appended: Long, skipped: Long, totalPostings: Long,
      staleness: Double, rebuildAdvised: Boolean)

  /** The tail every append shares, after the index wrote its fresh
    * postings: readmit the batch's ids (an explicit re-ingest lifts a
    * takedown), count the postings, and measure staleness — appended
    * rows over the build-time rows — against the rebuild threshold.
    */
  private[ext] def appended(spark: SparkSession, path: String,
      batchIds: DataFrame, fresh: Long, input: Long, meta: Meta,
      rebuildThreshold: Double, what: String): AppendResult = {
    readmit(spark, path, batchIds, what)
    val total = StoreRead.parquet(spark, s"$path/postings").count()
    val staleness =
      (total - meta.rows).toDouble / math.max(meta.rows, 1L).toDouble
    AppendResult(fresh, input - fresh, total, staleness,
      staleness > rebuildThreshold)
  }

  /** Parquet part files under `dir`, recursively — the compaction
    * before/after measure (pruning granularity IS the file count).
    */
  private def partFileCount(fs: org.apache.hadoop.fs.FileSystem,
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
    * PHYSICALLY, and rewrites them through the build's writer (restoring
    * the pruning granularity appends degrade). The stage-aside swap
    * replaces the whole artifact — tombstones clear with it, exactly
    * like a rebuild — and build_meta's row baseline resets, so append
    * staleness restarts at 0. `fanout` 0 re-packs at the fan-out the
    * index was BUILT at (from build_meta), so a maintenance pass over
    * many indexes never silently changes any one index's pruning
    * granularity. Returns (postingFilesBefore, postingFilesAfter).
    */
  def compact(spark: SparkSession, path: String, layout: Layout,
      fanout: Int, what: String): (Int, Int) = {
    val meta = metaOf(spark, path, layout, what)
    require(fanout >= 0,
      s"$what: ${layout.fanoutKey} $fanout (0 = the build-time fan-out)")
    val postings = new Path(s"$path/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = partFileCount(fs, postings)
    val live = tombstones(spark, path).foldLeft(
        StoreRead.parquet(spark, s"$path/postings"))((p, ts) =>
      p.join(broadcast(ts), Seq("doc_id"), "left_anti"))
    // a fully-tombstoned index cannot compact to a representable
    // artifact (an empty parquet tree has no schema to probe) — leave
    // the mask in place and tell the caller to rebuild or delete;
    // probes keep returning nothing, which is correct
    if (live.isEmpty) return (before, before)
    write(live, path, layout, meta.param,
      if (fanout == 0) meta.fanout else fanout, what, mayBeAbsent = false)
    (before, partFileCount(fs, postings))
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
    * caller when to re-run [[build]] or [[compact]] and restore the
    * packed layout — the same rebuild-economics contract as the IVF
    * artifact. Probe results are unaffected by replays: a re-appended
    * batch anti-joins away, and [[topK]]'s per-pair dropDuplicates
    * absorbs any residue.
    */
  def append(sig: DataFrame, path: String, rebuildThreshold: Double,
      what: String): AppendResult = {
    val spark = sig.sparkSession
    val meta = metaOf(spark, path, Chunked, what)
    val maxHamming = meta.param.toInt
    val existingIds =
      StoreRead.parquet(spark, s"$path/postings/chunk=0").select("doc_id")
    val fresh = sig.join(existingIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(false) // counted AND written
    val freshCount = fresh.count()
    val input = sig.count()
    if (freshCount > 0)
      writeSorted(chunked(fresh, maxHamming), s"$path/postings", Chunked,
        maxHamming + 1, "append")
    appended(spark, path, sig, freshCount, input, meta, rebuildThreshold, what)
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
      StoreRead.parquet(spark, s"$path/postings/chunk=$c")
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
