package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Transforms

/** K5 — THE central sink semantic: idempotent insert-if-absent on a
  * natural key (`INSERT OR IGNORE` vs `UNIQUE(currency, timestamptz)`,
  * etl/api_fetcher.py:140,168-172). Re-expressed as left-anti join +
  * append: rows whose key already exists in the target are silently
  * skipped, so re-runs are idempotent and late/duplicate deliveries of the
  * same key are dropped (exactly-once-per-key effect, SURVEY §2.9).
  *
  * Scale design (SURVEY §6): the incoming batch is small (~tens of rows
  * per day) while the target grows unboundedly, so the join must be
  * O(batch), not O(history):
  *
  *  1. The target scan is PRUNED to the incoming batch's key range first
  *     (min/max of `pruneCol`, e.g. timestamptz) — with a date-partitioned
  *     target this is partition pruning, reading only the days the batch
  *     touches instead of all of history.
  *  2. The pruned existing side (small) is broadcast as the BUILD side of
  *     the anti join. (Spark's BroadcastHashJoin builds on the right for
  *     LEFT ANTI, so broadcasting `existing` — after pruning — is the
  *     correct direction; without pruning it would broadcast all of
  *     history, which is exactly the 100 TB failure mode.)
  *
  * Job budget (the batch is small, so each Spark job's fixed driver cost
  * IS the latency): one job scans the cached batch for its row count and
  * `pruneCol` bounds (observed metrics, three scalars from the SMALL side
  * — never a full-table collect); an absent target then takes one write
  * job. An existing target adds the materialized delta (broadcast build +
  * one checkpoint job that also counts it) and its append, plus one
  * footer-inference job on the first read of a path in the process that
  * this sink did not create unpartitioned.
  */
object UpsertIgnore {

  final case class Result(inserted: Long, skipped: Long)

  private[sinks] def targetExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(f =>
      f.getPath.getName.endsWith(".parquet") ||
        (f.isDirectory && f.getPath.getName.contains("=")))
  }

  /** The anti-join delta plan: incoming rows whose key is absent from the
    * existing target. Exposed for plan-shape tests (PlanSpec/SinksSpec
    * assert the broadcast decision without writing anything).
    *
    * Range pruning applies ONLY when `pruneCol` is one of the join keys:
    * then an existing row that matches a batch row on all keys has its
    * pruneCol value inside the batch's [min,max] by definition, so pruning
    * can never hide a matching key. For a NON-key pruneCol the same-key
    * row may carry a drifted value outside the range (clock skew, replays
    * with corrected timestamps) — pruning there would re-insert the key
    * and break idempotence, so it falls back to the unpruned join.
    *
    * The pruned existing side is broadcast only while its estimated size
    * stays under `spark.sql.autoBroadcastJoinThreshold` — an unconditional
    * broadcast of an unpruned 100 TB target is the failure mode this guard
    * exists for. Above the threshold Catalyst plans a shuffle anti-join.
    */
  private[graft] def deltaPlan(
      spark: SparkSession,
      batch: DataFrame,
      existingAll: DataFrame,
      keys: Seq[String],
      pruneCol: Option[String],
      precomputedBounds: Option[Row] = None): DataFrame = {
    val existing = pruneCol match {
      case Some(c) if keys.contains(c) =>
        // head() not pattern-matched: an empty batch yields null bounds
        // (typed patterns don't match null) — fall back to no pruning.
        // A caller registering several tables from ONE batch passes the
        // range it already computed, so the bounds job runs once, not
        // once per table.
        val bounds = precomputedBounds.getOrElse(
          batch.agg(min(col(c)), max(col(c))).head())
        if (bounds.isNullAt(0)) existingAll
        else existingAll.filter(
          col(c) >= lit(bounds.get(0)) && col(c) <= lit(bounds.get(1)))
      case _ => existingAll
    }
    val keySide = existing.select(keys.map(col): _*)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val estBytes = keySide.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && estBytes <= BigInt(threshold))
      batch.join(broadcast(keySide), keys, "left_anti")
    else
      batch.join(keySide, keys, "left_anti")
  }

  /** Count-free sibling of [[apply]] for the durable-store registration
    * path (the incremental dedup stores): same anti-join-append
    * semantics and the same pruned-broadcast delta plan, but no
    * accounting — the batch stats scan and the delta checkpoint exist
    * only to fill [[Result]], and a store ingest never reads them. A caller
    * registering SEVERAL tables from one batch passes the batch's key
    * range once via `bounds` (the min/max Row of `pruneCol`), collapsing
    * the per-table bounds scans too: registration is then 1 shared
    * bounds job + one append (broadcast build + write) per table, where
    * [[apply]] would add its stats scan and delta checkpoint per table.
    * At per-batch ingest cadence the fixed job count IS the latency;
    * the idempotence contract (anti-join per table, crash-rerun safe)
    * is unchanged.
    *
    * `bounds` CONTRACT — must be a SUPERSET of the incoming frame's
    * actual `pruneCol` range (equal is the normal case: the caller
    * computes min/max of the SOURCE batch and registers projections of
    * it). The Row is trusted as a pruning hint: a too-NARROW range
    * over-prunes the existing side, the anti-join then misses existing
    * keys, and the append silently DUPLICATES rows — a correctness
    * bug, not a performance one. Too-wide bounds merely prune less.
    * (Not asserted at runtime: validating would re-run the per-table
    * bounds scan this parameter exists to eliminate. SinksSpec pins
    * the contract.)
    */
  def appendAbsent(
      spark: SparkSession,
      incoming: DataFrame,
      targetPath: String,
      keys: Seq[String],
      pruneCol: Option[String] = None,
      bounds: Option[Row] = None): Unit =
    if (!targetExists(spark, targetPath)) {
      WriteLayout.sizedForWrite(incoming).write.mode("append").parquet(targetPath)
      StoreRead.created(targetPath, incoming.schema)
    } else {
      val existingAll = StoreRead.parquet(spark, targetPath)
      SchemaGuard.requireAligned(spark, incoming, existingAll, Nil, targetPath)
      WriteLayout.sizedForWrite(
        deltaPlan(spark, incoming, existingAll, keys, pruneCol, bounds)
          .select(existingAll.columns.toSeq.map(col): _*))
        .write.mode("append").parquet(targetPath)
    }

  /** Anti-join `incoming` against the live target and append the delta.
    * Returns inserted/skipped counts (K9 row-count accounting,
    * etl/api_fetcher.py:189). The batch is cached for the call unless the
    * caller already cached it; a caller's cache entry is left in place.
    *
    * @param partitionBy physical partition columns for the target (e.g.
    *        a date column). With it, `pruneCol` bounds become PARTITION
    *        pruning on the existing scan (PartitionFilters, zero data
    *        files read outside the batch's range) — the layout SURVEY §6
    *        prescribes for the 100 TB target table.
    * @param transactional commit through the TxTable manifest log: the
    *        append publishes atomically (a reader racing the insert sees
    *        the batch entirely or not at all — a plain append exposes
    *        files as the committer moves them), and a crashed append
    *        leaves only an orphan generation the rerun reclaims. Read
    *        the table back with `TxTable.read`.
    * @param statsCols transactional only: log per-generation min/max of
    *        these columns in the manifest so `TxTable.readWhere` can
    *        skip generations — an append stream keyed by time or id
    *        blocks gets range-pruned reads for free.
    */
  def apply(
      spark: SparkSession,
      incoming: DataFrame,
      targetPath: String,
      keys: Seq[String],
      pruneCol: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      transactional: Boolean = false,
      statsCols: Seq[String] = Nil): Result = {
    // A frame the caller cached stays the caller's: caching it again is a
    // no-op, and unpersisting it here would drop the caller's entry.
    val owned = incoming.storageLevel == StorageLevel.NONE
    val batch = if (owned) incoming.cache() else incoming
    try {
      val (total, bounds) = batchStats(batch, keys, pruneCol)
      // the live target, with the manifest version a transactional
      // append must find unchanged at commit
      val target: Option[(DataFrame, Option[Long])] =
        if (transactional)
          TxTable.currentManifest(spark, targetPath).map(m =>
            (TxTable.read(spark, targetPath).get, Some(m.version)))
        else if (targetExists(spark, targetPath))
          Some((StoreRead.parquet(spark, targetPath), None))
        else None
      // Never called with nothing to insert: Spark writes an empty file
      // from partition 0, so an empty append would add a file per replay.
      def write(df: DataFrame, version: Option[Long]): Unit =
        if (transactional)
          TxTable.commit(spark, df, targetPath, partitionBy,
            replaceAll = version.isEmpty, append = version.nonEmpty,
            expectedVersion = version, statsCols = statsCols)
        else {
          val writer = df.write.mode("append")
          (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
            .parquet(targetPath)
        }
      target match {
        case None =>
          if (total > 0) {
            write(batch, None)
            // a transactional target is read through its manifest, and a
            // partitioned one's partition types are inferred from its paths
            if (!transactional && partitionBy.isEmpty)
              StoreRead.created(targetPath, batch.schema)
          }
          Result(total, 0)
        case Some((existingAll, version)) =>
          SchemaGuard.requireAligned(spark, batch, existingAll, partitionBy, targetPath)
          if (total == 0) Result(0, 0)
          else {
            val (delta, inserted) = pinnedCount(
              deltaPlan(spark, batch, existingAll, keys, pruneCol, bounds)
                .select(existingAll.columns.toSeq.map(col): _*))
            if (inserted > 0) write(delta, version)
            Result(inserted, total - inserted)
          }
      }
    } finally if (owned) batch.unpersist()
  }

  /** Row count and, when `pruneCol` is a key, its [min,max] Row — in ONE
    * job: observed metrics over a no-op write, which also fills the
    * batch's cache for the delta that follows. The bounds Row is what
    * [[deltaPlan]] takes as `precomputedBounds` (null bounds on an empty
    * batch mean no pruning).
    */
  private def batchStats(
      batch: DataFrame,
      keys: Seq[String],
      pruneCol: Option[String]): (Long, Option[Row]) = {
    val prune = pruneCol.filter(keys.contains)
    val obs = Observation()
    val bounds = prune.toSeq.flatMap(c =>
      Seq(min(col(c)).as("lo"), max(col(c)).as("hi")))
    batch.observe(obs, count(lit(1)).as("n"), bounds: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], prune.map(_ => Row(m("lo"), m("hi"))))
  }

  /** Materialize `delta` once (eager local checkpoint) and count it in the
    * same job, so the count and the append do not each re-run the anti
    * join and its broadcast build. The checkpoint's blocks (at most the
    * batch's size) go with the frame: Spark's context cleaner drops them
    * once it is unreachable.
    */
  private def pinnedCount(delta: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = delta.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    (pinned, obs.get("n").asInstanceOf[Long])
  }
}

/** The one way a rewritten directory replaces a live one. [[replace]]
  * writes the new contents into the hidden sibling `.<name>__staging`;
  * [[stageAsideSwap]] then renames the live directory aside to
  * `.<name>__old`, renames the staging directory into its place and
  * drops the backup. A failed forward rename restores the backup
  * (`delete + rename` would lose the table to a crash in between).
  * Every engine writer that rewrites a table or artifact directory
  * (the merge sinks, the rollup, compaction, the serving indexes) comes
  * through here, so these two names are the only crash leftovers.
  *
  * A crash BETWEEN the two renames parks the live data in
  * `.<name>__old`; [[recoverOne]] heals it (restore the backup when the
  * live directory is missing, else drop it). Who heals when:
  *  - [[replace]] and [[stageAsideSwap]] heal their target first;
  *  - a read that feeds a rewrite runs [[recoverUnder]] (Upsert,
  *    IncrementalRollup and compaction), which also heals the partition
  *    leaves of a per-leaf swap;
  *  - `DurableStore.hasData`, which every store's existence check,
  *    read, count and compaction go through, runs [[healed]];
  *  - so does every serving artifact before it is read: the existence
  *    checks (`HammingIndex.exists`, `Similarity.persistedIndexExists`,
  *    `Pq.pqAttached`, which also heals the IVF root under its layer),
  *    the build_meta read every posting-index probe, append and
  *    compaction starts from (`HammingIndex.metaOf`), and the centroid
  *    read every IVF probe starts from (`Similarity.persistedCentroids`).
  * A stale `.<name>__staging` is garbage; the next [[replace]] drops it.
  *
  * CONTRACT — single writer, no concurrent readers during the swap: the
  * two renames are not atomic as a pair. On object stores a directory
  * "rename" is an O(data) copy, which widens that window; there the
  * answer is a manifest commit (TxTable).
  */
private[graft] object SwapUtil {
  private def sibling(p: Path, tag: String) =
    new Path(p.getParent, s".${p.getName}__$tag")

  /** Replace the directory `target` by what `write` puts into the fresh
    * staging directory it is given. A `write` that throws leaves the
    * live target untouched (and its partial staging dir for the next
    * call to drop). `mayBeAbsent`: `target` may not exist yet.
    */
  def replace(
      fs: org.apache.hadoop.fs.FileSystem,
      target: Path,
      who: String,
      mayBeAbsent: Boolean = false)(write: Path => Unit): Unit =
    stageAsideSwap(fs, target, stage(fs, target)(write), who, mayBeAbsent)

  /** The first half of [[replace]]: heal `target`, drop a stale staging
    * dir, `write` a fresh one and return it.
    */
  private[sinks] def stage(fs: org.apache.hadoop.fs.FileSystem,
      target: Path)(write: Path => Unit): Path = {
    recoverOne(fs, target)
    val staging = sibling(target, "staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging)
    staging
  }

  /** The second half: swap `staged` in at `dst`, parking the live
    * directory at `.<name>__old` until the forward rename succeeded.
    */
  private[sinks] def stageAsideSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      dst: Path,
      staged: Path,
      who: String,
      dstMayBeAbsent: Boolean): Unit = {
    recoverOne(fs, dst) // heal a previous crash before touching anything
    val bak = sibling(dst, "old")
    val hadDst = fs.exists(dst)
    if (!hadDst && !dstMayBeAbsent)
      sys.error(s"$who: swap destination $dst is missing")
    if (hadDst && !fs.rename(dst, bak))
      sys.error(s"$who: cannot stage $dst aside")
    if (!fs.rename(staged, dst)) {
      if (hadDst) fs.rename(bak, dst)
      sys.error(s"$who: swap failed for $dst")
    }
    if (hadDst) fs.delete(bak, true)
    ()
  }

  /** Write `text` (UTF-8) to the small file `p`, replacing it, and sync
    * it to stable storage before returning: a marker or manifest that a
    * later rename or swap publishes must never be published truncated.
    */
  def writeSynced(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      text: String): Unit = {
    val out = fs.create(p, true)
    try { out.write(text.getBytes("UTF-8")); out.hsync() }
    finally out.close()
  }

  /** The UTF-8 text of the small file `p` (a marker, meta or manifest
    * that [[writeSynced]] wrote), or None when there is no such file.
    */
  def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[String] = {
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Content token of the listing at `p`: `name:len:mtime` per entry,
    * sorted and joined by `|`. One listing, no job. Not `recursive`: the
    * direct children of the directory `p` (or `p` itself when it is a
    * file). `recursive`: every file under `p`. A rewrite, an append or a
    * regenerated input moves the token, so a cache keyed by it never
    * serves what the listing no longer holds.
    */
  def listingToken(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      recursive: Boolean): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    if (recursive) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) entries += it.next()
    } else entries ++= fs.listStatus(p)
    entries.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Heal one swap destination: live dir missing + `.name__old` parked →
    * restore the backup; both present → the forward swap had completed,
    * drop the stale backup. Idempotent. Returns true when a restore ran.
    */
  def recoverOne(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Boolean = {
    val bak = sibling(dst, "old")
    if (!fs.exists(bak)) false
    else if (!fs.exists(dst)) {
      if (!fs.rename(bak, dst)) sys.error(s"swap recover: cannot restore $dst")
      true
    } else { fs.delete(bak, true); false }
  }

  /** The directory `path`, healed by [[recoverOne]], and its file
    * system: what an existence check or a read of `path` starts from.
    */
  def healed(spark: SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverOne(fs, p)
    (fs, p)
  }

  /** Heal a whole table: the root itself plus every `.X__old` parked
    * beside a partition directory at any nesting depth. MUST run before
    * any read that feeds a rewrite — a rewrite computed from a
    * crash-truncated table would otherwise commit the data loss (the
    * kept-rows side would silently be empty for the crashed partition).
    */
  def recoverUnder(fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit = {
    recoverOne(fs, root)
    if (!fs.exists(root)) return
    def walk(dir: Path): Unit = {
      fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.startsWith(".") && n.endsWith("__old")
      }.foreach { st =>
        val live = new Path(dir,
          st.getPath.getName.stripPrefix(".").stripSuffix("__old"))
        recoverOne(fs, live)
      }
      // re-list AFTER restores (a restored dir must be walked for nested
      // backups), and never descend into hidden/backup dirs themselves
      fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.contains("=") &&
          !n.startsWith(".") && !n.startsWith("_")
      }.foreach(st => walk(st.getPath))
    }
    walk(root)
  }
}

/** Strict batch-vs-target schema alignment, shared by the keyed sinks.
  * Schema drift is handled UPSTREAM (column-union, §1.2) — the sinks are
  * strict: silently appending a different column set OR a same-name/
  * different-type column would leave the table with per-file schemas that
  * plain reads resolve unpredictably. Name matching follows the session's
  * resolver (case-insensitive unless spark.sql.caseSensitive); column
  * ORDER may differ (callers normalize so data files stay uniform).
  */
private[sinks] object SchemaGuard {
  def requireAligned(
      spark: SparkSession,
      batch: DataFrame,
      existing: DataFrame,
      partitionBy: Seq[String],
      targetPath: String): Unit = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def canon(n: String) = if (caseSensitive) n else n.toLowerCase
    // Columns differing only in case would silently collapse in the
    // toMap below, pass the drift check, and surface later as an opaque
    // ambiguous-reference error — fail here with the drift message.
    def caseClash(names: Seq[String], side: String): Unit = {
      val clashes = names.groupBy(canon).values
        .filter(_.size > 1).map(_.mkString("/"))
      require(clashes.isEmpty,
        s"$side columns collide under the case-insensitive resolver: " +
          s"${clashes.mkString(", ")} — rename or set spark.sql.caseSensitive")
    }
    caseClash(batch.columns.toSeq, "batch")
    caseClash(existing.columns.toSeq, s"target $targetPath")
    val tTypes = existing.schema.map(f => canon(f.name) -> f.dataType).toMap
    val bTypes = batch.schema.map(f => canon(f.name) -> f.dataType).toMap
    val missing = tTypes.keySet -- bTypes.keySet
    val extra = bTypes.keySet -- tTypes.keySet
    require(missing.isEmpty && extra.isEmpty,
      s"batch schema drifted from target $targetPath " +
        s"(missing=$missing, extra=$extra); align with " +
        "unionByName/drop before the sink")
    // partition columns are exempt from the TYPE check: their values are
    // stored as directory NAMES, so the read-back type is inference (a
    // "2026-08-10" string partition reads as DateType), not a statement
    // about the batch's storage type
    val partSet = partitionBy.map(canon).toSet
    val retyped = (tTypes.keySet -- partSet).filter(k => tTypes(k) != bTypes(k))
    require(retyped.isEmpty,
      s"batch column types drifted from target $targetPath: " +
        retyped.map(k => s"$k: ${tTypes(k)} -> ${bTypes(k)}").mkString(", "))
  }
}

/** SCD1 merge-with-update sink (last-writer-wins upsert): incoming rows
  * REPLACE same-key rows in the target and absent keys insert — the
  * overwrite-latest semantics of the reference's unified Supabase table
  * (services/supabase.py:35 keeps only the latest value per row),
  * completing the keyed-sink triad: UpsertIgnore keeps the EXISTING row
  * (K5), Scd2 keeps BOTH as history, Upsert keeps the INCOMING row.
  *
  * Scale design — the merge is O(touched partitions), never O(table):
  * partition columns are REQUIRED to be key columns, so a key's partition
  * is immutable and a matched row can only live in a partition the batch
  * itself names. Only those partitions are read (partition-pruned scan),
  * merged, rewritten to a staging dir, and swapped in; untouched
  * partition directories are never listed, read, or replaced —
  * byte-identical after the run (asserted in SinksSpec). The touched
  * partition values are collected driver-side as a query parameter
  * (O(partitions in the batch), not a data collect). Flat targets fall
  * back to a full merge rewrite through the same staging + swap.
  *
  * CONTRACT — single writer, no concurrent readers during the swap (same
  * as Maintenance.compact): the per-partition directory renames are not
  * atomic as a set.
  */
object Upsert {

  /** updated = keys that replaced an existing row; inserted = new keys. */
  final case class Result(updated: Long, inserted: Long)

  /** @param transactional commit through the TxTable manifest log: the
    *        multi-partition replace publishes atomically (concurrent
    *        readers see the old or new snapshot, never a torn mix) and
    *        the merge is optimistically version-checked. Read the table
    *        back with `TxTable.read`, not a plain parquet read.
    */
  def apply(
      spark: SparkSession,
      incoming: DataFrame,
      targetPath: String,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      transactional: Boolean = false): Result = {
    require(keys.nonEmpty, "Upsert requires at least one key column")
    require(partitionBy.forall(keys.contains),
      s"Upsert partition columns must be key columns (a key's partition " +
        s"must be immutable for partition-local merge): " +
        s"partitionBy=$partitionBy keys=$keys")
    val batch = incoming.cache()
    try {
      val total = batch.count()
      if (total == 0) return Result(0, 0)
      // "replace the row with the incoming value" is ambiguous when the
      // batch itself carries a key twice — reject, same as Scd2
      val distinctKeys = batch
        .agg(count_distinct(struct(keys.map(col): _*))).head().getLong(0)
      require(distinctKeys == total,
        s"Upsert batch has ${total - distinctKeys} duplicate keys " +
          s"${keys.mkString("(", ",", ")")} — last-writer is undefined; " +
          "dedup the batch first")

      def merge(existingAll: DataFrame): (DataFrame, Long) = {
        SchemaGuard.requireAligned(spark, batch, existingAll, partitionBy, targetPath)
        // prune the existing scan to the partitions the batch touches
        val existing = prunedExisting(batch, existingAll, partitionBy)
        val updated = batch
          .join(existing.select(keys.map(col): _*), keys, "left_semi").count()
        val kept = existing.join(batch.select(keys.map(col): _*), keys, "left_anti")
        (kept.unionByName(batch.select(existingAll.columns.toSeq.map(col): _*)),
          updated)
      }

      if (transactional) {
        TxTable.currentManifest(spark, targetPath) match {
          case None =>
            TxTable.commit(spark, batch, targetPath, partitionBy,
              replaceAll = true)
            Result(0, total)
          case Some(m) =>
            val (merged, updated) =
              merge(TxTable.read(spark, targetPath).get)
            TxTable.commit(spark, merged, targetPath, partitionBy,
              expectedVersion = Some(m.version))
            Result(updated, total - updated)
        }
      } else {
        // heal any crashed previous swap BEFORE reading: a merge computed
        // from a crash-truncated table would commit the data loss
        locally {
          val p0 = new Path(targetPath)
          SwapUtil.recoverUnder(
            p0.getFileSystem(spark.sparkContext.hadoopConfiguration), p0)
        }
        if (!UpsertIgnore.targetExists(spark, targetPath)) {
          val w = batch.write.mode("overwrite")
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
            .parquet(targetPath)
          return Result(0, total)
        }
        val (merged, updated) = merge(
          MergeWrite.readNoInference(spark, targetPath, partitionBy.nonEmpty))
        MergeWrite.commitStaged(spark, merged, targetPath, partitionBy, "Upsert")
        Result(updated, total - updated)
      }
    } finally { batch.unpersist(); () }
  }

  /** The merge's read side: the existing table filtered to the partition
    * values the batch names. On a directory-partitioned target the filter
    * is pure PARTITION pruning (PartitionFilters on the scan, zero data
    * files read outside the touched set — plan-asserted in SinksSpec).
    * Exposed for plan-shape tests.
    *
    * Two prune strategies, switched on the touched-partition count:
    *
    *  - Up to `literalPruneMax` touched partitions: an OR-of-ANDs literal
    *    predicate — STATIC partition pruning, resolved at plan time, the
    *    cheapest possible scan for the daily-batch case.
    *  - Above it (a backfill naming 10⁴–10⁵ partitions): the literal
    *    chain would itself become a megabyte EXPRESSION TREE that
    *    Catalyst re-walks on every rule pass, so switch to one IN-set
    *    per partition column (a single InSet node each — O(columns)
    *    tree nodes regardless of the touched count, still STATIC
    *    partition pruning on the scan) conjoined with an exact
    *    broadcast LEFT SEMI join on the full partition tuple. The
    *    per-column sets prune a (possibly proper) superset of the
    *    touched tuples under multi-level partitioning — the semi-join
    *    restores tuple exactness so cross-product extras are never
    *    treated as touched (and never rewritten by the commit).
    *  - A batch naming more than `setPruneMax` distinct tuples is a
    *    rewrite of essentially the whole table: pruning buys nothing,
    *    so it degrades to the bare semi-join (full scan — which IS the
    *    workload at that point) rather than collecting unbounded state
    *    onto the driver.
    */
  private[graft] def prunedExisting(
      batch: DataFrame,
      existingAll: DataFrame,
      partitionBy: Seq[String],
      literalPruneMax: Int = 1000,
      setPruneMax: Int = 1000000): DataFrame =
    if (partitionBy.isEmpty) existingAll
    else {
      // the batch's partition values are cast to the EXISTING column's
      // type (string under the inference-off read) BEFORE collecting, so
      // every predicate below compares a BARE partition column against a
      // same-typed literal — a cast landing on the column side instead
      // would still prune but muddy the plan
      val touchedDf = batch.select(partitionBy.map(c =>
        col(c).cast(existingAll.schema(c).dataType)
          .as(s"__touched_$c")): _*).distinct()
      val touched = touchedDf.limit(setPruneMax + 1).collect()
      if (touched.length <= literalPruneMax) {
        val cond = touched.map(r =>
          partitionBy.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)).reduce(_ || _)
        existingAll.filter(cond)
      } else {
        val joinCond = partitionBy.map(c =>
          existingAll(c) <=> touchedDf(s"__touched_$c")).reduce(_ && _)
        val semi = (df: DataFrame) =>
          df.join(broadcast(touchedDf), joinCond, "left_semi")
        if (touched.length > setPruneMax) semi(existingAll)
        else {
          val perCol = partitionBy.zipWithIndex.map { case (c, i) =>
            val vals = touched.map(_.get(i)).distinct.toSeq
            val nonNull = vals.filter(_ != null)
            // In over a null input row (or a null list value) yields
            // NULL, which filter drops — widen with an isNull branch
            // when the batch names the default partition. The set only
            // has to be a PRUNING SUPERSET; tuple exactness is the
            // semi-join's job.
            val in =
              if (nonNull.isEmpty) lit(false)
              else col(c).isin(nonNull: _*)
            if (nonNull.length < vals.length) in || col(c).isNull else in
          }.reduce(_ && _)
          semi(existingAll.filter(perCol))
        }
      }
    }

}

/** Shared machinery for the merge-rewrite sinks (Upsert,
  * IncrementalRollup): inference-off reads of partitioned targets and
  * the staged write + flat/per-leaf stage-aside swap commit.
  */
private[sinks] object MergeWrite {

  /** Read `path` with partition-value type inference OFF when the table
    * is partitioned (compact's discipline): an inferred type ("01" -> 1)
    * would make a rewrite emit a DIVERGENT sibling directory (day=1
    * beside day=01) and fragment the layout the swap relies on.
    */
  def readNoInference(
      spark: SparkSession, path: String, partitioned: Boolean): DataFrame =
    if (!partitioned) spark.read.parquet(path)
    else {
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val saved = spark.conf.get(inferKey)
      try {
        spark.conf.set(inferKey, "false")
        spark.read.parquet(path)
      } finally spark.conf.set(inferKey, saved)
    }

  /** The staging write of a rewrite: `df` overwritten into `dir`,
    * partitioned like the target.
    */
  def writeTo(df: DataFrame, partitionBy: Seq[String])(dir: Path): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
  }

  /** Write `merged` to the hidden staging sibling, then commit: the
    * whole-dir [[SwapUtil.replace]] for flat targets, a per-LEAF swap for
    * partitioned ones — only the partitions present in `merged` are
    * replaced; untouched directories are never listed, read, or
    * rewritten.
    */
  def commitStaged(
      spark: SparkSession,
      merged: DataFrame,
      targetPath: String,
      partitionBy: Seq[String],
      who: String): Unit = {
    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (partitionBy.isEmpty)
      SwapUtil.replace(fs, p, who, mayBeAbsent = true)(writeTo(merged, Nil))
    else {
      val tmp = SwapUtil.stage(fs, p)(writeTo(merged, partitionBy))
      // swap ONLY the touched leaf partition dirs; everything else stays.
      // Qualify the staging root first: listStatus returns scheme-
      // qualified paths, so an unqualified prefix would not strip and
      // the relative path would be garbage.
      val tmpQ = fs.makeQualified(tmp)
      for (leaf <- leafPartitionDirs(fs, tmpQ)) {
        val rel = leaf.toString.stripPrefix(tmpQ.toString).stripPrefix("/")
        require(rel.nonEmpty && !rel.contains(":"),
          s"$who: cannot relativize staging leaf $leaf against $tmpQ")
        val dst = new Path(p, rel)
        fs.mkdirs(dst.getParent)
        SwapUtil.stageAsideSwap(fs, dst, leaf, who, dstMayBeAbsent = true)
      }
      fs.delete(tmp, true)
    }
  }

  /** Leaf `k=v` directories under a partitioned write (nested for
    * multi-level partitioning) — the unit of the swap.
    */
  private def leafPartitionDirs(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[Path] = {
    val kids = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath)
    kids.flatMap { d =>
      val sub = leafPartitionDirs(fs, d)
      if (sub.isEmpty) Seq(d) else sub
    }.toSeq
  }
}

/** K1 — CSV append sink (etl/api_fetcher.py:100-119): one growing dataset,
  * header written by the CSV writer per file (acceptable divergence noted
  * in SURVEY §2.2-K1; a single logical file is a `coalesce(1)` choice the
  * caller makes, never the engine — at scale appends stay parallel).
  */
object CsvAppend {
  def apply(df: DataFrame, path: String): Unit =
    df.write.mode("append").option("header", "true").csv(path)
}

/** K2 — overwrite-with-merge sink (etl/web_scraper.py:111-126): read the
  * existing per-day dataset, union, dedup on the natural key KEEPING the
  * existing row over the new one (concat puts existing first, so
  * keep-first == keep-existing), overwrite.
  */
object MergeOverwrite {
  def apply(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      orderCol: String): Unit = {
    val (fs, p) = SwapUtil.healed(spark, path)
    val merged =
      if (!fs.exists(p)) incoming
      else {
        val existing = spark.read.schema(incoming.schema).parquet(path)
        // priority 0 = existing (wins), 1 = incoming — deterministic
        // keep-first via window, not dropDuplicates (SURVEY §2.5-A2).
        val tagged = existing.withColumn("__prio", lit(0))
          .unionByName(incoming.withColumn("__prio", lit(1)))
        Transforms.dedupKeyedKeepFirst(
          keys, Seq(col("__prio").asc, col(orderCol).asc))(tagged)
          .drop("__prio")
      }
    // Overwriting the path we read from: materialize through a staging
    // dir, then swap (a failed forward rename restores the original)
    SwapUtil.replace(fs, p, "MergeOverwrite", mayBeAbsent = true)(
      MergeWrite.writeTo(merged, Nil))
  }
}

/** K7 — bulk REST sink (services/supabase.py:23-39). The reference POSTs
  * collected records to Supabase; offline, the transport is injected. The
  * Spark-side shape is the scalable part: `foreachPartition` with batched
  * payloads means no driver-side collect — each executor ships its own
  * partition (the reference's `df.to_dict("records")` collect would OOM the
  * driver at scale).
  *
  * Returns the number of rows shipped, counted by an accumulator inside
  * the one `foreachPartition` job, so a caller needs no separate count.
  * `post` is never called with an empty batch: an empty frame ships
  * nothing and returns 0 (the A4 gate, services/supabase.py:65).
  */
object RestSink {
  def apply(df: DataFrame, batchSize: Int)(post: Seq[String] => Unit): Long = {
    val shipped = df.sparkSession.sparkContext.longAccumulator
    df.toJSON.foreachPartition { it: Iterator[String] =>
      it.grouped(batchSize).foreach { batch =>
        post(batch)
        shipped.add(batch.size.toLong)
      }
    }
    shipped.sum
  }
}

/** S10/S11 + K4/K8 — catalog operations (scripts/inspect_db.py:7-16,
  * services/supabase.py:17-20, scripts/drop_table_db.py:12-18).
  */
object Catalog {
  /** S10 — list tables. */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  /** S11 — column names of a table, optionally excluding some
    * (the all-but-id projection, services/supabase.py:17-20).
    */
  def columnsExcept(df: DataFrame, except: String*): Seq[String] =
    df.columns.toSeq.filterNot(except.contains)

  /** K4 — create-if-not-exists as view registration over a path. */
  def registerTable(spark: SparkSession, name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  /** K8 — drop table. */
  def dropTable(spark: SparkSession, name: String): Boolean =
    spark.catalog.dropTempView(name)
}
