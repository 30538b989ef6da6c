package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed table: the transactional upgrade of the rewriting
  * sinks' per-leaf directory swap. `MergeWrite.commitStaged` renames one
  * leaf partition at a time, so a reader racing a multi-leaf replace can
  * see a TORN table (some partitions new, some old) — acceptable under
  * the documented single-writer/no-concurrent-reader contract, but at
  * 100 TB a maintenance window over every reader is not a real option.
  *
  * This format removes the caveat with the standard log-structured
  * design (the idea behind every table format built on object stores —
  * snapshot isolation via an atomically-published metadata pointer over
  * immutable data files):
  *
  *  - DATA IS IMMUTABLE. Each commit writes its partitions into a fresh
  *    generation directory `data/gen=<v>/...` and never mutates or
  *    renames existing ones.
  *  - COMMIT IS ONE ATOMIC RENAME. A version manifest
  *    `_log/v<%08d>.manifest` names the live directory for every
  *    partition. It is written to a hidden temp file and renamed into
  *    place — a same-directory rename, atomic on HDFS and POSIX — so
  *    the new snapshot becomes visible to every reader at one instant.
  *  - READERS RESOLVE THROUGH THE LOG. `read` lists `_log`, takes the
  *    highest complete manifest, and scans exactly the directories it
  *    names. A reader never lists `data/` itself, so half-written
  *    generations (crashed commits) and superseded generations are
  *    invisible by construction. Any point of the commit sequence
  *    crashes to a state where the PREVIOUS manifest is still the
  *    newest — nothing to heal before reading (contrast SwapUtil's
  *    mandatory heal-first discipline).
  *
  * Concurrency contract: many readers, one writer (optimistic version
  * check — a commit racing another commit fails cleanly rather than
  * silently losing one of them). Failed/crashed commits leave only an
  * orphan generation directory, reclaimed by the next commit at the
  * same version number or by `vacuum`.
  *
  * Idempotent re-application: a commit can carry a `deltaId`; applied
  * ids accumulate in the manifest, and `appliedDeltaIds` lets a caller
  * (IncrementalRollup) skip a delta that already folded — the
  * crash+rerun double-count hazard of non-idempotent maintenance
  * becomes a manifest lookup.
  *
  * Older manifests stay readable (`readAt`) until `vacuum` drops them:
  * time travel for audits/reproducibility, and the reason concurrent
  * readers of the PREVIOUS snapshot keep working mid-commit.
  */
object TxTable {

  final case class Manifest(
      version: Long,
      deltaIds: Seq[String],
      // (partition rel-path, live data dir rel to data/) pairs, e.g.
      // ("day=2026-01-01", "gen=3/day=2026-01-01"); "" partition = flat
      // table. A partition may map to SEVERAL dirs — append commits add
      // a generation without retiring the previous ones.
      entries: Seq[(String, String)],
      // the snapshot's logical schema, versioned IN the log (every
      // production table format does): generations written before a
      // column was added read back with that column null-filled instead
      // of resolving to whichever file's physical schema wins. None only
      // for manifests written before schema tracking (legacy reads).
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      // per-directory column statistics (dir -> col -> (min, max), as
      // doubles): the data-skipping metadata every production table
      // format logs. Populated by commit(statsCols = ...); directories
      // without stats for a column are never pruned (correct-by-default
      // for legacy generations).
      stats: Map[String, Map[String, (Double, Double)]] = Map.empty) {
    def dirs: Seq[String] = entries.map(_._2)
    def partitions: Set[String] = entries.map(_._1).toSet
  }

  private val LogDir = "_log"
  private val DataDir = "data"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestName(v: Long): String = f"v$v%08d.manifest"

  /** Highest complete manifest, or None for an absent/empty table. */
  def currentManifest(spark: SparkSession, target: String): Option[Manifest] = {
    val log = new Path(target, LogDir)
    val f = fs(spark, log)
    if (!f.exists(log)) return None
    val versions = f.listStatus(log).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
    if (versions.isEmpty) None
    else Some(readManifest(f, log, versions.max))
  }

  private def readManifest(f: FileSystem, log: Path, v: Long): Manifest = {
    val p = new Path(log, manifestName(v))
    val text = SwapUtil.readText(f, p)
      .getOrElse(throw new java.io.FileNotFoundException(p.toString))
    // line format, no JSON dependency: header lines then TAB-separated
    // entry lines. Partition rel-paths never contain TAB/newline (Spark
    // %-escapes control characters in partition dir names).
    var deltaIds = Seq.empty[String]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    val entries = Seq.newBuilder[(String, String)]
    val stats = scala.collection.mutable.HashMap
      .empty[String, Map[String, (Double, Double)]]
    text.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
      if (line == "deltaIds" || line.startsWith("deltaIds "))
        deltaIds = line.split(" ").toSeq.drop(1)
      else if (line.startsWith("schema "))
        schema = Some(org.apache.spark.sql.types.DataType
          .fromJson(line.stripPrefix("schema "))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else if (line.startsWith("stats ")) {
        val parts = line.stripPrefix("stats ").split("\t", -1)
        require(parts.length == 4, s"malformed stats line in v$v: $line")
        stats(parts(0)) = stats.getOrElse(parts(0), Map.empty) +
          (parts(1) -> ((parts(2).toDouble, parts(3).toDouble)))
      }
      else if (!line.startsWith("version ")) {
        val parts = line.split("\t", -1)
        require(parts.length == 2, s"malformed manifest line in v$v: $line")
        entries += (parts(0) -> parts(1))
      }
    }
    Manifest(v, deltaIds, entries.result(), schema, stats.toMap)
  }

  private def writeManifest(f: FileSystem, log: Path, m: Manifest): Unit = {
    f.mkdirs(log)
    val tmp = new Path(log, s".${manifestName(m.version)}.tmp")
    val sb = new StringBuilder
    sb.append("version ").append(m.version).append('\n')
    sb.append("deltaIds")
    m.deltaIds.foreach(id => sb.append(' ').append(id))
    sb.append('\n')
    // StructType.json is one line (no newline/tab can appear in it)
    m.schema.foreach(s => sb.append("schema ").append(s.json).append('\n'))
    m.entries.sortBy(e => (e._1, e._2)).foreach { case (p, d) =>
      sb.append(p).append('\t').append(d).append('\n')
    }
    m.stats.toSeq.sortBy(_._1).foreach { case (d, cols) =>
      cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        sb.append("stats ").append(d).append('\t').append(c)
          .append('\t').append(lo).append('\t').append(hi).append('\n')
      }
    }
    // synced to stable storage BEFORE the publishing rename: an atomic
    // rename of an unflushed file could publish a truncated manifest
    SwapUtil.writeSynced(f, tmp, sb.toString)
    val dst = new Path(log, manifestName(m.version))
    if (!f.rename(tmp, dst))
      sys.error(s"TxTable: manifest publish failed for $dst " +
        "(concurrent writer? TxTable is single-writer)")
  }

  /** Deltas already folded into the current snapshot. */
  def appliedDeltaIds(spark: SparkSession, target: String): Set[String] =
    currentManifest(spark, target).map(_.deltaIds.toSet).getOrElse(Set.empty)

  /** Record `deltaId` as applied WITHOUT committing any data: the
    * zero-survivor path of batch pipelines. A batch whose rows all gate
    * or dedup away still consumed side effects (signature-store growth)
    * and must not reprocess on rerun — but `commit` rightly refuses an
    * empty write, so the ledger gets the id through a metadata-only
    * manifest version carrying the current entries and schema forward.
    */
  def recordDelta(
      spark: SparkSession,
      target: String,
      deltaId: String,
      expectedVersion: Option[Long] = None): Manifest = {
    require(deltaId.nonEmpty &&
        !deltaId.exists(c => c.isWhitespace || c.isControl),
      s"TxTable: deltaId '$deltaId' must be non-empty with no whitespace/" +
        "control characters (it is stored on a space-separated manifest line)")
    val root = new Path(target)
    val f = fs(spark, root)
    val cur = currentManifest(spark, target)
    expectedVersion.foreach { ev =>
      val got = cur.map(_.version).getOrElse(0L)
      require(got == ev,
        s"TxTable: concurrent commit detected on $target " +
          s"(expected version $ev, found $got) — single-writer contract")
    }
    require(!cur.exists(_.deltaIds.contains(deltaId)),
      s"TxTable: delta '$deltaId' already applied to $target " +
        "(check appliedDeltaIds before folding)")
    val m = Manifest(cur.map(_.version).getOrElse(0L) + 1,
      cur.map(_.deltaIds).getOrElse(Nil) :+ deltaId,
      cur.map(_.entries).getOrElse(Nil),
      cur.flatMap(_.schema),
      cur.map(_.stats).getOrElse(Map.empty))
    writeManifest(f, new Path(root, LogDir), m)
    m
  }

  /** Commit `df` as the new content of the partitions it contains (all
    * other partitions carry over from the current snapshot); with
    * `replaceAll` the new snapshot is exactly `df`, and with `append`
    * the commit ADDS `df` to the touched partitions instead of
    * replacing them (the new generation's directories join the
    * partitions' existing ones — atomic multi-file append for the
    * insert-only sinks; `compact` later collapses the accumulation).
    * Readers see the old snapshot until the single manifest rename,
    * then the new one — never a mix.
    *
    * @param expectedVersion optimistic-concurrency guard: when set, the
    *        commit fails if the table advanced past it since the caller
    *        read (lost-update detection for read-modify-write sinks)
    * @param failpoint test hook, called with a stage label at each
    *        crash-window boundary; production callers leave the default
    */
  def commit(
      spark: SparkSession,
      df: DataFrame,
      target: String,
      partitionBy: Seq[String],
      deltaId: Option[String] = None,
      replaceAll: Boolean = false,
      append: Boolean = false,
      expectedVersion: Option[Long] = None,
      failpoint: String => Unit = _ => (),
      // columns to log per-directory min/max for (cast to double) —
      // the data-skipping metadata readWhere prunes on. Columns absent
      // from stats never prune, so partial adoption is safe.
      statsCols: Seq[String] = Nil): Manifest = {
    require(!(replaceAll && append), "commit: replaceAll and append conflict")
    // the generation id is stored as a directory level (data/gen=N), so
    // a data column named "gen" would collide with the read-side
    // partition derivation and silently shadow user data
    require(!df.columns.exists(_.equalsIgnoreCase("gen")),
      "TxTable: column name 'gen' is reserved for the generation id")
    val root = new Path(target)
    val f = fs(spark, root)
    val cur = currentManifest(spark, target)
    expectedVersion.foreach { ev =>
      val got = cur.map(_.version).getOrElse(0L)
      require(got == ev,
        s"TxTable: concurrent commit detected on $target " +
          s"(expected version $ev, found $got) — single-writer contract")
    }
    deltaId.foreach { id =>
      // ids serialize space-separated on one manifest line: whitespace
      // would split one id into several (replay protection silently
      // weakened) and control chars would corrupt manifest parsing —
      // same reserved-format discipline as the 'gen' column guard
      require(id.nonEmpty && !id.exists(c => c.isWhitespace || c.isControl),
        s"TxTable: deltaId '$id' must be non-empty with no whitespace/" +
          "control characters (it is stored on a space-separated manifest line)")
      require(!cur.exists(_.deltaIds.contains(id)),
        s"TxTable: delta '$id' already applied to $target " +
          "(check appliedDeltaIds before folding)")
    }
    val newV = cur.map(_.version).getOrElse(0L) + 1
    val genRel = s"gen=$newV"
    val genDir = new Path(new Path(root, DataDir), genRel)
    // a crashed previous attempt at this version left an unreferenced
    // orphan — reclaim it (readers never saw it)
    if (f.exists(genDir)) f.delete(genDir, true)
    failpoint("before-data")
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(genDir.toString)
    failpoint("after-data")

    // leaves actually written this generation (data is already on disk)
    val newLeaves: Seq[String] =
      if (partitionBy.isEmpty) Seq("")
      else leafRelPaths(f, genDir).map(_.stripPrefix("/"))
    // an empty partitioned write produces zero leaves. For a PARTIAL
    // commit that would poison the manifest (the touched set is
    // unknowable — fail where the cause is diagnosable); a replaceAll
    // commit of zero rows is a legitimate EMPTY snapshot (e.g. a
    // deletion fold that removed the last group) — readers get an empty
    // frame with the recorded schema.
    require(newLeaves.nonEmpty || replaceAll,
      s"TxTable: commit wrote no partitions to $target — empty input?")
    val newEntries =
      if (newLeaves.isEmpty) Nil
      else newLeaves.map(l =>
        l -> (if (l.isEmpty) genRel else s"$genRel/$l"))
    val touched = newEntries.map(_._1).toSet
    val carried =
      if (replaceAll) Seq.empty[(String, String)]
      else if (append) cur.map(_.entries).getOrElse(Nil)
      else cur.map(_.entries.filterNot(e => touched(e._1))).getOrElse(Nil)
    // the snapshot schema, versioned with the data it describes:
    // replaceAll resets it to the incoming shape; partial/append commits
    // MERGE — columns the snapshot already has keep their type (drift in
    // type fails here, at the commit, where it is diagnosable), columns
    // the incoming delta adds join as nullable (older generations
    // null-fill on read, the u1_union_drift semantics transactionally)
    val newSchema =
      if (replaceAll) df.schema
      else cur.flatMap(_.schema) match {
        case None      => df.schema // first commit, or legacy table
        case Some(old) => mergeSchemas(old, df.schema, target)
      }
    val newStats = statsFor(df, statsCols, partitionBy, genRel,
      newEntries.map(_._2).toSet)
    val liveDirs = (carried ++ newEntries).map(_._2).toSet
    val mergedStats =
      cur.map(_.stats).getOrElse(Map.empty)
        .filter(kv => liveDirs(kv._1)) ++ newStats
    val m = Manifest(newV,
      cur.map(_.deltaIds).getOrElse(Nil) ++ deltaId.toSeq,
      carried ++ newEntries,
      Some(newSchema),
      mergedStats)
    failpoint("before-publish")
    writeManifest(f, new Path(root, LogDir), m)
    m
  }

  /** Per-directory min/max of `statsCols` (as doubles) for the freshly
    * written generation: ONE small aggregate over the commit's own
    * DataFrame (grouped by the partition columns for partitioned
    * tables), never a re-read of written files. Groups whose derived
    * directory name does not match a written leaf (exotic partition-
    * value escaping, null partition values) simply get no stats — an
    * unpruned directory is always correct.
    */
  private def statsFor(
      df: DataFrame,
      statsCols: Seq[String],
      partitionBy: Seq[String],
      genRel: String,
      writtenDirs: Set[String]): Map[String, Map[String, (Double, Double)]] = {
    if (statsCols.isEmpty) return Map.empty
    statsCols.foreach { c =>
      require(df.columns.contains(c), s"TxTable: statsCol '$c' not in commit")
      require(!c.exists(ch => ch == '\t' || ch.isControl || ch == ' '),
        s"TxTable: statsCol '$c' must not contain whitespace/control chars")
    }
    import org.apache.spark.sql.functions.{col, max, min}
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__lo_$c"),
      max(col(c).cast("double")).as(s"__hi_$c")))
    def colsOf(r: org.apache.spark.sql.Row): Map[String, (Double, Double)] =
      statsCols.flatMap { c =>
        val li = r.fieldIndex(s"__lo_$c"); val hi = r.fieldIndex(s"__hi_$c")
        if (r.isNullAt(li) || r.isNullAt(hi)) None
        else Some(c -> ((r.getDouble(li), r.getDouble(hi))))
      }.toMap
    if (partitionBy.isEmpty) {
      val m = colsOf(df.agg(aggs.head, aggs.tail: _*).head())
      if (m.isEmpty) Map.empty else Map(genRel -> m)
    } else {
      val rows = df
        .groupBy(partitionBy.map(c => col(c).cast("string").as(c)): _*)
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      rows.flatMap { r =>
        val vals = partitionBy.map(c => Option(r.getAs[String](c)))
        if (vals.exists(_.isEmpty)) None
        else {
          val rel = partitionBy.zip(vals.map(_.get)).map { case (k, v) =>
            s"$k=" + org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(v)
          }.mkString("/")
          val dir = s"$genRel/$rel"
          val m = colsOf(r)
          if (m.isEmpty || !writtenDirs(dir)) None else Some(dir -> m)
        }
      }.toMap
    }
  }

  /** Snapshot read PRUNED by the manifest's column statistics: only
    * directories whose recorded [min, max] intersects [lower, upper]
    * are listed/read (directories without stats for the column always
    * read — correct by default), then the row-level filter applies on
    * top. This is manifest-level data skipping — for an append stream
    * whose batches cover disjoint key ranges (time, id blocks), a
    * narrow predicate reads O(matching generations), not the table.
    */
  def readWhere(
      spark: SparkSession,
      target: String,
      colName: String,
      lower: Double,
      upper: Double): Option[DataFrame] =
    currentManifest(spark, target)
      .filter(m => m.entries.nonEmpty || m.schema.nonEmpty)
      .map { m =>
        val pruned = m.copy(entries = m.entries.filter(e =>
          statsOverlap(m, e._2, colName, lower, upper)))
        import org.apache.spark.sql.functions.col
        readManifestData(spark, target, pruned)
          .filter(col(colName).cast("double").between(lower, upper))
      }

  /** (directories kept, directories total) that `readWhere` with these
    * bounds would scan — the observable pruning effect, for tests and
    * operational visibility.
    */
  def pruneEffect(
      spark: SparkSession,
      target: String,
      colName: String,
      lower: Double,
      upper: Double): (Int, Int) =
    currentManifest(spark, target).map { m =>
      val dirs = m.dirs.distinct
      (dirs.count(statsOverlap(m, _, colName, lower, upper)), dirs.size)
    }.getOrElse((0, 0))

  private def statsOverlap(
      m: Manifest, dir: String, colName: String,
      lower: Double, upper: Double): Boolean =
    m.stats.get(dir).flatMap(_.get(colName)) match {
      case Some((lo, hi)) => !(hi < lower || lo > upper)
      case None           => true
    }

  /** Delete rows with `colName` in [lower, upper] — the
    * right-to-be-forgotten operation — rewriting ONLY the directories
    * whose recorded stats ranges can contain matching rows: untouched
    * generations carry over by manifest reference, byte-identical and
    * never read. With per-batch key ranges logged at ingest
    * (`commit(statsCols=...)`), deleting one batch's key block rewrites
    * O(matching generations), not the table. Publication is one atomic
    * manifest rename like every commit; deleted rows stay reachable via
    * time travel until `vacuum`.
    *
    * @return number of rows deleted (0 = no directory overlapped or no
    *         row matched; a no-match overlap still rewrites the
    *         directories it had to read to know)
    */
  def deleteWhere(
      spark: SparkSession,
      target: String,
      colName: String,
      lower: Double,
      upper: Double,
      statsCols: Seq[String] = Nil): Long =
    deleteWhereTombstoned(spark, target, colName, lower, upper, statsCols)._1

  /** `deleteWhere` that ALSO returns the deleted rows as an
    * eagerly-materialized tombstone frame (None when nothing matched).
    * A standing `IncrementalRollup` folded from this table goes silently
    * stale on a plain delete; feeding the tombstone to
    * `IncrementalRollup.foldDeletion` subtracts the deleted rows from
    * the count/sum measures in O(tombstone) — the same delta discipline
    * as the rollup's positive folds. Sketch measures (HLL/KLL/FI/theta)
    * cannot subtract; foldDeletion refuses those rollups loudly and the
    * caller must rebuild.
    */
  def deleteWhereTombstoned(
      spark: SparkSession,
      target: String,
      colName: String,
      lower: Double,
      upper: Double,
      statsCols: Seq[String] = Nil): (Long, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val m = currentManifest(spark, target).getOrElse(return (0L, None))
    if (m.entries.isEmpty) return (0L, None)
    val touched = m.entries.filter(e =>
      statsOverlap(m, e._2, colName, lower, upper))
    if (touched.isEmpty) return (0L, None)
    val touchedDirs = touched.map(_._2).toSet
    val untouched = m.entries.filterNot(e => touchedDirs(e._2))

    val partCols = touched.map(_._1).find(_.nonEmpty)
      .map(_.split("/").toSeq.map(_.split("=", 2)(0)))
      .getOrElse(Nil)
    val touchedDf = readManifestData(spark, target, m.copy(entries = touched))
    // SQL DELETE semantics: a row is deleted only when the predicate is
    // definitely TRUE. Null values (including null-filled columns on
    // older generations after schema evolution) make `between` NULL,
    // which must mean "keep", not "drop".
    val matchPred = coalesce(
      col(colName).cast("double").between(lower, upper), lit(false))
    val surviving = touchedDf
      .filter(not(matchPred))
      .localCheckpoint(false)
    // checkpointed BEFORE the manifest swap so the tombstone survives a
    // later vacuum of the rewritten generations
    val deletedRows = touchedDf.filter(matchPred).localCheckpoint(false)
    val deleted = deletedRows.count()

    val root = new Path(target)
    val f = fs(spark, root)
    val newV = m.version + 1
    val genRel = s"gen=$newV"
    val genDir = new Path(new Path(root, DataDir), genRel)
    if (f.exists(genDir)) f.delete(genDir, true)
    val hasSurvivors = !surviving.isEmpty
    val newEntries: Seq[(String, String)] =
      if (!hasSurvivors) Nil
      else {
        val w = surviving.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(genDir.toString)
        val leaves =
          if (partCols.isEmpty) Seq("")
          else leafRelPaths(f, genDir).map(_.stripPrefix("/"))
        leaves.map(l => l -> (if (l.isEmpty) genRel else s"$genRel/$l"))
      }
    val newStats =
      if (!hasSurvivors) Map.empty[String, Map[String, (Double, Double)]]
      else statsFor(surviving, statsCols, partCols, genRel,
        newEntries.map(_._2).toSet)
    val liveDirs = (untouched ++ newEntries).map(_._2).toSet
    writeManifest(f, new Path(root, LogDir),
      Manifest(newV, m.deltaIds, untouched ++ newEntries, m.schema,
        m.stats.filter(kv => liveDirs(kv._1)) ++ newStats))
    (deleted, if (deleted > 0) Some(deletedRows) else None)
  }

  /** Union-of-columns schema merge for partial/append commits: fields
    * present in both sides must agree on type exactly (a silent cast
    * across generations is data corruption — type changes go through a
    * replaceAll rewrite); a field only one side has survives as
    * nullable, because some generation lacks it and reads null there.
    */
  private def mergeSchemas(
      old: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType,
      target: String): org.apache.spark.sql.types.StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val merged = old.fields.map { f =>
      byName.get(f.name) match {
        case Some(nf) =>
          require(nf.dataType == f.dataType,
            s"TxTable: schema drift on $target column '${f.name}': " +
              s"${f.dataType.simpleString} -> ${nf.dataType.simpleString} " +
              "— type changes need a replaceAll commit")
          f.copy(nullable = f.nullable || nf.nullable)
        case None => f.copy(nullable = true)
      }
    }
    val added = incoming.fields
      .filterNot(f => old.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(merged ++ added)
  }

  private def leafRelPaths(f: FileSystem, gen: Path): Seq[String] = {
    val genQ = f.makeQualified(gen)
    def walk(d: Path): Seq[Path] = {
      val kids = f.listStatus(d)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(_.getPath)
      kids.flatMap { k =>
        val sub = walk(k)
        if (sub.isEmpty) Seq(k) else sub
      }.toSeq
    }
    walk(genQ).map(_.toString.stripPrefix(genQ.toString))
  }

  /** The current snapshot as a DataFrame (partition columns restored
    * from directory names, partition-value type inference OFF — same
    * discipline as MergeWrite.readNoInference). Returns None for an
    * absent/never-committed table.
    *
    * The scan lists ONLY the directories the manifest names: driver-side
    * partition pruning against the manifest composes with Spark's own
    * partition pruning inside them.
    */
  def read(spark: SparkSession, target: String): Option[DataFrame] =
    currentManifest(spark, target)
      // a ledger-only manifest with no recorded schema (recordDelta on a
      // never-written table) has no readable shape yet — treat as absent
      .filter(m => m.entries.nonEmpty || m.schema.nonEmpty)
      .map(m => readManifestData(spark, target, m))

  /** Snapshot as of a specific version (time travel; available until
    * vacuumed).
    */
  def readAt(spark: SparkSession, target: String, version: Long): DataFrame = {
    val log = new Path(target, LogDir)
    readManifestData(spark, target,
      readManifest(fs(spark, log), log, version))
  }

  private def readManifestData(
      spark: SparkSession, target: String, m: Manifest): DataFrame = {
    val dataRoot = new Path(target, DataDir).toString
    val dirs = m.dirs.distinct.sorted.map(rel => s"$dataRoot/$rel")
    // a ledger-only table (recordDelta before any data commit) reads as
    // an empty frame when the schema is known
    if (dirs.isEmpty)
      return m.schema
        .map(s => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(sys.error(
          s"TxTable: manifest v${m.version} of $target names no data " +
            "and records no schema — nothing to read"))
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val saved = spark.conf.get(inferKey)
    val df =
      try {
        spark.conf.set(inferKey, "false")
        val reader = spark.read.option("basePath", dataRoot)
        m.schema match {
          case Some(sch) =>
            // the manifest's schema pins the DATA columns, so every
            // generation resolves to the snapshot's logical shape —
            // files missing a later-added column read it as null.
            // Partition columns come from directory names (inference
            // off, string — the established read convention), so they
            // are stripped from the reader schema and re-appended by
            // partition discovery.
            val partCols = m.entries.map(_._1).find(_.nonEmpty)
              .map(_.split("/").toSeq.map(_.split("=", 2)(0)))
              .getOrElse(Nil)
            val dataSchema = org.apache.spark.sql.types.StructType(
              sch.fields.filterNot(f =>
                partCols.exists(_.equalsIgnoreCase(f.name))))
            reader.schema(dataSchema).parquet(dirs: _*)
          case None => reader.parquet(dirs: _*) // legacy manifest
        }
      } finally spark.conf.set(inferKey, saved)
    df.drop("gen") // the generation id is commit metadata, not data
  }

  /** What changed between two snapshots, at generation-directory
    * granularity — directories are immutable once published, so the
    * manifest diff IS the physical change log, computed from two
    * manifest reads without touching data.
    *
    * `appendOnly` is true when every `from` directory survives into
    * `to`: then `addedBetween` returns EXACTLY the rows committed in
    * between. A compaction/replaceAll in the window retires directories
    * (appendOnly=false) and row-level attribution needs table keys
    * instead — the same caveat every manifest-log format carries.
    */
  final case class Diff(
      fromVersion: Long,
      toVersion: Long,
      addedDirs: Seq[String],
      removedDirs: Seq[String],
      newDeltaIds: Seq[String]) {
    def appendOnly: Boolean = removedDirs.isEmpty
  }

  def diff(spark: SparkSession, target: String, from: Long, to: Long): Diff = {
    require(from <= to, s"TxTable.diff: from=$from > to=$to")
    val log = new Path(target, LogDir)
    val f = fs(spark, log)
    val mFrom = readManifest(f, log, from)
    val mTo = readManifest(f, log, to)
    Diff(from, to,
      (mTo.dirs.toSet -- mFrom.dirs).toSeq.sorted,
      (mFrom.dirs.toSet -- mTo.dirs).toSeq.sorted,
      mTo.deltaIds.filterNot(mFrom.deltaIds.toSet))
  }

  /** Rows in directories published between two versions (exactly the
    * appended rows when `diff(...).appendOnly`; reads ONLY the added
    * directories, never the standing table). Empty-but-typed when
    * nothing was added.
    */
  def addedBetween(
      spark: SparkSession, target: String, from: Long, to: Long): DataFrame = {
    val log = new Path(target, LogDir)
    val f = fs(spark, log)
    val mTo = readManifest(f, log, to)
    val added = diff(spark, target, from, to).addedDirs.toSet
    val m = mTo.copy(entries = mTo.entries.filter(e => added(e._2)))
    if (m.entries.isEmpty && mTo.schema.isEmpty)
      // legacy manifest with no schema and no new dirs: nothing to shape
      // an empty frame with — surface it rather than guess
      sys.error(s"TxTable: no directories added between v$from and v$to " +
        s"of $target and no recorded schema for an empty read")
    readManifestData(spark, target, m)
  }

  /** Small-file compaction WITHOUT the maintenance window: rewrite the
    * live snapshot into one fresh generation (right-sized files, one
    * per partition for partitioned tables) and publish it as a normal
    * commit. Readers racing the compaction resolve the old manifest
    * until the atomic publish — the torn-read caveat
    * `Maintenance.compact` documents for plain directories does not
    * exist here. Old generations stay readable until `vacuum`.
    *
    * Returns (filesBefore, filesAfter) over the live snapshot.
    */
  private def parquetFilesIn(f: FileSystem, dataRoot: Path, rel: String): Int = {
    def walk(p: Path): Int = f.listStatus(p).map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
    }.sum
    walk(new Path(dataRoot, rel))
  }

  def compact(spark: SparkSession, target: String): (Int, Int) = {
    val m = currentManifest(spark, target)
      .filter(_.entries.nonEmpty)
      .getOrElse(return (0, 0))
    val root = new Path(target)
    val f = fs(spark, root)
    val dataRoot = new Path(root, DataDir)
    def parquetFiles(rel: String): Int = parquetFilesIn(f, dataRoot, rel)
    val before = m.dirs.distinct.map(parquetFiles).sum
    // partition columns are recoverable from any leaf rel path (k=v/..)
    val partitionBy = m.entries.map(_._1).find(_.nonEmpty)
      .map(_.split("/").toSeq.map(_.split("=", 2)(0)))
      .getOrElse(Nil)
    val snapshot = readManifestData(spark, target, m)
    val aligned =
      if (partitionBy.isEmpty) snapshot.coalesce(1)
      else snapshot.repartition(partitionBy.map(
        org.apache.spark.sql.functions.col): _*)
    val m2 = commit(spark, aligned, target, partitionBy,
      replaceAll = true, expectedVersion = Some(m.version))
    val after = m2.dirs.distinct.map(parquetFiles).sum
    (before, after)
  }

  /** [[compact]] with a z-order-CLUSTERED rewrite (the opt-in layout
    * lever on the transactional path): the live snapshot is rewritten
    * as one fresh generation whose ~`numFiles` files are Morton-curve
    * clustered on `zCols` (`ops.Layout.zOrderStage` — range
    * repartition + in-partition sort on the z-code, pure Column bit
    * arithmetic). Same atomic publish, snapshot isolation, and
    * time-travel semantics as `compact`; the ONLY difference readers
    * can observe is statistics:
    *
    *  - every data file's parquet footer covers a small BOX in the
    *    `zCols` space, so a pushed range predicate on ANY subset of
    *    them skips most files/row groups (the Layout.fileBoxes win,
    *    now on the transactional table);
    *  - `zCols` min/max are logged as generation stats, so later
    *    `readWhere`/`deleteWhere` calls prune this generation against
    *    appends that follow the compaction.
    *
    * Unpartitioned tables only: a partitioned table's layout is
    * already pinned by its partition columns (cluster WITHIN
    * partitions is a different, finer lever) — use [[compact]] there.
    * `robustCols` selects outlier-immune quantile normalization per
    * column (see [[graft.ops.Layout.zOrderWrite]]).
    */
  def compactClustered(
      spark: SparkSession,
      target: String,
      zCols: Seq[String],
      bits: Int = 12,
      numFiles: Int = 16,
      robustCols: Set[String] = Set.empty): (Int, Int) = {
    val m = currentManifest(spark, target)
      .filter(_.entries.nonEmpty)
      .getOrElse(return (0, 0))
    val partitioned = m.entries.map(_._1).find(_.nonEmpty)
    require(partitioned.isEmpty,
      s"compactClustered supports unpartitioned tables; $target is " +
        s"partitioned (${partitioned.get}) — use compact, or cluster " +
        "upstream of the commit")
    val root = new Path(target)
    val f = fs(spark, root)
    val dataRoot = new Path(root, DataDir)
    val before = m.dirs.distinct.map(parquetFilesIn(f, dataRoot, _)).sum
    val snapshot = readManifestData(spark, target, m)
    val staged = graft.ops.Layout.zOrderStage(snapshot, zCols, bits,
        robustCols)
      .repartitionByRange(numFiles,
        org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val m2 = commit(spark, staged, target, Nil, replaceAll = true,
      expectedVersion = Some(m.version), statsCols = zCols)
    (before, m2.dirs.distinct.map(parquetFilesIn(f, dataRoot, _)).sum)
  }

  /** Drop generations and manifests not reachable from the newest
    * `keepVersions` manifests. With the default (1) only the live
    * snapshot survives; readers of already-resolved older snapshots may
    * fail after a vacuum — the standard snapshot-retention tradeoff,
    * under the caller's control.
    *
    * The applied-delta ledger grows by one id per delta commit — at
    * batch cadence that is trivial forever, but a per-minute streaming
    * writer accumulates ~0.5M ids/year of manifest weight. Pass
    * `keepDeltaIds` to truncate the ledger to its newest N entries,
    * published atomically as a new manifest version: replay protection
    * then covers only the retained window (the same retention contract
    * as every production table format), so keep it comfortably larger
    * than the furthest plausible replay.
    */
  def vacuum(
      spark: SparkSession, target: String, keepVersions: Int = 1,
      keepDeltaIds: Int = Int.MaxValue): Unit = {
    require(keepVersions >= 1, "vacuum must keep at least the live snapshot")
    require(keepDeltaIds >= 0, "keepDeltaIds must be >= 0")
    currentManifest(spark, target).foreach { m =>
      if (m.deltaIds.length > keepDeltaIds) {
        val root = new Path(target)
        writeManifest(fs(spark, root), new Path(root, LogDir),
          m.copy(version = m.version + 1,
            deltaIds = m.deltaIds.takeRight(keepDeltaIds)))
      }
    }
    val root = new Path(target)
    val f = fs(spark, root)
    val log = new Path(root, LogDir)
    if (!f.exists(log)) return
    val versions = f.listStatus(log).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted
    if (versions.isEmpty) return
    val keep = versions.takeRight(keepVersions)
    val liveGens: Set[String] = keep.flatMap { v =>
      readManifest(f, log, v).dirs.map(_.split("/", 2)(0))
    }.toSet
    val dataRoot = new Path(root, DataDir)
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).map(_.getPath)
        .filter(p => p.getName.startsWith("gen=") && !liveGens(p.getName))
        .foreach(p => f.delete(p, true))
    versions.dropRight(keepVersions).foreach(v =>
      f.delete(new Path(log, manifestName(v)), false))
  }

}
