package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-maintenance operators: the table-layout jobs that keep a 100 TB
  * parquet lake scannable. The reference never needs them (SQLite has no
  * file layout), but any lake the engine writes at scale does:
  *
  *  - COMPACTION: streaming/incremental ingest (EventIngest, UpsertIgnore
  *    appends) accumulates small files; scans then pay per-file open cost
  *    and lose row-group parallelism. Rewrite to ~target-sized files.
  *  - CLUSTERING: range-partition + sort by a filter column so every file
  *    covers a disjoint value range — parquet footer min/max then prunes
  *    whole files for range predicates, the file-level analog of
  *    partition-directory pruning (for columns too high-cardinality to
  *    partition by).
  */
object Maintenance {

  /** One recursive listing of the table: data-file count, total bytes,
    * and leaf-directory count (= partition-value count for partitioned
    * tables, 1 for flat). On object stores LIST is the dominant metadata
    * cost — everything compact needs comes from this single walk.
    */
  private[graft] final case class TableStats(files: Int, bytes: Long, leafDirs: Int)

  private[graft] def tableStats(spark: SparkSession, path: String): TableStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(dir: Path): TableStats = {
      val kids = fs.listStatus(dir).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      val (dirs, files) = kids.partition(_.isDirectory)
      if (dirs.isEmpty) TableStats(files.length, files.map(_.getLen).sum, 1)
      else {
        val sub = dirs.map(d => walk(d.getPath))
        TableStats(
          files.length + sub.map(_.files).sum,
          files.map(_.getLen).sum + sub.map(_.bytes).sum,
          sub.map(_.leafDirs).sum)
      }
    }
    if (fs.exists(p)) walk(p) else TableStats(0, 0L, 0)
  }

  /** Count of data files under `path`, descending into partition dirs. */
  private[graft] def dataFileCount(spark: SparkSession, path: String): Int =
    tableStats(spark, path).files

  /** Partition columns of a directory-partitioned table, outermost first
    * (`k=v` directory levels), empty for flat tables.
    */
  private[graft] def partitionColsOf(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def firstLevels(dir: Path, acc: Seq[String]): Seq[String] = {
      val kids = fs.listStatus(dir).filterNot(st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      kids.find(st => st.isDirectory && st.getPath.getName.contains("=")) match {
        case Some(d) =>
          firstLevels(d.getPath, acc :+ d.getPath.getName.split("=", 2)(0))
        case None => acc
      }
    }
    firstLevels(new Path(path), Nil)
  }

  /** Rewrite `path` into ~targetFileBytes-sized files.
    * Round-robin repartition (not coalesce): coalesce collapses scan
    * parallelism AND inherits skewed input splits; an even shuffle costs
    * one pass and yields uniform files.
    *
    * A directory-partitioned table is rewritten WITH its partition layout
    * (detected from the `k=v` dirs) — compaction must never trade away
    * directory pruning. Two details that keep "layout-preserving" true:
    *  - partition values are read AS STRINGS (type inference off for the
    *    rewrite scan), so directory names round-trip byte-identically
    *    (`k=007` stays `k=007`, not `k=7`);
    *  - rows shuffle on (partition cols, salt) where the salt fans each
    *    value over ~perValueFiles = ceil(bytes/leafDirs/target) buckets —
    *    a hot partition gets multiple target-sized files and multiple
    *    write tasks instead of one giant single-task file. (perValueFiles
    *    assumes near-even partitions; a skewed-beyond-average partition
    *    still compacts, just with proportionally larger files.)
    *
    * Returns (dataFilesBefore, dataFilesAfter). The rewrite commits
    * through `SwapUtil.replace`; every call first heals the table with
    * `SwapUtil.recoverUnder`, so a crash between the two swap renames
    * (this compaction's or an earlier sink's) is healed before the read.
    * So is every durable store's next read: `DurableStore.hasData`
    * restores a parked table before reporting it absent.
    *
    * CONTRACT — single writer, no concurrent readers during the swap
    * (SwapUtil's contract): a reader listing the path between the two
    * renames sees a missing table. On object stores directory "rename"
    * is an O(data) copy, widening that window — there the production
    * answer is a manifest/pointer commit (Delta/Iceberg style), which is
    * out of scope for a plain-parquet lake; this compact is the
    * maintenance-window tool.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compactWith(spark, path, targetFileBytes, identity)

  /** `compact` that ALSO applies `transform` to the rows during the
    * rewrite — the mechanism behind tombstone FOLDING in the durable
    * dedup stores: compaction is the one moment the whole table is
    * rewritten anyway, so subtracting forgotten owners there is free,
    * and it physically removes the rows a takedown only masked (the
    * right-to-erasure end state; until the fold, `forget` tombstones
    * merely hide them from probes). Same swap/heal discipline and
    * single-writer contract as `compact`.
    */
  def compactWith(spark: SparkSession, path: String,
      targetFileBytes: Long,
      transform: DataFrame => DataFrame): (Int, Int) =
    compactCore(spark, path, targetFileBytes, transform, None)

  /** `compact` that rewrites the files z-order-CLUSTERED on `zCols`
    * (plain-directory sibling of `TxTable.compactClustered`):
    * compaction is the one moment the table is rewritten anyway, so
    * re-clustering there is free, and each output file's parquet
    * footer then covers a small box in the `zCols` space — range
    * predicates on any subset of the keys skip most files. Flat
    * directories only (a partitioned dir's layout is pinned by its
    * partition columns). `robustCols` per-column quantile
    * normalization as in [[graft.ops.Layout.zOrderWrite]].
    */
  def compactClustered(spark: SparkSession, path: String,
      zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bits: Int = 12,
      robustCols: Set[String] = Set.empty): (Int, Int) = {
    require(partitionColsOf(spark, path).isEmpty,
      s"compactClustered supports flat directories; $path is partitioned")
    compactCore(spark, path, targetFileBytes, identity,
      Some((df, n) => graft.ops.Layout.zOrderStage(df, zCols, bits, robustCols)
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")))
  }

  private def compactCore(spark: SparkSession, path: String,
      targetFileBytes: Long,
      transform: DataFrame => DataFrame,
      shape: Option[(DataFrame, Int) => DataFrame]): (Int, Int) = {
    require(targetFileBytes >= 1024 * 1024,
      s"targetFileBytes must be >= 1 MiB, got $targetFileBytes")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // heal a crashed swap (this table's or a partition leaf's) BEFORE
    // reading: a rewrite of a crash-truncated table commits the loss
    SwapUtil.recoverUnder(fs, p)
    val stats = tableStats(spark, path)
    val partCols = partitionColsOf(spark, path)
    val nFiles = math.max(1, math.ceil(stats.bytes.toDouble / targetFileBytes).toInt)
    // partition values read AS STRINGS, so directory names round-trip
    val base = transform(
      MergeWrite.readNoInference(spark, path, partCols.nonEmpty))

    val df =
      if (partCols.nonEmpty) {
        val perValueFiles = math.max(1, math.ceil(
          stats.bytes.toDouble / math.max(stats.leafDirs, 1) / targetFileBytes).toInt)
        val dataCols = base.columns.filterNot(partCols.contains).map(col)
        val salt =
          if (dataCols.isEmpty) lit(0)
          else pmod(hash(dataCols: _*), lit(perValueFiles))
        base.repartition(nFiles, (partCols.map(col) :+ salt): _*)
      } else shape.fold(base.repartition(nFiles))(s => s(base, nFiles))
    SwapUtil.replace(fs, p, "compact")(MergeWrite.writeTo(df, partCols))
    (stats.files, dataFileCount(spark, path))
  }

  /** Range-clustered write: repartitionByRange + sortWithinPartitions on
    * `clusterCol`, so each output file covers a disjoint range of the
    * column and footer min/max stats prune whole files for range filters.
    */
  def clusterBy(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** 32-bit Morton/Z value: interleaves the low 16 bits of two
    * non-negative long columns (a in even positions, b in odd). Pure
    * bitwise Column expression — stays inside codegen.
    */
  private[graft] def z16(a: Column, b: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-ORDER clustered write over TWO columns: each column is min/max
    * normalized to 16 bits, the bits interleaved into a Morton code, and
    * files range-partitioned by that code — so every file covers a small
    * rectangle in (colA, colB) space and footer stats prune files for
    * range predicates on EITHER column. 1-D clusterBy can only serve one
    * column; this is the standard multi-dimensional layout (Delta/Iceberg
    * OPTIMIZE ZORDER) for tables filtered along two axes.
    *
    * The min/max normalization stats are one tiny aggregate collected to
    * the driver (4 longs) — a query parameter, not a data collect. An
    * empty input (or all-null/non-numeric cluster column: null min/max)
    * degrades to a plain write rather than failing — there is nothing to
    * order.
    */
  def zOrderBy(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(colA != colB, "zOrderBy needs two distinct columns")
    require(!df.columns.contains("__z"), "__z is reserved by zOrderBy")
    val stats = df.agg(
      min(col(colA)).cast("double").as("loA"), max(col(colA)).cast("double").as("hiA"),
      min(col(colB)).cast("double").as("loB"), max(col(colB)).cast("double").as("hiB"))
      .head()
    if (stats.anyNull) {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    def norm(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)
        .cast("long")
    val z = z16(
      norm(colA, stats.getDouble(0), stats.getDouble(1)),
      norm(colB, stats.getDouble(2), stats.getDouble(3)))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
