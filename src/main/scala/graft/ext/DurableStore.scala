package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, udf}

import graft.sinks.{StoreRead, SwapUtil}

/** The plumbing every durable dedup store shares (MinHash, embedding,
  * image, keyed, line, substring and the landmark store): each store
  * owns its tables' contents and its probe, and this module owns what a
  * store does to its tables.
  *
  *   store/<table>/    per-store parquet tables, appended per ingest
  *   store/forgotten/  (owner id)  — takedown tombstones
  *   store/<bloom>/    optional KeyBloom sidecars over one table's keys
  *
  * Existence: a table exists only when it holds COMMITTED parquet files.
  * A crashed first append leaves only `<table>/_temporary/`; a bare
  * directory check would send the rerun's probe into a schemaless read
  * (UNABLE_TO_INFER_SCHEMA) and wedge the store, while [[hasData]] reads
  * it as absent and the rerun converges. A compaction that crashed
  * between its two swap renames leaves the table parked at
  * `.<table>__old`; [[hasData]] restores it first (`SwapUtil.recoverOne`),
  * so no ingest mistakes a parked store for an empty one and no
  * compaction then discards the parked rows.
  *
  * Takedown: [[forget]] is an O(takedown) tombstone append. Probes read
  * [[live]], the table minus the forgotten owners (the tombstone set is
  * takedown-sized, so it broadcasts into an anti-join along the single
  * store scan), so a forgotten owner stops blocking at once while its
  * rows stay physically present. [[compact]] settles that debt: the
  * store is rewritten anyway, so each table is rewritten MINUS the
  * forgotten owners and the tombstone set is cleared.
  *
  * Crash ordering of the fold: `forgotten/` is cleared LAST, after every
  * table rewrite committed. A crash after some rewrites leaves
  * tombstones that anti-join already-absent rows (a no-op), so probes
  * stay correct through every window and the next fold converges. Each
  * table rewrite is one `SwapUtil.replace` (Maintenance.compact), healed
  * by [[hasData]] if it crashed between its renames.
  *
  * The fold's anti-join keys are the tombstone frame's own columns (each
  * store's `forget` writes exactly its id column), so one fold serves
  * stores with different id column names.
  */
private[graft] object DurableStore {

  /** True only when `path` holds COMMITTED parquet data files, after
    * healing a swap that crashed between its renames.
    */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = SwapUtil.healed(spark, path)
    fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")
    }
  }

  /** The committed table at `path`, or None when it has no data yet. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (hasData(spark, path)) Some(StoreRead.parquet(spark, path)) else None

  private def forgottenPath(storePath: String) = s"$storePath/forgotten"

  /** The live rows of `storePath/table`: registered rows minus those
    * whose owner (`idCol`) was forgotten.
    */
  def live(spark: SparkSession, storePath: String, table: String,
      idCol: String = "doc_id"): DataFrame = {
    val rows = StoreRead.parquet(spark, s"$storePath/$table")
    read(spark, forgottenPath(storePath)).fold(rows)(f =>
      rows.join(broadcast(f), Seq(idCol), "left_anti"))
  }

  /** Append `ids` (exactly the store's id column) as tombstones. Fresh
    * copies of forgotten content are admitted again under a NEW owner
    * id, the right-to-erasure semantics for dedup state.
    */
  def forget(storePath: String, ids: DataFrame): Unit =
    ids.write.mode("append").parquet(forgottenPath(storePath))

  /** Row count of the committed table at `path`, 0 before its first
    * append; with `distinctOn`, the count of distinct values of those
    * columns.
    */
  def count(spark: SparkSession, path: String,
      distinctOn: Seq[String] = Nil): Long =
    read(spark, path).fold(0L) { t =>
      if (distinctOn.isEmpty) t.count()
      else t.select(distinctOn.map(col): _*).distinct().count()
    }

  /** Compact every committed table of `tables` (names under
    * `storePath`), folding the tombstones into each rewrite, then clear
    * `forgotten/` and re-arm the store's bloom coverage, if it has one.
    * Run between ingests (compaction shares the sinks' single-writer
    * contract). Returns (files before, files after) summed over the
    * rewritten tables.
    */
  def compact(
      spark: SparkSession,
      storePath: String,
      tables: Seq[String],
      targetFileBytes: Long,
      bloom: Option[Bloom] = None): (Int, Int) = {
    val fPath = forgottenPath(storePath)
    val tombstoned = hasData(spark, fPath)
    val counts = tables.map(t => s"$storePath/$t").filter(hasData(spark, _))
      .map { t =>
        if (!tombstoned)
          graft.sinks.Maintenance.compact(spark, t, targetFileBytes)
        else {
          // read once per table (the fold runs inside the rewrite); the
          // tombstone set is takedown-sized, so it broadcasts
          val forgotten = StoreRead.parquet(spark, fPath)
          val keys = forgotten.columns.toSeq
          graft.sinks.Maintenance.compactWith(spark, t, targetFileBytes,
            df => df.join(broadcast(forgotten.dropDuplicates(keys)),
              keys, "left_anti"))
        }
      }.foldLeft((0, 0)) { case ((a, b), (x, y)) => (a + x, b + y) }
    if (tombstoned) {
      val p = new Path(fPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    bloom.foreach(rearm(spark, _))
    counts
  }

  /** KeyBloom coverage of one store table: sidecars under `dir` over the
    * 64-bit key hashes `keysOf` derives from the rows of the table at
    * path `table` (a one-column frame). The coverage rule (see [[KeyBloom]]) lives here:
    * [[mightCollide]] prunes a probe, [[cover]] writes an ingest's
    * sidecar before its keys append, and [[compact]] re-arms one sidecar
    * over the live keys.
    */
  final case class Bloom(
      dir: String,
      table: String,
      keysOf: DataFrame => DataFrame,
      bitsPerKey: Int,
      maxBloomBytes: Long)

  /** Probe-key pruning: the rows of `keys` whose hash `keyHash` some
    * sidecar might hold. Keys every sidecar rejects are PROVEN absent
    * (no false negatives), so dropping them leaves any collision join
    * bit-identical. With no usable sidecars every key is kept.
    */
  def mightCollide(spark: SparkSession, bloom: Bloom, keys: DataFrame,
      keyHash: Column): DataFrame =
    KeyBloom.loadSidecars(spark, bloom.dir, bloom.maxBloomBytes)
      .fold(keys)(filterBy(spark, keys, keyHash, _))

  /** The rows of `keys` whose hash `keyHash` some of `blooms` holds. */
  def filterBy(spark: SparkSession, keys: DataFrame, keyHash: Column,
      blooms: Seq[KeyBloom]): DataFrame = {
    val bc = spark.sparkContext.broadcast(blooms)
    val hit = udf((h: Long) => bc.value.exists(_.contains(h)))
    keys.filter(hit(keyHash))
  }

  /** Write the sidecar over an ingest's new key `hashes` (one column).
    * Call BEFORE appending the keys: a crash in between leaves a bloom
    * that over-approximates (harmless), while the reverse order could
    * leave committed keys no sidecar covers, a false "proven absent".
    * Written only while coverage holds: a store born with blooms
    * (`storeExisted` false) or armed by compaction; a store that
    * predates its blooms stays bloom-less until [[compact]] arms it.
    */
  def cover(spark: SparkSession, bloom: Bloom, storeExisted: Boolean,
      hashes: DataFrame): Unit =
    if (!storeExisted || hasData(spark, bloom.dir)) {
      val n = hashes.count()
      if (n > 0)
        KeyBloom.writeSidecar(spark, bloom.dir,
          KeyBloom.build(spark, hashes, n, bloom.bitsPerKey), n)
    }

  /** Rebuild ONE right-sized sidecar over the table's (compacted, live)
    * keys: forgotten owners drop out of the bloom, per-ingest sidecars
    * fold into one probe per key, and a store that predates its blooms
    * is armed (see KeyBloom.rebuild for the over-budget case).
    */
  private def rearm(spark: SparkSession, bloom: Bloom): Unit =
    read(spark, bloom.table).foreach { t =>
      val keys = bloom.keysOf(t)
      KeyBloom.rebuild(spark, bloom.dir, keys, keys.count(),
        bloom.bitsPerKey, bloom.maxBloomBytes)
    }
}
