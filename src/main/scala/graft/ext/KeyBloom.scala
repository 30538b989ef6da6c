package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** [EXT] Bloom-filter sidecars for the durable dedup stores.
  *
  * The incremental stores resolve collisions by scanning `keys/` (never
  * shuffled, batch broadcast) — correct and bounded, but at crawl scale
  * the store holds billions of keys and EVERY daily probe re-reads all
  * of them even when the batch is almost entirely new URLs/lines. A
  * per-ingest Bloom sidecar over the registered 64-bit key hashes lets
  * the probe prove "none of these batch keys can be in the store" from
  * O(store-bits) broadcast metadata and skip the store scan outright —
  * and when only a sliver of the batch might collide, the store-side
  * semi-join probes a far smaller broadcast set.
  *
  * Correctness rests on ONE invariant: Bloom filters never produce
  * false NEGATIVES, so a key the sidecars reject is definitely absent
  * and may register as new without consulting the store. That in turn
  * requires the sidecar set to COVER every committed key, which is
  * maintained by induction:
  *
  *  - an ingest writes its sidecar BEFORE appending its keys (a crash
  *    between the two leaves a bloom that over-approximates — harmless);
  *  - sidecars are only ever written when the store is brand new or the
  *    bloom dir already has data (a legacy store that predates blooms
  *    stays bloom-less — pruning silently disabled — until compaction
  *    rebuilds full coverage);
  *  - compaction rebuilds ONE right-sized sidecar from the live keys
  *    (physically dropping forgotten owners from the bloom too), or
  *    deletes the bloom dir entirely if the store has outgrown
  *    `maxBloomBytes` — never leaves partial coverage behind.
  *
  * A false POSITIVE only costs a store-scan probe that finds no owner —
  * the pre-bloom behavior — so degradation under growth or hash
  * collision is gradual and never wrong.
  *
  * Sizing: `bitsPerKey` = 16 by default (~0.05% false-positive rate per
  * sidecar with k = 11 probes). Per-ingest sidecars are sized to that
  * ingest's NEW keys, so total sidecar bytes ≈ bitsPerKey/8 per stored
  * key (2 B/key vs the 16 B/key store rows). Probing consults every
  * sidecar until compaction folds them into one, so per-key probe cost
  * grows with ingests-since-compaction — the same cadence pressure that
  * already motivates compacting the store files themselves.
  */
final class KeyBloom(
    val numBits: Long,
    val numHashes: Int,
    val words: Array[Long]) extends Serializable {

  import KeyBloom.mix64

  def add(keyHash: Long): Unit = {
    val h1 = mix64(keyHash)
    val h2 = mix64(keyHash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      words((bit >>> 6).toInt) |= 1L << (bit & 63)
      i += 1
    }
  }

  def contains(keyHash: Long): Boolean = {
    val h1 = mix64(keyHash)
    val h2 = mix64(keyHash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def or(other: KeyBloom): KeyBloom = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"incompatible blooms: ($numBits,$numHashes) vs " +
        s"(${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def sizeBytes: Long = words.length.toLong * 8
}

object KeyBloom {

  /** splitmix64 finalizer: decorrelates the probe sequence from the
    * store's xxhash64 key hashes (h2 must be independent of h1 for
    * double hashing to behave like k independent hashes).
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Bits sized to `expectedKeys * bitsPerKey` (min one word), probe
    * count k = ln2 * bitsPerKey (the optimum for that load).
    */
  def create(expectedKeys: Long, bitsPerKey: Int): KeyBloom = {
    val bits = math.max(64L, expectedKeys * bitsPerKey)
    val wordCount = ((bits + 63) / 64).toInt
    val k = math.max(1, math.round(0.693 * bitsPerKey).toInt)
    new KeyBloom(wordCount.toLong * 64, k, new Array[Long](wordCount))
  }

  /** Build distributed: each partition fills a local copy, partials OR
    * together (partial size = the bloom itself, so the aggregate is
    * bounded by maxBloomBytes-scale metadata, not by key count).
    */
  def build(
      spark: SparkSession,
      keyHashes: DataFrame,
      expectedKeys: Long,
      bitsPerKey: Int): KeyBloom = {
    import spark.implicits._
    val template = create(expectedKeys, bitsPerKey)
    val (bits, k) = (template.numBits, template.numHashes)
    keyHashes.select(keyHashes.columns.head).as[Long].rdd.treeAggregate(
      new KeyBloom(bits, k, new Array[Long]((bits >>> 6).toInt)))(
      (b, h) => { b.add(h); b }, (a, b) => a.or(b))
  }

  // ---- durable sidecars -------------------------------------------------

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append one sidecar file for an ingest's newly-registered keys. */
  def writeSidecar(
      spark: SparkSession,
      bloomDir: String,
      bloom: KeyBloom,
      nKeys: Long): Unit = {
    val buf = java.nio.ByteBuffer.allocate(bloom.words.length * 8)
    buf.asLongBuffer().put(bloom.words)
    spark.createDataFrame(Seq(
      (bloom.numBits, bloom.numHashes, nKeys, buf.array())))
      .toDF("num_bits", "num_hashes", "n_keys", "bits")
      .repartition(1).write.mode("append").parquet(bloomDir)
  }

  /** Load every committed sidecar, or None when the dir has no data or
    * the total exceeds `maxBloomBytes` (the budget guards both driver
    * and broadcast memory; over budget the caller falls back to the
    * plain full-scan probe).
    */
  def loadSidecars(
      spark: SparkSession,
      bloomDir: String,
      maxBloomBytes: Long): Option[Seq[KeyBloom]] =
    loadSidecarsMeta(spark, bloomDir, maxBloomBytes).map(_._1)

  /** [[loadSidecars]] plus the total registered-key count across the
    * sidecars (an over-approximation of distinct live keys until
    * compaction rebuilds it exact) — one read serves callers that gate
    * the probe on key-space saturation (IncrementalImageDedup).
    */
  def loadSidecarsMeta(
      spark: SparkSession,
      bloomDir: String,
      maxBloomBytes: Long): Option[(Seq[KeyBloom], Long)] = {
    if (!DurableStore.hasData(spark, bloomDir)) return None
    val rows = graft.sinks.StoreRead.parquet(spark, bloomDir)
      .select("num_bits", "num_hashes", "bits", "n_keys").collect()
    val blooms = rows.toSeq.map {
      case Row(bits: Long, k: Int, b: Array[Byte], _) =>
        val words = new Array[Long](b.length / 8)
        java.nio.ByteBuffer.wrap(b).asLongBuffer().get(words)
        new KeyBloom(bits, k, words)
    }
    if (blooms.map(_.sizeBytes).sum > maxBloomBytes) None
    else Some((blooms, rows.map(_.getAs[Long]("n_keys")).sum))
  }

  /** Rebuild the bloom dir as ONE sidecar over the (compacted, live)
    * store keys, or delete it when the store has outgrown the budget —
    * either way full coverage or no blooms at all, never partial.
    * Crash between delete and write leaves no bloom dir: probes
    * full-scan (correct) and ingests stop writing sidecars until the
    * next compaction re-arms. Returns whether blooms are now active.
    */
  def rebuild(
      spark: SparkSession,
      bloomDir: String,
      keyHashes: DataFrame,
      keyCount: Long,
      bitsPerKey: Int,
      maxBloomBytes: Long): Boolean = {
    val p = new Path(bloomDir)
    val sized = create(keyCount, bitsPerKey)
    if (sized.sizeBytes > maxBloomBytes) {
      fs(spark, bloomDir).delete(p, true)
      false
    } else {
      val bloom = build(spark, keyHashes, keyCount, bitsPerKey)
      fs(spark, bloomDir).delete(p, true)
      writeSidecar(spark, bloomDir, bloom, keyCount)
      true
    }
  }
}
