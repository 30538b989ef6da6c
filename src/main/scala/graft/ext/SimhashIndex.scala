package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Persisted Hamming-space TEXT index — the SimHash instantiation
  * of the shared [[HammingIndex]] posting layout (see that file for the
  * artifact design, pruning math, and exactness argument): the serving
  * lever for "find every stored near-copy of THIS document" queries —
  * takedown sweeps, provenance lookups, contamination spot checks —
  * over a corpus that outgrew `Dedup.simhashNearDups`' batch shape.
  *
  * The signature is the SAME `Dedup.simhashFrame` SimHash the one-shot
  * pair search and its gates use (native `graft_simhash` when the
  * session has GraftExtensions, bit-identical declarative fallback
  * otherwise), so "within H bits in the index" means exactly what it
  * means everywhere else in the engine. Every layout/probe line is
  * shared with [[ImageIndex]], whose probe-equals-exhaustive equality
  * is held against the brute-force DuckDB oracle
  * (`ext_image_index_topk`); SimhashIndexSpec holds the same equality
  * in-engine for the text instantiation (SimHash itself is xxhash64-
  * based and deliberately not restated in SQL — the frozen-golden
  * discipline documented with the simhash gates).
  *
  * Relationship to the family: `IncrementalDedup`'s band store answers
  * "is this BATCH near anything stored" at crawl cadence; this index
  * answers "what is near this PROBE" at serving cadence over a frozen
  * corpus snapshot. Rebuild = rerun `build` (stage-aside swap: a
  * concurrent probe never observes a half-written index).
  */
object SimhashIndex {

  private val What = "simhash index"

  /** SimHash `df`'s `textCol` and persist the posting layout at `path`.
    * Empty/whitespace-only documents all hash to ONE constant signature
    * (the single empty-token vote — identical in BOTH the native and
    * declarative forms; row-identity is asserted in ExtSpec) and are
    * indexed as such: identical empty content is a true duplicate
    * class, and the degenerate all-empty cluster is bounded by the
    * family's hub caps. NULL-text documents hash to NULL and are NOT
    * indexed (filtered before the layout, mirroring the image family's
    * null-hash rows — a null signature would otherwise explode into
    * phantom null-cval postings).
    */
  /** The signature frame with NULL signatures filtered — NULL-text
    * docs must not reach the posting layout (HammingIndex.build's
    * precondition: a null sh would explode into phantom null-cval
    * postings that inflate the row/staleness accounting).
    */
  private def hashed(df: DataFrame, idCol: String, textCol: String) =
    Dedup.simhashFrame(df, idCol, textCol).filter(col("sh").isNotNull)

  def build(df: DataFrame, idCol: String, textCol: String, path: String,
      maxHamming: Int = 7, filesPerChunk: Int = 8): Unit =
    HammingIndex.build(hashed(df, idCol, textCol), path,
      maxHamming, filesPerChunk, What, "Dedup.simhashNearDups")

  /** True when a built artifact exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    HammingIndex.exists(spark, path)

  /** The blocking bound the artifact was built at (from build_meta). */
  def boundOf(spark: SparkSession, path: String): Int =
    HammingIndex.boundOf(spark, path, What)

  type AppendResult = HammingIndex.AppendResult

  /** Takedown: forgotten doc_ids (a `doc_id` column) stop ranking in
    * [[topK]] IMMEDIATELY; an explicit re-ingest via [[append]]
    * readmits; [[build]] clears the tombstones with the layout. The
    * index sits under the same erasure surface as the stores.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    HammingIndex.forget(spark, path, ids, What)

  /** Incrementally grow the index with a batch of new documents — see
    * [[HammingIndex.append]] for the discipline (id anti-join against
    * one chunk partition, staleness vs the build-time row count,
    * rebuild advice past the threshold).
    */
  def append(df: DataFrame, idCol: String, textCol: String, path: String,
      rebuildThreshold: Double = 0.5): AppendResult =
    HammingIndex.append(hashed(df, idCol, textCol), path,
      rebuildThreshold, What)

  /** Re-pack the layout from the artifact alone (no corpus re-hash):
    * appended files merge back into the packed cval-sorted slices,
    * tombstoned documents erase physically, staleness resets — see
    * [[HammingIndex.compact]]. The default (0) re-packs at the fan-out
    * the index was BUILT at, read from build_meta — a maintenance pass
    * never silently changes the pruning granularity. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
      filesPerChunk: Int = 0): (Int, Int) =
    HammingIndex.compact(spark, path, HammingIndex.Chunked, filesPerChunk,
      What)

  /** Bounded-distance top-k against the persisted index: for each probe
    * document, the k nearest corpus documents WITHIN the index's
    * Hamming bound — equal to the exhaustive top-k restricted to the
    * bound. Probe signatures are a BOUNDED driver-side set (a serving
    * call — enforced); see [[HammingIndex.topK]] for the pruned-scan
    * shape.
    */
  def topK(spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, textCol: String, k: Int,
      maxProbes: Int = 4096): DataFrame = {
    // NULL-text probes have no signature to search with (they were
    // never indexed either) — filtered, like ImageIndex's null hashes
    val qs = hashed(probes, idCol, textCol)
      .select(col("doc_id").as("q_id"), col("sh").as("qsh"))
      .limit(maxProbes + 1)
      .collect()
    require(qs.length <= maxProbes,
      s"simhashIndex: more than $maxProbes probes — this is a serving " +
        "call; batch-vs-corpus jobs belong on IncrementalDedup/" +
        "simhashNearDups")
    HammingIndex.topK(spark, path,
      qs.map(r => (r.getLong(0), r.getLong(1))), k, What)
  }
}
