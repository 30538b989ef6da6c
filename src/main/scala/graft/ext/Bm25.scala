package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] BM25 keyword retrieval over the document corpus — the lexical
  * search half of a retrieval stack (the embedding top-k is the other
  * half; production RAG pipelines run both and fuse).
  *
  * Scale shape: one constants pass (count + average length; skippable
  * via the `constants` parameter) plus ONE postings pass — tokens
  * explode, non-query
  * terms drop IMMEDIATELY (the query term set broadcasts as a literal
  * in-filter, so the explode's output is O(matching postings), never a
  * full posting list), term frequencies aggregate map-combinably, the
  * O(|query|) document-frequency table broadcast-joins back, and the
  * final per-document score is a TakeOrdered top-k. Corpus constants
  * (N, average document length) are one tiny driver aggregate — sample
  * METADATA, like the IVF centroid table.
  */
object Bm25 {

  /** Okapi BM25 with the non-negative idf variant
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    *
    * @return (idCol, score, matched) top-k by score (ties broken by id),
    *         score rounded to 6 decimals for cross-engine stability.
    */
  def search(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      // (corpus size, average doc length): supply from table stats to
      // skip the constants pass at scale
      constants: Option[(Long, Double)] = None): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    val base = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      // explicit null-skip instead of size(null): under the session
      // default (ANSI) size(null) is null and avg() skips it, but a
      // legacy deployment (spark.sql.ansi.enabled=false) returns -1 and
      // would silently poison avgdl while buildIndex excludes the same
      // docs — the when() form makes the constants config-independent
      // (bit-identical here: text is non-null on every gated corpus,
      // and null-text docs have no postings either way)
      .withColumn("__dl",
        when(col("__toks").isNotNull, size(col("__toks"))))
    // corpus constants: O(1) driver metadata from one aggregate. This
    // is a second pass over the text column (the postings pass is the
    // other); at scale pass `constants` in from table stats instead.
    val (n, avgdl) = constants.getOrElse {
      val cRow = base.agg(count(lit(1)).as("n"), avg(col("__dl")).as("avgdl")).head()
      require(cRow.getLong(0) > 0, "BM25 over an empty corpus")
      (cRow.getLong(0), cRow.getDouble(1))
    }
    require(n > 0, "BM25 needs a positive corpus count")

    val tf = base
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__term"))
      .filter(col("__term").isin(query: _*))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
    // document frequency per query term: O(|query|) rows, broadcast back
    val dfT = tf.groupBy("__term").agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    tf.join(broadcast(dfT), "__term")
      .withColumn("__score",
        idf * col("__tf") * (lit(k1) + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("__dl") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(round(sum("__score"), 6).as("score"),
        count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Durable INVERTED INDEX: the serving form of BM25. `search` scans
    * the corpus per query — right for batch scoring, wrong for a query
    * service over a 100 TB corpus. `buildIndex` pays the corpus scan
    * ONCE into a postings artifact:
    *
    *   path/postings/    (term, <id>, tf, dl) parquet,
    *                     RANGE-partitioned and sorted by term
    *   path/_constants   one-line JSON {"n":…,"avgdl":…,"id_col":"…"}
    *
    * so `searchIndexed` reads O(matching postings): the term-sorted
    * layout turns the query's `term IN (…)` into parquet row-group
    * pruning + pushed filters (each term's postings are contiguous in
    * one file range), the per-term document frequencies aggregate from
    * those same rows, and corpus constants come from the sidecar — no
    * text, no tokenization, no corpus scan on the query path.
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      partitions: Int = 0): Unit = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    // Corpus constants WITHOUT a second tokenize pass (opt guide §1.2:
    // don't pay a full text scan for two scalars the postings already
    // determine). `n` (idf denominator) counts ALL docs and
    // `count(textCol)` the non-null-text docs — a null-mask read, no
    // tokenization; `avgdl` = Σtf / count(text): every token occurrence
    // is exactly one postings count, and null-text docs contribute
    // neither (matching avg()'s null-skipping over __dl), so the
    // constants are bit-identical to the old two-pass form (Bm25Spec
    // pins search == searchIndexed score equality).
    val cRow = docs.agg(count(lit(1)).as("n"),
      count(col(textCol)).as("nText")).head()
    require(cRow.getLong(0) > 0, "BM25 buildIndex over an empty corpus")
    val postings = base
      .select(col(idCol), col("__dl").as("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
    // term-sorted layout: explicit `partitions` pins the file count;
    // default derives it from the data — a no-count range repartition
    // lets AQE size partitions by bytes (advisory), so the postings
    // artifact gets few files for a small corpus and advisory-sized
    // files at 100 TB instead of a fixed core-count fanout (guide §6)
    (if (partitions > 0) postings.repartitionByRange(partitions, col("term"))
     else postings.repartitionByRange(col("term")))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings")
    // Σtf comes from a read-back of the just-written postings. An
    // in-flight Observation on the postings frame would avoid the
    // read-back, but it is UNSOUND under the range repartition above:
    // RangePartitioner's sampling pass re-executes the child plan, so
    // the observed sum double-counts (measured 2.0x on Spark 4.1.2 —
    // r16). The read-back is column-pruned to `tf` (ranged reads of one
    // int64 column + footers, not the artifact), the cheapest exact
    // form that doesn't re-tokenize the corpus.
    val totTokens = graft.sinks.StoreRead.parquet(spark, s"$path/postings")
      .agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    val avgdl =
      if (cRow.getLong(1) > 0) totTokens.toDouble / cRow.getLong(1) else 0.0
    val meta = s"""{"n":${cRow.getLong(0)},"avgdl":$avgdl,""" +
      s""""id_col":"$idCol"}"""
    val p = new org.apache.hadoop.fs.Path(path, "_constants")
    graft.sinks.SwapUtil.writeSynced(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, meta)
  }

  private def readConstants(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Double, String) = {
    val p = new org.apache.hadoop.fs.Path(path, "_constants")
    val found = graft.sinks.SwapUtil.readText(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    require(found.isDefined, s"Bm25.searchIndexed: no index at $path " +
      "(_constants sidecar missing) — run buildIndex first")
    val txt = found.get
    val get = (k: String) =>
      s""""$k":\\s*("?)([^,}"]+)\\1""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"Bm25 _constants: missing $k in $txt"))
        .group(2)
    (get("n").toLong, get("avgdl").toDouble, get("id_col"))
  }

  /** Query the durable index: same scores as `search` on the indexed
    * corpus (asserted in Bm25Spec), touching only the query terms'
    * postings. The `isin` filter PUSHES into the parquet scan; with the
    * term-sorted layout that is row-group pruning, not a full read.
    */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    val (n, avgdl, idCol) = readConstants(spark, path)
    val tf = graft.sinks.StoreRead.parquet(spark, s"$path/postings")
      .filter(col("term").isin(query: _*))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    tf.join(broadcast(dfT), "term")
      .withColumn("__score",
        idf * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(round(sum("__score"), 6).as("score"),
        count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
