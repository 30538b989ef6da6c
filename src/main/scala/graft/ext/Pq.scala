package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Product quantization (PQ) for embedding columns (SURVEY §2.11
  * similarity search, the memory-side scale lever). The reference has no
  * embedding surface at all — this is BASELINE.json `north_star` [EXT]
  * scope ("add the LLM-data-pipeline operators … similarity search"),
  * and PQ is the form that still fits in memory at 100 TB where raw
  * float vectors do not.
  *
  * A d-dim float vector (4d bytes) becomes m sub-codes drawn from
  * per-subspace codebooks of k entries (m small ints; at k<=256 one byte
  * each) — 16-32x compression. At cluster scale that is the difference
  * between "the whole corpus's codes live in executor memory and a query
  * is one in-memory scan" and "every query re-reads parquet". Full
  * vectors stay on disk and are touched only by the final re-rank, which
  * is semi-join-pruned to the candidate pool.
  *
  * Shapes, in the repo's conventions:
  *  - TRAIN is bounded driver work: per-subspace k-means over the same
  *    md5-ordered deterministic sample cap as the IVF kmeans++ seed
  *    (`Similarity.kmeansPPCentroids`). Codebooks are m*k*(d/m) = d*k
  *    doubles of index METADATA — broadcast, never a Spark job per step.
  *  - ENCODE is the index build: one scan-speed mapPartitions pass (the
  *    BPE-encode precedent — build-side ETL, not a query-path UDF), also
  *    hoisting each row's true norm `n` once (the IVF convention), so
  *    approximate cosine never re-traverses the original vector.
  *  - The ADC probe is PURE Column expressions: the query builds an m x k
  *    lookup table of partial dot products driver-side; a row's
  *    approximate score is m `element_at` lookups into literal arrays —
  *    no per-row float-vector math at all, whole-stage codegen, no
  *    shuffle, TakeOrderedAndProject for the pool.
  *  - RE-RANK joins the pool's ids (tiny, broadcast) back to full
  *    vectors and scores exactly with `Similarity.cosineAuto` — the
  *    standard ADC + exact-refine serving stack. With a pool that covers
  *    the true neighbors, the output EQUALS brute force; `ext_pq_topk`
  *    gates exactly that against the DuckDB exact-search oracle.
  */
object Pq {

  /** Trained codebooks: `centers(j)(c)` is the c-th center of subspace j
    * (subDim doubles each). Pure driver metadata: d*k doubles total.
    */
  final case class Codebooks(
      m: Int, k: Int, subDim: Int,
      centers: Array[Array[Array[Double]]]) {

    /** Nearest-center code per subspace (squared-L2 argmin, ties to the
      * lowest code — the deterministic tie rule every driver/executor
      * path shares).
      */
    def encode(v: Array[Double]): Array[Int] = {
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        val off = j * subDim
        val cs = centers(j)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val ctr = cs(c)
          var d2 = 0.0; var i = 0
          while (i < subDim) {
            val diff = v(off + i) - ctr(i); d2 += diff * diff; i += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        codes(j) = best
        j += 1
      }
      codes
    }

    /** Reconstruction (codebook lookup concat) — the decode side of the
      * compression contract, used by specs to bound distortion.
      */
    def decode(codes: Array[Int]): Array[Double] = {
      val v = new Array[Double](m * subDim)
      var j = 0
      while (j < m) {
        System.arraycopy(centers(j)(codes(j)), 0, v, j * subDim, subDim)
        j += 1
      }
      v
    }
  }

  /** Same bounded-sample cap as the IVF seed: train never collects more
    * than this many vectors regardless of corpus size.
    */
  val TrainSampleMax = 2048

  /** Train per-subspace codebooks on a deterministic bounded sample.
    *
    * Each subspace runs greedy farthest-point init (the IVF seed rule:
    * first sample row seeds center 0, strict-> ties to lowest rank) then
    * `iters` Lloyd rounds — all on the driver over <= TrainSampleMax
    * subvectors, O(sample * k * d) flops of metadata work. Empty Lloyd
    * clusters keep their previous center. Requires d % m == 0.
    */
  def train(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 8): Codebooks = {
    require(m >= 1 && k >= 1, "PQ needs m >= 1 subspaces and k >= 1 codes")
    val sample = embeddings
      .select(col(idCol).cast("long").as("id"),
        Similarity.asDouble(col(vecCol)).as("v"))
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(TrainSampleMax)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "cannot train PQ codebooks over an empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"embedding dim $d must divide into m=$m subspaces")
    val subDim = d / m
    val kk = math.min(k, sample.length)

    val centers = Array.tabulate(m) { j =>
      val off = j * subDim
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim))

      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < subDim) { val x = a(i) - b(i); s += x * x; i += 1 }
        s
      }

      // farthest-point init, deterministic (strict >, lowest rank wins)
      val chosen = new Array[Array[Double]](kk)
      chosen(0) = sub(0).clone()
      val minDist = sub.map(d2(_, chosen(0)))
      var c = 1
      while (c < kk) {
        var best = 0; var i = 1
        while (i < sub.length) { if (minDist(i) > minDist(best)) best = i; i += 1 }
        chosen(c) = sub(best).clone()
        i = 0
        while (i < sub.length) {
          val dd = d2(sub(i), chosen(c)); if (dd < minDist(i)) minDist(i) = dd
          i += 1
        }
        c += 1
      }

      // Lloyd rounds on the sample
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kk)(new Array[Double](subDim))
        val counts = new Array[Long](kk)
        var i = 0
        while (i < sub.length) {
          var bc = 0; var bd = Double.MaxValue; var cc = 0
          while (cc < kk) {
            val dd = d2(sub(i), chosen(cc))
            if (dd < bd) { bd = dd; bc = cc }
            cc += 1
          }
          val s = sums(bc); val v = sub(i)
          var x = 0
          while (x < subDim) { s(x) += v(x); x += 1 }
          counts(bc) += 1
          i += 1
        }
        var cc = 0
        while (cc < kk) {
          if (counts(cc) > 0) {
            val s = sums(cc); val n = counts(cc).toDouble
            val ctr = new Array[Double](subDim)
            var x = 0
            while (x < subDim) { ctr(x) = s(x) / n; x += 1 }
            chosen(cc) = ctr
          } // empty cluster: keep previous center
          cc += 1
        }
        it += 1
      }
      chosen
    }
    Codebooks(m, kk, subDim, centers)
  }

  /** Encode a corpus to `(idCol, n, codes)` — the compressed index table.
    * `n` is the TRUE norm of the original vector, hoisted once so the ADC
    * probe can report approximate COSINE without touching the vector
    * again. One mapPartitions scan with broadcast codebooks; at 100 TB
    * this is the map stage of the index-build write, partitionable by
    * anything downstream wants (e.g. `centroid_id` for IVF-PQ).
    */
  def encode(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    embeddings
      .select(col(idCol).cast("long"), Similarity.asDouble(col(vecCol)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, v) =>
          val arr = v.toArray
          var s = 0.0; var i = 0
          while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
          (id, math.sqrt(s), c.encode(arr))
        }
      }
      .toDF(idCol, "n", "codes")
  }

  /** The ADC (asymmetric distance computation) score of `codes` against a
    * query: sum over subspaces of LUT(j)(code_j), where LUT(j)(c) is the
    * exact partial dot product of the query's j-th subvector with center
    * c — computed ONCE driver-side (m*k doubles) and inlined as literal
    * arrays. The per-row cost is m `element_at` lookups + adds: pure
    * codegen'd Columns, no vector math, no UDF.
    */
  def adcDotExpr(cb: Codebooks, query: Seq[Double], codesCol: Column): Column = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != codebook dim ${cb.m * cb.subDim}")
    val q = query.toArray
    val luts: Seq[Array[Double]] = (0 until cb.m).map { j =>
      val off = j * cb.subDim
      cb.centers(j).map { ctr =>
        var s = 0.0; var i = 0
        while (i < cb.subDim) { s += q(off + i) * ctr(i); i += 1 }
        s
      }
    }
    (0 until cb.m)
      .map(j => element_at(lit(luts(j)), element_at(codesCol, j + 1) + 1))
      .reduce(_ + _)
  }

  /** Approximate-then-exact top-k: ADC over the codes table selects a
    * candidate `pool` (TakeOrderedAndProject — no shuffle, O(pool) heap),
    * whose ids broadcast-semi-join back to full vectors for EXACT cosine
    * re-ranking. `pool >= k`; a pool that covers the true neighbors makes
    * the result identical to brute force (the `ext_pq_topk` oracle), at
    * codes-scan + pool-sized-join cost instead of a full-vector scan.
    */
  def adcTopK(
      codes: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebooks,
      query: Seq[Double],
      k: Int,
      pool: Int = 100): DataFrame = {
    require(pool >= k, s"re-rank pool $pool must be >= k=$k")
    val spark = codes.sparkSession
    var qn = 0.0
    query.foreach(x => qn += x * x)
    qn = math.sqrt(qn)
    require(qn > 0, "adcTopK: zero query vector has no cosine neighbors")
    // n=0 (zero stored vector) would make the quotient NaN, and Spark
    // orders NaN LARGEST — zero vectors would seize pool slots ahead of
    // genuine neighbors. Pin them to -inf instead.
    val approxCos = when(col("n") > 0,
      adcDotExpr(cb, query, col("codes")) / (col("n") * lit(qn)))
      .otherwise(lit(Double.NegativeInfinity))
    val candidates = codes
      .select(col(idCol), approxCos.as("approx_score"))
      .orderBy(col("approx_score").desc, col(idCol).asc)
      .limit(pool)
      .select(idCol)
    val cos = Similarity.cosineAuto(spark) _
    embeddings
      .join(broadcast(candidates), idCol)
      // exact cosine of a zero-norm row is 0/0 = NaN (orders LARGEST);
      // nanvl pins it below every real score
      .select(col(idCol),
        round(nanvl(
          cos(Similarity.asDouble(col(vecCol)), lit(query.toArray)),
          lit(Double.NegativeInfinity)), 6)
          .as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---------------------------------------------------------- IVF-PQ

  /** Session caches mirroring Similarity's index cache discipline: a
    * codebook / codes table is a reusable artifact, keyed by the FULL
    * canonicalized input plan (a 32-bit hash collision would silently
    * serve the wrong index) plus the build params. `clearCaches()`
    * releases everything (tests).
    */
  private val cbCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, String, Int, Int), Codebooks]
  private val codesCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, String, Int, Int, Int, Int), DataFrame]

  def codebooksFor(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int): Codebooks = {
    val key = (embeddings.queryExecution.analyzed.canonicalized.toString,
      idCol, vecCol, m, k)
    cbCache.getOrElseUpdate(key, train(embeddings, idCol, vecCol, m, k))
  }

  def clearCaches(): Unit = {
    codesCache.values.foreach(_.unpersist())
    codesCache.clear()
    cbCache.clear()
    artifactCbCache.clear()
  }

  /** The IVF-PQ codes table `(id, centroid_id, n, codes)` — the index's
    * assignment rows with the vector REPLACED by its PQ codes. This is
    * the structure a 1000-executor cluster keeps in memory: at m=8 over
    * d=64 floats it is ~32x smaller than the vectors, partitioned by
    * `centroid_id` exactly like the durable IVF artifact, and by
    * construction a probe over it CANNOT touch a vector — the column
    * does not exist.
    */
  def ivfPqCodes(idx: Similarity.IvfIndex, cb: Codebooks): DataFrame = {
    val spark = idx.assignments.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    idx.assignments
      .select(col("id"), col("centroid_id"), col("n"), col("v"))
      .as[(Long, Long, Double, Seq[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, cid, n, v) => (id, cid, n, c.encode(v.toArray)) }
      }
      .toDF("id", "centroid_id", "n", "codes")
  }

  private def ivfPqCodesFor(
      embeddings: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, cb: Codebooks): DataFrame = {
    val key = (embeddings.queryExecution.analyzed.canonicalized.toString,
      idCol, vecCol, cb.m, cb.k, nCentroids, iters)
    codesCache.getOrElseUpdate(key, {
      val idx = Similarity.ivfIndexFor(embeddings, idCol, vecCol, nCentroids, iters)
      val codes = ivfPqCodes(idx, cb)
      codes.persist()
      codes.count()
      codes
    })
  }

  /** IVF-PQ probe — both ANN levers composed, the production serving
    * layout: the query selects nProbe centroids driver-side (metadata
    * dots, no job), the CODES table is pruned to those clusters and
    * scored by ADC lookups (still no vector math, no shuffle), and only
    * the pool's ids touch full vectors for the exact re-rank. With a pool
    * covering the probed clusters this EQUALS the uncompressed IVF probe
    * at the same operating point (PqSpec asserts equality); recall vs
    * exact search is governed by nProbe exactly as for ivfTopK.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      nCodes: Int = 32,
      iters: Int = 0,
      pool: Int = 100): DataFrame = {
    require(pool >= k, s"re-rank pool $pool must be >= k=$k")
    val idx = Similarity.ivfIndexFor(embeddings, idCol, vecCol, nCentroids, iters)
    val cb = codebooksFor(embeddings, idCol, vecCol, m, nCodes)
    val codes = ivfPqCodesFor(embeddings, idCol, vecCol, nCentroids, iters, cb)
    val qArr = query.toArray
    val qNorm = math.sqrt(Similarity.dotLocal(qArr, qArr))
    require(qNorm > 0, "ivfPqTopK: zero query vector has no cosine neighbors")
    val probes = idx.centroids
      .map(c => (c.id, Similarity.dotLocal(c.vec, qArr) / (c.norm * qNorm)))
      .sortBy { case (id, cos) => (-cos, id) }
      .take(nProbe)
      .map(_._1)
    // same NaN-orders-largest hazard as adcTopK: zero-norm rows → -inf
    val approxCos = when(col("n") > 0,
      adcDotExpr(cb, query, col("codes")) / (col("n") * lit(qNorm)))
      .otherwise(lit(Double.NegativeInfinity))
    val candidates = codes
      .filter(col("centroid_id").isin(probes.toIndexedSeq: _*))
      .select(col("id"), approxCos.as("approx_score"))
      .orderBy(col("approx_score").desc, col("id").asc)
      .limit(pool)
      .select("id")
    val dt = Similarity.dotAuto(embeddings.sparkSession) _
    idx.assignments
      .join(broadcast(candidates), "id")
      .select(col("id").as(idCol),
        round(when(col("n") > 0, dt(col("v"), lit(qArr)) / (col("n") * lit(qNorm)))
          .otherwise(lit(Double.NegativeInfinity)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------- durable PQ artifact

  /** O(1)-ish content token of an artifact's assignments table (the
    * recursive `SwapUtil.listingToken`, no job) — the fingerprint the PQ
    * layer is pinned against: a rebuild OR an `ivfAppendPersisted`
    * changes the listing, so stale codes can never silently serve a
    * probe.
    */
  private def assignmentsToken(
      spark: org.apache.spark.sql.SparkSession, ivfPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$ivfPath/assignments")
    graft.sinks.SwapUtil.listingToken(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      recursive = true)
  }

  private def pqToken(
      spark: org.apache.spark.sql.SparkSession, pqPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$pqPath/codebooks")
    graft.sinks.SwapUtil.listingToken(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      recursive = false)
  }

  /** Driver cache of loaded artifact codebooks (m*k*subDim doubles per
    * path — kilobytes), keyed by (path, content token) exactly like
    * Similarity's centroidCache: a re-attached artifact moves the token
    * and the next probe re-reads.
    */
  private val artifactCbCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Codebooks]

  /** Attach a durable PQ layer to the persisted IVF artifact at
    * `ivfPath` — the closing move of the serving layout: after this, a
    * NEW SESSION probes with `ivfPqTopKPersisted` and never re-encodes
    * the corpus (the round-5 gap: codes lived in a session cache, so
    * every session paid a full encode pass).
    *
    *   ivfPath/pq/codes/centroid_id=<id>/...  (id, n, codes) — the
    *     IVF-PQ layout: probe = partition-directory pruning, like the
    *     assignments themselves
    *   ivfPath/pq/codebooks/...               (j, c, center) — metadata
    *   ivfPath/pq/meta                        assignments fingerprint
    *
    * Built in a staging sibling and published by one stage-aside swap (a
    * concurrent probe never sees codes without codebooks); `meta` pins
    * the codes to the assignments' content token, so probing after a
    * rebuild or append fails loudly instead of silently missing rows.
    * Train reuses the artifact rows (bounded deterministic sample);
    * encode is one mapPartitions pass with broadcast codebooks.
    */
  def pqAttachPersisted(
      spark: org.apache.spark.sql.SparkSession,
      ivfPath: String,
      m: Int = 8,
      k: Int = 32): Codebooks = {
    import spark.implicits._
    val asg = graft.sinks.StoreRead.parquet(spark, s"$ivfPath/assignments")
    val cb = train(asg, "id", "v", m, k)
    val token = assignmentsToken(spark, ivfPath)
    val target = new org.apache.hadoop.fs.Path(s"$ivfPath/pq")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(cb)
    graft.sinks.SwapUtil.replace(fs, target, "pq codes",
        mayBeAbsent = true) { staging =>
      asg.select(col("id"), col("centroid_id"), col("n"), col("v"))
        .as[(Long, Long, Double, Seq[Double])]
        .mapPartitions { it =>
          val c = bc.value
          it.map { case (id, cid, n, v) => (id, cid, n, c.encode(v.toArray)) }
        }
        .toDF("id", "centroid_id", "n", "codes")
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$staging/codes")
      writeCodebooks(spark, cb, s"$staging/codebooks")
      graft.sinks.SwapUtil.writeSynced(fs,
        new org.apache.hadoop.fs.Path(staging, "meta"), token)
    }
    artifactCbCache.put((s"$ivfPath/pq", pqToken(spark, s"$ivfPath/pq")), cb)
    cb
  }

  /** True when a durable PQ layer exists at `ivfPath/pq`. A swap that
    * crashed between its renames — of the IVF artifact or of the layer —
    * left it parked, intact, at its backup name; both are restored
    * first, the artifact before the layer under it.
    */
  def pqAttached(
      spark: org.apache.spark.sql.SparkSession, ivfPath: String): Boolean = {
    graft.sinks.SwapUtil.healed(spark, ivfPath)
    val (fs, pq) = graft.sinks.SwapUtil.healed(spark, s"$ivfPath/pq")
    fs.exists(new org.apache.hadoop.fs.Path(pq, "meta"))
  }

  /** The assignments token `pq/meta` pins, or None without a layer. */
  private def pinnedToken(spark: org.apache.spark.sql.SparkSession,
      pqPath: String): Option[String] = {
    val metaP = new org.apache.hadoop.fs.Path(s"$pqPath/meta")
    graft.sinks.SwapUtil.readText(
      metaP.getFileSystem(spark.sparkContext.hadoopConfiguration), metaP)
  }

  /** True when the PQ layer exists AND still pins the current
    * assignments content — i.e. `ivfPqTopKPersisted` would serve, not
    * refuse. The maintenance predicate: `if (!pqFresh(...))
    * pqAttachPersisted(...)`.
    */
  def pqFresh(
      spark: org.apache.spark.sql.SparkSession, ivfPath: String): Boolean =
    pqAttached(spark, ivfPath) &&
      pinnedToken(spark, s"$ivfPath/pq")
        .contains(assignmentsToken(spark, ivfPath))

  /** Re-pin `pq/meta` to the CURRENT assignments fingerprint — the
    * closing step of a maintenance pass (ivfForgetPersisted) that
    * rewrote assignments AND codes in lockstep. Callers must have made
    * the two sides consistent first: the pin is what re-arms serving.
    */
  private[ext] def repinTo(
      spark: org.apache.spark.sql.SparkSession, ivfPath: String): Unit = {
    val metaP = new org.apache.hadoop.fs.Path(s"$ivfPath/pq/meta")
    graft.sinks.SwapUtil.writeSynced(
      metaP.getFileSystem(spark.sparkContext.hadoopConfiguration), metaP,
      assignmentsToken(spark, ivfPath))
  }

  private def loadArtifactCodebooks(
      spark: org.apache.spark.sql.SparkSession, pqPath: String): Codebooks =
    readCodebooks(spark, s"$pqPath/codebooks")

  /** Incrementally extend the durable PQ layer after an
    * `ivfAppendPersisted`: encode ONLY the assignment rows that have no
    * codes yet (anti-join on id) against the EXISTING codebooks — no
    * retrain, codes stay mutually meaningful, O(appended) work — append
    * them into the centroid-partitioned layout, and re-pin `meta` to the
    * grown assignments LAST (a crash before the re-pin leaves the stale
    * pin in place, probes refuse, and a rerun's anti-join is a no-op —
    * idempotent). The PQ analog of the assign-only IVF append, with the
    * same cost and the same staleness caveat: appended rows are encoded
    * by codebooks trained before they arrived, so a drifting corpus
    * eventually wants a full `pqAttachPersisted` (retrain), exactly as
    * the IVF append reports retrain-due.
    *
    * Append-only growth ONLY: if any coded id no longer exists in the
    * assignments (a rebuild dropped or changed rows), the codes cannot
    * be trusted and this refuses — re-attach instead.
    *
    * @return number of rows encoded and appended
    */
  def pqAppendPersisted(
      spark: org.apache.spark.sql.SparkSession, ivfPath: String): Long = {
    import spark.implicits._
    val pqPath = s"$ivfPath/pq"
    require(pqAttached(spark, ivfPath),
      s"no PQ layer at $pqPath — run pqAttachPersisted first")
    val cb = readCodebooks(spark, s"$pqPath/codebooks")
    val asg = graft.sinks.StoreRead.parquet(spark, s"$ivfPath/assignments")
    val coded = graft.sinks.StoreRead.parquet(spark, s"$pqPath/codes").select("id")
    val orphans = coded.join(asg.select("id"), Seq("id"), "left_anti").count()
    if (orphans > 0) throw new IllegalStateException(
      s"pqAppendPersisted: $orphans coded id(s) no longer exist in the " +
        s"assignments at $ivfPath — the index was rebuilt, not appended; " +
        "re-run pqAttachPersisted")
    val bc = spark.sparkContext.broadcast(cb)
    val newCodes = asg.join(coded, Seq("id"), "left_anti")
      .select(col("id"), col("centroid_id"), col("n"), col("v"))
      .as[(Long, Long, Double, Seq[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, cid, n, v) => (id, cid, n, c.encode(v.toArray)) }
      }
      .toDF("id", "centroid_id", "n", "codes")
      .localCheckpoint(true) // count and write must see the same rows
    val n = newCodes.count()
    if (n > 0)
      newCodes.write.mode("append").partitionBy("centroid_id")
        .parquet(s"$pqPath/codes")
    repinTo(spark, ivfPath)
    n
  }

  /** Reconstruct vectors from a codes frame as PURE Column exprs: each
    * subspace is one `element_at` into the codebook's literal
    * center-array (m lookups total), flattened back to the vector —
    * codegen-friendly, no UDF, no typed Dataset (the id column keeps
    * whatever type it has). Input needs `codes`; output replaces it
    * with `v` (the quantizer's reconstruction, NOT the original).
    */
  private[ext] def decodeCol(cb: Codebooks): Column =
    flatten(array((0 until cb.m).map { j =>
      element_at(
        typedlit(cb.centers(j).map(_.toSeq).toSeq),
        element_at(col("codes"), j + 1) + 1)
    }: _*))

  /** Write codebooks as a kilobyte metadata parquet (j, c, center). */
  private[ext] def writeCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      cb: Codebooks,
      path: String): Unit = {
    import spark.implicits._
    (0 until cb.m).flatMap(j => cb.centers(j).indices.map(c =>
        (j, c, cb.centers(j)(c).toSeq)))
      .toDF("j", "c", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read codebooks written by `writeCodebooks`. */
  private[ext] def readCodebooks(
      spark: org.apache.spark.sql.SparkSession, path: String): Codebooks = {
    val rows = graft.sinks.StoreRead.parquet(spark, path)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"empty PQ codebooks at $path")
    val m = rows.map(_._1).max + 1
    val centers = Array.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    Codebooks(m, centers.map(_.length).max, centers(0)(0).length, centers)
  }

  /** IVF-PQ probe against the DURABLE artifact — the cross-session
    * serving path: centroid metadata and codebooks are cached driver
    * kilobytes, cluster selection is driver math, the codes scan and the
    * exact-re-rank vector scan BOTH carry `centroid_id IN (probes)`
    * (partition-directory pruning on each), and no corpus encode ever
    * runs. Refuses a stale PQ layer (assignments changed since attach)
    * loudly.
    */
  def ivfPqTopKPersisted(
      spark: org.apache.spark.sql.SparkSession,
      ivfPath: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4,
      pool: Int = 100,
      idCol: String = "id"): DataFrame = {
    require(pool >= k, s"re-rank pool $pool must be >= k=$k")
    val pqPath = s"$ivfPath/pq"
    require(pqAttached(spark, ivfPath),
      s"no PQ layer at $pqPath — run pqAttachPersisted first")
    if (!pinnedToken(spark, pqPath)
        .contains(assignmentsToken(spark, ivfPath)))
      throw new IllegalStateException(
        s"PQ codes at $pqPath are STALE: the assignments table changed " +
          "(rebuild or ivfAppendPersisted) after pqAttachPersisted — " +
          "re-attach before probing, or rows would be silently invisible")
    val cb = artifactCbCache.getOrElseUpdate((pqPath, pqToken(spark, pqPath)),
      loadArtifactCodebooks(spark, pqPath))
    val cents = Similarity.persistedCentroids(spark, ivfPath)
    val qArr = query.toArray
    val qNorm = math.sqrt(Similarity.dotLocal(qArr, qArr))
    require(qNorm > 0,
      "ivfPqTopKPersisted: zero query vector has no cosine neighbors")
    val probes = cents
      .map(c => (c.id, Similarity.dotLocal(c.vec, qArr) / (c.norm * qNorm)))
      .sortBy { case (id, cos) => (-cos, id) }
      .take(nProbe)
      .map(_._1)
    val approxCos = when(col("n") > 0,
      adcDotExpr(cb, query, col("codes")) / (col("n") * lit(qNorm)))
      .otherwise(lit(Double.NegativeInfinity))
    val candidates = graft.sinks.StoreRead.parquet(spark, s"$pqPath/codes")
      .filter(col("centroid_id").isin(probes.toIndexedSeq: _*))
      .select(col("id"), approxCos.as("approx_score"))
      .orderBy(col("approx_score").desc, col("id").asc)
      .limit(pool)
      .select("id")
    val dt = Similarity.dotAuto(spark) _
    graft.sinks.StoreRead.parquet(spark, s"$ivfPath/assignments")
      .filter(col("centroid_id").isin(probes.toIndexedSeq: _*))
      .join(broadcast(candidates), "id")
      .select(col("id").as(idCol),
        round(when(col("n") > 0, dt(col("v"), lit(qArr)) / (col("n") * lit(qNorm)))
          .otherwise(lit(Double.NegativeInfinity)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
