package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Embedding similarity search (SURVEY §2.11): brute-force cosine
  * top-k as the exact baseline, IVF (inverted-file) clustering as the
  * scale path. Embeddings are ArrayType(FloatType) columns; all math is
  * widened to double with a FIXED left-to-right summation order so results
  * are bit-reproducible (and oracle-comparable) across engines.
  *
  * Scale posture: brute-force is a map-side scan + TakeOrderedAndProject
  * (no shuffle, O(k) memory) — correct but O(N·d) per query. IVF separates
  * a one-time INDEX BUILD (per-row nearest-centroid assignment + hoisted
  * norms, persisted; at 100 TB it would be written partitioned by
  * `centroid_id`) from the PROBE, which touches only the nProbe clusters
  * nearest the query — partition pruning, not a scan. Centroid vectors are
  * index METADATA (nCentroids × d doubles) held driver-side, so probe
  * selection costs nCentroids local dot products, not a Spark job.
  *
  * Pairwise scoring is pre-normalized: each row's norm is computed once at
  * build (`n = sqrt(dot(v, v))`), and a pair's score is
  * `dot(x, y) / (x.n * y.n)` — one array traversal per pair instead of
  * three. The fold order matches graft_cosine's exactly, so hoisting the
  * norms never changes a score bit (asserted in ExtSpec).
  */
object Similarity {

  /** Widen a float embedding to double. */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine with automatic dispatch to the native codegen'd Expression
    * (graft.functions.CosineSimilarity) when the session has
    * GraftExtensions installed, else the declarative HOF form. Both
    * compute bit-identical doubles (asserted in ExtSpec), so the
    * dispatch never changes results — only speed (~10x on pair joins).
    */
  def cosineAuto(spark: SparkSession)(a: Column, b: Column): Column =
    if (spark.catalog.functionExists("graft_cosine")) call_function("graft_cosine", a, b)
    else cosine(a, b)

  /** Dot product with the same native-vs-HOF dispatch as cosineAuto. */
  def dotAuto(spark: SparkSession)(a: Column, b: Column): Column =
    if (spark.catalog.functionExists("graft_dot")) call_function("graft_dot", a, b)
    else dot(a, b)

  /** Driver-side dot with the same left-to-right IEEE fold as the
    * column forms — used for index metadata (centroid scoring), where a
    * Spark job per handful of doubles would be absurd.
    */
  private[ext] def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact brute-force top-k by cosine against a literal query vector.
    * Ties broken by id for determinism. Plans as scan → project →
    * TakeOrderedAndProject: no shuffle, bounded memory.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int): DataFrame = {
    val q = lit(query.toArray)
    val cos = cosineAuto(embeddings.sparkSession) _
    embeddings
      .select(col(idCol),
        round(cos(asDouble(col(vecCol)), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------------------ IVF

  /** One centroid's metadata: id, widened vector, precomputed norm. */
  final case class IvfCentroid(id: Long, vec: Array[Double], norm: Double)

  /** A built IVF index: the persisted per-row assignment
    * `(id, v: array<double>, n: double, centroid_id)` plus driver-side
    * centroid metadata. At 100 TB `assignments` would be a parquet table
    * partitioned by `centroid_id` (probe = partition pruning); locally a
    * persisted DataFrame plays that role.
    */
  final case class IvfIndex(
      assignments: DataFrame,
      centroids: Array[IvfCentroid],
      nCentroids: Int) {
    def unpersist(): Unit = { assignments.unpersist(); () }
  }

  /** Naive seed centroids: the first `nCentroids` corpus vectors by id — a
    * deterministic starting point that `lloydRefine` trains into real
    * cluster centers. Kept as the `"first"` seeding scheme (and the
    * RecallSpec baseline k-means++ is measured against): when the leading
    * ids all fall in one region of the space, this seed is degenerate and
    * recall collapses — exactly the failure `"kmeans++"` exists to fix.
    * Collected driver-side: index metadata, not a data collect.
    */
  private def centroidsOf(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int): Array[IvfCentroid] =
    embeddings.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        IvfCentroid(r.getLong(0), v, math.sqrt(dotLocal(v, v)))
      }

  /** Rows a k-means++ seeding pass may hold driver-side: seeding quality
    * needs a REPRESENTATIVE sample, not the corpus — 2048 rows bound the
    * collect to metadata scale (2048 × d doubles) no matter how large the
    * input is.
    */
  private[graft] val SeedSampleMax = 2048

  /** Deterministic k-means++ seeding: greedy farthest-point selection by
    * cosine distance over a hash-ranked bounded sample.
    *
    * Scale shape: ONE TakeOrdered job collects `SeedSampleMax` sample rows
    * chosen by md5(id) rank — engine- and partitioning-independent (the
    * same deterministic-sampling convention as ext_sample_stratified), and
    * at 100 TB the sample job is a scan + bounded heap, never a full sort.
    * Seeding itself is driver-side on the sample: k·|sample| local dots —
    * index metadata work, not a Spark job per center (classic k-means++
    * D²-sampling needs k sequential corpus passes; the sampled greedy
    * variant is the standard scalable substitute, cf. k-means||).
    *
    * Determinism: the classic algorithm samples centers with probability
    * ∝ D²; this variant takes the ARGMAX of the min-distance-to-chosen
    * (ties → lowest sample rank), so the seed is a pure function of the
    * data. First center = lowest-md5-rank sample row. Chosen centers get
    * ids 0..k-1 in selection order (probe selection and tie-breaking only
    * need distinct ids).
    */
  private def kmeansPPCentroids(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int): Array[IvfCentroid] = {
    val sample = embeddings
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(SeedSampleMax)
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (v, math.sqrt(dotLocal(v, v)))
      }
      .filter(_._2 > 0)
    require(sample.nonEmpty, "cannot seed an IVF index over an empty corpus")
    val k = math.min(nCentroids, sample.length)
    val chosen = new Array[Int](k)
    chosen(0) = 0
    // minDist(i) = min over chosen centers of cosine distance to sample(i)
    val minDist = sample.map { case (v, n) =>
      1.0 - dotLocal(v, sample(0)._1) / (n * sample(0)._2)
    }
    var c = 1
    while (c < k) {
      var best = 0
      var i = 1
      while (i < sample.length) {
        if (minDist(i) > minDist(best)) best = i // strict > : ties → lowest rank
        i += 1
      }
      chosen(c) = best
      val (bv, bn) = sample(best)
      i = 0
      while (i < sample.length) {
        val (v, n) = sample(i)
        val d = 1.0 - dotLocal(v, bv) / (n * bn)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
      c += 1
    }
    chosen.zipWithIndex.map { case (si, ci) =>
      val (v, n) = sample(si)
      IvfCentroid(ci.toLong, v, n)
    }
  }

  /** The per-row best-centroid expression (argmax cosine, ties to the
    * LOWEST centroid id via greatest over (cos, -id) structs) — shared by
    * the index build and every Lloyd iteration. Expects columns `v`
    * (double vector) and `n` (its norm).
    */
  private def bestCentroidExpr(
      spark: SparkSession, cents: Array[IvfCentroid]): Column = {
    val dt = dotAuto(spark) _
    val scored = cents.map { c =>
      // a zero-norm row (or a degenerate zero centroid) has no cosine:
      // ANSI mode turns the 0-divide into a job-killing error — one zero
      // vector must not crash a corpus-scale build. Scoring it -2.0
      // (below any real cosine) against every centroid assigns it
      // deterministically to the lowest centroid id instead.
      val denom = col("n") * lit(c.norm)
      struct(
        when(denom > 0, dt(col("v"), lit(c.vec)) / denom)
          .otherwise(lit(-2.0)).as("cos"),
        lit(-c.id).as("neg_id"))
    }
    val best =
      if (scored.length == 1) scored.head
      else greatest(scored.toIndexedSeq: _*)
    -best.getField("neg_id")
  }

  /** Lloyd (spherical k-means) refinement of the centroid set: each
    * iteration reuses the SAME map-side argmax the index build runs
    * (assign), then replaces each centroid with the elementwise SUM of
    * its members — cosine is scale-invariant, so the member sum IS the
    * mean direction (no divide, no renormalize). The per-cluster sums
    * shuffle only k*d map-side partials per partition and the k*d result
    * is collected as index METADATA (same convention as centroidsOf).
    * Empty clusters keep their previous centroid. Trained centroids keep
    * their seed ids, so probe selection and tie-breaking are unchanged.
    */
  private def lloydRefine(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      seed: Array[IvfCentroid],
      iters: Int): Array[IvfCentroid] = {
    val spark = embeddings.sparkSession
    val dt = dotAuto(spark) _
    val base = embeddings
      .select(asDouble(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dt(col("v"), col("v"))))
    var cur = seed
    for (_ <- 0 until iters) {
      val sums = base
        .withColumn("cid", bestCentroidExpr(spark, cur))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(sum("x").as("sx"))
        .collect()
      val byCid = sums.groupBy(_.getLong(0))
      cur = cur.map { c =>
        byCid.get(c.id) match {
          case Some(rows) =>
            val v = new Array[Double](rows.length)
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
            val nrm = math.sqrt(dotLocal(v, v))
            if (nrm > 0) IvfCentroid(c.id, v, nrm) else c
          case None => c // empty cluster: keep previous center
        }
      }
    }
    cur
  }

  /** Build the IVF index: train centroids (`iters` Lloyd rounds over the
    * deterministic seed — 0 = untrained seed), then one map-only pass
    * over the corpus computing the hoisted norm and the argmax-cosine
    * centroid per row against the broadcast (literal) centroid metadata —
    * no cross join, no shuffle. Ties pick the LOWEST centroid id. The
    * result is persisted; at scale this is the write side of the index
    * artifact (see ivfBuildPersisted).
    */
  def ivfBuild(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int = 0,
      seeding: String = "kmeans++"): IvfIndex = {
    val spark = embeddings.sparkSession
    val cents = trainedCentroids(embeddings, idCol, vecCol, nCentroids, iters, seeding)
    val assignments = assignmentsFor(embeddings, idCol, vecCol, cents).persist()
    IvfIndex(assignments, cents, nCentroids)
  }

  /** Seed + optional Lloyd training, shared by the build paths.
    * `seeding`: "kmeans++" (deterministic greedy D²-argmax over a bounded
    * sample — the default) or "first" (first k rows by id — the naive
    * legacy seed, kept so RecallSpec can measure the gap).
    */
  private def trainedCentroids(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int,
      seeding: String): Array[IvfCentroid] = {
    require(nCentroids >= 1, s"IVF needs nCentroids >= 1, got $nCentroids")
    require(iters >= 0, s"IVF needs iters >= 0, got $iters")
    val seed = seeding match {
      case "kmeans++" => kmeansPPCentroids(embeddings, idCol, vecCol, nCentroids)
      case "first"    => centroidsOf(embeddings, idCol, vecCol, nCentroids)
      case other => throw new IllegalArgumentException(
        s"unknown IVF seeding '$other' (expected kmeans++ or first)")
    }
    require(seed.nonEmpty, "cannot build an IVF index over an empty corpus")
    if (iters == 0) seed
    else lloydRefine(embeddings, idCol, vecCol, seed, iters)
  }

  /** [EXT] Spherical k-means centroids as a QUERYABLE long-format frame
    * (cid, pos, x) — the training loop the IVF build runs, exposed as a
    * first-class operator so the clustering arithmetic itself is
    * oracle-able (`ext_kmeans_step` restates one full Lloyd round in
    * DuckDB): assignment is the same map-side argmax-cosine pass as the
    * index build (ties → lowest centroid id; zero-norm rows score -2.0),
    * the update is the elementwise member SUM (the mean direction —
    * cosine is scale-invariant), and empty / zero-sum clusters keep
    * their previous center. Scale shape: per iteration ONE corpus scan
    * with a k·d-row map-combinable aggregate; only the k·d centroid
    * metadata ever reaches the driver.
    */
  def kmeansCentroids(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seeding: String = "first"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    trainedCentroids(embeddings, idCol, vecCol, k, iters, seeding)
      .toSeq
      .flatMap(c => c.vec.zipWithIndex.map { case (x, pos) => (c.id, pos, x) })
      .toDF("cid", "pos", "x")
  }

  /** [EXT] The per-row cluster assignment against the (iters-trained)
    * centroids — the same map-only argmax pass the IVF build runs,
    * exposed so cluster membership is queryable (and, at iters = 0,
    * oracle-able: assignment against the EXACT seed vectors is
    * engine-deterministic — `ext_kmeans_sizes`).
    */
  def kmeansAssignments(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      seeding: String = "first"): DataFrame =
    assignmentsFor(embeddings, idCol, vecCol,
      trainedCentroids(embeddings, idCol, vecCol, k, iters, seeding))
      .select(col("id"), col("centroid_id"))

  /** The per-row index tuple (id, v, n, centroid_id): one map-only pass. */
  private def assignmentsFor(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[IvfCentroid]): DataFrame = {
    val spark = embeddings.sparkSession
    val dt = dotAuto(spark) _
    embeddings
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dt(col("v"), col("v"))))
      .withColumn("centroid_id", bestCentroidExpr(spark, cents))
  }

  /** Session-lifetime index cache keyed by the input plan's semantic hash
    * and the build params: an index is a reusable artifact — rebuilding it
    * per probe is the scale anti-pattern this cache exists to prevent.
    * Bounded by the number of distinct (dataset, nCentroids) combinations
    * a session probes; `clearIndexCache()` releases everything (tests).
    */
  private val indexCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String, Int, Int, String), IvfIndex]

  def ivfIndexFor(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int = 0,
      seeding: String = "kmeans++"): IvfIndex = {
    // keyed by the full canonicalized plan, not its 32-bit semanticHash —
    // a hash collision here would silently serve the WRONG index
    val key = (embeddings.queryExecution.analyzed.canonicalized.toString,
      idCol, vecCol, nCentroids, iters, seeding)
    indexCache.getOrElseUpdate(key,
      ivfBuild(embeddings, idCol, vecCol, nCentroids, iters, seeding))
  }

  def clearIndexCache(): Unit = {
    indexCache.values.foreach(_.unpersist())
    indexCache.clear()
    centroidCache.clear()
  }

  /** IVF top-k probe: score the query against the driver-side centroid
    * metadata (nCentroids local dots — no job), keep the nProbe nearest,
    * and brute-force only their clusters via a `centroid_id` filter on
    * the index. Approximate (recall < 1 when the true neighbor lives in
    * an unprobed cluster) — the spec measures recall against
    * bruteForceTopK.
    */
  def ivfTopK(
      spark: SparkSession,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 0,
      seeding: String = "kmeans++"): DataFrame = {
    val idx = ivfIndexFor(embeddings, idCol, vecCol, nCentroids, iters, seeding)
    probeAssignments(idx.assignments, idx.centroids, idCol, query, k, nProbe)
  }

  /** THE probe, shared verbatim by the session-cached and persisted index
    * forms (they are documented to agree — one implementation makes that
    * structural): select the nProbe nearest centroids driver-side, filter
    * the assignment table to those clusters, score with the hoisted
    * norms, bounded top-k with id tie-break.
    */
  private def probeAssignments(
      assignments: DataFrame,
      cents: Array[IvfCentroid],
      idCol: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int): DataFrame = {
    val qArr = query.toArray
    val qNorm = math.sqrt(dotLocal(qArr, qArr))
    val probes = cents
      .map(c => (c.id, dotLocal(c.vec, qArr) / (c.norm * qNorm)))
      .sortBy { case (id, cos) => (-cos, id) }
      .take(nProbe)
      .map(_._1)
    val dt = dotAuto(assignments.sparkSession) _
    assignments
      .filter(col("centroid_id").isin(probes.toIndexedSeq: _*))
      .select(col("id").as(idCol),
        round(dt(col("v"), lit(qArr)) / (col("n") * lit(qNorm)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // -------------------------------------------- persisted IVF artifact

  /** Build the IVF index as a DURABLE PARQUET ARTIFACT at `path`:
    *
    *   path/assignments/centroid_id=<id>/...   (id, v, n) — partitioned
    *   path/centroids/...                      (id, vec, norm) — metadata
    *
    * Because the assignments table is physically partitioned BY
    * `centroid_id`, a probe's cluster selection is PARTITION PRUNING on
    * the scan (PartitionFilters, asserted in PlanSpec): only the nProbe
    * directories are listed or read — at 100 TB the other
    * nCentroids - nProbe directories cost nothing. This is the durable
    * form of ivfBuild's session-cached index (same centroids, same
    * assignment pass); the centroid table is the driver-held metadata,
    * persisted beside the data so any session can probe.
    */
  def ivfBuildPersisted(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nCentroids: Int,
      iters: Int = 0,
      seeding: String = "kmeans++"): Unit = {
    val cents = trainedCentroids(embeddings, idCol, vecCol, nCentroids, iters, seeding)
    writeIndexArtifact(assignmentsFor(embeddings, idCol, vecCol, cents), cents, path)
  }

  /** Persist an ALREADY-BUILT in-memory index as the durable artifact —
    * training and assignment are not repeated (a session that benches or
    * serves both forms pays for them once).
    */
  def persistIndex(idx: IvfIndex, path: String): Unit =
    writeIndexArtifact(idx.assignments, idx.centroids, path)

  private def writeIndexArtifact(
      assignments: DataFrame,
      cents: Array[IvfCentroid],
      path: String): Unit = {
    val spark = assignments.sparkSession
    // build the whole artifact in a staging sibling, then one atomic-ish
    // stage-aside swap — a concurrent probe never observes a half-written
    // index (assignments present, centroids missing)
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.SwapUtil.replace(fs, target, "ivf index",
        mayBeAbsent = true) { staging =>
      assignments
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$staging/assignments")
      import spark.implicits._
      cents.toSeq.map(c => (c.id, c.vec.toSeq, c.norm))
        .toDF("id", "vec", "norm")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/centroids")
      // training-time row count: the staleness denominator for
      // incremental appends (a parquet count over the just-written files
      // is footer metadata, not a data scan); staged with the rest so the
      // swap publishes the whole artifact atomically
      val rows = spark.read.parquet(s"$staging/assignments").count()
      writeBuildRows(fs, new org.apache.hadoop.fs.Path(staging, "build_meta"), rows)
    }
    centroidCache.put((path, centroidToken(fs, target)), cents)
    ()
  }

  private def writeBuildRows(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      rows: Long): Unit =
    graft.sinks.SwapUtil.writeSynced(fs, p, s"rows $rows\n")

  private def readBuildRows(
      spark: SparkSession, path: String): Option[Long] = {
    val (fs, root) = graft.sinks.SwapUtil.healed(spark, path)
    graft.sinks.SwapUtil.readText(fs, new org.apache.hadoop.fs.Path(root, "build_meta"))
      .map(_.trim.stripPrefix("rows ").toLong)
  }

  /** Driver-side cache of persisted-index centroid METADATA (nCentroids ×
    * d doubles per path): probe selection needs it on every call, and a
    * Spark job to re-read a kilobyte of metadata per probe would double
    * probe latency. Keyed by (path, content token) — NOT the bare path —
    * so a long-lived serving session that probes an artifact REBUILT by
    * another process never pairs fresh assignments with stale cached
    * centroids: the rebuild changes the centroids directory's file
    * listing, the token moves, and the next probe re-reads. Superseded
    * entries linger until clearIndexCache (bounded by rebuild count —
    * kilobytes each).
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Array[IvfCentroid]]

  /** O(1) content token for a persisted index's centroid metadata: the
    * centroids directory's listing token (`SwapUtil.listingToken`).
    */
  private def centroidToken(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String =
    graft.sinks.SwapUtil.listingToken(fs,
      new org.apache.hadoop.fs.Path(root, "centroids"), recursive = false)

  /** True when a persisted index exists at `path`. A swap that crashed
    * between its renames left the index parked, intact, at its backup
    * name; it is restored first.
    */
  def persistedIndexExists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = graft.sinks.SwapUtil.healed(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(root, "centroids"))
  }

  /** Probe a persisted IVF index: centroid metadata is one tiny read
    * (nCentroids rows), probe selection is nCentroids local dots, and the
    * scan of path/assignments carries `centroid_id IN (probes)` — which
    * Spark turns into partition-directory pruning, the layout's whole
    * point. Output columns: (idCol, score), ties broken by id.
    */
  def ivfTopKPersisted(
      spark: SparkSession,
      path: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4,
      idCol: String = "id"): DataFrame = {
    val cents = persistedCentroids(spark, path) // heals first
    probeAssignments(graft.sinks.StoreRead.parquet(spark, s"$path/assignments"),
      cents, idCol, query, k, nProbe)
  }

  /** The artifact's centroids, read after healing a parked artifact —
    * every IVF probe and append starts here.
    */
  private[ext] def persistedCentroids(
      spark: SparkSession, path: String): Array[IvfCentroid] = {
    val (fs, root) = graft.sinks.SwapUtil.healed(spark, path)
    centroidCache.getOrElseUpdate((path, centroidToken(fs, root)),
      graft.sinks.StoreRead.parquet(spark, s"$path/centroids")
        .select(col("id"), col("vec"), col("norm")).collect()
        .map(r => IvfCentroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
  }

  /** Outcome of an incremental index append: rows added vs already
    * present, the grown index size, and the staleness fraction (rows
    * appended since training / rows at training). The centroids do NOT
    * move on append — that is the point (O(batch) maintenance, no
    * retrain, no rebuild) and the cost (cluster shapes drift as the
    * corpus grows past what the centroids were trained on), so the
    * operator reports when retraining is due instead of deciding.
    */
  final case class IvfAppendResult(
      appended: Long, skipped: Long, indexRows: Long,
      staleness: Double, retrainRecommended: Boolean)

  /** Incrementally grow a persisted IVF index: one assign-only map pass
    * of the batch against the artifact's OWN centroids (no training, no
    * shuffle), anti-joined on id against the existing assignments (the
    * UpsertIgnore delta discipline — re-appending a batch is a no-op)
    * and appended into the centroid-partitioned layout, so probes keep
    * their partition-directory pruning over old and new rows alike.
    *
    * Probe-visible equivalence: an appended row lands in exactly the
    * cluster a full rebuild WITH THE SAME CENTROIDS would put it in
    * (same argmax expression), so append+probe ≡ assign-rebuild+probe
    * row for row. What append cannot do is move the centroids; the
    * returned staleness (appended-since-training / trained-on) says
    * when to schedule `ivfBuildPersisted` again — the IncrementalDedup
    * posture applied to the similarity side.
    */
  def ivfAppendPersisted(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      retrainThreshold: Double = 0.5): IvfAppendResult = {
    val spark = batch.sparkSession
    require(persistedIndexExists(spark, path),
      s"no persisted IVF index at $path — ivfBuildPersisted first")
    val cents = persistedCentroids(spark, path)
    val assigned = assignmentsFor(batch, idCol, vecCol, cents)
      .select("id", "v", "n", "centroid_id")
    val input = assigned.count()
    val existing = graft.sinks.StoreRead.parquet(spark, s"$path/assignments")
    // id-keyed anti-join with id-range pruning on the existing scan
    // (broadcast-guarded — the existing side is the index, never forced)
    val delta = graft.sinks.UpsertIgnore
      .deltaPlan(spark, assigned, existing.select("id"), Seq("id"), Some("id"))
      .localCheckpoint(false) // counted AND written
    val appended = delta.count()
    if (appended > 0)
      delta.write.mode("append").partitionBy("centroid_id")
        .parquet(s"$path/assignments")
    val total = graft.sinks.StoreRead.parquet(spark, s"$path/assignments").count()
    val atBuild = readBuildRows(spark, path).getOrElse {
      // legacy artifact without build metadata: the pre-append size is
      // the best available training-time baseline — record it so later
      // appends accumulate staleness from here
      val base = total - appended
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      writeBuildRows(fs, new org.apache.hadoop.fs.Path(path, "build_meta"), base)
      base
    }
    val staleness = (total - atBuild).toDouble / math.max(atBuild, 1L).toDouble
    IvfAppendResult(appended, input - appended, total, staleness,
      staleness > retrainThreshold)
  }

  /** TAKEDOWN for the persisted ANN artifact: physically erase these
    * ids' rows — their RAW VECTORS — from `path/assignments`, and from
    * the attached PQ codes layer when one exists. The serving index is
    * the same right-to-erasure hazard class as the embedding dedup
    * store: it retains the embedding itself, and unlike the probe-side
    * stores a tombstone here would tax EVERY query, so the erasure is
    * immediate and partition-pruned instead:
    *
    *  1. ONE scan finds the touched centroid partitions (ids broadcast
    *     into a semi-join; the result is takedown-sized metadata);
    *  2. only those `centroid_id=<k>` directories rewrite (minus the
    *     ids), each through the stage-aside swap — O(touched
    *     partitions), not O(index), the `deleteWhere` stats-pruning
    *     discipline applied to the ANN layout;
    *  3. with a PQ layer attached: the same partitions of `pq/codes`
    *     rewrite, and `pq/meta` re-pins to the new assignments
    *     fingerprint LAST — a crash anywhere in between leaves the pin
    *     stale and PQ probes REFUSING (never serving the forgotten
    *     doc's codes), and the rerun converges.
    *
    * Centroids are O(k) aggregate metadata (no per-document data) and
    * keep serving; `build_meta` keeps the training-time row count, so
    * append staleness still measures drift since training. Single-writer
    * maintenance contract, like compact. Returns rows erased from the
    * assignments.
    */
  def ivfForgetPersisted(
      spark: SparkSession,
      path: String,
      ids: Seq[Long]): Long = {
    require(persistedIndexExists(spark, path),
      s"no persisted IVF index at $path")
    if (ids.isEmpty) return 0L
    import spark.implicits._
    val idDf = ids.toDF("id")
    val touched = graft.sinks.StoreRead.parquet(spark, s"$path/assignments")
      .join(broadcast(idDf), Seq("id"), "left_semi")
      .select(col("centroid_id").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return 0L
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rewriteMinusIds(dir: String, who: String): Long = {
      val target = new org.apache.hadoop.fs.Path(dir)
      graft.sinks.SwapUtil.recoverOne(fs, target) // a parked leaf is live
      if (!fs.exists(target)) return 0L
      val cur = graft.sinks.StoreRead.parquet(spark, dir).localCheckpoint(true)
      val keep = cur.join(broadcast(idDf), Seq("id"), "left_anti")
      val removed = cur.count() -
        keep.localCheckpoint(true).count() // materialize BEFORE the swap
      graft.sinks.SwapUtil.replace(fs, target, who)(
        staging => keep.write.mode("overwrite").parquet(staging.toString))
      removed
    }
    val removed = touched.map(cid =>
      rewriteMinusIds(s"$path/assignments/centroid_id=$cid", "ivf forget")).sum
    if (graft.ext.Pq.pqAttached(spark, path)) {
      touched.foreach(cid =>
        rewriteMinusIds(s"$path/pq/codes/centroid_id=$cid", "pq forget"))
      graft.ext.Pq.repinTo(spark, path) // LAST: probes refuse until here
    }
    removed
  }

  /** All pairs above a cosine threshold — near-dup detection by embedding.
    * Brute self-join here (candidate generation at scale goes through the
    * IVF index: only same-cluster pairs are compared, mirroring the
    * MinHash-LSH bucket trick). Norms are hoisted: one dot per pair.
    */
  def cosinePairsAbove(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val dt = dotAuto(embeddings.sparkSession) _
    val e = embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dt(col("v"), col("v"))))
    // spread the stream side ONLY when the corpus arrives under-split
    // (local single-row-group case) — a pre-split input pays no exchange
    val ex = graft.ops.Transforms.spreadIfNarrow(e)
    ex.as("x").join(e.as("y"), col("x.id") < col("y.id"))
      .withColumn("score",
        round(dt(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")), 6))
      .filter(col("score") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("score"))
  }

  /** Embedding near-dup pairs via random-hyperplane LSH (signed random
    * projections): each vector gets a 64-bit signature whose Hamming
    * distance estimates the angle (P(bit differs) = angle/π), candidate
    * pairs come from the same pigeonhole chunk-blocking SimHash uses, and
    * every candidate is verified with the EXACT cosine — so the output is
    * precise, only recall is approximate (the spec quantifies it against
    * the brute-force pair search on planted near-identical vectors).
    *
    * This is the third cosine-pair strategy alongside brute-force
    * (cosinePairsAbove) and IVF bucketing (cosinePairsAboveIvf): unlike
    * IVF it needs no centroid metadata and its candidate generation is a
    * pure map-side signature + one groupBy — the right shape when the
    * corpus is too wide for any driver-held index. Requires
    * GraftExtensions (`graft_rplsh` has no declarative fallback: its
    * fmix64 bit pattern cannot be replicated in ANSI-safe Column
    * arithmetic).
    */
  def rpNearDups(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxHamming: Int = 6,
      maxBucket: Int = 2000): DataFrame = {
    val spark = embeddings.sparkSession
    require(spark.catalog.functionExists("graft_rplsh"),
      "rpNearDups needs GraftExtensions (spark.sql.extensions=graft.functions.GraftExtensions)")
    val dt = dotAuto(spark) _
    val e = embeddings.select(col(idCol).as("doc_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dt(col("v"), col("v"))))
      .withColumn("sh", call_function("graft_rplsh", col("v"), lit(64)))
      .localCheckpoint(false)
    Dedup.hammingCandidates(e.select("doc_id", "sh"), maxHamming, maxBucket)
      .join(e.select(col("doc_id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(e.select(col("doc_id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .withColumn("score", round(dt(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** SemDeDup-style SEMANTIC dedup: embedding-space near-duplicate pairs
    * collapse to one canonical document per duplicate cluster — the
    * embedding-side analog of `Dedup.dedupCorpus` (pairs alone
    * under-merge when A~B and B~C but A!~C). Component resolution is
    * the shared min-label machinery, so the output contract matches the
    * text pipeline exactly: (id, canonical_id), canonical = min id of
    * the component, docs with no semantic near-dup keep themselves.
    *
    * Pair-generation `strategy` — precision is exact under all three
    * (candidates verify with the exact cosine); they differ in RECALL
    * and cost:
    *  - "rplsh" (default): random-hyperplane signatures + pigeonhole
    *    blocking — no trained state, map-side candidates; misses a pair
    *    only when its signatures differ in every chunk (quantified
    *    recall 1.0 on the planted gate, `ext_rplsh_recall`). This
    *    recall profile is why it is the default: the IVF variant
    *    measurably splits boundary twins across clusters (the spec
    *    pins one such case).
    *  - "ivf": same-cluster pairs only — cheapest at scale, but a pair
    *    straddling a centroid boundary is lost.
    *  - "brute": the O(n²) exact baseline for bounded universes.
    */
  def semanticDedup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      strategy: String = "rplsh",
      nCentroids: Int = 16,
      iters: Int = 0,
      maxHamming: Int = 10,
      maxBucket: Int = 2000,
      maxCluster: Int = 100000): DataFrame = {
    val pairs = strategy match {
      case "rplsh" =>
        rpNearDups(embeddings, idCol, vecCol, threshold, maxHamming, maxBucket)
      case "ivf" =>
        cosinePairsAboveIvf(embeddings, idCol, vecCol, threshold,
          nCentroids, iters, maxCluster)
      case "brute" =>
        cosinePairsAbove(embeddings, idCol, vecCol, threshold)
      case other => throw new IllegalArgumentException(
        s"unknown semanticDedup strategy '$other' (rplsh | ivf | brute)")
    }
    Dedup.componentsFromPairs(embeddings, idCol, pairs)
  }

  /** Same-cluster candidate pairs above a cosine threshold: the IVF-bucketed
    * scale path for near-dup pairs (compares only within clusters).
    * Consumes the cached index — norms and assignment computed once per
    * (dataset, nCentroids), not per invocation.
    *
    * `maxCluster` applies the same degenerate-bucket discipline as every
    * LSH path (Dedup.hammingCandidates): the in-cluster join is quadratic
    * in cluster size BY DESIGN, so one skewed mega-cluster (an
    * all-near-identical corpus, or under-trained centroids) must not be
    * allowed to blow up the job — clusters above the bound are dropped,
    * exactly as oversized LSH buckets are. Collapse exact duplicates
    * first, raise nCentroids, or train more rounds to handle such
    * corpora. The size census is one map-combinable count on centroid_id
    * over the already-persisted assignments; the nCentroids-row result
    * broadcasts into the prune join.
    */
  def cosinePairsAboveIvf(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCentroids: Int = 16,
      iters: Int = 0,
      maxCluster: Int = 100000): DataFrame = {
    val dt = dotAuto(embeddings.sparkSession) _
    val all = ivfIndexFor(embeddings, idCol, vecCol, nCentroids, iters).assignments
    val bounded = all.join(
      broadcast(all.groupBy("centroid_id").agg(count(lit(1)).as("__csz"))
        .filter(col("__csz") <= maxCluster).select("centroid_id")),
      Seq("centroid_id"))
    bounded.as("x").join(bounded.as("y"),
        col("x.centroid_id") === col("y.centroid_id") && col("x.id") < col("y.id"))
      .withColumn("score",
        round(dt(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")), 6))
      .filter(col("score") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("score"))
  }
}
