package graft
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
object Bench {
  // 1-min system load average, so the artifact itself adjudicates
  // ambient-load inflation (the r5 driver run read 2x its idle time and
  // needed a manual reproduction to prove it was load, not a plan
  // regression). -1.0 when the platform can't report it.
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** `body`, or `orElse` once the failure is printed to stderr. */
  private def attempt[T](stage: String, orElse: => T)(body: => T): T =
    try body catch { case NonFatal(e) =>
      System.err.println(s"[bench] $stage failed: ${e.getMessage}")
      orElse
    }

  /** One timed entry run: wall seconds of its `.count()`, what Spark did
    * meanwhile, and whether it threw.
    */
  final case class Run(name: String, sec: Double, layers: Layers.Counts,
      failed: Boolean)

  /** Each entry timed once per round, `repeat` rounds; a run after the
    * first round is named `<entry>__r<round>`. A query that THROWS at
    * this SF must be visible in the output, not silently timed as a fast
    * failure, so the run records it.
    */
  def timeEntries(spark: SparkSession, sfDir: String,
      entries: Seq[(String, GraftSession.Entry)], repeat: Int): Seq[Run] =
    (1 to repeat).flatMap(r => entries.map { case (n, fn) =>
      (if (r == 1) n else s"${n}__r$r") -> fn
    }).map { case (name, fn) =>
      val ((sec, failed), layers) = Layers.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        val failed =
          try { fn(spark, sfDir).count(); false }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            true
          }
        ((System.nanoTime() - t0) / 1e9, failed)
      }
      Run(name, sec, layers, failed)
    }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Warm up codegen/JIT/parquet-reader paths on the tiny SF so the first
    // measured query doesn't absorb one-time session costs. The document
    // pipelines compile large generated classes (tokenize/shingle/minhash/
    // simhash); a LIMITed pass pre-JITs them the way any long-lived
    // cluster session would be warm — measured queries then time the
    // operator, not the first-compile.
    attempt("entry warm-up", ())(SparkEntry.entry(spark).count())
    attempt("warm-up", ()) {
      val tinyDocs = Tables.documents(spark, sfDir).limit(64)
      graft.ext.Dedup.minhashNearDups(tinyDocs, "doc_id", "text").count()
      graft.ext.Dedup.simhashNearDups(tinyDocs, "doc_id", "text").count()
      graft.ext.Dedup.ngramGroundTruthPairs(tinyDocs, "doc_id", "text", 3, 0.9).count()
      // pre-JIT the IVF train/assign/persist paths on 64 vectors, then
      // drop the throwaway index so the measured build starts cold-cache
      val tinyEmb = Tables.embeddings(spark, sfDir).limit(64)
      graft.ext.Similarity.ivfBuildPersisted(tinyEmb, "vec_id", "embedding",
        sys.props("java.io.tmpdir") + "/graft_bench_warm_ivf", 2, iters = 1)
      graft.ext.Similarity.clearIndexCache()
      // warm the Structured Streaming runtime on 64 events: the FIRST
      // stream start in a JVM pays one-time costs (state-store provider
      // init, streaming codegen, checkpoint machinery) that a long-lived
      // cluster session pays once, not per query — without this the
      // measured stream_ingest_windowed times the harness lifecycle, not
      // the ingest (it was the slowest r3 entry at 5.0 s for that reason).
      val warm = java.nio.file.Files.createTempDirectory("graft_warm_stream")
      val warmSrc = warm.resolve("src"); java.nio.file.Files.createDirectories(warmSrc)
      Tables.events(spark, sfDir).limit(64)
        .write.mode("overwrite").parquet(warmSrc.resolve("p").toString)
      graft.streaming.EventIngest.ingestAvailableNow(spark,
        warmSrc.resolve("p").toString, warm.resolve("sink").toString,
        warm.resolve("ckpt").toString)
      val wp = new org.apache.hadoop.fs.Path(warm.toString)
      wp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wp, true)
    }
    // IVF index build is a one-time ETL artifact, not query latency —
    // build it up front and report the cost as its own line (the standard
    // ANN-benchmark split: build time and probe latency are different
    // metrics, and hiding either would misstate both).
    val tIdx = System.nanoTime()
    attempt("ivf index build", ())(queries.ExtQueries.buildIndexes(spark, sfDir))
    val idxSec = (System.nanoTime() - tIdx) / 1e9
    // same split for the Hamming image index: layout pass up front, the
    // ext_image_index_topk entry then times the pruned probe alone
    val tImg = System.nanoTime()
    attempt("image index build", ())(queries.ExtQueries.buildImageIndex(spark, sfDir))
    val imgIdxSec = (System.nanoTime() - tImg) / 1e9
    // SPARK_GRAFT_ONLY / SPARK_GRAFT_REPEAT (GraftSession) narrow the run
    // for the dev loop; repeats separate steady-state latency from
    // first-run JIT/IO. A full run sets neither.
    val runs = timeEntries(spark, sfDir, GraftSession.entries, GraftSession.repeat)
    val failed = runs.filter(_.failed).map(_.name)
    val results = runs.map(r => r.name -> r.sec).toMap +
      ("ivf_index_build" -> idxSec) + ("image_index_build" -> imgIdxSec)
    // Store-hygiene lifecycle: a REAL two-ingest near-dup store with a
    // forget (so tombstones are present) is compacted, and the
    // before/after data-file counts ride the artifact — file-count
    // creep or tombstones failing to fold become visible
    // round-over-round instead of needing a manual repro.
    val (compactFilesBefore, compactFilesAfter, compactSec) =
      attempt("store compaction", (-1, -1, 0.0)) {
        import org.apache.spark.sql.functions.col
        val docs = Tables.documents(spark, sfDir)
          .filter(col("doc_id") < 200).select("doc_id", "text")
        val work = java.nio.file.Files.createTempDirectory("graft_bench_store")
        val store = work.resolve("store").toString
        graft.ext.IncrementalDedup.ingest(spark,
          docs.filter(col("doc_id") < 100), "doc_id", "text", store).count()
        graft.ext.IncrementalDedup.ingest(spark,
          docs.filter(col("doc_id") >= 100), "doc_id", "text", store).count()
        import spark.implicits._
        graft.ext.IncrementalDedup.forget(spark, store,
          Seq(5L, 7L).toDF("doc_id"))
        val t0 = System.nanoTime()
        val (b, a) = graft.ext.IncrementalDedup.compactStore(spark, store)
        val sec = (System.nanoTime() - t0) / 1e9
        val wp = new org.apache.hadoop.fs.Path(work.toString)
        wp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wp, true)
        (b, a, sec)
      }
    val all = results + ("store_compaction" -> compactSec)
    val total = if (all.nonEmpty) all.values.sum else 0.0
    // Entries that time one-time lifecycle work (index builds, real
    // stream start/stop) rather than steady-state query latency — still
    // inside `total` (no number games), broken out so the split is
    // visible without diffing rounds.
    val lifecycleKeys =
      Seq("ivf_index_build", "image_index_build", "stream_ingest_windowed",
        "ext_ivf_append",
        "ext_ivfpq_topk_persisted", // pays the PQ attach when the artifact moved
        // starts a REAL stateful two-stream query: 2 sides × shuffle-
        // partition state-store instances initialize before the first
        // row — streaming-lifecycle cost, not per-row join latency
        "stream_stream_join",
        // real store compaction: tombstone fold + rewrite cost, with the
        // before/after file counts in "store_compaction_files" below
        "store_compaction",
        // three REAL transactional ingests + a vacuumed erasure — the
        // per-batch commit/store lifecycle, not per-row query latency
        "ext_takedown_e2e")
    val lifecycle = ListMap(lifecycleKeys.flatMap(k => all.get(k).map(k -> _)): _*) +
      ("store_compaction_files" ->
        ListMap("before" -> compactFilesBefore, "after" -> compactFilesAfter))
    // What Spark did per entry run (Layers): load-insensitive job, stage,
    // task and compile counts beside the executor, GC and compile time.
    val layers = ListMap(runs.map { r =>
      r.name -> ListMap("jobs" -> r.layers.jobs, "stages" -> r.layers.stages,
        "tasks" -> r.layers.tasks, "task_s" -> r.layers.taskMs / 1e3,
        "gc_ms" -> r.layers.gcMs, "cgen_n" -> r.layers.compiles,
        "cgen_ms" -> r.layers.compileNs / 1e6)
    }: _*)
    // Native-expression resolution, in the artifact itself: the dedup
    // families run ~7-10x slower through their declarative fallbacks, so
    // a timing read without knowing WHICH path executed is ambiguous
    // (the r4 simhash outlier sat exactly on the fallback's number).
    val natives = ListMap(Seq("graft_minhash", "graft_simhash", "graft_isect",
        "graft_cosine", "graft_dot", "graft_rplsh", "graft_deflate_ratio",
        "graft_nfc", "graft_dhash", "graft_dhash_px")
      .map(n => n -> spark.catalog.functionExists(n)): _*)
    // One JSON line, headline duplicated at BOTH ends: a capture that
    // keeps only the tail of long output still holds the trailing
    // "slowest"/"total_sec" keys when the per-query and per-layer maps
    // are cut; full-line parsers read the leading keys.
    println(GraftSession.json(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> all, "sf" -> sfDir, "lifecycle" -> lifecycle,
      "layers" -> layers,
      "slowest" -> ListMap(all.toSeq.sortBy(-_._2).take(5): _*),
      "errors" -> failed, "natives" -> natives,
      "load_start" -> loadStart, "load_end" -> loadAvg(),
      "n_queries" -> all.size, "total_sec" -> total)))
    spark.stop()
  }
}
