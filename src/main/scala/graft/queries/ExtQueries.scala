package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AudioDsp, AudioFingerprint, AudioTags, Bpe, Classifier, CorpusOverlap, Decontaminate, Dedup, Eval, HeavyHitters, Flac, Html, IncrementalDedup, LineDedup, Mix, Multimodal, NgramLm, Packer, Pdf, Pq, Quantize, Similarity, Subtitles, TextAnalysis, Tfidf, Urls}

/** [EXT] query surface (SURVEY §2.11): LLM-data-pipeline operators over
  * documents/embeddings. SQL-expressible ops carry DuckDB oracles (same
  * conventions as ParityQueries); ops built on Spark-native hashing
  * (xxhash64) or the stub codec are deterministic but not SQL-portable, so
  * they take the driver's rows-only check — each such query is phrased to
  * return rows at every scale factor (top-k forms, not bare thresholds).
  */
object ExtQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** The recall/components gates all measure against the SAME bounded
    * 500-doc universe. Unconditional spread: the doc_id filter can
    * concentrate the bounded universe in one split of a pre-split
    * corpus, and the shuffled payload is bounded by construction (see
    * Dedup.ngramGroundTruthPairs).
    */
  private[graft] def gateDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < 500)
      .repartition(s.sessionState.conf.numShufflePartitions)

  /** Bounded-gate execution regime — the ext_takedown_e2e discipline
    * (r13-adjudicated) factored out for every store-lifecycle / recall
    * gate whose universe is BOUNDED BY CONSTRUCTION at every scale
    * factor (≤500-doc planted corpora, fixture batches): these flows
    * stack tens of small stages over KB-sized frames, and their
    * HOF-heavy expressions (gates, shingles, minhash, pair expansion)
    * make large generated classes. Their warm recompiles came from
    * Spark's generated-class cache, 100 classes by default, evicting
    * each class before it was reused, not from lambda expression ids:
    * with this regime's two codegen overrides removed,
    * ext_incremental_recall and ext_takedown_e2e recompiled 160 and 699
    * classes on a warm repeat at 100 entries, and 0 at 2048 (the
    * GraftExtensions size is larger still). Codegen'd execution still
    * loses on these frames with no compile at all (measured warm, sf0.1,
    * 4 cores: ext_takedown_e2e 18.6 s codegen'd vs 6.3 s here, task
    * time 27.6 s vs 2.0 s), so the overrides stay. Interpreted execution +
    * batch-sized shuffle partitioning is exactly how a real deployment
    * sizes a bounded compliance check; production-sized batches keep
    * codegen and amortize the compile. Results are identical — every
    * wrapped gate stays oracle-hashed — and the body should MATERIALIZE
    * its heavy work inside the scope (store ingests checkpoint their
    * pair frames eagerly; index builds are writes): whatever stays lazy
    * simply executes under the session's normal confs later, which is
    * correct either way.
    *
    * THREADING CONTRACT (r15 ADVICE): the regime mutates session-global
    * RuntimeConf with save/restore, so gate bodies must not overlap
    * other jobs on the same session — Bench and Verify run the query
    * registry strictly sequentially (the only driver-side concurrency,
    * buildIndexes' two index builds, runs BEFORE any gate and does not
    * touch these confs). A future caller that wants concurrent gates
    * must run each in spark.newSession() so the regime is isolated.
    */
  private def boundedGate[T](s: SparkSession)(body: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevWs = s.conf.get("spark.sql.codegen.wholeStage")
    val prevFm = s.conf.get("spark.sql.codegen.factoryMode")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      // AQE submits one JOB per materialized shuffle stage and re-runs
      // the logical re-optimization between each — on these 4-partition
      // KB-sized frames there is nothing to adapt (partitioning is
      // already pinned batch-sized), so the per-stage driver round
      // trips are pure fixed cost (r16 profile: the store gates run
      // 27-62 jobs each at ~30-40 ms/job of dispatch+replanning).
      // Production-sized batches keep AQE exactly as they keep codegen.
      s.conf.set("spark.sql.adaptive.enabled", "false")
      // Every auto-selected BroadcastHashJoin runs its build side as a
      // SEPARATE driver job (BroadcastExchange materializes on a future
      // thread) — the r16 job log shows ~30 of ext_takedown_e2e's 76
      // jobs are such builds at 10-170 ms of dispatch each. On KB-sized
      // 4-partition frames a shuffle join folds both sides into the ONE
      // job the query already runs, so auto-broadcast is pure job-count
      // overhead here. EXPLICIT broadcast() hints keep their adjudicated
      // plans (hints override the threshold): the store-probe scans
      // still never shuffle. Production-sized batches keep the default
      // threshold exactly as they keep codegen and AQE.
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.codegen.wholeStage", prevWs)
      s.conf.set("spark.sql.codegen.factoryMode", prevFm)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** The exact char-3-gram ground-truth pair graph the five recall /
    * components gates share is all-pairs quadratic BY DESIGN (it is the
    * measuring stick) — build it ONCE per (session, dir) and hand every
    * gate the same eagerly-checkpointed frame, instead of paying the
    * quadratic build per gate (the most expensive repeated work of the
    * round-5 bench). Size-1 cache: Verify/Bench run one (session, dir)
    * at a time, and a new key simply replaces the old entry.
    */
  @volatile private var gtCache: Option[((SparkSession, String), DataFrame)] =
    None
  private[graft] def sharedGroundTruth(s: SparkSession, dir: String): DataFrame =
    synchronized {
      gtCache match {
        case Some((k, cached)) if k == ((s, dir)) => cached
        case _ =>
          // construction-bounded build (≤500 docs at every SF) → the
          // boundedGate regime: the all-pairs verify is job-count- and
          // codegen-dominated at this size, not row-work-dominated
          val gt = boundedGate(s) {
            Dedup.ngramGroundTruthPairs(gateDocs(s, dir),
              "doc_id", "text", 3, 0.9).localCheckpoint(true)
          }
          gtCache = Some(((s, dir), gt))
          gt
      }
    }

  /** Same discipline for the EMBEDDING recall gates: the planted-twin
    * corpus and its exact-cosine>=0.99 all-pairs ground truth are shared
    * by three gates (rplsh / embed-incr / embed-incr-pq) — one
    * checkpointed build per (session, dir) instead of three quadratic
    * GT computations per bench/correctness run.
    */
  @volatile private var vecGtCache:
      Option[((SparkSession, String), (DataFrame, DataFrame))] = None
  private[graft] def sharedPlantedGt(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    synchronized {
      vecGtCache match {
        case Some((k, cached)) if k == ((s, dir)) => cached
        case _ =>
          // bounded planted universe (400 vectors at every SF) → the
          // boundedGate regime; graft_cosine evaluates through its own
          // compiled eval under NO_CODEGEN, so the exact-cosine pass
          // loses nothing
          val (corpus, gt) = boundedGate(s) {
            val c = plantedNearDupVectors(s, dir).localCheckpoint(true)
            val g = Similarity.cosinePairsAbove(c, "vec_id", "v", 0.99)
              .localCheckpoint(true)
            (c, g)
          }
          vecGtCache = Some(((s, dir), (corpus, gt)))
          (corpus, gt)
      }
    }

  /** Shared crawl-1 staging for the two URL-store gates
    * (`ext_url_dedup_incr`, `ext_url_dedup_forget`): both register the
    * SAME first batch into an identical fresh store, so the
    * registration ingest runs once per (session, dir) — each gate then
    * CLONES the staged store with a plain filesystem copy (no Spark
    * jobs; the store is batch-sized) before applying its own divergent
    * mutations. Same size-1 cache discipline as the GT builds. Returns
    * (staged store path — never mutated, never deleted by gates;
    * crawl-1 survivors, eagerly checkpointed).
    */
  @volatile private var urlStageCache:
      Option[((SparkSession, String), (String, DataFrame))] = None
  private def urlStage1(s: SparkSession, dir: String): (String, DataFrame) =
    synchronized {
      urlStageCache match {
        case Some((k, v)) if k == ((s, dir)) => v
        case _ =>
          val stage = java.nio.file.Files
            .createTempDirectory("graft_urlstage").toString + "/store"
          val out1 = graft.ext.IncrementalKeyedDedup.ingest(s,
              urlCrawl(s, dir).filter(col("doc_id") < 250), "doc_id",
              graft.ext.Urls.canonicalize(col("url")), stage)
            .localCheckpoint(true)
          urlStageCache = Some(((s, dir), (stage, out1)))
          (stage, out1)
      }
    }

  private def urlCrawl(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < 500)
      .select(col("doc_id"), expr(UrlSynthSql).as("url"))

  /** Local-fs recursive copy of a staged store into a gate's private
    * work dir — driver-side metadata work, zero Spark jobs.
    */
  private def cloneDir(s: SparkSession, from: String, to: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    ()
  }

  def queries: Map[String, Q] = Map(

    // ---- text analysis (oracled) ------------------------------------
    "ext_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"),
        length(col("text")).cast("long").as("len_chars"))
        .orderBy("doc_id")),

    "ext_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // Mutual information between metadata columns (oracled): entropies
    // + MI + normalized MI of (lang, source) — the is-this-column-
    // redundant check over one contingency-table aggregate.
    "ext_mutual_info" -> ((s, dir) =>
      graft.ops.Info.mutualInformation(
        Tables.documents(s, dir), "lang", "source")),

    // Corpus data card (fully oracled): the long-format datasheet —
    // size, token budget, language composition, quality, PII exposure,
    // exact-dup rate — one aggregate pass + one O(langs) groupBy.
    "ext_data_card" -> ((s, dir) =>
      graft.ext.DataCard.corpusCard(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // zlib compression-ratio repetitiveness screen (rows-only — DuckDB
    // has no zlib surface; gated instead by QualitySpec's
    // expression-vs-driver-helper exact-equality sweep and the
    // repetitive≪prose≪noise ordering goldens).
    "ext_compression_ratio" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(TextAnalysis.compressionRatio(s, col("text")), 6)
          .as("deflate_ratio"))
        .orderBy("doc_id")),

    // Classifier-evaluation family (all three fully oracled): the
    // measurement half of the learned quality gates. Score = the
    // rule-based quality score (its SQL restatement already carries
    // ext_quality_score), label = (lang = 'en') — the corpus's English
    // docs are longer/stopword-heavier by construction, so the AUC is
    // informative, and every metric is exact closed-form aggregate
    // arithmetic (see ext.Eval's scale notes: corpus collapses to
    // O(distinct scores)/O(bins)/O(1) rows in the first map-combinable
    // aggregate; the AUC cumulative runs over the aggregated table only).
    "ext_eval_auc" -> ((s, dir) =>
      Eval.rocAuc(
        Tables.documents(s, dir)
          .select(TextAnalysis.qualityScore(col("text")).as("score"),
            (col("lang") === "en").as("y")),
        "score", "y")),

    "ext_eval_confusion" -> ((s, dir) =>
      Eval.confusionAt(
        Tables.documents(s, dir)
          .select(TextAnalysis.qualityScore(col("text")).as("score"),
            (col("lang") === "en").as("y")),
        "score", "y", threshold = 0.5)),

    "ext_eval_calibration" -> ((s, dir) =>
      Eval.calibrationBins(
        Tables.documents(s, dir)
          .select(TextAnalysis.qualityScore(col("text")).as("score"),
            (col("lang") === "en").as("y")),
        "score", "y", bins = 10)),

    // Distributed-regression family. ext_linreg_fit: univariate OLS
    // (l_extendedprice ~ l_quantity) through the generated-expression
    // normal-equation pass — slope/intercept/R² hash-matched against
    // DuckDB's regr_* aggregates, so the Gram-solve path is oracled
    // end-to-end. ext_logreg_step: the full-batch logistic gradient at
    // w=0, which is LINEAR in the data (σ(0)=0.5) — the one point where
    // the iterative trainer's distributed pass is exactly SQL-restatable
    // (full training is spec-gated: RegressionSpec).
    "ext_linreg_fit" -> ((s, dir) => {
      import s.implicits._
      val m = graft.ext.Regression.fitLinear(
        Tables.lineitem(s, dir), "l_extendedprice", Seq("l_quantity"))
      val r2 = graft.ext.Regression.r2(
        Tables.lineitem(s, dir), "l_extendedprice", m)
      Seq((BigDecimal(m.weights(0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(m.weights(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(r2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("slope", "intercept", "r2")
    }),

    "ext_logreg_step" -> ((s, dir) => {
      import s.implicits._
      val feats = Tables.documents(s, dir).select(
        TextAnalysis.punctRatio(col("text")).as("punct"),
        TextAnalysis.stopwordRatio(col("text")).as("stop"),
        (col("lang") === "en").as("y"))
      val g = graft.ext.Regression.logisticGradient(
        feats, "y", Seq("punct", "stop"), w = Array(0.0, 0.0, 0.0))
      Seq((round6(g(0)), round6(g(1)), round6(g(2))))
        .toDF("d_punct", "d_stop", "d_intercept")
    }),

    // Exact top-k frequent tokens with NO token-level shuffle (oracled):
    // per-partition Misra-Gries candidate summaries, broadcast-filtered
    // exact recount, runtime exactness certificate with a full-aggregate
    // fallback — the counts are exact either way, so DuckDB's plain
    // unnest+count restates them.
    "ext_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.topTokens(Tables.documents(s, dir), "text", 30)),

    // Sequence packing (oracled): concat-and-split token-budget
    // assignment via the distributed prefix sum — the single window
    // expression DuckDB restates it as is exactly the single-partition
    // bottleneck the Spark implementation exists to avoid.
    "ext_pack_sequences" -> ((s, dir) =>
      Packer.packBudget(Tables.documents(s, dir), "doc_id",
          TextAnalysis.tokenCount(col("text")), 512)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // N-gram LM perplexity (oracled): the CCNet/Gopher-class learned
    // quality score — train add-k bigram counts on the corpus itself,
    // score every document's cross-entropy under them. Training is two
    // map-combinable aggregates; scoring joins gram keys against the
    // materialized model tables (AQE broadcasts bounded models).
    "ext_lm_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = NgramLm.train(docs, "text", k = 0.1)
      NgramLm.score(docs, "doc_id", "text", m).orderBy("doc_id")
    }),

    // Cross-corpus overlap via theta sketches (oracled): pairwise
    // distinct-token overlap between language slices WITHOUT a join —
    // one grouped sketch aggregation, O(groups·k) driver bytes, all
    // pairwise |A∩B|/Jaccard as driver set algebra. Below sketch
    // capacity the counts are EXACT (KMV retains everything), which is
    // what lets DuckDB restate this as the join it replaces at scale.
    "ext_corpus_overlap" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      CorpusOverlap.overlapByGroup(tok, "lang", "w", nominal = 1 << 17)
        .orderBy("group_a", "group_b")
    }),

    // Naive Bayes quality classifier (oracled): the supervised learned
    // gate beside the LM perplexity score — train on a positive vs
    // negative reference split (here: en vs non-en as a deterministic
    // stand-in for curated-vs-raw), score every doc's token log-odds.
    // One tagged-union aggregate trains; scoring is a gram-key join +
    // map-combinable sum.
    "ext_classifier_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = Classifier.train(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text", k = 0.5)
      Classifier.score(docs, "doc_id", "text", m).orderBy("doc_id")
    }),

    // Gopher-style repetition filters (oracled): documents dominated by
    // a single token or by repeated n-grams are the classic boilerplate
    // signature every published pre-training recipe screens for.
    "ext_repetition" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.topTokenFraction(col("text")).as("top_token_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 2).as("dup_2gram_frac"),
        TextAnalysis.duplicateNgramFraction(col("text"), 3).as("dup_3gram_frac"))
        .orderBy("doc_id")),

    // Deterministic corpus shuffle + shard assignment (oracled): global
    // position by md5(salt:id) rank via the distributed prefix sum —
    // the single-window form DuckDB restates it as is exactly the
    // one-partition sort the Spark implementation avoids.
    "ext_shuffle_shard" -> ((s, dir) =>
      graft.ext.Shuffle.shuffleShard(Tables.documents(s, dir),
          "doc_id", salt = "epoch1", numShards = 8)
        .orderBy("doc_id")),

    // Curriculum staging (oracled): corpus ordered by a difficulty
    // signal (token count — the length curriculum) and cut into 4
    // contiguous stages via the shared distributed prefix sum; the
    // single global window DuckDB restates it as is exactly the
    // one-partition sort the implementation avoids.
    "ext_curriculum_stages" -> ((s, dir) =>
      graft.ext.Curriculum.stageBySignal(
        Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")).cast("long"), 4)
        .orderBy("doc_id")),

    // Vocabulary coverage (oracled): the corpus's exact top-100 tokens
    // (heavy hitters — no token-level shuffle) become the vocabulary;
    // each doc reports its out-of-vocabulary token fraction.
    "ext_oov_rate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = HeavyHitters.topTokens(docs, "text", 100)
        .select("token").collect().map(_.getString(0)).toSeq
      docs.select(col("doc_id"),
        TextAnalysis.oovFraction(col("text"), vocab).as("oov_frac"))
        .orderBy("doc_id")
    }),

    "ext_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang"))
        .orderBy("doc_id")),

    "ext_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprintNormalized(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ---- dedup (oracled where portable) -----------------------------
    "ext_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", Seq("text"))
        .orderBy("content_hash")),

    // Exact-dedup SURVIVOR ROWS (oracled): the curated corpus itself —
    // lowest doc_id per distinct text, all columns intact.
    "ext_dedup_exact_rows" -> ((s, dir) =>
      Dedup.exactSurvivors(Tables.documents(s, dir), "doc_id", Seq("text"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // keyed dedup generalization: first doc per (lang, source)
    "ext_dedup_keyed" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_size"))
        .orderBy("lang", "source")),

    // MinHash-LSH near-dups (engine-hash → rows-only). 3-word shingles:
    // the corpus shares one small vocabulary, so unigram jaccard is ~1.0
    // for ALL pairs (a quadratic answer); order-sensitive shingles isolate
    // the genuinely planted near-dup pairs (jaccard 0.97+ at sf0.01).
    // spreadDocs: the per-doc hashing is now fully map-side (native
    // graft_minhash/graft_simhash — no explode shuffle), so scan
    // parallelism IS the parallelism; the testdata corpus arrives as one
    // single-row-group parquet split and must be spread explicitly. At
    // 100 TB the input is already thousands of splits and the repartition
    // of a sub-MB corpus here costs nothing.
    "ext_minhash_neardup" -> ((s, dir) =>
      Dedup.minhashNearDups(spreadDocs(s, dir), "doc_id", "text",
        threshold = 0.5, numHashes = 32, bands = 8, shingleN = 3)
        .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
        .limit(100)),

    // Corpus-level dedup: near-dup graph -> connected components ->
    // canonical doc per cluster (rows-only: built on engine-hash minhash).
    "ext_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(spreadDocs(s, dir), "doc_id", "text",
        threshold = 0.5, shingleN = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // SimHash signatures (rows-only: xxhash64-based).
    "ext_simhash" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")),

    // SimHash near-dup pairs, closest-first (rows-only). maxHamming=3 →
    // pigeonhole chunk-blocking with 4 chunks; the corpus's planted
    // bag-duplicates have hamming 0, so rows exist at every SF.
    "ext_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDups(spreadDocs(s, dir), "doc_id", "text",
        maxHamming = 3)
        .orderBy(col("hamming").asc, col("id_a").asc, col("id_b").asc)
        .limit(100)),

    // Exact substring-match dedup (oracled): pairs sharing any verbatim
    // 40-char span — high-precision copy-paste detection, the complement
    // of Jaccard-threshold near-dup. Universe bounded (all-pairs oracle);
    // the operator itself is bucket-bounded, not all-pairs.
    "ext_substring_pairs" -> ((s, dir) =>
      Dedup.sharedSubstringPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 300)
          .repartition(s.sessionState.conf.numShufflePartitions),
        "doc_id", "text", minLen = 40)
        .orderBy("id_a", "id_b")),

    // Incremental substring dedup, FULLY oracled (upgrades the spec-only
    // trust chain): two store-backed ingests over a split corpus must
    // report exactly the pairs the one-shot operator (and the DuckDB
    // all-pairs oracle) reports over the union — winnowing guarantees
    // candidate recall, the gram-set verify keeps precision exact, so
    // the hash must match, not just overlap.
    "ext_substring_incr" -> ((s, dir) => boundedGate(s) {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
        .repartition(s.sessionState.conf.numShufflePartitions)
      val store = java.nio.file.Files
        .createTempDirectory("graft_incsub").toString + "/store"
      val out = graft.ext.IncrementalSubstring.ingest(s,
          docs.filter(col("doc_id") < 150), "doc_id", "text", store, 40)
        .unionByName(graft.ext.IncrementalSubstring.ingest(s,
          docs.filter(col("doc_id") >= 150), "doc_id", "text", store, 40))
        .orderBy("id_a", "id_b").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // n-gram Jaccard pairs over a bounded id range (oracled: DuckDB list
    // comprehension mirrors the gram sets exactly; threshold 0.0 keeps
    // every pair, so this is the unfiltered top-20 — computed on hashed
    // gram sets, grams per doc built once, not per pair).
    "ext_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramGroundTruthPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text", 3, 0.0)
        .withColumnRenamed("jaccard3", "jaccard")
        .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
        .limit(20)),

    // Quantified-recall gates for the engine-hash near-dup pipelines
    // (whose raw pair output is xxhash64-based and so not SQL-portable):
    // the PLANTED ground truth IS oracle-able via char-3-gram Jaccard.
    // Each query returns the ground-truth pairs the pipeline FOUND, while
    // the oracle returns ALL ground-truth pairs — an exact hash match
    // therefore proves recall = 1.0, and any missed pair fails the gate.
    // Universe bounded to doc_id < 500 (the whole corpus at sf<=0.01,
    // where the correctness gate runs) because the measuring stick is
    // all-pairs quadratic by design.
    "ext_minhash_recall" -> ((s, dir) => {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      val found = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 32, bands = 8, shingleN = 3)
        .select("id_a", "id_b")
      gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b")
    }),

    // Recall gate for the INCREMENTAL signature-store pipeline: the same
    // planted ground truth as ext_minhash_recall, but found across TWO
    // separate ingests against a durable store (cross-batch pairs must
    // surface via store-bucket collisions, not an in-memory one-shot
    // run). Hash equality with the all-pairs oracle proves the
    // incremental path loses nothing at the batch boundary.
    "ext_incremental_recall" -> ((s, dir) => boundedGate(s) {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      val store = java.nio.file.Files
        .createTempDirectory("graft_incdedup").toString + "/store"
      val found =
        IncrementalDedup.ingest(s, docs.filter(col("doc_id") < 250),
            "doc_id", "text", store)
          .unionByName(
            IncrementalDedup.ingest(s, docs.filter(col("doc_id") >= 250),
              "doc_id", "text", store))
          .select("id_a", "id_b")
      val out = gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // END-TO-END erasure gate (fully oracled): the most compliance-
    // audited path a 100 TB pipeline has, held to a hard hash signal —
    // plant → ingest → takedown → re-ingest identical content, and the
    // final training-table state must equal "never ingested, then
    // re-registered". The corpus is the documents ids with SYNTHETIC
    // per-doc-unique token text (every token embeds the doc id, so all
    // pairwise shingle sets are disjoint → the ingest's gates and dedup
    // stages are exactly restatable in SQL, including the packer's
    // prefix-sum pack assignment over uniform 30-token docs). Three
    // ingests prove both directions of store memory:
    //   A: 40 docs → all committed (pack ids = floor(30·doc_id/64));
    //   takedown(7, vacuum): table row deleted AND stores forget;
    //   B: doc 7's identical text under fresh id 1007 → ADMITTED (the
    //      store forgot — without the takedown this is a jaccard-1.0
    //      cross-batch dup and would drop);
    //   C: doc 8's identical text under fresh id 1008, NO takedown →
    //      DROPPED (the store still remembers — erasure is targeted,
    //      not a store wipe), leaving only the replay ledger entry.
    // Expected final state: batch A minus doc 7 (its pack-id hole
    // preserved — packing happened before the takedown), plus 1007 in
    // batch B, nothing from C — which is exactly the oracle's UNION.
    "ext_takedown_e2e" -> ((s, dir) => {
      def synth(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat_ws(" ",
        transform(sequence(lit(1), lit(30)),
          i => concat(lit("w"), id, lit("q"), i)))
      val base = Tables.documents(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"), synth(col("doc_id")).as("text"))
      val bench = base.filter(col("doc_id") < 0) // empty benchmark
      val work = java.nio.file.Files
        .createTempDirectory("graft_takedown").toString
      val store = s"$work/store"
      val target = s"$work/table"
      def ing(b: DataFrame, deltaId: String): Unit =
        graft.pipelines.TrainingSet.ingest(s, b, bench, store, target,
          deltaId, budget = 64, minQuality = 0.0, maxTopTokenFrac = 1.0,
          maxDupNgramFrac = 1.0,
          // the gate reads the final TABLE, never the audit counts —
          // the count-free form drops ~7 jobs per ingest
          accounting = false)
      // the e2e flow is ~150 tiny stages over <=40-row frames whose
      // plans stack the big HOF expressions (gates, shingles, minhash):
      // at Spark's default 100-class cache it recompiled ~700 classes
      // on every run, and none warm at GraftExtensions' size, yet
      // codegen'd execution stays ~3x slower here (boundedGate has the
      // measurement). The eager section therefore runs fully
      // INTERPRETED with 4 shuffle partitions (the stream_stream_join
      // low-partition discipline): exactly how a real deployment sizes
      // a 40-row compliance check, while production-sized batches keep
      // codegen. Confs restored before
      // returning — the result frame is already eagerly checkpointed.
      // the shared bounded-gate regime (this gate is where it was first
      // adjudicated): interpreted, 4 partitions, AQE off, and — r16 —
      // auto-broadcast off, which folds each tiny join's separate
      // BroadcastExchange build job back into the query's one job
      // (~30 of the gate's 76 jobs were such builds, 10-170 ms each)
      val out = boundedGate(s) {
        ing(base, "A")
        graft.pipelines.TrainingSet.takedown(s, target, store, Seq(7L),
          vacuum = true)
        ing(base.filter(col("doc_id") === 7)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")), "B")
        ing(base.filter(col("doc_id") === 8)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")), "C")
        graft.sinks.TxTable.read(s, target).get
          .select(col("batch_id").cast("string").as("batch_id"),
            col("doc_id").cast("long").as("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("pack_id").cast("long").as("pack_id"),
            col("pack_offset").cast("long").as("pack_offset"))
          .orderBy("batch_id", "doc_id").localCheckpoint(true)
      }
      val p = new org.apache.hadoop.fs.Path(work)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // PageRank over the near-dup graph (fully oracled): 3 power
    // iterations, damping 0.85, over the undirected exact-3-gram pair
    // graph the recall gates share — ranks the duplication HUBS. The
    // oracle unrolls the same three iterations as chained CTEs, so the
    // distributed message-passing loop (contribution join + dst
    // aggregate + dangling fold) is hash-matched end-to-end.
    "ext_pagerank" -> ((s, dir) => boundedGate(s) {
      // GT-graph-bounded: pageRank materializes per-iteration
      // checkpoints internally, so the iteration jobs run inside the
      // bounded regime; the trailing select executes lazily against the
      // final checkpoint either way
      val gt = sharedGroundTruth(s, dir)
      graft.ext.Graph.pageRank(gt, "id_a", "id_b",
        iters = 3, damping = 0.85, undirected = true)
        .select(col("id").as("doc_id"), round(col("pr"), 6).as("pr"))
        .orderBy("doc_id")
    }),

    // Contrastive triplets from the same pair graph (fully oracled):
    // (anchor, positive) = near-dup pair, negative = in-batch rotation
    // with the true-neighbor safety filter — the supervision set an
    // embedding model trains on, derived entirely from dedup output.
    "ext_triplets" -> ((s, dir) => boundedGate(s) {
      // GT-bounded; the rotation's range partition + pass-1 collect
      // materialize inside the regime (see Triplets.inBatchTriplets)
      graft.ext.Triplets.inBatchTriplets(sharedGroundTruth(s, dir))
        .orderBy("anchor", "positive")
    }),

    "ext_corpus_recall" -> ((s, dir) => {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      val labels = Dedup.dedupCorpus(docs, "doc_id", "text",
        threshold = 0.5, shingleN = 3)
      // a ground-truth pair is "found" iff corpus dedup put both docs in
      // the same component (directly or transitively)
      gt.join(labels.select(col("id").as("id_a"), col("canonical_id").as("ca")), "id_a")
        .join(labels.select(col("id").as("id_b"), col("canonical_id").as("cb")), "id_b")
        .filter(col("ca") === col("cb"))
        .select("id_a", "id_b", "jaccard3")
        .orderBy("id_a", "id_b")
    }),

    // Corpus-dedup component ASSIGNMENT, fully oracled (upgrades the
    // rows-only trust chain of ext_dedup_corpus): the same connected-
    // components machinery dedupCorpus runs (componentsFromPairs), driven
    // by the SQL-restatable exact char-3-gram ground-truth pair graph
    // instead of engine-hash minhash pairs. The DuckDB oracle recomputes
    // the identical pair set and resolves components with a recursive CTE
    // (min reachable id), so the canonical-id assignment — not just pair
    // recall — is hash-matched end-to-end. Default driverMaxEdges →
    // exercises the driver union-find path.
    "ext_corpus_components" -> ((s, dir) => {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      Dedup.componentsFromPairs(docs, "doc_id", gt)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Same assignment, FORCING the distributed min-label-propagation path
    // (driverMaxEdges = 0) — the >driver-memory escape hatch is now held
    // to the same recursive-CTE oracle as the union-find path, so both
    // component engines carry a hard hash-match signal.
    "ext_corpus_components_dist" -> ((s, dir) => {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      Dedup.componentsFromPairs(docs, "doc_id", gt, driverMaxEdges = 0L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Quality-aware representative assignment (oracled): the same
    // component machinery, but each cluster keeps its LONGEST member
    // (n_chars as the quality proxy; ties → min id) instead of the
    // earliest-crawled one. The oracle re-derives components with the
    // recursive CTE and picks the identical argmax with a deterministic
    // window — assignment AND representative choice both hash-matched.
    "ext_dedup_keep_best" -> ((s, dir) => {
      val docs = gateDocs(s, dir)
      val gt = sharedGroundTruth(s, dir)
      Dedup.keepBestByScore(docs, "doc_id", "n_chars", gt)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "canonical_id", "rep_id")
        .orderBy("doc_id")
    }),

    // Quantified-recall gate for RP-LSH embedding near-dup (the
    // embedding-side analog of ext_minhash_recall): the corpus has no
    // natural near-identical vectors (max background cosine 0.51), so
    // near-dups are PLANTED deterministically — each vec_id < 200 gets a
    // perturbed twin (exact integer-mod arithmetic, bit-reproducible in
    // DuckDB) at cosine >= 0.997. The oracle returns ALL planted pairs by
    // exact cosine; the query returns the ones rpNearDups found — hash
    // equality proves recall 1.0, any missed pair fails the gate.
    "ext_rplsh_recall" -> ((s, dir) => {
      val (corpus, gt) = sharedPlantedGt(s, dir)
      val found = Similarity.rpNearDups(corpus, "vec_id", "v",
        threshold = 0.99, maxHamming = 10).select("id_a", "id_b")
      gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b")
    }),

    // Incremental EMBEDDING dedup recall gate (oracled, same universe as
    // ext_rplsh_recall): two store-backed ingests — base vectors first,
    // planted twins second — must find every cross-batch ground-truth
    // pair via store collisions, or the hash differs.
    "ext_embed_incr_recall" -> ((s, dir) => boundedGate(s) {
      val (corpus, gt) = sharedPlantedGt(s, dir)
      val store = java.nio.file.Files
        .createTempDirectory("graft_incembed").toString + "/store"
      val P = graft.ext.IncrementalEmbedDedup.Params(
        threshold = 0.99, maxHamming = 10)
      val found = graft.ext.IncrementalEmbedDedup.ingest(s,
          corpus.filter(col("vec_id") < 10000), "vec_id", "v", store, P)
        .unionByName(graft.ext.IncrementalEmbedDedup.ingest(s,
          corpus.filter(col("vec_id") >= 10000), "vec_id", "v", store, P))
        .select("id_a", "id_b")
      val out = gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // PQ-codes-backed incremental embedding dedup recall gate (oracled,
    // same planted universe): the durable store keeps PQ CODES instead
    // of raw vectors (~10x smaller; codebooks trained on the first
    // batch), so the cross-batch verify reconstructs only colliding ids.
    // Stored-side scores are the quantizer's approximation, so this gate
    // runs at threshold 0.9 — the planted twins sit at cosine >= 0.997
    // and m=32 (2-dim subspaces), k=64 reconstructs at MEASURED cosine
    // >= 0.992, an order-of-magnitude margin — while the ORACLE still
    // returns ALL
    // exact-cosine>=0.99 pairs: hash equality proves the codes-backed
    // store misses no true near-dup (recall 1.0); extra found pairs
    // below 0.99 exact are invisible to the semi-join.
    "ext_embed_incr_pq_recall" -> ((s, dir) => boundedGate(s) {
      val (corpus, gt) = sharedPlantedGt(s, dir)
      val store = java.nio.file.Files
        .createTempDirectory("graft_incembedpq").toString + "/store"
      val P = graft.ext.IncrementalEmbedDedup.Params(
        threshold = 0.9, maxHamming = 10, pqM = 32, pqK = 64)
      val found = graft.ext.IncrementalEmbedDedup.ingest(s,
          corpus.filter(col("vec_id") < 10000), "vec_id", "v", store, P)
        .unionByName(graft.ext.IncrementalEmbedDedup.ingest(s,
          corpus.filter(col("vec_id") >= 10000), "vec_id", "v", store, P))
        .select("id_a", "id_b")
      val out = gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .orderBy("id_a", "id_b").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Benchmark decontamination (oracled): every 50th doc plays the eval
    // set; training docs sharing ANY word 4-gram with it are flagged.
    // The benchmark gram set broadcasts; the corpus is never shuffled.
    "ext_decontaminate" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
      Decontaminate.contaminatedIds(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
        .orderBy("doc_id")
    }),

    // Contamination PROVENANCE (fully oracled): which benchmark item
    // leaked into which training doc, and how many distinct word
    // 4-grams they share — the audit artifact behind every removal in
    // ext_decontaminate (same fixture). Exact-string grams by
    // construction: provenance must never name an innocent benchmark
    // item via a hash collision.
    "ext_contamination_report" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
      Decontaminate.contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "doc_id", "text", n = 4)
        .orderBy("doc_id", "bench_id")
    }),

    // ---- similarity search ------------------------------------------
    // Brute-force exact cosine top-k vs the vec_id=0 embedding (oracled).
    "ext_cosine_topk" -> ((s, dir) => {
      val q = queryVector(s, dir)
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 10)
    }),

    // PCA-ASSISTED ANN (oracled by EQUALITY with exact search, the PQ
    // stack's discipline): fit a 32-dim PCA on the 64-dim corpus,
    // shortlist 100 candidates by cosine in the projected subspace (at
    // scale this is the cheap first pass over billions of vectors),
    // then exact re-rank ONLY the shortlist in full dimension. The
    // oracle is the same exact-search SQL — a missed true-top-10 vector
    // fails the hash, so the dim-reduction path carries a hard gate.
    // k=32 because this synthetic corpus is ISOTROPIC (flat spectrum —
    // PCA's worst case: measured, k=8 preserves almost no neighbor
    // order); real embedding corpora concentrate variance and tolerate
    // far smaller k. The gate stays honest either way.
    "ext_pca_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = queryVector(s, dir)
      val model = graft.ext.Pca.fit(emb, "embedding", k = 32)
      val qp = model.components.map(w =>
        q.zip(model.mean).zip(w).map { case ((x, m), wi) => (x - m) * wi }.sum)
      val cos = Similarity.cosineAuto(s) _
      val shortlist = graft.ext.Pca.transform(emb, "embedding", model, "p")
        .select(col("vec_id"), cos(col("p"), lit(qp)).as("ps"))
        .orderBy(col("ps").desc, col("vec_id").asc)
        .limit(100)
      emb.join(shortlist.select("vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id"),
          round(cos(Similarity.asDouble(col("embedding")),
            lit(q.toArray)), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    }),

    // Pairwise cosine above threshold on a bounded subset (oracled).
    "ext_cosine_pairs" -> ((s, dir) =>
      Similarity.cosinePairsAbove(
        Tables.embeddings(s, dir).filter(col("vec_id") < 500),
        "vec_id", "embedding", threshold = 0.45)
        .orderBy(col("score").desc, col("id_a").asc, col("id_b").asc)),

    // BATCH similarity serving (oracled): many query vectors against the
    // corpus in ONE job — the query set broadcast (tiny side), scores
    // computed map-side along the corpus scan, per-query top-k via the
    // bounded-heap Aggregator (O(k) state per query per partition; no
    // global sort, no per-query job). This is the realistic ANN serving
    // shape: at 100 TB the corpus scan happens once for the whole batch.
    "ext_batch_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dt = Similarity.dotAuto(s) _
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"),
          Similarity.asDouble(col("embedding")).as("qv"))
        .withColumn("qn", sqrt(dt(col("qv"), col("qv"))))
      val corpus = emb
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("n", sqrt(dt(col("v"), col("v"))))
      val scored = corpus.crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id"),
          round(dt(col("v"), col("qv")) / (col("n") * col("qn")), 6).as("score"))
      graft.ops.GroupedTopK(s, scored, "q_id", "score", "vec_id", 5)
        .select(col("q_id").cast("long").as("q_id"), col("score"), col("vec_id"))
        .orderBy(col("q_id").asc, col("score").desc, col("vec_id").asc)
    }),

    // Product-quantized top-k (ORACLED against the EXACT brute-force
    // search): codebooks trained on the bounded sample, corpus encoded to
    // m=8 one-byte codes (32x smaller than the float vectors), candidates
    // selected by pure-Column ADC table lookups, exact re-rank over the
    // broadcast pool. The oracle is equality with exact search — the
    // approximate index must RECOVER the true top-10, not just overlap it.
    "ext_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Pq.train(emb, "vec_id", "embedding", m = 8, k = 32)
      val codes = Pq.encode(emb, "vec_id", "embedding", cb)
      Pq.adcTopK(codes, emb, "vec_id", "embedding", cb,
        queryVector(s, dir), k = 10, pool = 100)
    }),

    // IVF approximate top-k (rows-only; recall measured in spec) —
    // probes the Lloyd-TRAINED index (2 rounds; see buildIndexes).
    "ext_ivf_topk" -> ((s, dir) => {
      val q = queryVector(s, dir)
      Similarity.ivfTopK(s, Tables.embeddings(s, dir), "vec_id", "embedding",
        q, k = 10, nCentroids = 16, nProbe = 4, iters = IvfIters)
    }),

    // IVF-PQ probe (rows-only: cluster assignment is engine-defined;
    // PqSpec asserts equality with the uncompressed IVF probe at the
    // same operating point): centroid pruning over the CODES table —
    // ADC lookups, no vector math — then exact re-rank of the pool.
    "ext_ivfpq_topk" -> ((s, dir) => {
      Pq.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryVector(s, dir), k = 10, nCentroids = 16, nProbe = 4,
        m = 8, nCodes = 32, iters = IvfIters, pool = 100)
    }),

    // IVF top-k against the DURABLE index artifact: probe selection is
    // partition-directory pruning on centroid_id (PlanSpec asserts
    // PartitionFilters) — the 100 TB layout, built once per corpus
    // (rows-only: cluster assignment is engine-defined).
    "ext_ivf_topk_persisted" -> ((s, dir) => {
      ensurePersistedIndex(s, dir)
      Similarity.ivfTopKPersisted(s, indexPath(s, dir), queryVector(s, dir),
        k = 10, nProbe = 4, idCol = "vec_id")
    }),

    // IVF-PQ against the DURABLE artifact: codes + codebooks + centroids
    // all load from disk — a fresh session probes with ZERO corpus
    // encode (the round-5 gap), and BOTH scans (codes ADC, re-rank
    // vectors) prune to the probed centroid directories (rows-only:
    // cluster assignment is engine-defined; equality with the
    // uncompressed durable probe and the stale-pin refusal are
    // spec-gated in PqSpec).
    "ext_ivfpq_topk_persisted" -> ((s, dir) => {
      ensurePersistedIndex(s, dir)
      if (!Pq.pqFresh(s, indexPath(s, dir)))
        Pq.pqAttachPersisted(s, indexPath(s, dir), m = 8, k = 32)
      Pq.ivfPqTopKPersisted(s, indexPath(s, dir), queryVector(s, dir),
        k = 10, nProbe = 4, pool = 100, idCol = "vec_id")
    }),

    // Incremental IVF maintenance: a sub-corpus index grows by an
    // assign-only append (no retrain, no rebuild — the IncrementalDedup
    // posture on the similarity side), then the grown index is probed.
    // The probe's top-1 must be the query's own vector, which arrived
    // via the APPEND path — proof the appended rows are probe-visible
    // (rows-only: cluster assignment is engine-defined; equivalence and
    // staleness are spec-gated in ExtSpec).
    "ext_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = appendIndexPath(s, dir)
      if (!Similarity.persistedIndexExists(s, path))
        Similarity.ivfBuildPersisted(emb.filter(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", path, nCentroids = 16, iters = IvfIters)
      Similarity.ivfAppendPersisted(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", path)
      Similarity.ivfTopKPersisted(s, path, queryVector(s, dir),
        k = 10, nProbe = 4, idCol = "vec_id")
    }),

    // IVF-bucketed near-dup pair search: only same-cluster pairs compared
    // (the scale path; rows-only — cluster assignment is engine-defined).
    "ext_cosine_pairs_ivf" -> ((s, dir) =>
      Similarity.cosinePairsAboveIvf(
        Tables.embeddings(s, dir).filter(col("vec_id") < 500),
        "vec_id", "embedding", threshold = 0.25, nCentroids = 8,
        iters = IvfIters)
        .orderBy(col("score").desc, col("id_a").asc, col("id_b").asc)
        .limit(100)),

    // Semantic dedup, fully ORACLED end-to-end: RP-LSH cosine pairs
    // over the planted-twin corpus -> connected components -> canonical
    // vector per semantic cluster. The DuckDB oracle recomputes the
    // exact-cosine pair graph and resolves components with the
    // recursive CTE (min reachable id) — a single twin pair missed by
    // the LSH blocking, or one wrong canonical assignment, breaks the
    // hash.
    "ext_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(sharedPlantedGt(s, dir)._1,
          "vec_id", "v", threshold = 0.99)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),

    // Per-label embedding statistics: mean vector norm per cluster label.
    "ext_embedding_stats" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          Similarity.norm(Similarity.asDouble(col("embedding"))).as("n"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          round(avg("n"), 4).as("avg_norm"),
          round(min("n"), 6).as("min_norm"),
          round(max("n"), 6).as("max_norm"))
        .orderBy("label")),

    // Embedding-space drift: per-dimension centroid comparison of two
    // embedding populations (labels 0/1 stand in for ref/new batches) —
    // the encoder-regression check of ext.EmbeddingDrift. One tagged
    // union scan into O(dims) groups.
    "ext_embedding_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.ext.EmbeddingDrift.perDimCentroids(
          e.filter(col("label") === 0), e.filter(col("label") === 1),
          "embedding")
        .select(col("pos"),
          round(col("mean_ref"), 6).as("mean_ref"),
          round(col("mean_cur"), 6).as("mean_cur"))
    }),

    // BM25 keyword retrieval (ext.Bm25): one corpus scan, postings
    // pruned to the query terms at the explode, O(|query|) df table
    // broadcast back, TakeOrdered top-k — the lexical half of a
    // retrieval stack next to ext_cosine_topk's embedding half.
    "ext_bm25_search" -> ((s, dir) =>
      graft.ext.Bm25.search(Tables.documents(s, dir), "doc_id", "text",
        Seq("join", "filter", "scan"), k = 25)),

    // Same query against the DURABLE inverted index (build-once-if-absent
    // under the session temp dir, keyed like the IVF artifact): the
    // serving path reads only the query terms' postings (pushed `term IN`
    // over the term-sorted layout). Same oracle as ext_bm25_search — the
    // index must be score-indistinguishable from the corpus scan.
    "ext_bm25_indexed" -> ((s, dir) => {
      val path = sys.props("java.io.tmpdir") +
        s"/graft_bm25_${corpusFp(s, dir, "documents")}"
      val marker = new org.apache.hadoop.fs.Path(path, "_constants")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker))
        graft.ext.Bm25.buildIndex(Tables.documents(s, dir), "doc_id",
          "text", path)
      graft.ext.Bm25.searchIndexed(s, path,
        Seq("join", "filter", "scan"), k = 25)
    }),

    // Ranked-retrieval metrics (oracled): recall@25 / MRR / nDCG@25 of
    // the BM25 list against a deterministic relevant set (docs whose
    // text contains ALL three query terms — correlated with but not
    // identical to the ranking, so every metric is non-degenerate) —
    // the measurement half of the search stack, one retrieval-sized
    // pass.
    "ext_retrieval_metrics" -> ((s, dir) => {
      val lst = graft.ext.Retrieval.ranked(
        graft.ext.Bm25.search(Tables.documents(s, dir), "doc_id", "text",
          Seq("join", "filter", "scan"), k = 25),
        "doc_id", "score")
      graft.ext.Retrieval.metrics(lst,
        Tables.documents(s, dir).filter(
          col("text").contains("join") && col("text").contains("filter") &&
            col("text").contains("scan"))
          .select("doc_id"),
        "doc_id", k = 25)
    }),

    // Hybrid retrieval: RRF fusion of the BM25 lexical list and the
    // embedding cosine list (doc_id == vec_id in the testdata) — the
    // production hybrid-search composition; fusion is rank-only, so no
    // cross-ranker score calibration.
    "ext_hybrid_rrf" -> ((s, dir) => {
      val lex = graft.ext.Retrieval.ranked(
        graft.ext.Bm25.search(Tables.documents(s, dir), "doc_id", "text",
          Seq("join", "filter", "scan"), k = 25),
        "doc_id", "score")
      val sem = graft.ext.Retrieval.ranked(
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id",
            "embedding", queryVector(s, dir), 25)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "score")
      graft.ext.Retrieval.rrf(Seq(lex, sem), "doc_id", k = 10)
    }),

    // Corpus length histogram per source: bucketed doc sizes.
    "ext_length_histogram" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"), (floor(col("n_chars") / 100) * 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(length(col("text"))), 2).as("avg_len"))
        .orderBy("source", "len_bucket")),

    // Deterministic hash-based sampling: keep ~20% of docs per stratum by
    // md5 prefix of (doc_id, lang) — the reproducible alternative to
    // seeded RNG sampling for training-data curation (same rows on every
    // engine, every run, any partitioning; pure filter, no shuffle).
    "ext_sample_stratified" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
          1, 2) < lit("33"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // Training-mix sampling (oracled): the largest subset whose language
    // proportions hit the target recipe (40% en, 15% each of es/fr/de/zh)
    // — deterministic md5-rank quotas, same sample on every engine.
    "ext_sample_mix" -> ((s, dir) =>
      graft.ext.Mix.sampleToDistribution(
        Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.4, "es" -> 0.15, "fr" -> 0.15,
          "de" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // Temperature-scaled mix (alpha=0.5): the target distribution is
    // DERIVED from corpus counts (p ∝ n^alpha — the published
    // low-resource up-sampling recipe) by one O(groups) aggregate, then
    // the same exact-quota sampler runs. Weights are computed over
    // groups sorted by key so the double summation is deterministic;
    // the oracle re-derives them independently in DuckDB.
    "ext_sample_temperature" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Mix.sampleToDistribution(docs, "lang", "doc_id",
        Mix.temperatureWeights(docs, "lang", 0.5))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Corpus-wide bigram vocabulary: explode word 2-shingles, count, top
    // 50 — the vocab-building aggregation of a tokenizer pipeline
    // (map-side partial counts, one shuffle, TakeOrdered).
    "ext_bigram_vocab" -> ((s, dir) =>
      spreadDocs(s, dir)
        .select(explode(Dedup.shingles(col("text"), 2)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram").asc)
        .limit(50)),

    // BPE tokenizer training, corpus pass: the bounded word histogram
    // (one map-combinable shuffle, deterministic top-k) that the driver
    // merge loop trains from — the corpus is read ONCE regardless of
    // merge count (ext.Bpe).
    "ext_bpe_wordhist" -> ((s, dir) =>
      Bpe.wordHistogram(spreadDocs(s, dir), "text", 60)),

    // BPE end-to-end: train merges from the corpus histogram, then
    // count subword tokens per document (scan-only mapPartitions with a
    // per-partition word->length memo). The merge budget is kept BELOW
    // full-merge for this corpus (its synthetic vocabulary is ~31
    // words) so the output genuinely exercises subword splitting —
    // tokens > words. Not SQL-expressible — rows-only here; BpeSpec
    // pins the merge rule, determinism, and the distributed-vs-driver
    // encode equivalence.
    "ext_bpe_tokens" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
      val merges = Bpe.train(Bpe.wordHistogram(docs, "text", 20000), 25)
      Bpe.tokenCounts(s, docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // The SECOND tokenizer family, same end-to-end shape: train the
    // unigram-LM vocabulary from the shared word histogram (driver-side
    // Viterbi-EM over the Zipf-bounded histogram), then count pieces per
    // document (scan-only mapPartitions, broadcast model, word memo).
    // Vocab budget below whole-word coverage so subword splitting is
    // real. Not SQL-expressible — rows-only; UnigramLmSpec pins the
    // golden EM fixed point, totality/losslessness, determinism, and
    // distributed == driver encode.
    "ext_unigram_tokens" -> ((s, dir) => {
      val docs = spreadDocs(s, dir)
      val model = graft.ext.UnigramLm.train(
        Bpe.wordHistogram(docs, "text", 20000), vocabSize = 40)
      graft.ext.UnigramLm.pieceCounts(s, docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // The unigram ENCODE path under a hard oracle (closes the
    // ext_unigram_tokens trust gap): same pieceCounts machinery
    // (Viterbi, per-partition memo, broadcast model, mapPartitions
    // plumbing), but under a FROZEN literal vocabulary so DuckDB can
    // restate the segmentation exactly — per distinct word it
    // enumerates ALL 2^(n-1) cut masks, scores them against the same
    // piece table (len-1 unknowns at the unk log-prob, multi-char
    // out-of-vocab invalid), and picks Viterbi's winner: max score,
    // ties to the longest-last-piece backpointer path (= reversed
    // piece-length list, descending lexicographic). Every log-prob is
    // a binary fraction (multiples of 0.25) so scores sum EXACTLY in
    // both engines and tie detection is bit-safe. The vocab engineers
    // the interesting paths: real subword splits (cus+tomer, st+ream,
    // win+dow, ta+ble), a genuine score tie (data: da+ta vs dat+a,
    // both -5.0 — the tie-break decides), and an unk character ('j'
    // is NOT in the vocab, so join = j|o|in pays unkLogProb). Only
    // `train` remains spec-pinned (UnigramLmSpec's golden EM fixed
    // point) — encode is now cross-engine hash-matched.
    "ext_unigram_pieces_frozen" -> ((s, dir) => {
      val singles = "abcdefghiklmnopqrstuvwy".map(c =>
        c.toString -> -3.0)
      val multi = Seq("er" -> -2.25, "in" -> -2.0, "st" -> -2.25,
        "ream" -> -2.5, "ta" -> -2.5, "ble" -> -2.75, "cus" -> -2.5,
        "tomer" -> -2.75, "win" -> -2.25, "dow" -> -2.5, "sort" -> -4.0,
        "dat" -> -2.0, "da" -> -2.5)
      val model = graft.ext.UnigramLm.Model(
        (singles ++ multi).toMap, unkLogProb = -8.0)
      graft.ext.UnigramLm.pieceCounts(s, spreadDocs(s, dir),
        "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // Inverse-frequency class weights (oracled): w_c = n / (k·n_c) —
    // the loss-weighting table a trainer reads next to an imbalanced
    // label column; one O(classes) aggregate.
    "ext_class_weights" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("lang").as("label")).agg(count(lit(1)).as("n_c"))
      val W = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      counts
        .withColumn("n", sum("n_c").over(W))
        .withColumn("k", count(lit(1)).over(W))
        .select(col("label"), col("n_c"),
          round(col("n") / (col("k") * col("n_c")), 6).as("weight"))
        .orderBy("label")
    }),

    // Weighted sample without replacement (oracled): A-ES keys over
    // n_chars weights — longer docs proportionally likelier, selection a
    // pure function of (ids, weights, k). TakeOrdered top-k, no global
    // sort.
    "ext_sample_weighted" -> ((s, dir) =>
      Mix.sampleWeighted(Tables.documents(s, dir), "doc_id", "n_chars", 50)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // Deterministic per-group top-n sampling: hash-ranked row_number
    // caps every stratum at exactly 20 docs (vs ext_sample_stratified's
    // rate-based filter) — quota sampling for balanced training mixes,
    // reproducible on any engine/partitioning.
    "ext_sample_pergroup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")
    }),

    // Token-window document chunking (oracled): 20-token windows with
    // stride 15 (5-token overlap) — the corpus-to-training-pieces step.
    // Narrow map-side plan (tokenize once, explode offsets, slice).
    "ext_chunk_documents" -> ((s, dir) =>
      graft.ext.Chunker.chunkByTokens(Tables.documents(s, dir),
          "doc_id", "text", window = 20, stride = 15)
        .orderBy("doc_id", "chunk_id")),

    // TF-IDF top-3 terms per document (oracled): corpus-statistics
    // keyword extraction — tf shuffle is map-combinable, df and the
    // corpus count broadcast (see ext.Tfidf scale notes).
    "ext_tfidf_topterms" -> ((s, dir) =>
      Tfidf.topTerms(spreadDocs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rn")),

    // PII redaction (oracled end-to-end): the corpus text is clean by
    // construction, so deterministic synthetic PII derived from doc_id is
    // appended first — the query then proves detection counts AND the
    // redacted output both match the oracle exactly.
    "ext_pii_redact" -> ((s, dir) => {
      val raw = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via https://ex.org/u/"), col("doc_id").cast("string"),
          lit(" ref "), (col("doc_id") * 1234567L + 999999L).cast("string")).as("raw"))
      raw.select(col("doc_id"),
        TextAnalysis.piiCount(col("raw"), TextAnalysis.EmailRe).cast("int").as("n_email"),
        TextAnalysis.piiCount(col("raw"), TextAnalysis.UrlRe).cast("int").as("n_url"),
        TextAnalysis.piiCount(col("raw"), TextAnalysis.IdRe).cast("int").as("n_id"),
        TextAnalysis.redactPii(col("raw")).as("clean"))
        .orderBy("doc_id")
    }),

    // int8 scalar quantization of embeddings (oracled): per-vector range
    // codes + reconstruction error — the ANN-serving compression step.
    "ext_embed_quantize" -> ((s, dir) =>
      Quantize.int8WithError(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("q_sum"),
          col("recon_mae"))
        .orderBy("vec_id")),

    // Spherical k-means, ONE full Lloyd round fully oracled (the
    // training loop inside every IVF build, graded directly): seed =
    // first k corpus vectors (deterministic and SQL-restatable),
    // assignment = argmax cosine with lowest-id ties, update =
    // elementwise member sum. One round keeps the differential exact —
    // assignment against the EXACT seed vectors is engine-deterministic,
    // and the summed components compare at 6 dp; later rounds assign
    // against order-of-summation-sensitive centroids, which a
    // cross-engine hash cannot pin (KMeansSpec covers multi-round
    // behavior in-engine instead).
    "ext_kmeans_step" -> ((s, dir) =>
      Similarity.kmeansCentroids(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 1, seeding = "first")
        .select(col("cid"), col("pos").cast("int").as("pos"),
          round(col("x"), 6).as("x"))
        .orderBy("cid", "pos")),

    // Cluster-size histogram of the seed assignment (iters = 0): the
    // argmax-cosine partition of the corpus against the exact seed
    // vectors — engine-deterministic, so the membership COUNTS (not
    // just the centroid arithmetic) are hash-pinned too.
    "ext_kmeans_sizes" -> ((s, dir) =>
      Similarity.kmeansAssignments(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 8, iters = 0, seeding = "first")
        .groupBy(col("centroid_id").as("cid"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cid")),

    // ---- multimodal (stub codec → rows-only) ------------------------
    "ext_multimodal_meta" -> ((s, dir) =>
      Multimodal.mediaTable(Tables.documents(s, dir))
        .select(col("doc_id"), octet_length(col("media")).as("byte_len"),
          col("format"), col("width"), col("height"))
        .orderBy("doc_id")),

    "ext_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
        Multimodal.mediaTable(Tables.documents(s, dir)))
        .toDF()
        .select(col("doc_id"), col("byte_len"), col("kind"), col("checksum"))
        .orderBy("doc_id")),

    // Perceptual image hashing (fully oracled): dHash over the opaque
    // media plane — 9×8 nearest-neighbor grid, horizontal gradient
    // signs packed into 64 bits — as pure Column arithmetic the oracle
    // replays bit for bit (DuckDB reads the same bytes through the
    // text the fake payloads encode; the signed 64-bit value is
    // assembled from two 32-bit halves because DuckDB's BIGINT shift
    // cannot reach bit 63 directly). The image-side sibling of
    // the minhash/simhash signature gates.
    "ext_image_dhash" -> ((s, dir) =>
      Multimodal.mediaTable(Tables.documents(s, dir))
        .select(col("doc_id"),
          Multimodal.dHashAuto(s)(
            col("media"), col("width"), col("height")).as("dhash"))
        .orderBy("doc_id")),

    // Near-duplicate IMAGES by dHash Hamming distance (fully oracled):
    // the pigeonhole chunk-blocked pair search (shared with simhash)
    // + exact verification, held to the all-pairs DuckDB restatement
    // over the bounded universe — hash equality proves the blocking
    // loses no pair at <= 10 bits. Near-dup texts make near-dup fake
    // images, so the corpus genuinely exercises the 0 < hamming <= 10
    // band, not just exact copies.
    "ext_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDups(
        Multimodal.mediaTable(
          Tables.documents(s, dir).filter(col("doc_id") < 300)),
        maxHamming = 10)
        .orderBy("id_a", "id_b")),

    // INCREMENTAL image near-dup vs the durable dHash store (fully
    // oracled): the same planted universe as ext_image_neardup, found
    // across TWO separate ingests — cross-batch pairs must surface via
    // store-signature collisions, not a one-shot run. The store family's
    // strongest gate shape: found pairs are BOTH exact-precision
    // (hamming-verified) and complete, so plain equality with the
    // all-pairs oracle proves the batch boundary loses nothing.
    "ext_image_incr" -> ((s, dir) => boundedGate(s) {
      val media = Multimodal.mediaTable(
        Tables.documents(s, dir).filter(col("doc_id") < 300))
      val store = java.nio.file.Files
        .createTempDirectory("graft_imgdedup").toString + "/store"
      val out = graft.ext.IncrementalImageDedup
        .ingest(s, media.filter(col("doc_id") < 150), store)
        .unionByName(graft.ext.IncrementalImageDedup
          .ingest(s, media.filter(col("doc_id") >= 150), store))
        .orderBy("id_a", "id_b").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // PIXEL-regime perceptual hash (fully oracled, the strongest gate of
    // the image family): 40 real PNGs — deflate-compressed at varying
    // levels, per-row scanline filters 0-4, some with the zlib stream
    // split over two IDAT chunks — are synthesized from a closed-form
    // plane formula, decoded by the REAL inflate+unfilter path inside
    // `graft_dhash_px`, and hashed over the 9×8 area-mean grid. The
    // DuckDB oracle never sees the PNG bytes: it regenerates each plane
    // from the same closed-form arithmetic and replays the grid with
    // integer cross-multiplied comparisons — so a single corrupted pixel
    // anywhere in the inflate/unfilter/grid path flips a gradient bit
    // and fails the hash compare. Metadata geometry is (0, 0): the
    // pixel regime must take its geometry from the image itself.
    "ext_image_dhash_px" -> ((s, dir) => {
      val rows = (0 until 40).map { k =>
        val w = 5 + (k * 7) % 14
        val h = 4 + (k * 5) % 11
        val plane = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          (((x * 13 + y * 7 + k * 29 + (x * y) % 5) * 3) % 251).toByte
        }
        (k.toLong,
          Multimodal.encodePng(w, h, 0, plane,
            (0 until h).map(y => (k + y) % 5), k % 10, splitIdat = k % 3 == 0),
          0, 0)
      }
      import s.implicits._
      rows.toDF("doc_id", "media", "width", "height")
        .select(col("doc_id"),
          Multimodal.dHashPixels(s)(
            col("media"), col("width"), col("height")).as("px"))
        .select(col("doc_id"), col("px.sh").as("dhash"),
          col("px.kind").as("kind"))
        .orderBy("doc_id")
    }),

    // COLOR-MODEL invariance, oracled: each of 15 pictures (16 gray
    // levels, multiples of 17 so the 4-bit scale-up v·255/15 is exact)
    // is encoded THREE byte-incompatible ways — truecolor RGB, 8-bit
    // PLTE palette, 4-bit packed gray — and all three must decode to
    // the SAME plane and hash. The oracle regenerates the plane from
    // the closed-form formula once per doc and emits the identical
    // hash for every variant: palette expansion, sub-byte unpacking,
    // and the BT.601 equal-channel identity are each one bit-flip away
    // from failing the compare.
    "ext_image_px_variants" -> ((s, dir) => {
      import s.implicits._
      val rows = (0 until 15).flatMap { k =>
        val w = 9 + (k * 3) % 10
        val h = 6 + (k * 2) % 7
        val v16 = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          ((x * 7 + y * 11 + k * 13) % 16).toByte
        }
        val pal = Array.tabulate(16 * 3)(i => ((i / 3) * 17).toByte)
        val gray8 = v16.map(v => (v * 17).toByte)
        Seq(
          (k.toLong, "gray4", Multimodal.encodePng(w, h, 0, v16,
            (0 until h).map(_ % 5), 6, bitDepth = 4)),
          (k.toLong, "pal8", Multimodal.encodePng(w, h, 3, v16,
            (0 until h).map(y => (y + 2) % 5), 9, palette = Some(pal))),
          (k.toLong, "rgb", Multimodal.encodePng(w, h, 2,
            gray8.flatMap(b => Array(b, b, b)), (0 until h).map(_ % 3), 1,
            splitIdat = true)))
      }
      rows.toDF("doc_id", "variant", "media")
        .select(col("doc_id"), col("variant"),
          Multimodal.dHashPixels(s)(col("media"), lit(0), lit(0))
            .getField("sh").as("dhash"))
        .orderBy("doc_id", "variant")
    }),

    // DEEP-COLOR + PROGRESSIVE invariance, oracled: each of 12 pictures
    // from the canonical plane formula is encoded FOUR byte-incompatible
    // ways — plain 8-bit gray, 16-bit (every sample v·257 per the spec),
    // Adam7-interlaced RGB, and 16-bit Adam7 gray — and all four must
    // decode to the SAME plane and hash. The oracle regenerates the
    // plane from the closed-form formula once per doc and emits the
    // identical hash for every variant: the high-byte fold, the 7-pass
    // deinterlace scatter, and per-pass unfiltering are each one
    // bit-flip away from failing the compare.
    "ext_image_px_deep" -> ((s, dir) => {
      import s.implicits._
      val rows = (0 until 12).flatMap { k =>
        val w = 8 + (k * 5) % 12
        val h = 5 + (k * 3) % 9
        val plane = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          (((x * 13 + y * 7 + k * 29 + (x * y) % 5) * 3) % 251).toByte
        }
        val rgb = plane.flatMap(b => Array(b, b, b))
        Seq(
          (k.toLong, "a7deep", Multimodal.encodePng(w, h, 0, plane,
            Seq(1, 3, 0), 9, bitDepth = 16, interlace = true)),
          (k.toLong, "adam7", Multimodal.encodePng(w, h, 2, rgb,
            Seq(4, 2, 0, 1), 6, interlace = true)),
          (k.toLong, "base8", Multimodal.encodePng(w, h, 0, plane,
            (0 until h).map(_ % 5), 6)),
          (k.toLong, "deep16", Multimodal.encodePng(w, h, 2, rgb,
            (0 until h).map(_ % 3), 1, bitDepth = 16, splitIdat = true)))
      }
      rows.toDF("doc_id", "variant", "media")
        .select(col("doc_id"), col("variant"),
          Multimodal.dHashPixels(s)(col("media"), lit(0), lit(0))
            .getField("sh").as("dhash"))
        .orderBy("doc_id", "variant")
    }),

    // CROSS-FORMAT invariance, oracled: each of 10 pictures is encoded
    // SEVEN byte-incompatible container formats — PNG, sequential GIF,
    // 4-pass interlaced GIF (identity gray color table: BT.601 of equal
    // channels is the gray value exactly), 24-bit bottom-up BMP, 8-bit
    // paletted top-down BMP, and two ICO (favicon) wrappers (a
    // headerless doubled-height DIB entry and a PNG entry) — and all
    // nine must decode to the SAME plane and hash. The oracle
    // regenerates the plane from the closed-form formula once per doc
    // and emits the identical hash for every variant: the LZW
    // expansion, GIF interlace reorder, BMP row flip/padding, the
    // BI_RLE8 run/absolute stream modes, both palette lookups, and
    // the ICO directory walk are each one bit-flip away from failing
    // the compare.
    "ext_image_px_formats" -> ((s, dir) => {
      import s.implicits._
      val grayCt = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      val rows = (0 until 10).flatMap { k =>
        val w = 7 + (k * 3) % 12
        val h = 5 + (k * 5) % 8
        val plane = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          (((x * 13 + y * 7 + k * 37 + (x * y) % 5) * 3) % 251).toByte
        }
        val rgb = plane.flatMap(b => Array(b, b, b))
        Seq(
          (k.toLong, "bmp24", Multimodal.encodeBmp(w, h, rgb)),
          (k.toLong, "bmp8", Multimodal.encodeBmp8(w, h, plane, grayCt,
            topDown = true)),
          // BI_RLE8, both stream modes (encoded runs / absolute spans)
          (k.toLong, "bmpr", Multimodal.encodeBmpRle8(w, h, plane, grayCt)),
          (k.toLong, "bmpra", Multimodal.encodeBmpRle8(w, h, plane, grayCt,
            absoluteRuns = true)),
          (k.toLong, "gif", Multimodal.encodeGif(w, h, plane, grayCt)),
          (k.toLong, "gifi", Multimodal.encodeGif(w, h, plane, grayCt,
            interlace = true)),
          // favicon wrappers: a PNG entry and a headerless-DIB entry —
          // the SAME picture behind the ICO directory walk
          (k.toLong, "icob", Multimodal.encodeIco(Seq((w, h,
            Multimodal.bmpToIcoDib(Multimodal.encodeBmp(w, h, rgb)))))),
          (k.toLong, "icop", Multimodal.encodeIco(Seq((w, h,
            Multimodal.encodePng(w, h, 0, plane,
              (0 until h).map(_ % 4), 3))))),
          (k.toLong, "png8", Multimodal.encodePng(w, h, 0, plane,
            (0 until h).map(_ % 5), 6)))
      }
      rows.toDF("doc_id", "variant", "media")
        .select(col("doc_id"), col("variant"),
          Multimodal.dHashPixels(s)(col("media"), lit(0), lit(0))
            .getField("sh").as("dhash"))
        .orderBy("doc_id", "variant")
    }),

    // LOSSLESS-WEBP invariance, oracled: each of 10 pictures from a
    // run-friendly closed-form formula (runs of 5 so the LZ77 variant
    // actually emits backward references) is encoded EIGHT
    // byte-incompatible VP8L ways — flat literal codes, color cache,
    // greedy LZ77, meta-Huffman, subtract-green, cross-channel color
    // transform, predictor transform (Select mode), color indexing —
    // and all eight must decode to the SAME plane and hash. The
    // oracle regenerates the plane from the formula and replays the
    // area-mean grid, so every stage of the Vp8l decoder (canonical
    // Huffman walk, cache, distance mapping, all four inverse
    // transforms) is one bit-flip away from failing the compare.
    "ext_image_px_webp" -> ((s, dir) => {
      import s.implicits._
      val rows = (0 until 10).flatMap { k =>
        val w = 10 + (k * 3) % 9
        val h = 6 + (k * 5) % 7
        val plane = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          ((((x / 5) * 29 + y * 13 + k * 37) * 3) % 251).toByte
        }
        Seq(
          (k.toLong, "cache", Multimodal.encodeWebpL(w, h, plane,
            cacheBits = 5)),
          (k.toLong, "cx", Multimodal.encodeWebpL(w, h, plane,
            colorXform = true)),
          (k.toLong, "flat", Multimodal.encodeWebpL(w, h, plane)),
          (k.toLong, "lz77", Multimodal.encodeWebpL(w, h, plane,
            lz77 = true)),
          (k.toLong, "meta", Multimodal.encodeWebpL(w, h, plane,
            meta = true)),
          (k.toLong, "pal", Multimodal.encodeWebpL(w, h, plane,
            palette = true)),
          (k.toLong, "pred", Multimodal.encodeWebpL(w, h, plane,
            predictor = 11)),
          (k.toLong, "sg", Multimodal.encodeWebpL(w, h, plane,
            subtractGreen = true)))
      }
      rows.toDF("doc_id", "variant", "media")
        .select(col("doc_id"), col("variant"),
          Multimodal.dHashPixels(s)(col("media"), lit(0), lit(0))
            .getField("sh").as("dhash"))
        .orderBy("doc_id", "variant")
    }),

    // Most-similar-image search (fully oracled): per-probe Hamming
    // top-k over the corpus — the ext_batch_topk shape with Hamming in
    // place of cosine (probe signatures broadcast, one corpus scan,
    // bounded heaps).
    "ext_image_topk" -> ((s, dir) => {
      val media = Multimodal.mediaTable(
        Tables.documents(s, dir).filter(col("doc_id") < 300))
      Multimodal.imageTopK(media,
        Multimodal.mediaTable(
          Tables.documents(s, dir).filter(col("doc_id") < 8)), k = 5)
        .orderBy(col("q_id").asc, col("hamming").asc, col("doc_id").asc)
    }),

    // BASELINE-TIFF invariance, oracled: each of 10 pictures from the
    // closed-form formula is encoded SIX byte-incompatible TIFF ways —
    // little-endian gray, big-endian RGB, inverted-polarity gray
    // (photometric 0), 256-color palette, PackBits-compressed gray,
    // multi-strip PackBits — and all six must decode to the SAME plane
    // and hash. The oracle regenerates the plane and replays the grid:
    // the IFD walk in both byte orders, the polarity inversion, the
    // 16-bit ColorMap fold, the PackBits expansion, and the strip
    // stitching are each one bit-flip away from failing the compare.
    "ext_image_px_tiff" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(768)(i => (i / 3).toByte)
      val rows = (0 until 10).flatMap { k =>
        val w = 9 + (k * 5) % 10
        val h = 6 + (k * 3) % 8
        val plane = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          ((((x / 4) * 23 + y * 11 + k * 41) * 3) % 251).toByte
        }
        val rgb = plane.flatMap(b => Array(b, b, b))
        Seq(
          (k.toLong, "be_rgb", Multimodal.encodeTiff(w, h, rgb, 2,
            bigEndian = true)),
          (k.toLong, "gray", Multimodal.encodeTiff(w, h, plane, 1)),
          (k.toLong, "inv", Multimodal.encodeTiff(w, h, plane, 0)),
          (k.toLong, "pal", Multimodal.encodeTiff(w, h, plane, 3,
            palette = grayPal)),
          (k.toLong, "pb", Multimodal.encodeTiff(w, h, plane, 1,
            packBits = true)),
          (k.toLong, "strips", Multimodal.encodeTiff(w, h, plane, 1,
            packBits = true, rowsPerStrip = 3)))
      }
      rows.toDF("doc_id", "variant", "media")
        .select(col("doc_id"), col("variant"),
          Multimodal.dHashPixels(s)(col("media"), lit(0), lit(0))
            .getField("sh").as("dhash"))
        .orderBy("doc_id", "variant")
    }),

    // Animated-GIF FRAME SURFACE, oracled: 8 synthesized animations
    // (real GIF89a — Graphic Control Extensions carrying per-frame
    // delays, one full LZW stream per frame) with doc_id-derived frame
    // counts and delays, plus one single-frame GIF (no GCE -> 1 frame,
    // 0 cs). frames/duration_cs are exact container integers, so the
    // oracle regenerates them in closed form — a mis-skipped extension,
    // a lost GCE, or a frame walk that stops at the first descriptor
    // each moves a row and fails the hash.
    "ext_image_gif_anim" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      def frame(k: Int, f: Int) = Array.tabulate(11 * 7)(p =>
        ((p * 29 + k * 13 + f * 41) % 251).toByte)
      val rows = (0 until 8).map { k =>
        val n = 2 + k % 4
        (k.toLong, Multimodal.encodeGifAnim(11, 7,
          (0 until n).map(f => frame(k, f)), grayPal,
          (0 until n).map(f => 4 + (k * 5 + f) % 11)))
      } :+ (99L, Multimodal.encodeGif(11, 7, frame(9, 0), grayPal))
      Multimodal.gifAnimTable(s, rows.toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Two-CUT animation dedup (oracled on PLANTED truth): 6 animations
    // over globally-distinct frame formulas; two of them also appear as
    // re-encoded CUTS with the intro frame dropped — the edit class the
    // single first-frame key provably misses (spec-held divergence).
    // A correct frame-landmark pairer pairs exactly cut-with-original:
    // remaining frames share their per-frame hashes, distinct
    // animations share none. The oracle is the closed-form pair list.
    "ext_image_gif_anim_pairs" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      def frame(k: Int, f: Int) = Array.tabulate(13 * 9)(p =>
        ((p * 31 + k * 7 + f * 53) % 251).toByte)
      def anim(k: Int, drop: Int) = Multimodal.encodeGifAnim(13, 9,
        (drop until 5).map(f => frame(k, f)), grayPal,
        (drop until 5).map(f => 6 + f))
      val rows = (0 until 6).map(k => (k.toLong, anim(k, 0))) ++
        Seq((100L, anim(0, 1)), (102L, anim(2, 1)))
      Multimodal.animDups(s, rows.toDF("doc_id", "media"))
        .select("id_a", "id_b", "shared")
        .orderBy("id_a", "id_b")
    }),

    // Cross-container ANIMATION surface, oracled: the same closed-form
    // frame/duration formulas synthesized as real GIF89a (GCE delays,
    // centiseconds), APNG (acTL/fcTL/fdAT, num/den rationals at
    // den=100), and animated WebP (VP8X/ANIM/ANMF, exact milliseconds)
    // — animTable must report each container's exact integers folded
    // to milliseconds, plus one static GIF (1 frame, 0 ms) and NO rows
    // for a static PNG/WebP (no acTL/ANMF = no animation surface).
    "ext_image_anim" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      val W = 11; val H = 7
      def frame(k: Int, f: Int) = Array.tabulate(W * H)(p =>
        ((p * 29 + k * 13 + f * 41) % 251).toByte)
      def n(k: Int) = 2 + k % 3
      val gifs = (0 until 4).map { k =>
        (k.toLong, Multimodal.encodeGifAnim(W, H,
          (0 until n(k)).map(f => frame(k, f)), grayPal,
          (0 until n(k)).map(f => 4 + (k * 5 + f) % 11)))
      }
      val apngs = (0 until 4).map { k =>
        (100L + k, Multimodal.encodeApng(W, H, 0,
          (0 until n(k)).map(f => Multimodal.ApngFrameSpec(
            frame(k, f), W, H, delayNum = 2 + (k + f) % 5,
            delayDen = 100))))
      }
      val webps = (0 until 4).map { k =>
        (200L + k, Multimodal.encodeWebpAnim(W, H,
          (0 until n(k)).map(f => Multimodal.WebpFrameSpec(
            frame(k, f).map(v => 0xff000000 | ((v & 0xff) * 0x010101)),
            W, H, durationMs = 7 + (k * 3 + f) % 13))))
      }
      val statics = Seq(
        (900L, Multimodal.encodeGif(W, H, frame(9, 0), grayPal)),
        (901L, Multimodal.encodePng(W, H, 0, frame(9, 1),
          (0 until H).map(_ % 5))),
        (902L, Multimodal.encodeWebpL(W, H, frame(9, 2))))
      Multimodal.animTable(s,
          (gifs ++ apngs ++ webps ++ statics).toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Two-cut animation dedup ACROSS containers (oracled on PLANTED
    // truth): three 5-frame animations, each shipped as the full GIF,
    // an APNG cut with the intro frame dropped, and an animated-WebP
    // cut with the intro dropped. All three containers hash the same
    // composited-canvas landmark model, so a correct pairer pairs
    // exactly {full-gif, apng-cut, webp-cut} per animation at
    // shared=4 — dedup across BOTH the cut edit class AND the
    // container re-encode class in one operator. The oracle is the
    // closed-form pair list.
    "ext_image_anim_pairs" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      val W = 13; val H = 9
      def frame(k: Int, f: Int) = Array.tabulate(W * H)(p =>
        ((p * 31 + k * 7 + f * 53) % 251).toByte)
      val rows = (0 until 3).flatMap { k =>
        Seq(
          (k.toLong, Multimodal.encodeGifAnim(W, H,
            (0 until 5).map(f => frame(k, f)), grayPal,
            (0 until 5).map(f => 6 + f))),
          (100L + k, Multimodal.encodeApng(W, H, 0,
            (1 until 5).map(f => Multimodal.ApngFrameSpec(
              frame(k, f), W, H, delayNum = 6 + f, delayDen = 100)))),
          (200L + k, Multimodal.encodeWebpAnim(W, H,
            (1 until 5).map(f => Multimodal.WebpFrameSpec(
              frame(k, f).map(v => 0xff000000 | ((v & 0xff) * 0x010101)),
              W, H, durationMs = 60 + f * 10)))))
      }
      Multimodal.animDups(s, rows.toDF("doc_id", "media"),
          minSharedFrames = 4)
        .select("id_a", "id_b", "shared")
        .orderBy("id_a", "id_b")
    }),

    // The same cut/cross-container planted truth found ACROSS two
    // ingests of the durable animation-landmark store (the
    // ext_audio_incr shape on AnimDedup): batch 1 registers four GIF
    // animations; batch 2's APNG and WebP cuts of two of them must
    // surface via STORED-landmark collisions, not a one-shot run.
    "ext_image_anim_incr" -> ((s, dir) => {
      import s.implicits._
      val grayPal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      def frame(k: Int, f: Int) = Array.tabulate(13 * 9)(p =>
        ((p * 31 + k * 7 + f * 53) % 251).toByte)
      def gifFull(k: Int) = Multimodal.encodeGifAnim(13, 9,
        (0 until 5).map(f => frame(k, f)), grayPal,
        (0 until 5).map(f => 6 + f))
      val b1 = (0 until 4).map(k => (k.toLong, gifFull(k)))
        .toDF("doc_id", "media")
      val b2 = Seq(
        (100L, Multimodal.encodeApng(13, 9, 0, (1 until 5).map(f =>
          Multimodal.ApngFrameSpec(frame(0, f), 13, 9, delayNum = 6 + f)))),
        (102L, Multimodal.encodeWebpAnim(13, 9, (1 until 5).map(f =>
          Multimodal.WebpFrameSpec(
            frame(2, f).map(v => 0xff000000 | ((v & 0xff) * 0x010101)),
            13, 9, durationMs = 60 + f * 10)))),
        (5L, gifFull(7)))
        .toDF("doc_id", "media")
      val store = java.nio.file.Files
        .createTempDirectory("graft_animdedup").toString + "/store"
      boundedGate(s) {
        // fixture-bounded two-ingest lifecycle; each ingest's pair frame
        // is eagerly checkpointed inside AnimDedup.ingest (before the
        // store mutates), so the regime covers all the real work
        graft.ext.AnimDedup.ingest(s, b1, store, minSharedFrames = 4)
          .unionByName(
            graft.ext.AnimDedup.ingest(s, b2, store, minSharedFrames = 4))
          .orderBy("id_a", "id_b")
      }
    }),

    // Image PROVENANCE extraction, oracled: 12 JPEGs wrapped with real
    // EXIF APP1 segments (IFD0 Make/Model/Orientation + DateTimeOriginal
    // behind the ExifIFD pointer) whose fields derive from doc_id in
    // closed form, plus one EXIF-less JPEG that must yield nulls — and
    // the SAME closed-form fields carried through PNG's eXIf chunk
    // (doc 200+) and WebP's EXIF RIFF chunk (doc 300+, alternating the
    // optional Exif\0\0 prefix): the IFD walk is container-independent,
    // so every envelope hop must land the identical row.
    "ext_image_exif" -> ((s, dir) => {
      import s.implicits._
      val plane = Array.tabulate(10 * 8)(p => ((p * 53) % 251).toByte)
      val baseJpeg = {
        val im = new java.awt.image.BufferedImage(10, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 8; x <- 0 until 10)
          im.setRGB(x, y, (plane(y * 10 + x) & 0xff) * 0x010101)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "jpg", out)
        out.toByteArray
      }
      val basePng = Multimodal.encodePng(10, 8, 0, plane,
        (0 until 8).map(_ % 5))
      val baseWebp = Multimodal.encodeWebpL(10, 8, plane)
      def orientOf(k: Int) = 1 + k % 8
      def makeOf(k: Int) = s"maker${k % 5}"
      def modelOf(k: Int) = f"cam_${k * 7 % 30}%02d"
      def takenOf(k: Int) = f"2021:${k % 12 + 1}%02d:15 0${k % 9}:30:00"
      // GPS on two of every three rows (the PII-screening surface):
      // d/m/s rationals, hemisphere refs exercising both signs
      def gpsOf(k: Int) =
        if (k % 3 == 2) None
        else Some((if (k % 2 == 0) "N" else "S",
          10 + k, k * 5 % 60, k * 7 % 60,
          if (k % 3 == 0) "E" else "W",
          100 + k, k * 11 % 60, k * 13 % 60))
      val rows = (0 until 12).map { k =>
        (k.toLong, Multimodal.exifJpeg(baseJpeg, orientOf(k), makeOf(k),
          modelOf(k), takenOf(k), gpsOf(k)))
      } ++ (0 until 6).map { k =>
        (200L + k, Multimodal.exifPng(basePng, orientOf(k), makeOf(k),
          modelOf(k), takenOf(k), gpsOf(k)))
      } ++ (0 until 6).map { k =>
        (300L + k, Multimodal.exifWebp(baseWebp, orientOf(k), makeOf(k),
          modelOf(k), takenOf(k), gpsOf(k), exifPrefix = k % 2 == 1))
      } :+ (99L, baseJpeg)
      Multimodal.exifTable(s, rows.toDF("doc_id", "media"))
        .toDF()
        .select(col("doc_id"), col("orientation"), col("make"),
          col("model"), col("taken_at"),
          round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"))
        .orderBy("doc_id")
    }),

    // PNG textual metadata (oracled, closed form — r15): the image
    // heap's in-band provenance channel; 4 PNGs each carrying a tEXt
    // Software tag, a deflated iTXt "parameters" blob (the
    // image-generator prompt convention) and a zTXt comment — plus a
    // text-less PNG and a non-PNG contributing nothing
    "ext_image_pngtext" -> ((s, dir) => {
      import s.implicits._
      val base = Multimodal.encodePng(6, 5, 0,
        Array.tabulate(30)(i => (i * 8).toByte), (0 until 5).map(_ => 0))
      val docs = (0L until 4L).map { k =>
        (k, graft.ext.PngText.withText(base, Seq(
          ("Software", s"gen_$k v1.$k", null, false),
          ("parameters", s"prompt_$k seed ${k * 7}", "en", true),
          ("Comment", s"note_$k", null, true))))
      }
      val none = Seq((8L, base), (9L, "not a png".getBytes("UTF-8")))
      graft.ext.PngText.table(s, (docs ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // THE DISPATCH TABLE, oracled in one row set: one synthesized
    // fixture per (format -> regime) class — PNG/GIF/BMP/TIFF/ICO/
    // lossless-WebP pixels, WAV/MP3/Vorbis/AIFF/AU pcm, FLAC lossless,
    // lossy-WebP/MP3-torso/Vorbis-torso/Opus/MP4/WebM/Matroska/AVIF/
    // HEIC/HEIF/AIFC-ima4 container, junk byte-stats — with a DISTINCT
    // planted count per class, rolled up by decodeCensus. Every
    // misrouted or regressed decoder moves a count and fails the hash:
    // the whole media-regime inventory is pinned by one CORRECTNESS
    // row per class.
    "ext_decode_census_all" -> ((s, dir) => {
      import s.implicits._
      val plane = Array.tabulate(12 * 9)(p => ((p * 37) % 251).toByte)
      val grayCt = Array.tabulate(256 * 3)(i => (i / 3).toByte)
      val rgb = plane.flatMap(b => Array(b, b, b))
      val jpeg = {
        val im = new java.awt.image.BufferedImage(12, 9,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 9; x <- 0 until 12)
          im.setRGB(x, y, (plane(y * 12 + x) & 0xff) * 0x010101)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "jpg", out)
        out.toByteArray
      }
      val lossyWebp = { // VP8 keyframe header: geometry only
        val p = new Array[Byte](12)
        p(3) = 0x9d.toByte; p(4) = 0x01; p(5) = 0x2a; p(6) = 12; p(8) = 9
        val o = new java.io.ByteArrayOutputStream()
        o.write("RIFF".getBytes("US-ASCII"))
        o.write(Array[Byte]((4 + 8 + 12).toByte, 0, 0, 0))
        o.write("WEBP".getBytes("US-ASCII"))
        o.write("VP8 ".getBytes("US-ASCII"))
        o.write(Array[Byte](12, 0, 0, 0)); o.write(p)
        o.toByteArray
      }
      // a REAL Layer III stream (decodes -> pcm since r13) and a
      // header-only torso (geometry parses, decode refuses: the
      // container class stays census-visible)
      val mp3Pcm = AudioFingerprint.tonesMp3(32000,
        Seq((440.0, 2048), (880.0, 2048)), 0.5)
      val mp3Container = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(Array(0xff, 0xfb, 0x92, 0x40).map(_.toByte))
        o.write(new Array[Byte](400))
        o.toByteArray
      }
      val mp3Wav = { // fmt tag 0x55: the compressed-WAV wrapper class
        val o = new java.io.ByteArrayOutputStream()
        def le32(v: Int): Unit = (0 until 4).foreach(i =>
          o.write((v >> (8 * i)) & 0xff))
        o.write("RIFF".getBytes("US-ASCII"))
        le32(4 + 24 + 8 + mp3Pcm.length)
        o.write("WAVE".getBytes("US-ASCII"))
        o.write("fmt ".getBytes("US-ASCII")); le32(16)
        o.write(0x55); o.write(0); o.write(2); o.write(0)
        le32(44100); le32(16000)
        o.write(1); o.write(0); o.write(0); o.write(0)
        o.write("data".getBytes("US-ASCII")); le32(mp3Pcm.length)
        o.write(mp3Pcm)
        o.toByteArray
      }
      def oggId(packet: Array[Byte]) = {
        val o = new java.io.ByteArrayOutputStream()
        o.write("OggS".getBytes("US-ASCII")); o.write(0); o.write(2)
        o.write(new Array[Byte](20)) // granule, serial, seq, crc
        o.write(1); o.write(packet.length)
        o.write(packet); o.toByteArray
      }
      val vorbis = oggId({
        val p = new java.io.ByteArrayOutputStream()
        p.write(1); p.write("vorbis".getBytes("US-ASCII"))
        p.write(new Array[Byte](4)); p.write(2)
        p.write(Array[Byte](0x44, 0xac.toByte, 0, 0))
        p.write(new Array[Byte](12)); p.toByteArray
      })
      val opus = oggId({
        val p = new java.io.ByteArrayOutputStream()
        p.write("OpusHead".getBytes("US-ASCII")); p.write(1); p.write(1)
        p.write(new Array[Byte](2))
        p.write(Array[Byte](0x44, 0xac.toByte, 0, 0))
        p.write(new Array[Byte](3)); p.toByteArray
      })
      val tone = Array.tabulate(2048)(i =>
        math.round(0.4 * math.sin(2 * math.Pi * 500 * i / 8000)
          * 32767.0).toInt)
      // (copies, declared format, payload) — copies distinct per class
      val classes = Seq[(Int, String, Array[Byte])](
        (2, "image/png", Multimodal.encodePng(12, 9, 0, plane,
          (0 until 9).map(_ % 5), 6)),
        (3, "image/jpeg", jpeg),
        (4, "image/gif", Multimodal.encodeGif(12, 9, plane, grayCt)),
        (5, "image/bmp", Multimodal.encodeBmp(12, 9, rgb)),
        (6, "image/tiff", Multimodal.encodeTiff(12, 9, plane, 1)),
        (7, "image/x-icon", Multimodal.encodeIco(Seq((12, 9,
          Multimodal.bmpToIcoDib(Multimodal.encodeBmp(12, 9, rgb)))))),
        (8, "image/webp", Multimodal.encodeWebpL(12, 9, plane)),
        (1, "image/webp", lossyWebp),
        (2, "audio/wav", AudioDsp.pcmWav(tone.map(_ / 32767.0), 8000)),
        (3, "audio/flac", graft.ext.Flac.encode(tone, 8000)),
        // FLAC-in-Ogg (r13): the native decoder through the rebuilt
        // stream, so the envelope hop keeps the lossless class
        (22, "audio/ogg", graft.ext.OggFlac.encode(tone, 8000)),
        (4, "audio/mpeg", mp3Pcm),
        (13, "audio/mpeg", mp3Container),
        (12, "audio/wav", mp3Wav),
        (5, "audio/ogg", vorbis),
        // a REAL Vorbis stream (decodes -> pcm since r13); the
        // id-header torso above keeps the container class visible
        (18, "audio/ogg", graft.ext.Vorbis.encode(
          Array.tabulate(2048)(i =>
            0.4 * math.sin(2 * math.Pi * 440 * i / 8000)), 8000)),
        // a FLOOR0 Vorbis stream (the legacy LSP floor, decodes -> pcm
        // since r14): lands in the same (mime, pcm) class as floor1 —
        // a refusal would split 23 of these rows into the container
        // class and fail the count oracle
        (23, "audio/ogg", graft.ext.Vorbis.encode(
          Array.tabulate(2048)(i =>
            0.4 * math.sin(2 * math.Pi * 440 * i / 8000)), 8000,
          floor0 = true)),
        (6, "audio/ogg", opus),
        // legacy PCM containers (r13): AIFF and AU decode as real pcm;
        // an AIFC 'ima4' keeps COMM geometry on the container side
        (19, "audio/aiff", graft.ext.Aiff.encode(
          tone.map(_ / 32767.0), 8000)),
        (20, "audio/basic", graft.ext.Au.encode(
          tone.map(_ / 32767.0), 8000, encoding = 1)),
        (21, "audio/aiff", {
          val a = graft.ext.Aiff.encode(
            tone.map(_ / 32767.0), 8000, compression = "fl32")
          // patch the compression 4cc to the unimplemented 'ima4'
          val i = a.indexOfSlice("fl32".getBytes("US-ASCII"))
          a(i) = 'i'; a(i + 1) = 'm'; a(i + 2) = 'a'; a(i + 3) = '4'
          a
        }),
        (7, "video/mp4", Multimodal.minimalMp4(600, 1200, 1, 320, 240)),
        // the ISO-BMFF IMAGE heap (r13): stills, a sequence, and the
        // generic mif1 brand rescued by its compatible avif — four
        // census classes that were previously INVISIBLE (no geometry,
        // no class at all); AV1/HEVC payload decode stays the
        // documented codec boundary, which is why these count as
        // "container", never "pixels"
        (14, "image/avif", Multimodal.minimalHeif("avif", 64, 48)),
        (15, "image/avif", Multimodal.minimalHeif("avis", 64, 48,
          items = 2, sttsCounts = Seq(5, 3), timescale = 100,
          durationTicks = 240)),
        (16, "image/heic", Multimodal.minimalHeif("heic", 96, 72,
          alphaIspe = Some((24, 18)))),
        (17, "image/heif", Multimodal.minimalHeif("mif1", 80, 60,
          compatBrands = Seq("miaf"))),
        (10, "video/webm", Multimodal.minimalWebm(1000000L, 3000.0,
          320, 240, Seq(Array.tabulate(60)(i => ((i * 7) % 251).toByte)))),
        (11, "video/x-matroska", Multimodal.minimalWebm(1000000L, 800.0,
          160, 120, Seq(Array.tabulate(44)(i => ((i * 11) % 251).toByte)),
          docType = "matroska")),
        // PDF (r14): extracted pages land the "text" regime — the
        // long-form document heap becomes a counted census class; a
        // PDF header with an unparseable body stays byte-stats
        (24, "application/pdf", Pdf.encode(Seq(
          Seq("census page one", "line"), Seq("census page two")))),
        (25, "application/pdf",
          ("%PDF-1.7\n" + "garbage " * 40).getBytes("UTF-8")),
        // HTML (r15): the crawl's dominant text format joins the
        // census "text" regime alongside PDF
        (26, "text/html", ("<!DOCTYPE html><html><head>" +
          "<title>census</title><style>p{x:1}</style></head><body>" +
          "<p>census html body</p></body></html>").getBytes("UTF-8")),
        // DOCX/EPUB (r15): zip-container documents are "text"; a
        // plain zip is an archive, NOT a document — byte-stats
        (27, "application/docx", graft.ext.Office.encodeDocx(
          Seq("census docx para"), title = "census")),
        (28, "application/epub+zip", graft.ext.Office.encodeEpub(
          Seq(("Census Ch", Seq("census epub para"))), title = "census")),
        (29, "application/zip", graft.ext.Office.zipWrap(
          Seq(("data/blob.bin", Array.tabulate(96)(i =>
            ((i * 13) % 251).toByte))))),
        // RTF (r15): the legacy rich-text class is "text"
        (31, "application/rtf", graft.ext.Rtf.encode(
          Seq("census rtf body"), title = "census")),
        // Email/MBOX (r15): two messages, one html-bodied — the
        // rfc822 magic must win over the loose HTML sniff
        (32, "message/rfc822", graft.ext.Email.encodeMbox(Seq(
          ("a@census", "s1", 2001, "census mail one"),
          ("b@census", "s2", 2002, "census mail two")),
          shape = Map(0 -> "plain", 1 -> "multipart"))),
        // WARC (r15): crawl archives are a counted container class
        (30, "application/warc", graft.ext.Warc.encode(Seq(
          ("warcinfo", "", "2020-01-01T00:00:00Z",
            "crawler=census".getBytes("UTF-8")),
          ("response", "http://census/a", "2020-01-01T00:00:00Z",
            graft.ext.Warc.httpBlock(200, "text/html",
              "<html><body><p>census warc</p></body></html>"
                .getBytes("UTF-8")))))),
        // generic XML (r15): "text" class (XHTML would be text/html)
        (36, "application/xml", ("<?xml version=\"1.0\"?><doc>" +
          "<p>census xml body</p></doc>").getBytes("UTF-8")),
        // ODT (r15): OpenDocument text joins the zip-document regime
        (37, "application/vnd.oasis.opendocument.text",
          graft.ext.Office.encodeOdt(Seq("census odt body"),
            title = "odt census")),
        // TAR (r15): dump archives are a counted container class
        (35, "application/x-tar", graft.ext.Tar.encode(Seq(
          ("docs/a.html", ("<html><body><p>census tar member" +
            "</p></body></html>").getBytes("UTF-8")),
          ("raw/b.bin", Array.tabulate(40)(i => ((i * 17) % 251).toByte))))),
        // gzip transparency (r15): a gzipped payload classifies by
        // its INFLATED bytes under a gzip: prefix; gzip of nothing
        // recognizable is plain byte-stats (the wrapper says nothing)
        (33, "application/gzip", {
          val o = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(o)
          gz.write(("<!DOCTYPE html><html><body><p>gzipped census" +
            "</p></body></html>").getBytes("UTF-8"))
          gz.close(); o.toByteArray
        }),
        (34, "application/gzip", {
          val o = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(o)
          gz.write(Array.tabulate(128)(i => ((i * 31) % 251).toByte))
          gz.close(); o.toByteArray
        }),
        (9, "application/junk", "not any known container".getBytes("UTF-8")))
      val rows = classes.zipWithIndex.flatMap { case ((n, fmt, bytes), ci) =>
        (0 until n).map(j => Multimodal.MediaRow(
          ci * 100L + j, bytes, fmt, 0, 0))
      }
      Multimodal.decodeCensus(s, rows.toDF())
    }),

    // Query-by-example TEXT search through the persisted SimHash index
    // (oracled on PLANTED truth, the audio-search discipline — SimHash
    // itself is xxhash64-based and deliberately not restated in SQL):
    // 40 documents over globally-unique token vocabularies, probes that
    // are exact re-crawls of eight of them plus one never-seen
    // document. A correct index's top-1 is EXACTLY the probe's source
    // at Hamming 0 (disjoint vocabularies put every other signature far
    // outside the bound — xxhash64 is fixed, so the planted separation
    // is deterministic, verified once, stable forever), and the
    // never-seen probe returns NO rows — the honest bounded-search
    // answer. The oracle is the closed-form planted match list.
    "ext_text_index_search" -> ((s, dir) => {
      import s.implicits._
      def txt(k: Int) = (0 until 30)
        .map(i => s"u${k}w${(k * 31 + i * 7) % 911}t$i").mkString(" ")
      val corpusRows = (0 until 40).map(k => (k.toLong, txt(k)))
      val corpus = corpusRows.toDF("doc_id", "text")
      val probes = ((0 until 8).map(k => (500L + k, txt(k))) :+
        (900L, txt(77))).toDF("doc_id", "text")
      // build-once cache (the imageIndexPath discipline): the corpus is
      // synthesized, so the cache key is a fingerprint of what the
      // fixture formula PRODUCED — a formula change invalidates it
      // with no version string to remember to bump
      val path = s"${sys.props("java.io.tmpdir")}/graft_textidx/h7_" +
        fixtureFp(corpusRows.map { case (id, t) =>
          (id, t.getBytes("UTF-8")) })
      if (!graft.ext.SimhashIndex.exists(s, path))
        boundedGate(s) { // fixture-bounded build (the probe stays as-is)
          graft.ext.SimhashIndex.build(corpus, "doc_id", "text", path,
            maxHamming = 7)
        }
      graft.ext.SimhashIndex.topK(s, path, probes, "doc_id", "text", k = 1)
        .orderBy("q_id")
    }),

    // Bounded-distance search through the PERSISTED Hamming index
    // (fully oracled): the pruned posting-layout probe must EQUAL the
    // exhaustive rank restricted to the index's bound — pigeonhole
    // blocking is exact, so the artifact answers takedown-grade
    // "every copy within H bits" queries without a corpus scan.
    "ext_image_index_topk" -> ((s, dir) => {
      ensureImageIndex(s, dir)
      graft.ext.ImageIndex.topK(s, imageIndexPath(s, dir),
        Multimodal.mediaTable(
          Tables.documents(s, dir).filter(col("doc_id") < 8)), k = 5)
        .orderBy(col("q_id").asc, col("hamming").asc, col("doc_id").asc)
    }),

    // Rotation-tolerant search through the persisted Hamming index
    // (oracled on PLANTED truth): a corpus of textured images plus a
    // 90°-cw and a 270°-cw re-save of two of them; each probe's
    // hamming-0 matches must be EXACTLY {its source, its rotated
    // re-save} — the plain probe provably cannot see the rotations
    // (spec-held), the oriented probe hashes the probe's own plane
    // through all four quarter turns while the STORE keeps one
    // orientation-free hash per image (COVERAGE round-11 decision).
    "ext_image_index_oriented" -> ((s, dir) => {
      import s.implicits._
      def plane(seed: Int) = Array.tabulate(24 * 16) { p =>
        val x = p % 24; val y = p / 24
        (((x * (13 + seed % 7) + y * (7 + seed % 5) +
          x * y * (1 + seed % 3)) * 3 + seed * 29) % 251).toByte
      }
      def rotCw(p: Array[Byte], w: Int, h: Int): Array[Byte] = {
        val out = new Array[Byte](p.length)
        for (y <- 0 until h; x <- 0 until w)
          out(x * h + (h - 1 - y)) = p(y * w + x)
        out
      }
      def img(seed: Int) = Multimodal.storedGrayPng(plane(seed), 24, 16)
      val p3r90 = rotCw(plane(3), 24, 16) // 16×24
      val p7r270 = rotCw(rotCw(rotCw(plane(7), 24, 16), 16, 24), 24, 16)
      val corpusRows = (0 until 30).map(se => (se.toLong, img(se))) ++ Seq(
        (5000L, Multimodal.storedGrayPng(p3r90, 16, 24)),
        (5001L, Multimodal.storedGrayPng(p7r270, 16, 24)))
      val corpus = corpusRows
        .toDF("doc_id", "media")
        .withColumn("width", lit(0)).withColumn("height", lit(0))
      // cache keyed by the fixture CONTENT (fixtureFp discipline)
      val path = s"${sys.props("java.io.tmpdir")}/graft_imgidx_oriented/" +
        fixtureFp(corpusRows)
      if (!graft.ext.ImageIndex.exists(s, path))
        boundedGate(s) { // fixture-bounded build (the probe stays as-is)
          graft.ext.ImageIndex.build(corpus, path, maxHamming = 7)
        }
      val probes = Seq((3L, img(3)), (7L, img(7))).toDF("doc_id", "media")
        .withColumn("width", lit(0)).withColumn("height", lit(0))
      graft.ext.ImageIndex.topKOriented(s, path, probes, k = 4)
        .filter(col("hamming") === 0) // the planted identity class
        .select("q_id", "doc_id")
        .orderBy("q_id", "doc_id")
    }),

    // Image dedup CLUSTERS (fully oracled): connected components over
    // the dHash near-dup pair graph — the canonical-image assignment
    // that turns pairwise image similarity into per-cluster keep/drop
    // decisions, reusing the exact component machinery the text corpus
    // dedup carries (componentsFromPairs; min-reachable-id labels).
    "ext_image_components" -> ((s, dir) => {
      val media = Multimodal.mediaTable(
        Tables.documents(s, dir).filter(col("doc_id") < 300))
      val pairs = Multimodal.imageNearDups(media, maxHamming = 10)
        .select("id_a", "id_b")
      Dedup.componentsFromPairs(media.select("doc_id"), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Query-by-example AUDIO search (oracled on PLANTED truth): ten
    // re-mastered probes (amplitude-scaled copies at fresh ids) against
    // a 20-recording corpus of globally-unique tone sequences — a
    // correct searcher's top-1 is EXACTLY the probe's source recording
    // (unique tones share no spectrum, minShared floors out noise). The
    // shared-count column is deliberately dropped: its value is real
    // FFT arithmetic (frozen-golden territory), the MATCH IDENTITY is
    // the closed-form truth.
    "ext_audio_search" -> ((s, dir) => {
      import s.implicits._
      def rec(k: Int, amp: Double) = AudioFingerprint.tonesWav(8000,
        (0 until 6).map(i => (300.0 + (k * 6 + i) * 25.0, 1024)), amp)
      val corpus = (0 until 20).map(k => (k.toLong, rec(k, 0.5)))
        .toDF("doc_id", "media")
      val probes = (0 until 10).map(k => (500L + k, rec(k, 0.25)))
        .toDF("doc_id", "media")
      AudioFingerprint.audioTopK(s, corpus, probes, k = 1)
        .select("q_id", "doc_id").orderBy("q_id")
    }),

    // The same planted truth through the PERSISTED audio-fingerprint
    // posting index (oracled): the pruned inverted-layout probe must
    // return EXACTLY what the full-scan form returns — exact landmark
    // keys make the index a pure I/O optimization, so any divergence is
    // a layout/probe bug. The pruning itself (probe bytes-read below a
    // full postings scan) is held by AudioIndexSpec via task input
    // metrics; this gate pins the RESULT identity against the closed-
    // form planted match list ext_audio_search uses.
    "ext_audio_search_indexed" -> ((s, dir) => {
      import s.implicits._
      def rec(k: Int, amp: Double) = AudioFingerprint.tonesWav(8000,
        (0 until 6).map(i => (300.0 + (k * 6 + i) * 25.0, 1024)), amp)
      val corpusRows = (0 until 20).map(k => (k.toLong, rec(k, 0.5)))
      val corpus = corpusRows.toDF("doc_id", "media")
      val probes = (0 until 10).map(k => (500L + k, rec(k, 0.25)))
        .toDF("doc_id", "media")
      // build-once cache keyed by the fixture CONTENT (fixtureFp
      // discipline — no version string to remember to bump)
      val path = s"${sys.props("java.io.tmpdir")}/graft_audioidx/" +
        fixtureFp(corpusRows)
      if (!graft.ext.AudioIndex.exists(s, path))
        boundedGate(s) { // fixture-bounded build (the probe stays as-is)
          graft.ext.AudioIndex.build(s, corpus, path)
        }
      graft.ext.AudioIndex.topK(s, path, probes, k = 1)
        .select("q_id", "doc_id").orderBy("q_id")
    }),

    // Duplicate AUDIO across CONTAINERS (oracled on PLANTED truth):
    // 12 recordings as 16-bit WAV plus 6 of them re-encoded as REAL
    // FLAC streams (fixed-prediction + Rice — byte-incompatible files,
    // bit-identical decoded signals through the one shared decode). A
    // correct pipeline pairs exactly master-with-rip: unique tone
    // sequences share no spectrum, and the landmark hashes are decode-
    // exact. The oracle is the closed-form planted pair list.
    "ext_audio_flac_pairs" -> ((s, dir) => {
      import s.implicits._
      def tones(k: Int) =
        (0 until 6).map(i => (300.0 + (k * 6 + i) * 25.0, 1024))
      val wavs = (0 until 12).map(k =>
        (k.toLong, AudioFingerprint.tonesWav(8000, tones(k), 0.5)))
      val flacs = (0 until 6).map(k =>
        (100L + k, AudioFingerprint.tonesFlac(8000, tones(k), 0.5)))
      AudioFingerprint.audioNearDups(s,
          (wavs ++ flacs).toDF("doc_id", "media"))
        .select("id_a", "id_b") // shared-count stays frozen-golden land
        .orderBy("id_a", "id_b")
    }),

    // Duplicate AUDIO across a LOSSY codec boundary (oracled on PLANTED
    // truth, the flac-gate discipline): 12 recordings as 16-bit WAV at
    // an MPEG-1 rate plus 6 of them re-encoded as REAL MPEG-1 Layer III
    // streams (ext.Mp3 — full side-info/Huffman/IMDCT/polyphase decode,
    // the r12 verdict's top_next). Unlike FLAC the decoded signal is
    // NOT bit-identical — the pairing survives because landmarks are
    // spectral peaks and the codec's quantization noise sits far below
    // them. Tones are 125 Hz (= 2 FFT bins at 32 kHz / 512) apart so
    // distinct recordings share no peak bins, and recording RANGES sit
    // a further 500 Hz apart: the codec's residual inter-band alias
    // ghosts (stopband ~-68 dB, exposed only where quantization breaks
    // the filterbank's exact cancellation) land in a band's immediate
    // neighborhood, so the gap keeps distinct recordings at ZERO
    // shared landmarks (measured: 31-45 shared planted vs 0 cross).
    // The oracle is the closed-form planted pair list.
    "ext_audio_mp3_pairs" -> ((s, dir) => {
      import s.implicits._
      def tones(k: Int) =
        (0 until 6).map(i =>
          (400.0 + (k * 6 + i) * 125.0 + k * 500.0, 4096))
      val wavs = (0 until 12).map(k =>
        (k.toLong, AudioFingerprint.tonesWav(32000, tones(k), 0.5)))
      val mp3s = (0 until 6).map(k =>
        (100L + k, AudioFingerprint.tonesMp3(32000, tones(k), 0.5)))
      AudioFingerprint.audioNearDups(s,
          (wavs ++ mp3s).toDF("doc_id", "media"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // Audio PROVENANCE extraction (oracled, closed form — the
    // ext_image_exif discipline on the audio heap): 12 ID3v2-tagged
    // MP3 carriers (alternating v2.3/latin-1 and v2.4/UTF-8), 12
    // FLACs with real VORBIS_COMMENT blocks, 12 Ogg-Vorbis streams
    // with comment-header fields, 12 WAVs with 'id3 ' chunks, 12
    // AIFFs with 'ID3 ' chunks, 12 M4As with iTunes ilst atoms, 12
    // ID3v2.2-tagged MP3s (three-byte frames, half through the
    // unsynchronisation scheme), 12 Matroska/WebM files with Tags
    // elements (album via the TargetTypeValue-50 TITLE form) and 12
    // APEv2 trailer tags (half stacked under an ID3v1 block) — every
    // field doc_id-derived, every fourth doc carrying embedded cover
    // art (APIC / PIC / PICTURE block / base64
    // METADATA_BLOCK_PICTURE / chunked APIC / covr atom / image
    // attachment / Cover Art (Front) item), plus one untagged payload
    // that must land the all-null row. The tag walk is
    // container-independent, so all nine envelopes land identical row
    // shapes.
    "ext_audio_tags" -> ((s, dir) => {
      import s.implicits._
      def artist(d: Long) = s"artist_${d % 7}"
      def title(d: Long) = s"track_${d % 5}"
      def album(d: Long) = s"album_${d % 3}"
      def year(d: Long) = (1990 + d % 30).toInt
      val cover = Multimodal.encodePng(6, 5, 0,
        Array.tabulate(30)(i => (i * 8).toByte), (0 until 5).map(_ => 0))
      val torso = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(Array(0xff, 0xfb, 0x92, 0x40).map(_.toByte))
        o.write(new Array[Byte](96)); o.toByteArray
      }
      val tagTone = Array.tabulate(1500)(i => math.round(
        0.4 * math.sin(2 * math.Pi * 500 * i / 8000) * 32767).toInt)
      val mp3s = (0L until 12L).map(d => (d, AudioTags.id3v2Wrap(torso,
        artist(d), title(d), album(d), year(d),
        cover = if (d % 4 == 0) cover else null,
        v24 = d % 2 == 1, utf8 = d % 2 == 1)))
      val flacs = (0L until 12L).map { k =>
        val d = k + 100
        (d, AudioTags.flacWithTags(Flac.encode(tagTone, 8000),
          artist(d), title(d), album(d), year(d),
          cover = if (d % 4 == 0) cover else null))
      }
      val oggs = (0L until 12L).map { k =>
        val d = k + 200
        val cm = Seq("ARTIST" -> artist(d), "TITLE" -> title(d),
          "ALBUM" -> album(d), "DATE" -> year(d).toString) ++
          (if (d % 4 == 0)
            Seq("METADATA_BLOCK_PICTURE" -> AudioTags.oggPictureField(cover))
          else Nil)
        (d, graft.ext.Vorbis.encode(tagTone.map(_ / 32768.0), 8000,
          comments = cm))
      }
      // the chunked carriers: WAV 'id3 ' and AIFF 'ID3 ' chunks hold
      // a full ID3v2 tag appended after the sample data
      val wavs = (0L until 12L).map { k =>
        val d = k + 300
        (d, AudioTags.withId3Chunk(
          AudioDsp.pcmWav(tagTone.map(_ / 32768.0), 8000),
          AudioTags.id3Tag(artist(d), title(d), album(d), year(d),
            cover = if (d % 4 == 0) cover else null)))
      }
      val aiffs = (0L until 12L).map { k =>
        val d = k + 400
        (d, AudioTags.withId3Chunk(
          graft.ext.Aiff.encode(tagTone.map(_ / 32768.0), 8000),
          AudioTags.id3Tag(artist(d), title(d), album(d), year(d),
            cover = if (d % 4 == 0) cover else null, v24 = true)))
      }
      // the sixth carrier: M4A-shaped ISO-BMFF with iTunes ilst atoms
      // spliced into moov (udta/meta/hdlr/ilst — the layout
      // iTunes/ffmpeg write)
      val m4as = (0L until 12L).map { k =>
        val d = k + 500
        (d, AudioTags.mp4WithTags(
          Multimodal.minimalMp4(1000, 2000, 1, 0, 0,
            mdat = Array.tabulate(64)(i => (d * 31 + i).toByte)),
          artist(d), title(d), album(d), year(d),
          cover = if (d % 4 == 0) cover else null))
      }
      // the seventh carrier: ID3v2.2 (three-byte frames, the
      // old-iTunes-rip vintage), half of them through the
      // unsynchronisation scheme (whole-tag FF-00 stuffing)
      val v22s = (0L until 12L).map { k =>
        val d = k + 600
        (d, AudioTags.id3v2Wrap(torso,
          artist(d), title(d), album(d), year(d),
          cover = if (d % 4 == 0) cover else null,
          v22 = true, unsync = d % 2 == 1))
      }
      // the eighth carrier: Matroska/WebM Tags (SimpleTag fields, the
      // album through the spec's TargetTypeValue-50 TITLE form) with
      // cover art as an image-typed attachment
      val mkvs = (0L until 12L).map { k =>
        val d = k + 700
        (d, AudioTags.mkvWithTags(
          Multimodal.minimalWebm(1000000L, 1500.0 + k, 320, 240,
            Seq(Array.tabulate(40)(i => ((d * 13 + i) % 251).toByte)),
            audioTrack = true),
          artist(d), title(d), album(d), year(d),
          cover = if (d % 4 == 0) cover else null))
      }
      // the ninth carrier: APEv2 trailer tags (the Monkey's-Audio-era
      // ripper footer), stacked under an ID3v1 trailer on odd ids —
      // the wild layout where APE must be found before the v1 block
      val apes = (0L until 12L).map { k =>
        val d = k + 800
        val ape = AudioTags.apeWrap(torso,
          artist(d), title(d), album(d), year(d),
          cover = if (d % 4 == 0) cover else null)
        (d, if (d % 2 == 1) AudioTags.id3v1Wrap(ape, "x", "x") else ape)
      }
      AudioTags.table(s,
          (mp3s ++ flacs ++ oggs ++ wavs ++ aiffs ++ m4as ++ v22s ++
            mkvs ++ apes ++ Seq((999L, torso)))
            .toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Wild-MP3 coverage MEASUREMENT (oracled on PLANTED side info):
    // the embedded Huffman subset (Mp3 documented substitution #2)
    // covers graft-encoded fixtures by construction — this gate makes
    // its REAL coverage a per-stream measured number. Three
    // hand-rolled streams plant the side-info geometry directly
    // (44.1 kHz 128 kbps mono, 417-byte frames): all-subset frames,
    // all-wild frames (table_select 13, the LAME/FhG staple the subset
    // lacks), and a 5/8 mixed stream; two graft-encoded streams pin
    // the frames-from-samples arithmetic. The oracle is the closed-form
    // (total, decodable, fraction) list.
    // Embedded LYRICS extraction (oracled, closed form — r15): the
    // audio heap's in-band TEXT modality across SIX carriers —
    // ID3v2.2 ULT / v2.3 / v2.4-utf8 USLT, FLAC + Ogg Vorbis-comment
    // LYRICS, M4A ©lyr, APE Lyrics, Matroska LYRICS SimpleTag; a
    // tagged-but-lyricless file and a junk payload contribute nothing
    "ext_audio_lyrics" -> ((s, dir) => {
      import s.implicits._
      def ly(d: Long) = s"ly_$d line0\nly_$d line1"
      val torso = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(Array(0xff, 0xfb, 0x92, 0x40).map(_.toByte))
        o.write(new Array[Byte](96)); o.toByteArray
      }
      val tone = Array.tabulate(1500)(i => math.round(
        0.4 * math.sin(2 * math.Pi * 500 * i / 8000) * 32767).toInt)
      val mp3s = (0L until 4L).map(d => (d, AudioTags.id3v2Wrap(torso,
        artist = s"a_$d", lyrics = ly(d),
        v24 = d % 2 == 1, utf8 = d % 2 == 1)))
      val v22 = Seq((4L, AudioTags.id3v2Wrap(torso, title = "t4",
        v22 = true, lyrics = ly(4))))
      val flacs = (0L until 3L).map { k =>
        val d = k + 100
        (d, AudioTags.flacWithTags(Flac.encode(tone, 8000),
          title = s"t_$d", lyrics = ly(d)))
      }
      val oggs = (0L until 3L).map { k =>
        val d = k + 200
        (d, graft.ext.Vorbis.encode(tone.map(_ / 32768.0), 8000,
          comments = Seq("TITLE" -> s"t_$d", "LYRICS" -> ly(d))))
      }
      val m4as = (0L until 3L).map { k =>
        val d = k + 300
        (d, AudioTags.mp4WithTags(
          Multimodal.minimalMp4(1000, 2000, 1, 0, 0,
            mdat = Array.tabulate(64)(i => (d * 31 + i).toByte)),
          title = s"t_$d", lyrics = ly(d)))
      }
      val apes = (0L until 2L).map { k =>
        val d = k + 400
        (d, AudioTags.apeWrap(torso, artist = s"a_$d", lyrics = ly(d)))
      }
      val mkvs = (0L until 2L).map { k =>
        val d = k + 500
        (d, AudioTags.mkvWithTags(
          Multimodal.minimalWebm(1000000L, 900.0, 160, 120,
            Seq(Array.tabulate(30)(i => (i * 5 + k).toByte)),
            audioTrack = true),
          artist = s"a_$d", lyrics = ly(d)))
      }
      val none = Seq(
        (998L, AudioTags.id3v2Wrap(torso, artist = "no lyrics")),
        (999L, "not audio".getBytes("UTF-8")))
      AudioTags.lyricsTable(s,
          (mp3s ++ v22 ++ flacs ++ oggs ++ m4as ++ apes ++ mkvs ++ none)
            .toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    "ext_audio_mp3_coverage" -> ((s, dir) => {
      import s.implicits._
      def frame(decodable: Boolean): Array[Byte] = {
        val o = new Array[Byte](417)
        o(0) = 0xff.toByte; o(1) = 0xfb.toByte // MPEG-1 L3, no CRC
        o(2) = 0x90.toByte                     // 128 kbps, 44.1 kHz
        o(3) = 0xc0.toByte                     // mono
        def set(startBit: Int, width: Int, v: Int): Unit =
          (0 until width).foreach { i =>
            if (((v >> (width - 1 - i)) & 1) == 1) {
              val pos = startBit + i
              o(4 + pos / 8) = (o(4 + pos / 8) | (0x80 >> (pos % 8))).toByte
            }
          }
        if (!decodable) {
          // granule 0: big_values = 9 (regions live), table_select(0)
          // = 13 — side-info layout: mdb(9) priv(5) scfsi(4) |
          // part23(12) bv(9) gg(8) sfc(4) wsf(1) tsel 3x5 ...
          set(30, 9, 9)
          set(52, 5, 13)
        }
        o
      }
      def stream(flags: Seq[Boolean]): Array[Byte] =
        flags.flatMap(frame(_)).toArray
      val docs = Seq(
        (0L, stream(Seq.fill(8)(true))),
        (1L, stream(Seq.fill(8)(false))),
        (2L, stream(Seq.fill(5)(true) ++ Seq.fill(3)(false))),
        (10L, AudioFingerprint.tonesMp3(44100, Seq((440.0, 2304)), 0.5)),
        (11L, AudioFingerprint.tonesMp3(32000, Seq((523.25, 3456)), 0.5)),
        (20L, AudioDsp.sineWav(8000, 800, 440.0))) // non-MP3: no row
      AudioFingerprint.mp3Coverage(s, docs.toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Cross-modal COVER-ART dedup (oracled on PLANTED truth): six
    // standalone PNG artworks, each also embedded in an MP3 (ID3v2
    // APIC), a FLAC (PICTURE block), an Ogg-Vorbis stream (base64
    // METADATA_BLOCK_PICTURE), an M4A (iTunes covr atom) and a
    // Matroska file (image attachment). The extracted cover IS the
    // original image file, so the perceptual hashes join exactly
    // artwork-with-carriers and nothing else — embedded-image
    // provenance crossing into the image-dedup surface.
    "ext_audio_cover_pairs" -> ((s, dir) => {
      import s.implicits._
      def art(k: Int) = Multimodal.encodePng(8, 6, 0,
        Array.tabulate(48)(p => ((p * 23 + k * 41 + 3) % 251).toByte),
        (0 until 6).map(_ % 5))
      val torso = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(Array(0xff, 0xfb, 0x92, 0x40).map(_.toByte))
        o.write(new Array[Byte](96)); o.toByteArray
      }
      val coverTone = Array.tabulate(1500)(i => math.round(
        0.4 * math.sin(2 * math.Pi * 500 * i / 8000) * 32767).toInt)
      val images = (0 until 6).map(k => (k.toLong, art(k)))
      val mp3s = (0 until 6).map(k =>
        (100L + k, AudioTags.id3v2Wrap(torso, cover = art(k))))
      val flacs = (0 until 6).map(k => (200L + k,
        AudioTags.flacWithTags(Flac.encode(coverTone, 8000),
          cover = art(k))))
      val oggs = (0 until 6).map(k => (300L + k,
        graft.ext.Vorbis.encode(coverTone.map(_ / 32768.0), 8000,
          comments = Seq("METADATA_BLOCK_PICTURE" ->
            AudioTags.oggPictureField(art(k))))))
      val m4as = (0 until 6).map(k => (400L + k,
        AudioTags.mp4WithTags(
          Multimodal.minimalMp4(1000, 2000, 1, 0, 0,
            mdat = Array.tabulate(64)(i => (k * 37 + i).toByte)),
          cover = art(k))))
      val mkvs = (0 until 6).map(k => (500L + k,
        AudioTags.mkvWithTags(
          Multimodal.minimalWebm(1000000L, 1000.0 + k, 320, 240,
            Seq(Array.tabulate(40)(i => ((k * 19 + i) % 251).toByte)),
            audioTrack = true),
          cover = art(k))))
      AudioTags.coverPairs(s, images.toDF("doc_id", "media"),
          (mp3s ++ flacs ++ oggs ++ m4as ++ mkvs).toDF("doc_id", "media"))
        .orderBy("image_id", "audio_id")
    }),

    // Duplicate AUDIO across the Ogg-Vorbis codec boundary (oracled on
    // PLANTED truth, the mp3-gate discipline): 12 recordings as 16-bit
    // WAV plus 6 re-encoded as REAL Vorbis streams through the
    // from-spec ext.Vorbis encoder (in-band codebooks, two-point
    // floor-1 line, two-pass type-2 residue cascade) and decoded back
    // through the general wild-file decoder paths (Ogg lacing,
    // canonical Huffman, floor render, residue cascade, IMDCT,
    // slope-matched overlap-add), PLUS 3 re-encoded through the
    // legacy FLOOR0 path (LSP envelope, the pre-2002 encoder vintage
    // — bark-warped LPC fit, coefficients through a real VQ book).
    // Same tone geometry as the mp3 gate (125 Hz = multiple STFT bins
    // apart, ranges 500 Hz apart) so planted pairs share landmarks
    // and cross pairs share zero. The oracle is the closed-form pair
    // list.
    "ext_audio_vorbis_pairs" -> ((s, dir) => {
      import s.implicits._
      def tones(k: Int) =
        (0 until 6).map(i =>
          (400.0 + (k * 6 + i) * 125.0 + k * 500.0, 4096))
      val wavs = (0 until 12).map(k =>
        (k.toLong, AudioFingerprint.tonesWav(32000, tones(k), 0.5)))
      val oggs = (0 until 6).map(k =>
        (100L + k, AudioFingerprint.tonesVorbis(32000, tones(k), 0.5)))
      val floor0s = (6 until 9).map(k =>
        (144L + k, AudioFingerprint.tonesVorbis(32000, tones(k), 0.5,
          floor0 = true)))
      AudioFingerprint.audioNearDups(s,
          (wavs ++ oggs ++ floor0s).toDF("doc_id", "media"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // PDF TEXT extraction (oracled, closed form): the dominant
    // long-form-document format in any crawl, through every
    // implemented layer — 4 multi-page FlateDecode docs, a TJ-kerned
    // doc (the space heuristic must reinsert exactly one space), a
    // /WinAnsiEncoding doc whose cp1252 high bytes decode through the
    // JDK charset, a /ToUnicode bfrange doc whose uppercase letters
    // are only recoverable THROUGH the CMap (A..Z -> a..z), a
    // composite Type0/Identity-H doc with two-byte codes, a PDF-1.5
    // object-stream layout, and one non-PDF payload contributing no
    // rows. Text, page counts and the zero refused-code fidelity all
    // doc_id-derived.
    "ext_pdf_text" -> ((s, dir) => {
      import s.implicits._
      val plain = (0L until 4L).map { k =>
        (k, Pdf.encode((0 until (1 + k.toInt % 3)).map(p =>
          (0 until 2).map(l => s"pdf_${k}_p${p}_l$l"))))
      }
      val kern = Seq((10L, Pdf.encode(Seq(Seq("kern_a gap_a",
        "kern_b gap_b")), kerning = true)))
      val ansi = Seq((11L, Pdf.encode(Seq(Seq("café_11 — naïve")),
        winAnsi = true)))
      val cmap = Seq((12L, Pdf.encode(Seq(Seq("UPPER_12 MIX")),
        toUnicodeShift = true)))
      val t0 = Seq((13L, Pdf.encode(Seq(Seq("composite thirteen",
        "two byte")), type0 = true)))
      val packed = Seq((14L, Pdf.encode(Seq(Seq("packed fourteen"),
        Seq("page two")), objStm = true)))
      // r15: LZW + predictor-coded streams decode (previously the
      // refusal boundary) — Flate+PNG-Up (the Acrobat norm), plain
      // LZW, and LZW+TIFF-differencing with /EarlyChange 0
      val coded = Seq(
        (15L, Pdf.encode(Seq(Seq("pred_15 up", "row two")),
          predictor = 12, predictorColumns = 11)),
        (16L, Pdf.encode(Seq(Seq("lzw_16 body", "lzw line")),
          lzw = true)),
        (17L, Pdf.encode(Seq(Seq("tiff_17 text")), lzw = true,
          earlyChange = false, predictor = 2, predictorColumns = 9)))
      val none = Seq((999L, "not a pdf".getBytes("UTF-8")))
      Pdf.table(s,
          (plain ++ kern ++ ansi ++ cmap ++ t0 ++ packed ++ coded ++
            none).toDF("doc_id", "media"))
        .orderBy("doc_id", "page")
    }),

    // Text-extraction FIDELITY datasheet (oracled, closed form —
    // r15): the textExtractionCard rollup over a planted PDF corpus
    // with MEASURED refusals — two unmapped non-WinAnsi high bytes
    // and one hand-authored /DCTDecode content stream (the
    // documented fabrication-risk filter hold refusing whole) — and
    // a planted HTML corpus with one unknown-entity refusal per
    // page. This makes the PDF/HTML refusal boundary a corpus-level
    // datasheet number (the mp3CoverageCard discipline); every
    // metric value is a hand-derived literal in the SQL.
    "ext_text_fidelity_card" -> ((s, dir) => {
      import s.implicits._
      // 4 clean two-page docs: 22 + 10 chars each, refused 0
      val clean = (0L until 4L).map { k =>
        (k, Pdf.encode(Seq(Seq(s"pdf_${k}_alpha", s"pdf_${k}_beta"),
          Seq(s"pdf_${k}_solo"))))
      }
      // no /WinAnsiEncoding: é and ï REFUSE (text keeps "caf nave",
      // 8 chars, refused 2) — the documented never-mojibake rule
      val ansiLess = Seq((10L, Pdf.encode(Seq(Seq("café naïve")))))
      // hand-authored (writer-independent) single-page doc whose
      // content stream declares /DCTDecode: the stream refuses
      // whole, the page lands empty — rows 1, chars 0, refused 1
      val dct = ("%PDF-1.4\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n" +
        "endobj\n" +
        "4 0 obj\n<< /Length 4 /Filter /DCTDecode >>\nstream\nABCD\n" +
        "endstream\nendobj\n" +
        "trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n")
        .getBytes("ISO-8859-1")
      val pdfRows = Pdf.table(s,
        (clean ++ ansiLess ++ Seq((11L, dct))).toDF("doc_id", "media"))
      // 4 pages, each: "html_k one\ntwo & &unk;" = 22 chars, the
      // unknown entity stays literal and counts refused 1
      val htmls = (0L until 4L).map { k =>
        (k, (s"<html><head><title>t_$k</title></head><body>" +
          s"<p>html_$k one</p><p>two &amp; &unk;</p></body></html>")
          .getBytes("UTF-8"))
      }
      val htmlRows = Html.table(s, htmls.toDF("doc_id", "media"))
      graft.ext.DataCard.textExtractionCard(pdfRows, "pdf_text")
        .unionByName(
          graft.ext.DataCard.textExtractionCard(htmlRows, "html"))
        .orderBy("metric")
    }),

    // General HTML -> text extraction (oracled, closed form — the
    // dominant crawl text format; r15): 4 full pages exercising
    // title capture, script/style/comment drop and block structure;
    // plus the entity boundary (XML core + numeric decode, unknown
    // named stays literal AND counts into `refused`), a
    // windows-1252 meta-charset page decoded through the JDK
    // charset, inline flow, list/table blocks, and a UTF-16BE BOM
    // page — with one non-HTML payload contributing no row. All
    // text doc_id-derived and restated literally in SQL.
    "ext_html_text" -> ((s, dir) => {
      import s.implicits._
      def page(k: Long): Array[Byte] =
        (s"<!DOCTYPE html><html><head><title>title_$k</title>" +
          "<meta charset=\"utf-8\"><style>p{color:red}</style>" +
          "<script>var j=1<2;//</script></head><body>" +
          s"<h1>head_$k</h1><p>para_$k one</p><p>para_$k   two</p>" +
          "<!-- dropped --></body></html>").getBytes("UTF-8")
      val plain = (0L until 4L).map(k => (k, page(k)))
      val ents = Seq((10L,
        ("<html><body><p>&amp; &#65;&#x42; x&nbsp;y &eacute;</p>" +
          "</body></html>").getBytes("UTF-8")))
      val cp1252 = Seq((11L,
        ("<html><head><meta charset=\"windows-1252\"></head>" +
          "<body><p>café — naïve</p></body></html>")
          .getBytes("windows-1252")))
      val inline = Seq((12L,
        ("<html><body><p>a <b>bold</b> and <i>ital</i>.</p>" +
          "</body></html>").getBytes("UTF-8")))
      val lists = Seq((13L,
        ("<html><body><ul><li>li_0</li><li>li_1</li></ul>" +
          "<table><tr><td>c1</td><td>c2</td></tr></table>" +
          "</body></html>").getBytes("UTF-8")))
      val utf16 = Seq((14L,
        Array[Byte](0xfe.toByte, 0xff.toByte) ++
          ("<html><head><title>wide_14</title></head>" +
            "<body><p>wide body</p></body></html>")
            .getBytes("UTF-16BE")))
      val none = Seq((999L, "plain text, no markup".getBytes("UTF-8")))
      Html.table(s,
          (plain ++ ents ++ cp1252 ++ inline ++ lists ++ utf16 ++ none)
            .toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // DOCX/EPUB text + provenance extraction (oracled, closed form —
    // r15): 4 DOCX (paragraph text, Dublin Core title/creator/created
    // year; id 2 stored instead of deflated) and 4 EPUB (two spine-
    // ordered chapters each; odd ids store chapter entries in REVERSE
    // zip order so only a correct OPF spine walk sequences them),
    // plus one plain-zip archive and one non-zip payload contributing
    // no rows. Everything doc_id-derived, restated in SQL.
    "ext_office_text" -> ((s, dir) => {
      import s.implicits._
      val docx = (0L until 4L).map { k =>
        (k, graft.ext.Office.encodeDocx(
          (0 until 2).map(p => s"docx_${k}_p$p body"),
          title = s"dt_$k", author = s"da_${k % 2}",
          createdYear = (2000 + k).toInt, stored = k == 2))
      }
      val epub = (0L until 4L).map { k =>
        (100L + k, graft.ext.Office.encodeEpub(
          (0 until 2).map(c => (s"ch_${k}_$c", Seq(s"ep_${k}_$c one",
            s"ep_${k}_$c two"))),
          title = s"et_$k", author = s"ea_${k % 3}",
          year = (2010 + k).toInt, scrambleOrder = k % 2 == 1))
      }
      // ODT (r15): the OpenDocument class rides the same zip walk;
      // mimetype-gated, span boundaries inside each paragraph
      val odt = (0L until 4L).map { k =>
        (200L + k, graft.ext.Office.encodeOdt(
          (0 until 2).map(p => s"odt_${k}_p$p body"),
          title = s"ot_$k", author = s"oa_${k % 2}",
          createdYear = (2020 + k).toInt, stored = k == 1))
      }
      val nones = Seq(
        (900L, graft.ext.Office.zipWrap(Seq(
          ("plain.txt", "archive member".getBytes("UTF-8"))))),
        (999L, "not a zip".getBytes("UTF-8")))
      graft.ext.Office.table(s,
          (docx ++ epub ++ odt ++ nones).toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // RTF text + provenance extraction (oracled, closed form — r15):
    // 5 RTF documents with font/color tables that must be skipped,
    // doc_id-derived paragraphs, an {\info} group (title/author/
    // creation year), and — on doc 4 — cp1252 high bytes (é) plus a
    // \uN unicode word, both restated literally in SQL. One non-RTF
    // payload contributes no row.
    "ext_rtf_text" -> ((s, dir) => {
      import s.implicits._
      val docs = (0L until 4L).map { k =>
        (k, graft.ext.Rtf.encode(
          (0 until 2).map(p => s"rtf_${k}_p$p body"),
          title = s"rt_$k", author = s"ra_${k % 2}",
          year = (1995 + k).toInt))
      }
      val uni = Seq((4L, graft.ext.Rtf.encode(
        Seq("café σ dash — end"), title = "rt_4")))
      val none = Seq((999L, "not rtf at all".getBytes("UTF-8")))
      graft.ext.Rtf.table(s,
          (docs ++ uni ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Generic XML text extraction (oracled, closed form — r15):
    // 4 DocBook-ish documents with dropped comments/PI/doctype, a
    // DTD-entity refusal (counts, stays literal), one ISO-8859-1
    // declared encoding; one non-XML payload contributes nothing.
    "ext_xml_text" -> ((s, dir) => {
      import s.implicits._
      val docs = (0L until 4L).map { k =>
        (k, (s"""<?xml version="1.0"?><!DOCTYPE art SYSTEM "a.dtd">""" +
          s"<art><title>xt_$k</title><!-- note --><para>xml_$k one" +
          s"</para><para>xml_$k two &amp; &dtdent;</para></art>")
          .getBytes("UTF-8"))
      }
      val latin = Seq((10L,
        ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>" +
          "<d><t>café xml touché</t></d>").getBytes("ISO-8859-1")))
      val none = Seq((999L, "not xml".getBytes("UTF-8")))
      graft.ext.Xml.table(s, (docs ++ latin ++ none)
        .toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // TAR archive -> documents (oracled, closed form — r15): 4
    // tarballs (odd ids whole-archive gzipped) of 2 HTML members +
    // one binary member + one GZIPPED-member HTML (the one-layer
    // member unwrap) + one >100-char GNU long-named RTF member; the
    // binary member contributes nothing. One non-tar payload, no
    // rows.
    "ext_tar_docs" -> ((s, dir) => {
      import s.implicits._
      def gz(p: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(o)
        g.write(p); g.close(); o.toByteArray
      }
      val docs = (0L until 4L).map { k =>
        val longName = "deep/" + ("d" * 110) + s"/long_$k.rtf"
        (k, graft.ext.Tar.encode(Seq(
          (s"site/p${k}_0.html",
            (s"<html><head><title>tt_${k}_0</title></head><body>" +
              s"<p>tar_${k}_0 text</p></body></html>").getBytes("UTF-8")),
          (s"raw/blob_$k.bin",
            Array.tabulate(32)(i => ((k * 5 + i) % 251).toByte)),
          (s"site/p${k}_1.html",
            (s"<html><body><p>tar_${k}_1 text</p></body></html>")
              .getBytes("UTF-8")),
          (s"gz/p${k}_2.html.gz",
            gz((s"<html><body><p>tar_${k}_2 gzipped</p></body></html>")
              .getBytes("UTF-8"))),
          (longName, graft.ext.Rtf.encode(Seq(s"tar_${k}_rtf body")))),
          gzipAll = k % 2 == 1))
      }
      val none = Seq((999L, "not a tar".getBytes("UTF-8")))
      graft.ext.Tar.docTable(s, (docs ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id", "member_idx")
    }),

    // ZIP archive -> documents (oracled, closed form — r15): the tar
    // shape on the zip walk — 2 HTML members + a binary member (no
    // row) + a DOCX member (nested container: the dispatch routes it
    // through Office) + a gzipped-member HTML; one archive stored
    // uncompressed; a zip-branded DOCUMENT (bare docx) and a non-zip
    // payload contribute nothing (documents are not archives)
    "ext_zip_docs" -> ((s, dir) => {
      import s.implicits._
      def gz(p: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(o)
        g.write(p); g.close(); o.toByteArray
      }
      val docs = (0L until 4L).map { k =>
        (k, graft.ext.Office.zipWrap(Seq(
          (s"site/a_$k.html",
            (s"<html><head><title>zt_$k</title></head><body>" +
              s"<p>zip_${k}_0 text</p></body></html>").getBytes("UTF-8")),
          (s"raw/blob_$k.bin",
            Array.tabulate(40)(i => ((k * 7 + i) % 251).toByte)),
          (s"site/b_$k.html",
            s"<html><body><p>zip_${k}_1 text</p></body></html>"
              .getBytes("UTF-8")),
          (s"docs/r_$k.docx",
            graft.ext.Office.encodeDocx(Seq(s"zip_${k}_docx body"))),
          (s"gz/c_$k.html.gz",
            gz(s"<html><body><p>zip_${k}_2 gzipped</p></body></html>"
              .getBytes("UTF-8")))),
          stored = k == 1))
      }
      val nones = Seq(
        (900L, graft.ext.Office.encodeDocx(Seq("bare docx member"))),
        (999L, "not a zip".getBytes("UTF-8")))
      graft.ext.Office.zipDocTable(s,
          (docs ++ nones).toDF("doc_id", "media"))
        .orderBy("doc_id", "member_idx")
    }),

    // robots.txt compliance filter (oracled, closed form — r15): the
    // crawl pipeline's legal/etiquette gate. Host h0 blocks /blk but
    // allows the longer /blk/ok; h1 blocks the "graft" agent
    // entirely via an agent-specific group while allowing everyone
    // else; h2 has no robots row (allowed by default). 18 URLs cycle
    // hosts x three path classes; the oracle is the hand-derived
    // allowed set restated with the same modular url formula.
    "ext_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val robots = Seq(
        ("h0.ex", "User-agent: *\nDisallow: /blk\nAllow: /blk/ok\n"),
        ("h1.ex", "User-agent: graft\nDisallow: /\n" +
          "User-agent: *\nAllow: /\n")).toDF("host", "robots_txt")
      val urls = (0 until 18).map { k =>
        val path = (k / 3) % 3 match {
          case 0 => s"/pub/p$k"
          case 1 => s"/blk/p$k"
          case _ => s"/blk/ok/p$k"
        }
        (k.toLong, s"https://h${k % 3}.ex$path")
      }.toDF("id", "url")
      graft.ext.Robots.filterAllowed(s, urls, "url",
          robots, "host", "robots_txt", "graft")
        .select("id", "url")
        .orderBy("id")
    }),

    // Sitemap extraction (oracled, closed form — r15): the crawl
    // frontier next to robots — 4 urlsets (odd ids gzipped) with
    // loc/lastmod/priority, one sitemapindex, one plain-text list;
    // a non-sitemap XML and junk contribute nothing
    "ext_sitemap_urls" -> ((s, dir) => {
      import s.implicits._
      val urlsets = (0 until 4).map { k =>
        (k.toLong, graft.ext.Sitemaps.encode(
          (0 until 3).map(j => (s"https://s$k.ex/p$j?a=$j&b=$k",
            s"201$k-0${j + 1}-15", (j + 5) / 10.0)),
          gzipped = k % 2 == 1))
      }
      val index = Seq((10L, graft.ext.Sitemaps.encode(
        (0 until 2).map(j => (s"https://s.ex/child$j.xml",
          s"202$j-01-01", -1.0)), index = true)))
      val text = Seq((20L,
        "https://t.ex/a\nhttps://t.ex/b\n".getBytes("UTF-8")))
      val nones = Seq(
        (900L, ("<?xml version=\"1.0\"?><doc><p>xml, not a sitemap" +
          "</p></doc>").getBytes("UTF-8")),
        (999L, "prose with no urls".getBytes("UTF-8")))
      graft.ext.Sitemaps.table(s,
          (urlsets ++ index ++ text ++ nones).toDF("doc_id", "media"))
        .orderBy("doc_id", "entry_idx")
    }),

    // Crawl FRONTIER, composed end to end (oracled — r15): the
    // literal first step of a polite crawl — sitemap-published URLs
    // filtered by per-host robots rules. Host f0 blocks /blk, f1
    // blocks everything except /pub (the longer Allow wins), f2 has
    // no robots row (default-allowed). Extraction and compliance
    // compose in one plan: Sitemaps.table -> Robots.filterAllowed.
    "ext_crawl_frontier" -> ((s, dir) => {
      import s.implicits._
      val maps = (0 until 3).map { k =>
        (k.toLong, graft.ext.Sitemaps.encode(
          (0 until 4).map(j => (s"https://f$k.ex/" +
            s"${if (j % 2 == 0) "pub" else "blk"}/p$j", "", -1.0))))
      }
      val robots = Seq(
        ("f0.ex", "User-agent: *\nDisallow: /blk\n"),
        ("f1.ex", "User-agent: *\nDisallow: /\nAllow: /pub\n"))
        .toDF("host", "robots_txt")
      val urls = graft.ext.Sitemaps.table(s,
          maps.toDF("doc_id", "media"))
        .select(col("doc_id"), col("loc"))
      graft.ext.Robots.filterAllowed(s, urls, "loc",
          robots, "host", "robots_txt", "graft")
        .orderBy("doc_id", "loc")
    }),

    // HTML head-metadata provenance (oracled, closed form — r15):
    // description/author/canonical/published-year/og:title per page —
    // the crawl-curation fields; a meta-less page yields the all-null
    // row, a non-HTML payload contributes nothing
    "ext_html_meta" -> ((s, dir) => {
      import s.implicits._
      val docs = (0L until 4L).map { k =>
        (k, (s"<html><head><title>t_$k</title>" +
          s"""<meta name="description" content="desc_$k here">""" +
          s"""<meta name="author" content="auth_${k % 2}">""" +
          s"""<meta property="og:title" content="og_$k">""" +
          s"""<meta property="article:published_time" """ +
          s"""content="201$k-03-04T05:06:07Z">""" +
          s"""<link rel="canonical" href="https://ex.org/p/$k">""" +
          s"</head><body><p>body_$k</p></body></html>")
          .getBytes("UTF-8"))
      }
      val bare = Seq((10L,
        "<html><body><p>no meta at all</p></body></html>"
          .getBytes("UTF-8")))
      val none = Seq((999L, "plain prose, not html".getBytes("UTF-8")))
      Html.metaTable(s, (docs ++ bare ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Crawl re-crawl DEDUP, composed end-to-end (oracled — r15): the
    // first thing a crawl corpus needs after extraction is exact
    // dedup across captures. Three WARCs where page text
    // 'shared_page body' appears in BOTH warc 0 and warc 1 (a
    // re-crawl under a different URL) and every other page is
    // unique: extract via Warc.docTable, keep the FIRST copy of each
    // text (row_number over a text-partitioned window ordered by
    // (doc_id, rec_idx) — hash-distributed by text, never a global
    // sort). The oracle restates the surviving set.
    "ext_crawl_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val W = graft.ext.Warc
      def html(t: String) =
        s"<html><body><p>$t</p></body></html>".getBytes("UTF-8")
      def warc(k: Long, pages: Seq[(String, String)]) =
        (k, W.encode(pages.map { case (u, t) =>
          ("response", u, "2020-01-01T00:00:00Z",
            W.httpBlock(200, "text/html", html(t)))
        }))
      import s.implicits._
      val media = Seq(
        warc(0L, Seq(("http://a/0", "unique_0 body"),
          ("http://a/s", "shared_page body"))),
        warc(1L, Seq(("http://b/s", "shared_page body"),
          ("http://b/1", "unique_1 body"))),
        warc(2L, Seq(("http://c/2", "unique_2 body"))))
        .toDF("doc_id", "media")
      val docs = W.docTable(s, media)
      val w = Window.partitionBy("text")
        .orderBy(col("doc_id"), col("rec_idx"))
      docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("url"), col("text"))
        .orderBy("text")
    }),

    // Email/MBOX extraction (oracled, closed form — r15): 4 MBOX
    // archives of 3 messages each cycling the four body shapes
    // (plain, quoted-printable, base64, multipart/alternative whose
    // duplicate html part must NOT double the text), doc_id-derived
    // from/subject/year/body; one non-email payload contributes
    // nothing.
    "ext_email_text" -> ((s, dir) => {
      import s.implicits._
      val shapes = Array("plain", "qp", "b64", "multipart")
      val docs = (0L until 4L).map { k =>
        (k, graft.ext.Email.encodeMbox(
          (0 until 3).map(j => (s"u${k}_$j@h", s"subj_${k}_$j",
            (1990 + k * 3 + j).toInt, s"mail_${k}_$j body")),
          shape = j => shapes((k.toInt + j) % 4)))
      }
      val none = Seq((999L, "not an email payload".getBytes("UTF-8")))
      graft.ext.Email.table(s, (docs ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id", "msg_idx")
    }),

    // WARC crawl-archive -> clean-documents pipeline (oracled, closed
    // form — r15): 4 WARCs each carrying a warcinfo record, two 200
    // text/html responses (closed-form page text; doc 2's first
    // response chunked-transfer-coded, doc 3's second gzip
    // content-encoded), a 404 and an image response (both must NOT
    // land); odd ids in the standard per-record-gzip .warc.gz member
    // layout. Plus one WARC whose response payload is a PDF (the
    // document dispatch must route it through Pdf.text) and one
    // non-WARC payload contributing nothing.
    "ext_warc_docs" -> ((s, dir) => {
      import s.implicits._
      val W = graft.ext.Warc
      def page(k: Long, j: Int): Array[Byte] =
        (s"<html><head><title>wt_${k}_$j</title></head><body>" +
          s"<p>crawl_${k}_$j text</p></body></html>").getBytes("UTF-8")
      val docs = (0L until 4L).map { k =>
        val d = s"201$k-02-03T04:05:06Z"
        (k, W.encode(Seq(
          ("warcinfo", "", d, s"crawler=fixture_$k".getBytes("UTF-8")),
          ("response", s"http://site$k/0", d,
            W.httpBlock(200, "text/html", page(k, 0), chunked = k == 2)),
          ("response", s"http://site$k/1", d,
            W.httpBlock(200, "text/html", page(k, 1), gzipBody = k == 3)),
          ("response", s"http://site$k/gone", d,
            W.httpBlock(404, "text/html",
              "<html><body><p>gone</p></body></html>".getBytes("UTF-8"))),
          ("response", s"http://site$k/img", d,
            W.httpBlock(200, "image/png",
              Array.tabulate(24)(i => ((k * 7 + i) % 251).toByte)))),
          perRecordGzip = k % 2 == 1))
      }
      val pdfDoc = Seq((10L, W.encode(Seq(
        ("response", "http://site/report.pdf", "2020-01-01T00:00:00Z",
          W.httpBlock(200, "application/pdf",
            Pdf.encode(Seq(Seq("pdf_in_crawl")))))))))
      val none = Seq((999L, "not a warc".getBytes("UTF-8")))
      graft.ext.Warc.docTable(s,
          (docs ++ pdfDoc ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id", "rec_idx")
    }),

    // PDF document-information PROVENANCE (oracled, closed form —
    // the ext_audio_tags analog for the document heap): 8 PDFs with
    // doc_id-derived /Title, /Author and /CreationDate — odd ids
    // through UTF-16BE-with-BOM info strings, ids 6-7 through the
    // PDF-1.5 layout (/Info on the xref STREAM dict, the dict packed
    // in the ObjStm) — plus one Info-less PDF contributing no row.
    "ext_pdf_info" -> ((s, dir) => {
      import s.implicits._
      val docs = (0L until 8L).map { k =>
        (k, Pdf.encode(Seq(Seq(s"body_$k")),
          title = s"title_${k % 5}", author = s"author_${k % 3}",
          infoYear = (1990 + k).toInt,
          utf16Info = k % 2 == 1, objStm = k >= 6))
      }
      val none = Seq((999L, Pdf.encode(Seq(Seq("untitled")))))
      Pdf.infoTable(s, (docs ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id")
    }),

    // Subtitle/caption TEXT extraction from the video heap (oracled,
    // closed form): 6 Matroska files carrying S_TEXT/UTF8 tracks (3
    // cues each in the mkvmerge BlockGroup+BlockDuration layout,
    // riding alongside real video frames), 4 MP4s with 3GPP tx3g
    // timed-text tracks (full stsd/stts/stsc/stsz/stco sample-table
    // walk, contiguous cues whose starts are duration prefix sums),
    // 4 bare SubRip payloads and 4 WebVTT payloads (dot millis,
    // WEBVTT header), plus one subtitle-less WebM that must
    // contribute no rows — cue text, start and duration all
    // doc_id-derived. The captioned-video transcript is a first-class
    // training-text source; this pins the extraction end-to-end on
    // real container bytes.
    "ext_video_subtitles" -> ((s, dir) => {
      import s.implicits._
      def stamp(ms: Long, sep: Char): String = {
        val h = ms / 3600000; val m = ms / 60000 % 60
        val sec = ms / 1000 % 60; val f = ms % 1000
        f"$h%02d:$m%02d:$sec%02d" + sep + f"$f%03d"
      }
      val mkvs = (0L until 6L).map { d =>
        (d, Multimodal.minimalWebm(1000000L, 30000.0, 320, 240,
          frames = Seq(Array.tabulate(32)(i => ((d * 11 + i) % 251).toByte)),
          subtitleCues = (0 until 3).map(j =>
            (1000L * j + d, 500L + j, s"cue_${d}_$j"))))
      }
      val srts = (0 until 4).map { k =>
        val body = (0 until 2).map { j =>
          val st = 60000L * j + k * 1000L
          s"${j + 1}\n${stamp(st, ',')} --> ${stamp(st + 1500, ',')}\nsrt_${k}_$j\n"
        }.mkString("\n")
        (100L + k, body.getBytes("UTF-8"))
      }
      val vtts = (0 until 4).map { k =>
        val body = "WEBVTT\n\n" + (0 until 2).map { j =>
          val st = 90000L * j + k * 2000L
          s"${stamp(st, '.')} --> ${stamp(st + 2250, '.')}\nvtt_${k}_$j\n"
        }.mkString("\n")
        (200L + k, body.getBytes("UTF-8"))
      }
      val mp4s = (0 until 4).map { k =>
        (300L + k, Multimodal.minimalMp4Tx3g(1000,
          (0 until 3).map(j => (1000L + 100 * j + k, s"tx3g_${k}_$j"))))
      }
      // S_TEXT/ASS Matroska tracks (r15): the raw Dialogue text field
      // carries an override block, a comma of its own, and a \N hard
      // break — the extractor must split at the 8th payload comma and
      // clean to the closed form restated in SQL
      val assMkvs = (0 until 4).map { k =>
        (400L + k, Multimodal.minimalWebm(1000000L, 20000.0, 320, 240,
          frames = Seq(Array.tabulate(28)(i => ((k * 7 + i) % 249).toByte)),
          assCues = (0 until 2).map(j =>
            (2000L * j + 10 * k, 800L + j,
              s"{\\i1}ass_${k}_$j, x\\Ny"))))
      }
      // standalone .ass scripts (r15): Script Info + Styles sections
      // contribute nothing, Format fixes the field order, centisecond
      // timings, an override block cleans away, Comment lines drop
      val assDocs = (0 until 4).map { k =>
        val evs = (0 until 2).map { j =>
          s"Dialogue: 0,0:0$j:0$k.25,0:0$j:0${k + 1}.75," +
            s"Default,,0,0,0,,{\\b1}sta_${k}_$j"
        }.mkString("\n")
        val body = "[Script Info]\nTitle: g\nScriptType: v4.00+\n\n" +
          "[V4+ Styles]\nFormat: Name, Fontname\nStyle: Default,Arial\n\n" +
          "[Events]\nFormat: Layer, Start, End, Style, Name, " +
          "MarginL, MarginR, MarginV, Effect, Text\n" +
          "Comment: 0,0:00:00.00,0:00:01.00,Default,,0,0,0,,dropped\n" +
          evs
        (500L + k, body.getBytes("UTF-8"))
      }
      // LRC lyrics files (r15): the [mm:ss.xx] stamp format; the
      // second line carries TWO stamps (the compressed-chorus form)
      // and must expand to two cues; the [ar:] tag contributes none
      val lrcs = (0 until 4).map { k =>
        val body = s"[ar:a_$k]\n" +
          s"[00:0$k.25]lrc_${k}_0 line\n" +
          s"[01:1$k.50][02:2$k.75]lrc_${k}_1 chorus\n"
        (600L + k, body.getBytes("UTF-8"))
      }
      val none = Seq((999L, Multimodal.minimalWebm(1000000L, 1000.0,
        160, 120, frames = Seq(Array.tabulate(24)(_.toByte)))))
      Subtitles.table(s,
          (mkvs ++ srts ++ vtts ++ mp4s ++ assMkvs ++ assDocs ++
            lrcs ++ none)
            .toDF("doc_id", "media"))
        .orderBy("doc_id", "cue_idx")
    }),

    // SYLT synced lyrics (oracled, closed form — r15): the
    // timestamped-transcript analog of the subtitle cue table —
    // absolute-ms SYLT frames across v2.2 (SLT) / v2.3 / v2.4-utf8;
    // an unsynced-only tag and a junk payload contribute nothing
    "ext_audio_synced_lyrics" -> ((s, dir) => {
      import s.implicits._
      val torso = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(Array(0xff, 0xfb, 0x92, 0x40).map(_.toByte))
        o.write(new Array[Byte](96)); o.toByteArray
      }
      val docs = (0L until 4L).map { d =>
        (d, AudioTags.id3v2Wrap(torso, artist = s"a_$d",
          v24 = d % 2 == 1, utf8 = d % 2 == 1,
          synced = (0 until 3).map(j =>
            (4000L * j + 100 * d, s"sl_${d}_$j"))))
      }
      val v22 = Seq((4L, AudioTags.id3v2Wrap(torso, title = "t",
        v22 = true, synced = Seq((1500L, "sl_4_0"), (3000L, "sl_4_1")))))
      val none = Seq(
        (998L, AudioTags.id3v2Wrap(torso, artist = "x",
          lyrics = "unsynced only")),
        (999L, "not audio at all".getBytes("UTF-8")))
      AudioTags.syncedLyricsTable(s,
          (docs ++ v22 ++ none).toDF("doc_id", "media"))
        .orderBy("doc_id", "idx")
    }),

    // Duplicate VIDEO by remux-robust payload fingerprint (oracled on
    // PLANTED truth, the audio-gate discipline), BOTH container
    // families: 12 synthesized MP4s with globally-unique mdat sample
    // bytes plus 6 RE-WRAPPED copies (moov relocated after mdat,
    // free-atom padding, different timescale/track-count/geometry
    // metadata), and 8 WebM/Matroska files with globally-unique coded
    // frames plus 4 RE-WRAPPED copies (clusters re-chunked, BlockGroup
    // rewrap, Xiph re-lacing, Void padding, rewritten title/timescale/
    // geometry metadata, one as a Matroska DocType). A correct
    // fingerprinter pairs exactly copy-with-original in each family:
    // the coded bytes are the identity, every metadata field differs,
    // and distinct payloads share no bytes. The oracle is the
    // closed-form planted pair list. (The mp4<->webm CROSS-container
    // identity — same coded stream, either wrapper — is spec-held in
    // ExtSpec; here the two families' payload formulas are disjoint.)
    "ext_video_remux_pairs" -> ((s, dir) => {
      import s.implicits._
      def payload(k: Int) =
        Array.tabulate(160 + k * 13)(i => ((i * 31 + k * 17 + 7) % 251).toByte)
      val originals = (0 until 12).map(k => (k.toLong,
        Multimodal.minimalMp4(600, 1200 + k * 60, 1 + k % 3,
          320 + k, 240 + k, mdat = payload(k))))
      val remuxed = (0 until 6).map(k => (100L + k,
        Multimodal.minimalMp4(90000, 500 + k, 2 + k % 2, 640, 480,
          mdat = payload(k), moovFirst = false, freePad = 12 + k)))
      def webFrames(k: Int) = (0 until 5).map(f =>
        Array.tabulate(50 + f * 9 + k)(i =>
          ((i * 29 + k * 13 + f * 7 + 11) % 241).toByte))
      val webOrig = (0 until 8).map(k => (200L + k,
        Multimodal.minimalWebm(1000000L, 2000.0 + k * 100, 320 + k,
          240 + k, webFrames(k), audioTrack = k % 2 == 0)))
      val webRewrap = (0 until 4).map(k => (300L + k,
        Multimodal.minimalWebm(500000L, 9000.0 + k, 640, 480,
          webFrames(k), framesPerCluster = 1 + k % 5,
          blockGroups = k % 2 == 0, xiphLacePairs = k % 2 == 1,
          voidPad = 17 + k, title = s"rewrapped $k",
          docType = if (k == 3) "matroska" else "webm")))
      // FRAGMENTED re-muxes (the DASH/live-capture re-wrap): the same
      // coded bytes split across three moof/mdat fragments, mehd and
      // per-sample/default-duration trun forms alternating
      val fragmented = (0 until 4).map { k =>
        val p = payload(k)
        val cut1 = p.length / 3; val cut2 = 2 * p.length / 3
        val chunks = Seq(p.slice(0, cut1), p.slice(cut1, cut2),
          p.slice(cut2, p.length))
        (400L + k, Multimodal.minimalFmp4(600, 320 + k, 240 + k,
          chunks.map(c => (c, Seq.fill(4)(25 + k))),
          mehdTicks = if (k % 2 == 0) 1200L + k * 60 else -1L,
          perSampleDurations = k != 1))
      }
      Multimodal.videoRemuxDups(
          (originals ++ remuxed ++ webOrig ++ webRewrap ++ fragmented)
            .toDF("doc_id", "media"))
        .orderBy("id_a", "id_b")
    }),

    // Near-duplicate AUDIO by landmark fingerprints (oracled on PLANTED
    // truth — the FFT arithmetic itself is pinned by the frozen-golden
    // spec, since sin()/float ULP drift makes a cross-engine replay
    // unsafe): 20 synthesized recordings of globally-unique tone
    // sequences plus 10 amplitude-scaled copies; a correct fingerprinter
    // MUST pair exactly copy-with-original — peak positions survive
    // re-mastering, unique tones share no spectrum. The oracle is the
    // closed-form planted pair list.
    "ext_audio_dedup_pairs" -> ((s, dir) => {
      import s.implicits._
      def rec(k: Int, amp: Double) = AudioFingerprint.tonesWav(8000,
        (0 until 6).map(i => (300.0 + (k * 6 + i) * 25.0, 1024)), amp)
      val media = ((0 until 20).map(k => (k.toLong, rec(k, 0.5))) ++
        (0 until 10).map(k => (k + 100L, rec(k, 0.3))))
        .toDF("doc_id", "media")
      AudioFingerprint.audioNearDups(s, media)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }),

    // The same planted truth found ACROSS two ingests of the durable
    // fingerprint store — re-mastered copies must surface via stored-
    // fingerprint collisions, not a one-shot run (the image-store gate
    // shape applied to audio).
    "ext_audio_incr" -> ((s, dir) => boundedGate(s) {
      import s.implicits._
      def rec(k: Int, amp: Double) = AudioFingerprint.tonesWav(8000,
        (0 until 6).map(i => (300.0 + (k * 6 + i) * 25.0, 1024)), amp)
      // tone indices must stay below Nyquist (k*6+5 < (4000-300)/25):
      // an aliased high tone would fold back ONTO a low id's spectrum
      val b1 = (0 until 12).map(k => (k.toLong, rec(k, 0.5)))
        .toDF("doc_id", "media")
      val b2 = ((0 until 10).map(k => (k + 100L, rec(k, 0.3))) ++
        (12 until 17).map(k => (k.toLong, rec(k, 0.5))))
        .toDF("doc_id", "media")
      val store = java.nio.file.Files
        .createTempDirectory("graft_audiodedup").toString + "/store"
      val out = AudioFingerprint.ingest(s, b1, store)
        .unionByName(AudioFingerprint.ingest(s, b2, store))
        .select("id_a", "id_b").orderBy("id_a", "id_b")
        .localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Token-budget waterfill across languages (fully oracled): allocate
    // a 20k-token budget ∝ weights with no language above its available
    // tokens; saturated languages' shortfall redistributes at the
    // common rate r* (sum(min(t_g, r*·w_g)) = budget). Weights are
    // binary fractions and token counts exact longs, so every double
    // in the prefix walk is bit-identical cross-engine; at sf0.01 two
    // languages genuinely saturate, so the redistribution path is
    // exercised, not just the proportional one.
    "ext_mix_budget" -> ((s, dir) =>
      Mix.allocateBudget(Tables.documents(s, dir), "lang",
        TextAnalysis.tokenCount(col("text")), budget = 20000,
        weights = Map("en" -> 0.25, "de" -> 0.25, "es" -> 0.25,
          "fr" -> 0.125, "zh" -> 0.125))
        .select(col("lang"), col("tokens_available"), col("weight"),
          round(col("allocated"), 6).as("allocated"), col("saturated"))
        .orderBy("lang")),

    // MP4 container metadata (fully oracled): the moov atom walk must
    // recover exactly the duration/track/geometry arithmetic the
    // synthesizer encoded into real ISO-BMFF bytes — the WAV RIFF
    // round-trip discipline applied to video. No codec work: frame
    // decode remains the documented native-codec boundary, and the
    // census below counts how many rows sit on each side of it.
    "ext_video_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(s, videoMedia(s, dir)).toDF()
        .select(col("doc_id"), col("format"), col("kind"),
          round(element_at(col("feature"), 1).cast("double"), 3)
            .as("duration_sec"),
          element_at(col("feature"), 2).cast("int").as("n_tracks"),
          element_at(col("feature"), 3).cast("int").as("width"),
          element_at(col("feature"), 4).cast("int").as("height"))
        .orderBy("doc_id")),

    // AVIF/HEIC/HEIF geometry (oracled, closed form): the engine must
    // recover width/height (ispe, max over properties — alpha planes
    // ride along smaller), item count (iinf), sequence frame count
    // (stts sum) and duration (mvhd v0 AND v1) through the real
    // ISO-BMFF bytes it wrote — the blind spot the r12 verdict ranked
    // #3 becomes a queryable, hash-pinned census class
    "ext_image_heif_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(s, heifMedia(s, dir)).toDF()
        .select(col("doc_id"), col("format"), col("kind"),
          element_at(col("feature"), 1).cast("int").as("width"),
          element_at(col("feature"), 2).cast("int").as("height"),
          element_at(col("feature"), 3).cast("int").as("items"),
          element_at(col("feature"), 4).cast("int").as("frames"),
          round(element_at(col("feature"), 5).cast("double"), 3)
            .as("duration_sec"))
        .orderBy("doc_id")),

    // Decode-coverage census (fully oracled): fake payloads MUST all
    // fall back to byte-stats, synthesized WAVs MUST all decode as real
    // PCM, synthesized MP4s MUST all parse as real containers — any row
    // crossing the real/fallback line shifts a count and fails the
    // hash. This is the data-card fallback accounting: the rollup that
    // makes a codec blind spot visible at corpus scale.
    "ext_media_decode_census" -> ((s, dir) =>
      graft.ext.DataCard.mediaDecodeCard(
        Multimodal.extractFeatures(s,
          Multimodal.mediaTable(Tables.documents(s, dir))
            .unionByName(audioMedia(s, dir))
            .unionByName(videoMedia(s, dir))
            .unionByName(heifMedia(s, dir))).toDF())),

    // ---- audio DSP (real STFT/mel over synthesized RIFF bytes) ------
    // Each doc gets a deterministic 16-bit PCM sine (freq and duration
    // derived from doc_id), so the CONTAINER arithmetic — sample counts
    // through the RIFF round-trip and the STFT framing — restates in
    // plain SQL and is oracled end-to-end; the spectral features
    // themselves (FFT → mel filterbank) have no SQL restatement and take
    // the rows-only entry, compensated by AudioDspSpec's physics gates
    // (single-tone centroid, Parseval, ZCR = 2f/sr, mono-mix identity).
    "ext_audio_meta" -> ((s, dir) =>
      AudioDsp.features(s, audioMedia(s, dir))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("n_frames"))
        .orderBy("doc_id")),

    "ext_audio_features" -> ((s, dir) =>
      AudioDsp.features(s, audioMedia(s, dir))
        .select(col("doc_id"),
          round(col("zcr"), 6).as("zcr"),
          round(col("centroid_hz"), 2).as("centroid_hz"),
          round(col("rms"), 6).as("rms"),
          expr("array_position(log_mel, array_max(log_mel))")
            .as("dominant_band"))
        .orderBy("doc_id")),

    // ---- line-level dedup (C4-style, oracled) -----------------------
    // documents carry no newlines, so "lines" are derived as aligned
    // 4-token chunks joined with \n (identical derivation in the
    // oracle); the operators then run on the real sep-based surface.
    // Corpus-wide keep-first on the line VALUE — survivors only.
    "ext_line_dedup" -> ((s, dir) =>
      LineDedup.dedupLines(linedDocs(s, dir), "doc_id", "text")
        .orderBy("doc_id", "line_no")),

    // Boilerplate strip + reassembly (oracled): any line in >= 3
    // distinct docs is dropped from every doc; text rebuilt in order.
    "ext_line_boilerplate" -> ((s, dir) =>
      LineDedup.stripBoilerplate(linedDocs(s, dir), "doc_id", "text",
          minDocs = 3)
        .orderBy("doc_id")),

    // Incremental line dedup (oracled DIFFERENTIAL): two real
    // store-backed ingests IN ID ORDER (keep-first requires earlier ids
    // to ingest first) must keep exactly the lines the one-shot
    // keep-first keeps — the oracle is the one-shot DuckDB form over the
    // same bounded universe. Store lives in a temp dir torn down after.
    "ext_line_dedup_incr" -> ((s, dir) => boundedGate(s) {
      val lined = linedDocs(s, dir).filter(col("doc_id") < 500)
      val store = java.nio.file.Files
        .createTempDirectory("graft_inclines").toString + "/store"
      val out = graft.ext.IncrementalLineDedup.ingest(s,
          lined.filter(col("doc_id") < 250), "doc_id", "text", store)
        .unionByName(graft.ext.IncrementalLineDedup.ingest(s,
          lined.filter(col("doc_id") >= 250), "doc_id", "text", store))
        .orderBy("doc_id", "line_no").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // ---- URL canonicalization + dedup (oracled) ---------------------
    // Messy URLs synthesized from doc fields by the SHARED SQL (same
    // expression text runs in both engines); Spark canonicalizes via
    // the parse_url-based operator, the oracle via an independent
    // regex implementation — a genuine differential check.
    // Canonical text normalization (oracled): NFC (native graft_nfc) →
    // control chars → collapsed whitespace → lower — the pre-hash step
    // of every dedup recipe, as one codegen'd expression chain.
    "ext_text_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalize(s, col("text")).as("text_norm"))
        .orderBy("doc_id")),

    // Per-domain crawl quota (oracled): cap any registrable domain at 10
    // docs (the synth corpus has 25/domain, so the cap genuinely drops rows) — the diversity cap that
    // stops one domain from dominating a training mix.
    "ext_domain_quota" -> ((s, dir) =>
      Urls.domainQuota(
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(UrlSynthSql).as("url")),
        "doc_id", "url", maxPerDomain = 10)
        .select("doc_id", "domain")
        .orderBy("domain", "doc_id")),

    "ext_url_canonical" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Urls.canonicalize(expr(UrlSynthSql)).as("url_canon"))
        .orderBy("doc_id")),

    "ext_url_dedup" -> ((s, dir) =>
      Urls.dedupByUrl(
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(UrlSynthSql).as("url")),
        "doc_id", "url")
        .orderBy("url_canon")),

    // Incremental URL dedup (oracled DIFFERENTIAL): two id-ordered
    // crawl batches through the durable canonical-URL key store must
    // keep exactly the docs the one-shot canonical keep-first keeps.
    "ext_url_dedup_incr" -> ((s, dir) => boundedGate(s) {
      val (stage, out1) = urlStage1(s, dir)
      val store = java.nio.file.Files
        .createTempDirectory("graft_incurl").toString + "/store"
      cloneDir(s, stage, store)
      val out = out1
        .unionByName(graft.ext.IncrementalKeyedDedup.ingest(s,
          urlCrawl(s, dir).filter(col("doc_id") >= 250), "doc_id",
          graft.ext.Urls.canonicalize(col("url")), store))
        .select(col("doc_id"),
          graft.ext.Urls.canonicalize(col("url")).as("url_canon"))
        .orderBy("doc_id").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Takedown semantics (oracled DIFFERENTIAL): crawl 1 registers its
    // canonical keys, every registered owner divisible by 5 is
    // FORGOTTEN, then crawl 2 ingests — it must keep exactly the rows
    // whose key is new OR owned by a forgotten id (re-admission), and
    // drop the rest (still blocked). DuckDB restates the whole
    // first-owner/tombstone algebra independently.
    "ext_url_dedup_forget" -> ((s, dir) => boundedGate(s) {
      val crawl = urlCrawl(s, dir)
      // crawl-1 registration comes from the shared staged store (its
      // survivors frame is unused here — the gate grades crawl 2)
      val (stage, _) = urlStage1(s, dir)
      val store = java.nio.file.Files
        .createTempDirectory("graft_urlforget").toString + "/store"
      cloneDir(s, stage, store)
      graft.ext.IncrementalKeyedDedup.forget(s, store,
        crawl.filter(col("doc_id") < 250 && col("doc_id") % 5 === 0)
          .select("doc_id"))
      val out = graft.ext.IncrementalKeyedDedup.ingest(s,
          crawl.filter(col("doc_id") >= 250), "doc_id",
          graft.ext.Urls.canonicalize(col("url")), store)
        .select(col("doc_id"),
          graft.ext.Urls.canonicalize(col("url")).as("url_canon"))
        .orderBy("doc_id").localCheckpoint(true)
      val p = new org.apache.hadoop.fs.Path(store).getParent
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // ---- leakage-safe splitting (oracled) ---------------------------
    // Split assignment at SOURCE granularity (rows from one source never
    // straddle train/eval — the site-level leakage control). Weights
    // 0.75/0.125/0.125 are binary-exact, so the boundary hex literals
    // are ulp-unambiguous and the oracle can hardcode them.
    "ext_split_assign" -> ((s, dir) =>
      graft.ext.Splits.assign(
        Tables.documents(s, dir).select("doc_id", "source"),
        "source",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
        seed = "r6")
        .orderBy("doc_id")),

    // Split-LEAKAGE AUDIT (oracled): count near-dup pairs whose two
    // docs landed in different splits, under BOTH schemes — doc-keyed
    // (the naive split: near-identical docs straddle train/eval) and
    // component-keyed (the leakage-safe one: a dedup cluster moves as a
    // unit, so its cross-split count is zero BY CONSTRUCTION, and this
    // audit MEASURES both facts instead of asserting them). Pair ends
    // are order-normalized so (train,val) and (val,train) fold.
    "ext_split_leakage_audit" -> ((s, dir) => {
      val docs = gateDocs(s, dir).select("doc_id")
      val gt = sharedGroundTruth(s, dir).select("id_a", "id_b")
      val splits = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
      val comp = Dedup.componentsFromPairs(docs, "doc_id", gt)
      val byDoc = graft.ext.Splits.assign(docs, "doc_id", splits, "r7")
      val byComp = graft.ext.Splits.assign(
        docs.join(comp.withColumnRenamed("id", "doc_id"), "doc_id"),
        "canonical_id", splits, "r7")
      def audit(assign: org.apache.spark.sql.DataFrame, scheme: String) =
        gt.join(assign.select(col("doc_id").as("id_a"),
            col("split").as("sa")), "id_a")
          .join(assign.select(col("doc_id").as("id_b"),
            col("split").as("sb")), "id_b")
          .groupBy(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("scheme", lit(scheme))
      audit(byDoc, "by_doc").unionByName(audit(byComp, "by_component"))
        .select("scheme", "split_lo", "split_hi", "n_pairs")
        .orderBy("scheme", "split_lo", "split_hi")
    }),

    // ---- semantic decontamination (oracled) -------------------------
    // The benchmark side is a planted paraphrase set: every 50th
    // embedding perturbed by the exact integer-mod formula the embed
    // recall gates share, so contaminated ids are unambiguous (planted
    // sources sit at cosine >= 0.997 vs a <= 0.46 background) and both
    // engines rebuild identical doubles. Corpus never shuffled: the
    // check is a broadcast nested-loop LEFT SEMI along the scan.
    "ext_decontaminate_embed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long").as("vec_id"),
          Similarity.asDouble(col("embedding")).as("v"))
      val bench = emb.filter(col("vec_id") % 50 === 0)
        .select(transform(col("v"), (x, i) =>
          x + ((col("vec_id") * 31 + (i + 1) * 7) % 11 - 5) * lit(0.003))
          .as("v"))
      Decontaminate.contaminatedIdsByEmbedding(emb, bench, "vec_id", "v",
          threshold = 0.98)
        .orderBy("vec_id")
    })
  )

  /** Documents re-lined for the line-dedup gates: aligned 4-token chunks
    * joined with \n (the corpus text has no newlines of its own). The
    * oracle derives the identical lines with a range(…, 4) comprehension.
    * THREE gates (line dedup, boilerplate strip, incremental line dedup)
    * consume the same derivation — and the boilerplate gate reads it
    * twice (detection + removal) — so it is built once per (session,
    * dir) and checkpointed, the same size-1 cache discipline as the
    * ground-truth builds above.
    */
  @volatile private var linedCache:
      Option[((SparkSession, String), DataFrame)] = None
  // driver-side HALF_UP rounding matching SQL round() for oracle parity
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    synchronized {
      linedCache match {
        case Some((k, cached)) if k == ((s, dir)) => cached
        case _ =>
          val toks = split(trim(col("text")), "\\s+")
          // spread BEFORE the derivation map + checkpoint: the documents
          // file arrives as ~3 row-group splits, so the checkpoint (and
          // every consumer's map work — boilerplate removal is a real
          // per-row array filter) inherited parallelism 3 on a 32-core
          // session (r16 profile: ext_line_boilerplate ran 6 single-task
          // stages, wall ≈ the serialized task time). The spreadDocs
          // convention: at 100 TB the input is already thousands of
          // splits and this repartition of a sub-MB corpus costs nothing.
          val lined = Tables.documents(s, dir)
            .repartition(s.sessionState.conf.numShufflePartitions)
            .select(col("doc_id"),
              array_join(
                transform(sequence(lit(1), size(toks), lit(4)),
                  i => array_join(slice(toks, i, lit(4)), " ")),
                "\n").as("text"))
            .localCheckpoint(true)
          linedCache = Some(((s, dir), lined))
          lined
      }
    }

  /** Synthesized per-document WAV fixtures for the audio-DSP gates: a
    * 16-bit PCM mono sine whose frequency (200..1700 Hz, below the 4 kHz
    * Nyquist) and duration derive from doc_id. The DSP then runs on real
    * RIFF bytes end-to-end; the doc_id arithmetic is what lets the meta
    * gate restate sample/frame counts in SQL.
    */
  /** The doc_id spine of the synthesized-media fixtures, spread across
    * cores BEFORE the per-row synthesis/decode map: the documents file
    * arrives in ~3 row-group splits, which serialized the real DSP /
    * container work (ext_audio_features ran its whole STFT in 3 tasks —
    * r16 profile). The shuffle moves 8-byte ids only, hash-partitioned
    * on doc_id (deterministic under retry, no round-robin pre-sort —
    * opt guide §2.5), and the synthesis+decode then runs at full width.
    */
  private def mediaIds(s: SparkSession, dir: String) = {
    import s.implicits._
    val target = s.sessionState.conf.numShufflePartitions
    Tables.documents(s, dir).select("doc_id")
      .repartition(target, col("doc_id")).as[Long]
  }

  private def audioMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaIds(s, dir).map { id =>
      Multimodal.MediaRow(id,
        AudioDsp.sineWav(8000, (1000 + (id % 7) * 512).toInt,
          (200 + (id % 16) * 100).toDouble),
        "audio/wav", 0, 0)
    }.toDF()
  }

  /** Minimal-MP4 synthesis for the video gates (the audioMedia analog):
    * each doc gets a real ISO-BMFF `ftyp`+`moov` byte string whose
    * duration / track count / geometry derive from doc_id, so the atom
    * walk runs on real container bytes while the meta gate restates the
    * arithmetic in SQL.
    */
  private def videoMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaIds(s, dir).map { id =>
      Multimodal.MediaRow(id,
        Multimodal.minimalMp4(1000, 2000 + (id % 10) * 500,
          (1 + id % 3).toInt,
          (320 + (id % 4) * 160).toInt, (240 + (id % 4) * 120).toInt),
        "video/mp4", 0, 0)
    }.toDF()
  }

  /** The ISO-BMFF image heap for the HEIF gates: one AVIF/HEIC/HEIF
    * envelope per document, every parameter doc_id-derived in closed
    * form (the [[videoMedia]] discipline) so the geometry walk is
    * SQL-restatable. Brands cycle still/sequence/generic; sequences
    * carry a real moov (mvhd v0/v1 + stts) for frame count/duration.
    */
  private def heifMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaIds(s, dir).map { id =>
      val w = (16 + (id % 7) * 9).toInt
      val h = (12 + (id % 5) * 7).toInt
      val brand = (id % 5) match {
        case 0 => "avif"
        case 1 => "avis"
        case 2 => "heic"
        case 3 => "mif1"
        case _ => "msf1"
      }
      val seq = id % 5 == 1 || id % 5 == 4
      Multimodal.MediaRow(id,
        Multimodal.minimalHeif(brand, w, h,
          items = (1 + id % 3).toInt,
          compatBrands = if (brand == "mif1") Seq("miaf") else Nil,
          alphaIspe = if (id % 2 == 0) Some((w / 2, h / 2)) else None,
          sttsCounts =
            if (seq) Seq((2 + id % 4).toInt, (1 + id % 3).toInt) else Nil,
          timescale = if (seq) (50 + id % 10).toInt else 0,
          durationTicks = if (seq) 100 + (id % 9) * 10 else 0L,
          mvhdV1 = id % 4 == 1),
        "image/avif", 0, 0)
    }.toDF()
  }

  /** Messy-URL synthesis for the URL gates, written once as dialect-
    * neutral SQL so BOTH engines evaluate the same expression text: the
    * gates then compare Spark's canonicalizer against the oracle's
    * independent regex one. Varies scheme case, www, default/non-default
    * ports, trailing slash, tracking params, param order, fragments.
    */
  private val UrlSynthSql: String = """
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' ||
    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
    'Ex' || source || '.COM' ||
    CASE WHEN doc_id % 2 = 0 THEN ':443'
         WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
    '/Docs/' || CAST(doc_id % 7 AS STRING) ||
    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
    '?b=2&utm_source=feed&a=' || CAST(doc_id % 3 AS STRING) ||
    CASE WHEN doc_id % 4 = 0 THEN '#Top' ELSE '' END"""

  /** The oracle's independent regex canonicalization of the synthesized
    * URLs, shared by BOTH url gates (ONE copy to keep in sync with the
    * documented canonical form): CTE `c` exposes (doc_id, url_canon).
    */
  private val UrlCanonOracleCtes: String =
    (s"""WITH u0 AS (SELECT doc_id, ($UrlSynthSql) AS u FROM documents),
      |p AS (SELECT doc_id,
      |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |    AS scheme,
      |  lower(regexp_extract(u, '://([^/?#:]+)', 1)) AS host0,
      |  regexp_extract(u, '://[^/?#:]+:([0-9]+)', 1) AS port,
      |  regexp_extract(u, '://[^/?#]+(/[^?#]*)', 1) AS path0,
      |  regexp_extract(u, '\\?([^#]*)', 1) AS query0
      |  FROM u0),
      |k AS (SELECT *, [q for q in string_split(query0, '&')
      |  if q <> '' and not regexp_matches(q,
      |    '^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$$')] AS kept
      |  FROM p),
      |c AS (SELECT doc_id,
      |  scheme || '://' || regexp_replace(host0, '^www\\.', '') ||
      |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |         OR (scheme = 'https' AND port = '443') THEN ''
      |       ELSE ':' || port END ||
      |  regexp_replace(path0, '/+$$', '') ||
      |  CASE WHEN len(kept) = 0 THEN ''
      |       ELSE '?' || array_to_string(list_sort(kept), '&') END
      |    AS url_canon
      |  FROM k)""").stripMargin

  /** The documents corpus spread across cores: a single-row-group parquet
    * arrives as ONE split, which would serialize the (now shuffle-free)
    * map-side hashing pipelines. See the ext_minhash_neardup comment.
    */
  private def spreadDocs(s: SparkSession, dir: String) =
    graft.ops.Transforms.spreadIfNarrow(Tables.documents(s, dir))

  /** Bounded vector universe with planted near-identical twins for the
    * RP-LSH recall gate: base vectors (vec_id < 200) plus, for each, a
    * twin at vec_id + 10000 perturbed by an exact integer-mod formula —
    * (vec_id*31 + i*7) % 11 - 5, scaled by 0.003 per element (i 1-based)
    * — so both engines rebuild IDENTICAL doubles (integer ops exact, one
    * IEEE multiply + add each). Unit-norm inputs put twins at cosine
    * >= 0.997 vs a 0.51 background: unambiguous ground truth.
    */
  private[graft] def plantedNearDupVectors(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      .select(col("vec_id").cast("long").as("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
    // perturb FIRST (with the original id), re-id second — the same
    // two-step shape as the oracle's CTE, so neither engine can bind the
    // formula's vec_id to the shifted alias
    val planted = base.select(col("vec_id"),
        transform(col("v"), (x, i) =>
          x + ((col("vec_id") * 31 + (i + 1) * 7) % 11 - 5) * lit(0.003)).as("pv"))
      .select((col("vec_id") + 10000L).as("vec_id"), col("pv").as("v"))
    base.unionByName(planted)
  }

  /** The query vector: embedding of vec_id=0, fetched driver-side as a
    * query PARAMETER (one row — not a data collect).
    */
  private[graft] def queryVector(s: SparkSession, dir: String): Seq[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)

  /** Build (and materialize) the IVF indexes the similarity queries probe —
    * the one-time ETL step of an ANN system, separated from probe latency
    * exactly as ANN benchmarks report it. Bench calls this before timing
    * queries and reports the elapsed build as its own `ivf_index_build`
    * entry, so the cost is visible, not hidden. Safe to call repeatedly:
    * the session index cache makes it a no-op after the first build.
    */
  /** Lloyd training rounds for every IVF index the queries probe: trained
    * centroids follow the corpus's real cluster structure, so recall at
    * fixed nProbe dominates the untrained seed (RecallSpec quantifies).
    */
  private[graft] val IvfIters = 2

  def buildIndexes(s: SparkSession, dir: String): Unit = {
    // the two indexes are INDEPENDENT build jobs — overlap them from
    // driver threads (opt guide §2.6: the scheduler happily runs several
    // jobs at once; the bounded build's tail back-fills cores the full
    // build leaves idle, and its driver-side planning overlaps the full
    // build's job time). ivfIndexFor's cache is a concurrent TrieMap.
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fullF = Future {
      val full = Similarity.ivfIndexFor(
        Tables.embeddings(s, dir), "vec_id", "embedding", 16, iters = IvfIters)
      full.assignments.count()
      // the durable artifact reuses the in-memory index's training and
      // assignment (one build, two forms) — the write is the only extra
      Similarity.persistIndex(full, indexPath(s, dir))
    }
    val boundedF = Future {
      Similarity.ivfIndexFor(
        Tables.embeddings(s, dir).filter(col("vec_id") < 500),
        "vec_id", "embedding", 8, iters = IvfIters)
        .assignments.count()
    }
    // await BOTH before propagating either failure: awaiting fullF
    // alone would leave a failed boundedF running detached on the
    // global pool (wasted jobs, swallowed error) — r15 ADVICE item
    val r1 = scala.util.Try(Await.result(fullF, Duration.Inf))
    val r2 = scala.util.Try(Await.result(boundedF, Duration.Inf))
    r1.get; r2.get
    ()
  }

  /** Filesystem home of the persisted IVF artifact for a testdata dir —
    * keyed by build params AND a fingerprint of the source parquet's
    * file metadata (names, sizes, mtimes: an O(1) listing, no job), so a
    * regenerated corpus at the same path can never be served by a stale
    * index; reruns over unchanged data reuse it.
    */
  private[graft] def indexPath(s: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // "pp" marks the kmeans++ seeding generation — a pre-seeding artifact
    // at the same corpus fingerprint must not be reused
    s"${sys.props("java.io.tmpdir")}/graft_ivf/$safe/c16pp_i${IvfIters}_${corpusFp(s, dir)}"
  }

  /** Home of the INCREMENTALLY-GROWN index (ext_ivf_append): built on a
    * sub-corpus and appended to, so it must never share a path with the
    * full-corpus artifact — same fingerprint discipline as indexPath.
    */
  private[graft] def appendIndexPath(s: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${sys.props("java.io.tmpdir")}/graft_ivf/$safe/apnd_c16pp_i${IvfIters}_${corpusFp(s, dir)}"
  }

  private def corpusFp(s: SparkSession, dir: String,
      table: String = "embeddings"): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val entries = graft.sinks.SwapUtil.listingToken(
      p.getFileSystem(s.sparkContext.hadoopConfiguration), p, recursive = false)
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
  }

  /** Content fingerprint of a SYNTHESIZED fixture corpus (ids +
    * payload bytes, FNV-1a) — the [[indexPath]] staleness discipline
    * applied to in-memory fixtures: the cache path derives from what
    * the fixture formula actually PRODUCED, so a formula change
    * invalidates the cached index with no hand-bumped version string
    * to forget (a forgotten bump would surface as a stale-index hash
    * mismatch in CORRECTNESS that looks like an engine bug).
    */
  private def fixtureFp(rows: Seq[(Long, Array[Byte])]): String = {
    var h = 0xcbf29ce484222325L
    def mixByte(v: Int): Unit = { h ^= v & 0xffL; h *= 0x100000001b3L }
    def mixLong(x: Long): Unit =
      (0 until 8).foreach(i => mixByte((x >>> (8 * i)).toInt))
    rows.foreach { case (id, b) =>
      mixLong(id); mixLong(b.length.toLong)
      var i = 0
      while (i < b.length) { mixByte(b(i)); i += 1 }
    }
    java.lang.Long.toHexString(h)
  }

  /** Home of the persisted Hamming image index — same fingerprint
    * discipline as [[indexPath]] so a regenerated corpus can never be
    * served by stale postings ("h7f8" = maxHamming 7, 8 files/chunk).
    */
  private[graft] def imageIndexPath(s: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${sys.props("java.io.tmpdir")}/graft_imgidx/$safe/" +
      s"h7f8_${corpusFp(s, dir, "documents")}"
  }

  /** Build the Hamming image index — Bench calls this up front (its own
    * `image_index_build` line, so the line times a build on every run,
    * as `ivf_index_build` does) and the probe gate times pruning, not
    * the one-time layout pass.
    */
  private[graft] def buildImageIndex(s: SparkSession, dir: String): Unit =
    graft.ext.ImageIndex.build(
      Multimodal.mediaTable(
        Tables.documents(s, dir).filter(col("doc_id") < 300)),
      imageIndexPath(s, dir), maxHamming = 7)

  /** [[buildImageIndex]] only when the index is absent. */
  private[graft] def ensureImageIndex(s: SparkSession, dir: String): Unit =
    if (!graft.ext.ImageIndex.exists(s, imageIndexPath(s, dir)))
      buildImageIndex(s, dir)

  /** Build the durable index only when absent (Verify-path economics:
    * first query pays the build, every later probe is pruning-only).
    */
  private def ensurePersistedIndex(s: SparkSession, dir: String): Unit =
    if (!Similarity.persistedIndexExists(s, indexPath(s, dir)))
      Similarity.ivfBuildPersisted(Tables.embeddings(s, dir), "vec_id",
        "embedding", indexPath(s, dir), nCentroids = 16, iters = IvfIters)

  // PageRank oracle: same 3-gram pair graph as CorpusComponentsSql, three
  // power iterations UNROLLED (pr0 → pr1 → pr2 → pr3) — non-recursive
  // CTEs may reference their predecessor freely, so no recursive-CTE
  // contortions. Undirected graph ⇒ every node has out-edges ⇒ the
  // dangling term is identically zero here (the Spark side computes it
  // generally; it folds in 0.0).
  private val PageRankSql = {
    val iter = (prev: String, cur: String) =>
      s"""$cur AS (
         |  SELECT e.dst AS id, sum($prev.pr / deg.outdeg) AS s
         |  FROM e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |${cur}p AS (SELECT id, (1 - 0.85) / n.cnt + 0.85 * s AS pr FROM $cur, n),""".stripMargin
    ("""WITH """ + GramPairCtesSql + s""",
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |n AS (SELECT count(*) AS cnt FROM deg),
       |r0p AS (SELECT src AS id, 1.0 / n.cnt AS pr FROM deg, n),
       |${iter("r0p", "r1")}
       |${iter("r1p", "r2")}
       |${iter("r2p", "r3")}
       |fin AS (SELECT 1)
       |SELECT id AS doc_id, round(pr, 6) AS pr FROM r3p ORDER BY doc_id""").stripMargin
  }

  private val CorpusComponentsSql =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id,
      |    list_distinct([substr(text, i, 3)
      |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
      |  FROM documents WHERE doc_id < 500),
      |p AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM g x, g y WHERE x.doc_id < y.doc_id
      |    AND len(list_intersect(x.grams, y.grams))
      |      / greatest(len(list_distinct(x.grams || y.grams)), 1) >= 0.9),
      |e AS (SELECT id_a AS id, id_b AS nbr FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
      |  UNION
      |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id),
      |lab AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id)
      |SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
      |FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
      |WHERE d.doc_id < 500
      |ORDER BY d.doc_id""".stripMargin

  private val Bm25SearchSql =
    """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, len(toks) AS dl, u.term, count(*) AS tf
        |  FROM base, unnest(toks) AS u(term)
        |  WHERE u.term IN ('join', 'filter', 'scan')
        |  GROUP BY 1, 2, 3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS s
        |  FROM tf JOIN dft USING (term) CROSS JOIN c)
        |SELECT doc_id, round(sum(s), 6) AS score, count(*) AS matched
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin

  // ONE definition of each cross-oracle SQL fragment (the Bm25SearchSql
  // discipline): a formula tweak lands in every oracle or none.
  private lazy val QualityScoreExprSql: String =
    """round((least(length(text) / 500.0, 1.0) * 0.4)
      |      + ((1.0 - least(round(length(regexp_replace(text,
      |          '[A-Za-z0-9\s]', '', 'g')) / greatest(length(text), 1), 6)
      |          * 5, 1.0)) * 0.3)
      |      + (least(round(len(regexp_extract_all(lower(text),
      |          '\b(the|a|an|and|of|to|in|is|it|for)\b'))
      |          / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)
      |          * 4, 1.0) * 0.3), 6)""".stripMargin

  // the exact char-3-gram near-dup pair graph (doc_id < 500) shared by
  // the components/pagerank/triplets/leakage oracles: CTEs g + p
  private lazy val GramPairCtesSql: String =
    """g AS (
      |  SELECT doc_id,
      |    list_distinct([substr(text, i, 3)
      |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
      |  FROM documents WHERE doc_id < 500),
      |p AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM g x, g y WHERE x.doc_id < y.doc_id
      |    AND len(list_intersect(x.grams, y.grams))
      |      / greatest(len(list_distinct(x.grams || y.grams)), 1) >= 0.9)""".stripMargin

  // the dHash pipeline as CTEs ending in hashes(doc_id, dhash BIGINT):
  // grid = 9×8 nearest-neighbor samples of the fake plane (text bytes,
  // row-major modulo length), bits = 64 horizontal gradient signs,
  // halves/hashes = the signed 64-bit two's-complement pack from two
  // 32-bit halves. `where` bounds the universe for the all-pairs gate.
  private def dHashCtesSql(where: String): String =
    s"""m AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    n_chars % 64 + 1 AS w, n_chars % 48 + 1 AS h
      |  FROM documents $where),
      |grid AS (
      |  SELECT doc_id,
      |    [CASE WHEN len > 0
      |      THEN ascii(substr(text,
      |        CAST(((((k // 9) * h) // 8) * w + (((k % 9) * w) // 9)) % len
      |          AS INT) + 1, 1))
      |      ELSE 0 END
      |     for k in range(0, 72)] AS gr
      |  FROM m),
      |bits AS (
      |  SELECT doc_id,
      |    [CASE WHEN gr[(b // 8) * 9 + (b % 8) + 1]
      |             > gr[(b // 8) * 9 + (b % 8) + 2]
      |          THEN 1::BIGINT ELSE 0::BIGINT END
      |     for b in range(0, 64)] AS bs
      |  FROM grid),
      |halves AS (
      |  SELECT doc_id,
      |    list_sum([bs[b + 1] * (1::BIGINT << b) for b in range(0, 32)]) AS lo,
      |    list_sum([bs[b + 33] * (1::BIGINT << b) for b in range(0, 32)]) AS hi
      |  FROM bits),
      |hashes AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN hi >= 2147483648
      |         THEN (hi - 4294967296) * 4294967296 + lo
      |         ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
      |  FROM halves)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ext_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_tokens_bpe,
        |  CAST(length(text) AS BIGINT) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |      / greatest(length(text), 1), 6) AS punct_ratio,
        |    round(len(regexp_extract_all(lower(text),
        |        '\b(the|a|an|and|of|to|in|is|it|for)\b'))
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)
        |      AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, punct_ratio, stopword_ratio,
        |  round((least(length(text) / 500.0, 1.0) * 0.4)
        |      + ((1.0 - least(punct_ratio * 5, 1.0)) * 0.3)
        |      + (least(stopword_ratio * 4, 1.0) * 0.3), 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "ext_mutual_info" ->
      """WITH j AS (
        |  SELECT lang AS x, source AS y, count(*) AS c FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT c, sum(c) OVER () AS n,
        |    sum(c) OVER (PARTITION BY x) AS cx,
        |    sum(c) OVER (PARTITION BY y) AS cy
        |  FROM j)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  round(sum(c * 1.0 / n * ln(n * 1.0 / cx)), 6) AS h_x,
        |  round(sum(c * 1.0 / n * ln(n * 1.0 / cy)), 6) AS h_y,
        |  round(sum(c * 1.0 / n * ln(c * 1.0 * n / (cx * 1.0 * cy))), 6) AS mi,
        |  CASE WHEN sum(c * 1.0 / n * ln(n * 1.0 / cx)) > 0
        |        AND sum(c * 1.0 / n * ln(n * 1.0 / cy)) > 0 THEN
        |    round(sum(c * 1.0 / n * ln(c * 1.0 * n / (cx * 1.0 * cy)))
        |      / sqrt(sum(c * 1.0 / n * ln(n * 1.0 / cx))
        |        * sum(c * 1.0 / n * ln(n * 1.0 / cy))), 6)
        |  END AS nmi
        |FROM w""".stripMargin,

    "ext_data_card" ->
      ("""WITH t AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    """ + QualityScoreExprSql + """ AS q
        |  FROM documents),
        |s AS (
        |  SELECT count(*) AS n, sum(toks) AS tot, avg(toks) AS avgt,
        |    avg(q) AS mq,
        |    sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS emp,
        |    count(DISTINCT md5(text)) AS dh,
        |    sum(CASE WHEN len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |      THEN 1 ELSE 0 END) AS email
        |  FROM t),
        |card AS (
        |  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM s
        |  UNION ALL SELECT 'total_tokens', tot::DOUBLE FROM s
        |  UNION ALL SELECT 'avg_tokens', avgt FROM s
        |  UNION ALL SELECT 'mean_quality', mq FROM s
        |  UNION ALL SELECT 'pct_empty', emp / (n * 1.0) FROM s
        |  UNION ALL SELECT 'exact_dup_rate', 1.0 - dh / (n * 1.0) FROM s
        |  UNION ALL SELECT 'pii_email_rate', email / (n * 1.0) FROM s
        |  UNION ALL
        |  SELECT 'lang_share_' || coalesce(lang, 'null'),
        |    count(*) / ((SELECT n FROM s) * 1.0)
        |  FROM t GROUP BY lang)
        |SELECT metric, round(value, 6) AS value FROM card
        |ORDER BY metric""").stripMargin,

    // the normal-equation fit must reproduce SQL's closed-form regr_*
    "ext_linreg_fit" ->
      """SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem""".stripMargin,

    // the w=0 logistic gradient is linear in the data: (1/n)Σ x·(0.5−y)
    "ext_logreg_step" ->
      """WITH t AS (
        |  SELECT round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |      / greatest(length(text), 1), 6) AS punct,
        |    round(len(regexp_extract_all(lower(text),
        |        '\b(the|a|an|and|of|to|in|is|it|for)\b'))
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)
        |      AS stop,
        |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents)
        |SELECT round(sum(punct * (0.5 - y)) / count(*), 6) AS d_punct,
        |  round(sum(stop * (0.5 - y)) / count(*), 6) AS d_stop,
        |  round(sum(0.5 - y) / count(*), 6) AS d_intercept
        |FROM t""".stripMargin,

    // Shared score CTE for the eval family: the same quality formula as
    // ext_quality_score's oracle, label = (lang = 'en').
    "ext_eval_auc" ->
      ("""WITH t AS (
        |  SELECT """ + QualityScoreExprSql + """ AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (
        |  SELECT score, sum(y) AS p, count(*) - sum(y) AS n
        |  FROM t GROUP BY score),
        |c AS (
        |  SELECT p, n, coalesce(sum(n) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |  FROM g)
        |SELECT CAST(sum(p) AS BIGINT) AS pos_cnt,
        |  CAST(sum(n) AS BIGINT) AS neg_cnt,
        |  CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
        |    round(sum(p * nb + p * n / 2.0) / (sum(p) * sum(n)), 6)
        |  END AS auc
        |FROM c""").stripMargin,

    "ext_eval_confusion" ->
      ("""WITH t AS (
        |  SELECT """ + QualityScoreExprSql + """ AS score,
        |    (lang = 'en') AS y
        |  FROM documents),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN score >= 0.5 AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score >= 0.5 AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score < 0.5 AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN score < 0.5 AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM t)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp + 0.0), 6) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN round(tp / (tp + fn + 0.0), 6) END AS recall,
        |  CASE WHEN tp * 2 + fp + fn > 0
        |    THEN round(tp * 2 / (tp * 2 + fp + fn + 0.0), 6) END AS f1
        |FROM a""").stripMargin,

    "ext_eval_calibration" ->
      ("""WITH t AS (
        |  SELECT """ + QualityScoreExprSql + """ AS score,
        |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents)
        |SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
        |  count(*) AS cnt, round(avg(score), 6) AS mean_score,
        |  round(avg(y), 6) AS pos_rate
        |FROM t GROUP BY bin ORDER BY bin""").stripMargin,

    "ext_heavy_hitters" ->
      """SELECT tok AS token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, token ASC LIMIT 30""".stripMargin,

    "ext_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS s
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(floor(s / 512) AS BIGINT) AS pack_id,
        |  s % 512 AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "ext_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |freq AS (
        |  SELECT doc_id, max(c) AS mx, sum(c) AS total FROM (
        |    SELECT doc_id, tok, count(*) AS c FROM (
        |      SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
        |  GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+1], ' ')
        |            for i in range(1, len(toks))] END AS g2,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE [array_to_string(toks[i:i+2], ' ')
        |            for i in range(1, len(toks) - 1)] END AS g3
        |  FROM t)
        |SELECT t.doc_id,
        |  round(mx / greatest(total, 1), 6) AS top_token_frac,
        |  round((len(g2) - len(list_distinct(g2))) / greatest(len(g2), 1), 6)
        |    AS dup_2gram_frac,
        |  round((len(g3) - len(list_distinct(g3))) / greatest(len(g3), 1), 6)
        |    AS dup_3gram_frac
        |FROM t JOIN freq USING (doc_id) JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "ext_shuffle_shard" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1 AS pos
        |  FROM documents)
        |SELECT doc_id, CAST(pos % 8 AS BIGINT) AS shard,
        |  CAST(pos AS BIGINT) AS pos
        |FROM r ORDER BY doc_id""".stripMargin,

    "ext_corpus_overlap" ->
      """WITH tok AS (
        |  SELECT DISTINCT lang, w FROM (
        |    SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)),
        |n AS (SELECT lang, count(*) AS c FROM tok GROUP BY lang),
        |ix AS (
        |  SELECT t1.lang AS group_a, t2.lang AS group_b, count(*) AS ci
        |  FROM tok t1 JOIN tok t2 USING (w)
        |  WHERE t1.lang < t2.lang
        |  GROUP BY 1, 2)
        |SELECT group_a, group_b, na.c AS distinct_a, nb.c AS distinct_b,
        |  ci AS distinct_shared,
        |  round(ci / (na.c + nb.c - ci), 6) AS jaccard
        |FROM ix
        |  JOIN n na ON ix.group_a = na.lang
        |  JOIN n nb ON ix.group_b = nb.lang
        |ORDER BY group_a, group_b""".stripMargin,

    "ext_classifier_quality" ->
      """WITH pt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    1 AS p, 0 AS n
        |  FROM documents WHERE lang = 'en'),
        |nt AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w,
        |    0 AS p, 1 AS n
        |  FROM documents WHERE lang <> 'en'),
        |cnt AS (
        |  SELECT w, CAST(sum(p) AS DOUBLE) AS cp, CAST(sum(n) AS DOUBLE) AS cn
        |  FROM (SELECT * FROM pt UNION ALL SELECT * FROM nt) GROUP BY w),
        |sc AS (
        |  SELECT sum(cp) AS np, sum(cn) AS nn, CAST(count(*) AS DOUBLE) AS v
        |  FROM cnt),
        |pr AS (
        |  SELECT ln(CAST((SELECT count(*) FROM documents WHERE lang = 'en')
        |      AS DOUBLE)
        |    / (SELECT count(*) FROM documents WHERE lang <> 'en')) AS prior),
        |lo AS (
        |  SELECT w, ln((cp + 0.5) / (np + 0.5 * v))
        |       - ln((cn + 0.5) / (nn + 0.5 * v)) AS lo
        |  FROM cnt, sc),
        |dflt AS (SELECT ln((nn + 0.5 * v) / (np + 0.5 * v)) AS d FROM sc),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents)
        |SELECT tok.doc_id, count(*) AS n_tokens,
        |  round(sum(coalesce(lo.lo, dflt.d)) + pr.prior, 6) AS log_odds
        |FROM tok LEFT JOIN lo USING (w) CROSS JOIN dflt CROSS JOIN pr
        |GROUP BY tok.doc_id, dflt.d, pr.prior
        |ORDER BY doc_id""".stripMargin,

    "ext_lm_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS a
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, a[i] AS w1, a[i+1] AS w2
        |  FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM t)),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(a) AS w FROM t) GROUP BY w),
        |big AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |v AS (SELECT count(*) AS vs FROM uni)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  round(-avg(log2((big.c + 0.1) / (uni.c + 0.1 * v.vs))), 6)
        |    AS cross_entropy,
        |  round(pow(2, -avg(log2((big.c + 0.1) / (uni.c + 0.1 * v.vs)))), 6)
        |    AS perplexity
        |FROM bg JOIN big USING (w1, w2) JOIN uni ON bg.w1 = uni.w
        |  CROSS JOIN v
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    "ext_curriculum_stages" ->
      """WITH s AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS sig
        |  FROM documents),
        |t AS (SELECT count(*) AS n FROM s),
        |r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sig, doc_id) - 1 AS pos
        |  FROM s)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST((pos * 4) // t.n AS BIGINT) AS stage
        |FROM r CROSS JOIN t ORDER BY doc_id""".stripMargin,

    "ext_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t AS tok FROM tok
        |      GROUP BY t ORDER BY count(*) DESC, tok ASC LIMIT 100)
        |SELECT doc_id,
        |  round(sum(CASE WHEN t NOT IN (SELECT tok FROM v)
        |      THEN 1 ELSE 0 END) / greatest(count(*), 1), 6) AS oov_frac
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    [len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')),
        |     len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')),
        |     len(regexp_extract_all(lower(text), '\b(le|les|des|et|une)\b')),
        |     len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')),
        |     len(regexp_extract_all(lower(text), '\b(de|shi|le|bu|wo)\b'))] AS scores
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  (['en','es','fr','de','zh'])[list_position(scores, list_max(scores))]
        |    AS predicted_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "ext_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "ext_dedup_keyed" ->
      """SELECT lang, source, min(doc_id) AS keep_id, count(*) AS group_size
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "ext_dedup_exact_rows" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin,

    "ext_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.v, q.qv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |    AS score
        |FROM e, q ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    // PCA-ANN: equality-with-exact-search gate, same oracle as the
    // brute-force and PQ paths.
    "ext_pca_ann_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.v, q.qv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |    AS score
        |FROM e, q ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    // The PQ stack's gate is EQUALITY with exact search: the approximate
    // index (ADC candidates + exact re-rank) must return precisely the
    // brute-force top-10, so the oracle is the same exact-search SQL.
    "ext_pq_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.v, q.qv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |    AS score
        |FROM e, q ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ext_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+3], ' ')
        |               for i in range(1, len(toks) - 2)] END AS grams
        |  FROM t),
        |bench AS (SELECT DISTINCT u.gram
        |          FROM g, unnest(g.grams) AS u(gram) WHERE doc_id % 50 = 0)
        |SELECT DISTINCT g.doc_id
        |FROM g, unnest(g.grams) AS u(gram)
        |WHERE g.doc_id % 50 <> 0 AND u.gram IN (SELECT gram FROM bench)
        |ORDER BY doc_id""".stripMargin,

    // the provenance pairs: distinct shared 4-grams per (doc, bench)
    // pair over the same fixture (gram lists are already distinct, so
    // the intersect length IS the shared-gram count)
    "ext_contamination_report" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |           ELSE [array_to_string(toks[i:i+3], ' ')
        |                 for i in range(1, len(toks) - 2)] END) AS grams
        |  FROM t)
        |SELECT d.doc_id, b.doc_id AS bench_id,
        |  CAST(len(list_intersect(d.grams, b.grams)) AS BIGINT) AS shared_grams
        |FROM g d, g b
        |WHERE d.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
        |  AND len(list_intersect(d.grams, b.grams)) > 0
        |ORDER BY d.doc_id, bench_id""".stripMargin,

    "ext_batch_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT q.q_id, e.vec_id,
        |  round(list_dot_product(e.v, q.qv)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |    AS score
        |  FROM e, q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY score DESC, vec_id) AS rn FROM s)
        |SELECT q_id, score, vec_id FROM r WHERE rn <= 5
        |ORDER BY q_id, score DESC, vec_id""".stripMargin,

    "ext_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id < 500)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |    AS score
        |FROM e x, e y WHERE x.vec_id < y.vec_id
        |  AND list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.45
        |ORDER BY score DESC, id_a ASC, id_b ASC""".stripMargin,

    // ALL planted vector pairs by exact cosine; the Spark side returns
    // the pairs RP-LSH found — hash equality == proof of recall 1.0.
    "ext_embed_incr_recall" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |              FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id,
        |  [v[i] + ((vec_id*31 + i*7) % 11 - 5) * 0.003
        |    for i in range(1, len(v) + 1)] AS pv
        |  FROM base),
        |c AS (SELECT vec_id, v FROM base
        |      UNION ALL SELECT vec_id + 10000, pv FROM planted)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |    AS score
        |FROM c x, c y WHERE x.vec_id < y.vec_id
        |  AND list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    // same exact-cosine GT as ext_embed_incr_recall: the codes-backed
    // store must find every true pair, proving the quantized verify
    // loses no recall at its operating threshold
    "ext_embed_incr_pq_recall" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |              FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id,
        |  [v[i] + ((vec_id*31 + i*7) % 11 - 5) * 0.003
        |    for i in range(1, len(v) + 1)] AS pv
        |  FROM base),
        |c AS (SELECT vec_id, v FROM base
        |      UNION ALL SELECT vec_id + 10000, pv FROM planted)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |    AS score
        |FROM c x, c y WHERE x.vec_id < y.vec_id
        |  AND list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    "ext_rplsh_recall" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |              FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id,
        |  [v[i] + ((vec_id*31 + i*7) % 11 - 5) * 0.003
        |    for i in range(1, len(v) + 1)] AS pv
        |  FROM base),
        |c AS (SELECT vec_id, v FROM base
        |      UNION ALL SELECT vec_id + 10000, pv FROM planted)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  round(list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |    AS score
        |FROM c x, c y WHERE x.vec_id < y.vec_id
        |  AND list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    // ALL planted ground-truth pairs; the Spark side returns the pairs the
    // near-dup pipeline found, so hash equality == proof of recall 1.0.
    "ext_minhash_recall" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 3)
        |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        |  FROM documents WHERE doc_id < 500)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  round(len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1), 6) AS jaccard3
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |  AND len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // docs shorter than 40 chars cannot contain a 40-char span and are
    // excluded outright (mirrors the operator's eligibility filter)
    "ext_substring_pairs" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 40)
        |      for i in range(1, length(text) - 39 + 1)]) AS grams
        |  FROM documents WHERE doc_id < 300 AND length(text) >= 40)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |  AND len(list_intersect(x.grams, y.grams)) > 0
        |ORDER BY id_a, id_b""".stripMargin,

    // identical oracle to ext_substring_pairs: the incremental two-
    // ingest run must equal the one-shot answer exactly
    "ext_substring_incr" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 40)
        |      for i in range(1, length(text) - 39 + 1)]) AS grams
        |  FROM documents WHERE doc_id < 300 AND length(text) >= 40)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |  AND len(list_intersect(x.grams, y.grams)) > 0
        |ORDER BY id_a, id_b""".stripMargin,

    // same all-pairs oracle as ext_minhash_recall: the incremental
    // store-backed pipeline must find every ground-truth pair across
    // the two-ingest split, or the hash differs
    "ext_incremental_recall" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 3)
        |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        |  FROM documents WHERE doc_id < 500)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  round(len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1), 6) AS jaccard3
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |  AND len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // never-ingested + re-registered, restated directly: batch A is the
    // 40-doc universe minus the taken-down id (pack assignment = the
    // packer's prefix-sum over uniform 30-token docs in id order, with
    // doc 7's hole PRESERVED because packing predates the takedown);
    // batch B is the readmitted fresh copy; batch C contributes nothing
    "ext_takedown_e2e" ->
      """SELECT 'A' AS batch_id, doc_id,
        |  CAST(30 AS BIGINT) AS n_tokens,
        |  CAST(floor(30 * doc_id / 64) AS BIGINT) AS pack_id,
        |  CAST((30 * doc_id) % 64 AS BIGINT) AS pack_offset
        |FROM documents WHERE doc_id < 40 AND doc_id <> 7
        |UNION ALL
        |SELECT 'B', 1007, 30, 0, 0
        |ORDER BY batch_id, doc_id""".stripMargin,

    "ext_corpus_recall" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 3)
        |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        |  FROM documents WHERE doc_id < 500)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  round(len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1), 6) AS jaccard3
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |  AND len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // Connected components by recursive CTE: reach(id, r) enumerates every
    // node r reachable from id over the undirected ground-truth pair graph
    // (UNION-distinct terminates the recursion); canonical = min reachable
    // id, which includes id itself via the base case — exactly the
    // min-label semantics of Dedup.componentsFromPairs. Docs in no pair
    // keep themselves via the LEFT JOIN + coalesce.
    "ext_triplets" ->
      ("""WITH """ + GramPairCtesSql + """,
        |r AS (
        |  SELECT id_a AS anchor, id_b AS positive,
        |    coalesce(lead(id_b) OVER (ORDER BY id_a, id_b),
        |      first_value(id_b) OVER (ORDER BY id_a, id_b
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |      AS negative
        |  FROM p),
        |e AS (SELECT id_a AS e_a, id_b AS e_b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p)
        |SELECT anchor, positive, negative FROM r
        |WHERE negative != anchor AND negative != positive
        |  AND NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.e_a = r.anchor AND e.e_b = r.negative)
        |ORDER BY anchor, positive""").stripMargin,

    "ext_pagerank" -> PageRankSql,
    "ext_corpus_components" -> CorpusComponentsSql,
    "ext_corpus_components_dist" -> CorpusComponentsSql,

    // components as above, then the per-cluster argmax: longest member,
    // ties to the min id (the row_number ordering restates Spark's
    // max(struct(score, -id)) exactly)
    "ext_dedup_keep_best" ->
      ("""WITH RECURSIVE """ + GramPairCtesSql + """,
        |e AS (SELECT id_a AS id, id_b AS nbr FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id),
        |lab AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        |full_lab AS (
        |  SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
        |  WHERE d.doc_id < 500),
        |ranked AS (
        |  SELECT canonical_id, doc_id AS rep_id,
        |    row_number() OVER (PARTITION BY canonical_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM full_lab)
        |SELECT f.doc_id, f.canonical_id, b.rep_id
        |FROM full_lab f JOIN ranked b
        |  ON f.canonical_id = b.canonical_id AND b.rn = 1
        |ORDER BY f.doc_id""").stripMargin,

    "ext_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    list_distinct([substr(text, i, 3)
        |      for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        |  FROM documents WHERE doc_id < 50)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  round(len(list_intersect(x.grams, y.grams))
        |    / greatest(len(list_distinct(x.grams || y.grams)), 1), 6) AS jaccard
        |FROM g x, g y WHERE x.doc_id < y.doc_id
        |ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,

    // exact-cosine pair graph over the planted corpus + recursive-CTE
    // components (min reachable id) — the embedding-side analog of
    // ext_corpus_components' oracle
    "ext_semantic_dedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id,
        |  [v[i] + ((vec_id*31 + i*7) % 11 - 5) * 0.003
        |    for i in range(1, len(v) + 1)] AS pv
        |  FROM base),
        |c AS (SELECT vec_id, v FROM base
        |      UNION ALL SELECT vec_id + 10000, pv FROM planted),
        |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM c x, c y WHERE x.vec_id < y.vec_id
        |    AND list_dot_product(x.v, y.v)
        |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.99),
        |e AS (SELECT id_a AS id, id_b AS nbr FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id),
        |lab AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id)
        |SELECT c.vec_id, coalesce(l.canonical_id, c.vec_id) AS canonical_id
        |FROM c LEFT JOIN lab l ON c.vec_id = l.id
        |ORDER BY c.vec_id""".stripMargin,

    "ext_embedding_stats" ->
      """WITH n AS (SELECT label, sqrt(list_dot_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) AS n FROM embeddings)
        |SELECT label, count(*) AS cnt,
        |  round(avg(n), 4) AS avg_norm,
        |  round(min(n), 6) AS min_norm,
        |  round(max(n), 6) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "ext_embedding_drift" ->
      """WITH t AS (
        |  SELECT CASE WHEN label = 0 THEN 'ref' ELSE 'cur' END AS side,
        |    CAST(o.p AS INTEGER) AS pos,
        |    CAST(embedding[CAST(o.p AS INTEGER) + 1] AS DOUBLE) AS val
        |  FROM embeddings, unnest(range(len(embedding))) AS o(p)
        |  WHERE label IN (0, 1))
        |SELECT pos,
        |  round(avg(val) FILTER (WHERE side = 'ref'), 6) AS mean_ref,
        |  round(avg(val) FILTER (WHERE side = 'cur'), 6) AS mean_cur
        |FROM t GROUP BY pos ORDER BY pos""".stripMargin,

    "ext_bm25_search" -> Bm25SearchSql,
    // the durable index must be score-indistinguishable from the scan
    "ext_bm25_indexed" -> Bm25SearchSql,
    

    "ext_retrieval_metrics" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, len(toks) AS dl, u.term, count(*) AS tf
        |  FROM base, unnest(toks) AS u(term)
        |  WHERE u.term IN ('join', 'filter', 'scan')
        |  GROUP BY 1, 2, 3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS s
        |  FROM tf JOIN dft USING (term) CROSS JOIN c),
        |lst AS (
        |  SELECT doc_id, round(sum(s), 6) AS score
        |  FROM sc GROUP BY doc_id
        |  ORDER BY score DESC, doc_id ASC LIMIT 25),
        |rk AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM lst),
        |rel AS (SELECT DISTINCT doc_id FROM documents
        |  WHERE contains(text, 'join') AND contains(text, 'filter')
        |    AND contains(text, 'scan')),
        |hits AS (
        |  SELECT rk.rank FROM rk JOIN rel USING (doc_id) WHERE rk.rank <= 25),
        |idcg AS (
        |  SELECT sum(1.0 / log2(i + 1)) AS v FROM (
        |    SELECT unnest(range(1, least(25, (SELECT count(*) FROM rel))
        |      + 1)) AS i)),
        |agg AS (
        |  SELECT count(*) AS n_hits,
        |    coalesce(min(rank), 0) AS first_rank,
        |    coalesce(sum(1.0 / log2(rank + 1)), 0.0) AS dcg
        |  FROM hits)
        |SELECT CAST(n_hits AS BIGINT) AS n_hits,
        |  round(n_hits / (SELECT count(*) FROM rel), 6) AS recall_at_k,
        |  CASE WHEN first_rank > 0 THEN round(1.0 / first_rank, 6)
        |    ELSE 0.0 END AS mrr,
        |  round(dcg / (SELECT v FROM idcg), 6) AS ndcg_at_k
        |FROM agg""".stripMargin,

    "ext_hybrid_rrf" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, len(toks) AS dl, u.term, count(*) AS tf
        |  FROM base, unnest(toks) AS u(term)
        |  WHERE u.term IN ('join', 'filter', 'scan')
        |  GROUP BY 1, 2, 3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (c.n - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS s
        |  FROM tf JOIN dft USING (term) CROSS JOIN c),
        |bm AS (SELECT doc_id, round(sum(s), 6) AS score FROM sc
        |       GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 25),
        |bmr AS (SELECT doc_id, row_number() OVER (
        |          ORDER BY score DESC, doc_id ASC) AS rank FROM bm),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cs AS (SELECT e.vec_id AS doc_id,
        |         round(list_dot_product(e.v, q.qv)
        |           / (sqrt(list_dot_product(e.v, e.v))
        |              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
        |       FROM e, q ORDER BY score DESC, doc_id ASC LIMIT 25),
        |csr AS (SELECT doc_id, row_number() OVER (
        |          ORDER BY score DESC, doc_id ASC) AS rank FROM cs),
        |u AS (SELECT * FROM bmr UNION ALL SELECT * FROM csr)
        |SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
        |  count(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,

    "ext_length_histogram" ->
      """SELECT source,
        |  CAST(floor(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
        |  count(*) AS cnt, round(avg(length(text)), 2) AS avg_len
        |FROM documents GROUP BY source, len_bucket
        |ORDER BY source, len_bucket""".stripMargin,

    "ext_sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 2) < '33'
        |ORDER BY doc_id""".stripMargin,

    "ext_bpe_wordhist" ->
      """WITH w AS (
        |  SELECT u.word
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |        FROM documents) t,
        |  unnest(t.ws) AS u(word))
        |SELECT word, count(*) AS cnt FROM w
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 60""".stripMargin,

    // the frozen-vocab Viterbi, restated by brute force: every cut mask
    // of every distinct word, scored against the same literal piece
    // table (all log-probs binary fractions → exact sums), winner =
    // max score with the longest-last-piece tie-break (reversed
    // piece-length list, descending). See the query's comment.
    "ext_unigram_pieces_frozen" ->
      ("""WITH vocab(piece, lp) AS (VALUES """ +
        ("abcdefghiklmnopqrstuvwy".map(c => s"('$c', -3.0)") ++
          Seq("('er', -2.25)", "('in', -2.0)", "('st', -2.25)",
            "('ream', -2.5)", "('ta', -2.5)", "('ble', -2.75)",
            "('cus', -2.5)", "('tomer', -2.75)", "('win', -2.25)",
            "('dow', -2.5)", "('sort', -4.0)", "('dat', -2.0)",
            "('da', -2.5)")).mkString(", ") + """),
        |docs AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(coalesce(text,'')),'[a-z0-9]+') AS ws
        |  FROM documents),
        |occ AS (SELECT doc_id, u.word FROM docs, unnest(docs.ws) AS u(word)),
        |words AS (SELECT DISTINCT word FROM occ),
        |segs AS (
        |  SELECT word, m,
        |    [0] || [i for i in range(1, length(word))
        |            if (m >> (i-1)) & 1 = 1] || [length(word)] AS bnd
        |  FROM words,
        |    unnest(range(0, 1 << greatest(length(word) - 1, 0))) r(m)),
        |pc AS (
        |  SELECT word, m,
        |    [substr(word, bnd[k]+1, bnd[k+1]-bnd[k])
        |     for k in range(1, len(bnd))] AS ps
        |  FROM segs),
        |ex AS (
        |  SELECT word, m, k, ps[CAST(k AS INT)] AS p
        |  FROM pc, unnest(range(1, len(ps)+1)) rk(k)),
        |sc AS (
        |  SELECT e.word, e.m, count(*) AS npieces,
        |    bool_and(v.lp IS NOT NULL OR length(e.p) = 1) AS valid,
        |    sum(coalesce(v.lp, -8.0)) AS score,
        |    list(length(e.p) ORDER BY e.k DESC) AS revlens
        |  FROM ex e LEFT JOIN vocab v ON e.p = v.piece
        |  GROUP BY e.word, e.m),
        |best AS (
        |  SELECT word, npieces FROM (
        |    SELECT word, npieces, row_number() OVER (
        |      PARTITION BY word ORDER BY score DESC, revlens DESC) AS rn
        |    FROM sc WHERE valid) WHERE rn = 1),
        |agg AS (
        |  SELECT o.doc_id, count(*) AS words, sum(b.npieces) AS toks
        |  FROM occ o JOIN best b USING (word) GROUP BY o.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.toks, 0) AS BIGINT) AS unigram_tokens,
        |  CAST(coalesce(a.words, 0) AS BIGINT) AS words
        |FROM docs d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""").stripMargin,

    "ext_bigram_vocab" ->
      """WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |         ELSE [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        |         END AS grams
        |  FROM t)
        |SELECT u.gram, count(*) AS cnt
        |FROM g, unnest(g.grams) AS u(gram)
        |GROUP BY u.gram ORDER BY cnt DESC, u.gram ASC LIMIT 50""".stripMargin,

    "ext_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  'fake/rgb8' AS format,
        |  CAST(n_chars % 64 + 1 AS INTEGER) AS width,
        |  CAST(n_chars % 48 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the dHash replayed bit for bit: the fake payload is the UTF-8
    // text (pure ASCII corpus — char index == byte index), the 9×8
    // grid is integer arithmetic, and the signed 64-bit pack is
    // assembled from two 32-bit halves (DuckDB BIGINT << 63 overflows;
    // the CASE re-creates two's complement exactly)
    "ext_image_dhash" ->
      ("WITH " + dHashCtesSql("") + """
        |SELECT doc_id, dhash FROM hashes ORDER BY doc_id""").stripMargin,

    // all-pairs ground truth over the bounded universe: hash equality
    // proves the chunk blocking loses no pair at <= 10 bits
    "ext_image_neardup" ->
      ("WITH " + dHashCtesSql("WHERE doc_id < 300") + """
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
        |FROM hashes x, hashes y WHERE x.doc_id < y.doc_id
        |  AND bit_count(xor(x.dhash, y.dhash)) <= 10
        |ORDER BY id_a, id_b""").stripMargin,

    // identical all-pairs truth as ext_image_neardup: the two-ingest
    // store run must reproduce it exactly (precision AND recall)
    "ext_image_incr" ->
      ("WITH " + dHashCtesSql("WHERE doc_id < 300") + """
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
        |FROM hashes x, hashes y WHERE x.doc_id < y.doc_id
        |  AND bit_count(xor(x.dhash, y.dhash)) <= 10
        |ORDER BY id_a, id_b""").stripMargin,

    // planted truth: copy k+100 of original k for k < 10, nothing else
    // may pair (unique tones) — closed-form, implementation-free
    "ext_audio_dedup_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 10)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    // planted truth: each FLAC master pairs exactly with its WAV rip
    "ext_audio_flac_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 6)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    "ext_audio_mp3_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 6)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    "ext_audio_vorbis_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 6)) AS t(k)
        |UNION ALL
        |SELECT CAST(k AS BIGINT), CAST(k + 144 AS BIGINT)
        |FROM UNNEST(range(6, 9)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    // closed-form provenance: the same doc_id-derived fields through
    // all three containers, nulls for the untagged payload
    "ext_audio_tags" ->
      """WITH ids AS (
        |  SELECT k AS doc_id FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 100 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 200 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 300 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 400 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 500 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 600 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 700 FROM UNNEST(range(0, 12)) AS t(k)
        |  UNION ALL SELECT k + 800 FROM UNNEST(range(0, 12)) AS t(k))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'artist_' || (doc_id % 7) AS artist,
        |  'track_' || (doc_id % 5) AS title,
        |  'album_' || (doc_id % 3) AS album,
        |  CAST(1990 + doc_id % 30 AS INTEGER) AS year,
        |  doc_id % 4 = 0 AS has_cover
        |FROM ids
        |UNION ALL SELECT 999, NULL, NULL, NULL, NULL, false
        |ORDER BY doc_id""".stripMargin,

    // closed-form planted SYLT entries; docs 998 (USLT only) and
    // 999 contribute nothing
    "ext_audio_synced_lyrics" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(j AS INT) AS idx,
        |  CAST(start_ms AS BIGINT) AS start_ms, text
        |FROM (
        |  SELECT d AS doc_id, j, 4000*j + 100*d AS start_ms,
        |    'sl_' || d || '_' || j AS text
        |  FROM UNNEST(range(0, 4)) AS t(d), UNNEST(range(0, 3)) AS u(j)
        |  UNION ALL SELECT 4, 0, 1500, 'sl_4_0'
        |  UNION ALL SELECT 4, 1, 3000, 'sl_4_1')
        |ORDER BY doc_id, idx""".stripMargin,

    // closed-form planted lyrics across the six carriers; the
    // lyricless docs 998/999 contribute nothing
    "ext_audio_lyrics" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  'ly_' || doc_id || ' line0' || chr(10) ||
        |    'ly_' || doc_id || ' line1' AS lyrics
        |FROM (SELECT UNNEST([0, 1, 2, 3, 4, 100, 101, 102,
        |  200, 201, 202, 300, 301, 302, 400, 401, 500, 501])
        |  AS doc_id)
        |ORDER BY doc_id""".stripMargin,

    // planted side-info truth: 8/8, 0/8, 5/8 hand-rolled streams; the
    // graft-encoded streams cover every frame (2304 -> 2, 3456 -> 3
    // frames at 1152 samples/frame); the WAV row contributes nothing
    "ext_audio_mp3_coverage" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(t AS INTEGER) AS frames_total,
        |  CAST(d AS INTEGER) AS frames_decodable,
        |  CAST(f AS DOUBLE) AS decodable_fraction
        |FROM (VALUES (0, 8, 8, 1.0), (1, 8, 0, 0.0), (2, 8, 5, 0.625),
        |             (10, 2, 2, 1.0), (11, 3, 3, 1.0))
        |  AS v(doc_id, t, d, f)
        |ORDER BY doc_id""".stripMargin,

    // planted truth: artwork k pairs with exactly its four carriers
    // (MP3 APIC, FLAC PICTURE, Ogg base64 picture, M4A covr)
    // closed-form provenance; the Info-less doc 999 contributes nothing
    "ext_pdf_info" ->
      """SELECT CAST(k AS BIGINT) AS doc_id,
        |  'title_' || (k % 5) AS title,
        |  'author_' || (k % 3) AS author,
        |  CAST(1990 + k AS INTEGER) AS year
        |FROM UNNEST(range(0, 8)) AS t(k) ORDER BY doc_id""".stripMargin,

    // closed-form page texts; the non-PDF doc 999 contributes nothing
    "ext_pdf_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(page AS INT) AS page,
        |  text, CAST(0 AS BIGINT) AS refused
        |FROM (
        |  SELECT k AS doc_id, p AS page,
        |    'pdf_' || k || '_p' || p || '_l0' || chr(10) ||
        |    'pdf_' || k || '_p' || p || '_l1' AS text
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(p)
        |  WHERE p < 1 + k % 3
        |  UNION ALL SELECT 10, 0,
        |    'kern_a gap_a' || chr(10) || 'kern_b gap_b'
        |  UNION ALL SELECT 11, 0, 'café_11 — naïve'
        |  UNION ALL SELECT 12, 0, 'upper_12 mix'
        |  UNION ALL SELECT 13, 0, 'composite thirteen' || chr(10) ||
        |    'two byte'
        |  UNION ALL SELECT 14, 0, 'packed fourteen'
        |  UNION ALL SELECT 14, 1, 'page two'
        |  UNION ALL SELECT 15, 0, 'pred_15 up' || chr(10) || 'row two'
        |  UNION ALL SELECT 16, 0, 'lzw_16 body' || chr(10) || 'lzw line'
        |  UNION ALL SELECT 17, 0, 'tiff_17 text')
        |ORDER BY doc_id, page""".stripMargin,

    // hand-derived rollup literals: pdf = 4 clean docs x (22+10)
    // chars + the 8-char unmapped-bytes doc (refused 2) + the empty
    // /DCTDecode doc (refused 1) over 10 page rows; html = 4 docs x
    // 22 chars, one literal unknown entity each; the fractions are
    // refused per million chars, round 6
    "ext_text_fidelity_card" ->
      """SELECT metric, CAST(value AS DOUBLE) AS value FROM (VALUES
        |  ('html_chars', 88.0), ('html_docs', 4.0),
        |  ('html_refused', 4.0),
        |  ('html_refused_per_mchar', 45454.545455),
        |  ('html_rows', 4.0),
        |  ('pdf_text_chars', 136.0), ('pdf_text_docs', 6.0),
        |  ('pdf_text_refused', 3.0),
        |  ('pdf_text_refused_per_mchar', 22058.823529),
        |  ('pdf_text_rows', 10.0)) AS t(metric, value)
        |ORDER BY metric""".stripMargin,

    // closed-form planted pages; the non-HTML doc 999 contributes
    // nothing, unknown entities stay literal and count into refused
    "ext_html_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, title, text,
        |  CAST(refused AS BIGINT) AS refused
        |FROM (
        |  SELECT k AS doc_id, 'title_' || k AS title,
        |    'head_' || k || chr(10) || 'para_' || k || ' one' ||
        |      chr(10) || 'para_' || k || ' two' AS text,
        |    0 AS refused
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL SELECT 10, NULL, '& AB x y &eacute;', 1
        |  UNION ALL SELECT 11, NULL, 'café — naïve', 0
        |  UNION ALL SELECT 12, NULL, 'a bold and ital.', 0
        |  UNION ALL SELECT 13, NULL,
        |    'li_0' || chr(10) || 'li_1' || chr(10) || 'c1 c2', 0
        |  UNION ALL SELECT 14, 'wide_14', 'wide body', 0)
        |ORDER BY doc_id""".stripMargin,

    // closed-form planted documents; the plain-zip archive (900) and
    // the non-zip payload (999) contribute nothing
    "ext_office_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, kind, title, author,
        |  CAST(year AS INT) AS year, text, CAST(0 AS BIGINT) AS refused
        |FROM (
        |  SELECT k AS doc_id, 'docx' AS kind, 'dt_' || k AS title,
        |    'da_' || (k % 2) AS author, 2000 + k AS year,
        |    'docx_' || k || '_p0 body' || chr(10) ||
        |      'docx_' || k || '_p1 body' AS text
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL
        |  SELECT 100 + k, 'epub', 'et_' || k, 'ea_' || (k % 3),
        |    2010 + k,
        |    'ch_' || k || '_0' || chr(10) ||
        |    'ep_' || k || '_0 one' || chr(10) ||
        |    'ep_' || k || '_0 two' || chr(10) ||
        |    'ch_' || k || '_1' || chr(10) ||
        |    'ep_' || k || '_1 one' || chr(10) ||
        |    'ep_' || k || '_1 two'
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL
        |  SELECT 200 + k, 'odt', 'ot_' || k, 'oa_' || (k % 2),
        |    2020 + k,
        |    'odt_' || k || '_p0 body' || chr(10) ||
        |      'odt_' || k || '_p1 body'
        |  FROM UNNEST(range(0, 4)) AS t(k))
        |ORDER BY doc_id""".stripMargin,

    // closed-form planted rtf documents; doc 999 contributes nothing
    "ext_rtf_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, title, author,
        |  CAST(year AS INT) AS year, text
        |FROM (
        |  SELECT k AS doc_id, 'rt_' || k AS title,
        |    'ra_' || (k % 2) AS author, 1995 + k AS year,
        |    'rtf_' || k || '_p0 body' || chr(10) ||
        |      'rtf_' || k || '_p1 body' AS text
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL SELECT 4, 'rt_4', NULL, NULL,
        |    'café σ dash — end')
        |ORDER BY doc_id""".stripMargin,

    // closed-form planted xml documents; the DTD entity stays
    // literal with refused = 1; doc 999 contributes nothing
    "ext_xml_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, root, text,
        |  CAST(refused AS BIGINT) AS refused
        |FROM (
        |  SELECT k AS doc_id, 'art' AS root,
        |    'xt_' || k || chr(10) || 'xml_' || k || ' one' || chr(10) ||
        |      'xml_' || k || ' two & &dtdent;' AS text, 1 AS refused
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL SELECT 10, 'd', 'café xml touché', 0)
        |ORDER BY doc_id""".stripMargin,

    // closed-form planted tar members; the binary member (idx 1 in
    // archive order) and the non-tar payload contribute nothing —
    // member_idx counts REGULAR FILES in archive order, so the
    // surviving docs sit at 0, 2, 3, 4
    "ext_tar_docs" ->
      """SELECT CAST(k AS BIGINT) AS doc_id, CAST(m AS INT) AS member_idx,
        |  CASE m
        |    WHEN 0 THEN 'site/p' || k || '_0.html'
        |    WHEN 2 THEN 'site/p' || k || '_1.html'
        |    WHEN 3 THEN 'gz/p' || k || '_2.html.gz'
        |    ELSE 'deep/' || repeat('d', 110) || '/long_' || k || '.rtf'
        |  END AS name,
        |  CASE m
        |    WHEN 0 THEN 'tar_' || k || '_0 text'
        |    WHEN 2 THEN 'tar_' || k || '_1 text'
        |    WHEN 3 THEN 'tar_' || k || '_2 gzipped'
        |    ELSE 'tar_' || k || '_rtf body'
        |  END AS text,
        |  CAST(0 AS BIGINT) AS refused
        |FROM UNNEST(range(0, 4)) AS t(k),
        |     UNNEST([0, 2, 3, 4]) AS u(m)
        |ORDER BY doc_id, member_idx""".stripMargin,

    // the zip analog of ext_tar_docs: member_idx counts every member
    // (the binary blob at 1 yields no row); the nested DOCX member
    // extracts through the document dispatch
    "ext_zip_docs" ->
      """SELECT CAST(k AS BIGINT) AS doc_id, CAST(m AS INT) AS member_idx,
        |  CASE m
        |    WHEN 0 THEN 'site/a_' || k || '.html'
        |    WHEN 2 THEN 'site/b_' || k || '.html'
        |    WHEN 3 THEN 'docs/r_' || k || '.docx'
        |    ELSE 'gz/c_' || k || '.html.gz'
        |  END AS name,
        |  CASE m
        |    WHEN 0 THEN 'zip_' || k || '_0 text'
        |    WHEN 2 THEN 'zip_' || k || '_1 text'
        |    WHEN 3 THEN 'zip_' || k || '_docx body'
        |    ELSE 'zip_' || k || '_2 gzipped'
        |  END AS text,
        |  CAST(0 AS BIGINT) AS refused
        |FROM UNNEST(range(0, 4)) AS t(k),
        |     UNNEST([0, 2, 3, 4]) AS u(m)
        |ORDER BY doc_id, member_idx""".stripMargin,

    // the hand-derived allowed set: h0 rows where the path class is
    // pub (0) or /blk/ok (2), every h2 row, no h1 row
    "ext_robots_filter" ->
      """SELECT CAST(k AS BIGINT) AS id,
        |  'https://h' || (k % 3) || '.ex' ||
        |  CASE (k // 3) % 3
        |    WHEN 0 THEN '/pub/p'
        |    WHEN 1 THEN '/blk/p'
        |    ELSE '/blk/ok/p' END || k AS url
        |FROM UNNEST([0, 2, 5, 6, 8, 9, 11, 14, 15, 17]) AS t(k)
        |ORDER BY id""".stripMargin,

    // the hand-derived frontier: pub paths survive everywhere, blk
    // paths only on the robots-less host f2
    "ext_crawl_frontier" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, loc FROM (
        |  SELECT k AS doc_id,
        |    'https://f' || k || '.ex/pub/p' || j AS loc
        |  FROM UNNEST(range(0, 3)) AS t(k), UNNEST([0, 2]) AS u(j)
        |  UNION ALL
        |  SELECT 2, 'https://f2.ex/blk/p' || j
        |  FROM UNNEST([1, 3]) AS u(j))
        |ORDER BY doc_id, loc""".stripMargin,

    // closed-form planted entries across the three forms; the
    // non-sitemap XML (900) and the prose (999) contribute nothing
    "ext_sitemap_urls" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(j AS INT) AS entry_idx, kind, loc, lastmod,
        |  CAST(year AS INT) AS year, CAST(priority AS DOUBLE) AS priority
        |FROM (
        |  SELECT k AS doc_id, j, 'urlset' AS kind,
        |    'https://s' || k || '.ex/p' || j || '?a=' || j || '&b=' || k
        |      AS loc,
        |    '201' || k || '-0' || (j + 1) || '-15' AS lastmod,
        |    2010 + k AS year, (j + 5) / 10.0 AS priority
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(j)
        |  UNION ALL
        |  SELECT 10, j, 'index', 'https://s.ex/child' || j || '.xml',
        |    '202' || j || '-01-01', 2020 + j, NULL
        |  FROM UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL SELECT 20, 0, 'text', 'https://t.ex/a', NULL, NULL, NULL
        |  UNION ALL SELECT 20, 1, 'text', 'https://t.ex/b', NULL, NULL, NULL)
        |ORDER BY doc_id, entry_idx""".stripMargin,

    // closed-form head metadata; the meta-less page 10 is the
    // all-null row, the non-HTML doc 999 contributes nothing
    "ext_html_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, description, author,
        |  canonical, CAST(published_year AS INT) AS published_year,
        |  og_title
        |FROM (
        |  SELECT k AS doc_id, 'desc_' || k || ' here' AS description,
        |    'auth_' || (k % 2) AS author,
        |    'https://ex.org/p/' || k AS canonical,
        |    2010 + k AS published_year, 'og_' || k AS og_title
        |  FROM UNNEST(range(0, 4)) AS t(k)
        |  UNION ALL SELECT 10, NULL, NULL, NULL, NULL, NULL)
        |ORDER BY doc_id""".stripMargin,

    // the surviving copy of each page: warc 0 wins the shared page
    "ext_crawl_dedup" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'http://a/s', 'shared_page body'),
        |  (0, 'http://a/0', 'unique_0 body'),
        |  (1, 'http://b/1', 'unique_1 body'),
        |  (2, 'http://c/2', 'unique_2 body')) AS t(doc_id, url, text)
        |ORDER BY text""".stripMargin,

    // closed-form planted messages; doc 999 contributes nothing
    "ext_email_text" ->
      """SELECT CAST(k AS BIGINT) AS doc_id, CAST(j AS INT) AS msg_idx,
        |  'u' || k || '_' || j || '@h' AS "from",
        |  'subj_' || k || '_' || j AS subject,
        |  CAST(1990 + k * 3 + j AS INT) AS year,
        |  'mail_' || k || '_' || j || ' body' AS text
        |FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(j)
        |ORDER BY doc_id, msg_idx""".stripMargin,

    // closed-form planted crawl pages: responses at record indices 1
    // and 2 (warcinfo is 0); the 404, the image response, and the
    // non-WARC payload contribute nothing; doc 10 is the PDF response
    "ext_warc_docs" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(rec_idx AS INT) AS rec_idx, url,
        |  CAST(200 AS INT) AS http_status, mime, text,
        |  CAST(0 AS BIGINT) AS refused
        |FROM (
        |  SELECT k AS doc_id, j + 1 AS rec_idx,
        |    'http://site' || k || '/' || j AS url,
        |    'text/html' AS mime,
        |    'crawl_' || k || '_' || j || ' text' AS text
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL SELECT 10, 0, 'http://site/report.pdf',
        |    'application/pdf', 'pdf_in_crawl')
        |ORDER BY doc_id, rec_idx""".stripMargin,

    // closed-form planted cues across the three carriers; the
    // subtitle-less doc 999 contributes nothing
    "ext_video_subtitles" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(j AS INT) AS cue_idx,
        |  CAST(start_ms AS BIGINT) AS start_ms,
        |  CAST(dur_ms AS BIGINT) AS dur_ms, text
        |FROM (
        |  SELECT d AS doc_id, j, 1000*j + d AS start_ms,
        |         500 + j AS dur_ms, 'cue_' || d || '_' || j AS text
        |  FROM UNNEST(range(0, 6)) AS t(d), UNNEST(range(0, 3)) AS u(j)
        |  UNION ALL
        |  SELECT k + 100, j, 60000*j + k*1000, 1500,
        |         'srt_' || k || '_' || j
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL
        |  SELECT k + 200, j, 90000*j + k*2000, 2250,
        |         'vtt_' || k || '_' || j
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL
        |  -- tx3g: contiguous cues, start = prefix sum of durations
        |  -- 1000+100*i+k for i < j  ->  1000*j + 100*j*(j-1)/2 + k*j
        |  SELECT k + 300, j, 1000*j + 100*j*(j-1)/2 + k*j,
        |         1000 + 100*j + k, 'tx3g_' || k || '_' || j
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(j)
        |  UNION ALL
        |  -- S_TEXT/ASS MKV tracks: override block stripped, the text
        |  -- field keeps its own comma, \N becomes a hard line break
        |  SELECT k + 400, j, 2000*j + 10*k, 800 + j,
        |         'ass_' || k || '_' || j || ', x' || chr(10) || 'y'
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL
        |  -- standalone .ass scripts: centisecond timings, {\b1} and
        |  -- the Comment line drop
        |  SELECT k + 500, j, 60000*j + 1000*k + 250, 1500,
        |         'sta_' || k || '_' || j
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 2)) AS u(j)
        |  UNION ALL
        |  -- LRC lyrics files: dur 0, the two-stamp chorus line
        |  -- expands to cues 1 and 2 with the same text
        |  SELECT k + 600, j,
        |    CASE j WHEN 0 THEN 1000*k + 250
        |           WHEN 1 THEN 70500 + 1000*k
        |           ELSE 140750 + 1000*k END,
        |    0,
        |    CASE j WHEN 0 THEN 'lrc_' || k || '_0 line'
        |           ELSE 'lrc_' || k || '_1 chorus' END
        |  FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(j))
        |ORDER BY doc_id, cue_idx""".stripMargin,

    "ext_audio_cover_pairs" ->
      """SELECT CAST(k AS BIGINT) AS image_id,
        |       CAST(k + o AS BIGINT) AS audio_id
        |FROM UNNEST(range(0, 6)) AS t(k),
        |     UNNEST([100, 200, 300, 400, 500]) AS u(o)
        |ORDER BY image_id, audio_id""".stripMargin,

    "ext_audio_incr" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 10)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    // per payload k: progressive original (k), faststart-reversed
    // remux (100+k, k<6), fragmented DASH remux (400+k, k<4) — the
    // shared-fp group expands to all pairs; WebM rewraps pair 200/300
    "ext_video_remux_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b
        |FROM UNNEST(range(0, 6)) AS t(k)
        |UNION ALL
        |SELECT CAST(k AS BIGINT), CAST(k + 400 AS BIGINT)
        |FROM UNNEST(range(0, 4)) AS t(k)
        |UNION ALL
        |SELECT CAST(k + 100 AS BIGINT), CAST(k + 400 AS BIGINT)
        |FROM UNNEST(range(0, 4)) AS t(k)
        |UNION ALL
        |SELECT CAST(k + 200 AS BIGINT), CAST(k + 300 AS BIGINT)
        |FROM UNNEST(range(0, 4)) AS t(k) ORDER BY id_a, id_b""".stripMargin,

    "ext_audio_search" ->
      """SELECT CAST(k + 500 AS BIGINT) AS q_id, CAST(k AS BIGINT) AS doc_id
        |FROM UNNEST(range(0, 10)) AS t(k) ORDER BY q_id""".stripMargin,

    "ext_audio_search_indexed" ->
      """SELECT CAST(k + 500 AS BIGINT) AS q_id, CAST(k AS BIGINT) AS doc_id
        |FROM UNNEST(range(0, 10)) AS t(k) ORDER BY q_id""".stripMargin,

    "ext_image_index_oriented" ->
      """SELECT * FROM (VALUES
        |  (CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
        |  (3, 5000),
        |  (7, 7),
        |  (7, 5001)) AS t(q_id, doc_id)
        |ORDER BY q_id, doc_id""".stripMargin,

    "ext_image_gif_anim_pairs" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(100 AS BIGINT), CAST(4 AS BIGINT)),
        |  (2, 102, 4)) AS t(id_a, id_b, shared)
        |ORDER BY id_a, id_b""".stripMargin,

    "ext_image_gif_anim" ->
      """SELECT CAST(k AS BIGINT) AS doc_id,
        |  CAST(2 + k % 4 AS INT) AS frames,
        |  CAST(SUM(4 + (k * 5 + f) % 11) AS BIGINT) AS duration_cs
        |FROM UNNEST(range(0, 8)) AS t(k),
        |  LATERAL UNNEST(range(0, 2 + k % 4)) AS u(f)
        |GROUP BY k
        |UNION ALL
        |SELECT 99, 1, 0
        |ORDER BY doc_id""".stripMargin,

    // the cross-container animation surface: exact container integers
    // folded to milliseconds per the documented conventions (GIF
    // centiseconds × 10, APNG num·1000/den at den=100, WebP ANMF ms)
    "ext_image_anim" ->
      """SELECT CAST(k AS BIGINT) AS doc_id, 'gif' AS container,
        |  CAST(2 + k % 3 AS INT) AS frames,
        |  CAST(SUM(4 + (k * 5 + f) % 11) * 10 AS BIGINT) AS duration_ms
        |FROM UNNEST(range(0, 4)) AS t(k),
        |  LATERAL UNNEST(range(0, 2 + k % 3)) AS u(f)
        |GROUP BY k
        |UNION ALL
        |SELECT CAST(k + 100 AS BIGINT), 'apng', CAST(2 + k % 3 AS INT),
        |  CAST(SUM(2 + (k + f) % 5) * 10 AS BIGINT)
        |FROM UNNEST(range(0, 4)) AS t(k),
        |  LATERAL UNNEST(range(0, 2 + k % 3)) AS u(f)
        |GROUP BY k
        |UNION ALL
        |SELECT CAST(k + 200 AS BIGINT), 'webp', CAST(2 + k % 3 AS INT),
        |  CAST(SUM(7 + (k * 3 + f) % 13) AS BIGINT)
        |FROM UNNEST(range(0, 4)) AS t(k),
        |  LATERAL UNNEST(range(0, 2 + k % 3)) AS u(f)
        |GROUP BY k
        |UNION ALL
        |SELECT 900, 'gif', 1, 0
        |ORDER BY doc_id""".stripMargin,

    // planted truth: the store surfaces exactly cut-with-original
    // (shared = the 4 post-intro frames) across the two ingests
    "ext_image_anim_incr" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(100 AS BIGINT), CAST(4 AS BIGINT)),
        |  (2, 102, 4)) AS t(id_a, id_b, shared)
        |ORDER BY id_a, id_b""".stripMargin,

    // planted truth: each animation's {gif full, apng cut, webp cut}
    // triple pairs pairwise at the 4 shared post-intro frames
    "ext_image_anim_pairs" ->
      """SELECT CAST(k AS BIGINT) AS id_a, CAST(k + 100 AS BIGINT) AS id_b,
        |  CAST(4 AS BIGINT) AS shared
        |FROM UNNEST(range(0, 3)) AS t(k)
        |UNION ALL
        |SELECT CAST(k AS BIGINT), CAST(k + 200 AS BIGINT), 4
        |FROM UNNEST(range(0, 3)) AS t(k)
        |UNION ALL
        |SELECT CAST(k + 100 AS BIGINT), CAST(k + 200 AS BIGINT), 4
        |FROM UNNEST(range(0, 3)) AS t(k)
        |ORDER BY id_a, id_b""".stripMargin,

    // one plane per doc from the closed-form formula; the SAME hash
    // emitted for all six TIFF encodings of it
    "ext_image_px_tiff" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 9 + (k*5)%10 AS w,
        |         6 + (k*3)%8 AS h
        |  FROM UNNEST(range(0, 10)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    (((x.x // 4) * 23 + y.y * 11 + doc_id * 41) * 3) % 251 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
        |hashes AS (
        |  SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
        |  FROM halves)
        |SELECT doc_id, v.variant, dhash
        |FROM hashes,
        |  (VALUES ('be_rgb'), ('gray'), ('inv'), ('pal'), ('pb'),
        |          ('strips')) AS v(variant)
        |ORDER BY doc_id, variant""".stripMargin,

    // closed-form EXIF fields per doc — the same formulas through the
    // JPEG APP1 (doc k), PNG eXIf (doc 200+k), and WebP EXIF chunk
    // (doc 300+k) envelopes — plus one null row for the EXIF-less JPEG
    "ext_image_exif" ->
      """WITH fields AS (
        |  SELECT k,
        |    CAST(1 + k % 8 AS INT) AS orientation,
        |    'maker' || CAST(k % 5 AS VARCHAR) AS make,
        |    printf('cam_%02d', k * 7 % 30) AS model,
        |    printf('2021:%02d:15 0%d:30:00', k % 12 + 1, k % 9) AS taken_at,
        |    CASE WHEN k % 3 = 2 THEN NULL ELSE
        |      round((CASE WHEN k % 2 = 0 THEN 1 ELSE -1 END) *
        |        (10 + k + (k * 5 % 60) / 60.0 + (k * 7 % 60) / 3600.0), 6)
        |    END AS lat,
        |    CASE WHEN k % 3 = 2 THEN NULL ELSE
        |      round((CASE WHEN k % 3 = 0 THEN 1 ELSE -1 END) *
        |        (100 + k + (k * 11 % 60) / 60.0 + (k * 13 % 60) / 3600.0), 6)
        |    END AS lon
        |  FROM UNNEST(range(0, 12)) AS t(k))
        |SELECT CAST(k AS BIGINT) AS doc_id, orientation, make, model,
        |  taken_at, lat, lon FROM fields
        |UNION ALL
        |SELECT CAST(k + 200 AS BIGINT), orientation, make, model,
        |  taken_at, lat, lon FROM fields WHERE k < 6
        |UNION ALL
        |SELECT CAST(k + 300 AS BIGINT), orientation, make, model,
        |  taken_at, lat, lon FROM fields WHERE k < 6
        |UNION ALL
        |SELECT 99, NULL, NULL, NULL, NULL, NULL, NULL
        |ORDER BY doc_id""".stripMargin,

    // the dispatch table's closed-form census: distinct planted counts
    // per (format, regime) class
    "ext_decode_census_all" ->
      """SELECT * FROM (VALUES
        |  ('application/junk', 'byte-stats', CAST(9 AS BIGINT)),
        |  ('application/gzip', 'byte-stats', 34),
        |  ('gzip:text/html', 'text', 33),
        |  ('application/docx', 'text', 27),
        |  ('application/epub+zip', 'text', 28),
        |  ('application/rtf', 'text', 31),
        |  ('message/rfc822', 'text', 32),
        |  ('application/warc', 'container', 30),
        |  ('application/x-tar', 'container', 35),
        |  ('application/xml', 'text', 36),
        |  ('application/vnd.oasis.opendocument.text', 'text', 37),
        |  ('application/zip', 'container', 29),
        |  ('application/pdf', 'byte-stats', 25),
        |  ('application/pdf', 'text', 24),
        |  ('audio/aiff', 'container', 21),
        |  ('audio/aiff', 'pcm', 19),
        |  ('audio/basic', 'pcm', 20),
        |  ('audio/flac', 'lossless', 3),
        |  ('audio/ogg-flac', 'lossless', 22),
        |  ('audio/mpeg', 'container', 13),
        |  ('audio/mpeg', 'pcm', 4),
        |  ('audio/ogg-opus', 'container', 6),
        |  ('audio/ogg-vorbis', 'container', 5),
        |  ('audio/ogg-vorbis', 'pcm', 41),
        |  ('audio/wav', 'pcm', 2),
        |  ('audio/wav-mp3', 'pcm', 12),
        |  ('image/avif', 'container', 14),
        |  ('image/avif-seq', 'container', 15),
        |  ('image/bmp', 'pixels', 5),
        |  ('image/gif', 'pixels', 4),
        |  ('image/heic', 'container', 16),
        |  ('image/heif', 'container', 17),
        |  ('image/jpeg', 'pixels', 3),
        |  ('image/png', 'pixels', 2),
        |  ('image/tiff', 'pixels', 6),
        |  ('image/webp', 'container', 1),
        |  ('image/webp', 'pixels', 8),
        |  ('image/x-icon', 'pixels', 7),
        |  ('text/html', 'text', 26),
        |  ('video/mp4', 'container', 7),
        |  ('video/webm', 'container', 10),
        |  ('video/x-matroska', 'container', 11)) AS t(format, kind, cnt)
        |ORDER BY format, kind""".stripMargin,

    // closed-form planted chunks; docs 8 (text-less PNG) and 9
    // (non-PNG) contribute nothing
    "ext_image_pngtext" ->
      """SELECT CAST(k AS BIGINT) AS doc_id, CAST(j AS INT) AS chunk_idx,
        |  CASE j WHEN 0 THEN 'Software' WHEN 1 THEN 'parameters'
        |         ELSE 'Comment' END AS keyword,
        |  CASE j WHEN 1 THEN 'en' END AS lang,
        |  j >= 1 AS compressed,
        |  CASE j WHEN 0 THEN 'gen_' || k || ' v1.' || k
        |         WHEN 1 THEN 'prompt_' || k || ' seed ' || (k * 7)
        |         ELSE 'note_' || k END AS text
        |FROM UNNEST(range(0, 4)) AS t(k), UNNEST(range(0, 3)) AS u(j)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // planted truth: each re-crawl probe's top-1 is its source at
    // Hamming 0; the never-seen probe (q_id 900) contributes no row
    "ext_text_index_search" ->
      """SELECT CAST(k + 500 AS BIGINT) AS q_id, CAST(k AS BIGINT) AS doc_id,
        |       CAST(0 AS INT) AS hamming
        |FROM UNNEST(range(0, 8)) AS t(k) ORDER BY q_id""".stripMargin,

    // pixel-regime hash replay WITHOUT the bytes: the oracle regenerates
    // each synthesized plane from the closed-form formula the Spark side
    // ENCODED into real deflate/filtered PNGs, then replays the 9x8
    // area-mean grid with integer cross-multiplication — Spark's
    // inflate+unfilter must reproduce every pixel or a bit flips
    "ext_image_dhash_px" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 5 + (k*7)%14 AS w,
        |         4 + (k*5)%11 AS h
        |  FROM UNNEST(range(0, 40)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    ((x.x*13 + y.y*7 + doc_id*29 + (x.x*y.y)%5) * 3) % 251 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id)
        |SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |    THEN (hi - 4294967296) * 4294967296 + lo
        |    ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash,
        |  'pixels' AS kind
        |FROM halves ORDER BY doc_id""".stripMargin,

    // one plane per doc from the closed-form 16-level formula; the
    // SAME hash emitted for all three encodings of it
    "ext_image_px_variants" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 9 + (k*3)%10 AS w,
        |         6 + (k*2)%7 AS h
        |  FROM UNNEST(range(0, 15)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    ((x.x*7 + y.y*11 + doc_id*13) % 16) * 17 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
        |hashes AS (
        |  SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
        |  FROM halves)
        |SELECT doc_id, v.variant, dhash
        |FROM hashes, (VALUES ('gray4'), ('pal8'), ('rgb')) AS v(variant)
        |ORDER BY doc_id, variant""".stripMargin,

    // one plane per doc from the canonical closed-form formula; the
    // SAME hash emitted for all four deep/progressive encodings of it
    "ext_image_px_deep" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 8 + (k*5)%12 AS w,
        |         5 + (k*3)%9 AS h
        |  FROM UNNEST(range(0, 12)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    ((x.x*13 + y.y*7 + doc_id*29 + (x.x*y.y)%5) * 3) % 251 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
        |hashes AS (
        |  SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
        |  FROM halves)
        |SELECT doc_id, v.variant, dhash
        |FROM hashes,
        |  (VALUES ('a7deep'), ('adam7'), ('base8'), ('deep16')) AS v(variant)
        |ORDER BY doc_id, variant""".stripMargin,

    // one plane per doc from the canonical closed-form formula; the
    // SAME hash emitted for all five container formats of it
    "ext_image_px_formats" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 7 + (k*3)%12 AS w,
        |         5 + (k*5)%8 AS h
        |  FROM UNNEST(range(0, 10)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    ((x.x*13 + y.y*7 + doc_id*37 + (x.x*y.y)%5) * 3) % 251 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
        |hashes AS (
        |  SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
        |  FROM halves)
        |SELECT doc_id, v.variant, dhash
        |FROM hashes,
        |  (VALUES ('bmp24'), ('bmp8'), ('bmpr'), ('bmpra'), ('gif'),
        |          ('gifi'), ('icob'), ('icop'), ('png8'))
        |  AS v(variant)
        |ORDER BY doc_id, variant""".stripMargin,

    // one plane per doc from the run-friendly closed-form formula; the
    // SAME hash emitted for all eight VP8L encodings of it
    "ext_image_px_webp" ->
      """WITH d AS (
        |  SELECT CAST(k AS BIGINT) AS doc_id, 10 + (k*3)%9 AS w,
        |         6 + (k*5)%7 AS h
        |  FROM UNNEST(range(0, 10)) AS t(k)),
        |cells AS (
        |  SELECT doc_id, w, h, c AS k,
        |    ((c % 9) * w) // 9 AS x0,
        |    greatest((((c % 9) + 1) * w) // 9, ((c % 9) * w) // 9 + 1) AS x1,
        |    ((c // 9) * h) // 8 AS y0,
        |    greatest((((c // 9) + 1) * h) // 8, ((c // 9) * h) // 8 + 1) AS y1
        |  FROM d, UNNEST(range(0, 72)) AS t(c)),
        |px AS (
        |  SELECT doc_id, k, (x1 - x0) * (y1 - y0) AS n,
        |    (((x.x // 5) * 29 + y.y * 13 + doc_id * 37) * 3) % 251 AS v
        |  FROM cells, UNNEST(range(x0, x1)) AS x(x),
        |       UNNEST(range(y0, y1)) AS y(y)),
        |sums AS (
        |  SELECT doc_id, k, any_value(n) AS n, sum(v) AS s
        |  FROM px GROUP BY doc_id, k),
        |bits AS (
        |  SELECT a.doc_id, (a.k // 9) * 8 + (a.k % 9) AS bit
        |  FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8 AND a.s * b.n > b.s * a.n),
        |halves AS (
        |  SELECT d.doc_id,
        |    coalesce(sum(CASE WHEN bit < 32
        |      THEN (1::BIGINT << CAST(bit AS INT)) END), 0) AS lo,
        |    coalesce(sum(CASE WHEN bit >= 32
        |      THEN (1::BIGINT << CAST(bit - 32 AS INT)) END), 0) AS hi
        |  FROM d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id),
        |hashes AS (
        |  SELECT doc_id, CAST(CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS BIGINT) AS dhash
        |  FROM halves)
        |SELECT doc_id, v.variant, dhash
        |FROM hashes,
        |  (VALUES ('cache'), ('cx'), ('flat'), ('lz77'), ('meta'),
        |          ('pal'), ('pred'), ('sg')) AS v(variant)
        |ORDER BY doc_id, variant""".stripMargin,

    // per-probe hamming top-5 by exhaustive rank, lower-id tie-break —
    // exactly GroupedTopK's (score DESC = hamming ASC, id ASC) contract
    "ext_image_topk" ->
      ("WITH " + dHashCtesSql("WHERE doc_id < 300") + """,
        |q AS (SELECT doc_id AS q_id, dhash AS qsh FROM hashes
        |      WHERE doc_id < 8),
        |s AS (SELECT q.q_id, h.doc_id,
        |        CAST(bit_count(xor(h.dhash, q.qsh)) AS INT) AS hamming
        |      FROM hashes h, q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY hamming, doc_id) AS rn FROM s)
        |SELECT q_id, doc_id, hamming FROM r WHERE rn <= 5
        |ORDER BY q_id, hamming, doc_id""").stripMargin,

    // the exhaustive rank RESTRICTED to the index's Hamming bound —
    // pigeonhole blocking must lose nothing inside the bound
    "ext_image_index_topk" ->
      ("WITH " + dHashCtesSql("WHERE doc_id < 300") + """,
        |q AS (SELECT doc_id AS q_id, dhash AS qsh FROM hashes
        |      WHERE doc_id < 8),
        |s AS (SELECT q.q_id, h.doc_id,
        |        CAST(bit_count(xor(h.dhash, q.qsh)) AS INT) AS hamming
        |      FROM hashes h, q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY hamming, doc_id) AS rn FROM s
        |      WHERE hamming <= 7)
        |SELECT q_id, doc_id, hamming FROM r WHERE rn <= 5
        |ORDER BY q_id, hamming, doc_id""").stripMargin,

    // the same min-reachable-id recursive CTE as the text components
    // oracles, driven by the all-pairs dhash graph
    "ext_image_components" ->
      ("WITH RECURSIVE " + dHashCtesSql("WHERE doc_id < 300") + """,
        |p AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM hashes x, hashes y WHERE x.doc_id < y.doc_id
        |    AND bit_count(xor(x.dhash, y.dhash)) <= 10),
        |e AS (SELECT id_a AS id, id_b AS nbr FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id),
        |lab AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |LEFT JOIN lab l ON d.doc_id = l.id
        |ORDER BY doc_id""").stripMargin,

    // the waterfill prefix walk restated with windows in the SAME ratio
    // order: exclusive prefix sums (exact — weights are binary
    // fractions, token counts BIGINT), candidate rate per prefix, the
    // first consistent prefix wins, allocation by the ratio<=r* rule
    "ext_mix_budget" ->
      """WITH g AS (
        |  SELECT lang AS grp,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS t
        |  FROM documents GROUP BY 1),
        |w(grp, wt) AS (VALUES ('de', 0.25), ('en', 0.25), ('es', 0.25),
        |  ('fr', 0.125), ('zh', 0.125)),
        |j AS (SELECT g.grp, t, wt, t / wt AS ratio FROM g JOIN w USING (grp)),
        |o AS (SELECT grp, t, wt, ratio,
        |    row_number() OVER (ORDER BY ratio, grp) AS rn,
        |    coalesce(sum(t) OVER (ORDER BY ratio, grp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumt,
        |    coalesce(sum(wt) OVER (ORDER BY ratio, grp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw,
        |    sum(wt) OVER () AS totw
        |  FROM j),
        |o2 AS (SELECT rn, ratio,
        |    lag(ratio) OVER (ORDER BY rn) AS prev_ratio,
        |    (20000 - cumt) / (totw - cumw) AS rate
        |  FROM o),
        |feas AS (SELECT rate FROM o2
        |  WHERE (prev_ratio IS NULL OR prev_ratio <= rate) AND rate <= ratio
        |  ORDER BY rn LIMIT 1)
        |SELECT j.grp AS lang, j.t AS tokens_available, j.wt AS weight,
        |  round(CASE WHEN j.ratio <= f.rate THEN CAST(j.t AS DOUBLE)
        |             ELSE f.rate * j.wt END, 6) AS allocated,
        |  j.ratio <= f.rate AS saturated
        |FROM j CROSS JOIN feas f ORDER BY lang""".stripMargin,

    // one full Lloyd round restated: seed = 8 lowest-vec_id vectors,
    // argmax-cosine assignment (lowest-cid ties, zero-norm → -2.0
    // sentinel), per-position member sums, empty/zero-sum clusters keep
    // the seed. Dots widen float→double elementwise and accumulate
    // left-to-right in both engines, so the assignment is bit-exact.
    "ext_kmeans_step" ->
      """WITH en AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |seed AS (
        |  SELECT vec_id AS cid, v AS c, n AS cn FROM en
        |  ORDER BY vec_id LIMIT 8),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT en.vec_id, seed.cid, row_number() OVER (
        |      PARTITION BY en.vec_id
        |      ORDER BY (CASE WHEN en.n * seed.cn > 0
        |        THEN list_dot_product(en.v, seed.c) / (en.n * seed.cn)
        |        ELSE -2.0 END) DESC, seed.cid ASC) AS rk
        |    FROM en CROSS JOIN seed) WHERE rk = 1),
        |pos AS (SELECT unnest(generate_series(1, 64)) AS p),
        |sums AS (
        |  SELECT a.cid, pos.p, sum(en.v[pos.p]) AS sx
        |  FROM assign a JOIN en ON a.vec_id = en.vec_id CROSS JOIN pos
        |  GROUP BY 1, 2),
        |live AS (SELECT cid, sqrt(sum(sx * sx)) AS snorm
        |         FROM sums GROUP BY 1)
        |SELECT seed.cid AS cid, CAST(pos.p - 1 AS INTEGER) AS pos,
        |  round(CASE WHEN live.snorm > 0 THEN sums.sx
        |        ELSE seed.c[pos.p] END, 6) AS x
        |FROM seed CROSS JOIN pos
        |LEFT JOIN sums ON sums.cid = seed.cid AND sums.p = pos.p
        |LEFT JOIN live ON live.cid = seed.cid
        |ORDER BY 1, 2""".stripMargin,

    // same seed + argmax CTEs as ext_kmeans_step, counting memberships
    "ext_kmeans_sizes" ->
      """WITH en AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |seed AS (
        |  SELECT vec_id AS cid, v AS c, n AS cn FROM en
        |  ORDER BY vec_id LIMIT 8),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT en.vec_id, seed.cid, row_number() OVER (
        |      PARTITION BY en.vec_id
        |      ORDER BY (CASE WHEN en.n * seed.cn > 0
        |        THEN list_dot_product(en.v, seed.c) / (en.n * seed.cn)
        |        ELSE -2.0 END) DESC, seed.cid ASC) AS rk
        |    FROM en CROSS JOIN seed) WHERE rk = 1)
        |SELECT cid, count(*) AS n_members FROM assign
        |GROUP BY cid ORDER BY cid""".stripMargin,

    // the MP4 fixture is timescale 1000, duration 2000 + (doc_id%10)*500
    // ticks, 1 + doc_id%3 tracks, visual track 320+(doc_id%4)*160 ×
    // 240+(doc_id%4)*120 — the engine must recover exactly these through
    // the ISO-BMFF bytes it wrote
    "ext_video_meta" ->
      """SELECT doc_id, 'video/mp4' AS format, 'container' AS kind,
        |  CAST((2000 + (doc_id % 10) * 500) / 1000.0 AS DOUBLE)
        |    AS duration_sec,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks,
        |  CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
        |  CAST(240 + (doc_id % 4) * 120 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the heifMedia fixture restated: brands cycle on doc_id % 5,
    // geometry/items/frames/duration all closed-form
    "ext_image_heif_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'image/avif'
        |    WHEN 1 THEN 'image/avif-seq' WHEN 2 THEN 'image/heic'
        |    WHEN 3 THEN 'image/heif' ELSE 'image/heif-seq' END AS format,
        |  'container' AS kind,
        |  CAST(16 + (doc_id % 7) * 9 AS INTEGER) AS width,
        |  CAST(12 + (doc_id % 5) * 7 AS INTEGER) AS height,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS items,
        |  CAST(CASE WHEN doc_id % 5 IN (1, 4)
        |    THEN 3 + doc_id % 4 + doc_id % 3 ELSE 0 END AS INTEGER)
        |    AS frames,
        |  CAST(CASE WHEN doc_id % 5 IN (1, 4)
        |    THEN round((100 + (doc_id % 9) * 10) / (50.0 + doc_id % 10), 3)
        |    ELSE 0.0 END AS DOUBLE) AS duration_sec
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every fake payload byte-stats, every synthesized WAV decodes as
    // PCM, every synthesized MP4 parses as a container — one count each
    "ext_media_decode_census" ->
      """SELECT 'media_' || format || '_' || kind AS metric,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM (SELECT doc_id, 'audio/wav' AS format, 'pcm' AS kind
        |        FROM documents
        |      UNION ALL SELECT doc_id, 'fake/rgb8', 'byte-stats'
        |        FROM documents
        |      UNION ALL SELECT doc_id, 'video/mp4', 'container'
        |        FROM documents
        |      UNION ALL SELECT doc_id,
        |        CASE doc_id % 5 WHEN 0 THEN 'image/avif'
        |          WHEN 1 THEN 'image/avif-seq' WHEN 2 THEN 'image/heic'
        |          WHEN 3 THEN 'image/heif' ELSE 'image/heif-seq' END,
        |        'container'
        |        FROM documents)
        |GROUP BY 1 ORDER BY metric""".stripMargin,

    // the WAV fixture is 1000 + (doc_id % 7) * 512 samples at 8 kHz; the
    // engine must recover exactly those counts through the RIFF bytes it
    // wrote, and the STFT framing (512-sample frames, hop 256) is
    // (n - frame) // hop + 1 — n >= 1000 so at least one frame always
    "ext_audio_meta" ->
      """SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1000 + (doc_id % 7) * 512 AS INTEGER) AS n_samples,
        |  CAST((1000 + (doc_id % 7) * 512 - 512) // 256 + 1 AS INTEGER)
        |    AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_sample_mix" ->
      """WITH w(lang, wt) AS (VALUES ('en', 0.4), ('es', 0.15), ('fr', 0.15),
        |                           ('de', 0.15), ('zh', 0.15)),
        |c AS (SELECT d.lang, count(*) AS n, any_value(wt) AS wt
        |      FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
        |t AS (SELECT min(floor(n / wt)) AS T FROM c),
        |q AS (SELECT c.lang, CAST(floor(c.wt * t.T) AS BIGINT) AS quota
        |      FROM c, t),
        |r AS (SELECT doc_id, lang, source,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |SELECT doc_id, r.lang, source FROM r JOIN q ON r.lang = q.lang
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    "ext_class_weights" ->
      """WITH c AS (SELECT lang AS label, count(*) AS n_c
        |           FROM documents GROUP BY lang)
        |SELECT label, n_c,
        |  round((SELECT sum(n_c) FROM c) * 1.0
        |    / ((SELECT count(*) FROM c) * n_c), 6) AS weight
        |FROM c ORDER BY label""".stripMargin,

    // A-ES weighted sampling: same 60-bit md5 uniform + ln(u)/w keys
    "ext_sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT) + 1.0) / 1152921504606846976.0)
        |      / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM t
        |  ORDER BY k DESC, doc_id ASC LIMIT 50)
        |ORDER BY doc_id""".stripMargin,

    "ext_sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |        pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM c) AS wt
        |      FROM c),
        |t AS (SELECT min(floor(n / wt)) AS T FROM w),
        |q AS (SELECT w.lang, CAST(floor(w.wt * t.T) AS BIGINT) AS quota
        |      FROM w, t),
        |r AS (SELECT doc_id, lang, source,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |SELECT doc_id, r.lang, source FROM r JOIN q ON r.lang = q.lang
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    "ext_sample_pergroup" ->
      """SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    "ext_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CAST(unnest(range(0, greatest(len(toks) - 5, 1), 15)) AS INTEGER)
        |      AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 15 AS BIGINT) AS chunk_id,
        |  array_to_string(toks[start+1:start+20], ' ') AS chunk,
        |  CAST(least(20, len(toks) - start) AS INTEGER) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "ext_tfidf_topterms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rn FROM scored)
        |SELECT doc_id, term, tf, tfidf, rn FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    "ext_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via https://ex.org/u/' || CAST(doc_id AS VARCHAR)
        |    || ' ref ' || CAST(doc_id * 1234567 + 999999 AS VARCHAR) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(raw, 'https?://[^\s]+')) AS INTEGER) AS n_url,
        |  CAST(len(regexp_extract_all(raw, '\b[0-9]{6,}\b')) AS INTEGER) AS n_id,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{6,}\b', '<ID>', 'g') AS clean
        |FROM raw ORDER BY doc_id""".stripMargin,

    "ext_embed_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
        |        (list_max(v) - list_min(v)) / 255.0 AS scale FROM v)
        |SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
        |  CAST(list_sum(list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE round((x - lo) / scale) END AS INTEGER))) AS BIGINT) AS q_sum,
        |  round(list_sum(list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
        |      ELSE abs(x - (round((x - lo) / scale) * scale + lo)) END)) / len(v), 6)
        |    AS recon_mae
        |FROM s ORDER BY vec_id""".stripMargin,

    "ext_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  [array_to_string(toks[i:i+3], ' ')
        |   for i in range(1, len(toks)+1, 4)] AS ls FROM t),
        |l AS (SELECT doc_id, unnest(ls) AS line,
        |  CAST(unnest(range(1, len(ls)+1)) AS INTEGER) AS line_no FROM c),
        |r AS (SELECT doc_id, line_no, line, row_number() OVER (
        |  PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM l)
        |SELECT doc_id, line_no, line FROM r WHERE rn = 1
        |ORDER BY doc_id, line_no""".stripMargin,

    "ext_line_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  [array_to_string(toks[i:i+3], ' ')
        |   for i in range(1, len(toks)+1, 4)] AS ls FROM t),
        |l AS (SELECT doc_id, unnest(ls) AS line,
        |  CAST(unnest(range(1, len(ls)+1)) AS INTEGER) AS line_no FROM c),
        |b AS (SELECT line FROM l GROUP BY line
        |      HAVING count(DISTINCT doc_id) >= 3),
        |s AS (SELECT l.* FROM l LEFT JOIN b USING (line)
        |      WHERE b.line IS NULL)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_text_normalize" ->
      """SELECT doc_id,
        |  lower(trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // host from the synthesized URL, www-stripped; every synth host is a
    // plain two-label .com, so registrable domain = the last two labels
    "ext_domain_quota" ->
      ("""WITH u0 AS (SELECT doc_id, (""" + UrlSynthSql + """) AS u FROM documents),
        |h AS (SELECT doc_id,
        |  regexp_extract(lower(regexp_replace(
        |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1),
        |    '^www\.', '')), '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM u0),
        |r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM h WHERE domain IS NOT NULL AND domain != '')
        |SELECT doc_id, domain FROM r WHERE rn <= 10
        |ORDER BY domain, doc_id""").stripMargin,


    "ext_url_canonical" ->
      s"$UrlCanonOracleCtes\nSELECT doc_id, url_canon FROM c ORDER BY doc_id",

    "ext_url_dedup" ->
      (s"""$UrlCanonOracleCtes
        |SELECT url_canon, min(doc_id) AS first_doc_id,
        |  count(*) AS n_dups
        |FROM c GROUP BY url_canon ORDER BY url_canon""").stripMargin,

    "ext_url_dedup_incr" ->
      (s"""$UrlCanonOracleCtes
        |SELECT c.doc_id, c.url_canon
        |FROM c JOIN (SELECT url_canon, min(doc_id) AS m FROM c
        |             WHERE doc_id < 500 GROUP BY url_canon) w
        |  ON c.url_canon = w.url_canon AND c.doc_id = w.m
        |WHERE c.doc_id < 500
        |ORDER BY c.doc_id""").stripMargin,

    // first-owner registration over crawl 1; owners % 5 == 0 forgotten;
    // crawl 2 keeps its in-batch winners whose key is unowned or owned
    // by a forgotten id — the independent restatement of the
    // tombstone-masked keep-first store
    "ext_url_dedup_forget" ->
      (s"""$UrlCanonOracleCtes,
        |own AS (SELECT url_canon, min(doc_id) AS owner FROM c
        |        WHERE doc_id < 250 GROUP BY url_canon),
        |blocked AS (SELECT url_canon FROM own WHERE owner % 5 <> 0),
        |w AS (SELECT url_canon, min(doc_id) AS m FROM c
        |      WHERE doc_id >= 250 AND doc_id < 500 GROUP BY url_canon)
        |SELECT c.doc_id, c.url_canon
        |FROM c JOIN w ON c.url_canon = w.url_canon AND c.doc_id = w.m
        |WHERE c.doc_id >= 250 AND c.doc_id < 500
        |  AND c.url_canon NOT IN (SELECT url_canon FROM blocked)
        |ORDER BY c.doc_id""").stripMargin,

    "ext_line_dedup_incr" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 500),
        |c AS (SELECT doc_id,
        |  [array_to_string(toks[i:i+3], ' ')
        |   for i in range(1, len(toks)+1, 4)] AS ls FROM t),
        |l AS (SELECT doc_id, unnest(ls) AS line,
        |  CAST(unnest(range(1, len(ls)+1)) AS INTEGER) AS line_no FROM c),
        |r AS (SELECT doc_id, line_no, line, row_number() OVER (
        |  PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM l)
        |SELECT doc_id, line_no, line FROM r WHERE rn = 1
        |ORDER BY doc_id, line_no""".stripMargin,

    "ext_split_leakage_audit" ->
      ("""WITH RECURSIVE """ + GramPairCtesSql + """,
        |e AS (SELECT id_a AS id, id_b AS nbr FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id),
        |lab AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id),
        |docs AS (SELECT doc_id FROM documents WHERE doc_id < 500),
        |comp AS (
        |  SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
        |  FROM docs d LEFT JOIN lab l ON d.doc_id = l.id),
        |bydoc AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5('r7:' || doc_id), 1, 8) < 'c0000000'
        |      THEN 'train'
        |      WHEN substr(md5('r7:' || doc_id), 1, 8) < 'e0000000'
        |      THEN 'val' ELSE 'test' END AS split
        |  FROM docs),
        |bycomp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5('r7:' || canonical_id), 1, 8) < 'c0000000'
        |      THEN 'train'
        |      WHEN substr(md5('r7:' || canonical_id), 1, 8) < 'e0000000'
        |      THEN 'val' ELSE 'test' END AS split
        |  FROM comp),
        |audits AS (
        |  SELECT 'by_doc' AS scheme,
        |    least(a.split, b.split) AS split_lo,
        |    greatest(a.split, b.split) AS split_hi, count(*) AS n_pairs
        |  FROM p JOIN bydoc a ON p.id_a = a.doc_id
        |    JOIN bydoc b ON p.id_b = b.doc_id
        |  GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT 'by_component',
        |    least(a.split, b.split), greatest(a.split, b.split), count(*)
        |  FROM p JOIN bycomp a ON p.id_a = a.doc_id
        |    JOIN bycomp b ON p.id_b = b.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT scheme, split_lo, split_hi, n_pairs FROM audits
        |ORDER BY scheme, split_lo, split_hi""").stripMargin,

    "ext_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5('r6:' || source), 1, 8) < 'c0000000'
        |         THEN 'train'
        |       WHEN substr(md5('r6:' || source), 1, 8) < 'e0000000'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_decontaminate_embed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |b AS (SELECT [v[i] + ((vec_id*31 + i*7) % 11 - 5) * 0.003
        |        for i in range(1, len(v) + 1)] AS bv
        |      FROM e WHERE vec_id % 50 = 0)
        |SELECT DISTINCT e.vec_id FROM e, b
        |WHERE list_dot_product(e.v, b.bv)
        |    / (sqrt(list_dot_product(e.v, e.v))
        |       * sqrt(list_dot_product(b.bv, b.bv))) >= 0.98
        |ORDER BY vec_id""".stripMargin
  )
}
