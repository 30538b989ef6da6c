package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Decontaminate, Dedup, HeavyHitters, IncrementalDedup, IncrementalSubstring, Packer, Splits, TextAnalysis, Urls}
import graft.sinks.TxTable

/** End-to-end training-SET construction over a GROWING corpus — the
  * composition the round-4 operators exist for, and the batch-cadence
  * complement of `Curation` (which curates one static corpus):
  *
  *   repetition + quality gates [+ compression-ratio + heavy-hitter stopword gates]
  *   [+ LM perplexity gate] [+ NB classifier gate]
  *   [+ canonical-URL keep-first dedup]
  *   -> benchmark decontamination [+ SEMANTIC decontamination]
  *   -> exact dedup
  *   -> INCREMENTAL near-dup vs the durable signature store
  *   [-> INCREMENTAL embedding near-dup vs the durable embedding store]
  *   [+ INCREMENTAL perceptual-hash image dedup vs the durable dHash
  *   store] [-> INCREMENTAL verbatim-span dedup vs the durable
  *   fingerprint store] [-> leakage-safe split assignment]
  *   -> token-budget sequence packing (PER SPLIT when splitting — a
  *   pack never mixes train and eval) -> transactional commit
  *
  * Each `ingest` call processes one batch and folds it into a durable,
  * snapshot-isolated training table:
  *
  *  - Near-dup and substring state live in durable stores, so a batch is
  *    checked against EVERYTHING ingested before it in O(batch +
  *    collisions) — corpus growth never reprocesses the corpus. The
  *    stores record SEEN content (including docs a later stage drops):
  *    content that lost to an earlier copy still marks later re-copies
  *    as duplicates.
  *  - The packed assignment is committed through TxTable with the batch
  *    id as the applied-delta id: a crashed run publishes nothing, a
  *    rerun of an already-committed batch is a no-op, and readers of
  *    the training table are never exposed to a half-ingested batch.
  *    A batch whose rows ALL gate or dedup away still enters the ledger
  *    (TxTable.recordDelta) — its store side effects must not replay.
  *  - Packs are per-batch: packing is an order-dependent global fold,
  *    so cross-batch repacking would rewrite history — instead each
  *    batch packs its own survivors, the same append-only discipline as
  *    the sequence data itself. The pack key is (batch_id, pack_id)
  *    without splits and (batch_id, split, pack_id) WITH splits —
  *    packing runs per split, so pack_id restarts at 0 in each split
  *    and a consumer keying on (batch_id, pack_id) alone would merge a
  *    train pack with a val/test pack.
  *
  * Drop rules: a new doc is dropped if it fails a gate, shares an
  * n-gram with the benchmark, duplicates content inside the batch
  * (exact, near, embedding-near, image-near, or verbatim-span), or
  * near-duplicates (by tokens, by embedding, or by image perceptual
  * hash) / shares a >= substringMinLen-char span with an ALREADY-SEEN
  * doc (the stored doc wins — first-ingested-wins, deterministic).
  */
object TrainingSet {

  final case class Report(
      input: Long, afterGates: Long, afterDecontaminate: Long,
      afterExact: Long, afterNearDup: Long, afterSubstring: Long,
      packs: Long, alreadyApplied: Boolean,
      afterUrlDedup: Long = -1, afterEmbedDecontaminate: Long = -1,
      afterEmbedNearDup: Long = -1, afterImageDedup: Long = -1,
      afterAnimDedup: Long = -1,
      afterAudioDedup: Long = -1, afterVideoDedup: Long = -1)

  /** @param deltaId   stable batch identifier (replay protection)
    * @param benchmark eval set to decontaminate against (tiny side)
    * @param budget    tokens per training sequence
    * @param substringMinLen when set, drop docs sharing a verbatim span
    *        of this many characters with any seen doc (the exact-
    *        substring complement of the Jaccard near-dup stage, durable
    *        across batches via IncrementalSubstring)
    * @param hhStopwordK when > 0, derive the batch's top-K tokens
    *        (exact heavy hitters) and gate docs whose token stream is
    *        dominated by them — the data-driven stopword screen
    * @param maxHhStopwordFrac ceiling on the heavy-hitter token fraction
    *        (only with hhStopwordK > 0)
    * @param perplexityModel when set, gate docs scoring above
    *        `maxPerplexity` under this n-gram LM (`NgramLm.train` on a
    *        trusted reference corpus) — the learned quality screen
    *        (CCNet-style) beside the rule-based gates
    * @param maxPerplexity perplexity ceiling (only with perplexityModel)
    * @param classifierModel when set, gate docs scoring below
    *        `minClassifierLogOdds` under this Naive Bayes quality
    *        classifier (`Classifier.train` on positive vs negative
    *        reference corpora) — the supervised learned screen
    * @param minClassifierLogOdds log-odds floor (only with
    *        classifierModel; 0 = "more likely positive")
    * @param urlCol when set, in-batch keep-first dedup on the CANONICAL
    *        form of this URL column (Urls.canonicalize) before any
    *        text-shaped stage — two crawls of one page collapse for the
    *        cost of a string expression; rows whose URL cannot be
    *        parsed pass through (they have no canonical key to collide
    *        on). Cross-batch re-crawls are caught downstream by the
    *        near-dup store (their TEXT is near-identical).
    * @param urlStorePath with `urlCol`: dedup URLs CROSS-BATCH through
    *        the durable canonical-URL key store
    *        (IncrementalKeyedDedup) — a daily re-crawl of a known page
    *        drops for the cost of a key probe instead of falling
    *        through to the text-similarity stages. Without it, URL
    *        dedup is in-batch only.
    * @param benchmarkEmbeddings when set, SEMANTIC decontamination after
    *        the n-gram stage: batch rows (which must carry `embedCol`)
    *        within cosine `embedThreshold` of any row here are dropped —
    *        the paraphrase leakage exact n-grams miss
    * @param embedStorePath when set, incremental EMBEDDING near-dup vs
    *        the durable signature store (IncrementalEmbedDedup) after
    *        the text near-dup stage: the paraphrase/translation DUPLICATES
    *        MinHash token overlap misses, checked cross-batch in
    *        O(batch + collisions). Batch rows must carry `embedCol`;
    *        rows with a NULL embedding pass through and are never
    *        registered (no direction to collide on — the null-key
    *        discipline of the keyed store). Same drop rules as the text
    *        stage: stored doc wins cross-batch, keep-first in-batch.
    * @param embedDedupThreshold cosine at-or-above which two docs are
    *        the same content (only with embedStorePath; default 0.97 —
    *        stricter than decontamination's 0.95 because a dedup FALSE
    *        POSITIVE deletes a training doc outright)
    * @param mediaCols with `imageStorePath`: the batch's (media, width,
    *        height) column names — an opaque image payload plus its
    *        typed geometry (the `Multimodal.mediaTable` shape)
    * @param imageStorePath when set, incremental IMAGE near-dup vs the
    *        durable dHash store (IncrementalImageDedup) after the
    *        embedding stage: a re-crawled or re-encoded image dedups by
    *        perceptual hash even when its surrounding text was
    *        rewritten. NULL-media rows pass through and never register;
    *        same drop rules as every dedup stage
    * @param imageMaxHamming dHash bits at-or-below which two images are
    *        the same content (only with imageStorePath; default 6 —
    *        stricter than the 10-bit similarity-search default because,
    *        as with embeddings, a dedup false positive deletes a doc)
    * @param audioCol with `audioStorePath`: the batch column carrying
    *        an opaque AUDIO payload (WAV/PCM decodes; other codecs pass
    *        through as never-matching, counted by the decode census)
    * @param audioStorePath when set, incremental AUDIO near-dup vs the
    *        durable landmark-fingerprint store (AudioFingerprint.ingest)
    *        after the image stage: a re-mastered or re-encoded copy of
    *        the same recording dedups cross-batch even when every text
    *        field was rewritten. NULL/undecodable audio passes through
    *        and never registers; same drop rules as every dedup stage
    * @param videoCol with `videoStorePath`: the batch column carrying
    *        an opaque VIDEO payload (MP4; other containers and
    *        payload-less files key NULL and pass through)
    * @param videoStorePath when set, incremental VIDEO dedup vs a
    *        durable payload-fingerprint key store
    *        (IncrementalKeyedDedup on `Multimodal` mdat fingerprints)
    *        after the audio stage: a re-WRAPPED copy of the same video
    *        — moov relocated, metadata rewritten, padding inserted —
    *        dedups cross-batch even when every text field was
    *        rewritten. Transcodes stay behind the documented codec
    *        boundary; same drop rules as every dedup stage
    * @param splits when non-empty, leakage-safe split assignment
    *        (`Splits.assign` keyed on `splitGroupCol`, default the doc
    *        id) BEFORE packing, and packing runs PER SPLIT — a packed
    *        sequence never mixes train and eval documents. The training
    *        table is then partitioned by (batch_id, split); use the
    *        same setting for every batch of a table.
    */
  def ingest(
      spark: SparkSession,
      batch: DataFrame,
      benchmark: DataFrame,
      storePath: String,
      targetPath: String,
      deltaId: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      budget: Long = 2048,
      minQuality: Double = 0.2,
      // reject docs whose zlib ratio sits BELOW this floor (near-zero =
      // looped/boilerplate spam; 0.0 disables — see
      // TextAnalysis.compressionRatio)
      minDeflateRatio: Double = 0.0,
      maxTopTokenFrac: Double = 0.4,
      maxDupNgramFrac: Double = 0.5,
      decontaminateN: Int = 8,
      nearDupThreshold: Double = 0.9,
      substringMinLen: Option[Int] = None,
      hhStopwordK: Int = 0,
      maxHhStopwordFrac: Double = 0.8,
      perplexityModel: Option[graft.ext.NgramLm.Model] = None,
      maxPerplexity: Double = Double.MaxValue,
      classifierModel: Option[graft.ext.Classifier.Model] = None,
      minClassifierLogOdds: Double = 0.0,
      urlCol: Option[String] = None,
      urlStorePath: Option[String] = None,
      benchmarkEmbeddings: Option[DataFrame] = None,
      embedCol: String = "embedding",
      embedThreshold: Double = 0.95,
      embedStorePath: Option[String] = None,
      embedDedupThreshold: Double = 0.97,
      mediaCols: Option[(String, String, String)] = None,
      imageStorePath: Option[String] = None,
      imageMaxHamming: Int = 6,
      imageNormalizeOrientation: Boolean = false,
      animStorePath: Option[String] = None,
      audioCol: Option[String] = None,
      audioStorePath: Option[String] = None,
      videoCol: Option[String] = None,
      videoStorePath: Option[String] = None,
      accounting: Boolean = true,
      splits: Seq[(String, Double)] = Nil,
      splitGroupCol: Option[String] = None,
      splitSeed: String = ""): Report = {
    if (TxTable.appliedDeltaIds(spark, targetPath).contains(deltaId))
      return Report(0, 0, 0, 0, 0, 0, 0, alreadyApplied = true)
    // accounting = false: the count-free form (the appendAbsent
    // discipline applied to the whole pipeline) — per-stage Report
    // counts each cost a job, and at per-batch cadence the fixed job
    // count IS the ingest latency; a caller that never reads the
    // audit counts skips ~7 jobs per ingest. Table/store semantics,
    // replay protection, and the zero-survivor ledger entry are
    // identical; skipped counts report -1.
    def cnt(df: => DataFrame): Long = if (accounting) df.count() else -1L
    val input = cnt(batch)

    // 1: scan-speed gates (quality + repetition) — shrink the corpus
    // before anything that shuffles
    val gated0 = batch.filter(
      TextAnalysis.qualityScore(col(textCol)) >= minQuality &&
        TextAnalysis.topTokenFraction(col(textCol)) <= maxTopTokenFrac &&
        TextAnalysis.duplicateNgramFraction(col(textCol), 2) <= maxDupNgramFrac &&
        (if (minDeflateRatio <= 0.0) lit(true)
         else TextAnalysis.compressionRatio(spark, col(textCol)) >=
           minDeflateRatio))
    // 1b (optional): heavy-hitter stopword screen — the batch's exact
    // top-K tokens (two-pass Misra-Gries, O(partitions·capacity) driver
    // rows) become a data-driven stopword list; a doc whose token
    // stream is mostly those corpus-common tokens is connective-tissue
    // boilerplate the fixed per-doc gates cannot see
    val gated =
      if (hhStopwordK <= 0) gated0
      else {
        val hot = HeavyHitters.topTokens(gated0, textCol, hhStopwordK)
          .select("token").collect().map(_.getString(0))
        val toks = TextAnalysis.tokens(col(textCol))
        val hhFrac = size(filter(toks, t => t.isin(hot.toSeq: _*))) /
          greatest(size(toks), lit(1)).cast("double")
        gated0.filter(hhFrac <= maxHhStopwordFrac)
      }
    // 1c (optional): LM perplexity gate — the learned complement of the
    // fixed heuristics above: docs that don't look like the trusted
    // reference corpus (high cross-entropy under its bigram model) drop
    // here. Model tables are pre-materialized in the Model, so this adds
    // gram-key joins + one map-combinable fold, never a corpus re-scan.
    val gatedLm = perplexityModel match {
      case None    => gated
      case Some(m) =>
        graft.ext.NgramLm.perplexityFilter(gated, idCol, textCol, m, maxPerplexity)
    }
    // 1d (optional): NB classifier gate — the supervised screen (docs
    // that score closer to the negative reference than the positive one
    // drop). Same join-shaped cost as 1c.
    val gatedCls = classifierModel match {
      case None    => gatedLm
      case Some(m) =>
        graft.ext.Classifier.filterBy(gatedLm, idCol, textCol, m, minClassifierLogOdds)
    }
    val afterGates = cnt(gatedCls)

    // 1e (optional): canonical-URL keep-first dedup — the cheapest dedup
    // in the pipeline (a string expression + one batch-sized keyed agg),
    // so it runs before every text-shaped stage. Unparseable URLs have
    // no canonical key and pass through.
    val urlDeduped = (urlCol, urlStorePath) match {
      case (None, _) => gatedCls
      case (Some(u), Some(sp)) =>
        // cross-batch: first crawl of a canonical URL wins FOREVER via
        // the durable key store (null/unparseable URLs pass through)
        graft.ext.IncrementalKeyedDedup.ingest(spark, gatedCls, idCol,
          Urls.canonicalize(col(u)), sp)
      case (Some(u), None) =>
        val keepIds = Urls.dedupByUrl(gatedCls, idCol, u)
          .select(col("first_" + idCol).as(idCol))
          .unionByName(gatedCls
            .filter(Urls.canonicalize(col(u)).isNull).select(idCol))
        gatedCls.join(keepIds, Seq(idCol), "left_semi")
    }
    // -1 = stage not enabled (same sentinel as Curation.Report) — a
    // consumer can distinguish "ran, removed nothing" from "off"
    val afterUrlDedup =
      if (urlCol.isEmpty) -1L else cnt(urlDeduped)

    // 2: benchmark decontamination — bench gram set broadcasts, the
    // batch is never shuffled to find contamination
    val clean0 = Decontaminate.removeContaminated(
      urlDeduped, benchmark, idCol, textCol, n = decontaminateN)
    val afterDecontaminate = cnt(clean0)

    // 2b (optional): SEMANTIC decontamination — the paraphrase leakage
    // the n-gram stage misses; bench embeddings broadcast into a
    // nested-loop semi-join along the batch scan (see Decontaminate)
    val clean = benchmarkEmbeddings match {
      case None     => clean0
      case Some(be) =>
        Decontaminate.removeContaminatedByEmbedding(
          clean0, be, idCol, embedCol, embedThreshold)
    }
    val afterEmbedDecontaminate =
      if (benchmarkEmbeddings.isEmpty) -1L else cnt(clean)

    // 3: exact dedup inside the batch (cross-batch exact dups are also
    // near-dups at jaccard 1.0 — the store stage catches them)
    val exact = Dedup.exactSurvivors(clean, idCol, Seq(textCol))
      .localCheckpoint(false) // consumed by store ingest AND final join
    val afterExact = cnt(exact)

    // 4: incremental near-dup vs the durable store (batch side loses to
    // stored content; in-batch chains collapse to their minimum id)
    val nearPairs = IncrementalDedup.ingest(spark, exact, idCol, textCol,
      storePath, IncrementalDedup.Params(threshold = nearDupThreshold))
    val survivors = dropPairLosers(exact, nearPairs, idCol)
      .localCheckpoint(false)
    val afterNearDup = cnt(survivors)

    // 4b (optional): incremental EMBEDDING near-dup vs the durable
    // signature store — the paraphrase/translation duplicates token-
    // overlap MinHash misses. NULL-embedding rows pass through and never
    // register; only text-near-dup survivors register (dropped docs must
    // not claim content they never contributed).
    val embSurvivors = embedStorePath match {
      case None => survivors
      case Some(esp) =>
        val embedded = survivors.filter(col(embedCol).isNotNull)
        val embPairs = graft.ext.IncrementalEmbedDedup.ingest(spark,
          embedded.select(col(idCol), col(embedCol)), idCol, embedCol,
          esp, graft.ext.IncrementalEmbedDedup.Params(
            threshold = embedDedupThreshold))
        dropPairLosers(survivors, embPairs, idCol).localCheckpoint(false)
    }
    val afterEmbedNearDup =
      if (embedStorePath.isEmpty) -1L else cnt(embSurvivors)

    // 4c (optional): incremental IMAGE near-dup vs the durable dHash
    // store — a re-crawled or re-encoded image dedups cross-batch by
    // perceptual hash even when its surrounding TEXT was rewritten
    // (the multimodal blind spot of every text-shaped stage above).
    // NULL-media rows pass through and never register; same drop rules
    // (stored doc wins cross-batch, keep-first in-batch).
    val imgSurvivors = (mediaCols, imageStorePath) match {
      case (Some((mCol, wCol, hCol)), Some(isp)) =>
        val withMedia = embSurvivors.filter(col(mCol).isNotNull)
        val imgPairs = graft.ext.IncrementalImageDedup.ingest(spark,
          withMedia.select(col(idCol).as("doc_id"), col(mCol).as("media"),
            col(wCol).as("width"), col(hCol).as("height")),
          isp, graft.ext.IncrementalImageDedup.Params(
            maxHamming = imageMaxHamming,
            normalizeOrientation = imageNormalizeOrientation))
        dropPairLosers(embSurvivors, imgPairs, idCol).localCheckpoint(false)
      case (None, Some(_)) => sys.error(
        "TrainingSet.ingest: imageStorePath needs mediaCols = " +
          "(media, width, height)")
      case _ => embSurvivors
    }
    val afterImageDedup =
      if (imageStorePath.isEmpty) -1L else cnt(imgSurvivors)

    // 4c2 (optional): incremental ANIMATION dedup vs the durable
    // frame-landmark store — the cut/cross-container class the image
    // stage's first-frame key provably misses: a re-crawled GIF cut
    // or an APNG/WebP re-encode of a stored animation drops here even
    // when its first frame changed. Non-animation media emit no
    // landmarks and pass through.
    val animSurvivors = (mediaCols, animStorePath) match {
      case (Some((mCol, _, _)), Some(asp)) =>
        val withMedia = imgSurvivors.filter(col(mCol).isNotNull)
        val animPairs = graft.ext.AnimDedup.ingest(spark,
          withMedia.select(col(idCol).as("doc_id"), col(mCol).as("media")),
          asp)
        dropPairLosers(imgSurvivors, animPairs, idCol).localCheckpoint(false)
      case (None, Some(_)) => sys.error(
        "TrainingSet.ingest: animStorePath needs mediaCols = " +
          "(media, width, height)")
      case _ => imgSurvivors
    }
    val afterAnimDedup =
      if (animStorePath.isEmpty) -1L else cnt(animSurvivors)

    // 4d (optional): incremental AUDIO near-dup vs the durable landmark
    // store — the acoustic sibling of the image stage: a re-mastered
    // copy of the same recording dedups cross-batch by spectral-peak
    // fingerprint even when all its text was rewritten. Undecodable
    // audio yields no fingerprints inside ingest and passes through.
    val audioSurvivors = (audioCol, audioStorePath) match {
      case (Some(aCol), Some(asp)) =>
        val withAudio = animSurvivors.filter(col(aCol).isNotNull)
        val audioPairs = graft.ext.AudioFingerprint.ingest(spark,
          withAudio.select(col(idCol).as("doc_id"), col(aCol).as("media")),
          asp)
        dropPairLosers(animSurvivors, audioPairs, idCol)
          .localCheckpoint(false)
      case (None, Some(_)) => sys.error(
        "TrainingSet.ingest: audioStorePath needs audioCol")
      case _ => animSurvivors
    }
    val afterAudioDedup =
      if (audioStorePath.isEmpty) -1L else cnt(audioSurvivors)

    // 4e (optional): incremental VIDEO dedup vs a durable payload-
    // fingerprint key store — a re-wrapped copy of the same video
    // (moov relocated for faststart, metadata tags rewritten, padding
    // inserted) dedups cross-batch by its mdat payload fingerprint even
    // when all its text was rewritten. Non-video and payload-less rows
    // key NULL and pass through untouched (IncrementalKeyedDedup's
    // keyless discipline); the store is 16 bytes/video.
    val videoSurvivors = (videoCol, videoStorePath) match {
      case (Some(vCol), Some(vsp)) =>
        val fpU = udf((b: Array[Byte]) =>
          graft.ext.Multimodal.ContainerCodec.videoPayloadFp(b))
        graft.ext.IncrementalKeyedDedup.ingest(spark, audioSurvivors,
          idCol, fpU(col(vCol)), vsp).localCheckpoint(false)
      case (None, Some(_)) => sys.error(
        "TrainingSet.ingest: videoStorePath needs videoCol")
      case _ => audioSurvivors
    }
    val afterVideoDedup =
      if (videoStorePath.isEmpty) -1L else cnt(videoSurvivors)

    // 5 (optional): incremental verbatim-span dedup vs the durable
    // fingerprint store — high-precision copy-paste screening that
    // Jaccard near-dup misses when the surrounding text differs. Same
    // drop rules; only prior-stage survivors register (already-dropped
    // batch docs must not claim spans they never contributed).
    val spanSurvivors = substringMinLen match {
      case None => videoSurvivors
      case Some(minLen) =>
        val spanPairs = IncrementalSubstring.ingest(spark, videoSurvivors,
          idCol, textCol, s"$storePath/substr", minLen)
        dropPairLosers(videoSurvivors, spanPairs, idCol).localCheckpoint(false)
    }
    val afterSubstring = cnt(spanSurvivors)
    // the commit-vs-ledger decision needs survivor PRESENCE, not the
    // audit count — one LIMIT-1 probe in the count-free form
    val anySurvivors =
      if (accounting) afterSubstring > 0 else !spanSurvivors.isEmpty

    // 6: pack the survivors into token-budget sequences (per-batch packs;
    // see the header for why packs never span batches). With `splits`,
    // assignment happens FIRST and packing runs per split — a packed
    // sequence mixing train and eval rows would leak eval content into
    // training batches no matter how clean the doc-level split is.
    val tokCount = TextAnalysis.tokenCount(col(textCol))
    def packOf(df: DataFrame): DataFrame = df.join(
      Packer.packBudget(df, idCol, tokCount, budget)
        .withColumnRenamed("id", idCol),
      Seq(idCol))
    val packed0 =
      if (splits.isEmpty) packOf(spanSurvivors)
      else {
        val grouped = Splits.assign(spanSurvivors,
            splitGroupCol.getOrElse(idCol), splits, splitSeed)
          .localCheckpoint(false) // filtered once per split below
        splits.map { case (name, _) =>
          packOf(grouped.filter(col("split") === name))
        }.reduce(_ unionByName _)
      }
    val packed = packed0.withColumn("batch_id", lit(deltaId))
    val packKey: Seq[String] =
      if (splits.isEmpty) Seq("pack_id") else Seq("split", "pack_id")
    val packs =
      if (accounting) packed.select(packKey.map(col): _*).distinct().count()
      else -1L

    // 7: atomic append into the training table, replay-protected even
    // when nothing survived (the store side effects above are real).
    // Doc-id stats ride the manifest so a later takedown request
    // (TxTable.deleteWhere on the id) rewrites only the batches that
    // can contain the id — not the whole training table.
    val layout =
      if (splits.isEmpty) Seq("batch_id") else Seq("batch_id", "split")
    if (anySurvivors)
      TxTable.commit(spark, packed, targetPath, partitionBy = layout,
        deltaId = Some(deltaId), append = true, statsCols = Seq(idCol))
    else
      TxTable.recordDelta(spark, targetPath, deltaId)
    Report(input, afterGates, afterDecontaminate, afterExact, afterNearDup,
      afterSubstring, packs, alreadyApplied = false,
      afterUrlDedup = afterUrlDedup,
      afterEmbedDecontaminate = afterEmbedDecontaminate,
      afterEmbedNearDup = afterEmbedNearDup,
      afterImageDedup = afterImageDedup, afterAnimDedup = afterAnimDedup,
      afterAudioDedup = afterAudioDedup,
      afterVideoDedup = afterVideoDedup)
  }

  /** TAKEDOWN: remove documents from the training table AND from every
    * durable store an `ingest` of this pipeline may have registered
    * them in — the composition a right-to-erasure request actually
    * needs. `TxTable.deleteWhere` alone cleans the TABLE but leaves the
    * near-dup signature store, the substring fingerprint store, and the
    * URL key store holding the forgotten doc's artifacts forever (still
    * blocking fresh copies, and in other store families retaining
    * content-derived data).
    *
    * Composes, per store that exists on disk:
    *  - `TxTable.deleteWhere` on the id (stats-pruned: only generations
    *    whose recorded id range can contain it are rewritten — O(ids ×
    *    matching generations), not O(table));
    *  - `IncrementalDedup.forget` / `IncrementalSubstring.forget` /
    *    `IncrementalKeyedDedup.forget` tombstones (O(takedown) appends;
    *    each store's `compactStore` later erases the rows physically);
    *  - `ImageIndex.forget` / `SimhashIndex.forget` / `AudioIndex
    *    .forget` when the caller maintains serving-side indexes over
    *    this corpus — the forgotten ids stop ranking in bounded-
    *    distance / query-by-example search immediately (their index
    *    rebuild clears the tombstones).
    *
    * After a takedown, fresh copies of the forgotten content are
    * admitted again under new ids — dedup state must not remember
    * erased content. Returns the number of table rows deleted.
    *
    * PHYSICAL erasure has two tails this call can optionally settle:
    * `deleteWhere` keeps the deleted rows reachable via time travel
    * until a vacuum (`vacuum = true` runs it — the erasure-request
    * default; leave false only when snapshot readers may be pinned to
    * an old version), and the store tombstones mask rather than erase
    * until each store's next `compactStore` ([[compactStores]] settles
    * them all).
    */
  def takedown(
      spark: SparkSession,
      targetPath: String,
      storePath: String,
      ids: Seq[Long],
      idCol: String = "doc_id",
      urlStorePath: Option[String] = None,
      embedStorePath: Option[String] = None,
      imageStorePath: Option[String] = None,
      animStorePath: Option[String] = None,
      audioStorePath: Option[String] = None,
      videoStorePath: Option[String] = None,
      imageIndexPath: Option[String] = None,
      textIndexPath: Option[String] = None,
      audioIndexPath: Option[String] = None,
      vacuum: Boolean = false): Long = {
    import spark.implicits._
    if (ids.isEmpty) return 0L
    val deleted = ids.map(id =>
      TxTable.deleteWhere(spark, targetPath, idCol,
        id.toDouble, id.toDouble)).sum
    if (vacuum) TxTable.vacuum(spark, targetPath)
    // the ext stores key by a literal doc_id column whatever the
    // pipeline's idCol (their ingest normalizes); the keyed URL store
    // keeps the caller's column name
    val tomb = ids.toDF("doc_id")
    def has(p: String) = graft.ext.DurableStore.hasData(spark, p)
    if (has(s"$storePath/bands"))
      IncrementalDedup.forget(spark, storePath, tomb)
    if (has(s"$storePath/substr/fps"))
      IncrementalSubstring.forget(spark, s"$storePath/substr", tomb)
    embedStorePath.filter(p => has(s"$p/sigs")).foreach { p =>
      graft.ext.IncrementalEmbedDedup.forget(spark, p, tomb)
    }
    imageStorePath.filter(p => has(s"$p/sigs")).foreach { p =>
      graft.ext.IncrementalImageDedup.forget(spark, p, tomb)
    }
    (animStorePath ++ audioStorePath).filter(p => has(s"$p/fps")).foreach {
      p => graft.ext.LandmarkStore.forget(spark, p, tomb)
    }
    (urlStorePath ++ videoStorePath).filter(p => has(s"$p/keys")).foreach {
      p => graft.ext.IncrementalKeyedDedup.forget(spark, p, ids.toDF(idCol))
    }
    // serving-side Hamming indexes built over this corpus: the
    // forgotten ids must be unfindable there too, immediately — the
    // one-erasure-surface property extends past the stores to every
    // durable artifact the pipeline family maintains
    imageIndexPath.filter(graft.ext.ImageIndex.exists(spark, _)).foreach(
      p => graft.ext.ImageIndex.forget(spark, p, tomb))
    textIndexPath.filter(graft.ext.SimhashIndex.exists(spark, _)).foreach(
      p => graft.ext.SimhashIndex.forget(spark, p, tomb))
    audioIndexPath.filter(graft.ext.AudioIndex.exists(spark, _)).foreach(
      p => graft.ext.AudioIndex.forget(spark, p, tomb))
    deleted
  }

  /** STREAMING form of the whole pipeline: run-once (AvailableNow)
    * micro-batches, each through one [[ingest]] — the crawl-cadence
    * deployment where documents land in a directory and the training
    * table + every durable store grow per batch. The caller supplies
    * the per-batch ingest as a closure over its own knob settings
    * (gates, stores, splits …), and this wrapper supplies the delta id:
    * `<deltaPrefix><batchId>`, stable across checkpoint REPLAYS of the
    * same batch, so the TxTable ledger makes a replayed micro-batch a
    * no-op. After checkpoint LOSS the file→batch mapping can differ and
    * re-delivered content arrives under fresh delta ids — the gates,
    * exact dedup, and the durable stores then drop every re-delivered
    * row and the zero-survivor batches still enter the ledger: the
    * table converges to the same contents (spec-asserted), the
    * exactly-once-in-EFFECT discipline of the whole streaming surface.
    *
    * Returns the per-batch Reports in batch order.
    */
  def ingestAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String,
      ingestBatch: (DataFrame, String) => Report,
      deltaPrefix: String = "stream_",
      maxFilesPerTrigger: Option[Int] = None): Seq[Report] = {
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Report)]()
    graft.streaming.AvailableNow.run(
      graft.streaming.AvailableNow.parquetSource(spark, srcDir, schema,
        maxFilesPerTrigger),
      checkpointDir) { (batch, batchId) =>
      reports.add(batchId -> ingestBatch(batch, s"$deltaPrefix$batchId"))
    }
    import scala.jdk.CollectionConverters._
    reports.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Maintenance pass over every durable store a pipeline at these
    * paths writes: compact the per-ingest small-file sets AND fold the
    * accumulated takedown tombstones (physical erasure of everything
    * [[takedown]] masked — the settlement that keeps the per-probe
    * tombstone broadcasts bounded). The serving-side INDEXES sit under
    * the same pass: their compaction re-packs appended posting files
    * back into the sorted pruning layout and erases tombstoned owners
    * physically, FROM THE ARTIFACT ALONE (no media/corpus re-hash).
    * Run between ingests, at whatever cadence compaction already runs.
    * Returns (files before, after) summed over every store/index
    * present.
    */
  def compactStores(
      spark: SparkSession,
      storePath: String,
      urlStorePath: Option[String] = None,
      embedStorePath: Option[String] = None,
      imageStorePath: Option[String] = None,
      animStorePath: Option[String] = None,
      audioStorePath: Option[String] = None,
      videoStorePath: Option[String] = None,
      imageIndexPath: Option[String] = None,
      textIndexPath: Option[String] = None,
      audioIndexPath: Option[String] = None,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val counts =
      Seq(IncrementalDedup.compactStore(spark, storePath, targetFileBytes),
        IncrementalSubstring.compactStore(spark, s"$storePath/substr",
          targetFileBytes)) ++
      embedStorePath.map(p =>
        graft.ext.IncrementalEmbedDedup.compactStore(spark, p,
          targetFileBytes)) ++
      imageStorePath.map(p =>
        graft.ext.IncrementalImageDedup.compactStore(spark, p,
          targetFileBytes)) ++
      (animStorePath ++ audioStorePath).map(p =>
        graft.ext.LandmarkStore.compactStore(spark, p, targetFileBytes)) ++
      (urlStorePath ++ videoStorePath).map(p =>
        graft.ext.IncrementalKeyedDedup.compactStore(spark, p,
          targetFileBytes)) ++
      imageIndexPath.filter(graft.ext.ImageIndex.exists(spark, _)).map(
        p => graft.ext.ImageIndex.compact(spark, p)) ++
      textIndexPath.filter(graft.ext.SimhashIndex.exists(spark, _)).map(
        p => graft.ext.SimhashIndex.compact(spark, p)) ++
      audioIndexPath.filter(graft.ext.AudioIndex.exists(spark, _)).map(
        p => graft.ext.AudioIndex.compact(spark, p))
    counts.foldLeft((0, 0)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  /** The shared duplicate-pair drop rule: a CROSS pair (one side not in
    * the batch, i.e. already stored) drops the batch side whatever the
    * id order — first-ingested-wins; an IN-BATCH pair drops the larger
    * id (keep-first by id; chains collapse to their minimum like
    * dedupCorpus's canonical doc).
    */
  private[pipelines] def dropPairLosers(
      batch: DataFrame, pairs0: DataFrame, idCol: String): DataFrame = {
    val pairs = pairs0.select("id_a", "id_b")
      .localCheckpoint(false) // consumed by three classification joins
    val idsA = batch.select(col(idCol).as("id_a"))
    val idsB = batch.select(col(idCol).as("id_b"))
    val aInBatch = pairs.join(idsA, Seq("id_a"), "left_semi")
    val dropIds =
      // id_a in batch, id_b stored -> drop id_a
      aInBatch.join(idsB, Seq("id_b"), "left_anti")
        .select(col("id_a").as(idCol))
      // id_b in batch, id_a stored -> drop id_b
      .unionByName(pairs.join(idsA, Seq("id_a"), "left_anti")
        .join(idsB, Seq("id_b"), "left_semi")
        .select(col("id_b").as(idCol)))
      // both in batch -> drop the larger id
      .unionByName(aInBatch.join(idsB, Seq("id_b"), "left_semi")
        .select(col("id_b").as(idCol)))
      .distinct()
    batch.join(dropIds, Seq(idCol), "left_anti")
  }
}
