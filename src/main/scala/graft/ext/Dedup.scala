package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Deduplication family for LLM-data pipelines (SURVEY §2.11):
  * exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale design: every method is shuffle-bounded by the CANDIDATE set,
  * never all-pairs. MinHash-LSH shuffles on (band, bandHash) buckets so
  * only same-bucket documents are ever compared — the O(n²) verify of a
  * naive approach becomes O(sum over buckets of |bucket|²), which with
  * honest banding parameters is near-linear. SimHash is a single
  * map-side expression producing a 64-bit key; near-dup lookup is a
  * groupBy on rotated key prefixes. Nothing here collects to the driver.
  */
object Dedup {

  /** Exact dedup by content hash: keep the lowest-id row per distinct
    * value of `cols` — one hash shuffle, map-side combinable. Returns the
    * dedup REPORT (content_hash, keep_id, dup_count); `exactSurvivors`
    * materializes the surviving rows themselves.
    */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(md5(concat_ws("\u0000", cols.map(col): _*)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup returning the SURVIVING ROWS (all original columns): the
    * lowest-id row per distinct value of `cols`. The row-level complement
    * of `exact`'s report — what a curation pipeline actually keeps
    * (Curation composes it).
    *
    * Shape: the same one map-combinable hash shuffle as `exact`, then a
    * semi-join of the corpus against the keep-id set on the (unique) id —
    * O(distinct contents) build side, never a second content shuffle.
    */
  def exactSurvivors(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.join(
      exact(df, idCol, cols).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  // ---------------------------------------------------------------- MinHash

  /** Word n-gram shingles of the whitespace tokens; short docs fall back
    * to a single whole-doc shingle so they still get a signature.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band to a bucket key. Two docs sharing ANY band bucket are
    * candidates. Returns (band, bucket) rows ready for a groupBy.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)),
            x => x.cast("string")))).as("bucket")))

  /** Full MinHash-LSH near-duplicate pairs with exact-Jaccard verification
    * of candidates only. Output: (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold.
    *
    * Shuffles: one on (band,bucket) to form candidates, one
    * distinct on pairs. The verify joins back to the token sets by id —
    * broadcast-able when the candidate set is small (the common case).
    */
  /** In-bucket ordered pair expansion: ids (sorted) → all (id_a < id_b)
    * pairs as one array, exploded by the caller. Replaces a bucket
    * self-join — no recomputation of the upstream pipeline on two join
    * sides, no join at all for candidate generation.
    */
  private[graft] def pairExpansion(ids: Column): Column =
    flatten(transform(sequence(lit(1), size(ids) - 1),
      i => transform(slice(ids, i + lit(1), size(ids) - i),
        y => struct(element_at(ids, i).as("id_a"), y.as("id_b")))))

  /** (doc_id, hset): distinct xxhash64'd shingles per document — the
    * materialization every MinHash stage (signatures, exact-Jaccard
    * verification, the durable signature store) works from.
    *
    * Shingles are hashed to longs ONCE: embedding the shingle-building
    * expression inside the per-seed signature lambda would re-evaluate
    * it numHashes times per row (measured 30x slower). Callers
    * localCheckpoint the result when it is consumed more than once.
    */
  private[graft] def hashedShingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      array_distinct(transform(shingles(col(textCol), shingleN),
        sh => xxhash64(sh))).as("hset"))

  /** (doc_id, sig) MinHash signatures over hashed shingle sets: the
    * native single-pass expression (graft_minhash) when the session has
    * GraftExtensions — map-side at scan speed, NO shuffle — else
    * explode + codegen'd min-aggregates (map-side partial min per seed,
    * one shuffle on doc_id). The fallback exists so an uninstrumented
    * session still works; the permutation schemes differ (fmix64 vs
    * seeded xxhash64) but both are sound MinHash families — recall
    * against planted ground truth is gated either way
    * (ext_minhash_recall, RecallSpec).
    *
    * `family` pins the permutation scheme regardless of what the session
    * has: signatures from different families are mutually meaningless,
    * so anything DURABLE (the IncrementalDedup store) must force the
    * family it was created with — `Some("native")` fails loudly when the
    * session cannot reproduce fmix64, `Some("fallback")` runs the seeded
    * xxhash64 form even when the native expression is available.
    */
  private[graft] def minhashSigsOf(
      hashed: DataFrame,
      numHashes: Int,
      family: Option[String] = None): DataFrame = {
    val useNative = family match {
      case Some("native") =>
        require(hashed.sparkSession.catalog.functionExists("graft_minhash"),
          "minhash family 'native' required (durable signatures were built " +
            "with graft_minhash/fmix64) but this session has no " +
            "GraftExtensions — its signatures would be disjoint from the " +
            "stored ones; install spark.sql.extensions=" +
            "graft.functions.GraftExtensions")
        true
      case Some("fallback") => false
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown minhash family '$other'")
      case None => hashed.sparkSession.catalog.functionExists("graft_minhash")
    }
    if (useNative)
      hashed.select(col("doc_id"),
        call_function("graft_minhash", col("hset"), lit(numHashes)).as("sig"))
    else {
      val aggCols =
        (0 until numHashes).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
      hashed
        .select(col("doc_id"), explode(col("hset")).as("h"))
        .groupBy("doc_id")
        .agg(aggCols.head, aggCols.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"))
    }
  }

  /** (doc_id, band, bucket) LSH band rows — the join key space of
    * candidate generation, and the row format of the durable signature
    * store (IncrementalDedup).
    */
  private[graft] def bandRowsOf(
      sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(col("doc_id"),
        explode(lshBands(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** Exact-Jaccard verification of candidate pairs against the hashed
    * shingle sets, threshold-filtered. `setsA`/`setsB` may be different
    * tables (IncrementalDedup verifies a new batch against the stored
    * corpus sets).
    */
  private[graft] def verifyJaccard(
      candidates: DataFrame, // (id_a, id_b)
      setsA: DataFrame,      // (doc_id, hset)
      setsB: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(setsA.select(col("doc_id").as("id_a"), col("hset").as("set_a")), "id_a")
      .join(setsB.select(col("doc_id").as("id_b"), col("hset").as("set_b")), "id_b")
      .withColumn("jaccard",
        round(size(array_intersect(col("set_a"), col("set_b"))) /
          greatest(size(array_union(col("set_a"), col("set_b"))), lit(1)), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 2000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // localCheckpoint (lazy) rather than persist: lineage is truncated at
    // first use, and the storage is released by the ContextCleaner as soon
    // as the caller drops the returned plan — cache lifetime is bounded by
    // plan reachability, not by the session. (At cluster scale the durable
    // form is a written intermediate; single-JVM local mode cannot lose
    // checkpoint blocks.)
    val hashed = hashedShingleSets(df, idCol, textCol, shingleN)
      .localCheckpoint(false)
    val sigs = minhashSigsOf(hashed, numHashes)

    // (band, bucket) -> sorted member list -> in-bucket pairs. One shuffle.
    // Buckets above maxBucket are degenerate (a corpus-wide similarity
    // cluster): their pair count is quadratic by definition, so they are
    // dropped rather than allowed to blow up the job — collapse exact
    // duplicates first or raise the threshold to handle such corpora.
    val candidates = bandRowsOf(sigs, bands, rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    // Exact Jaccard verification on hashed shingle sets, candidates only.
    verifyJaccard(candidates, hashed, hashed, threshold)
  }

  /** Full corpus-level dedup: near-dup pairs → connected components →
    * one canonical document per duplicate cluster (what a production
    * training-data pipeline actually runs; pairs alone under-merge when
    * A~B and B~C but A!~C).
    *
    * Components: driver union-find under `driverMaxEdges`, else
    * distributed alternating large-star/small-star contraction —
    * O(log n) rounds regardless of component diameter, with a loud
    * failure (never silent wrong labels) if `maxIters` is ever hit.
    *
    * Returns (doc_id, canonical_id); canonical_id == min doc_id of the
    * component; docs with no near-dup keep themselves.
    */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleN: Int = 3,
      maxIters: Int = 10,
      driverMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    componentsFromPairs(df, idCol,
      minhashNearDups(df, idCol, textCol, threshold, shingleN = shingleN),
      maxIters, driverMaxEdges)
  }

  /** Connected components over an explicit duplicate-pair graph
    * `(id_a, id_b)`: the component machinery of `dedupCorpus`, exposed so
    * ANY pair source (minhash, simhash, RP-LSH, an oracle-able exact
    * ground truth) can drive the same canonical-id assignment. Returns
    * (id, canonical_id) over the full corpus; docs in no pair keep
    * themselves. `driverMaxEdges = 0` forces the distributed
    * star-contraction path (used by the correctness gate to oracle BOTH
    * paths against the same DuckDB recursive-CTE restatement).
    */
  def componentsFromPairs(
      df: DataFrame,
      idCol: String,
      pairsIn: DataFrame,
      maxIters: Int = 10,
      driverMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    // pairs is consumed repeatedly (count, then forward + reversed or a
    // driver collect) — materialize, or the whole upstream pair pipeline
    // runs per use. Lazy localCheckpoint: same reuse as persist, but
    // lineage-truncated and released on plan GC rather than leaked for
    // the session (see minhashNearDups).
    val pairs = pairsIn.select("id_a", "id_b").localCheckpoint(false)

    // The candidate graph is tiny relative to the corpus in any healthy
    // dedup run (dup pairs << docs). Under driverMaxEdges, union-find on
    // the driver is exact, one-pass, and avoids paying per-iteration job
    // overhead for a graph of a few hundred nodes; the distributed
    // star-contraction below is the >driver-memory escape hatch.
    val edgeCnt = pairs.count()
    if (edgeCnt <= driverMaxEdges)
      return dedupCorpusDriver(df, idCol, pairs)

    // Alternating large-star / small-star contraction (the MapReduce CC
    // algorithm of Kiveris et al., SoCC'14; also what GraphFrames ships):
    // O(log n) rounds regardless of graph diameter, vs O(diameter) for
    // plain min-label propagation — a 10k-link chain of serial
    // near-copies converges in ~15 rounds, not 10k. Invariants:
    //   large-star: every node connects its STRICTLY LARGER neighbors to
    //     the minimum of its closed neighborhood → output edges (u, v)
    //     all satisfy u > v;
    //   small-star: every node folds its (all smaller) neighbors plus
    //     itself onto the minimum neighbor.
    // The fixed point is one star per component centered at its min id.
    //
    // Scale posture: the dup graph is tiny next to the corpus, so the
    // per-round shuffles are coalesced to `parts` partitions sized from
    // the edge count instead of inheriting the session's width, and each
    // round runs exactly ONE action — the convergence signature
    // (count, bit_xor of xxhash64 over the edge set) is computed by the
    // same job that materializes the round's checkpoint, not by a
    // separate changed-count job. Signature equality across rounds ==
    // edge-set equality up to a 2^-64 hash collision (count always
    // exact).
    val parts = math.max(2, math.min(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      (edgeCnt / 100000L).toInt + 1))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // repartition(parts, u) hash-distributes on the window key, so the
      // Window reuses it instead of adding a session-width exchange
      sym.repartition(parts, col("u"))
        .withColumn("m",
          least(col("u"), min("v").over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input invariant u > v, so min(v) over the neighborhood IS the
      // closed-neighborhood minimum
      val withM = e.repartition(parts, col("u"))
        .withColumn("m", min("v").over(Window.partitionBy("u")))
      withM.select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .repartition(parts, col("u"), col("v"))
        .dropDuplicates("u", "v")
    }
    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: summing 64-bit hashes overflows Long under
      // ANSI mode; xor over the (distinct) edge set is order-independent
      // and overflow-free with the same 2^-64 collision class
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // Each round is lineage-TRUNCATED (lazy localCheckpoint, materialized
    // by the round's signature action): the alternating-star plan doubles
    // per round, so round N's un-truncated tree is 4^N nodes — plain
    // persist keeps that lineage and planning/treeString blows the heap
    // before the data ever would. Checkpoint blocks release on plan GC.
    var edges = smallStar(largeStar(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("u") =!= col("v")))).localCheckpoint(false)
    var sig = signature(edges)
    var converged = false
    var i = 1
    while (!converged && i < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = signature(next)
      edges = next
      converged = nextSig == sig
      sig = nextSig
      i += 1
    }
    if (!converged) {
      // NEVER return silently-unconverged labels: downstream keep-one
      // dedup would keep several docs of one component. log-round
      // contraction makes maxIters=10 cover ~2^10 diameters, so hitting
      // the cap means something is genuinely wrong.
      throw new IllegalStateException(
        s"componentsFromPairs: connected components not converged after " +
          s"$maxIters large-star/small-star rounds ($edgeCnt input edges) — " +
          "raise maxIters; labels would be non-canonical")
    }

    // Fixed point = star per component: every non-root graph node appears
    // exactly once as u with v = its component minimum; roots and
    // isolated corpus docs keep themselves.
    val nodes = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .distinct().localCheckpoint(false)
    val starLabels = edges.select(col("u").as("id"), col("v").as("canonical_id"))
    val roots = nodes.join(starLabels, Seq("id"), "left_anti")
      .withColumn("canonical_id", col("id"))
    val isolated = df.select(col(idCol).as("id"))
      .join(nodes, Seq("id"), "left_anti")
      .withColumn("canonical_id", col("id"))
    // Checkpointed EAGERLY (this path already ran jobs per round) so the
    // returned plan depends only on checkpoint blocks; the loop rounds'
    // checkpoint blocks release on plan GC.
    starLabels.unionByName(roots).unionByName(isolated)
      .localCheckpoint(true)
  }

  /** Driver-side exact connected components over a collected edge list:
    * union-find with path compression, canonical = min id per component.
    * The broadcast label map joins back against the full corpus.
    */
  private def dedupCorpusDriver(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val edgeList = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labelMap = (edgeList.flatMap(e => Seq(e._1, e._2)).distinct)
      .map(id => (id, find(id)))
    val spark = df.sparkSession
    import spark.implicits._
    val labeled = labelMap.toSeq.toDF("id", "canonical_id")
    df.select(col(idCol).as("id"))
      .join(broadcast(labeled), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }

  /** Representative selection by QUALITY, not arrival order: the
    * component machinery keeps the min id per duplicate cluster — right
    * for determinism, wrong for corpus value when the earliest-crawled
    * copy is the boilerplate-mangled one. This labels every doc with its
    * cluster AND the member that should survive: the max-`scoreCol`
    * member, ties broken toward the min id so the assignment stays total
    * and deterministic. Returns (id, canonical_id, rep_id, rep_score).
    *
    * Scale shape: the argmax runs only over docs that appear in the pair
    * graph (dup pairs << corpus in any healthy run), so the per-component
    * reduction is graph-sized; the corpus pays exactly the joins the
    * label assignment already paid, plus one join against the graph-sized
    * `best` frame (broadcast by AQE when it is as small as it should be).
    * Singleton components never enter the aggregation — they represent
    * themselves via coalesce.
    */
  def keepBestByScore(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairsIn: DataFrame,
      maxIters: Int = 10,
      driverMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    val pairs = pairsIn.select("id_a", "id_b")
    val labels = componentsFromPairs(df, idCol, pairs, maxIters,
      driverMaxEdges)
    val inGraph = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val scores = df.select(col(idCol).as("id"),
      col(scoreCol).cast("double").as("_s"))
    // per-component argmax as ONE map-combinable aggregate: max of
    // (score, -id) structs is lexicographic, so ties fall to the min id
    val best = labels.join(inGraph, Seq("id"), "left_semi")
      .join(scores, "id")
      .groupBy("canonical_id")
      .agg(max(struct(col("_s").as("s"), negate(col("id")).as("negid")))
        .as("b"))
      .select(col("canonical_id"), col("b.s").as("_bs"),
        negate(col("b.negid")).as("_bid"))
    labels.join(best, Seq("canonical_id"), "left_outer")
      .join(scores, "id")
      .select(col("id"), col("canonical_id"),
        coalesce(col("_bid"), col("id")).as("rep_id"),
        coalesce(col("_bs"), col("_s")).as("rep_score"))
  }

  /** The surviving rows themselves: `df` filtered to each cluster's
    * chosen representative (a semi-join — no corpus-wide row rewrite).
    */
  def keepBestSurvivors(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairsIn: DataFrame,
      maxIters: Int = 10,
      driverMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    val reps = keepBestByScore(df, idCol, scoreCol, pairsIn, maxIters,
        driverMaxEdges)
      .filter(col("id") === col("rep_id"))
      .select(col("id").as(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes, packed into one long. Map-side expression only — the 64 bit
    * positions are unrolled at plan-build time (static shifts), and the
    * disjoint-bit partial values sum without carries, so + == bitwise OR.
    */
  def simhash(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    (0 until 64).map { b =>
      val bitSum = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-dup pairs via pigeonhole chunk-blocking (the classic
    * Manku-style design): the 64-bit hash is split into maxHamming+1
    * chunks; any pair with hamming <= maxHamming must agree on at least
    * one whole chunk, so candidates are exactly the same-chunk-value
    * groups — no all-pairs join, no recall loss. Verification is a cheap
    * codegen'd bit_count on the candidate pairs only.
    */
  /** (doc_id, sh): the 64-bit SimHash signature per document — the
    * native single-pass expression (graft_simhash) when the session has
    * GraftExtensions: one traversal of the token-hash array, map-side,
    * NO shuffle, bit-identical to the declarative forms (asserted in
    * specs) — else explode + 64 codegen'd sum-aggregates (map-side
    * partial sums, one shuffle on doc_id). Shared by the one-shot pair
    * search and the persisted [[SimhashIndex]].
    *
    * ROW-IDENTICAL across the two forms by contract (asserted in
    * ExtSpec): an EMPTY/whitespace-only document tokenizes to one
    * empty-string token (Java split quirk: `"".split` -> `[""]`), so
    * every empty doc shares ONE constant signature in both forms; a
    * NULL text hashes to NULL sh in both (the image family's
    * null-signature convention; callers filter or let the chunk explode
    * drop it); and a genuinely EMPTY token array — reachable if the
    * tokenizer ever changes — hashes to 0 in both (every per-bit vote
    * ties). The declarative aggregate would silently DROP null-text and
    * empty-array rows (explode yields nothing), so it left-joins back
    * to the input ids and fills each hole with the NULL/0 the native
    * path computes. Deliberate semantics: empty docs DO index and DO
    * pair with each other — identical empty content is a true duplicate
    * class — and the degenerate-cluster hazard (every empty doc
    * mutually Hamming-0) is bounded by the same `maxBucket` hub cap
    * that bounds every other blocking bucket.
    */
  private[graft] def simhashFrame(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokenHashArr =
      transform(TextAnalysis.tokens(col(textCol)), t => xxhash64(t))
    if (df.sparkSession.catalog.functionExists("graft_simhash"))
      df.select(col(idCol).as("doc_id"),
        call_function("graft_simhash", tokenHashArr).as("sh"))
    else {
      val bitCols = (0 until 64).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$b"))
      val packed = (0 until 64).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      val voted = df
        .select(col(idCol).as("doc_id"), explode(tokenHashArr).as("h"))
        .groupBy("doc_id")
        .agg(bitCols.head, bitCols.tail: _*)
        .select(col("doc_id"), packed.as("sh"))
      df.select(col(idCol).as("doc_id"), tokenHashArr.as("__th"))
        .join(voted, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__th").isNull, lit(null).cast("long"))
            .otherwise(coalesce(col("sh"), lit(0L))).as("sh"))
    }
  }

  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 2000): DataFrame = {
    val sh = simhashFrame(df, idCol, textCol).localCheckpoint(false)
    hammingCandidates(sh, maxHamming, maxBucket)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Pigeonhole chunk-blocking over a 64-bit signature table
    * `(doc_id, sh)`: split the hash into maxHamming+1 chunks — any pair
    * with hamming <= maxHamming must agree on at least one whole chunk —
    * and emit the same-chunk-value candidate pairs. Shared by SimHash
    * near-dup (text) and random-hyperplane LSH (embeddings); callers
    * verify candidates with their own exact metric.
    */
  /** Pigeonhole signature chunks of a 64-bit simhash/RP-LSH signature:
    * maxHamming+1 disjoint bit ranges as (chunk, cval) structs — two
    * signatures within `maxHamming` bits MUST agree on at least one
    * chunk, the blocking guarantee both the one-shot and incremental
    * embedding dedups probe on.
    */
  private[graft] def shChunks(sh: Column, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"chunk blocking needs 0 <= maxHamming <= 31, got $maxHamming")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    array((0 until nChunks).map { c =>
      val piece =
        if (c == nChunks - 1) shiftrightunsigned(sh, c * chunkBits)
        else shiftrightunsigned(sh, c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1))
      struct(lit(c).as("chunk"), piece.as("cval"))
    }: _*)
  }

  private[graft] def hammingCandidates(
      sh: DataFrame, // (doc_id, sh: long)
      maxHamming: Int,
      maxBucket: Int): DataFrame = {
    // 64/(maxHamming+1) must leave >= 1 bit per chunk or every row lands
    // in one degenerate bucket (all chunk values 0) — reject loudly
    sh
      .select(col("doc_id"), explode(shChunks(col("sh"), maxHamming)).as("cc"))
      .groupBy(col("cc.chunk"), col("cc.cval"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  // ------------------------------------------------------------- n-gram Jaccard

  /** Distinct character n-grams of a text column. */
  def charNgrams(c: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => substr(c, i, lit(n))))

  /** All-pairs character-n-gram-Jaccard ground truth over a BOUNDED
    * universe: (id_a, id_b, jaccard3) for every pair at or above
    * `threshold`. Grams are computed once per document (not per pair) and
    * the arithmetic mirrors the DuckDB oracle exactly
    * (len(intersect)/len(distinct-union), round 6), so recall queries can
    * hash-compare: a near-dup pipeline that misses any planted pair
    * produces fewer rows than the oracle and fails the gate outright.
    * Quadratic BY DESIGN — this is the measuring stick, not the pipeline;
    * callers bound the universe (doc_id range) before calling.
    */
  def ngramGroundTruthPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    // Gram sets are xxhash64'd to longs: array_distinct / array_intersect
    // on non-primitive (string) arrays fall off Spark's primitive fast
    // path into quadratic equality scans — ~50x slower on 2k-gram docs.
    // Set SIZES are identical to the string form absent a 64-bit collision
    // (P < 1e-8 for a 1M-gram corpus, and deterministic for fixed data),
    // so the jaccard matches the string-based DuckDB oracle bit-for-bit —
    // proven by the ext_minhash_recall/ext_corpus_recall gate each round.
    // Sorted once per doc: the per-pair intersection is then a zero-alloc
    // merge walk (graft_isect) instead of a hash-set build per pair.
    val raw = transform(
      sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
      i => xxhash64(substr(col(textCol), i, lit(n))))
    val g = df.select(col(idCol).as("gid"), sort_array(array_distinct(raw)).as("grams"))
      .withColumn("ng", size(col("grams")))
    // UNCONDITIONAL spread, deliberately: callers bound the universe with
    // a pushed filter (doc_id range), which on a multi-split corpus can
    // leave every surviving row in ONE split — a split-COUNT check
    // (spreadIfNarrow) would pass it through and run the quadratic pair
    // loop on a single core. The shuffled payload is the bounded
    // universe's gram arrays — negligible by construction.
    val gx = g.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    // Lossless length prefilter: jaccard = |∩|/|∪| <= min(|A|,|B|)/max(|A|,|B|),
    // so any pair at or above `threshold` must have gram-set sizes within
    // that ratio — evaluated as part of the join condition, it prunes the
    // quadratic pair set to near-dup-length pairs before the expensive
    // set intersection runs. (Slack of 1e-3 covers the round(_, 6) edge.)
    // |A∩B| via merge walk on the sorted sets when the native expression
    // is registered; |A∪B| = |A| + |B| - |A∩B|. Counts — and therefore
    // the jaccard — are identical to the array_intersect/array_union
    // fallback (asserted in ExtSpec).
    val inter =
      if (df.sparkSession.catalog.functionExists("graft_isect"))
        call_function("graft_isect", col("x.grams"), col("y.grams"))
      else size(array_intersect(col("x.grams"), col("y.grams")))
    gx.as("x").join(g.as("y"), col("x.gid") < col("y.gid") &&
        least(col("x.ng"), col("y.ng")).cast("double") >=
          greatest(col("x.ng"), col("y.ng")) * lit(threshold - 0.001))
      .withColumn("__i", inter)
      .select(col("x.gid").as("id_a"), col("y.gid").as("id_b"),
        round(col("__i") /
          greatest(col("x.ng") + col("y.ng") - col("__i"), lit(1))
            .cast("double"), 6).as("jaccard3"))
      .filter(col("jaccard3") >= threshold)
  }

  /** Exact substring-match dedup (the "shares any >= minLen-character
    * substring" criterion of published exact-substring deduplication):
    * document pairs where one string of `minLen` characters appears
    * verbatim in both. Long thresholds make this the high-precision
    * complement of MinHash — boilerplate quotations and copy-paste spans
    * match even when the documents' overall Jaccard is low. Documents
    * shorter than minLen cannot contain such a span and emit nothing
    * (two identical 10-char docs are NOT a 40-char substring match).
    *
    * Shape — winnowed fingerprints, then exact verification:
    *
    *  1. Each doc hashes its g-grams (g = minLen - window + 1) map-side
    *     and SELECTS only each window-of-`window`'s minimum hash — the
    *     winnowing scheme of Schleimer et al. (SIGMOD'03, MOSS). The
    *     selection depends only on content, so any two docs sharing a
    *     span of >= g + window - 1 = minLen chars share a whole window
    *     of identical gram hashes and therefore its selected minimum:
    *     candidate recall is 1.0 BY CONSTRUCTION while only ~2/window
    *     of the gram rows ever leave the scan (the naive one-row-per-
    *     position explode is the corpus's character count).
    *  2. One groupBy on the fingerprint forms buckets; in-bucket ordered
    *     pair expansion with the standard `maxBucket` degenerate-gram
    *     cap (a fingerprint shared by thousands of docs is template
    *     boilerplate — cap it like every LSH bucket here).
    *  3. A selected g-gram match only proves a shared g-char span, so
    *     candidates VERIFY against the full minLen-gram sets — computed
    *     only for the colliding docs (semi-join pruned, the
    *     IncrementalDedup discipline), never for the corpus.
    *
    * Equality is by 64-bit gram hash — deterministic, with the same
    * negligible-collision argument as the hashed-gram ground truth
    * (`ngramGroundTruthPairs`).
    */
  def sharedSubstringPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      maxBucket: Int = 2000,
      window: Int = 16): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minLen >= window + 1,
      s"minLen must be >= window + 1 (need gram length >= 2), got minLen=$minLen window=$window")
    val g = minLen - window + 1
    // docs below minLen chars have no minLen-span — no grams, no pairs
    val eligible = df
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .localCheckpoint(false) // consumed by fingerprints AND verification
    val candidates = eligible
      .withColumn("__fp_h", gramHashes(col("__text"), g))
      .select(col("doc_id"),
        explode(winnowSelect(col("__fp_h"), window)).as("fp"))
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(pairExpansion(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
      .localCheckpoint(false) // prunes the verify sets AND joins them
    // exact verification on full minLen-gram sets of colliding docs only
    val fullSets = eligible
      .join(candidates
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), fullGramSet(col("__text"), minLen).as("grams"))
    candidates
      .join(fullSets.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(fullSets.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .filter(sharesGram(df.sparkSession, col("ga"), col("gb")))
      .select("id_a", "id_b")
  }

  /** xxhash64 of every g-char gram at every position of `text` — the
    * raw input to winnowing; callers materialize it in a column before
    * `winnowSelect` so the array is built once per row, not re-derived
    * inside the selection lambda.
    */
  private[graft] def gramHashes(text: Column, g: Int): Column =
    transform(sequence(lit(1), length(text) - (g - 1)),
      i => xxhash64(substr(text, i, lit(g))))

  /** Winnowing selection (Schleimer et al.): the minimum hash of every
    * `window` consecutive gram hashes, deduped. Content-determined, so
    * two texts sharing any span of >= g + window - 1 chars share a
    * selected fingerprint.
    */
  private[graft] def winnowSelect(hashCol: Column, window: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(hashCol) - (window - 1)),
      j => array_min(slice(hashCol, j, lit(window)))))

  /** The full sorted minLen-gram hash set — the exact-verification
    * surface for winnowed candidates (sorted so `graft_isect` can merge-
    * walk it).
    */
  private[graft] def fullGramSet(text: Column, minLen: Int): Column =
    sort_array(array_distinct(gramHashes(text, minLen)))

  /** Non-empty gram-set intersection, via the native merge walk when the
    * session has it.
    */
  private[graft] def sharesGram(
      spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    if (spark.catalog.functionExists("graft_isect"))
      call_function("graft_isect", a, b) > 0
    else size(array_intersect(a, b)) > 0

  /** Character n-gram Jaccard similarity between two text columns. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = charNgrams(a, n)
    val gb = charNgrams(b, n)
    round(size(array_intersect(ga, gb)) /
      greatest(size(array_union(ga, gb)), lit(1)).cast("double"), 6)
  }
}
