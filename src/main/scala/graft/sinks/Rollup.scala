package graft.sinks

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate-table maintenance: a persistent rollup (count +
  * sums per group) updated from delta batches in O(delta) — never by
  * rescanning history. The batch-cadence generalization of the
  * reference's per-run accounting (K9 counts, F5 delta window): each run
  * folds its delta into the standing aggregate instead of recomputing
  * the aggregate over all history, which is the difference between a
  * maintenance job that reads a day and one that reads 100 TB.
  *
  * Only MERGEABLE aggregates are maintained: distributive ones (count,
  * sum — min/max would also qualify), whose stored partials merge by
  * the SAME operation, and SKETCH ones (`distinctCols` — DataSketches
  * HLL via `hll_sketch_agg`, merged with `hll_union_agg`), which make
  * COUNT DISTINCT maintainable in O(delta) — the aggregate a naive
  * rollup cannot fold because distinct is not distributive over
  * batches. Either way `maintain(b1); maintain(b2)` equals
  * `aggregate(b1 UNION b2)` — exactly for count/sum (the invariant the
  * oracled `rollup_incremental` query proves against DuckDB) and
  * within the published HLL error for sketches (spec-gated). Averages
  * and other algebraic forms derive at read time (sum/cnt); holistic
  * aggregates (exact percentiles) need the t-digest/CMS family
  * (ExtOpsSpec) instead.
  *
  * Scale shape: the delta is pre-aggregated (one map-combinable
  * shuffle), the standing table is read PARTITION-PRUNED to the groups
  * the delta touches (partition cols ⊆ group cols, same immutability
  * rule as Upsert), combined with one more small aggregation over
  * O(touched groups) rows, and committed touched-partitions-only —
  * untouched partitions are never listed, read, or rewritten.
  *
  * CRASH SAFETY — the fold is NON-idempotent (re-applying a delta
  * double-counts), so reruns need replay protection:
  *
  *  - `transactional = true` (recommended): commits through TxTable.
  *    The fold and its `deltaId` publish in ONE atomic manifest rename,
  *    so at every crash point the table holds either zero or exactly
  *    one application of the delta, and a rerun consults
  *    `appliedDeltaIds` and folds only if needed. Concurrent readers
  *    are safe throughout (snapshot isolation).
  *  - legacy layout (default, plain parquet directories): an applied-
  *    delta marker (`_applied/<deltaId>`) is written AFTER the commit
  *    and checked BEFORE folding, which makes rerun-after-SUCCESS a
  *    no-op. A crash INSIDE the multi-leaf commit window still leaves
  *    partially-swapped leaves that a rerun would double-fold — that
  *    window is inherent to non-atomic per-leaf renames: REBUILD the
  *    rollup from scratch after a crashed maintain(), or use the
  *    transactional mode, which closes the window completely.
  */
object IncrementalRollup {

  /** @param groupCols     grouping key of the maintained rollup
    * @param sumCols       measure -> stored-column-alias pairs; each stored
    *                      column is `sum(measure)` (exact for integral or
    *                      integer-valued-double measures; floating sums
    *                      merge associatively only up to reordering)
    * @param distinctCols  measure -> stored-column-alias pairs maintained
    *                      as mergeable HLL sketches (binary column);
    *                      estimate at read time with
    *                      `IncrementalRollup.distinctEstimate`
    * @param partitionBy   physical partition cols, must be group cols
    * @param deltaId       stable identifier of this delta batch (e.g. the
    *                      source partition/date it came from); enables
    *                      replay protection — reruns of an already-applied
    *                      delta are no-ops instead of double-counting
    * @param transactional commit through the TxTable manifest log (atomic
    *                      multi-partition publish, concurrent-reader safe,
    *                      crash+rerun exact); read the table back with
    *                      `TxTable.read`, not a plain parquet read
    * @param quantileCols  measure -> stored-column-alias pairs maintained
    *                      as mergeable KLL quantile sketches (binary
    *                      column, `functions.Kll`); estimate at read time
    *                      with `IncrementalRollup.quantileEstimate` —
    *                      published normalized-rank error, the fold-able
    *                      form of the holistic percentile
    * @param topkCols      measure -> stored-column-alias pairs maintained
    *                      as mergeable frequent-items sketches (binary
    *                      column, `functions.FreqItems`); read with
    *                      `IncrementalRollup.topkEstimate` — exact in the
    *                      bounded-cardinality regime, published
    *                      Misra-Gries error otherwise
    * @param thetaCols     measure -> stored-column-alias pairs maintained
    *                      as mergeable THETA sketches (binary column,
    *                      `functions.Theta`) — distinct counting WITH set
    *                      algebra: unlike HLL, stored theta sketches
    *                      support intersection/difference across groups
    *                      or rollup generations (`Theta
    *                      .intersectionEstimate`), exact below sketch
    *                      capacity; estimate with
    *                      `IncrementalRollup.thetaEstimate`
    */
  def apply(
      spark: SparkSession,
      delta: DataFrame,
      targetPath: String,
      groupCols: Seq[String],
      sumCols: Seq[(String, String)],
      partitionBy: Seq[String] = Nil,
      deltaId: Option[String] = None,
      transactional: Boolean = false,
      distinctCols: Seq[(String, String)] = Nil,
      quantileCols: Seq[(String, String)] = Nil,
      topkCols: Seq[(String, String)] = Nil,
      thetaCols: Seq[(String, String)] = Nil): Unit =
    maintain(spark, delta, targetPath, groupCols, sumCols, partitionBy,
      deltaId, transactional, distinctCols, quantileCols, topkCols,
      thetaCols, negate = false)

  /** Fold a DELETION into the standing rollup: subtract the deleted
    * rows' contribution from every count/sum measure — the mirror image
    * of a positive delta fold. The tombstone aggregates in O(tombstone);
    * the standing table is rewritten WHOLE (O(groups) — small by
    * construction, and a partial commit cannot express "this partition's
    * last group vanished"), which is the right trade for a rare
    * right-to-be-forgotten event. Feed it the tombstone frame from
    * `TxTable.deleteWhereTombstoned` (or any frame holding exactly the
    * removed rows) with the SAME groupCols/sumCols the rollup was
    * maintained with; groups whose count reaches zero are dropped from
    * the table.
    *
    * Sketch measures (HLL/KLL/FI/theta) are NOT subtractable — a sketch
    * folds unions only — so a rollup that stores any sketch column
    * refuses the fold with an error naming the columns: REBUILD that
    * rollup from the post-delete table instead. This is the
    * delete-vs-rollup contract: plain `deleteWhere` leaves standing
    * rollups stale with no signal; the tombstone + foldDeletion (or
    * rebuild-on-refusal) path is how callers keep them consistent.
    * Same `deltaId` replay protection as positive folds — give the
    * deletion its own stable id.
    */
  def foldDeletion(
      spark: SparkSession,
      deleted: DataFrame,
      targetPath: String,
      groupCols: Seq[String],
      sumCols: Seq[(String, String)],
      partitionBy: Seq[String] = Nil,
      deltaId: Option[String] = None,
      transactional: Boolean = false): Unit =
    maintain(spark, deleted, targetPath, groupCols, sumCols, partitionBy,
      deltaId, transactional, Nil, Nil, Nil, Nil, negate = true)

  private def maintain(
      spark: SparkSession,
      delta: DataFrame,
      targetPath: String,
      groupCols: Seq[String],
      sumCols: Seq[(String, String)],
      partitionBy: Seq[String],
      deltaId: Option[String],
      transactional: Boolean,
      distinctCols: Seq[(String, String)],
      quantileCols: Seq[(String, String)],
      topkCols: Seq[(String, String)],
      thetaCols: Seq[(String, String)],
      negate: Boolean): Unit = {
    require(groupCols.nonEmpty, "IncrementalRollup needs group columns")
    require(partitionBy.forall(groupCols.contains),
      s"partition columns must be group columns: partitionBy=$partitionBy " +
        s"groupCols=$groupCols")
    val reserved = "cnt" +:
      (sumCols ++ distinctCols ++ quantileCols ++ topkCols ++ thetaCols)
        .map(_._2)
    require(reserved.distinct.size == reserved.size &&
      !groupCols.exists(reserved.contains),
      s"stored-column aliases collide: $reserved vs $groupCols")

    // One file per partition, GUARANTEED: without aligning write tasks
    // to the partition columns, every task carrying rows for a leaf
    // emits its own file there — tasks × partitions small files. On a
    // tiny rollup AQE's shuffle coalescing masks it (few tasks anyway);
    // on a large one (millions of groups, no coalesce) the maintain
    // would fragment the very table it rereads on every run. The
    // repartition shuffles only the aggregated rows — O(groups), noise
    // next to the delta aggregation itself.
    def partitionAligned(df: DataFrame): DataFrame =
      if (partitionBy.isEmpty) df
      else df.repartition(partitionBy.map(col): _*)
    def deltaAgg = {
      // negate: the tombstone's partials enter with flipped sign, so the
      // merge path below SUBTRACTS them — same shuffle shape either way
      val cntAgg =
        if (negate) (-count(lit(1))).as("cnt") else count(lit(1)).as("cnt")
      def sumAgg(m: String) =
        if (negate) -sum(col(m)) else sum(col(m))
      val aggs = (cntAgg +:
        sumCols.map { case (m, a) => sumAgg(m).as(a) }) ++
        distinctCols.map { case (m, a) => hll_sketch_agg(col(m)).as(a) } ++
        quantileCols.map { case (m, a) =>
          graft.functions.Kll.sketchAgg(col(m)).as(a) } ++
        topkCols.map { case (m, a) =>
          graft.functions.FreqItems.sketchAgg(col(m)).as(a) } ++
        thetaCols.map { case (m, a) =>
          graft.functions.Theta.sketchAgg(col(m)).as(a) }
      partitionAligned(
        delta.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*))
    }
    val mergeAggs = (sum(col("cnt")).as("cnt") +:
      sumCols.map { case (_, a) => sum(col(a)).as(a) }) ++
      distinctCols.map { case (_, a) => hll_union_agg(col(a)).as(a) } ++
      quantileCols.map { case (_, a) =>
        graft.functions.Kll.mergeAgg(col(a)).as(a) } ++
      topkCols.map { case (_, a) =>
        graft.functions.FreqItems.mergeAgg(col(a)).as(a) } ++
      thetaCols.map { case (_, a) =>
        graft.functions.Theta.mergeAgg(col(a)).as(a) }
    def fold(existing: DataFrame, agg: DataFrame, cols: Seq[String]) = {
      val merged = existing
        .unionByName(agg.select(cols.map(col): _*))
        .groupBy(groupCols.map(col): _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .select(cols.map(col): _*)
      if (!negate) merged
      else {
        // a tombstone claiming rows the rollup never folded (wrong
        // groupCols, double-applied deletion without a deltaId, or a
        // tombstone from some other table) drives a count NEGATIVE —
        // loud failure, never a silently-corrupt standing aggregate.
        // Checkpointed so the assertion and the commit share one
        // computation of the O(groups) fold.
        val m = merged.localCheckpoint(false)
        val bad = m.filter(col("cnt") < 0)
          .select(groupCols.map(col): _*).limit(3).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          s"IncrementalRollup.foldDeletion: tombstone subtracts more rows " +
            s"than the rollup at $targetPath ever folded for group(s) " +
            s"${bad.map(_.toSeq.mkString("(", ",", ")")).mkString(", ")} — " +
            "wrong tombstone, wrong groupCols, or a replayed deletion " +
            "without a deltaId; rollup left unchanged")
        // a fully-deleted group merges to cnt=0 — drop it, or read-time
        // sum/cnt averages divide by zero on a ghost row
        m.filter(col("cnt") =!= 0)
      }
    }

    // deletions fold only into count/sum measures; a stored sketch
    // column cannot subtract, and a missing table has nothing to
    // subtract FROM — both are caller contract errors, never silent
    def guardDeletionTarget(existingAll: DataFrame): Unit = {
      val expected = (groupCols ++ ("cnt" +: sumCols.map(_._2))).toSet
      val extra = existingAll.columns.filterNot(expected)
      if (negate && extra.nonEmpty) throw new IllegalStateException(
        s"IncrementalRollup.foldDeletion: rollup at $targetPath stores " +
          s"sketch measure column(s) ${extra.mkString(", ")} — sketches " +
          "cannot fold deletions; rebuild the rollup from the " +
          "post-delete table")
    }

    if (transactional) {
      TxTable.currentManifest(spark, targetPath) match {
        case cur if deltaId.exists(id =>
            cur.exists(_.deltaIds.contains(id))) =>
          () // already folded — atomic with the fold itself, so this
             // check is exact at every crash point
        case None =>
          if (negate) throw new IllegalStateException(
            s"IncrementalRollup.foldDeletion: no rollup at $targetPath " +
              "to subtract from")
          TxTable.commit(spark, deltaAgg, targetPath, partitionBy,
            deltaId, replaceAll = true)
          ()
        case Some(m) =>
          val existingAll = TxTable.read(spark, targetPath).get
          guardDeletionTarget(existingAll)
          val agg = deltaAgg
          SchemaGuard.requireAligned(spark, agg, existingAll, partitionBy, targetPath)
          if (negate)
            // deletions fold against the WHOLE standing table and commit
            // replaceAll: a partition whose last group vanishes cannot be
            // expressed by a partial commit (an empty write has no
            // touched-set), and the rollup is O(groups) by construction,
            // so the full rewrite is cheap — and right-to-be-forgotten
            // deletes are rare next to positive folds
            TxTable.commit(spark,
              partitionAligned(
                fold(existingAll, agg, existingAll.columns.toSeq)),
              targetPath, partitionBy, deltaId, replaceAll = true,
              expectedVersion = Some(m.version))
          else {
            val existing = Upsert.prunedExisting(agg, existingAll, partitionBy)
            TxTable.commit(spark,
              partitionAligned(fold(existing, agg, existingAll.columns.toSeq)),
              targetPath, partitionBy, deltaId,
              expectedVersion = Some(m.version))
          }
          ()
      }
      return
    }

    // ---- legacy plain-directory layout ------------------------------
    val p0 = new Path(targetPath)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = deltaId.map(id => new Path(p0, s"_applied/$id"))
    if (marker.exists(fs.exists(_))) return // rerun after success: no-op

    // heal a crashed previous swap BEFORE reading (see Upsert)
    SwapUtil.recoverUnder(fs, p0)

    if (!UpsertIgnore.targetExists(spark, targetPath)) {
      if (negate) throw new IllegalStateException(
        s"IncrementalRollup.foldDeletion: no rollup at $targetPath " +
          "to subtract from")
      // staged, not written in place: a crash mid-first-write must not
      // leave a partial table that the next run folds a delta into
      MergeWrite.commitStaged(spark, deltaAgg, targetPath, partitionBy,
        "IncrementalRollup")
    } else {
      val existingAll =
        MergeWrite.readNoInference(spark, targetPath, partitionBy.nonEmpty)
      guardDeletionTarget(existingAll)
      val agg = deltaAgg
      SchemaGuard.requireAligned(spark, agg, existingAll, partitionBy, targetPath)
      if (negate) {
        // same whole-table discipline as the transactional branch — a
        // per-leaf swap cannot make a vanished partition disappear. The
        // table is staged complete WITH its `_applied` ledger (copied,
        // plus this delta's marker) and swapped as ONE directory, so the
        // fold and its ledger publish together; a crash between the
        // renames is healed whole by recoverUnder.
        val folded = partitionAligned(
          fold(existingAll, agg, existingAll.columns.toSeq))
        val ledger = new Path(p0, "_applied")
        SwapUtil.replace(fs, p0, "IncrementalRollup.foldDeletion") { tmp =>
          MergeWrite.writeTo(folded, partitionBy)(tmp)
          if (fs.exists(ledger))
            FileUtil.copy(fs, ledger, fs, new Path(tmp, "_applied"), false,
              spark.sparkContext.hadoopConfiguration)
          marker.foreach(mk =>
            fs.create(new Path(tmp, s"_applied/${mk.getName}"), true).close())
        }
      } else {
        val existing = Upsert.prunedExisting(agg, existingAll, partitionBy)
        MergeWrite.commitStaged(spark,
          partitionAligned(fold(existing, agg, existingAll.columns.toSeq)),
          targetPath, partitionBy, "IncrementalRollup")
      }
    }
    marker.foreach { mk => fs.mkdirs(mk.getParent); fs.create(mk, true).close() }
  }

  /** Read-time distinct estimate over a stored HLL sketch column (the
    * `distinctCols` stored form). Pure Column expression.
    */
  def distinctEstimate(sketch: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    hll_sketch_estimate(sketch)

  /** Read-time q-quantile estimate over a stored KLL sketch column (the
    * `quantileCols` stored form). O(groups) rows.
    */
  def quantileEstimate(sketch: org.apache.spark.sql.Column, q: Double): org.apache.spark.sql.Column =
    graft.functions.Kll.quantile(sketch, q)

  /** Read-time top-k estimate over a stored frequent-items sketch column
    * (the `topkCols` stored form): array of (item, estimate), count-desc.
    * O(groups) rows.
    */
  def topkEstimate(sketch: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    graft.functions.FreqItems.topK(sketch, k)

  /** Read-time distinct estimate over a stored THETA sketch column (the
    * `thetaCols` stored form) — exact below sketch capacity. For set
    * algebra between stored sketches (overlap between groups or
    * generations) use `functions.Theta.intersectionEstimate` /
    * `unionEstimate` on the collected sketch bytes — O(groups) rows.
    */
  def thetaEstimate(sketch: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf((b: Array[Byte]) =>
      graft.functions.Theta.estimate(b)).apply(sketch)
}
