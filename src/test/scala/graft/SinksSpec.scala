package graft

import org.apache.spark.sql.functions._
import graft.sinks.{IncrementalRollup, MergeOverwrite, RestSink, Upsert, UpsertIgnore}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Double)*) =
    rows.toDF("currency", "timestamptz", "rate")

  test("K5 upsert-ignore: first run inserts all, rerun inserts none (idempotent)") {
    val dir = tmpDir("k5") + "/t"
    val b = batch(("USD", "2026-08-11T16:00", 1.08), ("GBP", "2026-08-11T16:00", 0.84))
    val r1 = UpsertIgnore(spark, b, dir, Seq("currency", "timestamptz"))
    assert(r1 == UpsertIgnore.Result(inserted = 2, skipped = 0))
    val r2 = UpsertIgnore(spark, b, dir, Seq("currency", "timestamptz"))
    assert(r2 == UpsertIgnore.Result(inserted = 0, skipped = 2))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("K5: overlapping batch inserts only the unseen keys") {
    val dir = tmpDir("k5b") + "/t"
    UpsertIgnore(spark, batch(("USD", "d1", 1.0), ("GBP", "d1", 2.0)), dir,
      Seq("currency", "timestamptz"))
    val r = UpsertIgnore(spark,
      batch(("USD", "d1", 9.9), ("JPY", "d1", 3.0)), dir,
      Seq("currency", "timestamptz"))
    assert(r == UpsertIgnore.Result(inserted = 1, skipped = 1))
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    // existing USD row untouched (INSERT OR IGNORE, not upsert-update)
    assert(t.filter(col("currency") === "USD").select("rate").head().getDouble(0) == 1.0)
  }

  test("K5 with pruneCol: prunes existing scan by batch key range, still correct") {
    val dir = tmpDir("k5c") + "/t"
    val old = Seq(("USD", java.sql.Timestamp.valueOf("2026-01-01 16:00:00"), 1.0))
      .toDF("currency", "timestamptz", "rate")
    UpsertIgnore(spark, old, dir, Seq("currency", "timestamptz"), Some("timestamptz"))
    val newer = Seq(
      ("USD", java.sql.Timestamp.valueOf("2026-01-01 16:00:00"), 1.0), // dup key
      ("USD", java.sql.Timestamp.valueOf("2026-08-11 16:00:00"), 1.1)
    ).toDF("currency", "timestamptz", "rate")
    val r = UpsertIgnore(spark, newer, dir, Seq("currency", "timestamptz"), Some("timestamptz"))
    assert(r == UpsertIgnore.Result(inserted = 1, skipped = 1))
  }

  test("appendAbsent: idempotent anti-join append without accounting jobs") {
    val dir = tmpDir("k5aa") + "/t"
    val b = batch(("USD", "d1", 1.0), ("GBP", "d1", 2.0))
    UpsertIgnore.appendAbsent(spark, b, dir, Seq("currency", "timestamptz"))
    UpsertIgnore.appendAbsent(spark, b, dir, Seq("currency", "timestamptz"))
    assert(spark.read.parquet(dir).count() == 2, "rerun duplicated rows")
    // overlap: only the unseen key lands, existing row untouched
    UpsertIgnore.appendAbsent(spark,
      batch(("USD", "d1", 9.9), ("JPY", "d1", 3.0)), dir,
      Seq("currency", "timestamptz"))
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    assert(t.filter(col("currency") === "USD")
      .select("rate").head().getDouble(0) == 1.0)
  }

  test("appendAbsent: precomputed bounds prune like the self-computed ones") {
    val dir = tmpDir("k5ab") + "/t"
    UpsertIgnore.appendAbsent(spark,
      batch(("USD", "d1", 1.0), ("GBP", "d2", 2.0)), dir,
      Seq("currency", "timestamptz"))
    // shared-bounds registration: the caller's one bounds scan stands in
    // for the per-table agg; a WRONG range would break idempotence by
    // hiding the existing keys — correctness is the assertion
    val b2 = batch(("USD", "d1", 9.9), ("JPY", "d1", 3.0))
    val bounds = b2.agg(min(col("timestamptz")), max(col("timestamptz"))).head()
    UpsertIgnore.appendAbsent(spark, b2, dir, Seq("currency", "timestamptz"),
      pruneCol = Some("timestamptz"), bounds = Some(bounds))
    val t = spark.read.parquet(dir)
    assert(t.count() == 3, s"got ${t.count()} rows")
    assert(t.filter(col("currency") === "USD")
      .select("rate").head().getDouble(0) == 1.0)
  }

  test("appendAbsent: the bounds SUPERSET contract — source-batch bounds cover every projection") {
    // the documented multi-table registration pattern: ONE bounds scan
    // over the SOURCE batch, then each registered projection (whose own
    // range can only be narrower) reuses it — superset bounds prune
    // less but can never hide an existing key, so idempotence holds on
    // replay. (A too-NARROW Row is the caller bug the scaladoc warns
    // about: it would over-prune the existing side and duplicate.)
    val dir = tmpDir("k5ac") + "/t"
    val source = batch(("USD", "d1", 1.0), ("GBP", "d5", 2.0), ("JPY", "d9", 3.0))
    val srcBounds = source
      .agg(min(col("timestamptz")), max(col("timestamptz"))).head()
    val slice = source.filter(col("timestamptz") === "d5") // narrower range
    UpsertIgnore.appendAbsent(spark, slice, dir, Seq("currency", "timestamptz"),
      pruneCol = Some("timestamptz"), bounds = Some(srcBounds))
    // replay the slice under the same shared source bounds: the superset
    // range keeps the existing d5 row visible to the anti-join
    UpsertIgnore.appendAbsent(spark, slice, dir, Seq("currency", "timestamptz"),
      pruneCol = Some("timestamptz"), bounds = Some(srcBounds))
    val t = spark.read.parquet(dir)
    assert(t.count() == 1, s"superset-bounds replay duplicated: ${t.count()} rows")
  }

  test("K5: non-key pruneCol is ignored — drifted replay cannot duplicate a key") {
    val dir = tmpDir("k5d") + "/t"
    val first = Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), "a"))
      .toDF("event_id", "ts", "v")
    UpsertIgnore(spark, first, dir, Seq("event_id"), pruneCol = Some("ts"))
    // same key, ts drifted far outside the original: range-pruning on the
    // non-key ts would hide the existing row and re-insert the key.
    val replay = Seq((1L, java.sql.Timestamp.valueOf("2026-08-11 00:00:00"), "a"))
      .toDF("event_id", "ts", "v")
    val r = UpsertIgnore(spark, replay, dir, Seq("event_id"), pruneCol = Some("ts"))
    assert(r == UpsertIgnore.Result(inserted = 0, skipped = 1))
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("K5: existing side above broadcast threshold plans a shuffle anti-join") {
    val dir = tmpDir("k5e") + "/t"
    batch(("USD", "d1", 1.0), ("GBP", "d1", 2.0)).write.parquet(dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // a 1-byte threshold makes ANY real target "too big to broadcast"
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val delta = UpsertIgnore.deltaPlan(spark, batch(("JPY", "d1", 3.0)),
        spark.read.parquet(dir), Seq("currency", "timestamptz"), None)
      val p = delta.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), s"broadcast of oversized target:\n$p")
      assert(delta.count() == 1) // and the fallback join is still correct
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("K5: small existing side still broadcasts (build on pruned side)") {
    val dir = tmpDir("k5f") + "/t"
    batch(("USD", "d1", 1.0)).write.parquet(dir)
    val delta = UpsertIgnore.deltaPlan(spark, batch(("JPY", "d1", 3.0)),
      spark.read.parquet(dir), Seq("currency", "timestamptz"), None)
    assert(delta.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("K5 property: batches commute — same final keyset regardless of order") {
    val a = batch(("USD", "d1", 1.0), ("GBP", "d1", 2.0))
    val b = batch(("GBP", "d1", 5.0), ("JPY", "d1", 3.0))
    def runBoth(first: org.apache.spark.sql.DataFrame, second: org.apache.spark.sql.DataFrame) = {
      val dir = tmpDir("k5p") + "/t"
      UpsertIgnore(spark, first, dir, Seq("currency", "timestamptz"))
      UpsertIgnore(spark, second, dir, Seq("currency", "timestamptz"))
      spark.read.parquet(dir).select("currency", "timestamptz")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    assert(runBoth(a, b) == runBoth(b, a))
  }

  test("K5 rejects a schema-drifted batch instead of corrupting the table") {
    val dir = tmpDir("k5drift") + "/t"
    UpsertIgnore(spark, batch(("USD", "d1", 1.0)), dir, Seq("currency", "timestamptz"))
    // batch missing `rate`, carrying `ratio` instead — must fail loudly
    val drifted = Seq(("GBP", "d1", 2.0)).toDF("currency", "timestamptz", "ratio")
    intercept[IllegalArgumentException] {
      UpsertIgnore(spark, drifted, dir, Seq("currency", "timestamptz"))
    }
    assert(spark.read.parquet(dir).count() == 1) // table untouched
  }

  test("K5 rejects same-name different-TYPE drift too") {
    val dir = tmpDir("k5type") + "/t"
    UpsertIgnore(spark, batch(("USD", "d1", 1.0)), dir, Seq("currency", "timestamptz"))
    // rate arrives as string — names match, types don't
    val retyped = Seq(("GBP", "d1", "2.0")).toDF("currency", "timestamptz", "rate")
    intercept[IllegalArgumentException] {
      UpsertIgnore(spark, retyped, dir, Seq("currency", "timestamptz"))
    }
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("K5 normalizes a reordered-column batch to the target's layout") {
    val dir = tmpDir("k5order") + "/t"
    UpsertIgnore(spark, batch(("USD", "d1", 1.0)), dir, Seq("currency", "timestamptz"))
    val reordered = Seq((2.0, "d1", "GBP")).toDF("rate", "timestamptz", "currency")
    val r = UpsertIgnore(spark, reordered, dir, Seq("currency", "timestamptz"))
    assert(r == UpsertIgnore.Result(1, 0))
    val t = spark.read.parquet(dir)
    assert(t.count() == 2)
    assert(t.filter(col("currency") === "GBP").select("rate").head().getDouble(0) == 2.0)
  }

  test("K5 rejects case-colliding batch columns with the drift message, not ambiguity") {
    val dir = tmpDir("k5case") + "/t"
    UpsertIgnore(spark, batch(("USD", "d1", 1.0)), dir, Seq("currency", "timestamptz"))
    // 'Rate' and 'rate' collapse under the default case-insensitive
    // resolver — must fail as drift up front, not as an opaque
    // ambiguous-reference error in the normalizing select
    val collided = Seq(("GBP", "d1", 2.0, 3.0))
      .toDF("currency", "timestamptz", "rate", "Rate")
    val e = intercept[IllegalArgumentException] {
      UpsertIgnore(spark, collided, dir, Seq("currency", "timestamptz"))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 1)
  }

  // ---- SCD1 Upsert (merge-with-update) ------------------------------

  private def seedPartitioned(dir: String) = {
    val seed = Seq(
      ("2026-01-01", 1L, 1.0), ("2026-01-01", 2L, 2.0),
      ("2026-01-02", 3L, 3.0), ("2026-01-03", 4L, 4.0))
      .toDF("day", "k", "v")
    Upsert(spark, seed, dir, keys = Seq("day", "k"), partitionBy = Seq("day"))
  }

  test("SCD1 upsert: matched keys replaced in place, new keys inserted") {
    val dir = tmpDir("scd1") + "/t"
    assert(seedPartitioned(dir) == Upsert.Result(updated = 0, inserted = 4))
    val batch = Seq(("2026-01-01", 2L, 9.9), ("2026-01-01", 7L, 7.0))
      .toDF("day", "k", "v")
    val r = Upsert(spark, batch, dir, Seq("day", "k"), Seq("day"))
    assert(r == Upsert.Result(updated = 1, inserted = 1))
    val t = spark.read.parquet(dir)
    assert(t.count() == 5)
    assert(t.filter(col("k") === 2L).select("v").head().getDouble(0) == 9.9)
    assert(t.filter(col("k") === 1L).select("v").head().getDouble(0) == 1.0)
  }

  test("SCD1 upsert: untouched partitions are byte-identical (never rewritten)") {
    val dir = tmpDir("scd1b") + "/t"
    seedPartitioned(dir)
    def snapshot(day: String) = {
      val d = new java.io.File(s"$dir/day=$day")
      d.listFiles().filter(_.isFile).map(f =>
        (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    }
    val before02 = snapshot("2026-01-02")
    val before03 = snapshot("2026-01-03")
    Upsert(spark,
      Seq(("2026-01-01", 1L, 5.5)).toDF("day", "k", "v"),
      dir, Seq("day", "k"), Seq("day"))
    assert(snapshot("2026-01-02") == before02, "untouched partition rewritten")
    assert(snapshot("2026-01-03") == before03, "untouched partition rewritten")
    assert(spark.read.parquet(dir).filter(col("k") === 1L)
      .select("v").head().getDouble(0) == 5.5)
  }

  test("SCD1 upsert: merge read is PARTITION-pruned (PartitionFilters on the scan)") {
    val dir = tmpDir("scd1plan") + "/t"
    seedPartitioned(dir)
    val batch = Seq(("2026-01-01", 1L, 5.5)).toDF("day", "k", "v")
    val pruned = Upsert.prunedExisting(batch, spark.read.parquet(dir), Seq("day"))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), s"no partition filter on merge read:\n$p")
    assert(p.contains("day#") && p.contains("2026-01-01"),
      s"touched-partition predicate missing:\n$p")
    // and only the touched partition's rows are read
    assert(pruned.count() == 2)
  }

  test("SCD1 upsert: join-based prune above the literal threshold, same rows") {
    val dir = tmpDir("scd1join") + "/t"
    // 40 partitions on disk, batch touching 30 of them
    val seed = (1 to 40).map(d => (s"d$d", d.toLong, d.toDouble))
      .toDF("day", "k", "v")
    Upsert(spark, seed, dir, keys = Seq("day", "k"), partitionBy = Seq("day"))
    val batch = (1 to 30).map(d => (s"d$d", d.toLong, -d.toDouble))
      .toDF("day", "k", "v")
    val existingAll = spark.read.parquet(dir)
    val literal = Upsert.prunedExisting(batch, existingAll, Seq("day"))
    val joined = Upsert.prunedExisting(batch, existingAll, Seq("day"),
      literalPruneMax = 10)
    // both paths read exactly the touched partitions' rows
    assert(literal.collect().map(_.toSeq).toSet ==
      joined.collect().map(_.toSeq).toSet)
    assert(joined.count() == 30)
    val p = joined.queryExecution.executedPlan.toString
    // the set-prune path keeps STATIC partition pruning on the scan (a
    // single IN-set partition filter, not a 30-term OR-of-<=> chain)...
    assert(p.contains("PartitionFilters: [day#") &&
      (p.contains(" INSET ") || p.contains(" IN ")),
      s"no IN-set partition filter on the join-pruned scan:\n$p")
    assert(!p.contains("<=> d29"), s"literal <=> chain leaked into plan:\n$p")
    // ...with the broadcast semi-join restoring tuple exactness
    assert(p.contains("LeftSemi"), s"no exactness semi-join:\n$p")
  }

  test("SCD1 upsert: join-based prune keeps the plan bounded at 10^4 touched") {
    // plan-size check only (no 10^4 directories on disk): the literal
    // path at this cardinality would build a ~10^4-term OR chain
    val batch = spark.range(10000).selectExpr("concat('d', id) AS day",
      "id AS k", "cast(id AS double) AS v")
    val existingAll = Seq(("d1", 1L, 1.0)).toDF("day", "k", "v")
    val pruned = Upsert.prunedExisting(batch, existingAll, Seq("day"),
      literalPruneMax = 1000)
    val planLen = pruned.queryExecution.optimizedPlan.toString.length
    assert(planLen < 50000, s"join-pruned plan not bounded: $planLen chars")
    assert(pruned.count() == 1)
  }

  test("SCD1 upsert: rerunning the same batch is a no-op on contents (idempotent)") {
    val dir = tmpDir("scd1c") + "/t"
    seedPartitioned(dir)
    val batch = Seq(("2026-01-02", 3L, 8.0), ("2026-01-02", 9L, 9.0))
      .toDF("day", "k", "v")
    Upsert(spark, batch, dir, Seq("day", "k"), Seq("day"))
    val first = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val r2 = Upsert(spark, batch, dir, Seq("day", "k"), Seq("day"))
    assert(r2 == Upsert.Result(updated = 2, inserted = 0))
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == first)
  }

  test("SCD1 upsert: TWO-LEVEL partitioning swaps at the leaf, siblings untouched") {
    val dir = tmpDir("scd1multi") + "/t"
    val seed = Seq(
      ("2026-01-01", "a", 1L, 1.0), ("2026-01-01", "b", 2L, 2.0),
      ("2026-01-02", "a", 3L, 3.0))
      .toDF("day", "shard", "k", "v")
    Upsert(spark, seed, dir, keys = Seq("day", "shard", "k"),
      partitionBy = Seq("day", "shard"))
    def files(rel: String) = {
      val d = new java.io.File(s"$dir/$rel")
      d.listFiles().filter(_.isFile).map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    }
    val sibling = files("day=2026-01-01/shard=b")
    val otherDay = files("day=2026-01-02/shard=a")
    // touch only (2026-01-01, a): its SIBLING under the same day must
    // survive byte-identical — a first-level swap would destroy it
    val r = Upsert(spark,
      Seq(("2026-01-01", "a", 1L, 9.0), ("2026-01-01", "a", 8L, 8.0))
        .toDF("day", "shard", "k", "v"),
      dir, Seq("day", "shard", "k"), Seq("day", "shard"))
    assert(r == Upsert.Result(updated = 1, inserted = 1))
    assert(files("day=2026-01-01/shard=b") == sibling, "sibling leaf rewritten")
    assert(files("day=2026-01-02/shard=a") == otherDay)
    val t = spark.read.parquet(dir)
    assert(t.count() == 4)
    assert(t.filter(col("k") === 1L).select("v").head().getDouble(0) == 9.0)
    assert(t.filter(col("k") === 2L).select("v").head().getDouble(0) == 2.0)
  }

  test("SCD1 upsert: crash mid-swap + rerun loses NO unmatched rows (recovery)") {
    val dir = tmpDir("scd1crash") + "/t"
    seedPartitioned(dir)
    // simulate a crash between rename(dst, bak) and rename(staged, dst):
    // the live leaf is gone, old rows parked in the hidden backup
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leaf = new org.apache.hadoop.fs.Path(s"$dir/day=2026-01-01")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/.day=2026-01-01__old")
    assert(fs.rename(leaf, bak))
    // rerun the same upsert: recovery must restore the parked rows FIRST,
    // so key 2 (absent from the batch) survives the merge
    val r = Upsert(spark,
      Seq(("2026-01-01", 1L, 7.7)).toDF("day", "k", "v"),
      dir, Seq("day", "k"), Seq("day"))
    assert(r == Upsert.Result(updated = 1, inserted = 0))
    val t = spark.read.parquet(dir)
    assert(t.count() == 4, "crash recovery lost rows")
    assert(t.filter(col("k") === 2L).select("v").head().getDouble(0) == 2.0)
    assert(t.filter(col("k") === 1L).select("v").head().getDouble(0) == 7.7)
  }

  test("SCD1 upsert: numeric-looking STRING partition values never fragment the layout") {
    val dir = tmpDir("scd1names") + "/t"
    val seed = Seq(("01", 1L, 1.0), ("01", 2L, 2.0), ("2", 3L, 3.0))
      .toDF("bucket", "k", "v")
    Upsert(spark, seed, dir, keys = Seq("bucket", "k"), partitionBy = Seq("bucket"))
    // type inference would read "01" back as 1 and the rewrite would emit
    // a divergent bucket=1 sibling beside bucket=01
    Upsert(spark, Seq(("01", 1L, 9.0)).toDF("bucket", "k", "v"),
      dir, Seq("bucket", "k"), Seq("bucket"))
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("bucket=01", "bucket=2"), s"layout fragmented: $dirs")
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    assert(t.filter(col("k") === 1L).select("v").head().getDouble(0) == 9.0)
    assert(t.filter(col("k") === 2L).select("v").head().getDouble(0) == 2.0)
  }

  test("SCD1 upsert: flat (unpartitioned) target merges correctly") {
    val dir = tmpDir("scd1d") + "/t"
    val seed = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Upsert(spark, seed, dir, Seq("k"))
    val r = Upsert(spark, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), dir, Seq("k"))
    assert(r == Upsert.Result(1, 1))
    val t = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(t == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("SCD1 upsert guards: duplicate batch keys and non-key partition cols rejected") {
    val dir = tmpDir("scd1e") + "/t"
    intercept[IllegalArgumentException] {
      Upsert(spark, Seq((1L, "a"), (1L, "b")).toDF("k", "v"), dir, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Upsert(spark, Seq((1L, "a")).toDF("k", "v"), dir,
        keys = Seq("k"), partitionBy = Seq("v"))
    }
  }

  test("SCD1 upsert rejects schema drift like K5") {
    val dir = tmpDir("scd1f") + "/t"
    Upsert(spark, Seq((1L, "a")).toDF("k", "v"), dir, Seq("k"))
    intercept[IllegalArgumentException] {
      Upsert(spark, Seq((2L, "b")).toDF("k", "w"), dir, Seq("k"))
    }
    assert(spark.read.parquet(dir).count() == 1)
  }

  // ---- incremental rollup maintenance -------------------------------

  test("incremental rollup: two delta maintains == one direct aggregate") {
    val dir = tmpDir("rollup") + "/t"
    val b1 = Seq(("d1", "A", 2L), ("d1", "B", 3L), ("d2", "A", 5L))
      .toDF("day", "grp", "qty")
    val b2 = Seq(("d1", "A", 7L), ("d3", "C", 1L)).toDF("day", "grp", "qty")
    IncrementalRollup(spark, b1, dir, Seq("day", "grp"),
      Seq("qty" -> "sum_qty"), Seq("day"))
    IncrementalRollup(spark, b2, dir, Seq("day", "grp"),
      Seq("qty" -> "sum_qty"), Seq("day"))
    val got = spark.read.parquet(dir)
      .select("day", "grp", "cnt", "sum_qty")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = b1.unionByName(b2).groupBy("day", "grp")
      .agg(count(lit(1)).as("cnt"), sum("qty").as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
  }

  test("incremental rollup: untouched partitions are never rewritten") {
    val dir = tmpDir("rollup2") + "/t"
    IncrementalRollup(spark,
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "qty"),
      dir, Seq("day"), Seq("qty" -> "sum_qty"), Seq("day"))
    def snap(d: String) = new java.io.File(s"$dir/day=$d").listFiles()
      .filter(_.isFile).map(f => (f.getName, f.lastModified)).sortBy(_._1).toSeq
    val before = snap("d2")
    IncrementalRollup(spark, Seq(("d1", 10L)).toDF("day", "qty"),
      dir, Seq("day"), Seq("qty" -> "sum_qty"), Seq("day"))
    assert(snap("d2") == before, "untouched partition rewritten")
    val d1 = spark.read.parquet(dir).filter(col("day") === "d1").head()
    assert(d1.getAs[Long]("cnt") == 2 && d1.getAs[Long]("sum_qty") == 11L)
  }

  test("incremental rollup maintains COUNT DISTINCT via mergeable HLL sketches") {
    val dir = tmpDir("rollhll") + "/t"
    // two deltas with OVERLAPPING user sets per group: a naive
    // sum-of-per-batch-distincts would overcount; the merged sketch
    // must see each user once
    val b1 = (1 to 60).map(u => ("g1", u.toLong, 1.0)) ++
      (1 to 30).map(u => ("g2", u.toLong, 1.0))
    val b2 = (31 to 90).map(u => ("g1", u.toLong, 1.0)) ++ // 31..60 repeat
      (1 to 30).map(u => ("g2", u.toLong, 1.0))            // all repeat
    for (b <- Seq(b1, b2))
      IncrementalRollup(spark, b.toDF("g", "user_id", "x"), dir,
        groupCols = Seq("g"), sumCols = Seq("x" -> "sum_x"),
        distinctCols = Seq("user_id" -> "users_sk"))
    val got = spark.read.parquet(dir)
      .select(col("g"),
        IncrementalRollup.distinctEstimate(col("users_sk")).as("users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // DataSketches HLL is exact at these cardinalities (sparse mode)
    assert(got("g1") == 90L, s"g1 distinct: ${got("g1")}")
    assert(got("g2") == 30L, s"g2 distinct: ${got("g2")}")
  }

  test("incremental rollup guards: non-group partition col and alias clash rejected") {
    val df = Seq(("d1", 1L)).toDF("day", "qty")
    intercept[IllegalArgumentException] {
      IncrementalRollup(spark, df, tmpDir("r3"), Seq("day"),
        Seq("qty" -> "sum_qty"), Seq("qty"))
    }
    intercept[IllegalArgumentException] {
      IncrementalRollup(spark, df, tmpDir("r4"), Seq("day"),
        Seq("qty" -> "cnt"), Seq("day"))
    }
  }

  test("rollup-after-delete: tombstone fold == rebuild from the post-delete table") {
    import graft.sinks.TxTable
    val base = tmpDir("rolldel")
    val src = s"$base/src"; val roll = s"$base/roll"
    // source table with stats on the delete key; rollup folded from it
    val rows = Seq((100L, "A", 2L), (101L, "A", 3L), (102L, "B", 5L),
      (200L, "B", 7L), (201L, "C", 11L)).toDF("id", "grp", "qty")
    TxTable.commit(spark, rows, src, Nil, statsCols = Seq("id"))
    IncrementalRollup(spark, rows, roll, Seq("grp"),
      Seq("qty" -> "sum_qty"), transactional = true, deltaId = Some("b1"))
    // delete id block [200, 299] — removes one B row and ALL of C
    val (n, tomb) = TxTable.deleteWhereTombstoned(spark, src, "id", 200.0, 299.0)
    assert(n === 2L && tomb.isDefined)
    assert(tomb.get.select("id").as[Long].collect().sorted.toSeq == Seq(200L, 201L))
    IncrementalRollup.foldDeletion(spark, tomb.get, roll, Seq("grp"),
      Seq("qty" -> "sum_qty"), transactional = true, deltaId = Some("del1"))
    val got = TxTable.read(spark, roll).get
      .select("grp", "cnt", "sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = TxTable.read(spark, src).get.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("qty").as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=$got want=$want")
    // fully-deleted group C is DROPPED, not left as a cnt=0 ghost row
    assert(!got.exists(_._1 == "C"))
    // deltaId replay protection covers deletions too
    IncrementalRollup.foldDeletion(spark, tomb.get, roll, Seq("grp"),
      Seq("qty" -> "sum_qty"), transactional = true, deltaId = Some("del1"))
    assert(TxTable.read(spark, roll).get
      .select("cnt", "sum_qty").as[(Long, Long)].collect().toSet ==
      got.map(t => (t._2, t._3)))
  }

  test("rollup-after-delete: a fully-deleted group's PARTITION disappears (both layouts)") {
    import graft.sinks.TxTable
    val rows = Seq(("A", 2L), ("A", 3L), ("B", 5L), ("C", 7L)).toDF("grp", "qty")
    val tomb = Seq(("C", 7L)).toDF("grp", "qty") // deletes ALL of C
    def readBack(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "cnt", "sum_qty")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(("A", 2L, 5L), ("B", 1L, 5L))
    // transactional: replaceAll commit drops the empty partition
    val tx = tmpDir("rolldelpart") + "/tx"
    IncrementalRollup(spark, rows, tx, Seq("grp"), Seq("qty" -> "sum_qty"),
      partitionBy = Seq("grp"), transactional = true, deltaId = Some("b1"))
    IncrementalRollup.foldDeletion(spark, tomb, tx, Seq("grp"),
      Seq("qty" -> "sum_qty"), partitionBy = Seq("grp"),
      transactional = true, deltaId = Some("d1"))
    assert(readBack(TxTable.read(spark, tx).get) == want)
    // legacy: whole-table swap drops the partition AND keeps the
    // _applied ledger (a replayed positive delta stays a no-op)
    val lg = tmpDir("rolldelpart") + "/legacy"
    IncrementalRollup(spark, rows, lg, Seq("grp"), Seq("qty" -> "sum_qty"),
      partitionBy = Seq("grp"), deltaId = Some("b1"))
    IncrementalRollup.foldDeletion(spark, tomb, lg, Seq("grp"),
      Seq("qty" -> "sum_qty"), partitionBy = Seq("grp"), deltaId = Some("d1"))
    assert(readBack(spark.read.parquet(lg)) == want)
    assert(!new java.io.File(s"$lg/grp=C").exists, "vanished partition left on disk")
    IncrementalRollup(spark, rows, lg, Seq("grp"), Seq("qty" -> "sum_qty"),
      partitionBy = Seq("grp"), deltaId = Some("b1")) // replay: ledger no-op
    assert(readBack(spark.read.parquet(lg)) == want, "replayed delta re-folded")
    // deleting EVERY group publishes a legitimately EMPTY snapshot (tx):
    // readers get an empty frame with the recorded schema, and a later
    // positive fold starts the table over
    IncrementalRollup.foldDeletion(spark,
      Seq(("A", 2L), ("A", 3L), ("B", 5L)).toDF("grp", "qty"),
      tx, Seq("grp"), Seq("qty" -> "sum_qty"), partitionBy = Seq("grp"),
      transactional = true, deltaId = Some("d2"))
    val empty = TxTable.read(spark, tx).get
    assert(empty.count() == 0 &&
      empty.columns.toSet == Set("grp", "cnt", "sum_qty"))
    IncrementalRollup(spark, Seq(("D", 9L)).toDF("grp", "qty"), tx,
      Seq("grp"), Seq("qty" -> "sum_qty"), partitionBy = Seq("grp"),
      transactional = true, deltaId = Some("b2"))
    assert(readBack(TxTable.read(spark, tx).get) == Set(("D", 1L, 9L)))
  }

  test("rollup-after-delete: sketch-measure rollup REFUSES the fold (rebuild signal)") {
    val dir = tmpDir("rolldelhll") + "/t"
    val rows = Seq(("g1", 1L, 1.0), ("g1", 2L, 2.0)).toDF("g", "user_id", "x")
    IncrementalRollup(spark, rows, dir, Seq("g"), Seq("x" -> "sum_x"),
      distinctCols = Seq("user_id" -> "users_sk"))
    val e = intercept[IllegalStateException] {
      IncrementalRollup.foldDeletion(spark, rows.limit(1), dir,
        Seq("g"), Seq("x" -> "sum_x"))
    }
    assert(e.getMessage.contains("users_sk") && e.getMessage.contains("rebuild"),
      e.getMessage)
    // and a deletion against a missing rollup is a contract error too
    intercept[IllegalStateException] {
      IncrementalRollup.foldDeletion(spark, rows, tmpDir("rolldelnone") + "/t",
        Seq("g"), Seq("x" -> "sum_x"), transactional = true)
    }
  }

  test("rollup-after-delete: over-subtracting tombstone fails loudly, rollup unchanged") {
    import graft.sinks.TxTable
    val dir = tmpDir("rolldelneg") + "/t"
    val rows = Seq(("A", 2L), ("B", 3L)).toDF("grp", "qty")
    IncrementalRollup(spark, rows, dir, Seq("grp"), Seq("qty" -> "sum_qty"),
      transactional = true, deltaId = Some("b1"))
    // tombstone claims TWO A-rows; the rollup only ever folded one
    val tomb = Seq(("A", 2L), ("A", 2L)).toDF("grp", "qty")
    val e = intercept[IllegalStateException] {
      IncrementalRollup.foldDeletion(spark, tomb, dir, Seq("grp"),
        Seq("qty" -> "sum_qty"), transactional = true, deltaId = Some("d1"))
    }
    assert(e.getMessage.contains("more rows"), e.getMessage)
    val got = TxTable.read(spark, dir).get
      .select("grp", "cnt", "sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("A", 1L, 2L), ("B", 1L, 3L)), s"rollup mutated: $got")
  }

  test("K2 merge-overwrite keeps the EXISTING row on key collision") {
    val dir = tmpDir("k2") + "/d"
    val day1 = Seq(("US Dollar", "2026-08-11T18:00", 1.08))
      .toDF("currency_name", "timestamptz", "rate")
    MergeOverwrite(spark, day1, dir, Seq("currency_name", "timestamptz"), "timestamptz")
    val rescrape = Seq(
      ("US Dollar", "2026-08-11T18:00", 9.99), // same key, new value
      ("Swiss Franc", "2026-08-11T18:00", 0.97)
    ).toDF("currency_name", "timestamptz", "rate")
    MergeOverwrite(spark, rescrape, dir, Seq("currency_name", "timestamptz"), "timestamptz")
    val t = spark.read.parquet(dir)
    assert(t.count() == 2)
    assert(t.filter(col("currency_name") === "US Dollar")
      .select("rate").head().getDouble(0) == 1.08) // existing wins
  }

  test("K7 rest sink ships every row in partition-side batches") {
    RestSinkTestHarness.acc.clear()
    assert(RestSinkTestHarness.deliver(spark) == 7L) // rows shipped
    assert(RestSinkTestHarness.acc.size() == 7)
  }

  test("K7 rest sink: an empty frame returns 0 and never posts") {
    RestSinkTestHarness.calls.set(0)
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    assert(RestSink(empty, batchSize = 3)(RestSinkTestHarness.post) == 0L)
    assert(RestSinkTestHarness.calls.get() == 0, "post called with an empty batch")
  }

  test("K5 leaves a caller's cache entry in place and releases its own") {
    import org.apache.spark.storage.StorageLevel
    val dir = tmpDir("k5cache") + "/t"
    val keys = Seq("currency", "timestamptz")
    val cached = batch(("USD", "d1", 1.0), ("GBP", "d1", 2.0)).cache()
    assert(cached.count() == 2)
    UpsertIgnore(spark, cached, dir, keys) // absent target
    assert(cached.storageLevel != StorageLevel.NONE, "caller's cache dropped")
    val r = UpsertIgnore(spark, cached, dir, keys) // existing target
    assert(r == UpsertIgnore.Result(inserted = 0, skipped = 2))
    assert(cached.storageLevel != StorageLevel.NONE, "caller's cache dropped")
    cached.unpersist()
    val own = batch(("JPY", "d1", 3.0))
    assert(UpsertIgnore(spark, own, dir, keys) == UpsertIgnore.Result(1, 0))
    assert(own.storageLevel == StorageLevel.NONE, "sink left its cache behind")
  }
}

/** The K7 delivery closure runs on executors after closure serialization,
  * so the sink target must be a JVM singleton reached via static (object)
  * access — a captured local queue would be a deserialized copy and the
  * assertions would see nothing, even in local mode.
  */
object RestSinkTestHarness {
  val acc = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val post: Seq[String] => Unit = { recs =>
    require(recs.nonEmpty && recs.size <= 3, s"batch of ${recs.size}") // batchSize 3
    RestSinkTestHarness.calls.incrementAndGet()
    recs.foreach(RestSinkTestHarness.acc.add)
  }
  def deliver(spark: org.apache.spark.sql.SparkSession): Long = {
    import spark.implicits._
    val df = (1 to 7).map(i => (i, s"row$i")).toDF("id", "v")
    RestSink(df, batchSize = 3)(post)
  }
}
