package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalLineDedup, LineDedup}

/** Incremental line dedup: one-shot equivalence in id order, replay
  * idempotence, cross-batch keep-first, and the store-never-shuffled
  * probe plan.
  */
class IncrementalLineDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Documents re-lined as 4-token chunks (same derivation as the gate:
    * the corpus text has no newlines of its own).
    */
  private def lined = {
    val toks = split(trim(col("text")), "\\s+")
    Tables.documents(spark, "/root/testdata/sf0.001").select(col("doc_id"),
      array_join(
        transform(sequence(lit(1), size(toks), lit(4)),
          i => array_join(slice(toks, i, lit(4)), " ")),
        "\n").as("text"))
  }

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "line_no", "line")
      .as[(Long, Int, String)].collect().toSet

  test("two ingests in id order == one-shot keep-first") {
    val store = tmpDir("inclines1") + "/store"
    val s1 = keyed(IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" < 250), "doc_id", "text", store))
    val s2 = keyed(IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" >= 250), "doc_id", "text", store))
    val oneShot = keyed(LineDedup.dedupLines(lined, "doc_id", "text"))
    assert((s1 ++ s2) === oneShot,
      s"missing=${oneShot -- (s1 ++ s2)} extra=${(s1 ++ s2) -- oneShot}")
    // second ingest emits only ids from its own batch
    assert(s2.forall(_._1 >= 250), "second ingest re-emitted store lines")
    assert(IncrementalLineDedup.storedLines(spark, store) === oneShot.size)
  }

  test("replaying a batch is a no-op: nothing emitted, store unchanged") {
    val store = tmpDir("inclines2") + "/store"
    val b = lined.filter($"doc_id" < 100)
    val first = keyed(IncrementalLineDedup.ingest(spark, b, "doc_id", "text", store))
    assert(first.nonEmpty)
    val n1 = IncrementalLineDedup.storedLines(spark, store)
    val again = keyed(IncrementalLineDedup.ingest(spark, b, "doc_id", "text", store))
    assert(again.isEmpty, s"replay emitted ${again.size} lines")
    assert(IncrementalLineDedup.storedLines(spark, store) === n1)
  }

  test("cross-batch duplicate lines are dropped; the stored owner wins") {
    val store = tmpDir("inclines3") + "/store"
    val b1 = Seq((1L, "shared\nalpha")).toDF("doc_id", "text")
    val b2 = Seq((2L, "shared\nbeta")).toDF("doc_id", "text")
    val s1 = keyed(IncrementalLineDedup.ingest(spark, b1, "doc_id", "text", store))
    val s2 = keyed(IncrementalLineDedup.ingest(spark, b2, "doc_id", "text", store))
    assert(s1 === Set((1L, 1, "shared"), (1L, 2, "alpha")))
    assert(s2 === Set((2L, 2, "beta")), s"got $s2")
  }

  test("forget: a forgotten doc's lines stop blocking; others still block") {
    val store = tmpDir("inclines7") + "/store"
    IncrementalLineDedup.ingest(spark,
      Seq((1L, "gone\nstays")).toDF("doc_id", "text"), "doc_id", "text", store)
    IncrementalLineDedup.ingest(spark,
      Seq((2L, "stays\nother")).toDF("doc_id", "text"), "doc_id", "text", store)
    // doc 1 owned "gone" and "stays"; doc 2 owns "other"
    IncrementalLineDedup.forget(spark, store, Seq(Tuple1(1L)).toDF("doc_id"))
    val after = keyed(IncrementalLineDedup.ingest(spark,
      Seq((11L, "gone\nother")).toDF("doc_id", "text"), "doc_id", "text", store))
    // "gone"'s owner was forgotten -> re-admitted; "other" (doc 2) blocks
    assert(after === Set((11L, 1, "gone")), s"got $after")
  }

  test("compaction shrinks the file count; stored lines unchanged") {
    val store = tmpDir("inclines6") + "/store"
    for (i <- 0 until 4)
      IncrementalLineDedup.ingest(spark,
        Seq((i.toLong, s"line$i\ncommon")).toDF("doc_id", "text"),
        "doc_id", "text", store)
    val n0 = IncrementalLineDedup.storedLines(spark, store)
    val (before, after) = IncrementalLineDedup.compactStore(spark, store)
    assert(after < before, s"compaction did not shrink: $before -> $after")
    assert(IncrementalLineDedup.storedLines(spark, store) === n0)
  }

  test("compaction folds tombstones: forgotten rows erased, forgotten/ cleared") {
    val store = tmpDir("inclines8") + "/store"
    IncrementalLineDedup.ingest(spark,
      Seq((1L, "gone\nstays")).toDF("doc_id", "text"), "doc_id", "text", store)
    IncrementalLineDedup.ingest(spark,
      Seq((2L, "stays\nother")).toDF("doc_id", "text"), "doc_id", "text", store)
    IncrementalLineDedup.forget(spark, store, Seq(Tuple1(1L)).toDF("doc_id"))
    IncrementalLineDedup.compactStore(spark, store)
    // physically erased, tombstones cleared — the live view's broadcast
    // anti-join no longer grows with takedown history
    assert(spark.read.parquet(s"$store/lines")
      .filter($"doc_id" === 1L).count() === 0, "forgotten rows retained")
    assert(!new java.io.File(s"$store/forgotten").exists(),
      "forgotten/ not cleared by the fold")
    // probe identical to the pre-fold masked store
    val after = keyed(IncrementalLineDedup.ingest(spark,
      Seq((11L, "gone\nother")).toDF("doc_id", "text"), "doc_id", "text", store))
    assert(after === Set((11L, 1, "gone")), s"post-fold probe drifted: $after")
  }

  test("bloom lifecycle: sidecar per ingest, legacy stays bare, compaction arms") {
    import graft.ext.KeyBloom
    val store = tmpDir("inclines9") + "/store"
    IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" < 100), "doc_id", "text", store)
    IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" >= 100 && $"doc_id" < 200), "doc_id", "text", store)
    val sidecars = KeyBloom.loadSidecars(spark, s"$store/bloom", Long.MaxValue)
    assert(sidecars.map(_.size) === Some(2), "one sidecar per registering ingest")
    // coverage invariant: every committed line hash is in some sidecar
    val stored = spark.read.parquet(s"$store/lines")
      .select("line_hash").as[Long].collect()
    assert(stored.forall(h => sidecars.get.exists(_.contains(h))),
      "a committed line hash no sidecar covers")

    // legacy store: lines/ without bloom/ -> no partial sidecars, then
    // compaction rebuilds one covering everything
    val legacy = tmpDir("inclines10") + "/store"
    Seq((7L, 1L, 0)).toDF("line_hash", "doc_id", "line_no")
      .write.parquet(s"$legacy/lines")
    IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" < 50), "doc_id", "text", legacy)
    assert(!new java.io.File(s"$legacy/bloom").exists(),
      "sidecar written that cannot cover the legacy lines")
    IncrementalLineDedup.compactStore(spark, legacy)
    val armed = KeyBloom.loadSidecars(spark, s"$legacy/bloom", Long.MaxValue)
    assert(armed.map(_.size) === Some(1))
    val all = spark.read.parquet(s"$legacy/lines")
      .select("line_hash").as[Long].collect()
    assert(all.forall(armed.get.head.contains),
      "post-compaction bloom misses a live line hash")
    // and replay through the armed bloom still collides correctly
    val replay = IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" < 50), "doc_id", "text", legacy)
    assert(replay.count() === 0, "replayed lines admitted past the bloom")
  }

  test("probe plan: ONE store scan, batch keys broadcast, store never shuffled") {
    val store = tmpDir("inclines4") + "/store"
    IncrementalLineDedup.ingest(spark,
      lined.filter($"doc_id" < 250), "doc_id", "text", store)
    val batchKeys = LineDedup.dedupLines(
        lined.filter($"doc_id" >= 250), "doc_id", "text")
      .select(xxhash64($"line").as("line_hash")).distinct()
    val hot = IncrementalLineDedup.collisionsOf(
      spark.read.parquet(s"$store/lines"), batchKeys)
    hot.count() // let AQE finalize
    val p = hot.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"probe is not a broadcast semi-join:\n$p")
    // the STORE side must stream straight from its scan into the join —
    // an exchange there would shuffle the corpus-sized side per ingest
    val storeBranch = p.substring(
      p.indexOf("BroadcastHashJoin"), p.indexOf("store/lines"))
    assert(!storeBranch.contains("Exchange"),
      s"store side shuffled in the probe plan:\n$p")
  }
}
