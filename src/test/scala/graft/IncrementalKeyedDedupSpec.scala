package graft

import org.apache.spark.sql.functions._
import graft.ext.{IncrementalKeyedDedup, Urls}

/** Generic durable keyed keep-first: one-shot equivalence in id order,
  * replay idempotence, null-key passthrough, per-(key,id) survivor
  * resolution, and the store-never-shuffled probe (crash leftovers:
  * StoreCrashSpec).
  */
class IncrementalKeyedDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id").as[Long].collect().toSet

  test("two ingests in id order == one-shot keep-first on the key") {
    val store = tmpDir("inckey1") + "/store"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), (col("doc_id") % 37).as("k"))
    val s1 = ids(IncrementalKeyedDedup.ingest(spark,
      docs.filter($"doc_id" < 250), "doc_id", col("k"), store))
    val s2 = ids(IncrementalKeyedDedup.ingest(spark,
      docs.filter($"doc_id" >= 250), "doc_id", col("k"), store))
    val oneShot = docs.groupBy("k").agg(min("doc_id").as("doc_id"))
    assert((s1 ++ s2) === ids(oneShot))
    assert(s2.isEmpty, "every key >= 250 was already owned by id < 250")
    assert(IncrementalKeyedDedup.storedKeys(spark, store) === 37)
  }

  test("replay is a no-op on the store and RETURNS THE SAME SURVIVORS") {
    val store = tmpDir("inckey2") + "/store"
    val b = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "k")
    val first = ids(IncrementalKeyedDedup.ingest(spark, b, "doc_id", col("k"), store))
    assert(first === Set(1L, 3L))
    // crash-replay shape: a rerun of the same batch (store already has
    // its keys, the caller's downstream commit never happened) must
    // re-emit the same survivors — the owner-aware check recognizes the
    // batch's own registrations — without duplicating store keys
    val again = ids(IncrementalKeyedDedup.ingest(spark, b, "doc_id", col("k"), store))
    assert(again === Set(1L, 3L),
      s"replay must return the same survivors, not drop the batch: $again")
    assert(IncrementalKeyedDedup.storedKeys(spark, store) === 2)
  }

  test("null keys pass through untouched and are never registered") {
    val store = tmpDir("inckey3") + "/store"
    val b1 = Seq((1L, "x"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "k")
    val s1 = ids(IncrementalKeyedDedup.ingest(spark, b1, "doc_id", col("k"), store))
    assert(s1 === Set(1L, 2L, 3L), s"keyless rows must survive: $s1")
    // a later keyless row still passes — nothing was registered for null
    val b2 = Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "k")
    assert(ids(IncrementalKeyedDedup.ingest(spark, b2, "doc_id", col("k"), store))
      === Set(4L))
    assert(IncrementalKeyedDedup.storedKeys(spark, store) === 1)
  }

  test("a row survives per (key, id): an id's losing key cannot resurrect it") {
    val store = tmpDir("inckey4") + "/store"
    IncrementalKeyedDedup.ingest(spark,
      Seq((1L, "urlX")).toDF("doc_id", "k"), "doc_id", col("k"), store)
    // id 7 carries TWO rows: one with the already-owned key, one fresh
    val b2 = Seq((7L, "urlX"), (7L, "urlY")).toDF("doc_id", "k")
    val out = IncrementalKeyedDedup.ingest(spark, b2, "doc_id", col("k"), store)
      .select("doc_id", "k").as[(Long, String)].collect().toSet
    assert(out === Set((7L, "urlY")),
      s"only the fresh-key row may survive: $out")
  }

  test("URL crawl shape: canonical key collapses re-crawls across batches") {
    val store = tmpDir("inckey5") + "/store"
    val crawl1 = Seq((1L, "HTTP://A.com/x?b=2&utm_source=s"))
      .toDF("doc_id", "url")
    val crawl2 = Seq(
      (11L, "http://a.com/x/?b=2"), // same page, messier — re-crawl
      (12L, "http://a.com/y"),      // new page
      (13L, "not a url")            // unparseable: passes through
    ).toDF("doc_id", "url")
    def ing(b: org.apache.spark.sql.DataFrame) =
      IncrementalKeyedDedup.ingest(spark, b, "doc_id",
        Urls.canonicalize(col("url")), store)
    assert(ids(ing(crawl1)) === Set(1L))
    assert(ids(ing(crawl2)) === Set(12L, 13L), "re-crawl 11 must drop")
  }

  test("forget: a forgotten owner's keys stop blocking; others still block") {
    val store = tmpDir("inckey9") + "/store"
    IncrementalKeyedDedup.ingest(spark,
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "k"), "doc_id", col("k"), store)
    // takedown of doc 1: its key must stop blocking future copies
    IncrementalKeyedDedup.forget(spark, store,
      Seq(Tuple1(1L)).toDF("doc_id"))
    val after = IncrementalKeyedDedup.ingest(spark,
      Seq((11L, "x"), (12L, "y")).toDF("doc_id", "k"), "doc_id", col("k"), store)
      .select("doc_id").as[Long].collect().toSet
    assert(after === Set(11L), s"x re-admitted, y still blocked: $after")
    // the re-admission registered a NEW owner for x — it blocks again
    val third = IncrementalKeyedDedup.ingest(spark,
      Seq((21L, "x")).toDF("doc_id", "k"), "doc_id", col("k"), store)
      .select("doc_id").as[Long].collect().toSet
    assert(third.isEmpty, s"x must block again after re-admission: $third")
  }

  test("compaction shrinks the file count; results and replays unchanged") {
    val store = tmpDir("inckey8") + "/store"
    for (i <- 0 until 4) // four ingests -> four part-file sets
      IncrementalKeyedDedup.ingest(spark,
        Seq((i.toLong, s"k$i")).toDF("doc_id", "k"), "doc_id", col("k"), store)
    val n0 = IncrementalKeyedDedup.storedKeys(spark, store)
    val (before, after) = IncrementalKeyedDedup.compactStore(spark, store)
    assert(after < before, s"compaction did not shrink: $before -> $after")
    assert(IncrementalKeyedDedup.storedKeys(spark, store) === n0)
    // the compacted store still resolves owner-aware: a replayed row
    // survives as its own registration, a NEW id on a stored key drops
    val again = IncrementalKeyedDedup.ingest(spark,
      Seq((0L, "k0"), (99L, "k1")).toDF("doc_id", "k"), "doc_id", col("k"), store)
    assert(ids(again) === Set(0L), "replayed row survives, usurper drops")
  }

  test("compaction folds tombstones: forgotten keys erased, forgotten/ cleared") {
    val store = tmpDir("inckey10") + "/store"
    IncrementalKeyedDedup.ingest(spark,
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "k"), "doc_id", col("k"), store)
    IncrementalKeyedDedup.forget(spark, store, Seq(Tuple1(1L)).toDF("doc_id"))
    IncrementalKeyedDedup.compactStore(spark, store)
    assert(spark.read.parquet(s"$store/keys")
      .filter($"doc_id" === 1L).count() === 0, "forgotten key retained")
    assert(!new java.io.File(s"$store/forgotten").exists(),
      "forgotten/ not cleared by the fold")
    // probe identical to the pre-fold masked store: x re-admitted under
    // a new owner, y still blocked
    val after = ids(IncrementalKeyedDedup.ingest(spark,
      Seq((11L, "x"), (12L, "y")).toDF("doc_id", "k"), "doc_id", col("k"), store))
    assert(after === Set(11L), s"post-fold probe drifted: $after")
  }

  test("probe plan: ONE store scan, batch keys broadcast, store never shuffled") {
    val store = tmpDir("inckey7") + "/store"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), (col("doc_id") % 37).as("k"))
    IncrementalKeyedDedup.ingest(spark,
      docs.filter($"doc_id" < 250), "doc_id", col("k"), store)
    val batchKeys = docs.filter($"doc_id" >= 250)
      .select(xxhash64($"k").as("key_hash")).distinct()
    val hot = IncrementalKeyedDedup.collisionsOf(
      spark.read.parquet(s"$store/keys"), batchKeys)
    hot.count()
    val p = hot.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"probe is not a broadcast semi-join:\n$p")
    val storeBranch = p.substring(
      p.indexOf("BroadcastHashJoin"), p.indexOf("store/keys"))
    assert(!storeBranch.contains("Exchange"),
      s"store side shuffled in the probe plan:\n$p")
  }
}
