package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.ext._
import graft.streaming.StreamingDedup

/** What a crashed first append leaves behind: a table directory holding
  * only the committer's `_temporary/0`, no committed data file. Every
  * durable store must read that as "no data yet": its next ingest must
  * equal an ingest into a fresh store, with the same stored count, and
  * every streaming log reader must return the empty log.
  */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  private def plant(table: String): Unit =
    assert(new java.io.File(s"$table/_temporary/0").mkdirs())

  /** `n` documents of 30 words; documents 2k and 2k + 1 are identical. */
  private def docs(n: Int) = (0 until n).map { i =>
    (i.toLong, (0 until 30).map(j => s"w${(i / 2 * 7 + j * 13) % 97}")
      .mkString(" "))
  }.toDF("doc_id", "text")

  // two small animations sharing frames, and a cut of the first
  private val W = 13
  private val H = 9
  private def frame(k: Int, f: Int) = Array.tabulate(W * H)(p =>
    ((p * 31 + k * 7 + f * 53) % 251).toByte)
  private def anims = Seq(
    (1L, Multimodal.encodeGifAnim(W, H, (0 until 5).map(frame(1, _)),
      Array.tabulate(256 * 3)(i => (i / 3).toByte), Seq.fill(5)(6))),
    (2L, Multimodal.encodeApng(W, H, 0, (1 until 5).map(f =>
      Multimodal.ApngFrameSpec(frame(1, f), W, H, delayNum = 6)))))
    .toDF("doc_id", "media")

  /** A store: its tables, one ingest and its stored count. */
  private case class Store(
      name: String,
      tables: Seq[String],
      ingest: String => DataFrame,
      stored: String => Long)

  private val stores = Seq(
    Store("MinHash", Seq("bands", "shingles"),
      IncrementalDedup.ingest(spark, docs(60), "doc_id", "text", _),
      IncrementalDedup.storedDocs(spark, _)),
    Store("embedding", Seq("sigs", "vecs"),
      IncrementalEmbedDedup.ingest(spark,
        (0 until 40).map(i => (i.toLong,
          Array.tabulate(16)(j => math.sin(i / 2 * 31.0 + j))))
          .toDF("vec_id", "v"),
        "vec_id", "v", _,
        IncrementalEmbedDedup.Params(threshold = 0.99, maxHamming = 10)),
      IncrementalEmbedDedup.storedDocs(spark, _)),
    Store("image", Seq("sigs"),
      IncrementalImageDedup.ingest(spark,
        Multimodal.mediaTable(
          docs(40).withColumn("n_chars", length($"text"))), _),
      IncrementalImageDedup.storedDocs(spark, _)),
    Store("keyed", Seq("keys"),
      IncrementalKeyedDedup.ingest(spark,
        Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "k"),
        "doc_id", col("k"), _),
      IncrementalKeyedDedup.storedKeys(spark, _)),
    Store("line", Seq("lines"),
      IncrementalLineDedup.ingest(spark,
        Seq((1L, "x\ny"), (2L, "y\nz")).toDF("doc_id", "text"),
        "doc_id", "text", _),
      IncrementalLineDedup.storedLines(spark, _)),
    Store("substring", Seq("fps", "grams"),
      IncrementalSubstring.ingest(spark, docs(60), "doc_id", "text", _,
        minLen = 40),
      IncrementalSubstring.storedDocs(spark, _)),
    Store("landmark", Seq("fps"),
      AnimDedup.ingest(spark, anims, _),
      p => DurableStore.count(spark, s"$p/fps")))

  stores.foreach { s =>
    test(s"crash leftover: ${s.name} store") {
      val fresh = tmpDir("crashfresh") + "/store"
      val want = s.ingest(fresh).collect().toSet
      assert(want.nonEmpty, s"${s.name}: the fixture must produce rows")
      val store = tmpDir("crashplant") + "/store"
      s.tables.foreach(t => plant(s"$store/$t"))
      assert(s.stored(store) === 0L)
      val got = s.ingest(store).collect().toSet
      assert(got === want, s"${s.name}: missing=${want -- got} extra=${got -- want}")
      assert(s.stored(store) === s.stored(fresh))
      assert(s.stored(store) > 0L)
    }
  }

  test("compaction crash: a parked MinHash table is restored, not replaced") {
    val first = docs(60)
    // new owners of the same texts: every one pairs with a stored doc
    val second = docs(60).withColumn("doc_id", $"doc_id" + 1000L)
    def ingest(store: String, batch: DataFrame) =
      IncrementalDedup.ingest(spark, batch, "doc_id", "text", store)
        .collect().toSet
    val clean = tmpDir("compactclean") + "/store"
    ingest(clean, first)
    val wantPairs = ingest(clean, second)
    IncrementalDedup.compactStore(spark, clean)
    val store = tmpDir("compactcrash") + "/store"
    ingest(store, first)
    // a compaction that crashed between rename(bands, backup) and
    // rename(staging, bands) leaves the table parked at the backup name
    val bands = new java.io.File(s"$store/bands")
    assert(bands.renameTo(new java.io.File(s"$store/.bands__old")))
    val gotPairs = ingest(store, second)
    assert(gotPairs === wantPairs)
    IncrementalDedup.compactStore(spark, store)
    assert(IncrementalDedup.storedDocs(spark, store) ===
      IncrementalDedup.storedDocs(spark, clean))
    assert(DurableStore.count(spark, s"$store/bands") ===
      DurableStore.count(spark, s"$clean/bands"))
  }

  /** A serving artifact: its build at an index path, the directory its
    * swap replaces, its existence check, one probe and one maintenance
    * op (a compaction or an append).
    */
  private case class Artifact(
      name: String,
      build: String => Unit,
      swapped: String => String,
      exists: String => Boolean,
      probe: String => Set[Row],
      maintain: String => Any)

  private def vecs(ids: Range) = ids.map(i => (i.toLong,
    Array.tabulate(16)(j => math.sin(i / 2 * 31.0 + j)))).toDF("vec_id", "v")
  private val query = Seq.tabulate(16)(j => math.sin(62.0 + j))
  private def ivf(p: String) =
    Similarity.ivfBuildPersisted(vecs(0 until 40), "vec_id", "v", p,
      nCentroids = 4, iters = 1)
  private def ivfAppend(p: String) =
    Similarity.ivfAppendPersisted(vecs(40 until 50), "vec_id", "v", p)

  /** Recordings of six globally unique tones each (seeds < 24). */
  private def wav(seed: Int, amp: Double = 0.5) =
    AudioFingerprint.tonesWav(8000,
      (0 until 6).map(i => (300.0 + (seed * 6 + i) * 25.0, 1024)), amp)
  private def recordings(ids: Range) =
    ids.map(k => (k.toLong, wav(k))).toDF("doc_id", "media")

  private val artifacts = Seq(
    Artifact("simhash index `idx`",
      SimhashIndex.build(docs(40), "doc_id", "text", _), identity,
      SimhashIndex.exists(spark, _),
      SimhashIndex.topK(spark, _, docs(6), "doc_id", "text", k = 3)
        .collect().toSet,
      SimhashIndex.compact(spark, _)),
    Artifact("audio index `idx`",
      AudioIndex.build(spark, recordings(0 until 6), _), identity,
      AudioIndex.exists(spark, _),
      AudioIndex.topK(spark, _,
        Seq((500L, wav(1, 0.3)), (501L, wav(4, 0.3))).toDF("doc_id", "media"),
        k = 3).collect().toSet,
      AudioIndex.append(spark, recordings(6 until 9), _)),
    Artifact("IVF dir", ivf, identity,
      Similarity.persistedIndexExists(spark, _),
      Similarity.ivfTopKPersisted(spark, _, query, k = 5, idCol = "vec_id")
        .collect().toSet,
      ivfAppend),
    Artifact("PQ layer `pq`",
      p => { ivf(p); Pq.pqAttachPersisted(spark, p, m = 4, k = 8); () },
      p => s"$p/pq",
      Pq.pqAttached(spark, _),
      Pq.ivfPqTopKPersisted(spark, _, query, k = 5, idCol = "vec_id")
        .collect().toSet,
      p => (ivfAppend(p), Pq.pqAppendPersisted(spark, p))))

  /** A clean and a crashed build of `a`: a swap that crashed between
    * rename(live, backup) and rename(staging, live) leaves the artifact
    * parked at the backup name.
    */
  private def cleanAndParked(a: Artifact): (String, String) = {
    val clean = tmpDir("swapclean") + "/idx"
    a.build(clean)
    val crashed = tmpDir("swapcrash") + "/idx"
    a.build(crashed)
    val live = new java.io.File(a.swapped(crashed))
    assert(live.renameTo(
      new java.io.File(live.getParentFile, s".${live.getName}__old")))
    (clean, crashed)
  }

  artifacts.foreach { a =>
    test(s"swap crash: a parked ${a.name} serves as before the crash") {
      val (clean, crashed) = cleanAndParked(a)
      assert(a.exists(crashed), s"${a.name}: reads as absent")
      assert(a.probe(crashed) === a.probe(clean))
      assert(a.maintain(crashed) === a.maintain(clean))
      assert(a.probe(crashed) === a.probe(clean))
    }

    test(s"swap crash: a parked ${a.name} serves a probe that comes first") {
      val (clean, crashed) = cleanAndParked(a)
      assert(a.probe(crashed) === a.probe(clean))
      assert(a.exists(crashed), s"${a.name}: reads as absent")
    }
  }

  test("legacy build_meta: unpinned fan-outs compact at their defaults, " +
      "an IVF artifact without one records its baseline on append") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def meta(idx: String) = new org.apache.hadoop.fs.Path(idx, "build_meta")
    def metaText(idx: String) = graft.sinks.SwapUtil.readText(fs, meta(idx)).get
    /** Rewrite build_meta without its last (fan-out) line. */
    def unpin(idx: String): String = {
      val legacy = metaText(idx).linesIterator.toSeq.init.mkString("", "\n", "\n")
      graft.sinks.SwapUtil.writeSynced(fs, meta(idx), legacy)
      legacy
    }
    val text = tmpDir("legacymeta") + "/simhash"
    SimhashIndex.build(docs(40), "doc_id", "text", text, filesPerChunk = 1)
    val textMeta = unpin(text)
    assert(textMeta.startsWith("maxhamming 7\nrows ") &&
      !textMeta.contains("filesperchunk"), textMeta)
    val (textBefore, textAfter) = SimhashIndex.compact(spark, text)
    assert(metaText(text) === textMeta + "filesperchunk 8\n")
    assert(textAfter > textBefore, s"$textBefore -> $textAfter files")

    val audio = tmpDir("legacymeta") + "/audio"
    AudioIndex.build(spark, recordings(0 until 6), audio, files = 1)
    val audioMeta = unpin(audio)
    assert(audioMeta.startsWith("fpparams ") && !audioMeta.contains("files"),
      audioMeta)
    val (audioBefore, audioAfter) = AudioIndex.compact(spark, audio)
    assert(metaText(audio) === audioMeta + "files 32\n")
    assert(audioAfter > audioBefore, s"$audioBefore -> $audioAfter files")

    val vec = tmpDir("legacymeta") + "/ivf"
    ivf(vec)
    assert(fs.delete(meta(vec), false))
    val first = ivfAppend(vec)
    assert((first.appended, first.indexRows) === ((10L, 50L)))
    assert(first.staleness === 0.25)
    assert(metaText(vec) === "rows 40\n")
    val second = Similarity.ivfAppendPersisted(vecs(50 until 60), "vec_id",
      "v", vec)
    assert(second.staleness === 0.5)
  }

  private val logs = Seq[(String, String => DataFrame)](
    "pairs" -> (StreamingDedup.pairs(spark, _)),
    "substringPairs" -> (StreamingDedup.substringPairs(spark, _)),
    "survivingLines" -> (StreamingDedup.survivingLines(spark, _, "doc_id")),
    "keyedSurvivors" -> (StreamingDedup.keyedSurvivors(spark, _,
      new StructType().add("doc_id", LongType).add("k", StringType))))

  logs.foreach { case (name, read) =>
    test(s"crash leftover: $name log reader") {
      val empty = read(tmpDir("crashlog") + "/never")
      val log = tmpDir("crashlog") + "/log"
      plant(log)
      val got = read(log)
      assert(got.schema === empty.schema)
      assert(got.collect().toSeq === Seq.empty[Row])
    }
  }
}
