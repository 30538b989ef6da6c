package graft

import org.apache.spark.sql.functions._
import graft.sinks.Maintenance

class MaintenanceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("compact: many small files collapse to the target count, rows intact") {
    val path = tmpDir("compact") + "/t"
    val src = Tables.orders(spark, dir)
    src.repartition(40).write.parquet(path) // simulate incremental-append debris
    val rowsBefore = spark.read.parquet(path).count()
    val (before, after) = Maintenance.compact(spark, path, targetFileBytes = 8L * 1024 * 1024)
    assert(before >= 40, s"setup wrote $before files")
    assert(after < before, s"no compaction: $before -> $after")
    // tiny table well under one target file -> exactly 1 data file
    assert(after == 1)
    assert(spark.read.parquet(path).count() == rowsBefore)
    assert(spark.read.parquet(path).schema == src.schema)
  }

  test("compactClustered: rows intact, clustered layout, partitioned dirs reject") {
    val path = tmpDir("compact_z") + "/t"
    val src = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    src.repartition(40).write.parquet(path)
    val rowsBefore = spark.read.parquet(path).count()
    val (before, after) = Maintenance.compactClustered(spark, path,
      Seq("l_partkey", "l_suppkey"), targetFileBytes = 1024 * 1024)
    assert(before >= 40 && after < before, s"no compaction: $before -> $after")
    val back = spark.read.parquet(path)
    assert(back.count() == rowsBefore)
    assert(back.columns.toSeq == src.columns.toSeq, "helper column leaked")
    // the rewrite clustered whatever files it produced: if several,
    // their (partkey, suppkey) boxes are disjoint-ish, not all-covering
    val boxes = graft.ops.Layout
      .fileBoxes(back, Seq("l_partkey", "l_suppkey")).collect()
    if (boxes.length > 1) {
      val touch = boxes.count(r => r.getLong(2) <= 500 && r.getLong(3) >= 251 &&
        r.getLong(4) <= 50 && r.getLong(5) >= 26)
      assert(touch < boxes.length,
        s"clustered rewrite: predicate touches all ${boxes.length} files")
    }
    // partitioned directory -> loud reject (layout pinned by partitions)
    val ppath = tmpDir("compact_zp") + "/t"
    Tables.orders(spark, dir).repartition(4)
      .write.partitionBy("o_orderpriority").parquet(ppath)
    intercept[IllegalArgumentException] {
      Maintenance.compactClustered(spark, ppath, Seq("o_totalprice"))
    }
  }

  test("compact preserves a partitioned table's directory layout") {
    val path = tmpDir("compact_part") + "/t"
    Tables.orders(spark, dir).repartition(10)
      .write.partitionBy("o_orderpriority").parquet(path)
    val rowsBefore = spark.read.parquet(path).count()
    val (before, after) = Maintenance.compact(spark, path,
      targetFileBytes = 8L * 1024 * 1024)
    assert(after < before, s"no compaction: $before -> $after")
    // partition dirs survive the rewrite; pruning still works
    val dirs = new java.io.File(path).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("o_orderpriority=")),
      s"partition layout destroyed: ${dirs.toSeq}")
    val pruned = spark.read.parquet(path)
      .filter(col("o_orderpriority") === "1-URGENT")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(o_orderpriority"))
    assert(spark.read.parquet(path).count() == rowsBefore)
  }

  test("compact round-trips numeric-looking partition directory names byte-identically") {
    import spark.implicits._
    val path = tmpDir("compact_names") + "/t"
    Seq((1L, "007"), (2L, "007"), (3L, "08"))
      .toDF("id", "p").repartition(4)
      .write.partitionBy("p").parquet(path)
    Maintenance.compact(spark, path, targetFileBytes = 8L * 1024 * 1024)
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("p=")).sorted.toSeq
    // type inference would have rewritten these as p=7 / p=8
    assert(dirs == Seq("p=007", "p=08"), s"partition names mangled: $dirs")
    assert(spark.read.parquet(path).count() == 3)
  }

  test("compact crash mid-swap: recover restores the table; next compact heals itself") {
    val path = tmpDir("compact_crash") + "/t"
    Tables.orders(spark, dir).repartition(8).write.parquet(path)
    val rows = spark.read.parquet(path).count()
    // simulate a crash between rename(p, bak) and rename(tmp, p): the
    // table path is gone, data parked in the hidden backup
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bak = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__old")
    assert(fs.rename(p, bak))
    assert(!fs.exists(p))
    assert(graft.sinks.SwapUtil.recoverOne(fs, p), "recover reported no restore")
    assert(spark.read.parquet(path).count() == rows)
    // and recover is idempotent / no-op on a healthy table
    assert(!graft.sinks.SwapUtil.recoverOne(fs, p))
    // a crashed state is also healed implicitly by the next compact call
    assert(fs.rename(p, bak))
    val (_, after) = Maintenance.compact(spark, path, targetFileBytes = 8L * 1024 * 1024)
    assert(after == 1 && spark.read.parquet(path).count() == rows)
  }

  test("zOrderBy on empty input degrades to a plain write, not an NPE") {
    val path = tmpDir("zorder_empty") + "/t"
    Maintenance.zOrderBy(
      Tables.orders(spark, dir).filter(col("o_orderkey") < 0),
      path, "o_custkey", "o_orderkey", numFiles = 4)
    assert(spark.read.parquet(path).count() == 0)
  }

  test("zOrderBy rejects a reserved __z column") {
    intercept[IllegalArgumentException] {
      Maintenance.zOrderBy(
        Tables.orders(spark, dir).withColumn("__z", col("o_orderkey")),
        tmpDir("zz"), "o_custkey", "o_orderkey", 2)
    }
  }

  test("compact: guard rejects sub-MiB targets") {
    intercept[IllegalArgumentException] {
      Maintenance.compact(spark, tmpDir("x"), targetFileBytes = 1000)
    }
  }

  test("clusterBy: files cover disjoint ranges of the cluster column") {
    val path = tmpDir("cluster") + "/t"
    Maintenance.clusterBy(Tables.orders(spark, dir), path, "o_orderkey", numFiles = 4)
    // per-file [min,max] of the cluster column must not interleave
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(path).count() ==
      Tables.orders(spark, dir).count())
  }

  test("zOrderBy: files cover small rectangles of (a,b) space on average") {
    val path = tmpDir("zorder") + "/t"
    Maintenance.zOrderBy(Tables.orders(spark, dir), path,
      "o_custkey", "o_orderkey", numFiles = 8)
    val spans = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_custkey").as("loA"), max("o_custkey").as("hiA"),
        min("o_orderkey").as("loB"), max("o_orderkey").as("hiB"))
      .collect()
    assert(spans.length == 8)
    val g = Tables.orders(spark, dir)
      .agg(min("o_custkey"), max("o_custkey"), min("o_orderkey"), max("o_orderkey"))
      .head()
    val (gSpanA, gSpanB) =
      ((g.getLong(1) - g.getLong(0)).toDouble, (g.getLong(3) - g.getLong(2)).toDouble)
    // z-range boundaries are sampled quantiles, so an individual file can
    // straddle a quadrant edge and span one full dimension — the layout
    // guarantee is about covered AREA: on average each file covers a
    // small rectangle of (a,b) space, where 1-D clustering pins one
    // dimension but leaves the other at ~full span (area ~ 1/numFiles
    // only in the clustered dimension: avg area ~ 0.125*1.0 = 0.125 is
    // achievable on the clustered col but the OTHER col's filter prunes
    // nothing; z-order serves range filters on either column)
    val areas = spans.map { r =>
      ((r.getLong(2) - r.getLong(1)).toDouble / gSpanA) *
        ((r.getLong(4) - r.getLong(3)).toDouble / gSpanB)
    }
    assert(areas.sum / areas.length <= 0.35,
      s"mean covered area ${areas.sum / areas.length} (areas: ${areas.toSeq})")
    // and the second dimension is genuinely constrained on average —
    // the thing 1-D clustering cannot do
    val spanBs = spans.map(r => (r.getLong(4) - r.getLong(3)).toDouble / gSpanB)
    assert(spanBs.sum / spanBs.length <= 0.7,
      s"mean o_orderkey span ${spanBs.sum / spanBs.length}")
    assert(spark.read.parquet(path).count() == Tables.orders(spark, dir).count())
  }

  test("clusterBy: range filter after clustering prunes at the scan") {
    val path = tmpDir("cluster2") + "/t"
    Maintenance.clusterBy(Tables.orders(spark, dir), path, "o_orderkey", numFiles = 4)
    val q = spark.read.parquet(path).filter(col("o_orderkey") < 100)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)"),
      s"range predicate not pushed:\n$p")
    assert(q.count() == Tables.orders(spark, dir).filter(col("o_orderkey") < 100).count())
  }
}
