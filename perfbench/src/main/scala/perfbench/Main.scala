package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Pinned values: row count and row hash of each query_mix entry, the
  * row count and hash of each generated table, and the input digest and
  * sizes of each workload for a few (seed, seconds) pairs. A `hash` of
  * None pins the row count only.
  */
final case class Pin(rows: Long, hash: Option[String])
final class Pins(root: JsonNode) {
  private def at(path: String*): Option[JsonNode] =
    path.foldLeft(Option(root))((n, k) => n.flatMap(x => Option(x.get(k))))
  def entry(name: String): Option[Pin] = at("entries", name)
    .map(n => Pin(n.get("rows").asLong, Option(n.get("hash")).filterNot(_.isNull).map(_.asText)))
  def table(name: String): Option[String] = at("tables", name).map(_.asText)
  /** Pinned inputs of `workload` for `seed` at `seconds`, as text. */
  def inputs(workload: String, seed: Long, seconds: Double): Map[String, String] =
    at("inputs", workload, s"$seed@${seconds.toInt}")
      .map(_.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
}

/** Result of one pass. */
final case class PassResult(
    kinds: IndexedSeq[String], latMs: IndexedSeq[Double], cpuMs: IndexedSeq[Double],
    failedOps: Int, failures: Seq[String], windows: Seq[(Long, Long)], tracer: Tracer) {
  def passS: Double = latMs.sum / 1000
  def passCpuS: Double = cpuMs.sum / 1000
}

/** The benchmark's JVM: set-up, an untimed warm-up, then the workload's
  * timed passes of a fixed op list, closed-loop from one client thread.
  * With `--trace 1` one untraced pass, a traced pass and another untraced
  * pass run, each over fresh state. Prints one `PERFBENCH_RESULT {json}`
  * line.
  */
object Main {
  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The aggregate `cpu` line of /proc/stat: (steal jiffies, all jiffies). */
  private def cpuTimes(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  private val threadBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of each live Java thread, by thread id: the client thread,
    * the scheduler and the executor's task threads, but not the JIT
    * compiler or GC threads, whose share of a pass varies from run to run.
    * The kernel leaves out time the hypervisor stole, so co-tenant load
    * moves these clocks far less than wall time.
    */
  private def threadCpuNs(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time Java threads spent since `before`; a thread started since
    * counts in full, one that ended since is lost.
    */
  private def threadCpuSinceNs(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  /** Thread CPU time of a fixed SHA-256 loop, best of three: a probe of
    * how fast this host runs the benchmark's threads at the moment.
    */
  private def cpuProbeMs(): Double = {
    val buf = new Array[Byte](1 << 20)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (1 to 3).map { _ =>
      val t0 = threadBean.getCurrentThreadCpuTime
      (1 to 32).foreach(_ => md.update(buf))
      md.digest()
      (threadBean.getCurrentThreadCpuTime - t0) / 1e6
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg()
    val cpu0 = cpuTimes()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pins = new Pins(opt.get("pins").map(p => new ObjectMapper().readTree(new java.io.File(p))).orNull)
    val wl: Workload = Sizes.workload(spark, workload, seed, seconds, work, pins,
      plantFault = opt.get("plant-fault").contains("1"))

    val setupFailures = mutable.ArrayBuffer.empty[String]
    val tSetup0 = System.nanoTime()
    wl.setup()
    val digest = wl.inputDigest
    wl match {
      case q: QueryMix =>
        q.tableDigests.foreach { case (t, h) =>
          if (!pins.table(t).contains(h))
            setupFailures += s"generated table $t (rows:hash $h) differs from its pin ${pins.table(t)}"
        }
      case _ =>
    }
    val observed = (wl.inputs :+ ("digest" -> digest)).map { case (k, v) => k -> v.toString }.toMap
    pins.inputs(workload, seed, seconds).foreach { case (k, want) =>
      if (!observed.get(k).contains(want))
        setupFailures += s"input $k is ${observed.getOrElse(k, "missing")}, pinned $want for seed $seed"
    }
    val inputS = (System.nanoTime() - tSetup0) / 1e9

    val tWarm0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - tWarm0) / 1e9

    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val jit = ManagementFactory.getCompilationMXBean
    val probe0 = cpuProbeMs()
    val jit0 = jit.getTotalCompilationTime
    // a traced run reports per-layer figures only: one untraced pass
    // before the traced one is enough
    val timed = (1 to (if (trace) 1 else wl.timedPasses)).map(k => runPass(spark, wl, s"p$k", traced = false))
    val jitPassMs = jit.getTotalCompilationTime - jit0
    val probe1 = cpuProbeMs()
    // each op's best wall and CPU time over the timed passes: a pass that
    // a co-tenant slowed down for a while does not set the figures
    def bestOf(f: PassResult => IndexedSeq[Double]) =
      timed.map(f).transpose.map(_.min).toIndexedSeq
    val plain = timed.head.copy(latMs = bestOf(_.latMs), cpuMs = bestOf(_.cpuMs))
    // the traced pass is bracketed by untraced ones, so the JVM's
    // continued warming does not read as negative tracing overhead
    val traced = if (trace) Some(runPass(spark, wl, "tr", traced = true)) else None
    val after = if (trace) Some(runPass(spark, wl, "tr-after", traced = false)) else None
    val loadEnd = loadAvg()
    val cpu1 = cpuTimes()
    val stealPct = if (cpu1._2 > cpu0._2) 100.0 * (cpu1._1 - cpu0._1) / (cpu1._2 - cpu0._2) else 0.0

    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    val (storeBytes, _) = wl.written("p1")
    val n = plain.latMs.size
    // the highest percentile with at least ten ops above it; with ten ops
    // or fewer there is none, and the tail is the slowest op
    val tailIdx = if (n > 10) n - 11 else math.max(0, n - 1)
    val tailPct = if (n > 0) 100.0 * (tailIdx + 1) / n else 0.0
    def median(xs: Seq[Double]) = { val v = xs.sorted; if (v.isEmpty) 0.0 else (v((v.size - 1) / 2) + v(v.size / 2)) / 2 }
    def tail(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(tailIdx)
    val passes = timed ++ traced ++ after
    val attempted = passes.map(_.latMs.size).sum
    val failed = passes.map(_.failedOps).sum
    val failures = setupFailures.toSeq ++ passes.flatMap(_.failures)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (plain.passS, "s"),
      "op_p50_ms" -> (median(plain.latMs), "ms"),
      "op_tail_ms" -> (tail(plain.latMs), "ms"),
      "pass_cpu_s" -> (plain.passCpuS, "s"),
      "op_cpu_p50_ms" -> (median(plain.cpuMs), "ms"),
      "op_cpu_tail_ms" -> (tail(plain.cpuMs), "ms"),
      "op_fail_ratio" -> (if (attempted > 0) failed.toDouble / attempted else 1.0, "ratio"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "store_mb" -> (storeBytes / 1048576.0, "MB"))
    val layers = traced.map(tp => perLayer(wl, tp, (timed.last.passS + after.get.passS) / 2)).getOrElse(Nil)

    val runtime = ManagementFactory.getRuntimeMXBean
    val context = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "load1_start" -> loadStart, "load1_end" -> loadEnd, "cpu_steal_pct" -> stealPct,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${runtime.getVmName} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "tail_percentile" -> f"p$tailPct%.1f",
      "tail_ops_above" -> (n - 1 - tailIdx), "ops" -> n, "timed_passes" -> timed.size,
      "input_digest" -> digest, "input_gen_s" -> inputS, "warmup_s" -> warmS,
      "cpu_probe_ms_before" -> probe0, "cpu_probe_ms_after" -> probe1, "jit_ms_in_pass" -> jitPassMs)
    val sampled = traced.map(_.tracer.sampledByPackage).getOrElse(Nil)
    val selfMs = traced.map(_.tracer.selfMs.toSeq.sortBy(-_._2)).getOrElse(Nil)
    // median latency and CPU time per op kind (query_mix: per entry)
    val byKind = plain.kinds.indices.groupBy(plain.kinds).toSeq.sortBy(_._1).map { case (k, is) =>
      k -> ListMap("n" -> is.size, "p50_ms" -> median(is.map(plain.latMs)),
        "cpu_p50_ms" -> median(is.map(plain.cpuMs)))
    }
    def metrics(xs: Seq[(String, (Double, String))]) =
      ListMap(xs.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*)
    val result = ListMap(
      "correct" -> (failed == 0 && failures.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "sampled_client_ms" -> ListMap(sampled: _*),
      "span_self_ms" -> ListMap(selfMs: _*),
      "op_kinds" -> ListMap(byKind: _*),
      "context" -> ListMap(context: _*),
      "inputs" -> ListMap(wl.inputs: _*))
    println("PERFBENCH_RESULT " + Json.render(result))
    traced.foreach(tp => tp.tracer.writeSpans(java.nio.file.Paths.get(s"$work/spans.jsonl")))
    spark.stop()
  }

  private def runPass(spark: SparkSession, wl: Workload, tag: String, traced: Boolean): PassResult = {
    val ops = wl.pass(tag)
    val t = new Tracer(spark, traced)
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val failures = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    t.start()
    ops.zipWithIndex.foreach { case (op, i) =>
      t.currentOp = i
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val c0 = threadCpuNs()
      val check =
        try Right(t.span(s"op.${op.kind}")(op.run(t)))
        catch { case e: Throwable => Left(s"op $i ${op.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      lat += (System.nanoTime() - t0) / 1e6
      cpu += threadCpuSinceNs(c0) / 1e6
      windows += ((w0, System.currentTimeMillis()))
      val msgs = check match {
        case Left(msg) => Seq(msg)
        case Right(c) =>
          try t.check(c())
          catch { case e: Throwable => Seq(s"op $i ${op.kind} check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      if (msgs.nonEmpty) { failedOps += 1; failures ++= msgs }
    }
    t.stop()
    // each failed end-of-pass check counts as one failed op
    val end = wl.endChecks(tag)
    failures ++= end
    PassResult(ops.map(_.kind), lat.toIndexedSeq, cpu.toIndexedSeq, failedOps + end.size, failures.toSeq, windows.toSeq, t)
  }

  /** The per-layer metrics of a traced pass. */
  private def perLayer(wl: Workload, tp: PassResult, untracedPassS: Double): Seq[(String, (Double, String))] = {
    val t = tp.tracer
    val f = wl.facts("tr").withDefaultValue(0.0)
    def spanMs(name: String) = t.spans.filter(_.name == name).map(_.ms).sum
    val buildSpans = t.spans.filter(_.name == "queries.build").map(_.id).toSet
    val jobs = t.jobList
    Seq(
      "queries.build_ms" -> (spanMs("queries.build"), "ms"),
      "queries.build_jobs" -> (jobs.count(j => buildSpans.contains(j.span)).toDouble, "count"),
      "queries.action_ms" -> (spanMs("queries.action"), "ms"),
      "sources.read_ms" -> (t.sampledMs("graft.sources."), "ms"),
      "sources.rows" -> (f("source_rows"), "count"),
      "ops.build_ms" -> (t.sampledMs("graft.ops."), "ms"),
      "sinks.upsert_ms" -> (t.sampledMs("graft.sinks.UpsertIgnore"), "ms"),
      "sinks.upsert_jobs" -> (t.jobsIn("graft.sinks.UpsertIgnore").toDouble, "count"),
      "sinks.rows_offered" -> (f("rows_offered"), "count"),
      "sinks.rows_inserted" -> (f("rows_inserted"), "count"),
      "sinks.merge_ms" -> (t.sampledMs("graft.sinks.MergeOverwrite") + t.sampledMs("graft.sinks.MergeWrite"), "ms"),
      "sinks.table_files" -> (wl.written("tr")._2.toDouble, "count"),
      "pipelines.api_ms" -> (spanMs("pipelines.api"), "ms"),
      "pipelines.history_ms" -> (spanMs("pipelines.history"), "ms"),
      "pipelines.scrape_ms" -> (spanMs("pipelines.scrape"), "ms"),
      "pipelines.sync_ms" -> (spanMs("pipelines.sync"), "ms"),
      "pipelines.synced_rows" -> (f("synced_rows"), "count"),
      "pipelines.alerts" -> (f("alerts"), "count"),
      "pipelines.ingest_ms" -> (spanMs("pipelines.ingest"), "ms"),
      "pipelines.compact_ms" -> (spanMs("pipelines.compact"), "ms"),
      "pipelines.docs_in" -> (f("docs_in"), "count"),
      "pipelines.docs_kept" -> (f("docs_kept"), "count"),
      "pipelines.store_files" -> (f("store_files"), "count"),
      "spark.plan.analysis_ms" -> (t.counter("plan.analysis"), "ms"),
      "spark.plan.optimization_ms" -> (t.counter("plan.optimization"), "ms"),
      "spark.plan.planning_ms" -> (t.counter("plan.planning"), "ms"),
      "spark.codegen.compiles" -> (t.counter("codegen_n"), "count"),
      "spark.codegen.compile_ms" -> (t.counter("codegen_ms"), "ms"),
      "spark.jobs" -> (jobs.size.toDouble, "count"),
      "spark.stages" -> (t.counter("stages"), "count"),
      "spark.tasks" -> (t.counter("tasks"), "count"),
      "spark.sched_wait_ms" -> (t.counter("sched_wait_ms"), "ms"),
      "spark.tasks_failed" -> (t.counter("tasks_failed"), "count"),
      "spark.task_s" -> (t.counter("task_ms") / 1000, "s"),
      "spark.task_cpu_s" -> (t.counter("task_cpu_ns") / 1e9, "s"),
      "spark.gc_ms" -> (t.counter("gc_ms"), "ms"),
      "spark.shuffle_write_mb" -> (t.counter("shuffle_write_b") / 1048576, "MB"),
      "spark.shuffle_read_mb" -> (t.counter("shuffle_read_b") / 1048576, "MB"),
      "spark.input_mb" -> (t.counter("input_b") / 1048576, "MB"),
      "spark.spill_mb" -> (t.counter("spill_b") / 1048576, "MB"),
      "spark.driver_gap_ms" -> (t.driverGapMs(tp.windows), "ms"),
      "trace.pass_s" -> (tp.passS, "s"),
      "trace.overhead_s" -> (tp.passS - untracedPassS, "s"))
  }

}

/** Workload sizes. Each is a fixed amount of work for a given `--seconds`
  * (sized to take about that long on 4 cores), never a time box, so a
  * slower engine does the same work more slowly.
  */
object Sizes {
  def workload(spark: SparkSession, name: String, seed: Long, seconds: Double,
      work: String, pins: Pins, plantFault: Boolean): Workload = name match {
    case "query_mix" =>
      // whole rounds over the entries: every seed runs the same multiset of ops
      val rounds = math.max(1, math.round(seconds / 24).toInt)
      new QueryMix(spark, work, seed, rounds, pins)
    case "curation_batch" =>
      new CurationBatch(spark, work, seed,
        nBatches = math.max(2, math.round(seconds / 2.4).toInt), batchDocs = 500)
    case "daily_ingest" =>
      // 24 s gives Friday and Saturday, so every seed has the same
      // weekend replay
      new DailyIngest(spark, work, seed,
        nDays = math.max(2, math.round(seconds / 12).toInt), plantFault)
    case other => sys.error(s"unknown workload $other")
  }
}

/** JSON rendering of the result line and the span file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
