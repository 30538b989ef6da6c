package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval on the client thread. `op` is the index of
  * the op it belongs to (-1 outside ops).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, t0: Long, t1: Long) {
  def ms: Double = (t1 - t0) / 1e6
}

/** One Spark job: the span it was submitted under, the innermost graft
  * frame of its call site ("" when adaptive execution submitted it from its
  * own thread), and its start and end in epoch milliseconds.
  */
final case class Job(id: Int, span: Int, site: String, start: Long, var end: Long)

/** Spans and counters for one pass. The untraced form records nothing and
  * adds nothing to the session; `start()` attaches a SparkListener, a
  * QueryExecutionListener and a stack sampler of the client thread, all
  * removed again by `stop()`.
  */
class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  var currentOp: Int = -1

  /** Runs `body` inside a span; jobs it submits carry the span id. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body
      finally {
        val t1 = System.nanoTime()
        val (_, _, t0) = stack.head
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._1.toString).orNull)
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  // ------------------------------------------------------------ listeners

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, _ + _)
  @volatile private var jobsEnded = 0

  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val checkExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Runs a correctness check: its jobs, stages, tasks and plans are left
    * out of every counter, and the sampler skips it.
    */
  def check[A](body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(Tracer.CheckKey, "1")
      paused = true
      val (n0, ms0) = codegen()
      try body
      finally {
        val (n1, ms1) = codegen()
        checkCodegen = (checkCodegen._1 + n1 - n0, checkCodegen._2 + ms1 - ms0)
        paused = false
        sc.setLocalProperty(Tracer.CheckKey, null)
      }
    }
  private var checkCodegen = (0L, 0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Tracer.CheckKey) != null)) {
        e.stageIds.foreach(checkStages.add)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => checkExecs.add(x.toLong))
      } else {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
          .map(_.toInt).getOrElse(-1)
        val site = e.stageInfos.headOption.map(_.details).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, span, Tracer.innermostGraft(site.linesIterator), e.time, -1))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j => j.end = e.time; jobsEnded += 1 }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!checkStages.contains(e.stageInfo.stageId)) add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!checkStages.contains(e.stageId)) {
        add("tasks", 1)
        if (!e.taskInfo.successful) add("tasks_failed", 1)
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          add("sched_wait_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble))
        val m = e.taskMetrics
        if (m != null) {
          add("task_ms", m.executorRunTime.toDouble)
          add("task_cpu_ns", m.executorCpuTime.toDouble)
          add("gc_ms", m.jvmGCTime.toDouble)
          add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          add("input_b", m.inputMetrics.bytesRead.toDouble)
          add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      if (!checkExecs.contains(qe.id))
        qe.tracker.phases.foreach { case (phase, s) => add(s"plan.$phase", s.durationMs.toDouble) }
  }

  // --------------------------------------------------------------- sampler

  /** (innermost graft class, nanos since the previous sample, epoch ms) */
  private val samples = new ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile private var sampling = false
  @volatile private var paused = false
  private var sampler: Thread = _

  private def startSampler(client: Thread): Unit = {
    sampling = true
    sampler = new Thread(() => {
      var last = System.nanoTime()
      while (sampling) {
        Thread.sleep(Tracer.SampleMs)
        val now = System.nanoTime()
        if (!paused) {
          val frames = client.getStackTrace.iterator.map(_.getClassName)
          samples.add((Tracer.innermostGraft(frames), now - last, System.currentTimeMillis()))
        }
        last = now
      }
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** (classes compiled, milliseconds compiling), both cumulative. */
  private def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
  private var codegen0 = (0L, 0.0)

  def start(): Unit = if (enabled) {
    codegen0 = codegen()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    startSampler(Thread.currentThread())
  }

  def stop(): Unit = if (enabled) {
    sampling = false
    sampler.join()
    // listener events arrive asynchronously: wait until every job seen has ended
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded < jobs.size && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val (n1, ms1) = codegen()
    counters.put("codegen_n", (n1 - codegen0._1 - checkCodegen._1).toDouble)
    counters.put("codegen_ms", ms1 - codegen0._2 - checkCodegen._2)
  }

  // ------------------------------------------------------------- summaries

  def counter(k: String): Double = counters.getOrDefault(k, 0.0)
  def jobList: Seq[Job] = jobs.values.asScala.toSeq

  /** Sampled client-thread milliseconds whose innermost graft frame's
    * class starts with `prefix`.
    */
  def sampledMs(prefix: String): Double =
    samples.asScala.iterator.filter(_._1.startsWith(prefix)).map(_._2).sum / 1e6

  /** Jobs started while the client thread's innermost graft frame had
    * `prefix`. A job's own call site names that frame when the client
    * thread submits it; jobs that adaptive execution submits from its own
    * threads carry no graft frame and take the client thread's sample
    * nearest their start instead.
    */
  def jobsIn(prefix: String): Int = {
    val byTime = samples.asScala.toArray.sortBy(_._3)
    val times = byTime.map(_._3)
    def clientAt(ms: Long): String =
      if (times.isEmpty) ""
      else {
        val i = java.util.Arrays.binarySearch(times, ms)
        val at = if (i >= 0) i else math.min(-i - 1, times.length - 1)
        byTime(at)._1
      }
    jobList.count { j => (if (j.site.nonEmpty) j.site else clientAt(j.start)).startsWith(prefix) }
  }

  /** Sampled milliseconds per graft package (innermost frame), plus
    * "outside" for samples with no graft frame at all.
    */
  def sampledByPackage: Seq[(String, Double)] =
    samples.asScala.toSeq.groupBy { case (cls, _, _) =>
      if (cls.isEmpty) "outside"
      else cls.split('.').take(2).mkString(".").takeWhile(_ != '$')
    }.map { case (k, v) => k -> v.map(_._2).sum / 1e6 }.toSeq.sortBy(-_._2)

  /** Op wall time not covered by any running job, summed over ops. */
  def driverGapMs(opWindows: Seq[(Long, Long)]): Double = {
    val intervals = jobList.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    // merge job intervals, then subtract them from each op window
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    intervals.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    opWindows.map { case (a, b) =>
      val covered = merged.iterator.map { case (s, e) =>
        math.max(0L, math.min(b, e) - math.max(a, s))
      }.sum
      (b - a - covered).toDouble
    }.sum
  }

  /** Self time: each span's duration minus what its child spans cover. */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Spans, then jobs, one JSON object a line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.t0).map { s =>
      Json.render(ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.t0, "end_ns" -> s.t1))
    } ++ jobList.sortBy(_.id).map { j =>
      Json.render(ListMap("job" -> j.id, "span" -> j.span, "site" -> j.site,
        "start_ms" -> j.start, "end_ms" -> j.end))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val CheckKey = "perfbench.check"
  val SampleMs = 2L

  /** The first (innermost) frame of the engine's own code, or "". */
  def innermostGraft(frames: Iterator[String]): String =
    frames.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
}
