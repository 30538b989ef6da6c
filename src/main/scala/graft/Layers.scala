package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What a block of driver code made Spark do: the jobs, stages and tasks
  * it ran, their executor run time and GC time, and the classes Janino
  * compiled for it and the time that took. Job, stage and task counts do
  * not move with host load, so they can compare runs where wall times
  * cannot. One listener per context serves every measurement: the
  * bench's per-entry layers and the test suite's job and compile budgets.
  *
  * `SPARK_GRAFT_JOBLOG=1` also prints each job as it ends: its id, wall
  * time and the stage name and `graft` frames of its call site.
  */
object Layers {
  /** The counts of one measured block. Compilations and their time
    * (`compileNs`) are JVM-wide, so a block measures its own only while
    * nothing else runs beside it.
    */
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, gcMs: Long, compiles: Long, compileNs: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs, compiles - o.compiles,
      compileNs - o.compileNs)
  }

  private val jobLog = sys.env.contains("SPARK_GRAFT_JOBLOG")

  private final class Counter extends SparkListener {
    private val jobs, stages, tasks, taskMs, gcMs = new AtomicLong
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (jobLog) {
        val site = e.stageInfos.headOption.map { si =>
          si.name.take(60) + " | " +
            si.details.linesIterator.filter(_.contains("graft"))
              .take(2).mkString(" <- ").take(160)
        }.getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), site))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobLog) Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
        println(f"    job ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%8.0f us  $site")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks.toLong)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        taskMs.addAndGet(e.taskMetrics.executorRunTime)
        gcMs.addAndGet(e.taskMetrics.jvmGCTime)
      }

    def counts: Counts = Counts(jobs.get, stages.get, tasks.get, taskMs.get,
      gcMs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }

  private var installed: Option[(SparkContext, Counter)] = None

  /** The context's counter, added as a listener on first use. */
  private def counter(sc: SparkContext): Counter = synchronized {
    installed.collect { case (`sc`, c) => c }.getOrElse {
      val c = new Counter
      sc.addSparkListener(c)
      installed = Some(sc -> c)
      c
    }
  }

  /** `body`'s result and what it made Spark do. The listener bus is
    * asynchronous, so it is drained before the body (no earlier event
    * leaks in) and after it (no event of the body is missed); the drains
    * lie outside any time the body takes itself.
    */
  def measure[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val c = counter(sc)
    ListenerBusDrain(sc)
    val before = c.counts
    val r = body
    ListenerBusDrain(sc)
    (r, c.counts - before)
  }
}
