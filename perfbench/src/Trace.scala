package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of one query execution. `parent` names the span that
  * caused it ("" for a root); every span of an execution shares `exec`.
  */
final case class Span(exec: Long, name: String, parent: String, startNs: Long, endNs: Long)

/** Spans recorded from the benchmark side, around the calls it makes into
  * each layer. Kept in memory and written out when the run ends.
  */
final class Spans {
  val all = new ConcurrentLinkedQueue[Span]()

  def apply[A](exec: Long, name: String, parent: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally all.add(Span(exec, name, parent, t0, System.nanoTime()))
  }
}

/** Per-(job group, phase) scheduler/executor/shuffle totals. */
final class LayerCounts {
  val jobs, stages, tasks, jobWallMs = new AtomicLong
  val runMs, cpuNs, gcMs, deserMs = new AtomicLong
  val shufWrite, shufRead, fetchWaitMs, spill = new AtomicLong
  val inBytes, inRecords, outBytes = new AtomicLong

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "job_wall_ms" -> jobWallMs.get, "task_run_ms" -> runMs.get,
    "task_cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "deser_ms" -> deserMs.get,
    "shuffle_write_b" -> shufWrite.get, "shuffle_read_b" -> shufRead.get,
    "fetch_wait_ms" -> fetchWaitMs.get, "spill_b" -> spill.get,
    "input_b" -> inBytes.get, "input_rows" -> inRecords.get,
    "output_b" -> outBytes.get)
}

/** Listener the benchmark registers itself. It attributes every job, stage
  * and task to the job group and phase that were set on the thread that
  * submitted the job (`Layers.tag`), so counts stay per query when several
  * clients share one session.
  */
final class LayerListener extends SparkListener {
  private val byKey = new ConcurrentHashMap[(String, String), LayerCounts]()
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  private val jobStart = new ConcurrentHashMap[Int, ((String, String), Long)]()

  private def keyOf(p: java.util.Properties): (String, String) =
    if (p == null) ("", "")
    else (Option(p.getProperty(Layers.GroupKey)).getOrElse(""),
      Option(p.getProperty(Layers.PhaseKey)).getOrElse(""))

  private def counts(k: (String, String)): LayerCounts =
    byKey.computeIfAbsent(k, _ => new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    counts(k).jobs.incrementAndGet()
    jobStart.put(e.jobId, (k, e.time))
    e.stageIds.foreach(stageKey.putIfAbsent(_, k))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (k, t0) =>
      counts(k).jobWallMs.addAndGet(e.time - t0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageKey.put(e.stageInfo.stageId, keyOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach(counts(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageKey.get(e.stageId)).filter(_ => m != null).foreach { k =>
      val c = counts(k)
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.deserMs.addAndGet(m.executorDeserializeTime)
      c.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inRecords.addAndGet(m.inputMetrics.recordsRead)
      c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Remove and return the totals of one job group, by phase. */
  def take(group: String): Map[String, LayerCounts] =
    byKey.keySet.asScala.filter(_._1 == group).toList
      .flatMap(k => Option(byKey.remove(k)).map(k._2 -> _)).toMap
}

object Layers {
  /** Local property `setJobGroup` sets (SparkContext.SPARK_JOB_GROUP_ID). */
  val GroupKey = "spark.jobGroup.id"
  val PhaseKey = "perfbench.phase"

  /** Tag jobs submitted from this thread: a job group per query execution
    * and the benchmark phase the job belongs to.
    */
  def tag(sc: SparkContext, group: String, phase: String): Unit = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    sc.setLocalProperty(PhaseKey, phase)
  }

  def untag(sc: SparkContext): Unit = {
    sc.clearJobGroup()
    sc.setLocalProperty(PhaseKey, null)
  }

  /** Block until every event posted so far reached the listeners. The bus
    * accessor is private[spark], which is public in bytecode.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(sys.error("LiveListenerBus.waitUntilEmpty() not found"))
      .invoke(bus)
  }
}
