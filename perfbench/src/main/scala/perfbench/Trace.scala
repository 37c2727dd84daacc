package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing through Spark's public listeners only.
  *
  * Every operation the harness times is tagged with a local property
  * (`perfbench.op`), which Spark copies onto the jobs it launches; the
  * `SparkListener` attributes jobs, stages and task metrics to the tag. A
  * `QueryExecutionListener` records the analysis / optimization / planning
  * phases of each action and a `StreamingQueryListener` records each
  * micro-batch's `durationMs`. Events arrive asynchronously on the listener
  * bus; [[drain]] waits until it has gone quiet before anything is read. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val byTag = new ConcurrentHashMap[String, TaskTotals]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val events = new AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      jobs.put(e.jobId, JobRec(tag, e.time, -1L, e.stageIds.size))
      e.stageIds.foreach(s => stageOwner.put(s, tag))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val t = byTag.computeIfAbsent(stageOwner.getOrDefault(e.stageId, ""), _ => new TaskTotals)
        t.synchronized {
          t.tasks += 1
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(f: String, qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val p = qe.tracker.phases
      def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = p.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
      phases.add(Phases(f, start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      batches.add(d + ("numInputRows" -> e.progress.numInputRows.toDouble))
    }
  }

  private var on = false

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until no listener event has arrived for 50 ms (at most 5 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(50)
    }
  }

  /** Layer totals for the operations tagged `tag` (all ran inside
    * `[startMs, endMs]`). */
  def layers(tag: String, startMs: Long, endMs: Long): Layers = {
    val js = jobs.values.asScala.filter(_.tag == tag).toSeq
    val spans = js.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
    val active = unionMs(spans)
    val t = Option(byTag.get(tag)).getOrElse(new TaskTotals)
    // an action's planning phases started inside the operation's window;
    // the memory-sourced stream's own sink action is not the operation's
    val mine = phases.asScala.filter(p => p.startMs >= startMs && p.startMs <= endMs &&
      p.action != StreamSinkAction).toSeq
    Layers(
      wallMs = (endMs - startMs).toDouble,
      jobsActiveMs = active,
      jobs = js.size, stages = js.map(_.stages).sum, tasks = t.tasks,
      taskRunMs = t.runMs.toDouble, taskCpuMs = t.cpuNs / 1e6, gcMs = t.gcMs.toDouble,
      shuffleRead = t.shuffleRead, shuffleWrite = t.shuffleWrite, spill = t.spill,
      analysisMs = mine.map(_.analysisMs).sum, optimizationMs = mine.map(_.optimizationMs).sum,
      planningMs = mine.map(_.planningMs).sum)
  }
}

object Tracer {
  val TagKey = "perfbench.op"

  /** `BehaviorIngest.profileSink` writes each micro-batch with this action. */
  val StreamSinkAction = "foreachPartition"

  final case class Phases(action: String, startMs: Long, analysisMs: Double,
      optimizationMs: Double, planningMs: Double)

  final case class JobRec(tag: String, startMs: Long, endMs: Long, stages: Int)

  final class TaskTotals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  /** What one tagged operation cost, split by layer. */
  final case class Layers(wallMs: Double, jobsActiveMs: Double, jobs: Int, stages: Int,
      tasks: Long, taskRunMs: Double, taskCpuMs: Double, gcMs: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long,
      analysisMs: Double, optimizationMs: Double, planningMs: Double) {
    def driverOnlyMs: Double = wallMs - jobsActiveMs
  }

  /** Length of the union of `[start, end]` intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Janino compilations so far and their approximate total ms (count ×
    * mean of Spark's compile-time histogram, which samples recent
    * compilations). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
