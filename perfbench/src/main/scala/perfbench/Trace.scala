package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into an engine layer. Spans of one
  * timed pass share `run`; `parent` is the id of the enclosing span. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A Spark job: the span whose job group was set when it was submitted,
  * and the innermost engine layer on the call stack of the job or of
  * the SQL action it runs for. */
final class JobStats(val id: Int, val span: Int, val callLayer: Option[String],
                     val submitMs: Long) {
  var endMs: Long = submitMs
}

/** Work Spark did for one stage. `job` is the first job that declared
  * it; `scopes` are the plan operators whose RDDs the stage runs. */
final class StageStats(val id: Int, val job: Int, val scopes: Seq[String]) {
  var submitMs = 0L
  var endMs = 0L
  var tasks = 0L
  var taskNs = 0L
  var taskMaxMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Records spans, Spark jobs and stages, and Catalyst planning phases in
  * memory.
  *
  * The tracer only uses Spark's public hooks: a `SparkListener` for
  * jobs, stages and tasks, a job group per span, and a
  * `QueryExecutionListener` whose `QueryExecution.tracker` gives the
  * analysis, optimization and planning phases of every action. Nothing
  * is written until the run ends. With `enabled = false` every method
  * is a no-op apart from running the wrapped call. While `recording` is
  * off an attached tracer only counts jobs, so the untraced passes of a
  * traced run can be compared job for job with the traced ones. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  var run: Int = -1
  @volatile var recording = false
  val jobCount = new AtomicInteger(0)

  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  // engine layer of each SQL action, from the call stack that started it
  private val execLayers = new ConcurrentHashMap[String, String]()
  private val stages = new ConcurrentHashMap[Int, StageStats]()
  // (phase start ms, phase duration ms) of every traced action
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet()
      if (recording) {
        val group = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
        val span = group.flatMap(_.toIntOption).getOrElse(-1)
        // the result stage is the job's newest; its details are the
        // job's call stack, which lacks the engine's frames when adaptive
        // execution submits the job from its own thread; the SQL action
        // the job runs for was started from the caller's thread
        val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
        def execLayer(key: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(key))).flatMap(id => Option(execLayers.get(id)))
        val layer = Layers.callSiteLayer(callSite)
          .orElse(execLayer("spark.sql.execution.id"))
          .orElse(execLayer("spark.sql.execution.root.id"))
        jobs.put(e.jobId, new JobStats(e.jobId, span, layer, e.time))
        e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId,
          new StageStats(s.stageId, e.jobId, org.apache.spark.sql.PerfbenchHooks.scopes(s))))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if recording =>
        Layers.callSiteLayer(x.details).foreach(l => execLayers.put(x.executionId.toString, l))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.endMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        s.synchronized {
          s.tasks += 1
          s.taskMaxMs = math.max(s.taskMaxMs, e.taskInfo.duration)
          val m = e.taskMetrics
          if (m != null) {
            s.taskNs += m.executorRunTime * 1000000L
            s.gcMs += m.jvmGCTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.durationMs)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Adaptive choices the engine made, as (seam, choice), in call order. */
  val decisions = mutable.ArrayBuffer.empty[(String, String)]
  def decision(seam: String, choice: String): Unit =
    if (enabled) decisions += ((seam, choice))

  /** Runs `body` inside a span named `name`; its Spark jobs carry the
    * span's id as their job group. */
  def span[A](spark: SparkSession, name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val parent = stack.headOption
      val s = Span(nextId.incrementAndGet(), name, parent.map(_.id).getOrElse(0), run,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Waits until the listener bus has delivered every event posted so
    * far, so the job, stage and phase tables are complete. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.sql.PerfbenchHooks.drain(spark.sparkContext)

  def jobStats: Iterable[JobStats] = jobs.values.asScala
  def stageStats: Iterable[StageStats] = stages.values.asScala
}
