package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: `layer` names the repo module (or Spark itself) whose
  * boundary it marks; `parent` is the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startUs: Long, var endUs: Long,
                      attrs: mutable.LinkedHashMap[String, Double])

/** Collects, per timed call, the output columns that its noop write
  * actually consumed. Runs in every run (it is an output check, not
  * tracing). */
class PlanCheck extends QueryExecutionListener {
  val writes = mutable.Map[Long, Seq[String]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val call = qe.analyzed.collectFirst { case w: V2WriteCommand => w.table }.collect {
      case r: DataSourceV2Relation => Option(r.options.get(PlanCheck.CallOption))
    }.flatten
    val cols = qe.executedPlan.collectFirst { case w: V2TableWriteExec => w.query.output.map(_.name) }
    for (c <- call; o <- cols) writes.synchronized { writes(c.toLong) = o }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanCheck {
  val CallOption = "perfbench.call"
}

/** In-memory spans plus the Spark, SQL and streaming listeners of a traced
  * pass. Spans are written out when the run ends. */
class Trace extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private var nextId = 1L
  val spans = ArrayBuffer[Span]()
  private val byId = mutable.Map[Long, Span]()

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def open(name: String, layer: String, parent: Option[Long], startUs: Long = -1L): Long = synchronized {
    val id = nextId; nextId += 1
    val s = Span(id, parent.getOrElse(0L), name, layer,
      if (startUs >= 0) startUs else nowUs(), -1L, mutable.LinkedHashMap())
    spans += s; byId(id) = s
    id
  }
  def close(id: Long): Unit = synchronized { byId(id).endUs = nowUs() }
  def span(id: Long): Span = synchronized { byId(id) }

  // ---- Spark engine (SparkListener) ----
  private val jobSpan = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[(Int, Int), Long]()
  val taskTimes = mutable.Map[Long, ArrayBuffer[Double]]()   // stage span -> task seconds
  var schedulerDelayS = 0.0

  private def groupSpan(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = groupSpan(e.properties)
    val id = open(s"job-${e.jobId}", "engine.job", if (parent > 0) Some(parent) else None,
      e.time * 1000L)
    jobSpan(e.jobId) = id
    e.stageIds.foreach(s => stageJob(s) = id)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(id => span(id).endUs = e.time * 1000L)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val id = open(s"stage-${info.stageId}.${info.attemptNumber()}", "engine.stage",
      stageJob.get(info.stageId), info.submissionTime.map(_ * 1000L).getOrElse(-1L))
    stageSpan((info.stageId, info.attemptNumber())) = id
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    stageSpan.get((e.stageId, e.stageAttemptId)).foreach { sid =>
      taskTimes.getOrElseUpdate(sid, ArrayBuffer()) += ti.duration / 1000.0
    }
    if (m != null) {
      val delay = ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - ti.gettingResultTime
      schedulerDelayS += math.max(0L, delay) / 1000.0
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get((info.stageId, info.attemptNumber())).foreach { sid =>
      val s = span(sid)
      s.endUs = info.completionTime.map(_ * 1000L).getOrElse(nowUs())
      val m = info.taskMetrics
      s.attrs ++= Seq(
        "tasks" -> info.numTasks.toDouble,
        "executor_run_s" -> m.executorRunTime / 1000.0,
        "executor_cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1000.0,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
    }
  }

  // ---- SQL (QueryExecutionListener) ----
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  var rewritesFired = 0L
  var nestedLoopJoins = 0L
  var queryExecutions = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }
    val fired = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.plans.") => s.numEffectiveInvocations
    }.sum
    val nlj = collectWithSubqueries(qe.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.length
    synchronized {
      ph.foreach { case (k, v) => phases(k) += v }
      rewritesFired += fired
      nestedLoopJoins += nlj
      queryExecutions += 1
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ---- streaming (StreamingQueryListener) ----
  val streamDurations = mutable.Map[String, Double]().withDefaultValue(0.0)
  var streamBatches = 0L
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        streamBatches += 1
        e.progress.durationMs.forEach((k, v) => streamDurations(k) += v / 1000.0)
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  // ---- derived views ----
  def children(id: Long): Seq[Span] = synchronized { spans.filter(_.parent == id).toSeq }

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    xs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def selfUs(s: Span): Long = {
    val end = if (s.endUs < 0) s.startUs else s.endUs
    (end - s.startUs) - covered(children(s.id).map(c => (c.startUs, math.max(c.endUs, c.startUs))), s.startUs, end)
  }

  /** Stage spans under an api span (through its jobs). */
  def stagesOf(apiSpan: Long): Seq[Span] = synchronized {
    val jobs = spans.filter(_.parent == apiSpan).map(_.id).toSet
    spans.filter(s => s.layer == "engine.stage" && jobs(s.parent)).toSeq
  }
  def jobsOf(apiSpan: Long): Seq[Span] = synchronized {
    spans.filter(s => s.parent == apiSpan && s.layer == "engine.job").toSeq
  }

  def toJson: String = synchronized {
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfUs).sum / 1e6 }
    Json.obj(
      "self_s_by_layer" -> Json.obj(selfByLayer.toSeq.sortBy(_._1): _*),
      "spans" -> spans.map { s =>
        Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)
      }.toSeq).s
  }
}
