package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a pass, a call into a graft layer, a Spark job or
  * a Catalyst phase. Times are epoch microseconds; `parent` is 0 for a
  * root. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Spark-side totals attributed to one operation. */
final class OpAgg {
  var jobs, stages, tasks = 0L
  var taskBusyMs, schedDelayMs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, shuffleRecords = 0L
  var spillMemB, spillDiskB, outputB, peakTaskMemB = 0L
  /** shuffle records written by each completed stage, in completion order */
  val stageShuffleRecords = mutable.ArrayBuffer.empty[Long]
  /** per stage with two or more tasks: (stage wall ms, max task ms, median task ms) */
  val stageSkew = mutable.ArrayBuffer.empty[(Long, Long, Long)]
}

/** One query's Catalyst phases (name -> (start ms, end ms)) and scan
  * totals. `op` is the operation it belongs to, or 0 when only its time
  * can tell: perfbench/metrics.py then credits it to the operation whose
  * interval is nearest the start of its phases. */
final case class QueryRec(op: Long, phases: Map[String, (Long, Long)], scanRows: Long, scanB: Long)

object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** The benchmark's span recorder. Registered only for traced passes: a
  * SparkListener attributes jobs, stages and tasks to the operation whose
  * id the driver thread set as the `graftbench.op` local property, and a
  * QueryExecutionListener keeps each executed query's Catalyst phases
  * (`QueryExecution.tracker`) and scan SQLMetrics. The listener runs on the
  * listener-bus thread, possibly before the harness has recorded the
  * operation's span, so queries are kept as they come and matched to
  * operations by time after the run. Everything stays in memory until the
  * run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val OpProperty = "graftbench.op"
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val aggs = mutable.Map.empty[Long, OpAgg]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)] // job -> (op, startUs)
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageRecords = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  def newId(): Long = synchronized { nextId += 1; nextId }
  def record(s: Span): Unit = synchronized { spans += s }
  private def agg(op: Long): OpAgg = aggs.getOrElseUpdate(op, new OpAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toLong).getOrElse(0L)
    jobOp(e.jobId) = (op, e.time * 1000L)
    e.stageIds.foreach(stageOp(_) = op)
    agg(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      spans += Span(newId(), op, "spark.job", t0, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = agg(stageOp.getOrElse(info.stageId, 0L))
    a.stages += 1
    a.stageShuffleRecords += stageRecords.remove(info.stageId).getOrElse(0L)
    val ts = stageTaskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
    if (ts.size >= 2) {
      val wall = for (s <- info.submissionTime; c <- info.completionTime) yield c - s
      a.stageSkew += ((wall.getOrElse(ts.max), ts.max, ts(ts.size / 2)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageOp.getOrElse(e.stageId, 0L))
    val ti = e.taskInfo
    a.tasks += 1
    a.taskBusyMs += ti.duration
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ti.duration
    val m = e.taskMetrics
    if (m != null) {
      // Spark UI's scheduler delay: the part of a task's life spent neither
      // running, deserializing, serializing its result nor fetching it
      a.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      stageRecords(e.stageId) += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillMemB += m.memoryBytesSpilled
      a.spillDiskB += m.diskBytesSpilled
      a.outputB += m.outputMetrics.bytesWritten
      a.peakTaskMemB = math.max(a.peakTaskMemB, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    var rows, bytes = 0L
    Tracer.scans(qe.executedPlan).foreach { scan =>
      scan.metrics.get("numOutputRows").foreach(rows += _.value)
      scan.metrics.get("filesSize").foreach(bytes += _.value)
    }
    synchronized { queries += QueryRec(0L, Tracer.phases(qe), rows, bytes) }
  }

  /** Catalyst phases of a Dataset whose own QueryExecution is never
    * executed (a write runs a new one), so that its analysis is counted
    * too. Called by the harness while operation `op` runs. */
  def recordPhases(op: Long, qe: QueryExecution): Unit = synchronized {
    queries += QueryRec(op, Tracer.phases(qe), 0L, 0L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Deliver the events of earlier, untraced work first, so that none of
    * them reaches this tracer. */
  def attach(spark: SparkSession): Unit = {
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every queued event has reached the listeners, then detach. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }.toMap

  /** File scans of an executed plan, looking through AQE stages and
    * subqueries. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s @ (_: DataSourceScanExec | _: DataSourceV2ScanExecBase) => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
