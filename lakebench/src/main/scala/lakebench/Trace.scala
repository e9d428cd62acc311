package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One public call the benchmark made: `layer.call` naming, nanosecond
  * bounds, the enclosing span (0 = none) and the batch it belongs to
  * (its trace id; -1 = set-up, -2 = checks; the index side phase's are
  * -3, -4 and from `Main.SideTrace`). */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    start: Long, var end: Long = 0L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Opens a span around each call the benchmark makes into the program
  * and tags every job launched inside it with the span id through a
  * Spark local property (inherited by the threads a call starts), so
  * the [[Recorder]] can charge job, stage and task metrics to the
  * innermost span. Spans stay in memory until the run writes them out.
  * With tracing off `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var trace: Int = -1
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        trace, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer { val Key = "lakebench.span" }

/** One Spark job with the task metrics of its stages summed. */
final class JobRec(val id: Int, val span: Int, val callSite: String,
    val inSql: Boolean, val start: Long) {
  var end: Long = 0L
  var cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite, spill,
    outBytes: Long = 0L
  var tasks, stages: Int = 0

  /** The action word of `callSite.short` ("parquet at LakeTable.scala:310"). */
  def action: String = callSite.takeWhile(_ != ' ')
  def file: String = callSite.split(" at ").lastOption
    .map(_.takeWhile(_ != ':')).getOrElse("")

  /** The cost pools of the r17 profile: write commands, bounded collects,
    * eager checkpoints and count probes. */
  def pool: String = action match {
    case a if a.toLowerCase.contains("checkpoint") => "checkpoint"
    case "count" => "count"
    case "collect" | "take" | "head" | "first" | "isEmpty" | "collectAsList" |
        "toLocalIterator" | "tail" | "show" | "executeCollect" |
        "executeTake" => "collect"
    // schema inference on read names the same words but runs outside
    // any SQL execution
    case "parquet" | "save" | "json" | "csv" | "text" | "insertInto" |
        "saveAsTable" | "run" | "orc" if inSql => "write"
    case _ => "other"
  }
}

/** Bytes/files one write command put at `path`. */
final case class WriteRec(path: String, files: Long, bytes: Long)

/** Always-on listener: executor CPU and written bytes for the
  * end-to-end figures, plus per-job records for the traced run. Events
  * arrive on the listener bus; read the fields only after
  * [[Recorder.drain]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val writes = mutable.ArrayBuffer.empty[WriteRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  /** SQL execution id -> the call site of the action that started it. */
  private val execSite = mutable.HashMap.empty[Long, String]
  var cpuNs: Long = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    // the call site of the action behind the job: its SQL execution's
    // (query stages run from pool threads and name no user frame), else
    // the result stage's name
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = new JobRec(e.jobId, span, site, exec.isDefined, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
        stageSubmitted.get(e.stageId).foreach(s =>
          j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val found = Recorder.writesOf(qe.executedPlan)
    synchronized { writes ++= found }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Recorder {
  def writesOf(plan: SparkPlan): Seq[WriteRec] = plan.collect {
    case c: CommandResultExec => writesOf(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writesOf(a.executedPlan)
    case q: QueryStageExec => writesOf(q.plan)
    case w: DataWritingCommandExec => w.cmd match {
      case c: InsertIntoHadoopFsRelationCommand =>
        def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
        Seq(WriteRec(c.outputPath.toString, m("numFiles"), m("numOutputBytes")))
      case _ => Nil
    }
  }.flatten

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.LakebenchBridge.drain(sc)
}
