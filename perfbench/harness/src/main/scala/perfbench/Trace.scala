package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of the benchmark's own calls into the engine. Wall-clock
  * milliseconds are kept beside the monotonic nanos so listener events,
  * which carry wall-clock times, can be placed inside spans.
  */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String) {
  var t0Ns, t1Ns, w0Ms, w1Ms: Long = 0L
  def wallS: Double = (t1Ns - t0Ns) / 1e9
}

/** In-memory span recorder. Each open span is published to the jobs it
  * submits through the `perfbench.span` local property, which Spark copies
  * into every job's properties (including broadcast and subquery jobs), so
  * listener counters can be attributed exactly.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false
  /** Tags the spans opened from now on (e.g. "traced", "quarter"). */
  var runId = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, parent, runId)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      s.w0Ms = System.currentTimeMillis(); s.t0Ns = System.nanoTime()
      try body
      finally {
        s.t1Ns = System.nanoTime(); s.w1Ms = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Innermost span that was open at wall-clock time `ms`. */
  def at(ms: Long): Int =
    spans.filter(s => s.w0Ms <= ms && ms <= s.w1Ms)
      .sortBy(s => (s.w0Ms, s.id)).lastOption.map(_.id).getOrElse(-1)
}

object Tracer { val Key = "perfbench.span" }

/** Listener counters of one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var readBytes, readRows, writeBytes, writeRows = 0L
  var blocks, blockBytes = 0L
  var taskMaxMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects the Spark-layer counters of a traced run and attributes them to
  * spans: jobs, stages and tasks through the span property; SQL executions
  * through their jobs; planning phases (from each QueryExecution's tracker)
  * and RDD block updates by time.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val execSpan = mutable.Map.empty[Long, Int]
  /** SQL execution id -> (start ms, end ms, written format or ""). */
  val execs = mutable.Map.empty[Long, (Long, Long, String)]
  /** (analysis start ms, planning ms) of each finished QueryExecution. */
  val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  @volatile private var lastJobSpan = -1

  def of(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    lastJobSpan = span
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
    jobStart(e.jobId) = (span, e.time)
    of(span).jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan(id.toLong) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => of(span).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserMs += m.executorDeserializeTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.readBytes += m.inputMetrics.bytesRead
      c.readRows += m.inputMetrics.recordsRead
      c.writeBytes += m.outputMetrics.bytesWritten
      c.writeRows += m.outputMetrics.recordsWritten
    }
    val dur = e.taskInfo.duration
    c.taskMaxMs = math.max(c.taskMaxMs, dur)
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
  }

  def stagesOf(span: Int): Iterable[Int] = synchronized(stageSpan.collect { case (st, sp) if sp == span => st })

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val bytes = info.memSize + info.diskSize
    if (info.blockId.isRDD && bytes > 0) synchronized {
      val c = of(lastJobSpan)
      c.blocks += 1
      c.blockBytes += bytes
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // a file write's plan names its format: "InsertIntoHadoopFsRelationCommand
      // <path>, false, Parquet, [...]"
      val d = s.physicalPlanDescription
      val fmt = Seq("Parquet", "JSON", "CSV").find(f => d.contains(s", $f, ")).getOrElse("")
      execs(s.executionId) = (s.time, -1L, fmt)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(x.executionId).foreach { case (t0, _, f) => execs(x.executionId) = (t0, x.time, f) }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    synchronized(plans += ((start, planMs.toDouble)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
