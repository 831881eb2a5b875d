package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** The traced run: separate from the timed window, with a SparkListener and
  * a QueryExecutionListener registered and spans around the benchmark's own
  * calls. It traces one pass at the workload size ("traced") and, where the
  * workload has one, one at a quarter of it ("quarter"), then runs the kernel
  * microbenchmark. Spans and counters stay in memory until the end.
  */
object Traced {

  def run(spark: SparkSession, a: Main.Args, wl: Workload, tracer: Tracer,
      timed: Timed): Map[String, Any] = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    tracer.enabled = true

    def pass(w: Workload, runId: String): Unit = {
      tracer.runId = runId
      w.ops.foreach { op =>
        timed.settle()
        tracer(s"op:${op.name}")(op.run(1000))
        w.afterRun(1000)
      }
    }
    pass(wl, "traced")
    val quarter = wl.resized
    quarter.foreach { q =>
      q.prepare()
      pass(q, "quarter")
    }
    tracer.enabled = false
    PerfbenchAccess.drainListenerBus(sc)
    spark.listenerManager.unregister(listener)
    sc.removeSparkListener(listener)
    val kernels = Kernels.run(a.seed, 0.4)

    val spans = tracer.spans.toSeq
    val execs = listener.execs.toSeq.sortBy(_._1).map { case (id, (t0, t1, fmt)) =>
      Map("span" -> listener.execSpan.getOrElse(id, -1), "format" -> fmt,
        "wall_s" -> (if (t1 >= t0) (t1 - t0) / 1e3 else 0.0))
    }
    val plans = listener.plans.toSeq.map { case (t, ms) => Map("span" -> tracer.at(t), "plan_s" -> ms / 1e3) }
    val counters = listener.bySpan.toSeq.sortBy(_._1).map { case (id, c) =>
      val skew = listener.stagesOf(id).flatMap(listener.stageTasks.get)
        .filter(_.size >= 2).map { d =>
          val s = d.sorted
          val med = s(s.size / 2).toDouble
          if (med > 0) s.last / med else 1.0
        }.foldLeft(0.0)(math.max)
      id.toString -> mutable.LinkedHashMap[String, Any](
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "exec_run_s" -> c.runMs / 1e3, "exec_cpu_s" -> c.cpuNs / 1e9,
        "exec_gc_s" -> c.gcMs / 1e3, "task_deser_s" -> c.deserMs / 1e3,
        "task_max_s" -> c.taskMaxMs / 1e3, "task_skew" -> skew,
        "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
        "shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spill,
        "peak_exec_mem_mb" -> c.peakExecMem / 1048576.0,
        "read_bytes" -> c.readBytes, "read_rows" -> c.readRows,
        "write_bytes" -> c.writeBytes, "write_rows" -> c.writeRows,
        "materialized_blocks" -> c.blocks, "materialized_bytes" -> c.blockBytes,
        "job_intervals" -> c.jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq)
    }.toMap
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.runId, "wall_s" -> s.wallS, "w0" -> s.w0Ms, "w1" -> s.w1Ms)),
      "counters" -> counters,
      "execs" -> execs,
      "plans" -> plans,
      "kernels" -> kernels,
      "input_rows" -> Map("traced" -> wl.inputRows, "quarter" -> quarter.map(_.inputRows).getOrElse(0L)),
      "runs" -> (wl.runChecks.toSeq ++ quarter.toSeq.flatMap(_.runChecks)),
    )
  }
}
