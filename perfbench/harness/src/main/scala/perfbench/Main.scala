package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM: set-up (session + one
  * cold, checked run), a closed-loop timed window, and, in trace mode, a
  * traced pass with
  * the layer counters, a quarter-size traced pass for the scale fit and the
  * kernel microbenchmark. Results go to one JSON file (`--out`).
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --input DIR [--quarter DIR] [--factor F] --work DIR [--cache DIR] --nproc N
  *     --out FILE
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      input: String, quarter: Option[String], factor: Int, work: String, cache: String,
      nproc: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m.get("quarter"), m.getOrElse("factor", "1").toInt, m("work"),
      m.getOrElse("cache", m("work")), m("nproc").toInt, m("out"))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  /** Time the JIT compiler threads have spent compiling so far. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def session(a: Args): SparkSession = {
    val spark = graft.util.EngineDefaults.withCompression(SparkSession.builder())
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use right after each GC: every value while `on`, and the
    * maximum since the last `reset()` (the heap in use now if no GC ran).
    */
  object Heap {
    @volatile var on = false
    @volatile private var peak = -1.0
    val afterGcMb = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    def reset(): Unit = peak = -1.0
    def peakMb: Double =
      if (peak >= 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
                    !pool.contains("Compressed") => u.getUsed
              }.sum / 1048576.0
              peak = math.max(peak, used)
              if (on) afterGcMb.add(used)
            }
          }, null, null)
        case _ =>
      }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val sessionReadyS = uptimeS
    Heap.install()
    val tracer = new Tracer(spark.sparkContext)
    val wl = Workload(a.workload, spark, a, a.input, tracer)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = a.workload
    out("nproc") = a.nproc

    val p0 = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9

    // the cold run: untimed for the samples, billed to set-up, and checked
    val c0 = System.nanoTime()
    val cold = wl.coldRun(s"${a.work}/dumps")
    val coldS = (System.nanoTime() - c0) / 1e9
    out("setup") = Map("session_ready_s" -> sessionReadyS, "cold_run_s" -> coldS,
      "input_prep_s" -> prepS)

    val timed = new Timed(spark, wl)
    timed.run(wl.warmupRuns)
    out("warmup") = timed.samples.map(s => Map("op" -> s.op, "wall_s" -> s.wallS, "jit_s" -> s.jitS))
    timed.samples.clear()
    Heap.afterGcMb.clear()
    timed.run(math.max(1, math.round(a.seconds / wl.nominalRunS).toInt))
    out("samples") = timed.samples.map(s => Map(
      "op" -> s.op, "i" -> s.i, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "jit_s" -> s.jitS,
      "heap_mb" -> s.heapMb, "error" -> s.error))
    out("gc_heap_mb") = Heap.afterGcMb.asScala.toSeq
    out("settle_s") = timed.settleS
    out("window_s") = timed.windowS
    out("input_rows") = wl.inputRows
    out("input_bytes") = wl.inputBytes
    out("runs") = wl.runChecks.toSeq
    out("cold") = cold ++ wl.checkRun(s"${a.work}/dumps")

    if (a.trace) out("trace") = Traced.run(spark, a, wl, tracer, timed)

    Files.writeString(Paths.get(a.out), Json(out))
    spark.stop()
  }
}

/** One call the workload times: a query (operator construction plus its
  * sink action) or one `runFiles` call. `i` is the run index (-1 for the
  * cold run), so a call can write to fresh directories.
  */
final case class Op(name: String, run: Int => Unit)

final case class Sample(op: String, i: Int, wallS: Double, cpuS: Double, jitS: Double,
    heapMb: Double, error: Option[String])

object Op {
  /** Runs `body`; a throwable becomes the call's error message. */
  def attempt(name: String)(body: => Unit): Option[String] =
    try { body; None }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
}

/** The closed loop: one client, ops in workload order, each call issued
  * after the previous one finished. Before every call Spark's cache is
  * cleared and the JVM is collected, then the loop waits until the
  * ContextCleaner has been quiet for a while, so the previous call's shuffle
  * cleanup never lands inside the next timed call. A window is a fixed
  * number of runs of the workload, so every window does the same work and
  * samples the same stretch of JIT warm-up.
  */
final class Timed(spark: SparkSession, wl: Workload) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var settleS, windowS = 0.0
  @volatile private var lastClean = System.nanoTime()
  private val hasCleaner =
    org.apache.spark.PerfbenchAccess.watchCleaner(spark.sparkContext)(() => lastClean = System.nanoTime())

  def settle(): Unit = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    System.gc()
    lastClean = System.nanoTime()
    // the cleaner polls its reference queue every 100 ms
    while (hasCleaner && System.nanoTime() - lastClean < 150000000L &&
      System.nanoTime() - t0 < 3000000000L) Thread.sleep(20)
    settleS += (System.nanoTime() - t0) / 1e9
  }

  def call(op: Op, i: Int): Sample = {
    settle()
    Main.Heap.reset()
    Main.Heap.on = true
    val (c0, j0) = (Main.cpuS, Main.jitS)
    val t0 = System.nanoTime()
    val error = Op.attempt(op.name)(op.run(i))
    Main.Heap.on = false
    Sample(op.name, i, (System.nanoTime() - t0) / 1e9, Main.cpuS - c0, Main.jitS - j0,
      Main.Heap.peakMb, error)
  }

  def run(runs: Int): Unit = {
    val w0 = System.nanoTime()
    for (i <- 0 until runs) {
      wl.ops.foreach(op => samples += call(op, i))
      wl.afterRun(i)
    }
    windowS = (System.nanoTime() - w0) / 1e9
  }
}
