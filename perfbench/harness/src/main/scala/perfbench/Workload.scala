package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** A workload: the calls one run makes, its fixed input size, and the
  * outputs its checks need.
  */
abstract class Workload(val spark: SparkSession, val a: Main.Args, val tracer: Tracer) {
  def ops: IndexedSeq[Op]
  /** Nominal wall of one run on a 4-core host: `--seconds` / this is the
    * number of runs in the timed window.
    */
  def nominalRunS: Double
  /** Untimed runs between the cold run and the timed window. */
  def warmupRuns: Int = 0
  def inputRows: Long
  def inputBytes: Long
  /** Untimed input preparation inside the JVM (none by default). */
  def prepare(): Unit = ()
  /** Called after each full run of the ops; -1 after the cold run. */
  def afterRun(i: Int): Unit = ()
  /** Per-run output records for the Python-side checks. */
  def runChecks: Seq[Map[String, Any]] = Nil
  /** The first, cold run of the ops. It leaves checkable outputs (under
    * `dir` where the ops themselves write nothing) and returns the names of
    * the ops that threw.
    */
  def coldRun(dir: String): Seq[String] = {
    val failed = ops.flatMap(op => Op.attempt(op.name)(op.run(-1)).map(_ => op.name))
    afterRun(-1)
    failed
  }
  /** Untimed calls after the window whose outputs only the checks read;
    * returns the names of those that threw.
    */
  def checkRun(dir: String): Seq[String] = Nil
  /** The same workload over another input (the quarter-size scale pass). */
  def resized: Option[Workload]

  protected def dirRows(dir: String, tables: Seq[String]): Long =
    tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum

  protected def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(dir))
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, a: Main.Args, input: String,
      tracer: Tracer): Workload = name match {
    case "etl_ads" => new EtlAds(spark, a, tracer, input)
    case "analytics_mix" => new AnalyticsMix(spark, a, tracer, input)
    case "curation_lsh" => new CurationLsh(spark, a, tracer, input, a.factor)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Declared queries over a table directory; the sink is the noop writer, so
  * every row and column of the plan is produced and nothing is stored.
  */
abstract class QueryWorkload(spark: SparkSession, a: Main.Args, tracer: Tracer)
    extends Workload(spark, a, tracer) {
  def names: Seq[String]
  def dataDir: String

  lazy val ops: IndexedSeq[Op] = names.map { n =>
    Op(n, _ => {
      val df = tracer("queries.build")(graft.SparkEntry.queries(n)(spark, dataDir))
      tracer("queries.action")(df.write.format("noop").mode("overwrite").save())
    })
  }.toIndexedSeq

  /** Queries the checks need that the window does not time. */
  def checkOnly: Seq[String] = Nil

  private def dump(names: Seq[String], dir: String): Seq[String] =
    names.filter { n =>
      Op.attempt(n)(graft.SparkEntry.queries(n)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n")).isDefined
    }

  /** The cold run dumps each query's result as one parquet file (the Verify
    * layout) instead of the noop sink, with the oracle SQL of the dumped
    * queries beside them; the timed runs use the noop sink.
    */
  override def coldRun(dir: String): Seq[String] = {
    val failed = dump(names, dir)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(s"$dir/data_dir.txt"), dataDir)
    failed
  }

  override def checkRun(dir: String): Seq[String] = dump(checkOnly, dir)
}

/** The 42 declared queries of Relational, Windows, Scalars and Skew over a
  * fixed table set; the seed sets the order the loop issues them in.
  */
final class AnalyticsMix(spark: SparkSession, a: Main.Args, tracer: Tracer, val dataDir: String)
    extends QueryWorkload(spark, a, tracer) {
  import graft.queries._
  val names: Seq[String] = new scala.util.Random(a.seed).shuffle(
    (Relational.all ++ Windows.all ++ Scalars.all ++ Skew.all).map(_.name))
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
  val nominalRunS = 20.0
  lazy val inputRows: Long = dirRows(dataDir, tables)
  lazy val inputBytes: Long = tables.map(t => dirBytes(s"$dataDir/$t.parquet")).sum
  def resized: Option[Workload] = None
}

/** The composed LLM-data curation path over documents/embeddings amplified
  * by `ScaleProbeData.amplify` in crawl mode (replicas past the first are
  * mutated, so the factor is at least 2); the quarter-size input amplifies
  * every fourth source row by the same factor. The seed sets the order of
  * the queries in a run. The crawl salt is fixed: it picks which ~10% of a
  * replica's documents stay near-duplicates of their source, and on this
  * small base that share, and with it the LSH candidate and cluster work,
  * moves by tens of percent from salt to salt.
  */
final class CurationLsh(spark: SparkSession, a: Main.Args, tracer: Tracer,
    baseDir: String, factor: Int, quarter: Boolean = false) extends QueryWorkload(spark, a, tracer) {
  val names: Seq[String] = new scala.util.Random(a.seed).shuffle(Seq("q_pipeline_e2e_lsh",
    "q_dedup_clusters_lsh", "q_sim_ann_ivfpq"))
  /** The LSH verdict is computed inside q_pipeline_e2e_lsh; it is dumped once
    * after the window so the check can reconcile the pipeline's totals.
    */
  override val checkOnly: Seq[String] = Seq("q_curate_verdict_lsh")
  val dataDir = s"${a.cache}/curation-x$factor${if (quarter) "-q" else ""}"
  val tables = Seq("documents", "embeddings")

  override def prepare(): Unit =
    if (!new File(s"$dataDir/_DONE").exists) {
      for ((t, key) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
        val src = spark.read.parquet(s"$baseDir/$t.parquet")
        val base = src.agg(max(col(key))).head().getLong(0) + 1L
        val df = if (quarter) src.filter(col(key) % 4 === 0) else src
        graft.ScaleProbeData.amplify(t, df, Seq(key), Map(key -> base), factor, "crawl", CurationLsh.Salt)
          .repartition(math.max(a.nproc, factor))
          .write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
      }
      Files.writeString(Paths.get(s"$dataDir/_DONE"), "")
    }

  val nominalRunS = 7.5
  lazy val inputRows: Long = dirRows(dataDir, tables)
  lazy val inputBytes: Long = tables.map(t => dirBytes(s"$dataDir/$t.parquet")).sum
  def resized: Option[Workload] =
    if (quarter) None else Some(new CurationLsh(spark, a, tracer, baseDir, factor, quarter = true))
}

object CurationLsh { val Salt = 7 }

/** The reference pipeline: `AdPipeline.runFiles` over generated raw JSON.
  * Each timed call writes to fresh output directories; after each call the
  * outputs are read back (untimed) for the planted-count check.
  */
final class EtlAds(spark: SparkSession, a: Main.Args, tracer: Tracer, val rawRoot: String)
    extends Workload(spark, a, tracer) {
  val now: Instant = Instant.ofEpochSecond(1720000000L)
  private def outDir(i: Int) = s"${a.work}/etl-out/${new File(rawRoot).getName}/run${i + 1}"
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lastOut = ""

  lazy val ops: IndexedSeq[Op] = IndexedSeq(Op("runFiles", i => {
    val o = outDir(i)
    lastOut = o
    graft.etl.AdPipeline.runFiles(spark, s"$rawRoot/raw", s"$o/curated", s"$o/quarantine",
      s"$o/report", now)
  }))

  val nominalRunS = 5.0
  /** The JIT is still compiling hard through the first warm calls (its
    * compile time per call falls from ~10 s to ~3 s over five calls), so
    * one more untimed call keeps the steepest part out of the window.
    */
  override val warmupRuns = 1
  lazy val inputRows: Long = {
    val m = "\"raw_ads\":\\s*(\\d+)".r
    m.findFirstMatchIn(new String(Files.readAllBytes(Paths.get(s"$rawRoot/expect.json"))))
      .map(_.group(1).toLong).getOrElse(0L)
  }
  lazy val inputBytes: Long = dirBytes(s"$rawRoot/raw")

  /** Output row counts of the call that just ran, then its directory goes. */
  override def afterRun(i: Int): Unit = Op.attempt("check")(readBack(i))

  private def readBack(i: Int): Unit = {
    val o = lastOut
    val quarantine = spark.read
      .schema(StructType(Seq(StructField("validation_error", StringType))))
      .json(s"$o/quarantine").groupBy("validation_error").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val reportIds = spark.read.option("header", "true")
      .schema(StructType(Seq(StructField("ad_id", StringType))))
      .csv(s"$o/report").collect().map(_.getString(0)).toSeq
    checks += Map(
      "i" -> i,
      "input" -> new File(rawRoot).getName,
      "curated" -> spark.read.parquet(s"$o/curated").count(),
      "quarantine" -> quarantine,
      "report" -> reportIds.size,
      "report_ids" -> reportIds,
      "out_bytes" -> dirBytes(o),
      "out_files" -> Seq("curated", "quarantine", "report").map(d =>
        Option(new File(s"$o/$d").listFiles).toSeq.flatten
          .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))).sum)
    deleteTree(new File(o))
  }

  override def runChecks: Seq[Map[String, Any]] = checks.toSeq

  def resized: Option[Workload] = a.quarter.map(q => new EtlAds(spark, a, tracer, q))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
