package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** Spark caches compiled codegen classes in one JVM-wide LRU whose size is
  * read once, from the first session's conf. The three timed curation
  * queries need more classes than Spark's default cap of 100, so at that
  * cap every pass evicts what the next one needs and compiles it again.
  * Under the engine defaults (`EngineDefaults`) no class is compiled twice.
  *
  * The check is on class identity, not on the raw compile count: AQE picks
  * a broadcast join's build side from whichever query stage finishes first,
  * so a repeated pass can plan a join the other way round and compile a few
  * genuinely new classes. Those are not cache misses and are only reported.
  */
class CodegenCacheSpec extends SparkSpec {

  private val curation = Seq("q_pipeline_e2e_lsh", "q_dedup_clusters_lsh", "q_sim_ann_ivfpq")

  private val codeGenerator = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Collects the source of every class the code generator compiles: Spark
    * logs it at DEBUG, with comments substituted in and line numbers added.
    * The cache key is the source without its comments (the stage-id comment
    * among them), so both are dropped here.
    */
  private final class CompiledSources
      extends AbstractAppender("codegen-sources", null, null, true, Property.EMPTY_ARRAY) {
    val sources = new ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      if (e.getLevel == Level.DEBUG) sources.add(
        e.getMessage.getFormattedMessage.linesIterator
          .map(_.replaceFirst("""^/\* \d+ \*/ ?""", ""))
          .filterNot(_.trim.startsWith("//"))
          .mkString("\n"))
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(log: CompiledSources): Seq[String] = {
    val before = log.sources.size
    curation.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sf())
        .write.format("noop").mode("overwrite").save()
    }
    log.sources.asScala.drop(before).toSeq
  }

  test("a second pass over the curation queries compiles no class twice") {
    // Spark resets log4j to its own defaults when the first session starts
    spark.sparkContext
    val logger = LogManager.getLogger(codeGenerator).asInstanceOf[Logger]
    val level = logger.getLevel
    val log = new CompiledSources
    log.start()
    logger.addAppender(log)
    Configurator.setLevel(codeGenerator, Level.DEBUG)
    val counted = compiles()
    val (first, second) =
      try (pass(log), pass(log))
      finally {
        Configurator.setLevel(codeGenerator, level)
        logger.removeAppender(log)
      }
    assert(first.size + second.size === compiles() - counted,
      "every compile is captured, or the identity check below is vacuous")
    val recompiled = second.count(first.toSet)
    info(s"compiles: first pass ${first.size}, second pass ${second.size} " +
      s"(${second.size - recompiled} new plan variants)")
    assert(recompiled === 0, s"the second pass recompiled $recompiled classes of the first")
  }
}
