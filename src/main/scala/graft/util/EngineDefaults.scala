package graft.util

import org.apache.spark.sql.SparkSession

/** Engine-wide session defaults, in ONE place: every session builder (the
  * mains, `BpeTrainMain`, the test `SparkSpec`) goes through
  * [[withCompression]]. Review r16 found the same configs + justification
  * comment copy-pasted into six session builders, and the probe mains
  * hardcoding the values — so an
  * `SPARK_EXTRA_OPTS="-Dspark.io.compression.zstd.level=1"` A/B through a
  * probe would silently measure level 3, the exact silent-override bug
  * Bench's sys-props read exists to prevent.
  *
  * The method keeps its name although it now sets more than compression:
  * the outside-in benchmark (`perfbench/`) calls `withCompression`, and
  * an engine change may not edit the benchmark it is measured with.
  *
  * Values and their evidence:
  *  - zstd + rdd.compress (round-15 sf1000 A/B): 18% faster wall at 33%
  *    lower peak disk on the disk-bound bottom-k join vs lz4 — the
  *    disk-bound phases read and write a third less;
  *  - zstd LEVEL 3 (round-16 sf1000 A/B, same session): 403.1 s /
  *    19.5 GB peak scratch vs level-1's 421.4 s / 34.7 GB — wall within
  *    noise, scratch −44%, and scratch CAPACITY is the single-host wall
  *    the fifth-decade probes keep hitting;
  *  - codegen class cache of 2048 entries, stage id out of the class name:
  *    Spark keeps compiled generated classes in one JVM-wide LRU, sized
  *    ONCE per JVM from the first session that generates code (Spark's
  *    default: 100). A builder that bypasses this object leaves the whole
  *    JVM at 100. One Verify pass over all 141 queries at sf0.01 with the
  *    cap lifted compiles 1720 distinct classes (3563 compiles at Spark's
  *    defaults); 2048 is the next power of two. On the benchmark's
  *    `curation_lsh` workload (three curation queries, about 250 classes)
  *    the 100-entry cache thrashed: 1083–1144 compiles per run (17–20 s of
  *    Janino time) against 251 (7 s) with these settings. Ten interleaved
  *    pairs on a 4-core host (seeds 11–20): rows_per_s median 129.5 →
  *    182.2 (+41%, parent interquartile range 14.0, 10/10 pairs won),
  *    query_p50_s 3.94 → 2.56 s, cpu_s 46.6 → 32.5 s. The `etl_ads`
  *    workload (72 compiles per run before, 64 after) fits either way
  *    and did not move.
  *    Memory: the cache keys hold each class's Java source, 1720 × 9.6 KB
  *    mean ≈ 16 MB of heap at the full working set, and metaspace in use
  *    after that Verify pass is 202 MB against 188 MB at Spark's defaults.
  *
  * sys.props are read FIRST so SPARK_EXTRA_OPTS passthroughs land:
  * builder `.config` beats `-D` system properties, so a hardcoded value
  * silently ignores the A/B override.
  */
object EngineDefaults {
  def withCompression(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.rdd.compress",
        sys.props.getOrElse("spark.rdd.compress", "true"))
      .config("spark.io.compression.codec",
        sys.props.getOrElse("spark.io.compression.codec", "zstd"))
      .config("spark.io.compression.zstd.level",
        sys.props.getOrElse("spark.io.compression.zstd.level", "3"))
      // AQE partition-coalescing floor, 1 MB → 64 KB (round 17, guide
      // §2.5): the engine's hot frames are hashed-shingle / packed-code
      // layouts at ~8–16 B per element, so a stage's shuffle BYTES
      // understate its compute by orders of magnitude — with the default
      // 1 MB floor, AQE coalesced the PPJoin rank-window/candidate-join
      // and bottom-k rescore exchanges (2–3 MB) down to 1–2 tasks and the
      // whole stage ran serially (measured: 300–500 ms single-task stages
      // at sf0.1 across the dedup family). parallelismFirst already
      // targets max(bytes / parallelism, floor); the floor only binds
      // when partitions are tiny, so on large inputs — where bytes /
      // parallelism ≫ 1 MB — this setting changes NOTHING, at any cluster
      // size. It is a pure small-exchange parallelism fix, not a local
      // tuning: the same floor misbehaves on a 100 TB run's small frames
      // (per-group medians, vocabulary tails, candidate id sets).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.props.getOrElse(
          "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k"))
      // Compile each generated class once per JVM (see the scaladoc).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "2048"))
      // The codegen stage id is part of the generated class name and so of
      // the cache key: with it, the same stage code compiles again at every
      // new plan position or AQE re-plan. Trade: the id is no longer in the
      // class name (stack traces, heap dumps); `explain` still shows it as
      // `*(N)`.
      .config("spark.sql.codegen.useIdInClassName",
        sys.props.getOrElse("spark.sql.codegen.useIdInClassName", "false"))
}
