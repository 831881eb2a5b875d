package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production-scale BPE training (round 15): the 89-merge vocabulary the
  * engine shipped through round 14 was learned from the tiny test corpus
  * (31 distinct words — the testdata documents tables cycle a fixed
  * phrase set), two orders of magnitude below a real tokenizer's
  * 32k–50k merges. Every token count in the pipeline (packing budgets,
  * mixing, Gopher gates) rides on the tokenizer, so the kernel and its
  * oracle mirror must be proven at a realistic merge count — which needs
  * a corpus with realistic word-type diversity to learn from.
  *
  * [[syntheticTrainingCorpus]] is that corpus: a fully deterministic
  * synthetic crawl (splitmix64-hashed syllabic words, log-uniform ≈
  * Zipf(1) rank draws — the shape of Sennrich et al. 2016's motivating
  * statistics) generating ~2M word tokens over ~30k word types. No
  * randomness API is involved (probe-resume rules and spec
  * reproducibility both want pure functions of the row index), so the
  * shipped `bpe_merges.txt` resource is re-derivable bit-for-bit from the
  * repo alone: BpeSpec regenerates the corpus, retrains, and compares.
  *
  * [[learnMergesFast]] is the incremental trainer that makes 8192 merges
  * tractable: the published algorithm ([[Bpe.learnMerges]]) recounts every
  * pair over every word type each round — O(merges × types) — which is
  * fine at 200 merges and hopeless at 8k. The standard fix (subword-nmt's
  * `--fast` path, HF tokenizers' trainer) is incremental bookkeeping:
  * a pair→count map, a pair→containing-words index, and an ordered view
  * for the argmax; each merge rescans ONLY the words that contain the
  * merged pair and diffs their pair multisets into the global state. The
  * two trainers are provably equivalent — same counts, same
  * (frequency desc, pair lexicographic) tie-break — and BpeSpec pins
  * merge-sequence equality on the real corpus.
  *
  * Engine shape unchanged: training stays a one-scan distributed word
  * count plus a driver-side merge loop over the Zipf-bounded type table
  * (see [[Bpe.learnMerges]]'s scaling note); inference stays the
  * [[graft.functions.BpeCounts]] row-local kernel, generalized this round
  * from one packed long (≤8-letter pieces) to a two-long open-addressing
  * probe (≤16-letter pieces) because an 8k vocabulary learns pieces the
  * 8-letter bound rejects.
  */
object BpeTrain {

  /** splitmix64 finalizer — the same stateless hash the synthetic media
    * tables use; all corpus randomness derives from it.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // 18 onsets × 5 vowels × 4 codas = 360 distinct syllables of 2–3 letters
  private val onsets = "bcdfghjklmnprstvwz".toArray.map(_.toString)
  private val vowels = "aeiou".toArray.map(_.toString)
  private val codas = Array("", "n", "s", "r")

  private def syllable(id: Int): String =
    onsets(id % 18) + vowels((id / 18) % 5) + codas((id / 90) % 4)

  /** Word type for a Zipf rank: common (low-rank) words are short, the
    * tail grows to 4 syllables (≤ 12 letters — inside the kernel's
    * 16-letter piece bound by construction, matching how real BPE pieces
    * stay well under whole-long-word length).
    */
  private[graft] def wordOf(rank: Int): String = {
    val nSyll =
      if (rank < 64) 1 else if (rank < 1024) 2 else if (rank < 8192) 3 else 4
    val sb = new StringBuilder
    var k = 0
    while (k < nSyll) {
      sb.append(syllable(
        java.lang.Math.floorMod(mix64(rank.toLong * 7 + k) >>> 1, 360L).toInt))
      k += 1
    }
    sb.toString
  }

  private[graft] val nTypes = 32768
  private[graft] val nDocs = 32768L
  private[graft] val wordsPerDoc = 64

  /** Log-uniform rank draw: P(rank = r) ∝ 1/(r+1) over [0, nTypes) —
    * Zipf(1) to within discretization. StrictMath keeps the double math
    * bit-identical across JVMs (Math.pow may use platform intrinsics).
    */
  private def rankOf(doc: Long, j: Int): Int = {
    val u = (mix64(doc * 131L + j) >>> 11).toDouble / (1L << 53).toDouble
    val r = StrictMath.pow(nTypes.toDouble, u).toLong - 1L
    math.min(nTypes - 1, math.max(0L, r)).toInt
  }

  private[graft] def docText(doc: Long): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < wordsPerDoc) {
      if (j > 0) sb.append(' ')
      sb.append(wordOf(rankOf(doc, j)))
      j += 1
    }
    sb.toString
  }

  /** The deterministic training corpus: ~2M word tokens / ~30k types.
    * Built as a distributed map over a range — the generator is a pure
    * function of the row id, so the frame is identical on every run and
    * every partitioning.
    */
  def syntheticTrainingCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(nDocs)
      .map(i => (i, docText(i)))
      .toDF("doc_id", "text")
  }

  /** Incremental Sennrich trainer — identical output to
    * [[Bpe.learnMerges]] (BpeSpec pins the equivalence), tractable at
    * thousands of merges. The distributed part (word count, type cap) is
    * byte-for-byte the naive trainer's; only the driver-side merge loop
    * changes complexity class.
    */
  def learnMergesFast(docs: DataFrame, maxMerges: Int, minFreq: Long,
      maxWordTypes: Int = 1 << 16): Seq[(String, String)] = {
    val wordRe = "[a-z]+"
    val wordCounts: Array[(String, Long)] = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit(wordRe),
        lit(0))).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .limit(maxWordTypes)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))

    // words as mutable symbol arrays; counts parallel
    val words: Array[mutable.ArrayBuffer[String]] =
      wordCounts.map(w => mutable.ArrayBuffer(w._1.map(_.toString): _*))
    val counts: Array[Long] = wordCounts.map(_._2)

    // global state: pair → count, pair → words containing it, and an
    // ordered view for the deterministic argmax (count desc, pair lex asc)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering[Long].reverse, Ordering[String], Ordering[String])
    val ordered = mutable.TreeSet.empty[(Long, String, String)]

    def pairsOf(w: mutable.ArrayBuffer[String]): mutable.HashMap[(String, String), Long] = {
      val m = mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        m(p) = m.getOrElse(p, 0L) + 1L
        i += 1
      }
      m
    }

    def bump(p: (String, String), delta: Long): Unit = {
      val old = pairCount.getOrElse(p, 0L)
      if (old != 0L) ordered.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) {
        pairCount(p) = nw
        ordered.add((nw, p._1, p._2))
      } else pairCount.remove(p)
    }

    // seed
    var wi = 0
    while (wi < words.length) {
      pairsOf(words(wi)).foreach { case (p, occ) =>
        bump(p, occ * counts(wi))
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
      }
      wi += 1
    }

    val merges = Seq.newBuilder[(String, String)]
    var it = 0
    var done = false
    while (!done && it < maxMerges) {
      if (ordered.isEmpty || ordered.head._1 < minFreq) done = true
      else {
        val (_, a, b) = ordered.head
        merges += ((a, b))
        val ab = a + b
        val affected = pairWords.getOrElse((a, b), mutable.Set.empty).toArray
        affected.foreach { idx =>
          val w = words(idx)
          val before = pairsOf(w)
          // left-to-right non-overlapping replacement — the naive
          // trainer's exact rule
          val out = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < w.length) {
            if (i < w.length - 1 && w(i) == a && w(i + 1) == b) {
              out += ab; i += 2
            } else { out += w(i); i += 1 }
          }
          words(idx) = out
          val after = pairsOf(out)
          (before.keySet ++ after.keySet).foreach { p =>
            val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
            if (d != 0L) bump(p, d * counts(idx))
            if (after.getOrElse(p, 0L) == 0L)
              pairWords.get(p).foreach(_ -= idx)
            else if (before.getOrElse(p, 0L) == 0L)
              pairWords.getOrElseUpdate(p, mutable.Set.empty) += idx
          }
        }
        it += 1
      }
    }
    merges.result()
  }

  /** The shipped vocabulary, in merge order — the resource
    * [[BpeTrainMain]] writes and BpeSpec re-derives.
    */
  def loadShippedMerges(): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "bpe_merges.txt resource missing")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().zipWithIndex.flatMap {
        case (l, ln) =>
          val t = l.trim
          if (t.isEmpty || t.startsWith("#")) None
          else {
            // validated eagerly with descriptive failures: this runs at
            // Bpe object init, so a malformed resource line must not
            // surface as an opaque ExceptionInInitializerError on an
            // executor (round-15 advice) — and the ≤16-letter merged-piece
            // bound is what the kernel's two-long packing REQUIRES (a
            // longer piece would shift by a negative amount and silently
            // corrupt every probe; the kernel re-checks, belt+braces)
            val sp = t.indexOf(' ')
            require(sp > 0 && sp < t.length - 1 && t.indexOf(' ', sp + 1) < 0,
              s"bpe_merges.txt line ${ln + 1}: expected 'left right', got '$t'")
            val (a, b) = (t.substring(0, sp), t.substring(sp + 1))
            require((a + b).forall(c => c >= 'a' && c <= 'z'),
              s"bpe_merges.txt line ${ln + 1}: pieces must be [a-z]+, got '$t'")
            require(a.length + b.length <= 16,
              s"bpe_merges.txt line ${ln + 1}: merged piece '${a + b}' exceeds " +
                "the kernel's 16-letter packing bound")
            Some((a, b))
          }
      }.toVector.ensuring({ ms =>
        // The priority-replay ≡ sequential-replay equivalence the kernel
        // leans on ("a merge creates only higher-rank pairs") has a hole
        // when TWO merges produce the same piece and a consumer of that
        // piece ranks between them: the second producer then creates a
        // LOWER-rank consumable pair that sequential application (the
        // trainer's ground truth) never revisits but priority replay
        // would. Distinct products rule the configuration out entirely;
        // the shipped vocabulary satisfies this, and a retrained one that
        // does not must fail LOUDLY here, not drift the kernel away from
        // its own oracle (review r16).
        val prods = ms.map { case (a, b) => a + b }
        prods.distinct.size == prods.size
      }, "bpe_merges.txt: two merges produce the same piece — the kernel's " +
        "priority replay would diverge from sequential trainer application; " +
        "see the equivalence note in BpeCounts")
    } finally in.close()
  }

  val shippedMaxMerges = 8192
  val shippedMinFreq = 20L
}

/** Provenance tool: regenerates `src/main/resources/graft/bpe_merges.txt`
  * from the deterministic corpus. Run via scripts/probe.sh with the
  * output path as the only argument; the spec re-derives the same bytes,
  * so this main exists for auditability, not for the build.
  */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = graft.util.EngineDefaults.withCompression(SparkSession.builder())
      .appName("graft-bpe-train")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    try {
      val t0 = System.nanoTime()
      val merges = BpeTrain.learnMergesFast(
        BpeTrain.syntheticTrainingCorpus(spark),
        BpeTrain.shippedMaxMerges, BpeTrain.shippedMinFreq)
      val secs = (System.nanoTime() - t0) / 1e9
      val pieces = merges.map { case (a, b) => a + b }.distinct
      println(f"learned ${merges.size} merges (${pieces.size} distinct pieces, " +
        f"max len ${pieces.map(_.length).max}) in $secs%.1f s")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        w.println("# BPE merges learned by graft.text.BpeTrain.learnMergesFast")
        w.println(s"# corpus: BpeTrain.syntheticTrainingCorpus (deterministic), " +
          s"maxMerges=${BpeTrain.shippedMaxMerges}, minFreq=${BpeTrain.shippedMinFreq}")
        merges.foreach { case (a, b) => w.println(s"$a $b") }
      } finally w.close()
    } finally spark.stop()
  }
}
