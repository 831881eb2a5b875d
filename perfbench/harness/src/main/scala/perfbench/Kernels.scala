package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Microbenchmark of the engine's native Catalyst kernels: each expression's
  * own `eval` over seeded generated rows, in this thread, so Spark
  * scheduling is not in the number. Reports rows/s per kernel.
  */
object Kernels {

  private val words: IndexedSeq[String] = (graft.functions.LangId.stopwords.values.flatten ++
    "sale offer new shop now free delivery best price quality brand today limited deal summer style home garden sport travel data model learning report market"
      .split(" ")).toIndexedSeq

  def run(seed: Long, budgetS: Double): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    def text(lo: Int, hi: Int): UTF8String =
      UTF8String.fromString(Seq.fill(lo + rnd.nextInt(hi - lo))(words(rnd.nextInt(words.size))).mkString(" "))
    def sortedSet(n: Int, universe: Long): Array[Long] =
      Iterator.continually(rnd.nextLong() % universe).map(math.abs).distinct.take(n).toArray.sorted
    def floats(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)
    def rows1(n: Int)(f: => Any): Array[InternalRow] = Array.fill(n)(InternalRow(f))
    val str = BoundReference(0, StringType, nullable = true)
    val longs0 = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true)
    val longs1 = BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true)
    val vec0 = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true)
    val vec1 = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = true)
    def book(k: Int, d: Int): Literal = Literal.create(
      Seq.fill(k)(Seq.fill(d)(rnd.nextGaussian())), ArrayType(ArrayType(DoubleType)))
    def pair(a: Int, b: Int, universe: Long): InternalRow = InternalRow(
      UnsafeArrayData.fromPrimitiveArray(sortedSet(a, universe)),
      UnsafeArrayData.fromPrimitiveArray(sortedSet(b, universe)))

    val cases: Seq[(String, Expression, Array[InternalRow])] = Seq(
      ("langid", LangIdHits(str), rows1(2000)(text(3, 40))),
      ("shingle", WordShingleHashes(str, 3), rows1(500)(text(50, 300))),
      // merge: equal sizes; gallop: one side at least 8x smaller
      ("intersect_merge", SortedIntersectCount(longs0, longs1),
        Array.fill(500)(pair(200, 200, 1000))),
      ("intersect_gallop", SortedIntersectCount(longs0, longs1),
        Array.fill(500)(pair(16, 512, 2000))),
      ("bpe", BpeCounts(str), rows1(500)(text(20, 120))),
      ("pq_argmin", PqArgmin(vec0, book(16, 8)),
        rows1(5000)(UnsafeArrayData.fromPrimitiveArray(floats(8)))),
      ("vec_dot", VecDot(vec0, vec1), Array.fill(5000)(InternalRow(
        UnsafeArrayData.fromPrimitiveArray(floats(64)), UnsafeArrayData.fromPrimitiveArray(floats(64))))),
      ("nearest_vec", NearestVec(vec0, book(64, 64)),
        rows1(1000)(UnsafeArrayData.fromPrimitiveArray(floats(64)))),
    )
    cases.map { case (name, e, rows) =>
      rows.foreach(e.eval) // warm-up
      var n = 0L
      val t0 = System.nanoTime()
      val stop = t0 + (budgetS * 1e9).toLong
      while (System.nanoTime() < stop) {
        var i = 0
        while (i < rows.length) { e.eval(rows(i)); i += 1 }
        n += rows.length
      }
      name -> n / ((System.nanoTime() - t0) / 1e9)
    }.toMap
  }
}
