package graft.ops

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity.Scored

/** The bounded best-k alone, no Spark: for every arrival order the kept
  * elements are the k best in order and every shed element is counted.
  */
class BestKSpec extends AnyFunSuite {

  private def check[T](input: Seq[T], k: Int, ord: Ordering[T]): Unit = {
    val best = new BestK(k, ord)
    input.foreach(best.add)
    val what = s"k=$k n=${input.size}"
    assert(best.dropped == math.max(0, input.size - k), what)
    assert(best.result.toSeq == input.sorted(ord).take(k), what)
  }

  /** n ∈ {0, k−1, k, k+1, 10k}. */
  private def sizes(k: Int): Seq[Int] = Seq(0, k - 1, k, k + 1, 10 * k).distinct

  private val ks = Seq(1, 2, 5, 64)

  test("keeps the k smallest ids, duplicates and extremes included, in any arrival order") {
    val rnd = new Random(11)
    for (k <- ks; n <- sizes(k)) {
      // ids from a range narrower than n, so duplicates are common, with
      // the extremes planted (twice each once n allows it)
      val drawn = Seq.fill(n)(rnd.nextInt(n / 2 + 1).toLong - n / 4)
      val planted = Seq(Long.MinValue, Long.MaxValue, Long.MinValue, Long.MaxValue)
      val ids = planted.take(n) ++ drawn.drop(planted.size)
      check(ids.sorted, k, Ordering.Long)
      check(ids.sorted.reverse, k, Ordering.Long)
      (0 until 5).foreach(_ => check(rnd.shuffle(ids), k, Ordering.Long))
    }
  }

  test("keeps each query's k best scores: higher sim first, ties by neighbor id") {
    val rnd = new Random(5)
    for (k <- ks; n <- sizes(k)) {
      // few distinct sims, so most rows tie on sim; some rows repeat exactly
      val repeats = math.min(n, 3)
      val rows = Seq.fill(repeats)(Scored(7L, Long.MinValue, 1.0)) ++
        Seq.fill(n - repeats)(Scored(7L, rnd.nextInt(n + 1).toLong, rnd.nextInt(4) / 4.0))
      (0 until 5).foreach(_ => check(rnd.shuffle(rows), k, Similarity.ByScore))
    }
  }

  test("k must be positive") {
    assertThrows[IllegalArgumentException](new BestK(0, Ordering.Long))
  }
}
