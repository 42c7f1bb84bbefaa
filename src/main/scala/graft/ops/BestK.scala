package graft.ops

import scala.collection.mutable

/** The `k` best elements of a stream under `ord` (best = smallest), in
  * O(k) memory: the one bound behind every capped bucket and per-query
  * top-k of the ops layer ([[LshPairs]]' bucket groups, [[Similarity]]'s
  * bucket caps and per-query heaps).
  *
  * The common group is far below `k` (a bucket of a handful of ids), so
  * arrivals collect in a flat buffer and heapify only on the (k+1)-th:
  * allocating a heap for every group was measurably the hot spot of the
  * banded emitter. Past that, a bounded max-heap keeps the k smallest
  * (its head is the worst kept), deterministic regardless of arrival
  * order. Every element shed, an arrival that loses to the head or the
  * head it displaces, counts in [[dropped]]: after n arrivals it reads
  * max(0, n − k).
  */
private[ops] final class BestK[T](k: Int, ord: Ordering[T]) {
  require(k > 0, s"k must be > 0, got $k")
  private val buf = new mutable.ArrayBuffer[T](4)
  private var heap: mutable.PriorityQueue[T] = null
  private var shed = 0L

  def add(e: T): Unit =
    if (heap == null) {
      buf += e
      if (buf.length > k) {
        heap = mutable.PriorityQueue.empty[T](ord) ++= buf
        heap.dequeue()
        shed += 1
      }
    } else {
      if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
      shed += 1
    }

  /** Elements shed so far. */
  def dropped: Long = shed

  /** The kept elements, best first; read once, at the group's end. */
  def result: collection.Seq[T] =
    if (heap == null) buf.sorted(ord) else heap.dequeueAll.reverse
}
