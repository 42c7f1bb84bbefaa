package graft.ops

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.synthweb.SyntheticWeb.mix64

/** Distributed connected components over an undirected edge list —
  * the composition piece that turns near-duplicate PAIRS (MinHash /
  * SimHash / embedding band output, [[Dedup]] / [[Similarity]]) into
  * canonical CLUSTERS ("keep one document per near-dup group"), which
  * is what a training-data pipeline actually executes at 100 TB.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * published shuffle-based formulation that converges in O(log n)
  * rounds on real graphs, vs O(diameter) for naive label propagation.
  * Edges are kept as (u, v) with u > v throughout.
  *
  * Layout. Only the entry is a Catalyst step: one projection that
  * normalises every edge to (greatest, least) longs and drops
  * self-loops (`greatest`/`least` skip nulls, so an edge with a null id
  * becomes a self-loop and drops out). From there the edge set is a
  * packed block per partition — one `Array[Long]` holding (u, v) at
  * (2i, 2i + 1), sorted and distinct, every u in the partition that a
  * hash of u modulo `spark.sql.shuffle.partitions` names. Every shuffle
  * carries (block index, packed pairs) records, plain `Int` and
  * `Array[Long]`, which Spark serialises with Kryo; no boxed pair and no
  * per-key collection is built, and the passes generate no classes
  * (only the entry projection and the result frame's row conversion
  * do).
  *
  * A round, one Spark job:
  *   - large-star: a node x's neighbourhood minimum m(x) is the least of
  *     x and its smaller neighbours, which are the v's of x's edges as
  *     u, so the min table of a block is local; x's strictly larger
  *     neighbours are the u's of edges where x is v, so the edges are
  *     shuffled by v, zipped with the min table of their block and emit
  *     (u, m(v)) — a node absent from the table has no smaller
  *     neighbour, m = itself;
  *   - small-star: the large-star output, shuffled by u, is grouped in
  *     its partition: every u connects its smaller neighbours and itself
  *     to the least of them;
  *   - closing dedup: the small-star output, shuffled by its new u, is
  *     sorted and its duplicates dropped — the next round's blocks;
  *   - the job that materialises the blocks as an eager local checkpoint
  *     also returns their count and the xor of `xxhash64(u, v)`; the
  *     loop stops when both equal the previous round's, so no separate
  *     signature job runs. The previous round's blocks are freed then;
  *     the last round's stay pinned as the rows the result reads.
  *
  * Memory bound. A task holds one partition's edge block (16 bytes an
  * edge; the small-star output before its dedup is up to twice the
  * edges) plus a primitive open-addressing map of the same order (min
  * per node, at most 0.75 full), and the per-target buffers of what it
  * emits. None of it spills: the partition count must be large enough
  * that a block fits a task's share of the heap and one Java array
  * (2^31 longs). Nothing here reaches `ops.cc.spill_mb`.
  *
  * Scale notes:
  *   - per round: three shuffles of the current edge set (16 bytes an
  *     edge) and one job; lineage is cut every round by the local
  *     checkpoint, so the iteration never re-executes from the source.
  *     `localCheckpoint` pins blocks to executors and does not survive
  *     executor loss;
  *   - the result maps every node that appears in an edge to
  *     component_id = MIN node id of its component (deterministic
  *     canonical representative); isolated nodes never enter the edge
  *     list and are their own component by definition (callers union
  *     them back with a left-anti join if they need explicit rows).
  */
object ConnectedComponents {

  /** One round of [[componentsTraced]]: the edges its closing dedup left
    * and its wall seconds. Round 0 is the entry (normalise, dedup).
    */
  final case class Round(round: Int, edges: Long, seconds: Double)

  private val ResultSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("component_id", LongType, nullable = false)))

  /** Connected components of the undirected graph given by
    * `edges(idA, idB)`. Returns (id, component_id) for every distinct
    * node appearing in at least one edge; component_id is the minimum
    * node id of the component.
    *
    * `maxIter` is a safety bound far above the O(log n) the algorithm
    * needs (2^40-node components converge in ~40 alternations); hitting
    * it raises rather than returning a partially-contracted graph.
    */
  def components(edges: DataFrame, idA: String = "id_a",
                 idB: String = "id_b", maxIter: Int = 50): DataFrame =
    componentsWithRounds(edges, idA, idB, maxIter)._1

  /** [[components]] plus the number of large-star/small-star
    * alternations it took to converge (including the final no-change
    * confirmation round) — the empirical O(log n) evidence the at-scale
    * bench pins alongside wall time.
    */
  def componentsWithRounds(edges: DataFrame, idA: String = "id_a",
                           idB: String = "id_b", maxIter: Int = 50)
      : (DataFrame, Int) = {
    val (df, rounds) = componentsTraced(edges, idA, idB, maxIter)
    (df, rounds.last.round)
  }

  /** [[components]] plus one [[Round]] per round, the entry first. */
  def componentsTraced(edges: DataFrame, idA: String = "id_a",
                       idB: String = "id_b", maxIter: Int = 50)
      : (DataFrame, Seq[Round]) = {
    val spark = edges.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val rounds = Seq.newBuilder[Round]
    /** A round's blocks, pinned, and their signature; records the round. */
    def pinRound(round: Int)(blocks: => RDD[Array[Long]]): (RDD[Array[Long]], (Long, Long)) = {
      val t0 = System.nanoTime()
      val b = blocks
      val sig = pin(b)
      rounds += Round(round, sig._1, (System.nanoTime() - t0) / 1e9)
      (b, sig)
    }

    val norm = edges
      .select(greatest(col(idA).cast("long"), col(idB).cast("long")).as("u"),
              least(col(idA).cast("long"), col(idB).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
    var (e, sig) = pinRound(0)(dedup(norm.queryExecution.toRdd.mapPartitions { rows =>
      val out = new Scatter(p)
      rows.foreach(r => out.add(r.getLong(0), r.getLong(1), blockOf(r.getLong(0), p)))
      out.records
    }, p))
    try {
      var converged = sig._1 == 0L
      var iter = 0
      while (!converged) {
        iter += 1
        require(iter <= maxIter, s"connected components did not converge in $maxIter rounds")
        val prev = e
        val (next, nextSig) = pinRound(iter)(dedup(smallStar(largeStar(prev, p), p), p))
        converged = nextSig == sig
        e = next
        sig = nextSig
        // the previous round's edges are read by nothing from here on
        prev.unpersist(blocking = false)
      }
    } catch {
      case t: Throwable => e.unpersist(blocking = false); throw t
    }
    (spark.createDataFrame(result(e, p), ResultSchema), rounds.result())
  }

  /** Large-star over the blocks: every edge (u, v), shuffled to v's
    * block, emits (u, m(v)) toward u's block. Output keeps u > v
    * (u > v >= m(v)) and may repeat a pair: two edges (u, x1), (u, x2)
    * can emit the same (u, m), which the round's closing dedup removes;
    * repeats never change the mins in between.
    */
  private def largeStar(e: RDD[Array[Long]], p: Int): RDD[Array[Long]] = {
    val byV = gather(e.mapPartitions(_.flatMap { b =>
      val out = new Scatter(p)
      forPairs(b)((u, v) => out.add(u, v, blockOf(v, p)))
      out.records
    }), p)
    gather(e.zipPartitions(byV) { (own, shuffled) =>
      val mins = minPerU(own.next())
      val out = new Scatter(p)
      forPairs(shuffled.next())((u, v) => out.add(u, mins.getOrElse(v, v), blockOf(u, p)))
      out.records
    }, p)
  }

  /** Small-star over pairs gathered by u: every u connects its smaller
    * neighbours and itself to the least of them, m(u) — one pair (v, m)
    * per neighbour v other than m, and (u, m). Each emission goes toward
    * its first id's block; output keeps u > v.
    */
  private def smallStar(large: RDD[Array[Long]], p: Int): RDD[(Int, Array[Long])] =
    large.mapPartitions(_.flatMap { b =>
      val mins = minPerU(b)
      val out = new Scatter(p)
      forPairs(b) { (u, v) =>
        val m = mins.getOrElse(u, u)
        if (v != m) out.add(v, m, blockOf(v, p))
      }
      mins.foreach((u, m) => out.add(u, m, blockOf(u, p)))
      out.records
    })

  /** The round-closing shuffle: each record's pairs to their block,
    * where they are sorted and deduplicated — the next round's blocks.
    */
  private def dedup(records: RDD[(Int, Array[Long])], p: Int): RDD[Array[Long]] =
    gather(records, p).map { b =>
      val n = sortPairs(b)
      var w = 0
      var i = 0
      while (i < n) {
        if (w == 0 || b(2 * w - 2) != b(2 * i) || b(2 * w - 1) != b(2 * i + 1)) {
          b(2 * w) = b(2 * i)
          b(2 * w + 1) = b(2 * i + 1)
          w += 1
        }
        i += 1
      }
      java.util.Arrays.copyOf(b, 2 * w)
    }

  /** Pins `blocks` as an eager local checkpoint; the job that
    * materialises them returns (edge count, xor of xxhash64(u, v)), the
    * value Spark's `bit_xor(xxhash64(u, v))` gives.
    */
  private def pin(blocks: RDD[Array[Long]]): (Long, Long) = {
    blocks.localCheckpoint()
    try {
      blocks.sparkContext.runJob(blocks, (it: Iterator[Array[Long]]) => {
        var n = 0L
        var x = 0L
        it.foreach(b => forPairs(b) { (u, v) =>
          n += 1
          x ^= XXH64.hashLong(v, XXH64.hashLong(u, 42L))
        })
        (n, x)
      }).foldLeft((0L, 0L)) { case ((n, x), (bn, bx)) => (n + bn, x ^ bx) }
    } catch {
      case t: Throwable => blocks.unpersist(blocking = false); throw t
    }
  }

  /** The result's rows: (u, m(u)) for every u of a block — at the
    * fixpoint every edge is a direct (node -> root) pointer, so m(u) is
    * u's root — and (v, v) for every v that is no u: the roots, which
    * travel to their own block to be told apart from the u's there.
    */
  private def result(e: RDD[Array[Long]], p: Int): RDD[Row] = {
    val vs = gather(e.mapPartitions(_.flatMap { b =>
      val out = new Scatter(p)
      distinctSorted(Array.tabulate(b.length / 2)(i => b(2 * i + 1)))
        .foreach(v => out.add(v, blockOf(v, p)))
      out.records
    }), p)
    e.zipPartitions(vs) { (own, shuffled) =>
      val b = own.next()
      val n = b.length / 2
      // the block's u's are sorted, so one forward pointer tells a v
      // that is a u from one that is not
      var j = 0
      Iterator.range(0, n).filter(i => i == 0 || b(2 * i) != b(2 * i - 2))
        .map(i => Row(b(2 * i), b(2 * i + 1))) ++
        distinctSorted(shuffled.next()).iterator.filter { v =>
          while (j < n && b(2 * j) < v) j += 1
          !(j < n && b(2 * j) == v)
        }.map(v => Row(v, v))
    }
  }

  /** The block a node id's edges live in. */
  private def blockOf(x: Long, p: Int): Int = java.lang.Math.floorMod(mix64(x), p.toLong).toInt

  private def forPairs(b: Array[Long])(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < b.length) { f(b(i), b(i + 1)); i += 2 }
  }

  /** The sorted distinct values of `xs`, sorted in place. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var w = 0
    var i = 0
    while (i < xs.length) {
      if (w == 0 || xs(w - 1) != xs(i)) { xs(w) = xs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, w)
  }

  /** The least v of every u of the packed pairs `b`. */
  private def minPerU(b: Array[Long]): LongMinMap = {
    val m = new LongMinMap(b.length / 2)
    forPairs(b)(m.update)
    m
  }

  /** A shuffle of (block index, packed pairs) records: one block per
    * partition, every record of it concatenated.
    */
  private def gather(records: RDD[(Int, Array[Long])], p: Int): RDD[Array[Long]] =
    records.partitionBy(new ByBlock(p)).mapPartitions { it =>
      val parts = it.map(_._2).toArray
      val out = new Array[Long](parts.iterator.map(_.length).sum)
      var at = 0
      parts.foreach { a => System.arraycopy(a, 0, out, at, a.length); at += a.length }
      Iterator.single(out)
    }

  /** Routes a record to the block its key names. */
  private final class ByBlock(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Packed longs on their way to a shuffle, one buffer per block. */
  private final class Scatter(p: Int) {
    private val bufs = new Array[Array[Long]](p)
    private val used = new Array[Int](p)

    /** Room for `k` more longs in `block`'s buffer; its fill before them. */
    private def room(block: Int, k: Int): Int = {
      val n = used(block)
      if (bufs(block) == null) bufs(block) = new Array[Long](64)
      else if (n + k > bufs(block).length) bufs(block) = java.util.Arrays.copyOf(bufs(block), n * 2)
      used(block) = n + k
      n
    }

    def add(x: Long, block: Int): Unit = {
      val n = room(block, 1)
      bufs(block)(n) = x
    }

    def add(u: Long, v: Long, block: Int): Unit = {
      val n = room(block, 2)
      bufs(block)(n) = u
      bufs(block)(n + 1) = v
    }

    /** (block, packed longs) of every block that received one. */
    def records: Iterator[(Int, Array[Long])] =
      Iterator.range(0, p).filter(used(_) > 0).map { i =>
        val a = java.util.Arrays.copyOf(bufs(i), used(i))
        bufs(i) = null
        (i, a)
      }
  }

  /** Long keys to the least long value seen with each: open addressing
    * with linear probing over primitive arrays, at most 0.75 full.
    */
  private final class LongMinMap(expected: Int) {
    private val bits = math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, expected.toLong * 4 / 3)))
    private val mask = (1 << bits) - 1
    private val keys = new Array[Long](1 << bits)
    private val vals = new Array[Long](1 << bits)
    private val used = new Array[Boolean](1 << bits)

    // the top bits: a block's keys share their hash's residue modulo the
    // block count, which the low bits would carry
    private def slot(k: Long): Int = {
      var i = (mix64(k) >>> (64 - bits)).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }

    def update(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) { used(i) = true; keys(i) = k; vals(i) = v }
      else if (v < vals(i)) vals(i) = v
    }

    def getOrElse(k: Long, default: Long): Long = {
      val i = slot(k)
      if (used(i)) vals(i) else default
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < used.length) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }
  }

  /** Sorts the packed pairs of `a` by (u, v) in place; returns the pair
    * count. Three-way quicksort (a run of equal pairs, as a hub's
    * repeated (u, m) emissions make, is one partition step), heapsort
    * below a depth limit.
    */
  private[ops] def sortPairs(a: Array[Long]): Int = {
    val n = a.length / 2
    if (n > 1) quick(a, 0, n - 1, 2 * (32 - Integer.numberOfLeadingZeros(n)))
    n
  }

  private def cmp(a: Array[Long], i: Int, u: Long, v: Long): Int = {
    val c = java.lang.Long.compare(a(2 * i), u)
    if (c != 0) c else java.lang.Long.compare(a(2 * i + 1), v)
  }

  private def swap(a: Array[Long], i: Int, j: Int): Unit = {
    val (u, v) = (a(2 * i), a(2 * i + 1))
    a(2 * i) = a(2 * j); a(2 * i + 1) = a(2 * j + 1)
    a(2 * j) = u; a(2 * j + 1) = v
  }

  private def quick(a: Array[Long], from: Int, to: Int, maxDepth: Int): Unit = {
    var (lo, hi, depth) = (from, to, maxDepth)
    while (hi - lo >= 16 && depth > 0) {
      // median of three as the pivot
      val mid = (lo + hi) >>> 1
      if (cmp(a, mid, a(2 * lo), a(2 * lo + 1)) < 0) swap(a, mid, lo)
      if (cmp(a, hi, a(2 * lo), a(2 * lo + 1)) < 0) swap(a, hi, lo)
      if (cmp(a, hi, a(2 * mid), a(2 * mid + 1)) < 0) swap(a, hi, mid)
      val (pu, pv) = (a(2 * mid), a(2 * mid + 1))
      var (lt, i, gt) = (lo, lo, hi)
      while (i <= gt) {
        val c = cmp(a, i, pu, pv)
        if (c < 0) { swap(a, lt, i); lt += 1; i += 1 }
        else if (c > 0) { swap(a, i, gt); gt -= 1 }
        else i += 1
      }
      // recurse into the smaller side, loop on the larger
      depth -= 1
      if (lt - lo < hi - gt) { quick(a, lo, lt - 1, depth); lo = gt + 1 }
      else { quick(a, gt + 1, hi, depth); hi = lt - 1 }
    }
    if (hi - lo < 16) insertion(a, lo, hi) else heap(a, lo, hi)
  }

  private def insertion(a: Array[Long], lo: Int, hi: Int): Unit = {
    var i = lo + 1
    while (i <= hi) {
      val (u, v) = (a(2 * i), a(2 * i + 1))
      var j = i - 1
      while (j >= lo && cmp(a, j, u, v) > 0) {
        a(2 * j + 2) = a(2 * j); a(2 * j + 3) = a(2 * j + 1)
        j -= 1
      }
      a(2 * j + 2) = u; a(2 * j + 3) = v
      i += 1
    }
  }

  private def heap(a: Array[Long], lo: Int, hi: Int): Unit = {
    val n = hi - lo + 1
    def sift(root0: Int, size: Int): Unit = {
      var root = root0
      var child = 2 * root + 1
      while (child < size) {
        if (child + 1 < size &&
            cmp(a, lo + child + 1, a(2 * (lo + child)), a(2 * (lo + child) + 1)) > 0) child += 1
        if (cmp(a, lo + child, a(2 * (lo + root)), a(2 * (lo + root) + 1)) > 0) {
          swap(a, lo + root, lo + child)
          root = child
          child = 2 * root + 1
        } else child = size
      }
    }
    var i = n / 2 - 1
    while (i >= 0) { sift(i, n); i -= 1 }
    var end = n - 1
    while (end > 0) { swap(a, lo, lo + end); sift(0, end); end -= 1 }
  }

  /** Near-dup cluster table: components of the pair graph plus the
    * cluster size and a keep flag on the canonical (minimum-id) member —
    * the row a dedup pipeline joins against to drop non-canonical docs.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a",
               idB: String = "id_b"): DataFrame =
    components(pairs, idA, idB)
      .withColumn("cluster_size",
                  count(lit(1)).over(Window.partitionBy("component_id")))
      .withColumn("keep", (col("id") === col("component_id")).cast("boolean"))
}
