package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pinned

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
  * Each half-round is ONE hash-shuffle on the node id (a window
  * partition), carrying only (long, long) edge rows; neighbor lists are
  * never collected into arrays, so a hub node of any degree streams
  * through `min().over(partitionBy)` without materializing its
  * neighborhood in task memory.
  *
  * Scale notes:
  *   - per round: 2 shuffles of the current edge set (skinny 16-byte
  *     rows) + a distinct; lineage is truncated every round with an
  *     eager `localCheckpoint` so the iterative plan never re-executes
  *     from the source (on a multi-executor cluster prefer
  *     `spark.sparkContext.setCheckpointDir` + `checkpoint()` for
  *     fault-tolerant truncation — `localCheckpoint` pins blocks to
  *     executors and does not survive executor loss). Each round frees
  *     the previous round's checkpoint through its RDD (see
  *     [[graft.util.Pinned]]), so at most one round's edges stay held;
  *   - convergence is detected by an order-independent signature
  *     (count + xor of xxhash64(u,v)) instead of a full diff — one
  *     cheap aggregate per round;
  *   - the result maps every node that appears in an edge to
  *     component_id = MIN node id of its component (deterministic
  *     canonical representative); isolated nodes never enter the edge
  *     list and are their own component by definition (callers union
  *     them back with a left-anti join if they need explicit rows).
  */
object ConnectedComponents {

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the minimum of its neighborhood (including itself).
    *
    * REQUIRES the u > v invariant on the input (componentsWithRounds
    * normalizes round 0 and every round preserves it). Under that
    * invariant the whole star collapses to one aggregation plus one
    * equi-join, with no symmetrized double-width window sort:
    *
    *   - a node x's neighborhood minimum is m(x) = least(x, min of its
    *     SMALLER neighbors) — larger neighbors can never be the min —
    *     and x's smaller neighbors are exactly the v's of edges where
    *     x is u, so `groupBy(u).min(v)` (map-side partial aggregation)
    *     computes every m;
    *   - x's strictly-larger neighbors are exactly the u's of edges
    *     where x is v, so the star's emissions are one row (u, m(v))
    *     per input edge — the join of e (keyed on v) against the min
    *     table. A node absent from the min table has no smaller
    *     neighbor: m = itself.
    *
    * Output keeps u > v (u > x >= m(x)) and MAY contain duplicate rows
    * — two edges (u, x1), (u, x2) can emit the same (u, m) — which the
    * round's closing distinct (in [[smallStar]]) removes; duplicates
    * never affect the min aggregations in between. The shuffled-hash
    * hint avoids sorting both sides: the min table is the bounded build
    * side (one row per distinct u).
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("mv"))
    e.join(mins.select(col("u").as("x"), col("mv")).hint("shuffle_hash"),
           col("v") === col("x"), "left")
      .select(col("u"),
              least(col("v"), coalesce(col("mv"), col("v"))).as("v2"))
      .filter(col("u") =!= col("v2"))
      .select(col("u"), col("v2").as("v"))
  }

  /** One small-star round over edges with the u > v invariant: every
    * node connects its smaller neighbors AND itself to the minimum of
    * that set. The two emissions per row ((v, m) and (u, m)) ride ONE
    * window pass via a generator — the former union of two projections
    * re-executed the whole exchange+sort+window subtree per branch.
    * Closes the round with the canonicalizing dedup, keyed so the NEXT
    * round reuses its exchange (see [[roundDedup]]).
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val withM = e.withColumn(
      "m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
    roundDedup(
      withM.select(explode(array(col("v"), col("u"))).as("u2"), col("m"))
        .filter(col("u2") =!= col("m"))
        .select(col("u2").as("u"), col("m").as("v")))
  }

  /** The round-closing (u, v) dedup, partitioned by `u` ALONE: a
    * hash(u) layout co-locates equal (u, v) rows just as well as
    * hash(u, v), so the dedup aggregate runs exchange-free on top of
    * the explicit repartition — and, because `localCheckpoint`
    * preserves the materialized partitioning, the NEXT round's
    * `groupBy("u").min("v")` (in [[largeStar]]) needs NO exchange
    * either: one full-edge-set shuffle per round is removed outright
    * (guide §2.4 — two operations keyed the same way share one
    * exchange). The explicit partition count pins plain
    * HashPartitioning (AQE-coalesced output would still be valid but
    * is harder to prove preserved through the checkpoint).
    */
  private def roundDedup(d: DataFrame): DataFrame = {
    val p = d.sparkSession.sessionState.conf.numShufflePartitions
    d.repartition(p, col("u")).dropDuplicates("u", "v")
  }

  /** The partition count [[roundDedup]] pinned, for the matching
    * checkpoint claim.
    */
  private def dedupPartitions(d: DataFrame): Int =
    d.sparkSession.sessionState.conf.numShufflePartitions

  /** Eager lineage cut, pinned, that keeps the hash(u) layout [[roundDedup]]
    * just established — plain `localCheckpoint` drops it under AQE
    * (see [[org.apache.spark.sql.GraftCheckpoint]]), which would
    * re-introduce the exchange this round structure removes.
    */
  private def checkpointKeyedU(d: DataFrame): Pinned =
    Pinned.of(org.apache.spark.sql.GraftCheckpoint
      .localCheckpointKeepHash(d, Seq("u"), dedupPartitions(d)))

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
    var e = checkpointKeyedU(roundDedup(edges
      .select(greatest(col(idA).cast("long"), col(idB).cast("long")).as("u"),
              least(col(idA).cast("long"), col(idB).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))))

    // XOR fold: order-independent, overflow-free (ANSI-safe).
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(e.df)
    var converged = sig._1 == 0L
    var iter = 0
    while (!converged) {
      iter += 1
      require(iter <= maxIter, s"connected components did not converge in $maxIter rounds")
      val prev = e
      e = checkpointKeyedU(smallStar(largeStar(e.df)))
      val next = signature(e.df)
      converged = next == sig
      sig = next
      // the previous round's edges are read by nothing from here on; the
      // last round's stay pinned as the result's rows
      prev.release()
    }

    // At the fixpoint every edge is a direct (node -> root) pointer and
    // every root appears only on the v side.
    val last = e.df
    (last.select(col("u").as("id"), col("v").as("component_id"))
       .union(last.select(col("v").as("id"), col("v").as("component_id")))
       .groupBy("id").agg(min("component_id").as("component_id")),
     iter)
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
