package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pinned

/** Deterministic fixed-point PageRank over a directed edge list — the
  * authority score behind real crawl frontier prioritization (OPIC /
  * PageRank-ordered fetch queues), usable anywhere a reproducible
  * graph centrality is needed.
  *
  * Why fixed-point: floating-point PageRank is NOT reproducible across
  * engines or even runs — double summation depends on reduction order,
  * so a distributed aggregate and a sequential recomputation disagree
  * in the last ulps and any rounded comparison eventually flips a
  * digit. Here ranks are Longs scaled by 1e12 and every step is
  * integer arithmetic (floor division for contributions and damping),
  * which commutes and associates EXACTLY: the distributed run is
  * bit-identical to a sequential oracle, at any parallelism, forever.
  * The cost is a deterministic rounding-down drift of at most
  * (in-degree) units per node per iteration — invisible at the 1e12
  * scale and identical on both sides by construction.
  *
  * Scale shape: per iteration, one hash join of the skinny edge list
  * against (node, rank) plus one partial-aggregated sum keyed on dst —
  * the same exchanges as one connected-components half-round. Lineage
  * is truncated per iteration with an eager local checkpoint (use
  * checkpoint() + a reliable dir on a cluster), so 10 iterations plan
  * as 10 shallow jobs, not one exponential tree. Every checkpoint is a
  * [[graft.util.Pinned]]: an iteration frees its predecessor's ranks,
  * and the edges, nodes and out-degrees are freed once the last ranks
  * are pinned, so a call leaves only its result in the block manager.
  *
  * Dangling nodes (no out-edges) leak their mass — the classic
  * simplified formulation. Callers whose graphs can dangle should add
  * self-loops or symmetrize (a bipartite both-direction graph, as in
  * q88, has none).
  */
object PageRank {

  val scale: Long = 1000000000000L

  /** (node, rank) after `iterations` damped rounds (damping 85/100 in
    * integer arithmetic) over `edges` (src, dst) — deduplicated here,
    * so parallel edges count once.
    */
  def ranks(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = Pinned(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct())
    val nodes = Pinned(e.df.select(col("src").as("node"))
      .union(e.df.select(col("dst").as("node")))
      .distinct())
    val n = nodes.df.count()
    require(n > 0, "empty graph")
    val outDeg = Pinned(e.df.groupBy("src").agg(count(lit(1)).as("deg")))
    val base = (scale * 15L / 100L) / n
    var ranks = Option.empty[Pinned]
    (1 to iterations).foreach { _ =>
      val prev = ranks.fold(nodes.df.withColumn("rank", lit(scale / n)))(_.df)
      val sums = e.df
        .join(prev.withColumnRenamed("node", "src"), "src")
        .join(outDeg.df, "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val next = Pinned(nodes.df.join(sums, Seq("node"), "left")
        .select(col("node"),
                (lit(base) + expr("coalesce(s, 0L) * 85 div 100")).as("rank")))
      // the previous iteration's ranks are read by nothing from here on
      ranks.foreach(_.release())
      ranks = Some(next)
    }
    // the last iteration's ranks are pinned, so its inputs can go
    Seq(e, nodes, outDeg).foreach(_.release())
    ranks.get.df
  }
}
