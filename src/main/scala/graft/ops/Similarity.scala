package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.synthweb.SyntheticWeb.mix64

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Three paths, plus a persisted index:
  *   - [[bruteForceTopK]] — exact cosine top-k. One pass over the corpus
  *     with the (small) query set broadcast; per-partition bounded heaps
  *     keep memory at O(queries × k); a final tiny per-query merge picks
  *     the global top-k. Scales linearly in corpus size with zero
  *     shuffle of the corpus itself (only Q×k×partitions candidate rows
  *     move). This is the verification baseline.
  *   - [[lshTopK]] — random-hyperplane LSH: each vector gets a `tables`
  *     × `bits`-bit signature; query and corpus rows join on (table,
  *     bucket); exact cosine re-ranks within buckets. At 100 TB this
  *     touches only the bucket-colocated fraction of the corpus per
  *     query, trading recall for a ~2^bits-fold scan reduction.
  *     Hyperplane components are a pure seeded function of
  *     (seed, table, bit, dim) generated on the fly inside the task —
  *     no broadcast, no driver-side action, no dimension probe.
  *   - [[ivfTopK]] — IVF: a seeded k-means quantizer assigns the corpus
  *     to cells map-side; each query probes its `nProbe` nearest cells
  *     and re-ranks exactly inside them.
  *   - [[IncrementalAnn.IvfIndex]] — the same IVF search over persisted
  *     postings appended per ingest round, its scan pruned to the
  *     probed cells' files.
  *
  * Every path keeps each query's k best through one bounded heap
  * ([[BestK]], merged by [[topKPerQuery]]), and both IVF paths share one
  * cell assignment ([[assignCells]]) and one probe-and-rerank
  * ([[probeAndRerank]]).
  *
  * Query-exclusion semantics (every path): ALL ids in `queryIds` are
  * excluded from candidate neighbors — a query is never returned as
  * another query's neighbor. This keeps the query/corpus roles disjoint
  * (self-join semantics); pass a query's id outside `queryIds` via a
  * unioned corpus row if query-to-query neighbors are wanted.
  */
object Similarity {

  final case class Scored(query_id: Long, neighbor_id: Long, sim: Double)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-k. `emb` must have (idCol: long-castable,
    * vecCol: array<float>); queries are the rows whose id is in
    * queryIds. ALL query ids are excluded from candidate neighbors
    * (see the object doc: query/corpus roles are disjoint — a query is
    * never another query's neighbor). Ties broken by neighbor id for
    * determinism.
    */
  def bruteForceTopK(spark: SparkSession, emb: DataFrame, idCol: String,
                     vecCol: String, queryIds: Seq[Long], k: Int): Dataset[Scored] = {
    import spark.implicits._
    val qSet = queryIds.toSet
    val queries: Array[(Long, Array[Float])] = emb
      .filter(col(idCol).isin(queryIds.map(Long.box): _*))
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    val partials = emb
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        val best = qs.map(_ => new BestK(k, ByScore)) // one per query
        it.foreach { case (id, vec) =>
          if (!qSet.contains(id)) {
            var qi = 0
            while (qi < qs.length) {
              best(qi).add(Scored(qs(qi)._1, id, cosine(qs(qi)._2, vec)))
              qi += 1
            }
          }
        }
        best.iterator.flatMap(_.result)
      }
    topKPerQuery(partials, k)
  }

  /** Best first: higher sim, then lower neighbor id. */
  private[ops] val ByScore: Ordering[Scored] =
    Ordering.by((s: Scored) => (-s.sim, s.neighbor_id))

  /** Each query's `k` best rows of `scored`, best first ([[BestK]] per
    * query group) — the one merge of every top-k path.
    */
  private[ops] def topKPerQuery(scored: Dataset[Scored], k: Int): Dataset[Scored] = {
    import scored.sparkSession.implicits._
    scored.groupByKey(_.query_id).flatMapGroups { (_: Long, it: Iterator[Scored]) =>
      val best = new BestK(k, ByScore)
      it.foreach(best.add)
      best.result
    }
  }

  /** Deterministic hyperplane component for (seed, table, bit, dim) —
    * splitmix64 mapped to a symmetric float in [-1, 1). A pure function,
    * so signatures need no materialized plane arrays, no broadcast and
    * no up-front dimension probe.
    */
  private[ops] def planeComponent(seed: Long, t: Int, b: Int, d: Int): Float = {
    val h = mix64(seed ^ (t.toLong << 40) ^ (b.toLong << 20) ^ d.toLong)
    (h.toDouble / Long.MaxValue.toDouble).toFloat
  }

  /** Per-JVM memo of one table's hyperplane components, flattened
    * [bit][dim] — the values are exactly [[planeComponent]]'s, computed
    * once instead of once per row: signatureAt previously re-derived
    * every component via mix64 for EVERY vector (tables × bits × dim
    * hash calls per row — ~8k at 64 dims, the dominant CPU of every
    * signature pass at corpus scale). A table's plane block is
    * bits × dim floats (KBs); the cache is bounded by the distinct
    * (seed, table, bits, dim) configs a JVM ever sees.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Float]]()

  private[ops] def planesFor(seed: Long, t: Int, bits: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((seed, t, bits, dim), { _ =>
      val a = new Array[Float](bits * dim)
      var b = 0
      while (b < bits) {
        var d = 0
        while (d < dim) { a(b * dim + d) = planeComponent(seed, t, b, d); d += 1 }
        b += 1
      }
      a
    })

  /** `bits`-bit random-hyperplane signature of `vec` in table `t`
    * (shared with the sequential ANN oracle in graft.oracle).
    * Bit-identical to the uncached formulation: same component values
    * ([[planesFor]] memoizes [[planeComponent]]), same double
    * accumulation order.
    */
  private[graft] def signatureAt(vec: Array[Float], seed: Long, t: Int,
                                 bits: Int): Int = {
    val planes = planesFor(seed, t, bits, vec.length)
    val n = vec.length
    var sig = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var d = 0
      val off = b * n
      while (d < n) {
        dot += vec(d).toDouble * planes(off + d)
        d += 1
      }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** LSH-bucketed ANN top-k: candidates = corpus rows sharing any
    * (table, bucket) with the query; exact cosine re-rank inside.
    *
    * Multiprobe: each query additionally probes the buckets at hamming
    * distance 1 from its signature (`probes` controls how many of the
    * `bits` flips are taken), the standard recall/scan trade — recall
    * rises like extra tables without re-hashing the corpus.
    *
    * Scale shape (what survives 100 TB):
    *   - the corpus NEVER shuffles: signatures are computed map-side,
    *     the query-signature join and both re-rank joins broadcast the
    *     small side, so every corpus touch is a map-side scan.
    *   - the only exchanges carry thin (query_id, table, bucket, id)
    *     rows — vectors never ride a shuffle.
    *   - every probed (table, bucket) is CAPPED to its `bucketCap`
    *     smallest candidate ids (deterministic, O(cap) task memory),
    *     mirroring [[LshPairs.cappedIdPairs]]: one pathological bucket
    *     concentrates at most cap rows of downstream work instead of
    *     the whole bucket. Dropped rows are counted in the named
    *     accumulator `ann_lsh_capped_dropped_rows` (or `acc`) — same
    *     caveats as LshPairs: an upper-bound saw-truncation indicator,
    *     not an exact tally. A vector dropped in one table can still
    *     reach the query through its other tables/probes, so recall
    *     degrades gracefully.
    *
    * The cap also bounds the re-rank set to
    * |queries| × tables × (probes+1) × cap, which is what makes the
    * surviving-pair side small enough to broadcast back onto the corpus.
    */
  def lshTopK(spark: SparkSession, emb: DataFrame, idCol: String,
              vecCol: String, queryIds: Seq[Long], k: Int,
              tables: Int = 8, bits: Int = 12, seed: Long = 42L,
              probes: Int = 0, bucketCap: Int = 4096,
              acc: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[Scored] = {
    import spark.implicits._
    require(bucketCap >= k, s"bucketCap ($bucketCap) must be >= k ($k)")
    val dropped = acc.getOrElse(
      spark.sparkContext.longAccumulator("ann_lsh_capped_dropped_rows"))
    val idRows = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // thin signature rows — ids only, vectors stay behind; one codegen'd
    // pass per row (HashOps.hyperplaneSigs), bit-identical to signatureAt
    // per table
    val sigIds = idRows
      .select(col("id"),
              posexplode(HashOps.hyperplane_sigs_col(col("vec"), tables, bits,
                                                     seed))
                .as(Seq("table", "bucket")))
      .select(col("id"), col("table"), col("bucket").cast("int"))

    val nProbes = math.min(math.max(probes, 0), bits)
    val qSigs = sigIds.filter(col("id").isin(queryIds.map(Long.box): _*))
      .as[(Long, Int, Int)]
      .flatMap { case (q, t, b) =>
        // exact bucket + hamming-1 probes on the first nProbes bits
        (b +: (0 until nProbes).map(i => b ^ (1 << i))).distinct
          .map(pb => (q, t, pb))
      }
      .toDF("query_id", "table", "bucket")
    val cands = sigIds
      .join(broadcast(qSigs), Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id") &&
        !col("id").isin(queryIds.map(Long.box): _*))
    // per-(query, table, bucket) truncation to the cap smallest ids —
    // deterministic regardless of shuffle arrival order, so every query
    // probing a bucket sees the same candidate subset
    val capped = cands
      .select(col("query_id"), col("table").cast("int"),
              col("bucket").cast("long"), col("id"))
      .as[(Long, Int, Long, Long)]
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key: (Long, Int, Long), it: Iterator[(Long, Int, Long, Long)]) =>
        val ids = new BestK(bucketCap, Ordering.Long)
        it.foreach(t => ids.add(t._4))
        dropped.add(ids.dropped)
        ids.result.iterator.map((id: Long) => (key._1, id))
      }
      .toDF("query_id", "id")
      .dropDuplicates("query_id", "id")

    // re-rank: corpus scan ⋈ broadcast(surviving pairs) ⋈ broadcast
    // (query vectors) — both joins map-side, corpus still unshuffled
    val qRows = idRows.filter(col("id").isin(queryIds.map(Long.box): _*))
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    topKPerQuery(idRows
      .join(broadcast(capped), Seq("id"))
      .join(broadcast(qRows), Seq("query_id"))
      .select(col("query_id"), col("id"), col("qvec"), col("vec"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (q, id, qv, v) => Scored(q, id, cosine(qv, v)) }, k)
  }

  /** Deterministic seeded k-means (Lloyd) over a small driver-side
    * sample — the coarse quantizer for [[ivfTopK]]. Cosine metric
    * (vectors compared by angle); centroids are mean vectors of their
    * assigned sample points. Tiny by design: the sample and centroid
    * table both fit on the driver and broadcast in KBs.
    */
  private[graft] def kmeans(sample: Array[Array[Float]], nCells: Int,
                            iters: Int, seed: Long): Array[Array[Float]] = {
    require(sample.nonEmpty, "kmeans needs a non-empty sample")
    // seeded init: pick nCells sample points by splitmix64 order
    val centroids = sample.zipWithIndex
      .sortBy { case (_, i) => mix64(seed ^ i.toLong) }
      .take(math.min(nCells, sample.length))
      .map(_._1.clone())
    (0 until iters).foldLeft(centroids) { (cs, _) =>
      val (sums, counts) = cellSums(sample.iterator, cs)
      means(cs, sums, counts)
    }
  }

  /** Lloyd's assignment step over `vs`: per cell of `centroids`, the
    * sum vector and count of the points nearest to it, summed in `vs`
    * order — the one pass of [[kmeans]] and [[kmeansDistributed]].
    */
  private def cellSums(vs: Iterator[Array[Float]], centroids: Array[Array[Float]])
      : (Array[Array[Double]], Array[Long]) = {
    val dim = centroids(0).length
    val sums = Array.fill(centroids.length)(new Array[Double](dim))
    val counts = new Array[Long](centroids.length)
    vs.foreach { v =>
      val c = nearestCell(v, centroids)
      counts(c) += 1
      var d = 0
      while (d < dim) { sums(c)(d) += v(d); d += 1 }
    }
    (sums, counts)
  }

  /** Lloyd's update step: each cell's mean of its points; an empty cell
    * keeps its centroid.
    */
  private def means(centroids: Array[Array[Float]], sums: Array[Array[Double]],
                    counts: Array[Long]): Array[Array[Float]] =
    centroids.indices.map { c =>
      if (counts(c) == 0) centroids(c)
      else Array.tabulate(centroids(c).length)(d => (sums(c)(d) / counts(c)).toFloat)
    }.toArray

  /** Index of the max-cosine centroid (ties -> lowest index). */
  private[graft] def nearestCell(v: Array[Float],
                                 centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = -2.0
    var c = 0
    while (c < centroids.length) {
      val s = cosine(v, centroids(c))
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  /** `nProbe` nearest cells by cosine, best first (deterministic). */
  private[graft] def probeCells(v: Array[Float],
                                centroids: Array[Array[Float]],
                                nProbe: Int): Array[Int] =
    centroids.indices
      .map(c => (c, cosine(v, centroids(c))))
      .sortBy(t => (-t._2, t._1))
      .take(math.min(nProbe, centroids.length))
      .map(_._1)
      .toArray

  /** IVF (inverted-file) ANN top-k — the data-adaptive scale path next
    * to [[lshTopK]]: a coarse quantizer of `nCells` centroids (seeded
    * k-means over a deterministic driver-side sample) partitions the
    * corpus into cells; each query probes its `nProbe` nearest cells and
    * re-ranks exactly inside them. Where LSH buckets are random
    * hyperplane cuts, IVF cells follow the data distribution, so a
    * clustered corpus scans ~nProbe/nCells of its rows per query. The
    * corpus is assigned map-side (broadcast centroid table, no shuffle);
    * only cell-matched candidates move.
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, idCol: String,
              vecCol: String, queryIds: Seq[Long], k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              sampleN: Int = 512, iters: Int = 8,
              centroidsOpt: Option[Array[Array[Float]]] = None)
      : Dataset[Scored] = {
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // default quantizer: seeded k-means over a deterministic sample of
    // the sampleN smallest ids (TakeOrdered — no full sort); at corpus
    // scale either swap the sample for a seeded hash-range predicate or
    // pass [[kmeansDistributed]] output via centroidsOpt
    val centroids = centroidsOpt.getOrElse {
      val sample = base.as[(Long, Array[Float])]
        .orderBy("id").limit(sampleN).collect().map(_._2)
      kmeans(sample, nCells, iters, seed)
    }
    val bc = spark.sparkContext.broadcast(centroids)
    probeAndRerank(base.as[(Long, Array[Float])].filter(t => queryIds.contains(t._1)),
                   bc, nProbe, queryIds, k)(_ => assignCells(base, bc))
  }

  /** `idVecs` (id, vec) with each row's nearest cell of the broadcast
    * centroids, as (cell, id, vec): one map-side pass, no shuffle — the
    * corpus assignment of [[ivfTopK]] and of the [[IncrementalAnn.IvfIndex]]
    * postings.
    */
  private[ops] def assignCells(idVecs: DataFrame,
                               bc: Broadcast[Array[Array[Float]]]): DataFrame = {
    import idVecs.sparkSession.implicits._
    idVecs.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (nearestCell(v, cs), id, v) }
      }
      .toDF("cell", "id", "vec")
  }

  /** The probe-and-rerank of [[ivfTopK]] and [[IncrementalAnn.IvfIndex.topK]]:
    * each query row (id, vec) expands to its `nProbe` nearest cells of
    * the broadcast centroids, as (cell, query_id, qvec) rows;
    * `candidates` maps that expansion to the (cell, id, vec) rows to
    * search (the index prunes its postings scan to the probed cells).
    * Candidates join the broadcast expansion on cell, every id of
    * `queryIds` is excluded from neighbors, and an exact cosine re-rank
    * keeps each query's `k` best ([[topKPerQuery]]).
    */
  private[ops] def probeAndRerank(queries: Dataset[(Long, Array[Float])],
                                  bc: Broadcast[Array[Array[Float]]], nProbe: Int,
                                  queryIds: Seq[Long], k: Int)(
                                  candidates: DataFrame => DataFrame): Dataset[Scored] = {
    import queries.sparkSession.implicits._
    val probes = queries
      .flatMap { case (q, v) =>
        probeCells(v, bc.value, nProbe).iterator.map(c => (c, q, v))
      }
      .toDF("cell", "query_id", "qvec")
    val qSet = queryIds.toSet
    topKPerQuery(candidates(probes)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), col("qvec"), col("vec"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .filter(t => !qSet.contains(t._2))
      .map { case (q, id, qv, v) => Scored(q, id, cosine(qv, v)) }, k)
  }

  /** Distributed Lloyd iterations over the FULL corpus — the
    * corpus-scale alternative to [[kmeans]]'s driver-side sample
    * training (sample training stays [[ivfTopK]]'s default: a coarse
    * quantizer does not need the full corpus — FAISS trains IVF lists
    * on samples — but when full-data training is wanted, nothing may
    * collect the corpus).
    *
    * Scale shape: per iteration, ONE map-side pass assigns rows to
    * their nearest broadcast centroid and pre-aggregates
    * (sum-vector, count) per cell per partition; only
    * nPartitions × nCells × dim doubles reach the driver, folded in
    * partition order so the result is deterministic for a fixed input
    * layout (float addition is order-sensitive; the fold order is
    * pinned). The corpus never shuffles and never collects.
    */
  def kmeansDistributed(spark: SparkSession, emb: DataFrame, idCol: String,
                        vecCol: String, nCells: Int, iters: Int)
      : Array[Array[Float]] = {
    import spark.implicits._
    val base = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
    // deterministic init: the nCells smallest ids' vectors (TakeOrdered
    // — no full sort, KB-scale driver traffic)
    var centroids = base.orderBy("id").limit(nCells).collect()
      .sortBy(_._1).map(_._2.clone())
    require(centroids.nonEmpty, "kmeansDistributed needs a non-empty corpus")
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val partials = base
        .mapPartitions { rows =>
          val (sums, counts) = cellSums(rows.map(_._2), bc.value)
          Iterator.single(
            (org.apache.spark.TaskContext.getPartitionId(), sums, counts))
        }
        .collect()
        .sortBy(_._1) // pinned fold order => deterministic float sums
      val dim = centroids(0).length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      partials.foreach { case (_, ps, pc) =>
        var c = 0
        while (c < centroids.length) {
          counts(c) += pc(c)
          var d = 0
          while (d < dim) { sums(c)(d) += ps(c)(d); d += 1 }
          c += 1
        }
      }
      centroids = means(centroids, sums, counts)
      bc.destroy()
      it += 1
    }
    centroids
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (deterministic seeded planes) + exact verification —
    * the embedding leg of the dedup family.
    *
    * Scale shape: the (table, bucket) exchange carries ids only —
    * embeddings join back once per surviving candidate pair — and every
    * bucket is capped at `maxBucket` rows ([[LshPairs.cappedIdPairs]])
    * so a duplicate-heavy corpus cannot produce a quadratic task.
    */
  def cosineNearDups(spark: SparkSession, emb: DataFrame, idCol: String,
                     vecCol: String, threshold: Double,
                     tables: Int = 8, bits: Int = 10,
                     seed: Long = 7L, maxBucket: Int = 1024): DataFrame = {
    val base = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    cosineAbove(
      LshPairs.joinPayloadsPruned(
        LshPairs.cappedIdPairs(IncrementalAnn.bands(base, "id", "vec", tables,
                                                    bits, seed), maxBucket),
        base, col("vec")),
      threshold)
  }

  /** (id_a, id_b, cosine) of verify-joined vector pairs (payload_a,
    * payload_b) whose rounded cosine reaches `threshold` — the one
    * verification of [[cosineNearDups]] and [[IncrementalAnn.roundPairs]].
    * Codegen'd kernel (HashOps.cosineRint4 — [[cosine]]'s exact fold +
    * the rint rounding): no per-pair external decode of two float
    * arrays, which dominated verification at the ~10^6 random-collision
    * candidate scale.
    */
  private[ops] def cosineAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .select(col("id_a"), col("id_b"),
              HashOps.cosine_rint4_col(col("payload_a"), col("payload_b"))
                .as("cosine"))
      .filter(col("cosine") >= threshold)
}
