package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.ops.Similarity.Scored

/** Incremental maintenance for the EMBEDDING indexes — the vector-side
  * analogue of [[IncrementalLsh]] (which maintains the text MinHash
  * index). A training-data pipeline ingests embeddings in the same
  * per-round cadence as documents (this engine's crawl commits docs per
  * scheduling round; reference behavior it scales: recursive discovery
  * keeps appending, indeed/main.go:66-70), so both ANN legs must cost
  * O(delta) per round, not O(corpus):
  *
  *   - [[roundPairs]] — incremental embedding NEAR-DUP maintenance: a
  *     persisted random-hyperplane band index (same banding as
  *     [[Similarity.cosineNearDups]]); each round checks its NEW
  *     vectors against the index only. Union of per-round outputs
  *     equals the batch output (oracled as q63): hyperplane signatures
  *     do not depend on arrival round, so end-state bucket membership
  *     is batch membership. Pair generation reuses
  *     [[IncrementalLsh.cappedNewPairs]] — old-old pairs were emitted
  *     in an earlier round, buckets are capped with counted drops, and
  *     the exact-cosine verify join is broadcast-size-guarded.
  *   - [[IvfIndex]] — a persisted IVF postings table for ANN top-k
  *     queries: cell assignments are APPENDED per round against FROZEN
  *     centroids (assignment is a map-side broadcast pass over the new
  *     slice only), queries prune to their probed cells via partition
  *     pruning (`cell=` directory layout), and a re-train cadence
  *     rebuilds centroids + assignments in a new epoch once enough
  *     rounds accumulate (the only O(corpus) step, amortized over
  *     `retrainEvery` rounds — FAISS-style: a coarse quantizer tolerates
  *     a stale training set between re-trains).
  *
  * Index layout and crash safety follow [[RoundSlots]]: parallel
  * append-only parquet tables with `_SUCCESS`-gated per-round slots —
  * a died append is invisible to readers and redone in the same slot.
  */
object IncrementalAnn {

  /** Skinny hyperplane posting rows (band, bucket, id) — the banding of
    * [[Similarity.cosineNearDups]] too, so incremental and batch bucket
    * membership agree by construction.
    */
  def bands(emb: DataFrame, idCol: String, vecCol: String,
            tables: Int = 8, bits: Int = 10, seed: Long = 7L): DataFrame =
    // one codegen'd pass per row (HashOps.hyperplaneSigs) — signatures
    // bit-identical to the former per-table signatureAt mapPartitions,
    // without decoding every vector into an external Array[Float]
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .select(col("id"),
              posexplode(HashOps.hyperplane_sigs_col(col("vec"), tables, bits,
                                                     seed))
                .as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("id"))

  /** The index: postings (band, bucket, id) + vectors (id, vec). */
  private def index(indexDir: String) = new RoundSlots.BandIndex(
    indexDir, StructType.fromDDL("band INT, bucket BIGINT, id BIGINT"),
    "vecs", StructType.fromDDL("id BIGINT, vec ARRAY<FLOAT>"))

  /** Fold all complete rounds into a fresh single-slot generation and
    * drop superseded generations (crash-safe, marker-committed).
    */
  def compact(spark: SparkSession, indexDir: String): Boolean =
    index(indexDir).compact(spark)

  /** One maintenance round: verified cosine near-dup pairs of `newEmb`
    * against the persisted index (and among themselves), then the index
    * is appended with the round's postings + vectors
    * ([[RoundSlots.BandIndex.round]]). `slot` has the same
    * replay-idempotency contract as [[IncrementalLsh.roundPairs]]: pin
    * the round slot to an external round number so an at-least-once
    * driver's retry re-reads exactly rounds 0..k-1 and overwrites slot k
    * instead of appending a duplicate beside its own earlier attempt.
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b — the same output
    * contract as [[Similarity.cosineNearDups]]. Vectors never ride the
    * banded exchange (ids only); they join back once per surviving
    * capped candidate pair, broadcast-guarded by measured pair count
    * ([[LshPairs.joinPayloadsPruned]]).
    */
  def roundPairs(spark: SparkSession, indexDir: String, newEmb: DataFrame,
                 idCol: String, vecCol: String, threshold: Double,
                 tables: Int = 8, bits: Int = 10, seed: Long = 7L,
                 maxBucket: Int = 1024,
                 acc: Option[LongAccumulator] = None,
                 compactEvery: Int = 0,
                 slot: Option[Int] = None): DataFrame =
    index(indexDir).round(
      newEmb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      bands(_, "id", "vec", tables, bits, seed),
      maxBucket, acc, matchTag = false, slot, compactEvery)(
      Similarity.cosineAbove(_, threshold))

  // ------------------------------------------------------------------
  // persisted IVF postings (frozen centroids + re-train cadence)
  // ------------------------------------------------------------------

  /** A persisted IVF ANN index under `indexDir`. Layout:
    *
    * {{{
    *   indexDir/e<j>/cells/r<k>/cell=<c>/...   postings (id, vec), one
    *                                           slot per appended round,
    *                                           partitioned by cell
    *   indexDir/e<j>/centroids/                (cell, vec) — written
    *                                           LAST: its _SUCCESS is the
    *                                           epoch's commit marker
    * }}}
    *
    * Epoch commit protocol: an epoch directory without committed
    * centroids is invisible (a re-train that died mid-build is redone
    * in the same epoch slot); within an epoch, round slots follow
    * [[RoundSlots]]. The active epoch is the highest committed one —
    * appends and queries both resolve it per call, so a reader never
    * mixes postings across centroid generations (cell ids are only
    * meaningful against their own epoch's centroids).
    */
  final class IvfIndex(spark: SparkSession, indexDir: String,
                       nCells: Int = 16, iters: Int = 8,
                       retrainEvery: Int = 0) {
    import spark.implicits._

    private def epochDir(j: Int) = s"$indexDir/e$j"
    private def cellsDir(j: Int) = s"${epochDir(j)}/cells"
    private def centroidsDir(j: Int) = s"${epochDir(j)}/centroids"

    /** Committed epoch indices (centroids `_SUCCESS` present). */
    // epoch listing/GC share RoundSlots' marker-gated scan and
    // reverse-walk delete — commit evidence here is the centroids
    // table's _SUCCESS (centroids are written LAST in every epoch)
    private def epochIdxs(): Seq[Int] =
      RoundSlots.committedIdxs(indexDir, "e", "centroids/_SUCCESS")

    /** Active (highest committed) epoch, or -1 when the index is empty. */
    def activeEpoch(): Int = epochIdxs().lastOption.getOrElse(-1)

    /** Delete epochs below the active one, committed or not — a
      * re-train supersedes its full ancestry, and an uncommitted lower
      * epoch is a dead dangling write. Safe between queries.
      */
    def gcOldEpochs(): Unit = {
      val act = activeEpoch()
      if (act < 0) return
      RoundSlots.gcBelow(indexDir, "e", act)
    }

    /** Committed rounds of the active epoch. */
    def rounds(): Seq[Int] = {
      val j = activeEpoch()
      if (j < 0) Seq.empty else RoundSlots.roundIdxs(cellsDir(j)).toSeq.sorted
    }

    def centroids(): Array[Array[Float]] = {
      val j = activeEpoch()
      require(j >= 0, s"IVF index at $indexDir has no committed epoch")
      spark.read.parquet(centroidsDir(j))
        .select(col("cell").cast("int"), col("vec"))
        .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    }

    private def writeCentroids(j: Int, cs: Array[Array[Float]]): Unit =
      cs.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
        .toDF("cell", "vec")
        .repartition(1)
        .write.mode("overwrite").parquet(centroidsDir(j))

    /** Assign `emb`'s (idCol, vecCol) rows to cells of `cs` and write
      * them as the postings slot r<k> of epoch `j`.
      */
    private def writeSlot(j: Int, k: Int, emb: DataFrame, idCol: String,
                          vecCol: String, cs: Array[Array[Float]]): Unit =
      Similarity.assignCells(
          emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
          spark.sparkContext.broadcast(cs))
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"${cellsDir(j)}/r$k")

    private def postings(j: Int): DataFrame = {
      val rs = RoundSlots.roundIdxs(cellsDir(j)).toSeq.sorted
      val emptyP =
        spark.emptyDataset[(Int, Long, Array[Float])].toDF("cell", "id", "vec")
      if (rs.isEmpty) emptyP
      else
        // one read per round slot (each slot is its own partition-
        // discovery root — the r<k> level is a slot, not a partition);
        // a cell filter still prunes inside every branch of the union.
        // Explicit schema: a zero-vector append commits a slot holding
        // only _SUCCESS (partitionBy writes no files for an empty
        // frame), and inference over that slot would throw forever;
        // with the schema given, Spark resolves `cell` from the
        // partition directories when present and returns empty when not
        rs.map(k => spark.read.schema(emptyP.schema)
                      .parquet(s"${cellsDir(j)}/r$k")
                      .select(col("cell").cast("int"), col("id"), col("vec")))
          .reduce(_ unionByName _)
    }

    /** Append one ingest round of new vectors.
      *
      * First-ever append trains epoch-0 centroids on the new slice
      * (distributed Lloyd — nothing collects the corpus). Subsequent
      * appends assign against the active epoch's FROZEN centroids in
      * one map-side broadcast pass over the new slice only — O(delta).
      * When `retrainEvery` > 0 and the active epoch has accumulated
      * that many rounds, the append triggers a re-train: new centroids
      * over the full epoch corpus, all postings re-assigned into epoch
      * j+1 slot r0 (postings first, centroids last = commit marker).
      *
      * Returns (epoch, round) the new slice landed in.
      *
      * `slot`: pin the round slot for at-least-once callers — the
      * retry-safety gap this closes: an unpinned retried append whose
      * slot already committed (e.g. a death AFTER the slot's write but
      * before the caller recorded the result) would land in a NEW slot
      * and duplicate every vector of the slice. With the slot pinned
      * the retry overwrites its own slot, and a gap in prior slots
      * fails loud.
      *
      * `slotEpoch`: the EPOCH the pin targets — makes the pin identity
      * (epoch, round), which is what lets a pinned caller combine with
      * `retrainEvery` > 0 (an epoch fold renumbers slots, so a bare
      * round number is ambiguous across a re-train). Replay semantics
      * when a pinned append straddles a COMPLETED re-train (the pin's
      * epoch is no longer active):
      *
      *   - the pinned slot committed in its own epoch before the fold
      *     (crash AFTER the re-train's centroid commit, before the
      *     caller recorded progress): the fold already carries the
      *     slice, so the replay is an idempotent NO-OP returning the
      *     fold's location (activeEpoch, 0). Requires the superseded
      *     epoch's directory to still exist — epoch-pinned callers
      *     must run [[gcOldEpochs]] only after durably recording
      *     progress past the fold;
      *   - anything else (pin targets an older epoch whose slot never
      *     committed, or an epoch more than one fold behind) fails
      *     loud: the caller's replay bookkeeping has diverged from the
      *     index and silent application would corrupt the slot-gap
      *     invariant.
      *
      * A `slot` WITHOUT `slotEpoch` keeps the legacy contract: it
      * REQUIRES retrainEvery == 0 (re-train offline instead). The
      * bootstrap append is idempotent without pinning (centroids
      * commit last); a pinned bootstrap may only claim (0, 0) — a
      * replay against a wiped index fails the gap check loudly instead
      * of recording a wrong slot mapping.
      */
    def append(newEmb: DataFrame, idCol: String, vecCol: String,
               slot: Option[Int] = None,
               slotEpoch: Option[Int] = None): (Int, Int) = {
      require(slotEpoch.isEmpty || slot.isDefined,
              "slotEpoch is only meaningful together with a pinned slot")
      require(slot.isEmpty || slotEpoch.isDefined || retrainEvery == 0,
              "slot-pinned appends without slotEpoch cannot combine with " +
                "retrainEvery (an epoch fold renumbers slots; pin the " +
                "epoch too, or re-train offline instead)")
      val j0 = activeEpoch()
      val (j, cs) =
        if (j0 < 0) {
          // epoch 0 bootstrap: postings slot first, centroids last. A
          // pinned bootstrap may only claim (epoch 0, round 0) — the
          // non-bootstrap branch's gap check, mirrored
          require(slot.forall(_ == 0) && slotEpoch.forall(_ == 0),
                  s"bootstrap append on an empty index cannot claim " +
                    s"slot epoch=$slotEpoch round=$slot (only (0, 0))")
          val cs = Similarity.kmeansDistributed(spark, newEmb, idCol, vecCol,
                                                nCells, iters)
          writeSlot(0, 0, newEmb, idCol, vecCol, cs)
          writeCentroids(0, cs)
          return (0, 0)
        } else (j0, centroids())
      slotEpoch.filter(_ != j) match {
        case Some(e) =>
          // pin straddles a fold: valid ONLY as a replay of an append
          // that committed in the immediately superseded epoch (and so
          // was carried into the active epoch's r0 fold)
          val kk = slot.get
          val priorRounds = RoundSlots.roundIdxs(cellsDir(e)).toSeq.sorted
          require(e == j - 1 && priorRounds.contains(kk),
                  s"pinned slot (epoch=$e, round=$kk) straddles a " +
                    s"completed re-train (active epoch $j) but was never " +
                    s"committed in epoch $e (rounds $priorRounds) — " +
                    "replay bookkeeping has diverged from the index")
          return (j, 0) // idempotent no-op: the fold carries the slice
        case None => ()
      }
      val existing = RoundSlots.roundIdxs(cellsDir(j)).toSeq.sorted
      val k = slot match {
        case None => existing.size
        case Some(kk) =>
          require(existing.filter(_ < kk) == (0 until kk),
                  s"slot $kk requires committed rounds 0..${kk - 1} in " +
                    s"epoch $j, found $existing")
          kk
      }
      writeSlot(j, k, newEmb, idCol, vecCol, cs)
      if (retrainEvery > 0 && k + 1 >= retrainEvery) {
        // re-train into epoch j+1: assignments first, centroids LAST —
        // a death anywhere before the centroids commit leaves e(j+1)
        // invisible and e(j) fully serving
        val all = postings(j)
        val cs2 = Similarity.kmeansDistributed(spark, all, "id", "vec",
                                               nCells, iters)
        writeSlot(j + 1, 0, all, "id", "vec", cs2)
        writeCentroids(j + 1, cs2)
        (j + 1, 0)
      } else (j, k)
    }

    /** ANN top-k for the given query ids (vectors resolved from the
      * index) — same semantics as [[Similarity.ivfTopK]]: each query
      * probes its `nProbe` nearest cells, exact cosine re-rank inside,
      * all query ids excluded from candidates. The postings scan is
      * pruned to the probed cells via the `cell=` partition layout —
      * at corpus scale a query touches ~nProbe/nCells of the files.
      */
    def topK(queryIds: Seq[Long], k: Int, nProbe: Int = 4): Dataset[Scored] = {
      val j = activeEpoch()
      require(j >= 0, s"IVF index at $indexDir has no committed epoch")
      val all = postings(j)
      Similarity.probeAndRerank(
          all.filter(col("id").isin(queryIds.map(Long.box): _*))
            .select(col("id"), col("vec")).as[(Long, Array[Float])],
          spark.sparkContext.broadcast(centroids()), nProbe, queryIds, k) { probes =>
        val probedCells = probes.select("cell").distinct().as[Int].collect().toSeq
        // partition-pruned scan: only the probed cells' files are read
        all.filter(col("cell").isin(probedCells.map(Int.box): _*))
      }
    }
  }
}
