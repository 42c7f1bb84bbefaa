package graft.ops

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

import graft.util.Pinned

/** The banded near-dup core shared by the LSH dedup/similarity family
  * ([[Dedup.minhashNearDups]], [[Dedup.simhashNearDups]],
  * [[Similarity.cosineNearDups]], [[IncrementalLsh.roundPairs]],
  * [[IncrementalAnn.roundPairs]]): every one of them is "band → capped
  * id pairs → join the payload back → verify", and the two middle
  * steps live here once.
  *
  * Capped pairs. LSH self-joins explode quadratically on a
  * pathological bucket: a corpus that is mostly near-identical (exactly
  * the input near-dup removal exists for) lands m rows in one (band,
  * bucket) and would yield m² candidate pairs in one task. The emitter
  * bounds every bucket to its `cap` smallest ids ([[BestK]]) —
  * deterministic, O(cap) task memory, O(cap²) task output — and counts
  * the rows it drops in a named `LongAccumulator` (visible in the Spark
  * UI and to callers), so truncation is never silent — standard
  * accumulator semantics apply: task retries and repeated actions over
  * an un-cached result re-add their counts, so read it as a
  * saw-truncation indicator and upper bound, not an exact tally. A row
  * dropped from one oversized bucket can still pair through its other
  * bands/tables, so recall degrades gracefully instead of the job dying.
  *
  * The banded input carries (band, bucket, id) ONLY: fat payloads
  * (shingle arrays, embeddings) are joined back per surviving candidate
  * pair — never replicated bands× through the grouped exchange.
  *
  * Verify join. Two shapes, chosen by the caller:
  *   - [[joinPayloadsPruned]], the at-scale shape (MinHash at threshold
  *     1.0, cosine, both incremental rounds): the pair set is pinned,
  *     and counted by the pinning job itself; the payload lookup is
  *     pruned to pair ids and evaluated once for both join sides; every
  *     broadcast carries a size guard;
  *   - [[joinPayloads]], the bounded-subset shape (SimHash, MinHash
  *     below 1.0): one plain join of the unpinned pairs against the
  *     whole lookup. Below threshold 1.0 MinHash has no signature-tag
  *     prefilter, so its candidate set is O(bucket overlap) of the
  *     input, and pinning + counting it costs more than computing the
  *     payload for every row once — these paths expect a bounded input
  *     (a similarity search over a subset, not a corpus-scale dedup);
  *     run a corpus through threshold 1.0 or the incremental indexes.
  *
  * Stages. A verify is a fixed cost per Spark job and per generated
  * class, so the core keeps both few: the capped emitter is an RDD pass
  * (its shuffle carries packed longs and generates no classes), the
  * semi-join build sides take no `distinct()` (a left-semi build side
  * needs none, and the pair-id guard already sizes them as 2 × pairs),
  * and the pruned lookup is evaluated once, pinned, for both join sides.
  */
object LshPairs {

  /** The session's autoBroadcastJoinThreshold (≤ 0: broadcasts off). */
  private def broadcastLimit(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** Broadcast `df` only when `rows * bytesPerRow` fits the session's
    * autoBroadcastJoinThreshold, else return it unhinted — the
    * measured-count guard of every pair/id side whose real size is
    * known from a materialized count. A checkpointed frame has no
    * catalyst size estimate, so without the hint the planner assumes it
    * is huge and shuffles the (possibly fat) other side.
    */
  private def broadcastIfFits(df: DataFrame, rows: Long,
                              bytesPerRow: Long): DataFrame = {
    val bcLimit = broadcastLimit(df)
    if (bcLimit > 0 && rows * bytesPerRow <= bcLimit) broadcast(df) else df
  }

  /** Distinct (id_a, id_b) candidate pairs (id_a < id_b) from rows
    * sharing a (band, bucket), each bucket capped to its `cap` smallest
    * ids. `banded` needs columns (band, bucket, id), int/long-castable.
    *
    * `matchTag`: when true, `banded` must additionally carry a long
    * `tag` column and a pair is emitted only when both members' tags
    * are EQUAL. This is the in-generation form of the exact-dup
    * signature prefilter (tag = a hash of the full minhash signature):
    * at verification threshold 1.0 a pair with differing signatures
    * cannot verify, and suppressing it here keeps the pair set at the
    * true-duplicate scale instead of the O(bucket²) candidate scale —
    * the dedup family's dominant cost on near-dup-heavy corpora. Tag
    * collisions only ADD candidates (removed by the caller's exact
    * verification); capping semantics are untouched — the cap keeps the
    * same smallest-id bucket members regardless of tags.
    */
  def cappedIdPairs(banded: DataFrame, cap: Int,
                    acc: Option[LongAccumulator] = None,
                    matchTag: Boolean = false): DataFrame =
    emitCapped(members(banded, matchTag, isNew = true), cap, acc)

  /** `df`'s postings as the emitter reads them: band INT, bucket BIGINT,
    * id BIGINT, tag BIGINT (0 unless `matchTag`), is_new BOOLEAN.
    */
  private[ops] def members(df: DataFrame, matchTag: Boolean,
                           isNew: Boolean): DataFrame =
    df.select(col("band").cast("int"), col("bucket").cast("long"),
              col("id").cast("long"),
              (if (matchTag) col("tag").cast("long") else lit(0L)).as("tag"),
              lit(isNew).as("is_new"))

  /** One bucket member as the emitter sees it. */
  private final case class Member(id: Long, tag: Long, isNew: Boolean)

  private val ById: Ordering[Member] = Ordering.by(_.id)

  private val PairSchema = StructType(Seq(StructField("id_a", LongType, nullable = false),
                                          StructField("id_b", LongType, nullable = false)))

  /** The one capped-bucket emitter, behind [[cappedIdPairs]] and
    * [[IncrementalLsh.cappedNewPairs]]. Groups the [[members]] `rows` by
    * (band, bucket), keeps each bucket's `cap` smallest ids and emits
    * every kept pair whose members have equal tags and at least one of
    * which is new; the pairs leave distinct (id_a, id_b).
    *
    * The grouping is an RDD pass: each member travels as (bucket, [band
    * and new flag, id, tag]), plain longs that Spark shuffles with Kryo,
    * sorted by bucket, and each bucket run is split by band in the task.
    * It generates no classes, and the run sort spills as any shuffle
    * sort does. Only the cross-bucket distinct is a DataFrame aggregate.
    */
  private[ops] def emitCapped(rows: DataFrame, cap: Int,
                              acc: Option[LongAccumulator]): DataFrame = {
    require(cap > 1, s"cap must be > 1, got $cap")
    val spark = rows.sparkSession
    val dropped = acc.getOrElse(
      spark.sparkContext.longAccumulator("lsh_capped_dropped_rows"))
    val byBucket = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val pairs = rows.queryExecution.toRdd
      .map { r =>
        (r.getLong(1),
         Array((r.getInt(0).toLong << 1) | (if (r.getBoolean(4)) 1L else 0L),
               r.getLong(2), r.getLong(3)))
      }
      .repartitionAndSortWithinPartitions(byBucket)
      .mapPartitions(bucketPairs(_, cap, dropped))
      .map { case (a, b) => Row(a, b) }
    spark.createDataFrame(pairs, PairSchema).dropDuplicates("id_a", "id_b")
  }

  /** The pairs of a bucket-sorted member stream: one bucket run at a
    * time, split by band, each (band, bucket) group capped on its own to
    * its `cap` smallest ids by a [[BestK]] on id alone (tag and new flag
    * ride along); every member a group sheds counts in `dropped`.
    */
  private def bucketPairs(rows: Iterator[(Long, Array[Long])], cap: Int,
                          dropped: LongAccumulator): Iterator[(Long, Long)] = {
    val in = rows.buffered
    new Iterator[Iterator[(Long, Long)]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[(Long, Long)] = {
        val bucket = in.head._1
        val bands = mutable.LongMap.empty[BestK[Member]]
        while (in.hasNext && in.head._1 == bucket) {
          val m = in.next()._2
          bands.getOrElseUpdate(m(0) >>> 1, new BestK(cap, ById))
            .add(Member(m(1), m(2), (m(0) & 1L) == 1L))
        }
        bands.valuesIterator.flatMap { group =>
          dropped.add(group.dropped)
          keptPairs(group.result)
        }
      }
    }.flatten
  }

  /** Pairs (id_a < id_b) of a group's kept members, ascending by id, with
    * equal tags (0 == 0 untagged) and at least one new member.
    */
  private def keptPairs(ids: collection.Seq[Member]): Iterator[(Long, Long)] =
    ids.indices.iterator.flatMap { i =>
      (i + 1 until ids.length).iterator
        .filter(j => (ids(i).isNew || ids(j).isNew) && ids(i).tag == ids(j).tag)
        .map(j => (ids(i).id, ids(j).id))
    }

  /** Join `pairs` (id_a, id_b) back onto `lookup` (id, payload), adding
    * columns payload_a and payload_b; `side` wraps each lookup side (a
    * broadcast hint). The unpruned shape — see the object doc for when
    * it applies.
    */
  private[ops] def joinPayloads(pairs: DataFrame, lookup: DataFrame,
                                side: DataFrame => DataFrame = identity): DataFrame =
    pairs
      .join(side(lookup.toDF("id_a", "payload_a")), "id_a")
      .join(side(lookup.toDF("id_b", "payload_b")), "id_b")

  /** `pairs` pinned by an eager local checkpoint, and its row count —
    * counted by an Observation inside the pinning job, so the count
    * costs no execution of its own.
    */
  private[ops] def pinCounted(pairs: DataFrame): (Pinned, Long) = {
    val counted = Observation()
    val pin = Pinned(pairs.observe(counted, count(lit(1)).as("n")))
    (pin, counted.get("n").asInstanceOf[Long])
  }

  /** The pruned verify join: [[joinPayloads]] of the `candidates` pair
    * set against `payload` evaluated over `source` (which carries `id`
    * and whatever `payload` reads), with
    *   - the candidates pinned once (pair generation must not re-execute
    *     per consumer) and counted by the pinning job ([[pinCounted]]);
    *   - the lookup PRUNED by a semi join to ids that appear in a
    *     surviving pair, BEFORE `payload` is evaluated — fat payloads of
    *     unpaired rows are dropped right after the scan instead of being
    *     computed or riding the verify join's exchange. The semi join's
    *     build side is the exploded pair ids as they are, no
    *     `distinct()`: duplicates only repeat a hash key;
    *   - the pruned lookup evaluated once for both join sides
    *     ([[verifyJoin]]);
    *   - the pair ids (semi join) and the pair set (verify joins)
    *     broadcast only when their measured size fits the session
    *     threshold, the lookup only when the planner's estimate does.
    *     The caps bound the pair set to O(caps × touched buckets), but
    *     that product is config-dependent — a guard on the measured
    *     count beats trusting the bound.
    *
    * The pins stay until the result's last reader is gone; callers that
    * know when that is use [[verifyJoin]] and release them.
    */
  private[graft] def joinPayloadsPruned(candidates: DataFrame, source: DataFrame,
                                        payload: Column): DataFrame = {
    val (pairs, nPairs) = pinCounted(candidates)
    verifyJoin(pairs.df, nPairs, source, payload)._1
  }

  /** The verify join of [[joinPayloadsPruned]] over an already pinned
    * `pairs` set of `nPairs` rows. The pruned lookup is evaluated once:
    * it is pinned (returned for the caller to release) and both join
    * sides read the pin. When the planner's estimate of the lookup fits
    * the broadcast threshold — the estimate by which it broadcast the
    * lookup for one join side before, an upper bound on its rows, since
    * a semi join keeps at most its left side — one broadcast of the pin
    * serves both sides and the pairs stream past it; else the pair set
    * is broadcast if it fits.
    */
  private[ops] def verifyJoin(pairs: DataFrame, nPairs: Long, source: DataFrame,
                              payload: Column): (DataFrame, Pinned) = {
    val pairIds = broadcastIfFits(
      pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")),
      2L * nPairs, 24L)
    val lookup = source.join(pairIds, Seq("id"), "left_semi").select(col("id"), payload)
    val bcLimit = broadcastLimit(pairs)
    val lookupFits = bcLimit > 0 && lookup.queryExecution.optimizedPlan.stats.sizeInBytes <= bcLimit
    val pinned = Pinned(lookup)
    val joined =
      if (lookupFits) joinPayloads(pairs, pinned.df, broadcast)
      // 48 bytes: two longs + unsafe-row overhead, rounded up
      else joinPayloads(broadcastIfFits(pairs, nPairs, 48L), pinned.df)
    (joined, pinned)
  }
}
