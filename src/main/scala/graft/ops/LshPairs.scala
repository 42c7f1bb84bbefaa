package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

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
  * bounds every bucket to its `cap` smallest ids — deterministic, O(cap)
  * task memory, O(cap²) task output — and counts the rows it drops in a
  * named `LongAccumulator` (visible in the Spark UI and to callers), so
  * truncation is never silent — standard accumulator semantics apply:
  * task retries and repeated actions over an un-cached result re-add
  * their counts, so read it as a saw-truncation indicator and upper
  * bound, not an exact tally. A row dropped from one oversized bucket
  * can still pair through its other bands/tables, so recall degrades
  * gracefully instead of the job dying.
  *
  * The banded input carries (band, bucket, id) ONLY: fat payloads
  * (shingle arrays, embeddings) are joined back per surviving candidate
  * pair — never replicated bands× through the grouped exchange.
  *
  * Verify join. Two shapes, chosen by the caller:
  *   - [[joinPayloadsPruned]], the at-scale shape (MinHash at threshold
  *     1.0, cosine, both incremental rounds): the pair set is pinned and
  *     counted, the payload lookup is pruned to pair ids, and both sides
  *     carry a measured-size broadcast guard;
  *   - [[joinPayloads]], the bounded-subset shape (SimHash, MinHash
  *     below 1.0): one plain join of the unpinned pairs against the
  *     whole lookup. Below threshold 1.0 MinHash has no signature-tag
  *     prefilter, so its candidate set is O(bucket overlap) of the
  *     input, and pinning + counting it costs more than computing the
  *     payload for every row once — these paths expect a bounded input
  *     (a similarity search over a subset, not a corpus-scale dedup);
  *     run a corpus through threshold 1.0 or the incremental indexes.
  */
object LshPairs {

  /** Broadcast `df` only when `rows * bytesPerRow` fits the session's
    * autoBroadcastJoinThreshold, else return it unhinted — the
    * measured-count guard of every pair/id side whose real size is
    * known from a materialized count. A checkpointed frame has no
    * catalyst size estimate, so without the hint the planner assumes it
    * is huge and shuffles the (possibly fat) other side.
    */
  private def broadcastIfFits(df: DataFrame, rows: Long,
                              bytesPerRow: Long): DataFrame = {
    val bcLimit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
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
                    matchTag: Boolean = false): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    emitCapped(
      banded
        .select(col("band").cast("int"), col("bucket").cast("long"),
                col("id").cast("long"), tagOrZero(matchTag))
        .as[(Int, Long, Long, Long)],
      cap, acc)(t => (t._1, t._2), t => Member(t._3, t._4, isNew = true))
  }

  /** The `tag` column cast to long, or a constant 0 when tags are not
    * matched — every member then compares equal.
    */
  private[ops] def tagOrZero(matchTag: Boolean): Column =
    (if (matchTag) col("tag").cast("long") else lit(0L)).as("tag")

  /** One bucket member as the emitter sees it. */
  private[ops] final case class Member(id: Long, tag: Long, isNew: Boolean)

  /** The one capped-bucket emitter, behind [[cappedIdPairs]] and
    * [[IncrementalLsh.cappedNewPairs]]. Groups `rows` by `key` (band,
    * bucket), keeps each bucket's `cap` smallest ids and emits every
    * kept pair whose members have equal tags and at least one of which
    * is new. `member` maps a row to its [[Member]] inside the task, so
    * the grouped exchange carries each caller's own row type: the batch
    * row has no new flag to widen it.
    */
  private[ops] def emitCapped[T](rows: Dataset[T], cap: Int,
                                 acc: Option[LongAccumulator])(
      key: T => (Int, Long), member: T => Member): DataFrame = {
    require(cap > 1, s"cap must be > 1, got $cap")
    val spark = rows.sparkSession
    import spark.implicits._
    val dropped = acc.getOrElse(
      spark.sparkContext.longAccumulator("lsh_capped_dropped_rows"))
    rows
      .groupByKey(key)
      .flatMapGroups { (_: (Int, Long), it: Iterator[T]) =>
        // the common bucket is tiny (a handful of ids): collect into a
        // flat buffer and only heapify ON overflow — allocating a
        // PriorityQueue for each of the ~|banded| groups was measurably
        // the hot spot. The overflow path is the same bounded max-heap
        // keeping the cap smallest ids (ordering on id alone, tag and
        // new flag ride along), deterministic regardless of shuffle
        // arrival order.
        implicit val ord: Ordering[Member] = Ordering.by(_.id)
        val buf = new mutable.ArrayBuffer[Member](4)
        var heap: mutable.PriorityQueue[Member] = null
        it.foreach { t =>
          val e = member(t)
          if (heap == null) {
            buf += e
            if (buf.length > cap) {
              heap = mutable.PriorityQueue.empty[Member]
              heap ++= buf
              heap.dequeue() // shed the max back down to cap
              dropped.add(1L)
            }
          } else if (e.id < heap.head.id) {
            heap.dequeue(); heap.enqueue(e); dropped.add(1L)
          } else dropped.add(1L)
        }
        val ids: scala.collection.Seq[Member] =
          if (heap == null) {
            val a = buf.toArray; java.util.Arrays.sort(a, ord); a // ascending
          } else heap.dequeueAll.reverse // ascending
        ids.indices.iterator.flatMap { i =>
          (i + 1 until ids.length).iterator
            .filter(j => (ids(i).isNew || ids(j).isNew) &&
              ids(i).tag == ids(j).tag) // tags equal (0 == 0 untagged)
            .map(j => (ids(i).id, ids(j).id))
        }
      }
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Join `pairs` (id_a, id_b) back onto `lookup` (id, payload), adding
    * columns payload_a and payload_b. The unpruned shape — see the
    * object doc for when it applies.
    */
  private[ops] def joinPayloads(pairs: DataFrame, lookup: DataFrame): DataFrame =
    pairs
      .join(lookup.toDF("id_a", "payload_a"), "id_a")
      .join(lookup.toDF("id_b", "payload_b"), "id_b")

  /** The pruned verify join: [[joinPayloads]] of the `candidates` pair
    * set against `payload` evaluated over `source` (which carries `id`
    * and whatever `payload` reads), with
    *   - the candidates pinned once (`localCheckpoint`: pair generation
    *     must not re-execute per consumer) and COUNTED;
    *   - the lookup PRUNED by a semi join to ids that appear in a
    *     surviving pair, BEFORE `payload` is evaluated — fat payloads of
    *     unpaired rows are dropped right after the scan instead of being
    *     computed or riding the verify join's exchange;
    *   - both the id set (semi join) and the pair set (verify joins)
    *     broadcast only when their measured size fits the session
    *     threshold, so every source touch stays map-side when it can.
    *     The caps bound the pair set to O(caps × touched buckets), but
    *     that product is config-dependent — a guard on the measured
    *     count beats trusting the bound.
    */
  private[graft] def joinPayloadsPruned(candidates: DataFrame, source: DataFrame,
                                        payload: Column): DataFrame = {
    val pairs = candidates.localCheckpoint()
    val nPairs = pairs.count()
    val pairIds = broadcastIfFits(
      pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct(),
      2L * nPairs, 24L)
    val lookup = source.join(pairIds, Seq("id"), "left_semi")
      .select(col("id"), payload)
    // 48 bytes: two longs + unsafe-row overhead, rounded up
    joinPayloads(broadcastIfFits(pairs, nPairs, 48L), lookup)
  }
}
