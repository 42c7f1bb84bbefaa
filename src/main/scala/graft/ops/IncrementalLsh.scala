package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** Incremental near-duplicate maintenance: check each crawl round's NEW
  * documents against a persisted LSH index instead of re-running dedup
  * over the whole corpus.
  *
  * Why it exists at 100 TB: a training-data pipeline ingests documents
  * in rounds (this engine's crawl commits docs per scheduling round —
  * reference behavior it scales: recursive discovery keeps appending,
  * indeed/main.go:66-70). Batch [[Dedup.minhashNearDups]] is
  * O(|corpus|) per run, so re-running it per round makes cumulative
  * dedup cost quadratic in rounds. This operator makes the per-round
  * cost O(|new| + |touched buckets|):
  *
  *   - the index is two append-only parquet tables under `indexDir`:
  *     `bands` (band, bucket, id, tag — the skinny LSH postings; `tag`
  *     is the xxhash64 of the row's full minhash signature, feeding the
  *     exact-dup prefilter at pair emission) and
  *     `shingles` (id, sh — the verification payloads), one `r<k>`
  *     subdirectory per ingest round (same LSM cadence as the crawl's
  *     seen state). Reads take only rounds present in BOTH tables and
  *     a round's writes go to its own slot with overwrite semantics,
  *     so an append that dies between the two writes is invisible to
  *     readers and simply redone — never served half, never duplicated;
  *   - a round computes signatures for NEW docs only (row-local,
  *     codegen'd one-pass [[MinHashExpression]]);
  *   - candidate generation joins the new bands against the index on
  *     (band, bucket) — Catalyst plans a shuffle of the NEW side and
  *     the matching index partitions only; buckets the new docs never
  *     touch are pruned by the join, not scanned quadratically;
  *   - within a touched bucket, pairs must include >= 1 new id (an
  *     old-old pair was already emitted in the earlier doc-arrival
  *     round), so each unordered pair is emitted exactly once across
  *     all rounds: in the arrival round of its LATER member;
  *   - buckets are capped like [[LshPairs.cappedIdPairs]] (cap smallest
  *     ids, counted drops — never silent).
  *
  * Exactness contract (pinned in OpsSpecs and oracled as q62): with
  * caps not engaged, the UNION of per-round incremental outputs equals
  * the batch [[Dedup.minhashNearDups]] output on the final corpus —
  * band hashing does not depend on arrival round, so bucket membership
  * at the end of round r is exactly the batch membership restricted to
  * docs seen so far. Under engaged caps the incremental union is a
  * superset of the batch output (early rounds cap over fewer members),
  * which is the desirable direction for dedup recall.
  */
object IncrementalLsh {

  /** Skinny LSH posting rows (band, bucket, id) of a corpus slice —
    * identical banding to [[Dedup.minhashNearDups]], so incremental and
    * batch bucket membership agree by construction.
    */
  def bands(df: DataFrame, idCol: String, textCol: String,
            shingleN: Int = 3, numHashes: Int = 32,
            rowsPerBand: Int = 4): DataFrame =
    bandsFromShingled(
      df.select(col(idCol).cast("long").as("id"),
                Dedup.shingles(col(textCol), shingleN).as("sh"))
        .filter(size(col("sh")) > 0),
      numHashes, rowsPerBand)

  /** [[bands]] over an already-shingled (id, sh) frame — lets
    * roundPairs derive postings from its PERSISTED shingle slice
    * instead of re-evaluating the caller's source plan a second time.
    *
    * Each posting also carries `tag` = xxhash64 of the FULL minhash
    * signature — the same per-row tag [[Dedup.minhashNearDups]] feeds
    * its exact-dup prefilter. Storing it with the posting costs 8
    * bytes/row and lets threshold-1.0 incremental rounds suppress
    * sig-unequal candidates AT EMISSION, instead of re-reading the fat
    * shingle store to recompute every signature for a post-hoc filter.
    */
  def bandsFromShingled(shingled: DataFrame, numHashes: Int,
                        rowsPerBand: Int): DataFrame =
    shingled
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        xxhash64(col("sig")).as("tag"),
        // codegen'd one-pass banding — bit-identical buckets to the
        // former transform/slice/xxhash64 chain (see HashOps.bandBuckets)
        posexplode(HashOps.band_buckets_col(col("sig"), rowsPerBand))
          .as(Seq("band", "bucket")))

  /** Distinct capped candidate pairs (id_a < id_b) touching >= 1 new
    * row. `oldBands`/`newBands` carry (band, bucket, id); ids must be
    * disjoint between the two (arrival rounds partition the corpus).
    *
    * Same emitter as [[LshPairs.cappedIdPairs]] (cap smallest ids per
    * bucket, deterministic, O(cap) task memory, counted drops) but
    * suppresses old-old pairs — they were emitted in an earlier round.
    *
    * `matchTag`: when true, both inputs must carry a long `tag` column
    * and a pair is emitted only when the tags are EQUAL — the
    * in-generation exact-dup signature prefilter (cf.
    * [[LshPairs.cappedIdPairs]]). Tag collisions only ADD candidates;
    * the caller's exact verification removes them. Cap semantics are
    * untouched.
    */
  def cappedNewPairs(oldBands: DataFrame, newBands: DataFrame, cap: Int,
                     acc: Option[LongAccumulator] = None,
                     matchTag: Boolean = false): DataFrame = {
    // buckets untouched by new rows contribute nothing: semi-join the
    // old postings down to touched buckets BEFORE grouping, so the
    // grouped exchange carries O(|new| + |old in touched buckets|)
    // rows, never the whole index. The build side is the new postings'
    // (band, bucket) as they are: a left-semi build side needs no
    // distinct, and the planner sizes it from the new postings' stats
    val touched = newBands.select(col("band").as("t_band"), col("bucket").as("t_bucket"))
    val oldTouched = oldBands.join(
      touched, col("band") === col("t_band") && col("bucket") === col("t_bucket"),
      "left_semi")
    LshPairs.emitCapped(
      LshPairs.members(newBands, matchTag, isNew = true)
        .unionByName(LshPairs.members(oldTouched, matchTag, isNew = false)),
      cap, acc)
  }

  /** The index: postings (band, bucket, id, tag) + shingles (id, sh). */
  private[graft] def index(indexDir: String) = new RoundSlots.BandIndex(
    indexDir, StructType.fromDDL("band INT, bucket BIGINT, id BIGINT, tag BIGINT"),
    "shingles", StructType.fromDDL("id BIGINT, sh ARRAY<STRING>"))

  /** Fold all complete rounds into a fresh single-slot generation
    * (crash-safe: committed by marker, old generation serves until
    * then) and drop superseded generations. Call on the same cadence
    * as the crawl's seen-index segment merge.
    */
  def compact(spark: SparkSession, indexDir: String): Boolean =
    index(indexDir).compact(spark)

  /** One maintenance round: verified near-dup pairs of `newDocs`
    * against the index (and among themselves), then the index is
    * appended with the new round's postings + shingles
    * ([[RoundSlots.BandIndex.round]], which also documents `slot`).
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b — the same output
    * contract as [[Dedup.minhashNearDups]]. Verification is exact
    * Jaccard over shingle sets, joined back once per surviving pair
    * from the shingle store (old side) / the new slice (new side) —
    * fat arrays never ride the banded exchange, matching the batch
    * operator's scale shape.
    *
    * Exact-dup mode (threshold >= 1.0): signature equality is a
    * lossless prefilter — equal shingle sets imply equal minhash
    * signatures, so a candidate with ANY differing slot cannot reach
    * jaccard 1.0 (same reasoning as [[Dedup.minhashNearDups]]). The
    * signature tag is STORED with each posting ([[bandsFromShingled]]),
    * so the filter rides inside pair generation — no re-read of the fat
    * shingle store, no post-hoc signature join, no second checkpoint.
    * Tag hash collisions only admit extra candidates, removed by the
    * exact verification.
    */
  def roundPairs(spark: SparkSession, indexDir: String, newDocs: DataFrame,
                 idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32,
                 rowsPerBand: Int = 4, threshold: Double = 0.8,
                 maxBucket: Int = 1024,
                 acc: Option[LongAccumulator] = None,
                 compactEvery: Int = 0,
                 slot: Option[Int] = None): DataFrame =
    index(indexDir).round(
      newDocs
        .select(col(idCol).cast("long").as("id"),
                Dedup.shingles(col(textCol), shingleN).as("sh"))
        .filter(size(col("sh")) > 0),
      bandsFromShingled(_, numHashes, rowsPerBand),
      maxBucket, acc, matchTag = threshold >= 1.0, slot, compactEvery)(
      Dedup.jaccardAbove(_, threshold))
}
