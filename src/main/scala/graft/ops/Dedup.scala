package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.synthweb.SyntheticWeb.mix64

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash and exact n-gram Jaccard. All are expressed as declarative
  * DataFrame plans so Catalyst handles pushdown/pruning; the only
  * shuffles are the ones the algorithms fundamentally need (group by
  * content key / band bucket / gram).
  *
  * Scale notes:
  *   - exact dedup shuffles once on a 32-byte content key (map-side
  *     partial aggregation applies);
  *   - MinHash/SimHash signatures are computed row-local (no shuffle),
  *     and candidate generation shuffles only (band, bucket) pairs —
  *     the classic LSH trade: O(rows × bands) small rows instead of
  *     O(rows²) comparisons;
  *   - pair verification joins only within buckets; a final exact
  *     Jaccard check removes LSH false positives.
  */
object Dedup {

  /** Exact duplicate clusters by normalized content key.
    * Returns (content_key, n_dups, canonical_id = min id).
    */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextOps.content_key(col(textCol)).as("content_key"))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("canonical_id"))

  /** Rows surviving exact dedup (keep the min-id row per content key) —
    * the standard "keep one representative" pass.
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("content_key", TextOps.content_key(col(textCol)))
    val keep = keyed.groupBy(col("content_key"))
      .agg(min(col(idCol)).as(idCol + "_keep"))
    keyed.join(keep,
               keyed("content_key") === keep("content_key") &&
                 col(idCol) === col(idCol + "_keep"))
      .select(df.columns.map(keyed(_)): _*)
  }

  /** Word n-gram (shingle) array, distinct (first occurrence wins),
    * from a text column. Texts with fewer than n words yield an empty
    * array (matches the SQL-oracle formulation exactly). One-pass
    * codegen'd expression — the former transform/slice/array_join chain
    * evaluated as interpreted higher-order functions and was the dedup
    * family's dominant CPU cost at corpus scale.
    */
  def shingles(c: Column, n: Int): Column =
    HashOps.shingles_col(TextOps.words(c), n)

  /** MinHash signature of a shingle array: numHashes seeded hash
    * functions computed in ONE pass by the codegen'd
    * [[graft.ops.MinHashExpression]]. Row-local (no shuffle).
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    HashOps.minhash_col(shingleArr, numHashes)

  /** MinHash+LSH near-duplicate candidate pairs with exact-Jaccard
    * verification. Bands of `rowsPerBand` signature slots are hashed to
    * buckets; pairs sharing any bucket are verified with exact Jaccard
    * over shingle sets and kept when >= threshold.
    *
    * Scale shape: the banded exchange carries (band, bucket, id) rows
    * ONLY — shingle arrays never replicate bands× through the shuffle;
    * they are joined back exactly once per surviving candidate pair.
    * Buckets are capped at `maxBucket` rows ([[LshPairs.cappedIdPairs]])
    * so a near-identical-heavy corpus cannot blow one task up
    * quadratically; drops are counted in a named accumulator.
    *
    * At threshold 1.0 the shingle computation executes once over the
    * corpus (banding) plus twice over the PAIR-SURVIVING ids only: the
    * verification lookup is pruned by a semi join against the
    * materialized pair set's ids before shingling
    * ([[LshPairs.joinPayloadsPruned]]), so the join-back branches
    * recompute (and potentially shuffle) shingles for O(pairs) rows, not
    * O(corpus). Below 1.0 every row is shingled for an unpruned join:
    * that mode expects a bounded input (the contract is in [[LshPairs]]).
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 32,
                      rowsPerBand: Int = 4, threshold: Double = 0.8,
                      maxBucket: Int = 1024,
                      acc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    // exact-dup mode (threshold >= 1.0, the at-scale/pipeline setting):
    // signature EQUALITY is a lossless prefilter — equal shingle sets
    // imply equal minhash signatures, so a candidate pair with ANY
    // differing signature slot cannot reach jaccard 1.0. The prefilter
    // rides INSIDE pair generation as a per-row tag (a hash of the full
    // signature, compared within buckets by cappedIdPairs): a near-dup-
    // heavy corpus generates O(family²) candidates, and suppressing the
    // non-identical ones at emission keeps the pair set, its
    // dropDuplicates exchange and the shingle verification at the
    // true-duplicate scale. Tag hash collisions only admit extra
    // candidates, which the exact verification below removes.
    //
    // Signatures come from the FUSED words->gram-hash MinHash kernel
    // (HashOps.minhashText): the banding path only ever hashes the
    // shingle strings, so the word array and every gram string are
    // never materialized here — bit-identical signatures (FNV is
    // byte-sequential; a per-slot min is duplicate-insensitive), with
    // the < shingleN-words rows dropped by the same null the composed
    // form's size(sh) > 0 filter encoded. Shingle ARRAYS are still
    // computed below for verification — in exactOnly mode only for the
    // pair-surviving sliver.
    val exactOnly = threshold >= 1.0
    val banded = df
      .select(col(idCol).cast("long").as("id"),
              HashOps.minhash_text_col(col(textCol), shingleN, numHashes)
                .as("sig"))
      .filter(col("sig").isNotNull)
      .select(
        col("id") +: (if (exactOnly) Seq(xxhash64(col("sig")).as("tag")) else Nil) :+
        // codegen'd one-pass banding (HashOps.bandBuckets) — buckets are
        // bit-identical to the former transform/slice/xxhash64 chain,
        // which evaluated as interpreted higher-order functions
        posexplode(HashOps.band_buckets_col(col("sig"), rowsPerBand))
          .as(Seq("band", "bucket")): _*)

    // Verification shape splits on the mode (see LshPairs): exactOnly
    // is the at-scale/pipeline setting and takes the pruned join — the
    // shingle arrays are computed only for the pair-surviving sliver of
    // the corpus; below 1.0 no tag prefilter exists and the one-action
    // unpruned join is the measured shape for the bounded inputs this
    // mode expects.
    val candidates = LshPairs.cappedIdPairs(banded, maxBucket, acc,
                                            matchTag = exactOnly)
    jaccardAbove(
      if (exactOnly)
        LshPairs.joinPayloadsPruned(
          candidates,
          df.select(col(idCol).cast("long").as("id"),
                    col(textCol).as("__mnd_text")),
          shingles(col("__mnd_text"), shingleN).as("sh"))
      else
        LshPairs.joinPayloads(
          candidates,
          df.select(col(idCol).cast("long").as("id"),
                    shingles(col(textCol), shingleN).as("sh"))
            .filter(size(col("sh")) > 0)),
      threshold)
  }

  /** (id_a, id_b, jaccard) of verify-joined shingle pairs
    * (payload_a, payload_b) whose exact Jaccard reaches `threshold` —
    * the one verification of [[minhashNearDups]] and
    * [[IncrementalLsh.roundPairs]]. The threshold applies to the
    * unrounded value; rounding is output-only.
    */
  private[ops] def jaccardAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("inter", size(array_intersect(col("payload_a"), col("payload_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("payload_a"), col("payload_b"))).cast("double"))
      .withColumn("jaccard_raw", col("inter") / greatest(col("uni"), lit(1.0)))
      .filter(col("jaccard_raw") >= threshold)
      .withColumn("jaccard", round(col("jaccard_raw"), 4))
      .select("id_a", "id_b", "jaccard")

  /** 64-bit SimHash over word tokens, computed in one pass by the
    * codegen'd [[graft.ops.SimHash64Expression]]. Row-local.
    */
  def simhash64(c: Column): Column = HashOps.simhash_col(TextOps.words(c))

  /** SimHash near-dup pairs: bucket by 4 x 16-bit bands (a pair within
    * hamming distance <=3 of each other shares at least one exact band —
    * pigeonhole), verify by popcount(xor) <= maxHamming. Buckets capped
    * like [[minhashNearDups]]; signatures joined back per pair.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
                         simhash64(col(textCol)).as("sim"))
    val banded = base.select(
      col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bucket")))
    LshPairs.joinPayloads(LshPairs.cappedIdPairs(banded, maxBucket), base)
      .withColumn("hamming", bit_count(col("payload_a").bitwiseXOR(col("payload_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * gram — fully SQL-expressible (the DuckDB oracle runs the same
    * algebra). Intended for bounded subsets; the LSH variants are the
    * scale path.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val grams = df.select(col(idCol).cast("long").as("id"),
                          explode(shingles(col(textCol), n)).as("gram"))
    val sizes = grams.groupBy("id").agg(countDistinct("gram").as("n_grams"))
    val a = grams.select(col("id").as("id_a"), col("gram"))
    val b = grams.select(col("id").as("id_b"), col("gram"))
    val inter = a.join(b, "gram").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
      .withColumn("jaccard_raw",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard_raw") >= threshold) // matches the SQL oracle:
      // threshold applies to the unrounded value, rounding is output-only
      .withColumn("jaccard", round(col("jaccard_raw"), 4))
      .select("id_a", "id_b", "jaccard")
  }
}
