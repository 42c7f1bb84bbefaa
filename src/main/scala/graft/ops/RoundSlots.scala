package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.util.Pinned

/** Per-round slot commit protocol shared by the incremental index
  * maintainers ([[IncrementalLsh]], [[IncrementalAnn]]).
  *
  * An incremental index is a set of parallel append-only parquet tables
  * under one directory, each holding one `r<k>` subdirectory per ingest
  * round. A round is COMMITTED only when every table's slot carries the
  * `_SUCCESS` marker the Hadoop commit protocol writes after all task
  * files are finalized — bare directory existence is not commit
  * evidence (a crash DURING a write leaves the subdir present but
  * partial, e.g. only `_temporary`). Readers take only rounds committed
  * in ALL tables; a retried append lands in the first uncommitted slot
  * with overwrite semantics, so a death between or during the writes is
  * invisible: never served half, never duplicated.
  *
  * A second, coarser layer bounds the SLOT count: tables live inside a
  * generation directory `g<j>`, and [[compactTables]] folds all
  * complete rounds into `g<j+1>/…/r0` (marker-committed, old
  * generation serves until the marker lands) — the same LSM fold the
  * crawl's seen state performs, without which a per-ingest-round index
  * accumulates parquet directories forever.
  */
private[graft] object RoundSlots {

  /** Committed round indices under `dir` (slots `r0`, `r1`, ...,
    * `_SUCCESS`-gated). A name must be `r` + at least one digit — a
    * bare "r" is junk, not a slot. Delegates to [[committedIdxs]] —
    * the ONE marker-gated scan — so a fix there reaches this listing
    * too (this was a byte-identical copy before).
    */
  def roundIdxs(dir: String): Set[Int] =
    committedIdxs(dir, "r", "_SUCCESS").toSet

  /** Rounds committed in EVERY one of `dirs`, ascending. */
  def completeRounds(dirs: Seq[String]): Seq[Int] =
    dirs.map(roundIdxs).reduceLeft(_ intersect _).toSeq.sorted

  // ------------------------------------------------------------------
  // generations: the compaction layer over round slots
  // ------------------------------------------------------------------
  //
  // Without compaction an incremental index accumulates one r<k> slot
  // per ingest round FOREVER — at 100 TB cadence that is thousands of
  // parquet directories whose listing/footer overhead grows per round
  // (the data volume is the same; the file count is not). The fix
  // mirrors the crawl's seen-index segment merge and IvfIndex's epochs: all
  // complete rounds fold into slot r0 of a NEW generation directory
  // `g<j+1>`, committed by a marker file written LAST — readers resolve
  // the highest committed generation per call, so the switch is atomic
  // and a compaction that dies mid-write leaves the old generation
  // fully serving (the dangling g<j+1> is overwritten on retry).
  private val CommitMarker = "_COMMITTED"

  /** Committed indices of `prefix`-numbered children of `dir` (dirs
    * `<prefix>0`, `<prefix>1`, ...), gated on `marker` — a path
    * RELATIVE to each child whose existence is the commit evidence.
    * One implementation of the marker-gated listing shared by the
    * generation layer (`g<j>` / `_COMMITTED`) and IvfIndex's epochs
    * (`e<j>` / `centroids/_SUCCESS`), so a fix to either scan cannot
    * silently miss the other.
    */
  def committedIdxs(dir: String, prefix: String, marker: String): Seq[Int] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val s = java.nio.file.Files.list(p)
      try s.forEach { c =>
        val n = c.getFileName.toString
        if (n.startsWith(prefix) && n.length > prefix.length
            && n.drop(prefix.length).forall(_.isDigit)
            && java.nio.file.Files.exists(c.resolve(marker)))
          out += n.drop(prefix.length).toInt
      } finally s.close()
      out.toSeq.sorted
    }
  }

  /** Delete `prefix`-numbered children of `dir` with index below
    * `keepFrom`, committed or not (a superseded or dangling write).
    * The shared reverse-walk delete of the GC paths.
    */
  def gcBelow(dir: String, prefix: String, keepFrom: Int): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return
    val olds = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    val ls = java.nio.file.Files.list(p)
    try ls.forEach { c =>
      val n = c.getFileName.toString
      if (n.startsWith(prefix) && n.length > prefix.length
          && n.drop(prefix.length).forall(_.isDigit)
          && n.drop(prefix.length).toInt < keepFrom)
        olds += c
    } finally ls.close()
    olds.foreach { root =>
      val s = java.nio.file.Files.walk(root)
      try {
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
      } finally s.close()
    }
  }

  /** Committed generation indices under `indexDir` (dirs `g0`, `g1`,
    * ..., gated on the marker file written after every table fold).
    */
  def genIdxs(indexDir: String): Seq[Int] =
    committedIdxs(indexDir, "g", CommitMarker)

  /** Active (highest committed) generation, or 0 when the index is
    * empty/fresh — generation 0 needs no marker: an empty index serves
    * empty reads, and its first round append makes it real.
    */
  def activeGen(indexDir: String): Int = genIdxs(indexDir).lastOption.getOrElse(0)

  def genDir(indexDir: String, j: Int): String = s"$indexDir/g$j"

  /** Commit generation `j`: marker written LAST, atomically via create
    * (all table folds must already be on disk with their `_SUCCESS`).
    */
  def commitGen(indexDir: String, j: Int): Unit = {
    val d = java.nio.file.Paths.get(genDir(indexDir, j))
    java.nio.file.Files.createDirectories(d)
    try java.nio.file.Files.createFile(d.resolve(CommitMarker))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Fold every complete round of the active generation's `tables`
    * (name, schema) into slot r0 of generation j+1 and commit it (marker
    * last). No-op below 2 complete rounds. Returns whether a fold
    * happened. The fold is the LSM move: data volume unchanged,
    * slot/file count reset to 1 — without it a per-ingest-round index
    * accumulates directories forever and pays growing listing/footer
    * overhead per read. Rounds are read with their table's schema (see
    * [[readSlots]]), so a fold never relies on footer inference.
    */
  def compactTables(spark: SparkSession, indexDir: String,
                    tables: Seq[(String, StructType)]): Boolean = {
    val j = activeGen(indexDir)
    val rounds = completeRounds(tables.map(t => s"${genDir(indexDir, j)}/${t._1}"))
    if (rounds.size <= 1) false
    else {
      tables.foreach { case (t, schema) =>
        readSlots(spark, s"${genDir(indexDir, j)}/$t", rounds, schema)
          .write.mode("overwrite")
          .parquet(s"${genDir(indexDir, j + 1)}/$t/r0")
      }
      commitGen(indexDir, j + 1)
      true
    }
  }

  /** Slots `rounds` of the table at `dir`, read with its `schema`.
    *
    * The schema is given, never inferred: a committed slot whose round
    * held zero rows (e.g. a micro-batch where every doc fell below
    * shingleN words) has a `_SUCCESS` marker and no part files, and
    * schema INFERENCE over such slots throws — wedging the index and,
    * through the streaming sinks, replaying the same batch forever. An
    * empty round is valid state.
    *
    * The schema is also the table's format version: a slot whose files
    * lack one of its columns (bands from before the signature `tag`) or
    * hold one with another type (an `id` written as INT) was written by
    * an older format, and reading it would serve nulls or fail deep
    * inside a task — it fails here instead, naming the slot.
    */
  def readSlots(spark: SparkSession, dir: String, rounds: Seq[Int],
                schema: StructType): DataFrame =
    if (rounds.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val conf = spark.sessionState.newHadoopConf()
      rounds.foreach(k => checkFormat(spark, s"$dir/r$k", schema, conf))
      spark.read.schema(schema).parquet(rounds.map(k => s"$dir/r$k"): _*)
    }

  /** Fail unless the first part file of `slot` (one write job wrote
    * them all) carries every column of `schema`, each with its declared
    * type (nullability aside). Reads one footer on the driver; an empty
    * slot has no part file and nothing to check.
    */
  private def checkFormat(spark: SparkSession, slot: String, schema: StructType,
                          conf: org.apache.hadoop.conf.Configuration): Unit = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(slot))
    val part = try ls.filter(_.getFileName.toString.endsWith(".parquet"))
                      .findFirst()
               finally ls.close()
    if (part.isPresent) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.get.toUri), conf))
      val written = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
                          .convert(reader.getFooter.getFileMetaData.getSchema)
                    finally reader.close()
      val types = written.fields.map(f => f.name -> f.dataType.catalogString).toMap
      val wrong = schema.fields.flatMap { f =>
        types.get(f.name) match {
          case None => Some(s"no ${f.name} column")
          case Some(t) if t != f.dataType.catalogString =>
            Some(s"column ${f.name} is $t, not ${f.dataType.catalogString}")
          case _ => None
        }
      }
      if (wrong.nonEmpty)
        throw new IllegalStateException(
          s"index slot $slot was written by an older index format " +
            s"(${wrong.mkString(", ")}): rebuild the index")
    }
  }

  /** Delete generations below the active one (safe once no reader holds
    * an open scan over them — callers schedule this between rounds).
    * Deletes ANY g<i> below the active, committed or not — generation 0
    * never carries a marker (activeGen defaults to it), and an
    * uncommitted g<i> below the active is a dead dangling write.
    */
  def gcOldGenerations(indexDir: String): Unit =
    gcBelow(indexDir, "g", activeGen(indexDir))

  /** The round-slotted (bands, payload) index behind both incremental
    * near-dup operators ([[IncrementalLsh]]: bands + `shingles`,
    * [[IncrementalAnn]]: bands + `vecs`). Two tables in the active
    * generation, `bands` (the skinny LSH postings) and `payload` (id and
    * the verification payload, its schema's second column), each read
    * with its declared schema ([[readSlots]]). A round is committed in
    * BOTH tables or it is not served: one whose append died between or
    * during the two writes leaves a dangling/partial slot that is
    * ignored on read and overwritten on retry — the index never serves
    * bands whose payloads are missing or truncated, and a retried round
    * lands in the same slot, so it cannot duplicate ids across "old"
    * rounds (which would break [[IncrementalLsh.cappedNewPairs]]'
    * disjoint-ids precondition and admit self-pairs).
    */
  final class BandIndex(indexDir: String, bandsSchema: StructType,
                        payload: String, payloadSchema: StructType) {
    private val tables = Seq("bands" -> bandsSchema, payload -> payloadSchema)

    /** One maintenance round: capped candidate pairs of the round's new
      * rows against the index (and among themselves), joined back to
      * their payloads and kept by `verify`, then the round is appended.
      *
      * `newPayload` carries the payload schema's columns; `banding`
      * derives the round's postings from it. The slice is persisted for
      * the round (banding, the payload lookup and the append read it),
      * so postings derived from it cannot disagree with the appended
      * payloads if the source is nondeterministic. `verify` gets (id_a,
      * id_b, payload_a, payload_b) and must return the round's output.
      * Candidate and lookup follow [[LshPairs.joinPayloadsPruned]], so
      * payloads never ride the banded exchange and untouched index
      * payloads are dropped right after the scan.
      *
      * Order of work. The round's bands slot is written FIRST and read
      * back for pair generation: written postings need no cache, and
      * the planner sizes the touched-bucket semi join from the slot's
      * real files. The bands slot alone does not commit the round —
      * readers take a round only when its payload slot is committed too
      * — so the payload slot is written LAST, after the result is pinned
      * (pairs are computed against the PRE-append index: a round that
      * dies before its payload write is invisible and redone in the same
      * slot). A steady round runs 10 Spark jobs: the bands write, the
      * touched-bucket broadcast, the pair pin (the distinct's shuffle and
      * the pin), the lookup pin (the pair-id broadcast and the pin), the
      * verify (the lookup broadcast and the result pin), the payload
      * write and the caller's read of the result.
      *
      * The result is materialized and is the only state the round leaves
      * pinned: the slice cache and the pair and lookup pins are released
      * when the round returns or throws.
      *
      * `slot`: pin this round's index slot (and the set of rounds read
      * as "old") to an EXTERNAL round number instead of deriving it from
      * the slot count. Required for at-least-once drivers (Structured
      * Streaming foreachBatch): a replayed batch k re-reads exactly
      * rounds 0..k-1 and overwrites slot k — bit-identical recompute,
      * never a duplicate append beside its own earlier attempt (which
      * would break the disjoint-ids precondition and admit self-pairs).
      * Requires rounds 0..k-1 all committed (streaming delivers batches
      * in order, so a gap means external corruption — fail loud) and is
      * incompatible with compactEvery (generation folds renumber slots).
      */
    def round(newPayload: DataFrame, banding: DataFrame => DataFrame,
              maxBucket: Int, acc: Option[LongAccumulator], matchTag: Boolean,
              slot: Option[Int], compactEvery: Int)(
        verify: DataFrame => DataFrame): DataFrame = {
      require(slot.isEmpty || compactEvery == 0,
              "slot-pinned rounds cannot combine with compactEvery " +
                "(generation folds renumber slots)")
      val spark = newPayload.sparkSession
      val gen = genDir(indexDir, activeGen(indexDir))
      val complete = completeRounds(tables.map(t => s"$gen/${t._1}"))
      val prior = slot match {
        case None => complete
        case Some(k) =>
          val before = complete.filter(_ < k)
          require(before == (0 until k),
                  s"slot $k requires committed rounds 0..${k - 1}, found $before")
          before
      }
      val Seq(oldBands, oldPayload) =
        tables.map { case (t, schema) => readSlots(spark, s"$gen/$t", prior, schema) }
      // this round's slot: the pinned round, else one past the last
      // COMPLETE round — a dangling slot from a died append is
      // overwritten, never appended beside
      val k = slot.getOrElse(prior.size)
      val fresh = newPayload.persist()
      val pins = mutable.ArrayBuffer.empty[Pinned]
      try {
        banding(fresh).write.mode("overwrite").parquet(s"$gen/bands/r$k")
        val newBands = readSlots(spark, s"$gen/bands", Seq(k), bandsSchema)
        val (pairs, nPairs) = LshPairs.pinCounted(
          IncrementalLsh.cappedNewPairs(oldBands, newBands, maxBucket, acc, matchTag))
        pins += pairs
        // payload lookup: old store + this round's slice (ids are globally
        // unique across rounds — enforced by the caller's round partition)
        val (joined, lookup) = LshPairs.verifyJoin(
          pairs.df, nPairs, oldPayload.unionByName(fresh),
          col(payloadSchema.fieldNames(1)))
        pins += lookup
        val result = verify(joined).localCheckpoint() // BEFORE the commit
        fresh.write.mode("overwrite").parquet(s"$gen/$payload/r$k")
        // LSM fold on the caller's cadence: bounded slot count, same data
        if (compactEvery > 0 && k + 1 >= compactEvery) compact(spark)
        result
      } finally {
        pins.foreach(_.release())
        fresh.unpersist()
      }
    }

    /** Fold all complete rounds into a fresh single-slot generation
      * (crash-safe: committed by marker, old generation serves until
      * then) and drop superseded generations.
      */
    def compact(spark: SparkSession): Boolean = {
      val folded = compactTables(spark, indexDir, tables)
      if (folded) gcOldGenerations(indexDir)
      folded
    }
  }
}
