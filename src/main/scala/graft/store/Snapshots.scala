package graft.store

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg-style snapshot layout over plain parquet (no Iceberg runtime
  * jar ships in the sandbox — see SURVEY.md §7.0): every scheduling round
  * commits immutable parquet table directories plus one JSON manifest,
  * finalized by an atomic rename. `LATEST` (also atomic-renamed) points
  * at the newest manifest, giving snapshot isolation, time travel to any
  * round, and deterministic resume with per-partition lineage.
  *
  * Layout:
  * {{{
  *   <root>/r00003/{seen_delta,docs,host_state,robots,
  *                  fetch_log}/                  (parquet data files)
  *   <root>/r00004/seen_full/                    (a revocation's seen base)
  *   <root>/r00003/filters/bloom-0007.bin        (bloom shard per host bucket)
  *   <root>/r00003/filters/seen-0007.bin         (exact seen-index segment)
  *   <root>/r00003/frontier/fb-0007.bin          (frontier LSM segment)
  *   <root>/manifests/m-00003.json               (atomic rename from .tmp)
  *   <root>/LATEST                               (atomic rename from .tmp)
  * }}}
  *
  * Scale note: the seen table is per-round deltas over a base that only
  * an administrative revocation writes (`seenPaths`), so no crawl round
  * ever rewrites the accumulated 10^10-row seen table — rounds read the
  * per-bucket exact seen indexes, never this table; filters are sharded
  * by host_hash bucket, not by partition index, so a resume at a
  * different parallelism reloads the same shards.
  */
final class Snapshots(val root: String) {
  private def dir(round: Int) = f"$root/r$round%05d"
  def tablePath(round: Int, name: String): String = s"${dir(round)}/$name"
  private def manifestPath(round: Int) = f"$root/manifests/m-$round%05d.json"

  import Snapshots.Manifest

  def writeManifest(m: Manifest): Unit = {
    new File(s"$root/manifests").mkdirs()
    val json = JObject(
      "version" -> JInt(Snapshots.ManifestVersion),
      "round" -> JInt(m.round),
      "parentRound" -> JInt(m.parentRound),
      "tables" -> JObject(m.tables.toList.map { case (k, v) => k -> JString(v) }),
      // the round of the last revocation's seen_full base (-1: none);
      // every later round's seen_delta completes the table
      "seenFullRound" -> JInt(m.seenFullRound),
      // bucket -> round whose bloom shard is current (untouched shards
      // reference their last-written round's files; nothing is copied
      // forward, so a round's commit cost is O(touched buckets)). Every
      // bucket with index segments has one: the pass that appends a
      // bucket's segment writes its shard
      "filterRounds" -> JObject(m.filterRounds.toList.sortBy(_._1)
        .map { case (b, fr) => b.toString -> JInt(fr) }),
      // bucket -> LSM segment rounds of its exact seen index, oldest ->
      // newest; per-round maintenance appends a delta-only segment and
      // merges on the compactEvery cadence
      "seenIndexSegs" -> JObject(m.seenIndexSegs.toList.sortBy(_._1)
        .map { case (b, segs) => b.toString -> JArray(segs.map(JInt(_)).toList) }),
      // frontier bucket -> LSM segment rounds of its binary files,
      // oldest -> newest (graft.store.FrontierStore); per-round
      // maintenance appends a delta segment (adds + tombstones) and
      // compacts to a single full segment on the compactEvery cadence;
      // untouched buckets carry forward
      "frontierSegs" -> JObject(m.frontierSegs.toList.sortBy(_._1)
        .map { case (b, segs) => b.toString -> JArray(segs.map(JInt(_)).toList) }),
      // frontier bucket -> entry count (so round totals never require
      // reading untouched buckets)
      "frontierCounts" -> JObject(m.frontierCounts.toList.sortBy(_._1)
        .map { case (b, n) => b.toString -> JLong(n) }),
      "frontierPri0" -> JObject(m.frontierPri0.toList.sortBy(_._1)
        .map { case (b, n) => b.toString -> JLong(n) }),
      "counters" -> JObject(m.counters.toList.map { case (k, v) => k -> JLong(v) }),
      "done" -> JBool(m.done)
    )
    val tmp = Paths.get(manifestPath(m.round) + ".tmp")
    Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
    Files.move(tmp, Paths.get(manifestPath(m.round)),
               StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val lt = Paths.get(s"$root/LATEST.tmp")
    Files.writeString(lt, m.round.toString)
    Files.move(lt, Paths.get(s"$root/LATEST"),
               StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def latestRound: Option[Int] = {
    val p = Paths.get(s"$root/LATEST")
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt) else None
  }

  def readManifest(round: Int): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(Paths.get(manifestPath(round))))
    // fail fast on checkpoints written by earlier engine versions
    // (pre-v3 manifests carried `buckets`/`seenIndexRounds` layouts;
    // v3 carried single-file `frontierRounds` and the pre-tombstone
    // frontier file format; v4 kept the seen table as folded
    // `seenRunRounds` runs): resuming them as empty state would
    // silently re-crawl everything
    val v = (j \ "version").toOption.map(_.extract[Int]).getOrElse(1)
    if (v != Snapshots.ManifestVersion)
      throw new IllegalStateException(
        s"unsupported manifest version $v at round $round (expected " +
          s"${Snapshots.ManifestVersion}); this checkpoint was written by " +
          "an earlier engine version and cannot be resumed")
    Manifest(
      round = (j \ "round").extract[Int],
      parentRound = (j \ "parentRound").extract[Int],
      tables = (j \ "tables").extract[Map[String, String]],
      seenFullRound = (j \ "seenFullRound").extract[Int],
      filterRounds = (j \ "filterRounds").extract[Map[String, Int]]
        .map { case (b, fr) => b.toInt -> fr },
      seenIndexSegs = (j \ "seenIndexSegs").extract[Map[String, Seq[Int]]]
        .map { case (b, segs) => b.toInt -> segs },
      frontierSegs = (j \ "frontierSegs").extract[Map[String, Seq[Int]]]
        .map { case (b, segs) => b.toInt -> segs },
      frontierCounts = (j \ "frontierCounts").extract[Map[String, Long]]
        .map { case (b, n) => b.toInt -> n },
      frontierPri0 = (j \ "frontierPri0").extract[Map[String, Long]]
        .map { case (b, n) => b.toInt -> n },
      counters = (j \ "counters").extract[Map[String, Long]],
      done = (j \ "done").extract[Boolean]
    )
  }

  /** Parquet read set of the exact seen table at `m.round`: the last
    * revocation's base, if any, plus the seen_delta of every round after
    * it (every such round is a crawl round, and each writes one). A
    * missing delta fails the read.
    */
  def seenPaths(m: Manifest): Seq[String] = {
    val base =
      if (m.seenFullRound >= 0) Seq(tablePath(m.seenFullRound, "seen_full")) else Nil
    base ++ (m.seenFullRound + 1 to m.round).map { r =>
      val p = tablePath(r, "seen_delta")
      if (!Files.exists(Paths.get(p)))
        throw new IllegalStateException(s"seen table of round ${m.round} needs $p, which is missing")
      p
    }
  }

  /** All docs table paths up to and including `round` (docs append per
    * round; the union is the full corpus).
    */
  def docsPaths(upToRound: Int): Seq[String] =
    (0 to upToRound).map(r => tablePath(r, "docs"))
      .filter(p => Files.exists(Paths.get(p)))

  def fetchLogPaths(upToRound: Int): Seq[String] =
    (0 to upToRound).map(r => tablePath(r, "fetch_log"))
      .filter(p => Files.exists(Paths.get(p)))
}

/** Static path/byte IO usable from inside executor tasks (shard
  * maintenance writes its own bucket's files executor-side — the driver
  * never transports filter bytes). On a real cluster `root` is shared
  * storage (S3/HDFS); per-file atomic rename makes task retries safe.
  */
object Snapshots {
  /** Manifest layout version; readManifest rejects anything else. */
  val ManifestVersion = 5

  def bloomShardPathAt(root: String, round: Int, bucket: Int): String =
    f"$root/r$round%05d/filters/bloom-$bucket%04d.bin"
  def seenIndexPathAt(root: String, round: Int, bucket: Int): String =
    f"$root/r$round%05d/filters/seen-$bucket%04d.bin"
  def frontierPathAt(root: String, round: Int, fb: Int): String =
    f"$root/r$round%05d/frontier/fb-$fb%04d.bin"

  def writeBytesAt(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp-" + Thread.currentThread().getId)
    Files.write(tmp, bytes)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
  }

  def readBytesAt(path: String): Option[Array[Byte]] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  /** Fail-closed read for MANIFEST-REFERENCED state files: the manifest
    * says this file is current, so an unreadable file is lost/partial
    * storage and must fail the round — defaulting to empty state would
    * silently reclassify seen URLs as new (permanent dedup loss) or
    * drop frontier entries. Only files a manifest does NOT reference
    * may legitimately be absent (meaning: empty state, which is exact).
    */
  def requiredBytesAt(path: String): Array[Byte] =
    readBytesAt(path).getOrElse(
      throw new IllegalStateException(
        s"manifest references $path but it is missing/unreadable — " +
          "failing the round instead of treating state as empty"))

  final case class Manifest(
      round: Int,
      parentRound: Int,
      tables: Map[String, String],
      seenFullRound: Int, // -1 = none; else the last revocation's round
      filterRounds: Map[Int, Int], // bucket -> round of its bloom shard
      seenIndexSegs: Map[Int, Seq[Int]], // bucket -> index segment rounds
      frontierSegs: Map[Int, Seq[Int]], // frontier bucket -> segment rounds
      frontierCounts: Map[Int, Long], // frontier bucket -> entry count
      frontierPri0: Map[Int, Long], // frontier bucket -> priority-0 count
      counters: Map[String, Long],
      done: Boolean
  )
}
