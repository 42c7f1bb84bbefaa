package graft.seen

/** Exact per-bucket seen index — the exact tier behind the bloom
  * shards, and the only authority on a bloom positive.
  *
  * Why it exists: the exact reconciliation used to be a `left_anti`
  * join against the full persisted seen table, which shuffles the
  * 10^10-row table every round even though only the trickle of
  * bloom-positives needs checking. With the seen set sharded by
  * host-hash bucket into compact binary indexes (maintained in the SAME
  * executor-side pass as the bloom shards), the exact tier becomes a
  * per-bucket file load + binary search: each task reads only the
  * buckets its candidates touch, and the seen table never moves through
  * a shuffle. At 10^10 URLs / 2^16 buckets a bucket index is ~150k
  * hashes ≈ 4.7 MB.
  *
  * Exactness by construction: every seen entry passes through shard
  * maintenance (grouped by bucket), which appends its hash to the
  * bucket's index; a missing index file therefore means the bucket has
  * never had a seen entry — the empty set IS the exact answer.
  *
  * Representation: the distinct 32-byte SHA-256 url_hash values,
  * lexicographically sorted, concatenated into one flat byte array.
  * `contains` is a binary search over 32-byte slices — no per-entry
  * object overhead when a task holds a whole bucket.
  */
final class SeenIndex private (private val flat: Array[Byte]) {
  import SeenIndex.W

  def size: Int = flat.length / W

  private def cmpAt(idx: Int, key: Array[Byte]): Int = {
    val base = idx * W
    var i = 0
    while (i < W) {
      val a = flat(base + i) & 0xff
      val b = key(i) & 0xff
      if (a != b) return a - b
      i += 1
    }
    0
  }

  def containsBytes(key: Array[Byte]): Boolean = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = cmpAt(mid, key)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def contains(urlHashHex: String): Boolean =
    containsBytes(SeenIndex.hexToBytes(urlHashHex))

  /** All member hashes as lowercase hex — lets a bucket's bloom shard
    * be reseeded from the exact index (a checkpoint bucket with index
    * segments but no bloom shard).
    */
  def hexIterator: Iterator[String] = (0 until size).iterator.map { i =>
    val sb = new StringBuilder(2 * SeenIndex.W)
    var j = 0
    while (j < SeenIndex.W) {
      val b = flat(i * SeenIndex.W + j) & 0xff
      sb.append(Character.forDigit(b >> 4, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
      j += 1
    }
    sb.toString
  }

  /** New index with `adds` inserted and `removes` deleted (both hex). */
  def updated(adds: Iterable[String], removes: Iterable[String] = Nil): SeenIndex = {
    val rm = removes.map(h => SeenIndex.hexKey(h)).toSet
    val keep = (0 until size).iterator
      .map(i => java.util.Arrays.copyOfRange(flat, i * W, i * W + W))
      .filterNot(b => rm.contains(SeenIndex.wrap(b)))
    val added = adds.iterator.map(SeenIndex.hexToBytes)
    val all = (keep ++ added).map(SeenIndex.wrap).toArray.distinct.sorted
    val out = new Array[Byte](all.length * W)
    var i = 0
    while (i < all.length) {
      System.arraycopy(all(i).bytes, 0, out, i * W, W)
      i += 1
    }
    new SeenIndex(out)
  }

  def serialize(): Array[Byte] = flat
}

object SeenIndex {
  private[seen] val W = 32 // sha-256 bytes

  /** Comparable wrapper so sorting/dedup work on byte keys. */
  private[seen] final case class Key(bytes: Array[Byte]) extends Ordered[Key] {
    override def compare(that: Key): Int = {
      var i = 0
      while (i < W) {
        val c = (bytes(i) & 0xff) - (that.bytes(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      0
    }
    override def hashCode(): Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(bytes, k.bytes)
      case _      => false
    }
  }
  private def wrap(b: Array[Byte]): Key = Key(b)
  private def hexKey(hex: String): Key = Key(hexToBytes(hex))

  val empty: SeenIndex = new SeenIndex(Array.emptyByteArray)

  /** Index holding exactly `hexes` (sorted, deduped). */
  def fromHex(hexes: Iterable[String]): SeenIndex = empty.updated(hexes)

  /** Merge of LSM-style delta segments minus `removes` — the cadenced
    * compaction of the per-bucket index. Segments are individually
    * sorted and (by crawl semantics) disjoint, so the merge is a
    * concatenate-sort-dedup over exactly the surviving keys: O(total)
    * bytes touched, independent of how many rounds the segments span.
    */
  def merged(segments: Seq[SeenIndex], removes: Iterable[String] = Nil): SeenIndex = {
    val rm = removes.map(hexKey).toSet
    val all = segments.iterator.flatMap { s =>
      (0 until s.size).iterator.map(i =>
        Key(java.util.Arrays.copyOfRange(s.serialize(), i * W, i * W + W)))
    }.filterNot(rm.contains).toArray.distinct.sorted
    val out = new Array[Byte](all.length * W)
    var i = 0
    while (i < all.length) {
      System.arraycopy(all(i).bytes, 0, out, i * W, W)
      i += 1
    }
    new SeenIndex(out)
  }

  def hexToBytes(hex: String): Array[Byte] = {
    val out = new Array[Byte](W)
    var i = 0
    while (i < W) {
      out(i) = ((Character.digit(hex.charAt(2 * i), 16) << 4) |
        Character.digit(hex.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    out
  }

  def deserialize(bytes: Array[Byte]): SeenIndex = {
    require(bytes.length % W == 0, s"corrupt seen index: ${bytes.length} bytes")
    new SeenIndex(bytes)
  }
}
