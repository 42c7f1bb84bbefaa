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
  import SeenIndex.{W, cmp}

  def size: Int = flat.length / W

  def containsBytes(key: Array[Byte]): Boolean = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = cmp(flat, mid * W, key, 0)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def contains(urlHashHex: String): Boolean =
    containsBytes(SeenIndex.hexToBytes(urlHashHex))

  def serialize(): Array[Byte] = flat
}

object SeenIndex {
  private[seen] val W = 32 // sha-256 bytes

  /** Unsigned order of the 32-byte keys at `a(ai)` and `b(bi)`. */
  private def cmp(a: Array[Byte], ai: Int, b: Array[Byte], bi: Int): Int = {
    var i = 0
    while (i < W) {
      val c = (a(ai + i) & 0xff) - (b(bi + i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    0
  }

  val empty: SeenIndex = new SeenIndex(Array.emptyByteArray)

  /** Index holding exactly `hexes`: fixed-width lowercase hex
    * (`UrlCanon.sha256Hex`), whose string order is the unsigned byte
    * order, so sorting the strings sorts the keys.
    */
  def fromHex(hexes: Iterable[String]): SeenIndex = {
    val sorted = hexes.toArray.sorted
    val out = new Array[Byte](sorted.length * W)
    var n = 0
    sorted.foreach { h =>
      val k = hexToBytes(h)
      val c = if (n == 0) 1 else cmp(k, 0, out, n - W)
      require(c >= 0, s"not a fixed-width lowercase hex hash: $h")
      if (c > 0) { System.arraycopy(k, 0, out, n, W); n += W }
    }
    new SeenIndex(java.util.Arrays.copyOf(out, n))
  }

  /** Merge of LSM-style delta segments minus `removes`: a k-way merge of
    * the sorted segments that writes each key once (equal heads drop
    * together) unless it is removed. O(total keys × segments) byte
    * compares, no per-key objects.
    */
  def merged(segments: Seq[SeenIndex], removes: Iterable[String] = Nil): SeenIndex = {
    val segs = segments.map(_.flat).filter(_.nonEmpty).toArray
    val pos = new Array[Int](segs.length)
    val rm = fromHex(removes).flat
    var rp = 0
    val out = new Array[Byte](segs.map(_.length).sum)
    var n = 0
    def minHead: Int = {
      var min = -1
      var i = 0
      while (i < segs.length) {
        if (pos(i) < segs(i).length &&
            (min < 0 || cmp(segs(i), pos(i), segs(min), pos(min)) < 0)) min = i
        i += 1
      }
      min
    }
    var min = minHead
    while (min >= 0) {
      val key = segs(min)
      val at = pos(min)
      var i = 0
      while (i < segs.length) {
        if (pos(i) < segs(i).length && cmp(segs(i), pos(i), key, at) == 0) pos(i) += W
        i += 1
      }
      while (rp < rm.length && cmp(rm, rp, key, at) < 0) rp += W
      if (rp >= rm.length || cmp(rm, rp, key, at) != 0) {
        System.arraycopy(key, at, out, n, W)
        n += W
      }
      min = minHead
    }
    new SeenIndex(java.util.Arrays.copyOf(out, n))
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
