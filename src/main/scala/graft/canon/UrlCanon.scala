package graft.canon

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization + hashing.
  *
  * Canonical form (deterministic, idempotent):
  *   - scheme and host lowercased
  *   - default ports stripped (:80 for http, :443 for https)
  *   - fragment stripped
  *   - query parameters sorted by (key, value), joined with '&'
  *   - empty path normalized to "/", trailing slash stripped elsewhere
  *
  * The visited-set key is sha-256 of the canonical form, hex-encoded.
  * Reference analogue: colly's visited-URL set keyed by requested URL
  * (library behavior observed at indeed/main.go:66-70 — recursive visits
  * do not loop); we strengthen it with explicit canonicalization so that
  * trivially-aliased URLs dedup.
  *
  * Scale note: canonicalization and hashing are per-row, shuffle-free and
  * applied map-side before any dedup join, so at a 10^10-URL frontier the
  * cost is pure CPU inside whole-stage-codegen'd stages (the hash) plus a
  * typed map (the sort-query step, which Catalyst cannot express).
  */
object UrlCanon {

  /** Pure canonicalizer used by the fetch/parse stages and by the
    * sequential oracle (both sides MUST share this exact function).
    */
  def canonicalize(raw: String): String = {
    val noFrag = {
      val i = raw.indexOf('#')
      if (i >= 0) raw.substring(0, i) else raw
    }
    val (schemeHost, rest) = splitSchemeHost(noFrag)
    val (pathPart, queryPart) = {
      val i = rest.indexOf('?')
      if (i >= 0) (rest.substring(0, i), rest.substring(i + 1)) else (rest, "")
    }
    val path0 = if (pathPart.isEmpty) "/" else pathPart
    val path =
      if (path0.length > 1 && path0.endsWith("/")) path0.dropRight(1)
      else path0
    val query =
      if (queryPart.isEmpty) ""
      else {
        // bare-ness tracked per param (a bare key that is a suffix of
        // another key must stay bare)
        val params = queryPart
          .split("&")
          .filter(_.nonEmpty)
          .map { kv =>
            val j = kv.indexOf('=')
            if (j >= 0) (kv.substring(0, j), kv.substring(j + 1), true)
            else (kv, "", false)
          }
          .sortBy(p => (p._1, p._2))
        "?" + params
          .map { case (k, v, hadEq) => if (hadEq) s"$k=$v" else k }
          .mkString("&")
      }
    schemeHost + path + query
  }

  /** Lowercases scheme://host[:port], strips default ports. Returns
    * (scheme://host[:port], remainder-starting-at-path).
    */
  private def splitSchemeHost(u: String): (String, String) = {
    val si = u.indexOf("://")
    if (si < 0) return (u, "")
    val scheme = u.substring(0, si).toLowerCase
    val afterScheme = u.substring(si + 3)
    val pe = afterScheme.indexOf('/')
    val (auth0, rest) =
      if (pe >= 0) (afterScheme.substring(0, pe), afterScheme.substring(pe))
      else (afterScheme, "")
    val auth = auth0.toLowerCase
    val authNorm = (scheme, auth) match {
      case ("http", a) if a.endsWith(":80")   => a.dropRight(3)
      case ("https", a) if a.endsWith(":443") => a.dropRight(4)
      case (_, a)                             => a
    }
    (s"$scheme://$authNorm", rest)
  }

  def hostOf(canonicalUrl: String): String = {
    val si = canonicalUrl.indexOf("://")
    if (si < 0) return ""
    val after = canonicalUrl.substring(si + 3)
    val pe = after.indexOf('/')
    val auth = if (pe >= 0) after.substring(0, pe) else after
    val ci = auth.indexOf(':')
    if (ci >= 0) auth.substring(0, ci) else auth
  }

  def sha256Hex(s: String): String = {
    val d = MessageDigest
      .getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  def urlHash(canonicalUrl: String): String = sha256Hex(canonicalUrl)

  /** Stable 64-bit host hash: first 8 bytes (big-endian) of sha-256(host).
    * Used as the frontier partition key; independent of Spark's internal
    * hashing so checkpointed filter shards stay valid across repartitions.
    */
  def hostHash(host: String): Long = {
    val d = MessageDigest
      .getInstance("SHA-256")
      .digest(host.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Two independent 64-bit hashes of a 64-char sha-256 hex string, used
    * by the bloom tier (double hashing g_i = h1 + i*h2).
    */
  def hexHashPair(hex: String): (Long, Long) =
    (java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16),
     java.lang.Long.parseUnsignedLong(hex.substring(16, 32), 16))

  /** Salt spreading one hot host over `salts` sub-groups during the
    * pre-selection phase (SURVEY.md §7.4.2 skew handling). Derived from
    * the URL hash so it is stable across rounds and processes.
    */
  def saltOf(urlHashHex: String, salts: Int): Int =
    ((java.lang.Long.parseUnsignedLong(urlHashHex.substring(48, 56), 16) % salts) + salts).toInt % salts

  // ----- Catalyst-side equivalents (codegen'd; used in DataFrame paths) --

  /** sha-256 hex of a column (matches [[sha256Hex]]). */
  def sha256HexCol(c: Column): Column = sha2(c, 256)

}
