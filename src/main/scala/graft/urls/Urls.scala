package graft.urls

import org.apache.spark.sql.functions._

/** URL canonicalization + identity keys.
  *
  * The reference's only URL handling is relative→absolute resolution against
  * the single allowed host (reference `scraper.py:109-110`). The engine
  * generalizes that into a full canonicalizer because canonical-URL xxHash64
  * is the URL-seen identity key (BASELINE.json north_star): two spellings of
  * one URL must collapse to one hash or the seen-set diverges at scale.
  *
  * One pure Scala function is the single source of truth: the sequential
  * oracle calls it directly and the Spark engine wraps it in a UDF at the
  * frontier boundary only (the hot relational path never re-canonicalizes —
  * it keys on the precomputed `urlHash`).
  */
object Urls {

  /** Resolve a possibly-relative URL against a base page URL, then normalize:
    * lowercase scheme+host, strip fragment, drop default ports, collapse
    * dot-segments, "" path → "/". Deterministic and idempotent
    * (canonicalize(canonicalize(x)) == canonicalize(x) — property-tested).
    */
  def canonicalize(raw: String, baseUrl: String): String = {
    val r = if (raw == null) "" else raw.trim
    if (r.isEmpty) return ""
    val rl = r.toLowerCase // scheme match is case-insensitive (RFC 3986 §3.1)
    val abs =
      if (rl.startsWith("http://") || rl.startsWith("https://")) r
      else if (r.startsWith("//")) schemeOf(baseUrl) + ":" + r
      else if (r.startsWith("/")) originOf(baseUrl) + r
      else originOf(baseUrl) + "/" + r // reference prepends the origin (scraper.py:110)
    normalize(abs)
  }

  /** Normalize an absolute http(s) URL. */
  def normalize(abs: String): String = {
    val noFrag = abs.indexOf('#') match {
      case -1 => abs
      case i  => abs.substring(0, i)
    }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd < 0) return noFrag // not a fetchable URL; leave as-is
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase
    val rest   = noFrag.substring(schemeEnd + 3)
    val (authority, pathq) = rest.indexOf('/') match {
      case -1 => (rest, "")
      case i  => (rest.substring(0, i), rest.substring(i))
    }
    val (path0, q) = pathq.indexOf('?') match {
      case -1 => (pathq, "")
      case i  => (pathq.substring(0, i), pathq.substring(i))
    }
    val hp   = authority.toLowerCase
    val host = (scheme, hp) match {
      case ("http", h) if h.endsWith(":80")   => h.dropRight(3)
      case ("https", h) if h.endsWith(":443") => h.dropRight(4)
      case (_, h)                             => h
    }
    val path = if (path0.isEmpty) "/" else collapseDots(path0)
    s"$scheme://$host$path$q"
  }

  /** Resolve "." and ".." path segments. */
  private def collapseDots(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    path.split("/", -1).foreach {
      case "" | "." => // skip (preserve leading slash by reconstruction)
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val p = out.mkString("/", "/", "")
    if (path.endsWith("/") && p != "/") p + "/" else p
  }

  def schemeOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) "https" else url.substring(0, i).toLowerCase
  }

  /** scheme://host[:port] of a URL (no trailing slash). */
  def originOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return ""
    val rest = url.substring(i + 3)
    val slash = rest.indexOf('/')
    val auth  = if (slash < 0) rest else rest.substring(0, slash)
    url.substring(0, i).toLowerCase + "://" + auth.toLowerCase
  }

  /** Lowercased host of an absolute URL ("" if not absolute). */
  def hostOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return ""
    val rest  = url.substring(i + 3)
    val slash = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
    val auth  = if (slash < 0) rest else rest.substring(0, slash)
    val colon = auth.indexOf(':')
    (if (colon < 0) auth else auth.substring(0, colon)).toLowerCase
  }

  /** 64-bit identity key of a canonical URL. Matches Spark's built-in
    * `xxhash64(string)` (seed 42) so the engine can key with the codegen'd
    * Catalyst expression while driver-side Scala (oracle, bloom sizing)
    * computes the same value.
    */
  def urlHash64(canonicalUrl: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      canonicalUrl.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      canonicalUrl.length, 42L)

  // ---- Column-level forms (engine side) ----

  /** Canonicalization as a UDF — used only at the link-discovery boundary;
    * everything downstream keys on the precomputed hash. Registered lazily.
    */
  val canonicalizeUdf =
    udf((raw: String, base: String) => canonicalize(raw, base))

  val hostOfUdf = udf((url: String) => hostOf(url))
}
