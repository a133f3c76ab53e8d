package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd URL functions: [[graft.functions.UrlOps]] behind native
  * Catalyst expressions, so URL canonicalization and eTLD+1 grouping
  * run inside whole-stage codegen as plain `Column`s — no typed
  * `mapPartitions`, no object serialization boundary in the frontier
  * path. NULL-safe and null-on-malformed: crawl link extractions are
  * full of relative and garbage URLs, and an expression that throws
  * kills the whole 100 TB job for one bad row — the frontier filters
  * nulls instead.
  */
object UrlUtil {
  /** RFC 3986 normalization; null for inputs with no scheme/authority. */
  def normalizeOrNull(s: UTF8String): UTF8String = {
    try UTF8String.fromString(graft.functions.UrlOps.normalize(s.toString))
    catch { case _: IllegalArgumentException => null }
  }

  /** eTLD+1 of a HOST (not a URL) under the embedded PSL snapshot. */
  def registrableDomain(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.UrlOps.registrableDomain(s.toString))

  /** Host of an absolute URL (lowercased, IDNA-folded); null when the
    * input has no scheme/authority.
    */
  def hostOrNull(s: UTF8String): UTF8String = {
    try UTF8String.fromString(
      graft.functions.UrlOps.toAsciiHost(graft.functions.UrlOps.parse(s.toString).host))
    catch { case _: IllegalArgumentException => null }
  }

  /** CDX SURT key ([[graft.functions.UrlOps.surtKey]]); null when the
    * input has no scheme/authority. CDX generation runs this once per
    * archived record and the index build sorts on it, so it must stay
    * inside whole-stage codegen.
    */
  def surtOrNull(s: UTF8String): UTF8String = {
    try UTF8String.fromString(graft.functions.UrlOps.surtKey(s.toString))
    catch { case _: IllegalArgumentException => null }
  }
}
