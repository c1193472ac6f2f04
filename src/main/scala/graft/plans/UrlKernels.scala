package graft.plans

import org.apache.spark.unsafe.types.UTF8String

import graft.core.UrlNormalizer

/** URL kernels ([[Kernels]] rows `canonicalize_url` and `host_of`)
  * over [[graft.core.UrlNormalizer]]. They keep URL canonicalization in
  * the catalog and the wave loop's frontier-expansion projection (the
  * hottest per-wave stage) inside whole-stage codegen, with no Scala
  * UDF encoder round trip per link.
  */
object UrlKernels {
  /** Canonical URL (normalize + tracking strip); null when the URL
    * cannot be canonicalized (e.g. javascript: with no site).
    */
  def canonicalize(url: UTF8String): UTF8String =
    UrlNormalizer.canonicalize(url.toString) match {
      case Some(c) => UTF8String.fromString(c)
      case None => null
    }

  def hostOf(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlNormalizer.hostOf(url.toString))
}
