package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The engine's canonical 56-bit md5 token hash as a JVM primitive:
  * `conv(substring(md5(t), 1, 14), 16, 10) % 1000000007` — the first 14
  * hex chars of the md5 are exactly the first 7 digest bytes read
  * big-endian (each byte prints as 2 hex chars), so the value is a
  * direct bit extraction, no hex-string round trip. Bit-identical to
  * [[graft.operators.TextAnalysis.tokenHash]] (pinned in the native-
  * expression spec that embeds it: TextFxSpec).
  *
  * Shared by every fused native expression that hashes tokens inside
  * its loop, so the hash can only change in one place. The
  * MessageDigest is per-thread (ThreadLocal): MD5 instances are not
  * thread-safe, and allocating one per token would dominate the very
  * loop the native forms exist to speed up.
  */
object TokenHash56 {
  val HashMod = 1000000007L

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** 56-bit md5 prefix of the token's UTF-8 bytes, mod 1e9+7. */
  def hash(t: UTF8String): Long = {
    val d = md5.get().digest(t.getBytes)
    val v = ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
      ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
      ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
    v % HashMod
  }
}
