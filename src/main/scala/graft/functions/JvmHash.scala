package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** JVM-side twins of PortableHash's column expressions, for use inside
  * typed flatMap/map closures. MUST stay value-identical to the column
  * forms (h60 = conv(substring(md5(s),1,15),16,10); seeded = universal
  * family mod P) — JvmHashSpec asserts this against the Spark expressions.
  */
object JvmHash {
  val P: Long = PortableHash.P

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of md5(s) parsed as a long (= PortableHash.h60). */
  def h60(s: String): Long = {
    // digest() resets the instance, so one per thread serves every call.
    val dig = md5.get().digest(s.getBytes(StandardCharsets.UTF_8))
    // 15 hex chars = 60 bits = first 7 bytes + high nibble of byte 8.
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v = (v << 4) | ((dig(7) & 0xf0L) >> 4)
    v
  }

  def h60p(s: String): Long = h60(s) % P

  /** Seeded universal hash (= PortableHash.seeded). */
  def seeded(hModP: Long, seed: Int): Long =
    (seedA(seed) * hModP + seedB(seed)) % P

  /** The (a, b) coefficients of [[seeded]] for `seed` — hoistable out of
    * a per-shingle loop. */
  def seedA(seed: Int): Long = (2654435761L * (seed + 1)) % P
  def seedB(seed: Int): Long = (40503L * (seed + 7)) % P

}
