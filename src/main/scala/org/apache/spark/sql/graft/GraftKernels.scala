package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The one loop behind each graft native expression. Every expression's
  * `nullSafeEval` calls its kernel here and its `doGenCode` emits a call
  * to the same static method (`org.apache.spark.sql.graft.GraftKernels.
  * <kernel>(…)`), so the interpreted and the whole-stage-codegen paths
  * agree bit for bit by construction. Arguments are non-null: the
  * expressions are null-intolerant and a null input never reaches here.
  */
object GraftKernels {

  /** The object's name as generated Java code calls its static forwarders. */
  private[graft] final val JavaName = "org.apache.spark.sql.graft.GraftKernels"

  /** Sequential left-to-right IEEE dot product over `min(|a|, |b|)`
    * elements — the fold order of DuckDB's `list_dot_product`.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Cosine similarity in one traversal (dot, |a|², |b|² in the same
    * loop); 0.0 when either norm is zero.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val xv = a.getDouble(i)
      val yv = b.getDouble(i)
      ab += xv * yv
      aa += xv * xv
      bb += yv * yv
      i += 1
    }
    val nn = math.sqrt(aa) * math.sqrt(bb)
    if (nn == 0.0) 0.0 else ab / nn
  }

  /** `doubleToLongBits` with the lower 63 bits flipped for negatives. */
  def doubleBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b >= 0L) b else b ^ java.lang.Long.MAX_VALUE
  }

  private final val P = 2147483647L

  /** `numHashes` minima of h_k(x) = ((2k+1)·x + 40503k + 12345) mod P over
    * the bases, each reduced mod P first; all-P for an empty array.
    */
  def minHashSig(a: ArrayData, numHashes: Int): GenericArrayData = {
    val mins = Array.fill(numHashes)(P)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val raw = a.getLong(i)
      val h = ((raw % P) + P) % P
      var k = 0
      while (k < numHashes) {
        val v = ((2L * k + 1L) * h + (40503L * k + 12345L)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Per-bit ±1 majority over the low `bits` bits of the bases; bit set
    * iff its counter ends strictly positive; 0 for an empty array.
    */
  def simHash(a: ArrayData, bits: Int): Long = {
    val counters = new Array[Int](bits)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var j = 0
      while (j < bits) {
        counters(j) += (if (((h >>> j) & 1L) != 0L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (counters(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** One base hash per non-null element: [[md5Base60]] or seed-42 XXH64. */
  def baseHashes(a: ArrayData, md5: Boolean): UnsafeArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        out(m) = if (md5) md5Base60(s) else XXH64.hashUTF8String(s, 42L)
        m += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  // Thread-cached MD5: a `MessageDigest.getInstance` per element would
  // dominate the hash.
  private val md5Digest =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  /** The value of the first 15 hex chars of md5(s). */
  def md5Base60(s: UTF8String): Long = {
    val d = md5Full(s)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Full 16-byte digest (for consumers deriving several independent
    * words from ONE digest per row, e.g. [[CmsSketch]]).
    */
  def md5Full(s: UTF8String): Array[Byte] =
    md5Digest.get().digest(s.getBytes) // digest() resets the instance

  /** Word `d` (0..3) of a digest as an unsigned 32-bit value — equal to
    * `conv(substr(md5hex, 1 + 8d, 8), 16, 10)`, big-endian.
    */
  def word32(digest: Array[Byte], d: Int): Long = {
    val o = d * 4
    ((digest(o) & 0xFFL) << 24) | ((digest(o + 1) & 0xFFL) << 16) |
      ((digest(o + 2) & 0xFFL) << 8) | (digest(o + 3) & 0xFFL)
  }

  /** NFC with an `isNormalized` fast path that returns the input as is. */
  def nfc(s: UTF8String): UTF8String = {
    val j = s.toString
    if (java.text.Normalizer.isNormalized(j,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(j, java.text.Normalizer.Form.NFC))
  }

  /** NFKC, then ROOT-locale lowercasing, then an NFC re-pass. */
  def nfkcCf(s: UTF8String): UTF8String = {
    // ASCII fast path: NFKC is the identity on ASCII and ROOT-locale
    // lowercasing is the trivial byte map, handled allocation-light by
    // UTF8String itself
    if (s.isFullAscii) return s.toLowerCase
    val j = s.toString
    val k =
      if (java.text.Normalizer.isNormalized(j,
          java.text.Normalizer.Form.NFKC)) j
      else java.text.Normalizer.normalize(j,
        java.text.Normalizer.Form.NFKC)
    val lowered = k.toLowerCase(java.util.Locale.ROOT)
    // lowercasing can de-normalize (e.g. İ → i + combining dot), so
    // re-compose; on the common path this is a no-op check
    val out =
      if (java.text.Normalizer.isNormalized(lowered,
          java.text.Normalizer.Form.NFC)) lowered
      else java.text.Normalizer.normalize(lowered,
        java.text.Normalizer.Form.NFC)
    UTF8String.fromString(out)
  }
}
