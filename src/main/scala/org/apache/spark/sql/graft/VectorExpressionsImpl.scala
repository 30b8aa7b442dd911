package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, StringType}

/** Native Catalyst expressions for dense-vector math over `array<double>`.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`)
  * are CodegenFallback — every element hop is an interpreted virtual call
  * plus intermediate array allocations. For candidate-pair scoring in
  * similarity search / embedding dedup that cost dominates the whole query
  * (measured ~8× on the embeddings bench). These expressions generate a
  * tight primitive loop via `doGenCode` and allocate nothing.
  *
  * Semantics match the HOF formulation bit-for-bit: sequential left-to-
  * right IEEE double accumulation over `min(|a|, |b|)` elements — the same
  * fold order DuckDB's `list_dot_product` uses, so oracle results still
  * hash-match exactly. Null ELEMENTS are not supported (embedding vectors
  * are dense); a null ARRAY yields null via standard null-intolerance.
  *
  * Lives in the `org.apache.spark.sql` package scope because
  * `AbstractDataType` (the `ExpectsInputTypes` contract) is
  * `private[sql]` in Spark 4; public wrappers are in
  * `graft.functions.VectorExpressions`.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDot = copy(left = newLeft, right = newRight)
}

/** Cosine similarity in ONE traversal (dot, |a|², |b|² accumulated in the
  * same loop); 0.0 when either norm is zero.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      ab += xv * yv
      aa += xv * xv
      bb += yv * yv
      i += 1
    }
    val nn = math.sqrt(aa) * math.sqrt(bb)
    if (nn == 0.0) 0.0 else ab / nn
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nn = ctx.freshName("nn")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $ab += $xv * $yv; $aa += $xv * $xv; $bb += $yv * $yv;
         |}
         |double $nn = java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb);
         |${ev.value} = ($nn == 0.0) ? 0.0 : $ab / $nn;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

/** Order-preserving bit image of a double: `doubleToLongBits` with the
  * lower 63 bits flipped for negatives, so `s(a) < s(b) ⟺ a sorts before
  * b` under Spark's double ordering EXACTLY — negatives ascend, -0.0 sits
  * just below +0.0, NaN (canonicalized by `doubleToLongBits`) lands above
  * +Infinity, matching Spark's NaN-greatest sort. Three integer ops,
  * codegen'd.
  *
  * The top K bits of the image define 2^K fixed, data-independent,
  * order-contiguous value buckets (HDR-histogram style) — the basis of
  * [[graft.profile.Profiler.quantiles]]'s selection pass, which needs
  * range buckets without a boundary-estimation pass.
  */
case class SortableDoubleBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_double_bits"

  override def nullSafeEval(a: Any): Any = {
    val b = java.lang.Double.doubleToLongBits(a.asInstanceOf[Double])
    if (b >= 0L) b else b ^ java.lang.Long.MAX_VALUE
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.freshName("b")
      s"""
         |long $b = java.lang.Double.doubleToLongBits($a);
         |${ev.value} = ($b >= 0L) ? $b : ($b ^ java.lang.Long.MAX_VALUE);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SortableDoubleBits = copy(child = newChild)
}

/** MinHash signature over per-element base hashes (`array<long>`, see
  * [[BaseHashes]]): `numHashes` universal-hash minima h_i(x) = (aᵢ·x +
  * bᵢ) mod P (aᵢ = 2i+1, bᵢ = 40503i+12345, P = 2³¹−1), each base
  * reduced mod P first (negatives normalize to [0, P)). Empty arrays
  * yield the all-P sentinel (collides only with other empties). One
  * native loop serves both near-dup hash families — the family only
  * chooses the base hash — and `graft_minhash_sig` is this over
  * xxhash64 bases. Over md5 bases every step has an ANSI-SQL
  * restatement, so the WHOLE banded-LSH pipeline replays in DuckDB
  * (see [[graft.dedup.Dedup.nearDuplicatesOracled]]).
  */
case class MinHashSigFromBases(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  private val P = 2147483647L

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig_from_bases"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(P)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val raw = arr.getLong(i)
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, ${P}L);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = (($a.getLong($i) % ${P}L) + ${P}L) % ${P}L;
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $v = ((2L * $k + 1L) * $h + (40503L * $k + 12345L)) % ${P}L;
         |    if ($v < $mins[$k]) $mins[$k] = $v;
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSigFromBases = copy(child = newChild)
}

/** SimHash (Charikar) over per-element base hashes (`array<long>`, see
  * [[BaseHashes]]): per-bit ±1 majority over the low `bits` bits, bit
  * set iff its counter ends strictly positive. Empty arrays fingerprint
  * to 0. `graft_simhash64` is this over xxhash64 bases at 64 bits; the
  * oracled lanes run it over md5-derived 60-bit bases, which replay in
  * ANSI SQL (see [[graft.dedup.DedupQueries]]).
  */
case class SimHashFromBases(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bits > 0 && bits <= 64, s"bits must be in 1..64, got $bits")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash_from_bases"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val counters = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val counters = ctx.freshName("counters")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $a.numElements();
         |int[] $counters = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $bits; $j++) {
         |    $counters[$j] += ((($h >>> $j) & 1L) != 0L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < $bits; $j++) {
         |  if ($counters[$j] > 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashFromBases = copy(child = newChild)
}

/** Per-element 64-bit base hash of an `array<string>` column in one
  * codegen'd loop — the first step of both near-dup hash families:
  *   - xxhash (`md5 = false`): Spark's seed-42 XXH64 of each element,
  *     identical to the SQL `xxhash64` function;
  *   - md5 (`md5 = true`): the value of the first 15 hex chars of
  *     md5(s) (= the big-endian long of the first 8 digest bytes >>> 4),
  *     identical to `conv(substring(md5(s),1,15),16,10)` and to
  *     DuckDB's `('0x' || substr(md5(s),1,15))::BIGINT`.
  *
  * Hashing per element in one projection avoids an explode →
  * collect_list regroup (the md5 built-in is per-ROW, and a HOF
  * transform lambda evaluates interpreted — the SpanDedup lesson): one
  * unboxed array<long> out, zero extra shuffles. Null elements (which the
  * shingle builders never produce) are skipped, mirroring the
  * null-dropping collect_list of the regroup formulation this replaces.
  */
case class BaseHashes(child: Expression, md5: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (md5) "graft_md5_bases" else "graft_xxhash64_bases"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        out(m) =
          if (md5) GraftDigest.md5Base60(s) else XXH64.hashUTF8String(s, 42L)
        m += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val elem = s"$a.getUTF8String($i)"
      val hash =
        if (md5) s"org.apache.spark.sql.graft.GraftDigest.md5Base60($elem)"
        else s"org.apache.spark.sql.catalyst.expressions.XXH64" +
          s".hashUTF8String($elem, 42L)"
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) $out[$m++] = $hash;
         |}
         |if ($m != $n) $out = java.util.Arrays.copyOf($out, $m);
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): BaseHashes = copy(child = newChild)
}

/** Thread-cached MD5 for [[BaseHashes]]' per-element loop (a
  * `MessageDigest.getInstance` per element would dominate the hash).
  */
object GraftDigest {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def md5Base60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md5.get().digest(s.getBytes) // digest() resets the instance
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Full 16-byte digest (for consumers deriving several independent
    * words from ONE digest per row, e.g. [[CmsSketch]]).
    */
  def md5Full(s: org.apache.spark.unsafe.types.UTF8String): Array[Byte] =
    md5.get().digest(s.getBytes)

  /** Word `d` (0..3) of a digest as an unsigned 32-bit value — equal to
    * `conv(substr(md5hex, 1 + 8d, 8), 16, 10)`, big-endian.
    */
  def word32(digest: Array[Byte], d: Int): Long = {
    val o = d * 4
    ((digest(o) & 0xFFL) << 24) | ((digest(o + 1) & 0xFFL) << 16) |
      ((digest(o + 2) & 0xFFL) << 8) | (digest(o + 3) & 0xFFL)
  }
}

/** Unicode NFC normalization (canonical composition) as a NATIVE
  * codegen'd expression — `java.text.Normalizer` with an `isNormalized`
  * fast path, so the hot path over already-composed text (the
  * overwhelming case in web corpora) allocates nothing and returns the
  * input `UTF8String` untouched. This is the normalization pass a text
  * pipeline must run BEFORE dedup/fingerprinting: composed (`é`) and
  * decomposed (`e` + U+0301) spellings of identical text otherwise hash
  * apart, silently splitting duplicate sets. Normalization of ASSIGNED
  * codepoints is FROZEN by the Unicode stability policy, so results
  * agree bit-for-bit with any conformant engine (DuckDB's
  * `nfc_normalize` — the oracle seam) regardless of Unicode version.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(a: Any): Any =
    GraftUnicode.nfc(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.GraftUnicode.nfc($a);")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

/** Aggressive canonicalization for dedup FINGERPRINT KEYS — NFKC
  * compatibility normalization, then locale-independent lowercasing,
  * then an NFC re-pass — as a native codegen'd expression
  * (`graft_nfkc_cf`). The [[NfcNormalize]] companion: NFC is the
  * content-preserving pass a pipeline applies to the text it KEEPS,
  * while near-dup fingerprints want the aggressive form where `ﬁle`,
  * `ＦＩＬＥ`, `File` and `ﬁle` all key identically (compatibility
  * variants and case differences are presentation, not content, for
  * duplicate detection). Fast path: ASCII-only input lowercases on the
  * raw bytes with zero Normalizer work — the overwhelming case in web
  * corpora.
  *
  * Scope note (honest contract): lowercasing is
  * `String.toLowerCase(Locale.ROOT)`, not full Unicode case folding —
  * the two differ on a handful of codepoints (ß stays ß rather than
  * becoming ss; full folding also differs on some dotted/dotless i
  * forms) — and default-ignorable removal (the NFKC_Casefold extra) is
  * out of scope. For fingerprint KEYING none of this matters: the map
  * is deterministic and collapses the compatibility/case axis, which
  * is the operator's whole contract. DuckDB has no nfkc function, so
  * this is a spec-pinned operator (golden fixtures in
  * NfkcCasefoldSpec), not an oracle gate lane — the SimHash precedent.
  */
case class NfkcCasefold(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfkc_cf"

  override def nullSafeEval(a: Any): Any =
    GraftUnicode.nfkcCf(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.GraftUnicode.nfkcCf($a);")

  override protected def withNewChildInternal(
      newChild: Expression): NfkcCasefold = copy(child = newChild)
}

/** Normalizer helpers for [[NfcNormalize]]/[[NfkcCasefold]]'s per-row
  * calls.
  */
object GraftUnicode {
  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val j = s.toString
    if (java.text.Normalizer.isNormalized(j,
        java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(j, java.text.Normalizer.Form.NFC))
  }

  def nfkcCf(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
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
    org.apache.spark.unsafe.types.UTF8String.fromString(out)
  }
}
