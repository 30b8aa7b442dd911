package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftKernels.JavaName
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for dense-vector math over `array<double>`.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`)
  * are CodegenFallback — every element hop is an interpreted virtual call
  * plus intermediate array allocations. For candidate-pair scoring in
  * similarity search / embedding dedup that cost dominates the whole query
  * (measured ~8× on the embeddings bench). These expressions run one
  * tight primitive loop each, kept once in [[GraftKernels]]: `nullSafeEval`
  * calls it and `doGenCode` emits a call to it, so the interpreted and
  * the codegen path cannot drift apart.
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

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$JavaName.dot($a, $b)")

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

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$JavaName.cosine($a, $b)")

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

  override def nullSafeEval(a: Any): Any =
    GraftKernels.doubleBits(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.doubleBits($a)")

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

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash_sig_from_bases"

  override def nullSafeEval(a: Any): Any =
    GraftKernels.minHashSig(a.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.minHashSig($a, $numHashes)")

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

  override def nullSafeEval(a: Any): Any =
    GraftKernels.simHash(a.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.simHash($a, $bits)")

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

  override def nullSafeEval(a: Any): Any =
    GraftKernels.baseHashes(a.asInstanceOf[ArrayData], md5)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.baseHashes($a, $md5)")

  override protected def withNewChildInternal(
      newChild: Expression): BaseHashes = copy(child = newChild)
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
    GraftKernels.nfc(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.nfc($a)")

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
    GraftKernels.nfkcCf(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$JavaName.nfkcCf($a)")

  override protected def withNewChildInternal(
      newChild: Expression): NfkcCasefold = copy(child = newChild)
}
