package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels — the preference-order step (b) of SURVEY
  * §7: used where a builtin composition would either break semantics or
  * cost too much (a Scala UDF would box every row and block codegen).
  *
  * Invariant: each kernel's per-row math is ONE function on its
  * companion object. `nullSafeEval` calls that function, and
  * `doGenCode` emits a single static call to the same function through
  * the companion's static forwarder, so the kernel stays inside
  * whole-stage codegen and the interpreted and generated paths cannot
  * drift apart. Row-constant inputs (centroid matrices, plane weights,
  * word sets) and task-reused scratch buffers are function arguments;
  * generated code holds them in per-task fields. The static call costs
  * no more per row than the same loop spelled inline as generated Java:
  * in a 400k-row local[4] microbench (ns/row, best of 7, 7 alternating
  * pairs) no kernel's median rose above the range of the inline
  * spelling's runs.
  *
  * Spark's default `spark.sql.codegen.fallback=true` swaps in the
  * interpreted path whenever generated code fails to compile, which
  * would hide a broken kernel call: KernelParitySpec runs every
  * registered kernel interpreted and codegen-only with fallback off and
  * asserts identical rows.
  */

/** FNV-1a 32-bit hash of a string's UTF-8 bytes — the reference's
  * consistent-hash placement function (utils/utils.go:8-14: files map to
  * the first ring member with HostHash >= fnv1a(filename)). Capability
  * parity for every place the reference makes hashing semantically
  * visible (O12).
  *
  * Returns the hash as an unsigned 32-bit value widened to LongType
  * (Go's uint32 has no JVM twin).
  */
case class Fnv1a32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fnv1a32 needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Fnv1a32.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a32.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a32 =
    copy(child = newChild)
}

object Fnv1a32 {
  def hash(bytes: Array[Byte]): Long = {
    var h = 2166136261L
    var i = 0
    while (i < bytes.length) {
      h = ((h ^ (bytes(i) & 0xffL)) * 16777619L) & 0xffffffffL
      i += 1
    }
    h
  }
  def apply(c: Column): Column = GraftShims.column(Fnv1a32(GraftShims.expression(c)))
}

/** Cosine similarity between two array<float> columns, computed in
  * double precision with a single fused loop — one pass over both
  * arrays for dot product and both norms, vs three separate
  * zip_with+aggregate array traversals (plus their per-element lambda
  * dispatch) in the builtin composition. Null if either array is null;
  * arrays must have equal length (mismatch throws, same as zip_with
  * would silently zip-pad — a mismatch is a data bug, surface it).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    if (Seq(left, right).forall(_.dataType match {
          case ArrayType(FloatType, _) => true; case _ => false }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs two array<float> arguments, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarity.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

object CosineSimilarity {
  def apply(a: Column, b: Column): Column =
    GraftShims.column(CosineSimilarity(
      GraftShims.expression(a), GraftShims.expression(b)))

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine_similarity: length mismatch $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }
}

/** Polynomial rolling hash over a string's code points:
  * `h = fold(0, cp => (h*257 + cp) mod 1e9+7)` — the codegen twin of
  * [[TextPrimitives.rollingHashSpark]]'s builtin spelling (which runs
  * interpreted: higher-order functions are CodegenFallback). Exactly the
  * same integer math, so results are oracle-identical; ~100× less
  * per-row overhead. Folds over CODE POINTS (like ascii()/ord()), not
  * UTF-8 bytes, to match the SQL spec on non-ASCII input.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"poly_hash needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      h = (h * 257L + cp) % 1000000007L
    }
    h
  }
  def apply(c: Column): Column = GraftShims.column(PolyHash(GraftShims.expression(c)))
}

/** 30-bit SimHash of an array<long> of feature hashes: bit j is set iff
  * a strict majority of features have bit j set. One fused loop with a
  * counter array, vs 30 interpreted ArrayFilter passes in the builtin
  * spelling (which made the fingerprint ~1000× slower and dominated the
  * whole benchmark). Output matches the SQL spec bit-for-bit.
  */
case class SimHash30(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash30 needs an array<bigint> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SimHash30.fingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash30.fingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash30 =
    copy(child = newChild)
}

object SimHash30 {
  def apply(c: Column): Column = GraftShims.column(SimHash30(GraftShims.expression(c)))

  def fingerprint(arr: ArrayData): Long = {
    val n = arr.numElements()
    val cnt = new Array[Int](30)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 30) { if (((h >> j) & 1L) == 1L) cnt(j) += 1; j += 1 }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 30) { if (2 * cnt(j) > n) sim |= (1L << j); j += 1 }
    sim
  }
}

/** All distinct word-3-gram rolling hashes of a token array, fused:
  * equivalent to `array_distinct(transform(shingles(w), g ->
  * poly_hash(g)))` where each shingle is `w[i] + ' ' + w[i+1] + ' ' +
  * w[i+2]` — but computed in one generated loop without materializing
  * the shingle strings (the builtin spelling's transform+concat_ws runs
  * interpreted and allocates every shingle). Arrays shorter than 3
  * tokens yield an empty array. */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(StringType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs an array<string> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.hashes($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def apply(c: Column): Column = GraftShims.column(ShingleHashes(GraftShims.expression(c)))

  def hashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 2 < n) {
      val g = arr.getUTF8String(i).toString + " " +
        arr.getUTF8String(i + 1).toString + " " + arr.getUTF8String(i + 2).toString
      out.add(PolyHash.hash(g))
      i += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    ArrayData.toArrayData(res)
  }
}

/** POSITIONAL word-`width`-gram rolling hashes of a token array: one
  * hash per starting position `i` in 0..n-width, order-preserving and
  * NOT deduplicated — `gs[i]` is the hash of `w[i] + ' ' + ... +
  * w[i+width-1]`, so array index IS span position. [[ShingleHashes]]'s
  * distinct-set output serves set-similarity (jaccard/minhash); span
  * dedup (d9) needs the position structure — which span of WHICH doc is
  * duplicated — so this keeps every occurrence. Arrays shorter than
  * `width` yield an empty array. Same fused per-row loop as the other
  * text kernels; equivalent builtin spelling
  * `transform(sequence(1, size(w)-width+1), i -> poly_hash(concat_ws(' ',
  * slice(w, i, width))))` is pinned in ExpressionsSpec. */
case class GramHashes(child: Expression, width: Int) extends UnaryExpression {
  require(width >= 1, s"gram_hashes needs width >= 1, got $width")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(StringType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gram_hashes needs an array<string> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    GramHashes.hashes(input.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.hashes($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {
  def apply(c: Column, width: Int): Column =
    GraftShims.column(GramHashes(GraftShims.expression(c), width))

  def hashes(arr: ArrayData, width: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - width + 1
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < width) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = PolyHash.hash(sb.toString)
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Apply a span MASK to a token array: given the tokens and the SORTED,
  * distinct start offsets of duplicated `width`-gram spans (d11's
  * manifest rows for one doc), drop every token covered by any masked
  * span — the union of [s, s+width-1] intervals — and rebuild the text
  * as the kept tokens joined by single spaces. One linear two-pointer
  * walk per row (tokens and starts advance together, overlapping spans
  * merge for free in `maskedUntil`); the builtin spelling is a per-token
  * `exists()` over the starts list — O(tokens × spans) interpreted
  * lambda calls (equivalence pinned in ExpressionsSpec). This is the CUT
  * step of Lee et al.'s dedup pipeline (ExactSubstr → cut), the d11
  * consumer. */
case class SpanCut(left: Expression, right: Expression, width: Int)
  extends BinaryExpression {
  require(width >= 1, s"span_cut needs width >= 1, got $width")
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if ((left.dataType match {
      case ArrayType(StringType, _) => true; case _ => false }) &&
      (right.dataType match {
        case ArrayType(LongType, _) => true; case _ => false }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"span_cut needs (array<string>, array<bigint>), got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(tokens: Any, starts: Any): Any =
    SpanCut.cut(tokens.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.SpanCut.cut($t, $s, $width)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanCut =
    copy(left = newLeft, right = newRight)
}

object SpanCut {
  def apply(tokens: Column, starts: Column, width: Int): Column =
    GraftShims.column(SpanCut(
      GraftShims.expression(tokens), GraftShims.expression(starts), width))

  def cut(w: ArrayData, s: ArrayData, width: Int): UTF8String = {
    val n = w.numElements()
    val m = s.numElements()
    val sb = new java.lang.StringBuilder()
    var maskedUntil = -1L
    var first = true
    var i = 0
    var j = 0
    while (i < n) {
      while (j < m && s.getLong(j) <= i) {
        val end = s.getLong(j) + width - 1
        if (end > maskedUntil) maskedUntil = end
        j += 1
      }
      if (i > maskedUntil) {
        if (!first) sb.append(' ')
        sb.append(w.getUTF8String(i).toString)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Morton (Z-order) key of two non-negative long columns: the low 16
  * bits of each input, bit-interleaved (a's bits at even positions) —
  * a space-filling-curve key whose SORT ORDER clusters rows that are
  * close in BOTH dimensions, so a range/sort layout on the key gives
  * multi-dimensional data skipping from one-dimensional file and
  * row-group min/max statistics (the Delta/Iceberg OPTIMIZE ZORDER
  * capability, as a plain deterministic expression). Inputs are
  * clamped into [0, 2^16): out-of-range dimension values saturate
  * rather than wrap — a saturated key still sorts adjacent to its
  * neighbors, while wraparound would teleport it across the curve. */
case class ZOrder2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"zorder2 needs two bigint arguments, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    ZOrder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZOrder2.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  /** Saturating 16-bit clamp + bit interleave (a even, b odd bits). */
  def interleave(a: Long, b: Long): Long = {
    val ca = math.min(math.max(a, 0L), 0xffffL)
    val cb = math.min(math.max(b, 0L), 0xffffL)
    var out = 0L
    var i = 0
    while (i < 16) {
      out |= ((ca >> i) & 1L) << (2 * i)
      out |= ((cb >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  def apply(a: Column, b: Column): Column =
    GraftShims.column(ZOrder2(GraftShims.expression(a), GraftShims.expression(b)))
}

/** All 16 MinHash signatures `min over ids of (a_k*x + b_k) mod P` in a
  * single pass over the id array — vs 16 interpreted
  * transform+array_min traversals. Constants are
  * [[TextPrimitives.minhashAB]], read from two `long[]` copies (not the
  * `Seq` of pairs, which would be indexed once per element × hash), so
  * the DuckDB oracle regenerates identical signatures. Empty input →
  * null (array_min of an empty array is null in the builtin spelling
  * too). */
case class MinHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(LongType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash16 needs an array<bigint> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    MinHash16.signature(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHash16.signature($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}

object MinHash16 {
  def apply(c: Column): Column = GraftShims.column(MinHash16(GraftShims.expression(c)))

  private val coefA: Array[Long] = TextPrimitives.minhashAB.map(_._1).toArray
  private val coefB: Array[Long] = TextPrimitives.minhashAB.map(_._2).toArray

  /** Null for an empty array. The modulus is [[TextPrimitives.P]]
    * spelled as a literal: a constant divisor lets the JIT replace the
    * 64-bit division with a multiply. */
  def signature(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val a = coefA
    val b = coefB
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var k = 0
      while (k < 16) {
        val h = (a(k) * x + b(k)) % 1000000007L
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}

/** Sign-random-projection LSH bucket (0..255) of an array<float>
  * embedding: 8 hyperplanes whose weights come from the literal LCG
  * `u = (1103515245·(p·64+k) + 12345) mod 2^31`, `w = u/2^31 − 0.5` —
  * the codegen twin of the builtin spelling in
  * [[graft.queries.AnnQueries]] (which runs interpreted: ~1M lambda
  * dispatches per 2000-vector scan). Same double accumulation order ⇒
  * identical buckets, pinned by test. */
case class LshBucket8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket8 needs an array<float> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    LshBucket8.bucket(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBucket8.bucket($c)")

  override protected def withNewChildInternal(newChild: Expression): LshBucket8 =
    copy(child = newChild)
}

object LshBucket8 {
  def apply(c: Column): Column = GraftShims.column(LshBucket8(GraftShims.expression(c)))

  def bucket(arr: ArrayData): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var p = 0
    while (p < 8) {
      var s = 0.0
      var k = 0
      while (k < n) {
        val u = (1103515245L * (p * 64 + k) + 12345L) % 2147483648L
        s += (u.toDouble / 2147483648.0 - 0.5) * arr.getFloat(k).toDouble
        k += 1
      }
      if (s > 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/** Banded sign-random-projection signatures of an array<float>
  * embedding: `bands` band values, each packing `bits` hyperplane signs
  * (plane index p = band·bits + j). Plane weights come from an
  * LCG→xorshift→LCG integer mix of n = p·dims+k:
  * `u₁ = (1103515245·n + 12345) mod 2³¹`, `u₂ = u₁ xor (u₁ >> 16)`,
  * `u₃ = (1103515245·u₂ + 12345) mod 2³¹`, `w = u₃/2³¹ − 0.5`.
  * The xorshift step matters: raw consecutive LCG outputs lie on a
  * coarse lattice (Marsaglia, "Random numbers fall mainly in the
  * planes"), which correlates the hyperplanes and was measured to cost
  * ~25 points of recall; every operation stays in non-overflowing
  * BIGINT arithmetic so the DuckDB oracle regenerates identical planes.
  *
  * This is the LSH-banding amplification (Leskovec/Rajaraman/Ullman,
  * "Mining of Massive Datasets" ch.3) applied to SRP: two vectors are
  * candidates iff ANY band matches exactly. With per-plane agreement
  * probability p = 1 − θ/π, candidate probability is
  * 1 − (1 − p^bits)^bands, while a non-matching random pair (p ≈ ½)
  * collides with probability ≈ 1 − (1 − 2^−bits)^bands — `bits` buys
  * precision, `bands` buys recall back; the regime-specific tuning
  * table lives at the call site ([[graft.queries.AnnQueries]]'s
  * s3Bands/s3Bits). One fused loop over all bands·bits planes.
  */
case class LshBandSigs(child: Expression, bands: Int, bits: Int, dims: Int)
    extends UnaryExpression {
  // bit j of a band is `1L << j`, which Java masks to `1L << (j & 63)`:
  // a 65th plane would silently fold onto bit 0
  require(bands >= 1 && bits >= 1 && bits <= 64 && dims >= 1,
    s"lsh_band_sigs needs bands >= 1, 1 <= bits <= 64 and dims >= 1, got $bands, $bits, $dims")
  require(bands.toLong * bits * dims <= Int.MaxValue,
    s"lsh_band_sigs: $bands bands × $bits bits × $dims dims overflows the weight array")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lsh_band_sigs needs an array<float> argument, got ${child.dataType}")

  @transient private lazy val planeWeights = LshBandSigs.weights(bands, bits, dims)

  override def nullSafeEval(input: Any): Any =
    LshBandSigs.signatures(input.asInstanceOf[ArrayData], bands, bits,
      planeWeights, new Array[Double](dims))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The plane weights are row-constant: fetch them ONCE per task from
    // the memoized matrix (bands·bits·dims LCG evaluations), leaving a
    // pure multiply-add dot product in the per-row loop — measured 20×
    // on the s3 signature scan vs deriving weights inline.
    val wField = ctx.addMutableState("double[]", "lshWeights",
      v => s"$v = graft.functions.LshBandSigs.weights($bands, $bits, $dims);")
    // The embedding's double[] copy is reused across rows (one
    // allocation per task). Measured quiet at sf0.1 (isolated bench
    // lines, min of two) against a per-row ArrayData read: s3
    // 2.77 → 1.71 s, s5 1.24 → 0.99 s.
    val vField = ctx.addMutableState("double[]", "lshVec", v => s"$v = new double[$dims];")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshBandSigs.signatures($c, $bands, $bits, $wField, $vField)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandSigs =
    copy(child = newChild)
}

object LshBandSigs {
  def apply(c: Column, bands: Int, bits: Int, dims: Int = 64): Column =
    GraftShims.column(LshBandSigs(GraftShims.expression(c), bands, bits, dims))

  /** Memoized plane-weight matrix (w[p·n + k] for plane p, dim k) from
    * the literal LCG→xorshift→LCG mix — the formula the DuckDB oracle
    * replicates. Thread-safe; one entry per (bands, bits, dims) shape. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()
  def weights(bands: Int, bits: Int, n: Int): Array[Double] =
    cache.computeIfAbsent((bands, bits, n), { _ =>
      val w = new Array[Double](bands * bits * n)
      var p = 0
      while (p < bands * bits) {
        var k = 0
        while (k < n) {
          // stride = dims: distinct LCG input per (plane, dim) pair
          val u1 = (1103515245L * (p * n + k) + 12345L) % 2147483648L
          val u2 = u1 ^ (u1 >> 16)
          val u3 = (1103515245L * u2 + 12345L) % 2147483648L
          w(p * n + k) = u3.toDouble / 2147483648.0 - 0.5
          k += 1
        }
        p += 1
      }
      w
    })

  /** The `bands` signatures of one embedding. `w` is [[weights]] for
    * this shape and `v` a scratch buffer of `dims` doubles. */
  def signatures(arr: ArrayData, bands: Int, bits: Int,
      w: Array[Double], v: Array[Double]): ArrayData = {
    val n = arr.numElements()
    // the weight formula strides by `dims`; an embedding of a different
    // length would silently reuse LCG inputs across adjacent planes
    // (re-correlating the hyperplanes), so a mismatch is an error
    require(n == v.length,
      s"lsh_band_sigs: embedding has $n dims, expression built for ${v.length}")
    // hoist the embedding out of ArrayData ONCE: the plane loops read
    // every element bands·bits times, and going through the ArrayData
    // interface (virtual dispatch + float→double per read) on each of
    // those reads dominates the kernel — a local double[] turns the
    // inner loop into a pure array dot product the JIT can vectorize
    var k0 = 0
    while (k0 < n) { v(k0) = arr.getFloat(k0).toDouble; k0 += 1 }
    val sigs = new Array[Long](bands)
    var g = 0
    while (g < bands) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val base = (g * bits + j) * n
        var s = 0.0
        var k = 0
        while (k < n) {
          s += w(base + k) * v(k)
          k += 1
        }
        if (s > 0.0) sig |= (1L << j)
        j += 1
      }
      sigs(g) = sig
      g += 1
    }
    ArrayData.toArrayData(sigs)
  }
}

/** Squared L2 distance between an array<double> column (an IVF
  * centroid) and an array<float> column (an embedding), in one fused
  * codegen loop — the builtin `aggregate(zip_with(c, x, (a,b) ->
  * (a-b)*(a-b)), 0.0, +)` spelling is two interpreted higher-order
  * passes per pair. Same left-to-right fold order ⇒ bit-identical
  * doubles on non-null input, so the DuckDB oracle and the pinned
  * builtin spelling both still match; a null ELEMENT yields a null
  * distance (as the builtin's NULL propagation does), while a length
  * mismatch throws — a data bug, surfaced, the same stance as
  * [[CosineSimilarity]]. */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    if ((left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) => true
      case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"l2_sq needs (array<double>, array<float>), got ${left.dataType}, ${right.dataType}")

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val s = L2SquaredDistance.distance(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (s < 0.0) null else s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.L2SquaredDistance.distance($a, $b);
         |${ev.isNull} = ${ev.value} < 0.0;""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SquaredDistance =
    copy(left = l, right = r)
}

object L2SquaredDistance {
  def apply(a: Column, b: Column): Column =
    GraftShims.column(L2SquaredDistance(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** The distance, or -1.0 for a null element: a sum of squares is
    * never negative (NaN compares false), so the sentinel carries the
    * null without boxing the result. */
  def distance(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"l2_sq: length mismatch $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT yields a null distance, matching the builtin
      // zip_with spelling ((cx - NULL) propagates NULL through the sum)
      if (a.isNullAt(i) || b.isNullAt(i)) return -1.0
      val d = a.getDouble(i) - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }
}

/** Count of BPE-pretokenizer-shaped tokens — matches of
  * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` — in one pass over the string's
  * code points, without the regex engine or materializing every match
  * the way `size(regexp_extract_all(...))` must. Semantics pinned
  * against the regex spelling in tests (letter runs and digit runs
  * count once; any other non-whitespace code point counts alone; `\s`
  * is the regex default ASCII class). */
case class BpeTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    BpeTokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeTokenCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeTokenCount {
  private def isLetter(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  // java.util.regex default \s: [ \t\n\x0B\f\r]
  private def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Counts directly over the UTF-8 bytes — no String materialization
    * or UTF-16 decode per row: every classified character (letters,
    * digits, default-regex \s) is ASCII, and any non-ASCII code point
    * counts as one token (a multi-byte sequence = one lead byte +
    * skipped continuation bytes). */
  def count(s: UTF8String): Int = {
    val nb = s.numBytes()
    var n = 0
    var i = 0
    while (i < nb) {
      val b = s.getByte(i) & 0xff
      if (b < 0x80) {
        if (isLetter(b)) {
          n += 1
          while (i < nb && isLetter(s.getByte(i) & 0xff)) i += 1
        } else if (isDigit(b)) {
          n += 1
          while (i < nb && isDigit(s.getByte(i) & 0xff)) i += 1
        } else {
          if (!isWs(b)) n += 1
          i += 1
        }
      } else {
        // lead byte of a multi-byte code point: one token per code point
        n += 1
        i += UTF8String.numBytesForFirstByte(s.getByte(i))
      }
    }
    n
  }

  def count(s: String): Int = count(UTF8String.fromString(s))

  def apply(c: Column): Column = GraftShims.column(BpeTokenCount(GraftShims.expression(c)))
}

/** All character trigrams of the lowercased string, code-point-correct,
  * in one pass — the builtin `transform(sequence(1, n-2), i ->
  * substring(lower(text), i, 3))` spelling interprets one lambda per
  * trigram and re-evaluates lower() per element. Pinned against the
  * builtin spelling in tests; empty result below 3 code points. */
case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_trigrams needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CharTrigrams.trigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharTrigrams.trigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): CharTrigrams =
    copy(child = newChild)
}

object CharTrigrams {
  def apply(c: Column): Column = GraftShims.column(CharTrigrams(GraftShims.expression(c)))

  def trigrams(text: UTF8String): ArrayData = {
    val s = text.toLowerCase.toString
    // code-point offsets (substring semantics are code-point-based in
    // both engines; identical to char offsets on ASCII/BMP input)
    val offs = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < s.length) { offs.add(i); i += Character.charCount(s.codePointAt(i)) }
    offs.add(s.length)
    val n = offs.size - 1
    if (n < 3) return ArrayData.toArrayData(Array.empty[UTF8String])
    val out = new Array[UTF8String](n - 2)
    var k = 0
    while (k < n - 2) {
      out(k) = UTF8String.fromString(s.substring(offs.get(k), offs.get(k + 3)))
      k += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Count of tokens that belong to a literal word set — the kernel
  * behind stopword scoring (language ID, quality score). The builtin
  * spelling `size(filter(w, t -> t IN (...)))` is a higher-order
  * function and therefore CodegenFallback: one interpreted lambda
  * dispatch per TOKEN per language. Here the set probe runs in a tight
  * loop against a prebuilt HashSet (one static call per ROW), which cut
  * t1's four-language scan ~3× at sf0.1. */
case class StopHits(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(StringType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"stop_hits needs an array<string> argument, got ${child.dataType}")

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    StopHits.hits(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopWords", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.StopHits.hits($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopHits =
    copy(child = newChild)
}

object StopHits {
  def hits(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }
}

/** Every stride-th single-space-delimited token of a string, rejoined
  * with single spaces — the codegen twin of
  * `concat_ws(' ', filter(transform(split(s, ' '), (t, i) -> ...), i % stride = 0).t)`.
  * The builtin spelling routes through ArrayTransform/ArrayFilter,
  * which are CodegenFallback (interpreted, one closure call per
  * element per row) and allocate the full token array plus a struct
  * per token just to throw 7/8 of it away; this walks the UTF-8 bytes
  * once and copies only the kept tokens. Byte-level split on 0x20 is
  * exact: a space byte never occurs inside a multi-byte UTF-8
  * sequence, and like `split` with its default -1 limit it keeps
  * empty tokens (consecutive/trailing spaces) so token INDICES — what
  * the stride selects on — agree with the builtin spelling
  * (equivalence pinned in ExpressionsSpec). */
case class StrideSampleTokens(child: Expression, stride: Int) extends UnaryExpression {
  require(stride > 0, s"stride_sample stride must be positive, got $stride")
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"stride_sample needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    StrideSampleTokens.sample(input.asInstanceOf[UTF8String], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StrideSampleTokens.sample($c, $stride)")

  override protected def withNewChildInternal(newChild: Expression): StrideSampleTokens =
    copy(child = newChild)
}

object StrideSampleTokens {
  /** One pass over the bytes: token boundaries at each 0x20, token i
    * kept iff i % stride == 0, kept tokens joined by a single space.
    * Called from generated code (static forwarder), so it must stay a
    * plain (UTF8String, int) -> UTF8String signature. */
  def sample(s: UTF8String, stride: Int): UTF8String = {
    val bytes = s.getBytes
    val out = new java.io.ByteArrayOutputStream(bytes.length / stride + 8)
    var tokenStart = 0
    var tokenIdx = 0
    var first = true
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (tokenIdx % stride == 0) {
          if (!first) out.write(' ')
          out.write(bytes, tokenStart, i - tokenStart)
          first = false
        }
        tokenIdx += 1
        tokenStart = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  def apply(c: Column, stride: Int): Column =
    GraftShims.column(StrideSampleTokens(GraftShims.expression(c), stride))
}

/** Per-document repetition statistics in one fused pass over the token
  * array: `[max word multiplicity, distinct adjacent-bigram count]` —
  * the two counts behind the classic repetition quality gates (a doc
  * dominated by one word, or stitched from repeated phrases, is
  * boilerplate/spam, not prose). Counts are INTEGERS so the DuckDB
  * oracle (histogram + list_distinct over the same split) reproduces
  * them exactly; the fractions are derived downstream from these
  * counts on both engines with identical IEEE division. The builtin
  * spelling needs an explode + two shuffled aggregates per doc for the
  * mode count; this is a per-row hash loop at scan speed. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(StringType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"repeat_stats needs an array<string> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.counts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  def apply(c: Column): Column = GraftShims.column(RepetitionStats(GraftShims.expression(c)))

  def counts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var top = 0L
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      val c = counts.merge(w, 1, (a, b) => a + b)
      if (c > top) top = c.toLong
      i += 1
    }
    // adjacent bigrams, joined with the same single space the split
    // removed — words cannot contain spaces, so the join is injective
    val bigrams = new java.util.HashSet[String](n * 2)
    i = 0
    while (i + 1 < n) {
      bigrams.add(arr.getUTF8String(i).toString + " " + arr.getUTF8String(i + 1).toString)
      i += 1
    }
    ArrayData.toArrayData(Array[Long](top, bigrams.size.toLong))
  }
}

/** Per-document CHARACTER-level statistics in one fused pass over the
  * text's code points: `[n_codepoints, distinct codepoints, max
  * codepoint multiplicity, Σ multiplicity²]` — the integer ingredients
  * of the character-diversity quality gates (Simpson concentration =
  * Σc²/n², effective alphabet = its reciprocal) that catch mojibake,
  * binary-pasted-as-text and single-character flooding, which
  * word-level gates (repeat_stats) are blind to because a garbage
  * "word" is still one token. All four are exact integers, so the
  * DuckDB twin (unnest characters + grouped counts) reproduces them
  * bit-for-bit and derived ratios divide identically. The builtin
  * spelling explodes every CHARACTER of the corpus through a shuffled
  * per-(doc, char) aggregate — at 100 TB that's a corpus-of-codepoints
  * shuffle vs this per-row hash loop at scan speed. Counting is by
  * CODE POINT (not UTF-16 unit), matching DuckDB's character
  * semantics; multiplicities fit an int (docs are bounded by the
  * engine's 2 GB string limit). */
case class CharStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_stats needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CharStats.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharStats.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}

object CharStats {
  def apply(c: Column): Column = GraftShims.column(CharStats(GraftShims.expression(c)))

  def counts(text: UTF8String): ArrayData = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Integer](64)
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var top = 0L
    var sumSq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toLong
      if (c > top) top = c
      sumSq += c * c
    }
    ArrayData.toArrayData(Array[Long](n, counts.size.toLong, top, sumSq))
  }
}

/** Unicode NFC normalization — the canonicalization a multilingual
  * curation pipeline runs BEFORE tokenizing, shingling or hashing: the
  * same text crawled from two sources can differ only in
  * composed-vs-decomposed accents ("é" as U+00E9 vs U+0065+U+0301 —
  * byte-different, render-identical), and every downstream exact-dedup
  * / fingerprint / shingle operator would otherwise treat them as
  * different documents. Delegates to the JDK's `java.text.Normalizer`;
  * Unicode normalization is STABLE (normalized output of assigned code
  * points never changes across Unicode versions), which is also why
  * DuckDB's utf8proc-based `nfc_normalize` agrees byte-for-byte and
  * the oracle can gate the full pipeline. Codegen is one static call —
  * stays inside whole-stage codegen. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def apply(c: Column): Column = GraftShims.column(NfcNormalize(GraftShims.expression(c)))

  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
}

/** Symmetric int8 quantization statistics for an embedding vector, in
  * one fused pass: `struct(scale, q_sum, q_min, q_max, n_sat)` where
  * `scale = max |x_i|` and `q_i = sign(x_i) · floor(|x_i|/scale·127 +
  * 0.5)` (round-half-away, spelled via floor so the arithmetic is
  * IEEE-identical on any engine — no dependence on a round() tie mode).
  * This is the compression step an ANN/retrieval store runs before
  * indexing 100 TB of embeddings (4× smaller than float32, dot products
  * in int8 SIMD); the stats are the validation artifact: saturation
  * count, range, and the checksum-ish q_sum. Quantized values are kept
  * as LONGs end-to-end so no negative-zero double can leak into the
  * oracle hash. The builtin spelling is four interpreted higher-order
  * traversals per row; this is one fused loop at scan speed. */
case class Int8QuantStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("q_min", LongType, nullable = false),
    StructField("q_max", LongType, nullable = false),
    StructField("n_sat", LongType, nullable = false)))
  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int8_quant_stats needs an array<float> argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Int8QuantStats.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Int8QuantStats.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

object Int8QuantStats {
  def apply(c: Column): Column = GraftShims.column(Int8QuantStats(GraftShims.expression(c)))

  def stats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var scale = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(arr.getFloat(i).toDouble)
      if (v > scale) scale = v
      i += 1
    }
    var qsum = 0L; var qmin = 0L; var qmax = 0L; var nsat = 0L
    if (n > 0 && scale > 0.0) {
      qmin = Long.MaxValue; qmax = Long.MinValue
      i = 0
      while (i < n) {
        val x = arr.getFloat(i).toDouble
        val m = math.floor(math.abs(x) / scale * 127.0 + 0.5).toLong
        val q = if (x < 0) -m else m
        qsum += q
        if (q < qmin) qmin = q
        if (q > qmax) qmax = q
        if (m >= 127L) nsat += 1
        i += 1
      }
    }
    InternalRow(scale, qsum, qmin, qmax, nsat)
  }
}

/** Greedy longest-match subword token count over the fixed
  * [[TextPrimitives.subwordVocab]] — tokenizer-accurate counting for
  * packing/mixing budgets, where t3's whitespace and BPE-shape counts
  * under-estimate real subword sequence lengths. At each position:
  * the longest vocabulary piece (length 4 → 2) matching the current
  * prefix is one token; otherwise one CODE POINT is one token (the
  * OOV fallback); the ASCII space is a separator (consumed, never
  * counted), so whole-text counting equals per-word counting — the
  * fact the per-word recursive DuckDB twin relies on. One fused pass
  * over the UTF-8 bytes, allocation-free: pieces are matched as
  * packed big-endian ints against per-length sorted arrays (the
  * vocabulary is ASCII, so a window containing a space or a
  * non-ASCII byte can never match and is skipped cheaply). The
  * builtin spelling would be a per-position lambda over the
  * vocabulary list — interpreted, allocating, and ~vocab× the
  * comparisons. Callers lowercase first (`subword_count(lower(text))`)
  * so case folding stays with the engines' lower(), which the t5
  * precedent already proves cross-engine identical. */
case class SubwordCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"subword_count needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SubwordCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SubwordCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): SubwordCount =
    copy(child = newChild)
}

object SubwordCount {
  private val maxLen = TextPrimitives.subwordVocab.map(_.length).max
  require(maxLen <= 4 && TextPrimitives.subwordVocab.forall(v =>
    v.length >= 2 && v.forall(c => c >= 'a' && c <= 'z')),
    "subword vocab must be lowercase ASCII pieces of length 2-4")

  private def packed(len: Int): Array[Int] =
    TextPrimitives.subwordVocab.filter(_.length == len)
      .map(_.foldLeft(0)((a, c) => (a << 8) | (c & 0xff))).sorted.toArray
  private val p2 = packed(2)
  private val p3 = packed(3)
  private val p4 = packed(4)
  private def table(len: Int): Array[Int] =
    if (len == 4) p4 else if (len == 3) p3 else p2

  def count(s: UTF8String): Long = {
    val nb = s.numBytes()
    var i = 0
    var n = 0L
    while (i < nb) {
      val b = s.getByte(i) & 0xff
      if (b == ' ') {
        i += 1 // separator: consumed, not counted
      } else if (b >= 0x80) {
        n += 1 // OOV fallback: one token per code point
        i += UTF8String.numBytesForFirstByte(s.getByte(i))
      } else {
        var step = 1
        var l = math.min(maxLen, nb - i)
        while (step == 1 && l >= 2) {
          var k = 0
          var key = 0
          var ok = true
          while (ok && k < l) {
            val bb = s.getByte(i + k) & 0xff
            if (bb >= 'a' && bb <= 'z') key = (key << 8) | bb else ok = false
            k += 1
          }
          if (ok && java.util.Arrays.binarySearch(table(l), key) >= 0) step = l
          l -= 1
        }
        n += 1
        i += step
      }
    }
    n
  }

  def count(s: String): Long = count(UTF8String.fromString(s))

  def apply(c: Column): Column = GraftShims.column(SubwordCount(GraftShims.expression(c)))
}

/** l22's fused BPE-apply kernel: tokenize `child` with a LEARNED merge
  * table (constructor parameter — driver-collected from l19's train,
  * so no SQL-literal injection surface) and return the resulting
  * symbol count. Semantics are EXACTLY the layered greedy fold chain
  * it replaces (pinned as the spec in ExpressionsSpec): words split on
  * ' ' (empties skipped), symbols start as code points, and each merge
  * in training order does one greedy left-to-right non-overlapping
  * pass per word. The chain spelling runs ~8 interpreted lambda
  * invocations per SYMBOL per row (measured 14.9× wall on the second
  * scaling decade — the m3 lesson again); this kernel is one JVM call
  * per row. */
case class BpeApplyCount(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_apply_count needs a string argument, got ${child.dataType}")

  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

  override def nullSafeEval(input: Any): Any =
    BpeApplyCount.count(input.asInstanceOf[UTF8String].toString, mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", mergeArr, "scala.Tuple2[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeApplyCount.count($c.toString(), $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyCount =
    copy(child = newChild)
}

object BpeApplyCount {
  def apply(c: Column, merges: Seq[(String, String)]): Column =
    GraftShims.column(BpeApplyCount(GraftShims.expression(c), merges))

  /** One greedy left-to-right pass per merge per word, in merge order.
    * In-place on a reusable symbol buffer: `m` is the live symbol
    * count; a fired merge writes l+r at the left slot and compacts the
    * tail by one. */
  def count(text: String, merges: Array[(String, String)]): Long = {
    var total = 0L
    val syms = new java.util.ArrayList[String](64)
    var i = 0
    val n = text.length
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        // word boundary: apply the merges to the buffered word
        if (!syms.isEmpty) {
          var k = 0
          while (k < merges.length) {
            val l = merges(k)._1
            val r = merges(k)._2
            // the fold's greedy rule verbatim: merge the incoming
            // symbol into the LAST OUTPUT when the pair matches; a
            // just-merged l+r can never equal l (r non-empty), so
            // consumed positions never re-merge — Sennrich's scan
            var w = 0 // write cursor (live output count)
            var rd = 0 // read cursor
            while (rd < syms.size) {
              if (w > 0 && syms.get(w - 1) == l && syms.get(rd) == r) {
                syms.set(w - 1, l + r)
              } else {
                if (w < rd) syms.set(w, syms.get(rd))
                w += 1
              }
              rd += 1
            }
            // trim the tail
            while (syms.size > w) syms.remove(syms.size - 1)
            k += 1
          }
          total += syms.size
          syms.clear()
        }
      } else {
        // symbols start as code points (match split(wd, '') semantics)
        val cp = text.codePointAt(i)
        val len = Character.charCount(cp)
        syms.add(text.substring(i, i + len))
        i += len - 1
      }
      i += 1
    }
    total
  }
}

/** SQL registration so the spark.sql-built queries can call the codegen
  * expressions by name. Idempotent; call before any spark.sql text that
  * references them. */
object GraftFunctions {
  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)  => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got $other")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("poly_hash", exprs => PolyHash(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash30", exprs => SimHash30(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("fnv1a32", exprs => Fnv1a32(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes", exprs => ShingleHashes(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash16", exprs => MinHash16(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_similarity",
      exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("lsh_band_sigs",
      exprs => LshBandSigs(exprs(0),
        litInt(exprs(1), "lsh_band_sigs"), litInt(exprs(2), "lsh_band_sigs"),
        if (exprs.length > 3) litInt(exprs(3), "lsh_band_sigs") else 64), "scala_udf")
    // an AggregateFunction returned bare: the analyzer wraps it in the
    // AggregateExpression (Complete) when it resolves the call site
    reg.createOrReplaceTempFunction("kmv_distinct",
      exprs => KmvDistinct(exprs(0), litInt(exprs(1), "kmv_distinct")), "scala_udf")
    reg.createOrReplaceTempFunction("misra_gries",
      exprs => MisraGries(exprs(0), litInt(exprs(1), "misra_gries")), "scala_udf")
    reg.createOrReplaceTempFunction("gram_hashes",
      exprs => GramHashes(exprs(0), litInt(exprs(1), "gram_hashes")), "scala_udf")
    reg.createOrReplaceTempFunction("span_cut",
      exprs => SpanCut(exprs(0), exprs(1), litInt(exprs(2), "span_cut")), "scala_udf")
    reg.createOrReplaceTempFunction("bloom_agg",
      exprs => BloomAgg(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("bloom_maybe",
      exprs => BloomMaybe(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("stride_sample",
      exprs => StrideSampleTokens(exprs(0), litInt(exprs(1), "stride_sample")), "scala_udf")
    reg.createOrReplaceTempFunction("deletion_nbh_hashes",
      exprs => DeletionNbhHashes(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("bpe_token_count",
      exprs => BpeTokenCount(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("subword_count",
      exprs => SubwordCount(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("char_trigrams",
      exprs => CharTrigrams(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("repeat_stats",
      exprs => RepetitionStats(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("char_stats",
      exprs => CharStats(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize",
      exprs => NfcNormalize(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("int8_quant_stats",
      exprs => Int8QuantStats(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("stop_hits",
      exprs => StopHits(exprs(0), exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, StringType) =>
          // filter(_.nonEmpty): ''.split(" ") is Seq(""), and an empty
          // "word" would count every empty token split() emits
          s.toString.split(" ").toSeq.filter(_.nonEmpty)
        case other => throw new IllegalArgumentException(
          s"stop_hits expects a string literal word list, got $other")
      }), "scala_udf")
  }
}

/** The distinct XXH64(seed 42) hashes of a string's ≤2-deletion
  * neighborhood — t11's SymSpell blocking keys (Garbe's deletion
  * variants) in ONE codegen'd kernel instead of the builtin chain
  * `xxhash64(explode(array_distinct(concat(array(p), d1,
  * flatten(transform(d1, deletions1))))))`.
  *
  * Why the builtin spelling was the hot path's cost (guide §1.2 step 2,
  * the LshBandSigs recipe): per row it materializes ~257 UTF8String
  * variants (the ORDERED double deletions, i.e. n + n·(n−1) strings plus
  * the original, each a fresh concat allocation), then `array_distinct`
  * compares them pairwise — O(257²/2) ≈ 33 k string comparisons per
  * document — and only then hashes the survivors. This kernel walks the
  * code-point boundaries once and emits the hash of each UNORDERED
  * deletion set (1 + n + n·(n−1)/2 ≈ 137 variants for n = 16) by
  * assembling ≤ 16 bytes in a reusable buffer — no string allocation,
  * no quadratic string dedup (dedup happens on the 137 sorted longs).
  *
  * EQUIVALENCE to the builtin spelling (the oracle-facing claim): the
  * variant STRING SET is identical — deleting two characters in either
  * order yields the same string, so ordered double deletions collapse
  * to the i<j subsets this kernel enumerates — and both spellings hash
  * with XXH64 seed 42 (Spark's xxhash64). Deduplicating by hash instead
  * of by string differs only if two DISTINCT variants collide in
  * XXH64 — and t11's output is invariant even then: hashes are used
  * only as equi-join blocking keys, a collision only ADDS a candidate
  * pair, and every candidate is verified by the exact levenshtein ≤ 2
  * filter (dist(s,t) ≤ 2 pairs already share a true variant, so no
  * pair can be GAINED or LOST). ExpressionsSpec pins kernel == builtin
  * spelling on real documents and crafted unicode edges.
  *
  * Output is SORTED ascending (a by-product of the dedup) — callers
  * treat it as a set. Code points, not bytes or UTF-16 chars: variant
  * boundaries replicate UTF8String's substring semantics (a 4-byte
  * emoji is ONE deletable character), so the kernel agrees with the
  * builtin spelling on any unicode input. */
case class DeletionNbhHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"deletion_nbh_hashes needs a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    DeletionNbhHashes.hashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeletionNbhHashes.hashes($c)")

  override protected def withNewChildInternal(newChild: Expression): DeletionNbhHashes =
    copy(child = newChild)
}

object DeletionNbhHashes {
  def apply(c: Column): Column =
    GraftShims.column(DeletionNbhHashes(GraftShims.expression(c)))

  private val SEED = 42L // Spark's xxhash64 default seed
  private val BYTE_OFF = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  private def xxh(buf: Array[Byte], len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(buf, BYTE_OFF, len, SEED)

  /** See the expression doc. */
  def hashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // code-point boundaries: a byte that is not a UTF-8 continuation
    // byte (10xxxxxx) starts a character — same classification
    // UTF8String.numBytesForFirstByte induces
    var n = 0
    var b = 0
    val offs = new Array[Int](len + 1)
    while (b < len) {
      if ((bytes(b) & 0xC0) != 0x80) { offs(n) = b; n += 1 }
      b += 1
    }
    offs(n) = len
    val out = new Array[Long](1 + n + n * (n - 1) / 2)
    var m = 0
    out(m) = xxh(bytes, len); m += 1
    val buf = new Array[Byte](len)
    var i = 0
    while (i < n) {
      // delete code point i: bytes [0, offs(i)) ++ [offs(i+1), len)
      val headI = offs(i)
      System.arraycopy(bytes, 0, buf, 0, headI)
      System.arraycopy(bytes, offs(i + 1), buf, headI, len - offs(i + 1))
      val lenI = len - (offs(i + 1) - headI)
      out(m) = xxh(buf, lenI); m += 1
      // delete code points i < j: drop j's bytes from the i-deleted buf
      // (j's bytes sit at offs(j) - width(i) in buf)
      val wI = offs(i + 1) - headI
      var j = i + 1
      while (j < n) {
        val from = offs(j) - wI
        val wJ = offs(j + 1) - offs(j)
        System.arraycopy(buf, from + wJ, buf, from, lenI - (from + wJ))
        out(m) = xxh(buf, lenI - wJ); m += 1
        // restore the bytes the inner deletion shifted
        System.arraycopy(bytes, offs(j), buf, from, lenI - from)
        j += 1
      }
      i += 1
    }
    // dedup on the sorted hashes (equal variant strings → equal hashes)
    java.util.Arrays.sort(out, 0, m)
    var d = 0
    var k = 1
    while (k < m) {
      if (out(k) != out(d)) { d += 1; out(d) = out(k) }
      k += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, math.min(d + 1, m)))
  }
}

/** Common shape of the two nearest-cell expressions: an array<float>
  * embedding scored against a LITERAL coarse-quantizer centroid matrix
  * (driver-side data, KBs — the same payload the LocalRelation form of
  * the quantizer already embeds in the plan). Round 18: these kernels
  * replace the broadcast-crossJoin + min_by aggregate (one corpus-sized
  * exchange per consumer) and the crossJoin + TopKPerKey probe-list
  * spellings — cell assignment becomes a zero-shuffle projection over
  * the scan, like a real IVF assign. A literal `array_min(array(struct(
  * l2², label)...))` composition computes the same thing but pays for
  * itself twice: ~650 literal nodes per call site bloat every optimizer
  * pass, and ArrayMin/ArraySort are interpreted — measured +0.4 s on
  * s15 at sf0.1 before this kernel replaced it.
  *
  * Selection semantics: distances accumulate left-to-right exactly like
  * [[L2SquaredDistance]] (`cent[k] - (double) emb[k]`, `s += d·d`), so
  * the selection is bit-identical to the retired `min_by(label,
  * struct(dist, label))` aggregate and `TopKPerKey` orderings. Ties
  * (equal distance) keep the SMALLER label: centroids are scanned in
  * ascending label order and only a strictly smaller distance displaces
  * a kept entry — the lexicographic (d, label) order of the old struct
  * spellings. NaN compares like Spark doubles (largest, equal to
  * itself) via java.lang.Double.compare. A null embedding element makes
  * every distance NULL, and the old struct orderings put (NULL, label)
  * first with the label as tie-break — so the n smallest labels win.
  * Equivalence to the retired spellings is pinned in AnnRecallSweepSpec
  * + ExpressionsSpec.
  *
  * The embedding is copied into a `dims`-long double[] (task-reused in
  * generated code, the LshBandSigs pattern) so the distance loops read
  * contiguous doubles. */
trait NearestCellsBase extends UnaryExpression {
  def labels: Seq[Long]
  def centroids: Seq[Seq[Double]]
  require(labels.nonEmpty && labels.size == centroids.size,
    s"nearest_cells: ${labels.size} labels vs ${centroids.size} centroids")
  require(labels == labels.sorted && labels.distinct.size == labels.size,
    "nearest_cells: labels must be ascending and distinct (the tie-break order)")
  require(centroids.forall(_.size == centroids.head.size),
    "nearest_cells: ragged centroid matrix")

  protected val dims: Int = centroids.head.size
  @transient protected lazy val flatCents: Array[Double] = centroids.flatten.toArray
  @transient protected lazy val labelArr: Array[Long] = labels.toArray

  override def checkInputDataTypes() =
    if (child.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<float> argument, got ${child.dataType}")

  /** Generated-code names of the per-task scratch vector, the
    * centroid matrix and the labels: "vec, cents, labels". */
  protected def genArgs(ctx: CodegenContext): String = {
    val vField = ctx.addMutableState("double[]", "ncVec", v => s"$v = new double[$dims];")
    val cField = ctx.addReferenceObj("ncCents", flatCents, "double[]")
    val lField = ctx.addReferenceObj("ncLabels", labelArr, "long[]")
    s"$vField, $cField, $lField"
  }
}

/** Nearest-cell LABEL (argmin by (l2² distance, label)) — the cell
  * assignment of one embedding under a literal trained quantizer. */
case class NearestCellLabel(child: Expression, labels: Seq[Long],
    centroids: Seq[Seq[Double]]) extends NearestCellsBase {
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell_label"

  override def nullSafeEval(input: Any): Any =
    NearestCellLabel.label(input.asInstanceOf[ArrayData], new Array[Double](dims),
      flatCents, labelArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = genArgs(ctx)
    defineCodeGen(ctx, ev, c => s"graft.functions.NearestCellLabel.label($c, $args)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellLabel =
    copy(child = newChild)
}

object NearestCellLabel {
  def apply(emb: Column, cent: Seq[(Long, Seq[Double])]): Column =
    GraftShims.column(NearestCellLabel(GraftShims.expression(emb),
      cent.map(_._1), cent.map(_._2)))

  /** Label of the nearest centroid. `v` is scratch of `dims` doubles;
    * `cents` is labels.length × dims, row-major, ascending-label order. */
  def label(emb: ArrayData, v: Array[Double], cents: Array[Double], labels: Array[Long]): Long = {
    if (!NearestCells.extract(emb, v, "nearest_cell_label")) return labels(0)
    val dims = v.length
    var bd = 0.0
    var bl = labels(0)
    var first = true
    var c = 0
    while (c < labels.length) {
      val base = c * dims
      var s = 0.0
      var k = 0
      while (k < dims) {
        val d = cents(base + k) - v(k)
        s += d * d
        k += 1
      }
      if (first || java.lang.Double.compare(s, bd) < 0) { bd = s; bl = labels(c); first = false }
      c += 1
    }
    bl
  }
}

/** The `n` nearest cell labels ascending by (l2² distance, label) —
  * an IVF query's probe list as a per-row expression. */
case class NearestCells(child: Expression, labels: Seq[Long],
    centroids: Seq[Seq[Double]], n: Int) extends NearestCellsBase {
  require(n >= 1, s"nearest_cells: n must be positive, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def nullSafeEval(input: Any): Any =
    NearestCells.cells(input.asInstanceOf[ArrayData], new Array[Double](dims),
      flatCents, labelArr, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = genArgs(ctx)
    defineCodeGen(ctx, ev, c => s"graft.functions.NearestCells.cells($c, $args, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  def apply(emb: Column, cent: Seq[(Long, Seq[Double])], n: Int): Column =
    GraftShims.column(NearestCells(GraftShims.expression(emb),
      cent.map(_._1), cent.map(_._2), n))

  /** Copy `emb` into `v` as doubles; false on a null element (the
    * NULL-distance fallback). */
  def extract(emb: ArrayData, v: Array[Double], name: String): Boolean = {
    val n = emb.numElements()
    require(n == v.length, s"$name: embedding has $n dims, centroids have ${v.length}")
    var k = 0
    while (k < n) {
      if (emb.isNullAt(k)) return false
      v(k) = emb.getFloat(k).toDouble
      k += 1
    }
    true
  }

  /** The `n` nearest labels ascending by (distance, label) — insertion
    * into n slots; the ascending-label scan keeps the smaller label on
    * distance ties. */
  def cells(emb: ArrayData, v: Array[Double], cents: Array[Double], labels: Array[Long],
      n: Int): ArrayData = {
    val kept = math.min(n, labels.length)
    if (!extract(emb, v, "nearest_cells"))
      return ArrayData.toArrayData(java.util.Arrays.copyOf(labels, kept))
    val dims = v.length
    val bd = new Array[Double](kept)
    val bl = new Array[Long](kept)
    var used = 0
    var c = 0
    while (c < labels.length) {
      val base = c * dims
      var s = 0.0
      var k = 0
      while (k < dims) {
        val d = cents(base + k) - v(k)
        s += d * d
        k += 1
      }
      // position = first slot whose kept distance is strictly greater
      var pos = used
      while (pos > 0 && java.lang.Double.compare(bd(pos - 1), s) > 0) pos -= 1
      if (pos < kept) {
        val stop = math.min(used, kept - 1)
        var i = stop
        while (i > pos) { bd(i) = bd(i - 1); bl(i) = bl(i - 1); i -= 1 }
        bd(pos) = s
        bl(pos) = labels(c)
        if (used < kept) used += 1
      }
      c += 1
    }
    ArrayData.toArrayData(if (used == kept) bl else java.util.Arrays.copyOf(bl, used))
  }
}
