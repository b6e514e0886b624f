package graft.functions

import graft.text.{Levenshtein, Normalization, Repetition, TagStrip, XmlFlatten}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Static entry points the generated code calls — one virtual-free static
  * call per row keeps the expressions inside whole-stage codegen.
  */
object ExprImpl {
  def normalizeForEval(s: UTF8String): UTF8String =
    UTF8String.fromString(Normalization.normalizeTextForEvaluation(s.toString))
  def stripOutputTag(s: UTF8String): UTF8String =
    UTF8String.fromString(TagStrip.stripOcrOutputTag(s.toString))
  def xmlFlatten(s: UTF8String): UTF8String =
    UTF8String.fromString(XmlFlatten.extractActualTextFromXml(s.toString))
  def mojibakeFix(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Mojibake.fix(s.toString))
  def unicodeNfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
  def hasRepetition(s: UTF8String): Boolean =
    Repetition.hasLongRepetition(s.toString)
  def nls(a: UTF8String, b: UTF8String): Double =
    Levenshtein.nls(a.toString, b.toString)
  def bucketOf(docId: UTF8String, buckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(docId.toString, 42), buckets)

  /** Deterministic integer hyperplanes for the embedding sign signatures —
    * identical to the SQL formula the DuckDB oracles evaluate:
    * ((2654435761·(p·64+i+1)) mod 2^31−1) mod 1024 − 512.
    */
  val SignPlanes = 128
  val SignDims = 64
  private val planeWeights: Array[Array[Double]] =
    Array.tabulate(SignPlanes, SignDims)((p, i) =>
      (2654435761L * (p * SignDims + i + 1) % 2147483647L % 1024L - 512L).toDouble)

  /** 128 sign bits of v·plane_p. Left-fold accumulation from 0.0 in index
    * order — bit-identical to the interpreted `aggregate(zip_with(...))`
    * form and to DuckDB's list_reduce fold.
    */
  def signBits(v: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.sql.catalyst.util.ArrayData = {
    // reject-loudly: getDouble past the end of (or on a null slot of) an
    // UnsafeArrayData returns GARBAGE, not an error — a malformed embedding
    // would get a fabricated signature and land in wrong ANN buckets with
    // nothing to trace
    if (v.numElements() != SignDims)
      throw new IllegalArgumentException(
        s"sign_bits: expected a $SignDims-element vector, got ${v.numElements()}")
    var j = 0
    while (j < SignDims) {
      if (v.isNullAt(j))
        throw new IllegalArgumentException(s"sign_bits: null element at $j")
      j += 1
    }
    val out = new Array[Int](SignPlanes)
    var p = 0
    while (p < SignPlanes) {
      val w = planeWeights(p)
      var acc = 0.0
      var i = 0
      while (i < SignDims) { acc += v.getDouble(i) * w(i); i += 1 }
      out(p) = if (acc > 0) 1 else 0
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Number of differing positions between two equal-length int arrays — the
    * near-dup Hamming gate as one static call instead of an interpreted
    * zip_with/aggregate fold over 128 lambda frames per surviving pair.
    */
  def hammingBits(a: org.apache.spark.sql.catalyst.util.ArrayData,
                  b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    // reject-loudly: a length mismatch would read garbage past the shorter
    // side (and make the function asymmetric); a Hamming distance between
    // different-length signatures is malformed input, not a number
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"hamming_bits: length mismatch ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements()
    var i = 0
    var d = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"hamming_bits: null element at $i")
      if (a.getInt(i) != b.getInt(i)) d += 1
      i += 1
    }
    d
  }

  /** Cosine similarity of two double arrays. Dot and both norms accumulate
    * as left folds from 0.0 in index order, then `dot / (√na · √nb)` — the
    * exact operation order of the interpreted
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +) / (sqrt(...) * sqrt(...))`
    * form it replaces, and of DuckDB's `list_reduce(list_prepend(0, ...))`
    * twin, so every oracle-visible double is bit-identical. One static call
    * per row instead of ~3·dims interpreted lambda frames.
    */
  def cosineSim(a: org.apache.spark.sql.catalyst.util.ArrayData,
                b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = a.numElements()
    // mismatched lengths / null elements → NULL, matching the interpreted
    // form (zip_with pads the shorter side with null and the `+` fold
    // propagates it) — a silent out-of-bounds getDouble on UnsafeArrayData
    // would return garbage instead
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Pack a 0/1 int array into big-endian words of `width` bits (width ≤ 63):
    * bits_pack(bits, 32) → the 4 packed signature words, bits_pack(bits, 8)
    * → the 16 LSH band values. Identical fold order to the SQL
    * `list_reduce((a, b) -> (a << 1) | b)` form the oracles evaluate.
    */
  def packBits(bits: org.apache.spark.sql.catalyst.util.ArrayData, width: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = bits.numElements()
    // reject-loudly, like every sibling: a trailing n % width remainder
    // would vanish silently, and a null slot read through getInt returns
    // garbage that lands the row in a fabricated signature word
    if (n % width != 0)
      throw new IllegalArgumentException(
        s"bits_pack: $n bits do not fill whole $width-bit words")
    val out = new Array[Long](n / width)
    var w = 0
    while (w < out.length) {
      var acc = 0L
      var i = 0
      while (i < width) {
        val j = w * width + i
        if (bits.isNullAt(j))
          throw new IllegalArgumentException(s"bits_pack: null bit at index $j")
        acc = (acc << 1) | bits.getInt(j)
        i += 1
      }
      out(w) = acc
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The two 56-bit halves of md5(s) into a caller-provided scratch (no
    * per-call allocation) — numerically identical to
    * `conv(substring(md5(s), 1, 14), 16, 10)` / `(15, 14)` (14 hex digits =
    * 7 digest bytes, big-endian) but computed straight from the digest
    * bytes. The Kirsch–Mitzenmacher base hashes of the minhash family, and
    * the ONE definition of the split both [[md5Split56]] and
    * [[minhashSigs]] share; parity-critical.
    */
  private def md5Split56Into(s: UTF8String, out: Array[Long]): Unit = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h1 = 0L
    var i = 0
    while (i < 7) { h1 = (h1 << 8) | (d(i) & 0xffL); i += 1 }
    var h2 = 0L
    while (i < 14) { h2 = (h2 << 8) | (d(i) & 0xffL); i += 1 }
    out(0) = h1
    out(1) = h2
  }

  def md5Split56(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val hh = new Array[Long](2)
    md5Split56Into(s, hh)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(hh(0), hh(1)))
  }

  /** The first 16 hex digits of md5(s) packed as a long whose bit
    * (4d + p) is bit p of hex digit d — the simhash bit layout. Equal to
    * the interpreted `((instr('0123456789abcdef', substring(h, d+1, 1)) - 1)
    * div 2^p) % 2` construction, one digest call per word instead of 64
    * string ops.
    */
  def md5NibbleBits(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var out = 0L
    var digit = 0
    while (digit < 16) {
      val b = d(digit >> 1) & 0xff
      val nib = if ((digit & 1) == 0) b >> 4 else b & 0xf
      out |= nib.toLong << (4 * digit)
      digit += 1
    }
    out
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else throw new IllegalArgumentException(s"not a lowercase hex digit: $c")

  /** Bit-level Hamming distance between two equal-length lowercase-hex
    * strings (the 16-digit simhash form) — replaces the 16-term interpreted
    * instr/xor/bit_count expression tree.
    */
  def hexHamming(a: UTF8String, b: UTF8String): Int = {
    val sa = a.toString
    val sb = b.toString
    require(sa.length == sb.length, "hex_hamming: length mismatch")
    var i = 0
    var d = 0
    while (i < sa.length) {
      d += java.lang.Integer.bitCount(hexVal(sa.charAt(i)) ^ hexVal(sb.charAt(i)))
      i += 1
    }
    d
  }

  /** All `hashes` MinHash signature minima of a distinct-gram array in ONE
    * row-local pass: per gram one md5 digest split into the two 56-bit
    * Kirsch–Mitzenmacher bases (identical to [[md5Split56]]), then
    * `sig[j] = min over grams of (h1 + j·h2) mod M`. Numerically identical
    * to the explode → 64 partial-min aggregations plan it replaces (min is
    * order-independent and the per-gram arithmetic is the same), but the
    * signature stage becomes a pure projection — no per-gram row
    * materialization, no hash aggregate, no Exchange.
    */
  def minhashSigs(grams: org.apache.spark.sql.catalyst.util.ArrayData,
                  hashes: Int, mod: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val sigs = new Array[Long](hashes)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    val hh = new Array[Long](2)
    val n = grams.numElements()
    var nonNull = 0
    var g = 0
    while (g < n) {
      if (!grams.isNullAt(g)) {
        nonNull += 1
        md5Split56Into(grams.getUTF8String(g), hh) // the shared split — parity with md5Split56
        val h1 = hh(0)
        val h2 = hh(1)
        var j = 0
        while (j < hashes) {
          val v = (h1 + j * h2) % mod
          if (v < sigs(j)) sigs(j) = v
          j += 1
        }
      }
      g += 1
    }
    // no usable gram → NULL: the exploded twin's min over only-null hashes
    // was NULL per signature column, never a fabricated Long.MaxValue
    if (nonNull == 0) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  /** Fused shingle + MinHash: all `hashes` signature minima straight from
    * the WORD array, digesting each word-`gramLen`-gram's UTF-8 bytes
    * (words joined by a single 0x20, null words skipped — exactly
    * `concat_ws(' ', slice(words, i+1, gramLen))`) without materializing
    * gram strings. Bit-identical to `minhash_sigs` over
    * `array_distinct(transform(sequence(0, greatest(n-gramLen, 0)), i ->
    * concat_ws(' ', slice(words, i+1, gramLen))))`: the gram windows and
    * their md5 input bytes are the same, duplicate grams cannot move a
    * minimum, and an empty/short word array yields the same single clipped
    * gram (n = 0 digests the empty string, as concat_ws over an empty
    * slice does). Replaces a 4-deep interpreted higher-order-function
    * chain (transform + slice + concat_ws + array_distinct) and its
    * per-gram string/array allocations with one native pass.
    */
  def minhashSigsText(words: org.apache.spark.sql.catalyst.util.ArrayData,
                      gramLen: Int, hashes: Int, mod: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val sigs = new Array[Long](hashes)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    val md = md5Local.get()
    val n = words.numElements()
    val last = math.max(n - gramLen, 0)
    val space = Array[Byte](' ')
    // each word's bytes once per document, not once per window it falls in
    // (getBytes copies: split() yields non-zero offsets); null stays null
    val bytes = Array.tabulate(n)(w => if (words.isNullAt(w)) null else words.getUTF8String(w).getBytes)
    var i = 0
    while (i <= last) {
      md.reset()
      var k = 0
      var wrote = false
      while (k < gramLen && i + k < n) {
        val b = bytes(i + k)
        if (b != null) {
          if (wrote) md.update(space)
          md.update(b)
          wrote = true
        }
        k += 1
      }
      val d = md.digest()
      var h1 = 0L
      var j = 0
      while (j < 7) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
      var h2 = 0L
      while (j < 14) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
      j = 0
      while (j < hashes) {
        val v = (h1 + j * h2) % mod
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  /** The full 64-bit SimHash of a word array as 16 lowercase hex chars in
    * ONE row-local pass: per word the [[md5NibbleBits]] packed bits, each
    * bit contributing ±1 to its position sum (duplicates kept — integer
    * addition is order-independent, so the result is bit-identical to the
    * explode → 64 sum-aggregations plan this replaces, including for null
    * elements: the replaced `when(...).otherwise(-1)` counted a null word
    * as −1 on every position, which is exactly a zero-bit word — split()
    * never yields nulls, but the Column surface keeps the twin's rule),
    * then digit d = Σ_p (sum[4d+p] > 0) << p.
    */
  def simhashHex(words: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val sums = new Array[Int](64)
    val n = words.numElements()
    var w = 0
    while (w < n) {
      val mb = if (words.isNullAt(w)) 0L else md5NibbleBits(words.getUTF8String(w))
      var i = 0
      while (i < 64) {
        sums(i) += (if (((mb >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      w += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var d = 0
    while (d < 16) {
      var v = 0
      var bp = 0
      while (bp < 4) {
        if (sums(4 * d + bp) > 0) v |= (1 << bp)
        bp += 1
      }
      sb.append(java.lang.Character.forDigit(v, 16))
      d += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Index of the max-cosine centroid under SPARK's descending double
    * order — the same row `orderBy(ccos desc, cent_id asc).row_number = 1`
    * selects, for every input:
    *  - comparisons go through [[cosineSim]] itself, compared with
    *    `Double.compare` so NaN (zero-norm vector → 0/0) ranks ABOVE every
    *    finite cosine exactly as Spark's NaN-largest desc sort does, with
    *    −0.0 normalized to 0.0 first (Spark compares them equal; raw
    *    `Double.compare` would not);
    *  - the first maximum wins → lowest index on exact ties (the cent_id
    *    asc tiebreak);
    *  - a null cosine (length mismatch / null element) is skipped like a
    *    desc-ordered nulls-last row, and an ALL-null row falls back to
    *    index 0 — the window kept those rows and its cent_id-asc tiebreak
    *    assigned the lowest centroid;
    *  - an empty centroid array yields NULL.
    */
  def argmaxCosine(v: org.apache.spark.sql.catalyst.util.ArrayData,
                   cents: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Integer = {
    val k = cents.numElements()
    var best = -1
    var bestCos = 0.0
    var c = 0
    while (c < k) {
      val s = cosineSim(v, cents.getArray(c))
      if (s != null) {
        val sv = s.doubleValue() + 0.0 // −0.0 → 0.0; NaN stays NaN
        if (best < 0 || java.lang.Double.compare(sv, bestCos) > 0) {
          best = c; bestCos = sv
        }
      }
      c += 1
    }
    if (best >= 0) java.lang.Integer.valueOf(best)
    else if (k > 0) java.lang.Integer.valueOf(0)
    else null
  }
}

/** `churro_normalize(text)` — the reference's full evaluation normalizer
  * (`normalization.py:87-121`) as a native Catalyst expression with codegen
  * (a static call inside the generated loop; no Scala-UDF encoder overhead).
  */
case class ChurroNormalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.normalizeForEval(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.normalizeForEval($c)")
  override protected def withNewChildInternal(newChild: Expression): ChurroNormalize =
    copy(child = newChild)
}

/** `mojibake_fix(text)` — [[graft.text.Mojibake.fix]] (ftfy-class
  * UTF-8-read-as-cp1252 repair) as a codegen'd zero-shuffle projection.
  */
case class MojibakeFix(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.mojibakeFix(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.mojibakeFix($c)")
  override protected def withNewChildInternal(newChild: Expression): MojibakeFix =
    copy(child = newChild)
}

/** `unicode_nfc(text)` — Unicode NFC normalization (JDK `Normalizer`;
  * DuckDB's `nfc_normalize` is the cross-engine oracle twin).
  */
case class UnicodeNfc(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.unicodeNfc(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.unicodeNfc($c)")
  override protected def withNewChildInternal(newChild: Expression): UnicodeNfc =
    copy(child = newChild)
}

/** `churro_strip_output_tag(text)` (`prompts/ocr.py:106-122`). */
case class StripOutputTag(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.stripOutputTag(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.stripOutputTag($c)")
  override protected def withNewChildInternal(newChild: Expression): StripOutputTag =
    copy(child = newChild)
}

/** `churro_xml_flatten(text)` (`xml_utils.py:27-55`). */
case class XmlFlattenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.xmlFlatten(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.xmlFlatten($c)")
  override protected def withNewChildInternal(newChild: Expression): XmlFlattenExpr =
    copy(child = newChild)
}

/** `has_long_repetition(text)` (`repetition.py:6-32`). */
case class HasLongRepetition(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.hasRepetition(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.hasRepetition($c)")
  override protected def withNewChildInternal(newChild: Expression): HasLongRepetition =
    copy(child = newChild)
}

/** `nls(pred, gold)` — normalized Levenshtein similarity with the
  * both-empty → 1.0 convention (`evaluate_page.py:97-103`).
  */
case class Nls(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.nls(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprImpl.nls($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Nls =
    copy(left = l, right = r)
}

/** `bucket_of(doc_id, buckets)` — the job's stable document→bucket hash as a
  * codegen'd native expression (replaces the round-1 Scala UDF that blocked
  * whole-stage codegen and made downstream filters unprunable).
  */
case class BucketOf(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.bucketOf(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprImpl.bucketOf($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BucketOf =
    copy(left = l, right = r)
}

/** `sign_bits(v)` — the 128-plane sign-quantization signature as a native
  * codegen'd expression: one static call per row instead of a 128×64
  * interpreted higher-order-function fold (measured ~100× per-row on the
  * ANN queries). Semantically identical to the SQL-fold form the DuckDB
  * oracles still evaluate.
  */
case class SignBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.signBits(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.signBits($c)")
  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

/** `hamming_bits(a, b)` — differing positions between two int arrays, native
  * codegen (the embedding near-dup verify gate).
  */
case class HammingBits(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.hammingBits(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprImpl.hammingBits($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingBits =
    copy(left = l, right = r)
}

/** `bits_pack(bits, width)` — pack a 0/1 array into big-endian `width`-bit
  * words (array<long>), native codegen: one static call per row replaces a
  * per-word interpreted shift/or fold.
  */
case class BitsPack(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0 && width < 64, s"bits_pack width out of range: $width")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.packBits(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.packBits($c, $width)")
  override protected def withNewChildInternal(newChild: Expression): BitsPack =
    copy(child = newChild)
}

/** `hex_hamming(a, b)` — bit Hamming distance of two lowercase-hex strings
  * (simhash verify), native codegen.
  */
case class HexHamming(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.hexHamming(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprImpl.hexHamming($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HexHamming =
    copy(left = l, right = r)
}

/** `minhash_sigs(grams, hashes, mod)` — all MinHash signature minima of a
  * distinct-gram array in one row-local pass (see [[ExprImpl.minhashSigs]]):
  * the signature stage becomes a pure projection with no gram explode, no
  * hash aggregate and no Exchange. NULL when the array holds no usable
  * gram (empty or all-null) — the exploded twin produced no row for an
  * empty array (callers filter those) and NULL sig columns for all-null
  * grams, never fabricated values.
  */
case class MinhashSigsExpr(child: Expression, hashes: Int, mod: Long) extends UnaryExpression {
  require(hashes > 0, s"hashes must be positive: $hashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr.numElements() == 0) null else ExprImpl.minhashSigs(arr, hashes, mod)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("sigs")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $res = ($c.numElements() == 0)
         |  ? null : graft.functions.ExprImpl.minhashSigs($c, $hashes, ${mod}L);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinhashSigsExpr =
    copy(child = newChild)
}

/** `minhash_sigs_text(words, gramLen, hashes, mod)` — the fused
  * shingle+MinHash projection (see [[ExprImpl.minhashSigsText]]): signature
  * minima straight from the word array with no gram-array materialization.
  * NULL only for a NULL word array (a non-null array always yields at
  * least the clipped first gram, exactly like the concat_ws twin).
  */
case class MinhashSigsTextExpr(child: Expression, gramLen: Int, hashes: Int, mod: Long)
    extends UnaryExpression {
  require(gramLen > 0 && hashes > 0, s"gramLen/hashes must be positive: $gramLen/$hashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.minhashSigsText(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], gramLen, hashes, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprImpl.minhashSigsText($c, $gramLen, $hashes, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): MinhashSigsTextExpr =
    copy(child = newChild)
}

/** `simhash_hex(words)` — the 64-bit SimHash of a word array as 16 hex
  * chars in one row-local pass (see [[ExprImpl.simhashHex]]): the
  * signature stage becomes a pure projection, replacing the per-word
  * explode + 64 sum-aggregations + Exchange.
  */
case class SimhashHex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.simhashHex(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.simhashHex($c)")
  override protected def withNewChildInternal(newChild: Expression): SimhashHex =
    copy(child = newChild)
}

/** `argmax_cosine(v, cents)` — 0-based index of the centroid (an
  * `array<array<double>>`, in practice a broadcast-sized LITERAL riding the
  * plan as one constant object) with the highest cosine against `v`; lowest
  * index on exact ties. This is the zero-Exchange IVF assignment: a pure
  * projection over the scan replaces the round-3
  * `crossJoin(broadcast(cents))` + `Window.partitionBy(vec_id)` plan, which
  * hash-partitioned 16 centroid-crossed copies of every full float vector by
  * vec_id — a full-corpus shuffle with 16× amplification at 10^12 rows.
  */
case class ArgmaxCosine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.argmaxCosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val res = ctx.freshName("amc")
      s"""java.lang.Integer $res = graft.functions.ExprImpl.argmaxCosine($l, $r);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.intValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgmaxCosine =
    copy(left = l, right = r)
}

/** `md5_split56(s)` — the minhash double-hash bases [h1, h2] from one digest
  * call (see [[ExprImpl.md5Split56]]), native codegen.
  */
case class Md5Split56(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.md5Split56(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.md5Split56($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Split56 =
    copy(child = newChild)
}

/** `cosine_sim(a, b)` — cosine similarity of two `array<double>` columns
  * (see [[ExprImpl.cosineSim]]), native codegen. The hot scalar of every
  * ANN re-rank and near-dup confirmation.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprImpl.cosineSim(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val res = ctx.freshName("cos")
      s"""java.lang.Double $res = graft.functions.ExprImpl.cosineSim($l, $r);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** `md5_nibble_bits(s)` — the 64 simhash bits of one word as a packed long
  * (see [[ExprImpl.md5NibbleBits]]), native codegen.
  */
case class Md5NibbleBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.md5NibbleBits(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.md5NibbleBits($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5NibbleBits =
    copy(child = newChild)
}

/** `bloom_might_contain(sketch, s)` — probe a serialized
  * [[org.apache.spark.util.sketch.BloomFilter]] (a BINARY literal riding the
  * plan as one constant, exactly like [[ArgmaxCosine]]'s centroid array) with
  * a string key. The sketch is deserialized ONCE per task — `lazy val` on the
  * eval path, an [[CodegenContext.addReferenceObj]] constant on the codegen
  * path — so the per-row cost is the filter's two hash probes, inside
  * whole-stage codegen. No false negatives (a true member always probes
  * true), so a `false` is an authoritative "not in the sketched set" and the
  * caller only needs an exact join for the `true` residue — the
  * sketch-prefilter contract [[graft.ops.Queries.bloomDedup]] builds on.
  */
case class BloomMightContain(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  override protected def nullSafeEval(b: Any, v: Any): Any =
    if (filter == null) null
    else filter.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (_, v) => {
      // the deserialized filter is a per-plan constant; the literal child's
      // per-row evaluation (a reference-object load) is ignored
      val f = ctx.addReferenceObj("graftBloom", filter,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      s"${ev.value} = $f.mightContainBinary($v.getBytes());"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

/** Column surface + SQL registration. */
object ChurroFunctions {
  private def e(c: Column) = ColumnBridge.expression(c)
  private def col(x: Expression) = ColumnBridge.column(x)
  def churro_normalize(c: Column): Column = col(ChurroNormalize(e(c)))
  def churro_strip_output_tag(c: Column): Column = col(StripOutputTag(e(c)))
  def churro_xml_flatten(c: Column): Column = col(XmlFlattenExpr(e(c)))
  def has_long_repetition(c: Column): Column = col(HasLongRepetition(e(c)))
  def nls(a: Column, b: Column): Column = col(Nls(e(a), e(b)))
  def bucket_of(a: Column, b: Column): Column = col(BucketOf(e(a), e(b)))
  def sign_bits(c: Column): Column = col(SignBits(e(c)))
  def hamming_bits(a: Column, b: Column): Column = col(HammingBits(e(a), e(b)))
  def bits_pack(c: Column, width: Int): Column = col(BitsPack(e(c), width))
  def hex_hamming(a: Column, b: Column): Column = col(HexHamming(e(a), e(b)))
  def md5_split56(c: Column): Column = col(Md5Split56(e(c)))
  def md5_nibble_bits(c: Column): Column = col(Md5NibbleBits(e(c)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(e(a), e(b)))
  def argmax_cosine(v: Column, cents: Column): Column = col(ArgmaxCosine(e(v), e(cents)))
  def collect_list_capped(c: Column, maxElems: Int): Column =
    col(CollectListCapped(e(c), maxElems).toAggregateExpression())
  def heavy_hitters(tokens: Column, m: Int, k: Int): Column =
    col(HeavyHitters(e(tokens), m, k).toAggregateExpression())
  def minhash_sigs(grams: Column, hashes: Int, mod: Long): Column =
    col(MinhashSigsExpr(e(grams), hashes, mod))
  def minhash_sigs_text(words: Column, gramLen: Int, hashes: Int, mod: Long): Column =
    col(MinhashSigsTextExpr(e(words), gramLen, hashes, mod))
  def simhash_hex(words: Column): Column = col(SimhashHex(e(words)))
  def bloom_might_contain(sketch: Column, s: Column): Column =
    col(BloomMightContain(e(sketch), e(s)))
  def mojibake_fix(c: Column): Column = col(MojibakeFix(e(c)))
  def unicode_nfc(c: Column): Column = col(UnicodeNfc(e(c)))

  /** Register the SQL surface on a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("churro_normalize", es => ChurroNormalize(es.head), "scala_udf")
    registry.createOrReplaceTempFunction("churro_strip_output_tag", es => StripOutputTag(es.head), "scala_udf")
    registry.createOrReplaceTempFunction("churro_xml_flatten", es => XmlFlattenExpr(es.head), "scala_udf")
    registry.createOrReplaceTempFunction("has_long_repetition", es => HasLongRepetition(es.head), "scala_udf")
    registry.createOrReplaceTempFunction("nls", es => Nls(es(0), es(1)), "scala_udf")
  }
}

/** `SparkSessionExtensions` injector:
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("churro_normalize"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", "churro_normalize"),
        (es: Seq[Expression]) => ChurroNormalize(es.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("churro_strip_output_tag"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", "churro_strip_output_tag"),
        (es: Seq[Expression]) => StripOutputTag(es.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("churro_xml_flatten"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", "churro_xml_flatten"),
        (es: Seq[Expression]) => XmlFlattenExpr(es.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("has_long_repetition"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", "has_long_repetition"),
        (es: Seq[Expression]) => HasLongRepetition(es.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("nls"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", "nls"),
        (es: Seq[Expression]) => Nls(es(0), es(1))))
  }
}
