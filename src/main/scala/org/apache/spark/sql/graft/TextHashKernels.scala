// Hosted under org.apache.spark.sql so the expressions can implement the
// private[sql] ImplicitCastInputTypes/AbstractDataType contract — the
// standard packaging for third-party Catalyst expressions.
package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native fused kernels for the shingle/token md5 hot paths (optimization
  * round r17, guide §1.2 step 2: per-task work after the shape is right).
  *
  * The relational formulation of a minhash signature pass pays, per
  * shingle: one exploded row, one k-gram string materialization
  * (`array_join(slice(...))`), one md5 HEX string (32-char UTF8String),
  * two `substring` slices, two `conv(_, 16, 10)` radix parses, and
  * numHashes hash-aggregate probes. A scoped decomposition at sf0.1
  * measured the scan at 0.10 s and the full signature pipeline at 1.17 s — more than 10× the data cost, with `conv` alone
  * (0.26 s) costing more than the md5 digests themselves (0.19 s).
  *
  * These kernels compute the SAME values — bit-for-bit, the DuckDB
  * oracles replay the md5-hex arithmetic unchanged — in one compiled
  * per-document loop: tokenize once, MD5 each k-gram straight from token
  * bytes (no k-gram string, no hex round-trip: the 60-bit word is hex
  * chars [1,15] == big-endian bytes 0..7 >>> 4, the 56-bit word is hex
  * chars [17,30] == big-endian bytes 8..15 >>> 8), fold the
  * Kirsch-Mitzenmacher mins / per-bit majorities in registers.
  *
  * Tokenization is the exact SQL chain
  * `split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")`:
  * UTF8String.toLowerCase (the Lower expression's own call), the same
  * java.util.regex collapse, an 0x20-only trim (SQL trim semantics — NOT
  * Java String.trim, which also strips control chars), and a
  * single-space split that keeps the "" token of an empty/whitespace-only
  * document. TextHashKernelSpec pins old-vs-new column equality over the
  * fixture corpus plus adversarial edge cases.
  */
object TextHashKernel {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  private val MdTl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** `split(trim(regexp_replace(lower(text), "\s+", " ")), " ")` as token
    * byte arrays. At least one element (possibly the empty token), like
    * the SQL chain. */
  def tokenBytes(text: UTF8String): Array[Array[Byte]] = {
    val collapsed = Ws.matcher(text.toLowerCase.toString).replaceAll(" ")
    // SQL trim: 0x20 only
    var s = 0
    var e = collapsed.length
    while (s < e && collapsed.charAt(s) == ' ') s += 1
    while (e > s && collapsed.charAt(e - 1) == ' ') e -= 1
    val t = collapsed.substring(s, e)
    // split on the single-space regex with limit -1: after collapse+trim
    // there are no runs or edge spaces, so this is a plain scan; "" -> [""]
    var n = 1
    var i = t.indexOf(' ')
    while (i >= 0) { n += 1; i = t.indexOf(' ', i + 1) }
    val out = new Array[Array[Byte]](n)
    var start = 0
    var j = 0
    i = t.indexOf(' ')
    while (i >= 0) {
      out(j) = t.substring(start, i).getBytes(StandardCharsets.UTF_8)
      j += 1; start = i + 1; i = t.indexOf(' ', start)
    }
    out(j) = t.substring(start).getBytes(StandardCharsets.UTF_8)
    out
  }

  private def beLong(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 56) | ((d(off + 1) & 0xffL) << 48) |
      ((d(off + 2) & 0xffL) << 40) | ((d(off + 3) & 0xffL) << 32) |
      ((d(off + 4) & 0xffL) << 24) | ((d(off + 5) & 0xffL) << 16) |
      ((d(off + 6) & 0xffL) << 8) | (d(off + 7) & 0xffL)

  /** md5 words of the token slice [from, from+len) joined by ' ' — the
    * digest of exactly the bytes `array_join(slice(toks,...), ' ')` would
    * hash. Returns (m1 = first 60 bits, m2 = hex chars 17..30 = 56 bits)
    * packed as (m1 << 4) unused — callers take both from the digest. */
  private def shingleDigest(md: MessageDigest, toks: Array[Array[Byte]],
                            from: Int, len: Int): Array[Byte] = {
    md.reset()
    md.update(toks(from))
    var t = 1
    while (t < len) { md.update(' '.toByte); md.update(toks(from + t)); t += 1 }
    md.digest()
  }

  /** Fused per-row minhash features over word-k-gram shingles:
    * struct(h: array of `numHashes` Kirsch-Mitzenmacher mins
    * (h_i = min over shingles of m1 + i*m2), sh: ascending distinct m1
    * set). Exactly [[graft.ops.Dedup.minhashSignatures]]' per-document
    * values (min is associative, so a groupBy-min downstream still
    * handles duplicate ids identically). */
  def minhashFeatures(text: UTF8String, k: Int, numHashes: Int,
                      withSet: Boolean): InternalRow = {
    val toks = tokenBytes(text)
    val md = MdTl.get()
    val nSh = if (toks.length >= k) toks.length - k + 1 else 1
    val width = if (toks.length >= k) k else toks.length
    val mins = if (numHashes > 0) Array.fill(numHashes)(Long.MaxValue) else null
    val m1s = if (withSet) new Array[Long](nSh) else null
    var i = 0
    while (i < nSh) {
      val d = shingleDigest(md, toks, i, width)
      val m1 = beLong(d, 0) >>> 4
      val m2 = beLong(d, 8) >>> 8
      if (numHashes > 0) {
        var j = 0
        while (j < numHashes) {
          val v = m1 + j * m2
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      if (withSet) m1s(i) = m1
      i += 1
    }
    val fields = new Array[Any](if (numHashes > 0 && withSet) 2 else 1)
    var f = 0
    if (numHashes > 0) { fields(f) = ArrayData.toArrayData(mins); f += 1 }
    if (withSet) {
      java.util.Arrays.sort(m1s)
      var u = 0
      var p = 0
      while (p < nSh) {
        if (u == 0 || m1s(p) != m1s(u - 1)) { m1s(u) = m1s(p); u += 1 }
        p += 1
      }
      fields(f) = ArrayData.toArrayData(java.util.Arrays.copyOf(m1s, u))
    }
    new GenericInternalRow(fields)
  }

  /** Fused per-row SimHash fingerprint — [[graft.ops.Dedup.simhash]]'s
    * 64-bit majority fold (bit b of each token's md5 words votes; bit set
    * iff 2*sum > n_tokens) in one pass. Token-less text (empty after
    * collapse) folds to 0, matching the SQL path's coalesce(null, 0). */
  def simhashFp(text: UTF8String): Long = {
    val toks = tokenBytes(text)
    val md = MdTl.get()
    val cnt = new Array[Int](64)
    var n = 0
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (tok.length > 0) {
        n += 1
        md.reset()
        md.update(tok)
        val d = md.digest()
        val m1 = beLong(d, 0) >>> 4
        val m2 = beLong(d, 8) >>> 8
        var b = 0
        while (b < 60) { cnt(b) += ((m1 >>> b) & 1L).toInt; b += 1 }
        while (b < 64) { cnt(b) += ((m2 >>> (b - 60)) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    if (n == 0) return 0L
    var fp = 0L
    var b = 0
    // 2L: the relational formulation summed into BIGINT — with Int math a
    // document past 2^30 non-empty tokens would overflow the product and
    // flip fingerprint bits (ADVICE r17; theoretical near the 2 GB string
    // cap, fixed for exact parity at any token count)
    while (b < 64) { if (2L * cnt(b) > n) fp |= (1L << b); b += 1 }
    fp
  }

  /** Digest `input` and fold hex nibbles [start, start+n) into a long —
    * the value `conv(substring(md5(input), start+1, n), 16, 10)` parses
    * out of the hex string. */
  def md5Word(input: Array[Byte], startNibble: Int, nNibbles: Int): Long = {
    val md = MdTl.get()
    md.reset()
    md.update(input)
    val d = md.digest()
    var acc = 0L
    var i = startNibble
    val end = startNibble + nNibbles
    while (i < end) {
      val b = d(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >> 4 else b & 0xf
      acc = (acc << 4) | nib
      i += 1
    }
    acc
  }

  /** The hashed bigram-bucket stream of a document in ONE compiled loop —
    * exactly `pmod(md5Bits60('<seed>:' || tokA || ' ' || tokB), mod)` over
    * the adjacent pairs of the SQL-chain tokens with "" tokens removed
    * ([[graft.ops.Dsir.bigramsCol]] + [[graft.util.Hash.seededBucket]]):
    * no bigram string, no filter/zip_with higher-order lambdas, no
    * per-value digest allocation. < 2 usable tokens yield an empty array
    * (the old chain's empty zip_with result). */
  def bigramBuckets(text: UTF8String, seedPrefix: Array[Byte], mod: Long): ArrayData = {
    val all = tokenBytes(text)
    var n = 0
    var i = 0
    while (i < all.length) { if (all(i).length > 0) n += 1; i += 1 }
    val toks =
      if (n == all.length) all
      else {
        val a = new Array[Array[Byte]](n)
        var j = 0
        i = 0
        while (i < all.length) { if (all(i).length > 0) { a(j) = all(i); j += 1 }; i += 1 }
        a
      }
    val m = math.max(n - 1, 0)
    val out = new Array[Long](m)
    val md = MdTl.get()
    i = 0
    while (i < m) {
      md.reset()
      md.update(seedPrefix)
      md.update(toks(i))
      md.update(' '.toByte)
      md.update(toks(i + 1))
      val d = md.digest()
      // md5Bits60 = the first 15 nibbles = big-endian bytes 0..7 >>> 4;
      // non-negative, so pmod(x, mod) == x % mod
      val w = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      out(i) = w % mod
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Catalyst wrapper for [[TextHashKernel.minhashFeatures]]. */
case class MinhashFeatures(child: Expression, k: Int, numHashes: Int,
                           withSet: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"k-gram width must be >= 1, got $k")
  require(numHashes >= 0 && (numHashes > 0 || withSet),
    s"need numHashes > 0 or withSet, got numHashes=$numHashes withSet=$withSet")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(
    (if (numHashes > 0)
       Seq(StructField("h", ArrayType(LongType, containsNull = false), nullable = false))
     else Nil) ++
      (if (withSet)
         Seq(StructField("sh", ArrayType(LongType, containsNull = false), nullable = false))
       else Nil))
  override def prettyName: String = "minhash_features"

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.minhashFeatures(input.asInstanceOf[UTF8String], k, numHashes, withSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashKernel.minhashFeatures($c, $k, $numHashes, $withSet);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashFeatures {
  import org.apache.spark.sql.classic.ExpressionUtils
  def apply(text: Column, k: Int, numHashes: Int, withSet: Boolean): Column =
    ExpressionUtils.column(
      MinhashFeatures(ExpressionUtils.expression(text), k, numHashes, withSet))
}

/** Catalyst wrapper for [[TextHashKernel.simhashFp]]. */
case class SimhashFp(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fp"

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.simhashFp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashKernel.simhashFp($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashFp {
  import org.apache.spark.sql.classic.ExpressionUtils
  def apply(text: Column): Column =
    ExpressionUtils.column(SimhashFp(ExpressionUtils.expression(text)))
}

/** Native md5 hex-slice word: the value of
  * `CAST(conv(substring(md5(c), startNibble+1, nNibbles), 16, 10) AS BIGINT)`
  * computed straight from the digest bytes — no hex string, no substring,
  * no radix parse. The engine's canonical md5→BIGINT derivations
  * ([[graft.util.Hash]]) all route through this expression; the DuckDB
  * oracles keep replaying the hex-slice formulation, which is equal by
  * construction (a hex digit IS a digest nibble). nNibbles <= 15 keeps the
  * value non-negative in a long. */
case class Md5Word(child: Expression, startNibble: Int, nNibbles: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(startNibble >= 0 && nNibbles >= 1 && startNibble + nNibbles <= 32,
    s"md5 has 32 nibbles: got start=$startNibble n=$nNibbles")
  require(nNibbles <= 15, s"nNibbles must be <= 15 to stay in a signed long, got $nNibbles")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_word"

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.md5Word(input.asInstanceOf[Array[Byte]], startNibble, nNibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashKernel.md5Word($c, $startNibble, $nNibbles);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Word {
  import org.apache.spark.sql.classic.ExpressionUtils
  def apply(c: Column, startNibble: Int, nNibbles: Int): Column =
    ExpressionUtils.column(Md5Word(ExpressionUtils.expression(c), startNibble, nNibbles))
}

/** Catalyst wrapper for [[TextHashKernel.bigramBuckets]]: the fused
  * tokenize → bigram → seeded-md5-bucket stream (r18 optimization — the
  * relational chain paid interpreted filter/zip_with lambdas plus a
  * bigram string and digest per pair). Null text stays null, preserving
  * the old chain's explode_outer/explode shapes. */
case class BigramBuckets(child: Expression, seed: Int, mod: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(mod > 0, s"mod must be positive, got $mod")

  private val seedPrefix: Array[Byte] =
    s"$seed:".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bigram_buckets"

  override def nullSafeEval(input: Any): Any =
    TextHashKernel.bigramBuckets(input.asInstanceOf[UTF8String], seedPrefix, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pref = ctx.addReferenceObj("seedPrefix", seedPrefix, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashKernel.bigramBuckets($c, $pref, ${mod}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramBuckets {
  import org.apache.spark.sql.classic.ExpressionUtils
  def apply(text: Column, seed: Int, mod: Long): Column =
    ExpressionUtils.column(BigramBuckets(ExpressionUtils.expression(text), seed, mod))
}
