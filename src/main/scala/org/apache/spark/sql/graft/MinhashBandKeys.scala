package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType,
  DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The per-doc MinHash-LSH band keys of graft.dedup in one pass over
  * the lowercased text: tokens → word shingles → `numHashes` md5
  * minima → `bands` band keys. It computes exactly what the reference
  * chain of column functions computes — graft.dedup.Dedup's
  * `lshBandKeys` over its `minhashSignature` of
  * `array_distinct(wordShingles(text, shingleSize))`, DedupSpec pins
  * the equality on a seeded corpus — without that chain's interpreted
  * higher-order folds: per doc and seed it was a `transform` +
  * `array_min` over |shingles| md5 calls, none of it codegen'd.
  *
  *  - Tokens are the maximal runs of bytes outside Java's `\s`
  *    ([ \t\n\x0B\f\r]) — `split(trim(t), "\\s+")` minus the empty
  *    tokens. Those six bytes never occur inside a multi-byte UTF-8
  *    sequence, so the scan works on bytes.
  *  - A shingle is `shingleSize` consecutive tokens joined by one
  *    space. The tokens are copied once per doc into a buffer with
  *    one space between them, so every shingle is a contiguous slice.
  *  - Seed i hashes the bytes `"i:" + shingle`. The minimum of the
  *    lowercase hex digests equals the unsigned-byte minimum of the
  *    raw digests, so only the winners are hex-encoded. A min over
  *    the shingle multiset equals the min over its distinct set, so
  *    repeated shingles need no dedup.
  *  - Band b is `b|md5(h[b*r] "," ... "," h[b*r+r-1])` over the
  *    hex minima, r = numHashes / bands.
  *
  * One kernel (one `MessageDigest` and its scratch buffers) serves a
  * whole task; it is not thread-safe, which `stateful` declares. */
final class MinhashBandKernel(shingleSize: Int, numHashes: Int,
                              bands: Int) {
  private val rowsPerBand = numHashes / bands
  private val md5 = java.security.MessageDigest.getInstance("MD5")
  private val seedPrefix =
    Array.tabulate(numHashes)(i => s"$i:".getBytes(UTF_8))
  private val bandPrefix =
    Array.tabulate(bands)(b => s"$b|".getBytes(UTF_8))
  private val mins = new Array[Byte](numHashes * 16)
  private val digest = new Array[Byte](16)
  private val bandText = new Array[Byte](rowsPerBand * 33)
  private val hexDigits = "0123456789abcdef".getBytes(UTF_8)
  private var norm = new Array[Byte](256)
  private var tokEnd = new Array[Int](64)

  /** The doc's band keys, or null when it has fewer than
    * `shingleSize` tokens: an empty shingle set has no minhash, and
    * keys derived from md5('') would alias every short doc. */
  def bandKeys(lowered: UTF8String): ArrayData = {
    val ntok = tokenize(lowered)
    if (ntok < shingleSize) return null
    var k = 0
    while (k + shingleSize <= ntok) {
      val from = if (k == 0) 0 else tokEnd(k - 1) + 1
      val len = tokEnd(k + shingleSize - 1) - from
      var i = 0
      while (i < numHashes) {
        md5.update(seedPrefix(i))
        md5.update(norm, from, len)
        md5.digest(digest, 0, 16)
        if (k == 0 || below(digest, i * 16))
          System.arraycopy(digest, 0, mins, i * 16, 16)
        i += 1
      }
      k += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var p = 0
      var j = 0
      while (j < rowsPerBand) {
        if (j > 0) { bandText(p) = ','; p += 1 }
        hex(mins, (b * rowsPerBand + j) * 16, bandText, p)
        p += 32
        j += 1
      }
      md5.update(bandText, 0, p)
      md5.digest(digest, 0, 16)
      val pre = bandPrefix(b)
      val key = java.util.Arrays.copyOf(pre, pre.length + 32)
      hex(digest, 0, key, pre.length)
      out(b) = UTF8String.fromBytes(key)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Copies the tokens of `s` into `norm`, one space apart, records
    * each token's end offset in `tokEnd`, and returns the count. */
  private def tokenize(s: UTF8String): Int = {
    val n = s.numBytes
    if (norm.length < n) norm = new Array[Byte](n)
    var ntok = 0
    var p = 0
    var inTok = false
    var i = 0
    while (i <= n) {
      // one past the end reads as a separator and closes the last token
      val c = if (i < n) Platform.getByte(s.getBaseObject,
        s.getBaseOffset + i) else ' '.toByte
      if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (inTok) {
          if (ntok == tokEnd.length)
            tokEnd = java.util.Arrays.copyOf(tokEnd, ntok * 2)
          tokEnd(ntok) = p
          ntok += 1
          inTok = false
        }
      } else {
        if (!inTok) {
          if (ntok > 0) { norm(p) = ' '; p += 1 }
          inTok = true
        }
        norm(p) = c
        p += 1
      }
      i += 1
    }
    ntok
  }

  /** `digest` < `mins[at, at + 16)` as unsigned bytes. */
  private def below(d: Array[Byte], at: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val x = d(i) & 0xff
      val y = mins(at + i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(src: Array[Byte], from: Int, dst: Array[Byte],
                  at: Int): Unit = {
    var i = 0
    while (i < 16) {
      val v = src(from + i) & 0xff
      dst(at + 2 * i) = hexDigits(v >>> 4)
      dst(at + 2 * i + 1) = hexDigits(v & 0xf)
      i += 1
    }
  }
}

/** [[MinhashBandKernel.bandKeys]] as a codegen'd unary expression:
  * `minhash_band_keys(lower(text))` → the doc's band keys, null for a
  * doc shorter than one shingle. The child must already be lowercase;
  * [[MinhashBandKeys.of]] lowercases through Spark's own `lower`, so
  * case mapping (locale, ICU conf) matches the reference chain by
  * construction. The generated code holds one kernel per task. */
case class MinhashBandKeys(child: Expression, shingleSize: Int,
                           numHashes: Int, bands: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(shingleSize >= 1, s"shingle size must be >= 1, got $shingleSize")
  require(bands > 0 && numHashes > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def stateful: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  @transient private lazy val kernel =
    new MinhashBandKernel(shingleSize, numHashes, bands)

  override def nullSafeEval(input: Any): Any =
    kernel.bandKeys(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
    : ExprCode = {
    val cls = classOf[MinhashBandKernel].getName
    val k = ctx.addMutableState(cls, "bandKernel",
      v => s"$v = new $cls($shingleSize, $numHashes, $bands);")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $k.bandKeys($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
    : Expression = copy(child = newChild)
}

object MinhashBandKeys {
  /** The band keys of a raw `text` column. */
  def of(text: Column, shingleSize: Int, numHashes: Int,
         bands: Int): Column =
    ColumnBridge.column(MinhashBandKeys(
      ColumnBridge.expression(org.apache.spark.sql.functions.lower(text)),
      shingleSize, numHashes, bands))
}
