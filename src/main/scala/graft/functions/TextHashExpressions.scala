// Lives under org.apache.spark.sql for the same reason as
// VectorExpressions — private[sql] expression API. Source: graft/functions/.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash sketches for near-duplicate detection (north-star §2.9):
  * MinHash signatures and SimHash fingerprints over token arrays, as
  * one-pass codegen'd Catalyst expressions.
  *
  * Both hash each token once (xxhash64 over the raw UTF-8 bytes — no
  * String materialization) and derive all H hash functions from that base
  * value with a splitmix64 finalizer, so per-row cost is
  * O(tokens × H) cheap mixes, not O(tokens × H) string hashes.
  */
object TextHashExpressions {

  /** splitmix64 finalizer — a full-avalanche 64-bit mixer. */
  def mix64(zIn: Long): Long = {
    var z = zIn + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def tokenHash(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Portable token hash: last 8 bytes of md5(token), little-endian —
    * bit-identical to DuckDB's `md5_number_lower(token)`, so sketches built
    * on it are reproducible outside the JVM (the SQL-oracle path). Slower
    * than [[tokenHash]] (a real digest per token); use xxh64 when
    * cross-engine parity isn't needed.
    */
  def md5TokenHash(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    var out = 0L; var i = 15
    while (i >= 8) { out = (out << 8) | (d(i) & 0xffL); i -= 1 }
    out
  }

  /** MinHash signature: array of `numHashes` longs; element i is
    * min over tokens of mix64(xxh64(token) ^ mix64(i)).
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(numHashes > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          val base = tokenHash(arr.getUTF8String(t))
          var i = 0
          while (i < numHashes) {
            val h = mix64(base ^ mix64(i.toLong))
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        t += 1
      }
      UnsafeArrayData.fromPrimitiveArray(sig)
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val G = "org.apache.spark.sql.graft.TextHashExpressions"
        val sig = ctx.freshName("sig"); val t = ctx.freshName("t")
        val i = ctx.freshName("i"); val base = ctx.freshName("base"); val h = ctx.freshName("h")
        s"""
        long[] $sig = new long[$numHashes];
        java.util.Arrays.fill($sig, Long.MAX_VALUE);
        for (int $t = 0; $t < $a.numElements(); $t++) {
          if (!$a.isNullAt($t)) {
            long $base = $G.tokenHash($a.getUTF8String($t));
            for (int $i = 0; $i < $numHashes; $i++) {
              long $h = $G.mix64($base ^ $G.mix64((long) $i));
              if ($h < $sig[$i]) $sig[$i] = $h;
            }
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
        """
      })
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** 64-bit SimHash over a token array: bit j of the result is set iff the
    * count of tokens whose hash has bit j set exceeds the count that do not.
    *
    * @param portable use [[md5TokenHash]] (reproducible in any engine with
    *   md5 — the oracle-checkable path) instead of the faster engine-native
    *   xxh64 [[tokenHash]].
    */
  case class SimHash64(child: Expression, portable: Boolean = false)
      extends UnaryExpression with ExpectsInputTypes {
    private val hashFn: String = if (portable) "md5TokenHash" else "tokenHash"
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val acc = new Array[Int](64)
      var t = 0
      while (t < arr.numElements()) {
        if (!arr.isNullAt(t)) {
          val h = if (portable) md5TokenHash(arr.getUTF8String(t))
                  else tokenHash(arr.getUTF8String(t))
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
            j += 1
          }
        }
        t += 1
      }
      var out = 0L; var j = 0
      while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
      out
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val G = "org.apache.spark.sql.graft.TextHashExpressions"
        val acc = ctx.freshName("acc"); val t = ctx.freshName("t")
        val j = ctx.freshName("j"); val h = ctx.freshName("h"); val out = ctx.freshName("out")
        s"""
        int[] $acc = new int[64];
        for (int $t = 0; $t < $a.numElements(); $t++) {
          if (!$a.isNullAt($t)) {
            long $h = $G.$hashFn($a.getUTF8String($t));
            for (int $j = 0; $j < 64; $j++) {
              if ((($h >>> $j) & 1L) == 1L) $acc[$j]++; else $acc[$j]--;
            }
          }
        }
        long $out = 0L;
        for (int $j = 0; $j < 64; $j++) { if ($acc[$j] > 0) $out |= (1L << $j); }
        ${ev.value} = $out;
        """
      })
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** One-pass xxh64 array of every `n`-word gram of `s` split on single
    * spaces — bit-identical to
    * `transform(sequence(1, size(words)-n+1), i -> xxhash64(array_join(slice(words, i, n), " ")))`
    * for `words = split(s, " ")`, but zero-copy: joining CONSECUTIVE
    * split-on-" " pieces with " " reconstructs the original byte span
    * exactly (split partitions the string at each 0x20 byte, which never
    * occurs inside a multi-byte UTF-8 sequence), so each gram hash reads
    * the source bytes in place — no slice copies, no join allocations, no
    * per-gram interpreted HOF dispatch (measured 8-10× faster at sf0.1).
    * Fewer than n words → empty array, matching the HOF's `when` guard.
    */
  def wordGramHashArray(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var spaces = 0
    var p = 0
    while (p < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20) spaces += 1
      p += 1
    }
    val numWords = spaces + 1
    if (numWords < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    // starts(k) = byte offset of word k; sentinel starts(numWords) = len+1
    // so that end(j) = starts(j+1) - 1 covers the last word too
    val starts = new Array[Int](numWords + 1)
    starts(0) = 0
    var k = 1
    p = 0
    while (p < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20) {
        starts(k) = p + 1; k += 1
      }
      p += 1
    }
    starts(numWords) = len + 1
    val out = new Array[Long](numWords - n + 1)
    var i = 0
    while (i < out.length) {
      val gs = starts(i)
      val ge = starts(i + n) - 1
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + gs, ge - gs, 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `word_gram_hashes(text, n)` — see [[wordGramHashArray]]. */
  case class WordGramHashes(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def nullSafeEval(a: Any): Any =
      wordGramHashArray(a.asInstanceOf[UTF8String], n)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val G = "org.apache.spark.sql.graft.TextHashExpressions"
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $G.wordGramHashArray($a, $n);"
      })
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def word_gram_hashes(text: Column, n: Int): Column =
    ExpressionUtils.column(WordGramHashes(ExpressionUtils.expression(text), n))

  def minhash_signature(tokens: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(tokens), numHashes))

  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens)))
  /** md5-based SimHash — bit-identical to a SQL reimplementation over
    * md5_number_lower; the oracle-checkable variant of [[simhash64]]. */
  def simhash64_portable(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens), portable = true))
}
