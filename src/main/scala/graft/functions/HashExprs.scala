package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the token-hashing hot path of the
  * dedup operators (MinHash signatures, SimHash fingerprints).
  *
  * Hash family (PORTABLE — chosen so an independent engine can replay it
  * in plain SQL, which is what makes the LSH operators oracle-checkable):
  *
  *  - `base60(token)` = first 60 bits of `md5(token)` — in SQL:
  *    Spark `conv(substr(md5(t),1,15),16,10)`,
  *    DuckDB `('0x'||substr(md5(t),1,15))::BIGINT`.
  *  - MinHash member i: `h_i = (A_i * (base60 % P) + B_i) % P` with
  *    `P = 2^31 - 1` (prime), `A_i = ((i+1)*2654435761) % P`,
  *    `B_i = ((i+1)*40503) % P` — the classic Carter–Wegman affine
  *    family; every product stays < 2^62 so the arithmetic is exact
  *    in any engine with 64-bit integers (no overflow, no wrap
  *    divergence between Java and SQL).
  *  - SimHash: 60-bit fingerprint over the bits of `base60` directly.
  *
  * The HOF twins in the test-side graft.functions.HofTwins compose the same
  * family from built-ins (`md5`/`conv`/`transform`); these expressions
  * fuse the loops — ONE MD5 per token, then cheap affine mixes — and are
  * asserted bit-identical to the twins in HashExprsSpec.
  */
object HashExprs {

  /** `minHashSig(tokens, n)`: array of n MinHash values; element i =
    * min over non-null tokens of `(A_i * (base60(t) % P) + B_i) % P`.
    */
  def minHashSig(tokens: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(tokens), numHashes))

  /** `simHashFp(tokens)`: 60-bit SimHash; bit j = sign of
    * Σ_tokens (±1 per bit j of `base60(token)`).
    */
  def simHashFp(tokens: Column): Column =
    ColumnBridge.column(SimHashFp(ColumnBridge.expression(tokens)))
}

/** JVM twin of the SQL-portable hash family — callable from generated
  * code (static forwarders) and interpreted eval.
  */
object PortableHashImpl {

  /** 2^31 − 1, the Mersenne prime bounding the affine MinHash family. */
  val P: Long = 2147483647L

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(utf8 bytes) == integer value of the first 15
    * hex chars of the digest (what `conv(substr(md5(t),1,15),16,10)`
    * computes): big-endian load of digest bytes 0..7, shifted right 4.
    */
  def base60(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def aConst(i: Int): Long = ((i + 1) * 2654435761L) % P
  def bConst(i: Int): Long = ((i + 1) * 40503L) % P
}

/** MinHash signature of an `array<string>`: element i is
  * `min_j (A_i * (base60(token_j) % P) + B_i) % P` — exactly
  * `array_min(transform(tokens, t => (A_i*(base60(t)%P)+B_i)%P))`.
  * Null tokens are skipped (array_min ignores nulls); empty input and
  * all-null input yield all-null elements, matching the HOF twin.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!v.isNullAt(j)) {
        any = true
        val base = PortableHashImpl.base60(v.getUTF8String(j)) % PortableHashImpl.P
        var i = 0
        while (i < numHashes) {
          val h = (PortableHashImpl.aConst(i) * base + PortableHashImpl.bConst(i)) %
            PortableHashImpl.P
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      j += 1
    }
    if (!any) new GenericArrayData(new Array[Any](numHashes))
    else UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val impl = "graft.functions.PortableHashImpl"
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val h = ctx.freshName("h")
      s"""
         |final int $n = $v.numElements();
         |final long[] $out = new long[$numHashes];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$v.isNullAt($j)) {
         |    $any = true;
         |    final long $base = $impl.base60($v.getUTF8String($j)) % ${PortableHashImpl.P}L;
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      final long $h =
         |        ($impl.aConst($i) * $base + $impl.bConst($i)) % ${PortableHashImpl.P}L;
         |      if ($h < $out[$i]) $out[$i] = $h;
         |    }
         |  }
         |}
         |${ev.value} = $any
         |  ? (org.apache.spark.sql.catalyst.util.ArrayData)
         |      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out)
         |  : (org.apache.spark.sql.catalyst.util.ArrayData)
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$numHashes]);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash fingerprint of an `array<string>`: bit j is set iff
  * Σ_tokens (+1 if bit j of `base60(token)` else −1) > 0 — exactly the
  * HOF composition HofTwins.fingerprintHof (in the tests). Null tokens
  * are skipped.
  */
case class SimHashFp(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_fp"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val counts = new Array[Int](60)
    var j = 0
    while (j < n) {
      if (!v.isNullAt(j)) {
        val h = PortableHashImpl.base60(v.getUTF8String(j))
        var b = 0
        while (b < 60) {
          counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val impl = "graft.functions.PortableHashImpl"
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |final int $n = $v.numElements();
         |final int[] $counts = new int[60];
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$v.isNullAt($j)) {
         |    final long $h = $impl.base60($v.getUTF8String($j));
         |    for (int $b = 0; $b < 60; $b++) {
         |      $counts[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if ($counts[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
