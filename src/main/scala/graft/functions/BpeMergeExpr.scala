package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the BPE trainer's hot inner loop: the
  * greedy left-to-right simultaneous merge of a batch of symbol-disjoint
  * accepted pairs over a symbol array (TextOps.bpeTrain's per-round
  * vocab rewrite).
  *
  * The HOF twin (`aggregate` with state (out, held) and an
  * `array_append` per symbol) is semantically exact but quadratic per
  * word: every `array_append` copies the accumulated output array, so a
  * w-symbol word costs O(w²) element copies per round, and the literal
  * pair map / left-symbol array are linear scans per symbol
  * (`GetMapValue` and `array_contains` don't hash). This expression is
  * the same automaton as ONE linear Java pass with an O(1) hash lookup
  * per symbol — asserted bit-identical to the HOF twin in
  * BpeMergeExprSpec (corpus + adversarial property), and the trainer's
  * merge tables stay byte-identical so the DuckDB oracle replay
  * (taken-parity window) is untouched.
  *
  * Disjointness is the correctness keystone, same as the HOF: each
  * symbol appears in at most one accepted pair, so `held` (a pending
  * LEFT symbol) merges iff the next symbol equals its unique partner,
  * and no occurrence can match two different accepted pairs.
  */
object BpeMergeExpr {

  /** `bpeMergeSeq(seq, accepted)`: the symbol array after one
    * simultaneous greedy merge round of the `accepted` (lhs, rhs)
    * batch. `accepted` must be symbol-disjoint (the trainer's
    * rank-order greedy scan guarantees it).
    */
  def bpeMergeSeq(seq: Column, accepted: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeMergeSeq(ColumnBridge.expression(seq), accepted))
}

/** JVM implementation shared by interpreted eval and generated code (the
  * PortableHashImpl pattern: codegen emits one static call per row; the
  * loop itself is plain compiled Java).
  */
object BpeMergeImpl {

  /** lhs → [rhs, merged] lookup table; UTF8String keys so per-symbol
    * probes need no decode. Built once per expression instance (driver)
    * and shipped via the codegen reference array.
    */
  def buildMap(accepted: Seq[(String, String)])
      : java.util.HashMap[UTF8String, Array[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, Array[UTF8String]](
      accepted.size * 2)
    accepted.foreach { case (l, r) =>
      m.put(UTF8String.fromString(l),
        Array(UTF8String.fromString(r), UTF8String.fromString(l + r)))
    }
    m
  }

  /** One left-to-right pass of the (out, held) automaton — exactly the
    * HOF fold's cases in order:
    *  1. held non-null and x is held's partner → emit merged, clear held;
    *  2. else flush held if any, and if x is some pair's LEFT → hold x;
    *  3. else emit x (null symbols fall here, as in the HOF where a
    *     null map key / null array_contains is falsy).
    */
  def merge(v: ArrayData,
      m: java.util.HashMap[UTF8String, Array[UTF8String]]): ArrayData = {
    val n = v.numElements()
    val out = new Array[AnyRef](n)
    var len = 0
    var held: UTF8String = null
    var pair: Array[UTF8String] = null
    var j = 0
    while (j < n) {
      val x = if (v.isNullAt(j)) null else v.getUTF8String(j)
      if (held != null && x != null && x.equals(pair(0))) {
        out(len) = pair(1); len += 1
        held = null; pair = null
      } else {
        if (held != null) { out(len) = held; len += 1; held = null; pair = null }
        val p = if (x == null) null else m.get(x)
        if (p != null) { held = x; pair = p }
        else { out(len) = x; len += 1 }
      }
      j += 1
    }
    if (held != null) { out(len) = held; len += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, len))
  }
}

/** See [[BpeMergeExpr.bpeMergeSeq]]. Provenance: replaces the HOF twin
  * of TextOps.bpeTrain (kept as the test-side `HofTwins.mergeSeqBatchHof`
  * for the bit-identity spec); reference trainer semantics per SURVEY §2.3 C4
  * (Sennrich-style BPE, batched disjoint rounds).
  */
case class BpeMergeSeq(child: Expression, accepted: Seq[(String, String)])
    extends UnaryExpression {

  require(accepted.nonEmpty, "empty merge batch")
  // Disjointness is the automaton's correctness contract (see scaladoc);
  // buildMap keys on lhs alone, so a violated contract would diverge
  // from the HOF twin SILENTLY (last-wins) — fail construction instead.
  // An (a,a) pair legally uses its symbol twice within the one pair.
  require({
    val seen = scala.collection.mutable.Set[String]()
    accepted.forall { case (l, r) =>
      !seen(l) && (l == r || !seen(r)) && { seen += l; seen += r; true }
    }
  }, s"merge batch is not symbol-disjoint: $accepted")

  @transient private lazy val lookup = BpeMergeImpl.buildMap(accepted)

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_merge_seq"

  override def nullSafeEval(input: Any): Any =
    BpeMergeImpl.merge(input.asInstanceOf[ArrayData], lookup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type: Janino compiles the generated cast and has no generics
    val mapRef = ctx.addReferenceObj("bpeMergeMap", lookup,
      "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BpeMergeImpl.merge($v, $mapRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
