package graft.functions

import graft.dedup.MinHash
import graft.dedup.MinHash.{P, base60}
import graft.dedup.SimHash.Bits
import graft.queries.SimOps.{PqEncExprs, planeMatrix, probeCells}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference twins of the native expressions: each composes the
  * same arithmetic from Spark built-ins (higher-order functions), and
  * the expression specs assert the native form bit-identical to it on
  * the corpus. Only those specs call them, so they live with the tests.
  */
object HofTwins {

  // SimOps: dot/norm (VectorExprs), the sign sketch, the probe/encode
  // chain (PqProbeEnc) and the ADC top-c (AdcTopC).
  /** HOF twins of dotD/normD — used by specs to assert the native
    * expressions are bitwise-identical to the declarative composition.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
  def normHof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  /** HOF twin of lshBuckets (spec cross-validation of SignSketch). */
  def lshBucketsHof(embD: Column, tables: Int, bits: Int): Column = {
    val planes = typedLit(planeMatrix(tables * bits))
    transform(sequence(lit(0), lit(tables - 1)), t =>
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) => {
        // dot(embD, plane_{t*bits+i}) inline — evaluated once per (t, i)
        val dot = aggregate(
          zip_with(embD, element_at(planes, t * bits + i + 1), (x, c) => x * c),
          lit(0.0d), (a, x) => a + x)
        acc.bitwiseOR(
          when(dot > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
      }))
  }

  /** The expression-chain twin of [[graft.functions.PqProbeEncExpr
    * .pqProbeEnc]] — the pre-round-18 probe/encode pipeline, kept
    * SOLELY so PqProbeEncExprSpec can assert the native kernel
    * bit-identical on the real corpus (the adcTopcHof discipline).
    * Input: columns `vec_id`, `embD`; output (n_id, pos, cell, codes,
    * tbls), one row per (arrival × probed cell).
    */
  private[graft] def pqProbeChainHof(arrivals: DataFrame,
      coarse: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      subspaces: Int, nprobe: Int, residual: Boolean = true): DataFrame = {
    val e = PqEncExprs(coarse, books, subspaces, residual)
    val probed = arrivals
      .withColumn("cdists",
        graft.functions.VectorExprs.centroidDists(col("embD"), coarse))
      .select(col("vec_id").as("n_id"), col("embD").as("n_emb"),
        posexplode(probeCells(col("cdists"), coarse.length, nprobe))
          .as(Seq("pos", "cell")))
      .withColumn("enc", e.enc(col("n_emb"), col("cell")))
    (0 until subspaces).foldLeft(probed) {
        (df, m) => df.withColumn(s"sd$m", e.subDists(col("enc"), m))
      }
      .withColumn("tbls", array((0 until subspaces).map(m => col(s"sd$m")): _*))
      .withColumn("codes", array((0 until subspaces).map(m =>
        expr(s"CAST(array_position(sd$m, array_min(sd$m)) AS INT)")): _*))
      .select(col("n_id"), col("pos"), col("cell"), col("codes"), col("tbls"))
  }

  /** The built-ins twin of [[graft.functions.AdcTopCExpr.adcTopC]] —
    * kept solely so AdcTopCExprSpec can assert the native expression
    * bit-identical on the real corpus (the BpeMergeSeq discipline).
    * Resolves columns `cands` and `tbls` by name from the input frame.
    */
  private[graft] def adcTopcHof(subspaces: Int, topc: Int): Column = expr(
    s"""slice(array_sort(transform(cands, cd -> named_struct(
       |'adc', round(aggregate(sequence(0, ${subspaces - 1}),
       |  CAST(0.0 AS DOUBLE), (acc, m) -> acc +
       |  element_at(element_at(tbls, m+1), element_at(cd.codes, m+1))), 6),
       |'b_id', cd.b_id))), 1, $topc)""".stripMargin.replace("\n", " "))

  // MinHash.signature (MinHashSig) and SimHash.fingerprint (SimHashFp).
  /** HOF twin of `signature` (spec cross-validation only) — the same
    * family composed from built-ins, and the shape the DuckDB oracle SQL
    * mirrors.
    */
  def signatureHof(tokens: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => {
        val a = ((i + 1) * lit(2654435761L)) % P
        val b = ((i + 1) * lit(40503L)) % P
        array_min(transform(tokens, t => (a * (base60(t) % P) + b) % P))
      })

  /** HOF twin of `fingerprint` (spec cross-validation only; same shape as
    * the DuckDB oracle SQL). Null tokens are skipped, matching the native
    * expression.
    */
  def fingerprintHof(tokens: Column): Column = {
    val hashes = transform(tokens, t => MinHash.base60(t))
    // bitSum(j) = Σ (+1 | -1) over token-hash bit j; fold bits into a long.
    aggregate(
      sequence(lit(0), lit(Bits - 1)),
      lit(0L),
      (acc, j) => {
        val bitSum = aggregate(
          hashes,
          lit(0),
          (s, h) =>
            s + when(h.isNull, 0)
              .otherwise(
                when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1)
                  .otherwise(-1)))
        acc.bitwiseOR(
          when(bitSum > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
      })
  }

  // TextOps' BPE merge step (BpeMergeSeq).
  /** Built-ins twin of the native BpeMergeSeq expression — the greedy
    * left-to-right simultaneous merge of a BATCH of symbol-disjoint
    * pairs over the symbol ARRAY, as a codegen'd fold: state =
    * (out, held) where held is a pending symbol that is the LEFT of
    * some accepted pair, waiting for its right. Disjointness makes this
    * order-free: no occurrence can match two different accepted pairs
    * (that would need a shared symbol), so a run of consecutive matches
    * is only possible within one (a,a) pair and pairs up from the
    * left — exactly the oracle's taken-parity window replay. Kept (and
    * spec-compared on corpus + adversarial inputs) as the executable
    * semantics the native expression must match bit-for-bit; the
    * trainer itself runs the native pass (the HOF's per-symbol
    * array_append copies are quadratic per word).
    */
  private[graft] def mergeSeqBatchHof(seq: Column,
      accepted: Seq[(String, String)]): Column = {
    val Sep = " " // symbols are split-on-space tokens: never contain a space
    val pairMap = map(accepted.flatMap { case (a, b) =>
      Seq(lit(a + Sep + b), lit(a + b)) }: _*)
    val leftArr = typedlit(accepted.map(_._1).distinct)
    val emptyOut = array().cast("array<string>")
    val nullHeld = lit(null).cast("string")
    def st(out: Column, held: Column) =
      struct(out.as("out"), held.as("held"))
    aggregate(
      seq,
      st(emptyOut, nullHeld),
      (s, x) => {
        val out = s.getField("out"); val held = s.getField("held")
        // null held → null key → null lookup (try_: ANSI-safe)
        val m = try_element_at(pairMap, concat(held, lit(Sep), x))
        val flushed = when(held.isNotNull, array_append(out, held))
          .otherwise(out)
        when(held.isNotNull && m.isNotNull,
          st(array_append(out, m), nullHeld))
          .when(array_contains(leftArr, x), st(flushed, x))
          .otherwise(st(array_append(flushed, x), nullHeld))
      },
      s => when(s.getField("held").isNotNull,
        array_append(s.getField("out"), s.getField("held")))
        .otherwise(s.getField("out")))
  }
}
