package graft.functions

import graft.SparkSuite
import graft.queries.SimOps
import org.apache.spark.sql.functions._

/** The native AdcTopC expression must be bit-identical to the HOF twin
  * it replaced (HofTwins.adcTopcHof: transform + aggregate + array_sort +
  * slice) — same round-6-before-rank, same (adc, b_id) order, same
  * slice — because the topc family's dynamic oracle replays exactly
  * that arithmetic: any divergence is a correctness failure.
  */
class AdcTopCExprSpec extends SparkSuite {

  private def compare(df: org.apache.spark.sql.DataFrame,
      subspaces: Int, topc: Int): Unit = {
    val bad = df
      .withColumn("native", AdcTopCExpr.adcTopC(col("cands"), col("tbls"), topc))
      .withColumn("hof", HofTwins.adcTopcHof(subspaces, topc))
      .filter(not(col("native") <=> col("hof")))
    val rows = bad.take(3)
    assert(rows.isEmpty, rows.mkString("; "))
  }

  test("pinned cases: ties on adc break by b_id, cap binds, short cells pass through") {
    import spark.implicits._
    // 2 subspaces, 2-entry tables; codes are 1-based
    val tbls = Seq(Seq(0.25, 1.0), Seq(0.5, 0.125))
    val rows = Seq(
      // distinct adcs, cap binds at 2 of 3
      (Seq((10L, Seq(1, 1)), (11L, Seq(2, 2)), (12L, Seq(1, 2))), tbls),
      // exact adc tie (same codes) -> b_id ascending decides the cut
      (Seq((21L, Seq(1, 1)), (20L, Seq(1, 1)), (22L, Seq(2, 1))), tbls),
      // fewer candidates than the cap
      (Seq((30L, Seq(2, 2))), tbls),
      // empty posting list
      (Seq.empty[(Long, Seq[Int])], tbls))
      .toDF("raw", "tbls")
      .select(expr("transform(raw, r -> named_struct('b_id', r._1, 'codes', r._2))")
        .as("cands"), col("tbls"))
    compare(rows, subspaces = 2, topc = 2)
  }

  test("property: native == HOF on random posting lists") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val m = 4; val k = 8
    val cases = Seq.fill(60) {
      val tbls = Seq.fill(m)(Seq.fill(k)(
        BigDecimal(rng.nextDouble() * 2).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
      val n = rng.nextInt(40)
      // duplicated code rows force adc ties; ids shuffled
      val cands = Seq.fill(n)((rng.nextLong().abs % 1000,
        Seq.fill(m)(rng.nextInt(k) + 1)))
      (cands, tbls)
    }
    val df = cases.toDF("raw", "tbls")
      .select(expr("transform(raw, r -> named_struct('b_id', r._1, 'codes', r._2))")
        .as("cands"), col("tbls"))
    compare(df, subspaces = m, topc = 5)
  }

  test("corpus: the bounded gate's real probed rows rank identically") {
    import org.apache.spark.sql.functions.col
    // the real per-(arrival × probed cell) frame the gate scores —
    // the builder's own posting arrays and ADC lookup tables, scored
    // through BOTH implementations and compared row by row
    SimOps.ensureAnnIndex(spark, SimOps.AnnLayout.scaled(spark, sf))
    val probed = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
      .filter(col("vec_id") % 10 === 7)
    val frame = SimOps.semanticProbeFrame(spark, sf, probed)
      .filter(col("cands").isNotNull)
    assert(frame.count() > 0, "no probed cell held postings — vacuous")
    compare(frame, subspaces = SimOps.IncSemSubspaces,
      topc = SimOps.IncSemTopC)
  }
}
