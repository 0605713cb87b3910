package graft.functions

import graft.{SparkSuite, Tables}
import graft.queries.SimOps
import org.apache.spark.sql.functions._

/** Native vector expressions (DotProductD / SignSketch) must be
  * bitwise-identical to the declarative HOF compositions they replace —
  * same sequential fold order, so not just "close": equal doubles.
  * Exercised both through codegen (DataFrame path) and interpreted eval.
  */
class VectorExprsSpec extends SparkSuite {

  private def emb = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("native dot == HOF dot, bitwise, over the corpus") {
    val shifted = emb.withColumn("w", reverse(col("v")))
    val n = shifted
      .withColumn("native", VectorExprs.dot(col("v"), col("w")))
      .withColumn("hof", HofTwins.dotHof(col("v"), col("w")))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("native norm == HOF norm, bitwise") {
    val n = emb
      .withColumn("native", VectorExprs.norm(col("v")))
      .withColumn("hof", HofTwins.normHof(col("v")))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("SignSketch == HOF sketch for every (table, bits) element") {
    val tables = 8; val bits = 12
    val n = emb
      .withColumn("native", SimOps.lshBuckets(col("v"), tables, bits))
      .withColumn("hof", HofTwins.lshBucketsHof(col("v"), tables, bits))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("CentroidDists == HOF squared-L2 distances, bitwise") {
    val cents = Seq(
      Seq.tabulate(64)(i => 0.01 * i),
      Seq.tabulate(64)(i => -0.02 * i),
      Seq.fill(64)(0.5))
    val centsLit = typedLit(cents)
    val hof = transform(centsLit, c =>
      aggregate(zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0d), (a, x) => a + x))
    val n = emb
      .withColumn("native", VectorExprs.centroidDists(col("v"), cents))
      .withColumn("hof", hof)
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("interpreted eval matches codegen (DotProductD and SignSketch)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}

    val v = Array(0.5, -1.25, 3.0, 0.0)
    val w = Array(2.0, 4.0, -0.5, 7.0)
    val row = InternalRow(ArrayData.toArrayData(v), ArrayData.toArrayData(w))
    val a = BoundReference(0, ArrayType(DoubleType), nullable = false)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = false)

    val dot = DotProductD(a, b).eval(row).asInstanceOf[Double]
    assert(dot === (0.5 * 2.0 + -1.25 * 4.0 + 3.0 * -0.5 + 0.0 * 7.0))

    val planes = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val sk = SignSketch(a, planes, tables = 2, bits = 2).eval(row)
      .asInstanceOf[ArrayData].toLongArray()
    // table 0: bit0 = sign(0.5) = 1, bit1 = sign(-0.5) = 0 -> 1
    // table 1: bit0 = sign(-1.25) = 0, bit1 = sign(3.0) = 1 -> 2
    assert(sk.toSeq === Seq(1L, 2L))
  }

  test("nulls propagate, length mismatch folds over the shorter prefix") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0, 99.0))),
      (None, Some(Seq(1.0)))
    ).toDF("a", "b")
    val got = df.select(VectorExprs.dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) === 11.0)
    assert(got(1).isNullAt(0))
  }
}
