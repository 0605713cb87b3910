package graft.functions

import graft.SparkSuite
import graft.queries.SimOps
import org.apache.spark.sql.functions._

/** The native PqProbeEnc kernel must be bit-identical to the
  * expression chain it replaced (HofTwins.pqProbeChainHof: CentroidDists
  * → zip_with/array_sort/transform probe ranking → zip_with residual →
  * per-subspace CentroidDists tables → array_position(array_min)
  * argmins) — same probe order including distance ties, same residual
  * subtraction, same table folds, same first-minimum code pick —
  * because the semantic family's dynamic oracle replays exactly that
  * arithmetic: any divergence is a correctness failure, not a
  * performance trade.
  */
class PqProbeEncExprSpec extends SparkSuite {

  test("corpus: native kernel ≡ expression chain on the scaled model") {
    val modelTab = SimOps.ensureAnnIndex(spark, SimOps.AnnLayout.scaled(spark, sf)).modelTab
    val (coarse, books) = SimOps.loadPqModel(spark, modelTab, 16)
    val arrivals = graft.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
    val native = arrivals
      .select(col("vec_id").as("n_id"),
        explode(PqProbeEncExpr.pqProbeEnc(col("embD"), coarse, books,
          math.min(8, coarse.length))).as("pr"))
      .select(col("n_id"), col("pr.pos").as("pos"), col("pr.cell").as("cell"),
        col("pr.codes").as("codes"), col("pr.tbls").as("tbls"))
    val chain = HofTwins.pqProbeChainHof(arrivals, coarse, books,
      subspaces = 16, nprobe = 8)
    // exact row-set equality on every field, tables included: <=> on
    // the full struct is a bitwise double comparison, so even a 1-ulp
    // fold-order drift fails
    val n = struct(col("n_id"), col("pos"), col("cell"),
      col("codes"), col("tbls"))
    val nativeRows = native.select(n.as("r"))
    val chainRows = chain.select(n.as("r"))
    assert(nativeRows.count() === chainRows.count())
    assert(nativeRows.count() > 0L)
    assert(nativeRows.join(chainRows, nativeRows("r") <=> chainRows("r"),
      "left_anti").isEmpty, "native rows missing from the chain output")
    assert(chainRows.join(nativeRows, chainRows("r") <=> nativeRows("r"),
      "left_anti").isEmpty, "chain rows missing from the native output")
  }

  test("corpus: raw-PQ (residual=false) and nprobe=1 assignment paths match too") {
    val modelTab = SimOps.ensureAnnIndex(spark, SimOps.AnnLayout.scaled(spark, sf)).modelTab
    val (coarse, books) = SimOps.loadPqModel(spark, modelTab, 16)
    val arrivals = graft.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 7 === 0).limit(60)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
    for (residual <- Seq(true, false)) {
      val native = arrivals
        .select(col("vec_id").as("n_id"),
          explode(PqProbeEncExpr.pqProbeEnc(col("embD"), coarse, books, 1,
            residual)).as("pr"))
        .select(col("n_id"), col("pr.pos").as("pos"), col("pr.cell").as("cell"),
          col("pr.codes").as("codes"), col("pr.tbls").as("tbls"))
      val chain = HofTwins.pqProbeChainHof(arrivals, coarse, books,
        subspaces = 16, nprobe = 1, residual = residual)
      val n = struct(col("n_id"), col("pos"), col("cell"),
        col("codes"), col("tbls"))
      val nativeRows = native.select(n.as("r"))
      val chainRows = chain.select(n.as("r"))
      assert(nativeRows.count() === chainRows.count(), s"residual=$residual")
      assert(nativeRows.count() > 0L)
      assert(nativeRows.join(chainRows, nativeRows("r") <=> chainRows("r"),
        "left_anti").isEmpty, s"residual=$residual: native rows not in chain")
    }
  }

  test("pinned: coarse-distance tie probes in cell order; code ties pick first") {
    import spark.implicits._
    // two IDENTICAL coarse centroids (distance tie → ascending cell
    // index order), 2 subspaces of dim 1, each book with an exact
    // duplicate codeword (argmin tie → first occurrence, 1-based)
    val coarse = Seq(Seq(1.0, 2.0), Seq(1.0, 2.0), Seq(9.0, 9.0))
    val books = Seq(
      Seq(Seq(0.5), Seq(0.5), Seq(3.0)),
      Seq(Seq(-1.0), Seq(2.0), Seq(-1.0)))
    val df = Seq((1L, Seq(2.0, 1.0))).toDF("vec_id", "embD")
    val rows = df.select(explode(
        PqProbeEncExpr.pqProbeEnc(col("embD"), coarse, books, 3)).as("pr"))
      .select("pr.pos", "pr.cell", "pr.codes", "pr.tbls")
      .collect()
    assert(rows.length === 3)
    // tie between cells 1 and 2 breaks ascending: probe order 1, 2, 3
    assert(rows.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
    // residual vs cell 1 = (1.0, -1.0); subspace books: dup codeword
    // 0.5 at positions 1 and 2 → first wins (code 1); second subspace
    // -1.0 exact at positions 1 and 3 → code 1
    assert(rows(0).getSeq[Int](2) === Seq(1, 1))
    // tables carry the raw squared distances of the residual
    val t0 = rows(0).getSeq[scala.collection.Seq[Double]](3)
    assert(t0(0) === Seq(0.25, 0.25, 4.0))
    assert(t0(1) === Seq(0.0, 9.0, 0.0))
  }
}
