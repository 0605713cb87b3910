package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger scale factor from an existing driver-generated one —
  * the scale-proof corpus for measuring how query times grow with data
  * size (BASELINE.md records the ratios). Usage:
  *
  *   runMain graft.ScaleGen <srcSfDir> <outDir> [multiplier=10] [density]
  *
  * The derived corpus is `multiplier` id-offset copies of the source
  * tables, NOT fresh synthesis — so value distributions, key skew, text
  * token frequencies, and embedding geometry all match the driver's
  * corpus by construction. Deterministic (no RNG): reruns produce
  * byte-identical data. Per-copy perturbations keep the derived corpus
  * honest at scale:
  *
  *  - documents, density=dense (default): a per-copy suffix token is
  *    appended to `text` (copy 0 is verbatim), so exact-duplicate rates
  *    match the source per copy while cross-copy pairs become
  *    NEAR-duplicates (~1-token Jaccard delta) — every doc a
  *    `multiplier`-clique, the ADVERSARIAL duplicate-saturated corpus
  *    that stresses candidate generation (measured: 88× candidate pairs
  *    for 10× docs);
  *  - documents, density=sparse: the REALISTIC crawl shape — ~2% of base
  *    docs keep the dense mode's near-dup copy family (clusters of
  *    `multiplier`), every other derived doc is decorrelated by a
  *    per-(doc, copy) salted token rewrite (~half its tokens made
  *    unique), which also breaks the source corpus's own word-salad
  *    cross-similarity: pairwise Jaccard lands ≈0.15, far below the 0.8
  *    dedup thresholds. Measuring a family on BOTH corpora separates
  *    "the corpus got bigger" from "the corpus got more duplicated"
  *    (BASELINE.md tables the two as columns);
  *  - events: ids and user_ids are offset per copy, timestamps are kept —
  *    10× event density over the same window, the shape of a service
  *    with 10× traffic (user count also grows 10×);
  *  - embeddings: vec_ids offset; a small deterministic jitter
  *    (xxhash64-derived, ±0.005) decorrelates copies so ANN buckets grow
  *    with corpus size instead of filling with exact clones.
  *
  * Only the tables the scale-sensitive families read (documents, events,
  * embeddings) are multiplied; the TPC-H-ish star tables are copied
  * verbatim for loaders that expect the full directory.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    val density = if (args.length > 3) args(3) else "dense"
    require(density == "dense" || density == "sparse",
      s"density must be dense|sparse, got $density")
    val spark = Graft.localSession()
    try generate(spark, src, out, mult, density)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, mult: Int,
      density: String = "dense"): Unit = {
    val copies = spark.range(mult).toDF("copy")

    def offsetBy(df: DataFrame, idCols: Seq[String]): DataFrame = {
      // id' = id + copy · (max+1) per id column — collision-free, stable.
      // All maxes in ONE aggregate action: a per-column agg would scan
      // the full source once per id column.
      val maxRow = df.agg(max(col(idCols.head)),
        idCols.tail.map(c => max(col(c))): _*).head()
      val offsets = idCols.zipWithIndex
        .map { case (c, i) => c -> (maxRow.getLong(i) + 1L) }.toMap
      idCols.foldLeft(df.crossJoin(copies)) { (d, c) =>
        d.withColumn(c, col(c) + col("copy") * offsets(c))
      }
    }

    val docs = Tables.load(spark, src, "documents")
    // Near-dup copy family: verbatim base, one appended token per copy.
    val denseText =
      when(col("copy") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" cpy"), col("copy")))
    // Decorrelating rewrite: ~half of each doc's tokens get a suffix
    // salted by (derived doc_id, token index) — unique per derived doc,
    // so rewritten docs are near-unique against copies of the same base
    // AND against the source's word-salad vocabulary overlap.
    val sparseText = array_join(
      zip_with(
        split(col("text"), " "),
        sequence(lit(1), size(split(col("text"), " "))),
        (t, i) => when(pmod(xxhash64(t, col("doc_id"), i), lit(2)) === 0,
          // the FULL derived id in the suffix — a modular suffix would
          // let salt-colliding copies of one base doc keep ~identical
          // rewrites (~0.33 Jaccard instead of the designed ~0.15)
          concat(t, lit("_d"), col("doc_id")))
          .otherwise(t)),
      " ")
    // sparse: ~2% of BASE docs keep the near-dup copy family; the rest
    // are decorrelated. The family flag is decided on the PRE-offset id
    // (a Knuth bucket, so a base doc's whole copy family shares it);
    // the sparse rewrite is salted by the POST-offset id (unique per
    // derived doc) — hence flag, then offset, then rewrite.
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val crossed = docs.crossJoin(copies)
      .withColumn("fam",
        // the shared overflow-safe bucket (bit-identical to the naive
        // form for these in-range pre-offset base ids, so existing
        // derived corpora are unchanged)
        graft.queries.PipelineOps.knuthBucketCol(col("doc_id")) <
          lit((0.02 * 4294967296L).toLong))
      .withColumn("doc_id", col("doc_id") + col("copy") * maxId)
    val withText =
      if (density == "dense") crossed.withColumn("text", denseText)
      else crossed.withColumn("text",
        when(col("fam"), denseText).otherwise(sparseText))
    withText
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy", "fam")
      .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    offsetBy(Tables.load(spark, src, "events"), Seq("event_id", "user_id"))
      .drop("copy")
      .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    val emb = Tables.load(spark, src, "embeddings")
    offsetBy(emb, Seq("vec_id"))
      .withColumn("embedding",
        when(col("copy") === 0, col("embedding")).otherwise(
          // deterministic per-(vec, dim) jitter in [-0.005, 0.005); the
          // jitter array is sized FROM the embedding (a hardcoded width
          // would null-pad zip_with and silently corrupt a corpus
          // generation with a different dimension)
          zip_with(col("embedding"),
            transform(sequence(lit(1), size(col("embedding"))),
              j => (pmod(xxhash64(col("vec_id"), j), lit(1000L))
                .cast("double") / 100000.0 - 0.005).cast("float")),
            (v, e) => v + e)))
      .drop("copy")
      .repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    for (t <- Tables.all)
      System.err.println(s"[scalegen] $t: " +
        spark.read.parquet(s"$out/$t.parquet").count() + " rows")
  }
}
