package graft.tools

import org.apache.spark.sql.functions._

/** Maintenance micro-benchmark: the TAKEDOWN-BATCH economics of the two
  * persisted-layout delete paths (VERDICT r15 ask #8) — a realistic
  * sequence of small delete batches against
  *
  *  - the ANN index ([[graft.queries.SimOps.deleteFromAnnIndex]]):
  *    EAGER physical rewrite of exactly the cell partitions containing
  *    a deleted id, per batch;
  *  - the dedup index ([[graft.queries.DedupOps.deleteFromDedupIndex]]):
  *    tombstone append + bounded cluster relabel per batch, one
  *    corpus-sized [[graft.queries.DedupOps.compactDedupIndex]] at the
  *    end.
  *
  * Usage: `runMain graft.tools.MaintBench <sfDir> [nBatches] [batchSize]`.
  * Each run copies the corpus to a temp dir and builds the temp
  * layouts with `sweepStale = false`, so the shared fingerprint-keyed
  * layouts of `sfDir` are neither mutated nor swept (a concurrent
  * bench/verify session on `sfDir` keeps its warmed index). Prints one JSON line:
  * per-batch seconds for both paths, the compact cost, and the
  * cells-rewritten counts that explain them. Results are recorded in
  * BASELINE.md; this main exists so the numbers are reproducible.
  */
object MaintBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val batchSize = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.Graft.session()
    // Single-process tool on the persistent default warehouse: sweep
    // layout directories dead processes left behind, ONCE, up front
    // (builders never sweep — a concurrent session's layout would look
    // identical to an orphan from here).
    graft.sources.Storage.sweepOrphanWarehouseDirs(spark)
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // ---- ANN path: eager per-batch cell rewrite ----
    val annDir = java.nio.file.Files.createTempDirectory("graft_maint_ann").toString
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$annDir/embeddings.parquet")
    val ann = graft.queries.SimOps.ensureAnnIndex(spark,
      graft.queries.SimOps.AnnLayout.fixed(spark, annDir), sweepStale = false)
    val codesTab = ann.codesTab
    val annIds = spark.table(codesTab).select(col("b_id"))
      .orderBy(xxhash64(col("b_id"))) // scattered across cells, deterministic
      .limit(nBatches * batchSize).collect().map(_.getLong(0))
    val nCellsTotal = spark.table(codesTab)
      .select(col("cell").cast("int")).distinct().count()
    def idsDf(ids: Seq[Long], name: String) =
      spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong).toDF(name)
    val annTimes = annIds.grouped(batchSize).map { batch =>
      val touched = spark.table(codesTab)
        .join(broadcast(idsDf(batch.toSeq, "b_id")), Seq("b_id"), "left_semi")
        .select(col("cell").cast("int")).distinct().count()
      val (_, sec) = timed(
        graft.queries.SimOps.deleteFromAnnIndex(spark, ann, batch.toSeq))
      (sec, touched)
    }.toSeq

    // ---- dedup path: tombstone + bounded relabel, compact at the end ----
    val dedupDir = java.nio.file.Files.createTempDirectory("graft_maint_dd").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$dedupDir/documents.parquet")
    graft.queries.DedupOps.ensureDedupIndex(spark, dedupDir, sweepStale = false)
    val labTab = graft.queries.DedupOps.ensureDedupLabels(spark, dedupDir,
      sweepStale = false)
    val ddIds = spark.table(labTab).select(col("doc_id"))
      .orderBy(xxhash64(col("doc_id")))
      .limit(nBatches * batchSize).collect().map(_.getLong(0))
    val ddTimes = ddIds.grouped(batchSize).map { batch =>
      timed(graft.queries.DedupOps.deleteFromDedupIndex(
        spark, dedupDir, idsDf(batch.toSeq, "doc_id")))._2
    }.toSeq
    val (_, compactSec) = timed(
      graft.queries.DedupOps.compactDedupIndex(spark, dedupDir))

    def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(s"""{"tool":"maint_bench","sf":"$sfDir",""" +
      s""""batches":$nBatches,"batch_size":$batchSize,""" +
      s""""ann_cells_total":$nCellsTotal,""" +
      s""""ann_batch_sec":${fmt(annTimes.map(_._1))},""" +
      s""""ann_cells_touched":${annTimes.map(_._2).mkString("[", ",", "]")},""" +
      s""""ann_total_sec":${f"${annTimes.map(_._1).sum}%.2f"},""" +
      s""""dedup_batch_sec":${fmt(ddTimes)},""" +
      s""""dedup_total_sec":${f"${ddTimes.sum}%.2f"},""" +
      s""""dedup_compact_sec":${f"$compactSec%.2f"}}""")
    Seq(annDir, dedupDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    spark.stop()
  }
}
