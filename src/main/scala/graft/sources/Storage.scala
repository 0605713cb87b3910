package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout helpers for the 100 TB posture — the pieces that turn
  * recurring shuffles into one-time writes:
  *
  *  - **Bucketing**: persist both sides of a hot join bucketed on the join
  *    key; subsequent joins are shuffle-free (SortMergeJoin over
  *    co-located buckets, no Exchange). At 100 TB this converts the
  *    lineitem⋈orders shuffle (the biggest network cost in the corpus)
  *    into local disk reads. Verified shuffle-free in StorageSpec.
  *  - **Partitioning**: persist event/fact tables partitioned by a
  *    low-cardinality derived column (e.g. event date); predicate-pruned
  *    scans read only matching directories (PartitionFilters in the scan
  *    node), the standard time-series layout.
  *  - **Lifecycle**: every persisted layout (the b8 join tables, the ANN
  *    and dedup indexes, the text models) is named, checked, swept and
  *    built through [[ensureLayout]].
  *
  * The reference has no storage layer at all (inputs ride the RPC body,
  * `master.cc:270-293`; results live in master RAM, `job.h:86-88`).
  */
object Storage {

  /** Write `df` as a bucketed, sorted table into the session catalog
    * (requires a warehouse dir; buckets co-locate equal keys).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Write `df` partitioned by `partitionCols` (directory-per-value). */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Cheap fingerprint of a source table's files (full per-file path,
    * size, mtime list — NO data scan). Layout names (bucketed join
    * tables, partitioned scans, the ANN index) are keyed by it so a
    * corpus regenerated at the same path changes the key and a stale
    * layout is never silently served (dir.hashCode alone could not see
    * regeneration).
    *
    * The MD5 digests the FULL sorted per-file list — a regenerated corpus
    * whose total bytes happen to match within mtime granularity still
    * changes some file's entry, so the key changes. (A 31-multiplier fold
    * over the totals could collide there.)
    */
  def sourceFingerprint(paths: String*): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    paths.flatMap(p => walk(new java.io.File(p)))
      .map(f => s"${f.getPath}|${f.length}|${f.lastModified}")
      .sorted
      .foreach(line => md.update((line + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** One persisted layout's catalog identity: table `i` is named
    * `prefixes(i) + suffix`. Each prefix is the layout's sweep namespace
    * ([[dropStaleLayouts]]); one live suffix per prefix.
    */
  final case class Layout(prefixes: Seq[String], suffix: String) {
    val tables: Seq[String] = prefixes.map(_ + suffix)
  }

  /** Key a layout by what it was built from: the suffix is the
    * [[sourceFingerprint]] of `sources` plus `_params` when the build
    * has parameters. A regenerated source changes the fingerprint, and
    * a layout built with other parameters (cell count, banding, bucket
    * count) is not this layout — either way the name changes, so a
    * stale or differently-built layout is never served.
    */
  def layout(prefixes: Seq[String], sources: Seq[String],
      params: String = ""): Layout =
    Layout(prefixes, sourceFingerprint(sources: _*) +
      (if (params.isEmpty) "" else s"_$params"))

  /** Ensure every table of `layout` exists; returns its table names.
    * When one is missing: sweep the stale layouts of each prefix (and of
    * `alsoSweep`, side tables keyed by the same suffix), then
    * `build(tables)`. The sweep is skipped with `sweepStale = false` —
    * the side-corpus mode (temp-dir copies, throwaway spec corpora) that
    * must not drop another live corpus's layout.
    *
    * Write order: `build` writes the table whose presence marks
    * completion LAST. A crash mid-build then leaves at most some tables
    * without that one, and the all-tables check here rebuilds — a
    * half-written layout is never served.
    */
  def ensureLayout(spark: SparkSession, layout: Layout,
      sweepStale: Boolean = true, alsoSweep: Seq[String] = Nil)(
      build: Seq[String] => Unit): Seq[String] = {
    if (!layout.tables.forall(spark.catalog.tableExists)) {
      if (sweepStale)
        (layout.prefixes ++ alsoSweep).foreach(dropStaleLayouts(spark, _, layout.suffix))
      build(layout.tables)
    }
    layout.tables
  }

  /** STARTUP-ONLY sweep for the standalone tools that run against the
    * persistent default warehouse (MaintBench, SemTopcAccuracy): delete
    * `graft_*` layout directories a PREVIOUS process left behind. Every
    * engine session uses the in-memory catalog (no Hive metastore), so
    * such a directory cannot be adopted — and saveAsTable refuses to
    * create a table over the stale location (LOCATION_ALREADY_EXISTS).
    *
    * Deliberately NOT called from layout builders: catalogs are
    * per-process, so a builder-time "orphan" check cannot distinguish a
    * dead directory from a CONCURRENT live session's layout and would
    * silently delete the latter mid-read (round-17 advice). Only a
    * tool's main — which owns the single-process assumption for its
    * run — may invoke this, once, before any layout is built; builders
    * hitting a genuinely stale location fail loudly instead.
    */
  def sweepOrphanWarehouseDirs(spark: SparkSession): Unit = {
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("graft_") &&
        !spark.catalog.tableExists(d.getName))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** Drop layouts (catalog tables / warehouse dirs) built for an earlier
    * fingerprint or other parameters of the same source: every
    * `prefix`-named table or directory whose name does not end in
    * `keepSuffix`. Superseded layouts are dead weight — the key that
    * named them can never be derived again — so letting them accumulate
    * across corpus regenerations leaks a full table copy each time.
    * Called by [[ensureLayout]] (and the b8 partitioned path layout)
    * whenever a layout is (re)built.
    */
  def dropStaleLayouts(
      spark: SparkSession, prefix: String, keepSuffix: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n.startsWith(prefix) && !n.endsWith(keepSuffix))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith(prefix) && !d.getName.endsWith(keepSuffix))
      .foreach { d =>
        // Files.walk holds directory handles until closed — scope it.
        scala.util.Using.resource(java.nio.file.Files.walk(d.toPath)) { s =>
          s.iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
  }
}
