package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Physical-layout verification: bucketed joins plan without a shuffle;
  * partitioned scans prune directories; the layout lifecycle
  * (`ensureLayout`) builds once per key, re-keys on regeneration,
  * rebuilds partial layouts and sweeps only its own namespace.
  */
class StorageSpec extends SparkSuite {

  test("bucketed join is shuffle-free (no Exchange on either side)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    Storage.writeBucketed(li, "li_b", "l_orderkey", 8)
    Storage.writeBucketed(o, "o_b", "o_orderkey", 8)
    // Disable auto-broadcast so the plan exercises the co-located
    // sort-merge path a 100 TB fact-fact join would take (at sf0.001
    // everything fits under the broadcast threshold).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(plan.contains("Bucketed: true"), plan.take(800))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // one exchange is allowed for the final groupBy; the join adds none
      assert(exchanges <= 1, s"unexpected join shuffles:\n${plan.take(1500)}")
      // correctness unchanged
      val expect = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/events"
    val ev = graft.Tables.load(spark, sf, "events")
      .withColumn("event_date", to_date(col("ts")))
    Storage.writePartitioned(ev, dir, Seq("event_date"))
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    val expected = ev.filter(to_date(col("ts")) === "2024-01-02").count()
    assert(pruned.count() == expected)
    assert(expected > 0)
  }

  /** A throwaway source: `n` rows of parquet under a fresh temp dir. */
  private def source(tag: String, n: Long): String = {
    val d = java.nio.file.Files.createTempDirectory(tag).toString
    spark.range(n).write.parquet(s"$d/src.parquet")
    s"$d/src.parquet"
  }

  private def warehouseHas(name: String): Boolean = new java.io.File(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name).exists()

  /** Ensure a two-table layout over `src`, counting builds. */
  private def ensureCounted(prefixes: Seq[String], src: String, builds: Array[Int],
      sweepStale: Boolean = true): Seq[String] =
    Storage.ensureLayout(spark, Storage.layout(prefixes, Seq(src), "t1"), sweepStale) {
      tables =>
        builds(0) += 1
        tables.foreach(t =>
          spark.range(3).write.mode("overwrite").format("parquet").saveAsTable(t))
    }

  test("ensureLayout: the second call runs no build") {
    val builds = Array(0)
    val src = source("graft-lay-once", 10)
    val first = ensureCounted(Seq("graft_tl1a_", "graft_tl1b_"), src, builds)
    assert(builds(0) == 1 && first.forall(spark.catalog.tableExists))
    assert(first.forall(_.endsWith("_t1")), s"params tag missing: $first")
    val second = ensureCounted(Seq("graft_tl1a_", "graft_tl1b_"), src, builds)
    assert(second == first)
    assert(builds(0) == 1, "the second ensure rebuilt an existing layout")
  }

  test("ensureLayout: a regenerated source gets new names; the old tables and dirs are dropped") {
    val builds = Array(0)
    val src = source("graft-lay-regen", 10)
    val old = ensureCounted(Seq("graft_tl2a_", "graft_tl2b_"), src, builds)
    assert(old.forall(warehouseHas))
    spark.range(20).write.mode("overwrite").parquet(src) // regenerate in place
    val fresh = ensureCounted(Seq("graft_tl2a_", "graft_tl2b_"), src, builds)
    assert(builds(0) == 2)
    assert(fresh.intersect(old).isEmpty, s"regenerated source kept its names: $fresh")
    assert(fresh.forall(spark.catalog.tableExists))
    assert(!old.exists(spark.catalog.tableExists), s"stale tables survived: $old")
    assert(!old.exists(warehouseHas), s"stale warehouse dirs survived: $old")
  }

  test("ensureLayout: a layout with one table missing is rebuilt") {
    val builds = Array(0)
    val src = source("graft-lay-partial", 10)
    val tables = ensureCounted(Seq("graft_tl3a_", "graft_tl3b_"), src, builds)
    spark.sql(s"DROP TABLE ${tables(1)}")
    assert(ensureCounted(Seq("graft_tl3a_", "graft_tl3b_"), src, builds) == tables)
    assert(builds(0) == 2, "a partial layout was served instead of rebuilt")
    assert(tables.forall(spark.catalog.tableExists))
  }

  test("ensureLayout: sweepStale = false leaves another corpus's layout in place") {
    val builds = Array(0)
    val prefixes = Seq("graft_tl4a_", "graft_tl4b_")
    val live = ensureCounted(prefixes, source("graft-lay-live", 10), builds)
    val side = ensureCounted(prefixes, source("graft-lay-side", 11), builds,
      sweepStale = false)
    assert(side.intersect(live).isEmpty)
    assert((live ++ side).forall(spark.catalog.tableExists),
      "a side-corpus build swept the live layout")
    // the default sweeps every other corpus's layout of the namespace
    val next = ensureCounted(prefixes, source("graft-lay-next", 12), builds)
    assert(next.forall(spark.catalog.tableExists))
    assert(!(live ++ side).exists(spark.catalog.tableExists))
  }

  test("the fixed and scaled ANN layouts of one corpus coexist") {
    import graft.queries.SimOps
    val dir = java.nio.file.Files.createTempDirectory("graft-lay-ann").toString
    try {
      spark.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(s"$dir/embeddings.parquet")
      val fixed = SimOps.AnnLayout.fixed(spark, dir)
      val scaled = SimOps.AnnLayout.scaled(spark, dir)
      val all = Seq(fixed.codesTab, fixed.modelTab, scaled.codesTab, scaled.modelTab)
      assert(all.distinct.length == 4, s"the two layouts share a name: $all")
      SimOps.ensureAnnIndex(spark, fixed)
      SimOps.ensureAnnIndex(spark, scaled)
      assert(all.forall(spark.catalog.tableExists), "ensuring scaled dropped fixed")
      val before = spark.table(scaled.codesTab).count()
      // maintenance touches one layout only; re-ensuring either drops nothing
      val id = spark.table(fixed.codesTab).select("b_id").head().getLong(0)
      assert(SimOps.deleteFromAnnIndex(spark, fixed, Seq(id)) == 1L)
      SimOps.ensureAnnIndex(spark, fixed)
      SimOps.ensureAnnIndex(spark, scaled)
      assert(all.forall(spark.catalog.tableExists), "ensuring fixed dropped scaled")
      assert(spark.table(scaled.codesTab).count() == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }
}
