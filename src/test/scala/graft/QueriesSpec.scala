package graft

/** Contract checks over the whole declared inventory. */
class QueriesSpec extends SparkSuite {

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("dynamic oracle renders one WITH text per known data-trained key") {
    val dyn = SparkEntry.dynamicOracleSql(spark, sf)
    val known = Set(
      "c3_ann_staleness", "c3_cluster_profile", "c3_ann_cells",
      "c2_incremental_semantic", "c5_stream_semantic",
      "c2_incremental_semantic_topc", "c5_stream_semantic_topc",
      "c5_stream_semantic_live", "c2_semantic_dedup", "c2_semantic_dedup_cc",
      "c3_ann_pq", "c3_ann_pq_indexed", "c3_ann_pq_filtered",
      "c3_ann_filtered_recall", "c3_ann_pq_filtered_adaptive", "c3_knn_join",
      "c3_ann_pq_recall", "c3_ann_ivf", "c3_ann_ivf_recall")
    assert(known.size == 19)
    assert(dyn.keySet == known)
    assert((dyn.keySet -- SparkEntry.queries.keySet).isEmpty)
    assert((dyn.keySet & SparkEntry.oracleSql.keySet).isEmpty)
    val bad = dyn.collect { case (k, sql) if !sql.startsWith("WITH ") => k }
    assert(bad.isEmpty, s"not a WITH text: $bad")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose EMPTY result is the correct answer on the sparse
  // sf0.001 slice: an anomaly report with no anomalies is not a broken
  // query (the sf0.001 event stream has ~1 event per user-hour, so no
  // hour can exceed 2x a user's mean). Non-emptiness for these is
  // asserted at sf0.01 instead (CurationOpsSpec).
  private val mayBeEmptyAtSf0001 = Set("c5_anomaly")

  test("every declared query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, sf).count()
          if (n > 0 || mayBeEmptyAtSf0001(name)) None else Some(s"$name: 0 rows")
        } catch {
          case e: Exception => Some(s"$name: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
