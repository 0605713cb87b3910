package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSuite {

  test("approx_count_distinct row carries exact twin and an in-bound sketch claim") {
    val rows = Relational.b2AggApprox(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val exact = Relational.b2AggDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === exact.keySet)
    exact.foreach { case (flag, n) =>
      val (e, inBound) = rows(flag)
      assert(e == n, s"$flag: exact twin $e != $n")
      assert(inBound, s"$flag: HLL estimate outside 3-sigma bound")
    }
  }

  test("cube contains rollup of both dimensions plus grand total") {
    val rows = Relational.b6Cube(spark, sf).collect()
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(grand.head.getLong(2) == total)
    // status-level margins sum to the grand total
    val statusMargins = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(statusMargins.map(_.getLong(2)).sum == total)
  }

  test("top-k plan avoids a global sort (TakeOrderedAndProject)") {
    val plan = Relational.b5TopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("broadcast joins are planned for dimension tables in b3_join_agg") {
    val plan = Relational.b3JoinAgg(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("filter and projection push into the parquet scan in b1") {
    val plan = Relational.b1FilterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(1200))
  }

  test("approx percentiles: exact twins match, GK estimates inside q±0.01 brackets") {
    val rows = Relational.b2PercentilesApprox(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getBoolean(4), r.getBoolean(5))).toMap
    val exact = Relational.b2Percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows.keySet === exact.keySet)
    rows.foreach { case (k, (p50, p90, b50, b90)) =>
      assert((p50, p90) == exact(k), s"$k exact twin mismatch")
      assert(b50 && b90, s"$k: GK estimate outside the q±0.01 exact bracket")
    }
  }

  test("range join broadcasts the interval side (fact side never shuffles for it)") {
    val plan = Relational.b3JoinRange(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("salted join spreads one key over `salts` composite keys") {
    import org.apache.spark.sql.functions._
    // The salted plan must produce exactly the unsalted aggregate (the
    // oracle asserts this too) and its join key must include the salt.
    val plan = Relational.b3JoinSalted(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("salt"), plan.take(800))
    val salted = Relational.b3JoinSalted(spark, sf).collect().map(_.toSeq).toSeq
    val plain = graft.Tables.load(spark, sf, "lineitem")
      .join(graft.Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(Exact.col(Exact.revenueSql).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
    assert(salted === plain)
  }

  test("correlated subqueries decorrelate into joins (no per-row subquery)") {
    // Catalyst must rewrite the correlated scalar subquery into an
    // aggregate + join and the correlated EXISTS into a semi join — the
    // plan shape that scales (a per-row subquery re-execution does not
    // exist in the engine, but a LEFTOVER subquery expression in the
    // physical plan would mean the rewrite silently failed).
    val plan = Relational.b5SubqueryCorr(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS should plan as a semi join:\n${plan.take(1200)}")
    assert(!plan.toLowerCase.contains("scalar-subquery"),
      s"correlated scalar subquery not decorrelated:\n${plan.take(1200)}")
    assert(strayViews("graft_b5_").isEmpty, "b5_subquery_corr left a session view behind")
  }

  /** Session tables and views whose name starts with `prefix`. */
  private def strayViews(prefix: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix)).toSeq

  test("NOT IN plans as a null-aware anti join and honors three-valued semantics") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the nullable build side must force the null-aware anti join path
    // (sparkPlan: the planned physical tree, before AQE re-wraps it)
    val phys = Relational.b3JoinNotIn(spark, sf).queryExecution.sparkPlan
    val naaj = phys.collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty, s"NOT IN did not plan null-aware:\n$phys")
    // with no actual nulls, NOT IN == the plain anti join
    val notIn = Relational.b3JoinNotIn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(notIn.nonEmpty)
    assert(strayViews("graft_b3_").isEmpty, "b3_join_notin left a session view behind")
    // the trap the null-aware path exists for: one NULL in the subquery
    // empties the result entirely (every membership test is UNKNOWN)
    graft.Tables.load(spark, sf, "customer")
      .createOrReplaceTempView("graft_naaj_probe")
    val withNull = spark.sql(
      """SELECT c_custkey FROM graft_naaj_probe
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN c_custkey > 0 THEN NULL ELSE c_custkey END
        |   FROM graft_naaj_probe)""".stripMargin).count()
    assert(withNull == 0L, "a NULL in the NOT IN subquery must empty the result")
  }

  test("b8 bucketed layout: the bucket count is part of the layout key") {
    // A default (8-bucket) ensure, then a 4-bucket one over the same
    // corpus: the second must build and return 4-bucket tables, never
    // alias the existing 8-bucket pair.
    def numBuckets(t: String): Option[Int] =
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        .bucketSpec.map(_.numBuckets)
    val dflt = Relational.ensureB8BucketedLayout(spark, sf)
    assert(Seq(dflt._1, dflt._2).map(numBuckets) == Seq(Some(8), Some(8)))
    val four = Relational.ensureB8BucketedLayout(spark, sf, buckets = 4)
    assert(Seq(four._1, four._2).map(numBuckets) == Seq(Some(4), Some(4)),
      s"buckets = 4 returned $four")
    // and the 4-bucket layout answers the join unchanged (the default
    // join runs last, so the default layout is what stays behind)
    val byPriority = Relational.b8BucketedJoin(spark, sf, buckets = 4).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byPriority == Relational.b8BucketedJoin(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap)
  }
}
