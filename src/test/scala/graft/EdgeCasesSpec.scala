package graft

import graft.dedup.{MinHash, SetSimJoin, SimHash}
import graft.text.LangId
import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the reusable machinery: empty corpora,
  * single documents, and empty/whitespace text must not crash any
  * operator (a 100 TB pipeline always contains garbage rows).
  */
class EdgeCasesSpec extends SparkSuite {

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("SetSimJoin on an empty corpus returns no rows") {
    val out = SetSimJoin.jaccardSelfJoin(
      df(Seq.empty), col("doc_id"), MinHash.tokenSet(col("text")), 0.8)
    assert(out.count() === 0)
  }

  test("SetSimJoin on a single doc returns no pairs") {
    val out = SetSimJoin.jaccardSelfJoin(
      df(Seq((1L, "a b c"))), col("doc_id"), MinHash.tokenSet(col("text")), 0.8)
    assert(out.count() === 0)
  }

  test("SetSimJoin with identical docs yields the intra-set pair at jaccard 1") {
    val out = SetSimJoin.jaccardSelfJoin(
      df(Seq((1L, "a b c"), (2L, "a b c"))),
      col("doc_id"), MinHash.tokenSet(col("text")), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("MinHash/SimHash assignments tolerate empty and single-token text") {
    val rows = df(Seq((1L, ""), (2L, "word"), (3L, "word")))
    val mh = MinHash.dedupAssignments(rows, col("doc_id"), col("text")).collect()
    assert(mh.length === 3)
    val sh = SimHash.dedupAssignments(rows, col("doc_id"), col("text")).collect()
    assert(sh.length === 3)
    // identical single-token docs must cluster together
    val reps = mh.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(2L) === reps(3L))
  }

  test("LangId on empty text emits a deterministic language with score 0") {
    val out = LangId.detect(df(Seq((1L, ""))), col("text"))
      .select("detected_lang", "lang_score").collect().head
    assert(LangId.functionWords.contains(out.getString(0)))
    assert(out.getDouble(1) === 0.0)
  }

  test("mega-duplicate skew: 50k copies of one text collapse through the partial-agg path") {
    // The adversarial shape the bucket-min groupBy+join design exists
    // for: one text duplicated 50k times means ONE (band, bucket) holds
    // 50k memberships. A window over raw memberships would funnel them
    // into a single task; the partial aggregate collapses them map-side.
    // Assert the semantics hold at this skew: every copy maps to the
    // min doc_id, exactly one survivor, and the handful of unique docs
    // stay their own clusters — and the CC closure agrees.
    import spark.implicits._
    val copies = (1L to 50000L).map(i => (i, "the same boilerplate text repeated everywhere"))
    // fully token-disjoint singletons (shared filler words would be a
    // legitimately high Jaccard and the LSH would rightly merge them)
    val unique = (100001L to 100005L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    val corpus = (copies ++ unique).toDF("doc_id", "text")
    val asg = MinHash.dedupAssignments(corpus, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(asg.size == 50005)
    (1L to 50000L).foreach { i =>
      assert(asg(i) == (1L, i == 1L), s"copy $i: ${asg(i)}")
    }
    (100001L to 100005L).foreach { i =>
      assert(asg(i) == (i, true), s"unique $i merged wrongly: ${asg(i)}")
    }
    val cc = MinHash.dedupAssignmentsCC(corpus, col("doc_id"), col("text"))
      .filter(col("cluster_rep") =!= col("doc_id")).count()
    assert(cc == 49999L, "CC closure must collapse exactly the 49,999 non-first copies")
    spark.catalog.clearCache()
  }

  test("mega-duplicate skew: top-m neighbors stay bounded where the pair list is quadratic") {
    // 50k identical copies = ~1.25e9 exact-Jaccard pairs — the pair-list
    // API is intractable on this shape BY CONSTRUCTION (Ω(output)); the
    // top-m variant must emit exactly m neighbors per copy (each doc's m
    // smallest OTHER ids at jaccard 1.0) and finish in seconds, because
    // nothing in its plan is ever O(|set|²): the single distinct set
    // contributes slice(docs, 1, m+1) candidates per member, not 50k.
    import spark.implicits._
    import graft.dedup.{MinHash, SetSimJoin}
    val m = 3
    val corpus = (1L to 50000L)
      .map(i => (i, "the same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val top = SetSimJoin.jaccardTopM(
      corpus, col("doc_id"), MinHash.tokenSet(col("text")), 0.8, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = top.agg(
        count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("docs"),
        max(col("rk")).as("max_rk"),
        min(col("jaccard")).as("min_j")).head()
      assert(stats.getLong(0) == 50000L * m, "every copy must emit exactly m rows")
      assert(stats.getLong(1) == 50000L)
      assert(stats.getLong(2) == m.toLong && stats.getDouble(3) == 1.0)
      // spot-check both ends: neighbors are the m smallest other ids
      val d1 = top.filter(col("doc_id") === 1L).orderBy("rk")
        .collect().map(_.getLong(1)).toSeq
      val dLast = top.filter(col("doc_id") === 50000L).orderBy("rk")
        .collect().map(_.getLong(1)).toSeq
      assert(d1 == Seq(2L, 3L, 4L), s"doc 1 neighbors: $d1")
      assert(dLast == Seq(1L, 2L, 3L), s"doc 50000 neighbors: $dLast")
    } finally {
      top.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  test("MRJob runs a one-record job") {
    val out = graft.mr.MRJob.runLocal(Seq(("k", "v")),
      (k, _) => Seq((k, "1")),
      (k, vs) => Seq(s"$k\t${vs.size}"))
    assert(out === Seq("k\t1"))
  }

  /** Write a minimal documents corpus to a fresh dir the (spark, dir)
    * query surface can load.
    */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_docs").toString
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("incremental dedup with an EMPTY batch slice returns empty, both variants") {
    // no doc_id % 10 == 7 → the day's crawl is empty; neither variant
    // may crash, and the (empty) layout build must succeed too
    val dir = docsDir(Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z")))
    assert(graft.queries.DedupOps.c2IncrementalDedup(spark, dir).count() === 0)
    assert(graft.queries.DedupOps.c2IncrementalDedupIndexed(spark, dir).count() === 0)
  }

  test("incremental dedup resolves an exact duplicate at jaccard 1") {
    val dir = docsDir(Seq(
      (1L, "alpha beta gamma delta"),
      (7L, "alpha beta gamma delta"),  // the batch doc, identical to 1
      (17L, "p q r s t u v w")))       // batch doc with no match
    val out = graft.queries.DedupOps.c2IncrementalDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq((7L, false, Some(1L)), (17L, true, None)))
  }

  test("quality filter tolerates empty and one-token docs") {
    val dir = docsDir(Seq((1L, ""), (2L, "word"), (3L, ("the a of to in is and " * 10).trim)))
    val out = graft.queries.PipelineOps.c7QualityFilter(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(!out(1L) && !out(2L)) // too short on every length rule
  }

  test("capBuckets on an empty membership table returns empty; cap=1 keeps the min id") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Long, Long)].toDF("band", "bucket", "doc_id")
    assert(graft.queries.DedupOps.capBuckets(empty, 4, "graft_edge_cap0")
      .collect().isEmpty)
    val one = Seq((0, 5L, 9L), (0, 5L, 2L), (0, 5L, 7L))
      .toDF("band", "bucket", "doc_id")
    val kept = graft.queries.DedupOps.capBuckets(one, 1, "graft_edge_cap1")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(kept.toSeq == Seq((0, 5L, 2L)))
  }

  test("deleteFromAnnIndex with no matching ids is a no-op") {
    import org.apache.spark.sql.functions.col
    val full = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("edge_ann_del").toString
    try {
      full.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val ann = graft.queries.SimOps.AnnLayout.fixed(spark, dir)
      val (codesTab, _) = graft.queries.SimOps.ensureAnnIndex(spark, ann).tables
      val before = spark.table(codesTab).count()
      assert(graft.queries.SimOps.deleteFromAnnIndex(spark, ann, Seq.empty) == 0L)
      assert(graft.queries.SimOps.deleteFromAnnIndex(spark, ann,
        Seq(Long.MaxValue - 1, Long.MaxValue)) == 0L)
      assert(spark.table(codesTab).count() == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }

  test("scaledCells: next power of two past sqrt(n), floored at 16") {
    // sf0.001 ships 500 embeddings -> sqrt ~ 22.4 -> 32 cells
    assert(graft.queries.SimOps.scaledCells(spark, sf) == 32)
  }

  test("semantic dedup machinery survives a corpus smaller than the cell count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_emb").toString
    // 3 vectors (< the 16 requested cells), two of them identical
    val v1 = Array.fill(64)(0.5f); val v2 = v1.clone()
    val v3 = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    Seq((0L, v1.toSeq, 0), (1L, v2.toSeq, 0), (2L, v3.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.DedupOps.c2SemanticDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length === 3)
    // the identical pair collapses; the orthogonal vector survives
    assert(out.toSeq.contains((1L, 0L, false)))
    assert(out.count(_._3) === 2)
  }
}
