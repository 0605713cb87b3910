package graft

/** Whole-inventory plan audit: structural red flags that would sink a
  * 100 TB run must never appear in any declared query's plan.
  *
  *  - `CartesianProduct` (an unconditioned all-pairs shuffle join) is
  *    banned outright — every pairwise operator here generates candidates
  *    via buckets/prefixes/bands instead.
  *  - `BroadcastNestedLoopJoin` is allowed only where a small side is
  *    deliberately broadcast against a non-equi condition (interval join,
  *    bitmask set-join, query-set theta joins) — an allowlist, so a new
  *    query that accidentally plans a BNLJ over two fact tables fails CI.
  */
class PlanAuditSpec extends SparkSuite {

  // Queries whose PHYSICAL design is a broadcast nested-loop join on
  // purpose (small broadcast side, non-equi predicate).
  private val bnljAllowed = Set(
    "b3_join_range",     // broadcast interval table
    "c2_ngram_jaccard",  // distinct-set bitmask path: broadcast distinct sets
    "c2_ngram_jaccard_topm", // same bitmask path (bounded by maxBroadcastSets)
    "c2_lsh_recall",     // composes c2_ngram_jaccard's exact side: same
                         // intentional bitmask BNLJ
    "c2_containment",    // distinct-set bitmask path (vocab<=64): the
                         // saturation-immune strategy for degenerate
                         // vocabularies; big-vocab corpora plan the
                         // prefix-filtered join instead
    "c2_containment_best", // same set-level bitmask path
    "c3_cosine_topk",    // broadcast query subset, q_id <> b_id theta join
    "c3_range_search",   // same broadcast-query theta join, threshold filter
    "c3_knn_classify",   // same broadcast-query theta join as c3_cosine_topk
    "c3_ann_recall",     // composes c3_cosine_topk: same intentional BNLJ
    "c3_ann_ivf_recall", // composes c3_cosine_topk: same intentional BNLJ
    "c3_ann_staleness",  // exact ground-truth pass over the grown corpus:
                         // same broadcast-query theta join (bounded
                         // <=2·MaxQueries side) as c3_cosine_topk
    "c5_gapfill",        // date-spine x distinct-types cross product:
                         // both sides bounded by construction
                         // (O(days), O(types)), never corpus-sized
    "c4_tfidf",          // 1-row grand-total (n_docs) broadcast cross join
    "c4_pmi",            // 1-row grand-totals (n, p) broadcast cross joins
    "c4_vocab_growth",   // 1-row max-id normalizer broadcast cross join
    "c4_zipf",           // 1-row total-tokens + f1 normalizer cross joins
                         // on a TakeOrdered <=k-row side
    "c2_cc_stats"        // 1-row doc-total share normalizer cross join
                         // on the O(distinct sizes) histogram side
  )

  test("no CartesianProduct anywhere; BNLJ only on the allowlist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Subtree string of every BroadcastExchange in `name`'s physical plan,
    * built with size-based auto-broadcast disabled so the only broadcasts
    * left are the ones the operator code explicitly requests. (At cluster
    * scale every corpus-derived side exceeds the threshold anyway, so this
    * reproduces the 100 TB planning environment; locally the tiny fixtures
    * would otherwise let Catalyst "rescue" a bad plan by size.)
    */
  private def broadcastSubtrees(name: String): Seq[String] = {
    // AQE is also disabled for the audit: AdaptiveSparkPlanExec hides its
    // input plan from TreeNode.collect until execution, and the property
    // under test is the STATIC plan shape.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      plan.collect {
        case e if e.getClass.getSimpleName.startsWith("BroadcastExchange") =>
          e.toString
      }
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Like [[broadcastSubtrees]] but returns, per BroadcastExchange, the
    * exchange's OWN output attribute names alongside the printed subtree
    * — allowances anchored on the broadcast side's output schema are
    * immune to both plan-cache lineage inlining (the printed subtree
    * grows) and incidental attribute mentions deep in the lineage text.
    */
  private def broadcastOutputs(name: String): Seq[(Set[String], String)] = {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      plan.collect {
        case e if e.getClass.getSimpleName.startsWith("BroadcastExchange") =>
          (e.output.map(_.name).toSet, e.toString)
      }
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("ANN score re-attach never broadcasts the unfiltered embeddings table") {
    // c3_ann_lsh / c3_ann_ivf / c3_ann_staleness: every broadcast must be
    // the query subset (carries the `% 100` filter); the corpus re-attach
    // side must come back as a shuffle join.
    for (name <- Seq("c3_ann_lsh", "c3_ann_ivf", "c3_ann_staleness")) {
      val trees = broadcastSubtrees(name)
      assert(trees.nonEmpty, s"$name: expected query-subset broadcasts")
      val offenders = trees.filterNot(_.contains("% 100"))
      assert(offenders.isEmpty,
        s"$name: broadcast without the query-subset filter:\n${offenders.mkString("\n")}")
    }
  }

  test("embedding near-dup re-attach is broadcast-free (both sides are corpus-sized)") {
    val trees = broadcastSubtrees("c2_embed_neardup")
    assert(trees.isEmpty,
      s"c2_embed_neardup: corpus-sized broadcast:\n${trees.mkString("\n")}")
  }

  test("multimodal dedup digest joins are broadcast-free (digest tables are corpus-sized)") {
    // c6_asset_dedup joins per-asset digests against the per-digest
    // first-copy table; c6_frame_neardup joins frame memberships against
    // per-frame-hash mins. Every side scales with the corpus — none may
    // plan as a broadcast under cluster confs (locally the tiny fixtures
    // would let size-based broadcast mask a 100 TB OOM). Same for the
    // bloom-decontamination confirm join: the bloom itself is an in-plan
    // literal, never an Exchange.
    for (name <- Seq("c6_asset_dedup", "c6_frame_neardup", "c7_decontaminate_bloom")) {
      val trees = broadcastSubtrees(name)
      assert(trees.isEmpty,
        s"$name: corpus-sized broadcast:\n${trees.mkString("\n")}")
    }
  }

  test("dedup assignment bucket-min is a partial aggregate, never a window") {
    // min().over(Window.partitionBy(band, bucket)) would ship every
    // membership row of a mega-bucket into ONE task — no map-side combine,
    // and AQE's skew mitigation does not apply to window exchanges. The
    // assignment family must plan the bucket min as groupBy (partial
    // HashAggregate) + join back. These queries need no window for
    // anything else, so the assertion is simply: zero Window nodes.
    // (The CC variants' edge generation is materialized during query
    // construction, so its subtree is pinned separately in DedupSpec.)
    // String checks, not TreeNode.collect: AdaptiveSparkPlanExec hides
    // its input from collect until execution, but prints the full tree.
    for (name <- Seq("c2_minhash_lsh", "c2_simhash", "c7_curate",
        "c6_frame_neardup_minhash")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name: window over raw memberships:\n$plan")
      assert(plan.contains("HashAggregate"),
        s"$name: expected a hash aggregate for the bucket min:\n$plan")
    }
  }

  test("c7 running sums never window on a language alone") {
    // Window.partitionBy(lang) ships every row of a language through ONE
    // task (no partial agg, and AQE skew mitigation does not apply to
    // window exchanges) — English alone is half of a real corpus. The
    // two-phase prefix-sum construction must window on (pid, lang),
    // bounded by the range partitioner. String checks, not
    // TreeNode.collect (AdaptiveSparkPlanExec hides its input until
    // execution).
    for (name <- Seq("c7_token_budget", "c7_pack_sequences", "c7_pipeline")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert("windowspecdefinition\\(lang#".r.findFirstIn(plan).isEmpty,
        s"$name: window partitioned by lang alone:\n$plan")
      assert("windowspecdefinition\\(pid#".r.findFirstIn(plan).isDefined,
        s"$name: expected the bounded (pid, lang) window:\n$plan")
    }
  }

  test("global-rank consumers window only on bounded pid partitions") {
    // c7_curriculum / c7_shard_balance / c7_epoch_order ride the
    // two-phase bounded-partition global rank; a regression to a plain
    // unpartitioned (or epoch-only) Window would funnel the whole
    // corpus — or a whole epoch of it — through ONE task and would be
    // silent at test scale. Pin: every windowspecdefinition in these
    // plans partitions by the range-partitioner's pid FIRST, so no
    // window partition can outgrow a task.
    for (name <- Seq("c7_curriculum", "c7_shard_balance", "c7_epoch_order")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      val all = "windowspecdefinition\\(".r.findAllIn(plan).length
      val pidFirst = "windowspecdefinition\\(pid#".r.findAllIn(plan).length
      assert(all > 0, s"$name: expected the two-phase rank window:\n$plan")
      assert(all == pidFirst,
        s"$name: $all windows but only $pidFirst partition by pid first:\n$plan")
    }
  }

  test("bucketed join plans with no exchange on either join input") {
    // b8_bucketed_join persists both sides bucketed+sorted on the join
    // key: the SortMergeJoin must read co-located buckets directly — any
    // Exchange under the join means the layout was ignored and the 100 TB
    // shuffle is back. Audited under cluster-planning conditions
    // (auto-broadcast off so the small side can't be rescued by size, AQE
    // off so the static tree is inspectable).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = SparkEntry.queries("b8_bucketed_join")(spark, sf)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j if j.getClass.getSimpleName.contains("SortMergeJoin") => j
      }
      assert(joins.nonEmpty, s"expected a SortMergeJoin:\n$plan")
      val exchanges = joins.head.collect {
        case e if e.getClass.getSimpleName.contains("Exchange") => e.nodeName
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles: ${exchanges.mkString(", ")}\n${joins.head}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("partitioned scan prunes to the filtered date directories") {
    // b8_partitioned_scan lays events out directory-per-day; the date
    // predicate must land in PartitionFilters (pruned at file listing,
    // before any I/O) — an empty PartitionFilters list means the scan
    // reads all 30 days to answer a 5-day question.
    val plan = SparkEntry.queries("b8_partitioned_scan")(spark, sf)
      .queryExecution.executedPlan.toString
    val pf = plan.split("PartitionFilters: \\[")
    assert(pf.length > 1, s"no PartitionFilters in scan:\n$plan")
    assert(pf(1).split("\\]").head.contains("event_date"),
      s"date predicate not pushed to partition pruning:\n$plan")
  }

  test("indexed PQ query path reads the persisted index, never re-encodes the corpus") {
    // c3_ann_pq_indexed's contract: the only corpus-sized input is the
    // (cell, codes) table scan — training and encoding happened at layout
    // build time. The embeddings table may appear exactly once, for the
    // bounded query subset; a second embeddings scan means the corpus is
    // being re-encoded in-plan and the index bought nothing.
    val plan = SparkEntry.queries("c3_ann_pq_indexed")(spark, sf)
      .queryExecution.executedPlan
    val leaves = plan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("graft_ann_codes_")),
      s"no persisted codes-table scan in the plan:\n$plan")
    val embScans = leaves.count(_.contains("embeddings.parquet"))
    assert(embScans == 1,
      s"expected exactly 1 embeddings scan (the query subset), got $embScans:\n$plan")
  }

  test("indexed incremental dedup reads the persisted memberships, never re-bands the corpus") {
    // c2_incremental_dedup_indexed's contract: the corpus side of the
    // candidate join is the persisted (doc_id, band, bucket) layout —
    // banding happened at ingest. The MinHash signature expression may
    // appear only on the batch side; a signature computed over a
    // corpus-slice scan means the index bought nothing. The batch side
    // is cached (InMemoryTableScan), so the only allowed documents
    // scans are the cached base's build and the confirm-side token
    // re-attach.
    // sparkPlan, not executedPlan: the AQE root is a leaf node wrapping
    // the real tree, so collect() would see nothing below it.
    val plan = graft.SparkEntry.queries("c2_incremental_dedup_indexed")(spark, sf)
      .queryExecution.sparkPlan
    val leaves = plan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("graft_mh_mem_")),
      s"no persisted membership-table scan in the plan:\n$plan")
    // the exact confirm reads the layout's token-set table, not a raw
    // corpus re-scan — the layout is self-contained
    assert(leaves.exists(_.contains("graft_mh_toks_")),
      s"no persisted token-set scan in the plan:\n$plan")
    // the only direct documents read is the batch slice (under the
    // cached batch base); no corpus-sized documents FileScan anywhere
    val docScans = leaves.filter(l =>
      l.startsWith("FileScan") && l.contains("documents"))
    assert(docScans.isEmpty,
      s"raw documents FileScan in the indexed plan:\n${docScans.mkString("\n")}")
    // every subtree that computes a MinHash signature must sit over the
    // batch-slice cache, never over a raw documents scan
    val sigNodes = plan.collect {
      case n if n.expressions.exists(_.find(
        _.isInstanceOf[graft.functions.MinHashSig]).isDefined) => n
    }
    assert(sigNodes.nonEmpty, s"no batch-side signature found:\n$plan")
    sigNodes.foreach { n =>
      // A cached batch slice (InMemoryTableScan) is the allowed input —
      // its printed lineage legitimately mentions the documents file it
      // was built from. Only a DIRECT file scan under a signature node
      // means the corpus is being re-banded in-plan.
      val subLeaves = n.collectLeaves().map(_.toString)
      assert(!subLeaves.exists(l =>
          l.startsWith("FileScan") && l.contains("documents")),
        s"signature computed over a raw documents scan (corpus re-banding):\n$n")
    }
  }

  test("incremental CC reads persisted labels; the corpus never re-bands or re-labels in-plan") {
    // c2_incremental_cc's contract: the corpus participates only through
    // the persisted layout — the labels table carries the contracted
    // nodes, and the contracted star CC runs at construction over the
    // O(batch + touched clusters) edge set. Its result appears here as a
    // pre-computed leaf — either the loop checkpoint's ExistingRDD scan
    // or, since the round-19 driver-local finish (the contracted edge
    // set fits the bounded collect), a LocalTableScan of the assignment
    // relation. Both are evidence the CC was contracted at construction,
    // not run as an in-plan corpus CC. The final plan may therefore
    // contain NO raw documents FileScan (the batch slice is cached) and
    // no MinHash signature over anything but the cached batch.
    val plan = graft.SparkEntry.queries("c2_incremental_cc")(spark, sf)
      .queryExecution.sparkPlan
    val leaves = plan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("graft_mh_lab_")),
      s"no persisted labels-table scan in the plan:\n$plan")
    assert(leaves.exists(l => l.startsWith("Scan ExistingRDD") ||
        l.startsWith("LocalTableScan")),
      s"no pre-computed contracted-CC leaf in the plan:\n$plan")
    val docScans = leaves.filter(l =>
      l.startsWith("FileScan") && l.contains("documents"))
    assert(docScans.isEmpty,
      s"raw documents FileScan in the incremental-CC plan:\n${docScans.mkString("\n")}")
    plan.collect {
      case n if n.expressions.exists(_.find(
        _.isInstanceOf[graft.functions.MinHashSig]).isDefined) => n
    }.foreach { n =>
      val subLeaves = n.collectLeaves().map(_.toString)
      assert(!subLeaves.exists(l =>
          l.startsWith("FileScan") && l.contains("documents")),
        s"signature computed over a raw documents scan (corpus re-banding):\n$n")
    }
  }

  test("tf-idf / PMI frequency joins never broadcast vocabulary-sized tables") {
    // The only legitimate broadcasts are the 1-row grand totals (n_docs /
    // n_tokens / n_pairs): global aggregates, i.e. the TOPMOST
    // HashAggregate under the exchange has keys=[]. A df/unigram table
    // (keys=[tok]) feeding a BroadcastExchange means a 10^9-term
    // vocabulary would be replicated to every executor at scale.
    for (q <- Seq("c4_tfidf", "c4_pmi")) {
      val subs = broadcastSubtrees(q)
      assert(subs.nonEmpty, s"$q: expected the scalar-total broadcasts")
      subs.foreach { t =>
        val tail = t.split("HashAggregate\\(", 2)
        assert(tail.length == 2 && tail(1).startsWith("keys=[]"),
          s"$q: vocabulary-sized broadcast:\n$t")
      }
    }
  }

  test("set-sim join never broadcasts the token dictionary (vocab-sized)") {
    // Allowed broadcasts in c2_ngram_jaccard: the driver-built per-partition
    // offset table (pid/offset) and — on the bitmask path — the capped
    // distinct-set table. The dictionary scan (tok -> tok_id) must never
    // feed a BroadcastExchange. Only the plan ABOVE the first
    // InMemoryRelation matters: the relation prints its full cached
    // lineage (which legitimately contains the dict encode join), but a
    // cached table is materialized once, not broadcast from that lineage.
    val offenders = broadcastSubtrees("c2_ngram_jaccard")
      .filter(_.split("InMemoryRelation").head.contains("tok_id"))
    assert(offenders.isEmpty,
      s"c2_ngram_jaccard: vocabulary-sized broadcast:\n${offenders.mkString("\n")}")
  }

  test("containment family joins are broadcast-free above the cached set/doc tables") {
    // Every join side in the containment family scales with the corpus
    // or the vocabulary (inverted index, capped postings, candidate
    // sets, token-set re-attaches, the best-pick assignment), so no
    // side may be EXPLICITLY broadcast — under the audit's cluster
    // confs the static plan must be broadcast-free. (Runtime AQE may
    // still broadcast a side whose measured size proves small; that
    // evidence-based choice is correct at every scale and is exactly
    // what this pin does NOT forbid.) Legitimate static broadcasts:
    // the set-sim machinery's driver-built per-partition offset table
    // (the exchange OUTPUTS pid+offset and nothing corpus-shaped), and
    // — for the exact containment pair/best forms on this ≤64-token
    // fixture — the DISTINCT-SET bitmask side, which is bounded by
    // maxMaskSets and engages only when the vocabulary itself bounds it
    // (the c2_ngram_jaccard allowance). Both allowances are anchored on
    // the BroadcastExchange's own OUTPUT attributes — a `mask` column is
    // produced only by that bounded distinct-set construction
    // (token-level relations — the dictionary, the inverted index —
    // never OUTPUT one), and unlike a substring match over the printed
    // subtree this cannot be satisfied by a corpus-sized relation that
    // merely has a mask somewhere in its (possibly cache-inlined)
    // lineage text.
    for (name <- Seq("c2_containment", "c2_containment_best",
        "c2_containment_best_topc")) {
      val offenders = broadcastOutputs(name).filterNot { case (out, _) =>
        (out.contains("pid") && out.contains("offset")) ||
          out.exists(n => n == "mask" || n.endsWith("_mask"))
      }
      assert(offenders.isEmpty,
        s"$name: corpus/vocab-sized broadcast:\n${offenders.map(_._2).mkString("\n")}")
    }
  }
}
