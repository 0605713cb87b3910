package graft.queries

import graft.Tables
import graft.dedup.{ConnectedComponents, MinHash, SetSimJoin, SimHash}
import graft.sources.Storage
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group C (near-dup) — C2: n-gram Jaccard, MinHash+LSH, SimHash
  * (SURVEY.md §2.3; band/bucket pattern per the public V-SMART-Join /
  * MMDS ch.3 literature referenced in PAPERS.md).
  *
  * Scale design: the oracle-checked exact-Jaccard query joins documents on
  * shared tokens and is deliberately restricted to candidate pairs that
  * co-occur in at least one bucket — never an O(n²) cross join. The LSH
  * variants (`c2_minhash_lsh`, `c2_simhash`) are the 100 TB path: candidate
  * generation is a group-by on (band, signature-slice) / fingerprint, so
  * the shuffle volume is O(n · bands), not O(n²); exactness of the final
  * Jaccard on the candidates is verified in MinHashSpec against brute force.
  */
object DedupOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Fixed query parameters: each is written once here, used by the
    * Spark plan and rendered as the same digits by the oracle replay.
    * The Jaccard cut of the token-set family (exact pairs, top-m, the
    * recall audit, the ingest resolve) and its top-m depth; the cosine
    * cut of the embedding family (c2_embed_neardup and SemDeDup) and the
    * sign-LSH shape of c2_embed_neardup.
    */
  private[queries] val NearDupJaccard = 0.8
  private[queries] val TopM = 5
  private[queries] val NearDupCosine = 0.35
  private[queries] val EmbedTables = 8
  private[queries] val EmbedBits = 12

  /** C2a: exact token-set Jaccard pairs above a threshold via the
    * prefix-filtered set-similarity self-join (graft.dedup.SetSimJoin) —
    * exact output, sub-quadratic candidate generation.
    */
  def c2NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.jaccardSelfJoin(
      docs(spark, dir), col("doc_id"), MinHash.tokenSet(col("text")), NearDupJaccard)
      .orderBy("a_id", "b_id")

  /** C2a': per-doc top-m nearest neighbors at Jaccard >= 0.8 — the
    * bounded-output form of c2_ngram_jaccard (<= m rows per doc at any
    * duplication density; the full pair list is Ω(output) and goes
    * quadratic on a self-similar corpus). Candidate generation is the
    * same prefix-filtered machinery; selection is a bounded-heap
    * Aggregator, so no stage is O(total pairs) in memory or output.
    */
  def c2NgramJaccardTopM(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.jaccardTopM(
      docs(spark, dir), col("doc_id"), MinHash.tokenSet(col("text")),
      NearDupJaccard, TopM)
      .orderBy("doc_id", "rk")

  /** C2a'': asymmetric NEAR-CONTAINMENT pairs — containment(A→B) =
    * |A∩B|/|A| ≥ 0.9 with |A| ≥ 10 tokens: the quote-/subset-inclusion
    * detector the Jaccard family cannot see (a doc pasted inside a much
    * larger one has containment ≈ 1 but low Jaccard — the union is
    * dominated by the bigger doc). The ingestion-dedup literature
    * treats this as its own relation (drop the contained copy, keep the
    * superset); decontamination too (a benchmark item quoted inside a
    * training doc). Threshold is the exact rational common·10 ≥ 9·|A|,
    * so the cut is bit-portable and the oracle replays it verbatim.
    * Scale: the containment-specific prefix filter in
    * [[graft.dedup.SetSimJoin.containmentSelfJoin]] — A explodes only
    * its |A|−⌈0.9|A|⌉+1 rarest tokens against the linear inverted
    * index, never all-pairs.
    */
  def c2Containment(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.containmentSelfJoin(
      docs(spark, dir), col("doc_id"), MinHash.tokenSet(col("text")))
      .orderBy("a_id", "b_id")

  /** C2a''': the O(n)-OUTPUT companion of [[c2Containment]] — per doc,
    * whether it is ≥0.9-contained in some other doc and its BEST
    * container (highest containment, smallest id on ties): the form a
    * curation pass actually consumes (drop the contained copy, keep the
    * superset), with the same output-boundedness rationale as the
    * dedup-assignment family — the pair LIST is Ω(candidates) on a
    * saturated corpus, the assignment never is. The best pick happens
    * at the SET level, before any doc expansion (one partial aggregate
    * over qualified set pairs; see SetSimJoin.containmentBestAssign) —
    * the doc-pair multiplicity never exists in this plan at all.
    */
  def c2ContainmentBest(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.containmentBestAssign(
      docs(spark, dir), col("doc_id"), MinHash.tokenSet(col("text")))
      .orderBy("doc_id")

  /** C2a'''': BOUNDED-candidate best-container — the topc discipline
    * applied to [[c2ContainmentBest]]: on a duplicate-saturated corpus
    * the exact form's candidate set goes quadratic (measured: 5.6 GB
    * shuffled / 196 s at dense sf1, OOM at the 8 g bench heap), because
    * "rare" prefix tokens aren't rare when every doc is a clique.
    * EVERY super-linear stage is bounded here:
    *  - candidate generation: each contained-side doc probes only its
    *    [[ContainAnchors]] (8) RAREST tokens, and each token's posting
    *    list is capped at its [[ContainPostingCap]] (64) smallest doc ids (the
    *    band-bucket cap discipline via [[graft.functions.BoundedMinIds]]
    *    — a partial aggregate, drops reported loudly), so agreement
    *    pairs are ≤ anchors·cap per doc at ANY density;
    *  - the exact intersect: only the top [[ContainTopC]] candidates by
    *    anchor-agreement count (deterministic (agree desc, b_id asc)
    *    order through the bounded-heap TopKAggregator) pay it —
    *    O(docs · c) confirms and array re-attaches.
    * Explicitly approximate (a true container whose every shared anchor
    * was capped out, or ranked below the c-th candidate, is missed; on
    * corpora where duplication is rare neither bound binds). Rarity
    * order, caps and ranks are ALL replayed verbatim by the oracle, so
    * the approximation itself is hash-checked. Token rarity ranks by
    * (corpus frequency, token) — byte-wise string comparison in both
    * engines.
    */
  def c2ContainmentBestTopC(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.util.ObservedLog.register(spark)
    val base = tokenSets(docs(spark, dir))
    val ex = base.select(col("doc_id"), size(col("toks")).as("n"),
      explode(col("toks")).as("tok"))
    val tf = ex.groupBy("tok").agg(count(lit(1)).as("freq"))
    // per-doc rarity-ordered anchor tokens (the `ContainAnchors` rarest).
    // The frequency table is vocab-sized — shuffle join, never broadcast
    // (the tf-idf posture); the per-doc sort is bounded by doc length.
    val pref = ex.join(tf.hint("shuffle_hash"), "tok")
      .filter(col("n") >= ContainMinTokens)
      .groupBy(col("doc_id"), col("n"))
      .agg(array_sort(collect_list(struct(col("freq"), col("tok")))).as("st"))
      .select(col("doc_id").as("a_id"),
        explode(expr(s"slice(transform(st, s -> s.tok), 1, $ContainAnchors)"))
          .as("tok"))
    // container-side posting lists capped at the ContainPostingCap
    // smallest ids
    val postAgg = new graft.functions.BoundedMinIds(ContainPostingCap)
      .toColumn.name("kc")
    val pb = ex.select(col("tok"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(postAgg)
      .toDF("tok", "kc")
      .select(col("tok"), col("kc._1").as("kept"), col("kc._2").as("n_mem"))
      .observe("graft_containment_posting_cap",
        sum(greatest(col("n_mem") - ContainPostingCap, lit(0L))).as("dropped_postings"),
        sum(when(col("n_mem") > ContainPostingCap, 1L).otherwise(0L)).as("capped_tokens"),
        count(lit(1)).as("n_tokens"))
      .select(col("tok"), explode(col("kept")).as("b_id"))
    // The posting table and the re-attaches are vocab/corpus-sized —
    // no EXPLICIT broadcast anywhere (PlanAuditSpec pins the static
    // plan broadcast-free under cluster confs); at runtime AQE may
    // still broadcast a side its measured size proves small, which is
    // the correct call at every scale.
    // Per-stage observed counters (r12 verdict #4): candidates generated
    // after the posting cap, pairs surviving the top-c rerank, pairs
    // confirmed — the three numbers that name the growing stage of a
    // scale decade in one run (CollectMetrics rides the plan, no second
    // scan).
    val cand = rerankTopC(
      pref.join(pb, Seq("tok")).filter(col("a_id") =!= col("b_id")),
      "a_id", "b_id", "agree", ContainTopC, Some("graft_containment"))
    val conf = cand
      .join(base.select(col("doc_id").as("a_id"), col("toks").as("a_toks"),
        size(col("toks")).as("n")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("common", size(array_intersect(col("a_toks"), col("b_toks"))))
      .filter(col("common") * 10 >= col("n") * 9)
      .withColumn("containment",
        round(col("common").cast("double") / col("n").cast("double"), 6))
      .observe("graft_containment_confirmed",
        count(lit(1)).as("confirmed_pairs"))
    val best = conf.groupBy(col("a_id").as("doc_id"))
      .agg(min(struct((-col("containment")).as("nc"), col("b_id").as("bid"))).as("b"))
      .select(col("doc_id"), col("b.bid").as("container_id"),
        (-col("b.nc")).as("containment"))
    graft.util.CacheScope.releaseAfterMaterialize(
      docs(spark, dir).select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("container_id").isNotNull.as("is_contained"),
          col("container_id"), col("containment"))
        .orderBy("doc_id"),
      Seq(base))
  }

  /** C2b: MinHash + LSH banding, surfaced as per-doc dedup assignments
    * (O(n) output — the pair list is inherently O(n²) on a self-similar
    * corpus). Rows-only driver check; pair-level exactness of the same
    * LSH machinery is asserted against brute force in DedupSpec.
    */
  def c2MinHashLsh(spark: SparkSession, dir: String): DataFrame =
    MinHash.dedupAssignments(
      docs(spark, dir), col("doc_id"), col("text"), numHashes = 64, bands = 16)
      .orderBy("doc_id")

  /** C2c: SimHash fingerprint dedup assignments. Rows-only. */
  def c2SimHash(spark: SparkSession, dir: String): DataFrame =
    SimHash.dedupAssignments(docs(spark, dir), col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("doc_id")

  /** C2b': MinHash LSH dedup with full transitive closure — duplicate
    * chains collapse via distributed connected components
    * (large-star/small-star, O(log n) rounds) instead of the one
    * min-propagation round of c2_minhash_lsh. Rows-only driver check;
    * equality with a brute-force union-find closure is asserted in
    * DedupSpec.
    */
  def c2MinHashCc(spark: SparkSession, dir: String): DataFrame =
    MinHash.dedupAssignmentsCC(
      docs(spark, dir), col("doc_id"), col("text"), numHashes = 64, bands = 16)
      .orderBy("doc_id")

  /** C2c'': duplicate-cluster size forensics over the MinHash-CC
    * clusters — the histogram (cluster_size → n_clusters, doc share) a
    * dedup run publishes alongside its assignments: a heavy tail of
    * mega-clusters means boilerplate/template contamination (and
    * predicts exactly where per-bucket caps will engage), while an
    * all-singletons profile means the threshold is too tight to matter.
    * Pure composition over [[c2MinHashCc]]'s O(n) assignment output:
    * one partial-agg shuffle on cluster_rep (O(clusters) rows out), a
    * second over the O(distinct sizes) histogram, and a broadcast 1-row
    * total for the share — nothing pair-shaped anywhere.
    */
  def c2CcStats(spark: SparkSession, dir: String): DataFrame = {
    // The O(clusters) size table feeds BOTH the histogram and the 1-row
    // total; persist it so the expensive CC-assignment subtree upstream
    // runs once, not once per consumer (released after the result
    // materializes — the CacheScope discipline).
    val sizes = MinHash.dedupAssignmentsCC(
        docs(spark, dir), col("doc_id"), col("text"), numHashes = 64, bands = 16)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    val tot = sizes.agg(sum(col("cluster_size")).as("n_total"))
    val out = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6)
          .as("docs_share"))
      .orderBy("cluster_size")
    graft.util.CacheScope.releaseAfterMaterialize(out, Seq(sizes))
  }

  /** C2c': SimHash dedup with full transitive closure (see c2_minhash_cc). */
  def c2SimHashCc(spark: SparkSession, dir: String): DataFrame =
    SimHash.dedupAssignmentsCC(docs(spark, dir), col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("doc_id")

  /** C2d: embedding-cosine near-duplicates — sign-LSH bucketed candidate
    * pairs (plus Hamming-1 multi-probe on one side) confirmed by exact
    * cosine >= [[NearDupCosine]]. Rows-only driver check; recall vs brute
    * force is asserted in DedupSpec. O(n·probes) shuffle, no all-pairs
    * stage.
    */
  def c2EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Persisted: the sketch column (tables×bits hyperplane dots per row) is
    // the dominant per-row cost and is consumed by both join sides plus the
    // two score-side re-attach joins — compute it once. O(n) rows of
    // (id, vec, sketch); spills to disk if it outgrows memory.
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embD"))
      .withColumn("buckets", SimOps.lshBuckets(col("embD"), EmbedTables, EmbedBits))
    // Dedup candidate pairs on ids ONLY (an 8-byte shuffle row), then
    // re-attach vectors via shuffle hash joins on id — never shuffle the
    // embeddings through the distinct, and never broadcast a corpus-sized
    // table (both re-attach sides here are the FULL embeddings table; a
    // broadcast would replicate the whole corpus to every executor).
    val pairs = SimOps.lshCand(
      SimOps.bucketRows(base, "a_id", EmbedBits, probe = true),
      SimOps.bucketRows(base, "b_id", EmbedBits, probe = false),
      "a_id", col("a_id") < col("b_id"))
    val vecs = base.select(col("vec_id"), col("embD"))
    graft.util.CacheScope.releaseAfterMaterialize(
      pairs
        .join(vecs.select(col("vec_id").as("a_id"), col("embD").as("a_emb"))
          .hint("shuffle_hash"), "a_id")
        .join(vecs.select(col("vec_id").as("b_id"), col("embD").as("b_emb"))
          .hint("shuffle_hash"), "b_id")
        .withColumn("cosine", SimOps.cosine6(col("a_emb"), col("b_emb")))
        .filter(col("cosine") >= NearDupCosine)
        .select("a_id", "b_id", "cosine")
        .orderBy("a_id", "b_id"),
      Seq(base))
  }

  /** C2g: LSH recall audit — the dedup twin of c3_ann_recall's
    * "quality is itself oracle-checked" posture: for every EXACT
    * >= 0.8-Jaccard pair (the prefix-filtered self-join ground truth),
    * did the c2_minhash_lsh banding (16 bands x 4 rows) co-bucket it?
    * Reported per similarity bucket (floor(jaccard·20): 0.80–0.85,
    * 0.85–0.90, ...) so the recall-vs-similarity curve the banding
    * theory predicts (1−(1−j⁴)¹⁶) is measured, not assumed — a hash
    * family or banding regression shows up as a hash mismatch here.
    *
    * Scale: both sides are the existing sub-quadratic machineries
    * (prefix-filtered exact pairs, O(n·bands) memberships); the audit
    * join is on pair ids only, and the output is O(buckets).
    */
  def c2LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val exact = SetSimJoin.jaccardSelfJoin(
      d, col("doc_id"), MinHash.tokenSet(col("text")), NearDupJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    // Per-doc band-ordered bucket ARRAY — candidacy of a pair is then one
    // narrow zip (`exists i: bucketA[i] = bucketB[i]`) after two id
    // joins. The membership-row formulations are far worse on a
    // duplicate-dense corpus: the all-pairs co-bucket distinct is
    // quadratic (19.9 s at sf0.1) and even probing per exact pair
    // explodes pairs × bands rows into a distinct (9.3 s measured);
    // this shape moves each exact pair exactly once and never expands
    // (1.4 s). Persisted: both join sides read it.
    val sig = MinHash.membershipsFromSets(
      d.select(col("doc_id"), MinHash.tokenSet(col("text")).as("toks")),
      col("doc_id"), col("toks"), numHashes = 64, bands = 16)
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("band"), col("bucket")))),
        s => s.getField("bucket")).as("buckets"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.CacheScope.releaseAfterMaterialize(
      exact
        .join(sig.select(col("doc_id").as("a_id"), col("buckets").as("ba")), "a_id")
        .join(sig.select(col("doc_id").as("b_id"), col("buckets").as("bb")), "b_id")
        .withColumn("found",
          exists(zip_with(col("ba"), col("bb"), (x, y) => x === y), b => b))
        .groupBy(floor(col("jaccard") * 20).cast("int").as("sim_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("found"), 1L).otherwise(0L)).as("n_found"))
        .select(col("sim_bucket"), col("n_pairs"), col("n_found"),
          round(col("n_found").cast("double") / col("n_pairs"), 6).as("recall"))
        .orderBy("sim_bucket"),
      Seq(sig))
  }

  /** Banding of the incremental-dedup family, shared by the in-plan
    * variant, the persisted layout, its append path, and (via
    * `mhChainSql(IncBands, IncRows)`) the oracle — retuning HERE retunes
    * every consumer at once (drifting one of them would silently empty
    * the candidate join). TUNED to the 0.8 confirm threshold: 16 bands
    * × 8 rows (128 hashes), so P(candidate) ≈ 1−(1−j⁸)¹⁶ — ≥95% recall
    * at j = 0.8 but ~6% admit rate at j = 0.5, an order of magnitude
    * fewer candidate pairs than the 4-row assignment banding on a
    * corpus whose BASELINE pairwise similarity is high (word-salad docs
    * share ~half their vocabulary; with 4-row bands nearly every cross
    * pair co-bucketed and the confirm join dominated the query).
    */
  private[queries] val IncBands = 16
  private[queries] val IncRows = 8
  private[queries] val IncHashes = IncBands * IncRows

  /** Per-band-bucket candidate-side cap for the bounded (_topc) ingest
    * variants: a bucket keeps only its `IncBucketCap` smallest corpus
    * doc ids as match candidates. Bounds candidate GENERATION — the one
    * stage the per-doc top-C rerank could not bound (measured sf1:
    * the band-bucket pair shuffle dominated c7_decontaminate_fuzzy at
    * 111 s on the duplicate-saturated derived corpus) — at
    * O(batch · bands · cap) pairs at ANY duplication density. Smallest-
    * ids is the right deterministic choice, not just a stable one: a
    * bucket's members all share that band's full minhash signature (the
    * bucket IS a hash of it), so they are symmetric as candidates, and
    * the downstream best-match rule already prefers the smallest c_id
    * on jaccard ties — the cap keeps exactly the ids the resolve would
    * favor. Replayed verbatim by the oracle (row_number per bucket).
    */
  private[queries] val IncBucketCap = 64

  /** Per-arrival candidate depth of c2_incremental_dedup_topc's
    * band-agreement rerank.
    */
  private[queries] val IncDedupTopC = 64

  /** c2_containment_best_topc's bounds, used by the plan and rendered
    * into its oracle: the per-doc candidate depth, the rarest-token
    * anchors per doc, the container-side posting cap per token, and the
    * contained-side minimum token count.
    */
  private[queries] val ContainTopC = 64
  private[queries] val ContainAnchors = 8
  private[queries] val ContainPostingCap = 64
  private[queries] val ContainMinTokens = 10

  // ---- The near-dup resolve vocabulary (Spark) ----
  //
  // One resolve serves c2_incremental_dedup, its _topc and _indexed
  // forms and c7_decontaminate_fuzzy(_topc): token sets → band
  // memberships → [[candidates]] (full, or [[Bounded]]) →
  // [[resolveBatch]] (exact confirm, best pick re-attached to every
  // arrival). c2_containment_best_topc shares the token sets and the
  // [[rerankTopC]] stage. Each rule's DuckDB twin sits in the replay
  // vocabulary below the query builders.

  /** The persisted token-set slice `(doc_id, toks)` of a documents
    * frame ([[MinHash.tokenSet]]): it feeds the banding AND the exact
    * confirm, so it is computed once.
    */
  private[queries] def tokenSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), MinHash.tokenSet(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The ingest batch: the deterministic 10% slice `doc_id % 10 = 7`,
    * the oracle-stable stand-in for today's crawl; the rest is the
    * standing corpus. SQL twins: [[BatchSql]], [[CorpusSql]].
    */
  private[queries] val InBatch: Column = col("doc_id") % 10 === 7

  /** `(doc_id, band, bucket)` memberships of token sets under the
    * [[IncBands]] × [[IncRows]] banding.
    */
  private[queries] def bandMemberships(toks: DataFrame): DataFrame =
    MinHash.membershipsFromSets(toks, col("doc_id"), col("toks"), IncHashes, IncBands)

  /** The bounded candidate form: each band bucket keeps its
    * [[IncBucketCap]] smallest ids (the standing side always, the
    * arrival side too when `capNewSide`), then each arrival keeps its
    * top `c` candidates by band agreement.
    */
  private[queries] final case class Bounded(c: Int, capNewSide: Boolean)

  /** Candidate pairs `(n_id, c_id)` of arrival memberships `nw` against
    * standing memberships `cp`: every co-bucketed pair once, or the
    * [[Bounded]] form — bucket caps through [[capBuckets]], then
    * [[rerankTopC]] on band agreement (more shared bands ⇒ higher
    * estimated Jaccard). `metric` prefixes the cap drop counters
    * (`_bucket_cap` standing side, `_train_cap` arrival side) and, with
    * `stages`, the rerank's pair counters. SQL twin: [[candidatesSql]].
    */
  private[queries] def candidates(nw: DataFrame, cp: DataFrame,
      bound: Option[Bounded], metric: String, stages: Boolean): DataFrame = {
    def coBucketed(n: DataFrame, c: DataFrame) = n.withColumnRenamed("doc_id", "n_id")
      .join(c.withColumnRenamed("doc_id", "c_id"), Seq("band", "bucket"))
    bound match {
      case None => coBucketed(nw, cp).select("n_id", "c_id").distinct()
      case Some(Bounded(c, capNewSide)) =>
        val cpc = capBuckets(cp, IncBucketCap, s"${metric}_bucket_cap")
        val nwc =
          if (capNewSide) capBuckets(nw, IncBucketCap, s"${metric}_train_cap") else nw
        rerankTopC(coBucketed(nwc, cpc), "n_id", "c_id", "bandsc", c,
          if (stages) Some(metric) else None)
    }
  }

  /** The top-`c` rerank: count the agreeing rows of `pairs` per `(l, r)`
    * into column `n`, then keep each `l`'s `c` best `r` in the
    * deterministic (count desc, `r` asc) order through the bounded-heap
    * [[graft.functions.TopKAggregator]] — a partial aggregate, O(l · c)
    * rows out, never a window. `stages` names the per-stage pair
    * counters `<stages>_agree` and `<stages>_topc`. SQL twin:
    * [[rerankSql]].
    */
  private[queries] def rerankTopC(pairs: DataFrame, l: String, r: String,
      n: String, c: Int, stages: Option[String]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val agree = observed(pairs.groupBy(l, r).agg(count(lit(1)).as(n)),
      stages, "_agree", "agree_pairs")
    val topk = new graft.functions.TopKAggregator[(Double, Long)](c, _._1, _._2)
      .toColumn.name("topc")
    observed(agree
      .select(col(l), col(n).cast("double"), col(r))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(p => (p._2, p._3))
      .agg(topk)
      .toDF(l, "topc")
      .select(col(l), explode(col("topc")).as("p"))
      .select(col(l), col("p._2").as(r)), stages, "_topc", "reranked_pairs")
  }

  /** A per-stage pair counter: the row count of `df`, observed on the
    * existing plan (no second scan) as `<stages><stage>`.
    */
  private def observed(df: DataFrame, stages: Option[String], stage: String,
      field: String): DataFrame =
    stages.fold(df)(s => df.observe(s + stage, count(lit(1)).as(field)))

  /** The cap itself: bounded-heap smallest-`cap` ids per (band, bucket)
    * via [[graft.functions.BoundedMinIds]] — a partial aggregate
    * (O(cap) memory per group map-side), NEVER a window (a saturated
    * bucket would funnel into one task). Drops are loud: an `observe`
    * node on the aggregated form reports dropped memberships / capped
    * buckets to stderr through [[graft.util.ObservedLog]] on every run.
    */
  private[graft] def capBuckets(mem: DataFrame, cap: Int,
      metric: String): DataFrame = {
    val spark = mem.sparkSession
    graft.util.ObservedLog.register(spark)
    import spark.implicits._
    val keep = new graft.functions.BoundedMinIds(cap).toColumn.name("kc")
    mem
      .select(col("band").cast("int"), col("bucket").cast("long"),
        col("doc_id").cast("long"))
      .as[(Int, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapValues(_._3)
      .agg(keep)
      .toDF("bb", "kc")
      .select(col("bb._1").as("band"), col("bb._2").as("bucket"),
        col("kc._1").as("kept"), col("kc._2").as("n_mem"))
      .observe(metric,
        sum(greatest(col("n_mem") - cap, lit(0L))).as("dropped_memberships"),
        sum(when(col("n_mem") > cap, 1L).otherwise(0L)).as("capped_buckets"),
        count(lit(1)).as("n_buckets"))
      .select(col("band"), col("bucket"), explode(col("kept")).as("doc_id"))
  }

  /** The resolve tail: exact-Jaccard confirm of the candidate pairs
    * (token sets re-attached by id for candidate rows only), best match
    * per new doc as ONE partial aggregate (min over the (-jaccard, c_id)
    * struct = highest jaccard, smallest id on ties — no window over the
    * candidate stream), left-joined back to the batch. `stages` adds the
    * `<stages>_confirmed` pair counter. SQL twin: [[confirmSql]] +
    * [[bestPickSql]].
    *
    * The confirm itself is ADAPTIVE (the SetSimJoin strategy
    * discipline): when the two sides' combined vocabulary fits in 64
    * bits, each token set collapses to one int64 and the exact
    * intersect becomes `bit_count(n & c)` — O(1)/pair instead of an
    * O(|toks|) string-array intersect. This matters because the
    * candidate stream's ROWS are narrow (two ids), so AQE rightly
    * coalesces its shuffle by bytes — on a duplicate-saturated
    * small-vocab corpus millions of array intersects then land on few
    * cores, and per-row cost is the only lever left. Big-vocab corpora
    * (the 100 TB case) keep the array path and pay only a sampled
    * vocabulary probe (one tiny batch-side aggregate): the full
    * distinct-vocabulary check runs ONLY when the sample already fits
    * in 64 tokens. Jaccard values are identical either way
    * (|A∩B| is |A∩B| however it's counted), so the oracle replay is
    * untouched.
    */
  private[queries] def resolveBatch(cand: DataFrame, newToks: DataFrame,
      corpToks: DataFrame, threshold: Double,
      maxMaskVocab: Int = 64,
      stages: Option[String] = None): DataFrame = {
    val sampleVocab =
      if (maxMaskVocab <= 0) Long.MaxValue
      else newToks
        .select(explode(col("toks")).as("tok")).limit(5000)
        .agg(count_distinct(col("tok"))).head().getLong(0)
    val vocab: Array[String] =
      if (sampleVocab > maxMaskVocab) Array.empty
      else newToks.select(explode(col("toks")).as("tok"))
        .unionByName(corpToks.select(explode(col("toks")).as("tok")))
        .distinct().sort("tok").limit(maxMaskVocab + 1).collect()
        .map(_.getString(0))
    val confirmed =
      if (vocab.nonEmpty && vocab.length <= maxMaskVocab && vocab.length <= 64) {
        val vlit = array(vocab.map(lit).toIndexedSeq: _*)
        def maskOf(c: org.apache.spark.sql.Column) =
          aggregate(c, lit(0L), (acc, t) => acc.bitwiseOR(
            call_function("shiftleft", lit(1L),
              (array_position(vlit, t) - 1).cast("int"))))
        cand
          .join(newToks.select(col("doc_id").as("n_id"),
            maskOf(col("toks")).as("n_mask"), size(col("toks")).as("n_n")), "n_id")
          .join(corpToks.select(col("doc_id").as("c_id"),
            maskOf(col("toks")).as("c_mask"), size(col("toks")).as("c_n")), "c_id")
          .withColumn("common",
            bit_count(col("n_mask").bitwiseAND(col("c_mask"))).cast("int"))
          .withColumn("jaccard", round(col("common").cast("double") /
            (col("n_n") + col("c_n") - col("common")).cast("double"), 6))
          .filter(col("jaccard") >= threshold)
      } else cand
        .join(newToks.select(col("doc_id").as("n_id"), col("toks").as("n_toks")), "n_id")
        .join(corpToks.select(col("doc_id").as("c_id"), col("toks").as("c_toks")), "c_id")
        .withColumn("common", size(array_intersect(col("n_toks"), col("c_toks"))))
        .withColumn("jaccard", round(col("common").cast("double") /
          (size(col("n_toks")) + size(col("c_toks")) - col("common")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
    val best = observed(confirmed, stages, "_confirmed", "confirmed_pairs")
      .groupBy(col("n_id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("c_id").as("cid"))).as("b"))
      .select(col("n_id").as("doc_id"), col("b.cid").as("match_id"),
        (-col("b.nj")).as("match_jaccard"))
    newToks.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id").isNull.as("is_novel"),
        col("match_id"), col("match_jaccard"))
      .orderBy("doc_id")
  }

  /** C2e: INCREMENTAL near-dup check — the production ingest shape: a
    * new batch of documents ([[InBatch]]) checked against the standing
    * corpus, each new doc resolved to is_novel or its best-matching
    * existing doc (highest exact Jaccard, smallest id on ties). Both
    * sides band once ([[IncBands]] banding), the join is on (band,
    * bucket), and only candidate pairs pay the exact confirm —
    * O(batch · bands) shuffle against a PRE-BANDABLE corpus side (see
    * [[c2IncrementalDedupIndexed]] for the persisted-layout form).
    */
  def c2IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    inPlanResolve(spark, dir, None)

  /** C2e'': BOUNDED-CONFIRM incremental dedup — the duplicate-saturated-
    * corpus scale path: [[c2IncrementalDedup]]'s exact confirm is
    * Ω(candidates), and on a corpus sitting just under the threshold the
    * candidate set goes quadratic (measured: 86.5 M pairs at sf1 — the
    * confirm join is ~90% of the 89 s cost). This variant bounds BOTH
    * super-linear stages: candidate GENERATION via the per-band-bucket
    * corpus cap ([[capBuckets]]/[[IncBucketCap]] — O(batch·bands·cap)
    * pairs at any duplication density, drops logged loudly), and the
    * exact confirm via the per-new-doc RERANK: keep only the top `c`
    * candidates by LSH band-agreement count ([[rerankTopC]]) —
    * O(batch · c) exact confirms, the c2_ngram_jaccard_topm contract
    * applied to the ingest check. Explicitly approximate: a true match
    * ranked below the c-th candidate — or outside its every bucket's
    * cap — is missed (on corpora where duplicates are rare, buckets and
    * per-doc candidate counts rarely reach the bounds and the result
    * equals the full variant exactly, which the spec pins at sf0.001).
    * The oracle replays bucket cap and band-agreement rank verbatim, so
    * the approximation itself is hash-checked. The new side is a batch,
    * small by contract, so only the corpus side is capped.
    */
  def c2IncrementalDedupTopC(spark: SparkSession, dir: String): DataFrame =
    inPlanResolve(spark, dir, Some(Bounded(IncDedupTopC, capNewSide = false)))

  private def inPlanResolve(spark: SparkSession, dir: String,
      bound: Option[Bounded]): DataFrame = {
    val base = tokenSets(docs(spark, dir))
    // Persisted too: both filter sides of the candidate join scan the
    // SAME membership table — without the cache each side recomputes the
    // 128-hash signature pass (the dominant per-row cost) from scratch.
    val mem = bandMemberships(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candidates(mem.filter(InBatch), mem.filter(!InBatch), bound,
      "graft_inc_dedup", stages = false)
    graft.util.CacheScope.releaseAfterMaterialize(
      resolveBatch(cand, base.filter(InBatch), base.filter(!InBatch), NearDupJaccard),
      Seq(base, mem))
  }

  /** The dedup index layout (memberships, token sets), keyed by corpus
    * fingerprint + banding. Every table of the dedup layout — the CC
    * labels and the tombstones too — carries its suffix.
    */
  private def dedupLayout(dir: String): Storage.Layout =
    Storage.layout(Seq("graft_mh_mem_", "graft_mh_toks_"),
      Seq(s"$dir/documents.parquet"), s"${IncHashes}h${IncBands}b")

  /** The layout's TOMBSTONE table (`doc_id` rows appended by
    * [[deleteFromDedupIndex]], cleared by [[compactDedupIndex]]) — absent
    * until the first delete; readers treat absence as empty.
    */
  private def tombstoneTab(suffix: String): String = s"graft_mh_del_$suffix"

  private def tombstones(spark: SparkSession, suffix: String): Option[DataFrame] = {
    val t = tombstoneTab(suffix)
    if (spark.catalog.tableExists(t)) Some(spark.table(t)) else None
  }

  /** One-time LSH LAYOUT of the standing corpus — the ingest posture
    * incremental dedup has at 100 TB: the corpus is banded and tokenized
    * ONCE when documents arrive (the b8/ANN-index posture applied to the
    * dedup index), and every subsequent batch check reads the persisted
    * membership table `(doc_id, band, bucket)` AND token-set table
    * `(doc_id, toks)` — the layout is self-contained, so the query path
    * never re-scans or re-tokenizes the raw corpus, and documents
    * appended later via [[appendDedupIndex]] (arrivals not present in
    * the parquet corpus) are first-class match candidates. Keyed by
    * corpus fingerprint + banding params (a layout banded differently is
    * not this layout); stale/differently-parameterized layouts are
    * swept. Idempotent; returns (membershipTable, tokenTable).
    */
  private[graft] def ensureDedupIndex(spark: SparkSession, dir: String,
      sweepStale: Boolean = true): (String, String) = {
    val Seq(memTab, toksTab) = Storage.ensureLayout(spark,
        dedupLayout(dir), sweepStale,
        alsoSweep = Seq("graft_mh_del_")) { case Seq(memTab, toksTab) =>
      val corpus = tokenSets(docs(spark, dir).filter(!InBatch))
      try {
        // Token sets first, memberships last (they mark completion).
        corpus.write.mode("overwrite").format("parquet").saveAsTable(toksTab)
        bandMemberships(corpus)
          .write.mode("overwrite").format("parquet").saveAsTable(memTab)
      } finally corpus.unpersist(blocking = false)
    }
    (memTab, toksTab)
  }

  /** C2e': [[c2IncrementalDedup]] answered from the PERSISTED corpus
    * index — the batch side is banded in-plan (O(batch) signatures);
    * the corpus side is entirely the layout built by
    * [[ensureDedupIndex]]: memberships for the candidate join, stored
    * token sets for the exact confirm (re-attached by id for candidate
    * rows only). The plan touches the raw documents table ONLY for the
    * batch slice — no corpus-side scan, tokenization, or signature at
    * query time (pinned in PlanAuditSpec). Result-identical to
    * c2_incremental_dedup by construction (same hash family, same
    * banding), so it SHARES its oracle SQL — a drifted or stale layout
    * breaks the hash.
    */
  def c2IncrementalDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (memTab, toksTab) = ensureDedupIndex(spark, dir)
    val newBase = tokenSets(docs(spark, dir).filter(InBatch))
    val cand0 = candidates(bandMemberships(newBase), spark.table(memTab), None,
      "graft_inc_dedup", stages = false)
    // Tombstoned (takedown-deleted) docs stay in the raw membership
    // table until compaction — they must never surface as match
    // candidates. Takedown-sized broadcast anti-join; absent table =
    // no deletes = plan unchanged.
    val cand = tombstones(spark, dedupLayout(dir).suffix) match {
      case Some(d) => cand0.join(
        broadcast(d.select(col("doc_id").as("c_id"))), Seq("c_id"), "left_anti")
      case None => cand0
    }
    graft.util.CacheScope.releaseAfterMaterialize(
      resolveBatch(cand, newBase, spark.table(toksTab), NearDupJaccard),
      Seq(newBase))
  }

  /** Shared SemDeDup construction: the cell-assigned corpus (persisted —
    * released by the caller) and the within-cell cosine-threshold edge
    * list `(a_id < b_id)`.
    */
  private def semanticParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Corpus-scaled cell count (k ≈ √n, power-of-two grid): keeps the
    // within-cell pair generation O(n·√n̄) instead of O(n²/16) — the
    // SemDeDup recipe's cell growth, shared with c3_knn_join and
    // replayed by the dynamic oracle from the same function.
    val assigned = SimOps.scaledCellCorpus(spark, dir)
    val edges = SimOps.cellPairs(assigned, col("a_id") < col("b_id"))
      .filter(col("cosine") >= NearDupCosine)
      .select("a_id", "b_id")
    (assigned, edges)
  }

  /** C2f: SEMANTIC dedup (the public SemDeDup recipe): cluster the
    * embedding space with the SAME deterministically-trained k-means
    * codebook as the IVF ANN operators, then resolve near-duplicates only
    * WITHIN each cluster (cosine ≥ `threshold`, keep the smallest id — one
    * min-propagation round, the c2_minhash_lsh posture applied to
    * embedding space). Training is the bounded driver sample
    * (SimOps.scaledCellCorpus — constant cost at any corpus size); assignment
    * is one narrow argmin per row; the pair join shuffles on the cell id
    * only. Within-cell pair generation is O(Σ|cell|²) — the inherent
    * SemDeDup cost; at 100 TB the cell count scales with the corpus
    * (k ≈ √n per the public recipe) so cells stay bounded, exactly as the
    * LSH maxBucket guard bounds the token-space analog.
    * Output `(vec_id, cell, cluster_rep, is_kept)` — O(n), hash-checked
    * end-to-end by a dynamic oracle embedding the trained centroids.
    */
  def c2SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, edges) = semanticParts(spark, dir)
    val reps = edges.groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("min_nbr"))
    graft.util.CacheScope.releaseAfterMaterialize(
      assigned.select("vec_id", "cell")
        .join(reps, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          least(col("vec_id"), coalesce(col("min_nbr"), col("vec_id")))
            .as("cluster_rep"))
        .withColumn("is_kept", col("vec_id") === col("cluster_rep"))
        .orderBy("vec_id"),
      Seq(assigned))
  }

  /** C2f': [[c2SemanticDedup]] with full transitive closure — semantic
    * duplicate CHAINS (A ~ B ~ C inside one cell with A, C not directly
    * similar) collapse into one cluster via the same distributed
    * large-star/small-star contraction as the token-space CC operators
    * (O(log n) rounds over the within-cell edge list). Dynamic oracle:
    * recursive-CTE min-label closure over the replayed edges.
    */
  def c2SemanticDedupCc(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, edges) = semanticParts(spark, dir)
    val roots = graft.dedup.ConnectedComponents.starRoots(
      edges.select(col("a_id").as("u"), col("b_id").as("v")))
    graft.util.CacheScope.releaseAfterMaterialize(
      assigned.select("vec_id", "cell")
        .join(roots.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("rep"), col("vec_id")).as("cluster_rep"))
        .withColumn("is_kept", col("vec_id") === col("cluster_rep"))
        .orderBy("vec_id"),
      Seq(assigned))
  }

  /** Persisted CC cluster LABELS over the indexed corpus — the third leg
    * of the dedup layout: [[ensureDedupIndex]] gives memberships (the
    * candidate join) and token sets (the confirm); this gives the
    * transitive-closure labels the curation consumers key on
    * (`c7_split_cluster_safe`, `c7_dedup_keep_best` shapes). Built ONCE
    * at ingest (the same O(n·bands) star CC as c2_minhash_cc, over the
    * index banding), PARTITIONED BY `lp = pmod(cluster_rep, 64)` so the
    * incremental maintenance path ([[appendDedupIndex]]) rewrites only
    * the partitions whose clusters a batch actually touched — dynamic
    * partition overwrite, never an O(n) label rewrite per batch.
    */
  private[graft] def ensureDedupLabels(spark: SparkSession, dir: String,
      sweepStale: Boolean = true): String = {
    val (memTab, _) = ensureDedupIndex(spark, dir, sweepStale)
    Storage.ensureLayout(spark, dedupLayout(dir)
        .copy(prefixes = Seq("graft_mh_lab_")), sweepStale) { case Seq(labTab) =>
      ConnectedComponents.assignmentsFromMemberships(spark.table(memTab))
        .select(col("doc_id"), col("cluster_rep"),
          pmod(col("cluster_rep"), lit(64L)).as("lp"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("lp").saveAsTable(labTab)
    }.head
  }

  /** Union-by-min-rep of a batch against the persisted labels — the
    * CONTRACTED incremental CC: existing clusters participate only as
    * their representative (one node per cluster, via the labels table),
    * batch docs as themselves; edges exist only in buckets the batch
    * touches (bounded O(batch·bands) bucket set), each bucket
    * contributing member→bucket-min star edges over the contracted
    * node ids. The star CC then runs on a graph of O(batch + touched
    * clusters) nodes — never the corpus — and the merged label of a
    * component is min(batch ids, old reps) = the true min member id,
    * because each old rep IS the min of its cluster. Returns the FULL
    * post-merge label set (corpus ∪ batch).
    */
  private def mergedLabels(spark: SparkSession, labTab: String,
      memTab: String, batchMem: DataFrame, batchIds: DataFrame): DataFrame = {
    val labels = spark.table(labTab).select(col("doc_id"), col("cluster_rep"))
    val touched = batchMem.select("band", "bucket").distinct()
    // corpus members of touched buckets, contracted to their reps (the
    // inner labels join also drops any non-indexed ids from memTab)
    val members = spark.table(memTab)
      .join(touched, Seq("band", "bucket"))
      .join(labels, "doc_id")
      .select(col("band"), col("bucket"), col("cluster_rep").as("lab"))
      .unionByName(batchMem
        .select(col("band"), col("bucket"), col("doc_id").as("lab")))
    val bmin = members.groupBy("band", "bucket").agg(min(col("lab")).as("bmin"))
    val edges = members.join(bmin, Seq("band", "bucket"))
      .filter(col("lab") =!= col("bmin"))
      .select(col("lab").as("u"), col("bmin").as("v")).distinct()
    val repMap = ConnectedComponents.starRoots(edges)
      .select(col("doc_id").as("node"), col("rep"))
    val corpusNew = labels
      .join(repMap.withColumnRenamed("node", "cluster_rep"),
        Seq("cluster_rep"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("cluster_rep")).as("cluster_rep"))
    val batchNew = batchIds.select(col("doc_id"))
      .join(repMap.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
    corpusNew.unionByName(batchNew)
  }

  /** C2s: INCREMENTAL cluster labels — the ingest-loop READ path: the
    * batch (`doc_id % 10 == 7`, the incremental-dedup convention) is
    * banded in-plan and resolved against the persisted index via the
    * contracted union-by-min-rep ([[mergedLabels]]); output is the full
    * grown-corpus label set, which equals from-scratch CC over the same
    * banding BY CONSTRUCTION (contracting already-connected components
    * preserves connectivity; the oracle replays the from-scratch closure
    * and the hash pins the equality). The write path — maintaining the
    * persisted labels as batches land — is [[appendDedupIndex]],
    * spec-pinned to the same from-scratch equality.
    *
    * Scale posture: no corpus re-banding (memberships and labels are
    * the persisted layout), the contracted CC runs on O(batch + touched
    * clusters) nodes, and the corpus-side label pass is one narrow
    * left join against an O(changed clusters) rep map.
    */
  def c2IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val labTab = ensureDedupLabels(spark, dir)
    val (memTab, _) = ensureDedupIndex(spark, dir)
    val batch = tokenSets(docs(spark, dir).filter(InBatch))
    val batchMem = bandMemberships(batch)
    graft.util.CacheScope.releaseAfterMaterialize(
      mergedLabels(spark, labTab, memTab, batchMem, batch.select("doc_id"))
        .withColumn("is_kept", col("doc_id") === col("cluster_rep"))
        .orderBy("doc_id"),
      Seq(batch))
  }

  /** Append NEW documents to the persisted dedup index — the
    * maintenance path a growing corpus needs (the
    * [[graft.queries.SimOps.appendAnnIndex]] posture applied to the LSH
    * layout): band the day's batch with the SAME hash family and
    * banding, append its `(doc_id, band, bucket)` memberships AND its
    * `(doc_id, toks)` token sets, so appended docs are full match
    * candidates for every later batch check (candidate join and exact
    * confirm both read the layout). Duplicate ids — against the index
    * OR within the batch itself — are rejected loudly (an id banded
    * twice would self-match). Returns the number of appended membership
    * rows (docs × bands).
    */
  private[graft] def appendDedupIndex(spark: SparkSession, dir: String,
      newDocs: DataFrame): Long = {
    val (memTab, toksTab) = ensureDedupIndex(spark, dir)
    // Labels BEFORE the appends: they must describe the pre-batch corpus
    // for the contracted merge below to be sound.
    val labTab = ensureDedupLabels(spark, dir)
    // Persisted: the token sets feed the dup checks, the toks append,
    // and the signature pass — one tokenization, not three.
    val base = tokenSets(newDocs)
    try {
      // one aggregate covers both the row count and the within-batch
      // duplicate check
      val stats = base.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
      val nDocs = stats.getLong(0)
      require(stats.getLong(1) == nDocs,
        "appendDedupIndex: the batch itself contains duplicate doc_ids — " +
          "an appended duplicate would match itself; dedup upstream")
      // Crash-safety ordering: the duplicate check reads the MEMBERSHIP
      // table (the one candidates come from), and the toks append is
      // idempotent (anti-join skips ids a previously-crashed attempt
      // already wrote) — so a failure between the two writes is repaired
      // by simply re-running the same append: the retry passes the
      // memTab check, skips the surviving toks rows, and lands the
      // memberships.
      val dup = spark.table(memTab).select(col("doc_id"))
        .join(base.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(dup == 0L,
        s"appendDedupIndex: new docs contain ids already present in $memTab — " +
          "an appended duplicate would match itself; dedup upstream")
      base.join(spark.table(toksTab).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(spark.table(toksTab).columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(toksTab)
      val batchMem = bandMemberships(base)
      batchMem
        .select(spark.table(memTab).columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(memTab)
      // Incremental label maintenance: contracted union-by-min-rep, then
      // DYNAMIC overwrite of only the label partitions a touched cluster
      // lives in (old rep's partition loses rows, new rep's gains; both
      // are in the touched set). The merge reads memTab post-append, but
      // batch ids contract out of the corpus side automatically — they
      // have no labels row yet (inner join). The bounded collect is the
      // ≤64 distinct partition values, never rows.
      val merged = mergedLabels(spark, labTab, memTab, batchMem,
        base.select(col("doc_id")))
        .withColumn("lp", pmod(col("cluster_rep"), lit(64L)))
      val old = spark.table(labTab)
        .select(col("doc_id"), col("cluster_rep").as("old_rep"),
          col("lp").as("old_lp"))
      val touchedLp = merged.join(old, Seq("doc_id"), "left")
        .filter(col("old_rep").isNull || col("old_rep") =!= col("cluster_rep"))
        .select(explode(array(col("lp"), col("old_lp"))).as("p"))
        .filter(col("p").isNotNull).distinct()
        .collect().map(_.getLong(0))
      overwriteLabelPartitions(spark, labTab, merged, touchedLp)
      nDocs * IncBands
    } finally base.unpersist(blocking = false)
  }

  /** Rewrite exactly the `touchedLp` label partitions with the matching
    * slice of `rows` (the full post-change content of those partitions,
    * carrying an `lp` column) — the shared write tail of
    * [[appendDedupIndex]] and [[deleteFromDedupIndex]].
    *
    * Dynamic overwrite only rewrites partitions PRESENT in the written
    * data: a touched partition every one of whose clusters moved to
    * another partition (its residue class fully VACATED) has no rows, so
    * its stale labels would survive and a doc would carry two
    * conflicting reps. Each vacated partition is cleared explicitly with
    * a STATIC empty overwrite (static INSERT OVERWRITE PARTITION deletes
    * the partition's files even when the incoming relation is empty).
    */
  private def overwriteLabelPartitions(spark: SparkSession, labTab: String,
      rows: DataFrame, touchedLp: Seq[Long]): Unit = {
    if (touchedLp.isEmpty) return
    // Sever lineage from labTab before overwriting it (Spark refuses
    // to overwrite a table an input of the same plan reads).
    val writeRows = rows
      .filter(col("lp").isin(touchedLp.map(Long.box).toIndexedSeq: _*))
      .select(col("doc_id"), col("cluster_rep"), col("lp"))
      .localCheckpoint(true)
    graft.util.SessionConf.withDynamicOverwrite(spark) {
      writeRows.write.mode("overwrite").insertInto(labTab)
    }
    val presentLp =
      writeRows.select("lp").distinct().collect().map(_.getLong(0)).toSet
    touchedLp.filterNot(presentLp).foreach { p =>
      spark.sql(
        s"INSERT OVERWRITE TABLE $labTab PARTITION (lp=$p) " +
          "SELECT CAST(NULL AS BIGINT) AS doc_id, " +
          "CAST(NULL AS BIGINT) AS cluster_rep WHERE false")
    }
  }

  /** Bounded post-takedown relabel pieces shared by the pure query
    * ([[relabelAfterDelete]]) and the write path
    * ([[deleteFromDedupIndex]]): the reps of every cluster containing a
    * deleted doc, those clusters' members, and the re-resolved labels of
    * the SURVIVING members (connected components over their surviving
    * co-bucket edges — deleting a doc can split its cluster, so survivors
    * are re-CC'd, not just re-repped).
    *
    * Boundedness: the deleted-id and touched-rep sides are
    * takedown-sized (broadcast); members/survivors are bounded by the
    * touched clusters' sizes — the c2_incremental_cc contraction in
    * reverse. Co-bucket docs are same-cluster BY the CC definition, so
    * restricting the membership table to survivor docs loses no edge
    * that could reconnect them to the rest of the corpus.
    */
  private def deleteRelabelParts(spark: SparkSession, labTab: String,
      memTab: String, del: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val labels = spark.table(labTab).select(col("doc_id"), col("cluster_rep"))
    val delIds = broadcast(del.select(col("doc_id")).distinct())
    val touchedReps = broadcast(labels.join(delIds, "doc_id")
      .select(col("cluster_rep")).distinct())
    val members = labels.join(touchedReps, Seq("cluster_rep"), "left_semi")
      .select(col("doc_id"))
    val survivors = members.join(delIds, Seq("doc_id"), "left_anti")
    val memSurv = spark.table(memTab)
      .join(survivors, Seq("doc_id"), "left_semi")
    val newSurv = ConnectedComponents.assignmentsFromMemberships(memSurv)
      .select(col("doc_id"), col("cluster_rep"))
    (touchedReps, members, newSurv)
  }

  /** The post-takedown label set as a PURE QUERY (no table mutated):
    * labels of clusters untouched by the takedown pass through; touched
    * clusters contribute their re-CC'd survivors; deleted docs vanish.
    * Equals from-scratch CC over the surviving corpus by construction
    * (removing a node removes exactly its incident co-bucket edges;
    * c2_cc_delete's oracle replays the from-scratch closure and the
    * hash pins the equality).
    */
  private[graft] def relabelAfterDelete(spark: SparkSession, labTab: String,
      memTab: String, del: DataFrame): DataFrame = {
    val (_, members, newSurv) = deleteRelabelParts(spark, labTab, memTab, del)
    spark.table(labTab).select(col("doc_id"), col("cluster_rep"))
      .join(broadcast(members), Seq("doc_id"), "left_anti")
      .unionByName(newSurv)
  }

  /** C2t: takedown relabel — the READ shape of the dedup-label DELETE
    * lifecycle: the deterministic takedown slice `doc_id % 97 == 13` is
    * removed from the standing corpus and the surviving labels are
    * computed via the BOUNDED re-resolution (touched clusters only,
    * [[relabelAfterDelete]]), never a corpus-wide re-CC. The oracle runs
    * from-scratch CC over the surviving corpus, pinning the equality the
    * whole lifecycle rests on. The WRITE path ([[deleteFromDedupIndex]])
    * persists the same relabel into the partitioned labels table and is
    * spec-pinned to the same from-scratch equality.
    */
  def c2CcDelete(spark: SparkSession, dir: String): DataFrame = {
    val labTab = ensureDedupLabels(spark, dir)
    val (memTab, _) = ensureDedupIndex(spark, dir)
    val del = docs(spark, dir)
      .filter(!InBatch && col("doc_id") % 97 === 13)
      .select(col("doc_id"))
    relabelAfterDelete(spark, labTab, memTab, del)
      .withColumn("is_kept", col("doc_id") === col("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Takedown/right-to-be-forgotten DELETE from the persisted dedup
    * layout — the WRITE half of the lifecycle (append:
    * [[appendDedupIndex]]; delete: here; compaction:
    * [[compactDedupIndex]]):
    *
    *  1. the ids land in the layout's TOMBSTONE table (takedown-sized
    *     append — the raw membership/token tables are NOT rewritten per
    *     delete; index readers anti-join the tombstones, and the labels
    *     join of the incremental-CC path drops tombstoned memberships
    *     inherently once their label rows are gone);
    *  2. the labels table is re-resolved BOUNDEDLY: only clusters
    *     containing a deleted doc are touched — their survivors are
    *     re-CC'd over surviving edges (a delete can SPLIT a cluster) and
    *     exactly the touched `lp` partitions are rewritten, vacated
    *     partitions cleared (the shared [[overwriteLabelPartitions]]
    *     machinery).
    *
    * A deleted id stays "present" in the raw membership table until
    * [[compactDedupIndex]] physically drops it, so re-appending a
    * deleted id is rejected by [[appendDedupIndex]]'s duplicate check
    * until a compaction runs — documented, loud, and safe (silent
    * re-append would duplicate membership rows).
    *
    * Returns the number of docs deleted. Loud on unknown ids — a
    * takedown that silently no-ops hides an unhonored removal.
    */
  private[graft] def deleteFromDedupIndex(spark: SparkSession, dir: String,
      ids: DataFrame): Long = {
    val (memTab, _) = ensureDedupIndex(spark, dir)
    val labTab = ensureDedupLabels(spark, dir)
    val suffix = dedupLayout(dir).suffix
    val del = ids.select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDel = del.count()
      require(nDel > 0L, "deleteFromDedupIndex: empty takedown batch")
      val missing = del.join(spark.table(labTab).select(col("doc_id")),
        Seq("doc_id"), "left_anti").limit(1).count()
      require(missing == 0L,
        s"deleteFromDedupIndex: batch contains ids not present in $labTab " +
          "(unknown, or already deleted) — an unhonored removal must be loud")
      // Tombstones first: a crash after this write leaves a tombstoned id
      // with stale label rows — re-running the same delete is rejected by
      // the labels check only AFTER labels are rewritten, so the repair
      // for a mid-delete crash is re-running the delete (the tombstone
      // append below is idempotent via the anti-join).
      val delTab = tombstoneTab(suffix)
      if (!spark.catalog.tableExists(delTab))
        del.write.mode("overwrite").format("parquet").saveAsTable(delTab)
      else
        del.join(spark.table(delTab), Seq("doc_id"), "left_anti")
          .write.mode("append").insertInto(delTab)
      // Bounded label re-resolution + partition rewrite.
      val (touchedReps, _, newSurv0) =
        deleteRelabelParts(spark, labTab, memTab, del)
      val newSurv = newSurv0
        .withColumn("lp", pmod(col("cluster_rep"), lit(64L)))
        .localCheckpoint(true)
      val oldLp = touchedReps
        .select(pmod(col("cluster_rep"), lit(64L)).as("lp"))
        .distinct().collect().map(_.getLong(0))
      val newLp = newSurv.select("lp").distinct().collect().map(_.getLong(0))
      val touchedLp = (oldLp ++ newLp).distinct.toIndexedSeq
      // Full post-delete content of the touched partitions: their
      // untouched clusters pass through, touched clusters contribute
      // only their re-CC'd survivors.
      val keepRows = spark.table(labTab)
        .filter(col("lp").isin(touchedLp.map(Long.box): _*))
        .join(touchedReps, Seq("cluster_rep"), "left_anti")
        .select(col("doc_id"), col("cluster_rep"), col("lp"))
      overwriteLabelPartitions(spark, labTab,
        keepRows.unionByName(newSurv.select("doc_id", "cluster_rep", "lp")),
        touchedLp)
      nDel
    } finally del.unpersist(blocking = false)
  }

  /** Physically drop tombstoned rows from the raw membership/token
    * tables and clear the tombstone table — the periodic maintenance
    * rewrite of the delete lifecycle (corpus-sized by design; the
    * per-takedown cost stays bounded in [[deleteFromDedupIndex]]).
    * Staging-table + atomic drop/rename swap (the retrainAnnIndex
    * machinery) — never an overwrite from a plan reading the same
    * table; unpartitioned tables need no MSCK after the rename.
    * Returns the tombstone count compacted away.
    */
  private[graft] def compactDedupIndex(spark: SparkSession, dir: String): Long = {
    val (memTab, toksTab) = ensureDedupIndex(spark, dir)
    val suffix = dedupLayout(dir).suffix
    val delTab = tombstoneTab(suffix)
    if (!spark.catalog.tableExists(delTab)) return 0L
    val del = spark.table(delTab).select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = del.count()
      Seq(memTab, toksTab).foreach { tab =>
        val st = s"${tab}_ct"
        spark.sql(s"DROP TABLE IF EXISTS $st")
        spark.table(tab).join(del, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").format("parquet").saveAsTable(st)
        spark.sql(s"DROP TABLE IF EXISTS $tab")
        spark.sql(s"ALTER TABLE $st RENAME TO $tab")
        spark.catalog.refreshTable(tab)
      }
      spark.sql(s"DROP TABLE IF EXISTS $delTab")
      n
    } finally del.unpersist(blocking = false)
  }

  /** The tokenset-agnostic tail of the MinHash replay — tb/sig/mem CTEs
    * over a preceding `base(doc_id, toks)` CTE, parameterized by the
    * banding (bands × rows must cover the 64-hash signature). Shared
    * with the frame-set variant (MultiModalOps
    * .c6_frame_neardup_minhash) and the composed curation pipeline
    * (PipelineOps.c7_pipeline), which use different bases/bandings.
    */
  private[queries] def mhChainSql(bands: Int = 16, rows: Int = 4): String =
    "tb AS (SELECT doc_id, list_transform(toks, t -> " +
      "('0x'||substr(md5(t),1,15))::BIGINT % 2147483647) AS hs FROM base), " +
      s"sig AS (SELECT doc_id, list_transform(range(0, ${bands * rows}), i -> " +
      "list_min(list_transform(hs, h -> ((((i+1)*2654435761) % 2147483647) * h " +
      "+ (((i+1)*40503) % 2147483647)) % 2147483647))) AS sig FROM tb), " +
      "mem AS (SELECT doc_id, b AS band, " +
      "('0x'||substr(md5(CAST(b AS VARCHAR)||':'||" +
      s"array_to_string(list_slice(sig, b*$rows+1, b*$rows+$rows), ':')),1,15))::BIGINT AS bucket " +
      s"FROM sig CROSS JOIN range(0, $bands) rt(b))"

  /** DuckDB replay of the portable MinHash pipeline (same family as
    * graft.functions.HashExprs: md5-prefix base hash, affine members mod
    * 2^31−1, md5-prefix band buckets — 64 hashes × 16 bands of 4 rows).
    */
  private[queries] val mhBase: String = baseSql("documents") + ", " + mhChainSql()

  /** DuckDB replay of the portable SimHash pipeline (60-bit fingerprint
    * over md5-prefix hashes, 4 blocks of 15 bits).
    */
  private val shBase: String =
    baseSql("documents") + ", " +
      "tb AS (SELECT doc_id, list_transform(toks, t -> " +
      "('0x'||substr(md5(t),1,15))::BIGINT) AS hs FROM base), " +
      "fps AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b -> " +
      "CASE WHEN list_sum(list_transform(hs, h -> " +
      "CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
      "THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS fp FROM tb), " +
      "mem AS (SELECT doc_id, fp, b AS block, (fp >> (b*15)) & 32767 AS bucket " +
      "FROM fps CROSS JOIN range(0, 4) rt(b))"

  /** `mm(cols…, bucket_min)`: each membership row of `mem` with its
    * bucket minimum over (`bandCol`, bucket) — the one-round assignment
    * of c2_minhash_lsh, c2_simhash, c6_frame_neardup_minhash and the
    * curation pipelines.
    */
  private[queries] def bucketMinSql(cols: String, bandCol: String): String =
    s"mm AS (SELECT $cols, min(doc_id) OVER (PARTITION BY $bandCol, bucket) " +
      "AS bucket_min FROM mem)"

  // ---- The near-dup resolve vocabulary (DuckDB replay) ----
  //
  // Twins of the Spark vocabulary above, one renderer per rule. Pairs are
  // `(a_id, b_id)` throughout: a_id the arrival (new doc, train doc,
  // contained doc), b_id the standing candidate.

  /** `base(doc_id, toks)`: the token sets ([[MinHash.tokenSet]]) of
    * `from` — `documents`, or a filtered slice of it.
    */
  private[queries] def baseSql(from: String): String =
    s"base AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM $from)"

  /** `ex(doc_id, n, tok)`: one row per distinct token of each `base`
    * doc, with the doc's set size.
    */
  private val exSql = "ex AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM base)"

  /** [[InBatch]] and its complement as SQL predicates. */
  private[queries] val BatchSql = "doc_id % 10 = 7"
  private[queries] val CorpusSql = "doc_id % 10 <> 7"

  /** Exact Jaccard and containment of a pair sharing `c` tokens, with
    * set sizes `a`, `b` (unrounded; every output rounds to 6 dp), and
    * the containment cut as the exact rational c·10 ≥ 9·a.
    */
  private def jaccardSql(c: String, a: String, b: String) =
    s"CAST($c AS DOUBLE) / ($a + $b - $c)"
  private def containmentSql(c: String, a: String) = s"CAST($c AS DOUBLE) / $a"
  private def containedSql(c: String, a: String) = s"$c * 10 >= 9 * $a"

  /** `pairs(a_id, b_id, common, jaccard)`: every a_id < b_id pair at
    * Jaccard ≥ [[NearDupJaccard]], from the token co-occurrence
    * self-join of `ex` ([[SetSimJoin.jaccardSelfJoin]]).
    */
  private val jaccardPairsSql: String = {
    val j = jaccardSql("count(*)", "a.n", "b.n")
    "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common, " +
      s"round($j, 6) AS jaccard " +
      "FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id " +
      s"GROUP BY a.doc_id, b.doc_id, a.n, b.n HAVING $j >= $NearDupJaccard)"
  }

  /** `pairs(a_id, b_id, common, containment)`: every ordered pair whose
    * a_id (≥ [[ContainMinTokens]] tokens) is ≥0.9-contained in b_id
    * ([[SetSimJoin.containmentSelfJoin]]).
    */
  private val containmentPairsSql: String =
    "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common, " +
      s"round(${containmentSql("count(*)", "a.n")}, 6) AS containment " +
      "FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id <> b.doc_id " +
      s"WHERE a.n >= $ContainMinTokens GROUP BY a.doc_id, b.doc_id, a.n " +
      s"HAVING ${containedSql("count(*)", "a.n")})"

  /** `name`: the first `n` rows of `from` per `by` group in `order` —
    * the one window of the id caps ([[capBuckets]], the posting cap),
    * the top-c rank ([[rerankTopC]]), the rarity prefix and the best
    * pick.
    */
  private def firstSql(name: String, by: String, order: String, from: String,
      n: Int): String =
    s"$name AS (SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY $by ORDER BY $order) AS rn FROM $from) WHERE rn <= $n)"

  /** [[rerankTopC]]: `ag(a_id, b_id, agree)` counts the agreeing rows of
    * `join`, and `cand` keeps each a_id's top `c` by (agree desc, b_id).
    */
  private def rerankSql(join: String, c: Int): String =
    s"ag AS (SELECT a_id, b_id, count(*) AS agree FROM $join GROUP BY a_id, b_id), " +
      firstSql("cand", "a_id", "agree DESC, b_id", "ag", c)

  /** [[candidates]]: `cand` over the band sides `nw(a_id, band, bucket)`
    * and `cp(b_id, band, bucket)` — every co-bucketed pair once, or the
    * [[Bounded]] form (bucket caps, then the band-agreement rerank).
    */
  private def candidatesSql(bound: Option[Bounded]): String = bound match {
    case None => "cand AS (SELECT DISTINCT a_id, b_id FROM nw JOIN cp USING (band, bucket))"
    case Some(Bounded(c, capNewSide)) =>
      val nw = if (capNewSide) "nwc" else "nw"
      firstSql("cpc", "band, bucket", "b_id", "cp", IncBucketCap) + ", " +
        (if (capNewSide) firstSql("nwc", "band, bucket", "a_id", "nw", IncBucketCap) + ", "
        else "") +
        rerankSql(s"$nw JOIN cpc USING (band, bucket)", c)
  }

  /** The exact confirm of each `cand` pair over the `base` token sets:
    * `sc` counts the shared tokens `common` and the set sizes `na`, `nb`;
    * `cf(a_id, b_id, score…)` keeps the pairs passing `cut`.
    */
  private def confirmSql(score: String, cut: String): String =
    "sc AS (SELECT a_id, b_id, " +
      "len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS common, " +
      "len(a.toks) AS na, len(b.toks) AS nb " +
      "FROM cand JOIN base a ON a.doc_id = cand.a_id JOIN base b ON b.doc_id = cand.b_id), " +
      s"cf AS (SELECT a_id, b_id, $score FROM sc WHERE $cut)"

  /** The best pick re-attached to every arrival: per a_id the `pairs`
    * row with the highest `score`, smallest b_id on ties, LEFT JOINed to
    * the ids `arrivals` selects; `cols` names the key's output over the
    * match `m`.
    */
  private def bestPickSql(pairs: String, score: String, arrivals: String,
      cols: String): String =
    firstSql("best", "a_id", s"$score DESC, b_id", pairs, 1) + " " +
      s"SELECT d.doc_id, $cols FROM ($arrivals) d " +
      "LEFT JOIN best m ON d.doc_id = m.a_id ORDER BY doc_id"

  /** The whole resolve replayed ([[candidates]] + [[resolveBatch]]): the
    * `base` docs where `arrive` holds, against those where `stand` holds,
    * over the [[IncBands]] × [[IncRows]] banding of `from`'s token sets,
    * confirmed at Jaccard ≥ `threshold`.
    */
  private[queries] def resolveSql(from: String, arrive: String, stand: String,
      bound: Option[Bounded], threshold: Double, cols: String): String = {
    val j = s"round(${jaccardSql("common", "na", "nb")}, 6)"
    s"WITH ${baseSql(from)}, ${mhChainSql(IncBands, IncRows)}, " +
      s"nw AS (SELECT doc_id AS a_id, band, bucket FROM mem WHERE $arrive), " +
      s"cp AS (SELECT doc_id AS b_id, band, bucket FROM mem WHERE $stand), " +
      candidatesSql(bound) + ", " +
      confirmSql(s"$j AS jaccard", s"$j >= $threshold") + ", " +
      bestPickSql("cf", "jaccard", s"SELECT doc_id FROM base WHERE $arrive", cols)
  }

  private def incrementalSql(bound: Option[Bounded]): String =
    resolveSql("documents", BatchSql, CorpusSql, bound, NearDupJaccard,
      "m.b_id IS NULL AS is_novel, m.b_id AS match_id, m.jaccard AS match_jaccard")

  private val containedCols =
    "m.b_id IS NOT NULL AS is_contained, m.b_id AS container_id, m.containment"

  /** Rounds for the fixed-round closure oracle: hop+jump min
    * propagation at least doubles the radius a node's label has
    * conquered each round (the pointer-jumping / hash-to-min argument —
    * Rastogi et al. 2013, see PAPERS.md), so 64 rounds converge for any
    * component diameter ≤ 2^63 — i.e. every corpus, with no
    * data-dependent round count to plumb. Each round is ONE linear pass
    * (O(V + E) join+aggregate), so the constant is cheap: the whole
    * 64-round chain replays in milliseconds at sf0.1 where the previous
    * recursive-CTE reach set (O(Σ component²) rows) exceeded 2 CPU-hours
    * — this oracle exists precisely so the CC family keeps a real hash
    * check ABOVE the sf0.01 gate. Convergence is not taken on faith:
    * the verify-time hash compare fails loudly if any label were still
    * moving at round 64.
    */
  private[queries] val CcRounds = 64

  /** The shared fixed-round min-label propagation chain: assumes CTEs
    * `sed(src, dst)` (symmetric edge list) exist; `nodesSelect` seeds
    * every node with its own id as label. Emits lab0..labN and a final
    * `cl(doc_id, cluster_rep)`. Per round, a node keeps the min of
    *  (a) its label's OWN label (pointer jump — `l2.id = l.r`; this
    *      branch also covers every node, since lab(x) ≤ x always, so
    *      the current label is never lost), and
    *  (b) each neighbor's label (hop).
    */
  private[queries] def minPropRoundsSql(nodesSelect: String,
      rounds: Int = CcRounds): String = {
    // Every round CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    // and a chain where each round references its predecessor TWICE
    // (self-join for the pointer jump) would otherwise expand into a
    // 2^rounds-leaf plan. Materialization makes the chain what it is on
    // paper — `rounds` sequential linear passes.
    val sb = new StringBuilder
    sb.append(s"lab0 AS MATERIALIZED ($nodesSelect)")
    for (k <- 1 to rounds) {
      val p = s"lab${k - 1}"
      sb.append(s", lab$k AS MATERIALIZED (SELECT id, min(r) AS r FROM (")
        .append(s"SELECT l.id AS id, l2.r AS r FROM $p l JOIN $p l2 ON l2.id = l.r")
        .append(s" UNION ALL SELECT e.src AS id, l.r AS r FROM sed e JOIN $p l ON l.id = e.dst")
        .append(") GROUP BY id)")
    }
    sb.append(s", cl AS (SELECT id AS doc_id, r AS cluster_rep FROM lab$rounds)")
    sb.toString
  }

  /** Closure chain over the replayed `mem(doc_id, band-ish, bucket)`
    * table: the edge set is the ENGINE's own star form — every bucket
    * member links to the bucket MINIMUM (connectivity-equivalent to the
    * per-bucket clique, cf. ConnectedComponents.edgesFromMemberships,
    * but O(n · bands) rows instead of O(Σ|bucket|²), which on a
    * saturated corpus is the difference between 80 k and 400 M oracle
    * rows) — then the fixed-round propagation above.
    */
  private[queries] def closureChainSql(bandCol: String): String =
    s"bm AS (SELECT $bandCol, bucket, min(doc_id) AS bmin " +
      s"FROM mem GROUP BY $bandCol, bucket), " +
      "edges AS (SELECT DISTINCT m.doc_id AS src, bm.bmin AS dst " +
      s"FROM mem m JOIN bm USING ($bandCol, bucket) " +
      "WHERE m.doc_id <> bm.bmin), " +
      "sed AS MATERIALIZED (SELECT src, dst FROM edges " +
      "UNION ALL SELECT dst, src FROM edges), " +
      minPropRoundsSql("SELECT doc_id AS id, doc_id AS r FROM base")

  private def closureSql(bandCol: String): String =
    closureChainSql(bandCol) + " " +
      "SELECT doc_id, cluster_rep, doc_id = cluster_rep AS is_kept " +
      "FROM cl ORDER BY doc_id"

  val oracle: Map[String, String] = Map(
    "c2_ngram_jaccard" ->
      (s"WITH ${baseSql("documents")}, $exSql, $jaccardPairsSql " +
        "SELECT * FROM pairs ORDER BY a_id, b_id"),
    // Top-m twin: symmetrize the exact pair list, rank per doc by
    // (jaccard desc, neighbor asc) — the deterministic total order the
    // engine's bounded-heap selection implements — and keep rk <= TopM.
    "c2_ngram_jaccard_topm" ->
      (s"WITH ${baseSql("documents")}, $exSql, $jaccardPairsSql, " +
        "sym AS (SELECT a_id AS doc_id, b_id AS nbr_id, common, jaccard FROM pairs " +
        "UNION ALL SELECT b_id, a_id, common, jaccard FROM pairs), " +
        "rk AS (SELECT doc_id, nbr_id, common, jaccard, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY jaccard DESC, nbr_id) AS rk FROM sym) " +
        s"SELECT doc_id, nbr_id, common, jaccard, rk FROM rk WHERE rk <= $TopM " +
        "ORDER BY doc_id, rk"),
    "c2_containment" ->
      (s"WITH ${baseSql("documents")}, $exSql, $containmentPairsSql " +
        "SELECT * FROM pairs ORDER BY a_id, b_id"),
    "c2_containment_best" ->
      (s"WITH ${baseSql("documents")}, $exSql, $containmentPairsSql, " +
        bestPickSql("pairs", "containment", "SELECT doc_id FROM documents", containedCols)),
    // Bounded best-container replay: rarity prefix (corpus freq, token —
    // byte-wise in both engines), capped posting lists, the
    // prefix-agreement rerank, exact confirm on the survivors, best
    // pick. Every stage of the approximation is replayed, so the caps
    // themselves are hash-checked.
    "c2_containment_best_topc" ->
      (s"WITH ${baseSql("documents")}, $exSql, " +
        "tf AS (SELECT tok, count(*) AS freq FROM ex GROUP BY tok), " +
        firstSql("pref", "a_id", "freq, tok", "(SELECT doc_id AS a_id, tok, freq " +
          s"FROM ex JOIN tf USING (tok) WHERE n >= $ContainMinTokens)", ContainAnchors) + ", " +
        firstSql("pb", "tok", "b_id", "(SELECT tok, doc_id AS b_id FROM ex)",
          ContainPostingCap) + ", " +
        rerankSql("pref JOIN pb USING (tok) WHERE a_id <> b_id", ContainTopC) + ", " +
        confirmSql(s"round(${containmentSql("common", "na")}, 6) AS containment",
          containedSql("common", "na")) + ", " +
        bestPickSql("cf", "containment", "SELECT doc_id FROM documents", containedCols)),
    // Recall-audit replay: the exact pairs (the c2_ngram_jaccard replay)
    // and the membership chain share one `base` CTE; the audit join and
    // bucket aggregation mirror the engine verbatim.
    "c2_lsh_recall" ->
      (s"WITH ${baseSql("documents")}, $exSql, $jaccardPairsSql, " +
        mhChainSql() + ", " +
        "cand AS (SELECT DISTINCT m1.doc_id AS a_id, m2.doc_id AS b_id " +
        "FROM mem m1 JOIN mem m2 ON m1.band = m2.band AND m1.bucket = m2.bucket " +
        "AND m1.doc_id < m2.doc_id), " +
        "j AS (SELECT p.jaccard, c.a_id IS NOT NULL AS found FROM pairs p " +
        "LEFT JOIN cand c ON p.a_id = c.a_id AND p.b_id = c.b_id), " +
        "b AS (SELECT CAST(floor(jaccard * 20) AS INT) AS sim_bucket, " +
        "count(*) AS n_pairs, " +
        "CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found " +
        "FROM j GROUP BY 1) " +
        "SELECT sim_bucket, n_pairs, n_found, " +
        "round(CAST(n_found AS DOUBLE) / n_pairs, 6) AS recall " +
        "FROM b ORDER BY sim_bucket"),
    "c2_minhash_lsh" ->
      (s"WITH $mhBase, ${bucketMinSql("doc_id", "band")} " +
        "SELECT doc_id, min(bucket_min) AS cluster_rep, " +
        "doc_id = min(bucket_min) AS is_kept " +
        "FROM mm GROUP BY doc_id ORDER BY doc_id"),
    "c2_minhash_cc" ->
      (s"WITH $mhBase, " + closureSql("band")),
    // Cluster-size histogram over the same fixed-round closure labels.
    "c2_cc_stats" ->
      (s"WITH $mhBase, " + closureChainSql("band") + ", " +
        "cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM cl " +
        "GROUP BY cluster_rep), " +
        "tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_total FROM cs), " +
        "h AS (SELECT cluster_size, count(*) AS n_clusters FROM cs " +
        "GROUP BY cluster_size) " +
        "SELECT cluster_size, n_clusters, " +
        "CAST(cluster_size * n_clusters AS BIGINT) AS n_docs, " +
        "round(CAST(cluster_size * n_clusters AS DOUBLE) / n_total, 6) " +
        "AS docs_share FROM h, tot ORDER BY cluster_size"),
    "c2_simhash" ->
      (s"WITH $shBase, ${bucketMinSql("doc_id, fp", "block")} " +
        "SELECT doc_id, min(fp) AS fp, min(bucket_min) AS cluster_rep, " +
        "doc_id = min(bucket_min) AS is_kept " +
        "FROM mm GROUP BY doc_id ORDER BY doc_id"),
    "c2_simhash_cc" ->
      (s"WITH $shBase, " + closureSql("block")),
    "c2_incremental_dedup" -> incrementalSql(None),
    "c2_incremental_dedup_topc" -> incrementalSql(Some(Bounded(IncDedupTopC, capNewSide = false))),
    // The indexed variant is result-identical by construction (same hash
    // family, same banding, corpus side persisted at ingest), so it is
    // held to the SAME full replay — a stale layout breaks the hash.
    "c2_incremental_dedup_indexed" -> incrementalSql(None),
    // Incremental CC labels equal from-scratch CC over the index
    // banding (IncBands × IncRows) by construction — the oracle replays
    // the from-scratch closure on the FULL corpus and the hash pins the
    // incremental == from-scratch equality.
    "c2_incremental_cc" ->
      s"WITH ${baseSql("documents")}, ${mhChainSql(IncBands, IncRows)}, ${closureSql("band")}",
    // From-scratch CC over the SURVIVING corpus (standing slice minus
    // the takedown) — the equality c2CcDelete's bounded re-resolution
    // must reproduce.
    "c2_cc_delete" ->
      (s"WITH ${baseSql(s"documents WHERE $CorpusSql AND doc_id % 97 <> 13")}, " +
        s"${mhChainSql(IncBands, IncRows)}, ${closureSql("band")}"),
    "c2_embed_neardup" ->
      (s"WITH ${SimOps.sketchCte(EmbedTables, EmbedBits)}, " +
        SimOps.lshCandSql(EmbedTables, EmbedBits, "TRUE", "<") + ", " +
        SimOps.rescoreSql("sc", "cand") + " " +
        s"SELECT q_id AS a_id, b_id, cosine FROM sc WHERE cosine >= $NearDupCosine " +
        "ORDER BY a_id, b_id")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c2_ngram_jaccard" -> (c2NgramJaccard _),
    "c2_ngram_jaccard_topm" -> (c2NgramJaccardTopM _),
    "c2_containment" -> (c2Containment _),
    "c2_containment_best" -> (c2ContainmentBest _),
    "c2_containment_best_topc" -> (c2ContainmentBestTopC _),
    "c2_minhash_lsh" -> (c2MinHashLsh _),
    "c2_minhash_cc" -> (c2MinHashCc _),
    "c2_incremental_cc" -> (c2IncrementalCc _),
    "c2_cc_delete" -> (c2CcDelete _),
    "c2_cc_stats" -> (c2CcStats _),
    "c2_simhash" -> (c2SimHash _),
    "c2_simhash_cc" -> (c2SimHashCc _),
    "c2_embed_neardup" -> (c2EmbedNearDup _),
    "c2_incremental_dedup" -> (c2IncrementalDedup _),
    "c2_incremental_dedup_indexed" -> (c2IncrementalDedupIndexed _),
    "c2_incremental_dedup_topc" -> (c2IncrementalDedupTopC _),
    "c2_semantic_dedup" -> (c2SemanticDedup _),
    "c2_semantic_dedup_cc" -> (c2SemanticDedupCc _),
    "c2_lsh_recall" -> (c2LshRecall _)
  )
}
