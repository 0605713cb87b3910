package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection, built entirely from
  * codegen'd expressions — no UDFs, no cross join.
  *
  * Public technique (MMDS ch.3; the band/bucket candidate-generation
  * pattern also appears in the V-SMART-Join literature referenced in
  * PAPERS.md). The reference engine has no dedup operator at all — a
  * tMapReduce user would hand-roll this as Map/Reduce `.so`s
  * (`/root/reference/src/tmapreduce/mrf.h:9-11`); here it is a
  * first-class declarative plan.
  *
  * Hash family — PORTABLE (see graft.functions.HashExprs): every hash in
  * the pipeline (token base hash, affine MinHash members, band-bucket
  * ids) is md5-prefix + exact 64-bit integer arithmetic that any SQL
  * engine evaluates identically, so the whole LSH pipeline is replayable
  * by the DuckDB oracle (DedupOps.oracle) — the dedup output is
  * hash-checked end-to-end, not just spec-sampled.
  *
  * Scale design (100 TB): candidate generation is
  *   explode(bands) → shuffle on (band, slice-hash) → within-bucket pairs,
  * so shuffle volume is O(n · bands) and pair generation is confined to
  * buckets — never O(n²). The exact-Jaccard confirmation joins token sets
  * only for candidate pairs. Buckets with pathological sizes (skew) are
  * capped by `maxBucket` to bound the quadratic within-bucket blowup; at
  * cluster scale that cap is the standard guard against degenerate
  * all-identical corpora.
  */
object MinHash {

  /** 2^31 − 1 — modulus of the affine MinHash family. */
  val P: Long = graft.functions.PortableHashImpl.P

  /** SQL-portable base hash of a string column: integer value of the
    * first 15 hex chars (60 bits) of its md5 —
    * DuckDB: `('0x'||substr(md5(t),1,15))::BIGINT`.
    */
  def base60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-row MinHash signature as an `array<bigint>` column.
    * h_i(token) = (A_i · (base60(token) % P) + B_i) % P — a Carter–Wegman
    * affine family over the md5 base hash; every member is replayable in
    * portable SQL. Native fused expression (graft.functions.MinHashSig):
    * one MD5 per token + cheap affine mixes, bit-identical to the
    * test-side HOF twin HofTwins.signatureHof (HashExprsSpec).
    */
  def signature(tokens: Column, numHashes: Int): Column =
    graft.functions.HashExprs.minHashSig(tokens, numHashes)

  /** Distinct whitespace tokens — the Jaccard universe used across the
    * dedup operators (documents.text is space-separated word soup).
    */
  def tokenSet(text: Column): Column =
    array_distinct(split(text, " "))

  /** Band-bucket id: 60-bit md5 hash of `band:sig₁:sig₂:…` — an 8-byte
    * shuffle key (vs shipping the slice itself), salted by the band index
    * so identical slices in different bands never collide, and portable
    * (DuckDB replays the same concat + md5 parse).
    */
  private[dedup] def bandBucket(band: Column, sliceCol: Column): Column =
    base60(concat_ws(":",
      band.cast("string"), array_join(sliceCol.cast("array<string>"), ":")))

  /** Per-document dedup assignment via LSH banding — the O(n)-output form
    * a training pipeline actually applies at scale (on a self-similar
    * corpus the pair list is inherently O(n²), the keep/drop decision is
    * not). Each doc's cluster representative = the smallest doc_id seen in
    * any of its LSH buckets (one min-propagation round): `is_kept` docs
    * form the deduplicated corpus.
    * Output: `(doc_id, cluster_rep, is_kept)`.
    *
    * Skew posture: the per-bucket min comes from [[bucketMins]] (partial
    * hash aggregate + shuffle join back), NOT a window over the raw
    * memberships — a window would ship every row of a mega-bucket (10⁸
    * copies of boilerplate sharing one (band, bucket)) into one task with
    * no map-side combine and no AQE skew splitting. With groupBy+join the
    * mega-bucket collapses map-side and AQE skew-join handles the probe.
    */
  def dedupAssignments(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    dedupAssignmentsFromSets(df, id, tokenSet(text), numHashes, bands)

  /** [[dedupAssignments]] over a PRECOMPUTED set column instead of
    * whitespace tokens — MinHash is agnostic to what the set elements
    * are, so the same machinery dedups any set-shaped identity: word
    * shingles, frame-hash sets of a video asset
    * (MultiModalOps.c6FrameNearDupMinhash), feature bags. The signature
    * is a min over the element hashes, so element order in the array
    * never affects the result.
    */
  def dedupAssignmentsFromSets(
      df: DataFrame,
      id: Column,
      tokens: Column,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    // Persisted: the signature (one MD5 per token) dominates per-row cost
    // and the membership table feeds two consumers (the bucket-min
    // aggregate and the join probe) — compute it once, spill if large.
    // The cache must outlive the returned lazy frame (it is read when the
    // caller materializes), so CacheScope releases it right after the
    // first action that materializes the assignment.
    val banded = membershipsFromSets(df, id, tokens, numHashes, bands)
    graft.util.CacheScope.releaseAfterMaterialize(
      banded
        .join(bucketMins(banded, "band", "bucket"), Seq("band", "bucket"))
        .groupBy("doc_id")
        .agg(min(col("bucket_min")).as("cluster_rep"))
        .withColumn("is_kept", col("doc_id") === col("cluster_rep")),
      Seq(banded))
  }

  /** `(keyCols..., bucket_min)` — smallest doc_id per bucket, as a partial
    * (map-side combining) aggregate. The skew-safe building block shared
    * by the assignment and connected-components paths.
    */
  private[dedup] def bucketMins(
      memberships: DataFrame, keyCols: String*): DataFrame =
    memberships
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("doc_id")).as("bucket_min"))

  /** LSH bucket memberships `(doc_id, band, bucket)` — the bipartite graph
    * behind both the one-round assignment and the transitive closure.
    */
  private[dedup] def memberships(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int,
      bands: Int): DataFrame =
    membershipsFromSets(df, id, tokenSet(text), numHashes, bands)

  private[graft] def membershipsFromSets(
      df: DataFrame,
      id: Column,
      tokens: Column,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    df.select(id.as("doc_id"), tokens.as("toks"))
      .withColumn("sig", signature(col("toks"), numHashes))
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => bandBucket(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Transitive-closure variant of [[dedupAssignments]]: duplicate CHAINS
    * (A ~ B ~ C with A, C not directly similar) collapse into one cluster
    * via distributed connected components (large-star/small-star, O(log n)
    * rounds — see [[ConnectedComponents]]). One min-propagation round
    * over-keeps chained near-dups; this is the form a self-similar corpus
    * needs. Output schema identical to [[dedupAssignments]].
    */
  def dedupAssignmentsCC(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    ConnectedComponents.assignmentsFromMemberships(
      memberships(df, id, text, numHashes, bands))

  /** Near-duplicate pairs `(a_id, b_id, jaccard)` with exact token-set
    * Jaccard >= `threshold`, candidates generated by MinHash LSH banding
    * with `bands` bands of `numHashes / bands` rows each.
    */
  def nearDuplicates(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // Exact Jaccard confirmation on candidates only.
    val sets = df.select(id.as("doc_id"), tokenSet(text).as("toks"))
    bucketPairs(memberships(df, id, text, numHashes, bands), Seq("band", "bucket"), maxBucket)
      .join(sets.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("common", size(array_intersect(col("a_toks"), col("b_toks"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("a_toks")) + size(col("b_toks")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("common"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Within-bucket candidate pairs of `memberships` (doc_id, <keyCols>,
    * <carry>): for every bucket holding 2 to `maxBucket` members, each
    * pair of its members with a_id < b_id, de-duplicated across buckets,
    * as `(a_id, b_id, a_<c>, b_<c>, …)` for each `carry` column. The size
    * cap is the skew guard: a pathological bucket would generate
    * |bucket|² candidates, and near-identical members still meet through
    * their other buckets.
    */
  private[dedup] def bucketPairs(memberships: DataFrame, keyCols: Seq[String],
      maxBucket: Int, carry: String*): DataFrame =
    memberships
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(col("doc_id") +: carry.map(col): _*)).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id") +: col("b.doc_id").as("b_id") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"), col(s"b.$c").as(s"b_$c"))): _*)
      .distinct()
}
