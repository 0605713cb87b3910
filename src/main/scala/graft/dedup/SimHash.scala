package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash (Charikar random-hyperplane) fingerprints + Hamming-block LSH,
  * built from codegen'd expressions only.
  *
  * Fingerprint: 60-bit; bit j is the sign of Σ_tokens (±1 depending on
  * bit j of the portable md5-prefix base hash — see
  * graft.functions.HashExprs). 60 bits (not 64) because the base hash is
  * the integer value of 15 md5 hex chars, the widest prefix any SQL
  * engine can parse into a signed BIGINT — which is what makes the whole
  * pipeline oracle-replayable. Near-dup candidates: by the pigeonhole
  * principle, two fingerprints within Hamming distance k agree on at
  * least one of k+1 equal bit-blocks — candidates are generated by a
  * group-by on (block index, block value), then confirmed with an exact
  * `bit_count(a XOR b)` — shuffle O(n·(k+1)), never O(n²).
  */
object SimHash {

  val Bits = 60

  /** 60-bit SimHash fingerprint of a token array, as a bigint column —
    * native fused expression (graft.functions.SimHashFp): one MD5 per
    * token, bit-identical to the test-side HOF twin HofTwins.fingerprintHof
    * (HashExprsSpec).
    */
  def fingerprint(tokens: Column): Column =
    graft.functions.HashExprs.simHashFp(tokens)

  /** Per-document dedup assignment: cluster representative = smallest
    * doc_id sharing any fingerprint block (see MinHash.dedupAssignments
    * for the O(n)-output rationale and the groupBy+join skew posture —
    * per-bucket mins are a partial aggregate, never a window over raw
    * memberships). Output `(doc_id, fp, cluster_rep, is_kept)`.
    */
  def dedupAssignments(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3): DataFrame = {
    // Persisted: one fingerprint (MD5 per token) feeds both the bucket-min
    // aggregate and the join probe — compute once; CacheScope releases it
    // after the action that materializes the assignment (see MinHash).
    val banded = memberships(df, id, text, maxHamming)
    graft.util.CacheScope.releaseAfterMaterialize(
      banded
        .join(MinHash.bucketMins(banded, "block", "bucket"), Seq("block", "bucket"))
        .groupBy(col("doc_id"))
        .agg(first(col("fp")).as("fp"), min(col("bucket_min")).as("cluster_rep"))
        .withColumn("is_kept", col("doc_id") === col("cluster_rep")),
      Seq(banded))
  }

  /** Fingerprint-block memberships `(doc_id, fp, block, bucket)`. */
  private[dedup] def memberships(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    val blockWidth = (Bits + blocks - 1) / blocks
    val fp = df.select(id.as("doc_id"),
      fingerprint(MinHash.tokenSet(text)).as("fp"))
    fp.select(
      col("doc_id"), col("fp"),
      posexplode(transform(
        sequence(lit(0), lit(blocks - 1)),
        b => {
          val width = least(lit(blockWidth), lit(Bits) - b * blockWidth)
          val mask = call_function("shiftleft", lit(1L), width.cast("int")) - 1L
          call_function("shiftrightunsigned", col("fp"), (b * blockWidth).cast("int"))
            .bitwiseAND(mask)
        })))
      .withColumnRenamed("pos", "block")
      .withColumnRenamed("col", "bucket")
  }

  /** Transitive-closure variant of [[dedupAssignments]] (see
    * [[MinHash.dedupAssignmentsCC]]): Hamming chains collapse into one
    * cluster via large-star/small-star connected components. Output
    * `(doc_id, cluster_rep, is_kept)`.
    */
  def dedupAssignmentsCC(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3): DataFrame =
    ConnectedComponents.assignmentsFromMemberships(
      memberships(df, id, text, maxHamming)
        .select(col("doc_id"), col("block").as("band"), col("bucket")))

  /** Near-duplicate pairs `(a_id, b_id, hamming)` with Hamming distance
    * <= `maxHamming` between 60-bit SimHash fingerprints.
    */
  def nearDuplicates(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    MinHash.bucketPairs(memberships(df, id, text, maxHamming), Seq("block", "bucket"),
        maxBucket, "fp")
      .withColumn("hamming", bit_count(col("a_fp").bitwiseXOR(col("b_fp"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
}
