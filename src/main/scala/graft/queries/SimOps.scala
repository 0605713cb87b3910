package graft.queries

import graft.Tables
import graft.sources.Storage
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group C (similarity search) — C3: nearest neighbors over the
  * `embeddings` table (`embedding: array<float>`, 64-dim).
  *
  * The reference cannot express this at all (string-KV MapReduce only,
  * `/root/reference/src/tmapreduce/job.h:17-24`); a user would hand-roll
  * it in C++ inside a Map `.so`. Here:
  *
  *  - `c3_cosine_topk` — exact brute-force top-k for a fixed query subset,
  *    the correctness baseline. All arithmetic is double-precision
  *    sequential folds (`aggregate` HOF), mirrored exactly by the DuckDB
  *    oracle's `list_dot_product` on DOUBLE[] casts.
  *  - `c3_ann_lsh` — the 100 TB path: random-hyperplane LSH (sign-bit
  *    sketch, Charikar 2002). Each vector gets a `nBits`-bit bucket id;
  *    candidates come from a group-by on the bucket (plus the query's
  *    multi-probe neighbors at Hamming distance 1), so the shuffle is
  *    O(n·probes), never the O(n·q) cross join. Recall vs brute force is
  *    asserted in SimOpsSpec; the driver gets a rows-only check.
  *
  * Scale posture: the brute-force variant broadcasts the (small) query
  * set against the corpus — at 1000 executors that is a map-side join
  * over an arbitrarily large corpus with a final per-query top-k
  * (`TakeOrdered`-style window + filter), no corpus shuffle at all.
  */
object SimOps {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** The embeddings table as (vec_id, embD: array<double>). */
  private def embVecs(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(col("vec_id"), asDouble(col("embedding")).as("embD"))

  /** Sequential-fold dot product — native codegen'd Expression
    * (graft.functions.DotProductD); same fold order as the HOF form and
    * the DuckDB oracle, ~an order of magnitude faster (no per-element
    * boxing, no intermediate array). Its HOF twin, for spec
    * cross-validation, is the test-side graft.functions.HofTwins.dotHof.
    */
  def dotD(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  /** L2 norm via the same sequential fold (native). */
  def normD(a: Column): Column = graft.functions.VectorExprs.norm(a)

  private def asDouble(a: Column): Column = a.cast("array<double>")

  // The fixed parameters of the c3 keys. The Spark plans and their DuckDB
  // replays both render these, so a replay cannot drift from its plan.

  /** k of every c3 top-k, recall and kNN vote. */
  private[queries] val TopK = 5
  /** Query subset of the ANN and recall keys (and of c3_cosine_topk). */
  private[queries] val AnnQueryMod = 100
  /** Probes per query of the IVF and PQ keys. */
  private[queries] val AnnNprobe = 4
  /** Code shape of the in-plan and fixed-layout IVFADC keys. */
  private[queries] val PqSubspaces = 8
  private[queries] val PqKSub = 16
  /** c3_ann_lsh's sketch: L = 16 tables × 8 bits. */
  private[queries] val LshTables = 16
  private[queries] val LshBits = 8
  /** c3_range_search's query subset and cosine floor (0.25 is exact in
    * binary, so no boundary row can hash-flip between engines).
    */
  private[queries] val RangeQueryMod = 50
  private[queries] val RangeTau = 0.25
  /** c3_knn_classify's query subset. */
  private[queries] val KnnQueryMod = 20
  /** Neighbors per vector of c3_knn_join. */
  private[queries] val KnnJoinM = 3

  /** Benchmark instantiation of a caller-supplied query table: the first
    * [[MaxQueries]] multiples of `queryMod`. The cap is what makes the
    * "small by contract" broadcast side TRUE at any corpus size — a bare
    * `% queryMod` filter is a corpus FRACTION, which silently turns every
    * broadcast-query theta join into O(n²/mod) work with an O(n/mod)
    * broadcast (measured: c3_range_search 39× on the sf1→sf10 decade
    * before the cap). Vacuous at the driver's gate corpora — every
    * vec_id there is below the bound, so oracle hashes are unchanged —
    * while at derived scale corpora the query count pins at MaxQueries
    * and the exact-scan family is linear in the corpus again.
    */
  private[queries] val MaxQueries = 128

  private def isQuery(id: Column, queryMod: Int): Column =
    id % queryMod === 0 && id < lit(queryMod.toLong * MaxQueries)

  /** The same query-set predicate in oracle SQL (`ref` names the vec_id
    * column, qualified if the SQL context needs it).
    */
  private def queryPredSql(queryMod: Int, ref: String = "vec_id"): String =
    s"$ref % $queryMod = 0 AND $ref < ${queryMod.toLong * MaxQueries}"

  // The vector vocabulary: each rule once as a Spark function and, next
  // to it, once as the DuckDB renderer of the replays (the ANN, semantic
  // dedup and semantic gate oracles, and DedupOps' c2_embed_neardup).

  /** Render a literal double matrix as a DuckDB nested-list literal.
    * Java's `Double.toString` emits the shortest decimal that round-trips,
    * so DuckDB parses back bit-identical doubles — the planes/centroids in
    * the oracle SQL are exactly the plan literals.
    */
  private[queries] def matLit(m: Seq[Seq[Double]]): String =
    m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** The embeddings as `e(vec_id, v, label)`, `v` cast as [[embVecs]]. */
  private[queries] val embCte =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)"

  /** The cosine every ANN, semantic-dedup and semantic-gate query ranks
    * and thresholds on: rounded to 6 dp, the value the oracle hashes,
    * and rounded BEFORE any rank window so fold-order drift between
    * engines cannot flip a rank.
    */
  private[graft] def cosine6(a: Column, b: Column): Column =
    round(dotD(a, b) / (normD(a) * normD(b)), 6)

  /** [[cosine6]]. */
  private def cosineSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b))), 6)"

  /** The squared L2 the exact-L2 recall references rank by: dot(a,a) +
    * dot(b,b) − 2·dot(a,b), three sequential-fold dot products, rounded
    * to 6 dp before any rank window.
    */
  private def l2sq(a: Column, b: Column): Column =
    round(dotD(a, a) + dotD(b, b) - lit(2.0) * dotD(a, b), 6)

  /** [[l2sq]]. */
  private def l2sqSql(a: String, b: String): String =
    s"round(list_dot_product($a, $a) + list_dot_product($b, $b) " +
      s"- 2*list_dot_product($a, $b), 6)"

  /** The two scores of a (q_emb, b_emb) row, named as the oracles name them. */
  private def cosineScore: Column = cosine6(col("q_emb"), col("b_emb")).as("cosine")
  private def l2sqScore: Column = l2sq(col("q_emb"), col("b_emb")).as("l2sq")

  /** The IVF cell a vector is assigned to, from its squared-L2 `dists`
    * to the codebook: the 1-based FIRST minimum (the tie-break the
    * Scala-side [[nearestCell]] and the oracle's `list_position` share).
    */
  private[graft] def assignCell(dists: Column): Column =
    array_position(dists, array_min(dists)).cast("int")

  /** [[assignCell]] over a `dists` column. */
  private val assignSql = "CAST(list_position(dists, list_min(dists)) AS INT)"

  /** The codebook `cents` as `ct<tag>(c)`, every row of `src(vec_id, v)`
    * with its squared-L2 `dists` to it as `d<tag>(vec_id, v, dists)`
    * (materialized: assignment, probes and residuals all read it), and
    * the assignment `asg<tag>(vec_id, v, cell)`.
    */
  private def codebookSql(cents: Seq[Seq[Double]], src: String = "e",
      tag: String = ""): String =
    s"ct$tag AS (SELECT ${matLit(cents)} AS c), " +
      s"d$tag AS MATERIALIZED (SELECT vec_id, v, " +
      s"list_transform(range(1, ${cents.length + 1}), k -> " +
      "list_sum(list_transform(range(1, 65), j -> (v[j]-c[k][j])*(v[j]-c[k][j])))) " +
      s"AS dists FROM $src CROSS JOIN ct$tag), " +
      s"asg$tag AS (SELECT vec_id, v, $assignSql AS cell FROM d$tag)"

  /** The `nprobe` cells a query probes, nearest first: the (dist, cell)
    * structs sorted ascending, cut to the first `nprobe`. Indices run
    * over `nTrained`, the TRAINED codebook length, NOT the requested
    * cell count — on a corpus smaller than the request the codebook is
    * shorter (one cell per vector), and a zip against a longer index
    * list would null-pad: the null-distance structs sort FIRST and
    * every probe would be a phantom cell (silently empty results).
    */
  private[graft] def probeCells(dists: Column, nTrained: Int, nprobe: Int): Column =
    slice(transform(array_sort(zip_with(dists, sequence(lit(1), lit(nTrained)),
      (d, i) => struct(d.as("d"), i.as("i")))), s => s.getField("i")),
      lit(1), lit(math.min(nprobe, nTrained)))

  /** [[probeCells]] of the `d<tag>` rows matching `pred`, as
    * `qs<tag>(q_id, v, cell)`, one row per probed cell.
    */
  private def probesSql(nTrained: Int, nprobe: Int, pred: String,
      tag: String = ""): String =
    s"qs$tag AS (SELECT vec_id AS q_id, v, unnest(list_transform(list_slice(" +
      s"list_sort(list_transform(range(1, ${nTrained + 1}), k -> " +
      s"[dists[k], CAST(k AS DOUBLE)])), 1, ${math.min(nprobe, nTrained)}), " +
      s"s -> CAST(s[2] AS BIGINT))) AS cell FROM d$tag WHERE $pred)"

  /** IVF candidates: every `vecs` (vec_id, embD) row assigned to its
    * nearest `cents` cell, each `isQ` row probing its `nprobe` nearest
    * cells (broadcast — the small query side), joined on the cell.
    * Distinct (q_id, b_id) id pairs, q_id ≠ b_id.
    */
  private def ivfCandidates(vecs: DataFrame, isQ: Column,
      cents: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    // squared L2 to each centroid — native fused pass (CentroidDists),
    // same fold order as the HOF form (asserted in VectorExprsSpec).
    def withDists(df: DataFrame): DataFrame = df.withColumn("dists",
      graft.functions.VectorExprs.centroidDists(col("embD"), cents))
    val corpus = withDists(vecs)
      .select(col("vec_id").as("b_id"), assignCell(col("dists")).as("cell"))
    val queries = withDists(vecs.filter(isQ))
      .select(col("vec_id").as("q_id"),
        explode(probeCells(col("dists"), cents.length, nprobe)).as("cell"))
    corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("q_id") =!= col("b_id"))
      .select("q_id", "b_id").distinct()
  }

  /** [[ivfCandidates]] as `cand<tag>(q_id, b_id)`: each probe's other
    * vectors in the probed cell, narrowed by `on` (aliases: `q` the
    * probe, `a` the corpus assignment).
    */
  private def ivfCandSql(on: String = "", tag: String = ""): String =
    s"cand$tag AS MATERIALIZED (SELECT DISTINCT q.q_id, a.vec_id AS b_id " +
      s"FROM asg$tag a JOIN qs$tag q ON a.cell = q.cell AND q.q_id <> a.vec_id$on)"

  /** Within-cell pairs of an assigned corpus: (cell, a_id, a_emb, b_id,
    * b_emb, cosine) for every same-cell pair `keep` admits.
    */
  private[queries] def cellPairs(assigned: DataFrame, keep: Column): DataFrame =
    assigned
      .select(col("cell"), col("vec_id").as("a_id"), col("embD").as("a_emb"))
      .join(assigned.select(col("cell"), col("vec_id").as("b_id"),
        col("embD").as("b_emb")), Seq("cell"))
      .filter(keep)
      .withColumn("cosine", cosine6(col("a_emb"), col("b_emb")))

  /** [[cellPairs]]: vectors sharing an `asg` cell with
    * `a.vec_id <op> b.vec_id`, as `cp(q_id, b_id)`.
    */
  private def cellPairsSql(op: String): String =
    "cp AS (SELECT a.vec_id AS q_id, b.vec_id AS b_id FROM asg a JOIN asg b " +
      s"ON a.cell = b.cell AND a.vec_id $op b.vec_id)"

  /** The rescore of distinct (q_id, b_id) candidate `pairs`: their corpus
    * vectors come back through an explicit shuffle hash join on id
    * against `vecs` (vec_id, embD) — so no plan ever replicates the full
    * embeddings table to every executor — and only then their query
    * vectors, through a broadcast of the `isQ` rows (genuinely small, the
    * filtered side), so the shuffle carries id pairs, not query vectors;
    * then `score` of (q_emb, b_emb).
    */
  private def rescore(pairs: DataFrame, vecs: DataFrame, isQ: Column,
      score: Column): DataFrame =
    pairs
      .join(vecs.select(col("vec_id").as("b_id"), col("embD").as("b_emb"))
        .hint("shuffle_hash"), "b_id")
      .join(broadcast(vecs.filter(isQ)
        .select(col("vec_id").as("q_id"), col("embD").as("q_emb"))), "q_id")
      .select(col("*"), score)

  /** The ANN tail: [[rescore]] by cosine, then the per-query top-k.
    * Output (q_id, rank, b_id, cosine), unordered.
    */
  private def rescoreTopK(pairs: DataFrame, vecs: DataFrame, isQ: Column): DataFrame =
    topK(rescore(pairs, vecs, isQ, cosineScore), TopK)
      .select(col("q_id"), col("rank"), col("b_id"), col("cosine"))

  /** [[rescore]] of the pairs `cand(q_id, b_id)` against `src(vec_id, v)`,
    * as `<name>(q_id, b_id, <score>)`; `x` is the query, `y` the corpus
    * vector, and the score [[cosine6]] unless given.
    */
  private[queries] def rescoreSql(name: String, cand: String, src: String = "e",
      score: String = s"${cosineSql("x.v", "y.v")} AS cosine"): String =
    s"$name AS (SELECT q_id, b_id, $score FROM $cand " +
      s"JOIN $src x ON x.vec_id = $cand.q_id JOIN $src y ON y.vec_id = $cand.b_id)"

  /** The exact scan's two sides over the embeddings: the corpus
    * `(b_id, b_emb, …)` and its query subset `(q_id, q_emb, …)` ([[isQuery]]
    * at `queryMod`), each with its half of every `carry` pair
    * (corpus-side column, query-side column).
    */
  private def exactSides(spark: SparkSession, dir: String, queryMod: Int,
      carry: (Column, Column)*): (DataFrame, DataFrame) =
    (emb(spark, dir).select(col("vec_id").as("b_id") +:
      asDouble(col("embedding")).as("b_emb") +: carry.map(_._1): _*),
      emb(spark, dir).filter(isQuery(col("vec_id"), queryMod)).select(
        col("vec_id").as("q_id") +: asDouble(col("embedding")).as("q_emb") +:
          carry.map(_._2): _*))

  /** The exact scan: every row of `queries` scored by `score` against
    * every other `corpus` row with equal `on` columns. The query side is
    * broadcast (small by contract) and the corpus scan stays narrow — at
    * 1000 executors a map-side join over an arbitrarily large corpus, no
    * corpus shuffle at all.
    */
  private def exact(corpus: DataFrame, queries: DataFrame, score: Column,
      on: String*): DataFrame = {
    val q = broadcast(queries)
    corpus.join(q, on.foldLeft(col("q_id") =!= col("b_id"))((c, k) => c && corpus(k) === q(k)))
      .select(col("*"), score)
  }

  /** [[exact]]: every `src` vector `x` matching `on` scored against
    * every other vector `y`, as `<name>(q_id, b_id, <score>)`.
    */
  private def exactSql(name: String, on: String, src: String = "e",
      score: String = s"${cosineSql("x.v", "y.v")} AS cosine"): String =
    s"$name AS (SELECT x.vec_id AS q_id, y.vec_id AS b_id, $score " +
      s"FROM $src x JOIN $src y ON $on AND x.vec_id <> y.vec_id)"

  /** Rank `scored` rows per `key` by (`order`, b_id) and keep rank ≤ k. */
  private def topK(scored: DataFrame, k: Int, order: Column = col("cosine").desc,
      key: String = "q_id"): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col(key))
        .orderBy(order, col("b_id"))))
      .filter(col("rank") <= k)

  /** [[topK]]: the `from` rows ranked per q_id by (`order`, b_id), rank ≤ k
    * kept, as `<name>(…, rank)`.
    */
  private def topKSql(name: String, from: String, k: Int,
      order: String = "cosine DESC"): String =
    s"$name AS (SELECT * FROM (SELECT *, CAST(row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY $order, b_id) AS INT) AS rank FROM $from) " +
      s"WHERE rank <= $k)"

  /** The ANN result over a scored `from(q_id, b_id, cosine)`. */
  private def annTopKTail(from: String): String =
    topKSql("r", from, TopK) + " SELECT q_id, rank, b_id, cosine FROM r ORDER BY q_id, rank"

  /** Per-query hit counts of `ann` against the brute-force top-k: one
    * row per query with `n_hits` = |ann ∩ brute-force| (0 for queries
    * the ANN missed entirely). Shared by the recall queries; the
    * downstream frame is query-set-sized, never corpus-sized.
    */
  private def recallHits(ann: DataFrame, bf: DataFrame): DataFrame = {
    // The ground-truth side feeds TWO branches of this frame (the hit
    // semi join and the distinct-q_id spine), and several callers read
    // the returned frame more than once — unpersisted, the brute-force
    // top-k subtree (an |queries| × corpus cosine pass plus its rank
    // window) re-executed once per branch inside the final plan
    // (measured: ~3 s of c3_ann_staleness's ~7 s steady state at
    // sf0.1). Persist it for the result's lifetime; CacheScope releases
    // it after the first action that materializes a plan containing
    // this frame.
    val bfp = bf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = bfp.join(ann, Seq("q_id", "b_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    graft.util.CacheScope.releaseAfterMaterialize(
      bfp.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L))),
      Seq(bfp))
  }

  /** [[recallHits]]: per query, |truth ∩ ann| as `<name>(q_id, n_hits)`. */
  private def hitsSql(name: String, truth: String, ann: String): String =
    s"$name AS (SELECT q_id, count(*) AS n_hits FROM $truth JOIN $ann " +
      "USING (q_id, b_id) GROUP BY q_id)"

  private def nHitsSql(h: String): String = s"CAST(COALESCE($h.n_hits, 0) AS BIGINT)"

  /** Name of the per-query recall column. */
  private val RecallAt = s"recall_at_$TopK"

  /** Per-query recall@k of an `n_hits` column. */
  private def recall(nHits: Column): Column = round(nHits.cast("double") / TopK, 6)

  /** [[recall]]. */
  private def recallSql(h: String): String =
    s"round(COALESCE($h.n_hits, 0) / $TopK.0, 6)"

  /** Every row of a per-query frame: the window of the query-set means
    * (bounded by the caller's query set, never the corpus).
    */
  private val querySet =
    Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** The query-set mean recall as one integer sum (no float fold order). */
  private def meanRecall(nHits: Column): Column =
    round(sum(nHits).over(querySet).cast("double") /
      (lit(TopK) * count(lit(1)).over(querySet)), 6)

  /** [[meanRecall]]. */
  private def meanRecallSql(h: String): String =
    s"round(sum(COALESCE($h.n_hits, 0)) OVER () / ($TopK.0 * count(*) OVER ()), 6)"

  /** The mean-recall monitors over their [[recallHits]]: recall@k, the
    * query-set mean and the in-plan bound claim `mean_recall_ok` (the
    * replay renders it as literal TRUE: the bound lives in the plan).
    */
  private def meanRecallTail(hits: DataFrame, bound: Double): DataFrame =
    hits
      .withColumn(RecallAt, recall(col("n_hits")))
      .withColumn("mean_recall", meanRecall(col("n_hits")))
      .withColumn("mean_recall_ok", col("mean_recall") >= bound)
      .orderBy("q_id")

  /** The cosine recall chain over a `cand(q_id, b_id)` in scope: the
    * rescored ANN top-k `ann`, the exact top-k `bf` of the same query
    * set and their `hits`.
    */
  private def recallCtes: String =
    Seq(rescoreSql("sc", "cand"), topKSql("ann", "sc", TopK),
      exactSql("bsc", queryPredSql(AnnQueryMod, "x.vec_id")), topKSql("bf", "bsc", TopK),
      hitsSql("hits", "bf", "ann")).mkString(", ")

  /** One recall row per query of `bf`: n_hits, recall@k, `extra`. */
  private def recallTail(extra: String): String =
    s"SELECT q.q_id, ${nHitsSql("h")} AS n_hits, ${recallSql("h")} AS $RecallAt, " +
      s"$extra FROM (SELECT DISTINCT q_id FROM bf) q LEFT JOIN hits h USING (q_id) " +
      "ORDER BY q_id"

  /** The ADC ranking tail shared by the in-plan and indexed PQ queries:
    * candidates from the cell join, asymmetric distances from the
    * per-probe lookup tables, per-query top-k.
    *
    * Each corpus vector lives in exactly one cell and probes are
    * distinct, so (q_id, b_id) pairs are already unique — the ADC joins
    * back on (q_id, cell) to pick the matching per-probe table. `adc` is
    * rounded to 6dp BEFORE the rank window (the annTopKTail posture):
    * ranking on the raw double would make the hash depend on DuckDB's
    * list_sum reproducing Spark's left-to-right fold bit-for-bit — a
    * sub-1e-6 near-tie from a different summation order would flip ranks.
    *
    * `matchCols` are the candidate-join keys: `cell` alone is the plain
    * IVF probe; adding an attribute column (both sides must carry it)
    * restricts candidates to matching metadata DURING the probe — the
    * pre-filter form of filtered vector search.
    */
  private def adcTopK(corpus: DataFrame, queries: DataFrame,
      matchCols: Seq[String] = Seq("cell")): DataFrame = {
    val cand = corpus
      .join(broadcast(queries.select(
        (col("q_id") +: matchCols.map(col)): _*)), matchCols)
      .filter(col("q_id") =!= col("b_id"))
    val scored = cand
      .join(broadcast(queries), "q_id" +: matchCols)
      .withColumn("adc", round(expr(
        s"aggregate(sequence(0, ${PqSubspaces - 1}), CAST(0.0 AS DOUBLE), " +
          "(acc, m) -> acc + element_at(element_at(tbls, m+1), " +
          "element_at(codes, m+1)))"), 6))
    topK(scored, TopK, col("adc"))
      .select(col("q_id"), col("rank"), col("b_id"), col("adc"))
      .orderBy("q_id", "rank")
  }

  /** IVFADC scoring ([[PqEncExprs]]: residual against the cell,
    * sub-distances, codes; then the left-to-right ADC sum, round-6 before
    * any rank so DuckDB's list_sum and Spark's fold cannot flip it): the
    * codes `rcd(b_id, cell, codes)` of every `asg` row, the lookup tables
    * `qsd(q_id, cell, sd)` of every `probes(q_id, v, cell)` row, and the
    * pairs of `cand(q_id, b_id)` scored as `psc(q_id, b_id, adc)`.
    */
  private def adcSql(books: Seq[Seq[Seq[Double]]], kSub: Int,
      probes: String = "qs", cand: String = "cand"): String = {
    val m = books.length
    val sub = 64 / m
    def subDists(id: String, rows: String): String =
      s"SELECT $id, cell, list_transform(range(1, ${m + 1}), m -> " +
        s"list_transform(range(1, ${kSub + 1}), kk -> " +
        s"list_sum(list_transform(range(1, ${sub + 1}), j -> " +
        s"(r[(m-1)*$sub+j]-b[m][kk][j])*(r[(m-1)*$sub+j]-b[m][kk][j]))))) AS sd " +
        s"FROM (SELECT $id, cell, list_transform(range(1, 65), j -> v[j] - c[cell][j]) " +
        s"AS r FROM $rows CROSS JOIN ct) CROSS JOIN bks"
    s"bks AS (SELECT ${books.map(matLit).mkString("[", ",", "]")} AS b), " +
      "rcd AS (SELECT vec_id AS b_id, cell, " +
      "list_transform(sd, s -> list_position(s, list_min(s))) AS codes " +
      s"FROM (${subDists("vec_id", "asg")})), " +
      s"qsd AS (${subDists("q_id", probes)}), " +
      "psc AS (SELECT cand.q_id, cand.b_id, " +
      s"round(list_sum(list_transform(range(1, ${m + 1}), m -> " +
      "qsd.sd[m][rcd.codes[m]])), 6) AS adc " +
      s"FROM $cand cand JOIN rcd ON rcd.b_id = cand.b_id " +
      "JOIN qsd ON qsd.q_id = cand.q_id AND qsd.cell = rcd.cell)"
  }

  /** Deterministic hyperplanes: a fixed-seed Gaussian matrix embedded in
    * the plan as one literal (the same planes on every executor, no
    * runtime randomness, no per-row hashing). Sized for 64-dim
    * embeddings; planes are generated lazily per (tables, bits) request.
    */
  private val Dim = 64
  private[graft] def planeMatrix(nPlanes: Int): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(Dim)(rng.nextGaussian()))
  }

  /** Multi-table sign-LSH sketch: `tables` independent sketches of
    * `bits` sign bits each, as `array<bigint>` (element t = table t's
    * bucket). Plane (t, i) is literal-matrix row t*bits+i.
    *
    * Implementation note: everything is HOF loops (`transform` /
    * `aggregate`) rather than `tables*bits` unrolled expressions — the
    * unrolled form generated megabytes of Java that intermittently cost
    * Janino 60-200 s of (near-single-threaded) compilation per plan.
    * Loop form keeps generated code size constant in tables/bits.
    */
  def lshBuckets(embD: Column, tables: Int, bits: Int): Column =
    graft.functions.VectorExprs.signSketch(embD, planeMatrix(tables * bits), tables, bits)

  /** Shared oracle CTE: embeddings + the multi-table sign sketch, with
    * the hyperplane matrix embedded as a literal — the DuckDB replay of
    * `lshBuckets` (same sequential dot products, same sign rule, same
    * bit packing).
    */
  private[queries] def sketchCte(tables: Int, bits: Int): String =
    s"pl AS (SELECT ${matLit(planeMatrix(tables * bits))} AS p), $embCte, " +
      s"bk AS (SELECT vec_id, v, list_transform(range(0, $tables), t -> " +
      s"CAST(list_sum(list_transform(range(0, $bits), i -> " +
      s"CASE WHEN list_dot_product(v, p[t*$bits+i+1]) > 0 " +
      "THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)) AS buckets " +
      "FROM e CROSS JOIN pl)"

  /** The sign-LSH bucket rows `(id, tbl, bucket)` of `base(vec_id,
    * buckets)`: one per table, or — when `probe` — one per table for the
    * bucket and for each of its Hamming-1 variants (multi-probe). Rows
    * carry ids only: vectors re-attach after the candidate dedup, so the
    * bucket join and distinct shuffle 16-byte rows, not 512-byte vectors.
    */
  private[queries] def bucketRows(base: DataFrame, id: String, bits: Int,
      probe: Boolean): DataFrame = {
    val rows = base.select(col("vec_id").as(id), posexplode(
      if (!probe) transform(col("buckets"), b => array(b))
      else transform(col("buckets"), b =>
        concat(array(b),
          transform(sequence(lit(0), lit(bits - 1)),
            i => b.bitwiseXOR(call_function("shiftleft", lit(1L), i)))))))
      .withColumnRenamed("pos", "tbl")
    if (probe) rows.select(col(id), col("tbl"), explode(col("col")).as("bucket"))
    else rows.withColumn("bucket", element_at(col("col"), 1)).drop("col")
  }

  /** The sign-LSH candidates: the distinct (`id`, b_id) pairs of the
    * probe-side and corpus-side [[bucketRows]] — `left` and `right`, in
    * join order — that share a (tbl, bucket), kept by `keep`.
    */
  private[queries] def lshCand(left: DataFrame, right: DataFrame, id: String,
      keep: Column): DataFrame =
    left.join(right, Seq("tbl", "bucket")).filter(keep)
      .select(col(id), col("b_id")).distinct()

  /** [[lshCand]]: corpus bucket rows `corp(b_id, tbl, bucket)`, the
    * Hamming-1 multi-probe rows `qs(q_id, tbl, bucket)` of the `pred`
    * vectors, and the distinct pairs `cand(q_id, b_id)` sharing one with
    * `q_id <op> b_id`. Expects [[sketchCte]] in scope.
    */
  private[queries] def lshCandSql(tables: Int, bits: Int, pred: String,
      op: String): String =
    s"corp AS (SELECT vec_id AS b_id, rt.t AS tbl, buckets[rt.t+1] AS bucket " +
      s"FROM bk CROSS JOIN range(0, $tables) rt(t)), " +
      "qs AS (SELECT vec_id AS q_id, rt.t AS tbl, " +
      s"unnest(list_prepend(buckets[rt.t+1], list_transform(range(0, $bits), i -> " +
      "xor(buckets[rt.t+1], (1::BIGINT << i))))) AS bucket " +
      s"FROM bk CROSS JOIN range(0, $tables) rt(t) WHERE $pred), " +
      "cand AS (SELECT DISTINCT q_id, b_id FROM corp JOIN qs " +
      s"ON corp.tbl = qs.tbl AND corp.bucket = qs.bucket AND qs.q_id $op corp.b_id)"

  /** C3a: exact cosine top-k (k = [[TopK]]) of every corpus vector for
    * each query vector. Scores rounded to 6 decimals; ties broken by
    * neighbor id in both engines.
    *
    * `queryMod` selects the query subset (the first [[MaxQueries]]
    * multiples of queryMod, see [[isQuery]]) — the oracle-stable,
    * corpus-size-BOUNDED stand-in for a caller-supplied query table. In
    * production the query side is whatever small DataFrame the caller
    * passes; only its smallness matters (it is the broadcast side).
    */
  def c3CosineTopK(spark: SparkSession, dir: String,
      queryMod: Int = AnnQueryMod): DataFrame = {
    val (corpus, queries) = exactSides(spark, dir, queryMod)
    topK(exact(corpus, queries, cosineScore), TopK)
      .select(col("q_id"), col("rank"), col("b_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** C3m: cosine RANGE search — every corpus neighbor with cosine ≥ τ
    * per query (the FAISS/Milvus `range_search` API: variable-cardinality
    * threshold retrieval, vs top-k's fixed fan-out — the shape recall
    * pipelines and near-duplicate audits consume when "how many are this
    * close" matters more than "the closest k"). Same deterministic
    * discipline as [[c3CosineTopK]]: the score is rounded at 6dp BEFORE
    * the threshold compare, and τ = [[RangeTau]] is exactly
    * representable, so no boundary row can hash-flip between engines.
    *
    * Scale posture: the query side broadcasts (small by contract); the
    * corpus scan is narrow and the threshold filter runs map-side under
    * the broadcast join — no corpus shuffle at all, and unlike top-k no
    * rank window either: output order is a plain sort of the O(matches)
    * result. For corpus×corpus range search at scale, the LSH-bucketed
    * path is [[graft.queries.DedupOps.c2EmbedNearDup]].
    */
  def c3RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = exactSides(spark, dir, RangeQueryMod)
    exact(corpus, queries, cosineScore)
      .filter(col("cosine") >= RangeTau)
      .select(col("q_id"), col("b_id"), col("cosine"))
      .orderBy("q_id", "b_id")
  }

  /** C3i: kNN classification — predict each query vector's label by
    * majority vote of its k nearest corpus neighbors (exact cosine, the
    * labeled-embedding evaluation loop every embedding pipeline runs:
    * "do my vectors cluster by label?"). The top-k is the same
    * deterministic ranking as c3_cosine_topk (round-6 cosine, b_id
    * tie-break); the vote is pure integer counting and the argmax is a
    * deterministic (votes desc, label asc) window — no float can flip
    * the prediction. Scale: the query side broadcasts (caller-supplied
    * and small by contract), the corpus scan is narrow, and the vote
    * aggregate is O(queries × labels). On this synthetic corpus the
    * labels are independent of the embedding geometry, so chance-level
    * accuracy is the CORRECT output — the operator reports the
    * (absence of) label-geometry alignment, and the oracle pins the
    * full vote mechanics either way.
    */
  def c3KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = exactSides(spark, dir, KnnQueryMod,
      (col("label").as("b_label"), col("label").as("true_label")))
    val votes = topK(exact(corpus, queries, cosineScore), TopK)
      .groupBy(col("q_id"), col("true_label"), col("b_label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .withColumn("vr", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("b_label"))))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("b_label").as("pred_label"), col("n_votes"),
        (col("b_label") === col("true_label")).as("correct"))
      .orderBy("q_id")
  }

  /** C3b: ANN via multi-table sign-LSH ([[LshTables]] × [[LshBits]]) with
    * Hamming-1 multi-probe on the query side — the standard composition
    * for high recall when single-table collision probability is low.
    * Output shape matches c3_cosine_topk (rows-only driver check; recall
    * asserted in SimOpsSpec). On clustered real-world embeddings the
    * buckets are selective; on unstructured corpora LSH degrades toward
    * scan, which is information-theoretically unavoidable.
    */
  def c3AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // Scoped cache: the sketch is consumed by the corpus side, the query
    // side and the rescore joins (see DedupOps.c2EmbedNearDup);
    // CacheScope persists it and releases it after materialization.
    val base = embVecs(spark, dir)
      .withColumn("buckets", lshBuckets(col("embD"), LshTables, LshBits))
    val isQ = isQuery(col("vec_id"), AnnQueryMod)
    // Dedup candidates on ids only (cheap shuffle rows), then the shared
    // rescore re-attaches the vectors.
    val pairs = lshCand(bucketRows(base, "b_id", LshBits, probe = false),
      broadcast(bucketRows(base.filter(isQ), "q_id", LshBits, probe = true)),
      "q_id", col("q_id") =!= col("b_id"))
    graft.util.CacheScope.releaseAfterMaterialize(
      rescoreTopK(pairs, base, isQ).orderBy("q_id", "rank"), Seq(base))
  }

  /** Lloyd iterations on a driver-side sample — the standard IVF training
    * workflow (train the coarse quantizer on a small sample, assign the
    * full corpus distributed). Deterministic: fixed sample predicate,
    * first-k init, fixed iteration count.
    */
  private def trainCentroids(
      sample: Array[Array[Double]], wantCells: Int, iters: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty,
      "trainCentroids: cannot train a codebook on an empty corpus")
    // A corpus smaller than the requested cell count trains one cell per
    // vector (first-k init can't seed more cells than vectors; tabulating
    // the full count would index past the seeded array).
    val cells = math.min(wantCells, sample.length)
    val dim = sample.head.length
    var cents = sample.take(cells).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(cells)(new Array[Double](dim))
      val counts = new Array[Int](cells)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cells) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(cells)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents.map(_.toSeq).toSeq
  }

  /** Deterministic, size-bounded training sample: the driver never pulls
    * more than `maxSample` vectors regardless of corpus size.
    *
    * Construction: rank rows by `xxhash64(vec_id)` (engine-stable, no
    * runtime randomness), pre-filter to an expected 2×`maxSample` rows
    * using the corpus count, then sort the survivors and keep the first
    * `maxSample`. The pre-filter keeps the sort input ~constant-sized, so
    * neither the sort nor the driver collect grows with the corpus — the
    * bound a 100 TB run needs (the previous `% 7` predicate collected a
    * constant FRACTION, i.e. unbounded rows).
    */
  private[queries] def boundedSample(
      base: DataFrame, maxSample: Int): Array[Array[Double]] = {
    val session = base.sparkSession
    import session.implicits._
    val n = base.count() // also fills the persist cache
    val hashed = base.select(col("embD"), xxhash64(col("vec_id")).as("h"))
    val prefiltered =
      if (n <= 2L * maxSample) hashed
      else {
        // keep h below a threshold hit by ~2×maxSample rows (h is uniform
        // over the full signed-long range)
        val frac = 2.0 * maxSample / n
        val cut = (Long.MinValue + math.rint(frac * 2.0 * Long.MaxValue)).toLong
        hashed.filter(col("h") <= cut)
      }
    prefiltered.orderBy(col("h")).limit(maxSample)
      .select(col("embD")).as[Seq[Double]].collect().map(_.toArray)
  }

  /** The IVF training call: `cells` Lloyd centroids (5 iterations) on the
    * [[AnnMaxSample]]-bounded sample of `base` (vec_id, embD) — the one
    * recipe behind every coarse codebook, so a query and its dynamic
    * oracle train the identical plan literal.
    */
  private def coarseCodebook(base: DataFrame, cells: Int): Seq[Seq[Double]] =
    trainCentroids(boundedSample(base, AnnMaxSample), cells, iters = 5)

  /** C3d: ANN via IVF (inverted file): coarse k-means cells trained on a
    * deterministic bounded sample (≤ [[AnnMaxSample]] rows on the driver,
    * a constant independent of corpus size), corpus assigned to its
    * nearest cell (one narrow HOF argmin per row — no shuffle), queries
    * probe the `nprobe` nearest cells. At 100 TB: training stays
    * sample-sized, assignment is embarrassingly parallel, and each query
    * touches nprobe/nCells of the corpus. Rows-only driver check; recall
    * and the sample bound asserted in SimOpsSpec.
    */
  def c3AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    // Persisted: read once, consumed by the sample collect (a
    // construction-time action — hence the explicit persist BEFORE it),
    // corpus/query cell assignment, and the score re-attach joins;
    // CacheScope releases it after the result materializes.
    val base = embVecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = coarseCodebook(base, scaledCells(spark, dir))
    val isQ = isQuery(col("vec_id"), AnnQueryMod)
    graft.util.CacheScope.releaseAfterMaterialize(
      rescoreTopK(ivfCandidates(base, isQ, centroids, AnnNprobe), base, isQ)
        .orderBy("q_id", "rank"),
      Seq(base))
  }

  /** Per-subspace PQ codebooks trained on the SAME deterministic bounded
    * sample as the IVF coarse quantizer (slice the sampled vectors, run
    * the same Lloyd iterations per subspace) — shared by the query and
    * its dynamic oracle so the replay uses the exact plan literals.
    */
  private[queries] def pqBooks(sample: Array[Array[Double]],
      subspaces: Int, kSub: Int): Seq[Seq[Seq[Double]]] = {
    val dim = sample.head.length
    require(dim % subspaces == 0, "dim must divide into subspaces")
    val sub = dim / subspaces
    (0 until subspaces).map { m =>
      trainCentroids(sample.map(_.slice(m * sub, (m + 1) * sub)), kSub, iters = 5)
    }
  }

  /** Nearest coarse cell of each sample vector, with the SAME first-min
    * tie-break as the in-plan `array_position(dists, array_min(dists))`.
    */
  private def nearestCell(v: Array[Double], cents: Seq[Seq[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val ct = cents(c); var d = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - ct(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The IVFADC training pair (coarse quantizer + per-subspace residual
    * codebooks), deterministically derived from the bounded sample — the
    * dynamic oracle retrains it identically so the replay embeds the
    * exact plan literals. Jégou et al. 2011 §III: the PQ codebooks are
    * trained on RESIDUALS `v − coarseCentroid(cell(v))`, not raw vectors
    * — residual energy is what the sub-quantizers must spend their bits
    * on, which measurably improves recall at the same code size.
    */
  private[queries] def pqModel(sample: Array[Array[Double]],
      nCells: Int, subspaces: Int, kSub: Int)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    // The PQ code byte-width and the ADC table shapes are sized by kSub;
    // a clamped sub-codebook would silently shrink them, so PQ requires
    // a sample at least kSub wide (tiny corpora use brute force or IVF).
    require(sample.length >= kSub,
      s"pqModel: sample of ${sample.length} vectors cannot train $kSub-entry codebooks")
    val coarse = trainCentroids(sample, nCells, iters = 5)
    val residuals = sample.map { v =>
      val ct = coarse(nearestCell(v, coarse))
      Array.tabulate(v.length)(j => v(j) - ct(j))
    }
    (coarse, pqBooks(residuals, subspaces, kSub))
  }

  /** The IVFADC encode EXPRESSIONS, built once and shared by the
    * corpus encoder and the query-table builder: the persisted-index
    * contract (c3_ann_pq_indexed shares c3_ann_pq's oracle) requires
    * the two sides' residual/encode arithmetic to never drift, so the
    * expressions exist in exactly one place.
    */
  private[graft] final case class PqEncExprs(coarse: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], subspaces: Int, residual: Boolean) {
    private val sub = coarse.head.length / subspaces
    // residual against a (1-based) cell id, as one fused zip_with
    private val coarseLit = array(coarse.map(c => array(c.map(lit): _*)): _*)
    def subDists(v: Column, m: Int): Column =
      graft.functions.VectorExprs.centroidDists(
        slice(v, m * sub + 1, sub), books(m))
    def enc(v: Column, cell: Column): Column =
      if (residual) zip_with(v, element_at(coarseLit, cell), (a, b) => a - b)
      else v
  }

  /** Corpus-side IVFADC encoding of `base` (vec_id, embD): nearest
    * coarse cell + per-subspace argmin codes of the cell residual
    * (1-based, matching SQL list_position). The encoded row is
    * (b_id, cell, codes) — the raw vector is dropped before anything
    * query-side happens. Shared by the in-plan query (c3_ann_pq) and the
    * persisted index builder ([[ensureAnnIndex]]), so the stored layout
    * is bit-identical to what the in-plan query computes.
    */
  private[queries] def pqEncodeCorpus(base: DataFrame, coarse: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], subspaces: Int,
      residual: Boolean): DataFrame =
    // nprobe = 1: the kernel's pos-0 element IS the assignment — the
    // (distance, cell)-ascending order's head equals
    // array_position(cdists, array_min(cdists)) including ties (first
    // minimum), and its codes are the same per-subspace first-argmins
    // the sd-column chain computed (bit-identity spec-pinned in
    // PqProbeEncExprSpec against the test-side HofTwins.pqProbeChainHof).
    base
      .select(col("vec_id").as("b_id"),
        explode(graft.functions.PqProbeEncExpr.pqProbeEnc(
          col("embD"), coarse, books, 1, residual)).as("pr"))
      .select(col("b_id"), col("pr.cell").as("cell"), col("pr.codes").as("codes"))

  /** Query-side IVFADC state: one row per (query, probed cell), carrying
    * the per-subspace distance TABLE of the query's residual AGAINST THAT
    * CELL (with residual encoding the table depends on the probe —
    * IVFADC's per-probe lookup tables). Bounded by the query set × nprobe,
    * never corpus-sized.
    */
  private def pqQueryTables(base: DataFrame, coarse: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], nprobe: Int, residual: Boolean): DataFrame = {
    // probe indices run over coarse.length — the TRAINED cell count, which
    // the kernel derives from the model itself; see [[probeCells]]
    // (null-padded zip = phantom probes).
    // One native PqProbeEnc kernel per query row (probe ranking +
    // residual + per-probe tables fused; bit-identity to the old
    // expression chain spec-pinned in PqProbeEncExprSpec).
    val nTrained = coarse.length
    base.filter(isQuery(col("vec_id"), AnnQueryMod))
      .select(col("vec_id").as("q_id"),
        explode(graft.functions.PqProbeEncExpr.pqProbeEnc(
          col("embD"), coarse, books, math.min(nprobe, nTrained), residual))
          .as("pr"))
      .select(col("q_id"), col("pr.cell").as("cell"), col("pr.tbls").as("tbls"))
  }

  /** C3g: ANN via IVF-PQ with residual encoding (IVFADC, Jégou et al.
    * 2011 — public literature, PAPERS.md): IVF cells generate candidates
    * exactly as [[c3AnnIvf]]; candidates are then ranked by the
    * ASYMMETRIC DISTANCE (ADC) — the sum over `subspaces` per-subspace
    * codebook table lookups — computed entirely from each vector's
    * compressed CODE (one small int per subspace). Both sides quantize
    * the RESIDUAL against the coarse centroid of the vector's cell
    * (queries: of each probed cell), so the codebooks only have to span
    * the within-cell displacement — the published method, and measurably
    * better recall than raw-vector PQ at the same 8-byte code
    * (spec-asserted in SimOpsSpec). The raw embeddings are never touched
    * at query time: at 100 TB the query-side state is `subspaces` bytes
    * per corpus vector plus a per-(query, probe) distance table, the
    * memory posture that lets an ANN index fit in RAM at all. Every
    * arithmetic step (residual subtraction, per-subspace squared-L2
    * tables, argmin code assignment, the left-to-right ADC fold) is
    * replayed bit-identically by the dynamic oracle with the trained
    * codebooks embedded as literals — the full IVF-PQ pipeline is
    * hash-checked, not just spot-sampled.
    *
    * @param residual false = quantize raw vectors (pre-IVFADC form); kept
    *        for the recall A/B in SimOpsSpec, not declared as a query.
    */
  def c3AnnPq(spark: SparkSession, dir: String, nCells: Int = AutoCells,
      residual: Boolean = true): DataFrame = {
    val base = embVecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (corpus, queries) = inPlanPq(base, resolveCells(spark, dir, nCells), residual)
    graft.util.CacheScope.releaseAfterMaterialize(adcTopK(corpus, queries), Seq(base))
  }

  /** The in-plan IVFADC inputs over a persisted `base` (vec_id, embD):
    * the corpus codes and the query tables of a model trained on its
    * bounded sample at `cells` cells — [[pqModel]], or raw-vector PQ when
    * not `residual`.
    */
  private def inPlanPq(base: DataFrame, cells: Int,
      residual: Boolean): (DataFrame, DataFrame) = {
    val sample = boundedSample(base, AnnMaxSample)
    val (coarse, books) =
      if (residual) pqModel(sample, cells, PqSubspaces, PqKSub)
      else (trainCentroids(sample, cells, iters = 5),
        pqBooks(sample, PqSubspaces, PqKSub))
    (pqEncodeCorpus(base, coarse, books, PqSubspaces, residual),
      pqQueryTables(base, coarse, books, AnnNprobe, residual))
  }

  /** Training-sample bound of every ANN codebook (in-plan, persisted,
    * and a split's 2-means). It is not in the layout key, so it is not a
    * parameter either: a layout trained on another sample would be
    * served under the same name.
    */
  private[graft] val AnnMaxSample = 100000

  /** One PERSISTED IVFADC index layout over `dir`'s embeddings table:
    * its namespace, build parameters and the catalog names they key.
    *
    * This is the b8 posture applied to ANN: at 100 TB the index is a
    * one-time LAYOUT, not something a query retrains — the codes table
    * holds `subspaces` small ints per corpus vector, PARTITIONED BY CELL
    * (the on-disk inverted file: each probe touches only its cell's
    * directory), and the model table holds the trained coarse centroids
    * plus per-subspace residual codebooks (cells + subspaces·kSub tiny
    * rows — constant in corpus size). Names carry BOTH the corpus
    * fingerprint and the hyperparameters ([[graft.sources.Storage.layout]]):
    * a regenerated corpus gets a fresh index, and an index trained with
    * other cells/subspaces/kSub is not this index — without the params
    * in the key, a caller asking for 32 cells would silently get 16-cell
    * codes back and rank them against 32-cell query tables. Sweeps are
    * per namespace, so the fixed and scaled layouts of one corpus
    * coexist, each with one live configuration (the b8 posture).
    */
  private[graft] final case class AnnLayout(dir: String, key: Storage.Layout,
      cells: Int, subspaces: Int, kSub: Int) {
    def codesTab: String = key.tables(0)
    def modelTab: String = key.tables(1)
    def tables: (String, String) = (codesTab, modelTab)
    /** The stored (coarse, books) — see [[loadPqModel]]. */
    def model(spark: SparkSession): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) =
      loadPqModel(spark, modelTab, subspaces)
  }

  private[graft] object AnnLayout {
    private def keyed(dir: String, prefix: String, cells: Int, subspaces: Int,
        kSub: Int): AnnLayout =
      AnnLayout(dir, Storage.layout(Seq(s"${prefix}codes_", s"${prefix}model_"),
        Seq(s"$dir/embeddings.parquet"), s"${cells}c${subspaces}s${kSub}k"),
        cells, subspaces, kSub)

    /** The FIXED-parameter layout (`graft_ann_*`) the per-query ANN
      * operators read (c3_ann_pq_indexed, the filtered pair, the cell and
      * staleness monitors). Bench warms it untimed via SparkEntry.warmups.
      */
    def fixed(spark: SparkSession, dir: String, nCells: Int = AutoCells): AnnLayout =
      keyed(dir, "graft_ann_", resolveCells(spark, dir, nCells), PqSubspaces, PqKSub)

    /** The layout of the incremental-semantic family
      * (c2_incremental_semantic, c5_stream_semantic) at the CORPUS-SCALED
      * cell count ([[scaledCells]], ≈ √n) and sub-quantizer width
      * ([[scaledKSub]]: the ADC pre-rank consumer needs 8-bit fidelity at
      * scale, and the cell assignment the unbounded twins read is
      * kSub-independent): those operators resolve a corpus FRACTION (the
      * vec_id % 10 = 7 crawl slice) against the index, so their confirm
      * cost is O((n/10) · nprobe · |cell|) — under the fixed 16-cell
      * indexed-query layout |cell| grows linearly and the decade goes
      * quadratic (measured: the sf10-sparse gate blew past the 500 s
      * watchdog at 16 cells; ≈√n cells bound |cell| ≈ √n and the decade
      * closes — BASELINE.md round 16). Lives in its OWN namespace
      * (`graft_annk_*`) so it coexists with the fixed layout.
      *
      * Maintenance posture: INCREMENTAL within a corpus generation —
      * [[appendAnnIndex]] / [[deleteFromAnnIndex]] (the production ingest
      * loop appends admitted arrivals' codes per batch, never a per-batch
      * rebuild), and a from-scratch build whenever the corpus
      * fingerprint changes. No surgical retrain is needed here: the cell
      * count itself is a function of corpus size (a power-of-two step
      * function, so appended growth within a step keeps |cell| ≈ √n),
      * and once growth crosses a step the right action is the full
      * rebuild a fresh key gets — a √n-cell codebook appended forever
      * without stepping the cell count degrades toward the fixed-cell
      * quadratic this layout exists to avoid.
      */
    def scaled(spark: SparkSession, dir: String,
        subspaces: Int = IncSemSubspaces): AnnLayout =
      keyed(dir, "graft_annk_", scaledCells(spark, dir), subspaces,
        scaledKSub(spark, dir))
  }

  /** Ensure `ann`'s tables exist ([[graft.sources.Storage.ensureLayout]]:
    * build once per key, stale layouts of the namespace swept); returns
    * `ann`. `sweepStale = false` is the side-corpus mode (MaintBench's
    * temp-dir copies, throwaway spec corpora).
    */
  private[graft] def ensureAnnIndex(spark: SparkSession, ann: AnnLayout,
      sweepStale: Boolean = true): AnnLayout = {
    Storage.ensureLayout(spark, ann.key, sweepStale) { _ =>
      writeAnnLayout(spark, annCorpus(spark, ann), ann, ann.modelTab, ann.codesTab)
    }
    ann
  }

  /** (Over)write a model table from a (coarse, books) pair — the
    * one model-landing pass shared by [[writeAnnLayout]] and
    * [[splitAnnCell]]'s stranded-slot rewrite. Overwrite of a tiny
    * table; a crash mid-write leaves the model absent, which the
    * BOTH-tables existence checks treat as no layout (rebuild).
    */
  private def writeModelTable(spark: SparkSession, modelTab: String,
      coarse: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Unit = {
    val session = spark
    import session.implicits._
    (coarse.zipWithIndex.map { case (v, i) => ("coarse", 0, i + 1, v) } ++
      books.zipWithIndex.flatMap { case (bk, m) =>
        bk.zipWithIndex.map { case (v, j) => ("book", m, j + 1, v) } })
      .toDF("kind", "m", "idx", "vec")
      .write.mode("overwrite").format("parquet").saveAsTable(modelTab)
  }

  /** Train a fresh codebook with `ann`'s parameters on `corpus`'s bounded
    * sample, encode the corpus, and land the (model, codes) tables under
    * the given names — the one layout-building pass shared by
    * [[ensureAnnIndex]] (initial build) and [[retrainAnnIndex]] (staging
    * build before the swap). Model first, codes last (they mark
    * completion).
    */
  private def writeAnnLayout(spark: SparkSession, corpus: DataFrame,
      ann: AnnLayout, modelTab: String, codesTab: String): Unit = {
    val base = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("embD"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sample = boundedSample(base, AnnMaxSample)
      val (coarse, books) = pqModel(sample, ann.cells, ann.subspaces, ann.kSub)
      writeModelTable(spark, modelTab, coarse, books)
      // Filterable attributes (label) are stored INLINE with the codes —
      // the filtered-search posture: a metadata predicate restricts
      // candidates during the index scan itself, with no id join back to
      // the corpus at query time. The join happens once, at ingest.
      pqEncodeCorpus(base, coarse, books, ann.subspaces, residual = true)
        .join(corpus.select(col("vec_id").as("b_id"), col("label")), "b_id")
        .write.mode("overwrite").format("parquet")
        .partitionBy("cell").saveAsTable(codesTab)
    } finally base.unpersist(blocking = false)
  }

  /** The vectors `ann` indexes: the corpus parquet plus `extraVectors`,
    * raw embeddings of ids ingested via [[appendAnnIndex]] that live
    * outside the parquet.
    */
  private def annCorpus(spark: SparkSession, ann: AnnLayout,
      extraVectors: Option[DataFrame] = None): DataFrame = {
    val live = emb(spark, ann.dir).select("vec_id", "embedding", "label")
    extraVectors match {
      case Some(x) => live.unionByName(x.select("vec_id", "embedding", "label"))
      case None => live
    }
  }

  /** RETRAIN the persisted IVFADC index — the EXECUTION half of the
    * retrain decision [[c3AnnStaleness]] monitors (the monitor says
    * WHEN; this performs it): train a fresh codebook on the bounded
    * sample of the CURRENT corpus (the parquet table, plus
    * `extraVectors` for growth the index ingested via
    * [[appendAnnIndex]] whose raw embeddings live outside the parquet),
    * re-encode the whole corpus through the same shared encode
    * expressions, land the result as a STAGING layout, then swap:
    * drop the live tables and rename staging into place — queries
    * resolve the same catalog names before and after, so the query
    * path is untouched by a retrain (spec-pinned: c3_ann_pq_indexed is
    * result-identical under a same-corpus swap, and a grown-corpus
    * retrain equals a from-scratch [[ensureAnnIndex]] on the grown
    * corpus).
    *
    * Crash ordering: leftover staging tables from a crashed retrain are
    * dropped up front (and also swept as stale by the next corpus's
    * ensure); a crash after the live drop but before a rename leaves no
    * live layout, which the next ensureAnnIndex detects and rebuilds —
    * never a half-swapped layout serving one table from each
    * generation, because the model is renamed before the codes and
    * existence checks require BOTH.
    *
    * Scale posture: identical to the initial build — sample-bounded
    * training, one encode pass over the corpus, cell-partitioned
    * write; the swap is two catalog renames. Retrain cadence at 100 TB
    * is the rare, monitor-driven event; this is its cost shape.
    *
    * Cell count under [[AutoCells]]: `ann`'s PARQUET-resolved count —
    * the same key the query path's ensure resolves, so the swap stays
    * invisible to it. An in-place retrain therefore covers drift and
    * growth WITHIN a √n scale step; growth that crosses a step arrives
    * as a corpus regeneration (the parquet fingerprint changes, every
    * layout re-keys, and the fresh ensure trains at the new scale) —
    * retraining a bigger index under the old key would make the name's
    * parameters lie about the layout.
    */
  private[graft] def retrainAnnIndex(spark: SparkSession, ann: AnnLayout,
      extraVectors: Option[DataFrame] = None): AnnLayout = {
    val (codesTab, modelTab) = ann.tables
    val (stCodes, stModel) = (s"${codesTab}_rt", s"${modelTab}_rt")
    spark.sql(s"DROP TABLE IF EXISTS $stCodes")
    spark.sql(s"DROP TABLE IF EXISTS $stModel")
    writeAnnLayout(spark, annCorpus(spark, ann, extraVectors), ann, stModel, stCodes)
    spark.sql(s"DROP TABLE IF EXISTS $modelTab")
    spark.sql(s"DROP TABLE IF EXISTS $codesTab")
    spark.sql(s"ALTER TABLE $stModel RENAME TO $modelTab")
    spark.sql(s"ALTER TABLE $stCodes RENAME TO $codesTab")
    // The rename moves the managed table's directory but the catalog's
    // PER-PARTITION locations still point at the staging path — recover
    // them from the filesystem or every cell scan comes back empty.
    spark.sql(s"MSCK REPAIR TABLE $codesTab")
    spark.catalog.refreshTable(modelTab)
    spark.catalog.refreshTable(codesTab)
    ann
  }

  /** Load the trained coarse centroids + residual codebooks back from a
    * persisted model table (nCells + subspaces·kSub tiny rows — the
    * bounded driver-side collect of the index design). Shared by the
    * indexed query path and [[appendAnnIndex]].
    */
  private[graft] def loadPqModel(spark: SparkSession, modelTab: String,
      subspaces: Int): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val model = spark.table(modelTab).collect()
    def vecsOf(kind: String, m: Int): Seq[Seq[Double]] =
      model.filter(r => r.getString(0) == kind && r.getInt(1) == m)
        .sortBy(_.getInt(2)).map(_.getSeq[Double](3).toSeq).toSeq
    (vecsOf("coarse", 0), (0 until subspaces).map(m => vecsOf("book", m)))
  }

  /** The SCALED index's model as primitive arrays — the live streaming
    * gate's state function recomputes per-posting ADC terms from these
    * constants instead of shipping per-row lookup tables through the
    * stateful shuffle (kSub·subspaces doubles per (arrival × probe) row;
    * see [[graft.streaming.EventStream.semanticLivePairs]]). Driver-side
    * bounded collect, closure-captured by the state function.
    */
  private[graft] def scaledPqModelArrays(spark: SparkSession, dir: String,
      subspaces: Int = IncSemSubspaces)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (coarse, books) =
      ensureAnnIndex(spark, AnnLayout.scaled(spark, dir, subspaces)).model(spark)
    (coarse.map(_.toArray).toArray, books.map(_.map(_.toArray).toArray).toArray)
  }

  /** Append NEW vectors to the persisted IVFADC index — the maintenance
    * path a growing corpus needs: at 100 TB the index is ingested
    * incrementally (encode the day's new vectors with the STORED model,
    * append their (cell, codes) rows to the inverted file), not
    * retrained per batch — retraining cadence is a separate, rarer
    * decision, exactly as in the published IVFADC deployments. The
    * encode goes through the same [[pqEncodeCorpus]] / [[PqEncExprs]]
    * expressions as the original build, so appended codes are
    * bit-identical to what a from-scratch encode with this model would
    * produce (spec-pinned in SimOpsSpec). Duplicate ids are rejected
    * loudly — an id already in the index would silently rank twice.
    * Filterable metadata (label) is stored inline, as in the build.
    * On the scaled layout this is the production ingest loop's
    * maintenance path: admitted-novel arrivals are appended so the NEXT
    * batch resolves against them without a per-batch rebuild.
    * Returns the number of appended rows.
    */
  private[graft] def appendAnnIndex(spark: SparkSession, ann: AnnLayout,
      newVectors: DataFrame): Long = {
    val codesTab = ensureAnnIndex(spark, ann).codesTab
    val (coarse, books) = ann.model(spark)
    val base = newVectors
      .select(col("vec_id"), asDouble(col("embedding")).as("embD"))
    val dup = spark.table(codesTab).select(col("b_id"))
      .join(base.select(col("vec_id").as("b_id")), Seq("b_id"), "left_semi")
      .limit(1).count()
    require(dup == 0L,
      s"appendAnnIndex: new vectors contain ids already present in $codesTab — " +
        "an appended duplicate would rank twice; dedup upstream")
    require(newVectors.columns.contains("label"),
      "appendAnnIndex: new vectors must carry the label attribute — the " +
        "codes table stores filterable metadata inline")
    val enc = pqEncodeCorpus(base, coarse, books, ann.subspaces, residual = true)
      .join(newVectors.select(col("vec_id").as("b_id"), col("label")), "b_id")
    val n = enc.count()
    // insertInto is positional — align to the table's physical column
    // order (partition column lands last in a saveAsTable layout)
    enc.select(spark.table(codesTab).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(codesTab)
    n
  }

  /** Remove vectors from the persisted IVFADC index — the other half of
    * the maintenance lifecycle a growing corpus needs (GDPR erasure,
    * retention expiry, recalled documents): without a remove path the
    * layout drifts from the corpus it serves and deleted vectors keep
    * ranking in every search. Physical deletion, not a tombstone: the
    * inverted file is cell-partitioned, so only the cell partitions
    * that actually CONTAIN a deleted id are rewritten (dynamic
    * partition overwrite — O(affected cells · cell size), never a full
    * index rewrite; a cell emptied entirely is dropped via its
    * partition). A tombstone side-table would leave query cost and a
    * join on every search; rewriting a few bounded cells at delete time
    * is the cheaper end of that trade at any scale. The model table is
    * untouched — codebooks are trained on a sample and retrain cadence
    * is a separate decision (same stance as [[appendAnnIndex]]).
    * Ids not present in the index are ignored (idempotent). Returns the
    * number of removed rows.
    */
  private[graft] def deleteFromAnnIndex(spark: SparkSession, ann: AnnLayout,
      ids: Seq[Long]): Long = {
    val codesTab = ensureAnnIndex(spark, ann).codesTab
    val session = spark
    import session.implicits._
    val idsDf = ids.toDF("b_id")
    // Affected cells: bounded by |ids| — the only corpus-sized input is
    // the (cell-pruned on write) codes scan.
    val affected = spark.table(codesTab).join(broadcast(idsDf), Seq("b_id"), "left_semi")
      .groupBy(col("cell").cast("int").as("cell")).agg(count(lit(1)).as("n_del"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (affected.isEmpty) return 0L
    rewriteCells(spark, codesTab, affected.keys.toSeq, broadcast(idsDf))
    affected.values.sum
  }

  /** Rewrite the `cells` partitions of `codesTab` with their rows MINUS
    * `removeIds` (one column, `b_id`) — the physical-delete machinery of
    * [[deleteFromAnnIndex]] and the stay-half landing of
    * [[splitAnnCell]]'s step (3) and pending-split completion.
    * Deterministic and idempotent (a re-run recomputes the same rows).
    * Spark refuses to overwrite a table it is reading in the same plan,
    * so the surviving rows of the cells stage through a temp dir (two
    * passes over ONLY those cells), then land via dynamic partition
    * overwrite.
    */
  private def rewriteCells(spark: SparkSession, codesTab: String,
      cells: Seq[Int], removeIds: DataFrame): Unit = {
    val codes = spark.table(codesTab)
    val survivors = codes
      .filter(col("cell").cast("int").isin(cells: _*))
      .join(removeIds, Seq("b_id"), "left_anti")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    try {
      survivors.write.mode("overwrite").parquet(tmp)
      val back = spark.read.parquet(tmp)
      // one distinct pass over the staged cells, not one job per cell
      val stillPresent = back.select(col("cell").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
      graft.util.SessionConf.withDynamicOverwrite(spark) {
        // Dynamic overwrite only touches partitions present in the data,
        // so a fully-emptied cell must be dropped explicitly — and it is
        // dropped BEFORE the overwrite: a crash between the two steps
        // then leaves some cells still holding their pre-delete rows
        // (the delete simply has not happened there yet and a retry
        // re-applies it), never the half-applied state where the
        // overwrite landed but an emptied cell still serves its deleted
        // vectors as ghost rankings.
        cells.filterNot(stillPresent).foreach(c => spark.sql(
          s"ALTER TABLE $codesTab DROP IF EXISTS PARTITION (cell=$c)"))
        if (stillPresent.nonEmpty)
          back.select(codes.columns.map(col).toIndexedSeq: _*)
            .write.mode("overwrite").insertInto(codesTab)
      }
      spark.catalog.refreshTable(codesTab)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** C3p: ANN CELL-BALANCE monitor — the scan-cost counterpart of the
    * recall-watching [[c3AnnStaleness]]: [[appendAnnIndex]] grows cells
    * unevenly (appended drift crams into whichever stored cells sit
    * nearest the new mode), and per-query scan cost is driven by the
    * SIZE of the probed cells, so cell skew is the degradation that
    * bites before recall does. Reads the PERSISTED codes table only
    * (per-cell row counts — a cell-pruned O(index) aggregate, never an
    * embedding scan): per cell, its size, share, and skew vs the
    * uniform n/nCells target, flagged oversized past 2× (integer
    * cross-multiplied compare — no float threshold); globally, the max
    * skew and the rebalance verdict (any oversized cell). The ACTION
    * the verdict triggers is [[splitAnnCell]] (surgical, touched-cell
    * cost) or, when staleness also fired, the full [[retrainAnnIndex]].
    * Cells emptied by deletes hold no partition and emit no row —
    * their skew is 0 by construction and scan cost is what's monitored.
    * The final window runs over ≤ nCells rows — bounded, like the
    * c7_mix_sources quota window.
    */
  def c3AnnCells(spark: SparkSession, dir: String): DataFrame = {
    val ann = ensureAnnIndex(spark, AnnLayout.fixed(spark, dir))
    // the uniform target is vs the TRAINED cell count (a tiny corpus
    // trains fewer cells than requested; a split appends one)
    val nTrained = ann.model(spark)._1.length
    val per = spark.table(ann.codesTab)
      .select(col("b_id"), col("cell").cast("int").as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), min(col("b_id")).as("min_vec_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("n_total", sum(col("n_vecs")).over(w))
      .withColumn("share", round(
        col("n_vecs").cast("double") / col("n_total").cast("double"), 6))
      .withColumn("skew", round(col("n_vecs").cast("double") *
        lit(nTrained.toDouble) / col("n_total").cast("double"), 6))
      .withColumn("oversized",
        col("n_vecs") * lit(nTrained.toLong) > col("n_total") * lit(2L))
      .withColumn("max_skew", max(col("skew")).over(w))
      .withColumn("n_oversized",
        sum(when(col("oversized"), 1L).otherwise(0L)).over(w))
      .withColumn("rebalance", col("n_oversized") > 0L)
      .select(col("cell"), col("n_vecs"), col("min_vec_id"), col("share"),
        col("skew"), col("oversized"), col("max_skew"), col("n_oversized"),
        col("rebalance"))
      .orderBy("cell")
  }

  /** SPLIT one oversized coarse cell of the persisted IVFADC index —
    * the surgical rebalance action the [[c3AnnCells]] verdict triggers
    * when recall is still healthy (staleness + skew together ⇒
    * [[retrainAnnIndex]] instead; retrain subsumes any split but
    * re-encodes the WHOLE corpus, while a split touches one cell).
    *
    * Mechanism (chosen so NO stored code ever decodes against a changed
    * centroid): the old centroid stays in place; a NEW centroid — the
    * farther child of a deterministic 2-means over the cell's members —
    * is APPENDED to the codebook as cell nCells+1, and exactly the
    * members STRICTLY closer to it than to their current centroid are
    * re-encoded against it and moved. The stay-half's rows are
    * byte-identical before and after (spec-pinned); the query path
    * needs no change because probe count derives from the model table's
    * row count. Assignment drift is the standard IVF-split contract:
    * members are re-routed within the split cell only — vectors of
    * OTHER cells keep their routing even if the new centroid is now
    * nearer (routing is an index property; the recall monitors measure
    * its cost).
    *
    * Write ordering (no wrong-decode window at any point): (1) model
    * append — probing the new, still EMPTY cell is a no-op; (2) moved
    * members' codes append into the new cell's fresh partition — until
    * (3) runs, a moved member ranks from both cells (duplicate
    * candidacy, never a wrong distance: both encodings decode against
    * their own cell's centroid); (3) the split cell's partition is
    * overwritten with its stay-half ([[rewriteCells]], the
    * [[deleteFromAnnIndex]] machinery).
    *
    * Crash recovery — RE-INVOKING splitAnnCell repairs every window
    * (a retry is the recovery procedure; there is no separate entry
    * point to remember):
    *  - crash between (1) and (2): the appended centroid exists with an
    *    empty cell and nothing moved. ANY later invocation detects the
    *    trailing empty-cell slot up front and REUSES it: a retry of the
    *    same cell re-derives the identical centroid (deterministic
    *    2-means over the unchanged member set — the slot rewrite is a
    *    no-op), and a split of a DIFFERENT cell re-aims the dead slot
    *    at its own child instead of stranding an empty centroid that
    *    would occupy a probe slot in every nprobe ranking forever;
    *  - crash between (2) and (3) (or mid-(3), before the partition
    *    overwrite commits): the moved rows exist in BOTH the trailing
    *    cell and their source cell. Detected up front (trailing-cell
    *    ids semi-joined against the other cells — a cell-pruned index
    *    read) and COMPLETED: the source cell's partition is overwritten
    *    with its deterministic stay-half. If the completed split is the
    *    one being requested, the call returns its moved count without
    *    appending anything — never a second centroid for one logical
    *    split (the half-applied-state defect the round-16 review
    *    flagged); a different requested cell proceeds as a fresh split
    *    after the repair.
    * Step (2)'s own append is atomic per the parquet commit protocol (a
    * failed job leaves no visible rows). `crashAfterStep` is the
    * test-only fault-injection seam the recovery spec uses.
    *
    * `extraVectors` re-attaches raw embeddings for ids the index
    * ingested via [[appendAnnIndex]] that live outside the corpus
    * parquet (the [[retrainAnnIndex]] contract). Returns the number of
    * members moved to the new cell.
    */
  private[graft] def splitAnnCell(spark: SparkSession, ann: AnnLayout,
      cell: Int, extraVectors: Option[DataFrame] = None,
      crashAfterStep: Int = 0): Long = {
    val (codesTab, modelTab) = ensureAnnIndex(spark, ann).tables
    val (coarse, books) = ann.model(spark)
    require(cell >= 1 && cell <= coarse.length,
      s"splitAnnCell: cell $cell outside the codebook (1..${coarse.length})")
    // ---- pending-split detection & completion (crash windows (2)-(3)):
    // ids present in the trailing cell AND in another cell are a
    // half-applied split's moved set whose step (3) never committed.
    val topCell = coarse.length
    val pendingBySrc = {
      val codes0 = spark.table(codesTab)
        .select(col("b_id"), col("cell").cast("int").as("cell"))
      codes0.filter(col("cell") =!= topCell)
        .join(codes0.filter(col("cell") === topCell).select("b_id"),
          Seq("b_id"), "left_semi")
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    if (pendingBySrc.nonEmpty) {
      val topIds = spark.table(codesTab)
        .filter(col("cell").cast("int") === topCell).select(col("b_id"))
      rewriteCells(spark, codesTab, pendingBySrc.keys.toSeq, topIds)
      // the pending split WAS this request: its move already landed
      pendingBySrc.get(cell) match {
        case Some(n) => return n
        case None => ()
      }
    }
    // Entry-time stranded-slot detection (crash window (1)-(2), possibly
    // from a split of a DIFFERENT cell): a trailing centroid whose cell
    // holds no codes. Cell-pruned single-partition probe.
    val trailingEmpty = spark.table(codesTab)
      .filter(col("cell").cast("int") === topCell).limit(1).isEmpty
    val memberIds = spark.table(codesTab)
      .filter(col("cell").cast("int") === cell)
      .select(col("b_id").as("vec_id"))
    val members = annCorpus(spark, ann, extraVectors)
      .join(memberIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), asDouble(col("embedding")).as("embD"), col("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nMembers = members.count()
      require(nMembers >= 2L,
        s"splitAnnCell: cell $cell has $nMembers members — nothing to split")
      val children = coarseCodebook(members.select("vec_id", "embD"), 2)
      def d2(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      require(children.length == 2 && d2(children(0), children(1)) > 0.0,
        s"splitAnnCell: 2-means over cell $cell collapsed " +
          "(all members identical) — a split cannot rebalance it")
      val old = coarse(cell - 1)
      // the FARTHER child becomes the new cell (deterministic)
      val newC = if (d2(children(0), old) > d2(children(1), old))
        children(0) else children(1)
      // members strictly closer to the new centroid move — decided (and
      // counted) BEFORE any write, so a split that cannot move anything
      // fails loudly without touching the layout
      val newLit = graft.functions.VectorExprs.centroidDists(
        col("embD"), Seq(newC, old))
      val moved = members
        .withColumn("dd", newLit)
        .filter(element_at(col("dd"), 1) < element_at(col("dd"), 2))
        .select(col("vec_id"), col("embD"), col("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val movedN = moved.count()
      require(movedN > 0L && movedN < nMembers,
        s"splitAnnCell: split of cell $cell would move $movedN/$nMembers " +
          "members — a no-op or whole-cell move cannot rebalance it")
      val session = spark
      import session.implicits._
      // Stranded trailing slot (a crash in window (1)-(2), WHATEVER the
      // later requested cell): the trailing codebook entry's cell is
      // empty. Reuse its slot for THIS split — a same-cell retry
      // re-derives the identical centroid (the rewrite is a no-op), and
      // a different requested cell re-aims the dead slot instead of
      // stranding it forever as a recall-degrading empty probe target.
      // Re-aiming is decode-safe: no stored code references an empty
      // cell, so no member ever decodes against the replaced centroid.
      val newCell = if (trailingEmpty) topCell else coarse.length + 1
      // (1) model land — the new centroid's cell is empty until (2)
      if (trailingEmpty)
        writeModelTable(spark, modelTab,
          coarse.updated(topCell - 1, newC), books)
      else
        Seq(("coarse", 0, newCell, newC))
          .toDF("kind", "m", "idx", "vec")
          .select(spark.table(modelTab).columns.map(col).toIndexedSeq: _*)
          .write.mode("append").insertInto(modelTab)
      if (crashAfterStep == 1)
        throw new IllegalStateException("splitAnnCell: injected crash after step (1)")
      // (2) re-encode the moved members against the new centroid and
      // append into the fresh partition. pqEncodeCorpus assigns argmin
      // over the codebook it is given — a single centroid pins the
      // assignment to the new cell, and residuals are against it.
      val enc = pqEncodeCorpus(moved.select("vec_id", "embD"),
          Seq(newC), books, ann.subspaces, residual = true)
        .withColumn("cell", lit(newCell))
        .join(moved.select(col("vec_id").as("b_id"), col("label")), "b_id")
      enc.select(spark.table(codesTab).columns.map(col).toIndexedSeq: _*)
        .write.mode("append").insertInto(codesTab)
      if (crashAfterStep == 2)
        throw new IllegalStateException("splitAnnCell: injected crash after step (2)")
      // (3) overwrite the split cell's partition with its stay-half
      rewriteCells(spark, codesTab, Seq(cell), moved.select(col("vec_id").as("b_id")))
      spark.catalog.refreshTable(modelTab)
      moved.unpersist(blocking = false)
      movedN
    } finally members.unpersist(blocking = false)
  }

  /** C3h: [[c3AnnPq]] answered from the PERSISTED index — the query path
    * reads the (cell, codes) table and the model table with ZERO train or
    * encode stages over the corpus (pinned in PlanAuditSpec): the only
    * corpus-sized input is the codes scan, and the only embeddings scan
    * is the query subset (its `vec_id % AnnQueryMod` filter reaches the
    * parquet reader). Results are identical to c3_ann_pq by construction
    * — training is deterministic and the stored codes come from the same
    * encode expressions — so it shares c3_ann_pq's dynamic oracle SQL.
    * The model read collects nCells + subspaces·kSub tiny rows (constant
    * in corpus size), the same driver-side bound as training's sample.
    */
  def c3AnnPqIndexed(spark: SparkSession, dir: String,
      nCells: Int = AutoCells): DataFrame = {
    val (codes, tables) = indexedPq(spark, dir, nCells)
    adcTopK(codes, tables(AnnNprobe))
  }

  /** The inputs of the indexed PQ keys, read from the fixed persisted
    * layout at `nCells` (built on first use): its codes table as
    * `(b_id, cell, codes, <cols>)`, and the query tables
    * ([[pqQueryTables]]) of its stored model at a given probe width.
    */
  private def indexedPq(spark: SparkSession, dir: String, nCells: Int,
      cols: String*): (DataFrame, Int => DataFrame) = {
    val ann = ensureAnnIndex(spark, AnnLayout.fixed(spark, dir, nCells))
    val (coarse, books) = ann.model(spark)
    (spark.table(ann.codesTab).select(Seq(col("b_id"),
      col("cell").cast("int").as("cell"), col("codes")) ++ cols.map(col): _*),
      nprobe => pqQueryTables(embVecs(spark, dir), coarse, books, nprobe, residual = true))
  }

  /** C3h': FILTERED ANN over the persisted index — top-k restricted to
    * corpus vectors whose `label` equals the query's label (same-category
    * search, the canonical metadata-filtered vector query). This is
    * PRE-filtering: the label is stored inline in the codes table (see
    * [[ensureAnnIndex]]) and joins into the candidate generation itself,
    * so non-matching vectors never reach the ADC scoring — unlike
    * post-filtering, which rank-truncates to k BEFORE applying the
    * predicate and can return < k or even zero matching rows. Ranks are
    * therefore within-label dense 1..k. Same zero-train/zero-encode
    * query path as c3_ann_pq_indexed; the only additions are the label
    * columns on both join sides.
    */
  def c3AnnPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val (codes, tables) = indexedPq(spark, dir, AutoCells, "label")
    adcTopK(codes, tables(AnnNprobe).join(queryLabels(spark, dir), "q_id"),
      matchCols = Seq("cell", "label"))
  }

  /** Each vector's `label` keyed as a query, `(q_id, label)`. */
  private def queryLabels(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(col("vec_id").as("q_id"), col("label"))

  /** C3h'': ADAPTIVE filtered search — [[c3AnnPqFiltered]] with the
    * starvation fallback production filtered-ANN serving uses: queries
    * whose nprobe cells hold FEWER than k candidates of their label
    * (the pre-filtered-IVF failure mode `c3_ann_filtered_recall`
    * measures) escalate to probing EVERY cell — a label-restricted scan
    * of the codes table for exactly the starved query subset, still
    * codes-only (never raw vectors). Non-starved queries return the
    * plain filtered results unchanged; starved queries are guaranteed
    * min(k, |label|−1) results.
    *
    * Scale posture: the starvation test is one aggregate over the probe
    * pass's own candidate join; the escalation builds lookup tables for
    * |starved|·nCells (query-bounded) probes and joins them against the
    * label-matched codes — the full-scan cost is paid ONLY by queries
    * the probe pass failed, the adaptive contract. Dynamic oracle
    * replays detection, escalation and the merged ADC ranking.
    */
  def c3AnnPqFilteredAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, tables) = indexedPq(spark, dir, AutoCells, "label")
    val qLab = queryLabels(spark, dir)
    val q1 = tables(AnnNprobe).join(qLab, "q_id")
    // labeled candidates the probed cells actually hold, per query
    val n1 = corpus
      .join(broadcast(q1.select(col("q_id"), col("cell"), col("label"))),
        Seq("cell", "label"))
      .filter(col("q_id") =!= col("b_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n1"))
    val starved = q1.select("q_id").distinct()
      .join(n1, Seq("q_id"), "left")
      .filter(coalesce(col("n1"), lit(0L)) < TopK)
      .select("q_id")
    // escalated probe set: starved queries get lookup tables for EVERY
    // cell (a probe width past the trained cell count is cut to it), so
    // the candidate join below reaches the whole label slice of the codes
    // table for them
    val q2 = tables(Int.MaxValue)
      .join(broadcast(starved), "q_id")
      .join(qLab, "q_id")
    val merged = q1.join(broadcast(starved), Seq("q_id"), "left_anti")
      .unionByName(q2)
    adcTopK(corpus, merged, matchCols = Seq("cell", "label"))
  }

  /** C3i: k-NN GRAPH construction — every vector's top-m neighbors by
    * exact cosine, candidates blocked by the trained IVF cell (the same
    * deterministic codebook as the whole C3/SemDeDup family). This is
    * the neighbor-graph primitive semantic-dedup, cluster-smoothing and
    * label-propagation pipelines build on: unlike the query-subset ANN
    * operators, EVERY corpus vector is a query here, so all-pairs
    * scoring is off the table — within-cell blocking bounds candidate
    * generation at O(Σ|cell|²), the published SemDeDup cost, with cells
    * kept bounded at scale by growing k ≈ √n. The per-vector rank
    * window partitions on the vector id over its ≤|cell| candidates —
    * never a corpus-sized partition. Approximation is the blocking
    * itself (cross-cell neighbors are unseen — the standard trade);
    * the scoring is exact cosine, 6dp-rounded before the rank so the
    * (cosine desc, b_id asc) order is portable, and the oracle replays
    * assignment, blocking, scoring and rank bit-for-bit.
    */
  def c3KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val assigned = scaledCellCorpus(spark, dir)
    graft.util.CacheScope.releaseAfterMaterialize(
      topK(cellPairs(assigned, col("a_id") =!= col("b_id")), KnnJoinM, key = "a_id")
        .select(col("a_id"), col("rank"), col("b_id"), col("cosine"))
        .orderBy("a_id", "rank"),
      Seq(assigned))
  }

  /** The corpus (vec_id, embD, cell) assigned to the corpus-scaled
    * codebook ([[scaledCells]]) — the blocking of the every-vector-is-a-
    * query operators (c3_knn_join, the c2_semantic_dedup pair).
    * Persisted, since both sides of [[cellPairs]] scan it; the caller
    * releases it.
    */
  private[queries] def scaledCellCorpus(spark: SparkSession, dir: String): DataFrame = {
    val cents = ivfCentroids(spark, dir, nCells = scaledCells(spark, dir))
    embVecs(spark, dir)
      .withColumn("dists",
        graft.functions.VectorExprs.centroidDists(col("embD"), cents))
      .withColumn("cell", assignCell(col("dists")))
      .select(col("vec_id"), col("embD"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** C3e: driver-checked ANN quality — recall@k of the sign-LSH ANN
    * against the exact brute-force top-k, per query, with an in-plan
    * bound claim (the b2_agg_approx pattern): `recall_ok` = recall ≥
    * 0.6, DuckDB supplies literal TRUE — if multi-probe LSH quality
    * ever drifts below the bound the hash mismatches and the driver
    * flags it. 0.6 is the tight portable bound: measured per-query
    * minima are 0.6 / 0.8 / 0.6 at sf0.001 / 0.01 / 0.1 (means 0.72 /
    * 0.96 / 0.91; SimOpsSpec asserts the mean separately).
    * Scale posture: both inputs are the ANN and brute-force plans
    * themselves; the recall join moves (q_id, b_id) id pairs only.
    */
  def c3AnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallHits(
      c3AnnLsh(spark, dir).select(col("q_id"), col("b_id")),
      c3CosineTopK(spark, dir).select(col("q_id"), col("b_id")))
      .withColumn(RecallAt, recall(col("n_hits")))
      .withColumn("recall_ok", col(RecallAt) >= 0.6)
      .orderBy("q_id")

  /** C3f: the IVF twin of [[c3AnnRecall]]. IVF at nprobe/nCells = 1/4
    * scans ~25% of the corpus, so per-query recall legitimately bottoms
    * out low (measured minima 0.2 at sf0.01) — the meaningful portable
    * claim is about the QUERY-SET mean: `mean_recall_ok` = mean ≥ 0.3
    * (measured 0.48 at sf0.01; SimOpsSpec asserts ≥ 0.4 at sf0.001).
    * The mean is one integer sum over the per-query frame — a global
    * window, but over one row per query (bounded by the caller's query
    * set, never the corpus), computed as sum(n_hits)/(k·n_queries) so
    * no float fold order enters the hash.
    */
  def c3AnnIvfRecall(spark: SparkSession, dir: String): DataFrame =
    meanRecallTail(recallHits(
      c3AnnIvf(spark, dir).select(col("q_id"), col("b_id")),
      c3CosineTopK(spark, dir).select(col("q_id"), col("b_id"))), 0.3)

  /** C3i: QUANTIZATION-loss recall of the IVFADC code ranking — the ADC
    * top-k scored against the exact squared-L2 ranking OVER THE SAME IVF
    * CANDIDATE SET. This isolates what the 8-byte codes cost: candidate
    * truncation is the coarse quantizer's loss and is already measured
    * by c3_ann_ivf_recall; conflating the two (ADC vs a global brute
    * force) would bury the code-quality signal under the shared
    * nprobe/nCells ceiling. The exact distance is dot(q,q) + dot(b,b) −
    * 2·dot(q,b) — three sequential-fold dot products, the formula the
    * oracle replays with list_dot_product — rounded to 6dp BEFORE the
    * rank window (both engines). Completes the recall matrix: LSH
    * (c3_ann_recall), coarse IVF (c3_ann_ivf_recall), and the
    * compressed-code path here — the number that decides whether an
    * index that fits in RAM at 100 TB is actually usable. Portable
    * claim: query-set mean (integer-sum construction, no float fold
    * order) ≥ 0.1 — measured means 0.16 / 0.32 / 0.27 at sf0.001 /
    * 0.01 / 0.1. The absolute level is the corpus, not the code: these
    * synthetic embeddings are i.i.d.-random 64-d vectors, the
    * known-adversarial case for product quantization (pairwise
    * distances concentrate, so 8-byte codes can barely order them —
    * the same distortion SimOpsSpec measures directly); the value of
    * the query is that the quality number is ORACLE-HASHED, so any
    * encode/codebook regression moves a driver-checked result, not
    * just a spec.
    */
  def c3AnnPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val base = embVecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (corpusCodes, queries) = inPlanPq(base, scaledCells(spark, dir), residual = true)
    val annAdc = adcTopK(corpusCodes, queries).select(col("q_id"), col("b_id"))
    // the SAME candidates the ADC ranked, re-scored with the exact L2:
    // cells come from the persisted-code assignment, probes from the
    // query tables — identical join keys, vectors re-attached by id
    // (query side broadcast: bounded by MaxQueries; corpus side shuffled)
    val cand = corpusCodes.select(col("b_id"), col("cell"))
      .join(broadcast(queries.select(col("q_id"), col("cell")).distinct()), Seq("cell"))
      .filter(col("q_id") =!= col("b_id"))
      .select("q_id", "b_id").distinct()
    val exactTopK = topK(rescore(cand, base, isQuery(col("vec_id"), AnnQueryMod),
      l2sqScore), TopK, col("l2sq")).select(col("q_id"), col("b_id"))
    graft.util.CacheScope.releaseAfterMaterialize(
      meanRecallTail(recallHits(annAdc, exactTopK), 0.1), Seq(base))
  }

  /** C3r: FILTERED-search recall monitor — recall of the pre-filtered
    * IVFADC search ([[c3AnnPqFiltered]]) against the exact
    * LABEL-RESTRICTED top-k over the WHOLE corpus. This measures the
    * known failure mode of pre-filtered IVF that the unfiltered recall
    * matrix (LSH / coarse IVF / ADC) cannot see: under label
    * selectivity the nprobe cells may simply not HOLD k candidates of
    * the query's label, so filtered recall can starve even when
    * unfiltered recall is healthy. Per query: `n_exact` (size of the
    * exact label-restricted top-k, < k when the label itself has fewer
    * members), `n_ann` (how many labeled candidates the probed cells
    * actually yielded — the starvation diagnostic), `n_hits`, and
    * recall with the HONEST denominator n_exact (a tiny label must not
    * read as a recall failure). The query-set mean rides in-plan via
    * integer sums (the c3_ann_ivf_recall construction — no float fold
    * order), and the dynamic oracle replays search, exact ranking and
    * the recall join bit-for-bit.
    *
    * Scale posture: the ANN side is the indexed filtered plan itself;
    * the exact side blocks on the label (query side broadcast — bounded
    * by MaxQueries — against a narrow corpus projection), so the monitor
    * costs O(|queries| · label frequency), never all-pairs.
    */
  def c3AnnFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val ann = c3AnnPqFiltered(spark, dir).select(col("q_id"), col("b_id"))
    val (corpus, queries) =
      exactSides(spark, dir, AnnQueryMod, (col("label"), col("label")))
    val exactTopK = topK(exact(corpus, queries, l2sqScore, "label"), TopK, col("l2sq"))
      .select(col("q_id"), col("b_id"))
    val nExact = exactTopK.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"))
    val nAnn = ann.groupBy(col("q_id")).agg(count(lit(1)).as("n_ann"))
    val hits = exactTopK.join(ann, Seq("q_id", "b_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    nExact
      .join(nAnn, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .withColumn("n_ann", coalesce(col("n_ann"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_at_k", round(
        col("n_hits").cast("double") / col("n_exact").cast("double"), 6))
      .withColumn("mean_recall", round(
        sum(col("n_hits")).over(querySet).cast("double") /
          sum(col("n_exact")).over(querySet).cast("double"), 6))
      .orderBy("q_id")
  }

  /** C3c: pairwise similarity stats per label — exercises the embedding
    * column through a fully SQL-expressible aggregate (mean vector norm
    * per label), oracle-checked.
    */
  def c3NormStats(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), round(normD(asDouble(col("embedding"))), 6).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("norm")), 4).as("sum_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy("label")

  /** C3g: k-means cluster profiling — the corpus-structure diagnostic a
    * curation pipeline reads before clustering-based sampling or SemDeDup
    * cell sizing: per trained cell, the member count, smallest member id,
    * and total/mean squared-L2 distortion to the centroid. Training
    * reuses the IVF path (deterministic bounded sample + Lloyd
    * iterations); assignment is one narrow fused argmin per row — no
    * shuffle before the per-cell partial aggregate. Distortions are
    * rounded to 6dp and summed as DECIMAL(20,6) — exact in any order
    * (the [[Exact]] money discipline applied to distances), so the
    * cross-engine hash can never drift with partial-agg visit order.
    */
  def c3ClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val base = embVecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = coarseCodebook(base, scaledCells(spark, dir))
    val assigned = base
      .withColumn("dists",
        graft.functions.VectorExprs.centroidDists(col("embD"), centroids))
      .select(col("vec_id"), assignCell(col("dists")).as("cell"),
        round(array_min(col("dists")), 6).cast("decimal(20,6)").as("d2"))
    graft.util.CacheScope.releaseAfterMaterialize(
      assigned.groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"),
          sum(col("d2")).as("sumdec"))
        .select(col("cell"), col("n_vecs"), col("min_vec_id"),
          round(col("sumdec").cast("double"), 6).as("sum_d2"),
          round(col("sumdec").cast("double") / col("n_vecs"), 6).as("mean_d2"))
        .orderBy("cell"),
      Seq(base))
  }

  /** Deterministically retrain the IVF codebook the way c3AnnIvf does —
    * same bounded sample, same Lloyd iterations — so the dynamic oracle
    * (generated at verify time, with the trained centroids embedded as
    * literals) replays assignment, probing, rescoring and top-k against
    * the exact codebook the Spark plan used. Training itself is covered
    * by SimOpsSpec (determinism + sample bound), not the oracle.
    */
  private[queries] def ivfCentroids(spark: SparkSession, dir: String,
      nCells: Int = AutoCells): Seq[Seq[Double]] =
    coarseCodebook(embVecs(spark, dir), resolveCells(spark, dir, nCells))

  /** Sentinel default of every `nCells` parameter in the ANN family:
    * 0 = "corpus-scaled" — resolved to [[scaledCells]] (≈√n, the
    * power-of-two grid) by [[resolveCells]] at the functions that
    * actually train or key a layout. Round-18 change (verdict ask #4):
    * the per-query operators previously defaulted to FIXED 16 cells,
    * so each probe scanned n/16 of the corpus — linear per-query cost
    * at 100×. With the scaled default, probe cost is nprobe·√n
    * everywhere, the same curve the semantic family already rides; a
    * deployment pins an explicit nCells only to freeze a layout across
    * corpus growth steps. Every dynamic oracle trains through the same
    * resolved count, so the replays embed the identical codebook.
    */
  private[graft] val AutoCells = 0

  private[graft] def resolveCells(spark: SparkSession, dir: String,
      nCells: Int): Int =
    if (nCells == AutoCells) scaledCells(spark, dir) else nCells

  /** Corpus-scaled cell count for the EVERY-vector-is-a-query operators
    * (c3_knn_join, c2_semantic_dedup): the smallest power of two ≥ √n,
    * floored at 16. Their within-cell blocking cost is O(Σ|cell|²) =
    * O(n²/k) under uniform cells, so a FIXED k turns the 10× corpus
    * decade into ~100×/k per cell — the measured 8.7× sf1 decade at the
    * old fixed 16. Growing k ≈ √n keeps expected |cell| ≈ √n and total
    * pairs O(n·√n̄) — the published SemDeDup posture, now code rather
    * than prose. Power-of-two grid: the count is a stable step function
    * of n (a few appended docs don't retrain a different codebook), and
    * the dynamic oracle calls this same function so it replays the
    * identical codebook. The query-subset ANN operators reach the same
    * count through [[AutoCells]].
    */
  private[graft] def scaledCells(spark: SparkSession, dir: String): Int = {
    val n = corpusVecCount(spark, dir)
    val target = math.ceil(math.sqrt(n.toDouble)).toLong
    var c = 16
    while (c < target && c < (1 << 20)) c <<= 1
    c
  }

  /** Corpus-scaled PER-SUBSPACE code count of the scaled IVFADC layout
    * (largest power of two ≤ n/4, clamped to [16, 256]): the stored
    * codes feed [[semanticTopcCandidates]]'s ADC pre-rank, and at the
    * fixed 4-bit kSub = 16 the quantization noise on 64-dim vectors
    * (32-bit codes) mis-ranked true matches out of the top-c —
    * measured 8.4% false-novelty at sf1 (BASELINE.md round 17). 256
    * codes (8-bit sub-quantizers, the published IVFADC operating
    * point) need a training sample ≥ kSub per sub-codebook, so tiny
    * corpora scale down with n/4 and the pqModel sample floor always
    * holds (sample = min(n, 100k) > n/4 ≥ kSub). ADC query cost is
    * kSub-independent (one table lookup per subspace); only the
    * per-probe table build and the one-time encode pay for the
    * fidelity. Power-of-two grid for the same append-stability reason
    * as [[scaledCells]]; the dynamic oracle calls this same function.
    */
  private[graft] def scaledKSub(spark: SparkSession, dir: String): Int = {
    val n = corpusVecCount(spark, dir)
    var k = 16
    while (k < 256 && 8L * k <= n) k <<= 1
    k
  }

  private def corpusVecCount(spark: SparkSession, dir: String): Long =
    vecCountCache.computeIfAbsent(
      graft.sources.Storage.sourceFingerprint(s"$dir/embeddings.parquet"),
      _ => emb(spark, dir).count())

  /** Memoized per corpus FINGERPRINT (not per dir): the scaled-layout
    * parameters are derived inside timed queries (c3_knn_join,
    * c2_semantic_dedup) and the dynamic oracle, and an uncached count()
    * there is a full extra corpus scan per timed run that also skews
    * the per-query shuffle/time record. The fingerprint key (file list
    * + sizes + mtimes, the ensureAnnIndex pattern) means a regenerated
    * corpus recounts while repeat runs don't.
    */
  private val vecCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Oracle SQL that depends on data-trained plan literals — generated at
    * verify time (Verify merges it into oracle_sql.json).
    */
  def dynamicOracle(spark: SparkSession, dir: String): Map[String, String] = {
    // Since round 18 the whole ANN family, the every-vector operators and
    // the semantic gates train one codebook at the corpus-scaled cell
    // count (resolveCells / scaledCells).
    val kCells = scaledCells(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val n = cents.length
    // The ANN queries: the first MaxQueries multiples of AnnQueryMod probe
    // AnnNprobe cells.
    val ivfCtes = s"WITH $embCte, ${codebookSql(cents)}, " +
      probesSql(n, AnnNprobe, queryPredSql(AnnQueryMod))
    // Filtered search: candidates further restricted to the query's label
    // (the pre-filter joins into candidate generation, as the Spark
    // plan's matchCols do).
    val sameLabel = " JOIN e la ON la.vec_id = q.q_id " +
      "JOIN e lb ON lb.vec_id = a.vec_id AND lb.label = la.label"
    // IVFADC replay (residual PQ): the codebooks are retrained on sample
    // residuals exactly as pqModel does, so the embedded literals match
    // the Spark plan's.
    val (coarsePq, books) = pqModel(
      boundedSample(embVecs(spark, dir), AnnMaxSample), kCells, PqSubspaces, PqKSub)
    require(coarsePq == cents,
      "PQ coarse quantizer diverged from the IVF centroids — the shared " +
        "IVF CTEs would replay the wrong cells")
    val pqTop = adcSql(books, PqKSub) + ", " + topKSql("pr", "psc", TopK, "adc")
    val pqTail = " SELECT q_id, rank, b_id, adc FROM pr ORDER BY q_id, rank"
    val pqSql = s"$ivfCtes, ${ivfCandSql()}, $pqTop$pqTail"
    val pqFilteredSql = s"$ivfCtes, ${ivfCandSql(sameLabel)}, $pqTop$pqTail"
    // PQ quantization-loss recall: the ADC top-k against the exact
    // squared-L2 top-k over the SAME cand set. mean_recall_ok is literal
    // TRUE — the bound lives in the Spark plan.
    val pqRecallSql = s"$ivfCtes, ${ivfCandSql()}, $pqTop, " +
      rescoreSql("bsc", "cand", score = s"${l2sqSql("x.v", "y.v")} AS l2sq") + ", " +
      topKSql("bf", "bsc", TopK, "l2sq") + ", " + hitsSql("hits", "bf", "pr") + " " +
      recallTail(s"${meanRecallSql("h")} AS mean_recall, TRUE AS mean_recall_ok")
    // Adaptive-filtered replay: queries with < k labeled candidates in
    // their probed cells are starved and escalate to all-cell probes and
    // the full label slice; the merged probe/candidate sets ride the same
    // ADC chain. Non-starved queries reproduce pqFilteredSql exactly.
    val pqFilteredAdaptiveSql = s"$ivfCtes, ${ivfCandSql(sameLabel)}, " +
      "n1 AS (SELECT q_id, count(*) AS n1 FROM cand GROUP BY q_id), " +
      "qq AS (SELECT DISTINCT q_id FROM qs), " +
      "starved AS (SELECT qq.q_id FROM qq LEFT JOIN n1 USING (q_id) " +
      s"WHERE COALESCE(n1.n1, 0) < $TopK), " +
      "qsA AS (SELECT q_id, v, cell FROM qs ANTI JOIN starved USING (q_id) " +
      "UNION ALL SELECT s.q_id, d.v, g.cell FROM starved s " +
      s"JOIN d ON d.vec_id = s.q_id CROSS JOIN range(1, ${n + 1}) g(cell)), " +
      "candA AS (SELECT q_id, b_id FROM cand ANTI JOIN starved USING (q_id) " +
      "UNION SELECT s.q_id, lb.vec_id AS b_id FROM starved s " +
      "JOIN e la ON la.vec_id = s.q_id " +
      "JOIN e lb ON lb.label = la.label AND lb.vec_id <> s.q_id), " +
      adcSql(books, PqKSub, "qsA", "candA") + ", " + topKSql("pr", "psc", TopK, "adc") + pqTail
    // Filtered recall: the filtered ADC top-k against the exact
    // LABEL-RESTRICTED squared-L2 top-k over the whole corpus, per-query
    // n_exact/n_ann/n_hits, honest-denominator recall, integer-sum mean.
    val pqFilteredRecallSql = s"$ivfCtes, ${ivfCandSql(sameLabel)}, $pqTop, " +
      exactSql("exs", s"${queryPredSql(AnnQueryMod, "x.vec_id")} AND y.label = x.label",
        score = s"${l2sqSql("x.v", "y.v")} AS l2sq") + ", " +
      topKSql("exk", "exs", TopK, "l2sq") + ", " +
      "nex AS (SELECT q_id, count(*) AS n_exact FROM exk GROUP BY q_id), " +
      "nan AS (SELECT q_id, count(*) AS n_ann FROM pr GROUP BY q_id), " +
      hitsSql("hits", "exk", "pr") + " " +
      "SELECT nex.q_id, nex.n_exact, " +
      "CAST(COALESCE(na.n_ann, 0) AS BIGINT) AS n_ann, " +
      s"${nHitsSql("h")} AS n_hits, " +
      "round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / " +
      "CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_k, " +
      "round(CAST(sum(COALESCE(h.n_hits, 0)) OVER () AS DOUBLE) / " +
      "CAST(sum(nex.n_exact) OVER () AS DOUBLE), 6) AS mean_recall " +
      "FROM nex LEFT JOIN nan na USING (q_id) LEFT JOIN hits h USING (q_id) " +
      "ORDER BY q_id"
    // k-NN graph replay: within-cell exact cosine, top-3 per vector.
    val knnSql = s"WITH $embCte, ${codebookSql(cents)}, ${cellPairsSql("<>")}, " +
      rescoreSql("sc", "cp") + ", " + topKSql("pr", "sc", KnnJoinM) +
      " SELECT q_id AS a_id, rank, b_id, cosine FROM pr ORDER BY a_id, rank"
    // SemDeDup replay (DedupOps.c2SemanticDedup): within-cell pairs at
    // the corpus's embed-neardup cosine.
    val semCtes = s"$embCte, ${codebookSql(cents)}, ${cellPairsSql("<")}, " +
      rescoreSql("sc", "cp") + ", " +
      s"ed AS (SELECT q_id AS a_id, b_id FROM sc WHERE cosine >= ${DedupOps.NearDupCosine})"
    // The min-neighbor propagation round.
    val semSql =
      s"WITH $semCtes, " +
        "reps AS (SELECT b_id AS vec_id, min(a_id) AS mn FROM ed GROUP BY b_id) " +
        "SELECT asg.vec_id, cell, " +
        "least(asg.vec_id, COALESCE(mn, asg.vec_id)) AS cluster_rep, " +
        "asg.vec_id = least(asg.vec_id, COALESCE(mn, asg.vec_id)) AS is_kept " +
        "FROM asg LEFT JOIN reps USING (vec_id) ORDER BY vec_id"
    // CC twin: min-label closure over the SYMMETRIZED semantic edges
    // via the shared FIXED-ROUND hop+jump propagation chain (the
    // DedupOps.minPropRoundsSql pattern of the token-space CC oracles,
    // over cosine edges instead of co-buckets) — linear per round, so
    // the replay stays tractable above the sf0.01 gate where the old
    // recursive reach set was O(Σ component²).
    val semCcSql =
      s"WITH $semCtes, " +
        "sed AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM ed " +
        "UNION ALL SELECT b_id, a_id FROM ed), " +
        graft.queries.DedupOps.minPropRoundsSql(
          "SELECT vec_id AS id, vec_id AS r FROM asg") + " " +
        "SELECT asg.vec_id, cell, cl.cluster_rep, " +
        "asg.vec_id = cl.cluster_rep AS is_kept " +
        "FROM asg JOIN cl ON cl.doc_id = asg.vec_id ORDER BY vec_id"
    // Cluster-profile replay: 6dp distortions summed as DECIMAL(20,6)
    // (order-independent), one double division for the mean.
    val profileSql =
      s"WITH $embCte, ${codebookSql(cents)}, " +
        s"a AS (SELECT vec_id, $assignSql AS cell, " +
        "CAST(round(list_min(dists), 6) AS DECIMAL(20,6)) AS d2 FROM d) " +
        "SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec_id, " +
        "round(CAST(sum(d2) AS DOUBLE), 6) AS sum_d2, " +
        "round(CAST(sum(d2) AS DOUBLE) / count(*), 6) AS mean_d2 " +
        "FROM a GROUP BY cell ORDER BY cell"
    // Cell-balance replay: the stored codebook's deterministic corpus
    // assignment (the codes table equals it by construction — the
    // pqSql identity), per-cell counts, and the integer-compared
    // oversized flag; share/skew are single rounded divisions.
    val cellsSql =
      s"WITH $embCte, ${codebookSql(cents)}, " +
        "per AS (SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec_id " +
        "FROM asg GROUP BY cell), " +
        "g AS (SELECT *, CAST(sum(n_vecs) OVER () AS BIGINT) AS nt FROM per), " +
        "s AS (SELECT cell, n_vecs, min_vec_id, " +
        "round(CAST(n_vecs AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS share, " +
        s"round(CAST(n_vecs AS DOUBLE) * $n.0 / CAST(nt AS DOUBLE), 6) AS skew, " +
        s"n_vecs * $n > nt * 2 AS oversized FROM g) " +
        "SELECT cell, n_vecs, min_vec_id, share, skew, oversized, " +
        "max(skew) OVER () AS max_skew, " +
        "CAST(sum(CASE WHEN oversized THEN 1 ELSE 0 END) OVER () AS BIGINT) " +
        "AS n_oversized, " +
        "(sum(CASE WHEN oversized THEN 1 ELSE 0 END) OVER ()) > 0 AS rebalance " +
        "FROM s ORDER BY cell"
    // The semantic gates: the `vec_id % mod = rem` arrivals probe the
    // stored scaled codebook (identical by training determinism), their
    // candidates are the corpus outside the slice — plus, for the
    // SELF-ADMITTING `live` gate of c5_stream_semantic_live, earlier
    // slice arrivals (b_id < q_id, strictly: the stream's
    // insert-after-emit order).
    def gateCtes(mod: Int, rem: Int, nprobe: Int, live: Boolean): String =
      s"WITH $embCte, ${codebookSql(cents)}, " +
        probesSql(n, nprobe, s"vec_id % $mod = $rem") + ", " +
        ivfCandSql(s" AND (a.vec_id % $mod <> $rem" +
          (if (live) " OR a.vec_id < q.q_id)" else ")")) + ", "
    // Unbounded gate: the exact-cosine confirm over every candidate.
    val incSemSql = gateCtes(10, 7, 4, live = false) + gateSql("cand", 10, 7)
    // Bounded (_topc) gate: the residual books as literals (retrained
    // here exactly as the scaled AnnLayout build does — the require pins
    // the identity), the ADC of every candidate, the GLOBAL top-c by
    // (adc, b_id) — equal to the engine's per-cell cut + global window
    // because the global top-c is a subset of the per-cell top-c union —
    // then the confirm on the survivors only. The approximation itself
    // (ADC mis-ranks, probe misses) is therefore hash-checked.
    val incSemTopcGen: (Int, Int, Boolean, Int) => String = {
      val kSubK = scaledKSub(spark, dir)
      val (coarseK2, booksK) = pqModel(
        boundedSample(embVecs(spark, dir), AnnMaxSample), kCells, IncSemSubspaces, kSubK)
      require(coarseK2 == cents,
        "scaled PQ coarse quantizer diverged from the scaled IVF centroids — " +
          "the topc replay would embed the wrong codebook")
      (mod: Int, rem: Int, live: Boolean, nprobe: Int) =>
        gateCtes(mod, rem, nprobe, live) + adcSql(booksK, kSubK) + ", " +
          topKSql("tc", "psc", IncSemTopC, "adc") + ", " + gateSql("tc", mod, rem)
    }
    val incSemTopcSql = incSemTopcGen(10, 7, false, 4)
    // Staleness-monitor replay: BOTH codebooks embedded as literals —
    // the stale one is the base-trained coarse quantizer (identical to
    // the persisted model by training determinism, the same identity the
    // indexed-PQ oracle rests on), the fresh one retrained here on the
    // grown corpus's bounded sample exactly as the engine does. The
    // grown corpus `g`, its query twins, per-codebook assignment/probing/
    // re-scoring, exact ground truth, integer-sum means and the retrain
    // verdict all replay in SQL.
    val staleSql = {
      val fresh = coarseCodebook(grownCorpus(spark, dir), kCells)
      def qPred(id: String): String = queryPredSql(AnnQueryMod, s"($id % $DriftIdOffset)")
      def monitor(tag: String, cb: Seq[Seq[Double]]): String =
        Seq(codebookSql(cb, "g", tag), probesSql(cb.length, AnnNprobe, qPred("vec_id"), tag),
          ivfCandSql(tag = tag),
          s"scan$tag AS (SELECT q_id, count(*) AS n_cand FROM cand$tag GROUP BY q_id)",
          rescoreSql(s"asc$tag", s"cand$tag", "g"), topKSql(s"ann$tag", s"asc$tag", TopK),
          hitsSql(s"hit$tag", "bf", s"ann$tag")).mkString(", ")
      s"WITH g AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
        "FROM embeddings UNION ALL " +
        s"SELECT vec_id + $DriftIdOffset, " +
        "list_transform(CAST(embedding AS DOUBLE[]), x -> x + 2.0) FROM embeddings), " +
        s"q AS (SELECT vec_id AS q_id FROM g WHERE ${qPred("vec_id")}), " +
        exactSql("bsc", qPred("x.vec_id"), "g") + ", " + topKSql("bf", "bsc", TopK) + ", " +
        monitor("sta", cents) + ", " + monitor("fre", fresh) + ", " +
        "res AS (SELECT q.q_id, " +
        "CAST(COALESCE(ssta.n_cand, 0) AS BIGINT) AS n_cand_stale, " +
        "CAST(COALESCE(sfre.n_cand, 0) AS BIGINT) AS n_cand_fresh, " +
        s"${nHitsSql("hsta")} AS n_hits_stale, ${nHitsSql("hfre")} AS n_hits_fresh, " +
        s"${recallSql("hsta")} AS recall_stale, ${recallSql("hfre")} AS recall_fresh, " +
        s"${meanRecallSql("hsta")} AS mean_recall_stale, " +
        s"${meanRecallSql("hfre")} AS mean_recall_fresh, " +
        "round(CAST(sum(COALESCE(ssta.n_cand, 0)) OVER () AS DOUBLE) / count(*) OVER (), 6) " +
        "AS mean_scan_stale, " +
        "round(CAST(sum(COALESCE(sfre.n_cand, 0)) OVER () AS DOUBLE) / count(*) OVER (), 6) " +
        "AS mean_scan_fresh " +
        "FROM q LEFT JOIN scansta ssta USING (q_id) " +
        "LEFT JOIN scanfre sfre USING (q_id) " +
        "LEFT JOIN hitsta hsta USING (q_id) " +
        "LEFT JOIN hitfre hfre USING (q_id)) " +
        "SELECT *, (mean_recall_stale + 0.05 < mean_recall_fresh " +
        "OR mean_scan_stale > 2.0 * mean_scan_fresh) AS retrain " +
        "FROM res ORDER BY q_id"
    }
    Map(
      "c3_ann_staleness" -> staleSql,
      "c3_cluster_profile" -> profileSql,
      "c3_ann_cells" -> cellsSql,
      "c2_incremental_semantic" -> incSemSql,
      // Streaming twin of the incremental-semantic gate: decisions
      // depend only on the PERSISTED index (stream-static joins), so
      // any arrival split yields the batch answer — the oracle is the
      // same replay, prefix-consistency by construction.
      "c5_stream_semantic" -> incSemSql,
      "c2_incremental_semantic_topc" -> incSemTopcSql,
      // Same prefix-consistency argument for the bounded stream twin.
      "c5_stream_semantic_topc" -> incSemTopcSql,
      // The SELF-ADMITTING gate: both tiers replayed — stored corpus
      // postings plus earlier slice arrivals (b_id < q_id) — before the
      // global top-c cut; id-ordered arrival makes the stream's
      // per-prefix pair set coincide with this batch replay.
      "c5_stream_semantic_live" ->
        incSemTopcGen(LiveSliceMod, LiveSliceRem, true, LiveNprobe),
      "c2_semantic_dedup" -> semSql,
      "c2_semantic_dedup_cc" -> semCcSql,
      "c3_ann_pq" -> pqSql,
      // The indexed variant is result-identical by construction (same
      // deterministic training, same encode expressions persisted), so it
      // is held to the SAME full replay — a drifted or stale index breaks
      // the hash.
      "c3_ann_pq_indexed" -> pqSql,
      "c3_ann_pq_filtered" -> pqFilteredSql,
      "c3_ann_filtered_recall" -> pqFilteredRecallSql,
      "c3_ann_pq_filtered_adaptive" -> pqFilteredAdaptiveSql,
      "c3_knn_join" -> knnSql,
      "c3_ann_pq_recall" -> pqRecallSql,
      "c3_ann_ivf" ->
        (s"$ivfCtes, ${ivfCandSql()}, ${rescoreSql("sc", "cand")}, " + annTopKTail("sc")),
      // mean_recall_ok is literal TRUE — the bound lives in the Spark plan.
      "c3_ann_ivf_recall" ->
        (s"$ivfCtes, ${ivfCandSql()}, $recallCtes " +
          recallTail(s"${meanRecallSql("h")} AS mean_recall, TRUE AS mean_recall_ok"))
    )
  }

  val oracle: Map[String, String] = Map(
    "c3_ann_lsh" ->
      (s"WITH ${sketchCte(LshTables, LshBits)}, " +
        lshCandSql(LshTables, LshBits, queryPredSql(AnnQueryMod), "<>") + ", " +
        rescoreSql("sc", "cand") + ", " + annTopKTail("sc")),
    // Recall replay: the c3_ann_lsh top-k intersected with the
    // c3_cosine_topk top-k — both deterministic (round-6 cosine, b_id
    // tie-break), so n_hits matches exactly; recall_ok is literal TRUE
    // (the bound lives in the Spark plan).
    "c3_ann_recall" ->
      (s"WITH ${sketchCte(LshTables, LshBits)}, " +
        lshCandSql(LshTables, LshBits, queryPredSql(AnnQueryMod), "<>") + ", " +
        recallCtes + " " + recallTail("TRUE AS recall_ok")),
    // kNN vote replay: the c3_cosine_topk ranking, labels joined back,
    // integer vote counts, deterministic (votes desc, label asc) argmax.
    "c3_knn_classify" ->
      (s"WITH $embCte, ${exactSql("s", queryPredSql(KnnQueryMod, "x.vec_id"))}, " +
        topKSql("r", "s", TopK) + ", " +
        "v AS (SELECT r.q_id, x.label AS true_label, y.label AS b_label, " +
        "count(*) AS n_votes FROM r JOIN e x ON x.vec_id = r.q_id " +
        "JOIN e y ON y.vec_id = r.b_id GROUP BY r.q_id, x.label, y.label), " +
        "p AS (SELECT q_id, true_label, b_label, n_votes, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY n_votes DESC, b_label) AS vr FROM v) " +
        "SELECT q_id, true_label, b_label AS pred_label, n_votes, " +
        "b_label = true_label AS correct FROM p WHERE vr = 1 ORDER BY q_id"),
    "c3_cosine_topk" ->
      (s"WITH $embCte, ${exactSql("s", queryPredSql(AnnQueryMod, "x.vec_id"))}, " +
        annTopKTail("s")),
    "c3_range_search" ->
      (s"WITH $embCte, ${exactSql("s", queryPredSql(RangeQueryMod, "x.vec_id"))} " +
        s"SELECT q_id, b_id, cosine FROM s WHERE cosine >= $RangeTau " +
        "ORDER BY q_id, b_id"),
    "c3_norm_stats" ->
      ("SELECT label, count(*) AS n_vecs, " +
        "round(sum(norm), 4) AS sum_norm, round(min(norm), 6) AS min_norm, " +
        "round(max(norm), 6) AS max_norm FROM " +
        "(SELECT label, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
        "CAST(embedding AS DOUBLE[]))), 6) AS norm FROM embeddings) " +
        "GROUP BY label ORDER BY label")
  )

  /** C2g: INCREMENTAL semantic (embedding-level) dedup — the
    * [[graft.queries.DedupOps.c2IncrementalDedup]] ingest shape at the
    * EMBEDDING level, resolved against the PERSISTED ANN index (the
    * round-11 verdict's one missing pipeline composition: the
    * incremental path was token-LSH only, semantic dedup batch-only).
    * The deterministic batch slice `vec_id % 10 = 7` stands in for
    * today's crawl; each batch vector is resolved to is_novel or its
    * best-matching standing-corpus vector (highest exact cosine,
    * smallest id on ties, `threshold` floor).
    *
    * Scale shape — composes two proven parts:
    *  - candidate generation reads the INDEX, not the corpus: the batch
    *    assigns to its `nprobe` nearest stored coarse cells (same
    *    codebook the index was built with — loadPqModel), and
    *    candidates are the codes table's rows for those cells — a
    *    cell-partition-PRUNED scan of (id, cell) pairs, never a corpus
    *    embedding scan (the scaled `graft_annk_*` layout carries its
    *    own append/delete lifecycle — [[appendAnnIndex]] /
    *    [[deleteFromAnnIndex]] — so the ingest loop feeds
    *    admitted arrivals back without a per-batch rebuild);
    *  - only candidates pay the exact-cosine confirm (corpus embeddings
    *    re-attached by id — O(batch · nprobe · cell), bounded), and the
    *    best pick is one partial aggregate, no window.
    * Approximation is the probing itself (a true match outside the
    * probed cells is missed — the standard IVF trade, same as every
    * c3_ann query); the dynamic oracle replays codebook, assignment,
    * probing, confirm and pick bit-for-bit, so the approximation is
    * itself hash-checked.
    */
  def c2IncrementalSemantic(spark: SparkSession, dir: String,
      threshold: Double = IncSemThreshold, nprobe: Int = 4,
      subspaces: Int = IncSemSubspaces): DataFrame =
    // The gate's left joins keep every arrival, so the best pick is one
    // aggregate: min (-cosine, b_id) over the rows with a match; an
    // arrival with none is novel.
    semanticGateCandidates(spark, dir,
        embVecs(spark, dir).filter(col("vec_id") % 10 === 7), threshold, nprobe, subspaces)
      .groupBy(col("n_id").as("vec_id"))
      .agg(min(when(col("cosine").isNotNull,
        struct((-col("cosine")).as("nc"), col("b_id").as("bid")))).as("b"))
      .select(col("vec_id"), col("b").isNull.as("is_novel"),
        col("b.bid").as("match_id"), (-col("b.nc")).as("match_cosine"))
      .orderBy("vec_id")

  /** Per-candidate scored plan of the unbounded semantic admission gate,
    * over a caller-supplied `arrivals` frame (streaming or batch; columns
    * `vec_id`, `embD: array<double>`) — the one probe/confirm definition
    * behind both the batch [[c2IncrementalSemantic]] and the streaming
    * c5_stream_semantic.
    * Every join here is stream-static when `arrivals` streams: the
    * arriving vector assigns to its `nprobe` nearest STORED coarse
    * cells (the persisted codebook as a plan literal), candidates come
    * from the codes table's rows for those cells (cell-pruned index
    * read, never a corpus embedding scan), and only candidates pay the
    * exact-cosine confirm. LEFT joins keep every probe row alive so an
    * arrival with no candidate still reaches the decision fold as
    * novel; below-threshold cosines are nulled HERE so the fold
    * downstream is a pure max — the threshold contract stays in one
    * place. One row per (arrival × probed candidate), bounded by
    * nprobe · cell size per arrival.
    */
  private[graft] def semanticGateCandidates(spark: SparkSession, dir: String,
      arrivals: DataFrame, threshold: Double = IncSemThreshold, nprobe: Int = 4,
      subspaces: Int = IncSemSubspaces): DataFrame = {
    // the SCALED index (≈√n cells): the arrivals are a corpus fraction,
    // so the fixed-16 layout's linearly-growing cells turn the confirm
    // join quadratic — see [[AnnLayout.scaled]]
    val ann = ensureAnnIndex(spark, AnnLayout.scaled(spark, dir, subspaces))
    val (coarse, _) = ann.model(spark)
    val probed = arrivals
      .withColumn("cdists",
        graft.functions.VectorExprs.centroidDists(col("embD"), coarse))
      .select(col("vec_id").as("n_id"), col("embD").as("n_emb"),
        explode(probeCells(col("cdists"), coarse.length, nprobe)).as("cell"))
    // The index holds the full corpus (appended as it landed) — exclude
    // the arriving slice from the corpus side of the resolution.
    val corpusCodes = spark.table(ann.codesTab)
      .select(col("b_id"), col("cell").cast("int").as("cell"))
      .filter(col("b_id") % 10 =!= 7)
    val baseEmb = emb(spark, dir)
      .select(col("vec_id").as("b_id"), asDouble(col("embedding")).as("b_emb"))
    val cos = cosine6(col("n_emb"), col("b_emb"))
    probed
      .join(corpusCodes, Seq("cell"), "left")
      .join(baseEmb, Seq("b_id"), "left")
      .select(col("n_id"),
        when(cos >= threshold, col("b_id")).as("b_id"),
        when(cos >= threshold, cos).as("cosine"))
  }

  /** The semantic gates' confirm and pick over a `cand(q_id, b_id)` of
    * the `vec_id % mod = rem` arrivals: [[cosine6]], the best pair at or
    * above [[IncSemThreshold]] by (cosine desc, b_id), one row per
    * arrival (novel when none).
    */
  private def gateSql(cand: String, mod: Int, rem: Int): String =
    rescoreSql("sc", cand) + ", " +
      topKSql("best", s"sc WHERE cosine >= $IncSemThreshold", 1) + " " +
      "SELECT e.vec_id, best.b_id IS NULL AS is_novel, best.b_id AS match_id, " +
      "best.cosine AS match_cosine FROM e LEFT JOIN best ON best.q_id = e.vec_id " +
      s"WHERE e.vec_id % $mod = $rem ORDER BY vec_id"

  /** Duplicate-call floor shared with the c2_embed_neardup family: the
    * synthetic embedding geometry puts near-dups well above it.
    */
  private[graft] val IncSemThreshold = 0.35

  /** Arrival slice of the LIVE streaming semantic gate
    * (c5_stream_semantic_live): `vec_id % 5 = 2` — its own slice,
    * distinct from the static-index gates' 10/7, because the live
    * contract is only non-vacuous if near-dup pairs exist WITHIN the
    * slice straddling the two-batch cut (measured: 10/7 holds zero
    * cross-cut pairs ≥ threshold at sf0.01; 5/2 holds 6/3/77 at
    * sf0.001/0.01/0.1). One definition shared by the stream builder
    * and the oracle replay.
    */
  private[graft] val LiveSliceMod = 5
  private[graft] val LiveSliceRem = 2

  /** Probe width of the live gate: 8 (vs the static gates' 4). The
    * live contract's interesting matches sit in the [0.35, 0.40)
    * boundary band where the pair's cells diverge most — at nprobe = 4
    * the sf0.01 slice's only cross-cut pairs all miss their target's
    * cell (measured zero reachable straddling pairs; 8 reaches ≥ 1 at
    * every SF). Per-arrival cost stays the engine's own constant,
    * nprobe · topc.
    */
  private[graft] val LiveNprobe = 8

  /** Exact-cosine confirm cap of the BOUNDED semantic family (the
    * c2_incremental_dedup_topc posture at the embedding level): per
    * arrival, only the `IncSemTopC` candidates nearest by STORED-CODE
    * ADC distance pay the exact confirm. 256 = the 16×256/topc=256
    * operating point of the round-17 accuracy sweep (BASELINE.md):
    * zero decision drift vs the unbounded confirm at sf1; 1.4%
    * false-novel at sf10, all misses confined to the [0.35, 0.40)
    * threshold boundary band and zero extra-matches by construction.
    */
  private[graft] val IncSemTopC = 256

  /** Subspace count of the SCALED layout's PQ codes (the bounded
    * family's pre-rank): on this corpus's unstructured unit-vector
    * geometry the ADC error is the binding constraint on the top-c
    * shortlist's fidelity, and quantization distortion scales as
    * σ²·kSub^(−2/d) per subspace — more, narrower subspaces at the
    * same kSub cut the error roughly 2× per doubling (measured sweep
    * in BASELINE.md round 17). Lookup cost per posting is one
    * element_at per subspace. 64-dim embeddings only.
    */
  private[graft] val IncSemSubspaces = 16

  /** Per (arrival × probed cell) frame of the bounded semantic family —
    * the shared front half of [[semanticTopcCandidates]] and the LIVE
    * streaming gate's stateful stage: probe assignment (`pos` 0 = the
    * nearest cell = the cell an index insert of this vector would land
    * in), the arrival's PQ codes under each probed cell (`codes` — at
    * `pos` 0 these are exactly the codes a [[pqEncodeCorpus]] pass
    * would store), the per-probe ADC lookup tables (`tbls`), and the
    * cell's STORED posting array (`cands`, null when the probed cell
    * holds no postings after the `excludeMod`/`excludeRem` corpus-side
    * slice exclusion).
    *
    * The lookup tables are computed on the PROBED side, BEFORE the cell
    * join: the join boundary pins `tbls` as a real output attribute, so
    * per-posting consumers reference a bound column. Folding the table
    * build past the join (to slim the join input) lets CollapseProject
    * inline the CentroidDists subtrees INTO the consumer lambda,
    * re-deriving the full subspaces × kSub tables once per POSTING
    * ELEMENT — measured ~4e12 ops at sf10, a >100× blowup (round-17
    * thread-dump diagnosis). nprobe rows of kSub·subspaces doubles per
    * arrival is the cheaper wire cost by far.
    */
  private[graft] def semanticProbeFrame(spark: SparkSession, dir: String,
      arrivals: DataFrame, nprobe: Int = 4,
      subspaces: Int = IncSemSubspaces, excludeMod: Int = 10,
      excludeRem: Int = 7): DataFrame = {
    val ann = ensureAnnIndex(spark, AnnLayout.scaled(spark, dir, subspaces))
    val (coarse, books) = ann.model(spark)
    val nTrained = coarse.length
    // Probe side, round-18 shape (guide §1.2 step 2 after step 1):
    //  - hash-repartition the arrivals BEFORE the heavy work: the
    //    arrivals scan is typically one file → ONE partition, and the
    //    whole per-row kernel chained narrowly into that single task
    //    while the rest of the machine idled (thread-sampled: one hot
    //    task per micro-batch in the live gate). The partition count
    //    follows spark.sql.shuffle.partitions (cpus for batch,
    //    EventStream.StatePartitions under the streaming runner) — scale-
    //    adaptive, not a local constant; ~64 slim bytes/row cross.
    //  - ONE native kernel (PqProbeEnc) computes probes + residual +
    //    codes + ADC tables per arrival, replacing the interpreted
    //    zip_with/array_sort/transform chain and subspaces separate
    //    table columns (~1 ms CPU per (arrival × probe) row measured;
    //    bit-identity to the old chain spec-pinned in
    //    PqProbeEncExprSpec via HofTwins.pqProbeChainHof).
    // `tbls` is a GENERATOR output attribute, so per-posting consumers
    // reference a bound column — CollapseProject cannot inline the
    // table build into a consumer lambda (the round-17 ~4e12-op trap
    // this frame's scaladoc used to guard with a join boundary).
    val probed = arrivals
      .repartition(col("vec_id"))
      .select(col("vec_id").as("n_id"), col("embD").as("n_emb"),
        explode(graft.functions.PqProbeEncExpr.pqProbeEnc(
          col("embD"), coarse, books, math.min(nprobe, nTrained))).as("pr"))
      .select(col("n_id"), col("n_emb"), col("pr.pos").as("pos"),
        col("pr.cell").as("cell"), col("pr.codes").as("codes"),
        col("pr.tbls").as("tbls"))
    // The in-plan inverted file: one posting-array row per cell (the
    // index holds the arriving slice too — appended as it landed —
    // so the corpus side excludes it, as the unbounded twin does).
    val cellCand = spark.table(ann.codesTab)
      .select(col("b_id"), col("cell").cast("int").as("cell"), col("codes"))
      .filter(col("b_id") % excludeMod =!= excludeRem)
      .groupBy("cell")
      .agg(collect_list(struct(col("b_id"), col("codes"))).as("cands"))
    probed.join(cellCand, Seq("cell"), "left")
  }

  /** Per-candidate scored plan of the BOUNDED (`_topc`) semantic
    * family — [[c2IncrementalSemanticTopc]] and c5_stream_semantic_topc
    * share this builder verbatim, so the batch and stream twins cannot
    * drift. The unbounded family's confirm cost is O(arrival · nprobe ·
    * |cell|) exact cosines — with |cell| ≈ √n that is the one
    * super-linear decade left (10.9×/16× per 10×, BASELINE.md round
    * 16). Here the stored PQ CODES pre-rank each (arrival, probed cell)
    * pair list by ADC distance — `subspaces` table lookups per
    * candidate, no embedding touched — and only the per-cell top-`topc`
    * survivors reach the exact-cosine join, capping it at
    * nprobe·topc ≈ 256 rows per arrival REGARDLESS of corpus size (the
    * engine's bound, not the corpus's). The global top-`topc` by
    * (adc, b_id) is a subset of the per-cell top-`topc` union, so the
    * caller's final truncation (batch: one rank window over ≤
    * nprobe·topc slim rows; stream: the decision fold's in-memory sort)
    * is EXACT — and the approximation (ADC mis-ranking a true match out
    * of the top-c, on top of IVF probe misses) is itself hash-checked:
    * the dynamic oracle replays codebook, codes, ADC, the top-c cut and
    * the confirm bit-for-bit.
    *
    * Plan shape: the static side rolls the cell-pruned codes table into
    * one (cell → candidate array) row per cell (|cell| ≈ √n structs —
    * the in-plan inverted-file posting list), the arrival side carries
    * its per-probe ADC lookup tables (the [[pqQueryTables]] residual
    * arithmetic via the shared [[PqEncExprs]]), and the pre-rank is a
    * narrow transform/sort/slice per row — every join stream-static
    * when `arrivals` streams. LEFT joins + explode_outer keep
    * zero-candidate arrivals alive to the decision; `b_id`/`adc` are
    * always the true values (the downstream truncation sorts on them),
    * while below-`threshold` cosines are nulled HERE (the one-place
    * threshold contract, as in [[semanticGateCandidates]]).
    */
  private[graft] def semanticTopcCandidates(spark: SparkSession, dir: String,
      arrivals: DataFrame, threshold: Double = IncSemThreshold,
      topc: Int = IncSemTopC, nprobe: Int = 4,
      subspaces: Int = IncSemSubspaces,
      extraVectors: Option[DataFrame] = None): DataFrame = {
    // Per (arrival, probed cell): ADC per posting (subspaces lookups —
    // round-6 BEFORE the rank, the adcTopK discipline), keep the cell's
    // (adc, b_id) top-`topc` — the NATIVE AdcTopC expression (one tight
    // Java pass + bounded heap; the interpreted HOF twin it replaces is
    // the test-side HofTwins.adcTopcHof of the bit-identity spec, and at
    // sf10 its ~31M per-element lambda evaluations made the bounded gate slower
    // than the unbounded one — BASELINE.md round 17).
    val scored = semanticProbeFrame(spark, dir, arrivals, nprobe, subspaces)
      .withColumn("scored",
        graft.functions.AdcTopCExpr.adcTopC(col("cands"), col("tbls"), topc))
      .select(col("n_id"), col("n_emb"), explode_outer(col("scored")).as("s"))
      .select(col("n_id"), col("n_emb"),
        col("s.adc").as("adc"), col("s.b_id").as("b_id"))
    // The exact-cosine confirm re-attaches candidate embeddings BY ID
    // from the corpus parquet; vectors ingested via
    // [[appendAnnIndex]] live outside it, so callers resolving
    // against appended postings re-attach them through `extraVectors`
    // (the retrainAnnIndex / splitAnnCell contract).
    val corpusEmb = emb(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("b_emb"))
    val baseEmb = extraVectors match {
      case Some(x) => corpusEmb.unionByName(x.select(col("vec_id"),
        asDouble(col("embedding")).as("b_emb")))
      case None => corpusEmb
    }
    val cos = cosine6(col("n_emb"), col("b_emb"))
    scored
      .join(baseEmb.withColumnRenamed("vec_id", "b_id"), Seq("b_id"), "left")
      .select(col("n_id"), col("adc"), col("b_id"),
        when(cos >= threshold, cos).as("cosine"))
  }

  /** C2g': the BOUNDED incremental semantic gate —
    * [[c2IncrementalSemantic]] with the exact-cosine confirm capped at
    * the ADC top-`topc` candidates per arrival (see
    * [[semanticTopcCandidates]] for the mechanism and the scale
    * argument: the confirm becomes O(arrival · nprobe · topc) instead
    * of O(arrival · nprobe · |cell|), turning the family's one
    * super-linear decade into the engine's own constant). Decision
    * semantics: per arrival, rank ALL probed candidates by (round-6
    * ADC asc, b_id asc), keep the global top-`topc`, and resolve
    * exactly as the unbounded twin — best surviving cosine ≥
    * `threshold`, ties to the smallest id, else novel. The rank window
    * here runs over ≤ nprobe·topc pre-cut slim rows per arrival (the
    * per-cell cut already happened inside the candidate builder).
    */
  def c2IncrementalSemanticTopc(spark: SparkSession, dir: String,
      threshold: Double = IncSemThreshold, topc: Int = IncSemTopC,
      nprobe: Int = 4, subspaces: Int = IncSemSubspaces): DataFrame =
    resolveSemanticTopc(spark, dir, embVecs(spark, dir).filter(col("vec_id") % 10 === 7),
      threshold, topc, nprobe, subspaces)

  /** The bounded gate's batch RESOLUTION over a caller-supplied
    * `arrivals` frame (columns `vec_id`, `embD`) — the
    * [[c2IncrementalSemanticTopc]] decision applied to any batch:
    * global (adc, b_id) top-`topc` over the per-cell pre-cut candidate
    * rows, exact-cosine confirm, best surviving pick. `extraVectors`
    * re-attaches raw embeddings for index postings that live outside
    * the corpus parquet (vectors ingested via
    * [[appendAnnIndex]]) — the composed ingest-then-resolve
    * loop: resolve batch N, append its admitted novels, resolve batch
    * N+1 against them.
    */
  private[graft] def resolveSemanticTopc(spark: SparkSession, dir: String,
      arrivals: DataFrame, threshold: Double = IncSemThreshold,
      topc: Int = IncSemTopC, nprobe: Int = 4,
      subspaces: Int = IncSemSubspaces,
      extraVectors: Option[DataFrame] = None): DataFrame = {
    val cand = semanticTopcCandidates(
      spark, dir, arrivals, threshold, topc, nprobe, subspaces, extraVectors)
    val ranked = cand.filter(col("adc").isNotNull)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("n_id")).orderBy(col("adc").asc, col("b_id").asc)))
      .filter(col("rk") <= topc)
    val best = ranked.filter(col("cosine").isNotNull)
      .groupBy(col("n_id"))
      .agg(min(struct((-col("cosine")).as("nc"), col("b_id").as("bid"))).as("b"))
      .select(col("n_id").as("vec_id"), col("b.bid").as("match_id"),
        (-col("b.nc")).as("match_cosine"))
    arrivals.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id").isNull.as("is_novel"),
        col("match_id"), col("match_cosine"))
      .orderBy("vec_id")
  }

  /** Id offset of the staleness monitor's drifted batch: far above every
    * corpus id AND above the isQuery cap, so the GROWN corpus's query
    * predicate keys on `vec_id % DriftIdOffset` (base id and drifted
    * twin share a query slot) while `% queryMod` semantics stay intact.
    */
  private[queries] val DriftIdOffset = 1L << 40

  /** The staleness monitor's GROWN corpus (vec_id, embD): the base plus
    * its drifted twin — ids offset by [[DriftIdOffset]], every dimension
    * shifted +2.0.
    */
  private def grownCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = embVecs(spark, dir)
    base.unionByName(base.select(
      (col("vec_id") + lit(DriftIdOffset)).as("vec_id"),
      transform(col("embD"), x => x + lit(2.0d)).as("embD")))
  }

  /** C3o: ANN codebook STALENESS monitor — the retrain-trigger question
    * every production ANN index answers: after batches of appended data,
    * is the once-trained coarse quantizer still fit for the corpus it
    * now serves? The monitor builds the GROWN corpus (base ∪ a drifted
    * batch: ids offset by [[DriftIdOffset]], vectors shifted +2.0 per
    * dimension — a new dense mode the base distribution never had),
    * answers the same query set under TWO coarse codebooks — the STORED
    * one (read back from the persisted index model, trained on base
    * only) and a FRESHLY trained one (same Lloyd recipe over the grown
    * corpus's bounded sample) — and scores both against the exact
    * cosine top-k over the grown corpus. Per query: probed-candidate
    * count (the scan cost) and recall hits under each codebook; plus
    * the query-set means and the retrain verdict.
    *
    * Retrain threshold (documented operator contract): retrain when the
    * stale index either loses ≥ 0.05 mean recall@k against fresh, or
    * scans > 2× the fresh per-query candidates (the degenerate-cell
    * signal — appended data cramming into few stale cells drives scan
    * cost toward brute force long before recall collapses, because
    * exact re-scoring hides truncation until the mode outgrows nprobe
    * cells). Both signals are measured and hash-checked — the dynamic
    * oracle replays codebooks, assignment, probing, re-scoring and the
    * verdict bit-for-bit.
    *
    * Scale posture: the monitor is a SAMPLE-SIZED decision loop — fresh
    * training uses the same bounded driver sample as every codebook
    * here; assignment is the narrow fused CentroidDists pass; the query
    * set is bounded (≤ 2·MaxQueries: each base query slot contributes
    * its drifted twin); candidate re-scoring touches only probed cells;
    * the only corpus-sized work is the exact ground-truth pass, which
    * is the price of MEASURING recall (run it on a sampled query set —
    * exactly what this does — not per production query).
    */
  def c3AnnStaleness(spark: SparkSession, dir: String): DataFrame = {
    // Both codebooks at the one resolved cell count of the stored layout.
    val ann = ensureAnnIndex(spark, AnnLayout.fixed(spark, dir))
    val (staleCents, _) = ann.model(spark)
    val grown = grownCorpus(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freshCents = coarseCodebook(grown, ann.cells)
    val isQ = isQuery(col("vec_id") % lit(DriftIdOffset), AnnQueryMod)
    val queries = grown.filter(isQ)
      .select(col("vec_id").as("q_id"), col("embD").as("q_emb"))
    // NOT persisted here: recallHits persists its ground-truth side for
    // the result's lifetime, and both hits() calls below pass this same
    // frame — one compute, four branch reads.
    val bf = topK(exact(grown.select(col("vec_id").as("b_id"), col("embD").as("b_emb")),
      queries, cosineScore), TopK).select(col("q_id"), col("b_id"))
    val candS = ivfCandidates(grown, isQ, staleCents, AnnNprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candF = ivfCandidates(grown, isQ, freshCents, AnnNprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def scan(cand: DataFrame, as: String): DataFrame =
      cand.groupBy(col("q_id")).agg(count(lit(1)).as(as))
    def hits(cand: DataFrame, as: String): DataFrame =
      recallHits(rescoreTopK(cand, grown, isQ).select(col("q_id"), col("b_id")), bf)
        .withColumnRenamed("n_hits", as)
    def meanScan(nCand: String): Column =
      round(sum(col(nCand)).over(querySet).cast("double") / count(lit(1)).over(querySet), 6)
    val joined = queries.select(col("q_id"))
      .join(scan(candS, "n_cand_stale"), Seq("q_id"), "left")
      .join(scan(candF, "n_cand_fresh"), Seq("q_id"), "left")
      .join(hits(candS, "n_hits_stale"), Seq("q_id"), "left")
      .join(hits(candF, "n_hits_fresh"), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_cand_stale"), lit(0L)).as("n_cand_stale"),
        coalesce(col("n_cand_fresh"), lit(0L)).as("n_cand_fresh"),
        coalesce(col("n_hits_stale"), lit(0L)).as("n_hits_stale"),
        coalesce(col("n_hits_fresh"), lit(0L)).as("n_hits_fresh"))
      // query-set means: integer sums under the window, ONE double
      // division each (no float fold order in the hash)
      .withColumn("recall_stale", recall(col("n_hits_stale")))
      .withColumn("recall_fresh", recall(col("n_hits_fresh")))
      .withColumn("mean_recall_stale", meanRecall(col("n_hits_stale")))
      .withColumn("mean_recall_fresh", meanRecall(col("n_hits_fresh")))
      .withColumn("mean_scan_stale", meanScan("n_cand_stale"))
      .withColumn("mean_scan_fresh", meanScan("n_cand_fresh"))
      .withColumn("retrain",
        (col("mean_recall_stale") + lit(0.05) < col("mean_recall_fresh")) ||
          (col("mean_scan_stale") > lit(2.0) * col("mean_scan_fresh")))
      .orderBy("q_id")
    graft.util.CacheScope.releaseAfterMaterialize(joined, Seq(grown, candS, candF))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c2_incremental_semantic" ->
      ((s: SparkSession, d: String) => c2IncrementalSemantic(s, d)),
    "c2_incremental_semantic_topc" ->
      ((s: SparkSession, d: String) => c2IncrementalSemanticTopc(s, d)),
    "c3_cosine_topk" -> ((s: SparkSession, d: String) => c3CosineTopK(s, d)),
    "c3_range_search" -> (c3RangeSearch _),
    "c3_knn_classify" -> (c3KnnClassify _),
    "c3_ann_lsh" -> (c3AnnLsh _),
    "c3_ann_ivf" -> (c3AnnIvf _),
    "c3_ann_pq" -> ((s: SparkSession, d: String) => c3AnnPq(s, d)),
    "c3_ann_pq_indexed" -> ((s: SparkSession, d: String) => c3AnnPqIndexed(s, d)),
    "c3_ann_pq_filtered" -> (c3AnnPqFiltered _),
    "c3_knn_join" -> (c3KnnJoin _),
    "c3_ann_recall" -> (c3AnnRecall _),
    "c3_ann_ivf_recall" -> (c3AnnIvfRecall _),
    "c3_ann_pq_recall" -> (c3AnnPqRecall _),
    "c3_ann_filtered_recall" -> (c3AnnFilteredRecall _),
    "c3_ann_pq_filtered_adaptive" -> (c3AnnPqFilteredAdaptive _),
    "c3_ann_staleness" -> (c3AnnStaleness _),
    "c3_norm_stats" -> (c3NormStats _),
    "c3_cluster_profile" -> (c3ClusterProfile _),
    "c3_ann_cells" -> (c3AnnCells _)
  )
}
