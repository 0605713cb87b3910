package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{DedupOps, EventOps, MultiModalOps, PipelineOps, RefParity, Relational, SimOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory (SURVEY.md §2.3):
  * Group A (reference parity through the MRJob kernel), Group B
  * (relational surface), Group C (training-data pipeline extensions).
  * Every SQL-expressible query has a DuckDB oracle in `oracleSql`;
  * non-SQL-expressible ones (LSH variants, lang-id) get the driver's
  * rows-only check and are covered by ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own shipped example (char count, word_count.cc) run
    * through the MRJob kernel.
    */
  def entry(spark: SparkSession): DataFrame =
    RefParity.mrCharCount(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefParity.queries ++ Relational.queries ++ TextOps.queries ++
      DedupOps.queries ++ SimOps.queries ++ EventOps.queries ++
      MultiModalOps.queries ++ PipelineOps.queries ++
      graft.streaming.EventStream.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    RefParity.oracle ++ Relational.oracle ++ TextOps.oracle ++
      DedupOps.oracle ++ SimOps.oracle ++ EventOps.oracle ++
      MultiModalOps.oracle ++ PipelineOps.oracle ++
      graft.streaming.EventStream.oracle

  /** One-time physical layouts some queries depend on (the b8 bucketed
    * join tables and partitioned events copy, the persisted ANN index).
    * Idempotent; fingerprint-keyed per corpus. Bench runs these UNTIMED
    * before the timed passes so a timed query measures steady-state
    * cost, not the one-time layout write — the same separation a real
    * deployment has (layouts are built at ingest, queries run against
    * them). `appliesTo` names the queries that read the layout, so a
    * filtered bench run (SPARK_GRAFT_ONLY) skips warmups none of its
    * queries need.
    */
  final case class Warmup(name: String, appliesTo: String => Boolean,
      run: (SparkSession, String) => Unit)

  def warmups: Seq[Warmup] = Seq(
    Warmup("b8_layouts", _.startsWith("b8"),
      (s, d) => Relational.warmLayouts(s, d)),
    Warmup("ann_index",
      Set("c3_ann_pq_indexed", "c3_ann_pq_filtered",
        "c3_ann_staleness", "c3_ann_cells").contains(_),
      (s, d) => { SimOps.ensureAnnIndex(s, SimOps.AnnLayout.fixed(s, d)); () }),
    // The incremental-semantic family reads the corpus-SCALED index
    // (≈√n cells — its batch is a corpus fraction; see
    // SimOps.AnnLayout.scaled), a separate persisted layout.
    Warmup("ann_index_scaled",
      Set("c2_incremental_semantic", "c5_stream_semantic",
        "c2_incremental_semantic_topc", "c5_stream_semantic_topc",
        "c5_stream_semantic_live").contains(_),
      (s, d) => { SimOps.ensureAnnIndex(s, SimOps.AnnLayout.scaled(s, d)); () }),
    Warmup("dedup_index", _ == "c2_incremental_dedup_indexed",
      (s, d) => { DedupOps.ensureDedupIndex(s, d); () }),
    Warmup("dedup_labels", _ == "c2_incremental_cc",
      (s, d) => { DedupOps.ensureDedupLabels(s, d); () }),
    Warmup("quality_model", _ == "c4_quality_model",
      (s, d) => { TextOps.ensureQualityModel(s, d); () }),
    // The trained-tokenizer layout: encode/budget queries APPLY a
    // tokenizer (trained once per corpus, the production shape); the
    // training cost itself stays timed in c4_bpe_merges.
    Warmup("bpe_vocab",
      Set("c4_bpe_encode", "c7_token_budget_bpe").contains(_),
      (s, d) => { TextOps.ensureBpeVocab(s, d); () }),
    // The reference n-gram model layout (unigram/bigram/trigram counts
    // + (T, V) over the rule-keep slice): trained once per corpus, read
    // by every reference-model scorer. The self-scored c4_lm_ppl keeps
    // its training timed in-query (the train loop is its subject).
    Warmup("lm_ref_model",
      Set("c4_lm_ppl_ref", "c4_lm_ppl3", "c4_lm_ppl3_cutoff",
        "c7_ppl_filter", "c7_pipeline_v3",
        "c7_dataset_card_v2").contains(_),
      (s, d) => { TextOps.ensureLmRefModel(s, d); () }))

  /** Oracle SQL whose text depends on data-trained plan literals (e.g.
    * the IVF codebook): generated against the verify-time tables, merged
    * into oracle_sql.json by Verify. Same correctness contract as
    * `oracleSql` — DuckDB replays the full query downstream of training.
    */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] =
    SimOps.dynamicOracle(spark, sfDir)
}
