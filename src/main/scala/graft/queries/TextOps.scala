package graft.queries

import graft.Tables
import graft.sources.Storage
import graft.text.LangId
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group C (text) — dedup + text-analysis operators a training-data
  * pipeline needs over the `documents` table (SURVEY.md §2.3 C1/C4).
  *
  * Everything is built from codegen'd `functions._` (split / higher-order
  * filter / md5) — no Scala UDFs in the hot path — so the plans stay inside
  * WholeStageCodegen and scale linearly with input splits: tokenization and
  * hashing are narrow (per-row), and only the final small aggregates
  * shuffle.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Fixed query parameters: each is written once here, used by the
    * Spark plan and rendered as the same digits by the oracle replay.
    */
  private[queries] val NgramTopK = 5 // c4_ngram_top, per language
  private[queries] val TfidfTopK = 5 // c4_tfidf, per document
  private[queries] val PmiWindow = 3
  private[queries] val PmiMinCount = 5
  private[queries] val PmiTopK = 50
  private[queries] val VocabBuckets = 10 // c4_vocab_growth corpus slices
  private[queries] val ZipfTopK = 50
  private[queries] val ChunkWindow = 64 // c4_chunk tokens per chunk
  private[queries] val ChunkStride = 48
  private[queries] val HeavyHitterCap = 199 // Misra–Gries counters
  /** Substring-span analysis: anchor width and the 2..maxOcc expansion
    * cap (c4_substring_*, c7_decontaminate_span, the pipeline scrub).
    */
  private[queries] val SpanWindow = 16
  private[queries] val SpanMaxOcc = 16

  /** C1: exact deduplication by content hash. One narrow md5 + one shuffle
    * on the hash; at 100 TB the group-by key is the 128-bit digest, never
    * the document body.
    */
  def c1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("first_doc_id"), count(lit(1)).as("n_copies"))
      .select(md5(col("text")).as("text_hash"), col("first_doc_id"), col("n_copies"))
      .orderBy("first_doc_id")

  /** C4a: corpus statistics per (lang, source). */
  def c4TextStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        avg(col("n_tokens")).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang", "source")

  /** C4j: per-document LEXICAL DIVERSITY — the repetition/diversity
    * signals a curation pipeline filters on (boilerplate and
    * template-generated text score low): Gini–Simpson index
    * 1 − Σ c_t²/n², top-token ratio max(c_t)/n, and type–token ratio.
    * All three are RATIONAL in the token counts, computed as exact
    * int64 sums and divided once per row — unlike Shannon entropy
    * (whose per-term log2 is not guaranteed correctly-rounded across
    * libms, so a half-million-term corpus would hash-flip at rounding
    * boundaries), these match the DuckDB replay bit-for-bit with no
    * float discipline needed beyond the final round. Two partial-agg
    * shuffles — (doc, token) then doc — both narrow.
    */
  def c4Diversity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"),
        max(col("c")).as("max_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(lit(1.0) - col("sum_c2").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double"), 6).as("simpson"),
        round(col("max_c").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_token_ratio"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("type_token_ratio"))
      .orderBy("doc_id")

  private[queries] val stopwords = Seq("the", "a", "of", "to", "in", "and", "is")
  private[queries] val stopArr: Column = array(stopwords.map(lit): _*)
  private val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** The adjacent-token window: `f(toks[i], toks[i + off])` for every
    * in-range i, as ONE narrow zip of the array with its own off-shifted
    * tail (no positional self-join; empty when the array has ≤ off
    * elements). Every word bigram and the BPE trainer's symbol pairs
    * are `off = 1`; c4_pmi's ±window pairs are `off = 1..PmiWindow`.
    */
  private def adjacent(toks: Column, off: Int = 1)(
      f: (Column, Column) => Column): Column = {
    val n = greatest(size(toks) - off, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(1 + off), n), f)
  }

  /** Space-joined word bigrams `"a b"` of a token array. */
  private def bigrams(toks: Column): Column =
    adjacent(toks)((a, b) => concat(a, lit(" "), b))

  /** Trigram events `struct(u, v, w)` of a token array (empty below 3
    * tokens) — the order-3 LM's training and scoring unit.
    */
  private def trigrams(toks: Column): Column = {
    val n = greatest(size(toks) - 2, lit(0))
    zip_with(
      zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
        (a, b) => struct(a.as("u"), b.as("v"))),
      slice(toks, lit(3), n),
      (p, c) => struct(p.getField("u").as("u"), p.getField("v").as("v"), c.as("w")))
  }

  /** Per-doc `(doc_id, n_bigrams, n_dup)` over a `(doc_id, text)` frame:
    * bigram occurrences, and the occurrences of bigrams repeated within
    * the same doc — two partial-agg shuffles, (doc, bigram) then doc. A
    * doc with fewer than 2 tokens has no bigram and so no row.
    */
  private[queries] def dupBigramStats(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(bigrams(split(col("text"), " "))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("n_dup"))

  /** C4b: per-document quality scoring — token count, mean token length,
    * stopword ratio, and a quality flag. All ratios are exact integer
    * divisions done once per row, so the oracle matches bitwise.
    */
  def c4QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    docs(spark, dir)
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stop",
        size(filter(toks, t => array_contains(stopArr, t))))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-z]", "")))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("alpha_chars").cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        (col("n_tokens") >= 40 && col("n_stop") > 0).as("is_quality"))
      .orderBy("doc_id")
  }

  /** C4c: document fingerprint — hash of the sorted distinct token set
    * (order-insensitive content signature, the cheap cousin of MinHash).
    */
  def c4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
          .as("fingerprint"))
      .orderBy("doc_id")

  /** C4f: polynomial rolling hash (Rabin–Karp) over the character
    * stream — the order-SENSITIVE fingerprint complementing
    * c4_fingerprint's order-insensitive set hash. Pure sequential HOF
    * fold, mod a prime so both engines stay in exact BIGINT range.
    */
  def c4RollingHash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        aggregate(
          transform(split(col("text"), ""), c => ascii(c).cast("long")),
          lit(0L),
          (acc, c) => (acc * 31L + c) % 1000000007L).as("rolling_hash"))
      .orderBy("doc_id")

  /** C4e: token counting — whitespace tokens plus a BPE-ish sub-token
    * count via a regex lexer (letter runs / digit runs / single
    * punctuation, the usual pre-tokenization shape). `regexp_count` is
    * codegen'd, so this is a pure narrow projection.
    */
  def c4TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("bpe_ish_tokens"),
        length(col("text")).as("n_bytes"))
      .orderBy("doc_id")

  /** C4g: top-k word bigrams per language — the n-gram vocabulary-mining
    * shape (explode n-grams → count → per-group top-k). The bigram
    * construction is a narrow zip of the token array with its own tail;
    * the count shuffles on (lang, bigram) with map-side partial
    * aggregation, and the top-k is a bounded window over the (small)
    * per-language count table. Ties broken by bigram text in both
    * engines.
    */
  def c4NgramTop(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("lang"), explode(bigrams(split(col("text"), " "))).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))
    counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NgramTopK)
      .select("lang", "rank", "bigram", "cnt")
      .orderBy("lang", "rank")
  }

  /** The product path at 100 TB: ONE bounded-memory sketch pass over a
    * token column — no full-vocabulary shuffle anywhere (the partial
    * buffers carry ≤ cap counters each; the merged sketch is a single
    * ≤ cap-entry driver row). Returns (sketch estimates, stream length):
    * for every token with true frequency > n/(cap+1) the sketch holds an
    * entry with `freq − n/(cap+1) ≤ estimate ≤ freq` (the Misra–Gries
    * guarantee), so the keys are a complete heavy-hitter candidate set.
    */
  def heavyHitterSketch(tokens: DataFrame, cap: Int): (Map[String, Long], Long) = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(tokens.columns.head).as("tok")).as[String]
      .select(graft.functions.MisraGriesAggregator.sketch(cap),
        count(lit(1)).as[Long])
      .head()
  }

  /** First-class heavy-hitter candidates from the sketch pass alone —
    * what a scale caller runs INSTEAD of the exact verification query:
    * per candidate token, the estimate (a lower bound on its true
    * frequency), the MG upper bound `estimate + n div (cap+1)`, and
    * whether the token is GUARANTEED heavy (estimate·(cap+1) > n — true
    * frequency ≥ estimate, so no exact pass is needed to act on it).
    * Every truly-heavy token is present; entries with
    * guaranteed_heavy = false are the candidate sliver an exact
    * confirm pass (e.g. [[c4HeavyHitters]]'s) would resolve.
    */
  def heavyHitterCandidates(spark: SparkSession, dir: String,
      cap: Int = HeavyHitterCap): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val (sketch, n) = heavyHitterSketch(toks, cap)
    sketch.toSeq.toDF("tok", "est_freq")
      .select(col("tok"), col("est_freq"),
        (col("est_freq") + lit(n / (cap + 1))).as("freq_upper"),
        (col("est_freq") * (cap + 1) > lit(n)).as("guaranteed_heavy"))
      .orderBy("tok")
  }

  /** C4i: heavy hitters via the Misra–Gries mergeable sketch
    * ([[graft.functions.MisraGriesAggregator]]) — the bounded-memory
    * scale path for frequent-token mining (exact `groupBy(token)` must
    * shuffle the whole vocabulary; the sketch shuffles ≤ cap counters
    * per partial buffer). The sketch CONTENTS depend on merge order, so
    * the query emits the order-INDEPENDENT facts: the deterministic set
    * of guaranteed-heavy tokens (exact freq·(cap+1) > n — integer
    * arithmetic, no float threshold) with exact counts, plus the three
    * MG guarantees evaluated in-plan against the actual sketch
    * (membership, no-overcount, bounded undercount). DuckDB supplies
    * the exact side and literal TRUE — a buggy sketch breaks the hash
    * (the b2_agg_approx pattern). The sketch itself is one bounded
    * aggregate (≤ cap entries to the driver, embedded as a map literal).
    */
  def c4HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val cap = HeavyHitterCap
    val toks = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    // One fused pass computes the sketch AND the stream length; the
    // exact full-vocabulary aggregate below exists only to make the
    // sketch guarantees hash-checkable — the scale caller runs
    // [[heavyHitterCandidates]] and never pays it.
    val (sketch, n) = heavyHitterSketch(toks, cap)
    val est = typedLit(sketch)
    // try_element_at, not element_at: under ANSI mode (Spark 4 default)
    // element_at THROWS on a missing map key — a guarantee violation
    // must surface as a hash mismatch (in_sketch = false), not a crash.
    toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * (cap + 1) > lit(n))
      .select(col("tok"), col("freq"),
        try_element_at(est, col("tok")).isNotNull.as("in_sketch"),
        (coalesce(try_element_at(est, col("tok")), lit(0L)) <= col("freq"))
          .as("no_overcount"),
        ((col("freq") - coalesce(try_element_at(est, col("tok")), lit(0L)))
          * (cap + 1) <= lit(n)).as("within_bound"))
      .orderBy("tok")
  }

  /** C4h: duplicated-n-gram ratio — the C4/Gopher boilerplate heuristic:
    * the fraction of a document's bigram occurrences that belong to a
    * bigram repeated within the same document. High ratios flag
    * templated/repetitive text for pipeline filtering. Two narrow
    * explodes + per-doc aggregation; the ratio is one exact
    * integer-over-integer double division, so the oracle matches bitwise.
    */
  def c4DupNgrams(spark: SparkSession, dir: String): DataFrame =
    dupBigramStats(docs(spark, dir))
      .select(col("doc_id"), col("n_bigrams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_bigrams")).as("dup_ratio"))
      .orderBy("doc_id")

  /** C4k: per-document top-k TF-IDF terms — the keyword-extraction shape
    * every curation/indexing pipeline runs (salient-term mining, topic
    * tagging, boilerplate-term suppression). Uses the raw-idf variant
    * `tfidf = (tf · N) / (df · n_tok)` — RATIONAL in four exact int64
    * counts, so one double division matches the DuckDB replay bitwise
    * (the usual `ln(N/df)` idf is rank-equivalent per term but
    * transcendental; see c4_diversity's note on libm reproducibility).
    *
    * Scale shape: term counts and document frequencies are two
    * partial-agg shuffles; the df table joins back on `tok` as a SHUFFLE
    * join (pinned — at 100 TB the vocabulary is 10⁹+ terms and must
    * never broadcast); the doc count is a 1-row broadcast; the top-k is
    * a per-doc window bounded by per-doc vocabulary, pruned to k rows
    * per partition by WindowGroupLimit before the shuffle.
    */
  def c4Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tc = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val perDoc = tc.groupBy("doc_id").agg(sum(col("tf")).as("n_tok"))
    val dft = tc.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tc
      .join(perDoc, "doc_id")
      .join(dft.hint("shuffle_hash"), "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        (col("tf") * col("n_docs")).cast("double") /
          (col("df") * col("n_tok")).cast("double"), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfTopK)
      .select("doc_id", "rk", "tok", "tf", "df", "tfidf")
      .orderBy("doc_id", "rk")
  }

  /** C4l: collocation mining — corpus-wide top-k co-occurring token
    * pairs within a ±[[PmiWindow]] position window, ranked by the PMI lift
    * `(c_ab/P) / ((c_a/n)(c_b/n))` (PMI = ln(lift); ranking by lift is
    * rank-equivalent and keeps the score rational — same libm argument
    * as [[c4Tfidf]]). Pairs are canonically ordered (least, greatest) so
    * both directions merge.
    *
    * Scale shape: pair generation is a NARROW per-row zip of the token
    * array with its own k-shifted tails (no positional self-join — the
    * join-based formulation shuffles O(window · tokens) rows; this
    * shuffles only the aggregated pair counts). Unigram counts re-attach
    * by shuffle join (vocabulary never broadcasts); the two grand
    * totals are 1-row broadcasts. The global top-k is WindowGroupLimit-
    * pruned to k per partition before the single final sort.
    */
  def c4Pmi(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val pairCols = (1 to PmiWindow).map { off =>
      adjacent(toks, off)((a, b) => concat(least(a, b), lit(" "), greatest(a, b)))
    }
    val pc = docs(spark, dir)
      .select(explode(concat(pairCols: _*)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_ab"))
    val uc = docs(spark, dir)
      .select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_tok"))
    val nTok = broadcast(uc.agg(sum(col("c_tok")).as("n")))
    val nPair = broadcast(pc.agg(sum(col("c_ab")).as("p")))
    val scored = pc
      .filter(col("c_ab") >= PmiMinCount)
      .select(
        element_at(split(col("pair"), " "), 1).as("w1"),
        element_at(split(col("pair"), " "), 2).as("w2"),
        col("c_ab"))
      .join(uc.select(col("tok").as("w1"), col("c_tok").as("c_w1"))
        .hint("shuffle_hash"), "w1")
      .join(uc.select(col("tok").as("w2"), col("c_tok").as("c_w2"))
        .hint("shuffle_hash"), "w2")
      .crossJoin(nTok).crossJoin(nPair)
      // association order mirrored verbatim in the oracle: the int64
      // counts are exact, so identical double op order => identical bits
      .withColumn("lift", round(
        col("c_ab").cast("double") * col("n") * col("n") /
          (col("p").cast("double") * col("c_w1") * col("c_w2")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift").desc, col("w1"), col("w2"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PmiTopK)
      .select("rk", "w1", "w2", "c_ab", "c_w1", "c_w2", "lift")
      .orderBy("rk")
  }

  /** C4d: heuristic language ID via stopword/character n-gram scoring —
    * argmax over per-language evidence. Oracle-checked: the scoring table
    * (LangId.functionWords) is embedded in the generated DuckDB SQL, which
    * replays tokenization, per-language evidence, CJK counting, and the
    * (score, code) argmax tie-break. Accuracy on real-language fixtures is
    * additionally asserted in LangIdSpec.
    */
  def c4LangId(spark: SparkSession, dir: String): DataFrame =
    LangId.detect(docs(spark, dir), col("text"))
      .select(col("doc_id"), col("detected_lang"), col("lang_score"))
      .orderBy("doc_id")

  /** CTE chain ending in `b(doc_id, nt, best)` — shared by the langid
    * oracle and the c7_curate composition oracle (PipelineOps).
    */
  private[queries] def langIdCtes: String = {
    val langs = LangId.functionWords.keys.toSeq.sorted
    // SQL-escape each word: a function word containing an apostrophe
    // (e.g. a French elision like l'on) must not corrupt the generated
    // oracle text.
    def words(l: String): String =
      LangId.functionWords(l)
        .map(w => s"'${w.replace("'", "''")}'").mkString("[", ",", "]")
    val scoreCols = langs.map { l =>
      val base = s"CAST(len(list_filter(toks, t -> list_contains(${words(l)}, t))) AS BIGINT)"
      val s = if (l == "zh") s"$base + cjk" else base
      s"struct_pack(score := $s, code := '$l') AS s_$l"
    }.mkString(", ")
    "t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks, " +
      "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk " +
      "FROM documents), " +
      s"s AS (SELECT doc_id, greatest(len(toks), 1) AS nt, $scoreCols FROM t), " +
      "b AS (SELECT doc_id, nt, " +
      s"list_max([${langs.map("s_" + _).mkString(", ")}]) AS best FROM s)"
  }

  /** DuckDB replay of LangId.detect: same function-word lists, same
    * `\s+` tokenization of lower(text), same CJK regexp count, same
    * struct-max tie-break (score first, then language code — DuckDB
    * struct comparison is field-order lexicographic like Spark's).
    */
  private def langIdOracle: String =
    s"WITH $langIdCtes " +
      "SELECT doc_id, struct_extract(best, 'code') AS detected_lang, " +
      "CAST(struct_extract(best, 'score') AS DOUBLE) / nt AS lang_score " +
      "FROM b ORDER BY doc_id"

  /** C4m: vocabulary-growth curve (Heaps' law profile) — how many NEW
    * unigram and bigram types each successive tenth of the corpus
    * contributes, plus the cumulative vocabulary size. The
    * corpus-health analytic run before tokenizer training and dedup
    * threshold tuning: a flattening curve means the crawl is saturating
    * (mostly duplicate phrasing); a linear one means vocabulary is
    * still being discovered. First occurrence = min doc_id per type —
    * deterministic, engine-independent.
    *
    * Scale posture: two partial-agg shuffles (per-type min over the
    * exploded token stream, then per-bucket count over the O(vocab)
    * type table); the cumulative sum is a window over ≤[[VocabBuckets]] rows
    * per gram and the max-id normalizer is a broadcast 1-row aggregate.
    * Nothing corpus-sized is windowed or collected.
    */
  def c4VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val uni = docs(spark, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .withColumn("gram", lit("uni"))
    val bi = docs(spark, dir)
      .select(col("doc_id"), explode(bigrams(toks)).as("term"))
      .withColumn("gram", lit("bi"))
    val first = uni.unionByName(bi)
      .groupBy(col("gram"), col("term"))
      .agg(min(col("doc_id")).as("first_doc"))
    val maxId = broadcast(docs(spark, dir).agg(max(col("doc_id")).as("max_id")))
    val growth = first.crossJoin(maxId)
      .withColumn("bucket", least(lit(VocabBuckets - 1).cast("long"),
        expr(s"(first_doc * $VocabBuckets) div (max_id + 1)")).cast("long"))
      .groupBy(col("gram"), col("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    growth.withColumn("cum_vocab", sum(col("new_terms")).over(w))
      .orderBy("gram", "bucket")
  }

  /** C4n: empirical Zipf profile of the corpus unigram distribution —
    * the top-k terms by frequency with rank, the normalized Zipf ratio
    * `freq·rank / freq(1)` (≈ constant 1 under an exact Zipf law; its
    * drift quantifies how far the corpus deviates), and the cumulative
    * token-mass coverage of the top ranks. The companion analytic to
    * [[c4VocabGrowth]]: Heaps profiles type DISCOVERY over corpus
    * position, this profiles type CONCENTRATION over frequency rank —
    * together the two standard tokenizer-budget / crawl-health curves.
    *
    * Every output is rational in exact int64 counts (freq·rank and the
    * rank-window cumsum are exact; each row does ONE double division,
    * then rounds) — the [[c4Diversity]] no-log discipline, chosen over a
    * least-squares log-log slope precisely because per-term `ln` is not
    * correctly-rounded across libms and would hash-flip the oracle.
    *
    * Scale posture: one (token) partial-agg shuffle for the frequency
    * table, then `TakeOrdered` for the top-k (bounded heap per
    * partition + driver merge of k·partitions rows — no vocab-sized
    * single-task window); the rank window and cumsum run over the ≤k
    * collected rows, and the two 1-row normalizers (total tokens, f1)
    * are broadcast cross joins on a k-row side (the allowlisted shape).
    */
  def c4Zipf(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // limit after orderBy = TakeOrdered: each partition keeps a k-heap,
    // the driver merges — the scale-safe global top-k (no full-vocab
    // window through one task).
    val top = freq.orderBy(col("freq").desc, col("tok")).limit(ZipfTopK)
    val tot = tok.agg(count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok"))
    val cw = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    // Both windows run over the ≤k-row TakeOrdered output — bounded by
    // construction, not by data.
    val ranked = top
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("cum_freq", sum(col("freq")).over(cw))
    val f1 = ranked.agg(max(when(col("rank") === 1, col("freq"))).as("f1"))
    ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(f1))
      .select(col("rank"), col("tok"), col("freq"),
        round((col("freq") * col("rank")).cast("double") / col("f1"), 6)
          .as("zipf_ratio"),
        round(col("cum_freq").cast("double") / col("n_total"), 6)
          .as("coverage"))
      .orderBy("rank")
  }

  /** Round caps for the batched BPE trainer: each round scans the top
    * [[BpeCandCap]] pairs in rank order and accepts up to [[BpeBatchCap]]
    * symbol-disjoint merges (the top-64 candidates alone are dominated
    * by pairs sharing the most frequent symbols — scanning 4× deeper
    * roughly triples the accepted batch on a realistic vocabulary), so
    * 24 rounds support ≥100 effective merges on the gate corpora (which
    * exhaust — every word one token — at ~111) and up to 1536 on a real
    * vocabulary. Shared by the engine loop and the oracle replay; they
    * must agree.
    */
  private[queries] val BpeRounds = 24
  private[queries] val BpeBatchCap = 64
  private[queries] val BpeCandCap = 256

  /** Input-size gate for the trainer's vocab-sizing pre-pass. Sized so
    * that a SKIPPED corpus cannot reach the measured-OOM type density
    * even at the sparse corpus's types-per-byte rate (~0.1 types/byte:
    * sf1-sparse is 0.82M types in 8.6 MB): 4 MB ⇒ ≤ ~0.4M types ⇒
    * ≤ ~13k types/partition at the 32-partition default — half the
    * proven-safe 26k density, nowhere near the 100k OOM band. The gate
    * corpora (≤0.6 MB) are untouched; sf1-scale corpora now pay one
    * cheap HLL pre-pass (~1 s) for the guarantee.
    */
  private[queries] val BpeSizingBytes = 4L * 1024 * 1024

  /** Loop shuffle width for `approxTypes` word types: ~25k types per
    * partition — the density measured safe at 8 g (sf1-sparse trains at
    * 26k/partition; 331k/partition OOMs the round-1 cache unroll and
    * 100k/partition still does: the per-task cost is cache unroll PLUS
    * the pair-count partial hash map PLUS shuffle buffers, concurrently
    * on every core — BASELINE.md round 15). Never below the session
    * setting (small corpora keep their plans), capped at 4096 (the
    * pair-count reduce fan-in stays bounded; beyond that you grow
    * executors, not partitions).
    */
  private[queries] def bpeShufflePartitions(approxTypes: Long, base: Int): Int =
    // cap inside, floor outside: a session already wider than 4096
    // must keep its width (the cap bounds GROWTH, never shrinks)
    math.max(base.toLong, math.min(4096L, approxTypes / 25000L)).toInt

  /** C4p: BPE merge training — the tokenizer-pipeline primitive itself
    * (the [[c4VocabGrowth]]/[[c4Zipf]] curves DIAGNOSE a tokenizer
    * budget; this computes the byte-pair-encoding merge table a
    * tokenizer trains from the corpus). BATCHED rounds of the classic
    * algorithm (Sennrich et al. 2016; batching multiple compatible
    * merges per iteration is the public scale variant — one round-trip
    * over the vocabulary can apply many merges): words become character
    * sequences + an end-of-word marker; each round counts adjacent
    * symbol pairs weighted by word frequency, ranks the top
    * [[BpeBatchCap]] (count desc, left asc, right asc), greedily keeps
    * the rank-order subset whose SYMBOLS are pairwise disjoint (two
    * accepted pairs sharing any symbol could contest the same
    * occurrence — disjointness makes the simultaneous application
    * order-free), and merges every accepted pair's greedy left-to-right
    * non-overlapping occurrences in ONE pass. Output: the merge table
    * (round, rank-within-round, lhs, rhs, merged, pair_count) — exact
    * int64 counts, no floats, hash-stable.
    *
    * Scale posture (the 100 TB shape): the corpus is touched ONCE — the
    * word-frequency aggregate (one partial+final shuffle on the token);
    * every round thereafter runs on the VOCABULARY table, which is
    * O(types), not O(tokens) (Heaps: ≪ corpus). Per round: one
    * partial+final aggregate over vocab·avg_len pair instances, a
    * TakeOrdered(cap) top-k (bounded driver collect — ≤cap rows), the
    * pure-driver disjointness scan over those ≤cap rows, and the batch
    * applied as a narrow codegen'd fold (`functions.aggregate` with a
    * (emitted, held) struct state) with the accepted pairs inlined as a
    * map literal — the "broadcast of the merge batch". A real
    * tokenizer's ~30k merges cost ~30k/cap round-trips instead of 30k:
    * the per-merge price is the round cost divided by the batch size.
    * No window over the vocab, no driver materialization beyond cap
    * rows per round. Each round's vocab persists (MEMORY_AND_DISK,
    * O(types)) with the two-round unpersist window — net-zero cached
    * blocks on return.
    */
  def c4BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _, lastCached) = bpeTrain(spark, dir)
    lastCached.foreach(_.unpersist(blocking = false))
    import spark.implicits._
    merges
      .toDF("merge_round", "merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_round", "merge_rank")
  }

  /** The shared BPE training loop: returns the merge table (round,
    * rank-within-round, lhs, rhs, merged, count), the FINAL per-word
    * vocab (word, freq, seq — the symbol array after all rounds), and
    * the still-cached last-round handle the CALLER must release (the
    * final vocab's lineage runs one fold over it; encode keeps it
    * cached until its result materializes, the merge-table query drops
    * it immediately).
    */
  private[queries] def bpeTrain(spark: SparkSession, dir: String,
      rounds: Int = BpeRounds, materializeFinal: Boolean = false)
      : (Seq[(Int, Int, String, String, String, Long)], DataFrame, Option[DataFrame]) = {
    // The merge automaton is the native BpeMergeSeq expression (one
    // linear Java pass, O(1) hash probe per symbol); the test-side
    // HofTwins.mergeSeqBatchHof is the built-ins twin it is spec-pinned
    // bit-identical to.
    def mergeSeqBatch(accepted: Seq[(String, String)]): Column =
      graft.functions.BpeMergeExpr.bpeMergeSeq(col("seq"), accepted)
    // VOCAB-SIZED partitioning: the loop's per-task structures (the
    // round-k vocab cache unroll, the pair-count partial hash map) are
    // O(types / shuffle.partitions), and a session-constant partition
    // count therefore stops fitting as the vocabulary grows — measured:
    // 10.6M types over 32 partitions (331k/partition) OOMs the default
    // 8 g heap in the round-1 cache unroll, 100k/partition still OOMs,
    // 25k/partition completes (BASELINE.md round 15). On a big corpus one
    // cheap HLL pre-pass (approx_count_distinct over the token stream —
    // partial-agg, tiny output; the exactness of the type count only
    // sizes partitions, never results) picks the loop's shuffle width;
    // small corpora (input below the threshold) skip the pre-pass and
    // keep the session setting, so the gate-scale plans are unchanged.
    val sizedParts: Option[Int] = {
      // Hadoop-FS size (works for local, hdfs://, s3a://, ... — a local
      // java.io.File walk returns 0 for a remote path, which would
      // SILENTLY disable this pre-pass and reopen the big-vocab OOM it
      // exists to close; a missing path fails loudly here instead).
      def bytes(pathStr: String): Long = {
        val p = new org.apache.hadoop.fs.Path(pathStr)
        p.getFileSystem(spark.sessionState.newHadoopConf())
          .getContentSummary(p).getLength
      }
      val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
      if (bytes(s"$dir/documents.parquet") < BpeSizingBytes) None
      else {
        val approxTypes = docs(spark, dir)
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .agg(approx_count_distinct(col("word")).as("t")).head().getLong(0)
        Some(bpeShufflePartitions(approxTypes, base)).filter(_ != base)
      }
    }
    // One corpus pass: word frequencies, then the char-symbol sequence.
    // (split on "" can emit empty strings at the boundary — filter.)
    var vocab = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), concat(
        filter(split(col("word"), ""), x => x =!= ""),
        array(lit("</w>"))).as("seq"))
    // At most TWO rounds' vocab tables are ever cached: round k's persist
    // fills during its pair-count action, after which round k−1's blocks
    // are dead weight — on a big-vocab corpus (the sparse derived sf10s:
    // 8.2M types) keeping all K rounds alive OOMed the 8 g heap, the
    // exact defect this unpersist-as-you-go closes (decade-tested).
    var prevRound: Option[DataFrame] = None
    val persisted = scala.collection.mutable.Buffer[DataFrame]()
    val merges =
      scala.collection.mutable.Buffer[(Int, Int, String, String, String, Long)]()
    // AQE OFF for the round loop: each round persists a plan whose
    // InMemoryRelation nests the previous round's, and an
    // AdaptiveSparkPlanExec prints BOTH its initial and final plans —
    // the cached-plan string then DOUBLES per round (2^24 at full
    // depth: observed OOM building tree strings at persist time, 8 g
    // heap). Without AQE the nested prints are linear. The loop's
    // per-round shuffles are O(types) vocabulary aggregates where AQE
    // has nothing to win; the corpus-sized w0 pass is one partial+final
    // aggregate with a fixed fan-in.
    // SINGLE-THREADED-SESSION ASSUMPTION (documented contract): both
    // overrides below are session-global for the loop's duration — a
    // concurrent query on the same SparkSession would run at the
    // altered width with AQE off. Every harness here (Verify, Bench,
    // specs) runs queries sequentially; a concurrent deployment would
    // confine the loop to a cloned session. The returned final-round
    // vocab is lazy but safe across the restore: it is a NARROW
    // projection over the cached prior round (no shuffle executes
    // caller-side), which is also why it needs no width of its own —
    // and callers that DO execute it post-loop (ensureBpeVocab's layout
    // write) pass materializeFinal = true, which forces it before the
    // restore so even a cache-evicted recompute can never run the
    // training lineage at the restored width.
    // Shuffle partitions are read at ACTION time, so scoping them here
    // covers the initial w0 aggregate (materialized by round 1's
    // pair-count action) and every per-round shuffle; restored with AQE
    // after the materializeFinal force.
    graft.util.SessionConf.withConfs(spark,
        ("spark.sql.adaptive.enabled" -> "false") +:
          sizedParts.map(p => "spark.sql.shuffle.partitions" -> p.toString).toSeq) {
      try {
        var k = 0
        var exhausted = false
        while (k < rounds && !exhausted) {
          k += 1
          vocab = vocab.persist()
          persisted += vocab
          val top = vocab
            .select(col("freq"), explode(adjacent(col("seq"))(
              (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("freq")).as("cnt"))
            .orderBy(col("cnt").desc, col("l"), col("r"))
            .limit(BpeCandCap) // TakeOrdered: bounded heap, ≤candCap rows
            .collect()
          // round k is materialized (the top-cap action above) — the
          // previous round's cached blocks are no longer reachable work
          prevRound.foreach(_.unpersist(blocking = false))
          prevRound = Some(vocab)
          // Rank-order greedy disjointness scan: accept a pair iff neither
          // symbol appears in any earlier-accepted pair, stopping at
          // BpeBatchCap accepted. Pure driver logic over ≤candCap rows —
          // replayed verbatim by the oracle's linear recursive CTE.
          val used = scala.collection.mutable.Set[String]()
          var nAcc = 0
          val accepted = top.iterator
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
            .filter { case (l, r, _) =>
              if (nAcc >= BpeBatchCap || used(l) || used(r)) false
              else { used += l; used += r; nAcc += 1; true }
            }.toSeq
          if (accepted.isEmpty) exhausted = true
          else {
            accepted.zipWithIndex.foreach { case ((l, r, c), i) =>
              merges += ((k, i + 1, l, r, l + r, c))
            }
            vocab = vocab.select(col("word"), col("freq"),
              mergeSeqBatch(accepted.map(t => (t._1, t._2))).as("seq"))
          }
        }
        // materializeFinal: force the final-round vocab's last merge pass
        // to EXECUTE while the sized width / AQE-off confs still hold, so
        // nothing of the training lineage can run post-restore (e.g. a
        // recompute after executor loss evicting the cached prior round —
        // at default width that reopens the big-vocab OOM the sizing
        // exists to close). The count is one narrow pass over cached
        // blocks, O(types); callers that never execute the final vocab
        // after the loop (the merge-table query — its results were
        // collected driver-side above) skip it. The returned cached
        // handle becomes the final vocab itself.
        if (materializeFinal) {
          vocab = vocab.persist()
          persisted += vocab
          vocab.count()
          prevRound.foreach(_.unpersist(blocking = false))
          prevRound = Some(vocab)
        }
      } catch {
        case e: Throwable =>
          persisted.foreach(_.unpersist(blocking = false))
          throw e
      }
    }
    (merges.toSeq, vocab, prevRound)
  }

  /** C4r: sliding-window token CHUNKING — the segmentation primitive a
    * retrieval or pretraining pipeline runs before embedding/packing:
    * each document becomes overlapping windows of [[ChunkWindow]] tokens
    * with stride [[ChunkStride]] (overlap = window − stride), every chunk carrying
    * its 1-based start offset, token count, and the md5 of its
    * space-joined text (the content fingerprint downstream dedup/
    * embedding stages key on — the oracle pins chunk CONTENT through
    * it without shipping chunk strings). A document shorter than one
    * window is a single chunk; chunk starts are 1, 1+stride, …, the
    * last start chosen so the final window reaches the end (ceil
    * integer math, exact in both engines).
    *
    * Scale posture: one narrow per-row pass — split, a bounded
    * `sequence` explode (O(n_tokens/stride) chunks per doc), slice +
    * hash inside whole-stage codegen; output is O(total_tokens/stride)
    * rows of scalars. No shuffle at all until the caller aggregates;
    * the final ORDER BY is the driver-check convention.
    */
  def c4Chunk(spark: SparkSession, dir: String): DataFrame = {
    val (window, stride) = (ChunkWindow, ChunkStride)
    val arr = split(col("text"), " ")
    docs(spark, dir)
      .select(col("doc_id"), arr.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      // k = 0 .. ceil(max(n-window,0)/stride): the last window reaches
      // the document end; shorter docs get exactly one chunk
      .withColumn("k", explode(sequence(lit(0),
        expr(s"CAST((greatest(n - $window, 0) + ${stride - 1}) " +
          s"div $stride AS INT)"))))
      .select(col("doc_id"),
        (col("k") + 1).cast("int").as("chunk_idx"),
        (col("k") * stride + 1).cast("int").as("start_tok"),
        least(lit(window), col("n") - col("k") * stride).cast("int")
          .as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), col("k") * stride + 1, lit(window))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** C4s: chunk-level exact dedup — the boilerplate report at the
    * CHUNK granularity ([[c4Chunk]]'s windows grouped by content
    * fingerprint): every chunk occurring in ≥2 places, with its copy
    * count, distinct-document spread, and the first (doc, offset)
    * occurrence. Document-level dedup ([[c1ExactDedup]]) misses shared
    * paragraphs inside otherwise-distinct documents; this is the
    * operator that finds them — the within-corpus analog of the
    * shingle-level decontamination family.
    *
    * Scale posture: the chunk pass is [[c4Chunk]]'s narrow zero-shuffle
    * projection; the only shuffle is ONE partial+final aggregate keyed
    * by the 128-bit fingerprint (never chunk text), output O(distinct
    * repeated chunks).
    */
  def c4ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    c4Chunk(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_hash"), col("n_copies"), col("n_docs"),
        col("f.doc_id").as("first_doc_id"),
        col("f.chunk_idx").as("first_chunk_idx"))
      .orderBy("first_doc_id", "first_chunk_idx", "chunk_hash")

  /** PII detection patterns — deliberately restricted to the regex
    * subset Java (Spark codegen) and RE2 (DuckDB) interpret identically:
    * character classes, bounded quantifiers, `\b`, `(?:)` — no
    * backreferences or lookaround. Scrub REPLACEMENT ORDER is part of
    * the contract (email → ip → ssn → phone; each later pattern sees the
    * earlier replacements, whose `<CLASS>` tokens contain no digits, so
    * the chain cannot cascade).
    */
  private[queries] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** C4t: PII REDACTION — the curation pass every production pipeline
    * runs before releasing or training on a corpus: detect
    * email/IPv4/SSN/phone-shaped spans, report per-document counts by
    * class (measured on the RAW text, so classes are independent), and
    * emit the md5 fingerprint of the scrubbed text (each span replaced
    * by its `<CLASS>` token in the documented order) — the
    * [[c4Chunk]] hash-pinning trick: the oracle verifies the exact
    * scrubbed BYTES without shipping document bodies through the
    * comparison.
    *
    * Scale posture: one narrow whole-stage-codegen pass per document —
    * four `regexp_count` + a four-step `regexp_replace` chain + one md5;
    * ZERO shuffles before the driver-check ORDER BY. At 100 TB this is
    * scan-bound, exactly what a redaction sweep should be.
    */
  def c4PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$name")
    }
    val scrubbed = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
    }
    docs(spark, dir)
      .select(col("doc_id") +: counts :+ md5(scrubbed).as("scrub_hash"): _*)
      .withColumn("n_pii",
        PiiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
      .orderBy("doc_id")
  }

  /** C4v: ARBITRARY-OFFSET repeated-substring dedup — the Lee et al.
    * "Deduplicating Training Data" analytic [[c4ChunkDedup]] cannot see:
    * a copied paragraph at an unaligned offset hides from stride-aligned
    * windows, while here EVERY token offset anchors a [[SpanWindow]]-token
    * span. Anchors hash with the portable 60-bit md5 prefix (8-byte
    * keys shuffle, never span text), occurrences group per hash,
    * and adjacent matched anchors merge per doc pair along their
    * alignment DIAGONAL (o2−o1) into MAXIMAL repeated spans via
    * gaps-and-islands integer interval algebra. Output: one row per
    * maximal repeated span pair — (doc_a, start_a, doc_b, start_b,
    * span_len ≥ window, anchor count).
    *
    * Scale posture: anchor hashing is a narrow per-row explode
    * (O(n_tokens) windows/doc); the only shuffles key on the 8-byte
    * hash and the bounded (d1, d2, diag) island partition (≤ span
    * length rows). Pair expansion is capped: only anchors with
    * 2..[[SpanMaxOcc]] occurrences expand (Σcnt² ≤ maxOcc·Σcnt — LINEAR in
    * anchors at any duplication density; an ultra-frequent span is
    * boilerplate, the chunk-level report's job — the same
    * frequent-shingle skip the published suffix-array pipeline applies,
    * and the oracle replays the cap verbatim). A span crossing a
    * skipped ultra-frequent interior window splits into two reported
    * spans — the documented approximation.
    */
  def c4SubstringDup(spark: SparkSession, dir: String): DataFrame =
    substringSpansOf(docs(spark, dir))
      .orderBy("doc_a", "start_a", "doc_b", "start_b")

  /** The maximal repeated-span pairs of an arbitrary `(doc_id, text)`
    * set, shared by the REPORT ([[c4SubstringDup]]) and the ACTION
    * ([[c4SubstringScrub]]): columns (doc_a, start_a, doc_b, start_b,
    * span_len, n_anchors), (doc_a, start_a) < (doc_b, start_b)
    * lexicographically. Over a frame rather than the corpus so the
    * curation pipeline (c7_pipeline_v2) can run it over its
    * doc-level-dedup SURVIVORS (a dropped duplicate must not scrub the
    * copy that became the first surviving occurrence).
    */
  private[queries] def substringSpansOf(base: DataFrame): DataFrame = {
    val (window, maxOcc) = (SpanWindow, SpanMaxOcc)
    val toks = split(col("text"), " ")
    val anchors = base
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= window)
      .withColumn("off", explode(sequence(lit(1), col("n") - (window - 1))))
      .select(col("doc_id"), col("off"),
        expr(s"CAST(conv(substr(md5(concat_ws(' ', " +
          s"slice(toks, off, $window))),1,15),16,10) AS BIGINT)").as("h"))
    val cnt = anchors.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").between(2, maxOcc))
    val elig = anchors.join(cnt, "h")
    val pairs = elig.select(col("h"), col("doc_id").as("d1"), col("off").as("o1"))
      .join(elig.select(col("h"), col("doc_id").as("d2"), col("off").as("o2")),
        Seq("h"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("o1") < col("o2")))
      .withColumn("diag", col("o2") - col("o1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d1", "d2", "diag").orderBy("o1")
    pairs
      .withColumn("isl", col("o1") - row_number().over(w))
      .groupBy("d1", "d2", "diag", "isl")
      .agg(min(col("o1")).as("a0"), max(col("o1")).as("a1"),
        count(lit(1)).as("n_anchors"))
      .select(col("d1").as("doc_a"), col("a0").cast("int").as("start_a"),
        col("d2").as("doc_b"),
        (col("a0") + col("diag")).cast("int").as("start_b"),
        (col("a1") - col("a0") + window).cast("int").as("span_len"),
        col("n_anchors"))
  }

  /** C4w: repeated-substring SCRUB — the ACTION half of the Lee et al.
    * analytic ([[c4SubstringDup]] reports the spans; this removes them):
    * for every maximal repeated span, the LATER occurrence (larger
    * (doc, offset) — the keep-first policy curation applies) becomes a
    * removal interval; per document the intervals merge (classic
    * running-max interval union) and the covered tokens drop. Output
    * per document: original/removed token counts, merged-interval
    * count, and the md5 of the space-joined SURVIVING tokens in
    * original order (NULL when nothing survives) — the fingerprint
    * pins the exact scrubbed bytes without shipping text.
    *
    * Scale posture: on top of the span analysis (see
    * [[c4SubstringDup]]), one window over each doc's OWN removal
    * intervals (bounded by doc length), one anti join of exploded
    * token positions against the broadcast-scale merged intervals
    * keyed by doc_id, and one per-doc ordered reassembly aggregate.
    */
  def c4SubstringScrub(spark: SparkSession, dir: String): DataFrame = {
    val merged = mergedScrubIntervals(docs(spark, dir))
    val toks = docs(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = toks.join(merged,
      toks("doc_id") === merged("doc_id") &&
        col("pos") >= col("s") && col("pos") <= col("e"),
      "left_anti")
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("scrub_hash"))
    val nIv = merged.groupBy("doc_id").agg(count(lit(1)).as("n_intervals"))
    docs(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .join(nIv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_intervals"), lit(0L)).as("n_intervals"),
        col("scrub_hash"))
      .orderBy("doc_id")
  }

  /** Merged keep-first removal intervals `(doc_id, s, e)` of the span
    * analysis over `base` — the classic running-max interval union per
    * doc (bounded by doc length), shared by the scrub ACTION and the
    * pipeline's effective-token accounting.
    */
  private def mergedScrubIntervals(base: DataFrame): DataFrame = {
    val rem = substringSpansOf(base)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("span_len") - 1).as("e"))
      .distinct()
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("s", "e")
    rem
      .withColumn("maxe", max(col("e")).over(
        wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("maxe").isNull || col("s") > col("maxe"), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(wDoc))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
  }

  /** Per-doc REMOVED-token counts of the substring scrub over an
    * arbitrary `(doc_id, text)` set: Σ(e−s+1) of the merged intervals —
    * the count needs no token explode (intervals are within-doc by
    * construction), so the pipeline pays only the span analysis plus a
    * model-sized aggregate.
    */
  private[queries] def scrubRemovedCounts(base: DataFrame): DataFrame =
    mergedScrubIntervals(base)
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s") + 1).as("n_removed"))

  /** Feature order of the quality model — scores and the bias fold this
    * list LEFT TO RIGHT in BOTH engines; changing the order changes the
    * IEEE result, so the order is part of the contract.
    */
  private[queries] val QmFeatures: Seq[String] =
    Seq("n_tokens", "alpha_chars", "n_types", "n_stop_types", "max_tok_c")

  /** Per-doc INTEGER feature extraction + the narrow rule label, shared
    * by training and scoring. Every feature is computable in the row
    * scan (no shuffle): the top-token count folds over the SORTED token
    * array (O(len log len) codegen, not the banned O(len²) HOF), and the
    * rule label is the narrow-computable subset of c7_quality_filter's
    * gates (length bounds, mean-word-length bounds, stopword-diversity
    * floor).
    */
  private def qmFeatures(df: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val (nTokens, alpha, nStopTypes) = gateInputs
    // longest run in the sorted array = max occurrence count of any token
    def maxRun(sorted: Column): Column = {
      def st(prev: Column, run: Column, best: Column) =
        struct(prev.as("prev"), run.as("run"), best.as("best"))
      aggregate(sorted,
        st(lit(null).cast("string"), lit(0L), lit(0L)),
        (s, x) => {
          val run = when(x === s.getField("prev"), s.getField("run") + 1L)
            .otherwise(lit(1L))
          st(x, run, greatest(s.getField("best"), run))
        },
        s => s.getField("best"))
    }
    df.select(col("doc_id"), nTokens.as("n_tokens"), alpha.as("alpha_chars"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      nStopTypes.as("n_stop_types"), maxRun(array_sort(toks)).as("max_tok_c"))
      .withColumn("rule_keep",
        ruleGate(col("n_tokens"), col("alpha_chars"), col("n_stop_types")))
  }

  /** Train-and-persist the centroid quality model (the ANN model-table
    * posture, `graft.sources.Storage` fingerprint keying): one aggregate
    * over the corpus produces per-class feature sums (2 bounded rows to
    * the driver), the class means round to 6 dp (exact int64 sums → one
    * IEEE division each), and the stored weights are the class-mean
    * differences — the nearest-class-mean linear classifier, the
    * closed-form one-pass trainer (no iteration, no matrix inversion,
    * nothing order-dependent). Idempotent; returns the model table name.
    */
  private[graft] def ensureQualityModel(spark: SparkSession, dir: String): String =
    Storage.ensureLayout(spark, Storage.layout(
        Seq("graft_qm_"), Seq(s"$dir/documents.parquet"))) { case Seq(tab) =>
      val agg = qmFeatures(docs(spark, dir))
        .groupBy("rule_keep")
        .agg(count(lit(1)).as("cnt"), QmFeatures.map(n => sum(col(n)).as(n)): _*)
        .collect()
      require(agg.length == 2,
        "quality-model training needs both keep and drop examples in the corpus")
      def mus(keep: Boolean): Map[String, Double] = {
        val r = agg.find(_.getBoolean(0) == keep).get
        val cnt = r.getLong(1)
        QmFeatures.zipWithIndex.map { case (n, i) =>
          // same rounding as round(col, 6): HALF_UP on the IEEE quotient
          n -> BigDecimal(r.getLong(i + 2).toDouble / cnt)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
      val (mk, md) = (mus(true), mus(false))
      val session = spark
      import session.implicits._
      QmFeatures.map(n => (n, mk(n), md(n), mk(n) - md(n)))
        .toDF("feature", "mu_keep", "mu_drop", "w")
        .write.mode("overwrite").format("parquet").saveAsTable(tab)
    }.head

  /** C4u: MODEL-BASED quality scoring — the classifier-shaped companion
    * to the rule gate (`c7_quality_filter`): a deterministic linear
    * model (nearest-class-mean over the five integer features, trained
    * by [[ensureQualityModel]]'s closed-form pass and STORED like the
    * ANN codebook) scores every document as w·x + b with the weights
    * embedded as plan literals — the broadcast-weight-vector discipline
    * with the broadcast optimized away entirely. Output: the features,
    * the 6 dp score, the model verdict (score > 0), the rule label it
    * was trained against, and the agreement flag a calibration audit
    * reads.
    *
    * Float discipline: features are exact int64; weights/bias are the
    * same IEEE doubles in both engines (6 dp class means → differences →
    * one fixed LEFT-TO-RIGHT fold in [[QmFeatures]] order), so the raw
    * score is bit-identical and the > 0 verdict can never flip.
    *
    * Scale posture: scoring is ONE narrow whole-stage-codegen projection
    * over the corpus — no join, no aggregate, no exchange but the final
    * driver-check sort (PlanAuditSpec pins exactly that); training cost
    * is one partial+final aggregate, paid once per corpus fingerprint.
    */
  def c4QualityModel(spark: SparkSession, dir: String): DataFrame = {
    val tab = ensureQualityModel(spark, dir)
    val model = spark.table(tab).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // bias of the nearest-mean rule: midpoint projection, same fold order
    // as the score expression
    var acc = 0.0
    QmFeatures.foreach { n =>
      val (muK, muD, w) = model(n); acc = acc + w * (muK + muD)
    }
    val b = -(acc / 2)
    val score = QmFeatures.foldLeft(lit(0.0)) { (c, n) =>
      c + lit(model(n)._3) * col(n)
    } + lit(b)
    qmFeatures(docs(spark, dir))
      .withColumn("score_raw", score)
      .select(col("doc_id") +: QmFeatures.map(col) :+
        round(col("score_raw"), 6).as("score") :+
        (col("score_raw") > 0).as("model_keep") :+ col("rule_keep"): _*)
      .withColumn("agree", col("model_keep") === col("rule_keep"))
      .orderBy("doc_id")
  }

  /** C4s: N-GRAM LM PERPLEXITY scoring — the CCNet/Gopher-style
    * model-based quality signal: train an order-2 (bigram) add-1 LM on
    * the corpus and score every document by its mean per-event negative
    * log-likelihood (and perplexity) under that model. Documents whose
    * token transitions are typical of the corpus score low; a
    * `nll <= threshold` filter is the standard perplexity-based curation
    * pass. (CCNet trains on a REFERENCE corpus and scores the crawl;
    * with one corpus on hand the self-scored variant is the identical
    * machinery — the model side is a parameter.)
    *
    * Model: events are consecutive in-document token pairs (u, w);
    * p(w|u) = (c(u,w) + 1) / (c(u) + V) with V = |vocabulary| and
    * c(u) = Σ_w c(u,w) (derived from the bigram table, no second corpus
    * pass). No BOS sentinel — only real transitions are scored, so
    * single-token documents get nll = 0 / ppl = 1 by definition.
    *
    * Cross-engine float discipline (the c4_pmi/b2_agg_var family): each
    * event's log-prob is scaled to an INT64 micro-log
    * `round(1e6 · ln p)` so the per-doc accumulation is an EXACT integer
    * sum — order-free, no float drift at any corpus size. The only
    * per-event transcendental is one `ln` on bit-identical IEEE inputs
    * in both engines; Java `Math.log` and DuckDB/glibc `ln` disagree by
    * 1 ulp on ~1.3e-4 of inputs (measured over 102k count ratios), and a
    * 1-ulp flip only crosses the micro-int boundary when 1e6·ln p sits
    * within ~2e-9 of a half-integer — joint probability ~3e-13 per
    * DISTINCT count pair, negligible at any SF. Per doc: one exact
    * int64/int64 division rounded 6 dp (nll), one `exp` of that already-
    * rounded double, rounded 4 dp (ppl) — the c6_mm_features precedent.
    *
    * Scale posture: one corpus-sized partial+final aggregate builds the
    * bigram table, context counts are a MODEL-sized aggregate over it,
    * c_u attaches to the bigram rows model-side (model-sized join), and
    * scoring is ONE corpus-sized shuffle join of the event stream
    * against the model keyed by the bigram, then a per-doc partial
    * aggregate. Never all-pairs; the known 100 TB lever is xxhash64
    * bigram join keys (8-byte shuffle instead of pair strings, the
    * c7_decontaminate posture) at the cost of a documented collision
    * bound.
    */
  def c4LmPpl(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), split(col("text"), " ").as("toks"))
    val ev = bigramEvents(d)
    val bg = ev.groupBy("u", "w").agg(count(lit(1)).as("c_uw"))
    val cx = bg.groupBy("u").agg(sum(col("c_uw")).as("c_u"))
    // V collected to the driver — ONE bounded row (the quality-model
    // stored-weights posture): the smoothing denominator embeds as a
    // plan literal, so the scoring join carries no 1-row broadcast
    // nest (PlanAuditSpec bans un-allowlisted BNLJ).
    val v = d.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val model = bg.join(cx.hint("shuffle_hash"), "u")
    lmFinish(d, ev.join(model.hint("shuffle_hash"), Seq("u", "w"))
      .withColumn("li", microLog((col("c_uw") + 1).cast("double") /
        (col("c_u") + lit(v)).cast("double"))))
  }

  /** The bigram event stream `(doc_id, u, w)` of a `(doc_id, toks)`
    * frame: every consecutive in-document token pair.
    */
  private def bigramEvents(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(adjacent(col("toks"))((a, b) => struct(a.as("u"), b.as("w")))).as("e"))
      .select(col("doc_id"), col("e.u").as("u"), col("e.w").as("w"))

  /** One event's int64 micro-log `round(1e6 · ln p)`. */
  private def microLog(p: Column): Column =
    round(lit(1000000.0) * log(p), 0).cast("long")

  /** The LM scorers' shared finish over per-event micro-logs
    * `(doc_id, li, …)`: per doc `n_events`, the scorer's own `counts`
    * (name → aggregate), `s = Σ li` and the nll, then re-attached to
    * every doc of `d` — a doc with no event (fewer tokens than the model
    * order) gets `n_events = 0`, zero counts, `nll = 0.0`, `ppl = 1.0`.
    */
  private def lmFinish(d: DataFrame, events: DataFrame,
      counts: (String, Column)*): DataFrame = {
    val scored = events.groupBy("doc_id")
      .agg(count(lit(1)).as("n_events"),
        counts.map { case (n, c) => c.as(n) } :+ sum(col("li")).as("s"): _*)
      // nll = HALF_UP(-s/n_events) in EXACT integer arithmetic, then one
      // exact-by-construction 6dp division: the former double division
      // round((-s)/(n·1e6), 6) breaks cross-engine exactly when -s/n
      // lands on a half-integer (a real event at sf0.001: -s/n =
      // 4047796.5 — Spark's shortest-repr HALF_UP said ...97, DuckDB's
      // exact-binary round said ...96). The integer form is the same
      // definition with the tie decided before any float exists.
      .withColumn("nll", round(expr(
        "CAST(((0 - s) * 2 + n_events) div (2 * n_events) AS DOUBLE)") /
        lit(1000000.0), 6))
    val zeroed = ("n_events" +: counts.map(_._1)).map(n => coalesce(col(n), lit(0L)).as(n))
    d.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id") +: zeroed :+ coalesce(col("nll"), lit(0.0)).as("nll") :+
        coalesce(round(exp(col("nll")), 4), lit(1.0)).as("ppl"): _*)
      .orderBy("doc_id")
  }

  /** [[lmFinish]] in DuckDB, over a per-event micro-log `<p>sc(doc_id,
    * li, …)`: the per-doc aggregate `<p>ag` (n_events, each count as
    * `name → CAST(sum(src) AS BIGINT)`, `s`) and `<p>ag2` with the
    * integer-exact nll — then `place` puts the SELECT that re-attaches
    * every doc of `docs` after those CTEs.
    */
  private def lmFinishSql(p: String, docs: String, counts: (String, String)*)(
      place: String => String): String = {
    val ag2 = s"${p}ag2"
    s"${p}ag AS (SELECT doc_id, count(*) AS n_events, " +
      counts.map { case (n, src) => s"CAST(sum($src) AS BIGINT) AS $n, " }.mkString +
      s"CAST(sum(li) AS BIGINT) AS s FROM ${p}sc GROUP BY doc_id), " +
      s"$ag2 AS (SELECT doc_id, n_events, " + counts.map(_._1 + ", ").mkString +
      "round(CAST(((0 - s) * 2 + n_events) // (2 * n_events) AS DOUBLE) " +
      s"/ 1000000.0, 6) AS nll FROM ${p}ag)" + place(
      s"SELECT $docs.doc_id, COALESCE($ag2.n_events, 0) AS n_events, " +
        counts.map { case (n, _) => s"COALESCE($ag2.$n, 0) AS $n, " }.mkString +
        s"COALESCE($ag2.nll, 0.0) AS nll, " +
        s"COALESCE(round(exp($ag2.nll), 4), 1.0) AS ppl " +
        s"FROM $docs LEFT JOIN $ag2 USING (doc_id)")
  }

  /** The rule gate's inputs over the `text` column: (n_tokens,
    * alpha_chars, n_stop_types — distinct stopword TYPES present).
    */
  private def gateInputs: (Column, Column, Column) = {
    val toks = split(col("text"), " ")
    (size(toks).cast("long"),
      length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"),
      size(filter(array_distinct(toks), t => array_contains(stopArr, t))).cast("long"))
  }

  /** The narrow-computable rule gate (the c7_quality_filter subset):
    * length bounds, mean-word-length bounds, stopword-diversity floor.
    * It is the quality model's training label and selects the reference
    * LM's training slice; [[ruleGateSql]] is its DuckDB rendering.
    */
  private def ruleGate(nTokens: Column, alpha: Column, nStopTypes: Column): Column =
    nTokens.between(30L, 10000L) &&
      alpha >= nTokens * 2 && alpha <= nTokens * 12 && nStopTypes >= 2L

  private def ruleGateSql(nTokens: String, alpha: String, nStopTypes: String): String =
    s"$nTokens BETWEEN 30 AND 10000 AND $alpha >= $nTokens * 2 " +
      s"AND $alpha <= $nTokens * 12 AND $nStopTypes >= 2"

  /** [[ruleGate]] over a document's `text`. */
  private def ruleKeep: Column = (ruleGate _).tupled(gateInputs)

  /** Train-and-persist the REFERENCE n-gram model (the BPE-vocab /
    * quality-model layout posture): unigram, bigram and trigram count
    * tables plus the (T, V) scalars over the rule-keep slice, keyed by
    * corpus fingerprint so a regenerated corpus retrains and stale
    * layouts sweep. One tokenized pass feeds all four writes. Shared by
    * every reference-model consumer (c4_lm_ppl_ref, c4_lm_ppl3,
    * c7_ppl_filter) — trained once per corpus, the production shape;
    * Bench warms it untimed (cost recorded in BASELINE.md). The
    * self-scored c4_lm_ppl keeps training IN-QUERY: the train loop is
    * that query's subject, the c4_bpe_merges precedent.
    * Returns (unigramTab, bigramTab, trigramTab, scalarsTab).
    */
  private[graft] def ensureLmRefModel(spark: SparkSession, dir: String)
      : (String, String, String, String) = {
    val Seq(un, bg, tg, tv) = Storage.ensureLayout(spark, Storage.layout(
        Seq("graft_lm1_", "graft_lm2_", "graft_lm3_", "graft_lmtv_"),
        Seq(s"$dir/documents.parquet"))) { case Seq(unTab, bgTab, tgTab, tvTab) =>
      val dRef = docs(spark, dir).filter(ruleKeep)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        dRef.select(explode(col("toks")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c1"))
          .write.mode("overwrite").format("parquet").saveAsTable(unTab)
        dRef.select(explode(adjacent(col("toks"))(
            (a, b) => struct(a.as("a"), b.as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c2"))
          .write.mode("overwrite").format("parquet").saveAsTable(bgTab)
        dRef.select(explode(trigrams(col("toks"))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
          .groupBy("u", "v", "w").agg(count(lit(1)).as("c3"))
          .write.mode("overwrite").format("parquet").saveAsTable(tgTab)
        // scalars LAST: their presence implies the count tables landed
        // (the Storage.ensureLayout write-order rule)
        dRef.select(explode(col("toks")).as("tok"))
          .agg(count(lit(1)).as("t"), countDistinct(col("tok")).as("v"))
          .write.mode("overwrite").format("parquet").saveAsTable(tvTab)
      } finally dRef.unpersist(blocking = false)
    }
    (un, bg, tg, tv)
  }

  /** C4s': REFERENCE-trained LM perplexity — the actual CCNet shape:
    * the bigram add-1 LM trains on the CLEAN slice only (the
    * [[ruleKeep]] rule gate, the same label the quality model trains
    * against) and scores EVERY document under that reference model.
    * Unlike the self-scored [[c4LmPpl]], unseen bigrams now exist:
    * the scoring joins are LEFT joins with c(u,w)=0 / c(u)=0 fallbacks
    * (add-1 handles them: p = 1/(c(u)+V)), and `n_oov_events` counts
    * them per doc — high nll + high OOV share is exactly the
    * "out-of-reference-distribution" signal CCNet buckets on.
    * Float discipline and scale posture are [[c4LmPpl]]'s; the second
    * corpus-sized join (context counts attach per event, since a
    * missed pair still needs its context count) is keyed and linear.
    */
  def c4LmPplRef(spark: SparkSession, dir: String): DataFrame = {
    val dAll = docs(spark, dir).select(col("doc_id"), split(col("text"), " ").as("toks"))
    val (_, bgTab, _, tvTab) = ensureLmRefModel(spark, dir)
    // stored reference model (trained once per corpus fingerprint):
    // bigram counts from the layout, context counts derived model-side
    val bg = spark.table(bgTab)
      .select(col("a").as("u"), col("b").as("w"), col("c2").as("c_uw"))
    val cx = bg.groupBy("u").agg(sum(col("c_uw")).as("c_u"))
    val v = spark.table(tvTab).head().getLong(1)
    require(v > 0L,
      "c4_lm_ppl_ref: the rule-keep reference slice is empty — no model")
    lmFinish(dAll, bigramEvents(dAll)
      .join(bg.hint("shuffle_hash"), Seq("u", "w"), "left")
      .join(cx.hint("shuffle_hash"), Seq("u"), "left")
      .withColumn("oov", when(col("c_uw").isNull, 1L).otherwise(0L))
      .withColumn("li", microLog((coalesce(col("c_uw"), lit(0L)) + 1).cast("double") /
        (coalesce(col("c_u"), lit(0L)) + lit(v)).cast("double"))),
      "n_oov_events" -> sum(col("oov")))
  }

  /** C4s'': ORDER-3 LM perplexity with STUPID BACKOFF — the
    * higher-order form of the reference-trained scorer: trigram
    * relative frequencies where seen, backing off (fixed α = 0.4, the
    * published "stupid backoff" of Brants et al., the recipe web-scale
    * LMs actually shipped because it needs no discount fitting) to the
    * bigram, then to the add-1 unigram floor (which also absorbs OOV
    * tokens). Scores every document under the rule-keep reference
    * model; per-doc `n_backoff_bi`/`n_backoff_uni` report how often
    * each level fired — the model-coverage diagnostic. Float
    * discipline: one CASE per event with a fixed op order in both
    * engines, then the int64 micro-log sum of [[c4LmPpl]].
    *
    * Scale posture: count tables are partial+final aggregates over the
    * reference slice; scoring is five keyed LEFT joins on the event
    * stream (trigram, both bigram roles, both unigram roles) — all
    * linear, never all-pairs; T and V are two bounded driver scalars
    * embedded as literals.
    *
    * `minCount` is the COUNT CUTOFF on the trigram table (the published
    * web-LM recipe: singleton n-grams of the highest order are dropped
    * and their mass served by backoff — exactly what stupid backoff's
    * score shape absorbs). The trigram table is the family's scale
    * exposure (its TYPE count grew 7.0× per sparse decade where tokens
    * grew 10× — BASELINE.md round 15); count-1 types are the bulk of it
    * (Zipf), so `minCount = 2` bounds the scoring join's model side to
    * the repeated-trigram set. The cutoff is applied at READ (a pushed
    * `c3 >= minCount` scan predicate), so the shared stored layout keeps
    * serving the uncut variant; a cutoff-only deployment moves the same
    * predicate into the training write and shrinks the layout itself.
    * Shifted events surface in n_backoff_bi/n_backoff_uni — the
    * coverage cost of the cutoff, measured per doc.
    */
  def c4LmPpl3(spark: SparkSession, dir: String, minCount: Long = 1L): DataFrame = {
    val dAll = docs(spark, dir).select(col("doc_id"), split(col("text"), " ").as("toks"))
    val (unTab, bgTab, tgTab, tvTab) = ensureLmRefModel(spark, dir)
    val tg = spark.table(tgTab).filter(col("c3") >= minCount)
    val bg = spark.table(bgTab)
    val un = spark.table(unTab)
    val tv = spark.table(tvTab).head()
    val (tTot, vSize) = (tv.getLong(0), tv.getLong(1))
    require(vSize > 0L,
      "c4_lm_ppl3: the rule-keep reference slice is empty — no model")
    val ev3 = dAll.select(col("doc_id"), explode(trigrams(col("toks"))).as("e"))
      .select(col("doc_id"), col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
    lmFinish(dAll, ev3
      .join(tg.hint("shuffle_hash"), Seq("u", "v", "w"), "left")
      .join(bg.select(col("a").as("u"), col("b").as("v"),
        col("c2").as("c2uv")).hint("shuffle_hash"), Seq("u", "v"), "left")
      .join(bg.select(col("a").as("v"), col("b").as("w"),
        col("c2").as("c2vw")).hint("shuffle_hash"), Seq("v", "w"), "left")
      .join(un.select(col("tok").as("v"), col("c1").as("c1v"))
        .hint("shuffle_hash"), Seq("v"), "left")
      .join(un.select(col("tok").as("w"), col("c1").as("c1w"))
        .hint("shuffle_hash"), Seq("w"), "left")
      // c3 > 0 implies c2uv > 0 and c2vw > 0 implies c1v > 0 (counts of
      // sub-grams dominate), so no CASE branch can divide by null/zero
      .withColumn("sprob",
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2uv").cast("double"))
          .when(col("c2vw").isNotNull,
            lit(0.4) * (col("c2vw").cast("double") / col("c1v").cast("double")))
          .otherwise(lit(0.4) * lit(0.4) *
            ((coalesce(col("c1w"), lit(0L)) + 1).cast("double") /
              lit((tTot + vSize).toDouble))))
      .withColumn("li", microLog(col("sprob"))),
      "n_backoff_bi" -> sum(when(col("c3").isNull && col("c2vw").isNotNull, 1L)
        .otherwise(0L)),
      "n_backoff_uni" -> sum(when(col("c3").isNull && col("c2vw").isNull, 1L)
        .otherwise(0L)))
  }

  /** Persist the TRAINED tokenizer vocabulary as a fingerprint-keyed
    * layout (the quality-model/ANN-codebook posture): one row per word
    * type with its trained BPE token count. Training runs once per
    * corpus fingerprint (Bench warms it untimed — the production shape,
    * where a tokenizer is trained once and applied forever); the
    * TRAINING cost itself stays timed in `c4_bpe_merges`, whose whole
    * point is the train loop.
    */
  private[graft] def ensureBpeVocab(spark: SparkSession, dir: String): String =
    Storage.ensureLayout(spark, Storage.layout(Seq("graft_bpe_"),
        Seq(s"$dir/documents.parquet"), s"${BpeRounds}r${BpeBatchCap}c")) { case Seq(tab) =>
      val (_, finalVocab, lastCached) = bpeTrain(spark, dir, materializeFinal = true)
      finalVocab.select(col("word"), size(col("seq")).cast("long").as("n_bpe"))
        .write.mode("overwrite").format("parquet").saveAsTable(tab)
      lastCached.foreach(_.unpersist(blocking = false))
    }.head

  /** C4q: BPE ENCODE — apply the trained merge table ([[c4BpeMerges]]'s
    * 10 rounds) to the corpus and report per-document BPE token counts
    * (plus tokens-per-word, the compression signal a tokenizer budget
    * is set from). This is the APPLY half of the tokenizer loop: train
    * produces the merge table, encode prices every document in the
    * trained vocabulary's units — the token accounting that feeds
    * `c7_token_budget`-style curation at the BPE level rather than the
    * whitespace level.
    *
    * Scale posture: encoding is performed ONCE PER WORD TYPE, not per
    * token — the trained final vocab (word → merged symbol count) is
    * O(types), and the corpus pass is a narrow explode + equi-join on
    * the word (shuffle on the word key, partial-agg counts per doc).
    * A 100 TB corpus pays one token-explode pass + an O(types) join —
    * never a per-occurrence re-merge. Every count is exact int64; the
    * single per-doc double (bpe_per_word) is one division rounded 6dp.
    */
  def c4BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = spark.table(ensureBpeVocab(spark, dir))
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val perDoc = words.join(enc.select("word", "n_bpe"), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).cast("long").as("n_bpe_tokens"))
    docs(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .withColumn("bpe_per_word",
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[c4BpeMerges]]: the same batched rounds. Per
    * round: the top-[[BpeBatchCap]] pair ranking, the rank-order greedy
    * disjointness scan as a LINEAR recursive CTE (row k joins row k−1,
    * carrying the accepted-symbol list — ≤cap steps), and the
    * simultaneous greedy merge expressed as a taken-parity window
    * (taken(i) = match at i AND NOT taken(i−1); a run of consecutive
    * matches is only possible within one lhs==rhs pair — accepted pairs
    * are symbol-disjoint — and pairs up from the left). Every round's
    * vocab/candidate/accepted CTE is MATERIALIZED: the chain references
    * each prior round more than once, and inlining 24 rounds of window
    * stacks would blow the planner up (the closureChainSql lesson).
    */
  private def bpeChainSql: String =
    s"WITH RECURSIVE $bpeChainCtes " +
      (1 to BpeRounds).map { k =>
        s"SELECT $k AS merge_round, merge_rank, l AS lhs, r AS rhs, " +
          s"merged, cnt AS pair_count FROM a$k"
      }.mkString("SELECT * FROM (", " UNION ALL ",
        ") ORDER BY merge_round, merge_rank")

  /** The shared CTE chain (w0 … w`rounds`, a1 … a`rounds`) without a
    * final SELECT — composed by both the merge-table and encode
    * replays. Callers must open with `WITH RECURSIVE` (the per-round
    * greedy-filter CTEs recurse).
    */
  private[queries] def bpeChainCtes: String = {
    val base =
      "w0 AS MATERIALIZED (" +
        "SELECT word, " +
        "list_aggregate(list_append(string_split(word, ''), '</w>'), 'string_agg', ' ') AS seq, " +
        "count(*) AS freq " +
        "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
        "WHERE length(word) > 0 GROUP BY 1)"
    val okCond = s"p.nacc < $BpeBatchCap AND NOT (list_contains(p.used, c.l) " +
      "OR list_contains(p.used, c.r))"
    val rounds_sql = (1 to BpeRounds).map { k =>
      val prev = s"w${k - 1}"
      s"s$k AS (SELECT word AS w, freq, " +
        s"unnest(generate_series(1, len(string_split(seq, ' ')))) AS i, " +
        s"string_split(seq, ' ') AS arr FROM $prev), " +
        s"y$k AS (SELECT w, freq, i, arr[i] AS sym FROM s$k), " +
        s"z$k AS MATERIALIZED (SELECT w, freq, i, sym, " +
        s"lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt FROM y$k), " +
        // top-candCap candidates in the engine's (cnt desc, l, r) order
        s"cand$k AS MATERIALIZED (SELECT l, r, cnt, " +
        s"CAST(row_number() OVER (ORDER BY cnt DESC, l, r) AS INT) AS rank FROM (" +
        s"SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt " +
        s"FROM z$k WHERE nxt IS NOT NULL GROUP BY 1, 2 " +
        s"ORDER BY cnt DESC, l, r LIMIT $BpeCandCap)), " +
        // rank-order greedy disjointness scan: linear recursion over the
        // ranked list, carrying the accepted-symbol set as a list and
        // the accepted count (the batch stops at BpeBatchCap accepted)
        s"rec$k AS (SELECT rank, l, r, cnt, TRUE AS acc, [l, r] AS used, " +
        s"1 AS nacc FROM cand$k WHERE rank = 1 " +
        s"UNION ALL SELECT c.rank, c.l, c.r, c.cnt, " +
        s"($okCond) AS acc, " +
        s"CASE WHEN $okCond THEN list_concat(p.used, [c.l, c.r]) " +
        s"ELSE p.used END AS used, " +
        s"p.nacc + CASE WHEN $okCond THEN 1 ELSE 0 END AS nacc " +
        s"FROM cand$k c JOIN rec$k p ON c.rank = p.rank + 1), " +
        s"a$k AS MATERIALIZED (SELECT " +
        s"CAST(row_number() OVER (ORDER BY rank) AS INT) AS merge_rank, " +
        s"l, r, l || r AS merged, cnt FROM rec$k WHERE acc), " +
        s"m$k AS (SELECT z.w, z.freq, z.i, z.sym, a.merged, " +
        s"(a.merged IS NOT NULL) AS mt " +
        s"FROM z$k z LEFT JOIN a$k a ON a.l = z.sym AND a.r = z.nxt), " +
        s"g$k AS (SELECT *, CASE WHEN mt AND NOT coalesce(" +
        s"lag(mt) OVER (PARTITION BY w ORDER BY i), FALSE) THEN 1 ELSE 0 END AS rs " +
        s"FROM m$k), " +
        s"h$k AS (SELECT *, sum(rs) OVER (PARTITION BY w ORDER BY i) AS grp FROM g$k), " +
        s"t$k AS (SELECT *, CASE WHEN mt THEN " +
        s"((i - min(CASE WHEN mt THEN i END) OVER (PARTITION BY w, grp)) % 2 = 0) " +
        s"ELSE FALSE END AS taken FROM h$k), " +
        s"c$k AS (SELECT *, coalesce(lag(taken) OVER (PARTITION BY w ORDER BY i), FALSE) " +
        s"AS consumed FROM t$k), " +
        s"w$k AS MATERIALIZED (SELECT w AS word, string_agg(" +
        s"CASE WHEN taken THEN merged ELSE sym END, ' ' ORDER BY i) " +
        s"AS seq, freq FROM c$k WHERE NOT consumed GROUP BY w, freq)"
    }.mkString(", ")
    s"$base, $rounds_sql"
  }

  /** DuckDB replay of [[c4BpeEncode]]: the same chain (the per-word
    * final seq after all K rounds), per-word BPE length, the word
    * explode + join, and the left-join re-attach to the doc universe.
    */
  private def bpeEncodeSql: String =
    s"WITH RECURSIVE $bpeChainCtes, " +
      s"enc AS (SELECT word, len(string_split(seq, ' ')) AS n_bpe FROM w$BpeRounds), " +
      "wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word " +
      "FROM documents), " +
      "pd AS (SELECT doc_id, count(*) AS n_words, " +
      "CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens " +
      "FROM wd JOIN enc USING (word) WHERE length(word) > 0 GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(COALESCE(pd.n_words, 0) AS BIGINT) AS n_words, " +
      "CAST(COALESCE(pd.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens, " +
      "CASE WHEN pd.n_words > 0 THEN " +
      "round(CAST(pd.n_bpe_tokens AS DOUBLE) / pd.n_words, 6) END AS bpe_per_word " +
      "FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"

  /** The span-analysis CTE chain of the substring replays (t → anchors
    * → cap → pairs → diagonal islands `i`) over relation `rel`, with
    * every CTE name prefixed by `pfx` so the chain composes into oracles
    * whose other fragments already use t/s/b (langIdCtes) — pfx "" over
    * `documents` is the standalone chain.
    */
  private[queries] def ssdupChainOver(rel: String, pfx: String): String =
    s"${pfx}t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
      s"len(string_split(text, ' ')) AS n FROM $rel), " +
      s"${pfx}a AS (SELECT doc_id, unnest(generate_series(1, n - ${SpanWindow - 1})) AS off, " +
      s"toks FROM ${pfx}t WHERE n >= $SpanWindow), " +
      s"${pfx}h AS (SELECT doc_id, off, ('0x'||substr(md5(array_to_string(" +
      s"list_slice(toks, off, off + ${SpanWindow - 1}), ' ')),1,15))::BIGINT AS h FROM ${pfx}a), " +
      s"${pfx}c AS (SELECT h, count(*) AS cnt FROM ${pfx}h GROUP BY h " +
      s"HAVING count(*) BETWEEN 2 AND $SpanMaxOcc), " +
      s"${pfx}e AS (SELECT h.doc_id, h.off, h.h " +
      s"FROM ${pfx}h h JOIN ${pfx}c c USING (h)), " +
      s"${pfx}p AS (SELECT e1.doc_id AS d1, e1.off AS o1, e2.doc_id AS d2, " +
      s"e2.off - e1.off AS diag FROM ${pfx}e e1 JOIN ${pfx}e e2 USING (h) " +
      "WHERE e1.doc_id < e2.doc_id OR " +
      "(e1.doc_id = e2.doc_id AND e1.off < e2.off)), " +
      s"${pfx}i AS (SELECT *, o1 - row_number() OVER (PARTITION BY d1, d2, diag " +
      s"ORDER BY o1) AS isl FROM ${pfx}p)"

  private[queries] val ssdupChain: String = ssdupChainOver("documents", "")

  /** [[mergedScrubIntervals]] replayed after the `pfx` span chain: the
    * later-occurrence removal intervals and the running-max interval
    * union, ending in `${pfx}mi(doc_id, grp, s, e)`.
    */
  private def scrubIntervalsSql(pfx: String): String =
    s"${pfx}sp AS (SELECT d1, d2, diag, min(o1) AS a0, max(o1) AS a1 " +
      s"FROM ${pfx}i GROUP BY d1, d2, diag, isl), " +
      s"${pfx}rem AS (SELECT DISTINCT d2 AS doc_id, a0 + diag AS s, " +
      s"a0 + diag + (a1 - a0 + $SpanWindow) - 1 AS e FROM ${pfx}sp), " +
      s"${pfx}mx AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe FROM ${pfx}rem), " +
      s"${pfx}g AS (SELECT *, sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 " +
      s"ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp FROM ${pfx}mx), " +
      s"${pfx}mi AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM ${pfx}g " +
      "GROUP BY doc_id, grp)"

  /** [[scrubRemovedCounts]] replayed over relation `rel` (z-prefixed
    * names, so it composes next to langIdCtes), ending in
    * `zrm(doc_id, n_removed)`.
    */
  private[queries] def scrubRemovedSql(rel: String): String =
    ssdupChainOver(rel, "z") + ", " + scrubIntervalsSql("z") + ", " +
      "zrm AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_removed " +
      "FROM zmi GROUP BY doc_id)"

  private val nTokensSql = "len(string_split(text, ' '))"
  private val alphaSql = "length(regexp_replace(text, '[^a-z]', '', 'g'))"
  private val nStopTypesSql =
    s"len(list_filter(list_distinct(string_split(text, ' ')), t -> list_contains($stopList, t)))"
  /** [[ruleKeep]] over a document's `text`. */
  private val ruleKeepSql = ruleGateSql(nTokensSql, alphaSql, nStopTypesSql)

  /** The c4_lm_ppl_ref replay as a reusable CTE chain ending in
    * `lmres(doc_id, n_events, n_oov_events, nll, ppl)` — shared with
    * the perplexity-bucketed curation pass (PipelineOps.c7_ppl_filter),
    * whose oracle composes on the per-doc nll.
    */
  private[queries] def lmPplRefCtes: String =
    "lmt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"lmtr AS (SELECT doc_id, string_split(text, ' ') AS toks " +
      s"FROM documents WHERE $ruleKeepSql), " +
      "lmev AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS w " +
      "FROM lmt, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g), " +
      "lmevt AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS w " +
      "FROM lmtr, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g), " +
      "lmbg AS (SELECT u, w, count(*) AS c_uw FROM lmevt GROUP BY u, w), " +
      "lmcx AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u FROM lmbg GROUP BY u), " +
      "lmvv AS (SELECT count(DISTINCT tok) AS v FROM " +
      "(SELECT unnest(toks) AS tok FROM lmtr)), " +
      "lmsc AS (SELECT e.doc_id, " +
      "CASE WHEN b.c_uw IS NULL THEN 1 ELSE 0 END AS oov, " +
      "CAST(round(1000000.0 * " +
      "ln(CAST(COALESCE(b.c_uw, 0) + 1 AS DOUBLE) / " +
      "CAST(COALESCE(c.c_u, 0) + lmvv.v AS DOUBLE)), 0) AS BIGINT) AS li " +
      "FROM lmev e LEFT JOIN lmbg b ON b.u = e.u AND b.w = e.w " +
      "LEFT JOIN lmcx c ON c.u = e.u CROSS JOIN lmvv), " +
      lmFinishSql("lm", "lmt", "n_oov_events" -> "oov")(sel => s", lmres AS ($sel)")

  val oracle: Map[String, String] = Map(
    "c4_bpe_merges" -> bpeChainSql,
    "c4_bpe_encode" -> bpeEncodeSql,
    // Substring-dup replay: same portable anchor hash, same 2..maxOcc
    // cap, same diagonal gaps-and-islands merge.
    "c4_substring_dup" ->
      (s"WITH $ssdupChain " +
        "SELECT d1 AS doc_a, CAST(min(o1) AS INT) AS start_a, d2 AS doc_b, " +
        "CAST(min(o1) + diag AS INT) AS start_b, " +
        s"CAST(max(o1) - min(o1) + $SpanWindow AS INT) AS span_len, " +
        "count(*) AS n_anchors FROM i GROUP BY d1, d2, diag, isl " +
        "ORDER BY doc_a, start_a, doc_b, start_b"),
    // Scrub replay: the same span chain, later-occurrence removal
    // intervals, the identical running-max interval union, NOT-EXISTS
    // token removal, and the ordered string_agg under md5.
    "c4_substring_scrub" ->
      (s"WITH $ssdupChain, ${scrubIntervalsSql("")}, " +
        "tk0 AS (SELECT doc_id, unnest(generate_series(1, n)) AS pos, " +
        "toks FROM t), " +
        "tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tk0), " +
        "kp AS (SELECT tk.* FROM tk WHERE NOT EXISTS (SELECT 1 FROM mi " +
        "WHERE mi.doc_id = tk.doc_id AND tk.pos BETWEEN mi.s AND mi.e)), " +
        "ka AS (SELECT doc_id, count(*) AS n_kept, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS scrub_hash " +
        "FROM kp GROUP BY doc_id), " +
        "ni AS (SELECT doc_id, count(*) AS n_intervals FROM mi GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens, " +
        "CAST(t.n - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed, " +
        "CAST(COALESCE(ni.n_intervals, 0) AS BIGINT) AS n_intervals, " +
        "ka.scrub_hash FROM t LEFT JOIN ka USING (doc_id) " +
        "LEFT JOIN ni USING (doc_id) ORDER BY doc_id"),
    // Quality-model replay: the full closed-form pipeline — features,
    // per-class sums, 6 dp class means, weight differences, the fixed
    // left-to-right bias and score folds — in one static SQL query. The
    // weights the engine embeds as plan literals are recomputed here
    // from the identical IEEE expressions, so a drifted stored model
    // breaks the hash.
    "c4_quality_model" -> {
      val featDefs =
        s"CAST($nTokensSql AS BIGINT) AS n_tokens, " +
          s"CAST($alphaSql AS BIGINT) AS alpha_chars, " +
          "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types, " +
          s"CAST($nStopTypesSql AS BIGINT) AS n_stop_types"
      val muDefs = QmFeatures.map { n =>
        s"round(CAST(k.$n AS DOUBLE) / k.cnt, 6) AS muk_$n, " +
          s"round(CAST(d.$n AS DOUBLE) / d.cnt, 6) AS mud_$n, " +
          s"muk_$n - mud_$n AS w_$n"
      }.mkString(", ")
      val biasFold = QmFeatures.foldLeft("0.0") { (acc, n) =>
        s"($acc + w_$n * (muk_$n + mud_$n))"
      }
      val scoreFold = QmFeatures.foldLeft("0.0") { (acc, n) =>
        s"($acc + w.w_$n * f.$n)"
      }
      "WITH tc AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok_c FROM (" +
        "SELECT doc_id, tok, count(*) AS c FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY doc_id, tok) GROUP BY doc_id), " +
        s"f AS (SELECT d.doc_id, $featDefs, tc.max_tok_c, " +
        s"(${ruleGateSql("n_tokens", "alpha_chars", "n_stop_types")}) AS rule_keep " +
        "FROM documents d JOIN tc USING (doc_id)), " +
        "m AS (SELECT rule_keep, count(*) AS cnt, " +
        QmFeatures.map(n => s"CAST(sum($n) AS BIGINT) AS $n").mkString(", ") +
        " FROM f GROUP BY rule_keep), " +
        s"w AS (SELECT $muDefs, -($biasFold / 2) AS b " +
        "FROM (SELECT * FROM m WHERE rule_keep) k, " +
        "(SELECT * FROM m WHERE NOT rule_keep) d) " +
        "SELECT f.doc_id, " + QmFeatures.map(n => s"f.$n").mkString(", ") +
        s", round($scoreFold + w.b, 6) AS score, " +
        s"($scoreFold + w.b) > 0 AS model_keep, f.rule_keep, " +
        s"(($scoreFold + w.b) > 0) = f.rule_keep AS agree " +
        "FROM f, w ORDER BY f.doc_id"
    },
    // PII replay: same patterns (Java/RE2-common subset), same counts on
    // the raw text, same ordered replacement chain under the md5.
    "c4_pii_scrub" -> {
      val scrub = PiiPatterns.foldLeft("text") { case (e, (_, pat, repl)) =>
        s"regexp_replace($e, '$pat', '$repl', 'g')"
      }
      "SELECT doc_id, " +
        PiiPatterns.map { case (name, pat, _) =>
          s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
        }.mkString(", ") + ", " +
        s"md5($scrub) AS scrub_hash, " +
        PiiPatterns.map(p => s"n_${p._1}").mkString(" + ") + " AS n_pii " +
        "FROM documents ORDER BY doc_id"
    },
    // Chunking replay: same ceil window count, same 1-based slices,
    // same md5 content fingerprint (both engines hash the identical
    // space-joined UTF-8 bytes).
    "c4_chunk" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        "e AS (SELECT doc_id, toks, n, " +
        s"unnest(generate_series(0, CAST((greatest(n - $ChunkWindow, 0) + ${ChunkStride - 1}) // $ChunkStride AS INT))) " +
        "AS k FROM t WHERE n > 0) " +
        "SELECT doc_id, CAST(k + 1 AS INT) AS chunk_idx, " +
        s"CAST(k * $ChunkStride + 1 AS INT) AS start_tok, " +
        s"CAST(least($ChunkWindow, n - k * $ChunkStride) AS INT) AS n_tokens, " +
        s"md5(array_to_string(list_slice(toks, k * $ChunkStride + 1, k * $ChunkStride + $ChunkWindow), ' ')) " +
        "AS chunk_hash " +
        "FROM e ORDER BY doc_id, chunk_idx"),
    // Chunk-dedup replay: the same chunk chain grouped by fingerprint,
    // min-(doc, offset) first occurrence, copies >= 2.
    "c4_chunk_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        "e AS (SELECT doc_id, toks, n, " +
        s"unnest(generate_series(0, CAST((greatest(n - $ChunkWindow, 0) + ${ChunkStride - 1}) // $ChunkStride AS INT))) " +
        "AS k FROM t WHERE n > 0), " +
        "c AS (SELECT doc_id, CAST(k + 1 AS INT) AS chunk_idx, " +
        s"md5(array_to_string(list_slice(toks, k * $ChunkStride + 1, k * $ChunkStride + $ChunkWindow), ' ')) " +
        "AS chunk_hash FROM e), " +
        "g AS (SELECT chunk_hash, count(*) AS n_copies, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "min(doc_id) AS first_doc_id FROM c GROUP BY chunk_hash " +
        "HAVING count(*) >= 2) " +
        "SELECT g.chunk_hash, g.n_copies, g.n_docs, g.first_doc_id, " +
        "CAST(min(c.chunk_idx) AS INT) AS first_chunk_idx " +
        "FROM g JOIN c ON c.chunk_hash = g.chunk_hash " +
        "AND c.doc_id = g.first_doc_id " +
        "GROUP BY g.chunk_hash, g.n_copies, g.n_docs, g.first_doc_id " +
        "ORDER BY first_doc_id, first_chunk_idx, g.chunk_hash"),
    "c4_zipf" ->
      ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok), " +
        "tot AS (SELECT count(*) AS n_total FROM t), " +
        "r AS (SELECT tok, freq, CAST(row_number() OVER " +
        "(ORDER BY freq DESC, tok) AS INT) AS rank FROM f), " +
        "k AS (SELECT tok, freq, rank, CAST(sum(freq) OVER (ORDER BY rank " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq " +
        s"FROM r WHERE rank <= $ZipfTopK), " +
        "f1 AS (SELECT freq AS f1 FROM k WHERE rank = 1) " +
        "SELECT rank, tok, freq, " +
        "round(CAST(freq * rank AS DOUBLE) / f1, 6) AS zipf_ratio, " +
        "round(CAST(cum_freq AS DOUBLE) / n_total, 6) AS coverage " +
        "FROM k, f1, tot ORDER BY rank"),
    "c4_vocab_growth" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "uni AS (SELECT 'uni' AS gram, unnest(toks) AS term, doc_id FROM t), " +
        "bi AS (SELECT 'bi' AS gram, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS term, doc_id FROM t), " +
        "f AS (SELECT gram, term, min(doc_id) AS first_doc " +
        "FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2), " +
        "m AS (SELECT max(doc_id) AS max_id FROM documents), " +
        s"g AS (SELECT gram, CAST(least(${VocabBuckets - 1}, (first_doc * $VocabBuckets) // (max_id + 1)) AS BIGINT) " +
        "AS bucket, count(*) AS new_terms FROM f, m GROUP BY 1, 2) " +
        "SELECT gram, bucket, new_terms, " +
        "CAST(sum(new_terms) OVER (PARTITION BY gram ORDER BY bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab " +
        "FROM g ORDER BY gram, bucket"),
    "c4_langid" -> langIdOracle,
    "c1_exact_dedup" ->
      ("SELECT md5(text) AS text_hash, min(doc_id) AS first_doc_id, " +
        "count(*) AS n_copies FROM documents GROUP BY text ORDER BY first_doc_id"),
    "c4_diversity" ->
      ("WITH tc AS (SELECT doc_id, tok, count(*) AS c FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY doc_id, tok) " +
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "count(*) AS n_types, " +
        "round(1.0 - CAST(sum(c*c) AS DOUBLE) / (sum(c) * sum(c)), 6) AS simpson, " +
        "round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_ratio, " +
        "round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio " +
        "FROM tc GROUP BY doc_id ORDER BY doc_id"),
    "c4_text_stats" ->
      ("SELECT lang, source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, " +
        "avg(len(string_split(text, ' '))) AS avg_tokens, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY lang, source ORDER BY lang, source"),
    "c4_quality_score" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','to','in','and','is'))) AS DOUBLE) " +
        "/ len(string_split(text, ' ')) AS stopword_ratio, " +
        "(len(string_split(text, ' ')) >= 40 AND " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','to','in','and','is'))) > 0) AS is_quality " +
        "FROM documents ORDER BY doc_id"),
    "c4_fingerprint" ->
      ("SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) " +
        "AS fingerprint FROM documents ORDER BY doc_id"),
    "c4_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens, " +
        "CAST(length(text) AS INT) AS n_bytes FROM documents ORDER BY doc_id"),
    "c4_dup_ngrams" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "ex AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t), " +
        "c AS (SELECT doc_id, bg, count(*) AS cnt FROM ex GROUP BY doc_id, bg) " +
        "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup, " +
        "CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt) AS dup_ratio " +
        "FROM c GROUP BY doc_id ORDER BY doc_id"),
    // Guaranteed-heavy tokens are a pure exact-arithmetic set; the three
    // sketch-guarantee booleans are literal TRUE (the bounds live in the
    // Spark plan against the actual Misra-Gries sketch).
    "c4_heavy_hitters" ->
      ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "e AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok), " +
        "tot AS (SELECT count(*) AS n FROM t) " +
        "SELECT tok, freq, TRUE AS in_sketch, TRUE AS no_overcount, " +
        s"TRUE AS within_bound FROM e, tot WHERE freq * ${HeavyHitterCap + 1} > tot.n ORDER BY tok"),
    "c4_ngram_top" ->
      ("WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents), " +
        "ex AS (SELECT lang, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t), " +
        "c AS (SELECT lang, bigram, count(*) AS cnt FROM ex GROUP BY lang, bigram), " +
        "r AS (SELECT lang, bigram, cnt, CAST(row_number() OVER " +
        "(PARTITION BY lang ORDER BY cnt DESC, bigram) AS INT) AS rank FROM c) " +
        s"SELECT lang, rank, bigram, cnt FROM r WHERE rank <= $NgramTopK ORDER BY lang, rank"),
    "c4_tfidf" ->
      ("WITH tc AS (SELECT doc_id, tok, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY doc_id, tok), " +
        "pd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tc GROUP BY doc_id), " +
        "dft AS (SELECT tok, count(*) AS df FROM tc GROUP BY tok), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "sc AS (SELECT tc.doc_id, tc.tok, tf, df, " +
        "round(CAST(tf * n_docs AS DOUBLE) / CAST(df * n_tok AS DOUBLE), 6) AS tfidf " +
        "FROM tc JOIN pd USING (doc_id) JOIN dft USING (tok) CROSS JOIN n), " +
        "rk AS (SELECT doc_id, tok, tf, df, tfidf, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rk FROM sc) " +
        s"SELECT doc_id, rk, tok, tf, df, tfidf FROM rk WHERE rk <= $TfidfTopK " +
        "ORDER BY doc_id, rk"),
    "c4_pmi" ->
      ("WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents), " +
        s"pr AS (SELECT unnest(flatten(list_transform(${(1 to PmiWindow).mkString("[", ", ", "]")}, o -> " +
        "list_transform(range(1, len(toks) - o + 1), i -> " +
        "least(toks[i], toks[i + o]) || ' ' || greatest(toks[i], toks[i + o])" +
        ")))) AS pair FROM t), " +
        "pc AS (SELECT pair, count(*) AS c_ab FROM pr GROUP BY pair), " +
        "uc AS (SELECT tok, count(*) AS c_tok FROM (" +
        "SELECT unnest(toks) AS tok FROM t) GROUP BY tok), " +
        "tot AS (SELECT CAST(sum(c_tok) AS BIGINT) AS n FROM uc), " +
        "ptot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS p FROM pc), " +
        "sp AS (SELECT string_split(pair, ' ')[1] AS w1, " +
        s"string_split(pair, ' ')[2] AS w2, c_ab FROM pc WHERE c_ab >= $PmiMinCount), " +
        "sc AS (SELECT w1, w2, c_ab, u1.c_tok AS c_w1, u2.c_tok AS c_w2, " +
        "round(CAST(c_ab AS DOUBLE) * n * n / " +
        "(CAST(p AS DOUBLE) * u1.c_tok * u2.c_tok), 6) AS lift " +
        "FROM sp JOIN uc u1 ON u1.tok = sp.w1 JOIN uc u2 ON u2.tok = sp.w2 " +
        "CROSS JOIN tot CROSS JOIN ptot), " +
        "rk AS (SELECT w1, w2, c_ab, c_w1, c_w2, lift, CAST(row_number() OVER " +
        "(ORDER BY lift DESC, w1, w2) AS INT) AS rk FROM sc) " +
        s"SELECT rk, w1, w2, c_ab, c_w1, c_w2, lift FROM rk WHERE rk <= $PmiTopK " +
        "ORDER BY rk"),
    // Bigram add-1 LM replay: identical event stream, identical count
    // tables, the same per-event int64 micro-log and the same two final
    // roundings — see c4LmPpl's float-discipline note.
    "c4_lm_ppl" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "ev AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS w " +
        "FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g), " +
        "bg AS (SELECT u, w, count(*) AS c_uw FROM ev GROUP BY u, w), " +
        "cx AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u FROM bg GROUP BY u), " +
        "vv AS (SELECT count(DISTINCT tok) AS v FROM " +
        "(SELECT unnest(toks) AS tok FROM t)), " +
        "sc AS (SELECT e.doc_id, CAST(round(1000000.0 * " +
        "ln(CAST(b.c_uw + 1 AS DOUBLE) / CAST(c.c_u + vv.v AS DOUBLE)), 0) " +
        "AS BIGINT) AS li " +
        "FROM ev e JOIN bg b ON b.u = e.u AND b.w = e.w " +
        "JOIN cx c ON c.u = e.u CROSS JOIN vv), " +
        lmFinishSql("", "t")(sel => s" $sel ORDER BY doc_id")),
    // Reference-trained LM replay: the rule-keep slice trains, LEFT
    // joins with add-1 fallbacks score every doc, same micro-log and
    // final roundings as c4_lm_ppl.
    "c4_lm_ppl_ref" ->
      (s"WITH $lmPplRefCtes " +
        "SELECT doc_id, n_events, n_oov_events, nll, ppl " +
        "FROM lmres ORDER BY doc_id"),
    // Order-3 stupid-backoff replay: same reference slice, three count
    // tables, the identical CASE op order under the micro-log.
    "c4_lm_ppl3" -> lmPpl3Sql(minC3 = 1L),
    // Count-cutoff twin: identical replay with the trigram table cut to
    // repeated types (HAVING count >= 2) — the engine's read-side filter.
    "c4_lm_ppl3_cutoff" -> lmPpl3Sql(minC3 = 2L),
    "c4_rolling_hash" ->
      ("SELECT doc_id, list_reduce(" +
        "list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash " +
        "FROM documents ORDER BY doc_id")
  )

  /** The c4_lm_ppl3 replay, parameterized on the trigram count cutoff
    * (`HAVING count >= minC3` in the tg CTE — the engine's read-side
    * `c3 >= minCount` filter; a no-op clause at minC3 = 1).
    */
  private def lmPpl3Sql(minC3: Long): String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"tr AS (SELECT doc_id, string_split(text, ' ') AS toks " +
      s"FROM documents WHERE $ruleKeepSql), " +
      "e3 AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w " +
      "FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g), " +
      "e3t AS (SELECT toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w " +
      "FROM tr, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g), " +
      "e2t AS (SELECT toks[i] AS a, toks[i + 1] AS b " +
      "FROM tr, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g), " +
      "tg AS (SELECT u, v, w, count(*) AS c3 FROM e3t GROUP BY u, v, w " +
      s"HAVING count(*) >= $minC3), " +
      "bg AS (SELECT a, b, count(*) AS c2 FROM e2t GROUP BY a, b), " +
      "un AS (SELECT tok, count(*) AS c1 FROM " +
      "(SELECT unnest(toks) AS tok FROM tr) GROUP BY tok), " +
      "tv AS (SELECT CAST(count(*) AS BIGINT) AS t, " +
      "count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM tr)), " +
      "sc AS (SELECT e.doc_id, " +
      "CASE WHEN tg.c3 IS NULL AND b2.c2 IS NOT NULL THEN 1 ELSE 0 END AS bo1, " +
      "CASE WHEN tg.c3 IS NULL AND b2.c2 IS NULL THEN 1 ELSE 0 END AS bo2, " +
      "CAST(round(1000000.0 * ln(" +
      "CASE WHEN tg.c3 IS NOT NULL " +
      "THEN CAST(tg.c3 AS DOUBLE) / CAST(b1.c2 AS DOUBLE) " +
      "WHEN b2.c2 IS NOT NULL " +
      "THEN 0.4 * (CAST(b2.c2 AS DOUBLE) / CAST(uv.c1 AS DOUBLE)) " +
      "ELSE 0.4 * 0.4 * (CAST(COALESCE(uw.c1, 0) + 1 AS DOUBLE) / " +
      "CAST(tv.t + tv.v AS DOUBLE)) END), 0) AS BIGINT) AS li " +
      "FROM e3 e " +
      "LEFT JOIN tg ON tg.u = e.u AND tg.v = e.v AND tg.w = e.w " +
      "LEFT JOIN bg b1 ON b1.a = e.u AND b1.b = e.v " +
      "LEFT JOIN bg b2 ON b2.a = e.v AND b2.b = e.w " +
      "LEFT JOIN un uv ON uv.tok = e.v " +
      "LEFT JOIN un uw ON uw.tok = e.w " +
      "CROSS JOIN tv), " +
      lmFinishSql("", "t", "n_backoff_bi" -> "bo1", "n_backoff_uni" -> "bo2")(
        sel => s" $sel ORDER BY doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_exact_dedup" -> (c1ExactDedup _),
    "c4_text_stats" -> (c4TextStats _),
    "c4_diversity" -> (c4Diversity _),
    "c4_quality_score" -> (c4QualityScore _),
    "c4_fingerprint" -> (c4Fingerprint _),
    "c4_token_count" -> (c4TokenCount _),
    "c4_rolling_hash" -> (c4RollingHash _),
    "c4_langid" -> (c4LangId _),
    "c4_ngram_top" -> ((s: SparkSession, d: String) => c4NgramTop(s, d)),
    "c4_heavy_hitters" -> ((s: SparkSession, d: String) => c4HeavyHitters(s, d)),
    "c4_dup_ngrams" -> (c4DupNgrams _),
    "c4_tfidf" -> ((s: SparkSession, d: String) => c4Tfidf(s, d)),
    "c4_pmi" -> ((s: SparkSession, d: String) => c4Pmi(s, d)),
    "c4_vocab_growth" -> ((s: SparkSession, d: String) => c4VocabGrowth(s, d)),
    "c4_zipf" -> ((s: SparkSession, d: String) => c4Zipf(s, d)),
    "c4_bpe_merges" -> ((s: SparkSession, d: String) => c4BpeMerges(s, d)),
    "c4_bpe_encode" -> ((s: SparkSession, d: String) => c4BpeEncode(s, d)),
    "c4_pii_scrub" -> ((s: SparkSession, d: String) => c4PiiScrub(s, d)),
    "c4_quality_model" -> ((s: SparkSession, d: String) => c4QualityModel(s, d)),
    "c4_lm_ppl" -> (c4LmPpl _),
    "c4_lm_ppl_ref" -> (c4LmPplRef _),
    "c4_lm_ppl3" -> ((s: SparkSession, d: String) => c4LmPpl3(s, d)),
    "c4_lm_ppl3_cutoff" -> ((s: SparkSession, d: String) =>
      c4LmPpl3(s, d, minCount = 2L)),
    "c4_substring_dup" -> ((s: SparkSession, d: String) => c4SubstringDup(s, d)),
    "c4_substring_scrub" -> ((s: SparkSession, d: String) => c4SubstringScrub(s, d)),
    "c4_chunk" -> ((s: SparkSession, d: String) => c4Chunk(s, d)),
    "c4_chunk_dedup" -> ((s: SparkSession, d: String) => c4ChunkDedup(s, d))
  )
}
