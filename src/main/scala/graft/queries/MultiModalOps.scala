package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Group C (multimodal) — opaque binary asset columns with typed metadata,
  * plus the decode / feature-extract / frame-sample plumbing a multimodal
  * training pipeline needs.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic stub ([[StubCodec]]); everything around it
  * — the asset schema, the batched `mapPartitions` execution shape (the
  * Scala analog of `mapInPandas`: one iterator per partition, vectorizable
  * batch work inside), partitioning, and the metadata/feature schemas — is
  * real and tested (MultiModalSpec).
  *
  * Assets are derived deterministically from `documents` (the driver's
  * corpus): `content` = UTF-8 bytes of the text, modality round-robins by
  * doc_id. At 100 TB the same plan reads real `binary` parquet columns;
  * `maxPartitionBytes` governs scan parallelism and nothing here ever
  * collects or shuffles the payload bytes — features are extracted
  * narrow, per-partition, and only the (tiny) feature rows shuffle.
  */
object MultiModalOps {

  /** One multimodal asset: opaque payload + typed metadata. */
  final case class Asset(
      asset_id: Long,
      modality: String,
      content: Array[Byte],
      width: Int,
      height: Int,
      sample_rate: Int)

  final case class AssetFeatures(
      asset_id: Long,
      modality: String,
      n_bytes: Int,
      mean_byte: Double,
      byte_entropy: Double,
      n_frames: Int)

  /** The stubbed decoder: where a real pipeline calls an image/audio
    * codec, we compute deterministic pseudo-features of the raw bytes.
    * Swap this object for a real codec binding at deployment; the
    * surrounding Spark plumbing does not change.
    */
  object StubCodec {
    val FrameBytes = 256

    /** "Decode" one asset into features — byte-level moments stand in for
      * codec output. Deterministic, pure, per-record.
      */
    def decode(a: Asset): AssetFeatures = {
      val bytes = a.content
      val n = bytes.length
      val hist = new Array[Long](256)
      var sum = 0L
      var i = 0
      while (i < n) { val b = bytes(i) & 0xff; hist(b) += 1; sum += b; i += 1 }
      val mean = if (n == 0) 0.0 else sum.toDouble / n
      var entropy = 0.0
      if (n > 0) {
        var j = 0
        while (j < 256) {
          if (hist(j) > 0) {
            val p = hist(j).toDouble / n
            entropy -= p * math.log(p) / math.log(2)
          }
          j += 1
        }
      }
      AssetFeatures(a.asset_id, a.modality, n, mean, entropy,
        (n + FrameBytes - 1) / FrameBytes)
    }
  }

  /** documents → typed asset table (deterministic binary + metadata). */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        encode(col("text"), "UTF-8").as("content"),
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"))
      .as[Asset]
  }

  /** C6a: batched decode/feature-extract over asset partitions — the
    * `mapInPandas` shape in Scala: one iterator in, one iterator out, per
    * partition; the stub codec is invoked record-at-a-time inside the
    * partition loop exactly where a vectorized codec batch call would go.
    */
  def c6Features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assets(spark, dir)
      .mapPartitions(it => it.map(StubCodec.decode))
      .toDF()
      .select(col("asset_id"), col("modality"), col("n_bytes"),
        round(col("mean_byte"), 4).as("mean_byte"),
        round(col("byte_entropy"), 4).as("byte_entropy"), col("n_frames"))
      .orderBy("asset_id")
  }

  /** C6b: frame sampling — every k-th fixed-size frame of each payload,
    * pure built-ins (binary substring over an exploded frame index): the
    * explode/downstream shape of a video frame-sampler, no UDF.
    */
  /** Every `everyK`-th fixed-size frame of each payload, exploded to one
    * row per sampled frame (shared by the sampler and the near-dup
    * clusterer): `(asset_id, modality, sample_idx, frame_hash,
    * frame_bytes)`, unordered.
    */
  private def sampledFrames(spark: SparkSession, dir: String, everyK: Int): DataFrame = {
    val fb = StubCodec.FrameBytes
    assets(spark, dir).toDF()
      .withColumn("n_frames",
        ceil(length(col("content")).cast("double") / fb).cast("int"))
      .select(col("asset_id"), col("modality"), col("n_frames"),
        posexplode(transform(
          sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(everyK)),
          f => substring(col("content"), f * fb + 1, lit(fb)))))
      .select(col("asset_id"), col("modality"),
        col("pos").as("sample_idx"),
        md5(col("col")).as("frame_hash"),
        length(col("col")).as("frame_bytes"))
  }

  def c6FrameSample(spark: SparkSession, dir: String, everyK: Int = 4): DataFrame =
    sampledFrames(spark, dir, everyK)
      .orderBy("asset_id", "sample_idx")

  /** C6d: exact multimodal asset dedup — md5 over the binary payload,
    * first-copy keep decision (the c1_exact_dedup pattern applied to the
    * binary column; closes the "dedup never touches bytes" gap). Scale
    * posture mirrors c1/c7_curate: the payload never shuffles — each
    * asset hashes narrow, the groupBy and join move 32-char digests and
    * ids only, and the first-copy min is a partial (map-side combining)
    * aggregate shuffle-joined back, never a window over payloads (a
    * million copies of one boilerplate asset collapse map-side; AQE
    * skew-join handles the probe).
    */
  def c6AssetDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = assets(spark, dir).toDF()
      .select(col("asset_id"), col("modality"), md5(col("content")).as("payload_md5"))
    val firsts = hashed.groupBy(col("payload_md5"))
      .agg(min(col("asset_id")).as("first_id"), count(lit(1)).as("n_copies"))
    hashed.join(firsts, Seq("payload_md5"))
      .withColumn("is_kept", col("asset_id") === col("first_id"))
      .select(col("asset_id"), col("modality"), col("payload_md5"),
        col("n_copies"), col("is_kept"))
      .orderBy("asset_id")
  }

  /** C6e: multimodal NEAR-dup — cluster assets sharing any sampled frame
    * hash (the content-defined-chunk analog for binary payloads: two
    * videos that share a sampled frame, or two images whose byte streams
    * coincide on a 256-byte block boundary, land in one cluster). Same
    * O(n)-output posture as MinHash.dedupAssignments: the per-frame-hash
    * min is a partial (map-side combining) aggregate shuffle-joined back
    * — one min-propagation round, never a pair list, never a window over
    * raw memberships; only (asset_id, 32-char digest) rows shuffle.
    */
  def c6FrameNearDup(spark: SparkSession, dir: String): DataFrame = {
    val memb = sampledFrames(spark, dir, everyK = 4)
      .select(col("asset_id"), col("frame_hash"))
    val mins = memb.groupBy(col("frame_hash"))
      .agg(min(col("asset_id")).as("bucket_min"))
    memb.join(mins, Seq("frame_hash"))
      .groupBy(col("asset_id"))
      .agg(min(col("bucket_min")).as("cluster_rep"))
      .withColumn("is_kept", col("asset_id") === col("cluster_rep"))
      .orderBy("asset_id")
  }

  /** C6f: banded-MinHash video near-dup — each asset reduced to its SET
    * of sampled frame hashes, then the whole MinHash+LSH dedup machinery
    * reused wholesale ([[graft.dedup.MinHash.dedupAssignmentsFromSets]]:
    * MinHash is set-agnostic, frames instead of word tokens). Assets
    * cluster on HIGH JACCARD of their frame sets — a full signature band
    * must agree — which is the semantics a video pipeline wants:
    * [[c6FrameNearDup]]'s any-shared-frame rule lets ONE boilerplate
    * frame (an intro card on every video) chain the whole corpus into a
    * single cluster, while banding collapses only assets that share most
    * of their frames (trims, appended tails, container changes). Same
    * O(n)-output dedup-assignment posture; the per-asset frame set is
    * bounded by the asset's own size (a per-record column, like a doc's
    * token set), and only (asset_id, band, bucket) rows shuffle.
    */
  def c6FrameNearDupMinhash(spark: SparkSession, dir: String,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sets = sampledFrames(spark, dir, everyK = 4)
      .groupBy(col("asset_id"))
      .agg(collect_set(col("frame_hash")).as("frames"))
    graft.dedup.MinHash
      .dedupAssignmentsFromSets(sets, col("asset_id"), col("frames"), numHashes, bands)
      .withColumnRenamed("doc_id", "asset_id")
      .orderBy("asset_id")
  }

  /** C6g: scene-change segmentation — the video shot-boundary shape: each
    * video's ordered frame stream is cut where the frame signature jumps,
    * and frames between cuts share a scene id (what a training pipeline
    * samples per-scene from, instead of uniformly). The stub signature is
    * the frame's byte SUM (where a real pipeline puts a perceptual
    * embedding); a cut fires when consecutive mean bytes differ by more
    * than `threshold` — compared CROSS-MULTIPLIED in int64
    * (|s·l' − s'·l| > t·l·l'), so the whole query is exact integer
    * arithmetic end to end: no float ever, nothing can hash-flip.
    *
    * Scale: frame explode is narrow per asset; the lag + running-cut-sum
    * windows partition by asset_id (bounded by one video's frame count);
    * only (asset_id, frame_idx, two int64 sig fields) rows shuffle.
    */
  def c6SceneCut(spark: SparkSession, dir: String, threshold: Int = 3): DataFrame = {
    val fb = StubCodec.FrameBytes
    val frames = assets(spark, dir).toDF()
      .filter(col("modality") === "video")
      .withColumn("n_frames",
        ceil(length(col("content")).cast("double") / fb).cast("int"))
      .select(col("asset_id"),
        posexplode(transform(
          sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(1)),
          f => substring(decode(col("content"), "UTF-8"), f * fb + 1, lit(fb)))))
      .select(col("asset_id"), col("pos").as("frame_idx"),
        aggregate(
          transform(split(col("col"), ""), c => ascii(c).cast("long")),
          lit(0L), (acc, c) => acc + c).as("sig_sum"),
        length(col("col")).as("frame_bytes"))
    val byFrame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("asset_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("ps", lag(col("sig_sum"), 1).over(byFrame))
      .withColumn("pl", lag(col("frame_bytes"), 1).over(byFrame))
      .withColumn("is_cut",
        when(col("frame_idx") === 0, lit(true))
          .otherwise(abs(col("sig_sum") * col("pl") - col("ps") * col("frame_bytes"))
            > lit(threshold) * col("frame_bytes") * col("pl")))
      .withColumn("scene_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(byFrame))
      .select("asset_id", "frame_idx", "sig_sum", "frame_bytes", "is_cut", "scene_id")
      .orderBy("asset_id", "frame_idx")
  }

  /** C6c: metadata summary per modality — fully SQL-expressible (the
    * metadata/typed-columns side of the multimodal schema), oracle-checked.
    */
  def c6MetaStats(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir).toDF()
      .groupBy("modality")
      .agg(count(lit(1)).as("n_assets"),
        sum(length(col("content")).cast("long")).as("total_bytes"),
        max(col("width")).as("max_width"),
        max(col("height")).as("max_height"))
      .orderBy("modality")

  private val modalitySql =
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

  val oracle: Map[String, String] = Map(
    // The stub codec's features are deterministic arithmetic over the
    // payload bytes, and the corpus text is pure ASCII (verified), so
    // DuckDB can replay them over character code points: byte histogram
    // via per-char unnest, exact integer mean, and the entropy fold in
    // byte-value order (list_sort) with the same `p * ln(p) / ln(2)`
    // association as StubCodec.decode — bit-identical before round(4).
    "c6_mm_features" ->
      (s"WITH chars AS (SELECT doc_id, ascii(substr(text, CAST(gs.i AS INT), 1)) AS b " +
        "FROM documents, LATERAL (SELECT unnest(range(1, length(text)+1)) AS i) gs), " +
        "hist AS (SELECT doc_id, b, count(*) AS c FROM chars GROUP BY doc_id, b), " +
        "hl AS (SELECT doc_id, list_sort(list([b, c])) AS h, " +
        "CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY doc_id), " +
        "f AS (SELECT doc_id AS f_doc, " +
        "round(CAST(list_sum(list_transform(h, x -> x[1]*x[2])) AS DOUBLE) / n, 4) AS mean_byte, " +
        "round(0.0 - list_sum(list_transform(h, x -> (x[2]/n) * ln(x[2]/n) / ln(2))), 4) AS byte_entropy " +
        "FROM hl) " +
        s"SELECT d.doc_id AS asset_id, $modalitySql AS modality, " +
        "CAST(octet_length(encode(d.text)) AS INT) AS n_bytes, " +
        "COALESCE(f.mean_byte, 0.0) AS mean_byte, " +
        "COALESCE(f.byte_entropy, 0.0) AS byte_entropy, " +
        "CAST((octet_length(encode(d.text)) + 255) // 256 AS INT) AS n_frames " +
        "FROM documents d LEFT JOIN f ON f.f_doc = d.doc_id ORDER BY asset_id"),
    // Frame sampling is oracle-expressible because frames are byte slices
    // and the corpus text is pure ASCII (verified): DuckDB can't slice
    // BLOBs, so the oracle slices the VARCHAR — byte-identical content.
    "c6_frame_sample" ->
      (s"WITH a AS (SELECT doc_id AS asset_id, $modalitySql AS modality, text, " +
        "CAST(ceil(length(text) / 256.0) AS INT) AS n_frames FROM documents) " +
        "SELECT asset_id, modality, " +
        "CAST(gs.i AS INT) AS sample_idx, " +
        "md5(substring(text, 1 + (gs.i*4)*256, 256)) AS frame_hash, " +
        "CAST(length(substring(text, 1 + (gs.i*4)*256, 256)) AS INT) AS frame_bytes " +
        "FROM a, LATERAL (SELECT unnest(range(0, CAST(ceil(greatest(n_frames,1) / 4.0) AS BIGINT))) AS i) gs " +
        "ORDER BY asset_id, sample_idx"),
    // Frame-hash replay (same VARCHAR-slice bridge as c6_frame_sample)
    // feeding the one-round min-propagation in plain SQL.
    "c6_frame_neardup" ->
      ("WITH a AS (SELECT doc_id AS asset_id, text, " +
        "CAST(ceil(length(text) / 256.0) AS INT) AS n_frames FROM documents), " +
        "fr AS (SELECT asset_id, md5(substring(text, 1 + (gs.i*4)*256, 256)) AS frame_hash " +
        "FROM a, LATERAL (SELECT unnest(range(0, " +
        "CAST(ceil(greatest(n_frames,1) / 4.0) AS BIGINT))) AS i) gs), " +
        "mins AS (SELECT frame_hash, min(asset_id) AS bucket_min " +
        "FROM fr GROUP BY frame_hash) " +
        "SELECT asset_id, min(bucket_min) AS cluster_rep, " +
        "asset_id = min(bucket_min) AS is_kept " +
        "FROM fr JOIN mins USING (frame_hash) GROUP BY asset_id ORDER BY asset_id"),
    // Payload md5 replays over the text because content = UTF-8 bytes of
    // the (pure-ASCII, verified) corpus text — the same bridge
    // c6_frame_sample uses for its frame hashes.
    "c6_asset_dedup" ->
      (s"WITH h AS (SELECT doc_id AS asset_id, $modalitySql AS modality, " +
        "md5(text) AS payload_md5 FROM documents), " +
        "f AS (SELECT payload_md5, min(asset_id) AS first_id, " +
        "count(*) AS n_copies FROM h GROUP BY payload_md5) " +
        "SELECT h.asset_id, h.modality, h.payload_md5, f.n_copies, " +
        "h.asset_id = f.first_id AS is_kept " +
        "FROM h JOIN f USING (payload_md5) ORDER BY asset_id"),
    // Full replay of the frame-set MinHash: frame hashes from the same
    // VARCHAR-slice bridge as c6_frame_neardup form the per-asset set
    // (base CTE), then the shared portable MinHash chain
    // (DedupOps.mhChainSql — same as the c2_minhash_lsh oracle) and the
    // one-round min-propagation.
    "c6_frame_neardup_minhash" ->
      ("WITH a AS (SELECT doc_id AS asset_id, text, " +
        "CAST(ceil(length(text) / 256.0) AS INT) AS n_frames FROM documents), " +
        "fr AS (SELECT asset_id, md5(substring(text, 1 + (gs.i*4)*256, 256)) AS frame_hash " +
        "FROM a, LATERAL (SELECT unnest(range(0, " +
        "CAST(ceil(greatest(n_frames,1) / 4.0) AS BIGINT))) AS i) gs), " +
        "base AS (SELECT asset_id AS doc_id, list_distinct(list(frame_hash)) AS toks " +
        "FROM fr GROUP BY asset_id), " +
        DedupOps.mhChainSql() + ", " + DedupOps.bucketMinSql("doc_id", "band") + " " +
        "SELECT doc_id AS asset_id, min(bucket_min) AS cluster_rep, " +
        "doc_id = min(bucket_min) AS is_kept " +
        "FROM mm GROUP BY doc_id ORDER BY asset_id"),
    // Scene-cut replay over the same VARCHAR-slice bridge: frame byte
    // sums, lag, the int64 cross-multiplied cut test, running cut count.
    "c6_scene_cut" ->
      ("WITH a AS (SELECT doc_id AS asset_id, text, " +
        "CAST(ceil(length(text) / 256.0) AS INT) AS nf FROM documents " +
        "WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT asset_id, CAST(gs.i AS INT) AS frame_idx, " +
        "substring(text, 1 + CAST(gs.i AS INT)*256, 256) AS fs " +
        "FROM a, LATERAL (SELECT unnest(range(0, greatest(nf, 1))) AS i) gs), " +
        "sig AS (SELECT asset_id, frame_idx, " +
        "CAST(coalesce(list_sum(list_transform(string_split(fs, ''), " +
        "c -> ascii(c))), 0) AS BIGINT) AS sig_sum, " +
        "CAST(length(fs) AS INT) AS frame_bytes FROM fr), " +
        "lg AS (SELECT asset_id, frame_idx, sig_sum, frame_bytes, " +
        "lag(sig_sum) OVER w AS ps, lag(frame_bytes) OVER w AS pl FROM sig " +
        "WINDOW w AS (PARTITION BY asset_id ORDER BY frame_idx)), " +
        "ct AS (SELECT asset_id, frame_idx, sig_sum, frame_bytes, " +
        "CASE WHEN frame_idx = 0 THEN TRUE ELSE " +
        "abs(sig_sum * pl - ps * frame_bytes) > 3 * frame_bytes * pl END AS is_cut " +
        "FROM lg) " +
        "SELECT asset_id, frame_idx, sig_sum, frame_bytes, is_cut, " +
        "CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY asset_id ORDER BY frame_idx) AS BIGINT) AS scene_id " +
        "FROM ct ORDER BY asset_id, frame_idx"),
    "c6_meta_stats" ->
      (s"SELECT $modalitySql AS modality, count(*) AS n_assets, " +
        "CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes, " +
        "CAST(max(doc_id % 640 + 1) AS INT) AS max_width, " +
        "CAST(max(doc_id % 480 + 1) AS INT) AS max_height " +
        "FROM documents GROUP BY 1 ORDER BY 1")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c6_mm_features" -> ((s: SparkSession, d: String) => c6Features(s, d)),
    "c6_frame_sample" -> ((s: SparkSession, d: String) => c6FrameSample(s, d)),
    "c6_asset_dedup" -> (c6AssetDedup _),
    "c6_frame_neardup" -> (c6FrameNearDup _),
    "c6_frame_neardup_minhash" ->
      ((s: SparkSession, d: String) => c6FrameNearDupMinhash(s, d)),
    "c6_meta_stats" -> (c6MetaStats _),
    "c6_scene_cut" -> ((s: SparkSession, d: String) => c6SceneCut(s, d))
  )
}
