package graft.queries

import graft.SparkSuite

/** Structural invariants of the C7 packing and C5 retention operators —
  * properties the row-level oracle compare can't express (the DuckDB
  * check proves cross-engine equality; these prove the *semantics* are
  * the ones a training pipeline needs).
  */
class PipelineSpec extends SparkSuite {

  test("c7_pack_sequences: contiguous, gap-free packing per language") {
    val rows = PipelineOps.c7PackSequences(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val L = 2048L
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(_._2)
      // spans are self-consistent and non-negative
      ordered.foreach { case (_, id, n, first, last, nSeqs) =>
        assert(n >= 1, s"$lang/$id: empty doc")
        assert(first <= last && nSeqs == last - first + 1, s"$lang/$id: bad span")
        // a doc of n tokens can span at most ceil(n/L)+1 sequences
        assert(nSeqs <= (n - 1) / L + 2, s"$lang/$id: span too wide for $n tokens")
      }
      // the token stream is contiguous: each doc starts in the sequence
      // its predecessor ended in, or (exactly at a boundary) the next one
      ordered.sliding(2).filter(_.length == 2).foreach { pair =>
        val (_, idA, _, _, lastA, _) = pair(0)
        val (_, idB, _, firstB, _, _) = pair(1)
        assert(firstB == lastA || firstB == lastA + 1,
          s"$lang: gap between doc $idA (last_seq $lastA) and doc $idB (first_seq $firstB)")
      }
      // full coverage: total sequences = ceil(total tokens / L)
      val totalTokens = ordered.map(_._3).sum
      assert(ordered.map(_._5).max == (totalTokens - 1) / L,
        s"$lang: sequence count != ceil(total/L)")
      assert(ordered.head._4 == 0L, s"$lang: packing must start at sequence 0")
    }
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact join") {
    // No false negatives: the prefilter may only pass extra candidates,
    // and the exact confirm join removes them — for ANY bloom params.
    val exact = PipelineOps.c7Decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bloom = PipelineOps.c7DecontaminateBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(bloom == exact)
    assert(bloom.nonEmpty)
    // and the prefilter is actually in the plan (this must not silently
    // degrade into the exact query)
    val plan = PipelineOps.c7DecontaminateBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prefilter missing:\n$plan")
  }

  test("withRunningSum == naive per-language cumulative sum (property, varied partitioning)") {
    // The two-phase prefix sum (range-partition → per-(pid,lang) offsets
    // → bounded window) is oracle-green at two SFs, but that pins one
    // data distribution and one partition count. This pins the ALGEBRA:
    // for random inputs it must equal the naive per-language cumulative
    // sum under every partitioning, including the degenerate 1-partition
    // and more-partitions-than-rows cases.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val rowGen = for {
      lang <- Gen.oneOf("en", "fr", "de", "ja")
      id <- Gen.chooseNum(0L, 400L)
      n <- Gen.chooseNum(0L, 100L)
    } yield ((lang, id), n)
    val dataGen = Gen.chooseNum(0, 50).flatMap(k => Gen.mapOfN(k, rowGen))
    val prop = Prop.forAll(dataGen) { m =>
      val rows = m.toSeq.map { case ((l, id), n) => (l, id, n) }
      val want = rows.groupBy(_._1).flatMap { case (l, rs) =>
        val sorted = rs.sortBy(_._2)
        sorted.map(_._2).zip(sorted.map(_._3).scanLeft(0L)(_ + _).tail)
          .map { case (id, cum) => ((l, id), cum) }
      }
      Seq(1, 2, 7, 32).forall { np =>
        spark.conf.set("spark.sql.shuffle.partitions", np)
        try {
          val got = PipelineOps
            .withRunningSum(rows.toDF("lang", "doc_id", "n_tokens"), "n_tokens", "cum")
            .select("lang", "doc_id", "cum").collect()
            .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
          got == want
        } finally spark.conf.set("spark.sql.shuffle.partitions", 4)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("decontamination bloom sizing follows the data, so a large test split still prunes") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.functions.{concat, lit => flit, xxhash64}
    def fpRate(bin: Array[Byte]): Double = {
      // disjoint probe set: the observed pass rate on non-members is the
      // prefilter's wasted-shuffle fraction
      val probe = spark.range(0, 100000)
        .select(concat(flit("probe_"), org.apache.spark.sql.functions.col("id")).as("sh"))
      val hits = probe.filter(ColumnBridge.column(
        BloomFilterMightContain(
          Literal.create(bin, org.apache.spark.sql.types.BinaryType),
          ColumnBridge.expression(xxhash64(org.apache.spark.sql.functions.col("sh")))))).count()
      hits.toDouble / 100000.0
    }
    // 300k synthetic shingles: large enough that mis-sizing shows up in
    // the FPP, small enough for the suite
    val n = 300000L
    val test = spark.range(0, n)
      .select(concat(flit("t"), org.apache.spark.sql.functions.col("id")).as("sh"))
    // sized from the data (what c7DecontaminateBloom now does): FPP
    // stays at the ~3% design point and the prefilter keeps pruning
    val sized = PipelineOps.testShingleBloom(test, n)
    assert(fpRate(sized) < 0.06, "data-sized bloom must keep its design FPP")
    // the failure mode this guards against: a hardcoded expectation 100×
    // too small saturates the bits and the prefilter stops filtering
    val undersized = PipelineOps.testShingleBloom(test, n / 100)
    assert(fpRate(undersized) > 0.5,
      "undersized bloom should saturate — if this fails, the guard is untestable")
  }

  test("c7_pipeline: survivors satisfy every gate and pack gap-free") {
    import org.apache.spark.sql.functions.col
    val rows = PipelineOps.c7Pipeline(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "the composed pipeline must keep a non-trivial train set")
    // gates that are recomputable without rerunning the heavy stages
    rows.foreach { case (_, id, n, _, _, _) =>
      assert(n >= 10, s"doc $id under the length floor")
      assert((id * 2654435761L) % 4294967296L < (0.8 * 4294967296L).toLong,
        s"doc $id not in the train bucket")
    }
    // the dedup gate actually bit: survivors are a strict subset
    val total = graft.Tables.load(spark, sf, "documents").count()
    assert(rows.length < total)
    // packing over the SURVIVING set is contiguous and gap-free per lang
    val L = 2048L
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(_._2)
      assert(ordered.head._4 == 0L, s"$lang: packing must start at sequence 0")
      ordered.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(pair(1)._4 == pair(0)._5 || pair(1)._4 == pair(0)._5 + 1,
          s"$lang: gap between docs ${pair(0)._2} and ${pair(1)._2}")
      }
      val totalTokens = ordered.map(_._3).sum
      assert(ordered.map(_._5).max == (totalTokens - 1) / L,
        s"$lang: sequence count != ceil(total/L)")
    }
  }

  test("c7_pipeline_v2: dedup-then-scrub ordering; planted span scrubbed; packing over n_eff") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Engineered corpus (ids chosen with Knuth bucket < 0.8·2^32 so the
    // carve-out keeps them; en function words so langid agrees):
    //  doc 2 (d_f): P's tokens SCATTERED (no contiguous 16-run) — the
    //    first copy of {2,4}'s shared token set
    //  doc 4 (d_a): SAME token set as doc 2 but with P contiguous —
    //    dropped by doc-level dedup (identical set ⇒ identical
    //    signature ⇒ co-bucket in all 4 bands)
    //  doc 6 (d_b): unique prefix + P contiguous — survives
    //  doc 10 (d_dup2): unique prefix + P contiguous — survives, LATER
    // Among survivors P occurs contiguously in {6, 10} only ⇒ doc 10 is
    // scrubbed, doc 6 is NOT. A raw-corpus scrub (spans before dedup)
    // would have scrubbed doc 6 too, via the dropped doc 4 — the
    // composition-order property under test.
    val p = (1 to 20).map(i => s"p${i}x")
    val q = (1 to 10).map(i => s"q${i}x")
    val u = (1 to 13).map(i => s"u${i}x")
    val v = (1 to 13).map(i => s"v${i}x")
    val stopA = Seq("of", "the", "is", "and", "to", "it", "in")
    val stopB = Seq("the", "of", "and", "is", "to", "it", "in")
    val stopC = stopB.reverse
    val dF = (p.take(10) zip q).flatMap { case (a, b) => Seq(a, b) } ++
      Seq(p(10), "the", p(11), "of", p(12), "and", p(13), "is", p(14), "to",
        p(15), "it", p(16), "in", p(17), p(18), p(19))
    val dA = stopA ++ q ++ p
    val dB = u ++ stopB ++ p
    val dD = v ++ stopC ++ p
    assert(dF.toSet == dA.toSet, "docs 2/4 must share one token set")
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_v2").toString
    Seq((2L, dF), (4L, dA), (6L, dB), (10L, dD))
      .map { case (id, ts) => (id, ts.mkString(" "), "en") }
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val got = PipelineOps.c7PipelineV2(spark, dir).collect()
      .map(r => (r.getLong(1), (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // doc 4 deduped away; doc 6 intact; doc 10 scrubbed by exactly P
    assert(got.keySet == Set(2L, 6L, 10L), s"survivors: ${got.keySet}")
    assert(got(2L) == (("en", 37L, 0L, 37L, 0L, 0L, 1L)))
    assert(got(6L) == (("en", 40L, 0L, 40L, 0L, 0L, 1L)),
      "doc 6 was scrubbed — span analysis leaked the dropped duplicate")
    assert(got(10L) == (("en", 40L, 20L, 20L, 0L, 0L, 1L)))
    // the naive order (spans over the RAW corpus) WOULD have scrubbed
    // the surviving doc 6 through the dropped doc 4
    val naive = TextOps.scrubRemovedCounts(
      graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(naive.get(6L).contains(20L) && naive.get(10L).contains(20L),
      s"raw-corpus scrub expectation drifted: $naive")
  }

  test("c7_ppl_filter: exact per-lang terciles ordered by nll; head+middle kept") {
    val rows = PipelineOps.c7PplFilter(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val byBucket = docs.groupBy(_._4).view.mapValues(_.length).toMap
      assert(byBucket.keySet.subsetOf(Set(0L, 1L, 2L)), s"$lang: $byBucket")
      // exact integer terciles: sizes differ by at most 1
      val sizes = (0L to 2L).map(b => byBucket.getOrElse(b, 0))
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // buckets are ordered by nll: max(head) <= min(middle), etc.
      def nlls(b: Long) = docs.filter(_._4 == b).map(_._3)
      (0L to 1L).foreach { b =>
        if (nlls(b).nonEmpty && nlls(b + 1).nonEmpty)
          assert(nlls(b).max <= nlls(b + 1).min,
            s"$lang: bucket $b nll overlaps bucket ${b + 1}")
      }
    }
    // CCNet selection: exactly head+middle survive
    rows.foreach { case (_, _, _, b, keep) => assert(keep == (b <= 1)) }
  }

  test("c7_pipeline_v3: tercile over SURVIVORS; composed set matches in-memory reference") {
    // The composed semantics v3 adds over v2: the per-lang perplexity
    // tercile is computed among the DEDUP SURVIVORS, not the raw
    // corpus — a dropped duplicate must neither occupy a tercile slot
    // nor shift a boundary. Reference: rank pipelineKept's survivors
    // by (nll, doc_id) per lang in memory, keep bucket <= 1, and the
    // composed query's doc set must equal it exactly.
    import org.apache.spark.sql.functions._
    val kept = PipelineOps.pipelineKept(spark, sf)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nll = TextOps.c4LmPplRef(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val expectKeep = kept.groupBy(_._1).toSeq.flatMap { case (_, ds) =>
      val ranked = ds.map(d => (nll(d._2), d._2)).sortBy(identity).toSeq
      val n = ranked.length
      ranked.zipWithIndex.collect {
        case ((_, id), i) if (3L * i) / n <= 1 => id
      }
    }.toSet
    val got = PipelineOps.c7PipelineV3(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getLong(4),
        r.getLong(5)))
    // v3's output = survivor-tercile keeps minus effective-length-floor
    // drops; on the gate corpus the floor drops nothing (min doc is
    // well above 10 tokens post-scrub), so the sets match exactly. If
    // the corpus changes shape, the subset assert still holds and the
    // equality assert localizes the floor's effect.
    val gotIds = got.map(_._2).toSet
    assert(gotIds.subsetOf(expectKeep), "v3 kept a doc outside the survivor tercile")
    assert(gotIds === expectKeep,
      s"${expectKeep.size - gotIds.size} survivor-tercile docs missing from v3")
    // Non-vacuity of 'over survivors': the survivor tercile must differ
    // from (full-corpus tercile ∩ survivors) on this corpus — dedup
    // drops enough docs to shift boundaries.
    val fullKeep = PipelineOps.c7PplFilter(spark, sf).collect()
      .filter(_.getBoolean(4)).map(_.getLong(1)).toSet
    val keptIds = kept.map(_._2).toSet
    assert(expectKeep != (fullKeep intersect keptIds),
      "corpus no longer distinguishes survivor-tercile from full-corpus " +
        "tercile — the composition property is untested; re-engineer")
    // n_eff accounting: n_eff = n_tokens - n_removed, all >= floor
    val ok = PipelineOps.c7PipelineV3(spark, sf)
      .filter(col("n_eff") =!= col("n_tokens") - col("n_removed") ||
        col("n_eff") < 10)
      .count()
    assert(ok === 0L)
  }

  test("c7_mix_sources: budget respected, rates capped, small sources upweighted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Skewed synthetic fixture (the sf corpora have uniform sources, so
    // the upweighting behavior is invisible there); sizes are perfect
    // squares so every float step is exact and the expected quotas are
    // closed-form: sqrt(4)=2, sqrt(400)=20, tot=22, budget 110 →
    // quotas 10 and 100; source A's rate caps at 1 (10/4 > 1), source
    // B's is exactly 1/4 → keep_below = 2^30.
    val fixture = ((1L to 4L).map(i => (i, "srcA")) ++
      (1000L to 1399L).map(i => (i, "srcB"))).toDF("doc_id", "source")
    val rows = PipelineOps.mixSources(fixture, budget = 110L)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (na, qa, ka, sa) = rows("srcA")
    val (nb, qb, kb, sb) = rows("srcB")
    assert((na, qa) == (4L, 10L) && (nb, qb) == (400L, 100L))
    // rate capped at 1: the small source is kept IN FULL
    assert(ka == 4L && sa == (1L to 4L).sum)
    // α = 0.5 temperature: srcB is 100× the size but gets only 10× the
    // quota — sub-proportional allocation is the operator's whole point
    assert(qb == 10L * qa)
    // the selection is EXACTLY the Knuth-bucket filter at keep_below =
    // 2^30 — replay it in Scala and match count and id-sum
    val expectB = (1000L to 1399L)
      .filter(i => Math.floorMod(i * 2654435761L, 4294967296L) < (1L << 30))
    assert(kb == expectB.size.toLong && sb == expectB.sum,
      s"srcB selection diverged: kept $kb sum $sb vs ${expectB.size}/${expectB.sum}")
    assert(kb < nb, "srcB must be downsampled")
    // floor() allocation never over-spends the budget
    assert(qa + qb <= 110L)
  }

  test("c7_shard_balance: doc counts within 1, all docs covered, shards disjoint") {
    val shards = PipelineOps.c7ShardBalance(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(shards.length == 16)
    assert(shards.map(_._1).toSeq == (0 until 16))
    // striping puts the same number of docs (±1) in every shard
    val counts = shards.map(_._2)
    assert(counts.max - counts.min <= 1, s"unbalanced: ${counts.toSeq}")
    // exhaustive and disjoint: counts and id fingerprints sum to the corpus
    val docs = graft.Tables.load(spark, sf, "documents")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("doc_id")).head()
    assert(counts.sum == docs.getLong(0))
    assert(shards.map(_._4).sum == docs.getLong(1))
    // striping by size rank keeps token mass near-even: no shard may hold
    // more than 2x the mean token mass (loose, but catches a broken rank)
    val toks = shards.map(_._3)
    assert(toks.max <= 2 * (toks.sum / toks.length),
      s"token-skewed shards: ${toks.toSeq}")
  }

  test("c7_contamination: counts consistent, dirty flag is the integer rule") {
    val rows = PipelineOps.c7Contamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nSh, nHit, dirty) =>
      assert(nSh >= 1, s"doc $id: empty shingle set emitted")
      assert(nHit <= nSh, s"doc $id: more hits than shingles")
      assert(dirty == (nHit * 10 >= nSh), s"doc $id: flag drifted from the rule")
    }
    // test docs only: every emitted doc is in the held-out bucket
    rows.foreach { case (id, _, _, _) =>
      assert((id * 2654435761L) % 4294967296L >= (0.9 * 4294967296L).toLong,
        s"doc $id is not a test-split doc")
    }
  }

  test("c7_decontaminate_fuzzy: matches are real >=0.8 Jaccard; exact-dup docs are caught") {
    val rows = PipelineOps.c7DecontaminateFuzzy(spark, sf).collect()
    assert(rows.nonEmpty)
    val flagged = rows.filter(_.getBoolean(1))
    // every contaminated row carries a match at or above the threshold
    flagged.foreach { r =>
      assert(!r.isNullAt(2) && r.getDouble(3) >= 0.8,
        s"doc ${r.getLong(0)}: contaminated without a qualifying match")
    }
    // clean rows carry no match
    rows.filterNot(_.getBoolean(1)).foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3),
        s"doc ${r.getLong(0)}: clean but match fields set")
    }
    // ground truth: any train doc whose text EXACTLY equals a test doc's
    // text (Jaccard 1.0) must be flagged — LSH banding cannot miss j=1
    val session = spark
    import session.implicits._
    val d = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text",
        org.apache.spark.sql.functions.expr(
          "(doc_id * 2654435761) % 4294967296").as("sb"))
    val t8 = (0.8 * 4294967296L).toLong
    val t9 = (0.9 * 4294967296L).toLong
    val testTexts = d.filter($"sb" >= t9).select("text").distinct()
    val exactDups = d.filter($"sb" < t8)
      .join(testTexts, "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val flaggedIds = flagged.map(_.getLong(0)).toSet
    exactDups.foreach(id =>
      assert(flaggedIds.contains(id), s"exact train/test dup $id not flagged"))
  }

  test("c7_sample_weighted: k rows, size-biased toward heavy docs, no global sort") {
    val df = PipelineOps.c7SampleWeighted(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.length == 100)
    // priorities are the integer rule, and the cut is the k smallest:
    // every kept priority <= every dropped one (spot-check via corpus)
    val all = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "(((doc_id * 2654435761) % 4294967296) * 1048576) " +
          "div greatest(n_chars, 1) AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val keptMax = rows.map(_._3).max
    val dropped = all.filterNot(a => rows.exists(_._1 == a._1))
    assert(dropped.forall(d => d._2 > keptMax ||
      (d._2 == keptMax && d._1 > rows.filter(_._3 == keptMax).map(_._1).max)))
    // size bias: the weighted sample's mean n_chars must exceed the
    // corpus mean (longer docs get smaller priorities)
    val sampleMean = rows.map(_._2).sum.toDouble / rows.length
    val corpusChars = graft.Tables.load(spark, sf, "documents")
      .agg(org.apache.spark.sql.functions.sum("n_chars"))
      .collect()(0).getLong(0)
    val meanRatio = sampleMean / (corpusChars.toDouble / all.length)
    assert(meanRatio > 1.1, s"no size bias: sample/corpus mean ratio $meanRatio")
    // scale posture: a TakeOrdered, never a global Sort+Limit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  test("c7_epoch_order: each epoch is a complete permutation; epochs decorrelate") {
    val rows = PipelineOps.c7EpochOrder(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val n = rows.map(_._2).distinct.length
    (0 until 3).foreach { e =>
      val pos = rows.filter(_._1 == e).map(_._3).sorted
      assert(pos.toSeq == (1L to n.toLong).toSeq, s"epoch $e not a permutation")
    }
    // different epochs really are different orders
    val p0 = rows.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    val p1 = rows.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq
    assert(p0 != p1, "epoch 0 and 1 produced the same permutation")
    val agree = p0.zip(p1).count { case (a, b) => a == b }
    assert(agree < n / 10, s"epochs barely differ: $agree/$n fixed points")
    // rotation guard: a cyclic shift of epoch 0 has ZERO fixed points yet
    // replays the same training sequence — so additionally require that
    // consecutive pairs of epoch 0's order are broken up in epoch 1
    // (adjacency preservation well below 10%, where a rotation keeps ~100%)
    def order(e: Int): Seq[Long] =
      rows.filter(_._1 == e).sortBy(_._3).map(_._2).toSeq
    val succ0 = order(0).sliding(2).map(p => (p(0), p(1))).toSet
    val kept = order(1).sliding(2).count(p => succ0((p(0), p(1))))
    assert(kept < n / 10,
      s"epoch 1 preserves $kept/${n - 1} adjacent pairs of epoch 0 — " +
        "a rotation, not a reshuffle")
  }

  test("c5_retention: day-0 cell equals cohort size; offsets non-negative") {
    val cells = EventOps.c5Retention(spark, sf)
      .collect()
      .map(r => (r.getDate(0), r.getInt(1), r.getLong(2)))
    assert(cells.nonEmpty)
    cells.foreach { case (_, off, n) =>
      assert(off >= 0, "activity before a user's first-seen day")
      assert(n >= 1)
    }
    // every cohort has a day-0 cell (each user is active on their
    // first-seen day by construction), and no later cell can exceed it
    cells.groupBy(_._1).foreach { case (cohort, cs) =>
      val byOff = cs.map(c => c._2 -> c._3).toMap
      assert(byOff.contains(0), s"$cohort: missing day-0 cell")
      byOff.foreach { case (off, n) =>
        assert(n <= byOff(0), s"$cohort: offset $off actives $n > cohort size ${byOff(0)}")
      }
    }
  }

  test("c7_split_cluster_safe: no near-dup pair straddles a split; per-doc hashing would leak") {
    import org.apache.spark.sql.functions._
    val split = PipelineOps.c7SplitClusterSafe(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    val byDoc = split.toMap
    // NOTE: on the duplicate-saturated sf corpus the closure may collapse
    // to a single mega-cluster (one split used) — that IS the correct
    // leakage-safe answer there; multi-split behavior is asserted on the
    // synthetic multi-family corpus below.
    // high-Jaccard pairs from the same LSH machinery the closure consumed
    val pairs = graft.dedup.MinHash.nearDuplicates(
      graft.Tables.load(spark, sf, "documents"), col("doc_id"), col("text"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has no near-dup pairs; the check would be vacuous")
    pairs.foreach { case (a, b) =>
      assert(byDoc(a)._2 == byDoc(b)._2,
        s"near-dup pair ($a, $b) straddles splits ${byDoc(a)._2}/${byDoc(b)._2}")
    }
    // contrast: the per-DOC Knuth split separates at least one of those
    // same pairs — the cluster keying is what prevents the leak, not
    // luck of the hash
    def docSplit(id: Long): String = {
      val bucket = (id * 2654435761L) % 4294967296L
      if (bucket < (0.8 * 4294967296L).toLong) "train"
      else if (bucket < (0.9 * 4294967296L).toLong) "val" else "test"
    }
    assert(pairs.exists { case (a, b) => docSplit(a) != docSplit(b) },
      "per-doc hashing happens not to leak on this corpus; contrast check vacuous")
    // Synthetic multi-family corpus: 40 disjoint-vocabulary duplicate
    // families of 3 — the cluster-keyed split must use >= 2 splits AND
    // keep each family whole.
    import spark.implicits._
    val fams = (0 until 40).flatMap { f =>
      val text = (0 until 12).map(i => s"fam${f}w$i").mkString(" ")
      Seq((f * 3L, text), (f * 3L + 1, text), (f * 3L + 2, text + s" fam${f}extra"))
    }.toDF("doc_id", "text")
    val famSplit = graft.dedup.MinHash.dedupAssignmentsCC(
        fams, col("doc_id"), col("text"), numHashes = 64, bands = 16)
      .withColumn("bucket", expr("(cluster_rep * 2654435761) % 4294967296"))
      .withColumn("split",
        when(col("bucket") < (0.8 * 4294967296L).toLong, "train")
          .when(col("bucket") < (0.9 * 4294967296L).toLong, "val")
          .otherwise("test"))
      .collect().map(r => r.getLong(0) -> r.getString(4))
    assert(famSplit.map(_._2).distinct.length >= 2,
      "40 independent clusters all hashed into one split")
    famSplit.groupBy(_._1 / 3).foreach { case (f, members) =>
      assert(members.map(_._2).distinct.length == 1,
        s"family $f straddles splits: ${members.toSeq}")
    }
  }
}
