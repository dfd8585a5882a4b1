package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: synthesizes ~10x sf0.1 inputs in /tmp (keys shifted per
  * replica so join fanout and group cardinality scale realistically) and
  * times the heaviest operator families at 1x vs 10x. Evidence for the
  * linear-scaling claim — run manually, prints a small table. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val big = "/tmp/graft_scale10"
    val replicas = 10
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(table: String, keyShifts: Seq[(String, Long)]): Unit = {
      val src = graft.Tables(spark, base, table)
      val reps = (0 until replicas).map { r =>
        keyShifts.foldLeft(src) { case (d, (k, shift)) =>
          d.withColumn(k, col(k) + lit(r * shift))
        }
      }
      reps.reduce(_ unionAll _).write.mode("overwrite")
        .parquet(s"$big/$table.parquet")
    }
    def replicate1(table: String, keyCols: Seq[String], shift: Long): Unit =
      replicate(table, keyCols.map(_ -> shift))
    val t0 = System.nanoTime()
    // shift every key participating in a join consistently per replica,
    // or the "10x" join would fan out 10x-per-side (100x work) and the
    // ratios would measure the synthesis artifact, not the engine.
    // l_partkey shifts too — leaving it fixed DENSIFIES the part
    // co-occurrence graph 10x instead of growing it (q104/q105 would
    // measure that artifact, not scaling) — but by only 10^5 per
    // replica so shifted keys stay under 2^20 (q96's version packing)
    replicate("lineitem",
      Seq("l_orderkey" -> 10000000L, "l_partkey" -> 100000L))
    replicate1("orders", Seq("o_orderkey", "o_custkey"), 10000000L)
    replicate1("customer", Seq("c_custkey"), 10000000L)
    replicate1("documents", Seq("doc_id"), 10000000L)
    replicate1("embeddings", Seq("vec_id"), 10000000L)
    replicate1("events", Seq("event_id", "user_id"), 10000000L)
    // supplier is a dim: copied once, keys unshifted — replicated fact rows
    // join the same supplier set, so per-row join fanout stays constant
    graft.Tables(spark, base, "supplier").write.mode("overwrite")
      .parquet(s"$big/supplier.parquet")
    println(f"[scale] synthesis ${(System.nanoTime() - t0) / 1e9}%.1f s")

    /** q66 variant with a DELIBERATELY skewed synthetic key: half of all
      * lineitem rows are rewritten to one supplier key, so the salt is
      * load-bearing (the registered q66 runs on near-uniform TPC-H keys,
      * where salting is semantically proven but never stressed). The 10x
      * ratio of this case is the evidence that the salted shuffle stays
      * balanced as the hot key's row count grows 10x. */
    def saltedSkewed(s: SparkSession, d: String): DataFrame = {
      val li = graft.Tables(s, d, "lineitem")
        .withColumn("l_suppkey",
          when(col("l_orderkey") % 2 === 0, lit(1L))
            .otherwise(col("l_suppkey")))
      val sup = graft.Tables(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Skew.saltedJoin(li, sup, "l_suppkey", factor = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"))
    }

    def time(name: String, dir: String)(q: (SparkSession, String) => DataFrame): Double = {
      val t = System.nanoTime()
      q(spark, dir).count()
      (System.nanoTime() - t) / 1e9
    }
    val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q01_pricing_summary" -> graft.queries.Relational.q01PricingSummary,
      "q02_revenue_by_segment" -> graft.queries.Relational.q02RevenueBySegment,
      "q21_dedup_exact" -> (graft.ext.Dedup.exact(_, _)),
      "q22_minhash_pairs" -> (graft.ext.Dedup.minhashPairs(_, _)),
      "q23_ngram_jaccard" -> (graft.ext.Dedup.ngramJaccardPairs(_, _)),
      "q24_simhash_pairs" -> (graft.ext.Dedup.simhashPairs(_, _)),
      "q47_neardup_lsh" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.neardupPairsLsh(s, d)),
      "q30_lang_id" -> (graft.ext.TextAnalysis.langId(_, _)),
      "q48_dedup_clusters" -> (graft.ext.Curate.dedupClusters(_, _)),
      "q49_stratified_sample" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.stratifiedSample(s, d)),
      "q50_repetition" -> (graft.ext.Curate.repetition(_, _)),
      "q54_decontaminate" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.decontaminate(s, d)),
      "q55_pack_chunks" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.packChunks(s, d)),
      "q35_percentile" -> graft.queries.Analytics.q35Percentile,
      "q26_knn_bruteforce" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.knnBruteForce(s, d)),
      "q51_mixture_sample" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.mixtureSample(s, d)),
      // round-4 operators
      "q63_span_dedup" -> ((s: SparkSession, d: String) =>
        graft.ext.Dedup.spanDedup(s, d)),
      "q64_unigram_logprob" -> (graft.ext.TextAnalysis.unigramLogprob(_, _)),
      "q67_kmv_distinct" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.distinctEstimate(s, d)),
      "q68_incr_neardup" -> (graft.ext.Dedup.incrementalNearDup(_, _)),
      "q69_ann_pq" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.annPq(s, d)),
      // round-5 operators
      "q70_fingerprint_md5" -> (graft.ext.TextAnalysis.fingerprintsMd5(_, _)),
      "q71_media_content" -> (graft.ext.Multimodal.contentStats(_, _)),
      "q66_salted_skewed" -> saltedSkewed _,
      // round-6 operators
      "q73_merge_upsert" -> (graft.ops.Merge.mergeUpsert(_, _)),
      "q74_resample" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q74Resample(s, d)),
      "q76_heavy_hitters" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.heavyHitters(s, d)),
      "q77_uniform_sample" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.uniformSample(s, d)),
      "q78_dsir_weights" -> (graft.ext.TextAnalysis.dsirWeights(_, _)),
      "q79_decontam_bloom" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.decontaminateBloom(s, d)),
      "q80_weighted_sample" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.weightedSample(s, d)),
      "q81_datacard" -> (graft.ext.Curate.dataCard(_, _)),
      "q83_bpe_tokens" -> ((s: SparkSession, d: String) =>
        graft.ext.Bpe.encodeCorpus(s, d)),
      "q84_bm25" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.bm25(s, d)),
      "q85_funnel" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q85Funnel(s, d)),
      "q86_anomaly" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q86Anomaly(s, d)),
      "q87_profile" -> ((s: SparkSession, d: String) =>
        graft.ops.Profile.profile(graft.Tables(s, d, "orders"))),
      "q88_semdedup" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.semDedup(s, d)),
      "q89_source_overlap" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.sourceOverlap(s, d)),
      "q90_cohort_retention" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q90Cohort(s, d)),
      "q91_chunk_overlap" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.chunkOverlap(s, d)),
      // round-6 second-batch operators
      "q92_scd2" -> ((s: SparkSession, d: String) =>
        graft.ops.Scd.q92Scd2(s, d)),
      "q93_interval_join" -> ((s: SparkSession, d: String) =>
        graft.ops.RangeJoin.q93IntervalJoin(s, d)),
      "q94_fuzzy_join" -> ((s: SparkSession, d: String) =>
        graft.ops.FuzzyMatch.q94FuzzyJoin(s, d)),
      "q95_rolling_window" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q95RollingWindow(s, d)),
      "q96_cdc_apply" -> ((s: SparkSession, d: String) =>
        graft.ops.Scd.q96CdcApply(s, d)),
      "q98_overlap_join" -> ((s: SparkSession, d: String) =>
        graft.ops.RangeJoin.q98OverlapJoin(s, d)),
      "q99_skew_profile" -> ((s: SparkSession, d: String) =>
        graft.ops.Skew.q99SkewProfile(s, d)),
      "q100_burst_dedup" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q100BurstDedup(s, d)),
      "q101_audio_resample" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.resampleAudioStats(s, d)),
      "q102_split_report" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.splitReport(s, d)),
      "q103_split_leakage" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.splitLeakage(s, d)),
      "q104_triangles" -> ((s: SparkSession, d: String) =>
        graft.ops.Triangles.q104Triangles(s, d)),
      "q105_pagerank" -> ((s: SparkSession, d: String) =>
        graft.ops.PageRank.q105PageRank(s, d)),
      "q106_expectations" -> ((s: SparkSession, d: String) =>
        graft.ops.Expect.q106Expectations(s, d)),
      "q107_bigram_logprob" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.bigramLogprob(s, d)),
      "q108_assoc_rules" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q108AssocRules(s, d)),
      "q97_grouping_sets" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q97GroupingSets(s, d)),
      "q109_audio_exact" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.resampleAudioExact(s, d)),
      // round-7/9 operators
      "q110_image_exact" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.imageStatsExact(s, d)),
      "q111_profile_drift" -> ((s: SparkSession, d: String) =>
        graft.ops.Profile.q111ProfileDrift(s, d)),
      "q112_epoch_shuffle" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.epochShuffle(s, d)),
      "q113_length_batching" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.lengthBatching(s, d)),
      "q114_seq_assembly" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q114SequenceAssembly(s, d)),
      "q115_srp_codes" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.srpCodes(s, d)),
      "q116_hll_distinct" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q116HllDistinct(s, d)),
      "q117_cms_frequency" -> ((s: SparkSession, d: String) =>
        graft.queries.Analytics.q117CmsFrequency(s, d)),
      "q118_mixture_schedule" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.mixtureSchedule(s, d)),
      "q119_adpcm_roundtrip" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.adpcmRoundtripExact(s, d)),
      "q120_repeat_spans" -> ((s: SparkSession, d: String) =>
        graft.ext.Dedup.repeatSpans(s, d)),
      "q121_repeat_span_removal" -> ((s: SparkSession, d: String) =>
        graft.ext.Dedup.repeatSpanRemoval(s, d)),
      "q122_hashed_classifier" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.hashedClassifier(s, d)),
      "q123_boilerplate" -> ((s: SparkSession, d: String) =>
        graft.ext.Boilerplate.boilerplateExtract(s, d)),
      "q124_link_graph" -> ((s: SparkSession, d: String) =>
        graft.ext.Boilerplate.linkGraph(s, d)),
      "q125_pii_scan" -> ((s: SparkSession, d: String) =>
        graft.ext.Pii.piiScan(s, d)),
      "q126_token_entropy" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.tokenEntropy(s, d)),
      // round-11 operators
      "q127_image_dhash" -> ((s: SparkSession, d: String) =>
        graft.ext.ImageHash.imageDhash(s, d)),
      "q128_image_neardup" -> ((s: SparkSession, d: String) =>
        graft.ext.ImageHash.imageNearDup(s, d)),
      "q129_url_canonicalize" -> ((s: SparkSession, d: String) =>
        graft.ext.UrlCurate.urlCurate(s, d)),
      "q130_domain_caps" -> ((s: SparkSession, d: String) =>
        graft.ext.UrlCurate.domainCaps(s, d)),
      "q131_markup_metadata" -> ((s: SparkSession, d: String) =>
        graft.ext.Boilerplate.markupMetadata(s, d)),
      "q132_crawl_pipeline" -> ((s: SparkSession, d: String) =>
        graft.ext.CrawlPipeline.crawlPipeline(s, d)),
      "q133_image_clusters" -> ((s: SparkSession, d: String) =>
        graft.ext.ImageHash.imageClusters(s, d)),
      "q134_audio_fingerprint" -> ((s: SparkSession, d: String) =>
        graft.ext.AudioHash.audioFingerprint(s, d)),
      "q135_audio_neardup" -> ((s: SparkSession, d: String) =>
        graft.ext.AudioHash.audioNearDup(s, d)),
      "q136_video_frames" -> ((s: SparkSession, d: String) =>
        graft.ext.VideoHash.videoFrameStats(s, d)),
      "q137_video_fingerprint" -> ((s: SparkSession, d: String) =>
        graft.ext.VideoHash.videoFingerprint(s, d)),
      "q138_video_neardup" -> ((s: SparkSession, d: String) =>
        graft.ext.VideoHash.videoNearDup(s, d)),
      // round-11 session-3 operators
      "q139_robots_policy" -> ((s: SparkSession, d: String) =>
        graft.ext.Robots.robotsFilter(s, d)),
      "q140_quantiles_exact" -> ((s: SparkSession, d: String) =>
        graft.ext.Quantiles.exactQuantiles(s, d)),
      "q141_quantile_sketch" -> ((s: SparkSession, d: String) =>
        graft.ext.Quantiles.sketchQuantiles(s, d)),
      "q142_compression_ratio" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.compressionRatio(s, d)),
      "q143_shard_manifest" -> ((s: SparkSession, d: String) =>
        graft.ext.Shards.shardManifest(s, d)),
      "q144_domain_scorecard" -> ((s: SparkSession, d: String) =>
        graft.ext.UrlCurate.domainScorecard(s, d)),
      "q145_release_manifest" -> ((s: SparkSession, d: String) =>
        graft.ext.Shards.releaseManifest(s, d)),
      "q146_forget_impact" -> ((s: SparkSession, d: String) =>
        graft.ext.Shards.forgetImpact(s, d)),
      "q147_sample_examples" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.sampleExamples(s, d)),
      "q148_anchor_text" -> ((s: SparkSession, d: String) =>
        graft.ext.Boilerplate.anchorText(s, d)),
      "q149_anchor_terms" -> ((s: SparkSession, d: String) =>
        graft.ext.Boilerplate.anchorTerms(s, d)),
      "q150_crawl_admission" -> ((s: SparkSession, d: String) =>
        graft.ext.Robots.crawlAdmission(s, d)),
      "q151_domain_quantiles" -> ((s: SparkSession, d: String) =>
        graft.ext.UrlCurate.domainQuantiles(s, d)),
      "q152_frontier_report" -> ((s: SparkSession, d: String) =>
        graft.ext.Robots.frontierReport(s, d)),
      "q153_warc_records" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.warcRecords(s, d)),
      "q154_warc_fetch" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.warcFetch(s, d)),
      "q155_wet_roundtrip" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.wetRoundtrip(s, d)),
      "q156_secrets_scan" -> ((s: SparkSession, d: String) =>
        graft.ext.Secrets.secretsScan(s, d)),
      "q157_manifest_diff" -> ((s: SparkSession, d: String) =>
        graft.ext.Shards.manifestDiff(s, d)),
      "q158_redirect_chains" -> ((s: SparkSession, d: String) =>
        graft.ext.Redirects.redirectChains(s, d)),
      "q159_warc_encodings" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.warcEncodings(s, d)),
      "q160_nb_quality" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.nbQualityClassifier(s, d)),
      "q161_nb_eval" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.nbEvalReport(s, d)),
      "q162_crawl_corpus" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlCorpus(s, d)),
      "q163_crawl_shards" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlShards(s, d)),
      "q164_nb_calibration" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.nbCalibration(s, d)),
      "q165_crawl_dedup" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlDedup(s, d)),
      "q166_crawl_release" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlRelease(s, d)),
      "q167_crawl_languages" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlLanguages(s, d)),
      "q168_release_scorecard" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.releaseScorecard(s, d)),
      "q169_ref_perplexity" -> ((s: SparkSession, d: String) =>
        graft.ext.TextAnalysis.refPerplexity(s, d)),
      "q170_ccnet_buckets" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.ccnetBuckets(s, d)),
      "q171_token_layout" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlTokenLayout(s, d)),
      "q172_sequence_index" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.crawlSequenceIndex(s, d)),
      "q173_lang_perplexity" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.langPerplexity(s, d)),
      "q174_ccnet_lang_buckets" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.ccnetLangBuckets(s, d)),
      "q175_routed_perplexity" -> ((s: SparkSession, d: String) =>
        graft.ext.Warc.routedPerplexity(s, d)),
      "q176_ivf_assign" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfAssignExact(s, d)),
      "q177_pq_codes" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.pqCodesExact(s, d)),
      "q178_semdedup_exact" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.semDedupExact(s, d)),
      "q179_ivf_train" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfTrainExact(s, d)),
      "q180_pq_adc_topk" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.pqAdcExact(s, d)),
      "q181_ivf_forget" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfForgetExact(s, d)),
      "q182_ivf_drift" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfDriftExact(s, d)),
      "q183_ivf_recall" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfRecallExact(s, d)),
      "q184_tokenizer_scorecard" -> ((s: SparkSession, d: String) =>
        graft.ext.Bpe.tokenizerScorecard(s, d)),
      "q185_unigram_vocab" -> ((s: SparkSession, d: String) =>
        graft.ext.Unigram.vocabTable(s, d)),
      "q186_unigram_tokens" -> ((s: SparkSession, d: String) =>
        graft.ext.Unigram.encodeCorpus(s, d)),
      "q187_label_prop" -> ((s: SparkSession, d: String) =>
        graft.ops.LabelProp.q187LabelProp(s, d)),
      "q188_ivf_retrain_diff" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.ivfRetrainDiff(s, d)),
      "q189_modularity" -> ((s: SparkSession, d: String) =>
        graft.ops.LabelProp.q189Modularity(s, d)),
      "q33_media_features" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.featureSummary(s, d)),
      // round-14 operators
      "q190_semantic_decontam" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.semanticDecontaminate(s, d)),
      "q191_contamination_verdict" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.contaminationVerdict(s, d)),
      "q192_resize_exact" -> ((s: SparkSession, d: String) =>
        graft.ext.Multimodal.resizeStatsExact(s, d)),
      "q193_conversation_threads" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.conversationThreads(s, d)),
      "q194_preference_pairs" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.preferencePairs(s, d)),
      "q195_prompt_decontam" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.promptDecontaminate(s, d)),
      "q196_sft_release_card" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.sftReleaseCard(s, d)),
      "q197_response_dedup" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.responseDedup(s, d)),
      "q198_thread_packing" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.threadPacking(s, d)),
      "q199_semantic_recall" -> ((s: SparkSession, d: String) =>
        graft.ext.Similarity.semanticRecallAudit(s, d)),
      "q200_token_packing" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.tokenPacking(s, d)),
      "q201_sequence_manifest" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.sequenceManifest(s, d)),
      "q202_loss_mask_layout" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.lossMaskLayout(s, d)),
      "q203_packing_churn" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.packingChurn(s, d)),
      "q204_delivery_card" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.deliveryReleaseCard(s, d)),
      "q205_append_packing" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.appendPacking(s, d)),
      "q206_bpe_token_packing" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.bpeTokenPacking(s, d)),
      "q207_append_churn" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.appendChurn(s, d)),
      "q208_budget_sweep" -> ((s: SparkSession, d: String) =>
        graft.ext.SftAssembly.packingBudgetSweep(s, d)),
      "q209_mixture_execute" -> ((s: SparkSession, d: String) =>
        graft.ext.Curate.mixtureExecute(s, d))
    )
    // optional name filter: `runMain graft.tools.ScaleSmoke q139 q143`
    // times only matching cases (prefix match), after full synthesis
    val selected =
      if (args.isEmpty) cases
      else cases.filter { case (n, _) => args.exists(n.startsWith) }
    // the 10x ratios have historically needed manual "quiet window"
    // caveats — stamp each row with measured hypervisor steal so a
    // contaminated row self-identifies (steal probe = spin all cores,
    // read /proc/stat steal delta; -1.0 = unmeasurable).
    // Probing per row would add ~2 s x 189; probe once before, once
    // after, and every ~20 rows.
    var lastSteal = StealProbe.measure(
      Runtime.getRuntime.availableProcessors(), 2000L)
    println(f"[scale] steal_pct at start: $lastSteal%.1f")
    println(f"${"query"}%-24s ${"1x(s)"}%8s ${"10x(s)"}%8s ${"ratio"}%6s ${"steal%"}%7s")
    selected.zipWithIndex.foreach { case ((name, q), i) =>
      // refresh the probe BEFORE timing the row (every ~20 rows), so
      // each printed steal%% reflects the window the row actually ran
      // in — probing after meant row 19 printed weather measured after
      // it ran while rows 0-18 carried the stale probe
      if (i % 20 == 0 && i > 0) lastSteal = StealProbe.measure(
        Runtime.getRuntime.availableProcessors(), 2000L)
      // warm BOTH dirs so session-memoized shared artifacts (pair
      // index, WET parse, NB model) are excluded from both sides —
      // the ratio measures steady-state scaling, not one-time
      // derivation cost landing on whichever side ran cold
      time(name, base)(q) // warm
      time(name, big)(q) // warm
      val a = time(name, base)(q)
      val b = time(name, big)(q)
      println(f"$name%-24s $a%8.2f $b%8.2f ${b / a}%6.1f $lastSteal%7.1f")
    }
    val stealEnd = StealProbe.measure(
      Runtime.getRuntime.availableProcessors(), 2000L)
    println(f"[scale] steal_pct at end: $stealEnd%.1f")
    spark.stop()
  }
}
