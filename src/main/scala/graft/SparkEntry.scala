package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. q01 (pricing summary) — its return-flag/status groups
    * exist at every scale factor, unlike the selective joins.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01(Tables(spark, "/root/testdata/sf0.001"))

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables(s, dir))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q(Relational.q01),
    "q02_filter_project"  -> q(Relational.q02),
    "q03_topk_revenue"    -> q(Relational.q03),
    "q04_semijoin"        -> q(Relational.q04),
    "q05_multijoin"       -> q(Relational.q05),
    "q06_selective_agg"   -> q(Relational.q06),
    "q07_window_topn"     -> q(Relational.q07),
    "q08_running_window"  -> q(Relational.q08),
    "q09_distinct_agg"    -> q(Relational.q09),
    "q10_antijoin"        -> q(Relational.q10),
    "q11_union_all"       -> q(Relational.q11),
    "q12_conditional_agg" -> q(Relational.q12),
    "q13_outer_join"      -> q(Relational.q13),
    "q14_expr_ratio"      -> q(Relational.q14),
    "q15_top_supplier"    -> q(Relational.q15),
    "q16_rollup"          -> q(Relational.q16),
    "q17_scalar_subquery" -> q(Relational.q17),
    "q18_having"          -> q(Relational.q18),
    "q19_complex_pred"    -> q(Relational.q19),
    "q20_pivot"           -> q(Relational.q20),
    "q21_asof_join"       -> q(Temporal.q21),
    "q22_sessionize"      -> q(Temporal.q22),
    "q23_time_bucket"     -> q(Temporal.q23),
    "q24_json_extract"    -> q(JsonOps.q24),
    "q25_json_roundtrip"  -> q(JsonOps.q25),
    "q26_nested_explode"  -> q(JsonOps.q26),
    "q27_text_stats"      -> q(TextAnalysis.q27),
    "q28_lang_id"         -> q(TextAnalysis.q28),
    "q29_fingerprint"     -> q(TextAnalysis.q29),
    "q30_token_diversity" -> q(TextAnalysis.q30),
    "q31_dedup_exact"     -> q(Dedup.q31),
    "q32_jaccard_pairs"   -> q(Dedup.q32),
    "q33_minhash_lsh"     -> q(Dedup.q33),
    "q34_simhash"         -> q(Dedup.q34),
    "q35_cosine_topk"     -> q(Similarity.q35),
    "q36_ann_ivf"         -> q(Similarity.q36),
    "q37_binary_meta"     -> q(Multimodal.q37),
    "q38_percentiles"     -> q(Extended.q38),
    "q39_range_join"      -> q(Extended.q39),
    "q40_quality_score"   -> q(Extended.q40),
    "q41_nation_volume"   -> q(Extended.q41),
    "q42_label_centroids" -> q(Vectors.q42),
    "q43_hll_distinct"    -> q(Vectors.q43),
    "q44_window_suite"    -> q(WindowSuite.q44),
    "q45_string_suite"    -> q(WindowSuite.q45),
    "q46_dedup_clusters"  -> q(Dedup.q46),
    "q47_bigram_stats"    -> q(TextAnalysis.q47),
    "q48_tfidf"           -> q(TextAnalysis.q48),
    "q49_stratified_sample" -> q(Extended.q49),
    "q50_datetime_suite"  -> q(WindowSuite.q50),
    "q51_null_handling"   -> q(WindowSuite.q51),
    "q52_map_roundtrip"   -> q(JsonOps.q52),
    "q53_embed_neardup"   -> q(Dedup.q53),
    "q54_token_count"     -> q(TextAnalysis.q54),
    "q55_curation"        -> q(Pipeline.q55),
    "q57_seq_pack"        -> q(Pipeline.q57),
    "q59_set_ops"         -> q(Relational.q59),
    "q58_decontaminate"   -> q(Pipeline.q58),
    "q56_cube"            -> q(Relational.q56),
    "q60_refine"          -> q(Extended.q60),
    "q61_redact"          -> q(TextAnalysis.q61),
    "q62_dedup_incr"      -> q(Dedup.q62),
    "q63_mixture_sample"  -> q(Pipeline.q63),
    "q64_repetition_filter" -> q(TextAnalysis.q64),
    "q65_bloom_semijoin"  -> q(Extended.q65),
    "q66_zorder"          -> q(Extended.q66),
    "q67_token_cap"       -> q(Pipeline.q67),
    "q68_chunk"           -> q(Pipeline.q68),
    "q69_dup_spans"       -> q(Dedup.q69),
    "q70_strip_markup"    -> q(TextAnalysis.q70),
    "q71_remove_spans"    -> q(Dedup.q71),
    "q72_shuffle_shards"  -> q(Pipeline.q72),
    "q73_lm_score"        -> q(TextAnalysis.q73),
    "q74_split"           -> q(Pipeline.q74),
    "q75_nfc"             -> q(TextAnalysis.q75),
    "q76_skew_stats"      -> q(Extended.q76),
    "q77_collocations"    -> q(TextAnalysis.q77),
    "q78_histogram"       -> q(Extended.q78),
    "q79_sample_group"    -> q(Pipeline.q79),
    "q80_semantic_dedup"  -> q(Dedup.q80),
    "q81_cap_vocab"       -> q(TextAnalysis.q81),
    "q82_ngram_coverage"  -> q(Pipeline.q82),
    "q83_quality_buckets" -> q(Extended.q83),
    "q84_char_entropy"    -> q(TextAnalysis.q84),
    "q85_containment"     -> q(Dedup.q85),
    "q86_keep_best"       -> q(Dedup.q86),
    "q87_edit_pairs"      -> q(Dedup.q87),
    "q88_vec_dedup_incr"  -> q(Dedup.q88),
    "q89_paragraph_dedup" -> q(Dedup.q89),
    "q90_bm25"            -> q(TextAnalysis.q90),
    "q91_pq_adc"          -> q(Similarity.q91),
    "q92_ivf_pq"          -> q(Similarity.q92),
    "q93_resample"        -> q(Temporal.q93),
    "q94_edit_join"       -> q(Dedup.q94),
    "q95_weighted_sample" -> q(Pipeline.q95),
    "q96_pagerank"        -> q(Extended.q96),
    "q97_funnel"          -> q(Temporal.q97),
    "q98_trailing_window" -> q(WindowSuite.q98),
    "q99_snapshot_diff"   -> q(Relational.q99),
    "q100_zscore"         -> q(Relational.q100),
    "q101_bpe"            -> q(Bpe.q101),
    "q102_interval_join"  -> q(Temporal.q102),
    "q103_hopping_window" -> q(Temporal.q103),
    "q104_cohort_retention" -> q(Temporal.q104),
    "q105_funnel_windowed" -> q(Temporal.q105),
    "q106_pagerank_dangling" -> q(Extended.q106),
    "q107_bpe_encode"     -> q(Bpe.q107),
    "q108_quantile_sketch" -> q(Extended.q108),
    "q109_scd2_history"   -> q(Relational.q109),
    "q110_heavy_hitters"  -> q(Extended.q110),
    "q111_kmeans"         -> q(Vectors.q111),
    "q112_image_neardup"  -> q(Multimodal.q112),
    "q113_scd2_asof"      -> q(Relational.q113),
    "q114_ann_two_level"  -> q(Similarity.q114),
    "q115_audio_neardup"  -> q(Multimodal.q115),
    "q116_video_neardup"  -> q(Multimodal.q116),
    "q117_ewma"           -> q(Temporal.q117),
    "q118_event_paths"    -> q(Temporal.q118),
    "q119_regression"     -> q(Extended.q119),
    "q120_twap"           -> q(Temporal.q120),
    "q121_transitions"    -> q(Temporal.q121),
    "q122_streaks"        -> q(Temporal.q122),
    "q123_dq_checks"      -> q(Extended.q123),
    "q124_cdc_apply"      -> q(Relational.q124),
    "q125_winsorize"      -> q(Extended.q125),
    "q126_triangles"      -> q(Extended.q126),
    "q127_seasonal"       -> q(Temporal.q127),
    "q128_cusum"          -> q(Temporal.q128),
    "q129_assoc_rules"    -> q(Extended.q129),
    "q130_rfm"            -> q(Relational.q130),
    "q131_kcore"          -> q(Extended.q131),
    "q132_bfs_reach"      -> q(Extended.q132),
    "q134_ab_test"        -> q(Extended.q134),
    "q135_autocorr"       -> q(Temporal.q135),
    "q136_benford"        -> q(Extended.q136),
    "q137_mad_outliers"   -> q(Extended.q137),
    "q133_item_similarity" -> q(Extended.q133),
    "q138_spatial_join"   -> q(Extended.q138),
    "q139_attribution"    -> q(Temporal.q139),
    "q140_sssp"           -> q(Extended.q140),
    "q141_rolling_actives" -> q(Temporal.q141),
    "q142_chi_square"     -> q(Extended.q142),
    "q143_concentration"  -> q(Extended.q143),
    "q144_knn"            -> q(Extended.q144),
    "q145_linkage"        -> q(Extended.q145),
    "q146_survival"       -> q(Temporal.q146),
    "q147_coverage"       -> q(Temporal.q147),
    "q148_abc"            -> q(Extended.q148),
    "q149_xcorr"          -> q(Temporal.q149),
    "q150_backtest"       -> q(Temporal.q150),
    "q151_cohort_ltv"     -> q(Temporal.q151),
    "q152_conv_latency"   -> q(Temporal.q152),
    "q153_new_returning"  -> q(Temporal.q153),
    "q154_dup_payments"   -> q(Extended.q154),
    "q155_psi_drift"      -> q(Extended.q155),
    "q156_ks"             -> q(Extended.q156),
    "q157_mann_whitney"   -> q(Extended.q157),
    "q158_ks_by_group"    -> q(Extended.q158),
    "q159_mwu_by_group"   -> q(Extended.q159),
    "q160_psi_by_group"   -> q(Extended.q160),
    "q161_kruskal_wallis" -> q(Extended.q161),
    "q162_welch_t"        -> q(Extended.q162),
    "q163_spearman"       -> q(Extended.q163),
    "q164_recs_topn"      -> q(Extended.q164),
    "q165_link_predict"   -> q(Extended.q165),
    "q166_changepoint"    -> q(Temporal.q166),
    "q167_weighted_median" -> q(Extended.q167),
    "q168_cat_entropy"    -> q(Extended.q168),
    "q169_welch_by_group" -> q(Extended.q169),
    "q170_profile_drift"  -> q(Extended.q170),
    "q171_bootstrap_ci"   -> q(Extended.q171),
    "q172_cuped"          -> q(Extended.q172),
    "q173_did"            -> q(Extended.q173),
    "q174_pop_report"     -> q(Extended.q174),
    "q175_funnel_ab"      -> q(Temporal.q175),
    "q176_holt_trend"     -> q(Temporal.q176),
    "q177_kw_by_group"    -> q(Extended.q177),
    "q178_spearman_by_group" -> q(Extended.q178),
    "q179_ks_sketch"      -> q(Extended.q179),
    "q180_wmedian_sketch" -> q(Extended.q180),
    "q181_srm_check"      -> q(Extended.q181),
    "q182_js_divergence"  -> q(Extended.q182),
    "q183_mde"            -> q(Extended.q183),
    "q184_rank_movers"    -> q(Extended.q184),
    "q185_quantile_drift" -> q(Extended.q185),
    "q186_dedup_yield"    -> q(Dedup.q186),
    "q187_centroid_sep"   -> q(Vectors.q187),
    "q188_mde_by_group"   -> q(Extended.q188),
    "q189_js_by_group"    -> q(Extended.q189),
    "q190_zipf"           -> q(TextAnalysis.q190),
    "q191_mwu_sketch"     -> q(Extended.q191),
    "q192_kw_sketch"      -> q(Extended.q192),
    "q193_spearman_sketch" -> q(Extended.q193),
    "q194_qdrift_by_group" -> q(Extended.q194),
    "q195_target_encode"  -> q(Extended.q195),
    "q196_msprt"          -> q(Extended.q196),
    "q197_rare_collapse"  -> q(Extended.q197),
    "q198_cramers_v"      -> q(Extended.q198),
    "q199_calibration"    -> q(Extended.q199),
    "q200_ann_recall"     -> q(Extended.q200),
    "q201_hits"           -> q(Extended.q201),
    "q202_poststrat"      -> q(Extended.q202),
    "q203_anova"          -> q(Extended.q203),
    "q204_anova_by_group" -> q(Extended.q204),
    "q205_brown_forsythe" -> q(Extended.q205),
    "q206_pairwise_welch" -> q(Extended.q206),
    "q207_corr_matrix"    -> q(Extended.q207),
    "q208_msprt_by_group" -> q(Extended.q208),
    "q209_calibration_by_group" -> q(Extended.q209),
    "q210_srm_by_group"   -> q(Extended.q210),
    "q211_srm_fdr"        -> q(Extended.q211),
    "q212_welch_fdr"      -> q(Extended.q212),
    "q213_mde_proportions" -> q(Extended.q213),
    "q214_msprt_horizon"  -> q(Extended.q214),
    "q215_ann_recall_by_group" -> q(Extended.q215),
    "q216_anova_fdr"      -> q(Extended.q216),
    "q217_kw_fdr"         -> q(Extended.q217),
    "q218_mwu_fdr"        -> q(Extended.q218),
    "q219_spearman_fdr"   -> q(Extended.q219),
    "q220_ks_fdr"         -> q(Extended.q220),
    "q221_governance_battery" -> q(Extended.q221),
    "q222_mde_prop_by_group" -> q(Extended.q222),
    "q223_horizon_by_group" -> q(Extended.q223),
    "q224_cliffs_delta"   -> q(Extended.q224),
    "q227_welch_fam_fdr"  -> q(Extended.q227),
    "q228_cuped_by_group" -> q(Extended.q228),
    "q229_did_by_group"   -> q(Extended.q229),
    "q230_poststrat_by_group" -> q(Extended.q230),
    "q225_cohens_d"       -> q(Extended.q225),
    "q226_samplesize_curve" -> q(Extended.q226),
    "q231_governance_from_prepared" -> q(Extended.q231),
    "q232_ivf_pq_rerank"  -> q(Similarity.q232),
    "q233_permutation_p"  -> q(Extended.q233),
    "q234_group_sequential" -> q(Extended.q234),
    "q235_unigram_train"  -> q(graft.operators.Unigram.q235),
    "q236_unigram_encode" -> q(graft.operators.Unigram.q236),
    "q237_gs_pocock"      -> q(Extended.q237),
    "q238_gs_by_group"    -> q(Extended.q238),
    "q239_gs_absorbed"    -> q(Extended.q239),
    "q240_nprobe_curve"   -> q(graft.operators.Similarity.q240),
    "q241_wordpiece_train" -> q(graft.operators.Wordpiece.q241),
    "q242_wordpiece_encode" -> q(graft.operators.Wordpiece.q242),
    "q243_dsir_select"    -> q(Extended.q243),
    "q244_kn_lm"          -> q(Extended.q244),
    "q245_avci"           -> q(Extended.q245),
    "q246_avci_by_group"  -> q(Extended.q246),
    "q247_qte"            -> q(Extended.q247),
    "q248_winsorized_welch" -> q(Extended.q248),
    "q249_qte_by_group"   -> q(Extended.q249),
    "q250_qte_sketch"     -> q(Extended.q250),
  )

  // ---- oracle SQL fragments (keep in lockstep with Portable helpers) ----

  /** The q221 cross-test governance battery statement, shared with
    * q231 (whose engine side decides the SAME battery from absorbed
    * PreparedGovernance censuses — absorb is exact census addition,
    * so the raw-row replay is the correct oracle for both).
    */
  private lazy val governanceBatterySql: String =
      s"""WITH wa AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |wb AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |wm AS (
         |  SELECT COALESCE(wa.grp, wb.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |    s_a, s_b, ss_a, ss_b
         |  FROM wa FULL OUTER JOIN wb ON wa.grp = wb.grp),
         |wf AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
         |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
         |  FROM wm),
         |welch AS (
         |  SELECT grp,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((vna + vnb) * (vna + vnb) /
         |        (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
         |         vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
         |  FROM wf),
         |wpvin AS (
         |  SELECT grp AS g, grp, t,
         |    CAST(t AS DOUBLE) AS tv, CAST(df AS DOUBLE) AS nu
         |  FROM welch),
         |${pvBetaTCtes("wpvin", "w")},
         |wsel AS (SELECT 'welch_t' AS test, grp, t AS stat, p FROM wpvfin),
         |msrc AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    o_orderdate AS d
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL),
         |mca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM msrc
         |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |mcb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM msrc
         |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |mm AS (
         |  SELECT COALESCE(mca.grp, mcb.grp) AS grp, COALESCE(mca.v, mcb.v) AS v,
         |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         |  FROM mca FULL OUTER JOIN mcb ON mca.grp = mcb.grp AND mca.v = mcb.v),
         |mw AS (
         |  SELECT *, ca + cb AS mm2,
         |    COALESCE(CAST(SUM(ca + cb) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
         |  FROM mm),
         |magg AS (
         |  SELECT grp, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm2 + 1 AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS r2a,
         |    CAST(SUM(CAST(mm2 AS DECIMAL(12,0)) * CAST(mm2 AS DECIMAL(12,0)) *
         |      CAST(mm2 AS DECIMAL(12,0)) - CAST(mm2 AS DECIMAL(38,0)))
         |      AS DECIMAL(38,0)) AS tie
         |  FROM mw GROUP BY 1),
         |mf AS (
         |  SELECT grp, n_a, n_b,
         |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
         |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2,
         |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE) *
         |      ((CAST(n_a + n_b AS DOUBLE) + CAST(1 AS DOUBLE)) -
         |        CAST(tie AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
         |          (CAST(n_a + n_b AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
         |  FROM magg),
         |mwufin AS (
         |  SELECT grp,
         |    CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND var > 0 THEN
         |      round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
         |        (CAST(2 AS DOUBLE) * sqrt(var)), 6) END AS z
         |  FROM mf),
         |mpvin AS (
         |  SELECT grp AS g, grp, z, z * z AS x, CAST(1.0 AS DOUBLE) AS k
         |  FROM mwufin),
         |${pvChiSqCtes("mpvin", "m")},
         |msel AS (SELECT 'mwu_z' AS test, grp, z AS stat, p FROM mpvfin),
         |kw0 AS (
         |  SELECT grp, v, ca, cb,
         |    CAST(SUM(ca) OVER (PARTITION BY grp) AS BIGINT) AS n_a,
         |    CAST(SUM(cb) OVER (PARTITION BY grp) AS BIGINT) AS n_b,
         |    CAST(SUM(ca) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
         |    CAST(SUM(cb) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
         |  FROM mm),
         |kg0 AS (
         |  SELECT *, CAST(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
         |    CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS d_num
         |  FROM kw0),
         |kr0 AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY d_num DESC, v) AS rk FROM kg0),
         |ksfin AS (
         |  SELECT grp, n_a, n_b,
         |    CASE WHEN n_a > 0 AND n_b > 0 THEN
         |      round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS d_stat
         |  FROM kr0 WHERE rk = 1),
         |klamc AS (
         |  SELECT *, CASE WHEN d_stat IS NOT NULL AND n_a > 0 AND n_b > 0 THEN
         |    round(d_stat * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
         |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) END AS lam
         |  FROM ksfin),
         |kpvin AS (SELECT grp AS g, grp, d_stat, lam FROM klamc),
         |${pvKsCtes("kpvin", "k")},
         |ksel AS (SELECT 'ks' AS test, grp, d_stat AS stat, p FROM kpvfin),
         |uni AS (
         |  SELECT * FROM wsel UNION ALL SELECT * FROM msel
         |  UNION ALL SELECT * FROM ksel),
         |bhin AS (SELECT test, grp, stat, p, test || '|' || grp AS gkey FROM uni),
         |${pvBhCtes("bhin", "gkey")},
         |${pvHolmCtes("bh3", "gkey")}
         |SELECT test, grp, stat, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject,
         |  p_holm, CASE WHEN p IS NOT NULL THEN (p_holm < 0.05) END AS reject_fwer
         |FROM hl3 ORDER BY test, grp""".stripMargin

  /** CAST(x AS DECIMAL(18,2)) — lossless for the testdata's 2-dec doubles. */
  private def d2(x: String) = s"CAST($x AS DECIMAL(18,2))"
  /** l_extendedprice*(1-l_discount) as exact DECIMAL(18,4) (= Portable.revenue). */
  private val REV =
    s"CAST(${d2("l_extendedprice")} * ${d2("1 - l_discount")} AS DECIMAL(18,4))"
  private def dSum(x: String) = s"CAST(SUM(${d2(x)}) AS DOUBLE)"
  private def dAvg(x: String) = s"CAST(SUM(${d2(x)}) AS DOUBLE) / COUNT($x)"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** CTE chain recomputing `Ops.minhashLshPairs` (64 perms × 16
    * bands, seeded-md5 affine hash family mod
    * `TextFunctions.MinhashPrime`) bit-for-bit from `src`
    * (any relation providing doc_id + text), ending in a CTE named
    * `pairs` (doc_a, doc_b, jaccard — unfiltered; consumers apply
    * their threshold). Shared by q33 (the operator itself), q46 (its
    * cluster edges) and q55 (curation's near-dup leg) — the
    * production pipelines derive edges from LSH banding, never from
    * skew-prone min-shingle blocks, and their oracles recompute the
    * same derivation.
    */
  /** The q46/q186 shared cluster map: the MinHash-LSH pair graph (the
    * production edge path — not q32's skewable min-shingle blocks)
    * closed transitively by the recursive CTE, ending in
    * `clmap(doc_id, cluster_id)` — one row per CLUSTERED doc, its
    * cluster labeled by the minimum member id.
    */
  private lazy val dedupClmapSql: String =
    s"""WITH RECURSIVE ${minhashPairCtes("documents")},
       |sym AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5
       |        UNION ALL SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.5),
       |reach AS (
       |  SELECT doc_a AS a, doc_b AS b FROM sym
       |  UNION
       |  SELECT r.a, s.doc_b FROM reach r JOIN sym s ON r.b = s.doc_a),
       |clmap AS (
       |  SELECT a AS doc_id, least(MIN(b), a) AS cluster_id
       |  FROM reach GROUP BY a)""".stripMargin

  private def minhashPairCtes(src: String): String =
    s"""mh_toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
       |                x -> x <> '') AS t
       |  FROM $src),
       |mh_sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM mh_toks WHERE len(t) >= 3),
       |mh_fil AS (SELECT doc_id, s FROM mh_sh WHERE len(s) > 0),
       |mh_hp AS (
       |  SELECT doc_id, s,
       |    list_transform(s, x -> CAST(('0x' || substr(md5('a:' || x), 1, 7)) AS BIGINT)) AS h1s,
       |    list_transform(s, x -> CAST(('0x' || substr(md5('b:' || x), 1, 7)) AS BIGINT)) AS h2s
       |  FROM mh_fil),
       |mh_sig AS (
       |  SELECT doc_id, s,
       |    list_transform(range(0, 64), i ->
       |      list_min(list_transform(range(1, len(h1s) + 1), j -> (h1s[j] + i * h2s[j]) % ${graft.functions.TextFunctions.MinhashPrime}))) AS sg
       |  FROM mh_hp),
       |mh_banded AS (
       |  SELECT doc_id, u.b AS band,
       |    array_to_string(sg[4*u.b+1 : 4*u.b+4], ',') AS bucket
       |  FROM mh_sig, unnest(range(0, 16)) AS u(b)),
       |mh_cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM mh_banded a JOIN mh_banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jaccard
       |  FROM mh_cand c
       |  JOIN mh_fil sa ON sa.doc_id = c.doc_a
       |  JOIN mh_fil sb ON sb.doc_id = c.doc_b)""".stripMargin

  /** q53's oracle regenerates the SAME 4×8 seeded Rademacher
    * hyperplanes as `Ops.embeddingNearDups`' defaults
    * ([[graft.functions.Hyperplanes.weights]]) and recomputes code
    * assignment → per-table candidate union → cosine verification
    * bit-for-bit in DuckDB SQL (indexed-lambda products + list_reduce
    * sequential fold == the Spark side's zip_with + aggregate fold).
    */
  private def q53OracleSql: String = {
    val w = graft.functions.Hyperplanes.weights(tables = 4, bits = 8, dim = 64, seed = "graft-hp")
    val codes = w.indices.map(l =>
      s"  SELECT vec_id, $l AS tbl, ${graft.functions.Hyperplanes.blockCodeSql("emb", w(l))} AS block FROM corpus")
      .mkString("\n  UNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(emb, v -> v + 0.01)
       |  FROM base WHERE vec_id < 50),
       |codes AS (
       |$codes),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM codes a JOIN codes b ON a.tbl = b.tbl AND a.block = b.block AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(c, 4) AS cosine FROM (
       |  SELECT vec_a, vec_b, list_cosine_similarity(ea.emb, eb.emb) AS c
       |  FROM cand
       |  JOIN corpus ea ON ea.vec_id = cand.vec_a
       |  JOIN corpus eb ON eb.vec_id = cand.vec_b)
       |WHERE c >= 0.92
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** q88's oracle: the q53 hyperplane machinery, two-sided — the SAME
    * seeded codes over the catalog (embeddings) and the increment
    * (shifted + negated copies), candidates only where a code block
    * matches across the boundary, cosine verify, survivors =
    * increment rows with no qualifying catalog hit.
    */
  private def q88OracleSql: String = {
    val w = graft.functions.Hyperplanes.weights(tables = 4, bits = 8, dim = 64, seed = "graft-hp")
    def codes(src: String) = w.indices.map(l =>
      s"  SELECT vec_id, $l AS tbl, ${graft.functions.Hyperplanes.blockCodeSql("emb", w(l))} AS block FROM $src")
      .mkString("\n  UNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |inc AS (
       |  SELECT vec_id + 200000 AS vec_id, list_transform(emb, v -> v + 0.005) AS emb
       |  FROM base WHERE vec_id < 30
       |  UNION ALL
       |  SELECT vec_id + 300000, list_transform(emb, v -> v * -1.0)
       |  FROM base WHERE vec_id >= 30 AND vec_id < 60),
       |icodes AS (
       |${codes("inc")}),
       |ccodes AS (
       |${codes("base")}),
       |cand AS (
       |  SELECT DISTINCT i.vec_id AS ivid, c.vec_id AS cvid
       |  FROM icodes i JOIN ccodes c ON i.tbl = c.tbl AND i.block = c.block),
       |hits AS (
       |  SELECT DISTINCT cand.ivid
       |  FROM cand
       |  JOIN inc ON inc.vec_id = cand.ivid
       |  JOIN base ON base.vec_id = cand.cvid
       |  WHERE list_cosine_similarity(inc.emb, base.emb) >= 0.92)
       |SELECT i.vec_id FROM inc i LEFT JOIN hits h ON i.vec_id = h.ivid
       |WHERE h.ivid IS NULL
       |ORDER BY i.vec_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dSum("l_quantity")} AS sum_qty,
         |  ${dSum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM($REV) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST($REV * ${d2("1 + l_tax")} AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         |  ${dAvg("l_quantity")} AS avg_qty,
         |  ${dAvg("l_extendedprice")} AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_topk_revenue" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST(SUM($REV) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-03-15'
         |  AND l_shipdate > TIMESTAMP '1996-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 20""".stripMargin,

    "q04_semijoin" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q05_multijoin" ->
      s"""SELECT n_name, CAST(SUM($REV) AS DOUBLE) AS revenue
         |FROM region, nation, customer, orders, lineitem, supplier
         |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
         |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |  AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_selective_agg" ->
      s"""SELECT CAST(SUM(CAST(${d2("l_extendedprice")} * ${d2("l_discount")} AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,

    "q07_window_topn" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q08_running_window" ->
      s"""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         |  CAST(SUM($REV) OVER (PARTITION BY l_suppkey
         |    ORDER BY l_shipdate, l_orderkey, l_linenumber
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
         |FROM lineitem WHERE l_suppkey < 10
         |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q09_distinct_agg" ->
      s"""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
         |  COUNT(*) AS n_orders, ${dSum("o_totalprice")} AS total_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q10_antijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01')
        |ORDER BY c_custkey""".stripMargin,

    "q11_union_all" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM (SELECT event_type FROM events WHERE value > 150.0
        |      UNION ALL
        |      SELECT event_type FROM events WHERE user_id % 10 = 0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q12_conditional_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN l_quantity > 25.0 THEN 1 END) AS high_qty_count,
        |  COUNT(CASE WHEN l_quantity <= 25.0 THEN 1 END) AS low_qty_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q13_outer_join" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_expr_ratio" ->
      s"""SELECT (100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $REV END) AS DOUBLE))
         |    / CAST(SUM($REV) AS DOUBLE) AS promo_ratio,
         |  COUNT(*) AS n_rows
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, SUM($REV) AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q16_rollup" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust, ${dSum("c_acctbal")} AS total_bal
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q17_scalar_subquery" ->
      s"""WITH pa AS (
         |  SELECT l_partkey AS ap_partkey,
         |    0.2 * (CAST(SUM(${d2("l_quantity")}) AS DOUBLE) / COUNT(l_quantity)) AS qty_threshold
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT ${dSum("l_extendedprice")} / 7.0 AS avg_yearly, COUNT(*) AS n_rows
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN pa ON ap_partkey = l_partkey
         |WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold""".stripMargin,

    "q18_having" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, SUM(${d2("l_quantity")}) AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING SUM(${d2("l_quantity")}) > 150)
         |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
         |  CAST(total_qty AS DOUBLE) AS total_qty
         |FROM customer
         |JOIN orders ON o_custkey = c_custkey
         |JOIN big ON l_orderkey = o_orderkey
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 50""".stripMargin,

    "q19_complex_pred" ->
      s"""SELECT CAST(SUM($REV) AS DOUBLE) AS revenue, COUNT(*) AS n_rows
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity >= 1.0 AND l_quantity <= 11.0)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity >= 10.0 AND l_quantity <= 20.0)
         |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity >= 20.0 AND l_quantity <= 30.0)""".stripMargin,

    "q20_pivot" -> {
      def pivotRev(s: String) =
        s"CAST(SUM(CASE WHEN o_orderstatus = '$s' THEN ${d2("o_totalprice")} ELSE ${d2("0")} END) AS DOUBLE)"
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
         |  ${pivotRev("F")} AS rev_f,
         |  ${pivotRev("O")} AS rev_o,
         |  ${pivotRev("P")} AS rev_p,
         |  COUNT(*) AS n_orders
         |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin
    },

    "q21_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id AS click_id, value AS click_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'click')
        |  WHERE rn = 1),
        |purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  c.click_id, c.ts AS click_ts, c.click_value
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q22_sessionize" ->
      s"""WITH x AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
         |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
         |         ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |y AS (
         |  SELECT user_id, ts, value,
         |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
         |  FROM x)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts) AS session_start, MAX(ts) AS session_end,
         |  ${dSum("value")} AS total_value
         |FROM y GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "q23_time_bucket" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS bucket_start,
         |  event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users, ${dSum("value")} AS total_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY bucket_start, event_type""".stripMargin,

    "q24_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q25_json_roundtrip" ->
      """WITH j AS (
        |  SELECT to_json(struct_pack(user_id := user_id, event_type := event_type)) AS doc
        |  FROM events)
        |SELECT json_extract_string(doc, '$.event_type') AS et, COUNT(*) AS n,
        |  COUNT(DISTINCT CAST(json_extract_string(doc, '$.user_id') AS BIGINT)) AS n_users
        |FROM j GROUP BY et ORDER BY et""".stripMargin,

    "q26_nested_explode" ->
      """SELECT u.token, COUNT(*) AS n
        |FROM documents, unnest(string_split(text, ' ')) AS u(token)
        |WHERE u.token <> ''
        |GROUP BY u.token
        |ORDER BY n DESC, u.token
        |LIMIT 50""".stripMargin,

    // Shared DuckDB text fragments: norm/tokens mirror
    // graft.functions.TextFunctions exactly (note DuckDB needs the 'g'
    // regex flag; Spark regexp_replace is global by default).
    "q27_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
        |  len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |      x -> x IN ('the', 'a', 'of', 'and'))) AS n_stopwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q28_lang_id" -> {
      def occ(s: String) = s"(length(text) - length(regexp_replace(text, '$s', '', 'g')))"
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${occ("the")} >= 15 THEN 'en'
         |       WHEN ${occ("data")} >= 12 THEN 'en-tech'
         |       WHEN ${occ("merge")} >= 10 THEN 'sql'
         |       ELSE 'und' END AS guess,
         |  CAST(CASE WHEN (CASE WHEN ${occ("the")} >= 15 THEN 'en'
         |       WHEN ${occ("data")} >= 12 THEN 'en-tech'
         |       WHEN ${occ("merge")} >= 10 THEN 'sql'
         |       ELSE 'und' END) = lang THEN 1 ELSE 0 END AS BIGINT) AS agree
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q29_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_token_diversity" ->
      """SELECT source, COUNT(DISTINCT u.token) AS n_distinct_tokens, COUNT(*) AS n_tokens
        |FROM (SELECT source,
        |        list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                    x -> x <> '') AS toks
        |      FROM documents) d, unnest(d.toks) AS u(token)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q31_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50)
        |SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
        |  COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
        |FROM corpus GROUP BY fingerprint ORDER BY keep_id""".stripMargin,

    "q32_jaccard_pairs" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                      x -> x <> '') AS t
        |        FROM documents)
        |  WHERE len(t) >= 3),
        |blocked AS (SELECT doc_id, s, list_min(s) AS block FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
        |FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the graft minhash family is pure md5 arithmetic (seeded 28-bit
    // affine hashes), so even the LSH banding is engine-portable: this
    // recomputes signatures, bands and candidates bit-for-bit in SQL.
    "q33_minhash_lsh" ->
      s"""WITH ${minhashPairCtes("documents")}
         |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // simhash is the same portable seeded-md5 arithmetic: bit votes
    // recomputed exactly (outer sum cast to BIGINT — DuckDB list_sum
    // yields HUGEINT, which pandas would round through float64)
    "q34_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(t, x -> CAST(('0x' || substr(md5('0:' || x), 1, 15)) AS BIGINT)) AS h
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 60), j ->
        |    CASE WHEN list_sum(list_transform(h, v -> 2 * ((v >> j) & 1) - 1)) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
        |FROM hs
        |ORDER BY doc_id""".stripMargin,

    // IVF is cosine + deterministic tie-breaks end-to-end, and
    // list_cosine_similarity matches the graft codegen expression
    // bit-for-bit (proven by q35) — so cell assignment, probing and
    // per-cell top-k all recompute exactly.
    "q36_ann_ivf" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id >= 100 AND vec_id < 108),
        |scored_cells AS (
        |  SELECT v.vec_id, v.emb, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC, c.cid) AS rn
        |  FROM v CROSS JOIN cents c),
        |corpus AS (SELECT vec_id AS vid, emb AS c_emb, cid AS cell FROM scored_cells WHERE rn = 1),
        |queries AS (SELECT vec_id AS qid, emb AS q_emb, cid AS cell
        |            FROM scored_cells WHERE vec_id < 10 AND rn <= 2),
        |cand AS (
        |  SELECT q.qid, c.vid, list_cosine_similarity(q.q_emb, c.c_emb) AS raw
        |  FROM corpus c JOIN queries q ON c.cell = q.cell AND c.vid <> q.qid),
        |ranked AS (
        |  SELECT qid, vid, raw,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS BIGINT) AS rank
        |  FROM cand)
        |SELECT qid, rank, vid, round(raw, 4) AS score
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q35_cosine_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    list_cosine_similarity(q.emb, c.emb) AS raw_score
        |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, vid, raw_score,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY raw_score DESC, vid) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, round(raw_score, 4) AS score
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "q37_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5, source AS modality_hint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q38_percentiles" ->
      """SELECT o_orderstatus,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q39_range_join" ->
      """SELECT p.event_id AS p_id, e.event_id AS e_id,
        |  epoch_us(p.ts) - epoch_us(e.ts) AS diff_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 300000000
        |ORDER BY p_id, e_id""".stripMargin,

    "q40_quality_score" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |         x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop
        |  FROM documents)
        |SELECT doc_id,
        |  round(0.5 * least(n_chars / 500.0, 1.0)
        |      + 0.3 * (1.0 - n_punct / n_chars)
        |      + 0.2 * (n_stop / n_tokens), 6) AS quality_score,
        |  CAST(CASE WHEN 0.5 * least(n_chars / 500.0, 1.0)
        |      + 0.3 * (1.0 - n_punct / n_chars)
        |      + 0.2 * (n_stop / n_tokens) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    "q41_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS yr,
         |  CAST(SUM($REV) AS DOUBLE) AS volume, COUNT(*) AS n_rows
         |FROM lineitem
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation n1 ON n1.n_nationkey = s_nationkey
         |JOIN nation n2 ON n2.n_nationkey = c_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, yr""".stripMargin,

    "q42_label_centroids" ->
      """WITH flat AS (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(27,12)) AS x
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, pos, CAST(SUM(x) AS DOUBLE) / COUNT(x) AS dim_mean
        |  FROM flat GROUP BY label, pos)
        |SELECT label,
        |  string_agg(CAST(CAST(dim_mean AS DECIMAL(18,3)) AS VARCHAR), ',' ORDER BY pos) AS centroid,
        |  COUNT(*) AS n_dims
        |FROM dims GROUP BY label ORDER BY label""".stripMargin,

    "q44_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_orderdate, 1) OVER w AS prev_date,
        |  lead(o_orderdate, 1) OVER w AS next_date,
        |  ntile(4) OVER w AS quartile,
        |  first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
        |FROM orders
        |WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q45_string_suite" ->
      """SELECT p_partkey,
        |  upper(substring(p_name, 1, 4)) AS prefix,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_key,
        |  regexp_extract(p_type, '([A-Z]+)', 1) AS type_head,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  length(replace(p_name, ' ', '')) AS compact_len,
        |  CAST(CASE WHEN p_name LIKE '%gold%' THEN 1 ELSE 0 END AS BIGINT) AS has_gold
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q46_dedup_clusters" ->
      s"""$dedupClmapSql
         |SELECT cluster_id, COUNT(*) AS cluster_size,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
         |FROM clmap
         |GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin,

    // q186: the q46 cluster map folded into the yield accounting —
    // size histogram, corpus totals, dup mass, kept ratio
    "q186_dedup_yield" ->
      s"""$dedupClmapSql,
         |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM clmap GROUP BY 1),
         |hist AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total
         |  FROM documents WHERE doc_id IS NOT NULL),
         |agg AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_clustered,
         |  CAST(SUM(n_clusters) AS BIGINT) AS ncl FROM hist)
         |SELECT cluster_size, n_clusters, n_docs, n_docs_total,
         |  n_clustered, n_clustered - ncl AS dup_mass,
         |  round(CAST(n_docs_total - (n_clustered - ncl) AS DOUBLE) /
         |    CAST(n_docs_total AS DOUBLE), 6) AS kept_ratio
         |FROM hist CROSS JOIN tot CROSS JOIN agg
         |ORDER BY cluster_size""".stripMargin,

    // q187: the q42 exact-decimal centroid dims assembled per label,
    // then list_cosine_similarity per a<b pair at round-4 (the q35
    // cross-engine cosine parity)
    "q187_centroid_sep" ->
      """WITH flat AS (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(27,12)) AS x
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |dims AS (
        |  SELECT label, pos, CAST(SUM(x) AS DOUBLE) / COUNT(x) AS m,
        |    COUNT(x) AS n
        |  FROM flat GROUP BY label, pos),
        |cents AS (
        |  SELECT label, list(m ORDER BY pos) AS c,
        |    CAST(MAX(n) AS BIGINT) AS n_docs
        |  FROM dims GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  a.n_docs AS n_a, b.n_docs AS n_b,
        |  round(list_cosine_similarity(a.c, b.c), 4) AS cosine
        |FROM cents a JOIN cents b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin,

    // q188: the q183 moment/MDE tree per segment through FULL OUTER
    // (the q169 keying), shared embedded z constants
    "q188_mde_by_group" -> {
      val z = String.format("(CAST(%.17e AS DOUBLE) + CAST(%.17e AS DOUBLE))",
        Double.box(graft.api.Ops.zAlpha025), Double.box(graft.api.Ops.zPower80))
      s"""WITH a AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |    s_a, s_b, ss_a, ss_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
         |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
         |  FROM m),
         |g AS (
         |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
         |  FROM f)
         |SELECT grp, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
         |    round($z * sqrt(se2), 6) END AS mde_abs,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 AND ma <> 0 THEN
         |    round($z * sqrt(se2) / ma, 6) END AS mde_rel
         |FROM g ORDER BY grp""".stripMargin
    },

    "q47_bigram_stats" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                     x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT u.p[1] AS w1, u.p[2] AS w2
        |  FROM toks, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)),
        |cnt AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY w1, w2),
        |pc AS (
        |  SELECT w1, w2, n,
        |    round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE), 6) AS p_cond
        |  FROM cnt)
        |SELECT w1, w2, n, p_cond FROM pc
        |WHERE n >= 20
        |ORDER BY w1, w2""".stripMargin,

    "q48_tfidf" ->
      """WITH td AS (
        |  SELECT doc_id, u.term
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                      x -> x <> '') AS toks
        |        FROM documents), unnest(toks) AS u(term)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM td GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM td) GROUP BY term),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tf_idf
        |FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        |WHERE doc_id < 20
        |ORDER BY doc_id, term""".stripMargin,

    "q49_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hash_bucket,
        |    CAST(CASE WHEN source IN ('src0', 'src1') THEN 50
        |              WHEN source IN ('src2', 'src3') THEN 20
        |              ELSE 10 END AS BIGINT) AS sample_rate
        |  FROM documents)
        |SELECT doc_id, source, hash_bucket, sample_rate
        |FROM s WHERE hash_bucket < sample_rate
        |ORDER BY doc_id""".stripMargin,

    "q50_datetime_suite" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS order_month,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_1999,
        |  o_orderdate + INTERVAL 90 DAY AS due_date
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin,

    "q51_null_handling" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'REDACTED') AS segment,
        |  greatest(c_acctbal, 0.0) AS bal_floor,
        |  least(c_acctbal, 5000.0) AS bal_cap,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 1000 THEN 'low'
        |       ELSE 'ok' END AS bal_band,
        |  CAST(CASE WHEN nullif(c_nationkey, 0) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_nation_zero
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q52_map_roundtrip" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |m AS (
        |  SELECT user_id,
        |    map_from_entries(array_agg({'k': event_type, 'v': n})) AS mp
        |  FROM c GROUP BY user_id)
        |SELECT user_id, u.e.key AS event_type, CAST(u.e.value AS BIGINT) AS n
        |FROM m, unnest(map_entries(mp)) AS u(e)
        |WHERE user_id < 50
        |ORDER BY user_id, event_type""".stripMargin,

    "q53_embed_neardup" -> q53OracleSql,

    "q88_vec_dedup_incr" -> q88OracleSql,

    "q54_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_ws,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(length(text) AS DOUBLE) /
        |    CAST(greatest(len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')), 1) AS DOUBLE), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q55_curation" ->
      ("""WITH c AS (
        |  SELECT doc_id, text, source,
        |    CAST(length(text) AS DOUBLE) AS n_chars_d,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens_d,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |         x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, text, source,
        |    round(0.5 * least(n_chars_d / 500.0, 1.0)
        |        + 0.3 * (1.0 - n_punct / n_chars_d)
        |        + 0.2 * (n_stop / n_tokens_d), 6) AS quality_score,
        |    CAST(n_tokens_d AS BIGINT) AS n_tokens
        |  FROM c),
        |gated AS (SELECT * FROM scored WHERE quality_score >= 0.5),
        |exact AS (
        |  SELECT doc_id, text, source, quality_score, n_tokens FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY
        |      md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS min_id
        |    FROM gated) WHERE doc_id = min_id),
        |""".stripMargin + minhashPairCtes("exact") + """,
        |dropped AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE jaccard >= 0.5),
        |survivors AS (
        |  SELECT e.* FROM exact e LEFT JOIN dropped d ON e.doc_id = d.doc_id
        |  WHERE d.doc_id IS NULL)
        |SELECT doc_id, source, quality_score, n_tokens
        |FROM survivors
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 <
        |  CAST(CASE WHEN source IN ('src0', 'src1') THEN 50
        |            WHEN source IN ('src2', 'src3') THEN 20
        |            ELSE 10 END AS BIGINT)
        |ORDER BY doc_id""".stripMargin),

    "q59_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT op, custkey FROM (
        |  SELECT 'both' AS op, o_custkey AS custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |  UNION ALL
        |  SELECT 'only_1995', o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |  UNION ALL
        |  SELECT 'only_1996', o_custkey FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
        |ORDER BY op, custkey""".stripMargin,

    "q57_seq_pack" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
        |    CAST(len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM s)
        |SELECT shard, (cum - n_tokens) // 2048 AS pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY shard, pack_id
        |ORDER BY shard, pack_id""".stripMargin,

    "q58_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |tgs AS (
        |  SELECT doc_id AS train_id,
        |    list_distinct(list_transform(range(1, len(t) - 6),
        |      i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS gs
        |  FROM toks WHERE len(t) >= 8),
        |tg AS (SELECT train_id, u.g FROM tgs, unnest(gs) AS u(g)),
        |egs AS (
        |  SELECT doc_id + 500000 AS eval_id,
        |    list_distinct(list_transform(range(1, len(t) - 6),
        |      i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS gs
        |  FROM toks WHERE doc_id < 20 AND len(t) >= 8),
        |eg AS (SELECT eval_id, u.g FROM egs, unnest(gs) AS u(g)),
        |ec AS (SELECT eval_id, CAST(len(gs) AS BIGINT) AS eval_ngrams FROM egs WHERE len(gs) > 0),
        |ov AS (
        |  SELECT train_id, eval_id, COUNT(*) AS shared_ngrams
        |  FROM tg JOIN eg USING (g) GROUP BY train_id, eval_id)
        |SELECT train_id, eval_id, shared_ngrams, eval_ngrams,
        |  round(CAST(shared_ngrams AS DOUBLE) / CAST(eval_ngrams AS DOUBLE), 6) AS overlap_frac
        |FROM ov JOIN ec USING (eval_id)
        |WHERE shared_ngrams >= 5
        |ORDER BY train_id, eval_id""".stripMargin,

    "q56_cube" ->
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
        |FROM customer
        |GROUP BY CUBE(c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,

    // recomputes Refine's Flag-mode _violations array (constraint
    // names in sorted order, comma-joined) with CASE/list logic —
    // NULL predicate results count as violations (refined totality)
    "q60_refine" ->
      """SELECT l_orderkey, l_linenumber,
        |  -- duckdb array_to_string([]) is NULL; Spark concat_ws is ''
        |  coalesce(array_to_string(list_sort(list_filter([
        |    CASE WHEN NOT coalesce(l_quantity >= 1 AND l_quantity <= 25, false)
        |         THEN 'between(l_quantity, 1, 25)' END,
        |    CASE WHEN NOT coalesce(l_returnflag IN ('N'), false)
        |         THEN 'oneOf(l_returnflag)' END,
        |    CASE WHEN NOT coalesce(regexp_matches(l_linestatus, '^O$'), false)
        |         THEN 'matches(l_linestatus, ^O$)' END,
        |    CASE WHEN NOT coalesce(l_extendedprice > 0, false)
        |         THEN 'positive(l_extendedprice)' END
        |  ], x -> x IS NOT NULL)), ','), '') AS violations
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // PII scrub parity: the planted contact line is recomputed in SQL
    // and the same ASCII email/IPv4 patterns (Java-regex ≡ RE2) are
    // counted then replaced — 'g' flag on every regexp_replace (Spark
    // replaces all matches by default, DuckDB only the first)
    "q61_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.' || CAST(doc_id % 100 AS VARCHAR) || ' done' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p
        |ORDER BY doc_id""".stripMargin,

    // incremental dedup: exact leg = normalized-md5 join of increment
    // fingerprints against catalog fingerprints; near leg = the shared
    // minhash CTE chain restricted to cross-boundary pairs (doc_a <
    // 250 <= doc_b, since pairs always have doc_a < doc_b). Planted
    // 200000+ copies are exact-dropped in both engines, so their
    // absence from the raw-documents pair CTE cannot affect survivors.
    "q62_dedup_incr" ->
      s"""WITH ${minhashPairCtes("documents")},
         |inc AS (
         |  SELECT doc_id FROM documents WHERE doc_id >= 250
         |  UNION ALL
         |  SELECT doc_id + 200000 FROM documents WHERE doc_id < 20),
         |allfp AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
         |  FROM documents),
         |incfp AS (
         |  SELECT doc_id, f FROM allfp WHERE doc_id >= 250
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, f FROM allfp WHERE doc_id < 20),
         |catfp AS (SELECT DISTINCT f FROM allfp WHERE doc_id < 250),
         |exact_drop AS (SELECT DISTINCT i.doc_id FROM incfp i JOIN catfp c ON i.f = c.f),
         |near_drop AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM pairs
         |  WHERE jaccard >= 0.5 AND doc_a < 250 AND doc_b >= 250)
         |SELECT doc_id FROM inc
         |WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)
         |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
         |ORDER BY doc_id""".stripMargin,

    // mixture sampling is pure integer arithmetic end-to-end (counts,
    // basis-point scale via integer div, portable-hash threshold), so
    // the oracle replays the exact kept set — `//` is DuckDB's
    // integral division, matching Spark SQL `div`
    "q63_mixture_sample" ->
      """WITH w(cat, p) AS (VALUES
        |    ('en', CAST(1 AS BIGINT)), ('de', CAST(1 AS BIGINT)),
        |    ('es', CAST(1 AS BIGINT)), ('fr', CAST(1 AS BIGINT)),
        |    ('zh', CAST(1 AS BIGINT))),
        |c AS (SELECT lang AS cat, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |cw AS (SELECT cat, cnt, p FROM c JOIN w USING (cat)),
        |s AS (SELECT MIN(cnt * 10000 // p) AS scale FROM cw),
        |r AS (SELECT cat, LEAST(CAST(10000 AS BIGINT), scale * p // cnt) AS rate_bp
        |      FROM cw CROSS JOIN s)
        |SELECT d.doc_id, d.lang, r.rate_bp
        |FROM documents d JOIN r ON d.lang = r.cat
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
        |      < r.rate_bp
        |ORDER BY d.doc_id""".stripMargin,

    // repetition stats are list arithmetic over the shared token
    // normalization; filtering happens on the 6-decimal ROUNDED
    // fractions in both engines so the threshold boundary is
    // bit-identical (DuckDB range(a,b) is [a,b), list slicing 1-based
    // like Spark's element_at)
    "q64_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_max(list_transform(list_distinct(toks),
        |      w -> len(list_filter(toks, x -> x = w)))) AS topc,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |f AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |    round(CAST(topc AS DOUBLE) / n, 6) AS top_token_frac,
        |    round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6) AS dup_bigram_frac
        |  FROM s)
        |SELECT doc_id, n_tokens, top_token_frac, dup_bigram_frac
        |FROM f
        |WHERE top_token_frac > 0.12 OR dup_bigram_frac > 0.08
        |ORDER BY doc_id""".stripMargin,

    // the bloom prefilter only discards rows (false positives die in
    // the exact semi-join behind it), so the oracle is the plain
    // semi-join the operator is definitionally equal to
    "q65_bloom_semijoin" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    // the Morton interleave is the same unrolled >>/&/<< integer sum
    // in both engines (graft.functions.ZOrder.zvalueSql generates it)
    "q66_zorder" ->
      s"""SELECT o_orderkey,
         |  ${graft.functions.ZOrder.zvalueSql("(o_custkey % 65536)", "(o_orderkey % 65536)")} AS zval
         |FROM orders
         |ORDER BY zval, o_orderkey
         |LIMIT 1000""".stripMargin,

    // token-budget cap: integral rate from token totals (DuckDB SUM
    // over integers returns HUGEINT → cast), portable-hash threshold
    "q67_token_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM t GROUP BY 1),
        |r AS (SELECT source,
        |        LEAST(CAST(10000 AS BIGINT), CAST(1300 * 10000 AS BIGINT) // tot) AS rate_bp
        |      FROM tot)
        |SELECT t.doc_id, t.source, t.n_tokens, r.rate_bp
        |FROM t JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
        |      < r.rate_bp
        |ORDER BY t.doc_id""".stripMargin,

    // chunk boundaries are integer arithmetic (both engines' division
    // sees only non-negative operands, so trunc-vs-floor never
    // differs); slices are 1-based in both; chunk text compares as the
    // space-joined token window
    "q68_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 64 THEN 1
        |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
        |  FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, CAST(u.c AS BIGINT) AS chunk_id
        |  FROM n, unnest(range(0, n_chunks)) AS u(c))
        |SELECT doc_id, chunk_id,
        |  CAST(len(toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // duplicateSpans replay: positional 8-gram hashes (range end is
    // exclusive → i covers 1..len-7), doc-frequency stop-gram prune,
    // inverted-index self-join, gaps-and-islands merge (consecutive
    // pos_a at constant pos_a-pos_b offset) into maximal spans
    "q69_dup_spans" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 600000 + a.doc_id, a.text || ' ' || b.text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id < 10),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM aug),
        |grams AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(t[u.i:u.i+7], ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |keep AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g)
        |  WHERE df <= 100),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  WHERE a.g IN (SELECT g FROM keep)),
        |isl AS (
        |  SELECT id_a, id_b, pos_a - pos_b AS delta, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
        |  FROM m)
        |SELECT id_a, id_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
        |  CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, delta, island
        |HAVING COUNT(*) + 7 >= 20
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // stripMarkup replay: same RE2-compatible regex chain (script/
    // style blocks, comments, tags → space; entity decode with &amp;
    // last; explicit whitespace class — Java \s ≠ RE2 \s), same
    // planted wrapper; both engines' replace() substitutes all
    // non-overlapping occurrences left-to-right
    "q70_strip_markup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css">p { color: #fff; }</style></head>' || chr(10) ||
        |    '<body><!-- doc ' || CAST(doc_id AS VARCHAR) || ' --><h1>Header</h1>' || chr(10) ||
        |    '<p class="main">' || text ||
        |    '</p><script>var n = 1 < 2 && "</p>";</script>' ||
        |    '<p>A &amp;amp; B &lt;i&gt; &quot;Q&quot; &#39;S&#39;&nbsp;C</p></body></html>' AS html
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(
        |        replace(replace(replace(replace(replace(replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(html, '(?is)<script\b.*?</script>', ' ', 'g'),
        |                '(?is)<style\b.*?</style>', ' ', 'g'),
        |              '(?s)<!--.*?-->', ' ', 'g'),
        |            '<[!/]?[A-Za-z][^>]*>', ' ', 'g'),
        |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |          '&apos;', ''''), '&nbsp;', ' '),
        |        '&amp;', '&'),
        |      '[ \t\r\n\f]+', ' ', 'g')) AS clean_text
        |  FROM h)
        |SELECT doc_id, clean_text,
        |  CAST(len(list_filter(string_split(trim(regexp_replace(lower(clean_text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |       x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // removeDuplicateSpans replay: the q69 span chain, then keep-first
    // removal as a pure position-set operation — a token drops when
    // ANY later-doc interval covers it (NOT EXISTS between join; no
    // interval merging needed on either engine), text rebuilt in
    // position order
    "q71_remove_spans" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 600000 + a.doc_id, a.text || ' ' || b.text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id < 10),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM aug),
        |grams AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(t[u.i:u.i+7], ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |keep AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g)
        |  WHERE df <= 100),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  WHERE a.g IN (SELECT g FROM keep)),
        |isl AS (
        |  SELECT id_a, id_b, pos_a - pos_b AS delta, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
        |  FROM m),
        |spans AS (
        |  SELECT id_b, MIN(pos_b) AS start_b, COUNT(*) + 7 AS st
        |  FROM isl GROUP BY id_a, id_b, delta, island
        |  HAVING COUNT(*) + 7 >= 20),
        |iv AS (SELECT id_b AS doc_id, start_b AS s, start_b + st - 1 AS e FROM spans),
        |pos AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS p, t[u.i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        |kept AS (
        |  SELECT p.doc_id, p.p, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM iv
        |                    WHERE iv.doc_id = p.doc_id AND p.p BETWEEN iv.s AND iv.e)),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
        |         COUNT(*) AS kept_n
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT) AS removed_tokens
        |FROM toks t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // seeded portable permutation: shard assignment AND within-shard
    // rank replay from md5('7:'||id) — the whole deal is deterministic
    "q72_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        |  FROM documents)
        |SELECT doc_id, hh % 16 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) AS BIGINT) AS shard_pos
        |FROM h
        |ORDER BY shard, shard_pos""".stripMargin,

    // add-one bigram LM replay: integer counts, prefix counts and V
    // derived from the census; ln/avg land ~1e-13 apart between libms
    // — far inside the 4-decimal rounding — and ppl is exp of the
    // already-rounded average, so the float steps are hash-safe
    "q73_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w2) AS v FROM c2)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  round(avg(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))), 4) AS avg_logp,
        |  round(exp(-round(avg(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))), 4)), 2) AS ppl
        |FROM bg
        |JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |JOIN c1 ON bg.w1 = c1.w1
        |CROSS JOIN v
        |GROUP BY bg.doc_id
        |ORDER BY bg.doc_id""".stripMargin,

    // seeded-hash split replay: bucket = seededHash(11, doc_id) mod
    // 10000 against cumulative 90/5/5 thresholds — pure integer
    // arithmetic, hash-exact on both engines
    "q74_split" ->
      """WITH b AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bk < 9000 THEN 'train' WHEN bk < 9500 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM b
        |GROUP BY 1, 2
        |ORDER BY source, split""".stripMargin,

    // NFC replay: DuckDB's utf8proc and the JVM implement the same
    // Unicode normalization spec (verified codepoint-identical on all
    // planted cases); suffixes built with chr() so the SQL stays ASCII
    // (chr(769)=U+0301 combining acute, chr(8491)=U+212B Angstrom,
    // chr(808)=U+0328 ogonek)
    "q75_nfc" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    text || CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN ' cafe' || chr(769)
        |      WHEN 1 THEN ' ' || chr(8491)
        |      ELSE ' e' || chr(808) || chr(769) END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
        |  raw <> nfc_normalize(raw) AS changed,
        |  md5(nfc_normalize(raw)) AS h
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    // exact census + deterministic top-k (ties break by key) +
    // integer basis-point shares — all integer arithmetic, hash-safe
    "q76_skew_stats" ->
      """WITH c AS (
        |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
        |SELECT
        |  CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank,
        |  user_id, cnt,
        |  cnt * 10000 // total AS share_bp
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id
        |LIMIT 20""".stripMargin,

    // PMI replay: exact integer censuses; the factors cast to double
    // in the SAME left-assoc order as the Spark expression (IEEE
    // mult/div is fully specified — only ln needs the 4-decimal round)
    "q77_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT u.w, COUNT(*) AS c
        |  FROM toks, unnest(t) AS u(w) GROUP BY u.w),
        |bg AS (
        |  SELECT t[u.i] AS w1, t[u.i + 1] AS w2, COUNT(*) AS n
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 20),
        |tot AS (
        |  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS t,
        |         (SELECT CAST(SUM(n) AS BIGINT) FROM bg) AS b)
        |SELECT bg.w1, bg.w2, bg.n,
        |  round(ln(CAST(bg.n AS DOUBLE) * CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE) /
        |    (CAST(tot.b AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 4) AS pmi
        |FROM bg
        |CROSS JOIN tot
        |JOIN uni u1 ON bg.w1 = u1.w
        |JOIN uni u2 ON bg.w2 = u2.w
        |ORDER BY pmi DESC, bg.w1, bg.w2
        |LIMIT 100""".stripMargin,

    // histogram replay: exact integer cents (positive doubles round
    // identically in both engines), ceil-width integer bucketing
    "q78_histogram" ->
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi,
        |              (MAX(v) - MIN(v) + 32) // 32 AS width FROM v),
        |b AS (SELECT (v.v - mm.lo) // mm.width AS bin, mm.lo, mm.hi, mm.width
        |      FROM v CROSS JOIN mm)
        |SELECT bin,
        |  lo + bin * width AS bin_lo,
        |  least(lo + (bin + 1) * width - 1, hi) AS bin_hi,
        |  COUNT(*) AS cnt
        |FROM b
        |GROUP BY bin, lo, hi, width
        |ORDER BY bin""".stripMargin,

    // exact-k per-group sampling: the staged Spark plan is
    // output-identical to this one-window rank (sub-sharding never
    // drops a global top-k row), so the oracle replays the plain
    // seeded md5 rank
    "q79_sample_group" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS sample_rank
        |  FROM h)
        |SELECT doc_id, source, sample_rank
        |FROM r WHERE sample_rank <= 5
        |ORDER BY source, sample_rank""".stripMargin,

    // SemDeDup replay: same doubles in both engines (float→double
    // cast, +0.01 shift), sequential-fold cosines (cosine_sim ==
    // list_cosine_similarity bit-for-bit), argmax ties to the lower
    // centroid id, keep rule = no ≥τ lower-id cluster-mate
    "q80_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, emb FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(emb, v -> v + 0.01)
        |  FROM base WHERE vec_id < 50),
        |cents AS (SELECT vec_id AS cid, emb AS ce FROM base WHERE vec_id < 8),
        |scored AS (
        |  SELECT c.vec_id, ct.cid, list_cosine_similarity(c.emb, ct.ce) AS cs
        |  FROM corpus c CROSS JOIN cents ct),
        |asg AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id AS vid
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN corpus ea ON ea.vec_id = a.vec_id
        |  JOIN corpus eb ON eb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.92)
        |SELECT asg.vec_id, cluster,
        |  asg.vec_id NOT IN (SELECT vid FROM dropped) AS kept
        |FROM asg ORDER BY vec_id""".stripMargin,

    // vocab-cap replay: integer census, keep set, ordered reassembly —
    // string_agg ORDER BY pos mirrors the sorted-collect transform
    "q81_cap_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |census AS (
        |  SELECT u.w, COUNT(*) AS c
        |  FROM toks, unnest(t) AS u(w) GROUP BY u.w),
        |keep AS (SELECT w FROM census WHERE c >= 500),
        |pos AS (
        |  SELECT doc_id, u.i AS pos, t[u.i] AS w
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        |rep AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN w IN (SELECT w FROM keep) THEN w ELSE '<unk>' END AS w2,
        |    w NOT IN (SELECT w FROM keep) AS is_unk
        |  FROM pos)
        |SELECT doc_id,
        |  string_agg(w2, ' ' ORDER BY pos) AS capped_text,
        |  CAST(COUNT(*) FILTER (is_unk) AS BIGINT) AS n_unk
        |FROM rep GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // coverage replay: q58's gram hashing, the reference collapsed to
    // its distinct gram set, integer basis points
    "q82_ngram_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(t) - 6),
        |      i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT))) AS gs
        |  FROM toks WHERE len(t) >= 8),
        |ref AS (
        |  SELECT DISTINCT u.g FROM grams, unnest(gs) AS u(g)
        |  WHERE source NOT IN ('src0', 'src1')),
        |dg AS (
        |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, u.g
        |  FROM grams, unnest(gs) AS u(g)
        |  WHERE source IN ('src0', 'src1') AND len(gs) > 0)
        |SELECT doc_id, n_grams,
        |  CAST(COUNT(*) FILTER (g IN (SELECT g FROM ref)) AS BIGINT) AS n_matched,
        |  COUNT(*) FILTER (g IN (SELECT g FROM ref)) * 10000 // n_grams AS coverage_bp
        |FROM dg GROUP BY doc_id, n_grams
        |ORDER BY doc_id""".stripMargin,

    // decile replay: q40's score in basis points (positive doubles
    // round identically), then the census-window bucket rule —
    // bucket = rows_strictly_below * 10 div total, all integers
    "q83_quality_buckets" ->
      """WITH s AS (
        |  SELECT CAST(round((
        |    0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
        |                 / CAST(length(text) AS DOUBLE))
        |    + 0.2 * (CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |                  x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |             / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE))
        |  ) * 10000, 0) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT v, COUNT(*) AS cnt FROM s WHERE v IS NOT NULL GROUP BY v),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        |b AS (
        |  SELECT v, cnt,
        |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM c)
        |SELECT before * 10 // total AS bucket,
        |  MIN(v) AS lo, MAX(v) AS hi, CAST(SUM(cnt) AS BIGINT) AS n_rows
        |FROM b CROSS JOIN t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // entropy replay: exact char census, H = ln L − (Σ c·ln c)/L,
    // 4-decimal round (the q73 float-agg discipline)
    "q84_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, u.c
        |  FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |       unnest(cs) AS u(c)),
        |cc AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_chars,
        |  COUNT(*) AS n_distinct,
        |  round(ln(CAST(SUM(n) AS DOUBLE))
        |    - SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) / CAST(SUM(n) AS DOUBLE),
        |    4) AS char_entropy
        |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // containment replay: q32's shingles on the q69 corpus, df-pruned
    // postings (count(*) == count(DISTINCT doc) — shingle sets are
    // distinct), ≥3 shared pruned shingles, exact verify on FULL sets
    // with the unrounded filter, smaller-side containment
    "q85_containment" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 600000 + a.doc_id, a.text || ' ' || b.text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id < 10),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                      x -> x <> '') AS t
        |        FROM aug)
        |  WHERE len(t) >= 3),
        |post AS (SELECT doc_id, u.g FROM sh, unnest(s) AS u(g) WHERE len(s) > 0),
        |keep AS (
        |  SELECT g FROM (SELECT g, COUNT(*) AS df FROM post GROUP BY g)
        |  WHERE df <= 100),
        |pr AS (SELECT doc_id, g FROM post WHERE g IN (SELECT g FROM keep)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |v AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
        |    CAST(len(sa.s) AS DOUBLE) AS na, CAST(len(sb.s) AS DOUBLE) AS nb
        |  FROM cand
        |  JOIN sh sa ON sa.doc_id = cand.doc_a
        |  JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b,
        |  round(inter / least(na, nb), 6) AS containment,
        |  round(inter / (na + nb - inter), 6) AS jaccard
        |FROM v
        |WHERE inter / least(na, nb) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // keep-best replay: q46's pair graph + transitive closure, q55's
    // rounded score, per-cluster argmax (score DESC, id) — singletons
    // (docs in no pair) are their own cluster and keep themselves
    "q86_keep_best" -> {
      val pairSql =
        s"""WITH RECURSIVE ${minhashPairCtes("documents")},
           |sym AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5
           |        UNION ALL SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.5),""".stripMargin
      pairSql +
        """
          |reach AS (
          |  SELECT doc_a AS a, doc_b AS b FROM sym
          |  UNION
          |  SELECT r.a, s.doc_b FROM reach r JOIN sym s ON r.b = s.doc_a)
          |, lab AS (
          |  SELECT a AS doc_id, least(MIN(b), a) AS cluster_id
          |  FROM reach GROUP BY a),
          |scored AS (
          |  SELECT doc_id,
          |    round(0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
          |      + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
          |                   / CAST(length(text) AS DOUBLE))
          |      + 0.2 * (CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
          |                    x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
          |               / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE)),
          |      6) AS quality
          |  FROM documents)
          |SELECT s.doc_id,
          |  COALESCE(l.cluster_id, s.doc_id) AS cluster_id,
          |  s.quality,
          |  row_number() OVER (
          |    PARTITION BY COALESCE(l.cluster_id, s.doc_id)
          |    ORDER BY s.quality DESC, s.doc_id) = 1 AS kept
          |FROM scored s LEFT JOIN lab l USING (doc_id)
          |ORDER BY s.doc_id""".stripMargin
    },

    // edit-distance pairs: the oracle is the exact O(n²) answer —
    // completeness of the Spark-side deletion-neighborhood index is
    // checked pair-for-pair against the full cross join
    "q87_edit_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // paragraph-dedup replay: the same synthetic line structure
    // (10-word wrap + banner + per-source footer), a distinct
    // (doc, paragraph) document-frequency census, df >= 5 common set,
    // ordered reassembly — string_agg ORDER BY pos mirrors the
    // sorted-collect transform; both engines' list slices are 1-based
    // and clamp at the end
    "q89_paragraph_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |aug AS (
        |  SELECT doc_id,
        |    'subscribe to our newsletter today' || chr(10) ||
        |    array_to_string(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        |      i -> array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')), chr(10)) ||
        |    chr(10) || 'all rights reserved ' || source AS text
        |  FROM w),
        |paras AS (
        |  SELECT doc_id, u.i AS pos, ps[u.i] AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM aug),
        |       unnest(range(1, len(ps) + 1)) AS u(i)),
        |census AS (
        |  SELECT para, COUNT(DISTINCT doc_id) AS df FROM paras GROUP BY para),
        |common AS (SELECT para FROM census WHERE df >= 5),
        |flagged AS (
        |  SELECT doc_id, pos, para,
        |    para IN (SELECT para FROM common) AS is_common
        |  FROM paras)
        |SELECT doc_id,
        |  COALESCE(string_agg(para, chr(10) ORDER BY pos) FILTER (NOT is_common), '') AS clean_text,
        |  CAST(COUNT(*) FILTER (NOT is_common) AS BIGINT) AS n_kept,
        |  CAST(COUNT(*) FILTER (is_common) AS BIGINT) AS n_removed
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // BM25 replay: tf/df/dl censuses over the shared tokenizer, the
    // Okapi formula with the identical double arithmetic shape
    // ((1.2+1) and (1-0.75) mirror the Scala k1+1.0 / 1.0-b adds),
    // round(.,4) before ranking (the q73 float-agg discipline — the
    // per-(query,doc) sum has <= |query| terms), rank by
    // (score DESC, doc_id) — the staged shard top-k must equal this
    // one-window rank
    "q90_bm25" ->
      """WITH q(query_id, qtext) AS (
        |  VALUES (1, 'spark query'), (2, 'customer value table'), (3, 'window sort merge')),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                x -> x <> '') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, u.w AS w, COUNT(*) AS tf
        |  FROM toks, unnest(t) AS u(w) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |qt AS (
        |  SELECT query_id, u.w AS w
        |  FROM (SELECT query_id,
        |          list_distinct(list_filter(
        |            string_split(trim(regexp_replace(lower(qtext), '[^a-z0-9]+', ' ', 'g')), ' '),
        |            x -> x <> '')) AS qs
        |        FROM q), unnest(qs) AS u(w)),
        |sc AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln(1.0 + (CAST(tot.n AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5)
        |             / (CAST(dft.df AS DOUBLE) + 0.5))
        |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1))
        |      / (CAST(tf.tf AS DOUBLE)
        |         + 1.2 * ((1 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl)) AS contrib
        |  FROM tf
        |  JOIN qt ON tf.w = qt.w
        |  JOIN dft ON dft.w = tf.w
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN tot),
        |agg AS (
        |  SELECT query_id, doc_id, round(SUM(contrib), 4) AS score
        |  FROM sc GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM agg)
        |SELECT query_id, rank, doc_id, score
        |FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // PQ replay: regenerate the seeded-md5 grid codebooks, encode the
    // corpus (argmin of sequential-fold sqdists, ties to the lower
    // entry), build each query's m x ks distance table, fold ADC in
    // subspace order — list_reduce's no-init fold agrees bitwise with
    // the Spark 0.0-init fold (0.0 + x == x), so encode, tables and
    // ADC are the same doubles and the rank is exact
    "q91_pq_adc" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cb AS (
        |  SELECT s.s, j.j, d.d,
        |    (CAST(('0x' || substr(md5('pq:7:' || s.s || ':' || j.j || ':' || d.d), 1, 15)) AS BIGINT) % 5 - 2) / 2.0 * 0.125 AS w
        |  FROM range(0, 8) s(s), range(0, 16) j(j), range(0, 8) d(d)),
        |cbv AS (SELECT s, j, list(w ORDER BY d) AS wv FROM cb GROUP BY s, j),
        |sub AS (
        |  SELECT vec_id, t.s, list_slice(emb, t.s * 8 + 1, t.s * 8 + 8) AS sv
        |  FROM v, range(0, 8) t(s)),
        |dist AS (
        |  SELECT vec_id, sub.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9), i -> (sv[i] - wv[i]) * (sv[i] - wv[i])),
        |                (a, b) -> a + b) AS dd
        |  FROM sub JOIN cbv ON cbv.s = sub.s),
        |code AS (
        |  SELECT vec_id, s, j AS c FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
        |    FROM dist) WHERE rn = 1),
        |codesl AS (SELECT vec_id, list(c ORDER BY s) AS cl FROM code GROUP BY vec_id),
        |qd AS (
        |  SELECT q.vec_id AS qid, cbv.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9),
        |                i -> (q.emb[cbv.s * 8 + i] - wv[i]) * (q.emb[cbv.s * 8 + i] - wv[i])),
        |                (a, b) -> a + b) AS dt
        |  FROM (SELECT vec_id, emb FROM v WHERE vec_id < 5) q, cbv),
        |qdl AS (SELECT qid, s, list(dt ORDER BY j) AS dts FROM qd GROUP BY qid, s),
        |qdt AS (SELECT qid, list(dts ORDER BY s) AS dtt FROM qdl GROUP BY qid),
        |pairs AS (
        |  SELECT qdt.qid, c.vec_id AS vid,
        |    list_reduce(list_transform(range(1, 9), s -> dtt[s][cl[s] + 1]),
        |                (a, b) -> a + b) AS adc
        |  FROM qdt CROSS JOIN codesl c WHERE c.vec_id <> qdt.qid),
        |ranked AS (
        |  SELECT qid, vid, adc,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT qid, rank, vid, round(adc, 4) AS adc_dist
        |FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // IVF-PQ composition: the q36 cell CTEs (cosine assignment —
    // list_cosine_similarity ≡ the graft codegen expression, proven
    // by q35) route the q91 code CTEs (seeded-grid codebooks,
    // sequential-fold distances) — candidates form ONLY where the
    // corpus home cell is among the query's 2 probed cells, then the
    // ADC ranking replays bit-for-bit
    "q92_ivf_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id >= 100 AND vec_id < 108),
        |scored_cells AS (
        |  SELECT v.vec_id, v.emb, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC, c.cid) AS rn
        |  FROM v CROSS JOIN cents c),
        |corpus_cell AS (SELECT vec_id, cid AS cell FROM scored_cells WHERE rn = 1),
        |qcell AS (SELECT vec_id AS qid, cid AS cell
        |          FROM scored_cells WHERE vec_id < 5 AND rn <= 2),
        |cb AS (
        |  SELECT s.s, j.j, d.d,
        |    (CAST(('0x' || substr(md5('pq:7:' || s.s || ':' || j.j || ':' || d.d), 1, 15)) AS BIGINT) % 5 - 2) / 2.0 * 0.125 AS w
        |  FROM range(0, 8) s(s), range(0, 16) j(j), range(0, 8) d(d)),
        |cbv AS (SELECT s, j, list(w ORDER BY d) AS wv FROM cb GROUP BY s, j),
        |sub AS (
        |  SELECT vec_id, t.s, list_slice(emb, t.s * 8 + 1, t.s * 8 + 8) AS sv
        |  FROM v, range(0, 8) t(s)),
        |dist AS (
        |  SELECT vec_id, sub.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9), i -> (sv[i] - wv[i]) * (sv[i] - wv[i])),
        |                (a, b) -> a + b) AS dd
        |  FROM sub JOIN cbv ON cbv.s = sub.s),
        |code AS (
        |  SELECT vec_id, s, j AS c FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
        |    FROM dist) WHERE rn = 1),
        |codesl AS (SELECT vec_id, list(c ORDER BY s) AS cl FROM code GROUP BY vec_id),
        |qd AS (
        |  SELECT q.vec_id AS qid, cbv.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9),
        |                i -> (q.emb[cbv.s * 8 + i] - wv[i]) * (q.emb[cbv.s * 8 + i] - wv[i])),
        |                (a, b) -> a + b) AS dt
        |  FROM (SELECT vec_id, emb FROM v WHERE vec_id < 5) q, cbv),
        |qdl AS (SELECT qid, s, list(dt ORDER BY j) AS dts FROM qd GROUP BY qid, s),
        |qdt AS (SELECT qid, list(dts ORDER BY s) AS dtt FROM qdl GROUP BY qid),
        |pairs AS (
        |  SELECT qdt.qid, c.vec_id AS vid,
        |    list_reduce(list_transform(range(1, 9), s -> dtt[s][cl[s] + 1]),
        |                (a, b) -> a + b) AS adc
        |  FROM qcell
        |  JOIN corpus_cell cc ON cc.cell = qcell.cell AND cc.vec_id <> qcell.qid
        |  JOIN qdt ON qdt.qid = qcell.qid
        |  JOIN codesl c ON c.vec_id = cc.vec_id),
        |ranked AS (
        |  SELECT qid, vid, adc,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT qid, rank, vid, round(adc, 4) AS adc_dist
        |FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // q232: the whole q92 IVF-PQ CTE chain widened to an ADC top-30
    // shortlist, then the exact re-rank — one join back to the raw
    // embeddings + the q35 list_cosine_similarity expression
    // (bit-identical to the codegen cosine_sim, proven by q35) + one
    // (score DESC, vid) window
    "q232_ivf_pq_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id >= 100 AND vec_id < 108),
        |scored_cells AS (
        |  SELECT v.vec_id, v.emb, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC, c.cid) AS rn
        |  FROM v CROSS JOIN cents c),
        |corpus_cell AS (SELECT vec_id, cid AS cell FROM scored_cells WHERE rn = 1),
        |qcell AS (SELECT vec_id AS qid, cid AS cell
        |          FROM scored_cells WHERE vec_id < 5 AND rn <= 2),
        |cb AS (
        |  SELECT s.s, j.j, d.d,
        |    (CAST(('0x' || substr(md5('pq:7:' || s.s || ':' || j.j || ':' || d.d), 1, 15)) AS BIGINT) % 5 - 2) / 2.0 * 0.125 AS w
        |  FROM range(0, 8) s(s), range(0, 16) j(j), range(0, 8) d(d)),
        |cbv AS (SELECT s, j, list(w ORDER BY d) AS wv FROM cb GROUP BY s, j),
        |sub AS (
        |  SELECT vec_id, t.s, list_slice(emb, t.s * 8 + 1, t.s * 8 + 8) AS sv
        |  FROM v, range(0, 8) t(s)),
        |dist AS (
        |  SELECT vec_id, sub.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9), i -> (sv[i] - wv[i]) * (sv[i] - wv[i])),
        |                (a, b) -> a + b) AS dd
        |  FROM sub JOIN cbv ON cbv.s = sub.s),
        |code AS (
        |  SELECT vec_id, s, j AS c FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, j) AS rn
        |    FROM dist) WHERE rn = 1),
        |codesl AS (SELECT vec_id, list(c ORDER BY s) AS cl FROM code GROUP BY vec_id),
        |qd AS (
        |  SELECT q.vec_id AS qid, cbv.s, cbv.j,
        |    list_reduce(list_transform(range(1, 9),
        |                i -> (q.emb[cbv.s * 8 + i] - wv[i]) * (q.emb[cbv.s * 8 + i] - wv[i])),
        |                (a, b) -> a + b) AS dt
        |  FROM (SELECT vec_id, emb FROM v WHERE vec_id < 5) q, cbv),
        |qdl AS (SELECT qid, s, list(dt ORDER BY j) AS dts FROM qd GROUP BY qid, s),
        |qdt AS (SELECT qid, list(dts ORDER BY s) AS dtt FROM qdl GROUP BY qid),
        |pairs AS (
        |  SELECT qdt.qid, c.vec_id AS vid,
        |    list_reduce(list_transform(range(1, 9), s -> dtt[s][cl[s] + 1]),
        |                (a, b) -> a + b) AS adc
        |  FROM qcell
        |  JOIN corpus_cell cc ON cc.cell = qcell.cell AND cc.vec_id <> qcell.qid
        |  JOIN qdt ON qdt.qid = qcell.qid
        |  JOIN codesl c ON c.vec_id = cc.vec_id),
        |shortlist AS (
        |  SELECT qid, vid, adc FROM (
        |    SELECT qid, vid, adc,
        |      row_number() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
        |    FROM pairs) WHERE rank <= 30),
        |rr AS (
        |  SELECT s.qid, s.vid, s.adc,
        |    list_cosine_similarity(qv.emb, cv.emb) AS score
        |  FROM shortlist s
        |  JOIN v qv ON qv.vec_id = s.qid
        |  JOIN v cv ON cv.vec_id = s.vid),
        |rfin AS (
        |  SELECT qid, vid, adc, score,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS BIGINT) AS rank
        |  FROM rr)
        |SELECT qid, rank, vid, round(score, 4) AS score, round(adc, 4) AS adc_dist
        |FROM rfin WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // the oracle materializes the full per-user grid (bounds +
    // generate_series + left join) — a DIFFERENT formulation than the
    // engine's lag-gap synthesis, so the gap rows themselves are
    // cross-checked, not just replayed; sums share the exact decimal
    // view, LOCF is last_value(IGNORE NULLS) in both engines
    "q93_resample" ->
      s"""WITH obs AS (
         |  SELECT user_id, epoch_us(ts) // 3600000000 AS b,
         |    COUNT(*) AS n_events, ${dSum("value")} AS total_value
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM bounds),
         |j AS (SELECT g.user_id, g.b, o.n_events, o.total_value
         |      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.b = g.b)
         |SELECT user_id, make_timestamp(b * 3600000000) AS bucket_start,
         |  COALESCE(n_events, 0) AS n_events, total_value,
         |  last_value(total_value IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
         |  CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
         |FROM j ORDER BY user_id, b""".stripMargin,

    // cross-table record linkage: the oracle is the exact O(n²)
    // dirty×master cross join (the q87 discipline — completeness of
    // the deletion-variant key join is checked pair-for-pair)
    "q94_edit_join" ->
      """WITH q AS (
        |  SELECT c_custkey + 1000000 AS qid,
        |    substr(c_name, 1, length(c_name) - 1) || 'x' AS qname
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT q.qid, c.c_custkey AS catalog_id,
        |  CAST(levenshtein(q.qname, c.c_name) AS INT) AS distance
        |FROM q JOIN customer c ON levenshtein(q.qname, c.c_name) <= 1
        |ORDER BY qid, catalog_id""".stripMargin,

    // Efraimidis–Spirakis replay: u from the same seeded md5, the
    // long +1 BEFORE the double division, one ln per row — both
    // engines rank the identical exponential keys (ln agreement
    // verified by the hash gate itself), ties to the lower doc_id
    "q95_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, n_chars,
        |    -ln((hh + 1) / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS sk
        |  FROM h),
        |r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS BIGINT) AS sample_rank
        |  FROM k)
        |SELECT doc_id, source, n_chars, sample_rank
        |FROM r WHERE sample_rank <= 50
        |ORDER BY source, sample_rank""".stripMargin,

    // all-integer PageRank: the three iterations unroll as CTE
    // triples (give → receive → damp), every transfer a BIGINT floor
    // division — the ranks match the Spark loop exactly (DuckDB
    // SUM(BIGINT) is HUGEINT, hence the CAST per the q24 discipline)
    "q96_pagerank" -> {
      val iterate = (1 to 3).map { i =>
        s"""g$i AS (SELECT r.node AS src, r.rank // od.od AS c
           |        FROM r${i - 1} r JOIN od ON od.node = r.node),
           |in$i AS (SELECT e.dst AS node, CAST(SUM(c) AS BIGINT) AS cin
           |         FROM e JOIN g$i ON e.src = g$i.src GROUP BY 1),
           |r$i AS (SELECT nodes.node,
           |          (SELECT ((1000000000000 // n) * 1500) // 10000 FROM sc)
           |          + (COALESCE(cin, 0) * 8500) // 10000 AS rank
           |        FROM nodes LEFT JOIN in$i ON in$i.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ol AS (
         |  SELECT o_custkey AS cust, -l_suppkey AS supp
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT cust AS src, supp AS dst FROM ol
         |      UNION ALL SELECT supp, cust FROM ol),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |sc AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src AS node, COUNT(*) AS od FROM e GROUP BY 1),
         |r0 AS (SELECT node, (SELECT 1000000000000 // n FROM sc) AS rank FROM nodes),
         |$iterate
         |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
    },

    // greedy-earliest funnel replay: each step's frame is the
    // key-wise min event time strictly after the previous step's
    "q97_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s3 ON s3.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type, COUNT(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
        |  UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4)
        |ORDER BY step""".stripMargin,

    // RANGE frames are value-defined, so both engines build the same
    // trailing-hour frame for every row (ties share a frame); the
    // sum is the exact decimal view cast to double
    "q98_trailing_window" ->
      s"""SELECT event_id, user_id, ts,
         |  COUNT(*) OVER w AS n_1h,
         |  CAST(SUM(${d2("value")}) OVER w AS DOUBLE) AS sum_1h
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    // full-outer change classification; IS DISTINCT FROM mirrors the
    // engine's null-safe struct comparison
    "q99_snapshot_diff" ->
      """WITH old AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |newer AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1.0 ELSE c_acctbal END AS c_acctbal
        |  FROM old WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 9000000, c_name, c_acctbal FROM old WHERE c_custkey < 50),
        |d AS (
        |  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN o.c_custkey IS NULL THEN 'inserted'
        |         WHEN n.c_custkey IS NULL THEN 'deleted'
        |         WHEN (o.c_name IS DISTINCT FROM n.c_name)
        |           OR (o.c_acctbal IS DISTINCT FROM n.c_acctbal) THEN 'changed'
        |    END AS change
        |  FROM old o FULL OUTER JOIN newer n ON o.c_custkey = n.c_custkey)
        |SELECT c_custkey, change FROM d WHERE change IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,

    // interval-overlap replay: the q22 session CTEs build the padded
    // windows, then DuckDB's inequality join applies the SAME closed
    // overlap predicate; overlap_us from the identical µs arithmetic
    "q102_interval_join" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM x),
        |s AS (
        |  SELECT user_id * 100000 + session_id AS wid,
        |    epoch_us(MIN(ts)) AS ws,
        |    epoch_us(MAX(ts)) + 1800000000 AS we
        |  FROM y GROUP BY user_id, session_id)
        |SELECT a.wid AS a_id, b.wid AS b_id,
        |  least(a.we, b.we) - greatest(a.ws, b.ws) AS overlap_us
        |FROM s a JOIN s b
        |  ON greatest(a.ws, b.ws) <= least(a.we, b.we)
        | AND a.wid // 100000 < b.wid // 100000
        |ORDER BY a_id, b_id""".stripMargin,

    // hopping windows: every event covers exactly windowSize/hop = 2
    // epoch-aligned windows — unnest the two window indices and
    // replay the census
    "q103_hopping_window" ->
      s"""WITH e AS (
         |  SELECT event_type, value, epoch_us(ts) // 300000000 AS b
         |  FROM events),
         |w AS (
         |  SELECT event_type, value,
         |    unnest([b, b - 1]) AS wi
         |  FROM e)
         |SELECT make_timestamp(wi * 300000000) AS window_start,
         |  make_timestamp((wi + 2) * 300000000) AS window_end,
         |  event_type, COUNT(*) AS n_events, ${dSum("value")} AS total_value
         |FROM w
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type""".stripMargin,

    // cohort retention: first-activity week per user, distinct active
    // (user, week), exact µs week offsets (both sides week-truncated
    // in UTC, so the division is exact)
    "q104_cohort_retention" ->
      """WITH fw AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |aw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
        |SELECT fw.cohort_week,
        |  (epoch_us(aw.week) - epoch_us(fw.cohort_week)) // 604800000000 AS week_offset,
        |  COUNT(DISTINCT aw.user_id) AS n_users
        |FROM aw JOIN fw ON fw.user_id = aw.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // z-score replay: exact decimal moments, then the SAME expression
    // shape — m = S/n, v = SS/n − m·m, z = (x − m)/sqrt(v) — so every
    // intermediate double is the identical IEEE value (sqrt is
    // correctly rounded on both engines)
    // lockstep with zscorePerGroup's r10 null semantics: moments count
    // non-null values only, and the join back is NULL-SAFE on the
    // group key (no-op on orders' non-null columns, but the oracle
    // must mirror the operator, not the dataset)
    "q100_zscore" ->
      s"""WITH stats AS (
         |  SELECT o_orderstatus AS g, COUNT(o_totalprice) AS n,
         |    SUM(${d2("o_totalprice")}) AS s,
         |    SUM(${d2("o_totalprice")} * ${d2("o_totalprice")}) AS ss
         |  FROM orders GROUP BY 1)
         |SELECT o.o_orderkey, o.o_orderstatus,
         |  round(CASE WHEN (CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) > 0
         |    THEN (o.o_totalprice - CAST(s AS DOUBLE) / n)
         |         / sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
         |    END, 6) AS z
         |FROM orders o LEFT JOIN stats ON o.o_orderstatus IS NOT DISTINCT FROM stats.g
         |ORDER BY o_orderkey""".stripMargin,

    "q101_bpe" -> bpeOracleSql(12),
    "q107_bpe_encode" -> bpeEncodeOracleSql(12),

    // portable register-based HLL (Ops.hllDistinct): seeded-md5 hash,
    // bin()-counted rho, exact-integer harmonic sum — replayed verbatim
    "q43_hll_distinct" -> {
      s"""WITH ${hllOracleCtes("p", "l_partkey", "approx_parts")},
         |${hllOracleCtes("o", "l_orderkey", "approx_orders")},
         |n AS (SELECT l_returnflag AS g, COUNT(*) AS n_rows FROM lineitem GROUP BY 1)
         |SELECT n.g AS l_returnflag, pout.approx_parts, oout.approx_orders, n.n_rows
         |FROM n JOIN pout ON pout.g = n.g JOIN oout ON oout.g = n.g
         |ORDER BY l_returnflag""".stripMargin
    },

    // anchored replay of the bounded chain: every signup anchors its
    // own deadline (epoch_us both sides — µs precision like Spark)
    "q105_funnel_windowed" ->
      """WITH a1 AS (
        |  SELECT user_id, ts AS t1 FROM events WHERE event_type = 'signup'),
        |c2 AS (
        |  SELECT e.user_id, a.t1, MIN(e.ts) AS t FROM events e
        |  JOIN a1 a ON a.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > a.t1
        |    AND epoch_us(e.ts) <= epoch_us(a.t1) + 3600000000 GROUP BY 1, 2),
        |c3 AS (
        |  SELECT e.user_id, c.t1, MIN(e.ts) AS t FROM events e
        |  JOIN c2 c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > c.t
        |    AND epoch_us(e.ts) <= epoch_us(c.t1) + 3600000000 GROUP BY 1, 2),
        |c4 AS (
        |  SELECT e.user_id, c.t1, MIN(e.ts) AS t FROM events e
        |  JOIN c3 c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t
        |    AND epoch_us(e.ts) <= epoch_us(c.t1) + 3600000000 GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |         (SELECT COUNT(DISTINCT user_id) FROM a1) AS n_users
        |  UNION ALL SELECT 2, 'view', (SELECT COUNT(DISTINCT user_id) FROM c2)
        |  UNION ALL SELECT 3, 'click', (SELECT COUNT(DISTINCT user_id) FROM c3)
        |  UNION ALL SELECT 4, 'purchase', (SELECT COUNT(DISTINCT user_id) FROM c4))
        |ORDER BY step""".stripMargin,

    // the q96 unrolled-iteration replay, on the DIRECTED graph, plus
    // the per-round dangling total (anti-join) folded back uniformly
    "q106_pagerank_dangling" -> {
      val iterate = (1 to 3).map { i =>
        s"""g$i AS (SELECT r.node AS src, r.rank // od.od AS c
           |        FROM r${i - 1} r JOIN od ON od.node = r.node),
           |in$i AS (SELECT e.dst AS node, CAST(SUM(c) AS BIGINT) AS cin
           |         FROM e JOIN g$i ON e.src = g$i.src GROUP BY 1),
           |d$i AS (SELECT COALESCE(CAST(SUM(r.rank) AS BIGINT), 0) AS d
           |        FROM r${i - 1} r ANTI JOIN od ON od.node = r.node),
           |r$i AS MATERIALIZED (SELECT nodes.node,
           |          (SELECT ((1000000000000 // n) * 1500) // 10000 FROM sc)
           |          + ((COALESCE(cin, 0) + (SELECT d FROM d$i) // (SELECT n FROM sc))
           |             * 8500) // 10000 AS rank
           |        FROM nodes LEFT JOIN in$i ON in$i.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT o_custkey AS src, -l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |sc AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src AS node, COUNT(*) AS od FROM e GROUP BY 1),
         |r0 AS (SELECT node, (SELECT 1000000000000 // n FROM sc) AS rank FROM nodes),
         |$iterate
         |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
    },

    // the q108 quantile-sketch replay: fixed-width integer-bucket
    // census (floor of an IEEE double division — exact in both
    // engines), per-group cumulative, nearest-rank ceil(q·n) pick,
    // bucket-midpoint estimate. The quantile literals CAST to DOUBLE:
    // DuckDB parses 0.95 as DECIMAL and decimal·n would round
    // differently from Spark's double product at ceil boundaries.
    // The ±2^62 scaled-value range predicate mirrors
    // quantileRegisters' unrepresentable-bucket guard EXACTLY (r11
    // second review: Spark dropping a 5e18-scale outlier that the
    // oracle still counts would silently diverge the census).
    "q108_quantile_sketch" -> {
      def census(pre: String, valueCol: String, width: String) =
        s"""${pre}r AS (
           |  SELECT l_returnflag AS g,
           |         CAST(floor(CAST($valueCol AS DOUBLE) / $width) AS BIGINT) AS b,
           |         COUNT(*) AS n
           |  FROM lineitem
           |  WHERE CAST($valueCol AS DOUBLE) / $width
           |    BETWEEN -CAST(4611686018427387904 AS DOUBLE)
           |        AND CAST(4611686018427387904 AS DOUBLE)
           |  GROUP BY 1, 2),
           |${pre}c AS (
           |  SELECT g, b, SUM(n) OVER (PARTITION BY g ORDER BY b) AS cum,
           |         SUM(n) OVER (PARTITION BY g) AS tot FROM ${pre}r),
           |${pre}q AS (
           |  SELECT g,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.5 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b50,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.95 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b95
           |  FROM ${pre}c GROUP BY g)""".stripMargin
      s"""WITH ${census("q", "l_quantity", "1.0")},
         |${census("p", "l_extendedprice", "64.0")}
         |SELECT qq.g AS l_returnflag,
         |  (CAST(qq.b50 AS DOUBLE) + 0.5) * 1.0 AS p50_qty,
         |  (CAST(qq.b95 AS DOUBLE) + 0.5) * 1.0 AS p95_qty,
         |  (CAST(pq.b50 AS DOUBLE) + 0.5) * 64.0 AS p50_price,
         |  (CAST(pq.b95 AS DOUBLE) + 0.5) * 64.0 AS p95_price
         |FROM qq JOIN pq ON pq.g = qq.g
         |ORDER BY 1""".stripMargin
    },

    // the q109 SCD2 replay: rebuild the same 4-extract snapshot
    // series (presence/drift/insert rules mirrored literally — the
    // drift CASE keeps Spark's when-chain shape so the double
    // arithmetic is identical), then the same calendar-successor +
    // boundary-lag + running-version windows
    "q109_scd2_history" -> s"$scd2HistorySqlNoOrder\nORDER BY id, valid_from",

    // the q113 as-of replay: q109's history wrapped in the covering-
    // interval filter — [valid_from, valid_to) with open versions
    // unbounded, interval columns dropped (the as-of read IS the
    // reconstructed snapshot)
    "q113_scd2_asof" ->
      s"""SELECT id, c_name, c_acctbal, c_mktsegment
         |FROM ($scd2HistorySqlNoOrder) h
         |WHERE valid_from <= TIMESTAMP '2024-02-15 00:00:00'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-02-15 00:00:00')
         |ORDER BY id""".stripMargin,
  ) ++ oracleSqlTail

  /** q109's oracle body without the final ORDER BY — shared verbatim
    * by the q113 as-of wrapper so both replays agree by construction.
    */
  private lazy val scd2HistorySqlNoOrder: String = {
      val snapSelects = (0 until 4).map { k =>
        val ts = s"TIMESTAMP '2024-0${k + 1}-01 00:00:00'"
        val presence =
          if (k >= 2) "id % 7 <> 0"
          else if (k == 1) "id % 11 <> 0"
          else "TRUE"
        val drift1 = s"CAST($k AS DOUBLE)"
        val drift2 = if (k >= 2) "1.0" else "0.0"
        val main =
          s"""SELECT id, c_name,
             |  c_acctbal + CASE WHEN id % 5 = 0 THEN $drift1
             |                   WHEN id % 5 = 1 THEN $drift2
             |                   ELSE 0.0 END AS c_acctbal,
             |  c_mktsegment, $ts AS snap_ts
             |FROM base WHERE $presence""".stripMargin
        val inserts =
          if (k >= 2)
            s"""
               |UNION ALL
               |SELECT id + 9000000 AS id, c_name, c_acctbal, c_mktsegment,
               |  $ts AS snap_ts
               |FROM base WHERE id < 50""".stripMargin
          else ""
        main + inserts
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |  SELECT c_custkey AS id, c_name, c_acctbal, c_mktsegment FROM customer),
         |snaps AS (
         |$snapSelects),
         |cal AS (
         |  SELECT snap_ts, lead(snap_ts) OVER (ORDER BY snap_ts) AS next_ts
         |  FROM (SELECT DISTINCT snap_ts FROM snaps)),
         |r AS (
         |  SELECT s.id, s.c_name, s.c_acctbal, s.c_mktsegment, s.snap_ts, cal.next_ts,
         |         lag(s.snap_ts) OVER w AS prev_ts,
         |         lag(cal.next_ts) OVER w AS prev_next,
         |         lag(s.c_name) OVER w AS p_name,
         |         lag(s.c_acctbal) OVER w AS p_bal,
         |         lag(s.c_mktsegment) OVER w AS p_seg
         |  FROM snaps s JOIN cal USING (snap_ts)
         |  WINDOW w AS (PARTITION BY s.id ORDER BY s.snap_ts)),
         |v AS (
         |  SELECT *, CAST(SUM(CASE WHEN prev_ts IS NULL
         |      OR p_name IS DISTINCT FROM c_name
         |      OR p_bal IS DISTINCT FROM c_acctbal
         |      OR p_seg IS DISTINCT FROM c_mktsegment
         |      OR prev_next <> snap_ts
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY snap_ts) AS BIGINT) AS version
         |  FROM r),
         |g AS (
         |  SELECT id, version, MIN(snap_ts) AS valid_from, MAX(snap_ts) AS last_ts,
         |         MAX(c_name) AS c_name, MAX(c_acctbal) AS c_acctbal,
         |         MAX(c_mktsegment) AS c_mktsegment
         |  FROM v GROUP BY 1, 2)
         |SELECT g.id, g.c_name, g.c_acctbal, g.c_mktsegment, g.valid_from,
         |       cal.next_ts AS valid_to, cal.next_ts IS NULL AS is_current
         |FROM g JOIN cal ON cal.snap_ts = g.last_ts""".stripMargin
  }

  private lazy val oracleSqlTail: Map[String, String] = Map(
    // the q110 heavy-hitters replay: below cap the Misra–Gries sketch
    // is exact with a deterministic (count DESC, item) order, so the
    // oracle is a plain census + rank
    "q110_heavy_hitters" ->
      """WITH c AS (
        |  SELECT lang, source AS item, COUNT(*) AS cnt
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, item, cnt,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang ORDER BY cnt DESC, item) AS BIGINT) AS rank
        |  FROM c)
        |SELECT lang, rank, item, cnt FROM r
        |WHERE rank <= 5
        |ORDER BY 1, 2""".stripMargin,

    // the q111 Lloyd's replay: 2 unrolled iterations — assignment =
    // q91's sequential squared-distance fold + (d2, cid) row_number,
    // re-centering = q42's decimal means re-assembled by pos. Each
    // round's CTEs are MATERIALIZED (assignment references the
    // previous centroids k times — plain CTEs would inline and the
    // plan doubles per round, the q101 lesson).
    "q111_kmeans" -> {
      def iterate(i: Int): String = {
        val prev = s"c${i - 1}"
        s"""a$i AS MATERIALIZED (
           |  SELECT vec_id, emb, cid FROM (
           |    SELECT v.vec_id, v.emb, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        list_reduce(list_transform(range(1, 65),
           |          i -> (v.emb[i] - c.c[i]) * (v.emb[i] - c.c[i])), (a, b) -> a + b),
           |        c.cid) AS rn
           |    FROM v CROSS JOIN $prev c) WHERE rn = 1),
           |m$i AS (
           |  SELECT cid, pos, CAST(SUM(x) AS DOUBLE) / COUNT(x) AS m, COUNT(x) AS n
           |  FROM (
           |    SELECT cid, generate_subscripts(emb, 1) - 1 AS pos,
           |           CAST(unnest(emb) AS DECIMAL(27,12)) AS x
           |    FROM a$i)
           |  GROUP BY cid, pos),
           |c$i AS MATERIALIZED (
           |  SELECT cid, list(m ORDER BY pos) AS c, MAX(n) AS n
           |  FROM m$i GROUP BY cid)""".stripMargin
      }
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS c
         |  FROM (SELECT vec_id, emb FROM v ORDER BY vec_id LIMIT 4)),
         |${iterate(1)},
         |${iterate(2)}
         |SELECT cid,
         |  list_aggregate(list_transform(c,
         |    x -> CAST(CAST(x AS DECIMAL(18,3)) AS VARCHAR)), 'string_agg', ',') AS centroid,
         |  n AS cluster_size
         |FROM c2 ORDER BY cid""".stripMargin
    },

    // the q114 two-level IVF replay: fine centroids home into coarse
    // cells, corpus rows route coarse-then-fine, queries probe their
    // 2 best coarse cells and keep their 2 best fine cells across the
    // probed union — every ranking is (cosine DESC, id), every cosine
    // is list_cosine_similarity (≡ the codegen cosine_sim, proven by
    // q35), so the whole two-level routing replays bit-for-bit.
    "q114_ann_two_level" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |coarse AS (SELECT vec_id AS gcid, emb AS gce FROM v WHERE vec_id >= 200 AND vec_id < 204),
        |fine AS (SELECT vec_id AS cid, emb AS ce FROM v WHERE vec_id >= 100 AND vec_id < 116),
        |fine_home AS (
        |  SELECT cid, ce, gcid FROM (
        |    SELECT f.cid, f.ce, c.gcid,
        |      row_number() OVER (PARTITION BY f.cid
        |        ORDER BY list_cosine_similarity(f.ce, c.gce) DESC, c.gcid) AS rn
        |    FROM fine f CROSS JOIN coarse c) WHERE rn = 1),
        |corpus_g AS (
        |  SELECT vid, c_emb, gcid FROM (
        |    SELECT v.vec_id AS vid, v.emb AS c_emb, c.gcid,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_cosine_similarity(v.emb, c.gce) DESC, c.gcid) AS rn
        |    FROM v CROSS JOIN coarse c) WHERE rn = 1),
        |corpus AS (
        |  SELECT vid, c_emb, cell FROM (
        |    SELECT g.vid, g.c_emb, f.cid AS cell,
        |      row_number() OVER (PARTITION BY g.vid
        |        ORDER BY list_cosine_similarity(g.c_emb, f.ce) DESC, f.cid) AS rn
        |    FROM corpus_g g JOIN fine_home f ON f.gcid = g.gcid) WHERE rn = 1),
        |qg AS (
        |  SELECT qid, q_emb, gcid FROM (
        |    SELECT v.vec_id AS qid, v.emb AS q_emb, c.gcid,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_cosine_similarity(v.emb, c.gce) DESC, c.gcid) AS rn
        |    FROM v CROSS JOIN coarse c WHERE v.vec_id < 10) WHERE rn <= 2),
        |queries AS (
        |  SELECT qid, q_emb, cell FROM (
        |    SELECT g.qid, g.q_emb, f.cid AS cell,
        |      row_number() OVER (PARTITION BY g.qid
        |        ORDER BY list_cosine_similarity(g.q_emb, f.ce) DESC, f.cid) AS rn
        |    FROM qg g JOIN fine_home f ON f.gcid = g.gcid) WHERE rn <= 2),
        |cand AS (
        |  SELECT q.qid, c.vid, list_cosine_similarity(q.q_emb, c.c_emb) AS raw
        |  FROM corpus c JOIN queries q ON c.cell = q.cell AND c.vid <> q.qid),
        |ranked AS (
        |  SELECT qid, vid, raw,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS BIGINT) AS rank
        |  FROM cand)
        |SELECT qid, rank, vid, round(raw, 4) AS score
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // q117: every lag term and weight is generated from the SAME
    // Scala constants the operator uses — ℓ weighs 2^(lags−1−ℓ),
    // value enters as exact decimal cents, all arithmetic BIGINT, so
    // the smoothed series replays bit-for-bit; `//` = Spark's `div`
    // for the non-negative sums here
    "q117_ewma" -> {
      val lags = 16
      val terms = (0 until lags).map { l =>
        val w = 1L << (lags - 1 - l)
        val c = if (l == 0) "c" else s"lag(c, $l) OVER w"
        (s"COALESCE($c, 0) * $w", s"CASE WHEN $c IS NULL THEN 0 ELSE $w END")
      }
      // null-value rows DROP up front (the operator's stated
      // semantics — a null is not an observation and must not occupy
      // a lag slot); the oracle replays the same drop
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events
         |  WHERE value IS NOT NULL),
         |l AS (SELECT event_id, user_id,
         |  ${terms.map(_._1).mkString(" + ")} AS ewma_num,
         |  ${terms.map(_._2).mkString(" + ")} AS ewma_denom
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         |SELECT event_id, user_id, ewma_num, ewma_denom,
         |  (ewma_num * 1000) // ewma_denom AS ewma_millicents
         |FROM l ORDER BY event_id""".stripMargin
    },

    // q119: the five moment sums are exact decimals (order-free), the
    // slope/intercept/r scalars a FIXED double expression shape
    // replayed term-for-term (the q100 discipline) — round(6) on
    // bit-identical doubles
    "q119_regression" -> {
      val n   = "CAST(n AS DOUBLE)"
      val sx  = "CAST(sx AS DOUBLE)";  val sy  = "CAST(sy AS DOUBLE)"
      val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
      val sxy = "CAST(sxy AS DOUBLE)"
      val covN  = s"($n * $sxy - $sx * $sy)"
      val varXN = s"($n * $sxx - $sx * $sx)"
      val varYN = s"($n * $syy - $sy * $sy)"
      s"""WITH m AS (
         |  SELECT s_nationkey, COUNT(*) AS n,
         |    SUM(${d2("l_quantity")}) AS sx,
         |    SUM(${d2("l_extendedprice")}) AS sy,
         |    SUM(${d2("l_quantity")} * ${d2("l_quantity")}) AS sxx,
         |    SUM(${d2("l_extendedprice")} * ${d2("l_extendedprice")}) AS syy,
         |    SUM(${d2("l_quantity")} * ${d2("l_extendedprice")}) AS sxy
         |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |  GROUP BY 1)
         |SELECT s_nationkey, n,
         |  round(CASE WHEN $varXN > 0 THEN $covN / $varXN END, 6) AS slope,
         |  round(CASE WHEN $varXN > 0 THEN ($sy - ($covN / $varXN) * $sx) / $n END, 6) AS intercept,
         |  round(CASE WHEN $varXN > 0 AND $varYN > 0 THEN $covN / sqrt($varXN * $varYN) END, 6) AS r
         |FROM m ORDER BY s_nationkey""".stripMargin
    },

    // q120: exact BIGINT num/denom; millicents via the division
    // identity (q div + remainder scale) so the ×1000 never overflows
    // — `//`/`%` ≡ Spark `div`/`%` on the non-negative values here
    "q120_twap" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT user_id, c,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS delta
        |  FROM e),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(COALESCE(SUM(c * delta), 0) AS BIGINT) AS twap_num,
        |    CAST(COALESCE(SUM(delta), 0) AS BIGINT) AS twap_denom
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n_events, twap_num, twap_denom,
        |  CASE WHEN twap_denom > 0
        |    THEN (twap_num // twap_denom) * 1000 + ((twap_num % twap_denom) * 1000) // twap_denom
        |  END AS twap_millicents
        |FROM a ORDER BY user_id""".stripMargin,

    // q121: consecutive-pair census over the same (us, event_id)
    // window order as q117/q118; exact-integer probabilities
    "q121_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE event_type IS NOT NULL),
        |p AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst
        |  FROM e),
        |c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src, dst, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY src) AS BIGINT) AS src_total
        |  FROM c)
        |SELECT src, dst, cnt, src_total, (cnt * 1000) // src_total AS prob_millis
        |FROM t ORDER BY src, dst""".stripMargin,

    // q131: the R peel rounds unroll as MATERIALIZED CTEs (each
    // round's edge frame is referenced twice — the q101 inlining
    // rule); survivor census re-filtered at k, exactly the operator's
    // definition
    "q131_kcore" -> {
      val k = 4; val rounds = 4
      val header =
        """WITH ei AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (
          |  SELECT DISTINCT x.p AS u, y.p AS v
          |  FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p)""".stripMargin
      val roundsSql = (1 to rounds).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT n FROM (SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
           |  GROUP BY n HAVING count(*) >= $k),
           |e$r AS MATERIALIZED (
           |  SELECT u, v FROM e${r - 1}
           |  WHERE u IN (SELECT n FROM d$r) AND v IN (SELECT n FROM d$r))""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$roundsSql
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM (SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY n HAVING count(*) >= $k
         |ORDER BY node""".stripMargin
    },

    // q132: the oracle unrolls the 3 BFS rounds as MATERIALIZED CTEs
    // (the q131 discipline) — each round's frontier is the adjacency
    // neighbors of the previous frontier not yet labeled
    "q132_bfs_reach" -> {
      val rounds = 3
      val header =
        """WITH ei AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (
          |  SELECT DISTINCT x.p AS u, y.p AS v
          |  FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p),
          |adj AS MATERIALIZED (
          |  SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
          |dist0 AS MATERIALIZED (
          |  SELECT DISTINCT p AS node, CAST(0 AS BIGINT) AS dist
          |  FROM ei WHERE p % 20 = 0)""".stripMargin
      val roundsSql = (1 to rounds).map { r =>
        s"""f$r AS MATERIALIZED (
           |  SELECT DISTINCT a.d AS node, CAST($r AS BIGINT) AS dist
           |  FROM adj a JOIN dist${r - 1} fr ON a.s = fr.node AND fr.dist = ${r - 1}
           |  WHERE a.d NOT IN (SELECT node FROM dist${r - 1})),
           |dist$r AS MATERIALIZED (
           |  SELECT node, dist FROM dist${r - 1} UNION ALL SELECT node, dist FROM f$r)""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$roundsSql
         |SELECT node, dist FROM dist$rounds
         |ORDER BY node""".stripMargin
    },

    // q140: the oracle unrolls the 4 Bellman-Ford rounds as
    // MATERIALIZED CTEs in the FULL-relaxation form (every labeled
    // node relaxes each round) — mathematically identical to the
    // engine's frontier optimization, since both equal min-weight
    // over paths of at most r edges after round r
    "q140_sssp" -> {
      val rounds = 4
      val header =
        """WITH ei AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |ew AS MATERIALIZED (
          |  SELECT u, v, 1 + (u * 3 + v) % 7 AS w FROM (
          |    SELECT DISTINCT x.p AS u, y.p AS v
          |    FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p)),
          |adj AS MATERIALIZED (
          |  SELECT u AS s, v AS d, w FROM ew UNION ALL SELECT v, u, w FROM ew),
          |dist0 AS MATERIALIZED (
          |  SELECT DISTINCT p AS node, CAST(0 AS BIGINT) AS dist
          |  FROM ei WHERE p % 20 = 0)""".stripMargin
      val roundsSql = (1 to rounds).map { r =>
        s"""dist$r AS MATERIALIZED (
           |  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT node, dist FROM dist${r - 1}
           |    UNION ALL
           |    SELECT a.d AS node, fr.dist + a.w AS dist
           |    FROM adj a JOIN dist${r - 1} fr ON a.s = fr.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""$header,
         |$roundsSql
         |SELECT node, dist FROM dist$rounds
         |ORDER BY node""".stripMargin
    },

    // q134: per-unit conversion rollup → per-arm exact counts →
    // the identical fixed double shape for p/pool/se/z (every
    // division and sqrt written in the same op order as the Spark
    // column expressions; 1.96 cast to DOUBLE — DuckDB would parse
    // the bare literal as DECIMAL)
    "q134_ab_test" ->
      """WITH pu AS (
        |  SELECT c_mktsegment, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |         user_id AS u,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events JOIN customer ON c_custkey = user_id
        |  GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT c_mktsegment, v, count(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
        |  FROM pu GROUP BY 1, 2),
        |j AS (
        |  SELECT a.c_mktsegment, a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b
        |  FROM per a JOIN per b ON a.c_mktsegment = b.c_mktsegment
        |  WHERE a.v = 'A' AND b.v = 'B'),
        |s AS (
        |  SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
        |            CAST(conv_b AS DOUBLE) / n_b AS pb,
        |            CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool
        |  FROM j),
        |s2 AS (
        |  SELECT *, sqrt(pool * (CAST(1 AS DOUBLE) - pool) *
        |                 (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS se
        |  FROM s)
        |SELECT c_mktsegment, n_a, conv_a, n_b, conv_b,
        |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  CASE WHEN se > 0 THEN round((pa - pb) / se, 6) END AS z,
        |  CASE WHEN se > 0 THEN abs(round((pa - pb) / se, 6)) >= CAST(1.96 AS DOUBLE)
        |       ELSE FALSE END AS significant
        |FROM s2 ORDER BY c_mktsegment""".stripMargin,

    // q135: the day census lags over the same window, each lag's six
    // exact sums feed the q119 double shape verbatim
    "q135_autocorr" -> {
      val n   = "CAST(n AS DOUBLE)"
      val sx  = "CAST(sx AS DOUBLE)";  val sy  = "CAST(sy AS DOUBLE)"
      val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
      val sxy = "CAST(sxy AS DOUBLE)"
      val covN  = s"($n * $sxy - $sx * $sy)"
      val varXN = s"($n * $sxx - $sx * $sx)"
      val varYN = s"($n * $syy - $sy * $sy)"
      val lags = (1 to 3).map { k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lag_k, x, l$k AS y FROM l WHERE l$k IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      s"""WITH d AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, x,
         |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
         |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
         |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
         |  FROM d),
         |p AS (
         |  $lags),
         |m AS (
         |  SELECT event_type, lag_k, count(*) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy
         |  FROM p GROUP BY 1, 2)
         |SELECT event_type, lag_k, n,
         |  round(CASE WHEN $varXN > 0 AND $varYN > 0 THEN $covN / sqrt($varXN * $varYN) END, 6) AS r
         |FROM m ORDER BY event_type, lag_k""".stripMargin
    },

    // q149: the same day census, lag AND lead shifts over one window,
    // the q119 r tree per (type, k)
    "q149_xcorr" -> {
      val n   = "CAST(n AS DOUBLE)"
      val sx  = "CAST(sx AS DOUBLE)";  val sy  = "CAST(sy AS DOUBLE)"
      val sxx = "CAST(sxx AS DOUBLE)"; val syy = "CAST(syy AS DOUBLE)"
      val sxy = "CAST(sxy AS DOUBLE)"
      val covN  = s"($n * $sxy - $sx * $sy)"
      val varXN = s"($n * $sxx - $sx * $sx)"
      val varYN = s"($n * $syy - $sy * $sy)"
      val shifts = ((-2 to -1).map(k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lag_k, x, lead${-k} AS y FROM l WHERE lead${-k} IS NOT NULL") ++
        Seq("SELECT event_type, CAST(0 AS BIGINT) AS lag_k, x, y FROM l") ++
        (1 to 2).map(k =>
          s"SELECT event_type, CAST($k AS BIGINT) AS lag_k, x, lag$k AS y FROM l WHERE lag$k IS NOT NULL"))
        .mkString("\n  UNION ALL ")
      s"""WITH d AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS BIGINT) AS x,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, x, y,
         |    lag(y, 1) OVER w AS lag1, lag(y, 2) OVER w AS lag2,
         |    lead(y, 1) OVER w AS lead1, lead(y, 2) OVER w AS lead2
         |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |p AS (
         |  $shifts),
         |m AS (
         |  SELECT event_type, lag_k, count(*) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy
         |  FROM p GROUP BY 1, 2)
         |SELECT event_type, lag_k, n,
         |  round(CASE WHEN $varXN > 0 AND $varYN > 0 THEN $covN / sqrt($varXN * $varYN) END, 6) AS r
         |FROM m ORDER BY event_type, lag_k""".stripMargin
    },

    // q150: the same lag-7 day census; per-row ratios round at 12 and
    // sum as exact DECIMAL(38,12) (the q142 discipline), metrics
    // round at 6 in the same op order
    "q150_backtest" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS a
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, a,
        |    lag(a, 7) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM d),
        |f AS (SELECT * FROM l WHERE p IS NOT NULL),
        |t AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(abs(a - p)) AS BIGINT) AS sae,
        |    CAST(SUM(p - a) AS BIGINT) AS sbias,
        |    CAST(SUM(CASE WHEN a <> 0 THEN CAST(round(
        |      CAST(abs(a - p) AS DOUBLE) / CAST(abs(a) AS DOUBLE), 12)
        |      AS DECIMAL(38,12)) END) AS DECIMAL(38,12)) AS sa,
        |    CAST(count(CASE WHEN a = 0 THEN 1 END) AS BIGINT) AS n_zero_actual,
        |    CAST(SUM(CASE WHEN abs(a) + abs(p) <> 0 THEN CAST(round(
        |      CAST(2 AS DOUBLE) * CAST(abs(a - p) AS DOUBLE) /
        |      CAST(abs(a) + abs(p) AS DOUBLE), 12)
        |      AS DECIMAL(38,12)) END) AS DECIMAL(38,12)) AS ss,
        |    CAST(count(CASE WHEN abs(a) + abs(p) = 0 THEN 1 END) AS BIGINT) AS nzd
        |  FROM f GROUP BY 1)
        |SELECT event_type, n, n_zero_actual,
        |  round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mae,
        |  round(CAST(sbias AS DOUBLE) / CAST(n AS DOUBLE), 6) AS bias,
        |  CASE WHEN n > n_zero_actual THEN
        |    round(CAST(sa AS DOUBLE) / CAST(n - n_zero_actual AS DOUBLE), 6) END AS mape,
        |  CASE WHEN n > nzd THEN
        |    round(CAST(ss AS DOUBLE) / CAST(n - nzd AS DOUBLE), 6) END AS smape
        |FROM t ORDER BY event_type""".stripMargin,

    // q151: the same calendar-grid buckets (floor over DOUBLE days —
    // the q108 rule), exact cents censuses, one running window over
    // the bounded cohort×age grid
    "q151_cohort_ltv" ->
      """WITH base AS (
        |  SELECT user_id AS u,
        |    CAST(floor(CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) / 7) AS BIGINT) AS b,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |pub AS (SELECT u, b, CAST(SUM(c) AS BIGINT) AS cents FROM base GROUP BY 1, 2),
        |fb AS (SELECT u, MIN(b) AS fb FROM pub GROUP BY 1),
        |grid AS (
        |  SELECT fb.fb AS cohort, pub.b - fb.fb AS age,
        |    CAST(count(*) AS BIGINT) AS active_units,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM pub JOIN fb ON pub.u = fb.u GROUP BY 1, 2),
        |cs AS (SELECT fb AS cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM fb GROUP BY 1),
        |w AS (
        |  SELECT g.cohort, g.age, cs.cohort_size, g.active_units, g.cents,
        |    CAST(SUM(g.cents) OVER (PARTITION BY g.cohort ORDER BY g.age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM grid g JOIN cs ON g.cohort = cs.cohort)
        |SELECT cohort, age, cohort_size, active_units, cents, cum_cents,
        |  round(CAST(cum_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS ltv_cents_per_unit
        |FROM w ORDER BY cohort, age""".stripMargin,

    // q136: the digit census replays from the same exact cents; the
    // nine Benford constants embed as 17-sig-digit literals of the
    // SAME Scala-computed doubles the Spark columns carry
    "q136_benford" -> {
      // scientific notation, NOT %.17g: DuckDB types an e-notation
      // literal DOUBLE and parses it correctly rounded, while a bare
      // decimal literal becomes DECIMAL(19,18) whose decimal→double
      // conversion is 1 ulp off once the digits exceed 2^53 (found
      // by this query's first gate run)
      def f(v: Double) = String.format(java.util.Locale.ROOT, "%.17e", Double.box(v))
      val caseP = graft.api.Ops.benfordExpected.zipWithIndex
        .map { case (p, i) => s"WHEN ${i + 1} THEN ${f(p)}" }.mkString(" ")
      s"""WITH c AS (
         |  SELECT o_orderpriority,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |obs AS (
         |  SELECT o_orderpriority,
         |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |    count(*) AS obs
         |  FROM c WHERE cents > 0 GROUP BY 1, 2),
         |tot AS (
         |  SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS n FROM obs GROUP BY 1),
         |dig AS (
         |  SELECT CAST(x AS BIGINT) AS digit
         |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) v(x)),
         |grid AS (
         |  SELECT t.o_orderpriority, d.digit, COALESCE(o.obs, 0) AS obs, t.n
         |  FROM tot t CROSS JOIN dig d
         |  LEFT JOIN obs o ON o.o_orderpriority = t.o_orderpriority AND o.digit = d.digit),
         |s AS (
         |  SELECT *, CASE digit $caseP END AS expected_p FROM grid)
         |SELECT o_orderpriority, digit, obs, n, expected_p,
         |  round((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * expected_p) *
         |        (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * expected_p) /
         |        (CAST(n AS DOUBLE) * expected_p), 6) AS chi2_contrib
         |FROM s ORDER BY o_orderpriority, digit""".stripMargin
    },

    // q137: both lower medians replay by the same rank selection;
    // everything stays BIGINT so the gate hashes exactly
    "q137_mad_outliers" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus ORDER BY cents) AS rn,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM c WHERE cents IS NOT NULL),
        |med AS (
        |  SELECT o_orderstatus, min(cents) AS med FROM r1
        |  WHERE rn = (n + 1) // 2 GROUP BY 1),
        |d AS (
        |  SELECT c.o_orderkey, c.o_orderstatus, c.cents, med.med,
        |         abs(c.cents - med.med) AS dev
        |  FROM c LEFT JOIN med ON c.o_orderstatus = med.o_orderstatus),
        |r2 AS (
        |  SELECT o_orderstatus, dev, row_number() OVER (PARTITION BY o_orderstatus ORDER BY dev) AS rn2,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS n2
        |  FROM d WHERE dev IS NOT NULL),
        |mad AS (
        |  SELECT o_orderstatus, min(dev) AS mad FROM r2
        |  WHERE rn2 = (n2 + 1) // 2 GROUP BY 1)
        |SELECT d.o_orderkey, d.o_orderstatus, d.cents, d.med, mad.mad, d.dev,
        |  CASE WHEN d.dev IS NOT NULL THEN d.dev > 3 * mad.mad END AS outlier
        |FROM d LEFT JOIN mad ON d.o_orderstatus = mad.o_orderstatus
        |ORDER BY d.o_orderkey""".stripMargin,

    // q133: the census replays exactly; cosine is the one double,
    // written in the identical op order (CAST → multiply → sqrt →
    // divide), so the rank window orders identical bits
    "q133_item_similarity" ->
      """WITH ei AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |icnt AS (SELECT p AS it, count(*) AS n FROM ei GROUP BY 1),
        |pc AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS co
        |  FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir AS (
        |  SELECT a AS item, b AS other, co FROM pc
        |  UNION ALL SELECT b AS item, a AS other, co FROM pc),
        |j AS (
        |  SELECT d.item, d.other, d.co, ia.n AS n_item, ib.n AS n_other,
        |    CAST(d.co AS DOUBLE) / sqrt(CAST(ia.n * ib.n AS DOUBLE)) AS cos
        |  FROM dir d JOIN icnt ia ON d.item = ia.it JOIN icnt ib ON d.other = ib.it),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY item ORDER BY cos DESC, other) AS rnk
        |  FROM j)
        |SELECT item, other, co, n_item, n_other, round(cos, 6) AS cosine, rnk
        |FROM r WHERE rnk <= 5 ORDER BY item, rnk""".stripMargin,

    // q138: the oracle brute-forces the exact predicate over the
    // same hash-derived grid — the grid-bucketed candidates are
    // output-identical by the 3x3 coverage argument
    "q138_spatial_join" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST('0x' || substr(md5('cgx:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS cx,
        |    CAST('0x' || substr(md5('cgy:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS cy
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST('0x' || substr(md5('sgx:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS sx,
        |    CAST('0x' || substr(md5('sgy:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS sy
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey, cx, cy, sx, sy,
        |  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
        |FROM c CROSS JOIN s
        |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 16000000
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    // q144: brute-force candidates (output-identical to the grid by
    // the q138 coverage argument) + the same (dist2, id) rank window
    "q144_knn" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST('0x' || substr(md5('cgx:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS cx,
        |    CAST('0x' || substr(md5('cgy:' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS cy
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST('0x' || substr(md5('sgx:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS sx,
        |    CAST('0x' || substr(md5('sgy:' || CAST(s_suppkey AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS sy
        |  FROM supplier),
        |cand AS (
        |  SELECT c_custkey, s_suppkey,
        |    (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
        |  FROM c CROSS JOIN s
        |  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 36000000),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY dist2, s_suppkey) AS BIGINT) AS rnk
        |  FROM cand)
        |SELECT c_custkey, s_suppkey, dist2, rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY c_custkey, rnk""".stripMargin,

    // q145: the same blocked join + exact weighted-agreement sum;
    // the dirty copy re-derives with identical string ops (upper /
    // substr / || are portable)
    "q145_linkage" ->
      """WITH base AS (
        |  SELECT c_custkey, c_nationkey, c_name, c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |l AS (
        |  SELECT c_custkey AS a_id, c_nationkey AS nat,
        |    substr(c_name, 10, 3) AS pfx, c_name AS name, cents,
        |    c_mktsegment AS mkt
        |  FROM base),
        |r AS (
        |  SELECT c_custkey AS b_id, c_nationkey AS nat,
        |    substr(c_name, 10, 3) AS pfx,
        |    CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 5 = 0 THEN cents + 1 ELSE cents END AS cents,
        |    c_mktsegment AS mkt
        |  FROM base),
        |s AS (
        |  SELECT l.a_id, r.b_id,
        |    l.name IS NOT NULL AND l.name = r.name AS m_l_name,
        |    l.cents IS NOT NULL AND l.cents = r.cents AS m_l_cents,
        |    l.mkt IS NOT NULL AND l.mkt = r.mkt AS m_l_mkt
        |  FROM l JOIN r ON l.nat = r.nat AND l.pfx = r.pfx),
        |sc AS (
        |  SELECT *, CAST(
        |    (CASE WHEN m_l_name THEN 4 ELSE 0 END) +
        |    (CASE WHEN m_l_cents THEN 3 ELSE 0 END) +
        |    (CASE WHEN m_l_mkt THEN 1 ELSE 0 END) AS BIGINT) AS score
        |  FROM s)
        |SELECT a_id, b_id, m_l_name, m_l_cents, m_l_mkt, score
        |FROM sc WHERE score >= 4
        |ORDER BY a_id, b_id""".stripMargin,

    // q146: the same census → at-risk subtraction → running
    // exp(Σ ln((n−e)/n)) product-limit windows; ln/exp on the fixed
    // shape (the q48/q73 portability precedent); the dead pin at 0
    "q146_survival" ->
      """WITH pu AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
        |u AS (
        |  SELECT c_mktsegment AS g, CAST(ld - fd AS BIGINT) AS duration,
        |    ld <= mx - 7 AS ev
        |  FROM pu JOIN customer ON c_custkey = user_id CROSS JOIN mx),
        |census AS (
        |  SELECT g, duration,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
        |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM u GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(SUM(n_event + n_censored) OVER (PARTITION BY g) -
        |    COALESCE(SUM(n_event + n_censored) OVER (PARTITION BY g ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM census),
        |w2 AS (
        |  SELECT *,
        |    CASE WHEN n_event > 0 AND n_event < n_risk
        |      THEN ln(CAST(n_risk - n_event AS DOUBLE) / CAST(n_risk AS DOUBLE)) END AS term,
        |    MAX(CASE WHEN n_event >= n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g ORDER BY duration
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM w),
        |w3 AS (
        |  SELECT *, CASE WHEN dead = 1 THEN CAST(0.0 AS DOUBLE)
        |    ELSE round(exp(COALESCE(SUM(term) OVER (PARTITION BY g ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), CAST(0.0 AS DOUBLE))), 6)
        |  END AS survival
        |  FROM w2)
        |SELECT g AS c_mktsegment, duration, n_risk, n_event, n_censored, survival
        |FROM w3 ORDER BY 1, 2""".stripMargin,

    // q147: the same running-max island detection over the same
    // (start, end) sort; every measure exact integers, one fixed
    // division for the ratio
    "q147_coverage" ->
      """WITH iv AS (
        |  SELECT user_id AS k, epoch_us(ts) AS s,
        |    epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
        |  FROM events),
        |w AS (
        |  SELECT *, MAX(e) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS me
        |  FROM iv),
        |f AS (SELECT *, CASE WHEN me IS NULL OR s > me THEN 1 ELSE 0 END AS nw FROM w),
        |g AS (
        |  SELECT *, SUM(nw) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM f),
        |i AS (SELECT k, isl, count(*) AS cnt, MIN(s) AS st, MAX(e) AS en
        |  FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT k AS user_id, CAST(SUM(cnt) AS BIGINT) AS n_intervals,
        |    CAST(count(*) AS BIGINT) AS n_merged,
        |    CAST(SUM(en - st) AS BIGINT) AS covered,
        |    CAST(MAX(en) - MIN(st) AS BIGINT) AS span
        |  FROM i GROUP BY 1)
        |SELECT user_id, n_intervals, n_merged, covered, span,
        |  CASE WHEN span > 0
        |    THEN round(CAST(covered AS DOUBLE) / CAST(span AS DOUBLE), 6) END AS coverage
        |FROM r ORDER BY user_id""".stripMargin,

    // q148: the same desc-rank cumulative window; the A/B/C tests are
    // pure integer comparisons on cents — no double threshold anywhere
    "q148_abc" ->
      """WITH ent AS (
        |  SELECT o_orderstatus AS g, o_custkey AS e,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |  FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL AND o_totalprice >= 0
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(SUM(v) OVER (PARTITION BY g ORDER BY v DESC, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(v) OVER (PARTITION BY g) AS BIGINT) AS tot
        |  FROM ent),
        |c AS (SELECT *, cum - v AS bef FROM w)
        |SELECT g AS o_orderstatus, e AS o_custkey, v AS cents,
        |  CASE WHEN bef * 5 < tot * 4 THEN 'A'
        |       WHEN bef * 20 < tot * 19 THEN 'B' ELSE 'C' END AS abc_class,
        |  CASE WHEN tot > 0 THEN round(CAST(v AS DOUBLE) / CAST(tot AS DOUBLE), 6) END AS share,
        |  CASE WHEN tot > 0 THEN round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) END AS cum_share
        |FROM c ORDER BY 1, 2""".stripMargin,

    // q139: the same two ignore-null last_value carries over the same
    // (us, event_id) window, the same 7-day gate, exact cents/µs sums
    "q139_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    epoch_us(ts) AS us
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_us,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_t
        |  FROM e),
        |conv AS (
        |  SELECT *,
        |    CASE WHEN lt_us IS NOT NULL AND lt_us >= us - 604800000000 THEN lt_t END AS ch
        |  FROM w WHERE event_type = 'purchase')
        |SELECT COALESCE(ch, 'direct') AS channel,
        |  count(*) AS n_conversions,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(SUM(CASE WHEN ch IS NOT NULL THEN us - lt_us END) AS BIGINT) AS latency_us_total
        |FROM conv GROUP BY 1 ORDER BY channel""".stripMargin,

    // q152: the q139 carries re-read for latency; median/p90 by the
    // same integer rank selections ((n+1) div 2, (9n+9) div 10) over
    // the (gap, event_id) sort — real data values, no interpolation
    "q152_conv_latency" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_us,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_t
        |  FROM e),
        |cr AS (
        |  SELECT event_id, lt_t AS channel, us - lt_us AS gap
        |  FROM w
        |  WHERE event_type = 'purchase' AND lt_us IS NOT NULL
        |    AND lt_us >= us - 604800000000),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY channel
        |      ORDER BY gap, event_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY channel) AS BIGINT) AS n
        |  FROM cr),
        |agg AS (
        |  SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
        |    CAST(SUM(gap) // count(*) AS BIGINT) AS mean_gap_us
        |  FROM cr GROUP BY 1),
        |med AS (SELECT channel, CAST(gap AS BIGINT) AS median_gap_us
        |  FROM r WHERE rn = (n + 1) // 2),
        |p90 AS (SELECT channel, CAST(gap AS BIGINT) AS p90_gap_us
        |  FROM r WHERE rn = (9 * n + 9) // 10)
        |SELECT agg.channel, n_conversions, mean_gap_us, median_gap_us, p90_gap_us
        |FROM agg JOIN med ON agg.channel = med.channel
        |JOIN p90 ON agg.channel = p90.channel
        |ORDER BY agg.channel""".stripMargin,

    // q153: the same census → first-day min → day classification;
    // returning share is the only double, one fixed division
    "q153_new_returning" ->
      """WITH census AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT u, MIN(day) AS fd FROM census GROUP BY 1),
        |j AS (SELECT census.day, census.u, fd.fd FROM census JOIN fd ON census.u = fd.u),
        |a AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS active_units,
        |    CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS new_units,
        |    CAST(SUM(CASE WHEN day <> fd THEN 1 ELSE 0 END) AS BIGINT) AS returning_units
        |  FROM j GROUP BY 1)
        |SELECT day, active_units, new_units, returning_units,
        |  round(CAST(returning_units AS DOUBLE) / CAST(active_units AS DOUBLE), 6) AS returning_share
        |FROM a ORDER BY day""".stripMargin,

    // q154: brute-force pair replay — output-identical to the
    // one-owner day blocking by the q138 coverage argument; exact
    // cents equality, oriented a < b
    "q154_dup_payments" ->
      """WITH base AS (
        |  SELECT event_id AS id, CAST(ts AS DATE) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL)
        |SELECT a.id AS a_id, b.id AS b_id, a.cents,
        |  a.day AS a_day, b.day AS b_day
        |FROM base a JOIN base b
        |  ON a.cents = b.cents AND a.id < b.id
        | AND abs(a.day - b.day) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    // q155: the same bucket censuses completed over the union,
    // add-one-smoothed exact rationals, the same (pa−pb)·ln(pa/pb)
    // tree rounded at 12, decimal-summed total rounded at 6
    "q155_psi_drift" ->
      """WITH src AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bucket,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |ca AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_base FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_cur FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS na FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00'),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00'),
        |j AS (
        |  SELECT COALESCE(ca.bucket, cb.bucket) AS bucket,
        |    COALESCE(c_base, 0) AS c_base, COALESCE(c_cur, 0) AS c_cur, na.na, nb.nb
        |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
        |  CROSS JOIN na CROSS JOIN nb),
        |p AS (
        |  SELECT *, CAST(count(*) OVER () AS BIGINT) AS b FROM j),
        |q AS (
        |  SELECT bucket, c_base, c_cur,
        |    CAST(c_base + 1 AS DOUBLE) / CAST(na + b AS DOUBLE) AS pa,
        |    CAST(c_cur + 1 AS DOUBLE) / CAST(nb + b AS DOUBLE) AS pb
        |  FROM p),
        |t AS (
        |  SELECT *, round((pa - pb) * ln(pa / pb), 12) AS term FROM q)
        |SELECT bucket, c_base, c_cur,
        |  round(pa, 12) AS p_base, round(pb, 12) AS p_cur, term,
        |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER () AS DOUBLE), 6) AS psi
        |FROM t ORDER BY bucket""".stripMargin,

    // q156: the same merged value census, running CDFs, and the
    // DECIMAL cross-multiplied argmax — no double decides the gap;
    // one division + round(6) at the very end
    "q156_ks" ->
      """WITH src AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |w AS (
        |  SELECT v, ca, cb,
        |    CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
        |    CAST(SUM(cb) OVER () AS BIGINT) AS n_b,
        |    CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        |  FROM m),
        |g AS (
        |  SELECT *, CAST(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
        |    CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS d_num
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY d_num DESC, v) AS rk FROM g)
        |SELECT n_a, n_b, CAST(d_num AS BIGINT) AS d_num, v AS at_value,
        |  round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat
        |FROM r WHERE rk = 1""".stripMargin,

    // q157: the same merged census, the same ca·(2S+m+1) double-rank
    // identity in DECIMAL, the same tie-corrected z tree
    "q157_mann_whitney" ->
      """WITH src AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |w AS (
        |  SELECT *, ca + cb AS mm,
        |    COALESCE(CAST(SUM(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2a,
        |    CAST(SUM(CAST(mm AS DECIMAL(12,0)) * CAST(mm AS DECIMAL(12,0)) *
        |      CAST(mm AS DECIMAL(12,0)) - CAST(mm AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS tie
        |  FROM w),
        |f AS (
        |  SELECT n_a, n_b,
        |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
        |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE) *
        |      ((CAST(n_a + n_b AS DOUBLE) + CAST(1 AS DOUBLE)) -
        |        CAST(tie AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
        |  FROM agg)
        |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND var > 0 THEN
        |    round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |      (CAST(2 AS DOUBLE) * sqrt(var)), 6) END AS z
        |FROM f""".stripMargin,

    // q158: the q156 replay with every census, window, and argmax
    // keyed by o_orderpriority — one row per segment
    "q158_ks_by_group" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |ca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |cb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |m AS (
        |  SELECT COALESCE(ca.grp, cb.grp) AS grp, COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.grp = cb.grp AND ca.v = cb.v),
        |w AS (
        |  SELECT grp, v, ca, cb,
        |    CAST(SUM(ca) OVER (PARTITION BY grp) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) OVER (PARTITION BY grp) AS BIGINT) AS n_b,
        |    CAST(SUM(ca) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        |  FROM m),
        |g AS (
        |  SELECT *, CAST(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
        |    CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS d_num
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY d_num DESC, v) AS rk FROM g)
        |SELECT grp, n_a, n_b, CAST(d_num AS BIGINT) AS d_num, v AS at_value,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS d_stat
        |FROM r WHERE rk = 1 ORDER BY grp""".stripMargin,

    // q159: the q157 double-rank identities keyed by o_orderpriority
    "q159_mwu_by_group" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |ca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |cb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |m AS (
        |  SELECT COALESCE(ca.grp, cb.grp) AS grp, COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.grp = cb.grp AND ca.v = cb.v),
        |w AS (
        |  SELECT *, ca + cb AS mm,
        |    COALESCE(CAST(SUM(ca + cb) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM m),
        |agg AS (
        |  SELECT grp, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2a,
        |    CAST(SUM(CAST(mm AS DECIMAL(12,0)) * CAST(mm AS DECIMAL(12,0)) *
        |      CAST(mm AS DECIMAL(12,0)) - CAST(mm AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS tie
        |  FROM w GROUP BY 1),
        |f AS (
        |  SELECT grp, n_a, n_b,
        |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
        |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE) *
        |      ((CAST(n_a + n_b AS DOUBLE) + CAST(1 AS DOUBLE)) -
        |        CAST(tie AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
        |  FROM agg)
        |SELECT grp, n_a, n_b, CAST(u2 AS BIGINT) AS u2,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND var > 0 THEN
        |    round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |      (CAST(2 AS DOUBLE) * sqrt(var)), 6) END AS z
        |FROM f ORDER BY grp""".stripMargin,

    // q160: the q155 Laplace-smoothed census with every total and
    // the term sum keyed by o_orderpriority — per-group totals come
    // off the joined census (no scalar cross joins in the keyed form)
    "q160_psi_by_group" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bkt,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |base AS (SELECT grp, bkt AS bucket, CAST(count(*) AS BIGINT) AS c_base FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |cur AS (SELECT grp, bkt AS bucket, CAST(count(*) AS BIGINT) AS c_cur FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(base.grp, cur.grp) AS grp,
        |    COALESCE(base.bucket, cur.bucket) AS bucket,
        |    COALESCE(c_base, 0) AS c_base, COALESCE(c_cur, 0) AS c_cur
        |  FROM base FULL OUTER JOIN cur
        |    ON base.grp = cur.grp AND base.bucket = cur.bucket),
        |p AS (
        |  SELECT *, CAST(SUM(c_base) OVER (PARTITION BY grp) AS BIGINT) AS na,
        |    CAST(SUM(c_cur) OVER (PARTITION BY grp) AS BIGINT) AS nb,
        |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS b
        |  FROM j),
        |q AS (
        |  SELECT grp, bucket, c_base, c_cur,
        |    CAST(c_base + 1 AS DOUBLE) / CAST(na + b AS DOUBLE) AS pa,
        |    CAST(c_cur + 1 AS DOUBLE) / CAST(nb + b AS DOUBLE) AS pb
        |  FROM p),
        |t AS (
        |  SELECT *, round((pa - pb) * ln(pa / pb), 12) AS term FROM q)
        |SELECT grp, bucket, c_base, c_cur,
        |  round(pa, 12) AS p_base, round(pb, 12) AS p_cur, term,
        |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER (PARTITION BY grp) AS DOUBLE), 6) AS psi
        |FROM t ORDER BY grp, bucket""".stripMargin,

    // q161: the q157 census/prior-count machinery with the per-group
    // double-rank sums, the HUGEINT divmod split of Σ R²/n (exact
    // quotient + O(1) remainder ratios — Spark's decimal divmod is
    // value-identical), and the fixed H / tie-correction tree
    "q161_kruskal_wallis" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |cg AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2),
        |mv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS m FROM cg GROUP BY 1),
        |mvs AS (
        |  SELECT v, m, COALESCE(CAST(SUM(m) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM mv),
        |per AS (
        |  SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(s * 2 + m + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2
        |  FROM cg JOIN mvs USING (v) GROUP BY 1),
        |sc AS (
        |  SELECT CAST(SUM(CAST(m AS DECIMAL(12,0)) * CAST(m AS DECIMAL(12,0)) *
        |      CAST(m AS DECIMAL(12,0)) - CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie,
        |    CAST(SUM(m) AS BIGINT) AS n_total
        |  FROM mv),
        |pq AS (
        |  SELECT per.*, sc.tie, sc.n_total,
        |    CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) AS rsq,
        |    CAST(n AS HUGEINT) * 4 AS den
        |  FROM per CROSS JOIN sc),
        |pq2 AS (SELECT *, (rsq - rsq % den) // den AS q, rsq % den AS rem FROM pq),
        |w AS (
        |  SELECT *, CAST(SUM(q) OVER () AS DOUBLE) AS qsum,
        |    CAST(SUM(CAST(round(CAST(rem AS DOUBLE) / CAST(den AS DOUBLE), 12)
        |      AS DECIMAL(38,12))) OVER () AS DOUBLE) AS fsum,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS k_groups
        |  FROM pq2),
        |f AS (
        |  SELECT *,
        |    CAST(12 AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)))
        |      * (qsum + fsum) - CAST(3 AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)) AS hraw,
        |    CASE WHEN n_total > 1 THEN CAST(1 AS DOUBLE) - CAST(tie AS DOUBLE) /
        |      CAST(CAST(n_total AS HUGEINT) * n_total * n_total - n_total AS DOUBLE) END AS cc
        |  FROM w)
        |SELECT grp, n, CAST(r2 AS BIGINT) AS r2, n_total, k_groups,
        |  round(hraw, 6) AS h,
        |  CASE WHEN cc > 0 THEN round(hraw / cc, 6) END AS h_adj
        |FROM f ORDER BY grp""".stripMargin,

    // q162: exact decimal moments per era, the same fixed
    // mean/variance/t/Welch-df double tree in the same op order
    "q162_welch_t" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
        |f AS (
        |  SELECT *,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
        |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
        |  FROM a CROSS JOIN b)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
        |    round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
        |    round((vna + vnb) * (vna + vnb) /
        |      (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
        |       vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
        |FROM f""".stripMargin,

    // q163: the doubled-average-rank identity per variable census,
    // exact decimal rank moments, fixed Pearson-on-ranks tree
    "q163_spearman" ->
      """WITH src AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vx,
        |    CAST(floor(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS DOUBLE)
        |      / 86400000000) AS BIGINT) AS vy
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |cx AS (SELECT vx, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1),
        |rx AS (
        |  SELECT vx, COALESCE(CAST(SUM(m) OVER (ORDER BY vx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS ux
        |  FROM cx),
        |cy AS (SELECT vy, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1),
        |ry AS (
        |  SELECT vy, COALESCE(CAST(SUM(m) OVER (ORDER BY vy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS uy
        |  FROM cy),
        |j AS (
        |  SELECT s.vx, s.vy, rx.ux, ry.uy FROM src s
        |  JOIN rx ON s.vx = rx.vx JOIN ry ON s.vy = ry.vy),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS su,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suu,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS svv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suv
        |  FROM j)
        |SELECT n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
        |  END AS rho
        |FROM agg""".stripMargin,

    // q177: the q161 census/divmod/H machinery with every window and
    // the tie/N scalars keyed by o_orderpriority (keyed hash join,
    // no scalar cross joins in the keyed form)
    "q177_kw_by_group" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS seg, o_orderstatus AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        |cg AS (SELECT seg, grp, v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
        |mv AS (SELECT seg, v, CAST(SUM(c) AS BIGINT) AS m FROM cg GROUP BY 1, 2),
        |mvs AS (
        |  SELECT seg, v, m, COALESCE(CAST(SUM(m) OVER (PARTITION BY seg ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM mv),
        |per AS (
        |  SELECT seg, grp, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(s * 2 + m + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2
        |  FROM cg JOIN mvs USING (seg, v) GROUP BY 1, 2),
        |sc AS (
        |  SELECT seg, CAST(SUM(CAST(m AS DECIMAL(12,0)) * CAST(m AS DECIMAL(12,0)) *
        |      CAST(m AS DECIMAL(12,0)) - CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie,
        |    CAST(SUM(m) AS BIGINT) AS n_total
        |  FROM mv GROUP BY 1),
        |pq AS (
        |  SELECT per.*, sc.tie, sc.n_total,
        |    CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) AS rsq,
        |    CAST(n AS HUGEINT) * 4 AS den
        |  FROM per JOIN sc USING (seg)),
        |pq2 AS (SELECT *, (rsq - rsq % den) // den AS q, rsq % den AS rem FROM pq),
        |w AS (
        |  SELECT *, CAST(SUM(q) OVER (PARTITION BY seg) AS DOUBLE) AS qsum,
        |    CAST(SUM(CAST(round(CAST(rem AS DOUBLE) / CAST(den AS DOUBLE), 12)
        |      AS DECIMAL(38,12))) OVER (PARTITION BY seg) AS DOUBLE) AS fsum,
        |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS k_groups
        |  FROM pq2),
        |f AS (
        |  SELECT *,
        |    CAST(12 AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)))
        |      * (qsum + fsum) - CAST(3 AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)) AS hraw,
        |    CASE WHEN n_total > 1 THEN CAST(1 AS DOUBLE) - CAST(tie AS DOUBLE) /
        |      CAST(CAST(n_total AS HUGEINT) * n_total * n_total - n_total AS DOUBLE) END AS cc
        |  FROM w)
        |SELECT seg, grp, n, CAST(r2 AS BIGINT) AS r2, n_total, k_groups,
        |  round(hraw, 6) AS h,
        |  CASE WHEN cc > 0 THEN round(hraw / cc, 6) END AS h_adj
        |FROM f ORDER BY seg, grp""".stripMargin,

    // q178: the q163 doubled-rank censuses and moment sums with every
    // window, join, and the finishing aggregate keyed by l_returnflag
    "q178_spearman_by_group" ->
      """WITH src AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vx,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS vy
        |  FROM lineitem WHERE l_returnflag IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cx AS (SELECT grp, vx, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
        |rx AS (
        |  SELECT grp, vx, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS ux
        |  FROM cx),
        |cy AS (SELECT grp, vy, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
        |ry AS (
        |  SELECT grp, vy, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS uy
        |  FROM cy),
        |j AS (
        |  SELECT s.grp, rx.ux, ry.uy FROM src s
        |  JOIN rx ON s.grp = rx.grp AND s.vx = rx.vx
        |  JOIN ry ON s.grp = ry.grp AND s.vy = ry.vy),
        |agg AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS su,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suu,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS svv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suv
        |  FROM j GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
        |  END AS rho
        |FROM agg ORDER BY grp""".stripMargin,

    // q179: the q156 machinery over the $10k BUCKET census — bucket =
    // floor(cents/1e6), the q108 portable IEEE-division recipe
    "q179_ks_sketch" ->
      """WITH src AS (
        |  SELECT CAST(floor(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |w AS (
        |  SELECT v, ca, cb,
        |    CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
        |    CAST(SUM(cb) OVER () AS BIGINT) AS n_b,
        |    CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        |  FROM m),
        |g AS (
        |  SELECT *, CAST(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
        |    CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS d_num
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY d_num DESC, v) AS rk FROM g)
        |SELECT n_a, n_b, CAST(d_num AS BIGINT) AS d_num, v AS at_bucket,
        |  round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat
        |FROM r WHERE rk = 1""".stripMargin,

    // q180: the q167 integer half-total selection over the $1k BUCKET
    // census, with the midpoint readout
    "q180_wmedian_sketch" ->
      """WITH src AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(100000 AS DOUBLE)) AS BIGINT) AS v,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        |  FROM lineitem WHERE l_returnflag IS NOT NULL
        |    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0),
        |cen AS (SELECT g, v, CAST(SUM(w) AS BIGINT) AS cw,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM src GROUP BY 1, 2),
        |r AS (
        |  SELECT g, v,
        |    CAST(SUM(cw) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(cw) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    CAST(SUM(cn) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM cen),
        |f AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v) AS rk
        |  FROM r WHERE cum * 2 >= tot)
        |SELECT g AS l_returnflag, n AS n_rows, tot AS total_weight_cents,
        |  v AS w_median_bucket, v * 100000 + 50000 AS w_median_mid
        |FROM f WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,

    // q181: exact arm census, declared-weight frame, (obs-Nw)^2/(Nw)
    // fixed shape, rounded contribs decimal-summed to integer micros
    "q181_srm_check" ->
      """WITH cen AS (
        |  SELECT o_orderpriority AS arm, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1),
        |decl AS (SELECT * FROM (VALUES
        |  ('1-URGENT', CAST(0.2 AS DOUBLE)), ('2-HIGH', CAST(0.2 AS DOUBLE)),
        |  ('3-MEDIUM', CAST(0.2 AS DOUBLE)), ('4-NOT SPECIFIED', CAST(0.2 AS DOUBLE)),
        |  ('5-LOW', CAST(0.2 AS DOUBLE))) AS t(arm, weight)),
        |j AS (
        |  SELECT COALESCE(cen.arm, decl.arm) AS arm,
        |    COALESCE(n_obs, 0) AS n_obs, weight
        |  FROM cen FULL OUTER JOIN decl ON cen.arm = decl.arm),
        |w AS (
        |  SELECT *, CAST(SUM(CASE WHEN weight IS NOT NULL THEN n_obs END)
        |    OVER () AS DOUBLE) * weight AS e
        |  FROM j),
        |c AS (
        |  SELECT *, CASE WHEN weight IS NOT NULL AND e > 0 THEN
        |    round((CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e, 6)
        |  END AS contrib
        |  FROM w)
        |SELECT arm, n_obs, weight, round(e, 6) AS expected, contrib,
        |  CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,6))) OVER () AS DECIMAL(38,6))
        |    * 1000000 AS BIGINT) AS chi2_micros,
        |  CAST(COUNT(weight) OVER () - 1 AS BIGINT) AS dof
        |FROM c ORDER BY arm""".stripMargin,

    // q184: per-era exact cent totals, within-era deterministic
    // ranks, full-outer entity join, either-side top-N filter
    "q184_rank_movers" ->
      """WITH a AS (
        |  SELECT o_custkey AS entity,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_a_cents
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND o_orderdate IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |b AS (
        |  SELECT o_custkey AS entity,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_b_cents
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |    AND o_orderdate IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |ra AS (SELECT *, CAST(row_number() OVER (ORDER BY total_a_cents DESC, entity)
        |  AS BIGINT) AS rank_a FROM a),
        |rb AS (SELECT *, CAST(row_number() OVER (ORDER BY total_b_cents DESC, entity)
        |  AS BIGINT) AS rank_b FROM b),
        |j AS (
        |  SELECT COALESCE(ra.entity, rb.entity) AS entity,
        |    total_a_cents, rank_a, total_b_cents, rank_b
        |  FROM ra FULL OUTER JOIN rb ON ra.entity = rb.entity)
        |SELECT entity, total_a_cents, rank_a, total_b_cents, rank_b,
        |  CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
        |    THEN rank_a - rank_b END AS rank_delta
        |FROM j WHERE rank_a <= 50 OR rank_b <= 50
        |ORDER BY entity""".stripMargin,

    // q185: the q108 census/ceil-rank/midpoint machinery per era +
    // the per-quantile delta (quantile literals CAST to DOUBLE, the
    // q108 rule; the ±2^62 range guard mirrored exactly)
    "q185_quantile_drift" -> {
      def census(pre: String, eraPred: String) =
        s"""${pre}r AS (
           |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 64.0) AS BIGINT) AS b,
           |         COUNT(*) AS n
           |  FROM orders
           |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL AND $eraPred
           |    AND CAST(o_totalprice AS DOUBLE) / 64.0
           |      BETWEEN -CAST(4611686018427387904 AS DOUBLE)
           |          AND CAST(4611686018427387904 AS DOUBLE)
           |  GROUP BY 1),
           |${pre}c AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum,
           |            SUM(n) OVER () AS tot FROM ${pre}r),
           |${pre}q AS (
           |  SELECT
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.1 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b10,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.5 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b50,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.9 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b90,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.99 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b99
           |  FROM ${pre}c)""".stripMargin
      s"""WITH ${census("a", "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")},
         |${census("b", "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'")}
         |SELECT quantile, value_a, value_b, value_b - value_a AS delta FROM (
         |  SELECT 'p10' AS quantile,
         |    (CAST(aq.b10 AS DOUBLE) + 0.5) * 64.0 AS value_a,
         |    (CAST(bq.b10 AS DOUBLE) + 0.5) * 64.0 AS value_b
         |  FROM aq CROSS JOIN bq
         |  UNION ALL SELECT 'p50',
         |    (CAST(aq.b50 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(bq.b50 AS DOUBLE) + 0.5) * 64.0 FROM aq CROSS JOIN bq
         |  UNION ALL SELECT 'p90',
         |    (CAST(aq.b90 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(bq.b90 AS DOUBLE) + 0.5) * 64.0 FROM aq CROSS JOIN bq
         |  UNION ALL SELECT 'p99',
         |    (CAST(aq.b99 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(bq.b99 AS DOUBLE) + 0.5) * 64.0 FROM aq CROSS JOIN bq)
         |ORDER BY quantile""".stripMargin
    },

    // q182: the q155 bucket census WITHOUT smoothing; each bucket's
    // half-terms gated on its own counts, round-12 decimal-summed
    "q182_js_divergence" ->
      """WITH src AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bkt,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |base AS (SELECT bkt AS bucket, CAST(count(*) AS BIGINT) AS c_base FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cur AS (SELECT bkt AS bucket, CAST(count(*) AS BIGINT) AS c_cur FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(base.bucket, cur.bucket) AS bucket,
        |    COALESCE(c_base, 0) AS c_base, COALESCE(c_cur, 0) AS c_cur
        |  FROM base FULL OUTER JOIN cur ON base.bucket = cur.bucket),
        |p AS (
        |  SELECT *, CAST(SUM(c_base) OVER () AS BIGINT) AS na,
        |    CAST(SUM(c_cur) OVER () AS BIGINT) AS nb
        |  FROM j),
        |q AS (
        |  SELECT *,
        |    CASE WHEN na > 0 THEN CAST(c_base AS DOUBLE) / CAST(na AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS pb,
        |    CASE WHEN nb > 0 THEN CAST(c_cur AS DOUBLE) / CAST(nb AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS pc
        |  FROM p),
        |t2 AS (
        |  SELECT *, round(
        |    (CASE WHEN c_base > 0 THEN CAST(0.5 AS DOUBLE) * pb *
        |      ln(pb / ((pb + pc) / CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END) +
        |    (CASE WHEN c_cur > 0 THEN CAST(0.5 AS DOUBLE) * pc *
        |      ln(pc / ((pb + pc) / CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END), 12) AS term
        |  FROM q)
        |SELECT bucket, c_base, c_cur,
        |  round(pb, 12) AS p_base, round(pc, 12) AS p_cur, term,
        |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER () AS DOUBLE), 6) AS js
        |FROM t2 ORDER BY bucket""".stripMargin,

    // q189: the q182 gated half-term tree with every census, total,
    // and the term sum keyed by o_orderpriority (the q160 keying —
    // no scalar cross joins in the keyed form)
    "q189_js_by_group" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bkt,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |base AS (SELECT grp, bkt AS bucket, CAST(count(*) AS BIGINT) AS c_base FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |cur AS (SELECT grp, bkt AS bucket, CAST(count(*) AS BIGINT) AS c_cur FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(base.grp, cur.grp) AS grp,
        |    COALESCE(base.bucket, cur.bucket) AS bucket,
        |    COALESCE(c_base, 0) AS c_base, COALESCE(c_cur, 0) AS c_cur
        |  FROM base FULL OUTER JOIN cur
        |    ON base.grp = cur.grp AND base.bucket = cur.bucket),
        |p AS (
        |  SELECT *, CAST(SUM(c_base) OVER (PARTITION BY grp) AS BIGINT) AS na,
        |    CAST(SUM(c_cur) OVER (PARTITION BY grp) AS BIGINT) AS nb
        |  FROM j),
        |q AS (
        |  SELECT *,
        |    CASE WHEN na > 0 THEN CAST(c_base AS DOUBLE) / CAST(na AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS pb,
        |    CASE WHEN nb > 0 THEN CAST(c_cur AS DOUBLE) / CAST(nb AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS pc
        |  FROM p),
        |t2 AS (
        |  SELECT *, round(
        |    (CASE WHEN c_base > 0 THEN CAST(0.5 AS DOUBLE) * pb *
        |      ln(pb / ((pb + pc) / CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END) +
        |    (CASE WHEN c_cur > 0 THEN CAST(0.5 AS DOUBLE) * pc *
        |      ln(pc / ((pb + pc) / CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END), 12) AS term
        |  FROM q)
        |SELECT grp, bucket, c_base, c_cur,
        |  round(pb, 12) AS p_base, round(pc, 12) AS p_cur, term,
        |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) OVER (PARTITION BY grp) AS DOUBLE), 6) AS js
        |FROM t2 ORDER BY grp, bucket""".stripMargin,

    // q190: the q47 token recipe -> exact census -> deterministic
    // rank -> round-12 ln terms decimal-summed -> the q119 fixed
    // least-squares tree
    "q190_zipf" -> {
      val n   = "CAST(fitted_ranks AS DOUBLE)"
      val covN  = s"($n * sxy - sx * sy)"
      val varXN = s"($n * sxx - sx * sx)"
      val varYN = s"($n * syy - sy * sy)"
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
         |                x -> x <> '')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |cen AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens_total,
         |  CAST(COUNT(*) AS BIGINT) AS vocab FROM cen),
         |rk0 AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rk
         |  FROM cen),
         |h AS (SELECT round(ln(CAST(rk AS DOUBLE)), 12) AS lx,
         |  round(ln(CAST(c AS DOUBLE)), 12) AS ly
         |  FROM rk0 WHERE rk <= 1000),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS fitted_ranks,
         |  CAST(SUM(CAST(lx AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(ly AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(round(lx * lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         |  CAST(SUM(CAST(round(ly * ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         |  CAST(SUM(CAST(round(lx * ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
         |  FROM h)
         |SELECT n_tokens_total, vocab, fitted_ranks,
         |  CASE WHEN $varXN > 0 THEN round($covN / $varXN, 6) END AS slope,
         |  CASE WHEN $varXN > 0 THEN
         |    round((sy - ($covN / $varXN) * sx) / $n, 6) END AS intercept,
         |  CASE WHEN $varXN > 0 AND $varYN > 0 THEN
         |    round($covN / sqrt($varXN * $varYN), 6) END AS r
         |FROM m CROSS JOIN tot""".stripMargin
    },

    // q183: the q162 exact moments + the fixed MDE tree; the z
    // constants embed as 17-digit e-notation literals from the SAME
    // Scala values the operator uses (the q136 rule)
    "q183_mde" -> {
      val z = String.format("(CAST(%.17e AS DOUBLE) + CAST(%.17e AS DOUBLE))",
        Double.box(graft.api.Ops.zAlpha025), Double.box(graft.api.Ops.zPower80))
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
         |b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
         |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
         |  FROM a CROSS JOIN b),
         |g AS (
         |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
         |  FROM f)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |  CASE WHEN n_a >= 2 THEN round(sqrt(va), 6) END AS sd_a,
         |  CASE WHEN n_b >= 2 THEN round(sqrt(vb), 6) END AS sd_b,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
         |    round($z * sqrt(se2), 6) END AS mde_abs,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 AND ma <> 0 THEN
         |    round($z * sqrt(se2) / ma, 6) END AS mde_rel
         |FROM g""".stripMargin
    },

    // q164: the q133 similarity CTEs verbatim, then basket join →
    // exact DECIMAL(9,6) score sums → anti-join seen → per-user rank
    "q164_recs_topn" ->
      """WITH ei AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |icnt AS (SELECT p AS it, count(*) AS n FROM ei GROUP BY 1),
        |pc AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS co
        |  FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir AS (
        |  SELECT a AS item, b AS other, co FROM pc
        |  UNION ALL SELECT b AS item, a AS other, co FROM pc),
        |sj AS (
        |  SELECT d.item, d.other,
        |    CAST(d.co AS DOUBLE) / sqrt(CAST(ia.n * ib.n AS DOUBLE)) AS cos
        |  FROM dir d JOIN icnt ia ON d.item = ia.it JOIN icnt ib ON d.other = ib.it),
        |rall AS (
        |  SELECT item, other, round(cos, 6) AS cosine,
        |    row_number() OVER (PARTITION BY item ORDER BY cos DESC, other) AS rnk
        |  FROM sj),
        |rtop AS (SELECT * FROM rall WHERE rnk <= 5),
        |ui AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_partkey % 4 = 0),
        |cand AS (
        |  SELECT ui.cust, r.other AS cand,
        |    CAST(SUM(CAST(r.cosine AS DECIMAL(9,6))) AS DECIMAL(38,6)) AS score,
        |    CAST(count(*) AS BIGINT) AS n_contributors
        |  FROM ui JOIN rtop r ON ui.p = r.item
        |  GROUP BY 1, 2),
        |unseen AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM ui WHERE ui.cust = c.cust AND ui.p = c.cand)),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY cust ORDER BY score DESC, cand) AS BIGINT) AS rnk
        |  FROM unseen)
        |SELECT cust, cand AS rec_item,
        |  CAST(score * 1000000 AS BIGINT) AS score_micros, n_contributors, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY cust, rnk""".stripMargin,

    // q165: distinct co-purchase edges → degree census → hub-capped
    // wedge join → common counts → anti-join existing edges → exact
    // Jaccard
    "q165_link_predict" ->
      """WITH ei AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |pr AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM ei x JOIN ei y ON x.ok = y.ok AND x.p < y.p),
        |adj AS (SELECT a AS n, b AS x FROM pr UNION ALL SELECT b AS n, a AS x FROM pr),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        |mids AS (
        |  SELECT adj.x AS mid, adj.n AS leaf
        |  FROM adj JOIN deg ON adj.x = deg.x WHERE deg.deg <= 1000),
        |cand AS (
        |  SELECT l.leaf AS a, r.leaf AS b, CAST(count(*) AS BIGINT) AS common
        |  FROM mids l JOIN mids r ON l.mid = r.mid AND l.leaf < r.leaf
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |unseen AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.a = c.a AND pr.b = c.b))
        |SELECT u.a, u.b, u.common, da.deg AS deg_a, db.deg AS deg_b,
        |  round(CAST(u.common AS DOUBLE) /
        |    CAST(da.deg + db.deg - u.common AS DOUBLE), 6) AS jaccard
        |FROM unseen u JOIN deg da ON u.a = da.x JOIN deg db ON u.b = db.x
        |ORDER BY u.a, u.b""".stripMargin,

    // q166: the q128 CUSUM ranked frame + per-key |stat| argmax with
    // the earliest-index tie rule; floor-divided segment means
    // (values non-negative — div and // agree)
    "q166_changepoint" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT user_id, event_id, us, c,
        |    CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS k
        |  FROM e),
        |st AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY user_id),
        |j AS (SELECT r.user_id, r.us, r.k, r.s, st.n, st.t, n * s - k * t AS stat
        |  FROM r JOIN st ON r.user_id = st.user_id),
        |a AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(stat) DESC, k) AS rk FROM j)
        |SELECT user_id, n AS n_points, k AS cp_index, us AS cp_us,
        |  CAST(stat AS BIGINT) AS stat,
        |  (s * 1000) // k AS mean_before_millicents,
        |  CASE WHEN n > k THEN ((t - s) * 1000) // (n - k) END AS mean_after_millicents
        |FROM a WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // q167: the (flag, price) weight census, integer half-total
    // selection — the smallest price with 2·cum ≥ total
    "q167_weighted_median" ->
      """WITH src AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        |  FROM lineitem WHERE l_returnflag IS NOT NULL
        |    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0),
        |cen AS (SELECT g, v, CAST(SUM(w) AS BIGINT) AS cw,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM src GROUP BY 1, 2),
        |r AS (
        |  SELECT g, v,
        |    CAST(SUM(cw) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(cw) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    CAST(SUM(cn) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM cen),
        |f AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v) AS rk
        |  FROM r WHERE cum * 2 >= tot)
        |SELECT g AS l_returnflag, n AS n_rows, tot AS total_weight_cents,
        |  v AS w_median
        |FROM f WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,

    // q168: the (priority, status) census, round-12 decimal-summed
    // −p·ln p terms, fixed normalization tree
    "q168_cat_entropy" ->
      """WITH cen AS (
        |  SELECT o_orderpriority AS g, o_orderstatus AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT g, c, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS k
        |  FROM cen),
        |t AS (
        |  SELECT *, round(-((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))), 12) AS term
        |  FROM w),
        |a AS (
        |  SELECT g, CAST(max(n) AS BIGINT) AS n_rows,
        |    CAST(max(k) AS BIGINT) AS k_categories,
        |    SUM(CAST(term AS DECIMAL(38,12))) AS hsum
        |  FROM t GROUP BY 1)
        |SELECT g AS o_orderpriority, n_rows, k_categories,
        |  round(CAST(hsum AS DOUBLE), 6) AS entropy,
        |  CASE WHEN k_categories > 1 THEN
        |    round(CAST(hsum AS DOUBLE) / ln(CAST(k_categories AS DOUBLE)), 6)
        |  END AS entropy_norm
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // q169: the q162 moment trees keyed by priority through a
    // full-outer merge
    "q169_welch_by_group" ->
      """WITH a AS (
        |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |b AS (
        |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(a.grp, b.grp) AS grp,
        |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
        |    s_a, s_b, ss_a, ss_b
        |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
        |f AS (
        |  SELECT *,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
        |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
        |  FROM m)
        |SELECT grp, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
        |    round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
        |    round((vna + vnb) * (vna + vnb) /
        |      (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
        |       vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
        |FROM f ORDER BY grp""".stripMargin,

    // q170: one aggregate per side, a 1×1 cross, per-column UNION
    // unpivot — exact counts, fixed round-6 rates
    "q170_profile_drift" -> {
      val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice").sorted
      def aggSide(suf: String, pred: String) =
        s"""SELECT CAST(count(*) AS BIGINT) AS n_$suf,
           |${cols.map(c =>
              s"    CAST(count($c) AS BIGINT) AS nn_${suf}_$c, " +
              s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_${suf}_$c").mkString(",\n")}
           |  FROM orders WHERE o_orderdate IS NOT NULL AND $pred""".stripMargin
      val unions = cols.map(c =>
        s"""SELECT '$c' AS "column", n_a, n_a - nn_a_$c AS nulls_a,
           |  nd_a_$c AS distinct_a,
           |  CASE WHEN n_a > 0 THEN round(CAST(n_a - nn_a_$c AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS null_rate_a,
           |  n_b, n_b - nn_b_$c AS nulls_b, nd_b_$c AS distinct_b,
           |  CASE WHEN n_b > 0 THEN round(CAST(n_b - nn_b_$c AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS null_rate_b,
           |  CASE WHEN nd_a_$c > 0 THEN round(CAST(nd_b_$c AS DOUBLE) / CAST(nd_a_$c AS DOUBLE), 6) END AS distinct_ratio
           |FROM j""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH a AS (
         |${aggSide("a", "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")}),
         |b AS (
         |${aggSide("b", "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'")}),
         |j AS (SELECT * FROM a CROSS JOIN b)
         |$unions
         |ORDER BY "column"""".stripMargin
    },

    // q171: the seeded-hash Poisson weights replayed exactly —
    // cumulative-CDF constants embedded at 17 significant digits
    // (the q136 e-notation rule), exact integer weighted sums, the
    // same rank-selected interval
    "q171_bootstrap_ci" -> {
      def f(v: Double) = String.format(java.util.Locale.ROOT, "%.17e", Double.box(v))
      val whenChain = graft.api.Ops.poissonCdf1.zipWithIndex
        .map { case (p, k) => s"WHEN u < ${f(p)} THEN $k" }.mkString(" ")
      s"""WITH base AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
         |h AS (
         |  SELECT id, c,
         |    CAST('0x' || substr(md5('bs1:7:' || id), 1, 7) AS BIGINT) AS h1,
         |    CAST('0x' || substr(md5('bs2:7:' || id), 1, 7) AS BIGINT) AS h2
         |  FROM base),
         |ex AS (
         |  SELECT id, c, h1, h2, CAST(r.range AS BIGINT) AS bb
         |  FROM h CROSS JOIN range(100) r),
         |uw AS (
         |  SELECT bb, c,
         |    CAST((h1 + bb * h2) % 268435456 AS DOUBLE) / CAST(268435456 AS DOUBLE) AS u
         |  FROM ex),
         |ww AS (SELECT bb, c, CASE $whenChain ELSE 6 END AS w FROM uw),
         |means AS (
         |  SELECT bb, CAST(SUM(w * c) AS BIGINT) AS num, CAST(SUM(w) AS BIGINT) AS den
         |  FROM ww GROUP BY bb HAVING SUM(w) > 0),
         |m2 AS (SELECT bb, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mean FROM means),
         |r AS (
         |  SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS eff,
         |    GREATEST(CAST(ceil(CAST(0.025 AS DOUBLE) * CAST(COUNT(*) OVER () AS BIGINT)) AS BIGINT), 1) AS lok,
         |    CAST(row_number() OVER (ORDER BY mean, bb) AS BIGINT) AS rk
         |  FROM m2),
         |ci AS (
         |  SELECT CAST(max(eff) AS BIGINT) AS b_effective,
         |    min(CASE WHEN rk = lok THEN mean END) AS lo,
         |    min(CASE WHEN rk = eff + 1 - lok THEN mean END) AS hi
         |  FROM r),
         |fl AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS t
         |  FROM base)
         |SELECT n, CAST(100 AS BIGINT) AS b_resamples, b_effective,
         |  CASE WHEN n > 0 THEN
         |    round(CAST(t AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) END AS mean,
         |  round(lo / CAST(100 AS DOUBLE), 6) AS ci_lo,
         |  round(hi / CAST(100 AS DOUBLE), 6) AS ci_hi
         |FROM fl CROSS JOIN ci""".stripMargin
    },

    // q172: per-unit decimal period sums → per-arm exact moments →
    // the pooled-θ CUPED tree (adjusted moments expanded
    // algebraically — no per-row adjusted double is ever summed)
    "q172_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS y,
        |    COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |b0 AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CAST(CAST(y AS DECIMAL(18,2)) * 100 AS BIGINT) AS yy,
        |    CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS xx
        |  FROM u),
        |pa AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(xx) AS BIGINT) AS sx, CAST(SUM(yy) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(xx AS DECIMAL(19,0)) * CAST(xx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(yy AS DECIMAL(19,0)) * CAST(yy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(xx AS DECIMAL(19,0)) * CAST(yy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM b0 GROUP BY 1),
        |j AS (
        |  SELECT a.n AS n_a, a.sx AS sx_a, a.sy AS sy_a, a.sxx AS sxx_a,
        |    a.syy AS syy_a, a.sxy AS sxy_a,
        |    b.n AS n_b, b.sx AS sx_b, b.sy AS sy_b, b.sxx AS sxx_b,
        |    b.syy AS syy_b, b.sxy AS sxy_b
        |  FROM (SELECT * FROM pa WHERE arm = 'A') a
        |  CROSS JOIN (SELECT * FROM pa WHERE arm = 'B') b),
        |f AS (
        |  SELECT *,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nt,
        |    CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sxt,
        |    CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS syt,
        |    CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxxt,
        |    CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxyt
        |  FROM j),
        |g AS (
        |  SELECT *,
        |    CASE WHEN nt * sxxt - sxt * sxt > 0
        |      THEN (nt * sxyt - sxt * syt) / (nt * sxxt - sxt * sxt)
        |      ELSE CAST(0 AS DOUBLE) END AS theta0,
        |    sxt / nt AS xbar
        |  FROM f),
        |h AS (
        |  SELECT *,
        |    CAST(sy_a AS DOUBLE) - theta0 * (CAST(sx_a AS DOUBLE) - CAST(n_a AS DOUBLE) * xbar) AS sadj_a,
        |    CAST(syy_a AS DOUBLE) - CAST(2 AS DOUBLE) * theta0 * (CAST(sxy_a AS DOUBLE) - xbar * CAST(sy_a AS DOUBLE))
        |      + theta0 * theta0 * (CAST(sxx_a AS DOUBLE) - CAST(2 AS DOUBLE) * xbar * CAST(sx_a AS DOUBLE)
        |        + CAST(n_a AS DOUBLE) * xbar * xbar) AS sqadj_a,
        |    CAST(sy_b AS DOUBLE) - theta0 * (CAST(sx_b AS DOUBLE) - CAST(n_b AS DOUBLE) * xbar) AS sadj_b,
        |    CAST(syy_b AS DOUBLE) - CAST(2 AS DOUBLE) * theta0 * (CAST(sxy_b AS DOUBLE) - xbar * CAST(sy_b AS DOUBLE))
        |      + theta0 * theta0 * (CAST(sxx_b AS DOUBLE) - CAST(2 AS DOUBLE) * xbar * CAST(sx_b AS DOUBLE)
        |        + CAST(n_b AS DOUBLE) * xbar * xbar) AS sqadj_b
        |  FROM g),
        |i AS (
        |  SELECT *,
        |    sadj_a / CAST(n_a AS DOUBLE) AS ma,
        |    sadj_b / CAST(n_b AS DOUBLE) AS mb,
        |    ((sqadj_a - sadj_a * sadj_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE)
        |      + ((sqadj_b - sadj_b * sadj_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS se2
        |  FROM h)
        |SELECT n_a, n_b, round(theta0, 6) AS theta,
        |  round(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS mean_a,
        |  round(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS mean_b,
        |  round(ma / CAST(100 AS DOUBLE), 6) AS mean_adj_a,
        |  round(mb / CAST(100 AS DOUBLE), 6) AS mean_adj_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
        |    round((ma - mb) / sqrt(se2), 6) END AS z
        |FROM i""".stripMargin,

    // q173: four exact (group × period) cells, one pivot, the fixed
    // DiD estimate/SE tree
    "q173_did" ->
      """WITH cells AS (
        |  SELECT (CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END) ||
        |    (CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN '_post' ELSE '_pre' END) AS cell,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |agg AS (
        |  SELECT cell, CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
        |    CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ss
        |  FROM cells GROUP BY 1),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN cell = 't_pre' THEN n END) AS t_pre_n,
        |    MAX(CASE WHEN cell = 't_pre' THEN s END) AS t_pre_s,
        |    MAX(CASE WHEN cell = 't_pre' THEN ss END) AS t_pre_ss,
        |    MAX(CASE WHEN cell = 't_post' THEN n END) AS t_post_n,
        |    MAX(CASE WHEN cell = 't_post' THEN s END) AS t_post_s,
        |    MAX(CASE WHEN cell = 't_post' THEN ss END) AS t_post_ss,
        |    MAX(CASE WHEN cell = 'c_pre' THEN n END) AS c_pre_n,
        |    MAX(CASE WHEN cell = 'c_pre' THEN s END) AS c_pre_s,
        |    MAX(CASE WHEN cell = 'c_pre' THEN ss END) AS c_pre_ss,
        |    MAX(CASE WHEN cell = 'c_post' THEN n END) AS c_post_n,
        |    MAX(CASE WHEN cell = 'c_post' THEN s END) AS c_post_s,
        |    MAX(CASE WHEN cell = 'c_post' THEN ss END) AS c_post_ss
        |  FROM agg),
        |f AS (
        |  SELECT *,
        |    CAST(t_post_s AS DOUBLE) / CAST(COALESCE(t_post_n, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS m_t_post,
        |    CAST(t_pre_s AS DOUBLE) / CAST(COALESCE(t_pre_n, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS m_t_pre,
        |    CAST(c_post_s AS DOUBLE) / CAST(COALESCE(c_post_n, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS m_c_post,
        |    CAST(c_pre_s AS DOUBLE) / CAST(COALESCE(c_pre_n, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS m_c_pre,
        |    ((CAST(t_pre_ss AS DOUBLE) - CAST(t_pre_s AS DOUBLE) * CAST(t_pre_s AS DOUBLE) / CAST(COALESCE(t_pre_n, 0) AS DOUBLE)) / (CAST(COALESCE(t_pre_n, 0) AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(COALESCE(t_pre_n, 0) AS DOUBLE) / CAST(10000 AS DOUBLE)
        |      + ((CAST(t_post_ss AS DOUBLE) - CAST(t_post_s AS DOUBLE) * CAST(t_post_s AS DOUBLE) / CAST(COALESCE(t_post_n, 0) AS DOUBLE)) / (CAST(COALESCE(t_post_n, 0) AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(COALESCE(t_post_n, 0) AS DOUBLE) / CAST(10000 AS DOUBLE)
        |      + ((CAST(c_pre_ss AS DOUBLE) - CAST(c_pre_s AS DOUBLE) * CAST(c_pre_s AS DOUBLE) / CAST(COALESCE(c_pre_n, 0) AS DOUBLE)) / (CAST(COALESCE(c_pre_n, 0) AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(COALESCE(c_pre_n, 0) AS DOUBLE) / CAST(10000 AS DOUBLE)
        |      + ((CAST(c_post_ss AS DOUBLE) - CAST(c_post_s AS DOUBLE) * CAST(c_post_s AS DOUBLE) / CAST(COALESCE(c_post_n, 0) AS DOUBLE)) / (CAST(COALESCE(c_post_n, 0) AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(COALESCE(c_post_n, 0) AS DOUBLE) / CAST(10000 AS DOUBLE) AS se2
        |  FROM w),
        |f2 AS (
        |  SELECT *, (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did0,
        |    COALESCE(t_pre_n, 0) >= 2 AND COALESCE(t_post_n, 0) >= 2 AND
        |    COALESCE(c_pre_n, 0) >= 2 AND COALESCE(c_post_n, 0) >= 2 AS allvar
        |  FROM f)
        |SELECT COALESCE(t_pre_n, 0) AS n_t_pre, COALESCE(t_post_n, 0) AS n_t_post,
        |  COALESCE(c_pre_n, 0) AS n_c_pre, COALESCE(c_post_n, 0) AS n_c_post,
        |  CASE WHEN COALESCE(t_pre_n, 0) > 0 THEN round(m_t_pre, 6) END AS mean_t_pre,
        |  CASE WHEN COALESCE(t_post_n, 0) > 0 THEN round(m_t_post, 6) END AS mean_t_post,
        |  CASE WHEN COALESCE(c_pre_n, 0) > 0 THEN round(m_c_pre, 6) END AS mean_c_pre,
        |  CASE WHEN COALESCE(c_post_n, 0) > 0 THEN round(m_c_post, 6) END AS mean_c_post,
        |  CASE WHEN COALESCE(t_pre_n, 0) > 0 AND COALESCE(t_post_n, 0) > 0 AND
        |    COALESCE(c_pre_n, 0) > 0 AND COALESCE(c_post_n, 0) > 0 THEN round(did0, 6) END AS did,
        |  CASE WHEN allvar AND se2 > 0 THEN round(sqrt(se2), 6) END AS se,
        |  CASE WHEN allvar AND se2 > 0 THEN round(did0 / sqrt(se2), 6) END AS t
        |FROM f2""".stripMargin,

    // q174: the (priority, month) cent census + one group-ordered
    // lag window
    "q174_pop_report" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS g, strftime(o_orderdate, '%Y-%m') AS period,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT *, lag(total_cents) OVER (PARTITION BY g ORDER BY period) AS prev_cents
        |  FROM cells)
        |SELECT g AS o_orderpriority, period, n_rows, total_cents, prev_cents,
        |  total_cents - prev_cents AS delta_cents,
        |  CASE WHEN prev_cents <> 0 THEN
        |    round(CAST(total_cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE), 6) END AS pct_change
        |FROM w ORDER BY o_orderpriority, period""".stripMargin,

    // q175: the q97 earliest-completion chain marks the completers;
    // the q134 pooled-z tree scores completion per segment
    "q175_funnel_ab" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s3 ON s3.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
        |pu AS (
        |  SELECT c_mktsegment,
        |    CASE WHEN events.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |    events.user_id AS u,
        |    max(CASE WHEN s4.user_id IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |  FROM events JOIN customer ON c_custkey = events.user_id
        |  LEFT JOIN s4 ON s4.user_id = events.user_id
        |  GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT c_mktsegment, v, count(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
        |  FROM pu GROUP BY 1, 2),
        |j AS (
        |  SELECT a.c_mktsegment, a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b
        |  FROM per a JOIN per b ON a.c_mktsegment = b.c_mktsegment
        |  WHERE a.v = 'A' AND b.v = 'B'),
        |s AS (
        |  SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
        |            CAST(conv_b AS DOUBLE) / n_b AS pb,
        |            CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool
        |  FROM j),
        |z2 AS (
        |  SELECT *, sqrt(pool * (CAST(1 AS DOUBLE) - pool) *
        |                 (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS se
        |  FROM s)
        |SELECT c_mktsegment, n_a, conv_a, n_b, conv_b,
        |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  CASE WHEN se > 0 THEN round((pa - pb) / se, 6) END AS z,
        |  CASE WHEN se > 0 THEN abs(round((pa - pb) / se, 6)) >= CAST(1.96 AS DOUBLE)
        |       ELSE FALSE END AS significant
        |FROM z2 ORDER BY c_mktsegment""".stripMargin,

    // q176: the q117 lag-chain replay run TWICE — pass 2 lags pass
    // 1's exact floor-divided millicents through a second CTE layer
    "q176_holt_trend" -> {
      val lags = 8
      def terms(src: String) = (0 until lags).map { l =>
        val w = 1L << (lags - 1 - l)
        val c = if (l == 0) src else s"lag($src, $l) OVER w"
        (s"COALESCE($c, 0) * $w", s"CASE WHEN $c IS NULL THEN 0 ELSE $w END")
      }
      val t1 = terms("c"); val t2 = terms("s1")
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events WHERE value IS NOT NULL),
         |l1 AS (SELECT event_id, user_id, us,
         |  ((${t1.map(_._1).mkString(" + ")}) * 1000) //
         |    (${t1.map(_._2).mkString(" + ")}) AS s1
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |l2 AS (SELECT event_id, user_id, s1,
         |  (${t2.map(_._1).mkString(" + ")}) //
         |    (${t2.map(_._2).mkString(" + ")}) AS s2
         |  FROM l1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         |SELECT event_id, user_id, s1 AS s1_millicents, s2 AS s2_millicents,
         |  s1 * 2 - s2 AS level_millicents, s1 - s2 AS trend_millicents,
         |  (s1 * 2 - s2) + 3 * (s1 - s2) AS forecast_millicents
         |FROM l2 ORDER BY event_id""".stripMargin
    },

    // q112/q115/q116 (r13 hash-checked flip): the gated outputs are
    // the planted-clone pair views, whose expected sets derive from
    // `documents` itself — each row certifies the FULL binary path
    // (synthesize → decode → re-encode → decode → hash → band join)
    // landed at exact hash equality for that document
    "q112_image_neardup" ->
      """SELECT doc_id AS doc_a, doc_id + 700000 AS doc_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120
        |ORDER BY doc_a""".stripMargin,

    "q115_audio_neardup" ->
      """SELECT doc_id AS doc_a, doc_id + 800000 AS doc_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id < 240
        |ORDER BY doc_a""".stripMargin,

    "q116_video_neardup" ->
      """SELECT doc_id + 800000 AS doc_a, doc_id + 900000 AS doc_b,
        |  CAST(8 AS BIGINT) AS matched_a, CAST(8 AS INTEGER) AS frames_a,
        |  CAST(16 AS BIGINT) AS matched_b, CAST(16 AS INTEGER) AS frames_b
        |FROM documents WHERE doc_id % 3 = 2 AND doc_id < 240
        |ORDER BY doc_a""".stripMargin,

    // q130: the oracle replays the SAME total-order ranks with plain
    // global row_number (the staged globalRank is output-identical by
    // the rank-offset argument) and the same floor-tile formula
    "q130_rfm" ->
      """WITH m AS (SELECT o_custkey, max(epoch_us(o_orderdate)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
        |r AS (SELECT m.*,
        |    CAST(row_number() OVER (ORDER BY last_us DESC, o_custkey) AS BIGINT) AS rr,
        |    CAST(row_number() OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS fr,
        |    CAST(row_number() OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS mr
        |  FROM m)
        |SELECT o_custkey, last_us, frequency, monetary_cents,
        |  ((rr - 1) * 5) // n + 1 AS r_score,
        |  ((fr - 1) * 5) // n + 1 AS f_score,
        |  ((mr - 1) * 5) // n + 1 AS m_score,
        |  CAST(((rr - 1) * 5) // n + 1 AS VARCHAR)
        |    || CAST(((fr - 1) * 5) // n + 1 AS VARCHAR)
        |    || CAST(((mr - 1) * 5) // n + 1 AS VARCHAR) AS segment
        |FROM r CROSS JOIN n
        |ORDER BY o_custkey""".stripMargin,

    // q129: exact supports + confidence via `//` ≡ div; lift is the
    // identical double expression tree over the exact counts
    "q129_assoc_rules" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS it
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM e),
        |items AS (SELECT it, CAST(count(*) AS BIGINT) AS ni FROM e GROUP BY 1),
        |pairs AS (SELECT x.it AS a, y.it AS b, CAST(count(*) AS BIGINT) AS support
        |  FROM e x JOIN e y ON x.ok = y.ok AND x.it < y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        |d AS (SELECT a AS antecedent, b AS consequent, support FROM pairs
        |  UNION ALL SELECT b, a, support FROM pairs)
        |SELECT antecedent, consequent, support,
        |  ia.ni AS n_antecedent, ic.ni AS n_consequent, n_baskets,
        |  (support * 1000) // ia.ni AS confidence_millis,
        |  round(CAST(support AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |    / (CAST(ia.ni AS DOUBLE) * CAST(ic.ni AS DOUBLE)), 6) AS lift
        |FROM d
        |JOIN items ia ON ia.it = d.antecedent
        |JOIN items ic ON ic.it = d.consequent
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin,

    // q127: the (type, hour) cell sums replay as exact BIGINTs; the
    // baseline and residual use the same `//` ≡ div on non-negative
    // sums; the join is null-safe on type
    "q127_seasonal" ->
      """WITH e AS (SELECT event_id, event_type, hour(ts) AS h,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT event_type, h,
        |    CAST(SUM(c) AS BIGINT) AS seasonal_num,
        |    CAST(count(*) AS BIGINT) AS seasonal_denom
        |  FROM e GROUP BY 1, 2)
        |SELECT event_id, e.event_type, e.h AS hour_of_day,
        |  seasonal_num, seasonal_denom,
        |  (seasonal_num * 1000) // seasonal_denom AS seasonal_millicents,
        |  c * 1000 - (seasonal_num * 1000) // seasonal_denom AS residual_millicents
        |FROM e JOIN cells ON e.event_type IS NOT DISTINCT FROM cells.event_type
        |  AND e.h = cells.h
        |ORDER BY event_id""".stripMargin,

    // q128: the ROWS-framed running sum + row index over the shared
    // (us, event_id) window order; the statistic is division-free so
    // every comparison is exact BIGINT
    "q128_cusum" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_id, user_id, c,
        |    CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS k
        |  FROM e),
        |st AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY user_id)
        |SELECT event_id, r.user_id, k, n * s - k * t AS cusum_scaled,
        |  abs(n * s - k * t) > 20000 * n AS flag
        |FROM r JOIN st ON r.user_id IS NOT DISTINCT FROM st.user_id
        |ORDER BY event_id""".stripMargin,

    // q126: the same canonicalize → degree → orient → wedge → close
    // chain, exact integers end-to-end; every triangle closes from
    // its unique two-out-edge corner
    "q126_triangles" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |pairs AS (
        |  SELECT x.p AS u, y.p AS v
        |  FROM e x JOIN e y ON x.ok = y.ok AND x.p < y.p),
        |und AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
        |  FROM pairs WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
        |orient AS (SELECT
        |    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
        |    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b,
        |    CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS db
        |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |tri AS (SELECT w1.a AS x, w1.b AS y, w2.b AS z
        |  FROM orient w1
        |  JOIN orient w2 ON w1.a = w2.a
        |    AND ((w1.db < w2.db) OR (w1.db = w2.db AND w1.b < w2.b))
        |  JOIN orient c ON c.a = w1.b AND c.b = w2.b),
        |corners AS (SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM corners GROUP BY node ORDER BY node""".stripMargin,

    // q125: rank-selected bounds (k = max(1, ceil(p·n)) on IEEE
    // doubles — identical bits both engines) + conditional-min
    // selection + null-safe group join; nulls rank nowhere
    "q125_winsorize" ->
      """WITH nn AS (SELECT o_orderstatus AS g, o_totalprice AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM nn),
        |k AS (SELECT g, v, rn, n,
        |    GREATEST(CAST(ceil(CAST(0.05 AS DOUBLE) * n) AS BIGINT), 1) AS lowk
        |  FROM r),
        |b AS (SELECT g,
        |    min(CASE WHEN rn = lowk THEN v END) AS lo,
        |    min(CASE WHEN rn = n + 1 - lowk THEN v END) AS hi
        |  FROM k GROUP BY g)
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CASE WHEN o_totalprice IS NOT NULL
        |    THEN LEAST(GREATEST(o_totalprice, lo), hi) END AS w_totalprice
        |FROM orders LEFT JOIN b ON o_orderstatus IS NOT DISTINCT FROM b.g
        |ORDER BY o_orderkey""".stripMargin,

    // q124: the same change derivation + latest-wins window (seq
    // DESC, op DESC — ASCII collation agrees across engines) + anti
    // join + union; double drift uses CAST(.. AS DOUBLE) literals so
    // both engines add the same IEEE values
    "q124_cdc_apply" ->
      """WITH base AS (SELECT c_custkey AS id, c_name, c_acctbal, c_mktsegment FROM customer),
        |chg AS (
        |  SELECT id, c_name, c_acctbal + CAST(10.0 AS DOUBLE) AS c_acctbal,
        |    c_mktsegment, 'upsert' AS op, 2 AS seq FROM base WHERE id % 5 = 0
        |  UNION ALL SELECT id, c_name, c_acctbal + CAST(5.0 AS DOUBLE),
        |    c_mktsegment, 'upsert', 1 FROM base WHERE id % 5 = 0
        |  UNION ALL SELECT id, c_name, c_acctbal, c_mktsegment, 'delete', 2
        |    FROM base WHERE id % 7 = 0
        |  UNION ALL SELECT id + 9000000, c_name, c_acctbal, c_mktsegment, 'upsert', 1
        |    FROM base WHERE id < 50),
        |latest AS (SELECT * FROM (
        |  SELECT chg.*, row_number() OVER (PARTITION BY id ORDER BY seq DESC, op DESC) AS rn
        |  FROM chg) WHERE rn = 1)
        |SELECT id, c_name, c_acctbal, c_mktsegment FROM (
        |  SELECT id, c_name, c_acctbal, c_mktsegment FROM base
        |  WHERE id NOT IN (SELECT id FROM latest)
        |  UNION ALL
        |  SELECT id, c_name, c_acctbal, c_mktsegment FROM latest WHERE op = 'upsert')
        |ORDER BY id""".stripMargin,

    // q123: each check's violation definition replayed as exact
    // counts (Unique = checked − distinct keys over non-null parts;
    // FK = NOT EXISTS; range bounds CAST AS DOUBLE per the
    // double-vs-decimal-literal rule)
    "q123_dq_checks" ->
      """WITH r AS (
        |  SELECT 'pk_unique' AS check_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL) AS n_rows,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM
        |        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
        |         WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)) AS n_violations
        |  UNION ALL
        |  SELECT 'fk_orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IS NOT NULL),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |      WHERE l_orderkey IS NOT NULL
        |        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'shipdate_notnull',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_shipdate IS NULL)
        |  UNION ALL
        |  SELECT 'quantity_in_1_25',
        |    (SELECT CAST(count(l_quantity) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_quantity IS NOT NULL
        |        AND (l_quantity < CAST(1 AS DOUBLE) OR l_quantity > CAST(25 AS DOUBLE)))
        |  UNION ALL
        |  SELECT 'discount_in_0_10pct',
        |    (SELECT CAST(count(l_discount) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |      WHERE l_discount IS NOT NULL
        |        AND (l_discount < CAST(0 AS DOUBLE) OR l_discount > CAST(0.10 AS DOUBLE))))
        |SELECT check_name, n_rows, n_violations, n_violations = 0 AS pass
        |FROM r ORDER BY check_name""".stripMargin,

    // q122: the date − row_number island invariant on exact DATE
    // arithmetic; longest-streak start resolves ties to the EARLIEST
    // start via the window-max + conditional-min pair — deterministic
    "q122_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |s AS (SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
        |  FROM days),
        |st AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len, min(d) AS start
        |  FROM s GROUP BY 1, 2),
        |mx AS (SELECT user_id, len, start, max(len) OVER (PARTITION BY user_id) AS m FROM st)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  max(len) AS longest_streak,
        |  min(CASE WHEN len = m THEN start END) AS longest_streak_start
        |FROM mx GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q141: the (user, day) census collapses first (the q122 rule);
    // each census row contributes to its 7 trailing target days via a
    // bounded range cross — exact distinct counts, observed days only
    "q141_rolling_actives" ->
      """WITH census AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS active_units
        |  FROM census GROUP BY day),
        |contrib AS (
        |  SELECT DISTINCT u, day + CAST(t.i AS INTEGER) AS day2
        |  FROM census, range(0, 7) AS t(i)),
        |rolled AS (
        |  SELECT day2 AS day, CAST(count(*) AS BIGINT) AS rolling_active_units
        |  FROM contrib GROUP BY day2)
        |SELECT d.day, d.active_units, r.rolling_active_units
        |FROM daily d JOIN rolled r ON d.day = r.day
        |ORDER BY d.day""".stripMargin,

    // q142: exact contingency census completed over the |A|×|B|
    // cross; e and contrib in the SAME double op order (na·nb
    // multiplied in DOUBLE — a long product overflows at scale);
    // total χ² sums the ROUNDED contribs as exact DECIMAL(38,6)
    "q142_chi_square" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS obs FROM base GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(count(*) AS BIGINT) AS na FROM base GROUP BY 1),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM base GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |comp AS (
        |  SELECT ra.a, cb.b, COALESCE(cells.obs, 0) AS obs, ra.na, cb.nb, nn.n,
        |    CAST(ra.na AS DOUBLE) * CAST(cb.nb AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON ra.a = cells.a AND cb.b = cells.b
        |  CROSS JOIN nn),
        |c2 AS (
        |  SELECT *, round((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e, 6) AS contrib
        |  FROM comp),
        |tot AS (
        |  SELECT CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS chi2,
        |    CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof
        |  FROM c2)
        |SELECT a AS o_orderstatus, b AS o_orderpriority, obs, na, nb,
        |  round(e, 6) AS expected, contrib,
        |  CAST(chi2 * 1000000 AS BIGINT) AS chi2_micros, dof
        |FROM c2 CROSS JOIN tot
        |ORDER BY 1, 2""".stripMargin,

    // q143: per-entity decimal census → deterministic (value, entity)
    // rank → exact moment sums → the two metrics in the SAME double
    // op order, rounded at 6
    "q143_concentration" ->
      """WITH ent AS (
        |  SELECT o_orderpriority AS g, o_custkey AS e,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL AND o_totalprice >= 0
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY g ORDER BY v, e)
        |    AS DECIMAL(10,0)) AS i
        |  FROM ent),
        |s AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_entities,
        |    CAST(SUM(v) AS DECIMAL(38,2)) AS total,
        |    CAST(SUM(v * i) AS DECIMAL(38,2)) AS s_iv,
        |    CAST(SUM(v * v) AS DECIMAL(38,4)) AS s_v2
        |  FROM r GROUP BY g)
        |SELECT g AS o_orderpriority, n_entities,
        |  CAST(total * 100 AS BIGINT) AS total_cents,
        |  CASE WHEN total <> 0 THEN
        |    round(CAST(s_v2 AS DOUBLE) /
        |      (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6) END AS hhi,
        |  CASE WHEN total <> 0 THEN
        |    round(CAST(2 AS DOUBLE) * CAST(s_iv AS DOUBLE) /
        |      (CAST(n_entities AS DOUBLE) * CAST(total AS DOUBLE)) -
        |      CAST(n_entities + 1 AS DOUBLE) / CAST(n_entities AS DOUBLE), 6)
        |  END AS gini
        |FROM s ORDER BY 1""".stripMargin,

    // q118: ordered string_agg IS the engine's array_sort(struct)
    // path re-assembly; the regex sticks to the RE2-safe subset so
    // Java (Spark rlike) and RE2 (DuckDB) agree
    "q118_event_paths" ->
      """WITH p AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, path,
        |  regexp_matches(path, '(^|>)signup(>[a-z]+)*>purchase(>|$)') AS matched
        |FROM p ORDER BY user_id""".stripMargin,

    // q191: the q157 double-rank machinery over the $10k BUCKET
    // census — v = floor(cents/1e6), the q108 portable IEEE recipe
    "q191_mwu_sketch" ->
      """WITH src AS (
        |  SELECT CAST(floor(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS BIGINT) AS v,
        |    o_orderdate AS d
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM src
        |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM src
        |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |w AS (
        |  SELECT *, ca + cb AS mm,
        |    COALESCE(CAST(SUM(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2a,
        |    CAST(SUM(CAST(mm AS DECIMAL(12,0)) * CAST(mm AS DECIMAL(12,0)) *
        |      CAST(mm AS DECIMAL(12,0)) - CAST(mm AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS tie
        |  FROM w),
        |f AS (
        |  SELECT n_a, n_b,
        |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
        |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE) *
        |      ((CAST(n_a + n_b AS DOUBLE) + CAST(1 AS DOUBLE)) -
        |        CAST(tie AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
        |  FROM agg)
        |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND var > 0 THEN
        |    round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |      (CAST(2 AS DOUBLE) * sqrt(var)), 6) END AS z
        |FROM f""".stripMargin,

    // q192: the q177 keyed census/divmod/H machinery over the $10k
    // BUCKET census per segment
    "q192_kw_sketch" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS seg, o_orderstatus AS grp,
        |    CAST(floor(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        |cg AS (SELECT seg, grp, v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
        |mv AS (SELECT seg, v, CAST(SUM(c) AS BIGINT) AS m FROM cg GROUP BY 1, 2),
        |mvs AS (
        |  SELECT seg, v, m, COALESCE(CAST(SUM(m) OVER (PARTITION BY seg ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
        |  FROM mv),
        |per AS (
        |  SELECT seg, grp, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(s * 2 + m + 1 AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS r2
        |  FROM cg JOIN mvs USING (seg, v) GROUP BY 1, 2),
        |sc AS (
        |  SELECT seg, CAST(SUM(CAST(m AS DECIMAL(12,0)) * CAST(m AS DECIMAL(12,0)) *
        |      CAST(m AS DECIMAL(12,0)) - CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie,
        |    CAST(SUM(m) AS BIGINT) AS n_total
        |  FROM mv GROUP BY 1),
        |pq AS (
        |  SELECT per.*, sc.tie, sc.n_total,
        |    CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) AS rsq,
        |    CAST(n AS HUGEINT) * 4 AS den
        |  FROM per JOIN sc USING (seg)),
        |pq2 AS (SELECT *, (rsq - rsq % den) // den AS q, rsq % den AS rem FROM pq),
        |w AS (
        |  SELECT *, CAST(SUM(q) OVER (PARTITION BY seg) AS DOUBLE) AS qsum,
        |    CAST(SUM(CAST(round(CAST(rem AS DOUBLE) / CAST(den AS DOUBLE), 12)
        |      AS DECIMAL(38,12))) OVER (PARTITION BY seg) AS DOUBLE) AS fsum,
        |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS k_groups
        |  FROM pq2),
        |f AS (
        |  SELECT *,
        |    CAST(12 AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)))
        |      * (qsum + fsum) - CAST(3 AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)) AS hraw,
        |    CASE WHEN n_total > 1 THEN CAST(1 AS DOUBLE) - CAST(tie AS DOUBLE) /
        |      CAST(CAST(n_total AS HUGEINT) * n_total * n_total - n_total AS DOUBLE) END AS cc
        |  FROM w)
        |SELECT seg, grp, n, CAST(r2 AS BIGINT) AS r2, n_total, k_groups,
        |  round(hraw, 6) AS h,
        |  CASE WHEN cc > 0 THEN round(hraw / cc, 6) END AS h_adj
        |FROM f ORDER BY seg, grp""".stripMargin,

    // q193: the q178 keyed doubled-rank censuses with BOTH axes
    // bucketed (vx = floor(price cents/1e5), vy = floor(qty cents/1e2))
    "q193_spearman_sketch" ->
      """WITH src AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(floor(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(100000 AS DOUBLE)) AS BIGINT) AS vx,
        |    CAST(floor(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS DOUBLE) / CAST(100 AS DOUBLE)) AS BIGINT) AS vy
        |  FROM lineitem WHERE l_returnflag IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cx AS (SELECT grp, vx, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
        |rx AS (
        |  SELECT grp, vx, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS ux
        |  FROM cx),
        |cy AS (SELECT grp, vy, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
        |ry AS (
        |  SELECT grp, vy, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
        |    + m + 1 AS uy
        |  FROM cy),
        |j AS (
        |  SELECT s.grp, rx.ux, ry.uy FROM src s
        |  JOIN rx ON s.grp = rx.grp AND s.vx = rx.vx
        |  JOIN ry ON s.grp = ry.grp AND s.vy = ry.vy),
        |agg AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS su,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suu,
        |    CAST(SUM(CAST(uy AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS svv,
        |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suv
        |  FROM j GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
        |  END AS rho
        |FROM agg ORDER BY grp""".stripMargin,

    // q194: the q185 census/ceil-rank/midpoint machinery keyed by
    // o_orderpriority — segment-partitioned cumulative windows, a
    // segment-keyed full-outer era join, one row per (segment,
    // quantile); one-sided segments read null values/delta
    "q194_qdrift_by_group" -> {
      def census(pre: String, eraPred: String) =
        s"""${pre}r AS (
           |  SELECT o_orderpriority AS grp,
           |         CAST(floor(CAST(o_totalprice AS DOUBLE) / 64.0) AS BIGINT) AS b,
           |         COUNT(*) AS n
           |  FROM orders
           |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
           |    AND o_orderpriority IS NOT NULL AND $eraPred
           |    AND CAST(o_totalprice AS DOUBLE) / 64.0
           |      BETWEEN -CAST(4611686018427387904 AS DOUBLE)
           |          AND CAST(4611686018427387904 AS DOUBLE)
           |  GROUP BY 1, 2),
           |${pre}c AS (SELECT grp, b,
           |            SUM(n) OVER (PARTITION BY grp ORDER BY b) AS cum,
           |            SUM(n) OVER (PARTITION BY grp) AS tot FROM ${pre}r),
           |${pre}q AS (
           |  SELECT grp,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.1 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b10,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.5 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b50,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.9 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b90,
           |    MIN(CASE WHEN cum >= CAST(ceil(CAST(0.99 AS DOUBLE) * tot) AS BIGINT) THEN b END) AS b99
           |  FROM ${pre}c GROUP BY grp)""".stripMargin
      s"""WITH ${census("a", "o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")},
         |${census("b", "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'")},
         |j AS (
         |  SELECT COALESCE(aq.grp, bq.grp) AS grp,
         |    aq.b10 AS xa10, aq.b50 AS xa50, aq.b90 AS xa90, aq.b99 AS xa99,
         |    bq.b10 AS xb10, bq.b50 AS xb50, bq.b90 AS xb90, bq.b99 AS xb99
         |  FROM aq FULL OUTER JOIN bq ON aq.grp = bq.grp)
         |SELECT grp AS o_orderpriority, quantile, value_a, value_b,
         |  value_b - value_a AS delta FROM (
         |  SELECT grp, 'p10' AS quantile,
         |    (CAST(xa10 AS DOUBLE) + 0.5) * 64.0 AS value_a,
         |    (CAST(xb10 AS DOUBLE) + 0.5) * 64.0 AS value_b FROM j
         |  UNION ALL SELECT grp, 'p50',
         |    (CAST(xa50 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(xb50 AS DOUBLE) + 0.5) * 64.0 FROM j
         |  UNION ALL SELECT grp, 'p90',
         |    (CAST(xa90 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(xb90 AS DOUBLE) + 0.5) * 64.0 FROM j
         |  UNION ALL SELECT grp, 'p99',
         |    (CAST(xa99 AS DOUBLE) + 0.5) * 64.0,
         |    (CAST(xb99 AS DOUBLE) + 0.5) * 64.0 FROM j)
         |ORDER BY o_orderpriority, quantile""".stripMargin
    },

    // q195: the (cat, fold) census, cat-keyed window totals, fold +
    // overall scalar joins, then the m-estimate tree — every sum an
    // exact decimal, the encoding one fixed double division
    "q195_target_encode" ->
      """WITH census AS (
        |  SELECT o_custkey AS cat, CAST(o_orderkey % 4 AS BIGINT) AS fold,
        |    CAST(count(*) AS BIGINT) AS n_cf,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_cf
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |wc AS (
        |  SELECT *, CAST(SUM(n_cf) OVER (PARTITION BY cat) AS BIGINT) AS n_c,
        |    CAST(SUM(s_cf) OVER (PARTITION BY cat) AS DECIMAL(38,2)) AS s_c
        |  FROM census),
        |pf AS (SELECT fold, CAST(SUM(n_cf) AS BIGINT) AS n_f,
        |    CAST(SUM(s_cf) AS DECIMAL(38,2)) AS s_f FROM census GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_cf) AS BIGINT) AS n_all,
        |    CAST(SUM(s_cf) AS DECIMAL(38,2)) AS s_all,
        |    CAST(COUNT(DISTINCT fold) AS BIGINT) AS k_folds FROM census),
        |f AS (
        |  SELECT wc.*, pf.n_f, pf.s_f, tt.n_all, tt.s_all, tt.k_folds,
        |    CAST(wc.n_c - wc.n_cf AS DOUBLE) AS n_oof_d,
        |    CAST(wc.s_c - wc.s_cf AS DOUBLE) AS s_oof_d,
        |    CAST(tt.s_all - pf.s_f AS DOUBLE) / CAST(tt.n_all - pf.n_f AS DOUBLE) AS prior
        |  FROM wc JOIN pf USING (fold) CROSS JOIN tt)
        |SELECT cat AS o_custkey, fold, n_cf AS n, n_c - n_cf AS n_oof,
        |  CASE WHEN k_folds >= 2 THEN round(prior, 6) END AS prior_oof,
        |  CASE WHEN k_folds >= 2 AND n_oof_d + 20.0 > 0 THEN
        |    round((s_oof_d + 20.0 * prior) / (n_oof_d + 20.0), 6) END AS enc
        |FROM f ORDER BY o_custkey, fold""".stripMargin,

    // q196: the q183 exact moments, then the mSPRT ln-space tree —
    // the one ln term rounded at 12, thresholds as shared literals
    "q196_msprt" -> {
      val thr = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
        Double.box(2.995732273553991))
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
         |b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
         |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
         |  FROM a CROSS JOIN b),
         |g AS (
         |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS vv,
         |    mb - ma AS delta
         |  FROM f),
         |h AS (
         |  SELECT *,
         |    CAST(0.5 AS DOUBLE) * round(ln(vv / (vv + CAST(1000000 AS DOUBLE))), 12) +
         |      delta * delta * CAST(1000000 AS DOUBLE) /
         |        (CAST(2.0 AS DOUBLE) * vv * (vv + CAST(1000000 AS DOUBLE))) AS lnl
         |  FROM g)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(delta, 6) END AS delta,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN round(lnl, 6) END AS ln_lambda,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN
         |    CASE WHEN round(lnl, 6) > 0 THEN -round(lnl, 6) ELSE CAST(0.0 AS DOUBLE) END
         |  END AS ln_p,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN
         |    CAST(round(lnl, 6) > $thr AS BIGINT) END AS reject
         |FROM h""".stripMargin
    },

    // q197: census + 1-row total; the keep test is the exact integer
    // cross-multiplication n·10000 >= bp·N (never a double share)
    "q197_rare_collapse" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
        |SELECT lang, n, (n * 10000) // t AS share_bp,
        |  n * 10000 >= 1400 * t AS kept,
        |  CASE WHEN n * 10000 >= 1400 * t THEN CAST(lang AS VARCHAR)
        |    ELSE '__other__' END AS cat_out
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,

    // q198: the q142 contingency machinery aggregated to one row,
    // then V = sqrt(chi2 / (n * (min(r,c) - 1)))
    "q198_cramers_v" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS obs FROM base GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(count(*) AS BIGINT) AS na FROM base GROUP BY 1),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM base GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |comp AS (
        |  SELECT ra.a, cb.b, na, nb, COALESCE(obs, 0) AS obs, n
        |  FROM ra CROSS JOIN cb LEFT JOIN cells USING (a, b) CROSS JOIN nn),
        |ct AS (SELECT *, CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |  FROM comp),
        |cc AS (SELECT *,
        |  round((CAST(obs AS DOUBLE) - e) * (CAST(obs AS DOUBLE) - e) / e, 6) AS contrib
        |  FROM ct),
        |agg AS (
        |  SELECT MAX(n) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS levels_a,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS levels_b,
        |    CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS chi2
        |  FROM cc)
        |SELECT n, levels_a, levels_b,
        |  (levels_a - 1) * (levels_b - 1) AS dof,
        |  CAST(chi2 * 1000000 AS BIGINT) AS chi2_micros,
        |  CASE WHEN least(levels_a, levels_b) - 1 >= 1 AND n > 0 THEN
        |    round(sqrt(CAST(chi2 AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(least(levels_a, levels_b) - 1 AS DOUBLE))), 6)
        |  END AS v
        |FROM agg""".stripMargin,

    // q201: the two HITS iterations unrolled as CTE pairs — every
    // normalization the exact HUGEINT floor division (raw·scale)//t,
    // mirroring the operator's DECIMAL(38,0) divmod
    "q201_hits" -> {
      // one (raw, total, normalized) pass: scores of `from` flow over
      // the edges in direction (inKey -> outKey), normalize to scale
      def pass(pre: String, from: String, fromCol: String,
               inKey: String, outKey: String, outCol: String) =
        s"""${pre}r AS (
           |  SELECT e.$outKey AS node,
           |    CAST(SUM(CAST($fromCol AS HUGEINT)) AS HUGEINT) AS raw
           |  FROM e JOIN $from ON $from.node = e.$inKey GROUP BY e.$outKey),
           |${pre}t AS (SELECT CAST(SUM(raw) AS HUGEINT) AS t FROM ${pre}r),
           |$pre AS (
           |  SELECT nodes.node,
           |    CASE WHEN raw IS NOT NULL AND t > 0
           |      THEN CAST((raw * 1000000000000) // t AS BIGINT)
           |      ELSE CAST(0 AS BIGINT) END AS $outCol
           |  FROM nodes LEFT JOIN ${pre}r USING (node) CROSS JOIN ${pre}t)""".stripMargin
      s"""WITH ol AS (
         |  SELECT o_custkey AS cust, -l_suppkey AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (
         |  SELECT CAST(cust AS BIGINT) AS s, CAST(supp AS BIGINT) AS d FROM ol
         |  UNION ALL
         |  SELECT CAST(supp AS BIGINT) AS s, CAST(cust AS BIGINT) AS d FROM ol),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT s AS node FROM e UNION ALL SELECT d AS node FROM e)),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |h0 AS (SELECT node, 1000000000000 // n AS hub FROM nodes CROSS JOIN cnt),
         |${pass("a1", "h0", "hub", "s", "d", "auth")},
         |${pass("h1", "a1", "auth", "d", "s", "hub")},
         |${pass("a2", "h1", "hub", "s", "d", "auth")},
         |${pass("h2", "a2", "auth", "d", "s", "hub")}
         |SELECT nodes.node, h2.hub, a2.auth
         |FROM nodes JOIN h2 USING (node) JOIN a2 USING (node)
         |ORDER BY node""".stripMargin
    },

    // q202: per-(era, priority) exact moments, FULL OUTER on the
    // stratum, pooled weights over common strata, round-12 terms
    // decimal-summed, the same fixed diff/se/z tree
    "q202_poststrat" ->
      """WITH a AS (
        |  SELECT o_orderpriority AS s, CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |b AS (
        |  SELECT o_orderpriority AS s, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(a.s, b.s) AS s, n_a, s_a, ss_a, n_b, s_b, ss_b,
        |    (n_a IS NOT NULL AND n_b IS NOT NULL) AS inboth
        |  FROM a FULL OUTER JOIN b ON a.s = b.s),
        |wj AS (
        |  SELECT *, CAST(SUM(CASE WHEN inboth THEN n_a + n_b END) OVER () AS BIGINT) AS ncom
        |  FROM j),
        |t AS (
        |  SELECT *,
        |    CASE WHEN inboth THEN CAST(n_a + n_b AS DOUBLE) / CAST(ncom AS DOUBLE) END AS w,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
        |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
        |  FROM wj),
        |terms AS (
        |  SELECT *,
        |    CASE WHEN inboth THEN round(w * ma, 12) END AS ma_t,
        |    CASE WHEN inboth THEN round(w * mb, 12) END AS mb_t,
        |    CASE WHEN inboth AND n_a >= 2 THEN
        |      round(w * w * va / CAST(n_a AS DOUBLE), 12) END AS va_t,
        |    CASE WHEN inboth AND n_b >= 2 THEN
        |      round(w * w * vb / CAST(n_b AS DOUBLE), 12) END AS vb_t
        |  FROM t),
        |agg AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN inboth THEN n_a END), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(CASE WHEN inboth THEN n_b END), 0) AS BIGINT) AS n_b,
        |    CAST(COUNT(CASE WHEN inboth THEN 1 END) AS BIGINT) AS n_strata,
        |    CAST(COUNT(CASE WHEN n_b IS NULL THEN 1 END) AS BIGINT) AS strata_a_only,
        |    CAST(COUNT(CASE WHEN n_a IS NULL THEN 1 END) AS BIGINT) AS strata_b_only,
        |    CAST(SUM(CAST(ma_t AS DECIMAL(38,12))) AS DOUBLE) AS ma_d,
        |    CAST(SUM(CAST(mb_t AS DECIMAL(38,12))) AS DOUBLE) AS mb_d,
        |    MAX(CASE WHEN inboth AND (n_a < 2 OR n_b < 2) THEN 1 ELSE 0 END) AS degen,
        |    CAST(SUM(CAST(va_t AS DECIMAL(38,12))) AS DOUBLE) AS va_d,
        |    CAST(SUM(CAST(vb_t AS DECIMAL(38,12))) AS DOUBLE) AS vb_d
        |  FROM terms)
        |SELECT n_a, n_b, n_strata, strata_a_only, strata_b_only,
        |  CASE WHEN n_strata > 0 THEN round(ma_d, 6) END AS mean_a_post,
        |  CASE WHEN n_strata > 0 THEN round(mb_d, 6) END AS mean_b_post,
        |  CASE WHEN n_strata > 0 THEN round(mb_d - ma_d, 6) END AS diff,
        |  CASE WHEN degen = 0 AND n_strata > 0 AND va_d + vb_d > 0 THEN
        |    round(sqrt(va_d + vb_d), 6) END AS se,
        |  CASE WHEN degen = 0 AND n_strata > 0 AND va_d + vb_d > 0 THEN
        |    round((mb_d - ma_d) / sqrt(va_d + vb_d), 6) END AS z
        |FROM agg""".stripMargin,

    // q203/q204/q205 share the ANOVA tail: per-group exact moments,
    // round-12 S²/n terms decimal-summed, the fixed F/η² tree
    "q203_anova" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1),
        |t AS (
        |  SELECT *,
        |    round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tb,
        |    round(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tw
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(s) AS DECIMAL(38,2)) AS st,
        |    SUM(CAST(tb AS DECIMAL(38,12))) AS sb,
        |    SUM(CAST(tw AS DECIMAL(38,12))) AS sw
        |  FROM t),
        |fin AS (
        |  SELECT n_total, k_groups,
        |    CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE) AS ssb,
        |    CAST(sw AS DOUBLE) AS ssw
        |  FROM agg)
        |SELECT n_total, k_groups,
        |  CAST(round(ssb, 0) AS BIGINT) AS ss_between,
        |  CAST(round(ssw, 0) AS BIGINT) AS ss_within,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0 THEN
        |    round((ssb / CAST(k_groups - 1 AS DOUBLE)) /
        |      (ssw / CAST(n_total - k_groups AS DOUBLE)), 6) END AS f,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssb + ssw > 0 THEN
        |    round(ssb / (ssb + ssw), 6) END AS eta_sq
        |FROM fin""".stripMargin,

    "q204_anova_by_group" ->
      """WITH m AS (
        |  SELECT o_orderstatus AS grp, o_orderpriority AS g,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT *,
        |    round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tb,
        |    round(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tw
        |  FROM m),
        |agg AS (
        |  SELECT grp, CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(s) AS DECIMAL(38,2)) AS st,
        |    SUM(CAST(tb AS DECIMAL(38,12))) AS sb,
        |    SUM(CAST(tw AS DECIMAL(38,12))) AS sw
        |  FROM t GROUP BY 1),
        |fin AS (
        |  SELECT grp, n_total, k_groups,
        |    CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE) AS ssb,
        |    CAST(sw AS DOUBLE) AS ssw
        |  FROM agg)
        |SELECT grp, n_total, k_groups,
        |  CAST(round(ssb, 0) AS BIGINT) AS ss_between,
        |  CAST(round(ssw, 0) AS BIGINT) AS ss_within,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0 THEN
        |    round((ssb / CAST(k_groups - 1 AS DOUBLE)) /
        |      (ssw / CAST(n_total - k_groups AS DOUBLE)), 6) END AS f,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssb + ssw > 0 THEN
        |    round(ssb / (ssb + ssw), 6) END AS eta_sq
        |FROM fin ORDER BY grp""".stripMargin,

    // q205: rank-selected LOWER median per group, exact decimal
    // |x − median| deviations, then the q203 ANOVA tail on them
    "q205_brown_forsythe" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM src),
        |med AS (SELECT g, MIN(v) AS med FROM r WHERE rn = (n + 1) // 2 GROUP BY g),
        |dev AS (
        |  SELECT src.g, CAST(abs(src.v - med.med) AS DECIMAL(18,2)) AS z
        |  FROM src JOIN med USING (g)),
        |m AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(z) AS DECIMAL(38,2)) AS s,
        |    CAST(SUM(z * z) AS DECIMAL(38,4)) AS ss
        |  FROM dev GROUP BY 1),
        |t AS (
        |  SELECT *,
        |    round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tb,
        |    round(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tw
        |  FROM m),
        |agg AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(s) AS DECIMAL(38,2)) AS st,
        |    SUM(CAST(tb AS DECIMAL(38,12))) AS sb,
        |    SUM(CAST(tw AS DECIMAL(38,12))) AS sw
        |  FROM t),
        |fin AS (
        |  SELECT n_total, k_groups,
        |    CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE) AS ssb,
        |    CAST(sw AS DOUBLE) AS ssw
        |  FROM agg)
        |SELECT n_total, k_groups,
        |  CAST(round(ssb, 0) AS BIGINT) AS ss_between,
        |  CAST(round(ssw, 0) AS BIGINT) AS ss_within,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0 THEN
        |    round((ssb / CAST(k_groups - 1 AS DOUBLE)) /
        |      (ssw / CAST(n_total - k_groups AS DOUBLE)), 6) END AS f,
        |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssb + ssw > 0 THEN
        |    round(ssb / (ssb + ssw), 6) END AS eta_sq
        |FROM fin""".stripMargin,

    // q206: the per-group moment census self-joined g_a < g_b, then
    // the q162 Welch tree per pair, m_comparisons off the pair frame
    "q206_pairwise_welch" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b,
        |    a.s AS s_a, b.s AS s_b, a.ss AS ss_a, b.ss AS ss_b,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m_comparisons
        |  FROM m a JOIN m b ON a.g < b.g),
        |f AS (
        |  SELECT *,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
        |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
        |  FROM p),
        |g2 AS (
        |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
        |  FROM f)
        |SELECT g_a, g_b, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
        |    round((ma - mb) / sqrt(se2), 6) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
        |    round(se2 * se2 /
        |      ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
        |       (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6)
        |  END AS df,
        |  m_comparisons
        |FROM g2 ORDER BY g_a, g_b""".stripMargin,

    // q207: one listwise-complete scan, all six pairwise r off the
    // single moment row — the q119 fixed shape per pair
    "q207_corr_matrix" -> {
      val colsQ = Seq("l_quantity" -> "cq", "l_extendedprice" -> "cep",
        "l_discount" -> "cd", "l_tax" -> "ctx")
      val sums = colsQ.map { case (_, a) =>
        s"CAST(SUM($a) AS DECIMAL(38,2)) AS s_$a, CAST(SUM($a * $a) AS DECIMAL(38,4)) AS ss_$a"
      }.mkString(",\n        |    ")
      val pairSums = colsQ.combinations(2).map { case Seq((_, x), (_, y)) =>
        s"CAST(SUM($x * $y) AS DECIMAL(38,4)) AS sxy_${x}_$y"
      }.mkString(",\n        |    ")
      val selects = colsQ.combinations(2).map { case Seq((nx, x), (ny, y)) =>
        s"""SELECT '$nx' AS col_a, '$ny' AS col_b, n,
           |  CASE WHEN n >= 2
           |    AND CAST(n AS DOUBLE) * CAST(ss_$x AS DOUBLE) - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE) > 0
           |    AND CAST(n AS DOUBLE) * CAST(ss_$y AS DOUBLE) - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE) > 0 THEN
           |    round((CAST(n AS DOUBLE) * CAST(sxy_${x}_$y AS DOUBLE) - CAST(s_$x AS DOUBLE) * CAST(s_$y AS DOUBLE)) /
           |      sqrt((CAST(n AS DOUBLE) * CAST(ss_$x AS DOUBLE) - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE)) *
           |           (CAST(n AS DOUBLE) * CAST(ss_$y AS DOUBLE) - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE))), 6)
           |  END AS r FROM a""".stripMargin
      }.mkString("\n        |UNION ALL\n        |")
      s"""WITH c AS (
         |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS cq,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS cep,
         |    CAST(l_discount AS DECIMAL(18,2)) AS cd,
         |    CAST(l_tax AS DECIMAL(18,2)) AS ctx
         |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    $sums,
         |    $pairSums
         |  FROM c)
         |$selects
         |ORDER BY col_a, col_b""".stripMargin
    },

    // q210: the q181 SRM machinery keyed by the order year — the
    // segments×arms completion cross + keyed windows
    "q210_srm_by_group" ->
      """WITH cen AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS grp,
        |    o_orderpriority AS arm, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1, 2),
        |decl AS (SELECT * FROM (VALUES
        |  ('1-URGENT', CAST(0.2 AS DOUBLE)), ('2-HIGH', CAST(0.2 AS DOUBLE)),
        |  ('3-MEDIUM', CAST(0.2 AS DOUBLE)), ('4-NOT SPECIFIED', CAST(0.2 AS DOUBLE)),
        |  ('5-LOW', CAST(0.2 AS DOUBLE))) AS t(arm, weight)),
        |segs AS (SELECT DISTINCT grp FROM cen),
        |comp AS (SELECT segs.grp, decl.arm, decl.weight FROM segs CROSS JOIN decl),
        |j AS (
        |  SELECT COALESCE(comp.grp, cen.grp) AS grp,
        |    COALESCE(comp.arm, cen.arm) AS arm,
        |    COALESCE(n_obs, 0) AS n_obs, weight
        |  FROM comp FULL OUTER JOIN cen
        |    ON comp.grp = cen.grp AND comp.arm = cen.arm),
        |w AS (
        |  SELECT *, CAST(SUM(CASE WHEN weight IS NOT NULL THEN n_obs END)
        |    OVER (PARTITION BY grp) AS DOUBLE) * weight AS e
        |  FROM j),
        |c AS (
        |  SELECT *, CASE WHEN weight IS NOT NULL AND e > 0 THEN
        |    round((CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e, 6)
        |  END AS contrib
        |  FROM w)
        |SELECT grp, arm, n_obs, weight, round(e, 6) AS expected, contrib,
        |  CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,6))) OVER (PARTITION BY grp)
        |    AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS chi2_micros,
        |  CAST(COUNT(weight) OVER (PARTITION BY grp) - 1 AS BIGINT) AS dof
        |FROM c ORDER BY grp, arm""".stripMargin,

    // q208: the q196 mSPRT ln-space tree with the priority key on
    // every CTE, FULL OUTER on the segment, counts coalesced
    "q208_msprt_by_group" -> {
      val thr = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
        Double.box(2.995732273553991))
      s"""WITH a AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, s_a, ss_a,
         |    COALESCE(n_b, 0) AS n_b, s_b, ss_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
         |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
         |  FROM j),
         |g AS (
         |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS vv,
         |    mb - ma AS delta
         |  FROM f),
         |h AS (
         |  SELECT *,
         |    CAST(0.5 AS DOUBLE) * round(ln(vv / (vv + CAST(1000000 AS DOUBLE))), 12) +
         |      delta * delta * CAST(1000000 AS DOUBLE) /
         |        (CAST(2.0 AS DOUBLE) * vv * (vv + CAST(1000000 AS DOUBLE))) AS lnl
         |  FROM g)
         |SELECT grp, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(delta, 6) END AS delta,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN round(lnl, 6) END AS ln_lambda,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN
         |    CASE WHEN round(lnl, 6) > 0 THEN -round(lnl, 6) ELSE CAST(0.0 AS DOUBLE) END
         |  END AS ln_p,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN
         |    CAST(round(lnl, 6) > $thr AS BIGINT) END AS reject
         |FROM h ORDER BY grp""".stripMargin
    },

    // q209: the q199 score/micros/binning recipe keyed by the crawl
    // source, 5 bins
    "q209_calibration_by_group" ->
      """WITH c AS (
        |  SELECT source, lang,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |         x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(round(round(0.5 * least(n_chars / 500.0, 1.0)
        |      + 0.3 * (1.0 - n_punct / n_chars)
        |      + 0.2 * (n_stop / n_tokens), 6) * 1000000.0, 0) AS BIGINT) AS sm,
        |    CAST(lang = 'en' AS BIGINT) AS y
        |  FROM c WHERE lang IS NOT NULL AND source IS NOT NULL
        |    AND n_chars > 0 AND n_tokens > 0),
        |b AS (
        |  SELECT source, least(4, (sm * 5) // 1000000) AS bin, sm, y FROM s),
        |agg AS (
        |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(sm) AS BIGINT) AS ssum,
        |    CAST(SUM(CAST((sm - y * 1000000) * (sm - y * 1000000) AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS br
        |  FROM b GROUP BY 1, 2)
        |SELECT source, bin, n, n_pos,
        |  CAST((ssum * 2 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS mean_score,
        |  CAST((n_pos * 2000000 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS pos_rate,
        |  CAST((n_pos * 2000000 + n) // (n * 2)
        |    - (ssum * 2 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS gap,
        |  CAST((CAST(br AS HUGEINT) * 2 + CAST(n AS HUGEINT) * 1000000)
        |    // (CAST(n AS HUGEINT) * 2000000) AS DOUBLE) / 1000000.0 AS brier
        |FROM agg ORDER BY source, bin""".stripMargin,

    // q200: the q35 brute-force CTEs and the q36 IVF CTEs, then the
    // per-query overlap/recall report over the two (qid, vid) sets
    // (chain shared with q215 via annPerQueryCtes)
    "q200_ann_recall" ->
      s"""WITH $annPerQueryCtes
        |SELECT qid, n_exact, n_approx, n_overlap, recall
        |FROM per ORDER BY qid""".stripMargin,

    // q215: the q200 per-query report LEFT-joined to the embedding
    // labels (unmapped queries keyed __unsegmented__), rolled up per
    // label with the silent-miss count and the micro recall
    "q215_ann_recall_by_group" ->
      s"""WITH $annPerQueryCtes,
        |lab AS (
        |  SELECT DISTINCT vec_id AS qid, CAST(label AS VARCHAR) AS seg
        |  FROM embeddings WHERE vec_id IS NOT NULL),
        |jl AS (
        |  SELECT per.*, COALESCE(lab.seg, '__unsegmented__') AS grp
        |  FROM per LEFT JOIN lab USING (qid))
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(SUM(CASE WHEN n_approx = 0 AND n_exact > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_silent_miss,
        |  CAST(SUM(n_exact) AS BIGINT) AS n_exact,
        |  CAST(SUM(n_approx) AS BIGINT) AS n_approx,
        |  CAST(SUM(n_overlap) AS BIGINT) AS n_overlap,
        |  CASE WHEN CAST(SUM(n_exact) AS BIGINT) > 0 THEN
        |    round(CAST(CAST(SUM(n_overlap) AS BIGINT) AS DOUBLE) /
        |      CAST(CAST(SUM(n_exact) AS BIGINT) AS DOUBLE), 6) END AS recall
        |FROM jl GROUP BY grp ORDER BY grp""".stripMargin,

    // (q200/q215 shared per-query chain lives in annPerQueryCtes below)

    // q199: the q40 score recipe → exact integer micros (explicit
    // half-up round before the BIGINT cast — Spark casts truncate,
    // DuckDB casts round) → pure-integer binning → per-bin moments
    "q199_calibration" ->
      """WITH c AS (
        |  SELECT lang,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
        |         x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |s AS (
        |  SELECT CAST(round(round(0.5 * least(n_chars / 500.0, 1.0)
        |      + 0.3 * (1.0 - n_punct / n_chars)
        |      + 0.2 * (n_stop / n_tokens), 6) * 1000000.0, 0) AS BIGINT) AS sm,
        |    CAST(lang = 'en' AS BIGINT) AS y
        |  FROM c WHERE lang IS NOT NULL AND n_chars > 0 AND n_tokens > 0),
        |b AS (
        |  SELECT least(9, (sm * 10) // 1000000) AS bin, sm, y FROM s),
        |agg AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(sm) AS BIGINT) AS ssum,
        |    CAST(SUM(CAST((sm - y * 1000000) * (sm - y * 1000000) AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS br
        |  FROM b GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST((ssum * 2 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS mean_score,
        |  CAST((n_pos * 2000000 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS pos_rate,
        |  CAST((n_pos * 2000000 + n) // (n * 2)
        |    - (ssum * 2 + n) // (n * 2) AS DOUBLE) / 1000000.0 AS gap,
        |  CAST((CAST(br AS HUGEINT) * 2 + CAST(n AS HUGEINT) * 1000000)
        |    // (CAST(n AS HUGEINT) * 2000000) AS DOUBLE) / 1000000.0 AS brier
        |FROM agg ORDER BY bin""".stripMargin,

    // q211: the q210 chain reduced to one row per segment, then the
    // portable chi-square p (fixed-N incomplete-gamma series — see
    // pvChiSqCtes) and the BH windows (see pvBhCtes)
    "q211_srm_fdr" -> {
      s"""WITH cen AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS grp,
         |    o_orderpriority AS arm, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
         |  GROUP BY 1, 2),
         |decl AS (SELECT * FROM (VALUES
         |  ('1-URGENT', CAST(0.2 AS DOUBLE)), ('2-HIGH', CAST(0.2 AS DOUBLE)),
         |  ('3-MEDIUM', CAST(0.2 AS DOUBLE)), ('4-NOT SPECIFIED', CAST(0.2 AS DOUBLE)),
         |  ('5-LOW', CAST(0.2 AS DOUBLE))) AS t(arm, weight)),
         |segs AS (SELECT DISTINCT grp FROM cen),
         |comp AS (SELECT segs.grp, decl.arm, decl.weight FROM segs CROSS JOIN decl),
         |j AS (
         |  SELECT COALESCE(comp.grp, cen.grp) AS grp,
         |    COALESCE(comp.arm, cen.arm) AS arm,
         |    COALESCE(n_obs, 0) AS n_obs, weight
         |  FROM comp FULL OUTER JOIN cen
         |    ON comp.grp = cen.grp AND comp.arm = cen.arm),
         |w AS (
         |  SELECT *, CAST(SUM(CASE WHEN weight IS NOT NULL THEN n_obs END)
         |    OVER (PARTITION BY grp) AS DOUBLE) * weight AS e
         |  FROM j),
         |c AS (
         |  SELECT *, CASE WHEN weight IS NOT NULL AND e > 0 THEN
         |    round((CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e, 6)
         |  END AS contrib
         |  FROM w),
         |seg0 AS (
         |  SELECT DISTINCT grp,
         |    CAST(CAST(SUM(CAST(contrib AS DECIMAL(38,6))) OVER (PARTITION BY grp)
         |      AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS chi2_micros,
         |    CAST(COUNT(weight) OVER (PARTITION BY grp) - 1 AS BIGINT) AS dof
         |  FROM c),
         |pvin AS (
         |  SELECT grp AS g, grp, chi2_micros, dof,
         |    CAST(chi2_micros AS DOUBLE) / 1000000.0 AS x,
         |    CAST(dof AS DOUBLE) AS k
         |  FROM seg0),
         |${pvChiSqCtes("pvin")},
         |bhin AS (SELECT grp, chi2_micros, dof, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT grp, chi2_micros, dof, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q212: the q169 Welch chain, then the portable two-sided t p
    // (fixed-N incomplete-beta series, both branches — see
    // pvBetaTCtes) and the BH windows
    "q212_welch_fdr" -> {
      s"""WITH a AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |    s_a, s_b, ss_a, ss_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
         |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
         |  FROM m),
         |welch AS (
         |  SELECT grp, n_a, n_b,
         |    CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |    CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((vna + vnb) * (vna + vnb) /
         |        (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
         |         vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
         |  FROM f),
         |pvin AS (
         |  SELECT grp AS g, grp, n_a, n_b, mean_a, mean_b, t, df,
         |    CAST(t AS DOUBLE) AS tv, CAST(df AS DOUBLE) AS nu
         |  FROM welch),
         |${pvBetaTCtes("pvin")},
         |bhin AS (SELECT grp, n_a, n_b, mean_a, mean_b, t, df, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT grp, n_a, n_b, mean_a, mean_b, t, df, p, bh_rank, m_tests,
         |  p_adj, CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q213: exact integer (n, successes) per era, one 1x1 cross, the
    // pooled-variance two-proportion sizing tree with the shared
    // 17-digit z literals
    "q213_mde_proportions" -> {
      val z = String.format(java.util.Locale.ROOT,
        "(CAST(%.17e AS DOUBLE) + CAST(%.17e AS DOUBLE))",
        Double.box(graft.api.Ops.zAlpha025), Double.box(graft.api.Ops.zPower80))
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS x_a
         |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
         |b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS x_b
         |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
         |f AS (
         |  SELECT *,
         |    (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE)) /
         |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
         |  FROM a CROSS JOIN b),
         |g AS (
         |  SELECT *, pool * (1.0 - pool) *
         |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) AS se2
         |  FROM f)
         |SELECT n_a, n_b, x_a, x_b,
         |  CASE WHEN n_a > 0 THEN
         |    round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS p_a,
         |  CASE WHEN n_b > 0 THEN
         |    round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS p_b,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN round(pool, 6) END AS p_pool,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0 THEN
         |    round($z * sqrt(se2), 6) END AS mde_abs,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0 AND CAST(x_a AS DOUBLE) > 0 THEN
         |    round($z * sqrt(se2) /
         |      (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)), 6) END AS mde_rel
         |FROM g""".stripMargin
    },

    // q214: the moment census, the pure-integer three-tier candidate
    // grid, the q196 ln-space boundary at delta=100 / tau2=1e6, MIN
    // crossing
    "q214_msprt_horizon" -> {
      val thr = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
        Double.box(2.995732273553991))
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_src,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |f AS (
         |  SELECT *,
         |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |      / CAST(n_src AS DOUBLE)) / (CAST(n_src AS DOUBLE) - 1.0) AS v
         |  FROM m),
         |fok AS (
         |  SELECT *, (n_src >= 2 AND v > 0.0) AS okv,
         |    CASE WHEN n_src >= 2 AND v > 0.0 THEN v ELSE 1.0 END AS vs
         |  FROM f),
         |grid AS (
         |  SELECT CAST(n AS BIGINT) AS n_try FROM generate_series(1, 65536) AS g1(n)
         |  UNION ALL
         |  SELECT CAST(n AS BIGINT) FROM generate_series(66560, 67108864, 1024) AS g2(n)
         |  UNION ALL
         |  SELECT CAST(n AS BIGINT) FROM generate_series(67174400, 1073741824, 65536) AS g3(n)),
         |ex AS (
         |  SELECT fok.*, grid.n_try,
         |    2.0 * vs / CAST(n_try AS DOUBLE) AS vv
         |  FROM fok CROSS JOIN grid),
         |ln1 AS (
         |  SELECT *, 0.5 * round(ln(vv / (vv + CAST(1000000.0 AS DOUBLE))), 12) +
         |    CAST(10000.0 AS DOUBLE) * CAST(1000000.0 AS DOUBLE) /
         |      (2.0 * vv * (vv + CAST(1000000.0 AS DOUBLE))) AS lnl
         |  FROM ex)
         |SELECT MAX(n_src) AS n_src,
         |  MAX(CASE WHEN okv THEN CAST(round(v, 0) AS BIGINT) END) AS sigma2,
         |  CAST(100.0 AS DOUBLE) AS delta,
         |  CAST(1000000.0 AS DOUBLE) AS tau2,
         |  MIN(CASE WHEN okv AND lnl > $thr THEN n_try END) AS horizon_n
         |FROM ln1""".stripMargin
    },

    // q216: the q204 ANOVA chain per status, then the portable F p
    // (fixed-N incomplete-beta series at d1 = k−1, d2 = N−k — see
    // pvFCtes) and the BH windows
    "q216_anova_fdr" -> {
      s"""WITH m AS (
         |  SELECT o_orderstatus AS grp, o_orderpriority AS g,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
         |    AND o_orderstatus IS NOT NULL
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT *,
         |    round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tb,
         |    round(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 12) AS tw
         |  FROM m),
         |agg AS (
         |  SELECT grp, CAST(SUM(n) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS k_groups,
         |    CAST(SUM(s) AS DECIMAL(38,2)) AS st,
         |    SUM(CAST(tb AS DECIMAL(38,12))) AS sb,
         |    SUM(CAST(tw AS DECIMAL(38,12))) AS sw
         |  FROM t GROUP BY 1),
         |fin AS (
         |  SELECT grp, n_total, k_groups,
         |    CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n_total AS DOUBLE) AS ssb,
         |    CAST(sw AS DOUBLE) AS ssw
         |  FROM agg),
         |an AS (
         |  SELECT grp, n_total, k_groups,
         |    CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0 THEN
         |      round((ssb / CAST(k_groups - 1 AS DOUBLE)) /
         |        (ssw / CAST(n_total - k_groups AS DOUBLE)), 6) END AS f,
         |    CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssb + ssw > 0 THEN
         |      round(ssb / (ssb + ssw), 6) END AS eta_sq
         |  FROM fin),
         |pvin AS (
         |  SELECT grp AS g, grp, n_total, k_groups, f, eta_sq,
         |    CAST(f AS DOUBLE) AS fv, CAST(k_groups - 1 AS DOUBLE) AS k1,
         |    CAST(n_total - k_groups AS DOUBLE) AS k2
         |  FROM an),
         |${pvFCtes("pvin")},
         |bhin AS (SELECT grp, n_total, k_groups, f, eta_sq, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT grp, n_total, k_groups, f, eta_sq, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q217: the q177 Kruskal–Wallis chain reduced to one row per
    // segment, then the portable chi-square p at the χ²(k−1) null
    // (H's tie-corrected h_adj) and the BH windows
    "q217_kw_fdr" -> {
      s"""WITH src AS (
         |  SELECT o_orderpriority AS seg, o_orderstatus AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM orders WHERE o_totalprice IS NOT NULL
         |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
         |cg AS (SELECT seg, grp, v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
         |mv AS (SELECT seg, v, CAST(SUM(c) AS BIGINT) AS m FROM cg GROUP BY 1, 2),
         |mvs AS (
         |  SELECT seg, v, m, COALESCE(CAST(SUM(m) OVER (PARTITION BY seg ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
         |  FROM mv),
         |per AS (
         |  SELECT seg, grp, CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(s * 2 + m + 1 AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS r2
         |  FROM cg JOIN mvs USING (seg, v) GROUP BY 1, 2),
         |sc AS (
         |  SELECT seg, CAST(SUM(CAST(m AS DECIMAL(12,0)) * CAST(m AS DECIMAL(12,0)) *
         |      CAST(m AS DECIMAL(12,0)) - CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie,
         |    CAST(SUM(m) AS BIGINT) AS n_total
         |  FROM mv GROUP BY 1),
         |pq AS (
         |  SELECT per.*, sc.tie, sc.n_total,
         |    CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) AS rsq,
         |    CAST(n AS HUGEINT) * 4 AS den
         |  FROM per JOIN sc USING (seg)),
         |pq2 AS (SELECT *, (rsq - rsq % den) // den AS q, rsq % den AS rem FROM pq),
         |w AS (
         |  SELECT *, CAST(SUM(q) OVER (PARTITION BY seg) AS DOUBLE) AS qsum,
         |    CAST(SUM(CAST(round(CAST(rem AS DOUBLE) / CAST(den AS DOUBLE), 12)
         |      AS DECIMAL(38,12))) OVER (PARTITION BY seg) AS DOUBLE) AS fsum,
         |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS k_groups
         |  FROM pq2),
         |f AS (
         |  SELECT *,
         |    CAST(12 AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)))
         |      * (qsum + fsum) - CAST(3 AS DOUBLE) * (CAST(n_total AS DOUBLE) + CAST(1 AS DOUBLE)) AS hraw,
         |    CASE WHEN n_total > 1 THEN CAST(1 AS DOUBLE) - CAST(tie AS DOUBLE) /
         |      CAST(CAST(n_total AS HUGEINT) * n_total * n_total - n_total AS DOUBLE) END AS cc
         |  FROM w),
         |kwfin AS (
         |  SELECT seg, n_total, k_groups, round(hraw, 6) AS h,
         |    CASE WHEN cc > 0 THEN round(hraw / cc, 6) END AS h_adj
         |  FROM f),
         |kwred AS (SELECT DISTINCT seg, n_total, k_groups, h, h_adj FROM kwfin),
         |pvin AS (
         |  SELECT seg AS g, seg, n_total, k_groups, h, h_adj,
         |    CAST(h_adj AS DOUBLE) AS x, CAST(k_groups - 1 AS DOUBLE) AS k
         |  FROM kwred),
         |${pvChiSqCtes("pvin")},
         |bhin AS (SELECT seg, n_total, k_groups, h, h_adj, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT seg, n_total, k_groups, h, h_adj, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY seg""".stripMargin
    },

    // q218: the q159 Mann–Whitney chain, then the portable chi-square
    // p at dof 1 (Z² ~ χ²₁ — the two-sided normal approximation with
    // no new machinery) and the BH windows
    "q218_mwu_fdr" -> {
      s"""WITH src AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    o_orderdate AS d
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL),
         |ca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM src
         |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |cb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM src
         |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |m AS (
         |  SELECT COALESCE(ca.grp, cb.grp) AS grp, COALESCE(ca.v, cb.v) AS v,
         |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.grp = cb.grp AND ca.v = cb.v),
         |w AS (
         |  SELECT *, ca + cb AS mm,
         |    COALESCE(CAST(SUM(ca + cb) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
         |  FROM m),
         |agg AS (
         |  SELECT grp, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm + 1 AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS r2a,
         |    CAST(SUM(CAST(mm AS DECIMAL(12,0)) * CAST(mm AS DECIMAL(12,0)) *
         |      CAST(mm AS DECIMAL(12,0)) - CAST(mm AS DECIMAL(38,0)))
         |      AS DECIMAL(38,0)) AS tie
         |  FROM w GROUP BY 1),
         |f AS (
         |  SELECT grp, n_a, n_b,
         |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
         |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2,
         |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE) *
         |      ((CAST(n_a + n_b AS DOUBLE) + CAST(1 AS DOUBLE)) -
         |        CAST(tie AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
         |          (CAST(n_a + n_b AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
         |  FROM agg),
         |mwufin AS (
         |  SELECT grp, n_a, n_b, CAST(u2 AS BIGINT) AS u2,
         |    CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b >= 2 AND var > 0 THEN
         |      round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
         |        (CAST(2 AS DOUBLE) * sqrt(var)), 6) END AS z
         |  FROM f),
         |pvin AS (
         |  SELECT grp AS g, grp, n_a, n_b, u2, z, z * z AS x,
         |    CAST(1.0 AS DOUBLE) AS k
         |  FROM mwufin),
         |${pvChiSqCtes("pvin")},
         |bhin AS (SELECT grp, n_a, n_b, u2, z, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT grp, n_a, n_b, u2, z, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q219: the q178 Spearman chain, the exact t-transform
    // t = ρ√((n−2)/(1−ρ²)) on ν = n−2, the portable two-sided t p,
    // the explicit ρ = ±1 → p = 0 branch, and the BH windows
    "q219_spearman_fdr" -> {
      s"""WITH src AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vx,
         |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS vy
         |  FROM lineitem WHERE l_returnflag IS NOT NULL
         |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         |cx AS (SELECT grp, vx, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
         |rx AS (
         |  SELECT grp, vx, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
         |    + m + 1 AS ux
         |  FROM cx),
         |cy AS (SELECT grp, vy, CAST(count(*) AS BIGINT) AS m FROM src GROUP BY 1, 2),
         |ry AS (
         |  SELECT grp, vy, COALESCE(CAST(SUM(m) OVER (PARTITION BY grp ORDER BY vy
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 2
         |    + m + 1 AS uy
         |  FROM cy),
         |j AS (
         |  SELECT s.grp, rx.ux, ry.uy FROM src s
         |  JOIN rx ON s.grp = rx.grp AND s.vx = rx.vx
         |  JOIN ry ON s.grp = ry.grp AND s.vy = ry.vy),
         |agg AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS su,
         |    CAST(SUM(CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sv,
         |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(ux AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suu,
         |    CAST(SUM(CAST(uy AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS svv,
         |    CAST(SUM(CAST(ux AS DECIMAL(19,0)) * CAST(uy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suv
         |  FROM j GROUP BY 1),
         |sp AS (
         |  SELECT grp, n,
         |    CASE WHEN CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) > 0
         |          AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0 THEN
         |      round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) /
         |        sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) *
         |             (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
         |    END AS rho
         |  FROM agg),
         |tadd AS (
         |  SELECT *, CASE WHEN n >= 3 AND rho IS NOT NULL AND rho * rho < 1.0 THEN
         |    round(rho * sqrt(CAST(n - 2 AS DOUBLE) / (1.0 - rho * rho)), 6)
         |  END AS t_stat
         |  FROM sp),
         |pvin AS (
         |  SELECT grp AS g, grp, n, rho, t_stat,
         |    CAST(t_stat AS DOUBLE) AS tv, CAST(n - 2 AS DOUBLE) AS nu
         |  FROM tadd),
         |${pvBetaTCtes("pvin")},
         |pfix AS (
         |  SELECT grp, n, rho, t_stat,
         |    CASE WHEN n >= 3 AND rho IS NOT NULL AND rho * rho >= 1.0 THEN 0.0
         |      ELSE p END AS p, g
         |  FROM pvfin),
         |${pvBhCtes("pfix", "g")}
         |SELECT grp, n, rho, t_stat, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q220: the q158 KS chain, λ = √(n_a·n_b/(n_a+n_b))·D round 6,
    // the portable 64-term Kolmogorov tail (see pvKsCtes), the BH
    // windows
    "q220_ks_fdr" -> {
      s"""WITH src AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    o_orderdate AS d
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL),
         |ca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM src
         |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |cb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM src
         |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |m AS (
         |  SELECT COALESCE(ca.grp, cb.grp) AS grp, COALESCE(ca.v, cb.v) AS v,
         |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.grp = cb.grp AND ca.v = cb.v),
         |w AS (
         |  SELECT grp, v, ca, cb,
         |    CAST(SUM(ca) OVER (PARTITION BY grp) AS BIGINT) AS n_a,
         |    CAST(SUM(cb) OVER (PARTITION BY grp) AS BIGINT) AS n_b,
         |    CAST(SUM(ca) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
         |    CAST(SUM(cb) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
         |  FROM m),
         |g AS (
         |  SELECT *, CAST(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(n_b AS DECIMAL(18,0)) -
         |    CAST(cum_b AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS d_num
         |  FROM w),
         |r AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY d_num DESC, v) AS rk FROM g),
         |ksfin AS (
         |  SELECT grp, n_a, n_b, CAST(d_num AS BIGINT) AS d_num, v AS at_value,
         |    CASE WHEN n_a > 0 AND n_b > 0 THEN
         |      round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS d_stat
         |  FROM r WHERE rk = 1),
         |lamc AS (
         |  SELECT *, CASE WHEN d_stat IS NOT NULL AND n_a > 0 AND n_b > 0 THEN
         |    round(d_stat * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
         |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) END AS lam
         |  FROM ksfin),
         |pvin AS (
         |  SELECT grp AS g, grp, n_a, n_b, d_num, at_value, d_stat, lam
         |  FROM lamc),
         |${pvKsCtes("pvin")},
         |bhin AS (SELECT grp, n_a, n_b, d_num, at_value, d_stat, lam, p, g FROM pvfin),
         |${pvBhCtes("bhin", "g")}
         |SELECT grp, n_a, n_b, d_num, at_value, d_stat, lam, p, bh_rank, m_tests,
         |  p_adj, CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject
         |FROM bh3 ORDER BY grp""".stripMargin
    },

    // q221: the three era-shift batteries (Welch t / MWU z / KS D)
    // per priority, each finished through its portable p chain
    // (prefixed CTE sets so three finishers coexist in one
    // statement), unioned into ONE 15-hypothesis battery, BH over
    // the union — a single FDR budget across tests AND segments
    "q221_governance_battery" -> governanceBatterySql,

    // q235/q236: the unigram-LM tokenizer pair — substring seed,
    // recursive-CTE Viterbi-EM rounds, the apply half's vocab join
    "q235_unigram_train" -> unigramTrainSql,
    "q236_unigram_encode" -> unigramEncodeSql,

    // q231: the CUMULATIVE battery gate — the engine decides the
    // battery from PreparedGovernance censuses (baseline = pre-1998,
    // current = the 1998Q1 trigger ABSORBING the post-Q1 trigger);
    // absorb is exact census addition, so the oracle replays the
    // union directly: the identical q221 statement over raw rows
    "q231_governance_from_prepared" -> governanceBatterySql,

    // q222: the q213 exact integer (n, successes) censuses keyed by
    // priority, a full-outer segment join, the same pooled-variance
    // sizing tree per segment with sanitized divisors
    "q222_mde_prop_by_group" -> {
      val z = String.format(java.util.Locale.ROOT,
        "(CAST(%.17e AS DOUBLE) + CAST(%.17e AS DOUBLE))",
        Double.box(graft.api.Ops.zAlpha025), Double.box(graft.api.Ops.zPower80))
      s"""WITH a AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS x_a
         |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS x_b
         |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(x_a, 0) AS x_a,
         |    COALESCE(n_b, 0) AS n_b, COALESCE(x_b, 0) AS x_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |s AS (
         |  SELECT *,
         |    CASE WHEN n_a >= 1 THEN CAST(n_a AS DOUBLE) ELSE 1.0 END AS nsa,
         |    CASE WHEN n_b >= 1 THEN CAST(n_b AS DOUBLE) ELSE 1.0 END AS nsb
         |  FROM m),
         |f AS (
         |  SELECT *,
         |    (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE)) / (nsa + nsb) AS pool
         |  FROM s),
         |g AS (
         |  SELECT *, pool * (1.0 - pool) * (1.0 / nsa + 1.0 / nsb) AS se2
         |  FROM f)
         |SELECT grp, n_a, n_b, x_a, x_b,
         |  CASE WHEN n_a > 0 THEN
         |    round(CAST(x_a AS DOUBLE) / nsa, 6) END AS p_a,
         |  CASE WHEN n_b > 0 THEN
         |    round(CAST(x_b AS DOUBLE) / nsb, 6) END AS p_b,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN round(pool, 6) END AS p_pool,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0 THEN
         |    round($z * sqrt(se2), 6) END AS mde_abs,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 AND se2 > 0 AND CAST(x_a AS DOUBLE) > 0 THEN
         |    round($z * sqrt(se2) / (CAST(x_a AS DOUBLE) / nsa), 6) END AS mde_rel
         |FROM g ORDER BY grp""".stripMargin
    },

    // q223: the q214 moment census keyed by priority, the SAME
    // pure-integer three-tier grid crossed per segment, the ln-space
    // boundary, MIN crossing per segment
    "q223_horizon_by_group" -> {
      val thr = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
        Double.box(2.995732273553991))
      s"""WITH m AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_src,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
         |  GROUP BY 1),
         |f AS (
         |  SELECT *,
         |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |      / CAST(n_src AS DOUBLE)) /
         |    (CASE WHEN n_src >= 2 THEN CAST(n_src AS DOUBLE) - 1.0 ELSE 1.0 END) AS v
         |  FROM m),
         |fok AS (
         |  SELECT *, (n_src >= 2 AND v > 0.0) AS okv,
         |    CASE WHEN n_src >= 2 AND v > 0.0 THEN v ELSE 1.0 END AS vs
         |  FROM f),
         |grid AS (
         |  SELECT CAST(n AS BIGINT) AS n_try FROM generate_series(1, 65536) AS g1(n)
         |  UNION ALL
         |  SELECT CAST(n AS BIGINT) FROM generate_series(66560, 67108864, 1024) AS g2(n)
         |  UNION ALL
         |  SELECT CAST(n AS BIGINT) FROM generate_series(67174400, 1073741824, 65536) AS g3(n)),
         |ex AS (
         |  SELECT fok.*, grid.n_try,
         |    2.0 * vs / CAST(n_try AS DOUBLE) AS vv
         |  FROM fok CROSS JOIN grid),
         |ln1 AS (
         |  SELECT *, 0.5 * round(ln(vv / (vv + CAST(1000000.0 AS DOUBLE))), 12) +
         |    CAST(10000.0 AS DOUBLE) * CAST(1000000.0 AS DOUBLE) /
         |      (2.0 * vv * (vv + CAST(1000000.0 AS DOUBLE))) AS lnl
         |  FROM ex)
         |SELECT grp, MAX(n_src) AS n_src,
         |  MAX(CASE WHEN okv THEN CAST(round(v, 0) AS BIGINT) END) AS sigma2,
         |  CAST(100.0 AS DOUBLE) AS delta,
         |  CAST(1000000.0 AS DOUBLE) AS tau2,
         |  MIN(CASE WHEN okv AND lnl > $thr THEN n_try END) AS horizon_n
         |FROM ln1 GROUP BY grp ORDER BY grp""".stripMargin
    },

    // q224: the q159 Mann–Whitney chain, then Cliff's delta =
    // (u2 − n_a·n_b)/(n_a·n_b) exact before ONE double division, and
    // the Romano magnitude band on the round-6 delta
    "q224_cliffs_delta" -> {
      s"""WITH src AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    o_orderdate AS d
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL),
         |ca AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS ca FROM src
         |  WHERE d < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |cb AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS cb FROM src
         |  WHERE d >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
         |m AS (
         |  SELECT COALESCE(ca.grp, cb.grp) AS grp, COALESCE(ca.v, cb.v) AS v,
         |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.grp = cb.grp AND ca.v = cb.v),
         |w AS (
         |  SELECT *, ca + cb AS mm,
         |    COALESCE(CAST(SUM(ca + cb) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
         |  FROM m),
         |agg AS (
         |  SELECT grp, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(s * 2 + mm + 1 AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS r2a
         |  FROM w GROUP BY 1),
         |f AS (
         |  SELECT grp, n_a, n_b,
         |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0)) *
         |      CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS u2
         |  FROM agg),
         |dl AS (
         |  SELECT grp, n_a, n_b, CAST(u2 AS BIGINT) AS u2,
         |    CASE WHEN n_a > 0 AND n_b > 0 THEN
         |      round(CAST(CAST(CAST(u2 AS BIGINT) AS DECIMAL(38,0)) -
         |          CAST(CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
         |            AS DECIMAL(38,0)) AS DOUBLE) /
         |        (CASE WHEN n_a > 0 AND n_b > 0 THEN
         |          CAST(CAST(CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
         |            AS DECIMAL(38,0)) AS DOUBLE) ELSE 1.0 END), 6)
         |    END AS delta
         |  FROM f)
         |SELECT grp, n_a, n_b, u2, delta,
         |  CASE WHEN delta IS NOT NULL THEN
         |    CASE WHEN abs(delta) < CAST(0.147 AS DOUBLE) THEN 'negligible'
         |      WHEN abs(delta) < CAST(0.33 AS DOUBLE) THEN 'small'
         |      WHEN abs(delta) < CAST(0.474 AS DOUBLE) THEN 'medium'
         |      ELSE 'large' END
         |  END AS magnitude
         |FROM dl ORDER BY grp""".stripMargin
    },

    // q225: the q212 moment censuses, the pooled-SD d, and Hedges' g
    // through the SAME Lanczos lnGamma the p-value layer uses —
    // ln J = lnΓ(ν/2) − ½·round(ln(ν/2),12) − lnΓ((ν−1)/2)
    "q225_cohens_d" -> {
      val lnj = s"""(${lnGammaSql("(nus / 2.0)")} - 0.5 * round(ln(nus / 2.0), 12)
         | - ${lnGammaSql("((nus - 1.0) / 2.0)")})""".stripMargin
      s"""WITH a AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |    s_a, s_b, ss_a, ss_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |st AS (
         |  SELECT *,
         |    CASE WHEN n_a >= 1 THEN CAST(n_a AS DOUBLE) ELSE 1.0 END AS nma,
         |    CASE WHEN n_b >= 1 THEN CAST(n_b AS DOUBLE) ELSE 1.0 END AS nmb,
         |    CASE WHEN n_a >= 2 THEN CAST(n_a AS DOUBLE) ELSE 2.0 END AS nsa,
         |    CASE WHEN n_b >= 2 THEN CAST(n_b AS DOUBLE) ELSE 2.0 END AS nsb,
         |    (n_a >= 2 AND n_b >= 2) AS ok
         |  FROM m),
         |sp AS (
         |  SELECT *,
         |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / nsa)
         |      + (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / nsb))
         |      / (nsa + nsb - 2.0) AS sp2
         |  FROM st),
         |dr AS (
         |  SELECT *,
         |    CASE WHEN ok THEN CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0
         |      ELSE 4.0 END AS nus,
         |    (CAST(s_a AS DOUBLE) / nsa - CAST(s_b AS DOUBLE) / nsb) /
         |      sqrt(CASE WHEN ok AND sp2 > 0.0 THEN sp2 ELSE 1.0 END) AS draw
         |  FROM sp)
         |SELECT grp, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(CAST(s_a AS DOUBLE) / nma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(CAST(s_b AS DOUBLE) / nmb, 6) END AS mean_b,
         |  CASE WHEN ok AND sp2 > 0.0 THEN round(sqrt(sp2), 6) END AS sd_pooled,
         |  CASE WHEN ok AND sp2 > 0.0 THEN round(draw, 6) END AS d,
         |  CASE WHEN ok AND sp2 > 0.0 THEN round(draw * exp($lnj), 6) END AS g
         |FROM dr ORDER BY grp""".stripMargin
    },

    // q226: one moment census, the declared delta grid, the classic
    // fixed-horizon n = ceil(2 sigma^2 (z_a+z_p)^2 / delta^2) with the
    // z-sum squared ONCE and shared as a 17-digit literal
    "q226_samplesize_curve" -> {
      val zq = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
        Double.box((graft.api.Ops.zAlpha025 + graft.api.Ops.zPower80) *
          (graft.api.Ops.zAlpha025 + graft.api.Ops.zPower80)))
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_src,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |f AS (
         |  SELECT *,
         |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |      / CAST(n_src AS DOUBLE)) /
         |    (CASE WHEN n_src >= 2 THEN CAST(n_src AS DOUBLE) - 1.0 ELSE 1.0 END) AS v
         |  FROM m),
         |fok AS (
         |  SELECT *, (n_src >= 2 AND v > 0.0) AS okv FROM f),
         |dg AS (SELECT * FROM (VALUES
         |  (CAST(10.0 AS DOUBLE)), (CAST(25.0 AS DOUBLE)), (CAST(50.0 AS DOUBLE)),
         |  (CAST(100.0 AS DOUBLE)), (CAST(250.0 AS DOUBLE)), (CAST(500.0 AS DOUBLE)),
         |  (CAST(1000.0 AS DOUBLE))) AS t(delta)),
         |ex AS (SELECT fok.*, dg.delta FROM fok CROSS JOIN dg)
         |SELECT delta, n_src,
         |  CASE WHEN okv THEN CAST(round(v, 0) AS BIGINT) END AS sigma2,
         |  CASE WHEN okv THEN CAST(ceil(2.0 * v * $zq / (delta * delta)) AS BIGINT)
         |  END AS n_per_arm
         |FROM ex ORDER BY delta""".stripMargin
    },

    // q227: the q212 Welch chain over the (status|priority) composite
    // segment, the portable two-sided t p, then BH AND Holm with every
    // window PARTITIONED BY the status family — per-family budgets
    "q227_welch_fam_fdr" -> {
      s"""WITH a AS (
         |  SELECT o_orderstatus || '|' || o_orderpriority AS grp,
         |    CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |b AS (
         |  SELECT o_orderstatus || '|' || o_orderpriority AS grp,
         |    CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(a.grp, b.grp) AS grp,
         |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |    s_a, s_b, ss_a, ss_b
         |  FROM a FULL OUTER JOIN b ON a.grp = b.grp),
         |f AS (
         |  SELECT *,
         |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
         |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
         |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
         |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
         |  FROM m),
         |welch AS (
         |  SELECT grp, n_a, n_b,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
         |      round((vna + vnb) * (vna + vnb) /
         |        (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
         |         vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
         |  FROM f),
         |pvin AS (
         |  SELECT grp AS g, grp, n_a, n_b, t, df,
         |    CAST(t AS DOUBLE) AS tv, CAST(df AS DOUBLE) AS nu
         |  FROM welch),
         |${pvBetaTCtes("pvin")},
         |bhin AS (
         |  SELECT split_part(grp, '|', 1) AS fam, grp, n_a, n_b, t, df, p, g
         |  FROM pvfin),
         |${pvBhCtes("bhin", "g", "fam")},
         |${pvHolmCtes("bh3", "g", "fam")}
         |SELECT fam, grp, n_a, n_b, t, df, p, bh_rank, m_tests, p_adj,
         |  CASE WHEN p IS NOT NULL THEN (p_adj < 0.05) END AS reject,
         |  p_holm, CASE WHEN p IS NOT NULL THEN (p_holm < 0.05) END AS reject_fwer
         |FROM hl3 ORDER BY fam, grp""".stripMargin
    },

    // q228: the q172 per-user pre/post moments keyed by a user-id
    // segment, a per-segment full-outer arm join, the SAME pooled-θ /
    // adjusted-moment / z tree per segment with stand-in divisors
    "q228_cuped_by_group" ->
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS y,
        |    COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |b0 AS (
        |  SELECT CAST(user_id % 3 AS VARCHAR) AS grp,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CAST(CAST(y AS DECIMAL(18,2)) * 100 AS BIGINT) AS yy,
        |    CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) AS xx
        |  FROM u),
        |pa AS (
        |  SELECT grp, arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(xx) AS BIGINT) AS sx, CAST(SUM(yy) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(xx AS DECIMAL(19,0)) * CAST(xx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(yy AS DECIMAL(19,0)) * CAST(yy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(xx AS DECIMAL(19,0)) * CAST(yy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM b0 GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(a.grp, b.grp) AS grp,
        |    COALESCE(a.n, 0) AS n_a, a.sx AS sx_a, a.sy AS sy_a, a.sxx AS sxx_a,
        |    a.syy AS syy_a, a.sxy AS sxy_a,
        |    COALESCE(b.n, 0) AS n_b, b.sx AS sx_b, b.sy AS sy_b, b.sxx AS sxx_b,
        |    b.syy AS syy_b, b.sxy AS sxy_b
        |  FROM (SELECT * FROM pa WHERE arm = 'A') a
        |  FULL OUTER JOIN (SELECT * FROM pa WHERE arm = 'B') b ON a.grp = b.grp),
        |f AS (
        |  SELECT *,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nt,
        |    CASE WHEN n_a + n_b >= 1 THEN CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
        |      ELSE 1.0 END AS nts,
        |    CASE WHEN n_a >= 1 THEN CAST(n_a AS DOUBLE) ELSE 1.0 END AS nsa,
        |    CASE WHEN n_b >= 1 THEN CAST(n_b AS DOUBLE) ELSE 1.0 END AS nsb,
        |    CASE WHEN n_a >= 2 THEN CAST(n_a AS DOUBLE) - 1.0 ELSE 1.0 END AS n1sa,
        |    CASE WHEN n_b >= 2 THEN CAST(n_b AS DOUBLE) - 1.0 ELSE 1.0 END AS n1sb,
        |    CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sxt,
        |    CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS syt,
        |    CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxxt,
        |    CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxyt
        |  FROM j),
        |g AS (
        |  SELECT *,
        |    CASE WHEN nt * sxxt - sxt * sxt > 0
        |      THEN (nt * sxyt - sxt * syt) / (nt * sxxt - sxt * sxt)
        |      ELSE CAST(0 AS DOUBLE) END AS theta0,
        |    sxt / nts AS xbar
        |  FROM f),
        |h AS (
        |  SELECT *,
        |    CAST(sy_a AS DOUBLE) - theta0 * (CAST(sx_a AS DOUBLE) - CAST(n_a AS DOUBLE) * xbar) AS sadj_a,
        |    CAST(syy_a AS DOUBLE) - CAST(2 AS DOUBLE) * theta0 * (CAST(sxy_a AS DOUBLE) - xbar * CAST(sy_a AS DOUBLE))
        |      + theta0 * theta0 * (CAST(sxx_a AS DOUBLE) - CAST(2 AS DOUBLE) * xbar * CAST(sx_a AS DOUBLE)
        |        + CAST(n_a AS DOUBLE) * xbar * xbar) AS sqadj_a,
        |    CAST(sy_b AS DOUBLE) - theta0 * (CAST(sx_b AS DOUBLE) - CAST(n_b AS DOUBLE) * xbar) AS sadj_b,
        |    CAST(syy_b AS DOUBLE) - CAST(2 AS DOUBLE) * theta0 * (CAST(sxy_b AS DOUBLE) - xbar * CAST(sy_b AS DOUBLE))
        |      + theta0 * theta0 * (CAST(sxx_b AS DOUBLE) - CAST(2 AS DOUBLE) * xbar * CAST(sx_b AS DOUBLE)
        |        + CAST(n_b AS DOUBLE) * xbar * xbar) AS sqadj_b
        |  FROM g),
        |i AS (
        |  SELECT *,
        |    sadj_a / nsa AS ma,
        |    sadj_b / nsb AS mb,
        |    ((sqadj_a - sadj_a * sadj_a / nsa) / n1sa) / nsa
        |      + ((sqadj_b - sadj_b * sadj_b / nsb) / n1sb) / nsb AS se2
        |  FROM h)
        |SELECT grp, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN round(theta0, 6) END AS theta,
        |  CASE WHEN n_a > 0 THEN
        |    round(CAST(sy_a AS DOUBLE) / nsa / CAST(100 AS DOUBLE), 6) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN
        |    round(CAST(sy_b AS DOUBLE) / nsb / CAST(100 AS DOUBLE), 6) END AS mean_b,
        |  CASE WHEN n_a > 0 AND n_a >= 1 AND n_b >= 1 THEN
        |    round(ma / CAST(100 AS DOUBLE), 6) END AS mean_adj_a,
        |  CASE WHEN n_b > 0 AND n_a >= 1 AND n_b >= 1 THEN
        |    round(mb / CAST(100 AS DOUBLE), 6) END AS mean_adj_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
        |    round((ma - mb) / sqrt(se2), 6) END AS z
        |FROM i ORDER BY grp""".stripMargin,

    // q229: the q173 cells keyed by a user-id segment, a per-segment
    // 4-cell pivot, the same estimate/SE tree with the two-tier
    // stand-in divisors the keyed engine form uses
    "q229_did_by_group" -> {
      val cs = Seq("t_pre", "t_post", "c_pre", "c_post")
      val wCols = cs.map(c =>
        s"""    MAX(CASE WHEN cell = '$c' THEN n END) AS ${c}_n,
           |    MAX(CASE WHEN cell = '$c' THEN s END) AS ${c}_s,
           |    MAX(CASE WHEN cell = '$c' THEN ss END) AS ${c}_ss""".stripMargin)
        .mkString(",\n")
      val stCols = cs.map(c =>
        s"""    COALESCE(${c}_n, 0) AS ${c}_nc,
           |    CASE WHEN COALESCE(${c}_n, 0) >= 1
           |      THEN CAST(COALESCE(${c}_n, 0) AS DOUBLE) ELSE 1.0 END AS ${c}_nm,
           |    CASE WHEN COALESCE(${c}_n, 0) >= 2
           |      THEN CAST(COALESCE(${c}_n, 0) AS DOUBLE) - 1.0 ELSE 1.0 END AS ${c}_n1""".stripMargin)
        .mkString(",\n")
      def mean(c: String) =
        s"CAST(${c}_s AS DOUBLE) / ${c}_nm / CAST(100 AS DOUBLE)"
      def vn(c: String) =
        s"((CAST(${c}_ss AS DOUBLE) - CAST(${c}_s AS DOUBLE) * CAST(${c}_s AS DOUBLE) / ${c}_nm) / ${c}_n1) / ${c}_nm / CAST(10000 AS DOUBLE)"
      val se2 = cs.map(vn).mkString("\n      + ")
      val allPresent = cs.map(c => s"${c}_nc > 0").mkString(" AND ")
      val allVar = cs.map(c => s"${c}_nc >= 2").mkString(" AND ")
      s"""WITH cells AS (
         |  SELECT CAST(user_id % 3 AS VARCHAR) AS grp,
         |    (CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END) ||
         |    (CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN '_post' ELSE '_pre' END) AS cell,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
         |agg AS (
         |  SELECT grp, cell, CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         |    CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ss
         |  FROM cells GROUP BY 1, 2),
         |w AS (
         |  SELECT grp,
         |$wCols
         |  FROM agg GROUP BY grp),
         |st AS (
         |  SELECT *,
         |$stCols
         |  FROM w),
         |f AS (
         |  SELECT *,
         |    ${mean("t_post")} AS m_t_post,
         |    ${mean("t_pre")} AS m_t_pre,
         |    ${mean("c_post")} AS m_c_post,
         |    ${mean("c_pre")} AS m_c_pre,
         |    $se2 AS se2
         |  FROM st),
         |f2 AS (
         |  SELECT *, (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did0,
         |    ($allVar) AS allvar,
         |    ($allPresent) AS allpresent
         |  FROM f)
         |SELECT grp, t_pre_nc AS n_t_pre, t_post_nc AS n_t_post,
         |  c_pre_nc AS n_c_pre, c_post_nc AS n_c_post,
         |  CASE WHEN t_pre_nc > 0 THEN round(m_t_pre, 6) END AS mean_t_pre,
         |  CASE WHEN t_post_nc > 0 THEN round(m_t_post, 6) END AS mean_t_post,
         |  CASE WHEN c_pre_nc > 0 THEN round(m_c_pre, 6) END AS mean_c_pre,
         |  CASE WHEN c_post_nc > 0 THEN round(m_c_post, 6) END AS mean_c_post,
         |  CASE WHEN allpresent THEN round(did0, 6) END AS did,
         |  CASE WHEN allvar AND se2 > 0 THEN round(sqrt(se2), 6) END AS se,
         |  CASE WHEN allvar AND se2 > 0 THEN round(did0 / sqrt(se2), 6) END AS t
         |FROM f2 ORDER BY grp""".stripMargin
    },

    // q230: the q202 chain keyed by o_orderstatus — per-(segment,
    // stratum) censuses, the nCommon window PARTITIONED by the
    // segment, the same round-12 term sums GROUPed by the segment
    "q230_poststrat_by_group" ->
      """WITH a AS (
        |  SELECT o_orderstatus AS grp, o_orderpriority AS s,
        |    CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |b AS (
        |  SELECT o_orderstatus AS grp, o_orderpriority AS s,
        |    CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(a.grp, b.grp) AS grp, COALESCE(a.s, b.s) AS s,
        |    n_a, s_a, ss_a, n_b, s_b, ss_b,
        |    (n_a IS NOT NULL AND n_b IS NOT NULL) AS inboth
        |  FROM a FULL OUTER JOIN b ON a.grp = b.grp AND a.s = b.s),
        |wj AS (
        |  SELECT *, CAST(SUM(CASE WHEN inboth THEN n_a + n_b END)
        |    OVER (PARTITION BY grp) AS BIGINT) AS ncom
        |  FROM j),
        |t AS (
        |  SELECT *,
        |    CASE WHEN inboth THEN CAST(n_a + n_b AS DOUBLE) / CAST(ncom AS DOUBLE) END AS w,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
        |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
        |  FROM wj),
        |terms AS (
        |  SELECT *,
        |    CASE WHEN inboth THEN round(w * ma, 12) END AS ma_t,
        |    CASE WHEN inboth THEN round(w * mb, 12) END AS mb_t,
        |    CASE WHEN inboth AND n_a >= 2 THEN
        |      round(w * w * va / CAST(n_a AS DOUBLE), 12) END AS va_t,
        |    CASE WHEN inboth AND n_b >= 2 THEN
        |      round(w * w * vb / CAST(n_b AS DOUBLE), 12) END AS vb_t
        |  FROM t),
        |agg AS (
        |  SELECT grp,
        |    CAST(COALESCE(SUM(CASE WHEN inboth THEN n_a END), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(CASE WHEN inboth THEN n_b END), 0) AS BIGINT) AS n_b,
        |    CAST(COUNT(CASE WHEN inboth THEN 1 END) AS BIGINT) AS n_strata,
        |    CAST(COUNT(CASE WHEN n_b IS NULL THEN 1 END) AS BIGINT) AS strata_a_only,
        |    CAST(COUNT(CASE WHEN n_a IS NULL THEN 1 END) AS BIGINT) AS strata_b_only,
        |    CAST(SUM(CAST(ma_t AS DECIMAL(38,12))) AS DOUBLE) AS ma_d,
        |    CAST(SUM(CAST(mb_t AS DECIMAL(38,12))) AS DOUBLE) AS mb_d,
        |    MAX(CASE WHEN inboth AND (n_a < 2 OR n_b < 2) THEN 1 ELSE 0 END) AS degen,
        |    CAST(SUM(CAST(va_t AS DECIMAL(38,12))) AS DOUBLE) AS va_d,
        |    CAST(SUM(CAST(vb_t AS DECIMAL(38,12))) AS DOUBLE) AS vb_d
        |  FROM terms GROUP BY grp)
        |SELECT grp, n_a, n_b, n_strata, strata_a_only, strata_b_only,
        |  CASE WHEN n_strata > 0 THEN round(ma_d, 6) END AS mean_a_post,
        |  CASE WHEN n_strata > 0 THEN round(mb_d, 6) END AS mean_b_post,
        |  CASE WHEN n_strata > 0 THEN round(mb_d - ma_d, 6) END AS diff,
        |  CASE WHEN degen = 0 AND n_strata > 0 AND va_d + vb_d > 0 THEN
        |    round(sqrt(va_d + vb_d), 6) END AS se,
        |  CASE WHEN degen = 0 AND n_strata > 0 AND va_d + vb_d > 0 THEN
        |    round((mb_d - ma_d) / sqrt(va_d + vb_d), 6) END AS z
        |FROM agg ORDER BY grp""".stripMargin,

    // q233: the seeded permutation replay — the q171 md5 affine hash
    // family regenerated per (row, permutation), rank within
    // (segment, permutation), side A = first n_a ranks, the EXACT
    // integer statistic |S_A·(n_a+n_b) − T·n_a| compared in
    // DECIMAL(38,0), add-one p
    "q233_permutation_p" ->
      """WITH src AS (
        |  SELECT o_orderpriority AS grp, CAST(o_orderkey AS VARCHAR) AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |      THEN 'a' ELSE 'b' END AS side
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_orderpriority IS NOT NULL AND o_orderkey % 37 = 0),
        |h AS (
        |  SELECT *,
        |    CAST(('0x' || substr(md5('pm1:7:' || side || ':' || id), 1, 7)) AS BIGINT) AS h1,
        |    CAST(('0x' || substr(md5('pm2:7:' || side || ':' || id), 1, 7)) AS BIGINT) AS h2
        |  FROM src),
        |cen AS (
        |  SELECT grp,
        |    CAST(COUNT(CASE WHEN side = 'a' THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(COUNT(CASE WHEN side = 'b' THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN side = 'a' THEN c ELSE 0 END) AS DECIMAL(38,0)) AS sa,
        |    CAST(SUM(c) AS DECIMAL(38,0)) AS t
        |  FROM src GROUP BY 1),
        |ceno AS (
        |  SELECT *, CAST(abs(sa * (n_a + n_b) - t * n_a) AS DECIMAL(38,0)) AS statobs
        |  FROM cen),
        |perms AS (
        |  SELECT h.grp, h.id, h.c, h.side, b.b,
        |    (h1 + b.b * h2) % 268435456 AS u
        |  FROM h, range(1, 200) b(b)),
        |rk AS (
        |  SELECT p.grp, p.b, p.c,
        |    ceno.n_a, ceno.n_b, ceno.t, ceno.statobs,
        |    row_number() OVER (PARTITION BY p.grp, p.b ORDER BY u, side, id) AS rk
        |  FROM perms p JOIN ceno ON ceno.grp = p.grp),
        |sab AS (
        |  SELECT grp, b, CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sab,
        |    MIN(n_a) AS n_a, MIN(n_b) AS n_b, MIN(t) AS t, MIN(statobs) AS statobs
        |  FROM rk WHERE rk <= n_a GROUP BY 1, 2),
        |cnt AS (
        |  SELECT grp, CAST(COUNT(CASE WHEN
        |      CAST(abs(sab * (n_a + n_b) - t * n_a) AS DECIMAL(38,0)) >= statobs
        |    THEN 1 END) AS BIGINT) AS n_ge
        |  FROM sab GROUP BY 1)
        |SELECT ceno.grp, n_a, n_b, CAST(199 AS BIGINT) AS b_perms, n_ge,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(
        |    (CAST(sa AS DOUBLE) /
        |       (CASE WHEN n_a >= 1 THEN CAST(n_a AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) -
        |     CAST(t - sa AS DOUBLE) /
        |       (CASE WHEN n_b >= 1 THEN CAST(n_b AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END))
        |    / CAST(100.0 AS DOUBLE), 6) END AS diff_obs,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round(CAST(n_ge + 1 AS DOUBLE) / CAST(200.0 AS DOUBLE), 6) END AS p
        |FROM ceno LEFT JOIN cnt USING (grp)
        |ORDER BY grp""".stripMargin,

    // q234: the group-sequential replay — per-(look, arm) exact
    // moments, the K-row cumulative window, the welch-shape z, the
    // shared OBF constant literal, absorbing stop
    // q234/q237/q238: the group-sequential replay — per-(look, arm)
    // exact moments, the K-row cumulative window (PARTITION BY grp in
    // the keyed form), the welch-shape z, the shared OBF/Pocock
    // constant literal, absorbing stop (generator: gsOracleSql)
    "q234_group_sequential" -> gsOracleSql("obf", grouped = false),
    "q237_gs_pocock" -> gsOracleSql("pocock", grouped = false),
    "q238_gs_by_group" -> gsOracleSql("obf", grouped = true),
    // q239: the artifact path (prepare looks 1–3, absorb 4–5, decide)
    // — absorb is exact census addition, so the oracle is the SAME
    // keyed SQL over all rows (the q231 statement)
    "q239_gs_absorbed" -> gsOracleSql("obf", grouped = true),
    // q240: the nprobe recall/cost curve — the q200 chain per depth
    // over ONE shared scored_cells frame, aggregated and costed
    "q240_nprobe_curve" -> annCurveOracleSql(Seq(1, 2, 4, 8), 5),
    // q241/q242: the WordPiece pair — likelihood-scored merge rounds
    // unrolled (q101 pattern + symbol census + score argmax), greedy
    // longest-match encode as a per-word recursive CTE
    "q241_wordpiece_train" -> wpOracleSql(10),
    "q242_wordpiece_encode" -> wpEncodeOracleSql(10),
    // q243: DSIR — hashed-ngram bucket censuses, smoothed log-prob
    // ratio weights, seeded-Gumbel top-k (full replay)
    "q243_dsir_select" -> dsirOracleSql(200, 1024, 7L),
    // q245/q246: the always-valid CI — the q196/q208 moments with
    // the mixture-inversion radius tail (one parametrized generator)
    "q245_avci" -> avciOracleSql(grouped = false),
    "q246_avci_by_group" -> avciOracleSql(grouped = true),
    // q247/q249: exact rank quantile treatment effects (one
    // parametrized generator); q248: winsorized Welch (census bounds
    // + one clamped row pass + the q162 tree)
    "q247_qte" -> qteOracleSql(grouped = false),
    "q249_qte_by_group" -> qteOracleSql(grouped = true),
    "q248_winsorized_welch" -> winsorizedWelchOracleSql,
    // q250: the sketch QTE through the absorbing artifacts — absorb
    // is exact register addition, so the full-data replay is the
    // correct oracle (q108 register census + ceil(q·tot) midpoint
    // pick per arm, keyed FULL OUTER)
    "q250_qte_sketch" -> {
      def armOf(arm: String, pre: String) =
        s"""${pre}r AS (
           |  SELECT g, CAST(floor(v / 100.0) AS BIGINT) AS b,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM s WHERE arm = '$arm'
           |    AND v / 100.0 BETWEEN -CAST(4611686018427387904 AS DOUBLE)
           |      AND CAST(4611686018427387904 AS DOUBLE)
           |  GROUP BY 1, 2),
           |${pre}c AS (
           |  SELECT g, b, CAST(SUM(n) OVER (PARTITION BY g ORDER BY b) AS BIGINT) AS cum,
           |    CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS tot FROM ${pre}r),
           |${pre}q AS (
           |  SELECT g, pct, MAX(tot) AS n_$pre,
           |    (CAST(MIN(CASE WHEN cum >=
           |        CAST(ceil(CAST(pct AS DOUBLE) / 100.0 * tot) AS BIGINT)
           |      THEN b END) AS DOUBLE) + 0.5) * 100.0 AS q_${pre}_mid
           |  FROM ${pre}c CROSS JOIN lv GROUP BY 1, 2)""".stripMargin
      s"""WITH s AS (
         |  SELECT o_orderpriority AS g,
         |    CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         |    CAST(o_totalprice AS DOUBLE) AS v
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_orderpriority IS NOT NULL),
         |lv AS (SELECT CAST(unnest([10, 25, 50, 75, 90]) AS BIGINT) AS pct),
         |${armOf("A", "a")},
         |${armOf("B", "b")}
         |SELECT COALESCE(aq.g, bq.g) AS o_orderpriority,
         |  COALESCE(aq.pct, bq.pct) AS pct,
         |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |  q_a_mid, q_b_mid, round(q_b_mid - q_a_mid, 6) AS qte_mid
         |FROM aq FULL OUTER JOIN bq ON aq.g = bq.g AND aq.pct = bq.pct
         |ORDER BY o_orderpriority, pct""".stripMargin
    },
    // q244: interpolated Kneser–Ney — exact count censuses, the
    // count-of-counts discount, continuation probabilities, round-12
    // ln terms summed as DECIMAL(38,12)
    "q244_kn_lm" ->
      s"""WITH dt AS (SELECT doc_id, $duckTokens AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
         |  FROM dt, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
         |  WHERE len(t) >= 2),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1p FROM c2 GROUP BY 1),
         |ncc AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM c2 GROUP BY 1),
         |sc AS (SELECT CAST(count(*) AS BIGINT) AS nt,
         |    CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM c2),
         |dd AS (SELECT nt, CASE WHEN n1 + 2 * n2 > 0
         |    THEN CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE)
         |    ELSE CAST(0.5 AS DOUBLE) END AS d FROM sc),
         |pl AS (
         |  SELECT c2.w1, c2.w2,
         |    round(ln(
         |      greatest(CAST(c2.c2 AS DOUBLE) - d, CAST(0.0 AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)
         |      + d * CAST(c1.n1p AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
         |        * (CAST(ncc.nc AS DOUBLE) / CAST(dd.nt AS DOUBLE))), 12) AS lnp
         |  FROM c2 JOIN c1 USING (w1) JOIN ncc USING (w2) CROSS JOIN dd),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    SUM(CAST(lnp AS DECIMAL(38,12))) AS s
         |  FROM bg JOIN pl USING (w1, w2) GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |  round(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 4) AS avg_logp,
         |  round(exp(-round(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 4)), 2) AS ppl
         |FROM per ORDER BY doc_id""".stripMargin,
  )

  /** The q35 brute-force + q36 IVF CTEs and the per-query FULL OUTER
    * overlap/recall report, shared by the q200 (whole-frame) and
    * q215 (per-label) oracles. Ends in `per(qid, n_exact, n_approx,
    * n_overlap, recall)`.
    */
  private val annPerQueryCtes: String =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |           FROM embeddings),
      |ex_scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS vid,
      |    list_cosine_similarity(q.emb, c.emb) AS raw
      |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |ex AS (SELECT qid, vid FROM (
      |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS rank
      |  FROM ex_scored) WHERE rank <= 5),
      |cents AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id >= 100 AND vec_id < 108),
      |scored_cells AS (
      |  SELECT v.vec_id, v.emb, c.cid,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC, c.cid) AS rn
      |  FROM v CROSS JOIN cents c),
      |corpus AS (SELECT vec_id AS vid, emb AS c_emb, cid AS cell FROM scored_cells WHERE rn = 1),
      |queries AS (SELECT vec_id AS qid, emb AS q_emb, cid AS cell
      |            FROM scored_cells WHERE vec_id < 10 AND rn <= 2),
      |cand AS (
      |  SELECT q.qid, c.vid, list_cosine_similarity(q.q_emb, c.c_emb) AS raw
      |  FROM corpus c JOIN queries q ON c.cell = q.cell AND c.vid <> q.qid),
      |ap AS (SELECT qid, vid FROM (
      |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS rank
      |  FROM cand) WHERE rank <= 5),
      |ne AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
      |  FROM (SELECT DISTINCT qid, vid FROM ex) GROUP BY 1),
      |na AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_approx
      |  FROM (SELECT DISTINCT qid, vid FROM ap) GROUP BY 1),
      |nov AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_overlap FROM (
      |  (SELECT DISTINCT qid, vid FROM ex) INTERSECT
      |  (SELECT DISTINCT qid, vid FROM ap)) GROUP BY 1),
      |per AS (
      |  SELECT COALESCE(ne.qid, na.qid) AS qid,
      |    COALESCE(n_exact, 0) AS n_exact,
      |    COALESCE(n_approx, 0) AS n_approx,
      |    COALESCE(n_overlap, 0) AS n_overlap,
      |    CASE WHEN COALESCE(n_exact, 0) > 0 THEN
      |      round(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
      |    END AS recall
      |  FROM ne FULL OUTER JOIN na ON ne.qid = na.qid
      |  LEFT JOIN nov ON COALESCE(ne.qid, na.qid) = nov.qid)""".stripMargin

  /** The q240 nprobe tuning-curve oracle: the q200 shared CTEs
    * (brute-force truth + corpus cell assignment + the 8-cell
    * ranking) once, then per probe depth the level-specific
    * queries/cand/ap/na/nov/per chain (prefixed `p{np}_`) aggregated
    * to ONE row with its candidate count, unioned and costed against
    * the corpus size — the engine's shared-max-depth filter replayed
    * as independent rn <= np slices of the SAME scored_cells frame.
    */
  private def annCurveOracleSql(nps: Seq[Int], k: Int): String = {
    val levels = nps.map { np =>
      s"""p${np}_queries AS (SELECT vec_id AS qid, emb AS q_emb, cid AS cell
         |            FROM scored_cells WHERE vec_id < 10 AND rn <= $np),
         |p${np}_cand AS (
         |  SELECT q.qid, c.vid, list_cosine_similarity(q.q_emb, c.c_emb) AS raw
         |  FROM corpus c JOIN p${np}_queries q ON c.cell = q.cell AND c.vid <> q.qid),
         |p${np}_ap AS (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS rank
         |  FROM p${np}_cand) WHERE rank <= $k),
         |p${np}_na AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_approx
         |  FROM (SELECT DISTINCT qid, vid FROM p${np}_ap) GROUP BY 1),
         |p${np}_nov AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_overlap FROM (
         |  (SELECT DISTINCT qid, vid FROM ex) INTERSECT
         |  (SELECT DISTINCT qid, vid FROM p${np}_ap)) GROUP BY 1),
         |p${np}_per AS (
         |  SELECT COALESCE(ne.qid, p${np}_na.qid) AS qid,
         |    COALESCE(n_exact, 0) AS n_exact,
         |    COALESCE(n_approx, 0) AS n_approx,
         |    COALESCE(n_overlap, 0) AS n_overlap
         |  FROM ne FULL OUTER JOIN p${np}_na ON ne.qid = p${np}_na.qid
         |  LEFT JOIN p${np}_nov ON COALESCE(ne.qid, p${np}_na.qid) = p${np}_nov.qid),
         |p${np}_lvl AS (
         |  SELECT CAST($np AS BIGINT) AS nprobe,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(SUM(CASE WHEN n_approx = 0 AND n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent_miss,
         |    CAST(SUM(n_exact) AS BIGINT) AS n_exact,
         |    CAST(SUM(n_approx) AS BIGINT) AS n_approx,
         |    CAST(SUM(n_overlap) AS BIGINT) AS n_overlap,
         |    (SELECT CAST(count(*) AS BIGINT) FROM p${np}_cand) AS n_candidates
         |  FROM p${np}_per)""".stripMargin
    }.mkString(",\n")
    val union = nps.map(np => s"SELECT * FROM p${np}_lvl").mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |           FROM embeddings),
       |ex_scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid,
       |    list_cosine_similarity(q.emb, c.emb) AS raw
       |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ex AS (SELECT qid, vid FROM (
       |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vid) AS rank
       |  FROM ex_scored) WHERE rank <= $k),
       |ne AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM (SELECT DISTINCT qid, vid FROM ex) GROUP BY 1),
       |cents AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id >= 100 AND vec_id < 108),
       |scored_cells AS (
       |  SELECT v.vec_id, v.emb, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC, c.cid) AS rn
       |  FROM v CROSS JOIN cents c),
       |corpus AS (SELECT vec_id AS vid, emb AS c_emb, cid AS cell FROM scored_cells WHERE rn = 1),
       |$levels,
       |curve AS ($union),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM v)
       |SELECT nprobe, n_queries, n_silent_miss, n_exact, n_approx, n_overlap,
       |  CASE WHEN n_exact > 0 THEN
       |    round(CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) END AS recall,
       |  n_candidates,
       |  CASE WHEN n_queries > 0 THEN
       |    round(CAST(n_candidates AS DOUBLE) / CAST(n_queries AS DOUBLE), 6) END AS cand_per_query,
       |  CASE WHEN n_queries > 0 AND n_corpus > 0 THEN
       |    round(CAST(n_candidates AS DOUBLE) /
       |      (CAST(n_queries AS DOUBLE) * CAST(n_corpus AS DOUBLE)), 6) END AS scan_fraction
       |FROM curve CROSS JOIN nc ORDER BY nprobe""".stripMargin
  }

  private def pvLit(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.17g", Double.box(d))

  /** The Lanczos ln Γ expression mirrored from `PValues.lnGammaCol` —
    * same coefficients (17-significant-digit literals that round-trip
    * to the identical IEEE doubles Spark's `lit` carries), same
    * left-associated op order, same two round-12 sites on the ln
    * outputs. `a` is substituted textually, so pass a parenthesized
    * expression.
    */
  private def lnGammaSql(a: String): String = {
    val c = Seq(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    val aSum = c.zipWithIndex.map {
      case (c0, 0) => pvLit(c0)
      case (ci, i) => s"${pvLit(ci)} / ($a + ${pvLit(i - 1.0)})"
    }.mkString(" + ")
    s"(${pvLit(0.5 * math.log(2.0 * math.Pi))} + ($a - 0.5) * round(ln($a + 6.5), 12)" +
      s" - ($a + 6.5) + round(ln($aSum), 12))"
  }

  /** The shared fixed-N series core mirrored from
    * `PValues.seriesLnSum`: explode n = 0..2047, DECIMAL(38,12)
    * ordered cumulative log (exact — associative in any window-
    * aggregation order), max-normalized round-12 exp terms summed as
    * DECIMAL(38,14). Expects a CTE `<pre>pvpar(g, lnx, ra, rb, ...)`
    * and ends in `<pre>pvagg(g, ml, sv)`. `pre` prefixes every CTE
    * name so two finisher chains can coexist in one statement (the
    * q221 cross-test battery).
    */
  private def pvSeriesCtes(pre: String = ""): String =
    s"""${pre}pvidx AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd
       |          FROM generate_series(0, 2047) AS gs(n)),
       |${pre}pvex AS (SELECT ${pre}pvpar.g, ${pre}pvpar.lnx, ${pre}pvpar.ra, ${pre}pvpar.rb, ${pre}pvidx.n, ${pre}pvidx.nd
       |         FROM ${pre}pvpar CROSS JOIN ${pre}pvidx),
       |${pre}pvcum AS (
       |  SELECT g, n, SUM(CAST(CASE WHEN n = 0 THEN 0.0
       |      ELSE lnx + CASE WHEN ra >= 0.0 THEN round(ln(ra + nd), 12) ELSE 0.0 END
       |        - round(ln(rb + nd), 12) END AS DECIMAL(38,12)))
       |    OVER (PARTITION BY g ORDER BY n
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
       |  FROM ${pre}pvex),
       |${pre}pvmx AS (SELECT *, MAX(l) OVER (PARTITION BY g) AS ml FROM ${pre}pvcum),
       |${pre}pvagg AS (
       |  SELECT g, MAX(ml) AS ml,
       |    SUM(CAST(round(exp(CAST(l AS DOUBLE) - CAST(ml AS DOUBLE)), 12)
       |      AS DECIMAL(38,14))) AS sv
       |  FROM ${pre}pvmx GROUP BY g)""".stripMargin

  /** The portable chi-square p mirrored from `PValues.pValueChiSq`:
    * expects `<in>(g, x, k, ...)` (x = statistic, k = dof, both
    * DOUBLE), ends in `pvfin` = the input columns + `p`. Same
    * guards, same sanitized stand-ins, same branch order.
    */
  private def pvChiSqCtes(in: String, pre: String = ""): String =
    s"""${pre}pvg0 AS (
       |  SELECT *, (x IS NOT NULL AND k IS NOT NULL AND k >= 1.0
       |    AND x >= 0.0 AND k <= 1200.0) AS okb
       |  FROM $in),
       |${pre}pvg1 AS (
       |  SELECT *, (okb AND x > 2.0 * k + 60.0) AS clamp0,
       |    (okb AND x <= 0.0) AS triv1
       |  FROM ${pre}pvg0),
       |${pre}pvg2 AS (
       |  SELECT *, (okb AND NOT clamp0 AND x > 0.0) AS run FROM ${pre}pvg1),
       |${pre}pvpar AS (
       |  SELECT *,
       |    round(ln(CASE WHEN run THEN x / 2.0 ELSE 1.0 END), 12) AS lnx,
       |    -1.0 AS ra,
       |    CASE WHEN run THEN k / 2.0 ELSE 1.0 END AS rb,
       |    CASE WHEN run THEN k / 2.0 ELSE 1.0 END AS a2,
       |    CASE WHEN run THEN x / 2.0 ELSE 1.0 END AS z2
       |  FROM ${pre}pvg2),
       |${pvSeriesCtes(pre)},
       |${pre}pvf0 AS (
       |  SELECT ${pre}pvpar.*,
       |    CAST(${pre}pvagg.ml AS DOUBLE) + round(ln(CAST(${pre}pvagg.sv AS DOUBLE)), 12) AS lnS
       |  FROM ${pre}pvpar JOIN ${pre}pvagg USING (g)),
       |${pre}pvf1 AS (
       |  SELECT *, 1.0 - exp(a2 * round(ln(z2), 12) - z2
       |    - ${lnGammaSql("(a2 + 1.0)")} + lnS) AS praw
       |  FROM ${pre}pvf0),
       |${pre}pvfin AS (
       |  SELECT *, CASE WHEN NOT okb THEN NULL
       |    WHEN clamp0 THEN 0.0
       |    WHEN triv1 THEN 1.0
       |    ELSE CASE WHEN praw > 0.0 THEN round(praw, 6) ELSE 0.0 END
       |  END AS p
       |  FROM ${pre}pvf1)""".stripMargin

  /** The portable two-sided t p mirrored from `PValues.pValueT`:
    * expects `<in>(g, tv, nu, ...)` (tv = t statistic, nu = dof,
    * both DOUBLE), ends in `pvfin` = the input columns + `p`. Same
    * branch split (t² ≥ ν direct / complement), same clamp, same
    * sanitized stand-ins, same branch order.
    */
  private def pvBetaTCtes(in: String, pre: String = ""): String =
    s"""${pre}pvg0 AS (
       |  SELECT *, (tv IS NOT NULL AND nu IS NOT NULL AND nu >= 1.0) AS okb,
       |    tv * tv AS t2
       |  FROM $in),
       |${pre}pvg1 AS (
       |  SELECT *, (okb AND t2 <= 0.0) AS triv1, (t2 >= nu) AS ba FROM ${pre}pvg0),
       |${pre}pvg2 AS (
       |  SELECT *, (okb AND NOT ba AND t2 >= 60.0) AS clamp0 FROM ${pre}pvg1),
       |${pre}pvg3 AS (
       |  SELECT *, (okb AND NOT clamp0 AND t2 > 0.0) AS run FROM ${pre}pvg2),
       |${pre}pvg4 AS (
       |  SELECT *, CASE WHEN run THEN t2 ELSE 1.0 END AS t2s,
       |    CASE WHEN run THEN nu ELSE 4.0 END AS nvs
       |  FROM ${pre}pvg3),
       |${pre}pvg5 AS (
       |  SELECT *, nvs / (nvs + t2s) AS xa, t2s / (nvs + t2s) AS xb FROM ${pre}pvg4),
       |${pre}pvg6 AS (
       |  SELECT *,
       |    CASE WHEN ba THEN nvs / 2.0 ELSE 0.5 END AS ap,
       |    CASE WHEN ba THEN 0.5 ELSE nvs / 2.0 END AS bp,
       |    CASE WHEN ba THEN xa ELSE xb END AS xp,
       |    CASE WHEN ba THEN xb ELSE xa END AS xc
       |  FROM ${pre}pvg5),
       |${pre}pvpar AS (
       |  SELECT *, round(ln(xp), 12) AS lnx, ap + bp - 1.0 AS ra, ap AS rb
       |  FROM ${pre}pvg6),
       |${pvSeriesCtes(pre)},
       |${pre}pvf0 AS (
       |  SELECT ${pre}pvpar.*,
       |    CAST(${pre}pvagg.ml AS DOUBLE) + round(ln(CAST(${pre}pvagg.sv AS DOUBLE)), 12) AS lnS
       |  FROM ${pre}pvpar JOIN ${pre}pvagg USING (g)),
       |${pre}pvf1 AS (
       |  SELECT *, exp(ap * round(ln(xp), 12) + bp * round(ln(xc), 12)
       |    + ${lnGammaSql("(ap + bp)")} - ${lnGammaSql("(ap + 1.0)")}
       |    - ${lnGammaSql("(bp)")} + lnS) AS pinc
       |  FROM ${pre}pvf0),
       |${pre}pvf2 AS (
       |  SELECT *, CASE WHEN ba THEN pinc ELSE 1.0 - pinc END AS praw FROM ${pre}pvf1),
       |${pre}pvfin AS (
       |  SELECT *, CASE WHEN NOT okb THEN NULL
       |    WHEN triv1 THEN 1.0
       |    WHEN clamp0 THEN 0.0
       |    ELSE CASE WHEN praw >= 1.0 THEN 1.0
       |      WHEN praw > 0.0 THEN round(praw, 6) ELSE 0.0 END
       |  END AS p
       |  FROM ${pre}pvf2)""".stripMargin

  /** The portable F upper-tail p mirrored from `PValues.pValueF`
    * (r16 — first gated by q216): expects `<in>(g, fv, k1, k2, ...)`
    * (fv = F statistic, k1/k2 = numerator/denominator dof, DOUBLE),
    * ends in `<pre>pvfin` = the input columns + `p`. Same incomplete-
    * beta series as pvBetaTCtes with the F parameterization: branch
    * on X = d2/(d2+d1·f) ≤ ½ (direct) vs > ½ (complement), the
    * d1 > 100 NULL domain guard, the d2 > 2000 split-bound clamp.
    */
  private def pvFCtes(in: String, pre: String = ""): String =
    s"""${pre}pvg0 AS (
       |  SELECT *, (fv IS NOT NULL AND k1 IS NOT NULL AND k2 IS NOT NULL
       |    AND fv >= 0.0 AND k1 >= 1.0 AND k2 >= 1.0 AND k1 <= 100.0) AS okb
       |  FROM $in),
       |${pre}pvg1 AS (
       |  SELECT *, (okb AND fv <= 0.0) AS triv1, k1 * fv AS s1 FROM ${pre}pvg0),
       |${pre}pvg2 AS (
       |  SELECT *, (okb AND k2 > 2000.0 AND s1 >= 2.0 * k1 + 80.0) AS clamp0
       |  FROM ${pre}pvg1),
       |${pre}pvg3 AS (
       |  SELECT *, (okb AND NOT clamp0 AND fv > 0.0) AS run FROM ${pre}pvg2),
       |${pre}pvg4 AS (
       |  SELECT *, CASE WHEN run THEN fv ELSE 1.0 END AS fs,
       |    CASE WHEN run THEN k1 ELSE 1.0 END AS k1s,
       |    CASE WHEN run THEN k2 ELSE 4.0 END AS k2s
       |  FROM ${pre}pvg3),
       |${pre}pvg5 AS (SELECT *, k1s * fs AS ssv FROM ${pre}pvg4),
       |${pre}pvg6 AS (
       |  SELECT *, k2s / (k2s + ssv) AS xa, ssv / (k2s + ssv) AS xb
       |  FROM ${pre}pvg5),
       |${pre}pvg7 AS (SELECT *, (xa <= 0.5) AS ba FROM ${pre}pvg6),
       |${pre}pvg8 AS (
       |  SELECT *,
       |    CASE WHEN ba THEN k2s / 2.0 ELSE k1s / 2.0 END AS ap,
       |    CASE WHEN ba THEN k1s / 2.0 ELSE k2s / 2.0 END AS bp,
       |    CASE WHEN ba THEN xa ELSE xb END AS xp,
       |    CASE WHEN ba THEN xb ELSE xa END AS xc
       |  FROM ${pre}pvg7),
       |${pre}pvpar AS (
       |  SELECT *, round(ln(xp), 12) AS lnx, ap + bp - 1.0 AS ra, ap AS rb
       |  FROM ${pre}pvg8),
       |${pvSeriesCtes(pre)},
       |${pre}pvf0 AS (
       |  SELECT ${pre}pvpar.*,
       |    CAST(${pre}pvagg.ml AS DOUBLE) + round(ln(CAST(${pre}pvagg.sv AS DOUBLE)), 12) AS lnS
       |  FROM ${pre}pvpar JOIN ${pre}pvagg USING (g)),
       |${pre}pvf1 AS (
       |  SELECT *, exp(ap * round(ln(xp), 12) + bp * round(ln(xc), 12)
       |    + ${lnGammaSql("(ap + bp)")} - ${lnGammaSql("(ap + 1.0)")}
       |    - ${lnGammaSql("(bp)")} + lnS) AS pinc
       |  FROM ${pre}pvf0),
       |${pre}pvf2 AS (
       |  SELECT *, CASE WHEN ba THEN pinc ELSE 1.0 - pinc END AS praw FROM ${pre}pvf1),
       |${pre}pvfin AS (
       |  SELECT *, CASE WHEN NOT okb THEN NULL
       |    WHEN triv1 THEN 1.0
       |    WHEN clamp0 THEN 0.0
       |    ELSE CASE WHEN praw >= 1.0 THEN 1.0
       |      WHEN praw > 0.0 THEN round(praw, 6) ELSE 0.0 END
       |  END AS p
       |  FROM ${pre}pvf2)""".stripMargin

  /** The portable Kolmogorov tail mirrored from `PValues.pValueKs`
    * (r16): expects `<in>(g, lam, ...)` (lam = the round-6
    * √(n_a·n_b/(n_a+n_b))·D, DOUBLE), ends in `<pre>pvfin` = the
    * input columns + `p`. Fixed-64-term alternating sum of round-12
    * terms as exact DECIMAL(38,14); λ ≤ 0.2 → 1, λ ≥ 2.8 → 0 (both
    * proven in the engine scaladoc), null λ passes through.
    */
  private def pvKsCtes(in: String, pre: String = ""): String =
    s"""${pre}ksg0 AS (
       |  SELECT *, (lam IS NOT NULL AND lam >= 0.0) AS okb FROM $in),
       |${pre}ksg1 AS (
       |  SELECT *, (okb AND lam <= 0.2) AS triv1,
       |    (okb AND lam >= 2.8) AS clamp0
       |  FROM ${pre}ksg0),
       |${pre}ksg2 AS (
       |  SELECT *, (okb AND NOT triv1 AND NOT clamp0) AS run FROM ${pre}ksg1),
       |${pre}kspar AS (
       |  SELECT *, CASE WHEN run THEN lam ELSE 1.0 END AS lams FROM ${pre}ksg2),
       |${pre}ksidx AS (
       |  SELECT CAST(j AS BIGINT) AS j, CAST(j AS DOUBLE) AS jd
       |  FROM generate_series(1, 64) AS gs(j)),
       |${pre}ksex AS (
       |  SELECT ${pre}kspar.g, lams, j, jd FROM ${pre}kspar CROSS JOIN ${pre}ksidx),
       |${pre}kssum AS (
       |  SELECT g, SUM(CAST((CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END) *
       |    round(exp(-2.0 * jd * jd * lams * lams), 12) AS DECIMAL(38,14))) AS sv
       |  FROM ${pre}ksex GROUP BY g),
       |${pre}ksf0 AS (
       |  SELECT ${pre}kspar.*, 2.0 * CAST(${pre}kssum.sv AS DOUBLE) AS praw
       |  FROM ${pre}kspar JOIN ${pre}kssum USING (g)),
       |${pre}pvfin AS (
       |  SELECT *, CASE WHEN NOT okb THEN NULL
       |    WHEN triv1 THEN 1.0
       |    WHEN clamp0 THEN 0.0
       |    ELSE CASE WHEN praw >= 1.0 THEN 1.0
       |      WHEN praw > 0.0 THEN round(praw, 6) ELSE 0.0 END
       |  END AS p
       |  FROM ${pre}ksf0)""".stripMargin

  /** The BH adjustment mirrored from `PValues.fdrAdjust`: expects a
    * CTE `<in>` carrying `p` and the unique tiebreak key `<key>`,
    * ends in `bh3` = the input columns + m_tests, bh_rank, braw,
    * p_adj. Null-p rows sort via the 2.0 sentinel in BOTH
    * directions, exactly as the engine does.
    */
  private def pvBhCtes(in: String, key: String, fam: String = ""): String = {
    val part = if (fam.isEmpty) "" else s"PARTITION BY $fam "
    s"""bh1 AS (
       |  SELECT *,
       |    CAST(COUNT(CASE WHEN p IS NOT NULL THEN 1 END)
       |      OVER (${if (fam.isEmpty) "" else s"PARTITION BY $fam"}) AS BIGINT) AS m_tests,
       |    CASE WHEN p IS NOT NULL THEN
       |      CAST(ROW_NUMBER() OVER (${part}ORDER BY COALESCE(p, 2.0) ASC, $key ASC) AS BIGINT)
       |    END AS bh_rank
       |  FROM $in),
       |bh2 AS (
       |  SELECT *, CASE WHEN p IS NOT NULL THEN
       |    round(CAST(m_tests AS DOUBLE) * p / CAST(bh_rank AS DOUBLE), 12)
       |  END AS braw
       |  FROM bh1),
       |bh3 AS (
       |  SELECT *, CASE WHEN p IS NOT NULL THEN
       |    round(LEAST(1.0, MIN(braw) OVER (${part}ORDER BY COALESCE(p, 2.0) DESC, $key DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       |  END AS p_adj
       |  FROM bh2)""".stripMargin
  }

  /** The Holm step-down adjustment mirrored from
    * `PValues.holmAdjust` (r16): expects a CTE `<in>` carrying `p`
    * and the unique tiebreak key `<key>`, ends in `hl3` = the input
    * columns + m_holm, holm_rank, hraw, p_holm. Same total order as
    * the BH windows (sentinel 2.0 for nulls), running MAX instead of
    * reverse running min.
    */
  private def pvHolmCtes(in: String, key: String, fam: String = ""): String = {
    val part = if (fam.isEmpty) "" else s"PARTITION BY $fam "
    s"""hl1 AS (
       |  SELECT *,
       |    CAST(COUNT(CASE WHEN p IS NOT NULL THEN 1 END)
       |      OVER (${if (fam.isEmpty) "" else s"PARTITION BY $fam"}) AS BIGINT) AS m_holm,
       |    CASE WHEN p IS NOT NULL THEN
       |      CAST(ROW_NUMBER() OVER (${part}ORDER BY COALESCE(p, 2.0) ASC, $key ASC) AS BIGINT)
       |    END AS holm_rank
       |  FROM $in),
       |hl2 AS (
       |  SELECT *, CASE WHEN p IS NOT NULL THEN
       |    round(CAST(m_holm - holm_rank + 1 AS DOUBLE) * p, 12)
       |  END AS hraw
       |  FROM hl1),
       |hl3 AS (
       |  SELECT *, CASE WHEN p IS NOT NULL THEN
       |    round(LEAST(1.0, MAX(hraw) OVER (${part}ORDER BY COALESCE(p, 2.0) ASC, $key ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       |  END AS p_holm
       |  FROM hl2)""".stripMargin
  }

  /** One measure's CTE chain for the q43 portable-HLL oracle —
    * mirrors `Ops.hllDistinct` (p=12) step for step: 60-bit seeded-md5
    * hash, bucket/ρ split, register max, exact-integer harmonic sum,
    * αm²·2⁴⁹/S with the linear-counting branch. The numerator embeds
    * as one 17-significant-digit double literal (round-trips to the
    * identical IEEE double Spark's `lit` carries). Ends in a CTE
    * named `<pre>out(g, <outName>)`.
    */
  private def hllOracleCtes(pre: String, valueCol: String, outName: String): String = {
    val m = 4096; val scale = 49
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m.toDouble * m.toDouble * math.pow(2.0, scale)
    val numerLit = String.format(java.util.Locale.ROOT, "%.17g", Double.box(numer))
    s"""${pre}h AS (
       |  SELECT l_returnflag AS g,
       |    CAST('0x' || substr(md5('hll:' || CAST($valueCol AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM lineitem WHERE $valueCol IS NOT NULL),
       |${pre}rho AS (
       |  SELECT g, h % $m AS bkt,
       |    CASE WHEN h // $m = 0 THEN $scale ELSE $scale - length(bin(h // $m)) END AS rho
       |  FROM ${pre}h),
       |${pre}reg AS (SELECT g, bkt, MAX(rho) AS reg FROM ${pre}rho GROUP BY 1, 2),
       |${pre}agg AS (
       |  SELECT g, COUNT(*) AS present,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($scale - reg)) AS BIGINT) AS sp
       |  FROM ${pre}reg GROUP BY 1),
       |${pre}out AS (
       |  SELECT g,
       |    CASE WHEN $numerLit / CAST(sp + ($m - present) * (CAST(1 AS BIGINT) << $scale) AS DOUBLE) <= ${2.5 * m}
       |           AND $m - present > 0
       |      THEN CAST(round($m.0 * ln($m.0 / CAST($m - present AS DOUBLE))) AS BIGINT)
       |      ELSE CAST(round($numerLit / CAST(sp + ($m - present) * (CAST(1 AS BIGINT) << $scale) AS DOUBLE)) AS BIGINT)
       |    END AS $outName
       |  FROM ${pre}agg)""".stripMargin
  }

  private val duckTokens = "list_filter(string_split(trim(regexp_replace(lower(text), " +
    "'[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"

  /** The BPE training CTE chain shared by the q101 and q107 oracles:
    * the merge rounds unrolled as chained CTEs (the q96
    * unrolled-iteration precedent). Symbol sequences are `|`-wrapped
    * delimited strings exactly as in Bpe.scala, so one merge round is
    * pair census → argmax (freq desc, pair asc) → one left-to-right
    * `replace` rewrite. `AS MATERIALIZED` is load-bearing: c(i−1) is
    * referenced twice per round and DuckDB inlines plain CTEs, which
    * doubles the plan every round (2¹² blow-up without it). The
    * rewrite is a LEFT JOIN ON TRUE against the 0-or-1-row argmax so
    * an EXHAUSTED round carries the census through unchanged — a
    * cross join would empty every later round and q107's encode
    * would spuriously mismatch on a corpus that stops early (q101
    * merely loses its vanished rows, matching Spark's early stop
    * either way). Yields CTEs `a1..aN` (the ranked merges) and `cN`
    * (the final word-census symbol strings, word recoverable by
    * stripping `|`).
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT u.p[1] AS l, u.p[2] AS r, t.f
         |  FROM (SELECT string_split(trim(s, '|'), '||') AS ss, f FROM c${i - 1}) t,
         |       UNNEST(list_zip(t.ss[1:len(t.ss)-1], t.ss[2:len(t.ss)])) AS u(p)),
         |a$i AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(f) AS BIGINT) AS pf FROM p$i
         |  GROUP BY l, r HAVING SUM(f) >= 2
         |  ORDER BY pf DESC, l, r LIMIT 1),
         |c$i AS MATERIALIZED (
         |  SELECT CASE WHEN a.l IS NULL THEN c.s
         |              ELSE replace(c.s, '|' || a.l || '||' || a.r || '|', '|' || a.l || a.r || '|')
         |         END AS s, c.f
         |  FROM c${i - 1} c LEFT JOIN a$i a ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT u.w AS w FROM documents, UNNEST($duckTokens) AS u(w)),
       |c0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, COUNT(*) AS f
       |  FROM w0 GROUP BY 1),
       |$rounds""".stripMargin
  }

  private def bpeOracleSql(numMerges: Int): String = {
    val out = (1 to numMerges).map { i =>
      s"""SELECT $i AS rank, l AS "left", r AS "right", pf AS pair_freq FROM a$i"""
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(numMerges)}
       |SELECT * FROM (
       |$out) ORDER BY rank""".stripMargin
  }

  /** q107's oracle: encode the corpus with the q101-trained merges.
    * The final census CTE c12 already holds every distinct word's
    * merged symbol string (the word itself recovers by stripping the
    * `|` wrappers), so encoding is one vocab join back onto the
    * position-exploded corpus and an ordered per-doc reassembly —
    * exactly `Bpe.applyBpe`'s shape.
    */
  private def bpeEncodeOracleSql(numMerges: Int): String =
    s"""WITH ${bpeTrainCtes(numMerges)},
       |vmap AS (
       |  SELECT replace(s, '|', '') AS w, string_split(trim(s, '|'), '||') AS syms
       |  FROM c$numMerges),
       |dw AS (
       |  SELECT d.doc_id, u.p[1] AS w, CAST(u.p[2] AS BIGINT) AS pos
       |  FROM (SELECT doc_id, $duckTokens AS t FROM documents) d,
       |       UNNEST(list_zip(d.t, range(1, len(d.t)+1))) AS u(p)),
       |enc AS (SELECT doc_id, pos, syms FROM dw JOIN vmap USING (w))
       |SELECT doc_id,
       |  array_to_string(flatten(list(syms ORDER BY pos)), ' ') AS bpe_text,
       |  CAST(len(flatten(list(syms ORDER BY pos))) AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q241/q242 WordPiece train rounds: the q101 unroll plus a
    * per-round SYMBOL census and the likelihood-score argmax —
    * score = pf / (fl · fr), one double division of exact longs,
    * ordered (score DESC, l, r); the rewrite concatenates with the
    * `##`-strip rule (`Wordpiece.mergedSymbol`).
    */
  private def wpTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { i =>
      s"""p$i AS (
         |  SELECT u.p[1] AS l, u.p[2] AS r, t.f
         |  FROM (SELECT string_split(trim(s, '|'), '||') AS ss, f FROM c${i - 1}) t,
         |       UNNEST(list_zip(t.ss[1:len(t.ss)-1], t.ss[2:len(t.ss)])) AS u(p)),
         |y$i AS (
         |  SELECT sym, CAST(SUM(f) AS BIGINT) AS sf FROM (
         |    SELECT unnest(string_split(trim(s, '|'), '||')) AS sym, f FROM c${i - 1})
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT pp.l, pp.r, pp.pf,
         |    CAST(pp.pf AS DOUBLE) / (CAST(yl.sf AS DOUBLE) * CAST(yr.sf AS DOUBLE)) AS score
         |  FROM (SELECT l, r, CAST(SUM(f) AS BIGINT) AS pf FROM p$i
         |        GROUP BY l, r HAVING SUM(f) >= 2) pp
         |  JOIN y$i yl ON yl.sym = pp.l
         |  JOIN y$i yr ON yr.sym = pp.r
         |  ORDER BY score DESC, pp.l, pp.r LIMIT 1),
         |c$i AS MATERIALIZED (
         |  SELECT CASE WHEN a.l IS NULL THEN c.s
         |              ELSE replace(c.s, '|' || a.l || '||' || a.r || '|',
         |                '|' || a.l || CASE WHEN a.r LIKE '##%' THEN substr(a.r, 3) ELSE a.r END || '|')
         |         END AS s, c.f
         |  FROM c${i - 1} c LEFT JOIN a$i a ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT u.w AS w FROM documents, UNNEST($duckTokens) AS u(w)),
       |c0 AS MATERIALIZED (
       |  SELECT '|' || substr(regexp_replace(w, '(.)', '|##\\1|', 'g'), 4) AS s, COUNT(*) AS f
       |  FROM w0 WHERE length(w) <= 16 GROUP BY 1),
       |$rounds""".stripMargin
  }

  private def wpOracleSql(numMerges: Int): String = {
    val out = (1 to numMerges).map { i =>
      s"""SELECT $i AS rank, l AS "left", r AS "right", pf AS pair_freq,
         |  round(score, 12) AS score FROM a$i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${wpTrainCtes(numMerges)}
       |SELECT * FROM (
       |$out) ORDER BY rank""".stripMargin
  }

  /** q242's oracle: greedy longest-match encode under the trained
    * vocab (initial symbols of c0 + the merge products). The
    * longest-match table maxes the match end per (word, position);
    * the greedy walk is a per-word recursive CTE following it —
    * single deterministic path, simpler than q236's Viterbi — then
    * the `Bpe.applyBpe`-shaped reassembly.
    */
  private def wpEncodeOracleSql(numMerges: Int): String = {
    val mergedOf = (1 to numMerges).map { i =>
      s"SELECT l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS piece FROM a$i"
    }.mkString("\n  UNION ")
    s"""WITH RECURSIVE ${wpTrainCtes(numMerges)},
       |vsyms AS (
       |  SELECT DISTINCT piece FROM (
       |    SELECT unnest(string_split(trim(s, '|'), '||')) AS piece FROM c0)
       |  UNION $mergedOf),
       |dw AS (SELECT DISTINCT w FROM w0 WHERE length(w) <= 16),
       |lm AS (
       |  SELECT w, j, MAX(i) AS i FROM (
       |    SELECT dw.w, j.j, i.i
       |    FROM dw, range(0, 16) j(j), range(1, 17) i(i)
       |    WHERE j.j < length(dw.w) AND i.i > j.j AND i.i <= length(dw.w)
       |      AND (CASE WHEN j.j = 0 THEN substr(dw.w, 1, CAST(i.i AS INT))
       |           ELSE '##' || substr(dw.w, CAST(j.j + 1 AS INT), CAST(i.i - j.j AS INT)) END)
       |        IN (SELECT piece FROM vsyms))
       |  GROUP BY w, j),
       |gw AS (
       |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS ps, TRUE AS ok FROM dw
       |  UNION ALL
       |  SELECT g.w,
       |    CASE WHEN l.i IS NULL THEN CAST(length(g.w) AS BIGINT) ELSE l.i END AS pos,
       |    CASE WHEN l.i IS NULL THEN g.ps
       |      ELSE list_append(g.ps, CASE WHEN g.pos = 0 THEN substr(g.w, 1, CAST(l.i AS INT))
       |        ELSE '##' || substr(g.w, CAST(g.pos + 1 AS INT), CAST(l.i - g.pos AS INT)) END) END AS ps,
       |    (g.ok AND l.i IS NOT NULL) AS ok
       |  FROM gw g LEFT JOIN lm l ON l.w = g.w AND l.j = g.pos
       |  WHERE g.pos < length(g.w)),
       |seg AS (
       |  SELECT w, CASE WHEN ok THEN ps ELSE ['[unk]'] END AS ps
       |  FROM gw WHERE pos = length(w)),
       |dwp AS (
       |  SELECT d.doc_id, u.p[1] AS w, CAST(u.p[2] AS BIGINT) AS pos
       |  FROM (SELECT doc_id, $duckTokens AS t FROM documents) d,
       |       UNNEST(list_zip(d.t, range(1, len(d.t)+1))) AS u(p)),
       |enc AS (SELECT doc_id, pos, ps FROM dwp JOIN seg USING (w))
       |SELECT doc_id,
       |  array_to_string(flatten(list(ps ORDER BY pos)), ' ') AS wp_text,
       |  CAST(len(flatten(list(ps ORDER BY pos))) AS BIGINT) AS n_wp_tokens
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q243's oracle: the DSIR replay — hashed unigram+bigram bucket
    * censuses (seeded md5, the q171 family), add-one-smoothed
    * round-12 log-probs over the full bucket domain, per-doc
    * importance terms summed as exact DECIMAL(38,12), seeded Gumbel,
    * top-k on the UNROUNDED score, output re-ordered on the rounded
    * one (matching the engine's final sort).
    */
  private def dsirOracleSql(k: Int, buckets: Int, seed: Long): String = {
    def grams(src: String, perDoc: Boolean) = {
      val sel = if (perDoc) "doc_id, " else ""
      s"""SELECT ${sel}u.g AS g FROM $src, UNNEST(t) AS u(g)
         |  UNION ALL
         |  SELECT ${sel}u.p[1] || ' ' || u.p[2] AS g
         |  FROM $src, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)""".stripMargin
    }
    def lnp(census: String, out: String) =
      s"""SELECT r.b,
         |    round(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
         |      CAST(COALESCE((SELECT CAST(SUM(c) AS BIGINT) FROM $census), 0) + $buckets AS DOUBLE)), 12) AS $out
         |  FROM range(0, $buckets) r(b) LEFT JOIN $census c ON c.b = r.b""".stripMargin
    s"""WITH dt AS (SELECT doc_id, source, $duckTokens AS t FROM documents),
       |tg AS (SELECT g FROM (${grams("(SELECT t FROM dt WHERE source = 'src0') s", perDoc = false)})),
       |rg AS (SELECT doc_id, g FROM (${grams("dt", perDoc = true)})),
       |tgc AS (
       |  SELECT CAST(('0x' || substr(md5('dsir:$seed:' || g), 1, 7)) AS BIGINT) % $buckets AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tg GROUP BY 1),
       |rgc AS (
       |  SELECT CAST(('0x' || substr(md5('dsir:$seed:' || g), 1, 7)) AS BIGINT) % $buckets AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT g FROM rg) GROUP BY 1),
       |lnpt AS (${lnp("tgc", "lnpt")}),
       |lnpr AS (${lnp("rgc", "lnpr")}),
       |dbc AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('dsir:$seed:' || g), 1, 7)) AS BIGINT) % $buckets AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM rg GROUP BY 1, 2),
       |docw AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
       |    SUM(CAST(round(CAST(c AS DOUBLE) * (lnpt.lnpt - lnpr.lnpr), 12) AS DECIMAL(38,12))) AS lnw
       |  FROM dbc JOIN lnpt ON lnpt.b = dbc.b JOIN lnpr ON lnpr.b = dbc.b
       |  GROUP BY doc_id),
       |alld AS (
       |  SELECT d.doc_id, COALESCE(w.n_grams, 0) AS n_grams,
       |    COALESCE(w.lnw, CAST(0 AS DECIMAL(38,12))) AS lnw
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  LEFT JOIN docw w ON w.doc_id = d.doc_id),
       |scored AS (
       |  SELECT doc_id, n_grams, lnw,
       |    -round(ln(-round(ln((CAST(CAST(('0x' || substr(md5('dsirg:$seed:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS DOUBLE) + 0.5) / 268435456.0), 12)), 12) AS g
       |  FROM alld),
       |top AS (
       |  SELECT doc_id, n_grams, lnw, g, CAST(lnw AS DOUBLE) + g AS s
       |  FROM scored ORDER BY s DESC, doc_id LIMIT $k)
       |SELECT doc_id, n_grams, round(CAST(lnw AS DOUBLE), 6) AS lnw,
       |  round(g, 6) AS gumbel, round(s, 6) AS score
       |FROM top ORDER BY score DESC, doc_id""".stripMargin
  }

  /** The q245/q246 always-valid-CI oracle: the q196/q208 moment and
    * V/Δ CTEs verbatim, with the mixture-inversion radius tail —
    * `√(V(V+τ²)/τ² · (round-12 ln((V+τ²)/V) − 2·lnα))` under the
    * shared 17-digit lnα literal.
    */
  private def avciOracleSql(grouped: Boolean): String = {
    val lnA = String.format(java.util.Locale.ROOT, "CAST(%.17e AS DOUBLE)",
      Double.box(-2.995732273553991))
    val t2 = "CAST(1000000 AS DOUBLE)"
    val gSel = if (grouped) "grp, " else ""
    val gCol = if (grouped) "o_orderpriority AS grp, " else ""
    val gFil = if (grouped) "\n    AND o_orderpriority IS NOT NULL" else ""
    val gBy = if (grouped) " GROUP BY 1" else ""
    val join =
      if (grouped)
        """j AS (
          |  SELECT COALESCE(a.grp, b.grp) AS grp,
          |    COALESCE(n_a, 0) AS n_a, s_a, ss_a,
          |    COALESCE(n_b, 0) AS n_b, s_b, ss_b
          |  FROM a FULL OUTER JOIN b ON a.grp = b.grp)""".stripMargin
      else "j AS (SELECT * FROM a CROSS JOIN b)"
    val tail = if (grouped) " ORDER BY grp" else ""
    s"""WITH a AS (
       |  SELECT ${gCol}CAST(count(*) AS BIGINT) AS n_a,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_a,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
       |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_a
       |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL$gFil
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'$gBy),
       |b AS (
       |  SELECT ${gCol}CAST(count(*) AS BIGINT) AS n_b,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s_b,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
       |      CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS ss_b
       |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL$gFil
       |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'$gBy),
       |$join,
       |f AS (
       |  SELECT *,
       |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
       |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
       |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
       |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) AS va,
       |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)) AS vb
       |  FROM j),
       |g AS (
       |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS vv,
       |    mb - ma AS delta
       |  FROM f),
       |h AS (
       |  SELECT *,
       |    sqrt(vv * (vv + $t2) / $t2 *
       |      (round(ln((vv + $t2) / vv), 12) - CAST(2.0 AS DOUBLE) * $lnA)) AS radius
       |  FROM g)
       |SELECT ${gSel}n_a, n_b,
       |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
       |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(delta, 6) END AS delta,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN round(radius, 6) END AS radius,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN round(delta - radius, 6) END AS ci_lo,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0 THEN round(delta + radius, 6) END AS ci_hi
       |FROM h$tail""".stripMargin
  }

  /** The q247/q249 QTE oracle: per-arm (segment?, cents) count
    * census, the domain-bounded cumulative, the integer-free rank
    * pick `floor((pct·n+99)/100)`, FULL OUTER arm join, exact
    * integer-cents differences (the q161 BIGINT discipline — the
    * r13/r17 driver-hash trap forbids DECIMAL output columns; the
    * ×100 on DECIMAL(18,2) is integral, so the BIGINT cast is exact).
    */
  private def qteOracleSql(grouped: Boolean): String = {
    val gSrc = if (grouped) "o_orderpriority AS grp, " else ""
    val gFil = if (grouped) " AND o_orderpriority IS NOT NULL" else ""
    val gBy = if (grouped) "grp, " else ""
    val gPart = if (grouped) "PARTITION BY grp " else ""
    val gOn = if (grouped) "qa.grp = qb.grp AND " else ""
    val gSel = if (grouped) "COALESCE(qa.grp, qb.grp) AS grp, " else ""
    val gOrd = if (grouped) "grp, " else ""
    def cumOf(arm: String, pre: String) =
      s"""c$pre AS (SELECT ${gBy}v, CAST(count(*) AS BIGINT) AS c
         |  FROM s WHERE arm = '$arm' GROUP BY ${gBy}v),
         |cu$pre AS (
         |  SELECT ${gBy}v, CAST(SUM(c) OVER w AS BIGINT) AS cum,
         |    CAST(SUM(c) OVER ($gPart) AS BIGINT) AS n
         |  FROM c$pre WINDOW w AS ($gPart ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |q$pre AS (
         |  SELECT ${gBy}pct, CAST(MAX(n) AS BIGINT) AS n_$pre,
         |    MIN(v) AS q_${pre}_cents
         |  FROM cu$pre CROSS JOIN lv
         |  WHERE cum >= CAST(floor(CAST(pct * n + 99 AS DOUBLE) / 100.0) AS BIGINT)
         |  GROUP BY ${gBy}pct)""".stripMargin
    s"""WITH s AS (
       |  SELECT ${gSrc}CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM orders WHERE o_totalprice IS NOT NULL$gFil),
       |lv AS (SELECT CAST(unnest([10, 25, 50, 75, 90]) AS BIGINT) AS pct),
       |${cumOf("A", "a")},
       |${cumOf("B", "b")}
       |SELECT ${gSel}COALESCE(qa.pct, qb.pct) AS pct,
       |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
       |  q_a_cents, q_b_cents, q_b_cents - q_a_cents AS qte_cents
       |FROM qa FULL OUTER JOIN qb ON ${gOn}qa.pct = qb.pct
       |ORDER BY ${gOrd}pct""".stripMargin
  }

  /** The q248 winsorized-Welch oracle: per-arm census + exact 5/95
    * rank bounds, one more row pass clamping against the 1-row
    * bounds, then the q162 Welch tree verbatim.
    */
  private def winsorizedWelchOracleSql: String = {
    def armOf(arm: String, pre: String) =
      s"""c$pre AS (SELECT v, CAST(count(*) AS BIGINT) AS c
         |  FROM s WHERE arm = '$arm' GROUP BY v),
         |cu$pre AS (
         |  SELECT v, CAST(SUM(c) OVER w AS BIGINT) AS cum,
         |    CAST(SUM(c) OVER () AS BIGINT) AS n
         |  FROM c$pre WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |b$pre AS (
         |  SELECT
         |    (SELECT MIN(v) FROM cu$pre
         |     WHERE cum >= CAST(floor(CAST(5 * n + 99 AS DOUBLE) / 100.0) AS BIGINT)) AS lo_$pre,
         |    (SELECT MIN(v) FROM cu$pre
         |     WHERE cum >= CAST(floor(CAST(95 * n + 99 AS DOUBLE) / 100.0) AS BIGINT)) AS hi_$pre),
         |m$pre AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_$pre,
         |    MAX(lo_$pre) AS lo_$pre, MAX(hi_$pre) AS hi_$pre,
         |    CAST(SUM(w) AS DECIMAL(38,2)) AS s_$pre,
         |    CAST(SUM(w * w) AS DECIMAL(38,4)) AS ss_$pre
         |  FROM (SELECT least(greatest(v, lo_$pre), hi_$pre) AS w, lo_$pre, hi_$pre
         |        FROM s CROSS JOIN b$pre WHERE arm = '$arm'))""".stripMargin
    s"""WITH s AS (
       |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |${armOf("A", "a")},
       |${armOf("B", "b")},
       |f AS (
       |  SELECT *,
       |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
       |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
       |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
       |      / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_a AS DOUBLE) AS vna,
       |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |      / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))) / CAST(n_b AS DOUBLE) AS vnb
       |  FROM ma CROSS JOIN mb)
       |SELECT n_a, n_b,
       |  CAST(lo_a * 100 AS BIGINT) AS lo_a_cents,
       |  CAST(hi_a * 100 AS BIGINT) AS hi_a_cents,
       |  CAST(lo_b * 100 AS BIGINT) AS lo_b_cents,
       |  CAST(hi_b * 100 AS BIGINT) AS hi_b_cents,
       |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
       |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
       |    round((ma - mb) / sqrt(vna + vnb), 6) END AS t,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vna + vnb > 0 THEN
       |    round((vna + vnb) * (vna + vnb) /
       |      (vna * vna / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE)) +
       |       vnb * vnb / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE))), 6) END AS df
       |FROM f""".stripMargin
  }

  // ---- unigram-LM oracle generators (q235/q236): the word census,
  // substring seed, and per-round Viterbi-EM replay. The Viterbi DP
  // is a LEVEL-SYNCHRONIZED recursive CTE: one row per word per
  // position, carrying the best-cost and backpointer LISTS, each
  // step a LEFT join against the candidate table + an argmax window
  // (cost DESC, start ASC — the engine's strict-> j-ascending fold
  // selects identically); the backtrack is a second recursion
  // walking the backpointers out into pieces. ----

  /** Unigram train parameters shared by engine and oracle (mirror
    * Unigram.q235's literals): maxWordLen 16, maxPieceLen 6.
    */
  private def unigramVocabCtes(pre: String, usage: String, keep: Int): String =
    s"""${pre}top AS (
       |  SELECT piece, uses FROM (
       |    SELECT piece, uses, row_number() OVER (ORDER BY uses DESC, piece) AS rk
       |    FROM $usage WHERE length(piece) > 1) WHERE rk <= $keep),
       |${pre}vocu AS (
       |  SELECT chs.piece, CAST(COALESCE(u.uses, 0) AS BIGINT) AS uses
       |  FROM chs LEFT JOIN $usage u ON u.piece = chs.piece
       |  UNION ALL SELECT piece, uses FROM ${pre}top),
       |${pre}tot AS (SELECT CAST(SUM(uses + 1) AS BIGINT) AS tot FROM ${pre}vocu),
       |${pre}voc AS (
       |  SELECT piece, uses,
       |    round(ln(CAST(uses + 1 AS DOUBLE) / CAST(tot AS DOUBLE)), 12) AS lnp
       |  FROM ${pre}vocu CROSS JOIN ${pre}tot)""".stripMargin

  /** One Viterbi segmentation pass of every census word under vocab
    * CTE `vin` — emits `{pre}seg(w, ps)` and the weighted usage
    * census `{pre}use(piece, uses)`.
    */
  private def unigramRoundCtes(pre: String, vin: String): String =
    s"""${pre}lk AS (
       |  SELECT wc.w, j.j, i.i, v.lnp
       |  FROM wc, range(0, 16) j(j), range(1, 17) i(i), $vin v
       |  WHERE j.j < length(wc.w) AND i.i > j.j AND i.i <= length(wc.w)
       |    AND i.i - j.j <= 6
       |    AND v.piece = substr(wc.w, CAST(j.j + 1 AS INT), CAST(i.i - j.j AS INT))),
       |${pre}dp AS (
       |  SELECT w, CAST(1 AS BIGINT) AS nxt,
       |    [CAST(0.0 AS DOUBLE)] AS cs, [CAST(-1 AS BIGINT)] AS bps FROM wc
       |  UNION ALL
       |  SELECT w, nxt + 1 AS nxt, list_append(cs, bc) AS cs,
       |    list_append(bps, bj) AS bps FROM (
       |    SELECT d.w, d.nxt, d.cs, d.bps,
       |      CASE WHEN d.cs[CAST(l.j + 1 AS INT)] IS NOT NULL
       |        THEN d.cs[CAST(l.j + 1 AS INT)] + l.lnp END AS bc,
       |      l.j AS bj,
       |      row_number() OVER (PARTITION BY d.w ORDER BY
       |        (CASE WHEN d.cs[CAST(l.j + 1 AS INT)] IS NOT NULL
       |          THEN d.cs[CAST(l.j + 1 AS INT)] + l.lnp END) DESC NULLS LAST,
       |        l.j NULLS LAST) AS rn
       |    FROM ${pre}dp d LEFT JOIN ${pre}lk l ON l.w = d.w AND l.i = d.nxt
       |    WHERE d.nxt <= length(d.w)
       |  ) WHERE rn = 1),
       |${pre}fin AS (SELECT w, cs, bps FROM ${pre}dp WHERE nxt = length(w) + 1),
       |${pre}bt AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS ps, bps
       |  FROM ${pre}fin WHERE cs[CAST(length(w) + 1 AS INT)] IS NOT NULL
       |  UNION ALL
       |  SELECT w, bps[CAST(pos + 1 AS INT)] AS pos,
       |    list_prepend(substr(w, CAST(bps[CAST(pos + 1 AS INT)] + 1 AS INT),
       |      CAST(pos - bps[CAST(pos + 1 AS INT)] AS INT)), ps) AS ps, bps
       |  FROM ${pre}bt WHERE pos > 0),
       |${pre}seg AS (SELECT w, ps FROM ${pre}bt WHERE pos = 0),
       |${pre}use AS (
       |  SELECT piece, CAST(SUM(f) AS BIGINT) AS uses FROM (
       |    SELECT unnest(s.ps) AS piece, wc.f AS f
       |    FROM ${pre}seg s JOIN wc ON wc.w = s.w)
       |  GROUP BY 1)""".stripMargin

  /** The shared train chain: word census → char floor → substring
    * seed (top 60 + chars) → two EM rounds (keep 40, 24) → v2voc.
    */
  private def unigramTrainCtes: String =
    s"""wc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT u.w AS w FROM documents, UNNEST($duckTokens) AS u(w))
       |  WHERE length(w) <= 16 GROUP BY w),
       |chs AS (
       |  SELECT DISTINCT substr(w, CAST(i.i AS INT), 1) AS piece
       |  FROM wc, range(1, 17) i(i) WHERE i.i <= length(w)),
       |sub AS (
       |  SELECT substr(w, CAST(j.j + 1 AS INT), CAST(i.i - j.j AS INT)) AS piece,
       |    CAST(SUM(f) AS BIGINT) AS uses
       |  FROM wc, range(0, 16) j(j), range(1, 17) i(i)
       |  WHERE j.j < length(w) AND i.i > j.j AND i.i <= length(w)
       |    AND i.i - j.j <= 6
       |  GROUP BY 1),
       |${unigramVocabCtes("s0", "sub", 60)},
       |${unigramRoundCtes("u1", "s0voc")},
       |${unigramVocabCtes("v1", "u1use", 40)},
       |${unigramRoundCtes("u2", "v1voc")},
       |${unigramVocabCtes("v2", "u2use", 24)}""".stripMargin

  private def unigramTrainSql: String =
    s"""WITH RECURSIVE ${unigramTrainCtes}
       |SELECT piece, uses, round(lnp, 6) AS lnp FROM v2voc
       |ORDER BY piece""".stripMargin

  /** The group-sequential oracle (q234 OBF / q237 Pocock / q238
    * keyed): per-(look, arm) exact moments over the 1995–1999 order
    * years, the K-row cumulative window, the welch-shape z with the
    * two-tier stand-in divisors, the shared boundary-constant
    * literal (`Ops.obfC`/`pocockC`), absorbing stop. `grouped`
    * threads the priority segment through every CTE and PARTITIONs
    * the windows — the engine's gsDecide keying, replayed.
    */
  private def gsOracleSql(spending: String, grouped: Boolean): String = {
    val c = String.format(java.util.Locale.ROOT, "%.17e", Double.box(
      (if (spending == "obf") graft.api.Ops.obfC else graft.api.Ops.pocockC)(5)))
    val boundary =
      if (spending == "obf")
        s"round(CAST($c AS DOUBLE) * sqrt(CAST(5.0 AS DOUBLE) / CAST(look AS DOUBLE)), 6)"
      else s"round(CAST($c AS DOUBLE), 6)"
    val gSel = if (grouped) "grp, " else ""
    val gFilter = if (grouped) " AND o_orderpriority IS NOT NULL" else ""
    val gSrc = if (grouped) "o_orderpriority AS grp, " else ""
    val gBy = if (grouped) "grp, " else ""
    val gPart = if (grouped) "PARTITION BY grp " else ""
    val gJoin = if (grouped) "grp, look" else "look"
    val grid =
      if (grouped)
        """grid AS (SELECT grp, unnest(range(1, 6)) AS look
          |  FROM (SELECT DISTINCT grp FROM src))""".stripMargin
      else "grid AS (SELECT unnest(range(1, 6)) AS look)"
    s"""WITH src AS (
       |  SELECT ${gSrc}CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(o_totalprice AS DECIMAL(18,2)) AS v,
       |    CAST(year(o_orderdate) - 1994 AS BIGINT) AS look
       |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL$gFilter
       |    AND year(o_orderdate) BETWEEN 1995 AND 1999),
       |ia AS (SELECT ${gBy}look, CAST(count(*) AS BIGINT) AS inn,
       |    CAST(SUM(v) AS DECIMAL(38,2)) AS isx,
       |    CAST(SUM(v * v) AS DECIMAL(38,4)) AS isxx
       |  FROM src WHERE arm = 'A' GROUP BY ${gBy}look),
       |ib AS (SELECT ${gBy}look, CAST(count(*) AS BIGINT) AS inn,
       |    CAST(SUM(v) AS DECIMAL(38,2)) AS isx,
       |    CAST(SUM(v * v) AS DECIMAL(38,4)) AS isxx
       |  FROM src WHERE arm = 'B' GROUP BY ${gBy}look),
       |$grid,
       |j AS (
       |  SELECT ${if (grouped) "grid.grp, " else ""}grid.look,
       |    ia.inn AS na_i, ia.isx AS sa_i, ia.isxx AS ssa_i,
       |    ib.inn AS nb_i, ib.isx AS sb_i, ib.isxx AS ssb_i
       |  FROM grid LEFT JOIN ia USING ($gJoin)
       |    LEFT JOIN ib USING ($gJoin)),
       |c AS (
       |  SELECT ${gSel}look,
       |    CAST(SUM(COALESCE(na_i, 0)) OVER w AS BIGINT) AS n_a,
       |    CAST(SUM(COALESCE(sa_i, CAST(0 AS DECIMAL(38,2)))) OVER w AS DECIMAL(38,2)) AS s_a,
       |    CAST(SUM(COALESCE(ssa_i, CAST(0 AS DECIMAL(38,4)))) OVER w AS DECIMAL(38,4)) AS ss_a,
       |    CAST(SUM(COALESCE(nb_i, 0)) OVER w AS BIGINT) AS n_b,
       |    CAST(SUM(COALESCE(sb_i, CAST(0 AS DECIMAL(38,2)))) OVER w AS DECIMAL(38,2)) AS s_b,
       |    CAST(SUM(COALESCE(ssb_i, CAST(0 AS DECIMAL(38,4)))) OVER w AS DECIMAL(38,4)) AS ss_b
       |  FROM j WINDOW w AS (${gPart}ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT *,
       |    CASE WHEN n_a >= 1 THEN CAST(n_a AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS nma,
       |    CASE WHEN n_b >= 1 THEN CAST(n_b AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS nmb,
       |    CASE WHEN n_a >= 2 THEN CAST(n_a AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END AS nsa,
       |    CASE WHEN n_b >= 2 THEN CAST(n_b AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END AS nsb
       |  FROM c),
       |g2 AS (
       |  SELECT *,
       |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / nsa)
       |      / (nsa - CAST(1.0 AS DOUBLE))) / nsa +
       |    ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / nsb)
       |      / (nsb - CAST(1.0 AS DOUBLE))) / nsb AS se2
       |  FROM f),
       |z0 AS (
       |  SELECT ${gSel}look, n_a, n_b,
       |    CASE WHEN n_a > 0 THEN round(CAST(s_a AS DOUBLE) / nma, 6) END AS mean_a,
       |    CASE WHEN n_b > 0 THEN round(CAST(s_b AS DOUBLE) / nmb, 6) END AS mean_b,
       |    CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN
       |      round((CAST(s_b AS DOUBLE) / nsb - CAST(s_a AS DOUBLE) / nsa) /
       |        sqrt(CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
       |          THEN se2 ELSE CAST(1.0 AS DOUBLE) END), 6) END AS z,
       |    $boundary AS boundary
       |  FROM g2),
       |z1 AS (
       |  SELECT *, CASE WHEN z IS NOT NULL THEN abs(z) >= boundary END AS "cross",
       |    MIN(CASE WHEN z IS NOT NULL AND abs(z) >= boundary THEN look END)
       |      OVER (${if (grouped) "PARTITION BY grp" else ""}) AS stop_look
       |  FROM z0)
       |SELECT ${gSel}look, n_a, n_b, mean_a, mean_b, z, boundary, "cross", stop_look,
       |  CASE WHEN stop_look IS NOT NULL AND look > stop_look THEN 'stopped'
       |    WHEN "cross" THEN 'reject' ELSE 'continue' END AS decision
       |FROM z1 ORDER BY ${gSel}look""".stripMargin
  }

  private def unigramEncodeSql: String =
    s"""WITH RECURSIVE ${unigramTrainCtes},
       |${unigramRoundCtes("e3", "v2voc")},
       |dw AS (
       |  SELECT d.doc_id, u.p[1] AS w, CAST(u.p[2] AS BIGINT) AS pos
       |  FROM (SELECT doc_id, $duckTokens AS t FROM documents) d,
       |       UNNEST(list_zip(d.t, range(1, len(d.t)+1))) AS u(p)
       |  WHERE length(u.p[1]) <= 16),
       |enc AS (SELECT doc_id, pos, s.ps FROM dw JOIN e3seg s ON s.w = dw.w)
       |SELECT doc_id,
       |  array_to_string(flatten(list(ps ORDER BY pos)), ' ') AS uni_text,
       |  CAST(len(flatten(list(ps ORDER BY pos))) AS BIGINT) AS n_uni_tokens
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
