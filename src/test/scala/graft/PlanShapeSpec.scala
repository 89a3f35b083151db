package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.sources.Tables

/** Plan-shape regression lock (VERDICT.md round 1, next-round #7).
  *
  * The round-1 audit found every headline plan scale-correct — no
  * cartesian products, no broadcast-nested-loop fallbacks, filters
  * pushed to the parquet scan. These tests pin that state so a future
  * refactor that silently degrades a join to a cross product (the
  * classic 100 TB killer) fails CI instead of the cluster.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  // the registry queries the plan-shape lock covers, before the
  // exclusions below
  private val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_topk_revenue", "q05_multijoin",
    "q06_selective_agg", "q08_running_window", "q13_outer_join",
    "q21_asof_join", "q22_sessionize", "q23_time_bucket",
    "q26_nested_explode", "q29_fingerprint", "q31_dedup_exact",
    "q32_jaccard_pairs", "q33_minhash_lsh", "q35_cosine_topk",
    "q36_ann_ivf", "q39_range_join", "q42_label_centroids",
    "q46_dedup_clusters", "q47_bigram_stats", "q48_tfidf",
    "q53_embed_neardup", "q55_curation", "q57_seq_pack",
    "q58_decontaminate", "q60_refine", "q61_redact", "q62_dedup_incr",
    "q63_mixture_sample", "q64_repetition_filter", "q65_bloom_semijoin",
    "q66_zorder", "q67_token_cap", "q68_chunk", "q69_dup_spans",
    "q70_strip_markup", "q71_remove_spans", "q72_shuffle_shards",
    "q73_lm_score", "q74_split", "q75_nfc", "q76_skew_stats",
    "q77_collocations", "q78_histogram", "q79_sample_group",
    "q80_semantic_dedup", "q81_cap_vocab", "q82_ngram_coverage",
    "q83_quality_buckets", "q84_char_entropy", "q85_containment",
    "q86_keep_best", "q87_edit_pairs", "q88_vec_dedup_incr",
    "q89_paragraph_dedup", "q90_bm25", "q91_pq_adc", "q92_ivf_pq",
    "q93_resample", "q94_edit_join", "q95_weighted_sample",
    "q96_pagerank", "q97_funnel", "q98_trailing_window",
    "q99_snapshot_diff", "q100_zscore", "q101_bpe",
    "q102_interval_join", "q103_hopping_window", "q104_cohort_retention",
    "q105_funnel_windowed", "q106_pagerank_dangling", "q43_hll_distinct",
    "q107_bpe_encode", "q108_quantile_sketch", "q109_scd2_history",
    "q110_heavy_hitters", "q111_kmeans", "q112_image_neardup",
    "q113_scd2_asof", "q114_ann_two_level", "q115_audio_neardup",
    "q116_video_neardup", "q117_ewma", "q118_event_paths",
    "q119_regression", "q120_twap", "q121_transitions", "q122_streaks",
    "q123_dq_checks", "q124_cdc_apply", "q125_winsorize",
    "q126_triangles", "q127_seasonal", "q128_cusum", "q129_assoc_rules",
    "q130_rfm", "q131_kcore", "q132_bfs_reach", "q134_ab_test",
    "q135_autocorr", "q136_benford", "q137_mad_outliers",
    "q133_item_similarity", "q138_spatial_join", "q139_attribution",
    "q140_sssp", "q141_rolling_actives", "q142_chi_square",
    "q143_concentration", "q144_knn", "q145_linkage", "q146_survival",
    "q147_coverage", "q148_abc", "q149_xcorr", "q150_backtest",
    "q151_cohort_ltv", "q152_conv_latency", "q153_new_returning",
    "q154_dup_payments", "q155_psi_drift", "q156_ks", "q157_mann_whitney",
    "q158_ks_by_group", "q159_mwu_by_group", "q160_psi_by_group",
    "q161_kruskal_wallis", "q162_welch_t", "q163_spearman",
    "q164_recs_topn", "q165_link_predict", "q166_changepoint",
    "q167_weighted_median", "q168_cat_entropy", "q169_welch_by_group",
    "q170_profile_drift", "q171_bootstrap_ci", "q172_cuped",
    "q173_did", "q174_pop_report", "q175_funnel_ab", "q176_holt_trend",
    "q177_kw_by_group", "q178_spearman_by_group",
    "q179_ks_sketch", "q180_wmedian_sketch", "q181_srm_check",
    "q182_js_divergence", "q183_mde", "q184_rank_movers",
    "q185_quantile_drift", "q186_dedup_yield", "q187_centroid_sep",
    "q188_mde_by_group", "q189_js_by_group", "q190_zipf",
    "q191_mwu_sketch", "q192_kw_sketch", "q193_spearman_sketch",
    "q194_qdrift_by_group", "q195_target_encode", "q196_msprt",
    "q197_rare_collapse", "q198_cramers_v", "q199_calibration",
    "q200_ann_recall", "q201_hits", "q202_poststrat",
    "q203_anova", "q204_anova_by_group", "q205_brown_forsythe",
    "q206_pairwise_welch", "q207_corr_matrix",
    "q208_msprt_by_group", "q209_calibration_by_group",
    "q210_srm_by_group", "q211_srm_fdr", "q212_welch_fdr",
    "q213_mde_proportions", "q214_msprt_horizon",
    "q215_ann_recall_by_group",
    "q216_anova_fdr", "q217_kw_fdr", "q218_mwu_fdr",
    "q219_spearman_fdr", "q220_ks_fdr", "q221_governance_battery",
    "q222_mde_prop_by_group", "q223_horizon_by_group",
    "q224_cliffs_delta", "q225_cohens_d", "q226_samplesize_curve",
    "q227_welch_fam_fdr", "q228_cuped_by_group", "q229_did_by_group",
    "q230_poststrat_by_group", "q231_governance_from_prepared",
    "q232_ivf_pq_rerank", "q233_permutation_p", "q234_group_sequential",
    "q235_unigram_train", "q236_unigram_encode",
    "q237_gs_pocock", "q238_gs_by_group", "q239_gs_absorbed",
    "q240_nprobe_curve", "q241_wordpiece_train", "q242_wordpiece_encode",
    "q243_dsir_select", "q244_kn_lm", "q245_avci", "q246_avci_by_group",
    "q247_qte", "q248_winsorized_welch", "q249_qte_by_group",
    "q250_qte_sketch")

  // q46 omitted: its plan is materialized per-round via checkpoints
  // (already audited as the BSP shape); building it runs the full loop.
  // q86 omitted for the same reason (dedupKeepBest runs the BSP
  // closure over the LSH pair graph at plan-build time).
  // q35 is the brute-force ANN *baseline*: its broadcast nested-loop
  // (bounded query set broadcast against one corpus scan) is the
  // intended plan — the scale path is q36's IVF cell join.
  // q48's keyless join of the 1-row n_docs aggregate is necessarily a
  // broadcast nested-loop; its dedicated test below pins that it is
  // the ONLY one. q73's keyless join of the 1-row vocabulary-size
  // aggregate onto the vocab-sized prefix frame is the same shape and
  // gets the same dedicated pin.
  // q76's keyless join of the 1-row total onto the k-row top-k frame
  // is the same 1-row-broadcast shape; its dedicated pin is below.
  // q91 is the flat ADC *baseline* (the PQ analogue of q35): the
  // bounded query frame broadcasts non-equi onto one scan of the
  // codes — the intended plan; the scale path is q92's equi cell
  // join, which stays in the locked set. Its dedicated pin is below.
  // q96/q101 omitted like q46/q86: their frames are materialized
  // per-iteration via checkpoints, so building the plan runs the loop.
  // q106 (pageRank loop) and q107 (BPE train + encode checkpoints) are
  // the same shape — their executed plan is a checkpoint-RDD scan.
  // q123's ForeignKey report pairs the 1-row violation count with the
  // 1-row checked count — a keyless 1-row × 1-row join, the q48/q76
  // scalar-broadcast shape; its dedicated pin below bounds it to
  // exactly that one.
  private val locked =
    headline.filterNot(Set(
      "q46_dedup_clusters", "q35_cosine_topk", "q48_tfidf", "q73_lm_score",
      "q76_skew_stats", "q77_collocations", "q78_histogram",
      "q83_quality_buckets", "q86_keep_best", "q91_pq_adc", "q96_pagerank",
      "q101_bpe", "q106_pagerank_dangling", "q107_bpe_encode",
      "q123_dq_checks", "q129_assoc_rules", "q130_rfm",
      // q131/q132 are checkpoint-iterative like q46/q96: building the
      // plan runs the peel/frontier loop, so their shape is spec'd
      // behaviorally. q186 composes the q46 loop — same exclusion.
      "q131_kcore", "q132_bfs_reach", "q186_dedup_yield",
      // q240 composes q35's brute-force broadcast per curve level
      // plus the documented 1-row crosses — its dedicated pin below
      // bounds the exact count.
      "q240_nprobe_curve",
      // q241/q242 are checkpoint-iterative like q101/q107 (one merge
      // round per checkpoint): building the plan runs the train loop.
      "q241_wordpiece_train", "q242_wordpiece_encode",
      // q243's two 1-row smoothing-total crosses — dedicated pin below.
      "q243_dsir_select",
      // q244's 1-row discount/total cross onto the vocab-sized type
      // table (the q73 shape) — dedicated pin below.
      "q244_kn_lm",
      // q245's 1-row × 1-row moment cross (the q196 shape) —
      // dedicated pin below. (q246's keyed merge stays in the
      // generic lock: no keyless joins.)
      "q245_avci",
      // q247/q249: the 5-row percentile-level frame crosses onto each
      // arm's census (bounded × ≤99) — dedicated pins below. q248
      // additionally materializes its merged moment row (building the
      // plan runs the checkpoint) and crosses the 1-row bounds onto
      // the corpus (the q181 shape).
      "q247_qte", "q248_winsorized_welch", "q249_qte_by_group",
      // q136's census completion crosses the groups-sized totals with
      // the broadcast 9-row digit frame — the q48/q76 bounded-frame
      // shape; its dedicated pin below bounds it to exactly that one
      "q136_benford",
      // q142's |A|×|B| census completion cross + its two 1-row scalar
      // broadcasts (N, the χ²/dof totals) are all bounded keyless
      // joins by design — the dedicated pin below bounds them to
      // exactly three
      "q142_chi_square",
      // q146's global max-day is ONE 1-row scalar broadcast (the q48
      // shape); dedicated pin below
      "q146_survival",
      // q155's two sample sizes are 1-row scalar broadcasts (the q48
      // shape twice); dedicated pin below
      "q155_psi_drift",
      // q161's tie/N scalars ride ONE 1-row broadcast onto the K-row
      // per-group frame (the q48 shape); dedicated pin below
      "q161_kruskal_wallis",
      // q162 is two 1-row moment frames crossed — a 1-row × 1-row
      // scalar pair (the q123 report shape); dedicated pin below.
      // q183 (MDE) and q185 (quantile drift) are the same
      // two-1-row-frame cross; their pins ride the q170/q171/q172
      // test below
      "q162_welch_t", "q183_mde", "q185_quantile_drift",
      // q187's label-pair cross walks the LABEL frame (bounded by the
      // label vocabulary — the q48 bounded-frame argument); its
      // dedicated pin below bounds the keyless joins to exactly one
      "q187_centroid_sep",
      // q170 crosses two 1-row profile aggregates (q162 shape);
      // q171 crosses the 1-row full-data aggregate with the 1-row
      // CI frame; q172 crosses the two 1-row arm-moment frames;
      // dedicated pins below
      "q170_profile_drift", "q171_bootstrap_ci", "q172_cuped",
      // r15: q195 crosses the 1-row overall-totals frame onto the
      // (cat, fold) census (the q48 scalar shape); q196 is the q162
      // two-1-row-moment-frame cross; q197 crosses the 1-row census
      // total onto the category frame (q48 shape); q198 is the q142
      // census completion (|A|×|B| cross + the 1-row N); dedicated
      // pins below bound each to exactly those
      "q195_target_encode", "q196_msprt", "q197_rare_collapse",
      "q198_cramers_v",
      // q201 is checkpoint-iterative like q96/q131 (building the plan
      // runs the HITS loop) and its per-iteration normalizations are
      // 1-row total broadcasts by design
      "q201_hits",
      // q200 composes q35, whose brute-force corpus × queries
      // broadcast is THE documented keyless-join exception; the
      // report's own joins are all query-keyed — pin below
      "q200_ann_recall",
      // q206's g_a < g_b self-join runs over the k-row GROUP CENSUS
      // (k²/2 pairs by design, never row-level) — the q187
      // bounded-frame argument; pin below bounds it to exactly one
      "q206_pairwise_welch",
      // q210's segments × declared-arms completion is a bounded
      // broadcast cross by design (the q142 completion argument: a
      // declared arm absent from a segment is evidence); pin below
      "q210_srm_by_group",
      // r16: q211 composes q210's completion cross (the p-value /
      // BH finishing on top adds windows and an explode, no joins);
      // q213 is the q162 two-1-row-frame cross; q215 composes q35's
      // documented brute-force broadcast (twice-rendered, like
      // q200); dedicated pins below bound each to exactly those
      "q211_srm_fdr", "q213_mde_proportions",
      "q215_ann_recall_by_group"))

  test("q57's packing window is shard-partitioned, never a global ordering") {
    val plan = physicalPlan("q57_seq_pack")
    val windowLine = plan.linesIterator.find(_.contains("Window ["))
    assert(windowLine.exists(l =>
      l.contains("windowspecdefinition(shard") || l.contains("windowspecdefinition(__shard")),
      s"expected the cumsum window partitioned by the shard column in q57:\n$plan")
  }

  test("q79's rank windows are group-partitioned, never a global ordering") {
    val plan = physicalPlan("q79_sample_group")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"expected rank windows in q79:\n$plan")
    assert(windowLines.forall(_.contains("windowspecdefinition(source")),
      s"every q79 window must partition by the group column, never globally:\n$plan")
  }

  test("q72's rank window is shard-partitioned, never a global ordering") {
    val plan = physicalPlan("q72_shuffle_shards")
    val windowLine = plan.linesIterator.find(_.contains("Window ["))
    assert(windowLine.exists(_.contains("windowspecdefinition(__shard")),
      s"expected the shard_pos window partitioned by the shard column in q72:\n$plan")
  }

  for (name <- locked) {
    test(s"$name plan has no cartesian product or nested-loop join") {
      val plan = physicalPlan(name)
      assert(!plan.contains("CartesianProduct"), s"CartesianProduct in $name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"BroadcastNestedLoopJoin in $name:\n$plan")
    }
  }

  test("r15 scalar-cross pins: q195/q196/q197 keyless joins are exactly their 1-row scalar broadcasts; q198 is the q142 completion shape") {
    for ((name, want, what) <- Seq(
      ("q195_target_encode", 1, "the 1-row overall-totals cross onto the census"),
      ("q196_msprt", 1, "the 1-row × 1-row moment-frame cross"),
      ("q197_rare_collapse", 1, "the 1-row census-total cross onto the category frame"),
      ("q198_cramers_v", 2, "the |A|×|B| completion cross + the 1-row N"))) {
      val plan = physicalPlan(name)
      val keyless = plan.linesIterator.count(l =>
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      assert(keyless == want, s"expected exactly $what in $name, got $keyless:\n$plan")
    }
    // q195's fold-totals and per-category joins must stay KEYED
    val p195 = physicalPlan("q195_target_encode")
    assert(p195.contains("BroadcastHashJoin") || p195.contains("SortMergeJoin"),
      s"expected the fold-totals join to run keyed in q195:\n$p195")
    // q200's only keyless join is q35's brute-force broadcast (the
    // documented exception). It renders TWICE in the plan text: the
    // exact side feeds both the n_exact census and the overlap
    // branch, so the q35 subtree appears under each (ReuseExchange
    // dedupes the actual scan at execution). The recall report's own
    // joins are all query-keyed.
    val p200 = physicalPlan("q200_ann_recall")
    val keyless200 = p200.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless200 == 2,
      s"expected exactly the twice-rendered q35 brute-force broadcast in q200, got $keyless200:\n$p200")
    // q206's only keyless join is the k-row census pair self-join
    val p206 = physicalPlan("q206_pairwise_welch")
    val keyless206 = p206.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless206 == 1,
      s"expected exactly the census pair self-join in q206, got $keyless206:\n$p206")
    // q210's only keyless join is the segments × declared-arms
    // completion cross; the observed census joins back KEYED
    val p210 = physicalPlan("q210_srm_by_group")
    val keyless210 = p210.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless210 == 1,
      s"expected exactly the segments×arms completion cross in q210, got $keyless210:\n$p210")
    // r16 pins: q211 inherits q210's one completion cross (the
    // series explode, its windows, and the BH windows add NO joins);
    // q213 is the q162/q183 1-row × 1-row census-scalar pair; q215
    // composes q35's twice-rendered brute-force broadcast exactly as
    // q200 does, with the label roll-up join KEYED
    for ((name, want, what) <- Seq(
      ("q211_srm_fdr", 1, "q210's segments×arms completion cross"),
      ("q213_mde_proportions", 1, "the 1-row × 1-row proportion-census cross"),
      ("q215_ann_recall_by_group", 2, "q35's twice-rendered brute-force broadcast"),
      // r17 q240 (optimization round): the exact baseline and the
      // scored candidate join are checkpoint-materialized ONCE (they
      // used to re-render per level — 8 corpus-join evaluations for a
      // 4-level curve), so the q35 brute-force broadcast no longer
      // renders in the serving plan at all; what remains keyless is
      // the 1-row candidate-count cross per level plus the final
      // 1-row n_corpus cross: 4·1+1 = 5. Every corpus-sized join
      // (the cell join) stays KEYED and lives in the prepare stage.
      ("q240_nprobe_curve", 5, "4 per-level 1-row cand-count crosses + the 1-row corpus-count cross onto checkpointed frames"),
      // r17 q243: since the PreparedDsir refactor the two 1-row
      // smoothing-total crosses happen at PREPARE time (the profile
      // frames materialize via checkpoint), so the serving plan has
      // ZERO keyless joins — every per-doc join is keyed
      ("q243_dsir_select", 0, "no keyless joins — the smoothing crosses live in the materialized prepare stage"),
      // r17 q244: the q73 shape — one 1-row discount/total frame
      // crossed onto the vocab-sized type table; gram joins KEYED
      ("q244_kn_lm", 1, "the 1-row discount/total cross onto the vocab-sized type table"),
      // r17 q245: the q196 shape — the 1-row × 1-row moment cross
      ("q245_avci", 1, "the 1-row × 1-row moment-frame cross"),
      // r17 q247/q249: one 5-row percentile-level broadcast cross per
      // arm census (bounded × ≤99); every arm join stays keyed
      ("q247_qte", 2, "the two 5-row level crosses onto the arm censuses"),
      ("q249_qte_by_group", 2, "the two 5-row level crosses onto the keyed arm censuses"),
      // r17 q248: the merged moment row is checkpoint-materialized
      // (the per-arm bound/corpus crosses run inside that stage), so
      // the SERVING plan carries exactly the final 1-row lo/hi cross
      ("q248_winsorized_welch", 1, "the final 1-row lo/hi scalar cross onto the checkpointed moment row"))) {
      val plan = physicalPlan(name)
      val keyless = plan.linesIterator.count(l =>
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      assert(keyless == want, s"expected exactly $what in $name, got $keyless:\n$plan")
    }
  }

  test("q123's only keyless join is the 1-row FK scalar pair") {
    val plan = physicalPlan("q123_dq_checks")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the 1-row × 1-row FK report pair join in q123, got $keyless:\n$plan")
    // the FK anti join itself must stay a HASH join on the key
    assert(plan.contains("LeftAnti"),
      s"expected the FK check to run as a left-anti join in q123:\n$plan")
  }

  test("q142's keyless joins are exactly the bounded completion cross + the 1-row N") {
    val plan = physicalPlan("q142_chi_square")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 2,
      s"expected the |A|×|B| completion cross + the 1-row N in q142, got $keyless:\n$plan")
  }

  test("q146's only keyless join is the 1-row max-day broadcast") {
    val plan = physicalPlan("q146_survival")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the 1-row max-day broadcast in q146, got $keyless:\n$plan")
    // the segment dimension join must stay a hash join on the key
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"expected the user→segment join to run as a hash join in q146:\n$plan")
  }

  test("q161's only keyless join is the 1-row tie/N scalar broadcast") {
    val plan = physicalPlan("q161_kruskal_wallis")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the 1-row tie/N broadcast in q161, got $keyless:\n$plan")
    // the census-to-prior-count join stays keyed
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"expected the value-census join to run as a hash join in q161:\n$plan")
  }

  test("q187's only keyless join is the label-frame pair cross") {
    val plan = physicalPlan("q187_centroid_sep")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the bounded label-pair cross in q187, got $keyless:\n$plan")
  }

  test("q162's only keyless join is the 1-row × 1-row moment pair") {
    val plan = physicalPlan("q162_welch_t")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the two 1-row moment frames crossed once in q162, got $keyless:\n$plan")
  }

  test("q170/q171/q172/q183/q185's only keyless joins are their 1-row × 1-row pairs") {
    for ((name, expected) <- Seq("q170_profile_drift" -> 1, "q171_bootstrap_ci" -> 1,
        "q172_cuped" -> 1, "q183_mde" -> 1, "q185_quantile_drift" -> 1)) {
      val plan = physicalPlan(name)
      val keyless = plan.linesIterator.count(l =>
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      assert(keyless == expected,
        s"expected exactly $expected 1-row × 1-row cross in $name, got $keyless:\n$plan")
    }
  }

  test("q155's keyless joins are exactly the two 1-row sample-size scalars") {
    val plan = physicalPlan("q155_psi_drift")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 2,
      s"expected exactly the 1-row nA and nB broadcasts in q155, got $keyless:\n$plan")
    // the bucket completion itself must stay a keyed full-outer join
    assert(plan.contains("FullOuter"),
      s"expected the bucket completion as a keyed full-outer join in q155:\n$plan")
  }

  test("q129's only keyless join is the 1-row basket-total broadcast") {
    val plan = physicalPlan("q129_assoc_rules")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the 1-row n_baskets broadcast in q129, got $keyless:\n$plan")
  }

  test("q130's only keyless join is the 1-row key-count broadcast") {
    // the staged globalRank windows sit behind their materialization
    // barrier (the rank frame checkpoints eagerly — the visible plan
    // scans the frozen blocks), so the no-single-reducer-window
    // property is pinned where it is OBSERVABLE: the globalRank spec
    // (rank ≡ total-order index under any partitioning) plus this
    // bound on keyless joins
    val plan = physicalPlan("q130_rfm")
    val keyless = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(keyless == 1,
      s"expected exactly the 1-row n broadcast in q130, got $keyless:\n$plan")
  }

  test("q48's only nested-loop is the 1-row n_docs broadcast") {
    val plan = physicalPlan("q48_tfidf")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q48:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the keyless 1-row n_docs join in q48, got $nlj:\n$plan")
    // the vocabulary join itself must stay a hash join on term
    assert(plan.contains("HashJoin"), s"expected a hash join on term in q48:\n$plan")
  }

  test("q73's only nested-loop is the 1-row vocabulary-size broadcast") {
    val plan = physicalPlan("q73_lm_score")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q73:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the keyless 1-row V join in q73, got $nlj:\n$plan")
    // the bigram and prefix joins themselves must stay hash joins
    assert(plan.contains("HashJoin"), s"expected hash joins on the gram keys in q73:\n$plan")
  }

  test("q76's only nested-loop is the 1-row total onto the k-row top-k, and top-k never globally sorts") {
    val plan = physicalPlan("q76_skew_stats")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q76:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the keyless 1-row total join in q76, got $nlj:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition-heap top-k, not a global sort, in q76:\n$plan")
  }

  test("q136's only nested-loop is the 9-row digit completion; the census joins stay hash joins") {
    val plan = physicalPlan("q136_benford")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q136:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1,
      s"expected exactly the keyless groups×9-digit completion join in q136, got $nlj:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the observed-census join back must stay a hash join in q136:\n$plan")
  }

  test("q77's only nested-loop is the 1-row totals broadcast; unigram joins stay hash joins") {
    val plan = physicalPlan("q77_collocations")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q77:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    // two keyless joins collapse into the totals frame: 1×1 (t×b) and
    // totals onto the vocab-sized bigram frame
    assert(nlj <= 2, s"expected at most the two 1-row totals joins in q77, got $nlj:\n$plan")
    assert(plan.contains("HashJoin"), s"expected hash joins on the unigram keys in q77:\n$plan")
  }

  test("q83's only nested-loop is the 1-row total onto the value census") {
    val plan = physicalPlan("q83_quality_buckets")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q83:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the keyless 1-row total join in q83, got $nlj:\n$plan")
  }

  test("q78's only nested-loop is the 1-row min/max broadcast") {
    val plan = physicalPlan("q78_histogram")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q78:\n$plan")
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the keyless 1-row min/max join in q78, got $nlj:\n$plan")
  }

  test("q35 stays a single broadcast pass (no shuffled cartesian)") {
    val plan = physicalPlan("q35_cosine_topk")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q35:\n$plan")
  }

  test("q91's only nested-loop is the broadcast query frame; q92's cell join is hash") {
    val plan91 = physicalPlan("q91_pq_adc")
    assert(!plan91.contains("CartesianProduct"), s"CartesianProduct in q91:\n$plan91")
    val nlj = plan91.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj == 1, s"expected exactly the broadcast query-frame join in q91, got $nlj:\n$plan91")
    // the IVF-PQ composition routes by cell: the candidate join must
    // be an EQUI hash join, never the flat scan's nested loop
    val plan92 = physicalPlan("q92_ivf_pq")
    assert(plan92.contains("BroadcastHashJoin"),
      s"expected the broadcast hash join on cell in q92:\n$plan92")
  }

  test("q105's anchored-funnel joins are all key-partitioned; the zero-fill join broadcasts") {
    val plan = physicalPlan("q105_funnel_windowed")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q105:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"BroadcastNestedLoopJoin in q105 (every join has equi keys):\n$plan")
    // the anchor-chain joins must stay hash/sort-merge on the user key
    assert(plan.contains("Join"), s"expected the chain joins in q105:\n$plan")
  }

  test("q43's portable-HLL registers aggregate map-combinably (partial_max before the exchange)") {
    val plan = physicalPlan("q43_hll_distinct")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in q43:\n$plan")
    // the register census must partial-aggregate before shuffling —
    // the distributed-HLL contract (a hot group never ships raw rows)
    assert(plan.contains("partial_max") || plan.contains("max#"),
      s"expected a partial register max in q43:\n$plan")
  }

  test("q02 pushes its filters into the parquet scan") {
    val plan = Relational.q02(Tables(spark, sfDir)).queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.exists(l => !l.contains("PushedFilters: []")),
      s"expected non-empty PushedFilters in q02 scan:\n$plan")
  }

  test("q05 broadcasts the bounded dimension tables") {
    val plan = physicalPlan("q05_multijoin")
    assert(plan.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in q05:\n$plan")
  }

  test("q54 prunes the documents scan to the two used columns") {
    val plan = physicalPlan("q54_token_count")
    val scan = plan.linesIterator.find(_.contains("ReadSchema"))
    assert(scan.exists(l => l.contains("doc_id") && l.contains("text") && !l.contains("n_chars")),
      s"expected 2-column pruned scan in q54:\n$plan")
  }

  test("q68 prunes the documents scan to the two used columns") {
    val plan = physicalPlan("q68_chunk")
    val scan = plan.linesIterator.find(_.contains("ReadSchema"))
    assert(scan.exists(l => l.contains("doc_id") && l.contains("text") && !l.contains("n_chars")),
      s"expected 2-column pruned scan in q68:\n$plan")
  }

  test("q63/q67 join their corpus through a broadcast of the category-rate frame") {
    // the mixture/cap ops promise the corpus itself never shuffles:
    // the only join touching the corpus must be a broadcast hash join
    // (rates frame is category-sized), never a sort-merge exchange
    for (name <- Seq("q63_mixture_sample", "q67_token_cap")) {
      val plan = physicalPlan(name)
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast rates join in $name:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"corpus-shuffling join in $name:\n$plan")
    }
  }

  test("q53 pushes its corpus filters into the parquet scans") {
    val plan = physicalPlan("q53_embed_neardup")
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in q53:\n$plan")
    // the final q53 plan starts from checkpointed RDDs; the scan-level
    // pushdown is asserted on the corpus leg, where scans are visible
    val corpusPlan = graft.operators.Dedup.q53Corpus(
      graft.sources.Tables(spark, sfDir)).queryExecution.executedPlan.toString
    assert(corpusPlan.contains("LessThan(vec_id,50)"),
      s"expected pushed re-upload filter in q53 corpus:\n$corpusPlan")
  }

  test("q48 carries no broadcast hint on the vocabulary-sized df table") {
    // The df table is one row per distinct token — unbounded at corpus
    // scale — so the ONLY hint allowed in q48 is the 1-row nDocs
    // aggregate. (VERDICT r3 "What's wrong #1": a hint-broadcast
    // vocabulary table OOMs every executor at 100 TB.)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val analyzed = SparkEntry.queries("q48_tfidf")(spark, sfDir).queryExecution.analyzed
    val hints = analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected exactly the nDocs hint in q48, got ${hints.size}:\n$analyzed")
    assert(hints.head.child.output.map(_.name) == Seq("n_docs"),
      s"the only q48 hint must cover the 1-row n_docs aggregate:\n${hints.head}")
  }

  test("q47 computes its denominator without a window over a Zipfian key") {
    // sum(n) over (partition by w1) funnels every successor of a hot
    // head word into one sort task; the groupBy+join shape has map-side
    // combine and is AQE-skew-splittable (VERDICT r3 "What's wrong #5").
    val plan = physicalPlan("q47_bigram_stats")
    assert(!plan.contains("Window"), s"expected no Window operator in q47:\n$plan")
  }

  test("GraftExtensions installs on a fresh extension set") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // must register without error
  }
}
