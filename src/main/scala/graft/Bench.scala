package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * Times the SURVEY.md §5 headline set (one per operator family) at
  * SPARK_GRAFT_SF_DIR. Each query is forced through the noop sink so
  * the FULL plan executes (a bare count() lets Spark skip projections
  * and windows).
  *
  * Isolation model (round 7, chunked round 15): a long-lived single
  * JVM accumulates block-manager / shuffle-file / GC pressure across
  * a long sweep, and that pressure lands on whichever
  * checkpoint-heavy query runs late (r6 artifact: q46 raw runs
  * 5.6s/183s/30.3s on one unchanged plan, vs 3.3s median isolated).
  * Blocking unpersist + System.gc() made the skew visible (raw runs
  * in the JSON) but not gone. The fix is the same isolation
  * SPARK_GRAFT_BENCH_ONLY gives manually: the parent process forks
  * fresh child JVMs — reusing this JVM's own --add-opens/-Xmx/-D
  * args and classpath (run/fork := true makes java.class.path the
  * real app classpath) — and aggregates the per-query JSON lines the
  * children print. The 2 s+ tail and queries without a committed
  * median each get their OWN child; committed sub-2 s queries share
  * children `chunkSize` at a time (VERDICT r14 next #6: at 157
  * queries the sweep's wall was dominated by ~7 s JVM+session
  * startup per child, not by timed runs). Within a child, per query:
  * one untimed warm-up (JIT + codegen + FS metadata; a second for
  * sub-2 s and long-JIT-tail queries), then SPARK_GRAFT_BENCH_RUNS
  * (default 3) timed runs, MEDIAN reported (a single-shot timing
  * cannot distinguish a plan regression from JIT/AQE/GC noise),
  * blocking unpersist + GC between every run.
  *
  * If forking is unavailable (classpath looks like an sbt launcher,
  * fork fails, or SPARK_GRAFT_BENCH_NOFORK is set) the parent falls
  * back to the old in-process sweep so the driver always gets its
  * JSON line.
  */
object Bench {
  val headline: Seq[String] = Seq(
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

  /** Queries whose JIT tail outlasts ONE warm-up (r15 q102 A/B:
    * same-host runs keep descending through run ~6 — first timed run
    * 5.1–5.8 s vs steady state 4.2–4.6 s on the r12, r13 AND head
    * trees with IDENTICAL code and plan (exchanges=7 scans=4), so
    * three rounds of apparent q102 "creep" were warm-up maturity
    * inside a 3-run median, not a regression. A second warm-up puts
    * the timed runs on the flat part of the curve — childMain now
    * applies it to EVERY query (r16: the whole 2 s+ tail showed the
    * same ramp).
    */

  /** Sub-2 s queries (committed BENCH_LOCAL_r14 medians), safe to
    * time several-per-child: the r6 contamination artifact was
    * checkpoint-heavy queries accumulating block-manager/shuffle
    * pressure across a LONG in-process sweep — none of these
    * checkpoint, each chunk is short (default 8), and the blocking
    * unpersist + GC between runs stays. Everything NOT in this set —
    * the 2 s+ tail (graph loops, BPE, LSH, dedup clusters) and any
    * query added after r14 until its median is committed — keeps its
    * own child JVM. Motivation (VERDICT r14 next #6): the driver
    * sweep hit 47 min at 157 queries and most of that wall is
    * per-child JVM + SparkSession startup (~7 s × 157), not timed
    * runs; chunking the 125 sub-2 s queries 8-per-child removes
    * ~110 startups (~13 min) without touching the isolation of the
    * queries that needed it.
    */
  private val chunkable: Set[String] = Set(
    "q01_pricing_summary", "q03_topk_revenue", "q05_multijoin",
    "q06_selective_agg", "q08_running_window", "q100_zscore",
    "q103_hopping_window", "q104_cohort_retention", "q105_funnel_windowed",
    "q108_quantile_sketch", "q109_scd2_history", "q110_heavy_hitters",
    "q111_kmeans", "q112_image_neardup", "q113_scd2_asof",
    "q114_ann_two_level", "q115_audio_neardup", "q116_video_neardup",
    "q117_ewma", "q118_event_paths", "q120_twap", "q121_transitions",
    "q122_streaks", "q123_dq_checks", "q124_cdc_apply", "q125_winsorize",
    "q127_seasonal", "q128_cusum", "q129_assoc_rules", "q13_outer_join",
    "q133_item_similarity", "q134_ab_test", "q135_autocorr",
    "q136_benford", "q137_mad_outliers", "q138_spatial_join",
    "q139_attribution", "q141_rolling_actives", "q142_chi_square",
    "q143_concentration", "q144_knn", "q146_survival", "q147_coverage",
    "q148_abc", "q149_xcorr", "q150_backtest", "q151_cohort_ltv",
    "q152_conv_latency", "q153_new_returning", "q154_dup_payments",
    "q155_psi_drift", "q156_ks", "q157_mann_whitney", "q159_mwu_by_group",
    "q160_psi_by_group", "q161_kruskal_wallis", "q162_welch_t",
    "q163_spearman", "q164_recs_topn", "q166_changepoint",
    "q168_cat_entropy", "q169_welch_by_group", "q170_profile_drift",
    "q171_bootstrap_ci", "q172_cuped", "q173_did", "q174_pop_report",
    "q175_funnel_ab", "q176_holt_trend", "q179_ks_sketch",
    "q180_wmedian_sketch", "q181_srm_check", "q182_js_divergence",
    "q183_mde", "q184_rank_movers", "q185_quantile_drift",
    "q187_centroid_sep", "q188_mde_by_group", "q189_js_by_group",
    "q190_zipf", "q191_mwu_sketch", "q192_kw_sketch", "q194_qdrift_by_group",
    // r15 additions measured sub-2 s in this round's committed 2-run
    // sf0.1 probes (SURVEY §2 rows carry the medians); q193 (3.2 s),
    // q200 (composes q35+q36), q201 (6.4 s) and q207 (2.0 s) stay
    // isolated until a full-sweep artifact pins them
    "q195_target_encode", "q196_msprt", "q197_rare_collapse",
    "q198_cramers_v", "q199_calibration", "q202_poststrat",
    "q203_anova", "q204_anova_by_group", "q205_brown_forsythe",
    "q206_pairwise_welch",
    "q21_asof_join", "q22_sessionize", "q23_time_bucket",
    "q26_nested_explode", "q29_fingerprint", "q31_dedup_exact",
    "q32_jaccard_pairs", "q35_cosine_topk", "q36_ann_ivf",
    "q39_range_join", "q42_label_centroids", "q43_hll_distinct",
    "q47_bigram_stats", "q48_tfidf", "q53_embed_neardup", "q57_seq_pack",
    "q58_decontaminate", "q61_redact", "q63_mixture_sample",
    "q65_bloom_semijoin", "q66_zorder", "q67_token_cap", "q68_chunk",
    "q70_strip_markup", "q72_shuffle_shards", "q73_lm_score", "q74_split",
    "q75_nfc", "q76_skew_stats", "q77_collocations", "q78_histogram",
    "q79_sample_group", "q80_semantic_dedup", "q81_cap_vocab",
    "q83_quality_buckets", "q84_char_entropy",
    "q88_vec_dedup_incr", "q89_paragraph_dedup", "q90_bm25",
    "q93_resample", "q94_edit_join", "q95_weighted_sample", "q97_funnel",
    "q98_trailing_window", "q99_snapshot_diff",
    // r18 additions (VERDICT r17 next #2: the 32-core driver sweep hit
    // its wall budget at 217 headline queries — most of the growth was
    // ~30 post-r14 queries still paying a solo child JVM each). Every
    // query below has a committed sub-2 s median in BOTH r17 driver
    // artifacts (BENCH_r17_c8 at 8 cores — an upper bound for the
    // 32-core time — and the BENCH_LOCAL_r17 solo sweep, host-noise
    // movers adjudicated there); none is a graph loop / tokenizer
    // trainer, and the blocking unpersist + GC between runs stays, so
    // the r6 contamination shape does not apply. ~32 child JVM
    // startups (~7 s each) leave the sweep wall without touching any
    // timed run.
    "q119_regression", "q200_ann_recall", "q207_corr_matrix",
    "q208_msprt_by_group", "q209_calibration_by_group",
    "q210_srm_by_group", "q211_srm_fdr", "q212_welch_fdr",
    "q213_mde_proportions", "q214_msprt_horizon",
    "q215_ann_recall_by_group", "q216_anova_fdr", "q217_kw_fdr",
    "q218_mwu_fdr", "q222_mde_prop_by_group", "q224_cliffs_delta",
    "q225_cohens_d", "q226_samplesize_curve", "q227_welch_fam_fdr",
    "q228_cuped_by_group", "q229_did_by_group", "q230_poststrat_by_group",
    "q234_group_sequential", "q237_gs_pocock", "q238_gs_by_group",
    "q239_gs_absorbed", "q244_kn_lm", "q245_avci", "q246_avci_by_group",
    "q248_winsorized_welch", "q249_qte_by_group", "q64_repetition_filter")

  private def chunkSize: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "8").toInt.max(1)

  private val childMarker = "##BENCHQ##"

  private def makeSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    // ERROR, not WARN (r18, VERDICT r17 next #2): the whole-frame
    // exact-rank operators legitimately run global windows over
    // domain-bounded censuses (gated at MaxExactCensusRows), and at
    // 217 queries the resulting per-run "WindowExec: No Partition
    // Defined" flood dominated the 32-core sweep's stderr — wall and
    // log volume, not computation. The stdout JSON contract is
    // untouched; real failures still surface via the [bench] handlers.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def runOnce(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  // drop cached localCheckpoint/cache blocks a run left behind, so
  // the timed runs within one child stay independent
  private def dropCachedBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def timeOnce(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    val ok = try { runOnce(spark, sfDir, name); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
    val t = (System.nanoTime() - t0) / 1e9
    dropCachedBlocks(spark)
    if (ok) t else -1.0
  }

  private def benchRuns: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)

  // per-child wall budget: warm-up + runs for ONE query. 900s is ~30×
  // the slowest sf0.1 query; larger scale factors override it
  // (ADVICE r7: a hardcoded cap would silently fall back in-process)
  private def childTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_TIMEOUT_S", "900").toLong.max(60L)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Child mode: warm + time the given queries (one for the isolated
    * 2 s+ tail, up to `chunkSize` sub-2 s ones) in this fresh JVM,
    * print one marked JSON line per query, exit. Startup cost is
    * outside the timings; blocking unpersist + GC between every run
    * keeps the runs within a chunk independent.
    */
  private def childMain(names: Seq[String], sfDir: String): Unit = {
    val spark = makeSession()
    names.foreach { name =>
      // sub-second queries need a SECOND warm-up: in a fresh child JVM
      // the first timed runs of a ~0.3 s query are still paying JIT and
      // classloading, which grows with the library and read as phantom
      // round-over-round regressions (r13's q06 0.38→0.57 s mover
      // reproduced as warm-up inflation: same-host A/B at 5 runs showed
      // steady state 0.318 vs 0.330 s — ~4%, within spread)
      // ... and the 2 s+ isolated tail pays the same JIT ramp (r15's
      // q87/q106/q159/q177 read 1.2–1.45× with wide spreads on ONE
      // warm-up; the q102 forensics showed the first timed run of a
      // freshly-forked child is still compiling), so every query now
      // warms twice before timing — the startup cost stays outside
      // the timings either way
      try runOnce(spark, sfDir, name)
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name: $e") }
      try runOnce(spark, sfDir, name) catch { case _: Throwable => }
      dropCachedBlocks(spark)
      val ts = (1 to benchRuns).map(_ => timeOnce(spark, sfDir, name)).filter(_ >= 0)
      val runsJson = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      // println goes through Spark-captured stdout untouched; the marker
      // lets the parent find it among any stray log lines
      println(s"""$childMarker {"query":"$name","runs":$runsJson}""")
    }
    spark.stop()
  }

  /** Fork one child JVM for a chunk of queries, parse its marked
    * lines into per-query run lists. Returns an empty map if the
    * fork fails outright; queries missing from the result (child
    * crash/timeout mid-chunk) fall back in-process at the call site.
    * The wall budget scales with the chunk size.
    */
  private def forkChunk(names: Seq[String], javaBin: String, jvmArgs: Seq[String],
                        classpath: String): Map[String, Seq[Double]] = {
    import scala.jdk.CollectionConverters._
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", classpath, "graft.Bench")).asJava
    try {
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", names.mkString(","))
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      // drain stdout on its own thread: a hung child would otherwise
      // block readLine forever and the timeout below would never fire
      val marked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reader = new Thread(() => {
        val out = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var line: String = null
        try while ({ line = out.readLine(); line != null }) {
          if (line.startsWith(childMarker)) marked.add(line)
        } catch { case _: java.io.IOException => }
      })
      reader.setDaemon(true)
      reader.start()
      val done = proc.waitFor(childTimeoutSec * names.length,
        java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        proc.destroyForcibly()
        System.err.println(s"[bench] ${names.mkString(",")}: child timeout")
      }
      reader.join(10000)
      marked.asScala.flatMap { l =>
        val q = l.substring(l.indexOf("\"query\":\"") + 9)
        val name = q.substring(0, q.indexOf('"'))
        val runsPart = l.substring(l.indexOf("\"runs\":[") + 8, l.lastIndexOf("]"))
        val runs =
          if (runsPart.trim.isEmpty) Seq.empty[Double]
          else runsPart.split(",").toSeq.map(_.trim.toDouble)
        if (names.contains(name)) Some(name -> runs) else None
      }.toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] fork ${names.mkString(",")}: $e"); Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.env.get("SPARK_GRAFT_BENCH_CHILD") match {
      case Some(names) =>
        childMain(names.split(",").map(_.trim).filter(_.nonEmpty).toSeq, sfDir)
        return
      case None =>
    }

    // local iteration: SPARK_GRAFT_BENCH_ONLY=q53_embed_neardup,q33_minhash_lsh
    // times just those queries (the driver never sets it → full set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = headline.filter(n => only.forall(_.contains(n)))

    val javaBin = sys.props("java.home") + "/bin/java"
    val classpath = sys.props("java.class.path")
    // this JVM's own args carry the jdk17 --add-opens + -Xmx + spark
    // -D defaults sbt forked us with; strip agents (debuggers etc.)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent")).toSeq
    val canFork = !sys.env.contains("SPARK_GRAFT_BENCH_NOFORK") &&
      classpath.contains("spark") && new java.io.File(javaBin).exists()

    // lazily-created session for the in-process fallback path only —
    // in pure fork mode the parent never starts Spark
    var fellBack = false
    lazy val fallbackSpark = {
      fellBack = true
      val s = makeSession()
      try runOnce(s, sfDir, "q01_pricing_summary")
      catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
      dropCachedBlocks(s)
      s
    }

    // group consecutive chunkable (sub-2 s, committed-median) queries
    // into shared children; everything else keeps its own JVM. The
    // sweep ORDER is unchanged — only the process boundaries move.
    val chunks: Seq[Seq[String]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      var run = scala.collection.mutable.ArrayBuffer.empty[String]
      def flush(): Unit = if (run.nonEmpty) {
        out ++= run.grouped(chunkSize).map(_.toSeq); run.clear()
      }
      selected.foreach { n =>
        if (chunkable(n)) run += n else { flush(); out += Seq(n) }
      }
      flush(); out.toSeq
    }

    // per-query fork/fallback outcome travels into the artifact: a
    // query whose child timed out or crashed is labeled, not silently
    // mixed in with isolated numbers (ADVICE r7)
    val forkedRuns: Map[String, Seq[Double]] =
      if (canFork) chunks.flatMap { c =>
        val got = forkChunk(c, javaBin, jvmArgs, classpath)
        // a chunk timeout (one hung query burning the whole size×N
        // budget) used to drop every unfinished chunk-mate into the
        // warm parent JVM — the contamination chunking exists to
        // avoid. Re-fork the unreported queries solo first; only a
        // query that ALSO fails alone falls back in-process, labeled.
        val missing = if (c.length > 1) c.filterNot(got.contains) else Nil
        if (missing.nonEmpty)
          System.err.println(s"[bench] re-forking solo: ${missing.mkString(",")}")
        got ++ missing.flatMap(m => forkChunk(Seq(m), javaBin, jvmArgs, classpath))
      }.toMap
      else Map.empty
    val results: Seq[(String, Seq[Double], Boolean)] = selected.map { name =>
      forkedRuns.get(name) match {
        case Some(ts) => (name, ts, true)
        case None =>
          System.err.println(s"[bench] $name: timing in-process (fork unavailable)")
          (name, (1 to benchRuns).map(_ => timeOnce(fallbackSpark, sfDir, name)).filter(_ >= 0), false)
      }
    }

    def med(ts: Seq[Double]): Double = if (ts.isEmpty) -1.0 else median(ts)
    val qsFull = results.map { case (k, ts, _) => "\"" + k + f"\":${med(ts)}%.3f" }.mkString("{", ",", "}")
    // raw per-run times on their OWN marked line: two artifacts that
    // differ on identical binaries are then self-diagnosing — wide
    // runs, stable median = environment skew, not a plan change
    val runsJson = results.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(r => med(r._2)).filter(_ >= 0).sum
    val sf = sfDir.split("/").last.stripPrefix("sf")
    val inProc = results.filter(!_._3).map(_._1)
    val iso =
      if (!canFork) "in-process"
      else if (inProc.nonEmpty) "mixed"
      else if (chunkSize <= 1) "jvm-per-query"
      else s"jvm-per-chunk$chunkSize"
    val fallbackJson = inProc.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (fellBack) fallbackSpark.stop()
    // the consumer keeps only the LAST ~2000 chars of output and
    // parses the JSON line out of that window. At 78 headline queries
    // a full-name medians map is ~2.3 kB and the line no longer fits
    // (r11 artifact: parsed=null — VERDICT r11 #3). The final line now
    // keys medians by each query's unique qNN prefix (~1.1 kB — fits
    // with headroom as the set grows), while the FULL-NAME medians,
    // raws, and isolation labels are (a) printed on their own marked
    // lines just above and (b) written whole to bench_full.json in the
    // working directory so the complete artifact always parses.
    val shortKey = (k: String) => k.takeWhile(_ != '_')
    val qsShort = results.map { case (k, ts, _) =>
      "\"" + shortKey(k) + f"\":${med(ts)}%.3f" }.mkString("{", ",", "}")
    // per-query spread (max/min of the timed runs): the noise label
    // that lets a reader separate host contention from a real plan
    // regression WITHOUT a same-host re-sweep (r12 artifact showed 3×
    // within-query variance presenting as 2× phantom regressions).
    // The final size-capped line carries only the worst ratio and the
    // noisy set; full per-query spreads ride bench_full.json + the
    // marked line.
    def spreadOf(ts: Seq[Double]): Double =
      if (ts.length < 2 || ts.min <= 0.0) 1.0 else ts.max / ts.min
    val spreads = results.map { case (k, ts, _) => (k, spreadOf(ts)) }
    val spreadJson = spreads.map { case (k, r) =>
      "\"" + k + f"\":$r%.2f" }.mkString("{", ",", "}")
    val spreadMax = if (spreads.isEmpty) 1.0 else spreads.map(_._2).max
    val noisyJson = spreads.filter(_._2 > 1.5).map { case (k, r) =>
      "\"" + shortKey(k) + f"\":$r%.2f" }.mkString("{", ",", "}")
    val fullJson =
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qsFull,"runs":$runsJson,"spread":$spreadJson,"sf":"$sf","isolation":"$iso","in_process_queries":$fallbackJson}"""
    try {
      val wtr = new java.io.PrintWriter("bench_full.json", "UTF-8")
      try wtr.println(fullJson) finally wtr.close()
    } catch { case e: Exception => System.err.println(s"[bench] bench_full.json: $e") }
    println(s"""##BENCHRUNS## {"runs":$runsJson}""")
    println(s"""##BENCHSPREAD## {"spread":$spreadJson}""")
    println(s"""##BENCHMEDS## {"queries":$qsFull,"isolation":"$iso","in_process_queries":$fallbackJson}""")
    println(f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qsShort,"sf":"$sf","isolation":"$iso","spread_max":$spreadMax%.2f,"noisy":$noisyJson,"full":"bench_full.json"}""")
  }
}
