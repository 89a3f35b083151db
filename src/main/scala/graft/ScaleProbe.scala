package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, Vectors}
import graft.sources.Tables

/** Scale probe: replicate the sf0.1 corpus `REPL`× (distinct ids,
  * shifted text/embeddings so replicas are NEAR-dups, not byte dups —
  * the adversarial case for dedup: every document gains REPL-1 true
  * near-duplicates) and time the dedup/curation family against the
  * 1× baseline. Prints one line per (operator, scale) with rows/sec
  * so sub-quadratic scaling is visible directly.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [replication] [op,op,…]"`
  * (default 10, all ops; the optional second arg probes a subset).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val repl = args.headOption.map(_.toInt).getOrElse(10)
    val onlyOps = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft_scale_probe_x$repl"
    val t1 = Tables(spark, base)

    // documents: replica k appends a per-replica token so copies are
    // near-dups (high Jaccard) rather than exact dups
    val docs = (0 until repl).map { k =>
      t1.documents.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica_marker_$k")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: replica k shifts every dim by k*0.001 (near-dup vectors)
    val embs = (0 until repl).map { k =>
      t1.embeddings.select(
        (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        transform(col("embedding").cast("array<double>"), v => v + lit(k * 0.001))
          .cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events: replica k shifts event ids, keeps users — the per-user
    // row counts (what q76's census scans) genuinely grow REPL×
    val evs = (0 until repl).map { k =>
      spark.read.parquet(s"$base/events.parquet")
        .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
    }.reduce(_ unionByName _)
    evs.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // customer: replica k regenerates the name from the shifted key —
    // "Customer#000001234" vs "Customer#100001234" is ONE digit apart,
    // so every base name gains repl-1 true distance-1 neighbors (the
    // adversarial case for q87's deletion-neighborhood index, same
    // spirit as the near-dup document replicas)
    val cust = (0 until repl).map { k =>
      val t = spark.read.parquet(s"$base/customer.parquet")
      if (k == 0) t
      else t.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * 100000000L))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }.reduce(_ unionByName _)
    cust.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // orders/lineitem: replica k shifts order keys consistently (and
    // cust/supp keys into the same ranges customer replication uses),
    // so the q65 bloom build, the q66 z-order input and the q96
    // co-purchase graph all genuinely grow repl× — before round 9
    // these copied 1:1 and any op reading them probed a flat corpus
    val ords = (0 until repl).map { k =>
      spark.read.parquet(s"$base/orders.parquet")
        .withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k.toLong * 100000000L))
    }.reduce(_ unionByName _)
    ords.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val li = (0 until repl).map { k =>
      spark.read.parquet(s"$base/lineitem.parquet")
        .withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k.toLong * 100000L))
    }.reduce(_ unionByName _)
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // remaining tables: symlink-equivalent copies for Tables loaders
    for (n <- Seq("region", "nation", "supplier", "part"))
      spark.read.parquet(s"$base/$n.parquet").write.mode("overwrite").parquet(s"$dir/$n.parquet")

    val tN = Tables(spark, dir)
    val nDocs1 = t1.documents.count(); val nDocsN = tN.documents.count()
    println(s"[probe] docs: 1x=$nDocs1 ${repl}x=$nDocsN")

    def time(name: String, scale: String, rows: Long)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // drop cached lineage-break blocks so one op's block-manager
      // pressure doesn't contaminate the next — BLOCKING + a GC
      // nudge, same fix as Bench: the async form let pressure
      // snowball (q55 timed 157s at 1x late in a contaminated sweep
      // vs 2.8s in the clean bench)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      println(f"[probe] $name%-16s $scale%4s  $sec%7.2f s  ${rows / sec}%10.0f rows/s")
      sec
    }

    // warm-up (JIT + codegen)
    Dedup.q31(t1).write.format("noop").mode("overwrite").save()

    val ops: Seq[(String, Tables => DataFrame)] = Seq(
      "q31_exact"     -> Dedup.q31,
      "q32_jaccard"   -> Dedup.q32,
      "q33_lsh"       -> Dedup.q33,
      "q46_clusters"  -> (t => Dedup.q46(t)),
      "q53_embed"     -> Dedup.q53,
      "q55_curation"  -> Pipeline.q55,
      "q57_seq_pack"  -> Pipeline.q57,
      "q58_decontam"  -> Pipeline.q58,
      "q42_centroids" -> Vectors.q42,
      "q63_mixture"   -> Pipeline.q63,
      "q64_repetition" -> operators.TextAnalysis.q64,
      "q67_token_cap" -> Pipeline.q67,
      "q61_redact"    -> (t => operators.TextAnalysis.q61(t)),
      "q62_dedup_incr" -> (t => Dedup.q62(t)),
      "q65_bloom"     -> (t => operators.Extended.q65(t)),
      "q66_zorder"    -> (t => operators.Extended.q66(t)),
      "q68_chunk"     -> Pipeline.q68,
      "q69_dup_spans" -> (t => Dedup.q69(t)),
      "q70_strip"     -> (t => operators.TextAnalysis.q70(t)),
      "q71_rm_spans"  -> (t => Dedup.q71(t)),
      "q72_shuffle"   -> Pipeline.q72,
      "q73_lm_score"  -> (t => operators.TextAnalysis.q73(t)),
      "q74_split"     -> Pipeline.q74,
      "q75_nfc"       -> (t => operators.TextAnalysis.q75(t)),
      "q76_skew"      -> (t => operators.Extended.q76(t)),
      "q77_colloc"    -> (t => operators.TextAnalysis.q77(t)),
      "q79_sample"    -> Pipeline.q79,
      // SemDeDup's scale knob is the cluster count: k grows with N so
      // the expected cluster stays ~625 vectors and per-reducer work
      // is constant — THIS is what the op's scaladoc prescribes, so
      // the probe exercises it (a fixed k would show cluster_size²
      // growth by construction, not an operator defect)
      "q80_semantic"  -> (t => {
        import graft.api.Ops._
        val k = math.max(8L, t.embeddings.count() / 625L)
        val cents = t.embeddings.filter(col("vec_id") < k)
          .select(col("vec_id"), col("embedding"))
        t.embeddings.select(col("vec_id"), col("embedding"))
          .semanticDedup("vec_id", "embedding", cents, "vec_id", "embedding",
            threshold = 0.92)
      }),
      // large-k assignment probe (VERDICT r8 #1): k = N/2 puts the
      // 10x run in the 10⁴-centroid class, ABOVE maxLiteralCentroids
      // — the broadcast-join argmax path a k ∝ N quantizer actually
      // runs at corpus scale (1x stays under the cutoff on the
      // literal path, so the row also spans the transition). Clusters
      // average 2 members, so the timing isolates ASSIGNMENT cost —
      // the thing the centroid literal used to bottleneck.
      "q80_bigk"      -> (t => {
        import graft.api.Ops._
        val cents = t.embeddings.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"))
        t.embeddings.select(col("vec_id"), col("embedding"))
          .semanticDedup("vec_id", "embedding", cents, "vec_id", "embedding",
            threshold = 0.92)
      }),
      // flat vs two-level IVF at the same fine-cell count (k = N/2:
      // 10⁴ cells at 10×) — the two-level row should hold its time as
      // the flat row's O(k·dim) per-row fold grows with k
      "ivf_flat_bigk" -> (t => {
        val fine = t.embeddings.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        operators.Similarity.ivfTopK(
          t.embeddings, t.embeddings.filter(col("vec_id") < 10), fine,
          id = "vec_id", emb = "embedding", centroidId = "cid", centroidEmb = "ce",
          k = 5, nprobe = 2)
      }),
      "ivf_two_bigk"  -> (t => {
        val fine = t.embeddings.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val coarse = t.embeddings.filter(col("vec_id") % 200 === 0)
          .select(col("vec_id").as("gid"), col("embedding").as("gce"))
        operators.Similarity.ivfTopKTwoLevel(
          t.embeddings, t.embeddings.filter(col("vec_id") < 10), fine, coarse,
          id = "vec_id", emb = "embedding", centroidId = "cid", centroidEmb = "ce",
          coarseId = "gid", coarseEmb = "gce", k = 5, nprobe = 2, coarseProbe = 2)
      }),
      // Lloyd's at quantizer scale: k = N/2 puts the 10x run in the
      // 10⁴-centroid class, above maxLiteralCentroids — one iteration
      // through the in-frame broadcast argmin (r10). The row spans
      // the literal→broadcast transition (1x stays under the cutoff)
      // and exercises the path where centroids transit the driver
      // only as the broadcast's packed row, never as a decoded
      // per-iteration collect.
      "kmeans_bigk"   -> (t => {
        val k = (t.embeddings.count() / 2L).toInt
        Vectors.kmeansCentroids(t.embeddings, "vec_id", "embedding",
          k = k, iters = 1)
      }),
      "q81_cap_vocab" -> (t => operators.TextAnalysis.q81(t)),
      "q82_coverage"  -> Pipeline.q82,
      "q83_buckets"   -> (t => operators.Extended.q83(t)),
      "q84_entropy"   -> (t => operators.TextAnalysis.q84(t)),
      "q85_contain"   -> (t => Dedup.q85(t)),
      "q86_keep_best" -> (t => Dedup.q86(t)),
      "q87_edit_pairs" -> (t => Dedup.q87(t)),
      // the replicated embeddings grow BOTH sides: catalog 10× and
      // increment 10× (near + novel per replica) — the two-sided
      // banded join must stay code-block-bound
      "q88_vec_incr"  -> (t => Dedup.q88(t)),
      // replica markers give every synthesized footer/banner paragraph
      // repl× the distinct-doc df — the common set grows, posting
      // lists stay df-bounded by the distinct-pair census
      "q89_paragraph" -> (t => Dedup.q89(t)),
      // postings grow with the corpus; the query side is fixed, so
      // cost must track the matched postings (output-bound broadcast
      // join), never corpus × queries
      "q90_bm25"      -> (t => operators.TextAnalysis.q90(t)),
      // encode is map-side linear; the ADC scan is a broadcast of the
      // fixed query frame over repl× codes — linear, no shuffle growth
      "q91_pq_adc"    -> (t => operators.Similarity.q91(t)),
      // cell routing cuts the ADC scan to the probed nprobe/8 of the
      // corpus — growth should track the probed cells' share, and the
      // equi cell join must stay hash (never NLJ)
      "q92_ivf_pq"    -> (t => operators.Similarity.q92(t)),
      // r17: the q92 chain widened to a top-30 ADC shortlist + the
      // exact re-rank join back to the raw vectors — the shortlist
      // broadcasts, so cost tracks the ADC scan exactly like q92
      "q232_rerank"   -> (t => operators.Similarity.q232(t)),
      // replicated events keep users and span: the (user, bucket) agg
      // absorbs the 10× rows map-side, the grid/windows stay constant
      // — cost must track input, output must not grow
      "q93_resample"  -> (t => operators.Temporal.q93(t)),
      // both sides grow 10× and the regenerated replica names make
      // variant keys hot (q87's adversarial corpus) — the two-sided
      // key join must stay AQE-bound, output tracks true matches
      "q94_edit_join" -> (t => Dedup.q94(t)),
      // the race key is map-side arithmetic; the staged windows keep
      // every reducer at ≤ k·subShards rows however the corpus grows
      "q95_weighted"  -> (t => Pipeline.q95(t)),
      // per-iteration cost is one node-keyed join + one map-combinable
      // dst agg over the (fixed-here) edge list — linear in edges
      "q96_pagerank"  -> (t => operators.Extended.q96(t)),
      // per-step filtered min-aggs + key joins: linear in events, and
      // replicated events keep users so the per-step frames are flat
      "q97_funnel"    -> (t => operators.Temporal.q97(t)),
      // one key-partitioned window; per-user rows grow 10× so the
      // trailing frames genuinely widen — cost must stay near-linear
      "q98_trailing"  -> (t => operators.WindowSuite.q98(t)),
      // one full-outer join over the 10× snapshots — linear
      "q99_snapshot"  -> (t => operators.Relational.q99(t)),
      // one map-combinable moment agg + one stats join — linear
      "q100_zscore"   -> (t => operators.Relational.q100(t)),
      // the corpus pays ONE word count; every merge round after that
      // is a vocab-sized job — 10× docs must cost ~the census scan
      "q101_bpe"      -> (t => operators.Bpe.q101(t)),
      // replicated events duplicate (user, ts) rows: the sessionize
      // stage scans 10× events but collapses to the SAME windows, so
      // pair work is flat — cost must track the event scan, and the
      // bucketed join must never multiply across the duplicates
      "q102_interval" -> (t => operators.Temporal.q102(t)),
      // map-side window explode (2 windows/event) + map-combinable agg
      "q103_hopping"  -> (t => operators.Temporal.q103(t)),
      // two aggs + one user-keyed join — linear in events
      "q104_cohort"   -> (t => operators.Temporal.q104(t)),
      // bounded funnel: anchors are the signup events (grow 10×) and
      // frames are (key, anchor)-grained — cost tracks anchor × step
      // candidates, never per-user event lists
      "q105_funnelw"  -> (t => operators.Temporal.q105(t)),
      // dangling redistribution adds one 1-row broadcast aggregate
      // per iteration — the row must stay in the q96 class
      "q106_dangling" -> (t => operators.Extended.q106(t)),
      // the census shuffle absorbs 10× rows map-combinably; the
      // estimate windows run over OCCUPIED BUCKETS (resolution-bound,
      // unchanged by replication) — cost must track the scan
      "q108_quantile" -> (t => operators.Extended.q108(t)),
      // one id-keyed shuffle reused by every window/agg; the calendar
      // stays 4 rows however the dimension grows — cost must track
      // the snapshot-series scan (replicated customers grow it 10×)
      "q109_scd2"     -> (t => operators.Relational.q109(t)),
      // one map-combinable aggregate with ≤ cap counters per group —
      // 10× documents must cost ~the scan, state never grows
      "q110_hh"       -> (t => operators.Extended.q110(t)),
      // per-subspace trainer: one exploded corpus scan per iteration
      // (m× rows map-side), assignment a literal fold, re-centering a
      // (s,cid,pos) map-combinable shuffle, driver traffic m·ks rows
      // — 10× vectors must cost ~the scan; the returned codebook is
      // constant-size so the op is timed through a 1-row witness
      "pq_train"      -> (t => {
        val cbs = Vectors.trainPqCodebooks(t.embeddings, "vec_id", "embedding",
          dim = 64, m = 8, ks = 16, iters = 2)
        val spark = t.spark
        import spark.implicits._
        Seq(cbs.map(_.map(_.sum).sum).sum).toDF("codebook_checksum")
      }),
      // absorb = clash guard (semi join on ids) + increment encode +
      // union of checkpointed legs: cost must track the INCREMENT,
      // with the existing codes never rescanned (both sides grow
      // 10× here, so the row bounds the bulk-absorb worst case)
      "ivfpq_absorb"  -> (t => {
        val cents = t.embeddings.filter(col("vec_id") % 200 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val a = t.embeddings.filter(col("vec_id") % 2 === 0)
        val b = t.embeddings.filter(col("vec_id") % 2 =!= 0)
        operators.Similarity.prepareIvfPqIndex(a, cents,
          id = "vec_id", emb = "embedding", centroidId = "cid", centroidEmb = "ce",
          dim = 64, m = 8, ks = 16)
          .absorb(b, "embedding").codes
      }),
      // r12: decode (partition-preserving map) + banded 64-bit pair
      // join — cost is decode-linear plus OUTPUT pairs; the replica
      // corpus multiplies the synthetic dup classes, so pair volume
      // grows quadratically IN CLASS SIZE by construction (an output
      // property shared with q32's pair producer, not a plan defect)
      "q112_image"    -> (t => operators.Multimodal.q112(t)),
      // r12: pure map-side covering-interval filter over the q109
      // history — must track the history build (ONE id shuffle), the
      // as-of read itself adds no exchange
      "q113_asof"     -> (t => operators.Relational.q113(t)),
      // r12: two-level routing at FIXED quantizer size (the q114
      // oracle shape — 16 fine / 4 coarse): per-row assignment cost
      // is constant in N, so 10× corpus must cost ~the scan plus the
      // probed cells' candidate growth
      "q114_two_level" -> (t => operators.Similarity.q114(t)),
      // r12: the audio sibling of q112 — decode is partition-
      // preserving map work, the pair stage one banded join over
      // (id, 64-bit hash); replica corpora multiply the synthetic
      // dup classes, so pair output is quadratic in class size (the
      // q32 output-bound contract, not a plan defect)
      "q115_audio"    -> (t => operators.Multimodal.q115(t)),
      // r12: the video sibling — decode + ≤maxFrames frame hashes per
      // clip, banded frame candidates, map-combinable per-pair
      // matched-fraction aggregate; output-bound like q112/q115
      "q116_video"    -> (t => operators.Multimodal.q116(t)),
      // r12: one key-partitioned window sort shared by all 16 lag
      // terms — replicated events grow per-user rows 10×, cost must
      // track the sort, never lags × corpus
      "q117_ewma"     -> (t => operators.Temporal.q117(t)),
      // r12: one map-combinable groupBy; per-key state is the key's
      // own event list (10× rows → 10× list length, cost ~linear)
      "q118_paths"    -> (t => operators.Temporal.q118(t)),
      // r12: one map-combinable moment aggregate over the replicated
      // lineitem — 10× rows through the same 5-sum partial shuffle
      "q119_regression" -> (t => operators.Extended.q119(t)),
      // r12: one key-partitioned window sort + one groupBy on the same
      // key — 10× per-user rows cost ~the sort delta (the q117 shape)
      "q120_twap"     -> (t => operators.Temporal.q120(t)),
      // r12: window sort + map-combinable (src, dst) census whose
      // output is |types|² however large the corpus
      "q121_transitions" -> (t => operators.Temporal.q121(t)),
      // r12: the distinct (key, day) collapse absorbs the replica
      // growth up front — islands and aggregates run on active DAYS
      "q122_streaks"  -> (t => operators.Temporal.q122(t)),
      // r12: one aggregate pass (scalar + unique checks fold into a
      // single scan) + one distinct-key anti join per FK
      "q123_dq"       -> (t => operators.Extended.q123(t)),
      // r12: feed-sized latest-wins window + ONE key anti join +
      // union — both sides replicate 10×, cost must track the joins
      "q124_cdc"      -> (t => operators.Relational.q124(t)),
      // r12: one group-window sort over the non-null values + a
      // groups-sized bounds join back
      "q125_winsorize" -> (t => operators.Extended.q125(t)),
      // r12: per-basket pair explosion over the FIXED 25-brand
      // vocabulary — the rule frame is ≤ 600 rows at any scale,
      // supports grow with data
      "q129_assoc"    -> (t => operators.Extended.q129(t)),
      // r12: three staged global ranks (range shuffle + pid window +
      // broadcast offsets each) over the per-customer frame + one
      // 1-row scalar broadcast
      "q130_rfm"      -> (t => operators.Relational.q130(t)),
      // r12: one (type, hour) aggregate — ≤ types×24 cells — + a
      // broadcast-friendly join back; no window anywhere
      "q127_seasonal" -> (t => operators.Temporal.q127(t)),
      // r12: one key-partitioned window sort (running sum + row index
      // share it) + a key-stats join — the q100 shape
      "q128_cusum"    -> (t => operators.Temporal.q128(t)),
      // r12: per round ONE degree census + two semi joins over the
      // surviving edges, checkpointed — cost tracks edges × rounds
      "q131_kcore"    -> (t => operators.Extended.q131(t)),
      // r12: per-order pair explosion (bounded by order size) + the
      // degree-oriented wedge join (Σ d_out² = O(m^1.5) candidates —
      // the orientation is what caps hub wedges)
      "q126_triangles" -> (t => operators.Extended.q126(t)),
      // r12 wave 6: per round ONE frontier-sized adjacency join + one
      // anti join, checkpointed — cost tracks the reached boundary,
      // never the full graph
      "q132_bfs"      -> (t => operators.Extended.q132(t)),
      // r12 wave 6: basket-bounded pair census + an item-partitioned
      // rank window on the PAIR frame (10× orders over the fixed part
      // vocabulary → denser counts, same key space)
      "q133_itemsim"  -> (t => operators.Extended.q133(t)),
      // r12 wave 6: one (segment, arm, unit) rollup with map-side
      // partials + a groups-sized arm self-join — output is one row
      // per segment at any scale
      "q134_abtest"   -> (t => operators.Extended.q134(t)),
      // r12 wave 6: the day census collapses replicas up front (the
      // q122 argument) — lags and moments run on distinct days
      "q135_autocorr" -> (t => operators.Temporal.q135(t)),
      // r12 wave 6: one map-combinable digit census; output is fixed
      // 45 rows however large the corpus
      "q136_benford"  -> (t => operators.Extended.q136(t)),
      // r12 wave 6: two key-partitioned window sorts + two
      // groups-sized joins back — the q125 shape twice
      "q137_mad"      -> (t => operators.Extended.q137(t)),
      // r12 wave 6: one 9× explode + one cell-keyed hash join; pairs
      // are output-bound (10× customers against fixed suppliers)
      "q138_spatial"  -> (t => operators.Extended.q138(t)),
      // r12 wave 6: ONE key-partitioned window sort carries the last
      // touch (two ignore-null last_value columns, no self-join) + a
      // channel census — the q117/q98 sort-tracking shape
      "q139_attribution" -> (t => operators.Temporal.q139(t)),
      // r12 wave 7: per round ONE frontier-sized adjacency join + a
      // min census + an improvement outer join, checkpointed — the
      // q132 boundary-tracking argument with weights
      "q140_sssp"     -> (t => operators.Extended.q140(t)),
      // r12 wave 7: the (user, day) census collapses replicas up
      // front (the q122 argument); the ×7 contribution explode runs
      // on the census, never the corpus
      "q141_rolling"  -> (t => operators.Temporal.q141(t)),
      // r12 wave 7: three map-combinable censuses + the bounded
      // |A|×|B| completion cross — output fixed at any corpus size
      "q142_chisq"    -> (t => operators.Extended.q142(t)),
      // r12 wave 7: the (group, entity) census collapses the corpus
      // first; the rank window and moment sums run on the entity
      // frame only
      "q143_conc"     -> (t => operators.Extended.q143(t)),
      // r12 wave 7: radius-join candidates + an output-bound
      // (dist2, id) rank window — 10× customers against fixed
      // suppliers, pairs output-bound as q138
      "q144_knn"      -> (t => operators.Extended.q144(t)),
      // r12 wave 7: one hash join on the blocking key, score and
      // flags map-side — candidate-bound; the name-digit block keeps
      // candidates near-linear in customers
      "q145_linkage"  -> (t => operators.Extended.q145(t)),
      // r12 wave 7: the per-user rollup collapses the corpus first;
      // the KM windows run on the (segment, duration) census only
      "q146_survival" -> (t => operators.Temporal.q146(t)),
      // r12 wave 7: ONE key-partitioned window sort (the q98 shape)
      // + island aggregate + key rollup — all map-combinable after
      // the sort
      "q147_coverage" -> (t => operators.Temporal.q147(t)),
      // r12 wave 7: the (group, entity) census collapses the corpus
      // first; the cumulative window runs on the entity frame (the
      // q143 argument)
      "q148_abc"      -> (t => operators.Extended.q148(t)),
      // r12 wave 7: the day census absorbs replica growth up front
      // (the q135 argument); one window sort carries all shifts
      "q149_xcorr"    -> (t => operators.Temporal.q149(t)),
      // r12 wave 7: the day census collapses first; ONE group
      // aggregate scores everything — no window past the lag
      "q150_backtest" -> (t => operators.Temporal.q150(t)),
      // r12 wave 7: two unit-keyed censuses collapse the corpus
      // first; the running window walks the bounded cohort×age grid
      "q151_ltv"      -> (t => operators.Temporal.q151(t)),
      // r12 wave 7: the q139 window + one channel-partitioned gap
      // sort + two channels-sized rank joins
      "q152_latency"  -> (t => operators.Temporal.q152(t)),
      // r12 wave 7: the census collapses replicas; one min-census +
      // one unit join + one day aggregate
      "q153_newret"   -> (t => operators.Temporal.q153(t)),
      // r12 wave 7: one 3× day explode + one (cents, day) hash
      // shuffle — collisions are genuine suspects, output-bound
      "q154_duppay"   -> (t => operators.Extended.q154(t)),
      // r12 wave 7: two bucket censuses + a bounded buckets frame —
      // output fixed at any corpus size
      "q155_psi"      -> (t => operators.Extended.q155(t)),
      // r12 wave 7: two value censuses + distinct-value windows —
      // cost tracks the value domain, not the corpus
      "q156_ks"       -> (t => operators.Extended.q156(t)),
      // r12 wave 7: the q156 census shape + ONE aggregate — cost
      // tracks the value domain
      "q157_mwu"      -> (t => operators.Extended.q157(t)),
      // r16: decidable batteries — each is its gated census chain
      // (collapses the corpus first) + the fixed-N p-value series on
      // the segment frame + the league-table BH windows; cost must
      // track the census, the series work is constant
      "q216_anova"    -> (t => operators.Extended.q216(t)),
      "q217_kw"       -> (t => operators.Extended.q217(t)),
      "q218_mwu"      -> (t => operators.Extended.q218(t)),
      "q219_spearman" -> (t => operators.Extended.q219(t)),
      "q220_ks"       -> (t => operators.Extended.q220(t)),
      // r16 capstone: three census batteries + a 15-row union + BH
      "q221_gov"      -> (t => operators.Extended.q221(t)),
      // r16: keyed sizing readouts — integer censuses / moment
      // censuses collapse the corpus; the grid is segment-bounded
      "q222_mde_prop" -> (t => operators.Extended.q222(t)),
      "q223_horizon"  -> (t => operators.Extended.q223(t)),
      // r16 wave 3: effect sizes ride the gated census chains; the
      // sizing curve is one census + a 7-row grid
      "q224_cliffs"   -> (t => operators.Extended.q224(t)),
      "q225_cohens"   -> (t => operators.Extended.q225(t)),
      "q226_curve"    -> (t => operators.Extended.q226(t)),
      // r16 wave 4: the family-budgeted battery — censuses + the
      // family-partitioned league windows
      "q227_fam_fdr"  -> (t => operators.Extended.q227(t)),
      // r16 wave 5: per-segment CUPED — (segment, arm) moments + one
      // segment-keyed join
      "q228_cuped"    -> (t => operators.Extended.q228(t)),
      // r16 wave 6: per-segment DiD — (segment, cell) census + pivot
      "q229_did"      -> (t => operators.Extended.q229(t)),
      // r16 wave 6: per-segment post-stratification — (segment, arm,
      // stratum) censuses + segment-partitioned weight windows
      "q230_poststrat" -> (t => operators.Extended.q230(t)),
      // r17: the cumulative battery — two prepare censuses + one
      // absorb + the census-only battery (corpus cost = the scans)
      "q231_gov_prep" -> (t => operators.Extended.q231(t)),
      // r17: the seeded permutation battery — one pooled scan of the
      // 1-in-37 slice + the ×B explode over (segment, perm) windows
      "q233_perm"     -> (t => operators.Extended.q233(t)),
      // r17: group-sequential readout — one (look, arm) census + the
      // K-row cumulative window
      "q234_gs"       -> (t => operators.Extended.q234(t)),
      // r17: unigram-LM train/encode — everything past the word
      // count rides the DISTINCT-WORD frame (vocab-sized; the
      // corpus replicas reuse the same vocabulary, so cost tracks
      // the one corpus-wide census)
      "q235_unigram"  -> (t => operators.Unigram.q235(t)),
      "q236_uni_enc"  -> (t => operators.Unigram.q236(t)),
      // r17 wave 2: keyed group-sequential — one (grp, look, arm)
      // census + segment-partitioned K-row windows
      "q238_gs_grp"   -> (t => operators.Extended.q238(t)),
      // r17 wave 3: the absorbing artifact path — two censuses + the
      // bounded merge + the same decide; still census-bounded
      "q239_gs_abs"   -> (t => operators.Extended.q239(t)),
      // r17 wave 3: the nprobe curve — one max-depth cell join +
      // k-bounded overlap joins; corpus-linear like q36 itself
      "q240_curve"    -> (t => operators.Similarity.q240(t)),
      // r17 wave 3: WordPiece — merges train on the distinct-word
      // census (one corpus word count); encode is the corpus-side
      // explode + vocab join (q107 shape)
      "q241_wp_train" -> (t => operators.Wordpiece.q241(t)),
      "q242_wp_enc"   -> (t => operators.Wordpiece.q242(t)),
      // r17 wave 3: DSIR — gram explode + bucket censuses; the two
      // 1024-row log-prob tables broadcast, top-k is TakeOrdered
      "q243_dsir"     -> (t => operators.Extended.q243(t)),
      // r17 wave 3: KN-LM — one bigram explode + vocab-sized
      // censuses + gram-keyed joins back (the q73 shape)
      "q244_kn"       -> (t => operators.Extended.q244(t)),
      // r17 wave 3: always-valid CI — two 1-row moment censuses (the
      // q196 shape), keyed form one (grp, arm) census + keyed merge
      "q246_avci_grp" -> (t => operators.Extended.q246(t)),
      // r17 wave 5: QTE/winsorized — value-domain censuses + bounded
      // windows; the winsorized form adds one clamped row pass
      "q245_avci"     -> (t => operators.Extended.q245(t)),
      "q247_qte"      -> (t => operators.Extended.q247(t)),
      "q249_qte_grp"  -> (t => operators.Extended.q249(t)),
      "q248_winsor"   -> (t => operators.Extended.q248(t)),
      // r17 wave 5: the artifact-served sketch QTE — register
      // censuses absorb; decide walks resolution-bounded registers
      "q250_qte_sk"   -> (t => operators.Extended.q250(t)),
      // r12: incremental SCD2 — prepare on the first 3 extracts, then
      // absorb the 4th: cost must track ONE open-frame ⋈ extract join
      // plus the linear closed-history rewrite, never a series rescan
      "scd2_absorb"   -> (t => {
        val s = operators.Relational.scd2Series(t)
        val attrs = Seq("c_name", "c_acctbal", "c_mktsegment")
        graft.api.Ops.prepareScd2(
            s.take(3).reduce(_ unionByName _), "snap_ts", "id", attrs)
          .absorb(s(3)).history
      }))
    for ((name, op) <- ops if onlyOps.forall(_.contains(name))) {
      // untimed 1x pass first: codegen/JIT compile lands here, not in
      // the timed 1x (which would bias every scaling ratio DOWN — the
      // 10x run reuses the compiled classes the 1x run paid for)
      time(s"$name~warm", "1x", nDocs1)(op(t1))
      val s1 = time(name, "1x", nDocs1)(op(t1))
      val sN = time(name, s"${repl}x", nDocsN)(op(tN))
      println(f"[probe] $name%-16s scaling: ${sN / s1}%.1fx time for ${repl}x rows")
    }
    spark.stop()
  }
}
