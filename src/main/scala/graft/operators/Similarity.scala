package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.ArtifactIO
import graft.api.ArtifactIO.Frame
import graft.functions.GraftFunctions
import graft.sources.Tables

/** Similarity search over the embeddings table (SURVEY.md §2 q35/q36).
  *
  * q35 is the exact baseline: broadcast the (small) query set against
  * the full vector corpus — at 100 TB the corpus side stays
  * partitioned and only the query side is broadcast, so the scan
  * streams with no shuffle; per-query top-k is a bounded window.
  * q36 is the scale path: IVF — assign every vector to its nearest
  * centroid (map-side against broadcast centroids), then search only
  * the query's cell.
  *
  * The inner loop is the native codegen'd CosineSimilarity expression.
  */
object Similarity {

  private def cos(a: String, b: String) =
    call_function("cosine_sim", col(a).cast("array<double>"), col(b).cast("array<double>"))

  /** q35: brute-force cosine top-5 for the first 10 query vectors.
    * (Generalized form: [[graft.api.Ops.GraftDataFrameOps.cosineTopK]].)
    */
  def q35(t: Tables): DataFrame = {
    GraftFunctions.register(t.spark)
    import graft.api.Ops._
    t.embeddings
      .cosineTopK(t.embeddings.filter(col("vec_id") < 10),
        id = "vec_id", emb = "embedding", queryId = "vec_id", queryEmb = "embedding", k = 5)
      .select(col("qid"), col("rank"), col("vid"), round(col("score"), 4).as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q36: IVF-partitioned ANN — 8 fixed centroids (vectors 100..107),
    * cell = argmax-cosine centroid, search within the query's cell.
    * Rows-only (no SQL oracle); SimilaritySpec measures recall vs q35.
    */
  def q36(t: Tables): DataFrame = {
    val centroids = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    ivfTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 10), centroids,
      id = "vec_id", emb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb", k = 5, nprobe = 2)
      .select(col("qid"), col("rank"), col("vid"), round(col("score"), 4).as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q114: two-level (coarse/fine) IVF ANN — the quantizer regime
    * past a single centroid table ([[ivfTopKTwoLevel]]), promoted
    * from spec-only to ORACLE-gated: 16 fixed fine centroids
    * (vectors 100..115) routed through 4 fixed coarse cells
    * (vectors 200..203), so every stage — fine→coarse homing,
    * corpus two-level assignment, query coarse probing, per-query
    * fine-cell ranking, in-cell exact cosine top-k — replays in SQL
    * with `list_cosine_similarity` (bit-identical to the codegen
    * `cosine_sim`, proven by q35) and deterministic (score DESC, id)
    * tie-breaks end-to-end.
    */
  def q114(t: Tables): DataFrame = {
    val fine = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 116)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    val coarse = t.embeddings
      .filter(col("vec_id") >= 200 && col("vec_id") < 204)
      .select(col("vec_id").as("coarse_id"), col("embedding").as("coarse_emb"))
    ivfTopKTwoLevel(t.embeddings, t.embeddings.filter(col("vec_id") < 10),
      fine, coarse,
      id = "vec_id", emb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb",
      coarseId = "coarse_id", coarseEmb = "coarse_emb",
      k = 5, nprobe = 2, coarseProbe = 2)
      .select(col("qid"), col("rank"), col("vid"), round(col("score"), 4).as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Generalized IVF top-k search over ANY centroid set — composes
    * with [[Vectors.kmeansCentroids]] (train the quantizer, then
    * search its cells). Scale shape:
    *
    *  - **cell assignment follows k** (the semanticDedup pattern): at
    *    or below `maxLiteralCentroids` the centroids are collected
    *    (k × dim doubles — driver-tiny) and embedded as a literal
    *    array, so the per-row nearest-cells ranking is a codegen'd
    *    sort over k structs — no join, no shuffle, for both the
    *    corpus and the query side; ABOVE it (the k ∝ N quantizer
    *    regime) a 10⁵-cell literal would make the plan itself the
    *    bottleneck, so the centroids collapse to ONE row holding the
    *    (cid, ce) struct array, broadcast keyless onto both sides
    *    (the q48/q83 1-row-NLJ shape) and ranked by the SAME
    *    sort_array fold — identical per-row compute, centroid-free
    *    plan, no aggregation or extra shuffle. Both paths use the
    *    same (negscore, cid) ordering, so cell assignment is
    *    bit-identical (spec-pinned). Past ~10⁵ cells × large dim the
    *    array row approaches broadcast limits: go two-level
    *    (coarse literal + per-cell fine);
    *  - candidates live in their 1 home cell, queries probe their
    *    `nprobe` nearest cells (the standard recall lever);
    *  - the search joins the partitioned corpus against the broadcast
    *    exploded query set on the cell key.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              id: String, emb: String, centroidId: String, centroidEmb: String,
              k: Int = 5, nprobe: Int = 2,
              maxLiteralCentroids: Int = 4096): DataFrame = {
    val assign = cellAssigner(centroids, centroidId, centroidEmb, maxLiteralCentroids)
    val c = assign(corpus, id, emb, 1, "vid", "c_emb")
    val q = assign(queries, id, emb, nprobe, "qid", "q_emb")
    searchCells(c, q, k)
  }

  /** Recall/cost tuning curve for the IVF serving path (r17 — the
    * readout that SIZES nprobe: q200 reports recall at ONE depth,
    * but the operational question is the trade — "how much recall
    * does each extra probe buy, and at what scan cost"): for each
    * depth in `nprobes`, the IVF top-k at that depth scores against
    * the exact brute-force truth — micro recall, silent misses, and
    * the probe COST (candidates scored, candidates per query,
    * fraction of the corpus scanned) in one frame, one row per
    * depth. ONE corpus cell assignment and ONE cell join at
    * max(nprobes) serve every level (a level FILTERS `cell_rank`,
    * never re-joins the corpus) and the exact side is one
    * brute-force pass — the whole curve costs one max-depth search
    * plus k-bounded overlap joins. With nprobe ≥ nCells the routing
    * is exhaustive and recall = 1 by construction (spec-pinned).
    */
  def ivfRecallCurve(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                     id: String, emb: String, centroidId: String, centroidEmb: String,
                     k: Int = 5, nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                     maxLiteralCentroids: Int = 4096): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      "ivfRecallCurve: nprobes must be non-empty and positive")
    import graft.api.Ops._
    val nps = nprobes.distinct.sorted
    val assignR = cellAssignerRanked(centroids, centroidId, centroidEmb,
      maxLiteralCentroids)
    val assign1 = cellAssigner(centroids, centroidId, centroidEmb,
      maxLiteralCentroids)
    val c = assign1(corpus, id, emb, 1, "vid", "c_emb")
    val q = assignR(queries, id, emb, nps.max, "qid", "q_emb")
    // r17 optimization round (guide §1.2): the candidate join and the
    // exact baseline used to re-evaluate for EVERY curve level — the
    // per-level window, the recall report and the cost count each
    // re-read them, 2 corpus-join evaluations per level plus one
    // exact brute-force per level. Materialize each ONCE (projected
    // to the consumed columns — guide §2.3) and fold the per-level
    // candidate counts into one aggregate over the materialized
    // frame. Every level's values are unchanged (same rows, same
    // window, same report — the q240 gate re-verifies).
    val ck = graft.api.Ops.lineageBreaker(None)
    val cand = ck(c.join(broadcast(q), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("score", call_function("cosine_sim", col("q_emb"), col("c_emb")))
      .select(col("qid"), col("vid"), col("cell_rank"), col("score")))
    val exact = ck(corpus.cosineTopK(queries, id, emb, id, emb, k)
      .select(col("qid"), col("vid")))
    val candCounts = cand.agg(
      sum(when(col("cell_rank") <= nps.head, 1L).otherwise(0L))
        .as(s"__nc_${nps.head}"),
      nps.tail.map(np => sum(when(col("cell_rank") <= np, 1L).otherwise(0L))
        .as(s"__nc_$np")): _*)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vid"))
    val levels = nps.map { np =>
      val ap = cand.filter(col("cell_rank") <= np)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("vid"))
      val report = graft.api.Ops.annRecallReport(exact, ap, "qid", "vid")
      report.agg(
          count(lit(1)).as("n_queries"),
          sum(when(col("n_approx") === 0 && col("n_exact") > 0, lit(1L))
            .otherwise(lit(0L))).as("n_silent_miss"),
          sum(col("n_exact")).as("n_exact"),
          sum(col("n_approx")).as("n_approx"),
          sum(col("n_overlap")).as("n_overlap"))
        .crossJoin(broadcast(candCounts
          .select(col(s"__nc_$np").as("n_candidates"))))
        .withColumn("nprobe", lit(np.toLong))
    }
    levels.reduce(_ unionByName _)
      .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_corpus"))))
      .withColumn("recall", when(col("n_exact") > 0,
        round(col("n_overlap").cast("double") / col("n_exact").cast("double"), 6)))
      .withColumn("cand_per_query", when(col("n_queries") > 0,
        round(col("n_candidates").cast("double") / col("n_queries").cast("double"), 6)))
      .withColumn("scan_fraction", when(col("n_queries") > 0 && col("n_corpus") > 0,
        round(col("n_candidates").cast("double") /
          (col("n_queries").cast("double") * col("n_corpus").cast("double")), 6)))
      .select(col("nprobe"), col("n_queries"), col("n_silent_miss"),
        col("n_exact"), col("n_approx"), col("n_overlap"), col("recall"),
        col("n_candidates"), col("cand_per_query"), col("scan_fraction"))
  }

  /** q240: the nprobe tuning curve over the q36 index (r17 wave 3 —
    * [[ivfRecallCurve]] at depths 1/2/4/8 over the 8 fixed cells:
    * the last row probes every cell, so it must read recall = 1 with
    * scan_fraction ≈ 1 — the exhaustive anchor — and the q36
    * operating point (nprobe = 2) sits on the curve with its cost
    * beside it).
    */
  def q240(t: Tables): DataFrame = {
    val centroids = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    ivfRecallCurve(t.embeddings, t.embeddings.filter(col("vec_id") < 10),
      centroids, id = "vec_id", emb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb",
      k = 5, nprobes = Seq(1, 2, 4, 8))
      .orderBy(col("nprobe"))
  }

  /** The IVF cell-assignment stage, factored so every cell-routed
    * operator ([[ivfTopK]], [[ivfPqTopK]]) shares ONE bit-identical
    * assignment: per-row (−cosine, cid) sort over the centroid set,
    * literal fold at or below `maxLiteralCentroids`, the 1-row
    * broadcast array join above it (the k ∝ N regime — VERDICT r8
    * #1). Returns a function (df, idCol, embCol, nCells, outId,
    * outEmb) → df with an exploded `cell` column holding the nCells
    * nearest cell ids.
    */
  private[graft] def cellAssigner(
      centroids: DataFrame, centroidId: String, centroidEmb: String,
      maxLiteralCentroids: Int = 4096)
      : (DataFrame, String, String, Int, String, String) => DataFrame = {
    val ranked = cellAssignerRanked(centroids, centroidId, centroidEmb,
      maxLiteralCentroids)
    (df, id, emb, n, outId, outEmb) =>
      ranked(df, id, emb, n, outId, outEmb).drop("cell_rank")
  }

  /** [[cellAssigner]] with the probe rank kept (r17 — what the
    * recall/cost curve needs: `cell_rank = r` means "the r-th nearest
    * cell", so one assignment at max(nprobe) serves EVERY level of
    * [[ivfRecallCurve]] by filtering). The ONE implementation both
    * share — the fold, ordering and tie-break are the engine-wide
    * (−score, cid).
    */
  private[graft] def cellAssignerRanked(
      centroids: DataFrame, centroidId: String, centroidEmb: String,
      maxLiteralCentroids: Int = 4096)
      : (DataFrame, String, String, Int, String, String) => DataFrame = {
    GraftFunctions.register(centroids.sparkSession)
    val cdf = centroids
      .select(col(centroidId).cast("long").as("cid"),
        col(centroidEmb).cast("array<double>").as("ce"))
    val nCents = cdf.count()
    require(nCents > 0, "cellAssigner: empty centroid set")
    (df: DataFrame, id: String, emb: String, n: Int, outId: String, outEmb: String) => {
      val base = df.select(col(id).as(outId), col(emb).cast("array<double>").as(outEmb))
      // per-row cell ranking: (−score, cid) ordering — ties break on
      // the lower centroid id, identical in both assignment paths
      def rankedOver(cents: Column) = sort_array(transform(cents, ct => struct(
        (lit(-1.0) * call_function("cosine_sim", col(outEmb), ct.getField("ce"))).as("negscore"),
        ct.getField("cid").as("cid"))))
      def withCells(pre: DataFrame, ranked: Column): DataFrame = pre
        .select(col("*"),
          posexplode(transform(slice(ranked, 1, n), s => s.getField("cid")))
            .as(Seq("__cpos", "cell")))
        .withColumn("cell_rank", (col("__cpos") + 1).cast("long"))
        .drop("__cpos")
      if (nCents <= maxLiteralCentroids) {
        val cents = cdf.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
        val centLit = array(cents.map { case (cid, ce) =>
          struct(lit(cid).as("cid"), array(ce.map(lit): _*).as("ce")) }: _*)
        withCells(base, rankedOver(centLit))
      } else {
        val centsArr = cdf.agg(collect_list(struct(col("cid"), col("ce"))).as("__cents"))
        withCells(base.join(broadcast(centsArr)), rankedOver(col("__cents")))
          .drop("__cents")
      }
    }
  }

  /** The shared search tail: join the partitioned, cell-assigned
    * corpus against the broadcast cell-assigned query set, exact
    * cosine within matched cells, per-query top-k window.
    */
  private def searchCells(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vid"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("score", call_function("cosine_sim", col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vid"), col("score"))
  }

  /** Two-level (coarse/fine) IVF top-k — the quantizer regime PAST
    * what a single centroid table can serve (~10⁵ fine cells × large
    * dim approaches broadcast limits, and the per-row O(k·dim) fold
    * dominates): route every vector through ~√k COARSE cells first,
    * then rank only the fine centroids OF that coarse cell. Per-row
    * assignment cost drops from O(k·dim) to O((√k + k/√k)·dim) — at
    * k=10⁵ that is ~300× less work — and no structure larger than the
    * grouped fine-centroid arrays (k·dim total, hash-partitioned by
    * coarse cell in a broadcast table) ever ships.
    *
    * Train `coarse` with [[Vectors.kmeansCentroids]] over the FINE
    * centroid set (or any fixed √k-sized quantizer). Plan shape:
    *
    *  - fine → coarse assignment: literal fold over the coarse array
    *    (coarse must fit the literal budget — it is √k by design);
    *  - per-coarse-cell fine arrays: one groupBy(√k cells) collect;
    *  - corpus: coarse literal fold (map-side) → broadcast HASH join
    *    on the coarse cell (equi key, not NLJ) → fold over that
    *    cell's fine array — joined rows are consumed by the
    *    projection in place, nothing aggregates, nothing sorts;
    *  - queries (small by contract): explode `coarseProbe` coarse
    *    cells, rank all fine candidates in a per-qid window, keep
    *    `nprobe` fine cells; the search tail is [[ivfTopK]]'s.
    *
    * APPROXIMATE in the standard IVF sense: corpus and queries use
    * the SAME two-level assignment function, so cells are consistent;
    * recall loss comes only from coarse routing (a query's true
    * nearest fine cell can live in an unprobed coarse cell — raise
    * `coarseProbe`/`nprobe` to trade time for recall). With coarse =
    * fine and coarseProbe ≥ nprobe the routing is exact and the
    * result EQUALS single-level [[ivfTopK]] (spec-pinned).
    * Deterministic: every fold ranks by (−score, id) like the whole
    * engine.
    */
  def ivfTopKTwoLevel(corpus: DataFrame, queries: DataFrame,
                      fine: DataFrame, coarse: DataFrame,
                      id: String, emb: String,
                      centroidId: String, centroidEmb: String,
                      coarseId: String, coarseEmb: String,
                      k: Int = 5, nprobe: Int = 2, coarseProbe: Int = 2,
                      maxLiteralCentroids: Int = 4096): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val coarseCents = coarse
      .select(col(coarseId).cast("long").as("gcid"),
        col(coarseEmb).cast("array<double>").as("gce"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(coarseCents.nonEmpty, "ivfTopKTwoLevel: empty coarse set")
    require(coarseCents.length <= maxLiteralCentroids,
      s"ivfTopKTwoLevel: ${coarseCents.length} coarse cells exceed the literal " +
        s"budget ($maxLiteralCentroids) — the coarse level should be ~sqrt(k); " +
        "train fewer coarse cells (or nest another level)")
    val coarseLit = array(coarseCents.map { case (gcid, gce) =>
      struct(lit(gcid).as("gcid"), array(gce.map(lit): _*).as("gce")) }: _*)
    // ranked coarse cells for an embedding column: (−score, gcid) asc
    def coarseRanked(embCol: String) = sort_array(transform(coarseLit, ct => struct(
      (lit(-1.0) * call_function("cosine_sim", col(embCol), ct.getField("gce"))).as("negscore"),
      ct.getField("gcid").as("gcid"))))
    // fine centroids grouped by their home coarse cell — the broadcast
    // routing table: √k rows, each holding that cell's (cid, ce) array
    val fineCells = fine
      .select(col(centroidId).cast("long").as("cid"),
        col(centroidEmb).cast("array<double>").as("ce"))
      .withColumn("gcell", element_at(coarseRanked("ce"), 1).getField("gcid"))
      .groupBy(col("gcell"))
      .agg(collect_list(struct(col("cid"), col("ce"))).as("__fines"))
    // rank a row's fine candidates within one joined coarse cell
    def fineRanked(embCol: String) = sort_array(transform(col("__fines"), ct => struct(
      (lit(-1.0) * call_function("cosine_sim", col(embCol), ct.getField("ce"))).as("negscore"),
      ct.getField("cid").as("cid"))))
    // corpus: home coarse cell → hash join its fine array → home fine cell
    val c = corpus
      .select(col(id).as("vid"), col(emb).cast("array<double>").as("c_emb"))
      .withColumn("gcell", element_at(coarseRanked("c_emb"), 1).getField("gcid"))
      .join(broadcast(fineCells), Seq("gcell"))
      .withColumn("cell", element_at(fineRanked("c_emb"), 1).getField("cid"))
      .select(col("vid"), col("c_emb"), col("cell"))
    // queries: probe coarseProbe coarse cells, rank ALL their fine
    // candidates per query, keep the nprobe best fine cells
    val qw = Window.partitionBy(col("qid")).orderBy(col("negscore"), col("cell"))
    val q = queries
      .select(col(id).as("qid"), col(emb).cast("array<double>").as("q_emb"))
      .withColumn("gcell",
        explode(transform(slice(coarseRanked("q_emb"), 1, coarseProbe), s => s.getField("gcid"))))
      .join(broadcast(fineCells), Seq("gcell"))
      .select(col("qid"), col("q_emb"),
        explode(fineRanked("q_emb")).as("__f"))
      .select(col("qid"), col("q_emb"),
        col("__f").getField("negscore").as("negscore"), col("__f").getField("cid").as("cell"))
      .withColumn("__r", row_number().over(qw))
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("q_emb"), col("cell"))
    searchCells(c, q, k)
  }

  /** IVF-PQ prepared index (q92): every corpus vector routed to its
    * home IVF cell ([[cellAssigner]] — the q36 assignment,
    * bit-identical literal/broadcast paths) AND compressed to its m
    * PQ code bytes ([[graft.functions.ProductQuantizer]] — the q91
    * encode). The returned (id, cell, pq_code) frame IS the
    * FAISS-standard IVFADC layout (Jégou et al. 2011) re-expressed
    * as a DataFrame: at 100 TB it is 32× smaller than the raw
    * embeddings, partitionable by cell, and serves query batches
    * with NO access to the original vectors — encode once, query
    * many ([[ivfPqTopKAgainst]]).
    */
  def prepareIvfPq(corpus: DataFrame, centroids: DataFrame,
                   id: String, emb: String,
                   centroidId: String, centroidEmb: String,
                   dim: Int, m: Int = 8, ks: Int = 16,
                   seed: String = "7", scale: Double = 0.125,
                   codebooks: Option[Array[Array[Array[Double]]]] = None,
                   maxLiteralCentroids: Int = 4096): DataFrame = {
    require(m >= 1 && dim % m == 0, s"prepareIvfPq: dim=$dim must divide into m=$m subspaces")
    val cbs = codebooks.getOrElse(
      graft.functions.ProductQuantizer.codebooks(m, ks, dim / m, seed, scale))
    val assign = cellAssigner(centroids, centroidId, centroidEmb, maxLiteralCentroids)
    assign(corpus, id, emb, 1, "vid", "__e")
      .select(col("vid").as(id), col("cell"),
        graft.functions.ProductQuantizer.encode(col("__e"), cbs).as("pq_code"))
  }

  /** ADC search against a ONCE-prepared IVF-PQ index
    * ([[prepareIvfPq]]): each query ranks its `nprobe` nearest cells
    * (the SAME assignment function the corpus used — standard IVF
    * consistency), builds ONE m×ks distance table, and ADC-scores
    * ONLY the coded vectors whose home cell is probed — the
    * nprobe/k-fraction of the corpus, at m lookups + m adds per
    * candidate. Plan shape: the (tiny) query frame broadcasts onto
    * the codes with an EQUI join on `cell` (hash join, not NLJ — the
    * corpus side never shuffles, candidates stream from the cell
    * partitions), then the staged per-shard/global top-k window
    * (q79/bm25 discipline). Two approximations compose, both
    * standard: cell routing misses neighbors in unprobed cells
    * (recall lever: nprobe), ADC quantization reorders near-ties
    * (recall lever: m·ks). With nprobe ≥ nCells the routing is
    * exhaustive and the result EQUALS the flat PQ scan
    * ([[graft.api.Ops.GraftDataFrameOps.pqTopK]]) — spec-pinned.
    * Returns (qid, rank, vid, adc_dist), rank 1..k by (adc_dist,
    * vid). `excludeSelf` (default true — the corpus-queries-corpus
    * convention every batch top-k in this engine shares) drops rows
    * where vid equals qid; it is only meaningful when query ids LIVE
    * IN the corpus id space — for external query streams (request
    * ids, session ids) pass false, or a coincidentally colliding id
    * silently loses its best match (and a TYPE-mismatched id pair
    * compares null, dropping everything) — r11 review;
    * [[graft.streaming.Streams.ivfPqTopKStream]] defaults to false
    * for exactly that reason.
    */
  def ivfPqTopKAgainst(index: DataFrame, queries: DataFrame, centroids: DataFrame,
                       id: String, queryId: String, queryEmb: String,
                       centroidId: String, centroidEmb: String,
                       dim: Int, m: Int = 8, ks: Int = 16,
                       k: Int = 10, nprobe: Int = 2,
                       seed: String = "7", scale: Double = 0.125,
                       codebooks: Option[Array[Array[Array[Double]]]] = None,
                       maxLiteralCentroids: Int = 4096,
                       excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dim % m == 0, s"ivfPqTopKAgainst: dim=$dim must divide into m=$m subspaces")
    require(k >= 1 && nprobe >= 1, "ivfPqTopKAgainst: k and nprobe must be positive")
    val cbs = codebooks.getOrElse(
      graft.functions.ProductQuantizer.codebooks(m, ks, dim / m, seed, scale))
    val assign = cellAssigner(centroids, centroidId, centroidEmb, maxLiteralCentroids)
    val q = assign(queries, queryId, queryEmb, nprobe, "qid", "__qe")
      .select(col("qid"), col("cell"),
        graft.functions.ProductQuantizer.distanceTable(col("__qe"), cbs).as("__dt"))
    val joined = index.select(col(id).as("vid"), col("cell"), col("pq_code"))
      .join(broadcast(q), Seq("cell"))
    val scored = (if (excludeSelf) joined.filter(col("vid") =!= col("qid")) else joined)
      .withColumn("adc_dist",
        graft.functions.ProductQuantizer.adc(col("pq_code"), col("__dt")))
    val w1 = Window.partitionBy(col("qid"), col("__shard"))
      .orderBy(col("adc_dist"), col("vid"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("vid"))
    scored
      .withColumn("__shard", pmod(xxhash64(col("vid").cast("string")), lit(64)))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vid"), col("adc_dist"))
  }

  /** Exact re-rank over an ADC shortlist (r17 — VERDICT r16 missing
    * #2: production FAISS-style serving takes a top-R ADC shortlist
    * and re-ranks it with EXACT distances against the original
    * vectors, buying back most of the PQ quantization's recall loss
    * at tiny cost): [[ivfPqTopKAgainst]] with k = `rerankR` produces
    * the shortlist, the shortlist joins back to the original
    * `vectors` for exact cosine against the query embedding, and the
    * final top-k ranks by (score desc, vid) — the [[ivfTopK]]
    * ordering, so with every cell probed and rerankR covering the
    * probed candidates the result EQUALS the exact in-cell search
    * (spec-pinned).
    *
    * Guarantee worth stating: the ADC top-k is a subset of the ADC
    * top-R, and true neighbors carry the highest exact scores in ANY
    * candidate set containing them — so recall@k of the re-ranked
    * result can never be below the raw ADC path's at the same
    * nprobe (spec-pinned per query on the bench corpus).
    *
    * Scale shape: the shortlist is queries × R rows (tiny by the
    * query-batch contract), so it BROADCASTS onto the partitioned
    * vector corpus — one vid-keyed hash join, the corpus never
    * shuffles; the exact scoring touches R rows per query instead of
    * the corpus (the whole point of serving from codes), and the
    * re-rank window walks R-bounded partitions.
    */
  def ivfPqTopKRerank(index: DataFrame, queries: DataFrame, centroids: DataFrame,
                      vectors: DataFrame, id: String, emb: String,
                      queryId: String, queryEmb: String,
                      centroidId: String, centroidEmb: String,
                      dim: Int, m: Int = 8, ks: Int = 16,
                      k: Int = 10, nprobe: Int = 2, rerankR: Int = 50,
                      seed: String = "7", scale: Double = 0.125,
                      codebooks: Option[Array[Array[Array[Double]]]] = None,
                      maxLiteralCentroids: Int = 4096,
                      excludeSelf: Boolean = true): DataFrame = {
    require(rerankR >= k,
      s"ivfPqTopKRerank: rerankR ($rerankR) must be >= k ($k) — the shortlist serves the final top-k")
    GraftFunctions.register(queries.sparkSession)
    val shortlist = ivfPqTopKAgainst(index, queries, centroids, id, queryId,
      queryEmb, centroidId, centroidEmb, dim, m, ks, rerankR, nprobe, seed,
      scale, codebooks, maxLiteralCentroids, excludeSelf)
      .select(col("qid"), col("vid"), col("adc_dist"))
    val q = queries.select(col(queryId).as("qid"),
      col(queryEmb).cast("array<double>").as("__qe"))
    val vvec = vectors.select(col(id).as("vid"),
      col(emb).cast("array<double>").as("__ve"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vid"))
    vvec
      .join(broadcast(shortlist.join(broadcast(q), Seq("qid"))), Seq("vid"))
      .withColumn("score", call_function("cosine_sim", col("__qe"), col("__ve")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vid"), col("score"), col("adc_dist"))
  }

  /** The IVF-PQ index as a standard prepared artifact (the
    * PreparedBm25/PreparedVecCatalog discipline): the coded frame
    * plus EVERYTHING that pins the coding — the centroid set
    * (checkpointed, so cell assignment can never drift between
    * prepare, absorb and search) and the codebooks — with the
    * `reliable` flag the streaming entry requires.
    *
    * Rolling vector corpora are the use case for a 32×-compressed
    * index: [[absorb]] encodes ONLY the increment (per-row codes —
    * no cross-row state, so absorb = encode + union, the cheapest
    * absorb in the engine) and `prepare(A).absorb(B)` ≡
    * `prepare(A ∪ B)` row-for-row (spec-pinned in AbsorbSpec).
    */
  final case class PreparedIvfPq private[graft] (
      codes: DataFrame, centroids: DataFrame, id: String,
      dim: Int, m: Int, ks: Int, seed: String, scale: Double,
      codebooks: Array[Array[Array[Double]]],
      maxLiteralCentroids: Int, reliable: Boolean) {

    /** Absorb a corpus increment (ids disjoint from the index —
      * enforced: a re-submitted id would duplicate its code row):
      * the increment encodes under the SAME pinned centroids and
      * codebooks, its code leg is lineage-broken, and the frames
      * union per-row — the existing codes are never rescanned.
      */
    def absorb(increment: DataFrame, emb: String,
               checkpointDir: Option[String] = None): PreparedIvfPq = {
      val ckp = graft.api.Ops.lineageBreaker(checkpointDir)
      // hint-free guard — see [[graft.api.Ops.clashProbe]] (the q48
      // rule this engine applies to every potentially-unbounded join
      // side; r11 review made this site hint-free first, r12 shares
      // the probe across all five absorb guards)
      val clash = graft.api.Ops.clashProbe(codes.select(col(id)),
        increment.select(col(id)).distinct(), id).count()
      require(clash == 0L,
        "PreparedIvfPq.absorb: increment contains ids already in the index — " +
          "absorb models corpus growth; re-prepare to replace rows")
      val incCodes = ckp(prepareIvfPq(increment, centroids, id, emb, "cid", "ce",
        dim, m, ks, seed, scale, Some(codebooks), maxLiteralCentroids))
      copy(codes = codes.unionByName(incCodes),
        reliable = reliable && checkpointDir.isDefined)
    }

    /** ADC top-k for a query frame against this index —
      * [[ivfPqTopKAgainst]] under the pinned centroids/codebooks.
      * Returns (qid, rank, vid, adc_dist); see `excludeSelf` there
      * (pass false for query ids outside the corpus id space).
      */
    def topK(queries: DataFrame, queryId: String, queryEmb: String,
             k: Int = 10, nprobe: Int = 2,
             excludeSelf: Boolean = true): DataFrame =
      ivfPqTopKAgainst(codes, queries, centroids, id, queryId, queryEmb,
        "cid", "ce", dim, m, ks, k, nprobe, seed, scale, Some(codebooks),
        maxLiteralCentroids, excludeSelf)

    /** [[topK]] with the exact re-rank stage
      * ([[ivfPqTopKRerank]]): the ADC top-`rerankR` shortlist joins
      * back to the caller's original `vectors` frame (the index
      * stores only codes — 32× smaller — so the exact embeddings
      * come from the source of truth) and the final top-k is exact
      * cosine. Returns (qid, rank, vid, score, adc_dist).
      */
    def topKRerank(queries: DataFrame, queryId: String, queryEmb: String,
                   vectors: DataFrame, emb: String,
                   k: Int = 10, nprobe: Int = 2, rerankR: Int = 50,
                   excludeSelf: Boolean = true): DataFrame =
      ivfPqTopKRerank(codes, queries, centroids, vectors, id, emb,
        queryId, queryEmb, "cid", "ce", dim, m, ks, k, nprobe, rerankR,
        seed, scale, Some(codebooks), maxLiteralCentroids, excludeSelf)

    /** Persist the ENTIRE index durably — the encode-once / serve-
      * for-weeks production loop needs the artifact to outlive the
      * driver session that built it (checkpoint blocks are a cache,
      * not a format). Layout under `path`: `codes/` and `centroids/`
      * as parquet, `codebooks/` as exact (s, j, d, w) double rows
      * (parquet doubles are lossless — a JSON rendering would round),
      * and `meta/` as the kind-tagged scalar table
      * ([[graft.api.ArtifactIO]]). [[loadIvfPqIndex]] reconstructs a
      * PreparedIvfPq that is `reliable` by construction (parquet is
      * durable) and serves/absorbs identically (spec-pinned round-trip).
      */
    def save(path: String): Unit = {
      val cbRows = for {
        s <- codebooks.indices
        j <- codebooks(s).indices
        d <- codebooks(s)(j).indices
      } yield (s, j, d, codebooks(s)(j)(d))
      // `scale` round-trips exactly: Double.toString is the shortest
      // representation that parses back to the same IEEE bits.
      ArtifactIO.save(path, "ivfpq",
        Seq(Frame("codes", codes), Frame("centroids", centroids),
          Frame("codebooks", codes.sparkSession.createDataFrame(cbRows).toDF("s", "j", "d", "w"))),
        Seq("id" -> id, "dim" -> dim.toString, "m" -> m.toString,
          "ks" -> ks.toString, "seed" -> seed, "scale" -> scale.toString,
          "maxLiteralCentroids" -> maxLiteralCentroids.toString))
    }
  }

  /** Load a [[PreparedIvfPq]] persisted by [[PreparedIvfPq.save]].
    * The loaded index is `reliable` (parquet outlives executors) and
    * bit-identical in behavior: codes, centroids, codebooks and the
    * scalar config all round-trip exactly.
    */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): PreparedIvfPq = {
    val a = ArtifactIO.load(spark, path, "ivfpq")
    val m = a("m").toInt; val ks = a("ks").toInt; val dim = a("dim").toInt
    val cbs = Array.fill(m, ks, dim / m)(0.0)
    a.frame("codebooks").collect().foreach { r =>
      cbs(r.getAs[Int]("s"))(r.getAs[Int]("j"))(r.getAs[Int]("d")) = r.getAs[Double]("w")
    }
    PreparedIvfPq(a.frame("codes"), a.frame("centroids"),
      a("id"), dim, m, ks, a("seed"), a("scale").toDouble,
      cbs, a("maxLiteralCentroids").toInt, reliable = true)
  }

  /** Build a [[PreparedIvfPq]]; `checkpointDir` selects reliable
    * checkpoints (cluster/streaming mode) for the coded frame and the
    * pinned centroid set. Pass `codebooks =
    * Some(Vectors.trainPqCodebooks(...))` for trained quantization;
    * the default is the portable σ-scaled grid.
    */
  def prepareIvfPqIndex(corpus: DataFrame, centroids: DataFrame,
                        id: String, emb: String,
                        centroidId: String, centroidEmb: String,
                        dim: Int, m: Int = 8, ks: Int = 16,
                        seed: String = "7", scale: Double = 0.125,
                        codebooks: Option[Array[Array[Array[Double]]]] = None,
                        maxLiteralCentroids: Int = 4096,
                        checkpointDir: Option[String] = None): PreparedIvfPq = {
    require(m >= 1 && dim % m == 0, s"prepareIvfPqIndex: dim=$dim must divide into m=$m subspaces")
    val ckp = graft.api.Ops.lineageBreaker(checkpointDir)
    val cdf = ckp(centroids
      .select(col(centroidId).cast("long").as("cid"),
        col(centroidEmb).cast("array<double>").as("ce")))
    val cbs = codebooks.getOrElse(
      graft.functions.ProductQuantizer.codebooks(m, ks, dim / m, seed, scale))
    val codes = ckp(prepareIvfPq(corpus, cdf, id, emb, "cid", "ce",
      dim, m, ks, seed, scale, Some(cbs), maxLiteralCentroids))
    PreparedIvfPq(codes, cdf, id, dim, m, ks, seed, scale, cbs,
      maxLiteralCentroids, checkpointDir.isDefined)
  }

  /** Train a FULLY in-engine IVF-PQ index in one call (r12 — the
    * production entry that composes the whole ANN loop): Lloyd's
    * k-means for the cell quantizer
    * ([[graft.operators.Vectors.kmeansCentroids]]), per-subspace
    * Lloyd's for the PQ codebooks
    * ([[graft.operators.Vectors.trainPqCodebooks]]), then
    * [[prepareIvfPqIndex]] under both — everything derived from the
    * corpus itself, nothing hand-picked. The returned artifact
    * absorbs increments, persists (`save`/[[loadIvfPqIndex]]), and
    * serves batch `topK` or [[graft.streaming.Streams.ivfPqTopKStream]].
    * Cost: cellIters + pqIters corpus scans (each map-side assignment
    * + one map-combinable decimal shuffle) + one encode pass — all
    * three stages reuse the engine's literal/broadcast assignment
    * discipline, so k ∝ N quantizers never bloat the plan.
    */
  def trainIvfPqIndex(corpus: DataFrame, id: String, emb: String, dim: Int,
                      nCells: Int, m: Int = 8, ks: Int = 16,
                      cellIters: Int = 5, pqIters: Int = 3,
                      seed: String = "7", scale: Double = 0.125,
                      maxLiteralCentroids: Int = 4096,
                      checkpointDir: Option[String] = None): PreparedIvfPq = {
    val cents = graft.operators.Vectors.kmeansCentroids(corpus, id, emb,
      k = nCells, iters = cellIters, checkpointDir = checkpointDir,
      maxLiteralCentroids = maxLiteralCentroids)
      .select(col("cid"), col("centroid"))
    val cbs = graft.operators.Vectors.trainPqCodebooks(corpus, id, emb,
      dim, m, ks, pqIters, checkpointDir, maxLiteralCentroids)
    prepareIvfPqIndex(corpus, cents, id, emb, "cid", "centroid", dim, m, ks,
      seed, scale, codebooks = Some(cbs),
      maxLiteralCentroids = maxLiteralCentroids, checkpointDir = checkpointDir)
  }

  /** One-shot IVF-PQ: prepare the index inline and search it —
    * [[prepareIvfPq]] + [[ivfPqTopKAgainst]].
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                id: String, emb: String, queryId: String, queryEmb: String,
                centroidId: String, centroidEmb: String,
                dim: Int, m: Int = 8, ks: Int = 16,
                k: Int = 10, nprobe: Int = 2,
                seed: String = "7", scale: Double = 0.125,
                codebooks: Option[Array[Array[Array[Double]]]] = None,
                maxLiteralCentroids: Int = 4096): DataFrame =
    ivfPqTopKAgainst(
      prepareIvfPq(corpus, centroids, id, emb, centroidId, centroidEmb,
        dim, m, ks, seed, scale, codebooks, maxLiteralCentroids),
      queries, centroids, id, queryId, queryEmb, centroidId, centroidEmb,
      dim, m, ks, k, nprobe, seed, scale, codebooks, maxLiteralCentroids)

  /** q92: IVF-PQ composed search — the q36 cell routing over the q91
    * codes (8 fixed centroids, nprobe=2, 64 floats → 8 code bytes).
    * Both stages are the portable seeded arithmetic their parent ops
    * oracle-check, so the oracle replays cell assignment (q36 CTEs)
    * AND encode/distance-table/ADC (q91 CTEs) bit-for-bit, joined on
    * the probed cells.
    */
  def q92(t: Tables): DataFrame = {
    val centroids = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    ivfPqTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 5), centroids,
      id = "vec_id", emb = "embedding", queryId = "vec_id", queryEmb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 64, m = 8, ks = 16, k = 10, nprobe = 2)
      .select(col("qid"), col("rank"), col("vid"), round(col("adc_dist"), 4).as("adc_dist"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q232: IVF-PQ serving with the exact re-rank stage
    * ([[ivfPqTopKRerank]]) — the q92 chain (same centroids, codes,
    * probes) widened to an ADC top-30 shortlist, joined back to the
    * raw embeddings, exact-cosine re-ranked to the final top-10. The
    * oracle replays the whole q92 CTE chain at rank ≤ 30, then the
    * re-rank is one join + the q35 `list_cosine_similarity`
    * expression (bit-identical to the codegen `cosine_sim`, proven
    * by q35) and one (score DESC, vid) window.
    */
  def q232(t: Tables): DataFrame = {
    val centroids = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    val index = prepareIvfPq(t.embeddings, centroids,
      id = "vec_id", emb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 64, m = 8, ks = 16)
    ivfPqTopKRerank(index, t.embeddings.filter(col("vec_id") < 5), centroids,
      t.embeddings,
      id = "vec_id", emb = "embedding",
      queryId = "vec_id", queryEmb = "embedding",
      centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 64, m = 8, ks = 16, k = 10, nprobe = 2, rerankR = 30)
      .select(col("qid"), col("rank"), col("vid"),
        round(col("score"), 4).as("score"),
        round(col("adc_dist"), 4).as("adc_dist"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q91: product-quantized ADC search
    * ([[graft.api.Ops.GraftDataFrameOps.pqTopK]]) — the first 5
    * vectors query the full corpus through its 8-byte PQ codes
    * (64 floats → 8 codes, 32×). The codebooks are seeded-md5 grid
    * vectors and every distance a sequential fold, so the oracle
    * regenerates codebooks, encodes the corpus, builds each query's
    * distance table and replays the ADC ranking bit-for-bit in SQL;
    * PqSpec holds the recall-vs-exact line.
    */
  def q91(t: Tables): DataFrame = {
    import graft.api.Ops._
    t.embeddings
      .pqTopK(t.embeddings.filter(col("vec_id") < 5),
        queryId = "vec_id", queryEmb = "embedding",
        id = "vec_id", emb = "embedding", dim = 64, m = 8, ks = 16, k = 10)
      .select(col("qid"), col("rank"), col("vid"), round(col("adc_dist"), 4).as("adc_dist"))
      .orderBy(col("qid"), col("rank"))
  }
}
