package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Ops
import graft.api.Ops._
import graft.sources.Tables

/** Prepared-index maintenance: for every index with an `absorb` entry
  * point, `prepare(A).absorb(B)` must equal `prepare(A ∪ B)` —
  * artifact frames row-for-row, scalars exactly — without rescanning
  * A's corpus. Corpus = the documents table split on doc id parity.
  */
class AbsorbSpec extends AnyFunSuite {
  import SparkTestSession._
  private lazy val t = Tables(spark, sfDir)

  private lazy val corpus = t.documents.select(col("doc_id"), col("text")).limit(300).cache()
  private lazy val partA = corpus.filter(col("doc_id") % 2 === 0)
  private lazy val partB = corpus.filter(col("doc_id") % 2 === 1)

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(rows(a) == rows(b), s"$what diverged between absorb and full re-prepare")

  test("absorbBm25 ≡ prepareBm25 over the union: postings, scalars, and query results") {
    val full = Ops.prepareBm25(corpus, "doc_id", "text")
    val absorbed = Ops.prepareBm25(partA, "doc_id", "text").absorb(partB, "text")
    assert(absorbed.nDocs == full.nDocs && absorbed.sumDl == full.sumDl)
    assert(absorbed.avgdl == full.avgdl, "avgdl must recompose bit-for-bit")
    assertSameRows(absorbed.postings, full.postings, "bm25 postings")
    // the query path sees no difference either
    val queries = corpus.limit(10)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    assertSameRows(
      queries.bm25TopKAgainst(absorbed, "qid", "qtext", k = 3),
      queries.bm25TopKAgainst(full, "qid", "qtext", k = 3),
      "bm25 top-k")
    // re-submitting an already-indexed doc fails fast (df/dl would
    // double-count) instead of silently corrupting the index
    val e = intercept[IllegalArgumentException] {
      full.absorb(partA.limit(1), "text")
    }
    assert(e.getMessage.contains("already in the index"))
  }

  test("chained absorbBm25 keeps the postings plan flat (lineage broken per round)") {
    // the rolling-corpus use case: without the merged-postings lineage
    // break every absorb would stack one more join layer on the plan
    val parts = (0 to 3).map(r => corpus.filter(col("doc_id") % 4 === r))
    var idx = Ops.prepareBm25(parts(0), "doc_id", "text")
    val depths = (1 to 3).map { r =>
      idx = idx.absorb(parts(r), "text")
      idx.postings.queryExecution.optimizedPlan.treeString.linesIterator.size
    }
    assert(depths.distinct.size == 1,
      s"postings plan must not grow across chained absorbs: $depths")
    // and the chain still equals the one-shot prepare
    val full = Ops.prepareBm25(corpus, "doc_id", "text")
    assertSameRows(idx.postings, full.postings, "chained bm25 postings")
    assert(idx.nDocs == full.nDocs && idx.sumDl == full.sumDl && idx.avgdl == full.avgdl)
  }

  test("PreparedScd2.absorb replayed per extract ≡ one-shot scd2History (gaps, deletes, inserts)") {
    import graft.operators.Relational
    // the q109 series exercises every versioning path: per-snapshot
    // drift, deletions, a one-snapshot GAP with re-insertion (absorbed
    // across two rounds), and late inserts — replaying it one extract
    // at a time through absorb must land on the oracle-gated one-shot
    // history row-for-row
    val series = Relational.scd2Series(t)
    val attrs = Seq("c_name", "c_acctbal", "c_mktsegment")
    val oneShot = series.reduce(_ unionByName _)
      .scd2History("snap_ts", "id", attrs)
    var dim = Ops.prepareScd2(series.head, "snap_ts", "id", attrs)
    series.tail.foreach(e => dim = dim.absorb(e))
    assertSameRows(dim.history, oneShot, "incremental SCD2 history")
    // intermediate prefixes agree too (the absorb invariant is
    // per-step, not just end-state)
    val twoShot = series.take(2).reduce(_ unionByName _)
      .scd2History("snap_ts", "id", attrs)
    assertSameRows(
      Ops.prepareScd2(series.head, "snap_ts", "id", attrs).absorb(series(1)).history,
      twoShot, "two-extract prefix")
    // out-of-order and multi-snapshot extracts fail fast
    val e1 = intercept[IllegalArgumentException] { dim.absorb(series.head) }
    assert(e1.getMessage.contains("snapshot order"))
    val e2 = intercept[IllegalArgumentException] {
      dim.absorb(series(0).unionByName(series(1)))
    }
    assert(e2.getMessage.contains("exactly one"))
    // a NEW id with ALL-NULL attributes must still open a version:
    // the absorb-time struct compare gates on BOTH presence markers,
    // because null <=> null is true field-wise and an ungated compare
    // silently drops the row (r12 second review)
    import spark.implicits._
    def ext(ts: String, rows: Seq[(Long, Option[String])]) =
      rows.toDF("id", "attr")
        .withColumn("snap_ts", to_timestamp(lit(ts)))
    val x1 = ext("2024-01-01 00:00:00", Seq((1L, Some("x"))))
    val x2 = ext("2024-02-01 00:00:00", Seq((1L, Some("x")), (2L, None)))
    val nullOneShot = x1.unionByName(x2).scd2History("snap_ts", "id", Seq("attr"))
    val nullAbsorbed = Ops.prepareScd2(x1, "snap_ts", "id", Seq("attr")).absorb(x2)
    assertSameRows(nullAbsorbed.history, nullOneShot, "all-null-attr new id")
    assert(nullAbsorbed.history.filter(col("id") === 2L).count() == 1L,
      "the all-null insert must hold exactly one open version")
    // save → load → absorb continues the chain identically
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    var fromDisk = Ops.prepareScd2(series.head, "snap_ts", "id", attrs)
    fromDisk.save(dir)
    var loaded = Ops.loadScd2(spark, dir)
    assert(loaded.reliable && loaded.attrs == attrs && loaded.lastSnapUs == fromDisk.lastSnapUs)
    series.tail.foreach(e => loaded = loaded.absorb(e))
    assertSameRows(loaded.history, oneShot, "absorb-after-load SCD2 history")
  }

  test("PreparedImageCatalog.absorb ≡ prepareImageCatalog over the union") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareImageCatalog(media)
    val absorbed = Ops.prepareImageCatalog(a).absorb(b)
    assertSameRows(absorbed.hashes, full.hashes, "image-catalog hashes")
    // the dedup consumer sees identical results through either
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(absorbed.dedup(inc), full.dedup(inc), "image dedup")
    // re-submitted doc ids fail fast instead of duplicating hash rows
    val e = intercept[IllegalArgumentException] { full.absorb(a.limit(1)) }
    assert(e.getMessage.contains("already in"))
  }

  test("PreparedAudioCatalog.absorb ≡ prepareAudioCatalog over the union") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareAudioCatalog(media)
    val absorbed = Ops.prepareAudioCatalog(a).absorb(b)
    assertSameRows(absorbed.hashes, full.hashes, "audio-catalog hashes")
    // the dedup consumer sees identical results through either
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(absorbed.dedup(inc), full.dedup(inc), "audio dedup")
    // re-submitted doc ids fail fast instead of duplicating hash rows
    val e = intercept[IllegalArgumentException] { full.absorb(a.limit(1)) }
    assert(e.getMessage.contains("already in"))
  }

  test("PreparedVideoCatalog.absorb ≡ prepareVideoCatalog over the union") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareVideoCatalog(media)
    val absorbed = Ops.prepareVideoCatalog(a).absorb(b)
    assert(absorbed.maxFrames == full.maxFrames)
    assertSameRows(absorbed.frameHashes, full.frameHashes, "video-catalog frame hashes")
    // the dedup consumer sees identical results through either
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(absorbed.dedup(inc), full.dedup(inc), "video dedup")
    // re-submitted doc ids fail fast instead of duplicating frame rows
    val e = intercept[IllegalArgumentException] { full.absorb(a.limit(1)) }
    assert(e.getMessage.contains("already in"))
  }

  test("absorb disjointness guards carry no forced broadcast hint (AQE decides)") {
    // VERDICT r11: a forced broadcast(increment ids) OOMs the BULK-
    // absorb case where the increment approaches corpus scale. Every
    // absorb guard routes through Ops.clashProbe; its optimized plan
    // must show a plain hint-free left-semi — AQE still broadcasts a
    // genuinely small increment at runtime, which is the point.
    val probe = Ops.clashProbe(
      partA.select(col("doc_id")).distinct(),
      partB.select(col("doc_id")).distinct(), "doc_id")
    val plan = probe.queryExecution.optimizedPlan.treeString
    assert(plan.contains("LeftSemi"), s"guard must stay a left-semi join:\n$plan")
    assert(!plan.contains("strategy=broadcast"),
      s"guard plan must carry no forced broadcast hint:\n$plan")
    assert(probe.count() >= 0L)
  }

  test("PreparedEditIndex.absorb ≡ prepareEditIndex over the union") {
    import spark.implicits._
    val mk = (r: Range, tag: String) =>
      r.map(i => (i.toLong, s"name$tag$i")).toDF("cid", "cname")
    val a = mk(1 to 40, "x")
    val b = mk(41 to 60, "y")
    val full = Ops.prepareEditIndex(a.unionByName(b), "cid", "cname", maxDistance = 1)
    val absorbed = Ops.prepareEditIndex(a, "cid", "cname", maxDistance = 1).absorb(b)
    assertSameRows(absorbed.base, full.base, "edit-index base")
    assertSameRows(absorbed.keys, full.keys, "edit-index deletion keys")
    val dirty = Seq((100L, "namex7"), (101L, "namey55X"), (102L, "zzz")).toDF("qid", "qname")
    assertSameRows(
      dirty.editMatchesAgainst(absorbed, "qid", "qname"),
      dirty.editMatchesAgainst(full, "qid", "qname"),
      "edit matches")
    // the absorb guards the increment with the PREPARED maxLength, not
    // a default — an absorb-time 512 would silently index a value the
    // full re-prepare rejects (r10 review)
    val tight = Ops.prepareEditIndex(a, "cid", "cname", maxDistance = 1, maxLength = 8)
    val long = Seq((999L, "muchlongerthaneight")).toDF("cid", "cname")
    val e2 = intercept[Exception] { tight.absorb(long).base.count() }
    assert(e2.getMessage.contains("maxLength=8"), e2.getMessage)
    // re-submitted ids fail fast instead of duplicating index rows
    val e3 = intercept[IllegalArgumentException] { full.absorb(a.limit(1)) }
    assert(e3.getMessage.contains("already in the index"))
  }

  test("PreparedVecCatalog.absorb ≡ prepareVecCatalog over the union") {
    val vecs = t.embeddings.select(col("vec_id"), col("embedding").as("emb")).limit(200).cache()
    val a = vecs.filter(col("vec_id") % 2 === 0)
    val b = vecs.filter(col("vec_id") % 2 === 1)
    val dim = vecs.select(size(col("emb"))).head().getInt(0)
    val full = Ops.prepareVecCatalog(vecs, "vec_id", "emb", dim = dim)
    val absorbed = Ops.prepareVecCatalog(a, "vec_id", "emb", dim = dim).absorb(b, "emb")
    assertSameRows(absorbed.codes, full.codes, "vector codes")
    assertSameRows(absorbed.vectors, full.vectors, "vector base")
    val inc = vecs.limit(30)
    assertSameRows(
      Ops.vecDedupAgainstPrepared(inc, "vec_id", "emb", absorbed, threshold = 0.95),
      Ops.vecDedupAgainstPrepared(inc, "vec_id", "emb", full, threshold = 0.95),
      "vec dedup against catalog")
    // re-submitted ids fail fast instead of duplicating code rows
    val e = intercept[IllegalArgumentException] { full.absorb(a.limit(1), "emb") }
    assert(e.getMessage.contains("already in the catalog"))
  }

  test("PreparedIvfPq.absorb ≡ prepareIvfPqIndex over the union") {
    import graft.operators.Similarity
    val vecs = t.embeddings.select(col("vec_id"), col("embedding").as("emb")).limit(200).cache()
    val a = vecs.filter(col("vec_id") % 2 === 0)
    val b = vecs.filter(col("vec_id") % 2 === 1)
    val centroids = t.embeddings
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    def prep(df: DataFrame) = Similarity.prepareIvfPqIndex(df, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 64, m = 8, ks = 16)
    val full = prep(vecs)
    val absorbed = prep(a).absorb(b, "emb")
    assertSameRows(absorbed.codes, full.codes, "ivf-pq codes")
    // downstream search equality: same queries, same rankings
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid2"), col("embedding").as("qemb"))
    assertSameRows(
      absorbed.topK(queries, "qid2", "qemb", k = 10, nprobe = 2),
      full.topK(queries, "qid2", "qemb", k = 10, nprobe = 2),
      "ivf-pq top-k")
    // re-submitted ids fail fast instead of duplicating code rows
    val e = intercept[IllegalArgumentException] { full.absorb(a.limit(1), "emb") }
    assert(e.getMessage.contains("already in the index"))
    // save → load round-trips the whole artifact: the loaded index is
    // reliable (parquet is durable), serves the identical rankings,
    // and keeps absorbing — the encode-once/serve-for-weeks loop
    // (saved back over its own source path first: the save must not
    // delete the files the loaded frames still read)
    val saveDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_save").toString
    full.save(saveDir)
    Similarity.loadIvfPqIndex(spark, saveDir).save(saveDir)
    val loaded = Similarity.loadIvfPqIndex(spark, saveDir)
    assert(loaded.reliable, "a persisted index is reliable by construction")
    assert(loaded.dim == full.dim && loaded.m == full.m && loaded.ks == full.ks &&
      loaded.codebooks.flatten.flatten.toSeq == full.codebooks.flatten.flatten.toSeq)
    assertSameRows(loaded.codes, full.codes, "persisted codes")
    assertSameRows(
      loaded.topK(queries, "qid2", "qemb", k = 10, nprobe = 2),
      full.topK(queries, "qid2", "qemb", k = 10, nprobe = 2),
      "persisted-index top-k")
    // and it still absorbs, in place: load(A).absorb(B).save(A), then
    // reload ≡ prep(A ∪ B)
    val savedA = java.nio.file.Files.createTempDirectory("graft_ivfpq_saveA").toString
    prep(a).save(savedA)
    Similarity.loadIvfPqIndex(spark, savedA).absorb(b, "emb").save(savedA)
    assertSameRows(Similarity.loadIvfPqIndex(spark, savedA).codes, full.codes,
      "absorb after load")
  }

  test("PreparedCatalog.absorb ≡ prepareCatalog over the union; overlapping fingerprints stay distinct") {
    import spark.implicits._
    val full = Ops.prepareCatalog(corpus, "doc_id", "text")
    val absorbed = Ops.prepareCatalog(partA, "doc_id", "text").absorb(partB, "text")
    assertSameRows(absorbed.fingerprints, full.fingerprints, "catalog fingerprints")
    assertSameRows(absorbed.shingles, full.shingles, "catalog shingles")
    assertSameRows(absorbed.bands, full.bands, "catalog LSH bands")
    // a text present in BOTH halves must not duplicate its fingerprint
    val dup = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "text")
    val a = dup.filter(col("doc_id") === 1L); val b = dup.filter(col("doc_id") === 2L)
    val ab = Ops.prepareCatalog(a, "doc_id", "text").absorb(b, "text")
    assert(ab.fingerprints.count() == 1L,
      "absorb must re-distinct fingerprints across the halves")
    // re-submitted doc ids fail fast (shingle/band rows would
    // duplicate and diverge from the full re-prepare — r10 review)
    val e = intercept[IllegalArgumentException] {
      Ops.prepareCatalog(corpus, "doc_id", "text").absorb(partA.limit(1), "text")
    }
    assert(e.getMessage.contains("already in the catalog"))
    // and the incremental-dedup consumer sees identical results
    val inc = corpus.limit(30)
    assertSameRows(
      Ops.dedupAgainstPrepared(inc, "doc_id", "text", absorbed, threshold = 0.5),
      Ops.dedupAgainstPrepared(inc, "doc_id", "text", full, threshold = 0.5),
      "dedup against catalog")
  }

  test("PreparedLm.absorb ≡ prepareLm over the union: censuses, V, and scores") {
    val full = Ops.prepareLm(corpus, "text")
    val absorbed = Ops.prepareLm(partA, "text").absorb(partB, "text")
    assert(absorbed.vocab == full.vocab, "V must recount over the merged census")
    assertSameRows(absorbed.bigrams, full.bigrams, "bigram census")
    assertSameRows(absorbed.prefixes, full.prefixes, "prefix census")
    val inc = corpus.limit(20)
    assertSameRows(
      Ops.scoreAgainstLm(inc, "doc_id", "text", absorbed),
      Ops.scoreAgainstLm(inc, "doc_id", "text", full),
      "LM scores")
  }

  test("PreparedVocab.absorb ≡ prepareVocab over the union (threshold-crossing included)") {
    import spark.implicits._
    // planted: 'borderline' occurs once per half — kept only on the
    // union at minCount=2, the case the unfiltered census exists for
    val a = Seq((1L, "common common borderline")).toDF("doc_id", "text")
    val b = Seq((2L, "common borderline other other")).toDF("doc_id", "text")
    val full = Ops.prepareVocab(a.unionByName(b), "text", minCount = 2L)
    val absorbed = Ops.prepareVocab(a, "text", minCount = 2L).absorb(b, "text")
    assertSameRows(absorbed.census, full.census, "vocab census")
    assertSameRows(absorbed.kept, full.kept, "kept set")
    assert(absorbed.kept.collect().map(_.getString(0)).toSet ==
      Set("common", "borderline", "other"))
    assert(!Ops.prepareVocab(a, "text", minCount = 2L).kept
      .collect().map(_.getString(0)).contains("borderline"),
      "…and 'borderline' must NOT be kept on either half alone")
    // corpus-scale equality too
    val fullC = Ops.prepareVocab(corpus, "text", minCount = 5L)
    val absC = Ops.prepareVocab(partA, "text", minCount = 5L).absorb(partB, "text")
    assertSameRows(absC.kept, fullC.kept, "corpus kept set")
  }

  test("PreparedGramIndex.absorb ≡ prepareGramIndex over the union") {
    val full = Ops.prepareGramIndex(corpus, "text", n = 5)
    val absorbed = Ops.prepareGramIndex(partA, "text", n = 5).absorb(partB, "text")
    assertSameRows(absorbed.grams, full.grams, "gram index")
    val inc = corpus.limit(20)
    assertSameRows(
      Ops.coverageAgainstIndex(inc, "doc_id", "text", absorbed),
      Ops.coverageAgainstIndex(inc, "doc_id", "text", full),
      "coverage scores")
  }

  test("PreparedBoilerplate.absorb ≡ prepareBoilerplate over the union (threshold-crossing included)") {
    import spark.implicits._
    // planted: the boilerplate line sits at df=2 in EACH half — below
    // minDf=3 on either half alone, above it only on the union. This
    // is exactly the case the unfiltered census exists for.
    val mkDocs = (ids: Seq[Long]) => ids.map(i =>
      (i, s"unique line $i\nSUBSCRIBE NOW\nbody text $i")).toDF("doc_id", "text")
    val a = mkDocs(Seq(1L, 2L)).unionByName(
      Seq((3L, "plain doc 3")).toDF("doc_id", "text"))
    val b = mkDocs(Seq(11L, 12L)).unionByName(
      Seq((13L, "plain doc 13")).toDF("doc_id", "text"))
    val full = Ops.prepareBoilerplate(a.unionByName(b), "doc_id", "text", minDf = 3)
    val absorbed = Ops.prepareBoilerplate(a, "doc_id", "text", minDf = 3)
      .absorb(b, "doc_id", "text")
    assertSameRows(absorbed.census, full.census, "boilerplate census")
    assertSameRows(absorbed.common, full.common, "boilerplate common set")
    assert(absorbed.common.collect().map(_.getString(0)).contains("SUBSCRIBE NOW"),
      "a paragraph crossing minDf only on the union must be common after absorb")
    assert(Ops.prepareBoilerplate(a, "doc_id", "text", minDf = 3).common.isEmpty,
      "…and must NOT be common on either half alone")
    val inc = mkDocs(Seq(99L))
    assertSameRows(
      inc.stripBoilerplateAgainst(absorbed, "doc_id", "text"),
      inc.stripBoilerplateAgainst(full, "doc_id", "text"),
      "strip against absorbed set")
  }
}
