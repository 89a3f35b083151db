package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Ops
import graft.api.Ops._
import graft.operators.Bpe
import graft.sources.Tables

/** Durable artifact persistence (VERDICT r11 #1): for EVERY prepared
  * artifact, `load(save(prepare(A)))` must equal `prepare(A)` —
  * artifact frames row-for-row, scalars exactly, downstream queries
  * identically — and `load(save(prepare(A))).absorb(B)` must equal
  * the full `prepare(A ∪ B)`, so the prepare-once / absorb-increments
  * / serve-for-weeks loop survives the driver session that built the
  * index. Loaded artifacts are `reliable` by construction (parquet is
  * durable), and loading a path that holds a DIFFERENT artifact kind
  * fails fast (the SnapshotStore discipline applied at rest). Every
  * round-trip saves the loaded artifact back over its own path, and
  * every absorb-after-load runs `load(dir).absorb(inc).save(dir)`,
  * before reloading: the rolling-index loop must not delete the files
  * its lazily-read frames still scan. PreparedIvfPq's round-trip
  * lives in AbsorbSpec (it predates this suite).
  */
class PersistenceSpec extends AnyFunSuite {
  import SparkTestSession._
  private lazy val t = Tables(spark, sfDir)

  private lazy val corpus = t.documents.select(col("doc_id"), col("text")).limit(300).cache()
  private lazy val partA = corpus.filter(col("doc_id") % 2 === 0)
  private lazy val partB = corpus.filter(col("doc_id") % 2 === 1)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_persist_$tag").toString

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(rows(a) == rows(b), s"$what diverged across save/load")

  test("PreparedCatalog save → load round-trips frames, serving, and absorb") {
    val full = Ops.prepareCatalog(corpus, "doc_id", "text")
    val dir = tmp("catalog")
    full.save(dir)
    Ops.loadCatalog(spark, dir).save(dir)
    val loaded = Ops.loadCatalog(spark, dir)
    assert(loaded.id == full.id && loaded.perms == full.perms &&
      loaded.lshBands == full.lshBands)
    assertSameRows(loaded.fingerprints, full.fingerprints, "catalog fingerprints")
    assertSameRows(loaded.shingles, full.shingles, "catalog shingles")
    assertSameRows(loaded.bands, full.bands, "catalog bands")
    val inc = corpus.limit(30)
    assertSameRows(
      Ops.dedupAgainstPrepared(inc, "doc_id", "text", loaded, threshold = 0.5),
      Ops.dedupAgainstPrepared(inc, "doc_id", "text", full, threshold = 0.5),
      "catalog incremental dedup")
    // absorb after load ≡ full re-prepare over the union
    val dirA = tmp("catalogA")
    Ops.prepareCatalog(partA, "doc_id", "text").save(dirA)
    Ops.loadCatalog(spark, dirA).absorb(partB, "text").save(dirA)
    val grown = Ops.loadCatalog(spark, dirA)
    val union = Ops.prepareCatalog(corpus, "doc_id", "text")
    assertSameRows(grown.shingles, union.shingles, "absorb-after-load shingles")
    assertSameRows(grown.bands, union.bands, "absorb-after-load bands")
    assertSameRows(grown.fingerprints, union.fingerprints, "absorb-after-load fingerprints")
  }

  test("PreparedLm save → load round-trips census, scalars, scoring, and absorb") {
    val full = Ops.prepareLm(corpus, "text")
    val dir = tmp("lm")
    full.save(dir)
    Ops.loadLm(spark, dir).save(dir)
    val loaded = Ops.loadLm(spark, dir)
    assert(loaded.reliable, "a persisted LM is reliable by construction")
    assert(loaded.vocab == full.vocab && loaded.addK == full.addK)
    assertSameRows(loaded.bigrams, full.bigrams, "lm bigrams")
    assertSameRows(loaded.prefixes, full.prefixes, "lm prefixes")
    val probe = corpus.limit(20)
    assertSameRows(
      probe.lmScoreAgainst(loaded, "doc_id", "text"),
      probe.lmScoreAgainst(full, "doc_id", "text"),
      "lm scoring")
    val dirA = tmp("lmA")
    Ops.prepareLm(partA, "text").save(dirA)
    Ops.loadLm(spark, dirA).absorb(partB, "text").save(dirA)
    val grown = Ops.loadLm(spark, dirA)
    assert(grown.vocab == full.vocab)
    assertSameRows(grown.bigrams, full.bigrams, "absorb-after-load lm census")
  }

  test("PreparedVocab save → load rebuilds kept as the census filter view; absorbs") {
    val full = Ops.prepareVocab(corpus, "text", minCount = 5L)
    val dir = tmp("vocab")
    full.save(dir)
    Ops.loadVocab(spark, dir).save(dir)
    val loaded = Ops.loadVocab(spark, dir)
    assert(loaded.reliable && loaded.minCount == full.minCount && loaded.unk == full.unk)
    assertSameRows(loaded.census, full.census, "vocab census")
    assertSameRows(loaded.kept, full.kept, "vocab kept view")
    val probe = corpus.limit(20)
    assertSameRows(
      probe.capVocabAgainst(loaded, "doc_id", "text"),
      probe.capVocabAgainst(full, "doc_id", "text"),
      "vocab capping")
    // threshold-crossing absorb still works from the persisted census
    val dirA = tmp("vocabA")
    Ops.prepareVocab(partA, "text", minCount = 5L).save(dirA)
    Ops.loadVocab(spark, dirA).absorb(partB, "text").save(dirA)
    val grown = Ops.loadVocab(spark, dirA)
    assertSameRows(grown.kept, full.kept, "absorb-after-load vocab kept")
  }

  test("PreparedBm25 save → load recomposes avgdl bit-for-bit; serves and absorbs") {
    val full = Ops.prepareBm25(corpus, "doc_id", "text")
    val dir = tmp("bm25")
    full.save(dir)
    Ops.loadBm25(spark, dir).save(dir)
    val loaded = Ops.loadBm25(spark, dir)
    assert(loaded.reliable && loaded.idCol == full.idCol)
    assert(loaded.nDocs == full.nDocs && loaded.sumDl == full.sumDl)
    assert(loaded.avgdl == full.avgdl, "avgdl must recompose bit-for-bit from the stored Longs")
    assertSameRows(loaded.postings, full.postings, "bm25 postings")
    val queries = corpus.limit(10)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    assertSameRows(
      queries.bm25TopKAgainst(loaded, "qid", "qtext", k = 3),
      queries.bm25TopKAgainst(full, "qid", "qtext", k = 3),
      "bm25 top-k")
    val dirA = tmp("bm25A")
    Ops.prepareBm25(partA, "doc_id", "text").save(dirA)
    Ops.loadBm25(spark, dirA).absorb(partB, "text").save(dirA)
    val grown = Ops.loadBm25(spark, dirA)
    assert(grown.nDocs == full.nDocs && grown.sumDl == full.sumDl && grown.avgdl == full.avgdl)
    assertSameRows(grown.postings, full.postings, "absorb-after-load bm25 postings")
  }

  test("PreparedEditIndex save → load keeps the prepared guard params; serves and absorbs") {
    import spark.implicits._
    val mk = (r: Range, tag: String) =>
      r.map(i => (i.toLong, s"name$tag$i")).toDF("cid", "cname")
    val a = mk(1 to 40, "x"); val b = mk(41 to 60, "y")
    val full = Ops.prepareEditIndex(a.unionByName(b), "cid", "cname", maxDistance = 1)
    val dir = tmp("edit")
    full.save(dir)
    Ops.loadEditIndex(spark, dir).save(dir)
    val loaded = Ops.loadEditIndex(spark, dir)
    assert(loaded.reliable && loaded.id == full.id && loaded.text == full.text &&
      loaded.maxDistance == full.maxDistance && loaded.maxLength == full.maxLength)
    assertSameRows(loaded.keys, full.keys, "edit keys")
    assertSameRows(loaded.base, full.base, "edit base")
    val dirty = Seq((100L, "namex7"), (101L, "namey55X")).toDF("qid", "qname")
    assertSameRows(
      dirty.editMatchesAgainst(loaded, "qid", "qname"),
      dirty.editMatchesAgainst(full, "qid", "qname"),
      "edit matches")
    val dirA = tmp("editA")
    Ops.prepareEditIndex(a, "cid", "cname", maxDistance = 1).save(dirA)
    Ops.loadEditIndex(spark, dirA).absorb(b).save(dirA)
    val grown = Ops.loadEditIndex(spark, dirA)
    assertSameRows(grown.keys, full.keys, "absorb-after-load edit keys")
    // the loaded index still enforces ITS OWN maxLength on absorb
    val dirT = tmp("editTight")
    Ops.prepareEditIndex(a, "cid", "cname", maxDistance = 1, maxLength = 8).save(dirT)
    val long = Seq((999L, "muchlongerthaneight")).toDF("cid", "cname")
    val e = intercept[Exception] {
      Ops.loadEditIndex(spark, dirT).absorb(long).base.count()
    }
    assert(e.getMessage.contains("maxLength=8"))
  }

  test("PreparedBoilerplate save → load rebuilds common from the census; absorbs across the threshold") {
    val full = Ops.prepareBoilerplate(corpus, "doc_id", "text", minDf = 3L)
    val dir = tmp("boiler")
    full.save(dir)
    Ops.loadBoilerplate(spark, dir).save(dir)
    val loaded = Ops.loadBoilerplate(spark, dir)
    assert(loaded.reliable && loaded.sep == full.sep && loaded.minDf == full.minDf)
    assertSameRows(loaded.census, full.census, "boilerplate census")
    assertSameRows(loaded.common, full.common, "boilerplate common view")
    val probe = corpus.limit(20)
    assertSameRows(
      probe.stripBoilerplateAgainst(loaded, "doc_id", "text"),
      probe.stripBoilerplateAgainst(full, "doc_id", "text"),
      "boilerplate stripping")
    val dirA = tmp("boilerA")
    Ops.prepareBoilerplate(partA, "doc_id", "text", minDf = 3L).save(dirA)
    Ops.loadBoilerplate(spark, dirA).absorb(partB, "doc_id", "text").save(dirA)
    val grown = Ops.loadBoilerplate(spark, dirA)
    assertSameRows(grown.common, full.common, "absorb-after-load boilerplate common")
  }

  test("PreparedGramIndex save → load round-trips the gram set; serves and absorbs") {
    val full = Ops.prepareGramIndex(corpus, "text", n = 8)
    val dir = tmp("gram")
    full.save(dir)
    Ops.loadGramIndex(spark, dir).save(dir)
    val loaded = Ops.loadGramIndex(spark, dir)
    assert(loaded.reliable && loaded.n == full.n)
    assertSameRows(loaded.grams, full.grams, "gram set")
    val probe = corpus.limit(20)
    assertSameRows(
      probe.ngramCoverageAgainst(loaded, "doc_id", "text"),
      probe.ngramCoverageAgainst(full, "doc_id", "text"),
      "gram coverage")
    val dirA = tmp("gramA")
    Ops.prepareGramIndex(partA, "text", n = 8).save(dirA)
    Ops.loadGramIndex(spark, dirA).absorb(partB, "text").save(dirA)
    val grown = Ops.loadGramIndex(spark, dirA)
    assertSameRows(grown.grams, full.grams, "absorb-after-load gram set")
  }

  test("PreparedVecCatalog save → load re-derives hyperplanes from meta; serves and absorbs") {
    val vecs = t.embeddings.select(col("vec_id"), col("embedding").as("emb")).limit(200).cache()
    val a = vecs.filter(col("vec_id") % 2 === 0)
    val b = vecs.filter(col("vec_id") % 2 === 1)
    val full = Ops.prepareVecCatalog(vecs, "vec_id", "emb", dim = 64)
    val dir = tmp("veccat")
    full.save(dir)
    Ops.loadVecCatalog(spark, dir).save(dir)
    val loaded = Ops.loadVecCatalog(spark, dir)
    assert(loaded.reliable && loaded.id == full.id && loaded.dim == full.dim &&
      loaded.signBits == full.signBits && loaded.tables == full.tables &&
      loaded.seed == full.seed)
    assertSameRows(loaded.codes, full.codes, "vec codes")
    assertSameRows(loaded.vectors, full.vectors, "vec base")
    val inc = vecs.limit(30)
    assertSameRows(
      Ops.vecDedupAgainstPrepared(inc, "vec_id", "emb", loaded, threshold = 0.95),
      Ops.vecDedupAgainstPrepared(inc, "vec_id", "emb", full, threshold = 0.95),
      "vec dedup")
    val dirA = tmp("veccatA")
    Ops.prepareVecCatalog(a, "vec_id", "emb", dim = 64).save(dirA)
    Ops.loadVecCatalog(spark, dirA).absorb(b, "emb").save(dirA)
    val grown = Ops.loadVecCatalog(spark, dirA)
    assertSameRows(grown.codes, full.codes, "absorb-after-load vec codes")
  }

  test("PreparedBpe save → load reconstructs the identical ranked merge list") {
    val full = Bpe.prepareBpe(corpus, "text", numMerges = 12)
    val dir = tmp("bpe")
    full.save(spark, dir)
    Bpe.loadBpe(spark, dir).save(spark, dir)
    val loaded = Bpe.loadBpe(spark, dir)
    assert(loaded.merges == full.merges, "merge list must round-trip rank-for-rank")
    assert(loaded.foldBatch == full.foldBatch)
    val probe = corpus.limit(20)
    assertSameRows(
      Bpe.encodeWith(probe, "doc_id", "text", loaded),
      Bpe.encodeWith(probe, "doc_id", "text", full),
      "bpe encodings")
  }

  test("PreparedImageCatalog save → load round-trips hashes; serves and absorbs") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareImageCatalog(media)
    val dir = tmp("imagecat")
    full.save(dir)
    Ops.loadImageCatalog(spark, dir).save(dir)
    val loaded = Ops.loadImageCatalog(spark, dir)
    assert(loaded.reliable, "a persisted image catalog is reliable by construction")
    assertSameRows(loaded.hashes, full.hashes, "image-catalog hashes")
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(loaded.dedup(inc), full.dedup(inc), "image dedup after load")
    val dirA = tmp("imagecatA")
    Ops.prepareImageCatalog(a).save(dirA)
    Ops.loadImageCatalog(spark, dirA).absorb(b).save(dirA)
    val grown = Ops.loadImageCatalog(spark, dirA)
    assertSameRows(grown.hashes, full.hashes, "absorb-after-load image hashes")
  }

  test("PreparedAudioCatalog save → load round-trips hashes; serves and absorbs") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareAudioCatalog(media)
    val dir = tmp("audiocat")
    full.save(dir)
    Ops.loadAudioCatalog(spark, dir).save(dir)
    val loaded = Ops.loadAudioCatalog(spark, dir)
    assert(loaded.reliable, "a persisted audio catalog is reliable by construction")
    assertSameRows(loaded.hashes, full.hashes, "audio-catalog hashes")
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(loaded.dedup(inc), full.dedup(inc), "audio dedup after load")
    val dirA = tmp("audiocatA")
    Ops.prepareAudioCatalog(a).save(dirA)
    Ops.loadAudioCatalog(spark, dirA).absorb(b).save(dirA)
    val grown = Ops.loadAudioCatalog(spark, dirA)
    assertSameRows(grown.hashes, full.hashes, "absorb-after-load audio hashes")
  }

  test("PreparedVideoCatalog save → load round-trips frame hashes + maxFrames; serves and absorbs") {
    import graft.operators.Multimodal
    val media = Multimodal.attachMedia(t).filter(_.doc_id < 400).cache()
    val a = media.filter(_.doc_id % 2 == 0)
    val b = media.filter(_.doc_id % 2 == 1)
    val full = Ops.prepareVideoCatalog(media, maxFrames = 8)
    val dir = tmp("videocat")
    full.save(dir)
    Ops.loadVideoCatalog(spark, dir).save(dir)
    val loaded = Ops.loadVideoCatalog(spark, dir)
    assert(loaded.reliable, "a persisted video catalog is reliable by construction")
    assert(loaded.maxFrames == 8, "the sampling geometry is part of the artifact")
    assertSameRows(loaded.frameHashes, full.frameHashes, "video-catalog frame hashes")
    val inc = Multimodal.attachMedia(t).filter(r => r.doc_id >= 400 && r.doc_id < 500)
    assertSameRows(loaded.dedup(inc), full.dedup(inc), "video dedup after load")
    val dirA = tmp("videocatA")
    Ops.prepareVideoCatalog(a, maxFrames = 8).save(dirA)
    Ops.loadVideoCatalog(spark, dirA).absorb(b).save(dirA)
    val grown = Ops.loadVideoCatalog(spark, dirA)
    assertSameRows(grown.frameHashes, full.frameHashes, "absorb-after-load video hashes")
  }

  test("PreparedMoments save → load round-trips sums; absorb is exact algebra") {
    val li = t.lineitem.join(
      broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
      col("l_suppkey") === col("s_suppkey"))
    val a = li.filter(col("l_orderkey") % 2 === 0)
    val b = li.filter(col("l_orderkey") % 2 === 1)
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val full = Ops.prepareMoments(li, "s_nationkey", x, y)
    val dir = tmp("moments")
    full.save(dir)
    Ops.loadMoments(spark, dir).save(dir)
    val loaded = Ops.loadMoments(spark, dir)
    assert(loaded.groupCol == full.groupCol && loaded.reliable)
    assertSameRows(loaded.moments, full.moments, "moments sums")
    assertSameRows(loaded.regression, full.regression, "regression from loaded sums")
    // absorb after load ≡ full re-prepare over the union: the decimal
    // sums are associative, so this equality is exact algebra, not an
    // approximation contract
    val dirA = tmp("momentsA")
    Ops.prepareMoments(a, "s_nationkey", x, y).save(dirA)
    Ops.loadMoments(spark, dirA).absorb(b, x, y).save(dirA)
    val absorbed = Ops.loadMoments(spark, dirA)
    assertSameRows(absorbed.moments, full.moments, "absorb-after-load moments")
    assertSameRows(absorbed.regression, full.regression, "absorb-after-load regression")
  }

  test("PreparedSeasonal save → load round-trips cells; absorb is exact algebra") {
    val ev = Tables(spark, sfDir).events
    val a = ev.filter(col("event_id") % 2 === 0)
    val b = ev.filter(col("event_id") % 2 === 1)
    val full = Ops.prepareSeasonal(ev, "event_type", "ts", col("value"))
    val dir = tmp("seasonal")
    full.save(dir)
    Ops.loadSeasonal(spark, dir).save(dir)
    val loaded = Ops.loadSeasonal(spark, dir)
    assert(loaded.typeCol == full.typeCol && loaded.reliable)
    assertSameRows(loaded.cells, full.cells, "seasonal cells")
    assertSameRows(
      loaded.against(ev.limit(200), "ts", col("value")),
      full.against(ev.limit(200), "ts", col("value")),
      "seasonal scoring from loaded cells")
    val dirA = tmp("seasonalA")
    Ops.prepareSeasonal(a, "event_type", "ts", col("value")).save(dirA)
    Ops.loadSeasonal(spark, dirA).absorb(b, "ts", col("value")).save(dirA)
    val absorbed = Ops.loadSeasonal(spark, dirA)
    assertSameRows(absorbed.cells, full.cells, "absorb-after-load cells")
  }

  test("PreparedCooc save → load round-trips censuses + basket total; absorb is exact algebra") {
    val e = t.lineitem.filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val a = e.filter(col("ok") % 2 === 0)
    val b = e.filter(col("ok") % 2 === 1)
    val full = Ops.prepareCooc(e, "ok", "p")
    val dir = tmp("cooc")
    full.save(dir)
    Ops.loadCooc(spark, dir).save(dir)
    val loaded = Ops.loadCooc(spark, dir)
    assert(loaded.nBaskets == full.nBaskets && loaded.reliable)
    assertSameRows(loaded.items, full.items, "cooc item counts")
    assertSameRows(loaded.pairs, full.pairs, "cooc pair counts")
    assertSameRows(loaded.similarItems(5, 2L), full.similarItems(5, 2L),
      "similar-items serve from loaded censuses")
    // absorb after load ≡ full re-prepare: counts are associative
    // sums under basket-atomic batches (orders split by parity —
    // every basket wholly in one side)
    val dirA = tmp("coocA")
    Ops.prepareCooc(a, "ok", "p").save(dirA)
    Ops.loadCooc(spark, dirA).absorb(b, "ok", "p").save(dirA)
    val absorbed = Ops.loadCooc(spark, dirA)
    assert(absorbed.nBaskets == full.nBaskets)
    assertSameRows(absorbed.items, full.items, "absorb-after-load item counts")
    assertSameRows(absorbed.pairs, full.pairs, "absorb-after-load pair counts")
    assertSameRows(absorbed.similarItems(5, 2L), full.similarItems(5, 2L),
      "absorb-after-load serve")
  }

  test("PreparedRollup save → load round-trips cells; absorb is exact algebra; serve ≡ one-shot") {
    val o = t.orders
    val a = o.filter(col("o_orderkey") % 2 === 0)
    val b = o.filter(col("o_orderkey") % 2 === 1)
    val keys = Seq("o_orderstatus", "o_orderpriority")
    val v = col("o_totalprice")
    val full = Ops.prepareRollup(o, keys, v)
    val dir = tmp("rollup")
    full.save(dir)
    Ops.loadRollup(spark, dir).save(dir)
    val loaded = Ops.loadRollup(spark, dir)
    assert(loaded.keys == full.keys && loaded.reliable)
    assertSameRows(loaded.cells, full.cells, "rollup cells")
    assertSameRows(loaded.serve, full.serve, "rollup serve from loaded cells")
    // absorb after load ≡ full re-prepare: count/sum/min/max are all
    // associative merges — exact algebra, not an approximation
    val dirA = tmp("rollupA")
    Ops.prepareRollup(a, keys, v).save(dirA)
    Ops.loadRollup(spark, dirA).absorb(b, v).save(dirA)
    val absorbed = Ops.loadRollup(spark, dirA)
    assertSameRows(absorbed.cells, full.cells, "absorb-after-load cells")
    assertSameRows(absorbed.serve, full.serve, "absorb-after-load serve")
    // serve ≡ the one-shot grouped aggregate with the decAvg shape
    val oneShot = o.filter(v.isNotNull).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(graft.util.Portable.dec(v)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("s"),
        min(v).as("mn"), max(v).as("mx"))
      .withColumn("avg", col("s").cast("double") / col("n"))
    assertSameRows(full.serve, oneShot, "serve vs one-shot aggregate")
    // an increment introducing a NEW key tuple lands as its own cell
    val extra = a.limit(1).withColumn("o_orderstatus", lit("ZZ_NEW"))
    val grown = full.absorb(extra, v)
    assert(grown.cells.filter(col("o_orderstatus") === "ZZ_NEW").count() == 1)
    // r13 ADVICE: key names persist NUL-joined (the PreparedScd2
    // separator) — a key column whose NAME contains a comma must
    // round-trip intact, not silently split into two wrong keys
    val weird = o.withColumn("status, priority",
      concat_ws("/", col("o_orderstatus"), col("o_orderpriority")))
    val pw = Ops.prepareRollup(weird, Seq("status, priority"), v)
    val dirW = tmp("rollupW")
    pw.save(dirW)
    val loadedW = Ops.loadRollup(spark, dirW)
    assert(loadedW.keys == Seq("status, priority"),
      s"comma-bearing key name must survive save/load (got ${loadedW.keys})")
    assertSameRows(loadedW.serve, pw.serve, "comma-key rollup serve")
    // r14 (r13-ADVICE): a PRE-fmt artifact (comma-joined keys, no
    // format marker) must FAIL FAST on load, not silently fuse its
    // key names into one misparsed string
    val dirOld = tmp("rollupOld")
    full.cells.write.mode("overwrite").parquet(s"$dirOld/cells")
    import spark.implicits._
    Seq(("kind", "rollup"), ("keys", keys.mkString(","))).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dirOld/meta")
    val ex = intercept[IllegalArgumentException](Ops.loadRollup(spark, dirOld))
    assert(ex.getMessage.contains("format"),
      s"fmt-less artifact must fail fast with a format message (got ${ex.getMessage})")
  }

  test("PreparedQuantiles: absorb is the EXACT union census; serve ≡ one-shot sketch; round-trips") {
    import graft.api.Ops._
    val l = t.lineitem
    val a = l.filter(col("l_orderkey") % 2 === 0)
    val b = l.filter(col("l_orderkey") % 2 === 1)
    val grp = Seq("l_returnflag")
    val qs = Seq("p50" -> 0.5, "p95" -> 0.95)
    val full = Ops.prepareQuantiles(l, grp, col("l_extendedprice"), 64.0)
    // serve ≡ the one-shot quantileSketch (shared census code)
    assertSameRows(full.quantiles(qs),
      l.quantileSketch(grp, col("l_extendedprice"), 64.0, qs),
      "prepared serve vs one-shot sketch")
    // absorb ≡ one-shot over the union: register sum-merge IS the
    // union census row-for-row — zero additional sketch error
    val inc = Ops.prepareQuantiles(a, grp, col("l_extendedprice"), 64.0)
      .absorb(b, col("l_extendedprice"))
    assertSameRows(inc.regs, full.regs, "absorbed census ≡ full census")
    assertSameRows(inc.quantiles(qs), full.quantiles(qs), "absorbed serve")
    // durable round-trip + absorb-after-load ≡ full re-prepare
    val dir = tmp("quantiles")
    Ops.prepareQuantiles(a, grp, col("l_extendedprice"), 64.0).save(dir)
    Ops.loadQuantiles(spark, dir).save(dir)
    val loaded = Ops.loadQuantiles(spark, dir)
    assert(loaded.group == grp && loaded.bucketWidth == 64.0 && loaded.reliable)
    loaded.absorb(b, col("l_extendedprice")).save(dir)
    assertSameRows(Ops.loadQuantiles(spark, dir).regs, full.regs, "absorb-after-load census")
    // global (group-less) form round-trips the empty group list
    val dirG = tmp("quantilesG")
    Ops.prepareQuantiles(l, Nil, col("l_extendedprice"), 64.0).save(dirG)
    assert(Ops.loadQuantiles(spark, dirG).group == Nil)
    // a fmt-less artifact fails fast (the PreparedRollup discipline)
    val dirOld = tmp("quantilesOld")
    full.regs.write.mode("overwrite").parquet(s"$dirOld/regs")
    import spark.implicits._
    Seq(("kind", "quantiles"), ("group", "l_returnflag"), ("bucketWidth", "64.0"))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$dirOld/meta")
    val ex = intercept[IllegalArgumentException](Ops.loadQuantiles(spark, dirOld))
    assert(ex.getMessage.contains("format"))
  }

  test("PreparedBuckets: absorb is the EXACT union census; PSI/JS/arm-weight serves ≡ row-input; round-trips") {
    import graft.api.Ops._
    val o = t.orders.withColumn("bkt",
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000000"))
    val a = o.filter(col("o_orderkey") % 2 === 0)
    val b = o.filter(col("o_orderkey") % 2 === 1)
    val cur = o.filter(col("o_orderkey") % 3 === 0)
    val full = Ops.prepareBuckets(o, "bkt")
    assertSameRows(full.census, Ops.bucketCensus(o, "bkt"),
      "prepare census ≡ bucketCensus (shared code)")
    // serves ≡ the row-input operators (delegation, value-identical)
    assertSameRows(full.psiVs(cur), Ops.psiDrift(o, cur, "bkt"), "psiVs ≡ psiDrift")
    assertSameRows(full.jsVs(cur), Ops.jsDivergence(o, cur, "bkt"), "jsVs ≡ jsDivergence")
    // absorb ≡ prepare over the union: counts add, row-for-row
    val inc = Ops.prepareBuckets(a, "bkt").absorb(b)
    assertSameRows(inc.census, full.census, "absorbed census ≡ full census")
    // durable round-trip + absorb-after-load ≡ full re-prepare
    val dir = tmp("buckets")
    Ops.prepareBuckets(a, "bkt").save(dir)
    Ops.loadBuckets(spark, dir).save(dir)
    val loaded = Ops.loadBuckets(spark, dir)
    assert(loaded.bucket == "bkt" && loaded.reliable)
    loaded.absorb(b).save(dir)
    assertSameRows(Ops.loadBuckets(spark, dir).census, full.census, "absorb-after-load census")
    // armWeights: exact census shares — positive, in (0, 1], sum ≈ 1,
    // and srmCheck accepts the measured split
    val w = full.armWeights
    assert(w.nonEmpty && w.forall { case (_, x) => x > 0.0 && x <= 1.0 })
    assert(math.abs(w.map(_._2).sum - 1.0) < 1e-9)
    assert(Ops.srmCheck(cur.withColumn("arm", col("bkt").cast("string")),
      col("arm"), w).collect().nonEmpty)
    // loading the buckets path as a DIFFERENT artifact kind fails fast
    val exK = intercept[IllegalArgumentException](Ops.loadQuantiles(spark, dir))
    assert(exK.getMessage.contains("kind"))
    // quantileDriftFromPrepared ≡ quantileDrift bit-for-bit (the
    // stored census IS the census the row-input form builds)
    val qs = Seq("p50" -> 0.5, "p99" -> 0.99)
    val qp = Ops.prepareQuantiles(o, Nil, col("o_totalprice"), 64.0)
    assertSameRows(
      Ops.quantileDriftFromPrepared(qp, cur, col("o_totalprice"), qs),
      Ops.quantileDrift(o, cur, col("o_totalprice"), 64.0, qs),
      "quantileDriftFromPrepared ≡ quantileDrift")
    // a segment-keyed artifact is refused for whole-frame drift
    val keyed = Ops.prepareQuantiles(o, Seq("o_orderpriority"),
      col("o_totalprice"), 64.0)
    val exG = intercept[IllegalArgumentException](
      Ops.quantileDriftFromPrepared(keyed, cur, col("o_totalprice"), qs))
    assert(exG.getMessage.contains("group-less"))
  }

  test("PreparedCalibration: absorb is the EXACT union census; serve ≡ one-shot calibrationBins; round-trips with nBins pinned") {
    import graft.api.Ops._
    import spark.implicits._
    val o = t.orders
      .withColumn("sm", expr(
        "CAST(round(CAST(o_totalprice AS DOUBLE) / 600000.0 * 1000000.0, 0) AS BIGINT)"))
      .filter(col("sm") >= 0L && col("sm") <= 1000000L)
      .withColumn("y", (col("o_orderstatus") === "F").cast("long"))
    val a = o.filter(col("o_orderkey") % 2 === 0)
    val b = o.filter(col("o_orderkey") % 2 === 1)
    val full = Ops.prepareCalibration(o, col("sm"), col("y"), nBins = 10)
    // serve ≡ the one-shot operator (shared census + finisher)
    assertSameRows(full.serve, o.calibrationBins(col("sm"), col("y"), 10),
      "serve ≡ calibrationBins")
    // absorb ≡ prepare over the union: every census column adds
    val inc = Ops.prepareCalibration(a, col("sm"), col("y"), 10)
      .absorb(b, col("sm"), col("y"))
    assertSameRows(inc.census, full.census, "absorbed census ≡ full census")
    // durable round-trip + absorb-after-load ≡ full re-prepare
    val dir = tmp("calibration")
    Ops.prepareCalibration(a, col("sm"), col("y"), 10).save(dir)
    Ops.loadCalibration(spark, dir).save(dir)
    val loaded = Ops.loadCalibration(spark, dir)
    assert(loaded.nBins == 10 && loaded.reliable)
    loaded.absorb(b, col("sm"), col("y")).save(dir)
    assertSameRows(Ops.loadCalibration(spark, dir).census, full.census,
      "absorb-after-load census")
    // wrong-kind and missing-fmt paths fail fast
    val exK = intercept[IllegalArgumentException](Ops.loadBuckets(spark, dir))
    assert(exK.getMessage.contains("kind"))
    val dirOld = tmp("calib_old")
    spark.read.parquet(s"$dir/census").write.mode("overwrite")
      .parquet(s"$dirOld/census")
    Seq(("kind", "calibration"), ("nBins", "10"))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$dirOld/meta")
    val exF = intercept[IllegalArgumentException](Ops.loadCalibration(spark, dirOld))
    assert(exF.getMessage.contains("format"))
  }

  test("PreparedActives round-trips; absorb is IDEMPOTENT set union; serves ≡ batch operators") {
    import graft.api.Ops._
    val e = t.events
    val a = e.filter(col("event_id") % 2 === 0)
    val b = e.filter(col("event_id") % 2 === 1)
    val full = Ops.prepareActives(e, "user_id", "ts")
    val dir = tmp("actives")
    full.save(dir)
    Ops.loadActives(spark, dir).save(dir)
    val loaded = Ops.loadActives(spark, dir)
    assert(loaded.reliable)
    assertSameRows(loaded.census, full.census, "actives census")
    // absorb after load ≡ full re-prepare
    val dirA = tmp("activesA")
    Ops.prepareActives(a, "user_id", "ts").save(dirA)
    Ops.loadActives(spark, dirA).absorb(b, "user_id", "ts").save(dirA)
    val absorbed = Ops.loadActives(spark, dirA)
    assertSameRows(absorbed.census, full.census, "absorb-after-load census")
    // the idempotence contract: re-absorbing an ALREADY-ABSORBED
    // increment — or an overlapping one — is a true no-op (set union)
    val doubled = absorbed.absorb(b, "user_id", "ts").absorb(e, "user_id", "ts")
    assertSameRows(doubled.census, full.census, "double-absorb is a no-op")
    // serves equal the batch operators over the same corpus
    assertSameRows(full.rollingActives(7), e.rollingActives("user_id", "ts", 7),
      "served rolling actives ≡ batch q141")
    assertSameRows(full.newVsReturning, e.newVsReturning("user_id", "ts"),
      "served new-vs-returning ≡ batch q153")
  }

  test("every versioned artifact refuses a meta without its format marker") {
    import spark.implicits._
    val loaders: Seq[(String, String => Any)] = Seq(
      "rollup" -> (Ops.loadRollup(spark, _)),
      "quantiles" -> (Ops.loadQuantiles(spark, _)),
      "group_sequential" -> (Ops.loadGroupSequential(spark, _)),
      "governance" -> (Ops.loadGovernance(spark, _)),
      "calibration" -> (Ops.loadCalibration(spark, _)),
      "buckets" -> (Ops.loadBuckets(spark, _)))
    for ((kind, load) <- loaders) {
      val dir = tmp(s"nofmt_$kind")
      Seq(("kind", kind)).toDF("k", "v").coalesce(1).write.parquet(s"$dir/meta")
      val ex = intercept[IllegalArgumentException](load(dir))
      assert(ex.getMessage.contains("format"),
        s"$kind: a fmt-less meta must fail with a format message (got ${ex.getMessage})")
    }
  }

  test("loading the wrong artifact kind — or a missing meta — fails fast") {
    val dir = tmp("kindclash")
    Ops.prepareGramIndex(corpus, "text", n = 8).save(dir)
    val e = intercept[IllegalArgumentException] { Ops.loadLm(spark, dir) }
    assert(e.getMessage.contains("kind 'gramindex', expected 'lm'"),
      s"kind mismatch must name both kinds: ${e.getMessage}")
    // same discipline across packages: the vector index refuses too
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.loadIvfPqIndex(spark, dir)
    }
    assert(e2.getMessage.contains("expected 'ivfpq'"))
    // a path with no meta at all is an error, not an empty artifact
    intercept[Exception] { Ops.loadBm25(spark, tmp("empty")) }
  }
}
