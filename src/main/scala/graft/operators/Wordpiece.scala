package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.ArtifactIO
import graft.api.ArtifactIO.Frame
import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** WordPiece tokenizer training and encoding (Schuster & Nakajima,
  * ICASSP 2012; the BERT-lineage tokenizer as described in Wu et al.
  * 2016 §4.1 — r17: the THIRD production tokenizer family beside BPE
  * (q101/q107) and unigram-LM (q235/q236), completing the set a
  * training-data pipeline actually meets): merges grow the vocab
  * bottom-up like BPE, but the merge choice maximizes the LIKELIHOOD
  * score `pair_freq / (left_freq · right_freq)` instead of the raw
  * pair count — a pair of rare symbols that almost always co-occur
  * merges before a pair of frequent symbols that co-occur by chance.
  * Continuation symbols carry the `##` prefix (word-internal pieces),
  * so merging (`##u`, `##g`) yields `##ug` and a word-initial `h`
  * with `##u` yields `hu` — the merged symbol is
  * `left + right.stripPrefix("##")`.
  *
  * ENCODING is where WordPiece departs from both siblings: not merge
  * replay (BPE), not max-likelihood Viterbi (unigram), but GREEDY
  * LONGEST-MATCH-FIRST — at each position take the longest vocab
  * piece that matches (`##`-prefixed past position 0); a word with no
  * match at some position becomes the single piece `[unk]` (brackets
  * cannot occur in `[a-z0-9]+` tokens, so the marker is unambiguous).
  * On the training corpus `[unk]` is impossible by construction: the
  * vocab keeps EVERY initial symbol (no pruning), so each word's own
  * single-character pieces always match.
  *
  * The distributed shape is [[Bpe]]'s word-census trick end-to-end:
  * training walks the DISTINCT-WORD frame (one corpus-wide word count,
  * then vocab-sized jobs per merge round — the pair census and the
  * symbol census are both map-combinable aggregates of that frame);
  * encoding greedy-walks each DISTINCT word once as ONE higher-order
  * fold over a hash-joined longest-match map (the
  * [[Unigram.viterbiSegments]] mechanics with a greedy walk instead of
  * a DP), then joins the word → pieces mapping back onto the
  * position-exploded corpus.
  *
  * §3 portability: pair and symbol frequencies are exact longs; the
  * score is ONE double division `pf / (fl · fr)` of exact longs —
  * IEEE-identical in any engine — with the argmax ordered
  * (score DESC, left, right); the greedy walk is pure substring
  * equality. The oracle replays the merge rounds as unrolled CTEs
  * (the q101 pattern, plus a per-round symbol census and the score
  * join) and the greedy walk as a per-word recursive CTE over the
  * longest-match table (simpler than q236's Viterbi — the walk is a
  * single deterministic path).
  *
  * Stated scope: tokens are [a-z0-9]+ ([[graft.functions
  * .TextFunctions.normText]]); words longer than `maxWordLen` are
  * excluded from training and encoding (the [[Unigram]] rule);
  * training is sequential-only (one merge per round) — WordPiece's
  * score DENOMINATORS shift after every merge, so the symbol-disjoint
  * batching argument that makes batched BPE exact does not carry over.
  */
object Wordpiece {

  /** A word as its wrapped initial WordPiece symbols: first character
    * plain, continuations `##`-prefixed — "abc" → `|a||##b||##c|`.
    */
  private def wrapWp(w: Column): Column =
    concat(lit("|"), substring(w, 1, 1), lit("|"),
      regexp_replace(w.substr(lit(2), length(w)), "(.)", "|##$1|"))

  /** The merged symbol of a pair: continuations contribute their bare
    * text (`##u` + `##g` → `##ug`; `h` + `##u` → `hu`).
    */
  private def mergedSymbol(l: String, r: String): String =
    l + r.stripPrefix("##")

  /** One merge application on the wrapped string — the [[Bpe]]
    * left-to-right non-overlapping replace with the WordPiece
    * concatenation rule.
    */
  private def mergeReplace(s: Column, l: String, r: String): Column =
    replace(s, lit("|" + l + "||" + r + "|"),
      lit("|" + mergedSymbol(l, r) + "|"))

  /** Weighted symbol census of a (__f, __s) census frame: (__sym,
    * __sf) — the score's denominators.
    */
  private def symCensus(census: DataFrame): DataFrame =
    census
      .select(col("__f"), explode(Bpe.symsOf(col("__s"))).as("__sym"))
      .groupBy(col("__sym")).agg(sum(col("__f")).as("__sf"))

  /** Train `numMerges` WordPiece merges over the corpus' word census.
    * Each round: weighted adjacent-pair census + symbol census →
    * score join → argmax by (score DESC, left, right) among pairs at
    * or above `minFreq` → one codegen'd string rewrite, checkpointed.
    * Stops early when no pair reaches `minFreq`. Returns (rank
    * 1-based, left, right, pair_freq, score round 12) in merge order.
    */
  def trainWordpiece(docs: DataFrame, text: String, numMerges: Int,
                     minFreq: Long = 2L, maxWordLen: Int = 16,
                     checkpointDir: Option[String] = None): DataFrame =
    trainWordpieceReturningCensus(docs, text, numMerges, minFreq,
      maxWordLen, checkpointDir)._1

  /** [[trainWordpiece]] also handing back the materialized initial
    * word census (__w, __f, __s — word, frequency, wrapped initial
    * symbols) it trained on (r17 optimization round): the induced
    * encode vocabulary and the encoder's distinct-word frame are both
    * derivations of exactly this frame, so sharing it removes a
    * corpus re-scan (vocab init symbols) AND a corpus-wide distinct
    * (encode) — guide §2.4.
    */
  private[graft] def trainWordpieceReturningCensus(
      docs: DataFrame, text: String, numMerges: Int,
      minFreq: Long, maxWordLen: Int,
      checkpointDir: Option[String]): (DataFrame, DataFrame) = {
    val maxRounds = 400
    require(numMerges >= 1 && numMerges <= maxRounds,
      s"trainWordpiece: numMerges ($numMerges) must be in 1..$maxRounds — " +
        "each merge is one vocab-sized job + driver round-trip (sequential by design; " +
        "see the object doc for why WordPiece cannot batch like BPE)")
    require(minFreq >= 1L, "trainWordpiece: minFreq must be at least 1")
    require(maxWordLen >= 2 && maxWordLen <= 64,
      s"trainWordpiece: maxWordLen ($maxWordLen) must be in 2..64")
    val spark = docs.sparkSession
    val ck = graft.api.Ops.lineageBreaker(checkpointDir)
    val census0 = ck(docs
      .select(explode(tokens(col(text))).as("__w"))
      .filter(length(col("__w")) <= maxWordLen)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .select(col("__w"), col("__f"), wrapWp(col("__w")).as("__s")))
    var census = census0.select(col("__f"), col("__s"))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long)]()
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val syms = symCensus(census)
      val top = Bpe.pairCensus(census)
        .filter(col("__pf") >= minFreq)
        .join(syms.select(col("__sym").as("__l"), col("__sf").as("__fl")), Seq("__l"))
        .join(syms.select(col("__sym").as("__r"), col("__sf").as("__fr")), Seq("__r"))
        .withColumn("__score", col("__pf").cast("double") /
          (col("__fl").cast("double") * col("__fr").cast("double")))
        .orderBy(col("__score").desc, col("__l"), col("__r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (l, r) = (row.getAs[String]("__l"), row.getAs[String]("__r"))
        merges += ((l, r, row.getAs[Long]("__pf"),
          row.getAs[Long]("__fl"), row.getAs[Long]("__fr")))
        census = ck(census.select(col("__f"), mergeReplace(col("__s"), l, r).as("__s")))
      }
    }
    import spark.implicits._
    (merges.zipWithIndex
      .map { case ((l, r, pf, fl, fr), i) => (i + 1, l, r, pf, fl, fr) }.toSeq
      .toDF("rank", "left", "right", "pair_freq", "__fl", "__fr")
      // the score re-derives IN the frame so the round is Spark's
      // (identical to the oracle's round), not the driver's
      .select(col("rank"), col("left"), col("right"), col("pair_freq"),
        round(col("pair_freq").cast("double") /
          (col("__fl").cast("double") * col("__fr").cast("double")), 12).as("score")),
      census0)
  }

  /** The encode vocabulary a merge list induces: every INITIAL symbol
    * of the census (word-initial characters plain, `##`-prefixed
    * continuation characters — nothing is ever pruned, the no-[unk]-
    * on-the-training-corpus guarantee) plus every merge product.
    */
  def wordpieceVocab(docs: DataFrame, text: String,
                     merges: Seq[(String, String)],
                     maxWordLen: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val init = docs
      .select(explode(tokens(col(text))).as("__w"))
      .filter(length(col("__w")) <= maxWordLen)
      .select(explode(Bpe.symsOf(wrapWp(col("__w")))).as("piece"))
      .distinct()
    val merged = merges.map { case (l, r) => mergedSymbol(l, r) }.toDF("piece")
    init.unionByName(merged).distinct()
  }

  /** Greedy longest-match-first segmentation of every distinct word
    * under a (piece) vocab: returns (w, pieces array<string>), with
    * `["[unk]"]` for an unmatchable word. One explode + one vocab
    * hash join builds the per-word longest-match map (position →
    * furthest matching end); ONE higher-order fold walks it left to
    * right — no per-position jobs, no shuffle beyond the vocab join.
    */
  private[graft] def greedySegments(words: DataFrame, vocab: DataFrame): DataFrame = {
    val lm = words.select(col("w"))
      .withColumn("__j", explode(sequence(lit(0), length(col("w")) - 1)))
      .withColumn("__i", explode(sequence(col("__j") + 1, length(col("w")))))
      .withColumn("piece",
        when(col("__j") === 0, col("w").substr(lit(1), col("__i")))
          .otherwise(concat(lit("##"),
            col("w").substr(col("__j") + 1, col("__i") - col("__j")))))
      .join(vocab.select(col("piece")), Seq("piece"))
      .groupBy(col("w"), col("__j")).agg(max(col("__i")).as("__i"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(
        col("__j").as("k"), col("__i").as("v")))).as("__lm"))
    val L = length(col("w"))
    // the walk: at pos take the longest match's end, append the
    // piece, jump; L steps always suffice (each step advances ≥ 1)
    val walk = aggregate(sequence(lit(1), L),
      struct(lit(0).as("pos"), array().cast("array<string>").as("ps"),
        lit(true).as("ok")),
      (st, _) => {
        val pos = st.getField("pos"); val ps = st.getField("ps")
        val okf = st.getField("ok")
        val i = element_at(col("__lm"), pos)
        when(pos >= L || !okf, st)
          .when(i.isNull, struct(pos.as("pos"), ps.as("ps"), lit(false).as("ok")))
          .otherwise(struct(i.as("pos"),
            concat(ps, array(
              when(pos === 0, col("w").substr(lit(1), i))
                .otherwise(concat(lit("##"),
                  col("w").substr(pos + 1, i - pos))))).as("ps"),
            lit(true).as("ok")))
      })
    words.select(col("w")).join(lm, Seq("w"), "left")
      .withColumn("__gw", walk)
      .withColumn("pieces",
        when(col("__lm").isNotNull && col("__gw").getField("ok") &&
          col("__gw").getField("pos") === L, col("__gw").getField("ps"))
          .otherwise(array(lit("[unk]"))))
      .select(col("w"), col("pieces"))
  }

  /** Encode a corpus against a (piece) vocab: greedy-segment the
    * DISTINCT words once, join the word → pieces mapping back onto
    * the position-exploded corpus, reassemble per document (the
    * [[Bpe.applyBpe]] shape). Words longer than `maxWordLen` are
    * dropped (stated); unmatchable words encode as `[unk]`.
    * Returns (id, wp_tokens array<string>, n_wp_tokens).
    */
  def encodeWordpiece(docs: DataFrame, id: String, text: String,
                      vocab: DataFrame, maxWordLen: Int = 16): DataFrame =
    encodeWordpieceOverWords(docs, id, text, vocab,
      docs.select(explode(tokens(col(text))).as("w"))
        .filter(length(col("w")) <= maxWordLen).distinct(),
      maxWordLen)

  /** [[encodeWordpiece]] with the corpus' distinct-word frame supplied
    * by the caller (r17 optimization round — the [[Unigram
    * .encodeUnigramOverWords]] statement): when training just ran on
    * the same corpus, its checkpointed census IS that frame and the
    * corpus-wide distinct is gone. The caller owns the contract that
    * `distinctWords.w` is exactly the corpus' distinct tokens under
    * the same length cap.
    */
  private[graft] def encodeWordpieceOverWords(
      docs: DataFrame, id: String, text: String,
      vocab: DataFrame, distinctWords: DataFrame,
      maxWordLen: Int): DataFrame = {
    val wordsPos = docs
      .select(col(id), posexplode(tokens(col(text))).as(Seq("__pos", "w")))
      .filter(length(col("w")) <= maxWordLen)
    val segs = greedySegments(distinctWords.select(col("w")), vocab)
    wordsPos.join(segs, Seq("w"))
      .groupBy(col(id))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("pieces")))),
        s => s.getField("pieces"))).as("wp_tokens"))
      .select(col(id), col("wp_tokens"),
        size(col("wp_tokens")).cast("long").as("n_wp_tokens"))
  }

  /** A trained WordPiece vocabulary frozen for repeated encoding —
    * the [[Bpe.PreparedBpe]] artifact shape: the vocab IS the whole
    * model (a driver-held piece list), so no checkpoint-reliability
    * contract applies.
    */
  final case class PreparedWordpiece(pieces: Seq[String]) {
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      ArtifactIO.save(path, "wordpiece",
        Seq(Frame("pieces", pieces.toDF("piece").coalesce(1))),
        Seq("numPieces" -> pieces.size.toString))
    }
  }

  /** Load a [[PreparedWordpiece]] persisted by its `save`. */
  def loadWordpiece(spark: org.apache.spark.sql.SparkSession,
                    path: String): PreparedWordpiece = {
    val a = ArtifactIO.load(spark, path, "wordpiece")
    val pieces = a.frame("pieces")
      .orderBy(col("piece")).collect().map(_.getString(0)).toSeq
    require(pieces.size == a("numPieces").toInt,
      s"loadWordpiece: piece table at $path has ${pieces.size} rows but meta " +
        s"records ${a("numPieces")} — partially-written artifact")
    PreparedWordpiece(pieces)
  }

  /** Train and freeze a WordPiece vocab (merges + the induced encode
    * vocabulary in one call).
    */
  def prepareWordpiece(docs: DataFrame, text: String, numMerges: Int,
                       minFreq: Long = 2L, maxWordLen: Int = 16,
                       checkpointDir: Option[String] = None): PreparedWordpiece = {
    val merges = trainWordpiece(docs, text, numMerges, minFreq, maxWordLen,
      checkpointDir)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    PreparedWordpiece(
      wordpieceVocab(docs, text, merges, maxWordLen)
        .orderBy(col("piece")).collect().map(_.getString(0)).toSeq)
  }

  /** Encode against a frozen vocab ([[encodeWordpiece]] with the
    * prepared artifact).
    */
  def encodeWith(docs: DataFrame, id: String, text: String,
                 prepared: PreparedWordpiece): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    encodeWordpiece(docs, id, text, prepared.pieces.toDF("piece"))
  }

  /** q241: 10 WordPiece merges trained on the documents corpus — the
    * merge table itself is the output (rank, left, right, pair_freq,
    * score). Oracle: the rounds unrolled as chained CTEs (pair census
    * + symbol census → score argmax → replace rewrite per round) —
    * see `SparkEntry.wpOracleSql`.
    */
  def q241(t: Tables): DataFrame =
    trainWordpiece(t.documents, "text", numMerges = 10)
      .orderBy(col("rank"))

  /** q242: ENCODE the corpus with the q241-trained vocab — greedy
    * longest-match against the initial-symbols-plus-merge-products
    * vocabulary, oracle-checked end to end (train CTEs shared with
    * q241, the greedy walk replayed as a per-word recursive CTE).
    */
  def q242(t: Tables): DataFrame = {
    // r17 optimization round: train, vocab induction and encode share
    // ONE word census — the induced vocab's initial symbols and the
    // encoder's distinct words are both derivations of the training
    // census (same tokenizer, same length cap), so the corpus is
    // scanned once for words instead of three times (guide §2.4).
    // Output unchanged (same symbol set, same merges, same greedy
    // walk — the gate re-verifies).
    val spark = t.documents.sparkSession
    import spark.implicits._
    val (mergeTable, census0) = trainWordpieceReturningCensus(
      t.documents, "text", numMerges = 10, minFreq = 2L,
      maxWordLen = 16, checkpointDir = None)
    val merges = mergeTable.orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val vocab = census0
      .select(explode(Bpe.symsOf(col("__s"))).as("piece")).distinct()
      .unionByName(
        merges.map { case (l, r) => mergedSymbol(l, r) }.toDF("piece"))
      .distinct()
    encodeWordpieceOverWords(t.documents, "doc_id", "text", vocab,
      census0.select(col("__w").as("w")), maxWordLen = 16)
      .select(col("doc_id"),
        concat_ws(" ", col("wp_tokens")).as("wp_text"),
        col("n_wp_tokens"))
      .orderBy(col("doc_id"))
  }
}
