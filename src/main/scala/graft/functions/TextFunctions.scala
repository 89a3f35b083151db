package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives for the dedup / text-analysis operators.
  *
  * Everything here is built from codegen'd Catalyst functions
  * (regexp_replace, split, higher-order transform/filter/aggregate) —
  * no UDFs — and has an exact DuckDB mirror (SURVEY.md §3): DuckDB
  * needs the 'g' flag on regexp_replace, Spark replaces all matches by
  * default; Spark element_at and DuckDB l[i] are both 1-based.
  */
object TextFunctions {

  /** Lowercase, collapse non-alphanumerics to single spaces, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Non-empty whitespace tokens of the normalized text. */
  def tokens(c: Column): Column =
    filter(split(normText(c), " "), x => x =!= "")

  /** Distinct word 3-gram shingles (empty array when < 3 tokens).
    *
    * Built with zip_with over three shifted slices instead of
    * element_at(toks, i) inside a transform lambda: an expression
    * referenced inside a lambda body is RE-EVALUATED per element, so
    * the indexed form re-runs the whole tokenizer O(n) times per row
    * (measured 25s for 5000 docs at sf0.1; this form is ~100ms).
    * Callers should still pass an attribute (projected column), not an
    * inline tokenizer expression.
    */
  def shingles3(toks: Column): Column = {
    val len = greatest(size(toks) - 2, lit(0))
    val a = slice(toks, lit(1), len)
    val b = slice(toks, lit(2), len)
    val c = slice(toks, lit(3), len)
    array_distinct(
      zip_with(zip_with(a, b, (x, y) => concat(x, lit(" "), y)), c,
        (xy, z) => concat(xy, lit(" "), z)))
  }

  /** Distinct portable 60-bit hashes of word n-grams (empty array
    * when < n tokens). `toks` MUST be an attribute (projected
    * column): `slice(toks, i, n)` inside the lambda then reads O(n)
    * per gram without re-evaluating the tokenizer (the HOF re-eval
    * trap). The `when` guard matters: Spark `sequence(1, 0)` counts
    * DOWN, not empty. Mirror: DuckDB
    * `list_distinct(list_transform(range(1, len(t)-n+2), i ->
    * CAST(('0x'||substr(md5(array_to_string(t[i:i+n-1],' ')),1,15))
    * AS BIGINT)))` (both engines' ranges cover 1..len-n+1, slices are
    * 1-based).
    */
  def ngramHashes(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => graft.util.Portable.portableHash64(concat_ws(" ", slice(toks, i, lit(n)))))))
      .otherwise(array().cast("array<bigint>"))

  /** POSITIONAL word n-gram hashes: array of (pos, g) structs, pos
    * 1-based, one element per n-gram window (no distinct — position
    * identity is the point; [[ngramHashes]] is the set form). Same
    * attribute requirement and portable-hash mirror as
    * [[ngramHashes]]; DuckDB replays as `list_transform(range(1,
    * len(t)-n+2), i -> ...)` keeping i alongside the hash.
    */
  def ngramPosHashes(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => struct(i.cast("long").as("pos"),
          graft.util.Portable.portableHash64(concat_ws(" ", slice(toks, i, lit(n)))).as("g"))))
      .otherwise(array().cast("array<struct<pos:bigint,g:bigint>>"))

  /** Portable seeded 60-bit hash (same value as the DuckDB expression
    * CAST('0x'||substr(md5(seed||':'||s),1,15) AS BIGINT)).
    */
  def seededHash(seed: Column, s: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), s).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Per-shingle hash pair for the affine MinHash family
    * g_i(x) = (h1(x) + i*h2(x)) mod p, p = 2³¹−1 ([[MinhashPrime]]).
    * 28-bit hashes keep h1 + i*h2 below 2³⁴ for any perms ≤ 64, far
    * from long overflow (ANSI mode would throw), while staying
    * collision-safe for realistic shingle-set sizes. Project THIS as a
    * column, then pass the attribute to [[minhashSignature]] — md5 runs
    * twice per shingle total, instead of `perms` times.
    */
  def minhashPairs(sh: Column): Column =
    transform(sh, s => struct(
      conv(substring(md5(concat(lit("a:"), s).cast("binary")), 1, 7), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5(concat(lit("b:"), s).cast("binary")), 1, 7), 16, 10)
        .cast("long").as("h2")))

  /** MinHash signature from hash pairs: element i is min over
    * shingles of (h1 + i*h2) mod [[MinhashPrime]].
    *
    * The reduction decorrelates the permutations: without it, the
    * argmin for large i collapses onto the shingle with the
    * smallest h2, so the later LSH bands all vote for the same shingle
    * and near-duplicate recall falls well below the banding's
    * prediction. The DuckDB oracle (`SparkEntry.minhashPairCtes`)
    * replays the same reduction.
    *
    * Shaped as ONE `aggregate` fold over the pair array (accumulator =
    * the running 64-wide min vector) instead of a per-perm
    * `transform(transform(...))`: `aggregate` evaluates its input
    * array exactly once, so even when Catalyst's CollapseProject
    * inlines the md5-computing [[minhashPairs]] alias into this
    * expression (it inlines any single-referenced alias), the hashes
    * are computed once per shingle — the nested-transform form
    * re-evaluated them once PER PERM (64× the md5 work; q33 went
    * 43.6s → seconds at sf0.1 from this change).
    */
  def minhashSignature(hashPairs: Column, perms: Int): Column =
    aggregate(hashPairs,
      transform(sequence(lit(0), lit(perms - 1)), _ => lit(Long.MaxValue)),
      (acc, p) => zip_with(acc, sequence(lit(0), lit(perms - 1)),
        (m, i) => least(m, (p("h1") + i * p("h2")) % lit(MinhashPrime))))

  /** Modulus of the MinHash family: the Mersenne prime 2³¹−1. */
  val MinhashPrime: Long = 2147483647L

  /** HTML/markup strip: drop script/style blocks wholesale, drop
    * comments and tags (replaced by a space so adjacent words don't
    * fuse), decode the common entity set (&amp;amp; LAST, per the
    * standard so "&amp;amp;lt;" stays literal), collapse whitespace.
    *
    * Every pattern is deliberately in the RE2-compatible subset that
    * java.util.regex and DuckDB's RE2 interpret identically — inline
    * (?is) flags, non-greedy .*?, explicit whitespace class instead
    * of \s (Java's \s includes \x0B, RE2's does not) — so a SQL
    * oracle replays the strip bit-for-bit (DuckDB side needs the 'g'
    * flag; Spark replaces all matches by default). Both replace()
    * builtins substitute all non-overlapping occurrences left-to-
    * right. Pure codegen column work: no shuffle, streams unchanged.
    */
  def stripMarkup(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script\\b.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // a tag must start with a letter (optionally after / or !) — a
    // bare "<" in prose ("5 < 6") is NOT a tag and must survive
    val noTags = regexp_replace(noComment, "<[!/]?[A-Za-z][^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
    val amp = replace(ent, lit("&amp;"), lit("&"))
    trim(regexp_replace(amp, "[ \\t\\r\\n\\f]+", " "))
  }

  /** Token hash array for [[simhash]] — project this as a column. */
  def tokenHashes(toks: Column): Column =
    transform(toks, s => seededHash(lit(0), s))

  /** SimHash from a PROJECTED token-hash attribute: bit j is set when
    * the +1/-1 vote of all token hashes at bit j is positive. The
    * per-bit loop is unrolled at plan build time (shiftright needs a
    * literal shift); passing an attribute keeps each of the `bits`
    * aggregate scans an O(n) read instead of re-hashing every token.
    */
  def simhash(hashes: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1) * 2 - 1)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}
