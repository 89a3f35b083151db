package graft.api

import org.apache.spark.sql.SparkSession

/** Caching wrapper for the Prepared* builders — the reference's
  * roadmap item (GrafBlutwurst/Anglerfish README.md:26 "Final
  * Tagless Interfaces for: … Caching wrapping"), re-expressed
  * Spark-first: the cache IS the durable [[ArtifactIO]] layout.
  * `orPrepare` runs the expensive prepare exactly once per path —
  * every later call (same session or a fresh one) loads the
  * persisted artifact instead — which is the prepare-once /
  * absorb-increments / serve-for-weeks loop with the "did someone
  * already build this" check folded in. The by-name prepare and the
  * function-valued load/save are the tagless-final reading of the
  * roadmap item in plain Scala: effects stay unevaluated until the
  * cache decides which one runs.
  *
  * Works over every one of the engine's durable artifacts because
  * they all share the ArtifactIO contract (kind-tagged meta +
  * parquet frames, `load(save(prepare(A))) ≡ prepare(A)` — spec'd
  * per artifact in PersistenceSpec/AbsorbSpec):
  *
  * {{{
  * val idx = ArtifactCache.orPrepare(spark, path, "buckets")(
  *   Ops.loadBuckets)(Ops.prepareBuckets(corpus, "bkt"))(_.save(_))
  * }}}
  */
object ArtifactCache {

  /** True iff `path` already holds a readable artifact of `kind`;
    * false iff nothing is there. A DIFFERENT kind at the path FAILS
    * instead of returning false — silently re-preparing over someone
    * else's artifact would destroy it (the ArtifactIO fail-fast
    * discipline applied to the cache decision itself).
    */
  def hasArtifact(spark: SparkSession, path: String, kind: String): Boolean =
    ArtifactIO.exists(spark, path, kind)

  /** Load the artifact at `path` if one of `kind` is already there;
    * otherwise run `prepare`, `save` it to `path`, and LOAD IT BACK —
    * the returned artifact is always the durable one (source-backed
    * frames, `reliable = true`), and prepare-then-load ≡ load is the
    * round-trip equality every artifact's PersistenceSpec pins.
    */
  def orPrepare[A](spark: SparkSession, path: String, kind: String)(
      load: (SparkSession, String) => A)(
      prepare: => A)(
      save: (A, String) => Unit): A = {
    if (!hasArtifact(spark, path, kind)) save(prepare, path)
    load(spark, path)
  }
}
