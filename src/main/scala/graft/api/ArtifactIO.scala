package graft.api

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** The one persistence path of every prepared artifact: each
  * `save` is a call to [[ArtifactIO.save]] and each `load*` a call to
  * [[ArtifactIO.load]], so the on-disk layout, the commit protocol and
  * the load-time checks live here and nowhere else.
  *
  * Layout under `path`: one parquet subdirectory per artifact frame
  * (named by the artifact's own field names) plus `meta/` — a
  * two-column (k, v) string table carrying the artifact KIND, every
  * scalar of its configuration and, for artifacts that version their
  * format, an `fmt` scalar. Strings survive any schema evolution of
  * the scalar set; numeric scalars round-trip exactly
  * ({Long,Int}.toString is lossless, and `java.lang.Double.toString`
  * emits the shortest representation that parses back to the same
  * IEEE bits).
  *
  * Commit protocol: `save` writes the complete artifact, meta last,
  * into a sibling staging directory (`<path>.staging-<uuid>`); nothing
  * at `path` changes until that succeeds. It then renames any old
  * `path` aside, renames the staging directory in, and deletes the
  * old one; a failed write deletes the staging directory and leaves
  * the old artifact loading intact. The rename is atomic on HDFS and
  * the local file system; on an object store whose rename copies, a
  * crash mid-commit can leave `path` missing with the old artifact
  * still at `<path>.old-<uuid>`. Because frames are written before the
  * old artifact is touched, `load(path).absorb(inc).save(path)` is
  * safe even though the loaded frames read `path` lazily — but after
  * that save the in-memory artifact still points at the replaced
  * files, so reload it ([[ArtifactCache.orPrepare]] already returns
  * the reloaded artifact).
  *
  * The kind tag is the SnapshotStore fail-fast discipline applied to
  * artifacts at rest: loading a path that holds a DIFFERENT artifact
  * type, an older format, or a meta table missing an expected scalar
  * fails loudly at load, never by reconstructing a
  * structurally-plausible but semantically-wrong index.
  * (Parameter-compatibility beyond kind — e.g. absorbing into a
  * loaded index with mismatched columns — is enforced by the
  * artifact's own absorb contract, which stores its parameters IN the
  * artifact.)
  */
private[graft] object ArtifactIO {

  /** One frame of an artifact, written to `<path>/<name>`;
    * `partitionBy` lists its partition columns (empty for every frame
    * but scd2's month-partitioned history).
    */
  final case class Frame(name: String, df: DataFrame, partitionBy: Seq[String] = Nil)

  /** A loaded artifact's meta: its frames by name (read lazily from
    * parquet) and its scalars.
    */
  final class Loaded private[ArtifactIO] (spark: SparkSession, path: String,
                                          val scalars: Map[String, String]) {
    def frame(name: String): DataFrame = spark.read.parquet(s"$path/$name")

    /** A required scalar; a missing key is a corrupt artifact. */
    def apply(key: String): String =
      scalars.getOrElse(key,
        throw new IllegalArgumentException(
          s"load: artifact meta at $path is missing scalar '$key' — " +
            "corrupt or truncated artifact"))
  }

  /** Write `frames` and the meta table (`kind`, `scalars`, and `fmt`
    * when the artifact versions its format) as the artifact at
    * `path`, replacing any artifact there only once the whole new one
    * is written.
    */
  def save(path: String, kind: String, frames: Seq[Frame],
           scalars: Seq[(String, String)], fmt: Option[Int] = None): Unit = {
    val spark = frames.head.df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id = UUID.randomUUID()
    val staging = target.suffix(s".staging-$id")
    try {
      frames.foreach(f =>
        f.df.write.partitionBy(f.partitionBy: _*).parquet(s"$staging/${f.name}"))
      val meta = ("kind" -> kind) +: (scalars ++ fmt.map("fmt" -> _.toString))
      spark.createDataFrame(meta).toDF("k", "v")
        .coalesce(1).write.parquet(s"$staging/meta")
    } catch {
      case e: Throwable => fs.delete(staging, true); throw e
    }
    commit(fs, staging, target, target.suffix(s".old-$id"))
  }

  /** Swap the complete `staging` directory in at `target`. */
  private def commit(fs: FileSystem, staging: Path, target: Path, aside: Path): Unit = {
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, aside)) {
      fs.delete(staging, true)
      throw new IOException(s"save: could not move the old artifact at $target aside")
    }
    if (!fs.rename(staging, target)) {
      if (hadOld) fs.rename(aside, target)
      fs.delete(staging, true)
      throw new IOException(s"save: could not rename $staging to $target")
    }
    if (hadOld) fs.delete(aside, true)
  }

  /** Open the artifact of `kind` at `path`. Fails fast on a kind
    * mismatch, an unreadable meta dir, or — for an artifact that
    * versions its format — a missing or different `fmt`.
    */
  def load(spark: SparkSession, path: String, kind: String,
           fmt: Option[Int] = None): Loaded = {
    val m = readMeta(spark, path, kind)
    fmt.foreach { v =>
      val found = m.getOrElse("fmt", "<missing>")
      require(found == v.toString,
        s"load: $kind artifact at $path has format '$found', expected '$v' — " +
          "re-prepare it with this engine")
    }
    new Loaded(spark, path, m)
  }

  /** True iff `path` holds an artifact of `kind`; false iff it holds
    * no meta table. A different kind fails as in [[load]].
    */
  def exists(spark: SparkSession, path: String, kind: String): Boolean =
    try { readMeta(spark, path, kind); true }
    catch { case _: AnalysisException => false }

  private def readMeta(spark: SparkSession, path: String, kind: String): Map[String, String] = {
    val m = spark.read.parquet(s"$path/meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val found = m.getOrElse("kind", "<missing>")
    require(found == kind,
      s"load: artifact at $path is kind '$found', expected '$kind' — " +
        "refusing to reconstruct a different index type from its frames")
    m
  }
}
