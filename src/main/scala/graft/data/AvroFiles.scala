package graft.data

import java.io.IOException
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Avro **container file** source/sink — the file-level completion of
  * the datum-level [[AvroBinary]] codec: one Avro Object Container
  * File per Spark partition on write; on read, large files split into
  * multiple partitions on Avro sync-marker boundaries (the format
  * exists to be block-splittable — a directory of a few huge files
  * reads with real parallelism, not one task per file). Everything is
  * streamed through the executors (no whole-file buffering, no
  * driver-side data).
  *
  * The read path passes the expected schema as the Avro *reader*
  * schema, so standard Avro schema resolution applies: files written
  * with an older writer schema resolve against a newer reader schema
  * (added fields take their defaults, removed fields are skipped) —
  * the schema-evolution behavior the reference's schema machinery
  * (AvroData.scala / AvroGenericInteropFAlgebras.scala) exists to
  * support.
  *
  * Paths go through the Hadoop FileSystem API with the SESSION's
  * Hadoop configuration shipped to every task (`spark.hadoop.*`
  * settings and object-store credentials apply executor-side), so
  * `file:/`, `hdfs:/` and any configured object store scheme work
  * unchanged. Writes go to an attempt-unique temp name and rename
  * into place on task success, so a task retry or speculative
  * duplicate never leaves a partially-written part file visible
  * (either attempt's rename yields one complete file). The parts are
  * written into a sibling staging directory and moved into the target
  * only once the whole write job has succeeded, so a frame that reads
  * the directory it is written to keeps its input, and a failed write
  * leaves the previous parts in place.
  */
object AvroFiles {

  /** The driver's Hadoop conf as a serializable snapshot (the public
    * equivalent of Spark's internal SerializableConfiguration).
    */
  private def confEntries(hc: Configuration): Array[(String, String)] =
    hc.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray

  private def rebuildConf(entries: Array[(String, String)]): Configuration = {
    val c = new Configuration(true)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Write `df` as Avro container files under `dir`
    * (`part-NNNNN.avro`, one per non-empty partition), replacing every
    * part already there. Returns the writer schema JSON (derive-once,
    * reuse for [[read]]).
    */
  def write(df: DataFrame, dir: String, recordName: String = "record"): String = {
    val avroJson = AvroSchemas.toAvroSchema(df.schema, recordName).toString
    writeAs(df, dir, avroJson)
    avroJson
  }

  /** Write against a caller-supplied writer schema (enum/fixed/union
    * targets — see [[AvroBinary.encodeAs]]). `syncInterval` overrides
    * the approximate bytes-per-block (smaller ⇒ more sync markers ⇒
    * finer read splits).
    */
  def writeAs(df: DataFrame, dir: String, avroSchemaJson: String,
              syncInterval: Option[Int] = None): Unit = {
    val st = df.schema
    val hc = df.sparkSession.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val dirFs = dirPath.getFileSystem(hc)
    // job output goes to a sibling staging directory, so `df` may read
    // `dir` itself: nothing under `dir` changes until the job succeeds
    val staging = dirPath.suffix(s".staging-${UUID.randomUUID()}")
    val stagingDir = staging.toString
    val entries = confEntries(hc)
    val counts = df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val conf = rebuildConf(entries)
        val schema = new Schema.Parser().parse(avroSchemaJson)
        val finalPath = new Path(stagingDir, f"part-$i%05d.avro")
        val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
        val tmpPath = new Path(stagingDir, f".part-$i%05d-$attempt%d.avro.tmp")
        val fs = finalPath.getFileSystem(conf)
        val out = fs.create(tmpPath, true)
        val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        syncInterval.foreach(writer.setSyncInterval)
        writer.create(schema, out)
        var n = 0L
        try rows.foreach { row =>
          writer.append(AvroBinary.rowToRecord(row, st, schema)); n += 1
        } finally writer.close()
        // task commit: move the complete temp file in; if a concurrent
        // speculative attempt won the rename race, drop this attempt's
        // output (both are complete files)
        if (fs.exists(finalPath)) fs.delete(finalPath, false)
        if (!fs.rename(tmpPath, finalPath)) fs.delete(tmpPath, false)
        Iterator.single(n)
      }
    }
    try counts.count() // materialize the write
    catch { case e: Throwable => dirFs.delete(staging, true); throw e }
    // job commit: whole-directory-overwrite semantics require clearing
    // EVERY previous part, not just same-named ones — a re-write with
    // fewer partitions would otherwise leave stale part files that
    // read() silently mixes into the new data. Orphaned temp files
    // from killed attempts of earlier jobs go too. Other files in
    // `dir` stay.
    dirFs.mkdirs(dirPath)
    (glob(dirFs, new Path(dir, "part-*.avro")) ++ glob(dirFs, new Path(dir, ".part-*.avro.tmp")))
      .foreach(s => dirFs.delete(s.getPath, false))
    glob(dirFs, new Path(staging, "part-*.avro")).foreach { s =>
      val to = new Path(dirPath, s.getPath.getName)
      if (!dirFs.rename(s.getPath, to))
        throw new IOException(s"writeAs: could not move ${s.getPath} to $to")
    }
    dirFs.delete(staging, true)
    ()
  }

  private def glob(fs: FileSystem, pattern: Path): Array[FileStatus] =
    Option(fs.globStatus(pattern)).getOrElse(Array.empty)

  /** Read Avro container files under `dir` into a typed DataFrame.
    * `avroSchemaJson` is the *reader* schema; each file's own writer
    * schema (from its header) is resolved against it per standard
    * Avro schema-resolution rules. Files larger than `maxSplitBytes`
    * are read as multiple byte-range partitions aligned to Avro sync
    * markers: each task syncs to the first block at/after its range
    * start and stops past its range end — together the splits cover
    * every block exactly once (the standard Avro split protocol).
    */
  def read(spark: SparkSession, dir: String, avroSchemaJson: String,
           maxSplitBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(maxSplitBytes > 0, s"maxSplitBytes must be positive, got $maxSplitBytes")
    val readerSchema = AvroSchemas.parse(avroSchemaJson)
    val st = AvroSchemas.toSparkType(readerSchema).asInstanceOf[StructType]
    val hc = spark.sparkContext.hadoopConfiguration
    val globPath = new Path(dir, "*.avro")
    val fs = globPath.getFileSystem(hc)
    val statuses = glob(fs, globPath).toSeq
    if (statuses.isEmpty)
      throw new IllegalArgumentException(s"no .avro container files found under $dir")
    val splits: Seq[(String, Long, Long)] = statuses.sortBy(_.getPath.toString).flatMap { s =>
      val len = s.getLen
      val n = math.max(1L, (len + maxSplitBytes - 1) / maxSplitBytes)
      (0L until n).map(k => (s.getPath.toString, k * maxSplitBytes, math.min((k + 1) * maxSplitBytes, len)))
    }
    val entries = confEntries(hc)
    // avro Schema is not serializable: ship the JSON, re-parse per task
    val schemaJson = readerSchema.toString
    val target = st
    val rows = spark.sparkContext
      .parallelize(splits, splits.length)
      .flatMap { case (p, start, end) =>
        val conf = rebuildConf(entries)
        val parsed = new Schema.Parser().parse(schemaJson)
        val path = new Path(p)
        val pfs = path.getFileSystem(conf)
        val len = pfs.getFileStatus(path).getLen
        val in = pfs.open(path)
        val seekable = new SeekableInput {
          def length(): Long = len
          def seek(pos: Long): Unit = in.seek(pos)
          def tell(): Long = in.getPos
          def read(b: Array[Byte], off: Int, l: Int): Int = in.read(b, off, l)
          def close(): Unit = in.close()
        }
        // expected = reader schema; DataFileReader installs the file's
        // writer schema as the actual → avro resolves between them
        val reader = new DataFileReader(seekable, new GenericDatumReader[GenericRecord](parsed))
        reader.sync(start) // first sync marker at/after the range start
        // close exactly once, EVEN when the iterator is never drained
        // (limit/take/failed task would otherwise leak the FS stream):
        // exhaustion closes eagerly, task completion closes the rest
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = {
            val h = !closed && reader.hasNext && !reader.pastSync(end)
            if (!h) closeOnce()
            h
          }
          def next(): org.apache.spark.sql.Row =
            AvroBinary.recordToRow(reader.next(), target, parsed)
        }
      }
    spark.createDataFrame(rows, st)
  }
}
