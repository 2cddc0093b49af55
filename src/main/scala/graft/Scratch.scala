package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of scratch space: the cwd's `target/scratch`.
  *
  * A per-invocation dir is `target/scratch/<prefix>_<applicationId>_<n>`,
  * absolute, with one counter for the whole JVM. Its name holds the RAW
  * applicationId, because the sweeps select a run's dirs by
  * `getName.contains(appId)`: [[sweep]] here, and the benchmark
  * harness's own. Every path is the absolute local form: a relative
  * `path` option given to `saveAsTable` resolves against the warehouse
  * instead, where no sweep or drop finds it. */
object Scratch {

  private val root = new File("target/scratch").getAbsoluteFile
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh per-invocation dir path (not created): unique per call,
    * so concurrent callers in one session never overwrite a dir
    * another caller's lazy result still reads. */
  def dir(s: SparkSession, prefix: String): String =
    location(s"${prefix}_${s.sparkContext.applicationId}_${seq.incrementAndGet()}")

  /** The fixed-name location `target/scratch/<name>`. */
  def location(name: String): String = new File(root, name).getPath

  /** Delete `path` and everything under it; absent is fine, a failed
    * delete throws. */
  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(path))

  /** Delete every scratch dir of `s`'s application except the names in
    * `keep` (dirs that stay alive between queries by design). Run once
    * a query's results are fully materialized: a driver row never reads
    * another row's scratch. Only this application's dirs go: the
    * fixed-name `bucketed_*` tables and any other process's scratch on
    * the same box survive. */
  def sweep(s: SparkSession, keep: Set[String]): Unit = {
    val appId = s.sparkContext.applicationId
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.contains(appId) && !keep(f.getName))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Write `df` as ONE parquet file at `dest` with modification time
    * `mtimeMs`: a `coalesce(1)` write into a temp sibling (its `_`
    * prefix hides it from file listings), the one part file moved to
    * `dest`, the temp dir removed. The file sources of the streaming
    * rows batch files in mtime order, so the pin uses the throwing NIO
    * call and is read back: a file whose mtime did not stick would be
    * batched out of order without any error. */
  def writeOneFile(df: DataFrame, dest: String, mtimeMs: Long): Unit = {
    val out = new File(dest)
    val tmp = new File(out.getParentFile, s"_${out.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    Files.move(part.toPath, out.toPath, StandardCopyOption.REPLACE_EXISTING)
    delete(tmp.getPath)
    Files.setLastModifiedTime(out.toPath,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    if (out.lastModified() != mtimeMs) sys.error(s"cannot pin the mtime of $out")
  }
}
