package graft.kdc

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Raw Heimdal KDC logs → `Dataset[KdcLogRecord]`.
  *
  * The reference reads logs through a custom Hadoop `RecordReader` that
  * seeks to split starts and reads one record past the split end
  * (`KDCLogRecordReader.java:162-232`). This repo has the same reader,
  * [[KdcSessionReader]]: it delivers the lines a split owns, whole
  * sessions only, and [[Sessionizer.sessionize]] folds them. That pair
  * is the only way the engine turns log bytes into records, and the `kdclog`
  * DataSourceV2 table ([[graft.kdc.v2.KdcLogTableProvider]], batch and
  * stream) is the one place that plans its splits and builds its rows;
  * [[recordsAligned]] is a typed batch read of that table.
  *
  * Scale posture: no shuffle. Parallelism follows the splits, so a
  * single multi-GB log fans out across tasks, and so does a
  * splittable-compressed (.bz2) one; a gzip file is one split. A
  * fleet of many small rotated logs is one split per file, packed
  * into about one task per core.
  */
object KdcSource {

  /** The `kdclog` batch read of `path` (a file, directory or glob) as
    * typed records. Layout-discovered `k=v` partition columns are
    * projected away, so the schema is [[KdcLogRecord]]'s on every
    * layout. An empty directory reads as empty; a path or glob that
    * matches nothing fails with `FileNotFoundException` when it runs.
    * `maxSplitBytes` is the table's reader option of that name; tests
    * use it to force split boundaries into awkward byte positions. */
  def recordsAligned(spark: SparkSession, path: String,
                     maxSplitBytes: Option[Long] = None): Dataset[KdcLogRecord] = {
    import spark.implicits._
    val reader = spark.read.format("kdclog")
    maxSplitBytes.foreach(b => reader.option("maxSplitBytes", b))
    reader.load(path).select(graft.kdc.v2.KdcLogTable.schema.fieldNames.map(col): _*)
      .as[KdcLogRecord]
  }

  /** Convenience for tests / small inputs: sessionize pre-collected lines
    * of a single logical file, distributed. */
  def fromLines(spark: SparkSession, lines: Seq[String]): Dataset[KdcLogRecord] = {
    import spark.implicits._
    // Single logical stream → one partition so ordering is preserved.
    spark.createDataset(lines).coalesce(1)
      .mapPartitions(Sessionizer.sessionize)
  }
}
