package graft.kdc

import org.apache.spark.sql.{Dataset, SparkSession}

/** Raw Heimdal KDC logs → `Dataset[KdcLogRecord]`.
  *
  * The reference reads logs through a custom Hadoop `RecordReader` that
  * seeks to split starts and reads one record past the split end
  * (`KDCLogRecordReader.java:162-232`). This repo has the same reader,
  * [[KdcSessionInputFormat]]: every record it delivers is one complete
  * session, and [[Sessionizer.sessionize]] folds it. That pair is the
  * only way the engine turns log bytes into records; it has two entry
  * APIs, [[recordsAligned]] here and the `kdclog` DataSourceV2 table
  * ([[graft.kdc.v2.KdcLogTableProvider]], batch and stream).
  *
  * Scale posture: no shuffle. Parallelism = number of splits, so a
  * single multi-GB log fans out across tasks, and so does a
  * splittable-compressed (.bz2) one; a gzip file is one split. A
  * fleet of many small rotated logs is one split per file.
  */
object KdcSource {

  /** Split-aligned session reading via [[KdcSessionInputFormat]]:
    * each record arriving from the input format is one complete
    * session blob, folded independently. `maxSplitBytes` exists for
    * tests that force split boundaries into awkward byte positions. */
  def recordsAligned(spark: SparkSession, path: String,
                     maxSplitBytes: Option[Long] = None): Dataset[KdcLogRecord] = {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    maxSplitBytes.foreach(b =>
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize", b))
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path, classOf[KdcSessionInputFormat],
      classOf[org.apache.hadoop.io.LongWritable],
      classOf[org.apache.hadoop.io.Text], conf)
    spark.createDataset(rdd.map(_._2.toString))
      .flatMap(blob => Sessionizer.sessionize(blob.linesIterator))
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
