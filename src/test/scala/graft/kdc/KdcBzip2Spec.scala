package graft.kdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Splittable-bzip2 coverage for the split-aligned session reader —
  * the equivalent of the reference's `KDCLogRecordReader.java:179-198`
  * splittable-codec handling. A single multi-block .bz2 log is read
  * with small max splits, so multiple tasks decode disjoint compressed
  * blocks of ONE file, and the probe-aligned reader must hand every
  * session to exactly one of them. */
class KdcBzip2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // sessions of VARYING line counts (1-5 extra lines) so session
  // boundaries drift against block/split boundaries; any loss,
  // duplication, or reorder changes the result multiset
  private lazy val lines: Seq[String] = (0 until 40000).flatMap { i =>
    val ts = f"2015-11-22T${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d"
    val user = s"user${i % 97}"
    val extras = (0 until i % 4).map(k =>
      s"$ts Client sent patypes: ENC-TS, REQ-ENC-PA-REP ($k)")
    (s"$ts AS-REQ $user@X.ORG from IPv4:10.0.0.${i % 250} for krbtgt/X.ORG@X.ORG" +:
      extras) ++ Seq(
      s"$ts ENC-TS Pre-authentication succeeded -- $user@X.ORG",
      s"$ts sending ${100 + i % 900} bytes to IPv4:10.0.0.${i % 250}")
  }

  private lazy val bz2File: String = {
    val dir = "target/scratch/bz2"
    new java.io.File(dir).mkdirs()
    val conf = spark.sparkContext.hadoopConfiguration
    val codec = new org.apache.hadoop.io.compress.BZip2Codec
    codec.setConf(conf)
    val out = codec.createOutputStream(
      new java.io.FileOutputStream(s"$dir/big.log.bz2"))
    out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    s"$dir/big.log.bz2"
  }

  test("aligned (zero-shuffle) path splits bz2 and matches the single-stream fold") {
    val file = bz2File
    val expected = Sessionizer.sessionize(lines.iterator).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(new java.io.File(file).length() > 256 * 1024,
      "fixture must span multiple 256 KiB splits for the claim to mean anything")
    // several adversarial split sizes: smaller than a bzip2 block
    // (many splits collapse to empty line sets), about one block, and
    // a couple of blocks — all must agree exactly with the in-memory
    // sessionization
    for (maxSplit <- Seq(37_777L, 64L * 1024, 100_000L, 131_071L, 256L * 1024)) {
      val ds = KdcSource.recordsAligned(spark, file, Some(maxSplit))
      assert(ds.rdd.getNumPartitions >= 2,
        s"maxSplit=$maxSplit produced ${ds.rdd.getNumPartitions} split(s) — file not actually split")
      val got = ds.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expected, s"maxSplit=$maxSplit mismatch")
    }
  }
}
