package graft.kdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial split-alignment tests for [[KdcSessionInputFormat]]:
  * force tiny splits so boundaries land inside sessions, inside
  * terminator lines, and at exact session starts, then demand exact
  * agreement with the single-stream fold. */
class KdcAlignedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new scala.util.Random(5)
  /** ~600 sessions with varied shapes (AS ok / AS fail / TGS /
    * referral / noise), so 2 KB splits cut everywhere. */
  private lazy val lines: Seq[String] = (0 until 600).flatMap { i =>
    val u = s"user${i % 37}"
    val ts = f"2015-11-${1 + i % 28}%02dT${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
    val header =
      if (i % 3 == 0) s"$ts AS-REQ $u@EXAMPLE.ORG from IPv4:10.0.0.${i % 255} for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG"
      else s"$ts TGS-REQ $u@EXAMPLE.ORG from IPv4:10.0.0.${i % 255} for host/n${i % 13}.example.org@EXAMPLE.ORG"
    val mid = rnd.nextInt(4) match {
      case 0 => Seq(s"$ts ENC-TS Pre-authentication succeeded -- $u@EXAMPLE.ORG")
      case 1 => Seq(s"$ts Failed to decrypt PA-DATA -- $u@EXAMPLE.ORG")
      case 2 => Seq(s"$ts Client sent patypes: ENC-TS", s"$ts Looking for ENC-TS pa-data -- $u@EXAMPLE.ORG")
      case _ => Seq.empty
    }
    (header +: mid) :+ s"$ts sending ${100 + i % 900} bytes to IPv4:10.0.0.${i % 255}"
  }

  private lazy val dir: String = {
    val d = "target/scratch/aligned"
    new java.io.File(d).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/big.log"), lines.mkString("\n").getBytes)
    d
  }

  test("tiny forced splits reproduce the single-stream fold exactly") {
    val expected = Sessionizer.sessionize(lines.iterator).toList
    val aligned = KdcSource.recordsAligned(spark, s"$dir/big.log",
      maxSplitBytes = Some(2048)).collect()
    assert(aligned.length == expected.length,
      s"aligned=${aligned.length} expected=${expected.length}")
    // order across splits is partition order; compare as multisets
    assert(aligned.groupBy(identity).view.mapValues(_.length).toMap ==
      expected.groupBy(identity).view.mapValues(_.length).toMap)
  }

  test("multiple split sizes all agree (boundaries land everywhere)") {
    val expectedCount = Sessionizer.sessionize(lines.iterator).size
    for (sz <- Seq(777L, 1500L, 4096L, 65536L)) {
      val n = KdcSource.recordsAligned(spark, s"$dir/big.log",
        maxSplitBytes = Some(sz)).count()
      assert(n == expectedCount, s"splitSize=$sz: $n != $expectedCount")
    }
  }

  test("gzip falls back to one split per file and still agrees") {
    val gz = s"$dir/gz"
    new java.io.File(gz).mkdirs()
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$gz/big.log.gz"))
    out.write(lines.mkString("\n").getBytes); out.close()
    val n = KdcSource.recordsAligned(spark, gz, maxSplitBytes = Some(2048)).count()
    assert(n == Sessionizer.sessionize(lines.iterator).size)
  }

  test("aligned path agrees with the shuffle-by-file path end to end") {
    // the by-file reference is the one file's lines folded in order,
    // which is what the shuffle-by-file parse computed
    val a = KdcQueries.userAuthStats(
      KdcSource.recordsAligned(spark, s"$dir/big.log", Some(4096))).collect()
    val b = KdcQueries.userAuthStats(KdcSource.fromLines(spark, lines)).collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }
}
