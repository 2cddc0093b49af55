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

  /** `n` sessions with terminator decoys: a header that also carries a
    * whole `<ts> sending N bytes to <ip>` (a header, not a terminator),
    * an error line that mentions `sending`, and a real terminator behind
    * a syslog prefix. */
  private def decoyLines(n: Int): Seq[String] = (0 until n).flatMap { i =>
    val ts = f"2015-11-22T${i / 3600 % 24}%02d:${(i / 60) % 60}%02d:${i % 60}%02d"
    val u = s"user${i % 41}"
    val ip = s"IPv4:10.0.${i % 250}.${1 + i % 7}"
    val header = s"$ts AS-REQ $u@X.ORG from $ip for krbtgt/X.ORG@X.ORG"
    val end = s"$ts sending ${100 + i % 900} bytes to $ip"
    i % 3 match {
      case 0 => Seq(s"$header $ts sending 5 bytes to $ip",
        s"$ts ENC-TS Pre-authentication succeeded -- $u@X.ORG", end)
      case 1 => Seq(header,
        s"$ts Failed to decrypt PA-DATA -- $u@X.ORG (error sending reply to $ip)", end)
      case _ => Seq(header, s"Nov 22 15:25:20 kdc1 kdc[4711]: $end")
    }
  }

  test("terminator decoys: 16-512 B plain splits and bz2 splits match the per-file fold") {
    val small = decoyLines(120)
    val want = Sessionizer.sessionize(small.iterator).toList
    assert(want.size == 120, "only the last line of each decoy session terminates it")
    val plain = "target/scratch/aligned_decoy"
    SplitAlignedFiles.write(plain, Seq("decoy.log" -> small))
    for (sz <- Seq(16L, 23L, 40L, 64L, 99L, 128L, 200L, 256L, 384L, 512L))
      assert(SplitAlignedFiles.read(plain, sz) == want, s"plain split=$sz")
    for (sz <- Seq(16L, 512L)) {
      val got = KdcSource.recordsAligned(spark, s"$plain/decoy.log", Some(sz)).collect()
      assert(got.groupBy(identity).view.mapValues(_.length).toMap ==
        want.groupBy(identity).view.mapValues(_.length).toMap, s"recordsAligned split=$sz")
    }

    val big = decoyLines(40000)
    val wantBig = Sessionizer.sessionize(big.iterator).toList
    val bz2 = "target/scratch/aligned_decoy_bz2"
    SplitAlignedFiles.write(bz2, Seq("decoy.log.bz2" -> big))
    assert(new java.io.File(s"$bz2/decoy.log.bz2").length() > 256 * 1024,
      "the .bz2 must span several of the largest splits")
    for (sz <- Seq(37_777L, 64L * 1024, 100_000L, 131_071L, 256L * 1024))
      assert(SplitAlignedFiles.read(bz2, sz) == wantBig, s"bz2 split=$sz")
  }

  test("a line longer than 1 MiB under a split start, as terminator or mid-session, matches the fold") {
    // LogLine.isSending matches anywhere in a line, so a syslog-prefixed
    // terminator may carry any amount of text before `sending`
    val long = "Nov 22 10:00:00 kdc1 kdc[4711]: " +
      new scala.util.Random(11).alphanumeric.take(1536 * 1024).mkString
    val header = "2015-11-22T10:00:00 AS-REQ giant@X.ORG from IPv4:10.9.9.9 for krbtgt/X.ORG@X.ORG"
    val end = "2015-11-22T10:00:00 sending 9 bytes to IPv4:10.9.9.9"
    val (head, tail) = decoyLines(60).splitAt(70) // 30 whole sessions each side
    /** The reads that disagree with the fold when the long line sits in
      * the session `giant`, each as the clients it lost and gained. */
    def mismatches(shape: String, giant: Seq[String]): Seq[String] = {
      val lines = head ++ giant ++ tail
      val want = Sessionizer.sessionize(lines.iterator).toList
      assert(want.size == 61)
      // the second split starts 1 MiB + 64 KiB into the long line
      val lineStart = (head :+ header).map(_.length + 1).sum.toLong
      val split = lineStart + (1L << 20) + (64L << 10)
      assert(split < lineStart + long.length)
      val plain = s"target/scratch/aligned_long_$shape"
      val bz2 = s"target/scratch/aligned_long_${shape}_bz2"
      SplitAlignedFiles.write(plain, Seq("long.log" -> lines))
      SplitAlignedFiles.write(bz2, Seq("long.log.bz2" -> lines))
      val reads = Seq(
        "recordsAligned" -> KdcSource.recordsAligned(spark, s"$plain/long.log", Some(split))
          .collect().toSeq.sortBy(want.indexOf(_)),
        "plain file" -> SplitAlignedFiles.read(plain, split)) ++
        Seq(128L << 10, split).map(sz => s"bz2 split=$sz" -> SplitAlignedFiles.read(bz2, sz))
      reads.collect { case (label, got) if got != want =>
        s"$shape, $label: missing ${want.diff(got).map(_.client)}, " +
          s"extra ${got.diff(want).map(_.client)}"
      }
    }
    val bad = mismatches("terminator", Seq(header, s"$long $end")) ++
      mismatches("mid-session", Seq(header, s"$long Client sent patypes: ENC-TS", end))
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
