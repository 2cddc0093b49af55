package graft.kdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-checked kdc_parse_* entries to their hand-computed
  * expected outputs (the same values the VALUES oracles assert), so a
  * fixture or sessionizer regression fails here before the driver gate.
  */
class KdcParseQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // the streaming golden rows bucket by day in the SESSION timezone
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("kdc_parse_user_stats matches hand-computed golden rows") {
    val got = KdcParseQueries.userStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("alice", "2015-11-22T17:00:00", "2015-11-23T07:00:00", 2L),
      ("cg2v", "2015-11-22T15:25:20", "2015-11-22T16:10:00", 2L),
      ("plain", "2015-11-23T08:00:00", "2015-11-23T08:00:00", 1L),
      ("visitor", "2015-11-23T09:00:00", "2015-11-23T09:00:00", 1L)))
  }

  test("realm scoping excludes the foreign-realm success") {
    val scoped = KdcParseQueries.userStatsScoped(spark, "").collect()
      .map(_.getString(0))
    assert(!scoped.contains("visitor") && scoped.toSeq == Seq("alice", "cg2v", "plain"))
  }

  test("kdc_parse_service_stats (256-byte aligned splits) matches golden") {
    val got = KdcParseQueries.serviceStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("cifs/share.example.org", "2015-11-22T19:40:00", "2015-11-22T19:40:00", 1L),
      ("host/www.example.org", "2015-11-22T19:00:00", "2015-11-22T19:05:00", 2L),
      ("imap/mail.example.org", "2015-11-22T19:10:00", "2015-11-22T19:10:00", 1L)))
  }

  test("kdc_parse_errors covers all six classes plus MISSING_PREAUTH") {
    val got = KdcParseQueries.errorStats(spark, "").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      "BAD_AUTHENTICATION", "BAD_NAME", "BAD_PARAMETERS", "BAD_PASSWORD",
      "MISSING_PREAUTH", "UNKNOWN", "UNUSABLE_NAME").map(_ -> 1L))
  }

  test("streaming user auth counts match golden, twice (rerun safety)") {
    def run() = KdcParseQueries.userStatsStreaming(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = Seq(
      ("2015-11-22", "alice", 1L), ("2015-11-22", "cg2v", 2L),
      ("2015-11-23", "alice", 1L), ("2015-11-23", "plain", 1L),
      ("2015-11-23", "visitor", 1L))
    assert(run().toSeq == expected)
    // Bench times every query twice; the memory-sink query name must
    // be reusable after the first run terminates
    assert(run().toSeq == expected)
  }

  test("streaming TGS service stats converge to the batch answer, twice") {
    def run() = KdcParseQueries.serviceStatsStreaming(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val batch = KdcParseQueries.serviceStats(spark, "").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(run().toSeq == batch.toSeq)
    assert(run().toSeq == batch.toSeq) // memory sink reusable (Bench runs twice)
  }

  test("KdcMain --report modes emit the expected TSVs") {
    val dir = KdcParseQueries.fixtureDir()
    def run(report: String): Seq[String] = {
      val out = s"target/scratch/kdcmain_$report"
      KdcMain.main(Array(dir, out, s"--report=$report"))
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.flatMap(f =>
        scala.io.Source.fromFile(f).getLines()).toSeq.sorted
    }
    assert(run("service") == Seq(
      "cifs/share.example.org\t2015-11-22T19:40:00\t2015-11-22T19:40:00\t1",
      "host/www.example.org\t2015-11-22T19:00:00\t2015-11-22T19:05:00\t2",
      "imap/mail.example.org\t2015-11-22T19:10:00\t2015-11-22T19:10:00\t1"))
    assert(run("errors").map(_.split("\t")(0)).toSet == Set(
      "BAD_AUTHENTICATION", "BAD_NAME", "BAD_PARAMETERS", "BAD_PASSWORD",
      "MISSING_PREAUTH", "UNKNOWN", "UNUSABLE_NAME"))
    assert(run("user-enctypes").exists(_.startsWith("plain\tUNK\t1")))
    // --v2 routes the same report through the DataSourceV2 table with a
    // scoped realm pushed into the parse: the foreign-realm visitor
    // must drop, everything else bit-identical to the scoped oracle
    val outV2 = "target/scratch/kdcmain_user_v2"
    KdcMain.main(Array(dir, outV2, "SQUILL.DEMENTIA.ORG", "--v2"))
    val v2Lines = new java.io.File(outV2).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq.sorted
    assert(v2Lines == Seq(
      "alice\t2015-11-22T17:00:00\t2015-11-23T07:00:00\t2",
      "cg2v\t2015-11-22T15:25:20\t2015-11-22T16:10:00\t2",
      "plain\t2015-11-23T08:00:00\t2015-11-23T08:00:00\t1"))
  }

  test("aligned and shuffle-by-file paths agree on the fixture") {
    // the by-file reference: each fixture file's lines folded alone
    val dir = KdcParseQueries.fixtureDir()
    val a = Seq(KdcParseQueries.host1Log, KdcParseQueries.host2Log)
      .flatMap(f => Sessionizer.sessionize(f.linesIterator)).toSet
    val b = KdcSource.recordsAligned(spark, dir, Some(256L)).collect().toSet
    // 10 AS sessions (host1, incl. the foreign-realm visitor) + 8 TGS
    // sessions (host2; trailing partial dropped), all field-distinct → 18.
    assert(a == b && a.size == 18)
  }

  /** Every split-aligned entry API — the Dataset reader at 256 B, 2 KiB
    * and default splits, the `kdclog` batch read and the `kdclog`
    * stream — returns exactly the records of [[Sessionizer.sessionize]]
    * run on each file alone. Both files of the dangling dir end in a
    * header and an error line with no `sending`: a parse that carried
    * state across the file boundary, in either file order, would hand
    * that error to the other file's clean first session. */
  test("every parse entry agrees with per-file Sessionizer.sessionize") {
    import spark.implicits._
    val realm = "EXAMPLE.ORG"
    val ts = "2015-11-22T10:00:00"
    val dangling = Seq(
      s"$ts AS-REQ dangling@$realm from IPv4:10.0.0.9 for krbtgt/$realm@$realm",
      s"$ts Failed to decrypt PA-DATA -- dangling@$realm")
    val danglingA = (Seq(
      s"$ts AS-REQ cg2v@$realm from IPv4:127.0.0.1 for krbtgt/$realm@$realm",
      s"$ts ENC-TS Pre-authentication succeeded -- cg2v@$realm",
      s"$ts sending 752 bytes to IPv4:127.0.0.1") ++ dangling).mkString("", "\n", "\n")
    val danglingB = (Seq(
      s"$ts TGS-REQ eve@$realm from IPv4:10.0.0.5 for host/www.example.org@$realm",
      s"$ts sending 600 bytes to IPv4:10.0.0.5") ++ dangling).mkString("", "\n", "\n")
    val danglingDir = new java.io.File("target/scratch/kdc_dangling")
    danglingDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(danglingDir, "a.log").toPath,
      danglingA.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(danglingDir, "b.log").toPath,
      danglingB.getBytes("UTF-8"))

    def bag(rs: Seq[KdcLogRecord]): Map[KdcLogRecord, Int] =
      rs.groupBy(identity).view.mapValues(_.size).toMap
    def entries(dir: String): Seq[(String, Seq[KdcLogRecord])] = {
      val stream = graft.streaming.StreamingPipeline.runOneShot(
        spark.readStream.format("kdclog").option("maxFilesPerTrigger", "1")
          .load(dir), "kdc_entry_agreement", "append", Seq("ts"))
      Seq(
        "recordsAligned 256 B" -> KdcSource.recordsAligned(spark, dir, Some(256L)).collect().toSeq,
        "recordsAligned 2 KiB" -> KdcSource.recordsAligned(spark, dir, Some(2048L)).collect().toSeq,
        "recordsAligned default" -> KdcSource.recordsAligned(spark, dir).collect().toSeq,
        "kdclog batch" -> spark.read.format("kdclog").load(dir).as[KdcLogRecord].collect().toSeq,
        "kdclog stream" -> stream.as[KdcLogRecord].collect().toSeq)
    }
    for ((dir, files, n) <- Seq(
        (KdcParseQueries.fixtureDir(),
          Seq(KdcParseQueries.host1Log, KdcParseQueries.host2Log), 18),
        (danglingDir.getPath, Seq(danglingA, danglingB), 2))) {
      val want = files.flatMap(f => Sessionizer.sessionize(f.linesIterator))
      assert(want.size == n)
      for ((entry, got) <- entries(dir))
        assert(bag(got) == bag(want), s"$entry diverged on $dir")
    }
    // the per-file reference itself: both first sessions are clean
    val clean = Seq(danglingA, danglingB).flatMap(f => Sessionizer.sessionize(f.linesIterator))
    assert(clean.map(r => (r.client, r.success, r.error)) ==
      Seq(("cg2v", true, null), ("eve", true, null)))
  }

  private def assertRejected(flags: String*)(why: String): Unit = {
    val out = new java.io.File(s"target/scratch/kdcmain_rejected_${System.nanoTime()}")
    val e = intercept[IllegalArgumentException] {
      KdcMain.main(Array(KdcParseQueries.fixtureDir(), out.getPath) ++ flags)
    }
    val (reason, usage) = e.getMessage.splitAt(e.getMessage.indexOf('\n'))
    assert(reason == why)
    assert(usage.contains("usage: KdcMain") && !usage.contains("--aligned"), usage)
    assert(!out.exists(), s"a rejected run created $out")
  }

  test("KdcMain rejects an unknown flag, such as the removed --aligned") {
    assertRejected("--aligned")("unknown flag --aligned")
  }

  test("KdcMain rejects --recursive without --v2") {
    assertRejected("--recursive")("--recursive requires --v2")
  }

  test("KdcMain rejects --scope without --v2") {
    assertRejected("--scope=day=2015-11-22")("--scope requires --v2")
  }

  test("KdcMain rejects an unknown --report") {
    assertRejected("--v2", "--report=bogus")("unknown --report=bogus")
  }
}
