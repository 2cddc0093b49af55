package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session contract the entry points share, its
  * leave-the-caller's-session-alone rule, and that no entry point
  * grows a builder of its own again. */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("contract: local[cpus], partitions = cpus, UTC, nanosAsLong, AQE, 64m") {
    val nproc = Runtime.getRuntime.availableProcessors
    val (master, conf) = Harness.contract(Map.empty[String, String].get)
    assert(master == s"local[$nproc]")
    assert(conf == Map(
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.ui.enabled" -> "false"))

    val (m3, c3) = Harness.contract(Map(
      "SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_BROADCAST_THRESHOLD" -> "-1").get)
    assert(m3 == "local[3]")
    assert(c3("spark.sql.shuffle.partitions") == "3")
    assert(c3("spark.sql.autoBroadcastJoinThreshold") == "-1")

    val (mm, cm) = Harness.contract(Map(
      "SPARK_MASTER" -> "spark://kdc:7077", "SPARK_GRAFT_CPUS" -> "8").get)
    assert(mm == "spark://kdc:7077")
    assert(cm("spark.sql.shuffle.partitions") == "8")
  }

  test("KdcMain.main inside an existing session leaves its conf unchanged") {
    // a child session with conf unlike both the contract and the test
    // default, so any conf write by the entry point shows
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.legacy.parquet.nanosAsLong")
    def snapshot() = keys.map(k => k -> caller.conf.getOption(k))
    val before = snapshot()
    val out = "target/scratch/harness_kdcmain"
    SparkSession.setActiveSession(caller)
    try kdc.KdcMain.main(Array(kdc.KdcParseQueries.fixtureDir(), out))
    finally SparkSession.setActiveSession(spark)
    assert(snapshot() == before)
    assert(!caller.sparkContext.isStopped)
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("part-")))
  }

  /** File name of every match of `re` in `src/main`, once per match. */
  private def sitesOf(re: String): Seq[String] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(new java.io.File("src/main")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Seq.fill(re.r.findAllIn(src).size)(f.getName)
    }.sorted
  }

  test("src/main builds sessions only in Harness and EntrySmoke") {
    assert(sitesOf("SparkSession\\.builder\\b") == Seq("EntrySmoke.scala", "Harness.scala"))
  }

  test("src/main parses KDC logs only through the split-aligned session reader") {
    // no line-level Hadoop text input, no whole-file text rows, no
    // by-file fold; the one Hadoop file read is KdcSource.recordsAligned
    for (gone <- Seq("TextInputFormat", "wholetext", "sessionizeByFile"))
      assert(sitesOf(gone).isEmpty, s"$gone is back in ${sitesOf(gone).mkString(", ")}")
    assert(sitesOf("newAPIHadoopFile") == Seq("KdcSource.scala"))
  }
}
