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

  /** (file name, match) of every match of `re` under `root` (a
    * directory or one file); the match is `re`'s first group when it
    * has one. */
  private def matchesOf(re: String, root: String): Seq[(String, String)] = {
    def files(d: java.io.File): Seq[java.io.File] =
      if (d.isFile) Seq(d)
      else Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(new java.io.File(root)).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      re.r.findAllMatchIn(src).map(m =>
        f.getName -> (if (m.groupCount > 0) m.group(1) else m.matched)).toSeq
    }
  }

  /** File name of every match of `re` under `root` (a directory or one
    * file), once per match. */
  private def sitesOf(re: String, root: String = "src/main"): Seq[String] =
    matchesOf(re, root).map(_._1).sorted

  test("src/main builds sessions only in Harness and EntrySmoke") {
    assert(sitesOf("SparkSession\\.builder\\b") == Seq("EntrySmoke.scala", "Harness.scala"))
  }

  test("src/main parses KDC logs only through the split-aligned session reader") {
    // no line-level Hadoop text input, no whole-file text rows, no
    // by-file fold, and no Hadoop file read beside the kdclog table's
    // split planner (KdcSource.recordsAligned reads that table)
    for (gone <- Seq("TextInputFormat", "wholetext", "sessionizeByFile", "newAPIHadoopFile"))
      assert(sitesOf(gone).isEmpty, s"$gone is back in ${sitesOf(gone).mkString(", ")}")
  }

  test("src/main reads KDC sessions through one LineRecordReader-composed reader") {
    assert(sitesOf("""extends\s+RecordReader\b""") == Seq("KdcSessionInputFormat.scala"))
    for (gone <- Seq("org.apache.hadoop.util.LineReader", "lookback.bytes")) {
      val sites = sitesOf(java.util.regex.Pattern.quote(gone))
      assert(sites.isEmpty, s"$gone is back in ${sites.mkString(", ")}")
    }
    // the kdclog reader folds owned lines, never a re-split session blob
    assert(sitesOf("linesIterator", "src/main/scala/graft/kdc/v2").isEmpty)
  }

  test("src/main enumerates sorted-list pairs only in PairGen") {
    // the tail slice of the pair pattern, slice(arr, <index> + 2, …),
    // in the DataFrame form (any index name, `+ 2` or `+ lit(2)`) and
    // the SQL-lambda form
    assert(sitesOf("""slice\([^,\n]+,\s*[^,\n]*\+\s*(lit\()?2\b""") ==
      Seq("PairGen.scala"))
  }

  test("src/main reads no graft.* system property") {
    // engine settings are reader options, conf keys or constants; a
    // JVM-wide property is a knob no caller's session can see or scope
    val sites = sitesOf("""(?:sys\.props(?:\.get)?|System\.getProperty)\(\s*"graft\.""")
    assert(sites.isEmpty, s"graft.* system property read in ${sites.mkString(", ")}")
  }

  test("every KDC report's global sort goes through KdcQueries.sortReport") {
    // a DataFrame orderBy/sort not followed by .limit(…) (those plan
    // TakeOrderedAndProject), on a line without a Window spec: only
    // the helper's own call may remain, or a new report brings back
    // the range exchange's sampling job
    val globalSort = """(?m)^(?![^\n]*\bWindow\b)[^\n]*?\.(?:orderBy|sort)\(""" +
      """(?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)(?!\s*\.limit\()"""
    assert(sitesOf(globalSort, "src/main/scala/graft/kdc/KdcQueries.scala") ==
      Seq("KdcQueries.scala"))
  }

  test("src/main names, pins and deletes scratch only in Scratch") {
    // the scratch root literal, the mtime pin, the recursive delete,
    // and a counter or UUID next to the applicationId in a dir name
    for (re <- Seq("\"target/scratch", "setLastModified", "FileUtils\\.deleteDirectory",
        """(?s)\.applicationId\b.{0,120}?(?:incrementAndGet|getAndIncrement|randomUUID)\(""")) {
      val sites = sitesOf(re).distinct
      assert(sites == Seq("Scratch.scala"), s"$re in ${sites.mkString(", ")}")
    }
  }

  test("Harness.release removes the scratch dirs a finished query left") {
    val root = new java.io.File("target/scratch")
    def dirs(): Set[String] = Option(root.listFiles()).toSeq.flatten.map(_.getName).toSet
    val before = dirs()
    SparkEntry.queries("dedup_ingest_indexed")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    val made = dirs() -- before
    assert(made.nonEmpty, "the query left no scratch dir, so release has nothing to show")
    Harness.release(spark)
    val left = dirs() intersect made
    assert(left.isEmpty, s"scratch dirs left after release: ${left.mkString(", ")}")
  }

  test("the kdclog table reads exactly the reader options its callers set") {
    val keys = matchesOf(
      """\b(?:options|opts|properties)\.(?:get|contains)\(\s*"([^"]+)"""",
      "src/main/scala/graft/kdc/v2").map(_._2).toSet
    assert(keys == Set("path", "recursive", "maxSplitBytes", "maxFilesPerTrigger"),
      s"kdc/v2 reads options ${keys.toSeq.sorted.mkString(", ")}")
  }
}
