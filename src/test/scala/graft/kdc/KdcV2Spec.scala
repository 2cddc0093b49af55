package graft.kdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kdc.v2.{KdcScan, KdcScanBuilder, KdcTopN}

/** The DataSourceV2 log table ([[graft.kdc.v2.KdcLogTableProvider]]):
  * result parity with the per-file fold, predicate pushdown
  * and column pruning reaching the scan, split alignment under
  * adversarial split sizes, and multi-batch streaming admission. */
class KdcV2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture: String = KdcParseQueries.fixtureDir()

  private def v2(options: (String, String)*): DataFrame = {
    val r = spark.read.format("kdclog")
    options.foreach { case (k, v) => r.option(k, v) }
    r.load(fixture)
  }

  private def kdcScan(df: DataFrame): KdcScan = {
    val top = df.queryExecution.executedPlan
    // descend into the AQE wrapper when present (agg plans)
    val plan = top.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(top)
    val scans = plan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, s"no BatchScanExec in:\n${df.queryExecution.executedPlan}")
    scans.collect { case s: KdcScan => s } match {
      case Seq(s) => s
      case other => fail(s"expected exactly one KdcScan, got $other")
    }
  }

  /** A one-session log whose user (`uNN`) and IP derive from `i`. */
  private def singleSessionLog(i: Int): String = Seq(
    f"2015-11-22T10:00:$i%02d AS-REQ u$i%02d@X.ORG from IPv4:10.0.0.$i for krbtgt/X.ORG@X.ORG",
    f"2015-11-22T10:00:$i%02d ENC-TS Pre-authentication succeeded -- u$i%02d@X.ORG",
    f"2015-11-22T10:00:$i%02d sending 752 bytes to IPv4:10.0.0.$i").mkString("\n") + "\n"

  /** One AvailableNow run of a one-file-per-batch tail over `dir` with
    * checkpoint `cp`; returns the valid sessions admitted so far
    * (complete mode, so earlier runs' files count too, and a
    * re-admitted file counts twice). */
  private def countingTail(dir: String, cp: String, qname: String): Long = {
    val q = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1")
      .load(dir)
      .filter(col("valid")).groupBy(col("client")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(qname)
      .outputMode("complete").option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table(qname).agg(sum(col("n"))).head.getLong(0)
    spark.catalog.dropTempView(qname)
    n
  }

  test("v2 batch read equals the shuffle-by-file parse path") {
    // the by-file reference: each fixture file's lines folded alone
    val viaV2 = v2().collect().map(_.toString).sorted.toSeq
    val byFile = Seq(KdcParseQueries.host1Log, KdcParseQueries.host2Log)
      .map(f => KdcSource.fromLines(spark, f.linesIterator.toSeq)).reduce(_ union _)
    val viaRef = byFile.toDF().collect().map(_.toString).sorted.toSeq
    assert(viaV2.size == 18 && viaV2 == viaRef)
  }

  test("realm/reqtype predicates and column pruning reach the scan") {
    val q = v2()
      .filter(col("crealm") === "SQUILL.DEMENTIA.ORG" &&
        col("req_type") === "AUTH")
      .select(col("client"), col("ts"))
    val rows = q.collect()
    val scan = kdcScan(q)
    val pushedStr = scan.pushedFilters.mkString(", ")
    assert(pushedStr.contains("EqualTo(crealm,SQUILL.DEMENTIA.ORG)"),
      s"realm predicate not pushed: $pushedStr")
    assert(pushedStr.contains("EqualTo(req_type,AUTH)"),
      s"reqtype predicate not pushed: $pushedStr")
    // pruning: only the columns the query touches reach materialization
    val read = scan.readSchema().fieldNames.toSet
    assert(read.subsetOf(Set("client", "ts", "crealm", "req_type")),
      s"scan materializes more than required: $read")
    // semantics unchanged by the pushdown: 9 home-realm AS sessions
    // (cg2v x2, alice x3 incl. the failed one, mallory, expired,
    // nopre, plain) — the foreign-realm visitor is filtered AT THE
    // SCAN, never materialized
    assert(rows.length == 9, s"expected 9 AS sessions, got ${rows.length}")
  }

  test("ts range predicates push (lexical ISO order is chronological)") {
    val q = v2().filter(col("ts") >= "2015-11-23T00:00:00")
      .select(col("client"), col("ts"))
    val scan = kdcScan(q)
    assert(scan.pushedFilters.mkString.contains("GreaterThanOrEqual(ts,2015-11-23T00:00:00)"),
      s"ts bound not pushed: ${scan.pushedFilters.mkString(", ")}")
    val got = q.collect().map(_.getString(1)).sorted
    assert(got.nonEmpty && got.forall(_ >= "2015-11-23T00:00:00"))
  }

  test("reader factory ships the SESSION hadoop conf, with reader options overlaid") {
    // session-level settings (fs credentials, the split bound) must
    // reach the EXECUTOR-side reader, not only driver-side split
    // planning; per-read options win over session values (the
    // maxSplitBytes option is the split bound's one reader spelling)
    val maxSize = "mapreduce.input.fileinputformat.split.maxsize"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.test.session.key", "from-session")
    hc.set(maxSize, "2097152")
    try {
      val q = v2("maxSplitBytes" -> "4194304")
      val factory = kdcScan(q).toBatch.createReaderFactory()
        .asInstanceOf[graft.kdc.v2.KdcReaderFactory]
      val conf = factory.confBc.value.value
      assert(conf.get("graft.test.session.key") == "from-session",
        "session hadoopConfiguration did not reach the reader conf")
      assert(conf.get(maxSize) == "4194304",
        "reader option did not overlay the session value")
    } finally {
      hc.unset("graft.test.session.key")
      hc.unset(maxSize)
    }
  }

  test("adversarial 256-byte splits: aligned reader repairs torn sessions") {
    val whole = v2().collect().map(_.toString).sorted.toSeq
    val torn = v2("maxSplitBytes" -> "256").collect().map(_.toString).sorted.toSeq
    assert(torn == whole, "split alignment changed the parsed sessions")
  }

  test("gzip through V2: non-splittable codec parses whole-file, identically") {
    val dir = "target/scratch/kdc_v2_gz"
    new java.io.File(dir).mkdirs()
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/host1.log.gz"))
    out.write(KdcParseQueries.host1Log.getBytes("UTF-8")); out.close()
    val viaGz = spark.read.format("kdclog").load(dir)
      .select(col("client"), col("ts"), col("req_type"), col("success"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      .sorted.toSeq
    val plain = Sessionizer.sessionize(KdcParseQueries.host1Log.linesIterator)
      .map(r => (r.client, r.ts, r.req_type, r.success)).toSeq.sorted
    assert(viaGz == plain, "gzip V2 parse diverged from the in-memory fold")
  }

  // the KdcBzip2Spec fixture recipe: sessions of varying line counts
  // so session boundaries drift against compressed-block boundaries
  private lazy val bz2Lines: Seq[String] = (0 until 40000).flatMap { i =>
    val ts = f"2015-11-22T${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d"
    val user = s"user${i % 97}"
    val extras = (0 until i % 4).map(k =>
      s"$ts Client sent patypes: ENC-TS, REQ-ENC-PA-REP ($k)")
    (s"$ts AS-REQ $user@X.ORG from IPv4:10.0.0.${i % 250} for krbtgt/X.ORG@X.ORG" +:
      extras) ++ Seq(
      s"$ts ENC-TS Pre-authentication succeeded -- $user@X.ORG",
      s"$ts sending ${100 + i % 900} bytes to IPv4:10.0.0.${i % 250}")
  }

  private lazy val bz2FixtureDir: String = {
    val dir = "target/scratch/kdc_v2_bz2"
    new java.io.File(dir).mkdirs()
    val codec = new org.apache.hadoop.io.compress.BZip2Codec
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(
      new java.io.FileOutputStream(s"$dir/big.log.bz2"))
    out.write(bz2Lines.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    assert(new java.io.File(s"$dir/big.log.bz2").length() > 256 * 1024)
    dir
  }

  test("multi-block bzip2 through V2: splittable codec fans one file across partitions") {
    val q = spark.read.format("kdclog")
      .option("maxSplitBytes", (128 * 1024).toString).load(bz2FixtureDir)
    // the one .bz2 file must actually fan out across input partitions
    assert(q.rdd.getNumPartitions >= 2,
      s"bz2 not split: ${q.rdd.getNumPartitions} partition(s)")
    val got = q.select(col("client"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val want = Sessionizer.sessionize(bz2Lines.iterator).toSeq
      .map(r => (r.client, r.ts))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want, "split-compressed V2 parse diverged from the in-memory fold")
  }

  test("KdcMain plan: realm filter pushes into the scan despite the counters observe") {
    // the realm must be applied BEFORE withCounters — Catalyst does
    // not push predicates through CollectMetrics, so filtering after
    // the observe would evaluate realm post-scan and the advertised
    // never-materialize-foreign-realm posture would be silently lost
    val q = KdcMain.buildReport(spark, fixture, Some("SQUILL.DEMENTIA.ORG"),
      "user", useV2 = true, aligned = false)
    val scan = kdcScan(q)
    assert(scan.pushedFilters.mkString.contains("EqualTo(crealm,SQUILL.DEMENTIA.ORG)"),
      s"realm not pushed on the CLI plan: ${scan.pushedFilters.mkString(", ")}")
    // and the report equals the scoped report over the per-file fold
    val byFile = Seq(KdcParseQueries.host1Log, KdcParseQueries.host2Log)
      .map(f => KdcSource.fromLines(spark, f.linesIterator.toSeq)).reduce(_ union _)
    val viaRef = KdcQueries.userAuthStats(byFile, Some("SQUILL.DEMENTIA.ORG"))
      .select("client", "first_ts", "last_ts", "n_auth")
    assert(q.collect().map(_.toString).toSeq == viaRef.collect().map(_.toString).toSeq)
    // service reports scope the SERVICE realm
    val svc = KdcMain.buildReport(spark, fixture, Some("SQUILL.DEMENTIA.ORG"),
      "service", useV2 = true, aligned = false)
    assert(kdcScan(svc).pushedFilters.mkString.contains("EqualTo(srealm,SQUILL.DEMENTIA.ORG)"))
  }

  test("KdcMain --scope: the scoped CLI plans 1/N files and matches the unscoped-filtered TSV") {
    val root = KdcParseQueries.fleetFixtureDir()
    val scoped = KdcMain.buildReport(spark, root, None, "user",
      useV2 = true, aligned = false, recursive = true,
      scope = Map("day" -> "2015-11-22"))
    // the executed plan prunes to the scoped day's ONE file of two
    val scan = kdcScan(scoped)
    assert(scan.pushedFilters.mkString.contains("EqualTo(day,2015-11-22)"),
      s"scope predicate not pushed: ${scan.pushedFilters.mkString(", ")}")
    val planned = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].ranges.map(_.path)).distinct
    assert(planned.length == 1 && planned.head.contains("day=2015-11-22"),
      s"scoped CLI planned files: ${planned.mkString(", ")}")
    // TSV equals the report run over the scoped day's file alone —
    // the fixture deliberately stores sessions whose ts-day differs
    // from the directory day, so file-level scoping (not a ts filter)
    // is exactly what --scope must reproduce
    val scopedTsv = KdcQueries.tsvLines(scoped).collect().map(_.getString(0)).sorted
    val wantTsv = KdcQueries.tsvLines(
        KdcMain.buildReport(spark, s"$root/host=hostA/day=2015-11-22/kdc.log",
          None, "user", useV2 = true, aligned = false))
      .collect().map(_.getString(0)).sorted
    assert(scopedTsv.nonEmpty && scopedTsv.toSeq == wantTsv.toSeq,
      s"scoped TSV diverged:\n${scopedTsv.mkString("\n")}\nvs\n${wantTsv.mkString("\n")}")
  }

  test("partition-path pruning: day-scoped query never opens the other day's file") {
    val root = KdcParseQueries.fleetFixtureDir()
    val df = spark.read.format("kdclog").option("recursive", "true").load(root)
    // layout discovery: k=v segments surface as trailing string columns
    assert(df.schema.fieldNames.takeRight(2).toSeq == Seq("host", "day"),
      s"partition columns not inferred: ${df.schema.fieldNames.mkString(",")}")
    val q = df.filter(col("day") === "2015-11-22")
      .select(col("client"), col("ts"), col("day"))
    val scan = kdcScan(q)
    assert(scan.pushedFilters.mkString.contains("EqualTo(day,2015-11-22)"),
      s"day predicate not pushed: ${scan.pushedFilters.mkString(", ")}")
    // the whole point: split planning PRUNES the other day's FILE
    val planned = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].ranges.map(_.path)).distinct
    assert(planned.length == 1 && planned.head.contains("day=2015-11-22"),
      s"pruning failed, planned files: ${planned.mkString(", ")}")
    // correctness: rows equal host1's sessions, with the partition
    // value materialized as a column
    val rows = q.collect()
    val want = Sessionizer.sessionize(KdcParseQueries.host1Log.linesIterator).toSeq
    assert(rows.length == want.size, s"expected ${want.size} rows, got ${rows.length}")
    assert(rows.forall(_.getString(2) == "2015-11-22"))
    // streaming: the engine builds streaming scans WITHOUT running
    // filter pushdown (Spark 4.1 — no pushFilters call reaches the
    // scan builder), so a predicate cannot prune the tailed files; the
    // I/O-scoping path for tailing is a path GLOB, which the shared
    // lister resolves — pin that the glob admits only the scoped
    // day's rows
    import org.apache.spark.sql.streaming.Trigger
    val sq = spark.readStream.format("kdclog")
      .load(s"$root/host=*/day=2015-11-22/*")
      .groupBy(col("client")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("kdc_v2_pruned_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val streamedRows = sq.recentProgress.map(_.numInputRows).sum
    spark.catalog.dropTempView("kdc_v2_pruned_stream")
    assert(streamedRows == want.size,
      s"glob-scoped stream read $streamedRows rows, host1 alone has ${want.size}")
  }

  test("partition pruning edge semantics: mixed predicates keep all files; missing keys are NULL") {
    import java.nio.file.{Files, Paths}
    // a PRIVATE copy of the fleet layout: the inconsistent-layout leg
    // below adds a loose file, and doing that to the shared tmpdir
    // fixture would break the registered pruned row for any
    // concurrent/subsequent Verify run if this test dies mid-flight
    val root = "target/scratch/kdc_v2_edge_fleet"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    Files.createDirectories(Paths.get(s"$root/host=hostA/day=2015-11-22"))
    Files.createDirectories(Paths.get(s"$root/host=hostB/day=2015-11-23"))
    Files.write(Paths.get(s"$root/host=hostA/day=2015-11-22/kdc.log"),
      KdcParseQueries.host1Log.getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/host=hostB/day=2015-11-23/kdc.log"),
      KdcParseQueries.host2Log.getBytes("UTF-8"))
    val df = spark.read.format("kdclog").option("recursive", "true").load(root)
    def plannedFiles(q: DataFrame): Seq[String] =
      kdcScan(q).toBatch.planInputPartitions()
        .flatMap(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].ranges.map(_.path)).distinct.toSeq
    // a predicate mixing partition and record columns cannot prune
    // files (its references are not partition-only) but must still
    // evaluate correctly per row with the path values in scope
    val mixed = df.filter(col("day") === "2015-11-22" || col("client") === "frank")
      .select(col("client"), col("day"))
    assert(plannedFiles(mixed).length == 2, "mixed Or-predicate must not prune files")
    val mixedRows = mixed.collect().map(r => (r.getString(0), r.getString(1)))
    assert(mixedRows.exists(r => r._1 == "frank" && r._2 == "2015-11-23"),
      "record-side disjunct lost")
    assert(mixedRows.filter(_._2 == "2015-11-23").forall(_._1 == "frank"),
      "partition-side disjunct leaked foreign rows")
    // IsNotNull on a partition column keeps k=v files; a file MISSING
    // the key evaluates as NULL and is pruned exactly
    val extra = Paths.get(root, "loose")
    Files.createDirectories(extra)
    Files.write(extra.resolve("kdc.log"), KdcParseQueries.host1Log.getBytes("UTF-8"))
    // the loose file breaks key-sequence consistency, so a FRESH read
    // infers no partition columns at all — the safe fallback
    val mixedLayout = spark.read.format("kdclog").option("recursive", "true").load(root)
    assert(!mixedLayout.schema.fieldNames.contains("day"),
      "inconsistent layout must not infer partition columns")
    // while a day-keyed GLOB still sees the consistent subtree
    val scoped = spark.read.format("kdclog")
      .load(s"$root/host=*/day=*/kdc.log")
    assert(scoped.schema.fieldNames.contains("day"))
  }

  test("splittable-compressed inputs derive a split bound: bz2 fans out with NO explicit option") {
    val q = spark.read.format("kdclog").load(bz2FixtureDir) // NO maxSplitBytes
    assert(q.rdd.getNumPartitions >= 2,
      s"derived compressed split bound did not fan out: ${q.rdd.getNumPartitions} partition(s)")
    // derivation formula sanity at fleet scale: a 10 GiB file on 1000
    // cores splits at the 8 MiB expansion-bounded cap, never below one
    // compressed block
    import graft.kdc.v2.KdcBatch.defaultCompressedSplitBytes
    assert(defaultCompressedSplitBytes(10L << 30, 1000) == (8L << 20))
    assert(defaultCompressedSplitBytes(100L << 10, 32) == (256L << 10))
  }

  test("glob and recursive layouts: batch and streaming agree over a nested log fleet") {
    import java.nio.file.{Files, Paths}
    val root = "target/scratch/kdc_v2_fleet"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    // host=X/day=Y nesting — the log-fleet layout; one decoy non-.log
    // file and one hidden file that every path must skip
    Files.createDirectories(Paths.get(s"$root/host=a/day=1"))
    Files.createDirectories(Paths.get(s"$root/host=b/day=1"))
    Files.write(Paths.get(s"$root/host=a/day=1/kdc.log"),
      KdcParseQueries.host1Log.getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/host=b/day=1/kdc.log"),
      KdcParseQueries.host2Log.getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/host=b/day=1/_SUCCESS"), Array.emptyByteArray)
    val want = (Sessionizer.sessionize(KdcParseQueries.host1Log.linesIterator) ++
      Sessionizer.sessionize(KdcParseQueries.host2Log.linesIterator))
      .map(r => (r.client, r.ts, r.req_type)).toSeq.sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("client"), col("ts"), col("req_type")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    // batch: recursive option descends the tree
    val viaRecursive = rows(spark.read.format("kdclog")
      .option("recursive", "true").load(root))
    assert(viaRecursive == want, "recursive batch read diverged")
    // batch: explicit glob reaches the leaves without the option
    val viaGlob = rows(spark.read.format("kdclog")
      .load(s"$root/host=*/day=*/kdc.log"))
    assert(viaGlob == want, "glob batch read diverged")
    // streaming: the recursive lister admits the same file set
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("kdclog")
      .option("recursive", "true").load(root)
      .filter(col("valid")).groupBy(col("client"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("kdc_v2_fleet")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("kdc_v2_fleet").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.dropTempView("kdc_v2_fleet")
    val batchAgg = spark.read.format("kdclog").option("recursive", "true")
      .load(root).filter(col("valid")).groupBy(col("client"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchAgg, "recursive streaming diverged from batch")
  }

  test("streaming restart: offsets restore from the checkpoint, files admitted exactly once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "target/scratch/kdc_v2_restart"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val fixtureDir = fixture
    def addFile(name: String): Unit =
      Files.copy(Paths.get(fixtureDir, name), Paths.get(dir, name),
        StandardCopyOption.REPLACE_EXISTING)
    val cp = s"$dir/_checkpoint"
    def runOnce(qname: String): (Map[String, Long], Long) = {
      val agg = spark.readStream.format("kdclog").load(dir)
        .filter(col("valid")).groupBy(col("client"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table(qname).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val inRows = q.recentProgress.map(_.numInputRows).sum
      spark.catalog.dropTempView(qname)
      (rows, inRows)
    }
    addFile("host1.log")
    val (r1, in1) = runOnce("kdc_v2_restart_a")
    assert(in1 > 0 && r1.nonEmpty)
    // new file arrives; the restarted query must resume from the
    // checkpointed file-set offset (deserializeOffset) and admit ONLY
    // the new file, while complete mode emits the restored full state
    addFile("host2.log")
    val (r2, in2) = runOnce("kdc_v2_restart_b")
    val batchBoth = spark.read.format("kdclog").load(dir)
      .filter(col("valid")).groupBy(col("client"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == batchBoth,
      s"restarted stream diverged from batch: $r2 vs $batchBoth")
    val host2Only = spark.read.format("kdclog").load(s"$dir/host2.log").count()
    assert(in2 == host2Only,
      s"restart re-admitted data: read $in2 rows, host2 alone has $host2Only")
  }

  test("streaming offsets are O(1) batch ids; admitted files live in the checkpoint manifest") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "target/scratch/kdc_v2_offsets"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val fixtureDir = fixture
    Seq("host1.log", "host2.log").foreach(n =>
      Files.copy(Paths.get(fixtureDir, n), Paths.get(dir, n),
        StandardCopyOption.REPLACE_EXISTING))
    val cp = s"$dir/_checkpoint"
    val q = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1").load(dir)
      .filter(col("valid")).groupBy(col("client")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("kdc_v2_offsets")
      .outputMode("complete").option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.catalog.dropTempView("kdc_v2_offsets")
    // the engine's offset log for the LAST batch carries only a batch
    // id — never the admitted file list (that is the unbounded-offset
    // growth this format exists to avoid)
    val offsetFiles = new java.io.File(s"$cp/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(offsetFiles.length >= 2, s"expected >=2 offset entries, got ${offsetFiles.length}")
    val lastOffset = Files.readString(offsetFiles.last.toPath)
    assert(lastOffset.contains("batchId"), s"offset not batch-id shaped:\n$lastOffset")
    assert(!lastOffset.contains("host1.log") && !lastOffset.contains("host2.log"),
      s"offset still serializes the admitted file set:\n$lastOffset")
    // the per-batch admitted-file DELTAS live in the source manifest
    val manifestDir = new java.io.File(s"$cp/sources/0/kdc-file-manifest")
    val ids = manifestDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).sorted
    assert(ids.toSeq == Seq("0", "1"), s"manifest entries: ${ids.mkString(",")}")
    val m0 = Files.readString(new java.io.File(manifestDir, "0").toPath)
    assert(m0.contains("host1.log") && !m0.contains("host2.log"),
      s"manifest 0 should hold exactly the first admitted file:\n$m0")
  }

  test("manifest compaction: long tails keep a bounded file count, restart stays exactly-once") {
    import java.nio.file.{Files, Paths}
    val dir = "target/scratch/kdc_v2_compact"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    (0 until 35).foreach(i =>
      Files.write(Paths.get(dir, f"f$i%02d.log"), singleSessionLog(i).getBytes("UTF-8")))
    val cp = s"$dir/_checkpoint"
    assert(countingTail(dir, cp, "kdc_v2_compact_a") == 35)
    // 35 single-file batches (ids 0..34) at the interval of 10:
    // snapshots land at 10/20/30 and each retires the window its
    // PREDECESSOR covered — the dir holds the last two snapshots plus
    // the deltas after the older one, not one file per batch ever run
    val names = new java.io.File(s"$cp/sources/0/kdc-file-manifest").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names == Set("20.compact", "30.compact") ++ (21 to 34).map(_.toString),
      s"manifest after 35 batches: ${names.toSeq.sorted}")
    assert(names.size <= 2 * 10 + 2, s"manifest not bounded: ${names.size} files")
    // restart after one more file arrives: the seen-set restores from
    // snapshot + recent deltas, so exactly ONE new file is admitted
    Files.write(Paths.get(dir, "f35.log"), singleSessionLog(35).getBytes("UTF-8"))
    assert(countingTail(dir, cp, "kdc_v2_compact_b") == 36,
      "restart lost or re-admitted files")
  }

  test("a checkpoint with the older _format marker resumes: only unseen files admit, compaction keeps it readable") {
    import java.nio.file.{Files, Paths}
    val dir = "target/scratch/kdc_v2_marker_resume"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def put(i: Int): Unit =
      Files.write(Paths.get(dir, f"f$i%02d.log"), singleSessionLog(i).getBytes("UTF-8"))
    val cp = s"$dir/_checkpoint"
    val manifestDir = new java.io.File(s"$cp/sources/0/kdc-file-manifest")
    // ids 0..11: the engine's offset/commit logs, deltas 0..11 and the
    // id-10 snapshot — then the marker older writers stamped at the
    // first admission, which is the whole on-disk shape they left
    (0 until 12).foreach(put)
    assert(countingTail(dir, cp, "kdc_v2_marker_a") == 12)
    Files.writeString(new java.io.File(manifestDir, "_format").toPath, """{"version":2}""")
    assert(manifestDir.list().filterNot(_.startsWith(".")).toSet ==
      Set("_format", "10.compact") ++ (0 to 11).map(_.toString))
    // restart with 9 unseen files: ids 12..20 admit exactly those, and
    // id 20's compaction runs clean() over the marked directory
    (12 until 21).foreach(put)
    assert(countingTail(dir, cp, "kdc_v2_marker_b") == 21,
      "restart over a marked checkpoint lost or re-admitted files")
    val names = manifestDir.list().filterNot(_.startsWith(".")).toSet
    assert(names == Set("_format", "10.compact", "20.compact") ++ (11 to 20).map(_.toString),
      s"manifest after the compacting restart: ${names.toSeq.sorted}")
    // and the cleaned directory still loads: one more file, one admission
    put(21)
    assert(countingTail(dir, cp, "kdc_v2_marker_c") == 22)
  }

  test("orphan manifest entries from a crashed run are overwritten, never replayed") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "target/scratch/kdc_v2_orphan"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    Files.copy(Paths.get(fixture, "host1.log"), Paths.get(dir, "host1.log"),
      StandardCopyOption.REPLACE_EXISTING)
    val cp = s"$dir/_checkpoint"
    // a run that crashed AFTER writing its manifest but BEFORE the
    // engine persisted the offset leaves an orphan entry; replaying it
    // would plan a file that no longer exists — the restart must
    // overwrite it instead (latestOffset only trusts ids <= start)
    new java.io.File(s"$cp/sources/0/kdc-file-manifest").mkdirs()
    Files.writeString(Paths.get(s"$cp/sources/0/kdc-file-manifest/0"),
      s"""{"$dir/ghost.log":123}""")
    val q = spark.readStream.format("kdclog").load(dir)
      .filter(col("valid")).groupBy(col("client")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("kdc_v2_orphan")
      .outputMode("complete").option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("kdc_v2_orphan").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.dropTempView("kdc_v2_orphan")
    val want = spark.read.format("kdclog").load(s"$dir/host1.log")
      .filter(col("valid")).groupBy(col("client")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"orphan recovery diverged: $got vs $want")
    val m0 = Files.readString(Paths.get(s"$cp/sources/0/kdc-file-manifest/0"))
    assert(!m0.contains("ghost.log") && m0.contains("host1.log"),
      s"orphan manifest was not overwritten:\n$m0")
  }

  test("append-mode watermarked windows: finalized exactly once, restart admits and emits nothing") {
    import java.nio.file.{Files, Paths}
    val dir = "target/scratch/kdc_v2_wm_restart"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))
    put("host1.log", KdcParseQueries.host1Log)
    put("host2.log", KdcParseQueries.host2Log)
    val sentinel = Seq(
      "2030-01-01T00:00:00 AS-REQ zz@SQUILL.DEMENTIA.ORG from IPv4:10.0.0.99 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
      "2030-01-01T00:00:00 ENC-TS Pre-authentication succeeded -- zz@SQUILL.DEMENTIA.ORG",
      "2030-01-01T00:00:00 sending 752 bytes to IPv4:10.0.0.99").mkString("\n") + "\n"
    put("zz_sentinel1.log", sentinel)
    put("zz_sentinel2.log", sentinel.replace("2030-01-01", "2030-01-02"))
    val cp = s"$dir/_checkpoint"
    def run(qname: String): (Seq[(String, String, Long)], Long) = {
      val agg = spark.readStream.format("kdclog")
        .option("maxFilesPerTrigger", "1").load(dir)
        .filter(col("valid") && col("success") &&
          col("req_type") === "AUTH" && !col("referral"))
        .withColumn("ts_time", to_timestamp(col("ts")))
        .withWatermark("ts_time", "1 hour")
        .groupBy(window(col("ts_time"), "1 day"), col("client"))
        .agg(count(lit(1)).as("n_auth"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("client"), col("n_auth"))
      // foreachBatch, not the memory sink: append-mode memory sinks
      // refuse checkpoint recovery, and the restart leg is the point
      val buf = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      val q = agg.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          buf.synchronized {
            buf ++= df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          }; ()
        }
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val inRows = q.recentProgress.map(_.numInputRows).sum
      (buf.synchronized(buf.toSeq), inRows)
    }
    val (rows1, in1) = run("kdc_v2_wm_a")
    assert(in1 > 0)
    val real = rows1.filter(_._2 != "zz").sorted
    // every real daily window finalized EXACTLY once (append semantics)
    val want = Seq(
      ("2015-11-22", "alice", 1L), ("2015-11-22", "cg2v", 2L),
      ("2015-11-23", "alice", 1L), ("2015-11-23", "plain", 1L),
      ("2015-11-23", "visitor", 1L))
    assert(real == want, s"append drain diverged: $real")
    // restart on the same checkpoint: nothing admitted, nothing re-emitted
    val (rows2, in2) = run("kdc_v2_wm_b")
    assert(in2 == 0, s"restart re-admitted $in2 rows")
    assert(!rows2.exists(_._2 != "zz"), s"restart re-emitted finalized windows: $rows2")
  }

  test("one listing walk per batch query: split planning reuses inference's snapshot") {
    val root = KdcParseQueries.fleetFixtureDir()
    val walks = graft.kdc.v2.KdcFileLayout.listingWalks
    val before = walks.get()
    val df = spark.read.format("kdclog").option("recursive", "true").load(root)
    assert(walks.get() - before == 1, "schema inference should walk exactly once")
    assert(df.count() > 0)
    assert(walks.get() - before == 1,
      s"split planning walked the fleet again (total ${walks.get() - before} walks for one query)")
    // a second ACTION on the same frame still plans from the load-time
    // snapshot (Spark's own file sources freeze the listing at load)
    df.select(col("client")).count()
    assert(walks.get() - before == 1)
    // a NEW load() is a new snapshot — exactly one more walk
    spark.read.format("kdclog").option("recursive", "true").load(root).count()
    assert(walks.get() - before == 2)
    // a KdcMain report: its sort placement reads the scan statistics,
    // which reuse the same load-time snapshot
    val report = KdcMain.buildReport(spark, root, None, "user", useV2 = true,
      aligned = false, recursive = true)
    KdcQueries.tsvLines(report).write.mode("overwrite").text("target/scratch/kdc_v2_onewalk_report")
    assert(walks.get() - before == 3,
      s"a report walked ${walks.get() - before - 2} times for one load()")
  }

  test("parallel listing walk: visible files equal a Files.walk reference; each visible dir listed once") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("target/scratch/kdc_v2_parallel_walk").toAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    // two k=v levels of 5 and 5×4 directories (both over the parallel
    // threshold), with '_'/'.'-prefixed files and directories beside
    // the visible ones at every level
    def hiddenBeside(d: Path): Unit = {
      Seq("_SUCCESS", ".kdc.log.crc").foreach(n => Files.write(d.resolve(n), Array[Byte](1)))
      Seq("_temporary", ".staging").foreach { n =>
        Files.createDirectories(d.resolve(n).resolve("day=9"))
        Files.write(d.resolve(n).resolve("day=9").resolve("kdc.log"), Array[Byte](1))
      }
    }
    Files.createDirectories(root)
    hiddenBeside(root)
    for (h <- 1 to 5) {
      val host = root.resolve(s"host=kdc$h")
      Files.createDirectories(host)
      Files.write(host.resolve("kdc.log"), Array[Byte](1))
      hiddenBeside(host)
      for (d <- 1 to 4) {
        val day = host.resolve(s"day=2015-11-2$d")
        Files.createDirectories(day)
        Files.write(day.resolve("kdc.log"), Array[Byte](1))
        hiddenBeside(day)
      }
    }
    def visible(p: Path): Boolean = root.relativize(p).iterator().asScala
      .forall { c => val n = c.toString; !n.startsWith("_") && !n.startsWith(".") }
    val walked = Files.walk(root).iterator().asScala.filter(visible).toSeq
    val wantFiles = walked.filter(Files.isRegularFile(_)).map(_.toUri.getPath).toSet
    val wantDirs = walked.count(Files.isDirectory(_)) // the root included
    assert(wantFiles.size == 25 && wantDirs == 26)

    val dirs = graft.kdc.v2.KdcFileLayout.dirsListed
    val before = dirs.get()
    val got = graft.kdc.v2.KdcFileLayout.listFiles(root.toString, recursive = true,
      new org.apache.hadoop.conf.Configuration(), strict = true)
    assert(got.map(_.path.toUri.getPath).toSet == wantFiles)
    assert(got.size == wantFiles.size, "a file was listed twice")
    assert(dirs.get() - before == wantDirs,
      s"listed ${dirs.get() - before} dirs, want the $wantDirs visible ones")
  }

  test("one listing walk per AvailableNow streaming run; triggers share the snapshot") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "target/scratch/kdc_v2_onewalk"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    Seq("host1.log", "host2.log").foreach(n =>
      Files.copy(Paths.get(fixture, n), Paths.get(dir, n),
        StandardCopyOption.REPLACE_EXISTING))
    val walks = graft.kdc.v2.KdcFileLayout.listingWalks
    val before = walks.get()
    val q = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1").load(dir)
      .groupBy(col("client")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("kdc_v2_onewalk")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    spark.catalog.dropTempView("kdc_v2_onewalk")
    assert(batches >= 2, s"expected >=2 admitting batches, got $batches")
    // schema inference (1) + prepareForTriggerAvailableNow (1); every
    // trigger's latestOffset/reportLatestOffset and the per-batch
    // split planning reuse the prepared snapshot — the old shape was
    // O(batches) walks plus one glob per admitted file
    assert(walks.get() - before == 2,
      s"AvailableNow run performed ${walks.get() - before} walks, want 2")
  }

  test("scan statistics: post-pruning sizes feed the planner; a scoped parse broadcasts pre-AQE") {
    val root = KdcParseQueries.fleetFixtureDir()
    def relStats(q: DataFrame): org.apache.spark.sql.catalyst.plans.logical.Statistics = {
      val rel = q.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }
      assert(rel.nonEmpty, s"no V2 scan relation in:\n${q.queryExecution.optimizedPlan}")
      rel.get.stats
    }
    val read = spark.read.format("kdclog").option("recursive", "true").load(root)
    val narrow = read.select(col("client"), col("day"))
    val scoped = read.filter(col("day") === "2015-11-22").select(col("client"), col("day"))
    val sFull = relStats(read)
    val sNarrow = relStats(narrow)
    val sScoped = relStats(scoped)
    // stats are REPORTED (not the defaultSizeInBytes fallback) with rows
    assert(sNarrow.rowCount.nonEmpty && sScoped.rowCount.nonEmpty,
      s"scan reported no row count: $sNarrow / $sScoped")
    // partition-path pruning shrinks the estimate (1 of 2 files kept)
    assert(sScoped.sizeInBytes < sNarrow.sizeInBytes,
      s"scope did not shrink stats: scoped=${sScoped.sizeInBytes} vs ${sNarrow.sizeInBytes}")
    assert(sScoped.rowCount.get < sNarrow.rowCount.get)
    // column pruning prices the materialized width, not the full record
    assert(sNarrow.sizeInBytes < sFull.sizeInBytes,
      s"column pruning did not shrink stats: ${sNarrow.sizeInBytes} vs ${sFull.sizeInBytes}")
    // the payoff: a day-scoped parse joins a >threshold dimension as a
    // BROADCAST pre-AQE (without SupportsReportStatistics the parse
    // side sized at defaultSizeInBytes and planned a sort-merge join
    // until AQE replanned post-shuffle)
    // pin the threshold: suites sharing this JVM's session disable
    // auto-broadcast (BucketingSpec) — the assertion is about STATS
    // reaching the planner, not about the session's current default
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, (10L << 20).toString)
    try {
      val dim = spark.range(0, 2000000)
        .selectExpr("cast(id as string) as client", "id as w")
      val j = scoped.join(dim, "client")
      val pre = j.queryExecution.sparkPlan
      val bhj = pre.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty, s"scoped parse ⋈ dimension not broadcast pre-AQE:\n$pre")
      assert(bhj.head.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft,
        s"broadcast built the WRONG side (want the scoped parse): ${bhj.head.buildSide}")
    } finally spark.conf.set(key, saved)
  }

  test("provider snapshot is consumed once: a reused provider re-lists instead of planning stale") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val root = KdcParseQueries.fleetFixtureDir()
    val provider = new graft.kdc.v2.KdcLogTableProvider
    val optMap = new java.util.HashMap[String, String]()
    optMap.put("path", root); optMap.put("recursive", "true")
    val schema = provider.inferSchema(new CaseInsensitiveStringMap(optMap))
    val walks = graft.kdc.v2.KdcFileLayout.listingWalks
    def planWalks(): Long = {
      val t = provider.getTable(schema, Array.empty, optMap)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      val before = walks.get()
      val scan = t.newScanBuilder(new CaseInsensitiveStringMap(optMap)).build()
        .asInstanceOf[KdcScan]
      assert(scan.toBatch.planInputPartitions().nonEmpty)
      walks.get() - before
    }
    // first getTable consumes inference's snapshot: zero extra walks
    assert(planWalks() == 0L, "first table should plan from the inference snapshot")
    // a SECOND load through the same provider instance must NOT see the
    // stale snapshot — it re-lists (one walk), never plans a frozen set
    assert(planWalks() == 1L, "reused provider must re-list, not reuse the consumed snapshot")
  }

  test("scan statistics: splittable-compressed inputs price the DECODED volume") {
    // a multi-block bz2 log is small on disk but expands ~16x (the
    // derived-split-bound factor) on decode — stats priced at the
    // compressed byte count would undersell the parse and invite a
    // wrong broadcast of a big decoded side
    val q = spark.read.format("kdclog").load(bz2FixtureDir)
      .select(col("client"), col("ts"))
    val rel = q.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.getOrElse(fail("no V2 scan relation"))
    val compressedLen = new java.io.File(s"$bz2FixtureDir/big.log.bz2").length()
    val rows = rel.stats.rowCount.getOrElse(fail("no row count")).toLong
    // rows estimate derives from the EXPANDED bytes (len x 16 / 296):
    // equality pins the formula, not just a direction
    assert(rows == (compressedLen * 16L) / 296L,
      s"rows=$rows, want ${(compressedLen * 16L) / 296L} from len=$compressedLen")
    assert(rel.stats.sizeInBytes > BigInt(compressedLen),
      s"stats priced at compressed size: ${rel.stats.sizeInBytes} <= $compressedLen")
  }

  test("streaming: file-arrival micro-batches converge to the batch answer") {
    import spark.implicits._
    val ds = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1")
      .load(fixture)
      .as(Encoders.product[KdcLogRecord])
    val agg = KdcQueries.userAuthStats(ds)
    val got = graft.streaming.StreamingPipeline.runOneShot(
      agg, "kdc_v2_stream", "complete", Seq("client"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val want = KdcQueries.userAuthStats(v2().as(Encoders.product[KdcLogRecord]))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // the admission bound must have produced MULTIPLE batches (2 files
    // x maxFilesPerTrigger=1): a single-batch replay would pass the
    // equality vacuously and prove nothing about file-arrival
    val prog = graft.streaming.StreamingPipeline.lastOneShotProgress
    assert(prog.exists(_.batchId >= 1),
      s"expected >= 2 micro-batches, last progress: $prog")
  }

  test("runtime filtering (DPP): a dim-filtered join opens ONLY the matching day's file") {
    val root = KdcParseQueries.fleetFixtureDir()
    val read = spark.read.format("kdclog").option("recursive", "true").load(root)
      .select(col("client"), col("day"))
    // dimension with a selective filter: only 2015-11-22 survives it —
    // which days survive is RUNTIME information (the static planner
    // sees a filter, not its result), so only dynamic pruning can skip
    // the other day's file. Built over range so the Filter NODE
    // survives optimization (a Filter over a LocalRelation constant-
    // folds away, and DPP requires a selective filter on the build
    // side to fire)
    val dim = spark.range(0, 4)
      .selectExpr("concat('2015-11-', cast(21 + id as string)) as day", "id as w")
      .filter(col("w") === 1)
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val aKey = "spark.sql.adaptive.enabled"
    val savedB = spark.conf.get(bKey)
    val savedA = spark.conf.get(aKey)
    spark.conf.set(bKey, (10L << 20).toString)
    spark.conf.set(aKey, "false") // pin the classic DPP path deterministically
    val tap = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    graft.kdc.v2.KdcPartitionReader.openTap.set(tap)
    try {
      val j = read.join(dim, "day")
      val rows = j.collect()
      val want = Sessionizer.sessionize(KdcParseQueries.host1Log.linesIterator).size
      assert(rows.length == want, s"join lost rows: ${rows.length} vs $want")
      // the optimizer injected a runtime filter into the V2 scan…
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[KdcScan] => b
      }
      assert(scans.nonEmpty && scans.head.runtimeFilters.nonEmpty,
        s"no runtime filter reached the scan:\n${j.queryExecution.executedPlan}")
      // …and the effect is whole-FILE: the pruned day was never OPENED
      val opened = tap.iterator().asScala.toSeq.distinct
      assert(opened.nonEmpty && opened.forall(_.contains("day=2015-11-22")),
        s"runtime filter did not prune at file granularity, opened: $opened")
    } finally {
      graft.kdc.v2.KdcPartitionReader.openTap.set(null)
      spark.conf.set(bKey, savedB)
      spark.conf.set(aKey, savedA)
    }
  }

  test("limit pushdown: LIMIT n parses ~n sessions, not the split's whole byte range") {
    val realm = "SQUILL.DEMENTIA.ORG"
    val dir = "target/scratch/kdc_v2_limit"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val total = 20000
    val sb = new StringBuilder
    var i = 0
    while (i < total) {
      val ts = f"2015-11-22T${10 + i % 14}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
      sb.append(s"$ts AS-REQ user$i@$realm from IPv4:10.0.0.1 for krbtgt/$realm@$realm\n")
      sb.append(s"$ts ENC-TS Pre-authentication succeeded -- user$i@$realm using aes256-cts-hmac-sha1-96\n")
      sb.append(s"$ts sending 752 bytes to IPv4:10.0.0.1\n")
      i += 1
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "big.log"), sb.toString.getBytes("UTF-8"))
    val emitted = new java.util.concurrent.atomic.AtomicLong(0)
    graft.kdc.v2.KdcPartitionReader.emitTap.set(emitted)
    try {
      val q = spark.read.format("kdclog").load(dir).limit(7)
      val rows = q.collect()
      assert(rows.length == 7, s"limit returned ${rows.length} rows")
      // the builder accepted the limit (partial pushdown)…
      assert(kdcScan(q).pushedLimit.contains(7),
        s"limit not pushed into the scan: ${kdcScan(q).pushedLimit}")
      // …and each split's reader stopped at its quota instead of
      // parsing all 20k sessions (the pre-pushdown behavior)
      val n = emitted.get
      assert(n >= 7 && n <= 64,
        s"readers emitted $n sessions for LIMIT 7 over $total — early-stop not effective")
    } finally graft.kdc.v2.KdcPartitionReader.emitTap.set(null)
  }

  test("topN pushdown: ORDER BY ts LIMIT n ships n rows per split, heap survives non-monotonic ts") {
    val realm = "SQUILL.DEMENTIA.ORG"
    val dir = "target/scratch/kdc_v2_topn"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // ts DESCENDS in file order: session i carries hour 23-i%14 — the
    // chronologically-earliest sessions sit at the END of the file, so
    // an early-stopping "first n" reader would return wrong minima;
    // only the bounded-heap full parse finds them
    val total = 2000
    val sb = new StringBuilder
    var i = 0
    while (i < total) {
      val ts = f"2015-11-22T${23 - i % 14}%02d:${59 - i % 60}%02d:${(i * 7) % 60}%02d"
      sb.append(s"$ts AS-REQ user$i@$realm from IPv4:10.0.0.1 for krbtgt/$realm@$realm\n")
      sb.append(s"$ts ENC-TS Pre-authentication succeeded -- user$i@$realm using aes256-cts-hmac-sha1-96\n")
      sb.append(s"$ts sending 752 bytes to IPv4:10.0.0.1\n")
      i += 1
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "big.log"), sb.toString.getBytes("UTF-8"))
    val emitted = new java.util.concurrent.atomic.AtomicLong(0)
    graft.kdc.v2.KdcPartitionReader.emitTap.set(emitted)
    try {
      // ASC: earliest 3 — from deep inside the file
      val asc = spark.read.format("kdclog").load(dir)
        .orderBy(col("ts")).limit(3).select(col("ts"), col("client"))
      val ascRows = asc.collect()
      val t = kdcScan(asc).pushedTopN
      assert(t.contains(KdcTopN(asc = true, nullsFirst = true, n = 3)),
        s"topN not pushed: $t")
      val wantAsc = Sessionizer
        .sessionize(sb.toString.linesIterator).map(_.ts).toSeq.sorted.take(3)
      assert(ascRows.map(_.getString(0)).toSeq == wantAsc,
        s"ASC top-3 wrong: ${ascRows.mkString(", ")}")
      // the reader emitted its heap, not the whole split
      assert(emitted.get <= 3L * 4,
        s"readers emitted ${emitted.get} rows for a pushed top-3")
      // DESC: the latest 2
      emitted.set(0)
      val desc = spark.read.format("kdclog").load(dir)
        .orderBy(col("ts").desc).limit(2).select(col("ts"))
      val descRows = desc.collect().map(_.getString(0)).toSeq
      assert(kdcScan(desc).pushedTopN.exists(p => !p.asc && p.n == 2))
      val wantDesc = Sessionizer
        .sessionize(sb.toString.linesIterator).map(_.ts).toSeq
        .sorted(Ordering[String].reverse).take(2)
      assert(descRows == wantDesc, s"DESC top-2 wrong: $descRows")
      // non-ts ordering and oversized limits REFUSE the pushdown
      // (query still answers, unpushed)
      val byClient = spark.read.format("kdclog").load(dir)
        .orderBy(col("client")).limit(2)
      assert(byClient.collect().length == 2)
      assert(kdcScan(byClient).pushedTopN.isEmpty,
        "pushTopN must refuse a non-ts ordering")
      val huge = spark.read.format("kdclog").load(dir)
        .orderBy(col("ts")).limit(KdcScanBuilder.MaxPushedTopN + 1)
      assert(kdcScan(huge).pushedTopN.isEmpty,
        "pushTopN must refuse an unbounded heap")
    } finally graft.kdc.v2.KdcPartitionReader.emitTap.set(null)
  }
}
