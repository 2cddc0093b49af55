package graft.kdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kdc.v2.{KdcScan, KdcScanBuilder, KdcTopN}

/** The DataSourceV2 log table ([[graft.kdc.v2.KdcLogTableProvider]]):
  * result parity with the Dataset reader, predicate pushdown
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
    // session-level settings (fs credentials, graft.kdc.* lookback
    // dials) must reach the EXECUTOR-side reader, not only driver-side
    // split planning; per-read options win over session values
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.test.session.key", "from-session")
    hc.set("graft.kdc.lookback.bytes", "2097152")
    try {
      val q = v2("graft.kdc.lookback.bytes" -> "4194304")
      val factory = kdcScan(q).toBatch.createReaderFactory()
        .asInstanceOf[graft.kdc.v2.KdcReaderFactory]
      val conf = factory.confBc.value.value
      assert(conf.get("graft.test.session.key") == "from-session",
        "session hadoopConfiguration did not reach the reader conf")
      assert(conf.get("graft.kdc.lookback.bytes") == "4194304",
        "reader option did not overlay the session value")
    } finally {
      hc.unset("graft.test.session.key")
      hc.unset("graft.kdc.lookback.bytes")
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

  test("KdcMain --v2 plan: the realm filter pushes into the scan despite the counters observe") {
    // the realm must be applied BEFORE withCounters — Catalyst does
    // not push predicates through CollectMetrics, so filtering after
    // the observe would evaluate realm post-scan and the advertised
    // never-materialize-foreign-realm posture would be silently lost
    val q = KdcMain.buildReport(spark, fixture, Some("SQUILL.DEMENTIA.ORG"),
      "user", useV2 = true, aligned = false)
    val scan = kdcScan(q)
    assert(scan.pushedFilters.mkString.contains("EqualTo(crealm,SQUILL.DEMENTIA.ORG)"),
      s"realm not pushed on the CLI --v2 plan: ${scan.pushedFilters.mkString(", ")}")
    // and the report equals the default source's scoped report
    val viaV2 = q.collect().map(_.toString).toSeq
    val viaDefault = KdcMain.buildReport(spark, fixture, Some("SQUILL.DEMENTIA.ORG"),
      "user", useV2 = false, aligned = false).collect().map(_.toString).toSeq
    assert(viaV2 == viaDefault)
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
      .map(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].path).distinct
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
    // scope without --v2 fails loudly — the default source has no
    // partition columns to filter
    intercept[IllegalArgumentException] {
      KdcMain.buildReport(spark, root, None, "user",
        useV2 = false, aligned = false, scope = Map("day" -> "x"))
    }
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
      .map(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].path).distinct
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
        .map(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].path).distinct.toSeq
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
    def logFor(i: Int): String = Seq(
      f"2015-11-22T10:00:$i%02d AS-REQ u$i%02d@X.ORG from IPv4:10.0.0.$i for krbtgt/X.ORG@X.ORG",
      f"2015-11-22T10:00:$i%02d ENC-TS Pre-authentication succeeded -- u$i%02d@X.ORG",
      f"2015-11-22T10:00:$i%02d sending 752 bytes to IPv4:10.0.0.$i").mkString("\n") + "\n"
    (0 until 25).foreach(i =>
      Files.write(Paths.get(dir, f"f$i%02d.log"), logFor(i).getBytes("UTF-8")))
    val cp = s"$dir/_checkpoint"
    def run(qname: String): Long = {
      val q = spark.readStream.format("kdclog")
        .option("maxFilesPerTrigger", "1")
        .option("manifestCompactInterval", "5")
        .load(dir)
        .filter(col("valid")).groupBy(col("client")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(qname).count()
      spark.catalog.dropTempView(qname)
      n
    }
    assert(run("kdc_v2_compact_a") == 25)
    // 25 single-file batches at interval 5: snapshots land at 5/10/15/20
    // and each retires the window its PREDECESSOR covered — the dir
    // holds the last two snapshots plus the post-snapshot deltas, not
    // one file per batch ever run
    val names = new java.io.File(s"$cp/sources/0/kdc-file-manifest").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(names.count(_.endsWith(".compact")) == 2,
      s"expected exactly the last two snapshots, got: $names")
    assert(names.contains("15.compact") && names.contains("20.compact"), names.toString)
    val deltaIds = names.filter(_.forall(_.isDigit)).map(_.toLong)
    assert(deltaIds.nonEmpty && deltaIds.forall(_ > 15),
      s"deltas covered by the previous snapshot must be retired: $names")
    assert(names.length <= 12, s"manifest not bounded: ${names.length} files")
    // restart after one more file arrives: the seen-set restores from
    // snapshot + recent deltas, so exactly ONE new file is admitted
    Files.write(Paths.get(dir, "f25.log"), logFor(25).getBytes("UTF-8"))
    assert(run("kdc_v2_compact_b") == 26, "restart lost or re-admitted files")
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

  test("maxFileAge retention: snapshots bounded, purged-but-present files never re-admitted") {
    import java.nio.file.Files
    val dir = "target/scratch/kdc_v2_retention"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def session(u: String): String =
      s"2015-11-22T10:00:00 AS-REQ $u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
        s"2015-11-22T10:00:00 ENC-TS Pre-authentication succeeded -- $u@X.ORG\n" +
        "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n"
    val base = System.currentTimeMillis() - 60L * 60 * 1000
    def writeLog(name: String, user: String, modOffsetMin: Long): Unit = {
      val f = new java.io.File(dir, name)
      Files.write(f.toPath, session(user).getBytes("UTF-8"))
      assert(f.setLastModified(base + modOffsetMin * 60000L))
    }
    (0 until 12).foreach(i => writeLog(f"log-$i%03d.log", f"u$i%03d", i))
    val cp = s"$dir/_checkpoint"
    def runOnce(qname: String): Long = {
      val q = spark.readStream.format("kdclog")
        .option("maxFilesPerTrigger", "1")
        .option("manifestCompactInterval", "5")
        .option("maxFileAge", "3m")
        .load(dir)
        .groupBy().count()
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(qname).collect().head.getLong(0)
      spark.catalog.dropTempView(qname)
      n
    }
    // ids 0..11 admit log-000..011 (1 file per batch, lexical order =
    // mod-time order); compaction at ids 5 and 10 purges entries
    // behind (latest mod - 3m). Every file still admitted EXACTLY
    // once: purged files are held out by the admission age gate, not
    // by membership
    assert(runOnce("kdc_v2_ret_a") == 12L,
      "every file should be admitted exactly once on the first run")
    // the id-10 snapshot saw files 0..10 (latest = base+10min, horizon
    // = base+7min) -> exactly {7,8,9,10} survive: bounded by the
    // retention window, not by files-ever-seen
    val manifestDir = new java.io.File(s"$cp/sources/0/kdc-file-manifest")
    val compacts = manifestDir.listFiles().map(_.getName)
      .filter(_.endsWith(".compact")).sortBy(_.stripSuffix(".compact").toInt)
    assert(compacts.nonEmpty, "no compact snapshot written")
    val snap = Files.readString(
      new java.io.File(manifestDir, compacts.last).toPath)
    val snapKeys = "log-\\d+".r.findAllIn(snap).toSet
    assert(snapKeys == Set("log-007", "log-008", "log-009", "log-010"),
      s"snapshot not bounded by the retention window: $snapKeys")
    // restart: one fresh-mod file (admitted) and one ancient-mod file
    // (behind the horizon — silently skipped, the documented edge);
    // the purged-but-still-present log-000..006 must NOT re-admit
    writeLog("log-012.log", "u012", 12L)
    writeLog("ancient.log", "uOLD", 0L)
    assert(runOnce("kdc_v2_ret_b") == 13L,
      "restart should admit exactly the one in-window new file")
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

  test("scope option: batch file pruning equals the pushed-filter path; unknown keys fail loudly") {
    val root = KdcParseQueries.fleetFixtureDir()
    val q = spark.read.format("kdclog")
      .option("recursive", "true").option("scope", "day=2015-11-22").load(root)
      .select(col("client"), col("ts"))
    val planned = kdcScan(q).toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.kdc.v2.KdcInputPartition].path).distinct
    assert(planned.length == 1 && planned.head.contains("day=2015-11-22"),
      s"scope option did not prune files: ${planned.mkString(", ")}")
    val viaOption = q.collect().map(_.toString).sorted.toSeq
    val viaFilter = spark.read.format("kdclog").option("recursive", "true").load(root)
      .filter(col("day") === "2015-11-22").select(col("client"), col("ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaOption == viaFilter, "scope option diverged from the pushed filter")
    val bad = intercept[Throwable] {
      spark.read.format("kdclog")
        .option("recursive", "true").option("scope", "bogus=1").load(root).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(bad).exists(_.contains("scope key 'bogus'")),
      s"unknown scope key did not fail loudly: $bad")
  }

  test("scoped tail: out-of-scope directories are never LISTED, out-of-scope files never admitted") {
    import java.nio.file.{Files, Paths}
    val root = "target/scratch/kdc_v2_scoped_tail"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    Seq("2015-11-20", "2015-11-21", "2015-11-22").zipWithIndex.foreach { case (day, i) =>
      Files.createDirectories(Paths.get(s"$root/day=$day"))
      Files.write(Paths.get(s"$root/day=$day/kdc.log"),
        (if (i == 0) KdcParseQueries.host1Log else KdcParseQueries.host2Log).getBytes("UTF-8"))
    }
    // inference walks unscoped (layout discovery needs the keys); the
    // stream's own walk is the one that must prune
    val rs = spark.readStream.format("kdclog")
      .option("recursive", "true").option("scope", "day=2015-11-21").load(root)
      .groupBy(col("client")).agg(count(lit(1)).as("n"))
    val dirs = graft.kdc.v2.KdcFileLayout.dirsListed
    val before = dirs.get()
    val q = rs.writeStream.format("memory").queryName("kdc_v2_scoped_tail")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val listed = dirs.get() - before
    val got = spark.table("kdc_v2_scoped_tail").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.dropTempView("kdc_v2_scoped_tail")
    // AvailableNow = ONE prepare walk: the root + exactly the scoped
    // day directory — day=2015-11-20 and day=2015-11-22 cost zero RPCs
    assert(listed == 2, s"scoped tail listed $listed dirs, want 2 (root + scoped day)")
    val want = spark.read.format("kdclog").load(s"$root/day=2015-11-21/kdc.log")
      .groupBy(col("client")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"scoped tail admitted out-of-scope data: $got vs $want")
  }

  test("maxFileAgeDirKey: directories wholly behind the horizon are skipped BEFORE listing") {
    import java.nio.file.{Files, Paths}
    val root = "target/scratch/kdc_v2_horizon_tail"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    // day=D directories whose file mod times sit at D 12:00 UTC
    def dayMillis(day: String): Long =
      java.time.LocalDate.parse(day, fmt).atTime(12, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def plant(day: String, name: String, content: String, modDay: String): Unit = {
      Files.createDirectories(Paths.get(s"$root/day=$day"))
      val f = new java.io.File(s"$root/day=$day/$name")
      Files.write(f.toPath, content.getBytes("UTF-8"))
      assert(f.setLastModified(dayMillis(modDay)))
    }
    plant("2015-11-20", "kdc.log", KdcParseQueries.host1Log, "2015-11-20")
    plant("2015-11-21", "kdc.log", KdcParseQueries.host2Log, "2015-11-21")
    plant("2015-11-22", "kdc.log", KdcParseQueries.host1Log, "2015-11-22")
    val cp = s"$root/_checkpoint"
    def run(qname: String): Long = {
      val q = spark.readStream.format("kdclog")
        .option("recursive", "true")
        .option("maxFileAge", "36h").option("maxFileAgeDirKey", "day")
        .load(root)
        .groupBy().count()
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(qname).collect().head.getLong(0)
      spark.catalog.dropTempView(qname)
      n
    }
    // first run: empty seen set -> no horizon -> everything admits
    val all = run("kdc_v2_horizon_a")
    assert(all > 0)
    // new day arrives; a LATE file also lands in the oldest directory
    plant("2015-11-23", "kdc.log", KdcParseQueries.host2Log, "2015-11-23")
    plant("2015-11-20", "late.log", KdcParseQueries.host1Log, "2015-11-23")
    // restart: horizon = (max seen mod = 22nd 12:00) - 36h = 21st
    // 00:00 -> day=2015-11-20 is wholly behind it and must not even be
    // LISTED (the directory's declared date is authoritative — the
    // late file's fresh mod time does not resurrect the subtree)
    val dirs = graft.kdc.v2.KdcFileLayout.dirsListed
    val rs = spark.readStream.format("kdclog")
      .option("recursive", "true")
      .option("maxFileAge", "36h").option("maxFileAgeDirKey", "day")
      .load(root)
      .groupBy().count()
    val before = dirs.get()
    val q2 = rs.writeStream.format("memory").queryName("kdc_v2_horizon_b")
      .outputMode("complete").option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val listed = dirs.get() - before
    val total = spark.table("kdc_v2_horizon_b").collect().head.getLong(0)
    spark.catalog.dropTempView("kdc_v2_horizon_b")
    assert(listed == 4,
      s"horizon tail listed $listed dirs, want 4 (root + days 21..23; day=20 pruned unlisted)")
    val newDay = Sessionizer.sessionize(KdcParseQueries.host2Log.linesIterator).size
    assert(total == all + newDay,
      s"restart should admit exactly the new day's file: got $total, want ${all + newDay}")
  }

  test("age-gate skips are observable: WARN counter surfaces in progress source metrics") {
    import java.nio.file.Files
    val dir = "target/scratch/kdc_v2_skipmetrics"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def session(u: String): String =
      s"2015-11-22T10:00:00 AS-REQ $u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
        s"2015-11-22T10:00:00 ENC-TS Pre-authentication succeeded -- $u@X.ORG\n" +
        "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n"
    val base = System.currentTimeMillis() - 60L * 60 * 1000
    def writeLog(name: String, user: String, modOffsetMin: Long): Unit = {
      val f = new java.io.File(dir, name)
      Files.write(f.toPath, session(user).getBytes("UTF-8"))
      assert(f.setLastModified(base + modOffsetMin * 60000L))
    }
    (0 until 6).foreach(i => writeLog(f"log-$i%03d.log", f"u$i%03d", i * 2))
    val cp = s"$dir/_checkpoint"
    def run(qname: String): Seq[Map[String, String]] = {
      val q = spark.readStream.format("kdclog")
        .option("maxFileAge", "3m").load(dir)
        .groupBy().count()
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.catalog.dropTempView(qname)
      q.recentProgress.toSeq.flatMap(_.sources.toSeq)
        .map(_.metrics.asScala.toMap)
    }
    // one batch admits 0..5 (empty seen set -> no horizon yet)
    val m1 = run("kdc_v2_skip_a")
    assert(m1.forall(_.get("skippedTooOldFiles").forall(_ == "0")),
      s"first run should skip nothing: $m1")
    // a fresh file moves the horizon past an ancient latecomer: the
    // restart must admit the fresh file, skip the ancient one, and SAY
    // SO in the source metrics instead of reading as an empty source
    writeLog("log-fresh.log", "uNEW", 12L)
    writeLog("ancient.log", "uOLD", 0L)
    val m2 = run("kdc_v2_skip_b")
    assert(m2.exists(_.get("skippedTooOldFiles").contains("1")),
      s"age-gate skip not surfaced in source metrics: $m2")
    assert(m2.exists(m => m.get("skippedTooOldFilesTotal").exists(_.toLong >= 1L)),
      s"cumulative skip count missing: $m2")
  }

  test("manifest format marker: fresh checkpoints are stamped; legacy + maxFileAge fails loudly") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.kdc.v2.{KdcBatchOffset, KdcMicroBatchStream}
    val dir = "target/scratch/kdc_v2_format"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    Files.write(Paths.get(dir, "host1.log"), KdcParseQueries.host1Log.getBytes("UTF-8"))
    def stream(cp: String, opts: Map[String, String]): KdcMicroBatchStream =
      new KdcMicroBatchStream(dir, opts, Seq.empty,
        graft.kdc.v2.KdcLogTable.schema, Array.empty, cp)
    // fresh checkpoint: the first admission stamps the _format marker
    val cpFresh = s"$dir/_cp_fresh"
    stream(cpFresh, Map.empty).latestOffset(KdcBatchOffset(-1L), ReadLimit.allAvailable())
    val marker = Paths.get(s"$cpFresh/kdc-file-manifest/_format")
    assert(Files.exists(marker), "fresh manifest not stamped with _format")
    assert(Files.readString(marker).contains("\"version\":2"))
    // legacy checkpoint (pre-marker, values were file LENGTHS):
    // resumes fine without maxFileAge — and is NOT retroactively
    // stamped (stamping would forge the very misread the marker blocks)
    val cpLegacy = s"$dir/_cp_legacy"
    new java.io.File(s"$cpLegacy/kdc-file-manifest").mkdirs()
    Files.writeString(Paths.get(s"$cpLegacy/kdc-file-manifest/0"),
      s"""{"$dir/host1.log":752}""")
    stream(cpLegacy, Map.empty).latestOffset(KdcBatchOffset(0L), ReadLimit.allAvailable())
    assert(!Files.exists(Paths.get(s"$cpLegacy/kdc-file-manifest/_format")),
      "legacy manifest must never be retroactively stamped")
    // legacy + maxFileAge: the horizon would misread lengths as mod
    // times — fail loudly instead of purging/skipping wrongly
    val ex = intercept[IllegalStateException] {
      stream(cpLegacy, Map("maxFileAge" -> "1h"))
        .latestOffset(KdcBatchOffset(0L), ReadLimit.allAvailable())
    }
    assert(ex.getMessage.contains("predates the _format marker"), ex.getMessage)
    // a manifest from a NEWER writer fails loudly too
    val cpFuture = s"$dir/_cp_future"
    new java.io.File(s"$cpFuture/kdc-file-manifest").mkdirs()
    Files.writeString(Paths.get(s"$cpFuture/kdc-file-manifest/_format"),
      """{"version":99}""")
    val ex2 = intercept[IllegalStateException] {
      stream(cpFuture, Map.empty).latestOffset(KdcBatchOffset(-1L), ReadLimit.allAvailable())
    }
    assert(ex2.getMessage.contains("newer than this reader"), ex2.getMessage)
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

  test("scope and maxFileAgeDirKey compose: one dirFilter prunes on both axes") {
    import java.nio.file.{Files, Paths}
    val root = "target/scratch/kdc_v2_scope_horizon"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    def dayMillis(day: String): Long =
      java.time.LocalDate.parse(day, fmt).atTime(12, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    // two hosts x three days; the tail scopes to hostA AND ages on day
    for (host <- Seq("hostA", "hostB"); day <- Seq("2015-11-20", "2015-11-21", "2015-11-22")) {
      val d = Paths.get(s"$root/host=$host/day=$day")
      Files.createDirectories(d)
      val f = d.resolve("kdc.log").toFile
      Files.write(f.toPath, KdcParseQueries.host1Log.getBytes("UTF-8"))
      assert(f.setLastModified(dayMillis(day)))
    }
    val cp = s"$root/_checkpoint"
    // schema inference walks UNPRUNED (layout discovery needs every
    // key) — build each leg's frame BEFORE the counter snapshot so
    // only the STREAM's own prepare walk is measured
    def frame() = spark.readStream.format("kdclog")
      .option("recursive", "true")
      .option("scope", "host=hostA")
      .option("maxFileAge", "36h").option("maxFileAgeDirKey", "day")
      .load(root)
      .groupBy().count()
    def run(df: org.apache.spark.sql.DataFrame, qname: String): Long = {
      val q = df.writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(qname).collect().head.getLong(0)
      spark.catalog.dropTempView(qname)
      n
    }
    val perFile = Sessionizer.sessionize(KdcParseQueries.host1Log.linesIterator).size
    // first run: hostA's three days only (scope), no horizon yet
    assert(run(frame(), "kdc_v2_sh_a") == 3L * perFile,
      "scope must admit exactly hostA's files")
    // a new day lands on BOTH hosts; restart with the horizon in force
    for (host <- Seq("hostA", "hostB")) {
      val d = Paths.get(s"$root/host=$host/day=2015-11-23")
      Files.createDirectories(d)
      val f = d.resolve("kdc.log").toFile
      Files.write(f.toPath, KdcParseQueries.host1Log.getBytes("UTF-8"))
      assert(f.setLastModified(dayMillis("2015-11-23")))
    }
    val df2 = frame() // inference walk happens HERE, outside the count
    val dirs = graft.kdc.v2.KdcFileLayout.dirsListed
    val before = dirs.get()
    assert(run(df2, "kdc_v2_sh_b") == 4L * perFile,
      "restart must admit exactly hostA's new day")
    val listed = dirs.get() - before
    // one prepare walk: root + host=hostA + its days 21..23 (horizon
    // = 22nd 12:00 - 36h -> 21st 00:00 prunes day=20; scope prunes
    // the whole hostB subtree before listing)
    assert(listed == 5,
      s"composed scope+horizon tail listed $listed dirs, want 5")
  }

  test("orphan deltas cannot inflate the dir-pruning horizon: restart re-walks, loses nothing") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.kdc.v2.{KdcBatchOffset, KdcMicroBatchStream}
    val root = "target/scratch/kdc_v2_orphan_horizon"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    def dayMillis(day: String): Long =
      java.time.LocalDate.parse(day, fmt).atTime(12, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def plant(day: String): String = {
      val d = Paths.get(s"$root/day=$day")
      Files.createDirectories(d)
      val f = d.resolve("kdc.log").toFile
      Files.write(f.toPath, KdcParseQueries.host1Log.getBytes("UTF-8"))
      assert(f.setLastModified(dayMillis(day)))
      f.getAbsolutePath
    }
    val f20 = plant("2015-11-20")
    plant("2015-11-21")
    plant("2015-11-22")
    // checkpoint: batch 0 (committed by the engine) admitted day=20;
    // batch 1 is an ORPHAN of a crashed run carrying a FRESH mod time
    // (day 23) — its horizon (23rd-36h = 22nd 00:00) would dir-prune
    // day=21 away, and day=21's file is UNSEEN: reusing that listing
    // loses it silently
    val cp = s"$root/_cp"
    val mdir = s"$cp/kdc-file-manifest"
    new java.io.File(mdir).mkdirs()
    Files.writeString(Paths.get(s"$mdir/_format"), """{"version":2}""")
    Files.writeString(Paths.get(s"$mdir/0"),
      s"""{"file:$f20":${dayMillis("2015-11-20")}}""")
    Files.writeString(Paths.get(s"$mdir/1"),
      s"""{"$root/ghost.log":${dayMillis("2015-11-23")}}""")
    val stream = new KdcMicroBatchStream(root,
      Map("recursive" -> "true", "maxFileAge" -> "36h",
        "maxFileAgeDirKey" -> "day"),
      Seq("day"), graft.kdc.v2.KdcLogTable.schema, Array.empty, cp)
    stream.prepareForTriggerAvailableNow() // horizon inflated by the orphan here
    val next = stream.latestOffset(KdcBatchOffset(0L), ReadLimit.allAvailable())
    assert(next == KdcBatchOffset(1L), s"no admission: $next")
    val admitted = Files.readString(Paths.get(s"$mdir/1"))
    assert(admitted.contains("day=2015-11-21") && admitted.contains("day=2015-11-22"),
      s"orphan-inflated horizon lost in-window files; batch 1 admitted: $admitted")
    assert(!admitted.contains("ghost"), "orphan entry must be overwritten, not replayed")
  }

  test("manifest _format marker survives compaction and retention restarts") {
    import java.nio.file.Files
    val dir = "target/scratch/kdc_v2_marker_compact"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def session(u: String): String =
      s"2015-11-22T10:00:00 AS-REQ $u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
        s"2015-11-22T10:00:00 ENC-TS Pre-authentication succeeded -- $u@X.ORG\n" +
        "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n"
    val base = System.currentTimeMillis() - 60L * 60 * 1000
    (0 until 12).foreach { i =>
      val f = new java.io.File(dir, f"log-$i%03d.log")
      Files.write(f.toPath, session(f"u$i%03d").getBytes("UTF-8"))
      assert(f.setLastModified(base + i * 120000L))
    }
    val cp = s"$dir/_checkpoint"
    def run(qname: String): Unit = {
      val q = spark.readStream.format("kdclog")
        .option("maxFilesPerTrigger", "1")
        .option("manifestCompactInterval", "5")
        .option("maxFileAge", "6m")
        .load(dir)
        .groupBy().count()
        .writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.catalog.dropTempView(qname)
    }
    run("kdc_v2_marker_a")
    val manifestDir = new java.io.File(s"$cp/sources/0/kdc-file-manifest")
    // compaction cycles ran (snapshots + clean); the marker must not be
    // swept with the retired deltas/snapshots
    assert(manifestDir.listFiles().exists(_.getName.endsWith(".compact")))
    assert(new java.io.File(manifestDir, "_format").exists(),
      "_format marker lost across compaction clean()")
    // and a RESTART over the same checkpoint (marker present, maxFileAge
    // set) loads fine — the fail-loud path is only for marker-LESS
    // manifests with entries
    Files.write(new java.io.File(dir, "log-012.log").toPath,
      session("u012").getBytes("UTF-8"))
    new java.io.File(dir, "log-012.log").setLastModified(base + 12 * 120000L)
    run("kdc_v2_marker_b")
    assert(new java.io.File(manifestDir, "_format").exists())
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

  test("reportPartitioning: key-grouped scans aggregate and join day-to-day with ZERO shuffle") {
    val root = KdcParseQueries.fleetFixtureDir()
    val vKey = "spark.sql.sources.v2.bucketing.enabled"
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedV = spark.conf.get(vKey)
    val savedB = spark.conf.get(bKey)
    spark.conf.set(vKey, "true")
    spark.conf.set(bKey, "-1") // force the join to prove co-partitioning, not broadcast
    try {
      def read() = spark.read.format("kdclog")
        .option("recursive", "true").option("reportPartitioning", "true").load(root)
      // aggregation clustered on the partition keys: satisfied by the
      // scan's KeyGroupedPartitioning — no exchange anywhere
      val agg = read().groupBy(col("host"), col("day")).agg(count(lit(1)).as("n"))
      val aggRows = agg.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(aggRows.map(t => (t._1, t._2)).sorted.toSeq ==
        Seq(("hostA", "2015-11-22"), ("hostB", "2015-11-23")))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"key-grouped aggregation still shuffled:\n$aggPlan")
      // storage-partitioned JOIN: two independent parses of the fleet,
      // aggregated per (host, day), join co-partitioned with no shuffle
      val a = read().groupBy(col("host"), col("day")).agg(count(lit(1)).as("n"))
      val b = read().groupBy(col("host"), col("day")).agg(max(col("ts")).as("last_ts"))
      val j = a.join(b, Seq("host", "day"))
      val got = j.collect()
      assert(got.length == 2, s"SPJ join row count: ${got.length}")
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("ShuffleExchange"),
        s"storage-partitioned join still shuffled:\n$jPlan")
    } finally {
      spark.conf.set(vKey, savedV)
      spark.conf.set(bKey, savedB)
    }
  }
}
