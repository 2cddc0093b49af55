package graft.kdc

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef

/** Driver-checked entries for the raw-log parse pipeline — the
  * reference's central kernel (`KDCLogRecordReader.java:209-324` +
  * `UserTimeRunner.java:34-48`) exercised end-to-end through the
  * driver's CORRECTNESS gate, not only through ScalaTest.
  *
  * The input is a deterministic embedded fixture (not the sfDir tables —
  * the raw-log format has no parquet representation), materialized to a
  * temp dir on each call; the oracles are literal `VALUES` relations of
  * the hand-computed expected output, so DuckDB verifies rows, schema
  * and hash exactly like every other oracle-checked query.
  *
  * The fixture covers: repeat AS-REQ successes per user, all six error
  * classes plus the implicit MISSING_PREAUTH bucket
  * (`UserTimeMapper.java:36-41`), TGS sessions incl. a referral answer
  * (excluded from service stats, `perl/kdcmapper.pl:42-52`), a
  * header-overwrite session (`KDCLogRecordReader.java:265`), and a
  * trailing partial session that must be dropped
  * (`KDCLogRecordReader.java:317-320`).
  *
  * Every row that parses sessions reads the `kdclog` table, which runs
  * the one split-aligned session reader ([[KdcSessionReader]] +
  * [[Sessionizer.sessionize]]): typed through [[KdcSource.recordsAligned]]
  * (default splits, except `kdc_parse_service_stats`, whose 256-byte
  * max splits force boundaries into the middle of sessions and lines,
  * which the reader must repair), or directly (the `_v2` rows and
  * `kdc_parse_service_stats_streaming`). `kdc_parse_user_stats_streaming`
  * alone is a line-level extractor, not a session parse.
  */
object KdcParseQueries {

  private val Realm = "SQUILL.DEMENTIA.ORG"
  private val ForeignRealm = "FEDERATED.ORG"

  private def asHeader(ts: String, user: String, ip: String) =
    s"$ts AS-REQ $user@$Realm from IPv4:$ip for krbtgt/$Realm@$Realm"
  private def tgsHeader(ts: String, user: String, ip: String, svc: String) =
    s"$ts TGS-REQ $user@$Realm from IPv4:$ip for $svc@$Realm"
  private def preauthOk(ts: String, user: String) =
    s"$ts ENC-TS Pre-authentication succeeded -- $user@$Realm using aes256-cts-hmac-sha1-96"
  private def sending(ts: String, ip: String) =
    s"$ts sending 752 bytes to IPv4:$ip"

  /** AS-REQ traffic: cg2v ×2 ok, alice ok/BAD_PASSWORD/ok(next day),
    * mallory BAD_NAME, expired UNUSABLE_NAME, nopre MISSING_PREAUTH. */
  private[kdc] val host1Log: String = Seq(
    asHeader("2015-11-22T15:25:20", "cg2v", "127.0.0.1"),
    "2015-11-22T15:25:20 Client sent patypes: ENC-TS, REQ-ENC-PA-REP",
    preauthOk("2015-11-22T15:25:20", "cg2v"),
    "2015-11-22T15:25:20 Requested flags: renewable-ok, proxiable, forwardable",
    sending("2015-11-22T15:25:20", "127.0.0.1"),
    asHeader("2015-11-22T16:10:00", "cg2v", "127.0.0.1"),
    preauthOk("2015-11-22T16:10:00", "cg2v"),
    sending("2015-11-22T16:10:00", "127.0.0.1"),
    asHeader("2015-11-22T17:00:00", "alice", "10.1.2.3"),
    preauthOk("2015-11-22T17:00:00", "alice"),
    sending("2015-11-22T17:00:00", "10.1.2.3"),
    asHeader("2015-11-22T17:30:00", "alice", "10.1.2.3"),
    s"2015-11-22T17:30:00 Failed to decrypt PA-DATA -- alice@$Realm",
    sending("2015-11-22T17:30:00", "10.1.2.3"),
    asHeader("2015-11-22T18:00:00", "mallory", "10.6.6.6"),
    s"2015-11-22T18:00:00 Client not found in database: mallory@$Realm",
    sending("2015-11-22T18:00:00", "10.6.6.6"),
    asHeader("2015-11-22T18:10:00", "expired", "10.7.7.7"),
    s"2015-11-22T18:10:00 Client expired -- expired@$Realm",
    sending("2015-11-22T18:10:00", "10.7.7.7"),
    asHeader("2015-11-22T18:20:00", "nopre", "10.8.8.8"),
    sending("2015-11-22T18:20:00", "10.8.8.8"),
    asHeader("2015-11-23T07:00:00", "alice", "10.1.2.3"),
    preauthOk("2015-11-23T07:00:00", "alice"),
    sending("2015-11-23T07:00:00", "10.1.2.3"),
    // preauth succeeded WITHOUT a "using <et>" suffix → UNK enctype
    asHeader("2015-11-23T08:00:00", "plain", "10.9.1.1"),
    s"2015-11-23T08:00:00 ENC-TS Pre-authentication succeeded -- plain@$Realm",
    sending("2015-11-23T08:00:00", "10.9.1.1"),
    // FOREIGN-realm success: included by unscoped queries, excluded by
    // the realm-scoped driver row (F6 — the reference Perl hardcodes
    // its realm in the match; here it is a parameter with a driver
    // check on both settings)
    s"2015-11-23T09:00:00 AS-REQ visitor@$ForeignRealm from IPv4:10.11.11.11 for krbtgt/$ForeignRealm@$ForeignRealm",
    s"2015-11-23T09:00:00 ENC-TS Pre-authentication succeeded -- visitor@$ForeignRealm using aes256-cts-hmac-sha1-96",
    sending("2015-11-23T09:00:00", "10.11.11.11")).mkString("\n") + "\n"

  /** TGS traffic: host/www ×2 ok, imap ok, referral (excluded),
    * BAD_AUTHENTICATION, UNKNOWN, BAD_PARAMETERS, header-overwrite
    * (cifs counts, host/www does not), trailing partial (dropped). */
  private[kdc] val host2Log: String = Seq(
    tgsHeader("2015-11-22T19:00:00", "cg2v", "127.0.0.1", "host/www.example.org"),
    "2015-11-22T19:00:00 Client supported enctypes: aes256-cts-hmac-sha1-96, aes128-cts-hmac-sha1-96 using aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96",
    sending("2015-11-22T19:00:00", "127.0.0.1"),
    tgsHeader("2015-11-22T19:05:00", "cg2v", "127.0.0.1", "host/www.example.org"),
    sending("2015-11-22T19:05:00", "127.0.0.1"),
    tgsHeader("2015-11-22T19:10:00", "alice", "10.1.2.3", "imap/mail.example.org"),
    sending("2015-11-22T19:10:00", "10.1.2.3"),
    tgsHeader("2015-11-22T19:15:00", "bob", "10.9.9.9", "host/www.example.org"),
    "2015-11-22T19:15:00 Returning a referral to realm OTHER.ORG",
    sending("2015-11-22T19:15:00", "10.9.9.9"),
    tgsHeader("2015-11-22T19:20:00", "bob", "10.9.9.9", "ldap/dir.example.org"),
    s"2015-11-22T19:20:00 Too large time skew -- bob@$Realm",
    sending("2015-11-22T19:20:00", "10.9.9.9"),
    tgsHeader("2015-11-22T19:25:00", "carol", "10.2.2.2", "host/www.example.org"),
    s"2015-11-22T19:25:00 Failed building TGS-REP to carol@$Realm",
    sending("2015-11-22T19:25:00", "10.2.2.2"),
    tgsHeader("2015-11-22T19:30:00", "dave", "10.3.3.3", "nfs/files.example.org"),
    "2015-11-22T19:30:00 Request to forward non-forwardable ticket",
    sending("2015-11-22T19:30:00", "10.3.3.3"),
    tgsHeader("2015-11-22T19:40:00", "frank", "10.4.4.4", "host/www.example.org"),
    tgsHeader("2015-11-22T19:40:00", "frank", "10.4.4.4", "cifs/share.example.org"),
    sending("2015-11-22T19:40:00", "10.4.4.4"),
    tgsHeader("2015-11-22T19:50:00", "eve", "10.5.5.5", "host/www.example.org")).mkString("\n") + "\n"

  /** Materialize the fixture logs (idempotent, same bytes every call).
    * Writes go through a temp file + atomic move so a concurrent
    * reader can never observe a truncated/torn file. The temp name is
    * '_'-prefixed — Hadoop input formats skip '_'/'.'-prefixed files,
    * so even a crash between create and move can't leave a stale copy
    * that a later run would glob as an extra log (which would double
    * every fixture count); stale temps from older versions are also
    * swept on entry. */
  private[graft] def fixtureDir(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_kdc_fixture")
    java.nio.file.Files.createDirectories(dir)
    // sweep leftovers without racing a concurrent writer: un-prefixed
    // temps are always stale (pre-fix versions named them without '_');
    // '_'-prefixed temps are only stale once they are far older than
    // any in-flight write could be — otherwise a crash between
    // createTempFile and the atomic move would accumulate orphans
    // forever on long-lived hosts
    val stale = java.nio.file.Files.newDirectoryStream(dir, "*.tmp")
    try stale.forEach { p =>
      val name = p.getFileName.toString
      val oldEnough = !name.startsWith("_") ||
        java.nio.file.Files.getLastModifiedTime(p).toMillis <
          System.currentTimeMillis() - (60L * 60 * 1000)
      if (oldEnough) java.nio.file.Files.deleteIfExists(p)
    } finally stale.close()
    def put(name: String, content: String): Unit = {
      val tmp = java.nio.file.Files.createTempFile(dir, s"_$name", ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put("host1.log", host1Log)
    put("host2.log", host2Log)
    dir.toString
  }

  /** The same two fixture logs laid out as a partitioned log FLEET —
    * `host=…/day=…/kdc.log`, the rotation layout the V2 source's
    * partition-path pruning targets. The `day` label is the file's
    * rotation date (host1's log opens on 2015-11-22 and runs past
    * midnight — partition values scope FILES, not rows, exactly like
    * a production log drop). Idempotent, atomic writes like
    * [[fixtureDir]]. */
  private[kdc] def fleetFixtureDir(): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_kdc_fleet_fixture")
    def put(rel: String, content: String): Unit = {
      val target = root.resolve(rel)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(target.getParent, "_kdc", ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put("host=hostA/day=2015-11-22/kdc.log", host1Log)
    put("host=hostB/day=2015-11-23/kdc.log", host2Log)
    root.toString
  }

  /** README #1+#2 over the typed `kdclog` read. `sfDir` is
    * unused: the input is the embedded raw-log fixture. */
  def userStats(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.userAuthStats(KdcSource.recordsAligned(spark, fixtureDir()))

  /** F6 realm scoping as a driver row: same pipeline as [[userStats]]
    * but restricted to the home realm, so the fixture's foreign-realm
    * success must be EXCLUDED here while the unscoped row includes it
    * — both oracle-checked, making the parameter's effect visible to
    * the gate rather than only to specs. */
  def userStatsScoped(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.userAuthStats(KdcSource.recordsAligned(spark, fixtureDir()),
      realm = Some(Realm))

  /** README #3+#4 over the split-aligned parse path, with 256-byte max
    * splits so the driver run crosses many torn-session boundaries. */
  def serviceStats(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.serviceUseStats(
      KdcSource.recordsAligned(spark, fixtureDir(), maxSplitBytes = Some(256L)))

  /** README #6 error buckets, incl. the implicit MISSING_PREAUTH. */
  def errorStats(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.commonErrors(KdcSource.recordsAligned(spark, fixtureDir()))

  /** Structured Streaming in the driver's signal: the stateless
    * preauth-success extractor + windowed per-day/user aggregation
    * ([[graft.streaming.StreamingPipeline.streamingUserAuthCounts]])
    * run over the fixture with an AvailableNow trigger into a memory
    * sink (complete mode, so the final day's window is emitted at
    * end-of-stream), returned as a batch frame for the oracle. This
    * is the same micro-batch engine/plan a continuous deployment runs
    * — only the trigger differs. */
  def userStatsStreaming(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamingPipeline.runOneShot(
      graft.streaming.StreamingPipeline.streamingUserAuthCounts(spark, fixtureDir()),
      "kdc_stream_user_auth", "complete", Seq("day", "client"))

  /** The TGS branch (the Perl mapper's cross-line `s:` branch,
    * `kdcmapper.pl:42-52`) through the real micro-batch engine:
    * `readStream` over the `kdclog` table with `maxFilesPerTrigger = 1`
    * (two file-arrival micro-batches, each parsed by the split-aligned
    * session reader) into the complete-mode service aggregation,
    * AvailableNow trigger, memory sink — built like
    * [[userStatsV2Streaming]]; the stateFUL (cross-line) counterpart of
    * the stateless AS-success streaming row above. */
  def serviceStatsStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val ds = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1")
      .load(fixtureDir())
      .as(org.apache.spark.sql.Encoders.product[KdcLogRecord])
    graft.streaming.StreamingPipeline.runOneShot(
      KdcQueries.serviceUseStats(ds),
      "kdc_stream_service_use", "complete", Seq("service"))
  }

  /** README #1+#2 through the DataSourceV2 table (SURVEY §4/§7.3's
    * 100 TB parse posture): same aggregation, but the scan IS the
    * split-aligned session parse and the AUTH/validity predicates
    * push into it (KdcV2Spec pins the pushed filters and the pruned
    * read schema on the executed plan). Shares
    * `kdc_parse_user_stats`' oracle verbatim. */
  def userStatsV2(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.userAuthStats(
      spark.read.format("kdclog").load(fixtureDir())
        .as(org.apache.spark.sql.Encoders.product[KdcLogRecord]))

  /** F6 realm scoping through the V2 source: the `crealm` equality
    * pushes INTO the parse stage, so foreign-realm sessions are never
    * materialized as rows — the pushdown the reference's hardcoded
    * Perl realm match (`perl/kdcmapper.pl:38,42`) approximated by
    * construction. Shares the scoped oracle. */
  def userStatsV2Scoped(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.userAuthStats(
      spark.read.format("kdclog").load(fixtureDir())
        .as(org.apache.spark.sql.Encoders.product[KdcLogRecord]),
      realm = Some(Realm))

  /** Partition-path FILE pruning through the gate: the fleet layout's
    * `day` segment surfaces as a partition column, the day-equality
    * predicate is evaluated driver-side during split planning, and the
    * other day's file is never OPENED (KdcV2Spec pins the planned
    * files). host1's log holds every AS session in the fixture — the
    * TGS-only host2 log contributes nothing to user auth stats — so
    * this row shares `kdc_parse_user_stats`' oracle verbatim: pruning
    * must be invisible to the answer while removing a file from the
    * plan. */
  def userStatsV2Pruned(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    KdcQueries.userAuthStats(
      spark.read.format("kdclog").option("recursive", "true")
        .load(fleetFixtureDir())
        .filter(col("day") === "2015-11-22")
        .drop("host", "day")
        .as(org.apache.spark.sql.Encoders.product[KdcLogRecord]))
  }

  /** The reference's actual production shape — tailing a growing KDC
    * log directory — through the REAL micro-batch engine: `readStream`
    * over the V2 table with `maxFilesPerTrigger = 1`, so the fixture's
    * two host logs arrive as TWO file-arrival micro-batches (admission
    * bounded under Trigger.AvailableNow via
    * SupportsTriggerAvailableNow) and the complete-mode aggregation
    * must converge to the batch answer. Shares
    * `kdc_parse_user_stats`' oracle verbatim. */
  def userStatsV2Streaming(spark: SparkSession, sfDir: String): DataFrame = {
    val ds = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1")
      .load(fixtureDir())
      .as(org.apache.spark.sql.Encoders.product[KdcLogRecord])
    graft.streaming.StreamingPipeline.runOneShot(
      KdcQueries.userAuthStats(ds),
      "kdc_v2_user_auth", "complete", Seq("client"))
  }

  /** 17th streaming row — APPEND-mode watermarked aggregation over the
    * V2 log tail. The 16 other streaming rows finalize via
    * complete-mode one-shot drains; a production tail emits FINALIZED
    * windows incrementally, which is what this row exercises:
    * event-time daily windows over successful AS auths with a 1-hour
    * watermark, where a window only reaches the sink once the
    * watermark proves it can no longer change. A one-shot drain
    * therefore needs the watermark to CLEAR the real data, so the
    * scratch tail dir carries TWO staggered far-future sentinel
    * sessions in lexically-last files (the kdclog source admits files
    * in lexical order, so `maxFilesPerTrigger=1` makes each sentinel
    * its own final micro-batch — no mtime games needed, unlike the
    * parquet file source): eviction in batch N uses the watermark set
    * at the END of batch N−1, so sentinel 1's batch still flushes with
    * the pre-sentinel watermark and sentinel 2's batch is the one that
    * runs with it in force (the stream_outer_join lesson,
    * StreamingPipeline.writeOuterSource). Sentinel rows are dropped
    * AFTER the drain — a pre-watermark filter would be pushed below
    * the EventTimeWatermark operator and silently stall the flush.
    * Shares `kdc_parse_user_stats_streaming`'s hand-derived windowed
    * oracle verbatim. */
  def userStatsV2Watermarked(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sentinelUser = "zz-sentinel"
    def sentinelLog(day: String): String = Seq(
      asHeader(s"${day}T00:00:00", sentinelUser, "10.0.0.99"),
      preauthOk(s"${day}T00:00:00", sentinelUser),
      sending(s"${day}T00:00:00", "10.0.0.99")).mkString("\n") + "\n"
    val path = new java.io.File(
      s"target/scratch/kdc_wm_${spark.sparkContext.applicationId}_" +
        java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    new java.io.File(path).mkdirs()
    def put(name: String, content: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, name), content.getBytes("UTF-8"))
    put("host1.log", host1Log)
    put("host2.log", host2Log)
    put("zz_sentinel1.log", sentinelLog("2030-01-01"))
    put("zz_sentinel2.log", sentinelLog("2030-01-02"))
    val agg = spark.readStream.format("kdclog")
      .option("maxFilesPerTrigger", "1").load(path)
      .filter(col("valid") && col("success") &&
        col("req_type") === "AUTH" && !col("referral"))
      .withColumn("ts_time", to_timestamp(col("ts")))
      .withWatermark("ts_time", "1 hour")
      .groupBy(window(col("ts_time"), "1 day"), col("client"))
      .agg(count(lit(1)).as("n_auth"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("client"), col("n_auth"))
    graft.streaming.StreamingPipeline.runOneShot(
      agg, "kdc_v2_wm_user_auth", "append", Seq("day", "client"))
      .filter(col("client") =!= sentinelUser)
      .orderBy("day", "client")
  }

  /** The CLI's TSV formatting (SURVEY C4/S7) through the gate: the
    * exact lines `KdcMain --report=user` writes, produced by the SAME
    * [[KdcQueries.tsvLines]] expression the sink uses. */
  def userReportTsv(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.tsvLines(
      KdcQueries.userAuthStats(KdcSource.recordsAligned(spark, fixtureDir())))

  /** The Hadoop-counters protocol (SURVEY S8/A5/C6) through the gate:
    * run the fixture parse under [[KdcQueries.withCounters]]' observe
    * metrics, then surface the delivered counter values as a one-row
    * frame. The observe adds ZERO extra passes — the metrics ride the
    * noop materialization action — and the VALUES oracle hand-computes
    * what the reference's reporter would print for this fixture. */
  def countersQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation()
    val recs = KdcQueries.withCounters(
      KdcSource.recordsAligned(spark, fixtureDir()), obs)
    recs.write.format("noop").mode("overwrite").save()
    val m = obs.get
    def c(k: String): Long = m(k).asInstanceOf[Long]
    Seq((c("records"), c("invalid"), c("referrals"), c("errorsfound"), c("badpassword")))
      .toDF("records", "invalid", "referrals", "errorsfound", "badpassword")
  }

  /** Enctype composite keys (the Perl variant's surface, SURVEY A6):
    * per user × preauth enctype, UNK when the preauth line carries no
    * `using` suffix (`perl/kdcmapper-with-enctypes.pl:39-44`). */
  def userEnctypes(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.userEnctypeStats(KdcSource.recordsAligned(spark, fixtureDir()))

  /** Per service × firstSupported/lastSupported/used negotiation key
    * (`perl/kdcmapper-with-enctypes.pl:46-57,78-81`). */
  def serviceEnctypes(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.serviceEnctypeStats(KdcSource.recordsAligned(spark, fixtureDir()))

  /** README #5's HOSTS dimension through the gate: top client IPs by
    * valid-request count ([[KdcQueries.topN]] over client_ip — plans
    * as TakeOrderedAndProject). The 5-row cut lands inside the
    * count-1 tie band, so the (n_req desc, client_ip asc) tie-break
    * is part of what the oracle pins. */
  def topHosts(spark: SparkSession, sfDir: String): DataFrame =
    KdcQueries.topN(KdcSource.recordsAligned(spark, fixtureDir()), "client_ip", 5)

  /** Hand-derived per-user stats for the fixture — shared VERBATIM by
    * the Dataset-reader, V2-batch, and V2-streaming rows (one truth,
    * three parse postures). */
  private val userStatsOracle: String =
    """SELECT * FROM (VALUES
      |  ('alice', '2015-11-22T17:00:00', '2015-11-23T07:00:00', CAST(2 AS BIGINT)),
      |  ('cg2v',  '2015-11-22T15:25:20', '2015-11-22T16:10:00', CAST(2 AS BIGINT)),
      |  ('plain', '2015-11-23T08:00:00', '2015-11-23T08:00:00', CAST(1 AS BIGINT)),
      |  ('visitor', '2015-11-23T09:00:00', '2015-11-23T09:00:00', CAST(1 AS BIGINT))
      |) AS t(client, first_ts, last_ts, n_auth) ORDER BY client""".stripMargin

  /** Hand-derived per-day/user windowed auth counts — shared VERBATIM
    * by the complete-mode text-source row and the append-mode
    * watermarked V2 row. */
  private val userDayOracle: String =
    """SELECT * FROM (VALUES
      |  ('2015-11-22', 'alice', CAST(1 AS BIGINT)),
      |  ('2015-11-22', 'cg2v',  CAST(2 AS BIGINT)),
      |  ('2015-11-23', 'alice', CAST(1 AS BIGINT)),
      |  ('2015-11-23', 'plain', CAST(1 AS BIGINT)),
      |  ('2015-11-23', 'visitor', CAST(1 AS BIGINT))
      |) AS t(day, client, n_auth) ORDER BY day, client""".stripMargin

  private val userStatsScopedOracle: String =
    """SELECT * FROM (VALUES
      |  ('alice', '2015-11-22T17:00:00', '2015-11-23T07:00:00', CAST(2 AS BIGINT)),
      |  ('cg2v',  '2015-11-22T15:25:20', '2015-11-22T16:10:00', CAST(2 AS BIGINT)),
      |  ('plain', '2015-11-23T08:00:00', '2015-11-23T08:00:00', CAST(1 AS BIGINT))
      |) AS t(client, first_ts, last_ts, n_auth) ORDER BY client""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    // hand-derived from the fixtures: 10.1.2.3 = alice AS x3 (incl.
    // the BAD_PASSWORD session - valid, just unsuccessful) + imap TGS;
    // 127.0.0.1 = cg2v AS x2 + host/www TGS x2; 10.9.9.9 = bob's
    // referral + ldap TGS; the count-1 tie band cut by IP order;
    // eve's trailing partial session is dropped. Totals reconcile
    // with the counters row's 18 valid records.
    "kdc_parse_top_hosts" -> QueryDef(topHosts, Some(
      """SELECT * FROM (VALUES
        |  ('IPv4:10.1.2.3',     CAST(4 AS BIGINT)),
        |  ('IPv4:127.0.0.1',    CAST(4 AS BIGINT)),
        |  ('IPv4:10.9.9.9',     CAST(2 AS BIGINT)),
        |  ('IPv4:10.11.11.11',  CAST(1 AS BIGINT)),
        |  ('IPv4:10.2.2.2',     CAST(1 AS BIGINT))
        |) AS t(client_ip, n_req) ORDER BY n_req DESC, client_ip""".stripMargin)),
    "kdc_parse_user_stats" -> QueryDef(userStats, Some(userStatsOracle)),
    // identical pipeline scoped to the home realm: 'visitor' must drop
    "kdc_parse_user_stats_scoped" -> QueryDef(userStatsScoped, Some(userStatsScopedOracle)),
    // the same two aggregations through the DataSourceV2 parse-as-scan
    // table (pushed predicates + pruned columns, plan-pinned in
    // KdcV2Spec) — bit-identical oracles by construction
    "kdc_parse_user_stats_v2" -> QueryDef(userStatsV2, Some(userStatsOracle)),
    "kdc_parse_user_stats_v2_scoped" -> QueryDef(userStatsV2Scoped, Some(userStatsScopedOracle)),
    // partition-path file pruning over the host=…/day=… fleet layout:
    // the day predicate drops host2's file AT PLANNING (never opened),
    // and host1 alone carries all AS sessions — same oracle
    "kdc_parse_user_stats_v2_pruned" -> QueryDef(userStatsV2Pruned, Some(userStatsOracle)),
    // 16th streaming row: the log-tailing shape (two file-arrival
    // micro-batches through the V2 source under AvailableNow) must
    // converge to the batch user stats
    "kdc_parse_user_stats_v2_streaming" -> QueryDef(userStatsV2Streaming, Some(userStatsOracle)),
    "kdc_parse_service_stats" -> QueryDef(serviceStats, Some(
      """SELECT * FROM (VALUES
        |  ('cifs/share.example.org', '2015-11-22T19:40:00', '2015-11-22T19:40:00', CAST(1 AS BIGINT)),
        |  ('host/www.example.org',   '2015-11-22T19:00:00', '2015-11-22T19:05:00', CAST(2 AS BIGINT)),
        |  ('imap/mail.example.org',  '2015-11-22T19:10:00', '2015-11-22T19:10:00', CAST(1 AS BIGINT))
        |) AS t(service, first_ts, last_ts, n_req) ORDER BY service""".stripMargin)),
    "kdc_parse_user_stats_streaming" -> QueryDef(userStatsStreaming, Some(userDayOracle)),
    // 17th streaming row: append mode — the engine only emits a daily
    // window once the watermark FINALIZES it; converges to the same
    // hand-derived windowed rows (one truth, complete AND append)
    "kdc_parse_user_stats_v2_watermarked" -> QueryDef(userStatsV2Watermarked, Some(userDayOracle)),
    // same golden rows as kdc_parse_service_stats: the streaming plan
    // must converge to the batch answer on a bounded input
    "kdc_parse_service_stats_streaming" -> QueryDef(serviceStatsStreaming, Some(
      """SELECT * FROM (VALUES
        |  ('cifs/share.example.org', '2015-11-22T19:40:00', '2015-11-22T19:40:00', CAST(1 AS BIGINT)),
        |  ('host/www.example.org',   '2015-11-22T19:00:00', '2015-11-22T19:05:00', CAST(2 AS BIGINT)),
        |  ('imap/mail.example.org',  '2015-11-22T19:10:00', '2015-11-22T19:10:00', CAST(1 AS BIGINT))
        |) AS t(service, first_ts, last_ts, n_req) ORDER BY service""".stripMargin)),
    "kdc_parse_user_enctypes" -> QueryDef(userEnctypes, Some(
      """SELECT * FROM (VALUES
        |  ('alice', 'aes256-cts-hmac-sha1-96', CAST(2 AS BIGINT), '2015-11-22T17:00:00', '2015-11-23T07:00:00'),
        |  ('cg2v',  'aes256-cts-hmac-sha1-96', CAST(2 AS BIGINT), '2015-11-22T15:25:20', '2015-11-22T16:10:00'),
        |  ('plain', 'UNK',                     CAST(1 AS BIGINT), '2015-11-23T08:00:00', '2015-11-23T08:00:00'),
        |  ('visitor', 'aes256-cts-hmac-sha1-96', CAST(1 AS BIGINT), '2015-11-23T09:00:00', '2015-11-23T09:00:00')
        |) AS t(client, enctype, n_auth, first_ts, last_ts) ORDER BY client, enctype""".stripMargin)),
    "kdc_parse_service_enctypes" -> QueryDef(serviceEnctypes, Some(
      """SELECT * FROM (VALUES
        |  ('cifs/share.example.org', 'UNK', CAST(1 AS BIGINT), '2015-11-22T19:40:00', '2015-11-22T19:40:00'),
        |  ('host/www.example.org', 'aes256-cts-hmac-sha1-96/aes128-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96', CAST(1 AS BIGINT), '2015-11-22T19:00:00', '2015-11-22T19:00:00'),
        |  ('host/www.example.org', 'UNK', CAST(1 AS BIGINT), '2015-11-22T19:05:00', '2015-11-22T19:05:00'),
        |  ('imap/mail.example.org', 'UNK', CAST(1 AS BIGINT), '2015-11-22T19:10:00', '2015-11-22T19:10:00')
        |) AS t(service, enctype_key, n_req, first_ts, last_ts) ORDER BY service, enctype_key""".stripMargin)),
    // CLI TSV formatting (C4/S7): the literal report lines; tabs are
    // embedded in the VALUES strings
    "kdc_parse_user_report_tsv" -> QueryDef(userReportTsv, Some(
      "SELECT * FROM (VALUES\n" +
        "  ('alice\t2015-11-22T17:00:00\t2015-11-23T07:00:00\t2'),\n" +
        "  ('cg2v\t2015-11-22T15:25:20\t2015-11-22T16:10:00\t2'),\n" +
        "  ('plain\t2015-11-23T08:00:00\t2015-11-23T08:00:00\t1'),\n" +
        "  ('visitor\t2015-11-23T09:00:00\t2015-11-23T09:00:00\t1')\n" +
        ") AS t(line) ORDER BY line")),
    // counters protocol (S8/A5/C6): 18 sessions, 0 invalid,
    // 1 referral, 6 explicit errors (MISSING_PREAUTH is implicit —
    // no error line — so not in errorsfound, exactly like the Perl
    // reporter), 1 bad password
    "kdc_parse_counters" -> QueryDef(countersQuery, Some(
      """SELECT * FROM (VALUES
        |  (CAST(18 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(1 AS BIGINT))
        |) AS t(records, invalid, referrals, errorsfound, badpassword)""".stripMargin)),
    "kdc_parse_errors" -> QueryDef(errorStats, Some(
      """SELECT * FROM (VALUES
        |  ('BAD_AUTHENTICATION', CAST(1 AS BIGINT)),
        |  ('BAD_NAME',           CAST(1 AS BIGINT)),
        |  ('BAD_PARAMETERS',     CAST(1 AS BIGINT)),
        |  ('BAD_PASSWORD',       CAST(1 AS BIGINT)),
        |  ('MISSING_PREAUTH',    CAST(1 AS BIGINT)),
        |  ('UNKNOWN',            CAST(1 AS BIGINT)),
        |  ('UNUSABLE_NAME',      CAST(1 AS BIGINT))
        |) AS t(error_bucket, n) ORDER BY n DESC, error_bucket""".stripMargin)))
}
