package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming results must converge to the batch answers — each suite
  * runs the stream over the same files the batch queries read and
  * compares against the batch aggregation. */
class StreamingPipelineSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming daily activity converges to the batch result") {
    val q = StreamingPipeline.dailyUserActivity(
        StreamingPipeline.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("daily_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    // append mode only emits closed windows; check emitted ⊆ batch and
    // substantial coverage (all but the last open window)
    val got = spark.table("daily_out")
      .select("day", "user_id", "n_events").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.EventQueries.dailyUserActivity(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.subsetOf(batch), s"streaming emitted rows not in batch: ${got -- batch}")
    assert(got.size >= batch.size - 50, s"closed-window coverage too low: ${got.size}/${batch.size}")
  }

  test("stateful first/last/count converges to the batch user_first_last") {
    import spark.implicits._
    val q = StreamingPipeline.userFirstLast(
        StreamingPipeline.readEvents(spark, dir))
      .writeStream.outputMode("update")
      .format("memory").queryName("ufl_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    // last update per user is the converged state
    val got = spark.table("ufl_out").collect()
      .map(r => (r.getAs[Long]("user_id"), (r.getAs[Long]("first_ms"), r.getAs[Long]("last_ms"), r.getAs[Long]("n"))))
      .groupBy(_._1)
      .map { case (u, rows) => (u, rows.map(_._2).maxBy(_._3)) }
    val batch = graft.ops.EventQueries.userFirstLast(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == batch)
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    // simulate at-least-once delivery: the same events file twice
    val dir2 = "target/scratch/dupstream"
    new java.io.File(dir2).mkdirs()
    for (i <- 1 to 2) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$dir2/events_$i.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val src = StreamingPipeline.normalizeTs(spark.readStream
      .schema(StreamingPipeline.eventsSchema(
        StreamingPipeline.eventsTsType(spark, dir)))
      .parquet(dir2))
    val q = StreamingPipeline.dedupedEvents(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("dedup_out").count()
    val distinct = spark.read.parquet(s"$dir/events.parquet").count()
    assert(got == distinct, s"doubled input must dedup to $distinct, got $got")
  }

  test("stream-stream interval join matches the batch join") {
    val q = StreamingPipeline.purchasesWithRecentClicks(
        StreamingPipeline.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("ssj_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions._
    val ev = StreamingPipeline.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
    val batch = p.join(c, col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"))
      .select("pid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // append mode may hold back pairs near the unflushed watermark tail
    assert(got.subsetOf(batch), s"extra pairs: ${got -- batch}")
    assert(got.size >= (batch.size * 0.95).toInt, s"${got.size}/${batch.size}")
  }

  test("drained driver rows equal their batch twins EXACTLY (complete/inner emit everything)") {
    val sd = graft.ops.EventQueries.dailyUserActivityStreaming(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bd = graft.ops.EventQueries.dailyUserActivity(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sd.sameElements(bd),
      s"daily activity: streaming ${sd.length} rows vs batch ${bd.length}")
    val sj = graft.ops.EventQueries.streamIntervalJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    import org.apache.spark.sql.functions._
    val ev = StreamingPipeline.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
    val batch = p.join(c, col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"))
      .select("pid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sj == batch, s"interval join: ${sj.size} vs batch ${batch.size}")
    // drain left nothing behind: no active stream, sink views dropped
    assert(spark.streams.active.isEmpty)
    assert(!spark.catalog.tableExists("daily_activity_stream_1"))
  }

  test("one-shot driver rows run on the RocksDB state store (provider pinned)") {
    // a stateful one-shot row through the shared runOneShot recipe —
    // RocksDB announces itself in the state operators' custom metrics
    val out = graft.ops.EventQueries.dailyUserActivityStreaming(spark, dir)
    assert(out.count() > 0)
    val progress = StreamingPipeline.lastOneShotProgress
      .getOrElse(fail("runOneShot did not record progress"))
    val stateOps = progress.stateOperators
    assert(stateOps.nonEmpty, "expected a stateful operator in the one-shot run")
    val metricKeys = stateOps.flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
    assert(metricKeys.exists(_.startsWith("rocksdb")),
      s"no rocksdb* custom metric — state store is not RocksDB; saw: ${metricKeys.mkString(",")}")
    // and the scoped override did not leak into the session (getOption
    // surfaces the registered default — HDFSBacked — when unset, so
    // pin "anything but RocksDB" rather than emptiness)
    assert(!spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
  }

  test("stateful streaming driver row equals the batch user_first_last exactly") {
    val got = graft.ops.EventQueries.userFirstLastStreamingStateful(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = graft.ops.EventQueries.userFirstLast(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(want), s"${got.length} vs ${want.length}")
    assert(spark.streams.active.isEmpty)
  }

  test("streaming session_window: closed sessions converge to the batch session set") {
    import org.apache.spark.sql.functions._
    // session windows in streaming require a watermark and emit a
    // session only once the watermark passes its close — APPEND mode
    // holds back each user's final session at end-of-stream, so the
    // emitted set is a strict subset of the batch sessions. The
    // driver row (session_window_stats_streaming) therefore runs in
    // COMPLETE mode, which emits open sessions too (exact-equality
    // test below); this test pins the append-mode holdback semantics.
    val q = StreamingPipeline.readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("first_ms"))
      .select(col("user_id"), col("first_ms"), col("n_events"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out")
      .start()
    try {
      q.processAllAvailable()
      q.stop()
      val got = spark.table("sw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.ops.EventQueries.sessionWindowStats(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got.subsetOf(batch), s"streaming emitted sessions not in batch: ${got -- batch}")
      // substantial coverage: everything but the per-user tail session
      val users = batch.map(_._1).size
      assert(got.size >= batch.size - users - 5, s"${got.size}/${batch.size} (${users} users)")
    } finally {
      // release the sink view AND the state-store providers even on
      // assertion failure — leftover providers tax every later test in
      // the shared session (the drainMemorySink rationale)
      if (q.isActive) q.stop()
      try spark.catalog.dropTempView("sw_out") catch { case _: Throwable => () }
      if (spark.streams.active.isEmpty)
        org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    }
  }

  test("complete-mode session-window driver row equals the batch twin exactly") {
    val sd = graft.ops.EventQueries.sessionWindowStatsStreaming(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bd = graft.ops.EventQueries.sessionWindowStats(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sd.sameElements(bd),
      s"session windows: streaming ${sd.length} rows vs batch ${bd.length}")
  }

  test("stream-stream LEFT OUTER interval join drains to the batch left join exactly") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.EventQueries.streamOuterJoin(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.toString))).toSet
    val ev = StreamingPipeline.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
    val batch = p.join(c, col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"),
        "left_outer")
      .select("pid", "cid").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    // the sentinel flush makes the OUTER drain complete, not a subset
    // (unlike the inner row's append-tail caveat)
    assert(got == batch, s"streaming ${got.size} vs batch ${batch.size}")
    assert(batch.exists(_._2.isEmpty), "fixture has no unmatched purchases")
  }

  test("stream-static enrichment equals the batch join exactly") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.EventQueries.streamStaticEnrich(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = StreamingPipeline.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet"))
      .withColumn("ms", unix_millis(col("ts")))
    val dim = ev.groupBy(col("user_id")).agg(min(col("ms")).as("first_ms"))
    val want = ev.join(dim, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("ms") - col("first_ms")).as("age"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(spark.streams.active.isEmpty)
  }

  test("concurrent one-shot streams serialize safely and restore the session conf") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // two drained one-shots racing in one session: the conf override
    // must serialize (interleaved save/restores would strand the
    // session at the temporary value) and both results must be correct
    val fa = Future(graft.ops.EventQueries.dailyUserActivityStreaming(spark, dir).count())
    val fb = Future(graft.ops.EventQueries.userFirstLastStreamingStateful(spark, dir).count())
    val (na, nb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(na == graft.ops.EventQueries.dailyUserActivity(spark, dir).count())
    assert(nb == graft.ops.EventQueries.userFirstLast(spark, dir).count())
    assert(spark.conf.get(key) == before,
      s"session conf stranded at ${spark.conf.get(key)} (was $before)")
    assert(spark.streams.active.isEmpty)
  }

  test("timeout-closed sessions equal the batch session set exactly") {
    // the third formulation of the 6h-gap sessions: custom state +
    // event-time timeouts. Sessions open at end-of-stream can ONLY
    // emit through the timeout path (sentinel-advanced watermark), so
    // set-equality with the batch twin proves timeouts fired for every
    // user's final session — the regression mode is the sentinel
    // filter pushing below the watermark operator and stalling it.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows(graft.ops.EventQueries.sessionTimeoutStatsStreaming(spark, dir))
    val want = rows(graft.ops.EventQueries.sessionWindowStats(spark, dir))
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty)
  }

  test("transition state carries across micro-batches; streaming row equals batch twin") {
    import java.sql.Timestamp
    import spark.implicits._
    // a user whose consecutive events straddle every batch boundary:
    // 6 events split into 4 time-ordered files — most transitions
    // exist only if last-event state survives the boundaries
    val scratch = java.nio.file.Files.createTempDirectory("trans").toString
    val types = Seq("a", "b", "a", "c", "b", "a")
    types.zipWithIndex.map { case (t, i) =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 00:0$i%d:00"), 1L, t, 1.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    val got = graft.ops.Insights.eventTransitionMatrixStreaming(spark, scratch)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val want = graft.ops.Insights.eventTransitionMatrix(spark, scratch)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"streaming $got != batch $want")
    assert(got.map(_._3).sum == 5, s"expected 5 transitions total: $got")
  }

  test("streaming KDC auth counts match the Perl-mapper semantics") {
    import spark.implicits._
    val logDir = "target/scratch/streamlogs"
    val lines = Seq(
      "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@SQUILL.DEMENTIA.ORG using aes256",
      "2015-11-22T16:00:00 ENC-TS Pre-authentication succeeded -- alice@SQUILL.DEMENTIA.ORG",
      "2015-11-23T08:00:00 ENC-TS Pre-authentication succeeded -- alice@SQUILL.DEMENTIA.ORG",
      "2015-11-22T15:25:20 AS-REQ cg2v@SQUILL.DEMENTIA.ORG from IPv4:127.0.0.1 for krbtgt/X@Y",
      "2015-11-22T15:25:20 sending 752 bytes to IPv4:127.0.0.1",
      "2015-11-22T17:00:00 ENC-TS Pre-authentication succeeded -- bob@OTHER.ORG")
    new java.io.File(logDir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$logDir/kdc.log"),
      lines.mkString("\n").getBytes)
    val q = StreamingPipeline.streamingUserAuthCounts(
        spark, logDir, realm = Some("SQUILL.DEMENTIA.ORG"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("auth_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("auth_out").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      ("2015-11-22", "cg2v") -> 1L,
      ("2015-11-22", "alice") -> 1L,
      ("2015-11-23", "alice") -> 1L))
  }

  test("StreamMain rejects a runSeconds that is not an integer") {
    val e = intercept[IllegalArgumentException] {
      StreamMain.main(Array(graft.kdc.KdcParseQueries.fixtureDir(), "", "30s"))
    }
    assert(e.getMessage.startsWith("runSeconds must be an integer, got '30s'\nusage: StreamMain"),
      e.getMessage)
    // rejected before a stream started, and the caller's session survives
    assert(spark.streams.active.isEmpty && !spark.sparkContext.isStopped)
  }
}
