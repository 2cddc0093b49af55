package graft.kdc.v2

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.kdc.{KdcLogRecord, KdcMain, KdcParseQueries, KdcQueries}

/** Where a report's final sort runs (`KdcQueries.sortReport`): a batch
  * report estimated at most the advisory partition size sorts in one
  * partition, with no range exchange and 2 jobs; a 1-byte advisory
  * size brings the range exchange back; both give the same TSVs and
  * rows in the same order; a streaming report keeps the plain sort. */
class KdcReportSortSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Reports = Seq("user", "service", "errors", "user-enctypes", "service-enctypes")
  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** The number of jobs `body` started. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** One report run: its KdcMain TSV, the jobs the TSV write ran, and
    * the collected rows and final AQE plan of the same report frame. */
  private case class Outcome(tsv: String, jobs: Int, rows: Seq[Row], plan: String)

  private def outcome(in: String, recursive: Boolean, tag: String, report: String): Outcome = {
    val out = s"target/scratch/kdc_report_sort/$tag-$report"
    val flags = Seq(s"--report=$report") ++ (if (recursive) Seq("--recursive") else Nil)
    val jobs = jobsOf(KdcMain.main((Seq(in, out) ++ flags).toArray))
    val tsv = KdcPackingSpec.partsText(out)
    val df = KdcMain.buildReport(spark, in, None, report, useV2 = true, aligned = false,
      recursive = recursive)
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    Outcome(tsv, jobs, rows, plan.toString.toLowerCase)
  }

  test("a small report sorts in one partition: no range exchange, 2 jobs, same TSVs and rows") {
    val fleet = "target/scratch/kdc_report_sort_fleet"
    KdcPackingSpec.writeFleet(spark, fleet)
    for ((in, recursive, tag) <- Seq(
        (fleet, true, "fleet"), (KdcParseQueries.fixtureDir(), false, "fixture"));
        report <- Reports) {
      val what = s"$tag $report"
      val small = outcome(in, recursive, s"$tag-small", report)
      val ranged = KdcPackingSpec.withConf(spark, Advisory, "1")(
        outcome(in, recursive, s"$tag-ranged", report))
      assert(!small.plan.contains("rangepartitioning"),
        s"$what: a range exchange under the default advisory size:\n${small.plan}")
      assert(small.jobs == 2, s"$what: ${small.jobs} jobs, want 2")
      assert(ranged.plan.contains("rangepartitioning"),
        s"$what: no range exchange at a 1-byte advisory size:\n${ranged.plan}")
      assert(small.tsv.nonEmpty, s"$what: empty report")
      assert(small.tsv == ranged.tsv, s"$what: the TSV depends on where the sort ran")
      assert(small.rows == ranged.rows, s"$what: rows or their order differ")
    }
  }

  test("a streaming report keeps the plain complete-mode sort") {
    val stream = spark.readStream.format("kdclog").load(KdcParseQueries.fixtureDir())
      .as(Encoders.product[KdcLogRecord])
    val report = KdcQueries.userAuthStats(stream)
    assert(report.isStreaming)
    val logical = report.queryExecution.logical
    assert(logical.collectFirst { case r: Repartition => r }.isEmpty,
      s"a streaming report was coalesced:\n$logical")
    assert(logical match { case s: Sort => s.global; case _ => false },
      s"no global sort at the root:\n$logical")
    val got = graft.streaming.StreamingPipeline.runOneShot(
      report, "kdc_report_sort_stream", "complete", Seq("client")).collect().toSeq
    val want = KdcQueries.userAuthStats(spark.read.format("kdclog")
      .load(KdcParseQueries.fixtureDir()).as(Encoders.product[KdcLogRecord])).collect().toSeq
    assert(got.nonEmpty && got == want)
  }
}
