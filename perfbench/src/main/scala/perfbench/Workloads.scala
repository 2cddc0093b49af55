package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.kdc.{KdcLogRecord, KdcMain, KdcQueries}

/** One operation of a pass: `run` is the timed work, `check` compares
  * its result with the expected one outside the timed window (None =
  * correct, Some(reason) = wrong output). */
final case class Op(name: String, module: String, run: () => Any, check: Any => Option[String])

/** Paths shared by the workloads of one run. `scratch` is the program's
  * cwd-relative `target/scratch`; the run removes what it leaves there. */
final case class Ctx(benchDir: File, work: File, scratch: File, seed: Long) {
  def inputs: File = new File(work, "inputs")
}

trait Workload {
  def name: String
  /** generate the inputs, or check that the cached ones are complete */
  def prepare(spark: SparkSession): Unit
  def inputMiB: Double
  def ops(spark: SparkSession): Seq[Op]
  /** passes of the set-up (in setup_s), so the measured ones run JIT-warm */
  def warmPasses: Int
  /** measured passes per run, at the least */
  def minPasses: Int
  /** layer calls of the traced run: per-layer metrics by name */
  def probes(spark: SparkSession, tracer: Tracer, opWall: Map[String, Double],
             opTotals: Map[String, JobTotals]): Map[String, Double] = Map.empty
}

object Workloads {
  /** MiB of KDC log per workload, sized so a pass takes seconds on a
    * 4-core box. With the session's 8 MiB local block size (a scale
    * model of 128 MiB HDFS blocks) the bulk log is three splits. */
  val BulkMiB = 24
  val FleetMiB = 6
  /** the repository's sf 0.01 test tables (60k lineitem rows), kept in
    * the benchmark's directory so a run reads nothing outside its checkout */
  val TablesDir = "data/sf0.01"

  /** registered rows of `ops_mix` and the layer each one measures:
    * query operators (`ops.<module>`) and persisted-state writers
    * (`ingest.<writer>`) */
  val OpsRows: Seq[(String, String)] = Seq(
    "user_auth_count" -> "ops.EventQueries",
    "pricing_summary" -> "ops.TpchQueries",
    "dedup_simhash_pairs" -> "ops.Dedup",
    "supplier_pagerank" -> "ops.Graph",
    "kdc_parse_user_stats_v2_streaming" -> "ingest.KdcStream",
    "dedup_ingest_indexed" -> "ingest.Dedup",
    "supplier_pagerank_layout" -> "ingest.Graph")

  val names = Seq("kdc_reports", "ops_mix")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kdc_reports" => new KdcWorkload(name, ctx)
    case "ops_mix" => new RowsWorkload(name, OpsRows, ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  /** Keeps the `keep` most recently used cache dirs with this prefix. */
  def evict(root: File, prefix: String, keep: Int): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(prefix))
      .sortBy(-_.lastModified()).drop(keep).foreach(Files.deleteTree)
}

/** The KDC workload: the reports of both log shapes in one pass. The
  * `bulk` shape is one big three-line-session log with the V2 user
  * report; the `fleet` shape is a host=…/day=… tree with the user,
  * service and error reports plus a day-scoped user report. Every
  * report is written as TSV, the KdcMain sink, and compared with the
  * generator's truth. */
final class KdcWorkload(val name: String, ctx: Ctx) extends Workload {
  private val shapes = Seq(
    new KdcShape(name, "bulk", bulk = true, Workloads.BulkMiB, ctx),
    new KdcShape(name, "fleet", bulk = false, Workloads.FleetMiB, ctx))
  def warmPasses: Int = 2
  def minPasses: Int = 3

  def prepare(spark: SparkSession): Unit = {
    shapes.foreach(_.prepare())
    Workloads.evict(ctx.inputs, s"$name-", keep = 2 * shapes.size)
  }
  def inputMiB: Double = shapes.map(_.inputMiB).sum
  def ops(spark: SparkSession): Seq[Op] = shapes.flatMap(_.ops(spark))
  override def probes(spark: SparkSession, tracer: Tracer, opWall: Map[String, Double],
                      opTotals: Map[String, JobTotals]): Map[String, Double] =
    shapes.flatMap { sh =>
      sh.probes(spark, tracer, opWall, opTotals).map { case (k, v) => s"${sh.tag}.$k" -> v }
    }.toMap
}

/** One log shape of [[KdcWorkload]]: its input, its report ops (named
  * `<tag>.<report>`) and its layer probes. */
final class KdcShape(workload: String, val tag: String, bulk: Boolean, mib: Int, ctx: Ctx) {
  private val realm = if (bulk) KdcGen.BulkHome else KdcGen.Home

  // the generated logs and their truth, cached by (seed, size)
  private val dir = new File(ctx.inputs, s"$workload-$tag-seed${ctx.seed}-mib$mib")
  private val logs = new File(dir, "logs")
  private val truthDir = new File(dir, "truth")
  private val done = new File(dir, "DONE")
  private var truth: Map[String, Digest] = Map.empty
  /** rows of the last user report the program wrote, from its output */
  private var userReportRows = 0L

  def prepare(): Unit = {
    if (!done.exists()) {
      Files.deleteTree(dir)
      val bytes = mib.toLong << 20
      val t =
        if (bulk) KdcGen.writeBulk(logs, ctx.seed, (bytes / 298).toInt)
        else KdcGen.writeFleet(logs, ctx.seed,
          (bytes / 520 / (KdcGen.Hosts * KdcGen.Days)).toInt,
          nUsers = 200000, nServices = 5000)
      KdcGen.writeTruth(truthDir, t)
      java.nio.file.Files.writeString(done.toPath, "")
    }
    dir.setLastModified(System.currentTimeMillis())
    truth = Option(truthDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tsv")).map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try f.getName.stripSuffix(".tsv") -> Digest.ofLines(src.getLines().toSeq)
        finally src.close()
      }.toMap
  }

  /** the log files as one Hadoop path (a glob over the fleet tree) */
  private def glob: String = if (bulk) logs.getPath else new File(logs, "*/*/kdc.log").getPath

  def inputMiB: Double = Files.treeBytes(logs) / 1048576.0

  private val reports: Seq[(String, String, Map[String, String])] =
    if (bulk) Seq(("user", "user", Map.empty))
    else Seq(("user", "user", Map.empty), ("service", "service", Map.empty),
      ("errors", "errors", Map.empty), ("user_scoped", "user", Map("day" -> KdcGen.ScopeDay)))

  def ops(spark: SparkSession): Seq[Op] =
    reports.map { case (op, kind, scope) =>
      val out = new File(ctx.scratch, s"out_${spark.sparkContext.applicationId}_${tag}_$op")
      Op(s"$tag.$op", "kdc",
        run = () => KdcQueries.tsvLines(
            KdcMain.buildReport(spark, logs.getPath, Some(realm), kind, useV2 = true,
              aligned = false, recursive = !bulk, scope = scope))
          .write.mode("overwrite").text(out.getPath),
        check = _ => {
          val got = Digest.ofTextDir(out)
          if (op == "user") userReportRows = got.rows
          val want = truth.getOrElse(op, Digest(-1, 0))
          if (got == want) None else Some(s"report digest ${got.hex}, truth ${want.hex}")
        })
    }

  def probes(spark: SparkSession, tracer: Tracer, opWall: Map[String, Double],
             opTotals: Map[String, JobTotals]): Map[String, Double] = {
    import spark.implicits._
    def fsBytesRead: Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
    }
    /** min wall of two calls, with the bytes read and the call's value */
    def layer[T](n: String)(body: => T): (Double, Double, T) =
      (1 to 2).map { _ =>
        val b0 = fsBytesRead
        val t0 = System.nanoTime()
        val (v, _, _) = tracer.span(n, "layer")(body)
        ((System.nanoTime() - t0) / 1e9, (fsBytesRead - b0) / 1048576.0, v)
      }.minBy(_._1)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val v2 = spark.read.format("kdclog").option("recursive", (!bulk).toString)
    val asRecords = Encoders.product[KdcLogRecord]

    val (readS, readMiB, _) = layer(s"$tag.kdc.read")(noop(spark.read.text(glob)))
    val (classifyS, _, (lines, noise)) = layer(s"$tag.kdc.classify") {
      spark.read.text(glob).as[String].mapPartitions { it =>
        var n = 0L; var z = 0L
        it.foreach { l => n += 1; if (graft.kdc.LogLine.classify(l) == graft.kdc.LineEvent.Noise) z += 1 }
        Iterator((n, z))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    val (alignS, _, (splits, sessions)) = layer(s"$tag.kdc.align") {
      val rdd = spark.sparkContext.newAPIHadoopFile(glob,
        classOf[graft.kdc.KdcSessionInputFormat], classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text], spark.sparkContext.hadoopConfiguration)
      (rdd.getNumPartitions.toLong, rdd.count())
    }
    val (sessionizeS, _, validFrac) = layer(s"$tag.kdc.sessionize") {
      val r = graft.kdc.KdcSource.recordsAligned(spark, glob).toDF()
        .agg(count(lit(1)), sum(col("valid").cast("long"))).head()
      r.getLong(1).toDouble / math.max(1L, r.getLong(0))
    }
    val (scanS, scanMiB, _) = layer(s"$tag.kdc.v2.scan")(noop(v2.load(logs.getPath)))
    // file pruning on the fleet (one day of seven), realm pushdown on the bulk log
    val (prunedS, _, _) = layer(s"$tag.kdc.v2.pruned") {
      val src = if (bulk) v2.load(logs.getPath)
        else v2.load(logs.getPath).filter(col("day") === KdcGen.ScopeDay)
      noop(KdcQueries.successfulAuths(src.as(asRecords), Some(realm)).select("client", "ts"))
    }
    // the user report's own input: its pushdown scan with no aggregate
    val (reportScanS, _, _) = layer(s"$tag.kdc.v2.report_scan") {
      noop(KdcQueries.successfulAuths(v2.load(logs.getPath).as(asRecords), Some(realm))
        .select("client", "ts"))
    }
    val user = opTotals.getOrElse(s"$tag.user", new JobTotals)
    Map(
      "kdc.read.s" -> readS, "kdc.read.mib" -> readMiB,
      "kdc.classify.s" -> (classifyS - readS), "kdc.classify.lines" -> lines.toDouble,
      "kdc.classify.noise_frac" -> noise.toDouble / math.max(1L, lines),
      "kdc.align.s" -> (alignS - readS), "kdc.align.splits" -> splits.toDouble,
      "kdc.align.sessions" -> sessions.toDouble,
      "kdc.sessionize.s" -> (sessionizeS - alignS), "kdc.sessionize.valid_frac" -> validFrac,
      "kdc.v2.scan_s" -> scanS, "kdc.v2.pruned_s" -> prunedS, "kdc.v2.bytes_read_mib" -> scanMiB,
      "kdc.report.agg_s" -> (opWall.getOrElse(s"$tag.user", 0.0) - reportScanS),
      "kdc.report.shuffle_mib" -> user.shuffleWriteBytes / 1048576.0,
      "kdc.report.rows" -> userReportRows.toDouble,
      "kdc.write.mib" -> user.outputBytes / 1048576.0)
  }
}

/** Registered query rows on the sf 0.01 test tables, each materialized through
  * `noop` with an order-independent digest of its rows observed in the
  * same job, compared with the committed count and digest. */
final class RowsWorkload(val name: String, rows: Seq[(String, String)], ctx: Ctx)
    extends Workload {
  val tables = new File(ctx.benchDir, Workloads.TablesDir)
  val expectedFile = new File(ctx.benchDir, s"expected/$name.json")
  private lazy val expected: Map[String, String] = RowsWorkload.readExpected(expectedFile)
  def warmPasses: Int = 1
  def minPasses: Int = 3

  def prepare(spark: SparkSession): Unit = graft.Tables.names.foreach { t =>
    val f = new File(tables, s"$t.parquet")
    require(f.isFile, s"missing input table $f")
  }

  def inputMiB: Double = Files.treeBytes(tables) / 1048576.0

  def ops(spark: SparkSession): Seq[Op] = rows.map { case (row, layer) =>
    val fn = graft.SparkEntry.queries(row)
    Op(row, layer,
      run = () => {
        val (df, obs) = RowsWorkload.observed(fn(spark, tables.getPath))
        df.write.format("noop").mode("overwrite").save()
        RowsWorkload.digestOf(obs)
      },
      check = got => expected.get(row) match {
        case Some(want) if want == got => None
        case Some(want) => Some(s"result digest $got, expected $want")
        case None => Some(s"no expected digest for $row in $expectedFile")
      })
  }
}

object RowsWorkload {
  /** `df` with positional column names, observing row count and the
    * sums of the low and high halves of each row's xxhash64. Doubles
    * are rounded to 6 places first, so a different summation order in
    * an aggregate does not change the digest. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    (d.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi")), obs)
  }

  def digestOf(obs: Observation): String = {
    val m = obs.get
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    f"${l("n")}%d:${l("lo")}%x:${l("hi")}%x"
  }

  def readExpected(f: File): Map[String, String] =
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      node.get("digests").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
}
