package graft.kdc.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{BlockLocation, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.kdc.{KdcMain, KdcParseQueries, Sessionizer}

/** Packing of small `kdclog` splits into input partitions
  * ([[KdcBatch.pack]]): it changes no row, report or range, bounds a
  * small-file fleet to the session's parallelism, never merges the
  * ranges of a split file, keeps LIMIT and top-N exact across the
  * ranges of one partition, and reports the hosts holding the most
  * bytes. */
class KdcPackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val MaxSize = "mapreduce.input.fileinputformat.split.maxsize"
  private val SplitBytes = 16L * 1024

  private lazy val fleet: (String, Seq[(String, String)]) = {
    val root = "target/scratch/kdc_packing_fleet"
    (root, KdcPackingSpec.writeFleet(spark, root))
  }

  private def planned(df: DataFrame): Seq[KdcInputPartition] = {
    val plan = df.queryExecution.executedPlan
    val scan = plan.collectFirst { case b: BatchScanExec => b.scan }.getOrElse(
      fail(s"no BatchScanExec in:\n$plan"))
    scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[KdcInputPartition])
  }

  private def read(root: String): DataFrame =
    spark.read.format("kdclog").option("recursive", "true").load(root)

  private def withConf[A](k: String, v: String)(body: => A): A =
    KdcPackingSpec.withConf(spark, k, v)(body)

  /** The rows, every KdcMain report TSV and the ranges of one plan. */
  private case class Outcome(rows: Seq[String], tsvs: Map[String, String],
                             parts: Seq[KdcInputPartition])

  private def outcome(root: String, tag: String): Outcome = {
    val rows = read(root).collect().map(_.toString).sorted.toSeq
    val tsvs = Seq("user", "service", "errors", "user-enctypes", "service-enctypes").map { r =>
      val out = s"target/scratch/kdc_packing_out/$tag-$r"
      KdcMain.main(Array(root, out, "--recursive", s"--report=$r"))
      r -> KdcPackingSpec.partsText(out)
    }.toMap
    Outcome(rows, tsvs, planned(read(root)))
  }

  test("packing changes no row, report TSV or range, and never merges a split file's ranges") {
    val (root, files) = fleet
    val hc = spark.sparkContext.hadoopConfiguration
    val savedMax = Option(hc.get(MaxSize))
    hc.set(MaxSize, SplitBytes.toString)
    val (packed, unpacked) =
      try (outcome(root, "packed"),
        withConf("spark.sql.files.maxPartitionBytes", "1")(outcome(root, "unpacked")))
      finally savedMax.fold(hc.unset(MaxSize))(hc.set(MaxSize, _))

    // every range alone when the partition bound is one byte
    assert(unpacked.parts.forall(_.ranges.size == 1))
    def key(r: KdcRange) = (r.path, r.start, r.length)
    val flat = packed.parts.flatMap(_.ranges).map(key)
    assert(flat.distinct.size == flat.size, "a range was planned twice")
    assert(flat.sorted == unpacked.parts.flatMap(_.ranges).map(key).sorted,
      "packing changed the planned ranges")
    assert(packed.parts.size < unpacked.parts.size, "nothing was packed")
    // the bzip2 and the plain big file are cut, and each of their
    // ranges runs alone
    for (name <- Seq("day=bz2", "day=plain")) {
      val holding = packed.parts.filter(_.ranges.exists(_.path.contains(name)))
      assert(holding.size >= 2, s"$name was not split: ${holding.size} range(s)")
      assert(holding.forall(_.ranges.size == 1), s"a range of $name was packed with another")
    }

    // rows: equal under both plans, and equal to each file's own fold
    assert(packed.rows == unpacked.rows, "packing changed the rows")
    val truth = files.map(_._2).flatMap(t => Sessionizer.sessionize(t.linesIterator))
      .map(_.productIterator.mkString(",")).sorted
    val base = read(root).select(KdcLogTable.schema.fieldNames.map(col): _*)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(base == truth, "rows differ from the per-file fold")

    // every KdcMain report is byte-identical
    for ((r, tsv) <- packed.tsvs) {
      assert(tsv.nonEmpty, s"$r report is empty")
      assert(tsv == unpacked.tsvs(r), s"$r report TSV changed under packing")
    }
  }

  test("a 28-file fleet plans at most defaultParallelism partitions") {
    val (root, _) = fleet
    val parts = planned(spark.read.format("kdclog").load(s"$root/host=h*/day=*/kdc.log"))
    assert(parts.flatMap(_.ranges).size == 28)
    assert(parts.size <= spark.sparkContext.defaultParallelism,
      s"${parts.size} partitions for 28 small files on " +
        s"${spark.sparkContext.defaultParallelism} cores")
  }

  /** `n` three-line AS sessions of fixed width, user names tagged with
    * `tag`, hours from `hour0`. */
  private def asLog(tag: String, n: Int, hour0: Int): String =
    (0 until n).map { i =>
      val ts = f"2015-11-22T${hour0 + i}%02d:00:00"
      val u = s"u$tag$i"
      s"$ts AS-REQ $u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
        s"$ts ENC-TS Pre-authentication succeeded -- $u@X.ORG using aes256-cts-hmac-sha1-96\n" +
        s"$ts sending 752 bytes to IPv4:10.0.0.1\n"
    }.mkString

  test("LIMIT opens only the ranges it needs; top-N finds minima in a partition's last range") {
    val dir = "target/scratch/kdc_packing_limit"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def put(name: String, text: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), text.getBytes("UTF-8"))
    (0 until 11).foreach(f => put(f"f$f%02d.log", asLog(f"$f%02d", 5, 10)))
    // the earliest sessions, in the shortest file: it packs last
    put("z_minima.log", asLog("zz", 3, 1))

    withConf("spark.sql.files.minPartitionNum", "1") {
      val parts = planned(spark.read.format("kdclog").load(dir))
      assert(parts.size == 1 && parts.head.ranges.size == 12,
        s"expected one partition of 12 ranges, got ${parts.map(_.ranges.size)}")
      assert(parts.head.ranges.last.path.endsWith("z_minima.log"))

      val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val emitted = new java.util.concurrent.atomic.AtomicLong(0)
      KdcPartitionReader.openTap.set(opened)
      KdcPartitionReader.emitTap.set(emitted)
      try {
        val rows = spark.read.format("kdclog").load(dir).limit(7).collect()
        assert(rows.length == 7)
        val files = opened.asScala.toSeq.distinct
        assert(files.size < 12, s"LIMIT 7 opened all ${files.size} files")
        assert(emitted.get <= 7L * parts.size, s"emitted ${emitted.get} rows for LIMIT 7")

        emitted.set(0)
        val top = spark.read.format("kdclog").load(dir)
          .orderBy(col("ts")).limit(3).select(col("ts"), col("client"))
        val got = top.collect().map(_.getString(1)).toSeq
        assert(got == Seq("uzz0", "uzz1", "uzz2"),
          s"top-3 by ts missed the last range's minima: $got")
        assert(emitted.get <= 3L * parts.size, s"emitted ${emitted.get} rows for a top-3")
      } finally {
        KdcPartitionReader.openTap.set(null)
        KdcPartitionReader.emitTap.set(null)
      }
    }
  }

  test("a packed partition prefers the hosts holding most of its bytes; a local listing none") {
    def meta(name: String, len: Long, blocks: (Long, Long, Seq[String])*) =
      KdcFileLayout.KdcFileMeta(new Path(s"/synthetic/$name"), len, 1000L, 0L,
        blocks.map { case (off, l, hosts) =>
          new BlockLocation(hosts.toArray, hosts.toArray, off, l)
        }.toArray)
    val files = Seq(
      meta("big.log", 3000,
        (0L, 1000L, Seq("h1", "h2", "h3")), (1000L, 1000L, Seq("h2", "h3", "h4")),
        (2000L, 1000L, Seq("h4", "h5", "h6"))),
      meta("a.log", 100, (0L, 100L, Seq("h1", "h2"))),
      meta("b.log", 60, (0L, 60L, Seq("h2", "h3"))),
      meta("c.log", 30, (0L, 30L, Seq("h3", "localhost"))),
      meta("d.log", 10, (0L, 10L, Seq("h9"))))
    val parts = withConf("spark.sql.files.minPartitionNum", "1") {
      KdcBatch.splitsForListed(files, Map.empty, "/synthetic", Seq.empty, Array.empty)
    }.map(_.asInstanceOf[KdcInputPartition]).toSeq
    val byFirst = parts.map(p => p.ranges.head.path.stripPrefix("/synthetic/") ->
      (p.ranges.size, p.preferredLocations().toSeq))
    assert(byFirst.count(_._1 == "big.log") == 3)
    assert(parts.filter(_.ranges.head.path.endsWith("big.log"))
      .map(_.preferredLocations().toSeq) ==
      Seq(Seq("h1", "h2", "h3"), Seq("h2", "h3", "h4"), Seq("h4", "h5", "h6")))
    // the four small files pack into one partition: h2 holds 160
    // bytes, h1 100, h3 90, h9 10; "localhost" is no hint
    val packed = parts.filter(_.ranges.size == 4)
    assert(packed.size == 1, s"small files did not pack: $byFirst")
    assert(packed.head.preferredLocations().toSeq == Seq("h2", "h1", "h3"))

    val local = planned(read(KdcParseQueries.fleetFixtureDir()))
    assert(local.nonEmpty && local.forall(_.preferredLocations().isEmpty))
  }
}

object KdcPackingSpec {

  /** Runs `body` with the session conf `k` set to `v`, then restores it. */
  def withConf[A](spark: SparkSession, k: String, v: String)(body: => A): A = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The part files of a text output directory, concatenated in name order. */
  def partsText(out: String): String =
    new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(p => new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8")).mkString

  /** The fixture's two logs as one file, every principal tagged with
    * a two-digit file number: each small file has the same length and
    * its own users. */
  private def smallLog(f: Int): String =
    (KdcParseQueries.host1Log + KdcParseQueries.host2Log).replace("@", f"$f%02d@")

  /** Writes, under a fresh `root`, 28 same-length small files (4 hosts
    * × 7 days), an empty file, a gzip file, a multi-block bzip2 file
    * and a plain file of several 16 KiB splits, all under one
    * `host=…/day=…` layout. Returns each file's path under the root
    * with its uncompressed text. */
  def writeFleet(spark: SparkSession, root: String): Seq[(String, String)] = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val small = for (h <- 0 until 4; d <- 0 until 7)
      yield s"host=h$h/day=d$d/kdc.log" -> smallLog(h * 7 + d)
    // ~2.6 MB of text: three bzip2 blocks
    val big = (0 until 700).map(k =>
      (KdcParseQueries.host1Log + KdcParseQueries.host2Log).replace("@", f"$k%04d@")).mkString
    val files = small ++ Seq(
      "host=x/day=empty/kdc.log" -> "",
      "host=x/day=gz/kdc.log.gz" -> smallLog(90),
      "host=x/day=bz2/kdc.log.bz2" -> big,
      "host=x/day=plain/kdc.log" -> (91 until 99).map(smallLog).mkString)
    val codec = new org.apache.hadoop.io.compress.BZip2Codec
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    files.foreach { case (rel, text) =>
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      val raw = new java.io.FileOutputStream(f)
      val out =
        if (rel.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw)
        else if (rel.endsWith(".bz2")) codec.createOutputStream(raw)
        else raw
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    files
  }
}
