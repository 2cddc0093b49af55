package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one workload in one `local[nproc]` session.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --bench-dir DIR --work DIR --record FILE [--launch-ms T]
  *                  [--record-expected]
  *
  * Set-up (timed as `setup_s`): JVM start, then three times session
  * start + input generation or cache check (median), then the
  * workload's warm-up passes. Then passes run until `--seconds` have
  * passed (and at least [[Workload.minPasses]]).
  * Between operations, outside the timed window, the harness clears
  * the cache, sweeps checkpoint blocks and removes the run's own
  * applicationId-scoped scratch dirs.
  *
  * `--trace 1` times half the window untraced and half with the span
  * tracer, then calls each layer's entry points (see
  * [[Workload.probes]]); it reports per-layer metrics and writes the
  * span tree next to the record.
  *
  * The last stdout line is the result JSON. `--record-expected` writes
  * the result digests of a rows workload to `expected/` instead of
  * checking them (run on a known-good commit only).
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        benchDir: File, work: File, record: File, launchMs: Long,
                        recordExpected: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", new File(req("--bench-dir")).getAbsoluteFile,
      new File(req("--work")).getAbsoluteFile, new File(req("--record")).getAbsoluteFile,
      m.get("--launch-ms").map(_.toLong).getOrElse(-1L), args.contains("--record-expected"))
  }

  /** Passes stop being started after this many seconds of the run, so
    * the JVM ends well inside the three-minute limit of one run. */
  val HardLimitS = 140.0

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(work: File): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // 8 MiB blocks on the local FS: the split size of the file readers,
      // scaled down with the inputs from the 128 MiB of a typical HDFS
      .config("spark.hadoop.fs.local.block.size", (8L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime
  /** the heap pools that hold what survives a young collection (survivor
    * and old generation); eden is left out, since nearly every op fills
    * its fixed capacity */
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden")).toSeq
  private def heapPeakMiB: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** bytes written through Hadoop file systems (data files, checkpoints,
    * state store uploads; not shuffle files) */
  private def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Waits (at most 3 s) until the JIT compiler has been idle for a
    * second, so the measured passes do not share the CPUs with the
    * compile backlog of the warm-up. */
  def quiesceJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var idleSince = System.nanoTime()
    while (System.nanoTime() < end && System.nanoTime() - idleSince < 1000000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; idleSince = System.nanoTime() }
    }
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One pass: per-op wall, CPU and heap peak, with the failures. */
  final case class Pass(wallS: Double, cpuS: Double, heapMiB: Double, gcS: Double,
                        opWall: Map[String, Double], opCpu: Map[String, Double],
                        opTotals: Map[String, JobTotals], opWritten: Map[String, Double])

  final class Failures {
    var attempted = 0L
    val failed = mutable.ArrayBuffer[String]()
  }

  def run(o: Opts): Int = {
    val mainMs = System.currentTimeMillis()
    val jvmS = if (o.launchMs > 0) (mainMs - o.launchMs) / 1000.0 else 0.0
    val scratch = new File("target/scratch").getAbsoluteFile
    scratch.mkdirs()
    val ctx = Ctx(o.benchDir, o.work, scratch, o.seed)
    val w = Workloads(o.workload, ctx)

    // set-up, three times: session start + inputs (generated once, then
    // found in the cache); the last session stays up for the passes
    var spark: SparkSession = null
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = session(o.work)
      w.prepare(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      dt
    }
    val appId = spark.sparkContext.applicationId
    val ops = w.ops(spark)
    val fails = new Failures
    val recorded = mutable.LinkedHashMap[String, String]()

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.graftbridge.CheckpointBridge.sweepLocalCheckpoints(spark)
      val live = graft.ops.Graph.liveLayoutDirNames
      Option(scratch.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.contains(appId) && !live.contains(f.getName))
        .foreach(Files.deleteTree)
    }

    def runPass(pass: Int, tracer: Option[Tracer]): Pass = {
      val order = new scala.util.Random(o.seed * 7919L + pass).shuffle(ops)
      val opWall = mutable.LinkedHashMap[String, Double]()
      val opCpu = mutable.LinkedHashMap[String, Double]()
      val opTotals = mutable.LinkedHashMap[String, JobTotals]()
      val opWritten = mutable.LinkedHashMap[String, Double]()
      var cpu = 0.0; var gc = 0.0
      // the pass starts from a collected heap: the peak is its own
      System.gc()
      resetHeapPeaks()
      order.foreach { op =>
        val g0 = gcMs; val c0 = cpuNs; val w0 = fsBytesWritten
        val thread0 = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        val res: Either[Throwable, Any] =
          try Right(tracer match {
            case Some(tr) =>
              val (v, _, totals) = tr.span(op.name, "operation")(op.run())
              opTotals(op.name) = totals
              v
            case None => op.run()
          })
          catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        val threadCpu = (ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime - thread0) / 1e9
        val dc = (cpuNs - c0) / 1e9
        gc += (gcMs - g0) / 1000.0
        opWall(op.name) = dt
        cpu += dc
        // executor CPU of the op's jobs plus the driver thread's own
        opCpu(op.name) = threadCpu + opTotals.get(op.name).map(_.cpuNs / 1e9).getOrElse(0.0)
        opWritten(op.name) = (fsBytesWritten - w0) / 1048576.0
        fails.attempted += 1
        val problem = res match {
          case Left(e) => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          case Right(v) if o.recordExpected =>
            recorded.get(op.name) match {
              case Some(prev) if prev != v => Some(s"digest changed between passes: $prev vs $v")
              case _ => recorded(op.name) = String.valueOf(v); None
            }
          case Right(v) => op.check(v)
        }
        problem.foreach { p =>
          fails.failed += s"${o.workload} ${op.name} $p"
          println(s"FAILED ${o.workload} ${op.name}: $p")
        }
        hygiene()
      }
      Pass(opWall.values.sum, cpu, heapPeakMiB, gc, opWall.toMap, opCpu.toMap, opTotals.toMap,
        opWritten.toMap)
    }

    val tw0 = System.nanoTime()
    (1 to w.warmPasses).foreach(i => runPass(-i, None))
    quiesceJit()
    val warmS = (System.nanoTime() - tw0) / 1e9
    val setupS = jvmS + median(setups) + warmS
    def elapsedS = (System.currentTimeMillis() - mainMs) / 1000.0

    def failedFrac = fails.failed.size.toDouble / math.max(1L, fails.attempted)

    val inputMiB = w.inputMiB
    val stamp = ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "app_id" -> appId)

    val (metrics, extra) =
      if (!o.trace) {
        // passes for `--seconds`, at least minPasses, never past the hard limit
        val ps = mutable.ArrayBuffer[Pass]()
        val t0 = System.nanoTime()
        while ((ps.size < w.minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) &&
               (ps.isEmpty || elapsedS + ps.last.wallS < HardLimitS))
          ps += runPass(1 + ps.size, None)
        val runS = median(ps.map(_.wallS))
        (ListMap(
          "setup_s" -> (setupS, "s"),
          "run_s" -> (runS, "s"),
          "mib_per_s" -> (inputMiB / runS, "MiB/s"),
          "cpu_s" -> (median(ps.map(_.cpuS)), "s"),
          "heap_peak_mib" -> (median(ps.map(_.heapMiB)), "MiB")),
          ListMap("passes" -> ps.size, "pass_run_s" -> ps.map(_.wallS),
            "op_run_s" -> ListMap(ops.map(op => op.name -> median(ps.map(_.opWall(op.name)))): _*),
            "pass_cpu_s" -> ps.map(_.cpuS), "pass_heap_mib" -> ps.map(_.heapMiB)))
      } else {
        // traced and untraced passes alternate (U T, T U, ...), so the
        // JIT's warming over the run does not show up as tracing overhead
        val tracer = new Tracer(spark)
        val plain = mutable.ArrayBuffer[Pass]()
        val (traced, root, _) = tracer.span(o.workload, "workload") {
          val out = mutable.ArrayBuffer[Pass]()
          val t0 = System.nanoTime()
          var last = 0.0
          while ((out.size < 2 || (System.nanoTime() - t0) / 1e9 < o.seconds) &&
                 (out.isEmpty || elapsedS + 2 * last < HardLimitS)) {
            def untraced(): Unit = {
              tracer.active = false
              plain += runPass(1 + 2 * out.size, None)
              tracer.active = true
            }
            if (out.size % 2 == 0) untraced()
            val p = runPass(2 + 2 * out.size, Some(tracer))
            if (out.size % 2 == 1) untraced()
            last = p.wallS
            out += p
          }
          out.toSeq
        }
        def med(f: Pass => Double): Double = median(traced.map(f))
        val opWall = ops.map(op => op.name -> median(traced.map(_.opWall(op.name)))).toMap
        // per-op totals of the median-wall traced pass
        val mid = traced.sortBy(_.wallS).apply(traced.size / 2)
        val layers = mutable.LinkedHashMap[String, Double]()
        layers ++= w.probes(spark, tracer, opWall, mid.opTotals)
        ops.groupBy(_.module).filter(_._1 != "kdc").foreach { case (pre, mops) =>
          val names = mops.map(_.name)
          def sumOf(p: Pass, f: String => Double) = names.map(f).sum
          layers(s"$pre.s") = med(p => sumOf(p, p.opWall))
          layers(s"$pre.cpu_s") = med(p => sumOf(p, p.opCpu))
          layers(s"$pre.jobs") = med(p => sumOf(p, n => p.opTotals(n).jobs.toDouble))
          if (pre.startsWith("ops.")) {
            layers(s"$pre.driver_s") =
              med(p => sumOf(p, n => p.opWall(n) - p.opTotals(n).jobWallMs / 1000.0))
            layers(s"$pre.shuffle_mib") =
              med(p => sumOf(p, n => p.opTotals(n).shuffleWriteBytes / 1048576.0))
            layers(s"$pre.spill_mib") =
              med(p => sumOf(p, n => p.opTotals(n).spillBytes / 1048576.0))
          } else layers(s"$pre.written_mib") = med(p => sumOf(p, p.opWritten))
        }
        layers("gc_s") = med(_.gcS)
        layers("trace_overhead_s") = med(_.wallS) - median(plain.map(_.wallS))
        layers("run_passes") = (plain.size + traced.size).toDouble
        root.counts ++= layers
        val traceFile = new File(o.record.getParentFile,
          s"trace-${o.workload}-seed${o.seed}-$appId.json")
        traceFile.getParentFile.mkdirs()
        java.nio.file.Files.writeString(traceFile.toPath, tracer.toJson)
        tracer.close()
        val all = PerLayer.names.map { n =>
          n -> (layers.getOrElse(n, 0.0), PerLayer.unit(n))
        }
        (ListMap(all: _*) + ("failed_frac" -> (failedFrac, "fraction")),
          ListMap("trace_file" -> traceFile.getPath, "untraced_run_s" -> plain.map(_.wallS),
            "traced_run_s" -> traced.map(_.wallS)))
      }

    hygiene()
    graft.ops.Graph.dropCachedLayouts(spark)
    spark.stop()

    if (o.recordExpected) {
      val rows = w match { case r: RowsWorkload => r; case _ => null }
      require(rows != null, "--record-expected applies to the rows workloads only")
      rows.expectedFile.getParentFile.mkdirs()
      java.nio.file.Files.writeString(rows.expectedFile.toPath, Json.obj(
        "tables" -> Workloads.TablesDir,
        "digests" -> ListMap(recorded.toSeq: _*)) + "\n")
    }

    metrics.foreach { case (k, (v, u)) => println(f"${o.workload}%-18s $k%-34s $v%14.4f $u") }
    extra.get("passes").foreach(n => println(f"${o.workload}%-18s ${"passes (run_s samples)"}%-34s $n%14s"))
    println(f"${o.workload}%-18s ${"failed/attempted"}%-34s ${fails.failed.size}%14d / ${fails.attempted}")
    val result = Json.obj(
      "correct" -> fails.failed.isEmpty,
      "attempted" -> fails.attempted,
      "failed" -> fails.failed.size.toLong,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))
    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "input_mib" -> inputMiB, "setup_runs_s" -> setups,
      "jvm_start_s" -> jvmS, "warmup_s" -> warmS, "failed_frac" -> failedFrac,
      "failures" -> fails.failed.toSeq, "stamp" -> stamp, "detail" -> extra,
      "result" -> Json.Raw(result))
    o.record.getParentFile.mkdirs()
    java.nio.file.Files.writeString(o.record.toPath, record + "\n")
    println(result)
    0
  }
}

/** The per-layer metric names of the traced run, in BENCHMARK.json order. */
object PerLayer {
  val kdc = Seq("kdc.read.s", "kdc.read.mib", "kdc.classify.s", "kdc.classify.lines",
    "kdc.classify.noise_frac", "kdc.align.s", "kdc.align.splits", "kdc.align.sessions",
    "kdc.sessionize.s", "kdc.sessionize.valid_frac", "kdc.v2.scan_s", "kdc.v2.pruned_s",
    "kdc.v2.bytes_read_mib", "kdc.report.agg_s", "kdc.report.shuffle_mib", "kdc.report.rows",
    "kdc.write.mib")
  val opsModules = Seq("EventQueries", "TpchQueries", "Dedup", "Graph")
  val ingestModules = Seq("KdcStream", "Dedup", "Graph")
  val names: Seq[String] = Seq("bulk", "fleet").flatMap(t => kdc.map(n => s"$t.$n")) ++
    opsModules.flatMap(m => Seq("s", "cpu_s", "driver_s", "jobs", "shuffle_mib", "spill_mib")
      .map(x => s"ops.$m.$x")) ++
    ingestModules.flatMap(m => Seq("s", "jobs", "written_mib", "cpu_s").map(x => s"ingest.$m.$x")) ++
    Seq("gc_s", "trace_overhead_s", "run_passes")

  def unit(n: String): String =
    if (n.endsWith("_mib") || n.endsWith(".mib")) "MiB"
    else if (n.endsWith("_frac")) "fraction"
    else if (n.endsWith(".s") || n.endsWith("_s")) "s"
    else "count"
}
