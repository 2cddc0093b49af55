package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-behavior probe: replicate the sf0.1 tables 10× (shifted keys,
  * so group/join cardinalities scale with the data instead of
  * densifying) into target/scratch, then time representative operators
  * at 1× and 10× and report the runtime ratio. Near-linear ratios are
  * the evidence that the plans scale by data volume, not by blowup —
  * recorded in PLAN_NOTES.md. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("graft-scaleprobe")
    val src = "/root/testdata/sf0.1"
    val big = "target/scratch/sf1x"

    // --ingest-stages: probe the persisted-index ingest loop STAGE BY
    // STAGE (build / verdict / batched append / delta-aware verdict /
    // compaction) instead of whole queries — the per-append vs
    // per-compaction cost split is invisible at query granularity.
    if (args.contains("--ingest-stages")) {
      // token-salted replicas (every word suffixed per replica), NOT
      // the exact-copy replication the query probes use: an ingest
      // batch of exact copies admits nothing (empty append, trivial
      // delta stages) and its near-check pair volume grows x100 on
      // planted pairs (the documented replication artifact) — the
      // honest Nx model for an INTAKE loop is Nx FRESH crawl
      // content, i.e. N disjoint shards of the 1x corpus.
      // --factor=N (default 10) sets the replication factor — the
      // round-7 run extends the proven 10x table to 100x.
      val factor = args.collectFirst {
        case a if a.startsWith("--factor=") => a.stripPrefix("--factor=").toInt
      }.getOrElse(10)
      val bigIngest = s"target/scratch/sf${factor}x_ingest"
      if (!new java.io.File(s"$bigIngest/documents.parquet").exists()) {
        val base = graft.Tables(spark, src, "documents")
          .select(col("doc_id"), col("text"))
        (0 until factor).map { i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
            .withColumn("text", array_join(
              transform(split(col("text"), " "), w => concat(w, lit(s"_$i"))), " "))
        }.reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$bigIngest/documents.parquet")
      }
      runIngestStages(spark, src, bigIngest, s"${factor}x")
      spark.stop()
      return
    }

    // --auto-compact: step the 4-epoch batched loop by hand at
    // --sf=<dir>, printing the delta/base byte ratio after every
    // append and whether the encoded 0.1 cadence fires — the tuning
    // evidence behind dedup_ingest_epochs_auto's threshold (with the
    // r13 scale-adaptive bucket layout a single ~25-doc append reads
    // ~0.066-0.075 and two accumulate to ~0.13-0.15 at every SF).
    if (args.contains("--auto-compact")) {
      import graft.ops.Dedup
      val sfDir = args.collectFirst {
        case a if a.startsWith("--sf=") => a.stripPrefix("--sf=")
      }.getOrElse(src)
      val all = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val path = "target/scratch/auto_compact_probe"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val bounds = Seq(400L, 425L, 450L, 475L)
      Dedup.writePostingIndex(spark, all.filter(col("doc_id") < bounds.head), path)
      bounds.indices.foreach { k =>
        val lo = bounds(k)
        val batch = all.filter(col("doc_id") >= lo &&
          bounds.lift(k + 1).map(col("doc_id") < _).getOrElse(lit(true)))
        val v = Dedup.ingestDedupIndexed(spark, path, batch)
        val vdf = spark.createDataFrame(
          java.util.Arrays.asList(v.collect(): _*), v.schema)
        if (k + 1 < bounds.length) {
          val admits = all.join(vdf.filter(col("admit")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          Dedup.appendToPostingIndex(spark, admits, path, compact = false)
          val r = Dedup.postingDeltaRatio(path)
          val fired = Dedup.maybeCompactPostingIndex(spark, path, ratio = 0.1)
          println(f"[auto-compact] sf=$sfDir epoch=${k + 1} ratio=$r%.4f fired=$fired")
        }
      }
      spark.stop()
      return
    }

    // --embed-scale: probe the LSH chain one decade PAST the knee —
    // the 1x/10x pair (2k/20k vectors) straddles autoBits' occupancy
    // knee at 2^14 by construction, so its ratio mixes the mid-band
    // shade with the asymptote. Replicating embeddings --factor=N
    // (default 100, i.e. 200k vectors — firmly occupancy-pinned) and
    // timing 10x vs Nx isolates the post-knee growth law
    // (candidates ≈ 2^6·n·T(b), T ≈ n^0.15).
    if (args.contains("--embed-scale")) {
      val factor = args.collectFirst {
        case a if a.startsWith("--factor=") => a.stripPrefix("--factor=").toInt
      }.getOrElse(100)
      // ORTHOGONALLY-salted replicas (per-replica dimension rotation +
      // hash-keyed sign flips), not exact copies: 100 exact copies of
      // every vector put every copy pair at cosine 1 and the TRUE
      // pair output grows ~2000× (the documented replication
      // artifact, measured 94.5× wall here) — that probes output
      // growth, not the candidate-volume law. An orthogonal
      // transform preserves each replica's internal cosine structure
      // BIT-FOR-BIT (rotation and ±1 flips are exact in float) while
      // cross-replica cosines collapse to ~0 on these near-random
      // unit vectors — the honest "Nx fresh corpus" model (the
      // token-salted ingest replicas' vector twin). Additive offsets
      // cannot do this: large ones dominate the unit-norm base
      // (within-replica graph goes complete), small ones leave
      // cross-replica copies at cosine ≈ 1. BOTH probe points build
      // this way (the shifted-key sf1x replicas are exact copies — a
      // different workload mix that confounds the ratio).
      def mkEmb(f: Int): String = {
        val dir = s"target/scratch/sf${f}x_emb"
        if (new java.io.File(s"$dir/embeddings.parquet").exists()) return dir
        val base = graft.Tables(spark, src, "embeddings")
        val dims = 64
        (0 until f).map { i =>
          val h = graft.functions.TextExpressions.fmix64(i + 1L)
          val signs = array(Array.tabulate(dims) { d =>
            lit(if (((h >> (d % 63)) & 1L) == 1L) -1.0f else 1.0f)
          }: _*)
          val shift = i % dims
          val rotated =
            if (shift == 0) col("embedding")
            else concat(slice(col("embedding"), shift + 1, dims - shift),
              slice(col("embedding"), 1, shift))
          base.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
            .withColumn("embedding",
              zip_with(rotated, signs, (x, s) => (x * s).cast("float")))
        }.reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        dir
      }
      val dir = mkEmb(factor)
      val dir10 = mkEmb(10)
      def t(name: String, d: String): Double = {
        val fn = graft.SparkEntry.queries(name)
        fn(spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, d).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      println(s"query,t10x_sec,t${factor}x_sec,ratio")
      for (q <- Seq("ann_lsh_topk")) {
        val t10 = t(q, dir10)
        val tN = t(q, dir)
        println(f"EMBSCALE $q,$t10%.2f,$tN%.2f,${tN / t10}%.1f")
      }
      // The fixed-τ leg runs at τ = 0.75 (6σ above the d=64 noise
      // floor — random-pair cosine is N(0, 1/64), σ = 0.125), the
      // same at both scales, isolating the CANDIDATE-volume law from
      // output densification: at any τ below the floor the TRUE
      // output grows ~n²·P(noise ≥ τ) and any exact algorithm pays it
      // (the r9 run measured 94.8× wall at the then-registered fixed
      // τ = 0.4 for exactly this reason — which is why, since round
      // 10, the REGISTERED row derives noiseFloorTau(d, n) instead;
      // the auto leg below probes that posture directly).
      def tNd(d: String): (Double, Long) = {
        def vecs = graft.Tables(spark, d, "embeddings")
          .withColumn("v", col("embedding").cast("array<double>"))
          .select(col("vec_id").as("id"), col("v"))
        def run(): Long = {
          val n = graft.ops.Similarity.neardupPairsOn(vecs, threshold = 0.75)
            .count()
          spark.catalog.clearCache()
          n
        }
        run()
        var out = 0L
        val tMin = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          out = run()
          (System.nanoTime() - t0) / 1e9
        }.min
        (tMin, out)
      }
      val (t10, n10) = tNd(dir10)
      val (tN, nN) = tNd(dir)
      println(f"EMBSCALE neardup_pairs_t075,$t10%.2f,$tN%.2f,${tN / t10}%.1f,pairs=$n10/$nN")
      // The registered row's round-10 posture: threshold ≤ 0 derives
      // the noise-floor τ(d, n), so the OUTPUT stays (sub)linear by
      // construction as n grows — print the picked τ and the output
      // count at both scales (the r9 run measured τ=0.4's output
      // densifying ~n²·5e-4 here; the floor is exactly what kills it).
      def tauAuto(d: String): (Double, Long, Double) = {
        def vecs = graft.Tables(spark, d, "embeddings")
          .withColumn("v", col("embedding").cast("array<double>"))
          .select(col("vec_id").as("id"), col("v"))
        val n = vecs.count()
        val tau = graft.ops.Similarity.noiseFloorTau(64, n)
        def run(): Long = {
          val c = graft.ops.Similarity.neardupPairsOn(vecs, threshold = -1).count()
          spark.catalog.clearCache(); c
        }
        run()
        var out = 0L
        val tMin = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); out = run()
          (System.nanoTime() - t0) / 1e9
        }.min
        (tMin, out, tau)
      }
      val (ta10, na10, tau10) = tauAuto(dir10)
      val (taN, naN, tauN) = tauAuto(dir)
      println(f"EMBSCALE neardup_pairs_auto_tau,$ta10%.2f,$taN%.2f,${taN / ta10}%.1f," +
        f"tau=$tau10/$tauN,pairs=$na10/$naN")
      spark.stop()
      return
    }

    // --kdc-fleet-list: the verdict's 10k-file fleet probe — driver-side
    // listing + split-planning cost over 100 host= dirs × 100 day= dirs
    // × 1 tiny log each (10,201 listStatus targets). Compares the serial
    // walk (graft.kdc.list.threads=1) against the bounded-pool parallel
    // walk (default 16), and prints the WALK COUNT per planned query —
    // since r12, schema inference's snapshot feeds split planning, so
    // a batch query is ONE walk (it was two, plus per-file lookups).
    if (args.contains("--kdc-fleet-list")) {
      val root = "target/scratch/kdc_fleet_list"
      if (!new java.io.File(root).exists()) {
        val session =
          "2015-11-22T10:00:00 AS-REQ u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
            "2015-11-22T10:00:00 ENC-TS Pre-authentication succeeded -- u@X.ORG\n" +
            "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n"
        for (h <- 0 until 100; d <- 0 until 100) {
          val f = new java.io.File(f"$root/host=h$h%03d/day=d$d%03d/kdc.log")
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath, session.getBytes("UTF-8"))
        }
        println(s"[kdc-fleet-list] wrote 10000 logs under $root")
      }
      def timePlan(threads: Int): (Double, Long) = {
        sys.props("graft.kdc.list.threads") = threads.toString
        try {
          (1 to 2).map { _ =>
            val w0 = graft.kdc.v2.KdcFileLayout.listingWalks.get()
            val t0 = System.nanoTime()
            val n = spark.read.format("kdclog").option("recursive", "true")
              .load(root).rdd.getNumPartitions
            require(n > 0)
            ((System.nanoTime() - t0) / 1e9,
              graft.kdc.v2.KdcFileLayout.listingWalks.get() - w0)
          }.minBy(_._1)
        } finally sys.props.remove("graft.kdc.list.threads")
      }
      val (serialWall, serialWalks) = timePlan(1)
      val (parWall, parWalks) = timePlan(16)
      println(f"KDCFLEET plan_serial_walk,$serialWall%.2f,walks=$serialWalks")
      println(f"KDCFLEET plan_parallel_walk,$parWall%.2f,walks=$parWalks")
      spark.stop()
      return
    }

    // --kdc-topn: "the latest n sessions in the fleet" — ORDER BY ts
    // DESC LIMIT 10 over 32 day-partitioned logs of 5,000 sessions
    // each (160k total). With the pushdown each reader returns its
    // ≤10-row heap (rows shipped ≤ 10·splits); the control orders by
    // a non-ts column, which the builder REFUSES, so every parsed
    // session ships to the sort.
    if (args.contains("--kdc-topn")) {
      val root = "target/scratch/kdc_topn_fleet"
      if (!new java.io.File(root).exists()) {
        for (d <- 0 until 32) {
          val sb = new StringBuilder
          for (i <- 0 until 5000) {
            val ts = f"2015-11-${1 + d % 28}%02dT${i / 300}%02d:${(i / 5) % 60}%02d:${(i * 7) % 60}%02d"
            sb.append(s"$ts AS-REQ u$i@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n")
            sb.append(s"$ts ENC-TS Pre-authentication succeeded -- u$i@X.ORG\n")
            sb.append(s"$ts sending 752 bytes to IPv4:10.0.0.1\n")
          }
          val f = new java.io.File(f"$root/day=d$d%03d/kdc.log")
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
        }
        println(s"[kdc-topn] wrote 32 x 5000-session logs under $root")
      }
      def leg(name: String, sort: org.apache.spark.sql.Column): Unit = {
        val emitted = new java.util.concurrent.atomic.AtomicLong(0)
        graft.kdc.v2.KdcPartitionReader.emitTap.set(emitted)
        try {
          val (w, n) = (1 to 2).map { _ =>
            emitted.set(0)
            val t0 = System.nanoTime()
            val rows = spark.read.format("kdclog").option("recursive", "true")
              .load(root).orderBy(sort).limit(10).collect().length
            require(rows == 10, s"$name returned $rows rows")
            ((System.nanoTime() - t0) / 1e9, emitted.get)
          }.minBy(_._1)
          println(f"KDCTOPN $name,$w%.2f,rows_shipped=$n")
        } finally graft.kdc.v2.KdcPartitionReader.emitTap.set(null)
      }
      leg("ts_pushed", col("ts").desc)
      leg("client_refused", col("client"))
      spark.stop()
      return
    }

    // --kdc-dpp: runtime file pruning at fleet scale — the 100 host= ×
    // 100 day= layout from --kdc-fleet-list, joined against a
    // dimension whose filter keeps 3 of the 100 days. Which days
    // survive is runtime information, so only dynamic partition
    // pruning (`SupportsRuntimeFiltering` on KdcScan) can skip the
    // other 9,700 files — the probe counts files actually OPENED via
    // the reader tap and times the join with DPP on vs off.
    if (args.contains("--kdc-dpp")) {
      val root = "target/scratch/kdc_fleet_list"
      if (!new java.io.File(root).exists()) {
        val session =
          "2015-11-22T10:00:00 AS-REQ u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
            "2015-11-22T10:00:00 ENC-TS Pre-authentication succeeded -- u@X.ORG\n" +
            "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n"
        for (h <- 0 until 100; d <- 0 until 100) {
          val f = new java.io.File(f"$root/host=h$h%03d/day=d$d%03d/kdc.log")
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath, session.getBytes("UTF-8"))
        }
        println(s"[kdc-dpp] wrote 10000 logs under $root")
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
      val dim = spark.range(0, 100)
        .selectExpr("format_string('d%03d', id) AS day", "id AS w")
        .filter(col("w") < 3)
      def leg(dppOn: Boolean): (Double, Int, Long) = {
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", dppOn.toString)
        val tap = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        graft.kdc.v2.KdcPartitionReader.openTap.set(tap)
        try {
          (1 to 2).map { _ =>
            tap.clear()
            val t0 = System.nanoTime()
            val read = spark.read.format("kdclog").option("recursive", "true")
              .load(root).select(col("client"), col("day"))
            val n = read.join(dim, "day").count()
            ((System.nanoTime() - t0) / 1e9,
              new java.util.HashSet(tap).size(), n)
          }.minBy(_._1)
        } finally {
          graft.kdc.v2.KdcPartitionReader.openTap.set(null)
          spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
        }
      }
      val (wOff, fOff, nOff) = leg(dppOn = false)
      val (wOn, fOn, nOn) = leg(dppOn = true)
      require(nOn == nOff, s"DPP changed the answer: $nOn vs $nOff")
      println(f"KDCDPP dpp_off,$wOff%.2f,files_opened=$fOff,rows=$nOff")
      println(f"KDCDPP dpp_on,$wOn%.2f,files_opened=$fOn,rows=$nOn")
      spark.stop()
      return
    }

    // --kdc-tail: the watermarked tail at fleet cadence (r11 verdict
    // task 6) — nFiles (default 400) small logs arriving across ~20
    // AvailableNow micro-batches, event-time advancing one day per
    // batch so the 1 h watermark finalizes a day's windows per
    // trigger. Reports PER-TRIGGER listing/planning/state wall from
    // the engine's own progress events, plus the total listing-walk
    // count (must be 2 for the whole run: inference + prepare).
    if (args.contains("--kdc-tail")) {
      val nFiles = args.collectFirst {
        case a if a.startsWith("--files=") => a.stripPrefix("--files=").toInt
      }.getOrElse(400)
      val perBatch = math.max(1, nFiles / 20)
      val root = s"target/scratch/kdc_tail_$nFiles"
      if (!new java.io.File(root).exists()) {
        new java.io.File(root).mkdirs()
        for (i <- 0 until nFiles) {
          val day = java.time.LocalDate.of(2015, 1, 1).plusDays(i / perBatch)
          val sb = new StringBuilder
          for (s <- 0 until 20) {
            val ts = f"${day}T10:${s % 60}%02d:00"
            val u = s"user_${(i * 20 + s) % 997}"
            sb.append(s"$ts AS-REQ $u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n")
            sb.append(s"$ts ENC-TS Pre-authentication succeeded -- $u@X.ORG\n")
            sb.append(s"$ts sending 752 bytes to IPv4:10.0.0.1\n")
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(root, f"tail-$i%05d.log"),
            sb.toString.getBytes("UTF-8"))
        }
        println(s"[kdc-tail] wrote $nFiles tail logs under $root")
      }
      val cp = s"$root/_cp"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cp))
      val w0 = graft.kdc.v2.KdcFileLayout.listingWalks.get()
      val q = spark.readStream.format("kdclog")
        .option("maxFilesPerTrigger", perBatch.toString).load(root)
        .withColumn("ets", to_timestamp(col("ts")))
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 day"), col("client"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("day"), col("client"), col("n"))
        .writeStream.format("memory").queryName("kdc_tail_probe")
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val walks = graft.kdc.v2.KdcFileLayout.listingWalks.get() - w0
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        val st = p.stateOperators.headOption
        println(f"KDCTAIL batch=${p.batchId},rows=${p.numInputRows}," +
          f"trigger_ms=${d.getOrDefault("triggerExecution", -1L)}," +
          f"latestOffset_ms=${d.getOrDefault("latestOffset", -1L)}," +
          f"planning_ms=${d.getOrDefault("queryPlanning", -1L)}," +
          f"addBatch_ms=${d.getOrDefault("addBatch", -1L)}," +
          f"state_rows=${st.map(_.numRowsTotal).getOrElse(-1L)}," +
          f"state_mem=${st.map(_.memoryUsedBytes).getOrElse(-1L)}")
      }
      val finalized = spark.table("kdc_tail_probe").count()
      println(s"KDCTAIL total_walks=$walks,finalized_rows=$finalized," +
        s"batches=${q.recentProgress.length}")
      spark.stop()
      return
    }

    // --kdc-tail-retention: the 100k-file driver-state probe (r11
    // verdict task 1's done-bar) — drives the SOURCE's admission loop
    // directly (no executor reads: the cost under test is listing,
    // admission, manifest writes, and snapshot size). Compares an
    // unbounded run against a maxFileAge-retained run over the same
    // tail: per-trigger latestOffset wall and the final .compact
    // snapshot's entries/bytes, which is also the restart-load and
    // rebuilt-seen-set bound.
    if (args.contains("--kdc-tail-retention")) {
      val nFiles = args.collectFirst {
        case a if a.startsWith("--files=") => a.stripPrefix("--files=").toInt
      }.getOrElse(100000)
      val root = s"target/scratch/kdc_tail_ret_$nFiles"
      val base = 1700000000000L // fixed epoch base: mod times 1 s apart
      if (!new java.io.File(root).exists()) {
        new java.io.File(root).mkdirs()
        val body = ("2015-11-22T10:00:00 AS-REQ u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
          "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n").getBytes("UTF-8")
        for (i <- 0 until nFiles) {
          val f = new java.io.File(root, f"log-$i%06d.log")
          java.nio.file.Files.write(f.toPath, body)
          f.setLastModified(base + i * 1000L)
        }
        println(s"[kdc-tail-retention] wrote $nFiles logs under $root")
      }
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      def drive(label: String, opts: Map[String, String]): Unit = {
        val cp = s"$root/_cp_$label"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cp))
        val stream = new graft.kdc.v2.KdcMicroBatchStream(root,
          opts + ("maxFilesPerTrigger" -> "10000"), Nil,
          graft.kdc.v2.KdcLogTable.schema, Array.empty, cp)
        var off = stream.initialOffset()
        var advancing = true
        var batches = 0
        while (advancing) {
          val t0 = System.nanoTime()
          val next = stream.latestOffset(off, ReadLimit.maxFiles(10000))
          val wall = (System.nanoTime() - t0) / 1e9
          if (next.json() == off.json()) advancing = false
          else {
            batches += 1
            println(f"KDCRET $label batch=$batches,latestOffset_s=$wall%.2f")
            off = next
          }
        }
        val mDir = new java.io.File(s"$cp/kdc-file-manifest")
        val compacts = mDir.listFiles().filter(_.getName.endsWith(".compact"))
        if (compacts.isEmpty) println(s"KDCRET $label no compact snapshot")
        else {
          val last = compacts.maxBy(_.getName.stripSuffix(".compact").toInt)
          val entries = "log-\\d+".r
            .findAllIn(java.nio.file.Files.readString(last.toPath)).size
          println(s"KDCRET $label batches=$batches," +
            s"snapshot=${last.getName},entries=$entries,bytes=${last.length()}")
        }
      }
      drive("unbounded", Map("manifestCompactInterval" -> "2"))
      // 1 s per file -> "2h" retains the trailing 7200 files
      drive("retained", Map("manifestCompactInterval" -> "2", "maxFileAge" -> "2h"))
      spark.stop()
      return
    }

    // --kdc-tail-pruned: the horizon-scoped DIRECTORY listing probe
    // (r12 verdict task 1's done-bar) — a rotation fleet grows one
    // `day=` directory per trigger while a caught-up tail follows.
    // Without maxFileAgeDirKey every trigger walks every directory the
    // fleet has EVER rotated (O(history)); with it, directories wholly
    // behind the retention horizon are skipped before listing, so the
    // per-trigger walk is the live window (flat as history grows).
    // Drives the source's admission loop directly, like the retention
    // probe: the cost under test is listing RPCs, pinned by the
    // dirsListed counter, not executor reads.
    if (args.contains("--kdc-tail-pruned")) {
      val nDays = args.collectFirst {
        case a if a.startsWith("--days=") => a.stripPrefix("--days=").toInt
      }.getOrElse(120)
      val perDay = 20
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      val body = ("2015-11-22T10:00:00 AS-REQ u@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG\n" +
        "2015-11-22T10:00:00 sending 752 bytes to IPv4:10.0.0.1\n").getBytes("UTF-8")
      def drive(label: String, opts: Map[String, String]): Unit = {
        val root = s"target/scratch/kdc_tail_pruned_$label"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
        new java.io.File(root).mkdirs()
        val stream = new graft.kdc.v2.KdcMicroBatchStream(root,
          opts ++ Map("recursive" -> "true", "manifestCompactInterval" -> "10"),
          Seq("day"), graft.kdc.v2.KdcLogTable.schema, Array.empty, s"$root/_cp")
        var off = stream.initialOffset()
        val dirs = graft.kdc.v2.KdcFileLayout.dirsListed
        val samples = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
        for (t <- 0 until nDays) {
          val day = java.time.LocalDate.of(2015, 1, 1).plusDays(t)
          val d = new java.io.File(root, s"day=$day")
          d.mkdirs()
          val mod = day.atTime(12, 0).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          for (i <- 0 until perDay) {
            val f = new java.io.File(d, f"log-$i%03d.log")
            java.nio.file.Files.write(f.toPath, body)
            f.setLastModified(mod)
          }
          val d0 = dirs.get()
          val t0 = System.nanoTime()
          off = stream.latestOffset(off, ReadLimit.allAvailable())
          samples += ((dirs.get() - d0, (System.nanoTime() - t0) / 1e9))
        }
        def mean(xs: collection.Seq[Double]) = xs.sum / xs.length
        println(s"KDCTAILPRUNED $label days=$nDays " +
          s"first5_dirs=${samples.take(5).map(_._1).mkString(",")} " +
          s"last5_dirs=${samples.takeRight(5).map(_._1).mkString(",")} " +
          f"first5_wall_s=${mean(samples.take(5).map(_._2))}%.4f " +
          f"last5_wall_s=${mean(samples.takeRight(5).map(_._2))}%.4f")
      }
      drive("unpruned", Map("maxFileAge" -> "72h"))
      drive("pruned", Map("maxFileAge" -> "72h", "maxFileAgeDirKey" -> "day"))
      spark.stop()
      return
    }

    // --kdc-parse-cost: the columnar-scan exploration's MEASUREMENT
    // (r11 verdict task 7 — decide before building): single-thread
    // per-core parse cost split into (a) sessionize-only [record
    // reader + session fold, no rows], (b) the full V2 reader loop
    // with all 15 columns [adds filter eval, per-field extraction,
    // UTF8String conversion, one GenericInternalRow per session], and
    // (c) the full loop pruned to (client, ts). (b)−(a) bounds what
    // ANY row-reuse/columnar rework could recover; (b)−(c) is what
    // column pruning already recovers today.
    if (args.contains("--kdc-parse-cost")) {
      val nSessions = args.collectFirst {
        case a if a.startsWith("--sessions=") => a.stripPrefix("--sessions=").toInt
      }.getOrElse(2000000)
      val dir = s"target/scratch/kdc_scale_$nSessions"
      val f = new java.io.File(s"$dir/big.log")
      if (!f.exists()) writeKdcLog(f, nSessions)
      val conf = new org.apache.hadoop.conf.Configuration()
      def timeIt(label: String)(body: => Long): Unit = {
        val (wall, n) = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val n = body
          ((System.nanoTime() - t0) / 1e9, n)
        }.minBy(_._1)
        println(f"KDCPARSE $label,$wall%.2f,sessions=$n,rate=${n / wall / 1e6}%.2f M/s")
      }
      def mkReader() = {
        val split = new org.apache.hadoop.mapreduce.lib.input.FileSplit(
          new org.apache.hadoop.fs.Path(f.getPath), 0, f.length(), null)
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
        val r = new graft.kdc.KdcSessionInputFormat().createRecordReader(split, ctx)
        r.initialize(split, ctx)
        r
      }
      timeIt("sessionize_only") {
        val r = mkReader()
        var n = 0L
        while (r.nextKeyValue()) {
          val it = graft.kdc.Sessionizer.sessionize(
            r.getCurrentValue.toString.linesIterator)
          while (it.hasNext) { it.next(); n += 1 }
        }
        r.close(); n
      }
      def readerLoop(fields: Array[String]): Long = {
        val part = graft.kdc.v2.KdcInputPartition(
          f.getPath, 0, f.length(), Array.empty, Map.empty)
        val rd = new graft.kdc.v2.KdcPartitionReader(part, conf, fields, Array.empty)
        var n = 0L
        while (rd.next()) { rd.get(); n += 1 }
        rd.close(); n
      }
      timeIt("reader_all_columns") {
        readerLoop(graft.kdc.v2.KdcLogTable.schema.fieldNames)
      }
      timeIt("reader_pruned_client_ts")(readerLoop(Array("client", "ts")))
      spark.stop()
      return
    }

    // --kdc-scale: parse-path throughput on ONE large synthetic log
    // file — the few-huge-files layout the split-aligned reader exists
    // for. Compares (a) recordsAligned() [byte-aligned splits, zero
    // shuffle], (b) the V2 table full-scan, (c) the V2 table with
    // realm+reqtype pushdown and (client, ts) pruning [predicates
    // evaluate on the typed session record BEFORE row
    // materialization], and (d) the same query with post-parse Spark
    // filters over (a) — the baseline (c)'s pushdown must beat.
    if (args.contains("--kdc-scale")) {
      val nSessions = args.collectFirst {
        case a if a.startsWith("--sessions=") => a.stripPrefix("--sessions=").toInt
      }.getOrElse(1000000)
      val dir = s"target/scratch/kdc_scale_$nSessions"
      val f = new java.io.File(s"$dir/big.log")
      if (!f.exists()) writeKdcLog(f, nSessions)
      def time(label: String)(mk: => DataFrame): Unit = {
        mk.write.format("noop").mode("overwrite").save()
        val tMin = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          mk.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"KDCSCALE $label,$tMin%.2f")
      }
      import graft.kdc.KdcSource
      val realm = "SQUILL.DEMENTIA.ORG"
      time("records_aligned")(KdcSource.recordsAligned(spark, dir).toDF())
      time("v2_full_scan")(spark.read.format("kdclog").load(dir))
      time("v2_pushdown_scoped")(
        spark.read.format("kdclog").load(dir)
          .filter(col("crealm") === realm && col("req_type") === "AUTH")
          .select(col("client"), col("ts")))
      time("aligned_postparse_scoped")(
        KdcSource.recordsAligned(spark, dir).toDF()
          .filter(col("crealm") === realm && col("req_type") === "AUTH")
          .select(col("client"), col("ts")))
      // the splittable-compressed posture: ONE multi-block .bz2 of the
      // same log, decoded block-parallel by the probe-aligned reader —
      // the reference's own splittable case at probe scale
      val bz2Dir = s"$dir-bz2"
      val bz2 = new java.io.File(s"$bz2Dir/big.log.bz2")
      if (!bz2.exists()) {
        bz2.getParentFile.mkdirs()
        val codec = new org.apache.hadoop.io.compress.BZip2Codec
        codec.setConf(spark.sparkContext.hadoopConfiguration)
        val out = codec.createOutputStream(new java.io.FileOutputStream(bz2))
        val in = new java.io.FileInputStream(f)
        org.apache.commons.io.IOUtils.copyLarge(in, out)
        in.close(); out.close()
        println(s"[kdc-scale] wrote bz2 ${bz2.length() / (1 << 20)} MiB")
      }
      // a 10 MiB .bz2 sits under the 128 MiB Hadoop split bound, so a
      // caller-set-nothing read USED to decode 282 MiB in one task
      // (~27 s measured in r10) — the planner now derives a
      // compressed-size split bound by default, so the bare-load leg
      // measures the block-parallel DEFAULT; the single-task posture
      // is kept as an explicit-oversize baseline. The hand-tuned 1 MiB
      // leg (with the probe window shrunk to ~1 compressed block)
      // remains for comparison against the derived default.
      def bz2Read = spark.read.format("kdclog")
        .option("maxSplitBytes", (1L << 20).toString)
        .option("graft.kdc.bz2.lookback.bytes", (256L << 10).toString)
        .load(bz2Dir)
      time("v2_bz2_default_derived_splits")(spark.read.format("kdclog").load(bz2Dir))
      time("v2_bz2_single_split_forced")(
        spark.read.format("kdclog")
          .option("maxSplitBytes", Long.MaxValue.toString).load(bz2Dir))
      time("v2_bz2_block_parallel_tuned")(bz2Read)
      time("v2_bz2_block_parallel_scoped")(
        bz2Read.filter(col("crealm") === realm && col("req_type") === "AUTH")
          .select(col("client"), col("ts")))

      // partition-path FILE pruning: the same sessions laid out as a
      // day=…-partitioned fleet (7 rotation days). A day-scoped query
      // must cost ~1/7 of the full scan because six of seven files are
      // never OPENED; the post-parse baseline pushes the same ts range
      // into the record parse but still reads every file — pruning is
      // an I/O win, pushdown only a row-materialization win.
      val fleetDir = s"$dir-fleet"
      if (!new java.io.File(fleetDir).exists()) {
        val writers = (0 until 7).map { d =>
          val day = f"2015-11-${22 + d}%02d"
          val df = new java.io.File(s"$fleetDir/day=$day/kdc.log")
          df.getParentFile.mkdirs()
          new java.io.BufferedWriter(new java.io.FileWriter(df), 1 << 20)
        }
        val realms2 = Array("SQUILL.DEMENTIA.ORG", "FEDERATED.ORG")
        var i = 0
        while (i < nSessions) {
          val w = writers(i % 7)
          val realm2 = realms2(i % 2)
          val user = s"user_${i % 10000}"
          val ts = f"2015-11-${22 + i % 7}%02dT${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
          val ip = s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"
          w.write(s"$ts AS-REQ $user@$realm2 from IPv4:$ip for krbtgt/$realm2@$realm2\n")
          w.write(s"$ts ENC-TS Pre-authentication succeeded -- $user@$realm2 using aes256-cts-hmac-sha1-96\n")
          w.write(s"$ts sending 752 bytes to IPv4:$ip\n")
          i += 1
        }
        writers.foreach(_.close())
        println(s"[kdc-scale] wrote day-partitioned fleet under $fleetDir")
      }
      def fleet = spark.read.format("kdclog").option("recursive", "true").load(fleetDir)
      time("v2_fleet_full_scan")(fleet.select(col("client"), col("ts")))
      time("v2_fleet_day_pruned")(
        fleet.filter(col("day") === "2015-11-22").select(col("client"), col("ts")))
      time("v2_fleet_day_postparse")(
        fleet.filter(col("ts") >= "2015-11-22T00:00:00" && col("ts") < "2015-11-23T00:00:00")
          .select(col("client"), col("ts")))
      spark.stop()
      return
    }

    // --skew: the planted-skew probe behind SkewUtils.adaptiveSaltedJoin
    // (round-9 verdict task 4). Two synthetic fact tables per scale —
    // one with a single hot key carrying ~40% of rows, one uniform —
    // joined to their key dimension three ways: plain, statically
    // salted (nSalts=8), and adaptive. The claims the table must show:
    // (a) adaptive ENGAGES on the skewed table (salts > 1, sized from
    // the measured excess) and tracks-or-beats plain there;
    // (b) adaptive does NOT pay the salt constant on the uniform
    // table (its time ≈ plain + one profile pass, while static
    // salting pays the 8x dim replication for nothing).
    if (args.contains("--skew")) {
      def mkFact(n: Long, skewed: Boolean, path: String): Unit = {
        if (new java.io.File(path).exists()) return
        val nKeys = 4096
        val key = if (skewed)
          when(pmod(col("id"), lit(100)) < 40, lit("hot"))
            .otherwise(concat(lit("k_"), pmod(col("id"), lit(nKeys))))
        else concat(lit("k_"), pmod(col("id"), lit(nKeys)))
        spark.range(n).select(key.as("key"), col("id").as("x"))
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      def timeJoin(fact: DataFrame, dim: DataFrame,
                   mk: (DataFrame, DataFrame) => DataFrame): Double = {
        mk(fact, dim).write.format("noop").mode("overwrite").save()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          mk(fact, dim).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      println("scale,dist,n_rows,salts_decided,t_plain,t_salted8,t_adaptive_warm,t_adaptive_cold,t_adaptive_cold_s16")
      for ((scale, n) <- Seq(("1x", 2000000L), ("10x", 20000000L));
           dist <- Seq("skew", "uniform")) {
        val path = s"target/scratch/skewprobe_${dist}_$scale"
        mkFact(n, dist == "skew", path)
        val fact = spark.read.parquet(path)
        val dim = fact.select(col("key")).distinct()
          .withColumn("tag", length(col("key")).cast("long"))
          .persist()
        dim.count()
        val (nRows, maxCnt) = graft.ops.SkewUtils.profileKey(fact, "key")
        val salts = graft.ops.SkewUtils.decideSalts(nRows, maxCnt, 32)
        val tPlain = timeJoin(fact, dim, (b, s) => b.join(s, Seq("key")))
        val tSalted = timeJoin(fact, dim,
          (b, s) => graft.ops.SkewUtils.saltedJoin(b, s, "key", 8))
        // warm = the round-10 default: the profile is cached per
        // (plan, key) within the session, so the steady state pays
        // the plain join only (timeJoin's warmup call populates it)
        graft.ops.SkewUtils.clearProfileCache()
        val tAdaptive = timeJoin(fact, dim,
          (b, s) => graft.ops.SkewUtils.adaptiveSaltedJoin(b, s, "key"))
        // cold = first-contact cost: profile re-measured per call
        val tAdaptiveCold = timeJoin(fact, dim,
          (b, s) => graft.ops.SkewUtils.adaptiveSaltedJoin(b, s, "key",
            reuseProfile = false))
        // the cold at-scale posture: profile a 1-in-16 row sample —
        // same decision (the sampled-profile spec pins it), cost ~16x lower
        val tAdaptiveS = timeJoin(fact, dim,
          (b, s) => graft.ops.SkewUtils.adaptiveSaltedJoin(b, s, "key",
            sampleOneIn = 16, reuseProfile = false))
        println(f"SKEW $scale,$dist,$nRows,$salts,$tPlain%.2f,$tSalted%.2f,$tAdaptive%.2f,$tAdaptiveCold%.2f,$tAdaptiveS%.2f")
        dim.unpersist(blocking = false)
      }
      spark.stop()
      return
    }

    def replicate(table: String, keyCols: Map[String, Long]): Unit = {
      val base = graft.Tables(spark, src, table)
      val out = (0 until 10).map { i =>
        keyCols.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$big/$table.parquet")
    }
    // shift entity keys so cardinalities scale 10x (10x users, docs,
    // vectors — not 10x denser groups); --skip-replicate reuses the
    // tables from a previous run
    if (!args.contains("--skip-replicate")) {
      replicate("events", Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      replicate("documents", Map("doc_id" -> 1000000L))
      replicate("embeddings", Map("vec_id" -> 1000000L))
      // dq_checks' FK gate reads these; o_custkey shifts in lockstep
      // with c_custkey so the orphan ratio is scale-invariant
      replicate("customer", Map("c_custkey" -> 10000000L))
      replicate("orders", Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L))
      replicate("lineitem", Map("l_orderkey" -> 100000000L))
      // pure dims (supplier/nation/region/part) are NOT shifted: the
      // 10x world keeps the same dimension rows, each fact key gaining
      // 10x references (deliberate hub growth for the graph/Q21/Q7
      // probes) — copied unreplicated
      for (dim <- Seq("supplier", "nation", "region", "part"))
        graft.Tables(spark, src, dim).write.mode("overwrite")
          .parquet(s"$big/$dim.parquet")
    }

    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      // warmup once, then min of 2 (bench methodology)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }

    // non-flag args = probe only those queries (new-row triage;
    // no args = the full representative suite)
    val only = args.filterNot(_.startsWith("--")).toSet
    val queries = Seq(
      "user_first_last",       // scan + single-shuffle agg
      "event_sessions",        // two stacked windows + agg
      "top_users",             // TakeOrderedAndProject
      "asof_purchase_click",   // union + window asof
      "range_join_nearby",     // binned interval join
      "dedup_exact_groups",    // hash groupBy on md5
      "text_quality",          // single-scan HOFs
      "text_fingerprints",     // native winnow kernel
      "dedup_minhash_lsh",     // LSH band join + exact verify
      "ann_brute_topk",        // broadcast query set x corpus scan
      "text_repetition",       // (doc, token) shuffle + per-row HOF
      "pipeline_contamination",// corpus grams x broadcast eval grams
      "dedup_simhash_pairs",   // M61+fmix votes, block-pair join
      "dedup_jaccard_pairs",   // hashed posting self-join (native shingles)
      "sketch_kmv_users",      // scan-stage hash + bounded top-k merge
      "doc_chunks",            // per-row generate, no shuffle
      "vocab_oov_rate",        // top-V induction + broadcast score join
      "mixture_balance",       // count-derived rates broadcast to scan
      "embedding_cluster_assign", // k-seed broadcast assignment pass
      "text_pii_scrub",        // per-row regexp kernels, zero shuffle
      "pipeline_line_dedup",   // line-hash df groupBy + flag join + regroup
      "corpus_shuffle_order",  // range exchange + two-phase rank
      "pipeline_dedup_keep_best", // pair-graph clusters + argmax window
      "pipeline_contamination_bloom", // bloom prefilter + broadcast confirm
      "bm25_topk",             // tf groupBy + broadcast query terms
      "text_lm_surprisal",     // tf groupBy + vocab-sized LM join
      "text_pmi_pairs",        // per-row pair generate + pair groupBy
      "embedding_semantic_dedup", // per-cell pairwise prune
      "sample_split_assign",   // scan-stage md5 bucket routing
      "dedup_span_stats",      // span-hash postings, 2 hash shuffles
      "text_lm_bigram",        // per-row bigram gen + vocab^2 count join
      "funnel_conversion",     // chained user-keyed joins + min-aggs
      "cohort_retention",      // first-day agg + join back + count
      "session_window_stats",  // native merge-on-overlap sessions
      "daily_error_rate",      // daily agg + range frame over days
      "trailing_hour_value",   // per-user RANGE frame over event time
      "dedup_fuzzy_pairs",     // posting candidates + bounded edit dist
      "dedup_ingest_verdicts", // hash semi-join + cross-side jaccard
      "pipeline_quality_ensemble", // four signal lineages, doc-keyed joins
      "source_mixture",        // groupBy + broadcast total
      "sample_docs_weighted",  // scan-stage keys + TakeOrdered
      "dq_profile_events",     // one agg pass, multi-distinct Expand
      "dq_checks",             // five aggregate/anti-join gates
      "dedup_ingest_indexed",  // persisted index build + pruned batch reads
      "bm25_topk_pruned",      // rare-term candidate prune + exact rescore
      "media_features",        // batched mapPartitions decode kernels
      "supplier_pagerank",     // 5 join+agg rounds over the edge list
      "heavy_hitter_event_types", // MG mapPartitions + candidate recount
      "returned_item_suppliers",  // three-pass per-order aggregates
      "user_value_ewma",       // per-user ordered collect + HOF fold
      "user_stats_incremental", // state write + per-key outer merge
      "user_enrich_salted",    // salted join (dim replicated 8x)
      "lang_token_stats",      // explode + per-lang distinct agg
      "supplier_reach_hops",   // 4 BFS relaxation rounds
      "hybrid_topk_rrf",       // two retriever lineages + rank fusion
      "ann_lsh_topk",          // hash-sign buckets + exact rescore
      "embedding_neardup_pairs", // LSH self-join + exact verify
      "ann_ivf_topk",          // decimal-mean Lloyd + probed rescore
      "late_shipment_orders",  // EXISTS semi-join, non-equi conjunct
      "nation_pair_trade",     // fact-fact join + 4 broadcast dims
      "dormant_customer_balance", // scalar threshold + anti-join
      "event_transition_matrix", // user-keyed window + tiny pair agg
      "rolling_distinct_users",  // (user,day) dedup + bounded explode
      "value_outliers",          // user-keyed moments agg + join back
      "zorder_layout_stats",     // scalar bounds + 32-bin groupBy
      "bpe_merge_pairs",         // per-row pair generate + pair agg
      "excess_supplier_parts",   // (supp,part) agg + re-agg + broadcast
      "numeric_correlations",    // one single-row moment aggregate
      "revenue_trend_slopes",    // monthly agg + per-nation moments
      "customer_dim_scd2",       // dim left join + explode versions
      "orders_scd2_enrich",      // point-in-time key join, bounded versions
      "user_value_gapfill",      // user-keyed aggs + calendar-bounded explode
      "user_time_weighted_value",// one window + one agg, user-keyed
      "join_key_skew",           // one agg pass per profiled table
      "dedup_sorted_neighborhood", // range sort + w-window candidates
      "ann_pq_topk",             // sampled codebooks + code-only ADC scan
      "ann_ivfpq_topk",          // cell-pruned candidates + code ADC
      "ab_test_value",           // one two-group moment aggregate
      "churned_users",           // distinct users + semi/anti joins
      "session_path_topk",       // stacked leads in one user sort + trigram agg
      "daily_value_changepoint", // day-frame prefix sums, fact pays one agg
      "customer_revenue_share",  // fact agg + window over customer frame
      "hourly_activity_profile", // 24x|types| agg + broadcast totals
      "returned_item_customers", // Q10: fact agg before broadcast dims, top-20
      "order_priority_classes",  // Q12: pushed date filter + 2-key agg
      "nation_market_share",     // Q8: six-way join, all dims broadcast
      "dedup_span_chars",        // char-gram postings, 2 hash shuffles
      "daily_value_segments",    // day-frame windows per level, fact pays one agg
      "dedup_cdc_chunks",        // gear chunking, ~1 posting per 64 chars
      "supplier_triangles",      // oriented wedge join, degree-bounded
      "doc_novelty",             // shingle postings, min-doc agg + rejoin
      "value_mad_outliers",      // two percentile aggs, stats broadcast
      "embedding_dbscan",        // LSH pair graph + degree + components
      "contrastive_pairs",       // one scored pass, two bounded windows
      "bpe_learn_merges",        // corpus shuffle once, vocab-sized rounds
      "bpe_tokenize_stats",      // trainer + broadcast vocab join
      "ann_truncation_recall",   // scored pass + two top-k windows
      "doc_kl_divergence",       // class counts + broadcast model relation
      "supplier_link_prediction",// shared-neighbor join on strong ties
      "media_audio_fingerprint", // per-row decode + sign codes, no shuffle
      "pipeline_stage_report",   // persisted stage prefixes, 6 scalar aggs
      "daily_value_seasonal",    // one day agg; windows on the day frame
      "revenue_theilsen",        // monthly pairs per nation, calendar-bounded
      "decontamination_fuzzy_verdicts", // eval postings broadcast, corpus one scan
      "doc_dsir_weights",        // 256-bucket models broadcast, corpus two passes
      "supplier_components",     // strong-tie edges + size-gated labeling
      "value_winsorized",        // percentile agg + broadcast bounds + moment agg
      "mixture_temperature",     // one corpus count agg; rest lang-sized
      "doc_perplexity_buckets",  // LM pass + doc-sized percentile + broadcast cuts
      "quality_calibrated",      // scan-stage quality + source-keyed window
      "embedding_pca_power",     // n·d² outer-product agg; iterations d-sized
      "embedding_pca_topk",      // one Gram agg; k power loops on d² frames
      "dedup_cdc_pairs",         // chunk postings, df-capped coverage join
      "dedup_multi_signal_clusters", // 4 pair generators + shared CC
      "dedup_ingest_epochs_auto",// 4-epoch loop + encoded compaction cadence
      "bpe_learn_batched",       // 9 vocab rounds, up to 16 merges each
      "corpus_top_ngrams",       // hash-keyed count + TakeOrdered + resolve
      "quality_filter_overlap",  // 4 signal passes + ONE 18-sum aggregate
      "embedding_whitening",     // Gram pass + 2 staged-decimal passes
      "pipeline_multi_signal_keep_best", // 4-leg clusters + keep policy
      "decontamination_semantic", // broadcast eval vecs x corpus scan
      "bpe_fertility_by_lang",   // trainer + broadcast vocab, lang agg
      "dedup_rate_by_source",    // one hash shuffle + source agg
      "sketch_kmv_overlap",      // 3 TakeOrdered k-sets, scalar merge
      "daily_anomaly_days",      // day-frame seasonal chain + MAD gate
      "split_leakage_pairs",     // pair graph + doc-keyed split joins
      "cluster_consistent_split",// CC labels + scan-stage cluster hash
      "dedup_family_agreement",  // 4 pair generators once + 10 scalar aggs
      "supplier_communities_lpa",// 4 vote rounds on node-sized frames
      "supplier_kcore",          // 12 h-index rounds, node-bounded windows
      "hilbert_layout_stats",    // scalar bounds + native curve + 32-bin agg
      "sketch_kmv_users_streaming", // micro-batch KMV, <=k-long state
      "shipping_survival",       // one join+agg to the day frame, driver fold
      "layout_skip_simulation",  // 4 layout passes over one cached grid
      "ann_ivf_append",          // frozen-geometry assign + pruned scan
      "bloom_skip_simulation",   // scan-stage slices + 32-bin bit distinct
      "sample_neyman_alloc",     // one moment agg + strata-frame window
      "supplier_pagerank_bucketed", // bucketed write + 1-exchange rounds
      "user_enrich_adaptive",    // key profile pass + plain-or-salted join
      "ann_ivf_append_streaming",// micro-batch deltas, frozen geometry
      "approx_user_cardinality", // grouped KMV typed Aggregator
      "approx_value_percentiles",// bottom-k hash sample + interpolation
      "pipeline_pack_nextfit",   // one mapPartitions fold over shard sort
      "pipeline_pack_nextfit_bpe",// BPE trainer + counts join + pack fold
      "pipeline_pack_semantic",  // seed-broadcast assign + cluster-sharded fold
      "pipeline_pack_report",    // all four pack folds + one summary agg each
      "media_mp4_meta",          // per-row build+parse, no shuffle before sort
      "retrieval_mmr_topk",      // bm25 chain + cached pairs; greedy on local rows
      "sketch_cms_user_counts",  // 256-counter map-side agg + broadcast probe
      "retrieval_prf_topk",      // tf shuffle per pass; bounded sets go local
      "sketch_cms_user_counts_streaming", // micro-batch 256-row state + batch probe
      "quality_classifier_train", // 5 GD iterations, one 6-number agg each
      "quality_classifier_scores") // trainer + one scan-stage sigmoid pass
    println("query,t1x_sec,t10x_sec,ratio")
    for (q <- queries if only.isEmpty || only(q)) {
      val t1 = time(q, src)
      val t10 = time(q, big)
      println(f"SCALE $q,$t1%.2f,$t10%.2f,${t10 / t1}%.1f")
    }
    spark.stop()
  }

  private val ingestStages =
    Seq("build", "verdict", "append", "verdict_delta", "compact",
      "verdict_compacted")

  /** Time one full ingest cycle per scale, twice, min per stage:
    * index build over the first 80% of docs (by id), verdict of the
    * next 10% against the compacted index, batched append of its
    * admits (delta area, NO compaction), delta-aware verdict of the
    * last 10%, then the deferred compaction. The split ids come from
    * exact single-pass quantiles, so the existing/batch proportions
    * are identical at both scales. */
  /** The shared synthetic KDC log generator: `nSessions` three-line
    * AS-REQ sessions, two alternating realms, 10k users, 7 rotation
    * days (the --kdc-scale fixture shape — --kdc-parse-cost reuses the
    * same file so the probes measure the same bytes). */
  private def writeKdcLog(f: java.io.File, nSessions: Int): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val realms = Array("SQUILL.DEMENTIA.ORG", "FEDERATED.ORG")
    var i = 0
    while (i < nSessions) {
      val realm = realms(i % 2)
      val user = s"user_${i % 10000}"
      val ts = f"2015-11-${22 + i % 7}%02dT${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
      val ip = s"10.${(i >> 16) & 255}.${(i >> 8) & 255}.${i & 255}"
      w.write(s"$ts AS-REQ $user@$realm from IPv4:$ip for krbtgt/$realm@$realm\n")
      w.write(s"$ts ENC-TS Pre-authentication succeeded -- $user@$realm using aes256-cts-hmac-sha1-96\n")
      w.write(s"$ts sending 752 bytes to IPv4:$ip\n")
      i += 1
    }
    w.close()
    println(s"[kdc-scale] wrote ${f.length() / (1 << 20)} MiB, $nSessions sessions")
  }

  private def runIngestStages(spark: SparkSession, src: String, big: String,
                              bigTag: String = "10x"): Unit = {
    def stagesAt(dir: String, tag: String): Map[String, Double] = {
      // split on the per-replica id (rid = doc_id mod the replication
      // stride; identity at 1x): id-range splits would make every 10x
      // batch doc an exact copy of existing content (nothing admitted,
      // empty append, trivial delta stages) — rid splits keep each
      // batch 10x FRESH content, so every stage carries 10x volume
      val docs = graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("rid", pmod(col("doc_id"), lit(1000000L)))
      val Array(s1, s2) = docs.stat.approxQuantile("rid", Array(0.8, 0.9), 0.0)
      def slice(f: org.apache.spark.sql.Column) =
        docs.filter(f).select(col("doc_id"), col("text"))
      val existing = slice(col("rid") < s1)
      val batch1 = slice(col("rid") >= s1 && col("rid") < s2)
      val batch2 = slice(col("rid") >= s2)
      def cycle(i: Int): Map[String, Double] = {
        val path = new java.io.File(s"target/scratch/ingest_probe_${tag}_$i").getAbsolutePath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
        val out = scala.collection.mutable.Map[String, Double]()
        def t(stage: String)(f: => Unit): Unit = {
          val t0 = System.nanoTime(); f
          out(stage) = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
        }
        var rows1: Array[org.apache.spark.sql.Row] = null
        t("build") { graft.ops.Dedup.writePostingIndex(spark, existing, path) }
        t("verdict") {
          rows1 = graft.ops.Dedup.ingestDedupIndexed(spark, path, batch1).collect()
        }
        val v1 = spark.createDataFrame(java.util.Arrays.asList(rows1: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("exact_dup",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("near_dup",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("admit",
              org.apache.spark.sql.types.BooleanType))))
        val admitted = batch1.join(
          v1.filter(col("admit")).select(col("doc_id")), Seq("doc_id"), "left_semi")
        t("append") {
          graft.ops.Dedup.appendToPostingIndex(spark, admitted, path, compact = false)
        }
        t("verdict_delta") {
          graft.ops.Dedup.ingestDedupIndexed(spark, path, batch2).collect()
        }
        // the ENCODED cadence fires here (batch-over-base byte ratio
        // well past 0.10 at these split sizes) — and the re-verdict
        // shows the delta-aware ~3× multiplier reverting to ~1×
        t("compact") {
          val fired = graft.ops.Dedup.maybeCompactPostingIndex(
            spark, path, ratio = 0.10)
          require(fired, "auto-compaction policy unexpectedly below ratio")
        }
        t("verdict_compacted") {
          graft.ops.Dedup.ingestDedupIndexed(spark, path, batch2).collect()
        }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
        out.toMap
      }
      val a = cycle(1); val b = cycle(2)
      ingestStages.map(k => k -> math.min(a(k), b(k))).toMap
    }
    val one = stagesAt(src, "1x")
    val ten = stagesAt(big, bigTag)
    println(s"stage,t1x_sec,t${bigTag}_sec,ratio")
    for (st <- ingestStages)
      println(f"INGEST $st,${one(st)}%.2f,${ten(st)}%.2f,${ten(st) / one(st)}%.1f")
  }
}
