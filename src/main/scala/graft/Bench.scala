package graft

/** Benchmark main (driver contract): run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Methodology:
  *  - Each query is fully materialized through the `noop` datasource —
  *    unlike `count()`, which lets Catalyst prune the aggregates/sort
  *    the query exists to measure, noop evaluates every output row.
  *  - One untimed warmup pass at the smallest scale factor reaches
  *    JIT/codegen steady state (cold first-query penalty is 2-7 s).
  *  - Each query is then timed TWICE at the target scale and the min
  *    reported — a single sample is hostage to page-cache state, GC
  *    pauses, and compilation that has nothing to do with the plan
  *    (r1 driver run showed 20× inflation on trivial scan+aggs). When
  *    the two samples disagree by >2×, a THIRD is taken and the min of
  *    three reported (round-9: a both-samples-contended pair put a 4×
  *    reading into the gate artifact; the extra cost is bounded to
  *    disputed rows only).
  *  - `spark.catalog.clearCache()` runs between iterations and between
  *    queries: operators persist() derived signature frames internally,
  *    and Spark's CacheManager matches by logical plan, so without the
  *    clear (a) iteration 2 would measure a cache hit, not the query,
  *    and (b) persisted frames would pile up across the 50+ query
  *    suite, distorting later queries with eviction churn (the r1
  *    driver-vs-snapshot gap on embedding_neardup_pairs).
  *  - A query that throws is reported with its wall time in a separate
  *    "errors" list so a broken query can't silently pose as a timing.
  *  - Untimed housekeeping runs between queries (`reclaim()`): a full
  *    run is ~190 queries × (warmup + 2 iterations) in ONE JVM, and
  *    without it shuffle files and broadcast blocks accumulate until
  *    the ContextCleaner's weak references happen to be collected
  *    (driver full GCs are rare under an 8 GiB heap), while
  *    per-invocation scratch layouts (indices, partitioned writes)
  *    pile up on disk — both squeeze the input parquet out of the
  *    page cache and were the round-6 signature of a ~2× uniform
  *    inflation on the late-alphabet tail of a contended box.
  *    `System.gc()` drives the ContextCleaner's shuffle/broadcast
  *    removal; the scratch sweep, which `Harness.release` runs after
  *    every iteration, drops directories whose results are already
  *    fully materialized through the noop sink (every driver row is
  *    hermetic — nothing reads another query's scratch).
  *  - Warmup skips the streaming-lifecycle rows (the explicit
  *    [[SparkEntry.streamRows]] allowlist): their cost is micro-batch
  *    engine lifecycle, not JIT, so a warmup pass buys nothing and
  *    each one leaves RocksDB state/checkpoint churn behind.
  *  - LIFECYCLE-tier rows are timed THREE times, min reported: having
  *    skipped warmup, their first sample doubles as the scratch/
  *    page-cache warmup — the FS-cache-temperature swing (±15% on the
  *    dedup-ingest family round-over-round with untouched code) was
  *    the dominant noise in every anchor comparison. Query-tier rows
  *    keep min-of-2 with the third sample only on >2× dispute.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a crashed run must not leave the PREVIOUS run's summary for the
    // stdout-fallback parser to misattribute — absent reads loud,
    // stale reads silent
    new java.io.File("target/bench_summary.json").delete()
    val spark = Harness.session("graft-bench")

    // optional args = run only these queries (local triage; the
    // driver's contract invocation passes no args = full suite)
    val wanted = if (args.isEmpty) SparkEntry.queries.keySet else args.toSet
    val unknown = wanted.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.toSeq.sorted.mkString(", ") +
        " — a typo here would silently time the wrong suite")
    val selected = SparkEntry.queries.filter { case (k, _) => wanted(k) }

    // untimed inter-query housekeeping — see the scaladoc above
    def reclaim(): Unit = System.gc()

    val warmDir = "/root/testdata/sf0.001"
    // both lifecycle tiers skip warmup: streaming rows because their
    // cost is engine lifecycle (and each pass leaves RocksDB/checkpoint
    // churn), ingest rows because a warmup pass runs the full layout/
    // index write lifecycle at sf0.001 for nothing — min-of-2 absorbs
    // first-run codegen for both (round-10 verdict nit)
    val warmed = selected.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => SparkEntry.lifecycleRows(name) }
    warmed.zipWithIndex.foreach { case ((_, fn), i) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      Harness.release(spark)
      if ((i + 1) % 25 == 0) reclaim()
    }
    reclaim()

    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = Harness.attempt("bench", name)(fn(spark, sfDir))(
          _.write.format("noop").mode("overwrite").save())
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.release(spark) // outside the timed window
        (dt, ok)
      }
      val (t1, ok1) = once()
      val (t2, ok2) = once()
      // Adaptive THIRD iteration on disagreement (round-9 gate lesson:
      // min-of-2 let a both-iterations-contended 32 s pair stand as
      // supplier_pagerank's official reading — 4× every clean
      // snapshot). When the two samples disagree by >2×, at least one
      // is contention noise, so a third sample is bought for exactly
      // the disputed rows (bounded extra cost) and the min of three
      // reported — a box stall now needs THREE consecutive hits on the
      // same row to reach the artifact.
      //
      // LIFECYCLE rows take the third sample UNCONDITIONALLY (round-12
      // verdict task 7): they skip warmup by design, so their first
      // sample doubles as the scratch/page-cache warmup — the
      // dedup-ingest family swung ±15% round-over-round on FS cache
      // temperature alone with untouched code, dominating every
      // anchor diff. Min-of-3 compares code, not page cache; the
      // extra cost is bounded to the lifecycle tier.
      val disputed = ok1 && ok2 &&
        (SparkEntry.lifecycleRows(name) ||
          math.max(t1, t2) > 2.0 * math.min(t1, t2))
      val (t3, ok3) = if (disputed) once() else (Double.MaxValue, true)
      reclaim() // outside the timed window
      // a failed query reports the -1 sentinel (and lands in "errors")
      // rather than posing as a timing in the map or the total. The
      // dispute-resolving third sample can only IMPROVE a row, never
      // fail it: two valid timings already exist, so a third-run error
      // (transient box state on an already-contended row) falls back to
      // min-of-2 instead of discarding them (round-10 advice).
      val ok = ok1 && ok2
      (name, if (ok) math.min(math.min(t1, t2), if (ok3) t3 else Double.MaxValue)
             else -1.0, ok)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // Tiered totals: the ingest/streaming LIFECYCLE rows each run a
    // full index build + micro-batch/epoch loop (or engine lifecycle)
    // inline per invocation — amortized across batches in production —
    // and their wall time swings ±6 s run-to-run on FS page-cache
    // temperature alone (r8b vs r8c, zero code change). Reporting them
    // beside `total_query` lets round-over-round comparison track QUERY
    // latency instead of scratch-FS state. Tier membership is the
    // EXPLICIT allowlist in [[SparkEntry.lifecycleRows]] (substring
    // matching silently re-tiered any name containing "stream").
    val totalLifecycle =
      results.collect { case (k, v, true) if SparkEntry.lifecycleRows(k) => v }.sum
    val totalQuery = total - totalLifecycle
    val nOk = results.count(_._3)
    // A compact summary line (no per-query map) prints BEFORE AND
    // AFTER the full line: the driver keeps a bounded stdout tail, and
    // the 240+-entry queries map pushes the full line's head out of it
    // ("parsed": null in BENCH_r0*.json) — the trailing compact line is
    // whole inside any tail window, and the leading one serves
    // head-truncated captures. The compact lines carry a DISTINCT
    // metric name ("total_summary") so a parser expecting exactly one
    // {"metric":"total"} line still finds exactly one; their totals are
    // identical to the full line's by construction.
    val summary =
      s"""{"metric":"total_summary","value":$total,"unit":"sec","total_query":$totalQuery,""" +
        s""""total_lifecycle":$totalLifecycle,"n_queries":$nOk,"errors":$errs,""" +
        s""""iterations":2,"lifecycle_iterations":3,"third_on_dispute":true,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","total_query":$totalQuery,"total_lifecycle":$totalLifecycle,"queries":$qs,"errors":$errs,"iterations":2,"lifecycle_iterations":3,"third_on_dispute":true,"sf":"$sfDir"}"""
    println(summary)
    println(full)
    println(summary)
    // Prefix-free file artifact: the driver parses raw sbt stdout where
    // every line carries an "[info] " prefix (BENCH_r9/r10 both landed
    // "parsed": null despite the summary lines) — a parser that misses
    // stdout entirely can read the identical JSON from this file.
    val outFile = new java.io.File("target/bench_summary.json")
    outFile.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(outFile)
    try { w.println(full); w.println(summary) } finally w.close()
    ops.Graph.dropCachedLayouts(spark)
    spark.stop()
  }
}
