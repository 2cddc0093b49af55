package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Executable pins for the plan properties PLAN_NOTES.md and the
  * `plans/` snapshots (graft.tools.PlanSnap) claim — a regression (lost pushdown, global sort sneaking in, a
  * broadcast turning into a shuffle) fails the suite instead of only
  * rotting the committed evidence. */
class PlanPinsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("pricing_summary: shipdate filter pushed into the parquet scan") {
    val p = plan("pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"no shipdate pushdown:\n$p")
  }

  test("posting self-join runs shuffled under AQE with skew-join armed") {
    // Zipfian gram frequencies make the posting self-join the skew
    // candidate; AQE's skew split is the documented first line of
    // defense (Dedup scaladoc), so pin that it is actually armed and
    // that the join is the shuffled (= skew-splittable) shape, not a
    // broadcast that skew handling cannot touch at corpus scale.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    // at sf0.001 every side fits a broadcast, which hides the at-scale
    // join shape — disable auto-broadcast to see the plan a 100 TB
    // corpus would get
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = SparkEntry.queries("dedup_jaccard_pairs")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AdaptiveSparkPlan"), s"no AQE in plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"posting self-join is not a shuffled join:\n$p")
    } finally spark.conf.set(key, old)
  }

  test("ingest index: batch reads prune to the batch's gram buckets") {
    // the whole point of the gb-partitioned posting index: an ingest
    // batch's scans carry PartitionFilters, so index I/O follows the
    // batch's gram coverage, not the corpus size
    val p = plan("dedup_ingest_indexed")
    assert("""PartitionFilters: \[[^\]]*gb""".r.findFirstIn(p).isDefined,
      s"no gb partition pruning in the indexed ingest plan:\n$p")
  }

  test("heavy hitters: candidate set broadcasts into a semi-join; Q6 predicates pushed") {
    val p = plan("heavy_hitter_event_types")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate recount must be a broadcast semi-join:\n$p")
    val q6 = plan("forecast_revenue")
    assert(q6.contains("PushedFilters") && q6.contains("l_shipdate"),
      s"Q6 date range not pushed:\n$q6")
  }

  test("top_orders: TakeOrderedAndProject, never a global sort") {
    val p = plan("top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-N:\n$p")
  }

  test("user_first_last: partial then final hash aggregation") {
    val p = plan("user_first_last")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"no map-side partial aggregate:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("shipping_priority: customer segment filter pushed, joins broadcast") {
    val p = plan("shipping_priority")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(p.contains("c_mktsegment"), s"segment filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("Ivf seed pick: distributed top-k, no partition-less Window") {
    import org.apache.spark.sql.functions.col
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val p = graft.ops.Ivf.initCentroidsPlan(vecs, 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k seed pick:\n$p")
    assert(!p.contains("Window"), s"partition-less Window in train seeding:\n$p")
  }

  test("contamination: eval grams broadcast, corpus side never shuffles for the join") {
    val p = plan("pipeline_contamination")
    assert(p.contains("BroadcastHashJoin"), s"eval-gram side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams shuffled into an SMJ:\n$p")
  }

  test("vocab induction and KMV: bounded top-k, never a global sort") {
    val pv = plan("vocab_oov_rate")
    assert(pv.contains("TakeOrderedAndProject"), s"vocab not a bounded top-V:\n$pv")
    assert(pv.contains("BroadcastHashJoin"), s"vocab not broadcast back:\n$pv")
    val pk = plan("sketch_kmv_users")
    assert(pk.contains("TakeOrderedAndProject"), s"KMV k-smallest not bounded:\n$pk")
  }

  test("doc_chunks: pure per-row generate, no shuffle at all") {
    val p = plan("doc_chunks")
    assert(p.contains("Generate"), s"no generate:\n$p")
    // the single Exchange allowed is the output orderBy's range
    // partitioning; the chunking itself must not shuffle (full-plan
    // assertion — slicing at the first "Sort" was vacuous, the root
    // sort prints before everything)
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking shuffles:\n$p")
  }

  test("mixture balance: count-derived rates broadcast to the scan side") {
    val p = plan("mixture_balance")
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("similarity/dedup: no unbounded cartesian products anywhere") {
    for (name <- Seq("dedup_jaccard_pairs", "dedup_minhash_lsh",
        "embedding_neardup_pairs", "ann_lsh_topk", "embedding_dbscan")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name BNLJ:\n$p")
    }
  }

  test("pii scrub: per-row codegen kernels, zero shuffle before the output sort") {
    val p = plan("text_pii_scrub")
    // the ONLY permitted exchange is the output orderBy's range
    // partitioning — any hash exchange means the scrub shuffles.
    // (Asserted over the FULL plan string: slicing at the first
    // "Sort" is vacuous, the root sort prints before everything.)
    assert(!p.contains("Exchange hashpartitioning"), s"scrub shuffles:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"scrub fell off codegen onto a UDF:\n$p")
  }

  test("bloom decontamination: confirm join broadcast, corpus never SMJ-shuffled") {
    val p = plan("pipeline_contamination_bloom")
    assert(p.contains("BroadcastHashJoin"), s"confirm join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams shuffled into an SMJ:\n$p")
  }

  test("corpus shuffle order: range exchange only, no global-window rank") {
    val p = plan("corpus_shuffle_order")
    assert(!p.contains("Window"), s"partition-less Window rank:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"no range partitioning for the total order:\n$p")
  }

  test("line dedup and keep-best dedup: no cartesian, hash-keyed joins only") {
    for (name <- Seq("pipeline_line_dedup", "pipeline_dedup_keep_best")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name BNLJ:\n$p")
    }
  }

  test("bm25: query terms broadcast into the posting join, no cartesian") {
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin"), s"query-term side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_"), s"tf aggregation not map-side partial:\n$p")
  }

  test("pmi: pairs generated per-row (Generate), never by self-joining tokens") {
    val p = plan("text_pmi_pairs")
    assert(p.contains("Generate"), s"no per-row pair generate:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-N is a global sort:\n$p")
  }

  test("lm surprisal: corpus text never shuffles, only (doc, term) triples") {
    val p = plan("text_lm_surprisal")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the exploded token column is aggregated before any join; the raw
    // text column must not appear in any exchange
    assert(!"Exchange [^\\n]*\\btext\\b".r.findFirstIn(p).isDefined,
      s"raw text shuffles:\n$p")
  }

  test("semantic dedup: within-cell self-join is hash-keyed, no cartesian") {
    val p = plan("embedding_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("dynamic partition pruning fires on a partitioned-layout join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the cid-partitioned persisted-index layout (Ivf.writeIndex's
    // shape): joining it to a FILTERED small dimension must prune the
    // fact scan at runtime via DPP — the mechanism that makes
    // partitioned layouts pay off when the cell list is not a literal
    val dir2 = "target/scratch/dpp_demo"
    (0L until 20000L).map(i => (i, i % 16, "p" * 64 + i))
      .toDF("id", "cid", "payload")
      .write.mode("overwrite").partitionBy("cid").parquet(dir2)
    val fact = spark.read.parquet(dir2)
    // the dim must be a real scan: a LocalRelation constant-folds its
    // filter away and DPP's selective-predicate detection never sees it
    (0L until 16L).map(i => (i, i % 4)).toDF("cid", "grp")
      .write.mode("overwrite").parquet("target/scratch/dpp_dim")
    val dim = spark.read.parquet("target/scratch/dpp_dim")
    val joined = fact.join(dim.filter(col("grp") === 1), Seq("cid"))
    val plan = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
    assert(joined.count() == 4 * 1250)
  }

  test("span dedup: spans shuffle as hashes, the text column never does") {
    val p = plan("dedup_span_stats")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!"Exchange [^\\n]*\\btext\\b".r.findFirstIn(p).isDefined,
      s"raw text shuffles:\n$p")
  }

  test("transition matrix: totals broadcast back, no second fact-sized shuffle") {
    val p = plan("event_transition_matrix")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals must broadcast into the counts join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in transitions:\n$p")
  }

  test("rolling distinct: active-day grid joins as a broadcast semi-join") {
    val p = plan("rolling_distinct_users")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"day grid must broadcast-semi-join the contributions:\n$p")
  }

  test("zorder stats: scalar bounds broadcast, binning stays one aggregate") {
    val p = plan("zorder_layout_stats")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"dim bounds must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("bpe pairs: generated per-row, top-32 via TakeOrdered not a global sort") {
    val p = plan("bpe_merge_pairs")
    assert(p.contains("Generate"), s"pairs must generate per-row:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-32 must be bounded:\n$p")
  }

  test("pageRank: per-round materialization — final plan is iteration-count-independent") {
    // The power-iteration contract (Graph.pageRank, round 10: the
    // eager-persist prLoop shared with the bucketed sibling): every
    // round materializes through a persisted DataFrame, so the
    // RETURNED plan is the same constant-size shape for ANY iteration
    // count — an InMemoryTableScan leaf plus the final projections,
    // never a nested 5-round join chain (the round-6 shape whose deep
    // scheduling chain was hypersensitive to box contention; the
    // rounds-7-9 RDD round-trip fixed the shape but its per-round
    // driver-synchronized rdd.count() re-introduced the fragility in
    // the round-9 gate). Checked in a plain non-adaptive session with
    // auto-broadcast off (the 100 TB posture: nothing auto-broadcasts).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // localGate = 0: this pin is about the DISTRIBUTED loop's shape
    // (the r13 size-gated local path returns a LocalTableScan whose
    // constant shape is trivially true)
    def shape(iters: Int): Seq[String] = {
      val df = ops.Graph.pageRank(ops.Graph.tradeEdges(s2, dir), iters,
        localGate = 0L)
      df.queryExecution.executedPlan.collect { case p => p.nodeName }
    }
    val two = shape(2)
    val four = shape(4)
    assert(two == four,
      s"final plan grows with iteration count:\n2 -> $two\n4 -> $four")
    // round 8: the returned frame is a DATAFRAME cache (so
    // spark.catalog.clearCache() — the repo's cleanup contract —
    // covers it; a raw RDD root leaked one block-manager entry per
    // call). The constant-shape property above still holds: the cache
    // roots on the loop's materialized LogicalRDD either way.
    assert(two.exists(n => n.contains("InMemoryTableScan") ||
        n.contains("ExistingRDD") || n.contains("RDDScan")),
      s"final plan does not root on a materialized frame: $two")
    // the full driver row on top adds only the broadcast dim join and
    // the closing sort — still a handful of nodes, zero wide joins
    // the registered row takes the size-gated LOCAL path at this
    // scale; its plan is the local relation + broadcast dim join +
    // closing sort — the exchange bound below holds a fortiori
    val row = SparkEntry.queries("supplier_pagerank")(s2, dir)
    val shuffles = row.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"${shuffles.size} exchanges in the final row plan:\n${row.queryExecution.executedPlan}")
  }

  test("cdc chunks: postings shuffle as hashes, the text column never does") {
    val p = plan("dedup_cdc_chunks")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!"Exchange [^\\n]*\\btext\\b".r.findFirstIn(p).isDefined,
      s"raw text shuffles:\n$p")
  }

  test("triangles: degree enrichment broadcasts, no cartesian in the wedge joins") {
    val p = plan("supplier_triangles")
    assert(p.contains("BroadcastHashJoin"),
      s"node degrees must broadcast into the orientation join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("novelty: first-seen join reuses the posting key, text never shuffles") {
    val p = plan("doc_novelty")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!"Exchange [^\\n]*\\btext\\b".r.findFirstIn(p).isDefined,
      s"raw text shuffles:\n$p")
  }

  test("MAD outliers: median and MAD frames broadcast back to the scan") {
    val p = plan("value_mad_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type robust stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("KL divergence: vocab induction bounded, model relation broadcast") {
    val p = plan("doc_kl_divergence")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V vocabulary must be a bounded top-k, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the class model must broadcast into the scoring join:\n$p")
  }

  test("link prediction: no cartesian — candidates only via shared neighbors") {
    val p = plan("supplier_link_prediction")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N must be bounded:\n$p")
  }

  test("audio fingerprints: derived in the scan stage, no shuffle before the sort") {
    val p = plan("media_audio_fingerprint")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0,
      s"sign codes must not hash-shuffle (only the output range sort):\n$p")
  }

  test("seasonal decomposition: day-of-week means broadcast back") {
    val p = plan("daily_value_seasonal")
    assert(p.contains("BroadcastHashJoin"),
      s"seasonal means must broadcast into the day frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("DSIR: bounded log-ratio model broadcast, corpus never SMJ-shuffled") {
    val p = plan("doc_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤256-row log-ratio table must broadcast into the scoring join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side shuffled into an SMJ:\n$p")
  }

  test("winsorized stats: per-type bounds broadcast into the clamping pass") {
    val p = plan("value_winsorized")
    assert(p.contains("BroadcastHashJoin"), s"bounds not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"events shuffled into an SMJ:\n$p")
  }

  test("perplexity buckets: tercile cuts broadcast over the score frame") {
    val p = plan("doc_perplexity_buckets")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"cuts not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("quality calibration: source-keyed window, no corpus-wide single partition") {
    val p = plan("quality_calibrated")
    assert(p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global single-partition window sneaked in:\n$p")
  }

  test("PCA power: result is a bounded local relation — iterations never became jobs") {
    // the corpus pays exactly ONE distributed Gram pass inside the
    // builder; the returned frame must be driver-built (k·d rows), so
    // a regression back to relational per-round shuffles shows up as
    // an Exchange/Join in this plan
    val p = plan("embedding_pca_power")
    assert(p.contains("LocalTableScan"), s"not a local relation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("ShuffledHashJoin") &&
      !p.contains("SortMergeJoin"), s"iteration shuffles leaked into the result:\n$p")
  }

  test("cdc pairs: coverage join is hash-keyed on chunk hashes, text never shuffles") {
    val p = plan("dedup_cdc_pairs")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!"Exchange [^\\n]*\\btext\\b".r.findFirstIn(p).isDefined,
      s"raw text shuffles:\n$p")
    // the chunk-kernel lineage must execute once: both self-join sides
    // and the size frame read the persisted posting cache
    assert(p.contains("InMemoryTableScan"), s"posting cache missing:\n$p")
  }

  test("multi-signal clusters: all four generator legs stay cartesian-free") {
    val p = plan("dedup_multi_signal_clusters")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("top n-grams: TakeOrdered cut, gram strings absent from the count exchange") {
    val p = plan("corpus_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), s"top-K must not global-sort:\n$p")
    // the count-side shuffle carries only the 8-byte hash; strings
    // appear past the broadcast winner set only
    assert(!"Exchange hashpartitioning\\([^\\n]*gram".r.findFirstIn(p).isDefined,
      s"gram strings in the count exchange:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"winner set must broadcast into the resolve scan:\n$p")
  }

  test("LPA and coreness: final plans are iteration-count-independent") {
    // both round-8 iterative graph ops follow the pageRank lineage
    // contract: every round materializes through a persisted RDD, so
    // the returned plan is the same constant-size shape at ANY round
    // count and roots on a materialized frame
    import org.apache.spark.sql.functions.col
    val e = ops.Graph.strongTieEdges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def shapes(f: Int => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      def nodes(r: Int) = f(r).queryExecution.executedPlan.collect { case p => p.nodeName }
      (nodes(2), nodes(5))
    }
    // localGate = 0 forces the distributed loops (the r13 local path
    // returns a LocalTableScan — trivially constant-shape)
    val (l2, l5) = shapes(r => ops.Graph.labelPropagation(e, rounds = r,
      localGate = 0L))
    assert(l2 == l5, s"LPA plan grows with round count:\n2 -> $l2\n5 -> $l5")
    val (c2, c5) = shapes(r => ops.Graph.corenessHIndex(e, rounds = r,
      localGate = 0L))
    assert(c2 == c5, s"coreness plan grows with round count:\n2 -> $c2\n5 -> $c5")
    assert(l2.exists(n => n.contains("InMemoryTableScan") ||
      n.contains("ExistingRDD") || n.contains("RDDScan")),
      s"LPA result does not root on a materialized frame: $l2")
    e.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  test("shipping survival: result is a bounded local relation — the fold never became jobs") {
    // the corpus reduces to the delay-day frame inside the builder;
    // the returned curve must be driver-built (≤ span-days rows), so
    // a regression to per-step distributed work shows as Exchange/Join
    val p = plan("shipping_survival")
    assert(p.contains("LocalTableScan"), s"not a local relation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), s"fold work leaked into the result:\n$p")
  }

  test("hilbert stats: scalar bounds broadcast, curve code computed scan-stage") {
    val p = plan("hilbert_layout_stats")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"dim bounds must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
    // the native kernel shows up as a plain projected expression —
    // whole-stage codegen, no UDF barrier
    assert(p.contains("hilbert_index"), s"native kernel missing from plan:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"kernel fell back to a UDF barrier:\n$p")
  }

  test("streaming KMV: drained snapshot is local, state operator ran in the engine") {
    // running the row executes the one-shot stream; the returned frame
    // is the drained memory-sink snapshot (bounded — one row), and the
    // recorded progress must show the aggregate actually held
    // streaming state (vs silently planning as a stateless pass-through)
    val df = SparkEntry.queries("sketch_kmv_users_streaming")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"), s"drained snapshot not local:\n$p")
    val prog = graft.streaming.StreamingPipeline.lastOneShotProgress
      .getOrElse(fail("one-shot run recorded no progress"))
    assert(prog.stateOperators.nonEmpty, "no stateful operator in the KMV stream")
  }
}
