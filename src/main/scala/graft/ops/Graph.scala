package graft.ops

import graft.{OracleSql, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation as declarative Spark plans — the
  * fixpoint pattern class (beyond Dedup's pointer-jumping connected
  * components): damped PageRank by power iteration, each round one
  * join + one aggregation on the edge relation.
  *
  * Cross-engine determinism: float math over a distributed sum is
  * order-dependent, so every per-edge contribution is rounded to 9dp
  * and cast DECIMAL(20,9) BEFORE the sum (exact, order-independent),
  * and each new rank is itself re-rounded to 9dp — the same recipe
  * that made the BM25 and LM scores hash-checkable. The oracle
  * mirrors each iteration as a generated CTE pair, so the driver row
  * is a full hash check of a 5-round fixpoint.
  *
  * Scale posture: ranks and degrees shuffle by node id; the edge
  * relation is the only large operand and it participates once per
  * iteration as a plain equi-join (AQE handles skewed hubs; a
  * production deployment co-partitions edges and ranks with the
  * same bucketing so iterations reuse one layout — see
  * [[Bucketing]]). Iteration count is fixed and small; long chains
  * would checkpoint every ~10 rounds to chop lineage, noted at the
  * call site. The ranks frame is node-cardinality-sized, never
  * collected.
  */
object Graph {

  /** Damped PageRank over a directed edge list (`src`, `dst`), every
    * node assumed to have outdegree ≥ 1 (callers building undirected
    * graphs emit both directions, which guarantees it — no dangling
    * mass). Returns (node, rank DECIMAL(20,9)).
    *
    * Both static operands are pre-partitioned on their join keys and
    * cached that way (serial-driver cache contract documented at
    * Dedup.boundedSharedCounts; Verify/Bench clearCache between
    * queries, library callers own cleanup). Edges are hashed by src
    * once for all rounds; n_total is folded into the cached deg frame
    * once, not re-broadcast per round. The iteration itself is the
    * SAME [[prLoop]] the bucketed sibling uses.
    *
    * SIZE-GATED HYBRID (the [[Dedup.clustersFromEdges]] precedent):
    * the decimal staging makes every surfaced value a pure function of
    * the multiset of inputs — per-edge contributions and per-node
    * updates round through fixed IEEE/9dp-decimal expressions, sums
    * are exact decimals — so a driver-local evaluation of the
    * identical expressions is bit-for-bit the distributed result. Up
    * to [[maxLocalGraphEdges]] edges (integral node ids) the graph is
    * collected once and the rounds run as scalar loops: one job, zero
    * per-round driver synchronization — at bench scale the
    * distributed loop's cost is ~1 s of scheduling per round over a
    * KB-sized frame, not compute. Beyond the gate the distributed
    * loop takes over unchanged (the 100 TB shape; GraphSpec pins
    * local ≡ distributed ≡ the scalar 9dp reference). */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               localGate: Long = maxLocalGraphEdges): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e0.count()
    if (m <= localGate && isIntegral(e0, "src") && isIntegral(e0, "dst")) {
      val out = pageRankLocal(e0, iterations, damping)
      e0.unpersist(blocking = false)
      return out
    }
    val e = e0.repartition(col("src")).persist()
    val degBase = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nTotal = degBase.agg(count(lit(1)).as("n_total"))
    val deg = degBase.crossJoin(broadcast(nTotal))
      .repartition(col("node")).persist()
    // materialize the derived caches (one job fills e AND deg — deg
    // scans through e's persist), then release the gate's raw edge
    // cache BEFORE the loop: holding both kept 2× the largest frame
    // cached for the whole iteration (§5; r13 verdict item 3)
    deg.count()
    e0.unpersist(blocking = false)
    val result = prLoop(e, deg, iterations, damping)
    e.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    result
  }

  /** Driver-budget gate shared by the fixpoint operators' local paths
    * — same derivation as [[Dedup.defaultMaxLocalEdges]]: the peak
    * transient is ~200 bytes/edge (primitive tuple collect, adjacency
    * index arrays, result rows), so budget a quarter of the driver
    * heap at that rate, capped at 2²² edges. */
  private[ops] def maxLocalGraphEdges: Long =
    math.min(1L << 22, Runtime.getRuntime.maxMemory() / 4 / 200)

  private def isIntegral(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Collect an integral two-column frame as primitive (Long, Long)
    * tuples (~32 B/edge — never boxed Rows), the local paths' input. */
  private def collectLongPairs(df: DataFrame, a: String, b: String): Array[(Long, Long)] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(a).cast("long"), col(b).cast("long")).as[(Long, Long)].collect()
  }

  /** Spark's `round(x, 9)` on a double, verbatim (RoundBase semantics:
    * shortest-decimal BigDecimal of the double, HALF_UP at 9dp). */
  private def round9(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(9, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Spark's `CAST(x AS DECIMAL(20,9))` of a ≤9dp double, as the
    * scaled-by-1e9 long (exact for |x| well under 2^52·1e-9 — rank
    * mass is ≤ 1). */
  private def toScaled9(d: Double): Long =
    java.math.BigDecimal.valueOf(d).setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  /** Spark's `CAST(decimal(20,9) AS DOUBLE)` of a scaled-by-1e9 long. */
  private def scaled9ToDouble(v: Long): Double =
    java.math.BigDecimal.valueOf(v, 9).doubleValue()

  /** Driver-local PageRank over collected edges — the EXACT scalar
    * evaluation of [[prRound]]'s staged expressions, in evaluation
    * order: contribution = round9(rank_as_double / outdeg_as_double)
    * cast decimal(20,9); exact decimal sum per dst (scaled longs);
    * update = round9((1−d)/n + d·sum_as_double) cast decimal(20,9).
    * Only called for integral ids (the gate); output ids are cast back
    * to the input type so the schema matches the distributed path. */
  private def pageRankLocal(edges: DataFrame, iterations: Int,
                            damping: Double): DataFrame = {
    val s = edges.sparkSession
    val idType = edges.schema("src").dataType
    val es = collectLongPairs(edges, "src", "dst")
    // CSR over srcs: sort once, slice per node
    java.util.Arrays.sort(es, Ordering.by((t: (Long, Long)) => t._1))
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < es.length) {
      if (nodes.isEmpty || nodes.last != es(i)._1) { nodes += es(i)._1; starts += i }
      i += 1
    }
    starts += es.length
    val n = nodes.length // every node has outdeg ≥ 1 (operator contract)
    val idx = nodes.zipWithIndex.toMap
    var rank = Array.fill(n)(toScaled9(round9(1.0 / n.toDouble)))
    val base = (1.0 - damping) / n.toDouble
    for (_ <- 1 to iterations) {
      val sums = new Array[Long](n) // exact decimal sums, scaled 1e9
      val seen = new Array[Boolean](n)
      var k = 0
      while (k < n) {
        val outdeg = (starts(k + 1) - starts(k)).toDouble
        val c = toScaled9(round9(scaled9ToDouble(rank(k)) / outdeg))
        var j = starts(k)
        while (j < starts(k + 1)) {
          idx.get(es(j)._2).foreach { d => sums(d) += c; seen(d) = true }
          j += 1
        }
        k += 1
      }
      rank = Array.tabulate(n) { d =>
        val sc = if (seen(d)) scaled9ToDouble(sums(d)) else 0.0
        toScaled9(round9(base + damping * sc))
      }
    }
    import s.implicits._
    nodes.indices.map(k =>
        (nodes(k), new java.math.BigDecimal(
          java.math.BigInteger.valueOf(rank(k)), 9)))
      .toDF("node", "rank")
      .select(col("node").cast(idType).as("node"),
        col("rank").cast("decimal(20,9)").as("rank"))
  }

  /** The shared power-iteration loop over prepared (edge, degree)
    * operands — plain and bucketed PageRank differ ONLY in how those
    * operands are laid out. Each round is materialized and
    * lineage-truncated through [[stepCached]] (eager localCheckpoint:
    * constant plan size, partitioning-preserving leaf, superseded
    * round released), so every round's plan is two joins deep over a
    * node-sized leaf. Returns the materialized (node, rank) result. */
  private def prLoop(e: DataFrame, deg: DataFrame,
                     iterations: Int, damping: Double): DataFrame = {
    var p = deg.select(col("node"), col("outdeg"), col("n_total"),
      round(lit(1.0) / col("n_total").cast("double"), 9)
        .cast("decimal(20,9)").as("rank"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      // eager persist, NOT stepCached's localCheckpoint: the bucketed
      // loop's exchange floor rests on InMemoryTableScan preserving
      // the previous round's hash(node) layout — a LogicalRDD leaf
      // under AQE reports the pre-final partitioning and re-exchanges
      // every round (measured +1.6 s on supplier_pagerank_bucketed).
      // Plan growth is linear in the FIXED small iteration count and
      // each round references p once, so the exponential hazard the
      // other loops truncate against does not arise here.
      val stepped = prRound(p, e, deg, damping).persist()
      stepped.count()
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(stepped)
      p = stepped
    }
    // The returned frame is a PROJECTION over the final round's
    // already-materialized cache — re-persisting it would copy the
    // same node-sized data into a second cache entry and pay an extra
    // materialization job for nothing. The final round's persist IS a
    // DataFrame cache, so the repo's between-queries clearCache()
    // contract covers it.
    p.select(col("node"), col("rank"))
  }

  /** PageRank over a BUCKETED edge layout — the co-partitioned
    * exchange-free iteration the plain [[pageRank]]'s scale note
    * promises: edges land once, bucketed+sorted by `src`, and every
    * derived frame inherits that partitioning, so each round's two
    * joins plan with NO ShuffleExchange —
    *  - `deg`: groupBy(src) directly over the bucketed scan (the
    *    scan's hash(src, buckets) already satisfies the aggregate's
    *    required clustering);
    *  - the contribution join p ⋈ edges on node = src: p carries
    *    hash(node, buckets) from the previous round's output and the
    *    scan side is bucketed on src — co-partitioned SMJ/BHJ;
    *  - the update join deg ⋈ Σcontrib on node = dst: deg is cached
    *    with the scan's partitioning and the aggregation's exchange
    *    is planned straight to `buckets` partitions to match it.
    * What remains is exactly ONE ShuffleExchange per round: the
    * groupBy(dst) message aggregation. That one is the
    * information-theoretic floor, not plan debt — PageRank moves rank
    * mass along every edge whose endpoints hash to different
    * partitions (≈ (1−1/P) of edges under any hash layout), so only a
    * graph partitioner with vertex mirroring (the GraphX design)
    * could shrink it further; under hash bucketing the exchange's
    * VOLUME is already minimized by map-side partial aggregation to
    * O(nodes·partitions) partial sums, never O(edges). GraphSpec pins
    * the per-round plan at exactly one ShuffleExchangeExec and zero
    * exchanges above the bucketed scans (vs three node/edge-sized
    * exchanges per round in the unbucketed formulation).
    *
    * Lineage per round is truncated by eager DataFrame persist —
    * NOT the RDD round-trip [[pageRank]] uses, because
    * `createDataFrame(rdd)` erases the output partitioning and every
    * subsequent round would re-exchange p; `InMemoryTableScan`
    * preserves it, which is what keeps round k+1's contribution join
    * exchange-free. Decimal staging is identical to [[pageRank]], so
    * the result (and oracle) are shared bit-for-bit.
    *
    * `buckets` defaults to the session's shuffle partition count so
    * the aggregation exchange lands co-partitioned with the bucketed
    * side at any CPU count (a mismatch costs one extra node-sized
    * exchange per round, nothing more). At 100 TB the bucketed write
    * happens ONCE per ingest and every subsequent job runs rounds over
    * the existing layout — and this method now matches that amortized
    * shape: the layout is landed once per (session, edges plan, input
    * files, buckets) into the session-scoped [[layoutCache]] and every
    * later invocation reuses it (the round-10 verdict's task 2: the
    * registered row previously wrote AND dropped the layout inside
    * every timed invocation, so the amortized path — the one a
    * deployment actually runs — was never measured). The one-time
    * write cost is surfaced separately by the
    * `supplier_pagerank_layout` ingest-tier row
    * ([[supplierPageRankLayout]]). Cached layouts are written once and
    * never rewritten (immutable-once-landed, so the shared-mutable-
    * table hazard the per-invocation drop used to guard against cannot
    * arise); [[dropCachedLayouts]] releases a session's layouts. */
  def pageRankBucketed(s: SparkSession, edges: DataFrame,
                       iterations: Int = 5, damping: Double = 0.85,
                       buckets: Int = -1): DataFrame = {
    // persist the bucketed scan for the duration of the rounds: the
    // loop reads the edge relation once per round, and InMemoryTableScan
    // preserves the scan's hash(src, buckets) partitioning (the same
    // mechanism prLoop's per-round caches rely on), so the rounds read
    // memory instead of re-scanning parquet 5× while the plan keeps its
    // one-exchange floor (GraphSpec pins both)
    val e = cachedLayout(s, edges, buckets).persist()
    val deg = prDegrees(e)
    val result = prLoop(e, deg, iterations, damping)
    deg.unpersist(blocking = false)
    e.unpersist(blocking = false)
    result
  }

  /** Session-scoped bucketed-layout cache (the SkewUtils profile-cache
    * pattern): weak session keys, inner key = (edges plan semanticHash,
    * leaf input-file fingerprint, bucket count) → landed scratch
    * tables. The file fingerprint invalidates on an underlying rewrite
    * the way the profile cache's does; in-memory edge frames
    * fingerprint empty and fall back to the plan hash (LocalRelation
    * hashes its data). Unlike the profile cache — where a collision
    * only mis-sizes salts — a layout hit feeds the RESULT, so a hit
    * must pass more than the 32-bit hash key: each entry keeps its
    * analyzed plan for an exact `sameResult` check. The plan is held
    * via a [[java.lang.ref.WeakReference]] — an analyzed plan over
    * parquet holds `HadoopFsRelation`, which strongly references its
    * SparkSession, so holding it strongly would point the WeakHashMap
    * value back at its own key and defeat GC eviction entirely (a
    * session that ended without [[dropCachedLayouts]] would leak its
    * entry forever). When GC has cleared the plan ref, the hit check
    * falls back to the entry's session-free CANONICAL PLAN WITNESS
    * (captured at land time): a SHA-256 over the canonicalized plan's
    * verbose tree rendering streamed with UNLIMITED field width —
    * `toString`/`treeString()` truncate via
    * `spark.sql.debug.maxToStringFields` and
    * `spark.sql.maxPlanStringLength`, so for wide plans a stored
    * string could add little entropy beyond the 32-bit semanticHash
    * it exists to back up; the streamed digest sees every field of
    * every node regardless of those confs. Witness equality on top of
    * the (semanticHash, fingerprint) key is not a re-land, so the
    * amortized path survives GC. The residual collision bound (two
    * semantically different edge frames agreeing on the 32-bit hash,
    * the file fingerprint, AND a SHA-256 of their full canonical
    * trees) is cryptographically negligible; mismatches land a
    * sibling layout in the same bucket's list instead of silently
    * reusing the wrong edges.
    * GC eviction of a dead session's entries is therefore real again;
    * [[dropCachedLayouts]] remains the deterministic cleanup (and the
    * only path that also drops the scratch FILES). */
  private val layoutCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(Int, Int, Int),
        java.util.List[LayoutEntry]]]())

  /** One landed layout: weak ref to the verification plan, its
    * session-free canonical plan witness (the GC-survivable check —
    * see [[planWitness]]), the scratch table name, and its
    * directory. */
  private final case class LayoutEntry(
      planRef: java.lang.ref.WeakReference[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      witness: String, table: String, loc: String)

  /** Full-fidelity, session-free witness of an analyzed plan: SHA-256
    * over the CANONICALIZED plan's verbose tree, streamed node-by-node
    * into the digest with `maxFields = Int.MaxValue` — immune to the
    * `maxToStringFields`/`maxPlanStringLength` truncation that caps
    * `toString`/materialized `treeString` (a truncated witness would
    * silently collapse wide plans onto each other). */
  private def planWitness(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    p.canonicalized.treeString(
      (s: String) => md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      verbose = true, addSuffix = false, maxFields = Int.MaxValue,
      printOperatorId = false, printOutputColumns = false)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Directory names of live cached layouts — the scratch sweeps
    * (`Harness.release`'s and the benchmark's) skip these: their names
    * hold the appId like all scratch, but unlike per-invocation scratch
    * they are ALIVE between queries by design. */
  private val liveLayoutDirsRef =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
  def liveLayoutDirNames: Set[String] = liveLayoutDirsRef.get()

  private[ops] def layoutCacheSize(s: SparkSession): Int = {
    val m = Option(layoutCache.get(s))
    m.map { chm =>
      val it = chm.values.iterator()
      var n = 0
      while (it.hasNext) n += it.next().size()
      n
    }.getOrElse(0)
  }

  /** Land (or reuse) the bucketed edge layout for `edges` and return
    * its scan. The hit path requires plan `sameResult` while the
    * weakly-held plan is alive, and witness equality after GC has
    * cleared it (see [[layoutCache]]/[[planWitness]]) — never only
    * the hash key; the per-key list is the collision overflow and is
    * synchronized so the write stays once-only. A hit refreshes the
    * entry's plan ref (the newly analyzed plan is as good a witness
    * as the original). */
  private def cachedLayout(s: SparkSession, edges: DataFrame,
                           buckets: Int): DataFrame = {
    val nBuckets = if (buckets > 0) buckets
      else s.sessionState.conf.numShufflePartitions
    val perSession = layoutCache.synchronized {
      var m = layoutCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int),
          java.util.List[LayoutEntry]]()
        layoutCache.put(s, m)
      }
      m
    }
    val newPlan = edges.queryExecution.analyzed
    val key = (newPlan.semanticHash(), SkewUtils.inputFingerprint(edges), nBuckets)
    val bucket = perSession.computeIfAbsent(key, _ =>
      new java.util.ArrayList[LayoutEntry]())
    val table = bucket.synchronized {
      import scala.jdk.CollectionConverters._
      lazy val newWitness = planWitness(newPlan)
      val hit = bucket.asScala.zipWithIndex.find { case (e, _) =>
        Option(e.planRef.get) match {
          case Some(p) => p.sameResult(newPlan)
          case None => e.witness == newWitness
        }
      }
      hit match {
        case Some((e, i)) =>
          if (e.planRef.get == null)
            bucket.set(i, e.copy(planRef =
              new java.lang.ref.WeakReference(newPlan)))
          e.table
        case None =>
          val (t, loc) = writeLayout(s, edges, nBuckets)
          liveLayoutDirsRef.updateAndGet(_ + new java.io.File(loc).getName)
          bucket.add(LayoutEntry(new java.lang.ref.WeakReference(newPlan),
            newWitness, t, loc))
          t
      }
    }
    s.table(table)
  }

  /** Test hook: clear every cached layout's weakly-held verification
    * plan for `s`, simulating GC collection — the canonical-string
    * fallback must then carry the hit (no re-land). */
  private[ops] def clearLayoutPlanRefs(s: SparkSession): Unit = {
    val m = layoutCache.get(s)
    if (m != null) m.values().asScalaValues.foreach { lst =>
      lst.synchronized(lst.asScalaValues).foreach(_.planRef.clear())
    }
  }

  /** Drop every cached layout this session landed (table + files) —
    * the library caller's cleanup hook; Bench/Verify call it once at
    * the end of a run. */
  def dropCachedLayouts(s: SparkSession): Unit = {
    val m = layoutCache.synchronized(layoutCache.remove(s))
    if (m != null) m.values().asScalaValues.foreach { lst =>
      lst.synchronized(lst.asScalaValues).foreach { e =>
        Bucketing.dropLayout(s, e.table, e.loc)
        liveLayoutDirsRef.updateAndGet(_ - new java.io.File(e.loc).getName)
      }
    }
  }

  private implicit class JavaValues[A](
      private val vs: java.util.Collection[A]) {
    def asScalaValues: Seq[A] = {
      val it = vs.iterator(); val b = Seq.newBuilder[A]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  /** Write `edges` bucketed+sorted by src into a per-invocation
    * scratch dir ([[graft.Scratch.dir]]: concurrent callers can never
    * clobber each other), as a table named after the dir. Returns
    * (table name, location). */
  private def writeLayout(s: SparkSession, edges: DataFrame,
                          nBuckets: Int): (String, String) = {
    val loc = graft.Scratch.dir(s, "pr_edges_bq")
    val table = new java.io.File(loc).getName.replaceAll("[^a-zA-Z0-9]", "_")
    (Bucketing.writeLayout(edges.select(col("src"), col("dst")), "src", nBuckets,
      table, loc), loc)
  }

  /** Derive the persisted degree frame from the bucketed edge scan
    * WITHOUT leaving the scan's partitioning (groupBy(src) over the
    * bucketed scan — no exchange; n_total folded in once via a
    * broadcast scalar). */
  private def prDegrees(e: DataFrame): DataFrame = {
    val degBase = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nTotal = degBase.agg(count(lit(1)).as("n_total"))
    degBase.crossJoin(broadcast(nTotal)).persist()
  }

  /** Land `edges` bucketed+sorted by src into a FRESH (uncached)
    * layout and derive the degree frame. Returns (edge scan, persisted
    * deg, and a cleanup closure dropping the scratch table + files) —
    * the plan-pin specs and the layout-write lifecycle row use this;
    * [[pageRankBucketed]] goes through the cache instead. */
  private[ops] def prBucketedOperands(s: SparkSession, edges: DataFrame,
                                      buckets: Int = -1): (DataFrame, DataFrame, () => Unit) = {
    val nBuckets = if (buckets > 0) buckets
      else s.sessionState.conf.numShufflePartitions
    val (table, loc) = writeLayout(s, edges, nBuckets)
    val e = s.table(table)
    (e, prDegrees(e), () => Bucketing.dropLayout(s, table, loc))
  }

  /** One PageRank round over the co-partitioned operands — the frame
    * the spec's exchange-count pin inspects. Decimal staging is
    * bit-identical to [[pageRank]]'s round. */
  private[ops] def prRound(p: DataFrame, e: DataFrame, deg: DataFrame,
                           damping: Double = 0.85): DataFrame = {
    val contrib = p
      .join(e, col("src") === col("node"))
      .select(col("dst"),
        round(col("rank").cast("double") / col("outdeg").cast("double"), 9)
          .cast("decimal(20,9)").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
    deg
      .join(contrib, col("dst") === col("node"), "left")
      .select(col("node"), col("outdeg"), col("n_total"),
        round(lit(1.0 - damping) / col("n_total").cast("double") +
          lit(damping) * coalesce(col("sc"), lit(0).cast("decimal(20,9)")).cast("double"), 9)
          .cast("decimal(20,9)").as("rank"))
  }

  /** Bounded-horizon BFS: minimum hop count from a seed set by
    * `maxHops` rounds of relaxation (extend every known distance one
    * edge, keep the per-node min). Unreached nodes are absent. A
    * production frontier implementation propagates only the delta per
    * round; the full re-relaxation here keeps the plan a pure
    * join+agg chain, fine for small fixed horizons. */
  def shortestHops(edges: DataFrame, sources: DataFrame,
                   maxHops: Int,
                   localGate: Long = maxLocalGraphEdges): DataFrame = {
    // SIZE-GATED HYBRID (the clustersFromEdges precedent): hop counts
    // are exact integers — min over relaxation rounds is a pure
    // function of the edge set — so the local BFS is bit-identical to
    // the distributed loop and removes maxHops× per-round driver
    // synchronization at bench scale. Beyond the gate (or non-integral
    // ids) the distributed relaxation below runs unchanged.
    val e0 = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e0.count()
    if (m <= localGate && isIntegral(e0, "src") && isIntegral(e0, "dst") &&
        isIntegral(sources.select(col("node")), "node")) {
      val out = hopsLocal(e0, sources, maxHops)
      e0.unpersist(blocking = false)
      return out
    }
    // Each round references the previous dist twice (relax + union),
    // so a purely declarative loop doubles the lineage per round;
    // every round is therefore materialized and lineage-truncated
    // (see the in-loop comment). Frames are node-cardinality-sized.
    val e = e0.repartition(col("src")).persist()
    // materialize e, then release the gate's raw edge cache BEFORE
    // the loop (§5; r13 verdict item 3 — at most one edge-sized cache
    // lives across the rounds)
    e.count()
    e0.unpersist(blocking = false)
    var dist = sources.select(col("node"), lit(0L).as("hops"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to maxHops) {
      val stepped = dist.join(e, col("src") === col("node"))
        .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
        .unionAll(dist)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
      // TRUNCATE lineage each round: the union references the previous
      // round TWICE, so keeping the plan declarative doubles the
      // logical tree per round — exponential analysis/explain cost at
      // long horizons even when caching keeps the physical work
      // linear. The round is materialized through a DataFrame persist
      // and rebuilt as a LEAF over its own cache entry (stepCached) —
      // constant plan size, rows stay in the internal cache format
      // (the retired RDD round-trip converted every row to external
      // format and erased the output partitioning), and the superseded
      // round's cache drops as soon as the new round is materialized,
      // so a long horizon holds exactly one node-sized frame at a
      // time.
      val (leaf, cached) = stepCached(stepped, prev)
      prev = cached
      dist = leaf
    }
    e.unpersist(blocking = false)
    // the final round's checkpoint backs the returned leaf frame
    dist
  }

  /** Driver-local BFS — the exact scalar evaluation of the relaxation
    * loop above: min hops within `maxHops` rounds, unreached nodes
    * absent, seed rows kept at 0 even when absent from the edge set.
    * Only called for integral ids (the gate); ids cast back to the
    * input type. */
  private def hopsLocal(edges: DataFrame, sources: DataFrame,
                        maxHops: Int): DataFrame = {
    val s = edges.sparkSession
    val idType = edges.schema("src").dataType
    val es = collectLongPairs(edges, "src", "dst")
    java.util.Arrays.sort(es, Ordering.by((t: (Long, Long)) => t._1))
    val srcs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < es.length) {
      if (srcs.isEmpty || srcs.last != es(i)._1) { srcs += es(i)._1; starts += i }
      i += 1
    }
    starts += es.length
    val idx = srcs.zipWithIndex.toMap
    val seeds = sources.select(col("node").cast("long")).collect().map(_.getLong(0))
    val dist = scala.collection.mutable.LongMap.empty[Long]
    seeds.foreach(dist.getOrElseUpdate(_, 0L))
    var frontier: Array[Long] = dist.keys.toArray
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (u <- frontier; k <- idx.get(u); j <- starts(k) until starts(k + 1)) {
        val v = es(j)._2
        if (!dist.contains(v)) { dist(v) = h.toLong; next += v }
      }
      frontier = next.toArray
    }
    import s.implicits._
    dist.toSeq.sortBy(_._1).toDF("node", "hops")
      .select(col("node").cast(idType).as("node"), col("hops"))
  }

  /** One iterative-loop round, materialized and lineage-truncated via
    * an eager `localCheckpoint` — the shared step of every fixpoint
    * loop here. The returned frame is a constant-size `LogicalRDD`
    * leaf that PRESERVES the materialized plan's output partitioning
    * (so co-partitioned loops keep their exchange floor) and keeps
    * rows in internal format; the superseded round's checkpoint blocks
    * are released through [[org.apache.spark.sql.graftbridge
    * .CheckpointBridge]] once the new round is materialized, so a loop
    * holds exactly one node-sized frame at a time. (The alternatives
    * both measured worse: a growing persist chain re-analyzes a
    * linearly larger tree per round — and an exponentially larger one
    * when a round references its input twice — while the old `df.rdd`
    * + `createDataFrame` round-trip converted every row to external
    * format and erased the partitioning.) `localCheckpoint` trades
    * executor-loss recovery for speed; these loops run node-sized
    * frames, and a reliable-checkpoint deployment would swap the call
    * site, not the loop shape. */
  private def stepCached(stepped: DataFrame,
                         prev: Option[DataFrame]): (DataFrame, Option[DataFrame]) = {
    val cp = stepped.localCheckpoint(true)
    prev.foreach(
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpointed)
    (cp, Some(cp))
  }

  /** Synchronous label propagation over an undirected unique (u < v)
    * edge list: every node starts labeled with its own id; each round
    * it adopts the most frequent label among its neighbors PLUS its
    * own current label (the self-vote — the standard inertia term
    * that damps the 2-cycle oscillation synchronous LPA exhibits on
    * bipartite-ish structure), ties broken toward the SMALLEST label.
    * Deterministic by construction (exact integer counts, total
    * tie-break order), unlike classic asynchronous LPA whose result
    * depends on visit order — determinism is what makes the row
    * oracle-checkable, and the fixed round count is mirrored CTE-for-
    * round in the oracle exactly like [[pageRank]].
    *
    * Scale posture: the adjacency relation (2m rows) is the only
    * large operand; per round it joins the node-sized label frame
    * (shuffle on the label lookup key) and aggregates exact integer
    * votes — map-side combinable. Rounds are lineage-truncated like
    * every iterative op here (the vote union references the previous
    * labels twice, so a declarative loop would double the plan per
    * round). Label frames stay node-sized; nothing is collected. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       localGate: Long = maxLocalGraphEdges): DataFrame = {
    // SIZE-GATED HYBRID: the vote counts are exact integers and the
    // argmax tie-break is a total order, so the local rounds are
    // bit-identical to the distributed loop (GraphSpec pins it);
    // beyond the gate the distributed loop below runs unchanged.
    val e0 = edges.select(col("u"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e0.count()
    if (m <= localGate && isIntegral(e0, "u") && isIntegral(e0, "v")) {
      val out = lpaLocal(e0, rounds)
      e0.unpersist(blocking = false)
      return out
    }
    val e = e0
    val adj = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      // the per-round join looks labels up BY NEIGHBOR: partition once
      // on that key so every round reuses the layout (pageRank's edge
      // contract)
      .repartition(col("nbr")).persist()
    // materialize adj, then release the gate's raw edge cache BEFORE
    // the rounds (§5; r13 verdict item 3)
    adj.count()
    e0.unpersist(blocking = false)
    var lab = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(lab.select(col("node").as("nbr"), col("lbl")), "nbr")
        .select(col("node"), col("lbl"))
        .unionAll(lab.select(col("node"), col("lbl")))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax with min-label tie-break as ONE aggregate:
      // max(struct(c, -lbl)) picks the largest count, then the
      // smallest label — the same total order the oracle's
      // row_number() OVER (ORDER BY c DESC, lbl ASC) walks
      val stepped = votes.groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      // lineage-truncated via stepCached (the vote union references
      // lab twice — a declarative loop would double the plan per
      // round); the leaf keeps the cache's partitioning and internal
      // row format, unlike the retired RDD round-trip
      val (leaf, cached) = stepCached(stepped, prev)
      prev = cached
      lab = leaf
    }
    adj.unpersist(blocking = false)
    // the final round's checkpoint backs the returned leaf frame
    lab
  }

  /** Driver-local synchronous LPA — exact scalar evaluation of the
    * distributed rounds: per node, integer vote counts over neighbor
    * labels plus the self-vote, argmax by (count desc, label asc).
    * Only called for integral ids (the gate). */
  private def lpaLocal(edges: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    val idType = edges.schema("u").dataType
    val es = collectLongPairs(edges, "u", "v")
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
    for ((u, v) <- es) { add(u, v); add(v, u) }
    val nodes = adj.keys.toArray.sorted
    var lbl = scala.collection.mutable.LongMap(nodes.map(n => n -> n): _*)
    for (_ <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      for (n <- nodes) {
        val votes = scala.collection.mutable.LongMap.empty[Long]
        for (nb <- adj(n)) votes(lbl(nb)) = votes.getOrElse(lbl(nb), 0L) + 1L
        votes(lbl(n)) = votes.getOrElse(lbl(n), 0L) + 1L // self-vote
        var (bestL, bestC) = (Long.MaxValue, 0L)
        for ((l, c) <- votes)
          if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
        next(n) = bestL
      }
      lbl = next
    }
    import s.implicits._
    nodes.map(n => (n, lbl(n))).toSeq.toDF("node", "lbl")
      .select(col("node").cast(idType).as("node"),
        col("lbl").cast(idType).as("lbl"))
  }

  /** Core decomposition by H-INDEX ITERATION (Lü, Zhou, Zhang &
    * Stanley, Nature Comm. 2016): every node starts at its degree;
    * each round it becomes the h-index of its neighbors' current
    * values (the largest h such that ≥ h neighbors hold ≥ h). The
    * sequence is monotone non-increasing (h ≤ neighbor count = the
    * initial value) and converges to the CORENESS — the largest k
    * such that the node survives in the k-core. Classic peeling is
    * inherently sequential (remove the min, recompute, repeat — n
    * rounds of driver ping-pong); the h-index form is one join + one
    * bounded window per round for EVERY node simultaneously, the
    * formulation that actually distributes.
    *
    * `rounds` is FIXED and mirrored CTE-for-round in the oracle (the
    * pageRank contract). On real graphs convergence is a handful of
    * rounds (GraphSpec pins rounds-8 ≡ rounds-12 on the testdata
    * surface and exact peeling equality on constructed graphs); a
    * caller on a deeper graph raises `rounds` — the value is exact
    * coreness whenever the fixpoint is reached, an upper bound
    * otherwise. Exact integer arithmetic throughout; the per-node
    * h-index is tie-order-insensitive (equal neighbor values receive
    * consecutive ranks in some order, but max(least(rank, value)) is
    * a function of the multiset). */
  def corenessHIndex(edges: DataFrame, rounds: Int = 8,
                     localGate: Long = maxLocalGraphEdges): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // SIZE-GATED HYBRID: the per-node h-index is an exact integer
    // function of the neighbor-value multiset, so the local rounds are
    // bit-identical to the distributed loop (GraphSpec pins it);
    // beyond the gate the distributed loop below runs unchanged.
    val e0 = edges.select(col("u"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e0.count()
    if (m <= localGate && isIntegral(e0, "u") && isIntegral(e0, "v")) {
      val out = kcoreLocal(e0, rounds)
      e0.unpersist(blocking = false)
      return out
    }
    val e = e0
    val adj = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      .repartition(col("nbr")).persist()
    // materialize adj, then release the gate's raw edge cache BEFORE
    // the rounds (§5; r13 verdict item 3)
    adj.count()
    e0.unpersist(blocking = false)
    var c = adj.groupBy(col("node")).agg(count(lit(1)).as("c"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      val nbrc = adj
        .join(c.select(col("node").as("nbr"), col("c")), "nbr")
        .select(col("node"), col("c"))
      // h-index per node: rank neighbor values descending, take
      // max(min(rank, value)) — a node-bounded window, never global
      val stepped = nbrc
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node")).orderBy(col("c").desc)))
        .groupBy(col("node"))
        .agg(max(least(col("rn").cast("long"), col("c"))).as("c"))
      // lineage-truncated via stepCached — constant plan size per
      // round, internal-format rows, partitioning preserved (the
      // retired RDD round-trip paid external-row conversion and a
      // re-exchange every round)
      val (leaf, cached) = stepCached(stepped, prev)
      prev = cached
      c = leaf
    }
    adj.unpersist(blocking = false)
    // the final round's checkpoint backs the returned leaf frame
    c
  }

  /** Driver-local h-index iteration — exact scalar evaluation of the
    * distributed rounds: every node starts at its degree; each round
    * it becomes max over the descending-sorted neighbor values of
    * min(rank, value). Only called for integral ids (the gate). */
  private def kcoreLocal(edges: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    val idType = edges.schema("u").dataType
    val es = collectLongPairs(edges, "u", "v")
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
    for ((u, v) <- es) { add(u, v); add(v, u) }
    val nodes = adj.keys.toArray.sorted
    var c = scala.collection.mutable.LongMap(
      nodes.map(n => n -> adj(n).length.toLong): _*)
    for (_ <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      for (n <- nodes) {
        val vals = adj(n).map(c).toArray
        java.util.Arrays.sort(vals)
        // descending rank i+1 pairs with vals from the top
        var h = 0L
        var i = 0
        while (i < vals.length) {
          val rank = (i + 1).toLong
          val v = vals(vals.length - 1 - i)
          val m = math.min(rank, v)
          if (m > h) h = m
          i += 1
        }
        next(n) = h
      }
      c = next
    }
    import s.implicits._
    nodes.map(n => (n, c(n))).toSeq.toDF("node", "c")
      .select(col("node").cast(idType).as("node"), col("c"))
  }

  /** Driver row: how much of the trade graph the FIRST supplier
    * (minimum suppkey — a deterministic seed) reaches per hop count,
    * horizon 4. The oracle is a recursive-CTE BFS with the same hop
    * cap — an independent formulation of the same fixpoint. */
  def supplierReachHops(s: SparkSession, dir: String): DataFrame = {
    val seed = Tables(s, dir, "supplier")
      .agg(min(col("s_suppkey")).as("mn"))
      .select((col("mn") * 2 + 1).as("node"))
    shortestHops(tradeEdges(s, dir), seed, maxHops = 4)
      .groupBy(col("hops"))
      .agg(sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
      .orderBy(col("hops"))
  }

  /** The customer↔supplier trade graph: an undirected edge per
    * DISTINCT (customer, supplier) trading pair, encoded into one
    * numeric node space (customers even, suppliers odd), both
    * directions emitted. */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
    pairs.select(col("c").as("src"), col("su").as("dst"))
      .unionAll(pairs.select(col("su").as("src"), col("c").as("dst")))
  }

  /** Driver row: supplier importance in the trade graph after 5
    * PageRank rounds. Surfaced per supplier with the exact decimal
    * rank as a double (a DECIMAL(20,9) converts to the same double in
    * every engine). */
  def supplierPageRank(s: SparkSession, dir: String): DataFrame =
    supplierRanks(s, dir, pageRank(tradeEdges(s, dir), iterations = 5))

  /** Driver row: [[supplierPageRank]] recomputed over the bucketed
    * co-partitioned layout ([[pageRankBucketed]]) — same iterations,
    * same decimal staging, so it SHARES supplier_pagerank's oracle
    * verbatim; bucketing must be output-invisible (only the physical
    * plan changes — one ShuffleExchange per round instead of three,
    * pinned in GraphSpec). Times the AMORTIZED path: the first
    * invocation in a session lands the layout (the cost
    * `supplier_pagerank_layout` surfaces), every later one reuses it —
    * Bench's min-of-2 therefore reads the rounds-over-existing-layout
    * latency, the shape a deployment actually runs per query. */
  def supplierPageRankBucketed(s: SparkSession, dir: String): DataFrame =
    supplierRanks(s, dir, pageRankBucketed(s, tradeEdges(s, dir), iterations = 5))

  /** Ingest-tier row: the ONE-TIME bucketed layout write
    * [[pageRankBucketed]] amortizes, timed in isolation — a fresh
    * unique scratch table per invocation, landed, summarized, and
    * dropped (full lifecycle, like the dedup ingest rows). The result
    * is collected before the drop so the returned frame carries no
    * lineage into the dropped table. */
  def supplierPageRankLayout(s: SparkSession, dir: String): DataFrame = {
    val (e, deg, dropLayout) = prBucketedOperands(s, tradeEdges(s, dir))
    val Array(row) = deg
      .agg(sum(col("outdeg")).as("n_edges"),
        count(lit(1)).as("n_nodes"))
      .select(col("n_edges").cast("long"), col("n_nodes").cast("long"))
      .collect()
    deg.unpersist(blocking = false)
    dropLayout()
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1))).toDF("n_edges", "n_nodes")
  }

  private def supplierRanks(s: SparkSession, dir: String,
                            ranks: DataFrame): DataFrame =
    ranks
      .filter(col("node") % 2 === 1)
      .select(((col("node") - 1) / 2).cast("long").as("s_suppkey"),
        col("rank").cast("double").as("pagerank"))
      .join(broadcast(Tables(s, dir, "supplier")), Seq("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("pagerank"))
      .orderBy(col("s_suppkey"))

  /** Global triangle census of an undirected graph given as unique
    * `(u, v)` edges with `u < v`: node/edge/wedge/triangle counts and
    * the transitivity ratio 3·triangles / wedges (the fraction of
    * open two-paths that close — the global clustering coefficient).
    *
    * Counting uses DEGREE-ORDERED ORIENTATION (Suri & Vassilvitskii,
    * WWW'11 — "the curse of the last reducer"): orient every edge from
    * its lower endpoint to its higher endpoint in the total order
    * π = (degree, id), enumerate wedges only from each node's
    * OUT-neighbors, and close them against the oriented edge set. Every
    * triangle has exactly one π-minimal vertex, so it is counted
    * exactly once, and out-degrees are O(√m) regardless of hub size —
    * a star node of degree 10⁶ generates ZERO wedges from its center
    * (all its edges point INTO it... outward in π... so the quadratic
    * Σdeg² blowup of naive wedge enumeration never happens; the hub's
    * wedges are charged to its low-degree neighbors instead). The
    * oracle is the independent naive formulation — a 3-way self-join
    * on a < b < c — which is safe at oracle scale and shares no code
    * with the oriented plan.
    *
    * Scale posture: the edge list shuffles twice (wedge self-join on
    * the oriented source; wedge-closure equi-join on (a, b)); wedge
    * volume is bounded by Σ outdeg² ≤ O(m^1.5) by the orientation.
    * Degrees are node-cardinality-sized and broadcast. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient by (deg, id): src = the π-smaller endpoint; carry the
    // dst's π key for the wedge ordering below. deg is dim-sized —
    // broadcast both enrichment joins.
    val du = deg.select(col("node").as("u"), col("d").as("du"))
    val dv = deg.select(col("node").as("v"), col("d").as("dv"))
    val oriented = e
      .join(broadcast(du), Seq("u")).join(broadcast(dv), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
          .otherwise(
            struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.dd").as("dd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val x = oriented.select(col("src"), col("dst").as("a"), col("dd").as("da"))
    val y = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a"), col("b"))
    // inner join, NOT semi: different sources produce the same (a, b)
    // wedge and each closes its own triangle; closure edges are unique
    // so the join multiplicity is exactly the wedge multiplicity
    val closure = oriented.select(col("src").as("a"), col("dst").as("b"))
    val tri = wedges.join(closure, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    // singleton frames: broadcast explicitly so the combine is a BNLJ
    // by construction, independent of session autoBroadcast settings
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nw = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).cast("long").as("n_wedges"))
    nn.crossJoin(broadcast(ne)).crossJoin(broadcast(nw)).crossJoin(broadcast(tri))
      .withColumn("transitivity",
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4))
          .otherwise(lit(0.0)))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("transitivity"))
  }

  /** Driver row: triangle census of the supplier STRONG-TIE graph —
    * suppliers are adjacent when they co-ship in MORE than the
    * 90th-percentile number of shared orders. Raw ≥1-shared-order
    * co-occurrence is near-complete on this schema (every pair
    * eventually shares an order, Θ(n²) edges — and a complete graph's
    * triangle census is the degenerate n³/6), so the row thresholds at
    * an adaptive quantile of the pair-count distribution: scale-free
    * (the quantile moves with the data, unlike a fixed count), sparse
    * by construction (≤10% of pairs survive), and semantically the
    * "strong ties" a supply-chain analysis would actually cluster.
    * The threshold is 4dp-rounded on both engines before the compare
    * (the value_quartile_assign percentile recipe). Pair enumeration
    * stays per-order over order-bounded groups. */
  def supplierTriangles(s: SparkSession, dir: String): DataFrame =
    // NOT persisted despite the three references triangleStats makes:
    // the repeated subtree bottoms out in identical exchanges, which
    // ReuseExchange already dedupes — an A/B measured the persist
    // strictly slower (5.8 vs 4.8 s isolated: the cache build is a
    // fourth pass that buys nothing)
    triangleStats(strongTieEdges(s, dir))

  /** The strong-tie supplier graph: unique undirected (u < v) edges
    * between suppliers whose shared-order count exceeds the adaptive
    * 90th percentile of the pair-count distribution (see
    * [[supplierTriangles]]' scaladoc for why raw co-occurrence is
    * degenerate here). Shared by the triangle census and link
    * prediction rows — and by their oracles via [[strongTieCtes]]. */
  private[graft] def strongTieEdges(s: SparkSession, dir: String): DataFrame = {
    // one groupBy(ok) builds each order's sorted distinct supplier
    // set (collect_set dedupes, so no separate DISTINCT pass) and the
    // co-occurrence pairs come from [[PairGen.pairs]]. No hub split:
    // orders hold at most 16 suppliers at sf0.1, and the hub branch
    // would run the set aggregate twice.
    val pairCounts = PairGen.pairs(
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .groupBy(col("ok")).agg(sort_array(collect_set(col("sk"))).as("sks")),
      col("sks"), splitHubs = false)
      .groupBy(col("x").as("u"), col("y").as("v"))
      .agg(count(lit(1)).as("c"))
    // pairCounts is referenced twice (percentile + filter) but NOT
    // persisted: AQE's exchange reuse dedupes the identical (u, v)
    // aggregate subtree at runtime, and an explicit persist measured
    // strictly worse on the triangles consumer (+0.8 s — the cache
    // fill is an extra serial pass; same A/B verdict as r13's
    // triangleStats experiment, numbers in OPTIMIZATION_r14.md).
    val th = pairCounts.agg(
      round(expr("percentile(c, 0.9D)"), 4).as("p90"))
    pairCounts.crossJoin(broadcast(th))
      .filter(col("c") > col("p90"))
      .select(col("u"), col("v"))
  }

  /** li/pc/th/e oracle CTE chain (no leading WITH) producing the
    * strong-tie edge relation `e(u, v)` — the DuckDB twin of
    * [[strongTieEdges]]. */
  private def strongTieCtes: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |pc AS (SELECT a.sk AS u, b.sk AS v, count(*) AS c
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk GROUP BY 1, 2),
       |th AS (SELECT ${OracleSql.round("quantile_cont(c, 0.9)", 4)} AS p90 FROM pc),
       |e AS (SELECT u, v FROM pc CROSS JOIN th WHERE c > p90)""".stripMargin

  /** Link prediction over the strong-tie graph: for every NON-adjacent
    * supplier pair sharing at least one strong-tie neighbor, the
    * neighborhood-Jaccard score |Γa∩Γb| / |Γa∪Γb| — the classic
    * common-neighbors predictor ("who should be trading but isn't
    * yet"), top `topN` by score. Candidates come from the shared-
    * neighbor equi-join (inverted-index shape — only pairs with a
    * common neighbor materialize, never all non-edges), existing
    * edges anti-join out, and degrees broadcast in. The score divides
    * two exact ints identically on both engines; ordering is on the
    * 4dp-rounded score with an (a, b) tie-break. */
  def supplierLinkPrediction(s: SparkSession, dir: String,
                             topN: Int = 20): DataFrame =
    linkPredictionOn(strongTieEdges(s, dir), topN)

  /** Generic variant over any unique undirected (u < v) edge frame.
    *
    * Common-neighbor counting groups the adjacency ONCE by the shared
    * neighbor into sorted neighbor lists whose candidate pairs come
    * from [[PairGen.pairs]], so the wedge set never crosses an
    * exchange; |Γa| = size(ns) falls out of the same neighbor-list
    * frame because adjacency is symmetric. */
  def linkPredictionOn(edges: DataFrame, topN: Int): DataFrame = {
    val e = edges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select(col("u").as("a"), col("v").as("n"))
      .unionAll(e.select(col("v").as("a"), col("u").as("n")))
    val nbr = adj.groupBy(col("n"))
      .agg(sort_array(collect_list(col("a"))).as("ns"))
      // read by pair generation and degrees; cache lifetime: the
      // boundedSharedCounts contract
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = nbr.select(col("n").as("a"), size(col("ns")).cast("long").as("d"))
    val wedges = PairGen.pairs(nbr, col("ns"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
    val cand = wedges.join(e.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_anti")
    cand
      .join(broadcast(deg.select(col("a").as("x"), col("d").as("dx"))), Seq("x"))
      .join(broadcast(deg.select(col("a").as("y"), col("d").as("dy"))), Seq("y"))
      .withColumn("score",
        round(col("cn").cast("double") / (col("dx") + col("dy") - col("cn")), 4))
      .select(col("x").as("supp_a"), col("y").as("supp_b"),
        col("cn").as("common_neighbors"), col("score"))
      .orderBy(col("score").desc, col("supp_a"), col("supp_b"))
      .limit(topN)
  }

  /** Driver row: connected components of the strong-tie supplier
    * graph — per node its component label (component-min suppkey) and
    * the component size. The thresholded graph fragments into many
    * small components (unlike the raw co-occurrence graph, which is
    * near-complete — see [[supplierTriangles]]), so this is the
    * "supplier community" counterpart of the dedup cluster labeling,
    * and it REUSES that machinery: [[Dedup.clustersFromEdges]] is the
    * size-gated union-find / pointer-jumping labeler, so the scale
    * posture is inherited (driver-local up to 2²² edges, O(log
    * diameter) distributed pointer-jumping beyond; the edge relation
    * is the percentile-thresholded pair set, ≪ |suppliers|²). Sizes
    * join back via broadcast — the label table is node-sized but the
    * size table is component-sized (smaller still).
    *
    * Oracle: the same recursive-CTE reachability-min used by the
    * dedup cluster rows ([[Dedup.ccFromPairsSql]]) over the
    * [[strongTieCtes]] edge relation — an independent fixpoint
    * formulation, exact-integer throughout. */
  def supplierComponents(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.clustersFromEdges(
        strongTieEdges(s, dir)
          .select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("s_suppkey"), col("cluster_id").as("component"))
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("comp_size"))
    labels.join(broadcast(sizes), Seq("component"))
      .select(col("s_suppkey"), col("component"), col("comp_size"))
      .orderBy(col("s_suppkey"))
  }

  /** Driver row: LPA communities of the strong-tie supplier graph —
    * per node its 4-round label and the community size. Communities
    * REFINE the connected components ([[supplierComponents]] — LPA
    * labels never cross a component boundary, pinned in GraphSpec):
    * where a component chains two dense groups through a thin bridge,
    * LPA splits them — the community-vs-component gap is exactly the
    * "one near-dup cluster or two topics?" question a curation
    * pipeline asks of its dedup graph. */
  def supplierCommunitiesLpa(s: SparkSession, dir: String): DataFrame = {
    val lab = labelPropagation(strongTieEdges(s, dir), rounds = 4)
    val sizes = lab.groupBy(col("lbl")).agg(count(lit(1)).as("comm_size"))
    lab.join(broadcast(sizes), Seq("lbl"))
      .select(col("node").as("s_suppkey"), col("lbl").as("community"),
        col("comm_size"))
      .orderBy(col("s_suppkey"))
  }

  /** Driver row: coreness of every node of the strong-tie supplier
    * graph plus the size of its core class — the density layering a
    * dedup/cluster audit reads before trusting a community: a high
    * max-coreness cluster is a genuine dense group, a coreness-1 tree
    * is chained evidence. 12 h-index rounds (the sf0.01 graph needs
    * 10, sf0.1 needs 9 — convergence does NOT grow with graph size,
    * it tracks the peel depth; GraphSpec pins 12 ≡ 16 at sf0.01 and
    * exact peeling equality). */
  def supplierKcore(s: SparkSession, dir: String): DataFrame = {
    val c = corenessHIndex(strongTieEdges(s, dir), rounds = 12)
    val sizes = c.groupBy(col("c")).agg(count(lit(1)).as("n_at_coreness"))
    c.join(broadcast(sizes), Seq("c"))
      .select(col("node").as("s_suppkey"), col("c").as("coreness"),
        col("n_at_coreness"))
      .orderBy(col("s_suppkey"))
  }

  /** One h-index oracle round — the generated-CTE twin of the
    * [[corenessHIndex]] loop body (exact integers, nothing staged). */
  private def kcoreIterCtes(t: Int): String =
    s"""r$t AS (SELECT a.node, p.c,
       |        row_number() OVER (PARTITION BY a.node ORDER BY p.c DESC) AS rn
       |        FROM adj a JOIN c${t - 1} p ON p.node = a.nbr),
       |c$t AS (SELECT node, max(least(rn, c)) AS c FROM r$t GROUP BY 1)""".stripMargin

  private def kcoreOracle(rounds: Int): String = {
    val iters = (1 to rounds).map(kcoreIterCtes).mkString(",\n")
    s"""WITH $strongTieCtes,
       |adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
       |c0 AS (SELECT node, count(*) AS c FROM adj GROUP BY 1),
       |$iters,
       |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS n_at_coreness
       |       FROM c$rounds GROUP BY 1)
       |SELECT node AS s_suppkey, CAST(c AS BIGINT) AS coreness, n_at_coreness
       |FROM c$rounds JOIN sz USING (c) ORDER BY s_suppkey""".stripMargin
  }

  /** One LPA oracle round: neighbor votes + the self-vote, then the
    * (count DESC, label ASC) argmax — the generated-CTE twin of the
    * loop body above. Exact integer arithmetic throughout, so unlike
    * the pageRank rounds there is nothing to stage. */
  private def lpaIterCtes(t: Int): String =
    s"""v$t AS (SELECT node, lbl, count(*) AS c FROM (
       |    SELECT a.node, l.lbl FROM adj a JOIN l${t - 1} l ON l.node = a.nbr
       |    UNION ALL SELECT node, lbl FROM l${t - 1}) u GROUP BY 1, 2),
       |l$t AS (SELECT node, lbl FROM (
       |    SELECT node, lbl,
       |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
       |    FROM v$t) r WHERE rn = 1)""".stripMargin

  private def lpaOracle(rounds: Int): String = {
    val iters = (1 to rounds).map(lpaIterCtes).mkString(",\n")
    s"""WITH $strongTieCtes,
       |adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
       |$iters,
       |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size
       |       FROM l$rounds GROUP BY 1)
       |SELECT node AS s_suppkey, lbl AS community, comm_size
       |FROM l$rounds JOIN sz USING (lbl) ORDER BY s_suppkey""".stripMargin
  }

  /** Ranks sit around 1/N — sub-unit, so every oracle round here uses
    * the scale-28 staging variant (see [[OracleSql.roundDecSub]]; the
    * double-rounding flip was first observed on THIS query). */
  private def roundDecSub(expr: String, n: Int): String =
    OracleSql.roundDecSub(expr, n)

  /** One oracle iteration: contributions then the damped sum — the
    * generated-CTE twin of the loop body above, same op order. The
    * jump constant is embedded from the SAME Scala double the Spark
    * side computes (`1.0 - damping` is NOT the double "0.15" — its
    * shortest repr round-trips through the SQL text identically). */
  private def iterCtes(t: Int, damping: Double): String =
    s"""c$t AS (SELECT e.dst AS node,
       |  ${roundDecSub("CAST(p.rank AS DOUBLE) / CAST(p.outdeg AS DOUBLE)", 9)} AS c
       |  FROM p${t - 1} p JOIN edges e ON e.src = p.node),
       |p$t AS (SELECT d.node, d.outdeg,
       |  ${roundDecSub(
            s"CAST(${1.0 - damping} AS DOUBLE) / (SELECT CAST(n_total AS DOUBLE) FROM nt) + " +
            s"CAST($damping AS DOUBLE) * CAST(coalesce(s.sc, 0) AS DOUBLE)", 9)} AS rank
       |  FROM deg d LEFT JOIN (SELECT node, sum(c) AS sc FROM c$t GROUP BY 1) s
       |    ON s.node = d.node)""".stripMargin

  private def pageRankOracle(iterations: Int, damping: Double = 0.85): String = {
    val iters = (1 to iterations).map(iterCtes(_, damping)).mkString(",\n")
    s"""WITH eo AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS su
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT c AS src, su AS dst FROM eo
       |          UNION ALL SELECT su AS src, c AS dst FROM eo),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
       |nt AS (SELECT count(*) AS n_total FROM deg),
       |p0 AS (SELECT node, outdeg,
       |  ${roundDecSub("CAST(1.0 AS DOUBLE) / (SELECT CAST(n_total AS DOUBLE) FROM nt)", 9)} AS rank
       |  FROM deg),
       |$iters
       |SELECT (node - 1) // 2 AS s_suppkey, s_name,
       |  CAST(rank AS DOUBLE) AS pagerank
       |FROM p$iterations JOIN supplier ON (node - 1) // 2 = s_suppkey
       |WHERE node % 2 = 1
       |ORDER BY s_suppkey""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    // Oracle = the independent NAIVE triangle formulation (3-way
    // self-join on a < b < c) — fine at oracle scale, and agreeing
    // with the oriented plan is exactly the check.
    "supplier_link_prediction" -> QueryDef((s, d) => supplierLinkPrediction(s, d), Some(
      s"""WITH $strongTieCtes,
         |adj AS (SELECT u AS a, v AS n FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
         |w AS (SELECT x.a AS xa, y.a AS ya, count(*) AS cn
         |      FROM adj x JOIN adj y ON x.n = y.n AND x.a < y.a GROUP BY 1, 2),
         |cand AS (SELECT xa, ya, cn FROM w ANTI JOIN e ON w.xa = e.u AND w.ya = e.v),
         |sc AS (SELECT xa AS supp_a, ya AS supp_b, CAST(cn AS BIGINT) AS common_neighbors,
         |         ${OracleSql.round("CAST(cn AS DOUBLE) / (dx.d + dy.d - cn)", 4)} AS score
         |       FROM cand JOIN deg dx ON xa = dx.a JOIN deg dy ON ya = dy.a)
         |SELECT supp_a, supp_b, common_neighbors, score FROM sc
         |ORDER BY score DESC, supp_a, supp_b LIMIT 20""".stripMargin)),
    "supplier_triangles" -> QueryDef(supplierTriangles, Some(
      s"""WITH $strongTieCtes,
         |deg AS (SELECT node, count(*) AS d FROM
         |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1),
         |tri AS (SELECT count(*) AS t FROM e e1
         |  JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |agg AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
         |  (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |       THEN ${OracleSql.round("3.0 * n_triangles / n_wedges", 4)}
         |       ELSE 0.0 END AS transitivity
         |FROM agg""".stripMargin)),
    "supplier_components" -> QueryDef(supplierComponents, Some(
      s"""WITH RECURSIVE $strongTieCtes,
         |pairs AS (SELECT u AS doc_a, v AS doc_b FROM e),
         |${Dedup.ccFromPairsSql},
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS comp_size
         |       FROM labels GROUP BY cluster_id)
         |SELECT doc_id AS s_suppkey, cluster_id AS component, comp_size
         |FROM labels JOIN sz USING (cluster_id)
         |ORDER BY s_suppkey""".stripMargin)),
    "supplier_communities_lpa" -> QueryDef(supplierCommunitiesLpa,
      Some(lpaOracle(4))),
    "supplier_kcore" -> QueryDef(supplierKcore, Some(kcoreOracle(12))),
    "supplier_pagerank" -> QueryDef(supplierPageRank, Some(pageRankOracle(5))),
    // same fixpoint over the bucketed layout — shares the oracle
    "supplier_pagerank_bucketed" -> QueryDef(supplierPageRankBucketed,
      Some(pageRankOracle(5))),
    // the one-time layout write the bucketed row amortizes — its edge/
    // node totals are a full hash check against the trade-graph CTEs
    "supplier_pagerank_layout" -> QueryDef(supplierPageRankLayout, Some(
      """WITH eo AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS su
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, su AS dst FROM eo
        |          UNION ALL SELECT su AS src, c AS dst FROM eo)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(count(DISTINCT src) AS BIGINT) AS n_nodes FROM edges""".stripMargin)),
    "supplier_reach_hops" -> QueryDef(supplierReachHops, Some(
      """WITH RECURSIVE eo AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS su
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, su AS dst FROM eo
        |          UNION ALL SELECT su AS src, c AS dst FROM eo),
        |seed AS (SELECT min(s_suppkey) * 2 + 1 AS node FROM supplier),
        |bfs AS (
        |  SELECT node, 0 AS hops FROM seed
        |  UNION
        |  SELECT e.dst AS node, b.hops + 1 AS hops
        |  FROM bfs b JOIN edges e ON e.src = b.node WHERE b.hops < 4),
        |d AS (SELECT node, min(hops) AS hops FROM bfs GROUP BY 1)
        |SELECT CAST(hops AS BIGINT) AS hops,
        |  CAST(count(*) FILTER (WHERE node % 2 = 0) AS BIGINT) AS n_customers,
        |  CAST(count(*) FILTER (WHERE node % 2 = 1) AS BIGINT) AS n_suppliers
        |FROM d GROUP BY 1 ORDER BY hops""".stripMargin)))
}
